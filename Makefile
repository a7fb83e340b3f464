# Developer/judge entry points. The driver's own gates run bench.py and
# __spark_entry__ directly; these targets mirror them locally.

SF_DIR ?= /root/testdata/sf0.01

.PHONY: test verify sweep bench scale all

# metadata-plane scale proof: synthetic 1M-file manifest + 2k-commit CDF
# log; wall times + plan assertions (see SCALE.md "Measured metadata plane")
scale:
	python tools/scale_bench.py

test:
	python -m pytest tests/ -q

# the Tier-1 verify command from ROADMAP.md (plus --durations=25, so the
# log carries the slowest tests), then the benchmark's rule tests
verify:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider --durations=25 && \
	python3 -m pytest perfbench/tests -q

# full oracle sweep: every queries() entry vs its DuckDB oracle (the
# driver samples 50; this is the 100% insurance run — see SWEEP_r03.log)
sweep:
	python tools/check_correctness.py $(SF_DIR)

bench:
	python bench.py

all: test sweep bench
