# Developer/judge entry points. The driver's own gates run bench.py and
# __spark_entry__ directly; these targets mirror them locally.

SF_DIR ?= /root/testdata/sf0.01

.PHONY: test verify sweep bench scale perf-ab all

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

# A/B one benchmark workload: REV (checked out in a temporary git worktree)
# against the working tree, runs alternating per seed; prints every run's
# end-to-end metrics and the per-side medians (see tools/perf_ab.py)
REV ?= HEAD
WORKLOAD ?= serve_protocol
SEEDS ?= 1 2 3
perf-ab:
	python3 tools/perf_ab.py --rev $(REV) --workload $(WORKLOAD) --seeds $(SEEDS)

all: test sweep bench
