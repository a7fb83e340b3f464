"""The repository's benchmark: named workloads, end-to-end metrics with a
correctness verdict, and a traced run for per-layer metrics.
See ``perfbench/README.md``; the entry point is ``perfbench/run.py``."""
