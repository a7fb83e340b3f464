"""Run one benchmark workload and print its verdict and metrics.

    python3 perfbench/run.py --workload serve_protocol --seed 1 \\
        --seconds 10 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` measures an untraced window and then a traced one of
the same length, and prints the per-layer metrics with the tracing overhead.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("serve_protocol", "recipient_compute", "publish_follow")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.package_present():
        print(f"perfbench: no {harness.PACKAGE} package under {harness.ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(harness.ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sizing = harness.configure_environment(run_dir)
    context = harness.host_context(args.seed, sizing)
    from perfbench import compute, follow, metrics, serve

    workload = {"serve_protocol": serve, "recipient_compute": compute,
                "publish_follow": follow}[args.workload]

    try:
        # the first run in a checkout builds every workload's cache, so no
        # other run pays for a build
        for mod in (serve, follow, compute):
            mod.ensure_cache(run_dir)
        result = workload.run(args.seed, args.seconds, bool(args.trace),
                              run_dir)
        units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
        harness.emit(result, units, context)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
