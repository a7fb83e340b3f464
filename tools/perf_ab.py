"""A/B one benchmark workload: a git revision against the working tree.

    python3 tools/perf_ab.py --rev HEAD~1 --workload serve_protocol \\
        --seeds 1 2 3

(or ``make perf-ab REV=HEAD~1 WORKLOAD=serve_protocol SEEDS="1 2 3"``).

Checks ``--rev`` out in a temporary ``git worktree`` (under the system
temp directory, ``/tmp`` unless ``TMPDIR`` says otherwise), then runs
``python3 perfbench/run.py --workload W --seed S --seconds N`` once per seed
in that worktree and once in the working tree, alternating which side runs
first from seed to seed so host drift falls on both sides. ``N`` is the
``run_seconds`` of ``BENCHMARK.json``. Prints each run's end-to-end metrics
(the ``end_to_end`` names of ``BENCHMARK.json``) as it finishes, then the
per-side medians and the change/rev ratio of each median; ``--out DIR``
keeps each run's full output. The worktree is removed at the end. Each
side builds its own ``.perfbench_cache`` on its first run, outside the
measured window.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(checkout: str, workload: str, seed: int, seconds: float,
         out_file: str | None) -> dict:
    """One benchmark run in ``checkout``; its last stdout line (JSON)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, capture_output=True, text=True)
    if out_file is not None:
        with open(out_file, "w") as f:
            f.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"perfbench failed in {checkout} (seed {seed}, "
                         f"exit {proc.returncode})")
    return json.loads(lines[-1])


def _fmt(value: float) -> str:
    return f"{value:.4g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--out", help="directory to keep each run's full "
                    "stdout in, as <side>-seed<N>.out (the detail line "
                    "holds the per-kind latencies)")
    args = ap.parse_args(argv)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"]]
    sha = subprocess.run(["git", "rev-parse", "--short", args.rev],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    worktree = tempfile.mkdtemp(prefix=f"perf-ab-{sha}-")
    os.rmdir(worktree)  # git worktree add creates it
    subprocess.run(["git", "worktree", "add", "--detach", "--quiet",
                    worktree, sha], cwd=ROOT, check=True)
    sides = {"rev": worktree, "change": ROOT}
    values: dict[str, dict[str, list[float]]] = {
        side: {n: [] for n in names} for side in sides}
    try:
        for i, seed in enumerate(args.seeds):
            order = ["rev", "change"] if i % 2 == 0 else ["change", "rev"]
            for side in order:
                out_file = (os.path.join(args.out, f"{side}-seed{seed}.out")
                            if args.out else None)
                out = _run(sides[side], args.workload, seed,
                           bench["run_seconds"], out_file)
                metrics = {n: out["metrics"][n]["value"] for n in names}
                for n, v in metrics.items():
                    values[side][n].append(v)
                print(f"seed {seed} {side:6s} "
                      + " ".join(f"{n}={_fmt(v)}" for n, v in metrics.items())
                      + f" correct={out['correct']}", flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", worktree],
                       cwd=ROOT, check=False)
    print(f"median over seeds {' '.join(map(str, args.seeds))} "
          f"({args.workload}; rev = {sha}, change = working tree):")
    for n in names:
        med = {s: statistics.median(values[s][n]) for s in sides}
        ratio = (f"{med['change'] / med['rev']:.3f}" if med["rev"]
                 else "n/a")
        print(f"  {n:14s} rev {_fmt(med['rev']):>10s}  "
              f"change {_fmt(med['change']):>10s}  change/rev {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
