"""Process-tree CPU of warm ``recipient_compute`` passes, split by layer.

    python3 tools/cpu_split.py --passes 3 --out CPU_SPLIT.json

Runs the benchmark's compute queries (``perfbench.metrics.COMPUTE_QUERIES``)
over its cached fixtures, the way ``perfbench/compute.py`` does: one cold
pass, then ``--passes`` warm passes, each query built by ``fn(spark,
sf_dir)`` and forced with ``toPandas``. Around every query it reads
``/proc`` for this process tree only (this driver, the Spark JVM it
launched and the Python processes the JVM forked) and attributes the CPU
seconds to:

``driver_python``   the Python driver process, all its threads
``python_workers``  every Python process under the JVM (the PySpark
                    daemon and its workers; workers that exited count
                    through the daemon's reaped-children time)
``jvm.jit``         JIT compiler threads (``C1/C2 CompilerThread``)
``jvm.executor``    executor task threads (``Executor task launch``)
``jvm.gc``          GC worker threads and the VM thread (safepoints)
``jvm.scheduler``   scheduler, RPC, heartbeat and listener threads
``jvm.py4j``        the gateway threads that analyse, optimise and plan
                    queries on the Python driver's behalf
``jvm.other``       every other JVM thread, and threads that exited
                    during the query

The sum is the process tree's CPU (``perfbench.proc.tree_cpu_s``), the
quantity behind the benchmark's ``cpu_s_per_op``. Prints one JSON object
and writes it to ``--out`` when given. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, proc  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")

# first match wins; thread names are truncated to 15 characters
_THREAD_GROUPS = [
    ("jvm.jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("jvm.executor", ("Executor task l",)),
    ("jvm.gc", ("GC Thread", "G1 ", "VM Thread")),
    ("jvm.scheduler", ("dag-scheduler", "task-result", "dispatcher",
                       "listener", "heartbea", "rpc-", "netty",
                       "map-output", "block-manager", "shuffle-")),
    ("jvm.py4j", ("Thread-",)),
]
GROUPS = (["driver_python", "python_workers"]
          + [g for g, _ in _THREAD_GROUPS] + ["jvm.other"])


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    end = raw.rindex(")")
    return raw[raw.index("(") + 1:end], raw[end + 2:].split()


def _cpu(fields: list[str], children: bool) -> int:
    """utime + stime (fields 14-15), plus cutime + cstime when
    ``children``, in clock ticks."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def _thread_group(name: str) -> str:
    for group, prefixes in _THREAD_GROUPS:
        if any(name.startswith(p) or p in name for p in prefixes):
            return group
    return "jvm.other"


def sample(driver: int) -> dict:
    """Cumulative ticks of the tree: per process, and per JVM thread."""
    out = {"proc": {}, "threads": {}, "jvm": None}
    for pid in proc.tree_pids(driver):
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        comm, fields = st
        out["proc"][pid] = (comm, fields)
        if comm == "java" and out["jvm"] is None:
            out["jvm"] = pid
    jvm = out["jvm"]
    if jvm is not None:
        try:
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:
            tids = []
        for tid in tids:
            st = _stat(f"/proc/{jvm}/task/{tid}/stat")
            if st is not None:
                out["threads"][int(tid)] = (st[0], _cpu(st[1], False))
    return out


def split(before: dict, after: dict, driver: int) -> dict[str, float]:
    """CPU seconds spent between two samples, by group."""
    ticks = dict.fromkeys(GROUPS, 0)
    jvm = after["jvm"]
    for pid, (comm, fields) in after["proc"].items():
        old = before["proc"].get(pid)
        if pid == driver:
            ticks["driver_python"] += _cpu(fields, False) - (
                _cpu(old[1], False) if old else 0)
        elif pid == jvm:
            # reaped children of the JVM are Python daemons and workers
            ticks["python_workers"] += (
                _cpu(fields, True) - _cpu(fields, False)
                - ((_cpu(old[1], True) - _cpu(old[1], False)) if old else 0))
        else:
            ticks["python_workers"] += _cpu(fields, True) - (
                _cpu(old[1], True) if old else 0)
    if jvm is not None:
        seen = 0
        for tid, (name, now) in after["threads"].items():
            old = before["threads"].get(tid)
            spent = now - (old[1] if old and old[0] == name else 0)
            ticks[_thread_group(name)] += spent
            seen += spent
        fields = after["proc"][jvm][1]
        old = before["proc"].get(jvm)
        total = _cpu(fields, False) - (_cpu(old[1], False) if old else 0)
        ticks["jvm.other"] += max(0, total - seen)   # exited threads
    return {g: t / _TICK for g, t in ticks.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--passes", type=int, default=3,
                    help="warm passes measured after the cold one")
    ap.add_argument("--out", help="also write the JSON here")
    args = ap.parse_args(argv)
    run_dir = os.path.join(harness.ROOT, ".perfbench_run",
                           f"cpu_split-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    harness.configure_environment(run_dir)
    from delta_sharing_spark import workloads
    from perfbench import compute
    from perfbench.metrics import COMPUTE_QUERIES

    try:
        src = compute.ensure_cache(run_dir)
        spark = harness.start_spark(run_dir)
        harness.warm_up(spark)
        compute.build_fixture(spark, src)
        driver = os.getpid()
        passes = []
        for n in range(args.passes + 1):
            queries = {}
            t_pass, cpu_pass = time.perf_counter(), proc.tree_cpu_s(driver)
            for q in COMPUTE_QUERIES:
                s0, t0 = sample(driver), time.perf_counter()
                workloads.QUERIES[q](spark, src).toPandas()
                wall = time.perf_counter() - t0
                queries[q] = {"wall_s": wall,
                              **split(s0, sample(driver), driver)}
            record = {"pass": "cold" if n == 0 else f"warm{n}",
                      "wall_s": time.perf_counter() - t_pass,
                      "tree_cpu_s": proc.tree_cpu_s(driver) - cpu_pass,
                      "split_s": {g: sum(v[g] for v in queries.values())
                                  for g in GROUPS},
                      "queries": queries}
            passes.append(record)
            print(json.dumps(_rounded({k: record[k] for k in (
                "pass", "wall_s", "tree_cpu_s", "split_s")})),
                file=sys.stderr)
        harness.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    warm = passes[1:]
    out = {
        "queries": COMPUTE_QUERIES,
        "warm_mean_split_s": {g: sum(p["split_s"][g] for p in warm)
                              / len(warm) for g in GROUPS},
        "warm_mean_tree_cpu_s": sum(p["tree_cpu_s"] for p in warm)
        / len(warm),
        "warm_mean_wall_s": sum(p["wall_s"] for p in warm) / len(warm),
        "passes": passes,
    }
    text = json.dumps(_rounded(out), indent=1)
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    return 0


def _rounded(value):
    """``value`` with every float rounded to milliseconds."""
    if isinstance(value, float):
        return round(value, 3)
    if isinstance(value, dict):
        return {k: _rounded(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_rounded(v) for v in value]
    return value


if __name__ == "__main__":
    raise SystemExit(main())
