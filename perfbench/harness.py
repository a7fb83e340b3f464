"""Process-level plumbing shared by the workloads: the run-owned directory,
the Spark session lifecycle, repeated timed set-ups and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "delta_sharing_spark"
SETUPS_PER_RUN = 3


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def configure_environment(run_dir: str) -> dict[str, str]:
    """Keep every file the run writes inside ``run_dir`` and size the
    session from SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM (defaults: up to
    4 cores, 2g), so the figures do not depend on the host's core count."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    return {k: os.environ[k] for k in
            ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


def start_spark(run_dir: str):
    from delta_sharing_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    # a fixed heap size (-Xms = the -Xmx Spark sets) keeps the JVM from
    # resizing its heap at run-dependent moments, which steadies its RSS
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    return get_spark(
        app_name="perfbench",
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        })


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall back to a hard stop
                proc.kill()
                proc.wait(timeout=30)


def code_hash() -> str:
    """Hash of every source file a cache can depend on: the package (its
    writers, checkpoints and ``workloads/engine.py`` fixture builders),
    ``tools/`` and the benchmark itself. A cache built by other code is
    never reused."""
    import hashlib

    h = hashlib.sha1()
    for top in (PACKAGE, "tools", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_cache(name: str, run_dir: str,
                 build: Callable[[Any, str], None]) -> str:
    """A per-checkout cache directory ``.perfbench_cache/<name>-<code
    hash>``, built once by ``build(spark, path)`` in a Spark session whose
    JVM is stopped before returning, so every measured run starts from the
    same complete cache and a fresh JVM. ``_READY`` marks a complete cache;
    caches of ``name`` built by other code are deleted."""
    cache_root = os.path.join(ROOT, ".perfbench_cache")
    key = f"{name}-{code_hash()}"
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "_READY")):
        return path
    if os.path.isdir(cache_root):
        for old in os.listdir(cache_root):
            if old.startswith(f"{name}-"):
                shutil.rmtree(os.path.join(cache_root, old),
                              ignore_errors=True)
    os.makedirs(path)
    spark = start_spark(run_dir)
    try:
        build(spark, path)
    finally:
        stop_spark(spark)
    with open(os.path.join(path, "_READY"), "w") as f:
        f.write(key)
    return path


def warm_up(spark) -> None:
    spark.range(0, 1000, numPartitions=4).selectExpr("sum(id)").collect()


@dataclass
class Setups:
    """Result of ``timed_setups``: the median set-up time, every sample,
    the session and the state the last set-up built."""
    median_s: float
    samples: list[float]
    spark: Any
    state: Any


def timed_setups(run_dir: str, build: Callable[[Any, str], Any],
                 k: int = SETUPS_PER_RUN) -> Setups:
    """Set up ``k`` times and keep the last. One set-up starts a Spark
    session (the first one also launches the JVM), warms it up and builds
    the workload's fixtures into a fresh run-owned directory (possibly from
    a template in the per-checkout cache). ``setup_s``
    is the median, so the one-off JVM launch does not set it."""
    from pyspark.sql import SparkSession

    samples, state, spark = [], None, None
    for i in range(k):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        fixture_dir = os.path.join(run_dir, f"setup{i}")
        shutil.rmtree(fixture_dir, ignore_errors=True)
        os.makedirs(fixture_dir)
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        warm_up(spark)
        state = build(spark, fixture_dir)
        samples.append(time.perf_counter() - t0)
        if i < k - 1:
            shutil.rmtree(os.path.join(run_dir, f"setup{i}"),
                          ignore_errors=True)
    return Setups(statistics.median(samples), samples, spark, state)


def cpu_jiffies() -> list[int]:
    """The machine's CPU time by state (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int]) -> float:
    """Share of the machine's CPU time since ``before`` that the hypervisor
    gave to other guests: it lengthens wall time but no process's CPU
    time."""
    delta = [b - a for a, b in zip(before, cpu_jiffies())]
    return delta[7] / max(1, sum(delta))


def host_context(seed: int, sizing: dict[str, str]) -> dict[str, Any]:
    import pyarrow
    import pyspark

    return {
        "cpu_jiffies_before": cpu_jiffies(),
        "nproc": os.cpu_count(),
        "spark_graft_cpus": sizing["SPARK_GRAFT_CPUS"],
        "driver_memory": sizing["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_before": os.getloadavg(),
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, float]
    detail: dict[str, Any] = field(default_factory=dict)


def emit(result: Result, units: dict[str, str], context: dict[str, Any]
         ) -> None:
    """Print the detail line, then the one-line result, which is always
    the last line of standard output."""
    from perfbench.metrics import WALL

    context = dict(context, loadavg_after=os.getloadavg())
    context["steal_share"] = steal_share(context.pop("cpu_jiffies_before"))
    wall = {k: result.metrics[k] for k in WALL if k in result.metrics}
    print("perfbench detail " + json.dumps(
        {"context": context, "wall": wall, "detail": result.detail},
        default=str))
    missing = [m for m in units if m not in result.metrics]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    print(json.dumps({
        "correct": bool(result.correct),
        "attempted": int(result.attempted),
        "failed": int(result.failed),
        "metrics": {name: {"value": float(result.metrics[name]),
                           "unit": unit}
                    for name, unit in units.items()},
    }), flush=True)
