"""``recipient_compute``: a fixed pass of registered queries.

One client runs ``metrics.COMPUTE_QUERIES`` in a seeded order, as many
whole passes as fit in the window (at least one). An untimed first pass
absorbs the cold start (code generation, JIT, Python worker start); its
time is reported as ``cold_pass_s`` in the detail line. An operation is
one pass, so its latency is the pass time. Within a pass,
``fn(spark, sf_dir)`` builds each query and ``toPandas`` forces it; each
result is checked against the query's registered DuckDB oracle over the
same generated tables, and ``ok_ratio`` counts queries. The data plane
does the work here: Spark scans, deletion-vector application, CDF
reconstruction over the wire and the ``operators/`` kernels.

The engine fixtures the ``eng_*`` queries read are built once per checkout
into ``.perfbench_cache`` (never the shared default fixture root), from
tables generated with the fixed data seed, by a Spark session that is
stopped before the run is measured. Every measured run therefore starts
from the same complete cache and a fresh JVM. A set-up starts the session
and resolves the latest snapshot of every fixture table.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.metrics import COMPUTE_QUERIES

SF = 0.005
# one pass per 10-second window on a 4-core host (a warm pass takes 8-11 s):
# no percentile has 10 beyond it, so the tail is reported as the median
TAIL_PCT = 50.0


def _fixture_paths(spark, src: str) -> list[str]:
    """Build (or, when cached, just locate) the engine fixtures."""
    from delta_sharing_spark.workloads import engine

    return [engine._events_rest(spark, src)[1],
            engine._lineitem_shared(spark, src),
            engine._lineitem_dv_upd(spark, src)]


def ensure_cache(run_dir: str) -> str:
    """The cached source tables and fixtures; returns the source dir.
    Fixture keys hash the source path, so they are built and used in place
    (the queries only read them)."""
    from delta_sharing_spark import workloads
    from delta_sharing_spark.workloads import engine
    from perfbench import datagen, harness

    workloads.load_all()

    def build(spark, path: str) -> None:
        engine._FIXTURE_ROOT = os.path.join(path, "fixtures")
        _fixture_paths(spark, datagen.write_tables(
            os.path.join(path, "src"), sf=SF))

    cache = harness.ensure_cache(f"compute-sf{SF}", run_dir,
                                 build)
    engine._FIXTURE_ROOT = os.path.join(cache, "fixtures")
    return os.path.join(cache, "src")


def build_fixture(spark, src: str):
    from delta_sharing_spark.plans.log import TableLog

    for path in _fixture_paths(spark, src):
        TableLog(spark, path).snapshot()
    return src


def _oracles(src: str) -> dict:
    from delta_sharing_spark import workloads
    from tools.check_correctness import duck_connection

    con = duck_connection(src)
    try:
        return {q: con.sql(workloads.ORACLES[q]).df() for q in COMPUTE_QUERIES}
    finally:
        con.close()


def run(seed: int, seconds: float, trace: bool, run_dir: str):
    from delta_sharing_spark import workloads
    from perfbench import harness, metrics, proc, sparkstats
    from perfbench.stats import Ledger, OpRecord, percentile
    from perfbench.trace import Tracer, install_probes
    from tools.check_correctness import compare

    rng = random.Random(seed)
    problems: dict[str, list[str]] = {}
    cached_src = ensure_cache(run_dir)
    setups = harness.timed_setups(
        run_dir, lambda spark, _dir: build_fixture(spark, cached_src))
    spark, src = setups.spark, setups.state
    expected = _oracles(src)
    sc = spark.sparkContext

    def run_query(q: str, queries: Ledger, timings: dict) -> None:
        sc.setJobGroup(q, q)
        t0 = time.perf_counter()
        ok = True
        try:
            df = workloads.QUERIES[q](spark, src)
            t1 = time.perf_counter()
            pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed query is data
            ok, pdf, t1 = False, None, time.perf_counter()
            problems.setdefault(q, []).append(repr(exc))
        t2 = time.perf_counter()
        if ok:
            found = compare(q, pdf, expected[q])
            if found:
                ok = False
                problems.setdefault(q, []).extend(found)
        queries.add(OpRecord(q, t0, t2, ok, key=q))
        timings.setdefault(q, []).append((t1 - t0, t2 - t1))

    def window(seconds: float, tracer=None):
        ledger, queries = Ledger(), Ledger()
        timings: dict[str, list[tuple[float, float]]] = {}
        mark = sparkstats.mark(spark) if tracer else None
        rss = proc.RssSampler()
        cpu0 = proc.tree_cpu_s()
        start = time.perf_counter()
        # the whole passes that fit in the window, judged by the previous
        # pass's time, and at least one
        while not ledger.records or (time.perf_counter() - start
                                     + ledger.records[-1].latency) <= seconds:
            order = list(COMPUTE_QUERIES)
            rng.shuffle(order)
            p0 = time.perf_counter()
            for q in order:
                if tracer:
                    tracer.set_op(q)
                run_query(q, queries, timings)
            ledger.add(OpRecord("pass", p0, time.perf_counter(), True))
        elapsed = time.perf_counter() - start
        cpu = proc.tree_cpu_s() - cpu0
        peak = rss.stop()
        sc.setJobGroup("perfbench", "idle")
        totals = sparkstats.totals_since(spark, mark) if tracer else None
        return ledger, elapsed, cpu, totals, queries, timings, peak

    cold = window(0.0)
    # a traced run measures two windows; halving them keeps it (and the
    # first run in a checkout, which also builds the cache) well under
    # three minutes on a slow host
    window_s = seconds / 2 if trace else seconds
    untraced = window(window_s)
    traced = tracer = None
    if trace:
        tracer = Tracer()
        install_probes(tracer)
        try:
            traced = window(window_s, tracer)
        finally:
            tracer.restore()
    harness.stop_spark(spark)
    ledger, elapsed, cpu, _, queries, timings, peak = untraced
    m = metrics.e2e(ledger, elapsed, cpu, setups.median_s, peak, TAIL_PCT)
    m["ok_ratio"] = 1.0 - queries.failed / queries.attempted
    detail = {
        "workload": "recipient_compute", "sf": SF,
        "setup_samples_s": setups.samples,
        "passes": ledger.attempted,
        "tail_pct": m["_tail_pct"],
        "tail_supported": m["_tail_supported"],
        "cold_pass_s": cold[1],
        "passes_s": [r.end - r.start for r in ledger.records],
        "query_ms": {q: 1000.0 * percentile([b + e for b, e in v], 50.0)
                     for q, v in timings.items()},
        "problems": problems,
    }
    ledgers = [cold[4], queries] + ([traced[4]] if traced else [])
    attempted = sum(lg.attempted for lg in ledgers)
    failed = sum(lg.failed for lg in ledgers)
    if trace:
        (t_ledger, t_elapsed, t_cpu, totals, t_queries, t_timings,
         t_peak) = traced
        tm = metrics.e2e(t_ledger, t_elapsed, t_cpu, setups.median_s,
                         t_peak, TAIL_PCT)
        tm["ok_ratio"] = 1.0 - t_queries.failed / t_queries.attempted
        extra = metrics.overhead(tm, m)
        for q, v in t_timings.items():
            extra[f"compute.{q}.build_ms"] = 1000.0 * percentile(
                [b for b, _ in v], 50.0)
            extra[f"compute.{q}.exec_ms"] = 1000.0 * percentile(
                [e for _, e in v], 50.0)
        out = metrics.layer_metrics(tracer, t_ledger.attempted, totals, extra)
        tracer.dump(run_dir + "-spans.jsonl")
    else:
        out = m
    return harness.Result(failed == 0, attempted, failed, out, detail)
