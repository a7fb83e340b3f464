"""Spark execution totals read from the driver's status stores.

Both stores answer over py4j with the UI disabled. Totals are taken as the
difference between a mark before a window and a read after it, over the
jobs and stages whose ids are above the mark.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Mark:
    job_id: int
    stage_id: int
    execution_id: int


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _as_list(spark, seq) -> list:
    jl = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    return [jl.get(i) for i in range(jl.size())]


def _jobs(spark) -> list:
    return _as_list(spark, _store(spark).jobsList(None))


def _stages(spark) -> list:
    store = _store(spark)
    seq = store.stageList(None, False, False,
                          getattr(store, "stageList$default$4")(),
                          getattr(store, "stageList$default$5")())
    return _as_list(spark, seq)


def mark(spark) -> Mark:
    return Mark(max((j.jobId() for j in _jobs(spark)), default=-1),
                max((s.stageId() for s in _stages(spark)), default=-1),
                _last_execution_id(spark))


def _last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((e.executionId() for e in _as_list(spark, execs)),
               default=-1)


def totals_since(spark, m: Mark) -> dict[str, float]:
    """Jobs, tasks, executor run and CPU time, shuffle bytes, spill and
    Python-worker time of everything that ran after ``m``."""
    jobs = [j for j in _jobs(spark) if j.jobId() > m.job_id]
    stages = [s for s in _stages(spark) if s.stageId() > m.stage_id]
    out = {
        "jobs": float(len(jobs)),
        "tasks": float(sum(s.numCompleteTasks() for s in stages)),
        "executor_run_ms": float(sum(s.executorRunTime() for s in stages)),
        "executor_cpu_ms": sum(s.executorCpuTime() for s in stages) / 1e6,
        "shuffle_read_bytes": float(sum(s.shuffleReadBytes()
                                        for s in stages)),
        "shuffle_write_bytes": float(sum(s.shuffleWriteBytes()
                                         for s in stages)),
        "spill_bytes": float(sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                                 for s in stages)),
        "python_worker_ms": _python_worker_ms(spark, m.execution_id),
    }
    return out


def _python_worker_ms(spark, after_execution_id: int) -> float:
    """Sum of the SQL metrics that time Python workers (the Arrow-batched
    UDF boundary: MapInArrow, MapInPandas, ArrowEvalPython, ...)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for ex in _as_list(spark, sql.executionsList()):
        if ex.executionId() <= after_execution_id:
            continue
        ids = {pm.accumulatorId() for pm in _as_list(spark, ex.metrics())
               if pm.name() == "time to run Python workers"}
        if not ids:
            continue
        values = sql.executionMetrics(ex.executionId())
        for acc in ids:
            opt = values.get(acc)
            if opt.isDefined():
                total += _parse_ms(opt.get())
    return total


def _parse_ms(text: str) -> float:
    """A timing SQL metric renders as 'total (min, med, max ...)\\nX ms (...)'
    or a bare number of ms; take the total."""
    first = text.strip().split("\n")[-1].split("(")[0].strip()
    num, _, unit = first.partition(" ")
    try:
        value = float(num.replace(",", ""))
    except ValueError:
        return 0.0
    scale = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
    return value * scale.get(unit.strip(), 1.0)
