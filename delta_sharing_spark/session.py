"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configuration is chosen so the same
code scales to a multi-executor cluster: AQE for runtime re-planning (skew
joins, partition coalescing), shuffle partitions sized to cores, UTC session
time zone (the reference pins timestamps to UTC-adjusted microseconds,
PROTOCOL.md:3779), and Arrow for the Python <-> JVM boundary.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "delta_sharing_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    At 100 TB the same settings hold: AQE handles skew and coalesces
    post-shuffle partitions; ``maxPartitionBytes`` keeps scan tasks ~128 MB so
    a 1000-executor cluster gets even work distribution.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet stores timestamp[us] without a timezone; with the
        # session pinned to UTC, TIMESTAMP (µs, UTC-adjusted — PROTOCOL.md:3779)
        # and TIMESTAMP_NTZ hold identical values, and only TIMESTAMP supports
        # event-time watermarks. Read no-tz parquet timestamps as TIMESTAMP.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Any],
                schema: StructType | str) -> DataFrame:
    """DataFrame over driver-built ``rows`` that enters Spark as Arrow.

    ``createDataFrame(<list>)`` pickles rows into a parallelized RDD whose
    conversion runs a Python-worker job each time the frame is scanned or
    broadcast. Here each row takes the list path's own steps (the schema's
    type verifier, its converter, ``toInternal``) so values and errors are
    the same, and the internal columns become one Arrow table. Under
    ``spark.sql.execution.arrow.localRelationThreshold`` that table is a
    ``LocalRelation`` (no Spark job to collect or broadcast it); above it,
    a JVM-side Arrow RDD. Neither forks a Python worker. ``schema`` is
    required (a ``StructType`` or DDL string): nothing is inferred.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*internal) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type)
         for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
