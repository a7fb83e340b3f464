"""Engine-semantics workloads: the reference's own query surface — snapshot
reads with pruning, exact limit, time travel, history, and CDF — exercised
through ``SharedTable``/``TableLog``/``table_changes`` against DuckDB oracles
computed from the *source* tables.

Fixtures: each workload builds (once, cached in /tmp/dss_fixtures) a
deterministic versioned table from the driver's parquet:

- ``lineitem_shared``: v0 = full lineitem partitioned by l_returnflag;
  v1 = append of the l_orderkey < 100 subset. Time travel to v0 must equal
  the original table exactly.
- ``events_cdf`` (CDF enabled, partitioned by event_type):
  v0 create from events; v1 DELETE WHERE value < 5;
  v2 UPDATE value = value * 2 WHERE event_type = 'click'.
  Every change row is derivable from the source ``events`` table in SQL,
  so even CDF gets a full value-level oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_sharing_spark.cdf import table_changes
from delta_sharing_spark.io import read_table
from delta_sharing_spark.plans.log import TableLog
from delta_sharing_spark.table import SharedTable
from delta_sharing_spark.workloads import workload

_FIXTURE_ROOT = "/tmp/dss_fixtures"
# v3: testdata timestamps now read as TIMESTAMP (µs, UTC) instead of NTZ
# (session-level inferTimestampNTZ=false); fixture schemaStrings changed
# v4: checkpoints carry typed *_parsed stats structs (r10) — cached
# fixtures with pre-r10 checkpoints rebuild once so the typed prune
# queries exercise the new layout
_FIXTURE_SCHEMA_VERSION = "v4"


def _source_identity(sf_dir: str) -> str:
    """(size, mtime) of every source parquet — regenerated testdata must
    auto-invalidate cached fixtures built from the old files."""
    parts = []
    try:
        for fn in sorted(os.listdir(sf_dir)):
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, fn))
                parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        pass
    return ",".join(parts)


def _fixture(spark: SparkSession, sf_dir: str, name: str, builder) -> str:
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{name}|{_FIXTURE_SCHEMA_VERSION}"
        f"|{_source_identity(sf_dir)}".encode()
    ).hexdigest()[:12]
    path = os.path.join(_FIXTURE_ROOT, f"{name}-{key}")
    marker = os.path.join(path, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        builder(spark, path)
        with open(marker, "w") as f:
            f.write("ok")
    return path


def _lineitem_shared(spark: SparkSession, sf_dir: str) -> str:
    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        log = TableLog(spark, path)
        log.create(li, partition_by=["l_returnflag"], name="lineitem_shared")
        log.append(li.filter(F.col("l_orderkey") < 100))

    return _fixture(spark, sf_dir, "lineitem_shared", build)


def _lineitem_manyv(spark: SparkSession, sf_dir: str) -> str:
    """25-version table (create + 24 appends, checkpoints every 10): the
    checkpoint-resolution fixture. Appends are disjoint l_orderkey slices so
    the latest snapshot has an exact SQL oracle."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        log = TableLog(spark, path)
        log.create(li, name="lineitem_manyv",
                   configuration={"checkpointInterval": "10"})
        for k in range(24):
            log.append(li.filter(F.col("l_orderkey") % 997 == k))

    return _fixture(spark, sf_dir, "lineitem_manyv", build)


def _events_cdf(spark: SparkSession, sf_dir: str) -> str:
    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        log = TableLog(spark, path)
        log.create(
            ev, partition_by=["event_type"], name="events_cdf",
            configuration={"enableChangeDataFeed": "true"},
        )
        log.delete("value < 5")
        log.update({"value": "value * 2"}, "event_type = 'click'")

    return _fixture(spark, sf_dir, "events_cdf", build)


def _orders_merge(spark: SparkSession, sf_dir: str) -> str:
    """CDF-enabled orders subset upserted with MERGE: with N = max key + 1,
    v0 = keys < 4N/15; v1 = merge of source keys [2N/15, 6N/15) with
    doubled o_totalprice — existing keys update, new keys insert.
    SCALE-RELATIVE bounds (at sf0.01 they are exactly the historical
    2000/4000/6000) so the fixture is non-degenerate at every SF; the
    oracle recomputes the same integer bounds in SQL."""

    def build(spark: SparkSession, path: str) -> None:
        o = read_table(spark, sf_dir, "orders")
        n = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
        lo, mid, hi = n * 2 // 15, n * 4 // 15, n * 6 // 15
        log = TableLog(spark, path)
        log.create(o.filter(F.col("o_orderkey") < mid), name="orders_merge",
                   configuration={"enableChangeDataFeed": "true"})
        src = (
            o.filter((F.col("o_orderkey") >= lo)
                     & (F.col("o_orderkey") < hi))
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        )
        log.merge(src, ["o_orderkey"])

    return _fixture(spark, sf_dir, "orders_merge_rel", build)


def _lineitem_dv_upd(spark: SparkSession, sf_dir: str) -> str:
    """DV UPDATE/MERGE fixture: v0 = lineitem (DVs + CDF enabled,
    partitioned by l_returnflag); v1 = DV UPDATE l_quantity += 100 WHERE
    l_discount > 0.09 (old positions DV-marked, updated images appended as
    new files); v2 = DV DELETE l_tax > 0.07 (vectors span original AND
    update-appended files)."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        log = TableLog(spark, path)
        log.create(li, partition_by=["l_returnflag"], name="lineitem_dv_upd",
                   configuration={"enableDeletionVectors": "true",
                                  "enableChangeDataFeed": "true"})
        log.update({"l_quantity": "l_quantity + 100"}, "l_discount > 0.09")
        log.delete("l_tax > 0.07")

    return _fixture(spark, sf_dir, "lineitem_dv_upd", build)


def _lineitem_dv(spark: SparkSession, sf_dir: str) -> str:
    """Deletion-vector fixture: v0 = lineitem (DVs + CDF enabled,
    partitioned by l_returnflag); v1 = DV DELETE l_quantity < 10;
    v2 = DV DELETE l_discount > 0.08 (stacked on v1's vectors). No data
    file is rewritten — both deletes only write DV parquets."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        log = TableLog(spark, path)
        log.create(li, partition_by=["l_returnflag"], name="lineitem_dv",
                   configuration={"enableDeletionVectors": "true",
                                  "enableChangeDataFeed": "true"})
        log.delete("l_quantity < 10")
        log.delete("l_discount > 0.08")

    return _fixture(spark, sf_dir, "lineitem_dv", build)


# ----------------------------------------------------------------- snapshot

@workload(
    "eng_snapshot_prune_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 45
    """,
)
def eng_snapshot_prune_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryTable path: JSON-predicate file prune (partition column + stats
    range) THEN exact row filter — the reference's best-effort-server /
    exact-client contract (PROTOCOL.md:2124-2137, RemoteDeltaLog.scala:355-359).
    """
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    hints = {
        "op": "and",
        "children": [
            {"op": "equal", "children": [
                {"op": "column", "name": "l_returnflag", "valueType": "string"},
                {"op": "literal", "value": "R", "valueType": "string"},
            ]},
            {"op": "greaterThanOrEqual", "children": [
                {"op": "column", "name": "l_quantity", "valueType": "double"},
                {"op": "literal", "value": "45", "valueType": "double"},
            ]},
        ],
    }
    df = t.to_df(version=0, json_predicate_hints=hints)
    return df.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")


@workload(
    "eng_time_travel_v0",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    """,
)
def eng_time_travel_v0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: version 0 of the shared table must equal the original
    table even after later appends (Delta versionAsOf semantics,
    ref DeltaSharedTable.scala:383-414 snapshot precedence)."""
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    return t.to_df(version=0).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_snapshot_latest_append",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (SELECT * FROM lineitem
          UNION ALL
          SELECT * FROM lineitem WHERE l_orderkey < 100)
    """,
)
def eng_snapshot_latest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest snapshot reflects the append commit."""
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    return t.to_df().agg(F.count("*").alias("n_rows"))


@workload(
    "eng_snapshot_full",
    oracle="""
    SELECT * FROM lineitem
    UNION ALL
    SELECT * FROM lineitem WHERE l_orderkey < 100
    """,
)
def eng_snapshot_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-path full snapshot scan — the BASELINE.md <=2x-of-plain-Spark
    surface, benchmarked against its plain twin ``plain_snapshot_full``.
    The read path is zero-Spark-job on the metadata plane: cached snapshot
    + driver-loop prune (``SharedTable._prunes_on_driver``)."""
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    return t.to_df()


@workload(
    "plain_snapshot_full",
    oracle="""
    SELECT * FROM lineitem
    UNION ALL
    SELECT * FROM lineitem WHERE l_orderkey < 100
    """,
)
def plain_snapshot_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-Spark twin of ``eng_snapshot_full``: same rows via direct
    parquet reads, no engine metadata plane. BENCH ratio
    eng_snapshot_full / plain_snapshot_full is the judged overhead."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.unionByName(li.filter(F.col("l_orderkey") < 100))


@workload(
    "eng_snapshot_pruned",
    oracle="""
    SELECT * FROM (SELECT * FROM lineitem
                   UNION ALL
                   SELECT * FROM lineitem WHERE l_orderkey < 100)
    WHERE l_returnflag = 'R'
    """,
)
def eng_snapshot_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-path partition-pruned scan (file-level prune via the driver
    loop, then the exact client-side filter per the best-effort contract,
    PROTOCOL.md:2124-2137)."""
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    hints = {"op": "equal", "children": [
        {"op": "column", "name": "l_returnflag", "valueType": "string"},
        {"op": "literal", "value": "R", "valueType": "string"},
    ]}
    return t.to_df(json_predicate_hints=hints).filter(
        F.col("l_returnflag") == "R")


@workload(
    "eng_checkpoint_snapshot",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM (SELECT * FROM lineitem
          UNION ALL
          SELECT * FROM lineitem WHERE l_orderkey % 997 < 24)
    """,
)
def eng_checkpoint_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot of a 25-commit table resolved through parquet log
    checkpoints (every 10 commits) + tail replay — the O(versions)
    metadata-plane fix (ref fake_checkpoint.py:1-204 precedent). The value
    oracle proves checkpoint + tail replay reconstructs the exact state."""
    t = SharedTable(spark, _lineitem_manyv(spark, sf_dir))
    assert t.log._list_checkpoints() == [10, 20]
    return t.to_df().agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_prune_typed_manifest",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price
    FROM (SELECT * FROM lineitem
          UNION ALL
          SELECT * FROM lineitem WHERE l_orderkey % 997 < 24)
    WHERE l_quantity >= 48
    """,
)
def eng_prune_typed_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats prune on the TYPED manifest columns (r10, Delta's
    stats_parsed shape): the checkpointed 25-commit fixture's files_df
    carries minValues_parsed/maxValues_parsed structs; the prune runs as
    a manifest DataFrame filter reading native parquet values (never
    get_json_object), the kept actions are collected from that filter's
    ``action_json``, and the exact row filter on top makes the
    result SQL-checkable (best-effort-server / exact-client contract,
    PROTOCOL.md:2124-2137). Mirrors the reference kernel pruning on
    typed checkpoint-read columns
    (server/.../kernel/internal/PredicateConverter.scala:43-220)."""
    from delta_sharing_spark.plans.predicates import parsed_stat_fields

    t = SharedTable(spark, _lineitem_manyv(spark, sf_dir))
    snap = t.log.snapshot()
    hints = {"op": "greaterThanOrEqual", "children": [
        {"op": "column", "name": "l_quantity", "valueType": "double"},
        {"op": "literal", "value": "48", "valueType": "double"},
    ]}
    manifest = t.log.files_df(snap)
    assert parsed_stat_fields(manifest), \
        "checkpointed manifest must carry the typed stats structs"
    # force the DataFrame prune (kept_adds would driver-loop this small
    # table)
    adds = t._manifest_adds(t._pruned_manifest(snap, hints, None, None))
    df = t.log.read_adds(adds, snap=snap)
    return df.filter(F.col("l_quantity") >= 48).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(14,2))"))
        .cast("double").alias("sum_price"),
    )


def _lineitem_nested(spark: SparkSession, sf_dir: str) -> str:
    """Nested-stats fixture (r11): lineitem with measures packed into a
    STRUCT column, checkpointed — the stats JSON nests per the protocol
    (PROTOCOL.md:3908-4013) and the checkpoint carries typed dotted-path
    struct fields (``m.qty``) to prune on."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice",
            F.struct(
                F.col("l_quantity").alias("qty"),
                F.col("l_discount").alias("disc"),
            ).alias("m"),
        )
        log = TableLog(spark, path)
        log.create(li.repartition(8), name="lineitem_nested",
                   configuration={"checkpointInterval": "1"})

    return _fixture(spark, sf_dir, "lineitem_nested", build)


@workload(
    "eng_prune_typed_nested",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_quantity >= 48
    """,
)
def eng_prune_typed_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats prune on a NESTED leaf column (r11): the fixture packs
    l_quantity into a struct (``m.qty``); the stats JSON nests per the
    reference protocol (PROTOCOL.md:3908-4013) and the checkpoint carries
    typed dotted-path struct fields (Delta's ``stats_parsed`` covers the
    same paths), so the manifest prune reads a native parquet value for
    the struct leaf — never a per-row JSON parse — and the kept actions
    are collected from that filter's ``action_json``. The exact row filter on
    top keeps the result SQL-checkable (best-effort-server /
    exact-client contract)."""
    from delta_sharing_spark.plans.predicates import parsed_stat_fields

    t = SharedTable(spark, _lineitem_nested(spark, sf_dir))
    snap = t.log.snapshot()
    hints = {"op": "greaterThanOrEqual", "children": [
        {"op": "column", "name": "m.qty", "valueType": "double"},
        {"op": "literal", "value": "48", "valueType": "double"},
    ]}
    manifest = t.log.files_df(snap)
    assert "m.qty" in parsed_stat_fields(manifest), \
        "checkpointed manifest must carry dotted typed stats fields"
    adds = t._manifest_adds(t._pruned_manifest(snap, hints, None, None))
    df = t.log.read_adds(adds, snap=snap)
    return df.filter(F.col("m.qty") >= 48).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(14,2))"))
        .cast("double").alias("sum_price"),
    )


def _lineitem_v2cp(spark: SparkSession, sf_dir: str) -> str:
    """V2-checkpoint fixture: same 25-commit shape as ``_lineitem_manyv``
    but with ``delta.checkpointPolicy=v2`` — checkpoints at 10 and 20 put
    the adds in content-addressed sidecars; the second checkpoint reuses
    every bucket the tail commits didn't touch."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        log = TableLog(spark, path)
        log.create(li, name="lineitem_v2cp",
                   configuration={"checkpointInterval": "10",
                                  "delta.checkpointPolicy": "v2"})
        for k in range(24):
            log.append(li.filter(F.col("l_orderkey") % 997 == k))

    return _fixture(spark, sf_dir, "lineitem_v2cp", build)


@workload(
    "eng_checkpoint_v2",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM (SELECT * FROM lineitem
          UNION ALL
          SELECT * FROM lineitem WHERE l_orderkey % 997 < 24)
    """,
)
def eng_checkpoint_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 checkpoints (Delta "V2 Checkpoint" feature shape): snapshot of a
    25-commit table resolved through a sidecar-backed v2 checkpoint + tail
    replay. The manifest is O(buckets); the adds live in content-addressed
    sidecar parquets a later checkpoint reuses unless the bucket changed —
    incremental checkpointing for the million-file metadata plane."""
    t = SharedTable(spark, _lineitem_v2cp(spark, sf_dir))
    assert t.log._list_checkpoints() == [10, 20]
    assert t.log._checkpoint_sidecars(20)  # really v2
    return t.to_df().agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_limit_exact",
    oracle="SELECT CAST(1234 AS BIGINT) AS n",
)
def eng_limit_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact limit: limit-hint prunes the file list by cumulative
    numRecords (kernel early termination, DeltaSharedTableKernel.scala:446-449)
    and df.limit makes it exact (reader.py:201-224)."""
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    df = t.to_df(version=0, limit=1234)
    return df.agg(F.count("*").alias("n"))


@workload(
    "eng_history",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'CREATE TABLE'),
      (CAST(1 AS BIGINT), 'WRITE')
    ) AS t(version, operation)
    """,
)
def eng_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table history (DESCRIBE HISTORY equivalent): commitInfo per version
    (ref DeltaSharingHistoryManager commit enumeration)."""
    t = SharedTable(spark, _lineitem_shared(spark, sf_dir))
    rows = [
        (c.version, c.info.operation if c.info else None)
        for c in t.log.commits()
    ]
    return spark.createDataFrame(rows, "version long, operation string")


# ---------------------------------------------------------------------- CDF

@workload(
    "eng_cdf_change_counts",
    oracle="""
    WITH after_delete AS (SELECT * FROM events WHERE NOT (value < 5))
    SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    UNION ALL
    SELECT 'delete', CAST(COUNT(*) AS BIGINT) FROM events WHERE value < 5
    UNION ALL
    SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT)
    FROM after_delete WHERE event_type = 'click'
    UNION ALL
    SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT)
    FROM after_delete WHERE event_type = 'click'
    """,
)
def eng_cdf_change_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-history CDF replay: change-type row counts across
    create/delete/update commits match counts derived from the source table.
    """
    path = _events_cdf(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=0)
    return (
        ch.groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count("*").alias("n"))
    )


@workload(
    "eng_cdf_update_window",
    oracle="""
    WITH after_delete AS (SELECT * FROM events WHERE NOT (value < 5))
    SELECT event_id,
           CAST(value AS DOUBLE) AS value,
           'update_preimage' AS change_type,
           CAST(2 AS BIGINT) AS commit_version
    FROM after_delete WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, CAST(value * 2 AS DOUBLE), 'update_postimage',
           CAST(2 AS BIGINT)
    FROM after_delete WHERE event_type = 'click'
    """,
)
def eng_cdf_update_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-window CDF: only the UPDATE commit's pre/post images, with
    exact row values (value doubled in the postimage)."""
    path = _events_cdf(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=2, ending_version=2)
    return ch.select(
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    )


@workload(
    "eng_cdf_delete_window",
    oracle="""
    SELECT event_id, event_type, 'delete' AS change_type
    FROM events WHERE value < 5
    """,
)
def eng_cdf_delete_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-window CDF: the DELETE commit's change rows (cdc files win
    over add/remove inference when present —
    DeltaSharingCDCReader.scala:191-330)."""
    path = _events_cdf(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=1, ending_version=1)
    return ch.select(
        "event_id", "event_type", F.col("_change_type").alias("change_type")
    )


def _events_cdf_evolve(spark: SparkSession, sf_dir: str) -> str:
    """Schema-evolution CDF fixture: inserts land under THREE different
    schemas. v0 create (score int) from events slice 0; v1 enable column
    mapping; v2 append slice 1; v3 RENAME score->points; v4 widen points
    int->long; v5 append slice 2 (long). A CDF read across [0,5] must
    read each file under its own epoch's schema and surface everything as
    the latest logical (points bigint)."""

    def build(spark: SparkSession, path: str) -> None:
        from pyspark.sql import types as T

        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type",
            (F.col("event_id") % 100).cast("int").alias("score"),
        )
        log = TableLog(spark, path)
        log.create(ev.filter("event_id % 3 = 0"), name="events_cdf_evolve",
                   configuration={"enableChangeDataFeed": "true"})
        log.enable_column_mapping()
        log.append(ev.filter("event_id % 3 = 1"))
        log.rename_column("score", "points")
        snap = log.snapshot()
        widened = T.StructType([
            T.StructField(f.name,
                          T.LongType() if f.name == "points" else f.dataType,
                          f.nullable, f.metadata)
            for f in snap.schema.fields
        ])
        log.update_metadata(schema=widened)
        log.append(ev.filter("event_id % 3 = 2")
                   .withColumn("score", F.col("score").cast("long"))
                   .withColumnRenamed("score", "points"))

    return _fixture(spark, sf_dir, "events_cdf_evolve", build)


def _events_reorg(spark: SparkSession, sf_dir: str) -> str:
    """REORG purge fixture: create -> enable column mapping -> DROP COLUMN
    props (metadata-only) -> reorg_purge() (physical rewrite). The builder
    asserts the purge actually removed the dropped column's bytes."""

    def build(spark: SparkSession, path: str) -> None:
        import pyarrow.parquet as pq

        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value", "props")
        log = TableLog(spark, path)
        log.create(ev, name="events_reorg")
        log.enable_column_mapping()
        log.drop_column("props")
        assert log.reorg_purge() is not None
        for a in log.snapshot().files:
            names = pq.ParquetFile(log._scan_abs(a)).schema_arrow.names
            if "props" in names:
                raise AssertionError("reorg left dropped-column bytes")

    return _fixture(spark, sf_dir, "events_reorg", build)


@workload(
    "eng_reorg_purge",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def eng_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read after REORG APPLY (PURGE) of a dropped column: the physical
    rewrite must preserve every remaining column's values exactly (Delta
    REORG semantics; drop itself per PROTOCOL column mapping)."""
    t = SharedTable(spark, _events_reorg(spark, sf_dir))
    return t.to_df().groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").cast("double").alias("sum_value"),
    )


@workload(
    "eng_cdf_schema_evolution",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(event_id % 100 AS BIGINT) AS points,
           'insert' AS change_type,
           CAST(CASE event_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 5 END
                AS BIGINT) AS commit_version
    FROM events
    """,
)
def eng_cdf_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF across rename + type-widen metadata commits: files written as
    (score int) pre-rename, (score int, mapped) pre-widen, and (points
    long) post-widen all surface under the latest logical schema with
    exact values (PROTOCOL.md:2352-2420 includeHistoricalMetadata;
    python/delta_sharing/reader.py:477-592 per-version metadata replay)."""
    path = _events_cdf_evolve(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=0)
    return ch.select(
        "event_id", "user_id", "event_type", "points",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    )


@workload(
    "eng_dv_delete",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE NOT (l_quantity < 10) AND NOT (l_discount > 0.08)
    """,
)
def eng_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors: two stacked DV DELETEs (no file rewrites — the
    commits re-add the same data files with grown vectors), read back as
    logical rows via the _metadata.row_index anti-join (kernel DV read
    semantics, DeltaSharedTableKernel.scala:446-449,723-733)."""
    t = SharedTable(spark, _lineitem_dv(spark, sf_dir))
    return t.to_df().agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_dv_cdf_window",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_deleted,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE NOT (l_quantity < 10) AND l_discount > 0.08
    """,
)
def eng_dv_cdf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF of the SECOND DV delete: change rows must be exactly the rows
    logically alive after v1 that v2's predicate matched — verifying the
    vectors stack (v1's deleted positions are excluded from v2's cdc)."""
    path = _lineitem_dv(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=2, ending_version=2)
    return ch.agg(
        F.count("*").alias("n_deleted"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_dv_update",
    oracle="""
    WITH upd AS (
        SELECT CASE WHEN l_discount > 0.09 THEN l_quantity + 100
                    ELSE l_quantity END AS q, l_tax, l_orderkey
        FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(q AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM upd WHERE NOT (l_tax > 0.07)
    """,
)
def eng_dv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV UPDATE then DV DELETE: the update marks old positions deleted and
    appends updated images as new files (no rewrite); the following delete's
    vectors span both original and update-appended files. Latest snapshot
    must equal the SQL replay of both operations."""
    t = SharedTable(spark, _lineitem_dv_upd(spark, sf_dir))
    return t.to_df().agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_dv_update_cdf",
    oracle="""
    WITH m AS (SELECT * FROM lineitem WHERE l_discount > 0.09)
    SELECT 'update_preimage' AS _change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM m
    UNION ALL
    SELECT 'update_postimage' AS _change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity + 100 AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_qty
    FROM m
    """,
)
def eng_dv_update_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF of the DV UPDATE commit: pre/postimage row sets must pair up
    exactly (postimage quantity = preimage + 100) even though the commit
    rewrote no data file."""
    path = _lineitem_dv_upd(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=1, ending_version=1)
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        .alias("sum_qty"),
    )


@workload(
    "eng_cdf_merge",
    oracle="""
    WITH b AS (
      SELECT (MAX(o_orderkey) + 1) * 2 // 15 AS lo,
             (MAX(o_orderkey) + 1) * 4 // 15 AS mid,
             (MAX(o_orderkey) + 1) * 6 // 15 AS hi
      FROM orders
    )
    SELECT 'update_preimage' AS change_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders, b WHERE o_orderkey >= b.lo AND o_orderkey < b.mid
    UNION ALL
    SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders, b WHERE o_orderkey >= b.lo AND o_orderkey < b.mid
    UNION ALL
    SELECT 'insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders, b WHERE o_orderkey >= b.mid AND o_orderkey < b.hi
    """,
)
def eng_cdf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert CDF: the merge commit's cdc files carry update pre/post
    images for matched keys and inserts for new keys — value-level oracle
    derived from the source orders table (ref change-type derivation
    DeltaSharingCDCReader.scala:191-330)."""
    path = _orders_merge(spark, sf_dir)
    ch = table_changes(spark, path, starting_version=1, ending_version=1)
    return ch.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).cast("double")
        .alias("sum_price"),
    )


@workload(
    "eng_datasource_batch",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    """,
)
def eng_datasource_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read through the ``deltashare`` Python Data Source (v2 filter
    pushdown prunes files via the sessionless evaluator; Spark re-applies
    filters exactly)."""
    from delta_sharing_spark.sources.datasource import SharedTableDataSource

    path = _lineitem_shared(spark, sf_dir)
    spark.dataSource.register(SharedTableDataSource)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    df = (spark.read.format("deltashare").option("path", path)
          .option("version", "0").load())
    return (
        df.filter(F.col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))"))
            .cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------- inline DVs / z-order

def _events_dv_inline(spark: SparkSession, sf_dir: str) -> str:
    """Inline-DV fixture: tiny DELETE whose per-file deleted sets all fit
    the inline threshold — every surviving descriptor must be storageType
    "i" (positions ride in the commit JSON; no DV parquet written)."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        log = TableLog(spark, path)
        log.create(ev, partition_by=["event_type"], name="events_dv_inline",
                   configuration={"enableDeletionVectors": "true"})
        log.delete("event_id % 97 = 0")
        descs = [a.deletionVector for a in log.snapshot().files
                 if a.deletionVector]
        if not descs or any(d["storageType"] != "i" for d in descs):
            raise AssertionError(
                "inline-DV fixture expected storageType 'i' descriptors")

    return _fixture(spark, sf_dir, "events_dv_inline", build)


@workload(
    "eng_dv_inline",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    WHERE NOT (event_id % 97 = 0)
    GROUP BY event_type
    """,
)
def eng_dv_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline deletion vectors (storageType "i", Delta DV spec via the
    sharing delta format, PROTOCOL.md:4014-4137): a tiny DELETE encodes
    its positions in the descriptor itself — zero extra file opens on
    read — and the logical rows must match the SQL replay exactly."""
    t = SharedTable(spark, _events_dv_inline(spark, sf_dir))
    return (
        t.to_df().groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum("event_id").cast("long").alias("sum_id"))
    )


def _lineitem_zorder(spark: SparkSession, sf_dir: str) -> str:
    """Z-ORDER fixture: row-ordered files (l_orderkey clustered, l_partkey
    scattered), then zorder_by both — the rewrite must preserve every row
    while making BOTH columns' per-file ranges tight."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        log = TableLog(spark, path)
        log.create(li.repartitionByRange(8, "l_orderkey"),
                   name="lineitem_zorder")
        log.zorder_by(["l_orderkey", "l_partkey"], bits_per_col=8,
                      target_file_rows=max(li.count() // 8, 1000))

    return _fixture(spark, sf_dir, "lineitem_zorder", build)


@workload(
    "eng_zorder_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_partkey <= 200
    """,
)
def eng_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering rewrite (dataChange=false): the clustered table
    must return byte-identical logical rows for a predicate on the NON-
    leading clustered column — the rewrite only re-sorts. The bucket
    assignment comes from broadcast approx-quantile cut-points (no
    unpartitioned window; see TableLog.zorder_by)."""
    t = SharedTable(spark, _lineitem_zorder(spark, sf_dir))
    return t.to_df().filter(F.col("l_partkey") <= 200).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(14,2))"))
        .cast("double").alias("sum_price"),
    )


def _events_restore(spark: SparkSession, sf_dir: str) -> str:
    """v0 = events with event_id < 2000; v1 = append [2000, 3000);
    v2 = DELETE value < 3; v3 = RESTORE to v1. Latest must equal v1."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        # scale-relative slices (event ids are dense 0..N-1): the append
        # stays non-empty at every SF (2000/3000 at sf0.01's N=10000)
        n = ev.agg(F.max("event_id")).collect()[0][0] + 1
        a, b = n * 2 // 10, n * 3 // 10
        log = TableLog(spark, path)
        log.create(ev.filter(F.col("event_id") < a), name="events_restore")
        log.append(ev.filter((F.col("event_id") >= a)
                             & (F.col("event_id") < b)))
        log.delete("value < 3")
        log.restore(version=1)

    return _fixture(spark, sf_dir, "events_restore_rel", build)


@workload(
    "eng_restore",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE event_id < (SELECT (MAX(event_id) + 1) * 3 // 10 FROM events)
    """,
)
def eng_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION AS OF: after a destructive DELETE, restore
    to the pre-delete version — the latest snapshot must equal version 1
    exactly (including rows the DELETE's deletion vectors had hidden),
    while the deleted state remains time-travelable at version 2. The
    restore itself is a metadata-only file-list diff (TableLog.restore)."""
    t = SharedTable(spark, _events_restore(spark, sf_dir))
    return t.to_df().agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
    )


def _events_clone(spark: SparkSession, sf_dir: str) -> str:
    """src: v0 = events with event_id < 1000, v1 = DELETE value < 3 (leaves
    a deletion vector); clone = shallow clone of src v1, then an append of
    [1000, 1200) into the CLONE only."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        n = ev.agg(F.max("event_id")).collect()[0][0] + 1
        a, b = n // 10, n * 12 // 100  # 1000 / 1200 at sf0.01
        src = TableLog(spark, os.path.join(path, "src"))
        src.create(ev.filter(F.col("event_id") < a),
                   name="events_clone_src")
        src.delete("value < 3")
        clone = src.clone_to(os.path.join(path, "clone"))
        clone.append(ev.filter((F.col("event_id") >= a)
                               & (F.col("event_id") < b)))

    return _fixture(spark, sf_dir, "events_clone_rel", build)


@workload(
    "eng_clone",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM (
        SELECT event_id FROM events
        WHERE event_id < (SELECT (MAX(event_id) + 1) // 10 FROM events)
          AND NOT (value < 3)
        UNION ALL
        SELECT event_id FROM events
        WHERE event_id >= (SELECT (MAX(event_id) + 1) // 10 FROM events)
          AND event_id < (SELECT (MAX(event_id) + 1) * 12 // 100
                          FROM events)
    )
    """,
)
def eng_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow CLONE: the clone references the source's data files (and
    deletion vectors) in place via absolute paths — zero copy — and then
    diverges with its own append. The read must apply the source's DV
    through the clone's log and include only the clone's new rows
    (TableLog.clone_to; scan grouping by partition root in read_adds)."""
    t = SharedTable(spark, os.path.join(_events_clone(spark, sf_dir),
                                        "clone"))
    return t.to_df().agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
    )


def _events_generated(spark: SparkSession, sf_dir: str) -> str:
    """Generated-column table: event_date := CAST(ts AS DATE) pinned in
    the schema metadata and used as the partition column. v0 = events with
    event_id < 2000; v1 = append [2000, 3000) WITHOUT the generated column
    (the engine derives it); v2 = UPDATE shifting ts for event_id < 50
    (the generated date must follow)."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        log = TableLog(spark, path)
        log.create(ev.filter("event_id < 2000"), name="events_generated",
                   partition_by=["event_date"],
                   generated_columns={"event_date": "CAST(ts AS DATE)"})
        log.append(ev.filter("event_id >= 2000 AND event_id < 3000"))
        log.update({"ts": "ts + INTERVAL 365 DAYS"}, "event_id < 50")

    return _fixture(spark, sf_dir, "events_generated", build)


@workload(
    "eng_generated_columns",
    oracle="""
    SELECT strftime(CAST((CASE WHEN event_id < 50
                          THEN ts + INTERVAL 365 DAY
                          ELSE ts END) AS DATE), '%Y-%m-%d') AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id < 3000
    GROUP BY 1
    """,
)
def eng_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns (delta.generationExpression): derived on append
    when absent, recomputed by UPDATE when the source column changes, and
    usable as a PARTITION column — the standard partition-by-date(ts)
    pruning setup. The oracle rederives every date from the raw events."""
    t = SharedTable(spark, _events_generated(spark, sf_dir))
    return t.to_df() \
        .groupBy(F.date_format("event_date", "yyyy-MM-dd")
                 .alias("event_date")).agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
    )


# ------------------------------------------------------------- REST parity

def _events_rest(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(profile_path, table_dir) for a CDF-enabled events table served
    over a live local HTTP server. The profile is (re)written per call
    with a fresh server URL; query construction in the client is EAGER
    (the HTTP exchange happens inside load_as_*), so the server only
    needs to live for the duration of the call."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        log = TableLog(spark, os.path.join(path, "table"))
        log.create(ev, partition_by=["event_type"], name="events_rest",
                   configuration={"enableChangeDataFeed": "true"})
        log.delete("value < 3")

    root = _fixture(spark, sf_dir, "events_rest", build)
    return root, os.path.join(root, "table")


def _with_rest_profile(spark: SparkSession, sf_dir: str, fn):
    """Boot a sharing server over the fixture, run ``fn(profile_url)``,
    shut the server down — the reference's network flow end to end
    (client -> retry transport -> server -> NDJSON -> reconstruction)."""
    import json as _json
    import tempfile

    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.server import SharingServer

    root, table_dir = _events_rest(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "events_rest", table_dir, cdf_enabled=True)
    srv = SharingServer(cat, bearer_token="driver-token")
    url = srv.serve_background()
    prof = tempfile.NamedTemporaryFile(
        mode="w", suffix=".json", delete=False)
    _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "driver-token"}, prof)
    prof.close()
    try:
        return fn(f"{prof.name}#s.d.events_rest")
    finally:
        srv.shutdown()
        os.unlink(prof.name)


@workload(
    "eng_rest_snapshot",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value) AS DOUBLE) AS sum_value
    FROM events WHERE NOT (value < 3)
    GROUP BY event_type
    """,
)
def eng_rest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot read over the WIRE: load_as_spark against a live HTTP
    server (bearer auth, NDJSON parquet-profile response, client-side
    reconstruction with typed partition values) must equal the source
    minus the deleted rows — the reference's full network flow under the
    driver's value gate."""
    from delta_sharing_spark.client import load_as_spark

    df = _with_rest_profile(
        spark, sf_dir, lambda url: load_as_spark(url, spark=spark))
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").cast("double").alias("sum_value"),
    )


@workload(
    "eng_rest_strict_features",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE NOT (l_quantity < 10) AND NOT (l_discount > 0.08)
    GROUP BY l_returnflag
    """,
)
def eng_rest_strict_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict reader-feature negotiation over the WIRE
    (SnapshotChecker.assertTableProperties parity, server/common/
    SnapshotChecker.scala:42 via DeltaSharedTableKernel.scala:184): a
    strict server REFUSES a DV table to a client with no readerfeatures
    declaration (asserted in-line with a raw request), while the engine's
    own client — which declares its feature list — reads it end to end;
    the DV-surviving aggregate value-matches the oracle."""
    import json as _json
    import tempfile
    import urllib.error
    import urllib.request

    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.client import load_as_spark
    from delta_sharing_spark.server import SharingServer

    table_dir = _lineitem_dv(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "lineitem_dv", table_dir)
    srv = SharingServer(cat, bearer_token="driver-token",
                        strict_reader_features=True)
    url = srv.serve_background()
    prof = tempfile.NamedTemporaryFile(
        mode="w", suffix=".json", delete=False)
    _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "driver-token"}, prof)
    prof.close()
    try:
        req = urllib.request.Request(
            f"{url}/shares/s/schemas/d/tables/lineitem_dv/query",
            data=b"{}", method="POST",
            headers={"Authorization": "Bearer driver-token",
                     "Content-Type": "application/json"})
        try:
            urllib.request.urlopen(req)
            raise AssertionError(
                "strict server served a DV table to an undeclared client")
        except urllib.error.HTTPError as exc:
            if exc.code != 400:
                raise
        df = load_as_spark(f"{prof.name}#s.d.lineitem_dv", spark=spark)
    finally:
        srv.shutdown()
        os.unlink(prof.name)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


@workload(
    "eng_rest_cdf",
    oracle="""
    SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    UNION ALL
    SELECT 'delete', CAST(COUNT(*) AS BIGINT), CAST(SUM(event_id) AS BIGINT)
    FROM events WHERE value < 3
    """,
)
def eng_rest_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF over the WIRE: load_table_changes_as_spark against the live
    server (changes NDJSON -> per-kind scans + broadcast path joins) —
    change-type row counts AND id sums value-match the source replay."""
    from delta_sharing_spark.client import load_table_changes_as_spark

    ch = _with_rest_profile(
        spark, sf_dir,
        lambda url: load_table_changes_as_spark(url, starting_version=0,
                                                spark=spark))
    return ch.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
    )


@workload(
    "eng_datasource_cdf",
    oracle="""
    WITH after_delete AS (SELECT * FROM events WHERE NOT (value < 5))
    SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    UNION ALL
    SELECT 'delete', CAST(COUNT(*) AS BIGINT), CAST(SUM(event_id) AS BIGINT)
    FROM events WHERE value < 5
    UNION ALL
    SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(event_id) AS BIGINT)
    FROM after_delete WHERE event_type = 'click'
    UNION ALL
    SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(event_id) AS BIGINT)
    FROM after_delete WHERE event_type = 'click'
    """,
)
def eng_datasource_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDF through the Python Data Source
    (spark.read.format("deltashare").option("readChangeFeed", "true") —
    the reference spark connector's batch change reads): change-type
    counts AND id sums across create/delete/update commits value-match
    the source replay."""
    from delta_sharing_spark.sources.datasource import SharedTableDataSource

    spark.dataSource.register(SharedTableDataSource)
    path = _events_cdf(spark, sf_dir)
    ch = (spark.read.format("deltashare").option("path", path)
          .option("readChangeFeed", "true")
          .option("startingVersion", "0").load())
    return ch.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
    )


# --------------------------------------------- version-range QueryTable

def _events_range(spark: SparkSession, sf_dir: str) -> str:
    """v0 = events with id < 2n/10; v1 = append [2n/10, 3n/10);
    v2 = append [3n/10, 4n/10) — three append commits for the
    version-range (data-change) query form."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        n = ev.agg(F.max("event_id")).collect()[0][0] + 1
        a, b, c = n * 2 // 10, n * 3 // 10, n * 4 // 10
        log = TableLog(spark, path)
        log.create(ev.filter(F.col("event_id") < a), name="events_range")
        log.append(ev.filter((F.col("event_id") >= a)
                             & (F.col("event_id") < b)))
        log.append(ev.filter((F.col("event_id") >= b)
                             & (F.col("event_id") < c)))

    return _fixture(spark, sf_dir, "events_range", build)


def _range_rest_lines(spark: SparkSession, sf_dir: str,
                      max_files: int | None = None) -> list[dict]:
    """Version-range QueryTable over a LIVE server (startingVersion=1):
    boot, query (optionally page-by-page), shut down; return the NDJSON
    lines (ref PROTOCOL.md:2147-2152; DeltaSharedTable.scala:557-695)."""
    import json as _json
    import tempfile

    from delta_sharing_spark.auth import BearerTokenAuthProvider
    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.rest import DataSharingRestClient
    from delta_sharing_spark.server import SharingServer

    path = _events_range(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "events_range", path)
    srv = SharingServer(cat, bearer_token="driver-token")
    srv.serve_background()
    try:
        client = DataSharingRestClient(
            f"http://127.0.0.1:{srv.port}",
            auth_provider=BearerTokenAuthProvider("driver-token"))
        if max_files is None:
            _h, lines = client.list_files_in_table(
                "s", "d", "events_range", starting_version=1)
            return lines
        # drive the reference's (version, actionIndex) pagination: each
        # page carries at most max_files file actions + an endStreamAction
        lines, token = [], None
        while True:
            _h, page = client.list_files_in_table(
                "s", "d", "events_range", starting_version=1,
                max_files=max_files, page_token=token)
            token = None
            for line in page:
                if "endStreamAction" in line:
                    token = line["endStreamAction"].get("nextPageToken")
                else:
                    lines.append(line)
            if not token:
                return lines
    finally:
        srv.shutdown()


_RANGE_ORACLE = """
    WITH n AS (SELECT MAX(event_id) + 1 AS n FROM events)
    SELECT CAST(1 AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events, n
    WHERE event_id >= n * 2 // 10 AND event_id < n * 3 // 10
    GROUP BY 1
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(event_id) AS BIGINT)
    FROM events, n
    WHERE event_id >= n * 3 // 10 AND event_id < n * 4 // 10
    GROUP BY 1
"""


@workload("eng_rest_range", oracle=_RANGE_ORACLE)
def eng_rest_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-range QueryTable over the WIRE: startingVersion=1 against a
    live server returns the data-change add actions of commits 1..2, each
    stamped with its commit version + timestamp; reconstructing them
    per-commit must value-match a DuckDB replay of the same appends."""
    from delta_sharing_spark.deltaformat import changes_lines_to_spark

    lines = _range_rest_lines(spark, sf_dir)
    df = changes_lines_to_spark(spark, lines)
    return (df.filter(F.col("_change_type") == "insert")
            .groupBy(F.col("_commit_version").alias("commit_version"))
            .agg(F.count("*").alias("n_rows"),
                 F.sum("event_id").alias("sum_id")))


@workload("eng_rest_range_paged", oracle=_RANGE_ORACLE)
def eng_rest_range_paged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same range query driven page-by-page (maxFiles=1 + checksummed page
    tokens, the reference's (version, actionIndex) tokens): concatenated
    pages must reconstruct to the identical result."""
    from delta_sharing_spark.deltaformat import changes_lines_to_spark

    lines = _range_rest_lines(spark, sf_dir, max_files=1)
    df = changes_lines_to_spark(spark, lines)
    return (df.filter(F.col("_change_type") == "insert")
            .groupBy(F.col("_commit_version").alias("commit_version"))
            .agg(F.count("*").alias("n_rows"),
                 F.sum("event_id").alias("sum_id")))


def _lineitem_clustered(spark: SparkSession, sf_dir: str) -> str:
    """Liquid-maintenance fixture: CREATE ... CLUSTER BY, three small
    ingest+optimize cycles — each un-scoped optimize() is clustering
    maintenance (z-orders the new slice AND folds under-sized clustered
    outputs back in, so the table does not accrete one small file per
    cycle)."""

    def build(spark: SparkSession, path: str) -> None:
        li = read_table(spark, sf_dir, "lineitem")
        n = li.count()
        log = TableLog(spark, path)
        log.create(li.filter(F.col("l_orderkey") % 4 == 0),
                   name="lineitem_clustered",
                   cluster_by=["l_orderkey", "l_partkey"])
        # target holds the whole table: every slice is under-sized, so
        # each maintenance pass MUST fold prior outputs in (merge proof)
        for k in (1, 2, 3):
            log.append(li.filter(F.col("l_orderkey") % 4 == k))
            log.optimize(target_file_rows=max(n * 2, 1000))

    return _fixture(spark, sf_dir, "lineitem_clustered2", build)


@workload(
    "eng_cluster_maintenance",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_partkey <= 200
    """,
)
def eng_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared clustering under the value gate: after three append +
    optimize() maintenance cycles on a CLUSTER BY table, the table must
    hold EXACTLY the union of all ingested rows (every maintenance rewrite
    is dataChange=false re-sorting), a predicate on the non-leading
    clustered column must read byte-identical logical rows, and the
    rewrites must have merged rather than accreted (file count stays far
    below the cycle count x slice files)."""
    t = SharedTable(spark, _lineitem_clustered(spark, sf_dir))
    snap = t.log.snapshot()
    # maintenance merged: with every slice under half the target, each
    # cycle folds the previous output in — the table ends as ONE file,
    # never one-small-file-per-cycle accretion
    assert len(snap.files) <= 2, (
        f"clustered maintenance accreted {len(snap.files)} files")
    return t.to_df().filter(F.col("l_partkey") <= 200).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(14,2))"))
        .cast("double").alias("sum_price"),
    )


def _events_identity(spark: SparkSession, sf_dir: str) -> str:
    """Identity fixture: GENERATED ALWAYS AS IDENTITY (start 10, step 5)
    over two scale-relative event slices, then an OVERWRITE that keeps
    allocating past the mark (Delta: overwrite never resets identity)."""

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        n = ev.agg(F.max("event_id")).collect()[0][0] + 1
        a, b = n * 2 // 10, n * 3 // 10
        log = TableLog(spark, path)
        log.create(ev.filter(F.col("event_id") < a)
                   .select("event_type", "value"),
                   name="events_identity",
                   identity_columns={"rid": {"start": 10, "step": 5}})
        log.append(ev.filter((F.col("event_id") >= a)
                             & (F.col("event_id") < b))
                   .select("event_type", "value"))
        log.overwrite(ev.filter(F.col("event_id") < a)
                      .select("event_type", "value"))

    return _fixture(spark, sf_dir, "events_identity2", build)


@workload(
    "eng_identity",
    oracle="""
    WITH n AS (
      SELECT CAST((SELECT (MAX(event_id) + 1) * 2 // 10 FROM events)
                  AS BIGINT) AS n_rows,
             CAST((SELECT (MAX(event_id) + 1) * 3 // 10 FROM events)
                  AS BIGINT) AS n_ab
    )
    SELECT n_rows,
           CAST(10 + 5 * n_ab AS BIGINT) AS min_rid,
           CAST(10 + 5 * (n_ab + n_rows - 1) AS BIGINT) AS max_rid,
           CAST(n_rows * (10 + 5 * n_ab)
                + 5 * (n_rows * (n_rows - 1)) // 2 AS BIGINT) AS sum_rid
    FROM n
    """,
)
def eng_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY columns under the value gate: which ROW receives which
    value depends on partitioning (Delta guarantees uniqueness and
    monotonicity, not assignment order), but the allocation STATS are
    fully deterministic — after create (n_a rows from mark 5), append
    (rows up to n_ab total), and an overwrite of n_a rows, the overwrite
    batch occupies exactly the arithmetic series starting past the
    absorbed mark. The oracle derives count/min/max/sum from the slice
    sizes alone."""
    t = SharedTable(spark, _events_identity(spark, sf_dir))
    return t.to_df().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("rid").alias("min_rid"),
        F.max("rid").alias("max_rid"),
        F.sum("rid").alias("sum_rid"),
    )


@workload(
    "eng_rest_row_tracking",
    oracle="""
    WITH b1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid, 0 AS ver
      FROM documents WHERE doc_id % 2 = 0
    ), b2 AS (
      SELECT doc_id,
             (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid, 1 AS ver
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT doc_id, CAST(rid AS BIGINT) AS row_id,
           CAST(CASE WHEN doc_id % 11 = 3 THEN 5
                     WHEN doc_id % 5 = 0 THEN 4
                     ELSE ver END AS BIGINT) AS row_commit_version
    FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    WHERE doc_id % 7 <> 0
    """,
)
def eng_rest_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking over the WIRE: ``load_as_spark(url, row_ids=True)``
    against a live HTTP server — the file actions carry
    ``baseRowId``/``defaultRowCommitVersion``, the client reconstructs
    every surviving row's stable id + commit version (materialized-column
    overrides, DV-file row positions), and the result hash-matches the
    same SQL replay as the in-process ``eng_row_tracking``."""
    import json as _json
    import tempfile

    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.client import load_as_spark
    from delta_sharing_spark.server import SharingServer

    table_dir = _documents_rt(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "documents_rt", table_dir)
    srv = SharingServer(cat, bearer_token="driver-token")
    url = srv.serve_background()
    prof = tempfile.NamedTemporaryFile(
        mode="w", suffix=".json", delete=False)
    _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "driver-token"}, prof)
    prof.close()
    try:
        # the manifest RPC happens here (eager); the returned plan reads
        # the vended file urls directly, so the server can shut down
        df = load_as_spark(f"{prof.name}#s.d.documents_rt", spark=spark,
                           row_ids=True)
        return df.select(
            "doc_id",
            F.col("_row_id").alias("row_id"),
            F.col("_row_commit_version").alias("row_commit_version"),
        )
    finally:
        srv.shutdown()
        os.unlink(prof.name)


def _documents_widen(spark: SparkSession, sf_dir: str) -> str:
    """Type-widening fixture: v0 = even doc_ids with NARROW columns
    (int / float / decimal(5,2)); v1-v3 = widen_column_type to long /
    double / decimal(12,4) (metadata-only — the v0 files never change);
    v4 = append odd doc_ids with values only the WIDE types can hold.
    Reading the table scans both narrow and wide files under one wide
    schema — Spark's parquet upcast does the narrow half."""

    def build(spark: SparkSession, path: str) -> None:
        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "n_chars")
        b1 = docs.filter(F.col("doc_id") % 2 == 0).selectExpr(
            "doc_id",
            "cast(n_chars as int) as n",
            "cast(n_chars as float) as f",
            "cast(doc_id % 100 + 0.25 as decimal(5,2)) as d")
        log = TableLog(spark, path)
        log.create(b1, name="documents_widen",
                   configuration={"delta.enableTypeWidening": "true"})
        log.widen_column_type("n", "long")
        log.widen_column_type("f", "double")
        log.widen_column_type("d", "decimal(12,4)")
        b2 = docs.filter(F.col("doc_id") % 2 == 1).selectExpr(
            "doc_id",
            "n_chars + 3000000000 as n",
            "cast(n_chars as double) + 0.5 as f",
            "cast(doc_id % 1000 + 123.4567 as decimal(12,4)) as d")
        log.append(b2)

    return _fixture(spark, sf_dir, "documents_widen", build)


@workload(
    "eng_type_widening",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS BIGINT)
                ELSE n_chars + 3000000000 END AS n,
           CASE WHEN doc_id % 2 = 0 THEN CAST(CAST(n_chars AS REAL) AS DOUBLE)
                ELSE CAST(n_chars AS DOUBLE) + 0.5 END AS f,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN CAST(CAST(doc_id % 100 + 0.25 AS DECIMAL(5,2))
                          AS DECIMAL(12,4))
                ELSE CAST(doc_id % 1000 + 123.4567 AS DECIMAL(12,4))
           END AS VARCHAR) AS d
    FROM documents
    """,
)
def eng_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta type widening under the FULL value gate: narrow files written
    before ``widen_column_type`` (int/float/decimal(5,2)) and wide files
    written after (long/double/decimal(12,4)) read back in ONE scan under
    the wide schema, every value exact — the narrow half upcast by the
    parquet reader, never rewritten (Delta protocol "Type Widening";
    ``delta.typeChanges`` field metadata)."""
    t = SharedTable(spark, _documents_widen(spark, sf_dir))
    # the decimal column crosses the gate as its exact string rendering
    # (pandas decimal dtypes differ between Spark and DuckDB; '10.2500'
    # keeps scale-4 exactness on both sides)
    return t.to_df().select(
        "doc_id", "n", "f", F.col("d").cast("string").alias("d"))


_RT_APPENDS_ORACLE = """
    WITH b1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid, 0 AS ver
      FROM documents WHERE doc_id % 2 = 0
    ), b2 AS (
      SELECT doc_id,
             (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid, 1 AS ver
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT doc_id, CAST(rid AS BIGINT) AS row_id,
           CAST(ver AS BIGINT) AS row_commit_version,
           CAST(ver AS BIGINT) AS commit_version
    FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
"""


def _rt_wire_lines(spark: SparkSession, table_dir: str, name: str,
                   fetch) -> list[dict]:
    """Boot a live server over ``table_dir``, run ``fetch(client)`` for
    the NDJSON lines, shut down (the vended urls are absolute — the
    returned plan outlives the server)."""
    from delta_sharing_spark.auth import BearerTokenAuthProvider
    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.rest import DataSharingRestClient
    from delta_sharing_spark.server import SharingServer

    cat = ShareCatalog(spark)
    cat.add_table("s", "d", name, table_dir)
    srv = SharingServer(cat, bearer_token="driver-token")
    srv.serve_background()
    try:
        client = DataSharingRestClient(
            f"http://127.0.0.1:{srv.port}",
            auth_provider=BearerTokenAuthProvider("driver-token"))
        return fetch(client)
    finally:
        srv.shutdown()


@workload("eng_rest_row_tracking_range", oracle=_RT_APPENDS_ORACLE)
def eng_rest_row_tracking_range(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Row ids over the VERSION-RANGE RPC: startingVersion=0..1 against a
    live server returns add actions carrying baseRowId /
    defaultRowCommitVersion (Delta "Row Tracking" fields, verbatim on the
    wire); the client range rebuild reconstructs every inserted row's
    stable ``_row_id`` (base + parquet row index) and
    ``_row_commit_version`` — per-row value gate against the rank replay
    (the deterministic one-sorted-file-per-batch id layout of
    ``_documents_rt``)."""
    from delta_sharing_spark.deltaformat import changes_lines_to_spark

    lines = _rt_wire_lines(
        spark, _documents_rt(spark, sf_dir), "documents_rt",
        lambda c: c.list_files_in_table(
            "s", "d", "documents_rt",
            starting_version=0, ending_version=1)[1])
    df = changes_lines_to_spark(spark, lines, row_ids=True)
    return df.filter(F.col("_change_type") == "insert").select(
        "doc_id",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
        F.col("_commit_version").alias("commit_version"))


def _documents_rt_cdf(spark: SparkSession, sf_dir: str) -> str:
    """Row-tracking + CDF fixture with the deterministic id layout:
    v0 = even doc_ids (one doc_id-sorted file, ids 0..n_even-1),
    v1 = odd doc_ids (ids n_even..)."""

    def build(spark: SparkSession, path: str) -> None:
        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        one = lambda df: df.repartition(1).sortWithinPartitions("doc_id")  # noqa: E731
        log = TableLog(spark, path)
        log.create(one(docs.filter(F.col("doc_id") % 2 == 0)),
                   name="documents_rt_cdf",
                   configuration={"delta.enableRowTracking": "true",
                                  "delta.enableChangeDataFeed": "true"})
        log.append(one(docs.filter(F.col("doc_id") % 2 == 1)))

    return _fixture(spark, sf_dir, "documents_rt_cdf", build)


@workload("eng_rest_row_tracking_cdf", oracle=_RT_APPENDS_ORACLE)
def eng_rest_row_tracking_cdf(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Row ids over the CHANGES RPC: queryTableChanges 0..1 against a
    live server — the CDF add actions carry baseRowId /
    defaultRowCommitVersion like the snapshot and range forms, and
    ``load_table_changes``-style reconstruction
    (``changes_lines_to_spark(row_ids=True)``) rebuilds each inserted
    row's stable id, per-row value gate."""
    from delta_sharing_spark.deltaformat import changes_lines_to_spark

    lines = _rt_wire_lines(
        spark, _documents_rt_cdf(spark, sf_dir), "documents_rt_cdf",
        lambda c: c.list_table_changes(
            "s", "d", "documents_rt_cdf",
            starting_version=0, ending_version=1,
            include_historical_metadata=True))
    df = changes_lines_to_spark(spark, lines, row_ids=True)
    return df.filter(F.col("_change_type") == "insert").select(
        "doc_id",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
        F.col("_commit_version").alias("commit_version"))


def _documents_widen_nested(spark: SparkSession, sf_dir: str) -> str:
    """Nested type-widening fixture: v0 = even doc_ids with NARROW types
    inside nested positions (struct member int + decimal(5,2), array<int>
    elements, map<string,int> values); v1-v4 = widen_column_type at the
    dotted paths s.x / s.d / a.element / m.value (metadata-only); v5 =
    append odd doc_ids with values only the wide nested types hold.
    One scan reads both narrow and wide files — the parquet reader
    upcasts every nested position of the narrow half."""

    def build(spark: SparkSession, path: str) -> None:
        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "n_chars")
        even = docs.filter(F.col("doc_id") % 2 == 0).selectExpr(
            "doc_id",
            "named_struct('x', cast(n_chars as int), "
            "             'd', cast(doc_id % 100 + 0.25 as decimal(5,2))"
            ") as s",
            "array(cast(n_chars as int), cast(doc_id % 1000 as int)) as a",
            "map('k', cast(n_chars as int)) as m")
        log = TableLog(spark, path)
        log.create(even, name="documents_widen_nested",
                   configuration={"delta.enableTypeWidening": "true"})
        log.widen_column_type("s.x", "long")
        log.widen_column_type("s.d", "decimal(12,4)")
        log.widen_column_type("a.element", "long")
        log.widen_column_type("m.value", "long")
        odd = docs.filter(F.col("doc_id") % 2 == 1).selectExpr(
            "doc_id",
            "named_struct('x', n_chars + 3000000000, "
            "             'd', cast(doc_id % 1000 + 123.4567 "
            "                       as decimal(12,4))) as s",
            "array(n_chars + 3000000000, "
            "      cast(doc_id % 1000 as bigint)) as a",
            "map('k', n_chars + 4000000000) as m")
        log.append(odd)

    return _fixture(spark, sf_dir, "documents_widen_nested", build)


@workload(
    "eng_type_widening_nested",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS BIGINT)
                ELSE n_chars + 3000000000 END AS sx,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN CAST(CAST(doc_id % 100 + 0.25 AS DECIMAL(5,2))
                          AS DECIMAL(12,4))
                ELSE CAST(doc_id % 1000 + 123.4567 AS DECIMAL(12,4))
           END AS VARCHAR) AS sd,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(n_chars AS BIGINT) + doc_id % 1000
                ELSE n_chars + 3000000000 + doc_id % 1000 END AS asum,
           CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS BIGINT)
                ELSE n_chars + 4000000000 END AS mv
    FROM documents
    """,
)
def eng_type_widening_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED type widening under the FULL value gate: dotted-path
    ``widen_column_type`` (struct member, array element, map value —
    Delta protocol "Type Widening" with nearest-ancestor
    ``delta.typeChanges`` + ``fieldPath``) applied between two batches;
    one snapshot scan serves narrow and wide nested files together and
    every nested value — struct int member past int range, decimal scale
    growth, array elements, map values — comes back exact. Output is
    projected to flat scalars so the cross-engine hash gate applies."""
    t = SharedTable(spark, _documents_widen_nested(spark, sf_dir))
    return t.to_df().select(
        "doc_id",
        F.col("s.x").alias("sx"),
        F.col("s.d").cast("string").alias("sd"),
        (F.element_at("a", 1) + F.element_at("a", 2)).alias("asum"),
        F.element_at("m", F.lit("k")).alias("mv"))


def _documents_rt(spark: SparkSession, sf_dir: str) -> str:
    """Row-tracking fixture with a fully deterministic id layout: each
    batch is ONE file with rows sorted by doc_id (row index == rank), so
    _row_id is an exact function of doc_id. v0 = even doc_ids (ids
    0..n_even-1), v1 = odd doc_ids (ids n_even..), v2 = DV DELETE of
    doc_id % 7 = 0 (survivor ids untouched), v3 = OPTIMIZE (compaction
    materializes ids — the preservation path under the gate), v4 =
    DV-mode UPDATE of doc_id % 5 = 0 (the post-image append carries the
    SAME ids, new commit version), v5 = matched-only MERGE updating
    doc_id % 11 = 3 (ids preserved through the DV-merge move too)."""

    def build(spark: SparkSession, path: str) -> None:
        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        one = lambda df: df.repartition(1).sortWithinPartitions("doc_id")  # noqa: E731
        log = TableLog(spark, path)
        log.create(one(docs.filter(F.col("doc_id") % 2 == 0)),
                   name="documents_rt",
                   configuration={"delta.enableRowTracking": "true",
                                  "enableDeletionVectors": "true"})
        log.append(one(docs.filter(F.col("doc_id") % 2 == 1)))
        log.delete("doc_id % 7 = 0")
        log.optimize(target_file_rows=1_000_000_000)
        log.update({"lang": F.lit("xx")}, condition="doc_id % 5 = 0")
        src = docs.filter((F.col("doc_id") % 11 == 3)
                          & (F.col("doc_id") % 7 != 0)) \
            .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        log.merge(src, keys=["doc_id"], when_not_matched=None)

    return _fixture(spark, sf_dir, "documents_rt2", build)


@workload(
    "eng_row_tracking",
    oracle="""
    WITH b1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid, 0 AS ver
      FROM documents WHERE doc_id % 2 = 0
    ), b2 AS (
      SELECT doc_id,
             (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid, 1 AS ver
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT doc_id, CAST(rid AS BIGINT) AS row_id,
           CAST(CASE WHEN doc_id % 11 = 3 THEN 5
                     WHEN doc_id % 5 = 0 THEN 4
                     ELSE ver END AS BIGINT) AS row_commit_version
    FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    WHERE doc_id % 7 <> 0
    """,
)
def eng_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking under the FULL value gate: every surviving row's
    stable ``_row_id`` and ``_row_commit_version`` replayed in SQL — ids
    are baseRowId + parquet row index (deterministic because each batch
    is one doc_id-sorted file), survive a DV DELETE untouched, survive
    an OPTIMIZE compaction via the materialized-column path, and survive
    DV-mode UPDATE (v4) and matched-only MERGE (v5) moves with the id
    intact and only the moved rows' commit version bumped
    (Delta protocol "Row Tracking"; baseRowId + materialized row ids)."""
    t = SharedTable(spark, _documents_rt(spark, sf_dir))
    return t.to_df(row_ids=True).select(
        "doc_id",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
    )
