"""Streaming workloads: drive the ``deltashare`` Structured Streaming source
to completion and verify the drained result against SQL oracles.

Each workload starts a real micro-batch query (memory sink, processing-time
trigger), drains it with ``processAllAvailable`` — exercising admission
control, offset tracking, and the executor-side Arrow reader — then returns
the materialized result as a DataFrame.

Note on ``Trigger.AvailableNow``: the Python data source API has no
prepareForTriggerAvailableNow hook, so Spark freezes the FIRST
latestOffset() as the run's end. Pass ``.option("availableNow", "true")``
to the source so that frozen end is the true end (full one-batch drain —
see sources/datasource.py); for capped multi-batch draining use a
processing-time trigger + processAllAvailable (as in ``_drain`` here).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_sharing_spark.io import read_table
from delta_sharing_spark.plans.log import TableLog
from delta_sharing_spark.session import local_frame
from delta_sharing_spark.sources.datasource import SharedTableDataSource
from delta_sharing_spark.workloads import workload
from delta_sharing_spark.workloads.engine import _events_cdf, _lineitem_shared


def _stateful_shuffle_partitions(spark: SparkSession, path: str) -> int:
    """Shuffle/state partition count for STATEFUL drains, sized to the
    stream's input volume (~32 MB per partition, guide §2.2) and capped
    by the session's parallelism.

    Why this cannot be left to AQE or a constant: adaptive execution is
    disabled for streaming plans, and a stateful operator pins its state
    partition count at the first micro-batch — after which EVERY batch
    pays a per-partition state-store open/flush/commit regardless of how
    little state each holds. Measured (same-session alternation):
    - sf0.1 (1.9 MB fixture): 32 partitions cost 30-80 s of task-summed
      state commit per batch vs 2-5 s at 8; whole-drain A/B 0.57-0.63x;
    - sf1 (19 MB fixture, ~1M events): {2, 8, 32} partitions drained in
      {23.9, 11.7, 16.1} s — too FEW partitions serializes the state
      work, too many pays per-partition commit overhead.
    The floor of 8 is where commit overhead amortizes at both measured
    scales; the count then grows with input volume and caps at the
    session's parallelism (at cluster scale: full width, exactly
    today's behavior). Partitioning does not affect drained values
    (oracle-gated)."""
    import os as _os

    total = 0
    data_dir = TableLog(None, path).data_path
    for root, _dirs, files in _os.walk(data_dir):
        for fn in files:
            try:
                total += _os.path.getsize(_os.path.join(root, fn))
            except OSError:
                pass
    cores = spark.sparkContext.defaultParallelism
    return min(cores, max(8, -(-total // (32 << 20))))


class _shuffle_partitions_for_start:
    """Scoped shuffle-partition override for a streaming query start: the
    stateful operator captures the value at its first micro-batch, so the
    override must span start()..processAllAvailable(); restoring after the
    drain keeps the session's batch queries on the session default."""

    def __init__(self, spark: SparkSession, n: int):
        self._spark, self._n = spark, n

    def __enter__(self):
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)


def _drain(spark: SparkSession, path: str, options: dict[str, str]) -> tuple[DataFrame, int]:
    """Run a deltashare stream to completion; return (result_df, n_batches)."""
    spark.dataSource.register(SharedTableDataSource)
    try:  # needed for batch-side pushFilters; harmless if already set
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    name = f"dss_stream_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.format("deltashare").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        # 250 ms floor RE-MEASURED r13 (interleaved, same session): a 0 ms
        # trigger hot-polls the Python DSv2 planner between batches and
        # measured 7-15x SLOWER on all three benched drains (71.6 vs
        # 10.4 s sessionize; 18.7 vs 4.8 s remote appends; 37.2 vs 4.4 s
        # remote cdf), and under the poll flood one run died with "Python
        # worker failed to connect back". The floor stands — closed.
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return spark.table(name), n_batches


@workload(
    "stream_snapshot_drain",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_click
    FROM events WHERE NOT (value < 5)
    """,
)
def stream_snapshot_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-snapshot streaming (no startingVersion -> full snapshot at
    latest version, ref DeltaSharingSource.scala:450-533) over the
    events_cdf fixture after its DELETE and UPDATE commits: the drained
    stream must equal the latest snapshot exactly."""
    path = _events_cdf(spark, sf_dir)
    out, _ = _drain(spark, path, {"maxFilesPerTrigger": "4"})
    return out.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n_click"),
    )


@workload(
    "stream_availablenow_drain",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE NOT (value < 5)
    """,
)
def stream_availablenow_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow drain (ref DeltaSharingSource.scala:169-199
    freeze-and-drain): a real .trigger(availableNow=True) run with
    maxFilesPerTrigger=1 + the availableNow source option must produce the
    complete latest snapshot, not one capped batch."""
    import tempfile

    path = _events_cdf(spark, sf_dir)
    spark.dataSource.register(SharedTableDataSource)
    with tempfile.TemporaryDirectory() as tmp:
        out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
        q = (spark.readStream.format("deltashare").option("path", path)
             .option("maxFilesPerTrigger", "1")
             .option("availableNow", "true")
             .load()
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        out = spark.read.parquet(out_dir)
        result = out.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        # materialize before the tempdir vanishes
        rows = result.collect()
    return local_frame(spark, rows, result.schema)


@workload(
    "stream_incremental_appends",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def stream_incremental_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming from startingVersion=1: only the append
    commit's files are emitted (change-tracking mode, not snapshot mode)."""
    path = _lineitem_shared(spark, sf_dir)
    out, _ = _drain(
        spark, path, {"startingVersion": "1", "maxFilesPerTrigger": "2"}
    )
    return out.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@workload(
    "stream_cdf_drain",
    oracle="""
    WITH after_delete AS (SELECT * FROM events WHERE NOT (value < 5))
    SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
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
def stream_cdf_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDF: drain the change feed from version 0 through capped
    micro-batches; per-change-type counts must equal the batch CDF oracle
    (ref DeltaSharingSource.scala:603-728 streaming CDF)."""
    path = _events_cdf(spark, sf_dir)
    out, _ = _drain(spark, path, {
        "startingVersion": "0", "readChangeFeed": "true",
        "maxFilesPerTrigger": "4",
    })
    return (
        out.groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count("*").alias("n"))
    )


# ------------------------------------------------------- streaming ops

def _events_duplicated(spark: SparkSession, sf_dir: str) -> str:
    """Two commits of the SAME events — the streaming-dedup fixture: every
    row arrives twice, in different micro-batches."""
    from delta_sharing_spark.workloads.engine import _fixture

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        log = TableLog(spark, path)
        log.create(ev, name="events_dup")
        log.append(ev)

    return _fixture(spark, sf_dir, "events_dup", build)


def _events_with_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Events plus one far-future sentinel row per user: the sentinel
    commit pushes the watermark past every real session so append-mode
    session output flushes completely when the stream drains."""
    from delta_sharing_spark.workloads.engine import _fixture

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        log = TableLog(spark, path)
        log.create(ev, name="events_sentinel")
        sentinel = (
            ev.groupBy("user_id")
            .agg(F.max("ts").alias("mts"))
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                (F.col("mts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
                "user_id",
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
        )
        log.append(sentinel)

    return _fixture(spark, sf_dir, "events_sentinel", build)


@workload(
    "stream_dedup_drain",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    """,
)
def stream_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/ops.py stream_dedup — Spark's
    dedup state store): every event arrives twice across micro-batches;
    the drained output must equal the distinct original rows."""
    from delta_sharing_spark.streaming.ops import stream_dedup

    path = _events_duplicated(spark, sf_dir)
    spark.dataSource.register(SharedTableDataSource)
    name = f"dss_dedup_{uuid.uuid4().hex[:8]}"
    stream = (spark.readStream.format("deltashare").option("path", path)
              .option("startingVersion", "0")
              .option("maxFilesPerTrigger", "4").load())
    with _shuffle_partitions_for_start(
            spark, _stateful_shuffle_partitions(spark, path)):
        q = (stream_dedup(stream, ["event_id", "event_type"])
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .trigger(processingTime="250 milliseconds").start())
        q.processAllAvailable()
        q.stop()
    return spark.table(name).agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_id"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@workload(
    "stream_sessionize_drain",
    oracle="""
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS first_event,
           MAX(ts) AS last_event
    FROM s GROUP BY user_id, sid
    """,
)
def stream_sessionize_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with the built-in session_window: closed
    sessions drained from the stream must equal the batch islands
    computation (lag + cumulative break sum) replayed in SQL. A sentinel
    commit pushes the watermark past every real session; sentinel sessions
    are excluded by timestamp cutoff."""
    from delta_sharing_spark.streaming.ops import stream_sessionize

    path = _events_with_sentinel(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.max("ts")).first()[0]
    spark.dataSource.register(SharedTableDataSource)
    name = f"dss_sess_{uuid.uuid4().hex[:8]}"
    stream = (spark.readStream.format("deltashare").option("path", path)
              .option("startingVersion", "0").load())
    sess = stream_sessionize(stream, "user_id", "ts",
                             gap="30 minutes", watermark="0 seconds")
    with _shuffle_partitions_for_start(
            spark, _stateful_shuffle_partitions(spark, path)):
        q = (sess.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .trigger(processingTime="250 milliseconds").start())
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .filter(F.col("first_event") <= F.lit(cutoff))
        .select("user_id",
                F.col("n_events").cast("long").alias("n_events"),
                "first_event", "last_event")
    )


@workload(
    "stream_remote_appends",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def stream_remote_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMOTE streaming: the same incremental drain as
    ``stream_incremental_appends``, but planned over a LIVE http profile —
    micro-batches fetch manifests through version-range QueryTable RPCs
    with maxVersionsPerRpc windowing (ref client/.../spark/
    DeltaSharingSource.scala:277-322; DeltaSharingOptions.scala:199),
    executors open the vended file URLs directly. The drained result must
    value-match the in-process oracle."""
    import json as _json
    import os as _os
    import tempfile

    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.server import SharingServer

    path = _lineitem_shared(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "lineitem_shared", path)
    srv = SharingServer(cat, bearer_token="driver-token")
    url = srv.serve_background()
    prof = tempfile.NamedTemporaryFile(mode="w", suffix=".json",
                                       delete=False)
    _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "driver-token"}, prof)
    prof.close()
    try:
        out, _ = _drain(
            spark, f"{prof.name}#s.d.lineitem_shared",
            {"startingVersion": "1", "maxFilesPerTrigger": "2",
             "maxVersionsPerRpc": "1"},
        )
        result = out.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        rows = result.collect()  # materialize while the server lives
        return local_frame(spark, rows, result.schema)
    finally:
        srv.shutdown()
        _os.unlink(prof.name)


@workload(
    "stream_remote_row_tracking_cdf",
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
           CAST(ver AS BIGINT) AS row_commit_version,
           CAST(ver AS BIGINT) AS commit_version
    FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    """,
)
def stream_remote_row_tracking_cdf(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Row ids over the STREAMING CDF path, remote: a live http profile
    drained with ``readChangeFeed=true, rowIds=true`` — each micro-batch's
    changes RPC carries baseRowId/defaultRowCommitVersion on its add
    actions, and the executor-side Arrow reconstruction
    (sources/datasource._read_file_batches) rebuilds every inserted row's
    stable ``_row_id`` = base + physical row index (materialized
    overrides honored, NULL on cdc/remove images) — the streaming twin of
    the batch changes-rebuild (reference CDF-virtual-column pattern,
    client/.../client/model.scala:208-237). Per-row value gate against
    the rank replay of the deterministic id layout."""
    import json as _json
    import os as _os
    import tempfile

    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.server import SharingServer
    from delta_sharing_spark.workloads.engine import _documents_rt_cdf

    path = _documents_rt_cdf(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "documents_rt_cdf", path)
    srv = SharingServer(cat, bearer_token="driver-token")
    url = srv.serve_background()
    prof = tempfile.NamedTemporaryFile(mode="w", suffix=".json",
                                       delete=False)
    _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "driver-token"}, prof)
    prof.close()
    try:
        out, _ = _drain(
            spark, f"{prof.name}#s.d.documents_rt_cdf",
            {"readChangeFeed": "true", "rowIds": "true",
             "startingVersion": "0", "maxFilesPerTrigger": "1",
             "maxVersionsPerRpc": "1"},
        )
        result = (
            out.filter(F.col("_change_type") == "insert")
            .select("doc_id",
                    F.col("_row_id").alias("row_id"),
                    F.col("_row_commit_version")
                    .alias("row_commit_version"),
                    F.col("_commit_version").alias("commit_version"))
        )
        rows = result.collect()  # materialize while the server lives
        return local_frame(spark, rows, result.schema)
    finally:
        srv.shutdown()
        _os.unlink(prof.name)


def forge_append_commits(path: str, n_commits: int, k0: int = 1) -> int:
    """Extend a table with ``n_commits`` one-row append commits written
    DIRECTLY in the log format (one tiny parquet + one commit JSON each)
    — the only way to build a deep commit history in seconds instead of
    minutes of Spark write jobs. Commit ``start + i`` adds a single row
    ``v = k0 + i``. Returns the new latest version. Used by the
    long-backlog streaming fixtures and the depth tests; the format
    matches TableLog's writer byte-for-byte semantics (add + commitInfo
    NDJSON lines)."""
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    log = TableLog(None, path)
    latest = log.latest_version()
    start = latest + 1
    # the real log layout's paths (not re-derived string literals, so a
    # LOG_DIR/DATA_DIR rename can't desynchronize the forged fixture)
    log_dir = log.log_path
    data_dir = log.data_path
    _os.makedirs(data_dir, exist_ok=True)
    # deterministic AND monotonic: commit timestamps must not regress
    # below the real create commit's wall clock (timestamp-based
    # resolution assumes monotone commit times)
    base_ts = max(1700000000000,
                  log.read_commit(latest).timestamp + 1)
    for i in range(n_commits):
        v = start + i
        k = k0 + i
        fn = f"forge-{v:08d}.parquet"
        pq.write_table(pa.table({"v": pa.array([k], pa.int64())}),
                       _os.path.join(data_dir, fn))
        size = _os.path.getsize(_os.path.join(data_dir, fn))
        stats = _json.dumps({"numRecords": 1, "minValues": {"v": k},
                             "maxValues": {"v": k}, "nullCount": {"v": 0}})
        add = {"path": f"data/{fn}", "partitionValues": {}, "size": size,
               "stats": stats, "dataChange": True, "version": None,
               "timestamp": None}
        ci = {"version": v, "timestamp": base_ts + (v - start), "operation": "WRITE",
              "operationParameters": {}, "operationMetrics":
              {"numFiles": "1"}}
        with open(_os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
            f.write(_json.dumps({"add": add}) + "\n")
            f.write(_json.dumps({"commitInfo": ci}) + "\n")
    return start + n_commits - 1


_DEEP_LOG_COMMITS = 200


def _deep_log(spark: SparkSession, sf_dir: str) -> str:
    from delta_sharing_spark.workloads.engine import _fixture

    def build(spark: SparkSession, path: str) -> None:
        log = TableLog(spark, path)
        log.create(spark.range(1).selectExpr("CAST(0 AS LONG) AS v")
                   .coalesce(1), name="deep_log",
                   # forged commits don't maintain checkpoints; disable
                   # the interval so snapshot resolution replays the log
                   configuration={"checkpointInterval": "0"})
        forge_append_commits(path, _DEEP_LOG_COMMITS, k0=1)

    return _fixture(spark, sf_dir, "deep_log", build)


@workload(
    "stream_remote_deep_drain",
    oracle=f"""
    SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM generate_series(1, {_DEEP_LOG_COMMITS}) t(v)
    """,
)
def stream_remote_deep_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure at DEPTH: a {200}-commit backlog drained over a live
    http profile in ``maxVersionsPerRpc=20`` windows. Value gate: the
    drained rows replay exactly (commit v carries row v). Plan-cost
    gate, asserted in-line against the server's request log: the whole
    drain costs O(backlog / maxVersionsPerRpc) version-range RPCs — the
    commit-parse cache never re-fetches a window — and the planner's
    commit cache is pruned below the committed offset (bounded driver
    memory; ref DeltaSharingSource.scala:277-322 windowing +
    getTableVersion polling)."""
    import json as _json
    import os as _os
    import tempfile

    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.server import SharingServer

    path = _deep_log(spark, sf_dir)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "deep_log", path)
    srv = SharingServer(cat, bearer_token="driver-token")
    url = srv.serve_background()
    prof = tempfile.NamedTemporaryFile(mode="w", suffix=".json",
                                       delete=False)
    _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "driver-token"}, prof)
    prof.close()
    try:
        out, _ = _drain(
            spark, f"{prof.name}#s.d.deep_log",
            {"startingVersion": "0", "maxFilesPerTrigger": "64",
             "maxVersionsPerRpc": "20"},
        )
        result = out.agg(
            F.count("*").alias("n_rows"),
            F.sum("v").alias("sum_v"),
            F.max("v").alias("max_v"),
        )
        rows = result.collect()  # materialize while the server lives
        ranges = [r for r in srv.request_log if "startingVersion=" in r]
        budget = _DEEP_LOG_COMMITS // 20 + 4  # windows + boundary fudge
        if len(ranges) > budget:
            # explicit raise (not assert): the gate must survive -O and
            # fail as a clean, attributable error, not an AssertionError
            # aborting a data-producing query
            raise RuntimeError(
                f"deep drain cost {len(ranges)} range RPCs for "
                f"{_DEEP_LOG_COMMITS} commits at maxVersionsPerRpc=20 "
                f"(budget {budget}) — the window cache regressed")
        return local_frame(spark, rows, result.schema)
    finally:
        srv.shutdown()
        _os.unlink(prof.name)


def _events_schema_evolution(spark: SparkSession, sf_dir: str) -> str:
    """5-version fixture for tracked schema evolution: create(3 cols) ->
    enable column mapping -> append -> DROP COLUMN value -> append (2
    cols). Scale-relative predicates (event_id % 4) so the same fixture
    is valid at every SF."""
    from delta_sharing_spark.workloads.engine import _fixture

    def build(spark: SparkSession, path: str) -> None:
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value")
        log = TableLog(spark, path)
        log.create(ev.filter("event_id % 4 = 0"), name="events_evolve")
        log.enable_column_mapping()
        log.append(ev.filter("event_id % 4 = 1"))
        log.drop_column("value")
        log.append(ev.filter("event_id % 4 = 2")
                   .select("event_id", "event_type"))

    return _fixture(spark, sf_dir, "events_schema_evolution", build)


@workload(
    "stream_schema_evolution_drain",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_id % 4 <= 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_value,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events WHERE event_id % 4 <= 2
    """,
)
def stream_schema_evolution_drain(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """schemaTrackingLocation evolution protocol end-to-end (the engine's
    analogue of Delta's DeltaSourceMetadataTrackingLog): a stream over a
    log containing a DROP COLUMN drains every pre-change file, persists
    the evolved schema, fails retryable, and the restarted query (same
    checkpoint) continues under the new schema. The drained union —
    pre-drop rows with values, post-drop rows without — must match the
    SQL oracle exactly-once."""
    import tempfile

    from pyspark.sql.streaming import StreamingQueryException

    path = _events_schema_evolution(spark, sf_dir)
    spark.dataSource.register(SharedTableDataSource)
    with tempfile.TemporaryDirectory() as tmp:
        out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
        track = f"{tmp}/track"
        for _attempt in range(4):  # one restart per evolution boundary
            q = (spark.readStream.format("deltashare").option("path", path)
                 .option("startingVersion", "0")
                 .option("maxFilesPerTrigger", "2")
                 .option("schemaTrackingLocation", track)
                 .load()
                 .writeStream.format("parquet").option("path", out_dir)
                 .option("checkpointLocation", ckpt)
                 .trigger(processingTime="200 milliseconds")
                 .queryName(f"dss_evolve_{uuid.uuid4().hex[:8]}")
                 .start())
            try:
                q.processAllAvailable()
                q.stop()
                break
            except StreamingQueryException:
                q.stop()  # evolution boundary: schema persisted, restart
        out = spark.read.option("mergeSchema", "true").parquet(out_dir)
        result = out.agg(
            F.count("*").alias("n_rows"),
            F.count("value").alias("n_with_value"),
            F.countDistinct("event_id").alias("n_ids"),
        )
        rows = result.collect()  # materialize before the tempdir vanishes
    return local_frame(spark, rows, result.schema)
