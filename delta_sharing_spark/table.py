"""SharedTable — snapshot reads with pruning, stats skipping and limit hints.

Re-expresses the reference's QueryTable pipeline
(server/.../DeltaSharedTable.scala:338-556: snapshot resolve -> json predicate
filter -> SQL hint filter -> limit -> page) as DataFrame operations:

- snapshot resolution / time travel  -> TableLog.snapshot(version|timestamp)
- jsonPredicateHints (V1+V2 stats)   -> manifest filter (plans/predicates.py)
- predicateHints (SQL, partitions)   -> manifest filter
- limitHint                          -> running-sum cutoff over numRecords
                                        (ref DeltaSharedTableKernel.scala:446-449)
- file list -> DataFrame             -> spark.read.parquet(files, basePath=...)
                                        with Hive partition discovery, then
                                        projection normalization (cast to the
                                        declared schema, null-fill missing
                                        columns, schema column order — ref
                                        python/delta_sharing/reader.py:630-674)

Scale notes (100 TB): the manifest prune is itself a DataFrame job, so a
table with millions of files prunes in parallel; the data scan is a plain
parquet scan, so Catalyst pushes row-level filters/projections into the
vectorized reader on top of our file-level prune.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_sharing_spark.plans.actions import (
    AddCDCFile,
    AddFile,
    RemoveFile,
    parse_action,
)
from delta_sharing_spark.plans.log import (
    Snapshot,
    TableLog,
    VersionNotFoundError,
    derive_wire_protocol,
    wire_protocol,
)
from delta_sharing_spark.plans.predicates import (
    file_keep_condition,
    keep_file,
    parsed_stat_fields,
    sql_hint_keep_condition,
)

# Where a prune runs is decided in ONE place, ``SharedTable.
# _prunes_on_driver``: a snapshot whose file list is in memory, or cheap to
# load (at most this many files), and no SQL hints prunes as a driver loop
# over ``snapshot.files`` and keeps the AddFile objects themselves. Every
# other prune is a DataFrame filter over ``TableLog.files_df`` that
# collects the kept ``path, action_json``. That DataFrame is driver-
# resident up to Spark's local-relation bound (about 80k files at the
# default 48 MB): Catalyst evaluates the filter while optimizing, with no
# Spark job and no AddFile objects. Above the bound it scans the
# checkpoint, and the prune is a Spark job (~0.3-0.4 s of fixed overhead)
# that scales out where a driver loop would not. SQL hints need Catalyst
# (F.expr), so they always take the DataFrame side. The reference pages
# file listings at 10k for the same crossover reason (ServerConfig.scala:
# 93). Both evaluators implement identical three-valued semantics,
# enforced by the hypothesis property suite (tests/test_property_pruning.py)
# under both manifest storages.
PRUNE_DRIVER_MAX_FILES = 10_000

# Page tokens expire after 3 days (ref queryTablePageTokenTtlMs,
# ServerConfig.scala:94)
PAGE_TOKEN_TTL_MS = 3 * 24 * 3_600_000


def _limit_cutoff(records, limit_hint: int) -> int:
    """How many files, in path order, a ``limit_hint`` keeps: each file
    while the rows of the files before it stay below the limit (kernel
    early-termination semantics: DeltaSharedTableKernel.scala:446-449,
    723-733). ``records`` is the files' row counts (None counts 0); it is
    read only up to the cutoff."""
    kept = total = 0
    for n in records:
        if total >= limit_hint:
            break
        kept, total = kept + 1, total + (n or 0)
    return kept


def wire_file(log: TableLog, f: "AddFile | RemoveFile | AddCDCFile",
              version: int, timestamp: int,
              row_tracking: bool = True) -> "dict[str, Any]":
    """The wire fields of one add, remove or cdf action — ONE encoder for
    the snapshot, version-range and changes forms: the absolute url, the
    relative path as id, and the commit ``version``/``timestamp``. An add
    also carries its stats, its row-tracking fields and its deletion
    vector."""
    out: dict[str, Any] = {
        "url": log.abs_path(f.path), "id": f.path,
        "partitionValues": f.partitionValues, "size": f.size,
        "timestamp": timestamp, "version": version}
    if not isinstance(f, AddFile):
        return out
    out["stats"] = f.stats
    if row_tracking and f.baseRowId is not None:
        # row-tracking fields ride the wire so a remote client can
        # reconstruct stable _row_id/_row_commit_version (Delta AddFile
        # carries them; the delta response format passes them through
        # verbatim, and this engine's parquet profile includes them as
        # optional extras)
        out["baseRowId"] = f.baseRowId
        out["defaultRowCommitVersion"] = (
            f.defaultRowCommitVersion
            if f.defaultRowCommitVersion is not None else version)
    if f.deletionVector:
        # the add's logical content excludes DV-masked rows: without the
        # descriptor a consumer re-serves deleted rows. Path-based DVs go
        # on the wire absolute (like file urls); inline DVs carry the
        # encoded vector itself
        dv = dict(f.deletionVector)
        if dv.get("storageType") == "u":
            dv["pathOrInlineDv"] = log.abs_path(dv["pathOrInlineDv"])
        out["deletionVector"] = dv
    return out


def page_checksum(params: "dict[str, Any]") -> str:
    """md5 over the canonical JSON of every page-shaping query parameter —
    INCLUDING the table identity — so a token replayed with different
    parameters or against a different table is rejected rather than
    silently serving a page of the wrong query (ref
    QueryTablePageToken.expectedChecksum + tableConfig.id binding,
    DeltaSharedTable.scala). ONE definition shared by the snapshot, range
    and changes forms, so the three RPCs cannot drift."""
    import hashlib

    return hashlib.md5(json.dumps(
        params, sort_keys=True, default=str).encode()).hexdigest()[:16]


def mint_page_token(payload: "dict[str, Any]", checksum: str) -> str:
    """Encode a page token: caller payload + checksum + TTL expiration
    (ref queryTablePageTokenTtlMs = 3 days, ServerConfig.scala:94)."""
    import base64
    import time as _time

    return base64.urlsafe_b64encode(json.dumps({
        **payload, "checksum": checksum,
        "expiration": int(_time.time() * 1000) + PAGE_TOKEN_TTL_MS,
    }).encode()).decode()


def decode_page_token(token: str, checksum: str) -> "dict[str, Any]":
    """Decode + validate a page token against the current query's
    checksum and the TTL; reference error-text parity."""
    import base64
    import time as _time

    decoded = json.loads(base64.urlsafe_b64decode(token))
    if decoded.get("checksum", checksum) != checksum:
        raise ValueError("page token bound to different query parameters")
    if decoded.get("expiration", float("inf")) < _time.time() * 1000:
        raise ValueError("page token expired")
    return decoded


class ActionPager:
    """Page-gate + resume bookkeeping shared by the paged version-range
    and changes forms — ONE definition of the boundary rules, like the
    token helpers above, so the two RPCs cannot drift. FILE actions count
    toward ``max_files`` and cut the page; non-file lines (metaData /
    protocol) ride with the page containing their neighbouring files, and
    a non-file line arriving on an exactly-full page mints the
    continuation token immediately so trailing metadata-only commits are
    never dropped (the reference cuts pages on file actions only —
    DeltaSharedTable.scala queryCDF). Tokens carry ``{start, end, v,
    vbase[, pcm]}``: the resume version + files-seen-before-it (+ the
    column-mapping baseline at its start), so a page at any offset parses
    O(page) commits, never O(offset) — reference tokens pair version +
    startingActionIndex (DeltaSharedTable.scala:606,777).

    Drive it per commit: ``skip_commit(v)`` (true before the resume
    version), ``begin_commit(v)`` (checkpoints the token fields), then
    ``emit_file`` / ``emit_meta`` per action line. ``prev_cm`` (the
    running column-mapping baseline the protocol derivation reads) is
    owned here so the resume override and the per-commit checkpoint can't
    drift from the caller's running value — callers read and assign
    ``pager.prev_cm`` directly."""

    def __init__(self, *, start_version: int, end: int, start_idx: int,
                 max_files: "int | None", checksum: str,
                 prev_cm: "bool | None" = None, carry_pcm: bool = False,
                 resume: "dict[str, Any] | None" = None,
                 error_cls: type = ValueError):
        # the caller's wire-error taxonomy: the changes form passes
        # CDFError so every range error it surfaces maps to the same
        # HTTP status; the version-range form keeps ValueError
        self.error_cls = error_cls
        self.end = end
        self.start_idx = start_idx
        self.max_files = max_files
        self.checksum = checksum
        self.carry_pcm = carry_pcm
        self.prev_cm = prev_cm
        self.lines: "list[dict[str, Any]]" = []
        self.seen = 0
        self.emitted = 0
        self.next_token: "str | None" = None
        self.filled = False
        self._cur_v = start_version
        self._commit_base = 0
        self._commit_pcm = prev_cm
        self._resume_v: "int | None" = None
        if resume is not None and resume.get("v") is not None:
            self._resume_v = int(resume["v"])
            self.seen = self._commit_base = int(resume.get("vbase", 0))
            if carry_pcm and "pcm" in resume:
                self.prev_cm = self._commit_pcm = bool(resume["pcm"])

    def skip_commit(self, v: int) -> bool:
        return self._resume_v is not None and v < self._resume_v

    def check_resume_available(self, versions: "list[int]") -> None:
        """A resume token must land on a version still IN the log: if
        ``expire_log`` removed the resume version mid-pagination, the walk
        would otherwise silently skip every unserved file action that
        lived in the expired commits (and the ``seen`` bookkeeping would
        misalign) — fail the page loudly instead, like any other
        time-travel past the retention floor."""
        if self._resume_v is not None and self._resume_v not in versions:
            raise self.error_cls(
                f"page token resumes at version {self._resume_v}, which "
                "has been expired from the log mid-pagination; re-issue "
                "the query")

    def begin_commit(self, v: int) -> None:
        self._cur_v = v
        self._commit_base = self.seen
        self._commit_pcm = self.prev_cm

    def _mint(self, start_pos: int) -> str:
        payload: "dict[str, Any]" = {
            "start": start_pos, "end": self.end, "v": self._cur_v,
            "vbase": self._commit_base}
        if self.carry_pcm:
            payload["pcm"] = self._commit_pcm
        return mint_page_token(payload, self.checksum)

    def emit_file(self, line: "dict[str, Any]") -> None:
        """Page gate over FILE actions: skip below start_idx, cut +
        mint the continuation token at max_files."""
        self.seen += 1
        if self.seen <= self.start_idx or self.filled:
            return
        if self.max_files is not None and self.emitted >= self.max_files:
            self.next_token = self._mint(self.seen - 1)
            self.filled = True
            return
        self.emitted += 1
        self.lines.append(line)

    def emit_meta(self, line: "dict[str, Any]") -> None:
        """Non-file lines: skipped before the page region; once the page
        is full a non-file line belongs to the NEXT page, so the token is
        minted at ``seen`` (all files so far) — the resumed page skips the
        already-served files and re-reaches this line, landing a boundary
        commit's metaData/protocol on exactly one page."""
        if self.seen < self.start_idx or self.filled:
            return
        if self.max_files is not None and self.emitted >= self.max_files:
            self.next_token = self._mint(self.seen)
            self.filled = True
            return
        self.lines.append(line)


class UnsupportedTableFeatureError(ValueError):
    """The table requires reader features the requested response format
    cannot represent — e.g. a column-mapped table over the parquet profile,
    whose files store PHYSICAL column names an external parquet reader
    cannot decode against the logical schemaString. The reference forces
    such tables through the delta response format (kernel gating,
    DeltaSharedTableKernel.scala:567-585; PROTOCOL.md:4014-4137
    readerFeatures)."""


class SharedTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.log = TableLog(spark, path)

    # ----------------------------------------------------------- metadata API

    def version(self, starting_timestamp: str | None = None) -> int:
        """QueryTableVersion (ref DeltaSharedTable.scala:143-166): latest
        version, or the earliest version at/after ``starting_timestamp``."""
        if starting_timestamp is None:
            return self.log.latest_version()
        return self.log.earliest_version_at_or_after(starting_timestamp)

    def metadata(self, version: int | None = None,
                 timestamp: str | None = None) -> dict[str, Any]:
        """QueryTableMetadata (ref DeltaSharedTable.scala:316-366 service path,
        query with includeFiles=false)."""
        snap = self.log.snapshot(version=version, timestamp=timestamp)
        meta = snap.metadata
        # crc sidecar / manifest-plane agg — never materializes the file
        # list for a count (this line rides EVERY query RPC's head)
        num_files, size = self.log.file_counts(snap)
        return {
            "id": meta.id,
            "name": meta.name,
            "format": meta.format,
            "schemaString": meta.schemaString,
            "partitionColumns": meta.partitionColumns,
            "configuration": meta.configuration,
            "version": snap.version,
            "numFiles": num_files,
            "size": size,
        }

    # Above this many commits, DESCRIBE HISTORY builds from a distributed
    # text scan of the commit files instead of a driver loop (same
    # crossover rationale as PRUNE_DRIVER_MAX_FILES: a Spark job costs
    # ~0.3 s fixed, a driver loop over 100k commit files costs minutes).
    HISTORY_DRIVER_MAX_COMMITS = 512

    def detail(self) -> DataFrame:
        """DESCRIBE DETAIL as a one-row DataFrame: format, id, name,
        location, createdAt, lastModified, partitionColumns, numFiles,
        sizeInBytes, properties, minReaderVersion — Delta's detail
        surface. numFiles/sizeInBytes come from the version's ``.crc``
        checksum sidecar when present (O(1), no file-list walk at 100 TB
        — the point of the sidecar), else from the snapshot."""
        from pyspark.sql import types as T

        snap = self.log.snapshot()
        crc = self.log.read_crc(snap.version)
        if crc is not None:
            num_files, size = crc["numFiles"], crc["tableSizeBytes"]
            clustering = crc.get("clusteringColumns")
            if clustering is None:  # pre-clustering-aware sidecar
                clustering = self.log._find_clustering_columns(snap.version)
        else:
            num_files, size = self.log.file_counts(snap)
            clustering = self.log._find_clustering_columns(snap.version)
        declared = snap.metadata.configuration.get(
            self.log.CLUSTERING_KEY)
        if declared:  # declared clustering wins over last-ZORDER history
            clustering = declared.split(",")
        meta = snap.metadata
        schema = T.StructType([
            T.StructField("format", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("location", T.StringType()),
            T.StructField("createdAt", T.LongType()),
            T.StructField("lastModified", T.LongType()),
            T.StructField("partitionColumns",
                          T.ArrayType(T.StringType())),
            T.StructField("numFiles", T.LongType()),
            T.StructField("sizeInBytes", T.LongType()),
            T.StructField("properties",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("minReaderVersion", T.IntegerType()),
            T.StructField("clusteringColumns",
                          T.ArrayType(T.StringType())),
        ])
        return self.spark.createDataFrame([(
            (meta.format or {}).get("provider", "parquet")
            if isinstance(meta.format, dict) else "parquet",
            meta.id, meta.name, self.log.path,
            meta.createdTime, snap.timestamp,
            list(meta.partitionColumns or []),
            int(num_files), int(size),
            dict(meta.configuration or {}),
            2 if snap.column_mapping else 1,
            list(clustering),
        )], schema)

    def clustering_report(self, columns: list[str] | None = None,
                          probes: int = 32) -> DataFrame:
        """Clustering-quality diagnostic (liquid-clustering-style): per
        clustered column, stats coverage, mean normalized min-max width,
        and ``avg_files_per_probe`` — the measured expected number of
        files a stats-pruned point lookup still scans. Defaults to the
        last ZORDER commit's column set; see TableLog.clustering_report."""
        return self.log.clustering_report(columns=columns, probes=probes)

    def history(self, limit: int | None = None) -> DataFrame:
        """DESCRIBE HISTORY as a DataFrame (newest first): version,
        timestamp, operation, operationParameters, operationMetrics —
        the commitInfo surface the reference's history manager exposes
        (DeltaSharingHistoryManager commit enumeration).

        ``LIMIT N`` reads the newest N commit files lazily; an unbounded
        history over a long log runs as a Spark job over the commit NDJSON
        (one text scan + a broadcast join against the version manifest),
        so driver time stays O(#versions listed), never O(bytes parsed)."""
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("version", T.LongType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("operationParameters",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("operationMetrics",
                          T.MapType(T.StringType(), T.StringType())),
        ])
        versions = self.log._list_versions()
        wanted = versions if limit is None else versions[
            max(0, len(versions) - limit):]
        if len(wanted) <= self.HISTORY_DRIVER_MAX_COMMITS:
            rows = []
            # lazy newest-first walk: DESCRIBE HISTORY LIMIT N reads N
            # commit files, not the whole log
            for v in reversed(wanted):
                c = self.log.read_commit(v)
                info = c.info
                rows.append((
                    c.version, c.timestamp,
                    info.operation if info else None,
                    dict(info.operationParameters) if info else {},
                    dict(info.operationMetrics) if info else {},
                ))
            return self.spark.createDataFrame(rows, schema)
        # distributed build: scan the wanted commit files as text, parse
        # only the commitInfo lines, left-join onto the (version) manifest
        # so info-less commits still get a row — executors parse, the
        # driver never opens a commit file
        import os as _os

        info_schema = T.StructType([T.StructField("commitInfo", T.StructType([
            T.StructField("timestamp", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("operationParameters",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("operationMetrics",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("inCommitTimestamp", T.LongType()),
        ]))])
        paths = [_os.path.join(self.log.log_path, f"{v:020d}.json")
                 for v in wanted]
        txt = self.spark.read.text(paths)
        infos = (
            txt.filter(F.col("value").contains('"commitInfo"'))
            .select(
                F.regexp_extract(F.input_file_name(),
                                 r"0*([0-9]+)\.json", 1)
                .cast("long").alias("version"),
                F.from_json("value", info_schema).alias("a"),
            )
            .select(
                "version",
                F.coalesce("a.commitInfo.inCommitTimestamp",
                           "a.commitInfo.timestamp").alias("timestamp"),
                F.col("a.commitInfo.operation").alias("operation"),
                F.col("a.commitInfo.operationParameters")
                .alias("operationParameters"),
                F.col("a.commitInfo.operationMetrics")
                .alias("operationMetrics"),
            )
        )
        manifest = self.spark.createDataFrame(
            [(v,) for v in wanted], "version long")
        empty_map = F.expr("map()").cast("map<string,string>")
        return (
            manifest.join(infos, "version", "left")
            .select(
                "version",
                F.coalesce("timestamp", F.lit(0)).alias("timestamp"),
                "operation",
                F.coalesce("operationParameters", empty_map)
                .alias("operationParameters"),
                F.coalesce("operationMetrics", empty_map)
                .alias("operationMetrics"),
            )
            .orderBy(F.desc("version"))
        )

    # ---------------------------------------------------------------- pruning

    def pruned_files(
        self,
        snapshot: Snapshot,
        json_predicate_hints: str | dict | None = None,
        predicate_hints: list[str] | None = None,
        limit_hint: int | None = None,
    ) -> list[str]:
        """The kept files' paths. No package code calls this: read the
        paths off ``kept_adds``. It stays because the benchmark's tracer
        (perfbench/trace.py) wraps it by name."""
        return [a.path for a in self.kept_adds(
            snapshot, json_predicate_hints, predicate_hints, limit_hint)]

    @staticmethod
    def _prunes_on_driver(snapshot: Snapshot,
                          predicate_hints: list[str] | None) -> bool:
        """Whether a prune runs as a driver loop over ``snapshot.files``
        (see PRUNE_DRIVER_MAX_FILES): no SQL hints, and the file list is
        already in memory or small. The size check reads the lazy hint
        (checkpoint row count + tail), so a big manifest is never
        materialized just to count it."""
        return not predicate_hints and (
            snapshot.files_materialized
            or (snapshot.num_files_hint or 0) <= PRUNE_DRIVER_MAX_FILES)

    def kept_adds(
        self,
        snapshot: Snapshot,
        json_predicate_hints: str | dict | None = None,
        predicate_hints: list[str] | None = None,
        limit_hint: int | None = None,
    ) -> list[AddFile]:
        """The prune and the fetch of the kept ``AddFile``s (path-sorted)
        in one step — the serving plane's only prune. Order mirrors the
        reference: json predicates (stats + partitions, Unknown keeps) ->
        SQL hints (partitions only, best-effort) -> limit cutoff on
        cumulative numRecords.

        ``_prunes_on_driver`` picks the side. The driver loop filters the
        in-memory file list with the sessionless evaluator and runs no
        Spark job. Otherwise the kept ``path, action_json`` rows are
        collected from the pruned manifest: no Spark job while
        ``files_df`` is driver-resident, ONE above Spark's local-relation
        bound (plus the limit cutoff's own jobs there)."""
        # column mapping: file partitionValues/stats are keyed by PHYSICAL
        # names — translate the hints (and evaluate against the physical
        # partition columns) or pruning silently degrades to keep-all
        json_predicate_hints = self.log._physical_hints(
            snapshot, json_predicate_hints)
        if not self._prunes_on_driver(snapshot, predicate_hints):
            return self._manifest_adds(self._pruned_manifest(
                snapshot, json_predicate_hints, predicate_hints,
                limit_hint))
        pcols = snapshot.physical_partition_columns
        files = [  # path-sorted by Snapshot construction
            f for f in snapshot.files
            if not json_predicate_hints
            or keep_file(json_predicate_hints, f.partitionValues,
                         f.stats_dict(), pcols)]
        if limit_hint is not None:
            files = files[:_limit_cutoff(
                (f.logical_records for f in files), limit_hint)]
        return files

    @staticmethod
    def _manifest_adds(manifest: DataFrame) -> list[AddFile]:
        """The actions of a (pruned) manifest, path-sorted."""
        rows = manifest.select("path", "action_json").collect()
        return [parse_action(r["action_json"])
                for r in sorted(rows, key=lambda r: r["path"])]

    def _pruned_manifest(
        self,
        snapshot: Snapshot,
        json_predicate_hints: dict | None,
        predicate_hints: list[str] | None,
        limit_hint: int | None,
    ) -> DataFrame:
        """The manifest DataFrame with every prune applied (json
        predicates -> SQL hints -> limit cutoff) — the DataFrame side of
        ``kept_adds``, also consumed directly by the paged wire
        path so a page RPC over a huge lazy manifest never collects the
        full kept set. ``json_predicate_hints`` must already be
        translated to physical names (``_physical_hints``)."""
        manifest = self.log.files_df(snapshot)
        pcols = snapshot.physical_partition_columns
        if json_predicate_hints:
            # typed-stats prune wherever the manifest carries the parsed
            # structs (post-r10 checkpoints); per-column JSON fallback
            # otherwise — same three-valued keep semantics either way
            manifest = manifest.filter(
                file_keep_condition(json_predicate_hints, pcols,
                                    parsed_stat_fields(manifest))
            )
        for hint in predicate_hints or []:
            # SQL hints are best-effort: under column mapping a hint
            # naming a renamed logical column simply fails to translate
            # and prunes nothing (safe superset)
            cond = sql_hint_keep_condition(hint, pcols,
                                           snapshot.physical_schema)
            if cond is not None:
                manifest = manifest.filter(cond)
        if limit_hint is not None:
            manifest = self._limit_prefix_filter(manifest, limit_hint)
        return manifest

    @staticmethod
    def _prefix_filtered(m: DataFrame, offsets: dict[int, int],
                         limit_hint: int) -> DataFrame:
        """Phase 2 of the prefix sum: per-partition running totals shifted
        by the broadcast offsets. Split out so tests and the scale bench
        can assert on THIS plan — the window must be partitioned by _pid
        (a global-order window would funnel the manifest into one task)."""
        from pyspark.sql import Window

        offset_col = F.element_at(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            ),
            F.col("_pid"),
        ) if offsets else F.lit(0)
        w = (
            Window.partitionBy("_pid").orderBy("path")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            m.withColumn(
                "_prev_rows",
                offset_col
                + F.coalesce(F.sum("numRecords").over(w), F.lit(0)),
            )
            .filter(F.col("_prev_rows") < limit_hint)
            .drop("_prev_rows", "_pid")
        )

    @staticmethod
    def _limit_prefix_filter(manifest: DataFrame, limit_hint: int) -> DataFrame:
        """Keep files while the running row count of *previous* files (in
        path order) is below the limit (kernel early-termination semantics:
        DeltaSharedTableKernel.scala:446-449,723-733).

        A driver-resident manifest collects its ``path, numRecords`` with
        no Spark job, so the prefix sum is a driver sort there. Otherwise,
        a distributed two-phase prefix sum — no unpartitioned window: range-
        partition the manifest by path (persisted, because the range
        partitioner samples per job — both phases must see the SAME
        boundaries), collect the P per-partition totals (P rows, not P
        files), compute each partition's starting offset in the driver, and
        finish with a window PARTITIONED by partition id. Every WindowExec
        instance sees one partition's rows, so a million-file manifest
        never funnels through a single task."""
        from pyspark.storagelevel import StorageLevel

        if TableLog._driver_resident(manifest):
            # the kept files are a path-order prefix: one range predicate
            # folds back in (an IN list of them would be evaluated per
            # row and per listed path)
            rows = sorted(manifest.select("path", "numRecords").collect())
            kept = _limit_cutoff((n for _, n in rows), limit_hint)
            return manifest.filter(F.col("path") <= rows[kept - 1][0]
                                   if kept else F.lit(False))
        parts = max(1, manifest.sparkSession.sparkContext.defaultParallelism)
        m = (
            # ONLY the columns the prefix sum needs: dragging the wide
            # manifest payload (action_json ~400 B/file) through the
            # range shuffle + persist costs ~7x at a million files; the
            # kept set rejoins the full manifest by path below
            manifest.select("path", "numRecords")
            .repartitionByRange(parts, "path")
            .withColumn("_pid", F.spark_partition_id())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            totals = {
                r["_pid"]: r["t"]
                for r in m.groupBy("_pid")
                .agg(F.sum("numRecords").alias("t"))
                .collect()
            }
            offsets, acc = {}, 0
            for pid in sorted(totals):
                offsets[pid] = acc
                acc += totals[pid] or 0
            out = SharedTable._prefix_filtered(m, offsets, limit_hint)
            # materialize before unpersist so the kept set is pinned
            # to the boundaries the totals were computed from
            paths = [r["path"] for r in out.select("path").collect()]
        finally:
            m.unpersist()
        keep = manifest.sparkSession.createDataFrame(
            [(p,) for p in paths] or [], "path string")
        return manifest.join(F.broadcast(keep), "path", "left_semi")

    # ------------------------------------------------------------------ reads

    @staticmethod
    def _cast_type(dtype: T.DataType) -> T.DataType:
        """``dtype`` with every nested nullability relaxed, for use as a
        CAST target: Spark rejects casting a (parquet-nullable) struct to
        one with NOT NULL members — nullability is a table constraint the
        writer enforced, not a conversion the reader performs. The cast
        still converts every nested TYPE (the widening read path)."""
        if isinstance(dtype, T.StructType):
            return T.StructType([
                T.StructField(f.name, SharedTable._cast_type(f.dataType),
                              True, f.metadata)
                for f in dtype.fields])
        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(SharedTable._cast_type(dtype.elementType),
                               True)
        if isinstance(dtype, T.MapType):
            return T.MapType(SharedTable._cast_type(dtype.keyType),
                             SharedTable._cast_type(dtype.valueType), True)
        return dtype

    def _normalize(self, df: DataFrame, snapshot: Snapshot,
                   extras: "tuple[str, ...]" = ()) -> DataFrame:
        """Projection normalization (ref python/delta_sharing/reader.py:630-674):
        case-insensitive resolve, cast to declared types, null-fill columns
        missing from older files, order columns per the declared schema;
        the named engine-derived ``extras`` (row tracking ids etc.) are
        kept after the declared schema."""
        lower = {c.lower(): c for c in df.columns}
        cols = []
        for field in snapshot.schema.fields:
            src = lower.get(field.name.lower())
            dt = self._cast_type(field.dataType)
            if src is None:
                cols.append(F.lit(None).cast(dt).alias(field.name))
            else:
                cols.append(F.col(src).cast(dt).alias(field.name))
        return df.select(*cols, *extras)

    def to_df(
        self,
        version: int | None = None,
        timestamp: str | None = None,
        json_predicate_hints: str | dict | None = None,
        predicate_hints: list[str] | None = None,
        limit_hint: int | None = None,
        limit: int | None = None,
        row_ids: bool = False,
    ) -> DataFrame:
        """QueryTable -> DataFrame.

        ``limit_hint`` is the best-effort file cutoff; ``limit`` additionally
        applies an exact ``df.limit`` (the reference's client does the exact
        cut, python/delta_sharing/reader.py:201-224). Passing ``limit`` alone
        implies ``limit_hint=limit``.

        ``row_ids=True`` (requires ``delta.enableRowTracking``) appends the
        Delta row-tracking columns ``_row_id`` / ``_row_commit_version`` —
        stable per-row ids derived as baseRowId + parquet row index, with
        materialized overrides from maintenance rewrites.
        """
        snap = self.log.snapshot(version=version, timestamp=timestamp)
        if row_ids and not snap.row_tracking_enabled:
            raise ValueError(
                "row_ids=True requires delta.enableRowTracking=true "
                "(see TableLog.enable_row_tracking)")
        if limit is not None and limit_hint is None:
            limit_hint = limit
        kept_adds = self.kept_adds(
            snap,
            json_predicate_hints=json_predicate_hints,
            predicate_hints=predicate_hints,
            limit_hint=limit_hint,
        )
        if not kept_adds:
            empty_schema = snap.schema
            if row_ids:
                from pyspark.sql import types as T
                empty_schema = T.StructType(
                    list(snap.schema.fields)
                    + [T.StructField("_row_id", T.LongType(), True),
                       T.StructField("_row_commit_version", T.LongType(),
                                     True)])
            return self.spark.createDataFrame([], empty_schema)
        # explicit declared schema (schema-on-read): files written before a
        # schema evolution lack newer columns and must null-fill them
        # deterministically — never depend on which file Spark samples.
        # read_adds applies deletion vectors (anti-join on _metadata
        # row positions) for files that carry one.
        # snap threads column mapping through the scan: files are read
        # under PHYSICAL names and renamed back to logical (a renamed
        # column's data lives under its immutable physical name).
        if row_ids:
            df = self.log.read_adds_with_row_ids(snap, kept_adds,
                                                 schema=snap.schema)
            df = self._normalize(
                df, snap, ("_row_id", "_row_commit_version"))
        else:
            df = self.log.read_adds(kept_adds, schema=snap.schema,
                                    snap=snap)
            df = self._normalize(df, snap)
        if limit is not None:
            df = df.limit(limit)
        return df

    # -------------------------------------------------------------- wire model

    def _assert_reader_features(self, reader_features: set[str],
                                snap=None) -> None:
        """SnapshotChecker parity (server/common/SnapshotChecker.scala:
        42-70): every advanced table property of the QUERIED snapshot
        must be covered by the client's declared reader features, else
        the query is refused with an Unsupported error — never served in
        a shape the client would silently mis-read (a DV descriptor an
        unaware client drops resurrects deleted rows). Callers pass the
        ALREADY-RESOLVED snapshot they will serve (no second resolution;
        refresh-token pinning and timestamp resolution happen before the
        gate); the range form asserts BOTH endpoints so a range crossing
        a feature enablement is refused too. Asserting the queried
        snapshot (not latest) keeps pre-enablement time travel servable
        to clients without the feature."""
        if snap is None:
            snap = self.log.snapshot()
        cfg = snap.metadata.configuration or {}
        dv = cfg.get("delta.enableDeletionVectors",
                     cfg.get("enableDeletionVectors", "")).lower() == "true"
        cm = cfg.get("delta.columnMapping.mode") == "name"

        def has_ntz(dt) -> bool:
            if isinstance(dt, T.TimestampNTZType):
                return True
            if isinstance(dt, T.StructType):
                return any(has_ntz(f.dataType) for f in dt.fields)
            if isinstance(dt, T.ArrayType):
                return has_ntz(dt.elementType)
            if isinstance(dt, T.MapType):
                return has_ntz(dt.keyType) or has_ntz(dt.valueType)
            return False

        missing = []
        if dv and "deletionvectors" not in reader_features:
            missing.append("deletionVectors")
        if cm and "columnmapping" not in reader_features:
            missing.append("columnMapping")
        if has_ntz(snap.schema) and "timestampntz" not in reader_features:
            missing.append("timestampNtz")
        if missing:
            raise UnsupportedTableFeatureError(
                "table requires reader features the client did not "
                f"declare: {', '.join(missing)} (delta-sharing-"
                "capabilities: readerfeatures=...) — Unsupported Delta "
                "Table Properties")

    def query_actions(
        self,
        version: int | None = None,
        timestamp: str | None = None,
        json_predicate_hints: str | dict | None = None,
        predicate_hints: list[str] | None = None,
        limit_hint: int | None = None,
        max_files: int | None = None,
        page_token: str | None = None,
        include_refresh_token: bool = False,
        refresh_token: str | None = None,
        response_formats: "set[str] | None" = None,
        metadata_only: bool = False,
        starting_version: int | None = None,
        ending_version: int | None = None,
        include_historical_protocol: bool = False,
        include_end_stream_action: bool = False,
        reader_features: "set[str] | None" = None,
    ) -> dict[str, Any]:
        """Protocol-parity surface: the NDJSON-shaped action stream a sharing
        server would emit for this query (PROTOCOL.md:3537-3643), with offset
        page tokens (ref DeltaSharedTable.scala:363-380,499-517) and refresh
        tokens pinning latest-snapshot queries to their resolved version
        (ref DeltaSharedTable.scala:518-532, TTL 1h ServerConfig.scala:95).

        ``starting_version`` switches the query to the version-range form
        (PROTOCOL.md:2147-2152; ref queryDataChangeSinceStartVersion,
        DeltaSharedTable.scala:557-695): the response is the *data-change*
        add/remove actions of every commit in [startingVersion,
        endingVersion or latest], each stamped with its commit ``version``
        and ``timestamp``, with historical ``metaData`` actions interleaved
        for schema changes after startingVersion — the RPC that powers
        structured streaming over the sharing protocol.
        ``include_historical_protocol`` additionally inlines historical
        ``protocol`` actions for versions after startingVersion
        (PROTOCOL.md:2152; delta responses only).

        ``response_formats`` is the client's capability set (default
        ``{"parquet"}``). A column-mapped table is only representable in the
        delta format (its parquet files carry physical names); with it the
        response is forced to delta (``respondedFormat`` in the result),
        without it the query is refused — kernel gating semantics
        (DeltaSharedTableKernel.scala:567-585).

        ``reader_features`` is the client's DECLARED feature list
        (capabilities ``readerfeatures=``, lowercased). When provided it
        is authoritative: a table using deletionVectors or columnMapping
        the client did not declare is refused (the reference's
        SnapshotChecker.assertTableProperties). ``None`` (no declaration)
        keeps the engine's documented legacy behavior — descriptors are
        served and the delta-format gate alone protects column mapping.

        ``metadata_only`` (getTableMetadata) lists no files: the response
        is the ``protocol`` and ``metaData`` lines, whose counts come from
        the memoized ``file_counts``. A listing prunes where
        ``_prunes_on_driver`` says. An unpaged listing fetches its kept
        actions through ``kept_adds``; a paged listing that does not
        prune on the driver cuts its page from the pruned manifest (no
        Spark job while the manifest is driver-resident, one above
        Spark's local-relation bound). A paged listing ignores SQL hints
        in that choice, so it never materializes a large lazy
        snapshot."""
        import base64
        import time as _time

        # version/timestamp/startingVersion are mutually exclusive (ref
        # DeltaSharedTable.scala:358-361; error text
        # ErrorStrings.multipleParametersSetErrorMsg, exceptions.scala:57-59)
        if sum(x is not None
               for x in (version, timestamp, starting_version)) > 1:
            raise ValueError(
                "Please only provide one of: version,timestamp,"
                "startingVersion")
        if starting_version is not None and starting_version < 0:
            # ref DeltaSharingService.scala:473-475
            raise ValueError("startingVersion cannot be negative.")
        if (starting_version is not None and ending_version is not None
                and starting_version > ending_version):
            # ref DeltaSharingService.scala:538-543
            raise ValueError(
                f"startingVersion({starting_version}) must be smaller than "
                f"or equal to endingVersion({ending_version}).")
        if starting_version is not None:
            if reader_features is not None:
                # a range serves actions from EVERY commit in [start,
                # end]: assert both endpoints, so a range crossing a
                # feature-enablement commit (DV descriptors appearing
                # mid-range) is refused for undeclared clients too —
                # features only ever turn on going forward, so the two
                # endpoint configurations bound the range
                latest = self.log.latest_version()
                self._assert_reader_features(
                    reader_features, self.log.snapshot(
                        version=min(starting_version, latest)))
                end_v = (ending_version if ending_version is not None
                         else latest)
                self._assert_reader_features(
                    reader_features,
                    self.log.snapshot(version=min(end_v, latest)))
            return self._query_range_actions(
                starting_version, ending_version, max_files, page_token,
                response_formats, include_historical_protocol,
                json_predicate_hints=json_predicate_hints,
                predicate_hints=predicate_hints, limit_hint=limit_hint,
                include_end_stream_action=include_end_stream_action,
            )
        formats = {f.strip().lower()
                   for f in (response_formats or {"parquet"})}
        if refresh_token:
            decoded_rt = json.loads(base64.urlsafe_b64decode(refresh_token))
            if decoded_rt.get("expiration", 0) < _time.time() * 1000:
                raise ValueError("refresh token expired")
            if version is None and timestamp is None:
                version = int(decoded_rt["version"])
        was_latest = version is None and timestamp is None
        snap = self.log.snapshot(version=version, timestamp=timestamp)
        if reader_features is not None:
            # gate AFTER refresh-token pinning and timestamp resolution,
            # on the exact snapshot this query serves (a refresh of a
            # pre-enablement pinned version must stay servable; no
            # second timestamp->version scan)
            self._assert_reader_features(reader_features, snap)
        if snap.column_mapping:
            if "delta" in formats:
                responded_format = "delta"
            elif metadata_only:
                # getTableMetadata returns the requested format without the
                # feature gate (getRespondedFormat's size==1 head,
                # DeltaSharedTableKernel.scala:569-573) — the protocol line's
                # minReaderVersion=2 tells the client what a read would need
                responded_format = "parquet"
            else:
                raise UnsupportedTableFeatureError(
                    "table requires reader feature 'columnMapping' "
                    "(delta.columnMapping.mode=name), which the parquet "
                    "response format cannot represent; request the table "
                    "with delta-sharing-capabilities: responseformat=delta")
        else:
            # both supported + no advanced features -> parquet (ref
            # getRespondedFormat, DeltaSharedTableKernel.scala:567-585)
            responded_format = "parquet" if "parquet" in formats else "delta"
        new_refresh_token = None
        if include_refresh_token and was_latest:
            new_refresh_token = base64.urlsafe_b64encode(json.dumps({
                "version": snap.version,
                "expiration": int(_time.time() * 1000) + 3_600_000,
            }).encode()).decode()
        # token checksums every query parameter + the table identity
        # (shared helper — see page_checksum)
        checksum = page_checksum({
            "path": self.log.path,
            "predicateHints": predicate_hints,
            "jsonPredicateHints": json_predicate_hints,
            "limitHint": limit_hint,
            "timestamp": timestamp,
        })
        start = 0
        last_path = None
        if page_token:
            decoded = decode_page_token(page_token, checksum)
            if decoded.get("version") != snap.version:
                raise ValueError("page token bound to a different version")
            start = int(decoded.get("start", 0))
            last_path = decoded.get("lastPath")
        next_token = None
        if metadata_only:
            page = []  # getTableMetadata (includeFiles=false): no listing
        elif (max_files is not None
                and not self._prunes_on_driver(snap, None)):
            # paged query over a large LAZY manifest (SQL hints do not
            # matter here): prune + path-order + page cut run as ONE
            # Spark job (none while the manifest is driver-resident,
            # below) and the driver holds only the served page's
            # actions — a 5M-file table never materializes 5M AddFiles
            # to serve a 1000-file page (the
            # reference kernel's per-batch iteration with early stop,
            # DeltaSharedTableKernel.scala:293-297,446-449). Fetching
            # max_files+1 rows answers has-next without a count job.
            #
            # Pages cut by PATH RANGE, not row offset: the token carries
            # the last served path, so page N+1 is filter(path > last) +
            # top-(page+1) — every page pays the same top-k heap of ONE
            # page size, and the path predicate pushes into the
            # checkpoint's parquet scan. An offset cut would grow the
            # heap to offset+page rows and re-discard every earlier page
            # per request (measured: page 2 ≥ page 1 at 10M files).
            jph = self.log._physical_hints(snap, json_predicate_hints)
            manifest = self._pruned_manifest(
                snap, jph, predicate_hints, limit_hint)
            sel = manifest.select("path", "action_json")
            if last_path is not None:
                sel = sel.filter(F.col("path") > last_path)
            if self.log._driver_resident(manifest) and (
                    last_path is not None or not start):
                # a driver-resident manifest is path-sorted and Catalyst
                # folds the filter and the limit into its LocalRelation:
                # no sort, no Spark job
                rows = sel.limit(max_files + 1).collect()
            elif last_path is not None:
                rows = sel.orderBy("path").limit(max_files + 1).collect()
            else:
                # start > 0 without lastPath = a pre-r10 token: honor it
                # via the offset form once; the token minted BELOW
                # upgrades the walk to path-range cuts
                rows = (
                    sel.orderBy("path")
                    .offset(start)
                    .limit(max_files + 1)
                    .collect()
                )
            page = [parse_action(r["action_json"])
                    for r in rows[:max_files]]
            if len(rows) > max_files:
                payload = {"version": snap.version,
                           "start": start + max_files}
                if page:
                    payload["lastPath"] = page[-1].path
                elif last_path is not None:
                    # a zero-file page (metadata probes) advances nothing
                    payload["lastPath"] = last_path
                next_token = mint_page_token(payload, checksum)
        else:
            # kept_adds keeps a large LAZY snapshot lazy (the pruned
            # manifest yields only the kept actions): the unpaged route
            # must never pin an O(files) AddFile dict to serve a pruned
            # (or even full — that response is O(files) anyway) listing
            files = self.kept_adds(snap, json_predicate_hints,
                                   predicate_hints, limit_hint)
            end = (len(files) if max_files is None
                   else min(start + max_files, len(files)))
            page = files[start:end]
            if end < len(files):
                next_token = mint_page_token(
                    {"version": snap.version, "start": end}, checksum)
        lines: list[dict[str, Any]] = [
            {"protocol": wire_protocol(snap.column_mapping)},
            {
                "metaData": {
                    **self.metadata(version=snap.version),
                }
            },
        ]
        if responded_format == "delta" and snap.transactions \
                and not page_token:
            # idempotent-writer state on the wire: the delta response
            # format wraps raw Delta actions (PROTOCOL.md:4014-4137), and
            # a recipient materializing the response into a local delta
            # log needs the SetTransaction actions to preserve
            # exactly-once sink resume (Delta's txn appId/version). Same
            # retention cap as checkpoints; first page only (table-wide
            # state, like protocol/metaData re-emission rules). The
            # parquet profile has no txn concept — delta format only.
            from delta_sharing_spark.plans.log import TXN_RETENTION_MAX

            recent = list(snap.transactions.items())[-TXN_RETENTION_MAX:]
            for app_id, epoch in sorted(recent):
                lines.append({"txn": {"appId": app_id, "version": epoch}})
        rt = snap.row_tracking_enabled
        for add in page:
            lines.append({"file": wire_file(
                self.log, add, add.version, add.timestamp, row_tracking=rt)})
        if next_token or new_refresh_token or include_end_stream_action:
            # trailer emitted when it carries a token, OR when the client
            # opted in via delta-sharing-capabilities:
            # includeendstreamaction=true (ref getRequestEndStreamAction,
            # DeltaSharingService.scala:922-925 — lets clients detect
            # truncated responses even on the last page)
            end: dict[str, Any] = {}
            if next_token:
                end["nextPageToken"] = next_token
            if new_refresh_token:
                end["refreshToken"] = new_refresh_token
            lines.append({"endStreamAction": end})
        return {"version": snap.version, "actions": lines,
                "respondedFormat": responded_format,
                "nextPageToken": next_token,
                "refreshToken": new_refresh_token}

    def _responded_format(self, snap: Snapshot,
                          formats: set[str]) -> str:
        """Kernel response-format gating (DeltaSharedTableKernel.scala:
        567-585): column-mapped tables only decode under the delta format."""
        if snap.column_mapping:
            if "delta" not in formats:
                raise UnsupportedTableFeatureError(
                    "table requires reader feature 'columnMapping' "
                    "(delta.columnMapping.mode=name), which the parquet "
                    "response format cannot represent; request the table "
                    "with delta-sharing-capabilities: responseformat=delta")
            return "delta"
        return "parquet" if "parquet" in formats else "delta"

    def _query_range_actions(
        self,
        starting_version: int,
        ending_version: int | None,
        max_files: int | None,
        page_token: str | None,
        response_formats: "set[str] | None",
        include_historical_protocol: bool,
        json_predicate_hints=None,
        predicate_hints=None,
        limit_hint=None,
        include_end_stream_action: bool = False,
    ) -> dict[str, Any]:
        """Version-range QueryTable (ref queryDataChangeSinceStartVersion,
        DeltaSharedTable.scala:557-695): per commit in [start, end], emit
        the dataChange add/remove actions stamped with commit version +
        timestamp, interleaving historical ``metaData`` (always, for
        versions after startingVersion) and — when the client opted in and
        the response is delta-format — historical ``protocol`` actions.

        Pagination follows the reference's (version, actionIndex) tokens:
        a page holds ``max_files`` FILE actions; interleaved metaData /
        protocol lines ride along with the page that contains their
        neighbouring files. predicate/limit hints are ignored on this form
        (the reference's range path applies no pruning — every data change
        must reach a streaming consumer)."""
        formats = {f.strip().lower()
                   for f in (response_formats or {"parquet"})}
        latest = self.log.latest_version()
        if starting_version > latest:
            # ref DeltaCDFErrors.startVersionAfterLatestVersion
            raise VersionNotFoundError(
                f"Provided Start version({starting_version}) for reading "
                "change data is invalid. Start version cannot be greater "
                f"than the latest version of the table({latest}).")
        if ending_version is not None and ending_version > latest:
            raise VersionNotFoundError(
                f"Provided end version({ending_version}) is invalid. End "
                "version cannot be greater than the latest version of the "
                f"table({latest}).")
        retained = self.log._list_versions()
        if retained and starting_version < retained[0]:
            # serving from below the retention floor would silently drop
            # the expired prefix — fail loudly like the CDF form
            raise VersionNotFoundError(
                f"Provided Start version({starting_version}) precedes the "
                f"earliest retained version({retained[0]}); the commits "
                "were expired from the log.")
        snap = self.log.snapshot(version=starting_version)
        responded_format = self._responded_format(snap, formats)
        if responded_format == "parquet" and "delta" in formats:
            # the START snapshot has no advanced features, but the range
            # may cross an ENABLE COLUMN MAPPING commit whose files only
            # decode under the delta format. Column mapping is never
            # disabled, so CM-at-range-end <=> the range touches CM —
            # one cached snapshot resolve, no commit scan. A delta-capable
            # client then gets delta up front instead of a mid-range 400
            # (parquet-only clients keep the existing mid-loop gate).
            prelim_end = (ending_version if ending_version is not None
                          else latest)
            if self.log.snapshot(version=prelim_end).column_mapping:
                responded_format = "delta"
        emit_protocol = (include_historical_protocol
                         and responded_format == "delta")
        checksum = page_checksum({
            "path": self.log.path,
            "startingVersion": starting_version,
            "endingVersion": ending_version,
            "includeHistoricalProtocol": include_historical_protocol,
        })
        start_idx = 0
        resume: "dict[str, Any] | None" = None
        end = latest if ending_version is None else ending_version
        if page_token:
            decoded = decode_page_token(page_token, checksum)
            start_idx = int(decoded.get("start", 0))
            # pin the range end captured at the first page so commits
            # arriving mid-pagination are ignored (ref token's
            # endingVersion/latestVersion pinning, DeltaSharedTable.scala:
            # 578-588)
            end = int(decoded.get("end", end))
            resume = decoded
        head_proto = wire_protocol(snap.column_mapping)
        if emit_protocol:
            # stamp the head protocol's version only under the opt-in,
            # preserving the legacy wire shape otherwise (ref
            # headProtocolVersion, DeltaSharedTable.scala:433-436)
            head_proto["version"] = starting_version
        lines: list[dict[str, Any]] = [
            {"protocol": head_proto},
            {"metaData": {**self.metadata(version=starting_version)}},
        ]
        # streaming emission with early page termination (ref returns
        # mid-loop once numSignedFiles hits the page size,
        # DeltaSharedTable.scala:633-660): commits past the filled page are
        # never read, so a page over a month-long backlog costs O(page),
        # not O(range). Non-file lines (metaData/protocol) ride with the
        # page containing their neighbouring files.
        from dataclasses import asdict

        def commit_lines(commit) -> list[tuple[bool, dict[str, Any]]]:
            # the running column-mapping baseline lives on the pager so
            # the resume override and the per-commit token checkpoint
            # can't drift from this walk's updates
            out: list[tuple[bool, dict[str, Any]]] = []
            v, ts = commit.version, commit.timestamp
            if commit.metadata is not None and v > starting_version:
                out.append((False, {"metaData": {
                    **asdict(commit.metadata), "version": v}}))
            if emit_protocol and v > starting_version:
                # a protocol change mid-range = an explicit in-commit
                # protocol upgrade action, OR a metadata commit flipping a
                # reader feature — derivation shared with the changes form
                proto_line = derive_wire_protocol(commit, pager.prev_cm)
                if proto_line is not None:
                    out.append((False, {"protocol": {
                        **proto_line, "version": v}}))
            if commit.metadata is not None:
                cm_next = (commit.metadata.configuration or {}).get(
                    "delta.columnMapping.mode") == "name"
                if cm_next and responded_format == "parquet":
                    # files after this commit carry PHYSICAL names a
                    # parquet-profile client cannot decode — same feature
                    # gate as the snapshot path (kernel gating,
                    # DeltaSharedTableKernel.scala:567-585)
                    raise UnsupportedTableFeatureError(
                        "the requested version range crosses an ENABLE "
                        "COLUMN MAPPING commit, which the parquet response "
                        "format cannot represent; request the range with "
                        "delta-sharing-capabilities: responseformat=delta")
                pager.prev_cm = cm_next
            for a in commit.adds:
                if a.dataChange:
                    out.append((True, {"add": wire_file(self.log, a, v, ts)}))
            for r in commit.removes:
                if r.dataChange:
                    out.append((True, {
                        "remove": wire_file(self.log, r, v, ts)}))
            return out

        # page-gate + resume bookkeeping shared with the changes form
        # (ActionPager owns the token schema and boundary rules)
        pager = ActionPager(
            start_version=starting_version, end=end, start_idx=start_idx,
            max_files=max_files, checksum=checksum,
            prev_cm=snap.column_mapping, carry_pcm=True, resume=resume)
        versions = self.log._list_versions()
        pager.check_resume_available(versions)
        for v in versions:
            if v < starting_version or v > end or pager.filled:
                continue
            if pager.skip_commit(v):
                continue
            pager.begin_commit(v)
            for is_file, line in commit_lines(self.log.read_commit(v)):
                (pager.emit_file if is_file else pager.emit_meta)(line)
        lines += pager.lines
        next_token = pager.next_token
        if max_files is not None or include_end_stream_action:
            end_action: dict[str, Any] = {}
            if next_token:
                end_action["nextPageToken"] = next_token
            lines.append({"endStreamAction": end_action})
        return {"version": snap.version, "actions": lines,
                "respondedFormat": responded_format,
                "nextPageToken": next_token, "refreshToken": None}
