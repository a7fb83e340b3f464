"""``deltashare`` — a PySpark (4.x) Python Data Source over the commit log.

The reference integrates with Spark through a DSv1 relation + streaming
Source pair (spark/.../DeltaSharingDataSource.scala:38-112,
client/.../spark/DeltaSharingSource.scala:93-1208). The idiomatic PySpark-4
equivalent is the Python Data Source API: one ``DataSource`` exposing

- a batch reader with version/timestamp time travel and partition-filter
  pushdown (file-level pruning at plan time; Spark still applies every
  filter exactly afterwards — the reference's best-effort-server /
  exact-client contract, PROTOCOL.md:2124-2137);
- a micro-batch stream reader with the reference's admission control
  (``maxFilesPerTrigger``, default 1000 — DeltaSharingOptions.scala:193-194),
  (version, index) offsets (DeltaSharingSourceOffset.scala:40-120), and
  change-commit handling (``ignoreDeletes`` / ``ignoreChanges`` /
  ``skipChangeCommits`` — DeltaSharingSource.scala:994-1035).

Scale notes: one InputPartition per data file — Spark schedules them across
executors; each executor reads its parquet file directly (no driver data
path). The driver only replays the (small) commit log.

Usage::

    spark.dataSource.register(SharedTableDataSource)
    spark.read.format("deltashare").option("path", p).load()
    spark.readStream.format("deltashare").option("path", p)
         .option("maxFilesPerTrigger", "10").load()
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T


class _FilePartition(InputPartition):
    def __init__(self, path: str, partition_values: dict[str, str],
                 schema_json: str, change_type: str | None = None,
                 commit_version: int | None = None,
                 commit_timestamp: int | None = None,
                 dv_path: str | None = None,
                 dv_keys: list[str] | None = None,
                 dv_inline: str | None = None,
                 dv_inline_size: int | None = None,
                 rt: dict | None = None):
        self.path = path
        self.partition_values = partition_values
        self.schema_json = schema_json
        # CDF mode: commit_version set; change_type None means the file is a
        # cdc file carrying its own _change_type column
        self.change_type = change_type
        self.commit_version = commit_version
        self.commit_timestamp = commit_timestamp
        # deletion vector: abs path of the DV parquet + this file's keys
        # within it (the DV rows may record the file root-relative — written
        # by that table for its own files — or absolute, written by a
        # shallow clone for source-referenced files); positions listed
        # there are skipped. dv_inline carries an inline (storageType "i")
        # encoded vector instead — decoded in the worker, no extra file
        # open; dv_inline_size gates the legacy-codec fallback.
        self.dv_path = dv_path
        self.dv_keys = dv_keys
        self.dv_inline = dv_inline
        self.dv_inline_size = dv_inline_size
        # row-tracking reconstruction (rowIds=true): None = off; else
        # {"base": baseRowId|None, "default_ver": int|None,
        #  "mat_id": str, "mat_ver": str} — base None means this file's
        # rows carry NULL ids (cdc/remove change images, Delta "Row
        # Tracking" scope: ids are never materialized into change data)
        self.rt = rt


def _parse_partition_value(value: str, dtype: T.DataType):
    """Partition-value string -> python value (empty string = null,
    PROTOCOL.md:3896-3906; per-type converters mirror
    python/delta_sharing/converter.py:85-120)."""
    if value == "" or value is None:
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return value.lower() == "true"
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(value)
    if isinstance(dtype, T.TimestampType):
        return _dt.datetime.fromisoformat(value)
    return value


def _read_file_batches(partition: _FilePartition) -> Iterator:
    """Executor-side: read one parquet file as Arrow batches, attach typed
    partition-value columns, project to the declared schema order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = T.StructType.fromJson(json.loads(partition.schema_json))
    from pyspark.sql.pandas.types import to_arrow_type

    # column mapping: the schemaString's field metadata carries each
    # column's immutable PHYSICAL name — that is what parquet columns and
    # partitionValues are keyed by; the OUTPUT keeps the logical name
    target_fields = [
        (f.name,
         (f.metadata or {}).get("delta.columnMapping.physicalName", f.name),
         to_arrow_type(f.dataType), f.dataType)
        for f in schema.fields
    ]
    cdf_mode = partition.commit_version is not None
    deleted = None
    if partition.dv_inline:
        import numpy as np

        from delta_sharing_spark.plans.log import decode_inline_dv

        deleted = np.array(decode_inline_dv(partition.dv_inline,
                                            partition.dv_inline_size),
                           dtype="int64")
    elif partition.dv_path:
        # positions logically deleted from this file (deletion vector);
        # the filter pushes down to the DV parquet's row groups
        import numpy as np

        dv = pq.read_table(
            partition.dv_path, columns=["path", "row_index"],
            filters=[("path", "in", partition.dv_keys)],
        )
        deleted = np.sort(dv.column("row_index").to_numpy())
    rt = partition.rt
    need_idx = rt is not None and rt.get("base") is not None
    if need_idx:
        import numpy as np
    row_offset = 0
    pf = pq.ParquetFile(partition.path)
    # column projection: only read the physical columns the projection
    # actually consumes — dropped-then-readded history, unused
    # materialized row-id columns and any other extra file columns never
    # leave the parquet reader (the I/O cut column pruning would give a
    # native scan; the Python DS API has no pruneColumns hook, so the
    # declared schema is the ceiling but extra FILE columns still prune)
    wanted = {p.lower() for _n, p, _a, _s in target_fields
              if p not in partition.partition_values}
    if cdf_mode and partition.change_type is None:
        wanted.add("_change_type")
    if need_idx:
        wanted.update((rt["mat_id"].lower(), rt["mat_ver"].lower()))
    read_cols = [c for c in pf.schema_arrow.names if c.lower() in wanted]
    for batch in pf.iter_batches(batch_size=65536, columns=read_cols):
        n_phys = batch.num_rows
        # physical row indices BEFORE deletion-vector filtering: row ids
        # key on the row's position in the file, so DV-surviving rows keep
        # their original index (same rule as the batch rebuilds)
        idx = (np.arange(row_offset, row_offset + n_phys, dtype="int64")
               if need_idx else None)
        if deleted is not None:
            import numpy as np

            hits = deleted[np.searchsorted(deleted, row_offset):
                           np.searchsorted(deleted, row_offset + n_phys)]
            if len(hits):
                mask = np.ones(n_phys, dtype=bool)
                mask[hits - row_offset] = False
                batch = batch.filter(pa.array(mask))
                if idx is not None:
                    idx = idx[mask]
            if batch.num_rows == 0:
                row_offset += n_phys
                continue
        row_offset += n_phys
        n = batch.num_rows
        cols = []
        names = []
        names_lower = {c.lower(): i for i, c in enumerate(batch.schema.names)}
        for name, pname, arrow_type, spark_type in target_fields:
            names.append(name)
            if pname in partition.partition_values:
                value = _parse_partition_value(
                    partition.partition_values[pname], spark_type
                )
                cols.append(pa.array([value] * n, type=arrow_type))
            elif pname.lower() in names_lower:
                col = batch.column(names_lower[pname.lower()])
                cols.append(col.cast(arrow_type))
            else:
                cols.append(pa.nulls(n, type=arrow_type))
        if cdf_mode:
            # the three CDF virtual columns (PROTOCOL.md:2359-2362); cdc
            # files carry their own _change_type, add/remove files get the
            # inferred constant (insert/delete)
            if partition.change_type is not None:
                ct = pa.array([partition.change_type] * n, type=pa.string())
            else:
                ct = batch.column(names_lower["_change_type"]).cast(pa.string())
            cols += [
                ct,
                pa.array([partition.commit_version] * n, type=pa.int64()),
                pa.array([partition.commit_timestamp] * n, type=pa.int64()),
            ]
            names += ["_change_type", "_commit_version", "_commit_timestamp"]
        if rt is not None:
            # _row_id = materialized override else baseRowId + row index;
            # _row_commit_version = override else the file default — the
            # executor-side twin of deltaformat._scan_epochs. Files with
            # no base (cdc/remove images) carry NULL ids.
            import pyarrow.compute as pc

            if rt.get("base") is None:
                cols += [pa.nulls(n, type=pa.int64()),
                         pa.nulls(n, type=pa.int64())]
            else:
                derived = pa.array(idx + rt["base"], type=pa.int64())
                dv = pa.array([rt.get("default_ver")] * n, type=pa.int64())
                mid, mver = rt["mat_id"], rt["mat_ver"]
                rid = (pc.coalesce(
                           batch.column(names_lower[mid.lower()])
                           .cast(pa.int64()), derived)
                       if mid.lower() in names_lower else derived)
                rver = (pc.coalesce(
                            batch.column(names_lower[mver.lower()])
                            .cast(pa.int64()), dv)
                        if mver.lower() in names_lower else dv)
                cols += [rid, rver]
            names += ["_row_id", "_row_commit_version"]
        yield pa.RecordBatch.from_arrays(cols, names=names)


class SharedTableBatchReader(DataSourceReader):
    """Snapshot reader with time travel + partition-filter pushdown."""

    def __init__(self, options: dict, schema: T.StructType):
        self.options = options
        self.path = options["path"]
        self.version = (
            int(options["version"]) if options.get("version") else None
        )
        self.timestamp = options.get("timestamp")
        self._schema = schema
        self._pushed: list = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """File-level pruning from pushed filters. Everything is reported
        back as unsupported so Spark re-applies filters exactly — pruning
        here only shrinks the file list (never wrongly skips: stats-missing
        files are kept, Unknown semantics)."""
        self._pushed = list(filters)
        return filters

    def partitions(self):
        # Planner-side (runs in a Python worker — no SparkSession): replay
        # the log and prune with the sessionless three-valued evaluator, the
        # same in-process shape as the reference server's AddFile filtering
        # (PartitionFilterUtils.scala / JsonPredicateEvaluatorV2.scala).
        # Remote profiles plan from the QueryTable RPC's manifest instead;
        # wire files carry partitionValues + stats, so the same pruning
        # evaluator applies (server-side best-effort + client exact).
        from delta_sharing_spark.plans.predicates import keep_file
        from delta_sharing_spark.sources.remote import (
            RemoteTableLog,
            resolve_source_path,
        )

        mode, target = resolve_source_path(self.path)
        if mode == "remote":
            log = RemoteTableLog(*target)
        else:
            from delta_sharing_spark.plans.log import TableLog

            log = TableLog(None, target)
        snap = log.snapshot(version=self.version, timestamp=self.timestamp)
        hints = _filters_to_json_predicate(self._pushed, snap)
        if hints is not None and snap.logical_to_physical:
            # column-mapping tables key partitionValues/stats by PHYSICAL
            # names; pushed filters carry logical names — translate or the
            # whole pruning path silently evaluates Unknown
            from delta_sharing_spark.plans.predicates import (
                rewrite_predicate_columns,
            )

            hints = rewrite_predicate_columns(hints,
                                              snap.logical_to_physical)
        schema_json = snap.metadata.schemaString
        # partitionValues are keyed by PHYSICAL names under column mapping
        pcols = snap.physical_partition_columns
        return [
            _FilePartition(log.abs_path(f.path), f.partitionValues,
                           schema_json, **_dv_args(log, f))
            for f in snap.files
            if keep_file(hints, f.partitionValues, f.stats_dict(), pcols)
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_batches(partition)


class SharedTableCDFBatchReader(DataSourceReader):
    """Batch CDF through the data source (the reference spark connector's
    ``option("readChangeFeed", "true")`` batch path): one InputPartition
    per change file carrying its change type + commit columns; the worker
    resolves columns by physical name and casts, so rename/widen commits
    inside the range read losslessly (same projection as streaming)."""

    def __init__(self, options: dict, schema: T.StructType):
        self.options = options
        self.path = options["path"]
        self._schema = schema
        self.row_ids = options.get("rowids", "false") == "true"

    def partitions(self):
        from delta_sharing_spark.cdf import CDFError, _resolve_range
        from delta_sharing_spark.deltaformat import _row_tracking_cols
        from delta_sharing_spark.sources.remote import resolve_source_path
        from delta_sharing_spark.streaming.schema import (
            SchemaCompatError,
            check_read_compatible_physical,
        )

        o = self.options
        if str(o.get("startingversion", "")).lower() == "latest":
            # the documented startingVersion=latest spelling is a
            # STREAMING-only contract (serve changes after the stream
            # starts); a batch read has no "after" to wait for
            raise CDFError(
                "startingVersion=latest is only supported for streaming "
                "reads; batch readChangeFeed needs a concrete "
                "startingVersion/startingTimestamp")
        data_fields = [f for f in self._schema.fields
                       if f.name not in ("_change_type", "_commit_version",
                                         "_commit_timestamp",
                                         *(("_row_id",
                                            "_row_commit_version")
                                           if self.row_ids else ()))]
        planned = T.StructType(data_fields)
        schema_json = json.dumps(planned.jsonValue())
        mode, target = resolve_source_path(self.path)
        if mode == "remote":
            from delta_sharing_spark.sources.remote import RemoteTableLog

            config, commits = self._remote_commits(target, o)
            # DV descriptors on wire adds must be honored or a DV-mode
            # change re-serves deleted rows as inserts; dv_scan_keys is
            # static pure path derivation, so the CLASS serves (no second
            # profile parse / client construction)
            dvlog = RemoteTableLog
            abs_path = (lambda p: p)
        else:
            from delta_sharing_spark.plans.log import TableLog, is_noop_merge

            log = TableLog(None, target)
            snap = log.snapshot()
            if not snap.metadata.cdf_enabled:
                raise CDFError(
                    "change data feed is not enabled on this table "
                    "(configuration enableChangeDataFeed != true)")
            start, end = _resolve_range(
                log,
                int(o["startingversion"])
                if o.get("startingversion") else None,
                int(o["endingversion"]) if o.get("endingversion") else None,
                o.get("startingtimestamp"),
                o.get("endingtimestamp"),
            )
            commits = [c for c in log.commits(start, end)
                       if not is_noop_merge(c.info)]
            abs_path = log.abs_path
            config = snap.metadata.configuration
            dvlog = log
        mat_id, mat_ver = _row_tracking_cols(config)

        def rt_arg(f, ct, version):
            if not self.row_ids:
                return None
            if ct == "insert":
                base = getattr(f, "baseRowId", None)
                if base is None:
                    raise ValueError(
                        "rowIds=true: add action lacks baseRowId (table "
                        "not row-tracked, or a pre-enablement file): "
                        f"{getattr(f, 'path', f)}")
                dv = getattr(f, "defaultRowCommitVersion", None)
                return {"base": int(base),
                        "default_ver": int(dv) if dv is not None
                        else version,
                        "mat_id": mat_id, "mat_ver": mat_ver}
            return {"base": None, "default_ver": None,
                    "mat_id": mat_id, "mat_ver": mat_ver}

        parts: list[_FilePartition] = []
        for commit in commits:
            if commit.metadata is not None:
                # read-compat gate across in-range metadata commits: the
                # worker projection resolves by physical name and casts, so
                # rename/widen read losslessly — but a narrowing change
                # must surface as a clear CDFError here, not a per-batch
                # Arrow cast error (in-process table_changes parity)
                try:
                    check_read_compatible_physical(
                        planned,
                        T.StructType.fromJson(
                            json.loads(commit.metadata.schemaString)),
                        version=commit.version)
                except SchemaCompatError as exc:
                    raise CDFError(str(exc)) from exc
            if commit.cdc:
                entries = [(c, None) for c in
                           sorted(commit.cdc, key=lambda c: c.path)]
            else:
                entries = [
                    (a, "insert") for a in
                    sorted((x for x in commit.adds if x.dataChange),
                           key=lambda x: x.path)
                ] + [
                    (r, "delete") for r in
                    sorted((x for x in commit.removes if x.dataChange),
                           key=lambda x: x.path)
                ]
            parts += [
                _FilePartition(abs_path(f.path), f.partitionValues,
                               schema_json, change_type=ct,
                               commit_version=commit.version,
                               commit_timestamp=commit.timestamp,
                               rt=rt_arg(f, ct, commit.version),
                               **_dv_args(dvlog, f))
                for f, ct in entries
            ]
        return parts

    @staticmethod
    def _remote_commits(target, o):
        """Batch CDF over an http profile: one changes RPC (the server
        resolves/validates the range, applies no-op-MERGE skipping) with
        historical metadata for the compat gate."""
        from delta_sharing_spark.client import (
            DeltaSharingProfile,
            _rest_client,
        )
        from delta_sharing_spark.sources.remote import (
            _commits_from_change_lines,
        )

        profile_path, share, schema, table = target
        profile = DeltaSharingProfile.read_from_file(profile_path)
        profile.check_not_expired()
        lines = _rest_client(profile).list_table_changes(
            share, schema, table,
            starting_version=(int(o["startingversion"])
                              if o.get("startingversion") else None),
            ending_version=(int(o["endingversion"])
                            if o.get("endingversion") else None),
            starting_timestamp=o.get("startingtimestamp"),
            ending_timestamp=o.get("endingtimestamp"),
            response_formats="delta,parquet",
            include_historical_metadata=True)
        return _commits_from_change_lines(lines)

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_batches(partition)


def _dv_args(log, f) -> dict:
    """Deletion-vector kwargs for a _FilePartition (empty for clean files
    and cdc files, which never carry DVs). Root/key derivation is shared
    with the Spark read path via TableLog.dv_scan_keys, so both paths
    always agree on which DV rows apply."""
    dv = getattr(f, "deletionVector", None)
    if not dv:
        return {}
    if dv.get("storageType") == "i":
        return {"dv_inline": dv["pathOrInlineDv"],
                "dv_inline_size": dv.get("sizeInBytes")}
    d, _root, keys = log.dv_scan_keys(f)
    return {"dv_path": d, "dv_keys": keys}


# In filters expand to OR-of-equals only up to this many entries, like the
# reference client (OpConverter.scala:58-224)
_IN_EXPANSION_MAX = 20


def _filters_to_json_predicate(filters, snap):
    """Translate pushed v2 Filters on partition/stats columns into the JSON
    predicate tree (the engine's native pruning input) — the OpConverter
    direction (ref client/.../filters/OpConverter.scala:58-224, incl. the
    In ≤20 → OR-of-EQ expansion and IsNotNull → not(isNull)). Unsupported
    filters are simply not translated (kept exact by Spark)."""
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    type_names = {f.name: f.dataType for f in snap.schema.fields}

    def vtype(dt: T.DataType) -> str | None:
        return {
            T.BooleanType: "bool", T.IntegerType: "int", T.LongType: "long",
            T.StringType: "string", T.DateType: "date", T.FloatType: "float",
            T.DoubleType: "double", T.TimestampType: "timestamp",
        }.get(type(dt))

    def col_node(col: str, vt: str) -> dict:
        return {"op": "column", "name": col, "valueType": vt}

    def lit_node(value, vt: str) -> dict:
        return {"op": "literal", "value": str(value), "valueType": vt}

    ops = {EqualTo: "equal", LessThan: "lessThan",
           LessThanOrEqual: "lessThanOrEqual", GreaterThan: "greaterThan",
           GreaterThanOrEqual: "greaterThanOrEqual"}
    children = []
    for f in filters or []:
        if len(f.attribute) != 1:
            continue
        col = f.attribute[0]
        dt = type_names.get(col)
        vt = vtype(dt) if dt is not None else None
        if vt is None:
            continue
        if isinstance(f, EqualNullSafe):
            # null-safe equality (ref OpConverter's expansion): <=> null is
            # IS NULL; <=> non-null translates as plain equal, which is a
            # SAFE superset under keep-on-Unknown pruning (null column
            # values evaluate Unknown -> file kept)
            if f.value is None:
                children.append({"op": "isNull",
                                 "children": [col_node(col, vt)]})
            else:
                children.append({
                    "op": "equal",
                    "children": [col_node(col, vt), lit_node(f.value, vt)],
                })
        elif isinstance(f, IsNull):
            children.append({"op": "isNull",
                             "children": [col_node(col, vt)]})
        elif isinstance(f, IsNotNull):
            children.append({
                "op": "not",
                "children": [{"op": "isNull",
                              "children": [col_node(col, vt)]}],
            })
        elif isinstance(f, In):
            if not f.value or len(f.value) > _IN_EXPANSION_MAX \
                    or any(v is None for v in f.value):
                continue
            eqs = [{"op": "equal",
                    "children": [col_node(col, vt), lit_node(v, vt)]}
                   for v in f.value]
            children.append(eqs[0] if len(eqs) == 1
                            else {"op": "or", "children": eqs})
        else:
            op = ops.get(type(f))
            if op is None:
                continue
            children.append({
                "op": op,
                "children": [col_node(col, vt), lit_node(f.value, vt)],
            })
    if not children:
        return None
    if len(children) == 1:
        return children[0]
    return {"op": "and", "children": children}


class SharedTableStreamReader(DataSourceStreamReader):
    """Micro-batch source over the commit log with admission control.

    Offsets are ``{"version": v, "index": i}`` — files of version v consumed
    up to (exclusive) index i, files within a version ordered by path
    (deterministic, ref DeltaSharingSource.scala:239-276 sort-by-id).
    """

    def __init__(self, options: dict, schema: T.StructType):
        self.options = options
        self.path = options["path"]
        # soft caps, ref DeltaSharingOptions.scala:193-195 (maxFilesPerTrigger
        # default 1000; maxBytesPerTrigger admits at least one file)
        self.max_files = int(options.get("maxfilespertrigger", "1000"))
        mb = options.get("maxbytespertrigger")
        self.max_bytes = int(mb) if mb else None
        self.starting_version = options.get("startingversion")
        # startingTimestamp resolves to the exact-or-earliest-after version
        # (ref DeltaSharingOptions startingTimestamp -> getVersionByTimestamp;
        # mutually exclusive with startingVersion like the reference)
        self.starting_timestamp = options.get("startingtimestamp")
        if self.starting_version is not None \
                and self.starting_timestamp is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive")
        self.ignore_deletes = options.get("ignoredeletes", "false") == "true"
        self.ignore_changes = options.get("ignorechanges", "false") == "true"
        self.skip_change_commits = (
            options.get("skipchangecommits", "false") == "true"
        )
        self.read_change_feed = (
            options.get("readchangefeed", "false") == "true"
        )
        # rowIds=true (CDF only): surface _row_id/_row_commit_version on
        # insert rows, NULL on cdc/remove images — the streaming twin of
        # load_table_changes_as_spark(row_ids=True)
        self.row_ids = options.get("rowids", "false") == "true"
        self._rt_names: tuple[str, str] | None = None
        # Trigger.AvailableNow support. The Python DS API has no
        # prepareForTriggerAvailableNow hook: Spark wraps the source in
        # AvailableNowDataStreamWrapper, which calls latestOffset() ONCE and
        # freezes that as the run's end — so an admission-capped stream
        # would silently truncate to one capped batch (verified empirically;
        # ref semantics DeltaSharingSource.scala:169-199 freeze-and-drain).
        # With availableNow=true the caps are lifted and latestOffset plans
        # to the true frozen end: the run drains completely in one
        # (distributed) batch — Trigger.Once semantics. For capped
        # multi-batch draining use a processing-time trigger +
        # processAllAvailable instead (workloads/streaming.py:_drain).
        self.available_now = options.get("availablenow", "false") == "true"
        # throttle log re-listing between latestOffset polls (ref
        # queryTableVersionIntervalSeconds; 0 = poll every trigger)
        self.version_poll_interval = float(
            options.get("querytableversionintervalseconds", "0"))
        self._last_poll_ts: float | None = None
        self._schema = schema
        self._last_planned: dict | None = None
        # Delta-style schemaTrackingLocation: opt-in stepwise schema
        # evolution. With it set, a gate-stopping metadata change becomes a
        # boundary — backlog before it drains first, then the new schema is
        # persisted and the stream raises RetryableSchemaEvolution; the
        # restarted query plans on the tracked schema and continues from
        # the same checkpoint. Compat gates skip versions < the tracked
        # floor (that history is replayed through the physical-name
        # projection under the evolved plan).
        self.schema_tracking_location = options.get("schematrackinglocation")
        self._tracked_floor: int | None = None
        if self.schema_tracking_location:
            from delta_sharing_spark.streaming.schema import SchemaTrackingLog

            entry = SchemaTrackingLog(self.schema_tracking_location).latest()
            if entry is not None:
                self._tracked_floor = int(entry["version"])
        self._pending_evolution: tuple[int, str] | None = None
        # test instrumentation: when set, append one JSON line per reader
        # API call (the reader lives in a separate Python worker process, so
        # tests can only observe it through a side-channel file)
        self._calllog = options.get("_calllog")

    def _trace(self, method: str, **payload) -> None:
        if self._calllog:
            import json as _json

            with open(self._calllog, "a") as fh:
                fh.write(_json.dumps({"method": method, **payload}) + "\n")

    # ----------------------------------------------------------- log access

    def _log(self):
        # one TableLog per reader: its commit/snapshot caches make repeated
        # latestOffset() polling cost O(new commits), not O(all commits).
        # A profile#share.schema.table path with an http endpoint plans
        # through the RPC-backed RemoteTableLog instead (the reference's
        # remote streaming source, DeltaSharingSource.scala:93-1208) —
        # same offsets/admission/gates, manifests fetched in
        # maxVersionsPerRpc windows.
        if getattr(self, "_log_inst", None) is None:
            from delta_sharing_spark.sources.remote import (
                RemoteTableLog,
                resolve_source_path,
            )

            mode, target = resolve_source_path(self.path)
            if mode == "remote":
                self._log_inst = RemoteTableLog(
                    *target,
                    max_versions_per_rpc=int(
                        self.options.get("maxversionsperrpc", "100")),
                    read_change_feed=self.read_change_feed,
                    # per-RPC file page size: window fetches request
                    # maxFiles and follow nextPageToken until the window
                    # drains (a huge commit can't exceed a server page
                    # cap mid-stream)
                    max_files_per_rpc=int(
                        self.options.get("maxfilesperrpc", "0")) or None)
            else:
                from delta_sharing_spark.plans.log import TableLog

                self._log_inst = TableLog(None, target)
        return self._log_inst

    def _file_sequence(self, from_version: int) -> list[tuple]:
        """Ordered (version, index, file, change_type, commit_ts) from
        ``from_version`` onward, applying change-commit validation per
        commit. ``change_type`` is None outside CDF mode and for cdc files
        (which carry their own _change_type column)."""
        log = self._log()
        versions = log._list_versions()
        if versions and from_version < versions[0]:
            # expire_log truncated the history: silently serving only the
            # retained tail would be data loss — mirror snapshot()'s guard
            raise ValueError(
                f"startingVersion {from_version} has been expired from "
                f"the log (earliest retained commit is {versions[0]})")
        if self.read_change_feed:
            return self._cdf_sequence(from_version)
        out = []
        self._pending_evolution = None
        for commit in log.commits(from_version):
            if commit.metadata is not None and self._schema is not None \
                    and (self._tracked_floor is None
                         or commit.version >= self._tracked_floor):
                # schema-compat gate on interleaved metadata commits
                # (ref SchemaUtils.scala:37-90 via DeltaSharingSource:996-1001).
                # Physical-name-aware variant: the executor projection
                # resolves by physicalName and casts, so a restarted stream
                # drains backlog across rename/widen commits instead of
                # erroring; genuine data-loss changes still stop it
                import json as _json

                from delta_sharing_spark.streaming.schema import (
                    check_read_compatible_physical,
                    is_tracking_boundary,
                )

                new_schema = T.StructType.fromJson(
                    _json.loads(commit.metadata.schemaString)
                )
                if self.schema_tracking_location:
                    # tracked mode: any change the plan should follow is an
                    # evolution boundary — truncate here so the pre-change
                    # backlog drains first; latestOffset persists+raises
                    # once nothing is left before the boundary
                    if is_tracking_boundary(self._schema, new_schema):
                        self._pending_evolution = (
                            commit.version, commit.metadata.schemaString)
                        break
                else:
                    check_read_compatible_physical(self._schema, new_schema,
                                                   version=commit.version)
            data_removes = [r for r in commit.removes if r.dataChange]
            if data_removes and not commit.cdc:
                if self.skip_change_commits:
                    continue  # drop the whole commit's files
                data_adds = [a for a in commit.adds if a.dataChange]
                if data_adds:
                    # removes AND adds = an UPDATE commit: only
                    # ignoreChanges tolerates it (re-emitting rewritten
                    # files) — ignoreDeletes covers delete-ONLY commits
                    # (ref DeltaSharingSource.scala:994-1035)
                    if not self.ignore_changes:
                        raise ValueError(
                            f"Detected a data update at version "
                            f"{commit.version}. Set ignoreChanges to "
                            f"proceed (rewritten files will be "
                            f"re-emitted), or skipChangeCommits to skip "
                            f"such commits.")
                elif not (self.ignore_changes or self.ignore_deletes):
                    raise ValueError(
                        f"Detected deleted or updated data at version "
                        f"{commit.version}. Set ignoreDeletes/ignoreChanges "
                        f"to proceed, or skipChangeCommits to skip such "
                        f"commits.")
            adds = sorted(
                (a for a in commit.adds if a.dataChange),
                key=lambda a: a.path,
            )
            for i, add in enumerate(adds):
                out.append((commit.version, i, add, None, commit.timestamp))
        return out

    def _rt_cols(self) -> tuple[str, str]:
        """Materialized row-id/commit-version column names from the table
        configuration (fetched once per reader; the metadata RPC for
        remote profiles, the cached snapshot for local logs)."""
        if self._rt_names is None:
            from delta_sharing_spark.deltaformat import _row_tracking_cols
            from delta_sharing_spark.sources.remote import (
                remote_schema_json,
                resolve_source_path,
            )

            mode, target = resolve_source_path(self.path)
            if mode == "remote":
                _schema_str, cfg = remote_schema_json(*target)
            else:
                cfg = self._log().snapshot().metadata.configuration
            self._rt_names = _row_tracking_cols(cfg)
        return self._rt_names

    def _rt_arg(self, f, ct: str | None, version: int) -> dict | None:
        """Per-file row-tracking reconstruction args (rowIds=true): insert
        files derive ids from baseRowId + row index with materialized
        overrides; cdc/remove change images carry NULL ids (Delta never
        materializes row ids into change data)."""
        if not self.row_ids:
            return None
        mid, mver = self._rt_cols()
        if ct == "insert":
            base = getattr(f, "baseRowId", None)
            if base is None:
                raise ValueError(
                    "rowIds=true: add action lacks baseRowId (table not "
                    "row-tracked, or a pre-enablement file): "
                    f"{getattr(f, 'path', f)}")
            dv = getattr(f, "defaultRowCommitVersion", None)
            return {"base": int(base),
                    "default_ver": int(dv) if dv is not None else version,
                    "mat_id": mid, "mat_ver": mver}
        return {"base": None, "default_ver": None,
                "mat_id": mid, "mat_ver": mver}

    def _cdf_sequence(self, from_version: int) -> list[tuple]:
        """Streaming CDF (ref DeltaSharingSource.scala:603-728): per commit,
        cdc files win; otherwise dataChange adds imply insert and removes
        imply delete. No change-commit errors — changes ARE the stream."""
        from delta_sharing_spark.plans.log import is_noop_merge

        log = self._log()
        out = []
        self._pending_evolution = None
        for commit in log.commits(from_version):
            if is_noop_merge(commit.info):
                continue  # ref DeltaSharingCDCReader.scala:301-323
            if commit.metadata is not None and self._schema is not None \
                    and (self._tracked_floor is None
                         or commit.version >= self._tracked_floor):
                import json as _json

                from delta_sharing_spark.streaming.schema import (
                    check_read_compatible_physical,
                    is_tracking_boundary,
                )

                data_fields = T.StructType([
                    f for f in self._schema.fields
                    if f.name not in
                    ("_change_type", "_commit_version", "_commit_timestamp",
                     *(("_row_id", "_row_commit_version")
                       if self.row_ids else ()))
                ])
                new_schema = T.StructType.fromJson(
                    _json.loads(commit.metadata.schemaString))
                if self.schema_tracking_location:
                    if is_tracking_boundary(data_fields, new_schema):
                        self._pending_evolution = (
                            commit.version, commit.metadata.schemaString)
                        break
                else:
                    check_read_compatible_physical(
                        data_fields, new_schema, version=commit.version)
            entries: list[tuple[object, str | None]] = []
            if commit.cdc:
                entries = [(c, None) for c in
                           sorted(commit.cdc, key=lambda c: c.path)]
            else:
                entries = [
                    (a, "insert") for a in
                    sorted((x for x in commit.adds if x.dataChange),
                           key=lambda x: x.path)
                ] + [
                    (r, "delete") for r in
                    sorted((x for x in commit.removes if x.dataChange),
                           key=lambda x: x.path)
                ]
            for i, (f, ct) in enumerate(entries):
                out.append((commit.version, i, f, ct, commit.timestamp))
        return out

    def _snapshot_sequence(self, at_version: int | None = None
                           ) -> tuple[int, list[tuple[int, int, object]]]:
        """Initial-snapshot mode: all active files of the snapshot presented
        at its version (ref getTableFileChanges isStartingVersion=true,
        DeltaSharingSource.scala:450-533), followed by incremental changes
        from the next version onward."""
        log = self._log()
        # The sorted snapshot prefix is immutable once the version is pinned;
        # cache it so each latestOffset()/partitions() poll pays only the
        # incremental tail (itself O(new) via the commit parse cache).
        cache = getattr(self, "_snap_seq_cache", None)
        if cache is None:
            cache = self._snap_seq_cache = {}
        key = at_version
        if key is not None and key in cache:
            version, prefix = cache[key]
        else:
            snap = log.snapshot(version=at_version)
            files = sorted(snap.files, key=lambda a: a.path)
            ct = "insert" if self.read_change_feed else None
            prefix = [(snap.version, i, a, ct, snap.timestamp)
                      for i, a in enumerate(files)]
            version = snap.version
            cache[version] = (version, prefix)
        return version, prefix + self._file_sequence(version + 1)

    # ------------------------------------------------------------- offsets

    def initialOffset(self) -> dict:  # noqa: N802
        self._trace("initialOffset")
        if self.starting_version == "latest":
            # ref DeltaSharingOptions startingVersion="latest": serve only
            # changes committed AFTER the stream starts — no snapshot, no
            # backlog (the version after the current latest)
            offset = {"version": self._log().latest_version() + 1,
                      "index": 0, "isStartingVersion": False}
        elif self.starting_version is not None:
            offset = {"version": int(self.starting_version), "index": 0,
                      "isStartingVersion": False}
        elif self.starting_timestamp is not None:
            v = self._log().earliest_version_at_or_after(
                self.starting_timestamp)
            offset = {"version": v, "index": 0, "isStartingVersion": False}
        else:
            version, _files = self._snapshot_sequence()
            offset = {"version": version, "index": 0,
                      "isStartingVersion": True}
        # initialOffset is only called on a fresh stream (no checkpoint) —
        # it doubles as the planning floor for the first latestOffset()
        self._last_planned = dict(offset)
        return offset

    def _sequence_for(self, offset: dict) -> list[tuple[int, int, object]]:
        if offset.get("isStartingVersion"):
            # the snapshot is pinned at the offset's version so capped
            # draining stays stable across multiple micro-batches
            _v, seq = self._snapshot_sequence(int(offset["version"]))
            return seq
        return self._file_sequence(int(offset["version"]))

    @staticmethod
    def _after(seq, offset: dict):
        v, i = int(offset["version"]), int(offset["index"])
        return [x for x in seq if (x[0], x[1]) >= (v, i)]

    def latestOffset(self) -> dict:  # noqa: N802
        self._trace("latestOffset", floor=self._last_planned)
        # Planning-floor protocol (verified empirically against the pyspark
        # 4.1 runner, see tests/test_datasource.py::TestRestartProtocol):
        # - fresh stream: Spark's FIRST call into the execution-phase reader
        #   is latestOffset() (before even initialOffset), floor=None ->
        #   plan from initialOffset();
        # - restart (committed or not): Spark always replays the last logged
        #   batch through partitions(start, end) BEFORE latestOffset(), so
        #   the floor is restored there (and commit() re-raises it too) and
        #   we never fall back to a freshly-computed initial offset, whose
        #   (version, index) sequence space — snapshot-pinned at the current
        #   latest vs the checkpoint's space — would bound the next batch
        #   incorrectly (duplicate/skipped files).
        start = self._last_planned or self.initialOffset()
        if self.version_poll_interval > 0:
            # version-polling throttle (ref queryTableVersionIntervalSeconds,
            # DeltaSharingSource.scala:176-238 / ConfUtils default 30s): skip
            # re-listing the log within the interval — report no progress
            import time as _time

            now = _time.monotonic()
            if (self._last_poll_ts is not None
                    and now - self._last_poll_ts < self.version_poll_interval):
                return dict(start)
            self._last_poll_ts = now
        seq = self._after(self._sequence_for(start), start)
        if not seq and self._pending_evolution is not None:
            # nothing left before the evolution boundary: persist the new
            # schema and stop the query with the restart-to-continue error
            # (Delta's schemaTrackingLocation protocol)
            from delta_sharing_spark.streaming.schema import (
                RetryableSchemaEvolution,
                SchemaTrackingLog,
            )

            bv, schema_str = self._pending_evolution
            SchemaTrackingLog(self.schema_tracking_location).evolve(
                bv, schema_str)
            raise RetryableSchemaEvolution(
                f"the shared table's schema changed at version {bv}; the "
                f"new schema has been persisted to the schema tracking "
                f"location ({self.schema_tracking_location}) — restart the "
                f"streaming query to continue from the same checkpoint "
                f"under the new schema")
        if self.available_now:
            admitted = seq  # drain to the frozen end, ignoring caps
        else:
            admitted = seq[: self.max_files]  # maxFilesPerTrigger soft cap
        if not self.available_now and self.max_bytes is not None:
            # byte cap: admit files until the budget is spent, always at
            # least one (soft-cap semantics, ref AdmissionLimits ReadMaxBytes)
            budget, cut = self.max_bytes, 0
            for _v, _i, add, _ct, _ts in admitted:
                if cut > 0 and budget - add.size < 0:
                    break
                budget -= add.size
                cut += 1
            admitted = admitted[:cut]
        if not admitted:
            end = dict(start)
        else:
            lv, li = admitted[-1][0], admitted[-1][1]
            # snapshot mode persists until the batch end crosses past the
            # snapshot's own version (then we are in change-tracking mode)
            still_snapshot = (
                bool(start.get("isStartingVersion"))
                and lv <= int(start["version"])
            )
            end = {"version": lv, "index": li + 1,
                   "isStartingVersion": still_snapshot}
        self._last_planned = end
        return end

    @staticmethod
    def _offset_key(o: dict) -> tuple[int, int]:
        return (int(o["version"]), int(o["index"]))

    def partitions(self, start: dict, end: dict):  # noqa: N802
        self._trace("partitions", start=start, end=end)
        # checkpoint restart: Spark replays the last planned batch through
        # partitions() without calling initialOffset; adopt the replayed end
        # as our planning floor so the next latestOffset continues FORWARD
        # from the checkpoint instead of re-planning from scratch
        if (self._last_planned is None
                or self._offset_key(end) > self._offset_key(self._last_planned)):
            self._last_planned = dict(end)
        seq = self._after(self._sequence_for(start), start)
        ev, ei = int(end["version"]), int(end["index"])
        batch = [x for x in seq if (x[0], x[1]) < (ev, ei)]
        log = self._log()
        # ship the PLANNED schema (what this stream was gated on by
        # check_read_compatible), not the current snapshot's: a mid-stream
        # read-compatible metadata change (e.g. dropped column) must keep
        # yielding the planned columns (nulls where absent), and the worker
        # projection handles missing/extra file columns already
        if self._schema is not None:
            schema_json = json.dumps(self._schema.jsonValue())
        else:
            schema_json = log.snapshot().metadata.schemaString
        if not self.read_change_feed:
            return [
                _FilePartition(log.abs_path(f.path), f.partitionValues,
                               schema_json, **_dv_args(log, f))
                for _v, _i, f, _ct, _ts in batch
            ]
        if self._schema is not None:
            data_fields = [
                f for f in self._schema.fields
                if f.name not in ("_change_type", "_commit_version",
                                  "_commit_timestamp",
                                  *(("_row_id", "_row_commit_version")
                                    if self.row_ids else ()))
            ]
            schema_json = json.dumps(
                T.StructType(data_fields).jsonValue())
        return [
            _FilePartition(log.abs_path(f.path), f.partitionValues,
                           schema_json, change_type=ct, commit_version=v,
                           commit_timestamp=ts, rt=self._rt_arg(f, ct, v),
                           **_dv_args(log, f))
            for v, _i, f, ct, ts in batch
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_batches(partition)

    def commit(self, end: dict) -> None:  # noqa: N802
        self._trace("commit", end=end)
        # keep the planning floor at least at the last committed offset so
        # latestOffset never plans behind what Spark already recorded
        if (self._last_planned is None
                or self._offset_key(end) > self._offset_key(self._last_planned)):
            self._last_planned = dict(end)


def _normalize_options(options: dict) -> dict:
    """Reference option-name aliases (DeltaSharingOptions.scala):
    ``versionAsOf``/``timestampAsOf`` are the batch time-travel spellings
    and ``readChangeData`` aliases ``readChangeFeed``. Spark lowercases
    option keys before they reach the data source. ``path`` accepts either
    a table directory or a ``profile#share.schema.table`` url (the
    reference's load path, DeltaSharingDataSource.scala:91-108)."""
    o = dict(options)
    if o.get("url") and not o.get("path"):
        o["path"] = o["url"]
    if o.get("versionasof") and not o.get("version"):
        o["version"] = o["versionasof"]
    if o.get("timestampasof") and not o.get("timestamp"):
        o["timestamp"] = o["timestampasof"]
    if o.get("readchangedata") and not o.get("readchangefeed"):
        o["readchangefeed"] = o["readchangedata"]
    if o.get("version") and o.get("timestamp"):
        raise ValueError(
            "versionAsOf and timestampAsOf are mutually exclusive")
    return o


class SharedTableDataSource(DataSource):
    """Register with ``spark.dataSource.register(SharedTableDataSource)``."""

    def __init__(self, options: dict):
        super().__init__(_normalize_options(options))

    @classmethod
    def name(cls) -> str:
        return "deltashare"

    def schema(self) -> T.StructType:
        # checkpoint-aware log replay (works after expire_log, when the
        # only metadata lives in a checkpoint parquet), resolved AT THE
        # REQUESTED version/timestamp so time-travel reads plan on the
        # schema their files actually carry — no Spark session needed
        import json as _json

        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.sources.remote import (
            remote_schema_json,
            resolve_source_path,
        )

        version = (int(self.options["version"])
                   if self.options.get("version") else None)
        timestamp = self.options.get("timestamp")
        tracking = self.options.get("schematrackinglocation")
        tracked = None
        if tracking:
            from delta_sharing_spark.streaming.schema import SchemaTrackingLog

            tracked = SchemaTrackingLog(tracking).latest()
        if tracked is not None:
            # a restarted stream plans on the evolved schema persisted at
            # the last RetryableSchemaEvolution boundary
            schema = T.StructType.fromJson(
                _json.loads(tracked["schemaString"]))
        else:
            mode, target = resolve_source_path(self.options["path"])
            if mode == "remote":
                sv = self.options.get("startingversion")
                at = (int(sv) if tracking and sv is not None
                      and sv != "latest" else None)
                schema_str, _cfg = remote_schema_json(*target, version=at)
                schema = T.StructType.fromJson(_json.loads(schema_str))
                # seed at the starting version when known; otherwise floor
                # 0 (gates simply apply everywhere, stepwise evolution)
                seed = (at if at is not None else 0, schema_str)
            else:
                log = TableLog(None, target)
                sv = self.options.get("startingversion")
                st = self.options.get("startingtimestamp")
                if tracking and sv is not None and sv != "latest":
                    snap = log.snapshot(version=int(sv))
                elif tracking and st is not None:
                    snap = log.snapshot(
                        version=log.earliest_version_at_or_after(st))
                else:
                    snap = log.snapshot(version=version, timestamp=timestamp)
                schema = snap.schema
                seed = (snap.version, snap.metadata.schemaString)
            if tracking:
                # fresh tracked stream: seed the log with the schema AT the
                # stream's starting version so compat gates apply from
                # there and historical metadata commits before it don't
                # force spurious evolution restarts (Delta seeds its
                # metadata tracking log the same way)
                from delta_sharing_spark.streaming.schema import (
                    SchemaTrackingLog,
                )

                SchemaTrackingLog(tracking).evolve(*seed)
        cdf = self.options.get("readchangefeed", "false") == "true"
        row_ids = self.options.get("rowids", "false") == "true"
        if row_ids and not cdf:
            raise ValueError(
                "rowIds=true is a readChangeFeed companion option on this "
                "source (batch and streaming CDF); for snapshot reads use "
                "SharedTable.to_df(row_ids=True) / load_as_spark")
        if cdf:
            # CDF virtual columns (PROTOCOL.md:2359-2362)
            schema = T.StructType(
                list(schema.fields) + [
                    T.StructField("_change_type", T.StringType(), True),
                    T.StructField("_commit_version", T.LongType(), True),
                    T.StructField("_commit_timestamp", T.LongType(), True),
                ] + ([
                    # Delta row-tracking ids for insert rows, NULL on
                    # cdc/remove change images (matches the batch
                    # changes_lines_to_spark(row_ids=True) rebuild)
                    T.StructField("_row_id", T.LongType(), True),
                    T.StructField("_row_commit_version", T.LongType(), True),
                ] if row_ids else [])
            )
        return schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self.options.get("readchangefeed", "false") == "true":
            # batch CDF (ref spark connector readChangeFeed batch reads:
            # client/.../DeltaSharingDataSource + RemoteDeltaCDFRelation)
            return SharedTableCDFBatchReader(dict(self.options), schema)
        return SharedTableBatchReader(dict(self.options), schema)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:  # noqa: N802
        return SharedTableStreamReader(dict(self.options), schema)
