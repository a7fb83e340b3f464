"""Change Data Feed: reconstruct row-level changes from the commit log.

Reference semantics (server/.../DeltaSharingCDCReader.scala:191-330 +
PROTOCOL.md:2352-2430):

- range is inclusive [start, end]; start required, end defaults to latest;
- per version: if the commit wrote cdc files, they are the change record
  (they carry their own ``_change_type`` including update_preimage /
  update_postimage); otherwise dataChange add files imply ``insert`` and
  remove files imply ``delete``;
- three virtual columns: ``_change_type`` (string), ``_commit_version``
  (long), ``_commit_timestamp`` (long, epoch millis);
- error if CDF is not enabled on the table, or start > latest version;
- timestamp bounds: start resolves to the exact-match commit else the
  earliest commit after it; end resolves to the latest commit at/before it
  (DeltaSharingHistoryManager semantics).

Spark-first assembly (mirrors client/.../RemoteDeltaCDFRelation.scala:85-140,
which unions three HadoopFsRelation scans): ONE parquet scan per action kind
regardless of version count, with per-file commit version/timestamp attached
by a broadcast join on the file path — no per-version plan blow-up, scales to
arbitrarily long histories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_sharing_spark.plans.log import (
    CHANGE_TYPE_COL,
    CM_PHYSICAL_KEY,
    COMMIT_TIMESTAMP_COL,
    COMMIT_VERSION_COL,
    Snapshot,
    TableLog,
    is_noop_merge,
    wire_protocol,
)
from delta_sharing_spark.streaming.schema import (
    _datatype_read_compatible,
    _widenable,
)


class CDFError(Exception):
    pass


# --------------------------------------------------------------- schema epochs
#
# A metaData commit inside the change range starts a new "schema epoch":
# files written before it conform to the OLD schema (old physical names /
# old types) and must be read under it, then converted to the latest
# logical schema — the reference interleaves historical metaData for
# exactly this (PROTOCOL.md:2352-2420 includeHistoricalMetadata; the
# kernel client replays version_to_metadata into a temp log,
# python/delta_sharing/reader.py:477-592; admissibility gate
# client/.../spark/util/SchemaUtils.scala:37-90).

class _Epoch:
    """File actions of one schema epoch within the CDF range."""

    def __init__(self, snap: Snapshot):
        self.snap = snap
        self.cdc: list[tuple[str, int, int]] = []
        self.adds: list[tuple[str, int, int]] = []
        self.removes: list[tuple[str, int, int]] = []

    def empty(self) -> bool:
        return not (self.cdc or self.adds or self.removes)


def _to_latest_schema(df: DataFrame, epoch: Snapshot, latest: Snapshot,
                      keep_cols: list[str]) -> DataFrame:
    """Convert an epoch-schema DataFrame (physical names) to the latest
    snapshot's logical schema: rename via the stable physical names, cast
    widened types, null-pad columns added later, drop columns removed
    later. Raises CDFError on a non-widening type change — the reference
    rejects such ranges (SchemaUtils.scala:37-90 read-compat gate)."""
    latest_p2l = latest.physical_to_logical or {
        f.name: f.name for f in latest.schema.fields}
    latest_types = {f.name: f.dataType for f in latest.schema.fields}
    cols: dict[str, F.Column] = {}
    for f in epoch.schema.fields:
        phys = (f.metadata or {}).get(CM_PHYSICAL_KEY, f.name)
        target = latest_p2l.get(phys)
        if target is None:
            continue  # column dropped after this epoch
        dst = latest_types[target]
        if f.dataType == dst or _datatype_read_compatible(f.dataType, dst):
            col = F.col(phys)
        elif _widenable(f.dataType, dst):
            col = F.col(phys).cast(dst)
        else:
            raise CDFError(
                f"incompatible schema change across the CDF range: column "
                f"'{target}' was {f.dataType.simpleString()} and is now "
                f"{dst.simpleString()}; query a narrower version range")
        cols[target] = col.alias(target)
    select = []
    for name in keep_cols:
        if name in cols:
            select.append(cols[name])
        elif name in latest_types:  # added after this epoch -> nulls
            select.append(F.lit(None).cast(latest_types[name]).alias(name))
        else:  # CDF virtual column produced upstream (e.g. _change_type)
            select.append(F.col(name))
    return df.select(*select)


def _resolve_range(
    log: TableLog,
    starting_version: int | None,
    ending_version: int | None,
    starting_timestamp: str | None,
    ending_timestamp: str | None,
) -> tuple[int, int]:
    latest = log.latest_version()
    if starting_version is not None:
        start = starting_version
    elif starting_timestamp is not None:
        start = log.earliest_version_at_or_after(starting_timestamp)
    else:
        raise CDFError("CDF requires a starting version or timestamp")
    if ending_version is not None:
        end = ending_version
    elif ending_timestamp is not None:
        end = log.version_at_timestamp(ending_timestamp)
    else:
        end = latest
    if start > latest:
        raise CDFError(
            f"startingVersion {start} is after the latest version {latest}")
    if end < start:
        raise CDFError(f"CDF range [{start}, {end}] is empty")
    versions = log._list_versions()
    if versions and start < versions[0]:
        # reading changes from below the retention floor would silently
        # serve only the retained suffix — fail loudly instead (the same
        # contract as resume tokens whose version was expired mid-walk)
        raise CDFError(
            f"startingVersion {start} precedes the earliest retained "
            f"version {versions[0]}; the commits were expired from the "
            "log and change data cannot be reconstructed")
    return start, min(end, latest)


def _attach_commit_columns(
    spark: SparkSession,
    df: DataFrame,
    file_meta: list[tuple[str, int, int]],
    change_type: str | None,
) -> DataFrame:
    """Join per-file (version, timestamp) onto rows via input_file_name —
    one broadcast hash join against a tiny path->commit map."""
    meta_schema = T.StructType([
        T.StructField("__path", T.StringType()),
        T.StructField(COMMIT_VERSION_COL, T.LongType()),
        T.StructField(COMMIT_TIMESTAMP_COL, T.LongType()),
    ])
    meta_df = spark.createDataFrame(file_meta, meta_schema)
    out = (
        df.withColumn(
            # input_file_name is URI-encoded (space -> %20); decode back to
            # the on-disk byte path ('+' protected: url_decode is
            # form-decoding) so the join key matches abs_path-derived paths
            "__path",
            F.url_decode(F.regexp_replace(
                F.regexp_replace(F.input_file_name(), "^file:(//)?", ""),
                r"\+", "%2B")),
        )
        .join(F.broadcast(meta_df), "__path")
        .drop("__path")
    )
    if change_type is not None:
        out = out.withColumn(CHANGE_TYPE_COL, F.lit(change_type))
    return out


def table_changes(
    spark: SparkSession,
    path: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: str | None = None,
    ending_timestamp: str | None = None,
) -> DataFrame:
    """Changes in [start, end] as a DataFrame with the three CDF columns.

    Column order: table schema columns, then _change_type, _commit_version,
    _commit_timestamp (ref python/delta_sharing/reader.py:676-688).
    """
    log = TableLog(spark, path)
    if not log.snapshot().metadata.cdf_enabled:
        raise CDFError(
            "change data feed is not enabled on this table "
            "(configuration enableChangeDataFeed != true)")
    start, end = _resolve_range(
        log, starting_version, ending_version,
        starting_timestamp, ending_timestamp,
    )
    # output schema = the END-of-range snapshot's (delta-kernel
    # TableChangesScanBuilder semantics: compatibility is required within
    # [start, end] only — a schema change AFTER the range must not make a
    # perfectly servable historical range error)
    snap = log.snapshot(version=end)

    # Group file actions by SCHEMA EPOCH: a metaData commit inside the
    # range means earlier files were written under a different (physical)
    # schema and must be read under it, then converted to the latest
    # logical schema (PROTOCOL.md:2352-2420 includeHistoricalMetadata;
    # reader.py:477-592). One scan per (epoch, action-kind) — epoch count
    # is the number of schema CHANGES in range (rare), not versions, so
    # the plan stays O(schema changes), never O(commits).
    epochs: list[_Epoch] = []
    cur = _Epoch(log.snapshot(start))
    for commit in log.commits(start, end):
        if commit.metadata is not None and (
            commit.metadata.schemaString != cur.snap.metadata.schemaString
            or commit.metadata.partitionColumns
            != cur.snap.metadata.partitionColumns
        ):
            if not cur.empty():
                epochs.append(cur)
            cur = _Epoch(Snapshot(commit.version, commit.timestamp,
                                  commit.metadata, []))
        if is_noop_merge(commit.info):
            # MERGE that rewrote files but changed no rows: its file
            # actions are not changes (ref DeltaSharingCDCReader.scala:301-323)
            continue
        if commit.cdc:
            # cdc files are the authoritative change record for the commit
            cur.cdc += [
                (log.abs_path(c.path), commit.version, commit.timestamp)
                for c in commit.cdc
            ]
        else:
            cur.adds += [
                (log.abs_path(a.path), commit.version, commit.timestamp)
                for a in commit.adds if a.dataChange
            ]
            cur.removes += [
                (log.abs_path(r.path), commit.version, commit.timestamp)
                for r in commit.removes if r.dataChange
            ]
    if not cur.empty():
        epochs.append(cur)

    schema_cols = [f.name for f in snap.schema.fields]
    out_cols = schema_cols + [
        CHANGE_TYPE_COL, COMMIT_VERSION_COL, COMMIT_TIMESTAMP_COL
    ]
    parts: list[DataFrame] = []
    for ep in epochs:
        phys_schema = ep.snap.physical_schema
        if ep.cdc:
            # cdc files physically carry every column (written flat) plus
            # their own _change_type
            cdc_schema = T.StructType(
                list(phys_schema.fields)
                + [T.StructField(CHANGE_TYPE_COL, T.StringType())])
            cdc_df = spark.read.schema(cdc_schema).parquet(
                *[p for p, _, _ in ep.cdc])
            cdc_df = _to_latest_schema(
                cdc_df, ep.snap, snap, schema_cols + [CHANGE_TYPE_COL])
            parts.append(_attach_commit_columns(spark, cdc_df, ep.cdc, None))
        if ep.adds:
            add_df = spark.read.schema(phys_schema).option(
                "basePath", log.data_path
            ).parquet(*[p for p, _, _ in ep.adds])
            add_df = _to_latest_schema(add_df, ep.snap, snap, schema_cols)
            parts.append(
                _attach_commit_columns(spark, add_df, ep.adds, "insert"))
        if ep.removes:
            rem_df = spark.read.schema(phys_schema).option(
                "basePath", log.data_path
            ).parquet(*[p for p, _, _ in ep.removes])
            rem_df = _to_latest_schema(rem_df, ep.snap, snap, schema_cols)
            parts.append(
                _attach_commit_columns(spark, rem_df, ep.removes, "delete"))
    if not parts:
        fields = snap.schema.fields + [
            T.StructField(CHANGE_TYPE_COL, T.StringType()),
            T.StructField(COMMIT_VERSION_COL, T.LongType()),
            T.StructField(COMMIT_TIMESTAMP_COL, T.LongType()),
        ]
        return spark.createDataFrame([], T.StructType(fields))
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    # every part is already converted to the latest LOGICAL schema
    # (a renamed column's history appears under its current name, like
    # Delta's CDF after RENAME COLUMN)
    return unioned.select(*out_cols)


def table_changes_actions(
    spark: SparkSession,
    path: "str | TableLog",
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: str | None = None,
    ending_timestamp: str | None = None,
    include_historical_metadata: bool = False,
    include_historical_protocol: bool = False,
    max_files: int | None = None,
    page_token: str | None = None,
) -> dict:
    """Wire-parity surface for the CDF endpoint (PROTOCOL.md:2352-2430):
    the NDJSON-shaped action stream with add/cdc/remove lines carrying
    version + timestamp, optionally interleaving historical ``metaData``
    actions (``includeHistoricalMetadata``) and — under the
    ``includeHistoricalProtocol`` opt-in (delta-format responses only,
    like the range form; ref DeltaSharedTable.scala queryCDF:705,748-757)
    — historical ``protocol`` actions, with the head protocol stamped
    with its version.

    ``max_files`` + ``page_token`` page the FILE actions with the
    reference's queryCDF pagination semantics (DeltaSharedTable.scala:
    707-723,766-780): checksummed tokens bound to every query parameter,
    the range END pinned at the first page so commits arriving
    mid-pagination are ignored, non-file lines riding with the page
    containing their neighbouring files, head protocol/metaData repeated
    on every page.

    ``path`` is the table location, or the ``TableLog`` of a long-lived
    table handle, whose snapshot and commit caches then serve the
    request."""
    from delta_sharing_spark.table import (
        ActionPager,
        decode_page_token,
        page_checksum,
        wire_file,
    )

    log = path if isinstance(path, TableLog) else TableLog(spark, path)
    if not log.snapshot().metadata.cdf_enabled:
        raise CDFError("change data feed is not enabled on this table")
    start, end = _resolve_range(
        log, starting_version, ending_version,
        starting_timestamp, ending_timestamp,
    )
    # shared token helpers (ONE checksum/mint/validate definition for the
    # snapshot, range and changes forms); the table path binds the token
    # to this table like the reference's tableConfig.id
    checksum = page_checksum({
        "path": log.path,
        "startingVersion": starting_version,
        "endingVersion": ending_version,
        "startingTimestamp": starting_timestamp,
        "endingTimestamp": ending_timestamp,
        "includeHistoricalMetadata": include_historical_metadata,
        "includeHistoricalProtocol": include_historical_protocol,
    })
    start_idx = 0
    resume: dict | None = None
    if page_token:
        decoded = decode_page_token(page_token, checksum)
        start_idx = int(decoded.get("start", 0))
        # pin the range end captured at the first page (ref token's
        # endingVersion pinning)
        end = min(int(decoded.get("end", end)), log.latest_version())
        resume = decoded
    # head metaData: the range-START snapshot's when historical metaData
    # is requested (in-range schema changes then arrive as historical
    # lines), else the LATEST snapshot's — reference semantics
    # (DeltaSharedTable.scala:735-739: snapshot(Some(start)) iff
    # includeHistoricalMetadata, else latest). Reference clients seed the
    # CDF read schema from this line, so serving the end-of-range schema
    # as head would mis-decode early-range files for a streaming client.
    snap = (log.snapshot(version=start) if include_historical_metadata
            else log.snapshot())
    from dataclasses import asdict

    # head protocol mirrors the end snapshot's reader requirement (the
    # range form's derivation): a column-mapped table advertises
    # minReaderVersion 2 so clients know what a read needs
    head_proto = wire_protocol(snap.column_mapping)
    if include_historical_protocol:
        # stamp the head protocol's version only under the opt-in,
        # preserving the legacy wire shape otherwise (ref
        # headProtocolVersion, DeltaSharedTable.scala:752-757)
        head_proto["version"] = snap.version
    lines: list[dict] = [
        {"protocol": head_proto},
        {"metaData": {**asdict(snap.metadata), "version": snap.version}},
    ]
    prev_cm = None
    if include_historical_protocol:
        # the start snapshot resolution is only needed for the protocol
        # derivation baseline — plain changes RPCs (the common case) must
        # not pay a third snapshot resolution for it
        from delta_sharing_spark.plans.log import derive_wire_protocol

        prev_cm = (log.snapshot(version=start).metadata.configuration
                   or {}).get("delta.columnMapping.mode") == "name"
    # page-gate + resume bookkeeping shared with the version-range form
    # (table.ActionPager owns the token schema — {start,end,v,vbase[,pcm]}
    # — and the boundary rules: file actions cut pages, non-file lines
    # ride with their neighbouring files, an exactly-full page followed
    # by metadata-only commits still mints a continuation token)
    pager = ActionPager(
        start_version=start, end=end, start_idx=start_idx,
        max_files=max_files, checksum=checksum, prev_cm=prev_cm,
        carry_pcm=include_historical_protocol, resume=resume,
        error_cls=CDFError)
    emit_file, emit_meta = pager.emit_file, pager.emit_meta

    # version-by-version with early break AND resume-version skip:
    # commits past the filled page are never read, and commits before the
    # token's resume version are never re-parsed — a page at any depth of
    # a long backlog costs O(page) commit parses, not O(offset)
    versions = log._list_versions()
    pager.check_resume_available(versions)
    for v in versions:
        if v < start or v > end:
            continue
        if pager.skip_commit(v):
            continue
        if pager.filled:
            break
        commit = log.read_commit(v)
        pager.begin_commit(v)
        if is_noop_merge(commit.info):
            continue
        if include_historical_metadata and commit.metadata is not None:
            emit_meta({"metaData": {**asdict(commit.metadata),
                                    "version": commit.version}})
        if include_historical_protocol:
            if commit.version > start:
                # derivation shared with the range form (plans/log.py)
                proto_line = derive_wire_protocol(commit, pager.prev_cm)
                if proto_line is not None:
                    emit_meta({"protocol": {
                        **proto_line, "version": commit.version}})
            if commit.metadata is not None:
                pager.prev_cm = (commit.metadata.configuration or {}).get(
                    "delta.columnMapping.mode") == "name"
        if commit.cdc:
            for c in commit.cdc:
                emit_file({"cdf": wire_file(
                    log, c, commit.version, commit.timestamp)})
        else:
            for a in commit.adds:
                if a.dataChange:
                    emit_file({"add": wire_file(
                        log, a, commit.version, commit.timestamp)})
            for r in commit.removes:
                if r.dataChange:
                    emit_file({"remove": wire_file(
                        log, r, commit.version, commit.timestamp)})
    lines += pager.lines
    # wire parity: Delta-Table-Version on the changes RPC is the STARTING
    # version of the files in the response (PROTOCOL.md:2432-2436;
    # DeltaSharedTable.scala queryCDF returns QueryResult(start, ...))
    return {"version": start, "actions": lines,
            "nextPageToken": pager.next_token}
