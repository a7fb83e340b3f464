"""TableLog — a versioned commit log over Parquet, Spark-first.

Re-implements the reference's table model (a Delta log of add/remove/cdc
actions, SURVEY.md §1.2) as a minimal native log:

    table_dir/
      _dsl_log/00000000000000000000.json   # NDJSON actions, one file/version
      data/<hive partition dirs>/part-*.parquet
      _change_data/cdc-*.parquet           # CDF files (update pre/post images)

Design decisions vs the reference:

- Data files live under **Hive-style partition directories** written by
  ``df.write.partitionBy(...)`` so Spark's native partition discovery and
  pruning apply; the log additionally records the reference's string-
  serialized ``partitionValues`` map (PROTOCOL.md:3896-3906) for the
  metadata-plane pruning path.
- Per-file stats come from Parquet footers (plans/stats.py), not a re-scan.
- Commit = write one NDJSON file at the next version (atomic rename); commit
  timestamps are monotonized like the reference's history manager
  (server/.../DeltaSharingHistoryManager.scala:93-104: equal/backward clocks
  get +1ms) so timestamp->version resolution is well-defined.

Write operations (create/append/overwrite/delete/update) exist so tests can
build versioned/CDF/streaming fixtures; they are driver-light — all row work
happens in Spark jobs, only file manifests touch the driver. The manifest
itself is exposed as a DataFrame (``files_df``) so file-level pruning also
scales out on a cluster with millions of files.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
import urllib.parse
import uuid
import weakref
from dataclasses import asdict, dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_sharing_spark.plans.actions import (
    Action,
    AddCDCFile,
    AddFile,
    CommitInfo,
    DomainMetadata,
    Metadata,
    Protocol,
    RemoveFile,
    dumps_action,
    parse_action,
)
from delta_sharing_spark.plans.stats import collect_file_stats

_LOG = logging.getLogger("dss.log")

LOG_DIR = "_dsl_log"
DATA_DIR = "data"
CDC_DIR = "_change_data"
DV_DIR = "_dv"
# DV sides up to this many deleted rows broadcast for the anti-join; larger
# vectors fall back to a shuffled anti-join (both scale out)
DV_BROADCAST_MAX_ROWS = 4_000_000

# Files whose merged deleted set stays at/below this inline the positions in
# the descriptor itself (storageType "i", like Delta's inline DVs —
# PROTOCOL.md:4014-4137 delta-format DV descriptors), saving one file open
# per tiny DML commit. Larger sets go to the packed parquet (storageType
# "u"). The global cap bounds driver-side row collection for inlining.
INLINE_DV_MAX_ROWS = 256
INLINE_DV_GLOBAL_MAX_ROWS = 100_000
# compact_deletion_vectors folds inline descriptors into the packed
# parquet once more than this many files carry them (each inline desc
# is a driver-side decode per read — fine in the tens, not thousands)
INLINE_DV_COMPACT_FILES = 64

_RETENTION_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
    "week": 604_800_000, "weeks": 604_800_000,
}


def _parse_retention_millis(retention) -> int:
    """``delta.logRetentionDuration``-style durations: a ``timedelta``,
    plain millis, or ``"interval 30 days"`` / ``"30 days"`` strings."""
    import datetime as _dt

    if isinstance(retention, _dt.timedelta):
        return int(retention.total_seconds() * 1000)
    if isinstance(retention, (int, float)):
        return int(retention)
    parts = str(retention).strip().lower().split()
    if parts and parts[0] == "interval":
        parts = parts[1:]
    if len(parts) == 2 and parts[1] in _RETENTION_UNITS_MS:
        try:
            return int(float(parts[0]) * _RETENTION_UNITS_MS[parts[1]])
        except ValueError:
            pass
    raise ValueError(
        f"unparseable retention duration {retention!r}; expected e.g. "
        "'interval 30 days', '12 hours', a timedelta, or millis")


# checkpoints persist at most this many (txnAppId -> epoch) entries,
# most recently active first (Delta's setTransactionRetentionDuration
# analogue, by count)
TXN_RETENTION_MAX = 1000


from delta_sharing_spark.plans.dvcodec import (  # noqa: E402
    decode_inline_dv,
    encode_inline_dv,
)

# Checkpoints above this many rows split into a DIRECTORY of parquet part
# files (Delta's multi-part `n.checkpoint.o.p.parquet` shape): a single-file
# checkpoint of a million-file manifest is one parquet row group, so the
# manifest-prune Spark job runs as ONE task no matter the cluster size —
# measured 12.9s for a 1M-file stats prune vs ~2s with 10 parts. Readers
# (pyarrow + spark.read.parquet) take the file and directory forms alike.
CHECKPOINT_PART_ROWS = 100_000
# parquet row-group bound for checkpoint/sidecar writers: a scan's real
# parallelism is one task per row group (see write_checkpoint_files)
CHECKPOINT_ROW_GROUP_ROWS = 32_768

CHECKPOINT_POLICY_KEY = "delta.checkpointPolicy"
SIDECAR_DIR = "_sidecars"
LAST_CHECKPOINT = "_last_checkpoint"
# V2 checkpoints (delta.checkpointPolicy=v2): file actions live in
# content-addressed sidecar parquets bucketed by a stable path hash —
# bucket count = smallest power of two with <= this many files per bucket,
# so a later checkpoint rewrites only buckets whose files changed
SIDECAR_TARGET_ROWS = 100_000

# Write a parquet checkpoint of the active snapshot every N commits (Delta's
# default cadence). Without checkpoints, snapshot resolution replays every
# commit JSON — O(versions) driver work per query, the metadata-plane killer
# at thousands of commits. The reference's Python client synthesizes a
# checkpoint for the same reason (python/delta_sharing/fake_checkpoint.py:1-204).
CHECKPOINT_INTERVAL_DEFAULT = 10

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
COMMIT_TIMESTAMP_COL = "_commit_timestamp"


class TableNotFoundError(Exception):
    pass


class VersionNotFoundError(Exception):
    pass


class ChecksumMismatchError(Exception):
    """A version's ``.crc`` sidecar disagrees with the replayed state."""


class SidecarIntegrityError(Exception):
    """A V2-checkpoint sidecar's bytes disagree with the manifest's
    recorded sizeInBytes / content hash — a truncated or tampered
    sidecar must fail the read loudly, never under-report files."""


class CheckConstraintViolation(ValueError):
    """A write produced rows failing a ``delta.constraints.*`` CHECK
    expression (Delta's InvariantViolationException)."""


class NotNullViolation(CheckConstraintViolation):
    """A write produced NULL in a non-nullable column — the schema's
    nullability IS an invariant Delta enforces during the write (NOT NULL
    constraint, Invariants.scala); reads never null-backfill such a
    column because add_column forbids non-nullable additions."""


class MetadataChangedError(Exception):
    """A concurrent commit changed the table's metadata (schema/partitioning/
    config) between a writer's snapshot and its commit — the staged write may
    no longer be valid, so it must not be blindly retried (Delta's
    MetadataChangedException taxonomy)."""


def _file_may_match(add, predicate: dict | str | None,
                    partition_columns: list[str]) -> bool:
    """Could ``add`` contain a row matching ``predicate``? True unless the
    file's partitionValues + stats PROVE no row matches (the same
    never-wrongly-skip contract as query pruning). No predicate = matches
    everything (conservative whole-table read scope)."""
    from delta_sharing_spark.plans.predicates import keep_file

    if predicate is None:
        return True
    return keep_file(predicate, add.partitionValues, add.stats_dict(),
                     partition_columns)


def retry_on_conflict(fn, retries: int = 2):
    """Optimistic-concurrency wrapper for read-dependent write ops (DELETE /
    UPDATE / MERGE / OVERWRITE / OPTIMIZE): on ``ConcurrentCommitError`` the
    whole operation re-runs against the fresh snapshot — the safe general
    conflict rule, since those ops' staged rewrites depend on the files they
    read (Delta's OptimisticTransaction re-execution fallback). Files staged
    by a losing attempt become unreferenced and are reclaimed by vacuum().

    Plain appends don't need this: :meth:`TableLog.append` retries its own
    commit in place (blind append — no read dependency)."""
    last: Exception | None = None
    for _ in range(retries + 1):
        try:
            return fn()
        except ConcurrentCommitError as exc:
            last = exc
    raise last


class ConcurrentCommitError(Exception):
    """Another writer committed this version first — re-resolve and retry."""


class ConcurrentAppendError(ConcurrentCommitError):
    """A concurrent commit appended data the losing operation's read may
    have depended on (Delta's ConcurrentAppendException under
    WriteSerializable). Retryable: re-run against the fresh snapshot."""


class ConcurrentDeleteReadError(ConcurrentCommitError):
    """A concurrent commit removed (or DV-rewrote) a file this operation
    read (Delta's ConcurrentDeleteReadException). Retryable."""


class ConcurrentDeleteDeleteError(ConcurrentCommitError):
    """Both this operation and a concurrent commit removed the same file
    (Delta's ConcurrentDeleteDeleteException). Retryable."""


class ConcurrentDomainMetadataError(ConcurrentCommitError):
    """A concurrent commit wrote the same metadata domain this operation
    writes (Delta's ConcurrentTransactionException for domainMetadata
    conflicts). Retryable — re-running against the fresh snapshot re-reads
    the domain (e.g. re-allocates row ids past the winner's mark)."""


def derive_wire_protocol(commit, prev_cm: bool) -> "dict | None":
    """The historical protocol action a wire response interleaves for
    ``commit``, given whether column mapping was previously on: an
    explicit in-commit protocol upgrade action wins; otherwise a metadata
    commit flipping the column-mapping reader feature derives the
    protocol the same way the snapshot head does. None = no protocol
    change at this commit. SHARED by the range and changes forms
    (table.py / cdf.py) so the feature→protocol mapping can never
    desynchronize between the two RPCs."""
    if commit.protocol is not None:
        return dict(commit.protocol)
    if commit.metadata is not None:
        cm_now = (commit.metadata.configuration or {}).get(
            "delta.columnMapping.mode") == "name"
        if cm_now != prev_cm:
            return wire_protocol(cm_now)
    return None


def wire_protocol(column_mapping: bool) -> dict:
    """The protocol action a wire response carries for a table with or
    without column mapping: column mapping needs reader protocol 2 (Delta
    protocol table); plain tables stay at the reference's "fake"
    minReaderVersion 1 (DeltaSharedTableKernel.scala:193). ONE mapping
    for the snapshot head, the range and changes heads and the derived
    historical lines. Returns a fresh dict: callers stamp a version on
    it."""
    return ({"minReaderVersion": 2, "minWriterVersion": 5}
            if column_mapping else {"minReaderVersion": 1})


def _fmt_version(v: int) -> str:
    return f"{v:020d}.json"


def _fmt_checkpoint(v: int) -> str:
    return f"{v:020d}.checkpoint.parquet"


def _file_identity(fp: str) -> "tuple[int, int] | None":
    """``(st_ino, st_mtime_ns)`` of a log file or checkpoint, None when it
    is gone: what the per-version caches re-check on every hit, so a file
    replaced or removed under a cached entry (expiry, checkpoint
    reinstall, a table recreated at the same location) is noticed."""
    try:
        st = os.stat(fp)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns)


# Typed min/max stats columns (Delta's ``stats_parsed`` shape): columns of
# these atomic Spark types additionally materialize as TYPED struct fields
# beside the stats-JSON strings in every checkpoint/sidecar row, so the
# manifest prune compares native parquet columns instead of running
# get_json_object per row (~20-60 µs/row/core — the dominant cost of a
# 10M-file stats prune). Kind chars: i=int64, f=float64, b=bool,
# s=string (dates/timestamps keep their ISO string form and are cast at
# scan time — bit-identical semantics to the JSON path's string cast).
# Decimals/binary/nested stay JSON-only (the prune falls back per column).
_STAT_KIND_OF_TYPE = {
    T.ByteType: "i", T.ShortType: "i", T.IntegerType: "i", T.LongType: "i",
    T.FloatType: "f", T.DoubleType: "f",
    T.BooleanType: "b",
    T.StringType: "s", T.DateType: "s", T.TimestampType: "s",
    T.TimestampNTZType: "s",
}
_STAT_SPARK_TYPE = {"i": T.LongType(), "f": T.DoubleType(),
                    "b": T.BooleanType(), "s": T.StringType()}

PARSED_STAT_COLS = ("minValues_parsed", "maxValues_parsed",
                    "nullCount_parsed")


def _arrow_parsed_spec(schema) -> "list[tuple[str, str]] | None":
    """The (name, kind) typed-stats spec stored in an Arrow manifest
    table's ``minValues_parsed`` struct; None when the table predates the
    typed columns."""
    if "minValues_parsed" not in schema.names:
        return None
    kind_of = {t: k for k, t in _stat_arrow_types().items()}
    return [(f.name, kind_of[f.type])
            for f in schema.field("minValues_parsed").type]


def stats_field_spec(schema: T.StructType) -> list[tuple[str, str]]:
    """(name, kind) for every column eligible for typed stats columns.
    Keyed by whatever names the given schema carries — pass the PHYSICAL
    schema under column mapping (stats are physical-keyed).

    Struct-nested leaves (r11) appear as DOTTED paths (``m.qty``): the
    stats JSON nests per the protocol (PROTOCOL.md:3908-4013), while the
    typed ``*_parsed`` structs stay FLAT with the dotted path as the
    field name — same pruning power as Delta's nested ``stats_parsed``,
    one flat column layout for every manifest consumer. A field whose own name
    contains a literal dot is excluded (ambiguous with a nested path —
    such columns are statless, as before r11); flat schemas produce the
    exact pre-r11 spec, so sidecar content addresses are unchanged."""
    out: list[tuple[str, str]] = []

    def walk(fields, prefix: tuple) -> None:
        for f in fields:
            if "." in f.name:
                continue
            t = type(f.dataType)
            if t is T.StructType:
                walk(f.dataType.fields, prefix + (f.name,))
            elif t in _STAT_KIND_OF_TYPE:
                out.append((".".join(prefix + (f.name,)),
                            _STAT_KIND_OF_TYPE[t]))

    walk(schema.fields, ())
    return out


from delta_sharing_spark.plans.predicates import (  # noqa: E402
    stat_lookup as _stat_lookup,
)


def _typed_stat_value(v, kind: str):
    """One stats-JSON value -> the typed column's python value; anything
    non-conforming -> None (Unknown -> the prune keeps the file).
    Mirrors the JSON path's cast semantics exactly: a non-integral
    value in an int column's stats casts to NULL there (Spark
    string->bigint of '3.7' is NULL with ANSI off), so it must be
    Unknown here too — int() truncation would shrink a MAX bound and
    wrongly prune."""
    if v is None:
        return None
    try:
        if kind == "i":
            if isinstance(v, bool) or \
                    (isinstance(v, float) and not v.is_integer()):
                return None
            iv = int(v)
            # JSON integers are unbounded; int64 overflow would fail the
            # whole checkpoint write (pa.array raises), where the JSON
            # layout just cast such values to NULL at scan time. Same
            # robustness here: out-of-range -> Unknown -> keep.
            return iv if -(1 << 63) <= iv < (1 << 63) else None
        if kind == "f":
            return float(v) if not isinstance(v, bool) else None
        if kind == "b":
            return v if isinstance(v, bool) else None
        if isinstance(v, bool):
            # JSON serializes bools as 'true'/'false'; str(True) is
            # 'True' — match the JSON path byte-for-byte
            return "true" if v else "false"
        return v if isinstance(v, str) else str(v)
    except (TypeError, ValueError):
        return None


# exact-type fast path per kind: stats dicts parsed from JSON carry int/
# float/str values directly, so the slow conversion (`_typed_stat_value`)
# only runs for the rare mismatched value — a 10M-row checkpoint build is
# 60M of these lookups (`v.__class__ is int` also excludes bool, which
# int isinstance would admit)
_STAT_FAST_CLS = {"i": int, "f": float, "b": bool, "s": str}


def _stat_arrow_types() -> dict:
    """kind -> the Arrow type a typed-stats struct field stores it as:
    the one map the builders write with and ``_arrow_parsed_spec`` reads
    back."""
    import pyarrow as pa

    return {"i": pa.int64(), "f": pa.float64(),
            "b": pa.bool_(), "s": pa.string()}


def _parsed_struct_arrays(dicts, spec):
    """Arrow StructArray over per-row stats dicts: one flat value list per
    field (never 10M python dicts), rows with no stats masked null."""
    import pyarrow as pa

    cols, names = [], []
    arrow_types = _stat_arrow_types()
    for name, kind in spec:
        pa_t = arrow_types[kind]
        fast = _STAT_FAST_CLS[kind]
        vals = []
        append = vals.append
        dotted = "." in name
        if kind == "i":
            # ints need the int64 bounds check even on the fast path (an
            # out-of-range JSON integer must become NULL, not fail the
            # whole write in pa.array)
            lo, hi = -(1 << 63), (1 << 63)
            for d in dicts:
                v = _stat_lookup(d, name) if dotted else (
                    None if d is None else d.get(name))
                if v is None or (v.__class__ is fast and lo <= v < hi):
                    append(v)
                else:
                    append(_typed_stat_value(v, kind))
        else:
            for d in dicts:
                v = _stat_lookup(d, name) if dotted else (
                    None if d is None else d.get(name))
                if v is None or v.__class__ is fast:
                    append(v)
                else:
                    append(_typed_stat_value(v, kind))
        cols.append(pa.array(vals, pa_t))
        names.append(name)
    mask = pa.array([d is None for d in dicts], pa.bool_())
    return pa.StructArray.from_arrays(cols, names=names, mask=mask)


def _parsed_struct_udfs(spec):
    """Scalar pandas UDFs that rebuild the typed ``*_parsed`` structs from
    the stats-JSON string columns EXECUTOR-SIDE, under exactly the Python
    cast rules the driver builders use (:func:`_typed_stat_value` /
    :func:`stat_lookup` are the SAME shared functions, so value
    equivalence with the serial builder is by construction — no SQL
    cast-semantics gap). Used by the Spark-job checkpoint writer when the
    source manifest's struct layout no longer matches the current schema's
    spec (the first checkpoint after a schema change); Arrow-batched,
    map-only. Returns (minValues, maxValues, nullCount) UDFs."""
    import pandas as pd

    val_struct = T.StructType(
        [T.StructField(n, _STAT_SPARK_TYPE[k]) for n, k in spec])
    nc_struct = T.StructType(
        [T.StructField(n, T.LongType()) for n, _ in spec])

    def make(fields, ret):
        def rebuild(js):
            dicts = [None if s is None else json.loads(s) for s in js]
            return pd.DataFrame({
                n: [_typed_stat_value(_stat_lookup(d, n), k)
                    for d in dicts]
                for n, k in fields})
        # real class objects (not strings): this module uses
        # `from __future__ import annotations`, under which inline hints
        # stringify and pyspark can't resolve the function-local `pd`
        rebuild.__annotations__ = {"js": pd.Series, "return": pd.DataFrame}
        return F.pandas_udf(rebuild, ret)

    # minValues and maxValues share one UDF object (same spec, same
    # cast rules — the input column differs, not the function)
    vals = make(spec, val_struct)
    return (vals, vals, make([(n, "i") for n, _ in spec], nc_struct))


def stat_min_max_cols(df: DataFrame, key: str) -> "tuple[Column, Column]":
    """String-form min/max stat Columns over a manifest DataFrame for the
    clustering-envelope math, preferring the typed ``*_parsed`` structs
    (native parquet values — no per-row JSON parse) with the stats-JSON
    fallback for manifests that predate them. Numeric rendering may
    differ between the two paths, but envelope overlap only compares
    strings when the double cast fails — which typed numerics never do."""
    for f in df.schema.fields:
        if f.name == "minValues_parsed" and key in f.dataType.fieldNames():
            return (F.col("minValues_parsed").getField(key).cast("string"),
                    F.col("maxValues_parsed").getField(key).cast("string"))
    return (F.get_json_object(F.col("minValues"), f"$.{key}"),
            F.get_json_object(F.col("maxValues"), f"$.{key}"))


def checkpoint_arrow_table(kinds, jsons, paths, pvs, sizes, nrecs, mins,
                           maxs, nulls, vers, tss, stats_fields=None):
    """The ONE definition of the checkpoint column layout — used by
    ``TableLog.write_checkpoint`` and the metadata-plane scale bench
    (tools/scale_bench.py), so the bench can never drift onto a stale
    format. Rows carry the wrapped action JSON (exact log round-trip)
    plus typed manifest columns so ``files_df`` scans the checkpoint
    directly as a DataFrame.

    ``mins``/``maxs``/``nulls`` are per-row stats DICTS (or None for
    non-file rows); the JSON string columns are serialized here, and —
    when ``stats_fields`` (from ``stats_field_spec``) is given — typed
    ``*_parsed`` struct columns are built beside them so stats pruning
    reads native parquet values (Delta's ``stats_parsed`` shape)."""
    import pyarrow as pa

    def js(ds):
        return [None if d is None else json.dumps(d, default=str)
                for d in ds]

    data = {
        "kind": pa.array(kinds, pa.string()),
        "action_json": pa.array(jsons, pa.string()),
        "path": pa.array(paths, pa.string()),
        "partitionValues": pa.array(pvs, pa.map_(pa.string(), pa.string())),
        "size": pa.array(sizes, pa.int64()),
        "numRecords": pa.array(nrecs, pa.int64()),
        "minValues": pa.array(js(mins), pa.string()),
        "maxValues": pa.array(js(maxs), pa.string()),
        "nullCount": pa.array(js(nulls), pa.string()),
        "version": pa.array(vers, pa.int64()),
        "timestamp": pa.array(tss, pa.int64()),
    }
    if stats_fields:
        data["minValues_parsed"] = _parsed_struct_arrays(mins, stats_fields)
        data["maxValues_parsed"] = _parsed_struct_arrays(maxs, stats_fields)
        data["nullCount_parsed"] = _parsed_struct_arrays(
            nulls, [(n, "i") for n, _ in stats_fields])
    return pa.table(data)


_META_SESSION_LOCK = threading.Lock()
_META_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = \
    weakref.WeakKeyDictionary()
# runtime confs the manifest session mirrors from its parent at creation
# (newSession() starts from the context conf, not the parent's runtime
# values): timezone affects string<->temporal stat casts, the rest keep
# shuffle/AQE behavior consistent between the two planes
_META_MIRROR_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
)


def manifest_session(spark: SparkSession) -> SparkSession:
    """The dedicated manifest-plane session: shares ``spark``'s
    SparkContext (same executors, same parallelism) but holds a PRIVATE
    SQLConf pinned to fine-grained file splits. Manifest scans are
    CPU-bound — stats filters evaluate per row over a few hundred MB of
    checkpoint parquet — so the default 128 MB ``maxPartitionBytes`` (and
    the 4 MB open cost that bins a 101-part checkpoint into a handful of
    tasks) leaves most cores idle: measured 74.8 s for a 10M-file prune
    planned 4-wide vs planned 32-wide.

    This replaces round-9's shared-conf flip under a process-wide RLock:
    concurrent server/async threads no longer serialize on a lock, and a
    DATA query can never observe (or race) the 4 MB split conf — the
    data plane's session conf is simply never touched. One manifest
    session per parent session, cached process-wide (weak keys: a stopped
    and re-created parent gets a fresh child)."""
    with _META_SESSION_LOCK:
        cached = _META_SESSIONS.get(spark)
        if cached is not None:
            # timezone affects string->temporal stat casts in the prune:
            # follow a parent-session change instead of pinning creation
            # time's value (two conf reads per manifest op — negligible)
            try:
                tz = spark.conf.get("spark.sql.session.timeZone")
                if cached.conf.get("spark.sql.session.timeZone") != tz:
                    cached.conf.set("spark.sql.session.timeZone", tz)
            except Exception:
                pass
            return cached
        meta = spark.newSession()
        for key in _META_MIRROR_CONFS:
            try:
                val = spark.conf.get(key)
            except Exception:
                continue
            if val is not None:
                meta.conf.set(key, val)
        meta.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))
        meta.conf.set("spark.sql.files.openCostInBytes", str(256 << 10))
        _META_SESSIONS[spark] = meta
        return meta


def _rm_any(path: str) -> None:
    """Best-effort removal of a file OR directory (checkpoints are either,
    depending on part count)."""
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


def _install_checkpoint(tmp: str, final: str) -> bool:
    """Install a fully-built checkpoint (file or part directory) from
    ``tmp`` at ``final`` WITHOUT ever destroying the previous checkpoint
    before the new one is in place: the old checkpoint is renamed aside
    (same-directory rename — atomic), the new one renamed in, and only
    then is the old copy deleted. A failure at any step leaves either the
    complete old or the complete new checkpoint at ``final`` — never a
    partial directory that would later read as a checkpoint with silently
    missing add rows.

    Returns True iff ``final`` holds a complete checkpoint afterwards —
    ours, or a concurrent writer's (checkpoint content is deterministic
    per version, so the winner's checkpoint is ours too). Callers must
    only advance ``_last_checkpoint`` when this returns True.

    File-over-file installs use ``os.replace`` — truly atomic, no
    instant without a checkpoint at ``final``. The rename-aside dance
    is only for layouts involving a directory (rename cannot atomically
    replace a non-empty dir); there a concurrent reader hitting the
    gap between the two renames falls back to the log listing, exactly
    like reading before the first checkpoint ever existed."""
    if os.path.isfile(tmp) and (not os.path.exists(final)
                                or os.path.isfile(final)):
        try:
            os.replace(tmp, final)
            return True
        except OSError:
            _rm_any(tmp)
            return os.path.exists(final)
    old = None
    try:
        if os.path.exists(final):
            old = final + f".old.{uuid.uuid4().hex}.tmp"
            os.rename(final, old)
        os.rename(tmp, final)
    except OSError:
        _rm_any(tmp)
        if old is not None:
            if not os.path.exists(final):
                try:
                    os.rename(old, final)  # restore the prior checkpoint
                except OSError:
                    pass  # prior checkpoint survives under old's name
            else:
                # lost a concurrent install race: final holds the
                # winner's (equivalent) checkpoint — the aside copy is
                # redundant; delete it or it leaks a full checkpoint
                _rm_any(old)
        return os.path.exists(final)
    if old is not None:
        _rm_any(old)
    return True


def write_checkpoint_files(table, final: str) -> bool:
    """Write a checkpoint arrow table at ``final``: one parquet file, or —
    above CHECKPOINT_PART_ROWS rows — a directory of part files under the
    same name (spark.read.parquet and pyarrow read both transparently, and
    huge manifests scan in parallel across parts). Non-destructive swap
    via :func:`_install_checkpoint`; returns its verdict (True = a
    complete checkpoint is installed at ``final``)."""
    import pyarrow.parquet as pq

    tmp = final + f".{uuid.uuid4().hex}.tmp"
    # bounded row groups: a parquet scan's REAL parallelism is one task
    # per row group, so a single-file checkpoint written as one giant
    # group would force the manifest prune's per-row stats-JSON filter
    # onto one core however many splits Spark plans (measured 30 s for a
    # 2M-row manifest; ~32k-row groups let the same filter fan out)
    row_group = CHECKPOINT_ROW_GROUP_ROWS
    try:
        if table.num_rows <= CHECKPOINT_PART_ROWS:
            pq.write_table(table, tmp, row_group_size=row_group)
        else:
            os.makedirs(tmp)
            for i, start in enumerate(range(0, table.num_rows,
                                            CHECKPOINT_PART_ROWS)):
                pq.write_table(table.slice(start, CHECKPOINT_PART_ROWS),
                               os.path.join(tmp, f"part-{i:05d}.parquet"),
                               row_group_size=row_group)
    except BaseException:
        _rm_any(tmp)
        raise
    return _install_checkpoint(tmp, final)


# --- checkpoint writers ----------------------------------------------
#
# Above this many file actions, the per-row Python serialization (action
# JSON wrapper + stats re-encode + typed stat structs) dominates a
# checkpoint write (~47 µs/row single-threaded — 470 s at 10M files), so
# when a session, a shared filesystem and a prior checkpoint exist the
# write runs as a SPARK JOB over the manifest DataFrame — the shape Delta
# itself checkpoints with: executors serialize and write, the driver
# materializes no AddFile. Every other write is the serial pyarrow
# builder, which sessionless contexts (the Python Data Source planner)
# need anyway.
CHECKPOINT_PARALLEL_MIN_FILES = 250_000


# the fields of an _add_manifest_row, in order: checkpoint_arrow_table's
# columns after ``kinds``
_ADD_ROW_FIELDS = ("action_json", "path", "partitionValues", "size",
                   "numRecords", "minValues", "maxValues", "nullCount",
                   "version", "timestamp")


def _add_manifest_row(add: AddFile):
    """One checkpoint/sidecar row for an add (``_ADD_ROW_FIELDS``);
    stats ride as DICTS — checkpoint_arrow_table serializes the JSON
    string columns and builds the typed ``*_parsed`` structs."""
    st = add.stats_dict()
    # manifest numRecords is LOGICAL rows (physical minus DV cardinality)
    # — what limitHint accounting uses (ref kernel
    # DeltaSharedTableKernel.scala:446-449); the action_json column still
    # round-trips the exact physical stats
    return (dumps_action(add), add.path,
            list(add.partitionValues.items()), add.size,
            add.logical_records,
            st.get("minValues", {}),
            st.get("maxValues", {}),
            st.get("nullCount", {}),
            add.version, add.timestamp)


def _adds_arrow_table(adds, spec, chunk: int = CHECKPOINT_ROW_GROUP_ROWS):
    """Arrow checkpoint table over a list of adds (the classic-checkpoint
    and sidecar row build every driver-side writer shares). Built in
    row-group-sized chunks: the intermediate Python row tuples/strings
    for a 100k-row part are ~0.5-1 GB of transient objects, and chunking
    caps that high-water at ~1/3. Output bytes are identical (parquet row
    groups are cut every ``chunk`` rows either way; verified chunked ==
    single-shot)."""
    import pyarrow as pa

    def build(sub):
        rows = [_add_manifest_row(a) for a in sub]
        cols = ([list(c) for c in zip(*rows)] if rows
                else [[] for _ in _ADD_ROW_FIELDS])
        return checkpoint_arrow_table(
            ["add"] * len(rows), *cols, stats_fields=spec)

    if len(adds) <= chunk:
        return build(adds)
    return pa.concat_tables(
        build(adds[i:i + chunk]) for i in range(0, len(adds), chunk))


def _state_rows(snap, extra=()) -> list:
    """(kind, action_json, path) for every non-add row a checkpoint
    carries, in order: metaData, protocol, ``extra`` (v2's
    checkpointMetadata and sidecar rows), then the table-wide trailing
    state — SetTransaction epochs (so sink idempotency replays from the
    checkpoint instead of the full commit history) and domainMetadata
    (row-tracking high-water mark etc. — a snapshot resolved from the
    checkpoint alone must see it). Shared by every checkpoint writer.

    Txns are retention-capped (Delta's setTransactionRetentionDuration
    shape, by count): only the most recently active writers persist — a
    txn map otherwise grows one entry per queryId forever and bloats
    every checkpoint. An evicted (ancient) writer restarting re-appends
    its last batch — the documented Delta retention trade-off."""
    rows = [("metaData", dumps_action(snap.metadata), None),
            ("protocol", dumps_action(Protocol()), None), *extra]
    recent = list(snap.transactions.items())[-TXN_RETENTION_MAX:]
    for app_id, epoch in sorted(recent):
        rows.append(("txn", json.dumps({"appId": app_id, "version": epoch}),
                     None))
    for domain, cfg in sorted(snap.domain_metadata.items()):
        rows.append(("domainMetadata",
                     dumps_action(DomainMetadata(domain, cfg)), None))
    return rows


def _state_arrow_table(rows, spec=None):
    """Checkpoint arrow table over :func:`_state_rows` output: every
    typed manifest column except ``path`` is null on these rows."""
    kinds, jsons, paths = (list(c) for c in zip(*rows))
    blank = [None] * len(kinds)
    return checkpoint_arrow_table(kinds, jsons, paths, *([blank] * 8),
                                  stats_fields=spec)


def _sidecar_sha256(fp: str) -> str:
    """sha256 of the sidecar parquet's bytes, cached in an atomic
    ``<fp>.sha256`` companion (backfilled for pre-hash sidecars) so
    unchanged buckets cost one 64-byte read per checkpoint, not a
    re-hash of their parquet."""
    import hashlib as _hl

    cache = fp + ".sha256"
    try:
        with open(cache) as f:
            cached = f.read().strip()
        if len(cached) == 64:
            return cached
    except OSError:
        pass
    h = _hl.sha256()
    with open(fp, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    digest = h.hexdigest()
    try:
        tmp = cache + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(digest)
        os.replace(tmp, cache)
    except OSError:
        pass  # the cache is an optimization
    return digest


def _build_sidecar_bucket(idx: int, state: dict):
    """Build (or reuse) the sidecar for bucket ``idx`` of
    ``state["buckets"]``: content-address from (path, version)
    identities, write only when the addressed file is absent. Returns
    ``(rel_path, size_bytes, sha256)``."""
    import hashlib as _hl

    import pyarrow.parquet as pq

    bucket = state["buckets"][idx]
    bucket.sort(key=lambda a: a.path)
    # content address from (path, commit version) identities: an add's
    # full action for a given (path, version) is immutable in the log
    # (replay always reconstructs the same bytes), so the identity set
    # determines the sidecar content — and an UNCHANGED bucket costs
    # O(paths) string hashing, never a re-serialization of its actions
    # (the incremental property). "sidecar-v2" = the typed *_parsed
    # stats-column layout: the version tag in the address means a new
    # checkpoint can never reuse an old-layout sidecar file, so one scan
    # never mixes parquet schemas with and without the parsed structs
    h = _hl.sha256(("sidecar-v2\n" + state["spec_tag"] + "\n" + "\n".join(
        f"{a.path}\x00{a.version}" for a in bucket)
    ).encode()).hexdigest()[:32]
    rel = os.path.join(SIDECAR_DIR, f"{h}.parquet")
    fp = os.path.join(state["log_path"], rel)
    if not os.path.exists(fp):
        t = _adds_arrow_table(bucket, state["spec"])
        tmp = fp + f".{uuid.uuid4().hex}.tmp"
        # bounded row groups for the same scan-parallelism reason as
        # write_checkpoint_files
        pq.write_table(t, tmp, row_group_size=CHECKPOINT_ROW_GROUP_ROWS)
        os.replace(tmp, fp)
    return rel, os.path.getsize(fp), _sidecar_sha256(fp)


def serialize_partition_value(value) -> str:
    """String-serialize a partition value; empty string = null
    (PROTOCOL.md:3896-3906)."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


@dataclass
class Commit:
    version: int
    timestamp: int
    metadata: Metadata | None
    adds: list[AddFile]
    removes: list[RemoveFile]
    cdc: list[AddCDCFile]
    info: CommitInfo | None
    # in-commit protocol upgrade action (written by delta writers on
    # reader/writer feature enables); None for ordinary commits
    protocol: "dict | None" = None
    # domainMetadata actions in log order (last-writer-wins per domain)
    domains: list[DomainMetadata] = dc_field(default_factory=list)


def is_noop_merge(info: CommitInfo | None) -> bool:
    """True when a commit is a MERGE that rewrote files without changing any
    rows — its file actions must NOT be served as CDF changes (they would
    read as false inserts/deletes). Mirrors the reference exactly: skip only
    when the operation is MERGE and numTargetRowsInserted/Updated/Deleted
    are all present and "0"; any missing metric means don't skip
    (server/.../DeltaSharingCDCReader.scala:301-323)."""
    if info is None or info.operation != "MERGE":
        return False
    metrics = info.operationMetrics or {}
    return all(
        metrics.get(k) == "0"
        for k in ("numTargetRowsInserted", "numTargetRowsUpdated",
                  "numTargetRowsDeleted")
    )


# Column mapping (Delta "name" mode, the columnMapping reader feature):
# logical column names live only in the schema; data files, partitionValues
# and stats are keyed by immutable physical names stamped in each field's
# metadata. Rename/drop become metadata-only commits (PROTOCOL.md:4052-4053
# lists columnMapping among delta-format readerFeatures).
CM_MODE_KEY = "delta.columnMapping.mode"
CM_PHYSICAL_KEY = "delta.columnMapping.physicalName"
CM_ID_KEY = "delta.columnMapping.id"
CM_MAX_ID_KEY = "delta.columnMapping.maxColumnId"

# Row tracking (Delta protocol "Row Tracking", writer feature rowTracking):
# every AddFile carries a baseRowId; row i of a file has stable id
# baseRowId + i unless a materialized row-id column (written by
# dataChange=false rewrites so compaction preserves ids) overrides it. The
# allocation high-water mark lives in the delta.rowTracking metadata domain.
ROW_TRACKING_KEY = "delta.enableRowTracking"
ROW_TRACKING_DOMAIN = "delta.rowTracking"
# physical (parquet-only) column names for preserved ids across rewrites —
# stamped into the table config at enable time like Delta's
# delta.rowTracking.materializedRowIdColumnName
MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
MAT_ROW_VER_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"
MAT_ROW_ID_DEFAULT = "_row_id_mat"
MAT_ROW_VER_DEFAULT = "_row_commit_version_mat"


class Snapshot:
    """Resolved state of the table at one version: metadata + active files.

    ``files`` is LAZY when resolved from a checkpoint: cold snapshot
    resolution parses only the table-wide state (metadata / txns /
    domains) plus the commit tail, never the O(files) add actions — the
    reference's kernel server likewise streams actions without full
    materialization (server/.../kernel/DeltaSharedTableKernel.scala:
    293-297,446-449) and the Spark client keeps files in a
    ``Dataset[AddFile]`` (client/.../spark/RemoteDeltaLog.scala:355-359).
    The first ``.files`` access materializes (and memoizes) the list for
    callers that genuinely need it (write paths, maintenance); the wire /
    prune / count paths go through ``TableLog.files_df`` +
    ``file_counts`` and never trigger it."""

    def __init__(self, version: int, timestamp: int, metadata: Metadata,
                 files: "list[AddFile] | None",
                 transactions: dict[str, int] | None = None,
                 domain_metadata: dict[str, str] | None = None,
                 files_provider=None,
                 num_files_hint: int | None = None):
        self.version = version
        self.timestamp = timestamp
        self.metadata = metadata
        self._files = files
        self._files_provider = files_provider
        if files is None and files_provider is None:
            raise ValueError("Snapshot needs files or a files_provider")
        # UPPER BOUND on len(files) for lazy snapshots (checkpoint row
        # count + tail adds): threshold decisions only, never served
        self.num_files_hint = (num_files_hint if files is None
                               else len(files))
        # lazy-manifest bookkeeping, set by TableLog.snapshot(): the
        # checkpoint this snapshot seeds from plus the REPLAYED tail state
        # (paths touched after the checkpoint; surviving tail adds with
        # version/timestamp/row-tracking stamps) — lets files_df build
        # the manifest without materializing .files
        self.cp_version: int | None = None
        self.tail_adds: dict[str, AddFile] = {}
        self.tail_changed: set[str] = set()
        # memoized (num_files, total_size) — see TableLog.file_counts
        self._counts: tuple[int, int] | None = None
        # latest streaming-writer epoch per txnAppId (Delta's SetTransaction
        # state): replayed into the snapshot and persisted in checkpoints so
        # sink idempotency checks are O(1), not O(commit history)
        self.transactions = transactions or {}
        # domain -> configuration JSON (Delta domainMetadata state:
        # last-writer-wins per domain, removed domains absent)
        self.domain_metadata = domain_metadata or {}

    @property
    def files(self) -> list[AddFile]:
        files = self._files
        if files is None:
            # a cached snapshot is shared by concurrent requests: read the
            # provider once, since another thread may materialize first
            provider = self._files_provider
            files = provider() if provider is not None else self._files
            self.files = files
        return files

    @files.setter
    def files(self, value: list[AddFile]) -> None:
        self._files = value
        self._files_provider = None
        self.num_files_hint = len(value)

    @property
    def files_materialized(self) -> bool:
        return self._files is not None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.metadata.schemaString))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.partitionColumns)

    @property
    def column_mapping(self) -> bool:
        return self.metadata.configuration.get(CM_MODE_KEY, "none") == "name"

    @property
    def logical_to_physical(self) -> dict[str, str] | None:
        """Logical→physical name map (top-level fields), or None when
        column mapping is off (names ARE physical then)."""
        if not self.column_mapping:
            return None
        return {
            f.name: (f.metadata or {}).get(CM_PHYSICAL_KEY, f.name)
            for f in self.schema.fields
        }

    @property
    def physical_to_logical(self) -> dict[str, str] | None:
        m = self.logical_to_physical
        return None if m is None else {p: l for l, p in m.items()}

    @property
    def physical_schema(self) -> T.StructType:
        """The declared schema under physical names — what the parquet
        scan must be given when column mapping is on."""
        m = self.logical_to_physical
        if m is None:
            return self.schema
        return T.StructType([
            T.StructField(m.get(f.name, f.name), f.dataType, f.nullable)
            for f in self.schema.fields
        ])

    @property
    def row_tracking_enabled(self) -> bool:
        return self.metadata.configuration.get(
            ROW_TRACKING_KEY, "").lower() == "true"

    @property
    def row_id_high_water_mark(self) -> int:
        """Highest allocated row id (-1 before any allocation) — from the
        delta.rowTracking metadata domain, exactly where Delta keeps it."""
        cfg = self.domain_metadata.get(ROW_TRACKING_DOMAIN)
        if not cfg:
            return -1
        try:
            return int(json.loads(cfg).get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            return -1

    @property
    def materialized_row_id_cols(self) -> tuple[str, str]:
        """(row-id, row-commit-version) physical column names preserved
        rewrites write — config-declared like Delta's materialized names."""
        cfg = self.metadata.configuration
        return (cfg.get(MAT_ROW_ID_KEY, MAT_ROW_ID_DEFAULT),
                cfg.get(MAT_ROW_VER_KEY, MAT_ROW_VER_DEFAULT))

    @property
    def physical_partition_columns(self) -> list[str]:
        """Partition columns under the names partitionValues/stats/Hive
        dirs are keyed by (= logical names when mapping is off)."""
        m = self.logical_to_physical
        if m is None:
            return self.partition_columns
        return [m.get(c, c) for c in self.partition_columns]



def _check_not_append_only(snap: "Snapshot", operation: str) -> None:
    """Delta's ``delta.appendOnly`` table property: when true, operations
    that remove or modify existing rows are rejected (Delta protocol
    appendOnly writer feature)."""
    if snap.metadata.configuration.get(
            "delta.appendOnly", "").lower() == "true":
        raise ValueError(
            f"This table is configured to only allow appends "
            f"(delta.appendOnly=true); operation {operation} is not "
            "permitted")


class TableLog:
    """The commit log for one table rooted at ``path``."""

    # snapshots per instance kept for incremental tail replay + reuse
    _SNAP_CACHE_SIZE = 32

    @property
    def meta_spark(self) -> SparkSession:
        """The manifest-plane session for this log's parent session."""
        return manifest_session(self.spark)

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        # every manifest-plane read/createDataFrame/union runs on the
        # dedicated fine-split session (see manifest_session); results
        # that feed the data plane cross back as collected rows (paths,
        # AddFiles), never as cross-session DataFrames
        self.log_path = os.path.join(self.path, LOG_DIR)
        self.data_path = os.path.join(self.path, DATA_DIR)
        self.cdc_path = os.path.join(self.path, CDC_DIR)
        self.dv_path = os.path.join(self.path, DV_DIR)
        # version -> (Snapshot, (identity of the version's commit file, or
        # of its checkpoint once the commit was expired; identity of the
        # seed checkpoint of a lazy file list)). Committed log files are
        # immutable, but expire_log deletes them and a table can be
        # recreated at the same location, so every hit re-stats them
        # (_cached_snapshot); only "latest" resolution re-lists the
        # directory.
        self._snap_cache: dict[int, tuple[Snapshot, tuple]] = {}
        # version -> (manifest DataFrame, checkpoint path, its identity
        # — both None when built on the driver —, driver-resident
        # checkpoint manifest?): see files_df
        self._files_df_cache: dict[int, tuple] = {}
        # sidecar content hashes verified this process, keyed by relative
        # path -> (size, mtime): the lazy manifest plane deep-verifies
        # every sidecar ONCE before its bytes serve any query
        self._sidecar_deep_verified: dict[str, tuple] = {}
        # version -> (Commit, commit file identity): parsed commits cache
        # cleanly; callers that poll (streaming latestOffset every trigger)
        # pay O(new commits) parsing instead of O(all commits) per call
        self._commit_cache: dict[int, tuple[Commit, tuple]] = {}
        # a catalog handle serves concurrent requests: this lock guards
        # the cache dicts above and is held only around dict operations,
        # never around IO or a Spark job
        self._cache_lock = threading.Lock()

    # ------------------------------------------------------------------ read

    def exists(self) -> bool:
        return os.path.isdir(self.log_path) and bool(self._list_versions())

    def _list_versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_path)
            if f.endswith(".json")
        )

    def latest_version(self) -> int:
        versions = self._list_versions()
        if not versions:
            raise TableNotFoundError(f"no log at {self.log_path}")
        return versions[-1]

    def read_commit(self, version: int) -> Commit:
        fp = os.path.join(self.log_path, _fmt_version(version))
        ident = _file_identity(fp)
        with self._cache_lock:
            cached = self._commit_cache.get(version)
        if cached is not None and cached[1] == ident:
            return cached[0]
        commit = self._read_commit_uncached(version)
        if ident is not None:
            with self._cache_lock:
                self._commit_cache[version] = (commit, ident)
                while len(self._commit_cache) > 512:
                    self._commit_cache.pop(next(iter(self._commit_cache)))
        return commit

    def _read_commit_uncached(self, version: int) -> Commit:
        fp = os.path.join(self.log_path, _fmt_version(version))
        if not os.path.isfile(fp):
            raise VersionNotFoundError(f"version {version} not in {self.log_path}")
        metadata, adds, removes, cdc, info = None, [], [], [], None
        protocol = None
        domains: list[DomainMetadata] = []
        with open(fp) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = parse_action(line)
                if isinstance(action, Metadata):
                    metadata = action
                elif isinstance(action, AddFile):
                    adds.append(action)
                elif isinstance(action, RemoveFile):
                    removes.append(action)
                elif isinstance(action, AddCDCFile):
                    cdc.append(action)
                elif isinstance(action, CommitInfo):
                    info = action
                elif isinstance(action, DomainMetadata):
                    domains.append(action)
                elif isinstance(action, Protocol) and version > 0:
                    # a protocol action in a later commit is an upgrade
                    # (v0's is just the create); surfaced so the range
                    # query can inline it (PROTOCOL.md:2152)
                    protocol = {k: v for k, v in asdict(action).items()
                                if v is not None}
        # ICT: the in-payload timestamp is authoritative when present
        # (Delta inCommitTimestamp semantics — mtime/clock-skew-free)
        ts = 0
        if info:
            ts = (info.inCommitTimestamp
                  if info.inCommitTimestamp is not None else info.timestamp)
        return Commit(version, ts, metadata, adds, removes, cdc, info,
                      protocol, domains)

    def commits(self, start: int = 0, end: int | None = None) -> list[Commit]:
        versions = self._list_versions()
        if end is not None:
            versions = [v for v in versions if v <= end]
        return [self.read_commit(v) for v in versions if v >= start]

    def snapshot(self, version: int | None = None,
                 timestamp: str | int | None = None) -> Snapshot:
        """Snapshot resolution. Precedence and semantics follow the reference
        (server/.../DeltaSharedTable.scala:383-414): explicit version wins;
        a timestamp resolves to the **latest version with commit ts <= t**
        (Delta ``timestampAsOf``); default = latest."""
        if version is not None and timestamp is not None:
            raise ValueError("specify at most one of version/timestamp")
        if version is None:
            if timestamp is not None:
                version = self.version_at_timestamp(timestamp)
            else:
                version = self.latest_version()
        elif version < 0 or version > self.latest_version():
            raise VersionNotFoundError(
                f"version {version} not in [0, {self.latest_version()}]"
            )
        cached = self._cached_snapshot(version)
        if cached is not None:
            return cached
        # captured BEFORE the build, like files_df's checkpoint identity: a
        # file swapped in mid-build fails the next hit's re-stat instead of
        # validating a stale entry forever
        ident = self._version_identity(version)
        # truncated-history guard (expire_log): a version is resolvable only
        # as checkpoint(≤version) + a COMPLETE commit tail (cp, version], or
        # as a full replay from commit 0. Anything else would silently
        # serve older state labeled as `version`.
        all_versions = set(self._list_versions())
        cp_at = self._latest_checkpoint(at_or_before=version)
        replay_from = (cp_at + 1) if cp_at is not None else 0
        if any(v not in all_versions
               for v in range(replay_from, version + 1)):
            raise VersionNotFoundError(
                f"version {version} has been expired from the log "
                "(no checkpoint + commit tail can replay it)")
        # incremental replay: seed from the nearest cached earlier snapshot
        # or the newest on-disk checkpoint, whichever is later, and apply
        # only the commit tail — resolution costs O(commits since
        # checkpoint), not O(all commits). The checkpoint's O(files) add
        # actions are NOT parsed here: the tail replay records its file
        # ops and .files materializes lazily (checkpoint adds + tail ops)
        # only for callers that need the full list.
        metadata: Metadata | None = None
        txns: dict[str, int] = {}
        domains: dict[str, str] = {}
        ts = 0
        start = 0
        cp_seed: int | None = None
        cp_rows = 0
        with self._cache_lock:
            base_version = max(
                (v for v in self._snap_cache if v < version), default=None
            )
        base = (None if base_version is None
                else self._cached_snapshot(base_version))
        cp_version = self._latest_checkpoint(at_or_before=version)
        if cp_version is not None and (base is None
                                       or cp_version > base_version):
            base = None
            metadata, ts, txns, domains, cp_rows = \
                self._read_checkpoint_light(cp_version)
            cp_seed = cp_version
            start = cp_version + 1
        elif base is not None:
            metadata = base.metadata
            ts = base.timestamp
            txns = dict(base.transactions)
            domains = dict(base.domain_metadata)
            start = base_version + 1
        # tail replay state: ops in log order (materialization replays
        # them over the base), plus the surviving-adds/changed-paths
        # bookkeeping files_df uses to build manifests without .files
        tail_ops: list[tuple[str, "str | AddFile"]] = []
        tail_adds: dict[str, AddFile] = {}
        tail_changed: set[str] = set()
        for commit in self.commits(start, version):
            if commit.metadata is not None:
                metadata = commit.metadata
            for dm in commit.domains:
                if dm.removed:
                    domains.pop(dm.domain, None)
                else:
                    domains[dm.domain] = dm.configuration
            # row-tracking tables only: absent defaultRowCommitVersion
            # means "written at this commit" (plain tables stay
            # byte-stable on the wire — no extra add fields)
            rt = metadata is not None and metadata.configuration.get(
                ROW_TRACKING_KEY, "").lower() == "true"
            for rm in commit.removes:
                tail_ops.append(("rm", rm.path))
                tail_adds.pop(rm.path, None)
                tail_changed.add(rm.path)
            for add in commit.adds:
                add.version = commit.version
                add.timestamp = commit.timestamp
                if rt and add.defaultRowCommitVersion is None:
                    add.defaultRowCommitVersion = commit.version
                tail_ops.append(("add", add))
                tail_adds[add.path] = add
                tail_changed.add(add.path)
            params = (commit.info.operationParameters or {}) \
                if commit.info else {}
            app_id = params.get("queryId")
            if app_id is not None and "epochId" in params:
                try:
                    epoch = int(params["epochId"])
                except (TypeError, ValueError):
                    epoch = None
                if epoch is not None:
                    # pop-then-set keeps dict order = update recency, so
                    # checkpointing can retain the most recent writers
                    prev = txns.pop(app_id, -1)
                    txns[app_id] = max(prev, epoch)
            ts = commit.timestamp
        if metadata is None:
            raise TableNotFoundError(f"no metadata through version {version}")

        def _apply_tail(active: dict[str, AddFile]) -> list[AddFile]:
            for op, x in tail_ops:
                if op == "rm":
                    active.pop(x, None)
                else:
                    active[x.path] = x
            return sorted(active.values(), key=lambda a: a.path)

        if cp_seed is not None:
            def provider(log=self, cp=cp_seed):
                return _apply_tail(log._read_checkpoint_adds(cp))

            snap = Snapshot(version, ts, metadata, None,
                            transactions=txns, domain_metadata=domains,
                            files_provider=provider,
                            num_files_hint=cp_rows + len(tail_adds))
            snap.cp_version = cp_seed
            snap.tail_adds = tail_adds
            snap.tail_changed = tail_changed
        elif base is not None and not base.files_materialized:
            # compose over the lazy base without materializing it; the
            # tail bookkeeping stays relative to the base's checkpoint
            def provider(b=base):
                return _apply_tail({f.path: f for f in b.files})

            merged_adds = dict(base.tail_adds)
            for op, x in tail_ops:
                if op == "rm":
                    merged_adds.pop(x, None)
                else:
                    merged_adds[x.path] = x
            snap = Snapshot(version, ts, metadata, None,
                            transactions=txns, domain_metadata=domains,
                            files_provider=provider,
                            num_files_hint=(base.num_files_hint or 0)
                            + len(tail_adds))
            snap.cp_version = base.cp_version
            snap.tail_adds = merged_adds
            snap.tail_changed = base.tail_changed | tail_changed
        else:
            seed = ({f.path: f for f in base.files} if base is not None
                    else {})
            snap = Snapshot(version, ts, metadata, _apply_tail(seed),
                            transactions=txns, domain_metadata=domains)
        # a lazy file list also depends on its seed checkpoint, which a
        # later expire_log may delete while this version stays retained
        cp_ident = self._checkpoint_identity(snap.cp_version)
        if ident is not None and (snap.cp_version is None
                                  or cp_ident is not None):
            with self._cache_lock:
                self._snap_cache[version] = (snap, (ident, cp_ident))
                while len(self._snap_cache) > self._SNAP_CACHE_SIZE:
                    self._snap_cache.pop(next(iter(self._snap_cache)))
        return snap

    def _checkpoint_identity(self, cp_version: "int | None"
                             ) -> "tuple[int, int] | None":
        return None if cp_version is None else _file_identity(
            os.path.join(self.log_path, _fmt_checkpoint(cp_version)))

    def _version_identity(self, version: int) -> "tuple[int, int] | None":
        """The on-disk identity a cached snapshot of ``version`` is bound
        to: its commit file, or its checkpoint once the commit expired."""
        return (_file_identity(os.path.join(self.log_path,
                                            _fmt_version(version)))
                or self._checkpoint_identity(version))

    def _cached_snapshot(self, version: int) -> "Snapshot | None":
        """The cached snapshot of ``version`` if its file — and, while
        its file list is lazy, its seed checkpoint — is unchanged on disk.
        A mismatch means the history was expired or the table was
        recreated at this location — possibly by another TableLog or
        process — so every per-version cache of this log is dropped and
        the caller resolves again through the truncated-history guard."""
        with self._cache_lock:
            hit = self._snap_cache.get(version)
        if hit is None:
            return None
        snap, (ident, cp_ident) = hit
        if self._version_identity(version) == ident and (
                snap.files_materialized
                or self._checkpoint_identity(snap.cp_version) == cp_ident):
            return snap
        with self._cache_lock:
            self._snap_cache.clear()
            self._commit_cache.clear()
            self._files_df_cache.clear()
        return None

    # ------------------------------------------------------------ checkpoints

    def _list_checkpoints(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_path)
            if f.endswith(".checkpoint.parquet")
        )

    def _latest_checkpoint(self, at_or_before: int) -> int | None:
        # fast path: the _last_checkpoint pointer (Delta's hint file,
        # PROTOCOL precedent _delta_log/_last_checkpoint) answers the
        # latest-snapshot case without the O(dir) log listing — at 100k
        # retained commits that listing is the cold-start cost. The
        # pointer is a HINT: stale/corrupt/missing falls back to the
        # listing, and time travel below it always lists.
        try:
            with open(os.path.join(self.log_path, LAST_CHECKPOINT)) as f:
                v = int(json.load(f)["version"])
            if v <= at_or_before and os.path.exists(
                    os.path.join(self.log_path, _fmt_checkpoint(v))):
                return v
        except (OSError, ValueError, TypeError, KeyError):
            pass
        cps = [v for v in self._list_checkpoints() if v <= at_or_before]
        return cps[-1] if cps else None

    def _publish_checkpoint(self, installed: bool, version: int,
                            final: str, n_adds: int, policy: str) -> str:
        """The one ending of every checkpoint write: raise unless
        ``installed`` (a complete checkpoint sits at ``final``), else
        point the _last_checkpoint hint at it and return ``final``. The
        hint update is atomic (tmp+rename) — last writer wins; a crash
        between checkpoint and pointer leaves a stale-low hint, which only
        costs the next reader the listing fallback."""
        if not installed:
            raise OSError(
                f"checkpoint install failed and no complete checkpoint "
                f"exists at {final}")
        # a (re)install replaced the checkpoint files on disk: cached
        # files_df plans pin the OLD physical part listing and would
        # fail FILE_NOT_EXIST on re-evaluation (surfaced by the r12
        # non-destructive install, which really does swap the dir where
        # the old path silently kept the stale files) — drop them all
        with self._cache_lock:
            self._files_df_cache.clear()
        try:
            size = (sum(os.path.getsize(os.path.join(final, p))
                        for p in os.listdir(final))
                    if os.path.isdir(final) else os.path.getsize(final))
            doc = {"version": version, "sizeInBytes": size,
                   "numOfAddFiles": n_adds, "checkpointPolicy": policy}
            tmp = os.path.join(self.log_path,
                               f"_last_checkpoint.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, os.path.join(self.log_path, LAST_CHECKPOINT))
        except OSError:
            pass  # the pointer is an optimization; never fail the write
        return final

    def write_checkpoint(self, version: int | None = None) -> str:
        """Materialize the active snapshot at ``version`` as a parquet
        checkpoint next to the commit JSONs — one file, or a directory of
        part files above CHECKPOINT_PART_ROWS rows (multi-part, so huge
        manifests scan in parallel). Rows carry the wrapped action JSON (exact
        log round-trip incl. the add's version/timestamp) plus typed manifest
        columns so ``files_df`` can scan the checkpoint directly as a
        DataFrame. Large tables with a prior checkpoint are written as a
        Spark job (see :meth:`_use_spark_checkpoint`); every other write
        is the serial pyarrow builder, which works in sessionless contexts
        (the Python Data Source planner) too.

        With ``delta.checkpointPolicy=v2`` the checkpoint is a V2 manifest
        (Delta protocol "V2 Checkpoint Table Feature"): table-wide state
        (protocol/metaData/txn/domainMetadata + a ``checkpointMetadata``
        action) stays in the manifest, file actions move to SIDECAR parquet
        files under ``_dsl_log/_sidecars/``. Sidecars are content-addressed
        (name = hash of their action set) and files bucket by a stable hash
        of path, so a later checkpoint REWRITES ONLY the buckets whose
        files changed and reuses every other sidecar byte-for-byte — the
        property that makes checkpointing a 100 TB / million-file table
        incremental instead of a full-manifest rewrite per interval."""
        import pyarrow as pa

        snap = self.snapshot(version=version)
        cfg = snap.metadata.configuration
        # both spellings, like every other table property in this engine
        policy = cfg.get(CHECKPOINT_POLICY_KEY,
                         cfg.get("checkpointPolicy", "classic")).lower()
        if policy == "v2":
            return self._write_checkpoint_v2(snap)
        if self._use_spark_checkpoint(snap):
            return self._write_checkpoint_classic_spark(snap)
        spec = stats_field_spec(snap.physical_schema)
        tables = [_state_arrow_table(_state_rows(snap), spec)]
        if snap.files:
            tables.append(_adds_arrow_table(snap.files, spec))
        final = os.path.join(self.log_path, _fmt_checkpoint(snap.version))
        return self._publish_checkpoint(
            write_checkpoint_files(pa.concat_tables(tables), final),
            snap.version, final, len(snap.files), "classic")

    def _use_spark_checkpoint(self, snap: "Snapshot") -> bool:
        """The one writer choice, for classic and v2 checkpoints alike:
        the Spark job (executors serialize and write; the driver
        materializes no AddFile) when a session exists, its executors
        share this filesystem, a prior checkpoint exists to seed the
        manifest DataFrame, and the table has at least
        CHECKPOINT_PARALLEL_MIN_FILES files. Otherwise the serial
        builder."""
        return (self.spark is not None
                and self._spark_writes_shared_fs()
                and self._latest_checkpoint(at_or_before=snap.version)
                is not None
                and self.file_counts(snap)[0]
                >= CHECKPOINT_PARALLEL_MIN_FILES)

    def _spark_writes_shared_fs(self) -> bool:
        """Whether the Spark-job checkpoint/sidecar writers are safe here:
        their EXECUTOR tasks write parquet into this table's ``_dsl_log``
        with plain os/pyarrow IO, which is only correct when executors see
        the driver's filesystem — always true under a ``local[*]`` master,
        and on a cluster only when the log lives on a shared mount (NFS,
        FUSE-mounted object store). Cluster deployments on shared storage
        opt in with ``spark.dsl.checkpoint.sharedFilesystem=true``;
        otherwise the serial builder (driver-side IO, always correct)
        stands. Without this gate a cluster run would scatter sidecars
        across executor-local disks — the integrity verify fails loudly
        later, but the write itself would have appeared to succeed."""
        try:
            master = self.meta_spark.conf.get("spark.master", "")
        except Exception:
            master = ""
        if (master or "").startswith("local"):
            return True
        try:
            return self.meta_spark.conf.get(
                "spark.dsl.checkpoint.sharedFilesystem", "false"
            ).lower() == "true"
        except Exception:
            return False

    def _write_checkpoint_classic_spark(self, snap: "Snapshot") -> str:
        """Classic checkpoint as a SPARK JOB over the manifest DataFrame —
        the shape Delta itself runs checkpointing as, and the reference
        defers to Delta for: the new checkpoint's add rows are the
        previous checkpoint's rows minus tail-changed paths plus the
        (small) replayed tail, serialized and written as parquet parts BY
        EXECUTORS. The driver never materializes an AddFile, so a 10M-file
        checkpoint costs neither the O(files) parse (``materialize_s``)
        nor the O(files) row build the serial builder pays.

        After a schema change the manifest's carried ``*_parsed`` structs
        no longer match the current spec; they are then REBUILT
        executor-side from the stats-JSON string columns by scalar pandas
        UDFs running the same ``_typed_stat_value``/``stat_lookup``
        functions as the driver builders (``_parsed_struct_udfs``) — the
        write stays a Spark job (r11 verdict item #2).

        Row equivalence with the serial writer: add rows' ``action_json``
        is the same wrapped JSON round-tripped from the source checkpoint
        (parse_action -> AddFile -> wrap() is byte-stable), typed columns
        are carried through unchanged (or rebuilt under the shared Python
        cast rules), and the non-add state rows are the identical
        driver-built :func:`_state_rows`. Only file layout differs
        (Spark part files; readers are name-based and pyarrow's dataset
        ignores ``_``/``.``-prefixed markers)."""
        spec = stats_field_spec(snap.physical_schema)
        manifest = self.files_df(snap)
        if (self._parsed_spec_of(manifest) or []) != spec:
            manifest = manifest.drop(*PARSED_STAT_COLS)
            if spec:
                mn_u, mx_u, nc_u = _parsed_struct_udfs(spec)
                manifest = (
                    manifest
                    .withColumn("minValues_parsed", mn_u("minValues"))
                    .withColumn("maxValues_parsed", mx_u("maxValues"))
                    .withColumn("nullCount_parsed", nc_u("nullCount")))
        layout = ["kind", "action_json", "path", "partitionValues",
                  "size", "numRecords", "minValues", "maxValues",
                  "nullCount", "version", "timestamp"]
        if spec:
            layout += list(PARSED_STAT_COLS)
        adds_df = manifest.withColumn("kind", F.lit("add")).select(layout)
        # non-add state rows (metaData/protocol/txn/domainMetadata):
        # driver-built, O(1) + O(writers) rows
        head_schema = T.StructType(
            [T.StructField("kind", T.StringType())]
            + list(adds_df.schema.fields[1:]))
        pad = (None,) * (len(layout) - 2)
        head_df = self.meta_spark.createDataFrame(
            [(k, j) + pad for k, j, _path in _state_rows(snap)],
            head_schema)
        final = os.path.join(self.log_path, _fmt_checkpoint(snap.version))
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        # small parquet blocks so the manifest prune's scan parallelism is
        # row-group-granular, like write_checkpoint_files' 32k-row groups
        try:
            (head_df.unionByName(adds_df)
             .write.mode("overwrite")
             .option("parquet.block.size", str(4 << 20))
             .parquet(tmp))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        for name in os.listdir(tmp):
            if not name.endswith(".parquet"):
                os.remove(os.path.join(tmp, name))  # _SUCCESS etc.
        # non-destructive swap: the prior checkpoint is only deleted
        # AFTER the new one is installed (see _install_checkpoint), and
        # _last_checkpoint only advances onto a verified-complete install
        return self._publish_checkpoint(
            _install_checkpoint(tmp, final), snap.version, final,
            self.file_counts(snap)[0], "classic")

    def _write_checkpoint_v2_spark(self, snap: "Snapshot", nbuckets: int,
                                   spec, spec_tag: str) -> list:
        """V2 sidecars as a SPARK JOB: the manifest DataFrame groups by
        the same md5 path bucket as the driver path (verified expression
        parity), and each group's executor task computes the bucket's
        identity address, writes the sidecar parquet ONLY when that
        address is absent (content addressing makes task retries and
        speculative duplicates idempotent — tmp + atomic rename), and
        returns one (bucket, rel, size, sha) row. The driver never
        materializes an AddFile; unchanged buckets cost an executor-side
        hash of their (path, version) identities, never a rewrite.

        Schema changes are a non-event here: each task rebuilds its
        bucket's rows from ``action_json`` via ``parse_action`` +
        ``_adds_arrow_table(..., spec)`` — the CURRENT spec, under the
        same Python cast rules as the serial builder — so the manifest's
        carried struct layout never matters (r11 declined on a spec
        mismatch; r12 removed that decline).

        Returns the sidecar manifest rows in bucket order."""
        manifest = self.files_df(snap)
        log_path = self.log_path
        sidecar_dir = SIDECAR_DIR

        def build(pdf):
            import hashlib as _hl
            import os as _os
            import uuid as _uuid

            import pandas as _pd
            import pyarrow.parquet as _pq

            pdf = pdf.sort_values("path")
            vers = [None if _pd.isna(v) else int(v) for v in pdf["version"]]
            h = _hl.sha256(
                ("sidecar-v2\n" + spec_tag + "\n" + "\n".join(
                    f"{p}\x00{v}" for p, v in zip(pdf["path"], vers))
                 ).encode()).hexdigest()[:32]
            rel = _os.path.join(sidecar_dir, f"{h}.parquet")
            fp = _os.path.join(log_path, rel)
            if not _os.path.exists(fp):
                adds = [parse_action(j) for j in pdf["action_json"]]
                t = _adds_arrow_table(adds, spec)
                tmp = fp + f".{_uuid.uuid4().hex}.tmp"
                _pq.write_table(t, tmp,
                                row_group_size=CHECKPOINT_ROW_GROUP_ROWS)
                _os.replace(tmp, fp)
            return _pd.DataFrame(
                [(int(pdf["__b"].iloc[0]), rel,
                  _os.path.getsize(fp), _sidecar_sha256(fp))],
                columns=["bucket", "rel", "size", "sha"])

        b = (F.conv(F.substring(F.md5(F.col("path")), 1, 8), 16, 10)
             .cast("long") % nbuckets)
        rows = (manifest.select("action_json", "path", "version")
                .withColumn("__b", b)
                .groupBy("__b")
                .applyInPandas(build,
                               "bucket long, rel string, size long, "
                               "sha string")
                .collect())
        return sorted(rows, key=lambda r: r["bucket"])

    def _write_checkpoint_v2(self, snap: "Snapshot") -> str:
        """V2 checkpoint: content-addressed sidecars + a small manifest.

        Buckets are a stable hash of path mod a power-of-two count sized
        to SIDECAR_TARGET_ROWS, so bucket membership — and therefore each
        sidecar's content hash — only changes when the bucket's own files
        change (or the table grows past the next power of two). An
        unchanged bucket's sidecar already exists on disk under its
        content hash and costs zero bytes to 'write' again."""
        import hashlib as _hl

        n, _sz = self.file_counts(snap)
        nbuckets = 1
        while nbuckets * SIDECAR_TARGET_ROWS < n:
            nbuckets *= 2
        sidecar_dir = os.path.join(self.log_path, SIDECAR_DIR)
        os.makedirs(sidecar_dir, exist_ok=True)
        # the typed-stats struct layout is part of a sidecar's identity:
        # after a schema change (add/widen column) every bucket re-addresses
        # and rewrites ONCE with the new struct fields, so one checkpoint's
        # sidecar set always shares a single parquet schema (a reused
        # old-layout file would make the manifest scan's struct types
        # file-dependent)
        spec = stats_field_spec(snap.physical_schema)
        spec_tag = json.dumps(spec)
        if self._use_spark_checkpoint(snap):
            # sidecars as a Spark job over the manifest plane (no AddFile
            # materialization)
            results = [(r["rel"], r["size"], r["sha"]) for r in
                       self._write_checkpoint_v2_spark(snap, nbuckets, spec,
                                                       spec_tag)]
        else:
            buckets: list[list[AddFile]] = [[] for _ in range(nbuckets)]
            for add in snap.files:
                b = int(_hl.md5(add.path.encode()).hexdigest()[:8],
                        16) % nbuckets
                buckets[b].append(add)
            state = {"buckets": buckets, "spec": spec,
                     "spec_tag": spec_tag, "log_path": self.log_path}
            results = [_build_sidecar_bucket(i, state)
                       for i, b in enumerate(buckets) if b]
        extra = [("checkpointMetadata", json.dumps({"checkpointMetadata": {
            "version": snap.version, "tags": {"policy": "v2"}}}), None)]
        # BYTES hash for read-side tamper detection (the filename is an
        # identity-set address, not a bytes address); cached in a 64-byte
        # companion so an unchanged bucket never re-hashes its parquet on
        # later checkpoints. The typed path column carries the sidecar
        # too, for driver-free listing.
        extra += [("sidecar", json.dumps({"sidecar": {
            "path": rel, "sizeInBytes": size_bytes,
            "tags": {"sha256": sha}}}), rel)
            for rel, size_bytes, sha in results]
        table = _state_arrow_table(_state_rows(snap, extra))
        final = os.path.join(self.log_path, _fmt_checkpoint(snap.version))
        return self._publish_checkpoint(
            write_checkpoint_files(table, final), snap.version, final, n,
            "v2")

    def _verify_sidecar(self, sc: dict, deep: bool = False) -> None:
        """Fail LOUDLY when a referenced sidecar's bytes disagree with
        the manifest (truncated, replaced, or tampered — silently
        dropping its file actions would serve an under-reported
        snapshot). ``deep`` additionally checks the recorded content
        hash; the size check alone catches truncation."""
        fp = os.path.join(self.log_path, sc["path"])
        try:
            actual = os.path.getsize(fp)
        except OSError as exc:
            raise SidecarIntegrityError(
                f"v2 checkpoint references missing sidecar "
                f"{sc['path']!r}: {exc}") from exc
        expected = sc.get("sizeInBytes")
        if expected is not None and actual != expected:
            raise SidecarIntegrityError(
                f"sidecar {sc['path']!r} is {actual} bytes but the "
                f"checkpoint manifest recorded {expected} — truncated or "
                "replaced sidecar; refusing to serve a partial snapshot")
        recorded = (sc.get("tags") or {}).get("sha256")
        if deep and recorded:
            # bypass the companion cache: verification must hash the
            # bytes actually on disk
            import hashlib as _hl

            h = _hl.sha256()
            with open(fp, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            if h.hexdigest() != recorded:
                raise SidecarIntegrityError(
                    f"sidecar {sc['path']!r} content hash mismatch "
                    f"(recorded {recorded[:12]}…, found "
                    f"{h.hexdigest()[:12]}…) — tampered sidecar; "
                    "refusing to serve the snapshot")

    def _sidecar_refs(self, version: int) -> list[dict]:
        """The sidecar actions a v2 checkpoint manifest references
        (empty for classic checkpoints).

        Probes the cheap ``kind`` column first: a CLASSIC million-row
        manifest answers "no sidecars" without ever materializing its
        action_json strings driver-side (measured: reading both columns
        on a 1M-row checkpoint costs ~2 s per files_df cache miss)."""
        import pyarrow.parquet as pq

        import pyarrow.compute as pc

        fp = os.path.join(self.log_path, _fmt_checkpoint(version))
        kinds = pq.read_table(fp, columns=["kind"]).column("kind")
        if not pc.any(pc.equal(kinds, "sidecar")).as_py():
            return []
        cols = pq.read_table(fp, columns=["kind", "action_json"])
        out = []
        for kind, line in zip(cols.column("kind").to_pylist(),
                              cols.column("action_json").to_pylist()):
            if kind == "sidecar":
                out.append(json.loads(line)["sidecar"])
        return out

    def _checkpoint_sidecars(self, version: int) -> list[str]:
        """Relative sidecar paths of a v2 manifest, integrity-verified:
        the callers hand them straight to parquet scans (the lazy
        manifest plane serves prune/limit/paged-RPC rows from these
        bytes), so a truncated OR tampered sidecar must raise here
        rather than serve a wrong snapshot. Content hashes are checked
        against the manifest's recorded sha256 once per (path, size,
        mtime, head/tail-token) per TableLog instance — repeated queries
        over an unchanged checkpoint pay one stat + two 4 KB reads, not
        a re-hash. Trust boundary of the memoization: an in-place edit
        that preserves the size, restores the mtime (os.utime) AND keeps
        the first/last 4 KB byte-identical is not re-hashed within this
        process's lifetime; parquet cannot express a content change
        under all three constraints without corrupting its footer
        metadata, and a fresh TableLog (new process / cache eviction)
        always deep-hashes again."""
        refs = self._sidecar_refs(version)
        for sc in refs:
            fp = os.path.join(self.log_path, sc["path"])
            try:
                st = os.stat(fp)
                key = (st.st_size, st.st_mtime,
                       self._sidecar_edge_token(fp, st.st_size))
            except OSError:
                key = None
            if key is not None \
                    and self._sidecar_deep_verified.get(sc["path"]) == key:
                continue
            self._verify_sidecar(sc, deep=True)
            if key is not None:
                self._sidecar_deep_verified[sc["path"]] = key
        return [sc["path"] for sc in refs]

    @staticmethod
    def _sidecar_edge_token(fp: str, size: int) -> str:
        """Cheap content token for the deep-verify memo key: hash of the
        first and last 4 KB (footer metadata lives in the tail, so any
        well-formed parquet rewrite changes it even at equal size)."""
        import hashlib as _hl

        h = _hl.sha256()
        with open(fp, "rb") as f:
            h.update(f.read(4096))
            if size > 4096:
                f.seek(max(4096, size - 4096))
                h.update(f.read(4096))
        return h.hexdigest()[:16]

    def _read_checkpoint(
        self, version: int
    ) -> tuple[Metadata, dict[str, AddFile], int, dict[str, int],
               dict[str, str]]:
        """Full checkpoint read: table-wide state + every add action —
        the light + adds passes composed (kept for callers/tests that
        need both; snapshot resolution uses the split forms so cold
        resolution never pays the O(files) add parse)."""
        metadata, ts, txns, domains, _n = \
            self._read_checkpoint_light(version)
        active = self._read_checkpoint_adds(version)
        return metadata, active, ts, txns, domains

    def _read_checkpoint_light(
        self, version: int
    ) -> tuple[Metadata, int, dict[str, int], dict[str, str], int]:
        """Table-wide checkpoint state WITHOUT parsing add actions:
        (metadata, timestamp, txns, domains, add_row_count). The add rows
        are skipped via a columnar ``kind != 'add'`` filter — at a
        million files the expensive part of a cold start is building a
        million AddFile objects, not scanning two string columns. The
        snapshot timestamp comes from a columnar max over the
        ``timestamp`` column (v1) / sidecar timestamp columns (v2),
        overridden by the checkpoint version's own commit timestamp when
        that JSON still exists — same semantics as the full read."""
        import pyarrow.compute as pc
        import pyarrow.dataset as pds
        import pyarrow.parquet as pq

        fp = os.path.join(self.log_path, _fmt_checkpoint(version))
        dset = pds.dataset(fp, format="parquet")
        light = dset.to_table(columns=["kind", "action_json"],
                              filter=pc.field("kind") != "add")
        metadata: Metadata | None = None
        txns: dict[str, int] = {}
        domains: dict[str, str] = {}
        ts = 0
        n_adds = dset.count_rows(filter=pc.field("kind") == "add")
        sidecars: list[dict] = []
        for kind, line in zip(light.column("kind").to_pylist(),
                              light.column("action_json").to_pylist()):
            if kind == "metaData":
                metadata = parse_action(line)
            elif kind == "txn":
                t = json.loads(line)
                txns[t["appId"]] = int(t["version"])
            elif kind == "domainMetadata":
                dm = parse_action(line)
                domains[dm.domain] = dm.configuration
            elif kind == "sidecar":
                sidecars.append(json.loads(line)["sidecar"])
        for ref in sidecars:
            # v2: adds live in sidecar parquets — count + timestamp via
            # parquet metadata / one int64 column, never the action rows.
            # Cheap size check up front (a truncated sidecar must raise
            # SidecarIntegrityError, not an Arrow parse error); the deep
            # content-hash verification happens in the adds pass
            self._verify_sidecar(ref, deep=False)
            sp = os.path.join(self.log_path, ref["path"])
            n_adds += pq.ParquetFile(sp).metadata.num_rows
            mx = pc.max(pq.read_table(sp, columns=["timestamp"])
                        .column("timestamp")).as_py()
            if mx is not None:
                ts = max(ts, mx)
        if not sidecars:
            mx = pc.max(dset.to_table(columns=["timestamp"])
                        .column("timestamp")).as_py()
            if mx is not None:
                ts = max(ts, mx)
        if metadata is None:
            raise TableNotFoundError(f"checkpoint {fp} lacks metadata")
        # the checkpoint version's own commit timestamp wins over file ts
        # (unless that commit JSON was expired — file timestamps stand then)
        try:
            ts = max(ts, self.read_commit(version).timestamp)
        except VersionNotFoundError:
            pass
        return metadata, ts, txns, domains, n_adds

    def _read_checkpoint_adds(self, version: int) -> dict[str, AddFile]:
        """The O(files) half of a checkpoint read: every add action
        parsed into AddFile objects — the lazy ``Snapshot.files``
        provider. v2 sidecars are verified (size + content hash) before
        their rows are trusted, exactly like the pre-split full read.

        NO public serving path reaches this (to_df/REST/CDF/streaming/
        checkpoint writes all stay on the lazy manifest plane —
        plan-asserted by tests/test_round12.py::TestLazyServingPlane);
        it exists for explicit maintenance/introspection callers that
        truly need the full list. The cyclic GC is paused for the parse
        loop: allocating ~10M objects with the collector live re-walks a
        growing multi-GB heap every gen-2 threshold (measured ~25%+ of
        the wall at 3M rows, worse at 10M) while the loop itself creates
        no cycles — refcounting reclaims all transient garbage. Sidecars
        are integrity-verified BEFORE any of their rows are parsed."""
        import gc

        import pyarrow.compute as pc
        import pyarrow.dataset as pds

        fp = os.path.join(self.log_path, _fmt_checkpoint(version))
        dset = pds.dataset(fp, format="parquet")
        active: dict[str, AddFile] = {}

        def splice(tbl) -> None:
            for line in tbl.column("action_json").to_pylist():
                add = parse_action(line)
                active[add.path] = add

        gc_was_on = gc.isenabled()
        if gc_was_on:
            gc.disable()
        try:
            # sidecar refs + integrity first (cheap, top-level rows only)
            refs = dset.to_table(
                columns=["action_json"],
                filter=pc.field("kind") == "sidecar")
            side_paths = []
            for line in refs.column("action_json").to_pylist():
                ref = json.loads(line)["sidecar"]
                self._verify_sidecar(ref, deep=True)
                side_paths.append(
                    os.path.join(self.log_path, ref["path"]))
            for src in [fp] + side_paths:
                splice(pds.dataset(src, format="parquet").to_table(
                    columns=["action_json"],
                    filter=pc.field("kind") == "add"))
        finally:
            if gc_was_on:
                gc.enable()
        return active

    def _maybe_checkpoint(self, version: int) -> None:
        """Auto-checkpoint after a write when the version hits the interval
        (``delta.checkpointInterval`` table config — Delta's spelling —
        with the bare ``checkpointInterval`` kept as an alias; default
        10). A failed checkpoint is logged at WARNING with its traceback
        and never fails the commit — checkpointing is an optimization."""
        try:
            snap = self.snapshot(version=version)
            cfg = snap.metadata.configuration
            interval = int(cfg.get(
                "delta.checkpointInterval",
                cfg.get("checkpointInterval", CHECKPOINT_INTERVAL_DEFAULT)))
            if interval > 0 and version > 0 and version % interval == 0:
                self.write_checkpoint(version)
        except Exception:
            _LOG.warning("auto-checkpoint of %s at version %d failed",
                         self.path, version, exc_info=True)

    # --------------------------------------------------- timestamp resolution

    def _version_timestamps(self) -> list[tuple[int, int]]:
        return [(c.version, c.timestamp) for c in self.commits()]

    @staticmethod
    def _parse_ts_millis(timestamp: str | int) -> int:
        if isinstance(timestamp, (int, float)):
            return int(timestamp)
        import datetime as _dt

        s = str(timestamp).replace("T", " ")
        dt = _dt.datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        return int(dt.timestamp() * 1000)

    def version_at_timestamp(self, timestamp: str | int) -> int:
        """Latest version whose commit timestamp <= t (snapshot time travel)."""
        t = self._parse_ts_millis(timestamp)
        best = None
        for v, ts in self._version_timestamps():
            if ts <= t:
                best = v
        if best is None:
            raise VersionNotFoundError(
                f"timestamp {timestamp} is before the table's first commit"
            )
        return best

    def earliest_version_at_or_after(self, timestamp: str | int) -> int:
        """Exact-match commit, else earliest commit after t — the reference's
        CDF / startingTimestamp rule (server/.../DeltaSharingCDCReader.scala:96-137,
        DeltaSharedTable.scala:143-166)."""
        t = self._parse_ts_millis(timestamp)
        for v, ts in self._version_timestamps():
            if ts >= t:
                return v
        raise VersionNotFoundError(f"no version at or after timestamp {timestamp}")

    # ------------------------------------------------------------- manifests

    _MANIFEST_SCHEMA = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("size", T.LongType()),
            T.StructField("numRecords", T.LongType()),
            T.StructField("minValues", T.StringType()),
            T.StructField("maxValues", T.StringType()),
            T.StructField("nullCount", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("timestamp", T.LongType()),
            # the wrapped add-action JSON (exact log round-trip): lets the
            # wire layer serve a PAGE of full file actions straight from
            # the manifest plane, never materializing O(files) AddFiles
            T.StructField("action_json", T.StringType()),
        ]
    )

    @classmethod
    def _manifest_columns(cls, parsed: bool) -> list[str]:
        """Manifest column names, with the typed ``*_parsed`` structs
        appended when ``parsed``."""
        return ([f.name for f in cls._MANIFEST_SCHEMA.fields]
                + (list(PARSED_STAT_COLS) if parsed else []))

    @classmethod
    def _manifest_arrow(cls, files, parsed_spec=None):
        """Driver-built manifest rows (checkpoint tails, checkpoint-less
        manifests, candidate sets) as one Arrow table in the manifest
        column layout. Built by the checkpoint writers' own row builder,
        so with ``parsed_spec`` ([(name, kind)], see ``stats_field_spec``)
        the typed ``*_parsed`` structs are exactly a checkpoint's."""
        return _adds_arrow_table(files, parsed_spec).select(
            cls._manifest_columns(bool(parsed_spec)))

    @classmethod
    def _manifest_schema(cls, parsed_spec=None) -> T.StructType:
        """The manifest DataFrame schema; with ``parsed_spec`` the three
        typed-stats struct columns are appended (manifest Spark types:
        i->long, f->double, b->boolean, s->string; nullCount always long)."""
        fields = list(cls._MANIFEST_SCHEMA.fields)
        if parsed_spec is not None:
            val_struct = T.StructType(
                [T.StructField(n, _STAT_SPARK_TYPE[k]) for n, k in
                 parsed_spec])
            nc_struct = T.StructType(
                [T.StructField(n, T.LongType()) for n, _ in parsed_spec])
            fields += [
                T.StructField("minValues_parsed", val_struct),
                T.StructField("maxValues_parsed", val_struct),
                T.StructField("nullCount_parsed", nc_struct),
            ]
        return T.StructType(fields)

    @staticmethod
    def _parsed_spec_of(df: DataFrame):
        """Recover the (name, kind) typed-stats spec from a manifest
        DataFrame's ``minValues_parsed`` struct — None when the source
        predates the typed columns (scan falls back to the JSON path)."""
        kind_of = {T.LongType: "i", T.DoubleType: "f",
                   T.BooleanType: "b", T.StringType: "s"}
        for f in df.schema.fields:
            if f.name == "minValues_parsed":
                return [(sf.name, kind_of[type(sf.dataType)])
                        for sf in f.dataType.fields]
        return None

    def _checkpoint_manifest_sources(self, cp_version: int) -> list[str]:
        """The parquet files (or multi-part directory) holding a
        checkpoint's add rows: v2 checkpoints keep them in sidecar
        parquets of identical column layout (integrity-verified here),
        classic ones in the checkpoint itself."""
        sidecars = self._checkpoint_sidecars(cp_version)
        if sidecars:
            return [os.path.join(self.log_path, rel) for rel in sidecars]
        return [os.path.join(self.log_path, _fmt_checkpoint(cp_version))]

    def _checkpoint_manifest_df(self, src: list[str]) -> DataFrame:
        """The scan of the add rows in ``src``
        (``_checkpoint_manifest_sources``); the manifest of a v2
        checkpoint is O(buckets), its sidecar scan parallelizes like any
        parquet read."""
        df = self.meta_spark.read.parquet(*src)
        # typed *_parsed stats columns ride along when the checkpoint has
        # them (post-r10 format); absent on older checkpoints — pruning
        # then falls back to get_json_object per column
        return df.filter(F.col("kind") == "add").select(
            *self._manifest_columns("minValues_parsed" in df.columns))

    def _checkpoint_tail(self, snapshot: Snapshot, cp_version: int
                         ) -> "tuple[set[str], list[AddFile]]":
        """(paths touched after checkpoint ``cp_version``, the tail's
        active adds path-sorted) for ``snapshot``. The tail between
        checkpoints is bounded by the interval, so both stay small
        relative to the checkpoint. A lazy snapshot seeded from THIS
        checkpoint already carries the replayed tail (with
        version/timestamp/row-tracking stamps); otherwise the tail
        commits are re-read. Neither touches ``snapshot.files``."""
        if snapshot.cp_version == cp_version:
            return snapshot.tail_changed, sorted(
                snapshot.tail_adds.values(), key=lambda a: a.path)
        changed: set[str] = set()
        tail_active: dict[str, AddFile] = {}
        rt = snapshot.row_tracking_enabled
        for v in range(cp_version + 1, snapshot.version + 1):
            commit = self.read_commit(v)
            for r in commit.removes:
                changed.add(r.path)
                tail_active.pop(r.path, None)
            for a in commit.adds:
                a.version = commit.version
                a.timestamp = commit.timestamp
                if rt and a.defaultRowCommitVersion is None:
                    a.defaultRowCommitVersion = commit.version
                changed.add(a.path)
                tail_active[a.path] = a
        return changed, sorted(tail_active.values(), key=lambda a: a.path)

    def _resident_checkpoint_manifest(
            self, src: list[str], changed: "set[str]",
            tail: "list[AddFile]") -> "DataFrame | None":
        """The checkpoint-plus-tail manifest as ONE driver-resident
        ``LocalRelation``, or None when it does not fit under the manifest
        session's ``spark.sql.execution.arrow.localRelationThreshold``.
        The checkpoint's add rows are read with pyarrow, tail-changed
        paths dropped and the tail rows appended in Arrow: Catalyst
        folds a filter or projection over one LocalRelation, but not
        over a union of two, which would run as a Spark job again.

        The bound is checked before reading (the footers' row-group
        byte sizes, so a million-file checkpoint is never pulled to the
        driver), after reading (the Arrow size) and after building (Spark
        really made a LocalRelation)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pds

        dset = pds.dataset(src[0] if len(src) == 1 else src,
                           format="parquet")
        bound = (self.meta_spark._jsparkSession.sessionState().conf()
                 .arrowLocalRelationThreshold())
        footer_bytes = 0
        for frag in dset.get_fragments():
            md = frag.metadata
            footer_bytes += sum(md.row_group(i).total_byte_size
                                for i in range(md.num_row_groups))
        if footer_bytes > bound:
            return None
        tbl = dset.to_table(
            columns=self._manifest_columns(
                "minValues_parsed" in dset.schema.names),
            filter=pc.field("kind") == "add")
        if tbl.nbytes > bound:
            # the footers count parquet's uncompressed bytes, ~20% below
            # the Arrow size Spark checks: skip a build Spark would refuse
            return None
        spec = _arrow_parsed_spec(tbl.schema)
        if changed:
            tbl = tbl.filter(pc.invert(pc.is_in(
                tbl.column("path"),
                value_set=pa.array(list(changed), pa.string()))))
        if tail:
            # the tail mirrors the CHECKPOINT's typed-stats struct exactly
            # (fields AND stored types), even after a schema change
            # between the checkpoint and the tail commits
            tbl = pa.concat_tables(
                [tbl, self._manifest_arrow(tail, spec).cast(tbl.schema)])
        # path-sorted (see files_df), in one chunk: the filtered read
        # leaves empty chunks (state rows, changed paths), and Spark's
        # Arrow reader ends the stream at the first empty batch, silently
        # dropping every row after it
        df = self.meta_spark.createDataFrame(
            tbl.sort_by("path").combine_chunks(), self._manifest_schema(spec))
        # above the bound Spark plans a parallelized RDD instead
        plan = df._jdf.queryExecution().logical()
        return df if plan.getClass().getSimpleName() == "LocalRelation" \
            else None

    def files_df(self, snapshot: Snapshot) -> DataFrame:
        """The file manifest as a DataFrame, the input of every
        manifest-plane prune, page and count. Two storages, one schema:

        - Driver-resident: when the manifest fits within Spark's own
          local-relation bound (the manifest session's
          ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
          default — about 80k files), it is built ONCE per snapshot as
          one Arrow table (checkpoint add rows minus tail-changed paths,
          plus the tail rows) and handed to Spark as a ``LocalRelation``.
          Catalyst's ``ConvertToLocalRelation`` rule then evaluates the
          prune filter and the ``path, action_json`` projection during
          optimization, so a pruned listing runs no Spark job. Its rows
          are path-sorted, and folding a filter, projection or limit
          keeps their order, which the paged listing relies on. A
          checkpoint-less manifest is always built this way from the
          snapshot's files (whatever Spark makes of it).
        - Scan: above the bound, the newest parquet checkpoint is
          scanned directly; exact hit scans it, otherwise checkpoint
          minus tail-changed paths, union the (small) tail adds. The
          manifest never materializes as O(total files) driver rows, and
          the prune runs as a Spark job that scales out — at millions of
          files it must (the reference caps pages at 10k files for the
          same reason, ServerConfig.scala:93).

        Scan entries record the checkpoint file's identity (inode +
        mtime) and re-stat on every hit: a checkpoint reinstall — by
        this instance, another TableLog, or another process — swaps the
        file/dir under the cached plan, and re-evaluating a plan pinned
        to the old part listing fails FILE_NOT_EXIST (surfaced at 1M
        files once the r12 non-destructive install really swapped the
        dir). One os.stat per hit is the price of cross-instance
        correctness. Boundary: a swap in the MIDDLE of an in-flight
        scan can still fail that scan (filesystem TOCTOU, same as any
        engine whose input is replaced mid-read; Delta sidesteps it by
        never rewriting a version's checkpoint) — the guarantee here is
        that evaluations STARTING after an install are never stale.
        Driver-built entries have no disk dependency; the snapshot
        identity check (``_cached_snapshot``) drops them with the rest
        when the table is recreated. A log keeps at most one
        driver-resident checkpoint manifest, the newest version's, so
        driver memory stays bounded by the table-handle cache size times
        the bound: a snapshot older than the cached resident one takes
        the scan plan (cached like any other), so traffic alternating
        between versions never rebuilds a resident manifest per
        request."""
        with self._cache_lock:
            cached = self._files_df_cache.get(snapshot.version)
            newer_resident = any(
                e[3] and v > snapshot.version
                for v, e in self._files_df_cache.items())
        if cached is not None:
            df0, fp0, ident0, _ = cached
            if fp0 is None:
                return df0  # built on the driver — no disk dependency
            if _file_identity(fp0) == ident0:
                return df0
            # checkpoint replaced/removed — rebuild below
        cp_version = self._latest_checkpoint(at_or_before=snapshot.version)
        fp = ident = None
        resident = False
        if cp_version is None:
            spec = stats_field_spec(snapshot.physical_schema) or None
            df = self.meta_spark.createDataFrame(
                self._manifest_arrow(snapshot.files, spec).sort_by("path"),
                self._manifest_schema(spec))
        else:
            # capture the checkpoint identity BEFORE reading its sources
            # or building the plan: a reinstall landing between the build
            # and a later stat would cache the stale plan under the NEW
            # identity — which then validates forever (a permanent wedge
            # of the exact failure this check exists to prevent). A
            # pre-build identity made stale by a concurrent reinstall
            # simply fails the next hit's re-stat and rebuilds.
            fp = os.path.join(self.log_path, _fmt_checkpoint(cp_version))
            ident = _file_identity(fp)
            if cp_version == snapshot.version and not snapshot.tail_changed:
                changed, tail = set(), []
            else:
                changed, tail = self._checkpoint_tail(snapshot, cp_version)
            src = self._checkpoint_manifest_sources(cp_version)
            df = None if newer_resident else \
                self._resident_checkpoint_manifest(src, changed, tail)
            if df is not None:
                fp = ident = None
                resident = True
            else:
                df = self._checkpoint_manifest_df(src)
                if changed:
                    df = df.filter(~F.col("path").isin(*changed))
                if tail:
                    spec = self._parsed_spec_of(df)
                    df = df.unionByName(self.meta_spark.createDataFrame(
                        self._manifest_arrow(tail, spec),
                        self._manifest_schema(spec)))
                if ident is None:
                    # the checkpoint raced away before the build: the df
                    # DOES depend on it, so don't cache a plan we can't
                    # validate — the next call rebuilds against whatever
                    # is on disk then
                    return df
        with self._cache_lock:
            if resident:
                older = [v for v, e in self._files_df_cache.items() if e[3]]
                if any(v > snapshot.version for v in older):
                    return df  # a newer one was cached meanwhile
                for v in older:
                    del self._files_df_cache[v]
            self._files_df_cache[snapshot.version] = (df, fp, ident,
                                                      resident)
            while len(self._files_df_cache) > 8:
                self._files_df_cache.pop(next(iter(self._files_df_cache)))
        return df

    def file_counts(self, snapshot: Snapshot) -> tuple[int, int]:
        """(numFiles, totalSizeBytes) for the snapshot WITHOUT
        materializing ``.files``: already-materialized snapshots count in
        memory, else the ``.crc`` checksum sidecar answers O(1) (its
        whole point), else the manifest plane: a driver-resident manifest
        collects its ``size`` column with no Spark job, a scanned one
        runs ONE distributed agg.
        Memoized per snapshot — the metaData wire line needs these on
        every query RPC."""
        if snapshot._counts is not None:
            return snapshot._counts
        if snapshot.files_materialized:
            counts = (len(snapshot.files),
                      sum(f.size or 0 for f in snapshot.files))
        else:
            crc = self.read_crc(snapshot.version)
            if crc is not None and "numFiles" in crc \
                    and "tableSizeBytes" in crc:
                counts = (int(crc["numFiles"]), int(crc["tableSizeBytes"]))
            else:
                manifest = self.files_df(snapshot)
                if self._driver_resident(manifest):
                    # folded into the LocalRelation: no Spark job (an
                    # aggregate over it would run two)
                    sizes = [r[0] for r in manifest.select("size").collect()]
                    counts = (len(sizes), sum(s or 0 for s in sizes))
                else:
                    row = manifest.agg(
                        F.count("*").alias("n"),
                        F.sum("size").alias("s")).collect()[0]
                    counts = (int(row["n"]), int(row["s"] or 0))
        snapshot._counts = counts
        return counts

    @staticmethod
    def _driver_resident(manifest: DataFrame) -> bool:
        """Whether Catalyst folds ``manifest`` (a driver-resident
        ``files_df`` and the filters on it) into one ``LocalRelation``:
        then collecting from it runs no Spark job, while every job over
        it ships the relation's rows inside its tasks."""
        plan = manifest._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getSimpleName() == "LocalRelation"

    def abs_path(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    # ------------------------------------------------------------------ write

    def _next_commit_timestamp(self) -> int:
        """Monotonized commit timestamps: never <= the previous commit's
        (ref DeltaSharingHistoryManager monotonization of commit timestamps)."""
        now = int(time.time() * 1000)
        versions = self._list_versions()
        if versions:
            prev = self.read_commit(versions[-1]).timestamp
            if now <= prev:
                now = prev + 1
        return now

    ICT_KEY = "delta.enableInCommitTimestamps"

    def _ict_enabled(self, actions: list[Action]) -> bool:
        """In-commit timestamps on? The commit's own Metadata action wins
        (create / config change); otherwise the current table config."""
        for a in actions:
            if isinstance(a, Metadata):
                return a.configuration.get(
                    self.ICT_KEY, "").lower() == "true"
        try:
            return self.snapshot().metadata.configuration.get(
                self.ICT_KEY, "").lower() == "true"
        except TableNotFoundError:
            return False

    def _write_commit(self, version: int, actions: list[Action]) -> None:
        """Atomic no-clobber commit: write to a temp file, then hard-link to
        the final name. ``os.link`` fails with EEXIST if another writer won
        the race (unlike rename, which silently replaces) — the same
        put-if-absent primitive Delta's commit protocol relies on. Losers
        get ConcurrentCommitError and can re-resolve + retry.

        With ``delta.enableInCommitTimestamps`` the CommitInfo is stamped
        with ``inCommitTimestamp`` (Delta's ICT writer feature): the commit
        time lives in the payload, so filesystem mtime skew (backdated
        copies, cross-region replication) can never change time-travel
        resolution."""
        if self._ict_enabled(actions):
            for a in actions:
                if isinstance(a, CommitInfo) and a.inCommitTimestamp is None:
                    a.inCommitTimestamp = a.timestamp
        os.makedirs(self.log_path, exist_ok=True)
        final = os.path.join(self.log_path, _fmt_version(version))
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            for action in actions:
                f.write(dumps_action(action) + "\n")
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise ConcurrentCommitError(
                f"version {version} was committed concurrently"
            ) from exc
        finally:
            os.unlink(tmp)
        self._write_crc(version, actions)
        self._maybe_checkpoint(version)

    def _crc_path(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:020d}.crc")

    def _write_crc(self, version: int, actions: list[Action]) -> None:
        """Version checksum sidecar (Delta's ``<v>.crc`` VersionChecksum):
        post-commit, best-effort, advisory — ``{tableSizeBytes, numFiles,
        numMetadata, numProtocol}`` of the state AT this version, computed
        incrementally from the previous version's checksum (O(commit), not
        O(table)); a gap falls back to one cached snapshot resolve.
        Consumers: O(1) DESCRIBE DETAIL (`SharedTable.detail`) and
        `verify_checksum()` state-corruption detection."""
        try:
            adds = [a for a in actions if isinstance(a, AddFile)]
            removes = [a for a in actions if isinstance(a, RemoveFile)]
            prev = {"numFiles": 0, "tableSizeBytes": 0}
            # an add NOT paired with a same-commit remove can still
            # REPLACE an active file in place (re-add: the row-tracking
            # backfill re-adds every active file with no removes), which
            # the incremental +adds-removes arithmetic would double-count
            # — for those commits resolve the state exactly instead.
            # In-engine writers only do this with dataChange=False;
            # replace-style rewrites (optimize/purge/DV-compact) pair
            # every re-add with a remove and net out correctly.
            rm_paths = {r.path for r in removes}
            unpaired_readds = version > 0 and any(
                a.dataChange is False and a.path not in rm_paths
                for a in adds)
            if version > 0:
                prev = self.read_crc(version - 1)
                if prev is None or unpaired_readds:
                    snap = self.snapshot(version=version)
                    prev = None
                    payload = {
                        "numFiles": len(snap.files),
                        "tableSizeBytes": sum(f.size or 0
                                              for f in snap.files),
                    }
            if prev is not None:
                payload = {
                    "numFiles": prev["numFiles"] + len(adds) - len(removes),
                    "tableSizeBytes": prev["tableSizeBytes"]
                    + sum(a.size or 0 for a in adds)
                    - sum(r.size or 0 for r in removes),
                }
            payload["numMetadata"] = sum(
                1 for a in actions if isinstance(a, Metadata))
            payload["numProtocol"] = sum(
                1 for a in actions if isinstance(a, Protocol))
            # clustering columns ride the sidecar (Delta's liquid tables
            # surface them in DESCRIBE DETAIL): set by a ZORDER commit,
            # carried forward otherwise — still O(commit)
            info = next((a for a in actions if isinstance(a, CommitInfo)),
                        None)
            if info is not None and info.operation == "ZORDER":
                cols = (info.operationParameters or {}).get("columns", "")
                payload["clusteringColumns"] = cols.split(",") if cols else []
            elif prev is not None and prev.get(
                    "clusteringColumns") is not None:
                payload["clusteringColumns"] = prev["clusteringColumns"]
            else:
                # no prior sidecar, or one written before this field
                # existed — [] from it would mask real ZORDER history
                payload["clusteringColumns"] = \
                    self._find_clustering_columns(version)
            tmp = self._crc_path(version) + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps(payload))
            os.replace(tmp, self._crc_path(version))
        except Exception:
            pass  # advisory sidecar: never fail the committed write

    def _find_clustering_columns(self, at_version: int) -> list[str]:
        """Newest-first scan for the last ZORDER at or before a version —
        the fallback when no prior ``.crc`` carries the clustered set."""
        for v in reversed([x for x in self._list_versions()
                           if x <= at_version]):
            c = self.read_commit(v)
            if c.info is not None and c.info.operation == "ZORDER":
                cols = (c.info.operationParameters or {}).get("columns", "")
                return cols.split(",") if cols else []
        return []

    def read_crc(self, version: int) -> "dict | None":
        try:
            with open(self._crc_path(version)) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def verify_checksum(self, version: int | None = None) -> dict:
        """Compare the ``.crc`` sidecar against the replayed snapshot state
        (Delta's validateChecksum): returns the verified payload, raises
        ``ChecksumMismatchError`` on divergence — the canary for a
        corrupted or hand-edited log. No sidecar -> computes and returns
        the state without raising (checksums are advisory)."""
        snap = self.snapshot(version=version)
        actual = {
            "numFiles": len(snap.files),
            "tableSizeBytes": sum(f.size or 0 for f in snap.files),
        }
        crc = self.read_crc(snap.version)
        if crc is not None:
            for k, v in actual.items():
                if crc.get(k) != v:
                    raise ChecksumMismatchError(
                        f"version {snap.version} checksum mismatch on "
                        f"{k}: crc={crc.get(k)} actual={v} — the table "
                        f"state diverged from its recorded checksum")
        return actual

    def _commit_checked(self, snap: "Snapshot", build_actions,
                        *, read_paths: set[str],
                        removed_paths: set[str] = frozenset(),
                        tolerate_data_appends: bool = False,
                        read_predicate: dict | str | None = None,
                        retries: int = 10) -> int:
        """Commit with Delta's logical conflict rules (ConflictChecker
        taxonomy): try at ``snap.version + 1``; on losing the race, classify
        every interleaved winner —

        - metadata change → ``MetadataChangedError`` (not retryable as-is);
        - winner removed a file we also remove →
          ``ConcurrentDeleteDeleteError``;
        - winner removed a file we read → ``ConcurrentDeleteReadError``
          (covers DV re-adds: a deletion-vector commit removes + re-adds
          the same path, so our stale read of it conflicts);
        - winner appended data rows and the op's result depends on what it
          read (``tolerate_data_appends=False``) → ``ConcurrentAppendError``;
        - otherwise the interleaved commits are logically disjoint
          (e.g. appends racing an OPTIMIZE of pre-existing files) → REBASE:
        re-target the same staged actions at the next version, no re-run.

        ``read_predicate`` scopes the append rule the way Delta's
        ConflictChecker checks ``winningCommitAddedFiles`` against the
        transaction's recorded readPredicates: a winner-added file whose
        partitionValues + stats prove it cannot contain a matching row
        (sessionless ``keep_file`` = False) is logically disjoint and
        rebases instead of aborting. Files with missing/unparsable stats
        conservatively count as matches.

        ``build_actions(version, ts) -> list[Action]`` rebinds only the
        CommitInfo on rebase — staged files never move. The typed errors
        subclass ``ConcurrentCommitError`` so ``retry_on_conflict`` re-runs
        the whole operation against the fresh snapshot."""
        version = snap.version + 1
        last: Exception | None = None
        active_by_path = {a.path: a for a in snap.files}
        our_domains: set[str] = set()
        for _ in range(retries + 1):
            ts = self._next_commit_timestamp()
            acts = build_actions(version, ts)
            dm = self._assign_row_ids(
                acts, snap.metadata.configuration, active_by_path,
                snap.row_id_high_water_mark)
            if dm is not None:
                acts = [dm] + acts
            our_domains = {d.domain for d in acts
                           if isinstance(d, DomainMetadata)}
            try:
                self._write_commit(version, acts)
                return version
            except ConcurrentCommitError as exc:
                last = exc
                latest = self.latest_version()
                for v in range(version, latest + 1):
                    winner = self.read_commit(v)
                    if winner.metadata is not None:
                        raise MetadataChangedError(
                            f"table metadata changed concurrently at "
                            f"version {v}") from exc
                    won_domains = {d.domain for d in winner.domains}
                    if won_domains & our_domains:
                        raise ConcurrentDomainMetadataError(
                            f"version {v} concurrently wrote metadata "
                            f"domain(s) {sorted(won_domains & our_domains)}"
                            " (e.g. a racing row-id allocation)") from exc
                    won_removed = {r.path for r in winner.removes}
                    dd = won_removed & set(removed_paths)
                    if dd:
                        raise ConcurrentDeleteDeleteError(
                            f"version {v} concurrently removed "
                            f"{sorted(dd)[:3]}...") from exc
                    dr = won_removed & set(read_paths)
                    if dr:
                        raise ConcurrentDeleteReadError(
                            f"version {v} concurrently removed files this "
                            f"operation read: {sorted(dr)[:3]}...") from exc
                    if not tolerate_data_appends and any(
                            a.dataChange and _file_may_match(
                                a, read_predicate,
                                snap.physical_partition_columns)
                            for a in winner.adds):
                        raise ConcurrentAppendError(
                            f"version {v} concurrently appended data this "
                            f"operation's read may depend on") from exc
                version = latest + 1
        raise last

    def _assign_row_ids(self, acts: list[Action], config: dict[str, str],
                        active_by_path: dict[str, AddFile] | None = None,
                        hwm: int = -1) -> DomainMetadata | None:
        """Row-tracking allocation (Delta protocol "Row Tracking"): stamp
        ``baseRowId`` on every AddFile in ``acts`` that lacks one and
        return the advanced-high-water-mark ``delta.rowTracking``
        DomainMetadata action (or None when nothing allocates).

        A re-added path already active with a baseRowId keeps it — same
        physical file, same rows, same ids (the DV-attach commit shape).
        Idempotent: a rebase retry re-running this over already-stamped
        adds only re-derives the same mark, so staged ids never move.

        If the commit carries a Metadata action, ITS configuration governs
        (an enabling commit allocates for its own adds)."""
        meta_act = next((a for a in acts if isinstance(a, Metadata)), None)
        if meta_act is not None:
            config = meta_act.configuration
        if config.get(ROW_TRACKING_KEY, "").lower() != "true":
            return None
        active_by_path = active_by_path or {}
        new_hwm = hwm
        for a in acts:
            if not isinstance(a, AddFile):
                continue
            if a.baseRowId is None:
                prev = active_by_path.get(a.path)
                if prev is not None and prev.baseRowId is not None:
                    a.baseRowId = prev.baseRowId
                else:
                    n = a.num_records
                    if n is None:
                        raise ValueError(
                            "row tracking requires numRecords stats on "
                            f"every added file; {a.path} has none")
                    a.baseRowId = new_hwm + 1
                    new_hwm += int(n)
                    continue
            n = a.num_records or 0
            new_hwm = max(new_hwm, a.baseRowId + max(int(n) - 1, 0))
        if new_hwm <= hwm:
            return None
        return DomainMetadata(
            ROW_TRACKING_DOMAIN,
            json.dumps({"rowIdHighWaterMark": new_hwm}))

    def _stage_dataframe(
        self, df: DataFrame, partition_columns: list[str], target_dir: str,
        prefix: str = "", snap: "Snapshot | None" = None,
    ) -> list[tuple[str, dict[str, str], int, str]]:
        """Write ``df`` into ``target_dir`` via a staging dir; return
        ``(rel_path, partitionValues, size, stats_json)`` per new file.

        Spark writes globally-unique part file names, so moving staged files
        into the shared data dir is collision-free — the same
        write-then-commit pattern Delta uses for ACID appends.

        With column mapping on (``snap`` given), the logical-named ``df``
        is renamed to physical names before writing, and the Hive layout /
        partitionValues / collected stats all come out physical-keyed —
        the Delta invariant that makes rename/drop metadata-only.
        """
        mapping = snap.logical_to_physical if snap is not None else None
        if mapping:
            df = df.withColumnsRenamed(mapping)
            partition_columns = [mapping.get(c, c)
                                 for c in partition_columns]
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_columns:
            writer = writer.partitionBy(*partition_columns)
        writer.parquet(staging)

        out: list[tuple[str, dict[str, str], int, str]] = []
        base_rel = os.path.relpath(target_dir, self.path)
        for root, _dirs, files in os.walk(staging):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(root, fn)
                rel_under = os.path.relpath(src, staging)
                part_values: dict[str, str] = {}
                for comp in rel_under.split(os.sep)[:-1]:
                    if "=" in comp:
                        k, v = comp.split("=", 1)
                        # Spark Hive-escapes special chars in dir names
                        # (':' -> %3A etc.); partitionValues record the
                        # LOGICAL value like Delta does, so unescape —
                        # otherwise timestamp/special-char partitions are
                        # unreadable and pruning compares escaped strings
                        part_values[k] = (
                            "" if v == "__HIVE_DEFAULT_PARTITION__"
                            else urllib.parse.unquote(v)
                        )
                dest_name = prefix + fn if prefix else fn
                dest_rel_under = os.path.join(
                    os.path.dirname(rel_under), dest_name
                )
                dest = os.path.join(target_dir, dest_rel_under)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.move(src, dest)
                _n, stats_json = collect_file_stats(dest)
                size = os.path.getsize(dest)
                out.append(
                    (os.path.join(base_rel, dest_rel_under), part_values, size,
                     stats_json)
                )
        shutil.rmtree(staging, ignore_errors=True)
        return sorted(out)

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        name: str | None = None,
        description: str | None = None,
        configuration: dict[str, str] | None = None,
        operation_parameters: dict[str, str] | None = None,
        generated_columns: dict[str, str] | None = None,
        cluster_by: list[str] | None = None,
        identity_columns: "dict[str, dict] | None" = None,
        column_defaults: "dict[str, str] | None" = None,
    ) -> int:
        """``identity_columns`` declares Delta IDENTITY columns:
        ``{"id": {"start": 1, "step": 1, "always": True}}`` — GENERATED
        ALWAYS (writes must omit the column; the engine allocates) or,
        with ``"always": False``, GENERATED BY DEFAULT (explicit values
        allowed; the high-water mark absorbs them). Allocation applies to
        CREATE and append(); the mark rides the schema field metadata
        (delta.identity.*) and every allocating commit updates it, so
        concurrent allocators conflict instead of colliding.

        ``column_defaults`` declares Delta column DEFAULTs
        (allowColumnDefaults): ``{"col": "sql expr"}`` stored as the
        CURRENT_DEFAULT field-metadata key — later writes that omit the
        column get the expression (cast to the declared type); a supplied
        value always wins."""
        if self.exists():
            raise ValueError(f"table already exists at {self.path}")
        partition_by = partition_by or []
        for c in (column_defaults or {}):
            if c not in df.columns:
                raise ValueError(
                    f"column_defaults names unknown column {c!r} "
                    "(declare the column in the CREATE data)")
        id_hwm: dict[str, int] = {}
        if identity_columns:
            id_meta: dict[str, dict] = {}
            for cname, spec in identity_columns.items():
                if cname in df.columns and spec.get("always", True):
                    raise ValueError(
                        f"Providing values for GENERATED ALWAYS AS "
                        f"IDENTITY column {cname!r} is not supported "
                        "(CREATE TABLE)")
                md = {self.IDENTITY_START_KEY: int(spec.get("start", 1)),
                      self.IDENTITY_STEP_KEY: int(spec.get("step", 1))}
                if not spec.get("always", True):
                    md[self.IDENTITY_ALLOW_EXPLICIT_KEY] = True
                id_meta[cname] = md
            synth = T.StructType([
                T.StructField(c, T.LongType(), True, md)
                for c, md in id_meta.items()])
            df, id_hwm = self._identity_write_prep(df, synth,
                                                   "CREATE TABLE")
        if cluster_by:
            # liquid-clustering-style declaration (Delta's CREATE TABLE ...
            # CLUSTER BY): recorded in table config; optimize() maintains it
            self._check_cluster_by(cluster_by, partition_by,
                                   {f.name for f in df.schema.fields})
            configuration = dict(configuration or {})
            configuration[self.CLUSTERING_KEY] = ",".join(cluster_by)
        gen_checks: dict[str, str] = {}
        if generated_columns:
            # materialize/validate now, then pin the expressions into the
            # schema field metadata (delta.generationExpression) so every
            # later write re-derives them; partition_by may name one —
            # the standard "partition by date(ts)" pruning setup
            synth = T.StructType([
                T.StructField(n, T.NullType(), True,
                              {self.GENERATION_EXPR_KEY: e})
                for n, e in generated_columns.items()
            ])
            df, gen_checks = self._generated_write_prep(df, synth)
        schema_fields = []
        for f in df.schema.fields:
            if generated_columns and f.name in generated_columns:
                md = dict(f.metadata or {})
                md[self.GENERATION_EXPR_KEY] = generated_columns[f.name]
                schema_fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, md))
            elif column_defaults and f.name in column_defaults:
                md = dict(f.metadata or {})
                md[self.COLUMN_DEFAULT_KEY] = column_defaults[f.name]
                schema_fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, md))
            elif identity_columns and f.name in identity_columns:
                spec = identity_columns[f.name]
                md = dict(f.metadata or {})
                md[self.IDENTITY_START_KEY] = int(spec.get("start", 1))
                md[self.IDENTITY_STEP_KEY] = int(spec.get("step", 1))
                if not spec.get("always", True):
                    md[self.IDENTITY_ALLOW_EXPLICIT_KEY] = True
                schema_fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, md))
            else:
                schema_fields.append(f)
        if id_hwm:
            schema_fields = list(self._schema_with_hwm(
                T.StructType(schema_fields), id_hwm).fields)
        ts = self._next_commit_timestamp()
        configuration = dict(configuration or {})
        if configuration.get(ROW_TRACKING_KEY, "").lower() == "true":
            configuration.setdefault(MAT_ROW_ID_KEY, MAT_ROW_ID_DEFAULT)
            configuration.setdefault(MAT_ROW_VER_KEY, MAT_ROW_VER_DEFAULT)
        metadata = Metadata(
            id=uuid.uuid4().hex,
            name=name,
            description=description,
            schemaString=T.StructType(schema_fields).json(),
            partitionColumns=partition_by,
            configuration=configuration,
            createdTime=ts,
        )
        staged = self._stage_dataframe(df, partition_by, self.data_path)
        self._validate_staged(staged, {**(configuration or {}),
                                       **gen_checks}, "CREATE TABLE",
                              schema=T.StructType(schema_fields))
        actions: list[Action] = [Protocol(), metadata]
        actions += [
            AddFile(path=p, partitionValues=pv, size=sz, stats=st)
            for p, pv, sz, st in staged
        ]
        dm = self._assign_row_ids(actions, metadata.configuration)
        if dm is not None:
            actions.append(dm)
        actions.append(
            CommitInfo(version=0, timestamp=ts, operation="CREATE TABLE",
                       operationMetrics={"numFiles": str(len(staged))},
                       operationParameters=operation_parameters or {})
        )
        self._write_commit(0, actions)
        return 0

    def append(self, df: DataFrame, max_files: int | None = None,
               operation_parameters: dict[str, str] | None = None,
               retries: int = 10) -> int:
        """Blind append with optimistic in-place retry: the staged files are
        snapshot-independent, so a commit lost to a concurrent writer simply
        re-targets the next version — UNLESS an interleaved commit changed
        the table metadata (schema/partitioning/config), which raises
        ``MetadataChangedError`` (the staged layout may no longer conform;
        Delta's MetadataChangedException rule)."""
        snap = self.snapshot()
        data = df
        if max_files:
            data = df.repartition(max_files)
        data = self._defaults_write_prep(data, snap.schema)
        data, gen_checks = self._generated_write_prep(data, snap.schema)
        data, id_hwm = self._identity_write_prep(data, snap.schema, "WRITE")
        staged = self._stage_dataframe(data, snap.partition_columns,
                                       self.data_path, snap=snap)
        self._validate_staged(
            staged, {**snap.metadata.configuration, **gen_checks}, "WRITE",
            snap=snap)
        adds: list[Action] = [
            AddFile(path=p, partitionValues=pv, size=sz, stats=st)
            for p, pv, sz, st in staged
        ]
        head: list[Action] = []
        if id_hwm:
            # identity allocation: the advanced high-water mark commits
            # atomically with the rows, and the metadata action makes
            # concurrent allocators abort (MetadataChangedError) instead
            # of reusing the range — the append is no longer blind
            head = [self._hwm_metadata_action(snap, id_hwm)]
        # blind append: reads nothing, so it rebases over ANY interleaved
        # data commit; only a concurrent metadata change aborts
        return self._commit_checked(
            snap,
            lambda v, ts: head + adds + [CommitInfo(
                version=v, timestamp=ts, operation="WRITE",
                operationMetrics={"numFiles": str(len(staged))},
                operationParameters=operation_parameters or {})],
            read_paths=set(),
            tolerate_data_appends=True,
            retries=retries,
        )

    def update_metadata(self, schema: T.StructType | None = None,
                        configuration: dict[str, str] | None = None) -> int:
        """Commit a metadata-only change (schema evolution / config change) —
        streaming reads gate on read-compatibility of these
        (client/.../spark/util/SchemaUtils.scala:37-90)."""
        snap = self.snapshot()
        meta = snap.metadata
        new_meta = Metadata(
            id=meta.id,
            name=meta.name,
            description=meta.description,
            format=meta.format,
            schemaString=schema.json() if schema is not None else meta.schemaString,
            partitionColumns=meta.partitionColumns,
            configuration=configuration if configuration is not None
            else meta.configuration,
            createdTime=meta.createdTime,
        )
        # reads only the metadata: rebase over interleaved data commits,
        # abort only if another writer changed metadata concurrently
        return self._commit_checked(
            snap,
            lambda v, ts: [new_meta, CommitInfo(
                version=v, timestamp=ts, operation="SET METADATA")],
            read_paths=set(),
            tolerate_data_appends=True,
        )

    # ------------------------------------------------- column mapping DDL

    def enable_row_tracking(self) -> int:
        """ALTER TABLE SET TBLPROPERTIES delta.enableRowTracking=true with
        BACKFILL in the same commit: stamps the materialized-column names
        into the config and re-adds every active file (dataChange=false)
        so ``_assign_row_ids`` allocates each a baseRowId atomically with
        the enabling metadata — Delta's row-tracking backfill, collapsed
        to one commit (the log is local, no multi-commit staging needed).
        ``defaultRowCommitVersion`` carries each file's original commit
        version, so pre-enablement rows keep their true provenance."""
        snap = self.snapshot()
        if snap.row_tracking_enabled:
            return snap.version
        config = dict(snap.metadata.configuration)
        config[ROW_TRACKING_KEY] = "true"
        config.setdefault(MAT_ROW_ID_KEY, MAT_ROW_ID_DEFAULT)
        config.setdefault(MAT_ROW_VER_KEY, MAT_ROW_VER_DEFAULT)
        meta = snap.metadata
        new_meta = Metadata(
            id=meta.id, name=meta.name, description=meta.description,
            format=meta.format, schemaString=meta.schemaString,
            partitionColumns=meta.partitionColumns, configuration=config,
            createdTime=meta.createdTime)
        readds = [
            AddFile(path=a.path, partitionValues=a.partitionValues,
                    size=a.size, stats=a.stats, dataChange=False,
                    deletionVector=a.deletionVector,
                    # pre-enablement provenance carries over: each file's
                    # original commit version (replay stamps a.version
                    # even before the feature is on)
                    defaultRowCommitVersion=(
                        a.defaultRowCommitVersion
                        if a.defaultRowCommitVersion is not None
                        else a.version))
            for a in snap.files
        ]
        return self._commit_checked(
            snap,
            lambda v, ts: [new_meta] + readds + [CommitInfo(
                version=v, timestamp=ts, operation="SET TBLPROPERTIES",
                operationParameters={ROW_TRACKING_KEY: "true"},
                operationMetrics={"numBackfilledFiles": str(len(readds))})],
            read_paths={a.path for a in snap.files},
            tolerate_data_appends=True,
        )

    def enable_column_mapping(self) -> int:
        """Upgrade the table to column mapping "name" mode (Delta's
        ``delta.columnMapping.mode = name``): every field is stamped with
        an immutable physical name equal to its CURRENT name (so every
        existing data file stays valid) plus a stable column id. After
        this, rename/drop are metadata-only commits and the parquet files
        never change."""
        snap = self.snapshot()
        if snap.column_mapping:
            return snap.version  # already on
        fields = []
        for i, f in enumerate(snap.schema.fields, start=1):
            md = dict(f.metadata or {})
            md.setdefault(CM_PHYSICAL_KEY, f.name)
            md.setdefault(CM_ID_KEY, i)
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        config = dict(snap.metadata.configuration)
        config[CM_MODE_KEY] = "name"
        config[CM_MAX_ID_KEY] = str(len(fields))
        # commit against the SAME snapshot the schema/config were built
        # from — routing through update_metadata would re-snapshot and
        # silently overwrite a metadata commit that landed in between
        return self._metadata_commit(snap, T.StructType(fields).json(),
                                     snap.metadata.partitionColumns,
                                     config, "ENABLE COLUMN MAPPING", {})

    def _metadata_commit(self, snap: Snapshot, schema_string: str,
                         partition_columns: list[str],
                         configuration: dict[str, str], operation: str,
                         operation_parameters: dict[str, str]) -> int:
        """One metadata-only commit built against the GIVEN snapshot — the
        shared tail of enable_column_mapping/rename_column/drop_column
        (one Metadata construction, one conflict-checked commit)."""
        meta = snap.metadata
        new_meta = Metadata(
            id=meta.id, name=meta.name, description=meta.description,
            format=meta.format,
            schemaString=schema_string,
            partitionColumns=partition_columns,
            configuration=configuration,
            createdTime=meta.createdTime,
        )
        return self._commit_checked(
            snap,
            lambda v, ts: [new_meta, CommitInfo(
                version=v, timestamp=ts, operation=operation,
                operationParameters=operation_parameters)],
            read_paths=set(),
            tolerate_data_appends=True,
        )

    # CDF virtual columns + scan-internal names a column may never take
    _RESERVED_COLUMN_NAMES = frozenset(
        {"_change_type", "_commit_version", "_commit_timestamp"})

    def _check_column_unreferenced(self, snap: Snapshot, name: str,
                                   operation: str) -> None:
        """A column referenced by a CHECK constraint or a generation
        expression cannot be renamed/dropped out from under it (Delta
        raises the same way). Spark resolves identifiers
        case-insensitively, and special-char names appear backquoted, so
        the match covers both forms."""
        refs = dict(self._constraints(snap.metadata.configuration))
        refs.update({f"generation of {n}": e for n, e in
                     self._generated_columns(snap.schema).items()})
        import re as _re

        esc = _re.escape(name)
        pat = _re.compile(rf"`{esc}`|\b{esc}\b", _re.IGNORECASE)
        for ref, expr in refs.items():
            # identifiers can't live inside string literals: a constraint
            # status != 'active' must not block dropping a column named
            # 'active' ('' doubling inside literals splits into adjacent
            # literals, which this removes too)
            expr = _re.sub(r"'[^']*'", "''", expr)
            if pat.search(expr):
                raise ValueError(
                    f"cannot {operation} column {name!r}: referenced by "
                    f"{ref} ({expr})")

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only under column mapping
        (the physical name in the files never changes). Requires
        ``enable_column_mapping()`` first, exactly like Delta."""
        snap = self.snapshot()
        if not snap.column_mapping:
            raise ValueError(
                "RENAME COLUMN requires column mapping; call "
                "enable_column_mapping() first")
        names = [f.name for f in snap.schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        lower_new = new.lower()
        # the renamed column itself is excluded: a case-only rename
        # (old='Val' -> new='val') is legal in Delta
        if any(lower_new == n.lower() for n in names if n != old):
            raise ValueError(f"column already exists: {new!r}")
        if lower_new in self._RESERVED_COLUMN_NAMES \
                or lower_new.startswith("__"):
            raise ValueError(f"reserved column name: {new!r}")
        # the new LOGICAL name must not collide with any OTHER column's
        # PHYSICAL name: the read path renames physical->logical and a
        # collision there yields duplicate columns (unreadable table)
        phys = {(f.metadata or {}).get(CM_PHYSICAL_KEY, f.name).lower()
                for f in snap.schema.fields if f.name != old}
        if lower_new in phys:
            raise ValueError(
                f"column name {new!r} collides with another column's "
                "physical name")
        self._check_column_unreferenced(snap, old, "RENAME")
        fields = [
            T.StructField(new if f.name == old else f.name,
                          f.dataType, f.nullable, f.metadata)
            for f in snap.schema.fields
        ]
        parts = [new if c == old else c
                 for c in snap.metadata.partitionColumns]
        return self._metadata_commit(
            snap, T.StructType(fields).json(), parts,
            snap.metadata.configuration, "RENAME COLUMN",
            {"from": old, "to": new})

    def add_column(self, name: str, dtype: T.DataType | str,
                   nullable: bool = True,
                   comment: str | None = None) -> int:
        """ALTER TABLE ADD COLUMN — metadata-only on any table (existing
        files simply lack the column and read as nulls, Delta's additive
        schema evolution). Under column mapping the new field is stamped
        with a fresh physical name and column id and ``maxColumnId``
        bumps, exactly like Delta's mapping-aware ADD COLUMN. New columns
        must be nullable (existing rows have no value for them)."""
        if not nullable:
            raise ValueError(
                "new columns must be nullable: existing rows have no "
                "value for them (Delta's ADD COLUMN rule)")
        if isinstance(dtype, str):
            from pyspark.sql.types import _parse_datatype_string

            dtype = _parse_datatype_string(dtype)
        snap = self.snapshot()
        names = [f.name for f in snap.schema.fields]
        if any(name.lower() == n.lower() for n in names):
            raise ValueError(f"column already exists: {name!r}")
        if name.lower() in self._RESERVED_COLUMN_NAMES \
                or name.lower().startswith("__"):
            raise ValueError(f"reserved column name: {name!r}")
        # the new LOGICAL name must not collide with any existing column's
        # PHYSICAL name (same guard as rename_column): the write path's
        # logical->physical rename map would otherwise produce duplicate
        # physical columns and every subsequent write fails
        phys = {(f.metadata or {}).get(CM_PHYSICAL_KEY, f.name).lower()
                for f in snap.schema.fields}
        if name.lower() in phys:
            raise ValueError(
                f"column name {name!r} collides with another column's "
                "physical name")
        md: dict = {}
        if comment is not None:
            md["comment"] = comment
        config = dict(snap.metadata.configuration)
        if snap.column_mapping:
            next_id = int(config.get(CM_MAX_ID_KEY, "0")) + 1
            # a FRESH physical name: the logical name may later be
            # renamed/reused, the bytes key never changes
            md[CM_PHYSICAL_KEY] = f"col-{uuid.uuid4().hex[:12]}"
            md[CM_ID_KEY] = next_id
            config[CM_MAX_ID_KEY] = str(next_id)
        fields = list(snap.schema.fields) + [
            T.StructField(name, dtype, True, md or None)]
        return self._metadata_commit(
            snap, T.StructType(fields).json(),
            snap.metadata.partitionColumns, config, "ADD COLUMNS",
            {"column": name, "type": dtype.simpleString()})

    def widen_column_type(self, name: str,
                          new_type: T.DataType | str) -> int:
        """ALTER TABLE ALTER COLUMN TYPE — Delta's type widening
        (``delta.enableTypeWidening``): a metadata-only commit moving a
        column to a strictly wider type from the lossless lattice
        (byte→short→integer→long, float→double, date→timestampNtz,
        decimal growth with a non-shrinking integer part). Old files
        stay valid — Spark 4's parquet reader upcasts their narrow
        values natively when scanned under the new schema (verified for
        nested struct/array/map positions too), so no data is ever
        rewritten.

        ``name`` may be a dotted path into a nested type: struct members
        by name (``s.x``, ``n.inner.y``), array elements as ``a.element``,
        map sides as ``m.key`` / ``m.value``, and compositions
        (``a.element.x``). Per Delta's protocol ("Type Widening"), the
        change is recorded in the ``delta.typeChanges`` metadata of the
        NEAREST ancestor StructField — on the changed struct member
        itself, or on the enclosing field with a ``fieldPath`` of
        element/key/value steps when the change sits inside an
        array/map (ref PROTOCOL.md Type Widening examples)."""
        if isinstance(new_type, str):
            from pyspark.sql.types import _parse_datatype_string

            new_type = _parse_datatype_string(new_type)
        snap = self.snapshot()
        cfg = snap.metadata.configuration
        if cfg.get("delta.enableTypeWidening",
                   cfg.get("enableTypeWidening", "")).lower() != "true":
            raise ValueError(
                "type widening requires delta.enableTypeWidening=true "
                "on the table (set it via update_metadata/create)")
        # a top-level column whose NAME contains a literal dot (legal
        # under column mapping) matches exactly before dotted-path
        # interpretation — widening it must not regress
        if any(f.name == name for f in snap.schema.fields):
            segments = [name]
        else:
            segments = name.split(".")
        top = next((f for f in snap.schema.fields
                    if f.name == segments[0]), None)
        if top is None:
            raise ValueError(f"no such column: {segments[0]!r}")
        new_top, change = self._widen_field(top, segments[1:], new_type,
                                            name)
        if change is None:
            return snap.version  # no-op, nothing to record
        # a CHECK constraint or generation expression evaluated over the
        # widened type could change meaning — same guard as rename/drop
        self._check_column_unreferenced(snap, segments[0],
                                        "widen the type of")
        fields = [new_top if f.name == segments[0] else f
                  for f in snap.schema.fields]
        return self._metadata_commit(
            snap, T.StructType(fields).json(),
            snap.metadata.partitionColumns, cfg, "CHANGE COLUMN",
            {"column": name, "from": change[0], "to": change[1]})

    @classmethod
    def _widen_field(cls, field: T.StructField, path: list[str],
                     new_type: T.DataType, full_name: str
                     ) -> tuple[T.StructField, tuple[str, str] | None]:
        """Widen ``path`` (segments below ``field``) to ``new_type``.
        Returns the rebuilt field and ``(fromType, toType)`` simple
        strings, or ``(field, None)`` when the target already has the
        requested type. Stamps ``delta.typeChanges`` on this field when
        it is the nearest StructField ancestor of the change."""
        from delta_sharing_spark.streaming.schema import _widenable

        if not path:
            if field.dataType == new_type:
                return field, None
            if not _widenable(field.dataType, new_type):
                raise ValueError(
                    f"unsupported type change for column {full_name!r}: "
                    f"{field.dataType.simpleString()} -> "
                    f"{new_type.simpleString()} is not a lossless "
                    "widening")
            change = (field.dataType.simpleString(),
                      new_type.simpleString())
            md = cls._stamp_type_change(field.metadata, change, None)
            return T.StructField(field.name, new_type, field.nullable,
                                 md), change
        new_dt, change, anchored = cls._widen_dtype(
            field.dataType, path, new_type, full_name)
        if change is None:
            return field, None
        md = field.metadata
        if not anchored:
            # change sits inside array/map levels with no struct member
            # in between -> this field is the nearest StructField; record
            # the element/key/value walk as fieldPath
            md = cls._stamp_type_change(md, change, ".".join(path))
        return T.StructField(field.name, new_dt, field.nullable, md), change

    @classmethod
    def _widen_dtype(cls, dtype: T.DataType, path: list[str],
                     new_type: T.DataType, full_name: str
                     ) -> tuple[T.DataType, tuple[str, str] | None, bool]:
        """Rebuild ``dtype`` with ``path`` widened. Third element is True
        when a StructField at-or-below this level already recorded the
        change (so enclosing fields must NOT stamp a fieldPath)."""
        from delta_sharing_spark.streaming.schema import _widenable

        seg = path[0]
        if isinstance(dtype, T.StructType):
            inner = next((f for f in dtype.fields if f.name == seg), None)
            if inner is None:
                raise ValueError(
                    f"no such nested field {seg!r} in column path "
                    f"{full_name!r} (struct has: "
                    f"{[f.name for f in dtype.fields]})")
            new_inner, change = cls._widen_field(inner, path[1:],
                                                 new_type, full_name)
            fields = [new_inner if f.name == seg else f
                      for f in dtype.fields]
            return T.StructType(fields), change, True
        if isinstance(dtype, T.ArrayType):
            if seg != "element":
                raise ValueError(
                    f"path step {seg!r} in {full_name!r} descends into an "
                    "array; use 'element'")
            if len(path) == 1:
                if dtype.elementType == new_type:
                    return dtype, None, False
                if not _widenable(dtype.elementType, new_type):
                    raise ValueError(
                        f"unsupported type change for {full_name!r}: "
                        f"{dtype.elementType.simpleString()} -> "
                        f"{new_type.simpleString()} is not a lossless "
                        "widening")
                change = (dtype.elementType.simpleString(),
                          new_type.simpleString())
                return T.ArrayType(new_type, dtype.containsNull), \
                    change, False
            new_el, change, anchored = cls._widen_dtype(
                dtype.elementType, path[1:], new_type, full_name)
            return T.ArrayType(new_el, dtype.containsNull), change, anchored
        if isinstance(dtype, T.MapType):
            if seg not in ("key", "value"):
                raise ValueError(
                    f"path step {seg!r} in {full_name!r} descends into a "
                    "map; use 'key' or 'value'")
            side = dtype.keyType if seg == "key" else dtype.valueType
            if len(path) == 1:
                if side == new_type:
                    return dtype, None, False
                if not _widenable(side, new_type):
                    raise ValueError(
                        f"unsupported type change for {full_name!r}: "
                        f"{side.simpleString()} -> "
                        f"{new_type.simpleString()} is not a lossless "
                        "widening")
                change = (side.simpleString(), new_type.simpleString())
                new_side, anchored = new_type, False
            else:
                new_side, change, anchored = cls._widen_dtype(
                    side, path[1:], new_type, full_name)
            if seg == "key":
                return T.MapType(new_side, dtype.valueType,
                                 dtype.valueContainsNull), change, anchored
            return T.MapType(dtype.keyType, new_side,
                             dtype.valueContainsNull), change, anchored
        raise ValueError(
            f"column path {full_name!r} descends into a non-nested type "
            f"({dtype.simpleString()}) at step {seg!r}")

    @staticmethod
    def _stamp_type_change(metadata: dict | None,
                           change: tuple[str, str],
                           field_path: str | None) -> dict:
        md = dict(metadata or {})
        changes = list(md.get("delta.typeChanges", []))
        entry = {"fromType": change[0], "toType": change[1]}
        if field_path is not None:
            entry["fieldPath"] = field_path
        changes.append(entry)
        md["delta.typeChanges"] = changes
        return md

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only under column mapping:
        the data stays in the files and is simply no longer read (Delta's
        drop semantics; a later VACUUM-style rewrite could physically
        purge it)."""
        snap = self.snapshot()
        if not snap.column_mapping:
            raise ValueError(
                "DROP COLUMN requires column mapping; call "
                "enable_column_mapping() first")
        names = [f.name for f in snap.schema.fields]
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        if name in snap.partition_columns:
            raise ValueError(f"cannot drop partition column {name!r}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        self._check_column_unreferenced(snap, name, "DROP")
        fields = [f for f in snap.schema.fields if f.name != name]
        return self._metadata_commit(
            snap, T.StructType(fields).json(),
            snap.metadata.partitionColumns,
            snap.metadata.configuration, "DROP COLUMN", {"column": name})

    # ------------------------------------------------- CHECK constraints

    @staticmethod
    def _constraints(configuration: dict[str, str] | None) -> dict[str, str]:
        """CHECK constraints from table config: ``delta.constraints.<name>``
        → SQL boolean expression (Delta's ALTER TABLE ADD CONSTRAINT
        storage convention)."""
        pfx = "delta.constraints."
        return {k[len(pfx):]: v for k, v in (configuration or {}).items()
                if k.startswith(pfx)}

    def _validate_constraints(self, df: DataFrame,
                              configuration: dict[str, str] | None,
                              operation: str) -> None:
        """Raise ``CheckConstraintViolation`` if any row of ``df`` fails a
        constraint. SQL CHECK semantics: a row passes on TRUE **or NULL**
        (unknown), fails only on FALSE — so ``x > 0`` admits null x.

        One job for ALL constraints (an array of per-constraint violation
        flags, compacted), stopping at the first violating row — the cost
        is one extra pass over the rows being written, never over the
        table."""
        cons = self._constraints(configuration)
        if not cons:
            return
        flags = [
            F.when(~F.coalesce(F.expr(e).cast("boolean"), F.lit(True)),
                   F.lit(n))
            for n, e in sorted(cons.items())
        ]
        bad = (
            df.select(F.array_compact(F.array(*flags)).alias("__violated"))
            .filter(F.size("__violated") > 0)
            .limit(1)
            .collect()
        )
        if bad:
            name = bad[0]["__violated"][0]
            raise CheckConstraintViolation(
                f"{operation} violates CHECK constraint {name!r} "
                f"({cons[name]})")

    # ------------------------------------------------- generated columns

    GENERATION_EXPR_KEY = "delta.generationExpression"

    # --------------------------------------------------- column defaults

    # Delta's column DEFAULT values (table feature allowColumnDefaults):
    # field metadata key CURRENT_DEFAULT holds a SQL expression used when
    # a write omits the column (INSERT semantics; unlike generated
    # columns, a supplied value always wins and is never validated
    # against the default).
    COLUMN_DEFAULT_KEY = "CURRENT_DEFAULT"

    @classmethod
    def _column_defaults(cls, schema: T.StructType) -> dict[str, str]:
        out: dict[str, str] = {}
        for f in schema.fields:
            md = f.metadata or {}
            if cls.COLUMN_DEFAULT_KEY in md:
                out[f.name] = md[cls.COLUMN_DEFAULT_KEY]
        return out

    def _defaults_write_prep(self, df: DataFrame,
                             schema: T.StructType) -> DataFrame:
        """Fill omitted defaulted columns with their DEFAULT expression
        (cast to the declared type) — pure projection, no extra pass."""
        defaults = self._column_defaults(schema)
        types = {f.name: f.dataType for f in schema.fields}
        for c, expr in defaults.items():
            if c not in df.columns:
                df = df.withColumn(
                    c, F.expr(expr).cast(types[c]))
        return df

    # -------------------------------------------------- identity columns
    #
    # Delta's IDENTITY columns (GENERATED ALWAYS / BY DEFAULT AS
    # IDENTITY): storage convention is field metadata keys
    # delta.identity.{start, step, highWaterMark, allowExplicitInsert}.
    # The engine allocates values strictly past the high-water mark in
    # ``step`` increments (unique and monotonic per batch — Delta
    # guarantees uniqueness/monotonicity, NOT contiguity) and persists the
    # new mark in the SAME commit's metadata, so concurrent allocating
    # writers hit the metadata-change conflict rule instead of reusing a
    # range.

    IDENTITY_START_KEY = "delta.identity.start"
    IDENTITY_STEP_KEY = "delta.identity.step"
    IDENTITY_HWM_KEY = "delta.identity.highWaterMark"
    IDENTITY_ALLOW_EXPLICIT_KEY = "delta.identity.allowExplicitInsert"

    @classmethod
    def _identity_columns(cls, schema: T.StructType) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for f in schema.fields:
            md = f.metadata or {}
            if cls.IDENTITY_START_KEY in md:
                out[f.name] = {
                    "start": int(md[cls.IDENTITY_START_KEY]),
                    "step": int(md[cls.IDENTITY_STEP_KEY]),
                    "hwm": md.get(cls.IDENTITY_HWM_KEY),
                    "allow_explicit": bool(
                        md.get(cls.IDENTITY_ALLOW_EXPLICIT_KEY, False)),
                }
        return out

    def _identity_write_prep(
            self, df: DataFrame, schema: T.StructType,
            operation: str) -> "tuple[DataFrame, dict[str, int]]":
        """Assign identity values for a write batch. Returns the DataFrame
        with every identity column populated plus the {column: new high
        water mark} updates to fold into this commit's metadata.

        Allocation shape (100 TB): the batch is materialized once
        (localCheckpoint — the identity values must come from the rows
        actually written, and Delta likewise computes them inside the
        write job), then values are ``hwm + step * rank`` with rank from
        the house two-phase pattern — ``_pid`` MATERIALIZED as a column
        BELOW the window (an inline ``spark_partition_id()`` above it
        would re-evaluate post-shuffle and collapse every offset to one
        partition's — the duplicate-id bug), per-partition counts
        (P scalars) broadcast as offsets + a row_number window PARTITIONED
        by ``_pid``. No global sort, no single-task window."""
        idents = self._identity_columns(schema)
        if not idents:
            return df, {}
        new_hwm: dict[str, int] = {}
        missing = [c for c in idents if c not in df.columns]
        explicit = [c for c in idents
                    if c in df.columns and idents[c]["allow_explicit"]]
        for c in idents:
            if c in df.columns and not idents[c]["allow_explicit"]:
                raise ValueError(
                    f"Providing values for GENERATED ALWAYS AS IDENTITY "
                    f"column {c!r} is not supported ({operation})")
        if missing or explicit:
            # pin the rows once: allocation AND mark absorption must see
            # the exact rows that stage (a nondeterministic source would
            # otherwise absorb one execution and write another)
            df = df.localCheckpoint(eager=True)
        if missing:
            df = df.withColumn("__pid", F.spark_partition_id())
            pid_counts = {
                r["__pid"]: r["n"] for r in df.groupBy("__pid")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
            offsets, acc = {}, 0
            for pid in sorted(pid_counts):
                offsets[pid] = acc
                acc += pid_counts[pid]
            if offsets:
                off_map = F.create_map(
                    *[F.lit(x) for kv in offsets.items() for x in kv])
                base_off = F.coalesce(off_map[F.col("__pid")], F.lit(0))
            else:  # empty batch: no offsets to look up
                base_off = F.lit(0)
            from pyspark.sql import Window as _W

            w = _W.partitionBy("__pid").orderBy(
                F.monotonically_increasing_id())
            rank = base_off + F.row_number().over(w)
            for c in missing:
                info = idents[c]
                step = info["step"]
                base = (int(info["hwm"]) if info["hwm"] is not None
                        else info["start"] - step)
                df = df.withColumn(
                    c, (F.lit(base) + F.lit(step) * rank).cast("long"))
                if acc:  # an empty batch advances nothing — a no-op
                    # Metadata action would abort concurrent writers
                    new_hwm[c] = base + step * acc
            df = df.drop("__pid")
        for c in explicit:
            # BY DEFAULT with explicit values: the mark absorbs them
            mx = df.agg(F.max(c)).collect()[0][0]
            if mx is not None:
                cur = (int(idents[c]["hwm"])
                       if idents[c]["hwm"] is not None
                       else idents[c]["start"] - idents[c]["step"])
                if int(mx) > cur:
                    new_hwm[c] = int(mx)
        return df, new_hwm

    def _hwm_metadata_action(self, snap: "Snapshot",
                             id_hwm: dict[str, int]) -> Metadata:
        """The advanced-mark Metadata action an allocating commit carries
        (atomic with its rows; makes concurrent allocators conflict)."""
        meta = snap.metadata
        return Metadata(
            id=meta.id, name=meta.name, description=meta.description,
            format=meta.format,
            schemaString=self._schema_with_hwm(snap.schema, id_hwm).json(),
            partitionColumns=meta.partitionColumns,
            configuration=meta.configuration,
            createdTime=meta.createdTime,
        )

    @classmethod
    def _schema_with_hwm(cls, schema: T.StructType,
                         new_hwm: dict[str, int]) -> T.StructType:
        fields = []
        for f in schema.fields:
            if f.name in new_hwm:
                md = dict(f.metadata or {})
                md[cls.IDENTITY_HWM_KEY] = new_hwm[f.name]
                fields.append(T.StructField(f.name, f.dataType,
                                            f.nullable, md))
            else:
                fields.append(f)
        return T.StructType(fields)

    @classmethod
    def _generated_columns(cls, schema: T.StructType) -> dict[str, str]:
        """Generated columns from the schema's field metadata (Delta's
        ``delta.generationExpression`` storage convention)."""
        out: dict[str, str] = {}
        for f in schema.fields:
            md = f.metadata or {}
            if cls.GENERATION_EXPR_KEY in md:
                out[f.name] = md[cls.GENERATION_EXPR_KEY]
        return out

    def _validate_staged(self, staged, configuration, operation,
                         snap: "Snapshot | None" = None,
                         base_dir: str | None = None,
                         schema: "T.StructType | None" = None) -> None:
        """Validate CHECK constraints against the STAGED parquet bytes
        rather than by re-executing the input plan: a non-deterministic
        source (rand(), current_timestamp, a concurrently-changing external
        read) could pass a pre-write validation yet stage different,
        violating rows. Reading back what was actually written is the
        engine's equivalent of Delta enforcing invariants during the write
        itself (Delta's Invariants/CheckDeltaInvariant run inside the
        write job). On violation the staged (uncommitted) files are
        deleted and the violation re-raised — the commit never happens."""
        cons = self._constraints(configuration)
        logical_fields = (snap.schema.fields if snap is not None
                          else (schema.fields if schema is not None
                                else []))
        non_nullable = [f.name for f in logical_fields if not f.nullable]
        if (not cons and not non_nullable) or not staged:
            return
        paths = [os.path.join(self.path, rel)
                 for rel, _pv, _sz, _st in staged]
        try:
            # NOT NULL footer-stats fast path FIRST (before any parquet
            # read-back): the staged files' own nullCount stats decide
            # most columns with ZERO extra jobs (O(files) driver work);
            # only columns some file lacks stats for fall through to the
            # scan job below
            l2p = (snap.logical_to_physical or {}
                   if snap is not None else {})
            need_scan: list[str] = []
            for c in non_nullable:
                key = l2p.get(c, c)
                covered = True
                for _rel, _pv, _sz, st in staged:
                    nc = (json.loads(st).get("nullCount", {})
                          if st else {})
                    if key not in nc:
                        covered = False
                        break
                    v = nc[key]
                    if isinstance(v, dict):
                        # STRUCT column: its entry is the nested leaf
                        # counts (r11). A null struct nulls every leaf,
                        # so any leaf with count 0 PROVES the struct
                        # non-null; a positive minimum can't distinguish
                        # struct-null from leaf-null -> fall to the scan
                        # (never a violation verdict from leaves alone)
                        def _leaf_counts(x):
                            for y in x.values():
                                if isinstance(y, dict):
                                    yield from _leaf_counts(y)
                                else:
                                    yield int(y)
                        counts = list(_leaf_counts(v))
                        if not counts or min(counts) > 0:
                            covered = False
                            break
                        continue
                    if int(v) > 0:
                        raise NotNullViolation(
                            f"{operation} writes NULL into "
                            f"non-nullable column {c!r} "
                            "(NOT NULL invariant)")
                if not covered:
                    need_scan.append(c)
            if not cons and not need_scan:
                return  # everything proven from footers — no read-back
            reader = self.spark.read
            declared = snap.physical_schema if snap is not None else schema
            if declared is not None:
                # explicit declared (physical) schema: basePath inference
                # would re-derive partition-column types from the
                # directory strings, so a STRING partition column holding
                # '01' comes back as int and the constraint evaluates on
                # the wrong type/value — the pre-diff validation saw the
                # correctly-typed input
                reader = reader.schema(declared)
            df = reader.option(
                "basePath", base_dir or self.data_path).parquet(*paths)
            p2l = snap.physical_to_logical if snap is not None else None
            if p2l:
                df = df.withColumnsRenamed(p2l)
            if cons:
                self._validate_constraints(df, configuration, operation)
            flags = [F.when(F.col(c).isNull(), F.lit(c))
                     for c in need_scan]
            if flags:
                # IS NULL never evaluates to Unknown — exact reject
                bad = (df.select(F.array_compact(F.array(*flags))
                                 .alias("__nulls"))
                       .filter(F.size("__nulls") > 0).limit(1)
                       .collect())
                if bad:
                    raise NotNullViolation(
                        f"{operation} writes NULL into non-nullable "
                        f"column {bad[0]['__nulls'][0]!r} "
                        "(NOT NULL invariant)")
        except BaseException:
            # ANY failure leaves the commit unwritten — remove the staged
            # parquet or it leaks into the data dir as orphan bytes (the
            # old cleanup only caught CheckConstraintViolation)
            for p in paths:
                try:
                    os.remove(p)
                except OSError:
                    pass
            raise

    def _generated_write_prep(self, df: DataFrame,
                              schema: T.StructType
                              ) -> tuple[DataFrame, dict[str, str]]:
        """Derive absent generated columns from their expressions, cast
        supplied ones to the expression's RESOLVED type (so every writer
        produces the same physical parquet type regardless of what the
        caller supplied), and return the null-safe equality checks to fold
        into the SAME validation job as the table's CHECK constraints —
        one pass over the written rows total."""
        gcols = self._generated_columns(schema)
        checks: dict[str, str] = {}
        for n, e in gcols.items():
            if n in df.columns:
                etype = df.select(F.expr(e).alias("__t")).schema[0].dataType
                df = df.withColumn(n, F.col(n).cast(etype))
                checks[f"delta.constraints.generated:{n}"] = \
                    f"`{n}` <=> ({e})"
            else:
                df = df.withColumn(n, F.expr(e))
        return df, checks

    CLUSTERING_KEY = "delta.clusteringColumns"

    @staticmethod
    def _check_cluster_by(cluster_by: list[str], partition_by: list[str],
                          schema_names: set[str]) -> None:
        unknown = [c for c in cluster_by if c not in schema_names]
        if unknown:
            raise ValueError(f"CLUSTER BY columns not in schema: {unknown}")
        overlap = [c for c in cluster_by if c in partition_by]
        if overlap:
            raise ValueError(
                f"CLUSTER BY columns cannot be partition columns: {overlap}"
                " (Delta forbids clustering on partition columns)")

    def set_cluster_by(self, columns: list[str] | None) -> int:
        """ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE: update the
        declared clustering columns — metadata-only; the NEXT optimize()
        re-clusters on the new key (zorder_incremental baselines on the
        last SAME-key ZORDER, so a key change re-enters every file; liquid
        semantics: changing the key never rewrites data eagerly)."""
        snap = self.snapshot()
        config = dict(snap.metadata.configuration)
        if columns:
            self._check_cluster_by(columns, snap.partition_columns,
                                   {f.name for f in snap.schema.fields})
            config[self.CLUSTERING_KEY] = ",".join(columns)
        else:
            config.pop(self.CLUSTERING_KEY, None)
        meta = snap.metadata
        new_meta = Metadata(
            id=meta.id, name=meta.name, description=meta.description,
            format=meta.format, schemaString=meta.schemaString,
            partitionColumns=meta.partitionColumns,
            configuration=config, createdTime=meta.createdTime,
        )
        return self._commit_checked(
            snap,
            lambda v, ts: [new_meta, CommitInfo(
                version=v, timestamp=ts, operation="CLUSTER BY",
                operationParameters={
                    "clusterBy": ",".join(columns or [])})],
            read_paths=set(),
        )

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT: validates the WHOLE current table
        against ``expr`` first (Delta scans existing data the same way),
        then commits the constraint as metadata.

        The commit is built against the SAME snapshot the validation scan
        ran on (never ``update_metadata``, which would re-snapshot and
        silently overwrite an interleaved metadata commit), and records
        the scanned files as read_paths with appends NOT tolerated — rows
        appended between the validation scan and the commit were never
        validated, so they must surface as ``ConcurrentAppendError``
        instead of escaping the new constraint."""
        snap = self.snapshot()
        key = f"delta.constraints.{name}"
        if key in snap.metadata.configuration:
            raise ValueError(f"constraint {name!r} already exists")
        if snap.files:
            self._validate_constraints(
                self._read_files(snap, snap.files), {key: expr},
                "ADD CONSTRAINT")
        config = dict(snap.metadata.configuration)
        config[key] = expr
        meta = snap.metadata
        new_meta = Metadata(
            id=meta.id, name=meta.name, description=meta.description,
            format=meta.format, schemaString=meta.schemaString,
            partitionColumns=meta.partitionColumns,
            configuration=config, createdTime=meta.createdTime,
        )
        return self._commit_checked(
            snap,
            lambda v, ts: [new_meta, CommitInfo(
                version=v, timestamp=ts, operation="ADD CONSTRAINT",
                operationParameters={"name": name, "expr": expr})],
            read_paths={f.path for f in snap.files},
            tolerate_data_appends=False,
        )

    def drop_constraint(self, name: str) -> int:
        snap = self.snapshot()
        key = f"delta.constraints.{name}"
        if key not in snap.metadata.configuration:
            raise ValueError(f"constraint {name!r} does not exist")
        config = dict(snap.metadata.configuration)
        config.pop(key)
        # metadata-only decision: commit against the snapshot the config
        # was read from (interleaved data appends rebase; a concurrent
        # metadata change raises instead of being overwritten)
        return self._metadata_commit(
            snap, snap.metadata.schemaString,
            snap.metadata.partitionColumns, config, "DROP CONSTRAINT",
            {"name": name})

    # ------------------------------------------------- row-mutating commits

    # ------------------------------------------------------- deletion vectors

    def _dv_rows_df(self, adds: list[AddFile]) -> DataFrame:
        """(``__dv_file`` abs path, ``__dv_ri``) pairs logically deleted from
        ``adds``' files — the right side of the read path's anti-join. One
        scan over the referenced DV parquets; the ``path`` filter pushes to
        the scan. Stale duplicates across DV generations are harmless under
        anti-join semantics (a file's deleted set only grows until the path
        is removed), so no dedup shuffle is needed."""
        descs = [a for a in adds if a.deletionVector]
        stored = [a for a in descs
                  if a.deletionVector["storageType"] == "u"]
        inline = [a for a in descs
                  if a.deletionVector["storageType"] == "i"]
        parts: list[DataFrame] = []
        if stored:
            # a DV parquet's `path` column is relative to the TABLE THAT
            # WROTE IT; a shallow clone references the source's DV files,
            # so group by each DV file's own table root (the directory
            # above its _dv/) and translate per group — own-table DVs
            # resolve to self.path, cloned ones to the source root
            by_root: dict[str, list[AddFile]] = {}
            for a in stored:
                _d, root, _k = self.dv_scan_keys(a)
                by_root.setdefault(root, []).append(a)
            for root, items in sorted(by_root.items()):
                dv_files = sorted({self.dv_scan_keys(a)[0] for a in items})
                keys = sorted({k for a in items
                               for k in self.dv_scan_keys(a)[2]})
                abs_expr = F.when(
                    F.col("path").startswith(os.sep), F.col("path")
                ).otherwise(F.concat(F.lit(root + os.sep), F.col("path")))
                parts.append(
                    self.spark.read.parquet(*dv_files)
                    .filter(F.col("path").isin(keys))
                    .select(
                        abs_expr.alias("__dv_file"),
                        F.col("row_index").alias("__dv_ri"),
                    )
                )
        if inline:
            # inline descriptors decode driver-side — bounded by
            # INLINE_DV_MAX_ROWS per file by construction
            rows = [
                (self._scan_abs(a), ri) for a in inline
                for ri in decode_inline_dv(a.deletionVector["pathOrInlineDv"],
                           a.deletionVector.get("sizeInBytes"))
            ]
            parts.append(self.spark.createDataFrame(
                rows, "__dv_file string, __dv_ri long"))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if sum(a.dv_cardinality for a in descs) <= DV_BROADCAST_MAX_ROWS:
            df = F.broadcast(df)
        return df

    def _write_dv_file(self, dv_rows: DataFrame) -> tuple[str, int]:
        """Write (path, row_index) rows as ONE parquet under ``_dv/``;
        returns (rel_path, size). One packed file per commit regardless of
        how many data files it covers — Delta's multi-DV file layout, keyed
        by the ``path`` column instead of byte offsets."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        dv_rows.coalesce(1).write.mode("overwrite").parquet(staging)
        os.makedirs(self.dv_path, exist_ok=True)
        rel, size = None, 0
        for root, _dirs, files in os.walk(staging):
            for fn in files:
                if fn.endswith(".parquet"):
                    dest = os.path.join(
                        self.dv_path, f"dv-{uuid.uuid4().hex}.parquet")
                    shutil.move(os.path.join(root, fn), dest)
                    rel = os.path.relpath(dest, self.path)
                    size = os.path.getsize(dest)
        shutil.rmtree(staging, ignore_errors=True)
        return rel, size

    @staticmethod
    def _scan_base(abs_file: str) -> str:
        """Hive partition-inference root for a file: strip trailing
        ``col=value`` directory segments. Files of THIS table resolve to
        its data root; absolute adds from a shallow CLONE resolve to their
        source table's data root, so partition columns infer correctly
        there too."""
        d = os.path.dirname(abs_file)
        parts = d.split(os.sep)
        while parts and "=" in parts[-1]:
            parts.pop()
        return os.sep.join(parts) or os.sep

    def _scan_abs(self, add: AddFile) -> str:
        """The absolute, scheme-free path a scan's ``_metadata.file_path``
        reports for this add — the canonical key for mapping scanned rows
        back to their AddFile (works for table-relative AND absolute
        shallow-clone paths)."""
        return os.path.abspath(self.abs_path(add.path))

    def _adds_by_scan_path(self, adds: list[AddFile]) -> dict[str, AddFile]:
        return {self._scan_abs(a): a for a in adds}

    def dv_scan_keys(self, add: AddFile) -> tuple[str, str, list[str]]:
        """(dv_abs_path, dv_table_root, candidate ``path`` keys) for a
        stored-DV descriptor — the ONE derivation shared by the Spark read
        path (_dv_rows_df) and the Python Data Source (_dv_args). The DV's
        own table root is the directory above its LAST ``_dv`` component
        (a root path may itself contain ``_dv``); its parquet's ``path``
        rows may be root-relative (written by that table for its own
        files) or absolute (written by a clone for source-referenced
        files), so both keys are candidates."""
        d = os.path.abspath(
            self.abs_path(add.deletionVector["pathOrInlineDv"]))
        marker = os.sep + DV_DIR + os.sep
        root = d.rsplit(marker, 1)[0] if marker in d else self.path
        keys = sorted({add.path,
                       os.path.relpath(self._scan_abs(add), root)})
        return d, root, keys

    def _as_recorded_path(self, col: str) -> F.Column:
        """Map an absolute scanned path back to the add's AS-RECORDED path:
        strip this table's prefix for its own files, keep absolute
        shallow-clone references verbatim."""
        prefix = self.path + os.sep
        return F.when(
            F.col(col).startswith(prefix),
            F.substring(col, len(prefix) + 1, 1 << 30),
        ).otherwise(F.col(col))

    def _scan_parquet(self, adds: list[AddFile],
                      schema: T.StructType | None = None,
                      file_col: str | None = None,
                      row_index_col: str | None = None) -> DataFrame:
        """One multi-path parquet scan per partition root (a clone mixing
        source-referenced and own files costs one scan per root, unioned —
        never per-file scans). ``_metadata`` captures are injected PER
        SCAN, before the union — ``_metadata`` is scan-scoped and not a
        column of a union."""
        groups: dict[str, list[str]] = {}
        for a in adds:
            p = self._scan_abs(a)
            groups.setdefault(self._scan_base(p), []).append(p)
        outs: list[DataFrame] = []
        for base, paths in sorted(groups.items()):
            reader = self.spark.read.option("basePath", base)
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(*paths)
            if file_col is not None:
                # _metadata.file_path is URI-encoded (space -> %20 etc.);
                # decode it back to the on-disk byte path so it compares
                # equal to os.path-derived keys. '+' is protected first:
                # url_decode is form-decoding ('+' -> space), but Hadoop
                # paths keep '+' literal
                df = df.withColumn(
                    file_col,
                    F.url_decode(F.regexp_replace(
                        F.regexp_replace(F.col("_metadata.file_path"),
                                         "^file:(//)?", ""),
                        r"\+", "%2B")),
                )
            if row_index_col is not None:
                df = df.withColumn(row_index_col,
                                   F.col("_metadata.row_index"))
            outs.append(df)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def read_adds(self, adds: list[AddFile],
                  schema: T.StructType | None = None,
                  file_col: str | None = None,
                  snap: "Snapshot | None" = None,
                  row_index_col: str | None = None) -> DataFrame:
        """Scan the given add files as logical rows: files carrying a
        deletion vector are scanned with ``_metadata.row_index`` and
        anti-joined against the DV rows (JVM-side, no UDF; broadcast when
        the DV is small), clean files scan plain.

        ``file_col`` attaches each row's source file (absolute path, no
        scheme) as a column — captured from ``_metadata`` AT SCAN TIME, so
        it stays reliable through the DV anti-join and the union (unlike
        ``input_file_name()``, which is undefined after a join).

        With column mapping on (``snap`` given), the scan runs under
        physical names (the declared ``schema`` is translated) and the
        result is renamed back to logical names, so every caller — DML
        condition filters included — stays logical-only."""
        mapping = snap.logical_to_physical if snap is not None else None
        if mapping and schema is not None:
            schema = T.StructType([
                T.StructField(mapping.get(f.name, f.name), f.dataType,
                              f.nullable)
                for f in schema.fields
            ])

        plain = [a for a in adds if not a.deletionVector]
        dirty = [a for a in adds if a.deletionVector]
        parts: list[DataFrame] = []
        if plain:
            parts.append(self._scan_parquet(plain, schema=schema,
                                            file_col=file_col,
                                            row_index_col=row_index_col))
        if dirty:
            d = (
                self._scan_parquet(dirty, schema=schema,
                                   file_col="__dv_file",
                                   row_index_col="__dv_ri")
                .join(self._dv_rows_df(dirty), ["__dv_file", "__dv_ri"],
                      "left_anti")
            )
            if row_index_col is not None:
                # surviving rows keep their PHYSICAL index — exactly why
                # DV deletes leave row-tracking ids stable
                d = d.withColumnRenamed("__dv_ri", row_index_col)
            else:
                d = d.drop("__dv_ri")
            if file_col is not None:
                d = d.withColumnRenamed("__dv_file", file_col)
            else:
                d = d.drop("__dv_file")
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if mapping:
            out = out.withColumnsRenamed({p: l for l, p in mapping.items()})
        return out

    def read_adds_with_row_ids(self, snap: Snapshot, adds: list[AddFile],
                               schema: T.StructType | None = None
                               ) -> DataFrame:
        """Scan adds with the row-tracking columns attached: ``_row_id``
        (stable row id) and ``_row_commit_version`` (version that last
        wrote the row).

        Spark-first shape: fresh ids are ``baseRowId + _metadata.row_index``
        — the per-file base joins in from a BROADCAST manifest DataFrame
        keyed on ``_metadata.file_path`` (the manifest is O(files), never
        row data), so the scan stays one map-side pass at any scale. Files
        rewritten by dataChange=false maintenance carry materialized
        physical columns which COALESCE over the fresh derivation — that
        is Delta's exact preservation mechanism (materialized row-id
        column), re-expressed as a scan-schema extension: files without
        the physical columns read them as null and fall back to fresh."""
        missing = [a.path for a in adds if a.baseRowId is None]
        if missing:
            raise ValueError(
                "row tracking: active file(s) lack baseRowId (table was "
                f"written before enablement without backfill): "
                f"{sorted(missing)[:3]}")
        base_schema = schema if schema is not None else snap.schema
        mat_id, mat_ver = snap.materialized_row_id_cols
        ext = T.StructType(list(base_schema.fields) + [
            T.StructField(mat_id, T.LongType(), True),
            T.StructField(mat_ver, T.LongType(), True),
        ])
        df = self.read_adds(adds, schema=ext, file_col="__rt_file",
                            row_index_col="__rt_ri", snap=snap)
        manifest = self.spark.createDataFrame(
            [(self._scan_abs(a), a.baseRowId,
              a.defaultRowCommitVersion if a.defaultRowCommitVersion
              is not None else a.version) for a in adds],
            "__rt_file STRING, __rt_base LONG, __rt_ver LONG")
        return (
            df.join(F.broadcast(manifest), "__rt_file")
            .withColumn("_row_id", F.coalesce(
                F.col(mat_id), F.col("__rt_base") + F.col("__rt_ri")))
            .withColumn("_row_commit_version", F.coalesce(
                F.col(mat_ver), F.col("__rt_ver")))
            .drop("__rt_file", "__rt_ri", "__rt_base", "__rt_ver",
                  mat_id, mat_ver)
        )

    def _read_files(self, snapshot: Snapshot, files: list[AddFile],
                    with_row_ids: bool = False) -> DataFrame:
        """``with_row_ids`` renames the row-tracking columns to their
        MATERIALIZED physical names so a dataChange=false rewrite staging
        this frame preserves every row's id and commit version."""
        if with_row_ids:
            mat_id, mat_ver = snapshot.materialized_row_id_cols
            return (
                self.read_adds_with_row_ids(snapshot, files)
                .withColumnRenamed("_row_id", mat_id)
                .withColumnRenamed("_row_commit_version", mat_ver)
            )
        return self.read_adds(files, snap=snapshot)

    def delete(self, condition: Column | str,
               predicate_hints: dict | str | None = None) -> int:
        """DELETE WHERE: rewrite files containing matches; emit remove+add
        actions and (if CDF enabled) a cdc file of deleted rows — the
        reference *infers* delete change-type from remove actions when no cdc
        file exists (python/delta_sharing/protocol.py:289-368); we write real
        cdc files like Delta does for DELETE.

        ``predicate_hints`` (JSON predicate op-tree) MUST be implied by
        ``condition`` (every matching row lives in a file the hints keep —
        the predicateHints contract). It scopes both the scan (only kept
        files are read) and the conflict read-set: a concurrent append whose
        files provably can't match rebases instead of raising
        ``ConcurrentAppendError`` (Delta ConflictChecker's readPredicates
        check), so e.g. a DELETE confined to partition P tolerates appends
        to partition Q."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self.snapshot()
        _check_not_append_only(snap, "DELETE")
        predicate_hints = self._physical_hints(snap, predicate_hints)
        cand = self._pruned_candidates(snap, predicate_hints)
        if snap.metadata.configuration.get(
                "enableDeletionVectors", "").lower() == "true":
            return self._delete_with_dv(cond, snap, cand, predicate_hints)
        touched: list[AddFile] = []
        hit_files: set[str] = set()
        if cand:
            full = self.read_adds(cand, file_col="__file", snap=snap)
            # match scanned absolute paths against each add's canonical
            # scan path — add paths may be table-relative OR absolute
            # (shallow clones), so a relpath compare would silently miss
            hit_files = {
                r["__file"]
                for r in full.filter(cond)
                .select("__file").distinct().collect()
            }
        touched = [a for a in cand if self._scan_abs(a) in hit_files]
        actions: list[Action] = []
        n_deleted = 0
        rt = snap.row_tracking_enabled
        if touched:
            # with row tracking, surviving rows are copied unmodified —
            # the rewrite carries their materialized ids and versions
            touched_df = self._read_files(snap, touched, with_row_ids=rt)
            keep = touched_df.filter(~cond | cond.isNull())
            deleted = touched_df.filter(cond)
            if rt:
                deleted = deleted.drop(*snap.materialized_row_id_cols)
            n_deleted = deleted.count()
            staged = self._stage_dataframe(keep, snap.partition_columns,
                                           self.data_path, snap=snap)
            actions += [
                AddFile(path=p, partitionValues=pv, size=sz, stats=st)
                for p, pv, sz, st in staged
            ]
            actions += [
                RemoveFile(path=a.path, partitionValues=a.partitionValues,
                           size=a.size)
                for a in touched
            ]
            if snap.metadata.cdf_enabled and n_deleted:
                cdc_rows = deleted.withColumn(CHANGE_TYPE_COL, F.lit("delete"))
                staged_cdc = self._stage_dataframe(
                    cdc_rows, [], self.cdc_path, prefix="cdc-", snap=snap
                )
                actions += [
                    AddCDCFile(path=p, partitionValues=pv, size=sz)
                    for p, pv, sz, _st in staged_cdc
                ]
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="DELETE",
                operationMetrics={"numDeletedRows": str(n_deleted)})],
            read_paths={a.path for a in cand},
            removed_paths={a.path for a in touched},
            read_predicate=predicate_hints,
        )

    @staticmethod
    def _physical_hints(snap: Snapshot, predicate_hints: dict | str | None):
        """Translate logical-name predicate hints into the physical-name
        space file metadata is keyed by (identity when mapping is off)."""
        from delta_sharing_spark.plans.predicates import (
            rewrite_predicate_columns,
        )

        return rewrite_predicate_columns(predicate_hints,
                                         snap.logical_to_physical)

    def _pruned_candidates(self, snap: Snapshot,
                           predicate_hints: dict | str | None
                           ) -> list[AddFile]:
        """Snapshot files that could contain a row matching
        ``predicate_hints`` (physical-name tree; all files when no hints)
        — the scan scope for predicate-scoped DELETE/UPDATE."""
        if predicate_hints is None:
            return list(snap.files)
        return [a for a in snap.files
                if _file_may_match(a, predicate_hints,
                                   snap.physical_partition_columns)]

    def _logical_rows_with_pos(self, snap: Snapshot,
                               files: list[AddFile] | None = None
                               ) -> DataFrame:
        """Logical rows of the snapshot (existing deletion vectors applied)
        with each row's physical position exposed as ``__dv_file`` (absolute
        data-file path, no scheme) and ``__dv_ri`` (row index in that file)
        — the input every DV-writing commit needs.

        Scans under the EXPLICIT physical schema (plus the materialized
        row-tracking columns when the feature is on) — inference over
        mixed pre/post-maintenance files would be sample-dependent, and
        soft-dropped columns' bytes must never be read back."""
        if files is None:
            files = snap.files
        schema = snap.physical_schema
        if snap.row_tracking_enabled:
            mat_id, mat_ver = snap.materialized_row_id_cols
            schema = T.StructType(list(schema.fields) + [
                T.StructField(mat_id, T.LongType(), True),
                T.StructField(mat_ver, T.LongType(), True),
            ])
        df = self._scan_parquet(files, schema=schema, file_col="__dv_file",
                                row_index_col="__dv_ri")
        dirty = [a for a in files if a.deletionVector]
        if dirty:
            df = df.join(self._dv_rows_df(dirty), ["__dv_file", "__dv_ri"],
                         "left_anti")
        p2l = snap.physical_to_logical
        if p2l:
            df = df.withColumnsRenamed(p2l)
        return df

    def _dv_mark_actions(self, matched: DataFrame,
                         snap: Snapshot) -> tuple[list[Action], int]:
        """Record ``matched`` rows (logical rows carrying ``__dv_file`` /
        ``__dv_ri``) as deleted positions: writes ONE packed DV parquet
        covering all touched files (carrying forward their previous vectors)
        and returns (remove + re-add-with-descriptor actions, rows marked).
        A file whose deleted set reaches its physical row count is removed
        outright. Triggers one counting job over ``matched``."""
        by_scan = self._adds_by_scan_path(snap.files)
        counts = {
            by_scan[r["f"]].path: r["n"]
            for r in matched.groupBy(F.col("__dv_file").alias("f"))
            .agg(F.count("*").alias("n")).collect()
        }
        if not counts:
            return [], 0
        adds_by_path = {a.path: a for a in snap.files}
        touched = [adds_by_path[p] for p in sorted(counts)]

        # split: files whose merged deleted set stays tiny inline the
        # positions in the descriptor (no DV file open on read); the rest
        # share one packed parquet. A global cap bounds the inline collect.
        def total_for(a: AddFile) -> int:
            return a.dv_cardinality + counts[a.path]

        inline_set = {a.path for a in touched
                      if total_for(a) <= INLINE_DV_MAX_ROWS}
        if sum(total_for(a) for a in touched
               if a.path in inline_set) > INLINE_DV_GLOBAL_MAX_ROWS:
            inline_set = set()

        # the DV parquet records each deleted row under its add's
        # AS-RECORDED path (relative for this table's own files, absolute
        # for shallow-clone references) — map the scanned absolute
        # ``__dv_file`` back with a pure expression, no driver-side map
        dv_rows = matched.select(
            self._as_recorded_path("__dv_file").alias("path"),
            F.col("__dv_ri").alias("row_index"),
        )
        carried = [a for a in touched if a.deletionVector]
        if carried:
            # the new DV file must carry forward previously deleted
            # positions of the touched files (descriptors point at one
            # file each; old and new sets are disjoint by construction);
            # _dv_rows_df handles stored + inline and clone-root
            # translation uniformly
            old = self._dv_rows_df(carried).select(
                self._as_recorded_path("__dv_file").alias("path"),
                F.col("__dv_ri").alias("row_index"),
            )
            dv_rows = dv_rows.unionByName(old)

        inline_positions: dict[str, list[int]] = {}
        packed_rows = dv_rows
        if inline_set:
            # one bounded collect for every inline file's merged positions
            inline_positions = {
                r["path"]: r["ris"]
                for r in dv_rows.filter(F.col("path").isin(list(inline_set)))
                .groupBy("path").agg(F.collect_list("row_index").alias("ris"))
                .collect()
            }
            packed_rows = dv_rows.filter(
                ~F.col("path").isin(list(inline_set)))
        packed_survivors = [
            a for a in touched
            if a.path not in inline_set
            and (a.num_records is None or total_for(a) < a.num_records)
        ]
        dv_rel, dv_size = None, 0
        if packed_survivors:
            # skipped when every non-inline touched file is fully deleted —
            # no descriptor would reference the parquet (orphan write)
            dv_rel, dv_size = self._write_dv_file(packed_rows)

        actions: list[Action] = []
        for a in touched:
            total = total_for(a)
            actions.append(
                RemoveFile(path=a.path, partitionValues=a.partitionValues,
                           size=a.size))
            if a.num_records is not None and total >= a.num_records:
                continue  # fully deleted file: removed outright
            if a.path in inline_set:
                encoded, dv_bytes = encode_inline_dv(
                    inline_positions.get(a.path, []))
                desc = {
                    "storageType": "i",
                    "pathOrInlineDv": encoded,
                    "cardinality": total,
                    "sizeInBytes": dv_bytes,
                }
            else:
                desc = {
                    "storageType": "u",
                    "pathOrInlineDv": dv_rel,
                    "cardinality": total,
                    "sizeInBytes": dv_size,
                }
            actions.append(AddFile(
                path=a.path, partitionValues=a.partitionValues,
                size=a.size, stats=a.stats, deletionVector=desc,
                baseRowId=a.baseRowId,
                defaultRowCommitVersion=a.defaultRowCommitVersion))
        return actions, sum(counts.values())

    def _delete_with_dv(self, cond: Column, snap: Snapshot,
                        cand: list[AddFile] | None = None,
                        predicate_hints: dict | str | None = None) -> int:
        """DELETE via deletion vectors (``enableDeletionVectors=true``):
        instead of rewriting every touched file, record the matching rows'
        physical positions in a DV parquet and re-add the untouched data
        files with the new descriptor — remove + add of the SAME path, the
        Delta DV commit shape. No data file is rewritten, so a DELETE
        touching 1% of rows in every file costs one DV write instead of a
        full-table rewrite — the 100 TB motivation."""
        if cand is None:
            cand = snap.files
        matched = self._logical_rows_with_pos(snap, cand).filter(cond) \
            .localCheckpoint(eager=False)
        actions, n_deleted = self._dv_mark_actions(matched, snap)
        if snap.metadata.cdf_enabled and n_deleted:
            cdc_rows = matched.drop(
                "__dv_file", "__dv_ri",
                *snap.materialized_row_id_cols).withColumn(
                CHANGE_TYPE_COL, F.lit("delete"))
            staged_cdc = self._stage_dataframe(
                cdc_rows, [], self.cdc_path, prefix="cdc-", snap=snap)
            actions += [
                AddCDCFile(path=p, partitionValues=pv, size=sz)
                for p, pv, sz, _st in staged_cdc
            ]
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="DELETE",
                operationParameters={"deletionVectors": "true"},
                operationMetrics={"numDeletedRows": str(n_deleted)})],
            read_paths={a.path for a in cand},
            removed_paths={x.path for x in actions
                           if isinstance(x, RemoveFile)},
            read_predicate=predicate_hints,
        )

    def _update_with_dv(self, cond: Column, sets: dict[str, Column],
                        snap: Snapshot,
                        cand: list[AddFile] | None = None,
                        predicate_hints: dict | str | None = None) -> int:
        """UPDATE via deletion vectors: matched rows' old positions are
        marked deleted (no data-file rewrite) and their updated images are
        appended as NEW files — Delta's DV update shape. An UPDATE touching
        1% of rows costs one DV write plus 1%-sized new files instead of
        rewriting every touched file."""
        if cand is None:
            cand = snap.files
        rt = snap.row_tracking_enabled
        mat_id, mat_ver = snap.materialized_row_id_cols
        matched = self._logical_rows_with_pos(snap, cand).filter(cond)
        if rt:
            # a moved row keeps its id (Delta row tracking): resolve it
            # from the materialized column or baseRowId + position, so
            # the appended post-image file materializes the SAME id
            man = self.spark.createDataFrame(
                [(self._scan_abs(a), a.baseRowId) for a in cand],
                "__dv_file STRING, __rt_base LONG")
            matched = (
                matched.join(F.broadcast(man), "__dv_file", "left")
                .withColumn(mat_id, F.coalesce(
                    F.col(mat_id), F.col("__rt_base") + F.col("__dv_ri")))
                .drop("__rt_base")
            )
        matched = matched.localCheckpoint(eager=False)
        actions, n_updated = self._dv_mark_actions(matched, snap)
        if n_updated:
            pre = matched.drop("__dv_file", "__dv_ri", mat_id, mat_ver)
            post = matched.drop("__dv_file", "__dv_ri", mat_ver)
            for col_name, expr in sets.items():
                post = post.withColumn(col_name, expr)
            for g, ge in self._generated_columns(snap.schema).items():
                post = post.withColumn(g, F.expr(ge))
            # conform to the declared schema: unlike the rewrite path there
            # is no union with original-typed rows to coerce a SET expr's
            # type (e.g. a bare "0.0" literal is DECIMAL(1,1), not DOUBLE)
            post = post.select(
                [F.col(f.name).cast(f.dataType).alias(f.name)
                 for f in snap.schema.fields]
                + ([F.col(mat_id),
                    F.lit(None).cast("long").alias(mat_ver)] if rt else [])
            )
            staged = self._stage_dataframe(post, snap.partition_columns,
                                           self.data_path, snap=snap)
            self._validate_staged(staged, snap.metadata.configuration,
                                  "UPDATE", snap=snap)
            actions += [
                AddFile(path=p, partitionValues=pv, size=sz, stats=st)
                for p, pv, sz, st in staged
            ]
            if snap.metadata.cdf_enabled:
                cdc_rows = pre.withColumn(
                    CHANGE_TYPE_COL, F.lit("update_preimage")
                ).unionByName(post.drop(mat_id, mat_ver).withColumn(
                    CHANGE_TYPE_COL, F.lit("update_postimage")))
                staged_cdc = self._stage_dataframe(
                    cdc_rows, [], self.cdc_path, prefix="cdc-", snap=snap)
                actions += [
                    AddCDCFile(path=p, partitionValues=pv, size=sz)
                    for p, pv, sz, _st in staged_cdc
                ]
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="UPDATE",
                operationParameters={"deletionVectors": "true"},
                operationMetrics={"numUpdatedRows": str(n_updated)})],
            read_paths={a.path for a in cand},
            removed_paths={x.path for x in actions
                           if isinstance(x, RemoveFile)},
            read_predicate=predicate_hints,
        )

    def update(self, set_exprs: dict[str, Column | str],
               condition: Column | str,
               predicate_hints: dict | str | None = None) -> int:
        """UPDATE SET ... WHERE: rewrite matched files; CDF gets
        update_preimage/update_postimage rows (PROTOCOL.md CDF columns;
        golden shape python/delta_sharing/tests/test_delta_sharing.py:1380-1400).
        With ``enableDeletionVectors=true`` no file is rewritten: old
        positions are DV-marked and updated images append as new files.
        ``predicate_hints`` scopes scan + conflict read-set exactly as in
        :meth:`delete` (MUST be implied by ``condition``)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        sets = {
            k: (F.expr(v) if isinstance(v, str) else v)
            for k, v in set_exprs.items()
        }
        snap = self.snapshot()
        _check_not_append_only(snap, "UPDATE")
        bad_targets = set(sets) & set(self._generated_columns(snap.schema))
        if bad_targets:
            raise ValueError(
                f"cannot UPDATE generated column(s) {sorted(bad_targets)}: "
                "their values derive from delta.generationExpression and "
                "are recomputed automatically")
        predicate_hints = self._physical_hints(snap, predicate_hints)
        cand = self._pruned_candidates(snap, predicate_hints)
        if snap.metadata.configuration.get(
                "enableDeletionVectors", "").lower() == "true":
            return self._update_with_dv(cond, sets, snap, cand,
                                        predicate_hints)

        hit_files: set[str] = set()
        if cand:
            full = self.read_adds(cand, file_col="__file", snap=snap)
            # match scanned absolute paths against each add's canonical
            # scan path — add paths may be table-relative OR absolute
            # (shallow clones), so a relpath compare would silently miss
            hit_files = {
                r["__file"]
                for r in full.filter(cond)
                .select("__file").distinct().collect()
            }
        touched = [a for a in cand if self._scan_abs(a) in hit_files]
        actions: list[Action] = []
        n_updated = 0
        rt = snap.row_tracking_enabled
        mat_id, mat_ver = snap.materialized_row_id_cols
        if touched:
            touched_df = self._read_files(snap, touched, with_row_ids=rt)
            pre = touched_df.filter(cond)
            n_updated = pre.count()
            post = pre
            for col_name, expr in sets.items():
                post = post.withColumn(col_name, expr)
            for g, ge in self._generated_columns(snap.schema).items():
                # generated values follow their source columns
                post = post.withColumn(g, F.expr(ge))
            if rt:
                # a row keeps its id across its lifetime (Delta row
                # tracking); its commit version follows the LAST write —
                # nulling the materialized version makes the rewritten
                # file's defaultRowCommitVersion (= this commit) apply
                post = post.withColumn(mat_ver, F.lit(None).cast("long"))
            rewritten = touched_df.filter(~cond | cond.isNull()).unionByName(post)
            staged = self._stage_dataframe(rewritten, snap.partition_columns,
                                           self.data_path, snap=snap)
            # validates the whole staged rewrite (untouched rows satisfy
            # the constraints by induction; re-checking them is harmless)
            self._validate_staged(staged, snap.metadata.configuration,
                                  "UPDATE", snap=snap)
            actions += [
                AddFile(path=p, partitionValues=pv, size=sz, stats=st)
                for p, pv, sz, st in staged
            ]
            actions += [
                RemoveFile(path=a.path, partitionValues=a.partitionValues,
                           size=a.size)
                for a in touched
            ]
            if snap.metadata.cdf_enabled and n_updated:
                cdc_pre, cdc_post = pre, post
                if rt:
                    # engine-internal columns never leak into change rows
                    cdc_pre = cdc_pre.drop(mat_id, mat_ver)
                    cdc_post = cdc_post.drop(mat_id, mat_ver)
                cdc_rows = cdc_pre.withColumn(
                    CHANGE_TYPE_COL, F.lit("update_preimage")
                ).unionByName(
                    cdc_post.withColumn(CHANGE_TYPE_COL,
                                        F.lit("update_postimage"))
                )
                staged_cdc = self._stage_dataframe(
                    cdc_rows, [], self.cdc_path, prefix="cdc-", snap=snap
                )
                actions += [
                    AddCDCFile(path=p, partitionValues=pv, size=sz)
                    for p, pv, sz, _st in staged_cdc
                ]
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="UPDATE",
                operationMetrics={"numUpdatedRows": str(n_updated)})],
            read_paths={a.path for a in cand},
            removed_paths={a.path for a in touched},
            read_predicate=predicate_hints,
        )

    def merge(self, source: DataFrame, keys: list[str],
              when_matched: str | None = "update",
              when_not_matched: str | None = "insert",
              operation_parameters: dict[str, str] | None = None) -> int:
        """MERGE INTO (upsert) on equality ``keys``.

        ``when_matched``: ``"update"`` replaces each matched target row with
        its source row (full-row update), ``"delete"`` deletes matched rows,
        ``None`` leaves them. ``when_not_matched="insert"`` appends source
        rows with no target match. The source must have at most one row per
        key (standard MERGE precondition).

        Commit shape: rewrites only touched files (source keys semi-join —
        at scale the small source broadcasts and untouched files are never
        read), emits authoritative cdc files (update pre/post images,
        deletes, inserts) when CDF is enabled, and always reports all three
        numTargetRows* metrics so readers can detect the no-op-MERGE case
        (ref DeltaSharingCDCReader.scala:301-323)."""
        if when_matched not in (None, "update", "delete"):
            raise ValueError(f"unknown when_matched: {when_matched!r}")
        snap = self.snapshot()
        if when_matched is not None:
            # insert-only MERGE is an append; matched-row update/delete
            # violates appendOnly
            _check_not_append_only(snap, "MERGE")
        schema_cols = [f.name for f in snap.schema.fields]
        idents = self._identity_columns(snap.schema)
        always = [c for c in idents if not idents[c]["allow_explicit"]]
        if always:
            # Delta's restriction shape: full-row MERGE cannot carry a
            # GENERATED ALWAYS identity — the source either omits the
            # column (corrupting matched rows) or supplies explicit
            # values (forbidden for ALWAYS everywhere else too)
            raise ValueError(
                "MERGE into a table with GENERATED ALWAYS AS IDENTITY "
                f"column(s) {always} is not supported "
                "(use append() for allocation on insert-only flows)")
        missing_ident = [c for c in idents if c not in source.columns]
        if missing_ident:
            raise ValueError(
                "MERGE into a table with identity column(s) "
                f"{missing_ident} requires the source to provide them "
                "(use append() for allocation on insert-only flows)")
        # generated columns: derived when the source omits them, validated
        # (same null-safe invariant as append) when it supplies them — the
        # checks fold into the written-row constraint validations below
        src, gen_checks = self._generated_write_prep(source, snap.schema)
        merge_config = {**snap.metadata.configuration, **gen_checks}
        src = src.select(*schema_cols)
        id_hwm: dict[str, int] = {}
        if idents:
            # BY DEFAULT identity values in the source: the mark absorbs
            # them (same rule as append's explicit path) so later
            # allocations never collide with merged-in ids; pin the
            # source first — absorption must see the rows that stage
            src = src.localCheckpoint(eager=True)
            for c, info in idents.items():
                mx = src.agg(F.max(c)).collect()[0][0]
                cur = (int(info["hwm"]) if info["hwm"] is not None
                       else info["start"] - info["step"])
                if mx is not None and int(mx) > cur:
                    id_hwm[c] = int(mx)
        src_keys = src.select(*keys).distinct()

        dv_mode = snap.metadata.configuration.get(
            "enableDeletionVectors", "").lower() == "true"
        full = self.read_adds(snap.files, file_col="__file", snap=snap)

        actions: list[Action] = []
        cdc_parts: list[DataFrame] = []
        n_updated = n_deleted = n_inserted = 0
        rt = snap.row_tracking_enabled
        mat_id, mat_ver = snap.materialized_row_id_cols
        if dv_mode and when_matched is not None:
            # DV shape: mark matched rows' positions deleted (no rewrite of
            # touched files); updated images append as NEW files
            pre_pos = (
                self._logical_rows_with_pos(snap)
                .join(F.broadcast(src_keys), keys, "left_semi")
            )
            if rt:
                # updated rows keep their ids in the appended post-image
                # (Delta row tracking: id is stable across the row's
                # lifetime); resolve id = materialized or base + position
                man = self.spark.createDataFrame(
                    [(self._scan_abs(a), a.baseRowId) for a in snap.files],
                    "__dv_file STRING, __rt_base LONG")
                pre_pos = (
                    pre_pos.join(F.broadcast(man), "__dv_file", "left")
                    .withColumn(mat_id, F.coalesce(
                        F.col(mat_id),
                        F.col("__rt_base") + F.col("__dv_ri")))
                    .drop("__rt_base")
                )
            pre_pos = pre_pos.localCheckpoint(eager=False)
            mark_actions, n_matched = self._dv_mark_actions(pre_pos, snap)
            actions += mark_actions
            pre = pre_pos.drop("__dv_file", "__dv_ri", mat_id, mat_ver)
            post = None
            if when_matched == "update":
                pre_keyed = pre_pos.select(
                    *keys, *([mat_id] if rt else []))
                post = pre_keyed.join(F.broadcast(src), keys) \
                    .select(
                        [F.col(f.name).cast(f.dataType).alias(f.name)
                         for f in snap.schema.fields]
                        + ([F.col(mat_id),
                            F.lit(None).cast("long").alias(mat_ver)]
                           if rt else [])
                    )
                n_updated = n_matched
                if n_matched:
                    staged = self._stage_dataframe(
                        post, snap.partition_columns, self.data_path,
                        snap=snap)
                    self._validate_staged(staged, merge_config, "MERGE",
                                          snap=snap)
                    actions += [
                        AddFile(path=p, partitionValues=pv, size=sz, stats=st)
                        for p, pv, sz, st in staged
                    ]
            elif when_matched == "delete":
                n_deleted = n_matched
            else:
                raise ValueError(f"unknown when_matched: {when_matched!r}")
            if snap.metadata.cdf_enabled and n_matched:
                if when_matched == "update":
                    cdc_parts.append(
                        pre.withColumn(CHANGE_TYPE_COL,
                                       F.lit("update_preimage"))
                        .unionByName(post.drop(mat_id, mat_ver).withColumn(
                            CHANGE_TYPE_COL, F.lit("update_postimage"))))
                else:
                    cdc_parts.append(
                        pre.withColumn(CHANGE_TYPE_COL, F.lit("delete")))
        elif when_matched is not None:
            hit_files = {
                r["__file"]
                for r in full.join(F.broadcast(src_keys), keys, "left_semi")
                .select("__file").distinct().collect()
            }
            touched = [a for a in snap.files
                       if self._scan_abs(a) in hit_files]
            if touched:
                # with row tracking, copied-unmodified rows keep their
                # materialized ids; updated rows keep the id, reset the
                # version (the new file's commit version applies)
                out_cols = schema_cols + ([mat_id, mat_ver] if rt else [])
                touched_df = self._read_files(snap, touched,
                                              with_row_ids=rt)
                pre = touched_df.join(F.broadcast(src_keys), keys,
                                      "left_semi")
                n_matched = pre.count()
                keep = touched_df.join(F.broadcast(src_keys), keys,
                                       "left_anti")
                if when_matched == "update":
                    # one source row per matched target row (full-row
                    # replace)
                    post = pre.select(*keys, *([mat_id] if rt else [])) \
                        .join(F.broadcast(src), keys)
                    if rt:
                        post = post.withColumn(
                            mat_ver, F.lit(None).cast("long"))
                    post = post.select(*out_cols)
                    rewritten = keep.unionByName(post).select(*out_cols)
                    n_updated = n_matched
                elif when_matched == "delete":
                    post = None
                    rewritten = keep.select(*out_cols)
                    n_deleted = n_matched
                else:
                    raise ValueError(
                        f"unknown when_matched: {when_matched!r}")
                staged = self._stage_dataframe(
                    rewritten, snap.partition_columns, self.data_path,
                    snap=snap)
                if when_matched == "update":
                    self._validate_staged(staged, merge_config, "MERGE",
                                          snap=snap)
                actions += [
                    AddFile(path=p, partitionValues=pv, size=sz, stats=st)
                    for p, pv, sz, st in staged
                ]
                actions += [
                    RemoveFile(path=a.path,
                               partitionValues=a.partitionValues,
                               size=a.size)
                    for a in touched
                ]
                if snap.metadata.cdf_enabled and n_matched:
                    cdc_pre = pre.drop(mat_id, mat_ver)
                    if when_matched == "update":
                        cdc_parts.append(
                            cdc_pre.withColumn(CHANGE_TYPE_COL,
                                               F.lit("update_preimage"))
                            .unionByName(
                                post.drop(mat_id, mat_ver).withColumn(
                                    CHANGE_TYPE_COL,
                                    F.lit("update_postimage"))))
                    else:
                        cdc_parts.append(
                            cdc_pre.withColumn(CHANGE_TYPE_COL,
                                               F.lit("delete")))
        if when_not_matched == "insert":
            target_keys = full.select(*keys).distinct()
            ins = src.join(target_keys, keys, "left_anti")
            n_inserted = ins.count()
            if n_inserted:
                staged = self._stage_dataframe(
                    ins.select(*schema_cols), snap.partition_columns,
                    self.data_path, snap=snap)
                self._validate_staged(staged, merge_config, "MERGE",
                                      snap=snap)
                actions += [
                    AddFile(path=p, partitionValues=pv, size=sz, stats=st)
                    for p, pv, sz, st in staged
                ]
                if snap.metadata.cdf_enabled:
                    cdc_parts.append(
                        ins.withColumn(CHANGE_TYPE_COL, F.lit("insert")))
        if cdc_parts:
            cdc_rows = cdc_parts[0]
            for p in cdc_parts[1:]:
                cdc_rows = cdc_rows.unionByName(p)
            staged_cdc = self._stage_dataframe(cdc_rows, [], self.cdc_path,
                                               prefix="cdc-", snap=snap)
            actions += [
                AddCDCFile(path=p, partitionValues=pv, size=sz)
                for p, pv, sz, _st in staged_cdc
            ]
        if id_hwm:
            actions.insert(0, self._hwm_metadata_action(snap, id_hwm))
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="MERGE",
                operationParameters={
                    **({"deletionVectors": "true"} if dv_mode else {}),
                    **(operation_parameters or {}),
                },
                operationMetrics={
                    "numTargetRowsInserted": str(n_inserted),
                    "numTargetRowsUpdated": str(n_updated),
                    "numTargetRowsDeleted": str(n_deleted),
                })],
            read_paths={a.path for a in snap.files},
            removed_paths={x.path for x in actions
                           if isinstance(x, RemoveFile)},
        )

    # ------------------------------------------------------- maintenance ops

    def overwrite(self, df: DataFrame) -> int:
        """INSERT OVERWRITE: replace the table's full contents in one
        commit (removes every active file, adds the new set). Any
        interleaved data commit conflicts — "full contents" is defined at
        the overwrite's snapshot — so concurrent appends raise
        ``ConcurrentAppendError`` (retry_on_conflict re-runs over them)."""
        snap = self.snapshot()
        _check_not_append_only(snap, "OVERWRITE")
        df = self._defaults_write_prep(df, snap.schema)
        df, gen_checks = self._generated_write_prep(df, snap.schema)
        # identity marks only advance (Delta: overwrite does NOT reset)
        df, id_hwm = self._identity_write_prep(df, snap.schema,
                                               "OVERWRITE")
        staged = self._stage_dataframe(df, snap.partition_columns,
                                       self.data_path, snap=snap)
        self._validate_staged(
            staged, {**snap.metadata.configuration, **gen_checks},
            "OVERWRITE", snap=snap)
        actions: list[Action] = []
        if id_hwm:
            actions.append(self._hwm_metadata_action(snap, id_hwm))
        actions += [
            AddFile(path=p, partitionValues=pv, size=sz, stats=st)
            for p, pv, sz, st in staged
        ]
        actions += [
            RemoveFile(path=a.path, partitionValues=a.partitionValues,
                       size=a.size)
            for a in snap.files
        ]
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="OVERWRITE",
                operationMetrics={"numFiles": str(len(staged))})],
            read_paths={a.path for a in snap.files},
            removed_paths={a.path for a in snap.files},
        )

    def restore(self, version: int | None = None,
                timestamp: str | int | None = None) -> int:
        """RESTORE TABLE TO VERSION/TIMESTAMP AS OF (Delta's RESTORE): one
        commit that re-adds the files of the target snapshot that are no
        longer active and removes the files added since — after it, the
        table's visible data equals the target version's, while history
        and CDF still see every intermediate version (restore is a new
        commit, not a log rewrite).

        File identity includes the deletion-vector descriptor: a file
        present in both snapshots with a *different* DV is re-added with
        the target's descriptor (its logical content changed). If the
        target's data or DV files have been vacuumed, the restore raises
        ``FileNotFoundError`` instead of committing a snapshot that cannot
        be read (Delta errors the same way after VACUUM).

        Metadata (schema/partitioning/configuration) reverts to the
        target's when it differs. Conflicts: the operation reads the whole
        current file set, so any concurrent data commit aborts it.

        Metadata-priced at any scale: the commit is a file-list diff of
        two snapshots — no data is read or rewritten.
        """
        snap = self.snapshot()
        _check_not_append_only(snap, "RESTORE")
        target = self.snapshot(version=version, timestamp=timestamp)

        def dv_key(a: AddFile):
            dv = a.deletionVector or {}
            return (a.path, dv.get("storageType"), dv.get("pathOrInlineDv"),
                    dv.get("offset"))

        cur = {dv_key(a): a for a in snap.files}
        tgt = {dv_key(a): a for a in target.files}
        to_add = [a for k, a in sorted(tgt.items()) if k not in cur]
        to_remove = [a for k, a in sorted(cur.items()) if k not in tgt]
        missing = [a.path for a in to_add
                   if not os.path.exists(self.abs_path(a.path))]
        missing += [a.deletionVector["pathOrInlineDv"] for a in to_add
                    if a.deletionVector
                    and a.deletionVector.get("storageType") == "u"
                    and not os.path.exists(
                        self.abs_path(a.deletionVector["pathOrInlineDv"]))]
        if missing:
            raise FileNotFoundError(
                f"cannot RESTORE to version {target.version}: "
                f"{len(missing)} file(s) have been vacuumed, e.g. "
                f"{sorted(missing)[:3]}")

        actions: list[Action] = []
        m_cur, m_tgt = snap.metadata, target.metadata
        if (m_cur.schemaString, m_cur.partitionColumns,
                m_cur.configuration) != (m_tgt.schemaString,
                                         m_tgt.partitionColumns,
                                         m_tgt.configuration):
            actions.append(Metadata(
                id=m_cur.id, name=m_tgt.name, description=m_tgt.description,
                format=m_tgt.format, schemaString=m_tgt.schemaString,
                partitionColumns=m_tgt.partitionColumns,
                configuration=m_tgt.configuration,
                createdTime=m_cur.createdTime,
            ))
        actions += [
            AddFile(path=a.path, partitionValues=a.partitionValues,
                    size=a.size, stats=a.stats,
                    deletionVector=a.deletionVector,
                    # same physical file, same rows: restored rows keep
                    # their row-tracking ids
                    baseRowId=a.baseRowId,
                    defaultRowCommitVersion=a.defaultRowCommitVersion)
            for a in to_add
        ]
        actions += [
            RemoveFile(path=a.path, partitionValues=a.partitionValues,
                       size=a.size)
            for a in to_remove
        ]
        all_read = {a.path for a in snap.files} | {a.path for a in target.files}
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="RESTORE",
                operationMetrics={
                    "numRestoredFiles": str(len(to_add)),
                    "numRemovedFiles": str(len(to_remove)),
                },
                operationParameters={"version": str(target.version)})],
            read_paths=all_read,
            removed_paths={a.path for a in to_remove},
        )

    def clone_to(self, target_path: str) -> "TableLog":
        """Shallow CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): create a
        new table at ``target_path`` whose version 0 references the source
        snapshot's data files *in place* via absolute paths — zero data is
        copied. The clone gets a fresh table id; subsequent writes land in
        the clone's own directories and never touch the source, and the
        clone's VACUUM only scans its own tree, so source files are safe
        from it by construction.

        Deletion-vector descriptors are carried over with their paths
        absolutized the same way (inline DVs pass through verbatim).

        Metadata-priced at any scale: cost is one commit of the source's
        file list. The standard fork-for-experiment primitive on a 100 TB
        table.
        """
        snap = self.snapshot()
        clone = TableLog(self.spark, target_path)
        if clone.exists():
            raise ValueError(f"table already exists at {clone.path}")
        os.makedirs(clone.log_path, exist_ok=True)
        ts = clone._next_commit_timestamp()
        meta = Metadata(
            id=uuid.uuid4().hex,
            name=snap.metadata.name,
            description=snap.metadata.description,
            format=snap.metadata.format,
            schemaString=snap.metadata.schemaString,
            partitionColumns=snap.metadata.partitionColumns,
            configuration=snap.metadata.configuration,
            createdTime=ts,
        )

        def abs_dv(dv: dict | None) -> dict | None:
            if dv and dv.get("storageType") == "u":
                dv = dict(dv)
                dv["pathOrInlineDv"] = self.abs_path(dv["pathOrInlineDv"])
            return dv

        actions: list[Action] = [Protocol(), meta]
        # domain state (row-tracking high-water mark etc.) transfers with
        # the referenced files — the clone's ids stay stable and its own
        # future allocations start past the source's mark
        actions += [DomainMetadata(d, cfg) for d, cfg in
                    sorted(snap.domain_metadata.items())]
        actions += [
            AddFile(path=self.abs_path(a.path),
                    partitionValues=a.partitionValues, size=a.size,
                    stats=a.stats, deletionVector=abs_dv(a.deletionVector),
                    baseRowId=a.baseRowId,
                    defaultRowCommitVersion=a.defaultRowCommitVersion)
            for a in snap.files
        ]
        actions.append(CommitInfo(
            version=0, timestamp=ts, operation="CLONE",
            operationMetrics={"numFiles": str(len(snap.files))},
            operationParameters={"source": self.path,
                                 "sourceVersion": str(snap.version)}))
        clone._write_commit(0, actions)
        return clone

    def optimize(self, target_file_rows: int = 1_000_000,
                 where: str | None = None) -> int:
        """OPTIMIZE (compaction): bin-pack small files into larger ones,
        partition by partition. The rewrite is dataChange=false on both
        sides, so streams reading the log skip it (no change-commit error —
        the reference's source only admits dataChange files,
        DeltaSharingSource file filtering).

        ``where`` scopes the compaction to matching PARTITIONS (Delta's
        ``OPTIMIZE tbl WHERE <partition predicate>``): a SQL expression
        over partition columns only — anything else raises, like Delta's
        analyzer. At 100 TB this is how nightly maintenance touches only
        yesterday's partition instead of relisting the whole table.

        At 100 TB this is the small-files cure: read-side task count drops
        from O(commits x partitions) to O(data size / target file size).

        Conflict behavior: compaction reads ONLY the files it compacts, so
        concurrent appends are logically disjoint — the commit REBASES over
        them instead of aborting (Delta's disjoint-files rule). Only a
        concurrent remove/DV-rewrite of a compacted input file conflicts.
        Background compaction must not lose races to ingest.

        On a table with DECLARED clustering columns (CREATE ... CLUSTER BY
        / set_cluster_by), un-scoped OPTIMIZE is clustering MAINTENANCE
        (liquid semantics): it z-orders only the files added since the
        last clustering commit — plain bin-packing would destroy the
        clustered layout it just paid for. ``where``-scoped compaction
        still bin-packs (partition maintenance is orthogonal).
        """
        snap = self.snapshot()
        declared = snap.metadata.configuration.get(self.CLUSTERING_KEY)
        if declared and where is None:
            v = self.zorder_incremental(declared.split(","),
                                        target_file_rows=target_file_rows,
                                        merge_small=True)
            # nothing new since the last clustering commit -> no-op
            return v if v is not None else self.latest_version()
        # group active files by partition values; compact groups with >1 file
        groups: dict[tuple, list[AddFile]] = {}
        for add in snap.files:
            key = tuple(sorted(add.partitionValues.items()))
            groups.setdefault(key, []).append(add)
        if where is not None:
            groups = self._filter_partition_groups(snap, groups, where)
        actions: list[Action] = []
        n_compacted = 0
        for _key, files in sorted(groups.items()):
            # single clean files are already compact; a lone file carrying a
            # deletion vector still rewrites (OPTIMIZE purges DVs — the read
            # is DV-aware, so the rewrite materializes logical rows only)
            if len(files) < 2 and not any(a.deletionVector for a in files):
                continue
            df = self._read_files(snap, files,
                                  with_row_ids=snap.row_tracking_enabled)
            n_rows = sum(a.logical_records or 0 for a in files)
            n_out = max(1, -(-n_rows // target_file_rows))
            staged = self._stage_dataframe(
                df.repartition(n_out), snap.partition_columns,
                self.data_path, snap=snap
            )
            actions += [
                AddFile(path=p, partitionValues=pv, size=sz, stats=st,
                        dataChange=False)
                for p, pv, sz, st in staged
            ]
            actions += [
                RemoveFile(path=a.path, partitionValues=a.partitionValues,
                           size=a.size, dataChange=False)
                for a in files
            ]
            n_compacted += len(files)
        compacted_inputs = {x.path for x in actions
                            if isinstance(x, RemoveFile)}
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="OPTIMIZE",
                operationParameters=(
                    {"predicate": where} if where is not None else {}),
                operationMetrics={"numCompacted": str(n_compacted)})],
            read_paths=compacted_inputs,
            removed_paths=compacted_inputs,
            tolerate_data_appends=True,
        )

    def _filter_partition_groups(
            self, snap: Snapshot, groups: dict[tuple, list[AddFile]],
            where: str) -> dict[tuple, list[AddFile]]:
        """Keep only the partition groups matching a SQL predicate over
        partition columns (the OPTIMIZE WHERE scope). Reuses the wire
        path's partition-hint evaluator (declared-type casts, literal-safe
        column substitution); a predicate it cannot restrict to partition
        columns raises, like Delta's analyzer. Partition counts are
        bounded, so the evaluation is one tiny local job."""
        from delta_sharing_spark.plans.predicates import (
            sql_hint_keep_condition,
        )

        cond = sql_hint_keep_condition(
            where, snap.partition_columns, snap.schema)
        if cond is None:
            raise ValueError(
                f"OPTIMIZE WHERE supports predicates over partition "
                f"columns only {snap.partition_columns}; got: {where!r}")
        phys2log = dict(zip(snap.physical_partition_columns,
                            snap.partition_columns))
        keys = list(groups)
        rows = [
            {"k": i,
             "partitionValues": {phys2log.get(c, c): v for c, v in key}}
            for i, key in enumerate(keys)
        ]
        df = self.spark.createDataFrame(
            rows, "k INT, partitionValues MAP<STRING,STRING>")
        kept = {r["k"] for r in df.filter(cond).collect()}
        return {key: groups[key] for i, key in enumerate(keys) if i in kept}

    def reorg_purge(self) -> int | None:
        """REORG TABLE APPLY (PURGE) — Delta's reorg: rewrite files that
        still physically carry soft-deleted data, i.e. bytes of columns
        DROPPED under column mapping (drop is metadata-only, the bytes
        stay until purged) and rows masked by deletion vectors.

        Candidate detection reads parquet FOOTERS (O(KB) per file,
        driver-side — a maintenance op over the active file list): a file
        whose top-level physical columns include names absent from the
        current physical schema carries dropped bytes. The rewrite reads
        logical rows (DV-masked, current schema only) and stages files
        containing exactly the live columns. dataChange=false on both
        sides, so streams skip it like OPTIMIZE; old versions stay
        readable via time travel (the old files remain until vacuum).
        Returns the committed version, or None when nothing needs purging.
        """
        import pyarrow.parquet as pq

        snap = self.snapshot()
        phys_fields = {f.name for f in snap.physical_schema.fields}
        if snap.row_tracking_enabled:
            # materialized row-tracking columns are maintenance state,
            # not dropped bytes — never purge-trigger on them
            phys_fields |= set(snap.materialized_row_id_cols)
        candidates: list[AddFile] = []
        for a in snap.files:
            if a.deletionVector:
                candidates.append(a)
                continue
            try:
                names = set(
                    pq.ParquetFile(self._scan_abs(a)).schema_arrow.names)
            except Exception:  # unreadable footer -> rewrite to be safe
                candidates.append(a)
                continue
            if names - phys_fields:  # physical bytes of dropped columns
                candidates.append(a)
        if not candidates:
            return None
        # explicit declared schema: dropped physical columns are never even
        # read, and mixed old/new files can't skew schema inference
        keep = [f.name for f in snap.schema.fields]
        if snap.row_tracking_enabled:
            # the purge rewrite changes the physical row set (DV rows
            # vanish), so fresh base+index ids would shift — materialize
            mat_id, mat_ver = snap.materialized_row_id_cols
            df = (self.read_adds_with_row_ids(snap, candidates,
                                              schema=snap.schema)
                  .withColumnRenamed("_row_id", mat_id)
                  .withColumnRenamed("_row_commit_version", mat_ver)
                  .select(keep + [mat_id, mat_ver]))
        else:
            df = self.read_adds(candidates, schema=snap.schema,
                                snap=snap).select(keep)
        staged = self._stage_dataframe(df, snap.partition_columns,
                                       self.data_path, snap=snap)
        actions: list[Action] = [
            AddFile(path=p, partitionValues=pv, size=sz, stats=st,
                    dataChange=False)
            for p, pv, sz, st in staged
        ]
        actions += [
            RemoveFile(path=a.path, partitionValues=a.partitionValues,
                       size=a.size, dataChange=False)
            for a in candidates
        ]
        purged = {a.path for a in candidates}
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="REORG",
                operationParameters={"applyPurge": "true"},
                operationMetrics={"numPurged": str(len(candidates))})],
            read_paths=purged,
            removed_paths=purged,
            tolerate_data_appends=True,
        )

    def compact_deletion_vectors(self) -> int | None:
        """Collapse stacked DV generations into ONE packed DV parquet and
        re-point every dirty file's descriptor at it (remove + re-add of the
        same path, ``dataChange=false`` — streams skip it, like OPTIMIZE).

        Each DV-writing commit leaves one generation parquet; a workload
        stacking many small DELETEs makes the read side open one parquet per
        surviving generation. This is the descriptor-only cure: logical rows
        never change, no data file is rewritten, and the read path is back
        to a single DV scan. Cardinalities are preserved (a file's deleted
        set is fully carried forward into its latest generation, so the
        deduped union is exactly the per-file sets). Returns the committed
        version, or None when ≤1 generation is live (already compact)."""
        snap = self.snapshot()
        dirty = [a for a in snap.files if a.deletionVector]
        stored = [a for a in dirty
                  if a.deletionVector["storageType"] == "u"]
        inline = [a for a in dirty
                  if a.deletionVector["storageType"] == "i"]
        gens = sorted({a.deletionVector["pathOrInlineDv"] for a in stored})
        # inline descriptors cost no file opens, but each one decodes
        # driver-side on every read — past this population they fold into
        # the packed file too
        fold_inline = inline \
            if len(inline) > INLINE_DV_COMPACT_FILES else []
        if not fold_inline and len(gens) <= 1:
            return None
        # _dv_rows_df handles stored + inline generations AND translates
        # shallow-clone source-root paths; map back to as-recorded paths
        rows = (
            self._dv_rows_df(stored + fold_inline)
            .select(self._as_recorded_path("__dv_file").alias("path"),
                    F.col("__dv_ri").alias("row_index"))
            .distinct()
        )
        dirty = stored + fold_inline  # untouched inline descs stay as-is
        dv_rel, dv_size = self._write_dv_file(rows)
        actions: list[Action] = []
        for a in sorted(dirty, key=lambda x: x.path):
            actions.append(
                RemoveFile(path=a.path, partitionValues=a.partitionValues,
                           size=a.size, dataChange=False))
            actions.append(AddFile(
                path=a.path, partitionValues=a.partitionValues,
                size=a.size, stats=a.stats, dataChange=False,
                baseRowId=a.baseRowId,
                defaultRowCommitVersion=a.defaultRowCommitVersion,
                deletionVector={
                    "storageType": "u",
                    "pathOrInlineDv": dv_rel,
                    "cardinality": a.dv_cardinality,
                    "sizeInBytes": dv_size,
                }))
        touched = {a.path for a in dirty}
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="COMPACT DVS",
                operationMetrics={
                    "numGenerations": str(len(gens)),
                    "numFiles": str(len(dirty)),
                })],
            read_paths=touched,
            removed_paths=touched,
            tolerate_data_appends=True,
        )

    def expire_log(self, keep_last: int = 100,
                   retention: "str | int | timedelta | None" = None,
                   dry_run: bool = False,
                   now_millis: int | None = None) -> list[int]:
        """Metadata-plane retention (Delta's ``delta.logRetentionDuration``
        shape): delete commit JSONs older than the newest ``keep_last``
        versions AND (when ``retention`` is given) older than the retention
        window — both criteria must agree, so each acts as a keep-at-least
        floor. Expiry only proceeds where a checkpoint at/after the cutoff
        can seed replay — snapshot resolution for retained versions never
        needs the expired tail. Time travel to expired versions raises
        ``VersionNotFoundError`` afterwards (the documented Delta
        trade-off). At 100k commits this is what keeps `_dsl_log` listing
        and cold-start replay O(retained), not O(table lifetime).

        ``retention`` accepts a ``timedelta``, millis, or an
        ``"interval 30 days"`` / ``"7 days"`` style string (Delta's
        ``delta.logRetentionDuration`` syntax). Pure age-based retention =
        ``keep_last=1`` plus ``retention``.

        Returns the expired versions (empty when nothing can be safely
        expired — e.g. no checkpoint covers the cutoff). With no explicit
        ``retention``, the ``delta.logRetentionDuration`` table property
        supplies the window."""
        if retention is None:
            retention = self.snapshot().metadata.configuration.get(
                "delta.logRetentionDuration")
        versions = self._list_versions()
        if len(versions) <= keep_last:
            return []
        cutoff = versions[-keep_last]  # want to keep cutoff..latest
        if retention is not None:
            ret_ms = _parse_retention_millis(retention)
            now = (int(time.time() * 1000)
                   if now_millis is None else now_millis)
            age_floor = now - ret_ms
            # keep every version still inside the retention window: the
            # age cutoff is the OLDEST version with ts >= floor (fall back
            # to latest — the head commit is never expendable)
            age_cutoff = versions[-1]
            for v, ts in self._version_timestamps():
                if ts >= age_floor:
                    age_cutoff = v
                    break
            cutoff = min(cutoff, age_cutoff)
        cp = self._latest_checkpoint(at_or_before=cutoff)
        if cp is None:
            return []  # nothing can seed replay for the retained range
        # only commits strictly BELOW the seeding checkpoint are expendable:
        # any retained version v resolves as checkpoint(≤v) + commits
        # (cp', v], all of which are ≥ cp. The checkpoint's own commit JSON
        # stays (it anchors _read_checkpoint's timestamp resolution), as do
        # commits in [cp, cutoff) — retention is "at least keep_last", the
        # checkpoint cadence sets the granularity.
        expendable = [v for v in versions if v < cp]
        if not dry_run:
            for v in expendable:
                os.remove(os.path.join(self.log_path, _fmt_version(v)))
                try:  # the checksum sidecar expires with its commit
                    os.remove(self._crc_path(v))
                except FileNotFoundError:
                    pass
            # checkpoints below the seeding one go too: an orphaned old
            # checkpoint would (a) let snapshot(expired_version) silently
            # serve stale state instead of raising, and (b) pin every data
            # file it lists on disk forever through vacuum's reference scan
            for cpv in self._list_checkpoints():
                if cpv < cp:
                    cpp = os.path.join(self.log_path, _fmt_checkpoint(cpv))
                    if os.path.isdir(cpp):  # multi-part checkpoint dir
                        shutil.rmtree(cpp)
                    else:
                        os.remove(cpp)
            # v2 sidecars are shared across checkpoints by content hash:
            # after dropping old manifests, GC any sidecar no RETAINED
            # manifest references (an expired-only sidecar would otherwise
            # pin its bytes forever)
            sidecar_dir = os.path.join(self.log_path, SIDECAR_DIR)
            if os.path.isdir(sidecar_dir):
                referenced = set()
                for cpv in self._list_checkpoints():
                    referenced.update(
                        os.path.basename(rel)
                        for rel in self._checkpoint_sidecars(cpv))
                for fn in os.listdir(sidecar_dir):
                    if fn.endswith(".parquet") and fn not in referenced:
                        os.remove(os.path.join(sidecar_dir, fn))
                # drop hash companions whose parquet is gone (GC'd above
                # or never completed)
                for fn in os.listdir(sidecar_dir):
                    if fn.endswith(".parquet.sha256") and not os.path.exists(
                            os.path.join(sidecar_dir, fn[:-7])):
                        os.remove(os.path.join(sidecar_dir, fn))
        # cached snapshots and commits of the expired versions fail their
        # file-identity check on the next hit (_cached_snapshot)
        return expendable

    def vacuum(self, dry_run: bool = False,
               retention_hours: float | None = None) -> list[str]:
        """VACUUM. Two modes:

        - ``retention_hours=None`` (default, conservative): delete only
          files no longer referenced by ANY version of the log — time
          travel keeps working for every retained version.
        - ``retention_hours=H`` (Delta's ``VACUUM ... RETAIN H HOURS``,
          default 168 there): additionally delete files whose LAST removal
          tombstone is older than the retention window, plus unreferenced
          on-disk leftovers older than it — reclaiming space at the
          documented Delta cost that time travel/CDF beyond the window
          stops working. Files of the CURRENT snapshot (and their DV
          parquets) are always kept.

        NOTE: the conservative mode walks the full commit history — run
        BEFORE ``expire_log`` in a maintenance cycle, since expired
        commits can no longer prove a historical file referenced (vacuum
        after expiry may delete files that only expired versions
        referenced — which is the point).

        With no explicit ``retention_hours``, the table property
        ``delta.deletedFileRetentionDuration`` (Delta's vacuum default
        source) supplies the window; absent both, the conservative mode
        runs."""
        if retention_hours is None:
            prop = self.snapshot().metadata.configuration.get(
                "delta.deletedFileRetentionDuration")
            if prop is not None:
                retention_hours = _parse_retention_millis(prop) / 3_600_000
        if retention_hours is not None:
            return self._vacuum_retention(dry_run, retention_hours)
        referenced: set[str] = set()

        def note(add: AddFile) -> None:
            referenced.add(add.path)
            if add.deletionVector and \
                    add.deletionVector["storageType"] == "u":
                referenced.add(add.deletionVector["pathOrInlineDv"])

        for commit in self.commits():
            for add in commit.adds:
                note(add)
            for c in commit.cdc:
                referenced.add(c.path)
        # checkpoints carry the active file set of versions whose commit
        # JSONs may have been expired (expire_log); without this, a vacuum
        # after expiry would see e.g. the v0 create's files in no retained
        # commit and delete data the CURRENT snapshot still serves
        for cp_version in self._list_checkpoints():
            _m, active, _ts, _txns, _dm = self._read_checkpoint(cp_version)
            for add in active.values():
                note(add)
        removable: list[str] = []
        for base in (self.data_path, self.cdc_path, self.dv_path):
            if not os.path.isdir(base):
                continue
            for root, _dirs, files in os.walk(base):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(os.path.join(root, fn), self.path)
                    if rel not in referenced:
                        removable.append(rel)
        if not dry_run:
            for rel in removable:
                os.remove(self.abs_path(rel))
        return sorted(removable)

    def _vacuum_retention(self, dry_run: bool,
                          retention_hours: float) -> list[str]:
        """Retention-window vacuum (Delta VACUUM semantics): keep the
        current snapshot's files (+ DV parquets they reference); any other
        on-disk parquet is deletable once its last tombstone — or, for
        never-referenced leftovers, its mtime — is older than the
        window."""
        cutoff_ms = int(time.time() * 1000) - retention_hours * 3_600_000
        snap = self.snapshot()
        keep: set[str] = set()
        for add in snap.files:
            keep.add(add.path)
            if add.deletionVector and \
                    add.deletionVector["storageType"] == "u":
                keep.add(add.deletionVector["pathOrInlineDv"])
        # last log event per path (commit order): an add after a remove
        # resurrects the file; only a FINAL remove tombstones it. cdc
        # files tombstone at their own commit time (CDF beyond the window
        # is reclaimed, like Delta's CDC data under VACUUM). DV parquets
        # never appear as add/remove actions — they ride inside AddFile
        # descriptors — so each one's lifetime is tied to the files that
        # reference it: deletable only when EVERY referencing file's last
        # log event is older than the window (a retained version could
        # otherwise read a file without its deletion vector and resurrect
        # deleted rows).
        last_event: dict[str, tuple[str, int]] = {}
        dv_refs: dict[str, set[str]] = {}
        for commit in self.commits():
            for add in commit.adds:
                last_event[add.path] = ("add", commit.timestamp)
                if add.deletionVector and \
                        add.deletionVector["storageType"] == "u":
                    dv_refs.setdefault(
                        add.deletionVector["pathOrInlineDv"], set()
                    ).add(add.path)
            for r in commit.removes:
                last_event[r.path] = ("remove", commit.timestamp)
            for c in commit.cdc:
                last_event[c.path] = ("cdc", commit.timestamp)
        for dv_path, refs in dv_refs.items():
            ts = max((last_event[p][1] for p in refs if p in last_event),
                     default=None)
            if ts is not None:
                # acts like a tombstone at the last referencing change
                last_event.setdefault(dv_path, ("remove", ts))
        removable: list[str] = []
        for base in (self.data_path, self.cdc_path, self.dv_path):
            if not os.path.isdir(base):
                continue
            for root, _dirs, files in os.walk(base):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(os.path.join(root, fn), self.path)
                    if rel in keep:
                        continue
                    ev = last_event.get(rel)
                    if ev is None:
                        # never referenced (failed-write leftover): age by
                        # mtime, like Delta's file-age rule
                        mtime_ms = os.path.getmtime(self.abs_path(rel)) * 1000
                        if mtime_ms <= cutoff_ms:
                            removable.append(rel)
                    elif ev[0] == "remove" and ev[1] <= cutoff_ms:
                        removable.append(rel)
                    elif ev[0] == "cdc" and ev[1] <= cutoff_ms:
                        removable.append(rel)
        if not dry_run:
            for rel in removable:
                os.remove(self.abs_path(rel))
        return sorted(removable)

    def _zorder_cuts(self, df: DataFrame, columns: list[str],
                     n_buckets: int) -> dict[str, tuple[str, list]]:
        """Per-column quantile cut-points for z-order bucketing, computed
        WITHOUT a global sort: numeric/temporal columns use one
        ``approxQuantile`` pass (Greenwald-Khanna sketch — a distributed
        aggregate whose state is O(1/err) per column, independent of row
        count); other orderable types (strings) use a deterministic sample
        sort (the same technique Spark's RangePartitioner uses to choose
        range bounds). Returns ``{col: (kind, sorted_cuts)}`` where kind is
        ``"num"`` (cuts in double space) or ``"raw"``."""
        numeric_like = (T.NumericType,)
        out: dict[str, tuple[str, list]] = {}
        num_cols, raw_cols = [], []
        for f in df.schema.fields:
            if f.name not in columns:
                continue
            if isinstance(f.dataType, numeric_like):
                num_cols.append(f.name)
            elif isinstance(f.dataType, (T.DateType, T.TimestampType,
                                         T.TimestampNTZType)):
                num_cols.append(f.name)  # castable to double via timestamp
            else:
                raw_cols.append(f.name)
        probs = [i / n_buckets for i in range(1, n_buckets)]
        if num_cols:
            as_double = df.select([
                F.col(c).cast("timestamp").cast("double").alias(c)
                if isinstance(df.schema[c].dataType,
                              (T.DateType, T.TimestampNTZType))
                else F.col(c).cast("double").alias(c)
                for c in num_cols
            ])
            rel_err = 1.0 / (4 * n_buckets)
            quantiles = as_double.approxQuantile(num_cols, probs, rel_err)
            for c, cuts in zip(num_cols, quantiles):
                out[c] = ("num", sorted(cuts))
        for c in raw_cols:
            # deterministic sample sort: ~32 samples per bucket bounds the
            # per-bucket rank error like a range partitioner's bounds
            target = n_buckets * 32
            total = df.select(F.count(F.col(c)).alias("n")).first()["n"]
            frac = min(1.0, (target / max(total, 1)) * 1.2)
            sample = [
                r[0] for r in
                df.select(c).dropna().sample(frac, seed=7).collect()
            ]
            sample.sort()
            cuts = [sample[int(j * len(sample) / n_buckets)]
                    for j in range(1, n_buckets)] if sample else []
            out[c] = ("raw", cuts)
        return out

    def _zorder_df(self, snap: "Snapshot", columns: list[str],
                   bits_per_col: int,
                   files: "list[AddFile] | None" = None) -> DataFrame:
        """The clustered DataFrame for ``zorder_by`` — bucket each column by
        broadcast cut-points (vectorized binary search, O(log buckets) per
        value), bit-interleave into a z-value. No unpartitioned window
        anywhere in the plan: the only shuffles are the tiny quantile
        aggregate and the final range repartition."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        df = self._read_files(snap, files if files is not None
                              else snap.files,
                              with_row_ids=snap.row_tracking_enabled)
        n_buckets = 1 << bits_per_col
        cuts_by_col = self._zorder_cuts(df, columns, n_buckets)

        def make_bucket_udf(cuts: list, is_num: bool):
            arr = np.array(cuts, dtype="float64" if is_num else object)

            @pandas_udf("int")  # no type hints: postponed-annotations module
            def bucket(v):
                idx = np.zeros(len(v), dtype="int64")
                mask = v.notna().to_numpy()
                if mask.any() and len(arr):
                    vals = v.to_numpy()[mask]
                    if is_num:
                        vals = vals.astype("float64")
                    idx[mask] = np.searchsorted(arr, vals, side="right")
                return pd.Series(np.minimum(idx, n_buckets - 1))

            return bucket

        zcols = []
        for i, c in enumerate(columns):
            kind, cuts = cuts_by_col[c]
            src = F.col(c)
            if kind == "num":
                dt = df.schema[c].dataType
                if isinstance(dt, (T.DateType, T.TimestampNTZType)):
                    src = src.cast("timestamp").cast("double")
                else:
                    src = src.cast("double")
            zcols.append(
                make_bucket_udf(cuts, kind == "num")(src).alias(f"__b_{i}")
            )
        return df.select("*", *zcols)

    def zorder_by(self, columns: list[str], bits_per_col: int = 12,
                  target_file_rows: int = 1_000_000,
                  files: "list[AddFile] | None" = None,
                  snap: "Snapshot | None" = None) -> int | None:
        """Z-ORDER clustering rewrite: re-sort the table's data along the
        interleaved bit order of ``columns`` so per-file min/max ranges
        become tight on EVERY listed column, making stats-based file
        skipping effective for predicates on any of them (the standard
        multi-dimensional clustering technique for data skipping; pairs
        with V2 stats pruning, ref JsonPredicateEvaluatorV2.scala:88-464).

        Mechanics: per-column approx-quantile cut-points (one distributed
        sketch aggregate — NOT a global-sort ``ntile`` window, which would
        move every row through a single task) are broadcast into an
        Arrow-vectorized binary-search bucket assignment; buckets are
        bit-interleaved into a z-value; data is range-repartitioned and
        sorted-within-partitions by z. Committed as dataChange=false like
        OPTIMIZE, so streams skip the rewrite.

        At 100 TB: one sketch aggregate + one range shuffle, amortized over
        every subsequent selective scan on any clustered column. Buckets are
        approximate-rank (quantile err ≤ 1/(4·buckets)), which shifts bucket
        boundaries slightly vs exact ntile but preserves the clustering
        property stats skipping needs.
        """
        # callers passing an explicit file subset must pass the snapshot it
        # came from — re-resolving here would let a commit landing between
        # the caller's snapshot and ours escape conflict detection (e.g. a
        # DV DELETE on a chosen file whose rows this rewrite would then
        # resurrect)
        if snap is None:
            if files is not None:
                raise ValueError("zorder_by(files=...) requires the "
                                 "snapshot the file list was taken from")
            snap = self.snapshot()
        files = snap.files if files is None else files
        if not files:
            return None
        with_buckets = self._zorder_df(snap, columns, bits_per_col, files)
        # interleave bits: z = sum over bit positions of each column's bit
        z = F.lit(0).cast("long")
        for bit in range(bits_per_col):
            for i in range(len(columns)):
                pos = bit * len(columns) + i
                z = z + (
                    F.shiftright(F.col(f"__b_{i}"), bit).bitwiseAND(1)
                    .cast("long") * F.lit(1 << pos)
                )
        total_rows = sum(a.logical_records or 0 for a in files)
        n_files = max(1, -(-total_rows // target_file_rows))
        clustered = (
            with_buckets.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z", *[f"__b_{i}" for i in range(len(columns))])
        )
        staged = self._stage_dataframe(clustered, snap.partition_columns,
                                      self.data_path, snap=snap)
        actions: list[Action] = [
            AddFile(path=p, partitionValues=pv, size=sz, stats=st,
                    dataChange=False)
            for p, pv, sz, st in staged
        ]
        actions += [
            RemoveFile(path=a.path, partitionValues=a.partitionValues,
                       size=a.size, dataChange=False)
            for a in files
        ]
        # like OPTIMIZE, clustering reads only the files it rewrites:
        # rebase over concurrent appends (they stay unclustered but alive)
        return self._commit_checked(
            snap,
            lambda v, ts: actions + [CommitInfo(
                version=v, timestamp=ts, operation="ZORDER",
                operationParameters={"columns": ",".join(columns)})],
            read_paths={a.path for a in files},
            removed_paths={a.path for a in files},
            tolerate_data_appends=True,
        )

    def _zcube_select(self, snap: "Snapshot", columns: list[str],
                      candidates: "list[AddFile]",
                      max_overlap: int = 2) -> "list[AddFile]":
        """ZCube-style maintenance pick: among ``candidates``, keep only
        the files whose clustering-column min/max envelope overlaps more
        than ``max_overlap`` OTHER active files (simultaneously on every
        clustered column), or that lack stats on a clustered column.
        Already-tight files are left alone — the pick that makes repeated
        maintenance rewrite only the interfering tail instead of the full
        since-last-ZORDER slice (Delta's OPTIMIZE selects partial ZCubes
        the same way; the overlap count is the per-file form of
        ``clustering_report``'s avg_files_per_probe containment test).

        One metadata-plane Spark job: the candidate envelopes broadcast
        against the file-manifest DataFrame (``files_df``) — never a data
        scan, never a driver loop over the manifest, so the pick holds at
        the 1M-file regime. Envelope overlap on every column is a
        NECESSARY condition for z-space interference, so the pick only
        errs toward rewriting (multi-column z-files have wide per-column
        envelopes and simply stay in the rewrite set)."""
        if not candidates:
            return []
        phys = snap.logical_to_physical or {}
        # a file we cannot judge must be rewritten UNCONDITIONALLY — the
        # overlap join's null-as-overlap fallback only forces a rewrite
        # when enough other files exist to exceed max_overlap, so a
        # stats-less candidate on a small table would otherwise slip
        # through the count and permanently escape clustering
        keys = [phys.get(c, c) for c in columns]

        def judgeable(a) -> bool:
            st = a.stats_dict()
            mins = st.get("minValues") or {}
            maxs = st.get("maxValues") or {}
            return all(mins.get(k) is not None and maxs.get(k) is not None
                       for k in keys)

        unjudgeable, judged = [], []
        for a in candidates:  # one pass: stats_dict re-parses JSON
            (judged if judgeable(a) else unjudgeable).append(a)
        candidates = judged
        if not candidates:
            return unjudgeable

        def envelope(df: DataFrame, p: str) -> DataFrame:
            sel = [F.col("path").alias(f"{p}path")]
            for i, logical in enumerate(columns):
                key = phys.get(logical, logical)
                mn, mx = stat_min_max_cols(df, key)
                sel += [mn.alias(f"{p}mn_s_{i}"), mx.alias(f"{p}mx_s_{i}"),
                        mn.try_cast("double").alias(f"{p}mn_d_{i}"),
                        mx.try_cast("double").alias(f"{p}mx_d_{i}")]
            return df.select(*sel)

        cand = envelope(self.meta_spark.createDataFrame(
            self._manifest_arrow(candidates), self._MANIFEST_SCHEMA), "c_")
        allf = envelope(self.files_df(snap), "g_")
        cond = F.col("g_path") != F.col("c_path")
        for i in range(len(columns)):
            numeric = (F.col(f"c_mn_d_{i}").isNotNull()
                       & F.col(f"c_mx_d_{i}").isNotNull()
                       & F.col(f"g_mn_d_{i}").isNotNull()
                       & F.col(f"g_mx_d_{i}").isNotNull())
            ov_num = ((F.col(f"g_mn_d_{i}") <= F.col(f"c_mx_d_{i}"))
                      & (F.col(f"g_mx_d_{i}") >= F.col(f"c_mn_d_{i}")))
            ov_str = ((F.col(f"g_mn_s_{i}") <= F.col(f"c_mx_s_{i}"))
                      & (F.col(f"g_mx_s_{i}") >= F.col(f"c_mn_s_{i}")))
            # missing stats on either side -> Unknown -> treated as an
            # overlap (a file we cannot judge must be rewritten)
            cond = cond & F.coalesce(
                F.when(numeric, ov_num).otherwise(ov_str), F.lit(True))
        counts = {
            r["c_path"]: r["n"]
            for r in allf.join(F.broadcast(cand), cond)
            .groupBy("c_path").agg(F.count(F.lit(1)).alias("n"))
            .collect()  # one row per candidate — maintenance-slice sized
        }
        return unjudgeable + [a for a in candidates
                              if counts.get(a.path, 0) > max_overlap]

    def _zcube_absorb(self, snap: "Snapshot", columns: list[str],
                      rewrite: "list[AddFile]",
                      max_overlap: int = 2) -> "list[AddFile]":
        """Grouped ZCube pick: active files OUTSIDE the rewrite set whose
        clustering envelope spans more than ``max_overlap`` of the files
        being rewritten are absorbed INTO the rewrite. This is how an
        already-committed wide-span file — one the incremental baseline
        never revisits because it predates the last same-key ZORDER —
        gets fixed: the moment a maintenance pass rewrites the slice it
        interferes with, it is rewritten together with that slice and
        comes out tight (Delta's OPTIMIZE merges partial ZCubes the same
        way: a cube is extended with the files it interleaves).

        Same one metadata-plane Spark job shape as ``_zcube_select``,
        with the sides flipped: the (small) rewrite set broadcasts
        against the full file manifest, so the pick holds at the
        1M-file regime. Only files the count indicts are collected.
        A bulk file without stats on a clustered column is Unknown on
        every probe — treated as overlapping, so it is absorbed the
        first time a big-enough rewrite happens and comes out with
        stats; subsequent cycles judge it normally."""
        if not rewrite:
            return []
        phys = snap.logical_to_physical or {}

        def envelope(df: DataFrame, p: str) -> DataFrame:
            sel = [F.col("path").alias(f"{p}path")]
            for i, logical in enumerate(columns):
                key = phys.get(logical, logical)
                mn, mx = stat_min_max_cols(df, key)
                sel += [mn.alias(f"{p}mn_s_{i}"), mx.alias(f"{p}mx_s_{i}"),
                        mn.try_cast("double").alias(f"{p}mn_d_{i}"),
                        mx.try_cast("double").alias(f"{p}mx_d_{i}")]
            return df.select(*sel)

        rw = envelope(self.meta_spark.createDataFrame(
            self._manifest_arrow(rewrite), self._MANIFEST_SCHEMA), "c_")
        allf = envelope(self.files_df(snap), "g_")
        cond = F.lit(True)
        for i in range(len(columns)):
            numeric = (F.col(f"c_mn_d_{i}").isNotNull()
                       & F.col(f"c_mx_d_{i}").isNotNull()
                       & F.col(f"g_mn_d_{i}").isNotNull()
                       & F.col(f"g_mx_d_{i}").isNotNull())
            ov_num = ((F.col(f"g_mn_d_{i}") <= F.col(f"c_mx_d_{i}"))
                      & (F.col(f"g_mx_d_{i}") >= F.col(f"c_mn_d_{i}")))
            ov_str = ((F.col(f"g_mn_s_{i}") <= F.col(f"c_mx_s_{i}"))
                      & (F.col(f"g_mx_s_{i}") >= F.col(f"c_mn_s_{i}")))
            cond = cond & F.coalesce(
                F.when(numeric, ov_num).otherwise(ov_str), F.lit(True))
        rewrite_paths = {a.path for a in rewrite}
        spanning = {
            r["g_path"]
            for r in allf.join(F.broadcast(rw), cond)
            .groupBy("g_path").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_overlap)
            .collect()  # only indicted files — rewrite-slice sized
            if r["g_path"] not in rewrite_paths
        }
        if not spanning:
            return []
        return [a for a in snap.files if a.path in spanning]

    def zorder_incremental(self, columns: list[str],
                           bits_per_col: int = 12,
                           target_file_rows: int = 1_000_000,
                           merge_small: bool = False,
                           max_overlap: int | None = 2) -> int | None:
        """Incrementally cluster only the files ADDED since the last ZORDER
        commit (Delta's clustering-maintenance shape): re-clustering a
        100 TB table wholesale per ingest batch is impractical, but the
        newly appended slice is small — cluster it, leave the already-
        clustered bulk untouched. Each file's min/max stays tight on the
        clustered columns (cut-points come from the new slice's own
        quantiles), so stats skipping works across old and new files alike.

        Two liquid-parity rules keep maintenance honest:

        - only a prior ZORDER on the SAME column set counts as the
          baseline — after a clustering-key change every file predating
          retained same-key history is re-clustered on the new key (the
          set_cluster_by contract);
        - with ``merge_small`` (the optimize()-maintenance mode),
          already-clustered files far below the target size (< half of
          ``target_file_rows`` logical rows) re-enter the rewrite — but
          only when merging them actually REDUCES the file count — so
          repeated maintenance passes MERGE their outputs instead of
          accreting one under-sized file per pass (clustering is also
          the compaction path on clustered tables) while staying
          idempotent: a pass that changed nothing commits nothing.

        ``max_overlap`` (default 2) turns on the ZCube-style incremental
        pick: adequately-sized fresh files whose clustering envelope
        interferes with at most that many other active files are left
        alone instead of re-clustered — sustained-ingest maintenance
        rewrites only the files that actually hurt skipping, not the
        whole since-last-ZORDER slice. The pick is GROUPED: any other
        active file (exempted or already-committed bulk) whose envelope
        spans more than ``max_overlap`` of the files being rewritten is
        absorbed into the rewrite, so wide-span files that predate the
        incremental baseline still get fixed. ``None`` restores the
        rewrite-everything-fresh behavior.

        Returns the committed version, or None when nothing needs work."""
        snap = self.snapshot()
        # newest-first scan, stop at the first same-key ZORDER: O(commits
        # since last clustering), not O(history). If the log was truncated
        # by expire_log before any retained same-key ZORDER, treat the
        # truncation point as the baseline — files that predate retained
        # history are never silently swept into a full-table rewrite by a
        # maintenance call.
        versions = self._list_versions()
        last_z = (versions[0] - 1) if versions and versions[0] > 0 else -1
        key = ",".join(columns)
        for v in reversed(versions):
            c = self.read_commit(v)
            if (c.info is not None and c.info.operation == "ZORDER"
                    and (c.info.operationParameters or {})
                    .get("columns") == key):
                last_z = v
                break
        fresh = [a for a in snap.files if (a.version or 0) > last_z]
        if fresh and max_overlap is not None:
            # ZCube pick eligibility: OVER-sized files always split (a
            # brand-new one-file table has zero overlaps but is maximally
            # unclustered — size, not overlap, is its signal). UNDER-sized
            # files depend on the mode: under merge_small (the optimize()
            # maintenance mode) they must always re-enter so passes MERGE
            # them — exempting would accrete one small file per cycle;
            # without merge_small nothing merges anyway, so a 1:1 rewrite
            # of a lone tight small file is pure write amplification
            # (same single file, same envelope) — they follow the same
            # overlap rule as well-sized files instead.
            thr = target_file_rows // 2 if merge_small else 0
            eligible = [a for a in fresh
                        if thr <= (a.logical_records or 0)
                        <= target_file_rows]
            epaths = {a.path for a in eligible}
            forced = [a for a in fresh if a.path not in epaths]
            fresh = self._zcube_select(snap, columns, eligible,
                                       max_overlap) + forced
        small_files = []
        if merge_small:
            threshold = target_file_rows // 2
            small_files = [a for a in snap.files
                           if (a.version or 0) <= last_z
                           and (a.logical_records or 0) < threshold]
        if not fresh:
            if not small_files:
                return None
            total = sum(a.logical_records or 0 for a in small_files)
            n_out = max(1, -(-total // target_file_rows))
            if len(small_files) <= n_out:
                return None  # merging would not reduce the file count
            new_files = small_files
        else:
            new_files = fresh + small_files
        if max_overlap is not None:
            # grouped pick: a wide-span active file (exempted fresh OR
            # already-committed bulk the incremental baseline never
            # revisits) that interferes with more than max_overlap of
            # the files being rewritten joins the rewrite and comes out
            # tight. One pass per cycle — no fixpoint; repeated
            # maintenance converges because outputs are tight.
            new_files = new_files + self._zcube_absorb(
                snap, columns, new_files, max_overlap)
        return self.zorder_by(columns, bits_per_col=bits_per_col,
                              target_file_rows=target_file_rows,
                              files=new_files, snap=snap)

    def clustering_report(self, columns: list[str] | None = None,
                          probes: int = 32) -> DataFrame:
        """Clustering-quality report (the diagnostic Delta's liquid
        clustering surfaces next to OPTIMIZE): one row per clustered
        column with stats coverage, mean normalized min-max width
        (numeric columns), and the measured point-lookup cost
        ``avg_files_per_probe`` — the expected number of files a
        stats-pruned equality lookup on that column still has to scan
        (1.0 = perfectly clustered, n_files = stats useless).

        ``columns`` defaults to the most recent ZORDER commit's clustered
        set. Probe points are a deterministic hash-ordered sample of file
        min values; containment is a broadcast range join against the file
        MANIFEST (``files_df``), so each column costs one Spark job over
        the metadata plane — never a driver loop over files — and the
        report works unchanged at the 1M-file regime. Column-mapped
        tables report under logical names (stats keys are physical).
        """
        snap = self.snapshot()
        if columns is None:
            declared = snap.metadata.configuration.get(self.CLUSTERING_KEY)
            if declared:
                columns = declared.split(",")
            else:
                crc = self.read_crc(snap.version)
                if crc is not None and "clusteringColumns" in crc:
                    columns = crc["clusteringColumns"] or None  # O(1) path
                else:
                    columns = self._find_clustering_columns(
                        snap.version) or None
            if columns is None:
                raise ValueError(
                    "no declared clustering and no ZORDER commit in "
                    "retained history; pass columns=")
        phys = snap.logical_to_physical or {}
        manifest = self.files_df(snap)
        rows = []
        for logical in columns:
            key = phys.get(logical, logical)
            mn_s, mx_s = stat_min_max_cols(manifest, key)
            col_df = manifest.select(
                mn_s.alias("mn_s"), mx_s.alias("mx_s"),
                mn_s.try_cast("double").alias("mn_d"),
                mx_s.try_cast("double").alias("mx_d"),
            )
            a = col_df.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.count("mn_s").alias("n_stats"),
                F.count(F.when(F.col("mn_s").isNotNull()
                               & F.col("mn_d").isNull(), 1))
                .alias("n_nonnum"),
                F.min("mn_d").alias("gmin"),
                F.max("mx_d").alias("gmax"),
                F.avg(F.col("mx_d") - F.col("mn_d")).alias("avg_w"),
            ).collect()[0]  # one summary row — metadata plane
            numeric = a.n_stats > 0 and a.n_nonnum == 0
            width_frac = None
            if numeric and a.gmax is not None and a.gmax > a.gmin:
                width_frac = float(a.avg_w) / (a.gmax - a.gmin)
            elif numeric and a.gmax is not None:
                width_frac = 0.0
            # deterministic probe sample of file min values — collected
            # once (<= probes scalars, metadata plane) so the sample
            # pipeline isn't re-run inside the containment join
            val = F.col("mn_d") if numeric else F.col("mn_s")
            probe_vals = [r.p for r in (
                col_df.filter(F.col("mn_s").isNotNull())
                .select(val.alias("p")).distinct()
                .orderBy(F.md5(F.col("p").cast("string")))
                .limit(probes)
            ).collect()]
            lo = F.col("mn_d") if numeric else F.col("mn_s")
            hi = F.col("mx_d") if numeric else F.col("mx_s")
            per_probe = None
            if probe_vals:
                probe_rows = self.meta_spark.createDataFrame(
                    [(v,) for v in probe_vals],
                    f"p {'double' if numeric else 'string'}")
                # a file WITHOUT stats can never be pruned, so it counts
                # as a hit for every probe — otherwise the metric reads
                # "perfectly clustered" exactly when missing stats are
                # the problem the n_stats column exposes
                hits = col_df.join(
                    F.broadcast(probe_rows),
                    F.col("mn_s").isNull()
                    | ((F.col("p") >= lo) & (F.col("p") <= hi))).count()
                per_probe = hits / len(probe_vals)
            rows.append((logical, int(a.n_files), int(a.n_stats),
                         bool(numeric), width_frac, per_probe))
        return self.spark.createDataFrame(
            rows,
            "column string, n_files long, files_with_stats long, "
            "numeric boolean, avg_width_frac double, "
            "avg_files_per_probe double")
