"""The Delta Sharing wire action format, read and written in one place.

When a client sets ``delta-sharing-capabilities: responseformat=delta``, the
server wraps each action as a *delta* action instead of the parquet-profile
shape: ``{"protocol": {"deltaProtocol": {...}}}``,
``{"metaData": {"deltaMetadata": {...}, "version", "size", "numFiles"}}``,
and ``{"file": {"id", "version", "timestamp", "deltaSingleAction":
{"add"|"remove"|"cdc": {...}}}}`` — lines a recipient can drop into a local
delta log and read with a delta library (reference client reconstruction:
python/delta_sharing/reader.py:303-336; wire shape
PROTOCOL.md:4014-4137).

- :func:`actions_to_delta_format` wraps the engine's parquet-profile action
  stream (server side); :func:`unwrap_delta_lines` is its inverse, so every
  client-side reader parses one shape whichever format the server chose.
- :func:`delta_lines_txns` reads SetTransaction state from a response.
- :func:`snapshot_lines_to_spark` (QueryTable snapshot responses) and
  :func:`changes_lines_to_spark` (changes and version-range responses) turn
  a response into a DataFrame. Both hand schema epochs of file actions to
  one scan builder, ``_scan_epochs`` — the single place wire file actions
  become a Spark scan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession


def actions_to_delta_format(lines: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Rewrap a parquet-profile action stream as delta-format lines.

    Wrapper contract (PROTOCOL.md:4021-4035): each line carries exactly one
    of protocol/metaData/file; sharing-level fields (id, version, timestamp)
    stay on the wrapper, the delta action itself goes verbatim under
    deltaProtocol/deltaMetadata/deltaSingleAction. endStreamAction lines
    pass through unchanged (pagination is format-independent)."""
    out: list[dict[str, Any]] = []
    for line in lines:
        if "protocol" in line:
            p = line["protocol"]
            wrapper = {"deltaProtocol": {
                "minReaderVersion": p.get("minReaderVersion", 1),
                "minWriterVersion": p.get("minWriterVersion", 2),
            }}
            if p.get("version") is not None:
                # historical protocol actions in version-range responses
                # carry their commit version (PROTOCOL.md:2152)
                wrapper["version"] = p["version"]
            out.append({"protocol": wrapper})
        elif "metaData" in line:
            m = dict(line["metaData"])
            wrapper: dict[str, Any] = {}
            for k in ("version", "size", "numFiles"):
                if m.get(k) is not None:
                    wrapper[k] = m.pop(k)
            m.setdefault("format", {"provider": "parquet"})
            wrapper["deltaMetadata"] = m
            out.append({"metaData": wrapper})
        elif "file" in line:
            f = line["file"]
            add = {
                "path": f.get("url", f.get("id")),
                "partitionValues": f.get("partitionValues", {}),
                "size": f.get("size"),
                "modificationTime": f.get("timestamp"),
                "dataChange": True,
            }
            if f.get("stats") is not None:
                add["stats"] = f["stats"]
            if f.get("deletionVector") is not None:
                add["deletionVector"] = f["deletionVector"]
            for k in ("baseRowId", "defaultRowCommitVersion"):
                # row-tracking AddFile fields (Delta protocol "Row
                # Tracking") pass through verbatim like any delta action
                if f.get(k) is not None:
                    add[k] = f[k]
            wrapper = {"id": f["id"], "deltaSingleAction": {"add": add}}
            for k in ("version", "timestamp", "expirationTimestamp"):
                if f.get(k) is not None:
                    wrapper[k] = f[k]
            out.append({"file": wrapper})
        elif "add" in line or "cdf" in line or "remove" in line:
            # CDF parquet-profile lines (cdf.table_changes_actions shape)
            kind = "add" if "add" in line else (
                "cdc" if "cdf" in line else "remove")
            src = line["add"] if "add" in line else (
                line["cdf"] if "cdf" in line else line["remove"])
            action: dict[str, Any] = {
                "path": src.get("url", src.get("id")),
                "partitionValues": src.get("partitionValues", {}),
                "size": src.get("size"),
            }
            if kind == "add":
                action["dataChange"] = True
                if src.get("stats") is not None:
                    action["stats"] = src["stats"]
                for k in ("baseRowId", "defaultRowCommitVersion",
                          "deletionVector"):
                    # row-tracking fields + the DV descriptor (a DV-mode
                    # DELETE's add must rebuild as survivors only)
                    if src.get(k) is not None:
                        action[k] = src[k]
            if kind == "remove":
                action["dataChange"] = True
            wrapper = {"id": src["id"],
                       "deltaSingleAction": {kind: action}}
            for k in ("version", "timestamp"):
                if src.get(k) is not None:
                    wrapper[k] = src[k]
            out.append({"file": wrapper})
        elif "txn" in line:
            # SetTransaction (idempotent-writer epoch) rides as a delta
            # single action so a recipient's rebuilt local log preserves
            # exactly-once sink state (raw Delta actions wrapped per
            # PROTOCOL.md:4014-4137; id stable across requests like any
            # file wrapper)
            t = line["txn"]
            out.append({"file": {
                "id": f"txn:{t['appId']}",
                "deltaSingleAction": {"txn": {
                    "appId": t["appId"], "version": t["version"]}}}})
        else:
            out.append(line)  # endStreamAction etc.
    return out


def delta_lines_txns(lines: list[dict[str, Any]]) -> dict[str, int]:
    """SetTransaction state from a delta-format response: appId -> last
    committed epoch. The client-side half of the txn round-trip — a
    recipient resuming an idempotent writer checks its appId here before
    re-submitting a batch (Delta's txnVersion lookup)."""
    out: dict[str, int] = {}
    for line in lines:
        single = (line.get("file") or {}).get("deltaSingleAction") or {}
        if "txn" in single:
            t = single["txn"]
            out[t["appId"]] = int(t["version"])
    return out


def _row_tracking_cols(configuration: dict[str, Any] | None
                       ) -> tuple[str, str]:
    """Materialized row-id/commit-version column names from table config
    (Delta's declared materialized names; plans/log.py constants)."""
    from delta_sharing_spark.plans.log import (
        MAT_ROW_ID_DEFAULT,
        MAT_ROW_ID_KEY,
        MAT_ROW_VER_DEFAULT,
        MAT_ROW_VER_KEY,
    )

    cfg = configuration or {}
    return (cfg.get(MAT_ROW_ID_KEY, MAT_ROW_ID_DEFAULT),
            cfg.get(MAT_ROW_VER_KEY, MAT_ROW_VER_DEFAULT))


def unwrap_delta_lines(lines: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Delta-format response lines → the parquet-profile shape (the inverse
    of :func:`actions_to_delta_format`); parquet-profile lines pass through
    unchanged, so the line shape alone tells the two formats apart.

    File wrappers become ``add``/``remove``/``cdf`` lines carrying the
    wrapper's id, version and timestamp. ``txn`` (SetTransaction state, no
    path/size) passes through under its own key; any unknown single-action
    kind is skipped for forward compatibility."""
    out: list[dict[str, Any]] = []
    for line in lines:
        if "metaData" in line and "deltaMetadata" in line["metaData"]:
            m = dict(line["metaData"]["deltaMetadata"])
            if line["metaData"].get("version") is not None:
                m["version"] = line["metaData"]["version"]
            out.append({"metaData": m})
        elif "protocol" in line and "deltaProtocol" in line["protocol"]:
            p = dict(line["protocol"]["deltaProtocol"])
            if line["protocol"].get("version") is not None:
                p["version"] = line["protocol"]["version"]
            out.append({"protocol": p})
        elif "file" in line and "deltaSingleAction" in line["file"]:
            w = line["file"]
            kind = next(iter(w["deltaSingleAction"]))
            a = w["deltaSingleAction"][kind]
            key = {"add": "add", "remove": "remove", "cdc": "cdf"}.get(kind)
            if key is None:
                if kind == "txn":
                    out.append({"txn": dict(a)})
                continue
            entry = {
                "url": a["path"], "id": w.get("id", a["path"]),
                "partitionValues": a.get("partitionValues", {}),
                "size": a.get("size", 0), "stats": a.get("stats"),
                "version": w.get("version"), "timestamp": w.get("timestamp"),
            }
            for k in ("deletionVector", "baseRowId",
                      "defaultRowCommitVersion"):
                if a.get(k) is not None:
                    entry[k] = a[k]
            out.append({key: entry})
        else:
            out.append(line)
    return out


def snapshot_lines_to_spark(spark: SparkSession,
                            lines: list[dict[str, Any]],
                            row_ids: bool = False) -> DataFrame:
    """QueryTable snapshot response (either format) → DataFrame: the HTTP
    twin of ``SharedTable.to_df`` (reference table assembly,
    python/delta_sharing/reader.py:303-336 and 630-674).

    ``row_ids=True`` also rebuilds ``_row_id`` / ``_row_commit_version``
    from the actions' ``baseRowId``/``defaultRowCommitVersion`` — the
    remote twin of ``SharedTable.to_df(row_ids=True)``."""
    meta, files = None, []
    for line in unwrap_delta_lines(lines):
        if "metaData" in line:
            meta = line["metaData"]
        elif "file" in line or "add" in line:
            files.append(line.get("file") or line["add"])
    if meta is None:
        raise ValueError("query response lacks a metaData line")
    return _scan_epochs(spark, [(meta, {"add": files})], row_ids,
                        changes=False)


def changes_lines_to_spark(spark: SparkSession,
                           lines: list[dict[str, Any]],
                           row_ids: bool = False) -> DataFrame:
    """Changes or version-range response (either format) → DataFrame with
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp`` (the
    union-of-scans shape of the reference's RemoteDeltaCDFRelation,
    client/.../RemoteDeltaCDFRelation.scala:85-140).

    Every ``metaData`` line starts a schema epoch: the files after it were
    written under its schema. The output schema is the LAST metaData
    line's, the end of the range — under ``includeHistoricalMetadata`` the
    head is the range-start snapshot's (ref DeltaSharedTable.scala:735-739)
    and every in-range change follows as a historical line.

    ``row_ids=True`` (requires a row-tracked table) adds ``_row_id`` /
    ``_row_commit_version`` to insert rows; cdc/remove rows carry NULL ids
    (Delta does not materialize row ids into change-data images)."""
    epochs: list[tuple[dict[str, Any], dict[str, list[dict[str, Any]]]]] = []
    for line in unwrap_delta_lines(lines):
        if "metaData" in line:
            epochs.append((line["metaData"],
                           {"cdf": [], "add": [], "remove": []}))
            continue
        for kind in ("add", "cdf", "remove"):
            if kind in line:
                if not epochs:
                    raise ValueError(
                        "changes response lacks a metaData line")
                epochs[-1][1][kind].append(line[kind])
    if not epochs:
        raise ValueError("changes response lacks a metaData line")
    return _scan_epochs(spark, epochs, row_ids, changes=True)


_CHANGE_TYPE = {"add": "insert", "remove": "delete"}


def _schema_of(meta: dict[str, Any]):
    """(schema, {logical name: physical name}) of a metaData action; with
    column mapping off every physical name is the logical one."""
    import json

    from pyspark.sql import types as T

    from delta_sharing_spark.plans.log import column_mapping_on

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    cm = column_mapping_on(meta.get("configuration"))
    return schema, {
        f.name: ((f.metadata or {}).get("delta.columnMapping.physicalName",
                                        f.name) if cm else f.name)
        for f in schema.fields}


def _scan_epochs(spark: SparkSession,
                 epochs: list[tuple[dict[str, Any],
                                    dict[str, list[dict[str, Any]]]]],
                 row_ids: bool, changes: bool) -> DataFrame:
    """The one scan of wire file actions. ``epochs`` pairs each metaData
    action with the profile-shape file actions written under it, grouped by
    kind (``add``/``cdf``/``remove``); the last epoch's schema is the
    output schema.

    - Column mapping: files and partitionValues are keyed by PHYSICAL
      names; each epoch is read under its own physical schema and renamed
      to the target's logical names, so a rename mid-range keeps values.
    - Scans: every epoch/kind reads its files without a deletion vector in
      ONE explicit-schema scan (plan size O(1) in file count; footer
      inference on a type-widened table would be file-order dependent).
      Partition values, commit version/timestamp and row-id bases attach
      by a broadcast join on the scanned path.
    - Deletion vectors: a DV-carrying file is scanned alone and anti-joined
      on its pre-deletion row index; a stored DV's rows are keyed by the
      candidates of ``RemoteTableLog.dv_scan_keys`` (the Python Data
      Source's rule), so clone-referenced files resolve too.
    - Row ids: ``_row_id`` = materialized override else baseRowId + row
      index; ``_row_commit_version`` = override else the file default.
    - Types: every column casts to ``SharedTable._cast_type`` of the
      target type (widening, nested nullability relaxed); a non-widening
      change between an epoch and the target raises."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from delta_sharing_spark.plans.dvcodec import decode_inline_dv
    from delta_sharing_spark.session import local_frame
    from delta_sharing_spark.sources.remote import RemoteTableLog, _parse_file
    from delta_sharing_spark.streaming.schema import (
        _datatype_read_compatible,
        _widenable,
    )
    from delta_sharing_spark.table import SharedTable

    target_meta = epochs[-1][0]
    schema, phys_of = _schema_of(target_meta)
    mat_id, mat_ver = _row_tracking_cols(target_meta.get("configuration"))
    if row_ids:
        missing = [a.get("url") for _m, g in epochs for a in g["add"]
                   if a.get("baseRowId") is None]
        if missing:
            raise ValueError(
                "row_ids=True: response actions lack baseRowId (table "
                f"not row-tracked, or pre-enablement files): {missing[:3]}")
    type_of = {phys_of[f.name]: f.dataType for f in schema.fields}
    extras = ([("_change_type", T.StringType()),
               ("_commit_version", T.LongType()),
               ("_commit_timestamp", T.LongType())] if changes else []) \
        + ([("_row_id", T.LongType()),
            ("_row_commit_version", T.LongType())] if row_ids else [])

    def finish(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[(F.col(phys_of[f.name]) if phys_of[f.name] in have
               else F.lit(None))
              .cast(SharedTable._cast_type(f.dataType)).alias(f.name)
              for f in schema.fields],
            *[(F.col(n) if n in have else F.lit(None)).cast(t).alias(n)
              for n, t in extras])

    scan_path = F.url_decode(F.regexp_replace(
        F.regexp_replace(F.input_file_name(), "^file:(//)?", ""),
        r"\+", "%2B"))
    parts: list[DataFrame] = []
    for meta, groups in epochs:
        ep_schema, ep_phys_of = _schema_of(meta)
        ep_fields = []
        for f in ep_schema.fields:
            p = ep_phys_of[f.name]
            dst = type_of.get(p)
            if dst is not None and not (
                    f.dataType == dst
                    or _datatype_read_compatible(f.dataType, dst)
                    or _widenable(f.dataType, dst)):
                # SchemaUtils.scala:37-90 read-compat gate direction
                raise ValueError(
                    f"incompatible schema change across the changes "
                    f"range: column '{p}' was "
                    f"{f.dataType.simpleString()} and is now "
                    f"{dst.simpleString()}; query a narrower range")
            ep_fields.append(T.StructField(
                p, SharedTable._cast_type(f.dataType), True))
        for kind, actions in groups.items():
            attach_ids = row_ids and kind == "add"
            # cdc files carry their own _change_type; only maintenance-
            # written files carry the materialized row-id columns (the
            # rest null-fill and fall back to baseRowId + row index)
            extra_read = (
                [T.StructField("_change_type", T.StringType())]
                if kind == "cdf" else []) + (
                [T.StructField(mat_id, T.LongType()),
                 T.StructField(mat_ver, T.LongType())]
                if attach_ids else [])
            clean = [a for a in actions if not a.get("deletionVector")]
            scans = ([clean] if clean else []) + [
                [a] for a in actions if a.get("deletionVector")]
            for files in scans:
                dv = files[0].get("deletionVector")
                pv_keys = sorted({k for a in files
                                  for k in (a.get("partitionValues") or {})})
                attrs = T.StructType(
                    [T.StructField(f"__pv_{k}", T.StringType())
                     for k in pv_keys]
                    + ([T.StructField("_commit_version", T.LongType()),
                        T.StructField("_commit_timestamp", T.LongType())]
                       if changes else [])
                    + ([T.StructField("__rt_base", T.LongType()),
                        T.StructField("__rt_ver", T.LongType())]
                       if attach_ids else []))

                rows = [(a["url"],
                         *[(a.get("partitionValues") or {}).get(k) or None
                           for k in pv_keys],
                         *([int(a["version"]), int(a["timestamp"])]
                           if changes else []),
                         *([a.get("baseRowId"),
                            a.get("defaultRowCommitVersion")]
                           if attach_ids else []))
                        for a in files]
                # partition columns never live in the file bytes
                df = spark.read.schema(T.StructType(
                    [f for f in ep_fields if f.name not in pv_keys]
                    + extra_read)).parquet(*[a["url"] for a in files])
                if attach_ids or dv:
                    df = df.select(
                        "*", F.col("_metadata.row_index").alias("__rt_ri"))
                if dv:
                    if dv.get("storageType") == "i":
                        dv_rows = local_frame(
                            spark, [(ri,) for ri in decode_inline_dv(
                                dv["pathOrInlineDv"],
                                dv.get("sizeInBytes"))],
                            "__rt_ri long")
                    else:
                        dv_path, _root, keys = RemoteTableLog.dv_scan_keys(
                            _parse_file(files[0]))
                        dv_rows = (spark.read.parquet(dv_path)
                                   .filter(F.col("path").isin(keys))
                                   .select(F.col("row_index")
                                           .alias("__rt_ri")))
                    # deleted rows keep their positions: row_index is the
                    # pre-deletion index, so surviving ids stay stable
                    df = df.join(F.broadcast(dv_rows), "__rt_ri",
                                 "left_anti")
                    df = df.select("*", *[
                        F.lit(v).cast(fld.dataType).alias(fld.name)
                        for fld, v in zip(attrs.fields, rows[0][1:])])
                elif attrs.fields:
                    # __path is captured at scan time: input_file_name()
                    # is undefined after a join
                    meta_df = local_frame(
                        spark, rows, T.StructType([T.StructField("__path",
                                                    T.StringType())]
                                     + attrs.fields))
                    df = (df.withColumn("__path", scan_path)
                          .join(F.broadcast(meta_df), "__path"))
                df = df.withColumns({
                    k: F.col(f"__pv_{k}").cast(type_of.get(k, T.StringType()))
                    for k in pv_keys})
                if attach_ids:
                    df = df.withColumns({
                        "_row_id": F.coalesce(
                            F.col(mat_id),
                            F.col("__rt_base") + F.col("__rt_ri")),
                        "_row_commit_version": F.coalesce(
                            F.col(mat_ver), F.col("__rt_ver"))})
                if changes and kind in _CHANGE_TYPE:
                    df = df.withColumn("_change_type",
                                       F.lit(_CHANGE_TYPE[kind]))
                parts.append(finish(df))
    if not parts:
        return local_frame(spark, [], T.StructType(
            list(schema.fields)
            + [T.StructField(n, t, True) for n, t in extras]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
