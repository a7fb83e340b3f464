"""Round-11 fixes and the checkpoint writers.

- txn actions in delta-format responses must not crash the remote
  parser (deltaformat.unwrap_delta_lines) — column-mapped tables FORCE
  the delta response format and those responses carry SetTransaction
  lines since r10.
- typed-stat pruning must cast through string so a client-supplied
  valueType that mismatches the stored stat kind yields NULL (Unknown ->
  keep), never a truncated numeric that wrongly prunes.
- out-of-int64-range stats JSON integers must not fail the checkpoint
  write (they map to NULL in the typed structs, like the JSON layout's
  scan-time cast).
- a mid-clip video decode failure yields exactly ONE error row for the
  clip — no partial frame rows — and the workloads exclude errored
  clips entirely.
- multi-bucket v2 sidecars cold-read and are reused byte-for-byte;
  the Spark-job checkpoint writers (classic parts and v2 sidecars) are
  row/byte-equivalent to the serial builder.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_sharing_spark.plans.log import TableLog, _fmt_checkpoint
from delta_sharing_spark.table import SharedTable


class TestTxnRemoteParsers:
    """ADVICE r10 (high): RemoteTableLog.snapshot / the batch CDF parser
    crashed on 'txn' deltaSingleAction kinds with a KeyError."""

    @pytest.fixture(scope="class")
    def cm_txn_env(self, spark, tmp_path_factory):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.server import SharingServer

        base = tmp_path_factory.mktemp("cmtxn")
        d = str(base / "t")
        log = TableLog(spark, d)
        df = spark.range(0, 60).selectExpr("id", "id * 2 as v")
        log.create(df, name="t",
                   configuration={"enableChangeDataFeed": "true"},
                   operation_parameters={"queryId": "app-a",
                                         "epochId": "7"})
        # column mapping FORCES the delta response format on the wire
        log.enable_column_mapping()
        log.rename_column("v", "w")
        log.append(df.selectExpr("id + 100 as id", "id as w"),
                   operation_parameters={"queryId": "app-a",
                                         "epochId": "8"})
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        prof = base / "prof.json"
        prof.write_text(json.dumps({
            "shareCredentialsVersion": 1, "endpoint": url,
            "bearerToken": "tok"}))
        yield str(prof), d, log
        srv.shutdown()

    def test_remote_snapshot_over_column_mapped_txn_table(self, cm_txn_env):
        from delta_sharing_spark.sources.remote import RemoteTableLog

        prof, _d, log = cm_txn_env
        rlog = RemoteTableLog(prof, "s", "d", "t")
        snap = rlog.snapshot()
        assert len(snap.files) == len(log.snapshot().files)
        # the logical (renamed) column resolves through the metadata
        assert "w" in snap.metadata.schemaString

    def test_remote_commits_over_txn_table(self, cm_txn_env):
        from delta_sharing_spark.sources.remote import RemoteTableLog

        prof, _d, log = cm_txn_env
        rlog = RemoteTableLog(prof, "s", "d", "t")
        commits = rlog.commits(0)
        assert len(commits) == log.latest_version() + 1

    def test_client_load_and_changes_over_txn_table(self, spark,
                                                    cm_txn_env):
        from delta_sharing_spark.client import (
            get_table_txns, load_as_spark, load_table_changes_as_spark)

        prof, _d, _log = cm_txn_env
        url = f"{prof}#s.d.t"
        assert load_as_spark(url, spark=spark).count() == 120
        assert get_table_txns(url) == {"app-a": 8}
        ch = load_table_changes_as_spark(url, spark=spark,
                                         starting_version=0)
        assert ch.count() >= 120

    def test_unwrap_skips_unknown_kinds(self):
        from delta_sharing_spark.deltaformat import unwrap_delta_lines

        lines = [
            {"file": {"id": "txn:a",
                      "deltaSingleAction": {"txn": {"appId": "a",
                                                    "version": 4}}}},
            {"file": {"id": "x",
                      "deltaSingleAction": {"futureKind": {"foo": 1}}}},
        ]
        out = unwrap_delta_lines(lines)
        assert out == [{"txn": {"appId": "a", "version": 4}}]


class TestTypedStatCastMismatch:
    """ADVICE r10 (medium): a hint valueType mismatching the stored stat
    kind must evaluate through the SAME string cast as the JSON path —
    NULL -> Unknown -> keep — never a truncating numeric cast."""

    def _hint(self, col, vtype, op, value):
        return json.dumps({"op": op, "children": [
            {"op": "column", "name": col, "valueType": vtype},
            {"op": "literal", "value": str(value), "valueType": vtype}]})

    def test_long_hint_over_double_stat_keeps_file(self, spark, tmp_path):
        from delta_sharing_spark.plans.predicates import (
            file_keep_condition, parsed_stat_fields)

        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        # one file whose double column spans [3.2, 3.7]
        df = spark.createDataFrame(
            [(1, 3.2), (2, 3.5), (3, 3.7)], "id LONG, v DOUBLE"
        ).coalesce(1)
        log.create(df)
        log.write_checkpoint()
        snap = log.snapshot()
        m = log.files_df(snap)
        pf = parsed_stat_fields(m)
        assert "v" in pf
        # v > 3 with a (wrong) long valueType: rows 3.2..3.7 all match, so
        # the file MUST be kept. A direct double->long cast would compare
        # max 3.7 -> 3 > 3 = false and wrongly prune.
        hint = self._hint("v", "long", "greaterThan", 3)
        typed = m.filter(file_keep_condition(
            hint, snap.partition_columns, pf)).count()
        jsonp = m.filter(file_keep_condition(
            hint, snap.partition_columns)).count()
        assert typed == jsonp == 1

    def test_int_hint_over_long_stat_parity(self, spark, tmp_path):
        from delta_sharing_spark.plans.predicates import (
            file_keep_condition, parsed_stat_fields)

        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        # long stats beyond int32: an int-typed hint must not wrap them
        df = spark.createDataFrame(
            [(2**40, 1.0), (2**40 + 5, 2.0)], "id LONG, v DOUBLE"
        ).coalesce(1)
        log.create(df)
        log.write_checkpoint()
        snap = log.snapshot()
        m = log.files_df(snap)
        pf = parsed_stat_fields(m)
        hint = self._hint("id", "int", "greaterThan", 10)
        typed = m.filter(file_keep_condition(
            hint, snap.partition_columns, pf)).count()
        jsonp = m.filter(file_keep_condition(
            hint, snap.partition_columns)).count()
        assert typed == jsonp


class TestStatsInt64Overflow:
    """ADVICE r10 (low): a stats-JSON integer outside int64 must map to
    NULL in the typed structs (Unknown -> keep), not fail the write."""

    def test_typed_stat_value_bounds(self):
        from delta_sharing_spark.plans.log import _typed_stat_value

        assert _typed_stat_value(2**63, "i") is None
        assert _typed_stat_value(-(2**63) - 1, "i") is None
        assert _typed_stat_value(2**63 - 1, "i") == 2**63 - 1
        assert _typed_stat_value(-(2**63), "i") == -(2**63)

    def test_checkpoint_table_survives_huge_int(self):
        from delta_sharing_spark.plans.log import checkpoint_arrow_table

        mins = [{"id": 2**70}]
        maxs = [{"id": 2**71}]
        nulls = [{"id": 0}]
        t = checkpoint_arrow_table(
            ["add"], ["{}"], ["p"], [[]], [1], [1], mins, maxs, nulls,
            [0], [0], stats_fields=[("id", "i")])
        row = t.to_pylist()[0]
        assert row["minValues_parsed"]["id"] is None
        assert row["maxValues_parsed"]["id"] is None
        # the JSON string column still round-trips the raw value
        assert json.loads(row["minValues"])["id"] == 2**70


class TestVideoErrorRows:
    """ADVICE r10 (low): a mid-clip decode failure must drop the clip's
    partial frame rows — a clip is either fully decoded or one error
    row, never both — and workloads exclude errored clips."""

    def test_mid_clip_failure_drops_partial_rows(self, spark):
        import numpy as np

        from delta_sharing_spark.operators.jpeg import encode_jpeg
        from delta_sharing_spark.operators.video import (
            encode_avi_mjpeg, video_frame_features)

        arr = np.full((16, 16), 55, dtype=np.uint8)
        good_frame = encode_jpeg(16, 16, 1,
                                 [arr[y].tobytes() for y in range(16)])
        good_clip = encode_avi_mjpeg(16, 16, [good_frame, good_frame])
        # container parses, frame 1 decodes, frame 2 is corrupt -> the
        # failure happens mid-clip, after rows were already emitted
        bad_clip = encode_avi_mjpeg(16, 16, [good_frame, b"\xff\xd8junk"])
        df = spark.createDataFrame(
            [(1, bytearray(good_clip)), (2, bytearray(bad_clip))],
            "doc_id LONG, video BINARY")
        out = video_frame_features(df, "video", "doc_id")
        rows = out.collect()
        good = [r for r in rows if r["doc_id"] == 1]
        bad = [r for r in rows if r["doc_id"] == 2]
        assert len(good) == 2 and all(r["error"] is None for r in good)
        assert len(bad) == 1
        assert bad[0]["error"] is not None
        assert bad[0]["frame_idx"] is None
        # workload form: errored clips are excluded entirely
        clean = out.filter(F.col("error").isNull()).drop("error")
        assert {r["doc_id"] for r in clean.collect()} == {1}


def _mk(spark, path, policy=None):
    """Two-commit, 4-partition table the checkpoint-writer tests share."""
    cfg = {"delta.checkpointInterval": "100"}
    if policy:
        cfg["delta.checkpointPolicy"] = policy
    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v"),
        (F.col("id") % 4).cast("string").alias("cat"),
    ).repartition(8)
    log = TableLog(spark, path)
    log.create(df, partition_by=["cat"], configuration=cfg)
    log.append(df.selectExpr("id + 10000 as id", "v", "cat"))
    return log


def _checkpoint_rows(log):
    """The latest checkpoint's rows, sorted: writers may order and split
    rows differently, readers filter by ``kind``."""
    import pyarrow.dataset as pds

    cp = os.path.join(log.log_path,
                      _fmt_checkpoint(log.latest_version()))
    t = pds.dataset(cp, format="parquet").to_table()
    rows = t.to_pylist()
    return sorted(
        ((r["kind"], r["action_json"], r["path"],
          json.dumps(r["minValues_parsed"], sort_keys=True,
                     default=str)
          if "minValues_parsed" in t.schema.names else None)
         for r in rows),
        key=lambda x: (x[0], x[1]))


class TestParallelCheckpoint:
    """V2 sidecars over many buckets: a multi-bucket build must cold-read
    to the same snapshot, and a rebuild over the same bucket geometry
    must reuse every sidecar (same content addresses AND same
    bytes-sha256)."""

    def test_v2_parallel_identical_sidecars(self, spark, tmp_path,
                                            monkeypatch):
        import shutil

        import delta_sharing_spark.plans.log as L

        log = _mk(spark, str(tmp_path / "t"), policy="v2")
        log.write_checkpoint()
        serial_rows = _checkpoint_rows(log)
        serial_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in serial_rows if k == "sidecar")
        assert serial_refs
        # wipe checkpoint AND sidecars so the multi-bucket build writes
        # every byte from scratch
        cp = os.path.join(log.log_path,
                          _fmt_checkpoint(log.latest_version()))
        os.remove(cp) if os.path.isfile(cp) else shutil.rmtree(cp)
        shutil.rmtree(os.path.join(log.log_path, L.SIDECAR_DIR))
        monkeypatch.setattr(L, "SIDECAR_TARGET_ROWS", 3)
        log.write_checkpoint()
        rebuilt_rows = _checkpoint_rows(log)
        rebuilt_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in rebuilt_rows if k == "sidecar")
        # NOTE: bucket count differs (SIDECAR_TARGET_ROWS patched), so
        # addresses differ from serial_refs — what must hold is that the
        # cold read reconstructs the same snapshot
        assert rebuilt_refs
        cold = TableLog(spark, log.path)
        snap = cold.snapshot()
        assert len(snap.files) == len(log.snapshot().files)
        assert SharedTable(spark, log.path).to_df().count() == 10000

    def test_v2_parallel_same_buckets_reuses_sidecars(self, spark,
                                                      tmp_path,
                                                      monkeypatch):
        import delta_sharing_spark.plans.log as L

        log = _mk(spark, str(tmp_path / "t"), policy="v2")
        log.write_checkpoint()
        serial_rows = _checkpoint_rows(log)
        serial_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in serial_rows if k == "sidecar")
        # same bucket geometry, rebuilt: content addressing must REUSE
        # every sidecar (same paths, same byte hashes)
        log.write_checkpoint()
        rebuilt_rows = _checkpoint_rows(log)
        rebuilt_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in rebuilt_rows if k == "sidecar")
        assert rebuilt_refs == serial_refs


class TestNestedTypedStats:
    """r11: struct-leaf stats — the stats JSON nests per the protocol
    (PROTOCOL.md:3908-4013) and the typed ``*_parsed`` structs carry
    dotted-path fields, so struct-field predicates prune on native
    parquet values with the JSON path as fallback."""

    def _hint(self, col, vtype, op, value):
        return json.dumps({"op": op, "children": [
            {"op": "column", "name": col, "valueType": vtype},
            {"op": "literal", "value": str(value), "valueType": vtype}]})

    def _mk(self, spark, path):
        df = spark.range(0, 4000).select(
            F.col("id"),
            F.struct(
                (F.col("id") % 7).cast("double").alias("qty"),
                F.concat(F.lit("g"), (F.col("id") % 5).cast("string"))
                .alias("grp"),
                F.struct((F.col("id") * 3).alias("deep")).alias("inner"),
            ).alias("m"),
        ).repartition(8)
        log = TableLog(spark, path)
        log.create(df)
        return log

    def test_nested_stats_json_shape(self, spark, tmp_path):
        log = self._mk(spark, str(tmp_path / "t"))
        st = json.loads(log.snapshot().files[0].stats)
        assert isinstance(st["minValues"]["m"], dict)
        assert "qty" in st["minValues"]["m"]
        assert "deep" in st["minValues"]["m"]["inner"]
        assert isinstance(st["nullCount"]["m"]["qty"], int)

    def test_spec_has_dotted_paths(self, spark, tmp_path):
        from delta_sharing_spark.plans.log import stats_field_spec

        log = self._mk(spark, str(tmp_path / "t"))
        spec = stats_field_spec(log.snapshot().physical_schema)
        assert ("m.qty", "f") in spec
        assert ("m.grp", "s") in spec
        assert ("m.inner.deep", "i") in spec

    def test_typed_vs_json_prune_parity_nested(self, spark, tmp_path):
        from delta_sharing_spark.plans.predicates import (
            file_keep_condition, parsed_stat_fields)

        log = self._mk(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        snap = log.snapshot()
        m = log.files_df(snap)
        pf = parsed_stat_fields(m)
        assert {"m.qty", "m.grp", "m.inner.deep"} <= pf
        hints = [
            self._hint("m.inner.deep", "long", "greaterThan", 3 * 3999 - 1),
            self._hint("m.qty", "double", "lessThan", 1.0),
            self._hint("m.grp", "string", "equal", "g3"),
            json.dumps({"op": "isNull", "children": [
                {"op": "column", "name": "m.qty",
                 "valueType": "double"}]}),
        ]
        for hint in hints:
            typed = sorted(r["path"] for r in m.filter(
                file_keep_condition(hint, snap.partition_columns, pf))
                .select("path").collect())
            jsonp = sorted(r["path"] for r in m.filter(
                file_keep_condition(hint, snap.partition_columns))
                .select("path").collect())
            assert typed == jsonp, hint

    def test_nested_prune_actually_prunes(self, spark, tmp_path):
        from delta_sharing_spark.plans.predicates import (
            file_keep_condition, parsed_stat_fields)

        log = self._mk(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        snap = log.snapshot()
        m = log.files_df(snap)
        # impossible nested-leaf predicate prunes everything
        hint = self._hint("m.inner.deep", "long", "greaterThan", 10**9)
        kept = m.filter(file_keep_condition(
            hint, snap.partition_columns, parsed_stat_fields(m))).count()
        assert kept == 0

    def test_driver_loop_twin_parity_nested(self, spark, tmp_path):
        # keep_file (the sessionless twin) resolves dotted paths against
        # the nested stats dicts identically
        from delta_sharing_spark.plans.predicates import keep_file

        log = self._mk(spark, str(tmp_path / "t"))
        snap = log.snapshot()
        hint = self._hint("m.inner.deep", "long", "greaterThan", 10**9)
        kept = [a.path for a in snap.files
                if keep_file(json.loads(hint), a.partitionValues,
                             json.loads(a.stats), [])]
        assert kept == []
        hint2 = self._hint("m.qty", "double", "greaterThanOrEqual", 0)
        kept2 = [a.path for a in snap.files
                 if keep_file(json.loads(hint2), a.partitionValues,
                              json.loads(a.stats), [])]
        assert len(kept2) == len(snap.files)
        # isNull on the struct itself: nested object -> Unknown -> keep
        null_hint = {"op": "isNull", "children": [
            {"op": "column", "name": "m", "valueType": "string"}]}
        kept3 = [a.path for a in snap.files
                 if keep_file(null_hint, a.partitionValues,
                              json.loads(a.stats), [])]
        assert len(kept3) == len(snap.files)

    def test_not_null_struct_column_fast_path(self, spark, tmp_path):
        # a NOT NULL struct column must not crash the footer fast path
        # (its nullCount entry is a nested object, not a count)
        from pyspark.sql import types as T

        d = str(tmp_path / "t")
        schema = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("m", T.StructType([
                T.StructField("qty", T.DoubleType(), True)]), False),
        ])
        df = spark.createDataFrame(
            [(1, (2.0,)), (2, (None,))], schema)
        log = TableLog(spark, d)
        log.create(df)
        assert len(log.snapshot().files) >= 1

    def test_tail_union_nested(self, spark, tmp_path):
        from delta_sharing_spark.plans.predicates import (
            file_keep_condition, parsed_stat_fields)

        log = self._mk(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        hi = spark.range(100_000, 101_000).select(
            F.col("id"),
            F.struct(F.lit(99.0).alias("qty"), F.lit("zz").alias("grp"),
                     F.struct((F.col("id") * 3).alias("deep"))
                     .alias("inner")).alias("m"))
        log.append(hi)
        snap = log.snapshot()
        m = log.files_df(snap)
        pf = parsed_stat_fields(m)
        assert "m.qty" in pf
        kept = {r["path"] for r in m.filter(
            file_keep_condition(self._hint("m.qty", "double",
                                           "greaterThan", 90),
                                snap.partition_columns, pf))
            .select("path").collect()}
        tail = {a.path for a in snap.files if a.version == snap.version}
        assert kept == tail


class TestSparkJobCheckpoint:
    """Classic checkpoint written as a Spark job over the manifest
    DataFrame (no AddFile materialization) — row-equivalent to the
    serial builder; after a schema change it rebuilds the typed structs
    executor-side under the shared Python cast rules (r12) instead of
    declining."""

    def test_classic_spark_job_write_equivalent(self, spark, tmp_path,
                                                monkeypatch):
        """The Spark-job classic checkpoint (manifest-DataFrame write, no
        AddFile materialization) produces the same row set as the serial
        builder and cold-reads identically."""
        import delta_sharing_spark.plans.log as L

        log = _mk(spark, str(tmp_path / "t"))
        log.write_checkpoint()          # seed checkpoint (serial)
        df2 = spark.range(20000, 21000).select(
            F.col("id"), (F.col("id") % 7).cast("double").alias("v"),
            (F.col("id") % 4).cast("string").alias("cat"))
        log.append(df2)
        log.append(df2.selectExpr("id + 5000 as id", "v", "cat"))
        v = log.latest_version()
        log.write_checkpoint(version=v)  # serial (below threshold)
        serial = _checkpoint_rows(log)
        cp = os.path.join(log.log_path, _fmt_checkpoint(v))
        os.remove(cp) if os.path.isfile(cp) else __import__(
            "shutil").rmtree(cp)
        log._files_df_cache.clear()
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        out = log.write_checkpoint(version=v)
        assert out == cp and os.path.isdir(cp)
        assert all(n.endswith(".parquet") for n in os.listdir(cp))
        sparkjob = _checkpoint_rows(log)
        assert sparkjob == serial
        cold = TableLog(spark, log.path)
        snap = cold.snapshot()
        assert len(snap.files) == len(log.snapshot(version=v).files)
        assert SharedTable(spark, log.path).to_df().count() == 12000

    def test_classic_spark_job_survives_schema_change(self, spark,
                                                      tmp_path,
                                                      monkeypatch):
        """After a schema change the manifest's carried typed struct no
        longer matches the current spec — the Spark-job path must NOT
        decline (r12): it rebuilds the structs executor-side under the
        shared Python cast rules, row-equivalent to the serial builder's
        rebuild from AddFile stats."""
        import shutil

        import pyarrow.dataset as pds
        from pyspark.sql import types as T

        import delta_sharing_spark.plans.log as L

        log = _mk(spark, str(tmp_path / "t"))
        log.write_checkpoint()          # seed checkpoint, OLD spec
        log.add_column("extra", T.LongType())
        df2 = spark.range(20000, 21000).select(
            F.col("id"), (F.col("id") % 7).cast("double").alias("v"),
            (F.col("id") % 4).cast("string").alias("cat"),
            (F.col("id") * 2).alias("extra"))
        log.append(df2)
        v = log.latest_version()
        log.write_checkpoint(version=v)   # serial (below threshold)
        serial = _checkpoint_rows(log)
        cp = os.path.join(log.log_path, _fmt_checkpoint(v))
        os.remove(cp) if os.path.isfile(cp) else shutil.rmtree(cp)
        log._files_df_cache.clear()
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        out = log.write_checkpoint(version=v)
        # the Spark job wrote it (part directory), no decline
        assert out == cp and os.path.isdir(cp)
        sparkjob = _checkpoint_rows(log)
        assert sparkjob == serial
        # and the NEW column's typed stats are present in the struct
        t = pds.dataset(cp, format="parquet").to_table()
        names = [t.schema.field("minValues_parsed").type.field(i).name
                 for i in range(t.schema.field("minValues_parsed").type
                                .num_fields)]
        assert "extra" in names
        cold = TableLog(spark, log.path)
        assert len(cold.snapshot().files) == len(
            log.snapshot(version=v).files)

    def test_v2_spark_job_survives_schema_change(self, spark, tmp_path,
                                                 monkeypatch):
        """The v2 Spark job rebuilds every bucket from ``action_json``
        under the CURRENT spec, so a schema change must not make it
        decline — sidecar addresses and byte hashes match the driver
        builder's exactly."""
        import shutil

        import delta_sharing_spark.plans.log as L
        from pyspark.sql import types as T

        log = _mk(spark, str(tmp_path / "t"), policy="v2")
        log.write_checkpoint()            # seed, OLD spec
        log.add_column("extra", T.LongType())
        df2 = spark.range(30000, 31000).select(
            F.col("id"), (F.col("id") % 7).cast("double").alias("v"),
            (F.col("id") % 4).cast("string").alias("cat"),
            (F.col("id") * 3).alias("extra"))
        log.append(df2)
        v = log.latest_version()
        log.write_checkpoint(version=v)   # serial build of v (new spec)
        serial_rows = _checkpoint_rows(log)
        serial_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in serial_rows if k == "sidecar")
        assert serial_refs
        cp = os.path.join(log.log_path, _fmt_checkpoint(v))
        os.remove(cp) if os.path.isfile(cp) else shutil.rmtree(cp)
        # wipe v's own sidecars (all re-addressed by the new spec_tag) so
        # the Spark job rebuilds those bytes; keep the seed's (manifest
        # source)
        seed_refs = {r["path"] for r in log._sidecar_refs(
            log._list_checkpoints()[0])}
        for rel, _sha in serial_refs:
            if rel not in seed_refs:
                fp = os.path.join(log.log_path, rel)
                os.remove(fp)
                if os.path.exists(fp + ".sha256"):
                    os.remove(fp + ".sha256")
        log._files_df_cache.clear()
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        log.write_checkpoint(version=v)
        spark_rows = _checkpoint_rows(log)
        spark_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in spark_rows if k == "sidecar")
        assert spark_refs == serial_refs
        cold = TableLog(spark, log.path)
        assert len(cold.snapshot().files) == len(
            log.snapshot(version=v).files)

    def test_v2_spark_job_identical_sidecars(self, spark, tmp_path,
                                             monkeypatch):
        """V2 sidecars built as a Spark job (applyInPandas per bucket)
        must produce the SAME content addresses and byte-sha256 as the
        driver-side builder, and the checkpoint must cold-read."""
        import shutil

        import delta_sharing_spark.plans.log as L

        log = _mk(spark, str(tmp_path / "t"), policy="v2")
        log.write_checkpoint()            # seed (serial, v=1)
        df2 = spark.range(30000, 31000).select(
            F.col("id"), (F.col("id") % 7).cast("double").alias("v"),
            (F.col("id") % 4).cast("string").alias("cat"))
        log.append(df2)
        v = log.latest_version()
        log.write_checkpoint(version=v)   # serial build of v
        serial_rows = _checkpoint_rows(log)
        serial_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in serial_rows if k == "sidecar")
        cp = os.path.join(log.log_path, _fmt_checkpoint(v))
        os.remove(cp) if os.path.isfile(cp) else shutil.rmtree(cp)
        # wipe the sidecars UNIQUE to version v (+ sha companions) so the
        # Spark job rebuilds those bytes from scratch — the seed
        # checkpoint's own sidecars must stay (the manifest reads them)
        seed_refs = {r["path"] for r in log._sidecar_refs(
            log._list_checkpoints()[0])}
        for rel, _sha in serial_refs:
            if rel not in seed_refs:
                fp = os.path.join(log.log_path, rel)
                os.remove(fp)
                if os.path.exists(fp + ".sha256"):
                    os.remove(fp + ".sha256")
        log._files_df_cache.clear()
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        out = log.write_checkpoint(version=v)
        spark_rows = _checkpoint_rows(log)
        spark_refs = sorted(
            (json.loads(j)["sidecar"]["path"],
             json.loads(j)["sidecar"]["tags"]["sha256"])
            for k, j, _p, _m in spark_rows if k == "sidecar")
        assert spark_refs == serial_refs
        cold = TableLog(spark, log.path)
        assert len(cold.snapshot().files) == len(
            log.snapshot(version=v).files)
        assert SharedTable(spark, log.path).to_df().count() == 11000

    def test_spark_job_write_plan_shape(self, spark, tmp_path):
        """Plan audit: the classic Spark-job write's read side is
        scan -> project -> write with ZERO exchanges (parts stream
        straight from the source checkpoint's splits); the v2 job has
        exactly the ONE necessary bucket shuffle."""
        import pandas as pd

        from delta_sharing_spark.plans.log import (
            PARSED_STAT_COLS, stats_field_spec)

        log = _mk(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        snap = log.snapshot()
        manifest = log.files_df(snap)
        layout = ["kind", "action_json", "path", "partitionValues",
                  "size", "numRecords", "minValues", "maxValues",
                  "nullCount", "version", "timestamp"]
        if stats_field_spec(snap.physical_schema):
            layout += list(PARSED_STAT_COLS)
        adds_df = manifest.withColumn("kind", F.lit("add")).select(layout)
        plan = adds_df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan

        b = (F.conv(F.substring(F.md5(F.col("path")), 1, 8), 16, 10)
             .cast("long") % 4)

        def noop(pdf):
            return pd.DataFrame([(0,)], columns=["x"])

        v2plan = (manifest.select("action_json", "path", "version")
                  .withColumn("__b", b).groupBy("__b")
                  .applyInPandas(noop, "x long")
                  ._jdf.queryExecution().executedPlan().toString())
        assert v2plan.count("Exchange") == 1, v2plan
