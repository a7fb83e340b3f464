"""Typed min/max stats columns in checkpoint manifests (r10).

Delta-format checkpoints carry a parsed ``stats_parsed`` struct so file
skipping reads native parquet values instead of parsing per-row stats
JSON; the reference's kernel path likewise prunes on typed checkpoint-read
columns (server/.../kernel/internal/PredicateConverter.scala:43-220). Our
checkpoints/sidecars write ``minValues_parsed`` / ``maxValues_parsed`` /
``nullCount_parsed`` structs beside the JSON strings; the prune uses them
whenever present and falls back to ``get_json_object`` per column.

Covered here:
- checkpoint rows carry the structs and their values agree with the JSON;
- keep-condition parity: typed vs JSON path select the SAME files, for
  numeric/string/date hints, including null-stats (Unknown -> keep);
- checkpoint + tail union shares one schema, and tail files prune too;
- a column added after the checkpoint falls back to JSON cleanly;
- a type widened after the checkpoint keeps the union type-consistent
  (tail structs mirror the CHECKPOINT's stored types);
- v2 sidecars carry the structs, and a schema change re-addresses the
  sidecars (no mixed-layout scan).
"""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_sharing_spark.plans.log import (
    TableLog,
    _fmt_checkpoint,
    stats_field_spec,
)
from delta_sharing_spark.plans.predicates import (
    file_keep_condition,
    parsed_stat_fields,
)
from delta_sharing_spark.table import SharedTable
from tests.conftest import ManifestStorage, manifest_storage_set


def _mk_table(spark, path, interval="1"):
    df = spark.range(0, 8000).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 13).cast("string")).alias("s"),
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("id") % 30).cast("int")).alias("dt"),
        (F.col("id") % 4).cast("string").alias("cat"),
    )
    log = TableLog(spark, path)
    log.create(df, partition_by=["cat"],
               configuration={"delta.checkpointInterval": interval})
    return log


def _hint(col, vtype, op, value):
    return json.dumps({"op": op, "children": [
        {"op": "column", "name": col, "valueType": vtype},
        {"op": "literal", "value": str(value), "valueType": vtype}]})


HINTS = [
    _hint("id", "long", "greaterThan", 5000),
    _hint("id", "long", "lessThanOrEqual", 123),
    _hint("v", "double", "equal", 3.0),
    _hint("s", "string", "greaterThanOrEqual", "s9"),
    _hint("dt", "date", "lessThan", "2024-01-10"),
    json.dumps({"op": "and", "children": [
        json.loads(_hint("id", "long", "greaterThan", 2000)),
        {"op": "equal", "children": [
            {"op": "column", "name": "cat", "valueType": "string"},
            {"op": "literal", "value": "2", "valueType": "string"}]}]}),
    json.dumps({"op": "isNull", "children": [
        {"op": "column", "name": "v", "valueType": "double"}]}),
]


class TestTypedStatsCheckpoint:
    def test_checkpoint_carries_parsed_structs(self, spark, tmp_path):
        log = _mk_table(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        cp = os.path.join(log.log_path, _fmt_checkpoint(log.latest_version()))
        tbl = pq.read_table(cp)
        names = set(tbl.schema.names)
        assert {"minValues_parsed", "maxValues_parsed",
                "nullCount_parsed"} <= names
        # values agree with the JSON strings on every add row
        rows = tbl.to_pylist()
        adds = [r for r in rows if r["kind"] == "add"]
        assert adds
        for r in adds:
            mins = json.loads(r["minValues"])
            assert r["minValues_parsed"]["id"] == mins["id"]
            assert r["minValues_parsed"]["v"] == mins["v"]
            assert r["minValues_parsed"]["s"] == mins["s"]
            assert r["minValues_parsed"]["dt"] == mins["dt"]
            nulls = json.loads(r["nullCount"])
            assert r["nullCount_parsed"]["id"] == nulls["id"]
        # non-add rows are null structs
        for r in rows:
            if r["kind"] != "add":
                assert r["minValues_parsed"] is None

    def test_spec_excludes_non_atomic(self):
        schema = T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("d", T.DecimalType(10, 2)),
            T.StructField("bin", T.BinaryType()),
            T.StructField("arr", T.ArrayType(T.LongType())),
            T.StructField("b", T.BooleanType()),
        ])
        assert stats_field_spec(schema) == [("a", "i"), ("b", "b")]

    @pytest.mark.parametrize("hint", HINTS)
    def test_typed_vs_json_prune_parity(self, spark, tmp_path, hint):
        log = _mk_table(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        snap = log.snapshot()
        m = log.files_df(snap)
        pf = parsed_stat_fields(m)
        assert pf  # the typed path is actually exercised
        typed = sorted(r["path"] for r in m.filter(
            file_keep_condition(hint, snap.partition_columns, pf))
            .select("path").collect())
        jsonp = sorted(r["path"] for r in m.filter(
            file_keep_condition(hint, snap.partition_columns))
            .select("path").collect())
        assert typed == jsonp

    def test_missing_stats_unknown_keeps(self, spark, tmp_path):
        # a file with NO stats must be kept by the typed path (null struct
        # fields -> Unknown -> keep), mirroring the JSON path
        log = _mk_table(spark, str(tmp_path / "t"))
        snap0 = log.snapshot()
        add = snap0.files[0]
        add.stats = None
        log.write_checkpoint()
        snap = log.snapshot()
        m = log.files_df(snap)
        hint = _hint("id", "long", "greaterThan", 10**9)  # prunes all
        kept = {r["path"] for r in m.filter(
            file_keep_condition(hint, snap.partition_columns,
                                parsed_stat_fields(m)))
            .select("path").collect()}
        assert kept == {add.path}

    def test_tail_union_prunes_tail_files(self, spark, tmp_path):
        # checkpoint at v0, two appends after: tail rows must carry the
        # typed structs (union type-checks) and BE pruned by them
        # both manifest storages: driver-resident (tail merged in Arrow)
        # and scan (tail unioned onto the checkpoint scan)
        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                log = _mk_table(spark, str(tmp_path / storage.name),
                                interval="100")
                log.write_checkpoint()
                hi = spark.range(100_000, 101_000).select(
                    F.col("id"), F.lit(1.0).alias("v"), F.lit("zz").alias("s"),
                    F.to_date(F.lit("2025-06-01")).alias("dt"),
                    F.lit("9").alias("cat"))
                log.append(hi)
                snap = log.snapshot()
                m = log.files_df(snap)
                storage.check(log, snap)
                assert parsed_stat_fields(m)  # union kept the typed columns
                # only the tail file(s) survive an id > 99_999 prune
                kept = {r["path"] for r in m.filter(
                    file_keep_condition(_hint("id", "long", "greaterThan",
                                              99_999),
                                        snap.partition_columns,
                                        parsed_stat_fields(m)))
                    .select("path").collect()}
                tail_paths = {a.path for a in snap.files
                              if a.version == snap.version}
                assert kept == tail_paths
                # and the inverse prune drops exactly the tail
                kept2 = {r["path"] for r in m.filter(
                    file_keep_condition(_hint("id", "long", "lessThan",
                                              50_000),
                                        snap.partition_columns,
                                        parsed_stat_fields(m)))
                    .select("path").collect()}
                assert kept2 and not (kept2 & tail_paths)

    def test_added_column_falls_back_to_json(self, spark, tmp_path):
        # column added AFTER the checkpoint: not in the parsed struct, so
        # the keep condition must fall back to JSON for it — and the tail
        # files (which have stats for it) must still prune correctly
        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                log = _mk_table(spark, str(tmp_path / storage.name),
                                interval="100")
                log.write_checkpoint()
                log.add_column("extra", T.LongType())
                ext = spark.range(0, 500).select(
                    F.col("id"), F.lit(1.0).alias("v"), F.lit("zz").alias("s"),
                    F.to_date(F.lit("2025-06-01")).alias("dt"),
                    F.lit("9").alias("cat"), (F.col("id") + 10).alias("extra"))
                log.append(ext)
                snap = log.snapshot()
                m = log.files_df(snap)
                storage.check(log, snap)
                pf = parsed_stat_fields(m)
                assert "extra" not in pf and "id" in pf
                kept = {r["path"] for r in m.filter(
                    file_keep_condition(_hint("extra", "long",
                                              "greaterThan", 10**6),
                                        snap.partition_columns, pf))
                    .select("path").collect()}
                # checkpoint files lack 'extra' stats entirely -> Unknown
                # -> kept; the tail file has stats proving no match ->
                # pruned
                tail_paths = {a.path for a in snap.files
                              if a.version == snap.version}
                assert not (kept & tail_paths)
                assert kept == {a.path for a in snap.files} - tail_paths

    def test_widened_type_union_stays_consistent(self, spark, tmp_path):
        # widen int->long between checkpoint and tail: the stored kind is
        # int64 for the whole int family BY DESIGN (so widening within a
        # family never changes the manifest struct type), the tail struct
        # mirrors the CHECKPOINT's stored types via _parsed_spec_of, and
        # the widened tail file still prunes on the typed path
        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                log = TableLog(spark, str(tmp_path / storage.name))
                df = spark.range(0, 3000).select(
                    F.col("id").cast("int").alias("n"),
                    (F.col("id") % 4).cast("string").alias("cat"))
                log.create(df, partition_by=["cat"],
                           configuration={"delta.checkpointInterval": "100",
                                          "delta.enableTypeWidening": "true"})
                log.write_checkpoint()
                log.widen_column_type("n", T.LongType())
                tail = spark.range(0, 10).select(
                    (F.col("id") + 10_000).alias("n"), F.lit("9").alias("cat"))
                log.append(tail)
                snap = log.snapshot()
                m = log.files_df(snap)
                storage.check(log, snap)
                assert m.count() == len(snap.files)  # union planned + ran
                kept = {r["path"] for r in m.filter(
                    file_keep_condition(_hint("n", "long",
                                              "greaterThanOrEqual", 10_000),
                                        snap.partition_columns,
                                        parsed_stat_fields(m)))
                    .select("path").collect()}
                assert kept == {a.path for a in snap.files
                                if a.version == snap.version}

    def test_v2_sidecars_carry_and_readdress(self, spark, tmp_path):
        log = TableLog(spark, str(tmp_path / "t"))
        df = spark.range(0, 4000).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("cat"))
        log.create(df, partition_by=["cat"], configuration={
            "delta.checkpointPolicy": "v2",
            "delta.checkpointInterval": "100"})
        log.write_checkpoint()
        v1 = log.latest_version()
        refs1 = log._checkpoint_sidecars(v1)
        assert refs1
        sc = pq.read_table(os.path.join(log.log_path, refs1[0]))
        assert "minValues_parsed" in sc.schema.names
        # schema change re-addresses every sidecar (the stats spec is part
        # of the content address) so one scan never mixes struct layouts
        log.add_column("extra", T.LongType())
        log.write_checkpoint()
        refs2 = log._checkpoint_sidecars(log.latest_version())
        assert set(refs1).isdisjoint(set(refs2))
        sc2 = pq.read_table(os.path.join(log.log_path, refs2[0]))
        f = [x for x in sc2.schema if x.name == "minValues_parsed"][0]
        assert "extra" in [sub.name for sub in f.type]

    def test_pruned_files_equals_driver_loop(self, spark, tmp_path):
        # the DataFrame prune (typed path) and the sessionless driver-loop
        # evaluator agree file-for-file on a checkpointed table
        log = _mk_table(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        snap = log.snapshot()
        st = SharedTable(spark, str(tmp_path / "t"))
        for hint in HINTS:
            via_df = sorted(r["path"] for r in st._pruned_manifest(
                snap, json.loads(hint), None, None)
                .select("path").collect())
            from delta_sharing_spark.plans.predicates import keep_file
            via_loop = sorted(
                a.path for a in snap.files
                if keep_file(json.loads(hint), a.partitionValues,
                             a.stats_dict(), snap.partition_columns))
            assert via_df == via_loop, hint


class TestManifestSession:
    """Round-10: the manifest plane runs on a dedicated session
    (spark.newSession() with a private SQLConf pinned to 4 MB splits),
    replacing the round-9 shared-conf flip under a process-wide RLock."""

    def test_files_df_on_meta_session_and_conf_isolated(
            self, spark, tmp_path):
        from delta_sharing_spark.plans.log import manifest_session

        log = _mk_table(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        m = log.files_df(log.snapshot())
        meta = manifest_session(spark)
        assert m.sparkSession is meta
        assert meta.conf.get(
            "spark.sql.files.maxPartitionBytes") == str(4 << 20)
        # the DATA plane's conf is untouched — the r9 design's one
        # residual hazard (a forgotten guard pinning data scans at 4 MB)
        # is structurally impossible now
        assert spark.conf.get(
            "spark.sql.files.maxPartitionBytes") != str(4 << 20)
        # one manifest session per parent, cached
        assert manifest_session(spark) is meta

    def test_concurrent_scans_never_mutate_shared_conf(
            self, spark, tmp_path):
        import threading

        log = _mk_table(spark, str(tmp_path / "t"))
        log.write_checkpoint()
        snap = log.snapshot()
        st = SharedTable(spark, str(tmp_path / "t"))
        hint = json.loads(_hint("id", "long", "greaterThan", 4000))
        before = spark.conf.get("spark.sql.files.maxPartitionBytes")
        errors: list = []

        def worker(i):
            try:
                st._pruned_manifest(snap, hint, None, 1000 + i) \
                    .select("path").collect()
                # observed DURING other threads' scans: the old RLock
                # design restored the conf but still exposed the flip
                # to concurrent planners
                assert spark.conf.get(
                    "spark.sql.files.maxPartitionBytes") == before
            except Exception as exc:  # pragma: no cover - surfaced below
                errors.append(exc)

        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert spark.conf.get(
            "spark.sql.files.maxPartitionBytes") == before


class TestPathRangePaging:
    """Round-10: paged snapshot RPCs over a lazy manifest cut pages by
    PATH RANGE (token carries the last served path), so every page pays
    one page-sized top-k and the path predicate pushes into the
    checkpoint parquet scan — page N+1 never re-discards pages 1..N."""

    @pytest.fixture(scope="class")
    def forged(self, tmp_path_factory):
        import sys as _sys
        _sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))), "tools"))
        from scale_bench import write_synthetic_table

        d = str(tmp_path_factory.mktemp("paging") / "t")
        os.makedirs(d, exist_ok=True)
        write_synthetic_table(d, 12_000)
        return d

    def test_full_walk_covers_every_file_once(self, spark, forged):
        t = SharedTable(spark, forged)
        snap = t.log.snapshot()
        assert not snap.files_materialized
        seen, token, pages = [], None, 0
        while True:
            out = t.query_actions(max_files=4_000, page_token=token)
            seen += [ln["file"]["id"] for ln in out["actions"]
                     if "file" in ln]
            token = out["nextPageToken"]
            pages += 1
            if not token:
                break
            import base64 as _b64
            decoded = json.loads(_b64.urlsafe_b64decode(token))
            assert decoded.get("lastPath") == seen[-1]
        assert pages == 3
        assert len(seen) == 12_000
        assert len(set(seen)) == 12_000
        assert seen == sorted(seen)
        assert not snap.files_materialized

    def test_page2_plan_pushes_path_filter(self, spark, forged):
        # the page-2 shape: filter(path > last) + top-(k+1); the path
        # predicate must reach the parquet scan (PushedFilters) so a page
        # deep in a 10M-file manifest skips row groups, not just rows.
        # A manifest that size is scanned; this 12k-file one would be
        # driver-resident, so the local-relation bound is set to 0
        from pyspark.sql import functions as F

        from delta_sharing_spark.plans.log import manifest_session

        meta = manifest_session(spark)
        key = "spark.sql.execution.arrow.localRelationThreshold"
        meta.conf.set(key, "0")
        try:
            log = TableLog(spark, forged)
            m = log.files_df(log.snapshot())
        finally:
            meta.conf.unset(key)
        plan = (m.select("path", "action_json")
                .filter(F.col("path") > "data/cat=c07/part-00005000")
                .orderBy("path").limit(1001)
                ._jdf.queryExecution().executedPlan().toString())
        assert "TakeOrderedAndProject" in plan
        assert "PushedFilters" in plan and "GreaterThan(path" in plan

    def test_pre_r10_offset_token_still_honored(self, spark, forged):
        # a token without lastPath (minted before this round) pages via
        # the offset form once, then upgrades to path-range cuts
        from delta_sharing_spark.table import mint_page_token, \
            page_checksum

        t = SharedTable(spark, forged)
        out1 = t.query_actions(max_files=5)
        first = [ln["file"]["id"] for ln in out1["actions"]
                 if "file" in ln]
        checksum = page_checksum({
            "path": t.log.path, "predicateHints": None,
            "jsonPredicateHints": None, "limitHint": None,
            "timestamp": None})
        legacy = mint_page_token(
            {"version": t.log.snapshot().version, "start": 5}, checksum)
        out2 = t.query_actions(max_files=5, page_token=legacy)
        second = [ln["file"]["id"] for ln in out2["actions"]
                  if "file" in ln]
        assert len(second) == 5 and second[0] > first[-1]
        import base64 as _b64
        upgraded = json.loads(_b64.urlsafe_b64decode(
            out2["nextPageToken"]))
        assert upgraded.get("lastPath") == second[-1]


class TestTxnOnTheWire:
    """Round-10: SetTransaction (idempotent-writer epoch) actions ride
    delta-format query responses (the wrapper stream carries raw Delta
    actions, reference PROTOCOL.md:4014-4137), so a recipient rebuilding
    a local log — or resuming a sink — preserves exactly-once state
    across the share boundary. The parquet profile has no txn concept
    and must stay txn-free."""

    @pytest.fixture(scope="class")
    def txn_env(self, spark, tmp_path_factory):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.server import SharingServer

        base = tmp_path_factory.mktemp("txnwire")
        d = str(base / "t")
        log = TableLog(spark, d)
        df = spark.range(0, 100).selectExpr("id", "id * 2 as v")
        log.create(df, name="t", operation_parameters={
            "queryId": "app-a", "epochId": "7"})
        log.append(df.selectExpr("id + 100 as id", "id as v"),
                   operation_parameters={"queryId": "app-a",
                                         "epochId": "8"})
        log.append(df.limit(1).selectExpr("id + 900 as id", "id as v"),
                   operation_parameters={"queryId": "app-b",
                                         "epochId": "3"})
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        profile = str(base / "profile.json")
        with open(profile, "w") as f:
            json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                       "bearerToken": "tok"}, f)
        yield d, log, profile
        srv.shutdown()

    def test_delta_format_carries_txn(self, spark, txn_env):
        from delta_sharing_spark.deltaformat import (
            actions_to_delta_format, delta_lines_txns)

        d, log, _profile = txn_env
        st = SharedTable(spark, d)
        out = st.query_actions(response_formats=["delta"])
        assert out["respondedFormat"] == "delta"
        lines = actions_to_delta_format(out["actions"])
        assert delta_lines_txns(lines) == {"app-a": 8, "app-b": 3}
        # and it matches the engine's own snapshot state exactly
        assert delta_lines_txns(lines) == log.snapshot().transactions
        # txn wrappers must not disturb the client's data rebuild
        from delta_sharing_spark.deltaformat import snapshot_lines_to_spark

        assert snapshot_lines_to_spark(spark, lines).count() == 201

    def test_parquet_profile_stays_txn_free(self, spark, txn_env):
        d, _log, _profile = txn_env
        out = SharedTable(spark, d).query_actions()
        assert out["respondedFormat"] == "parquet"
        assert not [ln for ln in out["actions"] if "txn" in ln]

    def test_http_round_trip_and_resume_gate(self, spark, txn_env):
        from delta_sharing_spark.client import (
            get_last_transaction, get_table_txns, load_as_spark)

        _d, log, profile = txn_env
        url = f"{profile}#s.d.t"
        assert get_table_txns(url) == {"app-a": 8, "app-b": 3}
        # exactly-once resume: a restarted writer checks its epoch before
        # re-submitting — epoch 8 is a replay (skip), 9 is new (apply)
        last = get_last_transaction(url, "app-a")
        assert last == 8
        assert 8 <= last          # replayed batch -> skipped
        assert not (9 <= last)    # next batch -> applied
        assert get_last_transaction(url, "app-zzz") is None
        # the normal load path over the same server stays intact
        n = load_as_spark(url, spark=spark).count()
        assert n == 201

    def test_txn_first_page_only(self, spark, txn_env):
        from delta_sharing_spark.deltaformat import (
            actions_to_delta_format, delta_lines_txns)

        d, _log, _profile = txn_env
        st = SharedTable(spark, d)
        page1 = st.query_actions(max_files=1, response_formats=["delta"])
        assert delta_lines_txns(
            actions_to_delta_format(page1["actions"])) \
            == {"app-a": 8, "app-b": 3}
        page2 = st.query_actions(max_files=1, response_formats=["delta"],
                                 page_token=page1["nextPageToken"])
        assert delta_lines_txns(
            actions_to_delta_format(page2["actions"])) == {}


class TestAudioNearDup:
    """Round-10: energy-contour acoustic fingerprint + the shared banded
    hamming LSH — the audio member of the one-fingerprint-family,
    three-modalities near-dup suite (SimHash text / aHash image / this)."""

    def test_fingerprint_and_pairs(self, spark):
        import itertools

        from delta_sharing_spark.operators.audio import (
            audio_energy_fingerprint, encode_wav)
        from delta_sharing_spark.operators.dedup import hamming_near_pairs
        from delta_sharing_spark.operators.flac import encode_flac

        def clip(seed, boost_frame=None):
            s = []
            for k in range(528):
                v = ((seed * 2654435761 + k * (17 + seed % 23)
                      + (k * k) * (1 + seed % 13)) % 4096) - 2048
                if boost_frame is not None and k // 16 == boost_frame:
                    v += 160
                s.append(v)
            return s

        base = clip(7)
        df = spark.createDataFrame(
            [(1, bytearray(encode_flac(base))),
             (2, bytearray(encode_wav(base))),       # same PCM, other box
             (3, bytearray(encode_flac(clip(7, boost_frame=11)))),
             (4, bytearray(encode_flac(clip(8)))),
             (5, bytearray(b"junk"))],
            "doc_id long, audio binary")
        fps = audio_energy_fingerprint(df, "audio", "doc_id")
        got = {r["doc_id"]: r for r in fps.collect()}
        # FLAC and WAV of the same PCM fingerprint identically (lossless
        # + container-sniffing decode)
        assert got[1]["fingerprint"] == got[2]["fingerprint"]
        assert got[5]["fingerprint"] is None and got[5]["error"]
        # one boosted frame flips at most its two adjacent contour bits
        d13 = bin(got[1]["fingerprint"] ^ got[3]["fingerprint"]).count("1")
        assert 0 <= d13 <= 2
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in hamming_near_pairs(
                     fps.dropna(subset=["fingerprint"]),
                     "doc_id", "fingerprint",
                     bits=32, bands=4, max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0
        assert (1, 3) in pairs and pairs[(1, 3)] == d13
        # LSH completeness vs brute force at the threshold
        ids = [1, 2, 3, 4]
        brute = {(i, j) for i, j in itertools.combinations(ids, 2)
                 if bin(got[i]["fingerprint"]
                        ^ got[j]["fingerprint"]).count("1") <= 3}
        assert set(pairs) == brute

    def test_short_clip_surfaces_error(self, spark):
        from delta_sharing_spark.operators.audio import (
            audio_energy_fingerprint, encode_wav)

        df = spark.createDataFrame(
            [(1, bytearray(encode_wav([0] * 100)))],
            "doc_id long, audio binary")
        row = audio_energy_fingerprint(df, "audio", "doc_id").collect()[0]
        assert row["fingerprint"] is None
        assert "too short" in row["error"]


class TestVideoMjpeg:
    """Round-10: REAL video decode — vendored RIFF-AVI container over
    the vendored MJPEG (baseline JPEG) frames, completing the
    image/audio/video decode triple."""

    def test_container_round_trip(self):
        import numpy as np

        from delta_sharing_spark.operators.jpeg import (
            decode_jpeg, encode_jpeg)
        from delta_sharing_spark.operators.video import (
            decode_avi_mjpeg, encode_avi_mjpeg)

        frames = []
        for f in range(3):
            arr = np.full((16, 16), 10 + 40 * f, dtype=np.uint8)
            arr[8:, 8:] = 200 - 30 * f
            frames.append(encode_jpeg(
                16, 16, 1, [arr[y].tobytes() for y in range(16)]))
        avi = encode_avi_mjpeg(16, 16, frames)
        w, h, out = decode_avi_mjpeg(avi)
        assert (w, h) == (16, 16)
        assert out == frames  # byte-identical frame payloads
        # and the frames still decode to the original pixels
        fw, fh, ch, rows = decode_jpeg(out[1])
        assert (fw, fh, ch) == (16, 16, 1)
        assert rows[0][0] == 50 and rows[15][15] == 170

    def test_decode_rejects_malformed(self):
        import struct as _struct

        import pytest as _pytest

        from delta_sharing_spark.operators.video import (
            VideoError, decode_avi_mjpeg, encode_avi_mjpeg)

        with _pytest.raises(VideoError, match="not a RIFF AVI"):
            decode_avi_mjpeg(b"junkjunkjunkjunk")
        # a non-MJPG stream header must be refused, not misdecoded
        from delta_sharing_spark.operators.jpeg import encode_jpeg
        import numpy as np
        fr = encode_jpeg(16, 16, 1,
                         [np.zeros(16, np.uint8).tobytes()] * 16)
        avi = bytearray(encode_avi_mjpeg(16, 16, [fr]))
        pos = avi.find(b"MJPG", avi.find(b"strf"))
        avi[pos:pos + 4] = b"H264"
        with _pytest.raises(VideoError, match="MJPG only"):
            decode_avi_mjpeg(bytes(avi))
        # truncation caught by chunk-bounds check
        with _pytest.raises(VideoError):
            decode_avi_mjpeg(bytes(encode_avi_mjpeg(16, 16, [fr]))[:-20])

    def test_frame_features_and_cuts(self, spark):
        from delta_sharing_spark.operators.video import (
            scene_cuts, synth_mjpeg_corpus, video_frame_features)

        docs = spark.createDataFrame(
            [(6,), (13,)], "doc_id long")  # 2 + id%3 frames: 2 and 3
        clips = synth_mjpeg_corpus(docs, "doc_id")
        feats = video_frame_features(clips, "video", "doc_id")
        rows = {(r["doc_id"], r["frame_idx"]): r for r in feats.collect()}
        assert len(rows) == 2 + 3
        # replay one frame's block math exactly
        doc, f = 13, 1
        vs = [(doc * 37 + f * 101 + i * 7 + (doc % 16) * i * i
               + (f % 2) * (doc % 7) * 20) % 256 for i in range(4)]
        r = rows[(doc, f)]
        assert r["n_pixels"] == 256
        assert r["sum_px"] == 64 * sum(vs)
        assert r["sum_sq"] == 64 * sum(v * v for v in vs)
        # junk payload surfaces error, not a job failure
        bad = spark.createDataFrame([(9, bytearray(b"nope"))],
                                    "doc_id long, video binary")
        er = video_frame_features(bad, "video", "doc_id").collect()[0]
        assert er["error"] and er["frame_idx"] is None
        # cuts: replay the synth math to get the EXPECTED cut set
        def mean(doc, f):
            return sum((doc * 37 + f * 101 + i * 7 + (doc % 16) * i * i
                        + (f % 2) * (doc % 7) * 20) % 256
                       for i in range(4)) / 4

        want = {(doc, f)
                for doc, nf in ((6, 2), (13, 3))
                for f in range(1, nf)
                if abs(mean(doc, f) - mean(doc, f - 1)) > 40}
        assert want  # the corpus guarantees real cuts to find
        cuts = {(r["doc_id"], r["frame_idx"])
                for r in scene_cuts(feats, "doc_id", 40).collect()}
        assert cuts == want


class TestTypedStatValueCasts:
    def test_non_integral_float_is_unknown_for_int_columns(self):
        # the JSON path casts '3.7' -> NULL for a bigint column (ANSI
        # off); the typed column must be Unknown there too — int()
        # truncation would shrink a MAX bound and wrongly prune
        from delta_sharing_spark.plans.log import _typed_stat_value

        assert _typed_stat_value(3.7, "i") is None
        assert _typed_stat_value(3.0, "i") == 3
        assert _typed_stat_value(True, "i") is None
        assert _typed_stat_value("12", "i") == 12
        assert _typed_stat_value("x", "i") is None
        assert _typed_stat_value(3, "f") == 3.0
        assert _typed_stat_value(True, "b") is True
        assert _typed_stat_value(1, "b") is None
        # string kind: JSON serializes bools lowercase; match it
        assert _typed_stat_value(True, "s") == "true"
        assert _typed_stat_value(3.5, "s") == "3.5"


class TestVideoDecoderFuzz:
    def test_mutations_never_escape_error_taxonomy(self):
        """Every truncation/bit-flip of a valid AVI either decodes or
        raises VideoError/JpegError — never an uncaught exception (the
        per-row error contract of video_frame_features depends on it)."""
        import random
        import struct as _struct

        import numpy as np

        from delta_sharing_spark.operators.jpeg import (
            JpegError, encode_jpeg)
        from delta_sharing_spark.operators.video import (
            VideoError, decode_avi_mjpeg, encode_avi_mjpeg)

        fr = [encode_jpeg(16, 16, 1,
                          [np.full(16, 60 * f, np.uint8).tobytes()] * 16)
              for f in range(3)]
        avi = encode_avi_mjpeg(16, 16, fr)
        rng = random.Random(1234)
        for trial in range(200):
            buf = bytearray(avi)
            if trial % 2:
                buf = buf[:rng.randrange(len(buf))]
            else:
                for _ in range(rng.randrange(1, 4)):
                    buf[rng.randrange(len(buf))] = rng.randrange(256)
            try:
                decode_avi_mjpeg(bytes(buf))
            except (VideoError, JpegError, _struct.error):
                pass  # the contract: typed errors only
        # deep LIST nesting surfaces as VideoError, not RecursionError
        nest = b""
        for _ in range(64):
            nest = b"LIST" + _struct.pack("<I", len(nest) + 4) \
                + b"hdrl" + nest
        deep = b"RIFF" + _struct.pack("<I", len(nest) + 4) + b"AVI " + nest
        import pytest as _pytest
        with _pytest.raises(VideoError, match="nesting too deep"):
            decode_avi_mjpeg(deep)


def test_manifest_session_follows_timezone(spark, tmp_path):
    """A parent-session timezone change must reach the manifest plane —
    string->temporal stat casts in the prune are timezone-sensitive."""
    from delta_sharing_spark.plans.log import manifest_session

    meta = manifest_session(spark)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        assert manifest_session(spark).conf.get(
            "spark.sql.session.timeZone") == "Asia/Tokyo"
        assert manifest_session(spark) is meta  # same session, re-synced
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
        manifest_session(spark)  # restore the mirror too


def test_pre_r10_checkpoint_reads_and_prunes_via_json(spark, tmp_path):
    """A checkpoint written WITHOUT the typed structs (pre-r10 layout)
    must keep working end-to-end: files_df omits the parsed columns,
    parsed_stat_fields is empty, and the prune falls back to the JSON
    path with identical results — the on-disk compat contract."""
    from delta_sharing_spark.plans.log import (
        _fmt_checkpoint, checkpoint_arrow_table, write_checkpoint_files)

    log = _mk_table(spark, str(tmp_path / "t"), interval="100")
    log.write_checkpoint()
    snap = log.snapshot()
    cp = os.path.join(log.log_path, _fmt_checkpoint(snap.version))
    # rewrite the checkpoint in the OLD layout: same rows, no
    # stats_fields (exactly what a pre-r10 writer produced)
    tbl = pq.read_table(cp)
    cols = {n: tbl.column(n).to_pylist() for n in tbl.schema.names}
    old = checkpoint_arrow_table(
        cols["kind"], cols["action_json"], cols["path"],
        [None if v is None else list(v.items()) if isinstance(v, dict)
         else v for v in cols["partitionValues"]],
        cols["size"], cols["numRecords"],
        [None if s is None else json.loads(s) for s in cols["minValues"]],
        [None if s is None else json.loads(s) for s in cols["maxValues"]],
        [None if s is None else json.loads(s) for s in cols["nullCount"]],
        cols["version"], cols["timestamp"])
    assert "minValues_parsed" not in old.schema.names
    write_checkpoint_files(old, cp)
    log2 = TableLog(spark, str(tmp_path / "t"))
    snap2 = log2.snapshot()
    m = log2.files_df(snap2)
    assert parsed_stat_fields(m) == frozenset()
    hint = _hint("id", "long", "greaterThan", 5000)
    kept = sorted(r["path"] for r in m.filter(
        file_keep_condition(hint, snap2.partition_columns,
                            parsed_stat_fields(m)))
        .select("path").collect())
    from delta_sharing_spark.plans.predicates import keep_file
    want = sorted(a.path for a in snap2.files
                  if keep_file(json.loads(hint), a.partitionValues,
                               a.stats_dict(), snap2.partition_columns))
    assert kept == want and kept
    # and a tail commit over the old-layout base still unions cleanly
    log2.append(spark.range(0, 10).select(
        (F.col("id") + 500_000).alias("id"), F.lit(0.0).alias("v"),
        F.lit("zz").alias("s"), F.to_date(F.lit("2025-01-01")).alias("dt"),
        F.lit("9").alias("cat")))
    snap3 = log2.snapshot()
    m3 = log2.files_df(snap3)
    assert m3.count() == len(snap3.files)
    assert parsed_stat_fields(m3) == frozenset()


def test_typed_prune_under_column_mapping(spark, tmp_path):
    """Column mapping: stats (and therefore the typed structs) are keyed
    by PHYSICAL names; a hint naming the renamed LOGICAL column must
    translate and prune on the typed path with driver-loop parity."""
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.range(0, 8000).select(
        F.col("id").alias("n"), (F.col("id") % 4).cast("string").alias("cat"))
    log.create(df, partition_by=["cat"],
               configuration={"delta.checkpointInterval": "100"})
    log.enable_column_mapping()
    log.rename_column("n", "metric")
    log.write_checkpoint()
    snap = log.snapshot()
    m = log.files_df(snap)
    pf = parsed_stat_fields(m)
    assert pf  # typed structs present, physical-keyed
    assert "metric" not in pf  # logical name is NOT the struct key
    st = SharedTable(spark, str(tmp_path / "t"))
    hint = {"op": "greaterThan", "children": [
        {"op": "column", "name": "metric", "valueType": "long"},
        {"op": "literal", "value": "6000", "valueType": "long"}]}
    jph = log._physical_hints(snap, hint)
    kept = sorted(r["path"] for r in st._pruned_manifest(
        snap, jph, None, None).select("path").collect())
    from delta_sharing_spark.plans.predicates import keep_file
    want = sorted(a.path for a in snap.files
                  if keep_file(jph, a.partitionValues, a.stats_dict(),
                               snap.physical_partition_columns))
    assert kept == want
    assert 0 < len(kept) < len(snap.files)  # the prune actually bit


def _storage_rows(spark, lo, hi):
    """Every stats kind: long, double with nulls, string, date, timestamp
    and decimal (both without min/max stats: Unknown keeps), a nested
    struct with a nullable leaf."""
    return spark.range(lo, hi).select(
        F.col("id"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") / 500).cast("int").cast("double"))
        .alias("v"),
        F.concat(F.lit("s"), F.lpad((F.col("id") / 400).cast("int")
                                    .cast("string"), 2, "0")).alias("s"),
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("id") / 100).cast("int")).alias("dt"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 600)
        .alias("ts"),
        (F.col("id") / 100).cast("decimal(10,2)").alias("dec"),
        F.struct((F.col("id") / 100).cast("int").alias("qty"),
                 F.when(F.col("id") % 3 == 0, None).otherwise(F.lit("t"))
                 .alias("tag")).alias("m"),
        (F.col("id") % 4).cast("string").alias("cat"),
    )


def _storage_hints(s_name: str) -> list[dict]:
    """One hint per stats kind (logical names; ``s_name`` is the string
    column's current name), plus null counts, a partition conjunction and
    a negation."""
    def h(col, vtype, op, value):
        return json.loads(_hint(col, vtype, op, value))

    def null(col, vtype):
        return {"op": "isNull", "children": [
            {"op": "column", "name": col, "valueType": vtype}]}

    return [
        h("id", "long", "greaterThan", 3000),
        h("v", "double", "equal", 3.0),
        null("v", "double"),
        h(s_name, "string", "greaterThanOrEqual", "s09"),
        h("dt", "date", "lessThan", "2024-01-12"),
        h("ts", "timestamp", "greaterThanOrEqual", "2023-11-25T00:00:00Z"),
        h("dec", "double", "greaterThan", 25.5),
        h("m.qty", "int", "lessThan", 5),
        null("m.tag", "string"),
        null("id", "long"),
        {"op": "and", "children": [
            h("cat", "string", "equal", "2"),
            h("id", "long", "lessThan", 2000)]},
        {"op": "not", "children": [h(s_name, "string", "equal", "s03")]},
    ]


@pytest.fixture(scope="module")
def storage_tables(spark, tmp_path_factory):
    """name -> (path, current name of the string column) for four
    checkpoint layouts of the same rows, each with a tail after the
    checkpoint that adds files and rewrites some (a delete): classic,
    multi-part, v2 with several sidecars, and column-mapped (string
    column renamed before the checkpoint)."""
    import delta_sharing_spark.plans.log as log_mod

    root = tmp_path_factory.mktemp("storage")
    out = {}
    for name in ("classic", "multipart", "v2", "mapped"):
        path = str(root / name)
        conf = {"delta.checkpointInterval": "100"}
        if name == "v2":
            conf["delta.checkpointPolicy"] = "v2"
        log = TableLog(spark, path)
        log.create(_storage_rows(spark, 0, 4000).repartitionByRange(10, "id"),
                   partition_by=["cat"], configuration=conf)
        s_name = "s"
        if name == "mapped":
            log.enable_column_mapping()
            log.rename_column("s", "label")
            s_name = "label"
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(log_mod, "CHECKPOINT_PART_ROWS", 10)
            mp.setattr(log_mod, "SIDECAR_TARGET_ROWS", 8)
            log.write_checkpoint()
        tail = _storage_rows(spark, 4000, 4400)
        if name == "mapped":
            tail = tail.withColumnRenamed("s", "label")
        log.append(tail.repartition(2))
        log.delete("id < 150")
        out[name] = (path, s_name)
    return out


@pytest.fixture(scope="module")
def edge_table(spark, tmp_path_factory):
    """A forged table (stats written as given, no data files) whose stats
    and partition values hit Spark's cast edges: double stats 3.0, 3.7
    and NaN, long stats past int32, ISO-string date and timestamp stats,
    empty-string (null) partition values and a file without stats.
    Checkpointed, with a tail commit after the checkpoint."""
    from delta_sharing_spark.plans.actions import (
        AddFile, CommitInfo, Metadata, Protocol)

    path = str(tmp_path_factory.mktemp("edge") / "t")
    schema = T.StructType([
        T.StructField("p", T.StringType()), T.StructField("d", T.DoubleType()),
        T.StructField("n", T.LongType()), T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType())])

    def add(i, p, lo, hi):
        stats = None if lo is None else json.dumps({
            "numRecords": 10, "minValues": lo, "maxValues": hi,
            "nullCount": {"d": i % 2, "n": 0, "dt": 0, "ts": 0}})
        return AddFile(path=f"p={p}/f{i}.parquet", partitionValues={"p": p},
                       size=100 + i, stats=stats)

    def st(d, n, day, hour):
        return {"d": d, "n": n, "dt": f"2024-01-{day:02d}",
                "ts": f"2024-01-{day:02d} {hour:02d}:00:00"}

    nan = float("nan")
    files = [
        add(0, "a", st(3.0, 1, 5, 0), st(3.0, 10, 10, 6)),
        add(1, "", st(3.7, 3_000_000_000, 8, 0), st(3.7, 3_000_000_100, 9, 0)),
        add(2, "b", st(nan, -5, 1, 0), st(nan, 0, 2, 12)),
        add(3, "", st(1.0, 20, 11, 0), st(nan, 30, 20, 0)),
        add(4, "a", None, None),
        add(5, "1", st(-2.5, 7, 3, 0), st(0.5, 9, 4, 0)),
    ]
    log = TableLog(spark, path)
    log._write_commit(0, [
        Protocol(), Metadata(id="edge", name="edge",
                             schemaString=schema.json(),
                             partitionColumns=["p"]),
        *files[:4], CommitInfo(version=0, timestamp=1, operation="WRITE")])
    log.write_checkpoint()
    log._write_commit(1, [*files[4:], CommitInfo(version=1, timestamp=2,
                                                 operation="WRITE")])
    return path


def _edge_hints() -> list[dict]:
    """Hints over ``edge_table`` whose leaves need Spark's cast rules."""
    def h(col, vtype, op, value, lit_vtype=None):
        return {"op": op, "children": [
            {"op": "column", "name": col, "valueType": vtype},
            {"op": "literal", "value": value,
             "valueType": lit_vtype or vtype}]}

    def null(col, vtype):
        return {"op": "isNull", "children": [
            {"op": "column", "name": col, "valueType": vtype}]}

    return [
        # a long hint over double stats 3.0 and 3.7
        h("d", "long", "equal", "3"), h("d", "long", "lessThan", "4"),
        h("d", "long", "greaterThan", "3"),
        # int literals past int32, and an int hint over stats past it
        h("n", "int", "greaterThan", "3000000000"),
        h("n", "int", "lessThan", "5"), h("n", "long", "greaterThan", "99"),
        # date and timestamp hints over ISO-string stats
        h("dt", "date", "lessThan", "2024-01-08"),
        h("dt", "date", "equal", "2024-01-09"),
        h("ts", "timestamp", "greaterThanOrEqual", "2024-01-09T00:00:00Z"),
        h("ts", "timestamp", "lessThan", "2024-01-03 00:00:00"),
        # malformed literals, on stats and on a partition column
        h("n", "long", "lessThan", "abc"), h("p", "int", "equal", "zz"),
        h("dt", "date", "greaterThan", "not-a-date"),
        # empty-string partition values under isNull and under not
        null("p", "string"), {"op": "not", "children": [null("p", "string")]},
        {"op": "not", "children": [h("p", "string", "equal", "a")]},
        h("p", "int", "equal", "1"),
        # an or with an unsupported child (not over a data column)
        {"op": "or", "children": [
            h("p", "string", "equal", "a"),
            {"op": "not", "children": [h("n", "long", "lessThan", "3")]}]},
        {"op": "and", "children": [
            h("p", "string", "equal", "a"),
            {"op": "not", "children": [h("n", "long", "lessThan", "3")]}]},
        # NaN double stats
        h("d", "double", "greaterThan", "5"), h("d", "double", "lessThan", "2"),
        h("d", "double", "equal", "NaN"), null("d", "double"),
        # a comparison across value types (Spark coerces long to double)
        h("n", "long", "lessThan", "2.5", "double"),
    ]


class TestManifestStorageParity:
    """Driver-resident and scanned manifests (``manifest_storage``) keep
    the same files as the sessionless driver loop, page the same walk
    and cut ``limitHint`` at the same file, for every checkpoint layout."""

    @pytest.fixture(params=["classic", "multipart", "v2", "mapped"])
    def layout(self, request, storage_tables, spark, manifest_storage):
        path, s_name = storage_tables[request.param]
        truth = TableLog(spark, path).snapshot()
        assert truth.cp_version is not None and truth.tail_changed
        table = SharedTable(spark, path)
        snap = table.log.snapshot()
        manifest_storage.check(table.log, snap)
        if request.param == "multipart":
            cp = os.path.join(table.log.log_path,
                              _fmt_checkpoint(snap.cp_version))
            assert os.path.isdir(cp)
        if request.param == "v2":
            assert len(table.log._checkpoint_sidecars(snap.cp_version)) > 1
        return table, snap, truth, s_name

    def test_kept_sets_match_driver_loop(self, layout):
        from delta_sharing_spark.plans.predicates import keep_file

        table, snap, truth, s_name = layout
        pruning = 0
        for hint in _storage_hints(s_name):
            jph = table.log._physical_hints(snap, hint)
            got = sorted(r["path"] for r in table._pruned_manifest(
                snap, jph, None, None).select("path").collect())
            want = sorted(
                a.path for a in truth.files
                if keep_file(jph, a.partitionValues, a.stats_dict(),
                             truth.physical_partition_columns))
            assert got == want, hint
            assert [a.path for a in table.kept_adds(snap, hint)] == want
            pruning += len(want) < len(truth.files)
        assert pruning >= 7  # the hints really prune

    def test_paged_walk_and_limit_cutoffs(self, layout):
        table, snap, truth, _ = layout
        paths = sorted(a.path for a in truth.files)
        seen, token = [], None
        while True:
            out = table.query_actions(max_files=9, page_token=token,
                                      response_formats={"delta"})
            seen += [ln["file"]["id"] for ln in out["actions"]
                     if "file" in ln]
            token = out["nextPageToken"]
            if not token:
                break
        assert seen == paths
        records = {a.path: a.logical_records for a in truth.files}
        for limit in (1, 700, 2500):
            want, total = [], 0
            for p in paths:
                if total >= limit:
                    break
                want.append(p)
                total += records[p]
            got = [a.path for a in table.kept_adds(snap, None, None, limit)]
            assert got == want, limit
        assert not snap.files_materialized

    def test_cast_edges_match_across_storages(self, spark, edge_table):
        # resident (Arrow) and scan (Catalyst) keep the same files for
        # hints whose leaves need Spark's cast rules
        kept = {}
        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                table = SharedTable(spark, edge_table)
                snap = table.log.snapshot()
                storage.check(table.log, snap)
                kept[name] = [[a.path for a in table.kept_adds(snap, hint)]
                              for hint in _edge_hints()]
        for hint, res, scan in zip(_edge_hints(), kept["resident"],
                                   kept["scan"]):
            assert res == scan, hint
        assert sum(len(k) < 6 for k in kept["scan"]) >= 12  # they prune
