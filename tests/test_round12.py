"""Round-12 additions.

1. Lazy-serving guarantee (r11 verdict #1): NO public serving path —
   ``to_df`` (full/filtered/limit), the REST query routes, CDF, the
   Spark-job checkpoint writers — may materialize the full AddFile set
   of a checkpoint-seeded snapshot. ``materialize_s`` (the explicit
   ``snap.files`` escape hatch) is an opt-in maintenance cost only.
2. Non-destructive checkpoint install (r11 ADVICE #1/#3): the previous
   checkpoint is never destroyed before the new one is in place, and
   ``_last_checkpoint`` only advances onto a verified-complete install.
3. Shared-filesystem gate for the Spark-job writers (r11 ADVICE #4).
4. JSON-path quote escaping in stats pruning (r11 ADVICE #5): a column
   name the JSON-path grammar can't express degrades to Unknown->keep,
   never a malformed path or a wrong prune.
5. A failed auto-checkpoint never fails the commit and is logged at
   WARNING on ``dss.log``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_sharing_spark.plans.log import TableLog, _fmt_checkpoint
from delta_sharing_spark.table import SharedTable
from tests.conftest import ManifestStorage, manifest_storage_set


class TestLazyServingPlane:
    """Every public serving path must run on the lazy manifest plane:
    ``_read_checkpoint_adds`` (the O(files) AddFile materialization) is
    patched to raise, and the paths must still serve correct results.

    Scope note: the Python Data Source CLIENT (batch planner, streaming
    snapshot-start backfill) necessarily enumerates the file actions it
    is about to read — that is the response itself, exactly like the
    reference client consuming paged ``getTableFiles`` RPCs — so client
    enumeration is NOT in scope here; the guarantee is about the
    ENGINE/server plane doing O(files) driver work that the response
    size doesn't justify."""

    @pytest.fixture()
    def env(self, spark, tmp_path):
        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        df = spark.range(0, 4000).selectExpr(
            "id", "cast(id % 7 as double) as v",
            "cast(id % 4 as string) as cat")
        log.create(df.repartition(8), partition_by=["cat"],
                   configuration={"delta.checkpointInterval": "100",
                                  "enableChangeDataFeed": "true"})
        log.append(df.selectExpr("id + 10000 as id", "v", "cat"))
        log.write_checkpoint()
        # a commit tail AFTER the checkpoint, so serving must compose
        # checkpoint-manifest minus changed plus tail — still lazily
        log.append(df.selectExpr("id + 20000 as id", "v", "cat"))
        return d

    def _forbid(self, spark, monkeypatch, request):
        from contextlib import ExitStack

        import delta_sharing_spark.plans.log as L

        def boom(self, version):
            raise AssertionError(
                "public serving path materialized the full AddFile set")

        monkeypatch.setattr(L.TableLog, "_read_checkpoint_adds", boom)
        # force the scanned checkpoint (production shape above Spark's
        # local-relation bound): Catalyst prunes the DataFrame plane
        stack = ExitStack()
        stack.enter_context(manifest_storage_set(spark, "scan"))
        request.addfinalizer(stack.close)

    def test_to_df_paths_stay_lazy(self, spark, env, monkeypatch, request):
        self._forbid(spark, monkeypatch, request)
        st = SharedTable(spark, env)  # cold log: nothing cached
        assert st.to_df().count() == 12000
        hints = {"op": "greaterThan",
                 "children": [{"op": "column", "name": "id",
                               "valueType": "long"},
                              {"op": "literal", "value": "20500",
                               "valueType": "long"}]}
        assert st.to_df(json_predicate_hints=hints).count() > 0
        assert st.to_df(limit=7).count() == 7
        assert not st.log.snapshot().files_materialized

    def test_rest_routes_stay_lazy(self, spark, env, monkeypatch,
                                   request):
        import urllib.request

        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.server import SharingServer

        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", env)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        try:
            self._forbid(spark, monkeypatch, request)

            def post(path, body):
                req = urllib.request.Request(
                    url + path, data=json.dumps(body).encode(),
                    headers={"Authorization": "Bearer tok",
                             "Content-Type": "application/json"},
                    method="POST")
                with urllib.request.urlopen(req) as r:
                    return r.read().decode()

            # paged query: page 1 + page 2 via the token
            out = post("/shares/s/schemas/d/tables/t/query",
                       {"maxFiles": 3})
            lines = [json.loads(ln) for ln in out.splitlines() if ln]
            token = next((ln["endStreamAction"]["nextPageToken"]
                          for ln in lines if "endStreamAction" in ln
                          and ln["endStreamAction"].get("nextPageToken")),
                         None)
            assert token is not None
            post("/shares/s/schemas/d/tables/t/query",
                 {"maxFiles": 3, "pageToken": token})
            # limit + hints forms
            post("/shares/s/schemas/d/tables/t/query", {"limitHint": 5})
            post("/shares/s/schemas/d/tables/t/query", {
                "jsonPredicateHints": json.dumps({
                    "op": "equal", "children": [
                        {"op": "column", "name": "cat",
                         "valueType": "string"},
                        {"op": "literal", "value": "1",
                         "valueType": "string"}]})})
            # metadata + version probes
            req = urllib.request.Request(
                url + "/shares/s/schemas/d/tables/t/metadata",
                headers={"Authorization": "Bearer tok"})
            urllib.request.urlopen(req).read()
        finally:
            srv.shutdown()

    def test_cdf_stays_lazy(self, spark, env, monkeypatch, request):
        from delta_sharing_spark.cdf import table_changes

        self._forbid(spark, monkeypatch, request)
        ch = table_changes(spark, env, starting_version=0)
        assert ch.count() >= 12000

    def test_checkpoint_writes_stay_lazy(self, spark, env, monkeypatch,
                                         request):
        import delta_sharing_spark.plans.log as L

        log = TableLog(spark, env)
        self._forbid(spark, monkeypatch, request)
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        v = log.latest_version()
        out = log.write_checkpoint(version=v)  # Spark-job path
        assert os.path.isdir(out)
        # and the snapshot is STILL lazy afterwards
        assert not log.snapshot(version=v).files_materialized

    def test_v2_checkpoint_write_stays_lazy(self, spark, tmp_path,
                                            monkeypatch):
        import delta_sharing_spark.plans.log as L

        d = str(tmp_path / "tv2")
        log = TableLog(spark, d)
        df = spark.range(0, 2000).selectExpr(
            "id", "cast(id % 4 as string) as cat")
        log.create(df.repartition(4), configuration={
            "delta.checkpointPolicy": "v2",
            "delta.checkpointInterval": "100"})
        log.write_checkpoint()
        log.append(df.selectExpr("id + 5000 as id", "cat"))
        v = log.latest_version()
        # fresh log so nothing is pre-materialized
        log2 = TableLog(spark, d)

        def boom(self, version):
            raise AssertionError("v2 checkpoint write materialized adds")

        monkeypatch.setattr(L.TableLog, "_read_checkpoint_adds", boom)
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        log2.write_checkpoint(version=v)
        assert not log2.snapshot(version=v).files_materialized


class TestNonDestructiveCheckpointInstall:
    def test_install_success_replaces_and_cleans(self, tmp_path):
        from delta_sharing_spark.plans.log import _install_checkpoint

        final = str(tmp_path / "00000000000000000005.checkpoint.parquet")
        os.makedirs(final)
        open(os.path.join(final, "old-part.parquet"), "w").write("old")
        tmp = final + ".abc.tmp"
        os.makedirs(tmp)
        open(os.path.join(tmp, "new-part.parquet"), "w").write("new")
        assert _install_checkpoint(tmp, final) is True
        assert os.listdir(final) == ["new-part.parquet"]
        assert not os.path.exists(tmp)
        # no .old residue
        assert [n for n in os.listdir(tmp_path)
                if ".old." in n] == []

    def test_install_failure_restores_prior(self, tmp_path, monkeypatch):
        import delta_sharing_spark.plans.log as L

        final = str(tmp_path / "00000000000000000005.checkpoint.parquet")
        os.makedirs(final)
        open(os.path.join(final, "old-part.parquet"), "w").write("old")
        tmp = final + ".abc.tmp"
        os.makedirs(tmp)
        open(os.path.join(tmp, "new-part.parquet"), "w").write("new")

        real_rename = os.rename

        def flaky(src, dst):
            if src == tmp:
                raise OSError("injected failure installing new")
            return real_rename(src, dst)

        monkeypatch.setattr(L.os, "rename", flaky)
        assert L._install_checkpoint(tmp, final) is True
        # the PRIOR checkpoint is back at final, complete
        assert os.listdir(final) == ["old-part.parquet"]
        assert not os.path.exists(tmp)

    def test_install_failure_no_prior_returns_false(self, tmp_path,
                                                    monkeypatch):
        import delta_sharing_spark.plans.log as L

        final = str(tmp_path / "00000000000000000005.checkpoint.parquet")
        tmp = final + ".abc.tmp"
        os.makedirs(tmp)
        open(os.path.join(tmp, "new-part.parquet"), "w").write("new")
        monkeypatch.setattr(
            L.os, "rename",
            lambda s, d: (_ for _ in ()).throw(OSError("boom")))
        assert L._install_checkpoint(tmp, final) is False
        assert not os.path.exists(final)

    def test_last_checkpoint_not_advanced_on_failed_install(
            self, spark, tmp_path, monkeypatch):
        """write_checkpoint over a FRESH version with the install
        renames blocked (both os.rename and the file-layout os.replace
        fast path): the write must fail LOUDLY (r12: no silent
        return-of-a-missing-path) and the _last_checkpoint pointer must
        not advance onto a checkpoint that was never installed."""
        import delta_sharing_spark.plans.log as L

        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        df = spark.range(0, 200).selectExpr("id")
        log.create(df)
        log.write_checkpoint()  # version 0 checkpoint, pointer -> 0
        before = json.load(open(os.path.join(log.log_path,
                                             "_last_checkpoint")))
        log.append(df.selectExpr("id + 1000 as id"))
        v = log.latest_version()
        real_rename = os.rename
        real_replace = os.replace
        blocked = _fmt_checkpoint(v)

        def flaky(src, dst):
            if os.path.basename(dst) == blocked:
                raise OSError("injected")
            return real_rename(src, dst)

        def flaky_replace(src, dst):
            if os.path.basename(dst) == blocked:
                raise OSError("injected")
            return real_replace(src, dst)

        monkeypatch.setattr(L.os, "rename", flaky)
        monkeypatch.setattr(L.os, "replace", flaky_replace)
        with pytest.raises(OSError, match="checkpoint install failed"):
            log.write_checkpoint(version=v)
        after = json.load(open(os.path.join(log.log_path,
                                            "_last_checkpoint")))
        assert after == before  # pointer still at the old checkpoint
        assert not os.path.exists(
            os.path.join(log.log_path, blocked))

    def test_lost_race_aside_copy_cleaned(self, tmp_path, monkeypatch):
        """Losing a concurrent install race (rename(tmp, final) fails
        because the winner already installed) must not leak the
        renamed-aside prior checkpoint — at a 10M-file manifest that is
        a full multi-GB copy orphaned per lost race."""
        import delta_sharing_spark.plans.log as L

        final = str(tmp_path / "00000000000000000005.checkpoint.parquet")
        os.makedirs(final)
        open(os.path.join(final, "part-0.parquet"), "w").write("x")
        tmp = final + ".abc.tmp"
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0.parquet"), "w").write("y")
        real_rename = os.rename

        def flaky(src, dst):
            if src == tmp:
                # concurrent winner lands at final, then our rename fails
                os.makedirs(dst, exist_ok=True)
                raise OSError("lost race")
            return real_rename(src, dst)

        monkeypatch.setattr(L.os, "rename", flaky)
        assert L._install_checkpoint(tmp, final) is True
        leftovers = [p for p in os.listdir(tmp_path) if ".old." in p]
        assert not leftovers, leftovers

    def test_file_layout_over_dir_layout_swap(self, tmp_path):
        """A single-FILE checkpoint installing over a pre-existing
        DIRECTORY checkpoint (both layouts exist in the wild — the Spark
        job and a multi-part serial build write directories, a small
        serial build a file) must succeed in both directions."""
        from delta_sharing_spark.plans.log import _install_checkpoint

        final = str(tmp_path / "cp")
        os.makedirs(final)
        open(os.path.join(final, "p.parquet"), "w").write("dir")
        tmp = final + ".t1.tmp"
        open(tmp, "w").write("file-layout")
        assert _install_checkpoint(tmp, final) is True
        assert os.path.isfile(final)
        tmp2 = final + ".t2.tmp"
        os.makedirs(tmp2)
        open(os.path.join(tmp2, "q.parquet"), "w").write("dir2")
        assert _install_checkpoint(tmp2, final) is True
        assert os.path.isdir(final)
        assert os.listdir(final) == ["q.parquet"]


class TestAutoCheckpointFailure:
    def test_failed_auto_checkpoint_is_logged(self, spark, tmp_path,
                                              monkeypatch, caplog):
        """A failing auto-checkpoint must not fail the commit, and must
        not be silent either: one WARNING with the traceback on the
        ``dss.log`` logger."""
        import logging

        import delta_sharing_spark.plans.log as L

        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        df = spark.range(0, 10).selectExpr("id")
        log.create(df, configuration={"delta.checkpointInterval": "2"})
        log.append(df)  # version 1

        def boom(self, version=None):
            raise OSError("injected checkpoint failure")

        monkeypatch.setattr(L.TableLog, "write_checkpoint", boom)
        with caplog.at_level(logging.WARNING, logger="dss.log"):
            log.append(df)  # version 2: the interval version
        assert log.latest_version() == 2
        assert TableLog(spark, d).snapshot().version == 2
        recs = [r for r in caplog.records if r.name == "dss.log"]
        assert len(recs) == 1
        assert recs[0].levelno == logging.WARNING
        assert recs[0].exc_info is not None
        assert "injected checkpoint failure" in str(recs[0].exc_info[1])


class TestSharedFsGate:
    def test_local_master_is_shared(self, spark, tmp_path):
        log = TableLog(spark, str(tmp_path / "t"))
        log.create(spark.range(5).selectExpr("id"))
        assert log._spark_writes_shared_fs() is True

    def _fake_meta(self, monkeypatch, vals):
        import delta_sharing_spark.plans.log as L

        class FakeConf:
            def get(self, k, d=None):
                return vals.get(k, d)

        class FakeSession:
            conf = FakeConf()

        monkeypatch.setattr(L.TableLog, "meta_spark",
                            property(lambda self: FakeSession()))

    def test_cluster_master_without_optin_declines(self, spark, tmp_path,
                                                   monkeypatch):
        log = TableLog(spark, str(tmp_path / "t"))
        log.create(spark.range(5).selectExpr("id"))
        self._fake_meta(monkeypatch, {"spark.master": "spark://h:7077"})
        assert log._spark_writes_shared_fs() is False

    def test_cluster_master_with_optin(self, spark, tmp_path,
                                       monkeypatch):
        log = TableLog(spark, str(tmp_path / "t"))
        log.create(spark.range(5).selectExpr("id"))
        self._fake_meta(monkeypatch, {
            "spark.master": "spark://h:7077",
            "spark.dsl.checkpoint.sharedFilesystem": "true"})
        assert log._spark_writes_shared_fs() is True

    def test_gate_falls_back_to_serial_builder(self, spark, tmp_path,
                                               monkeypatch):
        """With the gate closed, write_checkpoint must not touch the
        Spark-job writers and still produce a valid checkpoint."""
        import delta_sharing_spark.plans.log as L

        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        df = spark.range(0, 500).selectExpr("id")
        log.create(df.repartition(4))
        log.write_checkpoint()
        log.append(df.selectExpr("id + 1000 as id"))
        monkeypatch.setattr(L.TableLog, "_spark_writes_shared_fs",
                            lambda self: False)
        monkeypatch.setattr(
            L.TableLog, "_write_checkpoint_classic_spark",
            lambda self, snap: (_ for _ in ()).throw(
                AssertionError("Spark-job writer ran with gate closed")))
        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        v = log.latest_version()
        out = log.write_checkpoint(version=v)
        cold = TableLog(spark, d)
        assert len(cold.snapshot(version=v).files) == \
            len(log.snapshot(version=v).files)
        assert os.path.exists(out)


class TestStatsJsonPathQuoting:
    def test_quoted_name_is_inexpressible(self):
        from delta_sharing_spark.plans.predicates import _stats_json_path

        assert _stats_json_path("o'clock") is None
        assert _stats_json_path("back\\slash") is None
        assert _stats_json_path("plain") == "$['plain']"
        assert _stats_json_path("m.qty") == "$['m']['qty']"

    def test_quoted_name_keeps_file(self, spark):
        """A stats hint over a quote-bearing column must evaluate to
        Unknown (keep) on the JSON fallback path — never a malformed
        JSON path that silently disables pruning semantics, and never a
        wrong prune."""
        from delta_sharing_spark.plans.predicates import (
            _rewrite_for_stats)

        op = {"op": "greaterThan", "children": [
            {"op": "column", "name": "o'clock", "valueType": "long"},
            {"op": "literal", "value": "100", "valueType": "long"}]}
        cond = _rewrite_for_stats(op, set(), frozenset())
        df = spark.createDataFrame(
            [(json.dumps({"o'clock": 1}), json.dumps({"o'clock": 2}),
              json.dumps({"o'clock": 0}))],
            "minValues string, maxValues string, nullCount string")
        # keep-condition semantics: NULL (Unknown) rows are kept
        kept = df.filter(cond.isNull() | cond).count()
        assert kept == 1
        # and isNull over the same name is Unknown too
        op2 = {"op": "isNull", "children": [
            {"op": "column", "name": "o'clock", "valueType": "long"}]}
        cond2 = _rewrite_for_stats(op2, set(), frozenset())
        assert df.filter(cond2.isNull() | cond2).count() == 1


FEATURE_COMBOS = {
    "plain": frozenset(),
    "cm": frozenset({"cm"}),
    "dv": frozenset({"dv"}),
    "rt": frozenset({"rt"}),
    "txn": frozenset({"txn"}),
    "gen": frozenset({"gen"}),
    "cm_dv": frozenset({"cm", "dv"}),
    "cm_rt_txn": frozenset({"cm", "rt", "txn"}),
    "dv_rt": frozenset({"dv", "rt"}),
    "all": frozenset({"cm", "dv", "rt", "txn", "gen"}),
}


class TestRemoteFeatureMatrix:
    """r11 verdict #7: the txn test exposed a real remote-parser gap
    (column-mapped snapshots returned zero files), so sweep the table-
    feature matrix — column mapping x deletion vectors x row tracking x
    SetTransaction x generated columns — through the live-HTTP client
    stack (RemoteTableLog.snapshot/commits + load_as_spark +
    load_table_changes_as_spark), asserting parity with the local log."""

    @pytest.fixture(scope="class")
    def matrix_env(self, spark, tmp_path_factory):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.server import SharingServer

        base = tmp_path_factory.mktemp("featmatrix")
        cat = ShareCatalog(spark)
        logs = {}
        for name, feats in FEATURE_COMBOS.items():
            d = str(base / name)
            log = TableLog(spark, d)
            df = spark.range(0, 80).selectExpr("id", "id * 2 as v")
            cfg = {"enableChangeDataFeed": "true"}
            kw = {}
            if "dv" in feats:
                cfg["enableDeletionVectors"] = "true"
            if "gen" in feats:
                kw["generated_columns"] = {"id2": "id + 1"}
            op = ({"queryId": "app-x", "epochId": "5"}
                  if "txn" in feats else None)
            log.create(df, name=name, configuration=cfg,
                       operation_parameters=op, **kw)
            if "rt" in feats:
                log.enable_row_tracking()
            if "cm" in feats:
                log.enable_column_mapping()
                log.rename_column("v", "w")
            vcol = "w" if "cm" in feats else "v"
            op2 = ({"queryId": "app-x", "epochId": "6"}
                   if "txn" in feats else None)
            log.append(df.selectExpr("id + 100 as id", f"id as {vcol}"),
                       operation_parameters=op2)
            if "dv" in feats:
                log.delete("id >= 170")
            cat.add_table("s", "d", name, d)
            logs[name] = log
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        prof = base / "prof.json"
        prof.write_text(json.dumps({
            "shareCredentialsVersion": 1, "endpoint": url,
            "bearerToken": "tok"}))
        yield str(prof), logs
        srv.shutdown()

    @pytest.mark.parametrize("name", sorted(FEATURE_COMBOS))
    def test_remote_snapshot_parity(self, matrix_env, name):
        from delta_sharing_spark.sources.remote import RemoteTableLog

        prof, logs = matrix_env
        local = logs[name]
        rlog = RemoteTableLog(prof, "s", "d", name)
        rsnap = rlog.snapshot()
        lsnap = local.snapshot()
        assert len(rsnap.files) == len(lsnap.files) > 0
        # the LOGICAL schema round-trips (renamed/generated columns too)
        feats = FEATURE_COMBOS[name]
        if "cm" in feats:
            assert "w" in rsnap.metadata.schemaString
        if "gen" in feats:
            assert "id2" in rsnap.metadata.schemaString

    @pytest.mark.parametrize("name", sorted(FEATURE_COMBOS))
    def test_remote_commits_parity(self, matrix_env, name):
        from delta_sharing_spark.sources.remote import RemoteTableLog

        prof, logs = matrix_env
        rlog = RemoteTableLog(prof, "s", "d", name)
        assert len(rlog.commits(0)) == logs[name].latest_version() + 1

    @pytest.mark.parametrize("name", sorted(FEATURE_COMBOS))
    def test_client_load_and_changes_parity(self, spark, matrix_env,
                                            name):
        from delta_sharing_spark.client import (
            get_table_txns, load_as_spark, load_table_changes_as_spark)

        prof, logs = matrix_env
        feats = FEATURE_COMBOS[name]
        url = f"{prof}#s.d.{name}"
        local_n = SharedTable(spark, logs[name].path).to_df().count()
        assert local_n == (150 if "dv" in feats else 160)
        assert load_as_spark(url, spark=spark).count() == local_n
        if "txn" in feats:
            assert get_table_txns(url) == {"app-x": 6}
        ch = load_table_changes_as_spark(url, spark=spark,
                                         starting_version=0)
        assert ch.count() >= 160


class TestForkedMaterialize:
    """With the large-table thresholds forced, serving a classic or v2
    checkpoint-seeded table stays lazy: ``_read_checkpoint_adds`` (the
    explicit materialization) never runs on the serving plane."""

    @pytest.fixture(params=["classic", "v2"])
    def cp_table(self, spark, tmp_path, request):
        d = str(tmp_path / request.param)
        log = TableLog(spark, d)
        cfg = {"delta.checkpointInterval": "100"}
        if request.param == "v2":
            cfg["delta.checkpointPolicy"] = "v2"
        df = spark.range(0, 3000).selectExpr(
            "id", "cast(id % 9 as double) as v",
            "cast(id % 5 as string) as cat")
        log.create(df.repartition(6), partition_by=["cat"],
                   configuration=cfg)
        log.append(df.selectExpr("id + 10000 as id", "v", "cat"))
        log.write_checkpoint()
        return d

    def test_materialize_stays_off_serving_plane(self, spark, cp_table,
                                                 monkeypatch):
        # the checkpoint threshold patch must not leak the parse onto the
        # serving plane: with the production large-table shape forced
        # (small-manifest hybrids off), serving stays lazy regardless
        import delta_sharing_spark.plans.log as L

        monkeypatch.setattr(L, "CHECKPOINT_PARALLEL_MIN_FILES", 1)
        with manifest_storage_set(spark, "scan"):
            t = SharedTable(spark, cp_table)
            snap = t.log.snapshot()
            assert t.to_df().count() == 6000
            assert not snap.files_materialized


class TestFilesDfCacheInvalidation:
    def test_files_df_survives_checkpoint_reinstall(self, spark, tmp_path):
        """A checkpoint (re)install swaps the part files on disk; cached
        files_df plans pinned to the old listing must be dropped, not
        re-evaluated into FILE_NOT_EXIST (surfaced at 1M files by the
        r12 non-destructive install)."""
        import delta_sharing_spark.plans.log as L

        # under both manifest storages: the scan plan's cache entry is
        # the one pinned to the checkpoint on disk
        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                d = str(tmp_path / storage.name)
                log = TableLog(spark, d)
                df = spark.range(0, 2000).selectExpr(
                    "id", "cast(id % 3 as string) as cat")
                log.create(df.repartition(4), partition_by=["cat"],
                           configuration={
                               "delta.checkpointInterval": "100"})
                log.write_checkpoint()
                snap = log.snapshot()
                n0 = log.files_df(snap).count()
                storage.check(log, snap)
                # reinstall the checkpoint at the same version
                # (maintenance rewrite) — multi-part path forced so the
                # dir really swaps
                old_parts = L.CHECKPOINT_PART_ROWS
                try:
                    L.CHECKPOINT_PART_ROWS = 1
                    log.write_checkpoint()
                finally:
                    L.CHECKPOINT_PART_ROWS = old_parts
                assert log.files_df(log.snapshot()).count() == n0
                # and the old cached plan is gone (fresh listing, no
                # stale pin)
                assert log.files_df(snap).count() == n0

    def test_cross_instance_reinstall(self, spark, tmp_path):
        """The reader and the rewriter are DIFFERENT TableLog
        instances (server process vs maintenance job — the exact shape
        that failed in the 1M scale bench): the reader's cached plan
        must notice the on-disk swap via the checkpoint's identity, not
        via any in-process signal."""
        import delta_sharing_spark.plans.log as L

        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                d = str(tmp_path / storage.name)
                writer = TableLog(spark, d)
                df = spark.range(0, 2000).selectExpr(
                    "id", "cast(id % 3 as string) as cat")
                writer.create(df.repartition(4), partition_by=["cat"],
                              configuration={
                                  "delta.checkpointInterval": "100"})
                writer.write_checkpoint()

                reader = TableLog(spark, d)
                rsnap = reader.snapshot()
                n0 = reader.files_df(rsnap).count()
                storage.check(reader, rsnap)
                old_parts = L.CHECKPOINT_PART_ROWS
                try:
                    # force the multi-part dir swap
                    L.CHECKPOINT_PART_ROWS = 1
                    writer.write_checkpoint()
                finally:
                    L.CHECKPOINT_PART_ROWS = old_parts
                # reader's cache entry is now stale on disk; must
                # rebuild, and the rebuilt plan must evaluate (not
                # FILE_NOT_EXIST)
                assert reader.files_df(rsnap).count() == n0


class TestServeDuringReinstall:
    def test_serves_after_each_reinstall_cycle(self, spark, tmp_path):
        """Repeated same-version checkpoint reinstalls (alternating
        single-file and multi-part layouts, so file->dir and dir->file
        swaps both happen) with a serve after every install: each serve
        must see a valid checkpoint and the right count. A swap in the
        MIDDLE of an in-flight scan can still raise (inherent
        filesystem-TOCTOU — same as any engine scanning a file another
        process replaces; Delta avoids it by never rewriting a
        version's checkpoint); the guarantee under test is that serves
        STARTING after an install are never stale and never pinned to
        deleted parts."""
        import delta_sharing_spark.plans.log as L

        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                d = str(tmp_path / storage.name)
                writer = TableLog(spark, d)
                df = spark.range(0, 2000).selectExpr(
                    "id", "cast(id % 3 as string) as cat")
                writer.create(df.repartition(4), partition_by=["cat"],
                              configuration={
                                  "delta.checkpointInterval": "100"})
                writer.write_checkpoint()
                reader = TableLog(spark, d)
                rsnap = reader.snapshot()
                expect = reader.files_df(rsnap).count()
                storage.check(reader, rsnap)

                old = L.CHECKPOINT_PART_ROWS
                try:
                    for i in range(6):
                        L.CHECKPOINT_PART_ROWS = 1 if i % 2 == 0 else old
                        writer.write_checkpoint()
                        assert reader.files_df(rsnap).count() == expect
                finally:
                    L.CHECKPOINT_PART_ROWS = old
