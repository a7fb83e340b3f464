"""Row tracking (Delta protocol "Row Tracking", adapted): baseRowId
allocation under the delta.rowTracking metadata domain, stable
_row_id/_row_commit_version reads (baseRowId + parquet row index with
materialized overrides), preservation across DV deletes / OPTIMIZE /
REORG / RESTORE, checkpoint round-trips, and the domain-metadata
concurrency rule.

Ref parity notes: Delta's rowTracking writer feature stores the high-water
mark in a domainMetadata action and derives fresh ids as
baseRowId + row_index with materialized-row-id column overrides; the
delta-sharing reference does not surface row ids, so the behaviors here
mirror the Delta table feature the sharing server would sit on top of.
"""

import json

import pytest
from pyspark.sql import functions as F

from delta_sharing_spark.plans.actions import DomainMetadata
from delta_sharing_spark.plans.log import (
    ROW_TRACKING_DOMAIN,
    ROW_TRACKING_KEY,
    ConcurrentDomainMetadataError,
    TableLog,
)
from delta_sharing_spark.table import SharedTable

RT_CONF = {ROW_TRACKING_KEY: "true"}


def _one_file(df, sort_col="k"):
    """Deterministic single-file layout: row order in the parquet file ==
    sort order, so row ids are predictable in tests."""
    return df.repartition(1).sortWithinPartitions(sort_col)


def _rt_table(spark, table_dir, n=10):
    log = TableLog(spark, table_dir)
    df = spark.range(n).selectExpr("id AS k", "CAST(id*2 AS STRING) AS v")
    log.create(_one_file(df), name="t", configuration=dict(RT_CONF))
    return log


class TestRowIdAllocation:
    def test_create_assigns_contiguous_ids(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        t = SharedTable(spark, table_dir)
        rows = t.to_df(row_ids=True).orderBy("k").collect()
        assert [r._row_id for r in rows] == list(range(10))
        assert all(r._row_commit_version == 0 for r in rows)
        assert log.snapshot().row_id_high_water_mark == 9

    def test_append_continues_past_hwm(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 15).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        t = SharedTable(spark, table_dir)
        rows = t.to_df(row_ids=True).orderBy("k").collect()
        assert [r._row_id for r in rows] == list(range(15))
        assert [r._row_commit_version for r in rows] == [0] * 10 + [1] * 5
        assert log.snapshot().row_id_high_water_mark == 14

    def test_multi_file_batch_ids_unique(self, spark, table_dir):
        log = TableLog(spark, table_dir)
        log.create(spark.range(0).selectExpr("id AS k"), name="t",
                   configuration=dict(RT_CONF))
        log.append(spark.range(500).selectExpr("id AS k").repartition(7))
        t = SharedTable(spark, table_dir)
        ids = [r._row_id for r in
               t.to_df(row_ids=True).select("_row_id").collect()]
        assert len(ids) == 500
        assert sorted(ids) == list(range(500))

    def test_plain_table_rejects_row_ids(self, spark, table_dir):
        log = TableLog(spark, table_dir)
        log.create(spark.range(3).selectExpr("id AS k"), name="t")
        with pytest.raises(ValueError, match="enableRowTracking"):
            SharedTable(spark, table_dir).to_df(row_ids=True)
        # and a plain table's log carries no row-tracking fields at all
        c = log.read_commit(0)
        assert all(a.baseRowId is None for a in c.adds)
        assert all(a.defaultRowCommitVersion is None for a in c.adds)
        assert not c.domains

    def test_domain_action_in_log(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        c = log.read_commit(0)
        assert len(c.domains) == 1
        dm = c.domains[0]
        assert dm.domain == ROW_TRACKING_DOMAIN
        assert json.loads(dm.configuration)["rowIdHighWaterMark"] == 9
        assert all(a.baseRowId is not None for a in c.adds)


class TestRowIdStability:
    def test_dv_delete_preserves_survivors(self, spark, table_dir):
        log = _rt_table(spark, table_dir, n=15)
        log.update_metadata(configuration={
            **log.snapshot().metadata.configuration,
            "enableDeletionVectors": "true"})
        log.delete("k % 3 = 0")
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, 0) for k in range(15) if k % 3 != 0}

    def test_optimize_materializes_and_preserves(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 15).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        log.optimize(target_file_rows=100)
        snap = log.snapshot()
        assert len(snap.files) == 1  # compacted
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, 0 if k < 10 else 1) for k in range(15)}

    def test_reorg_purge_preserves(self, spark, table_dir):
        log = _rt_table(spark, table_dir, n=12)
        log.update_metadata(configuration={
            **log.snapshot().metadata.configuration,
            "enableDeletionVectors": "true"})
        log.delete("k >= 9")
        log.reorg_purge()  # physically drops DV-masked rows
        snap = log.snapshot()
        assert not any(a.deletionVector for a in snap.files)
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, 0) for k in range(9)}

    def test_restore_preserves(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        keep = log.latest_version()
        log.append(_one_file(spark.range(50, 53).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        log.restore(version=keep)
        t = SharedTable(spark, table_dir)
        got = {r.k: r._row_id for r in t.to_df(row_ids=True).collect()}
        assert got == {k: k for k in range(10)}
        # restore consumed no new ids for re-added files
        assert log.snapshot().row_id_high_water_mark == 12

    def test_update_preserves_ids_bumps_versions(self, spark, table_dir):
        """A row keeps its id across its LIFETIME (the Delta row-tracking
        guarantee): an UPDATE rewrite preserves every row's _row_id —
        updated rows get the new commit version, copied rows keep theirs."""
        log = _rt_table(spark, table_dir)
        v = log.update({"v": F.lit("x")}, condition="k >= 8")
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, 0 if k < 8 else v) for k in range(10)}

    def test_update_with_dv_preserves_ids(self, spark, table_dir):
        """DV-mode UPDATE moves the row to a new file — the materialized
        id rides along, so the id survives the move."""
        log = _rt_table(spark, table_dir)
        log.update_metadata(configuration={
            **log.snapshot().metadata.configuration,
            "enableDeletionVectors": "true"})
        v = log.update({"v": F.lit("moved")}, condition="k IN (2, 5)")
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, v if k in (2, 5) else 0) for k in range(10)}

    def test_delete_rewrite_preserves_survivors(self, spark, table_dir):
        """Non-DV DELETE rewrites touched files: surviving (copied) rows
        keep both id and commit version."""
        log = _rt_table(spark, table_dir)
        log.delete("k < 3")
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, 0) for k in range(3, 10)}

    def test_merge_preserves_ids(self, spark, table_dir):
        """MERGE full-row update: matched rows keep their id with the new
        commit version; unmatched copied rows keep id AND version;
        inserted rows get fresh ids past the mark."""
        log = _rt_table(spark, table_dir)
        src = spark.createDataFrame(
            [(3, "new3"), (7, "new7"), (50, "ins")], "k long, v string")
        v = log.merge(src, keys=["k"])
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        ins_id = got[50][0]
        assert ins_id > 9  # fresh, never a reused id
        assert got[50][1] == v
        del got[50]
        assert got == {k: (k, v if k in (3, 7) else 0) for k in range(10)}

    def test_merge_dv_preserves_ids(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        log.update_metadata(configuration={
            **log.snapshot().metadata.configuration,
            "enableDeletionVectors": "true"})
        src = spark.createDataFrame([(4, "dvnew")], "k long, v string")
        v = log.merge(src, keys=["k"])
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        assert got == {k: (k, v if k == 4 else 0) for k in range(10)}


class TestRowTrackingLifecycle:
    def test_enable_later_backfills(self, spark, table_dir):
        log = TableLog(spark, table_dir)
        log.create(_one_file(spark.range(5).selectExpr("id AS k")),
                   name="t")
        log.append(_one_file(spark.range(5, 8).selectExpr("id AS k")))
        v = log.enable_row_tracking()
        c = log.read_commit(v)
        assert c.metadata is not None and c.domains
        t = SharedTable(spark, table_dir)
        got = {r.k: (r._row_id, r._row_commit_version)
               for r in t.to_df(row_ids=True).collect()}
        # backfill allocates in path order but provenance (commit
        # version) carries each file's ORIGINAL version
        assert sorted(r[0] for r in got.values()) == list(range(8))
        assert {k: ver for k, (_i, ver) in got.items()} == {
            **{k: 0 for k in range(5)}, **{k: 1 for k in range(5, 8)}}
        assert log.enable_row_tracking() == v  # idempotent no-op

    def test_checkpoint_roundtrip(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 12).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        log.write_checkpoint()
        fresh = TableLog(spark, table_dir)
        snap = fresh.snapshot()
        assert snap.row_id_high_water_mark == 11
        assert all(a.baseRowId is not None for a in snap.files)
        # next allocation continues from the checkpointed mark
        fresh.append(_one_file(spark.range(12, 14).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        t = SharedTable(spark, table_dir)
        ids = sorted(r._row_id
                     for r in t.to_df(row_ids=True).collect())
        assert ids == list(range(14))

    def test_clone_carries_ids_and_mark(self, spark, table_dir, tmp_path):
        log = _rt_table(spark, table_dir)
        clone = log.clone_to(str(tmp_path / "clone"))
        csnap = clone.snapshot()
        assert csnap.row_id_high_water_mark == 9
        tc = SharedTable(spark, str(tmp_path / "clone"))
        got = {r.k: r._row_id for r in tc.to_df(row_ids=True).collect()}
        assert got == {k: k for k in range(10)}
        # clone's own appends allocate PAST the source's mark
        clone.append(_one_file(spark.range(10, 12).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        got = sorted(r._row_id for r in tc.to_df(row_ids=True).collect())
        assert got == list(range(12))

    def test_time_travel_sees_historic_ids(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 15).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        t = SharedTable(spark, table_dir)
        v0 = t.to_df(version=0, row_ids=True).collect()
        assert sorted(r._row_id for r in v0) == list(range(10))


class TestDomainMetadataConcurrency:
    def test_concurrent_allocation_conflicts(self, spark, table_dir):
        """Two writers allocating against the same mark: the loser gets
        ConcurrentDomainMetadataError (Delta's domain-conflict rule), not
        silently colliding ids."""
        from delta_sharing_spark.plans.actions import AddFile, CommitInfo

        log = _rt_table(spark, table_dir)
        stale = log.snapshot()
        # winner lands an allocating append after the loser snapshotted
        log.append(_one_file(spark.range(10, 13).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        loser_add = AddFile(path="data/loser.parquet", size=1,
                            stats=json.dumps({"numRecords": 3}))
        with pytest.raises(ConcurrentDomainMetadataError):
            log._commit_checked(
                stale,
                lambda v, ts: [loser_add, CommitInfo(
                    version=v, timestamp=ts, operation="WRITE")],
                read_paths=set(),
                tolerate_data_appends=True,
            )

    def test_disjoint_domains_rebase(self, spark, table_dir):
        """A winner writing an UNRELATED domain is logically disjoint —
        the commit rebases like any other non-conflicting interleave."""
        from delta_sharing_spark.plans.actions import CommitInfo

        log = TableLog(spark, table_dir)
        log.create(spark.range(3).selectExpr("id AS k"), name="t")
        stale = log.snapshot()
        log._commit_checked(
            stale,
            lambda v, ts: [DomainMetadata("app.other", "{}"), CommitInfo(
                version=v, timestamp=ts, operation="SET DOMAIN")],
            read_paths=set(), tolerate_data_appends=True)
        v = log._commit_checked(
            stale,  # stale snapshot: forces the conflict/rebase path
            lambda v, ts: [DomainMetadata("app.mine", "{}"), CommitInfo(
                version=v, timestamp=ts, operation="SET DOMAIN")],
            read_paths=set(), tolerate_data_appends=True)
        snap = log.snapshot()
        assert v == 2
        assert set(snap.domain_metadata) == {"app.other", "app.mine"}

    def test_domain_removal_tombstones(self, spark, table_dir):
        from delta_sharing_spark.plans.actions import CommitInfo

        log = TableLog(spark, table_dir)
        log.create(spark.range(3).selectExpr("id AS k"), name="t")
        snap = log.snapshot()
        log._commit_checked(
            snap, lambda v, ts: [DomainMetadata("app.x", '{"a":1}'),
                                 CommitInfo(version=v, timestamp=ts,
                                            operation="SET DOMAIN")],
            read_paths=set(), tolerate_data_appends=True)
        assert log.snapshot().domain_metadata == {"app.x": '{"a":1}'}
        log._commit_checked(
            log.snapshot(),
            lambda v, ts: [DomainMetadata("app.x", removed=True),
                           CommitInfo(version=v, timestamp=ts,
                                      operation="DROP DOMAIN")],
            read_paths=set(), tolerate_data_appends=True)
        assert log.snapshot().domain_metadata == {}
        # removal survives a checkpoint round-trip too
        log.write_checkpoint()
        assert TableLog(spark, table_dir).snapshot().domain_metadata == {}


class TestRowTrackingWire:
    """Row ids over the sharing wire: file actions carry
    baseRowId/defaultRowCommitVersion, both client reconstructions
    (parquet profile + delta format) rebuild _row_id/_row_commit_version
    exactly as the in-process read derives them."""

    def _expected(self, spark, table_dir):
        t = SharedTable(spark, table_dir)
        return {r.k: (r._row_id, r._row_commit_version)
                for r in t.to_df(row_ids=True).collect()}

    def _lines(self, spark, table_dir, formats):
        t = SharedTable(spark, table_dir)
        out = t.query_actions(response_formats=formats)
        return out["actions"]

    def test_wire_actions_carry_row_tracking_fields(self, spark, table_dir):
        log = _rt_table(spark, table_dir)
        log.append(_one_file(
            spark.range(10, 14).selectExpr("id AS k",
                                           "CAST(id*2 AS STRING) AS v")))
        lines = self._lines(spark, table_dir, {"parquet"})
        files = [ln["file"] for ln in lines if "file" in ln]
        assert files and all(
            f["baseRowId"] is not None
            and f["defaultRowCommitVersion"] is not None for f in files)

    def test_profile_reconstruction_matches_in_process(self, spark,
                                                       table_dir):
        from delta_sharing_spark.deltaformat import snapshot_lines_to_spark

        log = _rt_table(spark, table_dir)
        log.update_metadata(configuration={
            **log.snapshot().metadata.configuration,
            "enableDeletionVectors": "true"})
        log.delete("k IN (1, 6)")      # DV: positions survive
        log.optimize(target_file_rows=1_000_000_000)  # materializes ids
        v = log.update({"v": F.lit("x")}, condition="k = 3")
        got = snapshot_lines_to_spark(
            spark, self._lines(spark, table_dir, {"parquet"}),
            row_ids=True)
        assert {r.k: (r._row_id, r._row_commit_version)
                for r in got.collect()} == self._expected(spark, table_dir)
        # and the expected values are the stable ones
        exp = self._expected(spark, table_dir)
        assert exp == {k: (k, v if k == 3 else 0)
                       for k in range(10) if k not in (1, 6)}

    def test_delta_format_reconstruction_matches(self, spark, table_dir):
        from delta_sharing_spark.deltaformat import (
            actions_to_delta_format,
            snapshot_lines_to_spark,
        )

        log = _rt_table(spark, table_dir)
        log.update_metadata(configuration={
            **log.snapshot().metadata.configuration,
            "enableDeletionVectors": "true"})
        log.delete("k = 4")
        lines = actions_to_delta_format(
            self._lines(spark, table_dir, {"delta"}))
        adds = [ln["file"]["deltaSingleAction"]["add"]
                for ln in lines if "file" in ln]
        assert all(a.get("baseRowId") is not None for a in adds)
        got = snapshot_lines_to_spark(spark, lines, row_ids=True)
        assert {r.k: (r._row_id, r._row_commit_version)
                for r in got.collect()} == self._expected(spark, table_dir)

    def test_row_ids_on_untracked_table_raises(self, spark, table_dir):
        from delta_sharing_spark.deltaformat import snapshot_lines_to_spark

        log = TableLog(spark, table_dir)
        log.create(_one_file(spark.range(4).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v")), name="plain")
        with pytest.raises(ValueError, match="baseRowId"):
            snapshot_lines_to_spark(
                spark, self._lines(spark, table_dir, {"parquet"}),
                row_ids=True)

    def test_load_as_spark_row_ids_over_http(self, spark, table_dir,
                                             tmp_path):
        import json as _json

        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.client import load_as_spark
        from delta_sharing_spark.server import SharingServer

        log = _rt_table(spark, table_dir)
        log.optimize(target_file_rows=1_000_000_000)
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", table_dir)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        prof = str(tmp_path / "prof.json")
        with open(prof, "w") as f:
            _json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                        "bearerToken": "tok"}, f)
        try:
            got = load_as_spark(f"{prof}#s.d.t", spark=spark, row_ids=True)
            assert {r.k: (r._row_id, r._row_commit_version)
                    for r in got.collect()} \
                == self._expected(spark, table_dir)
        finally:
            srv.shutdown()

    def test_range_form_carries_row_tracking_fields(self, spark,
                                                    table_dir):
        """The version-range QueryTable (the streaming RPC) stamps
        baseRowId/defaultRowCommitVersion on its data-change adds, and
        the delta-format wrapper passes them through verbatim."""
        from delta_sharing_spark.deltaformat import actions_to_delta_format

        log = _rt_table(spark, table_dir)
        log.append(_one_file(
            spark.range(10, 13).selectExpr("id AS k",
                                           "CAST(id*2 AS STRING) AS v")))
        t = SharedTable(spark, table_dir)
        out = t.query_actions(starting_version=0)
        adds = [ln["add"] for ln in out["actions"] if "add" in ln]
        assert len(adds) == 2
        assert all(a["baseRowId"] is not None
                   and a["defaultRowCommitVersion"] == a["version"]
                   for a in adds)
        assert {a["baseRowId"] for a in adds} == {0, 10}
        delta = actions_to_delta_format(out["actions"])
        dadds = [ln["file"]["deltaSingleAction"]["add"]
                 for ln in delta if "file" in ln]
        assert all(a.get("baseRowId") is not None for a in dadds)


class TestRowIdsOverChangesAndRange:
    """Row ids over the range/changes RPC forms: add actions carry
    baseRowId/defaultRowCommitVersion and the client rebuild
    (changes_lines_to_spark(row_ids=True)) reconstructs stable ids for
    insert rows — with materialized-column overrides for DML-written
    post-images — and NULL ids on cdc/remove rows."""

    def _cdf_rt_table(self, spark, table_dir):
        log = TableLog(spark, table_dir)
        df = spark.range(10).selectExpr("id AS k",
                                        "CAST(id*2 AS STRING) AS v")
        log.create(_one_file(df), name="t",
                   configuration={**RT_CONF,
                                  "delta.enableChangeDataFeed": "true"})
        return log

    def test_changes_actions_carry_row_ids(self, spark, table_dir):
        from delta_sharing_spark.cdf import table_changes_actions

        log = self._cdf_rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 14).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        out = table_changes_actions(spark, table_dir, starting_version=0)
        adds = [ln["add"] for ln in out["actions"] if "add" in ln]
        assert {a["baseRowId"] for a in adds} == {0, 10}
        assert all(a["defaultRowCommitVersion"] == a["version"]
                   for a in adds)

    def test_changes_rebuild_insert_ids_exact(self, spark, table_dir):
        from delta_sharing_spark.cdf import table_changes_actions
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = self._cdf_rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 14).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        out = table_changes_actions(spark, table_dir, starting_version=0)
        df = changes_lines_to_spark(spark, out["actions"], row_ids=True)
        rows = {r.k: (r._row_id, r._row_commit_version)
                for r in df.filter("_change_type = 'insert'").collect()}
        assert rows == {k: (k, 0 if k < 10 else 1) for k in range(14)}

    def test_changes_cdc_rows_null_ids(self, spark, table_dir):
        from delta_sharing_spark.cdf import table_changes_actions
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = self._cdf_rt_table(spark, table_dir)
        log.delete("k >= 7")
        out = table_changes_actions(spark, table_dir, starting_version=1)
        df = changes_lines_to_spark(spark, out["actions"], row_ids=True)
        dels = df.filter("_change_type = 'delete'").collect()
        assert {r.k for r in dels} == {7, 8, 9}
        assert all(r._row_id is None and r._row_commit_version is None
                   for r in dels)

    def test_range_rebuild_materialized_override(self, spark, table_dir):
        """A rewrite-mode UPDATE's post-image file preserves row ids via
        the materialized columns; the range rebuild must honor them
        instead of recomputing base + index."""
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = _rt_table(spark, table_dir)
        log.update({"v": F.lit("upd")}, condition="k in (3, 7)")
        t = SharedTable(spark, table_dir)
        out = t.query_actions(starting_version=1)
        df = changes_lines_to_spark(spark, out["actions"], row_ids=True)
        upd = {r.k: (r._row_id, r._row_commit_version)
               for r in df.filter(
                   "_change_type = 'insert' and v = 'upd'").collect()}
        # ids preserved from creation (k == original _row_id), version
        # bumped to the update commit
        assert upd == {3: (3, 1), 7: (7, 1)}

    def test_historical_range_uses_end_of_range_metadata(
            self, spark, table_dir):
        """A schema change AFTER a historical range must not leak into
        (or fail) the range's rebuild: with includeHistoricalMetadata —
        which every engine client path requests — the head metaData is
        the range-START snapshot's (ref DeltaSharedTable.scala:735-739)
        and the rebuild's conversion target is the LAST metaData line's
        (end-of-range), so the row_ids=True leg type-matches the
        row_ids=False ``table_changes`` leg."""
        from delta_sharing_spark.cdf import (
            table_changes,
            table_changes_actions,
        )
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = TableLog(spark, table_dir)
        df = spark.range(10).selectExpr("id AS k", "CAST(id AS INT) AS v")
        log.create(_one_file(df), name="t",
                   configuration={**RT_CONF,
                                  "delta.enableChangeDataFeed": "true",
                                  "delta.enableTypeWidening": "true"})
        log.append(_one_file(spark.range(10, 14).selectExpr(
            "id AS k", "CAST(id AS INT) AS v")))
        # AFTER the queried range: widen v int->long, then rename it
        log.widen_column_type("v", "long")
        log.enable_column_mapping()
        log.rename_column("v", "w")
        # the in-process DataFrame leg: end-of-range schema (v, int)
        batch = table_changes(spark, table_dir,
                              starting_version=0, ending_version=1)
        assert [f.name for f in batch.schema.fields][:2] == ["k", "v"]
        assert dict((f.name, f.dataType.simpleString())
                    for f in batch.schema.fields)["v"] == "int"
        # the wire form + row_ids rebuild must match, not reflect the
        # later widen/rename (pre-fix: head metaData was the LATEST
        # snapshot's, so this leg returned column 'w' typed long);
        # include_historical_metadata mirrors load_table_changes_as_spark
        out = table_changes_actions(spark, table_dir,
                                    starting_version=0, ending_version=1,
                                    include_historical_metadata=True)
        rebuilt = changes_lines_to_spark(spark, out["actions"],
                                          row_ids=True)
        got = dict((f.name, f.dataType.simpleString())
                   for f in rebuilt.schema.fields)
        assert "w" not in got and got["v"] == "int"
        rows = {r.k: (r.v, r._row_id)
                for r in rebuilt.filter(
                    "_change_type = 'insert'").collect()}
        assert rows == {k: (k, k) for k in range(14)}
        # wire parity: Delta-Table-Version on changes = range START
        assert out["version"] == 0

    def test_changes_row_ids_untracked_raises(self, spark, table_dir):
        from delta_sharing_spark.cdf import table_changes_actions
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = TableLog(spark, table_dir)
        log.create(spark.range(5).selectExpr("id AS k"), name="t",
                   configuration={"delta.enableChangeDataFeed": "true"})
        log.append(spark.range(5, 8).selectExpr("id AS k"))
        out = table_changes_actions(spark, table_dir, starting_version=0)
        with pytest.raises(ValueError, match="lack baseRowId"):
            changes_lines_to_spark(spark, out["actions"], row_ids=True)

    def test_load_table_changes_row_ids_in_process(self, spark, table_dir,
                                                   tmp_path):
        """load_table_changes_as_spark(row_ids=True) through a
        config-path profile shares the wire rebuild in-process."""
        import json as _json

        from delta_sharing_spark.client import load_table_changes_as_spark

        self._cdf_rt_table(spark, table_dir)
        config = {"shares": [{"name": "s", "schemas": [{
            "name": "d", "tables": [{"name": "t", "location": table_dir,
                                     "cdfEnabled": True}]}]}]}
        cfg = tmp_path / "catalog.json"
        cfg.write_text(_json.dumps(config))
        prof = tmp_path / "prof.json"
        prof.write_text(_json.dumps({
            "shareCredentialsVersion": 1, "endpoint": str(cfg)}))
        df = load_table_changes_as_spark(
            f"{prof}#s.d.t", starting_version=0, spark=spark,
            row_ids=True)
        rows = {r.k: r._row_id
                for r in df.filter("_change_type = 'insert'").collect()}
        assert rows == {k: k for k in range(10)}

    def test_range_rebuild_applies_deletion_vectors(self, spark,
                                                    table_dir):
        """A DV-mode DELETE's add action carries its deletionVector over
        the range/changes wire; the client rebuild must serve the file's
        LOGICAL content (survivors only) — and keep survivor row ids
        stable through the pre-deletion row index."""
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = TableLog(spark, table_dir)
        df = spark.range(10).selectExpr("id AS k",
                                        "CAST(id*2 AS STRING) AS v")
        log.create(_one_file(df), name="t",
                   configuration={**RT_CONF,
                                  "enableDeletionVectors": "true"})
        log.delete("k >= 7")
        t = SharedTable(spark, table_dir)
        out = t.query_actions(starting_version=1)
        adds = [ln["add"] for ln in out["actions"] if "add" in ln]
        assert any(a.get("deletionVector") for a in adds)
        plain = changes_lines_to_spark(spark, out["actions"])
        assert sorted(r.k for r in
                      plain.filter("_change_type='insert'").collect()) \
            == list(range(7))
        with_ids = changes_lines_to_spark(spark, out["actions"],
                                           row_ids=True)
        got = sorted((r.k, r._row_id) for r in
                     with_ids.filter("_change_type='insert'").collect())
        assert got == [(k, k) for k in range(7)]

    def test_range_rebuild_inline_dv(self, spark, table_dir):
        """Inline ('i'-storage) deletion vectors decode client-side in
        the range rebuild too."""
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = TableLog(spark, table_dir)
        log.create(_one_file(spark.range(6).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v")), name="t",
            configuration={"enableDeletionVectors": "true",
                           "deletionVectorInlineThreshold": "1000000"})
        log.delete("k = 2")
        t = SharedTable(spark, table_dir)
        out = t.query_actions(starting_version=1)
        adds = [ln["add"] for ln in out["actions"] if "add" in ln]
        dv_types = {a["deletionVector"]["storageType"]
                    for a in adds if a.get("deletionVector")}
        df = changes_lines_to_spark(spark, out["actions"])
        got = sorted(r.k for r in
                     df.filter("_change_type='insert'").collect())
        assert got == [0, 1, 3, 4, 5], f"dv storage was {dv_types}"

    def test_delta_format_range_applies_dv(self, spark, table_dir):
        """Column-mapped (delta-format) range responses: the profile-shape
        conversion must carry the deletionVector through so DV-masked
        adds rebuild as survivors — not resurrect deleted rows."""
        from delta_sharing_spark.deltaformat import changes_lines_to_spark
        from delta_sharing_spark.deltaformat import actions_to_delta_format

        log = TableLog(spark, table_dir)
        log.create(_one_file(spark.range(8).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v")), name="t",
            configuration={"enableDeletionVectors": "true",
                           "delta.columnMapping.mode": "none"})
        log.delete("k >= 5")
        t = SharedTable(spark, table_dir)
        out = t.query_actions(starting_version=1)
        delta_lines = actions_to_delta_format(out["actions"])
        # sanity: the delta wrapper kept the DV descriptor
        dadds = [ln["file"]["deltaSingleAction"]["add"]
                 for ln in delta_lines
                 if "file" in ln
                 and "add" in ln["file"]["deltaSingleAction"]]
        assert any(a.get("deletionVector") for a in dadds)
        df = changes_lines_to_spark(spark, delta_lines)
        got = sorted(r.k for r in
                     df.filter("_change_type='insert'").collect())
        assert got == [0, 1, 2, 3, 4]

    def test_batch_cdf_datasource_row_ids(self, spark, table_dir):
        """rowIds=true on the batch readChangeFeed data source: insert
        rows reconstruct _row_id = baseRowId + row index (materialized
        overrides honored), cdc/remove change images carry NULL ids."""
        from delta_sharing_spark.sources.datasource import (
            SharedTableDataSource,
        )

        spark.dataSource.register(SharedTableDataSource)
        log = self._cdf_rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 14).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        log.delete("k >= 12")
        df = (spark.read.format("deltashare").option("path", table_dir)
              .option("readChangeFeed", "true")
              .option("rowIds", "true")
              .option("startingVersion", "0").load())
        assert df.columns[-2:] == ["_row_id", "_row_commit_version"]
        ins = {r.k: (r._row_id, r._row_commit_version)
               for r in df.filter("_change_type = 'insert'").collect()}
        assert ins == {k: (k, 0 if k < 10 else 1) for k in range(14)}
        dels = df.filter("_change_type = 'delete'").collect()
        assert {r.k for r in dels} == {12, 13}
        assert all(r._row_id is None and r._row_commit_version is None
                   for r in dels)

    def test_streaming_cdf_row_ids(self, spark, table_dir):
        """rowIds=true on the STREAMING CDF source — the streaming twin
        of load_table_changes_as_spark(row_ids=True)."""
        from delta_sharing_spark.sources.datasource import (
            SharedTableDataSource,
        )

        spark.dataSource.register(SharedTableDataSource)
        log = self._cdf_rt_table(spark, table_dir)
        log.append(_one_file(spark.range(10, 14).selectExpr(
            "id AS k", "CAST(id*2 AS STRING) AS v")))
        log.delete("k >= 12")
        q = (spark.readStream.format("deltashare")
             .option("path", table_dir)
             .option("readChangeFeed", "true")
             .option("rowIds", "true")
             .option("startingVersion", "0").load()
             .writeStream.format("memory").queryName("rt_cdf_stream")
             .trigger(processingTime="200 milliseconds").start())
        q.processAllAvailable()
        q.stop()
        out = spark.table("rt_cdf_stream")
        ins = {r.k: (r._row_id, r._row_commit_version)
               for r in out.filter("_change_type = 'insert'").collect()}
        assert ins == {k: (k, 0 if k < 10 else 1) for k in range(14)}
        dels = out.filter("_change_type = 'delete'").collect()
        assert {r.k for r in dels} == {12, 13}
        assert all(r._row_id is None for r in dels)

    def test_row_ids_option_requires_cdf(self, spark, table_dir):
        from delta_sharing_spark.sources.datasource import (
            SharedTableDataSource,
        )

        spark.dataSource.register(SharedTableDataSource)
        self._cdf_rt_table(spark, table_dir)
        import pyspark.errors

        with pytest.raises(pyspark.errors.PySparkException,
                           match="readChangeFeed companion"):
            (spark.read.format("deltashare").option("path", table_dir)
             .option("rowIds", "true").load())

    def test_streaming_row_ids_untracked_raises(self, spark, table_dir):
        from delta_sharing_spark.sources.datasource import (
            SharedTableDataSource,
        )

        spark.dataSource.register(SharedTableDataSource)
        log = TableLog(spark, table_dir)
        log.create(spark.range(5).selectExpr("id AS k"), name="t",
                   configuration={"delta.enableChangeDataFeed": "true"})
        log.append(spark.range(5, 8).selectExpr("id AS k"))
        import pyspark.errors

        with pytest.raises(pyspark.errors.PySparkException,
                           match="lacks baseRowId"):
            (spark.read.format("deltashare").option("path", table_dir)
             .option("readChangeFeed", "true")
             .option("rowIds", "true")
             .option("startingVersion", "0").load().collect())

    def test_changes_wire_form_applies_dv(self, spark, table_dir):
        """table_changes_actions (the /changes wire form) must stamp the
        DV descriptor on adds of DV commits with no cdc files, and the
        row_ids rebuild must serve survivors with stable ids."""
        from delta_sharing_spark.cdf import table_changes_actions
        from delta_sharing_spark.deltaformat import changes_lines_to_spark

        log = TableLog(spark, table_dir)
        log.create(_one_file(spark.range(9).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v")), name="t",
            configuration={**RT_CONF,
                           "enableDeletionVectors": "true",
                           "delta.enableChangeDataFeed": "true"})
        # CDF normally writes cdc files on delete; simulate the DV-add
        # shape the RANGE form always has by reading actions from a
        # non-cdc DV commit: use update in DV mode (cdc suppressed?) —
        # if this table's delete writes cdc, the add-with-DV never
        # reaches the changes form and the assertion below degrades to
        # checking the cdc path still works
        log.delete("k >= 6")
        out = table_changes_actions(spark, table_dir, starting_version=1)
        adds = [ln["add"] for ln in out["actions"] if "add" in ln]
        if any(a.get("deletionVector") for a in adds):
            df = changes_lines_to_spark(spark, out["actions"],
                                         row_ids=True)
            ins = {r.k: r._row_id for r in
                   df.filter("_change_type='insert'").collect()}
            assert ins == {k: k for k in range(6)}
        else:
            # delete produced cdc files: deleted rows come back as
            # 'delete' changes, never as inserts
            df = changes_lines_to_spark(spark, out["actions"])
            assert sorted(r.k for r in
                          df.filter("_change_type='delete'")
                          .collect()) == [6, 7, 8]
            assert df.filter("_change_type='insert'").count() == 0
