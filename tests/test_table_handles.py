"""Long-lived table handles: the catalog's handle LRU, the per-version
cache checks against the files on disk (expired history, a table recreated
at the same location), concurrent requests on one handle, the server's
logging of 500s and the Spark-job budget of served requests."""

from __future__ import annotations

import json
import logging
import os
import random
import shutil
import threading
import urllib.error
import urllib.request

import pytest

from delta_sharing_spark.catalog import TABLE_CACHE_SIZE, ShareCatalog
from delta_sharing_spark.plans.log import TableLog, VersionNotFoundError
from delta_sharing_spark.server import SharingServer
from tests.conftest import ManifestStorage, manifest_storage_set

Q = "/shares/s/schemas/d/tables/t"


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi).selectExpr(
        "id", "cast(id % 4 as string) as cat")


def _build(spark, path: str, commits: int, base: int = 0,
           configuration: dict | None = None) -> TableLog:
    """A table with ``commits`` versions of 50 rows each, ids from
    ``base``."""
    log = TableLog(spark, path)
    log.create(_rows(spark, base, base + 50).repartition(2),
               partition_by=["cat"], configuration=configuration)
    for i in range(1, commits):
        log.append(_rows(spark, base + 50 * i, base + 50 * (i + 1)))
    return log


def _hint(op: str, col: str, vtype: str, value) -> str:
    return json.dumps({"op": op, "children": [
        {"op": "column", "name": col, "valueType": vtype},
        {"op": "literal", "value": str(value), "valueType": vtype}]})


class _Client:
    def __init__(self, url: str):
        self.url = url

    def send(self, path: str, body: dict | None = None) -> tuple[int, bytes]:
        req = urllib.request.Request(
            self.url + path,
            data=None if body is None else json.dumps(body).encode(),
            headers={"Authorization": "Bearer tok",
                     "Content-Type": "application/json"},
            method="GET" if body is None else "POST")
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as exc:
            return exc.code, exc.read()

    def lines(self, path: str, body: dict | None = None) -> list[dict]:
        status, raw = self.send(path, body)
        assert status == 200, raw
        return [json.loads(ln) for ln in raw.decode().splitlines() if ln]


@pytest.fixture()
def served(spark, tmp_path):
    """(server, client, table path) for a server over one table ``t``,
    whose directory the test fills."""
    path = str(tmp_path / "t")
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "t", path, cdf_enabled=True)
    srv = SharingServer(cat, bearer_token="tok")
    url = srv.serve_background()
    try:
        yield srv, _Client(url), path
    finally:
        srv.shutdown()


class TestCatalogHandles:
    def test_one_handle_per_location_lru_bounded(self, spark, tmp_path):
        cat = ShareCatalog(spark)
        names = [f"t{i}" for i in range(TABLE_CACHE_SIZE + 1)]
        for n in names:
            cat.add_table("s", "d", n, str(tmp_path / n))
        first = cat.load_table("s.d.t0")
        assert cat.load_table("S.D.T0") is first
        for n in names[1:]:
            cat.load_table(f"s.d.{n}")
        # t0 was the least recently used when the eleventh table loaded
        assert cat.load_table("s.d.t0") is not first
        # ... and t10, loaded last before that, is still held
        t10 = cat.load_table("s.d.t10")
        assert cat.load_table("s.d.t10") is t10


class TestCachedSnapshotChecks:
    def test_expired_version_raises_on_a_warm_log(self, spark, tmp_path):
        path = str(tmp_path / "t")
        writer = _build(spark, path, commits=4)   # v0..v3
        writer.write_checkpoint()                 # checkpoint at v3
        writer.append(_rows(spark, 1000, 1050))   # v4
        warm = TableLog(spark, path)
        assert warm.snapshot(version=2).version == 2
        expired = TableLog(spark, path).expire_log(keep_last=1, retention=0)
        assert 2 in expired
        with pytest.raises(VersionNotFoundError):
            TableLog(spark, path).snapshot(version=2)
        # the warm log refuses it too, instead of serving its cached copy
        with pytest.raises(VersionNotFoundError):
            warm.snapshot(version=2)
        assert warm.snapshot(version=4).version == 4
        assert len(warm.snapshot().files) == \
            len(TableLog(spark, path).snapshot().files)

    def test_expired_seed_checkpoint_on_a_warm_log(self, spark, tmp_path):
        path = str(tmp_path / "t")
        writer = _build(spark, path, commits=3)   # v0..v2
        writer.write_checkpoint()                 # checkpoint at v2
        writer.append(_rows(spark, 1000, 1050))   # v3
        warm = TableLog(spark, path)
        lazy = warm.snapshot()
        assert lazy.cp_version == 2 and not lazy.files_materialized
        # a newer checkpoint makes the one the warm snapshot seeds from
        # expendable; v3's commit itself is retained
        other = TableLog(spark, path)
        other.write_checkpoint()                  # checkpoint at v3
        other.expire_log(keep_last=1, retention=0)
        assert 3 in other._list_versions() and other._list_checkpoints() == [3]
        assert sorted(a.path for a in warm.snapshot().files) == \
            sorted(a.path for a in TableLog(spark, path).snapshot().files)

    def test_recreated_table_resolves_fresh(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _build(spark, path, commits=2)
        warm = TableLog(spark, path)
        old = warm.snapshot()
        assert warm.snapshot(version=0).version == 0
        shutil.rmtree(path)
        # one version more than before: the new latest is resolved from
        # the cached (stale) version 1 unless that entry is re-checked
        new_log = _build(spark, path, commits=3, base=10_000)
        new = new_log.snapshot()
        got = warm.snapshot()
        assert got.metadata.id == new.metadata.id != old.metadata.id
        assert sorted(a.path for a in got.files) == \
            sorted(a.path for a in new.files)
        assert warm.read_commit(1).adds[0].path in \
            {a.path for a in new_log.read_commit(1).adds}

    def test_recreated_table_served_fresh(self, spark, served):
        srv, client, path = served
        cat = srv.catalog
        _build(spark, path, commits=2)
        handle = cat.load_table("s.d.t")
        before = client.lines(Q + "/query", {})
        shutil.rmtree(path)
        _build(spark, path, commits=2, base=10_000)
        after = client.lines(Q + "/query", {})
        # the server kept its handle across the recreate ...
        assert cat.load_table("s.d.t") is handle
        # ... and serves the new table through it
        fresh = TableLog(spark, path).snapshot()
        meta = next(ln["metaData"] for ln in after if "metaData" in ln)
        old_meta = next(ln["metaData"] for ln in before if "metaData" in ln)
        assert meta["id"] == fresh.metadata.id != old_meta["id"]
        assert sorted(ln["file"]["id"] for ln in after if "file" in ln) == \
            sorted(a.path for a in fresh.files)


class TestConcurrentHandle:
    def test_mixed_requests_from_eight_threads(self, spark, served):
        _, client, path = served
        log = _build(spark, path, commits=3,
                     configuration={"delta.enableChangeDataFeed": "true"})
        log.write_checkpoint()
        log.append(_rows(spark, 500, 560))
        requests = [
            ("query", Q + "/query",
             {"jsonPredicateHints": _hint("lessThan", "id", "long", 120)}),
            ("query_cat", Q + "/query",
             {"jsonPredicateHints": _hint("equal", "cat", "string", "2")}),
            ("query_limit", Q + "/query", {"limitHint": 60}),
            ("query_v1", Q + "/query", {"version": 1}),
            ("metadata", Q + "/metadata", None),
            ("changes", Q + "/changes?startingVersion=0", None),
            ("changes_v2", Q + "/changes?startingVersion=2&endingVersion=3",
             None),
        ]
        results: dict[str, list[tuple[int, bytes]]] = {
            k: [] for k, _, _ in requests}
        lock = threading.Lock()
        start = threading.Barrier(8)

        def worker(seed: int) -> None:
            order = requests * 3
            random.Random(seed).shuffle(order)
            start.wait()
            for key, p, body in order:
                out = client.send(p, body)
                with lock:
                    results[key].append(out)

        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        for key, outs in results.items():
            assert len(outs) == 24
            assert {status for status, _ in outs} == {200}, key
            assert len({body for _, body in outs}) == 1, key


    def test_resident_manifests_from_eight_threads(self, spark, tmp_path,
                                                   monkeypatch):
        # hinted prunes of two versions interleaved on one handle: only
        # the newer version's manifest stays driver-resident (one per
        # log), and every answer must still be its own version's
        import sys

        import delta_sharing_spark.table as table_mod
        from delta_sharing_spark.table import SharedTable

        path = str(tmp_path / "t")
        log = _build(spark, path, commits=3)
        log.write_checkpoint()
        log.append(_rows(spark, 500, 560))
        monkeypatch.setattr(table_mod, "PRUNE_DRIVER_MAX_FILES", -1)
        hint = _hint("greaterThanOrEqual", "id", "long", 100)
        handle = SharedTable(spark, path)
        want = {v: sorted(_kept(TableLog(spark, path).snapshot(version=v),
                                hint))
                for v in (2, 3)}
        errors: list = []
        start = threading.Barrier(8)

        def worker(i: int) -> None:
            start.wait()
            try:
                for k in range(6):
                    v = 2 + (i + k) % 2
                    snap = handle.log.snapshot(version=v)
                    got = [a.path for a in handle.kept_adds(snap, hint)]
                    assert got == want[v], (v, got)
            except Exception as exc:  # surfaced below
                errors.append(exc)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            threads = [threading.Thread(target=worker, args=(i,))
                       for i in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=300)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert not errors, errors
        assert {v for v, e in handle.log._files_df_cache.items()
                if e[3]} == {3}


def _kept(snap, hint: str) -> list[str]:
    """Paths the sessionless driver loop keeps for ``hint``."""
    from delta_sharing_spark.plans.predicates import keep_file

    return [a.path for a in snap.files
            if keep_file(json.loads(hint), a.partitionValues,
                         a.stats_dict(), snap.partition_columns)]


class TestServerErrorLogging:
    def test_500_logs_traceback(self, spark, served, caplog):
        srv, client, path = served
        _build(spark, path, commits=1)

        def boom(*args, **kwargs):
            raise RuntimeError("secret detail")

        # routes resolve on the server instance at dispatch time
        srv.table_version = boom
        caplog.set_level(logging.ERROR, logger="dss.server")
        status, body = client.send(Q + "/version")
        assert status == 500
        message = json.loads(body)["message"]
        assert "RuntimeError" in message and "secret" not in message
        recs = [r for r in caplog.records if r.name == "dss.server"]
        assert len(recs) == 1 and recs[0].levelno == logging.ERROR
        assert recs[0].exc_info is not None
        assert "Traceback" in caplog.text and "secret detail" in caplog.text


def _job_ids(spark) -> set[int]:
    """Every job the driver's status store knows, after the listener bus
    has delivered the events of the jobs that already ran."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


class TestJobBudget:
    """Served requests on a checkpointed table with a tail, pruned on the
    manifest plane (``PRUNE_DRIVER_MAX_FILES`` patched to -1): the
    manifest fits Spark's local-relation bound, so it is driver-resident
    and a warm hinted query runs no Spark job."""

    @staticmethod
    def _table(spark, path, monkeypatch) -> TableLog:
        import delta_sharing_spark.table as table_mod

        log = _build(spark, path, commits=3)
        log.write_checkpoint()
        log.append(_rows(spark, 500, 560))     # a tail after the checkpoint
        monkeypatch.setattr(table_mod, "PRUNE_DRIVER_MAX_FILES", -1)
        return log

    @staticmethod
    def _jobs(spark, client, p, body=None):
        before = _job_ids(spark)
        out = client.lines(p, body)
        return out, len(_job_ids(spark) - before)

    def test_large_manifest_query_and_metadata_run_no_job(
            self, spark, served, monkeypatch):
        srv, client, path = served
        self._table(spark, path, monkeypatch)
        hint = {"jsonPredicateHints": _hint("lessThan", "id", "long", 120)}
        warm = client.lines(Q + "/query", hint)
        query, n_query = self._jobs(spark, client, Q + "/query", {
            "jsonPredicateHints": _hint("greaterThanOrEqual", "id", "long",
                                        100)})
        assert n_query == 0
        assert any("file" in ln for ln in query)
        again, n_again = self._jobs(spark, client, Q + "/query", hint)
        assert n_again == 0 and again == warm
        meta, n_meta = self._jobs(spark, client, Q + "/metadata")
        assert n_meta == 0
        assert [next(iter(ln)) for ln in meta] == ["protocol", "metaData"]
        assert meta[1] == warm[1]

    def test_query_after_append_runs_no_job(self, spark, served,
                                            monkeypatch):
        srv, client, path = served
        log = self._table(spark, path, monkeypatch)
        hint = {"jsonPredicateHints": _hint("greaterThanOrEqual", "id",
                                            "long", 500)}
        before = client.lines(Q + "/query", hint)
        log.append(_rows(spark, 900, 950))
        after, n_after = self._jobs(spark, client, Q + "/query", hint)
        assert n_after == 0
        files = {ln["file"]["id"] for ln in after if "file" in ln}
        new = {a.path for a in log.read_commit(log.latest_version()).adds}
        assert new <= files
        assert files - new == {ln["file"]["id"] for ln in before
                               if "file" in ln}

    def test_file_counts_on_resident_manifest_run_no_job(self, spark,
                                                         tmp_path):
        # a version without a .crc counts over the manifest plane: a
        # driver-resident manifest answers with no Spark job, and both
        # storages count the same
        path = str(tmp_path / "t")
        log = _build(spark, path, commits=3)
        log.write_checkpoint()
        log.append(_rows(spark, 500, 560))
        os.remove(log._crc_path(log.latest_version()))
        counts = {}
        for name in ManifestStorage.NAMES:
            with manifest_storage_set(spark, name) as storage:
                fresh = TableLog(spark, path)
                snap = fresh.snapshot()
                storage.check(fresh.files_df(snap))
                assert not snap.files_materialized
                before = _job_ids(spark)
                counts[name] = fresh.file_counts(snap)
                jobs = len(_job_ids(spark) - before)
            if name == "resident":
                assert jobs == 0
        files = TableLog(spark, path).snapshot().files
        assert counts["resident"] == counts["scan"] == (
            len(files), sum(f.size for f in files))

    def test_alternating_versions_keep_one_resident_manifest(
            self, spark, served, monkeypatch):
        # the newest version's manifest stays resident (no job); an older
        # version takes its cached scan plan (one job) instead of
        # rebuilding a resident manifest on every alternation
        srv, client, path = served
        log = self._table(spark, path, monkeypatch)
        new = log.latest_version()
        hint = _hint("greaterThanOrEqual", "id", "long", 100)
        first = {v: client.lines(Q + "/query", {
            "jsonPredicateHints": hint, "version": v})
            for v in (new, new - 1)}
        for _ in range(2):
            for v, jobs in ((new, 0), (new - 1, 1)):
                out, n = self._jobs(spark, client, Q + "/query", {
                    "jsonPredicateHints": hint, "version": v})
                assert (n, out) == (jobs, first[v]), v
        cache = srv.catalog.load_table("s.d.t").log._files_df_cache
        assert {v for v, e in cache.items() if e[3]} == {new}
        assert cache[new - 1][1] is not None   # the scan plan's checkpoint

    def test_above_local_relation_bound_keeps_scan_plan(
            self, spark, served, monkeypatch):
        from delta_sharing_spark.plans.log import manifest_session

        srv, client, path = served
        self._table(spark, path, monkeypatch)
        hint = {"jsonPredicateHints": _hint("lessThan", "id", "long", 120)}
        resident = client.lines(Q + "/query", hint)
        handle = srv.catalog.load_table("s.d.t")
        meta = manifest_session(spark)
        key = "spark.sql.execution.arrow.localRelationThreshold"
        meta.conf.set(key, "0")
        try:
            handle.log._files_df_cache.clear()
            client.lines(Q + "/query", hint)
            scan, n_scan = self._jobs(spark, client, Q + "/query", hint)
            plan = handle.log.files_df(handle.log.snapshot())
            # the checkpoint is scanned, the tail rides as a union
            assert "parquet" in \
                plan._jdf.queryExecution().logical().toString()
        finally:
            meta.conf.unset(key)
        assert n_scan == 1
        assert scan == resident
