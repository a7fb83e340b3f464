"""Streaming backpressure at depth: a 1000-commit backlog over the
remote profile must plan in O(backlog / maxVersionsPerRpc) range RPCs,
never re-fetch a window, cost O(new) per poll afterwards, and hold
bounded driver memory (the planner's commit cache prunes below the
committed offset)."""

from __future__ import annotations

import json
import time

import pytest

from delta_sharing_spark.catalog import ShareCatalog
from delta_sharing_spark.plans.log import TableLog
from delta_sharing_spark.server import SharingServer
from delta_sharing_spark.workloads.streaming import forge_append_commits

N = 1000
WINDOW = 100


@pytest.fixture(scope="module")
def deep(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("deep")
    d = str(base / "t")
    log = TableLog(spark, d)
    log.create(spark.range(1).selectExpr("CAST(0 AS LONG) AS v")
               .coalesce(1), name="t",
               configuration={"checkpointInterval": "0"})
    forge_append_commits(d, N, k0=1)
    cat = ShareCatalog(spark)
    cat.add_table("s", "d", "t", d)
    srv = SharingServer(cat, bearer_token="tok")
    url = srv.serve_background()
    prof = base / "prof.json"
    prof.write_text(json.dumps({
        "shareCredentialsVersion": 1, "endpoint": url,
        "bearerToken": "tok"}))
    yield srv, str(prof), d
    srv.shutdown()


def _remote_log(prof):
    from delta_sharing_spark.sources.remote import RemoteTableLog

    return RemoteTableLog(prof, "s", "d", "t",
                          max_versions_per_rpc=WINDOW)


def _ranges(srv):
    return [r for r in srv.request_log if "startingVersion=" in r]


class TestRemoteDepth:
    def test_full_backlog_plans_in_window_count_rpcs(self, deep):
        srv, prof, _d = deep
        log = _remote_log(prof)
        srv.request_log.clear()
        t0 = time.perf_counter()
        commits = log.commits(0)
        wall = time.perf_counter() - t0
        assert len(commits) == N + 1
        n_ranges = len(_ranges(srv))
        assert n_ranges == (N + 1 + WINDOW - 1) // WINDOW, \
            f"{n_ranges} range RPCs for {N + 1} commits at window {WINDOW}"
        # generous wall bound: ~11 loopback RPCs + JSON parse of 1001
        # tiny commits must be seconds, not minutes
        assert wall < 60, f"deep planning took {wall:.1f}s"

    def test_repoll_costs_zero_range_rpcs(self, deep):
        srv, prof, _d = deep
        log = _remote_log(prof)
        log.commits(0)
        srv.request_log.clear()
        log.commits(0)  # same span: fully cached
        assert _ranges(srv) == []

    def test_new_commits_cost_one_window(self, deep):
        srv, prof, d = deep
        log = _remote_log(prof)
        log.commits(0)
        latest = forge_append_commits(d, 5, k0=5000)
        srv.request_log.clear()
        commits = log.commits(0)
        assert commits[-1].version == latest
        assert len(_ranges(srv)) == 1  # O(new), not O(history)

    def test_cache_prunes_below_offset(self, deep):
        _srv, prof, _d = deep
        log = _remote_log(prof)
        log.commits(0)
        assert len(log._commits) >= N
        # the stream's offset advanced: dead history is dropped
        log.commits(N - 10)
        assert len(log._commits) <= 20, \
            f"commit cache held {len(log._commits)} entries after the " \
            "offset advanced — unbounded driver memory on long drains"

    def test_prune_then_lower_start_refetches_correctly(self, deep):
        srv, prof, _d = deep
        log = _remote_log(prof)
        log.commits(0)
        log.commits(N - 10)  # prunes below N-10
        srv.request_log.clear()
        commits = log.commits(N - 300, N - 200)
        assert [c.version for c in commits] == list(range(N - 300,
                                                          N - 199))
        assert len(_ranges(srv)) >= 1  # re-fetched, not served stale

    def test_non_contiguous_access_leaves_no_hole(self, deep):
        """commits(100,150) then commits(0,50) must not mark [51,99] as
        fetched: a later read inside the hole has to fetch, never be
        served silently empty from span bookkeeping."""
        srv, prof, _d = deep
        log = _remote_log(prof)
        log.commits(100, 150)
        log.commits(0, 50)
        srv.request_log.clear()
        commits = log.commits(60, 120)
        assert [c.version for c in commits] == list(range(60, 121))
        # [60,99] was never fetched — at least one real RPC must happen
        assert len(_ranges(srv)) >= 1
        # and every returned commit is a real parsed commit (one add
        # each), not an empty placeholder
        assert all(c.adds for c in commits), \
            "hole in the commit cache served empty commits"

    def test_streaming_drain_end_to_end_rpc_budget(self, deep, spark):
        from pyspark.sql import functions as F

        from delta_sharing_spark.sources.datasource import (
            SharedTableDataSource,
        )

        srv, prof, _d = deep
        spark.dataSource.register(SharedTableDataSource)
        srv.request_log.clear()
        name = "deep_drain_sink"
        q = (spark.readStream.format("deltashare")
             .option("path", f"{prof}#s.d.t")
             .option("startingVersion", "0")
             .option("maxFilesPerTrigger", "256")
             .option("maxVersionsPerRpc", str(WINDOW))
             .load()
             .writeStream.format("memory").queryName(name)
             .trigger(processingTime="200 milliseconds").start())
        q.processAllAvailable()
        q.stop()
        got = spark.table(name).agg(
            F.count("*").alias("n"), F.sum("v").alias("s")).first()
        total = N + 5 + 1  # fixture + test_new_commits forgeries + v0
        # rows: exact drain of every commit present at drain time (the
        # module fixture is shared, so tolerate the 5 extra forged rows
        # whether or not that test ran first)
        assert got.n in (N + 1, total)
        n_ranges = len(_ranges(srv))
        budget = (N + 5) // WINDOW + 6
        assert n_ranges <= budget, \
            f"drain cost {n_ranges} range RPCs (budget {budget})"


class _StubRangeClient:
    """In-memory stand-in for the REST client: a table whose every version
    holds one add, served by version-range QueryTable. Records each
    requested [startingVersion, endingVersion] window."""

    def __init__(self, latest: int):
        self.latest = latest
        self.windows: list[tuple[int, int]] = []

    def query_table_version(self, share, schema, table,
                            starting_timestamp=None):
        return self.latest

    def list_files_in_table(self, share, schema, table, starting_version,
                            ending_version, **_kw):
        self.windows.append((starting_version, ending_version))
        schema_string = json.dumps({"type": "struct", "fields": [
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {}}]})
        lines = [{"protocol": {"minReaderVersion": 1}},
                 {"metaData": {"schemaString": schema_string,
                               "partitionColumns": [], "configuration": {},
                               "version": starting_version}}]
        lines += [{"add": {"url": f"/t/part-{v}.parquet",
                           "id": f"part-{v}.parquet", "partitionValues": {},
                           "size": 1, "version": v,
                           "timestamp": 1000 + v}}
                  for v in range(starting_version, ending_version + 1)]
        return {}, lines


def test_refetched_window_replaces_cached_commits(tmp_path):
    """A window re-requested because a later version in it is uncached
    replaces the versions already cached instead of appending onto them
    (appending re-delivered those versions' rows to a stream)."""
    from delta_sharing_spark.sources.remote import RemoteTableLog

    prof = tmp_path / "prof.json"
    prof.write_text(json.dumps({
        "shareCredentialsVersion": 1, "endpoint": "http://127.0.0.1:9",
        "bearerToken": "tok"}))
    log = RemoteTableLog(str(prof), "s", "d", "t")
    stub = log._client = _StubRangeClient(latest=2)
    assert [len(c.adds) for c in log.commits(0)] == [1, 1, 1]
    stub.latest = 4
    commits = log.commits(1)
    assert [c.version for c in commits] == [1, 2, 3, 4]
    assert [len(c.adds) for c in commits] == [1, 1, 1, 1]
    assert stub.windows == [(0, 2), (1, 4)]
