"""Retry/backoff on REST routes: flaky-server recovery, retry exhaustion,
non-retryable statuses, expired-token error text (ref RetryUtils.scala:30-104,
rest_client.py:97-120), plus a full catalog+query round trip over HTTP."""

from __future__ import annotations

import contextlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from delta_sharing_spark.rest import (
    DataSharingRestClient,
    HttpStatusError,
    RetryConfig,
    run_with_backoff,
    should_retry,
)


class _NoSleep(RetryConfig):
    def sleeper(self, ms: int) -> None:
        pass


def _flaky_server(statuses: list[int], body: bytes = b'{"items": []}'):
    """HTTP server answering each request with the next scripted status;
    after the script runs out, always 200."""
    seen: list[int] = []

    class Handler(BaseHTTPRequestHandler):
        def _reply(self):
            idx = len(seen)
            seen.append(idx)
            status = statuses[idx] if idx < len(statuses) else 200
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            if status == 200:
                self.wfile.write(body)

        def do_GET(self):  # noqa: N802
            self._reply()

        def do_POST(self):  # noqa: N802
            self._reply()

        def log_message(self, *a):  # quiet
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, f"http://127.0.0.1:{httpd.server_address[1]}", seen


class TestRetry:
    def test_should_retry_statuses(self):
        assert should_retry(HttpStatusError("x", 429))
        assert should_retry(HttpStatusError("x", 500))
        assert should_retry(HttpStatusError("x", 503))
        assert not should_retry(HttpStatusError("x", 404))
        assert not should_retry(HttpStatusError("x", 401))
        assert not should_retry(ValueError("x"))

    def test_backoff_doubles_sleep(self):
        sleeps: list[int] = []

        class Cfg(RetryConfig):
            def sleeper(self, ms):
                sleeps.append(ms)

        calls = [0]

        def failing():
            calls[0] += 1
            raise HttpStatusError("boom", 503)

        with pytest.raises(HttpStatusError):
            run_with_backoff(failing, Cfg(num_retries=3))
        assert calls[0] == 4  # initial + 3 retries
        assert sleeps == [100, 200, 400]

    def test_flaky_429_503_then_200_succeeds(self):
        httpd, url, seen = _flaky_server([429, 503])
        try:
            client = DataSharingRestClient(url, retry_config=_NoSleep())
            assert client.list_shares() == []
            assert len(seen) == 3  # two failures + the success
        finally:
            httpd.shutdown()

    def test_exhausted_retries_surfaces_status(self):
        httpd, url, _seen = _flaky_server([503, 503, 503, 503, 503])
        try:
            client = DataSharingRestClient(
                url, retry_config=_NoSleep(num_retries=2))
            with pytest.raises(HttpStatusError) as e:
                client.list_shares()
            assert e.value.status_code == 503
        finally:
            httpd.shutdown()

    def test_404_not_retried(self):
        httpd, url, seen = _flaky_server([404])
        try:
            client = DataSharingRestClient(url, retry_config=_NoSleep())
            with pytest.raises(HttpStatusError) as e:
                client.list_shares()
            assert e.value.status_code == 404
            assert len(seen) == 1  # no retry on 404
        finally:
            httpd.shutdown()

    def test_expired_token_error_text(self):
        """401 with an expired profile surfaces the expiry, matching
        rest_client.py:108-114."""
        from delta_sharing_spark.client import DeltaSharingProfile

        httpd, url, _seen = _flaky_server([401])
        try:
            profile = DeltaSharingProfile.from_json({
                "shareCredentialsVersion": 1, "endpoint": url,
                "bearerToken": "t",
                "expirationTime": "2020-01-01T00:00:00Z"})
            client = DataSharingRestClient(url, retry_config=_NoSleep(),
                                           profile=profile)
            with pytest.raises(HttpStatusError, match="expired at "
                               "2020-01-01T00:00:00Z"):
                client.list_shares()
        finally:
            httpd.shutdown()


class TestRestRoundTrip:
    @pytest.fixture(scope="class")
    def shared_url(self, spark, events, tmp_path_factory):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.server import SharingServer

        d = str(tmp_path_factory.mktemp("rest") / "events")
        log = TableLog(spark, d)
        log.create(events, partition_by=["event_type"], name="events",
                   configuration={"enableChangeDataFeed": "true"})
        log.delete("event_id < 3")
        cat = ShareCatalog(spark)
        cat.add_table("s1", "d1", "events", d, cdf_enabled=True)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        yield url
        srv.shutdown()

    @pytest.fixture()
    def client(self, shared_url):
        from delta_sharing_spark.auth import BearerTokenAuthProvider

        return DataSharingRestClient(
            shared_url, auth_provider=BearerTokenAuthProvider("tok"),
            retry_config=_NoSleep())

    def test_catalog_listings(self, client):
        assert [s["name"] for s in client.list_shares()] == ["s1"]
        assert [s["name"] for s in client.list_schemas("s1")] == ["d1"]
        assert [t["name"] for t in client.list_tables("s1", "d1")] \
            == ["events"]
        assert len(client.list_all_tables("s1")) == 1

    def test_version_and_metadata(self, client):
        assert client.query_table_version("s1", "d1", "events") == 1
        lines = client.query_table_metadata("s1", "d1", "events")
        assert "protocol" in lines[0] and "metaData" in lines[1]

    def test_query_files(self, client, events):
        _h, lines = client.list_files_in_table(
            "s1", "d1", "events",
            predicate_hints=["event_type = 'click'"])
        files = [line["file"] for line in lines if "file" in line]
        assert files
        assert all(f["partitionValues"]["event_type"] == "click"
                   for f in files)

    def test_changes(self, client):
        lines = client.list_table_changes("s1", "d1", "events",
                                          starting_version=1)
        kinds = {next(iter(line)) for line in lines}
        assert "cdf" in kinds

    def test_async_query_polls_to_same_result(self, client):
        """Client-side async read (getNDJsonWithAsync,
        DeltaSharingClient.scala:1086-1137): asyncquery=true + generated
        idempotencyKey, pending queryStatus lines polled until the
        sync-shaped response streams — identical lines to the sync call."""
        _h, sync_lines = client.list_files_in_table("s1", "d1", "events")
        _h2, async_lines = client.list_files_in_table(
            "s1", "d1", "events", async_query=True)
        def key(lines):
            return sorted(json.dumps(x, sort_keys=True) for x in lines)
        assert key(async_lines) == key(sync_lines)
        assert any("file" in x for x in async_lines)

    def test_async_query_failure_surfaces(self, client):
        with pytest.raises(RuntimeError, match="async query failed"):
            client.list_files_in_table("s1", "d1", "events",
                                       async_query=True, version=99)


class TestHttpProfile:
    """load_as_* over an http(s) profile endpoint — the reference client's
    network flow (delta_sharing.py -> rest_client) against our server."""

    @pytest.fixture(scope="class")
    def http_env(self, spark, events, tmp_path_factory):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.server import SharingServer

        base = tmp_path_factory.mktemp("httpprof")
        d = str(base / "events")
        log = TableLog(spark, d)
        log.create(events, partition_by=["event_type"], name="events",
                   configuration={"enableChangeDataFeed": "true"})
        log.delete("event_id < 5")
        cm = str(base / "events_cm")
        log2 = TableLog(spark, cm)
        log2.create(events.select("event_id", "value"), name="events_cm",
                    configuration={"enableChangeDataFeed": "true"})
        log2.enable_column_mapping()
        log2.rename_column("value", "score")
        # tables served only inside _serving(), so the listing test keeps
        # seeing exactly events and events_cm
        extra = {"events_dec": str(base / "events_dec")}
        TableLog(spark, extra["events_dec"]).create(
            events.filter("event_id < 40").selectExpr(
                "event_id",
                "CAST(CASE WHEN event_id % 2 = 0 "
                "THEN '12345678901234567.89' ELSE '-0.01' END "
                "AS DECIMAL(20,2)) AS amount"),
            partition_by=["amount"], name="events_dec",
            configuration={"enableChangeDataFeed": "true"})
        src = TableLog(spark, str(base / "src"))
        src.create(events.filter("event_id < 100"), name="src",
                   configuration={"enableDeletionVectors": "true"})
        src.delete("event_id < 25")
        extra["clone"] = src.clone_to(str(base / "clone")).path
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "events", d, cdf_enabled=True)
        cat.add_table("s", "d", "events_cm", cm, cdf_enabled=True)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        profile = str(base / "profile.json")
        with open(profile, "w") as f:
            json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                       "bearerToken": "tok"}, f)
        yield srv, profile, extra
        srv.shutdown()

    @pytest.fixture(scope="class")
    def http_url(self, http_env):
        return http_env[1]

    @contextlib.contextmanager
    def _serving(self, spark, http_env, name):
        """Serve one of the fixture's extra tables as ``s.d.<name>`` for
        the duration of the block; yields its profile URL."""
        from delta_sharing_spark.catalog import ShareCatalog

        srv, profile, extra = http_env
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", name, extra[name], cdf_enabled=True)
        listed, srv.catalog = srv.catalog, cat
        try:
            yield f"{profile}#s.d.{name}"
        finally:
            srv.catalog = listed

    def test_load_as_spark_http(self, spark, events, http_url):
        from delta_sharing_spark.client import load_as_spark

        df = load_as_spark(f"{http_url}#s.d.events", spark=spark)
        want = events.count() - events.filter("event_id < 5").count()
        assert df.count() == want
        assert "event_type" in df.columns  # partition column restored
        # time travel through the wire
        v0 = load_as_spark(f"{http_url}#s.d.events", version=0, spark=spark)
        assert v0.count() == events.count()

    def test_load_as_spark_http_column_mapped(self, spark, events, http_url):
        """CM table: server forces delta format; client reconstructs
        logical names transparently."""
        from delta_sharing_spark.client import load_as_spark

        df = load_as_spark(f"{http_url}#s.d.events_cm", spark=spark)
        assert df.columns == ["event_id", "score"]
        assert df.count() == events.count()

    def test_load_as_spark_http_async_conf(self, spark, events, http_url):
        """spark.delta.sharing.network.useAsyncQuery routes the load
        through the async submit/poll flow (reference ConfUtils.scala:42)
        — same rows as the sync path."""
        from delta_sharing_spark.client import load_as_spark

        spark.conf.set("spark.delta.sharing.network.useAsyncQuery", "true")
        spark.conf.set(
            "spark.delta.sharing.network.asyncQueryRetryInterval", "50")
        try:
            df = load_as_spark(f"{http_url}#s.d.events", spark=spark)
            want = events.count() - events.filter("event_id < 5").count()
            assert df.count() == want
        finally:
            spark.conf.unset("spark.delta.sharing.network.useAsyncQuery")
            spark.conf.unset(
                "spark.delta.sharing.network.asyncQueryRetryInterval")

    def test_load_with_end_stream_action_conf(self, spark, events,
                                               http_url):
        """spark.delta.sharing.query.includeEndStreamAction=true: the load
        requests the trailer, the server echoes the capability and appends
        it, the client verifies and strips it — same rows as without."""
        from delta_sharing_spark.client import load_as_spark

        spark.conf.set(
            "spark.delta.sharing.query.includeEndStreamAction", "true")
        try:
            df = load_as_spark(f"{http_url}#s.d.events", spark=spark)
            want = events.count() - events.filter("event_id < 5").count()
            assert df.count() == want
        finally:
            spark.conf.unset(
                "spark.delta.sharing.query.includeEndStreamAction")

    def test_http_load_applies_network_confs(self, spark, events,
                                              http_url):
        """Conf-derived retry policy applies to the call WITHOUT leaking
        into the cached, profile-shared client (other routes/sessions
        keep the defaults; the fresh instance shares the auth provider
        so the OAuth token cache survives)."""
        from delta_sharing_spark import client as client_mod
        from delta_sharing_spark.client import (
            DeltaSharingProfile,
            load_as_spark,
        )

        spark.conf.set("spark.delta.sharing.network.numRetries", "9")
        try:
            df = load_as_spark(f"{http_url}#s.d.events", spark=spark)
            assert df.count() > 0  # the load itself works under the conf
            profile = DeltaSharingProfile.read_from_file(http_url)
            fresh = client_mod._rest_client(profile, spark=spark)
            assert fresh.retry_config.num_retries == 9
            cached = client_mod._rest_client(profile)
            assert cached.retry_config.num_retries == 3  # untouched
            assert fresh.auth_provider is cached.auth_provider
        finally:
            spark.conf.unset("spark.delta.sharing.network.numRetries")

    def test_load_as_pandas_http_limit(self, spark, http_url):
        from delta_sharing_spark.client import load_as_pandas

        pdf = load_as_pandas(f"{http_url}#s.d.events", limit=7, spark=spark)
        assert len(pdf) == 7

    def test_changes_http(self, spark, events, http_url):
        from delta_sharing_spark.client import (
            load_table_changes_as_pandas,
            load_table_changes_as_spark,
        )

        df = load_table_changes_as_spark(
            f"{http_url}#s.d.events", starting_version=0, spark=spark)
        n_del = events.filter("event_id < 5").count()
        by_type = {r["_change_type"]: r["n"] for r in
                   df.groupBy("_change_type").count()
                   .withColumnRenamed("count", "n").collect()}
        assert by_type == {"insert": events.count(), "delete": n_del}
        pdf = load_table_changes_as_pandas(
            f"{http_url}#s.d.events", starting_version=1, spark=spark)
        assert set(pdf["_change_type"]) == {"delete"}
        assert len(pdf) == n_del

    def test_changes_as_pandas_http_column_mapped(self, spark, events,
                                                   http_url):
        """Pandas CDF over a column-mapped, renamed table resolves the
        physical column names like the Spark path: no null ``score``."""
        from delta_sharing_spark.client import load_table_changes_as_pandas

        pdf = load_table_changes_as_pandas(
            f"{http_url}#s.d.events_cm", starting_version=0, spark=spark)
        assert list(pdf.columns[:2]) == ["event_id", "score"]
        assert len(pdf) == events.count()
        assert int(pdf["score"].isna().sum()) == 0

    def test_changes_as_pandas_http_decimal_partition(self, spark,
                                                       http_env):
        """A decimal(20,2) partition value round-trips exactly through the
        pandas CDF, equal to the Spark path (no float rounding)."""
        from decimal import Decimal

        from delta_sharing_spark.client import (
            load_table_changes_as_pandas,
            load_table_changes_as_spark,
        )

        with self._serving(spark, http_env, "events_dec") as url:
            pdf = load_table_changes_as_pandas(url, starting_version=0,
                                               spark=spark)
            via_spark = load_table_changes_as_spark(
                url, starting_version=0, spark=spark).toPandas()
        assert set(pdf["amount"]) == {Decimal("12345678901234567.89"),
                                      Decimal("-0.01")}
        key = ["event_id"]
        assert pdf.sort_values(key).reset_index(drop=True)[
            ["event_id", "amount"]].equals(
            via_spark.sort_values(key).reset_index(drop=True)[
                ["event_id", "amount"]])

    def test_load_as_spark_http_clone_with_source_dv(self, spark,
                                                     http_env):
        """A shallow clone carrying its source's deletion vectors reads
        over the wire with the masked rows removed (DV rows keyed by the
        file id and its absolute url, like the Python Data Source)."""
        from delta_sharing_spark.client import load_as_spark

        with self._serving(spark, http_env, "clone") as url:
            df = load_as_spark(url, spark=spark)
            assert df.count() == 75
            assert df.filter("event_id < 25").count() == 0

    def test_table_helpers_http_and_local(self, spark, events, http_url,
                                          tmp_path_factory):
        import pyarrow as pa

        import delta_sharing_spark as dss

        url = f"{http_url}#s.d.events"
        assert dss.get_table_version(url) == 1
        proto = dss.get_table_protocol(url)
        assert proto["minReaderVersion"] == 1
        meta = dss.get_table_metadata(url)
        assert "schemaString" in meta and meta["partitionColumns"] \
            == ["event_type"]
        tbl = dss.load_as_arrow(url, limit=4, spark=spark)
        assert isinstance(tbl, pa.Table) and tbl.num_rows == 4
        # local (path-endpoint) profile resolves the same helpers in-process
        from delta_sharing_spark.plans.log import TableLog

        base = tmp_path_factory.mktemp("localprof")
        d = str(base / "ev")
        TableLog(spark, d).create(events.limit(10), name="ev")
        cfg = str(base / "catalog.json")
        with open(cfg, "w") as f:
            json.dump({"shares": [{"name": "ls", "schemas": [
                {"name": "ld", "tables": [
                    {"name": "ev", "location": d}]}]}]}, f)
        prof = str(base / "p.json")
        with open(prof, "w") as f:
            json.dump({"shareCredentialsVersion": 1, "endpoint": cfg}, f)
        lurl = f"{prof}#ls.ld.ev"
        assert dss.get_table_version(lurl, spark=spark) == 0
        assert dss.get_table_protocol(lurl, spark=spark)[
            "minReaderVersion"] == 1
        assert "schemaString" in dss.get_table_metadata(lurl, spark=spark)
        assert dss.load_as_arrow(lurl, spark=spark).num_rows == 10

    def test_changes_http_column_mapped(self, spark, events,
                                        tmp_path_factory):
        """CM table CDF over the wire: parquet-only clients are refused
        (same reader-feature gate as the query route); the loader requests
        delta,parquet, gets delta-format change lines, and reconstructs
        them under the LOGICAL names."""
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.client import load_table_changes_as_spark
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.rest import HttpStatusError
        from delta_sharing_spark.server import SharingServer

        base = tmp_path_factory.mktemp("cmcdf")
        d = str(base / "t")
        log = TableLog(spark, d)
        log.create(events.select("event_id", "value").limit(20), name="t",
                   configuration={"enableChangeDataFeed": "true"})
        log.enable_column_mapping()
        log.rename_column("value", "score")
        log.delete("score < 3")
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d, cdf_enabled=True)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        prof = str(base / "p.json")
        with open(prof, "w") as f:
            json.dump({"shareCredentialsVersion": 1, "endpoint": url,
                       "bearerToken": "tok"}, f)
        try:
            # raw parquet-profile client -> 400 protocol error
            raw = DataSharingRestClient(url, retry_config=_NoSleep())
            raw.auth_provider = None
            import urllib.request

            req = urllib.request.Request(
                f"{url}/shares/s/schemas/d/tables/t/changes"
                f"?startingVersion=0")
            req.add_header("Authorization", "Bearer tok")
            with pytest.raises(Exception) as e:
                urllib.request.urlopen(req)
            assert "400" in str(e.value)
            # the loader negotiates delta format and resolves logical names
            ch = load_table_changes_as_spark(
                f"{prof}#s.d.t", starting_version=0, spark=spark)
            assert "score" in ch.columns and "value" not in ch.columns
            by_type = {r["_change_type"]: r["n"] for r in
                       ch.groupBy("_change_type").count()
                       .withColumnRenamed("count", "n").collect()}
            n_del = events.limit(20).filter("value < 3").count()
            assert by_type == {"insert": 20, "delete": n_del}
            # deleted rows carry real (non-null) score values
            dels = ch.filter("_change_type = 'delete'")
            assert dels.filter("score IS NULL").count() == 0
        finally:
            srv.shutdown()

    def test_sharing_client_http_listings(self, spark, http_url):
        from delta_sharing_spark.client import SharingClient

        c = SharingClient(spark, http_url)
        shares = c.list_shares()
        assert [s.name for s in shares] == ["s"]
        schemas = c.list_schemas(shares[0])
        assert [s.name for s in schemas] == ["d"]
        tables = c.list_tables(schemas[0])
        assert sorted(t.name for t in tables) == ["events", "events_cm"]
        assert len(c.list_all_tables("s")) == 2


class TestNetworkConfBridge:
    def test_retry_config_from_spark_conf(self, spark):
        from delta_sharing_spark.retry import RetryConfig

        spark.conf.set("spark.delta.sharing.network.numRetries", "7")
        spark.conf.set("spark.delta.sharing.network.retrySleepInterval",
                       "250")
        spark.conf.set("spark.delta.sharing.network.maxRetryDuration",
                       "120000")
        spark.conf.set("spark.delta.sharing.network.timeout", "5000ms")
        try:
            rc = RetryConfig.from_spark_conf(spark.conf)
            assert rc.num_retries == 7
            assert rc.initial_sleep_ms == 250
            assert rc.max_duration_ms == 120000
            assert rc.request_timeout_s == 5.0
        finally:
            for k in ("numRetries", "retrySleepInterval",
                      "maxRetryDuration", "timeout"):
                spark.conf.unset(f"spark.delta.sharing.network.{k}")
        # defaults + "320s" spelling
        rc = RetryConfig.from_spark_conf(spark.conf)
        assert rc.num_retries == 3
        assert rc.request_timeout_s == 320.0
        # JavaUtils-style unit spellings
        for raw, want in (("5m", 300.0), ("1h", 3600.0), ("45", 45.0)):
            spark.conf.set("spark.delta.sharing.network.timeout", raw)
            try:
                assert RetryConfig.from_spark_conf(
                    spark.conf).request_timeout_s == want
            finally:
                spark.conf.unset("spark.delta.sharing.network.timeout")
        spark.conf.set("spark.delta.sharing.network.timeout", "xyz")
        try:
            with pytest.raises(ValueError, match="unparseable"):
                RetryConfig.from_spark_conf(spark.conf)
        finally:
            spark.conf.unset("spark.delta.sharing.network.timeout")



class TestEndStreamActionCheck:
    def test_check_strips_verifies_and_raises(self):
        from delta_sharing_spark.rest import (
            HttpStatusError,
            MissingEndStreamActionError,
            check_end_stream_action,
        )

        hdr = {"delta-sharing-capabilities": "includeendstreamaction=true"}
        lines = [{"protocol": {}}, {"metaData": {}},
                 {"endStreamAction": {}}]
        assert check_end_stream_action(hdr, list(lines)) == lines[:-1]
        # responded true but no trailer -> truncation error
        with pytest.raises(MissingEndStreamActionError):
            check_end_stream_action(hdr, lines[:-1])
        # embedded server error surfaces with the status code
        bad = lines[:-1] + [{"endStreamAction": {
            "errorMessage": "boom", "httpStatusErrorCode": 500}}]
        with pytest.raises(HttpStatusError, match=r"Server Exception\[500\]"):
            check_end_stream_action(hdr, bad)
        # server did not echo the header -> tolerated, lines unchanged
        assert check_end_stream_action({}, lines[:-1]) == lines[:-1]
        assert check_end_stream_action(
            {"delta-sharing-capabilities":
             "includeendstreamaction=false"}, lines[:-1]) == lines[:-1]
