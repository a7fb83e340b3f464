"""REST façade integration: boot the server, hit every endpoint over HTTP,
parse the NDJSON action streams (DeltaSharingServiceSuite intent)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from delta_sharing_spark.catalog import ShareCatalog
from delta_sharing_spark.plans.log import TableLog
from delta_sharing_spark.server import SharingServer


@pytest.fixture(scope="module")
def server(spark, events, tmp_path_factory):
    base = tmp_path_factory.mktemp("srv")
    d = str(base / "events")
    log = TableLog(spark, d)
    log.create(events, partition_by=["event_type"], name="events",
               configuration={"enableChangeDataFeed": "true"})
    log.delete("event_id < 5")
    cat = ShareCatalog(spark)
    cat.add_table("share1", "default", "events", d, cdf_enabled=True)
    srv = SharingServer(cat, bearer_token="secret-token")
    url = srv.serve_background()
    yield url
    srv.shutdown()


def _get(url: str, token: str | None = "secret-token"):
    req = urllib.request.Request(url)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req) as resp:
        return resp.status, dict(resp.headers), resp.read().decode()


def _post(url: str, body: dict, token: str | None = "secret-token",
          headers: dict | None = None):
    req = urllib.request.Request(url, data=json.dumps(body).encode(),
                                 method="POST")
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    with urllib.request.urlopen(req) as resp:
        return resp.status, dict(resp.headers), resp.read().decode()


def _ndjson(text: str) -> list[dict]:
    return [json.loads(line) for line in text.splitlines() if line]


class TestEndpoints:
    def test_auth_required(self, server):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{server}/shares", token=None)
        assert e.value.code == 401
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{server}/shares", token="wrong")
        assert e.value.code == 401

    def test_listings(self, server):
        _s, _h, body = _get(f"{server}/shares")
        assert json.loads(body)["items"] == [{"name": "share1"}]
        _s, _h, body = _get(f"{server}/shares/share1/schemas")
        assert json.loads(body)["items"][0]["name"] == "default"
        _s, _h, body = _get(
            f"{server}/shares/share1/schemas/default/tables")
        assert json.loads(body)["items"][0]["name"] == "events"
        _s, _h, body = _get(f"{server}/shares/share1/all-tables")
        assert len(json.loads(body)["items"]) == 1

    def test_version_header(self, server):
        _s, headers, _b = _get(
            f"{server}/shares/share1/schemas/default/tables/events/version")
        assert headers["Delta-Table-Version"] == "1"

    def test_metadata_ndjson(self, server):
        _s, headers, body = _get(
            f"{server}/shares/share1/schemas/default/tables/events/metadata")
        lines = _ndjson(body)
        assert "protocol" in lines[0]
        meta = lines[1]["metaData"]
        assert meta["partitionColumns"] == ["event_type"]
        assert "schemaString" in meta

    def test_query_with_predicates_and_paging(self, server):
        url = f"{server}/shares/share1/schemas/default/tables/events/query"
        _s, _h, body = _post(url, {})
        all_files = [line for line in _ndjson(body) if "file" in line]
        hints = {"op": "equal", "children": [
            {"op": "column", "name": "event_type", "valueType": "string"},
            {"op": "literal", "value": "click", "valueType": "string"}]}
        _s, _h, body = _post(url, {"jsonPredicateHints": hints})
        pruned = [line for line in _ndjson(body) if "file" in line]
        assert 0 < len(pruned) < len(all_files)
        # paging
        _s, _h, body = _post(url, {"maxFiles": 2})
        lines = _ndjson(body)
        files = [line for line in lines if "file" in line]
        assert len(files) == 2
        end = [line for line in lines if "endStreamAction" in line]
        token = end[0]["endStreamAction"]["nextPageToken"]
        _s, _h, body = _post(url, {"maxFiles": 100, "pageToken": token})
        rest = [line for line in _ndjson(body) if "file" in line]
        assert len(files) + len(rest) == len(all_files)

    def test_changes_ndjson(self, server):
        url = (f"{server}/shares/share1/schemas/default/tables/events/"
               f"changes?startingVersion=1")
        _s, _h, body = _get(url)
        lines = _ndjson(body)
        cdfs = [line["cdf"] for line in lines if "cdf" in line]
        assert cdfs and all(c["version"] == 1 for c in cdfs)

    def test_delta_response_format(self, server, spark, events):
        """responseformat=delta (PROTOCOL.md:4014-4137): delta-action
        wrappers on query/metadata/changes + client-side reconstruction."""
        from delta_sharing_spark.deltaformat import snapshot_lines_to_spark

        caps = {"delta-sharing-capabilities": "responseformat=delta"}
        url = f"{server}/shares/share1/schemas/default/tables/events/query"
        _s, headers, body = _post(url, {}, headers=caps)
        assert headers["delta-sharing-capabilities"] == "responseformat=delta"
        lines = _ndjson(body)
        assert "deltaProtocol" in lines[0]["protocol"]
        meta = lines[1]["metaData"]
        assert "deltaMetadata" in meta and "schemaString" in meta["deltaMetadata"]
        assert meta["numFiles"] >= 1
        files = [line["file"] for line in lines if "file" in line]
        assert files
        for f in files:
            assert "id" in f
            add = f["deltaSingleAction"]["add"]
            assert add["path"].startswith("/") and "partitionValues" in add
        # reconstruction equals the table contents served in parquet format
        df = snapshot_lines_to_spark(spark, lines)
        want = events.count() - events.filter("event_id < 5").count()
        assert df.count() == want
        assert "event_type" in df.columns  # partition column restored
        # changes endpoint in delta format: cdc wrapped as deltaSingleAction
        ch_url = (f"{server}/shares/share1/schemas/default/tables/events/"
                  f"changes?startingVersion=1")
        req = urllib.request.Request(ch_url)
        req.add_header("Authorization", "Bearer secret-token")
        req.add_header("delta-sharing-capabilities", "responseformat=delta")
        with urllib.request.urlopen(req) as resp:
            ch_lines = _ndjson(resp.read().decode())
        kinds = [next(iter(line["file"]["deltaSingleAction"]))
                 for line in ch_lines if "file" in line]
        assert "cdc" in kinds

    def test_column_mapped_table_gates_parquet_profile(
            self, server, spark, events, tmp_path_factory):
        """A column-mapped (renamed) table cannot be decoded by an external
        parquet-profile client (files store physical names) — the server
        must refuse parquet and serve delta (kernel gating,
        DeltaSharedTableKernel.scala:567-585)."""
        from delta_sharing_spark.deltaformat import snapshot_lines_to_spark

        d = str(tmp_path_factory.mktemp("cm") / "events_cm")
        log = TableLog(spark, d)
        log.create(events.select("event_id", "event_type", "value"),
                   name="events_cm")
        log.enable_column_mapping()
        log.rename_column("value", "score")
        from delta_sharing_spark.server import SharingServer
        from delta_sharing_spark.catalog import ShareCatalog

        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "events_cm", d)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        try:
            q = f"{url}/shares/s/schemas/d/tables/events_cm/query"
            # parquet profile (no capabilities header) -> protocol error
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(q, {}, token="tok")
            assert e.value.code == 400
            assert "columnMapping" in e.value.read().decode()
            # delta format -> served, readable, logical names
            _s, headers, body = _post(
                q, {}, token="tok",
                headers={"delta-sharing-capabilities":
                         "responseformat=delta,parquet"})
            assert headers["delta-sharing-capabilities"] == \
                "responseformat=delta"
            lines = _ndjson(body)
            proto = lines[0]["protocol"]["deltaProtocol"]
            assert proto["minReaderVersion"] == 2
            df = snapshot_lines_to_spark(spark, lines)
            assert df.count() == events.count()
            # metadata endpoint stays readable for parquet clients and
            # advertises the reader requirement
            m = f"{url}/shares/s/schemas/d/tables/events_cm/metadata"
            _s, _h, mbody = _get(m, token="tok")
            mlines = _ndjson(mbody)
            assert mlines[0]["protocol"]["minReaderVersion"] == 2
        finally:
            srv.shutdown()

    def test_plain_table_negotiates_parquet(self, server):
        """responseformat=delta,parquet on a plain table -> parquet (the
        reference prefers parquet when no advanced features force delta)."""
        url = f"{server}/shares/share1/schemas/default/tables/events/query"
        _s, headers, body = _post(
            url, {},
            headers={"delta-sharing-capabilities":
                     "responseformat=delta,parquet"})
        assert "delta-sharing-capabilities" not in {
            k.lower() for k in headers}
        lines = _ndjson(body)
        assert lines[0]["protocol"] == {"minReaderVersion": 1}
        assert any("file" in line and "url" in line["file"]
                   for line in lines)

    def test_async_query_requires_idempotency_key(self, server):
        """Async submission without idempotencyKey is a 400 with the
        reference's error text (DeltaSharingService.scala:500-504)."""
        url = f"{server}/shares/share1/schemas/default/tables/events/query"
        caps = {"delta-sharing-capabilities": "asyncquery=true"}
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(url, {"limitHint": 3}, headers=caps)
        assert e.value.code == 400
        assert "idempotency_key is required" in e.value.read().decode()

    def test_async_query_round_trip(self, server):
        """asyncquery=true submission -> queryStatus line -> poll Get Query
        Info until the full sync-shaped response streams
        (PROTOCOL.md:2313-2350, 2692-2812; ref
        DeltaSharingService.scala:368-450)."""
        import time

        url = f"{server}/shares/share1/schemas/default/tables/events/query"
        caps = {"delta-sharing-capabilities": "asyncquery=true"}
        _s, headers, body = _post(url, {"idempotencyKey": "key-1"},
                                  headers=caps)
        assert headers["delta-sharing-capabilities"] == "asyncquery=true"
        lines = _ndjson(body)
        assert len(lines) == 1
        qid = lines[0]["queryStatus"]["queryId"]
        # idempotent resubmission (same params) -> same queryId
        _s, _h, body2 = _post(url, {"idempotencyKey": "key-1"}, headers=caps)
        assert _ndjson(body2)[0]["queryStatus"]["queryId"] == qid
        # same key, different params -> fresh query (undefined per protocol;
        # we start a new one rather than serving wrong results)
        _s, _h, body3 = _post(url, {"idempotencyKey": "key-1",
                                    "limitHint": 3}, headers=caps)
        assert _ndjson(body3)[0]["queryStatus"]["queryId"] != qid

        poll = (f"{server}/shares/share1/schemas/default/tables/events"
                f"/queries/{qid}")
        for _ in range(200):
            _s, headers, body = _post(poll, {})
            lines = _ndjson(body)
            if not (len(lines) == 1 and "queryStatus" in lines[0]):
                break
            assert lines[0]["queryStatus"]["status"] == "pending"
            time.sleep(0.05)
        assert "protocol" in lines[0]
        assert "metaData" in lines[1]
        full_files = [line for line in lines if "file" in line]
        assert full_files
        assert "Delta-Table-Version" in headers

        # completed result re-pages with the poll body's maxFiles/pageToken
        _s, _h, body = _post(poll, {"maxFiles": 1})
        lines = _ndjson(body)
        page1 = [line for line in lines if "file" in line]
        assert len(page1) == 1
        end = [line for line in lines if "endStreamAction" in line]
        token = end[0]["endStreamAction"]["nextPageToken"]
        _s, _h, body = _post(poll, {"maxFiles": 100, "pageToken": token})
        rest = [line for line in _ndjson(body) if "file" in line]
        assert len(page1) + len(rest) == len(full_files)

        # unknown queryId -> 400
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{server}/shares/share1/schemas/default/tables/events"
                  f"/queries/doesnotexist", {})
        assert e.value.code == 400

    def test_errors(self, server):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{server}/shares/nope")
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{server}/shares/share1/schemas/default/tables/events/query",
                  {"version": 99})
        assert e.value.code == 400


class TestOAuth:
    @pytest.fixture(scope="class")
    def oauth_server(self, spark, events, tmp_path_factory):
        base = tmp_path_factory.mktemp("oauth_srv")
        d = str(base / "events")
        TableLog(spark, d).create(events, name="events")
        cat = ShareCatalog(spark)
        cat.add_table("share1", "default", "events", d)
        srv = SharingServer(cat, oauth_clients={"client-a": "secret-a"},
                            oauth_token_lifetime_seconds=3600)
        url = srv.serve_background()
        yield url, srv
        srv.shutdown()

    def test_client_credentials_round_trip(self, oauth_server):
        from delta_sharing_spark.auth import (
            AuthConfig, OAuthClient, OAuthClientCredentialsAuthProvider)

        url, srv = oauth_server
        provider = OAuthClientCredentialsAuthProvider(
            oauth_client=OAuthClient(f"{url}/oauth/token",
                                     "client-a", "secret-a"))
        headers: dict = {}
        provider.add_auth_header(headers)
        token1 = headers["Authorization"].removeprefix("Bearer ")
        status, _h, body = _get(f"{url}/shares", token=token1)
        assert status == 200
        assert json.loads(body)["items"][0]["name"] == "share1"

        # cached token is reused while fresh
        headers2: dict = {}
        provider.add_auth_header(headers2)
        assert headers2["Authorization"].endswith(token1)

        # age the cached token past the renewal threshold -> one refresh
        provider._current.creation_timestamp -= (3600 - 1) * 1000
        headers3: dict = {}
        provider.add_auth_header(headers3)
        token2 = headers3["Authorization"].removeprefix("Bearer ")
        assert token2 != token1
        status, _h, _b = _get(f"{url}/shares", token=token2)
        assert status == 200

    def test_expired_issued_token_401(self, oauth_server):
        from delta_sharing_spark.auth import OAuthClient

        url, srv = oauth_server
        creds = OAuthClient(f"{url}/oauth/token",
                            "client-a", "secret-a").client_credentials()
        srv._issued_tokens[creds.access_token] = 1.0  # expire server-side
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{url}/shares", token=creds.access_token)
        assert e.value.code == 401

    def test_concurrent_token_issue_keeps_all_tokens(self, oauth_server):
        # the issued-token registry is mutated under a lock, in place — a
        # rebuild-and-rebind raced concurrent issues and dropped tokens,
        # 401-ing valid bearers. Hammer with parallel issues, then verify
        # EVERY token works on a data route.
        import concurrent.futures

        from delta_sharing_spark.auth import OAuthClient

        url, _srv = oauth_server
        client = OAuthClient(f"{url}/oauth/token", "client-a", "secret-a")
        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
            tokens = [f.result().access_token for f in
                      [ex.submit(client.client_credentials)
                       for _ in range(24)]]
        assert len(set(tokens)) == 24
        for t in tokens:
            status, _h, _b = _get(f"{url}/shares", token=t)
            assert status == 200

    def test_bad_client_and_grant(self, oauth_server):
        from delta_sharing_spark.auth import OAuthClient, OAuthTokenError

        url, _srv = oauth_server
        with pytest.raises(OAuthTokenError):
            OAuthClient(f"{url}/oauth/token", "client-a",
                        "WRONG").client_credentials()


class TestReaderFeatures:
    """Declared reader-feature negotiation (SnapshotChecker parity,
    server/common/SnapshotChecker.scala:42-70): an explicit
    ``readerfeatures=`` list is authoritative — tables using an
    undeclared feature are refused; NO declaration keeps the engine's
    documented legacy behavior (descriptors served, delta-format gate
    for column mapping)."""

    @pytest.fixture(scope="class")
    def dv_server(self, spark, events, tmp_path_factory):
        base = tmp_path_factory.mktemp("dvsrv")
        d = str(base / "t")
        log = TableLog(spark, d)
        log.create(events.limit(20), name="t",
                   configuration={"enableDeletionVectors": "true",
                                  "enableChangeDataFeed": "true"})
        log.delete("event_id < 5")
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d, cdf_enabled=True)
        srv = SharingServer(cat, bearer_token="secret-token")
        url = srv.serve_background()
        yield url
        srv.shutdown()

    def _query(self, url, caps):
        return _post(f"{url}/shares/s/schemas/d/tables/t/query", {},
                     headers={"delta-sharing-capabilities": caps}
                     if caps else None)

    def test_no_declaration_serves_legacy(self, dv_server):
        s, _h, body = self._query(dv_server, None)
        assert s == 200
        assert any("file" in ln for ln in _ndjson(body))

    def test_partial_declaration_refused(self, dv_server):
        with pytest.raises(urllib.error.HTTPError) as e:
            self._query(dv_server,
                        "responseformat=delta,parquet;"
                        "readerfeatures=columnmapping")
        assert e.value.code == 400
        assert "deletionVectors" in e.value.read().decode()

    def test_full_declaration_served(self, dv_server):
        s, _h, body = self._query(
            dv_server, "responseformat=delta,parquet;"
            "readerfeatures=deletionVectors,columnMapping,timestampNTZ")
        assert s == 200
        assert any("file" in ln for ln in _ndjson(body))

    def test_changes_rpc_gated_too(self, dv_server):
        req = urllib.request.Request(
            f"{dv_server}/shares/s/schemas/d/tables/t/changes"
            "?startingVersion=0")
        req.add_header("Authorization", "Bearer secret-token")
        req.add_header("delta-sharing-capabilities",
                       "responseformat=parquet;readerfeatures=")
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400

    def test_gate_asserts_queried_version_not_latest(self, spark, events,
                                                     tmp_path):
        """Pre-enablement time travel stays servable: the feature gate
        asserts the QUERIED snapshot's configuration, so a version pinned
        before ENABLE COLUMN MAPPING passes for a client that did not
        declare the feature, while latest is refused."""
        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        log.create(events.limit(10), name="t")
        log.enable_column_mapping()
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d)
        srv = SharingServer(cat, bearer_token="secret-token")
        url = srv.serve_background()
        try:
            caps = "responseformat=delta;readerfeatures=deletionvectors"
            s, _h, _b = _post(
                f"{url}/shares/s/schemas/d/tables/t/query",
                {"version": 0},
                headers={"delta-sharing-capabilities": caps})
            assert s == 200
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(f"{url}/shares/s/schemas/d/tables/t/query", {},
                      headers={"delta-sharing-capabilities": caps})
            assert e.value.code == 400
            assert "columnMapping" in e.value.read().decode()
        finally:
            srv.shutdown()

    def test_range_crossing_enablement_gated_at_both_ends(self, spark,
                                                          events,
                                                          tmp_path):
        """A version-range query crossing a feature-enablement commit
        must be refused for undeclared clients (the start snapshot alone
        would pass), while a range ENDING before the enablement stays
        servable."""
        from delta_sharing_spark.plans.log import TableLog as TL
        from delta_sharing_spark.table import (
            SharedTable,
            UnsupportedTableFeatureError,
        )

        d = str(tmp_path / "t")
        log = TL(spark, d)
        log.create(events.limit(10), name="t")
        log.append(events.limit(5))
        log.enable_column_mapping()
        log.append(events.limit(3).drop("props"))
        t = SharedTable(spark, d)
        rf = {"deletionvectors"}  # no columnmapping declared
        with pytest.raises(UnsupportedTableFeatureError,
                           match="columnMapping"):
            t.query_actions(starting_version=0,
                            response_formats={"delta"},
                            reader_features=rf)
        out = t.query_actions(starting_version=0, ending_version=1,
                              response_formats={"delta"},
                              reader_features=rf)
        assert any("add" in ln for ln in out["actions"])

    def test_changes_gate_asserts_range_not_latest(self, spark, events,
                                                   tmp_path):
        """The changes RPC's feature gates run against the RESOLVED range
        endpoints, not the latest snapshot (advice finding): a historical
        pre-enablement range stays servable to a client that never
        declared a feature enabled only after the range, while a range
        crossing the enablement is refused."""
        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        log.create(events.limit(10), name="t",
                   configuration={"enableChangeDataFeed": "true"})
        log.append(events.limit(5))        # v1
        log.enable_column_mapping()        # v2: feature enablement
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d, cdf_enabled=True)
        srv = SharingServer(cat, bearer_token="secret-token")
        url = srv.serve_background()
        try:
            def changes(qs):
                req = urllib.request.Request(
                    f"{url}/shares/s/schemas/d/tables/t/changes?{qs}")
                req.add_header("Authorization", "Bearer secret-token")
                req.add_header("delta-sharing-capabilities",
                               "responseformat=delta,parquet;"
                               "readerfeatures=deletionvectors")
                with urllib.request.urlopen(req) as resp:
                    return resp.status

            # pre-enablement range: servable despite CM on latest
            assert changes("startingVersion=0&endingVersion=1") == 200
            # range crossing the enablement: refused for the
            # no-columnmapping declaration
            with pytest.raises(urllib.error.HTTPError) as e:
                changes("startingVersion=0&endingVersion=2")
            assert e.value.code == 400
            assert "columnMapping" in e.value.read().decode()
        finally:
            srv.shutdown()

    def test_refresh_token_pins_pre_enablement_version(self, spark,
                                                       events, tmp_path):
        """A refresh token issued before a feature enablement pins its
        version: refreshing with it must re-serve the pinned snapshot,
        not be refused against the now-feature-bearing latest."""
        from delta_sharing_spark.plans.log import TableLog as TL
        from delta_sharing_spark.table import SharedTable

        d = str(tmp_path / "t")
        log = TL(spark, d)
        log.create(events.limit(10), name="t")
        t = SharedTable(spark, d)
        rf = {"deletionvectors"}
        out = t.query_actions(include_refresh_token=True,
                              response_formats={"delta"},
                              reader_features=rf)
        token = out["refreshToken"]
        assert token
        log.enable_column_mapping()
        out2 = t.query_actions(refresh_token=token,
                               response_formats={"delta"},
                               reader_features=rf)
        assert out2["version"] == out["version"]
        assert any("file" in ln or "add" in ln for ln in out2["actions"])

    def test_timestamp_ntz_gated(self, spark, tmp_path):
        """A TIMESTAMP_NTZ column is a reader feature too: declared lists
        without timestampntz are refused, with it served."""
        from pyspark.sql import functions as F

        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        log.create(spark.range(5).select(
            "id", F.lit("2024-01-01 00:00:00")
            .cast("timestamp_ntz").alias("ts")), name="t")
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d)
        srv = SharingServer(cat, bearer_token="secret-token")
        url = srv.serve_background()
        try:
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(f"{url}/shares/s/schemas/d/tables/t/query", {},
                      headers={"delta-sharing-capabilities":
                               "responseformat=delta;"
                               "readerfeatures=deletionvectors"})
            assert e.value.code == 400
            assert "timestampNtz" in e.value.read().decode()
            s, _h, _b = _post(
                f"{url}/shares/s/schemas/d/tables/t/query", {},
                headers={"delta-sharing-capabilities":
                         "responseformat=delta;readerfeatures="
                         "deletionvectors,timestampntz"})
            assert s == 200
        finally:
            srv.shutdown()

    def test_strict_mode_rejects_undeclared_clients(self, spark, events,
                                                    tmp_path):
        """strict_reader_features=True: a client with NO readerfeatures
        declaration is treated as declaring none (the reference's
        SnapshotChecker.assertTableProperties), so a DV table is refused;
        declaring the features serves it; non-feature tables stay
        servable to undeclared clients in strict mode too."""
        d = str(tmp_path / "t")
        log = TableLog(spark, d)
        log.create(events.limit(20), name="t",
                   configuration={"enableDeletionVectors": "true"})
        log.delete("event_id < 5")
        plain = str(tmp_path / "plain")
        TableLog(spark, plain).create(events.limit(5), name="p")
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", d)
        cat.add_table("s", "d", "p", plain)
        srv = SharingServer(cat, bearer_token="secret-token",
                            strict_reader_features=True)
        url = srv.serve_background()
        try:
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(f"{url}/shares/s/schemas/d/tables/t/query", {})
            assert e.value.code == 400
            assert "deletionVectors" in e.value.read().decode()
            s, _h, body = _post(
                f"{url}/shares/s/schemas/d/tables/t/query", {},
                headers={"delta-sharing-capabilities":
                         "readerfeatures=deletionvectors"})
            assert s == 200
            assert any("file" in ln for ln in _ndjson(body))
            # feature-less table: strict mode changes nothing
            s, _h, body = _post(
                f"{url}/shares/s/schemas/d/tables/p/query", {})
            assert s == 200
            assert any("file" in ln for ln in _ndjson(body))
        finally:
            srv.shutdown()

    def test_own_rest_client_declares_features(self, dv_server):
        """The engine's REST client declares its feature list with
        delta-format requests, so it keeps working against servers that
        treat declarations as authoritative."""
        from delta_sharing_spark.auth import BearerTokenAuthProvider
        from delta_sharing_spark.rest import DataSharingRestClient

        client = DataSharingRestClient(
            dv_server, auth_provider=BearerTokenAuthProvider(
                "secret-token"))
        _h, lines = client.list_files_in_table(
            "s", "d", "t", response_formats="delta,parquet")
        assert any("file" in ln for ln in lines)
        lines = client.list_table_changes(
            "s", "d", "t", starting_version=0,
            response_formats="delta,parquet")
        assert any(k in ln for ln in lines
                   for k in ("file", "add", "cdf", "remove"))
