"""REST façade — the Delta Sharing protocol surface over the engine.

Pure serialization over the catalog/table/CDF layers (SURVEY.md §7 step 7):
stdlib ``ThreadingHTTPServer`` exposing the reference's endpoints
(PROTOCOL.md; service twin server/.../DeltaSharingService.scala):

    GET  /shares                                     (paged)
    GET  /shares/{share}
    GET  /shares/{share}/schemas                     (paged)
    GET  /shares/{share}/schemas/{schema}/tables     (paged)
    GET  /shares/{share}/all-tables                  (paged)
    GET  .../tables/{table}/version?startingTimestamp=
    GET  .../tables/{table}/metadata
    POST .../tables/{table}/query    {predicateHints, jsonPredicateHints,
                                      limitHint, version, timestamp,
                                      maxFiles, pageToken,
                                      includeRefreshToken, refreshToken,
                                      idempotencyKey}
         (header delta-sharing-capabilities: asyncquery=true -> async
          submission returning {queryStatus:{queryId}})
    POST .../tables/{table}/queries/{queryId}   (async poll, re-pageable)
    GET  .../tables/{table}/changes?startingVersion=&endingVersion=...

Query/metadata/changes responses are NDJSON action streams
(``application/x-ndjson``; wrapper-object lines per PROTOCOL.md:3537-3548);
listings are JSON with ``nextPageToken``. Bearer-token auth matches the
profile file's token when one is configured.

This façade exists for protocol parity and integration testing — in-engine
consumers use the DataFrame APIs directly and skip HTTP entirely.
"""

from __future__ import annotations

import json
import logging
import re
import threading
from collections import deque
from dataclasses import asdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from delta_sharing_spark.catalog import CatalogError, ShareCatalog
from delta_sharing_spark.cdf import CDFError, table_changes_actions
from delta_sharing_spark.plans.log import TableNotFoundError, VersionNotFoundError
from delta_sharing_spark.table import SharedTable

_LOG = logging.getLogger("dss.server")

NDJSON = "application/x-ndjson; charset=utf-8"
JSON_CT = "application/json; charset=utf-8"
# serve_forever's poll: the longest a shutdown() waits for the serving
# loop to notice it (the stdlib default is 0.5 s)
SHUTDOWN_POLL_S = 0.05

_ROUTES = [
    # RFC 6749 client-credentials token endpoint (unauthenticated route;
    # credentials ride in the Basic header). The reference delegates this
    # to an external IdP (client/.../auth/OAuthClient.scala:31-61); the
    # façade embeds a minimal issuer so shareCredentialsVersion-2 profiles
    # round-trip end-to-end in one process.
    ("POST", re.compile(r"^/oauth/token$"), "oauth_token"),
    ("GET", re.compile(r"^/shares$"), "list_shares"),
    ("GET", re.compile(r"^/shares/([^/]+)$"), "get_share"),
    ("GET", re.compile(r"^/shares/([^/]+)/schemas$"), "list_schemas"),
    ("GET", re.compile(r"^/shares/([^/]+)/schemas/([^/]+)/tables$"),
     "list_tables"),
    ("GET", re.compile(r"^/shares/([^/]+)/all-tables$"), "list_all_tables"),
    ("GET",
     re.compile(r"^/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/version$"),
     "table_version"),
    ("GET",
     re.compile(r"^/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/metadata$"),
     "table_metadata"),
    ("POST",
     re.compile(r"^/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/query$"),
     "table_query"),
    ("POST",
     re.compile(
         r"^/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/queries/([^/]+)$"),
     "get_query_info"),
    ("GET",
     re.compile(r"^/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/changes$"),
     "table_changes"),
]


class SharingServer:
    """Serve a ShareCatalog over HTTP. Start with ``serve_background()``."""

    def __init__(self, catalog: ShareCatalog, host: str = "127.0.0.1",
                 port: int = 0, bearer_token: str | None = None,
                 oauth_clients: dict[str, str] | None = None,
                 oauth_token_lifetime_seconds: int = 3600,
                 strict_reader_features: bool = False):
        from delta_sharing_spark.asyncquery import AsyncQueryManager

        self.catalog = catalog
        self.bearer_token = bearer_token
        # strict reader-feature parity with the reference
        # (SnapshotChecker.assertTableProperties, server/common/
        # SnapshotChecker.scala:42, called from
        # DeltaSharedTableKernel.scala:184): a client with NO
        # readerfeatures declaration is treated as declaring NONE, so
        # DV/column-mapped/NTZ tables are refused instead of served
        # legacy-style. Default False keeps the engine's documented
        # legacy-compatible behavior for its own parquet-profile clients.
        self.strict_reader_features = strict_reader_features
        # OAuth client-credentials issuer state: registered
        # client_id -> client_secret, and issued token -> expiry (epoch s)
        self.oauth_clients = oauth_clients or {}
        self.oauth_token_lifetime_seconds = oauth_token_lifetime_seconds
        self._issued_tokens: dict[str, float] = {}
        # guards _issued_tokens under ThreadingHTTPServer: concurrent
        # token requests must not drop each other's just-issued tokens
        self._issued_tokens_lock = threading.Lock()
        self.async_queries = AsyncQueryManager()
        # observability: every dispatched request's method + path + the
        # plan-shaping body fields (tests assert RPC-count bounds — e.g.
        # a long-backlog streaming drain must cost
        # O(backlog / maxVersionsPerRpc) range RPCs). Bounded: a
        # long-lived server must not accumulate one string per request
        # forever.
        self.request_log: "deque[str]" = deque(maxlen=100_000)
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _deny(self, code: int, message: str) -> None:
                body = json.dumps(
                    {"errorCode": str(code), "message": message}).encode()
                self.send_response(code)
                self.send_header("Content-Type", JSON_CT)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _respond(self, payload: bytes, content_type: str,
                         version: int | None = None,
                         extra_headers: dict | None = None) -> None:
                self.send_response(200)
                self.send_header("Content-Type", content_type)
                if version is not None:
                    # ref Delta-Table-Version response header
                    self.send_header("Delta-Table-Version", str(version))
                for k, v in (extra_headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def _authorized(self) -> bool:
                if server.bearer_token is None and not server.oauth_clients:
                    return True
                auth = self.headers.get("Authorization", "")
                if server.bearer_token is not None \
                        and auth == f"Bearer {server.bearer_token}":
                    return True
                if auth.startswith("Bearer "):
                    return server._issued_token_valid(auth[len("Bearer "):])
                return False

            def _dispatch(self, method: str) -> None:
                url = urlparse(self.path)
                if url.path != "/oauth/token" and not self._authorized():
                    return self._deny(401, "unauthorized")
                params = {k: v[0] for k, v in parse_qs(url.query).items()}
                body = {}
                if method == "POST":
                    # every malformed-request shape (bad Content-Length,
                    # truncated/garbage/non-object JSON, undecodable
                    # bytes) must come back as a PROTOCOL-SHAPED 400 —
                    # never an unhandled traceback that drops the
                    # connection (ref DeltaSharingServiceSuite's
                    # malformed-request coverage)
                    try:
                        n = int(self.headers.get("Content-Length") or 0)
                        raw = self.rfile.read(n) if n > 0 else b""
                    except (ValueError, OSError):
                        return self._deny(400, "invalid Content-Length")
                    ctype = self.headers.get("Content-Type", "")
                    if "x-www-form-urlencoded" in ctype:
                        try:
                            body = {k: v[0] for k, v in
                                    parse_qs(raw.decode()).items()}
                        except (UnicodeDecodeError, ValueError):
                            return self._deny(400, "malformed form body")
                    elif raw:
                        try:
                            body = json.loads(raw)
                        except (UnicodeDecodeError, ValueError):
                            return self._deny(
                                400, "malformed request body: expected a "
                                "JSON object")
                        if not isinstance(body, dict):
                            return self._deny(
                                400, "malformed request body: expected a "
                                "JSON object, got "
                                f"{type(body).__name__}")
                # observability entry: method + path + the plan-shaping
                # fields (tests assert RPC-count bounds on these). GET
                # endpoints carry them as query params (the changes RPC),
                # POST as body fields — merge both so range RPCs are
                # observable regardless of verb.
                tracked = {k: params[k] for k in
                           ("startingVersion", "endingVersion",
                            "pageToken", "maxFiles")
                           if params.get(k) is not None}
                tracked.update({k: body[k] for k in
                                ("startingVersion", "endingVersion",
                                 "pageToken", "maxFiles")
                                if isinstance(body, dict) and body.get(k)
                                is not None})
                server.request_log.append(
                    f"{method} {self.path}"
                    + "".join(f" {k}={v}" for k, v in sorted(
                        tracked.items())))
                for verb, pattern, name in _ROUTES:
                    if verb != method:
                        continue
                    m = pattern.match(url.path)
                    if m:
                        try:
                            return getattr(server, name)(
                                self, *m.groups(), params=params, body=body)
                        except (CatalogError, TableNotFoundError) as exc:
                            return self._deny(404, str(exc))
                        except (VersionNotFoundError, CDFError,
                                ValueError) as exc:
                            return self._deny(400, str(exc))
                        except Exception as exc:  # noqa: BLE001
                            # unexpected server-side failure: the operator
                            # gets the traceback in the log; the client a
                            # protocol-shaped error document with the
                            # exception CLASS only (no traceback/message
                            # leak)
                            _LOG.error("%s %s failed", method, url.path,
                                       exc_info=True)
                            return self._deny(
                                500, "internal server error "
                                f"({type(exc).__name__})")
                return self._deny(404, f"no route for {url.path}")

            def do_GET(self):  # noqa: N802
                self._dispatch("GET")

            def do_POST(self):  # noqa: N802
                self._dispatch("POST")

            def do_PUT(self):  # noqa: N802 - protocol is GET/POST only
                self._deny(405, "method not allowed")

            do_DELETE = do_PATCH = do_HEAD = do_PUT  # noqa: N815

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ lifecycle

    def serve_background(self) -> str:
        self._thread = threading.Thread(
            target=self.httpd.serve_forever,
            kwargs={"poll_interval": SHUTDOWN_POLL_S}, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self.port}"

    def shutdown(self) -> None:
        """Stop serving (within one ``SHUTDOWN_POLL_S``) and close the
        listening socket."""
        self.httpd.shutdown()
        self.httpd.server_close()

    # ------------------------------------------------------------- handlers

    def _issued_token_valid(self, token: str) -> bool:
        import time

        with self._issued_tokens_lock:
            exp = self._issued_tokens.get(token)
        return exp is not None and exp > time.time()

    def oauth_token(self, h, params, body) -> None:
        """Minimal RFC 6749 §4.4 issuer: Basic client credentials (or form
        fields) -> short-lived bearer; expired tokens 401 on data routes."""
        import base64
        import secrets
        import time

        cid = secret = None
        auth = h.headers.get("Authorization", "")
        if auth.startswith("Basic "):
            try:
                cid, secret = base64.b64decode(
                    auth[len("Basic "):]).decode().split(":", 1)
            except (ValueError, UnicodeDecodeError):
                pass
        elif body.get("client_id"):
            cid, secret = body.get("client_id"), body.get("client_secret")
        if body.get("grant_type") != "client_credentials":
            return h._deny(400, "unsupported grant_type")
        if cid is None or self.oauth_clients.get(cid) != secret:
            return h._deny(401, "invalid_client")
        # prune expired tokens at issue time — the registry tracks LIVE
        # tokens, not issuance history; prune IN PLACE under the lock (a
        # rebuild-and-rebind would race a concurrent issue and drop its
        # token, 401-ing a valid bearer for its whole lifetime)
        now = time.time()
        token = secrets.token_urlsafe(24)
        with self._issued_tokens_lock:
            for t in [t for t, exp in self._issued_tokens.items()
                      if exp <= now]:
                del self._issued_tokens[t]
            self._issued_tokens[token] = (
                now + self.oauth_token_lifetime_seconds)
        h._respond(json.dumps({
            "access_token": token,
            "token_type": "bearer",
            "expires_in": self.oauth_token_lifetime_seconds,
        }).encode(), JSON_CT)

    @staticmethod
    def _paging(params: dict):
        max_results = (int(params["maxResults"])
                       if "maxResults" in params else None)
        return max_results, params.get("pageToken")

    def list_shares(self, h, params, body) -> None:
        items, token = self.catalog.list_shares(*self._paging(params))
        out = {"items": [asdict(s) for s in items]}
        if token:
            out["nextPageToken"] = token
        h._respond(json.dumps(out).encode(), JSON_CT)

    def get_share(self, h, share, params, body) -> None:
        s = self.catalog.get_share(share)
        h._respond(json.dumps({"share": asdict(s)}).encode(), JSON_CT)

    def list_schemas(self, h, share, params, body) -> None:
        items, token = self.catalog.list_schemas(share, *self._paging(params))
        out = {"items": [asdict(s) for s in items]}
        if token:
            out["nextPageToken"] = token
        h._respond(json.dumps(out).encode(), JSON_CT)

    def list_tables(self, h, share, schema, params, body) -> None:
        items, token = self.catalog.list_tables(share, schema,
                                                *self._paging(params))
        out = {"items": [asdict(t) for t in items]}
        if token:
            out["nextPageToken"] = token
        h._respond(json.dumps(out).encode(), JSON_CT)

    def list_all_tables(self, h, share, params, body) -> None:
        items, token = self.catalog.list_all_tables(share,
                                                    *self._paging(params))
        out = {"items": [asdict(t) for t in items]}
        if token:
            out["nextPageToken"] = token
        h._respond(json.dumps(out).encode(), JSON_CT)

    def _table(self, share: str, schema: str, table: str) -> SharedTable:
        return self.catalog.load_table(f"{share}.{schema}.{table}")

    def table_version(self, h, share, schema, table, params, body) -> None:
        t = self._table(share, schema, table)
        version = t.version(params.get("startingTimestamp"))
        h._respond(b"", JSON_CT, version=version)

    @staticmethod
    def _delta_format(h) -> bool:
        caps = (h.headers.get("delta-sharing-capabilities") or "") \
            .replace(" ", "").lower()
        return "responseformat=delta" in caps

    @staticmethod
    def _response_formats(h) -> set[str]:
        """The client's responseformat capability set (PROTOCOL.md
        delta-sharing-capabilities header: ``responseformat=delta,parquet;
        readerfeatures=...``). Absent -> {"parquet"} (legacy clients)."""
        caps = (h.headers.get("delta-sharing-capabilities") or "") \
            .replace(" ", "").lower()
        for part in caps.split(";"):
            if part.startswith("responseformat="):
                vals = {v for v in part.split("=", 1)[1].split(",") if v}
                if vals:
                    return vals
        return {"parquet"}

    @staticmethod
    def _reader_features(h) -> "set[str] | None":
        """The client's declared reader features (PROTOCOL capabilities:
        ``readerfeatures=deletionVectors,columnMapping,...``; parsed
        case-insensitively like the reference's
        DeltaSharingService.scala:787,915). Returns None when the client
        did not declare a list — an explicit declaration is authoritative
        (tables using an undeclared feature are rejected, SnapshotChecker
        parity); absence keeps the documented legacy behavior."""
        caps = (h.headers.get("delta-sharing-capabilities") or "") \
            .replace(" ", "").lower()
        for part in caps.split(";"):
            if part.startswith("readerfeatures="):
                return {v for v in part.split("=", 1)[1].split(",") if v}
        return None

    def _effective_reader_features(self, h) -> "set[str] | None":
        """_reader_features with the server's strictness applied: under
        ``strict_reader_features`` an absent declaration means NO
        features (assertTableProperties semantics — the reference rejects
        DV/column-mapped tables for undeclared clients); default keeps
        None = legacy-served."""
        rf = self._reader_features(h)
        if rf is None and self.strict_reader_features:
            return set()
        return rf

    @staticmethod
    def _include_end_stream_action(h) -> bool:
        """delta-sharing-capabilities: includeendstreamaction=true — the
        client asks for an endStreamAction trailer on every response, so a
        truncated stream is detectable even without pagination (ref
        getRequestEndStreamAction, DeltaSharingService.scala:922-925)."""
        caps = (h.headers.get("delta-sharing-capabilities") or "") \
            .replace(" ", "").lower()
        return "includeendstreamaction=true" in caps

    @staticmethod
    def _merge_esa_header(extra: dict, requested: bool) -> dict:
        """Echo includeendstreamaction=true in the response capabilities
        (the reference client's truncation check switches on the RESPONDED
        header — checkEndStreamAction, DeltaSharingClient.scala:1661-1698)."""
        if not requested:
            return extra
        cur = extra.get("delta-sharing-capabilities")
        extra = dict(extra)
        extra["delta-sharing-capabilities"] = (
            f"{cur};includeendstreamaction=true" if cur
            else "includeendstreamaction=true")
        return extra

    @staticmethod
    def _ndjson_payload(lines, delta: bool) -> tuple[bytes, dict]:
        if delta:
            from delta_sharing_spark.deltaformat import actions_to_delta_format

            lines = actions_to_delta_format(lines)
            headers = {"delta-sharing-capabilities": "responseformat=delta"}
        else:
            headers = {}
        return ("".join(json.dumps(line) + "\n" for line in lines).encode(),
                headers)

    def table_metadata(self, h, share, schema, table, params, body) -> None:
        t = self._table(share, schema, table)
        out = t.query_actions(
            version=int(params["version"]) if "version" in params else None,
            timestamp=params.get("timestamp"),
            response_formats=sorted(self._response_formats(h)),
            metadata_only=True,
        )
        lines = [line for line in out["actions"]
                 if "protocol" in line or "metaData" in line]
        payload, extra = self._ndjson_payload(
            lines, out.get("respondedFormat") == "delta")
        h._respond(payload, NDJSON, version=out["version"],
                   extra_headers=extra)

    def table_query(self, h, share, schema, table, params, body) -> None:
        t = self._table(share, schema, table)
        # request validation with reference error-text parity
        # (DeltaSharingService.scala:463-498)
        n_version_params = sum(
            body.get(k) is not None
            for k in ("version", "timestamp", "startingVersion"))
        if n_version_params > 1:
            return h._deny(400, "Please only provide one of: "
                                "version,timestamp,startingVersion")
        if body.get("version") is not None and body["version"] < 0:
            return h._deny(400, "table version cannot be negative.")
        if body.get("startingVersion") is not None \
                and body["startingVersion"] < 0:
            return h._deny(400, "startingVersion cannot be negative.")
        if body.get("maxFiles") is not None and body["maxFiles"] <= 0:
            return h._deny(400, "maxFiles must be positive.")
        if n_version_params > 0 and body.get("includeRefreshToken"):
            return h._deny(400, "includeRefreshToken cannot be used when "
                                "querying a specific version.")
        if body.get("pageToken") is not None \
                and body.get("includeRefreshToken"):
            return h._deny(400, "includeRefreshToken must be used in the "
                                "first page request.")
        if n_version_params > 0 and body.get("refreshToken") is not None:
            return h._deny(400, "refreshToken cannot be used when querying "
                                "a specific version.")
        if body.get("pageToken") is not None \
                and body.get("refreshToken") is not None:
            return h._deny(400, "refreshToken must be used in the first "
                                "page request.")
        kwargs = dict(
            version=body.get("version"),
            timestamp=body.get("timestamp"),
            json_predicate_hints=body.get("jsonPredicateHints"),
            predicate_hints=body.get("predicateHints"),
            limit_hint=body.get("limitHint"),
            max_files=body.get("maxFiles"),
            page_token=body.get("pageToken"),
            include_refresh_token=bool(body.get("includeRefreshToken")),
            refresh_token=body.get("refreshToken"),
            response_formats=sorted(self._response_formats(h)),
            starting_version=body.get("startingVersion"),
            ending_version=body.get("endingVersion"),
            include_historical_protocol=bool(
                body.get("includeHistoricalProtocol")),
            include_end_stream_action=self._include_end_stream_action(h),
            reader_features=self._effective_reader_features(h),
        )
        caps = (h.headers.get("delta-sharing-capabilities") or "") \
            .replace(" ", "").lower()
        if "asyncquery=true" in caps:
            # async submission (PROTOCOL.md:2313-2350): respond immediately
            # with a queryStatus line; client polls Get Query Info. The
            # key is mandatory (DeltaSharingService.scala:500-504) — it is
            # what makes a lost-response resubmission safe.
            if body.get("idempotencyKey") is None:
                return h._deny(
                    400, "idempotency_key is required for async query.")
            q = self.async_queries.submit(
                t, idempotency_key=body.get("idempotencyKey"), **kwargs)
            line = json.dumps(
                {"queryStatus": {"queryId": q.query_id}}) + "\n"
            return h._respond(
                line.encode(), NDJSON,
                extra_headers={
                    "delta-sharing-capabilities": "asyncquery=true"})
        out = t.query_actions(**kwargs)
        payload, extra = self._ndjson_payload(
            out["actions"], out.get("respondedFormat") == "delta")
        extra = self._merge_esa_header(
            extra, self._include_end_stream_action(h))
        h._respond(payload, NDJSON, version=out["version"],
                   extra_headers=extra)

    def get_query_info(self, h, share, schema, table, query_id, params,
                       body) -> None:
        """Poll an async query (PROTOCOL.md:2692-2812): pending/failed →
        one queryStatus line; succeeded → exactly the synchronous Query
        Table response, re-paged by the poll's maxFiles/pageToken against
        the version pinned at completion."""
        try:
            q = self.async_queries.poll(query_id)
        except KeyError as exc:
            return h._deny(400, str(exc))
        if q.status == "PENDING":
            line = json.dumps({"queryStatus": {
                "queryId": q.query_id, "status": "pending"}}) + "\n"
            return h._respond(line.encode(), NDJSON)
        if q.status == "FAILED":
            line = json.dumps({"queryStatus": {
                "queryId": q.query_id, "status": "failed",
                "errorMessage": q.error}}) + "\n"
            return h._respond(line.encode(), NDJSON)
        out = q.result
        if body.get("maxFiles") is not None or body.get("pageToken"):
            kwargs = dict(q.kwargs)
            if kwargs.get("starting_version") is None:
                # pin the completed snapshot; range queries instead pin
                # their end via the page token
                kwargs["version"] = out["version"]
                kwargs["timestamp"] = None
            kwargs["max_files"] = body.get("maxFiles")
            kwargs["page_token"] = body.get("pageToken")
            out = q.table.query_actions(**kwargs)
        payload, extra = self._ndjson_payload(
            out["actions"], out.get("respondedFormat") == "delta")
        h._respond(payload, NDJSON, version=out["version"],
                   extra_headers=extra)

    def table_changes(self, h, share, schema, table, params, body) -> None:
        from delta_sharing_spark.cdf import _resolve_range

        t = self._table(share, schema, table)
        # resolve the CDF range FIRST so the feature gates below run
        # against the snapshots this request actually serves — a
        # historical pre-enablement range stays servable to clients that
        # never declared a feature enabled only after it (consistent with
        # the query route, which gates the resolved/range-endpoint
        # snapshots). Resolution errors surface through the dispatcher's
        # CDFError->400 mapping, same as the serving call would.
        c_start, c_end = _resolve_range(
            t.log,
            (int(params["startingVersion"])
             if "startingVersion" in params else None),
            (int(params["endingVersion"])
             if "endingVersion" in params else None),
            params.get("startingTimestamp"),
            params.get("endingTimestamp"),
        )
        # same reader-feature gate as the query route: a column-mapped
        # table's change files carry physical names an external
        # parquet-profile client cannot decode (kernel gating,
        # DeltaSharedTableKernel.scala:567-585). Column mapping is never
        # disabled, so the range-END snapshot bounds the range.
        formats = self._response_formats(h)
        end_snap = t.log.snapshot(version=c_end)
        cm = end_snap.column_mapping
        if cm and "delta" not in formats:
            return h._deny(
                400,
                "table requires reader feature 'columnMapping' "
                "(delta.columnMapping.mode=name), which the parquet "
                "response format cannot represent; request the changes "
                "with delta-sharing-capabilities: responseformat=delta")
        rf = self._effective_reader_features(h)
        if rf is not None:
            # declared feature lists are authoritative on the changes RPC
            # too (SnapshotChecker parity — see table_query); assert BOTH
            # range endpoints, like the version-range query form: features
            # only turn on going forward, so the endpoints bound the range
            t._assert_reader_features(rf, t.log.snapshot(version=c_start))
            t._assert_reader_features(rf, end_snap)
        if params.get("maxFiles") is not None \
                and int(params["maxFiles"]) <= 0:
            return h._deny(400, "maxFiles must be positive.")
        out = table_changes_actions(
            t.spark, t.log,
            starting_version=(int(params["startingVersion"])
                              if "startingVersion" in params else None),
            ending_version=(int(params["endingVersion"])
                            if "endingVersion" in params else None),
            starting_timestamp=params.get("startingTimestamp"),
            ending_timestamp=params.get("endingTimestamp"),
            include_historical_metadata=(
                params.get("includeHistoricalMetadata", "false") == "true"),
            # historical protocol actions only have a delta-format
            # representation (ref DeltaSharedTable.scala:748-751)
            include_historical_protocol=(
                params.get("includeHistoricalProtocol", "false") == "true"
                and "delta" in formats
                and (bool(cm) or "parquet" not in formats)),
            max_files=(int(params["maxFiles"])
                       if params.get("maxFiles") is not None else None),
            page_token=params.get("pageToken"),
        )
        lines = out["actions"]
        esa = self._include_end_stream_action(h)
        if esa or out.get("nextPageToken") \
                or params.get("maxFiles") is not None:
            # a paged walk's FINAL page also carries an (empty-token)
            # trailer — without it a client cannot distinguish "last
            # page" from a truncated response (range-form rule)
            trailer: dict = {}
            if out.get("nextPageToken"):
                trailer["nextPageToken"] = out["nextPageToken"]
            lines = lines + [{"endStreamAction": trailer}]
        delta = "delta" in formats and (cm or "parquet" not in formats)
        payload, extra = self._ndjson_payload(lines, delta)
        extra = self._merge_esa_header(extra, esa)
        h._respond(payload, NDJSON, version=out["version"],
                   extra_headers=extra)
