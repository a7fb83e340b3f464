"""``serve_protocol``: read-only recipient REST traffic.

One closed-loop client (``rest.DataSharingRestClient``) sends a seeded
request mix over HTTP loopback to an in-process ``SharingServer``. (With
two clients, a small request's latency depends on whether the other
client's large-manifest request overlaps it, which the seed decides: over
five seeds the spread of ``op_p50_ms`` was 0.20 with two clients and 0.11
with one.) The
catalog holds 12 versioned tables: 11 small ones (copies of two
templates, one with checkpoints, one with deletion vectors and CDF) whose
prune takes the driver-loop path, and one synthetic manifest above
``PRUNE_DRIVER_MAX_FILES`` whose prune takes the Spark path. Three
requests in thirteen go to the synthetic manifest; within each kind the
small tables are drawn with a Zipf skew, so a 10-entry table cache would
hold the hot set and miss the tail.

The templates are built once per checkout into ``.perfbench_cache`` by a
Spark session that is stopped before the run is measured; each set-up
copies them into its own run-owned table directories and resolves every
table's latest snapshot.

Every response is digested. After the window, each distinct request is
checked once: DuckDB reads the data files to confirm that no file holding
a row matching the request's predicate was pruned, and the limitHint,
paging, version, metadata, changes and listing contracts are checked.
Every other response to the same request must have the same digest.

A traced run also runs ``follow.traced_phase`` after its traced window:
commits to a table of its own while a remote change-feed stream follows
it, which is where the benchmark measures the ``plans.log`` writers,
checkpoints and the streaming source.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any

SHARE, SCHEMA = "bench", "tables"
SYN_FILES = 20_000
N_LI_COPIES, N_EV_COPIES = 6, 5
ZIPF_S = 1.0
# p90 falls among the synthetic-manifest queries (three requests in
# thirteen go to that table, two of them queries): it reads the large-manifest
# prune path. A 10-second window holds three or four blocks, 39-52 requests,
# so fewer than 10 lie beyond it (``tail_supported`` in the detail line)
TAIL_PCT = 90.0

# Requests come in shuffled blocks with a fixed make-up of (table kind,
# template), and each client sends whole blocks (``run_closed_loop``), so the
# share of each template, of each kind of small table and of the expensive
# synthetic-manifest requests is the same in every window (a random draw, or
# a block cut at the window's end, would move throughput by its own sampling
# noise). Within a kind, the table is drawn with a Zipf skew.
SMALL_BLOCK = [
    ("li", "query_hint"), ("li", "query_hint"), ("ev", "query_hint"),
    ("ev", "query_hint"), ("li", "query_limit"), ("ev", "query_version"),
    ("li", "query_paged"), ("ev", "query_cdf"), ("li", "metadata"),
    ("ev", "version_or_list"),
]
# Synthetic-manifest requests: two queries per metadata call, so p90 of the
# whole mix falls inside the query latencies rather than on the boundary
# between the query and metadata clusters.
SYN_BLOCK = ["query_hint", "query_hint", "metadata"]


@dataclass
class TableSpec:
    name: str
    path: str
    kind: str              # "li" | "ev" | "syn"
    latest: int
    cdf: bool
    schema_string: str = ""


@dataclass
class ServeFixture:
    tables: list[TableSpec]

    def table(self, name: str) -> TableSpec | None:
        return next((t for t in self.tables if t.name == name), None)


def _hint(op: str, col: str, vtype: str, value) -> dict:
    return {"op": op, "children": [
        {"op": "column", "name": col, "valueType": vtype},
        {"op": "literal", "value": str(value), "valueType": vtype}]}


def _and(*children) -> dict:
    return {"op": "and", "children": list(children)}


# predicate menus: (json hint, DuckDB condition) per table kind
HINTS = {
    "li": [
        (_hint("lessThan", "l_orderkey", "long", 2000), "l_orderkey < 2000"),
        (_hint("greaterThanOrEqual", "l_orderkey", "long", 9000),
         "l_orderkey >= 9000"),
        (_hint("equal", "l_returnflag", "string", "R"), "l_returnflag = 'R'"),
        (_and(_hint("equal", "l_returnflag", "string", "A"),
              _hint("lessThan", "l_orderkey", "long", 5000)),
         "l_returnflag = 'A' AND l_orderkey < 5000"),
    ],
    "ev": [
        (_hint("lessThan", "event_id", "long", 800), "event_id < 800"),
        (_hint("equal", "event_type", "string", "click"),
         "event_type = 'click'"),
        (_and(_hint("equal", "event_type", "string", "view"),
              _hint("greaterThanOrEqual", "event_id", "long", 3000)),
         "event_type = 'view' AND event_id >= 3000"),
    ],
    "syn": [
        (_hint("lessThan", "id", "long", 40_000), "id < 40000"),
        (_and(_hint("equal", "cat", "string", "c03"),
              _hint("lessThan", "id", "long", 800_000)),
         "cat = 'c03' AND id < 800000"),
        (_and(_hint("equal", "cat", "string", "c11"),
              _hint("greaterThanOrEqual", "id", "long", 19_000_000)),
         "cat = 'c11' AND id >= 19000000"),
    ],
}


# ------------------------------------------------------------------ fixture

def build_templates(spark, root: str) -> None:
    """The two small-table templates, built with the engine's writers, and
    the synthetic manifest."""
    from pyspark.sql import functions as F

    from delta_sharing_spark.io import read_table
    from delta_sharing_spark.plans.log import TableLog
    from perfbench import datagen
    from tools.scale_bench import write_synthetic_table

    src = datagen.write_tables(os.path.join(root, "src"), sf=0.002)
    li = read_table(spark, src, "lineitem").filter(F.col("l_orderkey") < 12_000)
    log = TableLog(spark, os.path.join(root, "li"))
    log.create(li.filter(F.col("l_orderkey") < 8000)
               .repartitionByRange(4, "l_orderkey"),
               partition_by=["l_returnflag"], name="li",
               configuration={"checkpointInterval": "1"})
    log.append(li.filter(F.col("l_orderkey") >= 8000))

    ev = read_table(spark, src, "events").filter(F.col("event_id") < 5000)
    log = TableLog(spark, os.path.join(root, "ev"))
    log.create(ev.repartitionByRange(4, "event_id"),
               partition_by=["event_type"], name="ev",
               configuration={"enableDeletionVectors": "true",
                              "enableChangeDataFeed": "true"})
    log.delete("value < 5")
    write_synthetic_table(os.path.join(root, "syn"), SYN_FILES)


def ensure_cache(run_dir: str) -> str:
    from perfbench import harness

    return harness.ensure_cache("serve", run_dir, build_templates)


def build_fixture(spark, templates: str, root: str) -> ServeFixture:
    """Copy the cached templates into this set-up's own table directories
    and resolve every table's latest snapshot."""
    from delta_sharing_spark.plans.log import TableLog

    tables: list[TableSpec] = []
    for kind, n, cdf in (("li", N_LI_COPIES, False), ("ev", N_EV_COPIES, True)):
        for i in range(n):
            tables.append(TableSpec(f"{kind}{i:02d}",
                                    os.path.join(root, f"{kind}{i:02d}"),
                                    kind, 1, cdf))
    tables.append(TableSpec("syn", os.path.join(root, "syn"), "syn", 0, False))
    for t in tables:
        shutil.copytree(os.path.join(templates, t.kind), t.path)
        t.schema_string = TableLog(spark, t.path).snapshot() \
            .metadata.schemaString
    return ServeFixture(tables)


# ------------------------------------------------------------------ traffic

@dataclass(frozen=True)
class Request:
    table: str
    template: str
    params: tuple = ()

    @property
    def key(self) -> str:
        return json.dumps([self.table, self.template, list(self.params)])


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (r + 1) ** ZIPF_S for r in range(n)]


class RequestStream:
    """Seeded, per-client sequence of request blocks. Each template cycles
    through its parameter choices from a seeded starting point, so every
    seed sends the same mix of costs in a different order."""

    def __init__(self, fixture: ServeFixture, seed: int):
        self.rng = random.Random(seed)
        self.by_kind = {k: [t for t in fixture.tables if t.kind == k]
                        for k in ("li", "ev", "syn")}
        self.turn: dict[str, int] = {}

    def _cycle(self, key: str, options: list):
        n = self.turn.setdefault(key, self.rng.randrange(len(options)))
        self.turn[key] = n + 1
        return options[n % len(options)]

    def next_block(self) -> list[Request]:
        rng = self.rng
        block = [(t, tpl) for t in self.by_kind["syn"] for tpl in SYN_BLOCK]
        for kind, tpl in SMALL_BLOCK:
            tables = self.by_kind[kind]
            t = rng.choices(tables, _zipf_weights(len(tables)))[0]
            if tpl == "query_cdf":
                tpl = self._cycle(tpl, ["query_range", "changes"])
            elif tpl == "version_or_list":
                tpl = self._cycle(tpl, ["version", "list"])
            block.append((t, tpl))
        rng.shuffle(block)
        return [self._request(t, tpl) for t, tpl in block]

    def _request(self, t: TableSpec, tpl: str) -> Request:
        if tpl == "query_hint":
            return Request(t.name, tpl, (self._cycle(
                f"hint-{t.kind}", list(range(len(HINTS[t.kind])))),))
        if tpl == "query_limit":
            return Request(t.name, tpl, (self._cycle(tpl, [100, 2000]),))
        if tpl == "query_version":
            return Request(t.name, tpl,
                           (self._cycle(tpl, list(range(t.latest))),))
        if tpl == "query_paged":
            return Request(t.name, tpl, (self._cycle(tpl, [3, 7]),))
        if tpl in ("query_range", "changes"):
            return Request(t.name, tpl, (self._cycle(
                f"{tpl}-start", list(range(1, t.latest + 1))),))
        if tpl == "list":
            return Request("", tpl, (self._cycle(
                tpl, ["all", "shares", "schemas"]),))
        return Request(t.name, tpl)


def _file_lines(lines: list[dict]) -> list[dict]:
    out = []
    for line in lines:
        for k in ("file", "add", "cdf", "remove"):
            if k in line:
                out.append({k: line[k]})
    return out


def _digest(obj) -> str:
    return hashlib.sha1(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def execute(client, fx: ServeFixture, req: Request) -> tuple[str, Any]:
    """Send one request (a paged walk is several); returns the digest of
    the response's stable content and the content itself."""
    t = fx.table(req.table)
    if req.template == "list":
        which = req.params[0]
        if which == "all":
            body = sorted(x["name"] for x in client.list_all_tables(SHARE))
        elif which == "shares":
            body = sorted(x["name"] for x in client.list_shares())
        else:
            body = sorted(x["name"] for x in client.list_schemas(SHARE))
        return _digest(body), body
    if req.template == "version":
        v = client.query_table_version(SHARE, SCHEMA, t.name)
        return _digest(v), v
    if req.template == "metadata":
        lines = client.query_table_metadata(SHARE, SCHEMA, t.name)
        body = [ln for ln in lines if "metaData" in ln or "protocol" in ln]
        return _digest(body), body
    if req.template == "changes":
        lines = client.list_table_changes(SHARE, SCHEMA, t.name,
                                          starting_version=req.params[0])
        body = _file_lines(lines)
        return _digest(body), body
    kwargs: dict[str, Any] = {}
    if req.template == "query_hint":
        kwargs["json_predicate_hints"] = json.dumps(
            HINTS[t.kind][req.params[0]][0])
    elif req.template == "query_limit":
        kwargs["limit_hint"] = req.params[0]
    elif req.template == "query_version":
        kwargs["version"] = req.params[0]
    elif req.template == "query_range":
        kwargs["starting_version"] = req.params[0]
    if req.template == "query_paged":
        pages, token = [], None
        while True:
            _h, lines = client.list_files_in_table(
                SHARE, SCHEMA, t.name, max_files=req.params[0],
                page_token=token)
            pages.append(_file_lines(lines))
            # the next page token rides in the endStreamAction trailer
            token = next((ln["endStreamAction"].get("nextPageToken")
                          for ln in lines if "endStreamAction" in ln), None)
            if not token:
                break
        return _digest(pages), pages
    headers, lines = client.list_files_in_table(SHARE, SCHEMA, t.name,
                                                **kwargs)
    body = {"version": headers.get("delta-table-version"),
            "files": _file_lines(lines)}
    return _digest(body), body


# ------------------------------------------------------------ verification

def _file_entries(lines: list[dict]) -> list[dict]:
    return [next(iter(ln.values())) for ln in lines]


def _rows_matching(con, table_root: str, entry: dict, cond: str) -> int:
    """Rows of one data file matching ``cond``, with the file's partition
    values supplied as constant columns."""
    path = os.path.join(table_root, entry["id"]) if "id" in entry \
        else entry["url"]
    consts = ", ".join(f"'{v}' AS {k}"
                       for k, v in entry.get("partitionValues", {}).items())
    select = f"SELECT *{', ' + consts if consts else ''} FROM " \
             f"read_parquet('{path}')"
    return con.execute(f"SELECT count(*) FROM ({select}) WHERE {cond}") \
        .fetchone()[0]


def _syn_expected(hint_idx: int) -> set[str]:
    """Files the synthetic manifest must keep for ``HINTS["syn"][hint_idx]``:
    file i holds ids [i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE) in
    partition ``c{i % 16:02d}`` (``tools/scale_bench``)."""
    from tools.scale_bench import ROWS_PER_FILE

    keep = set()
    for i in range(SYN_FILES):
        lo = i * ROWS_PER_FILE
        cat = f"c{i % 16:02d}"
        hi = lo + ROWS_PER_FILE - 1
        ok = [lo < 40_000, cat == "c03" and lo < 800_000,
              cat == "c11" and hi >= 19_000_000]
        if ok[hint_idx]:
            keep.add(f"data/cat={cat}/part-{i:08d}.parquet")
    return keep


class Verifier:
    """Checks one response per distinct request (see module docstring)."""

    def __init__(self, client, fx: ServeFixture):
        import duckdb

        self.client = client
        self.fx = fx
        self.con = duckdb.connect()
        self._full: dict[tuple[str, int | None], list[dict]] = {}

    def full_listing(self, table: str, version: int | None) -> list[dict]:
        key = (table, version)
        if key not in self._full:
            _h, lines = self.client.list_files_in_table(
                SHARE, SCHEMA, table, version=version)
            self._full[key] = _file_entries(_file_lines(lines))
        return self._full[key]

    def check(self, req: Request, body) -> bool:
        t = self.fx.table(req.table)
        tpl = req.template
        if tpl == "list":
            expected = {"all": sorted(x.name for x in self.fx.tables),
                        "shares": [SHARE], "schemas": [SCHEMA]}
            return body == expected[req.params[0]]
        if tpl == "version":
            return body == t.latest
        if tpl == "metadata":
            meta = [ln["metaData"] for ln in body if "metaData" in ln]
            return len(meta) == 1 and meta[0]["schemaString"] == \
                t.schema_string
        if tpl == "changes":
            entries = _file_entries(body)
            return bool(entries) and all(
                req.params[0] <= e["version"] <= t.latest for e in entries)
        if tpl == "query_range":
            entries = _file_entries(body["files"])
            return bool(entries) and all(e["version"] >= req.params[0]
                                         for e in entries)
        if tpl == "query_paged":
            ids = [e["id"] for page in body for e in _file_entries(page)]
            full = [e["id"] for e in self.full_listing(t.name, None)]
            return (len(ids) == len(set(ids)) and set(ids) == set(full)
                    and all(len(p) <= req.params[0] for p in body))
        version = body["version"]
        if version is None or int(version) != (
                req.params[0] if tpl == "query_version" else t.latest):
            return False
        entries = _file_entries(body["files"])
        if tpl == "query_version":
            full = self.full_listing(t.name, req.params[0])
            return {e["id"] for e in entries} == {e["id"] for e in full}
        if tpl == "query_limit":
            full = self.full_listing(t.name, None)
            rows = sum(json.loads(e["stats"])["numRecords"] for e in entries)
            return rows >= req.params[0] or len(entries) == len(full)
        # query_hint: nothing holding a matching row may be pruned
        kept = {e["id"] for e in entries}
        if t.kind == "syn":
            return kept == _syn_expected(req.params[0])
        cond = HINTS[t.kind][req.params[0]][1]
        for e in self.full_listing(t.name, None):
            if e["id"] not in kept and _rows_matching(
                    self.con, t.path, e, cond) > 0:
                return False
        return True

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------- workload

def _block_times(ledger) -> list[float]:
    """Duration of each whole block of the one client, in order."""
    n = len(SMALL_BLOCK) + len(SYN_BLOCK)
    recs = sorted(ledger.records, key=lambda r: r.start)
    return [recs[i + n - 1].end - recs[i].start
            for i in range(0, len(recs) - n + 1, n)]


def _kind_of(rec) -> str:
    """``syn:<template>`` for a large-manifest request, else the template."""
    return ("syn:" if rec.key.startswith('["syn"') else "") + rec.kind


def start_server(spark, fx: ServeFixture):
    from delta_sharing_spark.catalog import ShareCatalog
    from delta_sharing_spark.server import SharingServer

    cat = ShareCatalog(spark)
    for t in fx.tables:
        cat.add_table(SHARE, SCHEMA, t.name, t.path, cdf_enabled=t.cdf)
    srv = SharingServer(cat)
    return srv, srv.serve_background()


CLIENTS = 1   # see the module docstring
# untimed blocks first (their responses are verified too), so the window
# measures a warm server: the first block takes about 10 s, the next ones
# 3.5-4 s falling to within a tenth of the steady time by the fifth (JIT of
# the large-manifest prune path)
WARMUP_BLOCKS = 5


def run(seed: int, seconds: float, trace: bool, run_dir: str):
    import threading

    from delta_sharing_spark.rest import DataSharingRestClient
    from perfbench import follow, harness, metrics, proc, sparkstats
    from perfbench.stats import Ledger, percentile, run_closed_loop
    from perfbench.trace import Tracer, install_probes, probe_server

    templates = ensure_cache(run_dir)
    follow_template = follow.ensure_cache(run_dir)
    setups = harness.timed_setups(
        run_dir, lambda spark, root: build_fixture(spark, templates, root))
    spark, fx = setups.spark, setups.state
    srv, url = start_server(spark, fx)
    seen: dict[str, list] = {}
    lock = threading.Lock()

    def client_blocks(stream_seed: int):
        client = DataSharingRestClient(url)
        stream = RequestStream(fx, stream_seed)

        def op(req: Request):
            def fn() -> bool:
                digest, body = execute(client, fx, req)
                with lock:
                    seen.setdefault(req.key, [req, body, set()])[2].add(digest)
                return True

            return req.template, req.key, fn

        return lambda: [op(req) for req in stream.next_block()]

    def window(seconds: float, seed_base: int, tracer=None):
        ledger = Ledger()
        mark = sparkstats.mark(spark) if tracer else None
        rss = proc.RssSampler()
        cpu0 = proc.tree_cpu_s()
        elapsed = run_closed_loop(
            [client_blocks(seed_base + i) for i in range(CLIENTS)], seconds,
            ledger)
        cpu = proc.tree_cpu_s() - cpu0
        peak = rss.stop()
        totals = sparkstats.totals_since(spark, mark) if tracer else None
        return ledger, elapsed, cpu, totals, peak

    try:
        warm = Ledger()
        warm_blocks = client_blocks(seed * 1000 + 100)
        for _ in range(WARMUP_BLOCKS):
            run_closed_loop([warm_blocks], 0.0, warm)   # one whole block
        untraced = window(seconds, seed * 1000)
        traced = tracer = None
        if trace:
            tracer = Tracer()
            install_probes(tracer)
            probe_server(tracer, srv)
            try:
                traced = window(seconds, seed * 1000 + 200, tracer)
            finally:
                tracer.restore()
            # the writer and stream layers: a follow phase after the window
            phase = follow.traced_phase(spark, follow_template, run_dir,
                                        seed)
        # correctness: one check per distinct request, one digest each
        verifier = Verifier(DataSharingRestClient(url), fx)
        bad_keys = set()
        try:
            for key, (req, body, digests) in seen.items():
                if len(digests) != 1 or not verifier.check(req, body):
                    bad_keys.add(key)
        finally:
            verifier.close()
    finally:
        srv.shutdown()
    harness.stop_spark(spark)
    ledgers = [untraced[0]] + ([traced[0]] if traced else [])
    for lg in ledgers:
        for r in lg.records:
            if r.key in bad_keys:
                r.ok = False
    ledger, elapsed, cpu, _, peak = untraced
    m = metrics.e2e(ledger, elapsed, cpu, setups.median_s, peak, TAIL_PCT)
    query_ms = [1000.0 * x for x in ledger.latencies(
        ("query_hint", "query_limit", "query_version", "query_range"))]
    detail = {
        "workload": "serve_protocol", "clients": CLIENTS,
        "tables": len(fx.tables), "synthetic_files": SYN_FILES,
        "setup_samples_s": setups.samples,
        "ops": ledger.attempted, "tail_pct": m["_tail_pct"],
        "tail_supported": m["_tail_supported"],
        "query_p50_ms": percentile(query_ms, 50.0) if query_ms else None,
        # per (table kind, template): the mix is bimodal, large manifest
        # against small tables
        "p50_ms_by_kind": {
            k: 1000.0 * percentile([r.latency for r in ledger.records
                                    if _kind_of(r) == k], 50.0)
            for k in sorted({_kind_of(r) for r in ledger.records})},
        "block_s": {
            "warm-up": _block_times(warm), "window": _block_times(ledger)},
        "distinct_requests": len(seen), "bad_requests": sorted(bad_keys),
    }
    correct = not bad_keys
    if trace:
        f_win, f_tracer, f_ok = phase
        ledgers.append(f_win.ledger)
        correct = correct and f_ok
        t_ledger, t_elapsed, t_cpu, totals, t_peak = traced
        tm = metrics.e2e(t_ledger, t_elapsed, t_cpu, setups.median_s,
                         t_peak, TAIL_PCT)
        extra = metrics.overhead(tm, m)
        extra.update(follow.phase_metrics(f_win, f_tracer))
        out = metrics.layer_metrics(tracer, t_ledger.attempted, totals,
                                    extra)
        tracer.dump(run_dir + "-spans.jsonl")
        f_tracer.dump(run_dir + "-follow-spans.jsonl")
    else:
        out = m
    attempted = sum(lg.attempted for lg in ledgers)
    failed = sum(lg.failed for lg in ledgers)
    return harness.Result(correct and failed == 0, attempted, failed, out,
                          detail)
