"""``publish_follow``: commits beside a streaming follower.

A provider thread commits to a CDF-enabled table with deletion vectors on
an open-loop schedule of ``RATE`` commits per second: most commits are
small ``TableLog.append``s, every fifth a DV ``delete`` or a ``merge``
(alternating, counted within the window, so ten commits hold eight
appends, one delete and one merge), with checkpoints at the default
interval. At the same time a remote
``spark.readStream.format("deltashare")`` follower reads the change feed
over an HTTP profile into a ``foreachBatch`` sink, which stamps when each
commit version's rows arrive. The table's first version is built once per
checkout into ``.perfbench_cache``; each set-up copies it into a run-owned
directory. Before the stream starts, the provider commits one untimed
append, which warms the write path.

``Follow`` is the whole arrangement; the traced ``serve_protocol`` run uses
it for a follow phase of ``PHASE_S`` seconds, which is where the listed
benchmark measures the writer and stream layers.

An operation is one commit. Its latency is its freshness: from the
commit's due time until its rows are in the sink, so a stalled writer or a
lagging follower is charged to every commit that waited. Commit latency
(due time to acknowledgement) and the generator's lateness are reported in
the detail line. The rows delivered must equal the rows committed, per
change type, by count and by key sum.

The sink is idempotent per (version, change type, key): the remote
change-feed source can deliver a row again, in the same micro-batch or at
the start of the next one when new commits land in between. Repeats are
dropped and counted as ``duplicate_rows`` in the detail line.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

SHARE, SCHEMA, TABLE = "live", "feeds", "events"
# commits per second. Beside the follower on 4 cores an append takes about
# 1.4 s, so appends keep up; a delete (about 4 s) or a merge (10-17 s)
# holds up the commits due after it, and their wait is charged to them
RATE = 0.5
ROWS_PER_APPEND = 20
INITIAL_ROWS = 1000
TRIGGER = "1 second"
DRAIN_TIMEOUT_S = 60.0
# few commits per window: the tail is reported as the median
TAIL_PCT = 50.0
# ten commits: one delete, one merge and (at the default interval of ten)
# one checkpoint
PHASE_S = 20.0


def build_template(spark, root: str) -> None:
    from delta_sharing_spark.plans.log import TableLog

    TableLog(spark, os.path.join(root, "table")).create(
        spark.createDataFrame(
            _rows(0, INITIAL_ROWS - ROWS_PER_APPEND, random.Random(0)),
            _SCHEMA),
        name=TABLE,
        configuration={"enableChangeDataFeed": "true",
                       "enableDeletionVectors": "true"})


def ensure_cache(run_dir: str) -> str:
    from perfbench import harness

    return harness.ensure_cache("follow", run_dir, build_template)


def copy_table(template: str, root: str) -> str:
    """Copy the cached table into this set-up's directory."""
    path = os.path.join(root, "table")
    shutil.copytree(os.path.join(template, "table"), path)
    return path


_SCHEMA = "event_id long, user_id long, event_type string, value double"
_TYPES = ["click", "view", "signup", "error", "purchase"]


def _rows(lo: int, hi: int, rng: random.Random) -> list[tuple]:
    return [(k, rng.randrange(150), _TYPES[rng.randrange(5)],
             round(rng.uniform(0, 100), 2)) for k in range(lo, hi)]


@dataclass
class Expected:
    """Per change type: (row count, key sum) the provider committed."""
    counts: dict

    def add(self, change_type: str, keys: list[int]) -> None:
        n, s = self.counts.get(change_type, (0, 0))
        self.counts[change_type] = (n + len(keys), s + sum(keys))


class Provider:
    """Commits operation ``i`` of the seeded schedule; tracks expectations."""

    def __init__(self, spark, path: str, seed: int):
        from delta_sharing_spark.plans.log import TableLog

        self.spark = spark
        self.log = TableLog(spark, path)
        self.rng = random.Random(seed)
        self.next_key = INITIAL_ROWS
        self.live = list(range(INITIAL_ROWS))
        self.first_version = self.log.latest_version() + 1
        self.expected = Expected({})
        self.user_bytes = 0
        self.versions: dict[int, int] = {}   # op index -> committed version

    def _df(self, rows):
        self.user_bytes += sum(8 + 8 + len(r[2]) + 8 for r in rows)
        return self.spark.createDataFrame(rows, _SCHEMA)

    def commit(self, i: int, local: int) -> str:
        """Commit operation ``i``; ``local`` is its index in the window."""
        rng = self.rng
        if local % 10 == 4:
            keys = sorted(rng.sample(self.live, 5))
            v = self.log.delete(f"event_id IN ({','.join(map(str, keys))})")
            for k in keys:
                self.live.remove(k)
            self.expected.add("delete", keys)
            kind = "delete"
        elif local % 10 == 9:
            old = sorted(rng.sample(self.live, 5))
            new = list(range(self.next_key, self.next_key + 5))
            self.next_key += 5
            rows = [(k, rng.randrange(150), "merged", 1.0) for k in old + new]
            v = self.log.merge(self._df(rows), keys=["event_id"])
            self.live += new
            self.expected.add("update_preimage", old)
            self.expected.add("update_postimage", old)
            self.expected.add("insert", new)
            kind = "merge"
        else:
            lo = self.next_key
            self.next_key += ROWS_PER_APPEND
            v = self.log.append(self._df(_rows(lo, self.next_key, rng)))
            self.live += list(range(lo, self.next_key))
            self.expected.add("insert", list(range(lo, self.next_key)))
            kind = "append"
        self.versions[i] = v
        return kind


class Sink:
    """``foreachBatch`` target: per-version arrival stamps and per change
    type counts and key sums of everything delivered."""

    def __init__(self, provider: Provider):
        self.provider = provider
        self.arrival: dict[int, float] = {}
        self.got: dict = defaultdict(lambda: (0, 0))
        self.seen: set[tuple] = set()
        self.duplicate_rows = 0
        self.backlog: list[int] = []
        self.lock = threading.Lock()

    def __call__(self, batch_df, batch_id) -> None:
        rows = batch_df.select("_commit_version", "_change_type",
                               "event_id").collect()
        now = time.perf_counter()
        with self.lock:
            for v, change, key in rows:
                if (v, change, key) in self.seen:
                    self.duplicate_rows += 1
                    continue
                self.seen.add((v, change, key))
                self.arrival.setdefault(v, now)
                n, s = self.got[change]
                self.got[change] = (n + 1, s + key)
            if rows:
                # a copy: the provider thread adds versions meanwhile
                latest = max(list(self.provider.versions.values()),
                             default=0)
                self.backlog.append(latest - max(r[0] for r in rows))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


@dataclass
class Window:
    """One measured stretch of commits and what the follower did."""
    ledger: object          # stats.Ledger of commits, latency = freshness
    elapsed: float
    cpu_s: float
    peak_rss_mb: float
    totals: dict | None     # Spark totals (traced windows only)
    progress: list
    backlog: list
    write_amp: float
    commit_ms: list
    late_p50_ms: float
    late_max_ms: float


class Follow:
    """A provider committing to one table while a remote change-feed
    stream follows it, through a server of its own, into a ``Sink``."""

    def __init__(self, spark, path: str, run_dir: str, seed: int):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.server import SharingServer
        from delta_sharing_spark.sources.datasource import \
            SharedTableDataSource

        self.spark, self.path, self.query = spark, path, None
        TableLog(spark, path).append(spark.createDataFrame(
            _rows(INITIAL_ROWS - ROWS_PER_APPEND, INITIAL_ROWS,
                  random.Random(1)), _SCHEMA))
        cat = ShareCatalog(spark)
        cat.add_table(SHARE, SCHEMA, TABLE, path, cdf_enabled=True)
        self.srv = SharingServer(cat)
        url = self.srv.serve_background()
        profile = os.path.join(run_dir, "profile.json")
        with open(profile, "w") as f:
            json.dump({"shareCredentialsVersion": 1, "endpoint": url}, f)
        self.provider = Provider(spark, path, seed)
        self.sink = Sink(self.provider)
        self.commits = 0
        spark.dataSource.register(SharedTableDataSource)
        try:
            self.query = (
                spark.readStream.format("deltashare")
                .option("path", f"{profile}#{SHARE}.{SCHEMA}.{TABLE}")
                .option("readChangeFeed", "true")
                .option("startingVersion", str(self.provider.first_version))
                .load()
                .writeStream.foreachBatch(self.sink)
                .option("checkpointLocation",
                        os.path.join(run_dir, "stream-ckpt"))
                .trigger(processingTime=TRIGGER)
                .start())
            while self.query.lastProgress is None:   # first trigger done
                time.sleep(0.05)
        except BaseException:
            self.close()
            raise

    def window(self, seconds: float, tracer=None) -> Window:
        """Commit on the open-loop schedule for ``seconds``, then wait until
        every committed version has reached the sink."""
        from perfbench import proc, sparkstats
        from perfbench.stats import Ledger, OpRecord, run_open_loop

        provider, sink, query = self.provider, self.sink, self.query
        offset = self.commits
        mark = sparkstats.mark(self.spark) if tracer else None
        first_batch = query.lastProgress["batchId"]
        backlog0 = len(sink.backlog)
        bytes0, user0 = _dir_bytes(self.path), provider.user_bytes
        rss = proc.RssSampler()
        cpu0 = proc.tree_cpu_s()

        def op(i: int):
            kind = provider.commit(offset + i, i)
            return kind, True, time.perf_counter()

        commits = Ledger()
        gen = run_open_loop(RATE, seconds, op, commits)
        self.commits += len(commits.records)
        want = {provider.versions[k]
                for k in range(offset, self.commits)
                if k in provider.versions}
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline:
            with sink.lock:
                if want <= set(sink.arrival):
                    break
            time.sleep(0.02)
        elapsed = time.perf_counter() - commits.records[0].due
        cpu = proc.tree_cpu_s() - cpu0
        peak = rss.stop()
        ledger = Ledger()
        for i, rec in enumerate(commits.records):
            v = provider.versions.get(offset + i)
            arrived = sink.arrival.get(v)
            ledger.add(OpRecord(rec.kind, rec.start,
                                arrived if arrived else rec.end,
                                rec.ok and arrived is not None, due=rec.due,
                                key=str(v)))
        with sink.lock:
            backlog = sink.backlog[backlog0:]
        return Window(
            ledger=ledger, elapsed=elapsed, cpu_s=cpu, peak_rss_mb=peak,
            totals=(sparkstats.totals_since(self.spark, mark) if tracer
                    else None),
            progress=[p for p in query.recentProgress
                      if p["batchId"] > first_batch],
            backlog=backlog,
            write_amp=(_dir_bytes(self.path) - bytes0)
            / max(1, provider.user_bytes - user0),
            commit_ms=[1000.0 * (r.end - r.due) for r in commits.records],
            late_p50_ms=1000.0 * gen.late_p50_s,
            late_max_ms=1000.0 * gen.max_late_s)

    def delivered(self) -> tuple[bool, dict]:
        """Whether the rows delivered equal the rows committed, per change
        type, by count and key sum; and what was delivered."""
        with self.sink.lock:
            got = dict(self.sink.got)
        return got == self.provider.expected.counts, got

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.srv.shutdown()


def phase_metrics(win: Window, tracer) -> dict[str, float]:
    """The writer and stream per-layer metrics of one traced window."""
    from perfbench.stats import percentile

    prog = win.progress
    batches = len(prog)

    def dur(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in prog]
        return sum(vals) / len(vals) if vals else 0.0

    rpcs = sum(1 for s in tracer.spans if s.name.startswith("server."))
    fresh_ms = [1000.0 * r.latency for r in win.ledger.records if r.ok]
    return {
        "log.append_ms": tracer.mean_ms("log.append"),
        "log.delete_ms": tracer.mean_ms("log.delete"),
        "log.merge_ms": tracer.mean_ms("log.merge"),
        "log.checkpoint_ms": tracer.mean_ms("log.write_checkpoint"),
        "log.write_amp": win.write_amp,
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.batches": float(batches),
        "stream.empty_batch_ratio": (
            sum(1 for p in prog if p["numInputRows"] == 0) / batches
            if batches else 0.0),
        "stream.rpcs_per_batch": rpcs / batches if batches else 0.0,
        "stream.backlog_versions": (sum(win.backlog) / len(win.backlog)
                                    if win.backlog else 0.0),
        "follow.commit_p50_ms": percentile(win.commit_ms, 50.0),
        "follow.freshness_p50_ms": (percentile(fresh_ms, 50.0)
                                    if fresh_ms else 0.0),
    }


def traced_phase(spark, template: str, run_dir: str, seed: int):
    """The follow phase of a traced ``serve_protocol`` run: ``PHASE_S``
    seconds of commits to a fresh copy of the cached table, followed by a
    stream, under a tracer of its own. Returns the window, the tracer and
    whether the rows delivered equal the rows committed."""
    from perfbench.trace import Tracer, install_probes, probe_server

    root = os.path.join(run_dir, "follow")
    os.makedirs(root)
    fol = Follow(spark, copy_table(template, root), root, seed)
    tracer = Tracer()
    try:
        install_probes(tracer)
        probe_server(tracer, fol.srv)
        try:
            win = fol.window(PHASE_S, tracer)
        finally:
            tracer.restore()
    finally:
        fol.close()
    return win, tracer, fol.delivered()[0]


def run(seed: int, seconds: float, trace: bool, run_dir: str):
    from perfbench import harness, metrics
    from perfbench.stats import percentile
    from perfbench.trace import Tracer, install_probes, probe_server

    template = ensure_cache(run_dir)
    setups = harness.timed_setups(
        run_dir, lambda spark, root: copy_table(template, root))
    spark = setups.spark
    fol = Follow(spark, setups.state, run_dir, seed)
    try:
        untraced = fol.window(seconds)
        traced = tracer = None
        if trace:
            tracer = Tracer()
            install_probes(tracer)
            probe_server(tracer, fol.srv)
            try:
                traced = fol.window(seconds, tracer)
            finally:
                tracer.restore()
    finally:
        fol.close()
    rows_ok, got = fol.delivered()
    harness.stop_spark(spark)
    m = metrics.e2e(untraced.ledger, untraced.elapsed, untraced.cpu_s,
                    setups.median_s, untraced.peak_rss_mb, TAIL_PCT)
    fresh_ms = [1000.0 * r.latency for r in untraced.ledger.records if r.ok]
    detail = {
        "workload": "publish_follow", "rate_per_s": RATE,
        "setup_samples_s": setups.samples,
        "commits": untraced.ledger.attempted,
        "tail_pct": m["_tail_pct"], "tail_supported": m["_tail_supported"],
        "commit_p50_ms": percentile(untraced.commit_ms, 50.0),
        "commit_max_ms": max(untraced.commit_ms),
        "freshness_p50_ms": percentile(fresh_ms, 50.0) if fresh_ms else None,
        "generator_late_p50_ms": untraced.late_p50_ms,
        "generator_late_max_ms": untraced.late_max_ms,
        "expected": fol.provider.expected.counts, "delivered": got,
        "duplicate_rows": fol.sink.duplicate_rows,
    }
    ledgers = [untraced.ledger] + ([traced.ledger] if traced else [])
    attempted = sum(lg.attempted for lg in ledgers)
    failed = sum(lg.failed for lg in ledgers)
    if trace:
        tm = metrics.e2e(traced.ledger, traced.elapsed, traced.cpu_s,
                         setups.median_s, traced.peak_rss_mb, TAIL_PCT)
        extra = dict(metrics.overhead(tm, m))
        extra.update(phase_metrics(traced, tracer))
        out = metrics.layer_metrics(tracer, traced.ledger.attempted,
                                    traced.totals, extra)
        tracer.dump(run_dir + "-spans.jsonl")
    else:
        out = m
    return harness.Result(rows_ok and failed == 0, attempted, failed, out,
                          detail)
