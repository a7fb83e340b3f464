"""Spans and counters recorded around the package's layer boundaries.

The benchmark installs the probes itself, by wrapping public functions and
methods of the package modules for the duration of a traced window; the
program's code is unchanged and an untraced run calls the originals.

A span is ``(name, start, end, parent, op)``. The parent is the enclosing
span on the same thread, so a layer's self time is its duration minus the
time its child spans cover. Spans stay in memory and are written out when
the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        """Tag the spans this thread records next with operation ``op``."""
        self._local.op = op

    def count(self, name: str, n: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += n

    def span(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        start = time.perf_counter()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, start, start, parent,
                                   getattr(self._local, "op", None)))
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            end = time.perf_counter()
            with self._lock:
                sp = self.spans[idx]
                sp.end = end
                if parent is not None:
                    self.spans[parent].child_s += end - start

    # ------------------------------------------------------------- patching

    def wrap(self, owner: object, attr: str, name: str,
             after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``;
        ``after(result, args, kwargs)`` may add counters. Module-level
        functions are also replaced wherever a package module imported them
        by name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            result = tracer.span(name, orig, *args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for n, m in list(sys.modules.items())
                        if n.startswith("delta_sharing_spark") and m is not owner
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._patches.append((t, attr, t.__dict__[attr]))
            setattr(t, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -------------------------------------------------------------- results

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def mean_ms(self, name: str) -> float:
        durs = [s.dur for s in self.spans if s.name == name]
        return 1000.0 * sum(durs) / len(durs) if durs else 0.0

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(s.dur for s in self.spans if s.name == name)

    def self_ms_by_layer(self) -> dict[str, float]:
        """Total self time per layer (the span name up to the first dot)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name.split(".", 1)[0]] += 1000.0 * max(0.0, s.dur - s.child_s)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "op": s.op}) + "\n")


def install_probes(tracer: Tracer) -> None:
    """Wrap the public entry points of each package layer."""
    from delta_sharing_spark import catalog, cdf, rest, retry, server, table
    from delta_sharing_spark.plans import log
    from delta_sharing_spark.sources import remote

    srv = server.SharingServer
    for route in ("table_query", "table_metadata", "table_changes",
                  "table_version", "list_shares", "list_schemas",
                  "list_tables", "list_all_tables", "get_share"):
        tracer.wrap(srv, route, f"server.{route}")

    tracer.wrap(rest.DataSharingRestClient, "_request", "rest.request")
    orig_sleeper = retry.RetryConfig.sleeper

    def counting_sleeper(self, ms):
        tracer.count("rest.retries")
        return orig_sleeper(self, ms)

    tracer._patches.append((retry.RetryConfig, "sleeper", orig_sleeper))
    retry.RetryConfig.sleeper = counting_sleeper

    tracer.wrap(catalog.ShareCatalog, "load_table", "catalog.load_table")

    def after_prune(kept, args, kwargs):
        # a predicate prune: hints given and no limit cutoff. The snapshot
        # is the one the call pruned; after a driver-loop prune its file
        # count is exact, on the Spark path it is the checkpoint row count
        # plus the tail, exact for a table with no tail removes.
        names = ("snapshot", "json_predicate_hints", "predicate_hints",
                 "limit_hint")
        call = dict(zip(names, args[1:]), **kwargs)
        if call.get("limit_hint") is not None or not (
                call.get("json_predicate_hints")
                or call.get("predicate_hints")):
            return
        tracer.count("table.files_kept", len(kept))
        tracer.count("table.files_considered",
                     call["snapshot"].num_files_hint or 0)

    tracer.wrap(table.SharedTable, "query_actions", "table.query_actions")
    tracer.wrap(table.SharedTable, "pruned_files", "table.pruned_files",
                after=after_prune)
    tracer.wrap(table.SharedTable, "to_df", "table.to_df")

    orig_init = log.TableLog.__init__

    def counting_init(self, *a, **kw):
        tracer.count("log.opens")
        return orig_init(self, *a, **kw)

    tracer._patches.append((log.TableLog, "__init__", orig_init))
    log.TableLog.__init__ = counting_init

    tracer.wrap(log.TableLog, "snapshot", "log.snapshot")
    for name in ("read_commit", "files_df", "append", "delete", "merge",
                 "update", "write_checkpoint"):
        tracer.wrap(log.TableLog, name, f"log.{name}")

    tracer.wrap(cdf, "table_changes_actions", "cdf.changes_actions")
    tracer.wrap(cdf, "table_changes", "cdf.table_changes")
    for name in ("latest_version", "snapshot", "commits"):
        tracer.wrap(remote.RemoteTableLog, name, f"remote.{name}")


def probe_server(tracer: Tracer, srv) -> None:
    """Count response bytes and error responses of one running server."""
    handler = srv.httpd.RequestHandlerClass
    orig_respond, orig_deny = handler._respond, handler._deny

    def respond(self, payload, *a, **kw):
        tracer.count("server.response_bytes", len(payload))
        return orig_respond(self, payload, *a, **kw)

    def deny(self, code, message):
        tracer.count("server.errors")
        return orig_deny(self, code, message)

    tracer._patches += [(handler, "_respond", orig_respond),
                        (handler, "_deny", orig_deny)]
    handler._respond, handler._deny = respond, deny
