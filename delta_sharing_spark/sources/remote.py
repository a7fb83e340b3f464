"""Remote commit-log view over the Delta Sharing REST protocol.

The reference's streaming source runs against an *http profile*: micro-batch
planning issues version-windowed QueryTable RPCs with
``startingVersion``/``endingVersion`` (client DeltaSharingClient.scala:548-569
``getFiles(startingVersion, endingVersion)``; windowing
DeltaSharingSource.scala:277-322 with ``maxVersionsPerRpc``,
DeltaSharingOptions.scala:199) and CDF streaming uses the changes RPC.

:class:`RemoteTableLog` presents those RPCs under the same duck-typed surface
``SharedTableStreamReader`` already drives against the local ``TableLog``
(latest_version / commits / snapshot / abs_path / dv_scan_keys), so the one
micro-batch planner — offsets, admission control, change-commit validation,
schema gates — works identically in-process and over the wire. Planning cost
per poll is O(new versions): fetched commits are cached by version and only
the tail past the high-water mark is re-requested.

Scale note: only the *file manifest* crosses the wire at plan time; data
files are opened directly by executors (the wire carries their URLs), so the
driver never touches row data — the same separation the reference keeps
between DeltaSharingClient (manifests) and the executor-side parquet reads.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from delta_sharing_spark.deltaformat import unwrap_delta_lines


@dataclass
class _WireFile:
    """A file action reconstructed from the wire (add/remove/cdc line).

    ``path`` is the absolute URL the server vended (executors open it
    directly); ``id`` is the server-side file id (the add's recorded
    relative path) — both are candidate keys into a shared deletion-vector
    parquet."""

    path: str
    id: str
    partitionValues: dict[str, str] = field(default_factory=dict)
    size: int = 0
    stats: str | None = None
    dataChange: bool = True
    deletionVector: dict | None = None
    # Delta "Row Tracking" AddFile fields (verbatim over the wire); the
    # snapshot/range reconstructions derive _row_id = baseRowId + row
    # index from them
    baseRowId: int | None = None
    defaultRowCommitVersion: int | None = None

    def stats_dict(self) -> dict:
        if not self.stats:
            return {}
        try:
            return json.loads(self.stats)
        except (TypeError, ValueError):
            return {}


@dataclass
class _WireMetadata:
    """The subset of metaData the streaming gates consume."""

    schemaString: str
    partitionColumns: list[str] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)


@dataclass
class _WireCommit:
    version: int
    timestamp: int
    metadata: _WireMetadata | None
    adds: list[_WireFile]
    removes: list[_WireFile]
    cdc: list[_WireFile]
    info: None = None  # commitInfo never crosses the wire
    protocol: dict | None = None


@dataclass
class _WireSnapshot:
    version: int
    timestamp: int | None
    metadata: _WireMetadata
    files: list[_WireFile]

    # --- Snapshot-compatible derived views (plans/log.py:352-398) ---

    @property
    def schema(self):
        from pyspark.sql import types as T

        return T.StructType.fromJson(json.loads(self.metadata.schemaString))

    @property
    def column_mapping(self) -> bool:
        from delta_sharing_spark.plans.log import column_mapping_on

        return column_mapping_on(self.metadata.configuration)

    @property
    def logical_to_physical(self) -> dict[str, str] | None:
        if not self.column_mapping:
            return None
        return {
            f.name: (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name)
            for f in self.schema.fields
        }

    @property
    def physical_partition_columns(self) -> list[str]:
        m = self.logical_to_physical
        pcols = list(self.metadata.partitionColumns)
        if m is None:
            return pcols
        return [m.get(c, c) for c in pcols]


def _parse_file(action: dict) -> _WireFile:
    return _WireFile(
        path=action["url"],
        id=action.get("id", action["url"]),
        partitionValues=action.get("partitionValues") or {},
        size=action.get("size") or 0,
        stats=action.get("stats"),
        deletionVector=action.get("deletionVector"),
        baseRowId=action.get("baseRowId"),
        defaultRowCommitVersion=action.get("defaultRowCommitVersion"),
    )


def _parse_metadata(m: dict) -> _WireMetadata:
    return _WireMetadata(
        schemaString=m["schemaString"],
        partitionColumns=m.get("partitionColumns") or [],
        configuration=m.get("configuration") or {},
    )


class RemoteTableLog:
    """TableLog-compatible planner over the sharing RPCs.

    ``max_versions_per_rpc`` bounds each range request like the reference
    client (DeltaSharingOptions.scala:199 ``maxVersionsPerRpc``, default
    100): a month-long backlog is fetched in bounded windows instead of one
    unbounded RPC the server may refuse or time out on."""

    def __init__(self, profile_path: str, share: str, schema: str,
                 table: str, max_versions_per_rpc: int = 100,
                 read_change_feed: bool = False,
                 max_files_per_rpc: "int | None" = None):
        from delta_sharing_spark.client import (
            DeltaSharingProfile,
            _rest_client,
        )

        self.profile_path = profile_path
        self.share, self.schema, self.table = share, schema, table
        profile = DeltaSharingProfile.read_from_file(profile_path)
        profile.check_not_expired()
        self._client = _rest_client(profile)
        self.max_versions_per_rpc = max(1, int(max_versions_per_rpc))
        self.read_change_feed = read_change_feed
        # optional per-RPC file page size: when set, window fetches
        # request maxFiles and FOLLOW nextPageToken until the window
        # drains — one huge commit can never exceed a server page cap
        # mid-stream. Token-following also engages unconditionally when a
        # server pages of its own accord.
        self.max_files_per_rpc = (max(1, int(max_files_per_rpc))
                                  if max_files_per_rpc else None)
        # fetched-version bookkeeping: presence in _commits IS the fetched
        # marker (empty commits get placeholder entries), so non-contiguous
        # access patterns (commits(100,150) then commits(0,50)) never leave
        # a silently-unfetched hole a later call would serve empty from
        self._commits: dict[int, _WireCommit] = {}
        self._latest_cache: int | None = None
        self.path = f"{profile_path}#{share}.{schema}.{table}"

    # ----------------------------------------------------- TableLog surface

    def latest_version(self) -> int:
        self._latest_cache = self._client.query_table_version(
            self.share, self.schema, self.table)
        return self._latest_cache

    def earliest_version_at_or_after(self, ts: str) -> int:
        return self._client.query_table_version(
            self.share, self.schema, self.table, starting_timestamp=ts)

    def _list_versions(self) -> list[int]:
        # the expiry guard is server-side for remote tables (a truncated
        # start version fails the range RPC with the server's error)
        return []

    def abs_path(self, p: str) -> str:
        return p  # wire URLs are already absolute

    @staticmethod
    def dv_scan_keys(add: _WireFile) -> tuple[str, str, list[str]]:
        """Mirror of TableLog.dv_scan_keys for wire files: the descriptor's
        path is already absolute; candidate ``path`` keys in the DV parquet
        are the file's recorded id (own files) and its absolute url
        (clone-referenced files). Pure path/key derivation — static, so
        callers that only need DV keys (the batch CDF reader) can use the
        CLASS instead of constructing a second client-bearing instance."""
        d = add.deletionVector["pathOrInlineDv"]
        marker = os.sep + "_dv" + os.sep
        root = d.rsplit(marker, 1)[0] if marker in d else os.path.dirname(d)
        return d, root, sorted({add.id, add.path})

    def snapshot(self, version: int | None = None,
                 timestamp: str | int | None = None) -> _WireSnapshot:
        headers, lines = self._client.list_files_in_table(
            self.share, self.schema, self.table, version=version,
            timestamp=timestamp, response_formats="delta,parquet")
        lines = unwrap_delta_lines(lines)
        meta, files = None, []
        for line in lines:
            if "metaData" in line:
                meta = _parse_metadata(line["metaData"])
            elif "file" in line:
                files.append(_parse_file(line["file"]))
            elif "add" in line:
                # delta-forced responses (column-mapped tables): the
                # unwrap normalizes deltaSingleAction adds to 'add'-keyed
                # lines (the range/changes profile shape) — a snapshot
                # response's adds are the snapshot's files
                files.append(_parse_file(line["add"]))
        if meta is None:
            raise ValueError("query response lacks a metaData line")
        v = version
        if v is None:
            v = int(headers.get("delta-table-version", -1))
        return _WireSnapshot(version=v, timestamp=None, metadata=meta,
                             files=files)

    def commits(self, start: int = 0, end: int | None = None
                ) -> list[_WireCommit]:
        latest = self.latest_version()
        hi = latest if end is None else min(end, latest)
        if start > hi:
            return []
        self._fetch_range(start, hi)
        out = [self._commits[v] for v in range(start, hi + 1)
               if v in self._commits and not _is_empty(self._commits[v])]
        # bounded driver memory on long drains: a streaming reader's
        # ``start`` only moves forward (its committed offset), so cache
        # entries below it are dead — drop them. A 10k-commit backlog
        # then holds at most one fetch-range of commits, not the whole
        # history. A later lower ``start`` (new consumer on this
        # instance) just re-fetches: pruned versions fall out of the
        # presence map, so _fetch_range sees them as unfetched.
        stale = [v for v in self._commits if v < start]
        for v in stale:
            del self._commits[v]
        return out

    # ------------------------------------------------------------- fetching

    def _fetch_range(self, start: int, end: int) -> None:
        """Fill the commit cache for [start, end] in maxVersionsPerRpc
        windows; already-fetched versions are never re-requested.

        Skip decisions are made per window from the presence map alone
        (one dict lookup per version, bounded by maxVersionsPerRpc per
        window) — no contiguous-span assumption, so interleaved or
        non-contiguous historical reads can never leave a hole that a
        later call silently serves as empty."""
        lo = start
        while lo <= end:
            hi = min(lo + self.max_versions_per_rpc - 1, end)
            if all(v in self._commits for v in range(lo, hi + 1)):
                # fully cached (warm repoll, or a lower restart offset
                # after the cache was pruned elsewhere) — no RPC
                lo = hi + 1
                continue
            self._fetch_window(lo, hi)
            lo = hi + 1

    def _fetch_window(self, start: int, end: int) -> None:
        """Fetch one [start, end] version window, following pagination:
        when the response trailer carries a nextPageToken (because we
        requested maxFiles, or the server paged on its own), keep
        requesting until the window drains — each page parses through the
        same ingest (per-page head lines are idempotent re-attaches).
        Mirrors the reference client's token loop
        (DeltaSharingClient.scala getFilesByPage)."""
        token: str | None = None
        pages: list[dict] = []
        for _ in range(100_000):  # runaway-token backstop, never a limit
            if self.read_change_feed:
                lines = self._client.list_table_changes(
                    self.share, self.schema, self.table,
                    starting_version=start, ending_version=end,
                    response_formats="delta,parquet",
                    include_historical_metadata=True,
                    max_files=self.max_files_per_rpc, page_token=token)
            else:
                _h, lines = self._client.list_files_in_table(
                    self.share, self.schema, self.table,
                    starting_version=start, ending_version=end,
                    response_formats="delta,parquet",
                    include_historical_protocol=True,
                    max_files=self.max_files_per_rpc, page_token=token)
            token = _trailer_token(lines)
            # buffer pages and ingest only once the whole window drained:
            # ingesting page-by-page would leave a partially-filled window
            # in self._commits if a later page's RPC fails, and the retry
            # re-appending page 1's add/cdc actions (c.adds.append is not
            # idempotent) would serve duplicated rows (round-9 review
            # finding). Memory is bounded by the window's own size — the
            # same lines an unpaged response would have carried at once.
            pages.extend(lines)
            if not token:
                self._ingest_window_lines(pages, start, end)
                return
        raise RuntimeError(
            "pagination token loop exceeded 100000 pages — server keeps "
            "returning nextPageToken")

    def _ingest_window_lines(self, lines: list[dict], start: int,
                             end: int) -> None:
        """Cache the commits of one fetched [start, end] window. The
        window's response is authoritative for every version in it, so its
        commits REPLACE any cached ones: a window re-requested because a
        later version in it was missing must not append its actions onto
        the versions already cached (that re-delivered rows). Versions the
        response has no lines for get empty placeholders — presence in
        ``_commits`` is the fetched marker."""
        head, commits = _group_commits(lines, start)
        if head is not None and not self.read_change_feed:
            # range head metaData = the snapshot AT the window start;
            # attaching it there re-runs the compat gate at every window
            # boundary, so a schema commit landing exactly on one is never
            # missed (trivially passes when nothing changed). The changes
            # head is the range-start snapshot's (includeHistoricalMetadata,
            # ref DeltaSharedTable.scala:735-739): in-range schema changes,
            # the start version's own included, arrive as historical lines.
            c = commits.setdefault(
                start, _WireCommit(start, 0, None, [], [], []))
            if c.metadata is None:
                c.metadata = _parse_metadata(head)
        for v in range(start, end + 1):
            self._commits[v] = commits.get(v) or _WireCommit(
                v, 0, None, [], [], [])


def _is_empty(c: _WireCommit) -> bool:
    return (c.metadata is None and not c.adds and not c.removes
            and not c.cdc and c.protocol is None)


def _trailer_token(lines: list[dict]) -> "str | None":
    """nextPageToken from a response's endStreamAction trailer (the last
    line when present), None when the response is final/unpaged."""
    if lines:
        esa = lines[-1].get("endStreamAction")
        if esa is not None:
            return esa.get("nextPageToken") or None
    return None


def _group_commits(lines: list[dict], start: "int | None" = None
                   ) -> "tuple[dict | None, dict[int, _WireCommit]]":
    """Group a range or changes response (either format) into fresh
    per-version wire commits. Returns ``(head metaData, commits)``: the
    first metaData line is the response head; later ones carry their
    version and become that commit's metadata. Versioned protocol lines
    after ``start`` become per-commit protocol (a range head protocol is
    stamped with ``start`` itself)."""
    commits: dict[int, _WireCommit] = {}

    def at(v: int) -> _WireCommit:
        c = commits.get(v)
        if c is None:
            c = commits[v] = _WireCommit(v, 0, None, [], [], [])
        return c

    head: "dict | None" = None
    for line in unwrap_delta_lines(lines):
        kind = next(iter(line))
        if kind == "metaData":
            if head is None:
                head = line["metaData"]
                continue
            v = line["metaData"].get("version")
            if v is not None:
                at(int(v)).metadata = _parse_metadata(line["metaData"])
        elif kind == "protocol":
            v = line["protocol"].get("version")
            if v is not None and (start is None or int(v) > start):
                at(int(v)).protocol = {k: val for k, val
                                       in line["protocol"].items()
                                       if k != "version"}
        elif kind in ("add", "remove", "cdf"):
            a = line[kind]
            c = at(int(a["version"]))
            if a.get("timestamp") is not None:
                c.timestamp = int(a["timestamp"])
            f = _parse_file(a)
            (c.adds if kind == "add" else
             c.removes if kind == "remove" else c.cdc).append(f)
    return head, commits


def _commits_from_change_lines(
        lines: list[dict]) -> tuple[dict, list[_WireCommit]]:
    """A changes-RPC response as ``(head_configuration, commits)`` in
    version order — the head metaData's table configuration rides along
    (row-id reconstruction needs the materialized-column names)."""
    head, commits = _group_commits(lines)
    return ((head or {}).get("configuration") or {},
            [commits[v] for v in sorted(commits)])


def parse_remote_path(path: str) -> tuple[str, str, str, str] | None:
    """``profile#share.schema.table`` → components, or None for a plain
    table directory path."""
    if "#" not in path:
        return None
    from delta_sharing_spark.client import _parse_url

    return _parse_url(path)


def resolve_source_path(path: str):
    """Resolve a data-source ``path`` option:

    - plain directory -> ``("local", path)``
    - ``profile#s.d.t`` with an http(s) endpoint -> ``("remote",
      (profile, share, schema, table))`` — the RPC-backed planner
    - ``profile#s.d.t`` with a catalog-config endpoint -> ``("local",
      table_location)`` — in-process tables resolve to their directory and
      stream through the local log (no HTTP hop for a same-process table)
    """
    parsed = parse_remote_path(path)
    if parsed is None:
        return "local", path
    from delta_sharing_spark.client import DeltaSharingProfile, _is_http

    profile_path, share, schema, table = parsed
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        return "remote", parsed
    with open(profile.endpoint) as f:
        cfg = json.load(f)
    for s in cfg.get("shares", []):
        if s["name"].lower() != share.lower():
            continue
        for sc in s.get("schemas", []):
            if sc["name"].lower() != schema.lower():
                continue
            for t in sc.get("tables", []):
                if t["name"].lower() == table.lower():
                    return "local", t["location"]
    raise ValueError(f"table {share}.{schema}.{table} not found in the "
                     f"catalog config at {profile.endpoint}")


def remote_schema_json(profile_path: str, share: str, schema: str,
                       table: str, version: int | None = None
                       ) -> tuple[str, dict[str, Any]]:
    """(schemaString, configuration) from the metadata RPC — what the data
    source's ``schema()`` needs without fetching any file list. ``version``
    resolves the schema AT that version (time-travel metadata RPC) — the
    schema-tracking seed for remote streams."""
    from delta_sharing_spark.client import DeltaSharingProfile, _rest_client

    profile = DeltaSharingProfile.read_from_file(profile_path)
    profile.check_not_expired()
    lines = _rest_client(profile).query_table_metadata(
        share, schema, table, version=version)
    for line in unwrap_delta_lines(lines):
        if "metaData" in line:
            m = line["metaData"]
            return m["schemaString"], (m.get("configuration") or {})
    raise ValueError("metadata response lacks a metaData line")
