"""Property-based soundness of file pruning (hypothesis).

The one invariant that must NEVER break (the reference's "Unknown never
wrongly skips" contract, JsonPredicateEvaluatorV2.scala:20-52): if the
pruner skips a file, no row in that file can satisfy the predicate.

Strategy: generate random rows + a random predicate tree; derive the file's
real min/max/null stats from the rows; check

  1. soundness: pruned  =>  zero rows match the predicate exactly;
  2. consistency: the sessionless Python evaluator (``keep_file``) and any
     degraded-stats variant only ever err toward KEEPING files.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from delta_sharing_spark.plans.predicates import keep_file

COLS = ["c1", "c2"]
VALUES = list(range(-3, 4))


@st.composite
def rows(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    return [
        {c: draw(st.one_of(st.none(), st.sampled_from(VALUES))) for c in COLS}
        for _ in range(n)
    ]


@st.composite
def trees(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        kind = draw(st.sampled_from(
            ["equal", "lessThan", "lessThanOrEqual", "greaterThan",
             "greaterThanOrEqual", "isNull"]))
        col = {"op": "column", "name": draw(st.sampled_from(COLS)),
               "valueType": "int"}
        if kind == "isNull":
            return {"op": "isNull", "children": [col]}
        lit = {"op": "literal", "value": str(draw(st.sampled_from(VALUES))),
               "valueType": "int"}
        children = [col, lit] if draw(st.booleans()) else [lit, col]
        return {"op": kind, "children": children}
    kind = draw(st.sampled_from(["and", "or", "not"]))
    if kind == "not":
        return {"op": "not", "children": [draw(trees(depth=depth + 1))]}
    return {"op": kind,
            "children": [draw(trees(depth=depth + 1)),
                         draw(trees(depth=depth + 1))]}


def eval_row(tree, row) -> bool | None:
    """Ground-truth SQL three-valued evaluation of the predicate on a row."""
    kind = tree["op"]
    ch = tree.get("children", [])
    if kind == "isNull":
        return row[ch[0]["name"]] is None
    if kind in ("equal", "lessThan", "lessThanOrEqual", "greaterThan",
                "greaterThanOrEqual"):
        def value(node):
            if node["op"] == "column":
                return row[node["name"]]
            return int(node["value"])
        a, b = value(ch[0]), value(ch[1])
        if a is None or b is None:
            return None
        return {"equal": a == b, "lessThan": a < b, "lessThanOrEqual": a <= b,
                "greaterThan": a > b, "greaterThanOrEqual": a >= b}[kind]
    if kind == "and":
        vals = [eval_row(c, row) for c in ch]
        if any(v is False for v in vals):
            return False
        return None if any(v is None for v in vals) else True
    if kind == "or":
        vals = [eval_row(c, row) for c in ch]
        if any(v is True for v in vals):
            return True
        return None if any(v is None for v in vals) else False
    if kind == "not":
        v = eval_row(ch[0], row)
        return None if v is None else not v
    raise AssertionError(kind)


def stats_of(rows_data) -> dict:
    mins, maxs, nulls = {}, {}, {}
    for c in COLS:
        vals = [r[c] for r in rows_data if r[c] is not None]
        nulls[c] = sum(1 for r in rows_data if r[c] is None)
        if vals:
            mins[c], maxs[c] = min(vals), max(vals)
    return {"minValues": mins, "maxValues": maxs, "nullCount": nulls}


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows(), trees())
def test_prune_soundness(rows_data, tree):
    """Pruned file => no row matches (TRUE) the predicate."""
    stats = stats_of(rows_data)
    kept = keep_file(tree, {}, stats, [])
    if not kept:
        matching = [r for r in rows_data if eval_row(tree, r) is True]
        assert matching == [], (
            f"unsound skip: stats={stats} tree={tree} matches={matching}")


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows(), trees())
def test_missing_stats_only_widen(rows_data, tree):
    """Dropping stats (-> Unknown) can only flip skip->keep, never
    keep->skip."""
    stats = stats_of(rows_data)
    kept_full = keep_file(tree, {}, stats, [])
    kept_empty = keep_file(tree, {}, {}, [])
    if kept_full:
        assert kept_empty, "losing stats must never cause a skip"


@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.sampled_from(VALUES + [None]), trees())
def test_partition_eval_matches_row_semantics(pvalue, tree):
    """For a single-file 'partition' with value v, metadata-plane partition
    evaluation must agree with row-level evaluation (keep iff the row
    predicate is TRUE or Unknown)."""
    # treat c1 as the partition column; c2 has no stats (Unknown)
    pv = {"c1": "" if pvalue is None else str(pvalue)}
    kept = keep_file(tree, pv, {}, ["c1"])
    # ground truth on the sole possible row where c2 is unknowable
    verdicts = {
        eval_row(tree, {"c1": pvalue, "c2": candidate})
        for candidate in VALUES + [None]
    }
    may_match = any(v is not False for v in verdicts)
    if may_match:
        assert kept, f"wrongly skipped: pv={pv} tree={tree}"


# --- nested-leaf variant (r11): one flat column, one struct leaf -------
#
# Stats objects nest per the protocol (PROTOCOL.md:3908-4013); predicates
# reference the leaf by dotted path. Same invariant: Unknown never wrongly
# skips — including when the struct itself is NULL (its leaves read NULL).

NESTED_COLS = ["c1", "m.c2"]


@st.composite
def nested_rows(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    out = []
    for _ in range(n):
        m_null = draw(st.booleans())
        out.append({
            "c1": draw(st.one_of(st.none(), st.sampled_from(VALUES))),
            "m": None if m_null else {
                "c2": draw(st.one_of(st.none(), st.sampled_from(VALUES)))},
        })
    return out


def _nested_get(row, name):
    cur = row
    for seg in name.split("."):
        if cur is None:
            return None
        cur = cur.get(seg)
    return cur


def nested_eval_row(tree, row) -> bool | None:
    kind = tree["op"]
    ch = tree.get("children", [])
    if kind == "isNull":
        return _nested_get(row, ch[0]["name"]) is None
    if kind in ("equal", "lessThan", "lessThanOrEqual", "greaterThan",
                "greaterThanOrEqual"):
        def value(node):
            if node["op"] == "column":
                return _nested_get(row, node["name"])
            return int(node["value"])
        a, b = value(ch[0]), value(ch[1])
        if a is None or b is None:
            return None
        return {"equal": a == b, "lessThan": a < b,
                "lessThanOrEqual": a <= b, "greaterThan": a > b,
                "greaterThanOrEqual": a >= b}[kind]
    if kind == "and":
        vals = [nested_eval_row(c, row) for c in ch]
        if any(v is False for v in vals):
            return False
        return None if any(v is None for v in vals) else True
    if kind == "or":
        vals = [nested_eval_row(c, row) for c in ch]
        if any(v is True for v in vals):
            return True
        return None if any(v is None for v in vals) else False
    if kind == "not":
        v = nested_eval_row(ch[0], row)
        return None if v is None else not v
    raise AssertionError(kind)


@st.composite
def nested_trees(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        kind = draw(st.sampled_from(
            ["equal", "lessThan", "lessThanOrEqual", "greaterThan",
             "greaterThanOrEqual", "isNull"]))
        col = {"op": "column", "name": draw(st.sampled_from(NESTED_COLS)),
               "valueType": "int"}
        if kind == "isNull":
            return {"op": "isNull", "children": [col]}
        lit = {"op": "literal", "value": str(draw(st.sampled_from(VALUES))),
               "valueType": "int"}
        children = [col, lit] if draw(st.booleans()) else [lit, col]
        return {"op": kind, "children": children}
    kind = draw(st.sampled_from(["and", "or", "not"]))
    if kind == "not":
        return {"op": "not",
                "children": [draw(nested_trees(depth=depth + 1))]}
    return {"op": kind,
            "children": [draw(nested_trees(depth=depth + 1)),
                         draw(nested_trees(depth=depth + 1))]}


def nested_stats_of(rows_data) -> dict:
    """Nested protocol-shape stats; leaf null counts include struct-null
    rows (parquet definition-level semantics)."""
    mins, maxs, nulls = {}, {}, {"m": {}}
    c1 = [r["c1"] for r in rows_data if r["c1"] is not None]
    nulls["c1"] = sum(1 for r in rows_data if r["c1"] is None)
    if c1:
        mins["c1"], maxs["c1"] = min(c1), max(c1)
    c2 = [_nested_get(r, "m.c2") for r in rows_data]
    nn = [v for v in c2 if v is not None]
    nulls["m"]["c2"] = sum(1 for v in c2 if v is None)
    if nn:
        mins["m"] = {"c2": min(nn)}
        maxs["m"] = {"c2": max(nn)}
    return {"minValues": mins, "maxValues": maxs, "nullCount": nulls}


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(nested_rows(), nested_trees())
def test_nested_prune_soundness(rows_data, tree):
    """Pruned file => no row matches — with stats nested per protocol and
    the predicate addressing the leaf by dotted path."""
    stats = nested_stats_of(rows_data)
    kept = keep_file(tree, {}, stats, [])
    if not kept:
        matching = [r for r in rows_data
                    if nested_eval_row(tree, r) is True]
        assert matching == [], (
            f"unsound skip: stats={stats} tree={tree} matches={matching}")


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(nested_rows(), nested_trees())
def test_nested_missing_stats_only_widen(rows_data, tree):
    stats = nested_stats_of(rows_data)
    kept_full = keep_file(tree, {}, stats, [])
    kept_empty = keep_file(tree, {}, {}, [])
    if kept_full:
        assert kept_empty, "losing stats must never cause a skip"


# --- manifest storage (driver-resident vs scan) ------------------------
#
# The same random predicates pruned through ``kept_adds`` on a real
# checkpointed table with a tail, under both manifest storages (the
# ``manifest_storage`` fixture: Arrow over a driver-resident manifest,
# Catalyst over a scanned one): the kept set, including a limitHint
# cutoff, must equal the sessionless driver loop's.


@pytest.fixture(scope="module")
def storage_table(spark, tmp_path_factory):
    """A table of int columns c1, c2 (with nulls) in about 30 files whose
    stats differ: checkpointed, then a tail that appends and rewrites."""
    from delta_sharing_spark.plans.log import TableLog

    path = str(tmp_path_factory.mktemp("storage_prop") / "t")
    data = []
    for g in range(30):
        for j in range(6):
            c1 = None if (g + j) % 5 == 0 else (g % 7) - 3 + j % 2
            c2 = None if (g * j) % 4 == 1 else ((g // 4) % 7) - 3
            data.append((g, g * 6 + j, c1, c2))
    df = spark.createDataFrame(data, "g int, id int, c1 int, c2 int")
    log = TableLog(spark, path)
    log.create(df.repartitionByRange(24, "g").drop("g"),
               configuration={"delta.checkpointInterval": "100"})
    log.write_checkpoint()
    log.append(spark.createDataFrame(
        [(1000 + i, i % 7 - 3, None) for i in range(6)],
        "id int, c1 int, c2 int"))
    log.delete("id < 12")
    return path


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(tree=trees(), limit=st.one_of(st.none(), st.integers(0, 120)))
def test_manifest_storage_matches_driver_loop(
        spark, storage_table, manifest_storage, tree, limit):
    from delta_sharing_spark.plans.log import TableLog
    from delta_sharing_spark.table import SharedTable

    table = SharedTable(spark, storage_table)
    snap = table.log.snapshot()
    manifest_storage.check(table.log, snap)
    files = sorted(TableLog(spark, storage_table).snapshot().files,
                   key=lambda a: a.path)
    want, total = [], 0
    for a in files:
        if not keep_file(tree, a.partitionValues, a.stats_dict(), []):
            continue
        if limit is not None and total >= limit:
            break
        want.append(a.path)
        total += a.logical_records
    got = sorted(a.path for a in table.kept_adds(snap, tree, None, limit))
    assert got == want


@pytest.mark.parametrize("op", ["equal", "lessThan", "greaterThanOrEqual"])
def test_mismatched_literal_type_keeps_the_file(spark, tmp_path, op):
    # a string column against an int literal does not compare: every
    # route keeps the file (Unknown) rather than raising or pruning
    from delta_sharing_spark.plans.log import TableLog
    from delta_sharing_spark.table import SharedTable
    from tests.conftest import manifest_storage_set

    hint = {"op": op, "children": [
        {"op": "column", "name": "p", "valueType": "string"},
        {"op": "literal", "value": "1", "valueType": "int"}]}
    assert keep_file(hint, {"p": "a"}, {}, ["p"])
    assert keep_file(hint, {}, {"minValues": {"p": "a"},
                                "maxValues": {"p": "b"}}, [])
    path = str(tmp_path / "t")
    TableLog(spark, path).create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, p string"),
        partition_by=["p"])
    for name in ("resident", "scan"):
        with manifest_storage_set(spark, name) as storage:
            table = SharedTable(spark, path)
            snap = table.log.snapshot()
            storage.check(table.log, snap)
            kept = table.kept_adds(snap, hint, None, None)
            assert len(kept) == len(snap.files) == 2, name


_P_IS_A = {"op": "equal", "children": [
    {"op": "column", "name": "p", "valueType": "string"},
    {"op": "literal", "value": "a", "valueType": "string"}]}
_P_VS_INT = {"op": "lessThan", "children": [
    {"op": "column", "name": "p", "valueType": "string"},
    {"op": "literal", "value": "1", "valueType": "int"}]}
_ID_VS_STRING = {"op": "equal", "children": [
    {"op": "literal", "value": "x", "valueType": "string"},
    {"op": "column", "name": "id", "valueType": "int"}]}


@pytest.mark.parametrize("hint, want", [
    (_P_VS_INT, ["a", "b"]),
    (_ID_VS_STRING, ["a", "b"]),
    ({"op": "and", "children": [_P_IS_A, _P_VS_INT]}, ["a"]),
    ({"op": "or", "children": [_P_IS_A, _ID_VS_STRING]}, ["a", "b"]),
    ({"op": "not", "children": [_P_VS_INT]}, ["a", "b"]),
    ({"op": "not", "children": [{"op": "and", "children": [
        _P_IS_A, _P_VS_INT]}]}, ["a", "b"]),
])
def test_mismatched_literal_type_is_unknown_in_arrow(spark, tmp_path,
                                                     monkeypatch, hint, want):
    # a leaf pair that does not compare is Unknown in the resident
    # evaluator itself, as in to_column: the kept set matches the
    # checkpoint scan and no Catalyst fold runs
    from delta_sharing_spark.plans.log import TableLog
    from delta_sharing_spark.plans.resident import ResidentManifest
    from delta_sharing_spark.table import SharedTable
    from tests.conftest import manifest_storage_set

    path = str(tmp_path / "t")
    TableLog(spark, path).create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, p string"),
        partition_by=["p"])
    folds = []
    for method in ("_fold", "_catalyst_mask"):
        real = getattr(ResidentManifest, method)
        monkeypatch.setattr(
            ResidentManifest, method,
            lambda self, *a, _m=method, _f=real: folds.append(_m)
            or _f(self, *a))
    kept = {}
    for name in ("resident", "scan"):
        with manifest_storage_set(spark, name) as storage:
            table = SharedTable(spark, path)
            snap = table.log.snapshot()
            storage.check(table.log, snap)
            kept[name] = sorted(a.partitionValues["p"] for a in
                                table.kept_adds(snap, hint, None, None))
    assert kept == {"resident": want, "scan": want}
    assert folds == []


class TestAsyncQuery:
    def test_submit_poll_dedup(self, spark, events, tmp_path):
        from delta_sharing_spark.asyncquery import AsyncQueryManager
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.table import SharedTable

        d = str(tmp_path / "aq")
        TableLog(spark, d).create(events.limit(100), name="t")
        t = SharedTable(spark, d)
        mgr = AsyncQueryManager()
        q1 = mgr.submit(t, idempotency_key="k1", max_files=2)
        q2 = mgr.submit(t, idempotency_key="k1", max_files=2)
        assert q1.query_id == q2.query_id  # idempotent resubmission
        # same key, different params: undefined per PROTOCOL.md:2154-2156 —
        # we start a fresh query rather than serving mismatched results
        q3 = mgr.submit(t, idempotency_key="k1")
        assert q3.query_id != q1.query_id
        assert q1.wait(60)
        polled = mgr.poll(q1.query_id)
        assert polled.status == "COMPLETED"
        assert any("file" in a for a in polled.result["actions"])
        with pytest.raises(KeyError):
            mgr.poll("nope")

    def test_failed_query_surfaces_error(self, spark, events, tmp_path):
        from delta_sharing_spark.asyncquery import AsyncQueryManager
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.table import SharedTable

        d = str(tmp_path / "aq2")
        TableLog(spark, d).create(events.limit(10), name="t")
        t = SharedTable(spark, d)
        mgr = AsyncQueryManager()
        q = mgr.submit(t, version=99)
        assert q.wait(60)
        assert q.status == "FAILED" and "99" in q.error


class TestInlineDVProperty:
    """Inline-DV codec: encode/decode is a lossless bijection on position
    sets for any distribution of row indexes."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.lists(st.integers(min_value=0, max_value=2**40),
                    max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_round_trip(self, positions):
        from delta_sharing_spark.plans.log import (
            decode_inline_dv,
            encode_inline_dv,
        )

        encoded, size = encode_inline_dv(positions)
        assert decode_inline_dv(encoded, size) == sorted(set(positions))


class TestAsyncQueryEviction:
    def test_finished_queries_bounded(self, spark, events, tmp_path):
        from delta_sharing_spark.asyncquery import AsyncQueryManager
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.table import SharedTable

        d = str(tmp_path / "t")
        TableLog(spark, d).create(events.limit(20), name="t")
        t = SharedTable(spark, d)
        mgr = AsyncQueryManager(max_finished=3)
        qs = [mgr.submit(t, idempotency_key=f"k{i}") for i in range(6)]
        for q in qs:
            assert q.wait(60)
        # a new submit triggers eviction down to max_finished
        last = mgr.submit(t, idempotency_key="k_last")
        assert last.wait(60)
        finished = [q for q in mgr._queries.values()
                    if q.status in ("COMPLETED", "FAILED")]
        assert len(finished) <= 4  # 3 retained + the new one
        # evicted idempotency keys are gone; retained ones still dedup
        assert mgr.submit(t, idempotency_key="k_last") is last

    def test_finished_queries_expire_by_age(self, spark, events, tmp_path):
        """Age bound on the registry: a finished query older than
        finished_ttl_s is dropped at the next submit regardless of the
        count bound, and its idempotency key no longer dedups."""
        from delta_sharing_spark.asyncquery import AsyncQueryManager
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.table import SharedTable

        d = str(tmp_path / "t_age")
        TableLog(spark, d).create(events.limit(20), name="t")
        t = SharedTable(spark, d)
        mgr = AsyncQueryManager(max_finished=100, finished_ttl_s=30.0)
        old = mgr.submit(t, idempotency_key="k_old")
        assert old.wait(60)
        old.finished_at -= 31.0  # backdate past the TTL
        fresh = mgr.submit(t, idempotency_key="k_fresh")
        assert fresh.wait(60)
        assert old.query_id not in mgr._queries
        import pytest as _pytest
        with _pytest.raises(KeyError):
            mgr.poll(old.query_id)
        assert mgr.submit(t, idempotency_key="k_old") is not old
        # in-flight and recently-finished queries are untouched
        assert mgr.poll(fresh.query_id) is fresh
        # a QUIET server expires on poll alone — no submit needed
        fresh.finished_at -= 31.0
        import pytest as _p2
        with _p2.raises(KeyError):
            mgr.poll(fresh.query_id)


class TestAsofJoinProperty:
    """asof_join vs a brute-force per-row reference, both directions,
    with and without tolerance."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    pair = st.tuples(st.integers(0, 2), st.integers(0, 50))

    @given(
        lefts=st.lists(pair, min_size=1, max_size=12),
        rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50),
                                  st.integers(0, 99)), max_size=12),
        direction=st.sampled_from(["backward", "forward"]),
        tolerance=st.sampled_from([None, 0, 5, 20]),
    )
    @settings(max_examples=12, deadline=None)
    def test_matches_bruteforce(self, spark, lefts, rights, direction,
                                tolerance):
        from delta_sharing_spark.operators.joins import asof_join

        ldf = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(lefts)],
            "k long, t long, idx long")
        rdf = spark.createDataFrame(rights or [(99, 0, 0)],
                                    "k long, t long, v long")
        out = {r["idx"]: r["v_right"] for r in asof_join(
            ldf, rdf, on="k", left_time="t", right_time="t",
            right_payload=["v"], direction=direction,
            tolerance=tolerance).collect()}

        for i, (k, t) in enumerate(lefts):
            if direction == "backward":
                cand = [(rt, v) for (rk, rt, v) in (rights or [(99, 0, 0)])
                        if rk == k and rt <= t]
                best = max(cand, default=None)
            else:
                cand = [(rt, v) for (rk, rt, v) in (rights or [(99, 0, 0)])
                        if rk == k and rt >= t]
                best = min(cand, default=None)
            want = None
            if best is not None and (
                    tolerance is None or abs(best[0] - t) <= tolerance):
                # ties: the engine takes the LAST right row in (t, tag)
                # order, i.e. max v among rows sharing the best time
                tied = [v for (rt, v) in cand if rt == best[0]]
                want = tied[-1] if direction == "backward" else tied[-1]
            got = out[i]
            # tie order among equal times is input order; accept any tied v
            if best is not None and (tolerance is None
                                     or abs(best[0] - t) <= tolerance):
                tied_vs = {v for (rt, v) in cand if rt == best[0]}
                assert got in tied_vs, (lefts, rights, direction, tolerance)
            else:
                assert got is None, (lefts, rights, direction, tolerance)
