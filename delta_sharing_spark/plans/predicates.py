"""JSON predicate trees -> Catalyst Columns, and stats-based file skipping.

The reference evaluates predicates over file metadata in three ways
(SURVEY.md §2.3):

1. SQL ``predicateHints`` parsed with SparkSqlParser and interpreted over
   each AddFile's partitionValues (server/.../PartitionFilterUtils.scala:37-142);
2. ``jsonPredicateHints`` V1 — a JSON op tree over partition columns
   (server/.../common/JsonPredicates.scala:203-363);
3. ``jsonPredicateHints`` V2 — adds min/max-stats skipping for data columns
   with **three-valued logic** so missing stats or eval errors never wrongly
   skip a file (server/.../JsonPredicateEvaluatorV2.scala:88-464,
   ColumnRange.scala:70-174).

Our Spark-first take: translate the op tree 1:1 into Catalyst ``Column``s and
run the prune as a DataFrame filter over the file manifest. SQL NULL already
IS the reference's Unknown — ``keep = NOT (pred <=> FALSE)`` reproduces the
V2 truth tables with zero custom logic, and the whole prune scales out as a
Spark job instead of a driver loop. A driver-resident manifest is pruned
by this rewrite's vectorized pyarrow twin (plans/resident.py), which reuses
the leaf expressions below for every cast it cannot read as stored.

Op vocabulary (PROTOCOL.md:4157-4258): leaves ``column``/``literal``; unary
``isNull``/``not``; binary ``equal``/``lessThan``/``lessThanOrEqual``/
``greaterThan``/``greaterThanOrEqual``; n-ary ``and``/``or``. Value types:
bool, int, long, string, date (+ float, double, timestamp in V2).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# hardcoded limits, ref server/.../JsonPredicateFilterUtils.scala:33-34
MAX_PREDICATE_BYTES = 1024 * 1024
MAX_PREDICATE_DEPTH = 100

VALID_TYPES = {"bool", "int", "long", "string", "date", "float", "double",
               "timestamp"}

_SPARK_CAST = {
    "bool": "boolean",
    "int": "int",
    "long": "bigint",
    "string": "string",
    "date": "date",
    "float": "float",
    "double": "double",
    "timestamp": "timestamp",
}

_BINARY_OPS = {
    "equal": lambda a, b: a == b,
    "lessThan": lambda a, b: a < b,
    "lessThanOrEqual": lambda a, b: a <= b,
    "greaterThan": lambda a, b: a > b,
    "greaterThanOrEqual": lambda a, b: a >= b,
}


_NUMERIC = {"int", "long", "float", "double"}


def _comparable(left: dict[str, Any], right: dict[str, Any]) -> bool:
    """Whether two leaves compare: the same valueType, or two numbers
    (Spark widens them). Any other pair, such as a string column against
    an int literal, is Unknown on every prune route, so the file is kept
    (under ANSI Spark would fail casting the string instead)."""
    a, b = left.get("valueType"), right.get("valueType")
    return a == b or (a in _NUMERIC and b in _NUMERIC)


class PredicateError(ValueError):
    pass


def validate_tree(op: dict[str, Any], depth: int = 0) -> None:
    """Structural validation, ref JsonPredicates.scala:40-61 (op validation)
    and the size/depth caps in JsonPredicateFilterUtils.scala:33-34."""
    if depth > MAX_PREDICATE_DEPTH:
        raise PredicateError(f"predicate tree deeper than {MAX_PREDICATE_DEPTH}")
    if not isinstance(op, dict) or "op" not in op:
        raise PredicateError(f"malformed op node: {op!r}")
    kind = op["op"]
    children = op.get("children", [])
    if kind == "column":
        if not op.get("name") or op.get("valueType") not in VALID_TYPES:
            raise PredicateError(f"bad column op: {op!r}")
    elif kind == "literal":
        if "value" not in op or op.get("valueType") not in VALID_TYPES:
            raise PredicateError(f"bad literal op: {op!r}")
    elif kind in ("isNull", "not"):
        if len(children) != 1:
            raise PredicateError(f"{kind} takes exactly 1 child")
    elif kind in _BINARY_OPS:
        if len(children) != 2:
            raise PredicateError(f"{kind} takes exactly 2 children")
    elif kind in ("and", "or"):
        if len(children) < 2:
            raise PredicateError(f"{kind} takes >=2 children")
    else:
        raise PredicateError(f"unknown op {kind!r}")
    for child in children:
        validate_tree(child, depth + 1)


def parse_predicate(hints: str | dict[str, Any]) -> dict[str, Any]:
    if isinstance(hints, str):
        if len(hints.encode()) > MAX_PREDICATE_BYTES:
            raise PredicateError("predicate exceeds 1MB limit")
        hints = json.loads(hints)
    validate_tree(hints)
    return hints


def _leaf_column(op: dict[str, Any], partition_columns: set[str],
                 data_accessor) -> Column | None:
    """Resolve a column leaf to a Column, or None when unresolvable
    (non-partition column in a V1/partition-only context)."""
    name, vtype = op["name"], op["valueType"]
    if name in partition_columns:
        # string-serialized partition value, "" == null (PROTOCOL.md:3896-3906)
        raw = F.col("partitionValues").getItem(name)
        raw = F.when(raw == "", F.lit(None)).otherwise(raw)
        # try_cast: a malformed serialized value (or a mismatched client
        # valueType) is NULL, the reference's non-ANSI Cast semantics
        # (client/.../RemoteDeltaFileIndex.scala:96-101) — a plain cast
        # under Spark 4's default ANSI mode would throw and fail the
        # whole query instead
        return raw.try_cast(_SPARK_CAST[vtype])
    if data_accessor is not None:
        return data_accessor(name, vtype)
    return None


def _literal_column(op: dict[str, Any]) -> Column:
    """A literal leaf. try_cast: a client-supplied literal that doesn't
    parse as its declared valueType (or overflows it) becomes NULL
    (comparisons -> Unknown -> keep), never an ANSI cast error crashing
    the RPC."""
    return F.lit(op["value"]).try_cast(_SPARK_CAST[op["valueType"]])


def to_column(op: dict[str, Any], partition_columns: set[str],
              data_accessor=None) -> Column | None:
    """Translate an op tree to a Catalyst Column over the file manifest.

    Returns None for subtrees that reference unresolvable columns — callers
    treat None as "cannot prune on this subtree" which reproduces the
    reference's safe partial-pruning (client/.../filters/UnsupportedOpPruner.scala:
    AND may drop a child; OR/NOT with an unsupported child is poisoned).
    """
    kind = op["op"]
    if kind == "column":
        return _leaf_column(op, partition_columns, data_accessor)
    if kind == "literal":
        return _literal_column(op)
    children = op.get("children", [])
    if kind == "and":
        cols = [to_column(c, partition_columns, data_accessor) for c in children]
        cols = [c for c in cols if c is not None]  # drop unsupported conjuncts
        if not cols:
            return None
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out
    if kind == "or":
        cols = [to_column(c, partition_columns, data_accessor) for c in children]
        if any(c is None for c in cols):  # OR poisoned by unsupported child
            return None
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    if kind == "not":
        # Negation is only sound when the child translated EXACTLY: the 'and'
        # branch silently drops unsupported conjuncts (a sound weakening for a
        # keep-condition), but NOT of a weakened predicate is a *strengthened*
        # predicate — it would wrongly prune files. Mirror the reference
        # (client/.../filters/UnsupportedOpPruner.scala:30): poison NOT when
        # any descendant references an unresolvable column.
        if data_accessor is None and \
                not _referenced_columns(children[0]) <= set(partition_columns):
            return None
        inner = to_column(children[0], partition_columns, data_accessor)
        return None if inner is None else ~inner
    if kind == "isNull":
        # same exactness requirement: isNull over a partially-dropped child
        # would test a different expression than the one requested
        if data_accessor is None and \
                not _referenced_columns(children[0]) <= set(partition_columns):
            return None
        inner = to_column(children[0], partition_columns, data_accessor)
        return None if inner is None else inner.isNull()
    if kind in _BINARY_OPS:
        left = to_column(children[0], partition_columns, data_accessor)
        right = to_column(children[1], partition_columns, data_accessor)
        if left is None or right is None:
            return None
        if not _comparable(*children):
            return F.lit(None).cast("boolean")
        return _BINARY_OPS[kind](left, right)
    raise PredicateError(f"unknown op {kind!r}")


def stat_lookup(d, name: str):
    """Resolve a (possibly dotted) stats-spec name against a stats dict:
    nested stats objects (the protocol shape) are walked segment by
    segment; a missing or non-dict intermediate is None (Unknown ->
    keep). Shared with the manifest builders in plans/log.py."""
    if d is None:
        return None
    if "." not in name:
        return d.get(name)
    cur = d
    for seg in name.split("."):
        if not isinstance(cur, dict):
            return None
        cur = cur.get(seg)
    return cur


def _stats_json_path(name: str) -> "str | None":
    """JSON path for a (possibly dotted) stats name: stats objects nest
    per the protocol (PROTOCOL.md:3908-4013), so ``m.qty`` reads
    ``$['m']['qty']``. Bracket form keeps names with special characters
    safe; dotted names are always nested paths (literal-dot column names
    never carry stats — plans/stats.py skips them as ambiguous).

    Spark's JSON-path grammar has no escape for a quote inside the
    bracket form, so a segment containing a single quote (or a backslash,
    which its parser also mangles) is inexpressible — return None and the
    caller degrades that column to NULL = Unknown = keep (never a wrong
    prune, and never a silently malformed path)."""
    segs = name.split(".")
    if any("'" in s or "\\" in s for s in segs):
        return None
    return "$" + "".join(f"['{seg}']" for seg in segs)


def _json_stat(col: str, name: str, vtype: str) -> Column:
    """Extract a typed stat from the minValues/maxValues/nullCount JSON
    strings in the manifest DataFrame; absent key (or a name the JSON-path
    grammar can't express) -> NULL (Unknown)."""
    path = _stats_json_path(name)
    if path is None:
        return F.lit(None).try_cast(_SPARK_CAST[vtype])
    raw = F.get_json_object(F.col(col), path)
    return raw.try_cast(_SPARK_CAST[vtype])


def _typed_stat(col: str, name: str, vtype: str) -> Column:
    """Extract a stat from the typed ``*_parsed`` struct columns (the
    checkpoint's stats_parsed shape) — a native parquet value instead of a
    per-row JSON parse. The cast goes THROUGH string so it is the exact
    cast the JSON path runs: a hint valueType that mismatches the stored
    kind (e.g. ``long`` hint over a double stat of 3.7) then yields NULL
    (Unknown -> keep) instead of a silently truncated/wrapped numeric that
    could wrongly prune files containing matching rows."""
    return (F.col(col).getField(name)
            .cast("string").try_cast(_SPARK_CAST[vtype]))


def parsed_stat_fields(df) -> frozenset[str]:
    """Columns with typed stats structs in a manifest DataFrame — what the
    keep-condition may prune via ``*_parsed`` instead of JSON. Empty when
    the manifest predates the typed layout (full JSON fallback)."""
    for f in df.schema.fields:
        if f.name == "minValues_parsed":
            return frozenset(f.dataType.fieldNames())
    return frozenset()


def _rewrite_for_stats(op: dict[str, Any], partition_columns: set[str],
                       parsed_fields: frozenset[str] = frozenset(),
                       ) -> Column | None:
    """Rewrite one op tree into a 'file may contain matching rows' Column
    using partition values exactly and data columns via min/max ranges.

    Three-valued logic comes free: any NULL stat propagates to NULL, and the
    caller keeps NULL files (never skip on Unknown —
    JsonPredicateEvaluatorV2.scala:20-52).
    """
    kind = op["op"]
    children = op.get("children", [])

    def col_of(node):
        return to_column(node, partition_columns)

    if kind in _BINARY_OPS:
        left, right = children
        # only column-vs-literal / literal-vs-column rewrites are safe
        if left.get("op") == "column" and right.get("op") == "literal":
            colname, vtype = left["name"], left["valueType"]
            lit = _literal_column(right)
        elif left.get("op") == "literal" and right.get("op") == "column":
            # normalize literal-op-column to column-op'-literal
            flip = {"lessThan": "greaterThan", "greaterThan": "lessThan",
                    "lessThanOrEqual": "greaterThanOrEqual",
                    "greaterThanOrEqual": "lessThanOrEqual", "equal": "equal"}
            return _rewrite_for_stats(
                {"op": flip[kind], "children": [right, left]},
                partition_columns, parsed_fields
            )
        else:
            return None
        if not _comparable(left, right):
            return F.lit(None).cast("boolean")
        if colname in partition_columns:
            pcol = col_of(left)
            return _BINARY_OPS[kind](pcol, lit)
        if colname in parsed_fields:
            mn = _typed_stat("minValues_parsed", colname, vtype)
            mx = _typed_stat("maxValues_parsed", colname, vtype)
        else:
            mn = _json_stat("minValues", colname, vtype)
            mx = _json_stat("maxValues", colname, vtype)
        if kind == "equal":
            return (mn <= lit) & (mx >= lit)
        if kind == "lessThan":
            return mn < lit
        if kind == "lessThanOrEqual":
            return mn <= lit
        if kind == "greaterThan":
            return mx > lit
        if kind == "greaterThanOrEqual":
            return mx >= lit
    if kind == "isNull":
        child = children[0]
        if child.get("op") != "column":
            return None
        name = child["name"]
        if name in partition_columns:
            inner = col_of(child)
            return inner.isNull()
        if name in parsed_fields:
            return F.col("nullCount_parsed").getField(name) > 0
        return _json_stat("nullCount", name, "long") > 0
    if kind == "and":
        cols = [_rewrite_for_stats(c, partition_columns, parsed_fields)
                for c in children]
        cols = [c for c in cols if c is not None]
        if not cols:
            return None
        out = cols[0]
        for c in cols[1:]:
            # Unknown AND False must be False: SQL NULL AND FALSE = FALSE. ✔
            out = out & c
        return out
    if kind == "or":
        cols = [_rewrite_for_stats(c, partition_columns, parsed_fields)
                for c in children]
        if any(c is None for c in cols):
            return None  # poisoned (UnsupportedOpPruner semantics)
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    if kind == "not":
        # NOT over a range rewrite is NOT sound (rewrite is an over-approx);
        # only safe over partition-exact subtrees — and only when the child
        # translates exactly (to_column's 'and' drops unsupported conjuncts,
        # and negating a weakened child over-prunes; ref UnsupportedOpPruner
        # poisons the whole NotOp on any unsupported descendant).
        if not _referenced_columns(children[0]) <= set(partition_columns):
            return None
        inner = to_column(children[0], partition_columns)
        return None if inner is None else ~inner
    if kind in ("column", "literal"):
        return col_of(op)
    return None


def file_keep_condition(hints: str | dict[str, Any],
                        partition_columns: list[str],
                        parsed_fields: frozenset[str] = frozenset(),
                        ) -> Column:
    """Return a Column over the manifest DataFrame that is FALSE only for
    files that provably contain no matching rows.

    ``NOT (pred <=> FALSE)`` keeps files whose predicate evaluates TRUE or
    NULL/Unknown — the reference's "never wrongly skip" contract. If the
    whole tree is unsupported, keep everything (best-effort, like the
    reference skipping non-parsable hints, PartitionFilterUtils.scala:131-140).
    """
    tree = parse_predicate(hints)
    cond = _rewrite_for_stats(tree, set(partition_columns), parsed_fields)
    if cond is None:
        return F.lit(True)
    return ~cond.eqNullSafe(F.lit(False))


def sql_hint_keep_condition(hint: str, partition_columns: list[str],
                            schema) -> Column | None:
    """SQL predicateHints path (ref PartitionFilterUtils.scala:37-142): accept
    a restricted SQL expression over **partition columns only** and evaluate
    it against partitionValues with declared-type casts. Non-parsable or
    non-partition references -> None (hint skipped, best-effort)."""
    try:
        expr = F.expr(hint)
    except Exception:
        return None
    # resolve attribute references: rewrite c -> cast(partitionValues[c], dt)
    # — but only OUTSIDE string literals: a column name occurring inside
    # quotes (e.g. category = 'date' with partition column `date`) must not
    # be substituted. Split on single-quoted SQL literals ('' = escaped
    # quote); odd segments are literal bodies and pass through untouched.
    import re

    segments = re.split(r"('(?:[^']|'')*')", hint)
    if any("'" in seg for seg in segments[::2]):
        return None  # unterminated/ambiguous quoting — skip the hint
    type_of = {f.name: f.dataType.simpleString() for f in schema.fields}
    cols = {
        m for seg in segments[::2]
        for m in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", seg)
    }
    refs = [c for c in cols if c in type_of]
    if not refs or any(c not in partition_columns for c in refs):
        return None
    # single-pass alternation so inserted replacement text (which contains
    # identifiers like type names) is never itself rewritten
    pattern = re.compile("|".join(
        rf"\b{re.escape(c)}\b" for c in sorted(refs, key=len, reverse=True)))

    def _subst(m: re.Match) -> str:
        c = m.group(0)
        return f"cast(nullif(partitionValues['{c}'], '') as {type_of[c]})"

    for i in range(0, len(segments), 2):
        segments[i] = pattern.sub(_subst, segments[i])
    rewritten = "".join(segments)
    try:
        cond = F.expr(rewritten)
    except Exception:
        return None
    return ~cond.eqNullSafe(F.lit(False))


# ---------------------------------------------------------------------------
# Sessionless evaluator — for contexts without a SparkSession (the Python
# Data Source planner runs in a worker process). Mirrors the reference's
# in-process evaluation over AddFiles (server/.../JsonPredicateEvaluatorV2):
# partition values exactly, data columns via min/max ranges, three-valued
# logic where None = Unknown and Unknown never skips a file.
# ---------------------------------------------------------------------------

def _py_cast(value, vtype: str):
    import datetime as _dt

    if value is None:
        return None
    try:
        if vtype in ("int", "long"):
            return int(value)
        if vtype in ("float", "double"):
            return float(value)
        if vtype == "bool":
            return str(value).lower() == "true"
        if vtype == "date":
            return _dt.date.fromisoformat(str(value))
        if vtype == "timestamp":
            # normalize to NAIVE UTC: one side may carry a zone (a pushed
            # Spark literal) while the other is a zone-less partition/stats
            # string — naive-vs-aware datetimes don't even compare
            ts = _dt.datetime.fromisoformat(str(value).replace("T", " ")
                                            .replace("Z", "+00:00"))
            if ts.tzinfo is not None:
                ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return ts
        return str(value)
    except (ValueError, TypeError):
        return None


def _tri_and(values):
    if any(v is False for v in values):
        return False
    if any(v is None for v in values):
        return None
    return True


def _tri_or(values):
    if any(v is True for v in values):
        return True
    if any(v is None for v in values):
        return None
    return False


def _eval_file(op: dict, partition_values: dict, stats: dict,
               partition_columns: set) -> bool | None:
    """Evaluate 'file may contain matching rows' -> True/False/None."""
    kind = op["op"]
    children = op.get("children", [])
    if kind == "and":
        return _tri_and([_eval_file(c, partition_values, stats,
                                    partition_columns) for c in children])
    if kind == "or":
        return _tri_or([_eval_file(c, partition_values, stats,
                                   partition_columns) for c in children])
    if kind == "not":
        v = _eval_file(children[0], partition_values, stats, partition_columns)
        # NOT over a range over-approximation is unsound -> only negate
        # definite partition-exact answers; Unknown stays Unknown
        child = children[0]
        refs = _referenced_columns(child)
        if not refs <= partition_columns:
            return None
        return None if v is None else not v
    if kind == "isNull":
        child = children[0]
        if child.get("op") != "column":
            return None
        name = child["name"]
        if name in partition_columns:
            return partition_values.get(name, "") == ""
        nc = stat_lookup(stats.get("nullCount") or {}, name)
        # a struct column's entry is a nested object, not a count ->
        # Unknown (matches the DataFrame path: the struct itself has no
        # nullCount leaf)
        return None if not isinstance(nc, (int, float)) else nc > 0
    if kind in _BINARY_OPS:
        left, right = children
        if left.get("op") == "literal" and right.get("op") == "column":
            flip = {"lessThan": "greaterThan", "greaterThan": "lessThan",
                    "lessThanOrEqual": "greaterThanOrEqual",
                    "greaterThanOrEqual": "lessThanOrEqual", "equal": "equal"}
            return _eval_file({"op": flip[kind], "children": [right, left]},
                              partition_values, stats, partition_columns)
        if left.get("op") != "column" or right.get("op") != "literal":
            return None
        name, vtype = left["name"], left["valueType"]
        if not _comparable(left, right):
            return None
        lit = _py_cast(right["value"], right["valueType"])
        if lit is None:
            return None
        if name in partition_columns:
            raw = partition_values.get(name)
            val = _py_cast(None if raw == "" else raw, vtype)
            return None if val is None else _BINARY_OPS[kind](val, lit)
        mn = _py_cast(stat_lookup(stats.get("minValues") or {}, name), vtype)
        mx = _py_cast(stat_lookup(stats.get("maxValues") or {}, name), vtype)
        if kind == "equal":
            if mn is None or mx is None:
                return None
            return mn <= lit and mx >= lit
        bound = mn if kind.startswith("less") else mx
        return None if bound is None else _BINARY_OPS[kind](bound, lit)
    return None


def _referenced_columns(op: dict) -> set:
    if op.get("op") == "column":
        return {op["name"]}
    out: set = set()
    for c in op.get("children", []):
        out |= _referenced_columns(c)
    return out


def rewrite_predicate_columns(hints: str | dict | None,
                              mapping: dict[str, str] | None):
    """Rewrite every column node's name through ``mapping`` (names absent
    from the map pass through). Used by column-mapping tables to translate
    a logical-name predicate into the physical-name space that
    partitionValues and file stats are keyed by. Returns the same form it
    was given conceptually (always a dict tree for non-None input)."""
    if hints is None or not mapping:
        return hints
    tree = parse_predicate(hints)

    def walk(op: dict) -> dict:
        if op.get("op") == "column":
            out = dict(op)
            out["name"] = mapping.get(op["name"], op["name"])
            return out
        if "children" in op:
            out = dict(op)
            out["children"] = [walk(c) for c in op["children"]]
            return out
        return dict(op)

    return walk(tree)


def keep_file(hints: str | dict | None, partition_values: dict,
              stats: dict, partition_columns: list) -> bool:
    """Sessionless twin of ``file_keep_condition``: keep unless provably no
    matching rows (False). Unknown (None) keeps."""
    if not hints:
        return True
    tree = parse_predicate(hints)
    verdict = _eval_file(tree, partition_values or {}, stats or {},
                         set(partition_columns))
    return verdict is not False
