"""Driver-resident file manifests: one path-sorted Arrow table per
snapshot, pruned with vectorized pyarrow kernels.

The reference prunes in process over each file's partition values and
min/max stats (server/.../JsonPredicateEvaluatorV2.scala); Delta keeps
those stats as typed checkpoint columns so that skipping is a columnar
filter. ``ResidentManifest.keep_mask`` is that filter for every manifest
``TableLog`` keeps on the driver. It evaluates a ``jsonPredicateHints``
tree with the rewrite, drop and poison rules of
``predicates._rewrite_for_stats`` (Kleene and/or, keep = NOT(pred <=>
FALSE)), so a hinted request costs a few array kernels and no Catalyst
plan.

Spark's cast rules keep one implementation. A leaf whose stored value is
already of the hint's type is read as stored: string partition values, and
typed stats of the hint's kind (a long hint over int64 stats, double over
float64, string, bool). Any other pair (ISO-string date/timestamp stats, a
long hint over double stats, an int hint past int32, stats without typed
columns, non-string partition values) is converted ONCE per manifest by the
Catalyst expression the scan evaluator uses (``_leaf_column``,
``_typed_stat``, ``_json_stat``), folded over a narrow ``LocalRelation``
and cached with the manifest. Literals take the same ``try_cast``,
memoized per value. A comparison of leaves that do not compare (a string
column against an int literal) is Unknown, as in ``to_column``. A tree
the vectorized evaluator cannot match exactly (a comparison across
numeric value types Spark would widen, a non-boolean leaf where a
predicate is expected) is evaluated once by
``file_keep_condition`` the same way and cached per tree.
"""

from __future__ import annotations

import json
import threading
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_sharing_spark.plans.predicates import (
    _BINARY_OPS,
    _comparable,
    _json_stat,
    _leaf_column,
    _literal_column,
    _referenced_columns,
    _typed_stat,
    file_keep_condition,
    parse_predicate,
)

# hint valueType -> the class of values a converted leaf holds. Values of
# one class compare exactly (Spark widens int to long and float to double
# without loss); dates and timestamps ride as int64 days and micros
_CLASS = {"bool": "bool", "int": "int", "long": "int", "float": "float",
          "double": "float", "string": "string", "date": "date",
          "timestamp": "timestamp"}
_ARROW_TYPE = {"bool": pa.bool_(), "int": pa.int64(), "float": pa.float64(),
               "string": pa.string(), "date": pa.int64(),
               "timestamp": pa.int64()}
# (typed-stats kind, hint valueType) pairs stored exactly as the hint
# reads them
_STORED_AS_READ = {("i", "long"), ("f", "double"), ("s", "string"),
                   ("b", "bool")}
_ARROW_CMP = {"equal": pc.equal, "lessThan": pc.less,
              "lessThanOrEqual": pc.less_equal, "greaterThan": pc.greater,
              "greaterThanOrEqual": pc.greater_equal}
_FLIP = {"lessThan": "greaterThan", "greaterThan": "lessThan",
         "lessThanOrEqual": "greaterThanOrEqual",
         "greaterThanOrEqual": "lessThanOrEqual", "equal": "equal"}
# a comparison of two leaves that do not compare (``_comparable``)
_UNKNOWN = (pa.scalar(None, pa.bool_()), "bool")
_STAT_SOURCES = ("partitionValues", "minValues", "maxValues", "nullCount",
                 "minValues_parsed", "maxValues_parsed", "nullCount_parsed")

# literal (type, repr, valueType[, session time zone]) -> its try_cast
# value, shared by every manifest: hints repeat their literals
_LITERALS: "dict[tuple, Any]" = {}
_LITERALS_MAX = 4096
# trees evaluated by Catalyst, cached per manifest
_MASKS_MAX = 32


class _Unmatched(Exception):
    """The vectorized evaluator cannot reproduce Catalyst's result for
    this tree exactly."""


def _collectable(col: Column, vtype: str) -> Column:
    """``col`` in the form its value class is collected as."""
    if vtype == "date":
        return F.unix_date(col)
    if vtype == "timestamp":
        return F.unix_micros(col)
    return col


def _literal_value(session: Callable[[], SparkSession], op: dict) -> Any:
    """The literal's ``try_cast`` value (``predicates._literal_column``),
    evaluated by Spark once per distinct literal."""
    value, vtype = op["value"], op["valueType"]
    if (vtype == "string" and isinstance(value, str)) or (
            vtype == "bool" and isinstance(value, bool)):
        return value
    key: tuple = (type(value).__name__, repr(value), vtype)
    if vtype == "timestamp":
        key += (session().conf.get("spark.sql.session.timeZone"),)
    if key not in _LITERALS:
        spark = session()
        one = spark.createDataFrame(pa.table({"_": pa.array([0], pa.int8())}))
        got = one.select(_collectable(_literal_column(op), vtype)).collect()
        if len(_LITERALS) >= _LITERALS_MAX:
            _LITERALS.clear()
        _LITERALS[key] = got[0][0]
    return _LITERALS[key]


# values of the evaluator: (Arrow array or scalar, value class)

def _compare(kind: str, a: tuple, b: tuple) -> tuple:
    (x, cls), (y, other) = a, b
    if cls != other:
        raise _Unmatched(f"{cls} compared with {other}")
    if cls != "float":
        return _ARROW_CMP[kind](x, y), "bool"
    # Spark orders NaN above every other value, and NaN = NaN; non-Kleene
    # or/and keep a null operand null
    xn, yn = pc.is_nan(x), pc.is_nan(y)
    nan_rule = {
        "equal": pc.and_(xn, yn),
        "lessThan": pc.and_(pc.invert(xn), yn),
        "lessThanOrEqual": yn,
        "greaterThan": pc.and_(xn, pc.invert(yn)),
        "greaterThanOrEqual": xn,
    }[kind]
    return pc.or_(_ARROW_CMP[kind](x, y), nan_rule), "bool"


def _predicate(v: tuple):
    if v[1] != "bool":
        raise _Unmatched(f"{v[1]} value used as a predicate")
    return v[0]


def _and(parts: list) -> tuple:
    out = _predicate(parts[0])
    for p in parts[1:]:
        out = pc.and_kleene(out, _predicate(p))
    return out, "bool"


def _or(parts: list) -> tuple:
    out = _predicate(parts[0])
    for p in parts[1:]:
        out = pc.or_kleene(out, _predicate(p))
    return out, "bool"


class _Evaluator:
    """One tree over one manifest. ``stats`` mirrors
    ``predicates._rewrite_for_stats`` and ``exact`` mirrors
    ``predicates.to_column`` (partition columns only) branch for branch;
    None is their "unsupported" (dropped under and, poisons or/not)."""

    def __init__(self, manifest: "ResidentManifest", pcols: frozenset):
        self.m = manifest
        self.pcols = pcols

    def literal(self, op: dict) -> tuple:
        cls = _CLASS[op["valueType"]]
        return (pa.scalar(_literal_value(self.m.session, op),
                          _ARROW_TYPE[cls]), cls)

    def stats(self, op: dict) -> "tuple | None":
        kind = op["op"]
        children = op.get("children", [])
        if kind in _BINARY_OPS:
            left, right = children
            if left.get("op") == "literal" and right.get("op") == "column":
                return self.stats({"op": _FLIP[kind],
                                   "children": [right, left]})
            if left.get("op") != "column" or right.get("op") != "literal":
                return None
            if not _comparable(left, right):
                return _UNKNOWN
            name, vtype = left["name"], left["valueType"]
            lit = self.literal(right)
            if name in self.pcols:
                return _compare(kind, self.exact(left), lit)
            mn = self.m.column("minValues", name, vtype)
            mx = self.m.column("maxValues", name, vtype)
            if kind == "equal":
                return _and([_compare("lessThanOrEqual", mn, lit),
                             _compare("greaterThanOrEqual", mx, lit)])
            return _compare(kind, mx if kind.startswith("greater") else mn,
                            lit)
        if kind == "isNull":
            child = children[0]
            if child.get("op") != "column":
                return None
            if child["name"] in self.pcols:
                inner = self.exact(child)
                return pc.is_null(inner[0]), "bool"
            nulls = self.m.column("nullCount", child["name"], "long")
            return _compare("greaterThan", nulls,
                            (pa.scalar(0, pa.int64()), "int"))
        if kind == "and":
            parts = [p for p in map(self.stats, children) if p is not None]
            return _and(parts) if parts else None
        if kind == "or":
            parts = [self.stats(c) for c in children]
            return None if any(p is None for p in parts) else _or(parts)
        if kind == "not":
            # NOT over a range over-approximation is unsound: partition-
            # exact children only
            if not _referenced_columns(children[0]) <= self.pcols:
                return None
            inner = self.exact(children[0])
            return None if inner is None else (
                pc.invert(_predicate(inner)), "bool")
        if kind in ("column", "literal"):
            return self.exact(op)
        return None

    def exact(self, op: dict) -> "tuple | None":
        kind = op["op"]
        children = op.get("children", [])
        if kind == "column":
            if op["name"] not in self.pcols:
                return None
            return self.m.column("partitionValues", op["name"],
                                 op["valueType"])
        if kind == "literal":
            return self.literal(op)
        if kind == "and":
            parts = [p for p in map(self.exact, children) if p is not None]
            return _and(parts) if parts else None
        if kind == "or":
            parts = [self.exact(c) for c in children]
            return None if any(p is None for p in parts) else _or(parts)
        if kind in ("not", "isNull"):
            if not _referenced_columns(children[0]) <= self.pcols:
                return None
            inner = self.exact(children[0])
            if inner is None:
                return None
            if kind == "isNull":
                return pc.is_null(inner[0]), "bool"
            return pc.invert(_predicate(inner)), "bool"
        if kind in _BINARY_OPS:
            if not _comparable(*children):
                # Unknown once both sides resolve; leaves resolve unread
                return _UNKNOWN if all(
                    c["name"] in self.pcols if c.get("op") == "column"
                    else c.get("op") == "literal"
                    or self.exact(c) is not None for c in children) else None
            left, right = (self.exact(c) for c in children)
            if left is None or right is None:
                return None
            return _compare(kind, left, right)
        raise _Unmatched(f"op {kind!r}")


class ResidentManifest:
    """A snapshot's file manifest held on the driver: ``table`` is the
    manifest (``TableLog._manifest_columns``) as one path-sorted Arrow
    chunk. Serving reads it in Arrow: prune masks, path-range pages,
    counts and the kept rows' ``action_json``. ``df()`` hands it to Spark
    as a ``LocalRelation`` only for a DataFrame consumer (SQL hints, the
    engine's manifest probes).

    ``budgeted`` manifests were read from a checkpoint and count toward
    the log's resident byte budget; the others were built from AddFiles
    already on the driver."""

    def __init__(self, table: pa.Table, schema: T.StructType,
                 spec: "list[tuple[str, str]] | None",
                 session: Callable[[], SparkSession], budgeted: bool):
        self.table = table
        self.schema = schema
        self.session = session
        self.budgeted = budgeted
        self.nbytes = table.nbytes
        self._kinds = dict(spec or ())
        self._df: "DataFrame | None" = None
        # converted leaves and Catalyst-evaluated trees; concurrent
        # requests may both compute one, and either result is the same
        self._columns: "dict[tuple, tuple]" = {}
        self._masks: "dict[str, pa.Array]" = {}
        self._lock = threading.Lock()

    def counts(self) -> "tuple[int, int]":
        """(numFiles, total size in bytes)."""
        return (self.table.num_rows,
                pc.sum(self.table.column("size")).as_py() or 0)

    def df(self) -> DataFrame:
        with self._lock:
            if self._df is None:
                self._df = self.session().createDataFrame(self.table,
                                                          self.schema)
            return self._df

    def keep_mask(self, hints, partition_columns) -> "pa.Array | None":
        """The files ``file_keep_condition(hints, ...)`` keeps, as a
        boolean mask over ``table``; None keeps every file.
        ``hints`` must already use physical names."""
        tree = parse_predicate(hints)
        pcols = frozenset(partition_columns)
        try:
            cond = _Evaluator(self, pcols).stats(tree)
            keep = None if cond is None else _predicate(cond)
        except _Unmatched:
            return self._catalyst_mask(tree, pcols)
        if isinstance(keep, pa.Scalar):
            if keep.as_py() is not False:
                return None
            return pc.fill_null(pa.nulls(self.table.num_rows, pa.bool_()),
                                False)
        return None if keep is None else pc.fill_null(keep, True)

    def column(self, source: str, name: str, vtype: str) -> tuple:
        """Leaf ``name`` of ``source`` (``partitionValues`` or a stats
        column) as the hint's ``vtype`` reads it: (array, value class),
        converted once and cached."""
        key: tuple = (source, name, vtype)
        if vtype == "timestamp":
            key += (self.session().conf.get("spark.sql.session.timeZone"),)
        hit = self._columns.get(key)
        if hit is None:
            hit = self._columns[key] = (self._convert(source, name, vtype),
                                        _CLASS[vtype])
        return hit

    def _convert(self, source: str, name: str, vtype: str) -> pa.Array:
        if source == "partitionValues":
            if vtype == "string":
                # string-serialized partition value, "" == null
                raw = pc.map_lookup(self.table.column(source),
                                    pa.scalar(name), "first")
                return pc.if_else(pc.equal(raw, ""),
                                  pa.scalar(None, pa.string()), raw)
            expr = _leaf_column({"name": name, "valueType": vtype}, {name},
                                None)
            return self._fold([source], _collectable(expr, vtype),
                              _ARROW_TYPE[_CLASS[vtype]])
        if name not in self._kinds:
            expr, inputs = _json_stat(source, name, vtype), [source]
        else:
            parsed = f"{source}_parsed"
            kind = "i" if source == "nullCount" else self._kinds[name]
            if (kind, vtype) in _STORED_AS_READ:
                structs = self.table.column(parsed)
                return pc.struct_field(
                    structs, [structs.type.get_field_index(name)])
            expr, inputs = _typed_stat(parsed, name, vtype), [parsed]
        return self._fold(inputs, _collectable(expr, vtype),
                          _ARROW_TYPE[_CLASS[vtype]])

    def _catalyst_mask(self, tree: dict, pcols: frozenset) -> pa.Array:
        key = json.dumps([tree, sorted(pcols)], sort_keys=True, default=str)
        mask = self._masks.get(key)
        if mask is None:
            cond = file_keep_condition(tree, sorted(pcols),
                                       frozenset(self._kinds))
            inputs = [c for c in _STAT_SOURCES
                      if c in self.table.column_names]
            mask = self._fold(inputs, cond, pa.bool_())
            if len(self._masks) >= _MASKS_MAX:
                self._masks.clear()
            self._masks[key] = mask
        return mask

    def _fold(self, columns: "list[str]", expr: Column,
              arrow_type: pa.DataType) -> pa.Array:
        """``expr`` evaluated by Catalyst over ``columns`` of the
        manifest, collected as one array. The narrow input is handed to
        Spark in slices under its local-relation bound, so Catalyst folds
        each and no Spark job runs."""
        spark = self.session()
        narrow = self.table.select(columns)
        schema = T.StructType([self.schema[c] for c in columns])
        bound = (spark._jsparkSession.sessionState().conf()
                 .arrowLocalRelationThreshold())
        step = max(1, narrow.num_rows if bound <= 0 else
                   narrow.num_rows * (bound // 2) // max(1, narrow.nbytes))
        values: list = []
        for off in range(0, narrow.num_rows, step):
            df = spark.createDataFrame(narrow.slice(off, step), schema)
            values += [r[0] for r in df.select(expr).collect()]
        return pa.array(values, arrow_type)
