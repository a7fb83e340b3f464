"""``session.local_frame``: driver rows enter Spark as Arrow, not as a
pickled RDD.

The helper must give the same values and the same errors as
``createDataFrame(<list>, schema)``, build a ``LocalRelation`` (no
``LogicalRDD``) under the local-relation threshold, and never route a
package side table through Python workers again (the AST guard below).
"""

from __future__ import annotations

import ast
import datetime as dt
import math
import os
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from delta_sharing_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "delta_sharing_spark")

WIDE = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("m", T.MapType(T.StringType(), T.StringType())),
    T.StructField("a", T.ArrayType(T.DoubleType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.LongType()),
        T.StructField("inner", T.StructType([
            T.StructField("y", T.StringType()),
            T.StructField("zs", T.ArrayType(T.IntegerType())),
        ])),
    ])),
    T.StructField("dec", T.DecimalType(12, 2)),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
])

WIDE_ROWS = [
    ("a", 1, 2**40, 1.5, True, {"k": "v", "k2": None}, [1.0, float("nan")],
     (7, ("y", [1, None, 3])), Decimal("1234567890.12"),
     dt.date(2024, 2, 29), dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
     dt.datetime(1999, 12, 31, 23, 59, 59)),
    ("b", -7, -1, float("nan"), False, {}, [],
     (None, None), Decimal("-0.50"), dt.date(1970, 1, 1),
     dt.datetime(2024, 6, 1, 12, 0, tzinfo=dt.timezone(dt.timedelta(
         hours=5, minutes=30))),
     dt.datetime(2000, 1, 1)),
    (None,) * len(WIDE.fields),
]


def _norm(rows):
    """Collected rows with NaN made comparable."""
    def fix(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, tuple):
            return tuple(fix(x) for x in v)
        if isinstance(v, dict):
            return {k: fix(x) for k, x in v.items()}
        return v
    return [fix(tuple(r)) for r in rows]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestValues:
    def test_matches_list_path(self, spark):
        want = spark.createDataFrame(WIDE_ROWS, WIDE).collect()
        got = local_frame(spark, WIDE_ROWS, WIDE)
        assert got.schema == WIDE
        assert _norm(got.collect()) == _norm(want)
        assert "LocalRelation" in _plan(got)
        assert "LogicalRDD" not in _plan(got)

    def test_ddl_schema(self, spark):
        rows = [(1, "x"), (None, None)]
        got = local_frame(spark, rows, "v long, s string")
        want = spark.createDataFrame(rows, "v long, s string")
        assert got.schema == want.schema
        assert got.collect() == want.collect()

    def test_empty_rows(self, spark):
        got = local_frame(spark, [], WIDE)
        assert got.schema == WIDE
        assert got.collect() == []
        assert "LocalRelation" in _plan(got)

    def test_above_local_relation_threshold(self, spark):
        key = "spark.sql.execution.arrow.localRelationThreshold"
        want = spark.createDataFrame(WIDE_ROWS, WIDE).collect()
        spark.conf.set(key, "1")
        try:
            got = local_frame(spark, WIDE_ROWS, WIDE)
            assert "LocalRelation" not in _plan(got)
            assert _norm(got.collect()) == _norm(want)
        finally:
            spark.conf.unset(key)

    @pytest.mark.parametrize("row", [
        ("x", "not-an-int"),   # wrong type
        (None, 1),             # NULL in a non-nullable field
        ("x", 2**40),          # out of int range
        ("x",),                # wrong arity
    ])
    def test_bad_row_raises_list_path_error(self, spark, row):
        schema = T.StructType([T.StructField("s", T.StringType(), False),
                               T.StructField("i", T.IntegerType())])
        with pytest.raises(Exception) as listed:
            spark.createDataFrame([row], schema)
        with pytest.raises(type(listed.value)) as local:
            local_frame(spark, [row], schema)
        assert (getattr(local.value, "getCondition", lambda: None)()
                == getattr(listed.value, "getCondition", lambda: None)())

    def test_non_struct_schema_rejected(self, spark):
        with pytest.raises(TypeError):
            local_frame(spark, [(1,)], T.LongType())


def _jobs_in_group(spark, group: str, fn) -> tuple:
    """``fn()``'s result and the number of Spark jobs it ran, counted
    under a job group once the listener bus has delivered them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestJobBudget:
    @pytest.fixture()
    def rest_url(self, spark, tmp_path):
        """A profile URL for a tiny partitioned CDF table behind a live
        sharing server: a version with a delete after the create."""
        import json

        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.plans.log import TableLog
        from delta_sharing_spark.server import SharingServer

        path = str(tmp_path / "t")
        log = TableLog(spark, path)
        log.create(spark.range(40).selectExpr(
            "id", "cast(id % 3 as string) as cat"), partition_by=["cat"],
            configuration={"enableChangeDataFeed": "true"})
        log.delete("id < 5")
        cat = ShareCatalog(spark)
        cat.add_table("s", "d", "t", path, cdf_enabled=True)
        srv = SharingServer(cat, bearer_token="tok")
        url = srv.serve_background()
        prof = tmp_path / "profile.json"
        prof.write_text(json.dumps({"shareCredentialsVersion": 1,
                                    "endpoint": url, "bearerToken": "tok"}))
        try:
            yield f"{prof}#s.d.t"
        finally:
            srv.shutdown()

    def test_rest_side_tables_are_local_relations(self, spark, rest_url):
        from delta_sharing_spark.client import (
            load_as_spark,
            load_table_changes_as_spark,
        )

        snap = load_as_spark(rest_url, spark=spark)
        changes = load_table_changes_as_spark(rest_url, starting_version=0,
                                              spark=spark)
        for df in (snap, changes):
            plan = _plan(df)
            assert "LocalRelation" in plan
            assert "LogicalRDD" not in plan
        assert snap.count() == 35
        kinds = {r["_change_type"]: r["count"] for r in
                 changes.groupBy("_change_type").count().collect()}
        assert kinds == {"insert": 40, "delete": 5}

    def test_bpe_train_adds_no_job_to_its_vocabulary_collect(self, spark):
        # the merge table is a LocalRelation: collecting it runs no job,
        # so bpe_train costs exactly the jobs of its one vocabulary
        # collect (an AQE aggregate: map stage and result)
        from delta_sharing_spark.operators.tokenizer import (
            bpe_train,
            word_symbol_freqs,
        )

        docs = spark.createDataFrame(
            [("low lower lowest",), ("new newer newest",), ("low new",)],
            "text string")
        docs.cache().count()
        try:
            _, vocab_jobs = _jobs_in_group(
                spark, "bpe_vocab_budget",
                lambda: word_symbol_freqs(docs, "text").collect())
            merges, jobs = _jobs_in_group(
                spark, "bpe_train_budget",
                lambda: bpe_train(docs, "text", num_merges=4).collect())
        finally:
            docs.unpersist()
        assert len(merges) == 4
        assert vocab_jobs >= 1
        assert jobs == vocab_jobs


# Arrow-table methods that return an Arrow table
_ARROW_METHODS = {"slice", "sort_by", "select", "combine_chunks", "filter",
                  "take", "cast", "rename_columns"}


def _is_arrow(node: ast.expr, arrow_names: set[str]) -> bool:
    """Whether ``node`` visibly evaluates to an Arrow table: a ``pa.*``
    call, a ``*_arrow(...)`` builder, an attribute named ``table``, a
    name bound to one of these, or an Arrow-table method on one."""
    if isinstance(node, ast.Name):
        return node.id in arrow_names
    if isinstance(node, ast.Attribute):
        return node.attr == "table"
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)):
        return False
    root = node.func
    while isinstance(root, ast.Attribute):
        root = root.value
    if isinstance(root, ast.Name) and root.id in ("pa", "pyarrow"):
        return True
    if node.func.attr.endswith("_arrow"):
        return True
    return (node.func.attr in _ARROW_METHODS
            and _is_arrow(node.func.value, arrow_names))


def _scope_nodes(scope: ast.AST):
    """Every node in ``scope``, without descending into nested
    function definitions (each is a scope of its own)."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo.extend(ast.iter_child_nodes(node))


def _guard_offences(source: str) -> list[int]:
    """Lines of ``createDataFrame(...)`` calls, outside ``local_frame``,
    whose data argument is not visibly an Arrow table (so would be
    pickled rows through Python workers)."""
    tree = ast.parse(source)
    scopes = [tree] + [n for n in ast.walk(tree)
                       if isinstance(n, (ast.FunctionDef,
                                         ast.AsyncFunctionDef))
                       and n.name != "local_frame"]
    bad = []
    for scope in scopes:
        nodes = list(_scope_nodes(scope))
        arrow_names: set[str] = set()
        for node in nodes:
            if isinstance(node, ast.Assign) and _is_arrow(node.value, set()):
                arrow_names.update(t.id for t in node.targets
                                   if isinstance(t, ast.Name))
        for node in nodes:
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                continue
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None)
            if data is None or not _is_arrow(data, arrow_names):
                bad.append(node.lineno)
    return sorted(bad)


class TestGuard:
    def test_guard_flags_python_rows(self):
        src = """
def f(spark, rows, tbl):
    spark.createDataFrame(rows, "a long")
    spark.createDataFrame([], "a long")
    spark.createDataFrame([(1,)], "a long")
    spark.createDataFrame(data=[(v,) for v in rows], schema="a long")
    t = pa.table({"a": [1]})
    spark.createDataFrame(t)
    spark.createDataFrame(pa.Table.from_pylist([{"a": 1}]))
    spark.createDataFrame(self.table.slice(0, 1), "a long")
    spark.createDataFrame(self._manifest_arrow(x).sort_by("p"), s)

def local_frame(spark, rows, schema):
    return spark.createDataFrame(rows, schema)
"""
        assert _guard_offences(src) == [3, 4, 5, 6]

    def test_no_python_rows_reach_create_dataframe(self):
        offences = {}
        for root, _dirs, files in os.walk(PKG):
            for name in files:
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    with open(path) as f:
                        bad = _guard_offences(f.read())
                    if bad:
                        offences[os.path.relpath(path, PKG)] = bad
        assert offences == {}, (
            "createDataFrame over Python rows; use session.local_frame")
