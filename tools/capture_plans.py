"""Dump .explain('formatted') for headline queries into plans/$SPARK_GRAFT_PLANS_ROUND (default r13)/.

Usage: python tools/capture_plans.py <suffix: before|after> [query ...]
Defaults to every bench.HEADLINE query at $SPARK_GRAFT_SF_DIR.

``--manifest`` as the first argument dumps, instead, the manifest-prune
plan (``SharedTable._pruned_manifest(...).select("path")``) of the
workloads in MANIFEST_PRUNES into ``<query>_manifest_<suffix>.txt``:
their query plans read only the kept data files, so the plan over
``TableLog.files_df`` shows nowhere else.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


# query -> (fixture builder in workloads.engine, stats column of its hint)
MANIFEST_PRUNES = {
    "eng_prune_typed_manifest": ("_lineitem_manyv", "l_quantity"),
    "eng_prune_typed_nested": ("_lineitem_nested", "m.qty"),
}


def manifest_plan(spark, sf_dir: str, name: str) -> "DataFrame":
    """The workload's own manifest prune, as a DataFrame."""
    from delta_sharing_spark.table import SharedTable
    from delta_sharing_spark.workloads import engine

    fixture, column = MANIFEST_PRUNES[name]
    t = SharedTable(spark, getattr(engine, fixture)(spark, sf_dir))
    hints = {"op": "greaterThanOrEqual", "children": [
        {"op": "column", "name": column, "valueType": "double"},
        {"op": "literal", "value": "48", "valueType": "double"},
    ]}
    return t._pruned_manifest(t.log.snapshot(), hints, None,
                              None).select("path")


def main() -> None:
    manifest = sys.argv[1:2] == ["--manifest"]
    args = sys.argv[2:] if manifest else sys.argv[1:]
    suffix = args[0] if args else "before"
    names = args[1:] or (list(MANIFEST_PRUNES) if manifest
                         else bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)

    from delta_sharing_spark import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="dss_plans")
    qs = entry_mod.queries()
    for name in names:
        try:
            df = (manifest_plan(spark, sf_dir, name) if manifest
                  else qs[name](spark, sf_dir))
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc!r}\n"
        kind = "_manifest" if manifest else ""
        path = os.path.join(out_dir, f"{name}{kind}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"[plans] {name} -> {path}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
