"""Metadata-plane scale micro-bench: million-file manifests, measured.

SCALE.md claims the metadata plane stays usable at 100 TB table sizes
(millions of files, thousands of commits). This tool proves it with wall
times on SYNTHETIC manifests — no data files are scanned; the checkpoint
parquet and commit JSONs are the inputs, exactly like production cold
starts. Run via ``make scale`` (defaults: 1,000,000 files, 2,000 commits).

Timed sections
--------------
checkpoint_write   build + write the synthetic checkpoint parquet (setup,
                   reported for context — production writes checkpoints
                   incrementally, one per N commits)
cold_snapshot      fresh TableLog -> snapshot(): checkpoint parse +
                   AddFile materialization (driver-side, O(files))
warm_snapshot      second snapshot() on the same TableLog (cache hit)
files_df_prune     kept_adds() with a min/max stats predicate —
                   the DataFrame path (a Spark job over the checkpoint)
limit_prefix       kept_adds(limit_hint=...) -> the distributed
                   two-phase prefix sum; plan-asserted: every WindowExec
                   is partitioned by _pid (no single-task window)
cdf_plan + cdf_count
                   table_changes() over a 2,000-commit CDF log: plan
                   build must be O(commits) driver work + ONE parquet
                   scan per action kind (plan-asserted), never one scan
                   per version
resident_<n>k     (only with ``--resident-only``, which runs the warmup
                   and these sections alone) a hinted prune (kept_adds,
                   1% of files kept) and one 1000-file page on a
                   20k-file manifest, which the log holds
                   driver-resident, and on a 150k-file one above Spark's
                   local-relation bound, which it scans; each repeated
                   with the bound set to 0 (scan storage), and the kept
                   sets and pages asserted equal
arrow_prune_<n>k   (also ``--resident-only``) per hint, the warm prune
                   (kept_adds) of a 10k, 20k and 80k-file resident
                   manifest: median wall time, Python thread CPU and
                   process-tree CPU (Python + JVM) in the Arrow evaluator,
                   next to the same prune with the bound set to 0 (the
                   Catalyst scan); the kept sets are asserted equal
resident_heap      (also ``--resident-only``) JVM heap after a full GC,
                   and the Arrow bytes held, with 4 handles each holding
                   an 80k-file manifest driver-resident (just under the
                   default bound), and a hinted prune alternating between
                   two versions of one of them: the newer stays resident,
                   the older no longer fits the log's budget and takes
                   its cached scan plan, neither is rebuilt

Output: one JSON line with all timings, plus a markdown table on stderr
ready to paste into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
    ],
})

ROWS_PER_FILE = 1_000


def build_manifest_table(n_files: int, version: int):
    """The synthetic checkpoint as a pyarrow table: n_files add rows with
    disjoint id ranges (file i covers [i*1000, (i+1)*1000)), one 'cat'
    partition value cycling over 16 values, plus metaData/protocol rows —
    the exact schema TableLog.write_checkpoint emits."""
    from delta_sharing_spark.plans.actions import (
        Metadata, Protocol, dumps_action)

    meta = Metadata(id="scale-bench", name="scale_bench",
                    schemaString=SCHEMA_JSON, partitionColumns=["cat"],
                    configuration={"enableChangeDataFeed": "false"})
    kinds = ["metaData", "protocol"]
    jsons = [dumps_action(meta), dumps_action(Protocol())]
    paths, pvs, sizes = [None, None], [None, None], [None, None]
    nrecs, mins, maxs = [None, None], [None, None], [None, None]
    nulls, vers, tss = [None, None], [None, None], [None, None]
    (ak, aj, ap_, apv, asz, anr, amn, amx, anu, avr, ats) = \
        _synth_add_columns(0, n_files, version)
    kinds += ak
    jsons += aj
    paths += ap_
    pvs += apv
    sizes += asz
    nrecs += anr
    mins += amn
    maxs += amx
    nulls += anu
    vers += avr
    tss += ats
    # the column layout comes from the engine itself (the one
    # definition), so the bench can never drift onto a stale format —
    # including the r10 typed *_parsed stats structs (stats_field_spec
    # over the same schema the table's metaData declares)
    from pyspark.sql import types as T

    from delta_sharing_spark.plans.log import (
        checkpoint_arrow_table, stats_field_spec)

    spec = stats_field_spec(T.StructType.fromJson(json.loads(SCHEMA_JSON)))
    return checkpoint_arrow_table(kinds, jsons, paths, pvs, sizes, nrecs,
                                  mins, maxs, nulls, vers, tss,
                                  stats_fields=spec)


def _synth_add_columns(lo: int, hi: int, version: int):
    """Column lists for synthetic add rows [lo, hi) — the per-chunk body
    shared by the single-table builder and the part-by-part writer."""
    from delta_sharing_spark.plans.actions import AddFile  # noqa: F401

    kinds, jsons, paths, pvs, sizes = [], [], [], [], []
    nrecs, mins, maxs, nulls, vers, tss = [], [], [], [], [], []
    ts0 = 1_700_000_000_000
    dumps = json.dumps
    for i in range(lo, hi):
        flo, fhi = i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE - 1
        cat = f"c{i % 16:02d}"
        path = f"data/cat={cat}/part-{i:08d}.parquet"
        stats = dumps({
            "numRecords": ROWS_PER_FILE,
            "minValues": {"id": flo, "v": 0.0},
            "maxValues": {"id": fhi, "v": 1.0},
            "nullCount": {"id": 0, "v": 0},
        })
        # literal wrapper instead of dumps_action(AddFile(...)): same
        # bytes, ~4x faster to build a million of them (setup cost only)
        kinds.append("add")
        jsons.append(dumps({"add": {
            "path": path, "partitionValues": {"cat": cat},
            "size": 4_000_000, "stats": stats, "dataChange": True,
            "version": version, "timestamp": ts0,
        }}))
        paths.append(path)
        pvs.append([("cat", cat)])
        sizes.append(4_000_000)
        nrecs.append(ROWS_PER_FILE)
        mins.append({"id": flo, "v": 0.0})
        maxs.append({"id": fhi, "v": 1.0})
        nulls.append({"id": 0, "v": 0})
        vers.append(version)
        tss.append(ts0)
    return (kinds, jsons, paths, pvs, sizes, nrecs, mins, maxs, nulls,
            vers, tss)


def write_synthetic_table(root: str, n_files: int) -> float:
    """Table dir with one commit JSON at version 0 + a checkpoint parquet
    carrying the whole manifest. Returns checkpoint write seconds."""
    from delta_sharing_spark.plans.actions import (
        CommitInfo, Metadata, Protocol, dumps_action)
    from delta_sharing_spark.plans.log import (
        LOG_DIR, _fmt_checkpoint, _fmt_version)

    log_dir = os.path.join(root, LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    meta = Metadata(id="scale-bench", name="scale_bench",
                    schemaString=SCHEMA_JSON, partitionColumns=["cat"],
                    configuration={"enableChangeDataFeed": "false"})
    info = CommitInfo(version=0, timestamp=1_700_000_000_000,
                      operation="CREATE")
    with open(os.path.join(log_dir, _fmt_version(0)), "w") as f:
        f.write(dumps_action(Protocol()) + "\n")
        f.write(dumps_action(meta) + "\n")
        f.write(dumps_action(info) + "\n")
    t0 = time.perf_counter()
    from delta_sharing_spark.plans.log import (
        CHECKPOINT_PARALLEL_MIN_FILES,
        CHECKPOINT_PART_ROWS,
        CHECKPOINT_ROW_GROUP_ROWS,
        checkpoint_arrow_table,
        stats_field_spec,
        write_checkpoint_files,
    )

    final = os.path.join(log_dir, _fmt_checkpoint(0))
    if n_files >= CHECKPOINT_PARALLEL_MIN_FILES:
        # large manifest: generate and write one part at a time, so only
        # one part's rows are ever in memory
        import uuid

        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        spec = stats_field_spec(
            T.StructType.fromJson(json.loads(SCHEMA_JSON)))
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        os.makedirs(tmp)
        blank = [None, None]
        head = checkpoint_arrow_table(
            ["metaData", "protocol"],
            [dumps_action(meta), dumps_action(Protocol())],
            list(blank), list(blank), list(blank), list(blank),
            list(blank), list(blank), list(blank), list(blank),
            list(blank), stats_fields=spec)
        pq.write_table(head, os.path.join(tmp, "part-00000.parquet"),
                       row_group_size=CHECKPOINT_ROW_GROUP_ROWS)
        for i, lo in enumerate(range(0, n_files, CHECKPOINT_PART_ROWS)):
            hi = min(lo + CHECKPOINT_PART_ROWS, n_files)
            t = checkpoint_arrow_table(*_synth_add_columns(lo, hi, 0),
                                       stats_fields=spec)
            pq.write_table(t, os.path.join(tmp, f"part-{i + 1:05d}.parquet"),
                           row_group_size=CHECKPOINT_ROW_GROUP_ROWS)
        os.rename(tmp, final)
    else:
        table = build_manifest_table(n_files, version=0)
        # the engine's own writer: single-file vs multi-part split
        write_checkpoint_files(table, final)
    return time.perf_counter() - t0


def write_cdf_table(root: str, n_commits: int) -> None:
    """A 2,000-commit CDF history: first half cdc commits, second half
    plain dataChange appends. All file paths hard-link one tiny parquet so
    the scan plan is real without writing thousands of distinct files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_sharing_spark.plans.actions import (
        CommitInfo, Metadata, Protocol, dumps_action)
    from delta_sharing_spark.plans.log import (
        CDC_DIR, DATA_DIR, LOG_DIR, _fmt_version)

    log_dir = os.path.join(root, LOG_DIR)
    cdc_dir = os.path.join(root, CDC_DIR)
    data_dir = os.path.join(root, DATA_DIR)
    for d in (log_dir, cdc_dir, data_dir):
        os.makedirs(d, exist_ok=True)
    meta = Metadata(id="scale-bench-cdf", name="scale_bench_cdf",
                    schemaString=SCHEMA_JSON,
                    configuration={"enableChangeDataFeed": "true"})
    seed_cdc = os.path.join(cdc_dir, "seed.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "v": pa.array([0.5, 0.7], pa.float64()),
        "cat": pa.array(["c00", "c01"], pa.string()),
        "_change_type": pa.array(
            ["update_preimage", "update_postimage"], pa.string()),
    }), seed_cdc)
    seed_add = os.path.join(data_dir, "seed.parquet")
    pq.write_table(pa.table({
        "id": pa.array([3, 4], pa.int64()),
        "v": pa.array([0.1, 0.2], pa.float64()),
        "cat": pa.array(["c02", "c03"], pa.string()),
    }), seed_add)
    ts0 = 1_700_000_000_000
    for v in range(n_commits):
        lines = []
        if v == 0:
            lines.append(dumps_action(Protocol()))
            lines.append(dumps_action(meta))
        if v < n_commits // 2:
            rel = f"{CDC_DIR}/cdc-{v:06d}.parquet"
            os.link(seed_cdc, os.path.join(root, rel))
            lines.append(json.dumps({"cdc": {
                "path": rel, "partitionValues": {}, "size": 1024}}))
        else:
            rel = f"{DATA_DIR}/part-{v:06d}.parquet"
            os.link(seed_add, os.path.join(root, rel))
            lines.append(json.dumps({"add": {
                "path": rel, "partitionValues": {}, "size": 1024,
                "stats": json.dumps({"numRecords": 2}),
                "dataChange": True}}))
        lines.append(dumps_action(
            CommitInfo(version=v, timestamp=ts0 + v, operation="WRITE")))
        with open(os.path.join(log_dir, _fmt_version(v)), "w") as f:
            f.write("\n".join(lines) + "\n")


def stats_predicate(lo: int, hi: int) -> dict:
    """id BETWEEN lo AND hi as a V2 op tree (stats-based skipping)."""
    col = {"op": "column", "name": "id", "valueType": "long"}
    return {"op": "and", "children": [
        {"op": "greaterThanOrEqual", "children": [
            col, {"op": "literal", "value": str(lo), "valueType": "long"}]},
        {"op": "lessThanOrEqual", "children": [
            col, {"op": "literal", "value": str(hi), "valueType": "long"}]},
    ]}


def assert_partitioned_windows(manifest, limit: int) -> None:
    """The prefix-sum window stage (phase 2) must partition by _pid."""
    import re

    from pyspark.sql import functions as F
    from delta_sharing_spark.table import SharedTable

    m = manifest.repartitionByRange(8, "path").withColumn(
        "_pid", F.spark_partition_id())
    staged = SharedTable._prefix_filtered(m, {0: 0}, limit)
    plan = staged._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    assert specs, "expected a window in the limit-prefix plan"
    for spec in specs:
        assert "_pid" in spec, f"unpartitioned window at scale: {spec}"


def count_parquet_scans(df) -> int:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Scan parquet|FileScan parquet", plan))


RESIDENT_SIZES = (20_000, 150_000)
ARROW_PRUNE_SIZES = (10_000, 20_000, 80_000)
WARMUP_FILES = 10_000
RESIDENT_HEAP_FILES = 80_000
RESIDENT_HEAP_TABLES = 4


def _job_ids(spark) -> set:
    """Every job the driver knows, once the listener bus is drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def _storage(log, snap) -> str:
    return "resident" if log.resident_manifest(snap) is not None else "scan"


def resident_sections(spark, workdir: str, out: dict) -> None:
    """The ``resident_<n>k`` sections (see the module docstring)."""
    from delta_sharing_spark.plans.log import TableLog, manifest_session
    from delta_sharing_spark.table import SharedTable

    meta = manifest_session(spark)
    key = "spark.sql.execution.arrow.localRelationThreshold"

    def jobs() -> set:
        return _job_ids(spark)

    def measure(root: str, n: int, tag: str) -> tuple:
        table = SharedTable(spark, root)
        snap = table.log.snapshot()
        t0 = time.perf_counter()
        out[f"{tag}_storage"] = _storage(table.log, snap)
        out[f"{tag}_build_s"] = round(time.perf_counter() - t0, 3)
        table.log.file_counts(snap)  # the once-per-snapshot count
        keep = n // 100
        hints = stats_predicate(0, keep * ROWS_PER_FILE - 1)
        before = jobs()
        t0 = time.perf_counter()
        kept = [a.path for a in table.kept_adds(snap, hints)]
        out[f"{tag}_prune_s"] = round(time.perf_counter() - t0, 3)
        out[f"{tag}_prune_jobs"] = len(jobs() - before)
        assert len(kept) == keep, (len(kept), keep)
        t0 = time.perf_counter()
        page = table.query_actions(max_files=1_000)
        out[f"{tag}_page_s"] = round(time.perf_counter() - t0, 3)
        files = [ln["file"]["id"] for ln in page["actions"] if "file" in ln]
        assert len(files) == 1_000, len(files)
        assert not snap.files_materialized
        return kept, files

    for n in RESIDENT_SIZES:
        root = os.path.join(workdir, f"resident_{n}")
        os.makedirs(root, exist_ok=True)
        write_synthetic_table(root, n)
        tag = f"resident_{n // 1000}k"
        # twice: the second, warm pass is the one reported
        for _ in range(2):
            got = measure(root, n, tag)
            meta.conf.set(key, "0")
            try:
                want = measure(root, n, f"{tag}_scan")
            finally:
                meta.conf.unset(key)
        assert out[f"{tag}_scan_storage"] == "scan"
        assert got == want, f"{tag}: kept set or page differs by storage"
        shutil.rmtree(root, ignore_errors=True)


def resident_heap_sections(spark, workdir: str, out: dict) -> None:
    """The ``resident_heap`` section (see the module docstring)."""
    from delta_sharing_spark.table import SharedTable

    jvm = spark._jvm

    def heap_mb() -> int:
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.3)
        rt = jvm.java.lang.Runtime.getRuntime()
        return round((rt.totalMemory() - rt.freeMemory()) / 2**20)

    n, k = RESIDENT_HEAP_FILES, RESIDENT_HEAP_TABLES
    hints = stats_predicate(0, n // 100 * ROWS_PER_FILE - 1)
    out["resident_heap_base_mb"] = heap_mb()
    roots, tables = [], []
    for i in range(k):
        root = os.path.join(workdir, f"resident_heap_{i}")
        os.makedirs(root, exist_ok=True)
        write_synthetic_table(root, n)
        table = SharedTable(spark, root)
        snap = table.log.snapshot()
        assert _storage(table.log, snap) == "resident"
        assert len(table.kept_adds(snap, hints)) == n // 100
        roots.append(root)
        tables.append(table)
    out["resident_heap_mb"] = heap_mb()
    out["resident_heap_per_table_mb"] = round(
        (out["resident_heap_mb"] - out["resident_heap_base_mb"]) / k)
    out["resident_arrow_per_table_mb"] = round(sum(
        t.log.resident_manifest(t.log.snapshot()).nbytes
        for t in tables) / k / 2**20)
    # one handle, one appended commit, then hinted prunes of the new
    # (1) and the old (0) version in turn
    lo = n * ROWS_PER_FILE
    tables[0].log.append(spark.range(lo, lo + 10).selectExpr(
        "id", "cast(id as double) as v", "'c00' as cat"))
    # a fresh handle, as a server resolves it: lazy snapshots (the
    # writer's own latest snapshot is materialized by the commit)
    table = SharedTable(spark, roots[0])
    snaps = {v: table.log.snapshot(version=v) for v in (1, 0)}
    for snap in snaps.values():
        table.kept_adds(snap, hints)  # each version's manifest, once
    wall = {v: [] for v in snaps}
    jobs = {v: 0 for v in snaps}
    for _ in range(8):
        for v, snap in snaps.items():
            before = _job_ids(spark)
            t0 = time.perf_counter()
            assert len(table.kept_adds(snap, hints)) == n // 100
            wall[v].append(time.perf_counter() - t0)
            jobs[v] = max(jobs[v], len(_job_ids(spark) - before))
    for v, snap in snaps.items():
        tag = f"resident_alt_v{v}"
        out[f"{tag}_storage"] = _storage(table.log, snap)
        out[f"{tag}_prune_s"] = round(sorted(wall[v])[len(wall[v]) // 2], 3)
        out[f"{tag}_prune_jobs"] = jobs[v]
    assert out["resident_alt_v1_storage"] == "resident"
    assert out["resident_alt_v0_storage"] == "scan"
    for root in roots:
        shutil.rmtree(root, ignore_errors=True)


def arrow_prune_sections(spark, workdir: str, out: dict) -> None:
    """The ``arrow_prune_<n>k`` sections (see the module docstring)."""
    import statistics

    from delta_sharing_spark.plans.log import manifest_session
    from delta_sharing_spark.table import SharedTable
    from perfbench.proc import tree_cpu_s

    meta = manifest_session(spark)
    key = "spark.sql.execution.arrow.localRelationThreshold"

    def hints(n: int) -> dict:
        cat = {"op": "equal", "children": [
            {"op": "column", "name": "cat", "valueType": "string"},
            {"op": "literal", "value": "c03", "valueType": "string"}]}
        return {
            "stats": stats_predicate(0, n // 100 * ROWS_PER_FILE - 1),
            "partition": cat,
            "both": {"op": "and", "children": [
                cat, stats_predicate(0, n // 2 * ROWS_PER_FILE)]},
        }

    def measure(root: str, name: str, hint: dict, tag: str) -> list:
        table = SharedTable(spark, root)
        snap = table.log.snapshot()
        out[f"{tag}_storage"] = _storage(table.log, snap)
        kept = [a.path for a in table.kept_adds(snap, hint)]  # warm
        wall, thread, tree, jobs = [], [], [], 0
        for _ in range(7):
            before = _job_ids(spark)
            w, c, t = time.perf_counter(), time.thread_time(), tree_cpu_s()
            assert [a.path for a in table.kept_adds(snap, hint)] == kept
            wall.append(time.perf_counter() - w)
            thread.append(time.thread_time() - c)
            tree.append(tree_cpu_s() - t)
            jobs = max(jobs, len(_job_ids(spark) - before))
        for metric, vals in (("wall", wall), ("thread_cpu", thread),
                             ("tree_cpu", tree)):
            out[f"{tag}_{name}_{metric}_ms"] = round(
                statistics.median(vals) * 1000, 1)
        out[f"{tag}_{name}_jobs"] = jobs
        out[f"{tag}_{name}_kept"] = len(kept)
        return kept

    for n in ARROW_PRUNE_SIZES:
        root = os.path.join(workdir, f"arrow_{n}")
        os.makedirs(root, exist_ok=True)
        write_synthetic_table(root, n)
        tag = f"arrow_prune_{n // 1000}k"
        for name, hint in hints(n).items():
            got = measure(root, name, hint, tag)
            meta.conf.set(key, "0")
            try:
                want = measure(root, name, hint, f"{tag}_scan")
            finally:
                meta.conf.unset(key)
            assert got == want, f"{tag} {name}: kept sets differ"
        assert out[f"{tag}_storage"] == "resident"
        assert out[f"{tag}_scan_storage"] == "scan"
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=1_000_000)
    ap.add_argument("--commits", type=int, default=2_000)
    ap.add_argument("--workdir", default="/tmp/dsl_scale_bench")
    ap.add_argument("--keep", action="store_true",
                    help="keep the synthetic tables on disk")
    ap.add_argument("--lazy-only", action="store_true",
                    help="stop after the lazy-plane + materialization "
                         "sections (skip clustering/CDF/v2-checkpoint — "
                         "the 5M-file gate run)")
    ap.add_argument("--resident-only", action="store_true",
                    help="run only the warmup and the resident_<n>k "
                         "and resident_heap sections (not part of the "
                         "default run, so its "
                         "million-file sections run on an unchanged JVM)")
    args = ap.parse_args()

    from delta_sharing_spark.session import get_spark
    from delta_sharing_spark.table import SharedTable
    from delta_sharing_spark.plans.log import TableLog, manifest_session
    from delta_sharing_spark.cdf import table_changes

    spark = get_spark()
    out: dict[str, float | int] = {"files": args.files,
                                   "commits": args.commits}

    shutil.rmtree(args.workdir, ignore_errors=True)

    # --- warmup: run every operator shape once on a small table so the
    # timed sections measure scaling, not JVM/JIT/AQE first-job overhead
    # (first-job cost measured ~5s regardless of manifest size).
    small = os.path.join(args.workdir, "small")
    os.makedirs(small, exist_ok=True)
    write_synthetic_table(small, WARMUP_FILES)
    slog = TableLog(spark, small)
    ssnap = slog.snapshot()
    stable = SharedTable(spark, small)
    from delta_sharing_spark.plans.predicates import (
        file_keep_condition, parsed_stat_fields)

    # warm the checkpoint-scan plans the million-file sections run: a
    # 10k-file manifest would otherwise be driver-resident (below Spark's
    # local-relation bound), so the bound is set to 0 for the warmup
    meta = manifest_session(spark)
    meta.conf.set("spark.sql.execution.arrow.localRelationThreshold", "0")
    try:
        warm_manifest = TableLog(spark, small).files_df(ssnap)
    finally:
        meta.conf.unset("spark.sql.execution.arrow.localRelationThreshold")
    warm_hints = stats_predicate(0, 999)
    warm_manifest.filter(
        file_keep_condition(warm_hints, ssnap.partition_columns,
                            parsed_stat_fields(warm_manifest))
    ).select("path").collect()
    stable._limit_prefix_filter(warm_manifest, 1_000).count()

    if args.resident_only:
        resident_sections(spark, args.workdir, out)
        arrow_prune_sections(spark, args.workdir, out)
        resident_heap_sections(spark, args.workdir, out)
        shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps(out))
        sys.stderr.write(
            "\n| Path | Measured | Shape |\n|---|---|---|\n" + "".join(
                f"| Hinted prune / 1000-file page, {n // 1000}k files |"
                f" {out[f'resident_{n // 1000}k_prune_s']}s /"
                f" {out[f'resident_{n // 1000}k_page_s']}s"
                f" | {out[f'resident_{n // 1000}k_storage']} manifest,"
                f" {out[f'resident_{n // 1000}k_prune_jobs']} prune jobs |\n"
                for n in RESIDENT_SIZES)
            + "".join(
                f"| Hinted prune ({h}), {n // 1000}k files, Arrow / scan |"
                f" {out[f'arrow_prune_{n // 1000}k_{h}_wall_ms']} /"
                f" {out[f'arrow_prune_{n // 1000}k_scan_{h}_wall_ms']} ms"
                " wall; tree CPU"
                f" {out[f'arrow_prune_{n // 1000}k_{h}_tree_cpu_ms']} /"
                f" {out[f'arrow_prune_{n // 1000}k_scan_{h}_tree_cpu_ms']}"
                f" ms | {out[f'arrow_prune_{n // 1000}k_{h}_kept']} kept,"
                f" {out[f'arrow_prune_{n // 1000}k_{h}_jobs']} /"
                f" {out[f'arrow_prune_{n // 1000}k_scan_{h}_jobs']} jobs |\n"
                for n in ARROW_PRUNE_SIZES
                for h in ("stats", "partition", "both"))
            + f"| JVM heap, {RESIDENT_HEAP_TABLES} resident"
            f" {RESIDENT_HEAP_FILES // 1000}k-file manifests |"
            f" +{out['resident_heap_mb'] - out['resident_heap_base_mb']} MB"
            f" ({out['resident_heap_per_table_mb']} MB each) |"
            " after a full GC; Arrow"
            f" {out['resident_arrow_per_table_mb']} MB each |\n"
            + "| Hinted prune alternating two versions, new / old |"
            f" {out['resident_alt_v1_prune_s']}s /"
            f" {out['resident_alt_v0_prune_s']}s |"
            f" {out['resident_alt_v1_storage']}"
            f" ({out['resident_alt_v1_prune_jobs']} jobs) /"
            f" {out['resident_alt_v0_storage']}"
            f" ({out['resident_alt_v0_prune_jobs']} jobs) |\n")
        return

    big = os.path.join(args.workdir, "big")
    os.makedirs(big, exist_ok=True)
    out["checkpoint_write_s"] = round(
        write_synthetic_table(big, args.files), 3)
    cp = os.path.join(big, "_dsl_log",
                      "00000000000000000000.checkpoint.parquet")
    if os.path.isdir(cp):
        size = sum(os.path.getsize(os.path.join(cp, f))
                   for f in os.listdir(cp))
        out["checkpoint_parts"] = len(os.listdir(cp))
    else:
        size = os.path.getsize(cp)
        out["checkpoint_parts"] = 1
    out["checkpoint_mb"] = round(size / 1e6, 1)

    # --- cold snapshot: checkpoint parse + AddFile materialization.
    # Driver-memory gate: the resident-set growth across the cold
    # resolution must be O(manifest) — bounded by a small per-file
    # constant (AddFile dataclass + stats strings), never O(rows). At
    # 1M files that budget is < 4 GB (measured ~0.2 GB); a regression to
    # row-proportional memory would blow far past it. Measured from
    # CURRENT VmRSS (not ru_maxrss, a monotone high-watermark an earlier
    # bench phase could have pushed past the snapshot's own use — the
    # delta would then read 0 and the gate would pass vacuously).

    def vm_rss_kb() -> int:
        # fail LOUDLY when the reading is unavailable — a silent 0 would
        # make the gate pass vacuously, the exact failure mode this
        # replaced in the ru_maxrss version
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        raise RuntimeError(
            "VmRSS not found in /proc/self/status — cannot measure the "
            "driver-memory gate on this platform")

    rss0_kb = vm_rss_kb()
    t0 = time.perf_counter()
    log = TableLog(spark, big)
    snap = log.snapshot()
    out["cold_snapshot_s"] = round(time.perf_counter() - t0, 3)
    out["cold_snapshot_rss_growth_mb"] = round(
        max(0, vm_rss_kb() - rss0_kb) / 1024, 1)
    # lazy resolution: the cold snapshot must NOT have parsed the
    # O(files) add actions — counts come from the manifest plane
    assert not snap.files_materialized, \
        "cold snapshot materialized the file list"
    nf, sz = log.file_counts(snap)
    assert nf == args.files, (nf, args.files)
    t0 = time.perf_counter()
    log.snapshot()
    out["warm_snapshot_s"] = round(time.perf_counter() - t0, 6)

    table = SharedTable(spark, big)

    # --- paged query RPC over the lazy manifest: ONE page of 1000 file
    # actions (prune + orderBy + offset/limit as a single Spark job);
    # the driver holds only the served page. A second page via the
    # token proves the offset path.
    t0 = time.perf_counter()
    page1 = table.query_actions(max_files=1_000)
    out["paged_rpc_s"] = round(time.perf_counter() - t0, 3)
    n_page = sum(1 for ln in page1["actions"] if "file" in ln)
    assert n_page == 1_000, n_page
    assert page1["nextPageToken"]
    t0 = time.perf_counter()
    page2 = table.query_actions(max_files=1_000,
                                page_token=page1["nextPageToken"])
    out["paged_rpc_page2_s"] = round(time.perf_counter() - t0, 3)
    assert sum(1 for ln in page2["actions"] if "file" in ln) == 1_000
    assert not table.log.snapshot().files_materialized, \
        "paged RPC materialized the file list"
    # --- stats prune over the DataFrame path (files >> driver threshold).
    # Predicate keeps 1% of files by id range; verify exact file count.
    keep_files = args.files // 100
    hints = stats_predicate(0, keep_files * ROWS_PER_FILE - 1)
    t0 = time.perf_counter()
    kept = [a.path for a in
            table.kept_adds(snap, json_predicate_hints=hints)]
    out["files_df_prune_s"] = round(time.perf_counter() - t0, 3)
    assert len(kept) == keep_files, (len(kept), keep_files)

    # --- limit prefix: cut at ~0.5% of rows; plan-asserted partitioned
    limit = (args.files // 200) * ROWS_PER_FILE + 1
    assert_partitioned_windows(log.files_df(snap), limit)
    t0 = time.perf_counter()
    kept = [a.path for a in table.kept_adds(snap, limit_hint=limit)]
    out["limit_prefix_s"] = round(time.perf_counter() - t0, 3)
    assert len(kept) == args.files // 200 + 1, len(kept)

    # --- THE round-9 gate: cold snapshot + counts + paged RPC + prune +
    # limit all ran on the lazy plane — total driver RSS growth must be
    # sub-linear in files (bounded by page/kept-set sizes, never
    # O(files) AddFile objects). Budget: 300 MB at any file count.
    out["lazy_plane_rss_growth_mb"] = round(
        max(0, vm_rss_kb() - rss0_kb) / 1024, 1)
    assert not snap.files_materialized
    if out["lazy_plane_rss_growth_mb"] >= 300:
        raise RuntimeError(
            f"driver RSS grew {out['lazy_plane_rss_growth_mb']} MB across "
            f"the lazy metadata plane at {args.files:,} files — no longer "
            "sub-linear")

    # --- explicit materialization (write/maintenance paths still need
    # the full list): the old cold-start cost, now paid only on demand
    t0 = time.perf_counter()
    assert len(snap.files) == args.files
    out["materialize_s"] = round(time.perf_counter() - t0, 3)
    out["materialize_rss_growth_mb"] = round(
        max(0, vm_rss_kb() - rss0_kb) / 1024, 1)
    if out["materialize_rss_growth_mb"] >= 4096 * (args.files / 1e6):
        raise RuntimeError(
            f"driver RSS grew {out['materialize_rss_growth_mb']} MB "
            f"materializing a {args.files:,}-file manifest — no longer "
            "O(files) bounded")

    # --- the ENGINE's own checkpoint write (the real maintenance path,
    # not the synthetic setup): above CHECKPOINT_PARALLEL_MIN_FILES, with
    # the synthetic checkpoint as the prior one, it runs as a Spark job
    # over the manifest DataFrame — Delta's checkpoint shape.
    t0 = time.perf_counter()
    log.write_checkpoint()
    out["engine_checkpoint_write_s"] = round(time.perf_counter() - t0, 3)

    if args.lazy_only:
        if not args.keep:
            shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps(out))
        return

    # --- clustering report over the million-file manifest: the liquid
    # diagnostic must be a metadata-plane job (probe sample + one
    # containment join per column), never a data scan. The synthetic
    # layout is perfectly clustered on id (disjoint 1k ranges), so the
    # measured point-lookup cost must come out ~1 file per probe.
    t0 = time.perf_counter()
    rep = table.clustering_report(columns=["id"], probes=16).collect()[0]
    out["clustering_report_s"] = round(time.perf_counter() - t0, 3)
    assert rep.n_files == args.files, rep
    assert rep.avg_files_per_probe is not None \
        and rep.avg_files_per_probe <= 2.0, rep
    out["clustering_avg_files_per_probe"] = rep.avg_files_per_probe

    # --- CDF over a long history: one scan per action kind
    cdf_root = os.path.join(args.workdir, "cdf")
    write_cdf_table(cdf_root, args.commits)
    t0 = time.perf_counter()
    changes = table_changes(spark, cdf_root, starting_version=0)
    out["cdf_plan_s"] = round(time.perf_counter() - t0, 3)
    scans = count_parquet_scans(changes)
    assert scans == 2, f"expected 2 parquet scans (cdc + add), got {scans}"
    out["cdf_parquet_scans"] = scans
    t0 = time.perf_counter()
    n = changes.count()
    out["cdf_count_s"] = round(time.perf_counter() - t0, 3)
    assert n == args.commits * 2, n

    # --- V2 checkpoints at the million-file plane: first write builds
    # every sidecar; after a 1-file commit the rewrite touches exactly
    # one bucket — the incremental property that replaces a full
    # manifest rewrite per interval. (Runs LAST: it replaces the big
    # table's classic checkpoint with a v2 manifest.)
    from delta_sharing_spark.plans.actions import dumps_action as _da
    from delta_sharing_spark.plans.actions import AddFile as _Add
    from delta_sharing_spark.plans.actions import CommitInfo as _CI
    from delta_sharing_spark.plans.log import _fmt_version as _fv

    t0 = time.perf_counter()
    log._write_checkpoint_v2(snap)
    out["v2_checkpoint_full_s"] = round(time.perf_counter() - t0, 3)
    out["v2_sidecars"] = len(log._checkpoint_sidecars(0))
    add = _Add(path="data/extra-00001.parquet", partitionValues={"cat": "z"},
               size=1000, stats=json.dumps({"numRecords": ROWS_PER_FILE}))
    with open(os.path.join(big, "_dsl_log", _fv(1)), "w") as f:
        f.write(_da(add) + "\n")
        f.write(_da(_CI(version=1, timestamp=1_700_000_000_001,
                        operation="WRITE")) + "\n")
    log2 = TableLog(spark, big)
    snap1 = log2.snapshot()
    assert len(snap1.files) == args.files + 1
    t0 = time.perf_counter()
    log2._write_checkpoint_v2(snap1)
    out["v2_checkpoint_incr_s"] = round(time.perf_counter() - t0, 3)
    reused = (set(log2._checkpoint_sidecars(0))
              & set(log2._checkpoint_sidecars(1)))
    out["v2_sidecars_reused"] = len(reused)
    assert len(reused) >= out["v2_sidecars"] - 1, (len(reused),
                                                   out["v2_sidecars"])

    if not args.keep:
        shutil.rmtree(args.workdir, ignore_errors=True)

    print(json.dumps(out))
    sys.stderr.write(
        "\n| Path | Measured | Shape |\n|---|---|---|\n"
        f"| Cold snapshot, {args.files:,} files | {out['cold_snapshot_s']}s"
        " | checkpoint parse + AddFile build, O(files) driver |\n"
        f"| Stats prune (1% kept) | {out['files_df_prune_s']}s"
        " | Spark job over the checkpoint parquet |\n"
        f"| Limit prefix sum | {out['limit_prefix_s']}s"
        " | two-phase distributed, windows partitioned by _pid |\n"
        f"| Clustering report, {args.files:,} files |"
        f" {out['clustering_report_s']}s"
        f" ({out['clustering_avg_files_per_probe']} files/probe)"
        " | probe sample + containment join, metadata only |\n"
        f"| CDF plan, {args.commits:,} commits | {out['cdf_plan_s']}s build"
        f" + {out['cdf_count_s']}s count | {out['cdf_parquet_scans']}"
        " parquet scans total |\n")


if __name__ == "__main__":
    main()
