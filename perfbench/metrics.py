"""Metric names and units, and the conversions every workload shares.

End-to-end metrics are reported by every workload, each with the meaning
its workload gives an operation (see README.md). Per-layer metrics come
from the traced run; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

from perfbench.stats import Ledger, percentile, tail_percentile

# the result line: metrics that stay steady while the host's speed drifts
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}
# wall-clock figures, measured alike and printed in the detail line without
# a bound: CPU steal on the host moves them more than any usable bound
WALL = {
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}

COMPUTE_QUERIES = [
    "eng_rest_snapshot", "eng_rest_cdf", "eng_snapshot_prune_filter",
    "eng_dv_update", "q01_pricing_summary", "q_dedup_minhash_lsh_capped",
    "q_bpe_encode",
]

PER_LAYER = {
    "server.requests": "count",
    "server.errors": "count",
    "server.response_bytes": "bytes",
    "server.query.busy_ms": "ms",
    "server.metadata.busy_ms": "ms",
    "server.changes.busy_ms": "ms",
    "server.self_ms": "ms",
    "rest.requests": "count",
    "rest.request_ms": "ms",
    "rest.wire_ms": "ms",
    "rest.retries": "count",
    "catalog.load_table_ms": "ms",
    "table.query_actions_ms": "ms",
    "table.pruned_files_ms": "ms",
    "table.files_considered": "count",
    "table.files_kept": "count",
    "table.prune_kept_ratio": "ratio",
    "table.to_df_ms": "ms",
    "table.self_ms": "ms",
    "log.opens_per_request": "count",
    "log.snapshot_ms": "ms",
    "log.snapshot.calls": "count",
    "log.read_commit.calls": "count",
    "log.files_df_ms": "ms",
    "log.append_ms": "ms",
    "log.delete_ms": "ms",
    "log.merge_ms": "ms",
    "log.checkpoint_ms": "ms",
    "log.write_amp": "ratio",
    "log.self_ms": "ms",
    "cdf.changes_actions_ms": "ms",
    "cdf.table_changes_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.batches": "count",
    "stream.empty_batch_ratio": "ratio",
    "stream.rpcs_per_batch": "count",
    "stream.backlog_versions": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker_ms": "ms",
    "follow.commit_p50_ms": "ms",
    "follow.freshness_p50_ms": "ms",
}
for _q in COMPUTE_QUERIES:
    PER_LAYER[f"compute.{_q}.build_ms"] = "ms"
    PER_LAYER[f"compute.{_q}.exec_ms"] = "ms"
OVERHEAD_OF = ["ops_per_s", "op_p50_ms", "op_tail_ms", "cpu_s_per_op"]
for _m in OVERHEAD_OF:
    PER_LAYER[f"trace.overhead.{_m}"] = {**END_TO_END, **WALL}[_m]
PER_LAYER["trace.spans"] = "count"


def e2e(ledger: Ledger, elapsed_s: float, cpu_s: float, setup_s: float,
        peak_rss_mb: float, tail_pct: float) -> dict[str, float]:
    """The end-to-end metrics of one measured window. Failed operations
    count as attempted, against ``ok_ratio`` and as missing every latency
    limit; throughput counts only successful operations. CPU time is per
    attempted operation.

    ``op_tail_ms`` is always the workload's ``tail_pct`` percentile, chosen
    by the percentile rule for the sample a normal run collects, so every
    run reports the same percentile; ``_tail_supported`` says whether this
    run's own sample had 10 operations beyond it."""
    # a failed operation is charged the whole window
    lat_ms = [1000.0 * min(x, elapsed_s) for x in ledger.latencies()]
    supported = tail_percentile(len(lat_ms))
    ok = ledger.attempted - ledger.failed
    return {
        "setup_s": setup_s,
        "ops_per_s": ok / elapsed_s,
        "op_p50_ms": percentile(lat_ms, 50.0),
        "op_tail_ms": percentile(lat_ms, tail_pct),
        "cpu_s_per_op": cpu_s / max(1, ledger.attempted),
        "peak_rss_mb": peak_rss_mb,
        "ok_ratio": ok / max(1, ledger.attempted),
        "_tail_pct": tail_pct,
        "_tail_supported": supported is not None and supported >= tail_pct,
        "_n": len(lat_ms),
    }


def overhead(traced: dict[str, float], untraced: dict[str, float]
             ) -> dict[str, float]:
    return {f"trace.overhead.{m}": traced[m] - untraced[m]
            for m in OVERHEAD_OF}


def layer_metrics(tracer, n_ops: int, spark_totals: dict[str, float],
                  extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced window. ``*_ms`` of a call is its
    mean per call; ``*.self_ms`` is the layer's self time per operation;
    counts are totals over the window."""
    ops = max(1, n_ops)
    routes = [n for n in {s.name for s in tracer.spans}
              if n.startswith("server.")]
    requests = sum(tracer.calls(n) for n in routes)
    rest_n = tracer.calls("rest.request")
    server_ms = sum(tracer.total_ms(n) for n in routes)
    self_ms = tracer.self_ms_by_layer()
    c = tracer.counts
    out = {
        "server.requests": float(requests),
        "server.errors": c["server.errors"],
        "server.response_bytes": c["server.response_bytes"],
        "server.query.busy_ms": tracer.mean_ms("server.table_query"),
        "server.metadata.busy_ms": tracer.mean_ms("server.table_metadata"),
        "server.changes.busy_ms": tracer.mean_ms("server.table_changes"),
        "server.self_ms": self_ms.get("server", 0.0) / ops,
        "rest.requests": float(rest_n),
        "rest.request_ms": tracer.mean_ms("rest.request"),
        "rest.wire_ms": (max(0.0, tracer.total_ms("rest.request") - server_ms)
                         / rest_n if rest_n else 0.0),
        "rest.retries": c["rest.retries"],
        "catalog.load_table_ms": tracer.mean_ms("catalog.load_table"),
        "table.query_actions_ms": tracer.mean_ms("table.query_actions"),
        "table.pruned_files_ms": tracer.mean_ms("table.pruned_files"),
        "table.files_considered": c["table.files_considered"],
        "table.files_kept": c["table.files_kept"],
        "table.prune_kept_ratio": (c["table.files_kept"]
                                   / c["table.files_considered"]
                                   if c["table.files_considered"] else 0.0),
        "table.to_df_ms": tracer.mean_ms("table.to_df"),
        "table.self_ms": self_ms.get("table", 0.0) / ops,
        "log.opens_per_request": c["log.opens"] / (requests or ops),
        "log.snapshot_ms": tracer.mean_ms("log.snapshot"),
        "log.snapshot.calls": float(tracer.calls("log.snapshot")),
        "log.read_commit.calls": float(tracer.calls("log.read_commit")),
        "log.files_df_ms": tracer.mean_ms("log.files_df"),
        "log.self_ms": self_ms.get("log", 0.0) / ops,
        "cdf.changes_actions_ms": tracer.mean_ms("cdf.changes_actions"),
        "cdf.table_changes_ms": tracer.mean_ms("cdf.table_changes"),
        "spark.jobs_per_op": spark_totals["jobs"] / ops,
        "spark.tasks_per_op": spark_totals["tasks"] / ops,
        "trace.spans": float(len(tracer.spans)),
    }
    for k in ("executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "python_worker_ms"):
        out[f"spark.{k}"] = spark_totals[k] / ops
    for name in PER_LAYER:
        out.setdefault(name, 0.0)
    out.update(extra)
    return out
