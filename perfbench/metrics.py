"""The benchmark's metric declarations (names and units, mirrored in
BENCHMARK.json) and the result line that carries them."""

from __future__ import annotations

#: every end-to-end metric, printed by every workload with ``--trace 0``
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_gmean_s": "s",
    "peak_rss_mb": "MB",
}

#: the explorer workload's request classes: the registered cw_* endpoints
EXPLORER_CLASSES = (
    "cw_recent_txs", "cw_search_txs", "cw_continuation_history",
    "cw_search_events", "cw_account_transfers", "cw_tx_by_requestkey",
    "cw_txs_by_pactid", "cw_stats", "cw_chain_minmax", "cw_gaps",
    "cw_richlist", "cw_bounded_search", "cw_coins", "cw_events_page_after",
    "cw_continuation_history_rcte",
)

#: every per-layer metric, printed by every workload with ``--trace 1``; a
#: layer off a workload's path reads 0 there
PER_LAYER = {
    "session.start_s": "s",
    "ingest.transform_s": "s",
    "ingest.rows_per_block": "count",
    "publish.commit_s": "s",
    "publish.jobs_per_commit": "count",
    "publish.tasks_per_commit": "count",
    "publish.files_added_per_commit": "count",
    "logstore.calls_per_commit": "count",
    "logstore.durable_writes_per_commit": "count",
    "logstore.bytes_per_commit": "bytes",
    "publish.resolve_s": "s",
    "publish.files_per_read": "count",
    "silver.update_s": "s",
    "silver.jobs_per_update": "count",
    "silver.lookup_s": "s",
    "bounded_scan.request_s": "s",
    "bounded_scan.slices_examined": "count",
    "listen.batch_s": "s",
    "listen.add_batch_s": "s",
    "listen.engine_s": "s",
    "maintenance.compact_s": "s",
    "maintenance.vacuum_s": "s",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    "store.bytes_per_feed_byte": "ratio",
    "tip.freshness_s": "s",
    **{
        f"queries.{c}.{m}": u
        for c in EXPLORER_CLASSES
        for m, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))
    },
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s_per_op": "s",
    "spark.gc_s": "s",
    "traced.throughput_per_s": "1/s",
    "traced.latency_gmean_s": "s",
}


def result_line(res: dict, trace: bool) -> dict:
    """The result line: every declared metric of the mode with its unit."""
    if trace:
        values = dict(res["per_layer"])
        values["traced.throughput_per_s"] = res["end_to_end"]["throughput_per_s"]
        values["traced.latency_gmean_s"] = res["end_to_end"]["latency_gmean_s"]
        units = PER_LAYER
    else:
        values, units = res["end_to_end"], END_TO_END
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"undeclared metrics: {sorted(unknown)}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
