"""The metric catalogue: every name the benchmark prints, with its unit.

End-to-end metrics are measured by every workload (untraced run).  Each
workload gives them its own unit of work: a run for `wf_roundtrip`, a
backlog drain for `backlog_drain`, a pass over the query set for
`batch_queries`.  Per-layer metrics come from the traced run; a layer
the workload does not touch reads 0.  `REQUIRED` names, per workload,
the per-layer metrics it must measure: a traced run in which one of
them has no samples (an empty span, progress or job set) counts a
failed check instead of printing 0.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
}

# The batch workload's query set: two per family (see README.md).
BATCH_FAMILIES = {
    "relational": ["q3_shipping_priority", "j5_asof_join"],
    "dedup": ["d_ngram_jaccard_pairs", "t_lm_score"],
    "similarity": ["idx_tfidf_topk", "sim_topk_bruteforce"],
    "other": ["sk_kmv_set_ops", "t_quality_score"],
}
BATCH_QUERIES = [q for qs in BATCH_FAMILIES.values() for q in qs]

PER_LAYER = {
    # workload-level numbers, measured in the traced run
    "command_ms_p50": "ms", "command_ms_p90": "ms", "run_ms_p50": "ms",
    "runs_per_s": "1/s", "read_ms_p50": "ms", "read_ms_p95": "ms",
    "drain_runs_per_s": "1/s",
    "throughput_per_s": "1/s", "cpu_s_per_op": "s",
    "batch_total_s": "s",
    **{f"batch_{f}_s": "s" for f in BATCH_FAMILIES},
    # api
    "api.produce_ms_p50": "ms", "api.barrier_ms_p50": "ms",
    "api.barrier_ms_p90": "ms", "api.http_ms_p50": "ms", "api.deploy_s": "s",
    # streaming + state store
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms", "streaming.idle_batch_share": "ratio",
    "streaming.rows_per_batch_p50": "count", "streaming.busy_batches": "count",
    "streaming.parallel_efficiency": "ratio",
    "state.rows_total": "count", "state.memory_mb": "MB", "state.disk_mb": "MB",
    "state.commit_ms_p50": "ms", "state.update_ms": "ms",
    # engine (pure fold), timers, per case
    "engine.fold_runs_per_s_1thread": "1/s",
    "timers.fire_delay_ms_p50": "ms",
    "case.basic.run_ms_p50": "ms", "case.external_event_basic.run_ms_p50": "ms",
    "case.sleep_basic.run_ms_p50": "ms",
    # sinks
    "sinks.upsert_arrow_ms_p50": "ms", "sinks.upsert_spark_s": "s",
    "sinks.point_read_ms_p50": "ms", "sinks.search_ms_p50": "ms",
    "sinks.page_read_ms_p50": "ms", "sinks.store_files": "count",
    "sinks.store_bytes_per_run": "B",
    # operators / functions
    **{f"query.{q}_s": "s" for q in BATCH_QUERIES},
    **{f"spark.{k}.{f}": u for f in BATCH_FAMILIES
       for k, u in (("jobs", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"))},
    # session and process tree
    "session.start_s": "s", "batch.warm_s": "s", "peak_rss_mb": "MB",
    # the end-to-end metrics as measured with tracing on: minus the
    # untraced run's value, the tracing overhead
    **{f"traced.{m}": u for m, u in END_TO_END.items()},
}


_STREAMING = [
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.latest_offset_ms_p50", "streaming.planning_ms_p50",
    "streaming.commit_ms_p50", "streaming.rows_per_batch_p50",
    "streaming.busy_batches", "state.rows_total", "state.memory_mb",
    "state.disk_mb", "state.commit_ms_p50", "state.update_ms",
    "sinks.store_files", "sinks.store_bytes_per_run",
]
_COMMON = ["throughput_per_s", "cpu_s_per_op", "session.start_s", "peak_rss_mb",
           *(f"traced.{m}" for m in END_TO_END)]
REQUIRED = {
    "wf_roundtrip": [
        *_COMMON, *_STREAMING, "command_ms_p50", "command_ms_p90", "run_ms_p50",
        "runs_per_s", "read_ms_p50", "read_ms_p95", "api.produce_ms_p50",
        "api.barrier_ms_p50", "api.barrier_ms_p90", "api.http_ms_p50",
        "api.deploy_s", "streaming.idle_batch_share",
        "engine.fold_runs_per_s_1thread", "timers.fire_delay_ms_p50",
        "case.basic.run_ms_p50", "case.external_event_basic.run_ms_p50",
        "case.sleep_basic.run_ms_p50", "sinks.upsert_arrow_ms_p50",
        "sinks.point_read_ms_p50", "sinks.search_ms_p50", "sinks.page_read_ms_p50",
    ],
    "batch_queries": [
        *_COMMON, "batch.warm_s", "batch_total_s",
        *(f"batch_{f}_s" for f in BATCH_FAMILIES),
        *(f"query.{q}_s" for q in BATCH_QUERIES),
        *(f"spark.{k}.{f}" for f in BATCH_FAMILIES
          for k in ("jobs", "shuffle_mb", "spill_mb")),
    ],
    "backlog_drain": [
        *_COMMON, *_STREAMING, "drain_runs_per_s", "api.deploy_s",
        "engine.fold_runs_per_s_1thread", "streaming.parallel_efficiency",
        "sinks.upsert_spark_s",
    ],
}


def family_of(query: str) -> str:
    for fam, qs in BATCH_FAMILIES.items():
        if query in qs:
            return fam
    raise KeyError(query)
