"""Names and units of everything the benchmark reports."""

# end-to-end metrics of an untraced run
E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "items/s",
    "cpu_s_per_item": "s",
    "retained_mb": "MB",
}

# per-fire counters of a streaming pipeline: add_batch_s .. trigger_s
# come from the progress event's durationMs split, start_stop_s is the
# fire's wall time outside triggerExecution
FIRE = {
    "input_rows": "count", "add_batch_s": "s", "query_planning_s": "s", "wal_commit_s": "s",
    "commit_offsets_s": "s", "latest_offset_s": "s", "trigger_s": "s", "start_stop_s": "s",
    "store_partitions": "count",
}

# every counter of a traced run, by layer
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.python_mb": "MB", "spark.python_s": "s",
    "sources.catalog.listed_files": "count", "sources.catalog.stage_s": "s",
    "sources.catalog.useful_ratio": "ratio",
    "sinks.history.reads": "count", "sinks.history.read_s": "s", "sinks.history.merge_s": "s",
    "sinks.history.ledger_rows": "count", "sinks.history.hit_ratio": "ratio",
    "plans.pipeline.extract_stage_s": "s", "plans.pipeline.self_s": "s",
    "plans.pipeline.error_rows": "count",
    **{f"streaming.incremental.{p}.{k}": u for p in ("kmv", "pattern") for k, u in FIRE.items()},
    "host.steal_pct": "%", "host.calibration_s": "s",
    "trace.overhead_pct": "%",
}
