"""Names and units of the metrics a run prints; BENCHMARK.json lists the
same names.  ``perfbench/README.md`` says what each one measures."""

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}

# The package modules that register query keys; a key's build time is
# charged to the module that registers it.
BUILD_LAYERS = ("operators", "ml", "streaming")

LAYER_UNITS = {
    "registry.import_s": "s", "session.start_s": "s", "sources.warmup_s": "s",
    "session.clear_caches_s": "s",
    **{f"{m}.build_s": "s" for m in BUILD_LAYERS},
    **{f"{m}.build_jobs": "count" for m in BUILD_LAYERS},
    **{f"{m}.build_driver_cpu_s": "s" for m in BUILD_LAYERS},
    "catalyst.plan_s": "s",
    "collect.materialize_s": "s", "collect.jobs": "count",
    "collect.stages": "count", "collect.tasks": "count",
    "collect.driver_cpu_s": "s", "collect.rows": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.busy_ratio": "ratio",
    "streaming.batches": "count", "streaming.nonempty_batch_ratio": "ratio",
    "jvm.cpu_s": "s", "pyworker.cpu_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
