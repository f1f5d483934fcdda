"""Names and units of every metric the benchmark reports.

End-to-end metrics are measured on every workload with tracing off;
each workload maps them onto its own operations (see README.md).
Per-layer metrics come from the traced pass; a layer a workload does
not run reports 0.
"""

END_TO_END = {
    "setup_s": "s",
    "read_cpu_ms": "ms",
    "write_cpu_ms": "ms",
}

FAMILIES = ("timeseries", "rel", "text", "dedup", "similarity", "packing")

PER_LAYER = {
    # kv_serve, serving processes
    "store.files_per_get": "count",
    "store.files_per_scan": "count",
    "store.live_dirs_mean": "count",
    "store.footer_cache_hit_ratio": "ratio",
    "store.get_ms": "ms",
    "store.scan_rows_ms": "ms",
    "manifest.current_ms": "ms",
    "manifest.current_per_op": "count",
    "httpparse.parse_us": "us",
    "server.route_us": "us",
    "server.reply_bytes": "bytes",
    # kv_serve writer handle; spark_mix store phase
    "store.write_batch_ms": "ms",
    "store.fsyncs_per_put": "count",
    "manifest.commit_ms": "ms",
    "manifest.commit_retries": "count",
    "store.compactions": "count",
    "store.compact_ms": "ms",
    "store.compact_bytes_rewritten": "bytes",
    "store.write_amp": "ratio",
    # spark_mix store phase (Spark-attached TSStore)
    "store.ingest_s": "s",
    "store.ingest_jobs": "count",
    "store.ingest_tasks": "count",
    "store.compact_jobs": "count",
    "store.compact_shuffle_bytes": "bytes",
    "store.compact_spill_bytes": "bytes",
    "tsstore.points_s": "s",
    "tsstore.points_jobs": "count",
    "tsstore.points_input_bytes": "bytes",
    "tsstore.downsample_s": "s",
    "tsstore.downsample_jobs": "count",
    "tsstore.downsample_shuffle_bytes": "bytes",
    "tsstore.downsample_spill_bytes": "bytes",
    "store.state_asof_s": "s",
    "store.state_asof_input_bytes": "bytes",
    "store.state_asof_shuffle_bytes": "bytes",
}
for _fam in FAMILIES:
    PER_LAYER.update({
        f"{_fam}.build_s": "s",
        f"{_fam}.build_jobs": "count",
        f"{_fam}.exec_s": "s",
        f"{_fam}.exec_jobs": "count",
        f"{_fam}.exec_stages": "count",
        f"{_fam}.exec_tasks": "count",
        f"{_fam}.exec_shuffle_bytes": "bytes",
        f"{_fam}.exec_spill_bytes": "bytes",
        f"{_fam}.exec_executor_run_s": "s",
        f"{_fam}.exec_gc_s": "s",
    })
PER_LAYER.update({
    "session.start_s": "s",
    "suite.artifacts_s": "s",
    "trace.overhead_ratio": "ratio",
})
