"""The benchmark's metric catalogue: name -> unit. A per-layer metric's
name starts with its layer. BENCHMARK.json lists END_TO_END and PER_LAYER
(the self-test checks that they agree)."""

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "items/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
    "disk_bytes_per_input_byte": "ratio",
}

STREAM_PHASES = ("trigger_s", "add_batch_s", "wal_commit_s", "commit_offsets_s")

# a workload that does not call a layer reports 0 for its metrics
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.idx_rows": "count",
    "ops.filter_s": "s",
    "ops.keep_ratio": "ratio",
    "fetch.fetch_s": "s",
    "fetch.requests": "count",
    "fetch.bytes": "bytes",
    "fetch.errors": "count",
    "fetch.not_found": "count",
    "parse.split_s": "s",
    "parse.sec_docs": "count",
    "parse.embedded_docs": "count",
    "parse.form4_s": "s",
    "parse.form4_txns": "count",
    "sink.write_s": "s",
    "sink.files": "count",
    "sink.bytes": "bytes",
}
for _p in STREAM_PHASES:
    PER_LAYER[f"stream.{_p}_p50"] = "s"
    PER_LAYER[f"stream.{_p}_tail"] = "s"
PER_LAYER.update({
    "stream.batch.jobs": "count",
    "stream.compact_s": "s",
    "stream.compact.jobs": "count",
    "stream.segments_max": "count",
    "stream.store_bytes": "bytes",
    "stream.recall": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "spark.busy_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.spans": "count",
})
