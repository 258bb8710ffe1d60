"""Names and units of the metrics a run prints: the end-to-end metrics
(``--trace 0``) and the per-layer metrics of the traced run (``--trace 1``).
Kept free of heavy imports so ``run.py`` can name them after a crash."""

E2E_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p75_ms": "ms",
    "throughput_ops_s": "1/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "frontend.rewrite_ms": "ms", "frontend.rewrite_calls": "count",
    "validate.validate_ms": "ms", "introspect.schema_text_ms": "ms",
    "session.build_ms": "ms", "session.build_self_ms": "ms",
    "session.build_jobs": "count", "spark.fetch_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "py4j.calls": "count", "py4j.ms": "ms", "warehouse.commit_ms": "ms",
    "warehouse.bytes_written_per_op": "B", "warehouse.files_end": "count",
    "warehouse.space_amp": "ratio", "trace.overhead_ms": "ms",
}
