"""Names, units and directions of every metric the benchmark prints.

``BENCHMARK.json`` at the repo root lists the same metrics; a test keeps
the two in step. A per-layer metric of a layer the workload does not run
is reported as 0.
"""

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("items_per_s", "1/s", "higher"),
]

# (name, unit, better, the end-to-end metric @ workload it should move)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s"),
    ("session.warmup_s", "s", "lower", "setup_s"),
    ("session.peak_rss_mb", "MB", "lower", "-"),
    ("engine.run_load.s", "s", "lower", "setup_s @ ingest_catalog"),
    ("engine.run_refresh.s", "s", "lower", "op_p50_ms, items_per_s @ ingest_catalog"),
    ("engine.self_s", "s", "lower", "op_p50_ms, items_per_s @ ingest_catalog"),
    ("engine.load_entries_per_s", "1/s", "higher", "setup_s @ ingest_catalog"),
    ("engine.refresh_entries_per_s", "1/s", "higher", "items_per_s @ ingest_catalog"),
    ("sources.http.fetch.calls", "count", "lower", "op_p50_ms @ ingest_catalog"),
    ("sources.http.fetch.executor_s", "s", "lower", "op_p50_ms, items_per_s @ ingest_catalog"),
    ("sources.store.write_batch.calls", "count", "lower", "op_p50_ms @ ingest_catalog"),
    ("sources.store.write_batch.s", "s", "lower", "op_p50_ms, items_per_s @ ingest_catalog"),
    ("sources.store.write_batch.written_ratio", "ratio", "lower", "op_p50_ms @ ingest_catalog (must equal the generator's truth)"),
    ("sources.store.compact.s", "s", "lower", "op_p50_ms @ ingest_catalog"),
    ("sources.store.compact.bytes_rewritten", "bytes", "lower", "op_p50_ms @ ingest_catalog, sources.store.space_amp"),
    ("sources.store.materialize_current.s", "s", "lower", "op_p50_ms @ ingest_catalog"),
    ("sources.store.scan.ms", "ms", "lower", "op_p50_ms @ scd2_reads"),
    ("sources.store.files", "count", "lower", "op_p50_ms @ scd2_reads, sources.store.space_amp"),
    ("sources.store.bytes_written", "bytes", "lower", "sources.store.space_amp"),
    ("sources.store.space_amp", "ratio", "lower", "- (bytes on disk per byte of row JSON)"),
    ("sources.store.current_snapshot.p50_ms", "ms", "lower", "op_p50_ms @ scd2_reads"),
    ("functions.hashing.stamp_metadata.calls", "count", "lower", "op_p50_ms @ ingest_catalog"),
    ("operators.scd2.current.p50_ms", "ms", "lower", "op_p50_ms @ scd2_reads"),
    ("operators.scd2.history.p50_ms", "ms", "lower", "op_p50_ms @ scd2_reads"),
    ("operators.scd2.changed_since.p50_ms", "ms", "lower", "op_p50_ms @ scd2_reads"),
    ("operators.scd2.as_of.p50_ms", "ms", "lower", "op_p50_ms @ scd2_reads"),
    ("operators.scd2.history.rows_scanned_per_row", "ratio", "lower", "op_p50_ms @ scd2_reads (point-lookup pushdown)"),
    ("streaming.batch_s", "s", "lower", "op_p50_ms @ ingest_catalog"),
    ("streaming.jobs_per_batch", "count", "lower", "op_p50_ms @ ingest_catalog"),
    ("streaming.state_bytes", "bytes", "lower", "op_p50_ms @ ingest_catalog"),
    ("plans.dedup_minhash_lsh.s", "s", "lower", "op_p50_ms, items_per_s @ ingest_catalog"),
    ("plans.ann_cosine_topk_vectorized.s", "s", "lower", "op_p50_ms, items_per_s @ ingest_catalog"),
    ("spark.jobs", "count", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.stages", "count", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.tasks", "count", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.executor_run_s", "s", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.executor_cpu_s", "s", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.spill_bytes", "bytes", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("spark.driver_gap_s", "s", "lower", "op_p50_ms, items_per_s @ every workload"),
    ("tracing.overhead_s", "s", "lower", "- (cost of the traced run itself)"),
]


def report(values: dict, spec: list[tuple]) -> dict:
    """The ``metrics`` object of the result line, in ``spec`` order."""
    unknown = set(values) - {m[0] for m in spec}
    if unknown:
        raise KeyError(f"metrics missing from the spec: {sorted(unknown)}")
    return {m[0]: {"value": values.get(m[0], 0), "unit": m[1]} for m in spec}
