"""Names and units of the benchmark's metrics, shared by the command,
the workloads and ``BENCHMARK.json`` (a test keeps the three in step).
Standard library only: the launcher imports it without Spark."""

from __future__ import annotations

# Every --trace 1 run prints the per-layer metrics of all workloads
# (0 for a layer the workload does not touch).
WORKLOAD_NAMES = ("etl_batch_load", "warehouse_reads")

END_TO_END = {"setup_s": "s", "cpu_ms_per_item": "ms"}

CORPUS_OPS = [
    "text_quality",
    "text_repetition_gopher",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_semantic_dedup",
    "tok_bpe_encode",
    "text_lm_score",
    "mm_image_curation",
]
# warehouse_reads registry reads, grouped for the per-layer split
READ_GROUPS = {
    "dashboard": "dashboard",
    "tpch_q3": "star_join",
    "tpch_q5": "star_join",
    "agg_groupby_sum": "agg_window",
    "win_version_latest": "agg_window",
    "join_asof": "agg_window",
}

_ETL_LAYERS = [
    "sources.staging.wall_s", "sources.staging.input_bytes", "warehouse.dimensions.wall_s",
    "operators.security.wall_s", "warehouse.facts.wall_s", "warehouse.facts.spark_jobs",
    "warehouse.facts.shuffle_write_bytes", "warehouse.facts.csv_reread_ratio",
    "warehouse.etl.write.wall_s", "warehouse.etl.write.output_bytes", "warehouse.etl.write.files",
    "operators.quality.wall_s", "operators.quality.spark_jobs", "operators.etl_log.wall_s",
    "operators.etl_log.files", "pipeline.overhead_s", "etl_batch_load.etl_rows_per_s",
]
_READ_LAYERS = [
    *[f"queries.{p}_ms.{g}" for p in ("build", "exec") for g in ("dashboard", "star_join", "agg_window")],
    "queries.spark_jobs_per_read", "queries.tasks_per_read", "queries.shuffle_write_bytes_per_read",
    "queries.idle_frac", "plans.datamarts.create_ms", "api.get_table_ms", "api.summary_ms",
    "api.summary.spark_jobs", "operators.rls.secured_ms", "warehouse.scd_store.upsert_ms",
    "warehouse.scd_store.read_ms", "warehouse.scd_store.versions",
    "warehouse.scd_store.bytes_per_live_byte",
    "warehouse_reads.read_p50_ms", "warehouse_reads.read_tail_ms", "warehouse_reads.read_tail_pct",
    "warehouse_reads.read_samples", "warehouse_reads.reads_per_s", "warehouse_reads.upsert_p50_ms",
]
_CORPUS_LAYERS = [
    *[f"queries.{op}.{m}" for op in CORPUS_OPS
      for m in ("wall_s", "executor_run_s", "shuffle_write_bytes", "python_worker_s")],
]
_PER_WORKLOAD = ("gc_s", "trace_overhead_frac", "span_coverage", "error_rate", "peak_rss_mb")


PER_LAYER = [
    "session.start_s", "session.generate_s", "session.warmup_s", *_ETL_LAYERS, *_READ_LAYERS, *_CORPUS_LAYERS,
    *[f"{w}.{m}" for w in WORKLOAD_NAMES for m in _PER_WORKLOAD],
]


_UNITS = {"warehouse_reads.reads_per_s": "1/s", "etl_batch_load.etl_rows_per_s": "rows/s",
          "warehouse.scd_store.bytes_per_live_byte": "ratio"}


def unit_of(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    if "_bytes" in name:
        return "bytes"
    for suffix, unit in (("_pct", "%"), ("_ms", "ms"), ("_s", "s"),
                         ("_frac", "fraction"), ("_ratio", "fraction"), ("_rate", "fraction"),
                         ("_coverage", "fraction"), ("_mb", "MB")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    return "count"
