"""Pinned benchmark inputs. Editing any value here starts a new baseline."""

# Headline ops: 8 of the 24 HEADLINE queries in bench.py, one per operator
# family (aggregate, resumable ingest, dimension joins, windows, sessions,
# text, near-dup dedup, multi-way TPC-H join), pinned here so an edit to
# bench.py does not change the workload. Each is forced with a count.
HEADLINE_OPS = (
    "flagship_pricing_summary",
    "ingest_resume_load",
    "join_catalog_dims",
    "window_latest_per_group",
    "events_sessionization",
    "text_term_frequency",
    "dedup_minhash_lsh",
    "tpch_q5_local_supplier_volume",
)

# Analytical tables: sf0.01 row counts (60k lineitem), generated from a fixed
# data seed. The workload seed permutes op order; it does not change the data.
TABLE_SCALE = 0.01
TABLE_SEED = 42

# Ingest fixtures per pass: many small CSV datasets and one large one.
# Two small datasets (checkpoints 0 and past-end; the second is
# OpenAPI-typed) and one large one resumed mid-file.
INGEST_SMALL = 2
INGEST_SMALL_ROWS = 2000
INGEST_LARGE = 1
INGEST_LARGE_ROWS = 100000

# Every run measures at least this many passes, and more while --seconds
# lasts. Sized so that a sweep of 4 + 22 runs per workload stays under an
# hour: an ingest op costs ~3 s, so one ingest pass fills its run.
MIN_PASSES = {"headline_sf0.01": 2, "ingest_catalog": 1}

# Driver JVM heap for every run.
DRIVER_MEMORY = "3g"

# Units of the per-layer metrics of the traced run (names match BENCHMARK.json).
LAYER_UNITS = {
    "queries.import_s": "s",
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "sources.tables.load_s": "s",
    "sources.tables.load_calls": "count",
    "sources.tables.load_jobs": "count",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.deser_s": "s",
    "exec.core_util": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "pipelines.run_s": "s",
    "pipelines.catalog_s": "s",
    "pipelines.jobs_per_dataset": "count",
    "pipelines.audit_plan_nodes": "count",
    "pipelines.openapi_derive_s": "s",
    "pipelines.enrich_s": "s",
    "sources.writers.write_s": "s",
    "sources.writers.mb_written": "MB",
    "sources.writers.bytes_per_input_byte": "ratio",
    "sources.writers.files_written": "count",
    "sources.csv_ingest.rows_loaded": "count",
    "sources.html_fetch.pages": "count",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.workers_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.op_coverage_min": "ratio",
}
