"""The metric catalogue: BENCHMARK.json lists exactly these, and a run
reports every one of them (per-layer metrics a workload never exercises
read 0). Imports nothing from the engine, so the entry point can parse
its arguments before it looks for the engine."""

from __future__ import annotations

#: layers whose Spark tasks are counted from the event log (job group ids)
SPARK_LAYERS = (
    "sources", "operators.clean", "operators.fluxcal", "operators.snr",
    "operators.dynspec", "operators.wlsfit", "plans.decimation", "operators.toa",
    "sinks", "sinks_fits", "sinks_datasource", "queries",
)
TASK_COUNTERS = ("tasks", "executor_cpu_s", "gc_s", "spill_bytes", "failed_tasks", "task_skew")

#: seconds one run measures: the live arrivals' window (one micro-batch
#: of arrivals); the reprocessing job outlasts it, so it runs once
RUN_SECONDS = 5

#: (name, why)
WORKLOADS = (
    ("reprocess_batch",
     "bulk reprocessing: a fresh engine runs the full pipeline and every sink over a directory "
     "of archives, so ingest, cleaning, products and plan compilation are on the path"),
    ("live_arrivals",
     "observations arrive one archive at a time on a schedule into a warm streaming query, so "
     "planning, job launch and the ledger commit set the latency; also traces the query layer"),
)

#: (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

QUERY_NAMES = (
    "q5_region_revenue", "asof_join_events", "dedup_exact", "minhash_lsh_pairs_md5",
    "text_token_stats", "triangle_count_parts", "hll_distinct_shingles",
    "funnel_view_click_purchase", "spin_fit_operator", "kepler_eccentric_anomaly",
)

_LAYER_UNITS = (
    ("session.get_spark_s", "s", "lower"),
    ("io.load_tables_s", "s", "lower"),
    ("sources.plan_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.cells_per_s", "1/s", "higher"),
    ("sources.bytes_read", "bytes", "lower"),
    ("sources.files", "count", "lower"),
    ("plans.pipeline.build_s", "s", "lower"),
    ("plans.pipeline.jobs", "count", "lower"),
    ("plans.pipeline.stages", "count", "lower"),
    ("operators.clean.s", "s", "lower"),
    ("operators.clean.shuffle_bytes", "bytes", "lower"),
    ("operators.clean.zapped_frac", "ratio", "lower"),
    ("operators.fluxcal.s", "s", "lower"),
    ("operators.snr.s", "s", "lower"),
    ("operators.dynspec.s", "s", "lower"),
    ("operators.wlsfit.s", "s", "lower"),
    ("plans.decimation.s", "s", "lower"),
    ("plans.decimation.shuffle_bytes", "bytes", "lower"),
    ("plans.decimation.cells_out", "count", "lower"),
    ("operators.toa.s", "s", "lower"),
    ("operators.toa.toas", "count", "higher"),
    ("cacheutil.cached_bytes", "bytes", "lower"),
    ("sinks.write_s", "s", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("sinks_fits.write_s", "s", "lower"),
    ("sinks_datasource.commit_s", "s", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.planning_s", "s", "lower"),
    ("streaming.obs_per_batch", "count", "higher"),
    ("streaming.trigger_wait_s", "s", "lower"),
    ("streaming.backlog_max", "count", "lower"),
)

_COUNTER_UNITS = {
    "tasks": ("count", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "failed_tasks": ("count", "lower"),
    "task_skew": ("ratio", "lower"),
}

#: (name, unit, better)
PER_LAYER = (
    _LAYER_UNITS
    + tuple((f"queries.{q}_s", "s", "lower") for q in QUERY_NAMES)
    + tuple(
        (f"{layer}.{c}", *_COUNTER_UNITS[c]) for layer in SPARK_LAYERS for c in TASK_COUNTERS
    )
    + (
        ("generator.late_max_s", "s", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
        ("scaling.reprocess_parallel_eff", "ratio", "higher"),
    )
)


def benchmark_json() -> dict:
    """The BENCHMARK.json document for this catalogue."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
