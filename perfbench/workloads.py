"""The workloads and the metrics they report.

A batch pass runs every query of its workload once, in a fresh Spark
application.  No two queries of one pass share a harness cache (the
traced run checks this: see ``Bench.isolation`` in run.py), so every
timing is the query's own cold cost.
"""

from __future__ import annotations

from serve import REQUEST_TYPES, make_stream

FIT_ESTIMATORS = [
    "logreg_rule_accuracy", "kmeans_cluster_sizes", "dbscan_roles",
    "tsne_trust", "umap_trust", "svc_rule_accuracy", "arima_grid_aic",
]
CURATE_CORPUS = [
    "pipeline_curation_dsir", "doc_perplexity", "ccnet_buckets_lang",
    "text_neardup_groups", "substr_dedup", "semdedup_prune",
    "gopher_quality",
]
# one batch workload: the estimator fits (many small eager jobs) first, then
# the corpus operators (lazy scans, Arrow UDFs and shuffles, few jobs).  One
# workload, not two, and no rf_mae_regression or spectral_blobs: every run
# pays a JVM start and its JIT warm-up, and the run budget of the whole
# benchmark (see README.md) does not fit more runs or a longer pass
BATCH = {"fit_and_curate": FIT_ESTIMATORS + CURATE_CORPUS}
WORKLOADS = ("fit_and_curate", "serve_lookups")

# the input tables (TPC-H-style, SF 0.01, fixed data seed): every table the
# workloads read, and the views the DuckDB oracles query
TABLES = ["customer", "orders", "lineitem", "events", "documents",
          "embeddings"]

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ok_frac": "frac",
    "peak_rss_mb": "MB",
}

_STAGE_UNITS = {
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.failed_tasks": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "core.session.start_s": "s",
        "setup.cold_s": "s",
        "harness.build_s": "s",
        "harness.build_jobs": "count",
        "spark.collect_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.slot_busy_frac": "frac",
        **_STAGE_UNITS,
        "driver.result_rows": "count",
    }
    for q in FIT_ESTIMATORS + CURATE_CORPUS:
        units[f"q.{q}.s"] = "s"
        units[f"q.{q}.jobs"] = "count"
        units[f"q.{q}.input_bytes"] = "B"
        units[f"q.{q}.shuffle_bytes"] = "B"
    for t in REQUEST_TYPES:
        units[f"{t}.p50_s"] = "s"
        units[f"{t}.jobs"] = "count"
    units["similarity.ivf.fit_s"] = "s"
    units["cluster.kmeans.fit_s"] = "s"
    units["trace.pass_s"] = "s"
    units["trace.calls_s"] = "s"
    units["trace.read_s"] = "s"
    units["isolation.mismatches"] = "count"
    return units


def plan(workload: str, seed: int, ref=None) -> list[tuple[str, list]]:
    """The passes of one run as ``(kind, operations)``: kind ``timed`` or
    ``warmup`` (run and checked, but not timed into any metric).  A batch
    run is one timed pass of the fixed query list (the seed does not
    reach it).  A serve run is the seeded request stream in
    ``serve.ROUNDS`` passes, the first a warm-up: it needs the reference
    data for its key ranges and vocabulary."""
    if workload in BATCH:
        return [("timed", [{"type": "query", "name": q}
                           for q in BATCH[workload]])]
    if workload == "serve_lookups":
        rounds = make_stream(seed, ref)
        return [("warmup", rounds[0])] + [("timed", r) for r in rounds[1:]]
    raise ValueError(f"unknown workload {workload!r}; "
                     f"choose from {', '.join(WORKLOADS)}")
