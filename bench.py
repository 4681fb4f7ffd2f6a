"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Measurement protocol (r6+): each query runs TWICE back-to-back and the
reported time is the MIN of the two runs.  Rationale: same-code runs of the
single-shot protocol disagreed by up to 2x per query (r5 driver vs judge
re-run) because a shared 87-query session exposes late queries to
JVM-GC/page-cache/Python-worker churn noise; min-of-2 measures the query's
repeatable cost, not whichever transient the session happened to be in.
Both raw runs are persisted (bench_results.json `runs`) so run-to-run
agreement is auditable.

r8 addition (VERDICT r7 #7): EVERY query gets one untimed warm-up rep
before its two timed reps, so both timed reps measure the repeatable cost
and `run_agreement_within_20pct` reflects real noise instead of restating
the warm-up gap.  A self-selecting variant (warm only the previous run's
worst-gap queries) was tried first and could not converge: the
warm-up-shaped population is unstable across sessions — in a measured r8
pair only 12 of 55 disagreements fell in the 30-query set picked from the
prior session, because EVERY query pays first-run plan compile/codegen,
and for sub-second queries that alone exceeds the 20% band.  Timings stay
min-of-2 — comparable with prior rounds (the warm-up only removes
one-time costs that min-of-2 already tried to exclude); added wall time
is roughly the sum of warm run costs (~2 min at sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Late-session memory pressure was the prime suspect for the r5 regressions
# of mapInPandas-heavy queries (Python-worker churn after ~80 queries on an
# 8g heap): give the bench session real headroom, within the host's RAM.
from cuml_spark.core.session import default_driver_mem  # noqa: E402

os.environ.setdefault("SPARK_DRIVER_MEM", default_driver_mem())

# The r4 bench order (BENCH_r04.json), kept stable so per-query timings
# compare like-for-like across rounds; later additions append at the end.
_BENCH_ORDER = [
    "pipeline_clean_corpus", "streaming_clean_corpus", "pipeline_neardup_groups",
    "pipeline_event_profile", "scalar_functions", "gram_matrix",
    "ridge_closed_form", "lasso_closed_form", "elasticnet_closed_form",
    "logreg_rule_accuracy", "cluster_agreement", "regression_metrics",
    "prob_metrics", "generator_checks", "prims_matrix_rng",
    "qr_factor", "rsvd_agreement", "coo_symmetrize_check",
    "ann_lsh_recall", "ngram_jaccard", "streaming_dedup_docs",
    "streaming_window_stats", "frame_counts", "graph_connected_components",
    "sparse_row_normalize", "cluster_dispersion", "umap_trust",
    "umap_supervised_trust", "umap_transform_oos", "tsne_trust",
    "knn_embeddings", "cosine_topk", "spectral_blobs",
    "trustworthiness_slice", "silhouette_customers", "neardup_pairs",
    "ivf_search_exact", "rf_accuracy", "rf_regression",
    "rf_mae_regression", "kmeans_cluster_sizes", "dbscan_roles",
    "dbscan_cluster_sizes", "pca_variance_2d", "tsvd_singular_2d",
    "fil_score", "svc_rule_accuracy", "sgd_hinge_accuracy",
    "mbsgd_fit", "kalman_local_level",
    "stats_covariance", "topk_revenue_by_flag",
    "ols_price_vs_quantity", "ols_multi_revenue",
    "accuracy_rule", "entropy_returnflag", "contingency_flags",
    "label_encode_mktsegment", "train_test_split_counts", "dedup_exact",
    "doc_fingerprint", "minhash_signatures", "lsh_pairs",
    "simhash_docs", "doc_quality", "doc_tokens",
    "lang_id", "kpss_events",
    "split_exact_sizes", "holtwinters_forecast", "arima_grid_aic",
    "arima_forecast", "random_projection", "media_decode",
    "media_decode_png", "media_decode_jpeg", "media_decode_wav",
    "image_dedup_groups",
    # r5-r9 additions in the order the r9 closing bench actually ran
    # (previously implied by registry insertion order, which window
    # rotation shuffles - pinned so per-query deltas stay like-for-like)
    "bm25_topk_analyzed", "pipeline_retrieval_hybrid", "top_ngrams_corpus",
    "quality_filter_scores", "streaming_quality_scores", "pack_docs",
    "gopher_quality", "fuzzy_contamination", "doc_keywords",
    "ccnet_buckets", "substr_dedup", "semdedup_prune",
    "bm25_topk", "hybrid_rrf", "doc_perplexity_pretrained",
    "domain_mixture_sample", "eval_contamination", "pii_scrub",
    "doc_repetition", "span_dedup", "neardup_safe_split",
    "pq_search_exact", "ivfpq_search_exact", "media_decode_progressive",
    "media_decode_g711", "media_probe_mp4", "media_decode_adpcm",
    "image_phash_invariance", "doc_perplexity", "doc_chunks",
    "c4_line_stats", "arima_ml_aic", "streaming_chunk_docs",
    "streaming_gopher_gate", "bpe_merges", "text_neardup_groups",
    # r9 late additions + r9-continuation sketch/chunking tier, pinned in
    # the registry order their first closing bench ran
    "dsir_weights", "neardup_keep_best", "streaming_dsir_gate",
    "kcenter_coreset", "pipeline_curation_dsir", "cosine_topk_int8",
    "hamming_topk_signs", "pipeline_ann_ladder", "media_decode_lossless",
    "bloom_dedup_gate", "streaming_bloom_gate", "winnow_overlap",
    "hll_distinct_tokens", "tfidf_cosine_pairs", "cms_token_counts",
    "cdc_chunks", "corpus_spectrum", "streaming_cdc_chunks",
    "mink_prob_members", "zorder_keys", "event_sessions",
    "asof_join_events", "range_join_sessions", "streaming_hll_users",
    "corpus_cube_stats", "hypertable_rollup", "stratified_sample_docs",
    # r10 additions (prims_stats_report consolidates the four retired
    # r1-era entries stats_describe/histogram_quantity/
    # weighted_mean_price/standard_scaler — see the harness.py ledger)
    "prims_stats_report", "bpe_word_counts", "quantile_report",
    # r12 additions
    "ccnet_buckets_lang", "fil_lightgbm_score", "domain_length_caps",
    "audio_probe_compressed",
]
# The driver archives only the LAST 2000 characters of this process's
# output into the immutable BENCH_r{N}.json snapshot; a JSON line longer
# than that gets its head clipped and archives as `parsed: null` (which is
# what happened every round since r2, once the registry outgrew ~60
# queries).  Budget the printed line to fit WITH margin; the full-precision
# per-query map + both raw runs always land in bench_results.json and are
# appended to the immutable bench_history.jsonl.
_PRINT_BUDGET = 1900  # r13: the pinned 69-query line measures ~1843
# chars; 1900 keeps every pinned query on the line even if a few values
# gain a digit (spikes), while still leaving 100 chars of the driver's
# 2000-char archive window for the trailing newline

# The query set printed on the r12 BENCH line, PINNED (r13; VERDICT r12
# What's-wrong #5 / next-round #9): the old purely cost-sorted truncation
# made queries fall OFF the printed line when they merely got faster, so
# the driver's round-over-round diff reported improved queries as
# "dropped_from_bench".  Pinning keeps the printed set stable: these
# queries print first (they are the round-over-round comparison basis);
# whatever budget remains goes to the most expensive unpinned queries.
# Full per-query maps still always land in bench_results.json /
# bench_history.jsonl.
_PRINT_PINNED = frozenset([
    "pipeline_clean_corpus", "streaming_clean_corpus",
    "pipeline_neardup_groups", "logreg_rule_accuracy", "regression_metrics",
    "prob_metrics", "generator_checks", "prims_matrix_rng", "qr_factor",
    "rsvd_agreement", "ann_lsh_recall", "streaming_dedup_docs",
    "graph_connected_components", "umap_trust", "umap_supervised_trust",
    "umap_transform_oos", "tsne_trust", "spectral_blobs",
    "trustworthiness_slice", "silhouette_customers", "ivf_search_exact",
    "rf_accuracy", "rf_regression", "rf_mae_regression",
    "kmeans_cluster_sizes", "fil_score", "svc_rule_accuracy",
    "sgd_hinge_accuracy", "mbsgd_fit", "topk_revenue_by_flag",
    "simhash_docs", "split_exact_sizes", "arima_grid_aic",
    "bm25_topk_analyzed", "pipeline_retrieval_hybrid",
    "quality_filter_scores", "gopher_quality", "fuzzy_contamination",
    "doc_keywords", "substr_dedup", "semdedup_prune", "bm25_topk",
    "hybrid_rrf", "doc_perplexity_pretrained", "neardup_safe_split",
    "ivfpq_search_exact", "arima_ml_aic", "streaming_chunk_docs",
    "streaming_gopher_gate", "text_neardup_groups", "dsir_weights",
    "neardup_keep_best", "streaming_dsir_gate", "kcenter_coreset",
    "pipeline_curation_dsir", "cosine_topk_int8", "winnow_overlap",
    "hll_distinct_tokens", "tfidf_cosine_pairs", "cdc_chunks",
    "streaming_cdc_chunks", "mink_prob_members", "zorder_keys",
    "asof_join_events", "range_join_sessions", "streaming_hll_users",
    "quantile_report", "fil_lightgbm_score", "domain_length_caps",
])


def _fit_line(total: float, timings: dict[str, float], sf) -> str:
    """Compact JSON line <= _PRINT_BUDGET chars: all queries if they fit,
    else the pinned comparison set first (then the most expensive of the
    rest), dropping from the cheap unpinned end until it fits, with
    `queries_omitted`/`n_queries` recording what was cut."""

    def build(q: dict[str, float], omitted: int) -> str:
        body = {
            "metric": "total_query_wall_time",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "queries": q,
            "sf": sf,
        }
        if omitted:
            body["queries_omitted"] = omitted
            body["queries_file"] = "bench_results.json"
        return json.dumps(body, separators=(",", ":"))

    q2 = {k: round(v, 2) for k, v in timings.items()}
    line = build(q2, 0)
    if len(line) <= _PRINT_BUDGET:
        return line
    # pinned queries first, then expensive unpinned; drop from the cheap
    # unpinned end, and only then from the cheap pinned end
    pinned = sorted((k for k in q2 if k in _PRINT_PINNED),
                    key=lambda k: -q2[k])
    extras = sorted((k for k in q2 if k not in _PRINT_PINNED),
                    key=lambda k: -q2[k])
    order_pref = pinned + extras
    keep = dict.fromkeys(order_pref)
    line = build({}, len(timings))
    while len(keep) > 1:
        dropped = next(reversed(keep))
        del keep[dropped]
        q = {k: q2[k] for k in timings if k in keep}  # registry order
        candidate = build(q, len(timings) - len(keep))
        if len(candidate) <= _PRINT_BUDGET:
            line = candidate
            break
    else:
        keep.clear()
    lost = [k for k in pinned if k not in keep]
    if lost:
        # the pinned set exists so r-over-r lines compare like-for-like;
        # say which of it this line cannot carry
        print(f"bench.py: printed line over {_PRINT_BUDGET} chars; dropped "
              f"pinned queries: {', '.join(lost)}", file=sys.stderr)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cuml_spark.core.session import get_spark
    from cuml_spark.harness import QUERIES

    spark = get_spark("cuml_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: exercise each engine subsystem once so JVM/codegen/python-worker
    # startup isn't charged to whichever query happens to run first —
    # parquet footer reads, whole-stage codegen, a shuffle, a window, and
    # the Arrow python-worker pool
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    li.limit(1000).withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_orderkey")
        ),
    ).agg(F.max("r")).collect()
    _wu = F.pandas_udf("double")(lambda s: s)
    li.limit(1000).select(_wu(F.col("l_quantity"))).collect()
    # grouped/iterator Arrow paths + sketch aggregates: applyInPandas,
    # mapInPandas, approxQuantile and percentile_approx each class-load and
    # codegen on first use — without warming them, whichever query touches
    # one first (MAE forest, DBSCAN, media decode) is charged the one-time
    # cost
    tiny2 = li.limit(256).select("l_returnflag", "l_quantity")
    tiny2.groupBy("l_returnflag").applyInPandas(
        lambda pdf: pdf.head(1), "l_returnflag string, l_quantity double"
    ).collect()
    tiny2.mapInPandas(lambda it: it, "l_returnflag string, l_quantity double").count()
    li.limit(1000).approxQuantile("l_quantity", [0.5], 0.1)
    li.limit(1000).agg(F.percentile_approx("l_quantity", 0.5, 100)).collect()
    # MLlib class-loading/codegen: one tiny linear fit + one tiny tree fit
    # (otherwise the first estimator query is charged several seconds of
    # one-time JVM initialization)
    from pyspark.ml.classification import LogisticRegression as _WarmLR
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor as _WarmRF

    tiny = VectorAssembler(inputCols=["l_quantity"], outputCol="features").transform(
        li.limit(256).select(
            "l_quantity", (F.col("l_discount") > 0.05).cast("double").alias("lbl")
        )
    )
    _WarmLR(maxIter=2, labelCol="lbl").fit(tiny)
    _WarmRF(numTrees=2, maxDepth=2, labelCol="lbl").fit(tiny)

    # documents-table warmup: the text queries (simhash/doc_quality/
    # doc_fingerprint) regressed in r4 purely from warmup-order shift when
    # the media queries were inserted ahead of them — touch the documents
    # footer, string exprs, and an explode once so the first text query
    # isn't charged those one-time costs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()
    docs.limit(1000).select(
        F.xxhash64("text"), F.length("text"),
        F.explode(F.split(F.col("text"), r"\s+")),
    ).count()

    # deltas are only meaningful like-for-like: a prior run under a
    # different protocol (single-shot vs min-of-2) or driver heap would
    # make negative deltas read as code speedups when they are measurement
    # changes (ADVICE r6 #1) — so compare only against a same-protocol,
    # same-heap prior, and record which prior was used
    prev: dict[str, float] = {}
    prev_protocol = prev_driver_mem = None
    try:
        prev_path = Path(__file__).resolve().parent / "bench_results.json"
        prev_data = json.loads(prev_path.read_text())
        prev_protocol = prev_data.get("protocol")
        prev_driver_mem = prev_data.get("driver_mem")
        if (prev_protocol == "min_of_2"
                and prev_driver_mem == os.environ["SPARK_DRIVER_MEM"]):
            prev = prev_data.get("queries", {})
    except (OSError, ValueError):
        pass

    # Bench execution order is PINNED, decoupled from the registry order
    # (which the driver's correctness window dictates): measured per-query
    # wall time in a shared session is order-sensitive — whichever query
    # runs early absorbs residual JVM/JIT/page-cache warmup (fil_score:
    # ~3s after 40 warm queries, ~11s first in a cold session, same code).
    # Pinning the r4 order keeps r-over-r deltas like-for-like; queries
    # added later append at the end.
    order = [k for k in _BENCH_ORDER if k in QUERIES]
    order += [k for k in QUERIES if k not in set(order)]

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in order:
        fn = QUERIES[name]
        # untimed warm-up rep: absorbs plan compile/codegen/worker
        # spin-up so BOTH timed reps below measure the repeatable cost
        df = fn(spark, sf_dir)
        rows = df.collect() if hasattr(df, "collect") else list(df)
        del rows, df
        pair = []
        for _rep in range(2):
            t0 = time.time()
            df = fn(spark, sf_dir)
            # one collect = one execution; len() gives the row count without
            # paying a second run of the plan the way count()+collect() would
            rows = df.collect() if hasattr(df, "collect") else list(df)
            pair.append(round(time.time() - t0, 3))
            del rows
        runs[name] = pair
        timings[name] = min(pair)
        # queries unpersist what they cache; clearing any stragglers keeps
        # the session's CacheManager (and Catalyst's cache-plan matching)
        # from growing across the registry — untimed, outside the loop body
        spark.catalog.clearCache()
        # release Python-side DataFrame/py4j refs BEFORE the JVM GC:
        # localCheckpoint and cached-RDD blocks (which clearCache does NOT
        # touch) are only dropped by the ContextCleaner once their py4j
        # handles are collected — without this, CC-heavy queries late in
        # the order run against a block manager still holding earlier
        # queries' checkpoint blocks (measured r7: neardup_safe_split
        # 2.96 s quiet vs 4.7–11.8 s late-in-run)
        import gc as _pygc

        _pygc.collect()
        # force a JVM GC between queries (untimed): without it, whichever
        # query runs while the heap happens to cross a collection threshold
        # absorbs a multi-hundred-ms pause that belongs to its predecessors'
        # garbage — a main source of the cross-round per-query noise
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    # r-over-r visibility: signed delta per query vs the previous persisted
    # run, so regressions surface without diffing BENCH files by hand
    deltas = {
        n: round(t - prev[n], 3) for n, t in timings.items() if n in prev
    }
    # run-to-run agreement of the two same-session runs (audit trail for
    # the measurement-noise question): fraction within 20%.  Most
    # disagreement is warm-up-SHAPED (run1 carries plan compile/codegen,
    # run2 is the repeatable cost — r7 final run: 61 of 65 disagreements
    # had run1 > run2), so a low agreement number mostly restates the
    # warm-up gap.  TRUE anomalies are run2 > 1.2×run1 — the warm rep
    # being slower — counted separately below.
    agree = [
        n for n, (a, b) in runs.items()
        if max(a, b) <= 1.2 * max(min(a, b), 0.05)
    ]
    noise_flagged = [
        n for n, (a, b) in runs.items() if b > 1.2 * max(a, 0.05)
    ]
    result = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "protocol": "min_of_2",
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "queries": timings,
        "runs": runs,
        # empty (with the mismatched prior's tags preserved below) when the
        # previous bench_results.json used a different protocol/heap
        "deltas_vs_prev": deltas,
        "deltas_prev_protocol": prev_protocol,
        "deltas_prev_driver_mem": prev_driver_mem,
        "run_agreement_within_20pct": round(len(agree) / max(len(runs), 1), 3),
        "run2_slower_than_run1": sorted(noise_flagged),
        "warmup_reps": "all",
        "sf": sf_val,
    }
    repo = Path(__file__).resolve().parent
    try:
        (repo / "bench_results.json").write_text(json.dumps(result, indent=1))
    except OSError:
        pass
    # append-only history: bench_results.json is overwritten every run, which
    # left earlier rounds without per-query evidence once BENCH_r{N}.json
    # archived `parsed: null` — one line per run here is the immutable record
    try:
        with open(repo / "bench_history.jsonl", "a") as fh:
            fh.write(json.dumps(result, separators=(",", ":")) + "\n")
    except OSError:
        pass
    print(_fit_line(total, timings, sf_val))


if __name__ == "__main__":
    main()
