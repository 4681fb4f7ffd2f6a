"""Library code materializes with ``localCheckpoint`` only.

Estimators own their fitted state and operators reuse frames within one
call through checkpoints, so nothing the library builds registers in the
session-wide cache manager, and ``spark.catalog.clearCache()`` cannot take
fitted state away from a model.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

_GROUP_IDS = itertools.count()


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _xy(spark, n=120):
    rng = np.random.RandomState(0)
    X = rng.normal(size=(n, 2))
    y = X @ [2.0, -1.0] + 0.3
    lbl = (X[:, 0] + X[:, 1] > 0).astype(float)
    return spark.createDataFrame(
        [(i, float(a), float(b), float(t), float(c))
         for i, ((a, b), t, c) in enumerate(zip(X, y, lbl))],
        "id long, f0 double, f1 double, y double, lbl double",
    )


def _emb(spark, n=80, d=8, id_col="vec_id", vec_col="embedding"):
    rng = np.random.RandomState(2)
    return spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        f"{id_col} long, {vec_col} array<double>",
    )


def _series(spark):
    rng = np.random.RandomState(3)
    return spark.createDataFrame(
        [("s", t, float(10 + 3 * np.sin(2 * np.pi * t / 12) + rng.normal()))
         for t in range(48)],
        "series_id string, t long, y double",
    )


def _docs(spark):
    return spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the cat sat on a mat"),
         (2, "a dog ran in the park"), (3, "the dog ran in a park")],
        "doc_id long, text string",
    )


def _connected_components(spark):
    from cuml_spark.ops.sparse import connected_components

    e = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src int, dst int")
    connected_components(e).collect()


def _ivf(spark):
    from cuml_spark.similarity import IVFIndex

    IVFIndex(nlist=4, nprobe=4, seed=1).fit(_emb(spark))


def _ivfpq(spark):
    from cuml_spark.similarity import IVFPQIndex

    IVFPQIndex(nlist=4, nprobe=4, m=4, ksub=16, train_size=80,
               seed=1).fit(_emb(spark))


def _pq(spark):
    from cuml_spark.similarity import PQIndex

    PQIndex(m=4, ksub=16, train_size=80, seed=1).fit(_emb(spark))


def _arima(spark):
    from cuml_spark.tsa import ARIMA

    ARIMA(order=(1, 0, 0)).fit(_series(spark)).params_.collect()


def _holtwinters(spark):
    from cuml_spark.tsa import ExponentialSmoothing

    ExponentialSmoothing(seasonal="additive", seasonal_periods=12).fit(
        _series(spark)).params_.collect()


def _label_encoder(spark):
    from cuml_spark.preprocessing import LabelEncoder

    df = spark.createDataFrame([("a",), ("b",), ("a",)], "fruit string")
    LabelEncoder().fit(df, "fruit")


def _mae_forest(spark):
    from cuml_spark.ensemble.mae_forest import MAERandomForestRegressor

    MAERandomForestRegressor(n_estimators=2, max_depth=3, random_state=1).fit(
        _xy(spark), ["f0", "f1"], "y")


def _sgd_fused(spark):
    from cuml_spark.solvers import SGD

    # > 455 epochs at d = 2 with a sampled batch: the multi-job fused path
    SGD(epochs=500, batch_fraction=0.5, tol=0.0).fit(
        _xy(spark), ["f0", "f1"], "y")


def _sgd_per_step(spark):
    from cuml_spark.solvers import SGD

    SGD(loss="hinge", epochs=3, eta0=0.1).fit(_xy(spark), ["f0", "f1"], "lbl")


def _svc_rff(spark):
    from cuml_spark.svm import SVC

    SVC(mode="rff", n_rff=16).fit(_xy(spark), ["f0", "f1"], "lbl")


def _bigram_lm(spark):
    from cuml_spark.text import fit_bigram_lm

    fit_bigram_lm(_docs(spark))


def _jaccard_candidates(spark):
    from cuml_spark.text.dedup import jaccard_similarity_pairs

    cand = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    jaccard_similarity_pairs(_docs(spark), k=3, candidates=cand).collect()


def _jaccard_allpairs(spark):
    from cuml_spark.text.dedup import jaccard_similarity_pairs

    jaccard_similarity_pairs(_docs(spark), k=3).collect()


def _tsne(spark):
    from cuml_spark.manifold import TSNE

    TSNE(perplexity=5.0, n_iter=20, random_state=5).fit_transform(
        _emb(spark, n=40, d=4, id_col="pid", vec_col="x")).collect()


def _umap(spark):
    from cuml_spark.manifold import UMAP

    UMAP(n_neighbors=5, n_epochs=10, random_state=1).fit(
        _emb(spark, n=40, d=4, id_col="pid", vec_col="x"))


def _spectral(spark):
    from cuml_spark.cluster import SpectralClustering

    SpectralClustering(n_clusters=2, n_neighbors=5, random_state=5).fit_predict(
        _xy(spark, n=40), ["f0", "f1"], "id").collect()


def _benchmark_runner(spark):
    from cuml_spark.benchmark.runners import SpeedupComparisonRunner

    SpeedupComparisonRunner([50], [2])._gen_data(spark, 50, 2)


@pytest.mark.parametrize("fit", [
    _connected_components, _ivf, _ivfpq, _pq, _arima, _holtwinters,
    _label_encoder, _mae_forest, _sgd_fused, _sgd_per_step, _svc_rff,
    _bigram_lm, _jaccard_candidates, _jaccard_allpairs, _tsne, _umap,
    _spectral, _benchmark_runner,
], ids=lambda f: f.__name__.lstrip("_"))
def test_library_registers_nothing_in_cache_manager(spark, fit):
    spark.catalog.clearCache()
    fit(spark)
    assert _cache_manager_empty(spark)


def _search_jobs(spark, idx, q) -> int:
    sc = spark.sparkContext
    group = f"materialization-{next(_GROUP_IDS)}"
    sc.setJobGroup(group, "ivf search")
    try:
        idx.search(q, k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_index_survives_clear_cache(spark):
    """A fitted index is the model's own state: a search after
    ``clearCache()`` runs the same jobs as one before it (it does not
    rebuild the index)."""
    from cuml_spark.similarity import IVFIndex

    emb = _emb(spark)
    idx = IVFIndex(nlist=4, nprobe=2, seed=1).fit(emb)
    q = emb.where(F.col("vec_id") < 5)
    first = _search_jobs(spark, idx, q)
    spark.catalog.clearCache()
    assert _search_jobs(spark, idx, q) == first
