"""KMeans quality tests, mirroring the reference's S-class strategy
(test_kmeans.py: cluster agreement / score checks, not value equality)."""

from __future__ import annotations

import numpy as np
import pytest

from cuml_spark.cluster import KMeans
from cuml_spark.datasets import make_blobs
from cuml_spark.metrics import adjusted_rand_score


CENTERS = np.array([[-8.0, -8.0], [0.0, 8.0], [8.0, -4.0]])


@pytest.fixture(scope="module")
def blobs(spark):
    return make_blobs(
        spark, n_samples=2000, n_features=2, centers=CENTERS, cluster_std=0.8,
        random_state=5,
    ).cache()


def test_kmeans_recovers_blobs(blobs):
    km = KMeans(n_clusters=3, random_state=0)
    labeled = km.fit_predict(blobs, ["f0", "f1"], out_col="pred")
    ari = adjusted_rand_score(labeled, "label", "pred")
    assert ari > 0.95  # well-separated blobs: near-perfect recovery


def test_kmeans_attributes(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    assert km.cluster_centers_.shape == (3, 2)
    assert km.inertia_ > 0
    assert km.n_iter_ >= 1


def test_kmeans_predict_is_nearest_center(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    sample = km.predict(blobs.limit(100), out_col="pred").select("f0", "f1", "pred").collect()
    for r in sample:
        d = ((km.cluster_centers_ - np.array([r["f0"], r["f1"]])) ** 2).sum(axis=1)
        assert int(np.argmin(d)) == r["pred"]


def test_kmeans_transform_distances(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    row = km.transform(blobs.limit(1)).first()
    p = np.array([row["f0"], row["f1"]])
    for i, c in enumerate(km.cluster_centers_):
        assert row[f"dist_{i}"] == pytest.approx(np.linalg.norm(p - c), rel=1e-6)


def test_kmeans_score_is_negative_inertia(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    s = km.score(blobs)
    assert s < 0
    assert -s == pytest.approx(km.inertia_, rel=1e-2)  # same data → same cost


import pytest as _pytest

from tests.conftest import quality_param, stress_param, unit_param


@_pytest.mark.parametrize("n", [
    unit_param(1000), quality_param(20000), stress_param(500000),
])
def test_kmeans_size_tiers(spark, n):
    """Size-tiered KMeans recovery (reference tier pattern:
    test_kmeans.py:32-34 unit/quality/stress params): 3 well-separated
    blobs must be recovered with the right cluster sizes at every tier."""
    from pyspark.sql import functions as F

    from cuml_spark.cluster import KMeans

    df = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 3).alias("g"),
            ((F.col("id") % 3) * 20.0
             + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 1000.0).alias("x1"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)) / 1000.0).alias("x2"),
        )
    )
    km = KMeans(n_clusters=3, random_state=1, max_iter=50).fit(df, ["x1", "x2"])
    sizes = sorted(
        r["n"] for r in km.predict(df, ["x1", "x2"])
        .groupBy("label").agg(F.count("*").alias("n")).collect()
    )
    want = sorted((n + 2) // 3 if g < n % 3 or n % 3 == 0 else n // 3
                  for g in range(3))
    assert sizes == sorted([n - 2 * (n // 3), n // 3, n // 3]) or sizes == want


def test_kmeans_assignment_expression_is_linear_and_ties_low(spark):
    """The nearest-center expression grows linearly with k (a nested
    running-minimum form doubles per center and overflows the JVM method
    limit at k = 8), and exact ties go to the lowest cluster id."""
    from pyspark.sql import functions as F

    def n_nodes(k: int) -> int:
        km = KMeans(n_clusters=k)
        cents = np.zeros((k, 2))
        dists = [km._sq_dist_expr(c, ["x", "y"]) for c in cents]
        plan = spark.range(1).select(
            F.lit(0.0).alias("x"), F.lit(0.0).alias("y")
        ).select(km._argmin_expr(dists).alias("label"))
        proj = plan._jdf.queryExecution().analyzed().expressions()
        return len(proj.head().treeString().splitlines())

    # linear: doubling k about doubles the tree (checked at k = 8 before
    # k = 16 is built, so an exponential form fails fast)
    n4, n8 = n_nodes(4), n_nodes(8)
    assert n8 <= 2 * n4 + 8
    assert n_nodes(16) <= 2 * n8 + 8

    # 16 centers on a 4×4 grid of spacing 2; half-integer points sit on
    # exact ties between 2 or 4 centers (all squares are exact in float64)
    centers = np.array([[2.0 * (i % 4), 2.0 * (i // 4)] for i in range(16)])
    grid = np.arange(0.0, 7.5, 0.5)
    pts = np.array([[x, y] for x in grid for y in grid])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, x double, y double",
    )
    km = KMeans(n_clusters=16, init_centers=centers)
    km.cluster_centers_ = centers
    km._cols = ["x", "y"]
    got = {r["pid"]: r["label"] for r in km.predict(df).collect()}
    d = ((pts[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    want = np.argmin(d, axis=1)  # first minimum = lowest id on ties
    assert (d == d.min(axis=1, keepdims=True)).sum(axis=1).max() == 4
    assert [got[i] for i in range(len(pts))] == want.tolist()


def _lloyd(blobs):
    return KMeans(n_clusters=3, init_centers=CENTERS, max_iter=3).fit(
        blobs, ["f0", "f1"])


def test_kmeans_pickle_keeps_pending_inertia(blobs, tmp_path):
    """The explicit-init fit defers inertia_; pickling or saving before the
    first access must still carry the value."""
    import pickle

    km = _lloyd(blobs)
    expected = -km.score(blobs, ["f0", "f1"])
    loaded = pickle.loads(pickle.dumps(_lloyd(blobs)))
    assert loaded.inertia_ == pytest.approx(expected, rel=1e-9)
    km2 = _lloyd(blobs)
    km2.save(str(tmp_path / "km"))
    assert KMeans.load(str(tmp_path / "km")).inertia_ == pytest.approx(
        expected, rel=1e-9)


def test_kmeans_legacy_pickle_state_loads(blobs):
    """Pickles from before the lazy inertia stored it as ``inertia_``; one
    with neither key still loads and reports None."""
    state = _lloyd(blobs).__getstate__()
    value = state.pop("_inertia")
    legacy = KMeans.__new__(KMeans)
    legacy.__setstate__(dict(state, inertia_=value))
    assert legacy.inertia_ == value
    bare = KMeans.__new__(KMeans)
    bare.__setstate__(dict(state))
    assert bare.inertia_ is None
    assert bare.predict(blobs.limit(5)).count() == 5
