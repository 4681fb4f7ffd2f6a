"""DBSCAN vs a direct numpy BFS reference: exact semantics, full label
vectors (clusters numbered by their lowest core id, border points take the
min label over their core neighbours, noise −1)."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pytest

from cuml_spark.cluster import DBSCAN
from cuml_spark.cluster.dbscan import _SUB_CELL_MARGIN
from cuml_spark.datasets import make_blobs


def _np_dbscan(X: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Textbook DBSCAN: core = |N_eps| >= min_samples (self incl.), clusters =
    CCs of the core-core eps-graph, border -> any core neighbor's cluster."""
    n = len(X)
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps
    deg = nbr.sum(1)  # self counts
    core = deg >= min_samples
    labels = np.full(n, -1)
    cur = 0
    for i in range(n):
        if not core[i] or labels[i] != -1:
            continue
        stack = [i]
        labels[i] = cur
        while stack:
            p = stack.pop()
            for q in np.where(nbr[p])[0]:
                if labels[q] == -1:
                    if core[q]:
                        labels[q] = cur
                        stack.append(q)
        cur += 1
    # border points: min core neighbor's cluster (deterministic variant)
    for i in range(n):
        if labels[i] == -1 and not core[i]:
            cands = [labels[q] for q in np.where(nbr[i])[0] if core[q]]
            if cands:
                labels[i] = min(cands)
    return labels


def _fit_labels(spark, X: np.ndarray, eps: float, min_samples: int,
                algorithm: str) -> np.ndarray:
    """DBSCAN labels of the rows of ``X``, in row order (id = row index)."""
    cols = [f"f{i}" for i in range(X.shape[1])]
    df = spark.createDataFrame(
        [(i, *map(float, row)) for i, row in enumerate(X)],
        ", ".join(["id long"] + [f"{c} double" for c in cols]),
    )
    got = (
        DBSCAN(eps=eps, min_samples=min_samples, algorithm=algorithm)
        .fit_predict(df, cols, id_col="id")
        .toPandas()
        .sort_values("id")
    )
    np.testing.assert_array_equal(got["id"].to_numpy(), np.arange(len(X)))
    return got["label"].to_numpy()


def _blobs(d: int) -> np.ndarray:
    rng = np.random.RandomState(12)
    centers = rng.uniform(-10.0, 10.0, size=(4, d))
    X = centers[rng.randint(0, 4, size=600)] + rng.normal(0.0, 0.6, size=(600, d))
    return np.vstack([X, rng.uniform(-12.0, 12.0, size=(40, d))])  # sparse noise


# eps per dimension: each case has several clusters, border points and noise
_BLOB_EPS = {1: 0.03, 2: 0.5, 3: 0.9}


@pytest.mark.parametrize("algorithm", ["grid", "brute"])
@pytest.mark.parametrize("d", [1, 2, 3])
def test_dbscan_matches_numpy_reference(spark, d, algorithm):
    X, eps, ms = _blobs(d), _BLOB_EPS[d], 5
    ref = _np_dbscan(X, eps, ms)
    assert ref.max() >= 1 and (ref == -1).any()  # the case is not degenerate
    np.testing.assert_array_equal(_fit_labels(spark, X, eps, ms, algorithm), ref)


def _boundary_points(d: int, eps: float) -> np.ndarray:
    side = eps / math.sqrt(d) * (1.0 - _SUB_CELL_MARGIN)
    pts = []
    # a chain along axis 0 whose neighbours are exactly eps apart: the
    # inner points are core, linked only by exactly-eps edges; the ends
    # are border points exactly eps from a core point
    pts += [[k * eps] + [0.0] * (d - 1) for k in range(6)]
    # a lattice whose coordinates are exact multiples of the sub-cell side
    # (on sub-cell boundaries), at negative coordinates
    pts += [[(i - 40) * side for i in idx]
            for idx in itertools.product(range(3), repeat=d)]
    # an isolated pair exactly eps apart: noise at min_samples 3
    pts += [[20.0] * d, [20.0 + eps] + [20.0] * (d - 1)]
    return np.array(pts)


@pytest.mark.parametrize("algorithm", ["grid", "brute"])
@pytest.mark.parametrize("d", [1, 2, 3])
def test_dbscan_sub_cell_boundaries_and_exact_eps(spark, d, algorithm):
    eps, ms = 0.5, 3
    X = _boundary_points(d, eps)
    ref = _np_dbscan(X, eps, ms)
    assert ref.max() == 1 and (ref[-2:] == -1).all()
    np.testing.assert_array_equal(_fit_labels(spark, X, eps, ms, algorithm), ref)


def test_dbscan_separated_blobs_become_clusters(spark):
    centers = np.array([[-8.0, -8.0], [0.0, 8.0], [8.0, -8.0]])
    df = make_blobs(spark, n_samples=400, n_features=2, centers=centers,
                    cluster_std=0.3, random_state=5)
    out = DBSCAN(eps=1.0, min_samples=5).fit_predict(df, ["f0", "f1"], id_col="id")
    joined = out.join(df.select("id", "label").withColumnRenamed("label", "truth"), "id")
    pdf = joined.toPandas()
    clustered = pdf[pdf["label"] >= 0]
    # well-separated tight blobs: each found cluster is pure in ground truth
    purity = clustered.groupby("label")["truth"].nunique()
    assert (purity == 1).all()
    assert clustered["label"].nunique() == 3


def test_dbscan_all_noise_when_eps_tiny(spark):
    df = make_blobs(spark, n_samples=200, n_features=2, centers=2, random_state=3)
    out = DBSCAN(eps=1e-9, min_samples=3).fit_predict(df, ["f0", "f1"], id_col="id")
    assert out.filter("label != -1").count() == 0
