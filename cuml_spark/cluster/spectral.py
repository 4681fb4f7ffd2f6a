"""Spectral clustering / embedding.

Reference: cpp/include/cuml/cluster/spectral.hpp:40-114 (fit_clusters /
fit_embedding over a KNN graph or COO adjacency; impl
cpp/src/spectral/spectral.cu:40-77 delegates to nvgraph Lanczos + balanced
k-means).

Spark-first shape (two modes, auto-selected on row count):

* ``exact`` (n ≤ max_exact): the KNN graph is built DISTRIBUTED
  (``knn_join``: broadcast queries, window-bounded top-k — no crossJoin),
  symmetrized with ``coo_symmetrize``; only the O(n·k) edge list reaches the
  driver, where orthogonal iteration over the COO normalized adjacency
  (numpy scatter-add, O(E·k) per sweep — NEVER a dense n×n) extracts the
  top eigenvectors.  This mirrors the reference's Lanczos-on-device +
  host-side orchestration split.

* ``landmark`` (n > max_exact): Nyström extension.  m landmarks are chosen
  by a deterministic hash rule (no sort, no sample-collect), the m×m RBF
  kernel eigendecomposition happens on the driver (m is a constant), and
  every point's embedding is a map-only Arrow-batched matmul against the
  broadcast (m×k) extension matrix — no shuffle at all, so the pass scales
  to any row count.  Driver state: m×m once, m×k afterwards.

Eigen-solve is numpy-only (scipy is unavailable): block orthogonal iteration
with a Rayleigh-Ritz finish, deterministic seeded start.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuml_spark.core.base import Base


def _topk_eig(
    n: int,
    rows: np.ndarray,
    cols: np.ndarray,
    vals: np.ndarray,
    k: int,
    seed: int = 7,
    deflate_trivial: bool = False,
    dense_cutoff: int = 4000,
) -> tuple[np.ndarray, np.ndarray]:
    """Tiered top-k eigensolver for S = I + D^{-1/2} A D^{-1/2}: exact dense
    ``eigh`` below ``dense_cutoff`` (degenerate eigenspaces — disconnected
    graphs — resolved exactly), COO orthogonal iteration above (O(E·k) per
    sweep; slow-mixing graphs get many sweeps)."""
    if n <= dense_cutoff:
        A = np.zeros((n, n))
        # accumulate duplicates (same semantics as the COO tier's
        # np.add.at) — plain fancy-index assignment would last-write-win
        np.add.at(A, (rows, cols), vals)
        deg = A.sum(1)
        deg[deg == 0] = 1.0
        dm = 1.0 / np.sqrt(deg)
        S = np.eye(n) + (dm[:, None] * A) * dm[None, :]
        if deflate_trivial:
            # spectral shift: push the known trivial eigenvector (D^{1/2}·1,
            # eigenvalue 2) to the bottom so plain eigh ordering skips it
            v0 = np.sqrt(deg)
            v0 /= np.linalg.norm(v0)
            S = S - 4.0 * np.outer(v0, v0)
        w, V = np.linalg.eigh(S)
        order = np.argsort(w)[::-1][:k]
        return V[:, order], w[order]
    return _topk_eig_coo(n, rows, cols, vals, k, n_iter=500, seed=seed,
                         deflate_trivial=deflate_trivial)


def _topk_eig_coo(
    n: int,
    rows: np.ndarray,
    cols: np.ndarray,
    vals: np.ndarray,
    k: int,
    n_iter: int = 300,
    seed: int = 7,
    deflate_trivial: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k eigenpairs of S = I + D^{-1/2} A D^{-1/2} via orthogonal
    iteration on COO edges (spectral_algo.h:44 Lanczos role).  O(E·k) per
    sweep, no densification.  With ``deflate_trivial`` the analytic leading
    eigenvector D^{1/2}·1 is projected out (embedding mode drops it;
    clustering mode keeps component indicators)."""
    deg = np.zeros(n)
    np.add.at(deg, rows, vals)
    deg[deg == 0] = 1.0
    dm = 1.0 / np.sqrt(deg)
    v0 = np.sqrt(deg)
    v0 /= np.linalg.norm(v0)

    rng = np.random.RandomState(seed)
    Y = rng.normal(size=(n, k)).astype(np.float64)

    def smul(Y: np.ndarray) -> np.ndarray:
        Z = vals[:, None] * (dm[cols, None] * Y[cols])
        out = np.zeros_like(Y)
        np.add.at(out, rows, Z)
        return Y + dm[:, None] * out

    for _ in range(n_iter):
        if deflate_trivial:
            Y -= v0[:, None] * (v0 @ Y)
        Y = smul(Y)
        Y, _ = np.linalg.qr(Y)
    # Rayleigh-Ritz: rotate the block to actual eigenvector estimates
    SY = smul(Y)
    H = Y.T @ SY
    w, Q = np.linalg.eigh((H + H.T) / 2.0)
    order = np.argsort(w)[::-1]
    return Y @ Q[:, order], w[order]


class SpectralClustering(Base):
    """fit_clusters (spectral.hpp:40): KNN-graph spectral embedding + KMeans
    on the row-normalized top-``n_clusters`` eigenvectors (Ng-Jordan-Weiss)."""

    def __init__(self, n_clusters: int = 8, n_neighbors: int = 10,
                 n_components: int | None = None, mode: str = "auto",
                 max_exact: int = 20000, n_landmarks: int = 1000,
                 gamma: float | None = None, random_state: int = 7, **kwargs):
        super().__init__(**kwargs)
        self.n_clusters = n_clusters
        self.n_neighbors = n_neighbors
        self.n_components = n_components or n_clusters
        self.mode = mode
        self.max_exact = max_exact
        self.n_landmarks = n_landmarks
        self.gamma = gamma
        self.random_state = random_state

    def fit_predict(self, df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
        emb = spectral_embedding(
            df, cols, id_col,
            n_components=self.n_components,
            n_neighbors=self.n_neighbors,
            mode=self.mode, max_exact=self.max_exact,
            n_landmarks=self.n_landmarks, gamma=self.gamma,
            seed=self.random_state, drop_first=False,
        )
        ecols = [f"se{j}" for j in range(self.n_components)]
        # NJW row normalization as a pure expression
        nrm = F.sqrt(sum(F.col(c) * F.col(c) for c in ecols) + F.lit(1e-12))
        # checkpoint: KMeans iterates over this frame many times — without
        # it every Lloyd round re-runs the Nyström extension UDF / KNN
        # pipeline upstream
        normed = emb.select(
            id_col, *[(F.col(c) / nrm).alias(c) for c in ecols]
        ).localCheckpoint(eager=False)
        from cuml_spark.cluster.kmeans import KMeans

        km = KMeans(n_clusters=self.n_clusters, random_state=self.random_state,
                    max_iter=50)
        return km.fit_predict(normed, ecols).select(id_col, "label")


def spectral_embedding(
    df: DataFrame,
    cols: list[str],
    id_col: str,
    n_components: int = 2,
    n_neighbors: int = 10,
    mode: str = "auto",
    max_exact: int = 20000,
    n_landmarks: int = 1000,
    gamma: float | None = None,
    seed: int = 7,
    drop_first: bool = True,
) -> DataFrame:
    """fit_embedding (spectral.hpp:76): → (id_col, se0..se{k-1})."""
    data = df.select(
        F.col(id_col), *[F.col(c).cast("double").alias(c) for c in cols]
    )
    n = data.count()
    use_exact = mode == "exact" or (mode == "auto" and n <= max_exact)
    if use_exact:
        return _embed_exact(data, cols, id_col, n, n_components,
                            n_neighbors, seed, drop_first)
    return _embed_landmark(data, cols, id_col, n, n_components,
                           n_landmarks, gamma, seed, drop_first)


def _embed_exact(data, cols, id_col, n, k, n_neighbors, seed, drop_first):
    from cuml_spark.neighbors.nearest_neighbors import self_knn_graph
    from cuml_spark.ops.sparse import coo_symmetrize

    vec = data.select(
        F.col(id_col).alias("vec_id"),
        F.array(*[F.col(c) for c in cols]).alias("embedding"),
    )
    knn = self_knn_graph(vec, k=n_neighbors, metric="sqeuclidean",
                         n_rows=n, seed=seed)
    edges = knn.select(
        F.col("query_id").alias("row"),
        F.col("neighbor_id").alias("col"),
        F.lit(1.0).alias("value"),  # connectivity graph
    )
    sym = coo_symmetrize(
        edges,
        op=lambda a, b: F.greatest(F.coalesce(a, F.lit(0.0)),
                                   F.coalesce(b, F.lit(0.0))),
    )
    # O(n·k) edge list is the ONLY thing collected (same contract as UMAP's
    # driver-side layout state)
    pdf = sym.toPandas()
    ids = data.select(id_col).toPandas()[id_col].to_numpy()
    pos = {v: i for i, v in enumerate(ids)}
    rows = np.fromiter((pos[v] for v in pdf["row"]), dtype=np.int64, count=len(pdf))
    cols_ = np.fromiter((pos[v] for v in pdf["col"]), dtype=np.int64, count=len(pdf))
    vals = pdf["value"].to_numpy(dtype=np.float64)
    # deflation already removes the trivial D^{1/2}·1 vector, so the block's
    # top-k ARE the non-trivial eigenvectors — no extra column skip
    Y, _ = _topk_eig(n, rows, cols_, vals, k, seed=seed,
                     deflate_trivial=drop_first)
    comp = Y[:, :k]
    import pandas as pd

    out_pdf = pd.DataFrame({id_col: ids})
    for j in range(k):
        out_pdf[f"se{j}"] = comp[:, j]
    return data.sparkSession.createDataFrame(out_pdf)


def _embed_landmark(data, cols, id_col, n, k, n_landmarks, gamma, seed, drop_first):
    step = max(1, n // n_landmarks)
    lm = data.filter(F.xxhash64(F.col(id_col), F.lit(seed)) % step == 0)
    L = np.array([[r[c] for c in cols] for r in lm.collect()], dtype=np.float64)
    m = len(L)
    if m < k + 2:
        raise ValueError(f"too few landmarks ({m}) for {k} components")
    sq = ((L[:, None, :] - L[None, :, :]) ** 2).sum(-1)
    if gamma is None:
        med = np.median(sq[sq > 0]) if (sq > 0).any() else 1.0
        gamma = 1.0 / max(med, 1e-12)
    W = np.exp(-gamma * sq)
    d = W.sum(1)
    dm = 1.0 / np.sqrt(d)
    M = dm[:, None] * W * dm[None, :]
    w, U = np.linalg.eigh(M)
    order = np.argsort(w)[::-1]
    start = 1 if drop_first else 0
    sel = order[start:start + k]
    lam = np.maximum(w[sel], 1e-12)
    # extension matrix: embed(x) = (w_x / sqrt(d_x)) @ (dm * U) / λ
    E = (dm[:, None] * U[:, sel]) / lam[None, :]

    spark = data.sparkSession
    bL = spark.sparkContext.broadcast(L)
    bE = spark.sparkContext.broadcast(E)
    g = float(gamma)
    cols_l = list(cols)
    schema = T.StructType(
        [data.schema[id_col]]
        + [T.StructField(f"se{j}", T.DoubleType()) for j in range(k)]
    )

    def extend(batches):
        import pandas as pd

        Lv, Ev = bL.value, bE.value
        for pdf in batches:
            X = pdf[cols_l].to_numpy(dtype=np.float64)
            sqd = ((X ** 2).sum(1)[:, None] - 2.0 * X @ Lv.T
                   + (Lv ** 2).sum(1)[None, :])
            Wx = np.exp(-g * np.maximum(sqd, 0.0))
            dx = np.maximum(Wx.sum(1), 1e-12)
            emb = (Wx / np.sqrt(dx)[:, None]) @ Ev
            out = {id_col: pdf[id_col]}
            for j in range(emb.shape[1]):
                out[f"se{j}"] = emb[:, j]
            yield pd.DataFrame(out)

    return data.mapInPandas(extend, schema=schema)
