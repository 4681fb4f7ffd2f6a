"""UMAP — Uniform Manifold Approximation and Projection (McInnes 2018).

Reference: python/cuml/manifold/umap.pyx:113 (ctor :240: n_neighbors=15,
n_components=2, n_epochs, min_dist, spread, init ∈ {spectral, random}) →
cpp/src/umap/runner.h:82 stages: KNN graph → fuzzy simplicial set
(fuzzy_simpl_set/naive.h smooth-knn-dist) → init embedding → negative-
sampling SGD layout (simpl_set_embed/algo.h; a/b curve fit optimize.h:175).

Spark-native split (SURVEY.md §7.3): the expensive stage — the KNN graph —
is DISTRIBUTED (crossJoin-free top-k via the shard-and-merge knn_join).  The
embedding optimization mutates a global n×2 array every step and is
inherently sequential, so it runs on the DRIVER over the collected k-sparse
edge list (n×k rows, NOT n² — the same asymmetry the reference exploits:
graph build dominates).  ``transform`` of new points is distributed again:
each new point lands at the fuzzy-weighted mean of its k nearest training
embeddings.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.optim import nelder_mead
from cuml_spark.neighbors.nearest_neighbors import knn_join, self_knn_graph

SMOOTH_K_TOL = 1e-5


def _smooth_knn_dist_all(D: np.ndarray, k: float, n_iter: int = 64,
                         local_connectivity: float = 1.0) -> tuple[np.ndarray, np.ndarray]:
    """(rho, sigma) for EVERY point at once — the smooth-knn-dist binary
    search (fuzzy_simpl_set/naive.h) run as one vectorized solve over the
    padded (n, kmax) distance matrix (np.inf padding contributes exp(-inf)=0
    to the membership sum, exactly like an absent neighbor).

    ``local_connectivity`` (umap.pyx:240 vocabulary): rho is the distance to
    the ⌊lc⌋-th nearest neighbor, linearly interpolated toward the next one
    for fractional lc — lc=1.0 reduces to the nearest-neighbor distance.
    """
    target = np.log2(k)
    finite = np.isfinite(D)
    pos = finite & (D > 0)
    Dpos = np.sort(np.where(pos, D, np.inf), axis=1)  # ascending, inf-padded
    n_pos = np.isfinite(Dpos).sum(axis=1)
    lc = max(float(local_connectivity), 1.0)
    idx = int(np.floor(lc)) - 1
    frac = lc - np.floor(lc)
    i0 = np.minimum(idx, np.maximum(n_pos - 1, 0))
    i1 = np.minimum(idx + 1, np.maximum(n_pos - 1, 0))
    r0 = Dpos[np.arange(len(Dpos)), i0]
    r1 = Dpos[np.arange(len(Dpos)), i1]
    rho = np.where(n_pos > 0, r0 + frac * np.where(np.isfinite(r1 - r0), r1 - r0, 0.0), 0.0)
    rho = np.where(np.isfinite(rho), rho, 0.0)
    n = D.shape[0]
    lo = np.zeros(n)
    hi = np.full(n, np.inf)
    mid = np.ones(n)
    done = np.zeros(n, dtype=bool)
    shifted = np.maximum(D - rho[:, None], 0.0)  # inf stays inf
    for _ in range(n_iter):
        with np.errstate(over="ignore"):
            psum = np.where(finite, np.exp(-shifted / mid[:, None]), 0.0).sum(axis=1)
        done |= np.abs(psum - target) < SMOOTH_K_TOL
        if done.all():
            break
        high = ~done & (psum > target)
        hi[high] = mid[high]
        mid[high] = (lo[high] + hi[high]) / 2.0
        low = ~done & (psum <= target)
        lo[low] = mid[low]
        inf_hi = low & np.isinf(hi)
        mid[inf_hi] *= 2.0
        fin_hi = low & ~np.isinf(hi)
        mid[fin_hi] = (lo[fin_hi] + hi[fin_hi]) / 2.0
    return rho, mid


def _fuzzy_simplicial_set(
    qi: np.ndarray, ni: np.ndarray, dist: np.ndarray, n: int, k: float,
    set_op_mix_ratio: float = 1.0, local_connectivity: float = 1.0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """k-sparse KNN edge list → symmetric fuzzy graph (heads, tails, weights).

    Fully vectorized: padded-matrix smooth-knn-dist solve, membership
    strengths by fancy-indexing rho/sigma back onto edges, and the
    symmetrization w + wᵀ − w∘wᵀ (coo_symmetrize, sparse/coo.h:797) via a
    sorted-key searchsorted match of each edge against its reverse — no
    Python dicts, O(E log E).
    """
    m = len(qi)
    if m == 0:
        z = np.zeros(0)
        return z.astype(np.int64), z.astype(np.int64), z
    # pad edges into (n, kmax) rows ordered by arrival within each query
    order = np.argsort(qi, kind="stable")
    counts = np.bincount(qi, minlength=n)
    kmax = int(counts.max())
    slot = np.arange(m) - np.repeat(np.cumsum(counts) - counts, counts)
    D = np.full((n, kmax), np.inf)
    D[qi[order], slot] = dist[order]
    rho, sigma = _smooth_knn_dist_all(D, k, local_connectivity=local_connectivity)
    w = np.exp(-np.maximum(dist - rho[qi], 0.0) / sigma[qi])
    # match each directed edge with its reverse (if present)
    key = qi.astype(np.int64) * n + ni.astype(np.int64)
    rkey = ni.astype(np.int64) * n + qi.astype(np.int64)
    korder = np.argsort(key)
    skey, sw = key[korder], w[korder]
    pos = np.searchsorted(skey, rkey)
    pos_c = np.minimum(pos, m - 1)
    found = skey[pos_c] == rkey
    wt = np.where(found, sw[pos_c], 0.0)
    # set_op_mix_ratio (umap.pyx:240): 1.0 = fuzzy union (w ⊔ wᵀ), 0.0 =
    # fuzzy intersection (w ⊓ wᵀ), linear blend between
    mix = set_op_mix_ratio
    sym_w = mix * (w + wt - w * wt) + (1.0 - mix) * (w * wt)
    # dedupe to one row per unordered pair (both directions agree on sym_w)
    a = np.minimum(qi, ni).astype(np.int64)
    b = np.maximum(qi, ni).astype(np.int64)
    _, first = np.unique(a * n + b, return_index=True)
    return a[first], b[first], sym_w[first]


def _categorical_intersection(
    labels: np.ndarray,
    heads: np.ndarray,
    tails: np.ndarray,
    weights: np.ndarray,
    unknown_dist: float = 1.0,
    far_dist: float = 5.0,
) -> np.ndarray:
    """Supervised reweighting of the fuzzy graph by a categorical target
    (reference: categorical simplicial-set intersection behind runner.h:139
    ``_fit(X, y)`` / umap.pyx:395): edges whose endpoints carry DIFFERENT
    labels are attenuated by exp(−far_dist), edges with a missing label by
    exp(−unknown_dist), same-label edges pass through — so layout attraction
    concentrates within classes while the ambient geometry still orders
    points inside each class."""
    la, lb = labels[heads], labels[tails]
    la_na = pd_isnull(la)
    lb_na = pd_isnull(lb)
    unknown = la_na | lb_na
    far = ~unknown & (la != lb)
    out = weights.copy()
    out[unknown] *= np.exp(-unknown_dist)
    out[far] *= np.exp(-far_dist)
    return out


def pd_isnull(x: np.ndarray) -> np.ndarray:
    import pandas as pd

    return pd.isnull(x)


def _find_ab_params(spread: float, min_dist: float) -> tuple[float, float]:
    """Fit 1/(1+a·d^(2b)) to the desired fuzzy curve (optimize.h:175
    find_params_ab) — least squares on a grid via Nelder-Mead."""
    xv = np.linspace(0.0, spread * 3.0, 300)
    yv = np.where(xv < min_dist, 1.0, np.exp(-(xv - min_dist) / spread))

    def sse(p):
        a, b = p
        if a <= 0 or b <= 0:
            return 1e18
        f = 1.0 / (1.0 + a * xv ** (2.0 * b))
        return float(((f - yv) ** 2).sum())

    p, _ = nelder_mead(sse, np.array([1.0, 1.0]),
                       bounds=[(1e-3, 100.0), (1e-3, 10.0)], max_iter=500)
    return float(p[0]), float(p[1])


class UMAP(Base):
    def __init__(self, n_neighbors: int = 15, n_components: int = 2,
                 n_epochs: int = 500, learning_rate: float = 1.0,
                 min_dist: float = 0.1, spread: float = 1.0,
                 set_op_mix_ratio: float = 1.0, local_connectivity: float = 1.0,
                 repulsion_strength: float = 1.0,
                 negative_sample_rate: int = 5, init: str = "spectral",
                 random_state: int = 42, callback=None,
                 max_driver_rows: int = 1_000_000, **kwargs):
        super().__init__(**kwargs)
        if init not in ("spectral", "random"):
            raise ValueError("init must be 'spectral' or 'random'")
        if not 0.0 <= set_op_mix_ratio <= 1.0:
            raise ValueError("set_op_mix_ratio must be in [0, 1] (umap.pyx:240)")
        self.n_neighbors = n_neighbors
        self.n_components = n_components
        self.n_epochs = n_epochs
        self.learning_rate = learning_rate
        self.min_dist = min_dist
        self.spread = spread
        self.set_op_mix_ratio = set_op_mix_ratio
        self.local_connectivity = local_connectivity
        self.repulsion_strength = repulsion_strength
        self.negative_sample_rate = negative_sample_rate
        self.init = init
        self.random_state = random_state
        # Per-epoch extension hook (reference umap.pyx:202-208
        # GraphBasedDimRedCallback): either a plain callable(epoch, Y) or an
        # object exposing on_preprocess_end / on_epoch_end / on_train_end.
        self.callback = callback
        # Sample-then-embed contract (SCALE.md): fit() collects the n×k edge
        # list to the driver for the sequential layout stage, so n is capped —
        # the same guard SVC applies via max_exact_rows (svm/svc.py:145).
        self.max_driver_rows = max_driver_rows

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, vec_col: str = "x", id_col: str = "pid",
            y_col: str | None = None) -> "UMAP":
        """Unsupervised fit, or supervised when ``y_col`` names a categorical
        label column (reference: runner.h:139 ``_fit(X, y)`` exposed via
        umap.pyx:395) — labels sharpen the fuzzy graph by categorical
        intersection before layout."""
        sel = [F.col(id_col).alias("pid"),
               F.col(vec_col).cast("array<double>").alias("x")]
        if y_col is not None:
            sel.append(F.col(y_col).alias("y"))
        pts = df.select(*sel).localCheckpoint(eager=False)
        n_rows = pts.count()
        if n_rows > self.max_driver_rows:
            raise ValueError(
                f"UMAP.fit collects the n×{self.n_neighbors} edge list to the "
                f"driver for the sequential layout stage; {n_rows} rows > "
                f"max_driver_rows={self.max_driver_rows}. Sample-then-embed "
                f"(SCALE.md): fit on df.sample(...) under the cap, then "
                f"transform() the remainder distributed — or raise "
                f"max_driver_rows explicitly."
            )
        k = self.n_neighbors
        # 1. distributed KNN graph: exact GEMM shards up to the cap, LSH
        #    candidates + exact re-rank above it (no full-table broadcast)
        knn = self_knn_graph(pts, k=k, vec_col="x", id_col="pid",
                             metric="euclidean", seed=self.random_state)
        edges = knn.select("query_id", "neighbor_id", "distance").toPandas()

        meta = pts.select("pid", *(["y"] if y_col is not None else [])).toPandas()
        ids = meta["pid"].to_numpy()
        order = {pid: i for i, pid in enumerate(ids)}
        n = len(ids)
        qi = edges["query_id"].map(order).to_numpy()
        ni = edges["neighbor_id"].map(order).to_numpy()
        dist = edges["distance"].to_numpy()

        # 2. fuzzy simplicial set: per-point rho/sigma + membership strengths
        #    — one vectorized binary search over the padded (n, kmax) matrix
        heads, tails, weights = _fuzzy_simplicial_set(
            qi, ni, dist, n, k,
            set_op_mix_ratio=self.set_op_mix_ratio,
            local_connectivity=self.local_connectivity,
        )
        if y_col is not None:
            labels = meta["y"].to_numpy()
            weights = _categorical_intersection(labels, heads, tails, weights)

        # 3. init embedding
        rng = np.random.RandomState(self.random_state)
        if self.init == "spectral":
            Y = self._spectral_init(n, heads, tails, weights)
        else:
            Y = rng.uniform(-10.0, 10.0, size=(n, self.n_components))

        # 4. negative-sampling SGD (simpl_set_embed/algo.h semantics)
        a, b = _find_ab_params(self.spread, self.min_dist)
        Y = self._optimize(Y, heads, tails, weights, a, b, rng)

        self._train_pts = pts
        self._ids = ids
        self.embedding_ = Y
        self._ab = (a, b)
        return self

    def _spectral_init(self, n, heads, tails, weights) -> np.ndarray:
        """Normalized-Laplacian eigenmaps over the COO graph (the reference
        calls nvgraph spectral, spectral_algo.h:44).  Orthogonal iteration on
        the edge list — O(E·k) per sweep, no dense n×n — so the init works at
        any n the driver-held edge list itself allows."""
        from cuml_spark.cluster.spectral import _topk_eig

        rows = np.concatenate([heads, tails])
        cols = np.concatenate([tails, heads])
        vals = np.concatenate([weights, weights])
        Y, _ = _topk_eig(
            n, rows, cols, vals, self.n_components,
            seed=self.random_state, deflate_trivial=True,
        )
        comp = Y[:, : self.n_components]
        # scale to the optimizer's working range
        return 10.0 * comp / (np.abs(comp).max() + 1e-12)

    def _optimize(self, Y, heads, tails, weights, a, b, rng) -> np.ndarray:
        """Negative-sampling SGD layout (simpl_set_embed/algo.h semantics),
        batched per epoch: active edges gather into arrays, attractive and
        repulsive gradients compute as single vectorized expressions, and
        updates scatter back with np.add.at — the same concurrent-update
        model as the reference's parallel kernel (racy adds within a step),
        with ONE RNG draw per epoch for all negative samples."""
        n = Y.shape[0]
        cb = self.callback
        if cb is not None and hasattr(cb, "on_preprocess_end"):
            cb.on_preprocess_end(Y)
        lr0 = self.learning_rate
        nsr = self.negative_sample_rate
        wmax = weights.max() if len(weights) else 1.0
        # per-edge epochs-per-sample schedule (algo.h): stronger edges move more
        eps_per_sample = wmax / np.maximum(weights, 1e-12)
        next_step = eps_per_sample.copy()
        for epoch in range(self.n_epochs):
            alpha = lr0 * (1.0 - epoch / self.n_epochs)
            act = np.where(next_step <= epoch + 1)[0]
            if len(act) == 0:
                self._fire_epoch(cb, epoch, Y)
                continue
            i, j = heads[act], tails[act]
            # attractive phase
            diff = Y[i] - Y[j]
            d2 = np.einsum("ij,ij->i", diff, diff)
            with np.errstate(divide="ignore", invalid="ignore"):
                coef = np.where(
                    d2 > 0.0,
                    (-2.0 * a * b * d2 ** (b - 1.0)) / (1.0 + a * d2**b),
                    0.0,
                )
            g = np.clip(coef[:, None] * diff, -4.0, 4.0)
            np.add.at(Y, i, alpha * g)
            np.add.at(Y, j, -alpha * g)
            # repulsive phase: one draw for every (edge, negative sample)
            t = rng.randint(n, size=(len(act), nsr))
            diff_n = Y[i][:, None, :] - Y[t]
            d2n = np.einsum("ijk,ijk->ij", diff_n, diff_n)
            # repulsion_strength = gamma (umap.pyx:240 / algo.h repulsive term)
            coef_n = (self.repulsion_strength * 2.0 * b) / (
                (0.001 + d2n) * (1.0 + a * d2n**b))
            gn = np.clip(coef_n[:, :, None] * diff_n, -4.0, 4.0)
            gn[t == i[:, None]] = 0.0  # skip self as negative
            np.add.at(Y, np.repeat(i, nsr), alpha * gn.reshape(-1, Y.shape[1]))
            next_step[act] += eps_per_sample[act]
            self._fire_epoch(cb, epoch, Y)
        if cb is not None and hasattr(cb, "on_train_end"):
            cb.on_train_end(Y)
        return Y

    @staticmethod
    def _fire_epoch(cb, epoch: int, Y: np.ndarray) -> None:
        """Dispatch the per-epoch hook (umap.pyx:202-208): an object with
        ``on_epoch_end(embedding)`` gets the reference-style call, a bare
        callable gets ``(epoch, embedding)``."""
        if cb is None:
            return
        if hasattr(cb, "on_epoch_end"):
            cb.on_epoch_end(Y)
        else:
            cb(epoch, Y)

    # ------------------------------------------------------------------
    def fit_transform(self, df: DataFrame, vec_col: str = "x",
                      id_col: str = "pid", y_col: str | None = None) -> DataFrame:
        self.fit(df, vec_col, id_col, y_col=y_col)
        spark = df.sparkSession
        rows = [
            (int(pid), [float(v) for v in self.embedding_[i]])
            for i, pid in enumerate(self._ids)
        ]
        return spark.createDataFrame(rows, f"{id_col} long, embedding array<double>")

    def transform(self, df: DataFrame, vec_col: str = "x",
                  id_col: str = "pid") -> DataFrame:
        """Distributed out-of-sample embed: fuzzy-weighted mean of the k
        nearest TRAINING embeddings (umap.pyx:495 transform semantics,
        neighborhood-weighted placement)."""
        if not hasattr(self, "embedding_"):
            raise RuntimeError("fit() first")
        spark = df.sparkSession
        emb_rows = [
            (int(pid), [float(v) for v in self.embedding_[i]])
            for i, pid in enumerate(self._ids)
        ]
        emb_df = spark.createDataFrame(emb_rows, "tid long, emb array<double>")
        q = df.select(F.col(id_col).alias("qid"),
                      F.col(vec_col).cast("array<double>").alias("x"))
        knn = knn_join(self._train_pts, q, k=self.n_neighbors, vec_col="x",
                       index_id="pid", query_id="qid", metric="euclidean")
        weighted = (
            knn.withColumn("w", 1.0 / (1.0 + F.col("distance")))
            .join(F.broadcast(emb_df), F.col("neighbor_id") == F.col("tid"))
        )
        dims = self.n_components
        agg = weighted.groupBy("query_id").agg(
            *[
                (F.sum(F.element_at("emb", d + 1) * F.col("w")) / F.sum("w")).alias(f"e{d}")
                for d in range(dims)
            ]
        )
        return agg.select(
            F.col("query_id").alias(id_col),
            F.array(*[f"e{d}" for d in range(dims)]).alias("embedding"),
        )
