"""TSNE — t-distributed Stochastic Neighbor Embedding (van der Maaten 2008).

Reference: python/cuml/manifold/t_sne.pyx:73 (ctor :186: perplexity=30,
method ∈ {barnes_hut, exact}, angle=0.5, n_neighbors=90,
exaggeration_iter=250, pre/post momentum 0.5/0.8) → cpp/src/tsne/tsne.cu:55:
KNN-based P_ij (distances.h:37), symmetrize (:88), then Barnes-Hut
(bh_kernels.h quadtree) or exact gradient loop (exact_kernels.h).

Spark-native split, same as UMAP: the KNN graph (the O(N²)-ish part) is
DISTRIBUTED via the shard-and-merge top-k join; conditional probabilities
(perplexity binary search) are vectorized numpy over the collected k-sparse
graph; the gradient loop runs on the driver over the n×2 embedding (the
reference's BH quadtree is also a single-device structure).

``method='barnes_hut'`` (the reference default) approximates the repulsive
term with a Morton-grid quadtree treecode: per level, cell aggregates
(count, center of mass) stand in for far cells under the standard opening
criterion ``cell_width < angle · distance`` — the same accuracy contract as
the reference's BH kernels — while near cells expand to their children and
finest-level cells are scored exactly.  Everything is frontier-batched numpy
(no per-point recursion), P stays k-sparse, so driver capacity is O(n·k)
memory and O(n·log n) time per iteration instead of the exact path's dense
O(n²).  ``method='exact'`` keeps the full dense gradient for small n.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.neighbors.nearest_neighbors import self_knn_graph


def _binary_search_beta(d2: np.ndarray, perplexity: float, n_iter: int = 64) -> np.ndarray:
    """Per-row precision beta_i s.t. perplexity(P_i) = target (vectorized)."""
    target = np.log(perplexity)
    n = d2.shape[0]
    beta = np.ones(n)
    lo = np.zeros(n)
    hi = np.full(n, np.inf)
    for _ in range(n_iter):
        P = np.exp(-d2 * beta[:, None])
        psum = P.sum(1) + 1e-12
        H = np.log(psum) + beta * (d2 * P).sum(1) / psum
        diff = H - target
        done = np.abs(diff) < 1e-5
        if done.all():
            break
        hi_mask = diff > 0  # entropy too high → raise beta
        lo[hi_mask] = beta[hi_mask]
        inf_hi = hi_mask & np.isinf(hi)
        beta[inf_hi] = beta[inf_hi] * 2.0
        fin_hi = hi_mask & ~np.isinf(hi)
        beta[fin_hi] = (beta[fin_hi] + hi[fin_hi]) / 2.0
        lo_mask = ~hi_mask
        hi[lo_mask] = beta[lo_mask]
        beta[lo_mask] = (beta[lo_mask] + lo[lo_mask]) / 2.0
    return beta


def _interleave_bits(x: np.ndarray, y: np.ndarray, D: int) -> np.ndarray:
    """Morton (z-order) code: bits of x,y (< 2^D, D ≤ 20) interleaved,
    x in the odd (higher) positions — so ``code >> 2(D-d)`` is the cell id
    at coarser level d and each cell owns a contiguous sorted-code range."""

    def spread(v: np.ndarray) -> np.ndarray:
        v = v.astype(np.uint64)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return ((spread(x) << np.uint64(1)) | spread(y)).astype(np.int64)


def _bh_repulsion(Y: np.ndarray, angle: float = 0.5):
    """Barnes-Hut-approximate t-SNE repulsion → (Frep_normalized, Z).

    Morton-grid quadtree treecode (bh_kernels.h parity, vectorized):
    levels d=1..D hold per-cell (count, COM); a frontier of (point, cell)
    pairs descends level-synchronously.  A cell is consumed as far-field when
    ``width_d² < angle²·dist²`` AND it does not contain the point itself;
    otherwise it expands to its (existing) children, and at the finest level
    the surviving cells are scored exactly point-by-point via CSR gathers.
    All steps are whole-array numpy — bincount scatters, searchsorted child
    lookups — no Python recursion over nodes.

    Returns the normalized repulsive force (already divided by Z) and
    Z = Σ_{i≠j} (1+‖y_i−y_j‖²)⁻¹ (the BH estimate of it).
    """
    n = Y.shape[0]
    if n < 2:
        return np.zeros_like(Y), 1.0
    mn = Y.min(0)
    extent = float((Y.max(0) - mn).max()) + 1e-12
    # ADAPTIVE depth (a real BH tree subdivides dense regions deeper): start
    # at 4^D ≈ 2n and deepen while the exact-leaf pair volume Σ occupancy²
    # stays super-linear — t-SNE's exaggeration phase collapses clusters into
    # tiny regions, and a fixed grid would go O(m²) inside them.  Capped at
    # D=20 (coords < 2²⁰, Morton codes fit int64) for coincident layouts.
    D = max(2, int(np.ceil(0.5 * np.log2(2.0 * n))))
    while True:
        side = 1 << D
        cell = np.minimum((((Y - mn) / extent) * side).astype(np.int64), side - 1)
        occ = np.unique(cell[:, 0] * side + cell[:, 1], return_counts=True)[1]
        if D >= 20 or float((occ.astype(np.float64) ** 2).sum()) <= 32.0 * n:
            break
        D += 2

    # Morton (z-order) codes: every level-d cell is the prefix ``code >> 2(D-d)``
    # and owns a CONTIGUOUS slice of the code-sorted point order — so any
    # near cell, at ANY level, can expand straight to its points.
    morton = _interleave_bits(cell[:, 0], cell[:, 1], D)
    order = np.argsort(morton, kind="stable")
    sorted_m = morton[order]

    # per-level aggregates keyed by Morton prefix
    levels = {}
    for d in range(1, D + 1):
        cid = morton >> (2 * (D - d))
        uniq, inv, cnt = np.unique(cid, return_inverse=True, return_counts=True)
        com = np.stack(
            [np.bincount(inv, Y[:, 0]) / cnt, np.bincount(inv, Y[:, 1]) / cnt], 1
        )
        levels[d] = (uniq, com, cnt)

    num = np.zeros_like(Y)  # Σ_j q² (y_i − y_j), unnormalized
    Z = 0.0
    a2 = angle * angle
    leaf_cap = 8  # cells this small are scored exactly instead of descending

    def _exact(npt: np.ndarray, ncell: np.ndarray, shift: int) -> None:
        """Exact point-vs-cell-members scoring via the Morton-contiguous slice."""
        nonlocal Z
        start = np.searchsorted(sorted_m, ncell << shift)
        end = np.searchsorted(sorted_m, (ncell + 1) << shift)
        counts = end - start
        tot = int(counts.sum())
        if not tot:
            return
        cum = np.concatenate([[0], np.cumsum(counts)[:-1]])
        offs = np.arange(tot) - np.repeat(cum, counts) + np.repeat(start, counts)
        j = order[offs]
        i = np.repeat(npt, counts)
        keep = i != j
        i, j = i[keep], j[keep]
        de = Y[i] - Y[j]
        qe = 1.0 / (1.0 + de[:, 0] ** 2 + de[:, 1] ** 2)
        Z += float(qe.sum())
        q2 = qe * qe
        num[:, 0] += np.bincount(i, q2 * de[:, 0], minlength=n)
        num[:, 1] += np.bincount(i, q2 * de[:, 1], minlength=n)

    pt = np.repeat(np.arange(n), len(levels[1][0]))
    cl = np.tile(np.arange(len(levels[1][0])), n)
    for d in range(1, D + 1):
        if len(pt) == 0:
            break
        uniq, com, cnt = levels[d]
        width = extent / (1 << d)
        diff = Y[pt] - com[cl]
        dist2 = diff[:, 0] ** 2 + diff[:, 1] ** 2
        sh2 = 2 * (D - d)
        own = (morton[pt] >> sh2) == uniq[cl]
        far = (width * width < a2 * dist2) & ~own
        if far.any():
            q = 1.0 / (1.0 + dist2[far])
            w = cnt[cl[far]] * q
            Z += float(w.sum())
            wq = w * q  # count · q²
            num[:, 0] += np.bincount(pt[far], wq * diff[far, 0], minlength=n)
            num[:, 1] += np.bincount(pt[far], wq * diff[far, 1], minlength=n)
        near = ~far
        # small or finest-level near cells: score their points exactly now
        # (subtree descent would only re-derive the same few points)
        small = near & ((cnt[cl] <= leaf_cap) | (d == D))
        if small.any():
            _exact(pt[small], uniq[cl[small]], sh2)
        desc = near & ~small
        if d == D or not desc.any():
            break
        # descend the remaining (big, close) cells: four Morton children,
        # resolved in one searchsorted over the child level's prefix list
        pcell = uniq[cl[desc]]
        base = pcell << 2
        ch = np.concatenate([base, base + 1, base + 2, base + 3])
        u2 = levels[d + 1][0]
        pos = np.searchsorted(u2, ch)
        pos_c = np.minimum(pos, len(u2) - 1)
        ok = u2[pos_c] == ch
        pt = np.tile(pt[desc], 4)[ok]
        cl = pos_c[ok]
    Z = max(Z, 1e-12)
    return num / Z, Z


class TSNE(Base):
    def __init__(self, n_components: int = 2, perplexity: float = 30.0,
                 early_exaggeration: float = 12.0, learning_rate: float = 200.0,
                 n_iter: int = 1000, method: str = "barnes_hut",
                 angle: float = 0.5, n_neighbors: int = 90,
                 exaggeration_iter: int = 250, pre_momentum: float = 0.5,
                 post_momentum: float = 0.8, min_grad_norm: float = 1e-7,
                 metric: str = "euclidean", init: str = "random",
                 perplexity_max_iter: int = 100,
                 random_state: int = 42,
                 max_driver_rows: int = 1_000_000, **kwargs):
        super().__init__(**kwargs)
        if n_components != 2:
            raise ValueError("reference supports n_components=2 (t_sne.pyx:186)")
        if method not in ("barnes_hut", "exact"):
            raise ValueError(f"method must be 'barnes_hut' or 'exact', got {method!r}")
        if metric not in ("euclidean", "sqeuclidean"):
            # t_sne.pyx:255 errors on anything but euclidean
            raise ValueError("TSNE supports metric='euclidean' (t_sne.pyx:255)")
        if init != "random":
            raise ValueError("TSNE supports init='random' (t_sne.pyx:257)")
        self.metric = metric
        self.init = init
        self.perplexity_max_iter = perplexity_max_iter
        self.n_components = n_components
        self.perplexity = perplexity
        self.early_exaggeration = early_exaggeration
        self.learning_rate = learning_rate
        self.n_iter = n_iter
        self.method = method
        self.angle = angle
        self.n_neighbors = n_neighbors
        self.exaggeration_iter = exaggeration_iter
        self.pre_momentum = pre_momentum
        self.post_momentum = post_momentum
        self.min_grad_norm = min_grad_norm
        self.random_state = random_state
        # Sample-then-embed contract (SCALE.md): the layout stage collects the
        # n×k edge list to the driver, so n is capped like SVC.max_exact_rows.
        # The dense `exact` gradient is O(n²) driver memory — cap it harder.
        self.max_driver_rows = max_driver_rows if method == "barnes_hut" else min(
            max_driver_rows, 100_000)

    def fit_transform(self, df: DataFrame, vec_col: str = "x",
                      id_col: str = "pid") -> DataFrame:
        pts = df.select(
            F.col(id_col).alias("pid"),
            F.col(vec_col).cast("array<double>").alias("x"),
        ).localCheckpoint(eager=False)
        n_rows = pts.count()
        if n_rows > self.max_driver_rows:
            raise ValueError(
                f"TSNE.fit_transform collects the n×k edge list to the driver "
                f"for the sequential layout stage; {n_rows} rows > "
                f"max_driver_rows={self.max_driver_rows}. Sample-then-embed "
                f"(SCALE.md): embed df.sample(...) under the cap — or raise "
                f"max_driver_rows explicitly."
            )
        k = min(self.n_neighbors, int(3 * self.perplexity), max(2, n_rows - 1))
        knn = self_knn_graph(pts, k=k, vec_col="x", id_col="pid",
                             metric="sqeuclidean", n_rows=n_rows,
                             seed=self.random_state)
        edges = knn.select("query_id", "neighbor_id", "distance", "rank").toPandas()

        ids = pts.select("pid").toPandas()["pid"].to_numpy()
        order = {pid: i for i, pid in enumerate(ids)}
        n = len(ids)
        # dense (n, k) neighbor matrix from the k-sparse graph
        D2 = np.zeros((n, k))
        NI = np.zeros((n, k), dtype=np.int64)
        qi = edges["query_id"].map(order).to_numpy()
        ri = edges["rank"].to_numpy() - 1
        D2[qi, ri] = edges["distance"].to_numpy()
        NI[qi, ri] = edges["neighbor_id"].map(order).to_numpy()

        beta = _binary_search_beta(D2, self.perplexity,
                                   n_iter=self.perplexity_max_iter)
        Pcond = np.exp(-D2 * beta[:, None])
        Pcond /= Pcond.sum(1, keepdims=True) + 1e-12

        if self.method == "exact":
            Y = self._optimize_exact(n, k, NI, Pcond)
        else:
            Y = self._optimize_bh(n, k, NI, Pcond)
        self.embedding_ = Y

        spark = df.sparkSession
        out = [(int(pid), [float(v) for v in Y[i]]) for i, pid in enumerate(ids)]
        return spark.createDataFrame(out, f"{id_col} long, embedding array<double>")

    # -------------------------- exact gradient ---------------------------
    def _optimize_exact(self, n: int, k: int, NI: np.ndarray,
                        Pcond: np.ndarray) -> np.ndarray:
        # symmetrize into dense P (driver-side n; BH variant keeps sparse)
        P = np.zeros((n, n))
        rows = np.repeat(np.arange(n), k)
        P[rows, NI.ravel()] = Pcond.ravel()
        P = (P + P.T) / (2.0 * n)
        P = np.maximum(P, 1e-12)

        rng = np.random.RandomState(self.random_state)
        Y = rng.standard_normal((n, 2)) * 1e-4
        Yinc = np.zeros_like(Y)
        momentum = self.pre_momentum
        Pij = P * self.early_exaggeration
        switch = min(self.exaggeration_iter, 100)
        Qn = np.full((n, n), 1e-12)
        for it in range(self.n_iter):
            if it == switch:
                Pij = P
                momentum = self.post_momentum
            diff = Y[:, None, :] - Y[None, :, :]
            d2 = (diff ** 2).sum(-1)
            Q = 1.0 / (1.0 + d2)
            np.fill_diagonal(Q, 0.0)
            Qn = Q / (Q.sum() + 1e-12)
            Qn = np.maximum(Qn, 1e-12)
            PQ = (Pij - Qn) * Q
            grad = 4.0 * (PQ[:, :, None] * diff).sum(1)
            if it > switch and np.linalg.norm(grad) < self.min_grad_norm:
                break
            Yinc = momentum * Yinc - self.learning_rate * grad
            Y = Y + Yinc
            Y = Y - Y.mean(0)
        self.kl_divergence_ = float((P * np.log(P / Qn)).sum())
        return Y

    # ------------------------ Barnes-Hut gradient ------------------------
    def _optimize_bh(self, n: int, k: int, NI: np.ndarray,
                     Pcond: np.ndarray) -> np.ndarray:
        # symmetrized sparse P as COO: (P + Pᵀ) / 2n over the KNN support
        rows = np.repeat(np.arange(n), k)
        cols = NI.ravel()
        vals = Pcond.ravel()
        key = np.concatenate([rows * n + cols, cols * n + rows])
        val = np.concatenate([vals, vals])
        ukey, inv = np.unique(key, return_inverse=True)
        pv = np.bincount(inv, val) / (2.0 * n)
        ei = (ukey // n).astype(np.int64)
        ej = (ukey % n).astype(np.int64)
        keep = ei != ej
        ei, ej, pv = ei[keep], ej[keep], pv[keep]
        pv = np.maximum(pv, 1e-12)

        rng = np.random.RandomState(self.random_state)
        Y = rng.standard_normal((n, 2)) * 1e-4
        Yinc = np.zeros_like(Y)
        momentum = self.pre_momentum
        exag = self.early_exaggeration
        switch = min(self.exaggeration_iter, max(1, self.n_iter // 3))
        Z = 1.0
        for it in range(self.n_iter):
            if it == switch:
                exag = 1.0
                momentum = self.post_momentum
            de = Y[ei] - Y[ej]
            qe = 1.0 / (1.0 + de[:, 0] ** 2 + de[:, 1] ** 2)
            w = (pv * exag) * qe
            Fattr = np.stack(
                [np.bincount(ei, w * de[:, 0], minlength=n),
                 np.bincount(ei, w * de[:, 1], minlength=n)], 1
            )
            Frep, Z = _bh_repulsion(Y, self.angle)
            grad = 4.0 * (Fattr - Frep)
            if it > switch and np.linalg.norm(grad) < self.min_grad_norm:
                break
            Yinc = momentum * Yinc - self.learning_rate * grad
            Y = Y + Yinc
            Y = Y - Y.mean(0)
        # KL over the sparse support with the BH-estimated Z (standard BH-SNE
        # reporting): KL ≈ Σ p_ij log(p_ij / (q_ij / Z))
        de = Y[ei] - Y[ej]
        qe = 1.0 / (1.0 + de[:, 0] ** 2 + de[:, 1] ** 2)
        self.kl_divergence_ = float((pv * np.log(pv / np.maximum(qe / Z, 1e-12))).sum())
        return Y

    fit = fit_transform
