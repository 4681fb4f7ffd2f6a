"""DBSCAN — density clustering with exact single-node semantics, distributed.

Reference: python/cuml/cluster/dbscan.pyx:80 (fit :187; eps=0.5,
min_samples=5, noise=-1) → cpp/src/dbscan/runner.h:77-217 pipeline:
batched vertex degree (eps-neighborhood) → CSR adjacency → ``weak_cc_batched``
connected components (src_prims/sparse/csr.h:853) → sklearn-style relabel
(runner.h:44-62).

Spark-native design, the same three steps without the batched all-pairs
scan, all of it in the JVM (no Python worker runs):

1. **One pair frame** — snap every point to a grid cell of side ``eps``; a
   point's eps-ball only intersects its 3^d adjacent cells, so the pairs
   within eps (self pair included) come from one cell-key equi-join
   (probe stencil ⋈ home cell) instead of a crossJoin.  At 100 TB this is
   O(N·ρ) work (ρ = neighborhood density) instead of O(N²); the join
   shuffles on cell key and AQE's skew-join splits dense cells.
2. **Degrees and core flags** — a window over the pair frame flags each
   pair's core end, and one aggregate keyed by point folds it into a
   per-point row: exact degree (self included, matching sklearn/cuML),
   core flag, and the set of sub-cells holding its core neighbors.  That
   row is checkpointed once and feeds both the edges and the labels.
3. **Sub-cell union-find** — union-find nodes are sub-cells of side
   eps/√d, shrunk by ``_SUB_CELL_MARGIN`` so rounding can never put two
   points more than eps apart in one sub-cell; the core points of a
   sub-cell are therefore one clique (Gan & Tao, *DBSCAN Revisited*,
   SIGMOD 2015).  One collect brings the driver each core sub-cell (with
   its minimum core id) and the distinct core-core sub-cell edges; it
   union-finds them and broadcasts sub-cell → label back — the role the
   driver plays in the reference's relabel step, on sub-cells rather
   than points.
4. **Labels** — each point takes the min label over its core neighbors'
   sub-cells: a core point's own cluster, a border point's deterministic
   min rule (cuML/sklearn border ties are scan-order-dependent), noise
   −1.  Labels are dense 0..k−1 ordered by each cluster's minimum core
   point id.

``algorithm='brute'`` builds the pair frame with a crossJoin, for parity
testing.  The grid is intended for low-d feature spaces (3^d probe fan-out)
— DBSCAN's home turf; for high-d inputs project first (PCA) or use brute on
a sample.
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.validation import to_double_cols

# relative shrink of the eps/√d sub-cell side: two points in one sub-cell
# differ by < side·(1 + |x|/side·2⁻⁵²) per coordinate, so their computed
# distance stays below eps while |x|/eps is under ~10⁹
_SUB_CELL_MARGIN = 1e-6


class _UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, a):
        root = a
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[a] != root:  # path compression
            self.parent[a], a = root, self.parent[a]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra


def _cell_key(cells: list) -> F.Column:
    return F.concat_ws(",", *[c.cast("string") for c in cells])


class DBSCAN(Base):
    def __init__(
        self,
        eps: float = 0.5,
        min_samples: int = 5,
        algorithm: str = "grid",
        **kwargs,
    ):
        super().__init__(**kwargs)
        if algorithm not in ("grid", "brute"):
            raise ValueError("algorithm must be 'grid' or 'brute'")
        self.eps = float(eps)
        self.min_samples = int(min_samples)
        self.algorithm = algorithm

    def fit_predict(
        self, df: DataFrame, cols: list[str], id_col: str, include_role: bool = False
    ) -> DataFrame:
        """→ (id_col, label): cluster id per row, noise = −1.

        ``id_col`` must be unique per row; labels join back on it.
        ``include_role=True`` adds ``role`` ∈ {core, border, noise} — the
        deterministic (SQL-checkable) classification underlying the labels.
        """
        to_double_cols(df, cols)  # type-validate features (raises on non-numeric)

        d = len(cols)
        x = [F.col(c).cast("double") for c in cols]
        side = self.eps / math.sqrt(d) * (1.0 - _SUB_CELL_MARGIN)
        pts = df.select(
            F.col(id_col).alias("pid"),
            F.array(*x).alias("x"),
            _cell_key([F.floor(xi / F.lit(side)) for xi in x]).alias("sub"),
        )

        # per point: degree (self included, matching sklearn/cuML), core
        # flag and the sub-cells holding its core neighbors (its own when
        # core).  A local checkpoint, not a cache-manager entry, so a later
        # fit over the same input recomputes instead of reading it.
        pairs = self._pairs(pts, d).withColumn(
            "b_core",
            F.count("*").over(Window.partitionBy("b_id")) >= self.min_samples,
        )
        nbrs = (
            pairs.groupBy(F.col("a_id").alias("pid"))
            .agg(
                # a_sub is a function of a_id; min only names it
                F.min("a_sub").alias("sub"),
                (F.count("*") >= self.min_samples).alias("is_core"),
                F.collect_set(F.when(F.col("b_core"), F.col("b_sub")))
                .alias("core_subs"),
            )
            .localCheckpoint(eager=False)
        )

        # one collect: the (sub, sub) self-edge of every core sub-cell with
        # its minimum core id, plus the distinct core-core sub-cell edges
        graph = (
            nbrs.filter("is_core")
            .select("pid", "sub", F.explode("core_subs").alias("nb"))
            .filter(F.col("sub") <= F.col("nb"))
            .groupBy("sub", "nb")
            .agg(F.min("pid").alias("min_pid"))
            .collect()
        )
        uf = _UnionFind()
        for r in graph:
            uf.union(r["sub"], r["nb"])
        nodes = [(r["sub"], r["min_pid"]) for r in graph if r["sub"] == r["nb"]]
        root_min: dict = {}
        for sub, min_pid in nodes:
            root = uf.find(sub)
            root_min[root] = min(root_min.get(root, min_pid), min_pid)
        # dense labels ordered by cluster min core id (sklearn-style relabel)
        root_label = {root: i for i, root in enumerate(sorted(root_min, key=root_min.get))}
        sub_label = df.sparkSession.createDataFrame(
            [(sub, root_label[uf.find(sub)]) for sub, _ in nodes],
            "nb string, label long",
        )

        # min label over core neighbors: a core point's own label (every
        # core neighbor shares it), a border point's min rule, noise −1
        out = (
            nbrs.select("pid", "is_core", F.explode_outer("core_subs").alias("nb"))
            .join(F.broadcast(sub_label), "nb", "left")
            .groupBy("pid", "is_core")
            .agg(F.coalesce(F.min("label"), F.lit(-1)).cast("long").alias("label"))
        )
        cols_out = ["pid", "label"]
        if include_role:
            cols_out.append(
                F.when(F.col("is_core"), "core")
                .when(F.col("label") >= 0, "border")
                .otherwise("noise")
                .alias("role")
            )
        return out.select(*cols_out).withColumnRenamed("pid", id_col)

    # ------------------------------------------------------------------
    def _pairs(self, pts: DataFrame, d: int) -> DataFrame:
        """(a_id, a_sub, b_id, b_sub): every ordered pair within eps, each
        point's self pair exactly once (also for NaN/null features)."""

        def end(p: str, *extra) -> DataFrame:
            return pts.select(F.col("pid").alias(f"{p}_id"), F.col("x").alias(f"{p}_x"),
                              F.col("sub").alias(f"{p}_sub"), *extra)

        is_self = F.col("a_id") == F.col("b_id")
        if self.algorithm == "brute":
            joined = end("a").crossJoin(end("b"))
        else:
            cells = [F.floor(F.col("x")[i] / F.lit(self.eps)) for i in range(d)]
            offsets = list(itertools.product((-1, 0, 1), repeat=d))
            probes = F.array(*[
                _cell_key([cells[i] + o[i] for i in range(d)]) for o in offsets
            ])
            joined = end("a", F.posexplode(probes).alias("probe", "cell_key")).join(
                end("b", _cell_key(cells).alias("cell_key")), "cell_key")
            # the all-zero offset: the one probe a point's home cell matches
            is_self = is_self & (F.col("probe") == len(offsets) // 2)
        # unrolled codegen arithmetic, not a higher-order fold — the hot
        # loop of the pair join (HOFs are interpreted per element)
        from cuml_spark.ops.distance import sq_euclidean_direct

        dist2 = sq_euclidean_direct("a_x", "b_x", d)
        return joined.filter(
            (dist2 <= F.lit(self.eps * self.eps)) | is_self
        ).select("a_id", "a_sub", "b_id", "b_sub")
