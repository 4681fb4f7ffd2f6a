"""IVF (inverted-file) approximate nearest neighbor index.

The scale path for similarity search over an embedding column: FAISS-style
coarse quantization (the same family the reference's KNN delegates to,
cpp/src/knn/knn.cu:57 → FAISS) re-expressed relationally:

- **build**: k-means centroids from a seeded sample (driver numpy — the
  codebook is tiny), then ONE distributed pass assigns every vector to its
  nearest centroid → the index is just a DataFrame partitioned by list id.
- **search**: each query probes its ``nprobe`` nearest centroids (driver
  matmul over the tiny codebook) and exact-reranks only the vectors in
  those lists — an equi-join on list id instead of a crossJoin.  At 100 TB
  the probe join touches nprobe/nlist of the data; AQE handles skewed lists.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from cuml_spark.core.base import Base


def _kmeans_codebook(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(0)
    return cents


class IVFIndex(Base):
    def __init__(self, nlist: int = 16, nprobe: int = 2, train_size: int = 2000,
                 kmeans_iters: int = 10, seed: int = 42, **kwargs):
        super().__init__(**kwargs)
        self.nlist = nlist
        self.nprobe = nprobe
        self.train_size = train_size
        self.kmeans_iters = kmeans_iters
        self.seed = seed

    def fit(self, df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id", n_rows: int | None = None) -> "IVFIndex":
        pts = df.select(F.col(id_col).alias("vid"),
                        F.col(vec_col).cast("array<double>").alias("v"))
        # seeded deterministic sample for the codebook (tiny driver state):
        # hash-threshold filter — map-only, no global sort, stable across
        # partitioning.  Lands ≈ train_size rows (codebook training only
        # needs a representative sample, not an exact count).  ``n_rows``
        # lets callers who already know the cardinality skip the count job.
        from cuml_spark.ops.sampling import hash_sample_pred

        n = pts.count() if n_rows is None else n_rows
        self.n_rows_ = n
        frac = min(1.0, self.train_size / max(n, 1))
        sample = pts.filter(hash_sample_pred("vid", frac, self.seed)).toPandas()
        if len(sample) < self.nlist:  # degenerate tiny input: take head
            sample = pts.limit(max(self.train_size, self.nlist)).toPandas()
        X = np.vstack(sample["v"].to_numpy())
        self.centroids_ = _kmeans_codebook(X, self.nlist, self.kmeans_iters, self.seed)
        cents = self.centroids_

        @F.pandas_udf(IntegerType())
        def assign(batch: pd.Series) -> pd.Series:
            V = np.vstack(batch.to_numpy())
            d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            return pd.Series(d2.argmin(1).astype(np.int32))

        self._index = (
            pts.withColumn("list_id", assign(F.col("v")))
            .repartition("list_id")  # co-locate lists → probe join shuffles once
            .localCheckpoint()
        )
        return self

    def search(self, queries: DataFrame, k: int = 5, vec_col: str = "embedding",
               id_col: str = "vec_id", metric: str = "cosine") -> DataFrame:
        """→ (query_id, neighbor_id, score, rank): approx top-k per query."""
        if not hasattr(self, "_index"):
            raise RuntimeError("fit() first")
        cents = self.centroids_
        nprobe = self.nprobe

        q = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).cast("array<double>").alias("q"))

        @F.pandas_udf("array<int>")
        def probes(batch: pd.Series) -> pd.Series:
            V = np.vstack(batch.to_numpy())
            d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            idx = np.argsort(d2, axis=1)[:, :nprobe].astype(np.int32)
            return pd.Series(list(idx))

        probed = q.withColumn("list_id", F.explode(probes(F.col("q"))))
        cand = probed.join(self._index, "list_id").filter(
            F.col("query_id") != F.col("vid")
        )
        # Arrow-batched pair scorer — one einsum per batch, no codegen tree
        from cuml_spark.ops.distance import pair_distance_udf

        scorer = pair_distance_udf(metric)
        score = scorer(F.col("q"), F.col("v"))
        if metric == "cosine":
            order = F.col("score").desc()
        elif metric in ("sqeuclidean", "l2"):
            order = F.col("score").asc()
        else:
            raise ValueError(f"unsupported metric {metric!r}")
        scored = cand.select(
            "query_id", F.col("vid").alias("neighbor_id"), score.alias("score")
        )
        w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
