"""IVF-PQ: coarse inverted-file routing over product-quantized codes.

The composition FAISS ships as its billion-scale default (IndexIVFPQ —
the same library the reference's KNN delegates to, cpp/src/knn/knn.cu:57):
an IVF coarse quantizer prunes the search to ``nprobe`` of ``nlist``
inverted lists, and within those lists candidates are scored from their
``m``-byte PQ codes instead of raw vectors.  At 100 TB that means the
probe join touches nprobe/nlist of the data AND what it touches is 32×
smaller than the raw embeddings — the two savings multiply.

Spark-first shape (reusing both building blocks):

- **fit**: IVFIndex's driver codebook assigns every vector a ``list_id``
  in one pass; PQIndex's subspace codebooks encode the vector to binary
  codes in the same pass.  The index frame ``(vid, list_id, codes)`` is
  repartitioned by ``list_id`` so probe joins co-locate (ivf.py's layout).
- **search**: queries probe their ``nprobe`` nearest centroids (driver
  matmul over the tiny coarse codebook) and equi-join the index on
  ``list_id`` — only the probed fraction of rows flows.  Scoring is the
  PQ ADC gather: per-query m×ksub lookup tables ride in the scorer
  closure, and one Arrow-batched pandas UDF resolves each candidate's
  score as ``Σⱼ lut[q, j, code_j]`` — no per-dimension float math, no
  raw vectors.  A window takes the global top-k.

Codes are plain PQ codes (not FAISS's residual-encoded variant): scores
are then EXACT for lossless codebooks, which is what lets the
`ivfpq_search_exact` harness oracle (nprobe = nlist + sign-quantized
input) assert bit-exact parity with brute-force KNN through the entire
route-join-gather-rank pipeline.  Residual encoding would buy recall at
equal m but makes exactness unattainable; revisit if recall at low
nprobe ever becomes the binding constraint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from cuml_spark.core.base import Base
from cuml_spark.similarity.ivf import _kmeans_codebook
from cuml_spark.similarity.pq import train_pq_codebooks


class IVFPQIndex(Base):
    def __init__(self, nlist: int = 16, nprobe: int = 2, m: int = 8,
                 ksub: int = 256, train_size: int = 2000,
                 kmeans_iters: int = 10, seed: int = 42,
                 max_queries: int = 10000, **kwargs):
        super().__init__(**kwargs)
        if not 1 <= ksub <= 256:
            raise ValueError("ksub must be in [1, 256] (codes are one byte)")
        self.nlist = nlist
        self.nprobe = nprobe
        self.m = m
        self.ksub = ksub
        self.train_size = train_size
        self.kmeans_iters = kmeans_iters
        self.seed = seed
        self.max_queries = max_queries

    def fit(self, df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id", n_rows: int | None = None) -> "IVFPQIndex":
        pts = df.select(F.col(id_col).alias("vid"),
                        F.col(vec_col).cast("array<double>").alias("v"))
        from cuml_spark.ops.sampling import hash_sample_pred

        n = pts.count() if n_rows is None else n_rows
        frac = min(1.0, self.train_size / max(n, 1))
        sample = pts.filter(hash_sample_pred("vid", frac, self.seed)).toPandas()
        if len(sample) < self.nlist:
            sample = pts.limit(max(self.train_size, self.nlist)).toPandas()
        X = np.vstack(sample["v"].to_numpy())
        d = X.shape[1]
        self.d_, self.dsub_ = d, d // self.m
        dsub = self.dsub_

        # coarse codebook (IVF routing) — same training as IVFIndex;
        # fine subspace codebooks — PQIndex's shared lossless-or-kmeans
        # trainer, both over the one collected sample
        self.centroids_ = _kmeans_codebook(
            X.copy(), self.nlist, self.kmeans_iters, self.seed)
        books = train_pq_codebooks(
            X, self.m, self.ksub, self.kmeans_iters, self.seed)
        self.codebooks_ = books
        self._code_sqnorms = (books ** 2).sum(-1)

        cents, m, b = self.centroids_, self.m, books

        @F.pandas_udf(IntegerType())
        def assign(batch: pd.Series) -> pd.Series:
            V = np.vstack(batch.to_numpy())
            d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            return pd.Series(d2.argmin(1).astype(np.int32))

        @F.pandas_udf("binary")
        def encode(batch: pd.Series) -> pd.Series:
            V = np.vstack(batch.to_numpy())
            codes = np.empty((len(V), m), dtype=np.uint8)
            for j in range(m):
                sub = V[:, j * dsub:(j + 1) * dsub]
                d2 = -2.0 * sub @ b[j].T + (b[j] ** 2).sum(-1)[None, :]
                codes[:, j] = d2.argmin(1)
            return pd.Series([c.tobytes() for c in codes])

        self._index = (
            pts.select("vid", assign("v").alias("list_id"),
                       encode("v").alias("codes"))
            .repartition("list_id")
            .localCheckpoint()
        )
        return self

    def search(self, queries: DataFrame, k: int = 5, vec_col: str = "embedding",
               id_col: str = "vec_id", metric: str = "cosine",
               exclude_self: bool = True) -> DataFrame:
        """→ (query_id, neighbor_id, score, rank): approx top-k per query.
        Candidates = rows in each query's ``nprobe`` nearest lists, scored
        from PQ codes by ADC.  ``exclude_self=False`` keeps hits whose
        neighbor id equals the query id — required for cross-dataset
        search, where a numeric id collision is not a self-match."""
        if not hasattr(self, "_index"):
            raise RuntimeError("fit() first")
        if metric not in ("cosine", "ip"):
            raise ValueError(f"unsupported metric {metric!r}")
        qpd = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("q"),
        ).limit(self.max_queries + 1).toPandas()
        if len(qpd) > self.max_queries:
            raise ValueError(
                f"search() ships per-query LUTs in the scorer closure; got "
                f"more than max_queries={self.max_queries} — batch the calls")
        Q = np.vstack(qpd["q"].to_numpy())
        qids = qpd["query_id"].to_numpy()
        m, dsub, b = self.m, self.dsub_, self.codebooks_
        lut = np.einsum("qjd,jkd->qjk", Q.reshape(len(Q), m, dsub), b)
        sqnorms = self._code_sqnorms
        qnorm = np.sqrt((Q ** 2).sum(-1))
        cos = metric == "cosine"
        qrow = {int(q): i for i, q in enumerate(qids)}

        # probe lists on the driver (coarse codebook is tiny) and ship the
        # (query_id, list_id) pairs — the join prunes the index to the
        # probed fraction before any scoring happens
        d2c = ((Q[:, None, :] - self.centroids_[None, :, :]) ** 2).sum(-1)
        probe_idx = np.argsort(d2c, axis=1)[:, : self.nprobe]
        probes = queries.sparkSession.createDataFrame(
            [(int(q), int(l)) for i, q in enumerate(qids)
             for l in probe_idx[i]],
            "query_id long, list_id int",
        )

        @F.pandas_udf("double")
        def adc(qcol: pd.Series, codes_col: pd.Series) -> pd.Series:
            if len(qcol) == 0:
                return pd.Series([], dtype=np.float64)
            qidx = np.array([qrow[int(x)] for x in qcol])
            codes = np.frombuffer(
                b"".join(codes_col), dtype=np.uint8
            ).reshape(len(codes_col), m)
            ip = np.zeros(len(codes))
            vsq = np.zeros(len(codes))
            for j in range(m):
                ip += lut[qidx, j, codes[:, j]]
                vsq += sqnorms[j, codes[:, j]]
            if cos:
                # zero-norm codes score 0, not NaN/inf — NaN would sort
                # FIRST in the descending window and corrupt the ranking
                den = qnorm[qidx] * np.sqrt(vsq)
                return pd.Series(
                    np.divide(ip, den, out=np.zeros_like(ip), where=den > 0)
                )
            return pd.Series(ip)

        cand = probes.join(self._index, "list_id")
        if exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("vid"))
        scored = cand.select(
            "query_id", F.col("vid").alias("neighbor_id"),
            adc(F.col("query_id"), F.col("codes")).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc())
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
