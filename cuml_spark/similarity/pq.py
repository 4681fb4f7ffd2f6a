"""Product-quantization (PQ) index for compressed ANN at corpus scale.

The memory-compression scale path for similarity search (FAISS PQ/IVFPQ
family — the same library the reference's KNN delegates to,
cpp/src/knn/knn.cu:57): a d-dim float32 vector (4d bytes) is stored as
``m`` one-byte codeword ids (m bytes), a 32×ⁿ compression that is what
makes billion-vector indexes fit in memory at all.  100 TB of raw fp32
embeddings become ~0.8 TB of codes at d=64, m=8.

Re-expressed Spark-first:

- **train** (driver, tiny state): the vector is split into ``m``
  subvectors; each subspace gets its own ``ksub``-entry k-means codebook
  trained on a seeded hash-sample (like IVFIndex).  When the sample's
  distinct subvectors already fit in ``ksub`` entries the codebook IS the
  distinct set — quantization is then lossless, which is both a real
  optimization for low-cardinality subspaces and what lets the harness
  oracle replay search exactly (`pq_search_exact`).
- **encode** (one distributed pass): a Pandas UDF maps each subvector to
  its nearest codeword; the index frame is just ``(id, codes: binary)``,
  m bytes per row.  Bytes never reach the driver.
- **search** (asymmetric distance computation, ADC): each query
  precomputes an m×ksub lookup table of partial inner products against
  the codebooks (driver numpy over the tiny codebook), the LUT batch is
  broadcast, and ONE ``mapInPandas`` pass over the codes scores every
  (query, row) pair as ``sum_j lut[j, code_j]`` — a table gather, no
  float math per dimension.  Each partition emits only its local top
  ``k+1`` rows per query, so the shuffle is O(n_queries·k·n_partitions),
  never O(n_queries·n_rows); a window top-k finishes globally.

Cosine is served exactly for quantized vectors: ``‖v̂‖² = Σⱼ ‖c_{j,code_j}‖²``
because subspaces are orthogonal coordinate blocks, so the norm table is
precomputed per codeword alongside the LUT.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.similarity.ivf import _kmeans_codebook


def train_pq_codebooks(X: np.ndarray, m: int, ksub: int, iters: int,
                       seed: int) -> np.ndarray:
    """(m, ksub, d/m) per-subspace codebooks from a training matrix.
    A subspace whose distinct subvectors fit in ``ksub`` entries stores
    them verbatim (lossless; unused tail entries repeat the first value so
    argmin never prefers an all-zero phantom); otherwise k-means."""
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        sub = X[:, j * dsub:(j + 1) * dsub]
        uniq = np.unique(sub, axis=0)
        if len(uniq) <= ksub:
            books[j, :len(uniq)] = uniq
            books[j, len(uniq):] = uniq[0]
        else:
            books[j, :] = _kmeans_codebook(sub.copy(), ksub, iters, seed + j)
    return books


class PQIndex(Base):
    def __init__(self, m: int = 8, ksub: int = 256, train_size: int = 2000,
                 kmeans_iters: int = 10, seed: int = 42,
                 max_queries: int = 10000, **kwargs):
        super().__init__(**kwargs)
        if not 1 <= ksub <= 256:
            raise ValueError("ksub must be in [1, 256] (codes are one byte)")
        self.m = m
        self.ksub = ksub
        self.train_size = train_size
        self.kmeans_iters = kmeans_iters
        self.seed = seed
        self.max_queries = max_queries

    # ---- train + encode ---------------------------------------------
    def fit(self, df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id", n_rows: int | None = None) -> "PQIndex":
        pts = df.select(F.col(id_col).alias("vid"),
                        F.col(vec_col).cast("array<double>").alias("v"))
        from cuml_spark.ops.sampling import hash_sample_pred

        n = pts.count() if n_rows is None else n_rows
        frac = min(1.0, self.train_size / max(n, 1))
        sample = pts.filter(hash_sample_pred("vid", frac, self.seed)).toPandas()
        if len(sample) == 0:
            sample = pts.limit(self.train_size).toPandas()
        X = np.vstack(sample["v"].to_numpy())
        d = X.shape[1]
        self.d_, self.dsub_ = d, d // self.m
        dsub = self.dsub_
        books = train_pq_codebooks(
            X, self.m, self.ksub, self.kmeans_iters, self.seed)
        self.codebooks_ = books
        # per-codeword squared norms → exact ‖v̂‖² by summing over subspaces
        self._code_sqnorms = (books ** 2).sum(-1)  # (m, ksub)

        m, b = self.m, books

        @F.pandas_udf("binary")
        def encode(batch: pd.Series) -> pd.Series:
            V = np.vstack(batch.to_numpy())
            codes = np.empty((len(V), m), dtype=np.uint8)
            for j in range(m):
                sub = V[:, j * dsub:(j + 1) * dsub]
                # ‖s − c‖² = ‖s‖² − 2s·c + ‖c‖²; ‖s‖² constant per row
                d2 = -2.0 * sub @ b[j].T + (b[j] ** 2).sum(-1)[None, :]
                codes[:, j] = d2.argmin(1)
            return pd.Series([c.tobytes() for c in codes])

        self._index = pts.select("vid", encode("v").alias("codes")).localCheckpoint()
        return self

    # ---- ADC search --------------------------------------------------
    def search(self, queries: DataFrame, k: int = 5, vec_col: str = "embedding",
               id_col: str = "vec_id", metric: str = "cosine",
               exclude_self: bool = True) -> DataFrame:
        """→ (query_id, neighbor_id, score, rank): approx top-k per query
        by asymmetric distance (raw query vs quantized neighbor).  The
        query side must be bounded (≤ ``max_queries`` — LUTs are broadcast
        to every partition); batch larger query sets through several calls.

        ``exclude_self`` drops hits whose ``neighbor_id`` equals the
        ``query_id`` — the self-search convention.  Pass ``False`` for
        cross-dataset search: the id spaces are unrelated there, and a
        numeric collision would otherwise silently discard a true
        neighbor.
        """
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
                f"search() broadcasts per-query LUTs; got more than "
                f"max_queries={self.max_queries} queries — batch the calls")
        Q = np.vstack(qpd["q"].to_numpy())
        qids = qpd["query_id"].to_numpy()
        m, dsub, b = self.m, self.dsub_, self.codebooks_
        # (nq, m, ksub) partial inner products — the only per-query state
        lut = np.einsum("qjd,jkd->qjk",
                        Q.reshape(len(Q), m, dsub), b)
        sqnorms = self._code_sqnorms
        qnorm = np.sqrt((Q ** 2).sum(-1))
        cos = metric == "cosine"
        # local head keeps one spare iff a self-match may drop post-window
        kk = k + 1 if exclude_self else k

        out_schema = "query_id long, neighbor_id long, score double"

        def score_part(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                vids = pdf["vid"].to_numpy()
                codes = np.frombuffer(
                    b"".join(pdf["codes"]), dtype=np.uint8
                ).reshape(len(pdf), m)
                # order rows by id so the stable score sort below breaks
                # ties by neighbor_id — the same (score desc, id asc)
                # order the global window uses; a plain argpartition here
                # could drop the globally-ranked member of a tie group
                by_id = np.argsort(vids)
                vids, codes = vids[by_id], codes[by_id]
                # gather-sum: scores[q, i] = Σⱼ lut[q, j, codes[i, j]]
                ip = np.zeros((len(Q), len(codes)))
                vsq = np.zeros(len(codes))
                for j in range(m):
                    ip += lut[:, j, codes[:, j]]
                    vsq += sqnorms[j, codes[:, j]]
                if cos:
                    # a vector quantized to all-zero codewords has vsq=0;
                    # score it 0 instead of NaN/inf (NaN sorts LAST in the
                    # numpy argsort but FIRST in Spark's descending window,
                    # so the local prefilter and the global ranking would
                    # disagree)
                    den = qnorm[:, None] * np.sqrt(vsq)[None, :]
                    sc = np.divide(ip, den, out=np.zeros_like(ip),
                                   where=den > 0)
                else:
                    sc = ip
                head = min(kk, sc.shape[1])
                top = np.argsort(-sc, axis=1, kind="stable")[:, :head]
                yield pd.DataFrame({
                    "query_id": np.repeat(qids, head),
                    "neighbor_id": vids[top].ravel(),
                    "score": np.take_along_axis(sc, top, axis=1).ravel(),
                })

        local = self._index.mapInPandas(score_part, out_schema)
        if exclude_self:
            local = local.filter(F.col("query_id") != F.col("neighbor_id"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc())
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
