"""Embedding-cosine near-duplicate detection.

The fifth dedup modality of the pipeline suite (exact / minhash-LSH /
simhash / n-gram Jaccard live in cuml_spark.text.dedup): two documents are
near-duplicates when their embedding cosine similarity ≥ threshold.

Modes:
- ``method='brute'``: all-pairs with the expanded-norm cosine — O(N²) but
  exact and DuckDB-checkable (the D-class oracle surface).
- ``method='lsh'``: random-hyperplane signatures bucket the vectors (only
  same-bucket pairs are scored — candidate generation is an equi-join on
  (table, signature)); exact cosine re-ranks candidates, so precision is
  exact and only recall is approximate.  The 100 TB path.

Output: one row per unordered pair (id_a < id_b, cos_sim), plus a
``near_dup_groups`` helper that turns pairs into connected groups.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuml_spark.ops.distance import cosine_sim, with_sq_norm

_BLOCK_ROWS = 2048

# All-pairs brute broadcasts the full packed vector table to every executor
# and fans out O((N/block)²) block pairs — fine for oracle-scale data, a
# guaranteed broadcast-OOM at corpus scale. Refuse above this cap (mirrors
# text.dedup._JACCARD_ALLPAIRS_MAX_DOCS) and point at the LSH plan instead.
_BRUTE_MAX_ROWS = 200_000


def _pairs_brute(pts: DataFrame, threshold: float,
                 max_brute_rows: int = _BRUTE_MAX_ROWS) -> DataFrame:
    """All-pairs cosine ≥ threshold as a block-nested loop: vectors hash into
    packed blocks, upper-triangle block pairs (a_blk ≤ b_blk — each unordered
    pair scored once) fan out through mapInPandas where one GEMM scores the
    whole block; only surviving pairs (a vanishing fraction) ever become rows.
    """
    n = pts.count()
    if n > max_brute_rows:
        raise ValueError(
            f"embedding_near_duplicates(method='brute') broadcasts the whole "
            f"packed vector table and scores O(N²) pairs; refusing at {n} "
            f"rows (> max_brute_rows={max_brute_rows}). Use method='lsh' "
            f"(bucketed candidates + exact cosine re-rank — precision stays "
            f"exact) or raise max_brute_rows explicitly."
        )
    nblk = max(1, -(-n // _BLOCK_ROWS))
    blocked = pts.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(nblk)).cast("int")
    )
    packed = blocked.groupBy("blk").agg(
        F.collect_list(F.struct("vid", "v")).alias("rows")
    )
    tasks = (
        packed.select(F.col("blk").alias("a_blk"), F.col("rows").alias("a_rows"))
        .crossJoin(
            F.broadcast(
                packed.select(F.col("blk").alias("b_blk"), F.col("rows").alias("b_rows"))
            )
        )
        .filter(F.col("a_blk") <= F.col("b_blk"))
        .repartition(max(nblk * (nblk + 1) // 4, 1))
    )
    vid_type = pts.schema["vid"].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", vid_type),
            T.StructField("id_b", vid_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(len(pdf)):
                same = pdf["a_blk"].iloc[i] == pdf["b_blk"].iloc[i]
                a_rows, b_rows = pdf["a_rows"].iloc[i], pdf["b_rows"].iloc[i]
                A = np.asarray([r["v"] for r in a_rows], dtype=np.float64)
                B = np.asarray([r["v"] for r in b_rows], dtype=np.float64)
                ida = np.asarray([r["vid"] for r in a_rows])
                idb = np.asarray([r["vid"] for r in b_rows])
                na = np.sqrt(np.einsum("ij,ij->i", A, A))
                nb = np.sqrt(np.einsum("ij,ij->i", B, B))
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (A @ B.T) / np.outer(na, nb)
                mask = S >= threshold
                ii, jj = np.nonzero(mask)
                lo, hi = ida[ii], idb[jj]
                if same:
                    keep = lo < hi
                else:
                    keep = lo != hi
                    lo, hi = np.minimum(lo, hi), np.maximum(lo, hi)
                yield pd.DataFrame(
                    {"id_a": lo[keep], "id_b": hi[keep], "cos_sim": S[ii, jj][keep]}
                )

    return tasks.mapInPandas(score, schema)


def _pairs_lsh(pts: DataFrame, dim: int, n_planes: int, n_tables: int,
               seed: int) -> DataFrame:
    """Bucketed candidate pairs: one vectorized Arrow matmul computes every
    table's bucket (ops/distance.hyperplane_buckets); the bucket join and
    pair-distinct carry ONLY ids, and vectors re-attach by equi-join — at
    scale the wide rows never shuffle through the candidate explosion."""
    from cuml_spark.ops.distance import hyperplane_buckets

    buckets = hyperplane_buckets(n_planes, n_tables, dim, seed)
    tagged = pts.select(
        "vid", F.posexplode(buckets(F.col("v"))).alias("t", "b")
    )
    pairs = (
        tagged.alias("a")
        .join(tagged.alias("b"), ["t", "b"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    va = pts.select(F.col("vid").alias("id_a"), F.col("v").alias("va"),
                    F.col("sq").alias("sqa"))
    vb = pts.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"),
                    F.col("sq").alias("sqb"))
    return pairs.join(va, "id_a").join(vb, "id_b")


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "lsh",
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    max_brute_rows: int = _BRUTE_MAX_ROWS,
) -> DataFrame:
    """→ (id_a, id_b, cos_sim) for pairs with cosine ≥ threshold, id_a < id_b.

    Default is ``method='lsh'`` — the scale path (bucketed candidates, exact
    cosine re-rank: precision exact, recall approximate). ``method='brute'``
    is exact but all-pairs and refuses above ``max_brute_rows``.
    """
    pts = with_sq_norm(
        df.select(F.col(id_col).alias("vid"),
                  F.col(vec_col).cast("array<double>").alias("v")),
        "v", "sq",
    )
    if method == "brute":
        return _pairs_brute(pts.drop("sq"), threshold, max_brute_rows)
    elif method == "lsh":
        dim = len(df.select(vec_col).first()[0])
        pairs = _pairs_lsh(pts, dim, n_planes, n_tables, seed)
    else:
        raise ValueError("method must be 'brute' or 'lsh'")
    sim = cosine_sim(F.col("va"), F.col("vb"), F.col("sqa"), F.col("sqb"))
    return (
        pairs.select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def near_dup_groups(pairs: DataFrame, driver_cap: int = 500_000) -> DataFrame:
    """Pairs → (vid, group_id = min reachable id): weak connected components
    over the near-dup edge list.

    Two tiers, same precedent as DBSCAN's driver union-find over core
    sub-cells: the near-dup edge list is candidate-bounded by
    construction (LSH buckets / brute refusal caps), so up to
    ``driver_cap`` edges it is collected ONCE (a single ``limit``-bounded
    pass, ~16 B/edge → ≤8 MB at the default cap) and grouped with
    path-compressed union-find on the driver — replacing the iterative
    pointer-doubling loop (a few Spark jobs × O(log diameter) rounds, each
    round's labels checkpointed in the block manager) with one job.  Past
    the cap it falls back to the distributed weak-CC prim
    (ops.sparse.connected_components), which scales to any edge count.  Both tiers produce identical labels (min reachable id)."""
    head = pairs.select("id_a", "id_b").limit(driver_cap + 1).collect()
    if len(head) <= driver_cap:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in head:
            a, b = int(row[0]), int(row[1])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict[int, int] = {}
        for v in parent:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        rows = [(v, comp_min[find(v)]) for v in sorted(parent)]
        return pairs.sparkSession.createDataFrame(
            rows, "vid long, group_id long"
        )
    from cuml_spark.ops.sparse import connected_components

    labels = connected_components(pairs, src="id_a", dst="id_b")
    return labels.select(F.col("vertex").alias("vid"),
                         F.col("component").alias("group_id"))


def keep_best_in_groups(
    groups: DataFrame,
    scores: DataFrame,
    *,
    score_col: str,
    id_col: str = "doc_id",
    higher_is_better: bool = True,
) -> DataFrame:
    """The dedup ACTION on near-dup clusters, FineWeb-style: instead of
    keeping each group's arbitrary min-id member, keep its BEST member
    by a caller-supplied quality score (length, Gopher composite,
    classifier prob, ...).

    ``groups`` is ``near_dup_groups`` output (vid, group_id); ``scores``
    carries (id_col, score_col).  → (group_id, best_id, best_score,
    n_members).

    Plan: one equi-join (the score frame projects two columns) and ONE
    map-side-combinable ``min(struct)`` aggregation — the extremal
    member folds inside each partition before the shuffle, so a
    pathologically large near-dup cluster (the boilerplate-page case)
    sends one partial row per map task, never its full membership, to
    the reducer (the substring.py keep-first lesson).  Ties break on the
    smaller id; members with NULL scores never win — even against
    real ``±inf`` scores (an explicit null-flag struct field, not a
    collidable sentinel) — and a group whose every score is NULL
    reports ``best_score`` NULL.  NaN scores rank below every real
    score (Spark sorts NaN greatest) but above NULL.
    """
    sc = scores.select(F.col(id_col).alias("vid"),
                       F.col(score_col).alias("__score"))
    joined = groups.join(sc, "vid", "left")
    # sort key: (null-flag, value) — the flag, not a sentinel value,
    # pushes NULLs last, so real +/-inf scores can never tie with them
    raw = F.col("__score").cast("double")
    key = F.coalesce(-raw if higher_is_better else raw, F.lit(0.0))
    best = (
        joined.groupBy("group_id")
        .agg(
            F.count("*").alias("n_members"),
            F.min(F.struct(raw.isNull().cast("int").alias("nf"),
                           key.alias("k"), F.col("vid").alias("best_id"),
                           F.col("__score").alias("best_score"))).alias("b"),
        )
        .select(
            "group_id", F.col("b.best_id").alias("best_id"),
            F.col("b.best_score").alias("best_score"),
            F.col("n_members"),
        )
    )
    return best
