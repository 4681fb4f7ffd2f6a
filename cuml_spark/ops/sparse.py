"""Sparse COO/CSR graph algebra over edge-list DataFrames.

Reference prims (src_prims/sparse/coo.h, csr.h):
- ``coo_sort`` (coo.h:267)            → :func:`coo_sort`
- ``coo_remove_zeros`` (coo.h:617)    → :func:`coo_remove_zeros`
- ``coo_symmetrize`` (coo.h:797)      → :func:`coo_symmetrize`
- ``csr_row_normalize_l1`` (csr.h:299) → :func:`row_normalize_l1`
- ``csr_row_normalize_max`` (csr.h:362) → :func:`row_normalize_max`
- ``weak_cc_batched`` (csr.h:853)     → :func:`connected_components`

The sparse matrix IS a DataFrame of (row, col, value) — Spark's native
representation; there is no CSR materialization to manage.  Normalizations
are window expressions (one shuffle on row); symmetrize is a full-outer
self-join on the transposed key, so missing transposes appear as nulls and
any binary reduction op can be applied, exactly the role of the reference's
``reduction_op`` functor.  Connected components run min-label propagation —
each round is one join+groupBy round trip and the frontier shrinks
geometrically, the standard Spark formulation of weak CC.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def coo_sort(edges: DataFrame, row: str = "row", col: str = "col") -> DataFrame:
    """Canonical (row, col) ordering (coo.h:267) — a global sort; only needed
    when a consumer requires ordered output (Spark ops downstream don't)."""
    return edges.orderBy(row, col)


def coo_remove_zeros(edges: DataFrame, value: str = "value") -> DataFrame:
    """Drop explicit zeros (coo.h:617)."""
    return edges.filter(F.col(value) != 0)


def coo_symmetrize(
    edges: DataFrame,
    op: Optional[Callable[[Column, Column], Column]] = None,
    row: str = "row",
    col: str = "col",
    value: str = "value",
) -> DataFrame:
    """out(i,j) = op(in(i,j), in(j,i)) over the union of both patterns
    (coo.h:797; ``op`` plays the reference's reduction_op role).  Missing
    entries arrive as NULL — the default op treats them as 0 and averages,
    the symmetrization UMAP-style consumers start from.
    """
    if op is None:
        op = lambda a, b: (F.coalesce(a, F.lit(0.0)) + F.coalesce(b, F.lit(0.0))) / 2.0
    fwd = edges.select(F.col(row).alias("r"), F.col(col).alias("c"),
                       F.col(value).alias("v_fwd"))
    rev = edges.select(F.col(col).alias("r"), F.col(row).alias("c"),
                       F.col(value).alias("v_rev"))
    return (
        fwd.join(rev, ["r", "c"], "full_outer")
        .select(
            F.col("r").alias(row),
            F.col("c").alias(col),
            op(F.col("v_fwd"), F.col("v_rev")).alias(value),
        )
    )


def csr_add(a: DataFrame, b: DataFrame, row: str = "row", col: str = "col",
            value: str = "value") -> DataFrame:
    """Sparse matrix addition on edge lists (csr.h:535 csr_add_calc_inds /
    csr_add_finalize semantics): union of the two structures, values summed
    where both carry an entry.  One groupBy — the union never materializes
    an index structure the way the CSR kernel must."""
    cols = [row, col, value]
    return (
        a.select(*cols).unionAll(b.select(*cols))
        .groupBy(row, col)
        .agg(F.sum(value).alias(value))
    )


def row_normalize_l1(edges: DataFrame, row: str = "row",
                     value: str = "value") -> DataFrame:
    """value / Σ_row |value| (csr.h:299)."""
    w = Window.partitionBy(row)
    tot = F.sum(F.abs(F.col(value))).over(w)
    return edges.withColumn(
        value, F.when(tot != 0, F.col(value) / tot).otherwise(F.lit(0.0))
    )


def row_normalize_max(edges: DataFrame, row: str = "row",
                      value: str = "value") -> DataFrame:
    """value / max_row(value) (csr.h:362; zero/negative max rows pass
    through unscaled, matching the guard in the kernel)."""
    w = Window.partitionBy(row)
    mx = F.max(F.col(value)).over(w)
    return edges.withColumn(
        value, F.when(mx > 0, F.col(value) / mx).otherwise(F.col(value))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """→ (vertex, component = min reachable vertex id): weak CC
    (csr.h:853 ``weak_cc_batched``) via min-label propagation with pointer
    doubling.

    Each round: (1) push every vertex's current label across its
    (symmetrized) edges and take the min; (2) shortcut — re-resolve each
    label through the label table itself (label[label]).  The shortcut makes
    labels hop 2^r vertices after r rounds, so convergence is O(log diameter)
    rounds, not O(diameter) — a 1M-hop chain converges in ~20 rounds.
    Converged when no label changes (checked with a count over the round's
    checkpoint, which also fills it and truncates the lineage).  Raises if
    ``max_iter`` is exhausted before convergence — a silently split
    component would corrupt every consumer (dedup groups, DBSCAN labels).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # truncate lineage ONCE: every round re-references the edge list, so
        # without this each round's plan nests the caller's full upstream
        # plan (a near-dup caller's brute cosine join has a huge expression
        # tree — the compounded plan OOMs the driver before any task runs).
        # Block-stored edges with no lineage replay is the same trade GraphX
        # makes with periodic checkpointing on iterative graph algorithms.
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("vertex")).distinct()
        .withColumn("component", F.col("vertex"))
    )
    for it in range(max_iter):
        prop = (
            sym.join(labels.withColumnRenamed("vertex", "a"), "a")
            .groupBy(F.col("b").alias("vertex"))
            .agg(F.min("component").alias("nc"))
        )
        # __old carries the round's input label, so the convergence count
        # reads one frame instead of joining the previous round back in
        stepped = (
            labels.join(prop, "vertex", "left")
            .select(
                "vertex",
                F.least(F.col("component"),
                        F.coalesce("nc", "component")).alias("component"),
                F.col("component").alias("__old"),
            )
        )
        if (it + 1) % 4 == 0:
            # pointer doubling every 4th round: component ids ARE vertex
            # ids, so re-resolving labels through the table itself
            # (label[label]) squares reachable path length — keeping total
            # rounds O(log diameter) for deep chains without paying the
            # self-join on the plain rounds that shallow graphs finish in
            stepped = stepped.localCheckpoint(eager=False)  # read twice
            roots = stepped.select(
                F.col("vertex").alias("component"),
                F.col("component").alias("root"),
            )
            stepped = (
                stepped.join(roots, "component", "left")
                .select(
                    "vertex",
                    F.least(F.col("component"),
                            F.coalesce("root", "component")).alias("component"),
                    "__old",
                )
            )
        # truncate lineage every round: the next round reads this frame
        # twice, so an untruncated plan would nest ~2^rounds and OOM the
        # driver in plan analysis on a long-diameter graph.  The checkpoint
        # is lazy — the convergence count below is the job that fills it.
        labels = stepped.localCheckpoint(eager=False)
        if labels.filter(F.col("component") != F.col("__old")).count() == 0:
            return labels.select("vertex", "component")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(labels still changing); raise max_iter"
    )
