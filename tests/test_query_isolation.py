"""No harness query reuses state a sibling query left behind.

Each query builds what it reads; reuse happens only inside one query.  So a
query's job count after a sibling that reads the same inputs equals its
count from a cleared cache manager.  The pairs below share inputs: the
t-SNE and UMAP queries embed the same sampled frame, the near-dup
grouping thresholds the verified pair set that ``ngram_jaccard`` reports,
and both DBSCAN queries fit the same points.
"""

from __future__ import annotations

import itertools

import pytest

SF = "/root/testdata/sf0.01"
_GROUP_IDS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs launched by building and collecting one query."""
    sc = spark.sparkContext
    group = f"isolation-{next(_GROUP_IDS)}"
    sc.setJobGroup(group, fn.__name__)
    try:
        fn(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("first,second", [
    ("tsne_trust", "umap_trust"),
    ("ngram_jaccard", "text_neardup_groups"),
    ("dbscan_roles", "dbscan_cluster_sizes"),
])
def test_no_sibling_reuse(spark, first, second):
    from cuml_spark.harness import QUERIES

    spark.catalog.clearCache()
    _jobs(spark, QUERIES[first])
    after_sibling = _jobs(spark, QUERIES[second])
    spark.catalog.clearCache()
    alone = _jobs(spark, QUERIES[second])
    assert after_sibling == alone, (
        f"{second} ran {after_sibling} jobs after {first}, {alone} alone")


def test_dbscan_roles_job_count(spark):
    """The DBSCAN fit plus the roles projection runs a pinned number of
    Spark jobs (pair join, per-point summary, one sub-cell graph collect,
    the labelled output), so an accidental extra job fails here."""
    from cuml_spark.core.session import read_table
    from cuml_spark.harness import QUERIES

    read_table(spark, f"{SF}/customer.parquet")  # schema inference job
    spark.catalog.clearCache()
    assert _jobs(spark, QUERIES["dbscan_roles"]) == 8
