"""Ad-hoc single-query timer for perf work: shared warm session, THREE
timed runs per query, min-of-3 reported.

NOT the bench.py protocol: bench runs each query twice with an untimed
System.gc() between queries, so numbers from this tool are systematically
a bit faster (extra warm run, no GC pause attribution) and must not be
compared against bench_results.json — use it only to A/B two plans within
one invocation.

Usage: python scripts/time_queries.py eval_contamination fil_score ...
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from cuml_spark.core.session import default_driver_mem  # noqa: E402

os.environ.setdefault("SPARK_DRIVER_MEM", default_driver_mem())


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cuml_spark.core.session import get_spark
    from cuml_spark.harness import QUERIES

    spark = get_spark("cuml_spark_adhoc_timer")
    spark.sparkContext.setLogLevel("ERROR")
    # minimal warmup: parquet footers + codegen + arrow worker pool
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    _wu = F.pandas_udf("double")(lambda s: s)
    li.limit(1000).select(_wu(F.col("l_quantity"))).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()

    for name in names:
        fn = QUERIES[name]
        runs = []
        for _ in range(3):
            t0 = time.time()
            df = fn(spark, sf_dir)
            rows = df.collect()
            runs.append(round(time.time() - t0, 3))
            del rows
        spark.catalog.clearCache()
        print(f"{name}: runs={runs} min={min(runs)}")


if __name__ == "__main__":
    main()
