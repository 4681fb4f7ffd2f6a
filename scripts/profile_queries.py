"""Per-query profile: build vs compute vs collect split + plan capture.

For each named query (default: all), one warm rep then a timed rep split
into three measured components:

  build    fn(spark, sf_dir) — Python-side plan construction, including any
           intermediate actions the harness runs (fits, stats passes)
  noop     df.write.format("noop") — computes every column of every row,
           no JVM->Python row transfer (guide §1.4)
  collect  df.collect() — the bench's timed action (compute + row transfer)

``collect - noop`` approximates the pinned row-transfer cost the bench
methodology charges the query; optimization effort belongs on queries where
``build + noop`` dominates.  Also writes .explain("formatted") to
plans/$CUML_SPARK_PLANS_ROUND (default r13)/<query>_<tag>.txt when --plans <tag> is given.

Usage: python scripts/profile_queries.py [--plans before] [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from cuml_spark.core.session import default_driver_mem  # noqa: E402

os.environ.setdefault("SPARK_DRIVER_MEM", default_driver_mem())


def main() -> None:
    args = sys.argv[1:]
    plan_tag = None
    if args and args[0] == "--plans":
        plan_tag = args[1]
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cuml_spark.core.session import get_spark
    from cuml_spark.harness import QUERIES

    spark = get_spark("cuml_spark_profile")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    _wu = F.pandas_udf("double")(lambda s: s)
    li.limit(1000).select(_wu(F.col("l_quantity"))).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()

    names = args or list(QUERIES)
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / os.environ.get(
        "CUML_SPARK_PLANS_ROUND", "r13")
    out = {}
    for name in names:
        fn = QUERIES[name]
        try:
            # warm rep (untimed, absorbs codegen/plan compile)
            df = fn(spark, sf_dir)
            _ = df.collect() if hasattr(df, "collect") else list(df)
            del df, _

            t0 = time.time()
            df = fn(spark, sf_dir)
            t_build = time.time() - t0
            if not hasattr(df, "write"):
                rows = list(df)
                out[name] = {"build": round(t_build, 3), "noop": None,
                             "collect": None, "note": "non-DataFrame"}
                del rows
                continue
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_noop = time.time() - t0
            t0 = time.time()
            rows = df.collect()
            t_collect = time.time() - t0
            n = len(rows)
            del rows
            if plan_tag:
                plans_dir.mkdir(parents=True, exist_ok=True)
                (plans_dir / f"{name}_{plan_tag}.txt").write_text(
                    spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
                    .explainString(df._jdf.queryExecution(), "formatted")
                )
            out[name] = {
                "build": round(t_build, 3),
                "noop": round(t_noop, 3),
                "collect": round(t_collect, 3),
                "rows": n,
            }
        except Exception as e:  # keep profiling the rest
            out[name] = {"error": str(e)[:200]}
        spark.catalog.clearCache()
        import gc
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        r = out[name]
        print(json.dumps({"query": name, **r}), flush=True)

    print("== summary (sorted by build+noop) ==")
    ok = {k: v for k, v in out.items() if "error" not in v and v.get("noop") is not None}
    for k in sorted(ok, key=lambda k: -(ok[k]["build"] + ok[k]["noop"])):
        v = ok[k]
        print(f"{v['build']+v['noop']:7.2f} compute  {v['collect']:6.2f} collect "
              f"{v['rows']:8d} rows  {k}")


if __name__ == "__main__":
    main()
