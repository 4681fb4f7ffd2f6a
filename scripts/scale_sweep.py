"""Scaling-curve measurement: time corpus-scan-dominated headline
queries at sf0.001 / sf0.01 / sf0.1 (100x row-count span) in one warm
session and print sec + ratio-to-previous-SF per query.

The claim under test is the SCALE.md global invariant: these operators'
cost is dominated by per-row scan work and keyed map-side-combined
shuffles, so wall time should grow far SLOWER than 10x per SF step at
these sizes (fixed per-job overheads amortize) and near-linearly once
data dominates.  Iterative ML fits are excluded — their cost is
iteration-count, not corpus size (documented in SCALE.md).

Usage: python scripts/scale_sweep.py [query ...]   (default: the set below)
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

SFS = ["sf0.001", "sf0.01", "sf0.1"]
DEFAULT = [
    "dedup_exact",            # one 16-byte-hash shuffle
    "minhash_signatures",     # explode + keyed agg
    "gopher_quality",         # map-only column exprs
    "quality_filter_scores",  # hashed BoW + broadcast join
    "doc_perplexity",         # in-row bigrams + count aggs
    "bm25_topk",              # postings shuffle + broadcast probe
    "substr_dedup",           # in-row window hashing + hash shuffle
    "dsir_weights",           # conditional fit + broadcast scoring
    "doc_chunks",             # map-only posexplode
    "cosine_topk",            # GEMM-ish in-row dots + top-k
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    from cuml_spark.core.session import get_spark
    from cuml_spark.harness import QUERIES

    spark = get_spark("cuml_spark_scale_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict[str, float]] = {}
    for sf in SFS:
        sf_dir = f"/root/testdata/{sf}"
        for name in names:
            fn = QUERIES[name]
            fn(spark, sf_dir).collect()  # warm: plans, JIT, page cache
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
            results.setdefault(name, {})[sf] = min(runs)
    header = f"{'query':28s}" + "".join(f"{sf:>10s}" for sf in SFS) + \
        "   x(0.01/0.001)  x(0.1/0.01)"
    print(header)
    for name in names:
        r = results[name]
        line = f"{name:28s}" + "".join(f"{r[sf]:10.3f}" for sf in SFS)
        line += f"   {r['sf0.01'] / r['sf0.001']:12.2f}" \
                f"  {r['sf0.1'] / r['sf0.01']:11.2f}"
        print(line)
    print(json.dumps({"scale_sweep": results}))


if __name__ == "__main__":
    main()
