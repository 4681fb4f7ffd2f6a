"""Generate the per-query worker-boundedness table for BASELINE.md.

For every registered query, build its DataFrame at sf0.01 and inspect the
physical plan for Python-worker operators (ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas / BatchEvalPython).  Queries whose FIT runs Arrow
stages before returning a JVM-only frame are caught by tracking plans is
not possible from the returned frame alone — those are tagged via the
override set below (kept small and commented).

Joins the tag with the latest bench_results.json run pairs (first run vs
min) and prints a markdown table to stdout.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# queries whose returned frame is JVM-only but whose construction runs
# Arrow/pandas stages (iterative fits, driver-side layout, mapInPandas
# pipelines that end in a JVM aggregate)
_FIT_TIME_PYTHON = {
    "rf_mae_regression",   # distributed-argmax applyInPandas path + router
    "umap_trust", "umap_supervised_trust", "umap_transform_oos",
    "tsne_trust",          # graph build + driver layout feed Arrow stages
    "spectral_blobs",
    "arima_grid_aic", "arima_forecast", "arima_ml_aic",  # applyInPandas fits
    "kalman_local_level",
    "holtwinters_forecast",
    "kpss_events",
    "svc_rule_accuracy",   # SMO on driver over Arrow-collected sample
    "image_dedup_groups",  # decode+hash mapInPandas feeds a JVM groupBy
    "streaming_clean_corpus", "streaming_dedup_docs",
}


def main() -> None:
    from cuml_spark.core.session import get_spark
    from cuml_spark.harness import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("boundedness_probe")
    spark.sparkContext.setLogLevel("ERROR")

    runs = {}
    try:
        runs = json.loads(
            (Path(__file__).resolve().parent.parent / "bench_results.json")
            .read_text()
        ).get("runs", {})
    except (OSError, ValueError):
        pass

    py_pat = re.compile(
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython"
    )
    print("| query | bound | run1 (s) | run2 (s) | gap (s) |")
    print("|---|---|---|---|---|")
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            tag = "python" if py_pat.search(plan) else "jvm"
        except Exception as e:  # noqa: BLE001 — tag, don't crash the sweep
            tag = f"error: {type(e).__name__}"
        if tag == "jvm" and name in _FIT_TIME_PYTHON:
            tag = "python (fit-time)"
        pair = runs.get(name)
        if pair and len(pair) == 2:
            r1, r2 = pair
            print(f"| {name} | {tag} | {r1:.2f} | {r2:.2f} | {r1 - r2:+.2f} |")
        else:
            print(f"| {name} | {tag} | – | – | – |")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
