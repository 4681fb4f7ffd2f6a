"""Turn a run's passes and spans into the metrics BENCHMARK.json names.

Everything here is plain Python over plain records, so it is tested
without Spark.
"""

from __future__ import annotations

from stats import median, percentile
from workloads import END_TO_END_UNITS

_STAGE_METRICS = {
    "spark.tasks": "tasks", "spark.failed_tasks": "failed_tasks",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s", "spark.gc_s": "gc_s",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
}


def layer_record(tracer, pass_span, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass.  Span tree below the pass:
    op -> (``harness.build`` | ``<module>.<fn>``) -> ``spark.collect``."""
    tot = tracer.totals(pass_span)
    rec: dict[str, float] = {
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
        **{m: tot[k] for m, k in _STAGE_METRICS.items()},
    }
    rec["spark.slot_busy_frac"] = (
        tot["executor_run_s"] / (pass_span.duration * cores))
    ops = tracer.children(pass_span)
    calls = [c for op in ops for c in tracer.children(op)]
    builds = [c for c in calls if c.name == "harness.build"]
    collects = [g for c in calls for g in tracer.children(c)
                if g.name == "spark.collect"]
    rec["harness.build_s"] = sum(tracer.self_time(s) for s in builds)
    rec["harness.build_jobs"] = sum(len(s.jobs) for s in builds)
    rec["spark.collect_s"] = sum(s.duration for s in collects)
    rec["driver.result_rows"] = sum(op.attrs.get("rows", 0) for op in ops)
    by_type: dict[str, list] = {}
    for op in ops:
        name = op.attrs["op"]
        t = tracer.totals(op)
        if op.attrs["kind"] == "query":
            rec[f"q.{name}.s"] = op.duration
            rec[f"q.{name}.jobs"] = t["jobs"]
            rec[f"q.{name}.input_bytes"] = t["input_bytes"]
            rec[f"q.{name}.shuffle_bytes"] = t["shuffle_write_bytes"]
        else:
            by_type.setdefault(name, []).append((op.duration, t["jobs"]))
    for name, xs in by_type.items():
        rec[f"{name}.p50_s"] = median(d for d, _ in xs)
        rec[f"{name}.jobs"] = median(j for _, j in xs)
    return rec


def _timed(run: dict, traced: bool) -> list[dict]:
    return [p for p in run["passes"]
            if p["kind"] == "timed" and p["traced"] == traced]


def end_to_end(run: dict) -> dict[str, float]:
    """The end-to-end metrics, from the untraced timed passes only."""
    passes = _timed(run, traced=False)
    lat = [op["s"] for p in passes for op in p["ops"]]
    every = [op for p in run["passes"] for op in p["ops"]]
    failed = sum(1 for op in every if not op["ok"])
    return {
        "setup_s": median(s["s"] for s in run["setups"]),
        "pass_s": median(p["wall_s"] for p in passes),
        "op_p50_s": percentile(lat, 50.0),
        "op_p90_s": percentile(lat, 90.0),
        "ok_frac": 1.0 - failed / len(every),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def per_layer(run: dict, units: dict[str, str]) -> dict[str, float]:
    """The per-layer metrics: medians over the traced timed passes.  A
    metric the workload does not exercise (another workload's query, say)
    reads 0."""
    traced = _timed(run, traced=True)
    out = {}
    for name in units:
        vals = [p["layers"][name] for p in traced if name in p["layers"]]
        out[name] = median(vals) if vals else 0.0
    out["core.session.start_s"] = median(s["start_s"] for s in run["setups"])
    out["setup.cold_s"] = run["setup_cold_s"]
    for name in ("similarity.ivf.fit_s", "cluster.kmeans.fit_s"):
        fits = [s["fit"][name] for s in run["setups"] if name in s["fit"]]
        out[name] = median(fits) if fits else 0.0
    if traced:
        out["trace.pass_s"] = median(p["wall_s"] for p in traced)
    out["trace.calls_s"] = run.get("trace_calls_s", 0.0)
    out["trace.read_s"] = run.get("trace_read_s", 0.0)
    out["isolation.mismatches"] = len(run.get("isolation_mismatches", []))
    return out


def result(run: dict, spec: dict, trace: bool, layer_units: dict) -> dict:
    """The last stdout line: every metric BENCHMARK.json names for this
    mode (end-to-end untraced, per-layer traced), each with its unit."""
    if trace:
        values, units, wanted = (per_layer(run, layer_units), layer_units,
                                 spec["per_layer"])
    else:
        values, units, wanted = (end_to_end(run), END_TO_END_UNITS,
                                 spec["end_to_end"])
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name not in values:
            raise KeyError(f"metric {name!r} is not measured")
        if units[name] != m["unit"]:
            raise ValueError(f"metric {name!r}: unit {units[name]!r} "
                             f"!= BENCHMARK.json {m['unit']!r}")
        metrics[name] = {"value": float(values[name]), "unit": units[name]}
    every = [op for p in run["passes"] for op in p["ops"]]
    failed = sum(1 for op in every if not op["ok"])
    return {
        "correct": failed == 0 and not run.get("isolation_mismatches"),
        "attempted": len(every),
        "failed": failed,
        "metrics": metrics,
    }

