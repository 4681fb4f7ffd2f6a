import json
from pathlib import Path

import pytest

from checks import answer, mismatch
from report import layer_record, result
from tracing import Span, Tracer
from workloads import END_TO_END_UNITS, per_layer_units

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(ops_ok=(True, True, True)):
    ops = [{"name": f"q{i}", "s": 1.0 + i, "ok": ok, "rows": 1}
           for i, ok in enumerate(ops_ok)]
    return {
        "setups": [{"s": 9.0, "start_s": 5.0, "fit": {}},
                   {"s": 1.0, "start_s": 0.1, "fit": {}},
                   {"s": 1.2, "start_s": 0.1, "fit": {}}],
        "setup_cold_s": 9.0,
        "passes": [{"kind": "timed", "traced": False, "wall_s": 6.5,
                    "ops": ops, "layers": None, "counts": {}}],
        "peak_rss_mb": 1500.0,
    }


def test_one_changed_cell_is_a_mismatch():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 0.25), (3, 0.125)]
    want = answer(cols, rows)
    assert mismatch(want, cols, list(reversed(rows))) is None
    changed = [(1, 0.5), (2, 0.25), (3, 0.126)]
    assert "hash" in mismatch(want, cols, changed)
    assert "rowcount" in mismatch(want, cols, rows[:2])
    assert "schema" in mismatch(want, ["k", "w"], rows)


def test_failed_op_counts_in_failed_and_ok_frac():
    out = result(_run((True, False, True)), SPEC, False, per_layer_units())
    assert out["attempted"] == 3 and out["failed"] == 1
    assert out["correct"] is False
    assert out["metrics"]["ok_frac"]["value"] == pytest.approx(2 / 3)
    clean = result(_run(), SPEC, False, per_layer_units())
    assert clean["correct"] is True and clean["failed"] == 0


def test_every_end_to_end_metric_is_printed_with_its_unit():
    out = result(_run(), SPEC, False, per_layer_units())
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert want == END_TO_END_UNITS


def _traced_run():
    tr = Tracer()
    t = 0.0
    spans = []

    def add(name, dur, parent=None, **attrs):
        nonlocal t
        s = Span(len(tr.spans), parent.sid if parent else None, name, attrs)
        s.start, s.end = t, t + dur
        tr.spans.append(s)
        spans.append(s)
        return s

    ps = add("pass", 10.0)
    op = add("op", 4.0, ps, op="dbscan_roles", kind="query", rows=3)
    b = add("harness.build", 4.0, op)
    c = add("spark.collect", 1.0, b)
    b.jobs, c.jobs = [0, 1], [2]
    c.counters = {"executor_run_s": 2.0, "input_bytes": 10.0}
    add("op", 1.0, ps, op="fil.predict", kind="fil.predict", rows=5)
    layers = layer_record(tr, ps, cores=4)
    run = _run()
    run["passes"] = [{"kind": "timed", "traced": True, "wall_s": 10.0,
                      "ops": run["passes"][0]["ops"], "layers": layers,
                      "counts": {}}]
    run["setups"][0]["fit"] = {"similarity.ivf.fit_s": 2.0}
    return run, layers


def test_layer_record_attributes_jobs_and_self_time():
    _, layers = _traced_run()
    assert layers["harness.build_s"] == pytest.approx(3.0)
    assert layers["harness.build_jobs"] == 2
    assert layers["q.dbscan_roles.jobs"] == 3
    assert layers["spark.collect_s"] == pytest.approx(1.0)
    assert layers["spark.slot_busy_frac"] == pytest.approx(2.0 / 40.0)
    assert layers["driver.result_rows"] == 8
    assert layers["fil.predict.p50_s"] == pytest.approx(1.0)


def test_every_per_layer_metric_is_printed_with_its_unit():
    run, _ = _traced_run()
    units = per_layer_units()
    out = result(run, SPEC, True, units)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert want == units
    assert out["metrics"]["similarity.ivf.fit_s"]["value"] == 2.0
    assert out["metrics"]["trace.pass_s"]["value"] == 10.0


def test_a_metric_missing_from_the_run_is_an_error():
    spec = dict(SPEC, end_to_end=SPEC["end_to_end"] + [
        {"name": "nope_s", "unit": "s", "better": "lower", "bound": 0.1}])
    with pytest.raises(KeyError):
        result(_run(), spec, False, per_layer_units())
