import pytest

from tracing import Span, Tracer


def _span(tr, name, start, end, parent=None, **counters):
    s = Span(len(tr.spans), parent.sid if parent else None, name, {})
    s.start, s.end = start, end
    s.counters = {k: float(v) for k, v in counters.items()}
    tr.spans.append(s)
    return s


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    root = _span(tr, "op", 0.0, 10.0)
    _span(tr, "a", 1.0, 4.0, root)
    _span(tr, "b", 3.0, 5.0, root)   # overlaps a: covered is 1..5
    _span(tr, "c", 8.0, 12.0, root)  # clipped at the parent's end
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 2.0)


def test_totals_sum_the_subtree():
    tr = Tracer()
    root = _span(tr, "pass", 0.0, 10.0)
    op = _span(tr, "op", 0.0, 5.0, root, tasks=4, input_bytes=100)
    _span(tr, "spark.collect", 1.0, 2.0, op, tasks=2, input_bytes=50)
    _span(tr, "op", 5.0, 9.0, root, tasks=1)
    tr.spans[1].jobs, tr.spans[2].jobs = [0, 1], [2]
    tr.spans[1].stages = [0, 1, 2]
    assert tr.totals(op)["tasks"] == 6
    assert tr.totals(op)["input_bytes"] == 150
    assert tr.totals(op)["jobs"] == 3
    assert tr.totals(root)["tasks"] == 7
    assert tr.totals(root)["stages"] == 3


def test_untraced_spans_set_no_job_group():
    tr = Tracer()
    with tr.span("op") as s:
        pass
    assert s.group is None and tr.calls_s == 0.0
    assert s.duration >= 0.0
