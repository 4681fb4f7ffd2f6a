"""bench.py's printed one-line JSON: when even the pinned comparison set
overflows the line budget, the queries dropped from it are named on
stderr instead of vanishing silently."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest


@pytest.fixture
def bench(monkeypatch):
    # importing bench.py setdefaults the driver heap; keep the env as it was
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fit_line_names_dropped_pinned_queries(bench, capsys):
    # seven-digit timings push the pinned set alone over the budget
    timings = {k: 1_000_000.5 + i for i, k in enumerate(sorted(bench._PRINT_PINNED))}
    line = bench._fit_line(sum(timings.values()), timings, 0.1)
    assert len(line) <= bench._PRINT_BUDGET
    body = json.loads(line)
    dropped = sorted(set(timings) - set(body["queries"]))
    assert dropped and body["queries_omitted"] == len(dropped)
    err = capsys.readouterr().err
    named = err.split("dropped pinned queries: ", 1)[1].strip().split(", ")
    assert sorted(named) == dropped


def test_fit_line_silent_when_pinned_set_fits(bench, capsys):
    timings = {k: 1.5 for k in sorted(bench._PRINT_PINNED)}
    timings.update({f"extra_query_{i:03d}": 0.01 for i in range(200)})
    body = json.loads(bench._fit_line(sum(timings.values()), timings, 0.1))
    assert bench._PRINT_PINNED <= set(body["queries"])
    assert body["queries_omitted"] > 0  # only unpinned queries were cut
    assert capsys.readouterr().err == ""
