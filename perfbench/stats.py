"""Percentile and summary helpers for the benchmark's timings."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) of ``values`` by linear
    interpolation between closest ranks (NumPy's default method)."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def summary(values) -> dict:
    """n, p50, p90, min and max of a sample.  ``p90_tail`` is how many
    samples lie above the p90: a p90 read from fewer than ten of them is
    a rough figure, and the count says so."""
    xs = [float(v) for v in values]
    p90 = percentile(xs, 90.0)
    return {
        "n": len(xs),
        "p50": percentile(xs, 50.0),
        "p90": p90,
        "p90_tail": sum(1 for x in xs if x > p90),
        "min": min(xs),
        "max": max(xs),
    }

