"""Batched Holt-Winters (triple exponential smoothing).

Reference: ``cuml.ExponentialSmoothing`` — python/cuml/tsa/holtwinters.pyx:64
(ctor :168: seasonal ∈ {additive, multiplicative}, seasonal_periods, batched
across ``ts_num`` series); C++ fit cpp/src/holtwinters/runner.h:84
(decompose) + :173 (Nelder-Mead optimization of alpha/beta/gamma by SSE),
forecast internal/hw_forecast.h.

Spark-native design: the reference batches series across GPU blocks; here the
batching axis is ``groupBy(series_id).applyInPandas`` — each series fits
whole inside one task (init → NM over (α,β,γ) → components), which is
exactly the reference's parallelism with Spark tasks in place of blocks.
Input is LONG format (series_id, t, y); model state is a small per-series
params DataFrame collected to the driver (n_series rows, not n_obs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.optim import multi_start_nelder_mead


def _hw_sse(y: np.ndarray, m: int, mult: bool, params: np.ndarray) -> float:
    """One-step-ahead SSE of the HW recursion for (alpha, beta, gamma)."""
    _, _, _, sse = _hw_run(y, m, mult, params)
    return sse


def _hw_init(y: np.ndarray, m: int, mult: bool) -> tuple[float, float, np.ndarray]:
    """Season-average initialization (runner.h:84 STL-style decompose)."""
    s1 = y[:m].mean()
    s2 = y[m : 2 * m].mean() if y.size >= 2 * m else y[:m].mean()
    level = s1
    trend = (s2 - s1) / m if y.size >= 2 * m else 0.0
    season = (y[:m] / level) if mult else (y[:m] - level)
    if mult:
        season = np.where(np.abs(season) < 1e-12, 1e-12, season)
    return float(level), float(trend), season.astype(np.float64)


def _hw_run(
    y: np.ndarray, m: int, mult: bool, params: np.ndarray
) -> tuple[float, float, np.ndarray, float]:
    """Run the recursion; returns (level, trend, season, sse)."""
    alpha, beta, gamma = params
    level, trend, season = _hw_init(y, m, mult)
    season = season.copy()
    sse = 0.0
    for t in range(y.size):
        s = season[t % m]
        yhat = (level + trend) * s if mult else level + trend + s
        err = y[t] - yhat
        sse += err * err
        prev_level = level
        if mult:
            level = alpha * (y[t] / s) + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev_level) + (1.0 - beta) * trend
            season[t % m] = gamma * (y[t] / level) + (1.0 - gamma) * s
        else:
            level = alpha * (y[t] - s) + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev_level) + (1.0 - beta) * trend
            season[t % m] = gamma * (y[t] - level) + (1.0 - gamma) * s
    return level, trend, season, sse


# deterministic NM starts over the (α,β,γ) unit cube (hw_optim.h seeds similarly)
_HW_STARTS = [
    np.array([0.3, 0.1, 0.1]),
    np.array([0.7, 0.05, 0.3]),
    np.array([0.1, 0.01, 0.7]),
]
_HW_BOUNDS = [(1e-4, 0.9999)] * 3


def _fit_one_series(y: np.ndarray, m: int, mult: bool) -> dict:
    y = np.asarray(y, dtype=np.float64)
    best, sse = multi_start_nelder_mead(
        lambda p: _hw_sse(y, m, mult, p), _HW_STARTS, _HW_BOUNDS, max_iter=200
    )
    level, trend, season, sse = _hw_run(y, m, mult, best)
    return {
        "alpha": best[0],
        "beta": best[1],
        "gamma": best[2],
        "sse": sse,
        "level": level,
        "trend": trend,
        "season": season,
        "nobs": y.size,
    }


class ExponentialSmoothing(Base):
    """Batched Holt-Winters over a long DataFrame (series_id, t, y).

    ``fit`` shuffles once on series_id; every series is optimized inside its
    own task.  Fitted state is one small row per series — at 100 TB the input
    never leaves the executors; only (n_series × ~(m+6)) floats return.
    """

    def __init__(
        self,
        endog: "DataFrame | None" = None,
        seasonal: str = "additive",
        seasonal_periods: int = 2,
        start_periods: int = 2,
        ts_num: int = 1,
        eps: float = 2.24e-3,
        **kwargs,
    ):
        """Reference ctor shape (holtwinters.pyx ctor): ``endog`` — the data
        itself — may be passed at construction and ``fit()`` called with no
        arguments; here endog is a long DataFrame (series_id, t, y).
        ``start_periods`` (seed-window count), ``ts_num`` (series count; here
        derived from the data) and ``eps`` (optimizer tolerance) are accepted
        for vocabulary parity — the grid+golden-section optimizer resolves
        finer than the reference's eps by construction."""
        super().__init__(**kwargs)
        if seasonal not in ("additive", "multiplicative"):
            raise ValueError("seasonal must be 'additive' or 'multiplicative'")
        self.endog = endog
        self.seasonal = seasonal
        self.seasonal_periods = int(seasonal_periods)
        self.start_periods = int(start_periods)
        self.ts_num = int(ts_num)
        self.eps = float(eps)

    def fit(
        self,
        df: DataFrame | None = None,
        series_col: str = "series_id",
        t_col: str = "t",
        y_col: str = "y",
    ) -> "ExponentialSmoothing":
        if df is None:
            if self.endog is None:
                raise ValueError("pass df= to fit() or endog= at construction")
            df = self.endog
        m = self.seasonal_periods
        mult = self.seasonal == "multiplicative"

        def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("t")
            y = pdf["y"].to_numpy(dtype=np.float64)
            if y.size < 2 * m:
                raise ValueError(
                    f"series {pdf['series_id'].iloc[0]!r}: need >= 2*seasonal_periods obs"
                )
            r = _fit_one_series(y, m, mult)
            return pd.DataFrame(
                [
                    {
                        "series_id": pdf["series_id"].iloc[0],
                        "alpha": r["alpha"],
                        "beta": r["beta"],
                        "gamma": r["gamma"],
                        "sse": r["sse"],
                        "level": r["level"],
                        "trend": r["trend"],
                        "season": r["season"].tolist(),
                        "nobs": int(r["nobs"]),
                    }
                ]
            )

        long_df = df.select(
            F.col(series_col).cast("string").alias("series_id"),
            F.col(t_col).alias("t"),
            F.col(y_col).cast("double").alias("y"),
        )
        schema = (
            "series_id string, alpha double, beta double, gamma double, "
            "sse double, level double, trend double, season array<double>, nobs int"
        )
        self.params_ = long_df.groupBy("series_id").applyInPandas(
            fit_group, schema).localCheckpoint(eager=False)
        return self

    def _require_fit(self) -> DataFrame:
        if not hasattr(self, "params_"):
            raise RuntimeError("fit() first")
        return self.params_

    def forecast(self, h: int = 1) -> DataFrame:
        """h-step-ahead forecasts → (series_id, step, yhat), step ∈ [1, h]."""
        p = self._require_fit()
        m = self.seasonal_periods
        mult = self.seasonal == "multiplicative"
        steps = p.select(
            "series_id", "level", "trend", "season", "nobs",
            F.explode(F.sequence(F.lit(1), F.lit(int(h)))).alias("step"),
        )
        season_at = F.element_at(
            F.col("season"),
            ((F.col("nobs") + F.col("step") - 1) % F.lit(m)).cast("int") + 1,
        )
        base = F.col("level") + F.col("step") * F.col("trend")
        yhat = (base * season_at) if mult else (base + season_at)
        return steps.select("series_id", "step", yhat.alias("yhat"))

    def score(self) -> DataFrame:
        """Per-series SSE of the fitted recursion (holtwinters.pyx:435)."""
        return self._require_fit().select("series_id", "sse")

    def get_level(self) -> DataFrame:
        return self._require_fit().select("series_id", "level")

    def get_trend(self) -> DataFrame:
        return self._require_fit().select("series_id", "trend")

    def get_season(self) -> DataFrame:
        return self._require_fit().select("series_id", "season")
