"""Batched ARIMA(p,d,q) over long-format series.

Reference: python/cuml/tsa/arima.pyx — module-level ``fit`` (:511) and
``grid_search`` (:611), ``ARIMAModel`` (:102) with ``predict_in_sample:244``,
``forecast:297``, AIC/BIC (:221-237).  The reference evaluates the batched
log-likelihood on device (cpp/src/arima/batched_arima.cu:187) inside a
host-side L-BFGS-B loop (python/cuml/tsa/batched_lbfgs.py:37) — control
bounces host↔device every step.

Spark-native design: each series fits WHOLE inside one task via
``groupBy(series_id).applyInPandas`` — no per-iteration barrier at all, a
strictly better shape than the reference's chatter (SURVEY.md §3.3).  The
default objective is conditional sum of squares (CSS): e_t = w_t − μ −
Σφᵢ(w_{t−i}−μ) − Σθⱼ e_{t−j} with pre-sample terms zero, σ̂² = SSE/n,
ll = −n/2·(log 2πσ̂² + 1); ``method='ml'`` instead maximizes the EXACT
Gaussian likelihood via a Harvey state-space Kalman recursion with the
stationary-P0 startup — the reference's objective (batched_arima.cu:187),
CSS-seeded.  ``grid_search`` fans out (series × order) pairs as one wide
job — a natural Spark fan-out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.optim import nelder_mead


def _css_resid(w: np.ndarray, p: int, q: int, params: np.ndarray) -> np.ndarray:
    """Residuals of the CSS recursion; params = [mu, phi_1..p, theta_1..q].

    The AR sweep is vectorized (one in-place shifted subtraction per lag,
    preserving the original per-term subtraction ORDER, so results stay
    bit-identical to the per-step loop); only the inherently sequential MA
    feedback runs as a loop, over plain floats rather than per-element
    numpy indexing (the optimizer calls this hundreds of times per fit —
    r12 per-task-work pass, guide §1.2 step 2)."""
    mu = params[0]
    phi = params[1 : 1 + p]
    theta = [float(v) for v in params[1 + p : 1 + p + q]]
    n = w.size
    z = w - mu
    # u_t = z_t − Σ_i φ_i z_{t−1−i} (pre-sample terms zero), accumulated
    # lag-by-lag exactly like the original inner loop
    u = z.copy()
    for i in range(p):
        if n - 1 - i > 0:
            u[i + 1:] -= phi[i] * z[: n - 1 - i]
    if q == 0:
        return u
    ul = u.tolist()
    e = [0.0] * n
    if q == 1:
        th = theta[0]
        prev = 0.0
        for t in range(n):
            prev = ul[t] - th * prev
            e[t] = prev
    else:
        for t in range(n):
            acc = ul[t]
            for j in range(q):
                if t - 1 - j >= 0:
                    acc -= theta[j] * e[t - 1 - j]
            e[t] = acc
    return np.asarray(e)


def _css_sse(w: np.ndarray, p: int, q: int, params: np.ndarray) -> float:
    e = _css_resid(w, p, q, params)
    sse = float(e @ e)
    return sse if np.isfinite(sse) else 1e300


def _start_params(w: np.ndarray, p: int, q: int) -> np.ndarray:
    """OLS-flavored seeding (mirrors arima.pyx:374 estimate_x0 in spirit):
    mu = mean, AR coefs from Yule-Walker-ish lag-1 decay, MA zeros."""
    mu = float(w.mean())
    x0 = np.zeros(1 + p + q)
    x0[0] = mu
    if p > 0 and w.size > 2:
        z = w - mu
        denom = float(z[:-1] @ z[:-1])
        r1 = float(z[1:] @ z[:-1]) / denom if denom > 0 else 0.0
        r1 = float(np.clip(r1, -0.95, 0.95))
        for i in range(p):
            x0[1 + i] = r1 ** (i + 1) * (0.5 if i else 1.0)
    return x0


def _kalman_neg_loglike(w: np.ndarray, p: int, q: int,
                        params: np.ndarray) -> tuple[float, float]:
    """EXACT Gaussian negative log-likelihood (sigma2 profiled out) via the
    Harvey state-space form + Kalman innovations — the same objective the
    reference maximizes (cpp/src/arima/batched_arima.cu:187 batched Kalman
    loglike).  Returns (−ll at the profiled sigma2, sigma2_hat).

    State alpha_{t+1} = T alpha_t + R eta_t, y_t = Z alpha_t with
    r = max(p, q+1), T the AR companion, R = (1, theta_1..q, 0…)ᵀ, Z = e1ᵀ;
    P0 is the stationary covariance from the discrete Lyapunov solve
    (I − T⊗T) vec(P0) = vec(R Rᵀ) — exact startup, no CSS conditioning.
    """
    mu = params[0]
    phi = params[1:1 + p]
    theta = params[1 + p:1 + p + q]
    z = w - mu
    n = z.size
    r = max(p, q + 1)
    T = np.zeros((r, r))
    T[:p, 0] = phi
    for i in range(r - 1):
        T[i, i + 1] = 1.0
    R = np.zeros(r)
    R[0] = 1.0
    R[1:1 + q] = theta
    RRt = np.outer(R, R)
    try:
        P = np.linalg.solve(
            np.eye(r * r) - np.kron(T, T), RRt.ravel()).reshape(r, r)
    except np.linalg.LinAlgError:
        return 1e300, 1.0
    if not np.isfinite(P).all():
        return 1e300, 1.0
    a = np.zeros(r)
    ssq = 0.0     # sum v_t^2 / F_t
    logF = 0.0    # sum log F_t
    if r <= 2:
        # Scalar-specialized recursion for the r ≤ 2 state (p ≤ 2, q ≤ 1 —
        # every registry grid cell): the generic path below spends ~10
        # numpy dispatches per timestep on 2×2 matrices, and the optimizer
        # evaluates this objective hundreds of times per fit.  Plain-float
        # arithmetic in the SAME operation order is ~300× faster per eval
        # (r12 per-task-work pass, guide §1.2 step 2 / §4.2).  Mirrors the
        # matrix recursion entry-for-entry, including the ulp-level
        # asymmetry numpy's T·P·Tᵀ leaves between P01 and P10 (K reads
        # column 0, i.e. P10).
        from math import isfinite as _isf
        from math import log as _log

        t00 = float(T[0, 0])
        t10 = float(T[1, 0]) if r == 2 else 0.0
        th = float(R[1]) if r == 2 else 0.0
        p00 = float(P[0, 0])
        p01 = float(P[0, 1]) if r == 2 else 0.0
        p10 = float(P[1, 0]) if r == 2 else 0.0
        p11 = float(P[1, 1]) if r == 2 else 0.0
        r01 = th          # RRt = outer([1, θ], [1, θ])
        r11 = th * th
        a0 = a1 = 0.0
        zl = z.tolist()
        for zt in zl:
            F_t = p00
            if not _isf(F_t) or F_t <= 0:
                return 1e300, 1.0
            v = zt - a0
            ssq += v * v / F_t
            logF += _log(F_t)
            m00 = t00 * p00 + p10   # (T @ P)[:, 0] — the gain column
            m10 = t10 * p00
            k0 = m00 / F_t
            k1 = m10 / F_t
            a0, a1 = (t00 * a0 + a1) + k0 * v, t10 * a0 + k1 * v
            m01 = t00 * p01 + p11   # (T @ P)[0/1, 1]
            m11 = t10 * p01
            p00 = (m00 * t00 + m01 + 1.0) - (k0 * k0) * F_t
            p01 = (m00 * t10 + r01) - (k0 * k1) * F_t
            p10 = (m10 * t00 + m11 + r01) - (k1 * k0) * F_t
            p11 = (m10 * t10 + r11) - (k1 * k1) * F_t
    else:
        for t in range(n):
            F_t = P[0, 0]
            if not np.isfinite(F_t) or F_t <= 0:
                return 1e300, 1.0
            v = z[t] - a[0]
            ssq += v * v / F_t
            logF += np.log(F_t)
            K = (T @ P[:, 0]) / F_t   # Kalman gain (sigma2 cancels)
            a = T @ a + K * v
            P = T @ P @ T.T + RRt - np.outer(K, K) * F_t
    sigma2 = max(ssq / n, 1e-300)
    ll = -0.5 * (n * np.log(2.0 * np.pi * sigma2) + logF + n)
    return -ll, sigma2


def _fit_one(y: np.ndarray, p: int, d: int, q: int,
             method: str = "css") -> dict:
    w = np.diff(y, n=d) if d > 0 else y.astype(np.float64)
    n = w.size
    k = 1 + p + q
    x0 = _start_params(w, p, q)
    bounds = [(-1e6, 1e6)] + [(-0.999, 0.999)] * (p + q)
    if method == "ml":
        # exact Kalman likelihood (reference parity path); CSS seeds it so
        # the expensive objective starts near the optimum
        css, _ = nelder_mead(
            lambda prm: _css_sse(w, p, q, prm), x0, bounds, max_iter=400)
        best, nll = nelder_mead(
            lambda prm: _kalman_neg_loglike(w, p, q, prm)[0], css, bounds,
            max_iter=400)
        _, sigma2 = _kalman_neg_loglike(w, p, q, best)
        ll = -nll
    else:
        best, sse = nelder_mead(
            lambda prm: _css_sse(w, p, q, prm), x0, bounds, max_iter=400
        )
        sigma2 = max(sse / n, 1e-300)
        ll = -0.5 * n * (np.log(2.0 * np.pi * sigma2) + 1.0)
    return {
        "mu": float(best[0]),
        "ar": best[1 : 1 + p].tolist(),
        "ma": best[1 + p : 1 + p + q].tolist(),
        "sigma2": float(sigma2),
        "loglike": float(ll),
        "aic": float(-2.0 * ll + 2.0 * (k + 1)),
        "bic": float(-2.0 * ll + np.log(n) * (k + 1)),
        "nobs": int(y.size),
    }


def _forecast_one(
    y: np.ndarray, p: int, d: int, q: int, mu: float,
    phi: np.ndarray, theta: np.ndarray, h: int,
) -> np.ndarray:
    w = np.diff(y, n=d) if d > 0 else y.astype(np.float64)
    e = _css_resid(w, p, q, np.concatenate(([mu], phi, theta)))
    z = (w - mu).tolist()
    ehist = e.tolist()
    out_w = []
    for _ in range(h):
        acc = 0.0
        for i in range(p):
            acc += phi[i] * z[-1 - i]
        for j in range(q):
            acc += theta[j] * (ehist[-1 - j] if len(ehist) > j else 0.0)
        z.append(acc)
        ehist.append(0.0)
        out_w.append(acc + mu)
    # integrate the d differences back to the original scale
    fc = np.asarray(out_w)
    if d == 1:
        fc = y[-1] + np.cumsum(fc)
    elif d == 2:
        first_diff = np.diff(y)[-1] + np.cumsum(fc)
        fc = y[-1] + np.cumsum(first_diff)
    elif d > 2:
        raise ValueError("d > 2 not supported")
    return fc


class ARIMA(Base):
    """Batched ARIMA over a long DataFrame (series_id, t, y)."""

    def __init__(self, order: tuple[int, int, int] = (1, 1, 1),
                 method: str = "css", **kwargs):
        super().__init__(**kwargs)
        self.order = tuple(int(v) for v in order)
        if self.order[1] > 2:
            raise ValueError("d > 2 not supported")
        if method not in ("css", "ml"):
            # 'ml' = exact Kalman likelihood (reference batched_arima.cu:187
            # parity); 'css' = conditional sum of squares (faster, AIC can
            # diverge from exact near ties — see test_tsa cross-check)
            raise ValueError("method must be 'css' or 'ml'")
        self.method = method

    def fit(
        self,
        df: DataFrame,
        series_col: str = "series_id",
        t_col: str = "t",
        y_col: str = "y",
    ) -> "ARIMA":
        p, d, q = self.order
        method = self.method

        def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("t")
            y = pdf["y"].to_numpy(dtype=np.float64)
            r = _fit_one(y, p, d, q, method=method)
            r["series_id"] = pdf["series_id"].iloc[0]
            return pd.DataFrame([r])

        long_df = df.select(
            F.col(series_col).cast("string").alias("series_id"),
            F.col(t_col).alias("t"),
            F.col(y_col).cast("double").alias("y"),
        )
        schema = (
            "mu double, ar array<double>, ma array<double>, sigma2 double, "
            "loglike double, aic double, bic double, nobs int, series_id string"
        )
        self.params_ = long_df.groupBy("series_id").applyInPandas(
            fit_group, schema).localCheckpoint(eager=False)
        self._train = long_df
        return self

    def _require_fit(self) -> DataFrame:
        if not hasattr(self, "params_"):
            raise RuntimeError("fit() first")
        return self.params_

    def aic(self) -> DataFrame:
        return self._require_fit().select("series_id", "aic")

    def bic(self) -> DataFrame:
        return self._require_fit().select("series_id", "bic")

    def forecast(self, h: int = 1) -> DataFrame:
        """h-step forecasts → (series_id, step, yhat).

        Joins the (tiny) per-series params back to the training series and
        replays the recursion per series in one ``applyInPandas`` pass.
        """
        p, d, q = self.order
        params = self._require_fit()
        joined = self._train.join(F.broadcast(params), "series_id")

        def fc_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("t")
            y = pdf["y"].to_numpy(dtype=np.float64)
            phi = np.asarray(pdf["ar"].iloc[0], dtype=np.float64)
            theta = np.asarray(pdf["ma"].iloc[0], dtype=np.float64)
            fc = _forecast_one(y, p, d, q, float(pdf["mu"].iloc[0]), phi, theta, h)
            return pd.DataFrame(
                {
                    "series_id": pdf["series_id"].iloc[0],
                    "step": np.arange(1, h + 1, dtype=np.int32),
                    "yhat": fc,
                }
            )

        return joined.groupBy("series_id").applyInPandas(
            fc_group, "series_id string, step int, yhat double"
        )

    def predict_in_sample(self) -> DataFrame:
        """One-step-ahead in-sample predictions → (series_id, t, yhat)."""
        p, d, q = self.order
        params = self._require_fit()
        joined = self._train.join(F.broadcast(params), "series_id")

        def pred_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("t")
            y = pdf["y"].to_numpy(dtype=np.float64)
            mu = float(pdf["mu"].iloc[0])
            phi = np.asarray(pdf["ar"].iloc[0], dtype=np.float64)
            theta = np.asarray(pdf["ma"].iloc[0], dtype=np.float64)
            w = np.diff(y, n=d) if d > 0 else y
            e = _css_resid(w, p, q, np.concatenate(([mu], phi, theta)))
            what = w - e
            if d == 0:
                yhat = what
                t_out = pdf["t"].to_numpy()
            elif d == 1:
                yhat = y[:-1] + what
                t_out = pdf["t"].to_numpy()[1:]
            else:  # d == 2
                yhat = 2 * y[1:-1] - y[:-2] + what
                t_out = pdf["t"].to_numpy()[2:]
            return pd.DataFrame(
                {"series_id": pdf["series_id"].iloc[0], "t": t_out, "yhat": yhat}
            )

        return joined.groupBy("series_id").applyInPandas(
            pred_group, "series_id string, t long, yhat double"
        )


def grid_search(
    df: DataFrame,
    d: int = 1,
    max_p: int = 2,
    max_q: int = 2,
    series_col: str = "series_id",
    t_col: str = "t",
    y_col: str = "y",
    criterion: str = "aic",
    method: str = "css",
) -> DataFrame:
    """Fit every (p,q) ∈ [0,max_p]×[0,max_q] per series, keep the best by
    AIC/BIC (arima.pyx:611).  The (series × order) grid is one wide Spark job:
    the input is replicated per order via a small literal cross-join, so 9
    orders × N series fan out across the cluster together.  ``method='ml'``
    ranks by the exact Kalman likelihood (reference semantics); 'css' is the
    faster conditional-SSE default."""
    if criterion not in ("aic", "bic"):
        raise ValueError("criterion must be 'aic' or 'bic'")
    if method not in ("css", "ml"):
        raise ValueError("method must be 'css' or 'ml'")
    long_df = df.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(t_col).alias("t"),
        F.col(y_col).cast("double").alias("y"),
    )
    orders = [(p, q) for p in range(max_p + 1) for q in range(max_q + 1) if p + q > 0]
    spark = df.sparkSession
    orders_df = spark.createDataFrame(orders, "p int, q int")
    fanned = long_df.crossJoin(F.broadcast(orders_df))

    def fit_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid, p, q = key
        pdf = pdf.sort_values("t")
        y = pdf["y"].to_numpy(dtype=np.float64)
        r = _fit_one(y, int(p), d, int(q), method=method)
        return pd.DataFrame(
            [{"series_id": sid, "p": int(p), "d": int(d), "q": int(q),
              "aic": r["aic"], "bic": r["bic"], "loglike": r["loglike"]}]
        )

    schema = "series_id string, p int, d int, q int, aic double, bic double, loglike double"
    fits = fanned.groupBy("series_id", "p", "q").applyInPandas(fit_group, schema)
    from pyspark.sql import Window

    w = Window.partitionBy("series_id").orderBy(F.col(criterion).asc(), "p", "q")
    return (
        fits.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
