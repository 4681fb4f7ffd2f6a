"""SVC — kernel support vector classification.

Reference: python/cuml/svm/svm.pyx:99 (ctor :118: C, kernel ∈ {linear, poly,
rbf, sigmoid}, gamma='auto', degree, coef0; fit :404 / predict :463) → SMO
solver cpp/src/svm/smosolver.h:71 with working-set selection and a kernel-row
cache; outputs dual coefs, support vectors, intercept.

SMO is sequential over a global working set (smosolver.h:55-58) — exact
distributed SMO is a research problem (SURVEY.md §7.3).  Two honest modes:

- ``mode='exact'`` (default for fit): features are COLLECTED to the driver
  and a simplified-SMO dual solver runs in numpy — the same "small model
  state, big scoring side" split the reference uses (its solver is one GPU;
  ours is the driver).  Intended for n ≲ 10⁵ like the reference's own
  single-GPU envelope.  PREDICTION is fully distributed: support vectors
  broadcast, decision function evaluated in an Arrow-batched pandas UDF.
- ``mode='rff'``: Random Fourier Features (Rahimi & Recht 2007) approximate
  the rbf kernel; the lifted problem is solved by the distributed hinge-SGD
  solver — everything stays on executors; use for large n.

Attribute vocabulary mirrors the reference: ``support_``, ``support_vectors_``,
``dual_coef_``, ``intercept_``, ``n_support_``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from cuml_spark.core.base import Base
from cuml_spark.core.validation import check_features


def _kernel(Xa: np.ndarray, Xb: np.ndarray, kind: str, gamma: float,
            degree: int, coef0: float) -> np.ndarray:
    if kind == "linear":
        return Xa @ Xb.T
    if kind == "poly":
        return (gamma * (Xa @ Xb.T) + coef0) ** degree
    if kind == "rbf":
        aa = (Xa * Xa).sum(1)[:, None]
        bb = (Xb * Xb).sum(1)[None, :]
        return np.exp(-gamma * (aa + bb - 2.0 * (Xa @ Xb.T)))
    if kind == "sigmoid":
        return np.tanh(gamma * (Xa @ Xb.T) + coef0)
    raise ValueError(f"unknown kernel {kind!r}")


def _smo(K: np.ndarray, y: np.ndarray, C: float, tol: float, max_passes: int,
         max_iter: int, seed: int) -> tuple[np.ndarray, float]:
    """Simplified SMO (Platt) on the precomputed kernel; y ∈ {−1, +1}.

    Same dual problem as smosolver.h; working-set size 2 instead of the
    reference's blocked working set — identical optimum, simpler schedule.
    """
    n = len(y)
    alpha = np.zeros(n)
    b = 0.0
    rng = np.random.RandomState(seed)
    passes = 0
    it = 0
    # error cache: Fv[i] tracks Σ_j α_j y_j K[i,j], updated incrementally
    # on each (i, j) step — two O(n) vector updates per CHANGED pair
    # instead of one O(n) dot per VISITED point (the per-eval trap the
    # arima kernels had; r12 per-task-work pass).  Same dual updates;
    # the fp accumulation order of f(·) differs from the exact dot, so
    # the KKT threshold test can in principle flip for points sitting
    # within a few ulps of the boundary and nudge the visit SCHEDULE —
    # acceptable because every consumer contract (KKT/separation tests,
    # the harness accuracy floor) is tolerance-based by design, and the
    # solver converges to the same optimum either way (ADVICE r12).
    Fv = np.zeros(n)

    def f(i):
        return float(Fv[i] + b)

    while passes < max_passes and it < max_iter:
        it += 1
        changed = 0
        for i in range(n):
            Ei = f(i) - y[i]
            if (y[i] * Ei < -tol and alpha[i] < C) or (y[i] * Ei > tol and alpha[i] > 0):
                j = int(rng.randint(n - 1))
                if j >= i:
                    j += 1
                Ej = f(j) - y[j]
                ai_old, aj_old = alpha[i], alpha[j]
                if y[i] != y[j]:
                    L, H = max(0.0, aj_old - ai_old), min(C, C + aj_old - ai_old)
                else:
                    L, H = max(0.0, ai_old + aj_old - C), min(C, ai_old + aj_old)
                if L == H:
                    continue
                eta = 2.0 * K[i, j] - K[i, i] - K[j, j]
                if eta >= 0:
                    continue
                aj = aj_old - y[j] * (Ei - Ej) / eta
                aj = min(H, max(L, aj))
                if abs(aj - aj_old) < 1e-7:
                    continue
                ai = ai_old + y[i] * y[j] * (aj_old - aj)
                alpha[i], alpha[j] = ai, aj
                Fv += (y[i] * (ai - ai_old)) * K[i] + (y[j] * (aj - aj_old)) * K[j]
                b1 = b - Ei - y[i] * (ai - ai_old) * K[i, i] - y[j] * (aj - aj_old) * K[i, j]
                b2 = b - Ej - y[i] * (ai - ai_old) * K[i, j] - y[j] * (aj - aj_old) * K[j, j]
                if 0 < ai < C:
                    b = b1
                elif 0 < aj < C:
                    b = b2
                else:
                    b = (b1 + b2) / 2.0
                changed += 1
        passes = passes + 1 if changed == 0 else 0
    return alpha, b


class SVC(Base):
    def __init__(self, C: float = 1.0, kernel: str = "rbf", degree: int = 3,
                 gamma: str | float = "auto", coef0: float = 0.0,
                 tol: float = 1e-3, max_iter: int = 200, mode: str = "exact",
                 n_rff: int = 128, seed: int = 42,
                 max_exact_rows: int = 50_000, **kwargs):
        super().__init__(**kwargs)
        if kernel not in ("linear", "poly", "rbf", "sigmoid"):
            raise ValueError(f"unknown kernel {kernel!r}")
        if mode not in ("exact", "rff"):
            raise ValueError("mode must be 'exact' or 'rff'")
        if mode == "rff" and kernel != "rbf":
            raise ValueError("rff mode approximates the rbf kernel only")
        self.C = C
        self.kernel = kernel
        self.degree = degree
        self.gamma = gamma
        self.coef0 = coef0
        self.tol = tol
        self.max_iter = max_iter
        self.mode = mode
        self.n_rff = n_rff
        self.seed = seed
        self.max_exact_rows = max_exact_rows

    def _gamma_value(self, d: int) -> float:
        return 1.0 / d if self.gamma == "auto" else float(self.gamma)

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "SVC":
        """Labels in {0,1} (mapped to ±1 internally, like the reference)."""
        data = check_features(df, [*feature_cols, label_col])
        self._cols = list(feature_cols)
        if self.mode == "rff":
            return self._fit_rff(df, feature_cols, label_col)
        n_rows = data.count()
        if n_rows > self.max_exact_rows:
            raise ValueError(
                f"mode='exact' collects the training set to the driver (SMO "
                f"is sequential); {n_rows} rows > max_exact_rows="
                f"{self.max_exact_rows}. Use mode='rff' (distributed random-"
                f"feature solver) or raise max_exact_rows explicitly."
            )
        pdf = data.toPandas()
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        y01 = pdf[label_col].to_numpy(dtype=np.float64)
        y = 2.0 * y01 - 1.0
        g = self._gamma_value(X.shape[1])
        K = _kernel(X, X, self.kernel, g, self.degree, self.coef0)
        alpha, b = _smo(K, y, self.C, self.tol, max_passes=3,
                        max_iter=self.max_iter, seed=self.seed)
        sv = alpha > 1e-8
        self.support_ = np.where(sv)[0]
        self.support_vectors_ = X[sv]
        self.dual_coef_ = (alpha[sv] * y[sv]).reshape(1, -1)
        self.intercept_ = float(b)
        self.n_support_ = int(sv.sum())
        self._gamma_fit = g
        return self

    def _fit_rff(self, df: DataFrame, cols: list[str], label_col: str) -> "SVC":
        """RFF lift + distributed hinge gradient descent.

        Each epoch is ONE pass: executors compute per-partition hinge
        subgradient partials in numpy over Arrow batches (``mapInPandas``),
        the driver sums the ~num_partitions partial rows and steps — the
        treeAggregate pattern with the kernel lift fused into the map side.
        """
        d = len(cols)
        g = self._gamma_value(d)
        rng = np.random.RandomState(self.seed)
        Wf = rng.standard_normal((d, self.n_rff)) * np.sqrt(2.0 * g)
        bf = rng.uniform(0.0, 2.0 * np.pi, self.n_rff)
        scale = float(np.sqrt(2.0 / self.n_rff))
        data = df.select(
            *[F.col(c).cast("double") for c in cols],
            F.col(label_col).cast("double").alias("__y"),
        ).localCheckpoint(eager=False)
        n = data.count()
        lam = 1.0 / (n * self.C)  # hinge-SVM primal: λ/2‖w‖² + mean hinge
        m = self.n_rff
        w = np.zeros(m)
        b = 0.0
        eta = 0.5
        for _ in range(100):
            wB, bB = w.copy(), b

            def partials(batches):
                for pdf in batches:
                    X = pdf[cols].to_numpy(dtype=np.float64)
                    y = 2.0 * pdf["__y"].to_numpy(dtype=np.float64) - 1.0
                    Z = np.cos(X @ Wf + bf) * scale
                    marg = y * (Z @ wB + bB)
                    act = marg < 1.0
                    gw = -(Z[act] * y[act, None]).sum(0)
                    gb = -float(y[act].sum())
                    yield pd.DataFrame(
                        [{"g": np.append(gw, gb).tolist(), "n": len(y)}]
                    )

            rows = data.mapInPandas(partials, "g array<double>, n long").collect()
            gsum = np.sum([np.asarray(r["g"]) for r in rows], axis=0)
            total = sum(r["n"] for r in rows)
            gw = gsum[:m] / total + lam * w
            gb = gsum[m] / total
            w = w - eta * gw
            b = b - eta * gb
            if float(np.sqrt(gw @ gw + gb * gb)) < 1e-6:
                break
        self._rff = (Wf, bf, scale)
        self._rff_w, self._rff_b = w, float(b)
        self.n_support_ = 0  # rff mode has no explicit SVs
        return self

    # ------------------------------------------------------------------
    def decision_function(self, df: DataFrame, out_col: str = "decision") -> DataFrame:
        cols = self._cols
        if self.mode == "rff":
            Wf, bf, scale = self._rff
            w, b = self._rff_w, self._rff_b

            @F.pandas_udf(DoubleType())
            def rff_score(*batch: pd.Series) -> pd.Series:
                X = np.column_stack([s.to_numpy(dtype=np.float64) for s in batch])
                Z = np.cos(X @ Wf + bf) * scale
                return pd.Series(Z @ w + b)

            return df.withColumn(out_col, rff_score(*[F.col(c) for c in cols]))

        SV = self.support_vectors_
        coef = self.dual_coef_[0]
        b = self.intercept_
        kind, g, deg, c0 = self.kernel, self._gamma_fit, self.degree, self.coef0

        @F.pandas_udf(DoubleType())
        def score(*batch: pd.Series) -> pd.Series:
            X = np.column_stack([s.to_numpy(dtype=np.float64) for s in batch])
            Kx = _kernel(X, SV, kind, g, deg, c0)
            return pd.Series(Kx @ coef + b)

        return df.withColumn(out_col, score(*[F.col(c) for c in cols]))

    def predict(self, df: DataFrame, out_col: str = "prediction") -> DataFrame:
        """Class in {0,1} (svm.pyx:463 thresholds the decision value)."""
        scored = self.decision_function(df, "__dec")
        return scored.withColumn(
            out_col, (F.col("__dec") > 0).cast("double")
        ).drop("__dec")

    def score(self, df: DataFrame, feature_cols: list[str], label_col: str) -> float:
        pred = self.predict(df)
        return pred.selectExpr(
            f"avg(cast(prediction = {label_col} as double)) as acc"
        ).first()["acc"]
