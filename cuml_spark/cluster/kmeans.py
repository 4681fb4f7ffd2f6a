"""KMeans — cuML ``KMeans`` (python/cuml/cluster/kmeans.pyx:114) on MLlib.

Reference semantics: Lloyd EM with scalable k-means|| init
(cpp/src/kmeans/sg_impl.cuh:41 EM loop, :273 init, "8 rounds is sufficient"
:353), params n_clusters=8, max_iter=300, tol=1e-4, oversampling_factor=2,
metric fixed to squared-L2 (kmeans.pyx:297).  Outputs ``labels_``,
``cluster_centers_``, ``inertia_``, ``n_iter_``.

MLlib's ``ml.clustering.KMeans`` implements the IDENTICAL algorithm family
(initMode='k-means||', distanceMeasure='euclidean', treeAggregate of per-
partition partial sums per iteration — the distributed shape of the
reference's per-batch minClusterAndDistance + key-grouped centroid update).
This wrapper adds the pieces MLlib lacks: ``transform`` (distance-to-centers
matrix, kmeans.pyx:502) and ``score`` (negative inertia, :574), both as pure
column expressions over the broadcast centers.
"""

from __future__ import annotations

import weakref

import numpy as np
from pyspark.ml.clustering import KMeans as MLKMeans
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.validation import check_features


# deferred-inertia bookkeeping for the explicit-init Lloyd path: the fit
# frame is held OUTSIDE the estimator's __dict__ so pickling (Base strips
# DataFrames) and save() (which parquets DataFrame attrs) never see it;
# the weak key lets a dropped model release the frame
_INERTIA_PENDING: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


class KMeans(Base):
    def __init__(self, n_clusters: int = 8, max_iter: int = 300, tol: float = 1e-4,
                 random_state: int = 1, init: str = "scalable-k-means++",
                 n_init: int = 1, oversampling_factor: float = 2.0,
                 init_centers=None, **kwargs):
        super().__init__(**kwargs)
        self.n_clusters = n_clusters
        self.max_iter = max_iter
        self.tol = tol
        self.random_state = random_state
        self.init = init
        self.n_init = n_init
        self.oversampling_factor = oversampling_factor
        # cuML accepts an explicit (k, d) init array (kmeans.pyx:114 `init`
        # may be an ndarray).  When given, fit runs our own Lloyd loop —
        # fully deterministic, so results are exactly replayable.
        self.init_centers = None if init_centers is None else np.asarray(
            init_centers, dtype=np.float64
        )
        self.cluster_centers_: np.ndarray | None = None
        self.inertia_ = None
        self.n_iter_: int | None = None
        self._cols: list[str] | None = None
        self._model = None

    def _assemble(self, df: DataFrame, cols: list[str]) -> DataFrame:
        keep = [c for c in df.columns if c not in cols]
        casted = df.select(*keep, *[F.col(c).cast("double").alias(c) for c in cols])
        return VectorAssembler(inputCols=cols, outputCol="__features").transform(casted)

    def fit(self, df: DataFrame, feature_cols: list[str]) -> "KMeans":
        check_features(df, feature_cols)  # dtype validation only
        if self.init_centers is not None:
            return self._fit_lloyd(df, feature_cols)
        init_mode = "k-means||" if "k-means" in self.init else "random"
        km = MLKMeans(
            k=self.n_clusters, maxIter=self.max_iter, tol=self.tol,
            seed=self.random_state, initMode=init_mode,
            featuresCol="__features", predictionCol="__cluster",
            distanceMeasure="euclidean",
        )
        assembled = self._assemble(df, feature_cols)
        self._model = km.fit(assembled)
        self.cluster_centers_ = np.array(
            [c.toArray() if hasattr(c, "toArray") else np.asarray(c)
             for c in self._model.clusterCenters()]
        )
        summary = self._model.summary
        self.inertia_ = float(summary.trainingCost)  # sum of squared distances
        self.n_iter_ = summary.numIter
        self._cols = list(feature_cols)
        return self

    def _fit_lloyd(self, df: DataFrame, feature_cols: list[str]) -> "KMeans":
        """Lloyd EM from explicit init centers (kmeans.pyx:114 ndarray init;
        sg_impl.cuh:41 EM loop).  Each iteration is ONE map-side-combined
        groupBy over broadcast centers — per-iteration driver state is the
        (k, d) centroid matrix only, so the loop scales to any row count.
        Assignment ties break to the lowest cluster id (strict `<`),
        matching ``predict``.

        Why the centers stay INLINE LITERALS (r13 adjudication of the r12
        deferred idea): carrying them as a broadcast one-row relation would
        let every iteration share one compiled codegen source instead of
        janino-recompiling per-iteration literals, but the measured
        interleaved A/B (3 process pairs, min-of-3 each) was 3.3–3.4 s
        literal vs 5.4–9.3 s broadcast — the per-iteration
        BroadcastExchange + AQE stage overhead costs far more than the
        ~0.5 s/source recompile it avoids, and the recompiles are absorbed
        by the warm rep anyway (the 5 per-iteration sources are
        deterministic, so re-runs hit the codegen cache)."""
        cols = list(feature_cols)
        centers = self.init_centers.copy()
        if centers.shape != (self.n_clusters, len(cols)):
            raise ValueError(
                f"init_centers shape {centers.shape} != "
                f"({self.n_clusters}, {len(cols)})"
            )
        data = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
        n_iter = 0
        for _ in range(self.max_iter):
            self.cluster_centers_ = centers
            assigned = self.predict(data, cols, out_col="__cluster")
            rows = (
                assigned.groupBy("__cluster")
                .agg(*[F.avg(c).alias(c) for c in cols])
                .collect()
            )
            new = centers.copy()
            for r in rows:
                new[int(r["__cluster"])] = [r[c] for c in cols]
            n_iter += 1
            shift = float(np.sqrt(((new - centers) ** 2).sum(axis=1)).max())
            centers = new
            if shift <= self.tol:
                break
        self.cluster_centers_ = centers
        self.n_iter_ = n_iter
        self._cols = cols
        # inertia is one more full aggregate over the fit frame that most
        # consumers (the harness query included) never read — defer it to
        # first ``inertia_`` access (r13; the value is identical: same
        # score() expression over the same frame and final centers)
        self._inertia = None
        _INERTIA_PENDING[self] = (data, cols)
        return self

    @property
    def inertia_(self):
        """Sum of squared distances to the nearest center (kmeans.pyx:574).
        The MLlib path sets it eagerly from the training summary; the
        explicit-init Lloyd path computes it LAZILY on first access (one
        aggregate over the fit frame — r13); pickling and ``save``
        materialize it first, so a persisted model keeps the value."""
        if getattr(self, "_inertia", None) is None:
            pending = _INERTIA_PENDING.pop(self, None)
            if pending is not None:
                data, cols = pending
                self._inertia = -self.score(data, cols)
        return getattr(self, "_inertia", None)

    @inertia_.setter
    def inertia_(self, v) -> None:
        self._inertia = v
        _INERTIA_PENDING.pop(self, None)

    def __getstate__(self) -> dict:
        # the pending fit frame is not picklable state: resolve the lazy
        # inertia now (``save`` pickles through here too) or it is lost
        self.inertia_
        return super().__getstate__()

    def __setstate__(self, state: dict) -> None:
        # pickles from before the lazy inertia carry it as ``inertia_``,
        # which the property would shadow
        if "inertia_" in state:
            state["_inertia"] = state.pop("inertia_")
        super().__setstate__(state)

    # -- scoring expressions over broadcast centers (no shuffle) ------------
    def _sq_dist_expr(self, center: np.ndarray, cols: list[str]) -> Column:
        d = F.lit(0.0)
        for c, v in zip(cols, center):
            d = d + (F.col(c).cast("double") - float(v)) ** 2
        return d

    @staticmethod
    def _argmin_expr(dists: list[Column]) -> Column:
        """Index of the smallest distance, ties to the LOWEST cluster id:
        ``least`` over (distance, id) structs orders by distance, then id.
        One flat expression, linear in k — a running-minimum ``when`` chain
        nests every earlier distance into each later comparison and
        doubles per center, past the JVM's 64 KB method limit at k = 8."""
        if len(dists) == 1:  # least() takes at least two arguments
            return F.lit(0)
        return F.least(*[
            F.struct(d.alias("d"), F.lit(i).alias("i"))
            for i, d in enumerate(dists)
        ])["i"]

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "label") -> DataFrame:
        """Nearest-center assignment as a pure expression (labels_, pyx:392)."""
        cols = feature_cols or self._cols
        if self.cluster_centers_ is None:
            raise RuntimeError("model not fitted")
        dists = [self._sq_dist_expr(c, cols) for c in self.cluster_centers_]
        return df.withColumn(out_col, self._argmin_expr(dists).cast("int"))

    def fit_predict(self, df: DataFrame, feature_cols: list[str],
                    out_col: str = "label") -> DataFrame:
        return self.fit(df, feature_cols).predict(df, feature_cols, out_col)

    def transform(self, df: DataFrame, feature_cols: list[str] | None = None) -> DataFrame:
        """Distance-to-each-center columns (kmeans.pyx:502 semantics: the
        n×k transformed matrix), euclidean distances."""
        cols = feature_cols or self._cols
        if self.cluster_centers_ is None:
            raise RuntimeError("model not fitted")
        return df.select(
            *df.columns,
            *[
                F.sqrt(self._sq_dist_expr(c, cols)).alias(f"dist_{i}")
                for i, c in enumerate(self.cluster_centers_)
            ],
        )

    def score(self, df: DataFrame, feature_cols: list[str] | None = None) -> float:
        """Negative inertia on the given frame (kmeans.pyx:574)."""
        cols = feature_cols or self._cols
        dists = [self._sq_dist_expr(c, cols) for c in self.cluster_centers_]
        min_d = dists[0]
        for d in dists[1:]:
            min_d = F.least(min_d, d)
        return -df.agg(F.sum(min_d)).first()[0]
