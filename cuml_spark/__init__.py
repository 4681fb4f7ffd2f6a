"""cuml_spark — a PySpark-native rebuild of the cuML 0.11 estimator surface.

The reference (`/root/reference`, RAPIDS cuML v0.11) is a GPU ML library with a
scikit-learn-style API: fit / predict / transform / fit_predict / fit_transform,
plus metrics, preprocessing and dataset generators (see SURVEY.md).  This package
re-expresses that surface Spark-first:

- declarative DataFrame/SQL aggregations for the statistical primitives
  (``cuml_spark.ops``), so Catalyst gets pushdown/pruning/codegen for free;
- ``pyspark.ml`` wrappers where MLlib has the same algorithm family
  (KMeans, linear models, RF, PCA);
- Arrow-batched ``applyInPandas`` kernels for per-group algorithms MLlib lacks
  (time series);
- driver-side linalg only on provably-small matrices (d×d gramians, k×d centers).

Everything here is built from public knowledge only: the PySpark API plus the
reference repo's observable behavior.
"""

__version__ = "0.1.0"

from cuml_spark.core.session import get_spark  # noqa: F401

# Top-level estimator surface mirroring the reference's package root
# (python/cuml/__init__.py:17-68): ``cuml.KMeans`` → ``cuml_spark.KMeans``
# etc., so reference-style imports port by renaming the package only.
# Lazy (PEP 562) so importing cuml_spark stays cheap.
_TOP_LEVEL = {
    "Base": "cuml_spark.core.base",
    "Handle": "cuml_spark.core.handle",
    "DBSCAN": "cuml_spark.cluster.dbscan",
    "KMeans": "cuml_spark.cluster.kmeans",
    "SpectralClustering": "cuml_spark.cluster.spectral",
    "make_blobs": "cuml_spark.datasets.generators",
    "make_regression": "cuml_spark.datasets.generators",
    "PCA": "cuml_spark.decomposition.pca",
    "TruncatedSVD": "cuml_spark.decomposition.tsvd",
    "KalmanFilter": "cuml_spark.tsa.kalman",
    "ElasticNet": "cuml_spark.linear_model.elastic_net",
    "Lasso": "cuml_spark.linear_model.lasso",
    "LinearRegression": "cuml_spark.linear_model.linear_regression",
    "LogisticRegression": "cuml_spark.linear_model.logistic_regression",
    "MBSGDClassifier": "cuml_spark.linear_model.mbsgd",
    "MBSGDRegressor": "cuml_spark.linear_model.mbsgd",
    "Ridge": "cuml_spark.linear_model.ridge",
    "r2_score": "cuml_spark.metrics.regression",
    "accuracy_score": "cuml_spark.metrics.classification",
    "adjusted_rand_score": "cuml_spark.metrics.cluster",
    "NearestNeighbors": "cuml_spark.neighbors.nearest_neighbors",
    "CD": "cuml_spark.solvers.cd",
    "SGD": "cuml_spark.solvers.sgd",
    "QN": "cuml_spark.solvers.qn",
    "ExponentialSmoothing": "cuml_spark.tsa.holtwinters",
    "UMAP": "cuml_spark.manifold.umap",
    "TSNE": "cuml_spark.manifold.tsne",
    "GaussianRandomProjection": "cuml_spark.decomposition.random_projection",
    "SparseRandomProjection": "cuml_spark.decomposition.random_projection",
    "johnson_lindenstrauss_min_dim": "cuml_spark.decomposition.random_projection",
    "train_test_split": "cuml_spark.preprocessing.model_selection",
    "LabelEncoder": "cuml_spark.preprocessing.label_encoder",
    "ForestInference": "cuml_spark.fil.fil",
    "RandomForestClassifier": "cuml_spark.ensemble.random_forest",
    "RandomForestRegressor": "cuml_spark.ensemble.random_forest",
}


def __getattr__(name: str):
    if name == "cuda":
        # reference exports the cuda module itself (cuml/__init__.py:19);
        # the Spark analog lives in core.handle (Stream is a documented no-op)
        import cuml_spark.core.handle as _h

        return _h
    mod = _TOP_LEVEL.get(name)
    if mod is None:
        raise AttributeError(f"module 'cuml_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


def __dir__():
    return sorted(set(globals()) | set(_TOP_LEVEL))
