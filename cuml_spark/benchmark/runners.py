"""Benchmark-as-test runners — parity with the reference's benchmark
subsystem (python/cuml/benchmark/runners.py:24 ``BenchmarkTimer``, :46
``SpeedupComparisonRunner``, :158 ``AccuracyComparisonRunner``).

The reference compares cuML-GPU against sklearn-CPU on generated data.
This engine's analog compares the DISTRIBUTED Spark estimator against a
driver-local numpy baseline (sklearn is not a dependency): same algorithm
family, same data, one machine-local reference implementation.  Speedup < 1
at toy sizes is expected and honest — Spark's scheduling overhead only pays
for itself beyond single-node memory; the runner exists to make the
crossover measurable, and to gate accuracy parity per algorithm.
"""

from __future__ import annotations

import time

import numpy as np


class BenchmarkTimer:
    """Context helper: run a block ``reps`` times, collect wall timings
    (runners.py:24 semantics)."""

    def __init__(self, reps: int = 1):
        self.reps = reps
        self.timings: list[float] = []

    def benchmark_runs(self):
        for r in range(self.reps):
            t0 = time.time()
            yield r
            self.timings.append(time.time() - t0)


class SpeedupComparisonRunner:
    """Run an AlgorithmPair over a size grid; report spark vs baseline time
    (runners.py:46 semantics, Spark-native)."""

    def __init__(self, bench_rows, bench_dims, dataset_name: str = "blobs",
                 n_reps: int = 1):
        self.bench_rows = list(bench_rows)
        self.bench_dims = list(bench_dims)
        self.dataset_name = dataset_name
        self.n_reps = n_reps

    # ------------------------------------------------------------------
    def _gen_data(self, spark, n_samples: int, n_features: int, seed: int = 42):
        from cuml_spark.datasets import make_blobs, make_regression

        if self.dataset_name == "blobs":
            df = make_blobs(spark, n_samples=n_samples, n_features=n_features,
                            centers=4, cluster_std=1.5, random_state=seed)
            label = "label"
        elif self.dataset_name == "regression":
            df = make_regression(spark, n_samples=n_samples,
                                 n_features=n_features, noise=0.5,
                                 random_state=seed)
            label = "y"
        else:
            raise ValueError(f"unknown dataset {self.dataset_name!r}")
        cols = [f"f{j}" for j in range(n_features)]
        df = df.localCheckpoint()
        pdf = df.toPandas()
        X = pdf[cols].to_numpy(dtype=np.float64)
        y = pdf[label].to_numpy(dtype=np.float64)
        return df, cols, label, X, y

    def _run_one_size(self, spark, algo_pair, n_samples, n_features,
                      run_baseline=True, verbose=False):
        df, cols, label, X, y = self._gen_data(spark, n_samples, n_features)
        spark_timer = BenchmarkTimer(self.n_reps)
        result = None
        for _ in spark_timer.benchmark_runs():
            result = algo_pair.run_spark(df, cols, label)
        spark_elapsed = float(np.min(spark_timer.timings))

        if run_baseline and algo_pair.baseline_fn is not None:
            base_timer = BenchmarkTimer(self.n_reps)
            baseline = None
            for _ in base_timer.benchmark_runs():
                baseline = algo_pair.baseline_fn(X, y)
            base_elapsed = float(np.min(base_timer.timings))
        else:
            baseline, base_elapsed = None, 0.0

        row = dict(
            algo=algo_pair.name,
            spark_time=spark_elapsed,
            baseline_time=base_elapsed,
            speedup=base_elapsed / spark_elapsed if spark_elapsed else 0.0,
            n_samples=n_samples,
            n_features=n_features,
        )
        self._augment(row, algo_pair, result, baseline, X, y)
        if verbose:
            print(row)
        return row

    def _augment(self, row, algo_pair, result, baseline, X, y):
        pass  # accuracy subclass adds its metric

    def run(self, spark, algo_pair, run_baseline=True, raise_on_error=False,
            verbose=False):
        out = []
        for ns in self.bench_rows:
            for nf in self.bench_dims:
                try:
                    out.append(self._run_one_size(
                        spark, algo_pair, ns, nf, run_baseline, verbose))
                except Exception as e:  # mirror runners.py:147 tolerance
                    if raise_on_error:
                        raise
                    out.append(dict(algo=algo_pair.name, n_samples=ns,
                                    n_features=nf, error=str(e)))
        return out


class AccuracyComparisonRunner(SpeedupComparisonRunner):
    """SpeedupComparisonRunner + per-run quality metric from the pair's
    ``accuracy_fn(result, baseline, X, y)`` (runners.py:158 semantics)."""

    def _augment(self, row, algo_pair, result, baseline, X, y):
        if algo_pair.accuracy_fn is not None:
            row["metric"] = float(
                algo_pair.accuracy_fn(result, baseline, X, y)
            )


def run_variations(spark, algos, dataset_name, bench_rows, bench_dims,
                   n_reps: int = 1, verbose: bool = False):
    """Grid driver (runners.py:263): every algo × rows × dims → result rows."""
    runner = AccuracyComparisonRunner(bench_rows, bench_dims,
                                      dataset_name=dataset_name, n_reps=n_reps)
    out = []
    for algo in algos:
        out.extend(runner.run(spark, algo, verbose=verbose))
    return out
