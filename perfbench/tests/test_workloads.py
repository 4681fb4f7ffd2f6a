import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from workloads import BATCH, TABLES, WORKLOADS, per_layer_units, plan

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"


@pytest.fixture(scope="module")
def ref():
    from serve import Reference

    return Reference(DATA)


def test_benchmark_json_names_the_workloads_and_command():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert spec["end_to_end"][0]["name"] == "setup_s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert len(per_layer_units()) <= 128


def test_seed_changes_the_serve_stream_only(ref):
    for wl in BATCH:
        assert plan(wl, 1) == plan(wl, 2) == plan(wl, 1, ref)
    a, b = plan("serve_lookups", 1, ref), plan("serve_lookups", 2, ref)
    assert a == plan("serve_lookups", 1, ref)
    assert a != b
    assert [k for k, _ in a] == ["warmup", "timed", "timed"]
    assert [[r["type"] for r in p] for _, p in a] == [
        [r["type"] for r in p] for _, p in b]


def test_batch_oracle_answers_do_not_depend_on_the_seed(tmp_path):
    """The batch expected answers are a function of the oracle SQL and
    the input files only: the cache key has no seed in it."""
    from checks import OracleCache

    oracles = {"n": "SELECT count(*) AS n FROM lineitem"}
    a = OracleCache(tmp_path / "o.json", DATA, TABLES).expected(oracles, ["n"])
    b = OracleCache(tmp_path / "o.json", DATA, TABLES).expected(oracles, ["n"])
    assert a == b and a["n"]["rows"] == 1


def _oracle_rows(name):
    import duckdb

    from cuml_spark.harness import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
    return [tuple(r) for r in con.sql(ORACLES[name]).fetchall()]


def test_knn_reference_matches_the_repository_oracle(ref):
    import serve

    want = ref.answer({"type": "neighbors.kneighbors", "ids": list(range(10))})
    assert serve.mismatch(want, _oracle_rows("knn_embeddings")) is None


def test_ivf_reference_matches_the_repository_oracle(ref):
    import serve

    want = ref.answer({"type": "similarity.ivf.search",
                       "ids": list(range(20))})
    assert serve.mismatch(want, _oracle_rows("ivf_search_exact")) is None


def test_bm25_reference_matches_the_repository_oracle(ref):
    import serve

    queries = [(0, "spark join window"), (1, "hash table scan"),
               (2, "customer query fast"), (3, "stream batch merge vector")]
    got = ref.answer({"type": "text.retrieval.bm25_topk", "queries": queries})
    assert serve.mismatch(got, _oracle_rows("bm25_topk")) is None


def test_serve_mismatch_flags_one_changed_cell(ref):
    import serve

    want = ref.answer({"type": "fil.predict", "range": (1, 40)})
    assert want and serve.mismatch(want, list(want)) is None
    bad = list(want)
    k, n, score = bad[0]
    bad[0] = (k, n, score + 1e-5)
    assert serve.mismatch(want, bad) is not None
    assert serve.mismatch(want, bad[1:]) is not None


def test_run_refuses_a_directory_without_the_program(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, the benchmark
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
