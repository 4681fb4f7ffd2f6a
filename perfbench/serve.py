"""serve_lookups: models fitted once per Spark application, then a seeded
request stream served in a closed loop by one client.

Each request calls one library entry point and collects its answer.  The
answers are checked against a NumPy reference computed from the same
parquet files, using the oracles' conventions: 6-decimal HALF_UP rounding
(Spark's ``round``) and ties broken by the smaller id.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# request type -> the library entry point it exercises (also the span and
# per-layer metric prefix)
REQUEST_TYPES = (
    "neighbors.kneighbors",
    "similarity.ivf.search",
    "text.retrieval.bm25_topk",
    "fil.predict",
    "cluster.kmeans.predict",
)
ROUNDS = 3                 # passes per run (the first a warm-up); a pass
                           # is one request per type
N_QUERY_VECS = 16          # query vectors per kneighbors / ivf request
K_NEIGHBORS = 5
IVF_NLIST = 4              # nprobe = nlist: the IVF search is exact
N_BM25_QUERIES = 4
BM25_TERMS = 3
BM25_K = 10
FIL_ORDERKEYS = 64         # width of the orderkey slice one request scores
KM_CUSTKEYS = 64           # width of the custkey range one request assigns
KM_COLS = ["c_acctbal", "c_nationkey"]
KM_CLUSTERS = 4            # at 8, KMeans.predict overflows the 64 KB codegen
                           # limit and runs interpreted (see README.md)
FIL_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
# (low, high) of each FIL feature, for drawing split thresholds
_FIL_RANGES = ((1.0, 50.0), (1000.0, 90000.0), (0.0, 0.1), (0.0, 0.08))
TOL = 1.01e-6              # one unit in the 6th decimal, plus fp slack


def round6(x: float) -> float:
    """Spark's ``round(x, 6)``: HALF_UP on the exact binary value."""
    return float(Decimal(float(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def make_forest(n_trees: int = 32, depth: int = 5, seed: int = 11) -> list[dict]:
    """A fixed random forest in the ``load_from_arrays`` layout: complete
    trees, split ``x < threshold`` goes left.  2016 nodes, above the
    engine's codegen cap, so scoring takes the broadcast Arrow path."""
    rng = np.random.default_rng(seed)
    n_inner = 2 ** depth - 1
    trees = []
    for _ in range(n_trees):
        n = 2 ** (depth + 1) - 1
        t = {"feature": [-1] * n, "threshold": [0.0] * n, "left": [-1] * n,
             "right": [-1] * n, "value": [0.0] * n}
        for i in range(n):
            if i < n_inner:
                f = int(rng.integers(len(_FIL_RANGES)))
                t["feature"][i] = f
                t["threshold"][i] = float(rng.uniform(*_FIL_RANGES[f]))
                t["left"][i], t["right"][i] = 2 * i + 1, 2 * i + 2
            else:
                t["value"][i] = float(rng.normal(0.0, 0.1))
        trees.append(t)
    return trees


# -- the request stream --------------------------------------------------------

def make_stream(seed: int, ref: "Reference") -> list[list[dict]]:
    """The request stream, as ROUNDS passes of one request per type in a
    fixed type order; each request's parameters (query vectors, query
    terms, key ranges) are drawn from ``seed``.  The type order is fixed
    so that the seed never moves which type runs first in a pass."""
    rng = np.random.default_rng(seed)
    rounds = []
    for _ in range(ROUNDS):
        out = []
        for kind in REQUEST_TYPES:
            req: dict = {"type": kind}
            if kind in ("neighbors.kneighbors", "similarity.ivf.search"):
                ids = rng.choice(ref.vec_ids, N_QUERY_VECS, replace=False)
                req["ids"] = sorted(int(v) for v in ids)
            elif kind == "text.retrieval.bm25_topk":
                req["queries"] = [
                    (q, " ".join(str(w) for w in rng.choice(
                        ref.vocab, BM25_TERMS, replace=False)))
                    for q in range(N_BM25_QUERIES)]
            elif kind == "fil.predict":
                lo = int(rng.integers(ref.orderkey_lo,
                                      ref.orderkey_hi - FIL_ORDERKEYS))
                req["range"] = (lo, lo + FIL_ORDERKEYS)
            else:
                lo = int(rng.integers(ref.custkey_lo,
                                      ref.custkey_hi - KM_CUSTKEYS))
                req["range"] = (lo, lo + KM_CUSTKEYS)
            out.append(req)
        rounds.append(out)
    return rounds


# -- Spark side --------------------------------------------------------------

class Models:
    """The fitted state every request reads: built once per application."""

    def __init__(self, spark, data_dir: str, tracer):
        from cuml_spark.cluster import KMeans
        from cuml_spark.core.session import read_table
        from cuml_spark.fil import ForestInference
        from cuml_spark.neighbors import NearestNeighbors
        from cuml_spark.similarity.ivf import IVFIndex

        self.spark = spark
        self.emb = read_table(spark, f"{data_dir}/embeddings.parquet")
        self.docs = read_table(spark, f"{data_dir}/documents.parquet")
        self.lineitem = read_table(spark, f"{data_dir}/lineitem.parquet")
        self.customer = read_table(spark, f"{data_dir}/customer.parquet")
        self.fit_s: dict[str, float] = {}
        with tracer.span("similarity.ivf.fit") as s:
            self.ivf = IVFIndex(nlist=IVF_NLIST, nprobe=IVF_NLIST,
                                seed=2).fit(self.emb)
        self.fit_s["similarity.ivf.fit_s"] = s.duration
        with tracer.span("cluster.kmeans.fit") as s:
            self.kmeans = KMeans(n_clusters=KM_CLUSTERS, max_iter=5,
                                 random_state=1).fit(self.customer, KM_COLS)
        self.fit_s["cluster.kmeans.fit_s"] = s.duration
        self.nn = NearestNeighbors(n_neighbors=K_NEIGHBORS).fit(self.emb)
        self.fil = ForestInference.load_from_arrays(make_forest(),
                                                    output="sigmoid")

    def frame(self, req: dict):
        """The lazy answer frame of one request: the library call."""
        from pyspark.sql import functions as F

        kind = req["type"]
        if kind in ("neighbors.kneighbors", "similarity.ivf.search"):
            q = self.emb.filter(F.col("vec_id").isin(req["ids"]))
            if kind == "neighbors.kneighbors":
                out = self.nn.kneighbors(q)
                return out.select("query_id", "neighbor_id",
                                  F.round("distance", 6).alias("d"), "rank")
            out = self.ivf.search(q, k=K_NEIGHBORS, metric="cosine")
            return out.select("query_id", "neighbor_id",
                              F.round("score", 6).alias("d"), "rank")
        if kind == "text.retrieval.bm25_topk":
            from cuml_spark.text.retrieval import bm25_topk

            qs = self.spark.createDataFrame(req["queries"],
                                            "query_id long, text string")
            out = bm25_topk(self.docs, qs, k=BM25_K, score_decimals=6)
            return out.select("query_id", "doc_id", "score",
                              "n_terms_matched", "rank")
        lo, hi = req["range"]
        if kind == "fil.predict":
            li = self.lineitem.filter(
                (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
            out = self.fil.predict(li.select("l_orderkey", "l_linenumber",
                                             *FIL_COLS),
                                   FIL_COLS, out_col="score")
            return out.select("l_orderkey", "l_linenumber",
                              F.round("score", 6).alias("score"))
        cust = self.customer.filter(
            (F.col("c_custkey") >= lo) & (F.col("c_custkey") < hi))
        return self.kmeans.predict(cust, KM_COLS).select("c_custkey", "label")


# -- reference ----------------------------------------------------------------

class Reference:
    """NumPy answers over the same parquet files."""

    def __init__(self, data_dir):
        import pyarrow.parquet as pq

        def load(name, cols):
            return pq.read_table(f"{data_dir}/{name}.parquet",
                                 columns=cols).to_pandas()

        emb = load("embeddings", ["vec_id", "embedding"])
        self.vec_ids = emb["vec_id"].to_numpy()
        self.E = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
        docs = load("documents", ["doc_id", "text"])
        self.doc_ids = docs["doc_id"].to_numpy()
        self.doc_toks = [[t for t in s.split(" ") if t] for s in docs["text"]]
        self.tf: list[dict[str, int]] = []
        self.df: dict[str, int] = {}
        for toks in self.doc_toks:
            tf: dict[str, int] = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            self.tf.append(tf)
            for t in tf:
                self.df[t] = self.df.get(t, 0) + 1
        self.vocab = np.array(sorted(self.df))
        self.avgdl = sum(len(t) for t in self.doc_toks) / len(self.doc_toks)
        self.lineitem = load("lineitem",
                             ["l_orderkey", "l_linenumber", *FIL_COLS])
        self.orderkey_lo = int(self.lineitem["l_orderkey"].min())
        self.orderkey_hi = int(self.lineitem["l_orderkey"].max()) + 1
        self.customer = load("customer", ["c_custkey", *KM_COLS])
        self.custkey_lo = int(self.customer["c_custkey"].min())
        self.custkey_hi = int(self.customer["c_custkey"].max()) + 1
        self.forest = make_forest()

    def _topk(self, ids, scores_of, descending):
        out = []
        for q in ids:
            s = scores_of(q)
            keep = self.vec_ids != q
            nid, sc = self.vec_ids[keep], s[keep]
            order = np.lexsort((nid, -sc if descending else sc))[:K_NEIGHBORS]
            out += [(int(q), int(nid[j]), round6(sc[j]), r + 1)
                    for r, j in enumerate(order)]
        return out

    def answer(self, req: dict, centers=None) -> list[tuple]:
        kind = req["type"]
        pos = {int(v): i for i, v in enumerate(self.vec_ids)}
        if kind == "neighbors.kneighbors":
            return self._topk(req["ids"], lambda q: (
                (self.E - self.E[pos[q]]) ** 2).sum(1), descending=False)
        if kind == "similarity.ivf.search":
            norms = np.sqrt((self.E * self.E).sum(1))
            return self._topk(req["ids"], lambda q: (
                self.E @ self.E[pos[q]]) / (norms * norms[pos[q]]),
                descending=True)
        if kind == "text.retrieval.bm25_topk":
            return self._bm25(req["queries"])
        lo, hi = req["range"]
        if kind == "fil.predict":
            li = self.lineitem[(self.lineitem["l_orderkey"] >= lo)
                               & (self.lineitem["l_orderkey"] < hi)]
            X = li[FIL_COLS].to_numpy(dtype=np.float64)
            return [(int(k), int(n), round6(self._forest(x)))
                    for k, n, x in zip(li["l_orderkey"], li["l_linenumber"], X)]
        cust = self.customer[(self.customer["c_custkey"] >= lo)
                             & (self.customer["c_custkey"] < hi)]
        X = cust[KM_COLS].to_numpy(dtype=np.float64)
        d = np.zeros((len(X), len(centers)))
        for j, c in enumerate(centers):
            for f in range(len(KM_COLS)):
                d[:, j] += (X[:, f] - c[f]) ** 2
        return [(int(k), int(a)) for k, a in zip(cust["c_custkey"],
                                                  d.argmin(1))]

    def _forest(self, x) -> float:
        raw = 0.0
        for t in self.forest:
            i = 0
            while t["feature"][i] >= 0:
                go_left = x[t["feature"][i]] < t["threshold"][i]
                i = t["left"][i] if go_left else t["right"][i]
            raw += t["value"][i]
        return 1.0 / (1.0 + np.exp(-raw))

    def _bm25(self, queries) -> list[tuple]:
        n = len(self.doc_toks)
        out = []
        for qid, text in queries:
            terms = sorted({t for t in text.split(" ") if t})
            scored = []
            for d, tf in enumerate(self.tf):
                hit = [t for t in terms if t in tf]
                if not hit:
                    continue
                dl = len(self.doc_toks[d])
                s = 0.0
                for t in hit:
                    df = self.df[t]
                    s += (np.log((n - df + 0.5) / (df + 0.5) + 1.0)
                          * (tf[t] * 2.2)
                          / (tf[t] + 1.2 * (0.25 + 0.75 * dl / self.avgdl)))
                scored.append((-round6(s), int(self.doc_ids[d]), len(hit)))
            scored.sort()
            out += [(qid, doc, -neg, m, r + 1)
                    for r, (neg, doc, m) in enumerate(scored[:BM25_K])]
        return out


def mismatch(expected: list[tuple], rows: list[tuple]) -> str | None:
    """Compare a request's rows with the reference: the same rows in key
    order, float cells within TOL, every other cell equal."""
    got = sorted(tuple(r) for r in rows)
    want = sorted(expected)
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            bad = (abs(a - b) > TOL if isinstance(b, float) else a != b)
            if bad:
                return f"row {g} != {w}"
    return None
