"""Single-query search takes its query as a vector: the vector enters
the plan as one ``array<double>`` literal (``functions.vector.
vector_literal``).  Pinned here: the literal round-trips exactly and
rejects a non-finite component by index; an absent query gives no rows
with the usual columns; every single-query operator equals a NumPy
brute force built from the ``functions.vector`` twins, on the sf0.001
fixture and on perfbench's; a warm build runs no Spark job; and no
operator but the batch join broadcasts a query relation."""

from __future__ import annotations

import ast
import pathlib
import struct
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_vector_spark.functions.vector import (
    cosine_similarity_np,
    dot_product_np,
    round6,
    squared_l2_np,
    vector_literal,
)
from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import knn as K
from simple_vector_spark.operators import pipeline as P
from simple_vector_spark.sources.loaders import load_table

ROOT = pathlib.Path(__file__).resolve().parent.parent
QID, k = 9, 10


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_literal_round_trips_exactly(spark, sf_dir):
    f32max = float(np.finfo(np.float32).max)
    row = load_table(spark, sf_dir, "embeddings").filter("vec_id = 0").head().embedding
    for vec in ([-0.0, 5e-324, 2.5e-310, f32max, -f32max], [float(x) for x in row]):
        got = spark.range(1).select(F.expr(vector_literal(vec)).alias("v")).head().v
        assert [_bits(x) for x in got] == [_bits(x) for x in vec]
    assert len(row) == 64


@pytest.mark.parametrize("bad, index", [
    ([0.5, float("nan")], "[1]"),
    ([float("inf"), 0.5], "[0]"),
    ([[0.0, 1.0], [2.0, float("-inf")]], "[1, 1]"),
])
def test_literal_rejects_non_finite_by_index(bad, index):
    with pytest.raises(ValueError, match=r"component \[" + index[1:-1] + r"\]"):
        vector_literal(bad)


# ---------------------------------------------------------------------
# Every converted operator against its NumPy brute force
# ---------------------------------------------------------------------


class Corpus:
    """A fixture's embeddings on the driver, with its seed codebooks."""

    def __init__(self, emb):
        rows = emb.select("vec_id", "label", "embedding").orderBy("vec_id").collect()
        self.emb = emb
        self.ids = np.array([r[0] for r in rows])
        self.labels = np.array([r[1] for r in rows])
        self.X = np.array([[float(x) for x in r[2]] for r in rows])
        self.q = [float(x) for x in self.X[list(self.ids).index(QID)]]
        self.planes = A.fit_vectors(emb, A.PLANE_IDS)
        self.cents = A.fit_vectors(emb, A.CENTROID_IDS)

    def dist(self, X=None, q=None):
        X = self.X if X is None else X
        return round6(squared_l2_np(X, np.asarray(self.q if q is None else q)))

    def cells(self):
        C = np.array([cv for _, cv in self.cents])
        pick = round6(squared_l2_np(self.X[:, None], C[None])).argmin(axis=1)
        return np.array([self.cents[j][0] for j in pick])

    def probe(self, n):
        d = round6(squared_l2_np(np.array([cv for _, cv in self.cents]), np.asarray(self.q)))
        return [cid for _, cid in sorted(zip(d.tolist(), (c for c, _ in self.cents)))][:n]

    def buckets(self, X):
        P_ = np.array([pv for _, pv in self.planes])
        dots = dot_product_np(np.asarray(X)[..., None, :], P_)
        return (dots > 0).astype(np.int64) @ (2 ** np.arange(len(self.planes)))


def _top(ids, scores, n, asc=True):
    order = np.lexsort((ids, scores if asc else -scores))[:n]
    return [(int(ids[i]), float(scores[i])) for i in order]


def _masked_top(c: Corpus, mask, n):
    return _top(c.ids[mask], c.dist()[mask], n)


def _pairs(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


@pytest.fixture(scope="module", params=["sf0.001", "perfbench"])
def corpus(request, spark, sf_dir):
    d = sf_dir if request.param == "sf0.001" else str(ROOT / "perfbench" / "fixture")
    return Corpus(load_table(spark, d, "embeddings"))


def test_exact_scorers_match_numpy(corpus):
    c = corpus
    X, q = c.X, np.asarray(c.q)
    for metric, scores, asc in (
        ("sqL2", c.dist(), True),
        ("ip", round6(dot_product_np(X, q)), False),
        ("cosine", round6(cosine_similarity_np(X, q)), False),
    ):
        name = "dist" if asc else "sim"
        got = _pairs(K.knn_topk(c.emb, c.q, k, metric), "vec_id", name)
        assert got == _top(c.ids, scores, k, asc), metric
    assert _pairs(K.knn_shard_topk(c.emb, c.q, k), "vec_id", "dist") == _top(c.ids, c.dist(), k)
    pred = K.eq_filter("label", 7)
    assert _pairs(K.knn_topk(c.emb, c.q, k, pred=pred), "vec_id", "dist") == _masked_top(
        c, c.labels == 7, k
    )
    radius = sorted(c.dist())[12]
    got = sorted(_pairs(K.radius_search(c.emb, c.q, radius), "vec_id", "dist"))
    assert got == sorted((int(i), float(d)) for i, d in zip(c.ids, c.dist()) if d <= radius)


def test_label_maxsim_matches_numpy(corpus):
    c = corpus
    sims = round6(cosine_similarity_np(c.X, np.asarray(c.q)))
    per = sorted(
        (-sims[c.labels == lb].max(), int(lb), int((c.labels == lb).sum()))
        for lb in set(c.labels.tolist())
    )[:5]
    got = _pairs(K.label_maxsim_topk(c.emb, c.q, 5), "label", "n_vecs", "max_sim")
    assert got == [(lb, n, -m) for m, lb, n in per]


def test_lsh_searches_match_numpy(corpus):
    c = corpus
    b, qb = c.buckets(c.X), int(c.buckets(np.asarray(c.q)))
    assert A.query_bucket(c.q, c.planes) == qb
    got = _pairs(A.rp_lsh_search(c.emb, c.q, c.planes, k), "vec_id", "dist")
    assert got == _masked_top(c, b == qb, k)
    flips = [qb] + [qb ^ 2**i for i in range(len(c.planes))]
    got = _pairs(A.rp_multiprobe_search(c.emb, c.q, c.planes, k), "vec_id", "dist")
    assert got == _masked_top(c, np.isin(b, flips), k)


def test_ivf_searches_match_numpy(corpus, tmp_path):
    c = corpus
    cells, probe = c.cells(), c.probe(3)
    assert A.nearest_cells(c.q, c.cents, 3) == probe
    want = _masked_top(c, np.isin(cells, probe), k)
    assert _pairs(A.ivf_search(c.emb, c.q, c.cents, k, 3), "vec_id", "dist") == want
    index = A.build_ivf_index(c.emb, c.cents, str(tmp_path / "ivf"))
    got = A.ivf_probe_partitioned(index, c.q, c.cents, k, 3)
    assert _pairs(got, "vec_id", "dist") == want
    dense = A.adaptive_filtered_search(c.emb, c.q, c.cents, k, 7, -1, 3)
    assert _pairs(dense, "vec_id", "dist") == _masked_top(
        c, np.isin(cells, probe) & (c.labels == 7), k
    )
    sparse = A.adaptive_filtered_search(c.emb, c.q, c.cents, k, 7, len(c.ids), 3)
    assert _pairs(sparse, "vec_id", "dist") == _masked_top(c, c.labels == 7, k)
    exact = {i for i, _ in _top(c.ids, c.dist(), k)}
    curve = _pairs(A.ivf_recall_curve(c.emb, c.q, c.cents, k, (1, 2, 3)), "nprobe", "n_hit")
    assert sorted(curve) == [
        (n, len(exact & {i for i, _ in _masked_top(c, np.isin(cells, c.probe(n)), k)}))
        for n in (1, 2, 3)
    ]


def _adc_numpy(c: Corpus, cbs, mask):
    """(id, adc_dist) of the rows in ``mask``: per subspace the first
    nearest codeword (1-based), and the DECIMAL sum of the query's
    Python-rounded distances to those codewords."""
    dsub = len(cbs[0][0][1])
    total = [Decimal(0)] * int(mask.sum())
    for s, cb in enumerate(cbs):
        W = np.array([cw for _, cw in cb])
        sub = c.X[mask][:, s * dsub:(s + 1) * dsub]
        code = round6(squared_l2_np(sub[:, None], W[None])).argmin(axis=1)
        qd = squared_l2_np(W, np.asarray(c.q[s * dsub:(s + 1) * dsub]))
        total = [t + Decimal(repr(round(float(qd[j]), 6))) for t, j in zip(total, code)]
    return c.ids[mask], np.array([float(t) for t in total])


def test_pq_searches_match_numpy(corpus):
    c = corpus
    cbs = A.pq_codebooks(c.cents)
    ids, adc = _adc_numpy(c, cbs, np.ones(len(c.ids), bool))
    got = _pairs(A.pq_adc_search(c.emb, c.q, cbs, k), "vec_id", "adc_dist")
    assert got == _top(ids, adc, k)
    probed = np.isin(c.cells(), c.probe(3))
    ids, adc = _adc_numpy(c, cbs, probed)
    short = {i for i, _ in _top(ids, adc, 50)}
    want = _masked_top(c, np.isin(c.ids, list(short)), k)
    got = A.ivfpq_rerank_search(c.emb, c.q, c.cents, cbs, k, 3, 50)
    assert _pairs(got, "vec_id", "dist") == want


def test_matryoshka_and_hamming_match_numpy(corpus):
    c = corpus
    exact = {i for i, _ in _top(c.ids, c.dist(), k)}
    pre = c.dist(c.X[:, :16], c.q[:16])
    top = {i for i, _ in _top(c.ids, pre, k)}
    short = {i for i, _ in _top(c.ids, pre, 3 * k)}
    rerank = {i for i, _ in _masked_top(c, np.isin(c.ids, list(short)), k)}
    got = dict(_pairs(A.matryoshka_recall(c.emb, c.q, k), "mode", "n_hit"))
    assert got == {"prefix_topk": len(top & exact), "prefix_rerank": len(rerank & exact)}

    pos = c.X > 0
    ham = (pos != (np.asarray(c.q) > 0)).sum(axis=1)
    order = np.lexsort((c.ids, ham))[: A.HAMMING_SHORTLIST]
    want = _top(c.ids[order], c.dist()[order], k)
    got = _pairs(A.binary_hamming_search(c.emb, c.q, k), "vec_id", "dist")
    assert got == want
    assert A.sign_pack_np(c.q) == tuple(
        int(sum(1 << d for d in range(32) if pos_q[d])) for pos_q in
        ((np.asarray(c.q) > 0)[:32], (np.asarray(c.q) > 0)[32:])
    )


def test_hybrid_rrf_vector_half_matches_numpy(corpus, spark, sf_dir):
    """With a term no document has, the fused list is the vector list
    alone: rrf = ROUND(1 / (60 + rank), 6) over the exact top-20."""
    docs = load_table(spark, sf_dir, "documents")
    got = _pairs(P.hybrid_rrf(docs, corpus.emb, corpus.q, ["qqqqzzzz"]), "id", "rrf")
    want = _top(corpus.ids, corpus.dist(), 20)
    assert got == [(i, round(1.0 / (60 + r), 6)) for r, (i, _) in enumerate(want, 1)]


# ---------------------------------------------------------------------
# No query: no rows, same columns
# ---------------------------------------------------------------------

_OPERATORS = {
    "knn_topk": lambda c, q: K.knn_topk(c.emb, q, k),
    "knn_shard_topk": lambda c, q: K.knn_shard_topk(c.emb, q, k),
    "radius_search": lambda c, q: K.radius_search(c.emb, q, 1.0),
    "label_maxsim_topk": lambda c, q: K.label_maxsim_topk(c.emb, q),
    "rp_lsh_search": lambda c, q: A.rp_lsh_search(c.emb, q, c.planes, k),
    "rp_multiprobe_search": lambda c, q: A.rp_multiprobe_search(c.emb, q, c.planes, k),
    "ivf_search": lambda c, q: A.ivf_search(c.emb, q, c.cents, k),
    "ivf_recall_curve": lambda c, q: A.ivf_recall_curve(c.emb, q, c.cents, k),
    "adaptive_filtered_search": lambda c, q: A.adaptive_filtered_search(
        c.emb, q, c.cents, k, 7, -1
    ),
    "pq_adc_search": lambda c, q: A.pq_adc_search(c.emb, q, A.pq_codebooks(c.cents), k),
    "ivfpq_rerank_search": lambda c, q: A.ivfpq_rerank_search(
        c.emb, q, c.cents, A.pq_codebooks(c.cents), k
    ),
    "matryoshka_recall": lambda c, q: A.matryoshka_recall(c.emb, q, k),
    "binary_hamming_search": lambda c, q: A.binary_hamming_search(c.emb, q, k),
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_absent_query_gives_no_rows_same_columns(spark, sf_dir, name):
    from simple_vector_spark.registry import _query_vector

    assert _query_vector(spark, sf_dir, 10**9) is None
    c = Corpus(load_table(spark, sf_dir, "embeddings"))
    none, some = _OPERATORS[name](c, None), _OPERATORS[name](c, c.q)
    assert none.schema == some.schema
    if name in ("ivf_recall_curve", "matryoshka_recall"):
        # a recall report keeps one row per setting, with no hits
        assert {r.n_hit for r in none.collect()} == {0}
    else:
        assert none.count() == 0 and some.count() > 0


# ---------------------------------------------------------------------
# A warm build runs no Spark job; no single-query broadcast is left
# ---------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["knn_shard_topk", "ann_ivf_partitioned", "ann_pq_adc", "ann_binary_hamming"]
)
def test_warm_build_runs_no_spark_job(spark, sf_dir, name):
    from simple_vector_spark.registry import _QUERIES

    _QUERIES[name](spark, sf_dir)  # fills the session's store
    sc, group = spark.sparkContext, f"warm_build_{name}"
    sc.setJobGroup(group, group)
    try:
        _QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_single_query_plan_scores_in_the_scan_stage(spark, sf_dir):
    from simple_vector_spark.registry import _QUERIES

    for name in ("knn_exact_topk", "knn_filtered_eq", "knn_cosine_topk", "ann_ivf"):
        plan = _QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "Exchange" not in plan and "Join" not in plan, name
        assert plan.splitlines()[0].startswith("TakeOrderedAndProject"), name
    plan = _QUERIES["ann_ivf"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "__cell#" in plan and " IN (" in plan


def test_no_single_query_cross_join_of_a_query_relation():
    """``query_vec`` is the broadcast query relation a ``crossJoin``
    scores against: only the batch join (``knn_join``) may build one,
    directly as ``crossJoin(query_vec(...))`` or through a name."""
    hits = []
    for path in sorted((ROOT / "simple_vector_spark").rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or fn.name == "knn_join":
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and "query_vec" in (
                    getattr(node.func, "id", None), getattr(node.func, "attr", None)
                ):
                    hits.append(f"{path.relative_to(ROOT)}:{node.lineno} in {fn.name}")
    assert not hits, "single-query broadcast of a query relation: " + ", ".join(hits)
