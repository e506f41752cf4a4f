"""k-NN operator semantics, mirroring the reference's e2e scenarios
(test/filter_upsert/test.sh): filtered eq/ne and unfiltered searches.
Here with a tiny inline corpus of 1-dim vectors matching the
reference fixtures (ids 1-4,6; vectors .1-.4,.9; int_field 1-4,47)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_vector_spark.operators import knn as K

REF_ROWS = [
    (1, [0.1], 1),
    (2, [0.2], 2),
    (3, [0.3], 3),
    (4, [0.4], 4),
    (6, [0.9], 47),
]


@pytest.fixture(scope="module")
def ref_corpus(spark):
    return spark.createDataFrame(
        REF_ROWS, "vec_id long, embedding array<float>, label int"
    )


@pytest.fixture(scope="module")
def ref_query():
    # the reference's search_normal.json queries [0] with k=5
    return [0.0]


def test_search_equal(ref_corpus, ref_query):
    """filter int_field = 47 -> only id 6 (search_equal.json scenario)."""
    out = K.knn_topk(
        ref_corpus, ref_query, 5, "sqL2", pred=K.eq_filter("label", 47)
    ).collect()
    assert [r.vec_id for r in out] == [6]


def test_search_unequal(ref_corpus, ref_query):
    """filter int_field != 47 -> ids 1-4, never 6 (search_unequal.json)."""
    out = K.knn_topk(
        ref_corpus, ref_query, 5, "sqL2", pred=K.ne_filter("label", 47)
    ).collect()
    assert [r.vec_id for r in out] == [1, 2, 3, 4]


def test_ne_excludes_null_field(spark, ref_query):
    """O7 fidelity: a record whose filter field is absent (NULL) matches
    neither = nor != (src/filter_index.cc:70-79)."""
    corpus = spark.createDataFrame(
        [(1, [0.1], 1), (2, [0.2], None)],
        "vec_id long, embedding array<float>, label int",
    )
    ne = K.knn_topk(corpus, ref_query, 5, "sqL2", pred=K.ne_filter("label", 1))
    eq = K.knn_topk(corpus, ref_query, 5, "sqL2", pred=K.eq_filter("label", 1))
    assert [r.vec_id for r in ne.collect()] == []
    assert [r.vec_id for r in eq.collect()] == [1]


def test_search_normal_ascending_distance(ref_corpus, ref_query):
    """no filter: all ids by ascending squared L2 from [0]."""
    out = K.knn_topk(ref_corpus, ref_query, 5, "sqL2").collect()
    assert [r.vec_id for r in out] == [1, 2, 3, 4, 6]
    dists = [r.dist for r in out]
    assert dists == sorted(dists)
    assert dists[0] == pytest.approx(0.01, abs=1e-6)  # squared, not plain L2


def test_ip_orders_descending(ref_corpus):
    out = K.knn_topk(ref_corpus, [1.0], 5, "ip").collect()
    assert [r.vec_id for r in out] == [6, 4, 3, 2, 1]  # larger IP first
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_batch_join_topk(spark, sf_dir):
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = K.knn_join(emb, emb.filter(F.col("vec_id") < 3), 4, "sqL2")
    rows = out.collect()
    assert len(rows) == 12  # 3 queries x k=4
    # self-match is always rank 1 at distance 0
    self_hits = [r for r in rows if r.query_id == r.vec_id]
    assert all(r.rnk == 1 and r.dist == 0.0 for r in self_hits)
    assert len(self_hits) == 3


def test_knn_join_is_broadcast_no_corpus_shuffle(spark, sf_dir):
    """The query side must broadcast; the corpus must not shuffle before
    scoring (100-TB posture)."""
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = K.knn_join(emb, emb.filter(F.col("vec_id") < 3), 4, "sqL2")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_single_knn_take_ordered(spark, sf_dir):
    """Single-query top-k should compile to TakeOrderedAndProject
    (per-partition heaps), not a global sort."""
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head().embedding
    out = K.knn_topk(emb, qvec, 10, "sqL2")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_radius_search_inclusive_boundary(ref_corpus, ref_query):
    # squared L2 from 0: .01 .04 .09 .16 .81 — radius .09 keeps ids 1-3,
    # including the exact-boundary id 3 (<=, FAISS range_search convention).
    got = {r.vec_id: r.dist for r in
           K.radius_search(ref_corpus, ref_query, 0.09, "sqL2").collect()}
    assert got == {1: 0.01, 2: 0.04, 3: 0.09}


def test_radius_search_empty_and_filtered(ref_corpus, ref_query):
    assert K.radius_search(ref_corpus, ref_query, 0.001, "sqL2").count() == 0
    got = [r.vec_id for r in
           K.radius_search(ref_corpus, ref_query, 0.09, "sqL2",
                           pred=K.ne_filter("label", 1)).collect()]
    assert sorted(got) == [2, 3]


def test_radius_search_similarity_metric_keeps_geq(ref_corpus, ref_query):
    # cosine vs [0] is undefined (zero query) — use IP vs a unit query.
    got = sorted(r.vec_id for r in
                 K.radius_search(ref_corpus, [1.0], 0.3, "ip").collect())
    assert got == [3, 4, 6]  # ip >= 0.3


def test_allpairs_threshold_count_matches_expression_forms(spark, sf_dir):
    """The blocked tile count kernel must agree exactly with the
    expression forms it replaced (broadcast-NLJ + HOF), in both
    metric modes, including the strict-< (euclid) vs >= (cosine)
    conventions and the round-6-before-compare contract."""
    from pyspark.sql import functions as F

    from simple_vector_spark.functions.vector import (
        as_double_array,
        dot_product,
        l2_norm,
        squared_l2,
    )
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("ia"),
                   as_double_array("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"),
                   as_double_array("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib"))

    for thr in (0.8, 1.2, 2.0):
        expr_n = (
            pairs.select(
                F.expr(f"ROUND(SQRT({squared_l2('va', 'vb')}), 6) AS e")
            )
            .filter(F.col("e") < thr)
            .count()
        )
        got = K.allpairs_threshold_count_arrow(emb, thr).head()
        assert got["n_true_pairs"] == expr_n, ("euclid", thr)

    an = a.withColumn("na", F.expr(l2_norm("va")))
    bn = b.withColumn("nb", F.expr(l2_norm("vb")))
    cpairs = an.join(F.broadcast(bn), F.col("ia") < F.col("ib"))
    for thr in (0.95, 0.99):
        expr_n = (
            cpairs.select(
                F.expr(f"ROUND({dot_product('va', 'vb')} / (na * nb), 6) AS s")
            )
            .filter(F.col("s") >= thr)
            .count()
        )
        got = K.allpairs_threshold_count_arrow(
            emb, thr, metric="cosine"
        ).head()
        assert got["n_true_pairs"] == expr_n, ("cosine", thr)


def test_allpairs_cosine_pairs_matches_expression_form(spark, sf_dir):
    """The PAIR-EMITTING tile kernel (dedup_embedding_cosine's engine
    path) must return the exact (ia, ib, sim) set of the broadcast-NLJ
    expression form it replaced — the count-kernel parity test alone
    leaves the emit path uncovered (ADVICE r04 item 1)."""
    from simple_vector_spark.operators import dedup as D
    from simple_vector_spark.sources.loaders import load_table

    # sf0.001's 500 embeddings have no cosine-0.9 pairs, so PLANT two
    # near-identical vectors (fresh ids) to force the emit path.
    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = [1.0] + [0.0] * 63
    w = [0.999] + [0.001] * 63
    planted = spark.createDataFrame(
        [(10_001, v), (10_002, w)], "vec_id long, embedding array<float>"
    )
    emb = base.unionByName(planted)
    any_pairs = False
    for thr in (0.9, 0.95):
        want = {
            (r["ia"], r["ib"], r["sim"])
            for r in D.embedding_cosine_pairs(emb, thr).collect()
        }
        got = {
            (r["ia"], r["ib"], r["sim"])
            for r in K.allpairs_cosine_pairs_arrow(emb, thr).collect()
        }
        assert got == want, thr
        any_pairs = any_pairs or bool(want)
    assert any_pairs, "planted near-dup pair must surface"


def test_allpairs_kernels_handle_negative_ids(spark):
    """Block assignment is pmod(vec_id, nb), not sign-preserving % —
    a negative id must land in a real block, not be silently dropped
    (ADVICE r04 item 2).  Two identical vectors with ids -5 and 3 are
    one cosine pair at any threshold <= 1."""
    emb = spark.createDataFrame(
        [(-5, [1.0, 0.0]), (3, [1.0, 0.0]), (7, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = K.allpairs_cosine_pairs_arrow(emb, 0.99).collect()
    assert [(r["ia"], r["ib"], r["sim"]) for r in got] == [(-5, 3, 1.0)]
    n = K.allpairs_threshold_count_arrow(emb, 0.99, metric="cosine").head()
    assert n["n_true_pairs"] == 1
