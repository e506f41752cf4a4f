"""Tests for the two-stage wave: IVF-PQ rerank and blocked embedding
dedup.  Oracle parity is covered by the gate; here we pin the
structural guarantees that make the approximations sound."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import dedup as D
from simple_vector_spark.registry import ANN_K, ANN_QUERY_ID, COSINE_DUP_THRESHOLD, IVF_NPROBE
from simple_vector_spark.sources.loaders import load_table


def test_ivfpq_equals_ivf_when_shortlist_covers_cells(spark, sf_dir):
    """With a shortlist as large as the probed cells, the ADC stage
    cannot drop a true neighbor, so IVF-PQ == plain IVF exact rerank."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    cbs = A.pq_codebooks(cents)
    q = A.fit_vectors(emb, [ANN_QUERY_ID])[0][1]
    big = emb.count()
    ivfpq = A.ivfpq_rerank_search(emb, q, cents, cbs, ANN_K, IVF_NPROBE, shortlist=big)
    ivf = A.ivf_search(emb, q, cents, ANN_K, IVF_NPROBE)
    assert [(r["vec_id"], r["dist"]) for r in ivfpq.collect()] == [
        (r["vec_id"], r["dist"]) for r in ivf.collect()
    ]


def test_ivfpq_shortlist_is_subset_of_probed_cells(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    cbs = A.pq_codebooks(cents)
    q = A.fit_vectors(emb, [ANN_QUERY_ID])[0][1]
    hits = A.ivfpq_rerank_search(emb, q, cents, cbs, ANN_K, IVF_NPROBE, 50).collect()
    assert 0 < len(hits) <= ANN_K
    probed_ids = {
        r["vec_id"] for r in A.ivf_search(emb, q, cents, emb.count(), IVF_NPROBE).collect()
    }
    assert {r["vec_id"] for r in hits} <= probed_ids
    dists = [r["dist"] for r in hits]
    assert dists == sorted(dists)


def test_blocked_pairs_subset_of_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    brute = {
        (r["ia"], r["ib"]): r["sim"]
        for r in D.embedding_cosine_pairs(emb, COSINE_DUP_THRESHOLD).collect()
    }
    blocked = D.embedding_cosine_pairs_blocked(emb, cents, COSINE_DUP_THRESHOLD).collect()
    assert blocked, "same-cell near-dup pairs must exist"
    for r in blocked:
        assert brute[(r["ia"], r["ib"])] == r["sim"]


def test_blocked_join_shuffles_not_cross(spark, sf_dir):
    """The blocked join must plan as an equi-join on cell, not a
    nested-loop cross join — that's the whole point at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    plan = D.embedding_cosine_pairs_blocked(
        emb, cents, COSINE_DUP_THRESHOLD
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
