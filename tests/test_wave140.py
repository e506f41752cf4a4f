"""Wave-140 operators: multi-probe LSH."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_vector_spark.functions.vector import as_double_array, double_array, squared_l2
from simple_vector_spark.operators import ann as A
from simple_vector_spark.sources.loaders import load_table


def _exact_topk(spark, emb, qid, k):
    qv = emb.filter(F.col("vec_id") == qid).select(
        as_double_array("embedding").alias("q")
    )
    return {
        r.vec_id
        for r in emb.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.expr(f"ROUND({squared_l2(double_array('embedding'), 'q')}, 6) AS d"),
        )
        .orderBy("d", "vec_id")
        .limit(k)
        .collect()
    }


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    planes = A.fit_vectors(emb, A.PLANE_IDS)
    q = A.fit_vectors(emb, [9])[0][1]
    exact = _exact_topk(spark, emb, 9, 10)
    single = {r.vec_id for r in A.rp_lsh_search(emb, q, planes, 10).collect()}
    multi = {r.vec_id for r in A.rp_multiprobe_search(emb, q, planes, 10).collect()}
    r_single = len(single & exact)
    r_multi = len(multi & exact)
    # probing the Hamming-1 buckets can only add candidates
    assert r_multi >= r_single
    assert len(multi) == 10


def test_multiprobe_includes_query_itself(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    planes = A.fit_vectors(emb, A.PLANE_IDS)
    q = A.fit_vectors(emb, [9])[0][1]
    rows = A.rp_multiprobe_search(emb, q, planes, 10).collect()
    assert rows[0].vec_id == 9 and rows[0].dist == 0.0
