"""Wave-34 operators on micro-fixtures: incremental LSH dedup,
Matryoshka prefix recall, salt advisor, incremental aggregate merge."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import dedup as D
from simple_vector_spark.operators import relational as R


def test_incremental_pairs_only_touch_batch(spark):
    # docs 7 and 17 are "new" (id % 10 == 7); 1 == 7 == 17 textually,
    # 2 == 12 textually (both old -> must NOT be reported).
    base = "alpha beta gamma delta epsilon zeta"
    other = "one two three four five six"
    docs = spark.createDataFrame(
        [(1, base), (7, base), (17, base), (2, other), (12, other)],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.incremental_minhash_pairs(docs).collect()}
    assert (1, 7) in pairs and (1, 17) in pairs and (7, 17) in pairs
    assert (2, 12) not in pairs  # old-old pair excluded
    assert all(a % 10 == 7 or b % 10 == 7 for a, b in pairs)


def test_incremental_pairs_subset_of_full(spark, sf_dir):
    from simple_vector_spark.registry import _docs_plus_spark

    docs = _docs_plus_spark(spark, sf_dir)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_candidate_pairs(docs).collect()
    }
    incr = {
        (r["doc_a"], r["doc_b"])
        for r in D.incremental_minhash_pairs(docs).collect()
    }
    assert incr == {p for p in full if p[0] % 10 == 7 or p[1] % 10 == 7}


def test_matryoshka_rerank_recovers_prefix_loss(spark):
    # 64-dim vectors whose prefix halves collide: full-dim top-k is
    # decided by the tail dims, so prefix_topk recall < 1 is possible
    # while prefix_rerank (shortlist 3k then full distance) recovers.
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(60):
        head = [rnd.uniform(-0.1, 0.1) for _ in range(16)]
        tail = [rnd.uniform(-1, 1) for _ in range(48)]
        rows.append((i, [float(x) for x in head + tail], i % 3))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        r["mode"]: r
        for r in A.matryoshka_recall(
            emb, A.fit_vectors(emb, [0])[0][1], 10
        ).collect()
    }
    assert set(out) == {"prefix_topk", "prefix_rerank"}
    assert out["prefix_rerank"]["recall"] >= out["prefix_topk"]["recall"]
    assert out["prefix_rerank"]["n_hit"] <= 10


def test_salt_advisor_uniform_and_skewed(spark):
    uni = spark.createDataFrame(
        [(k, i) for k in range(4) for i in range(5)], "o_custkey long, x long"
    )
    r = R.skew_salt_advisor(uni).collect()[0]
    assert (r["n_keys"], r["max_cnt"], r["n_rows"]) == (4, 5, 20)
    assert abs(r["skew_ratio"] - 1.0) < 1e-9
    assert r["salt_factor"] == 1

    skew = spark.createDataFrame(
        [(0, i) for i in range(97)] + [(1, 0), (2, 0), (3, 0)],
        "o_custkey long, x long",
    )
    r = R.skew_salt_advisor(skew).collect()[0]
    assert r["max_cnt"] == 97
    assert abs(r["skew_ratio"] - 97 * 4 / 100) < 1e-6
    assert r["salt_factor"] == 4  # ceil(3.88)


def test_incremental_agg_equals_full(spark, sf_dir):
    from simple_vector_spark.sources.loaders import load_table

    orders = load_table(spark, sf_dir, "orders")
    merged = {
        r["month"]: (r["n_orders"], r["revenue"])
        for r in R.incremental_agg_merge(orders).collect()
    }
    full = {
        r["month"]: (r["n_orders"], r["revenue"])
        for r in orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
            .cast("decimal(15,2)")
            .alias("revenue"),
        )
        .collect()
    }
    assert merged == full
