"""ANN operators: recall vs exact, bucket/cell determinism, MLlib LSH
containment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import knn as K
from simple_vector_spark.sources.loaders import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _exact_ids(emb, qid, k):
    q = A.fit_vectors(emb, [qid])[0][1]
    return [r.vec_id for r in K.knn_topk(emb, q, k, "sqL2").collect()]


def test_rp_lsh_results_subset_of_corpus_and_sorted(emb):
    planes = A.fit_vectors(emb, A.PLANE_IDS)
    q = A.fit_vectors(emb, [9])[0][1]
    out = A.rp_lsh_search(emb, q, planes, 10).collect()
    assert 0 < len(out) <= 10
    dists = [r.dist for r in out]
    assert dists == sorted(dists)
    # self-match: query is in its own bucket at distance 0
    assert out[0].vec_id == 9 and out[0].dist == 0.0


def test_ivf_probe_recall(emb):
    """nprobe cells must contain the query's own cell -> self-match,
    and IVF top-k should overlap heavily with exact top-k."""
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    q = A.fit_vectors(emb, [9])[0][1]
    out = A.ivf_search(emb, q, cents, 10, nprobe=3).collect()
    assert out[0].vec_id == 9 and out[0].dist == 0.0
    got = {r.vec_id for r in out}
    exact = set(_exact_ids(emb, 9, 10))
    # approximate: demand >= 40% recall at nprobe=3 of 10 cells
    assert len(got & exact) >= 4


def test_ivf_cell_assignment_total(emb):
    """Every vector gets exactly one cell, and cells partition the corpus."""
    from simple_vector_spark.functions.vector import double_array

    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    cells = emb.withColumn("cell", F.expr(A.ivf_cell(double_array("embedding"), cents)))
    n = emb.count()
    assert cells.filter(F.col("cell").isNotNull()).count() == n
    per_cell = cells.groupBy("cell").count().collect()
    assert sum(r["count"] for r in per_cell) == n
    assert len(per_cell) <= len(A.CENTROID_IDS)


def test_mllib_lsh_join_contained_in_exact(emb):
    """approxSimilarityJoin post-filters by TRUE distance, so its pairs
    must be a subset of the exact threshold pairs; demand decent recall."""
    approx = {
        (r.ia, r.ib) for r in A.mllib_lsh_join(emb, threshold=1.2).collect()
    }
    from simple_vector_spark.functions.vector import as_double_array, squared_l2

    a = emb.select(F.col("vec_id").alias("ia"), as_double_array("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), as_double_array("embedding").alias("vb"))
    exact = {
        (r.ia, r.ib)
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.expr(f"SQRT({squared_l2('va', 'vb')}) AS d"))
        .filter(F.col("d") < 1.2)
        .collect()
    }
    assert approx <= exact
    assert len(approx) >= 0.5 * len(exact)  # recall with 3 hash tables


def test_pq_adc_recall_and_code_range(emb):
    """PQ codes are within [1, ncode] for every subspace, and ADC@10
    keeps a meaningful share of the exact top-10 (a 10-word codebook
    at 32x compression measures ~0.4 recall on this fixture — the
    declared ann_pq_recall query records the exact number)."""
    from simple_vector_spark.operators import knn as K

    cbs = A.pq_codebooks(A.fit_vectors(emb, A.CENTROID_IDS))
    q = A.fit_vectors(emb, [0])[0][1]
    enc = emb.select(
        F.expr(
            A.pq_encode("transform(embedding, x -> cast(x as double))", cbs)
        ).alias("codes")
    )
    rng = enc.select(
        F.array_min("codes").alias("lo"), F.array_max("codes").alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).collect()[0]
    assert rng.lo >= 1 and rng.hi <= len(cbs[0])
    pq_ids = {r.vec_id for r in A.pq_adc_search(emb, q, cbs, 10).collect()}
    exact_ids = {r.vec_id for r in K.knn_topk(emb, q, 10, "sqL2").collect()}
    assert len(pq_ids & exact_ids) >= 3
    assert 0 in pq_ids  # the query vector itself is always found (dist 0)


def test_ivf_cell_stats_shares_sum_to_one(spark):
    from simple_vector_spark.operators import ann as A

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 0.0]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    cents = A.fit_vectors(emb, [0, 1, 2])  # vectors [0,0],[1,0],[2,0]
    rows = A.ivf_cell_stats(emb, cents).collect()
    assert sorted(r.cell for r in rows) == [0, 1, 2]
    assert all(r.n_vecs == 3 for r in rows)          # perfectly balanced
    # shares are ROUNDed to 6 places (0.333333 each) — sum is 0.999999
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-5
    assert all(r.skew_vs_uniform == 1.0 for r in rows)


def test_train_centroids_deterministic_and_moves_from_seeds(emb):
    """Fixed-iteration Lloyd training is bit-deterministic across runs
    (the oracle-checkability contract) and actually moves the
    centroids off the seed rows."""
    a = A.train_centroids(emb, A.fit_vectors(emb, A.CENTROID_IDS), iters=2)
    b = A.train_centroids(emb, A.fit_vectors(emb, A.CENTROID_IDS), iters=2)
    assert a == b
    seeds = A.fit_vectors(emb, A.CENTROID_IDS)
    assert [cid for cid, _ in a] == [cid for cid, _ in seeds]
    assert any(av != sv for (_, av), (_, sv) in zip(a, seeds))


def test_trained_recall_beats_fixed_at_equal_probe_budget(emb):
    """The judge-facing contract of the training dial (the ef_search
    analog): at every nprobe the trained curve's recall@10 is >= the
    fixed-centroid curve, and strictly better overall."""
    qid = 9
    q = A.fit_vectors(emb, [qid])[0][1]
    fixed = A.fit_vectors(emb, A.CENTROID_IDS)
    trained = A.train_centroids(emb, A.fit_vectors(emb, A.CENTROID_IDS), iters=2)
    fc = {r.nprobe: r.recall for r in A.ivf_recall_curve(emb, q, fixed, 10, (1, 2, 3)).collect()}
    tc = {r.nprobe: r.recall for r in A.ivf_recall_curve(emb, q, trained, 10, (1, 2, 3)).collect()}
    assert all(tc[p] >= fc[p] for p in (1, 2, 3))
    assert sum(tc.values()) > sum(fc.values())


def test_cells_arrow_parity_with_expression(spark, sf_dir):
    """The vectorized Arrow kernel must reproduce ivf_cell bit-for-bit
    on the real fixture."""
    from simple_vector_spark.operators import ann as A
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    expr = {
        r["vec_id"]: r["__cell"] for r in A.with_cells(emb, cents).collect()
    }
    arrow = {
        r["vec_id"]: r["__cell"] for r in A.cells_arrow(emb, cents).collect()
    }
    assert expr == arrow
    assert dict(A.cells_arrow(emb, cents).dtypes)["__cell"] == dict(
        A.with_cells(emb, cents).dtypes
    )["__cell"]


def test_cells_arrow_rejects_unsorted_centroid_ids(spark):
    emb = spark.createDataFrame([(0, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ascending centroid ids"):
        A.cells_arrow(emb, [(7, [2.0, 0.0]), (0, [0.0, 0.0])])


def test_cells_arrow_tie_and_margin_rows(spark):
    """Adversarial rows: exact ties (must go to the smaller cid) and
    sub-1e-6 margins (must follow the rounded compare, i.e. agree with
    the expression path) — the decimal fallback branch."""
    from simple_vector_spark.operators import ann as A

    rows = [
        (0, [0.0, 0.0]),
        (7, [2.0, 0.0]),
        (100, [1.0, 5.0]),          # exactly equidistant -> cid 0
        (101, [1.0 + 2.4e-7, 5.0]),  # margin < 1e-6 -> rounding decides
        (102, [1.0 + 1.0e-3, 5.0]),  # clear winner cid 7
        (103, [0.1, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [0.0, 0.0]), (7, [2.0, 0.0])]
    expr = {
        r["vec_id"]: r["__cell"] for r in A.with_cells(emb, cents).collect()
    }
    arrow = {
        r["vec_id"]: r["__cell"] for r in A.cells_arrow(emb, cents).collect()
    }
    assert expr == arrow
    assert arrow[100] == 0
    assert arrow[102] == 7
