"""Wave-98 operators: navigable k-NN graph + greedy beam search (the
HNSW query-path analog)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from simple_vector_spark.functions.vector import as_double_array, double_array, squared_l2
from simple_vector_spark.operators import ann as A


def _clustered_corpus(spark, n_clusters=5, per_cluster=40, dim=8):
    # Deterministic clustered data: cluster c centered at 10*c on every
    # dim, members scattered by seeded-random jitter — the structure
    # real embeddings have and the uniform fixture lacks.  (Jitter must
    # be RANDOM, not hash-formula: any linear-congruential jitter makes
    # the cluster a 1-D ring whose graph diameter defeats short walks.)
    rng = random.Random(42)
    rows = [
        (
            vid,
            [10.0 * (vid // per_cluster) + 0.5 * rng.random() for _ in range(dim)],
        )
        for vid in range(n_clusters * per_cluster)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_greedy_search_finds_planted_cluster(spark):
    emb = _clustered_corpus(spark)
    # seeds: one member of each cluster (ids 0, 40, 80, 120, 160)
    seed_ids = [0, 40, 80, 120, 160]
    cents = A.fit_vectors(emb, seed_ids)
    query_id = 85  # inside cluster 2
    got = {
        r.vec_id
        for r in A.knn_graph_greedy_search(
            emb, cents, query_id, 10, beam=8, hops=4
        ).collect()
    }
    qv = emb.filter(F.col("vec_id") == query_id).select(
        as_double_array("embedding").alias("q")
    )
    exact = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.expr(f"ROUND({squared_l2(double_array('embedding'), 'q')}, 6) AS d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
    )
    ex = {r.vec_id for r in exact.collect()}
    recall = len(got & ex) / 10
    # On clustered data the layered descent must land in the right
    # cluster and the walk must surface most true neighbors.
    assert recall >= 0.8, (recall, sorted(got), sorted(ex))


def test_greedy_search_beam_is_a_quality_dial(spark):
    # Monotone contract of the ef_search analog: a wider beam visits a
    # superset-quality frontier — best found distance never degrades.
    emb = _clustered_corpus(spark)
    cents = A.fit_vectors(emb, [0, 40, 80, 120, 160])
    best = {}
    for beam in (1, 4):
        rows = A.knn_graph_greedy_search(emb, cents, 85, 5, beam=beam).collect()
        best[beam] = min(r.dist for r in rows)
    assert best[4] <= best[1]


def test_navigable_graph_bridges_cells(spark, sf_dir):
    # With top-2 cell assignment, some edge must cross PRIMARY-cell
    # boundaries (the within-cell graph is provably cell-disconnected)
    # — on the real fixture, whose cells actually abut.
    from pyspark.sql.window import Window

    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    edges = A.knn_graph_navigable(emb, cents)
    cdf = spark.createDataFrame(
        [(cid, [float(x) for x in cv]) for cid, cv in cents],
        "cid long, cv array<double>",
    )
    prim = (
        emb.crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            "cid",
            F.expr(f"ROUND({squared_l2(double_array('embedding'), 'cv')}, 6) AS d"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("vec_id").orderBy("d", "cid")),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    cross = (
        edges.join(prim, "vec_id")
        .withColumnRenamed("cell", "src_cell")
        .join(
            prim.select(
                F.col("vec_id").alias("nbr_id"), F.col("cell").alias("nbr_cell")
            ),
            "nbr_id",
        )
        .filter(F.col("src_cell") != F.col("nbr_cell"))
        .count()
    )
    assert cross > 0
    max_degree = edges.groupBy("vec_id").count().agg(F.max("count")).collect()[0][0]
    assert max_degree <= A.GRAPH_DEGREE
    assert edges.select("vec_id").distinct().count() == emb.count()


def test_greedy_search_is_deterministic(spark, sf_dir):
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    a = A.knn_graph_greedy_search(emb, cents, 9, 10).collect()
    b = A.knn_graph_greedy_search(emb, cents, 9, 10).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
    assert sorted(r.rnk for r in a) == list(range(1, 11))
    # rank agrees with (dist, id) order
    by_rank = sorted(a, key=lambda r: r.rnk)
    assert by_rank == sorted(a, key=lambda r: (r.dist, r.vec_id))
