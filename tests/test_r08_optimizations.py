"""Round-8 optimization guards: the restructured operators must keep
their exact semantics (assignment parity with the legacy form) and
their improved plan shapes (no reintroduced windows / per-config
unions)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import relational as R
from simple_vector_spark.sources.loaders import load_table

SF = "/root/testdata/sf0.001"


def _legacy_window_assignments(df, cents, assign):
    """The pre-r08 crossJoin + row_number cell assignment, kept here as
    the semantic reference for graph_cell_assignments."""
    from simple_vector_spark.functions.vector import double_array, squared_l2

    spark = df.sparkSession
    cdf = F.broadcast(
        spark.createDataFrame(
            [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
            "cid int, cv array<double>",
        )
    )
    scored = df.crossJoin(cdf).select(
        F.col("vec_id"),
        F.col("cid"),
        F.expr(f"ROUND({squared_l2(double_array('embedding'), 'cv')}, 6) AS _cd"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("_cd").asc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= assign)
        .select(F.col("vec_id"), F.col("cid").alias("cell"))
    )


def test_graph_cell_assignments_match_legacy_window_form(spark):
    emb = load_table(spark, SF, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    new = A.graph_cell_assignments(emb, cents).collect()
    old = _legacy_window_assignments(emb, cents, A.GRAPH_ASSIGN).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))


def test_rfm_kmeans_final_plan_has_no_window(spark):
    orders = load_table(spark, SF, "orders")
    plan = R.rfm_kmeans_segments(orders)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # argmin expression, not a rank window


def test_lifecycle_single_partid_exchange(spark):
    li = load_table(spark, SF, "lineitem")
    plan = R.part_lifecycle_stages(li)._jdf.queryExecution().executedPlan().toString()
    # one window + reused-partitioning aggregate: the per/halves join
    # and its second part_id exchange must not come back
    assert plan.count("SortMergeJoin") == 0
