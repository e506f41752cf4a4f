"""Write-path queries write under ``scratch_path`` and never reuse a
copy another session left there: ``bucketed_join_revenue`` keeps its
bucketed tables out of the warehouse directory (the launch directory by
default), and ``dpp_prune_join`` rewrites its partitioned copy once per
session."""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from simple_vector_spark.registry import _QUERIES
from simple_vector_spark.sources.loaders import scoped_conf, scratch_path


def test_bucketed_join_writes_no_warehouse_dir(spark, sf_dir, tmp_path, monkeypatch):
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    for kind in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {kind}_{tag}")
    monkeypatch.chdir(tmp_path)
    rows = _QUERIES["bucketed_join_revenue"](spark, sf_dir).collect()
    assert rows and not (tmp_path / "spark-warehouse").exists()
    for kind in ("orders_b", "customer_b"):
        info = {r.col_name: r.data_type for r in spark.sql(f"DESCRIBE TABLE EXTENDED {kind}_{tag}").collect()}
        assert info["Type"] == "EXTERNAL"
        assert info["Location"].rstrip("/").endswith(scratch_path(kind, sf_dir))
    # the layout still co-locates: no Exchange under the SortMergeJoin
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = spark.table(f"orders_b_{tag}").join(
            spark.table(f"customer_b_{tag}"), F.col("o_custkey") == F.col("c_custkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "Exchange" not in plan


def _dpp(spark, sf):
    return sorted(tuple(r) for r in _QUERIES["dpp_prune_join"](spark, sf).collect())


def test_dpp_copy_is_rewritten_in_a_fresh_session(spark, sf_dir, tmp_path):
    """Two fixtures with one basename share a scratch path; the second,
    with changed orders, must not be answered from the first's copy."""
    a, b = tmp_path / "a" / "sfdpp", tmp_path / "b" / "sfdpp"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    pq.write_table(orders, a / "orders.parquet")
    half = orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0))
    pq.write_table(half, b / "orders.parquet")
    try:
        first = _dpp(spark.newSession(), str(a))
        fresh = spark.newSession()
        second = _dpp(fresh, str(b))
        want = fresh.read.parquet(str(b / "orders.parquet")).filter(
            (F.year("o_orderdate") == 1995) & (F.month("o_orderdate") <= 3)
        ).count()
        assert second[0][1] == want
        assert first[0][1] > second[0][1]
    finally:
        shutil.rmtree(scratch_path("orders_by_month", str(a)), ignore_errors=True)
