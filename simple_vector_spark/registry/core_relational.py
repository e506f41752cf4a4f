"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, scoped_conf, scratch_path

from . import query


# --------------------------------------------------------------------------
# Relational extensions (SURVEY.md §2.2: joins/aggs/windows/set-ops are
# absent from the reference; first-class here).
# --------------------------------------------------------------------------
from ..operators import events as E  # noqa: E402
from ..operators import relational as R  # noqa: E402

_DEC_PRICE_SQL = "CAST(l_extendedprice AS DECIMAL(15,2))"
_DEC_DISC_SQL = "(CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))"
_DEC_TAX_SQL = "(CAST(1 AS DECIMAL(8,6)) + CAST(l_tax AS DECIMAL(8,6)))"


@query(
    "tpch_q1_pricing",
    f"""
WITH src AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(15,2)) AS qty,
         {_DEC_PRICE_SQL} AS price,
         CAST({_DEC_PRICE_SQL} * {_DEC_DISC_SQL} AS DECIMAL(28,8)) AS disc_price,
         CAST({_DEC_PRICE_SQL} * {_DEC_DISC_SQL} AS DECIMAL(28,8)) * {_DEC_TAX_SQL} AS charge
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(qty) AS DOUBLE), 2) AS sum_qty,
  ROUND(CAST(SUM(price) AS DOUBLE), 2) AS sum_base_price,
  ROUND(CAST(SUM(disc_price) AS DOUBLE), 4) AS sum_disc_price,
  ROUND(CAST(SUM(charge) AS DOUBLE), 4) AS sum_charge,
  ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM src GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing(spark, sf_dir):
    """TPC-H Q1 shape: pushed-down date filter + two-key agg, exact
    DECIMAL money math (order-insensitive under partial aggregation)."""
    return R.pricing_summary(load_table(spark, sf_dir, "lineitem"))


@query(
    "revenue_by_nation",
    """
SELECT r_name, n_name,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name, n_name
""",
)
def revenue_by_nation(spark, sf_dir):
    """Star join with broadcast dims (nation/region)."""
    return R.revenue_by_nation(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "rollup_revenue",
    """
SELECT r_name, n_name,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""",
)
def rollup_revenue(spark, sf_dir):
    """Grouping-set rollup: region -> nation -> grand total."""
    return R.rollup_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "cube_revenue",
    """
SELECT r_name, o_orderstatus,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY CUBE(r_name, o_orderstatus)
""",
)
def cube_revenue(spark, sf_dir):
    """Full CUBE grouping sets over (region, order status)."""
    return R.cube_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "order_value_percentiles",
    """
SELECT o_orderpriority,
  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
  ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
  ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
  CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority
""",
)
def order_value_percentiles(spark, sf_dir):
    """Exact PERCENTILE_CONT per priority class (approx_percentile is
    the 100-TB path — see operator docstring)."""
    return R.order_value_percentiles(load_table(spark, sf_dir, "orders"))


@query(
    "top_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
""",
)
def top_orders_per_customer(spark, sf_dir):
    """Per-group top-k window (rank-limit; WindowGroupLimit partials)."""
    return R.top_orders_per_customer(load_table(spark, sf_dir, "orders"), 3)


@query(
    "tpch_q3_shipping",
    f"""
WITH j AS (
  SELECT l.l_orderkey, o.o_orderdate,
         {_DEC_PRICE_SQL} * {_DEC_DISC_SQL} AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1997-06-01'
    AND l.l_shipdate > TIMESTAMP '1997-06-01'
)
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       ROUND(CAST(SUM(rev) AS DOUBLE), 4) AS revenue
FROM j GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def tpch_q3_shipping(spark, sf_dir):
    """TPC-H Q3 shape: double-filtered 3-way join + revenue top-k."""
    return R.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "tpch_q5_local_supplier",
    f"""
SELECT n_name,
       ROUND(CAST(SUM({_DEC_PRICE_SQL} * {_DEC_DISC_SQL}) AS DOUBLE), 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def tpch_q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join, same-nation constraint as an
    extra join key, all dims broadcast — the only shuffle is
    lineitem⋈orders (the two facts)."""
    return R.local_supplier_volume(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "customers_without_orders",
    "SELECT c_custkey AS custkey FROM customer "
    "EXCEPT SELECT o_custkey AS custkey FROM orders",
)
def customers_without_orders(spark, sf_dir):
    """Set difference (EXCEPT DISTINCT)."""
    return R.customers_without_orders(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@query(
    "customers_with_orders",
    "SELECT c_custkey AS custkey FROM customer "
    "INTERSECT SELECT o_custkey AS custkey FROM orders",
)
def customers_with_orders(spark, sf_dir):
    """Set intersection (INTERSECT DISTINCT)."""
    return R.customers_with_orders(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@query(
    "tpch_q14_promo_share",
    f"""
SELECT ROUND(100.0 * (
         CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                       THEN {_DEC_PRICE_SQL} * {_DEC_DISC_SQL} END) AS DOUBLE)
         / CAST(SUM({_DEC_PRICE_SQL} * {_DEC_DISC_SQL}) AS DOUBLE)), 6)
         AS promo_share_pct,
       ROUND(CAST(SUM({_DEC_PRICE_SQL} * {_DEC_DISC_SQL}) AS DOUBLE), 4)
         AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def tpch_q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregation (promo revenue share),
    one scan, both sums in the same aggregate pass, part broadcast."""
    return R.promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "order_value_quartiles",
    """
WITH t AS (
  SELECT o_orderpriority,
         CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS INT) AS q,
         o_totalprice
  FROM orders
)
SELECT o_orderpriority, q, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS sum_value
FROM t GROUP BY o_orderpriority, q
""",
)
def order_value_quartiles(spark, sf_dir):
    """ntile(4) equal-count buckets per priority + per-quartile aggs."""
    return R.order_value_quartiles(load_table(spark, sf_dir, "orders"))


@query(
    "bucketed_join_revenue",
    """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderstatus
""",
)
def bucketed_join_revenue(spark, sf_dir):
    """The co-located-join layout as a declared query: orders and
    customer written bucketBy(custkey) into the warehouse, then joined
    with broadcast disabled — SortMergeJoin with NO Exchange on either
    side (asserted in tests/test_scale_patterns.py on the same
    mechanism).  At 100 TB this is how the corpus<->metadata join
    avoids shuffling the fact table every query: pay the bucketed
    write once, join shuffle-free forever after.  The tables are
    external, under ``scratch_path``: nothing lands in the warehouse
    directory, which defaults to the launch directory."""
    import os
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    to_, tc = f"orders_b_{tag}", f"customer_b_{tag}"
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    for kind, df, key in (("orders_b", orders, "o_custkey"), ("customer_b", customer, "c_custkey")):
        if not spark.catalog.tableExists(f"{kind}_{tag}"):
            # the in-memory catalog forgets tables between sessions but
            # their files survive; clear the orphan before the rewrite
            path = scratch_path(kind, sf_dir)
            shutil.rmtree(path, ignore_errors=True)
            df.write.bucketBy(8, key).sortBy(key).mode("overwrite").option(
                "path", path
            ).saveAsTable(f"{kind}_{tag}")
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = (
            spark.table(to_)
            .join(
                spark.table(tc),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(15,2)")).cast("double"),
                    2,
                ).alias("revenue"),
            )
        )
        # materialize WHILE broadcast is disabled — the returned frame
        # is lazy, and restoring the conf first would let the planner
        # broadcast the dim and bypass the bucketed layout
        return out.localCheckpoint()


@query(
    "orders_with_returns",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def orders_with_returns(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to LEFT SEMI join."""
    return R.orders_with_returns(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@query(
    "orders_without_returns",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def orders_without_returns(spark, sf_dir):
    """NOT EXISTS as LEFT ANTI join over the Q4 shape."""
    return R.orders_without_returns(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@query(
    "orders_above_customer_avg",
    """
WITH s AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER (PARTITION BY o_custkey) AS csum,
         COUNT(*) OVER (PARTITION BY o_custkey) AS cn
  FROM orders
)
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
FROM s WHERE CAST(o_totalprice AS DECIMAL(15,2)) * cn > csum
""",
)
def orders_above_customer_avg(spark, sf_dir):
    """Correlated scalar subquery (order above its customer's average),
    decorrelated to one window pass; comparison in exact DECIMAL."""
    return R.orders_above_customer_avg(load_table(spark, sf_dir, "orders"))


@query(
    "skew_salted_enrich",
    """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM events e JOIN nation ON e.user_id % 25 = n_nationkey
GROUP BY n_name
""",
)
def skew_salted_enrich(spark, sf_dir):
    """The salted-join skew buster as a declared query: events keyed by
    user_id%25 joined to nation through an 8-way salt (hot key spread
    over 8 reducers), then aggregated — identical results to the plain
    join (the oracle IS the plain join)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "nkey", F.col("user_id") % 25
    )
    dim = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"), "n_name"
    )
    return (
        R.salted_join(ev, dim, "nkey")
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
    )


@query(
    "asof_join_checkpoints",
    """
WITH cp AS (
  SELECT user_id, ts, event_id AS cp_event_id, value AS cp_value
  FROM events WHERE event_id % 5 = 0
)
SELECT e.user_id, e.event_id, cp.cp_event_id, cp.cp_value
FROM events e ASOF LEFT JOIN cp
  ON e.user_id = cp.user_id AND e.ts >= cp.ts
""",
)
def asof_join_checkpoints(spark, sf_dir):
    """Keyed as-of join (Spark has no native ASOF; composed as
    tag+union+running last(ignoreNulls) — ONE shuffle by key).  Every
    event is matched to its user's latest checkpoint event at-or-before
    its timestamp; DuckDB's native ASOF JOIN is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        "ts",
        F.col("event_id").alias("cp_event_id"),
        F.col("value").alias("cp_value"),
    )
    out = R.asof_join(left, right, ["user_id"], "ts", ["cp_event_id", "cp_value"])
    return out.select("user_id", "event_id", "cp_event_id", "cp_value")


