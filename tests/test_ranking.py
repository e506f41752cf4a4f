"""The two-phase global-rank helpers (operators/ranking.py) must be
value-identical to the single-partition window functions they replace,
and the rewritten queries must no longer contain the one plan shape
that cannot survive a 100x scale-up: a Sort or Window feeding off an
``Exchange SinglePartition``."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from simple_vector_spark.operators.ranking import (
    grouped_ntile,
    ntile_from_rank,
    prefix_fold,
    ranked_global,
)
from simple_vector_spark.registry import queries
from simple_vector_spark.sources.loaders import scoped_conf

QS = queries()


def _mkdf(spark, n=97, groups=4):
    # deterministic pseudo-random values with ties, plus a unique tiebreak
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % groups).alias("g"),
        ((F.col("id") * 37) % 13).alias("v"),
    )


def test_ranked_global_matches_row_number(spark):
    df = _mkdf(spark)
    sort = [F.col("v").asc(), F.col("id").asc()]
    got = {
        r["id"]: r["rk"]
        for r in ranked_global(df, sort, rank_name="rk").collect()
    }
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy(*sort)).cast("long")
        ).collect()
    }
    assert got == want


def test_ranked_global_grouped_matches_row_number(spark):
    df = _mkdf(spark)
    sort = [F.col("v").desc(), F.col("id").asc()]
    got = {
        r["id"]: (r["rk"], r["n"])
        for r in ranked_global(
            df, sort, group_cols=["g"], rank_name="rk", total_name="n"
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(*sort)
    cw = Window.partitionBy("g")
    want = {
        r["id"]: (r["rk"], r["n"])
        for r in df.withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(cw).cast("long"))
        .collect()
    }
    assert got == want


def test_ranked_global_keeps_null_group_keys(spark):
    """SQL ``PARTITION BY g`` keeps NULL as its own group: every row of
    the NULL group is ranked and counted like any other group's."""
    df = spark.range(20).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.col("id") % 2).alias("g"),
        ((F.col("id") * 7) % 5).alias("v"),
    )
    sort = [F.col("v").asc(), F.col("id").asc()]
    got = {
        r["id"]: (r["rk"], r["n"])
        for r in ranked_global(
            df, sort, group_cols=["g"], rank_name="rk", total_name="n"
        ).collect()
    }
    want = {
        r["id"]: (r["rk"], r["n"])
        for r in df.withColumn(
            "rk", F.row_number().over(Window.partitionBy("g").orderBy(*sort)).cast("long")
        )
        .withColumn("n", F.count("*").over(Window.partitionBy("g")).cast("long"))
        .collect()
    }
    assert len(got) == 20
    assert got == want


# ---------------------------------------------------------------------------
# prefix_fold parity with Spark's single-partition windows.
# ---------------------------------------------------------------------------

_ROWS = {
    # ties on the leading key k; negative values
    "ties": [(i, f"g{i % 3}", i % 4, (i * 7) % 11 - 5) for i in range(30)],
    # NULL leading keys, NULL summed/maxed values, NULL group keys
    "nulls": [
        (i, None if i % 5 == 0 else f"g{i % 2}",
         None if i % 4 == 0 else i % 3, None if i % 3 == 0 else i * 2 - 17)
        for i in range(31)
    ],
    "empty": [],
    "single": [(0, None, 1, None)],
    # more shuffle partitions than rows
    "sparse": [(i, f"g{i % 2}", 5 - i, i) for i in range(5)],
}
_SORTS = {
    "asc": lambda k: k.asc(),
    "desc": lambda k: k.desc(),
    "asc_nulls_last": lambda k: k.asc_nulls_last(),
    "desc_nulls_first": lambda k: k.desc_nulls_first(),
}
_CASES = [
    (data, order, grouped)
    for data in _ROWS
    for order in (_SORTS if data in ("ties", "nulls") else ["asc"])
    for grouped in (False, True)
]


@pytest.mark.parametrize("data,order,grouped", _CASES)
def test_prefix_fold_matches_window(spark, data, order, grouped):
    """row_number, running SUM and running MAX (ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW) and their per-group totals equal Spark's
    own windows, with and without PARTITION BY."""
    df = spark.createDataFrame(_ROWS[data], "id long, g string, k long, v long")
    sort = [_SORTS[order](F.col("k")), F.col("id").asc()]
    gc = ["g"] if grouped else []
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "16"}):
        got = {
            r["id"]: tuple(r[c] for c in ("rk", "cs", "cm", "n", "ts", "tm"))
            for r in prefix_fold(
                df, sort, gc, rank="rk", sums={"v": "cs"}, maxes={"v": "cm"},
                totals={"n": "rk", "ts": "cs", "tm": "cm"},
            ).collect()
        }
    run = Window.partitionBy(*gc).orderBy(*sort).rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.partitionBy(*gc)
    want = {
        r["id"]: tuple(r[c] for c in ("rk", "cs", "cm", "n", "ts", "tm"))
        for r in df.select(
            "id",
            F.row_number().over(run).cast("long").alias("rk"),
            F.sum("v").over(run).alias("cs"),
            F.max("v").over(run).alias("cm"),
            F.count("*").over(whole).cast("long").alias("n"),
            F.sum("v").over(whole).alias("ts"),
            F.max("v").over(whole).alias("tm"),
        ).collect()
    }
    assert len(got) == len(_ROWS[data])
    assert got == want


@pytest.mark.parametrize("n,k", [(1, 4), (3, 4), (10, 4), (97, 10), (25, 25), (7, 10)])
def test_ntile_from_rank_matches_spark_ntile(spark, n, k):
    df = spark.range(n)
    sort = [F.col("id").asc()]
    got = {
        r["id"]: r["t"]
        for r in grouped_ntile(df, sort, k, "t").collect()
    }
    want = {
        r["id"]: r["t"]
        for r in df.withColumn(
            "t", F.ntile(k).over(Window.orderBy(*sort)).cast("int")
        ).collect()
    }
    assert got == want


def test_grouped_ntile_matches_partitioned_ntile(spark):
    df = _mkdf(spark, n=83, groups=5)
    sort = [F.col("v").asc(), F.col("id").asc()]
    got = {
        r["id"]: r["t"]
        for r in grouped_ntile(df, sort, 4, "t", group_cols=["g"]).collect()
    }
    want = {
        r["id"]: r["t"]
        for r in df.withColumn(
            "t", F.ntile(4).over(Window.partitionBy("g").orderBy(*sort)).cast("int")
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Plan audits: no Sort/Window riding a single-partition exchange.
# ---------------------------------------------------------------------------

_NODE = re.compile(r"(?:\*\(\d+\) )?(Sort |Window|WindowGroupLimit)")


def _single_partition_sort_parents(plan: str) -> list[str]:
    """Lines that are the tree-parent of an ``Exchange SinglePartition``
    and are a Sort/Window node.  A global aggregate above the exchange
    (partial -> final HashAggregate) is the legitimate user of
    SinglePartition and is not flagged."""
    lines = plan.splitlines()
    offenders = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        off = len(line) - len(line.lstrip(" +-:"))
        for j in range(i - 1, -1, -1):
            poff = len(lines[j]) - len(lines[j].lstrip(" +-:"))
            if poff < off and lines[j].strip(" +-:"):
                if _NODE.match(lines[j].lstrip(" +-:")):
                    offenders.append(lines[j].strip())
                break
    return offenders


# every query the round-1 verdict graded "weak" for the single-partition
# window family, plus the helpers' other call sites
REWRITTEN = [
    "orders_pareto_share",
    "orders_rfm_segments",
    "orders_spend_gini",
    "order_value_distribution",
    "order_value_quartiles",
    "allocate_doc_ids",
    "vocab_zipf_slope",
    "hybrid_rrf_search",
    "tpch_q15_top_supplier",
]


@pytest.mark.parametrize("name", REWRITTEN)
def test_no_single_partition_window(spark, sf_dir, name):
    plan = QS[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    offenders = _single_partition_sort_parents(plan)
    assert not offenders, f"{name}: global sort/window over SinglePartition: {offenders}"
