"""Wave-165 operators: exact 1-D Wasserstein drift + the prefix fold's
rank and multi prefix-sum in one two-phase pass."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from simple_vector_spark.operators import relational as R
from simple_vector_spark.operators.ranking import prefix_fold


def _orders(spark, year_vals):
    rows = [
        (i, dt.date(y, 6, 15), float(v))
        for i, (y, v) in enumerate(year_vals)
    ]
    return spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )


def test_ordered_cdf_rank_and_both_cumsums(spark):
    df = spark.createDataFrame(
        [(3.0, 1, 10), (1.0, 2, 20), (2.0, 4, 40)], "v double, a long, b long"
    )
    out = {
        r["v"]: (r["grank"], r["a_cum"], r["b_cum"])
        for r in prefix_fold(
            df, [F.col("v").asc()], rank="grank", sums={"a": "a_cum", "b": "b_cum"}
        ).collect()
    }
    assert out == {1.0: (1, 2, 20), 2.0: (2, 6, 60), 3.0: (3, 7, 70)}


def test_wasserstein_unit_shift(spark):
    # B is A shifted by +1 -> W1 == 1 exactly
    orders = _orders(
        spark,
        [(1996, 1), (1996, 2), (1996, 3), (1997, 2), (1997, 3), (1997, 4)],
    )
    row = R.wasserstein_price_drift(orders).collect()[0]
    assert (row["na"], row["nb"]) == (3, 3)
    assert abs(row["w1"] - 1.0) < 1e-9
    # support range = 3 -> normalized = 1/3
    assert abs(row["w1_norm"] - 1.0 / 3.0) < 1e-6


def test_wasserstein_identical_distributions_zero(spark):
    orders = _orders(
        spark, [(1996, 5), (1996, 9), (1997, 5), (1997, 9)]
    )
    row = R.wasserstein_price_drift(orders).collect()[0]
    assert row["w1"] == 0.0


def test_wasserstein_unbalanced_sizes(spark):
    # A = {0}, B = {0,10}: W1 = mean |F difference| = 0.5 * 10
    orders = _orders(spark, [(1996, 0), (1997, 0), (1997, 10)])
    row = R.wasserstein_price_drift(orders).collect()[0]
    assert abs(row["w1"] - 5.0) < 1e-9
