"""Wave-64 operators: disorder audit, KS test, prefix max helper."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from simple_vector_spark.operators import events as E
from simple_vector_spark.operators import relational as R
from simple_vector_spark.operators.ranking import prefix_fold


def test_prefix_max_matches_sequential(spark):
    vals = [5, 3, 9, 1, 9, 2, 11, 4]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    out = {
        r["k"]: r["cum_max"]
        for r in prefix_fold(df, [F.col("k").asc()], maxes={"v": "cum_max"}).collect()
    }
    running, expect = float("-inf"), {}
    for i, v in enumerate(vals):
        running = max(running, v)
        expect[i] = running
    assert out == expect


def test_disorder_audit_counts_late_arrivals(spark):
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    # arrival order by event_id; event 3 arrives 30s late, event 5 10s late
    rows = [
        (1, ts(0)), (2, ts(100)), (3, ts(70)), (4, ts(200)), (5, ts(190)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    r = E.disorder_audit(ev).collect()[0]
    assert r["n_events"] == 5
    assert r["n_late"] == 2
    assert r["max_late_s"] == 30
    assert r["p50_late_s"] == 20.0  # median of {30, 10}


def test_ks_identical_vs_shifted(spark):
    same = [("R", float(v)) for v in range(1, 11)] * 20 + [
        ("N", float(v)) for v in range(1, 11)
    ] * 20
    li = spark.createDataFrame(same, "l_returnflag string, l_quantity double")
    r = R.ks_two_sample(li).collect()[0]
    assert r["ks_stat"] == 0.0
    assert r["reject_same_dist"] is False

    shifted = [("R", float(v)) for v in range(1, 11)] * 20 + [
        ("N", float(v + 5)) for v in range(1, 11)
    ] * 20
    li2 = spark.createDataFrame(shifted, "l_returnflag string, l_quantity double")
    r2 = R.ks_two_sample(li2).collect()[0]
    assert r2["ks_stat"] == 0.5  # half the mass separated by the shift
    assert r2["reject_same_dist"] is True
