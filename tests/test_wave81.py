"""Wave-81: streaming top-k, feature hashing, rank semantics."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_window_topk_matches_batch(spark, sf_dir):
    from simple_vector_spark import registry as REG
    from simple_vector_spark.sources.loaders import load_table

    got = {tuple(r) for r in REG.stream_window_topk(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    from simple_vector_spark.operators.events import TS_FMT

    agg = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), TS_FMT).alias("bucket"),
        "user_id",
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("bucket").orderBy(F.col("n").desc(), F.col("user_id"))
    expect = {
        tuple(r)
        for r in agg.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    assert got == expect


def test_feature_hash_small_space_collides(spark):
    from simple_vector_spark.operators import events as E

    ev = spark.createDataFrame(
        [(i, i, "t%d" % ((i // 100) % 40)) for i in range(4000)],
        "event_id long, user_id long, event_type string",
    )
    # 100 user mods x 40 types = 4000 crosses into 256 buckets: heavy
    # collisions are certain
    r = E.feature_hash_cross(ev).collect()[0]
    assert r["n_crosses"] == 4000
    assert r["n_buckets_used"] <= 256
    assert r["collision_rate"] > 0.9


def test_rank_semantics_diverge_on_ties(spark):
    from simple_vector_spark.operators import relational as R

    # two bands tie at count 2 -> rank gaps, dense_rank doesn't
    rows = (
        [(k, "P", 1000.0) for k in range(2)]
        + [(10 + k, "P", 2000.0) for k in range(2)]
        + [(20, "P", 3000.0)]
    )
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    out = {r["value_k"]: r for r in R.rank_semantics_audit(orders).collect()}
    # bands 1k and 2k tie with 2 orders; band 3k has 1
    assert out[1]["rank"] == out[2]["rank"] == 1
    assert out[1]["dense_rank"] == out[2]["dense_rank"] == 1
    assert {out[1]["row_number"], out[2]["row_number"]} == {1, 2}
    assert out[3]["rank"] == 3        # gap after the tie
    assert out[3]["dense_rank"] == 2  # no gap


def test_did_recovers_planted_effect(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    # control: 100 pre, 110 post (+10 trend); treated: 100 pre,
    # 140 post (+10 trend +30 effect) -> DiD = 30
    rows, k = [], 0
    for treated, pre_v, post_v in ((True, 100.0, 140.0), (False, 100.0, 110.0)):
        pk = 1 if treated else 2
        for post, v in ((False, pre_v), (True, post_v)):
            for _ in range(5):
                rows.append((k, pk, k, v))
                k += 1
    li = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "l_orderkey long, l_partkey long, _i long, l_extendedprice double",
    ).drop("_i")
    part = spark.createDataFrame(
        [(1, "PROMO"), (2, "STANDARD")], "p_partkey long, p_type string"
    )
    # orders: keys 0..19; first 5 of each group pre-cutoff, rest post
    orders_rows = []
    for i, r in enumerate(rows):
        post = (i % 10) >= 5
        d = datetime.datetime(2000, 1, 1) if post else datetime.datetime(1998, 1, 1)
        orders_rows.append((r[0], d))
    orders = spark.createDataFrame(orders_rows, "o_orderkey long, o_orderdate timestamp")
    out = R.promo_did(li, part, orders).collect()[0]
    assert out["did_estimate"] == 30.0
    assert out["treated_pre"] == 100.0 and out["control_post"] == 110.0


def test_littles_law_exact_on_synthetic_queue(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    # 10 orders arriving one per day, each taking exactly 2 days
    orders_rows, li_rows = [], []
    for i in range(10):
        d0 = datetime.datetime(2024, 1, 1 + i)
        orders_rows.append((i, d0))
        li_rows.append((i, d0 + datetime.timedelta(days=2)))
    orders = spark.createDataFrame(orders_rows, "o_orderkey long, o_orderdate timestamp")
    li = spark.createDataFrame(li_rows, "l_orderkey long, l_shipdate timestamp")
    r = R.littles_law_audit(orders, li).collect()[0]
    assert r["avg_wait_W"] == 2.0
    assert r["arrival_rate"] == 1.0
    # ratio near 1 (edge effects at the span boundaries only)
    assert 0.7 < r["littles_ratio"] < 1.3


def test_burst_clustering_detects_tight_sessions(spark):
    import datetime

    from simple_vector_spark.operators import events as E

    rows, eid = [], 0
    t0 = datetime.datetime(2024, 1, 1)
    for u in range(20):
        base = t0 + datetime.timedelta(hours=u * 12)
        # 5 events 10s apart (bursty), then one 6h later
        for j in range(5):
            rows.append((eid, u, base + datetime.timedelta(seconds=10 * j))); eid += 1
        rows.append((eid, u, base + datetime.timedelta(hours=6))); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    r = E.burst_clustering(ev).collect()[0]
    assert r["observed_short_share"] == 0.8  # 4 of 5 gaps per user short
    assert r["burstiness_lift"] > 5  # far above the Poisson expectation


def test_eoq_formula(spark):
    import math

    from simple_vector_spark.operators import relational as R

    li = spark.createDataFrame(
        [(1, 100.0), (1, 100.0), (2, 50.0)], "l_partkey long, l_quantity double"
    )
    out = {r["l_partkey"]: r for r in R.eoq_top_parts(li).collect()}
    expect = math.sqrt(2 * 200.0 * R.EOQ_SETUP_COST / R.EOQ_HOLD_COST)
    assert abs(out[1]["eoq"] - round(expect, 4)) < 1e-9
    assert out[1]["annual_demand"] == 200.0


def test_day_overlap_jaccard_hand_case(spark):
    import datetime

    from simple_vector_spark.operators import events as E

    def ts(day, u):
        return (u * 100 + day, u, datetime.datetime(2024, 5, day, 10))

    rows = [ts(1, 1), ts(1, 2), ts(1, 3), ts(2, 2), ts(2, 3), ts(2, 4)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {str(r["day"]): r for r in E.day_overlap_jaccard(ev).collect()}
    r = out["2024-05-01"]
    assert r["n"] == 3 and r["n_next"] == 3
    assert r["n_common"] == 2          # users 2, 3
    assert abs(r["jaccard"] - 0.5) < 1e-9  # 2 / (3+3-2)


def test_skyline_dominance_and_ties(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    d = datetime.datetime(2024, 1, 1)
    # cust 1: spend 300/1 order; cust 2: spend 200/2; cust 3: 100/3
    # cust 4: 200/1 (dominated by 2); cust 5: exact tie with 2
    rows, k = [], 0
    spec = {1: [300.0], 2: [100.0, 100.0], 3: [40.0, 30.0, 30.0],
            4: [200.0], 5: [100.0, 100.0]}
    for cust, vals in spec.items():
        for v in vals:
            rows.append((k, cust, v, d)); k += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp"
    )
    out = {r["o_custkey"]: r for r in R.customers_skyline(orders).collect()}
    assert set(out) == {1, 2, 3}   # 4 dominated; 5 collapses into 2
    assert out[2]["n_orders"] == 2


def test_reciprocity_hand_graph(spark):
    from simple_vector_spark.operators import relational as R

    li = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "l_orderkey long, l_suppkey long"
    )
    orders = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "o_orderkey long, o_custkey long"
    )
    customer = spark.createDataFrame(
        [(100, 1), (200, 0), (300, 2)], "c_custkey long, c_nationkey long"
    )
    supplier = spark.createDataFrame(
        [(10, 0), (20, 1), (30, 0)], "s_suppkey long, s_nationkey long"
    )
    # edges: 0->1, 1->0 (mutual pair), 0->2 (one-way)
    r = R.trade_reciprocity(li, orders, customer, supplier).collect()[0]
    assert r["n_edges"] == 3
    assert r["n_mutual"] == 2
    assert abs(r["reciprocity"] - 2 / 3) < 1e-6


def test_division_requires_full_coverage(spark):
    from simple_vector_spark.operators import relational as R

    # parts 1 and 2 are the top-2 by line count; cust 100 buys both,
    # cust 200 only part 1, cust 300 buys both across two orders
    li = spark.createDataFrame(
        [
            (1, 1), (1, 2),          # order 1 (cust 100): both
            (2, 1),                  # order 2 (cust 200): only part 1
            (3, 1), (4, 2),          # orders 3+4 (cust 300): both, split
            (5, 1), (5, 2), (5, 9),  # order 5 (cust 100 again) + filler
        ],
        "l_orderkey long, l_partkey long",
    )
    orders = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (4, 300), (5, 100)],
        "o_orderkey long, o_custkey long",
    )
    out = [r["o_custkey"] for r in R.customers_division(orders, li).collect()]
    assert out == [100, 300]


def test_bootstrap_band_brackets_mean_and_is_deterministic(spark):
    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [(k, 100.0 + (k % 7) * 10) for k in range(500)],
        "o_orderkey long, o_totalprice double",
    )
    a = R.bootstrap_ci(orders).collect()[0]
    b = R.bootstrap_ci(orders).collect()[0]
    assert a == b  # hash-derived weights: bit-for-bit reproducible
    assert a["boot_lo"] <= a["mean_value"] <= a["boot_hi"]
    assert a["boot_hi"] - a["boot_lo"] < 20  # tight band at n=500


def test_retry_collapse_folds_rapid_fires(spark):
    import datetime

    from simple_vector_spark.operators import events as E

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        (1, 1, "click", at(0)), (2, 1, "click", at(2)), (3, 1, "click", at(3)),
        (4, 1, "click", at(100)),
        (5, 2, "view", at(0)), (6, 2, "view", at(60)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    out = {r["event_type"]: r for r in E.retry_collapse(ev).collect()}
    assert out["click"]["n_raw"] == 4
    assert out["click"]["n_kept"] == 2   # burst of 3 -> 1, plus the late one
    assert out["view"]["n_kept"] == 2    # 60s apart: both kept


def test_keyset_page_starts_after_cursor(spark, sf_dir):
    from simple_vector_spark import registry as REG
    from simple_vector_spark.operators.relational import KEYSET_CURSOR, KEYSET_PAGE

    import datetime

    rows = REG.orders_keyset_page(spark, sf_dir).collect()
    assert len(rows) == KEYSET_PAGE
    cursor_d = datetime.date.fromisoformat(KEYSET_CURSOR[0])
    keys = [(r["o_date"], r["o_orderkey"]) for r in rows]
    assert keys == sorted(keys)
    assert all(k > (cursor_d, KEYSET_CURSOR[1]) for k in keys)


def test_velocity_screen_flags_multi_order_day(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    d = datetime.datetime(2024, 2, 1)
    orders = spark.createDataFrame(
        [
            (1, 10, d), (2, 10, d), (3, 10, d),                  # 3 in one day
            (4, 20, d), (5, 20, d + datetime.timedelta(days=1)),  # spread out
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    out = {r["o_custkey"]: r for r in R.velocity_screen(orders).collect()}
    assert set(out) == {10}
    assert out[10]["peak_daily_orders"] == 3
    assert out[10]["days_over_limit"] == 1


def test_session_fatigue_decay_curve(spark):
    import datetime

    from simple_vector_spark.operators import events as E

    rows, eid = [], 0
    t0 = datetime.datetime(2024, 1, 1)
    for u in range(10):
        # session 1: 4 events; session 2 (next day): 2 events
        for j in range(4):
            rows.append((eid, u, t0 + datetime.timedelta(minutes=j), 1.0)); eid += 1
        for j in range(2):
            rows.append((eid, u, t0 + datetime.timedelta(days=1, minutes=j), 1.0)); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    out = {r["session_index"]: r for r in E.session_fatigue(ev).collect()}
    assert out[1]["avg_events_per_session"] == 4.0
    assert out[2]["avg_events_per_session"] == 2.0
    assert out[1]["n_sessions"] == 10


def test_embedding_exact_dupes_round6_canonicalization(spark):
    from simple_vector_spark.operators import dedup as D

    emb = spark.createDataFrame(
        [
            (1, [0.5, 0.25]),
            (2, [0.5000000001, 0.25]),   # sub-1e-6 jitter -> same address
            (3, [0.51, 0.25]),           # genuinely different
        ],
        "vec_id long, embedding array<double>",
    )
    out = D.embedding_exact_dupes(emb).collect()
    assert len(out) == 1
    assert out[0]["n_copies"] == 2
    assert out[0]["keeper"] == 1


def test_subscription_detect_regular_vs_erratic(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    rows, k = [], 0
    # cust 1: every 30 days exactly -> CV 0
    for i in range(6):
        rows.append((k, 1, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=30 * i))); k += 1
    # cust 2: erratic gaps
    for d in (0, 3, 100, 103, 290):
        rows.append((k, 2, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d))); k += 1
    orders = spark.createDataFrame(rows, "o_orderkey long, o_custkey long, o_orderdate timestamp")
    out = {r["o_custkey"]: r for r in R.subscription_detect(orders).collect()}
    assert set(out) == {1}
    assert out[1]["gap_cv"] == 0.0
    assert out[1]["mean_gap_days"] == 30.0


def test_time_decay_attribution_hand_weights(spark):
    import datetime
    import math

    from simple_vector_spark.operators import events as E

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # one purchase of 100 with two touches: a click 1 day before
        # (weight 0.5^(1/3.5)) and a view 7 days before (0.5^2)
        (1, 1, "click", t0 - datetime.timedelta(days=1), 0.0),
        (2, 1, "view", t0 - datetime.timedelta(days=7), 0.0),
        (3, 1, "purchase", t0, 100.0),
        # a touch outside the window contributes nothing
        (4, 1, "view", t0 - datetime.timedelta(days=30), 0.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp, value double")
    out = {r["touch_type"]: r for r in E.time_decay_attribution(ev).collect()}
    w_click = round(math.pow(0.5, 1 / 3.5), 9)
    w_view = round(math.pow(0.5, 2.0), 9)
    total = w_click + w_view
    assert abs(out["click"]["credited_value"] - round(100 * w_click / total, 4)) < 1e-3
    assert abs(out["view"]["credited_value"] - round(100 * w_view / total, 4)) < 1e-3
    assert out["view"]["n_credited_touches"] == 1  # day-30 touch excluded


def test_error_budget_burn_rates(spark):
    import datetime

    from simple_vector_spark.operators import events as E

    rows, eid = [], 0
    # day 1: 100 events, 1 error -> exactly on budget (burn 1.0)
    # day 2: 100 events, 5 errors -> burn 5.0
    for day, n_err in ((1, 1), (2, 5)):
        for i in range(100):
            et = "error" if i < n_err else "view"
            rows.append((eid, et, datetime.datetime(2024, 6, day, 10))); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    out = {r["day"].day: r for r in E.error_budget_burn(ev).collect()}
    assert out[1]["burn_rate"] == 1.0
    assert out[2]["burn_rate"] == 5.0
    # whole-period budget: 200 events * 1% = 2 allowed; day 2 alone
    # consumed 2.5x of it
    assert out[2]["period_budget_share"] == 2.5


def test_storage_stats_invariants(spark, sf_dir):
    from simple_vector_spark import registry as REG
    from simple_vector_spark.sources.loaders import TABLES, load_table

    out = {r["table_name"]: r for r in REG.table_storage_stats(spark, sf_dir).collect()}
    assert set(out) == set(TABLES)
    for t, r in out.items():
        assert r["files_positive"] is True
        assert r["bytes_positive"] is True
    assert out["lineitem"]["n_rows"] == load_table(spark, sf_dir, "lineitem").count()


def test_pq_distortion_zero_when_corpus_is_codebook(spark):
    from simple_vector_spark.operators import ann as A

    # corpus vectors == centroid rows -> perfect reconstruction
    rows = [(i, [float(i)] * 64) for i in A.CENTROID_IDS]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = A.pq_codebooks(A.fit_vectors(emb, A.CENTROID_IDS))
    r = A.pq_distortion_audit(emb, cbs).collect()[0]
    assert r["mean_distortion"] == 0.0
    assert r["max_distortion"] == 0.0
    # a perturbed vector picks up exactly its offset energy
    emb2 = spark.createDataFrame(
        rows + [(999, [float(A.CENTROID_IDS[0]) + 1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    r2 = A.pq_distortion_audit(emb2, cbs).collect()[0]
    assert r2["max_distortion"] > 0


def test_latency_mw_detects_faster_urgent(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    d0 = datetime.datetime(2024, 1, 1)
    orders_rows, li_rows, k = [], [], 0
    # URGENT ships in 1-2 days, LOW in 20-21 days
    for prio, base in (("1-URGENT", 1), ("5-LOW", 20)):
        for i in range(30):
            orders_rows.append((k, prio, d0))
            li_rows.append((k, d0 + datetime.timedelta(days=base + (i % 2))))
            k += 1
    orders = spark.createDataFrame(
        orders_rows, "o_orderkey long, o_orderpriority string, o_orderdate timestamp"
    )
    li = spark.createDataFrame(li_rows, "l_orderkey long, l_shipdate timestamp")
    r = R.latency_inversion_mw(orders, li).collect()[0]
    assert r["u_stat"] == 0.0  # every URGENT beats every LOW
    assert r["latency_differs"] is True
    assert r["z"] < -5


def test_user_zipf_flat_for_uniform_activity(spark):
    import datetime

    from simple_vector_spark.operators import events as E

    rows = []
    eid = 0
    for u in range(50):
        for j in range(10):  # everyone equally active
            rows.append((eid, u, datetime.datetime(2024, 1, 1, 10, j))); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    r = E.user_activity_zipf(ev).collect()[0]
    assert r["slope"] == 0.0  # perfectly flat: no heavy tail

    # power-law activity: user u gets ~1000/(u+1) events -> slope ~ -1
    rows2, eid = [], 0
    for u in range(40):
        for j in range(max(1, 200 // (u + 1))):
            rows2.append((eid, u, datetime.datetime(2024, 1, 1, 10, 0))); eid += 1
    ev2 = spark.createDataFrame(rows2, "event_id long, user_id long, ts timestamp")
    r2 = E.user_activity_zipf(ev2).collect()[0]
    assert -1.3 < r2["slope"] < -0.7


def test_sla_trend_quarters_and_delta(spark):
    import datetime

    from simple_vector_spark.operators import relational as R

    orders_rows, li_rows, k = [], [], 0
    # Q1: all within 14d; Q2: none within 14d
    for month, lat in ((1, 5), (4, 30)):
        for i in range(10):
            d0 = datetime.datetime(2024, month, 2)
            orders_rows.append((k, d0))
            li_rows.append((k, d0 + datetime.timedelta(days=lat)))
            k += 1
    orders = spark.createDataFrame(orders_rows, "o_orderkey long, o_orderdate timestamp")
    li = spark.createDataFrame(li_rows, "l_orderkey long, l_shipdate timestamp")
    out = {r["quarter"]: r for r in R.sla_trend(orders, li).collect()}
    assert out["2024-1"]["on_time_share"] == 1.0
    assert out["2024-2"]["on_time_share"] == 0.0
    assert out["2024-2"]["qoq_delta"] == -1.0
    assert out["2024-1"]["qoq_delta"] is None
