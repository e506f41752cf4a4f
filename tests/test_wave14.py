"""Wave-14 operators on hand-computed micro-fixtures: unigram-LM
quality scoring, BPE merge candidates, PCA power iteration, per-user
anomaly z-scores."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import events as E
from simple_vector_spark.operators import text_analysis as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_logprob_common_beats_rare(spark):
    # corpus: 'the' appears 6x, 'zyzzyva' once -> doc of common words
    # must score strictly higher than the doc holding the rare token
    docs = _docs(
        spark,
        [
            (1, "the the the"),
            (2, "the the zyzzyva"),
        ],
    )
    out = {r["doc_id"]: r for r in T.unigram_logprob(docs).collect()}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 3
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    # exact: doc 1 = ln(5/6) avg; doc 2 = (2*ln(5/6) + ln(1/6)) / 3
    assert abs(out[1]["avg_logprob"] - round(math.log(5 / 6), 4)) < 1e-9
    expect2 = round((2 * math.log(5 / 6) + math.log(1 / 6)) / 3, 4)
    assert abs(out[2]["avg_logprob"] - expect2) < 1e-9


def test_bpe_pairs_counts_and_order(spark):
    # 'abab' -> ab, ba, ab ; 'ab' -> ab ; single char 'x' -> none
    docs = _docs(spark, [(1, "abab ab"), (2, "x")])
    rows = T.bpe_pair_candidates(docs, 10).collect()
    got = {r["pair"]: r["n"] for r in rows}
    assert got == {"ab": 3, "ba": 1}
    # order: count desc then pair asc
    assert [r["pair"] for r in rows] == ["ab", "ba"]


def test_pca_power_iter_finds_dominant_axis(spark):
    # variance concentrated on dim 0: power step from v0=ones must tilt
    # the direction overwhelmingly onto dim 0, and the output is unit-norm
    emb = spark.createDataFrame(
        [(i, [float(10 + (i % 3)), 0.1, 0.1, 0.1]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    comp = {r["pos"]: r["component"] for r in A.pca_power_iteration(emb).collect()}
    assert set(comp) == {0, 1, 2, 3}
    norm = math.sqrt(sum(c * c for c in comp.values()))
    assert abs(norm - 1.0) < 1e-4
    assert comp[0] > 0.99
    assert all(abs(comp[d]) < 0.1 for d in (1, 2, 3))


def test_anomaly_zscore_flags_planted_outlier(spark):
    # user 1: nine 10.0s and one 100.0 -> the 100 is far beyond 2 sigma
    # user 2: constant stream -> std 0, no outliers
    rows = [(i, 1, 10.0) for i in range(9)] + [(9, 1, 100.0)]
    rows += [(100 + i, 2, 5.0) for i in range(4)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    out = {r["user_id"]: r for r in E.value_anomaly_zscore(ev).collect()}
    assert out[1]["n_events"] == 10 and out[1]["n_outliers"] == 1
    assert abs(out[1]["mean_value"] - 19.0) < 1e-6
    assert out[2]["n_outliers"] == 0 and out[2]["std_value"] == 0.0


def test_zipf_slope_exact_least_squares(spark):
    # vocab: 'a' x4, 'b' x2, 'c' x1 -> ranks 1,2,3; slope computable by hand
    docs = _docs(spark, [(1, "a a a a b b c")])
    row = T.vocab_zipf_slope(docs, 500).collect()[0]
    xs = [round(math.log(r), 6) for r in (1, 2, 3)]
    ys = [round(math.log(f), 6) for f in (4, 2, 1)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row["n_used"] == 3
    assert abs(row["slope"] - round(slope, 4)) < 1e-9
    assert abs(row["intercept"] - round((sy - slope * sx) / n, 4)) < 1e-9


def test_pareto_deciles_shares(spark):
    from simple_vector_spark.operators import relational as R

    # 10 customers, spends 10..1 -> one per decile; shares = spend/55
    rows = [(i, i, 11.0 - (i + 1)) for i in range(10)]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    )
    out = sorted(R.revenue_pareto_deciles(orders).collect(), key=lambda r: r["decile"])
    assert [r["n_customers"] for r in out] == [1] * 10
    assert float(out[0]["revenue"]) == 10.0  # decile 1 = biggest spender
    assert abs(sum(r["revenue_share"] for r in out) - 1.0) < 1e-4
    assert out[0]["revenue_share"] > out[-1]["revenue_share"]


def test_rolling_wau_trailing_window(spark):
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1)),
            (2, 20, datetime(2024, 1, 5)),
            (3, 10, datetime(2024, 1, 9)),  # > 7 days after day 1
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = {str(r["target_day"]): r["wau"] for r in E.rolling_wau(ev, 7).collect()}
    # observed days only: Jan 1 (u10), Jan 5 (u10 still in window + u20),
    # Jan 9 (u10 again via the Jan-9 event, u20 from Jan 5)
    assert out == {"2024-01-01": 1, "2024-01-05": 2, "2024-01-09": 2}


def test_zorder_interleave_and_envelopes(spark):
    from datetime import datetime

    # u=1,h=0 -> z=1 -> file 0 ; u=0,h=8 -> bit 7 set -> z=128 -> file 8
    ev = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 1, 0)),
            (2, 0, datetime(2024, 1, 1, 8)),
            (3, 3, datetime(2024, 1, 1, 1)),  # z = 1+2+4 = 7 -> file 0
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = {r["zfile"]: r for r in E.zorder_layout_audit(ev).collect()}
    assert set(out) == {0, 8}
    assert out[0]["n_rows"] == 2
    assert out[0]["min_user_bucket"] == 1 and out[0]["max_user_bucket"] == 3
    assert out[0]["min_hour_bucket"] == 0 and out[0]["max_hour_bucket"] == 1
    assert out[8]["n_rows"] == 1 and out[8]["min_hour_bucket"] == 8


def test_maxsim_best_member_wins(spark):
    from simple_vector_spark.operators import knn as K

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),   # the query itself: label 1 holds sim=1.0
            (1, [0.0, 1.0], 1),   # orthogonal member does not drag max down
            (2, [0.0, 1.0], 2),   # label 2: all orthogonal
            (3, [-1.0, 0.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = K.label_maxsim_topk(emb, A.fit_vectors(emb, [0])[0][1], 5).collect()
    assert [r["label"] for r in out] == [1, 2]
    assert out[0]["max_sim"] == 1.0
    assert out[0]["mean_sim"] == 0.5
    assert out[1]["max_sim"] == 0.0


def test_tfidf_distinguishing_terms(spark):
    docs = spark.createDataFrame(
        [
            (1, "common alpha", "s1"),
            (2, "common beta", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = T.source_tfidf_terms(docs, 1).collect()
    best = {r["source"]: r["token"] for r in out}
    # 'common' has idf=ln(1)=0; the unique token wins each source
    assert best == {"s1": "alpha", "s2": "beta"}


def test_join_size_estimate_exact_count(spark):
    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 2, 30.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    li = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 3.0), (3, 4.0)],
        "l_orderkey long, l_quantity double",
    )
    row = R.join_size_estimate(orders, li).collect()[0]
    # true join size: key 1 -> 1*3, key 3 -> 1*1
    assert row["exact_rows"] == 4
    assert row["exact_rows"] == orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert row["est_rows"] % 10 == 0  # scaled sample is a multiple of mod


def test_monthly_seasonality_uniform_is_one(spark):
    from datetime import datetime

    from simple_vector_spark.operators import relational as R

    rows = [(i, 1, 100.0, datetime(1995, m, 1)) for i, m in enumerate([1, 2, 3, 4])]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp"
    )
    out = {r["month"]: r for r in R.monthly_seasonality(orders).collect()}
    # equal revenue in 4 months -> each holds 1/4 of total -> index = 3.0
    assert set(out) == {1, 2, 3, 4}
    for r in out.values():
        assert abs(r["seasonality_index"] - 3.0) < 1e-6


def test_norm_outlier_audit_flags_spike(spark):
    from simple_vector_spark.operators import ann as A

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(9)] + [(9, [100.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    row = A.norm_outlier_audit(emb).collect()[0]
    assert row["n_vecs"] == 10
    assert row["n_outliers"] == 1
    assert abs(row["mean_norm"] - 10.9) < 1e-6


def test_markov_transitions_probabilities(spark):
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, 1, "a", datetime(2024, 1, 1, 0)),
            (2, 1, "b", datetime(2024, 1, 1, 1)),
            (3, 1, "a", datetime(2024, 1, 1, 2)),
            (4, 1, "c", datetime(2024, 1, 1, 3)),
            (5, 2, "a", datetime(2024, 1, 1, 0)),
            (6, 2, "b", datetime(2024, 1, 1, 1)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = {(r["prev_type"], r["next_type"]): r for r in E.event_transition_matrix(ev).collect()}
    # a -> b twice (u1, u2), a -> c once; row 'a' normalizes to 2/3, 1/3
    assert out[("a", "b")]["n"] == 2 and abs(out[("a", "b")]["p"] - round(2 / 3, 6)) < 1e-9
    assert out[("a", "c")]["n"] == 1 and abs(out[("a", "c")]["p"] - round(1 / 3, 6)) < 1e-9
    assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["p"] == 1.0
    # no cross-user transition (u1's last 'c' never precedes u2's 'a')
    assert ("c", "a") not in out


def test_rfm_cells_cover_all_customers(spark):
    from datetime import datetime

    from simple_vector_spark.operators import relational as R

    rows = [
        (i, c, 100.0 * (c + 1), datetime(1996, 1 + (c % 12), 1))
        for i, c in enumerate(list(range(8)) * 2)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp"
    )
    out = R.rfm_segments(orders).collect()
    assert sum(r["n_customers"] for r in out) == 8
    for r in out:
        assert 1 <= r["r"] <= 4 and 1 <= r["f"] <= 4 and 1 <= r["m"] <= 4


def test_lsh_band_tuning_monotone_candidates(spark):
    from simple_vector_spark.operators import dedup as D

    # near-dup docs sharing most shingles + unrelated docs
    base = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " again"),
            (3, "completely different words about spark physical plans"),
            (4, "yet another unrelated document mentioning duckdb oracles"),
        ],
        "doc_id long, text string",
    )
    out = {r["layout"]: r["n_candidate_pairs"] for r in D.lsh_band_tuning(docs).collect()}
    assert set(out) == {"8x1", "4x2", "2x4"}
    # looser bands can only produce MORE candidates
    assert out["8x1"] >= out["4x2"] >= out["2x4"]
    assert out["8x1"] >= 1  # the near-dup pair must surface somewhere


def test_ivf_recall_curve_monotone(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)], i % 2) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    cents = A.fit_vectors(emb, [0, 1, 2])
    out = {
        r["nprobe"]: r["recall"]
        for r in A.ivf_recall_curve(
            emb, A.fit_vectors(emb, [5])[0][1], cents, 5, (1, 2, 3)
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] <= out[2] <= out[3]
    # probing every cell IS the exact search
    assert out[3] == 1.0


def test_dup_rate_by_source_planted(spark):
    from simple_vector_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "x", "s1"),
            (2, "y", "s1"),
            (3, "z", "s2"),
            (4, "w", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = {r["source"]: r for r in D.dup_rate_by_source(docs, pairs).collect()}
    assert out["s1"]["n_dup_docs"] == 2 and out["s1"]["dup_rate"] == 1.0
    assert out["s2"]["n_dup_docs"] == 0 and out["s2"]["dup_rate"] == 0.0


def test_partition_advisor_arithmetic(spark):
    from simple_vector_spark.operators import relational as R

    li = spark.createDataFrame([(i,) for i in range(100)], "l_orderkey long")
    row = R.shuffle_partition_advisor({"lineitem": li}).collect()[0]
    assert row["n_rows"] == 100
    assert row["est_bytes"] == 100 * R.ROW_WIDTH_BYTES["lineitem"]
    assert row["advised_partitions"] == 1  # far below one 128 MB target


def test_session_conversion_counts(spark):
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            # u1 session 1: view then purchase (converted)
            (1, 1, "view", datetime(2024, 1, 1, 0, 0)),
            (2, 1, "purchase", datetime(2024, 1, 1, 0, 10)),
            # u1 session 2 (>30 min later): view only
            (3, 1, "view", datetime(2024, 1, 1, 2, 0)),
            # u2 one session, no purchase
            (4, 2, "click", datetime(2024, 1, 1, 0, 0)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    row = E.session_conversion(ev).collect()[0]
    assert row["n_sessions"] == 3
    assert row["n_converted"] == 1
    assert abs(row["conversion_rate"] - round(1 / 3, 6)) < 1e-9


def test_measure_melt_totals(spark):
    from simple_vector_spark.operators import relational as R

    li = spark.createDataFrame(
        [(1, 2.0, 100.0, 0.1, 0.05), (2, 3.0, 200.0, 0.2, 0.08)],
        "l_orderkey long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double",
    )
    out = {r["measure"]: r for r in R.lineitem_measure_melt(li).collect()}
    assert set(out) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    assert float(out["l_quantity"]["total"]) == 5.0
    assert float(out["l_extendedprice"]["max_v"]) == 200.0
    assert all(r["n"] == 2 for r in out.values())


def test_kmeans_drift_zero_at_fixpoint(spark):
    # two tight clusters whose centroids ARE the cluster means ->
    # one Lloyd step moves nothing, drift must be 0
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [10.0, 10.0, 10.0, 10.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [10.0, 10.0, 10.0, 10.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = A.kmeans_drift(emb, A.fit_vectors(emb, [0, 1])).collect()
    assert len(out) == 2
    for r in out:
        assert r["drift_sq"] == 0.0


def test_char_entropy_bounds(spark):
    docs = _docs(spark, [(1, "aaaa"), (2, "abcd")])
    out = {r["doc_id"]: r for r in T.char_entropy(docs).collect()}
    # constant string -> 0 bits; 4 equiprobable chars -> exactly 2 bits
    assert out[1]["entropy_bits"] == 0.0
    assert out[2]["entropy_bits"] == 2.0
    assert out[2]["n_distinct_chars"] == 4


def test_dim_variance_flags_dead_dim(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 5.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    out = {r["pos"]: r for r in A.dim_variance_profile(emb).collect()}
    # dim 1 constant -> var 0; dim 0 = 0..9 -> sample var 55/6
    assert out[1]["var_x"] == 0.0
    assert abs(out[0]["var_x"] - round(55 / 6, 6)) < 1e-6
    assert out[0]["mean_x"] == 4.5


def test_cohort_ltv_grid(spark):
    from datetime import datetime

    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [
            (1, 1, 100.0, datetime(1995, 1, 1)),
            (2, 1, 50.0, datetime(1996, 6, 1)),   # same customer, later year
            (3, 2, 70.0, datetime(1996, 3, 1)),   # new customer in 1996
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    )
    out = {(r["cohort_year"], r["order_year"]): r for r in R.cohort_ltv(orders).collect()}
    assert float(out[(1995, 1995)]["revenue"]) == 100.0
    assert float(out[(1995, 1996)]["revenue"]) == 50.0   # cohort 1995 spending in 1996
    assert float(out[(1996, 1996)]["revenue"]) == 70.0
    assert out[(1995, 1996)]["n_customers"] == 1


def test_first_repeat_interval_stats(spark):
    from datetime import datetime

    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [
            (1, 1, 10.0, datetime(1995, 1, 1)),
            (2, 1, 10.0, datetime(1995, 1, 11)),  # gap 10 days
            (3, 1, 10.0, datetime(1995, 5, 1)),   # third order ignored
            (4, 2, 10.0, datetime(1995, 1, 1)),   # one-timer: excluded
            (5, 3, 10.0, datetime(1995, 2, 1)),
            (6, 3, 10.0, datetime(1995, 2, 21)),  # gap 20 days
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    )
    row = R.first_repeat_interval(orders).collect()[0]
    assert row["n_repeat_customers"] == 2
    assert row["min_days"] == 10 and row["max_days"] == 20
    assert row["avg_days"] == 15.0


def test_containment_catches_subset_dup(spark):
    from simple_vector_spark.operators import dedup as D

    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # small doc = a strict prefix -> all its shingles live inside big:
    # containment(small)=1.0 while Jaccard is well under 0.5
    small = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, big, "s1"), (2, small, "s1"), (3, "unrelated text entirely here", "s1")],
        "doc_id long, text string, source string",
    )
    out = D.shingle_containment_pairs(docs, 0.8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["cont_b"] == 1.0  # the smaller doc is fully contained
    assert r["cont_a"] < 0.5


def test_error_burst_planted(spark):
    from datetime import datetime, timedelta

    rows = []
    # 6 calm buckets: 1 error in 10 events each
    base = datetime(2024, 1, 1)
    eid = 0
    for b in range(6):
        for i in range(10):
            rows.append(
                (eid, 1, "error" if i == 0 else "view", base + timedelta(minutes=10 * b, seconds=i))
            )
            eid += 1
    # burst bucket: 9 errors in 10 events
    for i in range(10):
        rows.append(
            (eid, 1, "error" if i < 9 else "view", base + timedelta(minutes=60, seconds=i))
        )
        eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    out = E.error_burst_detect(ev).collect()
    assert len(out) == 1
    assert out[0]["n_err"] == 9 and out[0]["err_share"] == 0.9


def test_priority_mix_drift_shares(spark):
    from datetime import datetime

    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [
            (1, 1, 1.0, datetime(1995, 1, 1), "1-URGENT"),
            (2, 1, 1.0, datetime(1995, 2, 1), "2-HIGH"),
            (3, 1, 1.0, datetime(1995, 4, 1), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string",
    )
    out = {(r["quarter"], r["o_orderpriority"]): r for r in R.priority_mix_drift(orders).collect()}
    # Q1: urgent 1/2 vs overall 2/3 -> drift = -1/6
    r = out[("1995-Q1", "1-URGENT")]
    assert r["share"] == 0.5 and abs(r["overall_share"] - round(2 / 3, 6)) < 1e-9
    assert abs(r["drift"] - round(0.5 - 2 / 3, 6)) < 1e-9
    # Q2 is all urgent
    assert out[("1995-Q2", "1-URGENT")]["share"] == 1.0


def test_pair_graph_degree_histogram(spark):
    from simple_vector_spark.operators import dedup as D

    # star: 1-2, 1-3, 1-4 -> node 1 degree 3, nodes 2-4 degree 1
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long")
    out = {r["degree"]: r["n_docs"] for r in D.pair_graph_degree_histogram(pairs).collect()}
    assert out == {3: 1, 1: 3}


def test_supplier_redundancy_histogram(spark):
    from simple_vector_spark.operators import relational as R

    li = spark.createDataFrame(
        # part 1: suppliers 10,20 (dup rows collapse); part 2: supplier 10
        [(1, 10), (1, 20), (1, 10), (2, 10)],
        "l_partkey long, l_suppkey long",
    )
    out = {r["n_suppliers"]: r["n_parts"] for r in R.part_supplier_redundancy(li).collect()}
    assert out == {2: 1, 1: 1}


def test_source_token_budget_shares(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e", "s1"), (3, "f", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in T.source_token_budget(docs).collect()}
    assert out["s1"]["n_tokens"] == 5 and out["s2"]["n_tokens"] == 1
    assert out["s1"]["n_docs"] == 2
    assert abs(out["s1"]["token_share"] - round(5 / 6, 6)) < 1e-9


def test_cluster_size_histogram(spark):
    from simple_vector_spark.operators import dedup as D

    clusters = spark.createDataFrame(
        # cluster 1 has 3 members, clusters 10 and 20 have 2 each
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)],
        "node long, cluster long",
    )
    out = {r["size"]: r["n_clusters"] for r in D.cluster_size_histogram(clusters).collect()}
    assert out == {3: 1, 2: 2}


def test_novelty_first_doc_owns_shingles(spark):
    base = "one two three four five"
    docs = _docs(
        spark,
        [
            (1, base),                      # owns all its 3 shingles
            (2, base),                      # exact copy -> novelty 0
            (3, "six seven eight nine"),    # disjoint -> novelty 1
        ],
    )
    out = {r["doc_id"]: r for r in T.novelty_share(docs).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[1]["n_shingles"] == 3


def test_hour_of_week_heatmap_cells(spark):
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, 1, 2.0, datetime(2024, 1, 1, 9)),   # Monday 9am
            (2, 1, 3.0, datetime(2024, 1, 8, 9)),   # next Monday 9am
            (3, 1, 1.0, datetime(2024, 1, 2, 14)),  # Tuesday 2pm
        ],
        "event_id long, user_id long, value double, ts timestamp",
    )
    out = {(r["dow"], r["hour"]): r for r in E.hour_of_week_heatmap(ev).collect()}
    # Spark dayofweek: Sunday=1 -> Monday=2, Tuesday=3
    assert out[(2, 9)]["n"] == 2 and float(out[(2, 9)]["sum_value"]) == 5.0
    assert out[(3, 14)]["n"] == 1


def test_gini_uniform_and_concentrated(spark):
    from simple_vector_spark.operators import relational as R

    uniform = spark.createDataFrame(
        [(i, i, 100.0) for i in range(10)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    g_u = R.spend_gini(uniform).collect()[0]["gini"]
    assert abs(g_u) < 1e-9  # equal spends -> 0

    skewed = spark.createDataFrame(
        [(i, i, 0.01) for i in range(9)] + [(9, 9, 10000.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    g_s = R.spend_gini(skewed).collect()[0]["gini"]
    assert g_s > 0.85  # near-total concentration


def test_user_type_entropy_bounds(spark):
    ev = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "a"), (3, 2, "a"), (4, 2, "b"), (5, 2, "c"), (6, 2, "d")],
        "event_id long, user_id long, event_type string",
    )
    out = {r["user_id"]: r for r in E.user_type_entropy(ev).collect()}
    assert out[1]["entropy_bits"] == 0.0          # single action type
    assert out[2]["entropy_bits"] == 2.0          # 4 equiprobable types
    assert out[2]["n_types"] == 4


def test_aov_trend_delta(spark):
    from datetime import datetime

    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [
            (1, 1, 100.0, datetime(1995, 1, 5)),
            (2, 2, 200.0, datetime(1995, 1, 20)),  # Jan AOV 150
            (3, 3, 250.0, datetime(1995, 2, 1)),   # Feb AOV 250 -> delta +100
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    )
    out = {r["month"]: r for r in R.aov_trend(orders).collect()}
    assert out["1995-01"]["aov"] == 150.0 and out["1995-01"]["aov_delta"] is None
    assert out["1995-02"]["aov_delta"] == 100.0


def test_label_balance_shares(spark):
    emb = spark.createDataFrame(
        [(i, [0.0], 0) for i in range(6)] + [(10 + i, [0.0], 1) for i in range(2)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in A.label_balance_audit(emb).collect()}
    assert out[0]["n_vecs"] == 6 and out[0]["share"] == 0.75
    assert out[0]["skew_vs_uniform"] == 1.5  # 6 of 8 across 2 classes
    assert out[1]["skew_vs_uniform"] == 0.5
