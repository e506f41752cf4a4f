"""Wave-237 operators (round 3): graph-ANN recall-vs-beam curve and the
incremental navigable-graph upsert audit — parity with the IVF family
(ann_recall_vs_nprobe, ivf_index_upsert_audit)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A


def _clustered_emb(spark, n_clusters=4, per=30, dim=8, seed=7):
    rng = random.Random(seed)
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [10.0 * (c + 1) * ((d % 2) * 2 - 1) for d in range(dim)]
        for _ in range(per):
            rows.append(
                (vid, [center[d] + rng.uniform(-1, 1) for d in range(dim)])
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cents(emb, ids=(0, 30, 60, 90)):
    return A.fit_vectors(emb, list(ids))


def test_recall_vs_beam_monotone_and_bounded(spark):
    emb = _clustered_emb(spark)
    out = A.graph_recall_vs_beam(
        emb, _cents(emb), query_id=5, k=10, beams=(1, 4, 16)
    ).collect()
    by_beam = {r["beam"]: r for r in out}
    assert set(by_beam) == {1, 4, 16}
    recalls = [by_beam[b]["recall"] for b in (1, 4, 16)]
    assert recalls == sorted(recalls), "recall must not fall as beam grows"
    for r in out:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hit"] == round(r["recall"] * 10)
    # wide beam on a well-clustered corpus should find the neighborhood
    assert by_beam[16]["recall"] >= 0.9


def test_recall_vs_beam_default_beams(spark):
    emb = _clustered_emb(spark, n_clusters=2, per=20)
    out = A.graph_recall_vs_beam(
        emb, _cents(emb, ids=(0, 20)), query_id=3, k=5
    ).collect()
    assert [r["beam"] for r in out] == list(A.GRAPH_RECALL_BEAMS)


def test_graph_upsert_audit_accounting(spark):
    emb = _clustered_emb(spark)
    row = A.graph_index_upsert_audit(emb, _cents(emb)).collect()[0]
    # edge accounting must balance exactly
    assert (
        row["n_edges_after"]
        == row["n_edges_before"] - row["n_dropped"] + row["n_added"]
    )
    assert row["n_batch_rows"] > 0
    assert row["n_affected_cells"] >= 1
    assert row["n_added"] > 0  # inserts must attach somewhere
    assert row["max_out_degree"] <= A.GRAPH_DEGREE


def test_graph_upsert_audit_rejects_misshapen_base_cells(spark):
    import pytest

    emb = _clustered_emb(spark, per=2)
    bad = spark.createDataFrame([(0, 0)], "vec_id long, cell_id int")
    with pytest.raises(ValueError, match=r"base_cells must be \(vec_id, cell\)"):
        A.graph_index_upsert_audit(emb, [(0, [0.0] * 8)], base_cells=bad)


def test_graph_upsert_inserts_present_in_graph(spark):
    # after the audit's merge rules, inserted ids must appear as edge
    # sources: rebuild the after-edges the same way and look for them
    emb = _clustered_emb(spark, n_clusters=2, per=25)
    cents = _cents(emb, ids=(0, 25))
    ins_ids = [
        r["vec_id"] + A.GRAPH_INS_SHIFT
        for r in emb.filter(F.col("vec_id") % A.GRAPH_INS_MOD == 0)
        .select("vec_id")
        .collect()
    ]
    assert ins_ids, "fixture must contain insert ids"
    row = A.graph_index_upsert_audit(emb, cents).collect()[0]
    # every inserted node contributes up to GRAPH_DEGREE out-edges; the
    # added count must cover at least one full new node's out-edges
    assert row["n_added"] >= min(A.GRAPH_DEGREE, 2)


def _dist_mean(spark, emb, cbs):
    from simple_vector_spark.functions.vector import (
        double_array,
        squared_l2,
        vector_literal,
    )

    vv = double_array("embedding")
    mats = vector_literal([[cw for _, cw in cb] for cb in cbs])
    rec = f"flatten(transform(_c, (c, s) -> element_at({mats}, s + 1)[c - 1]))"
    enc = emb.select(F.expr(f"{vv} AS _v"), F.expr(f"{A.pq_encode(vv, cbs)} AS _c"))
    return (
        enc.select(F.expr(f"{squared_l2('_v', rec)} AS d"))
        .agg(F.avg("d"))
        .collect()[0][0]
    )


def test_pq_training_reduces_distortion(spark):
    # per-subspace Lloyd must not increase the quantization objective
    emb = _clustered_emb(spark, n_clusters=4, per=40, dim=16, seed=11)
    seed_cbs = A.pq_codebooks(A.fit_vectors(emb, [0, 40, 80, 120]), m=4)
    trained = A.train_pq_codebooks(
        emb, A.fit_vectors(emb, [0, 40, 80, 120]), iters=2, m=4
    )
    d_seed = _dist_mean(spark, emb, seed_cbs)
    d_trained = _dist_mean(spark, emb, trained)
    assert d_trained <= d_seed + 1e-9


def test_pq_training_keeps_shape(spark):
    emb = _clustered_emb(spark, n_clusters=2, per=20, dim=8, seed=3)
    trained = A.train_pq_codebooks(emb, A.fit_vectors(emb, [0, 20]), iters=1, m=2)
    assert len(trained) == 2  # m subspaces
    for cb in trained:
        assert len(cb) == 2  # ncode codewords
        for _, cw in cb:
            assert len(cw) == 4  # dsub dims


def test_allpairs_decimation_stride(spark, monkeypatch):
    # cap 40 over 100 rows -> stride 3 -> only vec_id % 3 == 0 survive,
    # and the top-k over the strided subset is exact
    from simple_vector_spark.operators import knn as K

    monkeypatch.setattr(K, "ALLPAIRS_SAMPLE_CAP", 40)
    emb = _clustered_emb(spark, n_clusters=2, per=50, dim=4, seed=5)
    out = K.allpairs_topk_arrow(emb, 3).collect()
    ids = {r["qid"] for r in out} | {r["cid"] for r in out}
    assert ids, "decimated all-pairs must still produce rows"
    assert all(i % 3 == 0 for i in ids), "stride rule must hold"
    # exact check for one query: brute force over the strided subset
    import math
    rows = {r["vec_id"]: list(r["embedding"])
            for r in emb.collect() if r["vec_id"] % 3 == 0}
    qid = sorted(rows)[0]
    d = sorted(
        (round(sum((x - y) * (x - y) for x, y in zip(rows[qid], v)), 6), c)
        for c, v in rows.items() if c != qid
    )[:3]
    got = sorted((r["d"], r["cid"]) for r in out if r["qid"] == qid)
    assert got == d


def test_covisit_whale_basket_capped(spark):
    # one 10-part customer, cap 5 -> only the 5 hash-kept parts may
    # appear anywhere in the recommender output
    from simple_vector_spark.functions.text import md5_int
    from simple_vector_spark.operators import relational as R

    parts = list(range(100, 110))
    orders = spark.createDataFrame(
        [(1, 1)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(1, p) for p in parts], "l_orderkey long, l_partkey long"
    )
    out = R.item_covisit_recs(
        orders, lineitem, min_co=1, topk=3, basket_cap=5
    ).collect()
    kept = {
        r["l_partkey"]
        for r in spark.createDataFrame(
            [(1, p) for p in parts], "o_custkey long, l_partkey long"
        )
        .select(
            "l_partkey",
            F.row_number()
            .over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("o_custkey")
                .orderBy(R._covisit_hash_rank().asc(), F.col("l_partkey").asc())
            )
            .alias("r"),
        )
        .filter(F.col("r") <= 5)
        .collect()
    }
    assert len(kept) == 5
    seen = {r["part_id"] for r in out} | {r["rec_part_id"] for r in out}
    assert seen == kept, "capped-out parts must not appear in recs"
    # every kept part pairs with the other 4: co = 1, top-3 each
    assert len(out) == 5 * 3


def test_graph_index_parquet_roundtrip_lossless(spark, tmp_path):
    # the persisted edge table must reload to the exact same multiset
    emb = _clustered_emb(spark, n_clusters=2, per=20, dim=8, seed=9)
    edges = A.knn_graph_navigable(emb, _cents(emb, ids=(0, 20)))
    path = str(tmp_path / "gidx")
    (
        edges.withColumn("bucket", (F.col("vec_id") % 4).cast("int"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    back = spark.read.parquet(path).select("vec_id", "nbr_id", "dist", "rnk")
    key = lambda r: (r["vec_id"], r["nbr_id"], r["dist"], r["rnk"])  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, edges.collect()))


def test_mean6_exact_portable_on_repr_ties(spark):
    # -4.124 / 64 = -0.0644375 exactly: Spark ROUND says -0.064438,
    # DuckDB ROUND says -0.064437 — the exact-integer path must give
    # ONE deterministic HALF_UP answer that matches its SQL twin
    import duckdb

    from simple_vector_spark.operators.ann import _mean6_exact
    from simple_vector_spark.registry import _mean6_sql

    df = spark.createDataFrame(
        [(float(-4.124),)], "s double"
    ).select(F.col("s").cast("decimal(12,3)").alias("s"), F.lit(64).alias("c"))
    got = df.select(_mean6_exact(F.col("s"), F.col("c")).alias("m")).collect()[0]["m"]
    oracle = duckdb.sql(
        "SELECT " + _mean6_sql("CAST(-4.124 AS DECIMAL(12,3))", "64") + " AS m"
    ).fetchone()[0]
    assert got == oracle == -0.064438  # HALF_UP away from zero, both engines


def test_mean6_exact_matches_plain_mean_off_boundary(spark):
    import duckdb

    from simple_vector_spark.operators.ann import _mean6_exact
    from simple_vector_spark.registry import _mean6_sql

    for s, c in ((7.125, 3), (-1.001, 7), (0.0, 5), (123.456, 1)):
        df = spark.createDataFrame([(float(s),)], "s double").select(
            F.col("s").cast("decimal(12,3)").alias("s"), F.lit(c).alias("c")
        )
        got = df.select(_mean6_exact(F.col("s"), F.col("c")).alias("m")).collect()[0]["m"]
        oracle = duckdb.sql(
            "SELECT " + _mean6_sql(f"CAST({s} AS DECIMAL(12,3))", str(c)) + " AS m"
        ).fetchone()[0]
        assert got == oracle, (s, c, got, oracle)
        assert abs(got - s / c) <= 5e-7 + 1e-12


def test_anomaly_zscore_singleton_user_no_nan(spark):
    # ADVICE r02: a single-event user hit 0/0 -> NaN std; the
    # NULLIF/COALESCE guard must yield std 0 and count no outliers
    import datetime as dt
    import math

    from simple_vector_spark.operators.events import value_anomaly_zscore

    rows = [
        (1, dt.datetime(2025, 1, 1, 0, 0, 0), 7, "click", 5.0, "{}"),
    ] + [
        (10 + i, dt.datetime(2025, 1, 1, 0, i, 0), 8, "click", float(i), "{}")
        for i in range(4)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["user_id"]: r for r in value_anomaly_zscore(ev).collect()}
    single = out[7]
    assert single["n_events"] == 1
    assert not math.isnan(single["std_value"])
    assert single["std_value"] == 0.0
    assert single["n_outliers"] == 0
    assert out[8]["std_value"] > 0


def test_allpairs_corpus_smaller_than_k(spark):
    # 3 vectors, k=10: each query gets the 2 possible neighbors
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    from simple_vector_spark.operators import knn as K

    out = K.allpairs_topk_arrow(emb, 10).collect()
    assert len(out) == 6  # 3 queries x 2 neighbors
    assert all(r["rnk"] <= 2 for r in out)


def test_covisit_single_part_customers_no_pairs(spark):
    # every customer bought exactly one part: no co-visitation at all
    from simple_vector_spark.operators import relational as R

    orders = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(i, 100 + i) for i in range(1, 6)],
        "l_orderkey long, l_partkey long",
    )
    assert R.item_covisit_recs(orders, lineitem, min_co=1).count() == 0
    row = R.covisit_holdout_eval(orders, lineitem, min_co=1).collect()[0]
    assert row["n_users_eval"] == 0  # nobody has >= 2 parts to hold out


def test_graph_recall_vs_beam_unknown_query_id(spark):
    # a query id absent from the corpus: empty qv -> zero hits, not a crash
    emb = _clustered_emb(spark, n_clusters=2, per=15, dim=4, seed=2)
    out = A.graph_recall_vs_beam(
        emb, _cents(emb, ids=(0, 15)), query_id=10**9, k=5, beams=(2,)
    ).collect()
    assert [(r["beam"], r["n_hit"]) for r in out] == [(2, 0)]


def test_graph_upsert_audit_no_overlap_mods(spark):
    # corpus whose ids hit NO update mod (all ids % 50 != 0) still
    # inserts shifted copies for ids % 97 == 0 and balances
    rows = [(i, [float(i), 1.0]) for i in range(1, 40)]  # no id%50==0 except none
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = A.fit_vectors(emb, [1, 20])
    row = A.graph_index_upsert_audit(emb, cents).collect()[0]
    assert (
        row["n_edges_after"]
        == row["n_edges_before"] - row["n_dropped"] + row["n_added"]
    )
    assert row["max_out_degree"] <= A.GRAPH_DEGREE


def test_neyman_singleton_stratum_no_crash(spark):
    # one source with a single doc: sd has no estimate -> 0, stratum
    # keeps the 1-doc floor, nothing raises (found by the degenerate
    # sweep: (n-1)=0 used to raise ANSI DIVIDE_BY_ZERO)
    from simple_vector_spark.operators.curation import neyman_allocation

    docs = spark.createDataFrame(
        [(1, "web", 100), (2, "web", 300), (3, "api", 250)],
        "doc_id long, source string, n_chars long",
    )
    rows = {r["source"]: r for r in neyman_allocation(docs, budget=10).collect()}
    assert rows["api"]["sd_chars"] == 0.0
    assert rows["api"]["alloc_neyman"] >= 1
    assert rows["web"]["sd_chars"] > 0
    assert "__total__" in rows


def test_recall_vs_beam_fused_matches_sequential_walks(spark):
    """Round-4 fusion regression guard: the fused multi-beam traversal
    must reproduce knn_graph_greedy_search's per-beam walk EXACTLY —
    same visited top-k, hence the same hits against the exact top-k."""
    emb = _clustered_emb(spark, n_clusters=3, per=25, seed=11)
    cents = _cents(emb, ids=(0, 25, 50))
    k, query_id, beams = 8, 7, (2, 5, 12)
    edges = A.knn_graph_navigable(emb, cents).localCheckpoint()
    fused = {
        r["beam"]: (r["n_hit"], r["recall"])
        for r in A.graph_recall_vs_beam(
            emb, cents, query_id, k, beams=beams, edges=edges
        ).collect()
    }
    # exact top-k baseline (same recipe as the operator)
    from simple_vector_spark.functions.vector import (
        as_double_array,
        double_array,
        squared_l2,
    )

    qv = emb.filter(F.col("vec_id") == query_id).select(
        as_double_array("embedding").alias("qv")
    )
    exact = {
        r["vec_id"]
        for r in emb.crossJoin(qv)
        .select(
            "vec_id",
            F.expr(f"ROUND({squared_l2(double_array('embedding'), 'qv')}, 6) AS d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    }
    for beam in beams:
        walked = {
            r["vec_id"]
            for r in A.knn_graph_greedy_search(
                emb, cents, query_id, k, beam=beam, edges=edges
            ).collect()
        }
        n_hit = len(walked & exact)
        assert fused[beam] == (n_hit, round(n_hit / k, 6)), (
            beam, fused[beam], n_hit,
        )


def test_recall_vs_beam_rows_come_back_sorted_by_beam(spark):
    emb = _clustered_emb(spark, n_clusters=2, per=20)
    out = A.graph_recall_vs_beam(
        emb, _cents(emb, ids=(0, 20)), query_id=3, k=5, beams=(16, 2, 8)
    ).collect()
    assert [r["beam"] for r in out] == [2, 8, 16]


def test_recall_vs_beam_cached_ball_equals_fallback(spark):
    """The registry passes a session-cached seed-set BFS ball into
    graph_recall_vs_beam; the operator's ball=None fallback builds the
    same ball inline.  Both paths must emit identical recall rows —
    the cached ball is a layout optimization, never a semantics
    change."""
    emb = _clustered_emb(spark, n_clusters=3, per=25)
    cents = _cents(emb, ids=(0, 25, 50))
    edges = A.knn_graph_navigable(emb, cents).localCheckpoint()
    fallback = A.graph_recall_vs_beam(
        emb, cents, query_id=7, k=5, edges=edges
    ).collect()
    e2 = edges.select(
        F.col("vec_id").alias("_src"), F.col("nbr_id").alias("_dst")
    )
    ball = spark.createDataFrame([(int(c),) for c, _ in cents], "_id long")
    for _ in range(A.GRAPH_HOPS):
        nbrs = e2.join(
            F.broadcast(ball), F.col("_src") == F.col("_id")
        ).select(F.col("_dst").alias("_id"))
        ball = ball.unionByName(nbrs).distinct()
    cached = A.graph_recall_vs_beam(
        emb, cents, query_id=7, k=5, edges=edges, ball=ball.localCheckpoint()
    ).collect()
    assert [tuple(r) for r in cached] == [tuple(r) for r in fallback]
    assert any(r["n_hit"] > 0 for r in fallback)


def test_cached_index_compaction_is_size_aware(spark):
    """_cached_index compacts a many-partition small index to one
    block (scan-cost contract) but leaves a relation with an array
    column (vector-bearing) partitioned (compute-parallelism
    contract)."""
    from simple_vector_spark.registry.core_dedup import _cached_index

    def build():
        return spark.range(0, 1000, 1, 16).select(F.col("id").alias("k"))

    def build_vectors():
        return build().select("k", F.array(F.col("k").cast("double")).alias("v"))

    compacted = _cached_index(spark, "/tmp/x", "t_compact_on", build)
    assert compacted.rdd.getNumPartitions() == 1
    assert compacted.count() == 1000
    kept = _cached_index(spark, "/tmp/x", "t_compact_off", build_vectors)
    assert kept.rdd.getNumPartitions() == 16
    # cache hit returns the same object, no rebuild
    assert _cached_index(spark, "/tmp/x", "t_compact_on", build) is compacted
