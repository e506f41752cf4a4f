"""Second coverage wave: sharded NumPy k-NN, WAL replay, id allocation,
sessionization, sampling/vocab/histogram, stateful streaming."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import events as E
from simple_vector_spark.operators import knn as K
from simple_vector_spark.operators import mutation as M
from simple_vector_spark.operators import text_analysis as T
from simple_vector_spark.sources.loaders import load_table


def _tie_corpus(spark):
    """Four array<double> rows whose squared distances to row 0 are
    half-micro ties (5e-07, 1.25e-05, 2.5e-06): Spark's ROUND takes them
    up, a round-half-even kernel down."""
    return spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (1, 0, [0.0005, 0.0005]),
            (2, 0, [0.0005, 0.0035]),
            (3, 0, [0.0015, 0.0005]),
        ],
        "vec_id long, label int, embedding array<double>",
    )


TIE_DISTS = {0: 0.0, 1: 1e-06, 2: 1.3e-05, 3: 3e-06}


def test_knn_shard_topk_equals_expression_form(spark, sf_dir):
    """The NumPy shard path is exact: identical ids+distances to the
    expression form, on the fixture and on rounding ties."""
    fixture = load_table(spark, sf_dir, "embeddings")
    for emb, k in ((fixture, 10), (_tie_corpus(spark), 4)):
        q = A.fit_vectors(emb, [0])[0][1]
        expr = {(r.vec_id, r.dist) for r in K.knn_topk(emb, q, k, "sqL2").collect()}
        shard = {(r.vec_id, r.dist) for r in K.knn_shard_topk(emb, q, k).collect()}
        assert shard == expr
    assert expr == set(TIE_DISTS.items())


def test_embedding_norms_arrow_rounds_like_spark(spark, tmp_path):
    """The Arrow norm kernel equals ROUND(l2_norm(v), 6) on half-micro
    norms, where round-half-even would give 0.0 and 2e-06."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_vector_spark.functions.vector import double_array, l2_norm
    from simple_vector_spark.registry import queries

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1], pa.int64()),
                "embedding": pa.array([[5e-07], [2.5e-06]], pa.list_(pa.float64())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = queries()["embedding_norms_arrow"](spark, str(tmp_path))
    expr = load_table(spark, str(tmp_path), "embeddings").select(
        "vec_id", F.expr(f"ROUND({l2_norm(double_array('embedding'))}, 6) AS l2_norm")
    )
    assert sorted(got.collect()) == sorted(expr.collect())
    assert sorted(r.l2_norm for r in got.collect()) == [1e-06, 3e-06]


def test_wal_replay_drops_tombstoned_keys(spark):
    log = spark.createDataFrame(
        [
            (1, 1, "upsert", 10.0),
            (1, 2, "delete", 0.0),
            (2, 1, "upsert", 20.0),
            (2, 2, "delete", 0.0),
            (2, 3, "upsert", 30.0),
        ],
        "id long, seq long, op string, v double",
    )
    state = M.wal_replay(log, ["id"], ["seq"], "op", "delete").collect()
    assert {r.id: r.v for r in state} == {2: 30.0}


def test_allocate_ids_dense_and_ordered(spark):
    df = spark.createDataFrame(
        [("b", 10), ("a", 20), ("a", 5)], "grp string, k long"
    )
    out = M.allocate_ids(df, ["grp", "k"]).collect()
    got = {(r.grp, r.k): r.new_id for r in out}
    assert got == {("a", 5): 1, ("a", 20): 2, ("b", 10): 3}


def test_partitioned_snapshot_prunes_and_roundtrips(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, label int"
    )
    path = str(tmp_path / "snap")
    schema = M.snapshot(df, path, partition_by=["label"])
    back = M.restore(spark, path, schema).filter(F.col("label") == 1)
    assert sorted(r.id for r in back.collect()) == [i for i in range(30) if i % 3 == 1]
    # partition pruning visible in the plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "label" in plan


def test_sessionize_gap_semantics(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),  # same session (<30m)
            (1, "2024-01-01 01:00:00", 3.0),  # new session (50m gap)
            (2, "2024-01-01 00:00:00", 4.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = E.sessionize(ev, "30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.n))
    assert len(by_user[1]) == 2
    assert sorted(by_user[1]) == [
        ("2024-01-01 00:00:00", 2),
        ("2024-01-01 01:00:00", 1),
    ]
    assert by_user[2] == [("2024-01-01 00:00:00", 1)]


def test_hash_sample_deterministic_and_stratified(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    s1 = T.hash_sample(docs, {"en": 25}, 60)
    s2 = T.hash_sample(docs.repartition(7), {"en": 25}, 60)
    ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # partitioning-independent
    # strata rates roughly honored (hash-uniform)
    tot = docs.groupBy("lang").count().collect()
    kept = s1.groupBy("lang").count().collect()
    tot_m = {r.lang: r["count"] for r in tot}
    kept_m = {r.lang: r["count"] for r in kept}
    en_rate = kept_m.get("en", 0) / tot_m["en"]
    assert 0.05 < en_rate < 0.45


def test_vocab_and_histogram_shapes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    vocab = T.vocab_topn(docs, 10).collect()
    assert len(vocab) == 10
    assert all(vocab[i].n >= vocab[i + 1].n for i in range(9))
    hist = T.length_histogram(docs).collect()
    assert sum(r.n for r in hist) == docs.count()


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    from simple_vector_spark.streaming import jobs as SJ

    got = {
        r.user_id: (r.n, r.sum_value)
        for r in SJ.stateful_user_totals(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n, r.sum_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-5


def test_knn_shard_join_equals_expression_form(spark, sf_dir):
    fixture = load_table(spark, sf_dir, "embeddings")
    for emb, nq, k in ((fixture, 8, 5), (_tie_corpus(spark), 1, 4)):
        qs = emb.filter(F.col("vec_id") < nq)
        expr = {
            (r.query_id, r.vec_id, r.dist, r.rnk)
            for r in K.knn_join(emb, qs, k, "sqL2").collect()
        }
        shard = {
            (r.query_id, r.vec_id, r.dist, r.rnk)
            for r in K.knn_shard_join(emb, qs, k).collect()
        }
        assert shard == expr
    assert {(v, d) for _, v, d, _ in expr} == set(TIE_DISTS.items())


def test_salted_join_equals_plain_join(spark):
    from simple_vector_spark.operators import relational as R

    # skewed big side: 90% of rows share key 0
    big = spark.createDataFrame(
        [(0 if i % 10 else i % 5, i) for i in range(1000)], "k long, v long"
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(5)], "k long, name string")
    plain = {(r.k, r.v, r.name) for r in big.join(small, "k").collect()}
    salted = {(r.k, r.v, r.name) for r in R.salted_join(big, small, "k", 8).collect()}
    assert salted == plain


def test_salted_join_places_each_key_on_consecutive_partitions(spark):
    """Every key's n_salt slices land on n_salt distinct shuffle
    partitions (all P of them when n_salt >= P), also when the two key
    columns differ in type."""
    from simple_vector_spark.operators import relational as R

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big = spark.range(4000).select(
        (F.col("id") % 7).cast("int").alias("k"), F.col("id").alias("v"))
    small = spark.range(7).select(F.col("id").alias("k"), F.col("id").alias("name"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plain = sorted(map(tuple, big.join(small, "k").collect()))
        for n_salt in (3, 2 * n_part):
            salted = R.salted_join(big, small, "k", n_salt)
            assert sorted(map(tuple, salted.collect())) == plain
            spread = (salted.select("k", F.spark_partition_id().alias("p"))
                      .distinct().groupBy("k").count().collect())
            assert {r["count"] for r in spread} == {min(n_salt, n_part)}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
