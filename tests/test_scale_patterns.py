"""Scale-pattern demonstrations: bucketed co-located joins, streaming
foreachBatch merge, watermark late-data semantics.  These patterns are
what replaces the fixture-scale shortcuts on a real cluster; the tests
prove the code shapes work, and (for bucketing) that the shuffle
actually disappears from the plan."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from simple_vector_spark.operators import mutation as M


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located equi-join: both sides bucketed by the join key ->
    SortMergeJoin with NO Exchange.  This is the 100-TB answer to the
    corpus<->metadata join (SURVEY.md §1.4: bucket by id)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
        b = spark.range(0, 10000).withColumn("w", F.col("id") % 7)
        ta, tb = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
        a.write.bucketBy(8, "id").sortBy("id").saveAsTable(ta)
        b.write.bucketBy(8, "id").sortBy("id").saveAsTable(tb)
        joined = spark.table(ta).join(spark.table(tb), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing removed both shuffles
        assert joined.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_foreach_batch_upsert_merge(spark, tmp_path):
    """Streaming WAL consumption (O16/O13): rate-source micro-batches
    merged into a snapshot table via foreachBatch + latest-wins —
    the Delta-MERGE shape with pure-DataFrame mechanics."""
    state_path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(0, 0, "init0"), (1, 0, "init1")], "id long, seq long, payload string"
    )
    schema = M.snapshot(base, state_path)

    batch = spark.createDataFrame(
        [(1, 5, "upd1"), (2, 5, "new2")], "id long, seq long, payload string"
    )

    def merge(batch_df, batch_id):
        cur = M.restore(spark, state_path, schema)
        M.snapshot(M.apply_upserts(cur, batch_df, ["id"], ["seq"]), state_path + "_next")

    # simulate one micro-batch exactly as foreachBatch would invoke it
    merge(batch, 0)
    final = {r.id: r.payload for r in M.restore(spark, state_path + "_next", schema).collect()}
    assert final == {0: "init0", 1: "upd1", 2: "new2"}


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Late-data semantics: with a 10-minute watermark, an event older
    than (max_ts - watermark) arriving in a later batch is dropped
    from append-mode windowed output."""
    import pandas as pd

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 12:00:00", 2.0)],
        "event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    on_time.write.mode("overwrite").parquet(src)

    out_path = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("start"), "n")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # late event: 10:30 is far behind the 12:00 max -> watermark closed its window
    late = spark.createDataFrame(
        [(3, "2024-01-01 10:30:00", 3.0)], "event_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    late.write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out_path).collect()
    finalized = {r.start.strftime("%H:%M"): r.n for r in rows}
    # the 10:00 window was finalized with ONE row; the late row did not reopen it
    assert finalized.get("10:00") == 1


def _busiest_reducer_cpu_ms(spark, fn) -> float:
    """Run ``fn().collect()`` and return the largest executorCpuTime (ms)
    among its tasks that read shuffle records, from Spark's status
    store.  CPU time, not run time: a task's run time also counts the
    time it waits for a core, and that grows with whatever else runs on
    the machine."""
    sc, group = spark.sparkContext, f"reduce_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker, longest = jsc.statusStore(), sc.statusTracker(), 0
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is None:
                continue
            tasks = store.taskList(sid, stage.currentAttemptId, 1 << 30)
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined() and m.get().shuffleReadMetrics().recordsRead() > 0:
                    longest = max(longest, m.get().executorCpuTime() / 1e6)
    return longest


def test_salted_join_beats_unsalted_on_skew(spark):
    """Salting must be proven by time, not just plan shape.  A
    deliberately skewed fact (95% of rows on one key) shuffle-joined to
    a dim funnels through one reducer unsalted; the 16-way salt spreads
    the hot key.  Asserts (a) identical results, (b) the hot key's rows
    actually land on >1 shuffle partition under salting, (c) the
    largest reducer's share of rows drops, (d) the busiest reducer's
    CPU time drops by at least a quarter (min of 3 interleaved runs
    each).  (d) reads task CPU time, not query wall time: a wall-clock
    comparison failed whenever other work held the cores the 16 salted
    reducers need."""
    from simple_vector_spark.operators.relational import salted_join

    n = 4_000_000
    fact = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id") % 25)
            .cast("long").alias("k"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
    )
    dim = spark.range(25).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id")).alias("g")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def agg(df):
            return df.groupBy("g").agg(
                F.count("*").alias("cnt"), F.round(F.sum("v"), 3).alias("sv")
            )

        plain = lambda: agg(fact.join(dim, "k"))
        salted = lambda: agg(salted_join(fact, dim, "k", n_salt=16))

        assert sorted(map(tuple, plain().collect())) == sorted(
            map(tuple, salted().collect())
        )

        # hot key spreads over >1 reducer when salted
        hot_parts = (
            salted_join(fact, dim, "k", n_salt=16)
            .filter(F.col("k") == 7)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert hot_parts > 1

        # deterministic balance proof (immune to scheduler noise): the
        # unsalted shuffle funnels >=90% of joined rows through one
        # reducer; salting caps the largest reducer's share
        def part_shares(df):
            rows = (
                df.select(F.spark_partition_id().alias("p"))
                .groupBy("p").count().collect()
            )
            total = sum(r["count"] for r in rows)
            return max(r["count"] for r in rows) / total

        assert part_shares(fact.join(dim, "k")) >= 0.90
        assert part_shares(salted_join(fact, dim, "k", n_salt=16)) <= 0.35

        # time proof: interleave plain/salted pairs, min-of-3 each; 95%
        # of 4M rows on one reducer vs at most 35% on the busiest salted
        # one -- its CPU must fall well below the plain reducer's (4
        # shuffle partitions measured 0.41-0.48x; one salt, 1.0-1.1x)
        t_plain, t_salted = float("inf"), float("inf")
        for _ in range(3):
            t_plain = min(t_plain, _busiest_reducer_cpu_ms(spark, plain))
            t_salted = min(t_salted, _busiest_reducer_cpu_ms(spark, salted))
        assert t_salted <= 0.75 * t_plain, (t_salted, t_plain)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_cells_arrow_beats_expression_at_volume(spark):
    """The Arrow argmin kernel must beat the interpreted HOF expression
    on a build-the-whole-index-sized corpus — the reason cells_arrow
    exists.  Wall-time assertion with generous margin (the HOF path is
    typically 3-10x slower at this volume)."""
    import time

    from pyspark.sql import functions as F

    from simple_vector_spark.operators import ann as A

    n, dim = 200_000, 64
    emb = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda d: (
                    F.pmod(F.col("id") * d * F.lit(2654435761), F.lit(1000))
                    / 500.0
                    - 1.0
                ),
            ).alias("embedding"),
        )
        .repartition(32)
        .localCheckpoint()
    )
    cents = [
        (i, [((i * 7 + d) % 11 - 5) / 5.0 for d in range(dim)])
        for i in range(0, 10)
    ]

    # warm both paths once (codegen compile / Python worker spin-up),
    # then time the steady-state second run — the state an index build
    # actually runs in
    n_expr = A.with_cells(emb, cents).groupBy("__cell").count().count()
    n_arrow = A.cells_arrow(emb, cents).groupBy("__cell").count().count()
    assert n_expr == n_arrow  # same assignment

    # interleaved min-of-2 per side: external load drift during the
    # window must hit both paths equally (a one-shot-each comparison
    # flaked once under full-suite CPU contention)
    t_expr, t_arrow = float("inf"), float("inf")
    for _ in range(2):
        t0 = time.time()
        A.with_cells(emb, cents).groupBy("__cell").count().count()
        t_expr = min(t_expr, time.time() - t0)
        t0 = time.time()
        A.cells_arrow(emb, cents).groupBy("__cell").count().count()
        t_arrow = min(t_arrow, time.time() - t0)

    # the kernel must win at index-build volume
    assert t_arrow < t_expr, (t_arrow, t_expr)
