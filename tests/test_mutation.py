"""Upsert/delete semantics (O12/O13/O20): latest-wins merge equals the
reference's delete-old/insert-new upsert sequence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_vector_spark.operators import mutation as M
from simple_vector_spark.sources.loaders import load_table
from test_session_store import jobs_run


def test_latest_wins_basic(spark):
    log = spark.createDataFrame(
        [
            (1, 1, "a"),
            (1, 3, "c"),
            (1, 2, "b"),
            (2, 1, "x"),
        ],
        "id long, seq long, payload string",
    )
    cur = M.latest_wins(log, ["id"], ["seq"]).collect()
    state = {r.id: r.payload for r in cur}
    assert state == {1: "c", 2: "x"}


def test_apply_upserts_overwrites_and_inserts(spark):
    state = spark.createDataFrame(
        [(1, 1, "old"), (2, 1, "keep")], "id long, seq long, payload string"
    )
    batch = spark.createDataFrame(
        [(1, 2, "new"), (3, 2, "ins")], "id long, seq long, payload string"
    )
    cur = M.apply_upserts(state, batch, ["id"], ["seq"]).collect()
    assert {r.id: r.payload for r in cur} == {1: "new", 2: "keep", 3: "ins"}


def test_delete_anti_join(spark):
    corpus = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    tomb = spark.createDataFrame([(2,), (5,)], "vec_id long")
    alive = M.delete_ids_anti(corpus, tomb, "vec_id")
    assert sorted(r.vec_id for r in alive.collect()) == [0, 1, 3, 4, 6, 7, 8, 9]


def test_snapshot_roundtrip(spark, tmp_path):
    """O18/O19: parquet write/read IS snapshot/restore."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "snap")
    back = M.restore(spark, path, M.snapshot(df, path))
    assert back.count() == 100
    assert back.agg(F.sum("v")).collect()[0][0] == 9900


@pytest.mark.parametrize("partition_by", [None, ["label"]])
def test_restore_reads_with_the_snapshot_schema(spark, sf_dir, tmp_path, partition_by):
    """``restore`` with the schema ``snapshot`` returns gives the rows and
    schema of an inferring read, and runs no Spark job."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "snap")
    schema = M.snapshot(emb, path, partition_by)
    inferred = spark.read.parquet(path)
    with jobs_run(spark) as ids:
        back = M.restore(spark, path, schema)
    assert ids == []
    assert back.schema == inferred.schema
    assert sorted(back.collect()) == sorted(inferred.collect())
