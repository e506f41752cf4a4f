"""Degenerate-input behavior: operators must return empty/identity
results, not throw, when a filter eliminates everything or a table is
empty — at 100 TB some partition or date-slice WILL be empty."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_vector_spark.operators import ann as A
from simple_vector_spark.operators import dedup as D
from simple_vector_spark.operators import events as E
from simple_vector_spark.operators import knn as K
from simple_vector_spark.operators import mutation as M


def _empty_emb(spark):
    return spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )


def test_knn_on_empty_corpus(spark):
    q = [0.0, 0.0]
    assert K.knn_topk(_empty_emb(spark), q, 5, "sqL2").count() == 0
    assert K.knn_shard_topk(_empty_emb(spark), q, 5).count() == 0


def test_knn_filter_eliminates_everything(spark):
    emb = spark.createDataFrame(
        [(1, [0.1], 2), (2, [0.2], 2)], "vec_id long, embedding array<float>, label int"
    )
    q = A.fit_vectors(emb, [1])[0][1]
    out = K.knn_topk(emb, q, 5, "sqL2", pred=K.eq_filter("label", 99))
    assert out.count() == 0


def test_knn_k_larger_than_corpus(spark):
    emb = spark.createDataFrame(
        [(1, [0.1], 0), (2, [0.2], 0)], "vec_id long, embedding array<float>, label int"
    )
    q = A.fit_vectors(emb, [1])[0][1]
    # reference pads with -1 ids (dropped at the HTTP layer); we return
    # what exists — 2 rows, not 5
    assert K.knn_topk(emb, q, 5, "sqL2").count() == 2


def test_minhash_skips_too_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two three four")], "doc_id long, text string"
    )
    sigs = D.minhash_signatures(docs)
    assert [r.doc_id for r in sigs.collect()] == [2]


def test_latest_wins_empty_log(spark):
    log = spark.createDataFrame([], "id long, seq long, payload string")
    assert M.latest_wins(log, ["id"], ["seq"]).count() == 0


def test_sessionize_empty(spark):
    ev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    assert E.sessionize(ev).count() == 0
