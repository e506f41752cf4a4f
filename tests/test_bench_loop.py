"""bench.py's measurement loop: every draw is recorded, every query
gets the same number of draws, and the stdout payload keeps its
one-line schema."""

from __future__ import annotations

import json

import pytest

import bench
from simple_vector_spark import registry
from simple_vector_spark.session import get_spark, spark_cpus

PAYLOAD_KEYS = {
    "metric", "value", "unit", "queries", "n_queries", "median_sec",
    "runs_per_query", "cpus", "default_parallelism", "timing",
    "full_results", "sf",
}


def test_loop_records_every_draw(spark, sf_dir):
    names = ("point_lookup", "knn_exact_topk")
    draws = bench.run(spark, [(n, registry._QUERIES[n]) for n in names], sf_dir)
    assert list(draws) == list(names)
    for name in names:
        assert len(draws[name]) == bench.RUNS_PER_QUERY
        assert all(d > 0 for d in draws[name])

    payload = bench.summary(spark, draws, sf_dir, spark_cpus())
    assert set(payload) == PAYLOAD_KEYS
    assert payload["queries"] == {n: min(draws[n]) for n in names}
    assert payload["n_queries"] == len(names)
    assert payload["runs_per_query"] == bench.RUNS_PER_QUERY
    assert payload["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert "\n" not in json.dumps(payload, separators=(",", ":"))


def test_unknown_subset_name_fails_before_spark(monkeypatch):
    import simple_vector_spark.session as session

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started before the names were checked")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit, match="no_such_query"):
        bench.main(["point_lookup", "no_such_query"])


@pytest.mark.parametrize("raw", ["", "four", "0", "-2", "2.5", " 4"])
def test_bad_cpus_fails_by_name(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")
