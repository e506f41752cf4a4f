"""The session store (``sources.loaders.session_cached``): every piece of
build-once state -- loaded tables, index relations, seed and trained
codebooks -- is built once per session and read back without a Spark
job; a ``newSession()`` twin starts empty; no module-level cache dict
sits beside it."""

from __future__ import annotations

import ast
import os
import pathlib
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql.types import TimestampType

from simple_vector_spark.sources.loaders import TABLES, _footer_schema, load_table

ROOT = pathlib.Path(__file__).resolve().parent.parent
# the three scale factors beside the test fixture, and perfbench's copy
FIXTURES = ["sf0.001", "sf0.01", "sf0.1", "perfbench"]


@contextmanager
def jobs_run(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"store-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, "session store test")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _accessors():
    from simple_vector_spark.operators import ann as A
    from simple_vector_spark.registry.core_ann import (
        _emb_with_cells, _graph_edges, _seed_codebook, _trained_pq,
    )
    from simple_vector_spark.registry.core_dedup import _minhash_pairs

    return {
        "seed cells": lambda s, d: _emb_with_cells(s, d),
        "trained cells": lambda s, d: _emb_with_cells(s, d, trained=True),
        "trained pq": _trained_pq,
        "graph edges": _graph_edges,
        "minhash pairs": _minhash_pairs,
        "seed centroids": lambda s, d: _seed_codebook(s, d, A.CENTROID_IDS),
        "seed planes": lambda s, d: _seed_codebook(s, d, A.PLANE_IDS),
    }


@pytest.mark.parametrize("name", list(_accessors()))
def test_second_call_runs_no_job(spark, sf_dir, name):
    get = _accessors()[name]
    first = get(spark, sf_dir)
    with jobs_run(spark) as ids:
        again = get(spark, sf_dir)
    assert ids == [], f"{name}: warm call ran jobs {ids}"
    assert again is first


def test_new_session_sees_none_of_its_parents_entries(spark, sf_dir):
    load_table(spark, sf_dir, "embeddings")
    assert spark._sv_relation_cache
    twin = spark.newSession()
    assert getattr(twin, "_sv_relation_cache", {}) == {}
    emb = load_table(twin, sf_dir, "embeddings")
    assert emb is not load_table(spark, sf_dir, "embeddings")
    assert emb.sparkSession is twin
    assert set(twin._sv_relation_cache) == {("embeddings", os.path.abspath(sf_dir))}


@pytest.mark.parametrize("fixture", FIXTURES)
def test_footer_schema_is_the_inferred_schema(spark, sf_dir, fixture):
    """The footer schema equals the one an inferring read gives, so
    load_table's schema is unchanged; events.ts still ends up a
    session-UTC timestamp."""
    sf_dir = (str(ROOT / "perfbench" / "fixture") if fixture == "perfbench"
              else os.path.join(os.path.dirname(sf_dir), fixture))
    load_table(spark, sf_dir, "events")  # sets nanosAsLong, as before
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):  # perfbench's fixture has 3 tables
            continue
        assert _footer_schema(path) == spark.read.parquet(path).schema, name
    assert load_table(spark, sf_dir, "events").schema["ts"].dataType == TimestampType()


def test_first_load_runs_no_job(spark, sf_dir):
    fresh = spark.newSession()
    with jobs_run(fresh) as ids:
        for name in TABLES:
            load_table(fresh, sf_dir, name)
    assert ids == []


def _module_caches(root: pathlib.Path) -> list[str]:
    """``file:line name`` of every module-level name ending in
    ``_CACHE`` under ``root``."""
    hits = []
    for f in sorted(root.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign) else [])
            hits += [f"{f.relative_to(root.parent)}:{node.lineno} {t.id}"
                     for t in targets if isinstance(t, ast.Name) and t.id.endswith("_CACHE")]
    return hits


def test_no_module_level_cache_dicts():
    hits = _module_caches(ROOT / "simple_vector_spark")
    assert not hits, ("build-once state goes through sources.loaders.session_cached, "
                      f"not a module dict: {hits}")


def test_cache_guard_names_file_and_line(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text("import os\n\n_INDEX_CACHE: dict = {}\nX_CACHE = {}\n")
    assert _module_caches(pkg) == ["pkg/m.py:3 _INDEX_CACHE", "pkg/m.py:4 X_CACHE"]
