"""The durability path's one copy of each mechanism: the scoped session
conf (``loaders.scoped_conf``), the footer-typed events stream, the WAL
and Arrow IPC sources registered once per session, and an AST guard
that every availableNow run, source registration, conf restore, temp
directory and range-partitioned numbering goes through its one
helper."""

from __future__ import annotations

import ast
import os
import pathlib
import uuid
from collections import defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from simple_vector_spark.sources.loaders import active_session, scoped_conf
from simple_vector_spark.streaming.jobs import _read_events_stream
from test_session_store import FIXTURES, ROOT, jobs_run


def _conf(spark, key):
    return spark.conf.get(key, None)


def test_scoped_conf_restores_a_set_key(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "12345")
    try:
        with scoped_conf(spark, {key: "-1"}):
            assert spark.conf.get(key) == "-1"
        assert spark.conf.get(key) == "12345"
    finally:
        spark.conf.set(key, before)


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    key = f"spark.svs.test.{uuid.uuid4().hex}"
    with scoped_conf(spark, {key: "on"}):
        assert _conf(spark, key) == "on"
    assert _conf(spark, key) is None


def test_scoped_conf_restores_both_when_the_body_raises(spark):
    set_key = "spark.sql.shuffle.partitions"
    unset_key = f"spark.svs.test.{uuid.uuid4().hex}"
    before = spark.conf.get(set_key)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {set_key: "3", unset_key: "x"}):
            assert spark.conf.get(set_key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert _conf(spark, unset_key) is None


def _fixture_dir(sf_dir: str, fixture: str) -> str:
    return (str(ROOT / "perfbench" / "fixture") if fixture == "perfbench"
            else os.path.join(os.path.dirname(sf_dir), fixture))


def _probe_schema(spark, sf_dir: str) -> StructType:
    """The events stream's schema as it was typed by an inferring read of
    the file: a fixed DDL with ``ts`` as the probed type, then cast to
    a timestamp."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = "long" if dict(probe.dtypes)["ts"] == "bigint" else "timestamp_ntz"
    ddl = (f"event_id long, ts {ts_type}, user_id long, event_type string, "
           "value double, props string")
    raw = (spark.readStream.schema(ddl).option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    if ts_type == "long":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp")).schema


@pytest.mark.parametrize("fixture", FIXTURES)
def test_events_stream_reads_the_footer(spark, sf_dir, fixture):
    """The events stream is typed from the Parquet footer on the driver
    (no Spark job) and keeps the schema the inferring probe gave."""
    path = _fixture_dir(sf_dir, fixture)
    with jobs_run(spark) as ids:
        stream = _read_events_stream(spark, path)
    assert ids == [], f"{fixture}: the events stream ran jobs {ids}"
    assert stream.isStreaming
    assert stream.schema == _probe_schema(spark, path)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name",
    ["wal_source_scan", "stream_wal_tail", "stream_live_index_knn", "arrow_ipc_source_roundtrip"],
)
def test_source_queries_repeat_and_run_in_a_twin_session(spark, sf_dir, name):
    """Registration goes through the session store: a second call in one
    session and a first call in a ``newSession()`` twin (which starts
    with no registered source) give the same rows.

    Spark resolves a Python data source's name through the thread's
    active session; the twin is NOT made active here, so the queries
    must do it themselves (``loaders.active_session``), and the first
    session is active again afterwards."""
    from simple_vector_spark.registry import _QUERIES

    fn = _QUERIES[name]
    first = _rows(fn(spark, sf_dir))
    assert first
    assert _rows(fn(spark, sf_dir)) == first
    active = spark._jvm.SparkSession.getActiveSession().get()
    twin = spark.newSession()
    assert _rows(fn(twin, sf_dir)) == first
    assert spark._jvm.SparkSession.getActiveSession().get().equals(active)


def test_active_session_restores_the_previous_one_also_on_error(spark):
    jvm = spark._jvm.SparkSession
    before = jvm.getActiveSession().get()
    twin = spark.newSession()
    with pytest.raises(RuntimeError, match="body"):
        with active_session(twin):
            assert jvm.getActiveSession().get().equals(twin._jsparkSession)
            raise RuntimeError("body")
    assert jvm.getActiveSession().get().equals(before)


# --------------------------------------------------------------------------
# Guard: each mechanism has one site, in its helper.
# --------------------------------------------------------------------------
HELPERS = {
    "trigger(availableNow=True)": "streaming/jobs.py:run_available_now",
    "awaitTermination(": "streaming/jobs.py:run_available_now",
    "tempfile.mkdtemp": "streaming/jobs.py:run_available_now",
    "dataSource.register(": "sources/loaders.py:data_source",
    "conf.get then conf.set": "sources/loaders.py:scoped_conf",
    "repartitionByRange(": "operators/ranking.py:prefix_fold",
    "spark_partition_id(": "operators/ranking.py:prefix_fold",
}


def _attr(node: ast.AST) -> str | None:
    return node.func.attr if isinstance(node.func, ast.Attribute) else None


def _on(node: ast.Call, name: str) -> bool:
    """``<...>.name.<attr>(...)``: the call's receiver ends in ``name``."""
    recv = node.func.value if isinstance(node.func, ast.Attribute) else None
    return isinstance(recv, ast.Attribute) and recv.attr == name


def _mechanisms(fn: ast.AST):
    """``(mechanism, line)`` for each guarded call in the function
    ``fn`` (nested functions included)."""
    gets: dict[str, int] = {}
    sets: list[tuple[str, int]] = []
    for node in ast.walk(fn):
        if not isinstance(node, ast.Call):
            continue
        attr = _attr(node)
        if attr == "trigger" and any(
            k.arg == "availableNow" and isinstance(k.value, ast.Constant) and k.value.value is True
            for k in node.keywords
        ):
            yield "trigger(availableNow=True)", node.lineno
        elif attr == "awaitTermination":
            yield "awaitTermination(", node.lineno
        elif attr == "mkdtemp":
            yield "tempfile.mkdtemp", node.lineno
        elif attr in ("repartitionByRange", "spark_partition_id"):
            yield attr + "(", node.lineno
        elif attr == "register" and _on(node, "dataSource"):
            yield "dataSource.register(", node.lineno
        elif attr in ("get", "set") and _on(node, "conf") and node.args:
            key = ast.dump(node.args[0])
            if attr == "get":
                gets.setdefault(key, node.lineno)
            else:
                sets.append((key, node.lineno))
    for key in {key for key, line in sets if gets.get(key, line) < line}:
        yield "conf.get then conf.set", gets[key]


def guarded_sites(pkg: pathlib.Path) -> dict[str, list[str]]:
    """Per mechanism, the ``file:function:line`` of every site under
    ``pkg`` (top-level functions, and module code as ``<module>``)."""
    sites: dict[str, list[str]] = defaultdict(list)
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        tree = ast.parse(f.read_text())
        scopes = [(n.name, n) for n in tree.body
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
        module = ast.Module(
            body=[n for n in tree.body if not isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))],
            type_ignores=[])
        for name, node in [*scopes, ("<module>", module)]:
            for mech, line in _mechanisms(node):
                sites[mech].append(f"{rel}:{name}:{line}")
    return sites


def test_each_mechanism_has_one_site_in_its_helper():
    sites = guarded_sites(ROOT / "simple_vector_spark")
    for mech, helper in HELPERS.items():
        found = sites.get(mech, [])
        stray = [s for s in found if not s.startswith(helper + ":")]
        assert not stray, (f"{mech} outside {helper} (file:function:line): {stray}")
        assert len(found) == 1, f"{mech}: expected one site in {helper}, found {found}"


def test_guard_names_file_and_line(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import tempfile\n"
        "def run(w, spark):\n"
        "    w.trigger(availableNow=True).start().awaitTermination()\n"
        "    spark.dataSource.register(object)\n"
        "def conf(spark):\n"
        "    prev = spark.conf.get('k')\n"
        "    spark.conf.set('k', '1')\n"
        "    spark.conf.set('other', prev)\n"
        "d = tempfile.mkdtemp()\n"
        "def rank(df, F):\n"
        "    return df.repartitionByRange('k').withColumn('p', F.spark_partition_id())\n"
    )
    sites = guarded_sites(pkg)
    assert sites == {
        "trigger(availableNow=True)": ["m.py:run:3"],
        "awaitTermination(": ["m.py:run:3"],
        "dataSource.register(": ["m.py:run:4"],
        "conf.get then conf.set": ["m.py:conf:6"],
        "tempfile.mkdtemp": ["m.py:<module>:9"],
        "repartitionByRange(": ["m.py:rank:11"],
        "spark_partition_id(": ["m.py:rank:11"],
    }
