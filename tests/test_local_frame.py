"""``sources.loaders.local_frame``: driver-side literal tables built as
one Arrow table instead of ``createDataFrame(<list>)``.

The list path parallelizes the rows through a Python identity map, so
each execution of the literal runs Python-worker tasks; the Arrow path
hands the JVM a local relation.  These tests pin (1) that the two
paths give the same rows and schema for every column type the package
uses, (2) that the helper's lineage holds no Python RDD while the list
path's does, and (3) that no ``createDataFrame(`` call is left in the
package outside the helper."""

from __future__ import annotations

import ast
import inspect
import pathlib
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from simple_vector_spark.sources import loaders
from simple_vector_spark.sources.loaders import local_frame

DDL = "i int, b bigint, d double, s string, v array<double>, p decimal(15,2)"
STRUCT = StructType(
    [
        StructField("i", IntegerType()),
        StructField("b", LongType()),
        StructField("d", DoubleType()),
        StructField("s", StringType()),
        StructField("v", ArrayType(DoubleType())),
        StructField("p", DecimalType(15, 2)),
    ]
)
# None in every column, int and double included: the frame must keep
# the declared types (a pandas round trip would turn the ints to floats)
ROWS = [
    (1, 10_000_000_000, 0.5, "a", [1.0, -2.25], Decimal("12.50")),
    (None, None, None, None, None, None),
    (-7, 3, 1e-9, "", [], Decimal("-0.01")),
    (2, None, float("inf"), "é", [None, 3.0], None),
]


@pytest.mark.parametrize("schema", [DDL, STRUCT], ids=["ddl", "struct"])
@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_matches_list_path(spark, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_no_python_rdd_in_lineage(spark):
    got = local_frame(spark, ROWS, DDL)
    assert "PythonRDD" not in _lineage(got)
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    # the list path is what the helper replaces: if PySpark stops
    # routing it through a Python RDD, this file's premise is stale
    assert "PythonRDD" in _lineage(spark.createDataFrame(ROWS, DDL))


def test_partitions(spark):
    one = local_frame(spark, [(1, "x")], "i int, s string")
    assert one.rdd.getNumPartitions() == 1
    listed = spark.createDataFrame([(1, "x")], "i int, s string")
    assert listed.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # a local relation splits by row, never past the row count
    assert local_frame(spark, ROWS, DDL).rdd.getNumPartitions() <= len(ROWS)


def test_collect_runs_no_job(spark):
    sc = spark.sparkContext
    df = local_frame(spark, ROWS, DDL)
    sc.setJobGroup("local_frame_collect", "collect of a local relation")
    try:
        assert len(df.collect()) == len(ROWS)
        jobs = sc.statusTracker().getJobIdsForGroup("local_frame_collect")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []


def _create_dataframe_calls():
    """AST scan: (relative file, line) of every ``<x>.createDataFrame(...)``
    call in the package (code, not docstrings)."""
    root = pathlib.Path(__file__).resolve().parent.parent / "simple_vector_spark"
    return {
        (str(f.relative_to(root)), node.lineno)
        for f in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    }


def test_create_dataframe_only_in_local_frame():
    body, first = inspect.getsourcelines(loaders.local_frame)
    inside = {("sources/loaders.py", n) for n in range(first, first + len(body))}
    calls = _create_dataframe_calls()
    assert len(calls & inside) == 1, "local_frame no longer builds its frame"
    assert not calls - inside, (
        f"createDataFrame call(s) outside local_frame: {sorted(calls - inside)}"
        " — build driver-side literals with sources.loaders.local_frame"
    )
