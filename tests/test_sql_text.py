"""Vector expressions are built as SQL text and become a Column through
one ``F.expr`` per expression.  Pinned here: the text builders give the
very doubles of the ``pyspark.sql.functions`` higher-order-function
forms they replaced (kept below only as the reference); the
``from_json`` literal is exact for flat, nested and int vectors and
raises on a malformed literal; a warm build of the searches makes a
bounded number of py4j calls; and no ``F.aggregate``-style call is
left in the vector modules."""

from __future__ import annotations

import ast
import os
import pathlib
import struct

import pytest
from pyspark.sql import functions as F

from simple_vector_spark.functions import vector as V
from simple_vector_spark.registry import queries
from simple_vector_spark.sources.loaders import load_table, num_partitions, scratch_root

ROOT = pathlib.Path(__file__).resolve().parent.parent


# ---------------------------------------------------------------------
# The Column forms the builders replaced, as the reference
# ---------------------------------------------------------------------


def _old_squared_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def _old_dot_product(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _old_l2_norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def _old_cosine(a, b):
    return _old_dot_product(a, b) / (_old_l2_norm(a) * _old_l2_norm(b))


@pytest.fixture(scope="module", params=["sf0.001", "perfbench"])
def fixture_dir(request, sf_dir):
    return sf_dir if request.param == "sf0.001" else str(ROOT / "perfbench" / "fixture")


def test_builders_equal_the_column_forms_bit_for_bit(spark, fixture_dir):
    emb = load_table(spark, fixture_dir, "embeddings")
    q = [float(x) for x in emb.orderBy("vec_id").head().embedding]
    df = emb.withColumn("q", F.expr(V.vector_literal(q)))
    e, e_col, q_col = V.double_array("embedding"), V.as_double_array("embedding"), F.col("q")
    rows = df.select(
        "vec_id",
        F.expr(V.squared_l2(e, "q")).alias("l2"),
        _old_squared_l2(e_col, q_col).alias("l2_old"),
        F.expr(V.dot_product(e, "q")).alias("ip"),
        _old_dot_product(e_col, q_col).alias("ip_old"),
        F.expr(V.cosine_similarity(e, "q")).alias("cos"),
        _old_cosine(e_col, q_col).alias("cos_old"),
        F.expr(V.l2_norm(e)).alias("n"),
        _old_l2_norm(e_col).alias("n_old"),
    ).collect()
    assert len(rows) >= 500
    for r in rows:
        for name in ("l2", "ip", "cos", "n"):
            assert struct.pack(">d", r[name]) == struct.pack(">d", r[name + "_old"]), (
                name,
                r.vec_id,
            )


def test_literal_nested_and_int_types_and_values(spark):
    nested = [[1.5, -0.0], [5e-324, 1 / 3]]
    ints, wide = [1, 2, 3], [1, 2**40]
    row = spark.range(1).select(
        F.expr(V.vector_literal(nested)).alias("n"),
        F.expr(V.vector_literal(ints)).alias("i"),
        F.expr(V.vector_literal(wide)).alias("w"),
    )
    assert [f.dataType.simpleString() for f in row.schema.fields] == [
        "array<array<double>>",
        "array<int>",
        "array<bigint>",
    ]
    got = row.head()
    assert [[struct.pack(">d", x) for x in v] for v in got.n] == [
        [struct.pack(">d", x) for x in v] for v in nested
    ]
    assert got.i == ints and got.w == wide


def test_literal_folds_to_one_literal(spark):
    plan = spark.range(1).select(F.expr(V.vector_literal([0.5, 1.0])).alias("v"))
    optimized = plan._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized and "[0.5,1.0]" in optimized


def test_malformed_literal_raises(spark):
    bad = V.vector_literal([0.5, 1.0]).replace("1.0", "x")
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        spark.range(1).select(F.expr(bad).alias("v")).collect()


def test_sql_name_quotes_backticks():
    assert V.sql_name("a`b") == "`a``b`"
    assert V.double_array("embedding") == "CAST(`embedding` AS ARRAY<DOUBLE>)"


# ---------------------------------------------------------------------
# Construction budget
# ---------------------------------------------------------------------

# py4j calls per warm build on sf0.001, not counting the "m" commands
# that release Java objects freed earlier: the Column-API forms made
# 246 / 392 / 298, the SQL text makes 56 / 46 / 97.
PY4J_BUDGET = {"knn_exact_topk": 80, "knn_cosine_topk": 80, "ann_ivf": 130}


@pytest.mark.parametrize("name", sorted(PY4J_BUDGET))
def test_warm_build_py4j_budget(spark, sf_dir, name):
    build = queries()[name]
    build(spark, sf_dir)  # warm: tables, query vector, index relation
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build(spark, sf_dir)
    finally:
        client.send_command = send
    assert calls[0] <= PY4J_BUDGET[name], (name, calls[0])


# ---------------------------------------------------------------------
# AST guard: no higher-order-function Column calls in the vector modules
# ---------------------------------------------------------------------

VECTOR_MODULES = ("functions/vector.py", "operators/knn.py", "operators/ann.py")
HOF_CALLS = {"aggregate", "zip_with", "transform", "filter", "exists", "forall"}


def hof_calls(tree: ast.AST) -> list[int]:
    """Lines of ``F.<hof>(...)`` calls in ``tree``."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in HOF_CALLS
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    ]


def test_no_column_hof_calls_in_vector_modules():
    pkg = ROOT / "simple_vector_spark"
    found = [
        f"{rel}:{line}"
        for rel in VECTOR_MODULES
        for line in hof_calls(ast.parse((pkg / rel).read_text()))
    ]
    assert not found, f"build these as SQL text (file:line): {found}"


def test_guard_flags_a_planted_site():
    src = "x = 1\ny = F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v)\nz = df.filter(c)\n"
    assert hof_calls(ast.parse(src)) == [2]


# ---------------------------------------------------------------------
# fan_out's partition count, the warehouse dir
# ---------------------------------------------------------------------


def test_fan_out_count_equals_the_python_rdd_count(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    inputs = {
        "scan": emb,
        "aggregate": emb.groupBy("label").count(),
        "join": emb.join(docs, emb.vec_id == docs.doc_id),
    }
    for name, df in inputs.items():
        assert num_partitions(df) == df.rdd.getNumPartitions(), name


def test_warehouse_dir_is_under_the_scratch_root(spark):
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.abspath(warehouse).startswith(os.path.abspath(scratch_root()))
