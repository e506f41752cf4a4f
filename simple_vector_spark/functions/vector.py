"""Vector distance/similarity expression builders.

The reference computes distances inside FAISS / hnswlib with two
metrics fixed at index init — squared L2 and inner product
(src/index_factory.cc:16-18, src/hnswlib_index.cc:12-16).  FAISS
``METRIC_L2`` returns *squared* L2 (no sqrt) and IP is returned as a
similarity where larger is better; this engine standardizes on the same
conventions (SURVEY.md §4.2) and adds cosine (= IP over normalized
vectors) as an extension.

These build SQL text over ``array<double>`` columns — Spark's
``aggregate``/``zip_with``/``transform`` higher-order functions, made a
Column by one ``F.expr`` per expression.  They run JVM-side per row
with no Python in the loop, so a k-NN scan stays inside one Spark stage
reading the Parquet corpus.  All arithmetic is double-precision so the
DuckDB oracle (which casts ``FLOAT[] -> DOUBLE[]``) computes bit-equal
terms; results are compared rounded to 6 decimals (FIXTURES.md §C).

The distance expressions and ``ROUND(x, 6)`` have NumPy twins
(``*_np``, :func:`round6`; :func:`vector_matrix` stacks their input)
for the Arrow kernels.  The twins repeat the expressions'
arithmetic exactly: one f64 term per dimension, added left to right
from 0.0 as ``aggregate`` does, and Spark's ``ROUND`` (HALF_UP on the
shortest decimal repr).  A NumPy value that the oracle sees, or that a
ranking uses, goes through them.  ``np.round`` rounds ties to even on
the binary value, and ``einsum``, ``linalg.norm`` and
``.sum(axis=...)`` add in other orders; ``tests/test_vector_np.py``
fails on the first three anywhere in the package.

Scale note: at 100 TB the distance expression is evaluated inside the
corpus scan stage (map-side); nothing here shuffles.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_name(name: str) -> str:
    """Column ``name`` as a SQL identifier: backticked, with any
    backtick inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def double_array(name: str) -> str:
    """SQL text of column ``name`` cast array<float> -> array<double>,
    so all arithmetic is f64."""
    return f"CAST({sql_name(name)} AS ARRAY<DOUBLE>)"


def as_double_array(name: str) -> Column:
    """:func:`double_array` as a Column."""
    return F.expr(double_array(name))


def vector_literal(values) -> str:
    """``values`` (a vector, or a list of vectors) as the SQL text of ONE
    typed literal: ``array<double>``, nested lists as
    ``array<array<double>>``, all-int lists as ``array<int>`` (or
    ``array<bigint>`` past int32).  The text is ``from_json`` over the
    JSON array of each double's ``repr``: ``repr`` round-trips every
    f64 and the JSON parse is exact, and float32 -> Python float is
    exact, so the literal holds the very doubles of the column the
    vector came from.  ``FAILFAST`` makes a malformed literal raise
    instead of reading as null.  The optimizer folds it to one
    literal; the analyzer checks one string where an ``array(...)`` of
    64 literals costs ~17 ms per projection, and ``F.lit(list)`` one
    py4j call per element.  A NaN or infinite component raises
    ``ValueError`` naming its index."""
    leaves: list = []
    text = _json_array(values, (), leaves)
    if leaves and all(isinstance(x, int) for x in leaves):
        leaf = "int" if all(-(2**31) <= x < 2**31 for x in leaves) else "bigint"
    else:
        leaf = "double"
    depth = 1
    while values and isinstance(values[0], (list, tuple)):
        values, depth = values[0], depth + 1
    ddl = "array<" * depth + leaf + ">" * depth
    return f"from_json('{text}', '{ddl}', map('mode', 'FAILFAST'))"


def _json_array(values, at: tuple[int, ...], leaves: list) -> str:
    parts = []
    for i, x in enumerate(values):
        if isinstance(x, (list, tuple)):
            parts.append(_json_array(x, at + (i,), leaves))
            continue
        if not isinstance(x, int):
            x = float(x)
            if not math.isfinite(x):
                index = ", ".join(map(str, at + (i,)))
                raise ValueError(
                    f"vector component [{index}] is {x!r}; a vector literal must be finite"
                )
        leaves.append(x)
        parts.append(repr(x))
    return "[" + ",".join(parts) + "]"


# The builders below take SQL-text operands (column names through
# ``sql_name``/``double_array``, literals, lambda variables) and return
# SQL text; a call site composes them and makes ONE Column of the whole
# expression with ``F.expr``.  Each ``pyspark.sql.functions`` call or
# Column operator costs ~1 ms and ~11 py4j round trips to capture its
# call site, so a distance built from them cost 24-43 ms; its text
# parses in one call.  Lambda variables end in ``_`` so they never
# shadow a caller's column.  ``0D`` is ``F.lit(0.0)``: the fold is the
# same Catalyst expression, so values are bit-identical.


def _sum_sql(terms: str) -> str:
    return f"aggregate({terms}, 0D, (acc_, t_) -> acc_ + t_)"


def squared_l2(a: str, b: str) -> str:
    """Squared Euclidean distance (FAISS METRIC_L2 convention: no sqrt)."""
    return _sum_sql(f"zip_with({a}, {b}, (x_, y_) -> (x_ - y_) * (x_ - y_))")


def dot_product(a: str, b: str) -> str:
    """Inner product similarity (larger = more similar)."""
    return _sum_sql(f"zip_with({a}, {b}, (x_, y_) -> x_ * y_)")


def squared_norm(a: str) -> str:
    """Sum of squared components (the squared L2 norm, no sqrt)."""
    return _sum_sql(f"transform({a}, x_ -> x_ * x_)")


def l2_norm(a: str) -> str:
    return f"SQRT({squared_norm(a)})"


def cosine_similarity(a: str, b: str) -> str:
    """Cosine similarity = IP / (|a||b|); the reference approximates this
    by normalizing at ingest and using IP — we compute it directly."""
    return f"({dot_product(a, b)} / ({l2_norm(a)} * {l2_norm(b)}))"


def _fold_np(term, X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """``aggregate(zip_with(X, Y, term), 0.0, acc + v)`` over the last
    axis: one f64 term per dimension, added left to right.  Leading
    axes broadcast, so ``X[:, None]`` against ``Y[None]`` gives the
    (n, m) pair block and ``X`` against ``X`` a per-row value."""
    acc = np.zeros(np.broadcast_shapes(X.shape[:-1], Y.shape[:-1]))
    for j in range(X.shape[-1]):
        acc += term(X[..., j], Y[..., j])
    return acc


def _sq_diff(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    d = x - y
    return d * d


def squared_l2_np(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`squared_l2`, bit for bit."""
    return _fold_np(_sq_diff, X, Y)


def dot_product_np(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`dot_product`, bit for bit."""
    return _fold_np(np.multiply, X, Y)


def l2_norm_np(X: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`l2_norm`, bit for bit."""
    return np.sqrt(dot_product_np(X, X))


def cosine_similarity_np(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`cosine_similarity`, bit for bit."""
    return dot_product_np(X, Y) / (l2_norm_np(X) * l2_norm_np(Y))


_Q6 = Decimal("0.000001")


def round6(D) -> np.ndarray:
    """Spark's ``ROUND(x, 6)`` over a float64 array: HALF_UP on the
    shortest decimal repr (``BigDecimal.valueOf``), ties away from zero.

    Fast path ``floor(x*1e6 + 0.5) / 1e6``; an entry whose scaled
    fraction lies near .5 takes the exact ``Decimal(repr(x))`` path.
    The margin grows with the magnitude: ``x*1e6`` and the repr each
    err by up to ~|x|*1e6*2^-53, so a fixed margin misrounds ties from
    about 128 up (131.1362395 -> 131.136239, where ROUND gives
    131.13624).  Negative ties always land in the margin, where the
    exact path rounds them away from zero."""
    D = np.asarray(D, dtype=np.float64)
    scaled = D * 1e6
    R = np.floor(scaled + 0.5) / 1e6
    margin = 1e-8 + np.abs(scaled) * 1e-15
    with np.errstate(invalid="ignore"):  # inf - inf: not risky
        risky = np.abs(scaled - np.floor(scaled) - 0.5) < margin
    for i in zip(*np.nonzero(risky)):
        R[i] = float(Decimal(repr(float(D[i]))).quantize(_Q6, ROUND_HALF_UP))
    return R


def vector_matrix(vectors) -> np.ndarray:
    """An Arrow list column of equal-length vectors (``ListArray`` or
    ``ChunkedArray``) as one float64 (n, d) matrix, flattened without a
    per-row copy."""
    if len(vectors) == 0:
        return np.empty((0, 0))
    if isinstance(vectors, pa.ChunkedArray):
        vectors = vectors.combine_chunks()
    flat = vectors.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(vectors), -1)


def cosine_arrow_udf():
    """Arrow-batched cosine kernel for the SQL UDF surface (the
    reference has no extension point at all — SURVEY.md §2.2 UDF row).
    Whole batches cross the JVM/Python boundary as Arrow arrays and the
    math is :func:`cosine_similarity_np` over the stacked batch, never a
    per-row Python call.  Built-in zip_with/aggregate (cosine_similarity
    above) stays the default hot path; this is the escape hatch users
    register for kernels Catalyst can't express."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("double")
    def cos_sim(a: pa.Array, b: pa.Array) -> pa.Array:
        return pa.array(cosine_similarity_np(vector_matrix(a), vector_matrix(b)))

    return cos_sim
