"""NumPy twins in ``functions/vector.py``: ``round6`` rounds like Spark's
``ROUND(x, 6)``, the folds equal the ``zip_with``/``aggregate``
expressions bit for bit, and no kernel in the package rounds or sums
with a NumPy routine that uses another order."""

from __future__ import annotations

import ast
import pathlib
import random
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_vector_spark.functions import vector as V


def _spark_round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def test_round6_ties_at_every_magnitude():
    """Ties ``n/1e6 + 5e-7`` round half-up on the decimal repr, away
    from zero, from 1 to 1e5 (a fixed 1e-8 margin misrounded them from
    about 128 up)."""
    rng = random.Random(7)
    xs = []
    for mag in (1, 3, 10, 30, 100, 300, 1e3, 1e4, 3e4, 1e5):
        for _ in range(2000):
            x = rng.randrange(int(mag * 1e6)) / 1e6 + 5e-7
            xs += [x, -x]
    got = V.round6(np.array(xs))
    want = np.array([_spark_round6(x) for x in xs])
    bad = [(x, g, w) for x, g, w in zip(xs, got, want) if g != w]
    assert not bad, bad[:5]


def test_round6_non_ties_and_specials():
    rng = np.random.default_rng(3)
    xs = np.concatenate(
        [rng.standard_normal(2000) * s for s in (1e-6, 1e-3, 1.0, 1e3, 1e6, 1e10)]
    )
    assert (V.round6(xs) == [_spark_round6(float(x)) for x in xs]).all()
    out = V.round6(np.array([[np.nan, np.inf], [-np.inf, -0.0]]))
    assert np.isnan(out[0, 0]) and out[0, 1] == np.inf and out[1, 0] == -np.inf
    assert out[1, 1] == 0.0


def test_round6_matches_live_round(spark):
    xs = [131.1362395, 5e-07, -5e-07, 2.5e-06, 0.0644375]
    row = spark.range(1).select(
        *[F.round(F.lit(x).cast("double"), 6).alias(f"r{i}") for i, x in enumerate(xs)]
    ).head()
    assert list(row) == list(V.round6(np.array(xs)))
    assert row[0] == 131.13624 and row[1] == 1e-06


def test_twins_equal_expressions_bit_for_bit(spark):
    """Pairwise twins against the JVM expressions on values whose sums
    depend on the order of addition."""
    rng = np.random.default_rng(11)
    A = rng.standard_normal((6, 33)) * np.array([1e-8, 1e8, 1.0] * 11)
    B = rng.standard_normal((5, 33)) * 3.0
    a = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(A)], "i int, a array<double>"
    )
    b = spark.createDataFrame(
        [(j, [float(x) for x in v]) for j, v in enumerate(B)], "j int, b array<double>"
    )
    rows = a.crossJoin(b).select(
        "i",
        "j",
        F.expr(V.squared_l2("a", "b")).alias("l2"),
        F.expr(V.dot_product("a", "b")).alias("ip"),
        F.expr(V.cosine_similarity("a", "b")).alias("cos"),
        F.expr(V.l2_norm("a")).alias("na"),
    ).collect()
    X, Y = A[:, None, :], B[None]
    twins = {
        "l2": V.squared_l2_np(X, Y),
        "ip": V.dot_product_np(X, Y),
        "cos": V.cosine_similarity_np(X, Y),
    }
    norms = V.l2_norm_np(A)
    for r in rows:
        for name, M in twins.items():
            assert r[name] == M[r.i, r.j], (name, r.i, r.j)
        assert r.na == norms[r.i]
    # the pairwise sum NumPy's own reduction uses is a different order
    assert (((X - Y) ** 2).sum(-1) != twins["l2"]).any()


def test_vector_matrix_arrow():
    import pyarrow as pa

    vecs = [[1.0, 2.0], [3.0, 4.5]]
    want = np.array(vecs)
    arr = pa.array(vecs, type=pa.list_(pa.float32()))
    got = V.vector_matrix(arr)
    assert (got == want).all() and got.dtype == np.float64
    assert (V.vector_matrix(pa.chunked_array([arr.slice(0, 1), arr.slice(1)])) == want).all()
    assert (V.vector_matrix(arr.slice(1)) == want[1:]).all()
    assert V.vector_matrix(pa.chunked_array([], type=arr.type)).shape == (0, 0)
    assert V.vector_matrix(pa.array([], type=arr.type)).shape == (0, 0)


BANNED = {"round", "around", "einsum", "linalg.norm"}


def _dotted(node) -> str | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return ".".join(reversed(parts))


def _banned_numpy_calls(root: pathlib.Path):
    """AST scan: (relative file, line, call) of every ``np.round``,
    ``np.around``, ``np.einsum`` or ``np.linalg.norm`` call."""
    out = []
    for f in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = _dotted(node.func) or ""
            mod, _, rest = name.partition(".")
            if mod in ("np", "numpy") and rest in BANNED:
                out.append((str(f.relative_to(root)), node.lineno, name))
    return out


def test_no_numpy_rounding_or_reordered_sums_in_package():
    """Each of these sums or rounds in an order Spark's ``aggregate`` and
    ``ROUND`` do not use; kernels go through the twins instead."""
    root = pathlib.Path(__file__).resolve().parent.parent / "simple_vector_spark"
    calls = _banned_numpy_calls(root)
    assert not calls, (
        f"NumPy rounding/summing call(s) in the package: {calls}"
        " — use round6 / squared_l2_np / dot_product_np / l2_norm_np"
        " from simple_vector_spark.functions.vector"
    )


@pytest.mark.parametrize(
    "src",
    ["np.round(x, 6)", "numpy.around(x)", "np.einsum('ij,ij->i', a, b)", "np.linalg.norm(a)"],
)
def test_guard_flags_each_banned_call(tmp_path, src):
    (tmp_path / "k.py").write_text(f"import numpy as np\n\n\ndef f(x, a, b):\n    return {src}\n")
    assert _banned_numpy_calls(tmp_path) == [("k.py", 5, src.split("(")[0])]
