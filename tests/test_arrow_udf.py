"""One Python UDF form: Arrow record batches.

The package reaches Python through ``mapInArrow``, ``applyInArrow``
and ``arrow_udf`` only, and each kernel's output is typed by the one
DDL its call site passes (``sources.loaders.map_in_arrow`` /
``apply_in_arrow``).  These tests pin (1) that no pandas UDF form or
``import pandas`` is left in the package outside the two stateful
streaming operators (no Arrow form) and the worker daemon's preload,
(2) that the shared empty-input paths return the declared schema with
the right row counts, and (3) that the shard k-NN paths answer an
empty query like the expression paths."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql.types import StructType

from simple_vector_spark.operators import ann, knn, multimodal
from simple_vector_spark.sources.loaders import local_frame

ROOT = pathlib.Path(__file__).resolve().parent.parent / "simple_vector_spark"

PANDAS_FORMS = {"mapInPandas", "applyInPandas", "pandas_udf"}
# (file, enclosing function) allowed to import pandas: the state
# function of applyInPandasWithState and the transformWithStateInPandas
# processor, and the daemon's pre-fork preload
PANDAS_ALLOWED = {
    ("streaming/jobs.py", "_user_totals_fn"),
    ("streaming/jobs.py", "_make_totals_processor"),
    ("worker_daemon.py", "main"),
}


def _pandas_sites(root: pathlib.Path = ROOT) -> set[tuple[str, int, str]]:
    """AST scan: (relative file, line, what) of every pandas UDF form
    (``.mapInPandas``, ``.applyInPandas``, ``pandas_udf``) and every
    ``import pandas`` outside ``PANDAS_ALLOWED``."""
    sites = set()
    for f in sorted(root.rglob("*.py")):
        rel = str(f.relative_to(root))

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = func or node.name
            what = None
            if isinstance(node, ast.Attribute) and node.attr in PANDAS_FORMS:
                what = node.attr
            elif isinstance(node, ast.Name) and node.id in PANDAS_FORMS:
                what = node.id
            elif isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
                if (node.module or "").split(".")[0] == "pandas":
                    what = "import pandas"
                elif names & PANDAS_FORMS:
                    what = f"import {sorted(names & PANDAS_FORMS)[0]}"
            elif isinstance(node, ast.Import) and any(
                a.name.split(".")[0] == "pandas" for a in node.names
            ):
                what = "import pandas"
            if what and not (what == "import pandas" and (rel, func) in PANDAS_ALLOWED):
                sites.add((rel, node.lineno, what))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(f.read_text()), None)
    return sites


def test_no_pandas_udf_forms_in_package():
    sites = _pandas_sites()
    assert not sites, (
        "pandas UDF form(s) or pandas import(s) in the package: "
        + ", ".join(f"{f}:{n} {w}" for f, n, w in sorted(sites))
        + " — use mapInArrow / applyInArrow / arrow_udf with"
        " sources.loaders.map_in_arrow / apply_in_arrow"
    )


@pytest.mark.parametrize(
    "src, what",
    [
        ("df.mapInPandas(f, 'a long')", "mapInPandas"),
        ("df.groupBy('a').applyInPandas(f, 'a long')", "applyInPandas"),
        ("@pandas_udf('double')\ndef f(v): return v", "pandas_udf"),
        ("def g():\n    import pandas as pd", "import pandas"),
        ("from pandas import DataFrame", "import pandas"),
    ],
)
def test_guard_flags_each_form(tmp_path, src, what):
    (tmp_path / "mod.py").write_text(src + "\n")
    assert what in {w for _, _, w in _pandas_sites(tmp_path)}


def test_guard_allows_named_preloads(tmp_path):
    (tmp_path / "worker_daemon.py").write_text("def main():\n    import pandas\n")
    assert _pandas_sites(tmp_path) == set()


def _fields(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _ddl(ddl: str) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(ddl)]


CORPUS = "vec_id long, embedding array<float>, label int"


@pytest.mark.parametrize("n", [0, 1])
def test_allpairs_kernels_on_degenerate_corpus(spark, n):
    rows = [(7, [1.0, 2.0, 3.0], 1)][:n]
    corpus = local_frame(spark, rows, CORPUS)

    top = knn.allpairs_topk_arrow(corpus, 3)
    assert _fields(top) == _ddl("qid long, cid long, d double, rnk int")
    assert top.count() == 0  # no pairs: self-pairs are excluded

    cnt = knn.allpairs_threshold_count_arrow(corpus, 10.0)
    assert _fields(cnt) == _ddl("n_true_pairs long")
    assert [r[0] for r in cnt.collect()] == [0]

    sil = knn.label_silhouette(corpus)
    assert _fields(sil) == _ddl(
        "label int, n long, mean_silhouette double, negative_share double"
    )
    assert sil.count() == 0  # no point has both an own and another label


def test_graph_cell_with_one_member(spark):
    # vector 3 sits alone at centroid 2; vectors 1 and 2 share centroid 1
    emb = local_frame(
        spark,
        [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [100.0, 100.0], 0)],
        CORPUS,
    )
    edges = ann.knn_graph_navigable(emb, [(1, [0.5, 0.0]), (2, [100.0, 100.0])], g=2, assign=1)
    assert _fields(edges) == _ddl("vec_id long, nbr_id long, dist double, rnk int")
    assert sorted(tuple(r) for r in edges.collect()) == [(1, 2, 1.0, 1), (2, 1, 1.0, 1)]


def test_multimodal_kernels_on_empty_input(spark):
    no_docs = local_frame(spark, [], "doc_id long")
    stats = multimodal.png_decode_stats(no_docs)
    assert _fields(stats) == _ddl(multimodal.PNG_STATS_SCHEMA)
    assert stats.count() == 0
    # a non-empty batch whose kernel emits no rows: a 0-byte payload has no frames
    payloads = local_frame(spark, [(1, b""), (2, b"x" * 600)], "doc_id long, payload binary")
    frames = multimodal.sample_frames(payloads)
    assert _fields(frames) == _ddl(multimodal.FRAMES_SCHEMA)
    assert sorted((r.doc_id, r.frame_idx) for r in frames.collect()) == [(2, 0)]


def _single(queries):
    """A single-query operator's request: the first query's vector, or
    None when there is none."""
    row = queries.head()
    return None if row is None else row.embedding


@pytest.mark.parametrize(
    "search",
    [
        lambda c, q: knn.knn_topk(c, _single(q), 3),
        lambda c, q: knn.knn_join(c, q, 3),
        lambda c, q: knn.knn_shard_topk(c, _single(q), 3),
        lambda c, q: knn.knn_shard_join(c, q, 3),
    ],
    ids=["knn_topk", "knn_join", "knn_shard_topk", "knn_shard_join"],
)
def test_knn_on_empty_query(spark, search):
    corpus = local_frame(spark, [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)], CORPUS)
    queries = local_frame(spark, [], "vec_id long, embedding array<float>")
    got = search(corpus, queries)
    assert got.count() == 0
    # the same call on a one-row query answers with the same schema
    one = local_frame(spark, [(9, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert got.schema == search(corpus, one).schema
