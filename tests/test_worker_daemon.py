"""``simple_vector_spark.worker_daemon``: the Python-worker daemon that
``session.get_spark`` names in ``spark.python.daemon.module``.

These tests pin (1) the path rule: Spark's own archives leave
``sys.path`` and ``sys.path_importer_cache`` only when the
interpreter's pyspark is the zip's release, and nothing else moves;
(2) that a live worker runs the unpacked pyspark, keeps no zipimporter
and has its start-up objects frozen; and (3) that no code outside
``session.py`` builds a session, so every session gets the daemon."""

from __future__ import annotations

import ast
import pathlib
import zipfile

import pyspark
import pytest

from simple_vector_spark.worker_daemon import drop_spark_archives

VERSION = b"__version__: str = '4.1.2'\n"
ROOT = pathlib.Path(__file__).resolve().parent.parent


def _zip(path: pathlib.Path, files: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _package(site: pathlib.Path, version: bytes) -> None:
    pkg = site / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)


def _layout(tmp_path, installed=VERSION, with_pyspark_zip=True):
    """A worker-like ``sys.path`` (launch dir, Spark's archives, the
    package's parent, a user's zip, site-packages) and an importer cache
    holding every entry plus subpackage keys under the archives."""
    spark = {
        "pyspark": _zip(tmp_path / "lib" / "pyspark.zip", {"pyspark/version.py": VERSION}),
        "py4j": _zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        "jar": _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {"org/x.class": b""}),
    }
    if not with_pyspark_zip:
        del spark["pyspark"]
    deps = _zip(tmp_path / "deps.zip", {"dep.py": b""})
    site = str(tmp_path / "site")
    if installed is not None:
        _package(tmp_path / "site", installed)
    path = [str(tmp_path), *spark.values(), str(ROOT), deps, site]
    cache = {p: object() for p in path}
    cache.update({f"{a}/{sub}": object() for a in spark.values() for sub in ("pyspark", "org")})
    cache[f"{deps}/dep"] = object()
    return path, cache, list(spark.values())


def test_matching_version_drops_exactly_spark_archives(tmp_path):
    path, cache, archives = _layout(tmp_path)
    before_path, before_cache = list(path), dict(cache)
    assert sorted(drop_spark_archives(path, cache)) == sorted(archives)
    assert path == [p for p in before_path if p not in archives]
    assert cache == {
        k: v
        for k, v in before_cache.items()
        if not any(k == a or k.startswith(a + "/") for a in archives)
    }
    # the user's zip and every directory entry stay
    assert str(tmp_path / "deps.zip") in path and str(tmp_path / "deps.zip") + "/dep" in cache
    assert str(tmp_path / "site") in path and str(ROOT) in path and str(tmp_path) in path


@pytest.mark.parametrize(
    "layout",
    [
        dict(installed=b"__version__: str = '4.0.0'\n"),
        dict(installed=None),
        dict(with_pyspark_zip=False),
    ],
    ids=["other-version", "no-installed-pyspark", "no-pyspark-zip"],
)
def test_no_change(tmp_path, layout):
    path, cache, _ = _layout(tmp_path, **layout)
    before_path, before_cache = list(path), dict(cache)
    assert drop_spark_archives(path, cache) == []
    assert path == before_path
    assert cache == before_cache


def test_live_worker_runs_unpacked_pyspark(spark):
    def probe(batches):
        import gc
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zipimporters = [
            k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict(
            {
                "file": [pyspark.__file__],
                "version": [pyspark.__version__],
                "zipimporters": [len(zipimporters)],
                "frozen": [gc.get_freeze_count()],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "file string, version string, zipimporters long, frozen long")
        .collect()[0]
    )
    assert ".zip" not in row.file and ".jar" not in row.file, row.file
    assert row.version == pyspark.__version__
    assert row.zipimporters == 0
    assert row.frozen > 0


def _builder_uses():
    """AST scan: (relative file, line) of every ``SparkSession.builder``
    in the package, tools/ and bench.py (code, not docstrings)."""
    files = [*(ROOT / "simple_vector_spark").rglob("*.py"), *(ROOT / "tools").rglob("*.py")]
    files.append(ROOT / "bench.py")
    return {
        (str(f.relative_to(ROOT)), node.lineno)
        for f in sorted(files)
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and getattr(node.value, "id", getattr(node.value, "attr", None)) == "SparkSession"
    }


def test_session_builder_only_in_get_spark():
    uses = _builder_uses()
    inside = {u for u in uses if u[0] == "simple_vector_spark/session.py"}
    assert inside, "session.py no longer builds the session"
    assert not uses - inside, (
        f"SparkSession.builder outside session.py: {sorted(uses - inside)}"
        " — create sessions with simple_vector_spark.session.get_spark"
    )
