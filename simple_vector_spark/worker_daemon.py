"""Python-worker daemon for the sessions ``session.get_spark`` builds.

Spark starts its Python-worker daemon as ``python -m <module>`` with
its own archives -- ``pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core`` jar -- first on ``PYTHONPATH``, and the daemon forks one
worker per task slot.  Before every task the worker calls
``importlib.invalidate_caches()``, which makes each cached zipimporter
re-read its archive's central directory: about 0.2 s of CPU per task
for a UDF that runs for milliseconds (Python 3.11, Spark 4.1's
1,328-entry ``pyspark.zip``, 4 vCPUs).  This module, named by
``spark.python.daemon.module``:

1. drops Spark's archives from ``sys.path`` and from
   ``sys.path_importer_cache`` when the interpreter's own pyspark is
   the same release (same ``pyspark/version.py``), so workers import
   the unpacked copy and keep no zipimporter;
2. imports the libraries every worker uses and freezes them out of
   the garbage collector, so each fork starts warm and the daemon's
   per-task ``gc.collect()`` skips them;
3. runs the stock daemon, ``pyspark.daemon.manager()``.

UDF code, plans and rows are unchanged; only the per-task cost moves.
"""

from __future__ import annotations

import fnmatch
import gc
import os
import sys
import zipfile

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "*.jar")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatchcase(name, pat) for pat in _SPARK_ARCHIVES)


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return None


def _zipped_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def drop_spark_archives(path: list[str], cache: dict) -> list[str]:
    """Remove Spark's archive entries from ``path`` (``sys.path``) and
    every ``cache`` (``sys.path_importer_cache``) key at or under them,
    in place, when the first ``pyspark`` package among the remaining
    directories has the same ``pyspark/version.py`` as ``pyspark.zip``.
    Otherwise leave both unchanged.  Returns the removed entries."""
    archives = [p for p in path if _is_spark_archive(p)]
    zipped = next(
        (_zipped_version(p) for p in archives if os.path.basename(p) == "pyspark.zip"),
        None,
    )
    if zipped is None:
        return []
    installed = next(
        (
            os.path.join(d, "pyspark", "version.py")
            for d in path
            if d not in archives and os.path.isfile(os.path.join(d, "pyspark", "__init__.py"))
        ),
        None,
    )
    if installed is None or _read(installed) != zipped:
        return []
    path[:] = [p for p in path if p not in archives]
    for key in list(cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del cache[key]
    return archives


def main() -> None:
    drop_spark_archives(sys.path, sys.path_importer_cache)
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
