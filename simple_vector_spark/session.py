"""SparkSession factory tuned for the test/bench environment.

Local mode (``local[N]``) is a single JVM; the configs below are chosen
so the same code is correct on a real cluster: AQE on (runtime re-plan,
skew-join handling), shuffle partitions sized to cores locally (on a
cluster you would size to ~2-3x total cores), UTC session timezone so
timestamps compare exactly against the DuckDB oracle, and Arrow enabled
for ``toPandas``.  Python workers fork from
``worker_daemon`` (``spark.python.daemon.module``), which imports the
interpreter's unpacked pyspark instead of Spark's ``pyspark.zip``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.loaders import scratch_root

# the directory holding the ``simple_vector_spark`` package
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_cpus() -> int:
    """Core count from ``$SPARK_GRAFT_CPUS`` (default 32); raises
    ``ValueError`` naming the variable unless it is a positive
    integer."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not (raw.isascii() and raw.isdigit() and int(raw) > 0):
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def get_spark(app_name: str = "simple-vector-spark") -> SparkSession:
    cpus = spark_cpus()
    master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Python workers import the package by name (UDF kernels,
        # the WAL DataSource), so they need it on their path whatever
        # directory the application starts in.
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        .config("spark.python.daemon.module", "simple_vector_spark.worker_daemon")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static: the session catalog creates the default database's
        # directory on first access, so keep it out of the launch
        # directory, under the write paths' root
        .config("spark.sql.warehouse.dir", scratch_root() + "spark-warehouse")
    )
    # local[N] is ONE JVM: shuffle/broadcast/cached-block bytes never
    # cross a network, so LZ4 framing is pure CPU overhead here
    # (measured 5-8% total, up to 1.8x on shuffle-heavy queries at
    # sf0.1).  Gated on the master actually being local so a future
    # cluster master keeps the defaults (ON) — there the shuffle is
    # network/disk-bound and compression wins.
    if master.startswith("local"):
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.rdd.compress", "false")
            .config("spark.broadcast.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
