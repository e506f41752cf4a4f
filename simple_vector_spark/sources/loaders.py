"""Parquet sources for the driver fixtures.

The reference's only ingress is HTTP JSON (src/http_server.cc:14-38) and
its store is RocksDB (src/scalar_storage.cc:20-53); in the Spark engine
the source of truth is a columnar Parquet table per collection — the
scan IS the index input and the doc store at once (SURVEY.md §1.4).

At 100 TB the same loaders point at a partitioned table; everything
downstream is expressed against the DataFrame so partition pruning,
predicate pushdown and column pruning reach the scan via Catalyst.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, GroupedData, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# The directory the write-path queries write under: ``_scratch`` in the
# checkout this package was imported from.  It stays one absolute
# string literal so that an importer can point it elsewhere by
# rewriting the source (perfbench moves it into its work directory).
_SCRATCH = "/__checkout__/_scratch/"
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scratch_root() -> str:
    """The directory the write paths write under (with a trailing
    ``/``)."""
    return _SCRATCH.replace("/__checkout__", _CHECKOUT, 1)


def scratch_path(kind: str, sf_dir: str) -> str:
    """Where a write-path query puts its ``kind`` output for the fixture
    ``sf_dir``: one directory per (kind, fixture name)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    return scratch_root() + f"{kind}_{tag}"


def session_cached(spark: SparkSession, sf_dir: str, name: str, build):
    """The session's one store for build-once state: ``build()``'s
    value for (``name``, fixture dir), built on the first call and
    returned as is after that.  Holds the loaded tables, the index
    relations and the codebooks; a real system builds its index once
    and serves every search from it.

    The fixture tables are immutable for a session's lifetime and a
    DataFrame is an immutable logical plan, so sharing is safe, but only
    within one session: a DataFrame is bound to the SQLConf of the
    session that created it, and ``spark.newSession()`` twins (same
    application, private conf; bloom_filter_join uses one) must not see
    each other's entries.  So the store is an attribute of the session
    object and dies with it."""
    cache = spark.__dict__.setdefault("_sv_relation_cache", {})
    key = (name, os.path.abspath(sf_dir))
    if key not in cache:
        cache[key] = build()
    return cache[key]


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set the session conf ``conf`` for the body of the ``with``; on
    the way out each key gets its previous value back, or is unset if
    it had none, also when the body raises."""
    prev = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


@contextmanager
def active_session(spark: SparkSession):
    """Make ``spark`` the thread's active session for the body of the
    ``with``; the previous one (or none) is active again on the way
    out, also when the body raises.  Spark resolves a Python data
    source's name through the active session, on register and on
    ``load()``, so a ``newSession()`` twin must be active for both."""
    jvm = spark._jvm.SparkSession
    prev = jvm.getActiveSession()
    jvm.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            jvm.setActiveSession(prev.get())
        else:
            jvm.clearActiveSession()


def data_source(spark: SparkSession, source) -> str:
    """Register the Python DataSource class ``source`` with the session
    (once per session, through the session store) and return its format
    name.  Load it inside :func:`active_session`."""
    name = source.name()

    def register():
        with active_session(spark):
            spark.dataSource.register(source)

    # a registration belongs to the session, not to a fixture: key it
    # to the root directory
    session_cached(spark, "/", f"data_source_{name}", register)
    return name


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The engine's timestamp semantics are UTC (FIXTURES.md §C: the
    # DuckDB oracle sees naive/UTC timestamps).  The driver brings its
    # own session, so pin the session timezone here — every declared
    # query loads through this function.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return session_cached(spark, sf_dir, name, lambda: _read_table(spark, path, name))


def _footer_schema(path: str) -> StructType:
    """The Spark schema of a Parquet file, read from its footer on the
    driver: a read that infers the schema runs one Spark job.
    Timestamps without a time zone are TIMESTAMP_NTZ, as Spark infers
    them; nanosecond ones are longs, as Spark reads them under
    ``spark.sql.legacy.parquet.nanosAsLong``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pq.read_schema(path)
    for i, f in enumerate(schema):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            schema = schema.set(i, f.with_type(pa.int64()))
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.schema(_footer_schema(path)).parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return events_ts(spark.read.schema(_footer_schema(path)).parquet(path))


def events_ts(df: DataFrame) -> DataFrame:
    """The events table ``df`` (read with its footer schema under
    ``nanosAsLong``) with ``ts`` as a session-UTC TimestampType.

    Fixture vintages differ on events.ts: some are nanosecond parquet
    timestamps (which the Spark reader rejects — read as a raw long
    and INTEGER-truncate to micros, matching DuckDB's ns->us
    truncation), newer ones are plain us timestamps the reader handles
    natively.  Adapt to whichever is on disk."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # native-us fixtures arrive as TIMESTAMP_NTZ; normalize to the
    # session-UTC TimestampType every downstream operator was built
    # against (identical instants under the pinned UTC session tz)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def num_partitions(df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()`` without the Python RDD wrapper
    (~20 ms of driver CPU): ``df.rdd`` maps over the same RDD."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def fan_out(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Round-robin repartition to full core count when the scan produced
    too few splits to keep the cluster busy.

    The driver fixtures are single-row-group parquet files, so Spark's
    split planner (``spark.sql.files.maxPartitionBytes``) can only give
    1-2 tasks — per-row heavy work (MinHash, shingling, distance exprs)
    would then run on 2 of 32 cores.  On a real 100-TB table the scan
    itself yields thousands of splits and this is a no-op (the
    ``min_ratio`` guard), so no extra shuffle is paid at scale."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) >= max(1, int(target * min_ratio)):
        return df
    return df.repartition(target)


def arrow_schema(schema: str | StructType):
    """The Arrow schema of a DDL string or StructType.  Resolve it on the
    driver (DDL parsing needs the JVM) and hand it to worker kernels."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )


def arrow_table(columns, schema):
    """A ``pyarrow.Table`` typed by the Arrow ``schema``, built per
    column: ``columns`` holds one sequence (list or NumPy array) per
    field, in field order.  No columns at all (``zip(*rows)`` of no
    rows) gives the empty table.  Not via pandas, so an int column
    holding ``None`` stays an int column."""
    import pyarrow as pa

    columns = list(columns) or [()] * len(schema)
    return pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, schema)], schema=schema
    )


def map_in_arrow(df: DataFrame, kernel, schema: str) -> DataFrame:
    """``df.mapInArrow`` over a per-batch kernel: ``kernel(batch)``
    returns the output columns in ``schema`` order, typed here by the
    one DDL.  Empty input batches are skipped."""
    out = arrow_schema(schema)

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield from arrow_table(kernel(batch), out).to_batches()

    run.__name__ = kernel.__name__  # the plan names the kernel
    return df.mapInArrow(run, schema)


def apply_in_arrow(grouped, kernel, schema: str) -> DataFrame:
    """``applyInArrow`` on a grouped or cogrouped frame over
    ``kernel(*tables)``: each group arrives as one Arrow table per side,
    and the kernel returns the output columns in ``schema`` order, typed
    here by the one DDL.  A group with an empty side (a cogroup key only
    one side holds) gives no rows without calling the kernel."""
    out = arrow_schema(schema)

    def run(*tables):
        if not all(t.num_rows for t in tables):
            return out.empty_table()
        return arrow_table(kernel(*tables), out)

    def one(table):
        return run(table)

    def two(left, right):
        return run(left, right)

    fn = one if isinstance(grouped, GroupedData) else two
    fn.__name__ = kernel.__name__  # the plan names the kernel
    return grouped.applyInArrow(fn, schema)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A small driver-side literal table (centroids, grids, model
    parameters, report rows) typed by ``schema`` (DDL or StructType).

    ``createDataFrame`` on a Python list parallelizes the rows through an
    identity map, so every execution of the literal runs
    ``defaultParallelism`` Python-worker tasks.  An Arrow table goes to the JVM as a local
    relation instead: no Python task (:func:`arrow_table`)."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return spark.createDataFrame(arrow_table(zip(*rows), arrow_schema(struct)), struct)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest path: two parquet drops of the customer
    dimension written under one table directory with DIFFERENT schemas
    (the v2 drop adds c_acctbal), read back with mergeSchema — old
    rows surface the new column as NULL, exactly how a long-lived
    100-TB table accretes columns without rewriting history.

    The split is deterministic (even custkeys = v1 vintage, odd = v2)
    so the NULL pattern is oracle-expressible; the read itself proves
    the merged-footer path, not just the happy same-schema union."""
    cust = load_table(spark, sf_dir, "customer")
    base = scratch_path("schema_evo", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_nationkey"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/v1")
    cust.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/v2")
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(base)
    return (
        merged.groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("c_acctbal").cast("bigint").alias("n_with_bal"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(15,2)")).cast("double"), 2
            ).alias("sum_bal"),
        )
    )
