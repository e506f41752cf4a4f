"""Mutation semantics: upsert (latest-wins merge), delete, snapshot.

Reference behavior (SURVEY.md §2):
- O13 upsert: WAL-append then read-modify-write of index + filter
  bitmaps + scalar store (src/vector_database.cc:51-141).
- O12 delete: ``IndexIDMap::remove_ids`` (src/faiss_index.cc:22-30).
- O16-O19 WAL/snapshot/replay (src/persistence.cc:50-164).
- O20 monotonic version ids driving replay order
  (src/persistence.cc:43-48).

Spark mapping: mutations become *declarative merges* over an immutable
log.  The upsert stream is a DataFrame with a sequence column (the
reference's WAL log id); "current state" is the latest row per key —
a single window dedup.  Delete is an anti-filter.  Snapshot/restore is
a Parquet write/read (the commit IS the snapshot); WAL replay is
re-running the merge from the log, so there is no recovery code.

Scale: latest-wins is ONE shuffle by key (the window), and Spark >= 3.5
applies WindowGroupLimit so each map partition forwards only its local
latest row per key.  With Delta in production this is MERGE INTO; the
pure-DataFrame form here has identical semantics and an exact SQL
oracle (row_number() dedup in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def latest_wins(
    log: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
) -> DataFrame:
    """Collapse an upsert log to current state: newest row per key wins.

    ``seq_cols`` break ties deterministically (the reference's WAL log
    id is strictly monotonic, src/persistence.cc:43-48; our fixtures use
    (ts, event_id)).
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in seq_cols])
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_upserts(
    state: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
) -> DataFrame:
    """O13 as a pure-DataFrame merge: union the batch onto the current
    state and keep the latest per key — last-write-wins, identical to
    the reference's delete-old/insert-new sequence but atomic."""
    return latest_wins(state.unionByName(batch), key_cols, seq_cols)


def delete_ids(corpus: DataFrame, pred: Column) -> DataFrame:
    """O12: delete = anti-filter.  ``pred`` selects the rows to REMOVE."""
    return corpus.filter(~pred)


def delete_ids_anti(corpus: DataFrame, tombstones: DataFrame, key: str) -> DataFrame:
    """O12 at scale: tombstone table + broadcast anti-join (never
    ``isin`` over a collected list)."""
    return corpus.join(F.broadcast(tombstones), on=key, how="left_anti")


def wal_replay(
    log: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str,
    delete_op: str,
) -> DataFrame:
    """O17 (intended semantics, doc/wal.md:7): reconstruct current
    state by replaying an op log in sequence order.  Declaratively:
    the newest op per key wins (O13's window), and keys whose newest
    op is a delete have no current row (O12 tombstone).

    The reference replays by re-calling upsert() per record serially
    (src/vector_database.cc:21-50); here replay is one shuffle-by-key
    window over the whole log regardless of log length — recovery time
    is O(log/partitions), not O(log) serial."""
    latest = latest_wins(log, key_cols, seq_cols)
    return latest.filter(F.col(op_col) != F.lit(delete_op))


def allocate_ids(
    df: DataFrame, order_cols: list[str], id_name: str = "new_id"
) -> DataFrame:
    """O20: monotonic id allocation.  The reference hands out
    ``increaseID_++`` per WAL record (src/persistence.cc:43-48) — a
    serial counter.  Deterministic distributed equivalent: the
    two-phase zipWithIndex pattern (range-partition on the order key,
    local row_number per partition + broadcast offsets) — dense,
    deterministic, and never a single-partition window, so corpus-scale
    id assignment keeps every task partition-sized.  Use
    ``monotonically_increasing_id`` instead when density is not
    required."""
    from .ranking import ranked_global

    return ranked_global(
        df, [F.col(c).asc() for c in order_cols], rank_name=id_name
    )


def snapshot(df: DataFrame, path: str, partition_by: list[str] | None = None) -> StructType:
    """O18: persist current state.  A Parquet/Delta commit is the
    snapshot — atomic at the commit level, no bespoke file format.
    ``partition_by`` lays the snapshot out for partition pruning on
    the hot filter columns (the filter-index analog, O14).  Returns the
    schema a reader sees: the written one, nullable, with the
    partition columns last — hand it to :func:`restore`."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    parts = partition_by or []
    fields = [f for f in df.schema.fields if f.name not in parts]
    fields += [df.schema[c] for c in parts]
    return StructType([StructField(f.name, f.dataType, True) for f in fields])


def restore(spark, path: str, schema: StructType) -> DataFrame:
    """O19: load a snapshot, read with the ``schema`` :func:`snapshot`
    returned (inferring it, and the partition columns' types, would run
    a Spark job).  Replay (O17) is unnecessary: re-running the
    latest-wins merge from the source-of-truth log reproduces any
    state; streaming jobs get exactly-once from checkpointLocation."""
    return spark.read.schema(schema).parquet(path)


def compaction_audit(
    log: DataFrame,
    keys: list[str],
    order: list[str],
    op_col: str,
    tombstone: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Log-compaction audit — the decision input for when to cut a
    snapshot (O18) instead of replaying an ever-growing WAL (the
    reference rewrites the FULL index every snapshot and replays the
    whole log on recovery, `src/persistence.cc:84-135`,
    `doc/persistence.md:9` "no incremental/dirty check (todo)"; this
    audit is that missing dirty check): per key-bucket, how many log
    records are DEAD — superseded by a later op or tombstoned — and
    the rewrite payoff (dead ratio).  Buckets are the snapshot's
    partition layout (hash of key), so each row prices compacting one
    partition file.

    One shuffle by key for the latest-op window, then a bucket-bounded
    aggregate; the log is scanned once."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order]
    )
    r = log.select(
        *keys,
        F.col(op_col),
        F.row_number().over(w).alias("_rn"),
    )
    live = (
        (F.col("_rn") == 1) & (F.col(op_col) != tombstone)
    ).cast("long")
    per_key = r.groupBy(*keys).agg(
        F.count("*").alias("_n_records"),
        F.max(live).alias("_live"),
    )
    bucket = F.pmod(F.col(keys[0]), F.lit(n_buckets)).cast("int")
    return (
        per_key.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("_n_records").cast("bigint").alias("n_records"),
            F.sum("_live").cast("bigint").alias("n_live_keys"),
            (F.sum("_n_records") - F.sum("_live")).cast("bigint").alias("n_dead_records"),
            F.round(
                (F.sum("_n_records") - F.sum("_live"))
                / F.sum("_n_records").cast("double"),
                6,
            ).alias("dead_ratio"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    cmp_cols: list[str],
) -> DataFrame:
    """CDC changelog between two snapshot versions: per key, classify
    as inserted / deleted / updated / unchanged — the change-data feed
    a downstream incremental consumer reads instead of re-scanning the
    whole new snapshot (the reference has no snapshot diffing at all;
    recovery always replays everything, src/persistence.cc:84-135).

    One full-outer equi-join on the snapshot key (both sides bucketed
    by key in a real deployment -> shuffle-free SMJ), comparison
    columns checked with null-safe equality, then a 4-group count.
    Output is the op-mix summary; the un-aggregated joined frame IS
    the changelog if a caller wants rows."""
    o = old.select(
        *key_cols,
        F.lit(1).alias("_o_present"),
        *[F.col(c).alias(f"_o_{c}") for c in cmp_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(1).alias("_n_present"),
        *[F.col(c).alias(f"_n_{c}") for c in cmp_cols],
    )
    j = o.join(n, key_cols, "full_outer")
    has_old = F.col("_o_present").isNotNull()
    has_new = F.col("_n_present").isNotNull()
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    op = (
        F.when(~has_old, F.lit("insert"))
        .when(~has_new, F.lit("delete"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return (
        j.select(op.alias("op"))
        .groupBy("op")
        .agg(F.count("*").cast("bigint").alias("n_keys"))
    )
