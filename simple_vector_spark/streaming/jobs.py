"""Structured Streaming jobs with batch-equivalent semantics.

The reference's only "streaming" is its WAL: an append-only upsert log
consumed at boot (src/persistence.cc:84-135, doc/wal.md).  The Spark
engine treats the log as a live stream: ``readStream`` over the events
table, watermarks for late data, windowed aggregation, stateful dedup.

Each job runs through the one availableNow runner (``run_available_now``)
into a memory sink and drains synchronously, so its result equals the corresponding batch
query (events_tumbling_1h / distinct events) — which is exactly how the
DuckDB oracle checks it.  In production the same code points at a file/
Kafka source with a durable checkpointLocation; the checkpoint replaces
the reference's snapshot-id bookkeeping (O16-O19).

Scale: windowed agg state is partitioned by (window, keys); dedup state
by event_id; watermarks bound both.  availableNow processes the backlog
in rate-limited batches — the same plan a 100-TB backfill would run.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.events import TS_FMT
from ..sources.loaders import (
    _footer_schema, events_ts, load_table, local_frame, scoped_conf, scratch_path,
)

# shuffle partitions of a drained stream, and so its state-store count
STATE_PARTITIONS = "8"


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table, typed like ``load_table``'s:
    the streaming file source needs an explicit schema, which comes
    from the Parquet footer on the driver (no Spark job)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _footer_schema(os.path.join(sf_dir, "events.parquet"))
    # the streaming file source wants a directory; glob-filter the
    # events file out of the fixture dir
    return events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def run_available_now(writer: DataStreamWriter, ckpt: str | None = None) -> None:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait for
    it to drain its backlog.  ``ckpt`` is the checkpoint location; with
    none, the run gets a throwaway checkpoint dir that is removed
    afterwards."""
    tmp = ckpt is None
    ckpt = tempfile.mkdtemp(prefix="svs_ckpt_") if tmp else ckpt
    try:
        writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start().awaitTermination()
    finally:
        if tmp:
            shutil.rmtree(ckpt, ignore_errors=True)


def _drain(stream: DataFrame, mode: str) -> DataFrame:
    """Run to completion (availableNow) into a memory sink; return the
    sink as a batch DataFrame.

    The streaming plan captures spark.sql.shuffle.partitions at start()
    and creates one state store per partition.  The stream runs with
    the fixed width ``STATE_PARTITIONS``, whatever the batch session's
    setting (``get_spark`` sizes that to the cores: 8 is above it on a
    4-core host, below it on a 32-core one), and the session's value
    comes back once the stream has drained (on a production cluster
    this is sized to state volume / HDFS-backed store throughput, and
    is fixed for the checkpoint's lifetime)."""
    spark = stream.sparkSession
    name = f"snk_{uuid.uuid4().hex[:12]}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": STATE_PARTITIONS}):
        run_available_now(stream.writeStream.outputMode(mode).format("memory").queryName(name))
    # the throwaway checkpoint is gone; the memory sink stays readable
    return spark.table(name)


def tumbling_agg_stream(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """Streaming tumbling-window aggregate with a 30-minute watermark.
    availableNow + complete-result read-back == the batch
    events_tumbling_1h query (same oracle)."""
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _drain(agg, "complete")


def sliding_agg_stream(
    spark: SparkSession, sf_dir: str, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Streaming sliding-window aggregate (availableNow, 30-minute
    watermark) — equals the batch sliding_agg and shares its oracle."""
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("bucket"),
            "n",
            "sum_value",
        )
    )
    return _drain(agg, "complete")


def sessionize_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Streaming session windows: per-user sessions close when no event
    arrives within ``gap``; the 1-hour watermark bounds session state.
    availableNow + complete read-back == the batch sessionize query
    (same oracle)."""
    from ..operators.events import sessionize

    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return _drain(sessionize(ev, gap), "complete")


STATE_SCHEMA = "n long, total double"
USER_TOTALS_SCHEMA = "user_id long, n long, total double"


def _user_totals_fn(key, pdfs, state):
    """applyInPandasWithState worker: running (count, sum) per user.
    Emits the updated running totals each micro-batch."""
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running event count + value total — the arbitrary-state
    API the reference's WAL-tailing recovery loop would need to become
    a live materialized view.  State is one (long, double) per user,
    partitioned by user_id.  With availableNow the final emission per
    user equals the batch GROUP BY (the oracle); the groupBy(max)
    collapse below keeps that true even if the backlog splits into
    multiple micro-batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _read_events_stream(spark, sf_dir)
    out = (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals_fn,
            outputStructType=USER_TOTALS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(out, "update")
    return drained.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.round(F.max_by("total", "n"), 6).alias("sum_value"),
    )


def stream_stream_join(
    spark: SparkSession, sf_dir: str, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases within the following ``horizon``.  Both sides carry
    watermarks and the join has a two-sided time-range constraint, so
    Spark can expire join state — the unbounded-state hazard of
    stream-stream joins is bounded to watermark + horizon per side.
    availableNow + append == the equivalent batch range join (the
    oracle)."""
    ev = _read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    return _drain(joined.select("user_id", "click_id", "purchase_id"), "append")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension table (nation, keyed by user_id mod 25) and aggregated.
    The static side is planned per micro-batch (broadcast here), no
    state needed for the join itself — the standard dimension-
    enrichment shape for a streaming ingest pipeline."""
    ev = _read_events_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    joined = ev.join(
        F.broadcast(nation), (F.col("user_id") % 25) == F.col("n_nationkey")
    )
    agg = joined.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_value"),
    )
    return _drain(agg, "complete")


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the event stream unioned with itself
    (every record a duplicate) -> watermarked dropDuplicates(event_id)
    emits each event exactly once.  Returns per-type counts of the
    deduped stream — equal to the batch distinct."""
    a = _read_events_stream(spark, sf_dir)
    b = _read_events_stream(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    out = _drain(deduped.select("event_id", "event_type", "value"), "append")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
            "sum_value"
        ),
    )


def _merge_sink(ev: DataFrame, base: str) -> DataFrame:
    """Merge each micro-batch of ``ev`` latest-wins per ``user_id`` on
    ``(ts, event_id)`` into the previous snapshot (the first batch has
    none: it is its own latest-wins), written to a NEW versioned dir
    under ``base`` that becomes current once its write commits.
    Returns the final snapshot, read with its written schema."""
    from ..operators.mutation import apply_upserts, latest_wins, restore, snapshot

    keys, seq = ["user_id"], ["ts", "event_id"]
    shutil.rmtree(base, ignore_errors=True)
    state = {"path": None, "schema": None}

    def merge(batch_df, batch_id):
        if state["path"] is None:
            cur = latest_wins(batch_df, keys, seq)
        else:
            prev = restore(batch_df.sparkSession, state["path"], state["schema"])
            cur = apply_upserts(prev, batch_df, keys, seq)
        nxt = os.path.join(base, f"v{batch_id}")
        state["schema"] = snapshot(cur, nxt)
        state["path"] = nxt

    run_available_now(ev.writeStream.foreachBatch(merge))
    return restore(ev.sparkSession, state["path"], state["schema"])


def foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WAL consumption into a materialized snapshot table:
    each micro-batch is MERGEd (union + latest-wins window, O13) into a
    Parquet state dir via foreachBatch — the pure-DataFrame Delta-MERGE
    sink, with the checkpoint providing exactly-once across restarts.
    Batches write to a NEW versioned dir and cut over only after the
    write commits (the atomic-swap the reference's full-rewrite
    snapshot lacks, src/index_factory.cc:44-63 / doc/persistence.md
    todo).  Final state = latest event per user — the batch oracle."""
    ev = _read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    return _merge_sink(ev, scratch_path("stream_merge", sf_dir)).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.round(F.col("value"), 6).alias("last_value"),
    )


def watermark_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregation with REAL late-data drop: the
    straggler subset (event_id % 37 == 0, the same arrival model as
    events_watermark_audit) lands in a second availableNow run against
    the same checkpoint, so the first run's watermark decides its
    fate — stragglers whose 1h window was already finalized are
    DROPPED, stragglers whose window is still open are merged.  The
    two-run shape is exactly a production backfill-then-catchup
    against a durable checkpoint.

    Deterministic and exactly oracle-replayable: run 1's watermark is
    max(on-time ts) - 10min (single batch — one file per write), a
    late row survives iff its window end is beyond that, and the
    emitted set is every window closed by the final watermark.  The
    oracle states those rules as batch SQL."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    base = scratch_path("stream_wm", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))
    on_time = ev.filter(F.col("event_id") % 37 != 0)
    late = ev.filter(F.col("event_id") % 37 == 0)
    on_time.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": STATE_PARTITIONS}):
            stream = (
                spark.readStream.schema("event_id long, ts timestamp, value double")
                .parquet(src)
                .withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("value").cast("decimal(18,6)")).alias("_sv"),
                )
                .select(
                    F.col("w.start").alias("start"),
                    "n",
                    F.col("_sv").cast("string").alias("sv"),
                )
            )
            run_available_now(
                stream.writeStream.outputMode("append").format("parquet").option("path", out),
                ckpt,
            )

    run_once()
    late.coalesce(1).write.mode("append").parquet(src)
    run_once()
    res = spark.read.parquet(out)
    return res.select(
        F.date_format("start", TS_FMT).alias("bucket"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv").cast("decimal(18,6)").cast("double"), 6).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4's successor to
# applyInPandasWithState): typed state variables (value/list/map),
# timers, and TTL, over the RocksDB state store.  The API's Python
# driver worker speaks protobuf to the JVM; protobuf is not installed
# in every runtime (this container lacks it), so the operator is gated
# behind a capability probe — same honest-stub pattern as the PIL
# codec in operators/multimodal.py.
# --------------------------------------------------------------------------


def has_transform_with_state() -> bool:
    """True when the transformWithStateInPandas runtime dependency
    (google.protobuf, used by pyspark's state-server protocol) is
    importable."""
    try:  # pragma: no cover - environment probe
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


TWS_OUT_SCHEMA = "user_id long, n long, total double"


def _make_totals_processor():
    """Build the StatefulProcessor class lazily (importing the base
    class is safe without protobuf; running it is not)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        """Per-user running (count, sum) as a typed ValueState — the
        transformWithState port of ``_user_totals_fn``.  State layout
        and output contract are identical, so the same batch GROUP BY
        oracle applies."""

        def init(self, handle):
            self._st = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._st.get() if self._st.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._st.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [total]}
            )

        def close(self):
            pass

    return RunningTotals


def transform_with_state_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas on the
    RocksDB state store.  Raises RuntimeError with a clear message when
    the protobuf runtime dependency is missing — callers (and the
    driver registry) must gate on has_transform_with_state()."""
    if not has_transform_with_state():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "not installed in this runtime"
        )
    # The RocksDB provider is required only for this query; later
    # streaming queries in the same session keep their own provider.
    with scoped_conf(spark, {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }):
        proc = _make_totals_processor()()
        ev = _read_events_stream(spark, sf_dir)
        out = (
            ev.select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                proc,
                outputStructType=TWS_OUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
        )
        drained = _drain(out, "update")
    return drained.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.round(F.max_by("total", "n"), 6).alias("sum_value"),
    )


def stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment: the ERROR stream joins each
    micro-batch against the (static) SCD2 user-state dimension on
    interval containment — the feature-store PIT contract applied to a
    live stream (stream-static joins re-plan the static side per
    batch, so a dim refresh is picked up between batches).  availableNow
    + complete aggregation == the batch PIT query (same oracle)."""
    from ..operators.events import user_state_scd2

    batch_events = load_table(spark, sf_dir, "events")
    dim = user_state_scd2(
        batch_events.filter(F.col("event_type") != "error")
    ).localCheckpoint()
    errors = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id")
    )
    joined = errors.join(
        F.broadcast(dim),
        (errors.user_id == dim.user_id)
        & (errors.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (errors.ts < dim.valid_to)),
        "left",
    )
    agg = (
        joined.select(F.coalesce(dim.state, F.lit("none")).alias("state"))
        .groupBy("state")
        .agg(F.count("*").cast("long").alias("n_errors"))
    )
    return _drain(agg, "complete")


def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly gate: the live event stream is scored per
    micro-batch against STATIC per-user (mean, std) baselines (the
    stream-static join pattern for online outlier detection — the
    baseline table refreshes on whatever cadence the batch job runs,
    and each micro-batch picks up the latest).  availableNow + complete
    aggregation == the batch value_anomaly_zscore (same oracle)."""
    from ..operators.events import value_anomaly_zscore  # noqa: F401 - contract ref

    batch = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value"), 6).cast("decimal(21,6)")
    stats = batch.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(v).alias("_s1"),
        F.sum((v * v).cast("decimal(33,12)")).alias("_s2"),
    )
    n = F.col("n_events").cast("double")
    mean = F.col("_s1").cast("double") / n
    # singleton users: (n-1)=0 would give 0/0 NaN; coalesce std to 0
    # (same NULLIF/COALESCE guard as the batch operator + oracle).
    var = F.try_divide(
        F.col("_s2").cast("double") - F.col("_s1").cast("double") * mean,
        F.nullif(n - F.lit(1.0), F.lit(0.0)),
    )
    per_user = stats.select(
        "user_id",
        "n_events",
        mean.alias("_mean"),
        F.sqrt(F.greatest(F.coalesce(var, F.lit(0.0)), F.lit(0.0))).alias("_std"),
    ).localCheckpoint()

    ev = _read_events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value"), 6).alias("_v")
    )
    agg = (
        ev.join(F.broadcast(per_user), "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("_mean"), 6).alias("mean_value"),
            F.round(F.max("_std"), 6).alias("std_value"),
            F.sum(
                (
                    F.abs(F.col("_v") - F.col("_mean"))
                    > F.lit(2.0) * F.col("_std")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
    return _drain(agg, "complete")


def dedup_within_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup via dropDuplicatesWithinWatermark (the
    3.5+ API): unlike dropDuplicates, state for a key is EVICTED once
    the watermark passes it — bounded state for at-least-once sources
    whose duplicates arrive close together, the practical Kafka
    posture.  Doubled input + availableNow == the batch distinct
    (same per-type oracle as stream_dedup_counts)."""
    a = _read_events_stream(spark, sf_dir)
    b = _read_events_stream(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _drain(deduped.select("event_id", "event_type", "value"), "append")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_value"),
    )


def window_topk_stream(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming windowed RANKING: per tumbling hour, the top-k users
    by event count — aggregation runs in the stream (complete mode);
    the rank-limit is applied on the drained result exactly as a
    downstream consumer of the materialized aggregate would (per-window
    ranking inside a live stream is unsupported by design — windows
    would have to re-emit on every update; the aggregate + rank-on-read
    split is the production pattern).  availableNow == the batch
    windowed top-k (same oracle)."""
    from pyspark.sql import Window

    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("user_id")
    ).agg(F.count("*").alias("n"))
    drained = _drain(agg, "complete")
    ranked = drained.select(
        F.date_format("w.start", TS_FMT).alias("bucket"), "user_id", "n"
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy(
                F.col("n").desc(), F.col("user_id").asc()
            )
        ),
    )
    return ranked.filter(F.col("rnk") <= k).select(
        "bucket", "user_id", F.col("n").cast("long").alias("n"),
        F.col("rnk").cast("int").alias("rnk"),
    )


def cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC APPLY with DELETES: the event log is read as a
    change stream — 'error' events are tombstones (op=d), everything
    else an upsert — and each micro-batch is merged into the
    materialized snapshot with latest-wins semantics that RETAIN the
    tombstone row, so a delete arriving batches after its upsert still
    wins (and a later upsert resurrects the key).  The delete-aware
    upgrade of :func:`foreach_batch_merge`, i.e. the full O11/O12/O13
    mutation set applied continuously; final visible state excludes
    keys whose latest op is a tombstone.

    Deterministic: latest-wins on (ts, event_id) is associative across
    any batch split, so availableNow equals the batch oracle."""
    ev = _read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )
    return (
        _merge_sink(ev, scratch_path("stream_cdc", sf_dir))
        .filter(F.col("op") != "d")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.round(F.col("value"), 6).alias("last_value"),
        )
    )


DLQ_POISON_MOD = 19  # md5-gated ~5% injected corruption


def dead_letter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-LETTER-QUEUE pattern: each micro-batch SPLITS into a valid
    sink and a quarantine sink instead of failing the job — the
    streaming counterpart of json_malformed_audit's PERMISSIVE batch
    quarantine, and the operational answer to "one poison record must
    not stop the pipeline".  Corruption is INJECTED deterministically
    (md5 gate, ~5% of rows get their props truncated mid-token) — the
    standard fault-injection harness for exercising a DLQ path, since
    the fixture's own props are all well-formed; the parse gate is a
    real from_json STRICT schema check, not the injection rule.

    Both sinks accumulate via foreachBatch; the result is the
    per-type valid/quarantined accounting, equal to the batch oracle
    recomputing the same gate."""
    from ..functions.text import md5_int

    ev = _read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "props"
    )
    poisoned = ev.withColumn(
        "props",
        F.when(
            md5_int(F.col("event_id").cast("string")) % DLQ_POISON_MOD == 0,
            F.substring(F.col("props"), 1, 3),
        ).otherwise(F.col("props")),
    )
    parsed = poisoned.withColumn(
        "ok",
        F.from_json(F.col("props"), "k INT").isNotNull()
        & F.get_json_object(F.col("props"), "$.k").isNotNull(),
    )
    # keyed by batch_id so a retried micro-batch overwrites its own
    # partial instead of double-counting (foreachBatch is at-least-once)
    per_batch: dict = {}

    def split(batch_df, batch_id):
        rows = (
            batch_df.groupBy("event_type", "ok")
            .count()
            .collect()
        )
        counts: dict = {"valid": {}, "dlq": {}}
        for r in rows:
            side = "valid" if r["ok"] else "dlq"
            counts[side][r["event_type"]] = (
                counts[side].get(r["event_type"], 0) + r["count"]
            )
        per_batch[batch_id] = counts  # last-write-wins per batch_id

    run_available_now(parsed.writeStream.foreachBatch(split))
    acc: dict = {"valid": {}, "dlq": {}}
    for counts in per_batch.values():
        for side in ("valid", "dlq"):
            for t, n in counts[side].items():
                acc[side][t] = acc[side].get(t, 0) + n
    types = sorted(set(acc["valid"]) | set(acc["dlq"]))
    data = [
        (
            t,
            int(acc["valid"].get(t, 0)),
            int(acc["dlq"].get(t, 0)),
        )
        for t in types
    ]
    out = local_frame(
        spark, data, "event_type string, n_valid long, n_quarantined long"
    )
    return out.select(
        "event_type",
        "n_valid",
        "n_quarantined",
        (
            F.round(
                F.col("n_quarantined").cast("double")
                / (F.col("n_valid") + F.col("n_quarantined")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("dlq_rate"),
    ).orderBy("event_type")
