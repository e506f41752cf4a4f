"""Event-log operators: JSON extraction, tumbling/sliding window aggs.

The reference's WAL is an append-only upsert log consumed only for
crash recovery (src/persistence.cc:50-135, doc/wal.md).  The Spark
engine treats the same shape — the ``events`` table — as a first-class
analytic input: semi-structured props via JSON path extraction, and
time-window aggregation in both batch (here) and Structured Streaming
(streaming/jobs.py; the batch form below is the oracle for the
availableNow streaming run).

Scale: window aggs shuffle once on (bucket, keys) with map-side
partial aggregation; JSON extraction is a JVM intrinsic inside the
scan stage (no UDF).  Sliding windows expand each row into
size/slide assignments BEFORE the partial agg — the blow-up factor is
the overlap count, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.loaders import local_frame

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def json_kv_stats(events: DataFrame, key: str = "k") -> DataFrame:
    """Extract an int member from the free-form JSON props — the analog
    of the reference auto-indexing any int-valued JSON member
    (src/vector_database.cc:119-138) — and aggregate per event_type."""
    kv = events.withColumn("k", F.get_json_object("props", f"$.{key}").cast("long"))
    return kv.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.round(F.sum("k").cast("double") / F.count("k"), 6).alias("avg_k"),
    )


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling time window (epoch-aligned, same alignment as DuckDB's
    date_trunc for hour/day widths)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def type_pivot(events: DataFrame, types: list[str]) -> DataFrame:
    """Per-user wide counts: one column per event type (PIVOT with an
    EXPLICIT value list — never the infer-values form, which needs an
    extra distinct pass over the corpus at scale).  One shuffle on
    user_id with map-side partial aggregation."""
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def monthly_value_growth(events: DataFrame) -> DataFrame:
    """Month-over-month value totals with absolute growth vs the
    previous month (date_trunc rollup + lag window).  The time-series
    staple: one shuffle for the monthly agg; the lag window runs on
    #months rows."""
    from pyspark.sql import Window

    monthly = (
        events.groupBy(F.date_trunc("month", "ts").alias("month_ts"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
        )
    )
    w = Window.orderBy("month_ts")
    return monthly.select(
        F.date_format("month_ts", "yyyy-MM").alias("month"),
        "n",
        F.round(F.col("_sum").cast("double"), 6).alias("sum_value"),
        F.round(
            (F.col("_sum") - F.lag("_sum").over(w)).cast("double"), 6
        ).alias("growth"),
    )


def props_typed_extract(events: DataFrame) -> DataFrame:
    """Schema-full JSON parsing: props -> MAP<STRING,BIGINT> via
    from_json (vs get_json_object's per-path extraction in
    json_kv_stats), exploded to (key, value) rows and aggregated per
    key.  The map parse is a JVM intrinsic in the scan stage; the
    explode happens before the partial agg so the shuffle carries one
    row per (key, partition)."""
    kv = events.select(
        F.explode(
            F.from_json(F.col("props"), "map<string,bigint>")
        ).alias("k", "v")
    )
    return kv.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Per-user running event count + value total ordered by (ts,
    event_id) — the continuous-aggregation view of the WAL (what O17
    replay would materialize after every log record).  One shuffle on
    user_id; the frame is ROWS UNBOUNDED PRECEDING so state is a
    single accumulator per key."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc()))
        .cast("long")
        .alias("run_n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"), 6
        ).alias("run_value"),
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events within ``gap`` of the previous
    event merge into one session; session end = last event + gap
    (Spark ``session_window`` semantics).  One shuffle on user_id;
    state is bounded per key.  The same expression runs under
    Structured Streaming with a watermark (streaming/jobs.py).

    Oracle form: gaps-and-islands — lag + cumulative island sum."""
    return (
        events.groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT).alias("session_start"),
            F.date_format(F.col("w.end"), TS_FMT).alias("session_end"),
            "n",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding window: each event lands in width/slide overlapping
    windows.  Oracle form: unnest the offset list and date_trunc."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("bucket"),
            "n",
            "sum_value",
        )
    )


def rolling_range_avg(events: DataFrame, seconds: int = 3600) -> DataFrame:
    """Per-user trailing average over a TIME range, not a row count:
    avg(value) over the last ``seconds`` of each user's history (RANGE
    frame on epoch seconds — row frames are wrong under uneven event
    spacing).  One shuffle on user_id; the frame state is a sliding
    aggregate per key.  avg is computed as exact DECIMAL sum / exact
    count, divided in f64 and rounded, so both engines fold identical
    terms."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-seconds, 0)
    )
    dec = F.col("value").cast("decimal(18,6)")
    return events.select(
        "user_id",
        "event_id",
        F.round(
            (F.sum(dec).over(w).cast("double") / F.count("*").over(w)), 6
        ).alias("trail_avg"),
    )


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-event-type inter-arrival statistics: for each event, the gap
    to the SAME USER's previous event (lag over a per-user window,
    ts + event_id tiebreak), aggregated by the type of the later
    event.  Gaps are exact integer microseconds so the distributed sum
    is order-insensitive; only the final avg division runs in f64.
    One shuffle by user_id for the window, then a tiny agg by type."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(
            F.sum("gap_us").cast("double") / (F.count("*") * F.lit(1e6)), 6
        ).alias("avg_gap_sec"),
        F.round(F.max("gap_us").cast("double") / 1e6, 6).alias("max_gap_sec"),
        F.round(F.min("gap_us").cast("double") / 1e6, 6).alias("min_gap_sec"),
    )


def range_join_follow_counts(
    events: DataFrame,
    left_type: str = "error",
    right_type: str = "purchase",
    window_sec: int = 600,
) -> DataFrame:
    """Time-range join: for every `left_type` event, how many
    `right_type` events landed in the following window_sec seconds.
    A naive non-equi join is a nested-loop cross product; here both
    sides get a window_sec-wide time bucket and each left event covers
    exactly two buckets (its own and the next), so the join is a plain
    EQUI-join on the bucket id with the precise interval check as a
    residual filter — the standard interval-join decomposition that
    keeps a 100 TB event stream shuffle-partitioned by time instead of
    broadcast-looped."""
    left = (
        events.filter(F.col("event_type") == left_type)
        .select("event_id", F.col("ts").alias("lts"),
                F.floor(F.unix_timestamp(F.col("ts")) / window_sec).alias("lb"))
        .withColumn("bucket", F.explode(F.array(F.col("lb"), F.col("lb") + 1)))
        .drop("lb")
    )
    right = events.filter(F.col("event_type") == right_type).select(
        F.col("ts").alias("rts"),
        F.floor(F.unix_timestamp(F.col("ts")) / window_sec).alias("bucket"),
    )
    matched = (
        left.join(right, "bucket")
        .filter(
            (F.col("rts") > F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr(f"INTERVAL {window_sec} SECONDS"))
        )
        .groupBy("event_id")
        .agg(F.count("*").cast("bigint").alias("n_follow"))
    )
    base = events.filter(F.col("event_type") == left_type).select("event_id")
    return base.join(matched, "event_id", "left").select(
        "event_id", F.coalesce(F.col("n_follow"), F.lit(0).cast("bigint")).alias("n_follow")
    )


def funnel_steps(
    events: DataFrame, steps: tuple = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered conversion funnel: users counted at step i only if an
    event of that type happened strictly AFTER their qualifying step
    i-1 event (first-touch semantics).  Decorrelated into one
    aggregate per step, each re-joined on user_id — the shuffles all
    share the user_id key, so at scale they co-partition into one
    exchange reused across stages (and the per-user table is tiny
    compared to the fact)."""
    s1, s2, s3 = steps
    t1 = (
        events.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        events.filter(F.col("event_type") == s2)
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        events.filter(F.col("event_type") == s3)
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        t1.agg(F.count("*").cast("bigint").alias(f"n_{s1}"))
        .crossJoin(t2.agg(F.count("*").cast("bigint").alias(f"n_{s2}_after")))
        .crossJoin(t3.agg(F.count("*").cast("bigint").alias(f"n_{s3}_after")))
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of a user's first
    event, each (cohort, offset) cell counts distinct users active
    that many weeks later.  Two shuffles (per-user min, then the cell
    agg); the active-week table is distinct (user, week) so the cell
    agg input is bounded by users x weeks, not by raw events."""
    wk = F.date_trunc("week", F.col("ts"))
    first = events.groupBy("user_id").agg(F.min(wk).alias("_cohort"))
    active = events.select("user_id", wk.alias("_wk")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.col("_cohort").cast("date").alias("cohort_week"),
            (F.datediff(F.col("_wk"), F.col("_cohort")) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


def value_anomaly_zscore(events: DataFrame, z_cut: float = 2.0) -> DataFrame:
    """Per-user anomaly audit over the value stream: how many of each
    user's events sit more than ``z_cut`` sample standard deviations
    from that user's own mean — the per-entity outlier gate a telemetry
    curation pipeline runs before training on behavioral data.

    Plan: one shuffle groups by user for the moment sums, one more
    joins the (tiny) per-user stats back to the events to count
    outliers — both keyed on user_id, so at 100 TB the second shuffle
    reuses the first's partitioning.

    Cross-engine determinism (lineitem_corr_stats' recipe): mean and
    stddev derive from exact DECIMAL power sums (values ROUNDed to 6
    then cast DECIMAL before summing — order-insensitive), so the
    sample stddev and the z comparison boundary are bit-identical in
    both engines; no engine-native stddev (Welford vs two-pass would
    differ in ulps)."""
    v = F.round(F.col("value"), 6).cast("decimal(21,6)")
    stats = events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(v).alias("_s1"),
        F.sum((v * v).cast("decimal(33,12)")).alias("_s2"),
    )
    n = F.col("n_events").cast("double")
    mean = F.col("_s1").cast("double") / n
    # sample variance from power sums: (sum2 - sum1^2/n) / (n-1).
    # n=1 would be 0/0 -> NaN (doubles don't raise); a singleton user
    # gets std=0 instead, mirrored with NULLIF/COALESCE in the oracle.
    var = F.try_divide(
        F.col("_s2").cast("double") - F.col("_s1").cast("double") * mean,
        F.nullif(n - F.lit(1.0), F.lit(0.0)),
    )
    std = F.sqrt(F.greatest(F.coalesce(var, F.lit(0.0)), F.lit(0.0)))
    per_user = stats.select(
        "user_id", "n_events", mean.alias("_mean"), std.alias("_std")
    )
    ev = events.select("user_id", F.round(F.col("value"), 6).alias("_v"))
    return (
        ev.join(per_user, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("_mean"), 6).alias("mean_value"),
            F.round(F.max("_std"), 6).alias("std_value"),
            F.sum(
                (
                    F.abs(F.col("_v") - F.col("_mean"))
                    > F.lit(z_cut) * F.col("_std")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def rolling_wau(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-N-day active users per observed day (rolling WAU for
    N=7) — the engagement time series every telemetry pipeline reports.
    Distinct users per sliding window can't ride a window function
    (COUNT(DISTINCT) OVER RANGE is unsupported), so each (user, day)
    activity row is exploded to the N target days it contributes to —
    shuffle volume is N x |user-days|, then one countDistinct per day.
    Only days actually present in the stream are reported (a trailing
    window at the stream edge still counts its partial history).

    Everything is exact (dates + integer counts) — no float terms."""
    day = F.col("ts").cast("date")
    user_days = events.select(F.col("user_id"), day.alias("d")).distinct()
    contributes = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), window_days - 1)
            )
        ).alias("target_day"),
    )
    observed = events.select(day.alias("target_day")).distinct()
    return (
        contributes.join(observed, "target_day")
        .groupBy("target_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


def zorder_layout_audit(events: DataFrame, bits: int = 4, file_shift: int = 4) -> DataFrame:
    """Data-layout audit for Z-order clustering: interleave the low
    ``bits`` of two query dimensions (user bucket, hour-of-day) into a
    Z-value, group rows into would-be files by Z-prefix, and report
    each file's row count and min/max envelope on BOTH dims.  This is
    the decision input for a CLUSTER BY / Z-ORDER rewrite of a 100-TB
    table: tight per-file envelopes on both dims mean a predicate on
    EITHER dim prunes most files via Parquet row-group stats — the
    columnar answer to the reference's per-value bitmap index
    (src/filter_index.cc:9-81).

    Pure integer bit arithmetic (identical in the oracle); one
    map-side-combined shuffle on the file id."""
    a = (F.col("user_id") % (1 << bits)).cast("long")
    b = (F.hour(F.col("ts")) % (1 << bits)).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1)
        )
    return (
        events.select(a.alias("ub"), b.alias("hb"), F.shiftright(z, file_shift).alias("zfile"))
        .groupBy("zfile")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("ub").alias("min_user_bucket"),
            F.max("ub").alias("max_user_bucket"),
            F.min("hb").alias("min_hour_bucket"),
            F.max("hb").alias("max_hour_bucket"),
        )
    )


def event_transition_matrix(events: DataFrame) -> DataFrame:
    """Per-user event-type transition counts and row-normalized
    probabilities — the first-order Markov statistic behind session
    modeling / next-event prediction over a 100-TB clickstream.

    Plan: one shuffle on user_id for the lag window (ts + event_id
    tiebreak makes the successor deterministic), then a tiny agg on
    the (prev, next) type pair; probabilities ride a second window
    over the |types|^2-row aggregate, not the events.  Counts exact;
    p is one f64 division ROUND 6."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    totals = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(totals).cast("double"), 6).alias("p"),
    )


def session_conversion(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-level conversion: of all 30-min-gap sessions, how many
    contain a purchase — THE funnel KPI computed at session grain (the
    per-user funnel is events_funnel_steps).  Same single shuffle on
    user_id as sessionize; the conversion flag is a MAX over the
    session group; the final fold is one row."""
    per_session = events.groupBy(
        F.col("user_id"), F.session_window("ts", gap).alias("w")
    ).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    )
    return per_session.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") / F.count("*").cast("double"), 6).alias(
            "conversion_rate"
        ),
    )


def error_burst_detect(
    events: DataFrame, bucket_minutes: int = 10, factor: float = 3.0
) -> DataFrame:
    """Error-burst detection: 10-minute buckets whose error share
    exceeds ``factor`` x the stream-wide error rate — the alerting
    primitive over a telemetry stream (and a filter a curation
    pipeline applies to drop incident windows from training data).

    One bucket-keyed count shuffle; the global rate folds off the
    bucket aggregate (never a second scan) and broadcasts back.  The
    comparison runs on exact integer cross-products (n_err * total_n
    vs factor * total_err * n) — no float boundary."""
    b = F.date_trunc("minute", F.col("ts"))
    # floor(), not cast-truncation: cast("long") truncates toward zero,
    # which diverges from the oracle's floor() for pre-1970 timestamps
    bucket = F.from_unixtime(
        F.floor(F.unix_timestamp(b) / (bucket_minutes * 60)).cast("long")
        * (bucket_minutes * 60)
    ).cast("timestamp")
    per = events.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    tot = per.agg(
        F.sum("n").alias("total_n"), F.sum("n_err").alias("total_err")
    )
    flagged = (
        per.crossJoin(F.broadcast(tot))
        .filter(
            F.col("n_err") * F.col("total_n")
            > F.lit(factor) * F.col("total_err") * F.col("n")
        )
    )
    return flagged.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_err").cast("bigint").alias("n_err"),
        F.round(F.col("n_err") / F.col("n").cast("double"), 6).alias("err_share"),
    )


def hour_of_week_heatmap(events: DataFrame) -> DataFrame:
    """Activity heatmap by (day-of-week, hour-of-day): counts and
    value totals per cell — the capacity-planning / scheduling grid
    (when to run the big batch jobs).  One map-side-combined shuffle
    into at most 168 groups; all exact arithmetic."""
    return (
        events.groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(20,6)")
            .alias("sum_value"),
        )
    )


def user_type_entropy(events: DataFrame) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution (bits)
    — the behavioral-diversity score (0 = single-action bots, high =
    diverse engagement); the user-level sibling of the doc-level
    char-entropy gate.  One (user, type) count shuffle, then a per-user
    fold with one log per distinct type via H = log2(n) - sum(c*log2(c))/n."""
    ct = events.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    ent = F.log2(n) - F.sum(F.col("c") * F.log2(F.col("c"))) / n
    return ct.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        F.round(ent, 4).alias("entropy_bits"),
    )


def user_state_scd2(events: DataFrame) -> DataFrame:
    """SCD-type-2 dimension build from an event log (gaps-and-islands):
    collapse each user's consecutive runs of the same event_type into
    versioned [valid_from, valid_to) intervals — the standard ELT shape
    for deriving a slowly-changing "current state" dimension from an
    append-only stream.

    Plan: one shuffle by user_id, then every window (break-flag lag,
    running episode sum, valid_to lead) and the episode aggregate stay
    on per-user partitions — the island id is computed with windows
    rather than a self-join, so cost is O(events) with a single wide
    exchange.  Order within a user is (ts, event_id) — a total order,
    so episode numbering is deterministic.  valid_to is NULL for each
    user's open (current) state."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("long")
    ep = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    episodes = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("ep", ep)
        .groupBy("user_id", "ep")
        .agg(
            F.first("event_type").alias("state"),
            F.count("*").cast("bigint").alias("n_events"),
            F.min("ts").alias("valid_from"),
        )
    )
    we = Window.partitionBy("user_id").orderBy("ep")
    return episodes.select(
        "user_id",
        F.col("ep").cast("int").alias("version"),
        "state",
        "n_events",
        "valid_from",
        F.lead("valid_from").over(we).alias("valid_to"),
    )


def hll_distinct_users_audit(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Sketch-based distinct counting audit: per event_type, Spark's
    HyperLogLog++ approx_count_distinct next to the exact distinct, with
    the realized relative error.  At 100 TB the exact count needs a
    full shuffle of the key universe while the HLL sketch is a few KB
    of mergeable state per group — this audit is how you qualify the
    sketch before switching the pipeline over.

    No DuckDB oracle (rows-only check): HLL register layouts are
    implementation-specific, so the approx column cannot hash-match
    another engine.  The error CONTRACT is tested instead
    (tests/test_new_round2.py asserts rel_error well inside 5*rsd)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd).cast("bigint").alias("hll_users"),
        )
        .select(
            "event_type",
            "exact_users",
            "hll_users",
            # try_divide: a group whose user_id is all-NULL has exact 0
            # (rel_error NULL, not a DIVIDE_BY_ZERO crash)
            F.round(
                F.try_divide(
                    F.abs(F.col("hll_users") - F.col("exact_users")),
                    F.nullif(F.col("exact_users").cast("double"), F.lit(0.0)),
                ),
                6,
            ).alias("rel_error"),
        )
    )


def watermark_late_audit(
    events: DataFrame,
    batch_size: int = 1000,
    delay_min: int = 10,
    straggler_mod: int = 37,
    straggler_lag: int = 3,
) -> DataFrame:
    """Batch replay of Structured Streaming's watermark semantics: if
    this log were ingested in arrival order (event_id) in micro-batches
    of ``batch_size``, which rows would a ``delay_min`` watermark drop?
    The per-type late share is how you SIZE a watermark before turning
    on append-mode aggregation — too tight silently discards data, too
    loose holds state forever.

    Faithful to the engine: the watermark advances at BATCH boundaries
    (max event time seen in all prior batches, minus the delay), not
    per row.  Plan: one batch-grain aggregate (rows = #batches, bounded
    by ingest duration), a running max over that tiny table, broadcast
    back to the events scan — the log itself is never globally
    sorted.

    The fixture log is time-ordered, which would make the audit
    vacuously zero, so arrival is modeled with a deterministic
    straggler source: every ``straggler_mod``-th event arrives
    ``straggler_lag`` micro-batches late (the delayed-shard pattern
    that motivates watermarks in the first place)."""
    b = (
        F.floor(F.col("event_id") / batch_size)
        + F.when(F.col("event_id") % straggler_mod == 0, straggler_lag).otherwise(0)
    ).alias("batch")
    per_batch = events.select(b, "ts").groupBy("batch").agg(
        F.max("ts").alias("_mx")
    )
    w = (
        Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = per_batch.select(
        "batch",
        (
            F.max("_mx").over(w) - F.expr(f"INTERVAL {delay_min} MINUTES")
        ).alias("_wm"),
    )
    # batch 0 has no watermark yet (NULL) -> never late; lateness in
    # exact integer microseconds so both engines agree bit-for-bit
    is_late = F.coalesce(
        (F.col("ts") < F.col("_wm")).cast("int"), F.lit(0)
    )
    flagged = (
        events.select(b, "event_type", "ts")
        .join(F.broadcast(wm), "batch")
        .select(
            "event_type",
            is_late.alias("late"),
            F.when(
                F.col("ts") < F.col("_wm"),
                F.unix_micros(F.col("_wm")) - F.unix_micros(F.col("ts")),
            ).alias("late_by_us"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("late").cast("bigint").alias("n_late"),
        F.round(F.sum("late") / F.count("*").cast("double"), 6).alias("late_share"),
        F.max("late_by_us").cast("bigint").alias("max_late_us"),
    )


def dau_mau_stickiness(events: DataFrame) -> DataFrame:
    """Stickiness (avg DAU / WAU) per ISO week — the engagement KPI
    that normalizes daily actives by the period reach (week grain: the
    fixture log spans one month).  Exact distincts: one (week, day,
    user) dedup feeds both the daily counts and the weekly distinct —
    key-bounded shuffles, final join on #weeks rows."""
    ud = events.select(
        F.date_trunc("week", "ts").alias("m"),
        F.to_date("ts").alias("d"),
        "user_id",
    ).distinct()
    daily = ud.groupBy("m", "d").agg(F.count_distinct("user_id").alias("dau"))
    avg_dau = daily.groupBy("m").agg(
        (F.sum("dau") / F.count("*")).alias("_avg_dau"),
        F.count("*").alias("n_days"),
    )
    mau = ud.groupBy("m").agg(F.count_distinct("user_id").alias("mau"))
    return (
        avg_dau.join(mau, "m")
        .select(
            F.date_format("m", "yyyy-MM-dd").alias("week"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.round(F.col("_avg_dau"), 6).alias("avg_dau"),
            F.col("mau").cast("bigint").alias("wau"),
            F.round(F.col("_avg_dau") / F.col("mau"), 6).alias("stickiness"),
        )
    )


def markov_stationary(events: DataFrame, iters: int = 10) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain by fixed-iteration power iteration — "where does user
    behavior settle": the long-run share of each event type implied by
    the observed transition structure (vs the raw frequency mix).

    The transition MATRIX build is the distributed part (one user_id
    shuffle, |types|² aggregate — see event_transition_matrix).  The
    iteration then runs on MODEL state: |types| masses against a
    |types|² matrix (5x5 here; the event-type vocabulary is bounded,
    not data-sized), so the matrix is collected like any fitted model
    parameter (same contract as train_centroids) and iterated in
    closed driver-side arithmetic.  FIXED iteration count makes the
    result deterministic and oracle-replayable via unrolled CTEs.

    All arithmetic is in integer micro-units (mass and p scaled by
    1e6, products summed as exact ints, half-away-from-zero carry) so
    summation ORDER cannot perturb the result — f64 partial sums
    would differ between engines at the last ulp and compound over
    iterations."""
    trans = event_transition_matrix(events).select("prev_type", "next_type", "p")
    rows = trans.collect()
    states = sorted({r.prev_type for r in rows} | {r.next_type for r in rows})
    # p is ROUND(...,6) -> exact integer micro-units
    p = {(r.prev_type, r.next_type): int(round(r.p * 1e6)) for r in rows}
    mass = {s: int(round(1e6 / len(states))) for s in states}
    for _ in range(iters):
        mass = {
            t: (sum(mass[s] * p.get((s, t), 0) for s in states) + 500_000)
            // 1_000_000
            for t in states
        }
    spark = events.sparkSession
    return local_frame(
        spark,
        [(s, round(mass[s] / 1e6, 6)) for s in states],
        "state string, stationary double",
    )


AUTOCORR_LAGS = (1, 7)


def daily_autocorrelation(events: DataFrame, lags: tuple[int, ...] = AUTOCORR_LAGS) -> DataFrame:
    """Lag-k autocorrelation of the daily event count series — the
    seasonality detector (lag-7 high = weekly cycle) that decides
    whether forecasting/anomaly models need a seasonal term.

    Pearson r per lag from EXACT integer power sums (counts are ints;
    n*Sxy - Sx*Sy arithmetic stays integral until the final sqrt/
    divide, one f64 expression per lag -> deterministic).  Plan: one
    shuffle for the daily counts; the lag join is day = day + k on the
    tiny per-day aggregate; lags stack via a unioned constant column."""
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    out = None
    for lag in lags:
        a = daily.select(F.col("d"), F.col("c").alias("x"))
        b = daily.select(
            F.date_sub(F.col("d"), lag).alias("d"), F.col("c").alias("y")
        )
        joined = a.join(b, "d")
        stats = joined.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        ).select(
            F.lit(lag).cast("int").alias("lag"),
            "n_pairs",
            F.round(
                (
                    F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
                ).cast("double")
                / F.sqrt(
                    (
                        F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
                    ).cast("double")
                    * (
                        F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
                    ).cast("double")
                ),
                6,
            ).alias("autocorr"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out


# MATCH_RECOGNIZE-style sequence patterns over the per-user event-type
# string (one char per event, initials are distinct across the five
# fixture types).  Java regex and DuckDB's RE2 agree on these
# literal/char-class-only patterns.
SEQ_PATTERNS: dict[str, str] = {
    "direct_funnel": "vcp",      # view -> click -> purchase, adjacent
    "eventual_funnel": "v.*c.*p",  # the funnel as a subsequence
    "error_pair": "ee",          # two consecutive errors
}


def sequence_pattern_match(events: DataFrame) -> DataFrame:
    """Sequence-pattern analytics (the MATCH_RECOGNIZE / funnel-regex
    shape): per user, the chronologically ordered event-type initials
    collapse to one string; each declared pattern counts the users
    whose sequence matches.

    Determinism: the per-user ordering is (ts, event_id) — encoded by
    sorting an array of (ts, event_id, ch) structs, since
    collect_list order is not guaranteed.  Scale: one shuffle on
    user_id; sequences are per-user sized; the pattern scan is a
    regexp over the reduced string, and the final output is
    |patterns| rows off one aggregate row (no per-pattern rescan)."""
    ch = F.substring("event_type", 1, 1)
    seqs = (
        events.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), ch.alias("ch")).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            F.array_join(F.transform("ss", lambda s: s["ch"]), "").alias("seq")
        )
    )
    counts = seqs.agg(
        *[
            F.count(F.when(F.col("seq").rlike(pat), True))
            .cast("long")
            .alias(name)
            for name, pat in SEQ_PATTERNS.items()
        ]
    )
    stack_args = ", ".join(f"'{name}', {name}" for name in SEQ_PATTERNS)
    return counts.selectExpr(
        f"stack({len(SEQ_PATTERNS)}, {stack_args}) AS (pattern, n_users)"
    )


def changepoint_detect(events: DataFrame) -> DataFrame:
    """Single change-point detection over the daily event-count series:
    the split date minimizing total within-segment SSE (the exact
    two-segment least-squares break), computed entirely from prefix
    power sums — the monitoring primitive behind 'did traffic shift on
    date X'.

    Determinism: counts are exact ints; prefix sums are exact; SSE =
    ss - s²/n evaluated in f64 only at the comparison, ROUND 6 before
    the argmin with date tiebreak.  Plan: daily agg (one shuffle to a
    calendar-bounded series), prefix sums in one ordered window over
    that series (|days| rows — bounded by the time range, not the
    fact table), argmin via rank-limit."""
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "d",
        "c",
        F.count("*").over(w).alias("n1"),
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss1"),
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("c").cast("long").alias("_s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("_ss"),
    )
    n1 = F.col("n1").cast("double")
    s1 = F.col("s1").cast("double")
    ss1 = F.col("ss1").cast("double")
    n2 = (F.col("_n") - F.col("n1")).cast("double")
    s2 = (F.col("_s") - F.col("s1")).cast("double")
    ss2 = (F.col("_ss") - F.col("ss1")).cast("double")
    sse = F.round(
        (ss1 - s1 * s1 / n1) + (ss2 - s2 * s2 / n2), 6
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("n1") < F.col("_n"))  # both segments non-empty
        .select(
            "d",
            sse.alias("sse"),
            F.round(s1 / n1, 6).alias("mean_before"),
            F.round(s2 / n2, 6).alias("mean_after"),
        )
    )
    best = scored.orderBy(F.col("sse").asc(), F.col("d").asc()).limit(1)
    base = tot.select(
        F.round(
            (F.col("_ss").cast("double")
             - F.col("_s").cast("double") * F.col("_s").cast("double")
             / F.col("_n").cast("double")),
            6,
        ).alias("sse_nosplit")
    )
    return best.crossJoin(F.broadcast(base)).select(
        F.date_format("d", "yyyy-MM-dd").alias("split_date"),
        "sse",
        "sse_nosplit",
        "mean_before",
        "mean_after",
        F.round(
            (F.col("sse_nosplit") - F.col("sse")) / F.col("sse_nosplit"), 6
        ).alias("sse_reduction"),
    )


def point_in_time_state(events: DataFrame) -> DataFrame:
    """Point-in-time (feature-store) join: each ERROR event is joined
    to the SCD2 state interval — built from the user's NON-error
    events — containing its timestamp ('what was the user doing when
    the error hit').  Errors before a user's first tracked state fall
    into 'none'.  Containment on half-open [valid_from, valid_to)
    intervals is unique by construction, so the join is exactly-one —
    the PIT-correctness contract training-feature joins need (no
    future leakage, no fanout).

    Plan: the SCD2 dim is per-user interval rows (bounded per user);
    the probe joins on user_id with the interval residual — one key
    shuffle, never a time-range cross join."""
    dim = user_state_scd2(events.filter(F.col("event_type") != "error"))
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    joined = errors.join(
        dim,
        (errors.user_id == dim.user_id)
        & (errors.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (errors.ts < dim.valid_to)),
        "left",
    )
    return (
        joined.select(F.coalesce(dim.state, F.lit("none")).alias("state"))
        .groupBy("state")
        .agg(F.count("*").cast("long").alias("n_errors"))
    )


def time_to_convert(events: DataFrame) -> DataFrame:
    """Funnel latency: per user, seconds from FIRST view to the first
    purchase AFTER it; exact interpolated quartiles (PERCENTILE_CONT
    semantics) over converting users plus the conversion count — the
    funnel-speed KPI.  Two tiny per-user aggregates and one
    |users|-sized percentile; at 100 TB swap the exact percentile for
    approx_percentile as documented in order_value_percentiles."""
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        purchases.join(first_view, "user_id")
        .filter(F.col("p_ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(
            (
                (F.unix_micros(F.min("p_ts")) - F.unix_micros(F.first("v_ts")))
                .cast("double")
                / 1e6
            ).alias("delta_s")
        )
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        *[
            F.round(F.percentile("delta_s", F.lit(q)), 4).alias(f"p{int(q*100)}")
            for q in (0.25, 0.5, 0.75, 0.9)
        ],
    )


def touch_attribution(events: DataFrame) -> DataFrame:
    """Marketing-style purchase attribution under BOTH classic models
    in one pass: each purchase's value is credited to the user's
    LAST non-purchase touch before it (last-touch) and to their FIRST
    non-purchase touch up to it (first-touch); purchases with no prior
    touch credit 'none'.  Output: (model, touch, n_purchases, value).

    Plan: one user_id shuffle; both running touches come from the same
    window (first/last with ignoreNulls over the preceding frame); the
    model unpivot is an in-expression stack of the purchase rows;
    value sums are DECIMAL-exact."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    enriched = events.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.coalesce(F.last(nonp, True).over(w), F.lit("none")).alias("last_touch"),
        F.coalesce(F.first(nonp, True).over(w), F.lit("none")).alias("first_touch"),
    ).filter(F.col("event_type") == "purchase")
    melted = enriched.selectExpr(
        "v", "stack(2, 'last', last_touch, 'first', first_touch) AS (model, touch)"
    )
    return melted.groupBy("model", "touch").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.round(F.sum("v").cast("double"), 6).alias("value"),
    )


def max_concurrent_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Peak concurrency: the maximum number of user sessions open at
    one instant (the capacity-planning number), via the classic
    interval sweep — +1 at each session start, -1 at each end, global
    running sum, take the max.

    Scale: the running sum uses the two-phase range-partitioned prefix
    sum (ranking.ranked_prefix_sum) over the delta events — session
    counts grow with the data, so a single-partition ordered window is
    exactly the scale-killer this avoids.  Tie semantics: at an
    instant where sessions end AND start, ends apply first (delta
    sorts (ts, delta asc)) — back-to-back sessions don't double
    count.  Output: one row (n_sessions, peak, peak_ts)."""
    from .ranking import ranked_prefix_sum

    sessions = events.groupBy(
        F.col("user_id"), F.session_window("ts", gap).alias("w")
    ).agg(F.lit(1).alias("_one"))
    deltas = sessions.select(
        F.col("w.start").alias("t"), F.lit(1).cast("long").alias("d")
    ).unionByName(
        sessions.select(F.col("w.end").alias("t"), F.lit(-1).cast("long").alias("d"))
    )
    swept = ranked_prefix_sum(
        deltas,
        [F.col("t").asc(), F.col("d").asc()],
        "d",
        cum_name="open",
        total_name="_tot",
    )
    n_sessions = sessions.agg(F.count("*").cast("long").alias("n_sessions"))
    peak = swept.agg(F.max("open").cast("long").alias("peak"))
    peak_ts = (
        swept.join(F.broadcast(peak), swept.open == peak.peak)
        .agg(F.min("t").alias("_pts"))
        .select(F.date_format("_pts", "yyyy-MM-dd HH:mm:ss").alias("peak_ts"))
    )
    return (
        n_sessions.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(peak_ts))
    )


PATH_PREFIX_LEN = 3
PATH_TOP_N = 20


def session_paths(
    events: DataFrame,
    gap: str = "30 minutes",
    prefix_len: int = PATH_PREFIX_LEN,
    top_n: int = PATH_TOP_N,
) -> DataFrame:
    """Clickstream path mining: the first ``prefix_len`` event-type
    initials of each session as a path string, ranked by frequency —
    'how do sessions start', the entry-flow analytics behind landing
    design.  Session islands share the gaps-and-islands machinery;
    per-session ordering is the deterministic (ts, event_id) struct
    sort; top-N is a heap selection."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.lag("ts").over(w).isNull()
        | (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            >= F.lit(30 * 60 * 1_000_000)
        )
    ).cast("long")
    ep = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ch = F.substring("event_type", 1, 1)
    paths = (
        events.select(
            "user_id",
            F.col("ts"),
            F.col("event_id"),
            ch.alias("ch"),
        )
        .withColumn("sid", ep)
        .groupBy("user_id", "sid")
        .agg(F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))).alias("ss"))
        .select(
            F.array_join(
                F.slice(F.transform("ss", lambda s: s["ch"]), 1, prefix_len), ""
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(F.count("*").cast("long").alias("n_sessions"))
    return counts.orderBy(F.col("n_sessions").desc(), F.col("path").asc()).limit(top_n)


def preference_pairs(events: DataFrame) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF training-data shape:
    for every user with both signal kinds, pair their strongest
    positive interaction (highest-value purchase) as *chosen* against
    their weakest passive one (lowest-value view) as *rejected*, with
    the value margin.  Deterministic tiebreaks by event_id.

    Scale: two row_number windows over the SAME user_id partitioning
    (one shuffle — Catalyst reuses the exchange for both, since filter
    and sort key differ only inside the partition), then a user-keyed
    1:1 join of the two rn=1 slices."""
    w_pos = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    w_neg = Window.partitionBy("user_id").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    chosen = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("chosen_event_id"),
            F.round("value", 6).alias("chosen_value"),
        )
    )
    rejected = (
        events.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("rejected_event_id"),
            F.round("value", 6).alias("rejected_value"),
        )
    )
    return chosen.join(rejected, "user_id").select(
        "user_id",
        "chosen_event_id",
        "chosen_value",
        "rejected_event_id",
        "rejected_value",
        F.round(F.col("chosen_value") - F.col("rejected_value"), 6).alias(
            "margin"
        ),
    )


NEG_PATTERNS: dict[str, str] = {
    # negation / exclusion classes — "A then B with no C between", the
    # CEP shape plain funnels can't express
    "view_then_purchase_no_error": "v[^e]*p",
    "signup_then_purchase_no_error": "s[^e]*p",
    "error_never_recovered": "e[^p]*$",
    "click_storm_no_purchase": "ccc[^p]*$",
}


def sequence_pattern_negation(events: DataFrame) -> DataFrame:
    """CEP patterns WITH NEGATION over the per-user event-initial
    string (A-then-B-without-C-between, trailing-failure) — the regex
    classes that distinguish complex-event processing from plain
    funnel counting.  Same one-shuffle reduced-string machinery as
    sequence_pattern_match; patterns swap in."""
    ch = F.substring("event_type", 1, 1)
    seqs = (
        events.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), ch.alias("ch")).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            F.array_join(F.transform("ss", lambda s: s["ch"]), "").alias("seq")
        )
    )
    counts = seqs.agg(
        *[
            F.count(F.when(F.col("seq").rlike(pat), True))
            .cast("long")
            .alias(name)
            for name, pat in NEG_PATTERNS.items()
        ]
    )
    stack_args = ", ".join(f"'{name}', {name}" for name in NEG_PATTERNS)
    return counts.selectExpr(
        f"stack({len(NEG_PATTERNS)}, {stack_args}) AS (pattern, n_users)"
    )


def disorder_audit(events: DataFrame) -> DataFrame:
    """Event-time disorder audit — the measurement that SIZES a
    watermark: in arrival order (event_id), lateness of each event vs
    the running max event-time (the would-be watermark).  Reports how
    many events arrive late and the p50/p95/max lateness in seconds —
    withWatermark should cover ~p95+ of this distribution or the
    dropped-late-rows rate is the remainder.

    Scale: the running max rides the two-phase ranked_prefix_max (no
    single-partition window); percentiles are exact over the LATE
    subset (swap for approx_percentile at 100 TB, as documented in
    order_value_percentiles)."""
    from .ranking import ranked_prefix_max

    ts_s = F.unix_timestamp("ts").alias("ts_s")
    base = events.select("event_id", ts_s)
    wm = ranked_prefix_max(
        base, [F.col("event_id").asc()], "ts_s", cum_name="wm"
    )
    late = wm.select(
        (F.col("wm") - F.col("ts_s")).alias("late_s")
    )
    return late.agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum((F.col("late_s") > 0).cast("long")).cast("long").alias("n_late"),
        F.round(
            F.sum((F.col("late_s") > 0).cast("long"))
            / F.count("*").cast("double"),
            6,
        ).alias("late_share"),
        F.round(
            F.percentile(F.when(F.col("late_s") > 0, F.col("late_s")), F.lit(0.5)),
            4,
        ).alias("p50_late_s"),
        F.round(
            F.percentile(F.when(F.col("late_s") > 0, F.col("late_s")), F.lit(0.95)),
            4,
        ).alias("p95_late_s"),
        F.max("late_s").cast("long").alias("max_late_s"),
    )


def bounce_rate_daily(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one
    event, by session-start date — the engagement-quality KPI on top
    of the shared gaps-and-islands sessionizer (one user shuffle, then
    a |days|-sized aggregate)."""
    s = sessionize(events, gap)
    day = F.to_date(F.col("session_start"))
    return (
        s.groupBy(day.alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum((F.col("n") == 1).cast("long")).cast("long").alias("n_bounce"),
        )
        .withColumn(
            "bounce_rate",
            F.round(F.col("n_bounce") / F.col("n_sessions").cast("double"), 6),
        )
    )


def dispersion_index(events: DataFrame) -> DataFrame:
    """Poisson-ness check of the arrival process: the index of
    dispersion (sample variance / mean) of DAILY event counts, from
    exact integer power sums — ~1 for a Poisson process,
    overdispersed (>1) for bursty traffic, the statistic that decides
    whether rate alerts can assume Poisson tails.  Day table is
    bounded; sums exact."""
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("c")
    )
    agg = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("decimal(38,0)").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("n_days").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        n - F.lit(1.0)
    )
    return agg.select(
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("dispersion_index"),
        (var / mean > F.lit(1.5)).alias("overdispersed"),
    )


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guardrail for an A/B split: users gated
    50/50 by md5(user_id); the observed arm sizes are tested with the
    1-dof chi-square (closed form, exact integer counts) against the
    declared ratio — the first thing any experimentation platform
    checks before reading a metric.  chi2 > 3.841 flags a broken
    assignment pipeline."""
    from ..functions.text import md5_int

    arm = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    g = events.select("user_id").distinct().select(arm.alias("arm"))
    counts = g.agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    e = n / 2.0
    chi2 = (
        (F.col("n_a").cast("double") - e) * (F.col("n_a").cast("double") - e)
        / e
        + (F.col("n_b").cast("double") - e) * (F.col("n_b").cast("double") - e)
        / e
    )
    return counts.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_detected"),
    )


def mde_power(events: DataFrame) -> DataFrame:
    """Experiment power planning: given the md5 50/50 user split and
    the observed baseline purchase-conversion rate, the minimal
    detectable absolute effect at alpha=0.05 / power=0.80 (two-sided
    normal approximation, MDE = (z_a + z_b) * sqrt(2 p (1-p) / n_arm))
    — the pre-registration number an experimenter needs before
    launching on this traffic.  Exact counts, closed form."""
    z_a, z_b = 1.959963984540054, 0.8416212335729143
    per_user = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    c = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"),
    )
    n_arm = F.col("n_users").cast("double") / 2.0
    p = F.col("n_converted").cast("double") / F.col("n_users").cast("double")
    mde = (
        F.lit(z_a + z_b)
        * F.sqrt(2.0 * p * (1.0 - p) / n_arm)
    )
    return c.select(
        "n_users",
        "n_converted",
        F.round(p, 6).alias("baseline_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
    )


def hll_sketch_union_weekly(events: DataFrame) -> DataFrame:
    """The MERGEABLE-sketch API surface (hll_sketch_agg /
    hll_union_agg): per-day HLL sketches of active users built once,
    then UNIONED per ISO week — the
    build-small-sketches-merge-up-the-hierarchy pattern that answers
    any rollup's distinct count without rescanning (what a 100-TB
    daily pipeline materializes).  Rows-only: sketch estimates are
    engine-internal; the <5% error contract vs exact is pytest-held."""
    daily = events.groupBy(
        F.weekofyear("ts").alias("week"), F.to_date("ts").alias("d")
    ).agg(F.hll_sketch_agg(F.col("user_id")).alias("sk"))
    weekly = daily.groupBy("week").agg(
        F.count("*").cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))
        .cast("long")
        .alias("est_users"),
    )
    exact = events.groupBy(F.weekofyear("ts").alias("week")).agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return weekly.join(exact, "week").select(
        "week",
        "n_days",
        "est_users",
        "exact_users",
        # try_divide: a week whose user_id is all-NULL has exact 0
        F.round(
            F.try_divide(
                F.abs(F.col("est_users") - F.col("exact_users")),
                F.nullif(F.col("exact_users").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("rel_err"),
    )


FEATURE_HASH_BITS = 8


def feature_hash_cross(events: DataFrame, bits: int = FEATURE_HASH_BITS) -> DataFrame:
    """Hashing-trick collision audit for a crossed categorical feature
    (user_id mod 100 x event_type) hashed into 2^bits buckets — the
    measurement that sizes a feature-hashing space: distinct raw
    crosses, occupied buckets, crosses sharing a bucket (collisions),
    and the collision rate a model would silently absorb.

    One distinct-cross aggregate (bounded), bucket ids via the same
    md5 both engines share."""
    from ..functions.text import md5_int

    cross = F.concat_ws(
        "_", (F.col("user_id") % 100).cast("string"), F.col("event_type")
    )
    buckets = 1 << bits
    d = events.select(cross.alias("cross")).distinct().select(
        "cross", (md5_int(F.col("cross")) % buckets).cast("int").alias("b")
    )
    per_bucket = d.groupBy("b").agg(F.count("*").alias("n_in_bucket"))
    return per_bucket.agg(
        F.sum("n_in_bucket").cast("long").alias("n_crosses"),
        F.count("*").cast("long").alias("n_buckets_used"),
        F.sum(F.when(F.col("n_in_bucket") > 1, F.col("n_in_bucket")).otherwise(0))
        .cast("long")
        .alias("n_colliding_crosses"),
        F.round(
            F.sum(
                F.when(F.col("n_in_bucket") > 1, F.col("n_in_bucket")).otherwise(0)
            )
            / F.sum("n_in_bucket").cast("double"),
            6,
        ).alias("collision_rate"),
    )


BURST_WINDOW_S = 60


def burst_clustering(events: DataFrame, window_s: int = BURST_WINDOW_S) -> DataFrame:
    """Temporal self-excitation check: the share of per-user
    inter-event gaps under ``window_s`` seconds vs the Poisson
    expectation 1 - exp(-lambda * w) at the user-stream's own mean
    rate — observed >> expected means bursty/self-exciting traffic
    (sessions, retries, bots), the property that invalidates Poisson
    alert thresholds.  One user-keyed lag pass; rates from exact
    sums."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    agg = gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum((F.col("gap_s") < window_s).cast("long"))
        .cast("long")
        .alias("n_short"),
        F.sum("gap_s").cast("decimal(38,0)").alias("_sum_gap"),
    )
    lam = F.col("n_gaps").cast("double") / F.col("_sum_gap").cast("double")
    expect = F.lit(1.0) - F.exp(-lam * F.lit(float(window_s)))
    obs = F.col("n_short").cast("double") / F.col("n_gaps")
    return agg.select(
        "n_gaps",
        "n_short",
        F.round(obs, 6).alias("observed_short_share"),
        F.round(expect, 6).alias("poisson_expected"),
        F.round(obs / expect, 6).alias("burstiness_lift"),
    )


def day_overlap_jaccard(events: DataFrame) -> DataFrame:
    """Audience continuity: Jaccard overlap of active-user sets between
    consecutive observed days — the day-over-day stickiness curve
    (sister to DAU/MAU, but set-valued: it separates 'same people' from
    'same count').  Per-day distinct user sets joined day-to-next-day;
    day pairs are bounded by the calendar."""
    du = events.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct().localCheckpoint()
    sizes = du.groupBy("d").agg(F.count("*").cast("long").alias("n"))
    nxt = du.select(F.date_sub(F.col("d"), 1).alias("d"), F.col("user_id"))
    inter = (
        du.join(nxt, ["d", "user_id"])
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    s2 = sizes.select(
        F.date_sub(F.col("d"), 1).alias("d"), F.col("n").alias("n_next")
    )
    return (
        sizes.join(s2, "d")
        .join(inter, "d", "left")
        .select(
            F.col("d").alias("day"),
            "n",
            "n_next",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias(
                "n_common"
            ),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0))
                / (
                    F.col("n") + F.col("n_next")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


RETRY_GAP_S = 5


def retry_collapse(events: DataFrame, gap_s: int = RETRY_GAP_S) -> DataFrame:
    """Retry/duplicate-fire collapsing: within each (user, event_type)
    stream, an event arriving within ``gap_s`` seconds of the previous
    one is a retry of the same logical action and collapses into it —
    the telemetry-cleaning rule that runs before any counting.
    Reports per type the raw count, the kept (logical) count and the
    collapse rate.  One (user, type)-keyed lag pass."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    marked = events.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap"),
    )
    return marked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum(
            (F.col("gap").isNull() | (F.col("gap") >= gap_s)).cast("long")
        )
        .cast("long")
        .alias("n_kept"),
    ).withColumn(
        "collapse_rate",
        F.round(
            (F.col("n_raw") - F.col("n_kept")) / F.col("n_raw").cast("double"),
            6,
        ),
    )


FATIGUE_MAX_IDX = 5


def session_fatigue(events: DataFrame, max_idx: int = FATIGUE_MAX_IDX) -> DataFrame:
    """Engagement-fatigue curve: average session size by the session's
    per-user INDEX (1st session, 2nd, ...) — the novelty-decay
    readout (a steep drop after session 1 means onboarding carries the
    product).  Session index is a per-user window over the per-user
    session table (user-bounded partitions), sizes from the shared
    sessionizer."""
    s = sessionize(events)
    w = Window.partitionBy("user_id").orderBy("session_start")
    idx = s.withColumn("s_idx", F.row_number().over(w))
    return (
        idx.filter(F.col("s_idx") <= max_idx)
        .groupBy("s_idx")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.round(F.avg(F.col("n").cast("double")), 6).alias(
                "avg_events_per_session"
            ),
        )
        .select(
            F.col("s_idx").cast("int").alias("session_index"),
            "n_sessions",
            "avg_events_per_session",
        )
    )


DECAY_HALFLIFE_D = 3.5
DECAY_WINDOW_D = 7


def time_decay_attribution(
    events: DataFrame,
    halflife_d: float = DECAY_HALFLIFE_D,
    window_d: int = DECAY_WINDOW_D,
) -> DataFrame:
    """Time-decay attribution — the third standard model beside first-
    and last-touch: every purchase splits its value across the user's
    preceding touches (views/clicks within ``window_d`` days), each
    weighted 2^(-age/halflife) and normalized per purchase.  Reports
    credited revenue per touch type.

    Determinism: weights ROUND 9 before the per-purchase normalizer;
    credits ROUND 6 -> DECIMAL sums, so the final aggregate is
    association-order exact.  The touch join is user-keyed with a
    bounded time-range residual (the two-sided interval join shape)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value"), 6).alias("p_val"),
    )
    touches = events.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"),
    )
    age_s = F.unix_timestamp("p_ts") - F.unix_timestamp("t_ts")
    j = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (age_s <= window_d * 86400)
    )
    w = F.round(
        F.pow(F.lit(0.5), age_s.cast("double") / F.lit(halflife_d * 86400.0)),
        9,
    )
    weighted = j.select(
        "p_id", "p_val", "touch_type",
        w.cast("decimal(12,9)").alias("w"),
    )
    # the normalizer sums EXACT decimals: an f64 sum here would absorb
    # partial-aggregate merge order into every rounded credit
    norm = weighted.groupBy("p_id").agg(F.sum("w").alias("_wsum"))
    credit = (
        weighted.join(norm, "p_id")
        .select(
            "touch_type",
            F.round(
                F.col("p_val")
                * F.col("w").cast("double")
                / F.col("_wsum").cast("double"),
                6,
            )
            .cast("decimal(21,6)")
            .alias("credit"),
        )
    )
    return credit.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_credited_touches"),
        F.round(F.sum("credit").cast("double"), 4).alias("credited_value"),
    )


SLO_TARGET = 0.99  # success-rate objective


def error_budget_burn(events: DataFrame, slo: float = SLO_TARGET) -> DataFrame:
    """SRE error-budget accounting against a {SLO_TARGET:.0%}
    success-rate SLO: per day, the error rate and the BURN RATE
    (error_rate / allowed_rate — burn 1.0 consumes exactly the budget;
    a 14.4x burn for an hour is the classic page threshold), plus each
    day's share of the whole-period budget consumed.  Exact integer
    counts, |days| output rows."""
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("n_err"),
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("_tn"),
        F.sum("n_err").cast("long").alias("_te"),
    )
    allowed = 1.0 - slo
    rate = F.col("n_err") / F.col("n").cast("double")
    return daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        "n_err",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / F.lit(allowed), 6).alias("burn_rate"),
        F.round(
            F.col("n_err")
            / (F.col("_tn").cast("double") * F.lit(allowed)),
            6,
        ).alias("period_budget_share"),
    )


ZIPF_USERS_TOP = 100


def user_activity_zipf(events: DataFrame, top_n: int = ZIPF_USERS_TOP) -> DataFrame:
    """Power-law audit of USER activity (vocab_zipf_slope's recipe on
    behavior instead of language): ln(events) on ln(rank) over the
    top-n users — a slope near -1 is organic heavy-tailed usage; flat
    means synthetic/uniform traffic, very steep means a few accounts
    (bots, integrations) dominate.  Same determinism recipe: exact
    rank, ROUND-6 DECIMAL logs, f64 only at the closed-form end."""
    from .ranking import ranked_global

    per = events.groupBy("user_id").agg(F.count("*").alias("n"))
    top = per.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(top_n)
    ranked = ranked_global(
        top, [F.col("n").desc(), F.col("user_id").asc()], rank_name="rank"
    ).select("rank", "n")
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(20,6)")
    y = F.round(F.log(F.col("n").cast("double")), 6).cast("decimal(20,6)")
    sums = ranked.agg(
        F.count("*").cast("bigint").alias("n_used"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum((x * y).cast("decimal(30,12)")).alias("_sxy"),
        F.sum((x * x).cast("decimal(30,12)")).alias("_sxx"),
    )
    nn = F.col("n_used").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    slope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    return sums.select(
        "n_used",
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / nn, 4).alias("intercept"),
    )


def cuped_adjustment(events: DataFrame) -> DataFrame:
    """CUPED variance reduction for the md5 A/B split: per-user event
    counts in the PRE period (first half of the time range, the
    covariate) adjust the POST-period metric via
    y_cv = y - theta (x - mean(x)), theta = cov(x,y)/var(x) — the
    standard pre-experiment-data trick that shrinks metric variance by
    corr(x,y)^2 and makes the same traffic detect smaller effects.

    One user-grain aggregate (pre/post counts from the midpoint epoch,
    a broadcast scalar), then every statistic — theta, per-arm raw and
    adjusted means, the variance-reduction share — comes from exact
    integer power sums in closed form.  Guarded for zero covariate
    variance (try_divide -> NULL)."""
    from ..functions.text import md5_int

    span = events.agg(
        F.floor(
            (
                F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts"))
            )
            / 2
        )
        .cast("long")
        .alias("_mid")
    )
    per_user = (
        events.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.unix_timestamp("ts") < F.col("_mid")).cast("long")
            ).alias("x"),
            F.sum(
                (F.unix_timestamp("ts") >= F.col("_mid")).cast("long")
            ).alias("y"),
        )
        .select(
            (md5_int(F.col("user_id").cast("string")) % 2).cast("int").alias("arm"),
            "x",
            "y",
        )
        .localCheckpoint()
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("x").alias("sxg"), F.sum("y").alias("syg")
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("ng").alias("na"), F.col("sxg").alias("sxa"), F.col("syg").alias("sya")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("ng").alias("nb"), F.col("sxg").alias("sxb"), F.col("syg").alias("syb")
    )
    j = g.crossJoin(F.broadcast(a)).crossJoin(F.broadcast(b))
    n = F.col("n_users").cast("double")
    covn = n * F.col("sxy") - F.col("sx") * F.col("sy")  # n^2 * cov
    varxn = n * F.col("sxx") - F.col("sx") * F.col("sx")
    varyn = n * F.col("syy") - F.col("sy") * F.col("sy")
    theta = F.try_divide(covn.cast("double"), F.nullif(varxn.cast("double"), F.lit(0.0)))
    mean_x = F.col("sx").cast("double") / n
    mean = lambda s, c: F.col(s).cast("double") / F.col(c)  # noqa: E731
    adj = lambda ms, mxs, cn: mean(ms, cn) - theta * (mean(mxs, cn) - mean_x)  # noqa: E731
    var_red = F.try_divide(
        (covn * covn).cast("double"),
        F.nullif((varxn * varyn).cast("double"), F.lit(0.0)),
    )
    return j.select(
        "n_users",
        F.round(theta, 6).alias("theta"),
        F.round(mean("sya", "na"), 6).alias("mean_a"),
        F.round(mean("syb", "nb"), 6).alias("mean_b"),
        F.round(adj("sya", "sxa", "na"), 6).alias("mean_a_adj"),
        F.round(adj("syb", "sxb", "nb"), 6).alias("mean_b_adj"),
        F.round(var_red, 6).alias("var_reduction"),
    )


def markov_entropy_rate(events: DataFrame) -> DataFrame:
    """ENTROPY RATE of user behavior: conditional entropy H(next|prev)
    of the first-order event-type chain vs the marginal next-event
    entropy — how many bits of surprise each event carries once you
    know the previous one, and how much knowing it buys
    (predictability gain = H_marginal - H_conditional).  The
    information-theoretic summary of the transition matrix: near-zero
    gain says sequence modeling adds nothing over frequencies.

    Plan: the pair build is the one user_id shuffle (lag with ts +
    event_id tiebreak); both entropies are folds over the |types|² /
    |types| aggregates.  Each p*log2(p) term is ROUNDed to 9 then
    summed as DECIMAL(38,12) — the rounded-ln contract."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    row_tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("ns"))
    tot = pairs.agg(
        F.sum("n").cast("long").alias("n_transitions"),
        F.countDistinct("prev_type").cast("long").alias("n_states"),
    )

    def t9(c):
        return F.round(c, 9).cast("decimal(38,12)")

    cond_terms = (
        pairs.join(F.broadcast(row_tot), "prev_type")
        .crossJoin(F.broadcast(tot))
        .select(
            t9(
                (F.col("n") / F.col("n_transitions"))
                * F.log2(F.col("n") / F.col("ns"))
            ).alias("t")
        )
        .agg(F.sum("t").alias("_hc"))
    )
    marg_terms = (
        pairs.groupBy("next_type")
        .agg(F.sum("n").alias("mt"))
        .crossJoin(F.broadcast(tot))
        .select(
            t9(
                (F.col("mt") / F.col("n_transitions"))
                * F.log2(F.col("mt") / F.col("n_transitions"))
            ).alias("t")
        )
        .agg(F.sum("t").alias("_hm"))
    )
    return (
        tot.crossJoin(F.broadcast(cond_terms))
        .crossJoin(F.broadcast(marg_terms))
        .select(
            "n_transitions",
            "n_states",
            F.round(-F.col("_hc").cast("double"), 6).alias("h_conditional_bits"),
            F.round(-F.col("_hm").cast("double"), 6).alias("h_marginal_bits"),
            F.round(
                (F.col("_hc") - F.col("_hm")).cast("double"), 6
            ).alias("predictability_gain"),
        )
    )


def error_rate_pchart(events: DataFrame) -> DataFrame:
    """SPC p-CHART of the daily error share: per day, the error
    proportion against 3-sigma binomial control limits around the
    overall rate (pbar +/- 3*sqrt(pbar(1-pbar)/n_day)) with an
    out-of-control flag — the classic statistical-process-control
    monitor (CUSUM's threshold-free sibling; CUSUM detects slow drift,
    the p-chart flags single broken days).

    One scan -> daily conditional counts; pbar is a broadcast scalar;
    limits are closed-form per day.  Exact integer counts, one final
    double formula per row."""
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long"))
            .cast("long")
            .alias("n_errors"),
        )
        .localCheckpoint()
    )
    overall = daily.agg(
        (F.sum("n_errors") / F.sum("n_events")).alias("_pbar")
    )
    p = F.col("n_errors") / F.col("n_events")
    sig = F.sqrt(
        F.col("_pbar") * (1.0 - F.col("_pbar")) / F.col("n_events")
    )
    ucl = F.col("_pbar") + 3.0 * sig
    lcl = F.greatest(F.col("_pbar") - 3.0 * sig, F.lit(0.0))
    return daily.crossJoin(F.broadcast(overall)).select(
        "day",
        "n_events",
        "n_errors",
        F.round(p, 6).alias("p_day"),
        F.round(F.col("_pbar"), 6).alias("p_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )


SESSION_GAP_GRID_MIN = (15, 30, 60, 120)


def session_gap_tuning(events: DataFrame) -> DataFrame:
    """Sessionizer GAP TUNING CURVE: for each candidate idle-timeout,
    how many sessions the corpus splits into, mean session size, and
    the share of single-event sessions — the measured elbow curve that
    justifies (or indicts) the conventional 30-minute gap, the
    sessionization sibling of dedup_lsh_band_tuning.

    ONE user_id shuffle computes every inter-event gap; each candidate
    threshold is then a conditional aggregate over the same lag table
    (sessions = users + boundary-crossing gaps; singles via a second
    pass over per-session sizes would need the full assignment, so the
    single-share here is session-START events with no successor within
    the gap — the equivalent count, computed without materializing
    per-threshold session ids)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (
        events.select(
            "user_id",
            F.unix_timestamp("ts").alias("_t"),
            F.lag(F.unix_timestamp("ts")).over(w).alias("_prev"),
            F.lead(F.unix_timestamp("ts")).over(w).alias("_next"),
            F.col("event_id"),
        )
        .localCheckpoint()
    )
    n_users = F.countDistinct("user_id")
    out = None
    for gap_min in SESSION_GAP_GRID_MIN:
        g = gap_min * 60
        new_session = F.when(
            F.col("_prev").isNull() | (F.col("_t") - F.col("_prev") > g), 1
        ).otherwise(0)
        # a session is singleton iff its starting event has no successor
        # within the gap
        single = (
            new_session
            * F.when(
                F.col("_next").isNull() | (F.col("_next") - F.col("_t") > g), 1
            ).otherwise(0)
        )
        row = lagged.agg(
            F.lit(gap_min).alias("gap_minutes"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(new_session).cast("long").alias("n_sessions"),
            F.sum(single).cast("long").alias("n_single_sessions"),
        ).select(
            "gap_minutes",
            "n_events",
            "n_sessions",
            F.round(F.col("n_events") / F.col("n_sessions"), 6).alias(
                "mean_session_events"
            ),
            F.round(
                F.col("n_single_sessions") / F.col("n_sessions"), 6
            ).alias("single_share"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def time_axis_gap_audit(events: DataFrame) -> DataFrame:
    """Time-axis GAP AUDIT: the dense minute grid between the first and
    last event vs the minutes that actually carry events — slot counts,
    coverage, and the longest silent stretch.  This is the
    regularization report a time-series consumer (autocorrelation,
    forecasting, anomaly scoring) needs BEFORE trusting lag arithmetic:
    a 40% sparse axis makes lag-k neighbors lies.

    The slot count comes from the bounded calendar span (not data
    volume), counts from one to-minute truncation aggregate, and the
    longest gap from a shifted-rank join over the bounded
    occupied-minute table."""
    mins = (
        events.select(
            F.date_trunc("minute", F.col("ts")).alias("m")
        )
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    span = mins.agg(
        F.min("m").alias("_lo"),
        F.max("m").alias("_hi"),
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
    )
    from .ranking import ranked_global

    seq = ranked_global(mins.select("m"), [F.col("m").asc()], rank_name="r")
    nxt = seq.select((F.col("r") - 1).alias("r"), F.col("m").alias("_nm"))
    gaps = seq.join(nxt, "r").select(
        ((F.unix_timestamp("_nm") - F.unix_timestamp("m")) / 60)
        .cast("long")
        .alias("_gap")
    )
    longest = gaps.agg(
        F.coalesce(F.max("_gap"), F.lit(0)).cast("long").alias("longest_gap_minutes")
    )
    return span.crossJoin(F.broadcast(longest)).select(
        (
            F.floor(
                (F.unix_timestamp("_hi") - F.unix_timestamp("_lo")) / 60
            ).cast("long")
            + 1
        ).alias("n_slots"),
        "n_occupied",
        F.round(
            F.col("n_occupied")
            / (
                F.floor(
                    (F.unix_timestamp("_hi") - F.unix_timestamp("_lo")) / 60
                )
                + 1
            ),
            6,
        ).alias("coverage"),
        "longest_gap_minutes",
    )


COOC_MIN_SUPPORT = 5


def session_type_pmi(
    events: DataFrame, gap_sec: int = 1800, min_support: int = COOC_MIN_SUPPORT
) -> DataFrame:
    """Within-session event-type CO-OCCURRENCE by PMI: which actions
    appear in the same session more than their individual prevalences
    predict — the behavioral collocation read (market-basket lift on
    actions instead of parts, vocab_pmi_bigrams on sessions instead of
    adjacent words).

    Plan: session ids from the gaps-and-islands cumsum (one user_id
    shuffle); distinct (session, type) rows; pair candidates from a
    session-keyed self-join (pair space bounded by |types| per
    session); marginals and pairs are |types| / |types|² aggregates.
    PMI = log2(n_ab * N / (n_a * n_b)) — exact integers inside, one
    rounded log per row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    sess = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(
            F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_sid"),
    )
    st = (
        sess.select(
            F.concat_ws("#", F.col("user_id").cast("string"), F.col("_sid")).alias(
                "sk"
            ),
            "event_type",
        )
        .distinct()
        .localCheckpoint()
    )
    n_sessions = st.select("sk").distinct().count()
    marg = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = st.select(F.col("sk"), F.col("event_type").alias("type_a"))
    b = st.select(F.col("sk"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "sk")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    lift = (F.col("n_ab").cast("double") * n_sessions) / (
        F.col("n_a").cast("double") * F.col("n_b")
    )
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_ab").cast("long").alias("n_sessions_both"),
            F.col("n_a").cast("long").alias("n_sessions_a"),
            F.col("n_b").cast("long").alias("n_sessions_b"),
            F.round(lift, 6).alias("lift"),
            F.round(F.log2(lift), 6).alias("pmi_bits"),
        )
    )


def markov_prediction_accuracy(events: DataFrame) -> DataFrame:
    """Closed-loop EVALUATION of the first-order Markov model: predict
    each next event as the argmax transition out of the previous type
    (ties to the lexicographically smaller type), score accuracy@1
    against what actually happened, and compare with the
    majority-class baseline (always predict the most common type) —
    the lift-over-baseline read that says whether sequence context is
    worth modeling on this stream.

    In-sample by construction (the transition matrix summarizes the
    same stream) — stated; the number is the model's CEILING.  One
    user shuffle for the lag pairs; the argmax and baseline tables are
    |types|-sized broadcasts; accuracy is one conditional fold."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    wa = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    argmax = (
        pairs.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    marg = pairs.groupBy("next_type").agg(F.sum("n").alias("m"))
    base = (
        marg.orderBy(F.col("m").desc(), F.col("next_type").asc())
        .limit(1)
        .select(F.col("next_type").alias("majority"), F.col("m").alias("_mm"))
    )
    tot = pairs.agg(F.sum("n").cast("long").alias("n_transitions"))
    correct = (
        pairs.join(F.broadcast(argmax), "prev_type")
        .agg(
            F.sum(
                F.when(F.col("next_type") == F.col("predicted"), F.col("n")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_correct")
        )
    )
    return (
        tot.crossJoin(F.broadcast(correct))
        .crossJoin(F.broadcast(base))
        .select(
            "n_transitions",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_transitions"), 6).alias(
                "markov_accuracy"
            ),
            F.col("majority").alias("baseline_type"),
            F.round(F.col("_mm") / F.col("n_transitions"), 6).alias(
                "baseline_accuracy"
            ),
            F.round(
                (F.col("n_correct") - F.col("_mm")) / F.col("n_transitions"), 6
            ).alias("lift"),
        )
    )


RET_FIT_K = 4  # offsets used by the decay fit


def retention_halflife(events: DataFrame, k_max: int = RET_FIT_K) -> DataFrame:
    """Retention HALF-LIFE: pooled weekly retention shares R(k) for
    offsets 1..{RET_FIT_K} fit to an exponential decay by log-linear
    least squares — the single number ('weeks until half the cohort is
    gone') the retention grid only implies.  Only cohorts old enough
    to have reached offset k_max pool (the ragged-grid bias guard).

    The grid is the shared cohort_retention aggregate; the fit runs on
    <= k_max rows with rounded-ln DECIMAL sums; slope >= 0 (no decay)
    yields NULL half-life rather than a negative one."""
    grid = cohort_retention(events).localCheckpoint()
    eligible = (
        grid.groupBy("cohort_week")
        .agg(F.max("week_offset").alias("_mx"))
        .filter(F.col("_mx") >= k_max)
        .select("cohort_week")
    )
    g = grid.join(F.broadcast(eligible), "cohort_week")
    base = g.filter(F.col("week_offset") == 0).agg(
        F.sum("n_users").cast("long").alias("_n0"),
        F.count(F.lit(1)).cast("long").alias("n_cohorts_used"),
    )
    pooled = (
        g.filter(
            (F.col("week_offset") >= 1) & (F.col("week_offset") <= k_max)
        )
        .groupBy("week_offset")
        .agg(F.sum("n_users").alias("_nk"))
        .crossJoin(F.broadcast(base))
        .select(
            F.col("week_offset").cast("long").alias("k"),
            "_n0",
            "n_cohorts_used",
            F.round(F.col("_nk") / F.col("_n0"), 6).alias("r"),
            F.round(F.log(F.col("_nk") / F.col("_n0")), 9)
            .cast("decimal(38,12)")
            .alias("y"),
        )
    )
    s = pooled.groupBy("_n0", "n_cohorts_used").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
        F.sum("y").alias("sy"),
        F.sum((F.col("k") * F.col("y")).cast("decimal(38,12)")).alias("sky"),
        F.max(F.when(F.col("k") == 1, F.col("r"))).alias("r1_share"),
    )
    slope = F.try_divide(
        (F.col("m") * F.col("sky").cast("double") - F.col("sk") * F.col("sy").cast("double")),
        F.nullif(
            (F.col("m") * F.col("skk") - F.col("sk") * F.col("sk")).cast("double"),
            F.lit(0.0),
        ),
    )
    import math

    # half-life from the ROUNDED slope: 1/x amplifies the 1-ulp ln()
    # divergence rounded-9 terms can carry, so the published KPI is
    # derived from the published slope in both engines
    slope6 = F.round(slope, 6)
    return s.select(
        "n_cohorts_used",
        F.col("m").alias("n_points"),
        "r1_share",
        slope6.alias("decay_slope"),
        F.round(
            F.when(slope6 < 0, F.lit(-math.log(2.0)) / slope6), 6
        ).alias("half_life_weeks"),
    )


def props_schema_drift(events: DataFrame) -> DataFrame:
    """Semi-structured SCHEMA DRIFT: per JSON props key, its presence
    share in the two md5 halves of the user population and the drift —
    the detector for a producer rollout that added/dropped/renamed a
    field (schema evolution the table schema can't see, measured the
    PSI way but at key grain).

    One scan explodes key sets; the (key, half) aggregate is tiny; the
    md5 gate is the shared content-stable split."""
    from ..functions.text import md5_int

    half = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    keys = events.select(
        half.alias("h"),
        F.explode(
            F.map_keys(
                F.from_json(F.col("props"), "map<string,string>")
            )
        ).alias("k"),
    )
    totals = events.select(half.alias("h")).groupBy("h").agg(
        F.count(F.lit(1)).alias("nt")
    )
    cells = keys.groupBy("k", "h").agg(F.count(F.lit(1)).alias("n"))
    j = cells.join(F.broadcast(totals), "h").select(
        "k", "h", (F.col("n") / F.col("nt")).alias("share")
    )
    a = j.filter(F.col("h") == 0).select("k", F.col("share").alias("_sa"))
    b = j.filter(F.col("h") == 1).select("k", F.col("share").alias("_sb"))
    return (
        a.join(b, "k", "full_outer")
        .select(
            F.col("k").alias("prop_key"),
            F.round(F.coalesce(F.col("_sa"), F.lit(0.0)), 6).alias("share_a"),
            F.round(F.coalesce(F.col("_sb"), F.lit(0.0)), 6).alias("share_b"),
            F.round(
                F.abs(
                    F.coalesce(F.col("_sa"), F.lit(0.0))
                    - F.coalesce(F.col("_sb"), F.lit(0.0))
                ),
                6,
            ).alias("abs_drift"),
        )
    )


def activation_analysis(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """ACTIVATION analysis: does first-session depth predict retention?
    Per user, the event count of their FIRST session (gaps-and-islands,
    30-min idle) against their total distinct active weeks — reported
    as the Pearson correlation from exact integer power sums plus mean
    active-weeks by first-session-size band (1 / 2-4 / 5+), the
    aha-moment table a growth team reads before picking an onboarding
    metric.

    One user shuffle builds sessions; weeks-active is a second bounded
    per-user aggregate; everything folds to a single row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    sess = events.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_sid"),
    )
    first_size = (
        sess.filter(F.col("_sid") == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    weeks = (
        events.select("user_id", F.date_trunc("week", F.col("ts")).alias("_w"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("wk"))
    )
    j = first_size.join(weeks, "user_id").localCheckpoint()
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("s").alias("ss"),
        F.sum("wk").alias("sw"),
        F.sum(F.col("s") * F.col("wk")).alias("ssw"),
        F.sum(F.col("s") * F.col("s")).alias("sss"),
        F.sum(F.col("wk") * F.col("wk")).alias("sww"),
        F.sum(F.when(F.col("s") == 1, F.col("wk"))).alias("w1"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s").between(2, 4), F.col("wk"))).alias("w24"),
        F.sum(F.when(F.col("s").between(2, 4), 1).otherwise(0)).alias("n24"),
        F.sum(F.when(F.col("s") >= 5, F.col("wk"))).alias("w5"),
        F.sum(F.when(F.col("s") >= 5, 1).otherwise(0)).alias("n5"),
    )
    n = F.col("n_users").cast("double")
    num = n * F.col("ssw") - F.col("ss") * F.col("sw")
    den = F.sqrt(
        (n * F.col("sss") - F.col("ss") * F.col("ss")).cast("double")
        * (n * F.col("sww") - F.col("sw") * F.col("sw")).cast("double")
    )
    mean_band = lambda wcol, ncol: F.round(  # noqa: E731
        F.try_divide(F.col(wcol), F.nullif(F.col(ncol), F.lit(0))), 6
    )
    return agg.select(
        "n_users",
        F.round(
            F.try_divide(num.cast("double"), F.nullif(den, F.lit(0.0))), 6
        ).alias("depth_weeks_corr"),
        F.col("n1").cast("long").alias("n_depth_1"),
        mean_band("w1", "n1").alias("weeks_depth_1"),
        F.col("n24").cast("long").alias("n_depth_2_4"),
        mean_band("w24", "n24").alias("weeks_depth_2_4"),
        F.col("n5").cast("long").alias("n_depth_5p"),
        mean_band("w5", "n5").alias("weeks_depth_5p"),
    )


FFILL_HEAD_DAYS = 15


def daily_forward_fill(events: DataFrame, head: int = FFILL_HEAD_DAYS) -> DataFrame:
    """FORWARD-FILL (LOCF) gap repair on the daily event-count series:
    the dense calendar axis between the first and last event day, with
    missing days carrying the last observed count — the
    regularization every lag-based consumer (autocorrelation,
    forecasting, control charts) silently assumes.  Reported: the
    first ``head`` days with observed vs filled values and a fill
    flag (the audit slice; the full filled frame is this same plan
    unlimited).

    The dense axis is one sequence explode over the bounded calendar
    span; the LOCF window rides the |days| table (calendar-bounded —
    it does not grow with event volume) ordered by date with
    last-ignore-nulls semantics, identical in DuckDB."""
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    span = daily.agg(F.min("d").alias("_lo"), F.max("d").alias("_hi"))
    axis = span.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("d")
    )
    joined = axis.join(daily, "d", "left")
    w = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    filled = joined.select(
        "d",
        F.col("n").alias("observed"),
        F.last("n", ignorenulls=True).over(w).alias("filled"),
        F.col("n").isNull().alias("was_gap"),
    )
    return filled.orderBy(F.col("d").asc()).limit(head)


FC_EVAL_DAYS = 14


def forecast_baseline_eval(events: DataFrame, eval_days: int = FC_EVAL_DAYS) -> DataFrame:
    """FORECAST-BASELINE evaluation on the daily count series: MAE of
    the naive (yesterday) vs the seasonal-naive (same weekday last
    week) predictor over the last ``eval_days`` days — the two
    baselines any real forecasting model must beat, and the cheap
    answer to 'is there weekly seasonality worth modeling' (seasonal
    winning = yes).  Exact integer errors; one date aggregate, two
    shifted-rank joins on the calendar-bounded daily table."""
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    from .ranking import ranked_global

    seq = ranked_global(daily, [F.col("d").asc()], rank_name="t", total_name="nd")
    lag1 = seq.select((F.col("t") + 1).alias("t"), F.col("n").alias("p1"))
    lag7 = seq.select((F.col("t") + 7).alias("t"), F.col("n").alias("p7"))
    j = (
        seq.join(lag1, "t")
        .join(lag7, "t")
        .filter(F.col("t") > F.col("nd") - eval_days)
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_eval"),
        F.round(F.avg(F.abs(F.col("n") - F.col("p1"))), 6).alias("mae_naive_1d"),
        F.round(F.avg(F.abs(F.col("n") - F.col("p7"))), 6).alias(
            "mae_seasonal_7d"
        ),
        (
            F.sum(F.abs(F.col("n") - F.col("p7")))
            < F.sum(F.abs(F.col("n") - F.col("p1")))
        ).alias("weekly_seasonality_wins"),
    )


UPLIFT_DECILES = 5


def uplift_by_activity_band(
    events: DataFrame, bands: int = UPLIFT_DECILES
) -> DataFrame:
    """UPLIFT table: purchase-conversion difference between the md5
    A/B arms WITHIN pre-period activity bands (grouped ntile) — the
    Qini/uplift-curve input that says WHERE a treatment moves users
    (heavy users may saturate while light users respond; the flat
    average hides it).  On an untreated stream the uplift column is a
    placebo check: ~0 everywhere, and a band far from 0 measures the
    split's residual imbalance.

    One user-grain aggregate (pre-period activity + converted flag),
    the two-phase grouped ntile for bands, one (band, arm) rollup."""
    from ..functions.text import md5_int
    from .ranking import grouped_ntile

    span = events.agg(
        F.floor(
            (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts"))) / 2
        )
        .cast("long")
        .alias("_mid")
    )
    per_user = (
        events.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.unix_timestamp("ts") < F.col("_mid")).cast("long")
            ).alias("pre"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
        )
        .select(
            "user_id",
            "pre",
            "conv",
            (md5_int(F.col("user_id").cast("string")) % 2).cast("int").alias("arm"),
        )
    )
    banded = grouped_ntile(
        per_user,
        [F.col("pre").desc(), F.col("user_id").asc()],
        bands,
        "band",
    )
    cells = banded.groupBy("band", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    a = cells.filter(F.col("arm") == 0).select(
        "band", F.col("n").alias("na"), F.col("c").alias("ca")
    )
    b = cells.filter(F.col("arm") == 1).select(
        "band", F.col("n").alias("nb"), F.col("c").alias("cb")
    )
    return (
        a.join(b, "band")
        .select(
            F.col("band").cast("int").alias("band"),
            F.col("na").cast("long").alias("n_arm_a"),
            F.col("nb").cast("long").alias("n_arm_b"),
            F.round(F.col("ca") / F.col("na"), 6).alias("rate_a"),
            F.round(F.col("cb") / F.col("nb"), 6).alias("rate_b"),
            F.round(
                F.col("cb") / F.col("nb") - F.col("ca") / F.col("na"), 6
            ).alias("uplift"),
        )
    )


# -- sequential testing (SPRT) ----------------------------------------------

SPRT_P0 = 0.30  # H0 conversion rate
SPRT_P1 = 0.35  # H1 conversion rate the test is powered to detect
SPRT_ALPHA = 0.05
SPRT_BETA = 0.20


def sprt_monitor(events: DataFrame) -> DataFrame:
    """Wald SPRT sequential monitor on the treatment arm's user
    conversion rate: users enter in first-seen-day order; the
    cumulative log-likelihood ratio for H1: p={SPRT_P1} vs
    H0: p={SPRT_P0} is checked daily against the Wald boundaries
    ln((1-B)/a) / ln(B/(1-a)) — the always-valid peeking answer the
    fixed-horizon events_mde_power cannot give.

    Determinism: the LLR is a*conv + b*(n-conv) with a,b constant
    Python doubles interpolated into both engines — exact integer
    counts, two multiplies and an add, no per-term rounding.  The
    cumulative window runs on the calendar-bounded day table."""
    import math

    from ..functions.text import md5_int

    la = math.log(SPRT_P1 / SPRT_P0)
    lb = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    upper = round(math.log((1 - SPRT_BETA) / SPRT_ALPHA), 6)
    lower = round(math.log(SPRT_BETA / (1 - SPRT_ALPHA)), 6)
    arm = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    per_user = (
        events.withColumn("_arm", arm)
        .filter(F.col("_arm") == 1)
        .groupBy("user_id")
        .agg(
            F.to_date(F.min("ts")).alias("day"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
        )
    )
    daily = per_user.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n").over(w).cast("long").alias("n_users_cum"),
        F.sum("c").over(w).cast("long").alias("n_conv_cum"),
    )
    llr = F.round(
        F.lit(la) * F.col("n_conv_cum").cast("double")
        + F.lit(lb) * (F.col("n_users_cum") - F.col("n_conv_cum")).cast("double"),
        6,
    )
    return cum.select(
        "day",
        "n_users_cum",
        "n_conv_cum",
        llr.alias("llr"),
        F.when(llr >= upper, F.lit("accept_h1"))
        .when(llr <= lower, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# -- token-bucket rate limiting ---------------------------------------------

RL_CAP = 3  # bucket capacity (tokens)
RL_REFILL_SECONDS = 600  # one token per this many seconds


def rate_limit_audit(events: DataFrame) -> DataFrame:
    """TOKEN-BUCKET rate-limit replay per user: bucket of
    {RL_CAP} tokens refilling one per {RL_REFILL_SECONDS}s, events
    admitted in (ts, event_id) order while a token is available — the
    quota/abuse-control simulation that says who WOULD have been
    throttled under a proposed policy, before enforcing it at the
    edge.

    Semantics pinned for both engines: integer seconds; refill =
    (now - last_refill) div {RL_REFILL_SECONDS}; a FULL bucket resets
    the refill clock to now (excess idle time is discarded); admission
    consumes one token after refill.  Every quantity is an exact
    integer, so the per-user left fold is engine-independent.

    Scale: ONE user-keyed shuffle; the fold runs inside each user's
    collected event array (bounded by per-user activity — at heavy
    per-user volume the same integer recursion drops into an
    applyInArrow kernel unchanged)."""
    cap, rf = RL_CAP, RL_REFILL_SECONDS
    per = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_timestamp("ts").alias("s"),
                    F.col("event_id").alias("eid"),
                )
            )
        ).alias("evs"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    init = F.struct(
        F.lit(cap).cast("long").alias("tok"),
        F.element_at(F.col("evs"), 1)["s"].alias("lrt"),
        F.lit(0).cast("long").alias("adm"),
        F.lit(0).cast("long").alias("rej"),
    )

    def step(acc, e):
        refill = ((e["s"] - acc["lrt"]) / F.lit(rf)).cast("long")
        tok2 = F.least(F.lit(cap).cast("long"), acc["tok"] + refill)
        lrt2 = F.when(tok2 == cap, e["s"]).otherwise(
            acc["lrt"] + refill * F.lit(rf)
        )
        admitted = tok2 >= 1
        return F.struct(
            F.when(admitted, tok2 - 1).otherwise(tok2).alias("tok"),
            lrt2.alias("lrt"),
            F.when(admitted, acc["adm"] + 1).otherwise(acc["adm"]).alias("adm"),
            F.when(admitted, acc["rej"]).otherwise(acc["rej"] + 1).alias("rej"),
        )

    st = F.aggregate(F.col("evs"), init, step)
    return per.select(
        "user_id",
        "n_events",
        st["adm"].alias("n_admitted"),
        st["rej"].alias("n_rejected"),
        F.round(
            st["rej"].cast("double") / F.col("n_events").cast("double"), 6
        ).alias("rejected_share"),
    )


FDR_Q = 0.10  # Benjamini-Hochberg target false-discovery rate


def _norm_sf2(az: Column) -> Column:
    """Two-sided normal p-value 2*(1 - Phi(|z|)) via the Zelen-Severo
    polynomial (Abramowitz & Stegun 26.2.17) — no erf() dependency, the
    IDENTICAL float64 expression in Spark and the DuckDB oracle, so
    cross-engine parity is bitwise.  |abs error| < 7.5e-8."""
    pdf = F.lit(0.3989422804014327) * F.exp(-(az * az) / F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = (
        (
            (
                (F.lit(1.330274429) * t - F.lit(1.821255978)) * t
                + F.lit(1.781477937)
            )
            * t
            - F.lit(0.356563782)
        )
        * t
        + F.lit(0.319381530)
    ) * t
    return F.least(F.lit(1.0), F.lit(2.0) * pdf * poly)


def fdr_weekend_shift(events: DataFrame, q: float = FDR_Q) -> DataFrame:
    """MULTIPLE-TESTING CONTROL: per event type, a two-sided binomial
    z-test of "is this type's weekend share different from the pooled
    weekend share?", then BENJAMINI-HOCHBERG step-up at FDR q — the
    procedure that separates real weekly-rhythm effects from the
    false positives a dashboard of raw p<0.05 cells mass-produces.

    BH: rank p ascending, threshold_i = i*q/m, discover every test
    with rank <= k* = max{i : p_i <= threshold_i}.

    Scale: one conditional aggregate per type (map-side combined), a
    broadcast pooled row, and a :func:`ranking.ranked_global` pass
    over the TEST table (one row per type — the rank machinery is
    scale-safe even when the tested families grow to thousands of
    cells).  p-values are rounded to 9dp before ranking so the rank
    key is FP-stable across engines."""
    from .ranking import ranked_global

    per = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.dayofweek("ts").isin(1, 7).cast("int")).cast("long").alias("nw"),
    )
    tot = F.broadcast(
        per.agg(
            F.sum("n").cast("long").alias("tn"),
            F.sum("nw").cast("long").alias("tnw"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
    )
    pt = F.col("nw").cast("double") / F.col("n").cast("double")
    p0 = F.col("tnw").cast("double") / F.col("tn").cast("double")
    se = F.sqrt(p0 * (F.lit(1.0) - p0) / F.col("n").cast("double"))
    z = F.try_divide(pt - p0, F.nullif(se, F.lit(0.0)))
    tested = per.crossJoin(tot).select(
        "event_type",
        "n",
        "m",
        (F.round(pt, 6) + F.lit(0.0)).alias("weekend_share"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
        F.round(_norm_sf2(F.abs(z)), 9).alias("_p9"),
    )
    ranked = ranked_global(
        tested,
        [F.col("_p9").asc(), F.col("event_type").asc()],
        rank_name="bh_rank",
    ).localCheckpoint()
    thr = F.col("bh_rank").cast("double") * F.lit(q) / F.col("m").cast("double")
    flagged = ranked.withColumn("_thr", thr).withColumn(
        "_pass", (F.col("_p9") <= F.col("_thr")).cast("int")
    )
    kstar = F.broadcast(
        flagged.agg(
            F.coalesce(
                F.max(F.when(F.col("_pass") == 1, F.col("bh_rank"))), F.lit(0)
            )
            .cast("long")
            .alias("_kstar")
        )
    )
    return (
        flagged.crossJoin(kstar)
        .select(
            "event_type",
            "n",
            "weekend_share",
            "z_score",
            (F.col("_p9").cast("double") + F.lit(0.0)).alias("p_value"),
            F.col("bh_rank").cast("int").alias("bh_rank"),
            (F.round(F.col("_thr"), 6) + F.lit(0.0)).alias("bh_threshold"),
            (F.col("bh_rank") <= F.col("_kstar")).cast("int").alias("discovery"),
        )
        .orderBy("bh_rank")
    )


SHAPLEY_CHANNELS = ["click", "error", "signup", "view"]


def shapley_attribution(events: DataFrame) -> DataFrame:
    """EXACT SHAPLEY-VALUE conversion attribution over the four
    non-purchase channels — the coalition-game answer to "which
    touches actually drive purchases" that last-touch / linear /
    time-decay (events_touch_attribution, events_touch_decay_
    attribution) can only approximate: each channel gets its average
    marginal contribution across all orderings of the touch set.

    v(S) = conversions among users whose touch set is contained in S
    (monotone coalition value); with 4 channels the 16-subset lattice
    is exact and tiny, so the ONLY data-sized work is one user-keyed
    aggregate to (touch bitmask, converted).  phi sums are 9dp-rounded
    DECIMAL; sum(phi) = v(full) - v(empty) by construction (tested).
    """
    spark = events.sparkSession
    chans = SHAPLEY_CHANNELS
    n = len(chans)
    users = events.groupBy("user_id").agg(
        *[
            F.max((F.col("event_type") == c).cast("int")).alias(f"_c{i}")
            for i, c in enumerate(chans)
        ],
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    mask = sum(
        (F.col(f"_c{i}") * F.lit(1 << i) for i in range(n)), F.lit(0)
    )
    cT = (
        users.select(mask.alias("t"), "conv")
        .groupBy("t")
        .agg(F.sum("conv").cast("long").alias("c"))
        .localCheckpoint()
    )
    subsets = spark.range(1 << n).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(cT), (F.col("t").bitwiseAND(F.col("s")) == F.col("t")), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
        .localCheckpoint()
    )
    # |S|-dependent ordering weight |S|! (n-1-|S|)! / n!
    import math

    wmap = {k: math.factorial(k) * math.factorial(n - 1 - k) / math.factorial(n)
            for k in range(n)}
    wcol = F.col("s")
    weight = None
    for k, wv in wmap.items():
        cond = F.bit_count(wcol) == k
        weight = F.when(cond, F.lit(wv)) if weight is None else weight.when(
            cond, F.lit(wv)
        )
    outs = []
    for i, c in enumerate(chans):
        s0 = v.filter((F.shiftright(F.col("s"), i).bitwiseAND(1)) == 0).select(
            F.col("s"), F.col("v").alias("v0")
        )
        s1 = v.select(F.col("s").alias("sf"), F.col("v").alias("v1"))
        pair = s0.join(s1, F.col("sf") == F.col("s") + F.lit(1 << i))
        outs.append(
            pair.select(
                F.lit(c).alias("channel"),
                F.round(
                    weight * (F.col("v1") - F.col("v0")).cast("double"), 9
                )
                .cast("decimal(20,9)")
                .alias("term"),
            )
        )
    allterms = outs[0]
    for o in outs[1:]:
        allterms = allterms.unionByName(o)
    return (
        allterms.groupBy("channel")
        .agg((F.round(F.sum("term").cast("double"), 6) + F.lit(0.0)).alias(
            "shapley_conversions"
        ))
        .orderBy("channel")
    )


BURSTINESS_MIN_GAPS = 5


def interarrival_burstiness(
    events: DataFrame, min_gaps: int = BURSTINESS_MIN_GAPS
) -> DataFrame:
    """GOH-BARABASI burstiness B = (sigma - mu) / (sigma + mu) of each
    user's inter-event times, summarized across users: B in [-1, 1) —
    -1 = perfectly periodic, 0 = Poisson, -> 1 = extreme bursts.  The
    single-number "is user activity clocklike or bursty" diagnostic
    that the Fano dispersion index (events_dispersion_index) gives for
    COUNTS; this is the inter-arrival-time version, and they disagree
    exactly when timing structure hides inside stable rates.

    Scale: per-user lag window (user-partitioned, never global), gap
    moments as 3dp-rounded DECIMAL sums per user, then one summary
    aggregate over users with >= {BURSTINESS_MIN_GAPS} gaps."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "user_id",
            F.round(
                F.col("ts").cast("double") - F.col("prev").cast("double"), 3
            )
            .cast("decimal(20,3)")
            .alias("g"),
        )
    )
    per = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("g").alias("sg"),
            F.sum(
                F.round(F.col("g").cast("double") * F.col("g").cast("double"), 3)
                .cast("decimal(30,3)")
            ).alias("sgg"),
        )
        .filter(F.col("n") >= min_gaps)
    )
    nd = F.col("n").cast("double")
    mu = F.col("sg").cast("double") / nd
    var = (F.col("sgg").cast("double") - nd * mu * mu) / (nd - F.lit(1.0))
    sig = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.try_divide(sig - mu, F.nullif(sig + mu, F.lit(0.0)))
    scored = per.select(
        "user_id", F.round(b, 6).cast("decimal(10,6)").alias("b")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (
            F.round(
                F.sum("b").cast("double") / F.count(F.lit(1)).cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("mean_burstiness"),
        (F.round(F.min("b").cast("double"), 6) + F.lit(0.0)).alias("min_b"),
        (F.round(F.max("b").cast("double"), 6) + F.lit(0.0)).alias("max_b"),
        F.sum((F.col("b") > 0).cast("int")).cast("long").alias("n_bursty"),
    )


BAYES_PRIOR_A = 1.0  # Beta(1,1) uniform prior
BAYES_PRIOR_B = 1.0


def bayes_ab_conversion(events: DataFrame) -> DataFrame:
    """BAYESIAN A/B readout for the md5-gated 50/50 split (same
    assignment as ``events_srm_check``): per-arm Beta(1+conv, 1+n-conv)
    posterior over conversion-to-purchase, with posterior means,
    credible-interval half-widths (normal approximation of the Beta),
    and P(B > A) via the normal approximation of the posterior
    difference — the decision-ready companion to the frequentist SPRT
    monitor: "how sure are we B is better, today", valid at any
    peeking cadence.

    Scale: one user-grain aggregate (converted = any purchase) and a
    two-row arm table; every posterior quantity is closed-form.  The
    normal tail is the shared Zelen-Severo polynomial, so parity is
    bitwise."""
    from ..functions.text import md5_int

    users = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arm = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    arms = (
        users.select(arm.alias("arm"), "conv")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("c"),
        )
    )
    a_ = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    b_ = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    j = a_.crossJoin(b_)

    def post(n, c):
        al = c.cast("double") + F.lit(BAYES_PRIOR_A)
        be = (n - c).cast("double") + F.lit(BAYES_PRIOR_B)
        mean = al / (al + be)
        var = al * be / ((al + be) * (al + be) * (al + be + F.lit(1.0)))
        return mean, var

    ma, va = post(F.col("n_a"), F.col("c_a"))
    mb, vb = post(F.col("n_b"), F.col("c_b"))
    zdiff = F.try_divide(mb - ma, F.nullif(F.sqrt(va + vb), F.lit(0.0)))
    # P(B > A) = Phi(zdiff) = 1 - sf2(|z|)/2 on the right side
    p_tail = _norm_sf2(F.abs(zdiff)) / F.lit(2.0)
    p_b_gt_a = F.when(zdiff >= 0, F.lit(1.0) - p_tail).otherwise(p_tail)
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (F.round(ma, 6) + F.lit(0.0)).alias("post_mean_a"),
        (F.round(mb, 6) + F.lit(0.0)).alias("post_mean_b"),
        (F.round(F.lit(1.959964) * F.sqrt(va), 6) + F.lit(0.0)).alias(
            "ci95_halfwidth_a"
        ),
        (F.round(F.lit(1.959964) * F.sqrt(vb), 6) + F.lit(0.0)).alias(
            "ci95_halfwidth_b"
        ),
        (F.round(p_b_gt_a, 6) + F.lit(0.0)).alias("p_b_beats_a"),
    )


PERM_B = 200  # deterministic permutation resamples


def permutation_test_conversion(
    events: DataFrame, n_perms: int = PERM_B
) -> DataFrame:
    """PERMUTATION TEST on the A/B conversion difference — exact
    nonparametric inference with NO normal approximation: under H0 the
    arm labels are exchangeable, so the null distribution is the
    observed statistic under relabelings.  Every "random" relabeling
    is an md5 gate keyed by (perm_id, user_id) — content-keyed
    determinism, so both engines enumerate the IDENTICAL {PERM_B}
    permutations and the p-value is reproducible bit-for-bit (the same
    trick as orders_bootstrap_ci, applied to testing).

    p = (1 + #{{perm : |diff_perm| >= |diff_obs|}}) / (1 + B), the
    add-one unbiased form.  Scale: one user-grain pass, then a
    users x B explode — B is a constant, so the work is B scans'
    worth of conditional sums in ONE shuffle, nothing driver-side."""
    from ..functions.text import md5_int

    users = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    ).localCheckpoint()
    arm = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    base = users.select("user_id", "conv", arm.alias("arm"))
    obs = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))).cast("long").alias("cb"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))).cast("long").alias("ca"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na"),
    )
    dobs = F.abs(
        F.col("cb").cast("double") / F.col("nb").cast("double")
        - F.col("ca").cast("double") / F.col("na").cast("double")
    )
    perms = base.select(
        "user_id",
        "conv",
        F.explode(F.sequence(F.lit(1), F.lit(n_perms))).alias("pid"),
    ).select(
        "pid",
        "conv",
        (
            md5_int(
                F.concat_ws(
                    "@",
                    F.col("pid").cast("string"),
                    F.col("user_id").cast("string"),
                )
            )
            % 2
        ).cast("int").alias("parm"),
    )
    pstats = perms.groupBy("pid").agg(
        F.sum(F.when(F.col("parm") == 1, F.col("conv"))).cast("long").alias("cb"),
        F.sum(F.when(F.col("parm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("parm") == 0, F.col("conv"))).cast("long").alias("ca"),
        F.sum(F.when(F.col("parm") == 0, 1).otherwise(0)).cast("long").alias("na"),
    )
    pdiff = F.abs(
        F.try_divide(
            F.col("cb").cast("double"), F.nullif(F.col("nb").cast("double"), F.lit(0.0))
        )
        - F.try_divide(
            F.col("ca").cast("double"), F.nullif(F.col("na").cast("double"), F.lit(0.0))
        )
    )
    exceed = (
        pstats.crossJoin(F.broadcast(obs.select(F.round(dobs, 9).alias("dobs"))))
        .agg(
            F.sum(
                (F.round(pdiff, 9) >= F.col("dobs")).cast("int")
            )
            .cast("long")
            .alias("n_exceed")
        )
    )
    return (
        obs.crossJoin(exceed)
        .select(
            "n_users",
            (F.round(
                F.col("ca").cast("double") / F.col("na").cast("double"), 6
            ) + F.lit(0.0)).alias("rate_a"),
            (F.round(
                F.col("cb").cast("double") / F.col("nb").cast("double"), 6
            ) + F.lit(0.0)).alias("rate_b"),
            (F.round(dobs, 6) + F.lit(0.0)).alias("abs_diff"),
            F.col("n_exceed"),
            (
                F.round(
                    (F.col("n_exceed").cast("double") + F.lit(1.0))
                    / F.lit(float(n_perms + 1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("p_value"),
        )
    )


WEIBULL_MAX_T = 30


def weibull_retention_fit(
    events: DataFrame, max_t: int = WEIBULL_MAX_T
) -> DataFrame:
    """WEIBULL retention fit via the linearized hazard: the empirical
    activity-span survival R(t) = P(lifetime >= t days) obeys
    ln(-ln R(t)) = k ln t - k ln lambda under Weibull, so one OLS on
    the transformed curve recovers the SHAPE k — the number the
    exponential half-life fit (events_retention_halflife) structurally
    cannot see: k < 1 means churn risk is front-loaded (fix
    onboarding), k > 1 means users wear out (fix longevity), k = 1
    collapses to the exponential.

    Scale: one user-grain span aggregate, survival over the bounded
    1..{WEIBULL_MAX_T}-day grid via a grid x span-histogram join, OLS
    from 9dp-rounded DECIMAL log sums."""
    spans = events.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("span")
    )
    hist = spans.groupBy("span").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = F.broadcast(hist.agg(F.sum("c").cast("long").alias("n_users")))
    grid = events.sparkSession.range(1, max_t + 1).select(
        F.col("id").cast("int").alias("t")
    )
    surv = (
        grid.join(hist, hist.span >= grid.t)
        .groupBy("t")
        .agg(F.sum("c").cast("long").alias("alive"))
        .crossJoin(tot)
        .select(
            "t",
            "n_users",
            (F.col("alive").cast("double") / F.col("n_users").cast("double")).alias(
                "r"
            ),
        )
        .filter((F.col("r") > 0) & (F.col("r") < 1))
    )
    pts = surv.select(
        "n_users",
        F.round(F.log(F.col("t").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("lx"),
        F.round(F.log(-F.log(F.col("r"))), 9).cast("decimal(18,9)").alias("ly"),
    )
    s = pts.groupBy("n_users").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    md = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = md * sxy - sx * sy
    denx = md * sxx - sx * sx
    deny = md * syy - sy * sy
    k = F.try_divide(num, F.nullif(denx, F.lit(0.0)))
    c = (sy - k * sx) / md
    lam = F.exp(-F.try_divide(c, F.nullif(k, F.lit(0.0))))
    r2 = F.try_divide(num * num, F.nullif(denx * deny, F.lit(0.0)))
    return s.select(
        "n_users",
        F.col("m").alias("n_points"),
        (F.round(k, 6) + F.lit(0.0)).alias("weibull_k"),
        (F.round(lam, 6) + F.lit(0.0)).alias("weibull_lambda"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
        F.when(F.round(k, 6) < 0.95, F.lit("front_loaded"))
        .when(F.round(k, 6) > 1.05, F.lit("wear_out"))
        .otherwise(F.lit("exponential_like"))
        .alias("churn_shape"),
    )


def feature_mi_ranking(events: DataFrame) -> DataFrame:
    """FEATURE-SELECTION TABLE: mutual information (bits) between each
    candidate feature and the is-purchase label, ranked — the
    model-free screen that says which engineered features carry
    signal before anyone trains anything.  Features: hour band,
    weekend flag, value quartile band (fixed edges so the binning is
    engine-stable).  Generalizes the single-pair
    ``part_brand_type_mi`` into a per-feature ranking.

    Scale: ONE scan emits the long (feature, value, label) form via a
    stacked select; per-feature MI is a (feature,value,label) count
    aggregate plus broadcast marginals; p*log terms are 9dp-rounded
    DECIMAL so the fold order is moot."""
    lbl = (F.col("event_type") == "purchase").cast("int").alias("y")
    hour = F.hour("ts")
    base = events.select(
        lbl,
        F.concat(
            F.lit("h"), F.floor(hour / F.lit(6)).cast("int").cast("string")
        ).alias("hour_band"),
        F.dayofweek("ts").isin(1, 7).cast("int").cast("string").alias("weekend"),
        F.when(F.col("value") < 50, "q1")
        .when(F.col("value") < 100, "q2")
        .when(F.col("value") < 150, "q3")
        .otherwise("q4")
        .alias("value_band"),
    )
    long = None
    for feat in ("hour_band", "weekend", "value_band"):
        part = base.select(
            F.lit(feat).alias("feature"), F.col(feat).alias("v"), "y"
        )
        long = part if long is None else long.unionByName(part)
    cells = long.groupBy("feature", "v", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint()
    fx = cells.groupBy("feature", "v").agg(F.sum("n").cast("long").alias("nx"))
    fy = cells.groupBy("feature", "y").agg(F.sum("n").cast("long").alias("ny"))
    ft = cells.groupBy("feature").agg(F.sum("n").cast("long").alias("nt"))
    j = (
        cells.join(fx, ["feature", "v"])
        .join(fy, ["feature", "y"])
        .join(F.broadcast(ft), "feature")
    )
    p = F.col("n").cast("double") / F.col("nt").cast("double")
    px = F.col("nx").cast("double") / F.col("nt").cast("double")
    py = F.col("ny").cast("double") / F.col("nt").cast("double")
    term = F.round(
        p * F.log2(F.try_divide(p, F.nullif(px * py, F.lit(0.0)))), 9
    ).cast("decimal(18,9)")
    hx_term = F.round(-px * F.log2(px), 9).cast("decimal(18,9)")
    mi = j.groupBy("feature").agg(F.sum(term).alias("mi"))
    hx = (
        fx.join(F.broadcast(ft), "feature")
        .select("feature", hx_term.alias("t"))
        .groupBy("feature")
        .agg(F.sum("t").alias("hx"))
    )
    out = mi.join(hx, "feature").select(
        "feature",
        (F.round(F.col("mi").cast("double"), 6) + F.lit(0.0)).alias("mi_bits"),
        (
            F.round(
                F.try_divide(
                    F.col("mi").cast("double"),
                    F.nullif(F.col("hx").cast("double"), F.lit(0.0)),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("mi_over_hx"),
    )
    w = Window.orderBy(F.col("mi_bits").desc(), F.col("feature").asc())
    return out.withColumn("rank", F.row_number().over(w).cast("int")).orderBy(
        "rank"
    )


def offpolicy_eval_ips(events: DataFrame) -> DataFrame:
    """OFF-POLICY EVALUATION of "always serve arm B" from logs
    collected under the 50/50 md5-gated behavior policy: inverse-
    propensity scoring (IPS), its self-normalized variant (SNIPS), and
    the effective sample size — the counterfactual-readout toolkit
    that answers "what would the B-only policy earn" WITHOUT running
    it, and says how much logged data actually supports the answer
    (ESS).  Complements the on-policy A/B readouts (bayes_ab, SPRT,
    permutation test).

    Known propensities (0.5) make the estimators exact: w_i =
    1{{a_i = B}} / 0.5, V_IPS = mean(w r), V_SNIPS = sum(w r)/sum(w),
    ESS = (sum w)^2 / sum w^2.  Scale: one user-grain aggregate;
    everything else is a handful of exact-integer sums."""
    from ..functions.text import md5_int

    users = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("r")
    )
    a = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    base = users.select("r", a.alias("a"))
    s = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.when(F.col("a") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("srb"),
        F.sum((F.col("a") == 1).cast("int")).cast("long").alias("nb"),
    )
    nd = F.col("n_users").cast("double")
    # w = 2 for matched users, 0 otherwise: sum w = 2*nb, sum w^2 = 4*nb
    v_ips = F.lit(2.0) * F.col("srb").cast("double") / nd
    v_snips = F.try_divide(
        F.lit(2.0) * F.col("srb").cast("double"),
        F.nullif(F.lit(2.0) * F.col("nb").cast("double"), F.lit(0.0)),
    )
    ess = F.try_divide(
        (F.lit(2.0) * F.col("nb").cast("double"))
        * (F.lit(2.0) * F.col("nb").cast("double")),
        F.nullif(F.lit(4.0) * F.col("nb").cast("double"), F.lit(0.0)),
    )
    return s.select(
        "n_users",
        (F.round(F.col("sr").cast("double") / nd, 6) + F.lit(0.0)).alias(
            "v_behavior"
        ),
        (F.round(v_ips, 6) + F.lit(0.0)).alias("v_ips"),
        (F.round(v_snips, 6) + F.lit(0.0)).alias("v_snips"),
        (F.round(ess, 6) + F.lit(0.0)).alias("ess"),
        (F.round(F.try_divide(ess, F.nullif(nd, F.lit(0.0))), 6) + F.lit(0.0)).alias(
            "ess_fraction"
        ),
    )


BOT_TOPK = 15


def bot_detection_screen(events: DataFrame, topk: int = BOT_TOPK) -> DataFrame:
    """BOT / AUTOMATION SCREEN: per-user composite of the three
    signatures scripted traffic actually has — abnormal RATE
    (events per active day), degenerate VARIETY (low event-type
    entropy), and clockwork TIMING (burstiness near -1, i.e. fixed
    inter-event gaps) — combined into one ranked score:
    score = rate/10 + (log2(5) - type_entropy) + (-burstiness).
    Weights are a documented operating point, not learned; each signal
    column ships alongside so reviewers can re-weight.

    Scale: one user-grain pass for rate/entropy, one lag window for
    gaps (user-partitioned), DECIMAL-rounded folds, TakeOrdered
    top-{BOT_TOPK}."""
    per = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("days"),
    )
    tcnt = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ent = (
        tcnt.join(per.select("user_id", "n_events"), "user_id")
        .select(
            "user_id",
            F.round(
                -(F.col("c").cast("double") / F.col("n_events").cast("double"))
                * F.log2(
                    F.col("c").cast("double") / F.col("n_events").cast("double")
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("t"),
        )
        .groupBy("user_id")
        .agg(F.sum("t").cast("double").alias("type_entropy"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "user_id",
            F.round(
                F.col("ts").cast("double") - F.col("prev").cast("double"), 3
            )
            .cast("decimal(20,3)")
            .alias("g"),
        )
    )
    bur = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum("g").alias("sg"),
            F.sum(
                F.round(
                    F.col("g").cast("double") * F.col("g").cast("double"), 3
                ).cast("decimal(30,3)")
            ).alias("sgg"),
        )
        .filter(F.col("ng") >= 2)
    )
    ngd = F.col("ng").cast("double")
    mu = F.col("sg").cast("double") / ngd
    var = (F.col("sgg").cast("double") - ngd * mu * mu) / (ngd - F.lit(1.0))
    sig = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.try_divide(sig - mu, F.nullif(sig + mu, F.lit(0.0)))
    bcol = bur.select("user_id", F.round(b, 6).alias("burstiness"))
    rate = F.round(
        F.col("n_events").cast("double") / F.col("days").cast("double"), 6
    )
    joined = (
        per.join(ent, "user_id")
        .join(bcol, "user_id")
        .select(
            "user_id",
            "n_events",
            rate.alias("rate_per_day"),
            (F.round(F.col("type_entropy"), 6) + F.lit(0.0)).alias(
                "type_entropy"
            ),
            "burstiness",
        )
    )
    score = F.round(
        F.col("rate_per_day") / F.lit(10.0)
        + (F.lit(2.321928094887362) - F.col("type_entropy"))
        - F.col("burstiness"),
        6,
    )
    return (
        joined.withColumn("bot_score", score + F.lit(0.0))
        .orderBy(F.col("bot_score").desc(), F.col("user_id").asc())
        .limit(topk)
    )


LOGNORM_GAP_MIN = 30  # session gap, minutes (same as events_sessionize)


def session_lognormal_fit(events: DataFrame) -> DataFrame:
    """LOGNORMAL fit of session durations (method of moments on ln d):
    dwell/duration distributions are classically lognormal, and the
    fitted (mu, sigma) gives the model quantiles capacity planning
    uses — compared here against the EMPIRICAL mean so the fit's
    multiplicative-vs-additive story is visible (lognormal mean
    e^(mu+sigma^2/2) exceeds the median e^mu by exactly the skew the
    arithmetic average hides).

    Sessions: 30-minute-gap islands per user (the events_sessionize
    construction); zero-length (single-event) sessions are excluded
    from the log fit and counted.  Scale: user-partitioned windows,
    DECIMAL-rounded ln moments, closed-form everything."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn("prev", F.lag("ts").over(w)).withColumn(
        "new_s",
        (
            F.col("prev").isNull()
            | (
                F.col("ts").cast("double") - F.col("prev").cast("double")
                > LOGNORM_GAP_MIN * 60
            )
        ).cast("int"),
    )
    sw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = marked.withColumn("sid", F.sum("new_s").over(sw))
    durs = sess.groupBy("user_id", "sid").agg(
        F.round(
            F.max(F.col("ts").cast("double")) - F.min(F.col("ts").cast("double")),
            3,
        ).alias("d")
    )
    valid = durs.filter(F.col("d") > 0)
    pts = valid.select(
        F.round(F.log(F.col("d")), 9).cast("decimal(18,9)").alias("l")
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("l").alias("sl"),
        F.sum(
            F.round(F.col("l").cast("double") * F.col("l").cast("double"), 9)
            .cast("decimal(28,9)")
        ).alias("sll"),
    )
    zero = durs.agg(
        F.sum((F.col("d") == 0).cast("int")).cast("long").alias("n_single")
    )
    emp = valid.agg(
        F.sum(F.col("d").cast("decimal(20,3)")).alias("sd")
    )
    nd = F.col("n_sessions").cast("double")
    mu = F.try_divide(F.col("sl").cast("double"), F.nullif(nd, F.lit(0.0)))
    var = F.try_divide(
        F.col("sll").cast("double") - nd * mu * mu,
        F.nullif(nd - F.lit(1.0), F.lit(0.0)),
    )
    sig = F.sqrt(F.greatest(F.coalesce(var, F.lit(0.0)), F.lit(0.0)))
    return (
        s.crossJoin(zero)
        .crossJoin(emp)
        .select(
            "n_sessions",
            "n_single",
            (F.round(mu, 6) + F.lit(0.0)).alias("mu_ln"),
            (F.round(sig, 6) + F.lit(0.0)).alias("sigma_ln"),
            (F.round(F.exp(mu), 6) + F.lit(0.0)).alias("median_model_s"),
            (
                F.round(F.exp(mu + sig * sig / F.lit(2.0)), 6) + F.lit(0.0)
            ).alias("mean_model_s"),
            (
                F.round(
                    F.try_divide(
                        F.col("sd").cast("double"), F.nullif(nd, F.lit(0.0))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_empirical_s"),
            (
                F.round(F.exp(mu + F.lit(1.644854) * sig), 6) + F.lit(0.0)
            ).alias("p95_model_s"),
        )
    )


QTE_DECILES = [i / 10.0 for i in range(1, 10)]


def quantile_treatment_effects(events: DataFrame) -> DataFrame:
    """QUANTILE TREATMENT EFFECTS for the md5-gated A/B split: the
    per-decile difference of the arm outcome distributions (per-user
    total event value) — the causal read that sees WHERE a treatment
    acts: a mean lift concentrated in the top decile (whales moved)
    and a uniform shift (everyone moved) look identical to the t-test
    family; the QTE profile separates them.

    Exact interpolated deciles per arm (one percentile aggregate
    each), exploded against the shared grid.  Scale: one user-grain
    pass; the quantile aggregates are per-arm single rows (swap for
    approx_percentile at extreme scale, same shape)."""
    from ..functions.text import md5_int

    users = events.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    arm = (md5_int(F.col("user_id").cast("string")) % 2).cast("int")
    base = users.select(arm.alias("arm"), "y")
    qs = F.percentile(F.col("y"), F.lit(QTE_DECILES))
    a = base.filter(F.col("arm") == 0).agg(qs.alias("qa"))
    b = base.filter(F.col("arm") == 1).agg(qs.alias("qb"))
    grid = a.crossJoin(b).select(
        F.posexplode(F.arrays_zip(F.col("qa"), F.col("qb"))).alias("i", "q")
    )
    return grid.select(
        ((F.col("i") + 1) * 10).cast("int").alias("decile"),
        (F.round(F.col("q.qa"), 6) + F.lit(0.0)).alias("q_control"),
        (F.round(F.col("q.qb"), 6) + F.lit(0.0)).alias("q_treatment"),
        (F.round(F.col("q.qb") - F.col("q.qa"), 6) + F.lit(0.0)).alias("qte"),
    ).orderBy("decile")


ABSORB_ITERS = 24


def absorbing_chain_funnel(events: DataFrame, iters: int = ABSORB_ITERS) -> DataFrame:
    """ABSORBING-CHAIN funnel analytics: with 'purchase' and
    sequence-end ('exit') as absorbing states, the fundamental-matrix
    quantities answer the questions raw transition counts
    (events_markov_transitions) cannot: from each state, the EXPECTED
    number of further events before the journey ends, and the
    probability it ends in a purchase rather than silent exit.
    t = (I-Q)^-1 1 and b = (I-Q)^-1 r, computed as {ABSORB_ITERS}
    damped-free Neumann iterations (geometric convergence — every row
    leaks absorption mass) with 9dp rounding per round, so the
    DuckDB unrolled-CTE oracle is bit-identical.

    Scale: one lead-window pass over the log builds the transition
    aggregate; the chain itself is MODEL-SIZED (|states|^2 ≤ a few
    dozen rows), so like train_centroids the iterations run driver-
    side on the collected matrix — 48 cluster jobs of pure latency
    replaced by one collect + exact Decimal/IEEE replication of the
    per-round arithmetic (ROUND(p*v, 9) terms, exact DECIMAL(20,9)
    sum, double re-add, ROUND 9)."""
    from decimal import ROUND_HALF_UP, Decimal

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.withColumn("nxt", F.lead("event_type").over(w)).select(
        F.col("event_type").alias("s"),
        F.coalesce(F.col("nxt"), F.lit("__exit__")).alias("t"),
    )
    trans = (
        seq.filter(F.col("s") != "purchase")
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    outs = trans.groupBy("s").agg(F.sum("c").cast("long").alias("n_out"))
    probs = trans.join(outs, "s").select(
        "s",
        "t",
        F.round(
            F.col("c").cast("double") / F.col("n_out").cast("double"), 9
        ).alias("p"),
    )
    rows = probs.collect()  # model-sized: |states| x |states+2| probs
    states = sorted({r["s"] for r in rows})
    q = [
        (r["s"], r["t"], r["p"])
        for r in rows
        if r["t"] not in ("purchase", "__exit__")
    ]
    r_pur = {r["s"]: r["p"] for r in rows if r["t"] == "purchase"}
    p_exit = {r["s"]: r["p"] for r in rows if r["t"] == "__exit__"}

    q9 = Decimal("0.000000001")

    def r9(x: float) -> float:
        # Spark ROUND(double, 9): BigDecimal.valueOf -> HALF_UP -> double
        return float(Decimal(repr(float(x))).quantize(q9, ROUND_HALF_UP))

    def iterate(add: dict[str, float]) -> dict[str, float]:
        a = {s_: float(add.get(s_, 0.0)) for s_ in states}
        v = {s_: r9(a[s_]) for s_ in states}
        for _ in range(iters):
            qv: dict[str, Decimal] = {}
            for s_, t_, p_ in q:
                if t_ not in v:
                    continue
                term = Decimal(repr(r9(p_ * v[t_]))).quantize(
                    q9, ROUND_HALF_UP
                )  # CAST(ROUND(p*v,9) AS DECIMAL(20,9)) — exact sum
                qv[s_] = qv.get(s_, Decimal(0)) + term
            v = {
                s_: r9(a[s_] + float(qv.get(s_, Decimal(0))))
                for s_ in states
            }
        return v

    t_exp = iterate({s_: 1.0 for s_ in states})
    b_pur = iterate(r_pur)
    spark = events.sparkSession
    model = local_frame(
        spark,
        [
            (s_, float(t_exp[s_]), float(b_pur[s_]))
            for s_ in states
        ],
        "s string, exp_steps double, p_purchase double",
    )
    out = outs.join(F.broadcast(model), "s")
    if p_exit:
        pe = local_frame(
            spark,
            [(s_, float(v)) for s_, v in sorted(p_exit.items())],
            "s string, pe double",
        )
        out = out.join(F.broadcast(pe), "s", "left")
    else:
        out = out.withColumn("pe", F.lit(None).cast("double"))
    return out.select(
        F.col("s").alias("state"),
        "n_out",
        (
            F.round(F.coalesce(F.col("pe"), F.lit(0.0)), 6) + F.lit(0.0)
        ).alias("p_exit_next"),
        (F.round(F.col("exp_steps"), 6) + F.lit(0.0)).alias(
            "expected_steps"
        ),
        (F.round(F.col("p_purchase"), 6) + F.lit(0.0)).alias(
            "p_end_in_purchase"
        ),
    ).orderBy("state")


WOE_SMOOTH = 0.5  # haldane correction per cell


def woe_information_value(events: DataFrame) -> DataFrame:
    """WEIGHT-OF-EVIDENCE / INFORMATION VALUE per feature — the
    credit-scoring standard beside the MI ranking
    (events_feature_mi_ranking): per feature bin, WoE = ln(P(bin |
    converter) / P(bin | non-converter)); IV = sum (P_g - P_b) * WoE,
    with the classic <0.02 useless / 0.1 medium / 0.3 strong bands.
    Haldane 0.5 smoothing keeps empty cells finite.  Same stacked
    single-scan long form as the MI table, so the two screens are
    directly comparable.

    Output: one row per feature with IV and its strength band."""
    lbl = (F.col("event_type") == "purchase").cast("int").alias("y")
    hour = F.hour("ts")
    base = events.select(
        lbl,
        F.concat(
            F.lit("h"), F.floor(hour / F.lit(6)).cast("int").cast("string")
        ).alias("hour_band"),
        F.dayofweek("ts").isin(1, 7).cast("int").cast("string").alias("weekend"),
        F.when(F.col("value") < 50, "q1")
        .when(F.col("value") < 100, "q2")
        .when(F.col("value") < 150, "q3")
        .otherwise("q4")
        .alias("value_band"),
    )
    long = None
    for feat in ("hour_band", "weekend", "value_band"):
        part = base.select(
            F.lit(feat).alias("feature"), F.col(feat).alias("v"), "y"
        )
        long = part if long is None else long.unionByName(part)
    cells = long.groupBy("feature", "v").agg(
        F.sum("y").cast("long").alias("g"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("b"),
    )
    tot = cells.groupBy("feature").agg(
        F.sum("g").cast("long").alias("tg"), F.sum("b").cast("long").alias("tb")
    )
    j = cells.join(tot, "feature")
    pg = (F.col("g").cast("double") + F.lit(WOE_SMOOTH)) / (
        F.col("tg").cast("double") + F.lit(WOE_SMOOTH)
    )
    pb = (F.col("b").cast("double") + F.lit(WOE_SMOOTH)) / (
        F.col("tb").cast("double") + F.lit(WOE_SMOOTH)
    )
    woe = F.log(pg / pb)
    term = F.round((pg - pb) * woe, 9).cast("decimal(18,9)")
    iv = j.groupBy("feature").agg(F.sum(term).cast("double").alias("iv"))
    ivr = F.round(F.col("iv"), 6)
    return iv.select(
        "feature",
        (ivr + F.lit(0.0)).alias("information_value"),
        F.when(ivr < 0.02, F.lit("useless"))
        .when(ivr < 0.1, F.lit("weak"))
        .when(ivr < 0.3, F.lit("medium"))
        .otherwise(F.lit("strong"))
        .alias("strength"),
    ).orderBy(F.col("information_value").desc(), F.col("feature").asc())


MASE_SEASON = 7  # weekly seasonality for the scaled error denominator


def forecast_error_metrics(events: DataFrame) -> DataFrame:
    """FORECAST-ERROR METRIC FAMILY for the seasonal-naive baseline on
    daily event counts: MAE, WAPE, sMAPE and MASE side by side — the
    table that stops metric-shopping arguments: MAE is scale-bound,
    WAPE survives zero days, sMAPE bounds percentage blowups, and
    MASE < 1 is the only one that literally reads "beats the naive
    forecaster".  Extends events_forecast_baselines (which picks the
    baseline) with the evaluation vocabulary.

    Scale: one daily aggregate, two rank self-joins (lag-1 naive and
    lag-{MASE_SEASON} seasonal-naive), DECIMAL-rounded error sums."""
    from .ranking import ranked_global

    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    ranked = ranked_global(daily, [F.col("d").asc()], rank_name="t").select(
        "t", F.col("y").cast("double").alias("y")
    ).localCheckpoint()
    cur = ranked.select("t", F.col("y").alias("y1"))
    sn = ranked.select(
        (F.col("t") + F.lit(MASE_SEASON)).alias("t"), F.col("y").alias("yhat")
    )
    nv = ranked.select((F.col("t") + F.lit(1)).alias("t"), F.col("y").alias("ynaive"))
    j = cur.join(sn, "t").join(nv, "t")
    ae = F.abs(F.col("y1") - F.col("yhat"))
    d20 = "decimal(24,6)"
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.round(ae, 6).cast(d20)).alias("sae"),
        F.sum(F.round(F.col("y1"), 6).cast(d20)).alias("sy"),
        F.sum(
            F.round(
                F.try_divide(
                    ae,
                    F.nullif(
                        (F.abs(F.col("y1")) + F.abs(F.col("yhat")))
                        / F.lit(2.0),
                        F.lit(0.0),
                    ),
                ),
                9,
            ).cast("decimal(18,9)")
        ).alias("ssmape"),
        F.sum(
            F.round(F.abs(F.col("y1") - F.col("ynaive")), 6).cast(d20)
        ).alias("snaive"),
    )
    nd = F.col("n_eval").cast("double")
    mae = F.col("sae").cast("double") / nd
    wape = F.try_divide(
        F.col("sae").cast("double"), F.nullif(F.col("sy").cast("double"), F.lit(0.0))
    )
    smape = F.col("ssmape").cast("double") / nd
    mase = F.try_divide(
        mae,
        F.nullif(F.col("snaive").cast("double") / nd, F.lit(0.0)),
    )
    return s.select(
        "n_eval",
        (F.round(mae, 6) + F.lit(0.0)).alias("mae"),
        (F.round(wape, 6) + F.lit(0.0)).alias("wape"),
        (F.round(smape, 6) + F.lit(0.0)).alias("smape"),
        (F.round(mase, 6) + F.lit(0.0)).alias("mase"),
        (F.round(mase, 6) < 1.0).cast("int").alias("beats_naive"),
    )
