"""Sketch operators: Count-Min frequency estimation and quantile-
sketch accuracy audits.

North-star extensions (the reference keeps no statistics at all —
its only aggregate structure is the roaring bitmap per (field,value),
src/filter_index.cc:9-54).  At 100 TB, sketches are how an engine
answers frequency/cardinality/quantile questions in one pass with
bounded memory; here they are built as ordinary aggregations so the
"sketch" is just a tiny DataFrame, mergeable by construction.

Determinism: Count-Min uses the same md5-prefix integer hashing and
(a*x + b) % P universal hashes as the MinHash suite — exact integer
arithmetic in both engines, so estimates (and their one-sided error)
hash-match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import MINHASH_A, MINHASH_B, MINHASH_P, md5_int, tokens
from ..sources.loaders import fan_out

CMS_W = 256  # buckets per row
CMS_D = 4  # hash rows (uses MINHASH_A/B[:4])


def _cms_bucket(j: int, h) -> F.Column:
    return ((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P) % CMS_W


def cms_heavy_hitters(docs: DataFrame, topn: int = 20, text_col: str = "text") -> DataFrame:
    """Count-Min heavy-hitter audit: exact top-N token counts side by
    side with their CMS estimates (D=4 rows x W=256 buckets), plus the
    collision overcount.  CMS is one-sided — est >= true always; the
    audit shows what W buys at this corpus size.

    Plan: ONE exact token count (shuffle on token — also the source of
    the exact top-N), then the 4xW sketch is an aggregation of that
    tiny table, and estimates come from joining the top-N's buckets
    against the sketch.  The corpus is scanned once; everything after
    the first groupBy is KB-sized.  At 100 TB you would keep ONLY the
    sketch pass (skip the exact count): same single scan, 4 counters
    per token occurrence, mergeable across partitions by + — that
    variant is this plan minus the audit columns."""
    cnt = (
        fan_out(docs.select(text_col))
        .select(F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("true_cnt"))
        .withColumn("h", md5_int(F.col("t")))
    )
    # sketch[j][b] = sum of counts of all tokens hashing to bucket b in
    # row j.  The D rows come from ONE posexplode of the in-expression
    # bucket array rather than a D-way union of the count aggregate —
    # the union re-ran the final token-count merge (and re-read its
    # shuffle) once per hash row (guide §2.4: same data, one exchange).
    bucket_arr = F.array(*[_cms_bucket(j, F.col("h")) for j in range(CMS_D)])
    sketch = (
        cnt.select(F.posexplode(bucket_arr).alias("j", "b"), "true_cnt")
        .groupBy("j", "b")
        .agg(F.sum("true_cnt").alias("bucket_cnt"))
    )
    top = cnt.orderBy(F.col("true_cnt").desc(), F.col("t").asc()).limit(topn)
    probe = top.select(
        "t", "true_cnt", F.posexplode(bucket_arr).alias("j", "b")
    )
    return (
        probe.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("t", "true_cnt")
        .agg(F.min("bucket_cnt").alias("cms_est"))
        .select(
            F.col("t").alias("token"),
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
        )
    )


def approx_quantile_audit(
    orders: DataFrame, probs: list[float] | None = None, rel_err: float = 0.01
) -> DataFrame:
    """Quantile-sketch accuracy audit: percentile_approx (Spark's
    Greenwald-Khanna sketch, the one-pass bounded-memory path used at
    100 TB) against the exact percentile, with the observed rank error.
    The sketch side is engine-specific, so this query is declared
    rows-only (no SQL oracle); tests assert the rel_err contract."""
    probs = probs or [0.25, 0.5, 0.75, 0.95]
    acc = int(1.0 / rel_err)
    apx = orders.agg(
        F.percentile_approx("o_totalprice", probs, acc).alias("apx")
    )
    exact = orders.agg(F.expr(
        f"percentile(o_totalprice, array({', '.join(str(p) for p in probs)}))"
    ).alias("ex"))
    pairs = (
        apx.crossJoin(exact)
        .select(
            F.posexplode(F.arrays_zip(F.col("apx"), F.col("ex"))).alias("i", "z")
        )
        .select(
            F.element_at(F.lit(probs), F.col("i") + 1).alias("p"),
            F.col("z.apx").cast("double").alias("approx_value"),
            F.col("z.ex").cast("double").alias("exact_value"),
        )
    )
    n = orders.count()
    ranks = orders.select("o_totalprice")
    return (
        pairs.join(
            ranks.crossJoin(F.broadcast(pairs.select(F.col("p").alias("p2"), "approx_value")))
            .groupBy("p2")
            .agg(
                (F.sum(F.when(F.col("o_totalprice") <= F.col("approx_value"), 1).otherwise(0))
                 / F.lit(float(n))).alias("approx_rank"),
            ),
            F.col("p") == F.col("p2"),
        )
        .select(
            "p",
            "approx_value",
            "exact_value",
            F.lit(n).cast("long").alias("n_rows"),
            F.round(F.col("approx_rank"), 6).alias("approx_rank"),
            F.round(F.abs(F.col("approx_rank") - F.col("p")), 6).alias("rank_err"),
            # the GK guarantee (rank error <= eps*N, eps = rel_err) plus
            # one row of discreteness slack from the <=-rank counting —
            # the oracle-checkable contract column (VERDICT r03 item 5)
            (
                F.round(F.abs(F.col("approx_rank") - F.col("p")), 6)
                <= F.lit(rel_err + (1.0 / n if n else 0.0))
            ).alias("rank_within_bound"),
        )
        .orderBy("p")
    )


# Bloom-filter join pruning: M bits, K universal hashes off the shared
# md5-prefix integer (same family as CMS/MinHash -> exact-int in both
# engines).  M is sized so the sf0.01 build side (~hundreds of keys)
# gives a measurable-but-small false-positive rate.
BLOOM_M = 8192
BLOOM_K = 4


def _bloom_pos(h, j: int) -> F.Column:
    return ((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P) % BLOOM_M


def bloom_prune_audit(
    build: DataFrame, probe: DataFrame, build_key: str, probe_key: str
) -> DataFrame:
    """Bloom-filter semi-join pruning audit: build a K-hash/M-bit Bloom
    filter over the (small) build side's keys, probe the fact side's
    distinct keys through it, and report pass/true/false-positive
    counts plus the achieved FP rate — the runtime-filter pattern
    (Spark's own InjectRuntimeFilter / bloom_filter_agg) made explicit
    and cross-engine checkable.

    Scale shape: the filter is a DISTINCT over <= K*|build| bit
    positions (<= M rows total) and is broadcast; the probe side pays
    one DISTINCT shuffle on its join key (the same shuffle the real
    join would pay) and the membership test is a map-side broadcast
    join — no fact-table shuffle is added.  Bloom membership = ALL K
    positions set, i.e. a hit-count == K after the position join.
    No false negatives by construction; FP rate is measured against
    the exact (broadcast) build-key set."""
    h_b = md5_int(F.col(build_key).cast("string"))
    bits = (
        build.select(
            F.explode(F.array(*[_bloom_pos(h_b, j) for j in range(BLOOM_K)])).alias(
                "pos"
            )
        )
        .distinct()
    )
    keys = probe.select(F.col(probe_key).alias("k")).distinct()
    ph = keys.withColumn("_h", md5_int(F.col("k").cast("string")))
    pp = ph.select(
        "k",
        F.explode(
            F.array(*[_bloom_pos(F.col("_h"), j) for j in range(BLOOM_K)])
        ).alias("pos"),
    )
    passed = (
        pp.join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count("*").alias("_nhit"))
        .filter(F.col("_nhit") == BLOOM_K)
        .select("k")
    )
    build_keys = build.select(F.col(build_key).alias("k")).distinct()
    true_pass = passed.join(F.broadcast(build_keys), "k", "left_semi")
    n_probe = keys.agg(F.count("*").cast("long").alias("n_probe"))
    n_pass = passed.agg(F.count("*").cast("long").alias("n_pass"))
    n_true = true_pass.agg(F.count("*").cast("long").alias("n_true"))
    return (
        n_probe.crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_probe",
            "n_pass",
            "n_true",
            (F.col("n_pass") - F.col("n_true")).cast("long").alias("n_false_pos"),
            F.round(
                F.when(
                    F.col("n_probe") > F.col("n_true"),
                    (F.col("n_pass") - F.col("n_true")).cast("double")
                    / (F.col("n_probe") - F.col("n_true")).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("fp_rate"),
        )
    )


KMV_K = 64
_KMV_RANGE = 4294967296  # md5_int values are uniform in [0, 2^32)


def kmv_cardinality_audit(
    events: DataFrame, types: tuple[str, str] = ("view", "purchase"), k: int = KMV_K
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch audit: per event
    type, the k smallest md5 hashes of the user ids give the classic
    estimator (k-1) * RANGE / h_k; the UNION sketch is the k smallest
    of the merged sketches — the mergeability that lets per-partition
    sketches combine without rescanning (the same contract as HLL,
    but exact-integer and therefore oracle-checkable).  Reports
    estimate vs exact distinct count and the relative error for each
    set and their union.

    Scale: the sketch build is a rank-limit window per type
    (WindowGroupLimit partial top-k before the exchange); everything
    downstream is k-sized."""
    h = md5_int(F.col("user_id").cast("string"))
    hashed = (
        events.filter(F.col("event_type").isin(*types))
        .select("event_type", F.col("user_id"), h.alias("h"))
        .localCheckpoint()
    )
    per_type = hashed.select("event_type", "h").distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    sk = (
        per_type.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .localCheckpoint()
    )
    union_sk = (
        sk.select("h")
        .distinct()
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy().orderBy(F.col("h").asc())),
        )
        .filter(F.col("rnk") <= k)
        .select(F.lit("union").alias("set_name"), "h", "rnk")
    )
    sketches = sk.select(
        F.col("event_type").alias("set_name"), "h", "rnk"
    ).unionByName(union_sk)
    est = sketches.groupBy("set_name").agg(
        F.count("*").alias("_n_sk"),
        F.max(F.when(F.col("rnk") == k, F.col("h"))).alias("_hk"),
    ).select(
        "set_name",
        F.when(F.col("_n_sk") < k, F.col("_n_sk").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(float(_KMV_RANGE)) / F.col("_hk").cast("double")
        )
        .alias("_est"),
    )
    ex_type = hashed.groupBy(F.col("event_type").alias("set_name")).agg(
        F.countDistinct("user_id").cast("long").alias("exact")
    )
    ex_union = hashed.agg(
        F.countDistinct("user_id").cast("long").alias("exact")
    ).select(F.lit("union").alias("set_name"), "exact")
    exact = ex_type.unionByName(ex_union)
    return est.join(exact, "set_name").select(
        "set_name",
        F.round(F.col("_est"), 6).alias("est"),
        "exact",
        F.round(
            F.abs(F.col("_est") - F.col("exact").cast("double"))
            / F.col("exact").cast("double"),
            6,
        ).alias("rel_err"),
    )


def kmv_intersection_audit(
    events: DataFrame, types: tuple[str, str] = ("click", "purchase"), k: int = KMV_K
) -> DataFrame:
    """KMV set-INTERSECTION estimate — the sketch set-operation a theta
    sketch provides, in exact-integer (oracle-checkable) form:

    1. per-type sketch = k smallest md5 hashes of the distinct user
       ids (same build as kmv_cardinality_audit — one rank-limit
       window each);
    2. union sketch = k smallest of the two sketches combined; its
       k-th min gives the union-cardinality estimate;
    3. Jaccard estimate = fraction of union-sketch members present in
       BOTH per-type sketches (the classic KMV/theta combinator);
    4. intersection estimate = jaccard_est * union_est.

    Reports the estimates against the exact intersection/Jaccard plus
    the relative error.  Everything after the two rank-limit windows
    is k-sized; at 100 TB the sketches are the only thing that moves.
    """
    a_type, b_type = types
    h = md5_int(F.col("user_id").cast("string"))
    hashed = (
        events.filter(F.col("event_type").isin(*types))
        .select("event_type", "user_id", h.alias("h"))
        .localCheckpoint()
    )
    per_type = hashed.select("event_type", "h").distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    sk = (
        per_type.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .localCheckpoint()
    )
    union_sk = (
        sk.select("h")
        .distinct()
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy().orderBy(F.col("h").asc())),
        )
        .filter(F.col("rnk") <= k)
    )
    union_stats = union_sk.agg(
        F.count("*").alias("_n_sk"),
        F.max(F.when(F.col("rnk") == k, F.col("h"))).alias("_hk"),
    ).select(
        F.col("_n_sk"),
        F.when(F.col("_n_sk") < k, F.col("_n_sk").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(float(_KMV_RANGE))
            / F.col("_hk").cast("double")
        )
        .alias("_union_est"),
    )
    membership = (
        union_sk.select("h")
        .join(
            sk.filter(F.col("event_type") == a_type).select("h").distinct(),
            "h",
            "left_semi",
        )
        .join(
            sk.filter(F.col("event_type") == b_type).select("h").distinct(),
            "h",
            "left_semi",
        )
        .agg(F.count("*").alias("_n_both_sk"))
    )
    exact = (
        hashed.select("event_type", "user_id")
        .distinct()
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("_nt"))
        .agg(
            F.sum(F.when(F.col("_nt") == 2, 1).otherwise(0)).alias("_both"),
            F.count("*").alias("_either"),
        )
    )
    j_est = F.col("_n_both_sk").cast("double") / F.col("_n_sk").cast("double")
    return (
        membership.crossJoin(union_stats)
        .crossJoin(exact)
        .select(
            F.round(j_est, 6).alias("jaccard_est"),
            F.round(j_est * F.col("_union_est"), 6).alias("inter_est"),
            F.round(
                F.col("_both").cast("double") / F.col("_either").cast("double"), 6
            ).alias("jaccard_exact"),
            F.col("_both").cast("long").alias("inter_exact"),
            F.round(
                F.abs(j_est * F.col("_union_est") - F.col("_both").cast("double"))
                / F.col("_both").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )


DDSKETCH_GAMMA = 1.02
DDSKETCH_QS = (0.5, 0.9, 0.99)


def ddsketch_quantile_audit(
    orders: DataFrame,
    gamma: float = DDSKETCH_GAMMA,
    qs: tuple[float, ...] = DDSKETCH_QS,
    value_col: str = "o_totalprice",
    id_col: str = "o_orderkey",
) -> DataFrame:
    """DDSketch-style relative-error quantile sketch vs exact: each
    value lands in log-bucket ceil(ln(v)/ln(gamma)); the bucket table
    (a few hundred rows regardless of input size) answers any quantile
    with guaranteed relative error (gamma-1)/(gamma+1)-ish — the
    mergeable latency-percentile structure, in deterministic form.

    Cross-engine determinism: the log ratio is ROUNDed to 9 decimals
    BEFORE ceil (both engines), so a 1-ulp ln() difference cannot flip
    a bucket.  Estimate for bucket b: 2*gamma^b/(gamma+1).  Exact
    answer at the same rank definition (row_number over (v, id),
    rank = ceil(q*N)) for the relative-error report.

    Scale: one scan -> bucket groupBy (tiny), quantile extraction on
    the bucket table; the exact side exists only for the audit."""
    from pyspark.sql import Window

    import math

    v = F.col(value_col).cast("double")
    bucket = F.ceil(F.round(F.log(v) / F.lit(math.log(gamma)), 9)).cast(
        "long"
    )
    b = (
        orders.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )
    # bucket table is a few hundred rows regardless of input size: the
    # cumulative count comes from a broadcast triangle join, not an
    # orderBy-only window
    b2 = b.select(F.col("b").alias("_b2"), F.col("cnt").alias("_c2"))
    cum = (
        b.join(F.broadcast(b2), F.col("_b2") <= F.col("b"))
        .groupBy("b", "cnt")
        .agg(F.sum("_c2").alias("cum"))
        .localCheckpoint()
    )
    n_rows = orders.count()
    from .ranking import ranked_global

    exact_ranked = ranked_global(
        orders.select(v.alias("v"), F.col(id_col).alias("_id")),
        [F.col("v").asc(), F.col("_id").asc()],
        rank_name="rn",
    )
    parts = []
    for q in qs:
        rank = math.ceil(q * n_rows)
        est_b = cum.filter(F.col("cum") >= rank).agg(
            F.min("b").alias("_b")
        )
        est = est_b.select(
            F.lit(q).alias("q"),
            F.round(
                F.lit(2.0)
                * F.pow(F.lit(gamma), F.col("_b"))
                / F.lit(gamma + 1.0),
                6,
            ).alias("est"),
        )
        exact = exact_ranked.filter(F.col("rn") == rank).select(
            F.round(F.col("v"), 6).alias("exact")
        )
        parts.append(est.crossJoin(exact))
    import functools

    out = functools.reduce(lambda a, c: a.unionByName(c), parts)
    return out.select(
        "q",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6).alias(
            "rel_err"
        ),
    )


AMS_D = 8  # independent +/-1 estimators (reuses the MINHASH_A/B hash rows)


def ams_f2_audit(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch vs the
    exact self-join size on ``key_col``.

    F2 = sum over keys of count(key)^2 is exactly the row count of
    ``events JOIN events`` on the key — the cardinality a join planner
    needs BEFORE paying for the join.  The exact answer costs a shuffle
    on the key; AMS estimates it from ONE map-side pass: D=8
    deterministic +/-1 sign hashes s_j(key), S_j = sum of s_j over all
    rows (a plain partial aggregate — no key shuffle, 9 counters per
    partition), per-estimator estimate S_j^2, combined by the median.
    Signs come from the shared universal-hash family
    ((A_j*h + B_j) % P) % 2 over the md5-prefix integer h — exact
    integer arithmetic end to end, so the ESTIMATE itself (not just an
    error bound) hash-matches the DuckDB oracle.

    Reference contrast: the reference keeps no statistics at all — its
    only aggregate structure is the per-(field,value) roaring bitmap
    (src/filter_index.cc:9-54).  At 100 TB this estimator answers
    join-size/skew questions in one pass with O(D) memory, mergeable
    across partitions by construction (sums of sums).

    Output: one row (n_rows, n_keys, exact_f2, ams_median_est,
    rel_err).  The exact side exists only for the audit."""
    h = md5_int(F.col(key_col).cast("string"))

    def sign(j: int) -> F.Column:
        u = (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P
        return F.when(u % 2 == 0, 1).otherwise(-1)

    sketch = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(sign(j)).alias(f"s{j}") for j in range(AMS_D)],
    )
    exact = (
        events.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("exact_f2"),
        )
    )
    ests = F.array_sort(
        F.array(*[F.col(f"s{j}") * F.col(f"s{j}") for j in range(AMS_D)])
    )
    half = AMS_D // 2
    return (
        sketch.crossJoin(exact)
        .withColumn("_e", ests)
        .select(
            "n_rows",
            "n_keys",
            "exact_f2",
            F.round(
                (F.col("_e")[half - 1] + F.col("_e")[half]) / F.lit(2.0), 1
            ).alias("ams_median_est"),
        )
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("ams_median_est") - F.col("exact_f2"))
                / F.col("exact_f2"),
                6,
            ),
        )
    )


CMS_WIDTHS = (64, 128, 256, 512)


def cms_width_curve(
    docs: DataFrame, topn: int = 20, text_col: str = "text"
) -> DataFrame:
    """Count-Min WIDTH TUNING CURVE: for each candidate sketch width,
    the overcount the D=4-row CMS inflicts on the exact top-``topn``
    tokens (mean / max / share answered exactly) — the measured
    memory-vs-error dial for sizing the sketch before a 100 TB run,
    the CMS sibling of dedup_lsh_band_tuning.

    ONE exact token count feeds everything: each width's sketch is an
    aggregation of that (token, cnt, h) table (W buckets per hash
    row), and the top tokens probe it with four broadcast bucket
    lookups.  Every arithmetic step is exact integers, so the curve
    hash-matches the DuckDB oracle."""
    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", md5_int(F.col("token")))
        .localCheckpoint()
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(topn)
        .localCheckpoint()
    )

    def bucket(j: int, w: int) -> F.Column:
        return (
            (F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j])) % MINHASH_P
        ) % w

    # ONE (width, j, bucket) sketch aggregate + ONE probe join for all
    # widths x hash rows (r08: was one groupBy + broadcast join per
    # (width, j) — 16 aggregates of the same checkpointed count table;
    # guide §2.4).  Every (token, width, j) probe row matches exactly
    # one sketch bucket (the token's own count is in it), so MIN over j
    # equals the old LEAST of the four joined totals.
    wj_entries = F.array(
        *[
            F.struct(
                F.lit(w).alias("width"),
                F.lit(j).alias("j"),
                bucket(j, w).alias("b"),
            )
            for w in CMS_WIDTHS
            for j in range(CMS_D)
        ]
    )
    sketch = (
        counts.select(F.explode(wj_entries).alias("e"), "cnt")
        .groupBy("e.width", "e.j", "e.b")
        .agg(F.sum("cnt").alias("tot"))
    )
    probe = top.select("token", "cnt", F.explode(wj_entries).alias("e")).select(
        "token", "cnt", "e.width", "e.j", "e.b"
    )
    est = (
        probe.join(F.broadcast(sketch), ["width", "j", "b"])
        .groupBy("width", "token", "cnt")
        .agg(F.min("tot").alias("_est"))
    )
    return (
        est.select("width", (F.col("_est") - F.col("cnt")).alias("_over"))
        .groupBy("width")
        .agg(
            F.round(F.avg("_over"), 6).alias("mean_overcount"),
            F.max("_over").cast("long").alias("max_overcount"),
            F.round(
                F.avg(F.when(F.col("_over") == 0, 1.0).otherwise(0.0)), 6
            ).alias("exact_share"),
        )
    )


MG_K = 120  # Misra-Gries counter budget: guarantees items with f > n/k


def misra_gries_heavy_users(events: DataFrame, k: int = MG_K) -> DataFrame:
    """MISRA-GRIES guaranteed heavy hitters over user_id — the
    DETERMINISTIC-GUARANTEE member of the sketch family: unlike
    Count-Min (probabilistic overestimates) the MG summary provably
    contains EVERY item with frequency > n/k using k-1 counters, and
    the two-pass shape (candidates -> exact recount of candidates
    only) makes the final answer exact and partitioning-independent.

    Pass 1: a mergeable MG summary per partition (mapInArrow, batch
    counts merged with the subtract-k-th-largest rule of Agarwal et
    al.'s mergeable summaries) — bounded memory however large the
    partition.  Pass 2: semi-join the candidate set (tiny) back and
    count exactly; keep f*k > n.  The candidate SET may vary with
    partitioning, but the thresholded output cannot — which is what
    the DuckDB oracle (plain GROUP BY ... HAVING) checks."""
    import pyarrow.compute as pc

    from ..sources.loaders import arrow_schema, arrow_table

    cap = k - 1
    schema = "user_id long"
    out = arrow_schema(schema)

    def mg(batches):
        counters: dict = {}
        for batch in batches:
            vc = pc.value_counts(batch.column("user_id").drop_null()).to_pylist()
            for d in vc:
                counters[d["values"]] = counters.get(d["values"], 0) + d["counts"]
            if len(counters) > cap:
                kth = sorted(counters.values(), reverse=True)[cap]
                counters = {u: c - kth for u, c in counters.items() if c > kth}
        yield from arrow_table([list(counters)], out).to_batches()

    candidates = events.select("user_id").mapInArrow(mg, schema).distinct()
    tot = F.broadcast(events.agg(F.count(F.lit(1)).cast("long").alias("n")))
    exact = (
        events.join(candidates, "user_id", "leftsemi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return (
        exact.crossJoin(tot)
        .filter(F.col("n_events") * F.lit(k) > F.col("n"))
        .select(
            "user_id",
            "n_events",
            (
                F.round(
                    F.col("n_events").cast("double") / F.col("n").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("share"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    )
