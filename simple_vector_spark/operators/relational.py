"""Relational operators: aggregation, joins, windows, set ops, as-of.

The reference has NO joins/aggregations/windows (SURVEY.md §2.2) — its
only relational act is projecting stored JSON back (O21).  These are
the capability extensions the Spark engine gets "for free" from
Catalyst, declared as first-class queries so the engine covers what a
100-TB training-data pipeline needs around the vector core.

Determinism: monetary aggregates are computed in DECIMAL (exact,
order-insensitive — double summation order differs between Spark's
partial aggregates and DuckDB), then cast to DOUBLE and ROUNDed for a
stable cross-engine hash.  Rounding doubles to >=1 decimal is tie-free
(odd multiples of 5e-k are not binary-representable).

Scale notes per operator are in the docstrings; the common themes:
dimension tables broadcast, fact tables aggregate map-side first
(partial aggregation), windows shuffle once by their partition key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.loaders import local_frame
from .ranking import grouped_ntile, ranked_global

# Exact money type: double -> DECIMAL(15,2)/(8,6) casts are tie-free
# (doubles never land exactly on half-cent boundaries).
DEC_PRICE = "decimal(15,2)"
DEC_RATE = "decimal(8,6)"


def _dec(col: str, typ: str = DEC_PRICE) -> Column:
    return F.col(col).cast(typ)


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: scan -> pushed-down date filter -> partial agg ->
    final agg.  One shuffle on (l_returnflag, l_linestatus); all money
    math in DECIMAL so partial-agg order cannot perturb results."""
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE))
    charge = disc_price * (F.lit(1).cast(DEC_RATE) + _dec("l_tax", DEC_RATE))
    agg = (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("_sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("_sum_base"),
            F.sum(disc_price).alias("_sum_disc"),
            F.sum(charge).alias("_sum_charge"),
            F.count("*").alias("count_order"),
        )
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("_sum_qty").cast("double"), 2).alias("sum_qty"),
        F.round(F.col("_sum_base").cast("double"), 2).alias("sum_base_price"),
        F.round(F.col("_sum_disc").cast("double"), 4).alias("sum_disc_price"),
        F.round(F.col("_sum_charge").cast("double"), 4).alias("sum_charge"),
        F.round(F.col("_sum_qty").cast("double") / n, 6).alias("avg_qty"),
        F.round(F.col("_sum_base").cast("double") / n, 6).alias("avg_price"),
        n,
    )


def revenue_by_nation(
    customer: DataFrame, orders: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Star join: fact (orders) joined through customer to broadcast
    dims.  Catalyst/AQE picks broadcast-hash for nation/region
    (25/5 rows); customer<->orders is the only real shuffle, and at
    scale both sides would be bucketed by custkey to remove it."""
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def rollup_revenue(
    customer: DataFrame, orders: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Grouping-set rollup (region -> nation -> grand total) — the
    hierarchy the reference cannot express at all."""
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


def cube_revenue(
    customer: DataFrame, orders: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Full CUBE over (region, order status): every grouping-set
    combination in one pass (Spark expands to a union of aggregates
    over one shuffle)."""
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.cube("r_name", "o_orderstatus").agg(
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


def order_value_percentiles(orders: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of order value per priority
    class (SQL PERCENTILE_CONT semantics — matches DuckDB
    quantile_cont).  Exact percentiles need the group sorted; at
    100 TB switch to approx_percentile (t-digest sketch, map-side
    mergeable, no sort) and accept the documented error bound."""
    return orders.groupBy("o_orderpriority").agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(q)), 4).alias(f"p{int(q*100)}")
            for q in (0.25, 0.5, 0.75, 0.95)
        ],
        F.count("*").alias("n"),
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k window — the same rank-limit pattern the k-NN
    join uses; WindowGroupLimit keeps the shuffle at k rows/key/task."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1997-06-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: double-filtered 3-way join (customer segment,
    order date, ship date), revenue agg per order, global top-k.
    Plan: both date filters push to the fact scans; the customer
    filter shrinks the dim before the join; the final top-k is
    TakeOrderedAndProject (no full sort).  Revenue in DECIMAL."""
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE)
    )
    return (
        lineitem.filter(F.col("l_shipdate") > F.lit(cutoff))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit(cutoff)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == segment)),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(k)
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Set difference (EXCEPT): distinct custkeys minus order custkeys.
    Compiles to a left-anti aggregate; at scale prefer the anti-join
    form directly (identical result, no distinct shuffle of both sides)."""
    return customer.select(F.col("c_custkey").alias("custkey")).exceptAll(
        orders.select(F.col("o_custkey").alias("custkey"))
    ).distinct()


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Set intersection (INTERSECT DISTINCT)."""
    return customer.select(F.col("c_custkey").alias("custkey")).intersect(
        orders.select(F.col("o_custkey").alias("custkey"))
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    year_start: str = "1996-01-01",
    year_end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join — revenue from orders where the
    customer and the line's supplier share a nation, one region, one
    year.  Plan: the region filter prunes nation, nation prunes
    supplier/customer, and all four dims broadcast — so the only
    shuffle is lineitem⋈orders on orderkey (two fact tables, the one
    genuinely unavoidable shuffle).  The same-nation constraint rides
    the supplier join as an extra equi-key, never a post-filter over a
    wider join."""
    nations = F.broadcast(
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    cust = F.broadcast(
        customer.join(
            nations, F.col("c_nationkey") == F.col("n_nationkey")
        ).select("c_custkey", "c_nationkey")
    )
    supp = F.broadcast(
        supplier.join(
            nations, F.col("s_nationkey") == F.col("n_nationkey")
        ).select("s_suppkey", "s_nationkey", "n_name")
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(year_start))
        & (F.col("o_orderdate") < F.lit(year_end))
    ).select("o_orderkey", "o_custkey")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE)
    )
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# Spark's shuffle sends a row to pmod(murmur3(join keys), partitions):
# Murmur3_x86_32 with seed 42, chained over the keys in order.  These
# are its integer steps, for placing salts (see salted_join).
_M32 = (1 << 32) - 1


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl32(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    return h1 ^ (h1 >> 16)


def _salt_partition(w: int, n_part: int) -> int:
    """Shuffle partition of a (key, salt) row whose bigint salt has a
    zero high word and a low word that murmur3's k1-mix turns into
    ``seed ^ w`` (seed = the key's hash): the seed cancels, whatever
    the key."""
    h = _fmix(_mix_h1(_mix_h1(0, w), 0), 8)
    return (h - ((h >> 31) << 32)) % n_part


def _mul32(name: str, m: int) -> Column:
    """(column * m) mod 2^32 for a column in [0, 2^32), in 16-bit
    halves of m so no bigint product overflows (ANSI raises)."""
    x = F.col(name)
    return (x * (m & 0xFFFF) + F.shiftleft((x * (m >> 16)).bitwiseAND(F.lit(0xFFFF)), 16)
            ).bitwiseAND(F.lit(_M32))


def salted_join(
    big: DataFrame, small: DataFrame, on: str, n_salt: int = 8
) -> DataFrame:
    """Skew-buster inner equi-join: each big-side row draws a salt index
    i (row-hash mod n_salt); the small side is replicated once per i;
    the join key is (key, salt(key, i)).  A hot key's rows then spread
    over n_salt reducers instead of one.  Use when AQE's skew split
    isn't enough (single-key skew inside one partition); identical
    results to the plain join (asserted in tests).

    The salts are placed, not hashed at random: salt(key, i) inverts
    the last murmur3 step so that (key, salt) lands on partition
    (pmod(hash(key), P) + i) mod P of the session's P shuffle
    partitions.  Every key's n_salt slices then cover n_salt
    consecutive partitions, round-robin, so a hot key's largest slice
    is ceil(n_salt / P) / n_salt of it."""
    n_part = int(big.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_rank = -(-n_salt // n_part)  # salts per partition for one key
    ws: list[list[int]] = [[] for _ in range(n_part)]
    w = 0
    while min(map(len, ws)) < n_rank:
        ws[_salt_partition(w, n_part)].append(w)
        w += 1
    table = F.array(*[F.lit(w) for per_part in ws for w in per_part[:n_rank]])
    # the join hashes both keys in their common type, as a union widens
    key_type = big.select(on).union(small.select(on)).schema[0].dataType

    def salted(df: DataFrame) -> DataFrame:  # "__salt" holds i on entry
        i, seed = F.col("__salt"), F.hash(F.col(on).cast(key_type))
        slot = F.pmod(F.pmod(seed, F.lit(n_part)) + i, F.lit(n_part)) * n_rank
        w = F.element_at(table, (slot + F.floor(i / n_part) + 1).cast("int"))
        # low word = the inverse of murmur3's k1-mix applied to seed ^ w
        df = df.withColumn(
            "__salt", F.pmod(seed.cast("bigint"), F.lit(1 << 32)).bitwiseXOR(w))
        df = df.withColumn("__salt", _mul32("__salt", pow(0x1B873593, -1, 1 << 32)))
        df = df.withColumn("__salt", F.shiftright("__salt", 15).bitwiseOR(
            F.shiftleft("__salt", 17).bitwiseAND(F.lit(_M32))))
        # coalesce: a non-null salt gets no inferred isnotnull filter,
        # which would be pushed below these steps and inline them all
        return df.withColumn("__salt", F.coalesce(
            _mul32("__salt", pow(0xCC9E2D51, -1, 1 << 32)), F.lit(0)))

    salted_big = salted(
        big.withColumn("__salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salt))))
    replicated = salted(
        small.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))))
    return salted_big.join(replicated, [on, "__salt"]).drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    ts_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Keyed as-of join: each left row gets the payload of the latest
    right row with ``right.ts <= left.ts`` within the same ``by`` keys
    (Spark has no native ASOF; DuckDB does — the oracle).

    Implementation: tag + union + per-key running ``last(ignoreNulls)``
    window ordered by (ts, tag) so a right row at the exact same
    timestamp is visible (>= semantics).  ONE shuffle by key — never a
    range cross-join — so it scales with the key cardinality; skewed
    keys fall to AQE.  Reference analog: none (WAL replay O17 is the
    closest temporal concept).
    """
    lcols = left.columns
    tagged_r = right.select(
        *by,
        F.col(ts_col),
        F.lit(0).alias("__tag"),
        *[F.col(c) for c in payload_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in by and c != ts_col],
    )
    tagged_l = left.select(
        *by,
        F.col(ts_col),
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in payload_cols],
        *[F.col(c) for c in lcols if c not in by and c != ts_col],
    )
    u = tagged_r.unionByName(tagged_l)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(ts_col).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        "*",
        *[F.last(c, ignorenulls=True).over(w).alias(f"__asof_{c}") for c in payload_cols],
    )
    return (
        filled.filter(F.col("__tag") == 1)
        .select(
            *by,
            F.col(ts_col),
            *[F.col(c) for c in lcols if c not in by and c != ts_col],
            *[F.col(f"__asof_{c}").alias(c) for c in payload_cols],
        )
    )


def orders_with_returns(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape (EXISTS decorrelated to LEFT SEMI): count orders
    per priority having at least one returned line.  The semi join
    never materializes the match — one probe bit per order row, and
    the returnflag filter pushes to the lineitem scan."""
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )


def orders_without_returns(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """NOT EXISTS as LEFT ANTI over the same shape."""
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )


def orders_above_customer_avg(orders: DataFrame) -> DataFrame:
    """Correlated scalar subquery (order > its customer's average
    order value), decorrelated to ONE window pass: per-custkey sum and
    count ride a window, and the comparison is the exact integer-ish
    form price * n > sum (DECIMAL both sides) — no float average whose
    last-ulp could flip boundary rows between engines."""
    w = Window.partitionBy("o_custkey")
    price = _dec("o_totalprice")
    return (
        orders.withColumn("__sum", F.sum(price).over(w))
        .withColumn("__n", F.count("*").over(w))
        .filter(price * F.col("__n") > F.col("__sum"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
        )
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation — promo revenue as a
    share of total revenue for one ship-month.  sum(CASE WHEN) and the
    total ride the SAME aggregate pass (one scan, one shuffle of two
    partial sums); part broadcasts.  Share is exact-DECIMAL sums
    divided in f64 and rounded."""
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE)
    )
    # no otherwise: non-promo rows contribute NULL, which sum() skips —
    # same as CASE WHEN ... ELSE 0 but keeps the DECIMAL type of rev
    promo = F.when(F.col("p_type").startswith("PROMO"), rev)
    joined = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.round(
            (
                F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            )
            * 100.0,
            6,
        ).alias("promo_share_pct"),
        F.round(F.sum(rev).cast("double"), 4).alias("total_revenue"),
    )


def order_value_quartiles(orders: DataFrame) -> DataFrame:
    """ntile(4) bucketing per priority class: quartile membership plus
    per-quartile aggregates — the distribution-audit window shape
    (equal-count buckets, unlike percentile cutpoints).

    Scale: 5 priority classes means ``ntile().over(partitionBy(prio))``
    would funnel |orders|/5 rows through single tasks; the two-phase
    ranked ntile keeps every task partition-sized."""
    return (
        grouped_ntile(
            orders,
            [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
            4,
            "q",
            group_cols=["o_orderpriority"],
        )
        .groupBy("o_orderpriority", "q")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("sum_value"),
        )
    )


def order_count_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N orders
    (including N=0).  Aggregate orders BEFORE the join — the left join
    then moves one pre-counted row per customer instead of one row per
    order, and the second aggregation (on the tiny c_count domain)
    is nearly free.  At 100 TB: one shuffle of orders by custkey, one
    shuffle of customer by custkey, final agg over <100 groups."""
    per_cust = orders.groupBy("o_custkey").agg(F.count("*").alias("_n"))
    counted = customer.join(
        per_cust, customer["c_custkey"] == per_cust["o_custkey"], "left"
    ).select(F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("c_count"))
    return counted.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


def large_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, qty_threshold: int = 300
) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with customer attribution.  The HAVING-filtered
    aggregate acts as a semi-join driver: lineitem aggregates by
    orderkey map-side first, the survivors (a tiny set) then join to
    orders and broadcast-join to customer.  Quantity summed in DECIMAL
    so the threshold comparison is exact in both engines."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_sumq"))
        .filter(F.col("_sumq") > F.lit(qty_threshold).cast(DEC_PRICE))
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .select(
            F.col("c_custkey").cast("bigint").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.round(_dec("o_totalprice").cast("double"), 2).alias("totalprice"),
            F.round(F.col("_sumq").cast("double"), 2).alias("sum_qty"),
        )
    )


def disjunctive_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides.  Catalyst extracts the common `l_partkey =
    p_partkey` equi-condition, broadcasts part, and pushes the
    band-specific conjuncts below the join where possible; the
    disjunction itself evaluates post-join inside codegen.  Exercises
    complex-predicate planning the simple eq/ne reference filter
    (src/filter_index.cc:56-81) never faces."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.round(F.sum(rev).cast("double"), 4).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, lapsed_cutoff: str = "2001-01-01"
) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    RECENT orders (none since `lapsed_cutoff` — every fixture customer
    has some order, so the recency predicate keeps the anti-join
    non-degenerate), aggregated per nation.  The global average is a
    broadcast scalar; the comparison is done multiplication-only in
    DECIMAL (bal * n_customers > total_balance) so no cross-engine
    division rounding can flip a boundary row.  The date filter pushes
    into the orders scan BEFORE the anti-join shuffle."""
    stats = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("_total"),
        F.count("*").alias("_n"),
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit(lapsed_cutoff))
    rich = (
        customer.crossJoin(F.broadcast(stats))
        .filter(_dec("c_acctbal") * F.col("_n") > F.col("_total"))
        .join(recent, customer["c_custkey"] == recent["o_custkey"], "left_anti")
    )
    return rich.groupBy(F.col("c_nationkey").cast("int").alias("nationkey")).agg(
        F.count("*").cast("bigint").alias("numcust"),
        F.round(F.sum(_dec("c_acctbal")).cast("double"), 2).alias("totacctbal"),
    )


def cheapest_supplier_parts(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q2 shape adapted to the fixture schema (no partsupp
    table): for every part, find the supplier with the lowest observed
    unit price (extendedprice/quantity), then count per supplier how
    many parts they win.  Correlated-min becomes one window: rank rows
    per partkey by (rounded unit cost, suppkey) and keep rank 1 — a
    single shuffle by partkey, no self-join.  Unit cost is one IEEE
    f64 division (bit-identical across engines), ROUNDed before
    ranking so ulp noise cannot reorder."""
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_cost").asc(), F.col("l_suppkey").asc()
    )
    winners = (
        lineitem.select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit_cost"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        winners.groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_parts_won"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("suppname"),
            "n_parts_won",
        )
    )


def flag_corr_stats(lineitem: DataFrame) -> DataFrame:
    """Distributed two-pass-free correlation/stddev per returnflag,
    computed from DECIMAL power sums (n, Σx, Σy, Σx², Σy², Σxy — all
    exact, order-insensitive) with the closed-form formulas applied in
    f64 only at the very end.  The naive F.corr/F.stddev aggregate
    over doubles is partial-aggregation-order dependent and cannot
    hash-match a single-threaded oracle; power sums in DECIMAL make
    the distributed result bit-stable at any partition count."""
    x = _dec("l_quantity")  # ~1..50, 2 decimals
    y = _dec("l_extendedprice")
    sums = lineitem.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum((x * x).cast("decimal(25,4)")).alias("_sxx"),
        F.sum((y * y).cast("decimal(30,4)")).alias("_syy"),
        F.sum((x * y).cast("decimal(28,4)")).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy, sxy = (
        F.col("_sxx").cast("double"),
        F.col("_syy").cast("double"),
        F.col("_sxy").cast("double"),
    )
    var_x = (n * sxx - sx * sx) / (n * (n - 1))
    var_y = (n * syy - sy * sy) / (n * (n - 1))
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return sums.select(
        "l_returnflag",
        "n",
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(F.sqrt(var_x), 6).alias("stddev_qty"),
        F.round(F.sqrt(var_y), 4).alias("stddev_price"),
    )


def nation_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year and
    direction.  The two nation-restricted dims (supplier side, customer
    side via orders) both broadcast after their nation filter prunes
    them to ~1/25 — the only shuffle is lineitem⋈orders on orderkey.
    The cross-nation disjunction is applied as a post-join filter over
    the two broadcast-joined nation names (2-row dim, free)."""
    nn = nation.filter(F.col("n_name").isin([nation_a, nation_b])).select(
        "n_nationkey", "n_name"
    )
    supp = F.broadcast(
        supplier.join(F.broadcast(nn), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        customer.join(F.broadcast(nn), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE)
    )
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate")).cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_start: str = "1995-10-01",
    date_end: str = "1996-01-01",
    topn: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer for one
    quarter, top-N.  Order of joins: date-filtered orders ⋈ returned
    lineitems first (the two fact-side filters multiply), THEN the
    customer/nation dims broadcast onto the small result.  Top-N is a
    TakeOrderedAndProject on the aggregated (per-customer) rows."""
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE)
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_start))
        & (F.col("o_orderdate") < F.lit(date_end))
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("_rev"))
    )
    return (
        per_cust.join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("custname"),
            F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
            F.round(_dec("c_acctbal", "decimal(12,2)").cast("double"), 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(topn)
    )


def parts_supplier_counts(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q16 shape on the fixture schema (observed part-supplier
    relationships stand in for partsupp): distinct supplier count per
    (brand, type, size), excluding flagged suppliers (negative balance
    stands in for the complaints NOT IN subquery).  The exclusion list
    is a broadcast anti-join; the distinct ride the aggregation
    (count_distinct), no pre-shuffle dedup."""
    bad = F.broadcast(
        supplier.filter(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("bad_key"))
    )
    ps = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(bad, F.col("l_suppkey") == F.col("bad_key"), "left_anti")
    )
    return (
        ps.join(F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


def sole_blame_suppliers(
    lineitem: DataFrame, supplier: DataFrame, topn: int = 20
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY one to fail
    (l_returnflag = 'R' stands in for late receipt) in a
    multi-supplier order.  The classic EXISTS / NOT EXISTS pair
    decorrelates into ONE per-order aggregate — n_supps > 1 AND
    n_fail_supps = 1 — so the fact table is shuffled once on orderkey
    instead of three correlated self-join passes."""
    per_order = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("_n_supps"),
            F.countDistinct(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("_n_fail"),
        )
        .filter((F.col("_n_supps") > 1) & (F.col("_n_fail") == 1))
        .select("l_orderkey")
    )
    blamed = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(per_order, "l_orderkey")
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("suppname"), "numwait")
        .orderBy(F.col("numwait").desc(), F.col("suppkey").asc())
        .limit(topn)
    )


# ---------------------------------------------------------------------------
# Wave 9: the remaining TPC-H shapes (Q6/Q8/Q9/Q11/Q12/Q15/Q17/Q20),
# adapted to the fixture schema (no partsupp, no shipmode/commitdate
# columns — observed lineitem relationships stand in; the PLAN shape is
# what each query exercises).
# ---------------------------------------------------------------------------
def forecast_revenue_change(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6: pure scan-side conditional revenue — every predicate
    (date range, discount band, quantity cap) pushes to the Parquet
    scan, then one global DECIMAL sum.  At 100 TB this is the query
    that proves min/max row-group pruning: with lineitem sorted or
    partitioned by ship date, the scan touches ~1/7 of the files."""
    rev = _dec("l_extendedprice") * _dec("l_discount", DEC_RATE)
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & _dec("l_discount", DEC_RATE).between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
    )


def nation_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    cust_region: str = "ASIA",
    ptype: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8: target nation's share of PROMO revenue inside one
    customer region, by order year.  Two nation roles (supplier side
    drives the numerator, customer side is the region filter); part,
    supplier, customer, nation, region all broadcast — the only
    shuffle is lineitem<->orders, and the share is a conditional
    aggregate over one pass, never two scans."""
    cust_nations = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == cust_region)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _dec("l_extendedprice") * (F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE))
    joined = (
        lineitem.join(F.broadcast(part.filter(F.col("p_type") == ptype).select("p_partkey")),
                      F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        ), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year(F.col("o_orderdate")).cast("int").alias("o_year"),
            vol.alias("vol"),
            F.col("supp_nation"),
        )
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == target_nation, F.col("vol"))
              .otherwise(F.lit(0).cast(DEC_PRICE))).alias("_num"),
        F.sum("vol").alias("_den"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("_num").cast("double") / F.col("_den").cast("double"), 6).alias("mkt_share"),
    )


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    name_substr: str = "widget",
) -> DataFrame:
    """TPC-H Q9 shape: per-(supplier nation, order year) profit on a
    part-name substring slice.  No partsupp in the fixture, so cost =
    p_retailprice * l_quantity stands in for ps_supplycost — the plan
    shape (name-filtered part broadcast into the fact, orders joined
    only for the year, nation broadcast last) is unchanged.  All money
    math DECIMAL-exact before the final cast."""
    amount = (
        _dec("l_extendedprice") * (F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE))
        - _dec("p_retailprice") * _dec("l_quantity", "decimal(12,2)")
    )
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_name").contains(name_substr))
                        .select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year(F.col("o_orderdate")).cast("int").alias("o_year"))
        .agg(F.round(F.sum(amount).cast("double"), 4).alias("profit"))
    )


def value_concentration(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue share exceeds the mean
    share (val * n_parts > total — scale-free, unlike Q11's literal
    0.0001 fraction, so the query stays non-trivial at every SF).  The
    scalar subquery is one extra global agg of the same scan; the
    threshold compare stays in DECIMAL/BIGINT so no double boundary
    can flip a row between engines."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE))
    per_part = lineitem.groupBy("l_partkey").agg(F.sum(rev).alias("_val"))
    total = lineitem.agg(
        F.sum(rev).alias("_total"),
        F.countDistinct("l_partkey").alias("_n"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_val") * F.col("_n") > F.col("_total"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("_val").cast("double"), 4).alias("value"),
        )
    )


def priority_line_counts(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape: per line-status (shipmode stand-in) counts of
    high- vs low-priority orders shipped in 1996 — the
    join-then-conditional-count pattern.  Orders carries only the two
    needed columns into the shuffle."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .select("l_orderkey", "l_linestatus")
        .join(orders.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


def top_revenue_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q15: quarterly revenue per supplier, keep the max-revenue
    supplier(s).  The revenue view aggregates once; the MAX scalar
    subquery becomes an empty-frame window max over that (small,
    per-supplier) aggregate — no second scan of the fact, and the
    DECIMAL equality is exact."""
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (F.lit(1).cast(DEC_RATE) - _dec("l_discount", DEC_RATE))).alias("_rev"))
    )
    # broadcast the 1-row global max instead of a full-frame window
    # (Window.partitionBy() funnels the supplier aggregate through one
    # task; the agg+crossJoin form stays distributed at any |suppliers|)
    mx = rev.agg(F.max("_rev").alias("_mx"))
    best = rev.crossJoin(F.broadcast(mx)).filter(F.col("_rev") == F.col("_mx"))
    return (
        best.join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                  F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("suppname"),
            F.round(F.col("_rev").cast("double"), 4).alias("total_rev"),
        )
    )


def small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, ptype: str = "PROMO"
) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue forfeited on below-one-fifth-of-
    average-quantity lines of one part type.  The correlated AVG
    decorrelates to a per-part aggregate re-joined to the fact; the
    0.2*avg compare is cross-multiplied (qty * 5 * cnt < sum_qty) so
    it stays in exact DECIMAL/BIGINT arithmetic."""
    qty = _dec("l_quantity", "decimal(12,2)")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(qty).alias("_qsum"), F.count("*").alias("_qcnt")
    )
    return (
        lineitem.join(F.broadcast(part.filter(F.col("p_type") == ptype).select("p_partkey")),
                      F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pp_key"))
        .filter(qty * 5 * F.col("_qcnt") < F.col("_qsum"))
        .agg(F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 4).alias("avg_yearly"))
    )


def promo_heavy_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nations: tuple = ("NATION_3", "NATION_8", "NATION_12", "NATION_13", "NATION_15"),
    min_qty: int = 400,
) -> DataFrame:
    """TPC-H Q20 shape: suppliers in a nation list who moved more than
    a threshold quantity of PROMO parts in 1996 — the nested-IN chain
    (part IN ... -> supplier IN ...) lowered to broadcast semi-joins:
    promo part keys broadcast into the fact, the qualifying supplier
    set (tiny after HAVING) broadcast into supplier."""
    promo_keys = F.broadcast(
        part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    )
    qualifying = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(promo_keys, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity", "decimal(12,2)")).alias("_q"))
        .filter(F.col("_q") > min_qty)
        .select("l_suppkey")
    )
    nat = F.broadcast(
        nation.filter(F.col("n_name").isin(*nations))
        .select(F.col("n_nationkey").alias("nk"), "n_name")
    )
    return (
        supplier.join(F.broadcast(qualifying),
                      F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(nat, F.col("s_nationkey") == F.col("nk"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("suppname"),
            F.col("n_name").alias("nation"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 13: explicit set operations and rank-distribution windows.
# ---------------------------------------------------------------------------
def retained_customers(orders: DataFrame, y1: int = 1995, y2: int = 1996) -> DataFrame:
    """INTERSECT shape: customers ordering in BOTH years.  Spark lowers
    intersect to a distinct + left-semi hash join — both sides shuffle
    once on custkey; at scale the year filters push to the scans so
    only two year-slices move."""
    a = orders.filter(F.year("o_orderdate") == y1).select(F.col("o_custkey").alias("custkey"))
    b = orders.filter(F.year("o_orderdate") == y2).select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


def churned_customers(orders: DataFrame, y1: int = 1995, y2: int = 1996) -> DataFrame:
    """EXCEPT shape: customers active in y1 but gone in y2 (set
    semantics — one row per churned customer)."""
    a = orders.filter(F.year("o_orderdate") == y1).select(F.col("o_custkey").alias("custkey"))
    b = orders.filter(F.year("o_orderdate") == y2).select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)


def order_value_distribution(orders: DataFrame, year: int = 1996) -> DataFrame:
    """Rank-distribution windows (percent_rank + cume_dist) of order
    value inside each priority class for one year — one shuffle on the
    partition key, rank math entirely JVM-side.  Ties share a
    percent_rank and take the greatest cume_dist, identical in Spark
    and the SQL oracle by definition.

    Scale: only 5 priority classes, so windowing by priority alone
    funnels |orders|/5 rows per task.  Instead: two-phase global
    row_number per class, then percent_rank = (min(i)-1)/(n-1) and
    cume_dist = max(i)/n over the tie group (partitioned by
    (priority, price) — thousands of balanced groups)."""
    ranked = ranked_global(
        orders.filter(F.year("o_orderdate") == year),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        group_cols=["o_orderpriority"],
        rank_name="_i",
        total_name="_n",
    )
    tie = Window.partitionBy("o_orderpriority", "o_totalprice")
    n = F.col("_n").cast("double")
    pct = F.when(
        F.col("_n") > 1,
        (F.min("_i").over(tie).cast("double") - 1.0) / (n - 1.0),
    ).otherwise(F.lit(0.0))
    cume = F.max("_i").over(tie).cast("double") / n
    return ranked.select(
        F.col("o_orderkey").alias("orderkey"),
        "o_orderpriority",
        F.round(pct, 6).alias("pct_rank"),
        F.round(cume, 6).alias("cume"),
    )


def revenue_pareto_deciles(orders: DataFrame) -> DataFrame:
    """Revenue-concentration (Pareto) audit: customers bucketed into
    spend deciles, each decile's share of total revenue — the "does 20%
    of the base drive 80% of revenue" curation statistic, and the skew
    diagnostic that decides whether customer-keyed joins need salting.

    Plan: one shuffle groups orders by customer (DECIMAL-exact spend);
    the decile comes from the two-phase ranked ntile (range-partition
    on spend, local rank + broadcast offsets — |customers| grows with
    the data, so no global-sort window), and the final agg is 10
    groups.  Ordering ties are impossible: spend is exact DECIMAL
    with custkey tiebreak.  Shares are single f64 divisions of exact
    DECIMAL sums, ROUND 6."""
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("spend")
    )
    tiled = grouped_ntile(
        spend,
        [F.col("spend").desc(), F.col("o_custkey").asc()],
        10,
        "decile",
    )
    total = tiled.agg(F.sum("spend").alias("total"))
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("spend").alias("revenue"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            F.col("revenue").cast(DEC_PRICE).alias("revenue"),
            F.round(
                F.col("revenue").cast("double") / F.col("total").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


def join_size_estimate(
    orders: DataFrame, lineitem: DataFrame, sample_mod: int = 10
) -> DataFrame:
    """Planner-statistics audit: the exact row count of the
    orders-lineitem equi-join computed from per-key count products
    (sum over keys of n_orders * n_lines — never materializing the
    join), next to a key-sampled estimate: the same sum over the
    deterministic 1/``sample_mod`` md5 key sample, scaled back up.
    This is the cardinality-estimation primitive a planner runs before
    choosing join strategy/ordering on a 100-TB fact — and the audit
    that tells you when sampled stats have drifted too far to trust.

    Plan: two per-key count aggs (each one shuffle on the key), a
    key-keyed join of the two (tiny vs the fact), one global fold.
    The sample gate is a pure md5 predicate — reproducible across
    engines and repartitionings.  Everything integer-exact except the
    final ratio."""
    from ..functions.text import md5_int

    ok = orders.groupBy("o_orderkey").agg(F.count("*").alias("n_o"))
    lk = lineitem.groupBy("l_orderkey").agg(F.count("*").alias("n_l"))
    per_key = ok.join(lk, ok.o_orderkey == lk.l_orderkey).select(
        F.col("o_orderkey").alias("k"),
        (F.col("n_o") * F.col("n_l")).cast("bigint").alias("prod"),
    )
    gate = md5_int(F.col("k").cast("string")) % sample_mod == 0
    return per_key.agg(
        F.sum("prod").cast("bigint").alias("exact_rows"),
        (F.sum(F.when(gate, F.col("prod")).otherwise(F.lit(0))) * sample_mod)
        .cast("bigint")
        .alias("est_rows"),
    ).select(
        "exact_rows",
        "est_rows",
        F.round(
            F.abs(F.col("est_rows") - F.col("exact_rows"))
            / F.col("exact_rows").cast("double"),
            6,
        ).alias("rel_error"),
    )


def monthly_seasonality(orders: DataFrame) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's share of
    total revenue against a uniform 1/12 — the partition-sizing /
    capacity-planning statistic for time-partitioned tables.  One
    shuffle on month (12 groups), DECIMAL-exact sums, single f64
    division per output row."""
    m = F.month(F.col("o_orderdate"))
    per_month = orders.groupBy(m.alias("month")).agg(
        F.sum(_dec("o_totalprice")).alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    total = per_month.agg(F.sum("revenue").alias("total"))
    return per_month.crossJoin(F.broadcast(total)).select(
        F.col("month").cast("int").alias("month"),
        "n_orders",
        F.col("revenue").cast(DEC_PRICE).alias("revenue"),
        F.round(
            F.col("revenue").cast("double") / F.col("total").cast("double") * 12.0,
            6,
        ).alias("seasonality_index"),
    )


def rfm_segments(orders: DataFrame, asof: str = "1997-01-01") -> DataFrame:
    """RFM segmentation: per-customer Recency (days from last order to
    ``asof``), Frequency (order count), Monetary (DECIMAL-exact spend),
    each quartiled with ntile(4), then the population of every (r,f,m)
    cell — the standard behavioral-cohort grid, and a three-way
    quantile-bucketing pattern (each ntile is a two-phase ranked
    bucket of the per-customer aggregate — |customers| grows with the
    data, so none of the three rides a global-sort window; the fact
    table is scanned once and the chained stages reuse the
    checkpointed aggregate).

    Determinism: every ntile orders on an exact value (int days, bigint
    count, DECIMAL spend) with custkey tiebreak."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(asof).cast("date"), F.max("o_orderdate").cast("date"))
        .cast("int")
        .alias("recency_days"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(_dec("o_totalprice")).alias("monetary"),
    )
    tiled = grouped_ntile(
        per_cust,
        [F.col("recency_days").asc(), F.col("o_custkey").asc()],
        4,
        "r",
    )
    tiled = grouped_ntile(
        tiled, [F.col("frequency").desc(), F.col("o_custkey").asc()], 4, "f"
    )
    tiled = grouped_ntile(
        tiled, [F.col("monetary").desc(), F.col("o_custkey").asc()], 4, "m"
    )
    return tiled.groupBy("r", "f", "m").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


# Static per-row byte-width estimates for the advisor: fixed per-column
# costs (8B numerics/timestamps, avg observed widths for strings/arrays)
# so both engines compute identical arithmetic.  On a production
# catalog these come from table statistics (ANALYZE) instead.
ROW_WIDTH_BYTES = {
    "lineitem": 100,
    "orders": 60,
    "events": 70,
    "documents": 330,
    "embeddings": 270,
}
TARGET_PARTITION_BYTES = 128 * 1024 * 1024


def shuffle_partition_advisor(tables: dict[str, DataFrame]) -> DataFrame:
    """Shuffle-partition sizing advisor: per table, estimated bytes
    (row count x static row width) and the partition count that hits
    the 128 MB target — the arithmetic behind setting
    spark.sql.shuffle.partitions / maxPartitionBytes per job instead
    of cluster-wide.  At 100 TB this is the difference between 200
    half-empty tasks and 800 right-sized ones.

    One COUNT(*) scan per table (parquet footer metadata in practice);
    all integer arithmetic."""
    out = None
    for name, df in tables.items():
        width = ROW_WIDTH_BYTES[name]
        row = df.agg(F.count("*").cast("bigint").alias("n_rows")).select(
            F.lit(name).alias("table"),
            "n_rows",
            (F.col("n_rows") * width).cast("bigint").alias("est_bytes"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil((F.col("n_rows") * width) / F.lit(float(TARGET_PARTITION_BYTES))).cast("bigint"),
            ).alias("advised_partitions"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def lineitem_measure_melt(lineitem: DataFrame) -> DataFrame:
    """Wide-to-long melt (UNPIVOT) of the four lineitem measures, then
    per-measure stats — the normalization step that turns a metrics-
    wide fact into a (measure, value) EAV stream for generic
    monitoring.  ``DataFrame.unpivot`` keeps the melt inside the scan
    stage (no join, no explode shuffle); the only exchange is the
    4-group aggregate.  Sums are DECIMAL-exact."""
    long = lineitem.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    val = F.col("v").cast("decimal(18,4)")
    return long.groupBy("measure").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(val).cast("decimal(25,4)").alias("total"),
        F.min(val).cast("decimal(18,4)").alias("min_v"),
        F.max(val).cast("decimal(18,4)").alias("max_v"),
    )


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Customer-cohort lifetime value: customers grouped by first-order
    year, revenue accumulated per (cohort, order year) cell — the LTV
    grid behind retention economics (the events-side sibling is
    events_cohort_retention).

    Plan: the cohort map is one groupBy on customer (min year); it
    joins back to orders on the same customer key — at 100 TB both
    shuffles share the o_custkey partitioning and AQE plans the map as
    the broadcast side when it fits.  Revenue DECIMAL-exact."""
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    return (
        orders.join(firsts, "o_custkey")
        .groupBy(
            F.col("cohort_year").cast("int").alias("cohort_year"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.sum(_dec("o_totalprice")).cast(DEC_PRICE).alias("revenue"),
        )
    )


def first_repeat_interval(orders: DataFrame) -> DataFrame:
    """Time-to-second-purchase: the day gap between each customer's
    first and second order, folded to corpus stats — the
    repeat-behavior KPI that prices acquisition.  One shuffle on
    customer for the rank window; the gap join is rank-1 x rank-2 on
    the same key (no extra exchange under AQE); integer day gaps make
    every aggregate exact except the final avg division."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    ranked = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 2)
    a = ranked.filter(F.col("rn") == 1).select("o_custkey", F.col("d").alias("d1"))
    b = ranked.filter(F.col("rn") == 2).select("o_custkey", F.col("d").alias("d2"))
    gaps = a.join(b, "o_custkey").select(
        F.datediff("d2", "d1").cast("long").alias("gap_days")
    )
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_repeat_customers"),
        F.min("gap_days").cast("bigint").alias("min_days"),
        F.max("gap_days").cast("bigint").alias("max_days"),
        F.round(F.sum("gap_days") / F.count("*").cast("double"), 6).alias("avg_days"),
    )


def priority_mix_drift(orders: DataFrame) -> DataFrame:
    """Label-distribution drift monitor: per-quarter order-priority mix
    shares next to the overall mix, with the deviation per cell — the
    check a training pipeline runs on every data drop before assuming
    the label distribution still matches what the model saw.  Two
    count aggs (quarter x priority, priority overall) joined on the
    priority key; shares are single f64 divisions of exact counts."""
    q = F.concat(
        F.year("o_orderdate").cast("string"),
        F.lit("-Q"),
        F.quarter("o_orderdate").cast("string"),
    )
    per = orders.groupBy(q.alias("quarter"), F.col("o_orderpriority")).agg(
        F.count("*").alias("n")
    )
    qt = per.groupBy("quarter").agg(F.sum("n").alias("qn"))
    overall = orders.groupBy("o_orderpriority").agg(F.count("*").alias("on_"))
    total = orders.agg(F.count("*").alias("tn"))
    share = F.col("n") / F.col("qn").cast("double")
    base = F.col("on_") / F.col("tn").cast("double")
    return (
        per.join(qt, "quarter")
        .join(F.broadcast(overall), "o_orderpriority")
        .crossJoin(F.broadcast(total))
        .select(
            "quarter",
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n"),
            F.round(share, 6).alias("share"),
            F.round(base, 6).alias("overall_share"),
            F.round(share - base, 6).alias("drift"),
        )
    )


def part_supplier_redundancy(lineitem: DataFrame) -> DataFrame:
    """Supply-redundancy histogram: how many parts are served by 1, 2,
    ... distinct suppliers (observed in the fact table) — the
    single-point-of-failure audit, and a two-level distinct-aggregation
    pattern: distinct pairs first (one shuffle), then two
    aggregate-of-aggregate folds that never touch the fact again."""
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    per_part = pairs.groupBy("l_partkey").agg(
        F.count("*").alias("n_suppliers")
    )
    return per_part.groupBy("n_suppliers").agg(
        F.count("*").cast("bigint").alias("n_parts")
    ).select(F.col("n_suppliers").cast("bigint").alias("n_suppliers"), "n_parts")


def spend_gini(orders: DataFrame) -> DataFrame:
    """Gini coefficient of customer spend — the single-number
    inequality summary behind the Pareto deciles (0 = uniform, ->1 =
    winner-take-all), computed with the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over spend ranked ascending.

    One customer agg, then the two-phase global rank of the
    per-customer table (never the fact — and never a single-partition
    sort: |customers| grows with the data), exact DECIMAL sums; ties
    contribute the same sum(i*x) under any within-tie order, so custkey
    tiebreaks keep it deterministic without affecting the value."""
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("spend")
    )
    ranked = ranked_global(
        spend,
        [F.col("spend").asc(), F.col("o_custkey").asc()],
        rank_name="i",
    ).select("spend", "i")
    agg = ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("spend").alias("_sx"),
        F.sum((F.col("i") * F.col("spend")).cast("decimal(30,2)")).alias("_six"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("_six").cast("double") / (n * F.col("_sx").cast("double"))
        - (n + 1.0) / n
    )
    return agg.select(
        "n_customers",
        F.col("_sx").cast(DEC_PRICE).alias("total_spend"),
        F.round(gini, 6).alias("gini"),
    )


def aov_trend(orders: DataFrame) -> DataFrame:
    """Average-order-value by month with month-over-month delta — the
    unit-economics trend line.  One 12ish-group agg off the scan, a
    lag window over the monthly aggregate only.  AOV = exact DECIMAL
    revenue / exact count, divided once in f64."""
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(_dec("o_totalprice")).alias("_rev"),
    )
    w = Window.orderBy("month")
    aov = F.round(F.col("_rev").cast("double") / F.col("n_orders"), 6)
    return monthly.select(
        "month",
        "n_orders",
        F.col("_rev").cast(DEC_PRICE).alias("revenue"),
        aov.alias("aov"),
        F.round(aov - F.lag(aov).over(w), 6).alias("aov_delta"),
    )


def tpch_q2_min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    p_type: str = "LARGE",
    p_size: int = 25,
    r_name: str = "EUROPE",
) -> DataFrame:
    """TPC-H Q2 literal shape on the fixture schema (no partsupp; the
    partsupp surrogate is the per-(part,supplier) MIN observed unit
    price from lineitem).  The correlated scalar subquery — "this
    supplier's cost equals the minimum cost any supplier in the region
    offers for this part" — decorrelates to ONE window min over the
    region-filtered candidate set partitioned by partkey: a single
    shuffle by partkey, no self-join re-scan of the fact.

    Scale shape: lineitem aggregates map-side to (part, supp) pairs
    first (|partsupp| << |lineitem|); part/supplier/nation/region all
    broadcast; the only wide exchange is the partkey window.  Full Q2
    projection + ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    with a s_suppkey tiebreak so LIMIT 100 is deterministic."""
    supply = lineitem.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
        ).alias("ps_supplycost")
    )
    euro_sup = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == r_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    wanted = part.filter(
        (F.col("p_type") == p_type) & (F.col("p_size") <= p_size)
    ).select("p_partkey", "p_type", "p_size")
    cand = (
        supply.join(F.broadcast(euro_sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(wanted), F.col("ps_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        cand.withColumn("_min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("_min_cost"))
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("p_partkey").cast("bigint").alias("p_partkey"),
            "p_type",
            F.round(F.col("ps_supplycost"), 6).alias("supplycost"),
            F.col("ps_suppkey").cast("bigint").alias("s_suppkey"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


def tpch_q4_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    start: str = "1996-07-01",
    end: str = "1996-10-01",
    late_days: int = 60,
) -> DataFrame:
    """TPC-H Q4 literal shape: count orders per priority in one quarter
    where EXISTS a late lineitem (fixture surrogate for commitdate <
    receiptdate: shipped more than ``late_days`` after order date).

    The EXISTS compiles to a LEFT SEMI join on orderkey with the date
    residual — one equi-shuffle, lineitem never duplicated per match,
    and the quarter filter pushes into the orders scan before the
    shuffle.  Aggregate output is ≤5 priority groups."""
    quarter = orders.filter(
        (F.col("o_orderdate") >= F.lit(start)) & (F.col("o_orderdate") < F.lit(end))
    )
    late = quarter.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


def brand_affinity(
    lineitem: DataFrame, part: DataFrame, min_pairs: int = 10
) -> DataFrame:
    """Market-basket affinity between part brands: for every brand pair
    co-purchased in one order, the co-occurrence count and the LIFT
    (observed co-purchase rate / rate expected under independence) —
    the cross-sell / bundling signal.

    Plan: brands broadcast into the fact scan, ONE orderkey shuffle
    builds each order's distinct sorted brand set, and pairs explode
    from the set IN-EXPRESSION (combinations of a per-order array,
    quadratic in basket size — max 11 here — never in orders).
    Supports and the pair counts are two bounded aggregates
    (|brands|² keys).  Exact integer counts; lift is one f64 division
    ROUNDed."""
    ob = (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    sets = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("bs")
    ).localCheckpoint()
    n_orders = sets.count()
    idx = F.sequence(F.lit(1), F.size(F.col("bs")))
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.slice(F.col("bs"), i + 1, F.size(F.col("bs"))),
                        lambda b: F.struct(
                            F.element_at(F.col("bs"), i).alias("brand_a"),
                            b.alias("brand_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.brand_a", "p.brand_b")
    pair_counts = pairs.groupBy("brand_a", "brand_b").agg(
        F.count("*").cast("bigint").alias("n_ab")
    )
    support = ob.groupBy("p_brand").agg(F.count("*").alias("n_orders_with"))
    sa = support.select(
        F.col("p_brand").alias("brand_a"), F.col("n_orders_with").alias("n_a")
    )
    sb = support.select(
        F.col("p_brand").alias("brand_b"), F.col("n_orders_with").alias("n_b")
    )
    return (
        pair_counts.filter(F.col("n_ab") >= min_pairs)
        .join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab") * F.lit(float(n_orders))
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def revenue_ewma(orders: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Monthly revenue with its exponentially weighted moving average
    (EWMA, y_t = α·x_t + (1-α)·y_{t-1}, seeded y_0 = x_0) — the
    smoothed trend line under the seasonality/anomaly reports.

    The recursion is evaluated CLOSED-FORM over the monthly aggregate
    (z_i = x_i·q^{-i}, y_t = q^t[(1-α)z_0 + α·S_t] with one prefix
    window sum) — no driver-side loop.  The q^{-i} rescaling bounds
    the method to series of a few hundred points before f64 overflow;
    re-seed per window at longer horizons.  The window rides on
    #months rows (bounded per unit time), and money enters the f64
    formula from exact DECIMAL sums, ROUNDed at the end."""
    q = 1.0 - alpha
    monthly = (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    )
    w = Window.orderBy("month")
    t = (F.row_number().over(w) - 1).cast("double")
    z = F.col("_rev").cast("double") * F.pow(F.lit(q), -t)
    with_z = monthly.select(
        "month", "_rev", t.alias("_t"), z.alias("_z")
    )
    ws = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, 0)
    s = F.sum("_z").over(ws)
    z0 = F.first("_z").over(ws)
    return with_z.select(
        "month",
        F.col("_rev").cast(DEC_PRICE).alias("revenue"),
        F.round(
            F.pow(F.lit(q), F.col("_t")) * (F.lit(alpha) * (s - z0) + z0),
            2,
        ).alias("ewma"),
    )


SALT_CAP = 32


def skew_salt_advisor(orders: DataFrame) -> DataFrame:
    """Salt-factor advisor for the customer-keyed join: per-key row
    counts reduced to (n_keys, max, avg, skew ratio) and the
    recommended salt fan-out ceil(max/avg) capped at SALT_CAP — the
    number that decides between a plain shuffle join and the salted
    replicate-join skew_salted_enrich implements.  One shuffle on the
    key for the per-key counts; the advisory row is an aggregate of
    aggregates.  All inputs exact ints; the two ratios are single f64
    divisions."""
    per = orders.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return per.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.sum("cnt").cast("long").alias("n_rows"),
    ).select(
        "n_keys",
        "max_cnt",
        "n_rows",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_keys").cast("double"), 6
        ).alias("avg_cnt"),
        F.round(
            F.col("max_cnt").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("skew_ratio"),
        F.least(
            F.lit(SALT_CAP),
            F.ceil(
                F.col("max_cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("n_rows").cast("double")
            ),
        )
        .cast("int")
        .alias("salt_factor"),
    )


INCR_DELTA_MOD = 5


def incremental_agg_merge(orders: DataFrame, delta_mod: int = INCR_DELTA_MOD) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly revenue
    aggregate computed as yesterday's partial state (orderkey % mod
    != 0) MERGED with today's delta partial (orderkey % mod == 0) by
    re-aggregating the unioned partials — sum-of-sums /
    count-of-counts, the mergeability property partial aggregation
    (and every incremental gold table) rests on.  Equals the full
    recompute by construction; the oracle checks exactly that.

    Scale: each partial is one filtered scan + partial agg; the merge
    shuffles |months| x 2 rows, not the fact table."""
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("revenue"),
        )

    state = partial(orders.filter(F.col("o_orderkey") % delta_mod != 0))
    delta = partial(orders.filter(F.col("o_orderkey") % delta_mod == 0))
    return (
        state.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue").cast(DEC_PRICE).alias("revenue"),
        )
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3


def nation_trade_pagerank(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """Damped PageRank over the nation-to-nation trade graph (edge
    weight = lineitem count from supplier nation to customer nation):
    which nations are structurally central to trade flow, beyond raw
    volume.  Fixed ``iters`` power iterations from the uniform vector;
    dangling mass (nations with no out-edges) is allowed to leak —
    stated semantics, identical in the oracle.

    Determinism: edge weights and out-degrees are exact ints; ranks
    are ROUNDed to 8 decimals after EVERY iteration (sums are over
    <= |nations| terms) so cross-engine f64 association cannot
    accumulate; final output ROUND 6.

    Scale: ONE fact-table shuffle builds the edge aggregate (dims all
    broadcast); the power iterations run on the |nations|² edge table,
    checkpointed once — graph-analytics-on-an-aggregate, the right
    shape when the graph's nodes are a dimension."""
    edges = (
        # lineitem x orders is the one fact-fact shuffle; only the true
        # dimensions (customer, supplier, nation) broadcast.
        lineitem.join(orders.select("o_orderkey", "o_custkey"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .localCheckpoint()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    trans = edges.join(outw, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("wout")).alias("p")
    ).localCheckpoint()
    nodes = nation.select(F.col("n_nationkey").alias("node")).localCheckpoint()
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes
    rank = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(iters):
        contrib = (
            trans.join(rank, trans.src == rank.node)
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("r")).alias("inflow"))
        )
        rank = nodes.join(F.broadcast(contrib), nodes.node == contrib.dst, "left").select(
            "node",
            F.round(
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
                8,
            ).alias("r"),
        )
    return (
        rank.join(F.broadcast(nation), rank.node == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("r"), 6).alias("pagerank"),
        )
    )


ENC_COLUMNS = ("l_returnflag", "l_linestatus", "l_shipdate")
ENC_DICT_MAX = 64
ENC_RLE_MIN_RUN = 2.0


def column_encoding_advisor(lineitem: DataFrame) -> DataFrame:
    """Storage-layout advisor: per candidate column, cardinality and
    average run length along the table's native (l_orderkey,
    l_linenumber) order, mapped to an encoding recommendation —
     'rle' when runs average >= {ENC_RLE_MIN_RUN}, else 'dict' when
    distinct values fit a {ENC_DICT_MAX}-entry dictionary, else
    'plain'.  The decision input for Parquet encoding/sort-order
    tuning (run length is what a CLUSTER BY would manufacture).

    Plan: ONE scan computes every column's lag in a single window
    (partitioned by l_orderkey — bounded lines per order, never a
    global sort); run starts and distinct counts fold in one
    aggregate; the per-column rows unpivot from that single row.
    (l_orderkey, l_linenumber) is not unique in the fixture, so the
    measured columns themselves join the sort key: remaining ties are
    then value-identical and run segmentation is deterministic."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", *ENC_COLUMNS)
    lagged = lineitem.select(
        *ENC_COLUMNS,
        *[
            F.lag(c).over(w).alias(f"_p_{c}")
            for c in ENC_COLUMNS
        ],
    )
    agg = lagged.agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.countDistinct(c).cast("long").alias(f"_d_{c}")
            for c in ENC_COLUMNS
        ],
        *[
            F.sum(
                F.when(
                    F.col(f"_p_{c}").isNull() | (F.col(f"_p_{c}") != F.col(c)), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"_r_{c}")
            for c in ENC_COLUMNS
        ],
    )
    stack_args = ", ".join(
        f"'{c}', _d_{c}, _r_{c}" for c in ENC_COLUMNS
    )
    melted = agg.selectExpr(
        "n", f"stack({len(ENC_COLUMNS)}, {stack_args}) AS (col_name, n_distinct, n_runs)"
    )
    avg_run = F.col("n").cast("double") / F.col("n_runs").cast("double")
    return melted.select(
        "col_name",
        "n",
        "n_distinct",
        "n_runs",
        F.round(avg_run, 6).alias("avg_run_len"),
        F.when(avg_run >= ENC_RLE_MIN_RUN, "rle")
        .when(F.col("n_distinct") <= ENC_DICT_MAX, "dict")
        .otherwise("plain")
        .alias("encoding"),
    )


def monthly_revenue_forecast(orders: DataFrame) -> DataFrame:
    """One-step-ahead linear forecast of monthly revenue: least-squares
    slope/intercept over (month index, revenue) from exact power sums
    (month indexes are small ints, revenue DECIMAL-exact), applied in
    f64 only in the closed-form step — the capacity-planning statistic.

    Plan: one fact shuffle to |months| rows; the regression folds those
    in a single aggregate."""
    monthly = orders.groupBy(
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
        ).alias("t")
    ).agg(F.sum(_dec("o_totalprice")).alias("y"))
    sums = monthly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("_st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("_stt"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("t").cast("decimal(20,2)") * F.col("y")).alias("_sty"),
        F.max("t").cast("long").alias("_tmax"),
    )
    n = F.col("n").cast("double")
    st, stt = F.col("_st").cast("double"), F.col("_stt").cast("double")
    sy, sty = F.col("_sy").cast("double"), F.col("_sty").cast("double")
    slope = (n * sty - st * sy) / (n * stt - st * st)
    intercept = (sy - slope * st) / n
    return sums.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(intercept + slope * (F.col("_tmax") + 1).cast("double"), 6).alias(
            "forecast_next"
        ),
    )


def discount_elasticity(lineitem: DataFrame) -> DataFrame:
    """Grouped least-squares: per returnflag, the slope/intercept of
    quantity on discount — 'does a deeper discount move volume'.
    Discounts are exact hundredths and quantities exact integers, so
    the regression runs on integer power sums (x in discount-percent
    units) with f64 only in the closed form — the same distributed
    bit-stable recipe as flag_corr_stats."""
    x = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_quantity")).cast("long")
    sums = lineitem.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("_sx"),
        F.sum(y).cast("long").alias("_sy"),
        F.sum(x * x).cast("long").alias("_sxx"),
        F.sum(x * y).cast("long").alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, sxy = F.col("_sxx").cast("double"), F.col("_sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("qty_per_discount_pct"),
        F.round((sy - slope * sx) / n, 6).alias("base_qty"),
    )


def dow_revenue_anova(orders: DataFrame) -> DataFrame:
    """One-way ANOVA of order value across day-of-week groups: F
    statistic and effect size (eta²) from exact DECIMAL power sums —
    'is the weekday effect real or noise', the seasonality
    significance test behind scheduling decisions.

    SSB/SSW derive from per-group (n, Σx, Σx²); everything stays
    exact until the final f64 closed form.  One fact shuffle to 7
    groups; the ANOVA folds those in a single aggregate."""
    x = _dec("o_totalprice")
    per = orders.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("s"),
        F.sum((x * x).cast("decimal(30,4)")).alias("ss"),
    )
    tot = per.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("N"),
        F.sum("s").alias("S"),
        F.sum("ss").alias("SS"),
        # s²/n in f64 per group (cross-engine DECIMAL division rounding
        # differs); 7 summands, ROUND-tolerant at the end
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("SGROUP"),
    )
    N = F.col("N").cast("double")
    k = F.col("k").cast("double")
    S = F.col("S").cast("double")
    SS = F.col("SS").cast("double")
    SG = F.col("SGROUP").cast("double")
    ssb = SG - S * S / N
    ssw = SS - SG
    # zero within-group variance (degenerate, constant groups) -> NULL
    # F rather than an ANSI divide-by-zero
    f_stat = F.when(ssw > 0, (ssb / (k - 1)) / (ssw / (N - k)))
    return tot.select(
        F.col("k").cast("int").alias("n_groups"),
        F.col("N").cast("long").alias("n_orders"),
        F.round(
            F.when(ssb + ssw > 0, ssb / (ssb + ssw)).otherwise(F.lit(0.0)), 6
        ).alias("eta_sq"),
        F.round(f_stat, 4).alias("f_stat"),
    )


ABC_THRESHOLDS = (0.80, 0.95)


def parts_abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue; class A =
    the head covering the first {ABC_THRESHOLDS[0]:.0%} of cumulative
    revenue share, B to {ABC_THRESHOLDS[1]:.0%}, C the tail — the
    assortment-priority split purchasing runs on.

    Scale: per-part revenue is one fact shuffle (DECIMAL-exact); the
    cumulative share comes from the two-phase range-partitioned prefix
    sum (ranking.ranked_prefix_sum) — never SUM() OVER an unpartitioned
    ORDER BY; the class rollup is 3 groups."""
    from .ranking import ranked_prefix_sum

    per = lineitem.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).alias("rev")
    )
    cum = ranked_prefix_sum(
        per,
        [F.col("rev").desc(), F.col("l_partkey").asc()],
        "rev",
        cum_name="cum",
        total_name="total",
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    classed = cum.select(
        "l_partkey",
        "rev",
        F.when(share <= ABC_THRESHOLDS[0], "A")
        .when(share <= ABC_THRESHOLDS[1], "B")
        .otherwise("C")
        .alias("abc"),
    )
    tot = cum.select("total").limit(1)
    return (
        classed.groupBy("abc")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast(DEC_PRICE).alias("revenue"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc",
            "n_parts",
            "revenue",
            F.round(
                F.col("revenue").cast("double") / F.col("total").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


def order_to_ship_latency(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Fulfilment latency: per order priority, exact interpolated
    percentiles of (first ship date - order date) in days — the SLA
    distribution operations tracks.  One fact-fact shuffle
    (lineitem x orders) reduced to per-order first-ship, then a
    |priorities|-group percentile."""
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("_ship")
    )
    lat = first_ship.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(F.col("_ship"), F.col("o_orderdate")).cast("long").alias("lag_d"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.round(F.percentile("lag_d", F.lit(q)), 4).alias(f"p{int(q * 100)}")
            for q in (0.5, 0.9, 0.99)
        ],
    )


def seasonal_decompose(orders: DataFrame) -> DataFrame:
    """Closed-form seasonal decomposition of monthly revenue: linear
    trend (least squares from exact power sums) removed, then the
    month-of-year means of the residual = the additive seasonal
    profile — the STL-lite read on 'which calendar months genuinely
    over/under-index once growth is removed'.

    One fact shuffle to |months| rows; trend and seasonal indexes are
    aggregates of that tiny series."""
    monthly = orders.groupBy(
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
        ).alias("t"),
        F.month("o_orderdate").alias("moy"),
    ).agg(F.sum(_dec("o_totalprice")).alias("y")).localCheckpoint()
    sums = monthly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("_st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("_stt"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("t").cast("decimal(20,2)") * F.col("y")).alias("_sty"),
    )
    n = F.col("n").cast("double")
    st, stt = F.col("_st").cast("double"), F.col("_stt").cast("double")
    sy, sty = F.col("_sy").cast("double"), F.col("_sty").cast("double")
    slope = (n * sty - st * sy) / (n * stt - st * st)
    fit = sums.select(
        slope.alias("_b"), ((sy - slope * st) / n).alias("_a")
    )
    resid = monthly.crossJoin(F.broadcast(fit)).select(
        "moy",
        (
            F.col("y").cast("double")
            - (F.col("_a") + F.col("_b") * F.col("t").cast("double"))
        ).alias("r"),
    )
    return resid.groupBy("moy").agg(
        F.count("*").cast("long").alias("n_months"),
        F.round(F.avg("r"), 4).alias("seasonal"),
    ).select(F.col("moy").cast("int").alias("moy"), "n_months", "seasonal")


MIGRATION_TILES = 3


def customer_segment_migration(
    orders: DataFrame, y1: int = 1995, y2: int = 1996, k: int = MIGRATION_TILES
) -> DataFrame:
    """Segment-migration matrix: customers terciled by spend in year 1
    vs year 2 ('did the heavy third stay heavy'), plus churn/new rows
    for customers active in only one year — the retention-quality read
    behind LTV planning.

    Both tilings use the two-phase grouped_ntile (customer counts grow
    with the data); the matrix is a |k+1|² aggregate of one
    customer-keyed outer join."""
    from .ranking import grouped_ntile

    def spend(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.sum(_dec("o_totalprice")).alias("spend"))
        )

    def tiles(df: DataFrame, name: str) -> DataFrame:
        return grouped_ntile(
            df, [F.col("spend").desc(), F.col("o_custkey").asc()], k, name
        ).select("o_custkey", name)

    t1 = tiles(spend(y1), "seg_from")
    t2 = tiles(spend(y2), "seg_to")
    joined = t1.join(t2, "o_custkey", "full_outer").select(
        F.coalesce(F.col("seg_from").cast("string"), F.lit("none")).alias("seg_from"),
        F.coalesce(F.col("seg_to").cast("string"), F.lit("none")).alias("seg_to"),
    )
    return joined.groupBy("seg_from", "seg_to").agg(
        F.count("*").cast("long").alias("n_customers")
    )


EQUIDEPTH_BUCKETS = 8


def equidepth_histogram(orders: DataFrame, k: int = EQUIDEPTH_BUCKETS) -> DataFrame:
    """Equi-depth (equal-height) histogram of order value — the
    optimizer-statistics structure behind selectivity estimation
    (ANALYZE ... FOR COLUMNS builds exactly this): k buckets of equal
    row count with their [lo, hi] value bounds.

    Buckets come from the two-phase grouped ntile over (value, key) —
    never a single-partition sort; bounds and counts fold per
    bucket."""
    from .ranking import grouped_ntile

    tiled = grouped_ntile(
        orders.select("o_orderkey", _dec("o_totalprice").alias("v")),
        [F.col("v").asc(), F.col("o_orderkey").asc()],
        k,
        "bucket",
    )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("v").cast(DEC_PRICE).alias("lo"),
            F.max("v").cast(DEC_PRICE).alias("hi"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"), "n_rows", "lo", "hi")
    )


FD_CANDIDATES = (
    # (name, table, determinant, dependent)
    ("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
)


def fd_discovery_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Functional-dependency discovery (the profiling pass a schema
    normalizer or data-contract checker runs): for each candidate
    X -> Y, count determinant groups, how many violate (|distinct Y|
    > 1), and whether the FD holds — key-derived FDs hold, behavioral
    ones are measured.

    Scale: one groupBy per candidate keyed on the determinant with a
    countDistinct, each a single shuffle of (X, Y) pairs; candidates
    over the same table still scan it once each (Spark caches the scan
    via exchange reuse when plans align)."""
    import functools

    parts = []
    for name, table, det, dep in FD_CANDIDATES:
        g = (
            tables[table]
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("_nd"))
            .agg(
                F.lit(name).alias("fd"),
                F.count("*").cast("long").alias("n_groups"),
                F.sum((F.col("_nd") > 1).cast("int"))
                .cast("long")
                .alias("n_violating"),
            )
            .select(
                "fd",
                "n_groups",
                "n_violating",
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
        parts.append(g)
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


IVM_ORDER_MOD = 10  # delta orders: o_orderkey % 10 == 0
IVM_CUST_MOD = 7  # delta customers: c_custkey % 7 == 0


def ivm_join_delta(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the delta algebra
    (A ∪ ΔA) ⋈ (B ∪ ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — applied to the
    per-nation revenue view: the base view's partial aggregates are
    combined with the three delta-join partials WITHOUT rescanning the
    joined base (exactly how a materialized view absorbs a batch of
    order and customer inserts).  The oracle recomputes the full join
    from scratch; matching hashes prove the maintenance algebra.

    Scale: each delta join is delta-sized on at least one side (the
    delta side broadcasts); the base⋈base term is the stored view —
    here recomputed once to stand in for the materialized table, with
    DECIMAL partial sums so merge order cannot matter."""
    a = orders.filter(F.col("o_orderkey") % IVM_ORDER_MOD != 0)
    da = orders.filter(F.col("o_orderkey") % IVM_ORDER_MOD == 0)
    b = customer.filter(F.col("c_custkey") % IVM_CUST_MOD != 0)
    db = customer.filter(F.col("c_custkey") % IVM_CUST_MOD == 0)

    def partial(o: DataFrame, c: DataFrame, broadcast_c: bool) -> DataFrame:
        cc = F.broadcast(c) if broadcast_c else c
        return (
            o.join(cc, o["o_custkey"] == cc["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("rev"),
            )
        )

    merged = (
        partial(a, b, False)          # the stored view's partials
        .unionByName(partial(da, b, False))   # ΔA ⋈ B
        .unionByName(partial(a, db, True))    # A ⋈ ΔB (ΔB broadcast)
        .unionByName(partial(da, db, True))   # ΔA ⋈ ΔB
        .groupBy("c_nationkey")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("rev").alias("_rev"),
        )
    )
    return merged.join(
        F.broadcast(nation), merged["c_nationkey"] == nation["n_nationkey"]
    ).select(
        "n_name",
        "n_orders",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
    )


BENFORD_SHARES = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of order values — the classic
    fabricated-numbers detector a data-quality gate runs on money
    columns: observed first-significant-digit shares vs log10(1+1/d),
    with the absolute deviation per digit.

    Scale: one scan, a 9-group aggregate; the digit is string head of
    the DECIMAL rendering (exact, no float formatting divergence)."""
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(15,2)").cast("string"), 1, 1
    ).cast("int")
    exp_map = F.create_map(
        *[x for d, s in BENFORD_SHARES.items() for x in (F.lit(d), F.lit(s))]
    )
    g = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = g.agg(F.sum("n").alias("_tot"))
    return (
        g.crossJoin(F.broadcast(total))
        .withColumn(
            "obs_share",
            F.round(F.col("n") / F.col("_tot").cast("double"), 6),
        )
        .withColumn("benford_share", F.round(exp_map[F.col("digit")], 6))
        .withColumn(
            "abs_dev",
            F.round(F.abs(F.col("obs_share") - F.col("benford_share")), 6),
        )
        .drop("_tot")
    )


def kaplan_meier(events: DataFrame) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-first-purchase: per
    user, duration = days from their first event to their first
    purchase (event) or to their last observed event (right-censored).
    At each event time t: n_risk = users whose duration >= t, d =
    purchases at t, S(t) = prod_{u<=t}(1 - d_u/n_u) — the survival
    curve a retention/conversion analysis reads.

    Determinism: factors are rationals; the running product is
    exp(cumsum(ln(factor) rounded to 9)) with the cumsum over the
    ascending-t window (same association order in both engines), final
    ROUND 6.

    Scale: one user_id shuffle for the per-user reduction, then the
    curve lives on the |distinct durations| table."""
    per_user = events.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "tp"
        ),
        F.max("ts").alias("tl"),
    )
    dur = per_user.select(
        F.when(
            F.col("tp").isNotNull(), F.datediff(F.col("tp"), F.col("t0"))
        )
        .otherwise(F.datediff(F.col("tl"), F.col("t0")))
        .cast("long")
        .alias("dur"),
        F.col("tp").isNotNull().cast("int").alias("is_event"),
    )
    counts = dur.groupBy("dur").agg(
        F.sum("is_event").cast("long").alias("d"),
        F.count("*").cast("long").alias("all_at"),
    )
    # the curve lives on the |distinct durations| table (bounded by the
    # time axis): cumulative quantities come from broadcast triangle
    # joins, not orderBy-only windows — no accidental-global WindowExec
    tot = counts.agg(F.sum("all_at").alias("_tot"))
    prior = counts.select(
        F.col("dur").alias("_pd"), F.col("all_at").alias("_pn")
    )
    before = (
        counts.join(F.broadcast(prior), F.col("_pd") < F.col("dur"), "left")
        .groupBy("dur", "d", "all_at")
        .agg(F.coalesce(F.sum("_pn"), F.lit(0)).alias("_before"))
    )
    risk = before.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk", (F.col("_tot") - F.col("_before")).cast("long")
    )
    # a time where every at-risk user converts (d == n_risk) drives the
    # factor to 0: flag it instead of ln(0) (engines disagree on ln(0):
    # null vs error) and pin survival to 0 from that point on
    ev = (
        risk.filter(F.col("d") > 0)
        .withColumn("_zero", (F.col("d") >= F.col("n_risk")).cast("int"))
        .withColumn(
            "_lnf",
            F.when(
                F.col("_zero") == 0,
                F.round(
                    F.log(
                        F.lit(1.0)
                        - F.col("d").cast("double") / F.col("n_risk")
                    ),
                    9,
                ).cast("decimal(20,9)"),
            ),
        )
        .localCheckpoint()
    )
    cum_src = ev.select(
        F.col("dur").alias("_cd"),
        F.col("_lnf").alias("_clnf"),
        F.col("_zero").alias("_cz"),
    )
    return (
        ev.join(F.broadcast(cum_src), F.col("_cd") <= F.col("dur"))
        .groupBy("dur", "n_risk", "d")
        .agg(
            F.sum("_clnf").alias("_slnf"),
            F.max("_cz").alias("_mz"),
        )
        .select(
            F.col("dur").alias("t"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.when(F.col("_mz") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("_slnf").cast("double")), 6))
            .alias("surv"),
        )
    )


def higher_moments(lineitem: DataFrame) -> DataFrame:
    """Per-returnflag skewness + excess kurtosis of l_quantity from
    EXACT integer power sums (s1..s4 as DECIMAL — order-insensitive,
    so the shuffle's partial-agg merge order cannot perturb the f64
    result).  Built-in skewness()/kurtosis() are engine-specific in
    estimator convention; the power-sum route is engine-neutral and
    oracle-checkable.

    Scale: one scan, 4 extra agg columns, one tiny group."""
    q = F.col("l_quantity").cast("decimal(10,2)")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q).alias("s1"),
        F.sum((q * q).cast("decimal(38,4)")).alias("s2"),
        F.sum((q * q * q).cast("decimal(38,6)")).alias("s3"),
        F.sum((q * q * q * q).cast("decimal(38,8)")).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = (
        F.col("s3").cast("double") / n
        - F.lit(3.0) * mu * F.col("s2").cast("double") / n
        + F.lit(2.0) * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / n
        - F.lit(4.0) * mu * F.col("s3").cast("double") / n
        + F.lit(6.0) * mu * mu * F.col("s2").cast("double") / n
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return agg.select(
        "l_returnflag",
        "n",
        F.round(mu, 6).alias("mean_qty"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("excess_kurtosis"),
    )


CALIBRATION_BINS = 10


def calibration_bins(orders: DataFrame, bins: int = CALIBRATION_BINS) -> DataFrame:
    """Calibration (reliability-diagram) bins for a score vs a binary
    outcome — the model-eval primitive: score = order value min-max
    scaled to [0,1) (a stand-in ranking score), outcome = urgent
    priority (1-URGENT/2-HIGH).  Per bin: count, mean scaled score,
    empirical positive rate, |gap| — the inputs to expected
    calibration error.

    Determinism: everything runs on exact integer CENTS — the bin is
    integer `div` arithmetic, the mean is an exact long sum with one
    trailing f64 normalize — so partial-aggregate merge order cannot
    move a row or a digit.  One scan + a two-scalar broadcast + a
    bins-sized aggregate."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    rng = orders.select(cents.alias("_c")).agg(
        F.min("_c").alias("_lo"), F.max("_c").alias("_hi")
    )
    pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    scored = orders.crossJoin(F.broadcast(rng)).select(
        cents.alias("c"), F.col("_lo"), F.col("_hi"), pos.alias("y")
    )
    b = F.expr(
        f"least(((c - _lo) * {bins}) div (_hi - _lo + 1), {bins - 1})"
    ).cast("int")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                (
                    F.sum("c").cast("double") / F.count("*")
                    - F.first("_lo")
                )
                / (F.first("_hi") - F.first("_lo")).cast("double"),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum("y").cast("double") / F.count("*"), 6
            ).alias("pos_rate"),
        )
        .withColumn(
            "abs_gap",
            F.round(F.abs(F.col("mean_score") - F.col("pos_rate")), 6),
        )
    )


PSI_BINS = 10


def psi_drift(orders: DataFrame, bins: int = PSI_BINS) -> DataFrame:
    """Population-stability-index drift between two md5-gated halves of
    the order-value distribution — the model-monitoring metric for
    "did the scored population shift": per equal-width bin (exact
    integer-cents edges), both halves' shares and the PSI term
    (p-q)*ln(p/q), rounded-9 DECIMAL so the total is order-exact.
    Zero-count bins take the standard 1e-6 floor.

    One scan + a two-scalar broadcast + a bins-sized aggregate."""
    from ..functions.text import md5_int

    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    half = (md5_int(F.col("o_orderkey").cast("string")) % 2).cast("int")
    rng = orders.select(cents.alias("_c")).agg(
        F.min("_c").alias("_lo"), F.max("_c").alias("_hi")
    )
    scored = orders.crossJoin(F.broadcast(rng)).select(
        cents.alias("c"), half.alias("h"), "_lo", "_hi"
    )
    b = F.expr(
        f"least(((c - _lo) * {bins}) div (_hi - _lo + 1), {bins - 1})"
    ).cast("int")
    per_bin = scored.groupBy(b.alias("bin")).agg(
        F.sum((F.col("h") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("h") == 1).cast("long")).alias("n_b"),
    )
    tot = per_bin.agg(
        F.sum("n_a").cast("double").alias("_ta"),
        F.sum("n_b").cast("double").alias("_tb"),
    )
    p = F.greatest(F.col("n_a") / F.col("_ta"), F.lit(1e-6))
    q = F.greatest(F.col("n_b") / F.col("_tb"), F.lit(1e-6))
    return per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(p, 6).alias("share_a"),
        F.round(q, 6).alias("share_b"),
        F.round((p - q) * F.log(p / q), 9)
        .cast("decimal(20,9)")
        .alias("psi_term"),
    )


KS_GROUPS = ("R", "N")


def ks_two_sample(lineitem: DataFrame, groups: tuple[str, str] = KS_GROUPS) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between two
    returnflag groups over l_quantity: KS = max |F_a(v) - F_b(v)| over
    observed values, with the 5%-level critical value
    1.36*sqrt((n_a+n_b)/(n_a*n_b)) and the reject flag — the
    distribution-shift test with an exact answer when the value domain
    is bounded (quantity has ~50 distinct values; for unbounded
    domains bin first, as orders_psi_drift does).

    Scale: one (group, value) aggregate, then cumulative shares via a
    broadcast triangle join over the |distinct values| table."""
    a_key, b_key = groups
    q = F.col("l_quantity").cast("decimal(10,2)")
    counts = (
        lineitem.filter(F.col("l_returnflag").isin(a_key, b_key))
        .groupBy(q.alias("v"))
        .agg(
            F.sum((F.col("l_returnflag") == a_key).cast("long")).alias("c_a"),
            F.sum((F.col("l_returnflag") == b_key).cast("long")).alias("c_b"),
        )
    )
    tot = counts.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
    )
    other = counts.select(
        F.col("v").alias("_v2"), F.col("c_a").alias("_ca2"),
        F.col("c_b").alias("_cb2"),
    )
    cum = (
        counts.join(F.broadcast(other), F.col("_v2") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("_ca2").alias("cum_a"), F.sum("_cb2").alias("cum_b"))
    )
    diff = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        F.round(
            F.abs(
                F.col("cum_a").cast("double") / F.col("n_a")
                - F.col("cum_b").cast("double") / F.col("n_b")
            ),
            6,
        ).alias("d"),
    )
    crit = F.lit(1.36) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return (
        diff.groupBy("n_a", "n_b")
        .agg(F.max("d").alias("ks_stat"))
        .select(
            "n_a",
            "n_b",
            "ks_stat",
            F.round(crit, 6).alias("crit_5pct"),
            (F.col("ks_stat") > crit).alias("reject_same_dist"),
        )
    )


DC_AMOUNT_BUCKET = 1000_00  # cents: block by $1000 amount bands
DC_MAX_DAYS = 30


def double_charge_screen(orders: DataFrame) -> DataFrame:
    """Duplicate-payment screen: same customer, similar amount (same
    $1000 band), orders within {DC_MAX_DAYS} days — the fraud/billing
    audit that flags likely double charges for review.  Blocked
    self-join on (customer, amount band): pair space is
    sum-of-block-squares; band-boundary near-misses are the documented
    blocking tradeoff (halve the band and explode to both neighbors to
    tighten recall, the grid-join trick).

    Output: the candidate pairs with day gap and exact cent
    difference, deterministic (o_orderkey ordering)."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    o = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("k"),
        cents.alias("c"),
        F.col("o_orderdate").cast("date").alias("d"),
        (cents / F.lit(DC_AMOUNT_BUCKET)).cast("long").alias("band"),
    )
    a = o.select(
        "o_custkey", "band",
        F.col("k").alias("order_a"), F.col("c").alias("c_a"),
        F.col("d").alias("d_a"),
    )
    b = o.select(
        "o_custkey", "band",
        F.col("k").alias("order_b"), F.col("c").alias("c_b"),
        F.col("d").alias("d_b"),
    )
    gap = F.abs(F.datediff(F.col("d_a"), F.col("d_b")))
    return (
        a.join(b, ["o_custkey", "band"])
        .filter(F.col("order_a") < F.col("order_b"))
        .filter(gap <= DC_MAX_DAYS)
        .select(
            "o_custkey",
            "order_a",
            "order_b",
            gap.cast("int").alias("day_gap"),
            F.abs(F.col("c_a") - F.col("c_b")).cast("long").alias("cents_diff"),
        )
    )


def chi2_independence(customer: DataFrame) -> DataFrame:
    """Chi-square test of independence between nation and market
    segment — 'is segment mix the same across nations': observed vs
    expected cell counts over the (bounded) contingency table, with
    the per-cell terms rounded-9 DECIMAL so the statistic is
    association-order exact.

    One (nation, segment) aggregate; margins broadcast back; the
    cell table is |nations| x |segments|."""
    cells = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("n")
    )
    rows_m = cells.groupBy("c_nationkey").agg(F.sum("n").alias("_rn"))
    cols_m = cells.groupBy("c_mktsegment").agg(F.sum("n").alias("_cn"))
    tot = cells.agg(F.sum("n").cast("double").alias("_tot"))
    # the full margin grid, NOT just observed cells: a structurally
    # absent (nation, segment) combination contributes (0-e)^2/e, and
    # dropping it understates the statistic exactly when association
    # is strongest
    grid = (
        rows_m.crossJoin(cols_m)
        .join(cells, ["c_nationkey", "c_mktsegment"], "left")
        .withColumn("n0", F.coalesce(F.col("n"), F.lit(0)))
    )
    e = F.col("_rn").cast("double") * F.col("_cn") / F.col("_tot")
    term = (
        (F.col("n0").cast("double") - e) * (F.col("n0").cast("double") - e) / e
    )
    terms = grid.crossJoin(F.broadcast(tot)).select(
        F.round(term, 9).cast("decimal(20,9)").alias("_t")
    )
    dims = cells.agg(
        F.countDistinct("c_nationkey").alias("_r"),
        F.countDistinct("c_mktsegment").alias("_s"),
        F.sum("n").cast("long").alias("n_rows"),
    )
    return terms.agg(
        F.round(F.sum("_t").cast("double"), 6).alias("chi2")
    ).crossJoin(F.broadcast(dims)).select(
        "chi2",
        ((F.col("_r") - 1) * (F.col("_s") - 1)).cast("int").alias("dof"),
        "n_rows",
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n_rows").cast("double")
                    * F.least(F.col("_r") - 1, F.col("_s") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def supplier_hhi(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per supplier
    nation: sum of squared supplier shares of supplied quantity
    (0..10000 scale) — the market-concentration / single-source-risk
    metric procurement monitors.

    Exact DECIMAL quantity sums; per-supplier share terms rounded-9
    DECIMAL before the nation sum, so the index is shuffle-order
    exact.  One fact aggregate keyed (nation, supplier); everything
    after is supplier-count-sized."""
    q = F.col("l_quantity").cast("decimal(20,2)")
    per_sup = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(q).alias("qty"))
    )
    nat = per_sup.groupBy("s_nationkey").agg(
        F.sum("qty").alias("_nq"),
        F.count("*").cast("long").alias("n_suppliers"),
    )
    share = F.col("qty").cast("double") / F.col("_nq").cast("double")
    terms = per_sup.join(F.broadcast(nat), "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        F.round(share * share * F.lit(10000.0), 9)
        .cast("decimal(20,9)")
        .alias("_t"),
    )
    return terms.groupBy("s_nationkey", "n_suppliers").agg(
        F.round(F.sum("_t").cast("double"), 6).alias("hhi")
    )


def mann_whitney_u(
    lineitem: DataFrame, groups: tuple[str, str] = KS_GROUPS
) -> DataFrame:
    """Exact Mann-Whitney U (rank-sum) test between two returnflag
    groups over l_quantity — the rank-based location-shift test that
    complements lineitem_ks_test's shape test, computed exactly from
    per-value counts on the bounded domain (midranks from cumulative
    counts; tie-corrected normal approximation for z).

    All rank arithmetic stays in exact integers/DECIMAL (midranks are
    half-integers, carried as DECIMAL(38,1)); only the final z divide
    is f64.  Same triangle-join shape as the KS CDFs."""
    a_key, b_key = groups
    q = F.col("l_quantity").cast("decimal(10,2)")
    counts = (
        lineitem.filter(F.col("l_returnflag").isin(a_key, b_key))
        .groupBy(q.alias("v"))
        .agg(
            F.sum((F.col("l_returnflag") == a_key).cast("long")).alias("c_a"),
            F.sum((F.col("l_returnflag") == b_key).cast("long")).alias("c_b"),
        )
        .withColumn("n_v", F.col("c_a") + F.col("c_b"))
    )
    other = counts.select(
        F.col("v").alias("_v2"), F.col("n_v").alias("_n2")
    )
    before = (
        counts.join(F.broadcast(other), F.col("_v2") < F.col("v"), "left")
        .groupBy("v", "c_a", "c_b", "n_v")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("cb"))
    )
    # 2*midrank = 2*cb + n_v + 1 (integer); R_a carried as DECIMAL(38,1)
    two_mid = (F.lit(2) * F.col("cb") + F.col("n_v") + 1).cast("decimal(38,0)")
    agg = before.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        (
            F.sum(F.col("c_a").cast("decimal(38,0)") * two_mid)
            / 2
        ).cast("decimal(38,1)").alias("r_a"),
        F.sum(
            (
                F.col("n_v").cast("decimal(38,0)")
                * F.col("n_v")
                * F.col("n_v")
                - F.col("n_v")
            ).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("tie_sum"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = n_a + n_b
    u = F.col("r_a").cast("double") - n_a * (n_a + 1.0) / 2.0
    mean_u = n_a * n_b / 2.0
    var_u = (
        n_a
        * n_b
        / 12.0
        * ((n + 1.0) - F.col("tie_sum").cast("double") / (n * (n - 1.0)))
    )
    z = (u - mean_u) / F.sqrt(var_u)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u, 1).alias("u_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("reject_same_location"),
    )


def cusum_detect(orders: DataFrame) -> DataFrame:
    """CUSUM change detection on the daily revenue series, in EXACT
    integer arithmetic: with daily cents x_t, prefix sum PS_t, total T
    over n days, the scaled deviation D_t = n*PS_t - t*T equals
    n^2 * (classic CUSUM S_t/n) with zero floats — the drift detector
    whose peak |D| day is the change-point candidate (complements the
    least-squares changepoint with the sequential-monitoring form).

    Reports the peak day, the deviation in cents (D/n), and its share
    of total revenue.  Day table is bounded; cumulatives ride a
    broadcast triangle join."""
    day = F.to_date("o_orderdate")
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    daily = (
        orders.groupBy(day.alias("d"))
        .agg(F.sum(cents).cast("decimal(38,0)").alias("x"))
        .localCheckpoint()  # break lineage: the triangle self-join below
    )
    tot = daily.agg(
        F.sum("x").cast("decimal(38,0)").alias("_T"),
        F.count("*").cast("long").alias("_n"),
    )
    # rename BOTH sides of the self-join: the checkpointed plan shares
    # attribute ids across branches, so a bare `d` would resolve
    # ambiguously downstream
    left = daily.select(F.col("d").alias("day"), F.col("x").alias("_x1"))
    right = daily.select(F.col("d").alias("_d2"), F.col("x").alias("_x2"))
    ps = (
        left.join(F.broadcast(right), F.col("_d2") <= F.col("day"))
        .groupBy("day")
        .agg(
            F.sum("_x2").cast("decimal(38,0)").alias("ps"),
            F.count("*").cast("long").alias("t"),
        )
    )
    dev = ps.crossJoin(F.broadcast(tot)).select(
        "day",
        (
            F.col("_n").cast("decimal(38,0)") * F.col("ps")
            - F.col("t").cast("decimal(38,0)") * F.col("_T")
        ).alias("D"),
        "_n",
        "_T",
    )
    mx = dev.select(
        "day",
        F.abs(F.col("D")).alias("absD"),
        "D",
        "_n",
        "_T",
    )
    top = mx.orderBy(F.col("absD").desc(), F.col("day").asc()).limit(1)
    return top.select(
        F.col("day").alias("peak_day"),
        F.round(
            (F.col("D").cast("double") / F.col("_n").cast("double")) / 100.0,
            2,
        ).alias("peak_dev_dollars"),
        F.round(
            F.col("absD").cast("double")
            / (F.col("_n").cast("double") * F.col("_T").cast("double")),
            6,
        ).alias("dev_share_of_total"),
    )


IQR_FENCE = 1.5


def price_iqr_outliers(part: DataFrame) -> DataFrame:
    """Tukey-fence outlier audit of part retail prices per brand:
    exact q1/q3 (PERCENTILE_CONT) on the per-brand groups, fence =
    {IQR_FENCE} * IQR, count outside — the per-segment data-quality
    screen (at 100 TB swap exact percentiles for approx, as
    documented in order_value_percentiles)."""
    p = F.col("p_retailprice").cast("double")
    q = part.groupBy("p_brand").agg(
        F.round(F.percentile(p, F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile(p, F.lit(0.75)), 6).alias("q3"),
        F.count("*").cast("long").alias("n_parts"),
    )
    j = part.select("p_brand", p.alias("v")).join(F.broadcast(q), "p_brand")
    lo = F.col("q1") - F.lit(IQR_FENCE) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(IQR_FENCE) * (F.col("q3") - F.col("q1"))
    return (
        j.groupBy("p_brand", "n_parts", "q1", "q3")
        .agg(
            F.sum(((F.col("v") < lo) | (F.col("v") > hi)).cast("long"))
            .cast("long")
            .alias("n_outliers")
        )
        .select("p_brand", "n_parts", "q1", "q3", "n_outliers")
    )


def revenue_share_hierarchy(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Hierarchical share reporting: per nation, revenue plus its share
    of the region subtotal and of the global total — the
    share-of-parent pattern every drill-down report needs, in ONE scan
    (windows partitioned by region are region-sized; the global total
    rides a broadcast).

    DECIMAL-exact revenue sums; shares are f64 of exact numerators."""
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("_rev")
        )
    )
    w_region = Window.partitionBy("r_name")
    tot = rev.agg(F.sum("_rev").alias("_g"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "r_name",
        "n_name",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("_rev").cast("double")
            / F.sum("_rev").over(w_region).cast("double"),
            6,
        ).alias("share_of_region"),
        F.round(
            F.col("_rev").cast("double") / F.col("_g").cast("double"), 6
        ).alias("share_of_total"),
    )


def cohens_d(lineitem: DataFrame, groups: tuple[str, str] = KS_GROUPS) -> DataFrame:
    """Cohen's d effect size between two returnflag groups over
    quantity, from exact DECIMAL power sums (pooled sample stddev) —
    the magnitude companion to the MW/KS significance tests."""
    a_key, b_key = groups
    q = F.col("l_quantity").cast("decimal(10,2)")
    g = (
        lineitem.filter(F.col("l_returnflag").isin(a_key, b_key))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(q).alias("s1"),
            F.sum((q * q).cast("decimal(38,4)")).alias("s2"),
        )
    )
    a = g.filter(F.col("l_returnflag") == a_key).select(
        F.col("n").alias("n_a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    b = g.filter(F.col("l_returnflag") == b_key).select(
        F.col("n").alias("n_b"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    j = a.crossJoin(b)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("s1a").cast("double") / na
    mb = F.col("s1b").cast("double") / nb
    ssa = F.col("s2a").cast("double") - F.col("s1a").cast("double") * ma
    ssb = F.col("s2b").cast("double") - F.col("s1b").cast("double") * mb
    sp = F.sqrt((ssa + ssb) / (na + nb - 2.0))
    return j.select(
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round((ma - mb) / sp, 6).alias("cohens_d"),
    )


TOP_MOVERS_K = 10


def customers_top_movers(orders: DataFrame, k: int = TOP_MOVERS_K) -> DataFrame:
    """Top revenue movers: customers with the largest absolute spend
    change between the last two calendar years in the data — the
    account-management watchlist.  Two conditional DECIMAL sums in ONE
    customer-keyed aggregate (no self-join), then a global top-k
    (TakeOrderedAndProject — heap, not sort).

    The year pair comes from one tiny aggregate broadcast back."""
    yr = F.year("o_orderdate")
    yrs = orders.agg(F.max(yr).alias("_y2")).select(
        "_y2", (F.col("_y2") - 1).alias("_y1")
    )
    j = orders.crossJoin(F.broadcast(yrs))
    per = (
        j.filter((yr == F.col("_y1")) | (yr == F.col("_y2")))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(yr == F.col("_y1"),
                       F.col("o_totalprice").cast("decimal(15,2)"))
            ).alias("_r1"),
            F.sum(
                F.when(yr == F.col("_y2"),
                       F.col("o_totalprice").cast("decimal(15,2)"))
            ).alias("_r2"),
        )
    )
    delta = F.coalesce(F.col("_r2"), F.lit(0).cast("decimal(15,2)")) - F.coalesce(
        F.col("_r1"), F.lit(0).cast("decimal(15,2)")
    )
    return (
        per.select(
            "o_custkey",
            F.round(F.coalesce(F.col("_r1"), F.lit(0)).cast("double"), 2).alias(
                "rev_prev"
            ),
            F.round(F.coalesce(F.col("_r2"), F.lit(0)).cast("double"), 2).alias(
                "rev_last"
            ),
            F.round(delta.cast("double"), 2).alias("delta"),
            F.round(F.abs(delta).cast("double"), 2).alias("abs_delta"),
        )
        .orderBy(F.col("abs_delta").desc(), F.col("o_custkey").asc())
        .limit(k)
    )


def return_rate_wilson(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """Per-supplier-nation return rate with the 95% Wilson score
    interval — the shrinkage-aware CI that stays sane at small n
    (unlike the naive normal interval); exact integer counts, closed
    form, one fact aggregate."""
    z = 1.959963984540054  # 95%
    g = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("long"))
            .cast("long")
            .alias("r"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("r").cast("double") / n
    z2 = F.lit(z * z)
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return g.select(
        "s_nationkey",
        "n",
        "r",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


def simpson_audit(lineitem: DataFrame) -> DataFrame:
    """Simpson's-paradox audit for corr(quantity, discount): the GLOBAL
    correlation sign vs each returnflag stratum's sign — when strata
    disagree with the aggregate, any "discounts drive volume"
    conclusion from the pooled number is confounded.  Correlations
    from exact DECIMAL power sums (the engine's corr recipe), one
    grouped and one global aggregate.

    Output: one row per stratum with its corr, plus the global corr
    and a `reverses` flag."""
    q = F.col("l_quantity").cast("decimal(20,2)")
    d = F.col("l_discount").cast("decimal(20,6)")

    def corr_agg(df, keys):
        g = df.groupBy(*keys) if keys else df.groupBy()
        agg = g.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(q).alias("sq"),
            F.sum(d).alias("sd"),
            F.sum((q * q).cast("decimal(38,4)")).alias("sqq"),
            F.sum((d * d).cast("decimal(38,12)")).alias("sdd"),
            F.sum((q * d).cast("decimal(38,8)")).alias("sqd"),
        )
        n = F.col("n").cast("double")
        num = F.col("sqd").cast("double") - F.col("sq").cast("double") * F.col(
            "sd"
        ).cast("double") / n
        den = F.sqrt(
            (
                F.col("sqq").cast("double")
                - F.col("sq").cast("double")
                * F.col("sq").cast("double")
                / n
            )
            * (
                F.col("sdd").cast("double")
                - F.col("sd").cast("double")
                * F.col("sd").cast("double")
                / n
            )
        )
        return agg.withColumn("corr", F.round(num / den, 6))

    per = corr_agg(lineitem, ["l_returnflag"]).select(
        "l_returnflag", "n", "corr"
    )
    glob = corr_agg(lineitem, []).select(
        F.col("corr").alias("global_corr")
    )
    return per.crossJoin(F.broadcast(glob)).select(
        "l_returnflag",
        "n",
        F.col("corr").alias("stratum_corr"),
        "global_corr",
        (
            F.signum(F.col("corr")) != F.signum(F.col("global_corr"))
        ).alias("reverses"),
    )


MONTH_END_DAYS = 3


def month_end_effect(orders: DataFrame, last_days: int = MONTH_END_DAYS) -> DataFrame:
    """Month-end effect: revenue share of each month's final
    ``last_days`` days vs the uniform expectation (days/month-length)
    — the quota-pushing / billing-cycle pattern finance asks about.
    DECIMAL-exact sums, one scan, |months| output rows."""
    day = F.dayofmonth("o_orderdate")
    last = F.dayofmonth(F.last_day("o_orderdate"))
    m = F.date_format("o_orderdate", "yyyy-MM")
    in_tail = day > (last - last_days)
    g = orders.groupBy(m.alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("_tot"),
        F.sum(
            F.when(in_tail, F.col("o_totalprice").cast("decimal(15,2)"))
        ).alias("_tail"),
        F.max(last).alias("_mlen"),
    )
    share = F.coalesce(F.col("_tail"), F.lit(0)).cast("double") / F.col(
        "_tot"
    ).cast("double")
    expect = F.lit(float(last_days)) / F.col("_mlen").cast("double")
    return g.select(
        "month",
        F.round(share, 6).alias("tail_share"),
        F.round(expect, 6).alias("uniform_share"),
        F.round(share / expect, 6).alias("lift"),
    )


PRICE_ENDING_TOP = 10


def price_endings(orders: DataFrame, k: int = PRICE_ENDING_TOP) -> DataFrame:
    """Cent-ending distribution of order values — the psychological-
    pricing / fabricated-amounts screen Benford complements: top
    endings by frequency with their share vs the uniform 1% baseline.
    Exact integer cents, one 100-group aggregate."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    g = orders.select((cents % 100).cast("int").alias("ending")).groupBy(
        "ending"
    ).agg(F.count("*").cast("long").alias("n"))
    tot = g.agg(F.sum("n").cast("double").alias("_t"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "ending",
            "n",
            F.round(F.col("n") / F.col("_t"), 6).alias("share"),
            F.round(F.col("n") / F.col("_t") / 0.01, 6).alias("lift_vs_uniform"),
        )
        .orderBy(F.col("n").desc(), F.col("ending").asc())
        .limit(k)
    )


XYZ_THRESHOLDS = (0.5, 1.0)


def abc_xyz_matrix(lineitem: DataFrame) -> DataFrame:
    """ABC-XYZ inventory segmentation matrix: revenue importance (ABC,
    from the two-phase cumulative share) crossed with demand
    variability (XYZ: coefficient of variation of monthly shipped
    quantity — X steady <= {XYZ_THRESHOLDS[0]}, Y seasonal <=
    {XYZ_THRESHOLDS[1]}, Z erratic; single-month parts are Z by
    definition).  The 9-cell matrix purchasing uses to pick stocking
    policies.

    Exact integer-CENT sums throughout; the only f64 is the final CV
    (scale-invariant, so cents vs dollars cannot move it).

    One fact scan: revenue and the monthly-quantity power sums both
    derive from a single (part, month)-grain aggregate (the exact
    sum-of-sums equals the direct sum), and both classifications read
    the same per-part row — no second scan, no abc-xyz join.  The
    month key stays a native truncated DATE (a per-row date_format
    string was ~40% of the scan stage); money/quantity fold as LONG
    cents on the per-group stages (~1.6x faster than DECIMAL sums on
    the 6M-row stage, and every per-(part,month) / per-part group is
    bounded far below 2^63 cents at any SF because lines-per-part is
    ~constant in TPC-H).  The two sums that DO grow with corpus size
    route through DECIMAL: the squared quantity (DECIMAL(18,0), so the
    square cannot wrap int64) and the cross-part cumulative/total
    revenue (rev recast to DECIMAL(19,0) — wide enough to represent
    every int64 exactly, so the cast itself can never null out a
    >=1e18-cent part in non-ANSI mode — before the prefix sum, so
    cum/total promote to DECIMAL(29,0) instead of wrapping a LONG at
    ~9e18 total cents — DuckDB's SUM(BIGINT) promotes to HUGEINT, so
    a Spark LONG wrap would be an asymmetric silent divergence)."""
    from .ranking import ranked_prefix_sum

    cents = lambda c: (c.cast("decimal(15,2)") * 100).cast("long")  # noqa: E731
    monthly = lineitem.groupBy(
        "l_partkey", F.trunc("l_shipdate", "month").alias("m")
    ).agg(
        F.sum(cents(F.col("l_extendedprice"))).alias("rev_m"),
        F.sum(cents(F.col("l_quantity"))).alias("q"),
    )
    # pin the part-grain aggregate before the range partition:
    # repartitionByRange's range-bounds SAMPLING job executes its child
    # lineage once and the exchange executes it again — without the
    # checkpoint the whole lineitem aggregate runs twice
    qd = F.col("q").cast("decimal(18,0)")
    per_part = monthly.groupBy("l_partkey").agg(
        F.sum("rev_m").alias("rev"),
        F.count("*").cast("long").alias("nm"),
        F.sum("q").alias("s1"),
        F.sum(qd * qd).alias("s2"),
    ).localCheckpoint()
    cum = ranked_prefix_sum(
        per_part.withColumn("rev", F.col("rev").cast("decimal(19,0)")),
        [F.col("rev").desc(), F.col("l_partkey").asc()],
        "rev",
        cum_name="cum",
        total_name="total",
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    n = F.col("nm").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        n - F.lit(1.0)
    )
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / mean
    classed = cum.select(
        F.when(share <= ABC_THRESHOLDS[0], "A")
        .when(share <= ABC_THRESHOLDS[1], "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("nm") == 1, "Z")
        .when(cv <= XYZ_THRESHOLDS[0], "X")
        .when(cv <= XYZ_THRESHOLDS[1], "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count("*").cast("long").alias("n_parts")
    )


SLA_DAYS = (7, 14, 30)


def sla_attainment(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fulfilment SLA attainment by order priority: the share of orders
    whose FIRST shipment left within each SLA window — the
    operations scorecard on top of the latency percentiles.  One fact
    aggregate for first-ship, one priority rollup with a conditional
    share per SLA tier."""
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship")
    )
    j = orders.join(
        first_ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderpriority",
        F.datediff(F.col("ship"), F.col("o_orderdate").cast("date")).alias(
            "days"
        ),
    )
    aggs = [F.count("*").cast("long").alias("n_orders")]
    for d in SLA_DAYS:
        aggs.append(
            F.round(
                F.sum((F.col("days") <= d).cast("long"))
                / F.count("*").cast("double"),
                6,
            ).alias(f"within_{d}d")
        )
    return j.groupBy("o_orderpriority").agg(*aggs)


BACKTEST_POINTS = 3


def forecast_backtest(orders: DataFrame, points: int = BACKTEST_POINTS) -> DataFrame:
    """Forecast backtesting: for each of the last ``points`` months,
    fit the least-squares revenue trend on STRICTLY EARLIER months
    (expanding window, closed-form OLS from exact power sums — the
    same estimator as orders_revenue_forecast) and score the one-step
    prediction; reports per-point prediction vs actual and the
    absolute percentage error (the MAPE inputs).

    Scale: the monthly series is bounded; each backtest point is a
    conditional aggregate over it — `points` tiny aggregates on a
    |months| table, no refits over the fact data."""
    m = F.date_format("o_orderdate", "yyyy-MM")
    monthly = (
        orders.groupBy(m.alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("rev"))
        .localCheckpoint()
    )
    peers = monthly.select(
        F.col("month").alias("_m2"), F.col("rev").alias("_r2")
    )
    # t index of each month = count of months <= it (bounded triangle)
    idx = (
        monthly.join(F.broadcast(peers), F.col("_m2") <= F.col("month"))
        .groupBy("month", "rev")
        .agg(F.count("*").cast("long").alias("t"))
        .localCheckpoint()
    )
    n_months = idx.count()
    parts = []
    for i in range(points):
        cut = n_months - points + i  # train on t <= cut, predict t = cut+1
        train = idx.filter(F.col("t") <= cut)
        sums = train.agg(
            F.count("*").cast("double").alias("n"),
            F.sum("t").cast("double").alias("st"),
            F.sum(F.col("t") * F.col("t")).cast("double").alias("stt"),
            F.sum(F.col("rev").cast("double")).alias("sr"),
            F.sum(F.col("t").cast("double") * F.col("rev").cast("double")).alias(
                "str_"
            ),
        )
        slope = (F.col("str_") - F.col("st") * F.col("sr") / F.col("n")) / (
            F.col("stt") - F.col("st") * F.col("st") / F.col("n")
        )
        intercept = F.col("sr") / F.col("n") - slope * F.col("st") / F.col("n")
        pred = intercept + slope * F.lit(float(cut + 1))
        actual = idx.filter(F.col("t") == cut + 1).select(
            "month", F.col("rev").cast("double").alias("actual")
        )
        parts.append(
            actual.crossJoin(F.broadcast(sums)).select(
                "month",
                F.round(pred, 2).alias("predicted"),
                F.round(F.col("actual"), 2).alias("actual"),
                F.round(
                    F.abs(pred - F.col("actual")) / F.col("actual"), 6
                ).alias("ape"),
            )
        )
    import functools

    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def rank_semantics_audit(orders: DataFrame) -> DataFrame:
    """The three ranking semantics side by side on TIED data: per
    order-priority, rank() (gaps), dense_rank() (no gaps) and
    row_number() (arbitrary-but-deterministic tiebreak) over rounded
    order-value thousands — the semantics choice every ranking query
    silently makes, shown where they diverge.  Returns the first 5
    ranks per priority with the count of each semantic at that level.

    Windows partition by priority (5 bounded partitions of ties
    grouped first — the pre-aggregate keeps them group-sized)."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    kilo = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) div 100000"
    )
    g = orders.groupBy(
        "o_orderpriority", kilo.alias("value_k")
    ).agg(F.count("*").cast("long").alias("n_orders"))
    # rank/dense_rank rank on the TIED key alone (many value bands
    # share a count); row_number adds the deterministic tiebreak —
    # three semantics, two window specs, divergence visible
    w_tied = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n_orders").desc()
    )
    w_det = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n_orders").desc(), F.col("value_k").asc()
    )
    ranked = g.select(
        "o_orderpriority",
        "value_k",
        "n_orders",
        F.rank().over(w_tied).cast("int").alias("rank"),
        F.dense_rank().over(w_tied).cast("int").alias("dense_rank"),
        F.row_number().over(w_det).cast("int").alias("row_number"),
    )
    return ranked.filter(F.col("row_number") <= 5)


DID_CUTOFF = "1999-01-01"


def promo_did(lineitem: DataFrame, part: DataFrame, orders: DataFrame) -> DataFrame:
    """Difference-in-differences: PROMO-type parts (treatment) vs the
    rest (control), before/after the fixed {DID_CUTOFF} cutoff, on the
    average line revenue — the causal-inference primitive behind any
    'did the promotion work' readout (parallel-trends caveat applies;
    this is the estimator, not the identification argument).

    Four conditional DECIMAL sums in one fact pass (part dim
    broadcast for the treatment flag, orders for the date)."""
    j = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("p_type") == "PROMO").alias("treated"),
            (F.col("o_orderdate").cast("date") >= F.lit(DID_CUTOFF)).alias(
                "post"
            ),
            F.col("l_extendedprice").cast("decimal(15,2)").alias("rev"),
        )
    )
    g = j.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev").alias("s"),
    )
    cells = g.select(
        "treated", "post", "n",
        (F.col("s").cast("double") / F.col("n")).alias("avg_rev"),
    )
    p = cells.groupBy().pivot("treated", [True, False]).agg(
        F.max(F.when(F.col("post"), F.col("avg_rev"))).alias("post"),
        F.max(F.when(~F.col("post"), F.col("avg_rev"))).alias("pre"),
    )
    # pivot makes columns true_post/true_pre/false_post/false_pre
    did = (
        (F.col("true_post") - F.col("true_pre"))
        - (F.col("false_post") - F.col("false_pre"))
    )
    return p.select(
        F.round("true_pre", 2).alias("treated_pre"),
        F.round("true_post", 2).alias("treated_post"),
        F.round("false_pre", 2).alias("control_pre"),
        F.round("false_post", 2).alias("control_post"),
        F.round(did, 2).alias("did_estimate"),
    )


def littles_law_audit(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Little's law (L = λW) consistency audit on the order pipeline:
    average work-in-progress L (orders open between placement and first
    shipment, daily +1/-1 interval sweep over the bounded day table)
    vs arrival rate λ (orders/day over the observed span) times average
    wait W (days to first shipment).  The ratio ≈ 1 when the three
    measurements are mutually consistent — the sanity check queueing
    dashboards should run and rarely do.

    Exact integer day arithmetic; the sweep's cumulative rides a
    broadcast triangle join on |days|."""
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship")
    )
    span = orders.join(
        first_ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        F.col("o_orderdate").cast("date").alias("start"),
        F.col("ship").alias("end"),
    ).localCheckpoint()
    deltas = (
        span.select(F.col("start").alias("d"), F.lit(1).alias("c"))
        .unionByName(span.select(F.col("end").alias("d"), F.lit(-1).alias("c")))
        .groupBy("d")
        .agg(F.sum("c").cast("long").alias("net"))
        .localCheckpoint()
    )
    peers = deltas.select(F.col("d").alias("_d2"), F.col("net").alias("_n2"))
    open_by_day = (
        deltas.join(F.broadcast(peers), F.col("_d2") <= F.col("d"))
        .groupBy("d")
        .agg(F.sum("_n2").cast("long").alias("open_orders"))
    )
    l_direct = open_by_day.agg(
        (F.sum("open_orders").cast("double") / F.count("*")).alias("_L"),
        F.count("*").cast("long").alias("n_days_observed"),
    )
    lam_w = span.agg(
        F.count("*").cast("long").alias("n_orders"),
        (
            F.count("*").cast("double")
            / (
                F.datediff(F.max("start"), F.min("start")).cast("double")
                + F.lit(1.0)
            )
        ).alias("_lambda"),
        F.avg(F.datediff(F.col("end"), F.col("start")).cast("double")).alias(
            "_W"
        ),
    )
    return l_direct.crossJoin(F.broadcast(lam_w)).select(
        "n_orders",
        F.round(F.col("_L"), 6).alias("avg_open_L"),
        F.round(F.col("_lambda"), 6).alias("arrival_rate"),
        F.round(F.col("_W"), 6).alias("avg_wait_W"),
        F.round(
            F.col("_L") / (F.col("_lambda") * F.col("_W")), 6
        ).alias("littles_ratio"),
    )


EOQ_SETUP_COST = 100.0
EOQ_HOLD_COST = 2.0
EOQ_TOP_K = 15


def eoq_top_parts(lineitem: DataFrame, k: int = EOQ_TOP_K) -> DataFrame:
    """Economic order quantity per part (EOQ = sqrt(2 D S / H) with the
    declared setup/holding costs) for the top-demand parts — the
    inventory-theory output the ABC-XYZ matrix feeds.  One fact
    aggregate; EOQ is closed-form f64 over the exact demand sum."""
    d = lineitem.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(20,2)")).alias("_d")
    )
    dd = F.col("_d").cast("double")
    eoq = F.sqrt(2.0 * dd * EOQ_SETUP_COST / EOQ_HOLD_COST)
    return (
        d.select(
            "l_partkey",
            F.round(dd, 2).alias("annual_demand"),
            F.round(eoq, 4).alias("eoq"),
            F.round(dd / eoq, 4).alias("orders_per_period"),
        )
        .orderBy(F.col("annual_demand").desc(), F.col("l_partkey").asc())
        .limit(k)
    )


def customers_skyline(orders: DataFrame) -> DataFrame:
    """SKYLINE (Pareto-dominance) operator over per-customer (total
    spend, order count): keep every customer no other customer beats
    on both dimensions (>= on both, > on at least one) — the classic
    multi-objective shortlist.  2D skylines reduce to a staircase
    scan: rank by spend desc, keep each row whose order count exceeds
    the running max of everything ranked above it — both passes ride
    the two-phase ranked_global / ranked_prefix_max helpers, so the
    operator scales like any global ranking, never pairwise.

    Tie semantics: equal (spend, orders) pairs are mutually
    non-dominating — the staircase keeps the smallest custkey (the
    deterministic representative; stated)."""
    from .ranking import ranked_global, ranked_prefix_max

    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("spend"),
        F.count("*").cast("long").alias("n_orders"),
    )
    # ties on spend scan highest-orders first: an equal-spend row with
    # fewer orders is strictly dominated and must see the bigger count
    # in its prefix; full (spend, orders) ties collapse to the smallest
    # custkey representative
    r = ranked_global(
        per,
        [
            F.col("spend").desc(),
            F.col("n_orders").desc(),
            F.col("o_custkey").asc(),
        ],
        rank_name="rnk",
    )
    m = ranked_prefix_max(r, [F.col("rnk").asc()], "n_orders", cum_name="cum")
    first_ach = m.groupBy("cum").agg(F.min("rnk").alias("_first"))
    sky = (
        m.join(F.broadcast(first_ach), "cum")
        .filter((F.col("n_orders") == F.col("cum")) & (F.col("rnk") == F.col("_first")))
    )
    return sky.select(
        "o_custkey",
        F.round(F.col("spend").cast("double"), 2).alias("total_spend"),
        "n_orders",
    )


def trade_reciprocity(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, supplier: DataFrame
) -> DataFrame:
    """Reciprocity of the nation trade graph: the share of directed
    supplier->customer nation edges whose reverse edge also exists —
    the mutual-trade coefficient that complements PageRank (flow
    importance) and BFS (reach).  One fact shuffle builds the edge
    set; reciprocity is a self-join on the |nations|² aggregate."""
    edges = (
        lineitem.join(orders.select("o_orderkey", "o_custkey"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = edges.join(rev, ["src", "dst"], "left_semi")
    n_e = edges.agg(F.count("*").cast("long").alias("n_edges"))
    n_m = mutual.agg(F.count("*").cast("long").alias("n_mutual"))
    return n_e.crossJoin(F.broadcast(n_m)).select(
        "n_edges",
        "n_mutual",
        F.round(
            F.col("n_mutual") / F.col("n_edges").cast("double"), 6
        ).alias("reciprocity"),
    )


DIVISION_K = 2


def customers_division(
    orders: DataFrame, lineitem: DataFrame, k: int = DIVISION_K
) -> DataFrame:
    """RELATIONAL DIVISION — the textbook operator ("customers who
    bought ALL of ...") engines never ship directly: the divisor is
    the top-``k`` most-ordered parts (deterministic: line count desc,
    partkey asc), the dividend the customer-part purchase relation;
    result = customers whose purchases cover the whole divisor,
    expressed as the standard count-distinct == |divisor| rewrite (one
    semi-filtered fact pass + a customer aggregate, never double
    NOT EXISTS)."""
    top = (
        lineitem.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("l_partkey").asc())
        .limit(k)
        .select("l_partkey")
        .localCheckpoint()
    )
    cov = (
        lineitem.join(F.broadcast(top), "l_partkey", "left_semi")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.countDistinct("l_partkey").alias("_nc"))
    )
    return cov.filter(F.col("_nc") == k).select("o_custkey").orderBy(
        "o_custkey"
    )


BOOT_RESAMPLES = 20
# exact Poisson(1) CDF cut points for a uniform-hash weight in {0,1,2,3+}
_POIS = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058)


def bootstrap_ci(orders: DataFrame, resamples: int = BOOT_RESAMPLES) -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean order value: in
    resample r, each row's weight is Poisson(1)-distributed — derived
    by inverting the exact Poisson CDF on a uniform md5 hash of
    (orderkey, r), so every engine reproduces the identical resample —
    and the CI is the min/max band of the resample means (the scalable
    bootstrap: one scan computes ALL resamples as conditional sums,
    nothing is ever actually resampled).

    Output: point estimate, resample count, and the bootstrap band."""
    from ..functions.text import md5_int

    v = F.col("o_totalprice").cast("decimal(15,2)")
    aggs = []
    for r in range(resamples):
        u = (
            md5_int(F.concat_ws("_", F.col("o_orderkey").cast("string"),
                                F.lit(str(r))))
            / F.lit(4294967296.0)
        )
        w = (
            F.when(u < _POIS[0], 0)
            .when(u < _POIS[1], 1)
            .when(u < _POIS[2], 2)
            .otherwise(3)
        )
        aggs.append(F.sum(v * w).alias(f"_s{r}"))
        aggs.append(F.sum(w).cast("long").alias(f"_n{r}"))
    base = orders.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(v).alias("_s"),
        *aggs,
    )
    means = F.array(
        *[
            F.col(f"_s{r}").cast("double") / F.col(f"_n{r}")
            for r in range(resamples)
        ]
    )
    return base.select(
        "n_rows",
        F.round(F.col("_s").cast("double") / F.col("n_rows"), 2).alias(
            "mean_value"
        ),
        F.lit(resamples).cast("int").alias("n_resamples"),
        F.round(F.array_min(means), 2).alias("boot_lo"),
        F.round(F.array_max(means), 2).alias("boot_hi"),
    )


PROVENANCE_TOP = 5


def revenue_cell_provenance(
    orders: DataFrame, customer: DataFrame, nation: DataFrame,
    k: int = PROVENANCE_TOP,
) -> DataFrame:
    """Drill-through provenance: for the TOP revenue cell of the
    per-nation rollup, the ``k`` largest contributing orders with
    their share of the cell — the lineage answer to "why is this
    number big", computed without rescanning (the probe filters to one
    group and heap-selects).  Deterministic tiebreaks throughout."""
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("n_name", "o_orderkey",
             F.col("o_totalprice").cast("decimal(15,2)").alias("rev"))
    cells = j.groupBy("n_name").agg(F.sum("rev").alias("cell_rev"))
    top_cell = cells.orderBy(
        F.col("cell_rev").desc(), F.col("n_name").asc()
    ).limit(1).localCheckpoint()
    drill = (
        j.join(F.broadcast(top_cell), "n_name")
        .orderBy(F.col("rev").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )
    return drill.select(
        "n_name",
        "o_orderkey",
        F.round(F.col("rev").cast("double"), 2).alias("order_value"),
        F.round(
            F.col("rev").cast("double") / F.col("cell_rev").cast("double"), 6
        ).alias("share_of_cell"),
    )


KEYSET_CURSOR = ("1998-06-01", 0)  # (date, orderkey) exclusive cursor
KEYSET_PAGE = 20


def keyset_page(orders: DataFrame) -> DataFrame:
    """Keyset (seek) pagination: the page AFTER a (date, orderkey)
    cursor in (o_orderdate, o_orderkey) order — the O(page) pattern
    that replaces OFFSET (which scans and discards everything before
    it; at 100 TB an OFFSET of a billion is a full sort, a keyset is
    an index seek / pushed-down range filter).  The cursor predicate
    reaches the scan as a pushed filter."""
    d0, k0 = KEYSET_CURSOR
    d = F.col("o_orderdate").cast("date")
    after = (d > F.lit(d0)) | ((d == F.lit(d0)) & (F.col("o_orderkey") > k0))
    return (
        orders.filter(after)
        .select(
            d.alias("o_date"),
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(15,2)").alias("price"),
        )
        .orderBy(F.col("o_date").asc(), F.col("o_orderkey").asc())
        .limit(KEYSET_PAGE)
    )


VELOCITY_LIMIT = 1  # orders per customer per day (same-day repeats flag)


def velocity_screen(orders: DataFrame, limit: int = VELOCITY_LIMIT) -> DataFrame:
    """Velocity screening (fraud ops): customers placing more than
    ``limit`` orders in a single day — per offending customer, their
    peak day rate and days over the limit.  One (customer, day)
    aggregate then a customer rollup."""
    per_day = orders.groupBy(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).agg(F.count("*").cast("long").alias("n"))
    return (
        per_day.groupBy("o_custkey")
        .agg(
            F.max("n").cast("long").alias("peak_daily_orders"),
            F.sum((F.col("n") > limit).cast("long"))
            .cast("long")
            .alias("days_over_limit"),
        )
        .filter(F.col("peak_daily_orders") > limit)
    )


SUBSCRIPTION_CV = 0.35
SUBSCRIPTION_MIN_ORDERS = 4


def subscription_detect(
    orders: DataFrame,
    cv_max: float = SUBSCRIPTION_CV,
    min_orders: int = SUBSCRIPTION_MIN_ORDERS,
) -> DataFrame:
    """Subscription-pattern detection: customers whose inter-order gaps
    are REGULAR (coefficient of variation <= ``cv_max`` over >=
    ``min_orders`` orders) — the replenishment/subscription cohort a
    retention team treats differently from impulse buyers.  Gaps from
    one per-customer lag pass; CV from exact integer day sums."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    g = gaps.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap").cast("decimal(38,0)").alias("s1"),
        F.sum((F.col("gap") * F.col("gap")).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        n - F.lit(1.0)
    )
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / mean
    return (
        g.filter(F.col("n_gaps") >= min_orders - 1)
        .select(
            "o_custkey",
            (F.col("n_gaps") + 1).cast("long").alias("n_orders"),
            F.round(mean, 4).alias("mean_gap_days"),
            F.round(cv, 6).alias("gap_cv"),
        )
        .filter(F.col("gap_cv") <= cv_max)  # gap_cv is already ROUND 6
    )


LATENCY_MW_GROUPS = ("1-URGENT", "5-LOW")


def latency_inversion_mw(
    orders: DataFrame, lineitem: DataFrame,
    groups: tuple[str, str] = LATENCY_MW_GROUPS,
) -> DataFrame:
    """Does priority actually buy speed?  Mann-Whitney U on order-to-
    first-ship days between the {LATENCY_MW_GROUPS} classes — a
    location shift toward zero for URGENT is the service working; z
    near 0 means priority is theater.  Same exact midrank machinery as
    lineitem_mann_whitney on the bounded day domain."""
    a_key, b_key = groups
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship")
    )
    days = (
        orders.filter(F.col("o_orderpriority").isin(a_key, b_key))
        .join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.datediff(F.col("ship"), F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("v"),
        )
    )
    counts = days.groupBy("v").agg(
        F.sum((F.col("grp") == a_key).cast("long")).alias("c_a"),
        F.sum((F.col("grp") == b_key).cast("long")).alias("c_b"),
    ).withColumn("n_v", F.col("c_a") + F.col("c_b"))
    other = counts.select(F.col("v").alias("_v2"), F.col("n_v").alias("_n2"))
    before = (
        counts.join(F.broadcast(other), F.col("_v2") < F.col("v"), "left")
        .groupBy("v", "c_a", "c_b", "n_v")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("cb"))
    )
    two_mid = (F.lit(2) * F.col("cb") + F.col("n_v") + 1).cast("decimal(38,0)")
    agg = before.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        (F.sum(F.col("c_a").cast("decimal(38,0)") * two_mid) / 2)
        .cast("decimal(38,1)")
        .alias("r_a"),
        F.sum(
            (
                F.col("n_v").cast("decimal(38,0)")
                * F.col("n_v")
                * F.col("n_v")
                - F.col("n_v")
            ).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("tie_sum"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = n_a + n_b
    u = F.col("r_a").cast("double") - n_a * (n_a + 1.0) / 2.0
    mean_u = n_a * n_b / 2.0
    var_u = (
        n_a * n_b / 12.0
        * ((n + 1.0) - F.col("tie_sum").cast("double") / (n * (n - 1.0)))
    )
    z = (u - mean_u) / F.sqrt(var_u)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u, 1).alias("u_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("latency_differs"),
    )


SLA_TREND_DAYS = 14


def sla_trend(orders: DataFrame, lineitem: DataFrame, days: int = SLA_TREND_DAYS) -> DataFrame:
    """Fulfilment trend: the share of orders first-shipped within
    {SLA_TREND_DAYS} days, by order QUARTER — is the pipeline getting
    faster or slower over time (the direction the point-in-time SLA
    scorecard can't show).  Same one-pass first-ship aggregate, then a
    |quarters|-row rollup with QoQ delta via a bounded lag."""
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship")
    )
    j = orders.join(
        first_ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        F.concat_ws(
            "-",
            F.year("o_orderdate").cast("string"),
            F.quarter("o_orderdate").cast("string"),
        ).alias("quarter"),
        (
            F.datediff(F.col("ship"), F.col("o_orderdate").cast("date"))
            <= days
        ).alias("ok"),
    )
    q = j.groupBy("quarter").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("ok").cast("long")) / F.count("*").cast("double"), 6
        ).alias("on_time_share"),
    )
    w = Window.orderBy("quarter")  # |quarters| rows — calendar-bounded
    return q.withColumn(
        "qoq_delta",
        F.round(
            F.col("on_time_share") - F.lag("on_time_share").over(w), 6
        ),
    )


TRIM_FRAC = 0.05  # symmetric tail fraction for trimmed/winsorized stats


def trimmed_winsorized_stats(
    lineitem: DataFrame, frac: float = TRIM_FRAC
) -> DataFrame:
    """Robust location per return flag: plain mean, TRIMMED mean (drop
    the lowest/highest floor(frac*n) prices) and WINSORIZED mean (clamp
    those tails to the surviving boundary values) of l_extendedprice —
    the outlier-tolerant KPI pair next to the IQR fences.

    Exactness: rank is the two-phase range-partitioned row_number
    (ranked_global, grouped) with (price, orderkey, linenumber) as the
    total order, so tail membership is deterministic; sums stay DECIMAL
    until the final divide.  Plan: one range repartition + local sort,
    the counts triangle join, one filtered aggregate, and a broadcast
    join of the two boundary rows per group — no single-partition
    window anywhere."""
    from .ranking import ranked_global

    base = lineitem.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = ranked_global(
        base,
        [F.col("price").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        group_cols=["flag"],
        rank_name="rnk",
        total_name="n",
    )
    ranked = ranked.withColumn(
        "lo", F.floor(F.col("n") * F.lit(float(frac))).cast("long")
    )
    kept = ranked.filter(
        (F.col("rnk") > F.col("lo")) & (F.col("rnk") <= F.col("n") - F.col("lo"))
    )
    kept_agg = kept.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max("lo").alias("n_trimmed_each"),
        F.sum("price").alias("_ksum"),
        F.count(F.lit(1)).alias("_kn"),
    )
    bounds = (
        ranked.filter(
            (F.col("rnk") == F.col("lo") + 1) | (F.col("rnk") == F.col("n") - F.col("lo"))
        )
        .groupBy("flag")
        .agg(F.min("price").alias("_pl"), F.max("price").alias("_ph"))
    )
    full = lineitem.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum("l_extendedprice").alias("_fsum")
    )
    return (
        kept_agg.join(F.broadcast(bounds), "flag")
        .join(F.broadcast(full), "flag")
        .select(
            "flag",
            "n",
            "n_trimmed_each",
            F.round(F.col("_fsum").cast("double") / F.col("n"), 6).alias("mean"),
            F.round(F.col("_ksum").cast("double") / F.col("_kn"), 6).alias(
                "trimmed_mean"
            ),
            F.round(
                (
                    F.col("_ksum")
                    + (F.col("_pl") + F.col("_ph")).cast("decimal(28,2)")
                    * F.col("n_trimmed_each")
                ).cast("double")
                / F.col("n"),
                6,
            ).alias("winsorized_mean"),
        )
    )


def theil_decomposition(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Theil-T inequality of customer spend DECOMPOSED into
    between-nation and within-nation components — the additive
    inequality accounting Gini cannot do (T = T_between + sum of
    income-share-weighted within-group T_g): is spend concentration a
    geography story or an individual-whale story?

    Determinism contract: every ln-bearing term is ROUNDed to 9
    decimals then summed as DECIMAL(38,12) (the Kaplan-Meier rounded-ln
    recipe), so no f64 sum ever crosses a shuffle boundary; group means
    are one decimal->double cast + divide, identical in both engines.

    Plan: one customer aggregate off the fact (nation attached by a
    broadcast dim join), per-row terms against the broadcast 25-row
    group-stats table, two scalar folds."""
    per = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("g"), "o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("x"))
        .localCheckpoint()
    )
    gs = per.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("x").alias("sg")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("s")
    )
    mu_g = F.col("sg").cast("double") / F.col("ng")
    mu = F.col("s").cast("double") / F.col("n")
    xd = F.col("x").cast("double")

    def t9(c):
        return F.round(c, 9).cast("decimal(38,12)")

    terms = (
        per.join(F.broadcast(gs), "g")
        .crossJoin(F.broadcast(tot))
        .select(
            "g",
            "ng",
            "sg",
            "n",
            "s",
            t9((xd / mu_g) * F.log(xd / mu_g)).alias("wg_term"),
            t9((xd / mu) * F.log(xd / mu)).alias("tt_term"),
        )
    )
    wg = terms.groupBy("g", "ng", "sg", "n", "s").agg(
        F.sum("wg_term").alias("sw"), F.sum("tt_term").alias("st_g")
    )
    share = F.col("sg").cast("double") / F.col("s").cast("double")
    folded = wg.agg(
        F.max("n").alias("n_customers"),
        F.sum(t9(share * (F.col("sw").cast("double") / F.col("ng")))).alias(
            "_tw"
        ),
        F.sum(
            t9(
                share
                * F.log(
                    (F.col("sg").cast("double") / F.col("ng"))
                    / (F.col("s").cast("double") / F.col("n"))
                )
            )
        ).alias("_tb"),
        F.sum("st_g").alias("_st"),
    )
    return folded.select(
        "n_customers",
        F.round(F.col("_st").cast("double") / F.col("n_customers"), 6).alias(
            "theil_total"
        ),
        F.round(F.col("_tb").cast("double"), 6).alias("theil_between"),
        F.round(F.col("_tw").cast("double"), 6).alias("theil_within"),
        (
            F.round(
                F.col("_st").cast("double") / F.col("n_customers")
                - F.col("_tb").cast("double")
                - F.col("_tw").cast("double"),
                6,
            )
            + F.lit(0.0)  # normalize -0.0
        ).alias("residual"),
    )


def daily_runs_test(orders: DataFrame) -> DataFrame:
    """Wald-Wolfowitz RUNS TEST on the daily-revenue series: are
    above/below-median days randomly interleaved, or do they clump
    (momentum / regime persistence the dispersion index can't see)?
    R = observed runs of consecutive same-side days vs its null
    expectation 1 + 2*n1*n2/n with the closed-form variance; days equal
    to the median are dropped (the standard tie rule, stated).

    Exactness: the reference median is the lower-median rank value on
    the two-phase rank; run counting is the shifted-rank equi-join (no
    orderBy-only lag window); everything stays integer until the final
    z formula.  The daily table is |days| rows — every step after the
    one date aggregate is bounded."""
    from .ranking import ranked_global

    daily = (
        orders.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
        .localCheckpoint()
    )
    by_rev = ranked_global(
        daily, [F.col("rev").asc(), F.col("d").asc()], rank_name="vr",
        total_name="nd",
    )
    med = by_rev.filter(
        F.col("vr") == F.ceil(F.col("nd") / 2).cast("long")
    ).select(F.col("rev").alias("med"))
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("med"))
        .select(
            "d", F.when(F.col("rev") > F.col("med"), 1).otherwise(0).alias("up")
        )
    )
    seq = ranked_global(signed, [F.col("d").asc()], rank_name="t")
    nxt = seq.select(
        (F.col("t") - 1).alias("t"), F.col("up").alias("up_next")
    )
    flips = (
        seq.join(nxt, "t")
        .agg(
            F.sum(
                F.when(F.col("up") != F.col("up_next"), 1).otherwise(0)
            ).alias("_flips")
        )
    )
    counts = signed.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_used"),
        F.sum("up").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("up")).cast("long").alias("n_below"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    n = n1 + n2
    runs = (F.col("_flips") + 1).cast("long")
    mu = 1.0 + 2.0 * n1 * n2 / n
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) / (n * n * (n - 1.0))
    return counts.crossJoin(F.broadcast(flips)).select(
        "n_days_used",
        "n_above",
        "n_below",
        runs.alias("runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round(
            F.try_divide(
                runs.cast("double") - mu, F.nullif(F.sqrt(var), F.lit(0.0))
            ),
            6,
        ).alias("z"),
    )


DIM_WIDTH_BYTES = {
    # static width estimates for the dimension tables the FK edges
    # reference (the fact widths live in ROW_WIDTH_BYTES)
    "customer": 180,
    "supplier": 160,
    "part": 140,
    "nation": 120,
    "region": 120,
}
BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024  # Spark's autoBroadcastJoinThreshold default


def join_strategy_advisor(tables: dict[str, DataFrame]) -> DataFrame:
    """Join-strategy advisor over the declared FK edges: per join,
    estimated bytes on each side (row count x static width) and the
    physical strategy the numbers justify — broadcast the parent when
    it fits under spark.sql.autoBroadcastJoinThreshold (10 MB default),
    broadcast the child in the rare inverted case, else shuffle-merge
    with a bucketing recommendation.  This is the arithmetic AQE does
    at runtime, surfaced as a planning table — at 100 TB the wrong
    side broadcast is an OOM and the missing broadcast is a full fact
    shuffle.

    One COUNT(*) per distinct table (parquet footer metadata in
    practice), then pure per-edge arithmetic on the |edges|-row
    aggregate."""
    from .validate import FK_EDGES

    widths = {**ROW_WIDTH_BYTES, **DIM_WIDTH_BYTES}
    counts: dict[str, DataFrame] = {}
    for name in sorted({t for _, c, _, p, _ in FK_EDGES for t in (c, p)}):
        counts[name] = (
            tables[name]
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .localCheckpoint()
        )
    out = None
    for edge, child_t, _ck, parent_t, _pk in FK_EDGES:
        cw, pw = widths[child_t], widths[parent_t]
        row = (
            counts[child_t]
            .select(F.col("n").alias("child_rows"))
            .crossJoin(counts[parent_t].select(F.col("n").alias("parent_rows")))
            .select(
                F.lit(edge).alias("edge"),
                "child_rows",
                "parent_rows",
                (F.col("child_rows") * cw).cast("long").alias("child_bytes"),
                (F.col("parent_rows") * pw).cast("long").alias("parent_bytes"),
                F.when(
                    F.col("parent_rows") * pw <= BROADCAST_THRESHOLD_BYTES,
                    F.lit("broadcast_parent"),
                )
                .when(
                    F.col("child_rows") * cw <= BROADCAST_THRESHOLD_BYTES,
                    F.lit("broadcast_child"),
                )
                .otherwise(F.lit("shuffle_merge_bucket"))
                .alias("strategy"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


FRAME_DEMO_DAYS = 10


def window_frame_semantics(orders: DataFrame, days: int = FRAME_DEMO_DAYS) -> DataFrame:
    """ROWS vs RANGE frame semantics, shown where they diverge: a
    running revenue total ordered by order DATE is ambiguous at
    order grain — RANGE includes every tied-date order in the frame,
    ROWS stops at the current row — so the 'same' cumulative differs
    mid-tie by exactly (date revenue - revenue seen so far within the
    date).  Reported per date for the first ``days`` dates: the RANGE
    total, the ROWS total as of the date's FIRST order (min orderkey),
    and the divergence — the silently-made frame choice, quantified.

    Scale: order grain never meets a window — the demo is computed on
    the bounded daily aggregate (prefix sums via the broadcast triangle
    join, the bounded-table recipe) plus one arg-min lookup per date."""
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("rev"),
            F.min_by("o_totalprice", "o_orderkey")
            .cast("decimal(15,2)")
            .alias("first_rev"),
        )
        .localCheckpoint()
    )
    other = daily.select(F.col("d").alias("_d2"), F.col("rev").alias("_r2"))
    cum = (
        daily.join(F.broadcast(other), F.col("_d2") <= F.col("d"))
        .groupBy("d", "n_orders", "rev", "first_rev")
        .agg(F.sum("_r2").alias("range_total"))
    )
    return (
        cum.orderBy(F.col("d").asc())
        .limit(days)
        .select(
            "d",
            "n_orders",
            F.col("range_total").cast("decimal(20,2)").alias("range_total"),
            (F.col("range_total") - F.col("rev") + F.col("first_rev"))
            .cast("decimal(20,2)")
            .alias("rows_total_at_first"),
            (F.col("rev") - F.col("first_rev"))
            .cast("decimal(20,2)")
            .alias("divergence"),
        )
    )


AGING_BANDS = ((90, "000-090d"), (365, "091-365d"), (730, "366-730d"))
AGING_TAIL = "730d+"


def backlog_aging(orders: DataFrame) -> DataFrame:
    """Open-order BACKLOG AGING: orders still in status 'O' bucketed by
    age (days since order date, relative to the dataset's latest order
    date — the as-of watermark), with count, locked-up value, value
    share, and mean age per band — the WIP report that prices how stale
    the open book is.

    One scan: the as-of date is a broadcast scalar aggregate; bands are
    a CASE expression; the aggregate is |bands| rows.  DECIMAL value
    sums; mean age from integer day sums."""
    asof = orders.agg(F.max("o_orderdate").alias("_asof"))
    age = F.datediff(F.col("_asof"), F.col("o_orderdate"))
    band = F.when(age <= AGING_BANDS[0][0], AGING_BANDS[0][1])
    for days, label in AGING_BANDS[1:]:
        band = band.when(age <= days, label)
    band = band.otherwise(AGING_TAIL)
    open_orders = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .select(
            band.alias("age_band"),
            age.cast("long").alias("_age"),
            _dec("o_totalprice").alias("_v"),
        )
    )
    per = open_orders.groupBy("age_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("_v").alias("_val"),
        F.sum("_age").alias("_ages"),
    )
    tot = per.agg(F.sum("_val").alias("_tv"))
    return per.crossJoin(F.broadcast(tot)).select(
        "age_band",
        "n_orders",
        F.col("_val").cast("decimal(20,2)").alias("backlog_value"),
        F.round(
            F.col("_val").cast("double") / F.col("_tv").cast("double"), 6
        ).alias("value_share"),
        F.round(F.col("_ages") / F.col("n_orders"), 6).alias("mean_age_days"),
    )


HILL_K = 100  # top-order statistics used by the tail-index estimator


def hill_tail_index(orders: DataFrame, k: int = HILL_K) -> DataFrame:
    """Hill estimator of the Pareto tail index of order values:
    H = mean ln(x_(i) / x_(k+1)) over the top-k order statistics,
    alpha = 1/H — the quantitative heavy-tail number behind the Pareto
    deciles (alpha < 2: variance effectively infinite, sampling and
    mean-based KPIs misbehave).

    Plan: the top-(k+1) set comes from a TakeOrdered heap (per-
    partition heaps, no global sort); every ln term is ROUNDed to 9
    and summed as DECIMAL over the request-sized k rows."""
    top = (
        orders.select(_dec("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.col("x").desc(), F.col("o_orderkey").asc())
        .limit(k + 1)
        .localCheckpoint()
    )
    thr = top.agg(F.min("x").alias("_thr"))
    terms = (
        top.orderBy(F.col("x").desc(), F.col("o_orderkey").asc())
        .limit(k)  # drop exactly the (k+1)-th row — it IS the threshold
        .crossJoin(F.broadcast(thr))
        .select(
            F.round(
                F.log(F.col("x").cast("double") / F.col("_thr").cast("double")), 9
            )
            .cast("decimal(38,12)")
            .alias("t"),
            F.col("_thr"),
        )
    )
    agg = terms.groupBy("_thr").agg(F.sum("t").alias("_s"), F.count(F.lit(1)).alias("_k"))
    h = F.col("_s").cast("double") / F.col("_k")
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_thr").cast("decimal(15,2)").alias("threshold"),
        F.round(h, 6).alias("hill_h"),
        F.round(
            F.try_divide(F.lit(1.0), F.nullif(h, F.lit(0.0))), 6
        ).alias("tail_alpha"),
    )


def categorical_mutual_info(
    part: DataFrame, col_x: str = "p_brand", col_y: str = "p_type"
) -> DataFrame:
    """Mutual information (bits) between two categorical part
    attributes, with both marginal entropies and the normalized MI —
    the information-theoretic dependence measure next to chi-square /
    Cramér's V (MI reads in bits: how much knowing the brand tells you
    about the type; NMI = MI/min(Hx,Hy) puts it on [0,1]).

    Exactness: every p*log2 term is ROUNDed to 9 then summed as
    DECIMAL(38,12).  Plan: one (x,y) cell aggregate (|X||Y| rows),
    marginals re-aggregated from the cells, three scalar folds."""
    cells = (
        part.groupBy(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    mx = cells.groupBy("x").agg(F.sum("n").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("n").alias("ny"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))

    def t9(c):
        return F.round(c, 9).cast("decimal(38,12)")

    mi = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            t9(
                (F.col("n") / F.col("nn"))
                * F.log2(
                    (F.col("n").cast("double") * F.col("nn"))
                    / (F.col("nx").cast("double") * F.col("ny"))
                )
            ).alias("t")
        )
        .agg(F.sum("t").alias("_mi"))
    )

    def entropy(marg: DataFrame, cnt: str) -> DataFrame:
        return (
            marg.crossJoin(F.broadcast(tot))
            .select(
                t9(
                    (F.col(cnt) / F.col("nn"))
                    * F.log2(F.col(cnt) / F.col("nn"))
                ).alias("t")
            )
            .agg((-F.sum("t")).alias("_h"))
        )

    hx = entropy(mx, "nx").select(F.col("_h").alias("_hx"))
    hy = entropy(my, "ny").select(F.col("_h").alias("_hy"))
    nx_cnt = mx.agg(F.count(F.lit(1)).cast("long").alias("n_x_values"))
    ny_cnt = my.agg(F.count(F.lit(1)).cast("long").alias("n_y_values"))
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(nx_cnt))
        .crossJoin(F.broadcast(ny_cnt))
        .select(
            F.col("nn").alias("n_rows"),
            "n_x_values",
            "n_y_values",
            F.round(F.col("_mi").cast("double"), 6).alias("mi_bits"),
            F.round(F.col("_hx").cast("double"), 6).alias("h_x_bits"),
            F.round(F.col("_hy").cast("double"), 6).alias("h_y_bits"),
            F.round(
                F.try_divide(
                    F.col("_mi").cast("double"),
                    F.nullif(
                        F.least(
                            F.col("_hx").cast("double"), F.col("_hy").cast("double")
                        ),
                        F.lit(0.0),
                    ),
                ),
                6,
            ).alias("nmi"),
        )
    )


def trade_flow_balance(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Trade-flow BALANCE per nation: cross-nation export revenue
    (as supplier) vs import revenue (as customer), net balance, and
    the normalized imbalance (net / total two-way flow) — the
    surplus/deficit read on the same edge aggregate PageRank and
    reciprocity consume.

    One fact-fact shuffle builds the revenue edges (dims broadcast);
    exports/imports are two re-aggregations of the |nations|² edge
    table; DECIMAL-exact revenue."""
    edges = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.sum(_dec("l_extendedprice")).alias("rev"))
        .localCheckpoint()
    )
    exports = edges.groupBy(F.col("src").alias("nk")).agg(
        F.sum("rev").alias("export_rev")
    )
    imports = edges.groupBy(F.col("dst").alias("nk")).agg(
        F.sum("rev").alias("import_rev")
    )
    j = (
        nation.select(F.col("n_nationkey").alias("nk"), "n_name")
        .join(F.broadcast(exports), "nk", "left")
        .join(F.broadcast(imports), "nk", "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("export_rev"), F.lit(0).cast("decimal(25,2)"))
            .cast("decimal(25,2)")
            .alias("export_rev"),
            F.coalesce(F.col("import_rev"), F.lit(0).cast("decimal(25,2)"))
            .cast("decimal(25,2)")
            .alias("import_rev"),
        )
    )
    net = F.col("export_rev") - F.col("import_rev")
    tot = F.col("export_rev") + F.col("import_rev")
    return j.select(
        "nation",
        "export_rev",
        "import_rev",
        net.cast("decimal(25,2)").alias("net_balance"),
        F.round(
            F.try_divide(
                net.cast("double"), F.nullif(tot.cast("double"), F.lit(0.0))
            ),
            6,
        ).alias("imbalance"),
    )


def segment_stability_kappa(
    orders: DataFrame, y1: int = 1995, y2: int = 1996, k: int = MIGRATION_TILES
) -> DataFrame:
    """Cohen's KAPPA of the year-over-year spend segmentation: the
    chance-corrected agreement between a customer's year-1 and year-2
    tercile — the single-number answer to 'is the migration matrix
    diagonal by loyalty or by luck' (kappa 0 = tile sizes alone explain
    every diagonal cell; 1 = perfectly sticky segments).

    Works on the same |k|² matrix the migration query renders
    (customers active in both years), so the expensive part — two
    two-phase ntile passes — is shared machinery; kappa itself is
    closed-form integer arithmetic over k² cells."""
    from .ranking import grouped_ntile

    def tiles(year: int, name: str) -> DataFrame:
        sp = (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.sum(_dec("o_totalprice")).alias("spend"))
        )
        return grouped_ntile(
            sp, [F.col("spend").desc(), F.col("o_custkey").asc()], k, name
        ).select("o_custkey", name)

    cells = (
        tiles(y1, "s1")
        .join(tiles(y2, "s2"), "o_custkey")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    m1 = cells.groupBy("s1").agg(F.sum("n").alias("n1"))
    m2 = cells.groupBy("s2").agg(F.sum("n").alias("n2"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))
    po = (
        cells.filter(F.col("s1") == F.col("s2"))
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("agree"))
    )
    pe_sum = (
        m1.join(m2, m1.s1 == m2.s2)
        .agg(F.sum(F.col("n1") * F.col("n2")).cast("long").alias("pe_n"))
    )
    return (
        tot.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe_sum))
        .select(
            F.col("nn").alias("n_customers_both_years"),
            F.col("agree").alias("n_same_segment"),
            F.round(F.col("agree") / F.col("nn"), 6).alias("observed_agreement"),
            F.round(
                F.col("pe_n") / (F.col("nn").cast("double") * F.col("nn")), 6
            ).alias("expected_agreement"),
            F.round(
                F.try_divide(
                    F.col("agree") / F.col("nn")
                    - F.col("pe_n") / (F.col("nn").cast("double") * F.col("nn")),
                    F.nullif(
                        F.lit(1.0)
                        - F.col("pe_n")
                        / (F.col("nn").cast("double") * F.col("nn")),
                        F.lit(0.0),
                    ),
                ),
                6,
            ).alias("kappa"),
        )
    )


COVISIT_MIN_CO = 2
COVISIT_TOPK = 3
# Whale-basket guard (VERDICT r02 item 3): pair explosion is quadratic
# in basket size, so baskets are capped to the top-N parts per customer
# by the deterministic md5(cust#part) hash rank BEFORE pairing — one
# 10k-part account at production scale would otherwise emit a 100M-row
# task.  Hash rank = content-stable unbiased sample of the basket; the
# same rule is stated in the oracle SQL.
COVISIT_BASKET_CAP = 24


def _covisit_hash_rank() -> Column:
    """row_number ordering column: md5(cust#part) — the holdout gate's
    hash, reused as the basket-sampling rank."""
    from ..functions.text import md5_int

    return md5_int(
        F.concat_ws(
            "#", F.col("o_custkey").cast("string"), F.col("l_partkey").cast("string")
        )
    )


def item_covisit_recs(
    orders: DataFrame,
    lineitem: DataFrame,
    min_co: int = COVISIT_MIN_CO,
    topk: int = COVISIT_TOPK,
    basket_cap: int = COVISIT_BASKET_CAP,
) -> DataFrame:
    """Item-item COLLABORATIVE FILTERING: per part, the top-k parts
    most co-purchased by the same customers, ranked by co-visitation
    cosine co(a,b)/sqrt(n(a)n(b)) — the classic neighborhood
    recommender ('customers who bought X also bought'), the
    customer-grain sibling of brand_affinity's order-grain lift.

    Plan: the distinct purchase relation is hash-rank-capped at
    {COVISIT_BASKET_CAP} parts per customer (the whale-basket guard:
    pair volume is quadratic in basket size, so the cap bounds every
    customer at cap*(cap-1)/2 pairs); pair counts come from a
    customer-keyed equi-self-join of the capped relation (measured 3x
    faster than in-expression array explosion — nested HOF transforms
    are interpreted); item supports and pair counts are two
    aggregates; the per-part top-k is a rank-limit window on the pair
    aggregate.  Exact integers into one rounded cosine.

    Round 9 (guide §2.4): the joined purchase rows are repartitioned by
    o_custkey ONCE and that single exchange serves both the distinct
    (a hash-partitioning on a subset of the dedup keys satisfies its
    required distribution) and the basket-cap window — the former plan
    shuffled on (custkey, partkey) for the distinct and AGAIN on
    custkey for the window, with the distinct's partial dedup barely
    reducing rows (a (cust, part) pair repeats only when the same
    customer reorders the same part)."""
    rel = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .repartition(F.col("o_custkey"))
        .distinct()
    )
    wc = Window.partitionBy("o_custkey").orderBy(
        _covisit_hash_rank().asc(), F.col("l_partkey").asc()
    )
    # localCheckpoint deliberately kept (r08 A/B): dropping it to let
    # the window's hash(o_custkey) partitioning flow into the pair
    # self-join re-ran the join+distinct+window subtree per consumer
    # and benched 35% SLOWER at sf0.1 (2.6 -> 3.5 s) — recompute
    # dominates the extra exchanges here.
    capped = (
        rel.withColumn("_r", F.row_number().over(wc))
        .filter(F.col("_r") <= basket_cap)
        .drop("_r")
        .localCheckpoint()
    )
    pairs = _pair_counts(capped, min_co)
    support = (
        capped.groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .localCheckpoint()
    )
    sym = _symmetrize_pairs(pairs)
    # support is part-dimension-sized: broadcast both sides so the pair
    # aggregate is never re-shuffled (it dwarfs the support table).
    scored = (
        sym.join(
            F.broadcast(
                support.select(F.col("pk").alias("a"), F.col("n_cust").alias("na"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                support.select(F.col("pk").alias("b"), F.col("n_cust").alias("nb"))
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "co",
            F.round(
                F.col("co")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("a").orderBy(
        F.col("cosine").desc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select(
            F.col("a").alias("part_id"),
            F.col("b").alias("rec_part_id"),
            F.col("co").cast("long").alias("n_co_customers"),
            "cosine",
            "rnk",
        )
    )


def _symmetrize_pairs(pairs: DataFrame) -> DataFrame:
    """Both directions of an (a < b, co) pair-count table in ONE pass:
    explode each row into its (a,b) and (b,a) structs instead of a
    self-union — the union's second branch re-ran the pair join +
    aggregate (two extra exchanges in the initial plan; guide §2.4),
    where the explode doubles rows inside the same stage."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("a"), F.col("b").alias("b"),
                    F.col("co").alias("co"),
                ),
                F.struct(
                    F.col("b").alias("a"), F.col("a").alias("b"),
                    F.col("co").alias("co"),
                ),
            )
        ).alias("_p")
    ).select("_p.a", "_p.b", "_p.co")


def _pair_counts(rel: DataFrame, min_co: int) -> DataFrame:
    """(a < b, co) pair counts from a basket-capped distinct
    (o_custkey, l_partkey) relation via a customer-keyed
    equi-self-join — each customer group streams at most cap^2
    combinations through the a<b filter into the pair aggregate.
    (The in-expression array-explosion alternative benches 3x slower:
    nested transform/slice/flatten HOFs run interpreted.)"""
    return (
        rel.alias("x")
        .join(
            rel.alias("y"),
            (F.col("x.o_custkey") == F.col("y.o_custkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= min_co)
    )


def _covisit_scored_pairs(rel: DataFrame, min_co: int) -> DataFrame:
    """Symmetrized co-visitation cosine pairs from a (basket-capped)
    distinct (o_custkey, l_partkey) purchase relation — shared by the
    recommender and its holdout evaluation."""
    # NOT checkpointed: the symmetrizing union's branches share the
    # pair aggregation's exchange (ReusedExchange), so a pin only adds
    # an eager job (measured neutral-to-worse at sf0.1)
    pairs = _pair_counts(rel, min_co)
    support = rel.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    ).localCheckpoint()
    sym = _symmetrize_pairs(pairs)
    return (
        sym.join(
            F.broadcast(
                support.select(F.col("pk").alias("a"), F.col("n_cust").alias("na"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                support.select(F.col("pk").alias("b"), F.col("n_cust").alias("nb"))
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "co",
            F.round(
                F.col("co") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )


def covisit_holdout_eval(
    orders: DataFrame,
    lineitem: DataFrame,
    min_co: int = COVISIT_MIN_CO,
    topk: int = COVISIT_TOPK,
    basket_cap: int = COVISIT_BASKET_CAP,
) -> DataFrame:
    """LEAVE-ONE-OUT evaluation of the co-visitation recommender: per
    multi-part customer, hide one deterministic purchase (min
    md5(cust#part) — the content-stable holdout gate), rebuild the
    item-item top-{COVISIT_TOPK} lists from the remaining relation,
    score each user's candidates as the DECIMAL-exact sum of cosines
    from their kept items' rec lists (already-owned items excluded),
    and measure hit@k of the hidden item — the recommender quality
    number, not just the similarity table.

    Scale: everything reuses the bounded covisit machinery; the user
    scoring join is |kept relation| x top-k rows; the per-user top-k is
    a rank-limit window."""
    from ..functions.text import md5_int

    # single hash(o_custkey) exchange feeding distinct + both windows
    # (round 9, same rationale as item_covisit_recs)
    rel = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .repartition(F.col("o_custkey"))
        .distinct()
    )
    wh = Window.partitionBy("o_custkey")
    h = md5_int(
        F.concat_ws(
            "#", F.col("o_custkey").cast("string"), F.col("l_partkey").cast("string")
        )
    )
    # localCheckpoint deliberately kept (r08 A/B, same verdict as
    # item_covisit_recs): lineage-preserved partitioning benched 4.0 ->
    # 6.0 s — the 5-consumer recompute of join+distinct+window costs
    # far more than the re-shuffles the checkpoint forces.
    marked = rel.select(
        "o_custkey",
        "l_partkey",
        F.row_number()
        .over(wh.orderBy(h.asc(), F.col("l_partkey").asc()))
        .alias("_r"),
        F.count(F.lit(1)).over(wh).alias("_n"),
    ).localCheckpoint()
    holdout = marked.filter((F.col("_r") == 1) & (F.col("_n") >= 2)).select(
        "o_custkey", F.col("l_partkey").alias("held")
    )
    # training baskets get the same whale-basket cap as the recommender
    # (hash ranks are contiguous 1..n, rank 1 is the held-out item, so
    # r <= cap+1 keeps exactly `cap` training parts per customer)
    train = marked.filter(
        ((F.col("_r") > 1) | (F.col("_n") < 2))
        & (F.col("_r") <= basket_cap + 1)
    ).select("o_custkey", "l_partkey")
    scored = _covisit_scored_pairs(train, min_co)
    wr = Window.partitionBy("a").orderBy(F.col("cosine").desc(), F.col("b").asc())
    recs = (
        scored.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= topk)
        .select("a", "b", "cosine")
    )
    # exclude already-owned candidates: anti-join on (user, cand);
    # recs is top-k-per-part-sized — broadcast it at the scoring join
    cand = (
        train.join(F.broadcast(recs), train.l_partkey == recs.a)
        .select("o_custkey", F.col("b").alias("cand"), F.col("cosine"))
        .join(
            train.select("o_custkey", F.col("l_partkey").alias("cand")),
            ["o_custkey", "cand"],
            "left_anti",
        )
        .groupBy("o_custkey", "cand")
        .agg(
            F.sum(F.col("cosine").cast("decimal(18,6)")).alias("score")
        )
    )
    wu = Window.partitionBy("o_custkey").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    top = (
        cand.withColumn("_rk", F.row_number().over(wu))
        .filter(F.col("_rk") <= topk)
    )
    hits = holdout.join(
        top.select("o_custkey", F.col("cand").alias("held")),
        ["o_custkey", "held"],
        "left_semi",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    n_eval = holdout.agg(F.count(F.lit(1)).cast("long").alias("n_users_eval"))
    return n_eval.crossJoin(F.broadcast(hits)).select(
        "n_users_eval",
        "n_hits",
        # no multi-part customers => nothing to evaluate => NULL rate
        # (ANSI /0 would abort the job; mirrored with NULLIF in SQL)
        F.round(
            F.try_divide(
                F.col("n_hits"),
                F.nullif(F.col("n_users_eval"), F.lit(0)),
            ),
            6,
        ).alias(f"hit_rate_at_{topk}"),
    )


RFM_KMEANS_SEEDS = (0, 40, 80, 120)  # deterministic seed customers
RFM_KMEANS_ITERS = 2


def rfm_kmeans_segments(
    orders: DataFrame,
    seeds: tuple[int, ...] = RFM_KMEANS_SEEDS,
    iters: int = RFM_KMEANS_ITERS,
) -> DataFrame:
    """K-MEANS over z-scored RFM features: the clustering counterpart
    of the rule-based rfm_segments terciles — recency/frequency/
    monetary standardized from exact power sums, ``iters`` fixed Lloyd
    steps from deterministic seed customers, distances and centroids
    ROUNDed (6) each step so the trajectory is identical in both
    engines.  Output: per final cluster, size and centroid.

    Scale: the customer feature table is one fact aggregate; every
    iteration is a broadcast of k=|seeds| centroids against it
    (assignment = argmin over k in-expression) + a k-group mean —
    model state never exceeds k rows, the embeddings-kmeans recipe on
    DERIVED features."""
    asof = orders.agg(F.max("o_orderdate").alias("_asof"))
    feats = (
        orders.crossJoin(F.broadcast(asof))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("_asof"), F.col("o_orderdate")))
            .cast("long")
            .alias("rec"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(_dec("o_totalprice")).alias("mon"),
        )
        .localCheckpoint()
    )

    def zstats(col, sq_type="decimal(38,6)"):
        return (
            F.sum(F.col(col).cast("decimal(28,4)")).alias(f"_s_{col}"),
            F.sum(
                (F.col(col).cast("decimal(18,2)") * F.col(col).cast("decimal(18,2)"))
                .cast("decimal(38,4)")
            ).alias(f"_q_{col}"),
        )

    stats = feats.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        *zstats("rec"),
        *zstats("freq"),
        *zstats("mon"),
    )

    def z(col):
        n = F.col("_n").cast("double")
        mu = F.col(f"_s_{col}").cast("double") / n
        var = F.col(f"_q_{col}").cast("double") / n - mu * mu
        return F.round(
            (F.col(col).cast("double") - mu) / F.sqrt(var), 6
        )

    zf = feats.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        z("rec").alias("zr"),
        z("freq").alias("zf"),
        z("mon").alias("zm"),
    ).localCheckpoint()
    cents = (
        zf.filter(F.col("o_custkey").isin(*seeds))
        .orderBy("o_custkey")
        .collect()
    )
    model = [(i, r["zr"], r["zf"], r["zm"]) for i, r in enumerate(cents)]
    # Assignment is an ARGMIN EXPRESSION over the k centroid literals
    # (the ivf_cell idiom, guide §2.4): distances to all k centroids in
    # one projection, array_min over (dist, c) structs — round-then-
    # smallest-c ties exactly like the row_number window it replaces,
    # but with ZERO crossJoin and ZERO per-iteration shuffle (the old
    # plan shuffled k x |customers| rows through a window per Lloyd
    # step and once more for the final assignment; measured 2.03 ->
    # 1.35 s at sf0.1).  k=4 x 3 features keeps the generated code
    # trivially small (the ivf_cell transform-literal form exists for
    # the 10x64-dim case).
    def _dlit(v):
        return F.lit(float(v)) if v is not None else F.lit(None).cast("double")

    def _argmin_c(mdl):
        entries = F.array(
            *[
                F.struct(
                    F.round(
                        (F.col("zr") - _dlit(cr)) * (F.col("zr") - _dlit(cr))
                        + (F.col("zf") - _dlit(cf)) * (F.col("zf") - _dlit(cf))
                        + (F.col("zm") - _dlit(cm)) * (F.col("zm") - _dlit(cm)),
                        6,
                    ).alias("d"),
                    F.lit(int(c)).alias("c"),
                )
                for c, cr, cf, cm in mdl
            ]
        )
        return F.array_min(entries).getField("c")

    for _ in range(iters):
        new = (
            zf.select(_argmin_c(model).alias("c"), "zr", "zf", "zm")
            .groupBy("c")
            .agg(
                F.round(
                    F.sum(F.col("zr").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("cr"),
                F.round(
                    F.sum(F.col("zf").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("cf"),
                F.round(
                    F.sum(F.col("zm").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("cm"),
            )
            .collect()
        )
        by_c = {r["c"]: r for r in new}
        model = [
            (
                i,
                by_c[i]["cr"] if i in by_c else model[i][1],
                by_c[i]["cf"] if i in by_c else model[i][2],
                by_c[i]["cm"] if i in by_c else model[i][3],
            )
            for i in range(len(model))
        ]
    final = zf.select(_argmin_c(model).alias("c"))
    # attach the (literal) final centroid coordinates by cluster index
    cr_a = F.array(*[_dlit(m[1]) for m in model])
    cf_a = F.array(*[_dlit(m[2]) for m in model])
    cm_a = F.array(*[_dlit(m[3]) for m in model])
    return (
        final.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .select(
            F.col("c").alias("cluster"),
            "n_customers",
            F.element_at(cr_a, F.col("c") + 1).alias("centroid_recency_z"),
            F.element_at(cf_a, F.col("c") + 1).alias("centroid_frequency_z"),
            F.element_at(cm_a, F.col("c") + 1).alias("centroid_monetary_z"),
        )
    )


def gini_trend_by_quarter(orders: DataFrame) -> DataFrame:
    """Spend-concentration TREND: the Gini coefficient of customer
    spend computed PER QUARTER with its QoQ delta — is revenue
    concentrating into whales or democratizing over time (the
    direction-of-travel the single-number Gini hides).

    Per-quarter rank via the two-phase GROUPED rank (quarters x
    customers grow with data — never a single-partition sort); the
    rank-formula Gini folds per quarter; the delta is a shifted-rank
    join over the bounded quarter table."""
    from .ranking import ranked_global

    spend = (
        orders.groupBy(
            F.concat_ws(
                "-",
                F.year("o_orderdate").cast("string"),
                F.quarter("o_orderdate").cast("string"),
            ).alias("q"),
            "o_custkey",
        )
        .agg(F.sum(_dec("o_totalprice")).alias("spend"))
    )
    ranked = ranked_global(
        spend,
        [F.col("spend").asc(), F.col("o_custkey").asc()],
        group_cols=["q"],
        rank_name="i",
    )
    per_q = ranked.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("_sx"),
        F.sum((F.col("i") * F.col("spend")).cast("decimal(30,2)")).alias("_six"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("_six").cast("double") / (n * F.col("_sx").cast("double"))
        - (n + 1.0) / n
    )
    cur = per_q.select(
        "q", "n_customers", F.round(gini, 6).alias("gini")
    ).localCheckpoint()
    seq = ranked_global(cur, [F.col("q").asc()], rank_name="t")
    prev = seq.select((F.col("t") + 1).alias("t"), F.col("gini").alias("_pg"))
    return (
        seq.join(prev, "t", "left")
        .select(
            "q",
            "n_customers",
            "gini",
            F.round(F.col("gini") - F.col("_pg"), 6).alias("qoq_delta"),
        )
    )


def new_vs_returning_revenue(orders: DataFrame) -> DataFrame:
    """NEW vs RETURNING revenue split per quarter: each customer's
    first-ever quarter classifies their spend — the growth-quality
    decomposition (is revenue growth acquisition or retention?) that
    pairs with the cohort-LTV grid and the churn set ops.

    Two aggregates: per-(quarter, customer) revenue off the fact, a
    per-customer min-quarter, then one classified quarter rollup.
    DECIMAL-exact revenue, string quarters sort correctly within a
    millennium of data."""
    q = F.concat_ws(
        "-",
        F.year("o_orderdate").cast("string"),
        F.quarter("o_orderdate").cast("string"),
    )
    per = (
        orders.groupBy(q.alias("q"), "o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
        .localCheckpoint()
    )
    first = per.groupBy("o_custkey").agg(F.min("q").alias("_fq"))
    j = per.join(first, "o_custkey").withColumn(
        "_new", (F.col("q") == F.col("_fq")).cast("int")
    )
    agg = j.groupBy("q").agg(
        F.sum("_new").cast("long").alias("n_new_customers"),
        F.sum(F.lit(1) - F.col("_new")).cast("long").alias("n_returning"),
        F.sum(F.when(F.col("_new") == 1, F.col("rev")).otherwise(0))
        .cast("decimal(20,2)")
        .alias("new_revenue"),
        F.sum(F.when(F.col("_new") == 0, F.col("rev")).otherwise(0))
        .cast("decimal(20,2)")
        .alias("returning_revenue"),
    )
    return agg.select(
        "q",
        "n_new_customers",
        "n_returning",
        "new_revenue",
        "returning_revenue",
        F.round(
            F.col("new_revenue").cast("double")
            / (F.col("new_revenue") + F.col("returning_revenue")).cast("double"),
            6,
        ).alias("new_share"),
    )


HASH_PARTITIONS = 32


def hash_partition_balance(
    orders: DataFrame, n_parts: int = HASH_PARTITIONS
) -> DataFrame:
    """HASH-PARTITION balance: rows landing in each of ``n_parts``
    md5-hash buckets of the customer join key — the direct picture of
    what a shuffle on this key does to task sizes (the salt advisor
    reports per-KEY skew; this reports per-TASK skew after hashing,
    which is what executors actually feel).  Summary row: bucket
    count, min/max/avg rows, the max/avg imbalance ratio, and the
    share of rows in the heaviest bucket.

    One scan, one {HASH_PARTITIONS}-group aggregate; md5 hashing keeps
    the bucket map engine-neutral (Spark's Murmur3 partitioner isn't
    reproducible in SQL — stated: this AUDITS the hash family, the
    physical partitioner differs by constant factors only)."""
    from ..functions.text import md5_int

    b = (md5_int(F.col("o_custkey").cast("string")) % n_parts).alias("b")
    per = orders.select(b).groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("n").cast("long").alias("min_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.round(F.sum("n") / F.count(F.lit(1)), 6).alias("avg_rows"),
        F.round(
            F.max("n") / (F.sum("n") / F.count(F.lit(1))), 6
        ).alias("imbalance_ratio"),
        F.round(F.max("n") / F.sum("n"), 6).alias("max_bucket_share"),
    )


REPEAT_MIN_CUSTOMERS = 5
REPEAT_TOPN = 20


def part_repeat_purchase(
    orders: DataFrame,
    lineitem: DataFrame,
    min_customers: int = REPEAT_MIN_CUSTOMERS,
    topn: int = REPEAT_TOPN,
) -> DataFrame:
    """REPLENISHABLE detection: per part, the share of its customers
    who ordered it in two or more DISTINCT orders — the repeat-purchase
    rate that separates consumables from one-off buys (the part-grain
    complement of the customer-grain subscription detector).  Top-N by
    rate among parts with at least ``min_customers`` buyers.

    One (part, customer) aggregate counting distinct orders, one part
    rollup, TakeOrdered head."""
    per = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_partkey", "o_custkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
    )
    agg = per.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum((F.col("n_ord") >= 2).cast("long")).cast("long").alias("n_repeat"),
    )
    return (
        agg.filter(F.col("n_customers") >= min_customers)
        .select(
            F.col("l_partkey").alias("part_id"),
            "n_customers",
            "n_repeat",
            F.round(F.col("n_repeat") / F.col("n_customers"), 6).alias(
                "repeat_rate"
            ),
        )
        .orderBy(
            F.col("repeat_rate").desc(),
            F.col("n_customers").desc(),
            F.col("part_id").asc(),
        )
        .limit(topn)
    )


POISSON_CELLS = 8  # shifted counts 0..6 + pooled tail


def lines_poisson_fit(lineitem: DataFrame, cells: int = POISSON_CELLS) -> DataFrame:
    """DISTRIBUTION FIT: are lines-per-order Poisson?  The shifted
    count (lines - 1) is fit to Poisson(lambda = its mean) and tested
    with a chi-square GOF over {POISSON_CELLS - 1} cells plus a pooled
    tail — the parametric-model sanity check behind any synthetic-data
    or capacity assumption about order sizes (a fat tail or
    underdispersion here invalidates Poisson-based sizing).

    lambda comes from exact integer sums; expected cells use
    exp/pow/factorial doubles ROUNDed 6; chi-square terms round 9 into
    a DECIMAL fold.  One orderkey aggregate, |cells| model rows."""
    import math

    per = lineitem.groupBy("l_orderkey").agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("k")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("_n"), F.sum("k").alias("_sk")
    )
    obs = per.groupBy(
        F.least(F.col("k"), F.lit(cells - 1)).alias("cell")
    ).agg(F.count(F.lit(1)).alias("o")).localCheckpoint()
    lam = F.col("_sk").cast("double") / F.col("_n")
    spark = lineitem.sparkSession
    cdf = local_frame(
        spark,
        [(j, float(math.factorial(j))) for j in range(cells - 1)],
        "cell long, fact double",
    )
    e_head = F.round(
        F.col("_n") * F.exp(-lam) * F.pow(lam, F.col("cell")) / F.col("fact"), 6
    )
    head = cdf.crossJoin(F.broadcast(tot)).select(
        "cell", e_head.alias("e")
    )
    head_sum = head.agg(F.sum("e").alias("_eh"))
    tail = (
        tot.crossJoin(F.broadcast(head_sum))
        .select(
            F.lit(cells - 1).cast("long").alias("cell"),
            F.round(F.col("_n") - F.col("_eh"), 6).alias("e"),
        )
    )
    expect = head.unionByName(tail)
    j = expect.join(obs, "cell", "left").select(
        "cell",
        F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("observed"),
        "e",
    )
    chi = j.select(
        F.round(
            (F.col("observed") - F.col("e")) * (F.col("observed") - F.col("e"))
            / F.col("e"),
            9,
        )
        .cast("decimal(38,12)")
        .alias("t")
    ).agg(F.round(F.sum("t").cast("double"), 6).alias("chi2"))
    return (
        j.crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(tot.select(F.round(lam, 6).alias("lambda_hat"))))
        .select(
            "cell",
            "observed",
            F.col("e").alias("expected"),
            "lambda_hat",
            "chi2",
        )
    )


def bullwhip_ratio(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """BULLWHIP ratio: variance amplification between the demand
    signal (monthly ordered quantity, by order date) and the
    fulfilment signal (monthly shipped quantity, by ship date) —
    CV²(ship) / CV²(order) > 1 means the chain AMPLIFIES demand
    variability downstream, the classic supply-chain instability
    number.

    Both monthly series come from one fact scan each (quantity summed
    as DECIMAL); CV² from exact power sums over the bounded month
    tables; one row out."""
    def monthly(df, date_col):
        return (
            df.groupBy(F.date_trunc("month", F.col(date_col)).alias("m"))
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        )

    demand = monthly(
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ),
        "o_orderdate",
    )
    supply = monthly(lineitem, "l_shipdate")

    def cv2(df, n_name, cv_name):
        s = df.agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("q").alias("_s"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,4)")).alias("_ss"),
        )
        n = F.col("_n").cast("double")
        mu = F.col("_s").cast("double") / n
        var = F.col("_ss").cast("double") / n - mu * mu
        return s.select(
            F.col("_n").alias(n_name),
            F.round(
                F.try_divide(var, F.nullif(mu * mu, F.lit(0.0))), 6
            ).alias(cv_name),
        )

    d = cv2(demand, "n_months_order", "cv2_order")
    sp = cv2(supply, "n_months_ship", "cv2_ship")
    return d.crossJoin(F.broadcast(sp)).select(
        "n_months_order",
        "cv2_order",
        "n_months_ship",
        "cv2_ship",
        F.round(
            F.try_divide(
                F.col("cv2_ship"), F.nullif(F.col("cv2_order"), F.lit(0.0))
            ),
            6,
        ).alias("bullwhip_ratio"),
    )


# -- Kaplan-Meier survival ---------------------------------------------------

KM_CENSOR_DAYS = 180  # last order within this of dataset end => censored
KM_MONTH_DAYS = 30  # lifetime bucketed to floor(days/30) "months"


def km_survival(orders: DataFrame) -> DataFrame:
    """KAPLAN-MEIER survival curve over customer lifetimes: per
    customer, lifetime t = floor(days between first and last order /
    {KM_MONTH_DAYS}); a customer whose last order falls within
    {KM_CENSOR_DAYS} days of the dataset's end is right-CENSORED
    (still plausibly active), otherwise the churn event is observed.
    S(t) = prod_{t_i <= t} (1 - d_i / n_i) with d_i = events at t_i and
    n_i = at-risk count (lifetime >= t_i, censored included) — the
    estimator that uses censored customers correctly instead of
    dropping them (contrast customers_churned_yoy's hard cutoff).

    Scale: one customer-keyed aggregate; the time axis is bounded by
    the dataset's calendar span (~espan/30 rows at ANY scale factor), so
    the at-risk suffix-sum window and the cumulative-product fold both
    run on a provably tiny table.  The product folds left over the
    t-sorted factor array from 1.0 — double multiplies in a fixed
    order, bit-identical to the DuckDB oracle's list_reduce fold."""
    maxd = F.broadcast(orders.agg(F.max("o_orderdate").alias("_md")))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("_first"),
            F.max("o_orderdate").alias("_last"),
        )
        .crossJoin(maxd)
        .select(
            F.floor(
                F.datediff("_last", "_first") / F.lit(KM_MONTH_DAYS)
            ).alias("t"),
            F.when(
                F.datediff("_md", "_last") >= KM_CENSOR_DAYS, F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("ev"),
        )
    )
    times = per.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    tot = F.broadcast(per.agg(F.count(F.lit(1)).cast("long").alias("_n")))
    # the times table is bounded by the calendar span -> a global window
    # over <~200 rows is safe at any SF (documented cardinality bound).
    w = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        times.crossJoin(tot)
        .withColumn(
            "n_risk",
            F.col("_n") - F.coalesce(F.sum("m").over(w), F.lit(0)),
        )
        .withColumn(
            "factor",
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double"),
        )
    )
    packed = risk.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "n_risk", "d", "c", "factor"))
        ).alias("arr")
    )
    s = F.col("s")
    return (
        packed.select(F.col("arr"), F.posexplode("arr").alias("i", "s"))
        .select(
            s["t"].cast("long").alias("t_months"),
            s["n_risk"].cast("long").alias("n_risk"),
            s["d"].alias("n_events"),
            s["c"].alias("n_censored"),
            F.round(
                F.aggregate(
                    F.slice(
                        F.transform(F.col("arr"), lambda x: x["factor"]),
                        F.lit(1),
                        F.col("i") + F.lit(1),
                    ),
                    F.lit(1.0),
                    lambda acc, x: acc * x,
                ),
                6,
            ).alias("km_survival"),
        )
    )


# -- Theil-Sen robust trend --------------------------------------------------


def _arr_median(arr: Column) -> Column:
    """Median of a sorted double array by explicit position selection —
    identical element picks + (a+b)/2 arithmetic in the oracle, no
    reliance on either engine's median() interpolation rules."""
    n = F.size(arr)
    odd = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, F.floor(n / 2).cast("int"))
        + F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    ) / F.lit(2.0)
    return F.when(n % 2 == 1, odd).otherwise(even)


def theil_sen_trend(orders: DataFrame) -> DataFrame:
    """THEIL-SEN robust slope of monthly revenue vs month index — the
    median of all pairwise slopes, immune to the outlier months that
    drag the OLS line (reported beside it for contrast), plus the
    median-residual intercept.

    Scale: the month table is bounded by the calendar span at ANY SF
    (~80 rows -> ~3k pairs), so the pairwise self-join and the sorted
    in-array median selection are constant-size no matter the order
    volume; the only data-sized work is the one month-keyed DECIMAL
    aggregate.  Slopes are single f64 divisions of exact DECIMAL/int
    differences — bit-identical across engines."""
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    mi = (F.year("m") * 12 + F.month("m")).cast("long")
    base = monthly.select(mi.alias("mi"), "y")
    mn = F.broadcast(base.agg(F.min("mi").alias("_mn")))
    idx = base.crossJoin(mn).select(
        (F.col("mi") - F.col("_mn")).alias("i"), "y"
    ).localCheckpoint()
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("a.i") < F.col("b.i")).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.i") - F.col("a.i")).cast("double")
        ).alias("s")
    )
    med = F.broadcast(
        slopes.agg(F.array_sort(F.collect_list("s")).alias("arr")).select(
            F.size("arr").cast("long").alias("n_pairs"),
            _arr_median(F.col("arr")).alias("slope_med"),
        )
    )
    resid = idx.crossJoin(med).select(
        "n_pairs",
        "slope_med",
        (
            F.col("y").cast("double")
            - F.col("slope_med") * F.col("i").cast("double")
        ).alias("r"),
    )
    ts = resid.groupBy("n_pairs", "slope_med").agg(
        _arr_median(F.array_sort(F.collect_list("r"))).alias("intercept_med")
    )
    ols = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("i").alias("sx"),
        F.sum(F.col("i") * F.col("i")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("i") * F.col("y")).cast("decimal(38,2)")).alias("sxy"),
    ).select(
        "n_months",
        (
            (
                F.col("n_months") * F.col("sxy")
                - F.col("sx") * F.col("sy")
            ).cast("double")
            / (
                F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double")
        ).alias("slope_ols"),
    )
    return ols.crossJoin(F.broadcast(ts)).select(
        "n_months",
        "n_pairs",
        F.round("slope_med", 6).alias("theil_slope"),
        F.round("intercept_med", 6).alias("theil_intercept"),
        F.round("slope_ols", 6).alias("ols_slope"),
    )


# -- Holt double-exponential smoothing ---------------------------------------

HOLT_ALPHA = 0.5  # level smoothing
HOLT_BETA = 0.3  # trend smoothing


def holt_linear_trend(orders: DataFrame) -> DataFrame:
    """HOLT linear-trend (double exponential) smoothing of monthly
    revenue: l_t = a*y_t + (1-a)(l+b), b_t = B*(l_t-l) + (1-B)*b,
    initialized l_0=y_0, b_0=y_1-y_0 — the trend-aware upgrade of
    orders_revenue_ewma, with the one-step-ahead MSE accumulated in
    the same pass and h-step forecasts off the final state.

    Scale: one month-keyed DECIMAL aggregate is the only data-sized
    work; the recursion folds a (level, trend, sse) double-struct over
    the month-sorted array on ONE row — fixed evaluation order, so the
    oracle's list_reduce fold is bit-identical (no driver loop, no
    ln/exp)."""
    a, b_ = HOLT_ALPHA, HOLT_BETA
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    packed = monthly.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("m"), F.col("y").cast("double").alias("y"))
                )
            ),
            lambda s: s["y"],
        ).alias("ys")
    )
    ys = F.col("ys")
    n = F.size(ys)
    init = F.struct(
        F.element_at(ys, 1).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
        F.lit(0.0).alias("sse"),
    )

    def step(acc, x):
        pred = acc["l"] + acc["b"]
        newl = a * x + (1 - a) * pred
        return F.struct(
            newl.alias("l"),
            (b_ * (newl - acc["l"]) + (1 - b_) * acc["b"]).alias("b"),
            (acc["sse"] + (pred - x) * (pred - x)).alias("sse"),
        )

    st = F.aggregate(F.slice(ys, 2, n - 1), init, step)
    return packed.select(
        n.cast("long").alias("n_months"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["sse"] / (n - 1).cast("double"), 6).alias("mse_1step"),
        F.round(st["l"] + st["b"], 6).alias("forecast_1m"),
        F.round(st["l"] + F.lit(3.0) * st["b"], 6).alias("forecast_3m"),
    )


# -- periodogram -------------------------------------------------------------

PERIODOGRAM_TOPK = 5


def revenue_periodogram(orders: DataFrame, topk: int = PERIODOGRAM_TOPK) -> DataFrame:
    """DFT PERIODOGRAM of monthly revenue: per frequency k = 1..n/2,
    spectral power of the mean-centered series, reported as the share
    of total power with the top-{PERIODOGRAM_TOPK} ranked — the
    frequency-domain seasonality detector (orders_seasonality asserts
    a 12-month profile; this measures WHICH period actually dominates).

    Determinism: centered values use the integer-scaled z_t = n*y_t -
    Sy trick (exact DECIMAL, no mean division); cos/sin are rounded to
    9 decimals and cast to DECIMAL so the per-frequency sums are exact
    and shuffle-order invariant; power ratios are single f64 ops.

    Scale: the month table is calendar-bounded, so the (month x
    frequency) grid is ~80x40 at ANY SF; the only data-sized work is
    the monthly DECIMAL aggregate."""
    import math

    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    mi = (F.year("m") * 12 + F.month("m")).cast("long")
    base = monthly.select(mi.alias("mi"), "y")
    stats = F.broadcast(
        base.agg(
            F.min("mi").alias("_mn"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").alias("sy"),
        )
    )
    idx = base.crossJoin(stats).select(
        (F.col("mi") - F.col("_mn")).alias("i"),
        (F.col("n") * F.col("y") - F.col("sy")).cast("decimal(28,2)").alias("z"),
        "n",
    )
    ks = (
        stats.select(
            F.explode(
                F.sequence(F.lit(1), F.floor(F.col("n") / 2).cast("long"))
            ).alias("k"),
            "n",
        )
    )
    grid = idx.join(F.broadcast(ks.select("k")), how="cross")
    angle = (
        F.lit(2.0)
        * F.lit(math.pi)
        * F.col("k").cast("double")
        * F.col("i").cast("double")
        / F.col("n").cast("double")
    )
    terms = grid.select(
        "k",
        (F.col("z") * F.round(F.cos(angle), 9).cast("decimal(12,9)"))
        .cast("decimal(38,11)")
        .alias("tc"),
        (F.col("z") * F.round(F.sin(angle), 9).cast("decimal(12,9)"))
        .cast("decimal(38,11)")
        .alias("ts"),
    )
    power = terms.groupBy("k").agg(
        (
            F.pow(F.sum("tc").cast("double"), 2)
            + F.pow(F.sum("ts").cast("double"), 2)
        ).alias("p")
    )
    tot = F.broadcast(power.agg(F.sum("p").alias("_tp")))
    shared = power.crossJoin(tot).crossJoin(
        F.broadcast(stats.select("n"))
    ).select(
        "k",
        F.round(F.col("n").cast("double") / F.col("k").cast("double"), 2).alias(
            "period_months"
        ),
        F.round(F.try_divide(F.col("p"), F.nullif(F.col("_tp"), F.lit(0.0))), 6).alias(
            "power_share"
        ),
    )
    # frequency table is bounded (<= ~40 rows) -> global rank is safe
    w = Window.orderBy(F.col("power_share").desc(), F.col("k").asc())
    return (
        shared.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select(F.col("k").cast("long").alias("freq_k"), "period_months",
                "power_share", "rnk")
    )


# -- graph modularity --------------------------------------------------------


def nation_trade_modularity(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Directed weighted MODULARITY of the region partition over the
    nation trade graph: Q = sum_c [ W_in(c)/W - Kout(c)*Kin(c)/W^2 ]
    — does intra-region trade exceed the degree-preserving null model?
    The community-QUALITY companion to nation_trade_pagerank (node
    centrality) and dedup_clusters (community discovery): here the
    candidate communities are the catalog's own regions, and Q says
    whether that grouping is real structure or label noise.

    Determinism: every term is an exact-integer aggregate (edge
    weights, strengths, W); Q's two divisions are single f64 ops.
    Scale: ONE fact shuffle builds the 25x25 edge aggregate; the rest
    runs on nation/region-bounded tables (per-community row output +
    a __total__ Q row)."""
    nat = F.broadcast(nation.select("n_nationkey", "n_regionkey"))
    edges = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .join(nat.select(F.col("n_nationkey").alias("src"),
                         F.col("n_regionkey").alias("src_r")), "src")
        .join(nat.select(F.col("n_nationkey").alias("dst"),
                         F.col("n_regionkey").alias("dst_r")), "dst")
        .localCheckpoint()
    )
    W = F.broadcast(edges.agg(F.sum("w").alias("_W")))
    win = edges.filter(F.col("src_r") == F.col("dst_r")).groupBy(
        F.col("src_r").alias("r")
    ).agg(F.sum("w").alias("w_in"))
    kout = edges.groupBy(F.col("src_r").alias("r")).agg(
        F.sum("w").alias("k_out")
    )
    kin = edges.groupBy(F.col("dst_r").alias("r")).agg(F.sum("w").alias("k_in"))
    per = (
        kout.join(kin, "r", "full")
        .join(win, "r", "left")
        .select(
            "r",
            F.coalesce("w_in", F.lit(0)).cast("long").alias("w_in"),
            F.coalesce("k_out", F.lit(0)).cast("long").alias("k_out"),
            F.coalesce("k_in", F.lit(0)).cast("long").alias("k_in"),
        )
        .crossJoin(W)
        .select(
            F.col("r").cast("long").alias("region_key"),
            "w_in",
            "k_out",
            "k_in",
            F.round(
                F.col("w_in").cast("double") / F.col("_W").cast("double")
                - (
                    F.col("k_out").cast("decimal(19,0)")
                    * F.col("k_in").cast("decimal(19,0)")
                ).cast("double")
                / (F.col("_W").cast("double") * F.col("_W").cast("double")),
                6,
            ).alias("q_contrib"),
        )
    )
    # total Q from the EXACT integers (never a sum of rounded doubles):
    # Q = sum(w_in)/W - sum(k_out*k_in)/W^2.
    total = per.agg(
        F.lit(-1).cast("long").alias("region_key"),
        F.sum("w_in").cast("long").alias("w_in"),
        F.sum("k_out").cast("long").alias("k_out"),
        F.sum("k_in").cast("long").alias("k_in"),
        F.sum("w_in").alias("_sw"),
        F.sum(
            F.col("k_out").cast("decimal(19,0)") * F.col("k_in").cast("decimal(19,0)")
        ).alias("_skk"),
    ).crossJoin(W).select(
        "region_key",
        "w_in",
        "k_out",
        "k_in",
        F.round(
            F.col("_sw").cast("double") / F.col("_W").cast("double")
            - F.col("_skk").cast("double")
            / (F.col("_W").cast("double") * F.col("_W").cast("double")),
            6,
        ).alias("q_contrib"),
    )
    return per.unionByName(total)


# -- isotonic calibration (PAV via minimax) ----------------------------------


def isotonic_calibration(orders: DataFrame, bins: int = CALIBRATION_BINS) -> DataFrame:
    """ISOTONIC REGRESSION over the calibration bins: the
    monotone-nondecreasing fit to the per-bin positive rates, computed
    with the closed-form minimax identity iso_i = max_{k<=i} min_{j>=i}
    mean(y_k..y_j) — mathematically identical to pool-adjacent-
    violators but expressible as bounded triangular joins instead of a
    sequential merge stack (the right shape for an engine: PAV's stack
    is inherently serial, the minimax is a B^3 relational grid on the
    FIXED bin table, B={CALIBRATION_BINS}).

    Calibrated-probability repair for the reliability diagram
    orders_calibration_bins draws.  Range means are single f64
    divisions of exact long prefix sums; one data-sized scan total."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    rng = orders.select(cents.alias("_c")).agg(
        F.min("_c").alias("_lo"), F.max("_c").alias("_hi")
    )
    pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    scored = orders.crossJoin(F.broadcast(rng)).select(
        cents.alias("c"), F.col("_lo"), F.col("_hi"), pos.alias("y")
    )
    b = F.expr(
        f"least(((c - _lo) * {bins}) div (_hi - _lo + 1), {bins - 1})"
    ).cast("int")
    per = scored.groupBy(b.alias("bin")).agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("p")
    )
    # prefix sums on the <=B-row bin table: bounded global window.
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = per.select(
        "bin",
        "n",
        "p",
        F.sum("n").over(w).alias("cn"),
        F.sum("p").over(w).alias("cp"),
    ).localCheckpoint()
    a, c = pre.alias("a"), pre.alias("c")
    ranges = a.join(c, F.col("a.bin") <= F.col("c.bin")).select(
        F.col("a.bin").alias("k"),
        F.col("c.bin").alias("j"),
        (
            (F.col("c.cp") - (F.col("a.cp") - F.col("a.p"))).cast("double")
            / (F.col("c.cn") - (F.col("a.cn") - F.col("a.n"))).cast("double")
        ).alias("m"),
    )
    i_tab = pre.select(F.col("bin").alias("i"))
    inner = (
        ranges.join(
            i_tab, (F.col("k") <= F.col("i")) & (F.col("i") <= F.col("j"))
        )
        .groupBy("k", "i")
        .agg(F.min("m").alias("mn"))
    )
    fitted = inner.groupBy("i").agg(F.max("mn").alias("iso"))
    return (
        per.join(fitted, per.bin == fitted.i)
        .select(
            "bin",
            "n",
            F.col("p").alias("n_pos"),
            F.round(F.col("p").cast("double") / F.col("n").cast("double"), 6).alias(
                "raw_rate"
            ),
            F.round(F.col("iso"), 6).alias("iso_rate"),
        )
    )


# -- conformal forecast band -------------------------------------------------

CONFORMAL_H = 19  # calibration points (last H one-step backtests)
CONFORMAL_ALPHA = 0.1  # 90% interval


def conformal_forecast(orders: DataFrame) -> DataFrame:
    """Split-CONFORMAL prediction interval for next month's revenue:
    the last {CONFORMAL_H} months each get a one-step OLS forecast fit
    on strictly earlier months (the orders_forecast_backtest
    estimator, set-based); the band half-width is the
    ceil((H+1)(1-alpha))-th smallest absolute residual — a
    DISTRIBUTION-FREE finite-sample-valid interval, no normality
    assumption behind the +-.

    Determinism: OLS sums are exact DECIMAL/int; predictions are a
    fixed f64 expression of them; residuals ROUND 6 before the sorted
    -array order-statistic pick.  Scale: everything after the monthly
    DECIMAL aggregate runs on the calendar-bounded month table
    (triangular joins, <=80 rows at any SF)."""
    import math as _math

    k = _math.ceil((CONFORMAL_H + 1) * (1 - CONFORMAL_ALPHA))
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    peers = monthly.select(F.col("m").alias("_m2"), F.col("y").alias("_y2"))
    idx = (
        monthly.join(F.broadcast(peers), F.col("_m2") <= F.col("m"))
        .groupBy("m", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .localCheckpoint()
    )
    nrow = F.broadcast(idx.agg(F.count(F.lit(1)).cast("long").alias("_n")))

    def _ols_pred(grouped, at_col):
        slope = (
            F.col("_nn") * F.col("_sty") - F.col("_st") * F.col("_sy")
        ).cast("double") / (
            F.col("_nn") * F.col("_stt") - F.col("_st") * F.col("_st")
        ).cast("double")
        return (
            (F.col("_sy").cast("double") - slope * F.col("_st").cast("double"))
            / F.col("_nn").cast("double")
            + slope * at_col.cast("double")
        )

    targets = idx.crossJoin(nrow).filter(
        F.col("t") > F.col("_n") - CONFORMAL_H
    ).select(F.col("t").alias("tt"), F.col("y").alias("yt"))
    sums = (
        targets.join(
            F.broadcast(idx.select(F.col("t").alias("tp"), F.col("y").alias("yp"))),
            F.col("tp") < F.col("tt"),
        )
        .groupBy("tt", "yt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nn"),
            F.sum("tp").alias("_st"),
            F.sum(F.col("tp") * F.col("tp")).alias("_stt"),
            F.sum("yp").alias("_sy"),
            F.sum((F.col("tp") * F.col("yp")).cast("decimal(38,2)")).alias("_sty"),
        )
    )
    resid = sums.select(
        F.round(
            F.abs(F.col("yt").cast("double") - _ols_pred(sums, F.col("tt"))), 6
        ).alias("e")
    )
    q = resid.agg(
        F.element_at(F.array_sort(F.collect_list("e")), k).alias("q_hat"),
        F.count(F.lit(1)).cast("long").alias("h_backtest"),
    )
    full = idx.agg(
        F.count(F.lit(1)).cast("long").alias("_nn"),
        F.sum("t").alias("_st"),
        F.sum(F.col("t") * F.col("t")).alias("_stt"),
        F.sum("y").alias("_sy"),
        F.sum((F.col("t") * F.col("y")).cast("decimal(38,2)")).alias("_sty"),
    )
    fc = full.select(
        F.round(_ols_pred(full, F.col("_nn") + F.lit(1)), 6).alias("forecast_next")
    )
    return fc.crossJoin(F.broadcast(q)).select(
        "h_backtest",
        F.lit(1 - CONFORMAL_ALPHA).alias("q_level"),
        F.round("q_hat", 6).alias("q_hat"),
        "forecast_next",
        F.round(F.col("forecast_next") - F.col("q_hat"), 6).alias("lo"),
        F.round(F.col("forecast_next") + F.col("q_hat"), 6).alias("hi"),
    )


# -- empirical-Bayes shrinkage -----------------------------------------------

EB_TOPK = 50


def return_rate_shrunk(lineitem: DataFrame, topk: int = EB_TOPK) -> DataFrame:
    """EMPIRICAL-BAYES (beta-binomial moment-matched) shrinkage of
    per-part return rates: small-sample parts get pulled toward the
    cross-part mean with prior strength M = max(1, m(1-m)/v - 1) from
    the method of moments — the league-table repair that stops a
    2-of-3-returned part from topping a ranking built on thousands of
    observations.  Returns the {EB_TOPK} parts the shrinkage moves
    most (|shrunk - raw|) — exactly the rows a naive ranking gets
    wrong.

    Determinism: per-part rates ROUND 6 before the cross-part moment
    sums (DECIMAL-exact, shuffle-order invariant); m, v, M and the
    shrunk rates are fixed f64 expressions of those sums; top-k ranks
    on the rounded delta with a part tiebreak (TakeOrdered heap, no
    global sort materialized)."""
    per = lineitem.groupBy(F.col("l_partkey").alias("part_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("int")).cast("long").alias("ret"),
    )
    rated = per.select(
        "part_id",
        "n",
        "ret",
        F.round(F.col("ret").cast("double") / F.col("n").cast("double"), 6).alias(
            "raw_rate"
        ),
    ).localCheckpoint()
    stats = F.broadcast(
        rated.agg(
            F.count(F.lit(1)).cast("long").alias("_K"),
            F.sum(F.col("raw_rate").cast("decimal(18,6)")).alias("_sm"),
            F.sum(
                F.round(F.col("raw_rate") * F.col("raw_rate"), 12).cast(
                    "decimal(20,12)"
                )
            ).alias("_sm2"),
        )
    )
    kd = F.col("_K").cast("double")
    m = F.col("_sm").cast("double") / kd
    v = (F.col("_sm2").cast("double") - kd * m * m) / (kd - F.lit(1.0))
    # v == 0 (all rates identical) => infinite prior strength; a 1e12
    # cap makes shrunk == m to 6 decimals without the ANSI /0 trap.
    M = F.greatest(
        F.lit(1.0),
        F.coalesce(
            F.try_divide(m * (F.lit(1.0) - m), F.nullif(v, F.lit(0.0)))
            - F.lit(1.0),
            F.lit(1.0e12),
        ),
    )
    scored = rated.crossJoin(stats).select(
        "part_id",
        "n",
        "ret",
        "raw_rate",
        F.round(
            (F.col("ret").cast("double") + M * m)
            / (F.col("n").cast("double") + M),
            6,
        ).alias("shrunk_rate"),
    )
    delta = F.round(F.abs(F.col("shrunk_rate") - F.col("raw_rate")), 6)
    return (
        scored.withColumn("shrink_delta", delta)
        .orderBy(F.col("shrink_delta").desc(), F.col("part_id").asc())
        .limit(topk)
    )


def spearman_quantity_price(lineitem: DataFrame) -> DataFrame:
    """SPEARMAN rank correlation (tie-averaged) between l_quantity and
    l_extendedprice, next to the raw-value Pearson r — the robust
    monotone-association check (Spearman is Pearson on fractional
    ranks, immune to the price outliers that inflate r).  The reference
    ranks all scoring in one thread (src/simple_vector.cc top-k loop);
    this is the distributed total-order analog applied to statistics.

    Scale: two CHAINED :func:`avg_rank2` passes (range-partitioned
    two-phase rank + a value-partitioned tie window — no
    single-partition window and no row-key pair join: (l_orderkey,
    l_linenumber) is not unique in the fixture, and avg2 depends only
    on the value, so chaining keeps rows 1:1 by construction), then a
    single DECIMAL moment aggregation.  Doubled ranks are exact longs,
    so every sum is order-insensitive; float64 appears only in the
    final closed-form correlation.
    """
    from .ranking import avg_rank2

    base = lineitem.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    tb = [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()]
    rx = avg_rank2(base, "l_quantity", tb, out_name="ax")
    j = avg_rank2(rx, "l_extendedprice", tb, out_name="ay")

    d38 = "decimal(38,0)"
    q = F.col("l_quantity").cast("decimal(15,2)")
    p = F.col("l_extendedprice").cast("decimal(15,2)")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ax").cast(d38)).alias("sx"),
        F.sum(F.col("ay").cast(d38)).alias("sy"),
        F.sum((F.col("ax") * F.col("ax")).cast(d38)).alias("sxx"),
        F.sum((F.col("ay") * F.col("ay")).cast(d38)).alias("syy"),
        F.sum((F.col("ax") * F.col("ay")).cast(d38)).alias("sxy"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(q * q).alias("sqq"),
        F.sum(p * p).alias("spp"),
        F.sum(q * p).alias("sqp"),
    )

    def _corr(n, sx, sy, sxx, syy, sxy):
        nd = n.cast("double")
        xd, yd = sx.cast("double"), sy.cast("double")
        xxd, yyd, xyd = sxx.cast("double"), syy.cast("double"), sxy.cast("double")
        num = nd * xyd - xd * yd
        den = F.sqrt(nd * xxd - xd * xd) * F.sqrt(nd * yyd - yd * yd)
        return F.round(F.try_divide(num, F.nullif(den, F.lit(0.0))), 6) + F.lit(0.0)

    return s.select(
        "n",
        _corr(
            F.col("n"), F.col("sx"), F.col("sy"),
            F.col("sxx"), F.col("syy"), F.col("sxy"),
        ).alias("spearman_rho"),
        _corr(
            F.col("n"), F.col("sq"), F.col("sp"),
            F.col("sqq"), F.col("spp"), F.col("sqp"),
        ).alias("pearson_r"),
    )


def kruskal_wallis_priority(orders: DataFrame) -> DataFrame:
    """KRUSKAL-WALLIS rank test: does o_totalprice differ across the 5
    order priorities?  The nonparametric sibling of
    ``orders_dow_anova`` — H is computed from tie-averaged global
    ranks, with the standard tie correction, so a heavy-tailed price
    distribution cannot fake (or hide) a group effect the way it does
    under a plain F-test.

    Per-group mean ranks surface WHERE the shift is; every row carries
    the shared H statistics (k-1 df chi-square under H0).

    Scale: one :func:`avg_rank2` pass (no single-partition window),
    one groupBy on the 5 priorities, one groupBy per distinct price for
    the tie term.  All moment sums DECIMAL-exact; the 5-element
    cross-group reduction is pre-rounded to fixed decimals so the
    final fold is order-insensitive too.
    """
    from .ranking import avg_rank2

    ranked = avg_rank2(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_totalprice",
        [F.col("o_orderkey").asc()],
        out_name="a2",
    ).localCheckpoint()

    d38 = "decimal(38,0)"
    groups = ranked.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("a2").cast(d38)).alias("r2_g"),
    )
    # Sum_g (R_g^2 / n_g) with R_g = r2_g/2: per-group term rounded to
    # 3dp then DECIMAL-summed so the cross-group fold order is moot.
    terms = groups.select(
        F.round(
            (F.col("r2_g").cast("double") / F.lit(2.0))
            * (F.col("r2_g").cast("double") / F.lit(2.0))
            / F.col("n_g").cast("double"),
            3,
        )
        .cast("decimal(30,3)")
        .alias("term"),
        F.col("n_g"),
    )
    hstats = terms.agg(
        F.sum("term").alias("sum_terms"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("int").alias("k"),
    )
    ties = (
        ranked.groupBy("o_totalprice")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(d38)
            ).alias("tie3")
        )
    )
    nd = F.col("n_total").cast("double")
    h = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0)))
        * F.col("sum_terms").cast("double")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.try_divide(
        F.col("tie3").cast("double"),
        F.nullif(nd * nd * nd - nd, F.lit(0.0)),
    )
    glob = F.broadcast(
        hstats.crossJoin(F.broadcast(ties)).select(
            "n_total",
            (F.col("k") - F.lit(1)).cast("int").alias("df"),
            (F.round(h, 6) + F.lit(0.0)).alias("h_stat"),
            (F.round(F.try_divide(h, F.nullif(corr, F.lit(0.0))), 6) + F.lit(0.0)).alias(
                "h_tie_corrected"
            ),
        )
    )
    return (
        groups.select(
            "priority",
            "n_g",
            (
                F.round(
                    F.col("r2_g").cast("double")
                    / (F.lit(2.0) * F.col("n_g").cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_rank"),
        )
        .crossJoin(glob)
        .orderBy("priority")
    )


def wasserstein_price_drift(
    orders: DataFrame, year_a: int = 1996, year_b: int = 1997
) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth-mover) distance between the
    o_totalprice distributions of two years — the drift measure with
    units (dollars of probability mass moved), unlike KS's unitless
    sup-gap: W1 = integral |F_a - F_b| dx over the pooled support.

    Scale: groupBy distinct price (one shuffle), then ONE
    :func:`ordered_cdf` pass (range-partitioned rank + both cumulative
    masses together — no single-partition window, no LEAD over a
    global sort: the "next support point" comes from an equi-join on
    rank+1).  Per-interval terms |F_a-F_b|*dx are rounded to 9dp and
    DECIMAL-summed, so the fold is order-insensitive; both engines run
    the identical float64 expression per interval.
    """
    from .ranking import ordered_cdf

    v = F.col("o_totalprice").cast(DEC_PRICE)
    base = orders.select(
        F.year("o_orderdate").alias("yr"), v.alias("v")
    ).filter(F.col("yr").isin(year_a, year_b))
    counts = base.groupBy("v").agg(
        F.sum(F.when(F.col("yr") == year_a, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("yr") == year_b, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    cdf = ordered_cdf(counts, [F.col("v").asc()], ["ca", "cb"], rank_name="g")
    tot = F.broadcast(
        counts.agg(
            F.sum("ca").cast("long").alias("na"),
            F.sum("cb").cast("long").alias("nb"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
    )
    cur = cdf.select("g", "v", "ca_cum", "cb_cum")
    nxt = cdf.select((F.col("g") - F.lit(1)).alias("g"), F.col("v").alias("v_next"))
    fa = F.try_divide(
        F.col("ca_cum").cast("double"), F.nullif(F.col("na").cast("double"), F.lit(0.0))
    )
    fb = F.try_divide(
        F.col("cb_cum").cast("double"), F.nullif(F.col("nb").cast("double"), F.lit(0.0))
    )
    terms = (
        cur.join(nxt, "g")
        .crossJoin(tot)
        .select(
            F.round(
                F.abs(fa - fb) * (F.col("v_next") - F.col("v")).cast("double"), 9
            )
            .cast("decimal(25,9)")
            .alias("term")
        )
    )
    s = terms.agg(F.sum("term").alias("s"))
    return s.crossJoin(tot).select(
        F.lit(year_a).alias("year_a"),
        F.lit(year_b).alias("year_b"),
        "na",
        "nb",
        (F.round(F.col("s").cast("double"), 6) + F.lit(0.0)).alias("w1"),
        (
            F.round(
                F.try_divide(
                    F.col("s").cast("double"),
                    F.nullif(
                        (F.col("vmax") - F.col("vmin")).cast("double"), F.lit(0.0)
                    ),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("w1_norm"),
    )


def ols_price_model(lineitem: DataFrame) -> DataFrame:
    """CLOSED-FORM multiple OLS: l_extendedprice ~ 1 + l_quantity +
    l_discount, solved from the 3x3 normal equations by Cramer's rule
    — multi-feature regression as ONE aggregation pass, no iterative
    solver, no MLlib dependency, no second scan.  The estimator a
    100-TB pipeline can actually afford: every X'X / X'y entry is a
    DECIMAL-exact power sum (order-insensitive partial aggregation),
    and only the final 3x3 solve touches float64 — the identical
    expression in both engines, so parity is bitwise.

    Returns one row: n, intercept b0, quantity slope b1, discount
    slope b2, and R^2 (1 - SSE/SST with SSE = y'y - b'X'y).
    """
    q = F.col("l_quantity").cast("decimal(15,2)")
    d = F.col("l_discount").cast("decimal(15,2)")
    p = F.col("l_extendedprice").cast("decimal(15,2)")
    s = lineitem.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(d).alias("sd"),
        F.sum(p).alias("sp"),
        F.sum(q * q).alias("sqq"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * d).alias("sqd"),
        F.sum(q * p).alias("sqp"),
        F.sum(d * p).alias("sdp"),
        F.sum(p * p).alias("spp"),
    )
    nn = F.col("n").cast("double")
    sq, sd, sp = (F.col(c).cast("double") for c in ("sq", "sd", "sp"))
    sqq, sdd, sqd = (F.col(c).cast("double") for c in ("sqq", "sdd", "sqd"))
    sqp, sdp, spp = (F.col(c).cast("double") for c in ("sqp", "sdp", "spp"))

    det = (
        nn * (sqq * sdd - sqd * sqd)
        - sq * (sq * sdd - sqd * sd)
        + sd * (sq * sqd - sqq * sd)
    )
    det0 = (
        sp * (sqq * sdd - sqd * sqd)
        - sq * (sqp * sdd - sqd * sdp)
        + sd * (sqp * sqd - sqq * sdp)
    )
    det1 = (
        nn * (sqp * sdd - sqd * sdp)
        - sp * (sq * sdd - sqd * sd)
        + sd * (sq * sdp - sqp * sd)
    )
    det2 = (
        nn * (sqq * sdp - sqp * sqd)
        - sq * (sq * sdp - sqp * sd)
        + sp * (sq * sqd - sqq * sd)
    )
    b0 = F.try_divide(det0, F.nullif(det, F.lit(0.0)))
    b1 = F.try_divide(det1, F.nullif(det, F.lit(0.0)))
    b2 = F.try_divide(det2, F.nullif(det, F.lit(0.0)))
    sse = spp - b0 * sp - b1 * sqp - b2 * sdp
    sst = spp - sp * sp / nn
    r2 = F.lit(1.0) - F.try_divide(sse, F.nullif(sst, F.lit(0.0)))
    return s.select(
        "n",
        (F.round(b0, 6) + F.lit(0.0)).alias("b0_intercept"),
        (F.round(b1, 6) + F.lit(0.0)).alias("b1_quantity"),
        (F.round(b2, 6) + F.lit(0.0)).alias("b2_discount"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )


MAD_TOPK = 20
MAD_FLAG_Z = 3.5  # Iglewicz-Hoaglin modified z-score cutoff


def robust_price_outliers(orders: DataFrame, topk: int = MAD_TOPK) -> DataFrame:
    """ROBUST per-segment outlier screen: modified z-score
    0.6745*(x - median_g) / MAD_g within each order priority — the
    median/MAD pair has a 50% breakdown point, so unlike mean/stddev
    z-scores (events_anomaly_zscore) the outliers themselves cannot
    mask the fence.  Top-{MAD_TOPK} rows by |z| with the
    Iglewicz-Hoaglin |z| > 3.5 flag.

    Scale: two grouped EXACT medians (median per priority, then median
    of absolute deviations — each one shuffle on the 5-way group key;
    at 100 TB swap F.median for approx_percentile(0.5) with the same
    plan shape), broadcast joins of the 5-row model tables back to the
    fact, and a TakeOrdered heap for the top-k — no global sort."""
    x = F.col("o_totalprice").cast("double")
    med = orders.groupBy("o_orderpriority").agg(
        F.median(x).alias("med_g")
    )
    j = orders.join(F.broadcast(med), "o_orderpriority")
    mad = j.groupBy("o_orderpriority").agg(
        F.median(F.abs(x - F.col("med_g"))).alias("mad_g")
    )
    z = F.lit(0.6745) * F.try_divide(
        x - F.col("med_g"), F.nullif(F.col("mad_g"), F.lit(0.0))
    )
    return (
        j.join(F.broadcast(mad), "o_orderpriority")
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice").cast(DEC_PRICE).alias("o_totalprice"),
            (F.round(F.col("med_g"), 6) + F.lit(0.0)).alias("group_median"),
            (F.round(z, 6) + F.lit(0.0)).alias("robust_z"),
            (F.abs(F.round(z, 6)) > F.lit(MAD_FLAG_Z)).cast("int").alias(
                "is_outlier"
            ),
        )
        .filter(F.col("robust_z").isNotNull())
        .orderBy(
            F.abs(F.col("robust_z")).desc(), F.col("o_orderkey").asc()
        )
        .limit(topk)
    )


def brown_forsythe_priority(orders: DataFrame) -> DataFrame:
    """BROWN-FORSYTHE equality-of-variances test across the 5 order
    priorities: one-way ANOVA on z_ij = |x_ij - median_j| — the
    median-centered Levene variant that stays honest under skewed
    price distributions.  The missing premise check under
    ``orders_dow_anova``'s equal-variance assumption.

    Per-group rows (n, median, mean |dev|) carry the shared F
    statistic with (k-1, N-k) degrees of freedom.

    Scale: one grouped exact median + broadcast join back, then a
    single DECIMAL power-sum aggregation of the 6dp-rounded absolute
    deviations (order-insensitive); the 5-element cross-group folds
    are rounded-DECIMAL too, so no float summation order anywhere."""
    x = F.col("o_totalprice").cast("double")
    med = orders.groupBy("o_orderpriority").agg(F.median(x).alias("med_g"))
    zs = (
        orders.join(F.broadcast(med), "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("priority"),
            "med_g",
            F.round(F.abs(x - F.col("med_g")), 6)
            .cast("decimal(18,6)")
            .alias("z"),
        )
    )
    groups = zs.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.first("med_g").alias("med_g"),
        F.sum("z").alias("sz"),
        F.sum(
            F.round(F.col("z").cast("double") * F.col("z").cast("double"), 6)
            .cast("decimal(28,6)")
        ).alias("szz"),
    ).localCheckpoint()
    # SSW_g = szz - sz^2/n_g ; SSB needs the grand mean of z
    tot = F.broadcast(
        groups.agg(
            F.sum("n_g").cast("long").alias("n_total"),
            F.sum("sz").alias("tsz"),
            F.count(F.lit(1)).cast("int").alias("k"),
        )
    )
    zbar_g = F.col("sz").cast("double") / F.col("n_g").cast("double")
    zbar = F.col("tsz").cast("double") / F.col("n_total").cast("double")
    terms = groups.crossJoin(tot).select(
        "n_total",
        "k",
        F.round(
            F.col("n_g").cast("double") * (zbar_g - zbar) * (zbar_g - zbar), 6
        )
        .cast("decimal(28,6)")
        .alias("ssb_t"),
        F.round(
            F.col("szz").cast("double")
            - F.col("sz").cast("double") * F.col("sz").cast("double")
            / F.col("n_g").cast("double"),
            6,
        )
        .cast("decimal(28,6)")
        .alias("ssw_t"),
    )
    fstat = terms.groupBy("n_total", "k").agg(
        F.sum("ssb_t").alias("ssb"), F.sum("ssw_t").alias("ssw")
    )
    fcol = F.try_divide(
        F.col("ssb").cast("double") / (F.col("k").cast("double") - F.lit(1.0)),
        F.nullif(
            F.col("ssw").cast("double")
            / (F.col("n_total").cast("double") - F.col("k").cast("double")),
            F.lit(0.0),
        ),
    )
    fglob = F.broadcast(
        fstat.select(
            "n_total",
            (F.col("k") - F.lit(1)).cast("int").alias("df1"),
            (F.col("n_total") - F.col("k")).cast("long").alias("df2"),
            (F.round(fcol, 6) + F.lit(0.0)).alias("f_stat"),
        )
    )
    return (
        groups.select(
            "priority",
            "n_g",
            (F.round(F.col("med_g"), 6) + F.lit(0.0)).alias("group_median"),
            (
                F.round(
                    F.col("sz").cast("double") / F.col("n_g").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("mean_absdev"),
        )
        .crossJoin(fglob)
        .orderBy("priority")
    )


def mann_kendall_trend(orders: DataFrame) -> DataFrame:
    """MANN-KENDALL monotone-trend test on monthly revenue: S = sum of
    sign(rev_j - rev_i) over all month pairs i<j, tie-corrected normal
    variance, continuity-corrected z — the distribution-free "is
    revenue actually trending" verdict that pairs with
    ``orders_theil_sen_trend``'s slope estimate (same pairwise logic,
    test vs estimator).

    Scale: the pairwise self-join runs on the MONTH aggregate (rows
    bounded by the calendar, not the data), so the only data-sized
    work is one monthly groupBy; revenue compares in DECIMAL, making
    every sign exact, and S / the tie term are integer sums."""
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    a = m.select(F.col("month").alias("m1"), F.col("rev").alias("r1"))
    b = m.select(F.col("month").alias("m2"), F.col("rev").alias("r2"))
    s = (
        a.join(b, F.col("m1") < F.col("m2"))
        .agg(
            F.sum(F.signum((F.col("r2") - F.col("r1")).cast("double")).cast("long"))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        m.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("t3")
        )
    )
    n = m.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    nd = F.col("n_months").cast("double")
    var = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
        - F.col("t3").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    z = F.when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / F.sqrt(var)).when(
        F.col("s_stat") < 0, (sd + F.lit(1.0)) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return (
        n.crossJoin(s)
        .crossJoin(ties)
        .select(
            "n_months",
            "s_stat",
            (F.round(var, 6) + F.lit(0.0)).alias("var_s"),
            (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
            F.when(F.col("s_stat") > 0, F.lit("increasing"))
            .when(F.col("s_stat") < 0, F.lit("decreasing"))
            .otherwise(F.lit("none"))
            .alias("trend"),
        )
    )


BLOOM_JOIN_MIN_PRICE = 300000.0
# Used by registry.bloom_filter_join, which runs in an isolated
# spark.newSession() (private SQLConf: auto-broadcast off + runtime
# bloom-filter thresholds floored) so the injected
# bloom_filter_might_contain probe is exercised at test scale without
# touching any other query's plans.


def observed_quality_metrics(orders: DataFrame) -> DataFrame:
    """OBSERVATION API: data-quality metrics (row count, null count,
    min/max) piggybacked on the SAME physical scan that computes the
    real workload (revenue by priority) — ``df.observe`` attaches
    accumulator-backed aggregates to the plan, so the metrics cost
    ZERO extra passes.  The pattern every 100-TB pipeline needs:
    profiling a table you were already reading, instead of a second
    full scan (compare ``profile_documents``, which pays for its own
    pass).

    The workload result is intentionally small (5 priority groups, a
    request-sized driver collect like the knn query batch); the
    returned DataFrame is the metrics row plus the observed workload
    cardinality, reproducible by the plain-SQL oracle."""
    from pyspark.sql import Observation

    spark = orders.sparkSession
    obs = Observation()
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("int"))
        .cast("long")
        .alias("null_prices"),
        F.min(_dec("o_totalprice")).alias("min_price"),
        F.max(_dec("o_totalprice")).alias("max_price"),
    )
    workload = (
        observed.groupBy("o_orderpriority")
        .agg(F.sum(_dec("o_totalprice")).alias("revenue"))
        .collect()
    )
    m = obs.get
    return local_frame(
        spark,
        [
            (
                m["n_rows"],
                m["null_prices"],
                m["min_price"],
                m["max_price"],
                len(workload),
            )
        ],
        "n_rows long, null_prices long, min_price decimal(15,2),"
        " max_price decimal(15,2), priority_groups long",
    )


HW_ALPHA = 0.3
HW_BETA = 0.1
HW_GAMMA = 0.2
HW_PERIOD = 12


def holt_winters_seasonal(orders: DataFrame) -> DataFrame:
    """HOLT-WINTERS additive seasonal smoothing of monthly revenue —
    level + trend + 12 seasonal states, completing the forecasting
    ladder (EWMA -> Holt -> Holt-Winters) with the model that can
    actually track the seasonality ``orders_periodogram`` detects.

    The seasonal state is a ROTATING array: the season of the element
    being folded is always the array HEAD, and each step re-appends
    the updated head to the tail — so the recursion needs no indexed
    array writes, just concat/slice, and the DuckDB list_reduce mirror
    is bit-identical.  Init: l0 = mean(year1), b0 = (mean(year2) -
    mean(year1)) / 12 with DETRENDED seasonals s_j = y_j - m1 -
    (j - 6.5)*b0 and l0 = m1 + 5.5*b0 (the level AT month 12), so a
    pure linear trend is a fixed point of the recursion; fold runs
    from month 13.  Scale: one month-keyed DECIMAL aggregate is the only
    data-sized work; the fold happens on ONE row over the
    calendar-bounded month array."""
    a, b_, g = HW_ALPHA, HW_BETA, HW_GAMMA
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    packed = monthly.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("m"), F.col("y").cast("double").alias("y"))
                )
            ),
            lambda s: s["y"],
        ).alias("ys")
    )
    ys = F.col("ys")
    n = F.size(ys)
    m1 = F.aggregate(
        F.slice(ys, 1, 12), F.lit(0.0), lambda acc, x: acc + x
    ) / F.lit(12.0)
    m2 = F.aggregate(
        F.slice(ys, 13, 12), F.lit(0.0), lambda acc, x: acc + x
    ) / F.lit(12.0)
    b0 = (m2 - m1) / F.lit(12.0)
    init = F.concat(
        F.array(m1 + F.lit(5.5) * b0, b0, F.lit(0.0)),
        F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda j: F.element_at(ys, j.cast("int"))
            - m1
            - (j.cast("double") - F.lit(6.5)) * b0,
        ),
    )

    def step(acc, y):
        sj = F.element_at(acc, 4)
        l0 = F.element_at(acc, 1)
        b0 = F.element_at(acc, 2)
        pred = l0 + b0 + sj
        newl = a * (y - sj) + (1 - a) * (l0 + b0)
        newb = b_ * (newl - l0) + (1 - b_) * b0
        news = g * (y - newl) + (1 - g) * sj
        sse = F.element_at(acc, 3) + (pred - y) * (pred - y)
        return F.concat(
            F.array(newl, newb, sse), F.slice(acc, 5, 11), F.array(news)
        )

    st = F.aggregate(F.slice(ys, 13, n - 12), init, step)
    seas = F.slice(st, 4, 12)
    return packed.select(
        n.cast("long").alias("n_months"),
        F.round(F.element_at(st, 1), 6).alias("level"),
        F.round(F.element_at(st, 2), 6).alias("trend"),
        F.round(
            F.element_at(st, 3) / (n - F.lit(12)).cast("double"), 6
        ).alias("mse_1step"),
        F.round(
            F.element_at(st, 1) + F.element_at(st, 2) + F.element_at(st, 4), 6
        ).alias("forecast_1m"),
        F.round(F.array_max(seas) - F.array_min(seas), 6).alias(
            "seasonal_range"
        ),
    )


def nbinom_lines_fit(lineitem: DataFrame) -> DataFrame:
    """NEGATIVE-BINOMIAL moment fit of lines-per-order — the
    overdispersion upgrade of ``orders_lines_poisson_fit``: when the
    dispersion ratio var/mean exceeds 1 (Poisson demands exactly 1),
    the method-of-moments NB parameters are r = m^2/(v-m), p = m/v —
    the count model that actually fits bursty order sizes, and the
    right sampling model for synthetic-workload generators.

    Scale: one groupBy on l_orderkey (map-side combined), then a
    single DECIMAL power-sum aggregate over the per-order counts; the
    final algebra runs on one row.  v <= m (under-dispersed) yields
    NULL r/p rather than a nonsense fit."""
    per = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    s = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    nd = F.col("n_orders").cast("double")
    m = F.col("sx").cast("double") / nd
    v = (F.col("sxx").cast("double") - nd * m * m) / (nd - F.lit(1.0))
    disp = F.try_divide(v, F.nullif(m, F.lit(0.0)))
    r = F.when(
        v > m, F.try_divide(m * m, F.nullif(v - m, F.lit(0.0)))
    ).otherwise(F.lit(None).cast("double"))
    p = F.when(v > m, F.try_divide(m, F.nullif(v, F.lit(0.0)))).otherwise(
        F.lit(None).cast("double")
    )
    return s.select(
        "n_orders",
        (F.round(m, 6) + F.lit(0.0)).alias("mean_lines"),
        (F.round(v, 6) + F.lit(0.0)).alias("var_lines"),
        (F.round(disp, 6) + F.lit(0.0)).alias("dispersion"),
        (F.round(r, 6) + F.lit(0.0)).alias("nb_r"),
        (F.round(p, 6) + F.lit(0.0)).alias("nb_p"),
    )


def ar2_yule_walker(orders: DataFrame) -> DataFrame:
    """AR(2) fit of mean-centered monthly revenue by YULE-WALKER:
    phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2) from the
    lag-1/lag-2 autocorrelations — the autoregressive member of the
    forecasting suite (EWMA/Holt/Holt-Winters smooth; AR(2) can model
    oscillation, phi2 < 0), plus a stationarity verdict
    (|phi2| < 1 and phi2 +- phi1 < 1).

    Scale: everything after the one month-keyed DECIMAL aggregate runs
    on the calendar-bounded month table; autocovariances come from a
    rank self-join at lags 1 and 2 (exact month alignment), with
    6dp-rounded DECIMAL product sums so the folds are
    order-insensitive."""
    from .ranking import ranked_global

    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    mu = F.broadcast(
        monthly.agg(
            (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mu"
            ),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    cent = (
        ranked_global(monthly, [F.col("m").asc()], rank_name="t")
        .crossJoin(mu)
        .select(
            "t",
            "n",
            F.round(F.col("y").cast("double") - F.col("mu"), 6)
            .cast("decimal(24,6)")
            .alias("c"),
        )
        .localCheckpoint()
    )
    c0 = cent.agg(
        F.sum(
            F.round(F.col("c").cast("double") * F.col("c").cast("double"), 6)
            .cast("decimal(30,6)")
        ).alias("g0"),
        F.max("n").alias("n"),
    )

    def _lagcov(k: int, name: str):
        a = cent.select(F.col("t"), F.col("c").alias("ca"))
        b = cent.select((F.col("t") - F.lit(k)).alias("t"), F.col("c").alias("cb"))
        return a.join(b, "t").agg(
            F.sum(
                F.round(
                    F.col("ca").cast("double") * F.col("cb").cast("double"), 6
                ).cast("decimal(30,6)")
            ).alias(name)
        )

    j = c0.crossJoin(_lagcov(1, "g1")).crossJoin(_lagcov(2, "g2"))
    r1 = F.try_divide(
        F.col("g1").cast("double"), F.nullif(F.col("g0").cast("double"), F.lit(0.0))
    )
    r2 = F.try_divide(
        F.col("g2").cast("double"), F.nullif(F.col("g0").cast("double"), F.lit(0.0))
    )
    den = F.lit(1.0) - r1 * r1
    phi1 = F.try_divide(r1 * (F.lit(1.0) - r2), F.nullif(den, F.lit(0.0)))
    phi2 = F.try_divide(r2 - r1 * r1, F.nullif(den, F.lit(0.0)))
    stationary = (
        (F.abs(phi2) < 1)
        & (phi2 + phi1 < 1)
        & (phi2 - phi1 < 1)
    ).cast("int")
    return j.select(
        "n",
        (F.round(r1, 6) + F.lit(0.0)).alias("acf_lag1"),
        (F.round(r2, 6) + F.lit(0.0)).alias("acf_lag2"),
        (F.round(phi1, 6) + F.lit(0.0)).alias("phi1"),
        (F.round(phi2, 6) + F.lit(0.0)).alias("phi2"),
        stationary.alias("stationary"),
    )


EWMA_CHART_LAMBDA = 0.2
EWMA_CHART_L = 3.0


def ewma_control_chart(orders: DataFrame) -> DataFrame:
    """EWMA CONTROL CHART on daily order counts — the SPC member that
    catches small persistent mean shifts the 3-sigma p-chart misses
    and reacts faster than CUSUM to slow drifts: z_t = λy_t +
    (1-λ)z_{t-1} against time-varying limits μ ± Lσ√(λ/(2-λ)
    (1-(1-λ)^{2t})).  Completes the monitoring trio (p-chart, CUSUM,
    EWMA).

    The recursion folds once over the calendar-bounded daily array on
    ONE row, carrying (z, (1-λ)^{2t}, breaches, first-breach,
    t) — the pow term updates multiplicatively so no exponentiation
    appears, and the DuckDB list_reduce mirror is bit-identical.  μ/σ
    come from DECIMAL-exact count sums; only the fold is float64."""
    lam, L = EWMA_CHART_LAMBDA, EWMA_CHART_L
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    packed = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("d"), F.col("x").cast("double").alias("x"))
                )
            ),
            lambda s: s["x"],
        ).alias("ys"),
    )
    nd = F.col("n_days").cast("double")
    mu = F.col("sx").cast("double") / nd
    sig = F.sqrt(
        (F.col("sxx").cast("double") - nd * mu * mu) / (nd - F.lit(1.0))
    )
    base = packed.select(
        "n_days",
        "ys",
        F.round(mu, 9).alias("mu"),
        F.round(sig, 9).alias("sig"),
    )

    def step(acc, y):
        z = lam * y + (1 - lam) * F.element_at(acc, 1)
        w = F.element_at(acc, 2) * F.lit((1 - lam) * (1 - lam))
        hw = (
            F.lit(L)
            * F.col("sig")
            * F.sqrt(F.lit(lam / (2 - lam)) * (F.lit(1.0) - w))
        )
        ooc = (z > F.col("mu") + hw) | (z < F.col("mu") - hw)
        t = F.element_at(acc, 5) + F.lit(1.0)
        return F.array(
            z,
            w,
            F.element_at(acc, 3) + ooc.cast("double"),
            F.when(
                (F.element_at(acc, 4) == 0.0) & ooc, t
            ).otherwise(F.element_at(acc, 4)),
            t,
        )

    st = F.aggregate(
        F.col("ys"),
        F.array(F.col("mu"), F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(0.0)),
        step,
    )
    return base.select(
        "n_days",
        (F.round(F.col("mu"), 6) + F.lit(0.0)).alias("mean_daily"),
        (F.round(F.col("sig"), 6) + F.lit(0.0)).alias("sigma_daily"),
        F.round(F.element_at(st, 1), 6).alias("ewma_final"),
        F.element_at(st, 3).cast("long").alias("n_out_of_control"),
        F.element_at(st, 4).cast("long").alias("first_breach_day"),
    )


HITS_ITERS = 6


def nation_trade_hits(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    iters: int = HITS_ITERS,
) -> DataFrame:
    """HITS hubs-and-authorities over the supplier-nation ->
    customer-nation trade graph: hubs = nations whose EXPORTS feed the
    big importers, authorities = nations whose IMPORTS draw on the big
    exporters — the dual-role centrality PageRank's single score
    conflates.  Fixed {HITS_ITERS} mutual-reinforcement iterations
    with L1 normalization.

    Determinism: per-edge contributions w*score are ROUNDed to 8dp
    into DECIMAL sums each half-step (edge weights exact ints), so
    both the inflow folds and the normalizing total are
    order-insensitive; the only raw f64 op is the final normalized
    division, identical in both engines.  Scale: same shape as
    ``nation_trade_pagerank`` — ONE fact shuffle builds the edge
    aggregate, iterations run on the checkpointed |nations|² table."""
    edges = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    from decimal import ROUND_HALF_UP, Decimal

    # the graph is MODEL-SIZED (|nations|^2 edges): collect once and run
    # the mutual-reinforcement rounds driver-side with the identical
    # arithmetic (ROUND(w*s, 8) terms, exact DECIMAL(20,8) sums, one
    # f64 normalize) — 2*iters cluster jobs of pure latency replaced by
    # one collect, same pattern as train_centroids / absorbing funnel.
    erows = [(r["src"], r["dst"], int(r["w"])) for r in edges.collect()]
    node_ids = sorted(
        r["node"]
        for r in nation.select(F.col("n_nationkey").alias("node")).collect()
    )
    q8 = Decimal("0.00000001")

    def r8(x: float) -> float:
        return float(Decimal(repr(float(x))).quantize(q8, ROUND_HALF_UP))

    def halfstep(vec: dict, frm: int, to: int) -> dict:
        raw: dict = {}
        for e in erows:
            sv = vec.get(e[frm])
            if sv is None:
                continue
            term = Decimal(repr(r8(float(e[2]) * sv))).quantize(
                q8, ROUND_HALF_UP
            )
            raw[e[to]] = raw.get(e[to], Decimal(0)) + term
        tot = float(sum(raw.values(), Decimal(0)))
        if tot == 0.0:
            return {n: None for n in node_ids}
        return {
            n: r8(float(raw.get(n, Decimal(0))) / tot) for n in node_ids
        }

    n_nodes = len(node_ids)
    h = {n: r8(1.0 / n_nodes) for n in node_ids}
    a = None
    for _ in range(iters):
        a = halfstep(h, 0, 1)
        h = halfstep(a, 1, 0)
    spark = nation.sparkSession
    model = local_frame(
        spark,
        [(int(n), h[n], a[n]) for n in node_ids],
        "node int, hub double, authority double",
    )
    return (
        F.broadcast(nation.select(F.col("n_nationkey").alias("node"), "n_name"))
        .join(F.broadcast(model), "node")
        .select(
            F.col("n_name").alias("nation"),
            (F.round(F.col("hub"), 6) + F.lit(0.0)).alias("hub"),
            (F.round(F.col("authority"), 6) + F.lit(0.0)).alias("authority"),
        )
        .orderBy("nation")
    )


def welch_ttest(
    lineitem: DataFrame, groups: tuple[str, str] = KS_GROUPS
) -> DataFrame:
    """WELCH'S unequal-variances t-test between two returnflag groups
    over quantity — the significance member of the family whose
    magnitude is ``lineitem_cohens_d`` and whose nonparametric
    siblings are the MW/KS tests: same DECIMAL power sums, no pooled-
    variance assumption, Welch-Satterthwaite df, normal-tail p (the t
    and normal tails agree to ~1e-4 at these df).

    Scale: one conditional-aggregate pass over the fact table; the
    test algebra runs on one row."""
    from .events import _norm_sf2

    a_key, b_key = groups
    q = F.col("l_quantity").cast("decimal(10,2)")
    g = (
        lineitem.filter(F.col("l_returnflag").isin(a_key, b_key))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(q).alias("s1"),
            F.sum((q * q).cast("decimal(38,4)")).alias("s2"),
        )
    )
    a = g.filter(F.col("l_returnflag") == a_key).select(
        F.col("n").alias("n_a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    b = g.filter(F.col("l_returnflag") == b_key).select(
        F.col("n").alias("n_b"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    j = a.crossJoin(b)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("s1a").cast("double") / na
    mb = F.col("s1b").cast("double") / nb
    va = (F.col("s2a").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("s2b").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    se2 = va / na + vb / nb
    t = F.try_divide(ma - mb, F.nullif(F.sqrt(se2), F.lit(0.0)))
    df_w = F.try_divide(
        se2 * se2,
        F.nullif(
            (va / na) * (va / na) / (na - F.lit(1.0))
            + (vb / nb) * (vb / nb) / (nb - F.lit(1.0)),
            F.lit(0.0),
        ),
    )
    return j.select(
        "n_a",
        "n_b",
        (F.round(ma, 6) + F.lit(0.0)).alias("mean_a"),
        (F.round(mb, 6) + F.lit(0.0)).alias("mean_b"),
        (F.round(t, 6) + F.lit(0.0)).alias("t_stat"),
        (F.round(df_w, 6) + F.lit(0.0)).alias("welch_df"),
        (F.round(_norm_sf2(F.abs(t)), 6) + F.lit(0.0)).alias("p_value"),
    )


def pacf_durbin_levinson(orders: DataFrame) -> DataFrame:
    """PARTIAL autocorrelations of monthly revenue at lags 1-3 by
    Durbin-Levinson — the model-order dial for the AR fits: pacf(k)
    is the lag-k coefficient after regressing out lags < k, so an
    AR(p) series shows pacf cutting off after p (the ACF, which
    ``orders_ar2_yule_walker`` also reports, instead tails forever).

    Same scale shape as the AR(2) fit: one month-keyed aggregate, lag
    autocovariances from rank self-joins with 6dp-rounded DECIMAL
    product sums, closed-form recursion on one row."""
    from .ranking import ranked_global

    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    mu = F.broadcast(
        monthly.agg(
            (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mu"
            ),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    cent = (
        ranked_global(monthly, [F.col("m").asc()], rank_name="t")
        .crossJoin(mu)
        .select(
            "t",
            "n",
            F.round(F.col("y").cast("double") - F.col("mu"), 6)
            .cast("decimal(24,6)")
            .alias("c"),
        )
        .localCheckpoint()
    )

    def _g(k: int, name: str):
        a = cent.select(F.col("t"), F.col("c").alias("ca"))
        b = cent.select((F.col("t") - F.lit(k)).alias("t"), F.col("c").alias("cb"))
        if k == 0:
            return cent.agg(
                F.sum(
                    F.round(
                        F.col("c").cast("double") * F.col("c").cast("double"), 6
                    ).cast("decimal(30,6)")
                ).alias(name),
                F.max("n").alias("n"),
            )
        return a.join(b, "t").agg(
            F.sum(
                F.round(
                    F.col("ca").cast("double") * F.col("cb").cast("double"), 6
                ).cast("decimal(30,6)")
            ).alias(name)
        )

    j = (
        _g(0, "g0")
        .crossJoin(_g(1, "g1"))
        .crossJoin(_g(2, "g2"))
        .crossJoin(_g(3, "g3"))
    )
    g0 = F.col("g0").cast("double")
    r1 = F.try_divide(F.col("g1").cast("double"), F.nullif(g0, F.lit(0.0)))
    r2 = F.try_divide(F.col("g2").cast("double"), F.nullif(g0, F.lit(0.0)))
    r3 = F.try_divide(F.col("g3").cast("double"), F.nullif(g0, F.lit(0.0)))
    p11 = r1
    p22 = F.try_divide(r2 - r1 * r1, F.nullif(F.lit(1.0) - r1 * r1, F.lit(0.0)))
    # Durbin-Levinson order-2 AR coefficients, then the order-3 pacf
    a21 = p11 - p22 * p11  # = phi_{2,1}
    p33 = F.try_divide(
        r3 - a21 * r2 - p22 * r1,
        F.nullif(F.lit(1.0) - a21 * r1 - p22 * r2, F.lit(0.0)),
    )
    return j.select(
        "n",
        (F.round(p11, 6) + F.lit(0.0)).alias("pacf_1"),
        (F.round(p22, 6) + F.lit(0.0)).alias("pacf_2"),
        (F.round(p33, 6) + F.lit(0.0)).alias("pacf_3"),
    )


PRICE_INDEX_YEARS = (1996, 1997)


def price_indices(lineitem: DataFrame) -> DataFrame:
    """LASPEYRES / PAASCHE / FISHER price indices between two ship
    years over the common part basket — the index-number economics of
    "did prices rise, or did the mix shift?": Laspeyres weights by the
    base-year basket, Paasche by the current one, Fisher is their
    geometric mean (the superlative index).  Per part-year unit price
    = revenue / quantity.

    Scale: one (part, year) aggregate off the fact scan, a part-keyed
    self-join restricted to the common basket, one DECIMAL sum of
    6dp-rounded cross terms; index algebra on a single row."""
    y0, y1 = PRICE_INDEX_YEARS
    py = (
        lineitem.filter(F.year("l_shipdate").isin(y0, y1))
        .groupBy(
            F.col("l_partkey").alias("part_id"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(_dec("l_extendedprice")).alias("rev"),
            F.sum(_dec("l_quantity")).alias("qty"),
        )
        .filter(F.col("qty") > 0)
    )
    p = F.round(
        F.col("rev").cast("double") / F.col("qty").cast("double"), 6
    )
    priced = py.select("part_id", "yr", p.alias("p"), F.col("qty"))
    base = priced.filter(F.col("yr") == y0).select(
        "part_id", F.col("p").alias("p0"), F.col("qty").alias("q0")
    )
    cur = priced.filter(F.col("yr") == y1).select(
        "part_id", F.col("p").alias("p1"), F.col("qty").alias("q1")
    )
    j = base.join(cur, "part_id")

    def term(a, b):
        return F.round(a * b.cast("double"), 6).cast("decimal(30,6)")

    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(term(F.col("p1"), F.col("q0"))).alias("s10"),
        F.sum(term(F.col("p0"), F.col("q0"))).alias("s00"),
        F.sum(term(F.col("p1"), F.col("q1"))).alias("s11"),
        F.sum(term(F.col("p0"), F.col("q1"))).alias("s01"),
    )
    lasp = F.try_divide(
        F.col("s10").cast("double"), F.nullif(F.col("s00").cast("double"), F.lit(0.0))
    )
    paas = F.try_divide(
        F.col("s11").cast("double"), F.nullif(F.col("s01").cast("double"), F.lit(0.0))
    )
    return s.select(
        "n_parts",
        (F.round(lasp, 6) + F.lit(0.0)).alias("laspeyres"),
        (F.round(paas, 6) + F.lit(0.0)).alias("paasche"),
        (F.round(F.sqrt(lasp * paas), 6) + F.lit(0.0)).alias("fisher"),
    )


def cmh_promo_returns(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL stratified 2x2 test: does PROMO part
    type associate with returns AFTER controlling for ship year?  The
    adjusted-inference companion to ``lineitem_simpson_audit``: the
    Simpson screen flags when pooled and per-stratum conclusions
    disagree; CMH is the principled pooled test that weights each
    year's 2x2 by its information, plus the Mantel-Haenszel common
    odds ratio beside the confounded crude OR.

    chi2_CMH = (sum_s a_s - sum_s E_s)^2 / sum_s V_s with
    E = n1*m1/N, V = n1*n0*m1*m0 / (N^2 (N-1)); OR_MH =
    sum(a*d/N) / sum(b*c/N).

    Scale: broadcast part dimension into one fact scan, one
    (year)-keyed conditional aggregate (cells exact ints), per-stratum
    doubles rounded 9dp into DECIMAL sums — the whole test is two
    aggregates."""
    promo = F.col("p_type").startswith("PROMO")
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        lineitem.l_partkey == F.col("p_partkey"),
    )
    cells = (
        j.groupBy(F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum((promo & (F.col("l_returnflag") == "R")).cast("long")).alias("a"),
            F.sum((promo & (F.col("l_returnflag") != "R")).cast("long")).alias("b"),
            F.sum(((~promo) & (F.col("l_returnflag") == "R")).cast("long")).alias(
                "c"
            ),
            F.sum(((~promo) & (F.col("l_returnflag") != "R")).cast("long")).alias(
                "d"
            ),
        )
        .localCheckpoint()
    )
    n1 = (F.col("a") + F.col("b")).cast("double")
    n0 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    m0 = (F.col("b") + F.col("d")).cast("double")
    nn = n1 + n0
    e = n1 * m1 / nn
    v = F.try_divide(n1 * n0 * m1 * m0, F.nullif(nn * nn * (nn - F.lit(1.0)), F.lit(0.0)))
    terms = cells.select(
        F.col("a").alias("ai"),
        F.round(e, 9).cast("decimal(28,9)").alias("e"),
        F.round(v, 9).cast("decimal(28,9)").alias("v"),
        F.round(
            F.col("a").cast("double") * F.col("d").cast("double") / nn, 9
        )
        .cast("decimal(28,9)")
        .alias("ad"),
        F.round(
            F.col("b").cast("double") * F.col("c").cast("double") / nn, 9
        )
        .cast("decimal(28,9)")
        .alias("bc"),
        "a",
        "b",
        "c",
        "d",
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("int").alias("n_strata"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("e").alias("se"),
        F.sum("v").alias("sv"),
        F.sum("ad").alias("sad"),
        F.sum("bc").alias("sbc"),
        F.sum("b").cast("long").alias("sb"),
        F.sum("c").cast("long").alias("sc"),
        F.sum("d").cast("long").alias("sd"),
    )
    diff = F.col("sa").cast("double") - F.col("se").cast("double")
    chi2 = F.try_divide(
        diff * diff, F.nullif(F.col("sv").cast("double"), F.lit(0.0))
    )
    or_mh = F.try_divide(
        F.col("sad").cast("double"), F.nullif(F.col("sbc").cast("double"), F.lit(0.0))
    )
    crude = F.try_divide(
        F.col("sa").cast("double") * F.col("sd").cast("double"),
        F.nullif(
            F.col("sb").cast("double") * F.col("sc").cast("double"), F.lit(0.0)
        ),
    )
    return s.select(
        "n_strata",
        (F.round(chi2, 6) + F.lit(0.0)).alias("cmh_chi2"),
        (F.round(or_mh, 6) + F.lit(0.0)).alias("or_mh"),
        (F.round(crude, 6) + F.lit(0.0)).alias("or_crude"),
    )


SBC_ADI_CUT = 1.32
SBC_CV2_CUT = 0.49


def sbc_demand_classification(lineitem: DataFrame) -> DataFrame:
    """SYNTETOS-BOYLAN demand classification: every part lands in the
    forecastability quadrant (smooth / intermittent / erratic / lumpy)
    by ADI (average inter-demand interval, = months-in-horizon /
    demand-months) x CV^2 of nonzero monthly demand sizes, cut at the
    standard 1.32 / 0.49 — the triage that decides which forecasting
    model each SKU gets (smooth -> exponential smoothing, intermittent
    -> Croston-family, lumpy -> don't trust point forecasts).  The
    missing upstream step for the EOQ/forecast suite.

    Scale: one (part, month) aggregate, one part aggregate with
    DECIMAL power sums, bounded class rollup; per-part ratios rounded
    6dp before the class cut so the boundary is engine-stable."""
    pm = (
        lineitem.groupBy(
            F.col("l_partkey").alias("part_id"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 0)
        .localCheckpoint()
    )
    horizon = F.broadcast(
        pm.agg(F.countDistinct("m").cast("long").alias("mm"))
    )
    per = pm.groupBy("part_id").agg(
        F.count(F.lit(1)).cast("long").alias("p"),
        F.sum("q").alias("sq"),
        F.sum(
            F.round(F.col("q").cast("double") * F.col("q").cast("double"), 4)
            .cast("decimal(30,4)")
        ).alias("sqq"),
    )
    pd_ = F.col("p").cast("double")
    mean = F.col("sq").cast("double") / pd_
    var = F.when(
        F.col("p") > 1,
        (F.col("sqq").cast("double") - pd_ * mean * mean) / (pd_ - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    scored = per.crossJoin(horizon).select(
        "part_id",
        F.round(F.col("mm").cast("double") / pd_, 6).alias("adi"),
        F.round(
            F.try_divide(var, F.nullif(mean * mean, F.lit(0.0))), 6
        ).alias("cv2"),
    )
    cls = (
        F.when(
            (F.col("adi") < SBC_ADI_CUT) & (F.col("cv2") < SBC_CV2_CUT),
            F.lit("smooth"),
        )
        .when(
            (F.col("adi") >= SBC_ADI_CUT) & (F.col("cv2") < SBC_CV2_CUT),
            F.lit("intermittent"),
        )
        .when(
            (F.col("adi") < SBC_ADI_CUT) & (F.col("cv2") >= SBC_CV2_CUT),
            F.lit("erratic"),
        )
        .otherwise(F.lit("lumpy"))
    )
    tagged = scored.select(
        "part_id",
        cls.alias("demand_class"),
        F.col("adi").cast("decimal(12,6)").alias("adi"),
        F.col("cv2").cast("decimal(12,6)").alias("cv2"),
    )
    tot = F.broadcast(
        tagged.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    )
    return (
        tagged.groupBy("demand_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("adi").alias("s_adi"),
            F.sum("cv2").alias("s_cv2"),
        )
        .crossJoin(tot)
        .select(
            "demand_class",
            "n_parts",
            (
                F.round(
                    F.col("n_parts").cast("double")
                    / F.col("n_total").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("share"),
            (
                F.round(
                    F.col("s_adi").cast("double")
                    / F.col("n_parts").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_adi"),
            (
                F.round(
                    F.col("s_cv2").cast("double")
                    / F.col("n_parts").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_cv2"),
        )
        .orderBy("demand_class")
    )


LEONTIEF_ITERS = 8
LEONTIEF_DAMP = 0.8  # column-sum cap: a_ij = z_ij / (inflow_j / 0.8)


def leontief_multipliers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    iters: int = LEONTIEF_ITERS,
) -> DataFrame:
    """LEONTIEF input-output multipliers on the nation trade matrix:
    with technical coefficients a_ij = z_ij / (inflow_j / {LEONTIEF_DAMP})
    (column sums capped at {LEONTIEF_DAMP} so the Neumann series
    converges), the truncated Leontief inverse column sum
    m_j = [1^T (I + A + A^2 + ...)]_j answers the ripple question
    PageRank's centrality does not: "one unit of extra demand in
    nation j pulls how much TOTAL production through the whole
    system?"  The economics member of the trade-graph family.

    Scale: identical shape to nation_trade_pagerank — ONE fact shuffle
    builds the flow aggregate; {LEONTIEF_ITERS} vector-matrix
    iterations run on the checkpointed |nations|^2 table with
    9dp-rounded components per round (cross-engine f64 association
    cannot accumulate)."""
    flows = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j")
        )
        .agg(F.sum(_dec("l_extendedprice")).alias("z"))
        .localCheckpoint()
    )
    inflow = flows.groupBy("j").agg(F.sum("z").alias("inflow"))
    a = (
        flows.join(inflow, "j")
        .select(
            "i",
            "j",
            F.round(
                F.lit(LEONTIEF_DAMP)
                * F.col("z").cast("double")
                / F.col("inflow").cast("double"),
                9,
            ).alias("a"),
        )
        .localCheckpoint()
    )
    from decimal import ROUND_HALF_UP, Decimal

    # the coefficient matrix is MODEL-SIZED (|nations|^2): collect it
    # once and run the Neumann rounds driver-side with the identical
    # arithmetic (ROUND(a*s, 9) terms, exact DECIMAL(20,9) sums, f64
    # casts per round) — 2*iters cluster jobs of pure latency replaced
    # by one collect, same pattern as the absorbing funnel.
    arows = [(r["i"], r["j"], float(r["a"])) for r in a.collect()]
    node_ids = sorted(
        r["node"]
        for r in nation.select(F.col("n_nationkey").alias("node")).collect()
    )
    q9 = Decimal("0.000000001")

    def r9(x: float) -> float:
        return float(Decimal(repr(float(x))).quantize(q9, ROUND_HALF_UP))

    v = {n: 1.0 for n in node_ids}
    accd = dict(v)
    for _ in range(iters):
        raw: dict = {}
        for i_, j_, a_ in arows:
            sv = v.get(i_)
            if sv is None:
                continue
            term = Decimal(repr(r9(a_ * sv))).quantize(q9, ROUND_HALF_UP)
            raw[j_] = raw.get(j_, Decimal(0)) + term
        v = {n: r9(float(raw.get(n, Decimal(0)))) for n in node_ids}
        # acc = CAST(SUM(DEC9(round9(acc)), DEC9(round9(v))) AS DOUBLE)
        accd = {
            n: float(
                Decimal(repr(r9(accd[n]))).quantize(q9, ROUND_HALF_UP)
                + Decimal(repr(r9(v[n]))).quantize(q9, ROUND_HALF_UP)
            )
            for n in node_ids
        }
    spark = nation.sparkSession
    acc = local_frame(
        spark, [(int(n), accd[n]) for n in node_ids], "node int, s double"
    )
    return (
        acc.join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("node"), "n_name")
            ),
            "node",
        )
        .join(inflow.select(F.col("j").alias("node"), "inflow"), "node", "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("inflow"), F.lit(0))
            .cast("decimal(38,2)")
            .alias("inflow"),
            (F.round(F.col("s"), 6) + F.lit(0.0)).alias("output_multiplier"),
        )
        .orderBy("nation")
    )


DF_CRIT_5PCT = -2.86  # Dickey-Fuller tau_mu 5% critical value (constant)


def dickey_fuller_test(orders: DataFrame) -> DataFrame:
    """DICKEY-FULLER unit-root test on monthly revenue: regress
    delta_y on y_{{t-1}} (with constant) and compare the slope t-ratio
    to the DF tau distribution (5% critical {DF_CRIT_5PCT}) — "is this
    series actually mean-reverting, or a random walk?", the
    stationarity PRE-CONDITION every ARMA-family fit in the suite
    (AR(2), Holt, seasonal models) silently assumes, and the
    complement of Mann-Kendall's monotone-trend verdict.

    Scale: month aggregate + rank lag join (calendar-bounded), one
    DECIMAL power-sum aggregate of 4dp-rounded cross terms, simple-
    regression algebra on one row."""
    from .ranking import ranked_global

    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    ranked = ranked_global(monthly, [F.col("m").asc()], rank_name="t").select(
        "t", F.col("y").cast("double").alias("y")
    ).localCheckpoint()
    cur = ranked.select(F.col("t"), F.col("y").alias("y1"))
    prv = ranked.select((F.col("t") + F.lit(1)).alias("t"), F.col("y").alias("y0"))
    pairs = cur.join(prv, "t").select(
        F.col("y0").alias("x"), (F.col("y1") - F.col("y0")).alias("dy")
    )

    def rd(c):
        return F.round(c, 4).cast("decimal(38,4)")

    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(rd(F.col("x"))).alias("sx"),
        F.sum(rd(F.col("dy"))).alias("sy"),
        F.sum(rd(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(rd(F.col("x") * F.col("dy"))).alias("sxy"),
        F.sum(rd(F.col("dy") * F.col("dy"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    sxx_c = sxx - sx * sx / nd
    b = F.try_divide(sxy - sx * sy / nd, F.nullif(sxx_c, F.lit(0.0)))
    a_ = (sy - b * sx) / nd
    sse = syy - a_ * sy - b * sxy
    s2 = F.try_divide(sse, F.nullif(nd - F.lit(2.0), F.lit(0.0)))
    se_b = F.sqrt(F.try_divide(s2, F.nullif(sxx_c, F.lit(0.0))))
    tau = F.try_divide(b, F.nullif(se_b, F.lit(0.0)))
    return s.select(
        "n",
        (F.round(b, 6) + F.lit(0.0)).alias("beta"),
        (F.round(tau, 6) + F.lit(0.0)).alias("df_tau"),
        F.lit(DF_CRIT_5PCT).alias("crit_5pct"),
        (F.round(tau, 6) < F.lit(DF_CRIT_5PCT)).cast("int").alias(
            "stationary_5pct"
        ),
    )


LINKPRED_TOPK = 15


def trade_link_prediction(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    topk: int = LINKPRED_TOPK,
) -> DataFrame:
    """LINK PREDICTION on the undirected nation trade graph: for node
    pairs that do NOT trade today, common-neighbor evidence scored by
    Jaccard overlap and ADAMIC-ADAR (common neighbors weighted
    1/ln(degree) — a shared rare partner says more than a shared hub)
    — "which trade lanes open next", the graph-ML primitive beside
    the descriptive centrality suite.

    The raw nation graph is complete (everyone trades with everyone),
    so prediction runs on the MAJOR-LANE graph — each nation's top-3
    partner lanes by line count (the dominant-partner construction
    nation_trade_bfs uses) — and answers "which lane goes major
    next".

    Scale: one fact shuffle builds the weighted edge aggregate; the
    top-3 rank is a 25-key window; candidates are generated ONLY from
    2-hop paths (never the |V|^2 non-edge grid), the standard trick
    that keeps link prediction sparse at graph scale; scores fold
    9dp-rounded DECIMAL."""
    flows = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    tw = Window.partitionBy("u").orderBy(F.col("w").desc(), F.col("v").asc())
    edges = (
        flows.withColumn("rnk", F.row_number().over(tw))
        .filter(F.col("rnk") <= 3)
        .select("u", "v")
    )
    und = (
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # 2-hop candidates a-z-b with a<b and no direct a-b edge
    hop = (
        und.select(F.col("u").alias("a"), F.col("v").alias("z"))
        .join(
            und.select(F.col("u").alias("z"), F.col("v").alias("b")), "z"
        )
        .filter(F.col("a") < F.col("b"))
    )
    existing = und.filter(F.col("u") < F.col("v")).select(
        F.col("u").alias("a"), F.col("v").alias("b"), F.lit(1).alias("_e")
    )
    cand = hop.join(existing, ["a", "b"], "left_anti")
    scored = (
        cand.join(deg.select(F.col("u").alias("z"), F.col("deg")), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum(
                F.round(
                    F.try_divide(
                        F.lit(1.0),
                        F.nullif(F.log(F.col("deg").cast("double")), F.lit(0.0)),
                    ),
                    9,
                ).cast("decimal(18,9)")
            ).alias("aa"),
        )
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("degb"))
    out = (
        scored.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("dega") + F.col("degb") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            (F.round(F.col("aa").cast("double"), 6) + F.lit(0.0)).alias(
                "adamic_adar"
            ),
        )
    )
    na = nation.select(
        F.col("n_nationkey").alias("a"), F.col("n_name").alias("nation_a")
    )
    nb = nation.select(
        F.col("n_nationkey").alias("b"), F.col("n_name").alias("nation_b")
    )
    return (
        out.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select("nation_a", "nation_b", "common", "jaccard", "adamic_adar")
        .orderBy(
            F.col("adamic_adar").desc(),
            F.col("nation_a").asc(),
            F.col("nation_b").asc(),
        )
        .limit(topk)
    )


KEY_CANDIDATES = {
    "orders": ["o_orderkey", "o_custkey", "o_orderdate"],
    "customer": ["c_custkey", "c_nationkey", "c_mktsegment"],
    "part": ["p_partkey", "p_type"],
    "supplier": ["s_suppkey", "s_nationkey"],
}


def key_discovery(tables: dict) -> DataFrame:
    """SCHEMA PROFILING: discover which candidate columns actually
    behave as keys — per (table, column): row count, distinct count,
    null count, uniqueness ratio, and the is_key / is_near_key
    verdicts (ratio = 1, ratio >= 0.99 among non-nulls) — the
    constraint-mining pass (sibling of fd_discovery_audit's
    functional dependencies) that feeds join planning, dedup-key
    choice, and CDC merge-key validation.

    Scale: ONE aggregate per table computes every candidate's
    approx-free exact distinct via count(distinct) over the declared
    candidate list; output is |candidates|-bounded."""
    outs = []
    for tname, cols in KEY_CANDIDATES.items():
        df = tables[tname]
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
        for c in cols:
            aggs.append(F.countDistinct(c).cast("long").alias(f"d_{c}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("int")).cast("long").alias(f"z_{c}")
            )
        stats = df.agg(*aggs)
        for c in cols:
            outs.append(
                stats.select(
                    F.lit(tname).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    "n_rows",
                    F.col(f"d_{c}").alias("n_distinct"),
                    F.col(f"z_{c}").alias("n_nulls"),
                )
            )
    all_ = outs[0]
    for o in outs[1:]:
        all_ = all_.unionByName(o)
    ratio = F.round(
        F.try_divide(
            F.col("n_distinct").cast("double"),
            F.nullif((F.col("n_rows") - F.col("n_nulls")).cast("double"), F.lit(0.0)),
        ),
        6,
    )
    return all_.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_distinct",
        "n_nulls",
        (ratio + F.lit(0.0)).alias("uniqueness"),
        (
            (F.col("n_distinct") == F.col("n_rows")) & (F.col("n_nulls") == 0)
        ).cast("int").alias("is_key"),
        (ratio >= 0.99).cast("int").alias("is_near_key"),
    ).orderBy("table_name", "column_name")


HAZARD_HORIZON_DAYS = 30


def recency_purchase_hazard(orders: DataFrame) -> DataFrame:
    """NEXT-PURCHASE HAZARD BY RECENCY, built with point-in-time
    discipline: anchor the cutoff {HAZARD_HORIZON_DAYS} days before
    the data's end, bucket every customer by how long ago (as of the
    cutoff) they last ordered, and measure who actually purchased in
    the following {HAZARD_HORIZON_DAYS} days — the empirical
    calibration table behind "recency predicts reactivation" (and the
    honest way to build it: features strictly before the cutoff,
    label strictly after; see events_pit_user_state for the
    general PIT join).  Lift vs the base rate per bucket.

    Scale: two passes over orders split by the cutoff (one customer
    aggregate each), broadcast base rate; buckets are fixed edges so
    the binning is engine-stable."""
    maxd = orders.agg(F.max("o_orderdate").alias("mx"))
    cut = F.broadcast(
        maxd.select(
            F.date_sub(F.col("mx"), HAZARD_HORIZON_DAYS).alias("cutoff")
        )
    )
    before = (
        orders.crossJoin(cut)
        .filter(F.col("o_orderdate") <= F.col("cutoff"))
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.first("cutoff").alias("cutoff"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("cutoff"), F.col("last_order")).alias("recency"),
        )
    )
    after = (
        orders.crossJoin(cut)
        .filter(F.col("o_orderdate") > F.col("cutoff"))
        .select("o_custkey")
        .distinct()
        .withColumn("bought", F.lit(1))
    )
    bucket = (
        F.when(F.col("recency") <= 30, "a_0_30")
        .when(F.col("recency") <= 60, "b_31_60")
        .when(F.col("recency") <= 120, "c_61_120")
        .when(F.col("recency") <= 365, "d_121_365")
        .otherwise("e_365_plus")
    )
    tagged = before.join(after, "o_custkey", "left").select(
        bucket.alias("recency_bucket"),
        F.coalesce(F.col("bought"), F.lit(0)).alias("bought"),
    )
    base = F.broadcast(
        tagged.agg(
            (
                F.sum("bought").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("base_rate")
        )
    )
    return (
        tagged.groupBy("recency_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("bought").cast("long").alias("n_purchased"),
        )
        .crossJoin(base)
        .select(
            "recency_bucket",
            "n_customers",
            "n_purchased",
            (
                F.round(
                    F.col("n_purchased").cast("double")
                    / F.col("n_customers").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("next30_rate"),
            (
                F.round(
                    F.try_divide(
                        F.col("n_purchased").cast("double")
                        / F.col("n_customers").cast("double"),
                        F.nullif(F.col("base_rate"), F.lit(0.0)),
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift_vs_base"),
        )
        .orderBy("recency_bucket")
    )


GPD_THRESHOLD_Q = 0.95
GPD_RET_MULT = 10  # return level at exceedance prob 1/(mult*N)


def gpd_tail_fit(orders: DataFrame) -> DataFrame:
    """EXTREME-VALUE TAIL: peaks-over-threshold GPD fit by
    probability-weighted moments (Hosking-Wallis closed form — no
    iterative MLE): exceedances over the P{GPD_THRESHOLD_Q*100:.0f}
    threshold get shape xi and scale sigma from the first two sample
    L-moments, plus the 10N-observation return level —
    the principled "how bad can it get" quantification the Hill
    estimator (orders_hill_tail_index) only sketches (Hill assumes a
    pure Pareto tail; GPD nests light, exponential and heavy tails
    and says WHICH via xi's sign).

    l1 = b0, l2 = 2*b1 - b0 with b1 = sum((r-1)/(n-1) * y_(r))/n over
    ascending exceedances; k = l1/l2 - 2, sigma = l1*(1+k), xi = -k.

    Scale: one exact-percentile pass for the threshold (broadcast
    scalar), one scale-safe :func:`ranking.ranked_global` over the
    exceedance set (tail-sized, not data-sized), DECIMAL-rounded
    weighted sums."""
    from .ranking import ranked_global

    x = F.col("o_totalprice").cast("double")
    u = F.broadcast(
        orders.agg(
            F.round(F.percentile(x, GPD_THRESHOLD_Q), 6).alias("u"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )
    exc = (
        orders.crossJoin(u)
        .filter(x > F.col("u"))
        .select(
            "o_orderkey",
            "u",
            "n_total",
            F.round(x - F.col("u"), 6).alias("y"),
        )
    )
    ranked = ranked_global(
        exc,
        [F.col("y").asc(), F.col("o_orderkey").asc()],
        rank_name="r",
        total_name="n",
    )
    terms = ranked.select(
        "u",
        "n_total",
        "n",
        F.col("y").cast("decimal(20,6)").alias("y_dec"),
        F.round(
            (F.col("r") - F.lit(1)).cast("double")
            / (F.col("n") - F.lit(1)).cast("double")
            * F.col("y"),
            6,
        )
        .cast("decimal(24,6)")
        .alias("wy"),
    )
    s = terms.groupBy("u", "n_total", "n").agg(
        F.sum("y_dec").alias("sy"), F.sum("wy").alias("swy")
    )
    nd = F.col("n").cast("double")
    b0 = F.col("sy").cast("double") / nd
    b1 = F.col("swy").cast("double") / nd
    l2 = F.lit(2.0) * b1 - b0
    k = F.try_divide(b0, F.nullif(l2, F.lit(0.0))) - F.lit(2.0)
    sigma = b0 * (F.lit(1.0) + k)
    xi = -k
    pu = nd / F.col("n_total").cast("double")
    p = F.lit(1.0) / (F.lit(float(GPD_RET_MULT)) * F.col("n_total").cast("double"))
    ret = F.col("u") + F.try_divide(sigma, F.nullif(xi, F.lit(0.0))) * (
        F.pow(pu / p, xi) - F.lit(1.0)
    )
    return s.select(
        F.col("u").alias("threshold"),
        F.col("n").alias("n_exceed"),
        (F.round(xi, 6) + F.lit(0.0)).alias("gpd_xi"),
        (F.round(sigma, 6) + F.lit(0.0)).alias("gpd_sigma"),
        (F.round(ret, 6) + F.lit(0.0)).alias("return_level_10n"),
        F.when(F.round(xi, 6) > 0.05, F.lit("heavy"))
        .when(F.round(xi, 6) < -0.05, F.lit("bounded"))
        .otherwise(F.lit("exponential_like"))
        .alias("tail_class"),
    )


def panel_fixed_effects(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TWO-WAY FIXED-EFFECTS (within) estimator: the effect of
    discount on quantity with PART and SHIP-MONTH fixed effects —
    the panel-econometrics workhorse that kills both "some parts just
    move in bulk" and "some months are just big" confounding, which
    the pooled OLS (lineitem_discount_elasticity) absorbs into its
    slope.  Demeaning identity: regress (y - y_bar_i - y_bar_t +
    y_bar) on the same transform of x; slope = S_xy / S_xx of the
    demeaned cross moments.

    Scale: two group-mean aggregates (part-keyed, month-keyed) + a
    broadcast grand mean joined back in ONE pass over the fact; the
    demeaned moments are 6dp-rounded DECIMAL sums."""
    base = lineitem.join(
        F.broadcast(part.select("p_partkey")),
        lineitem.l_partkey == F.col("p_partkey"),
    ).select(
        F.col("l_partkey").alias("i"),
        F.date_trunc("month", "l_shipdate").alias("t"),
        F.col("l_discount").cast("decimal(15,2)").alias("x"),
        F.col("l_quantity").cast("decimal(15,2)").alias("y"),
    ).localCheckpoint()

    def _means(*keys):
        g = base.groupBy(*keys) if keys else base.groupBy()
        return g.agg(
            F.round(
                F.sum("x").cast("double") / F.count(F.lit(1)).cast("double"), 9
            ).alias("xm"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)).cast("double"), 9
            ).alias("ym"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )

    gi = _means("i").select(
        "i", F.col("xm").alias("xi"), F.col("ym").alias("yi")
    )
    gt = _means("t").select(
        "t", F.col("xm").alias("xt"), F.col("ym").alias("yt")
    )
    gg = F.broadcast(
        _means().select(
            F.col("xm").alias("xg"),
            F.col("ym").alias("yg"),
            F.col("cnt").alias("n"),
        )
    )
    dem = (
        base.join(gi, "i")
        .join(F.broadcast(gt), "t")
        .crossJoin(gg)
        .select(
            "n",
            (
                F.col("x").cast("double")
                - F.col("xi")
                - F.col("xt")
                + F.col("xg")
            ).alias("xd"),
            (
                F.col("y").cast("double")
                - F.col("yi")
                - F.col("yt")
                + F.col("yg")
            ).alias("yd"),
        )
    )
    s = dem.groupBy("n").agg(
        F.sum(
            F.round(F.col("xd") * F.col("yd"), 6).cast("decimal(30,6)")
        ).alias("sxy"),
        F.sum(
            F.round(F.col("xd") * F.col("xd"), 6).cast("decimal(30,6)")
        ).alias("sxx"),
        F.sum(
            F.round(F.col("yd") * F.col("yd"), 6).cast("decimal(30,6)")
        ).alias("syy"),
    )
    b = F.try_divide(
        F.col("sxy").cast("double"), F.nullif(F.col("sxx").cast("double"), F.lit(0.0))
    )
    r2w = F.try_divide(
        F.col("sxy").cast("double") * F.col("sxy").cast("double"),
        F.nullif(
            F.col("sxx").cast("double") * F.col("syy").cast("double"), F.lit(0.0)
        ),
    )
    return s.select(
        "n",
        (F.round(b, 6) + F.lit(0.0)).alias("fe_slope"),
        (F.round(r2w, 6) + F.lit(0.0)).alias("within_r2"),
    )


FAIRNESS_IMPACT_FLOOR = 0.8  # four-fifths rule


def priority_parity_audit(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """DISPARATE-IMPACT AUDIT (four-fifths rule) on urgent-priority
    assignment across market segments: per segment the URGENT rate,
    its ratio to the most-favored segment's rate, and the 80%-rule
    flag — the fairness screen every automated decision table should
    ship with, applied to the fixture's decision proxy.

    Scale: one broadcast dim join + one segment aggregate; the
    max-rate reference is a broadcast scalar."""
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    g = j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("int"))
        .cast("long")
        .alias("n_urgent"),
    )
    rate = F.round(
        F.col("n_urgent").cast("double") / F.col("n_orders").cast("double"), 6
    )
    rated = g.select("segment", "n_orders", "n_urgent", rate.alias("rate"))
    mx = F.broadcast(rated.agg(F.max("rate").alias("max_rate")))
    ratio = F.round(
        F.try_divide(F.col("rate"), F.nullif(F.col("max_rate"), F.lit(0.0))), 6
    )
    return (
        rated.crossJoin(mx)
        .select(
            "segment",
            "n_orders",
            "n_urgent",
            (F.col("rate") + F.lit(0.0)).alias("urgent_rate"),
            (ratio + F.lit(0.0)).alias("impact_ratio"),
            (ratio < F.lit(FAIRNESS_IMPACT_FLOOR)).cast("int").alias(
                "four_fifths_flag"
            ),
        )
        .orderBy("segment")
    )


ES_ALPHA = 0.95


def expected_shortfall(orders: DataFrame) -> DataFrame:
    """VaR + EXPECTED SHORTFALL (CVaR) at {ES_ALPHA}: the tail mean
    beyond the quantile — the coherent risk number that answers "WHEN
    we land in the worst 5%, how bad is it on average" (VaR alone says
    nothing past its own cut).  Pairs with orders_gpd_tail: GPD models
    the tail shape, ES summarizes its realized cost.

    Scale: one exact-percentile pass (broadcast threshold), one
    filtered DECIMAL aggregate."""
    x = F.col("o_totalprice").cast("double")
    u = F.broadcast(
        orders.agg(F.round(F.percentile(x, ES_ALPHA), 6).alias("var"))
    )
    tail = (
        orders.crossJoin(u)
        .filter(x > F.col("var"))
        .agg(
            F.first("var").alias("var"),
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.sum(_dec("o_totalprice")).alias("st"),
        )
    )
    es = F.col("st").cast("double") / F.col("n_tail").cast("double")
    return tail.select(
        (F.col("var") + F.lit(0.0)).alias("var_95"),
        "n_tail",
        (F.round(es, 6) + F.lit(0.0)).alias("expected_shortfall"),
        (
            F.round(
                F.try_divide(es, F.nullif(F.col("var"), F.lit(0.0))), 6
            )
            + F.lit(0.0)
        ).alias("es_to_var_ratio"),
    )


PVM_YEARS = (1996, 1997)


def pvm_revenue_bridge(lineitem: DataFrame) -> DataFrame:
    """PRICE-VOLUME-MIX BRIDGE: the FP&A decomposition of the YoY
    revenue change over the common part basket — price effect
    sum((p1-p0)*q1), volume effect (total-quantity growth at base
    prices and base mix), and mix effect (the residual: shifting WHICH
    parts sold) — the "why did revenue move" waterfall that the
    Laspeyres/Paasche indices (lineitem_price_indices) summarize into
    ratios.  Identity: delta = price + volume + mix exactly (tested).

    Scale: one (part, year) aggregate, a part-keyed self-join on the
    common basket, 6dp-rounded DECIMAL effect terms."""
    y0, y1 = PVM_YEARS
    py = (
        lineitem.filter(F.year("l_shipdate").isin(y0, y1))
        .groupBy(
            F.col("l_partkey").alias("part_id"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(_dec("l_extendedprice")).alias("rev"),
            F.sum(_dec("l_quantity")).alias("qty"),
        )
        .filter(F.col("qty") > 0)
    )
    p = F.round(F.col("rev").cast("double") / F.col("qty").cast("double"), 6)
    priced = py.select(
        "part_id", "yr", p.alias("p"), F.col("qty").cast("double").alias("q")
    )
    base = priced.filter(F.col("yr") == y0).select(
        "part_id", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    cur = priced.filter(F.col("yr") == y1).select(
        "part_id", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    j = base.join(cur, "part_id")

    def dsum(expr, name):
        return F.sum(F.round(expr, 6).cast("decimal(30,6)")).alias(name)

    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        dsum(F.col("p0") * F.col("q0"), "rev0"),
        dsum(F.col("p1") * F.col("q1"), "rev1"),
        dsum((F.col("p1") - F.col("p0")) * F.col("q1"), "price_eff"),
        dsum(F.col("p0") * F.col("q0"), "pq00"),
        F.sum(F.round(F.col("q0"), 6).cast("decimal(30,6)")).alias("tq0"),
        F.sum(F.round(F.col("q1"), 6).cast("decimal(30,6)")).alias("tq1"),
    )
    rev0 = F.col("rev0").cast("double")
    rev1 = F.col("rev1").cast("double")
    price = F.col("price_eff").cast("double")
    growth = F.try_divide(
        F.col("tq1").cast("double"), F.nullif(F.col("tq0").cast("double"), F.lit(0.0))
    )
    volume = (growth - F.lit(1.0)) * rev0
    delta = rev1 - rev0
    mix = delta - price - volume
    return s.select(
        "n_parts",
        (F.round(rev0, 2) + F.lit(0.0)).alias("revenue_base"),
        (F.round(rev1, 2) + F.lit(0.0)).alias("revenue_current"),
        (F.round(delta, 2) + F.lit(0.0)).alias("delta_total"),
        (F.round(price, 2) + F.lit(0.0)).alias("price_effect"),
        (F.round(volume, 2) + F.lit(0.0)).alias("volume_effect"),
        (F.round(mix, 2) + F.lit(0.0)).alias("mix_effect"),
    )


TAILDEP_Q = 0.9


def tail_dependence(lineitem: DataFrame, q: float = TAILDEP_Q) -> DataFrame:
    """EMPIRICAL TAIL DEPENDENCE between quantity and extended price:
    lambda_U(q) = P(V > q-quantile | U > q-quantile) on the rank
    (copula) scale, with the lower-tail mirror — dependence WHERE IT
    MATTERS: two variables can share a high Pearson/Spearman rho yet
    be independent exactly in the joint-extremes region risk cares
    about (Gaussian copulas have lambda = 0).  Compares against the
    independence baseline 1 - q.

    Scale: two chained :func:`ranking.avg_rank2` passes (the Spearman
    machinery), rank-threshold flags, one conditional aggregate."""
    from .ranking import avg_rank2

    base = lineitem.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    tb = [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()]
    rx = avg_rank2(base, "l_quantity", tb, out_name="ax")
    j = avg_rank2(rx, "l_extendedprice", tb, out_name="ay")
    # rank passes preserve row count, so the threshold's n comes from a
    # column-pruned count of the INPUT — the ranked table is consumed
    # exactly once (previously it was corpus-checkpointed just to be
    # counted a second time)
    n = F.broadcast(base.agg(F.count(F.lit(1)).cast("long").alias("n")))
    # doubled average ranks: threshold 2*q*n
    jn = j.crossJoin(n)
    hi_u = F.col("ax").cast("double") > F.lit(2.0 * q) * F.col("n").cast("double")
    hi_v = F.col("ay").cast("double") > F.lit(2.0 * q) * F.col("n").cast("double")
    lo_u = F.col("ax").cast("double") <= F.lit(2.0 * (1 - q)) * F.col("n").cast(
        "double"
    )
    lo_v = F.col("ay").cast("double") <= F.lit(2.0 * (1 - q)) * F.col("n").cast(
        "double"
    )
    s = jn.agg(
        F.max("n").alias("n"),
        F.sum(hi_u.cast("int")).cast("long").alias("nu"),
        F.sum((hi_u & hi_v).cast("int")).cast("long").alias("nuv"),
        F.sum(lo_u.cast("int")).cast("long").alias("nl"),
        F.sum((lo_u & lo_v).cast("int")).cast("long").alias("nlv"),
    )
    lam_u = F.try_divide(
        F.col("nuv").cast("double"), F.nullif(F.col("nu").cast("double"), F.lit(0.0))
    )
    lam_l = F.try_divide(
        F.col("nlv").cast("double"), F.nullif(F.col("nl").cast("double"), F.lit(0.0))
    )
    return s.select(
        "n",
        (F.round(lam_u, 6) + F.lit(0.0)).alias("lambda_upper"),
        (F.round(lam_l, 6) + F.lit(0.0)).alias("lambda_lower"),
        F.lit(round(1 - q, 6)).alias("independence_baseline"),
    )


def gravity_model_fit(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """GRAVITY MODEL of trade: ln(flow_ij) = b0 + b1 ln(exports_i) +
    b2 ln(imports_j) fit by the same closed-form 3x3 normal equations
    as the price OLS — the workhorse empirical model of bilateral
    flows (elasticities near 1 mean proportional scaling — the
    gravity benchmark; deviations flag frictions).  Completes the
    trade-economics suite (balance, Leontief, HITS) with the
    regression read.

    Scale: one fact shuffle to the |nations|^2 flow table; masses are
    its own marginals; 9dp-rounded ln's into DECIMAL power sums."""
    flows = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j")
        )
        .agg(F.sum(_dec("l_extendedprice")).alias("z"))
        .localCheckpoint()
    )
    ex = flows.groupBy("i").agg(F.sum("z").alias("mass_i"))
    im = flows.groupBy("j").agg(F.sum("z").alias("mass_j"))
    pts = (
        flows.join(ex, "i")
        .join(im, "j")
        .select(
            F.round(F.log(F.col("z").cast("double")), 9)
            .cast("decimal(18,9)")
            .alias("y"),
            F.round(F.log(F.col("mass_i").cast("double")), 9)
            .cast("decimal(18,9)")
            .alias("x1"),
            F.round(F.log(F.col("mass_j").cast("double")), 9)
            .cast("decimal(18,9)")
            .alias("x2"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").alias("sq"),
        F.sum("x2").alias("sd"),
        F.sum("y").alias("sp"),
        F.sum(F.col("x1") * F.col("x1")).alias("sqq"),
        F.sum(F.col("x2") * F.col("x2")).alias("sdd"),
        F.sum(F.col("x1") * F.col("x2")).alias("sqd"),
        F.sum(F.col("x1") * F.col("y")).alias("sqp"),
        F.sum(F.col("x2") * F.col("y")).alias("sdp"),
        F.sum(F.col("y") * F.col("y")).alias("spp"),
    )
    nn = F.col("n").cast("double")
    sq, sd, sp = (F.col(c).cast("double") for c in ("sq", "sd", "sp"))
    sqq, sdd, sqd = (F.col(c).cast("double") for c in ("sqq", "sdd", "sqd"))
    sqp, sdp, spp = (F.col(c).cast("double") for c in ("sqp", "sdp", "spp"))
    det = (
        nn * (sqq * sdd - sqd * sqd)
        - sq * (sq * sdd - sqd * sd)
        + sd * (sq * sqd - sqq * sd)
    )
    det1 = (
        nn * (sqp * sdd - sqd * sdp)
        - sp * (sq * sdd - sqd * sd)
        + sd * (sq * sdp - sqp * sd)
    )
    det2 = (
        nn * (sqq * sdp - sqp * sqd)
        - sq * (sq * sdp - sqp * sd)
        + sp * (sq * sqd - sqq * sd)
    )
    det0 = (
        sp * (sqq * sdd - sqd * sqd)
        - sq * (sqp * sdd - sqd * sdp)
        + sd * (sqp * sqd - sqq * sdp)
    )
    b0 = F.try_divide(det0, F.nullif(det, F.lit(0.0)))
    b1 = F.try_divide(det1, F.nullif(det, F.lit(0.0)))
    b2 = F.try_divide(det2, F.nullif(det, F.lit(0.0)))
    sse = spp - b0 * sp - b1 * sqp - b2 * sdp
    sst = spp - sp * sp / nn
    r2 = F.lit(1.0) - F.try_divide(sse, F.nullif(sst, F.lit(0.0)))
    return s.select(
        F.col("n").alias("n_lanes"),
        (F.round(b1, 6) + F.lit(0.0)).alias("export_elasticity"),
        (F.round(b2, 6) + F.lit(0.0)).alias("import_elasticity"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )


LJUNG_BOX_LAGS = 6
LJUNG_BOX_CRIT = 12.592  # chi-square 95th percentile, 6 df


def ljung_box_test(orders: DataFrame, lags: int = LJUNG_BOX_LAGS) -> DataFrame:
    """LJUNG-BOX portmanteau test on mean-centered monthly revenue:
    Q = n(n+2) sum_k r_k^2/(n-k) over lags 1..{LJUNG_BOX_LAGS} vs the
    chi-square 5% critical value — the WHITE-NOISE verdict that closes
    the time-series loop: Dickey-Fuller asks "is it stationary", the
    AR/Holt family fits structure, Ljung-Box asks "is there any
    structure left to fit at all" (run it on residuals and a pass
    means the model is done).

    Scale: same shape as the PACF query — month aggregate, rank
    self-joins per lag, 6dp-rounded DECIMAL product sums, closed-form
    statistic on one row."""
    from .ranking import ranked_global

    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    mu = F.broadcast(
        monthly.agg(
            (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mu"
            ),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    cent = (
        ranked_global(monthly, [F.col("m").asc()], rank_name="t")
        .crossJoin(mu)
        .select(
            "t",
            "n",
            F.round(F.col("y").cast("double") - F.col("mu"), 6)
            .cast("decimal(24,6)")
            .alias("c"),
        )
        .localCheckpoint()
    )
    g0 = cent.agg(
        F.sum(
            F.round(F.col("c").cast("double") * F.col("c").cast("double"), 6)
            .cast("decimal(30,6)")
        ).alias("g0"),
        F.max("n").alias("n"),
    )
    acc = g0
    for k in range(1, lags + 1):
        a = cent.select(F.col("t"), F.col("c").alias("ca"))
        b = cent.select(
            (F.col("t") - F.lit(k)).alias("t"), F.col("c").alias("cb")
        )
        gk = a.join(b, "t").agg(
            F.sum(
                F.round(
                    F.col("ca").cast("double") * F.col("cb").cast("double"), 6
                ).cast("decimal(30,6)")
            ).alias(f"g{k}")
        )
        acc = acc.crossJoin(gk)
    nd = F.col("n").cast("double")
    q = None
    for k in range(1, lags + 1):
        rk = F.try_divide(
            F.col(f"g{k}").cast("double"),
            F.nullif(F.col("g0").cast("double"), F.lit(0.0)),
        )
        term = rk * rk / (nd - F.lit(float(k)))
        q = term if q is None else q + term
    q = nd * (nd + F.lit(2.0)) * q
    return acc.select(
        "n",
        F.lit(lags).alias("lags"),
        (F.round(q, 6) + F.lit(0.0)).alias("ljung_box_q"),
        F.lit(LJUNG_BOX_CRIT).alias("crit_5pct"),
        (F.round(q, 6) > F.lit(LJUNG_BOX_CRIT)).cast("int").alias(
            "autocorrelated"
        ),
    )


CR_TOPS = (4, 8)


def concentration_ratios(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """CR4 / CR8 CONCENTRATION RATIOS of revenue by customer nation —
    the antitrust-style companion to the Herfindahl index
    (supplier_hhi_concentration): the share of the market the top 4
    and top 8 players hold, computed off the scale-safe prefix-sum
    rank (no single-partition window).

    One fact aggregate, one ordered_cdf pass on the bounded
    per-nation table."""
    from .ranking import ordered_cdf

    per = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.sum(_dec("o_totalprice")).alias("rev")
    )
    tot = F.broadcast(per.agg(F.sum("rev").alias("trev")))
    ranked = ordered_cdf(
        per,
        [F.col("rev").desc(), F.col("nation").asc()],
        ["rev"],
        rank_name="rnk",
    )
    s = ranked.crossJoin(tot).agg(
        F.count(F.lit(1)).cast("long").alias("n_players"),
        *[
            (
                F.round(
                    F.max(
                        F.when(F.col("rnk") == F.lit(t), F.col("rev_cum"))
                    ).cast("double")
                    / F.max(F.col("trev").cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias(f"cr{t}")
            for t in CR_TOPS
        ],
    )
    return s


LIFECYCLE_RATIO_HI = 1.25
LIFECYCLE_RATIO_LO = 0.8


def part_lifecycle_stages(lineitem: DataFrame) -> DataFrame:
    """PRODUCT LIFECYCLE staging per part from its own demand history:
    split each part's active span at its midpoint, compare
    second-half to first-half demand, and stage as growth
    (ratio > {LIFECYCLE_RATIO_HI}), decline (< {LIFECYCLE_RATIO_LO}),
    mature (between), or launch (first seen in the data's last
    quarter) — the assortment-management table that routes parts to
    different forecasting and stocking policies (pairs with the SBC
    forecastability quadrants).

    Scale: one (part, month) aggregate; per-part halves are
    conditional sums keyed by each part's own midpoint month; stage
    rollup is bounded."""
    pm = (
        lineitem.groupBy(
            F.col("l_partkey").alias("part_id"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .localCheckpoint()
    )
    horizon = F.broadcast(pm.agg(F.max("m").alias("maxm")))
    # ONE part_id shuffle (r08, guide §2.4): span endpoints come from a
    # window over the part-month table, and the conditional half-sums
    # fold into the same part_id aggregate right after it (the groupBy
    # reuses the window's hash(part_id) partitioning — no second
    # exchange, no per/halves join).  Was: two part_id aggregates plus
    # a part_id join, and a total-quantity column nothing consumed.
    wpart = Window.partitionBy("part_id")
    pm2 = pm.select(
        "part_id",
        "m",
        "q",
        F.min("m").over(wpart).alias("first_m"),
        F.max("m").over(wpart).alias("last_m"),
    )
    mid = F.timestamp_seconds(
        (
            F.unix_timestamp("first_m") + F.unix_timestamp("last_m")
        ) / 2
    )
    is_h2 = (F.col("m") > mid).cast("int")
    combined = pm2.groupBy("part_id").agg(
        F.min("first_m").alias("first_m"),
        F.sum(F.when(is_h2 == 0, F.col("q"))).alias("q1"),
        F.sum(F.when(is_h2 == 1, F.col("q"))).alias("q2"),
    )
    tagged = (
        combined
        .crossJoin(horizon)
        .select(
            "part_id",
            F.when(
                F.col("first_m") >= F.add_months(F.col("maxm"), -3),
                F.lit("launch"),
            )
            .when(
                F.try_divide(
                    F.coalesce(F.col("q2"), F.lit(0)).cast("double"),
                    F.nullif(
                        F.coalesce(F.col("q1"), F.lit(0)).cast("double"),
                        F.lit(0.0),
                    ),
                )
                > LIFECYCLE_RATIO_HI,
                F.lit("growth"),
            )
            .when(
                F.try_divide(
                    F.coalesce(F.col("q2"), F.lit(0)).cast("double"),
                    F.nullif(
                        F.coalesce(F.col("q1"), F.lit(0)).cast("double"),
                        F.lit(0.0),
                    ),
                )
                < LIFECYCLE_RATIO_LO,
                F.lit("decline"),
            )
            .otherwise(F.lit("mature"))
            .alias("stage"),
        )
    )
    tot = F.broadcast(tagged.agg(F.count(F.lit(1)).cast("long").alias("n_total")))
    return (
        tagged.groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .crossJoin(tot)
        .select(
            "stage",
            "n_parts",
            (
                F.round(
                    F.col("n_parts").cast("double")
                    / F.col("n_total").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("share"),
        )
        .orderBy("stage")
    )


def interpurchase_gamma_fit(orders: DataFrame) -> DataFrame:
    """GAMMA moment fit of inter-purchase intervals: shape k = m^2/v,
    scale theta = v/m over all customers' order gaps — the parametric
    model behind replenishment timing: k < 1 means bursty/clumped
    ordering (dead periods then sprees), k ~ 1 memoryless (Poisson
    purchasing), k >> 1 regular rhythms worth a subscription offer —
    the model-level upgrade of the CV rule in
    customers_subscription_detect.

    Scale: per-customer lag window (customer-partitioned), one
    DECIMAL moment aggregate over all gaps."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.datediff(F.col("o_orderdate"), F.col("prev"))
            .cast("long")
            .alias("g")
        )
        .filter(F.col("g") > 0)
    )
    s = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sg"),
        F.sum((F.col("g") * F.col("g")).cast("decimal(38,0)")).alias("sgg"),
    )
    nd = F.col("n_gaps").cast("double")
    m = F.col("sg").cast("double") / nd
    v = (F.col("sgg").cast("double") - nd * m * m) / (nd - F.lit(1.0))
    # v == 0 (perfectly regular cadence) => infinite shape; cap at 1e12
    k = F.coalesce(
        F.try_divide(m * m, F.nullif(v, F.lit(0.0))), F.lit(1.0e12)
    )
    theta = F.try_divide(v, F.nullif(m, F.lit(0.0)))
    kr = F.round(k, 6)
    return s.select(
        "n_gaps",
        (F.round(m, 6) + F.lit(0.0)).alias("mean_gap_days"),
        (kr + F.lit(0.0)).alias("gamma_shape"),
        (F.round(theta, 6) + F.lit(0.0)).alias("gamma_scale"),
        F.when(kr < 0.8, F.lit("bursty"))
        .when(kr > 1.2, F.lit("regular"))
        .otherwise(F.lit("memoryless"))
        .alias("rhythm"),
    )


PRICE_STICKY_PCT = 0.01


def price_stickiness(lineitem: DataFrame) -> DataFrame:
    """PRICE STICKINESS (menu-cost economics): how often do unit
    prices actually change?  Per part-month unit price, month-over-
    month change flags beyond {PRICE_STICKY_PCT:.0%}, summarized as
    the monthly change frequency and the implied mean price-spell
    duration 1/freq — the micro read behind inflation pass-through
    and repricing-cost questions.

    Scale: one (part, month) aggregate; adjacent months pair by a
    part-partitioned lag window (never global); flags fold exactly.

    Round 9 (guide §2.2/§2.4): the pruned scan is repartitioned by
    l_partkey ONCE, and that single hash(part_id) exchange serves both
    the (part_id, month) aggregate (a hash-partitioning on a SUBSET of
    the group keys satisfies the aggregate's required distribution)
    and the lag window — the former plan shuffled the nearly-unreduced
    partial aggregate twice (at sf0.1: 503k pm rows out of 600k
    lineitem rows, i.e. partial aggregation collapses almost nothing
    because TPC-H spreads a part's ~30 lineitems across ~84 months at
    EVERY scale factor, so (part, month) groups hold ~1.2 rows
    regardless of SF).  One raw-row shuffle < two pm-row shuffles at
    any scale with this shape.  Measured 1.73 -> 0.57 s (fresh-plan
    best-of-4, interleaved) at sf0.1; Exchange 2 -> 1."""
    pm = (
        lineitem.select(
            "l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"
        )
        .repartition(F.col("l_partkey"))
        .groupBy(
            F.col("l_partkey").alias("part_id"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(
            F.sum(_dec("l_extendedprice")).alias("rev"),
            F.sum(_dec("l_quantity")).alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .select(
            "part_id",
            "m",
            F.round(
                F.col("rev").cast("double") / F.col("qty").cast("double"), 6
            ).alias("p"),
        )
    )
    w = Window.partitionBy("part_id").orderBy("m")
    flagged = (
        pm.withColumn("prev_p", F.lag("p").over(w))
        .withColumn("prev_m", F.lag("m").over(w))
        .filter(
            F.col("prev_p").isNotNull()
            & (F.months_between(F.col("m"), F.col("prev_m")) == 1)
        )
        .select(
            (
                F.abs(F.col("p") - F.col("prev_p"))
                > F.lit(PRICE_STICKY_PCT) * F.col("prev_p")
            ).cast("int").alias("changed")
        )
    )
    s = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_adjacent_pairs"),
        F.sum("changed").cast("long").alias("n_changes"),
    )
    freq = F.try_divide(
        F.col("n_changes").cast("double"),
        F.nullif(F.col("n_adjacent_pairs").cast("double"), F.lit(0.0)),
    )
    return s.select(
        "n_adjacent_pairs",
        "n_changes",
        (F.round(freq, 6) + F.lit(0.0)).alias("monthly_change_freq"),
        (
            F.round(F.try_divide(F.lit(1.0), F.nullif(freq, F.lit(0.0))), 6)
            + F.lit(0.0)
        ).alias("mean_spell_months"),
    )


# --------------------------------------------------------------------------
# Wave 237 (round 2): two-sample log-rank survival test and Croston
# intermittent-demand forecasting.
# --------------------------------------------------------------------------
LOGRANK_SEGMENT = "BUILDING"  # group A; every other mktsegment is group B


def logrank_test(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """LOG-RANK TEST: does the {LOGRANK_SEGMENT} market segment churn
    at a different rate than everyone else?  Reuses km_survival's
    lifetime/censoring convention (t = floor(days active/
    {KM_MONTH_DAYS}), churn observed unless the last order falls within
    {KM_CENSOR_DAYS} days of dataset end), splits customers into
    {LOGRANK_SEGMENT} vs OTHER, and computes the Mantel-Cox statistic:
    at each event time, O-E for group A under the hypergeometric null,
    with variance d*(n1/n)*(1-n1/n)*(n-d)/(n-1).  chi2 = (O-E)^2/V on
    1 df; p via the shared Zelen-Severo normal tail on sqrt(chi2).
    The reference has no statistics surface at all — this is the
    survival-curve comparison its users would need next after
    customers_km_survival draws the curves.

    Scale: two keyed aggregates (orders by custkey, join customer);
    the event-time grid is bounded by the calendar span (~80 rows at
    ANY scale factor), so the per-group at-risk window runs on a tiny
    table.  Per-time terms are rounded to 9dp and summed as DECIMAL so
    the final reduction is order-insensitive and exact."""
    maxd = F.broadcast(orders.agg(F.max("o_orderdate").alias("_md")))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("_first"),
            F.max("o_orderdate").alias("_last"),
        )
        .join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .crossJoin(maxd)
        .select(
            F.when(
                F.col("c_mktsegment") == LOGRANK_SEGMENT, F.lit("A")
            )
            .otherwise(F.lit("B"))
            .alias("grp"),
            F.floor(
                F.datediff("_last", "_first") / F.lit(KM_MONTH_DAYS)
            ).alias("t"),
            F.when(
                F.datediff("_md", "_last") >= KM_CENSOR_DAYS, F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("ev"),
        )
    )
    cells = per.groupBy("grp", "t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    # dense (grp x t) grid so every group has an at-risk row at every
    # event time; the grid is bounded by the calendar span.
    grid = (
        cells.select("t")
        .distinct()
        .crossJoin(
            F.broadcast(
                cells.select(F.explode(F.array(F.lit("A"), F.lit("B"))).alias("grp"))
                .distinct()
            )
        )
    )
    tot = cells.groupBy("grp").agg(F.sum("m").cast("long").alias("ntot"))
    w = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    full = (
        grid.join(cells, ["grp", "t"], "left")
        .fillna(0, subset=["d", "m"])
        .join(tot, "grp")
        .withColumn(
            "n_risk",
            F.col("ntot") - F.coalesce(F.sum("m").over(w), F.lit(0)),
        )
    )
    byt = (
        full.groupBy("t")
        .agg(
            F.sum("d").cast("long").alias("dt"),
            F.sum(F.when(F.col("grp") == "A", F.col("d")).otherwise(0))
            .cast("long")
            .alias("d1"),
            F.sum("n_risk").cast("long").alias("nt"),
            F.sum(
                F.when(F.col("grp") == "A", F.col("n_risk")).otherwise(0)
            )
            .cast("long")
            .alias("n1"),
        )
        .filter((F.col("dt") > 0) & (F.col("nt") > 1))
    )
    share = F.col("n1").cast("double") / F.col("nt").cast("double")
    e1 = F.col("dt").cast("double") * share
    v = (
        F.col("dt").cast("double")
        * share
        * (F.lit(1.0) - share)
        * (F.col("nt") - F.col("dt")).cast("double")
        / (F.col("nt") - F.lit(1)).cast("double")
    )
    s = byt.agg(
        F.sum("d1").cast("long").alias("observed_a"),
        F.sum(F.round(e1, 9).cast("decimal(28,9)")).alias("_e"),
        F.sum(F.round(v, 9).cast("decimal(28,9)")).alias("_v"),
    )
    na = tot.agg(
        F.sum(F.when(F.col("grp") == "A", F.col("ntot")).otherwise(0))
        .cast("long")
        .alias("n_group_a"),
        F.sum(F.when(F.col("grp") == "B", F.col("ntot")).otherwise(0))
        .cast("long")
        .alias("n_group_b"),
    )
    chi2 = F.try_divide(
        (F.col("observed_a").cast("double") - F.col("_e").cast("double"))
        * (F.col("observed_a").cast("double") - F.col("_e").cast("double")),
        F.nullif(F.col("_v").cast("double"), F.lit(0.0)),
    )
    from .events import _norm_sf2

    return s.crossJoin(F.broadcast(na)).select(
        "n_group_a",
        "n_group_b",
        "observed_a",
        (F.round(F.col("_e").cast("double"), 6) + F.lit(0.0)).alias(
            "expected_a"
        ),
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        (F.round(_norm_sf2(F.sqrt(chi2)), 6) + F.lit(0.0)).alias("p_value"),
    )


CROSTON_ALPHA = 0.2  # SES smoothing constant for sizes and intervals
CROSTON_MIN_MONTHS = 4  # parts with fewer demand months are skipped
CROSTON_TOP = 15  # report the top-N parts by SBA forecast


def croston_forecast(lineitem: DataFrame) -> DataFrame:
    """CROSTON'S METHOD (+ Syntetos-Boylan SBA correction): the
    standard forecast for intermittent demand, the follow-through on
    parts_sbc_classification's 'intermittent/lumpy' quadrants.  Per
    part, monthly nonzero demands z_i and inter-demand intervals p_i
    (first interval = months since the dataset's first month + 1) are
    each exponentially smoothed with alpha={CROSTON_ALPHA}; forecast
    per period = z_hat/p_hat, SBA = (1 - alpha/2) * z_hat/p_hat.
    Top {CROSTON_TOP} parts by SBA (rounded, id tiebreak).

    Scale: one (part, month) aggregate; the smoothing is a LEFT FOLD
    over each part's month-sorted array (bounded by the calendar span,
    ~80 elements at any SF) — acc = a*x + (1-a)*acc seeded with the
    first element, the exact same float64 op sequence DuckDB's
    list_reduce folds, so parity is bitwise.  Global top-N is
    TakeOrderedAndProject, never a single-partition window."""
    a = CROSTON_ALPHA
    pm = (
        lineitem.groupBy(
            F.col("l_partkey").alias("part_id"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 0)
    )
    min_m = F.broadcast(pm.agg(F.min("m").alias("_m0")))
    wp = Window.partitionBy("part_id").orderBy("m")
    seq = (
        pm.crossJoin(min_m)
        .withColumn("prev_m", F.lag("m").over(wp))
        .select(
            "part_id",
            "m",
            F.col("q").cast("double").alias("z"),
            F.when(
                F.col("prev_m").isNull(),
                F.months_between(F.col("m"), F.col("_m0")) + F.lit(1.0),
            )
            .otherwise(F.months_between(F.col("m"), F.col("prev_m")))
            .alias("gap"),
        )
    )
    packed = (
        seq.groupBy("part_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("m", "z", "gap"))
            ).alias("arr")
        )
        .filter(F.size("arr") >= CROSTON_MIN_MONTHS)
    )

    def _ses(vals):
        return F.aggregate(
            F.slice(vals, 2, F.size(vals) - 1),
            F.element_at(vals, 1),
            lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
        )

    zs = F.transform(F.col("arr"), lambda s: s["z"])
    gs = F.transform(F.col("arr"), lambda s: s["gap"])
    scored = packed.select(
        "part_id",
        F.size("arr").cast("long").alias("n_demand_months"),
        _ses(zs).alias("_zh"),
        _ses(gs).alias("_ph"),
    ).select(
        "part_id",
        "n_demand_months",
        (F.round(F.col("_zh"), 6) + F.lit(0.0)).alias("z_hat"),
        (F.round(F.col("_ph"), 6) + F.lit(0.0)).alias("p_hat"),
        (
            F.round(F.try_divide(F.col("_zh"), F.nullif(F.col("_ph"), F.lit(0.0))), 6)
            + F.lit(0.0)
        ).alias("croston_fc"),
        (
            F.round(
                F.lit(1.0 - a / 2.0)
                * F.try_divide(F.col("_zh"), F.nullif(F.col("_ph"), F.lit(0.0))),
                6,
            )
            + F.lit(0.0)
        ).alias("sba_fc"),
    )
    return scored.orderBy(F.col("sba_fc").desc(), "part_id").limit(CROSTON_TOP)


# --------------------------------------------------------------------------
# Wave 238 (round 2): Murphy decomposition of the Brier score and
# gaps-and-islands purchase streaks.
# --------------------------------------------------------------------------


def brier_decomposition(
    orders: DataFrame, bins: int = CALIBRATION_BINS
) -> DataFrame:
    """MURPHY DECOMPOSITION of the Brier score — the one-row summary
    behind orders_calibration_bins' reliability diagram.  Same
    convention: forecast = order value min-max scaled to [0,1),
    outcome = urgent priority.  Brier = mean (s-y)^2 splits (over the
    {CALIBRATION_BINS}-bin partition) into RELIABILITY
    (sum n_k (f_k - obar_k)^2 / N, calibration error, lower better),
    RESOLUTION (sum n_k (obar_k - obar)^2 / N, discrimination, higher
    better) and UNCERTAINTY obar(1-obar); brier_binned = rel - res +
    unc is the exact identity when forecasts are the bin means.

    Determinism: the raw Brier expands to (S2/d^2 - 2*S1y/d + Ny)/N
    where S2 = sum (c-lo)^2 and S1y = sum (c-lo) over positives are
    EXACT integer sums (DECIMAL(38,0) — cents squared overflow a
    long at scale), so no float folds over data-sized row sets; the
    per-bin terms are rounded-9 DECIMAL summed over just
    {CALIBRATION_BINS} rows.  One scan + a two-scalar broadcast."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    rng = orders.select(cents.alias("_c")).agg(
        F.min("_c").alias("_lo"), F.max("_c").alias("_hi")
    )
    pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    scored = orders.crossJoin(F.broadcast(rng)).select(
        (cents - F.col("_lo")).alias("c0"),
        (F.col("_hi") - F.col("_lo")).alias("d"),
        pos.alias("y"),
    )
    b = F.expr(f"least((c0 * {bins}) div (d + 1), {bins - 1})").cast("int")
    per_bin = scored.groupBy(b.alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c0").cast("decimal(38,0)").alias("s1"),
        F.sum(
            (F.col("c0").cast("decimal(19,0)") * F.col("c0")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
        F.sum(F.when(F.col("y") == 1, F.col("c0")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s1y"),
        F.sum("y").cast("long").alias("ny"),
        F.first("d").alias("d"),
    )
    fk = F.col("s1").cast("double") / F.col("n") / F.col("d").cast("double")
    ok = F.col("ny").cast("double") / F.col("n")
    tot = per_bin.agg(
        F.sum("n").cast("long").alias("n_orders"),
        F.sum("ny").cast("long").alias("_ny"),
        F.sum("s2").cast("decimal(38,0)").alias("_s2"),
        F.sum("s1y").cast("decimal(38,0)").alias("_s1y"),
        F.first("d").alias("_d"),
    )
    binned = per_bin.crossJoin(F.broadcast(tot)).select(
        F.col("n"),
        F.round(
            F.col("n")
            * (fk - ok)
            * (fk - ok)
            / F.col("n_orders").cast("double"),
            9,
        )
        .cast("decimal(28,9)")
        .alias("rel_t"),
        F.round(
            F.col("n")
            * (ok - F.col("_ny").cast("double") / F.col("n_orders"))
            * (ok - F.col("_ny").cast("double") / F.col("n_orders"))
            / F.col("n_orders").cast("double"),
            9,
        )
        .cast("decimal(28,9)")
        .alias("res_t"),
    )
    sums = binned.agg(
        F.sum("rel_t").alias("_rel"), F.sum("res_t").alias("_res")
    )
    obar = F.col("_ny").cast("double") / F.col("n_orders").cast("double")
    dd = F.col("_d").cast("double")
    brier = (
        F.col("_s2").cast("double") / (dd * dd)
        - F.lit(2.0) * F.col("_s1y").cast("double") / dd
        + F.col("_ny").cast("double")
    ) / F.col("n_orders").cast("double")
    unc = obar * (F.lit(1.0) - obar)
    return tot.crossJoin(F.broadcast(sums)).select(
        "n_orders",
        (F.round(obar, 6) + F.lit(0.0)).alias("base_rate"),
        (F.round(brier, 6) + F.lit(0.0)).alias("brier_score"),
        (F.round(F.col("_rel").cast("double"), 6) + F.lit(0.0)).alias(
            "reliability"
        ),
        (F.round(F.col("_res").cast("double"), 6) + F.lit(0.0)).alias(
            "resolution"
        ),
        (F.round(unc, 6) + F.lit(0.0)).alias("uncertainty"),
        (
            F.round(
                F.col("_rel").cast("double")
                - F.col("_res").cast("double")
                + unc,
                6,
            )
            + F.lit(0.0)
        ).alias("brier_binned"),
    )


def order_streaks(orders: DataFrame) -> DataFrame:
    """GAPS-AND-ISLANDS purchase streaks: per customer, the longest run
    of CONSECUTIVE calendar months with at least one order (island id =
    month index minus per-customer row_number — the classic idiom),
    rolled up into a histogram of longest-streak lengths with the
    customer share.  The loyalty metric behind 'n-month-streak' badges.

    Scale: distinct (customer, month) grain first (one shuffle), then
    two customer-partitioned windows — never a global sort; the
    histogram is bounded by the calendar span."""
    cm = orders.select(
        F.col("o_custkey").alias("cust"),
        (
            F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
        ).alias("idx"),
    ).distinct()
    w = Window.partitionBy("cust").orderBy("idx")
    islands = cm.withColumn(
        "isl", F.col("idx") - F.row_number().over(w)
    )
    streaks = islands.groupBy("cust", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    best = streaks.groupBy("cust").agg(F.max("len").alias("longest"))
    tot = F.broadcast(
        best.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    return (
        best.groupBy(F.col("longest").alias("streak_months"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .crossJoin(tot)
        .select(
            "streak_months",
            "n_customers",
            (
                F.round(
                    F.col("n_customers").cast("double")
                    / F.col("_n").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Wave 239 (round 2): Kendall tau-b rank correlation and hop-bounded
# closeness/harmonic centrality on the major-lane trade graph.
# --------------------------------------------------------------------------


def kendall_tau_monthly(orders: DataFrame) -> DataFrame:
    """KENDALL TAU-B between monthly order COUNT and monthly total
    REVENUE — the pair-concordance rank correlation that, unlike
    lineitem_spearman_corr's rank transform, reads directly as
    P(concordant) - P(discordant) and handles ties via the tau-b
    denominator sqrt((n0-tx)(n0-ty)).  Normal-approximation z and the
    shared Zelen-Severo two-sided p alongside.

    Scale: the pair join runs on the MONTHLY aggregate, whose
    cardinality is the calendar span (~84 rows at ANY scale factor,
    so ~3.5k pairs) — never on raw rows; counts and revenue CENTS are
    exact integers, so concordance flags are exact and the one
    floating step is the final tau ratio."""
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        (F.sum(_dec("o_totalprice")) * 100).cast("long").alias("y"),
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(b, F.col("a.m") < F.col("b.m")).select(
        (F.col("a.x") - F.col("b.x")).alias("dx"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(((F.col("dx") * F.col("dy")) > 0).cast("int"))
        .cast("long")
        .alias("concordant"),
        F.sum(((F.col("dx") * F.col("dy")) < 0).cast("int"))
        .cast("long")
        .alias("discordant"),
        F.sum((F.col("dx") == 0).cast("int")).cast("long").alias("ties_x"),
        F.sum((F.col("dy") == 0).cast("int")).cast("long").alias("ties_y"),
    )
    n = F.broadcast(
        monthly.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    )
    num = (F.col("concordant") - F.col("discordant")).cast("double")
    den = F.sqrt(
        (F.col("n0") - F.col("ties_x")).cast("double")
        * (F.col("n0") - F.col("ties_y")).cast("double")
    )
    nn = F.col("n_months").cast("double")
    zden = F.sqrt(
        nn * (nn - F.lit(1.0)) * (F.lit(2.0) * nn + F.lit(5.0))
        / F.lit(2.0)
    )
    z = F.lit(3.0) * num / zden
    from .events import _norm_sf2

    return s.crossJoin(n).select(
        "n_months",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        (
            F.round(F.try_divide(num, F.nullif(den, F.lit(0.0))), 6)
            + F.lit(0.0)
        ).alias("tau_b"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
        (F.round(_norm_sf2(F.abs(z)), 6) + F.lit(0.0)).alias("p_value"),
    )


HARMONIC_MAX_HOPS = 4  # hop bound for the all-pairs BFS expansion


def trade_closeness(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """CLOSENESS + HARMONIC centrality on the undirected major-lane
    trade graph (each nation's top-3 partner lanes, the same
    construction as trade_link_prediction — the raw graph is complete
    so raw closeness is degenerate).  All-pairs min-hop distances from
    a {HARMONIC_MAX_HOPS}-hop-bounded BFS; harmonic = sum 1/d (the
    variant that is well-defined under disconnection), closeness =
    n_reachable / sum d.

    Scale: the fact table is touched ONCE to build the weighted edge
    aggregate; the BFS expansion iterates on the dimension-sized edge
    list with a min-hop groupBy per round (contracted-graph pattern),
    localCheckpointed to truncate lineage.  1/d terms fold as
    9dp-rounded DECIMAL so the tiny sum is order-exact."""
    flows = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    tw = Window.partitionBy("u").orderBy(F.col("w").desc(), F.col("v").asc())
    edges = (
        flows.withColumn("rnk", F.row_number().over(tw))
        .filter(F.col("rnk") <= 3)
        .select("u", "v")
    )
    und = (
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    dist = und.select("u", "v", F.lit(1).alias("d"))
    for _ in range(HARMONIC_MAX_HOPS - 1):
        ext = (
            dist.join(
                und.select(F.col("u").alias("v"), F.col("v").alias("w2")),
                "v",
            )
            .filter(F.col("u") != F.col("w2"))
            .select("u", F.col("w2").alias("v"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(ext)
            .groupBy("u", "v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return (
        dist.groupBy(F.col("u").alias("nation_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reachable"),
            F.sum("d").cast("long").alias("_sumd"),
            F.sum(
                F.round(F.lit(1.0) / F.col("d").cast("double"), 9).cast(
                    "decimal(18,9)"
                )
            ).alias("_harm"),
        )
        .select(
            "nation_key",
            "n_reachable",
            (
                F.round(F.col("_harm").cast("double"), 6) + F.lit(0.0)
            ).alias("harmonic_centrality"),
            (
                F.round(
                    F.col("n_reachable").cast("double")
                    / F.col("_sumd").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("closeness"),
        )
    )


# --------------------------------------------------------------------------
# Wave 240 (round 2): Granger causality and process capability.
# --------------------------------------------------------------------------


def granger_revenue(orders: DataFrame) -> DataFrame:
    """GRANGER CAUSALITY (one lag): does last month's ORDER COUNT help
    predict this month's REVENUE beyond last month's revenue itself?
    Restricted model y_t ~ 1 + y_{t-1} vs unrestricted + x_{t-1};
    F = (RSS_r - RSS_u)(n-3)/RSS_u on (1, n-3) df, p via the shared
    normal tail on sqrt(F) (exact as F's denominator df -> inf; at
    n ~ 80 the approximation error is < 0.005, documented).  The
    cross-series companion to orders_ar2_yule_walker's own-lag fit.

    Scale: the regression runs on the bounded MONTHLY grid (~84 rows
    at ANY scale factor); the lag pair is a keyed self-join on month
    index (no global window); all power sums are EXACT integer/DECIMAL
    folds (cents and counts), so the closed-form normal-equation
    solve is a scalar double computation identical in both engines."""
    monthly = orders.groupBy(
        (
            F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
        ).alias("idx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        (F.sum(_dec("o_totalprice")) * 100).cast("long").alias("cents"),
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(
        b, F.col("b.idx") == F.col("a.idx") + 1
    ).select(
        F.col("a.cents").alias("x"),  # y_{t-1} (cents)
        F.col("a.cnt").alias("z"),  # x_{t-1} (count)
        F.col("b.cents").alias("y"),  # y_t (cents)
    )
    d38 = "decimal(38,0)"
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("z").cast(d38).alias("sz"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("z").cast(d38) * F.col("z")).cast(d38)).alias("szz"),
        F.sum((F.col("x").cast(d38) * F.col("z")).cast(d38)).alias("sxz"),
        F.sum((F.col("x").cast(d38) * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("z").cast(d38) * F.col("y")).cast(d38)).alias("szy"),
        F.sum((F.col("y").cast(d38) * F.col("y")).cast(d38)).alias("syy"),
    )
    nd = F.col("n").cast("double")

    def _d(c):
        return F.col(c).cast("double")

    cxx = _d("sxx") - _d("sx") * _d("sx") / nd
    czz = _d("szz") - _d("sz") * _d("sz") / nd
    cxz = _d("sxz") - _d("sx") * _d("sz") / nd
    cxy = _d("sxy") - _d("sx") * _d("sy") / nd
    czy = _d("szy") - _d("sz") * _d("sy") / nd
    cyy = _d("syy") - _d("sy") * _d("sy") / nd
    rss_r = cyy - cxy * cxy / cxx
    det = cxx * czz - cxz * cxz
    b1 = (cxy * czz - czy * cxz) / det
    b2 = (czy * cxx - cxy * cxz) / det
    rss_u = cyy - b1 * cxy - b2 * czy
    fstat = (rss_r - rss_u) * (nd - F.lit(3.0)) / rss_u
    from .events import _norm_sf2

    return s.select(
        F.col("n").alias("n_obs"),
        (F.round(F.lit(1.0) - rss_r / cyy, 6) + F.lit(0.0)).alias(
            "r2_restricted"
        ),
        (F.round(F.lit(1.0) - rss_u / cyy, 6) + F.lit(0.0)).alias(
            "r2_unrestricted"
        ),
        (F.round(b2 / F.lit(100.0), 6) + F.lit(0.0)).alias(
            "beta_count_lag"
        ),
        (F.round(fstat, 6) + F.lit(0.0)).alias("f_stat"),
        (
            F.round(_norm_sf2(F.sqrt(F.greatest(fstat, F.lit(0.0)))), 6)
            + F.lit(0.0)
        ).alias("p_value"),
    )


CPK_LSL = 1.0  # spec limits on lineitem quantity
CPK_USL = 50.0


def process_capability(lineitem: DataFrame) -> DataFrame:
    """PROCESS CAPABILITY (Cp / Cpk): treats lineitem quantity as the
    monitored characteristic against spec limits [{CPK_LSL},
    {CPK_USL}] — Cp = (USL-LSL)/6s (potential), Cpk = min(USL-m,
    m-LSL)/3s (actual, penalizing off-center), plus the observed
    out-of-spec PPM and the normal-theory PPM implied by Cpk.  The
    capability member of the SPC family beside the p-chart/EWMA/CUSUM
    control charts.

    Scale: one scan, exact integer power sums (quantity is integral),
    scalar closed forms after — the same shape as the other
    power-sum statistics."""
    q = F.col("l_quantity").cast("decimal(15,2)")
    s = lineitem.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q.cast("decimal(38,2)")).alias("s1"),
        F.sum((q * q).cast("decimal(38,4)")).alias("s2"),
        F.sum(
            ((q < CPK_LSL) | (q > CPK_USL)).cast("int")
        )
        .cast("long")
        .alias("n_oos"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s1").cast("double") / nd
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * m) / (
        nd - F.lit(1.0)
    )
    sd = F.sqrt(var)
    cp = F.lit(CPK_USL - CPK_LSL) / (F.lit(6.0) * sd)
    cpk = (
        F.least(F.lit(CPK_USL) - m, m - F.lit(CPK_LSL))
        / (F.lit(3.0) * sd)
    )
    from .events import _norm_sf2

    ppm_norm = _norm_sf2(F.lit(3.0) * cpk) / F.lit(2.0) * F.lit(1.0e6)
    return s.select(
        F.col("n").alias("n_lines"),
        (F.round(m, 6) + F.lit(0.0)).alias("mean_qty"),
        (F.round(sd, 6) + F.lit(0.0)).alias("sd_qty"),
        (F.round(cp, 6) + F.lit(0.0)).alias("cp"),
        (F.round(cpk, 6) + F.lit(0.0)).alias("cpk"),
        (
            F.round(
                F.col("n_oos").cast("double") / nd * F.lit(1.0e6), 6
            )
            + F.lit(0.0)
        ).alias("observed_oos_ppm"),
        (F.round(ppm_norm, 6) + F.lit(0.0)).alias("normal_theory_ppm"),
    )
