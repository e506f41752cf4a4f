"""Scale-safe global ranking: one prefix fold computes every running
quantity (row_number, running sum, running max) without a
single-partition window.

``Window.orderBy(...)`` with no partitionBy funnels every row through
one task (the one plan shape that cannot survive a 100x scale-up).
:func:`prefix_fold` is the distributed equivalent, the zipWithIndex
pattern expressed declaratively:

1. ``repartitionByRange`` on (groups, sort key): non-overlapping
   sorted ranges, one per partition, each partition-sized.
2. One window partitioned by (groups, ``spark_partition_id()``), a
   local sort per partition, computes each quantity locally.
3. The frame is pinned with one ``localCheckpoint``.
4. Each partition's offset folds the per-partition count / sum / max
   of all lower partitions of its group, through a broadcast triangle
   join over the per-partition table (#groups x #partitions rows).
   sum and max are associative, so offset and local value compose.
5. Optional per-group totals join on with their own broadcast.

Group keys compare null-safely: SQL ``PARTITION BY g`` keeps NULL as
its own group.

Why the pin stays: the per-partition branch and the local-window
branch must observe the same physical partitioning (AQE may
re-coalesce a recomputed exchange differently), and the pin keeps the
upstream lineage to one computation.  A pin-free variant (equal-width
buckets over the exact min/max of an order-preserving image of the
leading key, in place of the partition id) was correct on all 39
queries that reach this module and cut their eager jobs from 359 to
132 at sf0.001, but was slower at sf0.1: median total 41.6 s -> 44.4 s
over 3 alternating runs, 17 queries faster and 21 slower.  Chained
ranks lose most: ``orders_rfm_segments`` (three ntiles) went 1.52 s ->
5.08 s, as each unpinned level copies its input into three branches;
``lineitem_spearman_corr`` and ``lineitem_tail_dependence`` gained ~3 s
each.  So dropping the pin is a per-call-site decision.

Reference parity: the reference assigns ids with a serial counter
(src/persistence.cc:43-48) and ranks results in one thread; these
helpers are the distributed equivalents of that total order.
"""

from __future__ import annotations

import operator
from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _on(gc: Sequence[str], prefix: str, *also: Column) -> Column:
    """``also`` and null-safe equality of each group key with its twin."""
    return reduce(operator.and_, [*also, *[F.col(g).eqNullSafe(F.col(prefix + g)) for g in gc]])


def prefix_fold(
    df: DataFrame,
    sort_exprs: Sequence[Column],
    group_cols: Sequence[str] = (),
    rank: str | None = None,
    sums: Mapping[str, str] | None = None,
    maxes: Mapping[str, str] | None = None,
    totals: Mapping[str, str] | None = None,
) -> DataFrame:
    """Exact running quantities over ``sort_exprs`` within each group
    (globally when ``group_cols`` is empty).  Returns ``df`` plus:

    - ``rank``: row_number (long, 1-based; ``sort_exprs`` must end in a
      unique tiebreak for a deterministic answer);
    - per ``value col -> name`` in ``sums`` / ``maxes``: SUM / MAX over
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW (NULL until the
      first non-NULL value, like SQL).  Summed columns should be exact
      types (long / DECIMAL) so the fold is order-insensitive;
    - per ``name -> running name`` in ``totals``: the group's final
      value of that quantity on every row (the row count for ``rank``).
    """
    gc = list(group_cols)
    lw = Window.partitionBy(*gc, "_pid").orderBy(*sort_exprs).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # name -> (local running value, per-partition aggregate, fold)
    specs: dict[str, tuple[Column, Column, str]] = {}
    if rank is not None:
        specs[rank] = (F.row_number().over(lw).cast("long"), F.count(F.lit(1)), "sum")
    for c, name in (sums or {}).items():
        specs[name] = (F.sum(c).over(lw), F.sum(c), "sum")
    for c, name in (maxes or {}).items():
        specs[name] = (F.max(c).over(lw), F.max(c), "max")
    ids = {name: f"_q{i}" for i, name in enumerate(specs)}

    local = (
        df.repartitionByRange(*[F.col(g).asc() for g in gc], *sort_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .withColumns({ids[n]: s[0] for n, s in specs.items()})
        .localCheckpoint()
    )
    per = local.groupBy(*gc, "_pid").agg(*[s[1].alias(ids[n]) for n, s in specs.items()])
    lower = per.select(*[F.col(c).alias("_lo" + c) for c in per.columns])
    offs = (
        per.join(F.broadcast(lower), _on(gc, "_lo", F.col("_lo_pid") < F.col("_pid")), "left")
        .groupBy(*[F.col(k).alias("_of" + k) for k in [*gc, "_pid"]])
        .agg(*[F.expr(f"{s[2]}(_lo{ids[n]})").alias("_of" + ids[n])
               for n, s in specs.items()])
    )

    def folded(name: str) -> Column:
        here, below = F.col(ids[name]), F.col("_of" + ids[name])
        if specs[name][2] == "max":
            return F.greatest(here, below)
        return F.coalesce(here + below, here, below)

    out = local.join(F.broadcast(offs), _on(gc, "_of", F.col("_pid") == F.col("_of_pid")))
    out = out.withColumns({n: folded(n) for n in specs})
    if totals:
        tot = per.groupBy(*[F.col(g).alias("_to" + g) for g in gc]).agg(
            *[F.expr(f"{specs[src][2]}({ids[src]})").alias(name)
              for name, src in totals.items()]
        )
        out = (out.join(F.broadcast(tot), _on(gc, "_to"))
               if gc else out.crossJoin(F.broadcast(tot)))
    return out.drop("_pid", *offs.columns, *ids.values(), *["_to" + g for g in gc])


def ranked_global(
    df: DataFrame,
    sort_exprs: Sequence[Column],
    group_cols: Sequence[str] = (),
    rank_name: str = "grank",
    total_name: str | None = None,
) -> DataFrame:
    """Exact global (or per-group) row_number over ``sort_exprs`` as
    ``rank_name``, plus the group's row count as ``total_name`` when
    given (for ntile / percentile arithmetic): :func:`prefix_fold`
    with only the rank."""
    return prefix_fold(
        df, sort_exprs, group_cols, rank=rank_name,
        totals={total_name: rank_name} if total_name else None,
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """SQL-standard ntile(k) computed from an exact 1-based rank and the
    group size: the first ``n % k`` buckets get ``n div k + 1`` rows,
    the rest ``n div k`` — identical to Spark's and DuckDB's NTILE.
    """
    i = rank.cast("double")
    base = F.floor(n / k).cast("long")
    rem = (n % k).cast("long")
    big = (base + F.lit(1)).cast("double")
    in_big = rank <= rem * (base + F.lit(1))
    bucket = F.when(in_big, F.ceil(i / big)).otherwise(
        rem
        + F.ceil(
            (i - (rem * (base + F.lit(1))).cast("double"))
            / F.greatest(base, F.lit(1)).cast("double")
        )
    )
    return bucket.cast("int")


def grouped_ntile(
    df: DataFrame,
    sort_exprs: Sequence[Column],
    k: int,
    out_name: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """ntile(k) over ``sort_exprs`` within each group (global when
    ``group_cols`` is empty), built on :func:`ranked_global` — the
    scale-safe replacement for ``ntile(k).over(Window.orderBy(...))``.
    """
    ranked = ranked_global(
        df, sort_exprs, group_cols, rank_name="_ntile_rank", total_name="_ntile_n"
    )
    return ranked.withColumn(
        out_name, ntile_from_rank(F.col("_ntile_rank"), F.col("_ntile_n"), k)
    ).drop("_ntile_rank", "_ntile_n")


def avg_rank2(
    df: DataFrame,
    value_col: str,
    tiebreak: Sequence[Column],
    out_name: str = "avg2",
) -> DataFrame:
    """Twice the tie-averaged (fractional) rank of ``value_col``, as an
    exact long: 2*avg_rank(v) = 2*min_rank(v) + ties(v) - 1, the
    integer every rank statistic (Spearman rho, Kruskal-Wallis H,
    Mann-Whitney U) is built from, so moment sums can run in DECIMAL.

    Plan shape: :func:`ranked_global` over (value, tiebreak), then one
    window partitioned BY THE VALUE (min rank + tie count; values are
    hash-distributed, so no funnel).  ``tiebreak`` must make the sort
    total; it cancels out of the tie-averaged result.
    """
    ranked = ranked_global(
        df, [F.col(value_col).asc(), *tiebreak], rank_name="_ar_rank"
    )
    vw = Window.partitionBy(value_col)
    return ranked.withColumn(
        out_name,
        (
            F.lit(2) * F.min("_ar_rank").over(vw)
            + F.count(F.lit(1)).over(vw)
            - F.lit(1)
        ).cast("long"),
    ).drop("_ar_rank")
