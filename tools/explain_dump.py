"""Regenerate EXPLAIN.md: formatted physical plans of the headline
queries, so the shuffle/pushdown story is reviewable without running
anything.  Usage: python tools/explain_dump.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADLINERS = [
    ("knn_filtered_eq", "pre-filter pushed to scan; TakeOrderedAndProject top-k"),
    ("knn_batch_join", "broadcast query side; WindowGroupLimit partial before shuffle"),
    ("tpch_q1_pricing", "date filter + column pruning at the scan; partial agg"),
    ("revenue_by_nation", "all-broadcast star join, zero SortMergeJoin"),
    ("tpch_q3_shipping", "both date filters at the fact scans; top-k no full sort"),
    ("dedup_minhash_pairs", "band-bucket shuffle key, checkpointed signature table"),
    ("asof_join_checkpoints", "single shuffle-by-key union window (no range join)"),
    ("events_sessionize", "session window: one shuffle on user_id"),
    ("tpch_q5_local_supplier", "four broadcast dims; lineitem-orders is the only shuffle"),
    ("orders_with_returns", "EXISTS as left-semi; returnflag filter at lineitem scan"),
    ("events_rolling_1h_avg", "time-RANGE frame window, one shuffle on user_id"),
    ("knn_udf_cosine_sql", "ArrowEvalPython stage for the scalar Arrow-UDF kernel"),
    ("ann_ivfpq_rerank", "two TakeOrderedAndProject stages: codes-only ADC shortlist, then exact rerank of R rows"),
    ("dedup_embedding_blocked", "equi-join on IVF cell id — no nested-loop cross join"),
    ("decontaminate_ngram", "benchmark side broadcast; only matching rows shuffled"),
    ("events_range_join_follow", "interval join as two-bucket equi-join + residual filter"),
    ("tpch_q21_sole_blame", "EXISTS/NOT-EXISTS as one per-order aggregate; single fact shuffle"),
    ("tpch_q6_forecast_revenue", "every predicate in PushedFilters; scan -> one global agg, no join"),
    ("tpch_q8_market_share", "seven-table star: six broadcasts, the final group-by is the only required shuffle"),
    ("tpch_q17_small_qty_revenue", "correlated AVG decorrelated to one per-part agg re-joined to the fact"),
    ("pii_redaction_audit", "chained regexp_replace entirely inside one WholeStageCodegen map stage"),
    ("embedding_pca_power_iter", "posexplode terms -> 64-group partial-agg shuffle; broadcast scalar normalizer"),
    ("knn_maxsim_labels", "broadcast query; in-scan cosine; one label agg; TakeOrderedAndProject"),
    ("zorder_layout_audit", "bit-interleave inside the scan; one map-side-combined shuffle on zfile"),
    ("doc_unigram_logprob", "vocab-count shuffle + occurrence-vocab join; broadcast corpus total"),
    ("tpch_q2_min_cost_supplier", "partsupp surrogate partial-aggregated map-side; dims broadcast; one partkey window shuffle"),
    ("tpch_q4_order_priority", "EXISTS as LEFT SEMI with date residual; quarter filter in PushedFilters"),
    ("doc_winnowing_fingerprints", "positional explode; one doc_id shuffle; bounded ROWS window"),
    ("events_user_state_scd2", "gaps-and-islands: one user_id shuffle feeds lag/sum/lead windows"),
    ("ann_adaptive_filter", "selectivity-gated: pre-filter exact branch (label filter in PushedFilters, TakeOrderedAndProject)"),
    ("lineitem_brand_affinity", "brands broadcast into the fact scan; pair explosion in-expression, bounded by basket size"),
    ("decontaminate_fuzzy_minhash", "benchmark band table broadcast; corpus never shuffled for candidates"),
    ("wal_compaction_audit", "one key-window shuffle, bucket-bounded aggregate"),
    ("split_leakage_audit", "two tiny aggregates over the cached cluster-label table"),
    ("bloom_prune_audit", "bit-position set broadcast; probe pays only its own DISTINCT shuffle"),
    ("doc_pack_windows", "packing cumsum windowed by (source, shard) — bounded tasks, no global sort"),
    ("dedup_incremental_pairs", "broadcast batch bands against the materialized index — no corpus self-shuffle per ingest"),
    ("ann_matryoshka_recall", "prefix-dim heap top-k stages; full vectors fetched only for the broadcast shortlist"),
    ("knn_graph_blocked", "cell equi-join pair space; WindowGroupLimit per-source top-k"),
    ("nation_trade_pagerank", "one fact shuffle builds edges; iterations on the checkpointed aggregate"),
    ("events_pattern_match", "one user_id shuffle; every pattern counted off one aggregate row"),
    ("column_encoding_advisor", "all columns lagged in one bounded window over one scan"),
    ("wal_source_scan", "custom Python DataSource: one InputPartition per WAL segment"),
    ("partitioned_write_prune", "lang predicate as PartitionFilters on the partitioned layout"),
    ("label_centroid_accuracy", "one posexplode pass; |labels|-bounded classify fan-out; per-vec argmin window"),
    ("vocab_coverage_curve", "two-phase ranked vocab; every coverage point folded in one aggregate"),
    ("embedding_grid_neighbors", "3x3 neighbor explode; cell-keyed equi-join — no CartesianProduct"),
    ("ann_binary_hamming", "bit_count(xor) Hamming inside codegen; TakeOrderedAndProject shortlist then exact rerank"),
    ("ann_ivf", "TRAINED codebook (round-3 default); cells_arrow mapInArrow kernel builds the cached cell index; probe + exact rerank"),
    ("nation_trade_bfs", "recursive CTE on the checkpointed dominant-partner edge list (dimension-sized)"),
    ("part_name_levenshtein", "(brand,type,size)-keyed block join; edit distance in codegen"),
    ("ivm_join_delta", "delta sides broadcast; DECIMAL partials merged without rescanning the base join"),
    ("dedup_tfidf_verify", "candidate-keyed numerator join; tf/df aggregates the only corpus shuffles"),
    ("events_session_window_tvf", "native session_window aggregate: one user_id shuffle"),
    ("table_fingerprint_audit", "per-table single-pass partial-agg fingerprint — no sort, no join"),
    ("events_kaplan_meier", "one user reduction; curve windows on the |durations| table"),
    ("lineitem_range_constraints", "every declared range contract in ONE scan: conditional counts, no per-constraint rescan"),
    ("parts_abc_xyz_matrix", "two-phase prefix ABC x monthly-CV XYZ; one fact shuffle each"),
    ("saved_search_percolate", "stored queries broadcast; one corpus pass, arity-matched semi-aggregation"),
    ("arrow_ipc_source_roundtrip", "custom Python DataSource: RecordBatch-yielding reads, one InputPartition per file"),
    ("knn_graph_search", "layered-descent beam search: broadcast frontier hops behind checkpoints; broadcast-triangle final rank"),
    ("events_ams_f2_sketch", "map-side +/-1 sign sums — join-size estimate with no key shuffle"),
    ("lineitem_trimmed_mean", "two-phase grouped rank; DECIMAL tail sums; broadcast boundary rows"),
    ("vocab_textrank_keywords", "vocab-capped co-occurrence edges; broadcast power-iteration state"),
    ("multimodal_shard_pack", "byte cumsum windowed by (source, group) — bounded tasks"),
    ("cms_width_tuning", "one exact token count feeds all four sketch widths"),
    ("dpp_prune_join", "dynamic partition pruning: dim predicate plants a dynamicpruning subquery in the fact scan's PartitionFilters"),
    ("bloom_filter_join", "runtime bloom filter: BloomFilterAggregate build side, bloom_filter_might_contain probe under the fact scan, pre-shuffle"),
    ("aqe_skew_join", "forced SMJ on a hot key; AQE splits the oversized partition at runtime (skew=true in the final plan)"),
    ("orders_wasserstein_drift", "one ordered_cdf two-phase pass: range-partitioned rank + both cumulative masses; no single-partition window"),
    ("lineitem_spearman_corr", "two chained avg_rank2 passes; value-partitioned tie windows; one DECIMAL moment aggregate"),
    ("nation_trade_hits", "one fact shuffle builds edges; hub/authority half-steps on the checkpointed aggregate"),
    ("observed_scan_metrics", "CollectMetrics rides the workload scan — profiling with zero extra passes"),
    ("embedding_knn_loo_accuracy", "blocked exact kNN self-join: cogrouped tile pairs in FlatMapCoGroupsInArrow, ids+dists shuffle, per-qid rank merge — no driver collect"),
    ("part_covisit_recs", "hash-rank basket cap window, customer-keyed pair self-join, broadcast supports, rank-limit window"),
    ("graph_index_upsert_audit", "incremental edge repair: batch-only assignment, affected-cell cogroup kernel, anti-join stale drop, per-src rerank"),
    ("ann_recall_vs_beam", "ball-kernel walk (round 5): one materialized corpus-distance pass + cached seed-set BFS ball; all beam walks in one cogrouped Arrow task, recall join per beam"),
    ("multimodal_decode", "real PNG encode/decode round-trip in one mapInArrow stage; only doc_id enters, fixed-width pixel stats leave"),
]


def main() -> None:
    from simple_vector_spark.registry import queries
    from simple_vector_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-dump")
    qs = queries()

    out = [
        "# EXPLAIN — physical plans of the headline queries",
        "",
        f"Generated by `python tools/explain_dump.py {sf_dir}`.",
        "Plans are pre-execution (`AdaptiveSparkPlan isFinalPlan=false`);",
        "AQE may further coalesce partitions / convert joins at runtime.",
        "",
    ]
    for name, note in HEADLINERS:
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        out += [f"## {name}", "", f"*{note}*", "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
