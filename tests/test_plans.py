"""Physical-plan audits: the scale properties claimed in operator
docstrings must actually appear in the executed plan.  These are the
regressions that matter at 100 TB — a missing pushed filter or a lost
WindowGroupLimit is invisible at sf0.001 and fatal at scale."""

from __future__ import annotations

from simple_vector_spark.registry import queries

QS = queries()


def plan_of(spark, sf_dir, name: str) -> str:
    return QS[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_knn_filter_pushed_below_ranking(spark, sf_dir):
    """O8 pre-filter semantics: the label predicate reaches the parquet
    scan (DataFilters), and top-k is TakeOrderedAndProject (per-
    partition heaps, no corpus shuffle)."""
    plan = plan_of(spark, sf_dir, "knn_filtered_eq")
    assert "TakeOrderedAndProject" in plan
    assert "(label" in plan and "= 7)" in plan  # pushed, not post-filtered


def test_knn_batch_join_has_partial_group_limit(spark, sf_dir):
    """O15: rank-limit must insert WindowGroupLimit Partial before the
    shuffle so only k rows per query per partition move."""
    plan = plan_of(spark, sf_dir, "knn_batch_join")
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BroadcastNestedLoopJoin" in plan  # query side broadcast


def test_q1_scan_prunes_columns_and_pushes_date(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q1_pricing")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan and "<=" in scan  # pushed date filter
    assert "l_partkey" not in scan  # column pruning reached the scan


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_point_lookup_pushes_in_filter_to_both_sides(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "point_lookup")
    assert plan.count("IN (7,42,99)") >= 2  # propagated through the join


def test_top_orders_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_orders_per_customer")
    assert "WindowGroupLimit" in plan


def test_q3_filters_pushed_to_fact_scans(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q3_shipping")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    li = next(s for s in scans if "lineitem" in s)
    od = next(s for s in scans if "orders.parquet" in s)
    assert "l_shipdate" in li  # date filter at the lineitem scan
    assert "o_orderdate" in od  # date filter at the orders scan
    assert "TakeOrderedAndProject" in plan


def test_ivf_partitioned_probe_prunes_directories(spark, sf_dir):
    """The built IVF index is probed via PartitionFilters — only the
    nprobe cell= directories are scanned (the FAISS inverted-list
    analog at the file-layout level)."""
    plan = plan_of(spark, sf_dir, "ann_ivf_partitioned")
    scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "ivf_index" in l
    )
    assert "PartitionFilters: [cell" in scan and " IN " in scan


def test_ivf_probe_is_literal_cell_filter(spark, sf_dir):
    """ann_ivf: the nprobe cells are picked on the driver and reach the
    scan as the literal filter ``__cell IN (...)``; the exact re-rank is
    a 10-row heap at the root — one stage, no join, no exchange."""
    lines = plan_of(spark, sf_dir, "ann_ivf").splitlines()
    assert lines[0].startswith("TakeOrderedAndProject(limit=10")  # re-rank at the root
    cell_filter = next(l for l in lines if "Filter" in l and "__cell#" in l)
    assert " IN (" in cell_filter
    assert not any("Join" in l or "Exchange" in l for l in lines)


def test_q5_single_fact_shuffle_dims_broadcast(spark, sf_dir):
    """Q5's only exchange pair should feed lineitem⋈orders; the four
    dims (customer, supplier, nation, region) must all broadcast."""
    plan = plan_of(spark, sf_dir, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    od = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "orders.parquet" in l
    )
    assert "o_orderdate" in od  # year filter pushed to the orders scan


def test_knn_filtered_range_pushes_compound_predicate(spark, sf_dir):
    """Range+parity pre-filter: the BETWEEN half must reach the parquet
    scan; ranking stays TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "knn_filtered_range")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "label" in scan and ">= 3" in scan and "<= 12" in scan
    assert "TakeOrderedAndProject" in plan


def test_q14_pushes_month_filter_and_broadcasts_part(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q14_promo_share")
    li = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "lineitem" in l
    )
    assert "l_shipdate" in li  # month filter at the fact scan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed interval-join decomposition must produce an
    equi-join on the bucket id; a BroadcastNestedLoopJoin here means
    the non-equi predicate leaked into the join condition."""
    plan = plan_of(spark, sf_dir, "events_range_join_follow")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_q21_single_fact_shuffle(spark, sf_dir):
    """The decorrelated EXISTS/NOT-EXISTS must not self-join lineitem
    via nested loops; supplier attaches as a broadcast."""
    plan = plan_of(spark, sf_dir, "tpch_q21_sole_blame")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_stage1_reads_codes_not_vectors(spark, sf_dir):
    """IVF-PQ stage separation: the shortlist must be computed before
    any full-vector rerank (TakeOrderedAndProject appears twice — once
    for the ADC shortlist, once for the final top-k)."""
    plan = plan_of(spark, sf_dir, "ann_ivfpq_rerank")
    assert plan.count("TakeOrderedAndProject") >= 2


def test_maxsim_no_shuffle_before_label_agg(spark, sf_dir):
    """MaxSim scores every row in the scan stage against the query
    literal; the only exchange is the tiny label aggregate's, and
    nothing is broadcast."""
    plan = plan_of(spark, sf_dir, "knn_maxsim_labels")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1 and "hashpartitioning(label" in exchanges[0]
    # the score is a partial max/sum below that exchange, in the scan stage
    below = plan.split(exchanges[0], 1)[1]
    assert "partial_max" in below and "FileScan parquet" in below


def test_zorder_audit_single_partial_agg_shuffle(spark, sf_dir):
    """Z-value interleave happens map-side; one hash-agg shuffle on the
    zfile key with a partial aggregate below it."""
    plan = plan_of(spark, sf_dir, "zorder_layout_audit")
    assert plan.count("Exchange hashpartitioning(zfile") == 1
    assert "partial" in plan.lower()


def test_unigram_logprob_scan_prunes_to_text_cols(spark, sf_dir):
    """The LM derivation is checkpointed as a (doc_id, token, count)
    table, so the final plan reads that RDD — and none of the pruned
    document columns (lang/source/n_chars) appear anywhere in it."""
    plan = plan_of(spark, sf_dir, "doc_unigram_logprob")
    assert "ExistingRDD" in plan  # the checkpointed tf table
    assert "n_chars" not in plan and "lang" not in plan and "source" not in plan


def test_pareto_ntile_ranks_aggregate_not_fact(spark, sf_dir):
    """The decile comes from the two-phase ranked ntile of the
    per-customer aggregate: the final plan consumes the checkpointed
    ranked table (ExistingRDD) through broadcast offset joins — never a
    global sort, and never a Sort/Window over Exchange SinglePartition
    (see tests/test_ranking.py for the family-wide assertion)."""
    plan = plan_of(spark, sf_dir, "orders_pareto_share")
    assert "ExistingRDD" in plan  # checkpointed per-customer rank table
    assert "BroadcastHashJoin" in plan  # offsets/totals attach broadcast
    assert "Exchange rangepartitioning" not in plan or "Sort" not in plan


def test_q2_dims_broadcast_single_window_shuffle(spark, sf_dir):
    """Q2 literal: part/supplier/nation/region all broadcast; the only
    wide exchanges are the partsupp partial agg and the partkey
    window — never a SortMergeJoin of the fact against a dim."""
    plan = plan_of(spark, sf_dir, "tpch_q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_q4_exists_is_left_semi_with_pushed_quarter(spark, sf_dir):
    """Q4 literal: EXISTS lowered to LEFT SEMI (no row duplication) and
    the quarter filter reaches the orders scan."""
    plan = plan_of(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    orders = next(s for s in scans if "orders.parquet" in s)
    assert "o_orderdate" in orders and "GreaterThanOrEqual" in orders


def test_winnowing_single_doc_shuffle(spark, sf_dir):
    """Winnowing: one hash exchange on doc_id feeds both the bounded
    ROWS window and the final per-doc aggregate — no second wide
    shuffle of gram rows, no single-partition window."""
    plan = plan_of(spark, sf_dir, "doc_winnowing_fingerprints")
    assert "RowFrame, currentrow$(), 3" in plan  # bounded w-row frame
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # doc_id only


def test_adaptive_filter_sparse_branch_pushes_label(spark, sf_dir):
    """The pre-filter branch must push the label predicate to the scan
    and top-k via TakeOrderedAndProject (the knn_filtered_eq shape)."""
    plan = plan_of(spark, sf_dir, "ann_adaptive_filter")
    assert "TakeOrderedAndProject" in plan
    assert "(label" in plan


def test_scd2_single_user_exchange_feeds_all_windows(spark, sf_dir):
    """Gaps-and-islands: exactly one hashpartitioning(user_id) exchange
    for the lag/sum windows; no single-partition window anywhere."""
    plan = plan_of(spark, sf_dir, "events_user_state_scd2")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") >= 1


def test_fuzzy_decontamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark band table must broadcast — the corpus is never
    shuffled for candidate generation."""
    plan = plan_of(spark, sf_dir, "decontaminate_fuzzy_minhash")
    assert "BroadcastHashJoin" in plan


def test_bloom_bits_broadcast_probe_single_shuffle(spark, sf_dir):
    """Wave 33: the bit-position set must broadcast (map-side membership
    test) — the probe side pays only its own DISTINCT shuffle, no added
    fact shuffle and no sort-merge join against the filter."""
    plan = plan_of(spark, sf_dir, "bloom_prune_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_windows_sharded_not_global(spark, sf_dir):
    """Wave 33: the packing cumsum must window on (source, shard) —
    a single-partition global/psource-only sort would be the known
    scale-killer class."""
    plan = plan_of(spark, sf_dir, "doc_pack_windows")
    win = next(l for l in plan.splitlines() if "RunningWindowFunction" in l or "Window " in l or "Window\n" in l or l.strip().startswith("Window"))
    assert "_shard" in win
    assert "Exchange SinglePartition" not in plan


def test_curriculum_deciles_two_phase_rank(spark, sf_dir):
    """Wave 33: the global decile must come from the range-partitioned
    two-phase rank, never Window.orderBy with no partition (which plans
    an Exchange SinglePartition over all docs)."""
    plan = plan_of(spark, sf_dir, "curriculum_quality_deciles")
    assert "ExistingRDD" in plan  # checkpointed local-rank table
    assert "BroadcastHashJoin" in plan  # offsets/totals attach broadcast
    # the only SinglePartition allowed is the broadcast-side tiny agg
    # over per-partition counts — never a Window/Sort over all docs
    for i, line in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in line:
            above = "\n".join(plan.splitlines()[max(0, i - 3):i])
            assert "Window" not in above and "Sort " not in above


def test_incremental_pairs_broadcast_batch_side(spark, sf_dir):
    """Wave 34: the batch side of the incremental dedup join must be
    broadcast against the materialized band index — never a corpus
    self-shuffle per ingest batch."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_pairs")
    assert "BroadcastHashJoin" in plan
    assert "ExistingRDD" in plan  # checkpointed band index


def test_matryoshka_stages_are_heap_topk(spark, sf_dir):
    """Wave 34: both matryoshka stages must plan per-partition top-k
    heaps (TakeOrderedAndProject) and the rerank joins a broadcast
    shortlist."""
    plan = plan_of(spark, sf_dir, "ann_matryoshka_recall")
    assert plan.count("TakeOrderedAndProject") >= 3
    assert "BroadcastHashJoin" in plan


def test_incremental_agg_partials_not_fact_union(spark, sf_dir):
    """Wave 34: the merge must re-aggregate two already-aggregated
    partials — two HashAggregate pairs below the final merge agg, with
    the delta predicate pushed to both scans."""
    plan = plan_of(spark, sf_dir, "orders_incremental_agg")
    assert plan.count("HashAggregate") >= 6  # 2 partials x (partial+final) + merge
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 2


def test_knn_graph_equi_join_and_group_limit(spark, sf_dir):
    """Wave 35: graph build must be a cell equi-join (no cartesian /
    nested loop) with the per-source top-k as a partial group limit."""
    plan = plan_of(spark, sf_dir, "knn_graph_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_pagerank_edges_single_fact_shuffle(spark, sf_dir):
    """Wave 35: dims broadcast; iterations consume the checkpointed
    edge table, so exactly one orders-lineitem sort-merge/shuffle pair
    appears and no nation-table rescans leak into the loop."""
    plan = plan_of(spark, sf_dir, "nation_trade_pagerank")
    assert "ExistingRDD" in plan  # checkpointed trans/nodes tables
    assert "BroadcastHashJoin" in plan


def test_pattern_match_single_user_shuffle(spark, sf_dir):
    """Wave 36: one user_id aggregate; every pattern counted off the
    same reduced aggregate row — no per-pattern rescans."""
    plan = plan_of(spark, sf_dir, "events_pattern_match")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 1


def test_kmv_sketch_partial_top_k(spark, sf_dir):
    """Wave 36: the per-type k-minimum selection must plan a partial
    group limit before the exchange (sketch built per-partition, then
    merged)."""
    plan = plan_of(spark, sf_dir, "events_kmv_cardinality")
    # the per-type sketch is materialized (ExistingRDD) — its inner
    # plan (rank filter => WindowGroupLimit) executes at checkpoint
    # time; the outer plan must consume sketch-sized tables only, so
    # no sort-merge join of the fact table may appear
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_encoding_advisor_single_scan_bounded_window(spark, sf_dir):
    """Wave 36: all candidate columns measured in ONE scan and one
    window partitioned by orderkey — never a global sort."""
    plan = plan_of(spark, sf_dir, "column_encoding_advisor")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 1
    win = [l for l in plan.splitlines() if "Window [" in l]
    assert any("l_orderkey" in l for l in win)


def test_partitioned_write_prunes_to_one_lang(spark, sf_dir):
    """Wave 38: the lang predicate must become a PartitionFilter on the
    partitioned layout — directory pruning, not a data filter."""
    plan = plan_of(spark, sf_dir, "partitioned_write_prune")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l and "docs_by_lang" in l)
    assert "PartitionFilters" in scan and "lang" in scan.split("PartitionFilters")[1][:80]


def test_weighted_sample_is_heap_selection(spark, sf_dir):
    """Wave 44: A-Res selection must be TakeOrderedAndProject — no
    corpus shuffle for a k-row sample."""
    plan = plan_of(spark, sf_dir, "doc_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pit_join_no_cartesian(spark, sf_dir):
    """Wave 42: the interval-containment join must key on user_id —
    never a time-range cross join."""
    plan = plan_of(spark, sf_dir, "events_pit_user_state")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_live_index_knn_semi_join_then_heap(spark, sf_dir):
    """Round-2 lifecycle flow: the live-state restriction is a semi
    join and the search stays a per-partition heap top-k."""
    plan = plan_of(spark, sf_dir, "stream_live_index_knn")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_abc_prefix_sum_no_single_partition_window(spark, sf_dir):
    """Wave 47: the cumulative share must come from the two-phase
    prefix sum (checkpointed local-cumsum table + broadcast offsets) —
    never a SUM OVER an unpartitioned ORDER BY."""
    plan = plan_of(spark, sf_dir, "parts_abc_classification")
    assert "ExistingRDD" in plan
    for i, line in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in line:
            above = "\n".join(plan.splitlines()[max(0, i - 3):i])
            assert "Window" not in above and "Sort " not in above


def test_grid_join_is_equi_not_cartesian(spark, sf_dir):
    """embedding_grid_neighbors: the eps-pair search must hash-join on
    the cell key — a CartesianProduct/NLJ here is the all-pairs plan
    grid blocking exists to avoid."""
    plan = plan_of(spark, sf_dir, "embedding_grid_neighbors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_levenshtein_join_keyed_on_block(spark, sf_dir):
    """part_name_levenshtein: join keyed by (brand, type, size) so the
    pair space is sum-of-block-squares, never n^2."""
    plan = plan_of(spark, sf_dir, "part_name_levenshtein")
    assert "CartesianProduct" not in plan
    assert "p_brand" in plan and "p_type" in plan and "p_size" in plan


def test_binary_hamming_stays_in_codegen(spark, sf_dir):
    """ann_binary_hamming: the Hamming scan is bit_count(xor) inside
    TakeOrderedAndProject — no shuffle of the corpus, no Python."""
    plan = plan_of(spark, sf_dir, "ann_binary_hamming")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivm_delta_broadcasts_delta_side(spark, sf_dir):
    """ivm_join_delta: the ΔB-side joins broadcast (delta-sized), and
    DECIMAL partials merge without a stable order requirement."""
    plan = plan_of(spark, sf_dir, "ivm_join_delta")
    assert "BroadcastHashJoin" in plan


def test_session_window_tvf_single_user_shuffle(spark, sf_dir):
    """events_session_window_tvf: native session aggregation shuffles
    on user_id once (plus the session-window node), no global sort."""
    plan = plan_of(spark, sf_dir, "events_session_window_tvf")
    assert "user_id" in plan
    assert "Sort [user_id" in plan or "sessionwindow" in plan.lower()


def test_fingerprint_is_single_pass_aggregate(spark, sf_dir):
    """table_fingerprint_audit: each table contributes one partial
    aggregate — no sort, no join, no window anywhere."""
    plan = plan_of(spark, sf_dir, "table_fingerprint_audit")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_trimmed_mean_two_phase_rank_no_global_sort(spark, sf_dir):
    """Wave 100: per-flag tail membership must come from the two-phase
    grouped rank (range repartition + local sort + checkpointed
    offsets) — never a Sort/Window over Exchange SinglePartition."""
    plan = plan_of(spark, sf_dir, "lineitem_trimmed_mean")
    assert "ExistingRDD" in plan  # the checkpointed ranked table
    for i, line in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in line:
            above = "\n".join(plan.splitlines()[max(0, i - 3):i])
            assert "Window" not in above and "Sort " not in above


def test_graph_search_rank_is_broadcast_triangle(spark, sf_dir):
    """Wave 98: the k-row final rank must be the broadcast triangle
    join over the checkpointed top-k — never a sorted single-partition
    window (hop joins run eagerly behind the checkpoints; the returned
    plan is the rank stage)."""
    plan = plan_of(spark, sf_dir, "knn_graph_search")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


def test_textrank_iteration_broadcasts_contrib(spark, sf_dir):
    """Wave 104: each power-iteration join of the |V|-row contribution
    table against the node list must be a broadcast join — the model
    state never rides a shuffle."""
    plan = plan_of(spark, sf_dir, "vocab_textrank_keywords")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ams_sketch_is_map_side_partial_aggregate(spark, sf_dir):
    """Wave 97: the AMS sign sums must partial-aggregate before the
    single-row final merge — one map-side pass, no key shuffle on the
    sketch side."""
    plan = plan_of(spark, sf_dir, "events_ams_f2_sketch")
    assert "partial_" in plan.lower() or "Partial" in plan


def test_bloom_filter_join_probe_planted(spark, sf_dir):
    """The runtime bloom filter must actually appear: build-side
    BloomFilterAggregate feeding a bloom_filter_might_contain probe on
    the lineitem side, pre-shuffle."""
    from simple_vector_spark.registry import _QUERIES

    df = _QUERIES["bloom_filter_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "might_contain" in plan
    # and the probe must not have degraded the join to broadcast
    # (broadcast joins never receive an injected bloom filter)
    assert "broadcasthashjoin" not in plan.replace(" ", "")


def test_relation_cache_is_session_scoped(spark, sf_dir):
    """load_table's resolved-relation cache must NOT leak across
    spark.newSession() twins: a DataFrame is bound to the SQLConf of
    the session that created it, so handing the main session's cached
    relation to a twin with private confs (bloom_filter_join's
    auto-broadcast-off session) silently disables those confs.  Caught
    live: the suite's earlier tests warmed the main-session cache and
    the bloom probe vanished from the executed plan."""
    from simple_vector_spark.sources.loaders import load_table

    main_df = load_table(spark, sf_dir, "orders")
    twin = spark.newSession()
    twin_df = load_table(twin, sf_dir, "orders")
    assert twin_df is not main_df
    # and within one session the cache must hit
    assert load_table(spark, sf_dir, "orders") is main_df
    assert load_table(twin, sf_dir, "orders") is twin_df


def test_aqe_skew_join_splits_hot_partition(spark):
    """After execution the final adaptive plan must show the skew-join
    rewrite (skew=true) on the forced sort-merge join."""
    from simple_vector_spark.registry import _QUERIES

    df = _QUERIES["aqe_skew_join"](spark, "/root/testdata/sf0.01")
    df.collect()  # AQE decides at runtime; plan is final only now
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan


# --------------------------------------------------------------------------
# Round-3 guard (VERDICT r02 item 8): windows with no PARTITION BY,
# ordered (orderBy-only) or not (``OVER ()``), funnel every row through
# ONE task — the single plan shape that cannot survive a 100x
# scale-up.  Every existing site is bounded-cardinality by
# construction (calendar months/quarters/days, probe grids, feature
# lists, k-smallest-hash sketches) and documented in its docstring; any
# NEW site must either justify itself onto this list or use the
# two-phase helpers in operators/ranking.py (a whole-table total is a
# broadcast one-row aggregate).  The matching plan-level audit is the
# global_windows count of tools/plan_scan.py (slow; run per change).
# --------------------------------------------------------------------------

GLOBAL_WINDOW_ALLOWLIST = {
    ("operators/events.py", "monthly_value_growth"),   # months
    ("operators/events.py", "watermark_late_audit"),   # micro-batch ids
    ("operators/events.py", "changepoint_detect"),     # days
    ("operators/events.py", "daily_forward_fill"),     # days
    ("operators/events.py", "sprt_monitor"),           # days
    ("operators/events.py", "feature_mi_ranking"),     # |features|
    ("operators/relational.py", "aov_trend"),          # months
    ("operators/relational.py", "revenue_ewma"),       # time grid
    ("operators/relational.py", "sla_trend"),          # quarters
    ("operators/relational.py", "km_survival"),        # event-time grid
    ("operators/relational.py", "revenue_periodogram"),  # frequency grid
    ("operators/relational.py", "isotonic_calibration"),  # calibration bins
    ("operators/text_analysis.py", "umass_coherence"),   # top-N vocab
    ("operators/text_analysis.py", "bigram_lambda_sweep"),  # lambda grid
    ("operators/sketches.py", "kmv_cardinality_audit"),  # k smallest hashes
    ("operators/sketches.py", "kmv_intersection_audit"),  # k smallest hashes
}


def _global_window_sites():
    """AST scan: every window spec built with no partition columns --
    ``Window.orderBy(...)``, ``Window.rowsBetween(...)``,
    ``Window.rangeBetween(...)`` or ``Window.partitionBy()`` (code, not
    docstrings) -- keyed by (relative file, innermost enclosing
    function)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "simple_vector_spark"
    sites = set()
    for f in sorted(root.rglob("*.py")):
        tree = ast.parse(f.read_text())
        funcs = [
            (n.name, n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def enclosing(line):
            cands = [fn for fn in funcs if fn[1] <= line <= fn[2]]
            if not cands:
                return "<module>"
            return min(cands, key=lambda fn: fn[2] - fn[1])[0]

        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "Window"):
                continue
            attr = node.func.attr
            if attr in ("orderBy", "rowsBetween", "rangeBetween") or (
                attr == "partitionBy" and not node.args and not node.keywords
            ):
                rel = str(f.relative_to(root))
                sites.add((rel, enclosing(node.lineno)))
    return sites


def test_orderby_only_windows_allowlisted():
    """Covers every window with no PARTITION BY, ordered or not."""
    sites = _global_window_sites()
    new = sites - GLOBAL_WINDOW_ALLOWLIST
    stale = GLOBAL_WINDOW_ALLOWLIST - sites
    assert not new, (
        f"NEW unpartitioned window(s) {sorted(new)} — either use the "
        "two-phase helpers in operators/ranking.py or justify the "
        "bounded cardinality and add to the allowlist"
    )
    assert not stale, f"stale allowlist entries: {sorted(stale)}"


def test_abc_xyz_matrix_single_fact_scan(spark, sf_dir):
    """Round 6: both the ABC revenue ranking and the XYZ monthly-CV
    stats must derive from ONE (part, month)-grain aggregate — one
    lineitem FileScan in the whole plan (the checkpointed per-part
    table shows up as ExistingRDD), no second scan, no abc-xyz
    SortMergeJoin, and the month key native (no per-row date_format
    in the scan stage)."""
    plan = plan_of(spark, sf_dir, "parts_abc_xyz_matrix")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) <= 1, f"expected <=1 fact scan, got {len(scans)}"
    assert "ExistingRDD" in plan  # checkpointed part-grain aggregate
    assert "SortMergeJoin" not in plan
    assert "date_format" not in plan
