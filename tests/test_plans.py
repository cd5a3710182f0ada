"""Physical-plan quality gates — the 100 TB design point, asserted.

These tests pin the plan properties that matter at scale: predicate and
projection pushdown into the parquet scan, broadcast (not shuffle) joins
for dimension enrichment, partial aggregation before the exchange, and
whole-stage codegen on the hot paths. A regression here is a performance
bug even while correctness stays green.
"""

from __future__ import annotations

import re

from flink_gmall_spark.plans import ads, dwd, dwm, dws


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_page_views_pushdown(spark, sf_dir):
    plan = plan_of(dwd.page_views(spark, sf_dir))
    # event_type filter reaches the parquet reader...
    assert "PushedFilters: [" in plan and "EqualTo(event_type,view)" in plan, plan
    # ...and the scan reads only the referenced columns, not the table
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "event_type" in scan and "props" in scan


def test_order_wide_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(dwm.order_wide(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_product_stats_partial_aggregation(spark, sf_dir):
    plan = plan_of(dws.product_stats(spark, sf_dir))
    # map-side combine before the shuffle (Flink's incremental ReduceFunction
    # equivalent, SURVEY §4): partial_* functions must appear
    assert "partial_" in plan, plan
    # exact distinct rewrites to the two-level expand/agg, not a global
    # single-node distinct
    assert "Exchange hashpartitioning(l_partkey" in plan, plan


def test_top_brands_is_take_ordered(spark, sf_dir):
    plan = plan_of(ads.top_brands(spark, sf_dir))
    # global ORDER BY + LIMIT must not be a full sort
    assert "TakeOrderedAndProject" in plan, plan


def test_visitor_stats_two_phase_distinct(spark, sf_dir):
    plan = plan_of(dws.visitor_stats(spark, sf_dir))
    # exact UV must be the scale-safe two-phase form: a dedup shuffle keyed
    # by (window, user_id) plus the final windowed agg shuffle on window —
    # never a collect_set that gathers every user of a window on one task
    assert "collect_set" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_sample_stratified_no_shuffle(spark, sf_dir):
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.sample_stratified(spark, sf_dir))
    # pure narrow filter: sampling must never repartition the corpus
    assert "Exchange" not in plan, plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" not in scan, scan  # projection pruned to id/lang/source


def test_pack_chunks_single_window_shuffle(spark, sf_dir):
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.pack_chunks(spark, sf_dir))
    # one exchange for the per-language running-sum window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan, plan


def test_block_topk_is_arrow_pandas(spark, sf_dir):
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.block_topk(spark, sf_dir))
    # the GEMM runs as an Arrow-batched pandas stage, not row-at-a-time
    assert "MapInPandas" in plan, plan
    # shuffle volume is only the local winners: one window exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tfidf_partial_aggregation(spark, sf_dir):
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.tfidf_top_terms(spark, sf_dir))
    assert "partial_" in plan, plan  # map-side combine on tf and df aggs


def test_bucketed_join_no_join_shuffle(spark, sf_dir):
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.bucketed_orders_join(spark, sf_dir))
    # both sides bucketed on the join key: the SMJ gets its partitioning
    # from the file layout — the only exchange is the tiny status rollup
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(o_orderstatus" in plan, plan
    # bucket pruning metadata visible on both scans
    assert plan.count(f"SelectedBucketsCount: {scale.BUCKET_N} out of {scale.BUCKET_N}") == 2, plan


def test_bucketed_postings_serve_no_tok_shuffle(spark, sf_dir):
    """The bulk-query BM25 serve: postings index and query occurrences
    both bucketed on tok — the match SortMergeJoin takes its
    partitioning from the file layout, so NO exchange ever repartitions
    on tok; the only shuffles are the bounded (query, doc) aggregation
    and the per-query rank window."""
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.bucketed_postings_serve(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(tok" not in plan, plan
    assert plan.count(f"SelectedBucketsCount: {scale.BUCKET_N} out of {scale.BUCKET_N}") == 2, plan


def test_bucketed_phrase_serve_leg1_no_tok_shuffle(spark, sf_dir):
    """The bulk-query phrase serve: positional index and query pair
    occurrences both bucketed on the first-word key — leg 1 (the
    fan-out leg) SortMergeJoins from the file layout with NO exchange
    on tok; the remaining exchanges are leg 2's bounded (doc, pos, w2)
    match shuffle and the final aggregation/window."""
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.bucketed_phrase_serve(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(tok" not in plan, plan
    # leg 1's two bucketed scans carry pruning metadata; how many times
    # Catalyst re-scans the index for leg 2 is the planner's business
    # (exchange/scan reuse would legally collapse it), so assert the
    # lower bound only — the property under test is zero tok exchanges
    # above bucket-pruned scans, not the scan count (ADVICE r12).
    assert plan.count(f"SelectedBucketsCount: {scale.BUCKET_N} out of {scale.BUCKET_N}") >= 2, plan


def test_dim_join_degrades_to_smj_without_broadcast(spark, sf_dir):
    """When a dim outgrows the broadcast threshold the same declarative
    plan must degrade to a shuffled join, not fail or collect — the
    dims-stop-fitting-in-memory contingency of SCALE.md §Joins. Simulated
    by disabling auto-broadcast; order_detail_wide carries no broadcast
    hint, so the planner must re-decide from size estimates."""
    df = dwm.order_detail_wide(spark, sf_dir)  # lazy: nothing planned yet
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = plan_of(df)  # physical planning happens here, under -1
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set(key, prev)


def test_repetition_no_shuffle(spark, sf_dir):
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.repetition_scores(spark, sf_dir))
    # tokenize + bigram + distinct-count all inside one projection:
    # a quality-filter pass is a pure scan at any corpus size
    assert "Exchange" not in plan, plan


def test_sliding_windows_expand_then_two_level_distinct(spark, sf_dir):
    plan = plan_of(dws.sliding_visitor_windows(spark, sf_dir))
    # the pane fan-out is an Expand BEFORE any shuffle — never a
    # self-join or N window passes
    assert "Expand" in plan, plan
    # exactly the two exchanges of the exact-distinct rewrite:
    # (window, user) dedup shuffle, then the (window) final rollup
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange hashpartitioning(window" in plan, plan


def test_rare_token_ratio_broadcasts_corpus_counts(spark, sf_dir):
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.rare_token_ratio(spark, sf_dir))
    # vocabulary-sized corpus counts broadcast back to the token stream;
    # the token stream itself shuffles only for the per-doc rollup
    assert "BroadcastHashJoin" in plan, plan


def test_funnel_take_min_not_sort(spark, sf_dir):
    plan = plan_of(ads.conversion_funnel(spark, sf_dir))
    # stage timestamps are conditional mins (partial-aggregated), never a
    # per-user ORDER BY
    assert "partial_min" in plan, plan
    assert "Sort " not in plan.replace("SortMergeJoin", ""), plan


def test_domain_cap_window_group_limit(spark, sf_dir):
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.domain_cap(spark, sf_dir))
    # per-key top-K must push a PARTIAL group limit below the shuffle —
    # a hot domain moves K rows per map task, never the whole domain
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan[plan.index("Exchange") :], plan


def test_chunk_dedup_partial_min_before_shuffle(spark, sf_dir):
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.chunk_dedup(spark, sf_dir))
    # first-occurrence must be an aggregation (partial map-side min), never
    # a window over raw chunk postings — that's what absorbs hot-chunk skew
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_semantic_dedup_broadcast_centroids_equijoin_pairs(spark, sf_dir):
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.semantic_dedup(spark, sf_dir))
    # centroid assignment: the codebook broadcasts (tiny side), the corpus
    # streams — BroadcastNestedLoopJoin is the K x corpus assignment scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # pair generation must be keyed on the cluster id (bounded buckets) —
    # a cartesian over the corpus would be the quadratic anti-pattern
    assert "CartesianProduct" not in plan, plan
    assert "cid" in plan, plan


def test_bpe_pair_counts_take_ordered_over_dictionary(spark, sf_dir):
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.bpe_pair_counts(spark, sf_dir))
    # global top-N plans as per-partition heaps, not a full sort
    assert "TakeOrderedAndProject" in plan, plan
    # both aggregations (word freq, pair count) combine map-side
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_binned_range_join_is_equi_not_nested_loop(spark, sf_dir):
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.binned_range_join(spark, sf_dir))
    # the bin key must turn the range predicate into a hash/merge
    # equi-join; a nested-loop or cartesian is the quadratic anti-pattern
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_partition_pruned_read_static(spark, sf_dir):
    """Static pruning: the literal dt predicate lands in PartitionFilters
    (planning-time directory pruning), NOT in DataFilters — and the scan
    reads only the projected column."""
    from flink_gmall_spark.operators import scale

    df = scale.partition_pruned_read(spark, sf_dir)
    plan = plan_of(df)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "(dt" in scan.split("PartitionFilters:")[1].split("PushedFilters")[0], scan
    assert "DataFilters: []" in scan, scan


def test_dynamic_partition_pruning_injected(spark, sf_dir):
    """DPP: the fact scan's PartitionFilters carry a dynamicpruning#N
    subquery fed by the broadcast dim — runtime directory pruning, the
    star-schema scale mechanism."""
    from flink_gmall_spark.operators import scale

    df = scale.dynamic_partition_pruning(spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan, plan
    fact_scans = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "events_by_dt" in l
    ]
    assert any("dynamicpruning" in l for l in fact_scans), plan


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """The runtime Bloom-filter join must carry might_contain on the
    probe side and bloom_filter_agg on the build side — row-level
    runtime pruning, the non-partitioned complement to DPP."""
    from flink_gmall_spark.operators import scale

    df = scale.runtime_bloom_join(spark, sf_dir)
    plan = plan_of(df)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan or "bloomFilter" in plan, plan


def test_pq_encode_map_only_over_corpus(spark, sf_dir):
    """PQ encode must be a streaming pass: the only exchange is the
    SinglePartition collect of the 16-row codebook; the corpus side is
    scan -> broadcast-cross with the 1-row codebook -> posexplode."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.pq_encode(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "SortMergeJoin" not in plan


def test_pq_adc_lut_broadcast_and_rank_pushdown(spark, sf_dir):
    """ADC scoring joins corpus codes to the broadcast LUT on
    (sub_id, code) — a BroadcastHashJoin, never SMJ — sums subspace
    distances with a map-side partial agg, and the per-query top-k runs
    as WindowGroupLimit (partial rank pushdown), not a full sort."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.pq_adc_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan


def test_intra_doc_dedup_zero_shuffle(spark, sf_dir):
    """Within-doc dedup is embarrassingly parallel: no exchange of any
    kind — one parquet scan plus per-row array expressions."""
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.intra_doc_chunk_dedup(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "FileScan parquet" in plan


def test_collocations_partial_aggs_and_take_ordered(spark, sf_dir):
    """Unigram/bigram tables partial-aggregate before their shuffles and
    the top-N plans as TakeOrderedAndProject, not a global sort."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.collocations_lift(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan or "TakeOrderedAndProject" in plan


def test_hll_sketches_partial_aggregate(spark, sf_dir):
    """Mergeable sketches must combine map-side (partial_hll_sketch_agg)
    and the rollup must merge sketches (hll_union_agg), not rescan rows
    into a fresh sketch."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.hll_union_rollup(spark, sf_dir))
    assert "partial_hll_sketch_agg" in plan, plan
    assert "hll_union_agg" in plan, plan


def test_hashed_classifier_zero_shuffle(spark, sf_dir):
    """Classifier serving is one streaming pass: literal weight vector in
    the expression, no exchange of any kind."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.hashed_classifier_scores(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "FileScan parquet" in plan


def test_props_variant_partial_agg_and_pruned_scan(spark, sf_dir):
    """The variant path parses once and aggregates partial→final; the
    scan reads only (event_type, props)."""
    from flink_gmall_spark.plans import dwd

    plan = plan_of(dwd.props_variant_stats(spark, sf_dir))
    assert "partial_" in plan, plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "props" in scan and "event_type" in scan
    assert "user_id" not in scan  # untouched columns pruned


def test_multimodal_pipeline_semi_join_and_broadcast_centroids(spark, sf_dir):
    """The cross-modal hop is a semi-join on the id (embedding store only
    probed for quality survivors) and the codebook is broadcast; the pair
    join stays keyed on the cluster id (equi, never nested-loop over the
    corpus)."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.multimodal_dedup_pipeline(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the tiny-codebook cross
    # every sort-merge join must be keyed on the cluster id — the corpus
    # itself never cartesians
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert smj and all("cid" in ln for ln in smj), plan


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The engine exposes per-query physical join control: the same
    orders⋈customer equi-join plans as ShuffledHashJoin under a
    SHUFFLE_HASH hint and as SortMergeJoin under MERGE — the escape hatch
    when AQE's choice is wrong for a known workload (e.g. a build side
    that fits memory but exceeds the broadcast threshold)."""
    from flink_gmall_spark.sources import load

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    sh = o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in plan_of(sh), plan_of(sh)
    mg = o.join(c.hint("MERGE"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in plan_of(mg), plan_of(mg)


def test_event_transitions_single_user_window(spark, sf_dir):
    """The lag state machine is ONE window shuffle keyed on the user plus
    the bounded-key transition rollup — never a self-join on adjacency."""
    plan = plan_of(ads.event_transitions(spark, sf_dir))
    assert plan.count("Window ") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_" in plan
    assert "Join" not in plan, plan


def test_pagerank_take_ordered_and_partial_aggs(spark, sf_dir):
    """Unrolled Pregel rounds keep map-side combine on every inflow sum
    and the final top-N plans as TakeOrderedAndProject, not a global
    sort."""
    plan = plan_of(ads.part_pagerank(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_sum" in plan, plan


def test_cohort_retention_no_distinct_expand(spark, sf_dir):
    """(user, day) rows are pre-deduped, so the matrix rollup must be a
    plain count — no distinct-aggregate Expand over the activity set."""
    plan = plan_of(ads.cohort_retention(spark, sf_dir))
    assert "Expand" not in plan, plan
    assert "partial_count" in plan, plan


def test_timed_funnel_partial_min_firsts(spark, sf_dir):
    """First-view timestamps partial-aggregate before the shuffle; the
    time bound rides the user-keyed equi-join, never a cross join."""
    plan = plan_of(ads.timed_funnel(spark, sf_dir))
    assert "partial_min" in plan, plan
    assert "CartesianProduct" not in plan


def test_rfm_approx_histogram_quantile_no_ntile(spark, sf_dir):
    """The production RFM twin must not rank customers: no ntile anywhere,
    buckets come from three histogram cumsums (one window each, riding a
    partial-agg count over the bounded value domain) applied via broadcast
    1-row threshold joins. A fourth window or an ntile here means the
    global-sort shape crept back in."""
    plan = plan_of(ads.rfm_segments_approx(spark, sf_dir))
    assert "ntile" not in plan, plan
    assert plan.count("Window ") == 3, plan
    assert "partial_count" in plan, plan
    # threshold application is broadcast, never a shuffle join
    assert "SortMergeJoin" not in plan, plan
    # the per-customer table materializes ONCE — its five consumers read
    # the checkpoint, not five recomputes of the orders aggregation
    assert "Scan parquet" not in plan, plan


def test_pagerank_deep_lineage_truncated_no_cache_leak(spark, sf_dir):
    """The 10-round persisted loop must hand back a CONSTANT-size plan —
    an eagerly checkpointed 20-row scan, not ten unrolled join rounds —
    and must not leak round caches: only the two localCheckpoint RDDs
    (shared edge list + 20-row result; GC-collected when unreferenced)
    may remain after the call — the ten round vectors must all be
    unpersisted."""
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    plan = plan_of(ads.part_pagerank_deep(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan and "Exchange" not in plan, plan
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before + 2, (before, after)


def test_triangles_checkpointed_edges_no_cartesian(spark, sf_dir):
    """Degree-oriented triangle counting: the edge list materializes ONCE
    (checkpointed scans, not 6 recomputes of the basket self-join —
    measured 22 scans / 45 exchanges without it), wedge closure is an
    equi-join, and the top-N is TakeOrderedAndProject."""
    plan = plan_of(ads.part_triangles(spark, sf_dir))
    assert "Scan parquet" not in plan, plan  # everything reads the checkpoints
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pit_features_carry_windows_no_range_join(spark, sf_dir):
    """The point-in-time join is the union-sort-carry plan: two user-keyed
    windows (cumulate, carry) and zero joins — never a per-order range
    join or re-aggregation."""
    plan = plan_of(ads.pit_feature_join(spark, sf_dir))
    assert plan.count("Window ") == 2, plan
    assert "Join" not in plan, plan
    assert "partial_sum" in plan, plan


def test_weighted_sample_map_only_topk(spark, sf_dir):
    """Priority sampling is one narrow map plus a global top-K: no
    shuffle of the corpus, top-K as TakeOrderedAndProject."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_last_touch_single_window_bounded_rollup(spark, sf_dir):
    """Attribution is ONE per-user carry window plus a bounded-key
    channel rollup — no join back into the event stream."""
    plan = plan_of(ads.last_touch_attribution(spark, sf_dir))
    assert plan.count("Window ") == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_top_event_paths_one_window_take_ordered(spark, sf_dir):
    """Both lags ride a single per-user sort; top-N is
    TakeOrderedAndProject, never a global sort."""
    plan = plan_of(ads.top_event_paths(spark, sf_dir))
    assert plan.count("Window ") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan


def test_negative_samples_broadcast_rank_map_anti_join(spark, sf_dir):
    """Candidate generation is a narrow map; the rank->part mapping and
    the positive-removal are equi-joins with the dim side broadcast —
    never a users-x-parts cartesian."""
    plan = plan_of(ads.negative_samples(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan


def test_sparse_topk_df_prune_before_self_join(spark, sf_dir):
    """The postings self-join must sit ABOVE the df-pruned term table
    (hot terms never reach the join) and the top-N must be
    TakeOrderedAndProject with partial aggregation on the pair scores."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.sparse_topk_pairs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quality_report_single_scan(spark, sf_dir):
    """The whole constraint report folds into one pass: exactly one
    parquet scan of orders, partial aggregation below the exchange."""
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.data_quality_report(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_" in plan, plan


def test_session_transitions_single_user_exchange(spark, sf_dir):
    """All three windows (gap flag, session id, within-session lag) ride
    user-keyed exchanges — no join, bounded-key rollup."""
    plan = plan_of(ads.session_transitions(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_zorder_rollup_partial_agg(spark, sf_dir):
    """The z-order rewrite's verification rollup partial-aggregates over
    the rewritten files (one scan of the clustered store)."""
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.zorder_layout(spark, sf_dir))
    assert "partial_" in plan, plan
    assert plan.count("Scan parquet") == 1, plan  # reads the REWRITE only


def test_join_preflight_partial_aggs_no_output_join(spark, sf_dir):
    """Pre-flight must never materialize the probed join: both sides
    collapse via partial aggregation BEFORE the key join of the two
    count tables, and the final fold is a 1-row aggregate."""
    from flink_gmall_spark.operators import scale

    df = scale.join_preflight(spark, sf_dir)
    plan = plan_of(df)
    assert "partial_count" in plan, plan
    # the join operates on aggregated count tables (post-agg), so the
    # fact columns never pass through the join
    assert "l_extendedprice" not in plan and "o_totalprice" not in plan, plan


def test_bloom_decontaminate_broadcast_probe(spark, sf_dir):
    """The probe side must reach the corpus via a BROADCAST join against
    the <=512-row filter table — a shuffled probe would defeat the whole
    point of the Bloom path."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.decontaminate_bloom(spark, sf_dir))
    # one broadcast probe per hash seed (k=3), never a shuffled probe
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_temperature_window_group_limit(spark, sf_dir):
    """The per-language quota draw pushes its rank filter into the
    shuffle (WindowGroupLimit), and the quota table broadcasts."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.mixture_temperature(spark, sf_dir))
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_filter_funnel_single_scan(spark, sf_dir):
    """The whole funnel ledger folds into one pass over documents."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.filter_funnel(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_" in plan, plan


def test_frequent_terms_broadcast_candidates_take_ordered(spark, sf_dir):
    """Pass 2's exact count joins the exploded corpus against BROADCAST
    candidates; both top-N selections plan as TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.frequent_terms_twopass(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "GlobalSort" not in plan and "\nSort " not in plan, plan


def test_kanon_export_bounded_cell_table(spark, sf_dir):
    """The suppression split runs on the bounded cell table: customer is
    scanned and partial-aggregated; no second customer scan for the
    suppressed fold beyond the cell reuse."""
    from flink_gmall_spark.plans import ads

    plan = plan_of(ads.kanon_export(spark, sf_dir))
    assert "partial_" in plan, plan


def test_cdc_delete_aware_single_merge_window(spark, sf_dir):
    """The retraction fold is ONE row_number merge (single id-keyed
    exchange for the window) feeding a partial-aggregated rollup — no
    join of changelog against itself."""
    from flink_gmall_spark.plans import dwd

    plan = plan_of(dwd.cdc_delete_aware_agg(spark, sf_dir))
    assert plan.count("Window [") == 1, plan
    # the rn=1 filter pushes INTO the shuffle as partial+final group limits
    assert plan.count("WindowGroupLimit") == 2, plan
    assert "partial_" in plan, plan
    assert "Join" not in plan, plan


def test_rolling_activity_daily_agg_before_window(spark, sf_dir):
    """Events partial-aggregate to (user, day) rows BEFORE the range
    window — the window sorts daily rows, never raw events — and the
    plan contains no join (the range-join trap this op exists to
    avoid)."""
    from flink_gmall_spark.plans import ads

    plan = plan_of(ads.rolling_activity_7d(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "Join" not in plan, plan
    # window consumes the aggregated row stream: exactly one scan
    assert plan.count("Scan parquet") == 1, plan


def test_source_overlap_distinct_before_pair_join(spark, sf_dir):
    """The pair join runs on deduped (source, shingle) rows — the
    distinct's aggregate sits below the join, so corpus rows never
    self-join."""
    from flink_gmall_spark.operators import curation

    df = curation.source_overlap_matrix(spark, sf_dir)
    plan = plan_of(df)
    j = plan.index("SortMergeJoin") if "SortMergeJoin" in plan else plan.index("Join")
    assert "HashAggregate" in plan[j:], plan  # dedup below the join


def test_ldiversity_export_bounded_cell_table(spark, sf_dir):
    """Same discipline as the k-anon gate: the diversity rule is computed
    in the SAME partial-aggregated cell pass (count distinct band rides
    the groupBy); the split + suppressed fold never rescan customer rows."""
    from flink_gmall_spark.plans import ads

    plan = plan_of(ads.ldiversity_export(spark, sf_dir))
    assert "partial_" in plan, plan


def test_hard_negatives_broadcast_and_group_limit(spark, sf_dir):
    """Hard-negative mining keeps ann_topk's shape: the query side
    broadcasts (never a corpus-wide shuffle join), the threshold filter
    prunes before ranking, and the per-query TopK pushes down as
    WindowGroupLimit."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.hard_negatives(spark, sf_dir))
    # query side is non-equi (query_id != vec_id) → broadcast NESTED-LOOP
    # with the tiny side as build; the exclusion counter re-joins by key
    assert plan.count("BroadcastNestedLoopJoin BuildLeft") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_hard_negatives_ivf_probe_join_not_corpus_scan(spark, sf_dir):
    """The IVF-served miner (VERDICT r8 ask #2) must generate candidates
    through the probe plan, not a per-query corpus scan: the ONLY
    broadcast nested-loop joins allowed are (a) the tiny centroid
    cross-join of the cell-assignment pass and (b) the brute-force
    recall leg (sampled at scale); the candidate→corpus wiring itself is
    equi-joins (cell id, vec_id, query_id) so the corpus is never
    rescanned per query. TopK still pushes down as WindowGroupLimit."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.hard_negatives_ivf(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the probed-cell bucket join is a broadcast equi-join ON THE CELL ID
    # (tiny probe set as build side) — the signature of the probe plan;
    # a per-query corpus scan would show the corpus under a nested-loop
    # with the query side instead
    assert re.search(r"BroadcastHashJoin \[cid#\d+L\]", plan), plan
    # every nested-loop in the plan is the Cross centroid-assignment
    # broadcast (16 rows) or the brute-force recall leg's query
    # broadcast (8 rows) — never a corpus-side build; the cross shape
    # appears once per recomputed subtree, which is why the count is
    # not pinned
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line or "BuildLeft" in line, line
    assert plan.count("BroadcastHashJoin") >= 4, plan

    # the shared candidate generator alone is fully equi-join shaped
    from flink_gmall_spark.sources import load

    cand = plan_of(
        ann._ivf_probe_candidates(ann._with_norm(load(spark, sf_dir, "embeddings")))
    )
    assert "BroadcastHashJoin" in cand, cand
    assert "SortMergeJoin" not in cand, cand


def test_bpe_greedy_drift_no_join_arrow_batched(spark, sf_dir):
    """Both encoders run over the bounded distinct-word dictionary: the
    greedy matcher is ONE Arrow-batched MapInPandas over that dictionary
    (full-dictionary vocab captured, driver-bounded by construction) and
    the ledger is a single global agg — no join anywhere, so nothing in
    the lazy plan scales with the token stream, only with |dictionary|.
    The public wrapper persists the symbolized dictionary across its two
    consumers, hands back an eagerly checkpointed ONE-ROW scan, and must
    not leak the persist (only the checkpoint RDD may remain)."""
    from flink_gmall_spark.operators import curation
    from flink_gmall_spark.sources import load

    sym = curation._bpe_symbolized_dictionary(
        spark, sf_dir, load(spark, sf_dir, "documents")
    )
    inner = plan_of(curation._greedy_drift_agg(sym, {"ab", "a", "b"}))
    assert "MapInPandas" in inner, inner
    assert "Join" not in inner, inner

    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    outer = plan_of(curation.bpe_greedy_drift(spark, sf_dir))
    assert "Scan ExistingRDD" in outer, outer
    assert "Join" not in outer and "Exchange" not in outer, outer
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before + 1, (before, after)


def test_containment_prefix_equijoin_only(spark, sf_dir):
    """The containment dedup's prefix filter must keep the whole plan
    equi-join shaped: probe prefixes join the shingle index on the
    shingle string, verification joins on doc/shingle keys — no
    nested-loop or cartesian anywhere (an all-pairs containment would
    show one). The canonical prefix ranking is the Window pass."""
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.containment_prefix_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_mrl_truncation_single_pass_topk_pushdown(spark, sf_dir):
    """The matryoshka ledger scores all truncation levels from ONE
    product vector per (query, vector) pair: the only nested-loop is
    the broadcast of the 8-row query side against the corpus (the
    audited ann_topk shape, BuildLeft); per-(query,dim) top-k pushes
    down as WindowGroupLimit so ranking never materializes the full
    scored set; the hits join broadcasts the tiny truth probe."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.mrl_truncation_recall(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildLeft" in line, line


def test_quality_sweep_single_scan(spark, sf_dir):
    """The calibration sweep must price the whole threshold grid from
    ONE corpus scan (conditional aggregates stacked post-agg), not one
    scan per threshold, and the aggregation must partial (map-side
    combine) before the exchange."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.quality_threshold_sweep(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan, plan


def test_span_corruption_map_only(spark, sf_dir):
    """The corruption spec is pure per-row expression math — the plan
    must contain NO exchange at all (zero shuffle, zero join): at scale
    it is a map-only pass over the token split."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.span_corruption_spec(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Scan parquet" in plan and plan.count("Scan parquet") == 1, plan


def test_pq_distortion_broadcast_codebook_single_scan(spark, sf_dir):
    """The distortion ledger rides the encode pass: one corpus scan per
    codebook consumer, the codebook folded to a broadcast single row
    (nested-loop only as the 1-row cross), and a partial aggregation
    before the PQ_M-row exchange."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.pq_distortion_report(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan or "partial" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line or "BuildRight" in line, line


def test_raw_shingles_generate_is_fused(spark, sf_dir):
    """The shingle explode must stay FUSED over the array expression
    (Generate explode(array_distinct(transform(...)))). Materializing
    the array in a separate Project below the Generate measured ~19x
    slower on the sf0.1 shingle scan — a 13x bench regression on
    curation_decontaminate when it briefly shipped that way in round 9."""
    from flink_gmall_spark.operators import dedup
    from flink_gmall_spark.sources import load

    plan = plan_of(dedup.raw_shingles(load(spark, sf_dir, "documents")))
    gen = [l for l in plan.splitlines() if "Generate" in l]
    assert gen and all("array_distinct" in l for l in gen), plan


def test_padding_waste_single_scan_no_join(spark, sf_dir):
    """Per-row integer math + one keyed agg: exactly one parquet scan,
    no join anywhere, partial aggregation before the exchange."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.padding_waste(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_global_shuffle_single_scan_no_join(spark, sf_dir):
    """Seeded-hash sharding is a narrow map + one 16-group aggregation:
    one scan, no join."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.global_shuffle_shards(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_band_tuning_single_sig_join_no_cartesian(spark, sf_dir):
    """All four configs go through ONE stacked self-equi-join keyed on
    (bands, rows_per_band, band, sig) — no per-config plan fan-out and
    no cartesian product; the only nested-loop is the 1-row truth-count
    broadcast."""
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.minhash_band_tuning(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line or "BuildRight" in line, line


def test_chunk_overlap_map_only(spark, sf_dir):
    """The chunk spec is one sequence() explode per doc — NO exchange,
    no join: one scan, map-only."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.chunk_overlap_spec(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_repeat_epochs_single_scan_no_join(spark, sf_dir):
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.repeat_epochs_ledger(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_filtered_ann_no_corpus_shuffle(spark, sf_dir):
    """Brute-force filtered search must keep the ann_topk shape: the
    query side broadcast, no SortMergeJoin, no cartesian product — the
    label predicate narrows the scored set, it must not change the
    join strategy."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.ann_filtered_topk(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_pretrain_build_single_scan_no_join(spark, sf_dir):
    """The capstone build is one corpus scan with NO join anywhere: the
    dedup stage is a window on md5(text), chunking and sharding are
    maps, the ledger one 16-group aggregation."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.pretrain_build(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_classifier_roc_single_scan_no_join(spark, sf_dir):
    """The whole threshold grid rides ONE corpus scan: no join, one
    parquet scan, partial aggregation before the 1-row exchange."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.classifier_roc_sweep(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


# --- round-10 additions -------------------------------------------------------

def test_winnowing_fingerprints_map_only_fused_generate(spark, sf_dir):
    """Winnowed fingerprints are pure per-row array math: the plan must
    be a single scan with ZERO exchange, and the window-min transform +
    distinct must live inside the Generate (the fused-explode shape —
    see shingle_array's measured 19x regression when the exploded array
    is materialized in a Project below the Generate)."""
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.winnowing_fingerprints(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    gen = plan[plan.index("Generate") :].splitlines()[0]
    assert "array_distinct" in gen and "array_min" in gen, gen


def test_winnowing_w_sweep_single_fused_generate(spark, sf_dir):
    """The W-sweep's whole point is ONE hash pass for all widths: every
    per-W window-min transform must live inside a SINGLE fused Generate
    (flatten over the per-W struct arrays), never one explode per W or
    a materialized array Project below the Generate; the pair stage
    stays an equi-join."""
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.winnowing_w_sweep(spark, sf_dir))
    gens = [
        ln for ln in plan.splitlines() if "Generate" in ln and "array_min" in ln
    ]
    assert gens, plan
    for gen in gens:
        # all widths in ONE fused explode: the flatten-of-structs shape,
        # computed inside the Generate (explode over the expression, not
        # over a pre-materialized column)
        assert "explode(flatten(" in gen and "named_struct" in gen, gen
    # the only nested-loop join allowed is the 1-row n_true broadcast
    # cross (the band_tuning shape); pair generation itself must hash
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_winnowing_pairs_equijoin_with_df_cap(spark, sf_dir):
    """Pair generation must be an equi-join on the fingerprint key —
    never a cartesian/nested-loop over docs — with the frequent-
    fingerprint cap applied before the self-join."""
    from flink_gmall_spark.operators import dedup

    plan = plan_of(dedup.winnowing_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # DF cap is the _shingles window idiom: one count-over-Window pass on
    # the fingerprint rows, not a groupBy+join re-evaluating the winnow
    w = plan[plan.index("Window") :].splitlines()[0]
    assert "count(1)" in w, plan


def test_token_diversity_map_only(spark, sf_dir):
    """The per-doc token histogram lives INSIDE the row: one scan, zero
    exchange, zero join — the shape that never shuffles the token
    stream at 100 TB."""
    from flink_gmall_spark.operators import textstats

    plan = plan_of(textstats.token_diversity(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_entropy_terms_no_inferred_generate_filter(spark, sf_dir):
    """The run-length histogram must stay STAGED: one array_sort, one
    zip_with, each in its own projection. A plain explode lets
    InferFiltersFromGenerate add a size(cnts) > 0 guard that predicate
    pushdown inlines through every projection — re-evaluating array_sort
    per lambda element, O(n²) per row (measured: an 8k-type doc went
    161 s; staged, sub-second). explode_outer keeps the rule from
    firing; this pins the plan so a future optimizer or code change
    that reintroduces the inlined copy fails loudly."""
    from flink_gmall_spark.operators import textstats
    from flink_gmall_spark.sources import load

    plan = plan_of(
        textstats.entropy_terms(load(spark, sf_dir, "documents"))
    )
    assert plan.count("array_sort") == 1, plan
    assert plan.count("zip_with") == 1, plan


def test_range_search_broadcasts_query_side(spark, sf_dir):
    """The exact range scan must broadcast the tiny query side against
    ONE corpus scan; the only exchange is the final per-query window
    over the (small) in-radius result."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.range_search(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ivf_range_search_probe_join_not_corpus_scan_per_query(spark, sf_dir):
    """The served path must come from the IVF probe plan: broadcast
    hash joins on the cell/query keys, no per-query corpus nested loop
    beyond the 16-centroid assignment cross."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(ann.ivf_range_search(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_range_exact_counts_sampled_filter_reaches_query_scan(spark, sf_dir):
    """The sampled denominator's whole point is COST: the md5 audit
    predicate must reach the brute-force join's broadcast query side
    (below the join, inside the BroadcastExchange subtree), so unsampled
    queries never multiply against the corpus scan — and the unused rank
    window must be pruned away entirely."""
    from flink_gmall_spark.operators import ann

    plan = plan_of(
        ann.range_exact_counts(spark, sf_dir, exact_sample_hex="400000")
    )
    probe = ann.RANGE_EXACT_SAMPLE_SEED
    assert probe in plan, plan
    # children print AFTER their parent: pushed == the filter text shows
    # up below both the join and the broadcast exchange
    assert plan.index(probe) > plan.index("BroadcastNestedLoopJoin"), plan
    assert plan.index(probe) > plan.index("BroadcastExchange"), plan
    assert "Window" not in plan, plan


def test_importance_resample_serve_is_fold_not_explode(spark, sf_dir):
    """The DSIR serve pass must score each document in ONE in-row JVM
    fold against the broadcast weight array — the only Generate in the
    whole plan is the estimator's token explode, the weight row joins
    broadcast, and nothing sort-merges."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.importance_resample(spark, sf_dir))
    assert plan.count("Generate") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_curriculum_stages_no_global_sort(spark, sf_dir):
    """The distributed-ntile contract: stage assignment must NOT
    global-sort the corpus — no corpus-wide Sort below a single-
    partition Exchange; the only rangepartitioning-free exchanges are
    the bounded score-histogram aggregation and the per-score window."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.curriculum_stages(spark, sf_dir))
    # the tiny cum-boundary window may SinglePartition a <=1001-row side,
    # but the corpus-side window partitions by score, never ntile's
    # global ORDER BY (which would appear as rangepartitioning(score...))
    assert "rangepartitioning" not in plan.lower(), plan


def test_preference_pairs_no_global_sort_broadcast_rank(spark, sf_dir):
    """The distributed-rank contract, per source: no rangepartitioning
    of the corpus (the oracle's textbook row_number would need one),
    histogram/count sides broadcast, pairing as a hash equi-join."""
    from flink_gmall_spark.operators import curation

    plan = plan_of(curation.preference_pairs(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bucketed_prf_and_triplets_serve_share_zero_tok_shuffle(spark, sf_dir):
    """VERDICT r11 ask #4: the bulk-query PRF / triplet miners thread
    the SAME bucketed zero-Exchange match join (_bucketed_bm25_topk) —
    no exchange repartitions tok anywhere in either plan, and the
    bucket-pruned scans are visible."""
    from flink_gmall_spark.operators import scale

    for build in (scale.bucketed_prf_serve, scale.bucketed_triplets_serve):
        plan = plan_of(build(spark, sf_dir))
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning(tok" not in plan, plan
        assert (
            f"SelectedBucketsCount: {scale.BUCKET_N} out of {scale.BUCKET_N}"
            in plan
        ), plan


def test_bucketed_substring_serve_no_gram_shuffle(spark, sf_dir):
    """The bulk exact-substring serve: both legs of the pair join read
    the gram-bucketed postings table — the SortMergeJoin takes its
    partitioning from the file layout, NO exchange on gram; the only
    shuffle left is the (d1, d2, diag) island window (lower-bound scan
    assertion per the ADVICE r12 lesson)."""
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.bucketed_substring_serve(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(gram" not in plan, plan
    assert plan.count(f"SelectedBucketsCount: {scale.BUCKET_N} out of {scale.BUCKET_N}") >= 1, plan


def test_bucketed_sdm_serve_zero_tok_shuffle(spark, sf_dir):
    """VERDICT r13 ask #5: every SDM leg reads a tok-bucketed layout —
    the unigram match join AND the proximity leg-1 join SortMergeJoin
    with NO Exchange on tok anywhere in the plan; the only shuffles
    left are the (doc_id, w2) band join, the bounded aggs, and the
    per-query rank window."""
    from flink_gmall_spark.operators import scale

    plan = plan_of(scale.bucketed_sdm_serve(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(tok" not in plan, plan
    assert (
        f"SelectedBucketsCount: {scale.BUCKET_N} out of {scale.BUCKET_N}"
        in plan
    ), plan
