"""Physical-plan regression tests: the scale properties the engine
promises (SURVEY §4) must be visible in the executed plan, not just
intended.  These lock in:

* broadcast joins for dimension tables (no fact-side shuffle);
* predicate pushdown + column pruning into the parquet scan;
* whole-stage codegen on the hot aggregation path;
* hash-aggregate (not sort-based window) for the as-of join.
"""

from __future__ import annotations

import pytest

from ml_feature_store_enterprise_grade_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _executed_plan(df) -> str:
    # AQE finalizes the physical plan only at execution time — run
    # this DataFrame's own QueryExecution (collect, small at sf0.001)
    # so WholeStageCodegen / join choices are the real ones.
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, name: str) -> str:
    return _executed_plan(registry.queries()[name](spark, SF_SMOKE))


def test_region_revenue_broadcasts_dims(spark):
    plan = plan_of(spark, "region_revenue")
    assert "BroadcastHashJoin" in plan
    # The r_name filter must reach the region scan as a pushed filter.
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # Column pruning: the scan must read only the 7 referenced columns
    # (a scan listing e.g. l_comment would be reading the whole table).
    scan = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in scan and "l_orderkey" not in scan
    assert "*(1)" in plan  # whole-stage-codegen stage marker


def test_enrichment_join_is_broadcast(spark):
    plan = plan_of(spark, "event_customer_enrichment")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_is_hash_agg_not_window_sort(spark):
    plan = plan_of(spark, "pit_asof_join")
    # max_by formulation: partial/final hash aggregate, no WindowExec
    # sorting the joined frame.
    assert "max_by" in plan
    assert "Window" not in plan


def test_online_lookup_no_snapshot_shuffle_join(spark):
    plan = plan_of(spark, "online_feature_lookup")
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", ["user_hourly_features", "user_sliding_features_rollup"])
def test_feature_aggs_are_codegen_hash_aggs(spark, name):
    plan = plan_of(spark, name)
    assert "HashAggregate" in plan
    assert "*(1)" in plan  # whole-stage-codegen stage marker
    # user_id IS NOT NULL must be pushed to the scan.
    assert "IsNotNull(user_id)" in plan.split("PushedFilters")[1][:120]


def test_sliding_rollup_expands_buckets_not_raw_events(spark):
    """The rollup's ×6 explode must run over the pre-aggregated bucket
    frame, not the raw events — i.e. below the Generate node there is
    a full (partial+shuffle+final) aggregate.  Guards the 100× claim
    in feature_agg.user_sliding_features_rollup: 'shuffle raw once +
    shuffle ~#users×#buckets rows', never 'shuffle 6× raw'."""
    plan = plan_of(spark, "user_sliding_features_rollup")
    assert "Generate explode" in plan
    below_generate = plan.split("Generate explode", 1)[1]
    assert "HashAggregate" in below_generate
    assert "Exchange" in below_generate


def test_embedding_neardup_has_no_cartesian(spark):
    """The blocked near-dup (sign-LSH band equi-join + exact verify)
    must never fall back to an all-pairs stage: no CartesianProduct /
    BroadcastNestedLoopJoin anywhere in the executed plan."""
    plan = plan_of(spark, "embedding_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate generator is a real equi-join on (band, key)
    assert "band" in plan and "key" in plan


def test_label_join_is_hash_agg_not_window_sort(spark):
    """Forward label join keeps the as-of join's scale shape: min_by
    two-phase hash aggregate, no window sort of the joined frame."""
    plan = plan_of(spark, "pit_label_join")
    assert "min_by" in plan
    assert "Window" not in plan


def test_target_encoding_broadcasts_category_map(spark):
    """The category map and global mean must broadcast back to the
    fact table — a SortMergeJoin here would shuffle the fact side."""
    plan = plan_of(spark, "target_encoding_loo")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name", ["feature_hash_cross", "dataset_split_assignment"])
def test_hash_projections_have_zero_shuffles(spark, name):
    """Hashing-trick ops are pure map-side projections: any Exchange
    in the plan means a regression introduced a shuffle."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, plan


def test_scalable_binning_no_global_sort(spark):
    """feature_binning_scalable must never regress to the NTILE shape:
    no window operator (= no single-task total sort of the fact
    table); cut points arrive via a broadcast of the one-row frame."""
    plan = plan_of(spark, "feature_binning_scalable")
    assert "Window" not in plan
    assert "ntile(10)" not in plan  # ("percentile(" also contains "ntile(")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_chunking_plan_zero_shuffles(spark):
    """doc_chunking_plan is metadata-only map-side work: scan ->
    arithmetic -> explode.  Any Exchange is a regression."""
    plan = plan_of(spark, "doc_chunking_plan")
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan


def test_zorder_plan_broadcasts_stats(spark):
    """zorder_layout_plan's min/max stats must reach the fact scan as
    a one-row broadcast; the fact table itself is never shuffled or
    sort-merge joined."""
    plan = plan_of(spark, "zorder_layout_plan")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gdpr_audit_broadcasts_deletion_set(spark):
    """The deletion set must probe the fact scan as a broadcast hash
    join — shuffling 100 TB of events to meet a small request table
    would be the wrong plan."""
    plan = plan_of(spark, "gdpr_deletion_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_prune_broadcasts_bucket_table(spark):
    """The bloom bucket table (<= m rows) must reach the fact side as
    a broadcast — never a shuffle of the fact table — and the audit
    query must not fall back to a cartesian stage."""
    from pyspark.sql import functions as F

    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.sketches import bloom_prune

    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    dim = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    pruned = bloom_prune(o, "o_custkey", dim, "c_custkey")
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    audit = plan_of(spark, "bloom_prejoin_prune")
    assert "BroadcastHashJoin" in audit
    assert "CartesianProduct" not in audit


def test_histogram_rollup_windows_are_partitioned(spark):
    """The cumulative-sum window runs per event_type — a plan with an
    unpartitioned window (every row through one task) would be the
    single-partition-sort scale killer this sketch exists to avoid."""
    plan = plan_of(spark, "histogram_quantile_rollup")
    assert "CartesianProduct" not in plan
    # Spark renders an empty partitioning clause as an empty list in
    # the Window operator; the event_type partitioning must be there.
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), f"unpartitioned window in plan:\n{plan}"


def test_kmv_overlap_no_unpartitioned_window_or_cartesian(spark):
    """Both window layers partition: the per-type bottom-k of the
    sketch (which sits below the query's spool, so it is checked on
    ``kmv_sketch`` itself) and the per-pair union re-sketch."""
    import re

    from pyspark.sql import functions as F

    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.sketches import kmv_sketch

    plan = plan_of(spark, "kmv_audience_overlap")
    assert "CartesianProduct" not in plan
    ev = load_table(spark, SF_SMOKE, "events")
    sketch_plan = _executed_plan(
        kmv_sketch(ev, ["event_type"], F.col("user_id").cast("string"))
    )
    for p in (plan, sketch_plan):
        windows = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
        assert windows, f"no window in plan:\n{p}"
        # every window spec carries at least one partition column
        # before the ORDER BY spec (h ASC ...)
        for spec in windows:
            first = spec.split(",")[0].strip()
            assert "ASC" not in first and first, f"unpartitioned window: {spec}"


def test_crossdoc_spans_slim_shuffle_no_joins_on_text(spark):
    """The cross-document span pass must shuffle 60-bit hashes, never
    span text, and must not fall back to any all-pairs stage: spans
    reduce to (h, doc_id, pos) before the window exchange, and the
    only joins are the per-doc left joins on doc_id."""
    plan = plan_of(spark, "dedup_crossdoc_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # span expansion is a Generate (explode), not a self-join
    assert "Generate explode" in plan
    # the election window partitions by the portable hash column
    assert "windowspecdefinition(h" in plan or "windowspecdefinition(h#" in plan.replace(" ", "")


def test_returned_items_revenue_pushdown_and_topk(spark):
    plan = plan_of(spark, "returned_items_revenue")
    # returnflag + date-window predicates must reach the fact scans
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # global top-20 as a heap, not a full sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_large_volume_customers_aggregates_before_join(spark):
    """The HAVING pre-aggregate must run before any join: in the plan
    tree the lineitem-side HashAggregate appears BELOW the first join
    operator (aggregate-then-join, not join-then-aggregate)."""
    plan = plan_of(spark, "large_volume_customers")
    lines = plan.splitlines()
    first_join = next(i for i, l in enumerate(lines) if "Join" in l)
    agg_after_join = [
        l for l in lines[first_join:] if "HashAggregate" in l and "sum" in l
    ]
    assert agg_after_join, "lineitem pre-aggregate must sit under the join"
    assert "CartesianProduct" not in plan


def test_product_type_profit_broadcasts_all_dims(spark):
    plan = plan_of(spark, "product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "StringContains(p_type,ECONO)" in plan


def test_shingle_containment_blocks_via_inverted_lists(spark):
    """Pair expansion must come only from the shingle equi-join —
    never a cartesian — mirroring the dedup_minhash_lsh no-cartesian
    guarantee."""
    plan = plan_of(spark, "shingle_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waiting_supplier_audit_shares_orderkey_shuffle(spark):
    """Q21 shape: the hand-decorrelated EXISTS/NOT-EXISTS pair must
    run as hash aggregates with the supplier dim broadcast — no
    correlated re-scan (no more than the two planned joins of
    lineitem×orders and flags×per-order-agg) and no cartesian."""
    plan = plan_of(spark, "waiting_supplier_audit")
    assert "BroadcastHashJoin" in plan  # supplier side
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # orders' status filter is pushed into its scan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_important_parts_share_total_is_broadcast_scalar(spark):
    """Q11 shape: the global total joins as a broadcast one-row frame
    (BroadcastNestedLoopJoin over a single row is the intended shape
    for a scalar), never a shuffle of the per-part aggregate."""
    plan = plan_of(spark, "important_parts_share")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_min_price_supplier_region_prunes_before_fact_join(spark):
    """Q2 shape: region→nation→supplier reduction broadcasts into the
    lineitem join (no fact-side shuffle for the dimension filter) and
    the best-price pick is a single partitioned window."""
    plan = plan_of(spark, "min_price_supplier_region")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,EUROPE)" in plan
    # rn=1 pick must run with the rank-limit pushdown engaged: each
    # partition keeps only its best row BEFORE the window shuffle
    # (partial WindowGroupLimit), so the exchange carries |parts|
    # rows, not |part×supplier| — the property that matters at 100 TB.
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_retrieval_ranks_after_truncation(spark):
    """BM25 / RRF: shortlists truncate via TakeOrderedAndProject
    BEFORE any rank window — no unpartitioned window over the full
    candidate set."""
    for name in ("bm25_search_topk", "rrf_hybrid_topk"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_brand_bracket_derives_single_side_pushdowns(spark):
    """Q19 shape: Catalyst must push the derived per-side implications
    of the OR-of-conjunctions into BOTH scans — the quantity
    disjunction to lineitem, the brand/size disjunction to part —
    instead of filtering only after the join."""
    plan = plan_of(spark, "brand_bracket_revenue")
    assert "CartesianProduct" not in plan
    # derived lineitem-side bound reaches the scan
    assert "l_quantity,1.0" in plan and "PushedFilters" in plan
    # part side carries its brand/size predicates into the scan
    assert "Brand#12" in plan


def test_zscore_outliers_broadcasts_stats_back(spark):
    """The 5-row per-priority moment table must broadcast back onto
    the fact scan — a SortMergeJoin here would shuffle the whole
    orders table to join 5 rows."""
    plan = plan_of(spark, "order_value_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_codes_broadcasts_dim_stats(spark):
    """embedding_pq_codes: the d-row per-dimension [lo, hi] table is
    broadcast onto the exploded stream; nothing cartesian anywhere."""
    plan = plan_of(spark, "embedding_pq_codes")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_monthly_momentum_windows_run_post_aggregate(spark):
    """The global-ordered windows must consume the ~80-row monthly
    aggregate, never the orders fact table: the plan's windows sit
    above a HashAggregate, and the scan reads only the two referenced
    columns."""
    plan = plan_of(spark, "monthly_revenue_momentum")
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("HashAggregate") > plan.index("Window")  # Window above agg in tree print
    scan = plan.split("ReadSchema")[1][:300]
    assert "o_orderdate" in scan and "o_totalprice" in scan
    assert "o_custkey" not in scan and "o_orderpriority" not in scan


def test_winnowing_has_no_cartesian(spark):
    for name in ("doc_winnowing_fingerprints",):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan


def test_local_supply_share_single_pass(spark):
    """One aggregate computes numerator and denominator (no second
    scan for the total), and nation broadcasts."""
    plan = plan_of(spark, "local_supply_share")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # single aggregation over the joined frame: the orderdate filter
    # is pushed to the orders scan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:400] or "1995-01-01" in plan


def test_locf_interpolation_shares_one_user_shuffle(spark):
    """All three per-user windows (LOCF back, interp forward, spine
    join) run on the same user_id hash partitioning — no global sort
    (rangepartitioning) anywhere, per-user local sorts only."""
    plan = plan_of(spark, "user_value_locf_interpolation")
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_kmeans_assignment_is_map_side(spark):
    """Lloyd assignment is a broadcast-free map-side fold over the
    corpus (centroids are literal arrays): the only join in the final
    plan is the broadcast of the k-row label-mode frame — never a
    shuffle join or cartesian of the corpus."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import _km_fit

    plan = plan_of(spark, "embedding_kmeans")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # The assignment frame the Lloyd fit returns is where the fold
    # lives: a pure map over the corpus, no join or exchange at all.
    assign_plan = _executed_plan(_km_fit(spark, SF_SMOKE)[0])
    assert "Join" not in assign_plan and "Exchange" not in assign_plan
    assert "Project" in assign_plan


def test_benford_audit_broadcasts_group_totals(spark):
    """The fact table collapses in one partial aggregate; the
    group-total join is a broadcast of a handful of rows — no
    shuffle join anywhere."""
    plan = plan_of(spark, "benford_digit_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_autocorrelation_windows_only_daily_frame(spark):
    """The corpus collapses to the (type, day) frame before any
    window runs: per-type stats and the denominator ride broadcast
    joins, and no global sort (rangepartitioning) appears."""
    plan = plan_of(spark, "event_daily_autocorrelation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_kcore_edges_shuffle_once(spark):
    """The symmetric edge list is cached once; every peel round joins
    the broadcast survivor set against it — no per-round shuffle join
    of the edges in the final plan (localCheckpoint truncates rounds,
    so the executed plan only shows the last round's shape)."""
    plan = plan_of(spark, "item_kcore_membership")
    assert "CartesianProduct" not in plan


def test_survival_curve_windows_only_bucket_frame(spark):
    """Sessionization shuffles once on user_id; the KM windows run
    over the bounded duration-bucket frame (a global window over tens
    of rows is fine; what must not appear is a cartesian or a
    shuffle join of the fact side)."""
    plan = plan_of(spark, "session_survival_curve")
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nearest_join_is_single_hash_aggregate(spark):
    """Nearest as-of collapses candidates with one min_by hash
    aggregate per (key, lookup): no window over the joined frame, no
    global sort."""
    plan = plan_of(spark, "pit_nearest_join")
    assert "Window" not in plan
    assert "rangepartitioning" not in plan


def test_srm_audit_broadcasts_everything_small(spark):
    """Assignment is map-side; conversion joins broadcast on the
    entity key; the 3-row arm frame rides broadcast cross joins — no
    shuffle join in the plan."""
    plan = plan_of(spark, "ab_assignment_srm_audit")
    assert "SortMergeJoin" not in plan


# --- round 8 ---------------------------------------------------------


def test_dp_bounding_is_two_hash_aggregates(spark):
    """The bounding audit must be pure hash aggregation — no joins,
    no windows, no exchange beyond the two aggregate shuffles."""
    plan = plan_of(spark, "dp_contribution_bounding")
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_bitext_margin_broadcasts_query_batch(spark):
    """The A×B cosine table must come from a BROADCAST nested-loop of
    the bounded query batch — never a CartesianProduct (the all-pairs
    shape the operator is specifically designed to avoid)."""
    plan = plan_of(spark, "embedding_bitext_margin")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_graph_modularity_no_cartesian_and_broadcast_labels(spark):
    """Labels attach to the edge scan via broadcast; the only
    non-broadcast shuffles are the per-community hash aggregates."""
    plan = plan_of(spark, "graph_modularity")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_audio_energy_stays_arrow_batched(spark):
    """One Python kernel (mapInPandas), no per-row UDF, no joins —
    the decode pipeline is a straight map over payload batches."""
    plan = plan_of(spark, "multimodal_audio_energy")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_anova_single_aggregate_no_cartesian(spark):
    """Group moments reduce the fact table to 3 rows; the only joins
    are 1-row broadcast attachments of the F frame."""
    plan = plan_of(spark, "returnflag_anova_ftest")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan


def test_information_gain_no_wide_joins(spark):
    plan = plan_of(spark, "feature_information_gain")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # stack unpivot must stay map-side: no Python eval anywhere.
    assert "BatchEvalPython" not in plan


def test_skew_audit_is_one_scan(spark):
    """Both watermarks are conditional aggregates in ONE pass — the
    plan must scan events once (plus the 1-row watermark subquery),
    never diff two scans through a join."""
    plan = plan_of(spark, "online_offline_skew_audit")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # exactly the watermark-attach broadcast, no equi-join of scans
    assert "BroadcastHashJoin" not in plan


def test_consistency_audit_all_broadcast_gates(spark):
    plan = plan_of(spark, "cross_table_consistency_audit")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# --- round 9 plan promises -------------------------------------------


def test_mann_whitney_no_cartesian_and_bucketed_windows(spark):
    plan = plan_of(spark, "event_value_mann_whitney")
    assert "CartesianProduct" not in plan
    # the only cross joins are 1-row broadcast stat attachments
    assert "BroadcastNestedLoopJoin" in plan
    # within-bucket prefix windows partition by bucket (a Sort keyed
    # by [b, x] — never a global single-column sort of the values)
    assert "b#" in plan


def test_blocklist_filter_single_scan_no_join(spark):
    plan = plan_of(spark, "doc_blocklist_filter")
    assert "Join" not in plan
    assert "Exchange" in plan  # exactly the per-doc hash aggregate
    # pruning: only the referenced columns reach the scan
    scan = plan.split("ReadSchema")[1][:400]
    assert "n_chars" not in scan


def test_pit_staleness_single_shuffle_runmax_no_join(spark):
    """Round-10 re-plan (VERDICT r9 item 3): the staleness election is
    a per-user running MAX over the merged close/event stream — the
    plan must be entirely JOIN-FREE (the old broadcast as-of form
    fanned out by per-user history length) with exactly one user-keyed
    exchange feeding the window."""
    plan = plan_of(spark, "pit_staleness_audit")
    assert "Join" not in plan
    assert "Window" in plan  # the running-max election
    # one user-keyed shuffle feeds the window (plus the hash-agg
    # exchanges for closes and the per-type summary)
    assert "hashpartitioning(user_id" in plan


def test_knn_label_accuracy_broadcast_not_cartesian(spark):
    plan = plan_of(spark, "embedding_knn_label_accuracy")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan  # neighbor election is max(struct)


def test_llr_margins_reaggregate_not_rescan(spark):
    plan = plan_of(spark, "corpus_bigram_llr")
    # one corpus scan: the bigram table is built once; margins R and C
    # re-aggregate it, so documents.parquet appears in ONE scan node.
    assert plan.count("documents.parquet") <= plan.count("Exchange")
    assert "CartesianProduct" not in plan


# --- round-10 post-seal ops: the scale claims, visible in the plan ---


def test_decay_features_single_user_shuffle(spark):
    """The decay aggregation promises ONE user-keyed shuffle: literal-
    array weight lookup map-side, no joins, no windows.  (AQE's plan
    string can render the same stage twice, so the assertion is that
    every Exchange is the user-keyed one, not the count.)"""
    plan = plan_of(spark, "user_decay_features")
    for line in plan.split("\n"):
        if "Exchange" in line:
            assert "hashpartitioning(user_id" in line
    assert "Join" not in plan and "Window" not in plan


def test_price_dispersion_topk_and_no_joins(spark):
    """Part-keyed aggregate into TakeOrderedAndProject — the audit
    never touches the part dim and never globally sorts."""
    plan = plan_of(spark, "part_price_dispersion_audit")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "GlobalLimit" not in plan or "TakeOrderedAndProject" in plan


def test_bootstrap_explode_pipelines_no_extra_shuffle(spark):
    """The ×B explode must feed the replicate aggregate directly:
    shuffles are the replicate-keyed exchange plus the two 1-row
    stat attachments — never an exchange of the exploded frame
    keyed by anything wider."""
    plan = plan_of(spark, "order_value_bootstrap_ci")
    assert "Generate explode" in plan
    # replicate agg + point-estimate agg + the 100-row window's single
    # partition — bounded small exchanges only; the exploded frame
    # itself is consumed by a partial hash aggregate in the same stage
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row ci attachment
    gen_stage = plan.split("Generate explode")[0]
    # the explode's input is the orders scan, not a shuffled frame
    assert "Exchange" not in gen_stage.split("HashAggregate")[-1]


def test_packing_efficiency_no_global_sort(spark):
    """Prefix sums stay shard-partitioned: the only sort is within
    the shard window, never a global Sort of the doc frame."""
    plan = plan_of(spark, "sequence_packing_efficiency")
    assert "Sort [shard" in plan
    assert "Sort [doc_id" not in plan.replace("Sort [shard", "")


def test_effective_rank_no_vector_shuffle(spark):
    """Everything after the memoized moments is a d²-row fold: the
    plan must not re-shuffle anything keyed by vec_id."""
    plan = plan_of(spark, "embedding_effective_rank")
    assert "vec_id" not in plan.split("HashAggregate")[0]


def test_salted_join_actually_salts(spark):
    """The registered salted join must really run the (key, salt)
    shuffle form — a broadcast of the dim would make the equivalence
    claim vacuous."""
    plan = plan_of(spark, "salted_enrichment_join")
    assert "__salt" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_two_stage_distinct_has_no_expand(spark):
    """The skew-resistant distinct must be the two-shuffle dedup form,
    not Spark's single-stage distinct-aggregate Expand."""
    plan = plan_of(spark, "skew_resilient_distinct_rollup")
    assert "Expand" not in plan
