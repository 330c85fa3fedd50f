"""Dump executed physical plans for the headline queries → PLANS.md,
and flag-audit the executed plans of EVERY registered query.

Each plan is captured AFTER execution (AQE-final: real join
strategies, coalesced partitions, codegen stage markers).  Re-run
after plan-affecting changes: python tools/explain_all.py [sf_dir]

``--audit [sf_dir]`` sweeps the WHOLE registry (not just the PLANS.md
subset) and FLAGS scale anti-patterns instead of merely dumping text
(VERDICT r12 item 4 — ``doc_rake_keyphrases``/``vocab_zipf_fit``
escaped three rounds of grep-based claims because they were not among
the PLANS.md dumps):

- an unpartitioned data-ordered ``WindowExec`` whose input subtree is
  not provably bounded (no TakeOrdered/Limit/scalar-aggregate below
  it, and not the ranking helper's chunk-offsets frame) — the
  single-task global sort class;
- any ``CartesianProduct``;
- any ``BroadcastNestedLoopJoin`` without a bounded frame in its
  subtree (a data-sized broadcast fan-out).

Findings must either be empty or carry a written justification in
``PLAN_AUDIT_ALLOWLIST``; unallowlisted flags exit non-zero so the
seal checklist fails loudly.  Stale allowlist entries (that no longer
fire) are reported so justifications cannot rot.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.session import get_spark

QUERIES = (
    "pricing_summary",
    "region_revenue",
    "top_revenue_orders",
    "event_customer_enrichment",
    "pit_asof_join",
    "latest_feature_snapshot",
    "user_hourly_features",
    "user_sliding_features_rollup",
    "user_rolling_7d_features",
    "drift_ks_click_vs_view",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "embedding_neardup",
    "corpus_contamination",
    "doc_repetition_stats",
    "user_primary_event_type",
    "multimodal_frame_dedup",
    "dedup_clusters",
    "pit_label_join",
    "target_encoding_loo",
    "feature_hash_cross",
    # round 3 additions
    "feature_binning_scalable",
    "training_set_export",
    "gdpr_deletion_audit",
    "user_wow_delta_features",
    "doc_bigram_logprob",
    "inverted_index_postings",
    "doc_chunking_plan",
    "zorder_layout_plan",
    "partition_compaction_plan",
    "vocab_oov_rate",
    "embedding_dim_stats",
    "dedup_rate_by_lang",
    "incremental_feature_update",
    "item_cooccurrence_lift",
    "negative_sample_pairs",
    "weighted_systematic_sample",
    "cdc_merge_upsert",
    "snapshot_diff_audit",
    "stream_sliding_features",
    "embedding_truncation_audit",
    # round 3 continuation: sketches + the new dedup passes
    "kmv_audience_overlap",
    "bloom_prejoin_prune",
    "histogram_quantile_rollup",
    "segment_dedup",
    "semantic_dedup",
    "dedup_crossdoc_spans",
    # round-4 additions
    "crossdoc_span_trim",
    "split_neardup_leakage",
    "user_decay_weighted_features",
    "order_reconciliation_audit",
    "ann_filtered_topk",
    "crossdoc_span_heavy_hitters",
    "embedding_label_confusion",
    "vocab_oov_rate",
    # round 4: TPC-H shapes, governance, containment, and the
    # round-5 trio
    "returned_items_revenue",
    "large_volume_customers",
    "nation_market_share",
    "product_type_profit",
    "k_anonymity_audit",
    "doc_prefix_cluster_stats",
    "shingle_containment_pairs",
    "quality_expectation_suite",
    "dup_cluster_size_histogram",
    "embedding_covariance",
    # round 5
    "customer_order_distribution",
    "waiting_supplier_audit",
    "important_parts_share",
    "min_price_supplier_region",
    "lsh_tuning_report",
    "corpus_ngram_novelty",
    "feature_correlation_matrix",
    "l_diversity_audit",
    "hll_portable_distinct_rollup",
    "revenue_grouping_sets",
    "daily_event_type_pivot",
    "feature_unpivot_long",
    "multimodal_decode_features",
    "multimodal_resize",
    "bm25_search_topk",
    "rrf_hybrid_topk",
    "training_shard_manifest",
    "event_props_variant",
    "pyds_jsonl_roundtrip",
    "item_pagerank",
    # round 7
    "brand_bracket_revenue",
    "local_supply_share",
    "monthly_revenue_momentum",
    "order_value_zscore_outliers",
    "doc_token_entropy",
    "doc_winnowing_fingerprints",
    "embedding_pq_codes",
    "stream_event_type_share",
    "doc_winnowing_matches",
    "user_activity_entropy",
    "acctbal_gini_by_segment",
    "monthly_revenue_gap_fill",
    # round 7b: link prediction (wedge join), HRW sharding (map-side
    # argmax), JL audit (array folds), quantile normalization (NTILE),
    # SAX (bounded windows), segment migration (full outer), BPE
    # (iterative bounded-vocab loop)
    "item_ra_link_prediction",
    "doc_shard_rendezvous",
    "embedding_jl_distortion",
    "event_value_quantile_normalization",
    "daily_revenue_sax",
    "customer_segment_migration",
    "bpe_merge_learning",
    "source_ablation_report",
    "corpus_lexical_drift",
    "embedding_centroid_drift",
    "phrase_search_topdocs",
    "bitemporal_customer_features",
    "doc_language_purity",
    "top_orders_diversified",
    "hard_negative_pairs",
    "dsir_importance_weights",
    "ccnet_perplexity_buckets",
    # round 8: privacy bounding (pure hash aggs), modularity (broadcast
    # labels over cached edges), margin mining (broadcast batch, no
    # all-pairs), audio kernel (MapInPandas, no BatchEvalPython).
    # stream_asof_enrichment is absent by design: its returned frame
    # is a parquet read-back of the foreachBatch sink, so the batch
    # plan here would show only the scan; its PIT semantics are
    # pinned by tests/test_round8_ops.py (never-leaks-open-window +
    # full-coverage) and its per-batch join is an explicit
    # F.broadcast in the foreachBatch body.
    "dp_contribution_bounding",
    "graph_modularity",
    "embedding_bitext_margin",
    "multimodal_audio_energy",
    # round 9: the rank-test pair (bucketed prefix sums, no global
    # sort), VR test (day-frame windows), ARI/silhouette over the
    # memoized Lloyd fit (broadcast-literal distance folds), LLR
    # (vocab-bounded margins re-aggregated, no corpus rescan),
    # blocklist scan (single pass, no join), PIT staleness audit
    # (broadcast as-of + discrete percentiles), 1-NN label agreement
    # (broadcast nested-loop all-pairs baseline, max-struct election).
    "event_value_mann_whitney",
    "event_value_kruskal_wallis",
    "daily_revenue_variance_ratio",
    "embedding_cluster_label_ari",
    "embedding_silhouette",
    "corpus_bigram_llr",
    "doc_blocklist_filter",
    "pit_staleness_audit",
    "embedding_knn_label_accuracy",
    # round 10 additions
    "minhash_jaccard_error_audit",
    "session_gap_sensitivity",
    "dict_encoding_advisor",
    "target_encoding_smoothing_sweep",
    "vocab_coverage_curve",
    "embedding_distance_profile",
    "anonymity_generalization_ladder",
    "event_value_winsorize_sweep",
    "multimodal_audio_silence_runs",
    "cobuy_community_conductance",
    "dedup_method_agreement",
    "rec_novelty_by_rank",
    # round 10 post-seal additions
    "range_partition_balance_plan",
    "part_price_dispersion_audit",
    "embedding_effective_rank",
    "doc_compression_ratio_screen",
    "embedding_pq_adc_recall",
    "user_decay_features",
    "approximate_fd_audit",
    "t_closeness_audit",
    "daily_revenue_forecast_backtest",
    "order_value_bootstrap_ci",
    "sequence_packing_efficiency",
    "skew_resilient_distinct_rollup",
    "salted_enrichment_join",
    "jaccard_prefix_filter_join",
    # round 11 additions: the re-planned NTILE family (audit target:
    # no unpartitioned WindowExec over a data-sized frame) plus one
    # per new operator class.
    "quality_concentration_curve",
    "rfm_segmentation",
    "percentile_rank_features",
    "supplier_acctbal_ntile",
    "acctbal_revenue_spearman",
    "feature_binning_quantile",
    "part_revenue_abc_classes",
    "knn_router_ivf_recall",
    "corpus_token_budget_curriculum",
    "training_shard_cut_plan",
    "dp_histogram_release",
    "order_value_median_ci",
    "order_value_conformal_interval",
    "multimodal_image_edge_density",
    "lm_dirichlet_search_topk",
    "bm25_prf_expansion",
    "event_value_hill_tail_index",
    "cobuy_edge_embeddedness",
    # round 12 additions
    "daily_revenue_theil_sen",
    "order_value_drift_fdr",
    "item_hits_authority",
    "bloom_filter_sizing_advisor",
    "dp_median_release",
    "stream_cusum_drift_monitor",
    "mmr_diversified_topk",
    "shard_reshard_movement_audit",
    # round 13 additions
    "order_value_permutation_test",
    "consistent_sample_bottomk",
    "ranker_rbo_agreement",
    "mixture_temperature_sweep",
    "epoch_shuffle_quality_audit",
    "fellegi_sunter_weights",
    "item_implicit_als_epoch",
    "item_cobuy_jaccard_topk",
    "rec_coverage_gini",
    "stream_bottomk_sample",
)


#: Justified bounded-frame exceptions for the ``--audit`` sweep.
#: Key = query name; value = why the flagged node is NOT a scale
#: hazard (the input frame is bounded by construction, not by data
#: volume).  Every entry must keep firing — stale entries are
#: reported — and every justification names the bound.  First
#: populated from the round-13 full-registry sweep (39 flags → 1
#: real fix, rec_coverage_gini's Gini rank re-planned through
#: ranked(); every other flag adjudicated below).
_CAL_DAY = (
    "window over the daily time-series frame — calendar-bounded "
    "(~2.4k day rows over the fixture's 6.5-year span; bounded by "
    "elapsed time, not data volume)"
)
_CAL_MONTH = (
    "window over the monthly time-series frame — calendar-bounded "
    "(~81 month rows; bounded by elapsed time, not data volume)"
)
_KS_BUCKET = (
    "exclusive prefix sum over the fixed KS bucket census "
    "(<= _KS_BUCKETS rows by construction — the bucketed-prefix "
    "design exists precisely to avoid the value-frame sort)"
)
_PIT_BNLJ = (
    "range-condition as-of join: the broadcast side is the "
    "entity-keyed feature-snapshot frame (dim-bounded); the "
    "operator's documented fact-scale path is the merged-stream "
    "run-max form (operators/asof.py scale notes)"
)
PLAN_AUDIT_ALLOWLIST: dict[str, str] = {
    # --- calendar-bounded time-series frames -----------------------
    "concurrent_sessions_daily": _CAL_DAY,
    "daily_revenue_chow_test": _CAL_DAY,
    "daily_revenue_forecast_backtest": _CAL_DAY,
    "daily_revenue_variance_ratio": _CAL_DAY,
    "range_partition_balance_plan": _CAL_DAY,
    "monthly_revenue_momentum": _CAL_MONTH,
    "revenue_changepoint_scan": _CAL_MONTH,
    "revenue_ewma_trend": _CAL_MONTH,
    "revenue_mann_kendall": _CAL_MONTH
    + "; its BNLJ is the month-frame pair self-join (|months|^2/2 "
    "pairs, calendar-bounded)",
    "revenue_seasonal_decomposition": _CAL_MONTH,
    "revenue_trend_regression": _CAL_MONTH,
    # --- fixed-size census / replicate frames ----------------------
    "drift_ks_click_vs_view": _KS_BUCKET,
    "event_value_mann_whitney": _KS_BUCKET,
    "event_value_kruskal_wallis": _KS_BUCKET,
    "order_value_bootstrap_ci": (
        "window over the B=100 replicate-mean frame (replicate count "
        "is a definition-time constant)"
    ),
    "order_value_drift_fdr": (
        "Benjamini-Hochberg rank over the 25-monitor p-value battery "
        "(monitor count is a definition-time constant)"
    ),
    "part_price_size_skyline": (
        "prefix max over the distinct-price frame — generator-bounded "
        "price grid (~2e5 values at any SF); the docstring documents "
        "the bucketed-prefix swap for fact-scale domains"
    ),
    # --- bounded broadcast sides the static walk cannot prove ------
    "ann_cosine_topk": (
        "BNLJ broadcast side is the fixed query-vector table "
        "(q-bounded literal-derived frame)"
    ),
    # ann_ivf_topk: allowlist entry retired in r14 — the codebook is
    # inlined as a literal struct array, so cell assignment is a
    # map-side fold and the plan no longer contains a BNLJ.
    "ann_probe_recall_curve": (
        "BNLJ broadcast sides are query vectors / centroid tables / "
        "probe-grid rows — all k- or grid-bounded"
    ),
    "knn_router_ivf_recall": (
        "BNLJ broadcast sides are the hash-sampled query set and the "
        "k-bounded centroid table"
    ),
    "embedding_hubness_audit": (
        "BNLJ broadcast side is the centroid/shortlist frame "
        "(k-bounded by the IVF fit)"
    ),
    "embedding_knn_label_accuracy": (
        "BNLJ broadcast side is the k-bounded centroid frame; the "
        "exact small-N baseline is count-routed (catalog.cached_count)"
    ),
    "embedding_label_confusion": (
        "BNLJ broadcast side is the k-bounded centroid frame"
    ),
    "embedding_pq_adc_recall": (
        "BNLJ broadcast side is the PQ codebook (fixed 8x4 levels) "
        "and sampled queries — definition-time-bounded"
    ),
    "dp_median_release": (
        "BNLJ broadcast side is the public candidate grid (fixed "
        "grid size, a definition-time constant)"
    ),
    "kmv_audience_overlap": (
        "BNLJ crosses two k-min-value sketch rows (k-bounded scalar "
        "frames — the sketch property)"
    ),
    "histogram_quantile_rollup": (
        "BNLJ broadcast side is the fixed-bin histogram frame "
        "(bin count is a definition-time constant)"
    ),
    "t_closeness_audit": (
        "BNLJ broadcast side is the overall value-distribution census "
        "(fixed bin count)"
    ),
    "label_horizon_sweep": (
        "BNLJ broadcast side is the horizon grid (definition-time "
        "literal rows)"
    ),
    "rrf_hybrid_topk": (
        "BNLJ fuses two k-row ranked lists (both sides truncated "
        "top-k before the join)"
    ),
    "stream_drift_monitor": (
        "BNLJ broadcast side is the reference-window bucket stats "
        "(fixed bucket count)"
    ),
    "stream_histogram_quantile_monitor": (
        "BNLJ broadcast side is the fixed-bin reference histogram"
    ),
    # --- PIT family ------------------------------------------------
    "pit_asof_join": _PIT_BNLJ,
    "pit_label_join": _PIT_BNLJ,
    "pit_multi_view_join": _PIT_BNLJ,
    "pit_nearest_join": _PIT_BNLJ,
    "training_set_export": _PIT_BNLJ + " (composed PIT export)",
}


def _pos(line: str) -> int:
    """Tree depth of a treeString line = column where the node text
    starts (past the ``:``/``+-`` scaffolding)."""
    return len(line) - len(line.lstrip(" :+-"))


def _strip_initial_plans(plan: str) -> list[str]:
    """Drop AQE's ``== Initial Plan ==`` echo blocks (pre-AQE
    strategies would double-count / false-flag) while keeping final
    plans AND subquery sections."""
    out: list[str] = []
    skip_at: int | None = None
    for line in plan.splitlines():
        if skip_at is not None:
            if line.strip() and _pos(line) <= skip_at:
                skip_at = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_at = _pos(line)
            continue
        out.append(line)
    return out


def _toplevel_bracket_groups(s: str) -> int:
    """Count top-level ``[...]`` groups — ``Window [exprs], [order]``
    (2 = unpartitioned) vs ``Window [exprs], [part], [order]`` (3)."""
    depth = 0
    groups = 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
    return groups


#: Subtree markers that bound the frame feeding a node: a top-k
#: (per-partition heaps), an explicit limit, a scalar aggregate
#: (1 row), or a literal frame (LocalTableScan — driver-side
#: constants, e.g. query-vector tables).  ``_rk_chunk`` marks the
#: ranking helper's chunk-offsets frame (≤ shuffle-partition-count
#: rows by construction).
_BOUNDED_MARKERS = (
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
    "LocalLimit",
    "LocalTableScan",
)
_SCALAR_AGG = re.compile(r"(Hash|SortBased|ObjectHash)Aggregate\(keys=\[\]")


def _subtree(lines: list[str], i: int) -> list[str]:
    p = _pos(lines[i])
    out = []
    for j in range(i + 1, len(lines)):
        if lines[j].strip() and _pos(lines[j]) <= p:
            break
        out.append(lines[j])
    return out


def _subtree_is_bounded(lines: list[str], i: int) -> bool:
    sub = _subtree(lines, i)
    for line in sub:
        if any(m in line for m in _BOUNDED_MARKERS) or _SCALAR_AGG.search(
            line
        ):
            return True
    return False


def audit_plan(plan: str) -> list[str]:
    """Flag scale anti-patterns in one executed-plan treeString."""
    lines = _strip_initial_plans(plan)
    flags: list[str] = []
    for i, line in enumerate(lines):
        # Strip tree scaffolding AND the whole-stage-codegen ``*(n)``
        # marker — codegen-capable nodes (BNLJ among them) print as
        # ``*(14) BroadcastNestedLoopJoin ...``.
        text = re.sub(r"^\*\(\d+\) ", "", line.strip(" :+-"))
        if text.startswith("CartesianProduct"):
            flags.append("CartesianProduct")
        elif text.startswith("BroadcastNestedLoopJoin"):
            # Only the BUILD (broadcast) side must be bounded — the
            # stream side is data-sized by design.  Direct children
            # sit exactly one indent level (3 cols) below; BuildRight
            # means the build side is the LAST direct child,
            # BuildLeft the first.  Fall back to the whole subtree if
            # the tree shape doesn't parse (defensive: never crash
            # the audit on an unexpected toString form).
            p = _pos(line)
            sub = _subtree(lines, i)
            kids = [j for j, l in enumerate(sub)
                    if l.strip() and _pos(l) == p + 3]
            if len(kids) >= 2:
                j = kids[-1] if "BuildRight" in text else kids[0]
                bsub = [sub[j]] + _subtree(sub, j)
            else:
                bsub = sub
            bounded = any(
                any(m in x for m in _BOUNDED_MARKERS)
                or _SCALAR_AGG.search(x)
                # A reused broadcast was audited at its original site.
                or x.strip(" :+-").startswith("ReusedExchange")
                for x in bsub
            )
            if not bounded:
                flags.append("unbounded BroadcastNestedLoopJoin")
        elif text.startswith("Window ") or text.startswith(
            "WindowGroupLimit "
        ):
            if text.startswith("Window "):
                # WindowExec prints ``[exprs], [part], [order]``; the
                # partition spec is elided when empty, so 2 top-level
                # groups means EITHER unpartitioned+ordered (the
                # single-task global sort — flag) OR
                # partitioned+unordered (a keyed shuffle — fine).
                # Only an order spec carries sort directions.
                groups = _toplevel_bracket_groups(text)
                last = text[text.rindex("["):]
                ordered = " ASC" in last or " DESC" in last
                unpartitioned = groups == 2 and ordered
            else:
                # WindowGroupLimit prints [part], [order], fn, k —
                # unpartitioned form has an empty first group.
                unpartitioned = text.startswith("WindowGroupLimit [],")
            if not unpartitioned:
                continue
            if "_rk_chunk" in text:
                continue  # ranking-helper offsets frame, bounded
            if not _subtree_is_bounded(lines, i):
                flags.append(f"unpartitioned ordered Window: {text[:120]}")
    return flags


def run_audit(sf_dir: str) -> int:
    spark = get_spark("plan_audit", cpus=8)
    registry.load_all()
    qs = registry.queries()
    flagged: dict[str, list[str]] = {}
    failed: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — report, don't abort sweep
            failed[name] = repr(e)[:200]
            continue
        flags = audit_plan(plan)
        if flags:
            flagged[name] = flags
    spark.stop()
    bad = {n: f for n, f in flagged.items() if n not in PLAN_AUDIT_ALLOWLIST}
    stale = [n for n in PLAN_AUDIT_ALLOWLIST if n not in flagged]
    print(f"# audited {len(qs)} queries at {sf_dir}")
    for n, f in sorted(flagged.items()):
        tag = "ALLOWED" if n in PLAN_AUDIT_ALLOWLIST else "FLAG"
        for msg in f:
            print(f"{tag}  {n}: {msg}")
        if n in PLAN_AUDIT_ALLOWLIST:
            print(f"        justification: {PLAN_AUDIT_ALLOWLIST[n]}")
    for n, e in sorted(failed.items()):
        print(f"ERROR  {n}: {e}")
    if stale:
        print(f"STALE allowlist entries (no longer fire): {stale}")
    print(
        f"# {len(flagged)} flagged ({len(bad)} unallowlisted), "
        f"{len(failed)} errored, {len(stale)} stale allowlist entries"
    )
    return 1 if bad or failed else 0


def main() -> None:
    if "--audit" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--audit"]
        sf_dir = args[0] if args else "/root/testdata/sf0.001"
        raise SystemExit(run_audit(sf_dir))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain_all", cpus=8)
    qs = registry.queries()
    out = [
        "# PLANS — executed physical plans (AQE-final) at "
        f"`{sf_dir}`\n\nGenerated by `tools/explain_all.py`; plans show the join "
        "strategies, pushed filters, pruned read schemas, and `*(n)` "
        "whole-stage-codegen stages the engine's scale claims rest on.\n"
    ]
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Keep the final plan section only (drop AQE's initial-plan echo).
        plan = plan.split("+- == Initial Plan ==")[0].rstrip()
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
