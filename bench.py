"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Stdout contract (the driver keeps only the LAST ~2000 BYTES of
stdout and parses the LAST line — the per-query name→value maps
outgrew that tail in rounds 4-5 and 9, so the full maps scroll off
by design and the numbers that must SURVIVE the tail ride as compact
millisecond vectors; VERDICT r9 item 5):

    early:    {"detail": ..., "queries_median": {...}} and
              {"detail": ..., "queries": {...}} — full name→value
              maps for humans; NOT expected to survive the tail.
              The same data is also written to BENCH_DETAIL.json.
    line n-2: {"d":"min_ms","h":<sha256[:8] of the comma-joined
              query names>,"v":[...]} — per-query MIN wall-clock in
              integer ms, one entry per BENCH_QUERIES in order.
    line n-1: {"d":"median_ms","h":...,"v":[...]} — same for medians.

              DECODING (for a reader with only the stdout tail):
              v[i] belongs to the i-th name in the committed
              BENCH_DETAIL.json's "queries" map (its insertion order
              IS BENCH_QUERIES order); verify the pairing with
              hashlib.sha256(",".join(names).encode()).hexdigest()[:8]
              == h.  These two lines are emitted IMMEDIATELY before
              the final metric line so all three always survive the
              ~2000-byte tail together (VERDICT r13 item 7).
    line n:   {"metric": ..., "value": <total sec>, "unit": "sec",
               "n_queries": N, "passes_completed": P, "sf": ...,
               "calibration_batch_sec": B, "calibration_stream_sec": S}

The two calibration numbers come from FROZEN code run before any
measurement (see ``_calibrate``): box-load denominators that let a
reader normalize round-over-round trends on a shared box (VERDICT
r12 item 3).  Streaming queries take a third timing sample for the
same reason.

Each query is timed end-to-end (plan + execute + noop-sink action
that materializes every row) after a warm-up pass primes the JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.session import get_spark

#: Headline set: one representative per operator class — feature
#: aggregation (tumbling/sliding/rolling), relational joins + top-k,
#: point-in-time retrieval, drift, dedup, similarity, sessionization,
#: streaming replay.
BENCH_QUERIES = (
    "user_hourly_features",
    "user_sliding_features",
    "user_sliding_features_rollup",
    "user_rolling_7d_features",
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "event_customer_enrichment",
    "pit_asof_join",
    "pit_label_join",
    "target_encoding_loo",
    "latest_feature_snapshot",
    "drift_ks_click_vs_view",
    "drift_report_multi_feature",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # similarity scale path: IVF probe search.  embedding_neardup is
    # deliberately absent: at its demo threshold (0.4, chosen so the
    # synthetic corpus yields pairs) sign-LSH blocking passes ~all
    # pairs by construction — its plan shape is asserted in
    # tests/test_plans.py and its recall measured in
    # tests/test_vector_index.py.
    "ann_ivf_topk",
    "dedup_clusters",
    "session_windows",
    "event_value_percentiles",
    "stream_hourly_features",
    "doc_repetition_stats",
    "corpus_contamination",
    "user_primary_event_type",
    "dedup_incremental",
    "sequence_packing_plan",
    "embedding_quantization_error",
    "pit_multi_view_join",
    "stream_online_materialize",
    "doc_unigram_logprob",
    # round 3 additions: full training-set export (the composed PIT
    # flagship), bigram LM scoring, layout planning, streaming top-k.
    "training_set_export",
    "doc_bigram_logprob",
    "zorder_layout_plan",
    "stream_topk_heavy_hitters",
    "incremental_feature_update",
    "item_cooccurrence_lift",
    # round 3 continuation: the mergeable-sketch / pre-join-pruning
    # family (operators/sketches.py).
    "kmv_audience_overlap",
    "bloom_prejoin_prune",
    "histogram_quantile_rollup",
    # sub-document and semantic dedup passes.
    "segment_dedup",
    "semantic_dedup",
    "dedup_crossdoc_spans",
    # round 4 additions: the optimizer-stressing TPC-H shapes and the
    # capped inverted-list containment pass.
    "returned_items_revenue",
    "large_volume_customers",
    "product_type_profit",
    "shingle_containment_pairs",
    # round 5 additions: the promoted governance/sketch/streaming
    # queries plus the window-over-aggregate TPC-H shape, so every new
    # operator class carries a tracked number.
    "dup_cluster_size_histogram",
    "embedding_covariance",
    "countmin_heavy_hitters",
    "stream_quality_monitor",
    "k_anonymity_audit",
    "nation_market_share",
    "waiting_supplier_audit",
    "customer_order_distribution",
    "min_price_supplier_region",
    "lsh_tuning_report",
    "corpus_ngram_novelty",
    "multimodal_decode_features",
    "bm25_search_topk",
    "rrf_hybrid_topk",
    "hll_portable_distinct_rollup",
    "stream_distinct_sketch",
    "item_pagerank",
    # round 7
    "local_supply_share",
    "doc_token_entropy",
    "doc_winnowing_fingerprints",
    "embedding_pq_codes",
    # round 7 continuation — the iterative/graph/text additions, so
    # every new operator class carries a tracked number.
    "item_kcore_membership",
    "embedding_top_eigenvector",
    "session_survival_curve",
    "concurrent_sessions_daily",
    "doc_rake_keyphrases",
    # round 7b — one representative per new class: link prediction
    # (wedge join), JL projection (map-side fold), outer stream-stream
    # join (watermark state eviction), iterative BPE training,
    # bitemporal PIT, DSIR data selection.
    "item_ra_link_prediction",
    "embedding_jl_distortion",
    "stream_stream_left_outer_join",
    "bpe_merge_learning",
    "bitemporal_customer_features",
    "dsir_importance_weights",
    # round 8 — one representative per new class: privacy-bounded
    # aggregation, community quality over the memoized LPA labels,
    # broadcast margin mining, streaming PIT enrichment, and the
    # audio mapInPandas kernel.
    "dp_contribution_bounding",
    "graph_modularity",
    "embedding_bitext_margin",
    "stream_asof_enrichment",
    "multimodal_audio_energy",
    # round 8b (promoted to the driver window in round 9):
    # classical-test battery completion, supervised feature
    # relevance, the two feature-store/dbt audits.
    "returnflag_anova_ftest",
    "feature_information_gain",
    "online_offline_skew_audit",
    "cross_table_consistency_audit",
    # round 9 — one representative per new class: rank-based
    # two-sample testing (bucketed rank prefix sums), variance-ratio
    # horizon analysis, external cluster validity over the memoized
    # Lloyd fit, Dunning-LLR collocation mining, the wordlist safety
    # scan, and the PIT staleness audit (broadcast as-of + discrete
    # percentiles).
    "event_value_mann_whitney",
    "daily_revenue_variance_ratio",
    "embedding_cluster_label_ari",
    "corpus_bigram_llr",
    "doc_blocklist_filter",
    "pit_staleness_audit",
    # round 9b: k-group rank
    # test (shared rank machinery), internal cluster validity,
    # 1-NN label noise probe (broadcast NLJ all-pairs), calibration
    # ECE, recsys aggregate diversity, Simpson aggregation-bias
    # audit, image decode + byte-entropy kernel.
    "event_value_kruskal_wallis",
    "embedding_silhouette",
    "embedding_knn_label_accuracy",
    "purchase_propensity_calibration",
    "rec_coverage_gini",
    "discount_simpson_paradox_audit",
    "multimodal_image_entropy",
    # round-10 additions: the MinHash calibration audit (exercises the
    # shingle self-join + banded candidate machinery end-to-end), the
    # three design-curve/advisor ops, and the vocab curve.
    "minhash_jaccard_error_audit",
    "session_gap_sensitivity",
    "vocab_coverage_curve",
    "dict_encoding_advisor",
    "target_encoding_smoothing_sweep",
    # round-10 post-seal batch: the range-partitioner boundary table
    # (metadata-scale layout planning), the cross-supplier pricing
    # audit (single part-keyed shuffle over lineitem), and the
    # real-codec zlib screen (Arrow-batched mapInPandas over the full
    # text corpus — the first benched Python-kernel TEXT pass).
    # embedding_effective_rank is deliberately absent: it rides the
    # memoized scatter moments already tracked via
    # embedding_covariance, so its marginal cost is a d²-row fold.
    "range_partition_balance_plan",
    "part_price_dispersion_audit",
    "doc_compression_ratio_screen",
    # round-11 additions (VERDICT r10 item 5): one representative per
    # round-10 post-seal family that had no bench row yet — the
    # lossless prefix-filter similarity join, exponential-decay
    # features (single-shuffle weighted folds), the Poisson bootstrap
    # CI, the rolling-origin forecast backtest, and the bounded-state
    # streaming histogram-quantile monitor.
    "jaccard_prefix_filter_join",
    "user_decay_features",
    "order_value_bootstrap_ci",
    "daily_revenue_forecast_backtest",
    "stream_histogram_quantile_monitor",
    # round-11 additions — one representative per new class: the
    # scalable exact-rank/cumsum machinery (curriculum rides
    # running_totals over the scored-doc frame), conformal intervals,
    # the DP release mechanism, the positional image kernel, the
    # second IR scorer, the EVT tail estimator, and the streaming
    # conformal monitor.  order_value_median_ci rides the same
    # ranked() machinery the curriculum already tracks; knn_router_
    # ivf_recall shares the ann_ivf_topk index path — both stay out.
    "corpus_token_budget_curriculum",
    "order_value_conformal_interval",
    "dp_histogram_release",
    "multimodal_image_edge_density",
    "lm_dirichlet_search_topk",
    "event_value_hill_tail_index",
    "stream_conformal_coverage_monitor",
    # round-12 additions (VERDICT r11 item 6): the r12-queue families
    # that had no bench row — PRF query expansion (second pass over
    # the BM25 scored relation), edge embeddedness (wedge-join
    # neighborhood intersection), the filter-orthogonality audit
    # (three ranked() passes over the memoized unigram census), the
    # exact median order-statistic CI, the token-budget shard cutter,
    # and the streaming DP release (watermark-finalized noise).
    "bm25_prf_expansion",
    "cobuy_edge_embeddedness",
    "quality_filter_agreement",
    "order_value_median_ci",
    "training_shard_cut_plan",
    "stream_dp_histogram_release",
    # round-12 new operators (r13 driver queue) — one representative
    # per new class: pairwise-slope robust trend (ranked() over the
    # |days|²/2 pair frame), the FDR-adjusted KS battery (bucketed
    # per-key ECDF), bipartite HITS (12 iterative joins), the
    # exponential-mechanism DP release, exact-NDV bloom sizing, and
    # the streaming CUSUM monitor.
    "daily_revenue_theil_sen",
    "order_value_drift_fdr",
    "item_hits_authority",
    "dp_median_release",
    "bloom_filter_sizing_advisor",
    "stream_cusum_drift_monitor",
    # MMR diversified retrieval (bounded greedy over the broadcast
    # shortlist — tracks the 4-step iterative join machinery).
    "mmr_diversified_topk",
    # reshard-movement audit (map-side multi-hash, single aggregate).
    "shard_reshard_movement_audit",
    # round 13 additions: one per new operator family (randomization
    # inference, consistent sampling, IR-eval, mixture planning,
    # shuffle audit, record linkage, matrix factorization, item CF).
    "order_value_permutation_test",
    "consistent_sample_bottomk",
    "ranker_rbo_agreement",
    "mixture_temperature_sweep",
    "epoch_shuffle_quality_audit",
    "fellegi_sunter_weights",
    "item_implicit_als_epoch",
    "item_cobuy_jaccard_topk",
    "stream_bottomk_sample",
)


def _calibrate(spark, sf_dir: str) -> tuple[float, float]:
    """Fixed box-load denominators (VERDICT r12 item 3): one frozen
    batch aggregate and one frozen streaming micro-batch, run FIRST
    every bench session and recorded in BENCH_rN / BENCH_DETAIL.

    The code here must NEVER change (it is the ruler, not the
    subject): r12's +22% common-query headline was verified to be
    shared-box headwind via a manual A/B of the r11 commit — these
    two numbers make that normalization possible from the artifacts
    alone.  Batch calibrates scan+shuffle+codegen throughput;
    streaming calibrates micro-batch machinery + state-store commit
    cost, the component observed to swing up to 10x on this box.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.avg("l_extendedprice").alias("ap"),
            F.count("*").alias("n"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    cal_batch = round(time.perf_counter() - t0, 3)

    tmp = tempfile.mkdtemp(prefix="bench_calibration_")
    try:
        # The file stream source needs a DIRECTORY; stage the events
        # file into the temp dir (untimed — filesystem copy noise is
        # not what this ruler measures).
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)
        shutil.copy(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
        schema = spark.read.parquet(src_dir).schema
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            # fixture ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "15 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        )
        (
            stream.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        cal_stream = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return cal_batch, cal_stream


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    qs = registry.queries()

    # Warm up: JIT-compile the query paths once at the smallest SF so
    # measurements reflect steady-state execution, not first-call
    # codegen/classloading (the first query otherwise absorbs ~2s of
    # one-time JVM cost).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        warm_failed = []
        for name in BENCH_QUERIES:
            try:
                qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                warm_failed.append(name)
                msg = " ".join(str(e).split())[:200]
                print(f"warm-up failed: {name}: {type(e).__name__}: {msg}", file=sys.stderr)
        if warm_failed:
            print(
                f"warm-up: {len(warm_failed)}/{len(BENCH_QUERIES)} queries failed: "
                + ", ".join(warm_failed),
                file=sys.stderr,
            )
    else:
        spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Box-load calibration FIRST (frozen code — see _calibrate).
    try:
        cal_batch, cal_stream = _calibrate(spark, sf_dir)
    except Exception:
        cal_batch = cal_stream = -1.0  # never let the ruler kill the bench

    # Per-query MIN over two passes: single-shot times on a shared
    # box swing +-40% with co-tenant noise (observed on untouched
    # queries run-to-run); the min is the reproducible cost of the
    # plan, which is what the trend line should track.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    samples: dict[str, list[float]] = {}
    t_start = time.perf_counter()
    for p in range(n_passes):
        # keep total wall bounded at bigger SFs: re-pass only while cheap
        # (budget raised 120->200 in round 7 at 72 queries / ~120 s per
        # pass, and 200->340 in round 10 at 108 queries: a cold pass 1
        # under residual box load measured 206 s, tipping over the old
        # budget and silently degrading the trend line to single-sample
        # "mins" — min-of-2 is what keeps it reproducible, so the
        # second pass must survive; raised 340->560 in round 12 at 126
        # queries (cold pass 394 s) and 560->640 in round 13 at 143
        # queries: +9 round-13 families, two of which (FS linkage,
        # stream bottom-k) carry LSH/micro-batch machinery)
        if p > 0 and time.perf_counter() - t_start > 640:
            break
        for name in BENCH_QUERIES:
            fn = qs[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # Materialize every output row without driver-side transfer.
            df.write.format("noop").mode("overwrite").save()
            samples.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )

    # Streaming queries get a THIRD sample (VERDICT r12 item 3):
    # micro-batch state-commit cost is the component observed to
    # swing up to 10x run-to-run on this box, so min-of-2 is not
    # enough to pin their floor.  Budget-guarded like pass 2.
    if time.perf_counter() - t_start < 780:
        for name in BENCH_QUERIES:
            if not name.startswith("stream_") or len(samples.get(name, [])) < 2:
                continue
            fn = qs[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.perf_counter() - t0, 3))

    timings = {n: min(s) for n, s in samples.items()}
    # Median alongside min: warm-cache flattery can mask a regression
    # in the min; the median keeps the trend line honest.  The median
    # detail goes on its OWN stdout line (with per-query sample counts
    # so a one-sample "median" is distinguishable from a real one);
    # the final line stays compact and contract-shaped — in round 4 a
    # single combined line outgrew the driver's stdout tail and broke
    # its parse, so the parseable summary must come LAST and stay small.
    medians = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    counts = {n: len(s) for n, s in samples.items()}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(
        json.dumps(
            {
                "detail": "per-query medians and sample counts",
                "value_median": round(sum(medians.values()), 3),
                "queries_median": medians,
                "samples": counts,
                "sf": sf_val,
            }
        )
    )
    print(
        json.dumps(
            {
                "detail": "per-query mins (the headline components)",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    # Full per-query detail as a FILE too: the stdout tail is 2000
    # bytes, the name→value maps above are ~4x that, so the on-disk
    # copy is what a human (or the judge) diffs round-over-round.
    import hashlib

    names = list(timings)
    names_h = hashlib.sha256(",".join(names).encode()).hexdigest()[:8]
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            json.dump(
                {
                    "sf": sf_val,
                    "names_sha256_8": names_h,
                    "calibration_batch_sec": cal_batch,
                    "calibration_stream_sec": cal_stream,
                    "mins_sec": timings,
                    "medians_sec": medians,
                    "samples": counts,
                },
                fh,
                indent=1,
            )
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout vectors still carry the data
    # Compact vectors sized to SURVIVE the 2000-byte tail: integer
    # milliseconds, one entry per BENCH_QUERIES in order, with a short
    # hash of the name list so a reader can pin the order to the
    # committed BENCH_QUERIES tuple.  ~6 bytes/query keeps both
    # vectors + the summary under the tail at 150+ queries; if the
    # set ever outgrows that, drop the median vector first (the min
    # is the trend line).
    min_vec = json.dumps(
        {"d": "min_ms", "h": names_h,
         "v": [int(round(timings[n] * 1000)) for n in names]},
        separators=(",", ":"),
    )
    med_vec = json.dumps(
        {"d": "median_ms", "h": names_h,
         "v": [int(round(medians[n] * 1000)) for n in names]},
        separators=(",", ":"),
    )
    if len(min_vec) + len(med_vec) < 1700:
        print(med_vec)
    print(min_vec)
    # The LAST stdout line is the machine contract: the driver tails
    # stdout, so this line must stay small (<250 bytes — the full
    # per-query maps live on the lines above).  Broke in r4 AND r5
    # when the 63-query map rode along; never put a per-query map here.
    # If the line somehow outgrows the limit, degrade to the minimal
    # required fields rather than crashing AFTER all measurement work
    # is done (an assert here would discard the whole run).
    payload = {
        "metric": "engine headline queries wall-clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "passes_completed": min(counts.values()),
        "sf": sf_val,
        # Frozen-code box-load denominators (VERDICT r12 item 3):
        # divide a round's totals by these before reading a trend.
        "calibration_batch_sec": cal_batch,
        "calibration_stream_sec": cal_stream,
    }
    line = json.dumps(payload)
    if len(line) >= 250:
        line = json.dumps(
            {k: payload[k] for k in ("metric", "value", "unit", "sf")}
        )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
