"""Semantic invariants for the round-10 operator batch (session-gap
sensitivity sweep, MinHash calibration audit, vocab coverage curve,
dictionary-encoding advisor, target-encoding smoothing sweep) plus
the re-planned staleness audit.  Oracle parity certifies VALUES;
these pin the properties parity can't state: monotonicity of the
design curves, exact Python/NumPy twins for the estimators, and the
staleness re-plan's equivalence to the naive join on a bounded
sample.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.catalog import load_table
from tests.conftest import SF_SMOKE

_Q = registry.queries()


# --- session_gap_sensitivity ------------------------------------------


def test_gap_sweep_monotone_and_consistent(spark):
    rows = sorted(
        _Q["session_gap_sensitivity"](spark, SF_SMOKE).collect(),
        key=lambda r: r.gap_threshold_s,
    )
    assert [r.gap_threshold_s for r in rows] == [300, 1800, 3600, 21600]
    n_events = rows[0].n_events
    prev = None
    for r in rows:
        assert r.n_events == n_events
        assert 1 <= r.n_sessions <= n_events
        # a longer gap can only merge sessions, never split them
        if prev is not None:
            assert r.n_sessions <= prev.n_sessions
            assert r.events_per_session >= prev.events_per_session
            assert r.broken_gap_share <= prev.broken_gap_share
        prev = r


def test_gap_sweep_matches_python_sessionizer(spark):
    """n_sessions at each threshold must equal an actual O(n log n)
    Python sessionization of the same events."""
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id")
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    got = {
        r.gap_threshold_s: r.n_sessions
        for r in _Q["session_gap_sensitivity"](spark, SF_SMOKE).collect()
    }
    for thr, expect in got.items():
        n_sessions = 0
        for evs in by_user.values():
            evs.sort()
            n_sessions += 1
            for (a, _), (b, _) in zip(evs, evs[1:]):
                if (b - a).total_seconds() > thr:
                    n_sessions += 1
        assert n_sessions == expect, f"threshold {thr}"


# --- minhash_jaccard_error_audit ---------------------------------------


def test_minhash_audit_buckets_are_calibrated(spark):
    rows = _Q["minhash_jaccard_error_audit"](spark, SF_SMOKE).collect()
    assert rows, "LSH produced candidate pairs"
    for r in rows:
        assert 0 <= r.est_decile <= 9
        assert 0.0 <= r.mean_exact_jaccard <= 1.0
        assert 0.0 <= r.mean_abs_err <= 1.0
        assert r.mean_abs_err <= r.max_abs_err + 1e-9
        assert 0.0 <= r.true_dup_share <= 1.0
    # calibration: a high-estimate bucket must hold genuinely
    # more-similar pairs than a far-below one (adjacent deciles CAN
    # invert — K=8 sketch noise is ±1 slot ≈ 1.25 deciles — so the
    # check only bites when buckets are ≥3 deciles apart)
    by = {r.est_decile: r for r in rows}
    lo, hi = min(by), max(by)
    if hi - lo >= 3:
        assert by[hi].mean_exact_jaccard > by[lo].mean_exact_jaccard
        assert by[hi].true_dup_share >= by[lo].true_dup_share


def test_minhash_audit_error_bound_vs_sketch_theory(spark):
    """K=8 one-permutation-style sketch: per-bucket MEAN absolute
    error must stay within 3 standard errors of the binomial bound
    sigma = sqrt(J(1-J)/K) evaluated at the bucket's mean exact J
    (loose, but catches a broken estimator or a broken exact side)."""
    rows = _Q["minhash_jaccard_error_audit"](spark, SF_SMOKE).collect()
    for r in rows:
        j = min(max(r.mean_exact_jaccard, 0.0), 1.0)
        sigma = math.sqrt(max(j * (1 - j), 1.0 / 64) / 8)
        assert r.mean_abs_err <= 3 * sigma + 0.125, (
            f"bucket {r.est_decile}: err {r.mean_abs_err} vs sigma {sigma}"
        )


# --- vocab_coverage_curve ----------------------------------------------


def test_vocab_coverage_curve_shape(spark):
    rows = sorted(
        _Q["vocab_coverage_curve"](spark, SF_SMOKE).collect(),
        key=lambda r: r.vocab_rank,
    )
    assert rows[0].vocab_rank == 1
    assert [r.vocab_rank for r in rows] == list(range(1, len(rows) + 1))
    # counts non-increasing in rank; cumulative share non-decreasing to ~1
    for a, b in zip(rows, rows[1:]):
        assert a.n_tokens >= b.n_tokens
        assert b.cum_token_share >= a.cum_token_share - 1e-9
    assert abs(rows[-1].cum_token_share - 1.0) < 2e-6
    total = sum(r.n_tokens for r in rows)
    for r in rows:
        assert abs(r.token_share - r.n_tokens / total) < 2e-6


# --- dict_encoding_advisor ---------------------------------------------


@pytest.mark.slow
def test_dict_advisor_matches_python_model(spark):
    """Recompute the parquet dictionary model (distinct-value bytes +
    ceil(log2 ndv)-bit indexes) per column in pure Python."""
    rows = _Q["dict_encoding_advisor"](spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        table, col = r.column_ref.split(".")
        vals = [
            x[0]
            for x in load_table(spark, SF_SMOKE, table).select(col).collect()
        ]
        n, ndv = len(vals), len(set(vals))
        plain = sum(len(v) for v in vals)
        bits = max(1, (ndv - 1).bit_length()) if ndv > 1 else 1
        dict_b = sum(len(v) for v in set(vals)) + (n * bits + 7) // 8
        assert r.n_rows == n and r.ndv == ndv
        assert r.plain_bytes == plain and r.dict_bytes == dict_b
        ratio = plain / dict_b
        assert abs(r.compression_ratio - ratio) < 2e-4
        expect = (
            "dictionary" if ratio > 1.5 else "marginal" if ratio > 1.0 else "plain"
        )
        assert r.recommendation == expect


# --- target_encoding_smoothing_sweep ------------------------------------


def test_te_sweep_monotone_in_m(spark):
    rows = sorted(
        _Q["target_encoding_smoothing_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r.smoothing_m,
    )
    assert [r.smoothing_m for r in rows] == [0, 1, 10, 100, 1000]
    n_cat = rows[0].n_categories
    for a, b in zip(rows, rows[1:]):
        assert a.n_categories == b.n_categories == n_cat
        # more smoothing => less category weight, more shrink,
        # less surviving spread
        assert b.mean_category_weight <= a.mean_category_weight + 1e-9
        assert b.mean_abs_shrink >= a.mean_abs_shrink - 1e-9
        assert b.mean_sq_dev_from_global <= a.mean_sq_dev_from_global + 1e-9
    # m=0 is the unsmoothed encoder: zero shrink, full weight
    assert rows[0].mean_abs_shrink == 0.0
    assert rows[0].mean_category_weight == 1.0


# --- pit_staleness_audit (re-planned) -----------------------------------


def test_staleness_runmax_equals_naive_join(spark):
    """The single-shuffle running-max re-plan must reproduce the naive
    fan-out join's freshest-close election event-for-event."""
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_type")
        .collect()
    )
    closes: dict = {}
    for r in ev:
        h = r.ts.replace(minute=0, second=0, microsecond=0)
        closes.setdefault(r.user_id, set()).add(h)
    import datetime as dt

    naive = {}
    for r in ev:
        cand = [
            c + dt.timedelta(hours=1)
            for c in closes[r.user_id]
            if c + dt.timedelta(hours=1) <= r.ts
        ]
        st = (
            int((r.ts - max(cand)).total_seconds()) if cand else None
        )
        key = r.event_type
        naive.setdefault(key, []).append(st)
    df = _Q["pit_staleness_audit"](spark, SF_SMOKE).collect()
    for row in df:
        sts = naive[row.event_type]
        matched = [s for s in sts if s is not None]
        assert row.n_events == len(sts)
        assert row.n_matched == len(matched)
        if matched:
            assert row.max_staleness_sec == max(matched)


def test_staleness_plan_is_join_free(spark):
    df = _Q["pit_staleness_audit"](spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # zero joins: union + window + aggregates


# --- embedding_distance_profile (r11 queue) ------------------------------


def test_distance_profile_is_linear_pair_sample(spark):
    rows = _Q["embedding_distance_profile"](spark, SF_SMOKE).collect()
    n_vec = load_table(spark, SF_SMOKE, "embeddings").count()
    n_pairs = sum(r.n_pairs for r in rows)
    # ring pairing: exactly (n - buckets-with-members) pairs, so < n
    assert 0 < n_pairs < n_vec
    assert abs(sum(r.pair_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert -10 <= r.cosine_band <= 9
        assert -1.0 <= r.mean_cosine <= 1.0
        # the band mean must actually lie in its band
        assert r.cosine_band / 10.0 - 1e-6 <= r.mean_cosine <= (
            r.cosine_band + 1
        ) / 10.0 + 1e-6


# --- anonymity_generalization_ladder (r11 queue) --------------------------


def test_anonymity_ladder_monotone(spark):
    rows = sorted(
        _Q["anonymity_generalization_ladder"](spark, SF_SMOKE).collect(),
        key=lambda r: r.qi_level,
    )
    assert [r.qi_level for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        # finer QI sets can only fragment groups: more groups, lower k,
        # more suppression
        assert b.n_groups >= a.n_groups
        assert b.k_anonymity <= a.k_anonymity
        assert b.suppressed_share >= a.suppressed_share - 1e-9
    for r in rows:
        assert 0.0 <= r.suppressed_share <= 1.0
        assert r.k_anonymity >= 1


# --- multimodal_audio_silence_runs (r11 queue) ----------------------------


def test_audio_silence_runs_python_twin(spark):
    """The run-length kernel vs a pure-Python twin over the same
    generative payloads (first 25 clips)."""
    import hashlib

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .limit(25)
        .collect()
    )
    got = {
        r.doc_id: r
        for r in _Q["multimodal_audio_silence_runs"](spark, SF_SMOKE).collect()
    }
    for d in docs:
        hx = "".join(
            hashlib.md5(f"{d.text}#{i}".encode()).hexdigest() for i in range(24)
        )
        below = [ord(c) < 75 for c in hx[:768]]
        n_below = sum(below)
        runs = []
        cur = 0
        for b in below:
            if b:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        r = got[d.doc_id]
        assert r.n_below_mid == n_below
        assert r.n_runs == len(runs)
        assert r.longest_run == (max(runs) if runs else 0)


# --- event_value_winsorize_sweep (r11 queue) -------------------------------


def test_winsorize_sweep_monotone(spark):
    rows = {r.clip_level: r for r in _Q["event_value_winsorize_sweep"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"p90", "p95", "p99", "none"}
    assert rows["none"].n_clipped == 0
    assert rows["none"].mean_reduction == 0.0
    # tighter caps clip more and cut the mean more
    assert rows["p90"].n_clipped >= rows["p95"].n_clipped >= rows["p99"].n_clipped
    assert (
        rows["p90"].mean_reduction
        >= rows["p95"].mean_reduction
        >= rows["p99"].mean_reduction
    )
    assert rows["p90"].cap_value <= rows["p95"].cap_value <= rows["p99"].cap_value
    for r in rows.values():
        assert r.mean_after <= rows["none"].mean_after + 1e-9


# --- cobuy_community_conductance (r11 queue) -------------------------------


def test_conductance_consistent_with_modularity_frame(spark):
    """Conductance rows must describe the SAME partition the
    modularity query scores: identical community ids and member
    counts, volumes equal to the degree sums, and cut + internal
    edge tallies adding up to each community's volume."""
    cond = {
        r.community: r
        for r in _Q["cobuy_community_conductance"](spark, SF_SMOKE).collect()
    }
    mod = {r.community: r for r in _Q["graph_modularity"](spark, SF_SMOKE).collect()}
    assert set(cond) == set(mod)
    for c, r in cond.items():
        assert r.n_members == mod[c].n_members
        assert r.volume == mod[c].degree_sum
        assert r.cut_edges == r.volume - 2 * mod[c].internal_edges
        if r.conductance is not None:
            assert 0.0 <= r.conductance <= 1.0


# --- dedup_method_agreement (r11 queue) ------------------------------------


@pytest.mark.slow
def test_method_agreement_census_is_exhaustive(spark):
    """The census classes must partition the union of the three pair
    sets, and the per-method marginals must equal the registered
    operators' own pair counts."""
    rows = _Q["dedup_method_agreement"](spark, SF_SMOKE).collect()
    total = sum(r.n_pairs for r in rows)
    assert abs(sum(r.pair_share for r in rows) - 1.0) < 1e-4
    n_sim = sum(r.n_pairs for r in rows if r.in_simhash)
    n_ex = sum(r.n_pairs for r in rows if r.in_exact)
    n_mh = sum(r.n_pairs for r in rows if r.in_minhash)
    assert n_sim == _Q["dedup_simhash_pairs"](spark, SF_SMOKE).count()
    assert n_ex == _Q["dedup_ngram_jaccard"](spark, SF_SMOKE).count()
    assert n_mh == _Q["dedup_minhash_lsh"](spark, SF_SMOKE).count()
    assert 0 < max(n_sim, n_ex, n_mh) <= total
    # no all-false class can exist (every key came from some set)
    assert all(r.in_minhash or r.in_simhash or r.in_exact for r in rows)


# --- rec_novelty_by_rank (r11 queue) ---------------------------------------


def test_rec_novelty_rank_curve(spark):
    rows = sorted(
        _Q["rec_novelty_by_rank"](spark, SF_SMOKE).collect(),
        key=lambda r: r.rec_rank,
    )
    assert [r.rec_rank for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.n_recs > 0
        assert 0.0 < r.mean_popularity_share <= 1.0
        assert r.mean_novelty_nats >= 0.0
        # novelty ~= -ln(popularity) must be consistent within the
        # row (Jensen: mean(-ln p) >= -ln(mean p))
        assert r.mean_novelty_nats >= -math.log(r.mean_popularity_share) - 1e-3
    # rank-1 recs are the strongest co-buy partners => at least as
    # popular on average as deep-list recs (weak check, curve exists)
    assert rows[0].n_recs >= rows[-1].n_recs


# --- stream_histogram_quantile_monitor (r11 queue) --------------------------


def test_stream_quantile_monitor_error_bound(spark):
    """The histogram estimate must sit within one bin width of the
    EXACT per-window percentile (inverse-CDF with interpolation can
    never leave the hit bin), and the monitor must cover exactly the
    watermark-finalized windows."""
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        _HQ_BIN_W,
        _HQ_QS,
    )

    rows = {
        r.window_start: r
        for r in _Q["stream_histogram_quantile_monitor"](spark, SF_SMOKE).collect()
    }
    assert rows
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("ts", "value")
        .collect()
    )
    import datetime as dt

    max_ts = max(r.ts for r in ev)
    by_win: dict = {}
    for r in ev:
        w = r.ts.replace(minute=0, second=0, microsecond=0)
        if w + dt.timedelta(hours=1) <= max_ts - dt.timedelta(minutes=15):
            by_win.setdefault(w, []).append(r.value)
    assert set(rows) == set(by_win)
    for w, vals in by_win.items():
        vals.sort()
        r = rows[w]
        assert r.n_events == len(vals)
        for q in _HQ_QS:
            exact = vals[
                min(len(vals) - 1, max(0, -(-int(q * len(vals) * 1000000) // 1000000) - 1))
            ]
            est = getattr(r, f"est_p{int(q * 100)}")
            assert abs(est - exact) <= _HQ_BIN_W + 1e-6, (w, q, est, exact)


# --- ann_probe_recall_curve (rows-only) -------------------------------------


@pytest.mark.slow
def test_probe_recall_curve_monotone_and_exact_at_full_probe(spark):
    rows = sorted(
        _Q["ann_probe_recall_curve"](spark, SF_SMOKE).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 3, 5, 8]
    prev = -1.0
    for r in rows:
        assert r.n_queries == 50
        assert 0.0 <= r.recall <= 1.0
        assert r.recall >= prev - 1e-9  # more probes never lose recall
        prev = r.recall
        assert abs(r.scan_share - r.nprobe / 8) < 1e-9
    # a full probe scans every cell: the IVF search IS the exact search
    assert rows[-1].recall == 1.0
    # and a partial probe must already be useful (codebook not degenerate)
    assert rows[2].recall >= 0.4


# --- dedup_survivor_policy_audit (r11 queue) --------------------------------


def test_survivor_policies_consistent(spark):
    rows = {r.policy: r for r in _Q["dedup_survivor_policy_audit"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"min_doc_id", "longest_text", "richest_vocab"}
    base = rows["min_doc_id"]
    assert base.agreement_share == 1.0  # agrees with itself by definition
    n = base.n_clusters
    for r in rows.values():
        assert r.n_clusters == n
        assert 0.0 <= r.agreement_share <= 1.0
        assert r.kept_chars > 0
    # keep-longest retains at least as many chars as any other policy
    assert rows["longest_text"].kept_chars >= rows["min_doc_id"].kept_chars
    assert rows["longest_text"].kept_chars >= rows["richest_vocab"].kept_chars
