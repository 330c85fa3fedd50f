"""Semantic invariants for the round-7b operator batch (rendezvous
sharding, RA link prediction, SAX symbolization, quantile
normalization, JL distortion).  Oracle parity certifies VALUES; these
pin the properties parity can't state: HRW's minimal-movement
guarantee, non-adjacency of predicted links, symbol/rank monotonicity,
cross-type distribution identity, and the JL norm-preservation bound.
"""

from __future__ import annotations

import hashlib

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
    _HRW_SEED_BASE,
    _HRW_SHARDS,
)
from tests.conftest import SF_SMOKE

registry.load_all()


def _hash60(val: str, seed: int) -> int:
    """Python twin of functions.scalar.portable_hash64."""
    return int(hashlib.md5(f"{seed}:{val}".encode()).hexdigest()[:15], 16)


def _hrw_shard(doc_id: int, n_shards: int) -> int:
    weights = [
        _hash60(str(doc_id), _HRW_SEED_BASE + s) for s in range(n_shards)
    ]
    return weights.index(max(weights))


def test_rendezvous_census_matches_python_reference(spark):
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    want: dict[int, list[int]] = {}
    for doc_id, n_chars in rows:
        s = _hrw_shard(doc_id, _HRW_SHARDS)
        agg = want.setdefault(s, [0, 0])
        agg[0] += 1
        agg[1] += n_chars
    got = {
        r.shard: [r.n_docs, r.n_chars_total]
        for r in registry.queries()["doc_shard_rendezvous"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_rendezvous_minimal_movement_on_shard_removal():
    """THE property HRW buys over hash-mod-k: dropping one shard
    moves ONLY the docs that lived on it; every other assignment is
    unchanged (with mod-k, ~(k-1)/k of ALL docs would move)."""
    import duckdb

    doc_ids = [
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT doc_id FROM '{SF_SMOKE}/documents.parquet'")
        .fetchall()
    ]
    moved_from_other_shards = 0
    lived_on_last = 0
    for d in doc_ids:
        before = _hrw_shard(d, _HRW_SHARDS)
        after = _hrw_shard(d, _HRW_SHARDS - 1)
        if before == _HRW_SHARDS - 1:
            lived_on_last += 1
        elif after != before:
            moved_from_other_shards += 1
    assert moved_from_other_shards == 0
    assert lived_on_last > 0  # the property was actually exercised


def test_ra_predictions_are_nonadjacent_and_ranked(spark):
    df = registry.queries()["item_ra_link_prediction"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows, "prediction set must be non-vacuous on the smoke corpus"
    scores = [r.ra_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r.n_common >= 1 for r in rows)
    # non-adjacency: rebuild the support-2 edge set and check no overlap
    from ml_feature_store_enterprise_grade_spark.catalog import load_table

    basket = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i")
        )
        .distinct()
    )
    a, b = basket.alias("a"), basket.alias("b")
    edges = {
        (r.x, r.y)
        for r in a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("x"), F.col("b.i").alias("y"))
        .count()
        .filter(F.col("count") >= 2)
        .collect()
    }
    assert all((r.item_a, r.item_b) not in edges for r in rows)


def test_sax_symbols_are_rank_monotone_quartiles(spark):
    rows = registry.queries()["daily_revenue_sax"](
        spark, SF_SMOKE
    ).collect()
    by_sym: dict[str, list[float]] = {}
    for r in rows:
        by_sym.setdefault(r.sax_symbol, []).append(r.paa_mean)
    assert set(by_sym) == {"a", "b", "c", "d"}
    # symbol order is value order: max('a') <= min('b') <= ... etc.
    for lo, hi in (("a", "b"), ("b", "c"), ("c", "d")):
        assert max(by_sym[lo]) <= min(by_sym[hi])
    # NTILE equal-frequency: tile sizes differ by at most 1
    sizes = sorted(len(v) for v in by_sym.values())
    assert sizes[-1] - sizes[0] <= 1


def test_quantile_normalization_unifies_distributions(spark):
    rows = registry.queries()["event_value_quantile_normalization"](
        spark, SF_SMOKE
    ).collect()
    # (1) after normalization every event type carries the IDENTICAL
    # decile -> value mapping (that is what quantile normalization IS)
    ref: dict[int, set[float]] = {}
    for r in rows:
        ref.setdefault(r.decile, set()).add(r.normalized_value)
    assert all(len(v) == 1 for v in ref.values())
    # (2) the reference distribution is monotone in decile (it is an
    # average of per-type monotone decile means)
    vals = [next(iter(ref[d])) for d in sorted(ref)]
    assert vals == sorted(vals)
    # (3) per-type original decile means are monotone too
    per_type: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        per_type.setdefault(r.event_type, []).append(
            (r.decile, r.orig_decile_mean)
        )
    for pairs in per_type.values():
        ordered = [m for _, m in sorted(pairs)]
        assert ordered == sorted(ordered)


def test_jl_distortion_is_near_unity(spark):
    rows = registry.queries()["embedding_jl_distortion"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert r.min_distortion <= r.mean_distortion <= r.max_distortion
        # JL with k=8: per-label MEANS concentrate near 1 (individual
        # vectors vary as chi^2_8 / 8, but label means average ~50
        # vectors); generous envelope so the test pins the invariant,
        # not the corpus
        assert 0.5 <= r.mean_distortion <= 1.6


def test_left_outer_join_withholds_watermark_tail(spark):
    """The outer join's defining semantics: matched pairs all emit;
    unmatched clicks emit ONLY once the global watermark passes
    click_ts + interval — so emitted rows must equal the batch left
    join restricted by that predicate (per-user counts checked here;
    value parity is the oracle's job)."""
    from datetime import timedelta

    from ml_feature_store_enterprise_grade_spark.catalog import load_table

    got = {
        r.user_id: (r.n_rows, r.n_matched)
        for r in registry.queries()["stream_stream_left_outer_join"](
            spark, SF_SMOKE
        ).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("user_id").isNotNull()
    )
    clicks = [
        (r.user_id, r.ts)
        for r in ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .collect()
    ]
    purchases = [
        (r.user_id, r.ts)
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .collect()
    ]
    wm = min(
        max(ts for _, ts in clicks), max(ts for _, ts in purchases)
    ) - timedelta(minutes=15)
    want: dict[int, list[int]] = {}
    for u, cts in clicks:
        matches = [
            1
            for pu, pts in purchases
            if pu == u and cts <= pts <= cts + timedelta(minutes=30)
        ]
        agg = want.setdefault(u, [0, 0])
        if matches:
            agg[0] += len(matches)
            agg[1] += len(matches)
        elif cts + timedelta(minutes=30) < wm:
            agg[0] += 1
    want = {u: tuple(v) for u, v in want.items() if v[0] > 0}
    assert got == want


def test_segment_migration_matrix_is_consistent(spark):
    rows = registry.queries()["customer_segment_migration"](
        spark, SF_SMOKE
    ).collect()
    total = sum(r.n_customers for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    # no (absent, absent) cell can exist: a customer appears in the
    # matrix only through at least one period
    assert all(
        not (r.seg_before == "absent" and r.seg_after == "absent")
        for r in rows
    )
    # terciles are equal-frequency per period: the three non-absent
    # row-sums (period-1 segments) differ by at most 1, ditto columns
    from collections import Counter

    row_sums = Counter()
    col_sums = Counter()
    for r in rows:
        if r.seg_before != "absent":
            row_sums[r.seg_before] += r.n_customers
        if r.seg_after != "absent":
            col_sums[r.seg_after] += r.n_customers
    for sums in (row_sums, col_sums):
        vals = sorted(sums.values())
        assert len(vals) == 3 and vals[-1] - vals[0] <= 1
    assert total >= sum(row_sums.values())


def _python_bpe(texts, rounds):
    """Python twin of bpe_merge_learning — including the engines'
    shared left-to-right non-overlapping replace convention (Python
    str.replace has identical semantics)."""
    import re
    from collections import Counter

    freq: Counter = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if re.fullmatch(r"[a-z]+", w):
                freq[w] += 1
    sym = {w: " ".join(w) for w in freq}
    want = []
    for rank in range(1, rounds + 1):
        pairs: Counter = Counter()
        for w, s in sym.items():
            toks = s.split(" ")
            for a, b in zip(toks, toks[1:]):
                pairs[f"{a} {b}"] += freq[w]
        if not pairs:
            return want
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, best[0], best[0].replace(" ", ""), best[1]))
        pat, rep = f" {best[0]} ", f" {best[0].replace(' ', '')} "
        sym = {w: f" {s} ".replace(pat, rep).strip() for w, s in sym.items()}
    return want


def test_bpe_merges_match_python_reference(spark):
    """Pins the merge TABLE exactly on the smoke corpus, not just its
    shape."""
    import duckdb

    from ml_feature_store_enterprise_grade_spark.operators.text import (
        _BPE_MERGES,
    )

    texts = [
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT text FROM '{SF_SMOKE}/documents.parquet'")
        .fetchall()
    ]
    want = _python_bpe(texts, _BPE_MERGES)
    got = [
        (r.merge_rank, r.pair, r.merged, r.pair_count)
        for r in registry.queries()["bpe_merge_learning"](
            spark, SF_SMOKE
        )
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want
    counts = [c for *_, c in got]
    assert counts == sorted(counts, reverse=True)  # greedy argmax property


def test_source_ablation_shares_and_bounds(spark):
    rows = registry.queries()["source_ablation_report"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.admitted_rate <= 1.0
        assert 0.0 <= r.crossdup_rate <= 1.0
    # unique-char shares can never exceed the sources' raw char shares,
    # and their sum is <= 1 (cross-dup chars are counted by no source).
    # Each emitted share is ROUND(x, 6), so the sum's honest bound is
    # 1 + n_sources*5e-7 (the old flat 1e-6 held only by luck and is
    # additionally sensitive to collect-order float association —
    # r14's partitioning change flipped it by 1e-16).
    import math

    total_chars = sum(r.n_chars_total for r in rows)
    assert (
        math.fsum(r.unique_char_share for r in rows)
        <= 1.0 + 5e-7 * len(rows) + 1e-9
    )
    for r in rows:
        assert r.unique_char_share <= r.n_chars_total / total_chars + 1e-6


def test_lexical_drift_is_bounded_and_symmetric_smoke(spark):
    rows = registry.queries()["corpus_lexical_drift"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        # JS with base-2 logs is bounded [0, 1]; quantization floors
        # each term so the sum can only undershoot, never exceed 1
        assert 0.0 <= r.js_divergence <= 1.0
        assert r.shifted == (r.js_divergence >= 0.1)
        assert r.n_ref_tokens > 0 and r.n_cur_tokens > 0


def test_centroid_drift_cosine_bounds_and_identity(spark):
    """Cosines in [-1, 1]; and on a label-coherent corpus the two
    halves of one label must agree far better than random (> 0).
    Identity check: feeding the SAME half twice must give cosine 1."""
    rows = registry.queries()["embedding_centroid_drift"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.centroid_cosine <= 1.0 + 1e-9
        assert r.ref_centroid_norm > 0 and r.cur_centroid_norm > 0
        assert r.n_ref > 0 and r.n_cur > 0


def test_phrase_search_hits_contain_the_phrase(spark):
    """Every reported hit doc must actually contain the phrase as a
    CONTIGUOUS token run, n_occ times — checked against a direct
    Python substring-of-token-list count."""
    import re

    import duckdb

    texts = {
        r[0]: re.sub(r"\s+", " ", r[1].lower()).strip().split(" ")
        for r in duckdb.connect()
        .execute(f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'")
        .fetchall()
    }
    rows = registry.queries()["phrase_search_topdocs"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        toks = texts[r.doc_id]
        phrase = r.phrase.split(" ")
        n = sum(
            1
            for i in range(len(toks) - 2)
            if toks[i : i + 3] == phrase
        )
        assert n == r.n_occ and n >= 1
    # ranks are 1..k per phrase with no gaps
    from collections import defaultdict

    by_phrase = defaultdict(list)
    for r in rows:
        by_phrase[r.phrase].append(r.rank)
    for ranks in by_phrase.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_bitemporal_features_respect_both_time_axes(spark):
    """Python twin on the smoke corpus: a prior order contributes iff
    (valid) it happened in the 365 days strictly before the entity's
    order AND (knowledge) its last shipment + 14d receipt lag had
    landed by then — the leak pit-on-one-axis joins cannot catch."""
    from datetime import timedelta
    from decimal import Decimal

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE),
               CAST(o.o_totalprice AS DECIMAL(16,2)),
               MAX(CAST(l.l_shipdate AS DATE))
        FROM '{SF_SMOKE}/orders.parquet' o
        JOIN '{SF_SMOKE}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3, 4
        """
    ).fetchall()
    by_cust: dict[int, list] = {}
    for k, cust, odate, price, last_ship in rows:
        by_cust.setdefault(cust, []).append(
            (k, odate, price, last_ship + timedelta(days=14))
        )
    want = {}
    for cust, orders in by_cust.items():
        for k, odate, _, _ in orders:
            n, rev = 0, Decimal(0)
            for pk, podate, pprice, pknown in orders:
                if (
                    pk != k
                    and podate < odate
                    and podate >= odate - timedelta(days=365)
                    and pknown <= odate
                ):
                    n += 1
                    rev += pprice
            want[k] = (n, float(rev))
    got = {
        r.o_orderkey: (r.prior_known_orders, r.prior_known_revenue)
        for r in registry.queries()["bitemporal_customer_features"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want
    assert any(n > 0 for n, _ in got.values())


def test_language_purity_flags_are_consistent(spark):
    rows = registry.queries()["doc_language_purity"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert r.best_markers >= r.second_markers >= 0
        want = r.best_markers > 0 and r.second_markers * 100 >= r.best_markers * 50
        assert r.mixed_language == want


def test_diversified_topk_matches_python_reference(spark):
    """Exact Python twin of the capped ranking (so the cap semantics
    are pinned even when the smoke data happens to have no whale in
    the global top-20): per-customer keep the best 2, then global
    top-20, ties on orderkey at both levels."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    import duckdb

    orders = duckdb.connect().execute(
        f"SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2))"
        f" FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchall()
    by_cust = defaultdict(list)
    for k, c, p in orders:
        by_cust[c].append((k, p))
    capped = []
    for c, lst in by_cust.items():
        lst.sort(key=lambda kp: (-kp[1], kp[0]))
        capped += [(k, c, p) for k, p in lst[:2]]
    capped.sort(key=lambda r: (-r[2], r[0]))
    want = [(k, c, float(p)) for k, c, p in capped[:20]]
    rows = registry.queries()["top_orders_diversified"](
        spark, SF_SMOKE
    ).collect()
    got = [(r.o_orderkey, r.o_custkey, r.o_totalprice) for r in rows]
    assert got == want
    assert max(Counter(c for _, c, _ in got).values()) <= 2


def test_hard_negatives_live_in_the_similar_but_distinct_band(spark):
    """Mined pairs must sit in est ∈ [0.25, 0.5): at least one band
    collision (structural floor 2/8) but below the dup threshold —
    checked at sf0.01 (the smoke corpus has no mid-similarity pairs,
    so the result there is legitimately empty)."""
    from tests.conftest import SF_ORACLE

    rows = registry.queries()["hard_negative_pairs"](
        spark, SF_ORACLE
    ).collect()
    assert rows, "sf0.01 must yield hard negatives"
    for r in rows:
        assert 2 <= r.n_agree <= 3  # 8 slots: [0.25, 0.5) == {2, 3}
        assert 0.25 <= r.est_jaccard < 0.5
    agrees = [r.n_agree for r in rows]
    assert agrees == sorted(agrees, reverse=True)


def test_dsir_scores_favor_the_target_language(spark):
    """The defining property of importance resampling: documents from
    the target domain (en) must score higher on average than the rest,
    and the selected flag must equal score > 0."""
    rows = registry.queries()["dsir_importance_weights"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    en = [r.score_e6 for r in rows if r.lang == "en"]
    other = [r.score_e6 for r in rows if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    for r in rows:
        assert r.selected == (r.score_e6 > 0)


def test_ccnet_buckets_are_equal_terciles_ordered_by_fluency(spark):
    from collections import Counter, defaultdict

    rows = registry.queries()["ccnet_perplexity_buckets"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        sizes = Counter(r.ccnet_bucket for r in rs)
        assert set(sizes) == {"head", "middle", "tail"}
        vals = sorted(sizes.values())
        assert vals[-1] - vals[0] <= 1  # NTILE equal-frequency
        # fluency order: every head doc >= every tail doc on logprob
        head_min = min(r.mean_logprob for r in rs if r.ccnet_bucket == "head")
        tail_max = max(r.mean_logprob for r in rs if r.ccnet_bucket == "tail")
        assert head_min >= tail_max


def test_funnel_ztest_rates_and_flags_are_consistent(spark):
    rows = registry.queries()["funnel_conversion_ztest"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    total_conv = sum(r.n_converted for r in rows)
    total_click = sum(r.n_clickers for r in rows)
    assert 0 < total_conv < total_click  # funnel is neither empty nor saturated
    for r in rows:
        assert 0 <= r.n_converted <= r.n_clickers
        assert abs(r.conversion_rate - r.n_converted / r.n_clickers) < 1e-6
        # flag derives from the UNROUNDED z; skip the boundary sliver
        # where the rounded display z could disagree
        if abs(abs(r.z_score) - 1.96) > 1e-3:
            assert r.significant == (abs(r.z_score) > 1.96)


def test_trimmed_mean_is_between_bounds_and_trims_ten_percent(spark):
    rows = registry.queries()["robust_order_value_stats"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        # NTILE(20) drops buckets 1 and 20 -> ~10% trimmed (±bucket
        # rounding)
        assert abs(r.n_trimmed / r.n_orders - 0.10) < 0.02
        assert r.trimmed_mean > 0 and r.raw_mean > 0


def test_edge_churn_shares_sum_to_one_and_cover_fates(spark):
    rows = registry.queries()["cobuy_edge_churn"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert {r.fate for r in rows} <= {"born", "died", "stable"}
    assert all(r.n_edges > 0 for r in rows)


def test_assortativity_is_a_valid_correlation(spark):
    rows = registry.queries()["cobuy_degree_assortativity"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_edges > 0
    assert -1.0 - 1e-9 <= r.assortativity <= 1.0 + 1e-9


def test_cluster_language_purity_tallies_are_consistent(spark):
    rows = registry.queries()["dup_cluster_language_purity"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    assert abs(sum(r.cluster_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.n_langs >= 1
        # every counted cluster has >= 2 docs
        assert r.n_docs >= 2 * r.n_clusters


# ---------------------------------------------------------------------------
# Randomized property tests: the oracle sweep cross-checks three fixed
# corpora; these drive the same registered queries over ARBITRARY
# Hypothesis-generated inputs (written as a minimal sf_dir with just the
# table each query reads) against direct Python references.


def _python_ra_topk(baskets, support, topk):
    from collections import defaultdict
    from itertools import combinations

    pair_count = defaultdict(int)
    for items in baskets:
        for a, b in combinations(sorted(set(items)), 2):
            pair_count[(a, b)] += 1
    edges = {p for p, n in pair_count.items() if n >= support}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    wq = {z: 10**12 // len(vs) for z, vs in adj.items()}
    scores = defaultdict(lambda: [0, 0])  # (a,b) -> [score_q, n_common]
    for z, vs in adj.items():
        from itertools import combinations as comb2

        for a, b in comb2(sorted(vs), 2):
            s = scores[(a, b)]
            s[0] += wq[z]
            s[1] += 1
    cand = [
        (a, b, n, q)
        for (a, b), (q, n) in scores.items()
        if (a, b) not in edges
    ]
    cand.sort(key=lambda r: (-r[3], r[0], r[1]))
    return [
        (a, b, n, round(q / 1e12, 6)) for a, b, n, q in cand[:topk]
    ]


@settings(max_examples=10, deadline=None)
@given(
    baskets=st.lists(
        st.lists(st.integers(1, 12), min_size=1, max_size=5),
        min_size=1,
        max_size=20,
    )
)
def test_ra_link_prediction_matches_python_reference_on_random_baskets(
    spark, tmp_path_factory, baskets
):
    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.catalog import clear_count_cache
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _RA_MIN_SUPPORT,
        _RA_TOPK,
    )

    d = tmp_path_factory.mktemp("ra_sf")
    rows = [
        (o + 1, int(item))
        for o, items in enumerate(baskets)
        for item in items
    ]
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    # catalog.load_table normalizes lineitem's ts column; give the
    # fixture a real timestamp so the dispatch recognizes it
    pdf["l_shipdate"] = pd.Timestamp("1995-01-01")
    pdf.to_parquet(d / "lineitem.parquet")
    clear_count_cache(str(d))  # synthetic dir must not hit a stale census
    try:
        got = [
            (r.item_a, r.item_b, r.n_common, r.ra_score)
            for r in registry.queries()["item_ra_link_prediction"](
                spark, str(d)
            ).collect()
        ]
    finally:
        clear_count_cache(str(d))
    want = _python_ra_topk(baskets, _RA_MIN_SUPPORT, _RA_TOPK)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    )
)
def test_bpe_matches_python_reference_on_random_corpora(
    spark, tmp_path_factory, words
):
    """BPE trainer vs the Python twin on arbitrary tiny corpora —
    exercises tie-breaks, single-char words, repeated-pair sites, and
    early vocabulary exhaustion that the fixed corpus never hits."""
    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.text import (
        _BPE_MERGES,
    )

    text = " ".join(words)
    d = tmp_path_factory.mktemp("bpe_sf")
    pd.DataFrame(
        {
            "doc_id": [1],
            "text": [text],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [len(text)],
        }
    ).to_parquet(d / "documents.parquet")
    want = _python_bpe([text], _BPE_MERGES)
    got = [
        (r.merge_rank, r.pair, r.merged, r.pair_count)
        for r in registry.queries()["bpe_merge_learning"](
            spark, str(d)
        )
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want


def test_entropy_rate_is_bounded_and_weighted_mean(spark):
    import math

    rows = registry.queries()["markov_entropy_rate"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    n_states = len(rows)
    cap = math.log2(max(n_states, 2)) + 1e-6
    rate = rows[0].entropy_rate_bits
    for r in rows:
        assert 0.0 <= r.entropy_bits <= cap
        assert r.entropy_rate_bits == rate  # global column is constant
    # the rate is the count-weighted mean of per-src entropies
    want = sum(r.n_transitions * r.entropy_bits for r in rows) / sum(
        r.n_transitions for r in rows
    )
    assert abs(rate - want) < 1e-4
    assert min(r.entropy_bits for r in rows) <= rate <= max(
        r.entropy_bits for r in rows
    )


def test_poisson_gof_expected_counts_sum_to_n(spark):
    rows = registry.queries()["basket_size_poisson_gof"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    n = sum(r.n_observed for r in rows)
    # truncated fit on the observed support: expected masses cover the
    # full 1..kmax range, so they sum to N up to rounding
    assert abs(sum(r.n_expected for r in rows) - n) < 0.5
    total = rows[0].chi2_total
    assert all(r.chi2_total == total for r in rows)
    assert abs(sum(r.chi2_term for r in rows) - total) < 0.05
    assert rows[0].dispersion_index > 0


def test_spearman_is_valid_and_matches_scipy_free_reference(spark):
    """Exact Python average-rank Spearman on the smoke corpus."""
    import duckdb

    rows = duckdb.connect().execute(
        f"""
        SELECT CAST(c.c_acctbal AS DECIMAL(12,2)),
               SUM(CAST(o.o_totalprice AS DECIMAL(16,2)))
        FROM '{SF_SMOKE}/customer.parquet' c
        JOIN '{SF_SMOKE}/orders.parquet' o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, 1
        """
    ).fetchall()

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    want = (n * sxy - sx * sy) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    ) ** 0.5
    got = registry.queries()["acctbal_revenue_spearman"](
        spark, SF_SMOKE
    ).collect()[0]
    assert got.n == n
    assert abs(got.spearman_rho - want) < 1e-4
    assert -1.0 <= got.spearman_rho <= 1.0


def test_cramers_v_is_bounded(spark):
    r = registry.queries()["segment_priority_association"](
        spark, SF_SMOKE
    ).collect()[0]
    assert r.n_orders > 0 and r.dof >= 1
    assert r.chi2 >= 0
    assert 0.0 <= r.cramers_v <= 1.0


def test_quality_concentration_curve_is_monotone_to_one(spark):
    rows = sorted(
        registry.queries()["quality_concentration_curve"](
            spark, SF_SMOKE
        ).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    shares = [r.cum_char_share for r in rows]
    assert shares == sorted(shares)  # cumulative => monotone
    assert abs(shares[-1] - 1.0) < 1e-6
    sizes = sorted(r.n_docs for r in rows)
    assert sizes[-1] - sizes[0] <= 1  # NTILE equal-frequency
