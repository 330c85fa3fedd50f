"""Semantic invariants for the round-9 operator batch (Mann-Whitney
U, variance-ratio test, cluster-label ARI, Dunning LLR collocations,
blocklist filtering, PIT staleness audit).  Oracle parity certifies
VALUES; these pin the properties parity can't state: U-statistic
bounds and symmetry, VR/ARI ranges against independent NumPy
recomputations, the G² xlogx identity, the hash blocklist's exact
Python twin, and the staleness audit's no-future-read guarantee.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.catalog import load_table
from tests.conftest import SF_SMOKE

_Q = registry.queries()


# --- event_value_mann_whitney ----------------------------------------


def test_mwu_bounds_and_flags(spark):
    rows = _Q["event_value_mann_whitney"](spark, SF_SMOKE).collect()
    assert rows, "at least one event type"
    total = rows[0].n_type + rows[0].n_rest
    for r in rows:
        assert r.n_type + r.n_rest == total
        assert 0.0 <= r.u_stat <= r.n_type * r.n_rest
        assert r.significant == (abs(r.z_score) >= 1.96 - 5e-5)


def test_mwu_matches_numpy_rank_sum(spark):
    """Independent recomputation: average ranks via NumPy over the
    collected values must reproduce the U statistic exactly."""
    df = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_type", "value")
    )
    pdf = df.toPandas()
    x = pdf["value"].to_numpy()
    order = np.argsort(x, kind="mergesort")
    ranks = np.empty(len(x), dtype=np.float64)
    sx = x[order]
    i = 0
    while i < len(sx):
        j = i
        while j < len(sx) and sx[j] == sx[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # average 1-based rank
        i = j
    rows = _Q["event_value_mann_whitney"](spark, SF_SMOKE).collect()
    for r in rows:
        mask = (pdf["event_type"] == r.event_type).to_numpy()
        rsum = ranks[mask].sum()
        n_g = mask.sum()
        u = rsum - n_g * (n_g + 1) / 2.0
        assert abs(u - r.u_stat) < 1e-6, r.event_type


# --- daily_revenue_variance_ratio ------------------------------------


def test_variance_ratio_shape(spark):
    r = _Q["daily_revenue_variance_ratio"](spark, SF_SMOKE).collect()
    assert len(r) == 1
    r = r[0]
    assert r.q == 5
    assert r.n_qdiffs == r.n_diffs - (r.q - 1)
    assert r.variance_ratio > 0
    assert r.random_walk_rejected == (abs(r.z_score) >= 1.96 - 5e-5)


def test_variance_ratio_matches_numpy(spark):
    r = _Q["daily_revenue_variance_ratio"](spark, SF_SMOKE).collect()[0]
    daily = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily["y"].astype(float).to_numpy()
    x1 = np.diff(y)
    xq = y[5:] - y[:-5]
    vr = (xq.var(ddof=1)) / (5.0 * x1.var(ddof=1))
    assert abs(vr - r.variance_ratio) < 1e-4


# --- embedding_cluster_label_ari -------------------------------------


def test_ari_matches_numpy_contingency(spark):
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        _km_fit,
    )

    r = _Q["embedding_cluster_label_ari"](spark, SF_SMOKE).collect()[0]
    a = _km_fit(spark, SF_SMOKE)[0].select("cid", "label").toPandas()
    ct = a.groupby(["cid", "label"]).size()
    comb2 = lambda v: (v * (v - 1)) // 2  # noqa: E731
    sidx = int(comb2(ct).sum())
    sa = int(comb2(ct.groupby("cid").sum()).sum())
    sb = int(comb2(ct.groupby("label").sum()).sum())
    n = int(ct.sum())
    c2 = comb2(n)
    expected = sa * sb / c2
    ari = (sidx - expected) / ((sa + sb) / 2 - expected)
    assert r.pair_agree_index == sidx
    assert abs(r.adjusted_rand - ari) < 1e-5
    assert -1.0 <= r.adjusted_rand <= 1.0
    assert 0.0 <= r.rand_index <= 1.0
    assert r.n_vectors == n


# --- corpus_bigram_llr ------------------------------------------------


def test_llr_nonnegative_and_ordered(spark):
    rows = _Q["corpus_bigram_llr"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    vals = [r.llr for r in rows]
    assert vals == sorted(vals, reverse=True)
    # G² is mathematically >= 0; leaf quantization can dip a whisker
    # below zero, never more than the summed 1e-6 leaf errors.
    assert all(v >= -1e-2 for v in vals)
    assert all(r.n_ab >= 5 for r in rows)


def test_llr_top_pair_matches_direct_g2(spark):
    """The top collocation's G² recomputed with exact math (no leaf
    quantization) must agree to within the quantization budget."""
    rows = _Q["corpus_bigram_llr"](spark, SF_SMOKE).collect()
    top = rows[0]
    bc = (
        load_table(spark, SF_SMOKE, "documents")
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(split(trim(regexp_replace(lower(text),"
                    " '\\\\s+', ' ')), ' '), 1,"
                    " size(split(trim(regexp_replace(lower(text), '\\\\s+',"
                    " ' ')), ' ')) - 1),"
                    " slice(split(trim(regexp_replace(lower(text), '\\\\s+',"
                    " ' ')), ' '), 2,"
                    " size(split(trim(regexp_replace(lower(text), '\\\\s+',"
                    " ' ')), ' '))), (a, b) -> concat(a, ' ', b))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .count()
        .toPandas()
    )
    w1, w2 = top.w1, top.w2
    firsts = bc["bigram"].str.split(" ").str[0]
    seconds = bc["bigram"].str.split(" ").str[1]
    k11 = int(bc[(firsts == w1) & (seconds == w2)]["count"].sum())
    r1 = int(bc[firsts == w1]["count"].sum())
    c1 = int(bc[seconds == w2]["count"].sum())
    n = int(bc["count"].sum())
    s = lambda v: 0.0 if v == 0 else v * math.log(v)  # noqa: E731
    g2 = 2.0 * (
        s(k11)
        + s(r1 - k11)
        + s(c1 - k11)
        + s(n - r1 - c1 + k11)
        + s(n)
        - s(r1)
        - s(n - r1)
        - s(c1)
        - s(n - c1)
    )
    assert k11 == top.n_ab
    assert abs(g2 - top.llr) < 0.05  # leaf-quantization budget


# --- doc_blocklist_filter ---------------------------------------------


def _py_portable_hash(word: str, seed: int) -> int:
    return int(hashlib.md5(f"{seed}:{word}".encode()).hexdigest()[:15], 16)


def test_blocklist_matches_python_md5(spark):
    rows = _Q["doc_blocklist_filter"](spark, SF_SMOKE).collect()
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .limit(25)
        .collect()
    }
    by_id = {r.doc_id: r for r in rows}
    import re

    for doc_id, text in docs.items():
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        hits = sum(
            1 for w in toks if _py_portable_hash(w, 11) % 13 == 0
        )
        r = by_id[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_blocked == hits
        assert r.kept == (hits / len(toks) <= 0.08)


def test_blocklist_filter_splits(spark):
    rows = _Q["doc_blocklist_filter"](spark, SF_SMOKE).collect()
    kept = sum(1 for r in rows if r.kept)
    assert 0 < kept < len(rows), "threshold must actually split the corpus"


# --- pit_staleness_audit ----------------------------------------------


def test_staleness_never_negative_and_ordered(spark):
    rows = _Q["pit_staleness_audit"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_matched <= r.n_events
        # no future reads: the as-of rule only joins closed windows,
        # so every staleness is >= 0.
        assert r.p50_staleness_sec >= 0
        assert r.p50_staleness_sec <= r.p95_staleness_sec <= r.max_staleness_sec
        assert 0.0 <= r.beyond_ttl_share <= 1.0


def test_staleness_bruteforce_single_user(spark):
    """Brute-force as-of for one user's events must agree with the
    audit's per-event staleness inputs (recomputed here via the same
    grouping, independent window logic in Python)."""
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts")
        .limit(2000)
        .collect()
    )
    # pick the busiest user in the sample
    from collections import Counter

    uid = Counter(r.user_id for r in ev).most_common(1)[0][0]
    all_ts = [
        r.ts
        for r in load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id") == uid)
        .select("ts")
        .collect()
    ]
    import datetime as dt

    closes = sorted(
        {
            t.replace(minute=0, second=0, microsecond=0)
            + dt.timedelta(hours=1)
            for t in all_ts
        }
    )
    for t in all_ts:
        prior = [c for c in closes if c <= t]
        if prior:
            assert (t - max(prior)).total_seconds() >= 0


# --- embedding_silhouette ----------------------------------------------


def test_silhouette_matches_numpy(spark):
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        _km_fit,
    )

    rows = {
        r.cid: r
        for r in _Q["embedding_silhouette"](spark, SF_SMOKE).collect()
    }
    assignments, final_cents = _km_fit(spark, SF_SMOKE)
    a = assignments.select("cid", "qv").toPandas()
    x = np.array(a["qv"].tolist(), dtype=np.float64) / 1e6
    cids = a["cid"].to_numpy()
    uniq = np.unique(cids)
    # silhouette measures against the ASSIGNMENT-TIME centroids (the
    # same ones the argmin used), not post-assignment recomputed means
    cents = {
        cid: np.array(s_list, dtype=np.float64) / (n * 1e6)
        for cid, s_list, n in final_cents
    }
    per_cluster: dict[int, list[float]] = {int(c): [] for c in uniq}
    for i in range(len(x)):
        own = int(cids[i])
        da = float(np.linalg.norm(x[i] - cents[own]))
        db = min(
            float(np.linalg.norm(x[i] - cents[c])) for c in cents if c != own
        )
        m = max(da, db)
        per_cluster[own].append(0.0 if m == 0 else (db - da) / m)
    for c, vals in per_cluster.items():
        assert abs(rows[c].mean_silhouette - float(np.mean(vals))) < 1e-4
        assert rows[c].n_members == len(vals)
        neg = sum(1 for v in vals if v < 0) / len(vals)
        assert abs(rows[c].misplaced_share - neg) < 1e-9
    allv = [v for vals in per_cluster.values() for v in vals]
    any_row = next(iter(rows.values()))
    assert abs(any_row.overall_mean_silhouette - float(np.mean(allv))) < 1e-4


# --- event_value_kruskal_wallis ------------------------------------------


@pytest.mark.slow
def test_kruskal_wallis_matches_numpy(spark):
    rows = _Q["event_value_kruskal_wallis"](spark, SF_SMOKE).collect()
    assert rows
    k = len(rows)
    for r in rows:
        assert r.df == k - 1
        assert r.h_stat >= 0
        assert r.h_tie_corrected >= r.h_stat  # c in (0,1] inflates H
    pdf = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_type", "value")
        .toPandas()
    )
    x = pdf["value"].to_numpy()
    order = np.argsort(x, kind="mergesort")
    ranks = np.empty(len(x), dtype=np.float64)
    sx = x[order]
    i = 0
    while i < len(sx):
        j = i
        while j < len(sx) and sx[j] == sx[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    n = len(x)
    groups = pdf["event_type"].to_numpy()
    h = 0.0
    for r in rows:
        mask = groups == r.event_type
        rsum = ranks[mask].sum()
        assert abs(rsum / mask.sum() - r.mean_rank) < 1e-3
        h += rsum * rsum / mask.sum()
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    _, counts = np.unique(x, return_counts=True)
    c = 1.0 - (counts**3 - counts).sum() / (n**3 - n)
    assert abs(rows[0].h_stat - h) < 1e-3
    assert abs(rows[0].h_tie_corrected - h / c) < 1e-3


# --- embedding_knn_label_accuracy ----------------------------------------


@pytest.mark.slow
def test_knn_label_accuracy_matches_numpy(spark):
    rows = {
        r.label: r
        for r in _Q["embedding_knn_label_accuracy"](spark, SF_SMOKE).collect()
    }
    pdf = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding", "label")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    labs = pdf["label"].to_numpy()
    ids = pdf["vec_id"].to_numpy()
    nrm = np.linalg.norm(x, axis=1)
    cos = (x @ x.T) / np.outer(nrm, nrm)
    cos_r = np.round(cos, 6)  # the operator ranks on the 6dp-rounded value
    n = len(x)
    correct = {int(l): 0 for l in np.unique(labs)}
    counts = {int(l): 0 for l in np.unique(labs)}
    for i in range(n):
        best = None
        for j in range(n):
            if i == j:
                continue
            key = (cos_r[i, j], -ids[j])
            if best is None or key > best[0]:
                best = (key, labs[j])
        counts[int(labs[i])] += 1
        correct[int(labs[i])] += int(best[1] == labs[i])
    for lab, r in rows.items():
        assert r.n_vectors == counts[lab]
        assert r.n_correct == correct[lab], lab
        assert abs(r.knn_accuracy - correct[lab] / counts[lab]) < 5e-7
    overall = sum(correct.values()) / sum(counts.values())
    assert abs(next(iter(rows.values())).overall_accuracy - overall) < 5e-7


# --- purchase_propensity_calibration ---------------------------------------


def test_calibration_matches_python(spark):
    import datetime as dt

    rows = _Q["purchase_propensity_calibration"](spark, SF_SMOKE).collect()
    assert rows
    split = dt.datetime(2024, 1, 16)
    out_end = dt.datetime(2024, 1, 17)
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_type")
        .collect()
    )
    import math as _m
    from collections import defaultdict

    n1 = defaultdict(int)
    eng = defaultdict(int)
    buyers = set()
    for r in ev:
        if r.ts < split:
            n1[r.user_id] += 1
            if r.event_type in ("click", "purchase"):
                eng[r.user_id] += 1
        elif r.ts < out_end and r.event_type == "purchase":
            buyers.add(r.user_id)
    bins = defaultdict(lambda: [0, 0, 0])  # n, ssq, pos
    for uid, n in n1.items():
        sq = _m.floor(eng[uid] * 1e6 / n)
        b = min(9, sq // 100000)
        bins[b][0] += 1
        bins[b][1] += sq
        bins[b][2] += 1 if uid in buyers else 0
    tn = sum(v[0] for v in bins.values())
    eq = sum(
        v[0] * _m.floor(abs(v[1] / (v[0] * 1e6) - v[2] / v[0]) * 1e9)
        for v in bins.values()
    )
    ece = eq / (tn * 1e9)
    by_bin = {r.bin: r for r in rows}
    assert set(by_bin) == set(bins)
    base_rate = sum(v[2] for v in bins.values()) / tn
    assert 0.05 < base_rate < 0.95, "outcome label must not be degenerate"
    for b, (n, ssq, pos) in bins.items():
        r = by_bin[b]
        assert r.n_users == n
        assert abs(r.mean_predicted - ssq / (n * 1e6)) < 5e-7
        assert abs(r.observed_rate - pos / n) < 5e-7
        assert abs(r.calibration_gap - (ssq / (n * 1e6) - pos / n)) < 5e-7
        assert abs(r.ece - ece) < 5e-7


# --- rec_coverage_gini ------------------------------------------------


@pytest.mark.slow
def test_rec_coverage_gini_matches_python(spark):
    from collections import Counter, defaultdict

    r = _Q["rec_coverage_gini"](spark, SF_SMOKE).collect()[0]
    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for row in li:
        baskets[row.l_orderkey].add(row.l_partkey)
    pair = Counter()
    for items in baskets.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair[(s[i], s[j])] += 1
    sym = defaultdict(list)
    for (a, b), n in pair.items():
        if n >= 2:
            sym[a].append((n, b))
            sym[b].append((n, a))
    freq = Counter()
    slots = 0
    for src, cands in sym.items():
        top = sorted(cands, key=lambda t: (-t[0], t[1]))[:5]
        slots += len(top)
        for _, dst in top:
            freq[dst] += 1
    assert r.n_items_with_recs == len(sym)
    assert r.n_rec_slots == slots
    assert r.n_recommended == len(freq)
    m = len(freq)
    tf = sum(freq.values())
    ordered = sorted(freq.items(), key=lambda kv: (kv[1], kv[0]))
    gnum = sum((2 * (i + 1) - m - 1) * f for i, (_, f) in enumerate(ordered))
    assert abs(r.rec_gini - gnum / (m * tf)) < 5e-7
    assert 0.0 <= r.rec_gini < 1.0
    assert 0.0 < r.catalog_coverage <= 1.0


# --- discount_simpson_paradox_audit ----------------------------------------


def test_simpson_audit_matches_python(spark):
    rows = _Q["discount_simpson_paradox_audit"](spark, SF_SMOKE).collect()
    assert rows
    pdf = (
        load_table(spark, SF_SMOKE, "lineitem")
        .join(
            load_table(spark, SF_SMOKE, "part").select(
                "p_partkey", "p_brand"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_discount") * 100).cast("long").alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
        .toPandas()
    )

    def moments(d):
        n = len(d)
        sx, sy = int(d.x.sum()), int(d.y.sum())
        sxx = int((d.x * d.x).sum())
        sxy = int((d.x * d.y).sum())
        return n * sxy - sx * sy, n * sxx - sx * sx

    nump, denp = moments(pdf)
    flips = 0
    for r in rows:
        numb, denb = moments(pdf[pdf.brand == r.brand])
        assert abs(r.brand_slope - numb / denb) < 1e-3
        expected_flip = (numb > 0) != (nump > 0) if denb != 0 else None
        assert r.sign_flip == expected_flip
        flips += 1 if expected_flip else 0
    assert rows[0].n_sign_flips == flips
    assert rows[0].n_brands == len(rows)


# --- multimodal_image_entropy ----------------------------------------------


def test_image_entropy_matches_independent_decode(spark):
    """Independent Python re-derivation: rebuild each image's pixel
    bytes from the generative definition (chained md5 hex of the
    text) and recompute the histogram entropy."""
    import math as _m
    from collections import Counter

    rows = {
        r.doc_id: r
        for r in _Q["multimodal_image_entropy"](spark, SF_SMOKE).collect()
    }
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .limit(20)
        .collect()
    )
    for d in docs:
        hexes = "".join(
            hashlib.md5(f"{d.text}#{i}".encode()).hexdigest()
            for i in range(24)
        )
        cnt = Counter(hexes.encode())
        n = sum(cnt.values())
        sclc = sum(c * _m.floor(_m.log(c) * 1e6) for c in cnt.values())
        ent = _m.log(n) - sclc / (n * 1e6)
        r = rows[d.doc_id]
        assert r.n_raster_bytes == n == 768
        assert r.n_distinct_bytes == len(cnt)
        assert abs(r.top_byte_share - max(cnt.values()) / n) < 5.1e-7
        assert abs(r.byte_entropy_nats - ent) < 5e-4


# --- daily_revenue_chow_test -------------------------------------------


def test_chow_matches_numpy(spark):
    r = _Q["daily_revenue_chow_test"](spark, SF_SMOKE).collect()[0]
    daily = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y"))
        .orderBy("day")
        .toPandas()
    )
    y = daily["y"].astype(float).to_numpy()
    x = np.arange(len(y), dtype=np.float64)
    n = len(y)
    assert r.n_days == n
    assert r.n_pre == n // 2

    def ssr(xx, yy):
        a = np.vstack([xx, np.ones_like(xx)]).T
        coef, res, *_ = np.linalg.lstsq(a, yy, rcond=None)
        pred = a @ coef
        return float(((yy - pred) ** 2).sum()), coef[0]

    h = n // 2
    ssr_p, _ = ssr(x, y)
    ssr_1, s1 = ssr(x[:h], y[:h])
    ssr_2, s2 = ssr(x[h:], y[h:])
    f = ((ssr_p - ssr_1 - ssr_2) / 2.0) / ((ssr_1 + ssr_2) / (n - 4.0))
    assert abs(r.slope_pre - s1) < max(1e-3, abs(s1) * 1e-5)
    assert abs(r.slope_post - s2) < max(1e-3, abs(s2) * 1e-5)
    assert abs(r.chow_f - f) < max(1e-3, abs(f) * 1e-5)
    assert r.break_detected == (f >= 3.0)


# --- fk_join_skew_advisor --------------------------------------------------


@pytest.mark.slow
def test_fk_advisor_verdicts_consistent(spark):
    rows = _Q["fk_join_skew_advisor"](spark, SF_SMOKE).collect()
    assert len(rows) == 6
    by_fk = {r.fk: r for r in rows}
    # every relation's verdict must follow its own statistics
    for r in rows:
        if r.dim_rows <= 100000:
            assert r.strategy == "broadcast", r.fk
        elif r.skew_ratio > 10.0:
            assert r.strategy == "sort_merge_salted", r.fk
        else:
            assert r.strategy == "sort_merge", r.fk
        assert r.n_keys <= r.fact_rows
        assert r.max_key_rows >= 1
        assert r.skew_ratio >= 1.0
    # nation is tiny at every SF -> its two relations broadcast
    assert by_fk["customer.c_nationkey"].strategy == "broadcast"
    assert by_fk["supplier.s_nationkey"].strategy == "broadcast"


# --- connected_components property test --------------------------------


@pytest.mark.slow
def test_connected_components_matches_union_find(spark):
    """Random graphs vs a Python union-find twin — pins the CC
    primitive (whose round cap the r9 path probe caught) on arbitrary
    shapes: chains, stars, cycles, isolated vertices."""
    import random

    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(41)
    for trial in range(3):
        n = 120 + 60 * trial
        edges = []
        # mix: random pairs + one long chain segment + a star
        for _ in range(n // 2):
            edges.append((rng.randrange(n), rng.randrange(n)))
        base = rng.randrange(n - 30)
        edges += [(i, i + 1) for i in range(base, base + 25)]
        hub = rng.randrange(n)
        edges += [(hub, rng.randrange(n)) for _ in range(10)]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min member id of each component
        comp_min = {}
        for v in range(n):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        expected = {v: comp_min[find(v)] for v in range(n)}

        vdf = spark.createDataFrame(
            [(v,) for v in range(n)], ["doc_id"]
        )
        edf = spark.createDataFrame(edges, ["a", "b"])
        got = {
            r.doc_id: r.label
            for r in connected_components(vdf, edf).collect()
        }
        assert got == expected, f"trial {trial}"


# --- orders_backlog_littles_law ---------------------------------------


@pytest.mark.slow
def test_littles_law_matches_python(spark):
    import datetime as dt
    from collections import defaultdict

    rows = {
        r.month: r
        for r in _Q["orders_backlog_littles_law"](spark, SF_SMOKE).collect()
    }
    o = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "lineitem").select(
                "l_orderkey", "l_shipdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("sd"))
        .collect()
    )
    lo = min(r.od for r in o)
    hi = max(r.sd for r in o)
    delta = defaultdict(int)
    arrivals = defaultdict(int)
    cyc = defaultdict(int)
    for r in o:
        delta[r.od] += 1
        delta[r.sd + dt.timedelta(days=1)] -= 1
        m = r.od.replace(day=1)
        arrivals[m] += 1
        cyc[m] += (r.sd - r.od).days + 1
    wip = 0
    wip_sum = defaultdict(int)
    n_days = defaultdict(int)
    day = lo
    while day <= hi:
        wip += delta.get(day, 0)
        m = day.replace(day=1)
        wip_sum[m] += wip
        n_days[m] += 1
        day += dt.timedelta(days=1)
    for m, r in rows.items():
        assert r.n_arrivals == arrivals[m]
        assert r.n_days == n_days[m]
        avg_wip = wip_sum[m] / n_days[m]
        mean_cyc = cyc[m] / arrivals[m]
        lam = arrivals[m] / n_days[m]
        assert abs(r.avg_wip - avg_wip) < 1e-3
        assert abs(r.mean_cycle_days - mean_cyc) < 1e-3
        assert abs(r.littles_ratio - avg_wip / (lam * mean_cyc)) < 1e-3
    # interior months of a stationary generator should sit near 1
    mid = sorted(rows)[len(rows) // 2]
    assert 0.5 < rows[mid].littles_ratio < 2.0


# --- embedding_hubness_audit -------------------------------------------


@pytest.mark.slow
def test_hubness_matches_numpy(spark):
    r = _Q["embedding_hubness_audit"](spark, SF_SMOKE).collect()[0]
    pdf = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    nrm = np.linalg.norm(x, axis=1)
    cos = np.round((x @ x.T) / np.outer(nrm, nrm), 6)
    n = len(x)
    occ = {int(v): 0 for v in ids}
    for i in range(n):
        cands = [
            (cos[i, j], -ids[j], ids[j]) for j in range(n) if j != i
        ]
        cands.sort(reverse=True)
        for _, _, nid in cands[:5]:
            occ[int(nid)] += 1
    vals = np.array(list(occ.values()))
    assert r.n_vectors == n
    assert r.max_k_occurrence == vals.max()
    assert r.n_anti_hubs == int((vals == 0).sum())
    assert r.n_hubs == int((vals > 10).sum())
    cv2 = n * (vals**2).sum() / vals.sum() ** 2 - 1.0
    assert abs(r.k_occurrence_cv2 - cv2) < 5e-7


# --- dup_pair_source_matrix --------------------------------------------


@pytest.mark.slow
def test_dup_source_matrix_consistent_with_edges(spark):
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        duplicate_edges,
    )

    rows = _Q["dup_pair_source_matrix"](spark, SF_SMOKE).collect()
    assert rows
    edges = duplicate_edges(spark, SF_SMOKE).collect()
    src = {
        r.doc_id: r.source
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    from collections import Counter

    expected = Counter()
    for e in edges:
        a, b = sorted((src[e.a], src[e.b]))
        expected[(a, b)] += 1
    got = {(r.source_a, r.source_b): r.n_dup_pairs for r in rows}
    assert got == dict(expected)
    # total pairs conserved
    assert sum(got.values()) == len(edges)
    for r in rows:
        assert r.cross_source == (r.source_a != r.source_b)
        assert 0.0 < r.pair_density <= 1.0


# --- dedup_transitivity_audit -------------------------------------------


@pytest.mark.slow
def test_transitivity_audit_matches_python(spark):
    from collections import defaultdict

    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        duplicate_edges,
    )

    r = _Q["dedup_transitivity_audit"](spark, SF_SMOKE).collect()[0]
    edges = {(e.a, e.b) for e in duplicate_edges(spark, SF_SMOKE).collect()}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    wedges = closed = 0
    for j in adj:
        for i in adj[j]:
            for k in adj[j]:
                if i < k:
                    wedges += 1
                    if k in adj[i]:
                        closed += 1
    assert r.n_edges == len(edges)
    assert r.n_wedges == wedges
    assert r.n_closed_wedges == closed
    assert r.n_open_wedges == wedges - closed
    if wedges:
        assert abs(r.closure_rate - closed / wedges) < 5e-7


# --- label_horizon_sweep -------------------------------------------------


def test_label_horizon_sweep_monotone_and_consistent(spark):
    rows = sorted(
        _Q["label_horizon_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r.horizon_hours,
    )
    assert [r.horizon_hours for r in rows] == [1, 6, 24, 72]
    # positives monotone non-decreasing in horizon; lookups constant
    n = rows[0].n_lookups
    prev = -1
    for r in rows:
        assert r.n_lookups == n
        assert r.n_positive >= prev
        prev = r.n_positive
        assert abs(r.positive_rate - r.n_positive / n) < 5e-7
        if r.n_positive:
            assert 0 < r.mean_gap_s <= r.horizon_hours * 3600
    # the 72h row must agree with pit_label_join (LABEL_HORIZON_HOURS=72)
    lab = _Q["pit_label_join"](spark, SF_SMOKE).collect()
    pos72 = sum(1 for r in lab if r.label == 1)
    r72 = next(r for r in rows if r.horizon_hours == 72)
    assert r72.n_positive == pos72
    assert r72.n_lookups == len(lab)


# --- drift_quantile_shift -------------------------------------------------


def test_quantile_shift_matches_numpy(spark):
    import datetime as dt

    rows = _Q["drift_quantile_shift"](spark, SF_SMOKE).collect()
    assert rows
    pdf = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_type", "ts", "value")
        .toPandas()
    )
    split = dt.datetime(2024, 1, 16)
    by = {}
    for r in rows:
        by[(r.feature, r.decile)] = r
    for feat in pdf["event_type"].unique():
        sub = pdf[pdf["event_type"] == feat]
        for is_ref, half in (
            (True, sub[sub["ts"] < split]),
            (False, sub[sub["ts"] >= split]),
        ):
            xs = np.sort(half["value"].to_numpy())
            for d in range(1, 10):
                # discrete quantile: smallest element with cum share >= q
                # (exact rational arithmetic — float 0.1*d*n can land a
                # hair above an integer and shift ceil by one)
                import math as _m
                from fractions import Fraction

                idx = _m.ceil(Fraction(d, 10) * len(xs)) - 1
                want = xs[max(0, idx)]
                r = by[(feat, d)]
                got = r.ref_value if is_ref else r.cur_value
                assert got == want, (feat, d, is_ref)
    for r in rows:
        assert abs(r.shift - (r.cur_value - r.ref_value)) < 5e-7
