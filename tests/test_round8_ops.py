"""Semantic invariants for the round-8 operator batch (DP
contribution bounding, graph modularity, bitext margin mining,
streaming as-of enrichment, audio frame features).  Oracle parity
certifies VALUES; these pin the properties parity can't state:
clipping monotonicity, the modularity identity and its bounds,
margin's hub-penalty behavior, PIT leakage-freedom, and the audio
kernel's agreement with an independent Python decode.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry
from tests.conftest import SF_SMOKE

_Q = registry.queries()


# --- dp_contribution_bounding ---------------------------------------


def test_dp_bounding_invariants(spark):
    rows = _Q["dp_contribution_bounding"](spark, SF_SMOKE).collect()
    assert rows, "audit must cover at least one day"
    for r in rows:
        # bounded never exceeds raw; bias is exactly the gap.
        assert r.bounded_sum <= r.raw_sum + 1e-9
        assert abs((r.raw_sum - r.bounded_sum) - r.clip_bias) < 1e-6
        assert 0 <= r.n_clipped <= r.n_users
        # no user clipped -> zero bias; some clipped -> positive bias.
        if r.n_clipped == 0:
            assert r.clip_bias == 0.0
        else:
            assert r.clip_bias > 0.0
        assert r.l1_sensitivity == 100.0


def test_dp_bounding_bounded_sum_capped_by_users_times_cap(spark):
    rows = _Q["dp_contribution_bounding"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r.bounded_sum <= r.n_users * 100.0 + 1e-9


# --- graph_modularity ------------------------------------------------


def test_modularity_terms_sum_to_global(spark):
    rows = _Q["graph_modularity"](spark, SF_SMOKE).collect()
    assert rows
    q_global = rows[0].modularity
    assert all(abs(r.modularity - q_global) < 1e-12 for r in rows)
    # additivity: per-community terms re-sum to the global Q (terms
    # are each rounded to 6dp, so allow n·5e-7 of rounding slack).
    assert abs(sum(r.modularity_term for r in rows) - q_global) < max(
        5e-7 * len(rows), 1e-6
    )
    # Newman bounds: Q in [-0.5, 1).
    assert -0.5 <= q_global < 1.0


def test_modularity_edge_accounting(spark):
    """Internal edges never exceed what the degree sum allows, and
    the degree grand total is twice the (undirected) edge count."""
    rows = _Q["graph_modularity"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 2 * r.internal_edges <= r.degree_sum
    # Σ_c d_c = 2m: every directed edge contributes one endpoint.
    # Recover 2m from any row's term: qterm = 2m·e_in − d_c² — use
    # the identity on a community with e_in = 0 only if present;
    # otherwise just check degree sums are positive.
    assert all(r.degree_sum > 0 for r in rows)


# --- embedding_bitext_margin -----------------------------------------


@pytest.mark.slow
def test_bitext_margin_one_best_per_source(spark):
    rows = _Q["embedding_bitext_margin"](spark, SF_SMOKE).collect()
    assert rows
    xs = [r.x_id for r in rows]
    assert len(xs) == len(set(xs)), "exactly one best match per source"
    import duckdb

    labels = dict(
        duckdb.connect()
        .execute(f"SELECT vec_id, label FROM '{SF_SMOKE}/embeddings.parquet'")
        .fetchall()
    )
    for r in rows:
        # sides are defined by label parity: sources even, targets odd.
        assert labels[r.x_id] % 2 == 0 and labels[r.y_id] % 2 == 1
        assert -1.0 <= r.cosine_sim <= 1.0
        assert r.margin > 0


def test_bitext_margin_mutual_is_symmetric_best(spark):
    """A pair flagged mutual must be its target's best source too —
    re-derive the reverse election from the pair frame itself."""
    df = _Q["embedding_bitext_margin"](spark, SF_SMOKE)
    rows = df.collect()
    mutual = [(r.x_id, r.y_id) for r in rows if r.is_mutual]
    # a target can be the best of many sources, but mutual pairs
    # must map distinct targets (an injective partial matching).
    ys = [y for _, y in mutual]
    assert len(ys) == len(set(ys))


# --- stream_asof_enrichment ------------------------------------------


@pytest.mark.slow
def test_stream_asof_never_leaks_open_window(spark):
    """THE PIT guarantee: every attached feature_timestamp (an hourly
    window CLOSE) precedes or equals the event's own timestamp."""
    rows = _Q["stream_asof_enrichment"](spark, SF_SMOKE).collect()
    assert rows
    n_featured = 0
    for r in rows:
        if r.feature_timestamp is not None:
            n_featured += 1
            assert r.feature_timestamp <= r.ts
    # the corpus spans many hours, so most events must be enriched.
    assert n_featured > len(rows) // 2


def test_stream_asof_covers_every_event(spark):
    import duckdb

    want = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM '{SF_SMOKE}/events.parquet' "
        "WHERE user_id IS NOT NULL"
    ).fetchone()[0]
    got = _Q["stream_asof_enrichment"](spark, SF_SMOKE).count()
    assert got == want


# --- multimodal_audio_energy -----------------------------------------


def _py_pcm_features(text: str) -> list[tuple[int, int, int, int]]:
    """Independent Python twin of the audio kernel (hashlib, no
    Spark, no numpy reshape tricks)."""
    hexes = "".join(
        hashlib.md5(f"{text}#{i}".encode()).hexdigest() for i in range(24)
    )
    x = [ord(c) for c in hexes]
    out = []
    for f in range(12):
        fr = x[f * 64 : (f + 1) * 64]
        zc = sum(
            1
            for a, b in zip(fr, fr[1:])
            if (a >= 75) != (b >= 75)
        )
        out.append((f, sum(v * v for v in fr), max(fr), zc))
    return out


def test_audio_kernel_matches_python_decode(spark):
    import duckdb

    texts = dict(
        duckdb.connect()
        .execute(
            f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet' LIMIT 5"
        )
        .fetchall()
    )
    df = _Q["multimodal_audio_energy"](spark, SF_SMOKE).filter(
        F.col("doc_id").isin(*texts.keys())
    )
    got = {
        (r.doc_id, r.frame): (r.sum_sq, r.peak, r.zero_crossings)
        for r in df.collect()
    }
    for doc_id, text in texts.items():
        for f, ssq, peak, zc in _py_pcm_features(text):
            assert got[(doc_id, f)] == (ssq, peak, zc)


def test_audio_rms_consistent_with_sum_sq(spark):
    rows = _Q["multimodal_audio_energy"](spark, SF_SMOKE).limit(50).collect()
    for r in rows:
        assert abs(r.rms - round(float(np.sqrt(r.sum_sq / 64.0)), 6)) < 1e-9


# --- returnflag_anova_ftest -----------------------------------------


def test_anova_partition_identity(spark):
    """SSB + SSW = SST and eta² ∈ [0, 1]; F non-negative with the
    right degrees of freedom for 3 groups."""
    rows = _Q["returnflag_anova_ftest"](spark, SF_SMOKE).collect()
    assert len(rows) == 3
    r = rows[0]
    assert all(x.f_stat == r.f_stat for x in rows)
    assert r.df_between == 2
    assert r.df_within == sum(x.n for x in rows) - 3
    assert r.f_stat >= 0
    assert 0.0 <= r.eta_squared <= 1.0


def test_anova_matches_numpy(spark):
    import duckdb

    vals = duckdb.connect().execute(
        f"SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) "
        f"FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchall()
    groups: dict[str, list[float]] = {}
    for flag, v in vals:
        groups.setdefault(flag, []).append(round(v, 2))
    gm = [np.array(v) for v in groups.values()]
    allv = np.concatenate(gm)
    sst = ((allv - allv.mean()) ** 2).sum()
    ssb = sum(len(g) * (g.mean() - allv.mean()) ** 2 for g in gm)
    k, n = len(gm), len(allv)
    f_ref = (ssb / (k - 1)) / ((sst - ssb) / (n - k))
    r = _Q["returnflag_anova_ftest"](spark, SF_SMOKE).collect()[0]
    assert abs(r.f_stat - f_ref) < max(1e-3, 1e-4 * abs(f_ref))


# --- feature_information_gain ---------------------------------------


def test_information_gain_bounds_and_ranking(spark):
    rows = {r.feature: r for r in _Q["feature_information_gain"](
        spark, SF_SMOKE
    ).collect()}
    assert set(rows) == {"segment", "nation", "bal_band"}
    for r in rows.values():
        # IG is bounded by the label entropy and non-negative
        # (up to the 4dp emission rounding).
        assert -1e-4 <= r.info_gain <= r.h_label + 1e-4
        assert r.h_label_given_bin <= r.h_label + 1e-4
        assert r.gain_ratio is None or r.gain_ratio >= -1e-4
    # identity: h_label - h_label_given_bin == info_gain (4dp).
    for r in rows.values():
        assert abs((r.h_label - r.h_label_given_bin) - r.info_gain) < 2e-4


# --- online_offline_skew_audit --------------------------------------


def test_skew_audit_consistency(spark):
    rows = {r.feature: r for r in _Q["online_offline_skew_audit"](
        spark, SF_SMOKE
    ).collect()}
    assert set(rows) == {"total_events", "total_revenue"}
    ev, rev = rows["total_events"], rows["total_revenue"]
    # the two features audit the same entity universe.
    assert ev.n_entities == rev.n_entities
    assert ev.n_new_entities == rev.n_new_entities
    for r in rows.values():
        assert 0 <= r.n_new_entities <= r.n_entities
        assert 0 <= r.n_changed <= r.n_entities
        assert abs(r.changed_share - round(r.n_changed / r.n_entities, 6)) < 1e-9
        assert r.max_abs_delta <= r.total_drift + 1e-9
        # something happened in the last 6 hours of a month of data.
        assert r.n_changed > 0
    # structurally, only for the EVENT-COUNT feature: a new entity has
    # ev1 = 0 < ev2, so it is necessarily counted as changed.  (A new
    # entity with no purchases has rev1 = rev2 = 0 — unchanged revenue
    # — so the same bound does NOT hold for total_revenue.)
    assert ev.n_new_entities <= ev.n_changed
    # an entity whose event count changed is exactly an entity with
    # events in (T1, T2]; its revenue may or may not change, so the
    # event-count feature bounds the revenue feature from above.
    assert rev.n_changed <= ev.n_changed


# --- cross_table_consistency_audit ----------------------------------


def test_consistency_audit_gates(spark):
    rows = {r.check_name: r for r in _Q["cross_table_consistency_audit"](
        spark, SF_SMOKE
    ).collect()}
    assert len(rows) == 8
    # the four FK edges are clean on the generator's data...
    for name in [
        "orders.o_custkey -> customer",
        "lineitem.l_orderkey -> orders",
        "lineitem.l_partkey -> part",
        "events.user_id -> customer",
    ]:
        assert rows[name].passed and rows[name].n_violations == 0
    # ...but the temporal gate is genuinely red: the generator draws
    # l_shipdate and o_orderdate independently.
    t = rows["lineitem.l_shipdate >= orders.o_orderdate"]
    assert not t.passed and t.n_violations > 0
    st = rows["orders.o_orderstatus consistent with lineitem.l_linestatus"]
    assert not st.passed and st.n_violations > 0
    ln = rows["lineitem.l_linenumber contiguous 1..n per order"]
    assert not ln.passed and ln.n_violations > 0
    for r in rows.values():
        assert 0 <= r.n_violations <= r.n_checked
        assert r.passed == (r.n_violations == 0)
