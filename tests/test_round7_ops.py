"""Semantic invariant tests for the round-7 operator batch: the
nearest-direction as-of join against a direct Python reference on
randomized inputs (the same harness discipline as ``asof_join``'s
property test), and structural invariants for the graph / survival /
experiment operators on the smoke corpus.  Oracle parity already
certifies values; these pin the SEMANTICS that parity alone can't
state (tie direction, core degree bound, monotone survival,
exhaustive-partition communities)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.operators.analytics import (
    _KCORE_K,
)
from ml_feature_store_enterprise_grade_spark.operators.asof import (
    asof_join_nearest,
)
from tests.conftest import SF_SMOKE


T0 = datetime(2024, 1, 1)

ts_strategy = st.integers(min_value=0, max_value=48).map(
    lambda h: T0 + timedelta(hours=h)
)

feature_rows = st.lists(
    st.tuples(st.integers(0, 3), ts_strategy, st.integers(0, 1000)),
    min_size=0,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),
)
entity_rows = st.lists(
    st.tuples(st.integers(0, 4), ts_strategy),
    min_size=1,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),
)


def _python_nearest(entities, features, tol_hours):
    out = {}
    tol = timedelta(hours=tol_hours)
    for key, lookup in entities:
        best = None
        for fk, fts, val in features:
            if fk != key or abs(fts - lookup) > tol:
                continue
            cand = (abs(fts - lookup), fts, val)
            if best is None or cand[:2] < best[:2]:  # tie -> earlier fts
                best = cand
        out[(key, lookup)] = (best[1], best[2]) if best else None
    return out


@pytest.mark.slow
@pytest.mark.parametrize("tol_hours", [3, 12])
@settings(max_examples=12, deadline=None)
@given(entities=entity_rows, features=feature_rows)
def test_nearest_asof_matches_reference(spark, tol_hours, entities, features):
    e = spark.createDataFrame(entities, "user_id int, lookup_ts timestamp")
    f = spark.createDataFrame(
        features, "user_id int, feature_timestamp timestamp, v int"
    )
    got = {
        (r.user_id, r.lookup_ts): (r.feature_timestamp, r.v)
        if r.feature_timestamp is not None
        else None
        for r in asof_join_nearest(
            e, f, key="user_id", tol_hours=tol_hours, feature_cols=("v",)
        ).collect()
    }
    want = _python_nearest(entities, features, tol_hours)
    assert got == want


def test_kcore_members_meet_degree_bound(spark):
    rows = registry.queries()["item_kcore_membership"](
        spark, SF_SMOKE
    ).collect()
    assert rows, "smoke corpus should have a non-empty 3-core"
    assert all(r.core_degree >= _KCORE_K for r in rows)
    # converged is a single graph-level fact, identical on every row
    assert len({r.converged for r in rows}) == 1


def test_lpa_communities_partition_the_node_set(spark):
    rows = registry.queries()["item_label_propagation"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    # labels are node ids; every community's id range contains members
    for r in rows:
        assert r.n_members >= 1
        assert r.min_item <= r.max_item
    # communities are disjoint by construction (groupBy label); the
    # roster must cover every node exactly once
    total = sum(r.n_members for r in rows)
    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from pyspark.sql import functions as F

    l = load_table(spark, SF_SMOKE, "lineitem")
    basket = l.select("l_orderkey", "l_partkey").distinct()
    a, b = basket.alias("a"), basket.alias("b")
    n_nodes = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy("a.l_partkey", "b.l_partkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            F.explode(
                F.array(F.col("a.l_partkey"), F.col("b.l_partkey"))
            ).alias("v")
        )
        .distinct()
        .count()
    )
    assert total == n_nodes


def test_survival_curve_is_monotone(spark):
    rows = (
        registry.queries()["session_survival_curve"](spark, SF_SMOKE)
        .orderBy("duration_min")
        .collect()
    )
    assert rows
    prev_s, prev_n = 1.0 + 1e-9, None
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= prev_s + 1e-9  # non-increasing
        if prev_n is not None:
            assert r.n_at_risk <= prev_n  # risk set shrinks
        assert 0.0 <= r.hazard <= 1.0
        prev_s, prev_n = r.survival, r.n_at_risk


def test_srm_audit_accepts_the_null_hypothesis(spark):
    rows = registry.queries()["ab_assignment_srm_audit"](
        spark, SF_SMOKE
    ).collect()
    assert {r.arm for r in rows} == {"control", "treat_a", "treat_b"}
    # the portable hash IS uniform: the design split must not trip SRM
    assert all(not r.srm_flag for r in rows)
    assert len({r.srm_chi2 for r in rows}) == 1


def test_rake_ranking_is_dense_and_positive(spark):
    rows = (
        registry.queries()["doc_rake_keyphrases"](spark, SF_SMOKE)
        .orderBy("rank")
        .collect()
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.rake_score for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    assert all(r.n_words >= 1 and r.n_occurrences >= 1 for r in rows)


def test_ndcg_metrics_are_proper_fractions(spark):
    rows = registry.queries()["rec_popularity_ndcg"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert r.n_test_users > 0
        for v in (r.mean_ndcg_at_10, r.mean_precision_at_10, r.hit_rate):
            assert 0.0 <= v <= 1.0
        # a hit is necessary for any NDCG mass
        if r.mean_ndcg_at_10 > 0:
            assert r.hit_rate > 0


def test_streak_ordering_invariants(spark):
    rows = registry.queries()["user_activity_streaks"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r.current_streak <= r.longest_streak <= r.n_active_days
        assert r.n_streaks >= 1
        assert r.longest_streak_start is not None


def test_abc_classes_partition_revenue(spark):
    rows = registry.queries()["part_revenue_abc_classes"](
        spark, SF_SMOKE
    ).collect()
    got = {r.abc: r for r in rows}
    assert set(got) == {"A", "B", "C"}
    assert abs(sum(r.part_share for r in rows) - 1.0) < 1e-5
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-5
    # class construction: A's cumulative band is the largest, C's the
    # smallest (the synthetic corpus is near-uniform, so the classic
    # "A has few parts" Pareto shape does NOT hold here — only the
    # band ordering is structural)
    assert (
        got["A"].revenue_share
        >= got["B"].revenue_share
        >= got["C"].revenue_share
    )


def test_changepoint_scan_splits_cover_series(spark):
    rows = (
        registry.queries()["revenue_changepoint_scan"](spark, SF_SMOKE)
        .orderBy("rank")
        .collect()
    )
    assert [r.rank for r in rows] == [1, 2, 3]
    totals = {r.n_before + r.n_after for r in rows}
    assert len(totals) == 1  # every split partitions the same series
    gains = [r.gain_m for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert all(g >= 0 for g in gains)  # variance reduction is nonnegative
