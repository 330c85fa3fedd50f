"""Semantic edge cases for the behavioral-analytics operators
(funnel ordering, session-gap boundaries, SCD2 compaction) that the
oracle parity check can't isolate on the synthetic corpus."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.operators.analytics import (
    cohort_retention,
    funnel,
    scd2_compact,
    sessionize,
)

from conftest import SF_SMOKE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )


class TestFunnel:
    @pytest.mark.slow
    def test_order_enforced(self, spark):
        # user 1: click BEFORE any view — click must not progress the funnel
        rows = [
            (1, _ts("2024-01-01 00:00:00"), "click", 1),
            (1, _ts("2024-01-01 01:00:00"), "view", 2),
            (1, _ts("2024-01-01 02:00:00"), "purchase", 3),  # no click after view
            (2, _ts("2024-01-01 00:00:00"), "view", 4),
            (2, _ts("2024-01-01 00:30:00"), "click", 5),
            (2, _ts("2024-01-01 00:45:00"), "purchase", 6),
        ]
        out = funnel(_events(spark, rows), ["view", "click", "purchase"])
        got = {r["user_id"]: r for r in out.collect()}
        assert got[1]["stage_reached"] == 1
        assert got[1]["stage1_click_ts"] is None
        assert got[2]["stage_reached"] == 3
        assert got[2]["stage2_purchase_ts"] == _ts("2024-01-01 00:45:00")

    def test_equal_timestamp_progresses(self, spark):
        rows = [
            (1, _ts("2024-01-01 00:00:00"), "view", 1),
            (1, _ts("2024-01-01 00:00:00"), "click", 2),  # same instant counts
        ]
        out = funnel(_events(spark, rows), ["view", "click"])
        assert out.collect()[0]["stage_reached"] == 2

    def test_no_events_of_first_stage(self, spark):
        rows = [(1, _ts("2024-01-01 00:00:00"), "error", 1)]
        out = funnel(_events(spark, rows), ["view", "click"])
        assert out.collect()[0]["stage_reached"] == 0


class TestSessionize:
    def test_gap_boundary(self, spark):
        # gap exactly == threshold stays in-session; strictly greater splits
        rows = [
            (1, _ts("2024-01-01 00:00:00"), "view", 1),
            (1, _ts("2024-01-01 00:30:00"), "view", 2),  # == 30 min: same session
            (1, _ts("2024-01-01 01:00:01"), "view", 3),  # 30m01s: new session
        ]
        out = sessionize(_events(spark, rows), 30.0, tiebreak="event_id")
        sids = [r["session_id"] for r in out.orderBy("event_id").collect()]
        assert sids == [1, 1, 2]

    def test_sessions_per_user_independent(self, spark):
        rows = [
            (1, _ts("2024-01-01 00:00:00"), "view", 1),
            (2, _ts("2024-01-01 00:00:00"), "view", 2),
            (2, _ts("2024-01-02 00:00:00"), "view", 3),
        ]
        out = sessionize(_events(spark, rows), 30.0, tiebreak="event_id")
        per_user = {
            r["user_id"]: r["n"]
            for r in out.groupBy("user_id").agg(F.max("session_id").alias("n")).collect()
        }
        assert per_user == {1: 1, 2: 2}


class TestScd2:
    def test_compaction_and_ranges(self, spark):
        snaps = spark.createDataFrame(
            [
                (1, dt.date(2024, 1, 1), "low"),
                (1, dt.date(2024, 1, 2), "low"),   # unchanged: compacted away
                (1, dt.date(2024, 1, 3), "high"),
                (1, dt.date(2024, 1, 5), "low"),
                (2, dt.date(2024, 1, 1), "mid"),
            ],
            "user_id long, d date, band string",
        )
        out = scd2_compact(snaps, key="user_id", attr="band", effective_from="d")
        u1 = [r.asDict() for r in out.filter("user_id = 1").orderBy("version").collect()]
        assert [r["band"] for r in u1] == ["low", "high", "low"]
        assert u1[0]["effective_to"] == dt.date(2024, 1, 3)
        assert u1[1]["effective_to"] == dt.date(2024, 1, 5)
        assert u1[2]["effective_to"] is None and u1[2]["is_current"]
        assert [r["version"] for r in u1] == [1, 2, 3]
        # ranges tile the history: each effective_to equals next effective_from
        assert u1[0]["effective_to"] == u1[1]["effective_from"]

    def test_single_snapshot_is_current(self, spark):
        snaps = spark.createDataFrame(
            [(9, dt.date(2024, 2, 1), "mid")], "user_id long, d date, band string"
        )
        row = scd2_compact(snaps, "user_id", "band", "d").collect()[0]
        assert row["is_current"] and row["version"] == 1


class TestIntervalJoinQuery:
    @pytest.mark.slow
    def test_bands_tile_all_events(self, spark):
        from ml_feature_store_enterprise_grade_spark.operators.analytics import (
            activity_band_interval_join,
        )
        from ml_feature_store_enterprise_grade_spark.catalog import load_table

        out = activity_band_interval_join(spark, SF_SMOKE)
        total = sum(r["n_events"] for r in out.collect())
        expected = (
            load_table(spark, SF_SMOKE, "events")
            .filter("user_id IS NOT NULL AND ts IS NOT NULL")
            .count()
        )
        # half-open [from, to) + NULL-open current row ⇒ every event
        # matches exactly one interval: the rollup tiles the corpus
        assert total == expected


class TestCohortRetentionQuery:
    def test_offset_zero_full_retention(self, spark):
        out = cohort_retention(spark, SF_SMOKE).collect()
        assert out, "cohort triangle must not be empty"
        for r in out:
            if r["week_offset"] == 0:
                assert r["retention"] == 1.0
            assert 0.0 < r["retention"] <= 1.0
            assert r["cohort_size"] >= r["n_active"]


def test_decay_weighted_features_semantics(spark):
    """Decayed sums are bounded by their undecayed counterparts, every
    weight lives in (0, 1], and a user's decayed_events matches the
    exact Python sum of 0.5^(age/half_life) over their events."""
    import math

    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _DECAY_ASOF,
        _DECAY_HALF_LIFE_DAYS,
        user_decay_weighted_features,
    )

    out = {r["user_id"]: r for r in user_decay_weighted_features(spark, SF_SMOKE).collect()}
    assert out

    events = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .filter(F.col("ts") <= F.lit(_DECAY_ASOF).cast("timestamp"))
        .select("user_id", "ts")
        .collect()
    )
    asof = dt.datetime.fromisoformat(_DECAY_ASOF)
    by_user: dict[int, list] = {}
    for r in events:
        by_user.setdefault(r["user_id"], []).append(r["ts"])
    for uid, row in out.items():
        ts_list = by_user[uid]
        assert 0.0 < row["last_event_weight"] <= 1.0
        assert row["decayed_events"] <= len(ts_list)
        assert row["decayed_clicks"] <= row["decayed_events"] + 1e-9
        expect = sum(
            0.5 ** ((asof - t).total_seconds() / 86400.0 / _DECAY_HALF_LIFE_DAYS)
            for t in ts_list
        )
        assert abs(row["decayed_events"] - expect) < 1e-5
    assert set(out) == set(by_user)


@pytest.mark.slow
def test_item_pagerank_invariants(spark):
    """PageRank sanity: scores positive, mass ≈ 1 over the node set
    (power iteration from uniform preserves total mass on a graph
    with no dangling nodes — every node here has degree ≥ 1), and
    higher-degree hubs do not rank below the isolated-chain floor."""
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        item_pagerank,
    )
    from tests.conftest import SF_SMOKE

    rows = item_pagerank(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r.pr_permille for r in rows) / 1000.0
    assert abs(total - 1.0) < 1e-3
    assert all(r.pr_permille > 0 for r in rows)
    assert all(r.deg >= 1 for r in rows)


@pytest.mark.slow
def test_als_fused_loss_two_stages(spark):
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        item_implicit_als_epoch,
    )

    out = item_implicit_als_epoch(spark, SF_SMOKE).collect()
    # the fused single-pass aggregate must still unpack to the two
    # report rows with a shared interaction count
    assert [r.stage for r in out] == ["after_epoch", "after_item_step"]
    assert out[0].n_interactions == out[1].n_interactions > 0
