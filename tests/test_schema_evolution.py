"""Offline-store schema evolution: a feature view gains a column —
old partitions read as NULL, incremental materialization carries the
widened schema, serving exposes the new feature."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.operators.feature_agg import hourly_features
from ml_feature_store_enterprise_grade_spark.store import Entity, FeatureStore, FeatureView
from tests.conftest import SF_SMOKE

USER = Entity("user", join_key="user_id", value_type="bigint")


@pytest.mark.slow
def test_view_gains_feature_column(spark, tmp_path):
    fs = FeatureStore(spark, str(tmp_path))
    v1 = FeatureView(
        "ucf", USER, features=("total_events", "click_count"), ttl=timedelta(hours=24)
    )
    fs.apply([USER, v1])
    feats = hourly_features(load_table(spark, SF_SMOKE, "events"))
    cutoff = "2024-01-15"

    # Era 1: two features only.
    fs.write_offline(
        "ucf",
        feats.select("user_id", "feature_timestamp", "total_events", "click_count").filter(
            F.to_date("feature_timestamp") < F.lit(cutoff)
        ),
    )
    fs.materialize("ucf")

    # Era 2: schema gains total_revenue; register the widened view.
    v2 = FeatureView(
        "ucf",
        USER,
        features=("total_events", "click_count", "total_revenue"),
        ttl=timedelta(hours=24),
    )
    fs.apply([v2])
    fs.write_offline(
        "ucf",
        feats.select(
            "user_id", "feature_timestamp", "total_events", "click_count", "total_revenue"
        ).filter(F.to_date("feature_timestamp") >= F.lit(cutoff)),
        mode="append",
    )

    merged = fs.read_offline("ucf")
    assert "total_revenue" in merged.columns
    # Old-era rows surface NULL for the new column.
    old_rows = merged.filter(F.to_date("feature_timestamp") < F.lit(cutoff))
    assert old_rows.count() > 0
    assert old_rows.filter(F.col("total_revenue").isNotNull()).count() == 0

    # Incremental materialize over the widened store works and serves
    # the new feature for recently-active users.
    snap = fs.materialize("ucf")
    assert "total_revenue" in snap.columns
    recent = snap.filter(F.to_date("feature_timestamp") >= F.lit(cutoff))
    assert recent.filter(F.col("total_revenue").isNotNull()).count() == recent.count()

    some_user = recent.select("user_id").first().user_id
    out = fs.get_online_features(
        ["ucf:total_revenue"], spark.createDataFrame([(some_user,)], "user_id bigint")
    )
    assert out.first().ucf__total_revenue is not None
