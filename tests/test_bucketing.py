"""Bucketed co-located joins: the plan must show no shuffle Exchange
on bucketed sides, and results must match the plain-join baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.operators.feature_agg import hourly_features
from ml_feature_store_enterprise_grade_spark.sources.bucketed import (
    read_bucketed,
    write_bucketed,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    events = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    feats = hourly_features(events).select(
        "user_id", "feature_timestamp", "total_events", "total_revenue"
    )
    daily = events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    write_bucketed(feats, "b_feats", "user_id", 8)
    write_bucketed(daily, "b_daily", "user_id", 8)
    yield "b_feats", "b_daily"
    spark.sql("DROP TABLE IF EXISTS b_feats")
    spark.sql("DROP TABLE IF EXISTS b_daily")


@pytest.mark.slow
def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    t1, t2 = bucketed_tables
    a, b = read_bucketed(spark, t1), read_bucketed(spark, t2)
    joined = a.join(b, "user_id").groupBy("user_id").agg(
        F.count("*").alias("n_pairs"), F.sum("total_revenue").alias("rev")
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # Bucket distribution satisfies both the join and the groupBy on
    # user_id — the whole query must run shuffle-free.
    assert "Exchange hashpartitioning" not in plan, plan[:2000]


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    t1, t2 = bucketed_tables
    a, b = read_bucketed(spark, t1), read_bucketed(spark, t2)
    events = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    feats = hourly_features(events).select(
        "user_id", "feature_timestamp", "total_events", "total_revenue"
    )
    daily = events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    got = a.join(b, "user_id").agg(F.count("*").alias("n"), F.round(F.sum("total_revenue"), 2).alias("r")).first()
    want = feats.join(daily, "user_id").agg(F.count("*").alias("n"), F.round(F.sum("total_revenue"), 2).alias("r")).first()
    assert got == want
