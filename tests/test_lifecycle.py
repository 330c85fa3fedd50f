"""End-to-end lifecycle (reference SURVEY §3.3's DAG as one engine
flow): streaming aggregation → date-partitioned offline store →
incremental materialization → online lookup → historical retrieval.

This is the "switch from the reference" acceptance test: every stage
is the engine's own API, and the final serving answers are checked
against first-principles batch computations.
"""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.store import Entity, FeatureStore, FeatureView
from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
    streaming_events,
    windowed_features,
)
from tests.conftest import SF_SMOKE


@pytest.mark.slow
def test_stream_to_store_to_serving(spark, tmp_path):
    # 1. Streaming job → offline store (the reference's Spark app).
    user = Entity("user", join_key="user_id", value_type="bigint")
    view = FeatureView(
        name="user_click_features",
        entity=user,
        features=("total_events", "click_count", "total_revenue"),
        ttl=timedelta(hours=48),
    )
    fs = FeatureStore(spark, str(tmp_path))
    fs.apply([user, view])

    stream_out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        windowed_features(streaming_events(spark, SF_SMOKE))
        .withColumn("event_date", F.to_date("window_start"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", stream_out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # 2. Register the stream's sink as the view's offline store.
    fs.write_offline("user_click_features", spark.read.parquet(stream_out))

    # 3. Materialize (daily DAG task) and serve online.
    fs.materialize("user_click_features")
    some_users = [r.user_id for r in spark.read.parquet(stream_out).select("user_id").distinct().limit(3).collect()]
    entities = spark.createDataFrame([(u,) for u in some_users], "user_id bigint")
    online = fs.get_online_features(
        ["user_click_features:total_events", "user_click_features:click_count"], entities
    )
    got = {r.user_id: r.user_click_features__total_events for r in online.collect()}

    # Online lookup must equal the latest finalized window per user.
    offline = spark.read.parquet(stream_out)
    latest = (
        offline.filter(F.col("user_id").isin(some_users))
        .groupBy("user_id")
        .agg(F.max_by("total_events", "feature_timestamp").alias("te"))
    )
    want = {r.user_id: r.te for r in latest.collect()}
    assert got == want

    # 4. Historical (point-in-time) retrieval against the same store.
    lookup = entities.select(
        "user_id", F.lit("2024-01-20 00:00:00").cast("timestamp").alias("event_timestamp")
    )
    hist = fs.get_historical_features(lookup, ["user_click_features:total_revenue"])
    asof = {r.user_id: r.user_click_features__total_revenue for r in hist.collect()}
    direct = (
        offline.filter(
            F.col("user_id").isin(some_users)
            & (F.col("feature_timestamp") <= F.lit("2024-01-20 00:00:00").cast("timestamp"))
            & (
                F.col("feature_timestamp")
                > F.lit("2024-01-20 00:00:00").cast("timestamp") - F.expr("INTERVAL 48 HOURS")
            )
        )
        .groupBy("user_id")
        .agg(F.max_by("total_revenue", "feature_timestamp").alias("tr"))
    )
    want_asof = {u: None for u in some_users}
    want_asof.update({r.user_id: r.tr for r in direct.collect()})
    assert asof == want_asof
