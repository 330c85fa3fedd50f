"""FeatureStore facade: offline store, materialization, retrieval.

Exercises the reference's end-to-end lifecycle (SURVEY §3.3) on the
driver's events table: build hourly features → write date-partitioned
offline store → incremental materialize → online lookup / historical
(point-in-time) retrieval — asserting parity with the direct operator
formulations and that partition pruning actually reaches the plan.
"""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.operators.asof import asof_join, latest_snapshot
from ml_feature_store_enterprise_grade_spark.operators.feature_agg import hourly_features
from ml_feature_store_enterprise_grade_spark.store import (
    Entity,
    FeatureStore,
    FeatureView,
    flatten_feature_names,
)
from tests.conftest import SF_SMOKE

USER = Entity("user", join_key="user_id", value_type="bigint")
CLICK_VIEW = FeatureView(
    name="user_click_features",
    entity=USER,
    features=("total_events", "click_count", "total_revenue", "click_through_rate"),
    ttl=timedelta(hours=24),
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    fs = FeatureStore(spark, str(tmp_path_factory.mktemp("fstore")))
    fs.apply([USER, CLICK_VIEW])
    feats = hourly_features(load_table(spark, SF_SMOKE, "events"))
    fs.write_offline("user_click_features", feats)
    return fs


def test_offline_partitioned_and_pruned(store):
    path = store._offline_path("user_click_features")
    from ml_feature_store_enterprise_grade_spark.sources.files import (
        latest_partitions,
        partition_exists,
    )

    parts = latest_partitions(path, "event_date", n=100)
    assert len(parts) >= 25  # events span 2024-01-01..01-30
    assert partition_exists(path, "event_date", parts[0])

    one_day = store.read_offline(
        "user_click_features", start="2024-01-10", end="2024-01-11"
    )
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # The date predicate must prune at planning time, not post-scan.
    assert "PartitionFilters: [" in plan and "event_date" in plan.split("PartitionFilters")[1][:200]
    dates = [r[0] for r in one_day.select("event_date").distinct().collect()]
    assert [str(d) for d in dates] == ["2024-01-10"]


@pytest.mark.slow
def test_materialize_matches_latest_snapshot(store, spark):
    snap = store.materialize("user_click_features", incremental=False)
    direct = latest_snapshot(
        hourly_features(load_table(spark, SF_SMOKE, "events"))
    ).select(*snap.columns)
    assert snap.count() == direct.count()
    assert snap.exceptAll(direct).count() == 0
    assert direct.exceptAll(snap).count() == 0


@pytest.mark.slow
def test_incremental_materialize_equals_full(store, spark, tmp_path):
    """Writing history in two batches then materializing twice must
    equal one full materialization (the daily DAG invariant)."""
    fs = FeatureStore(spark, str(tmp_path))
    fs.apply([USER, CLICK_VIEW])
    feats = hourly_features(load_table(spark, SF_SMOKE, "events"))
    cutoff = "2024-01-15"
    fs.write_offline("user_click_features", feats.filter(F.to_date("feature_timestamp") < F.lit(cutoff)))
    first = fs.materialize("user_click_features")
    assert first.count() > 0
    fs.write_offline(
        "user_click_features",
        feats.filter(F.to_date("feature_timestamp") >= F.lit(cutoff)),
        mode="append",
    )
    incr = fs.materialize("user_click_features")
    full = store.materialize("user_click_features", incremental=False).select(*incr.columns)
    assert incr.exceptAll(full).count() == 0 and full.exceptAll(incr).count() == 0


def test_online_lookup_left_semantics(store, spark):
    store.materialize("user_click_features", incremental=False)
    entities = spark.createDataFrame(
        [(1,), (2,), (10**9,)], "user_id bigint"  # 10^9: absent entity
    )
    out = store.get_online_features(
        ["user_click_features:total_events", "user_click_features:click_count"],
        entities,
    )
    rows = {r.user_id: r for r in out.collect()}
    assert len(rows) == 3  # absent entity kept
    assert rows[10**9].user_click_features__total_events is None
    flat = flatten_feature_names(out)
    assert "total_events" in flat.columns


def test_historical_matches_asof_operator(store, spark):
    entities = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .limit(50)
        .select("user_id", F.lit("2024-01-10 00:30:00").cast("timestamp").alias("event_timestamp"))
    )
    out = store.get_historical_features(
        entities, ["user_click_features:total_events", "user_click_features:total_revenue"]
    )
    feats = hourly_features(load_table(spark, SF_SMOKE, "events"))
    direct = asof_join(
        entities,
        feats,
        key="user_id",
        lookup_ts="event_timestamp",
        ttl_hours=24,
        feature_cols=("total_events", "total_revenue"),
    ).select(
        "user_id",
        "event_timestamp",
        F.col("total_events").alias("user_click_features__total_events"),
        F.col("total_revenue").alias("user_click_features__total_revenue"),
    )
    assert out.count() == entities.count()
    assert out.select(*direct.columns).exceptAll(direct).count() == 0


@pytest.mark.slow
def test_historical_prunes_offline_partitions(store, spark):
    """With pruning on, the offline scan must carry PartitionFilters
    bounding event_date to [lookup − TTL, lookup]; results identical
    to the unpruned read."""
    entities = spark.createDataFrame(
        [(1, "2024-01-10 00:30:00"), (2, "2024-01-12 06:00:00")],
        "user_id bigint, event_timestamp string",
    ).select("user_id", F.col("event_timestamp").cast("timestamp").alias("event_timestamp"))
    refs = ["user_click_features:total_events"]
    pruned = store.get_historical_features(entities, refs)
    plain = store.get_historical_features(entities, refs, prune=False)
    assert pruned.exceptAll(plain).count() == 0 and plain.exceptAll(pruned).count() == 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1][:200]
    assert "event_date" in pf and "2024-01-09" in pf and "2024-01-13" in pf


@pytest.mark.slow
def test_historical_ttl_none_has_unbounded_lookback(store, spark):
    """A TTL-less view must resolve features that predate the lookup
    window even with pruning on (regression: prune=True used to derive
    a lower partition bound from ttl=None as timedelta(0), silently
    NULLing every entity whose latest feature was older than the
    earliest lookup)."""
    no_ttl = FeatureView(
        name="user_click_features_nottl",
        entity=USER,
        features=CLICK_VIEW.features,
        ttl=None,
    )
    store.apply([no_ttl])
    feats = hourly_features(load_table(store.spark, SF_SMOKE, "events"))
    store.write_offline("user_click_features_nottl", feats)
    # Lookup weeks after the last feature row (events end 2024-01-30).
    entities = spark.createDataFrame([(1,), (2,)], "user_id bigint").select(
        "user_id", F.lit("2024-02-20 00:00:00").cast("timestamp").alias("event_timestamp")
    )
    pruned = store.get_historical_features(
        entities, ["user_click_features_nottl:total_events"]
    )
    plain = store.get_historical_features(
        entities, ["user_click_features_nottl:total_events"], prune=False
    )
    got = {r.user_id: r.user_click_features_nottl__total_events for r in pruned.collect()}
    want = {r.user_id: r.user_click_features_nottl__total_events for r in plain.collect()}
    assert got == want
    assert any(v is not None for v in got.values())


def test_online_lookup_plan_never_shuffles_snapshot(store, spark):
    """The lookup must be broadcast-inner + anti + union — a shuffle
    (SortMergeJoin / ShuffledHashJoin) of the snapshot defeats the
    point of a point lookup."""
    store.materialize("user_click_features", incremental=False)
    entities = spark.createDataFrame([(1,), (2,)], "user_id bigint")
    out = store.get_online_features(["user_click_features:total_events"], entities)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_feature_ref_errors(store, spark):
    entities = spark.createDataFrame([(1,)], "user_id bigint")
    with pytest.raises(KeyError):
        store.get_online_features(["nope:total_events"], entities)
    with pytest.raises(KeyError):
        store.get_online_features(["user_click_features:nope"], entities)


def test_export_online_executor_side(store, spark, tmp_path):
    """export_online pushes every snapshot row through the
    executor-side writer exactly once (file-per-batch sink)."""
    import glob
    import json as _json
    import uuid as _uuid

    store.materialize("user_click_features", incremental=False)
    out_dir = str(tmp_path / "kv_export")
    import os as _os

    _os.makedirs(out_dir, exist_ok=True)

    def writer(batch):
        with open(f"{out_dir}/{_uuid.uuid4().hex}.jsonl", "w") as f:
            for row in batch:
                f.write(_json.dumps({"user_id": row["user_id"]}) + "\n")

    store.export_online("user_click_features", writer, batch_size=100)
    exported = []
    for p in glob.glob(f"{out_dir}/*.jsonl"):
        exported += [_json.loads(line)["user_id"] for line in open(p)]
    snap_keys = [r.user_id for r in store._snapshot("user_click_features").select("user_id").collect()]
    assert sorted(exported) == sorted(snap_keys)


def test_materialize_commits_immutable_generations(store, spark):
    """FeatureStore.materialize uses the shared generation-pointer
    protocol: each run commits a new immutable generation, readers
    resolve the pointer, and the previous generation stays readable."""
    import os

    from ml_feature_store_enterprise_grade_spark.snapshots import resolve_snapshot

    store.materialize("user_click_features")
    online = store._online_path("user_click_features")
    g1 = resolve_snapshot(online)
    assert g1 is not None and os.path.basename(g1).startswith("v=")
    n1 = spark.read.parquet(g1).count()

    store.materialize("user_click_features")
    g2 = resolve_snapshot(online)
    assert g2 != g1
    # previous generation retained and still fully readable
    assert spark.read.parquet(g1).count() == n1
    # the store's own read path serves the new generation
    assert store._snapshot("user_click_features").count() >= n1
