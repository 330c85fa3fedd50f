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
from ml_feature_store_enterprise_grade_spark.operators.asof import (
    DAILY_TTL_HOURS,
    asof_join,
    daily_activity_view,
    latest_snapshot,
)
from ml_feature_store_enterprise_grade_spark.operators.feature_agg import hourly_features
from ml_feature_store_enterprise_grade_spark.store import (
    Entity,
    FeatureStore,
    FeatureView,
    flatten_feature_names,
)
from tests.conftest import SF_SMOKE, count_jobs

USER = Entity("user", join_key="user_id", value_type="bigint")
CLICK_VIEW = FeatureView(
    name="user_click_features",
    entity=USER,
    features=("total_events", "click_count", "total_revenue", "click_through_rate"),
    ttl=timedelta(hours=24),
)
DAILY_VIEW = FeatureView(
    name="user_daily_activity",
    entity=USER,
    features=("daily_events", "daily_value"),
    ttl=timedelta(hours=DAILY_TTL_HOURS),
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
    """The lookup must be a broadcast semi-filter of the snapshot feeding
    a broadcast LEFT join — a shuffle (SortMergeJoin / ShuffledHashJoin)
    of the snapshot defeats the point of a point lookup."""
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


@pytest.fixture(scope="module")
def two_views(spark, tmp_path_factory):
    """A store with the hourly click view and the daily activity view,
    both materialized."""
    fs = FeatureStore(spark, str(tmp_path_factory.mktemp("two_views")))
    fs.apply([USER, CLICK_VIEW, DAILY_VIEW])
    events = load_table(spark, SF_SMOKE, "events")
    fs.write_offline(CLICK_VIEW.name, hourly_features(events))
    fs.write_offline(DAILY_VIEW.name, daily_activity_view(events))
    for v in (CLICK_VIEW, DAILY_VIEW):
        fs.materialize(v.name)
    return fs


def _tagged(spark, rows, schema):
    """A request frame built from Python rows, and an accumulator that
    counts how many rows its plan has produced."""
    seen = spark.sparkContext.accumulator(0)

    def tag(row):
        seen.add(1)
        return row

    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 2).map(tag), schema), seen


def test_online_lookup_reads_entity_frame_once(two_views, spark):
    """A two-view lookup evaluates the caller's entity frame once, and
    keeps every entity row — duplicate keys, a NULL key, an absent key
    and an extra column — with the latest features of its key."""
    rows = [(1, "a"), (2, "b"), (2, "c"), (None, "d"), (10**9, "e")]
    ent, seen = _tagged(spark, rows, "user_id bigint, req string")
    refs = ["user_click_features:total_events", "user_daily_activity:daily_value"]
    got = two_views.get_online_features(refs, ent).collect()
    assert seen.value == len(rows)

    def latest(view, feat):
        return {
            r.user_id: r[feat]
            for r in two_views._snapshot(view).select("user_id", feat).collect()
        }

    clicks = latest("user_click_features", "total_events")
    daily = latest("user_daily_activity", "daily_value")
    assert clicks.get(1) is not None and daily.get(1) is not None
    want = sorted(
        ((u, q, clicks.get(u), daily.get(u)) for u, q in rows), key=lambda t: t[1]
    )
    assert sorted(map(tuple, got), key=lambda t: t[1]) == want
    assert list(got[0].asDict()) == [
        "user_id", "req", "user_click_features__total_events", "user_daily_activity__daily_value",
    ]


def test_historical_export_reads_entity_frame_once(two_views, spark):
    """A two-view training export evaluates the entity frame once and
    keeps one row per entity row."""
    import datetime as dt

    rows = [(u, dt.datetime(2024, 1, 10 + u % 5, u % 24)) for u in range(1, 31)]
    ent, seen = _tagged(spark, rows, "user_id bigint, event_timestamp timestamp")
    out = two_views.get_historical_features(
        ent, ["user_click_features:total_events", "user_daily_activity:daily_events"]
    )
    out.write.format("noop").mode("overwrite").save()
    assert seen.value == len(rows)
    assert out.count() == len(rows)


def test_materialize_and_snapshot_job_budget(two_views, spark):
    """Incremental materialize launches at most 2 jobs (the
    latest-per-key shuffle, the write): the offline store's and each
    generation's schema come from their ``_SCHEMA`` manifests, the
    previous generation's high-water mark from its marker.  Opening the
    offline store or a snapshot launches none."""
    _, jobs = count_jobs(spark, two_views.read_offline, CLICK_VIEW.name)
    assert jobs == 0
    snap, jobs = count_jobs(spark, two_views.materialize, CLICK_VIEW.name, incremental=True)
    assert jobs < 3, jobs
    assert snap.count() > 0
    _, jobs = count_jobs(spark, two_views._snapshot, CLICK_VIEW.name)
    assert jobs == 0


def test_offline_schema_manifest_merges_by_name(spark, tmp_path):
    """Each write merges its schema into ``_SCHEMA`` by name: old fields
    keep their place, new ones go at the end, rows written before a
    field existed read it as NULL, and a type change raises before any
    data lands."""
    from ml_feature_store_enterprise_grade_spark.sources.files import read_manifest

    view = FeatureView("tiny", USER, features=("a", "b"), ttl=None)
    fs = FeatureStore(spark, str(tmp_path))
    fs.apply([USER, view])
    fs.write_offline("tiny", spark.sql(
        "SELECT 1L AS user_id, TIMESTAMP'2024-01-01 10:00:00' AS feature_timestamp, 5L AS a"
    ))
    fs.write_offline("tiny", spark.sql(
        "SELECT 0.5D AS b, 2L AS user_id, TIMESTAMP'2024-01-02 10:00:00' AS feature_timestamp"
    ), mode="append")
    path = fs._offline_path("tiny")
    assert read_manifest(path).fieldNames() == [
        "user_id", "feature_timestamp", "a", "event_date", "b"
    ]
    rows = {r.user_id: (r.a, r.b) for r in fs.read_offline("tiny").collect()}
    assert rows == {1: (5, None), 2: (None, 0.5)}
    with pytest.raises(TypeError, match="'a' changes type"):
        fs.write_offline("tiny", spark.sql(
            "SELECT 3L AS user_id, TIMESTAMP'2024-01-03 10:00:00' AS feature_timestamp, 'x' AS a"
        ), mode="append")
    assert fs.read_offline("tiny").count() == 2


def test_incremental_materialize_with_late_data_equals_full(spark, tmp_path):
    """Three appends, the last one late rows for the day the previous
    run's high-water mark names: each incremental run re-reads from
    that day on, so the result equals one full materialization."""
    fs = FeatureStore(spark, str(tmp_path))
    fs.apply([USER, CLICK_VIEW])
    feats = hourly_features(load_table(spark, SF_SMOKE, "events"))
    day = F.to_date("feature_timestamp")
    fs.write_offline(CLICK_VIEW.name, feats.filter(day < F.lit("2024-01-10")))
    fs.materialize(CLICK_VIEW.name)
    fs.write_offline(
        CLICK_VIEW.name,
        feats.filter((day >= F.lit("2024-01-10")) & (day < F.lit("2024-01-20"))),
        mode="append",
    )
    fs.materialize(CLICK_VIEW.name)
    # Late rows for 2024-01-19, the newest partition the last run saw:
    # that day's rows a minute later (any that would leave the day
    # dropped), with new values.
    late = (
        feats.filter(day == F.lit("2024-01-19"))
        .withColumn("feature_timestamp", F.col("feature_timestamp") + F.expr("INTERVAL 1 MINUTE"))
        .filter(day == F.lit("2024-01-19"))
        .withColumn("total_events", F.col("total_events") + 1000)
    )
    assert late.count() > 0
    fs.write_offline(CLICK_VIEW.name, late, mode="append")
    incr = fs.materialize(CLICK_VIEW.name)
    assert incr.filter(F.col("total_events") >= 1000).count() > 0
    full = fs.materialize(CLICK_VIEW.name, incremental=False).select(*incr.columns)
    assert incr.count() == full.count()
    assert incr.exceptAll(full).count() == 0 and full.exceptAll(incr).count() == 0
