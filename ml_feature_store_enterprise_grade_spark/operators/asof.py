"""Point-in-time retrieval: as-of join, snapshot, online lookup.

The single most important non-trivial semantic in the reference
(SURVEY §1.4): Feast's ``get_historical_features`` (reference
scripts/drift_detection.py:260-269) is an **as-of join** — for each
(entity_key, lookup_ts) row, attach the latest feature row with
``feature_timestamp <= lookup_ts`` within TTL (24 h for click
features, reference README.md:299; 365 d profiles,
feast_repo/features.py:43) — with LEFT semantics (missing entities
keep a NULL row, observed at reference
airflow/dags/feature_store_materialization.py:105-113).

Spark has no batch ASOF primitive, so the engine composes it:
equi-join on the key + range predicate, then ``max_by(features,
feature_ts)`` grouped by (key, lookup_ts).  The hash-aggregate
formulation beats the equivalent ``row_number() == 1`` window: it
needs no sort of the joined frame, and Catalyst's two-phase
HashAggregate collapses the per-(entity, lookup) candidate rows
map-side *before* the final shuffle — at 100 TB that is the
difference between shuffling every in-TTL candidate row and
shuffling one row per entity lookup.  The feature side is
additionally partition-pruned by ``feature_timestamp`` bounds
derived from the entity frame's lookup range before the join.

``materialize`` (latest-per-key snapshot) and ``online_lookup``
re-express the reference's Redis materialization + serving path
(SURVEY S8/S9) as pure DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, local_rows
from ..registry import register
from .feature_agg import HOURLY_FEATURES_SQL_CTE, hourly_features

#: Feature columns carried through retrieval examples.
_FEATURE_COLS = ("total_events", "click_count", "total_revenue", "click_through_rate")

#: Deterministic lookup timestamps for the oracle-checked PIT fixture
#: (FIXTURES.md §4: must hit mid-interval, pre-first-feature, and
#: TTL-expired cases; events span 2024-01-01 .. 2024-01-31).
PIT_LOOKUP_TIMES = (
    "2024-01-10 00:30:00",  # mid-range, plenty of history
    "2024-01-20 12:00:00",  # mid-range
    "2024-02-05 00:00:00",  # after last event → everything TTL-expired
)

TTL_HOURS = 24


def asof_join(
    entities: DataFrame,
    features: DataFrame,
    key: str,
    lookup_ts: str = "lookup_ts",
    feature_ts: str = "feature_timestamp",
    ttl_hours: int | None = TTL_HOURS,
    feature_cols: tuple[str, ...] = _FEATURE_COLS,
) -> DataFrame:
    """Generic point-in-time join (J1). LEFT semantics, TTL-bounded."""
    cond = (entities[key] == features[key]) & (features[feature_ts] <= entities[lookup_ts])
    if ttl_hours is not None:
        cond = cond & (
            features[feature_ts]
            > entities[lookup_ts] - F.expr(f"INTERVAL {ttl_hours} HOURS")
        )
    joined = entities.alias("e").join(features.alias("f"), cond, "left")
    # max_by ignores rows whose ordering key is NULL, so entities with
    # no in-TTL match keep their group and yield a NULL feature struct
    # — exactly the reference's LEFT serving semantics.  Requires
    # feature_ts unique per key (true for windowed feature frames,
    # whose feature_timestamp is the window end).
    picked = joined.groupBy(
        F.col(f"e.{key}").alias(key), F.col(f"e.{lookup_ts}").alias(lookup_ts)
    ).agg(
        F.max_by(
            F.struct(F.col(f"f.{feature_ts}").alias(feature_ts), *[F.col(f"f.{c}").alias(c) for c in feature_cols]),
            F.col(f"f.{feature_ts}"),
        ).alias("__f")
    )
    return picked.select(
        key,
        lookup_ts,
        F.col(f"__f.{feature_ts}").alias(feature_ts),
        *[F.col(f"__f.{c}").alias(c) for c in feature_cols],
    )


def latest_snapshot(
    features: DataFrame,
    key: str = "user_id",
    feature_ts: str = "feature_timestamp",
) -> DataFrame:
    """Latest feature row per entity — the materialization primitive
    (reference `feast materialize-incremental`,
    airflow/dags/feature_store_materialization.py:214-239)."""
    w = Window.partitionBy(key).orderBy(F.col(feature_ts).desc())
    return features.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def lookup_latest(entities: DataFrame, snapshot: DataFrame, key: str) -> DataFrame:
    """Online point lookup: every ``entities`` row (duplicates and NULL
    keys kept) followed by the ``snapshot`` columns of its key, NULL for
    absent keys.  ``snapshot`` holds one row per ``key``.

    Spark cannot hash-build the preserved side of a LEFT join, so
    broadcasting the entity batch into one silently shuffles the whole
    snapshot.  Instead the snapshot is semi-joined against the broadcast
    entity keys (a scan, no shuffle) and only those rows are broadcast
    as the build side of the LEFT join, whose streamed, preserved side
    is the entity batch: one plan, no snapshot shuffle."""
    hits = snapshot.join(F.broadcast(entities.select(key)), key, "left_semi")
    return entities.join(F.broadcast(hits), key, "left").select(
        *entities.columns, *[c for c in snapshot.columns if c != key]
    )


_PIT_VALUES_SQL = ", ".join(f"(TIMESTAMP '{t}')" for t in PIT_LOOKUP_TIMES)
_FEATURE_COLS_SQL = ", ".join(f"f.{c}" for c in _FEATURE_COLS)


#: Shared oracle building blocks — single source of truth for the
#: entity frame, the two per-view as-of joins, and the label join,
#: composed by pit_asof_join / pit_multi_view_join / pit_label_join /
#: training_set_export so their oracles can never drift apart.
_ENTITY_SQL_CTE = f"""entity AS (
        SELECT c.c_custkey AS user_id, t.lookup_ts
        FROM customer c CROSS JOIN (VALUES {_PIT_VALUES_SQL}) t(lookup_ts)
    )"""


def _asof_click_cte(name: str) -> str:
    return f"""{name} AS (
        SELECT e.user_id, e.lookup_ts,
               f.feature_timestamp AS click_feature_ts, {_FEATURE_COLS_SQL},
               ROW_NUMBER() OVER (
                   PARTITION BY e.user_id, e.lookup_ts
                   ORDER BY f.feature_timestamp DESC NULLS LAST
               ) AS rn
        FROM entity e
        LEFT JOIN hourly f
          ON e.user_id = f.user_id
         AND f.feature_timestamp <= e.lookup_ts
         AND f.feature_timestamp > e.lookup_ts - INTERVAL {TTL_HOURS} HOURS
    )"""


def _asof_daily_cte(name: str) -> str:
    return f"""{name} AS (
        SELECT e.user_id, e.lookup_ts,
               d.feature_timestamp AS daily_feature_ts, d.daily_events, d.daily_value,
               ROW_NUMBER() OVER (
                   PARTITION BY e.user_id, e.lookup_ts
                   ORDER BY d.feature_timestamp DESC NULLS LAST
               ) AS rn
        FROM entity e
        LEFT JOIN daily d
          ON e.user_id = d.user_id
         AND d.feature_timestamp <= e.lookup_ts
         AND d.feature_timestamp > e.lookup_ts - INTERVAL {DAILY_TTL_HOURS} HOURS
    )"""


def _label_join_ctes(name: str) -> str:
    return f"""conv AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    {name} AS (
        SELECT e.user_id, e.lookup_ts, c.ts, c.value,
               ROW_NUMBER() OVER (
                   PARTITION BY e.user_id, e.lookup_ts
                   ORDER BY c.ts ASC NULLS LAST, c.event_id ASC NULLS LAST
               ) AS rn
        FROM entity e
        LEFT JOIN conv c
          ON e.user_id = c.user_id
         AND c.ts > e.lookup_ts
         AND c.ts <= e.lookup_ts + INTERVAL {LABEL_HORIZON_HOURS} HOURS
    )"""


@register(
    "pit_asof_join",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    entity AS (
        SELECT c.c_custkey AS user_id, t.lookup_ts
        FROM customer c CROSS JOIN (VALUES {_PIT_VALUES_SQL}) t(lookup_ts)
    ),
    j AS (
        SELECT e.user_id, e.lookup_ts, f.feature_timestamp, {_FEATURE_COLS_SQL},
               ROW_NUMBER() OVER (
                   PARTITION BY e.user_id, e.lookup_ts
                   ORDER BY f.feature_timestamp DESC NULLS LAST
               ) AS rn
        FROM entity e
        LEFT JOIN hourly f
          ON e.user_id = f.user_id
         AND f.feature_timestamp <= e.lookup_ts
         AND f.feature_timestamp > e.lookup_ts - INTERVAL {TTL_HOURS} HOURS
    )
    SELECT user_id, lookup_ts, feature_timestamp,
           {", ".join(_FEATURE_COLS)}
    FROM j WHERE rn = 1
    """,
)
def pit_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: point-in-time retrieval of hourly click features for every
    customer at three fixed lookup times.  Exercises exact-boundary,
    mid-interval, no-history and TTL-expired cases (FIXTURES.md §4)."""
    events = load_table(spark, sf_dir, "events")
    features = hourly_features(events)
    entities = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"))
        .crossJoin(
            local_rows(
                spark, [(t,) for t in PIT_LOOKUP_TIMES], "lookup_ts string"
            ).select(F.col("lookup_ts").cast("timestamp").alias("lookup_ts"))
        )
    )
    return asof_join(entities, features, key="user_id")


#: Label horizon: a lookup converts if a purchase follows within 72 h.
LABEL_HORIZON_HOURS = 72


@register(
    "pit_label_join",
    oracle=f"""
    WITH {_ENTITY_SQL_CTE},
    {_label_join_ctes("j")}
    SELECT user_id, lookup_ts,
           CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END AS label,
           CAST(floor(epoch(ts)) AS BIGINT) AS conversion_epoch_s,
           ROUND(value, 6) AS conversion_value
    FROM j WHERE rn = 1
    """,
)
def pit_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking label join — the time-reversed twin of the
    as-of join and the other half of training-set generation: features
    come from *before* the lookup time (``pit_asof_join``), labels
    from the first conversion event strictly *after* it within a
    horizon.  The strict ``>`` and hard horizon are the leakage
    guards: a purchase at exactly the lookup instant is information
    the model would not have had.

    Same scale shape as the as-of join: equi-join on the key + range
    predicate, then ``min_by(conversion, (ts, event_id))`` grouped by
    (key, lookup_ts) — two-phase hash aggregate collapses candidates
    map-side, no sort, no window over the joined frame.  The
    (ts, event_id) ordering struct makes the pick deterministic under
    ties; LEFT misses surface as label 0 with NULL conversion fields.
    Conversion time is surfaced as epoch seconds (both engines floor
    identically; raw nanosecond timestamps would hash-differ from
    Spark's microsecond truncation).
    """
    conv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value")
    )
    entities = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"))
        .crossJoin(
            local_rows(
                spark, [(t,) for t in PIT_LOOKUP_TIMES], "lookup_ts string"
            ).select(F.col("lookup_ts").cast("timestamp").alias("lookup_ts"))
        )
    )
    cond = (
        (entities["user_id"] == conv["user_id"])
        & (conv["ts"] > entities["lookup_ts"])
        & (
            conv["ts"]
            <= entities["lookup_ts"] + F.expr(f"INTERVAL {LABEL_HORIZON_HOURS} HOURS")
        )
    )
    joined = entities.alias("e").join(conv.alias("c"), cond, "left")
    picked = joined.groupBy(
        F.col("e.user_id").alias("user_id"), F.col("e.lookup_ts").alias("lookup_ts")
    ).agg(
        F.min_by(
            F.struct(
                F.col("c.ts").alias("ts"), F.col("c.value").alias("value")
            ),
            F.struct(F.col("c.ts"), F.col("c.event_id")),
        ).alias("__c")
    )
    return picked.select(
        "user_id",
        "lookup_ts",
        F.when(F.col("__c.ts").isNotNull(), 1).otherwise(0).alias("label"),
        F.unix_timestamp("__c.ts").alias("conversion_epoch_s"),
        F.round("__c.value", 6).alias("conversion_value"),
    )


@register(
    "latest_feature_snapshot",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE}
    SELECT user_id, feature_timestamp, {", ".join(_FEATURE_COLS)}
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY feature_timestamp DESC
        ) AS rn FROM hourly
    ) WHERE rn = 1
    """,
)
def latest_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 materialization: the online store *is* the latest-per-key
    snapshot of the offline feature frame (SURVEY §1.1 Online store).
    One shuffle on the entity key; at scale this runs incrementally
    over fresh partitions and merges into the previous snapshot."""
    features = hourly_features(load_table(spark, sf_dir, "events"))
    return latest_snapshot(features).select(
        "user_id", "feature_timestamp", *_FEATURE_COLS
    )


@register(
    "online_feature_lookup",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    snapshot AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY feature_timestamp DESC
            ) AS rn FROM hourly
        ) WHERE rn = 1
    )
    SELECT c.c_custkey AS user_id, s.feature_timestamp,
           {", ".join(f"s.{c} AS {c}" for c in _FEATURE_COLS)}
    FROM customer c
    LEFT JOIN snapshot s ON c.c_custkey = s.user_id
    WHERE c.c_custkey < 300
    """,
)
def online_feature_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/J2 online serving: fetch the feature vector for a batch of
    entity keys from the snapshot.  LEFT semantics — absent entities
    keep NULL feature rows (reference iterates Nones:
    airflow/dags/feature_store_materialization.py:105-113).  The plan
    is :func:`lookup_latest`, shared with
    ``store.FeatureStore.get_online_features``: the snapshot is
    semi-filtered against the broadcast entity keys, and those rows are
    broadcast into the LEFT join, so the snapshot is never shuffled
    for the join."""
    snapshot = latest_snapshot(hourly_features(load_table(spark, sf_dir, "events")))
    entities = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select(F.col("c_custkey").alias("user_id"))
    )
    return lookup_latest(
        entities, snapshot.select("user_id", "feature_timestamp", *_FEATURE_COLS), "user_id"
    )


#: Profile-style daily view TTL (long-lived, vs 24 h click features)
#: — the reference runs exactly this two-TTL split: 365 d profile
#: features (feast_repo/features.py:43) next to 24 h click features
#: (README.md:299).
DAILY_TTL_HOURS = 7 * 24


def daily_activity_view(events: DataFrame) -> DataFrame:
    """A second feature view over the same stream: per-user daily
    aggregates, valid as of end-of-day (feature_timestamp = midnight
    after the activity date — the window-end convention, reference
    spark/apps/clickstream_aggregation.py:200)."""
    return (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", F.to_date("ts").alias("activity_date"))
        .agg(
            F.count("*").alias("daily_events"),
            F.round(F.sum("value"), 2).alias("daily_value"),
        )
        .select(
            "user_id",
            F.date_add("activity_date", 1).cast("timestamp").alias("feature_timestamp"),
            "daily_events",
            "daily_value",
        )
    )


_DAILY_SQL_CTE = """
    daily AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY AS feature_timestamp,
               COUNT(*) AS daily_events,
               ROUND(SUM(value), 2) AS daily_value
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    )"""


@register(
    "pit_multi_view_join",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    {_DAILY_SQL_CTE},
    {_ENTITY_SQL_CTE},
    {_asof_click_cte("ja")},
    {_asof_daily_cte("jb")}
    SELECT a.user_id, a.lookup_ts,
           a.click_feature_ts, {", ".join(f"a.{c}" for c in _FEATURE_COLS)},
           b.daily_feature_ts, b.daily_events, b.daily_value
    FROM (SELECT * FROM ja WHERE rn = 1) a
    JOIN (SELECT * FROM jb WHERE rn = 1) b
      ON a.user_id = b.user_id AND a.lookup_ts = b.lookup_ts
    """,
)
def pit_multi_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feast's full ``get_historical_features`` shape: one entity
    frame retrieved against MULTIPLE feature views, each with its own
    TTL, stitched into a single training frame (the reference's
    two-view registry: 365 d profile features + 24 h click features,
    feast_repo/features.py:40-54, README.md:289-300).

    Composition, not a new primitive: one ``asof_join`` per view off
    the shared entity frame, then a 1:1 equi-join of the per-view
    results on (entity, lookup_ts).  Scale shape: each as-of join
    collapses to one row per (entity, lookup) via the two-phase
    hash-agg plan, and because BOTH sides of the final join arrive
    hash-partitioned on the same (user_id, lookup_ts) keys from their
    aggregates, the stitch adds no extra shuffle of either side.  At
    the 2024-02-05 lookup the 24 h click view has TTL-expired (NULL
    features) while the 7 d daily view still serves — the per-view-TTL
    semantics the composition exists to preserve."""
    events = load_table(spark, sf_dir, "events")
    entities = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"))
        .crossJoin(
            local_rows(
                spark, [(t,) for t in PIT_LOOKUP_TIMES], "lookup_ts string"
            ).select(F.col("lookup_ts").cast("timestamp").alias("lookup_ts"))
        )
    )
    clicks = asof_join(entities, hourly_features(events), key="user_id").withColumnRenamed(
        "feature_timestamp", "click_feature_ts"
    )
    daily = asof_join(
        entities,
        daily_activity_view(events),
        key="user_id",
        ttl_hours=DAILY_TTL_HOURS,
        feature_cols=("daily_events", "daily_value"),
    ).withColumnRenamed("feature_timestamp", "daily_feature_ts")
    return clicks.join(daily, ["user_id", "lookup_ts"])


@register(
    "training_set_export",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    {_DAILY_SQL_CTE},
    {_ENTITY_SQL_CTE},
    {_asof_click_cte("ja")},
    {_asof_daily_cte("jb")},
    {_label_join_ctes("jl")}
    SELECT a.user_id, a.lookup_ts,
           a.click_feature_ts, {", ".join(f"a.{c}" for c in _FEATURE_COLS)},
           b.daily_feature_ts, b.daily_events, b.daily_value,
           CASE WHEN l.ts IS NOT NULL THEN 1 ELSE 0 END AS label,
           CAST(floor(epoch(l.ts)) AS BIGINT) AS conversion_epoch_s,
           ROUND(l.value, 6) AS conversion_value
    FROM (SELECT * FROM ja WHERE rn = 1) a
    JOIN (SELECT * FROM jb WHERE rn = 1) b
      ON a.user_id = b.user_id AND a.lookup_ts = b.lookup_ts
    JOIN (SELECT * FROM jl WHERE rn = 1) l
      ON a.user_id = l.user_id AND a.lookup_ts = l.lookup_ts
    """,
)
def training_set_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-set materialization — what a user of the
    reference actually exports before a training run: point-in-time
    features from BOTH feature views (each under its own TTL,
    :func:`pit_multi_view_join`) stitched to the forward-horizon
    conversion label (:func:`pit_label_join`) on the shared
    (entity, lookup_ts) frame.  Leakage-safe by construction: features
    strictly from ``<= lookup_ts``, labels strictly from
    ``> lookup_ts``.

    Scale: every component collapses to one row per (entity, lookup)
    through the two-phase hash-agg as-of plan, and all three arrive
    hash-partitioned on the same (user_id, lookup_ts) key, so the two
    stitch joins reuse that partitioning instead of introducing new
    shuffles.  At 100 TB this is the export you'd write back
    date-partitioned for the trainer's data loader."""
    feats = pit_multi_view_join(spark, sf_dir)
    labels = pit_label_join(spark, sf_dir)
    return feats.join(labels, ["user_id", "lookup_ts"])


#: CDC simulation boundary: the standing snapshot is built from
#: events before this instant; later events form the change feed.
_CDC_CUTOFF = "2024-01-25"
#: Deterministic deletion feed (stand-in for tombstone records).
_CDC_DELETE_MOD = 31

_CDC_SNAP_COLS = ("feature_timestamp", *_FEATURE_COLS)


def _snapshot_sql(src_filter: str) -> str:
    cols = ", ".join(_CDC_SNAP_COLS)
    return f"""
        SELECT user_id, {cols} FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY feature_timestamp DESC
            ) AS rn
            FROM hourly
            WHERE {src_filter}
        ) WHERE rn = 1
    """


@register(
    "cdc_merge_upsert",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    base AS ({_snapshot_sql(f"feature_timestamp <= TIMESTAMP '{_CDC_CUTOFF}'")}),
    chg AS ({_snapshot_sql(f"feature_timestamp > TIMESTAMP '{_CDC_CUTOFF}'")}),
    dels AS (
        SELECT user_id FROM base
        WHERE user_id % {_CDC_DELETE_MOD} = 0
    )
    SELECT b.user_id, {", ".join(f"b.{c}" for c in _CDC_SNAP_COLS)},
           'carried' AS merge_action
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.user_id = b.user_id)
      AND NOT EXISTS (SELECT 1 FROM dels d WHERE d.user_id = b.user_id)
    UNION ALL
    SELECT c.user_id, {", ".join(f"c.{c}" for c in _CDC_SNAP_COLS)},
           CASE WHEN EXISTS (SELECT 1 FROM base b WHERE b.user_id = c.user_id)
                THEN 'updated' ELSE 'inserted' END AS merge_action
    FROM chg c
    WHERE NOT EXISTS (SELECT 1 FROM dels d WHERE d.user_id = c.user_id)
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a change
    feed (fresh feature rows after the CDC cutoff) plus a tombstone
    feed (deterministic deletion keys) to the standing snapshot —
    carried / updated / inserted rows tagged, deleted keys dropped.
    This is the upsert kernel behind ``feast materialize-incremental``
    and every Delta/Iceberg MERGE, expressed as anti-join + union so
    it runs on plain parquet.

    Scale shape: both sides are latest-per-key aggregates; the merge
    itself is two hash semi/anti probes and a union — all
    hash-partitioned on the entity key with no sort.  In production
    the change feed is a partition-pruned incremental read and the
    tombstones a tiny broadcast, so cost scales with the delta."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    hourly = hourly_features(events)
    snap_cols = ["user_id", *list(_CDC_SNAP_COLS)]
    base = latest_snapshot(hourly.filter(F.col("feature_timestamp") <= cutoff)).select(
        *snap_cols
    )
    chg = latest_snapshot(hourly.filter(F.col("feature_timestamp") > cutoff)).select(
        *snap_cols
    )
    dels = base.select("user_id").filter(F.col("user_id") % _CDC_DELETE_MOD == 0)
    carried = (
        base.join(chg.select("user_id"), "user_id", "left_anti")
        .join(dels, "user_id", "left_anti")
        .withColumn("merge_action", F.lit("carried"))
    )
    updated_flag = F.when(F.col("__in_base").isNotNull(), "updated").otherwise(
        "inserted"
    )
    applied = (
        chg.join(dels, "user_id", "left_anti")
        .join(
            base.select("user_id", F.lit(1).alias("__in_base")), "user_id", "left"
        )
        .withColumn("merge_action", updated_flag)
        .drop("__in_base")
    )
    return carried.unionByName(applied)


@register(
    "snapshot_diff_audit",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    s1 AS ({_snapshot_sql(f"feature_timestamp <= TIMESTAMP '{_CDC_CUTOFF}'")}),
    s2 AS ({_snapshot_sql("TRUE")})
    SELECT
        CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_current,
        CAST((SELECT COUNT(*) FROM s2 a
              WHERE NOT EXISTS (SELECT 1 FROM s1 b WHERE b.user_id = a.user_id))
             AS BIGINT) AS n_added,
        CAST((SELECT COUNT(*) FROM s1 a
              WHERE NOT EXISTS (SELECT 1 FROM s2 b WHERE b.user_id = a.user_id))
             AS BIGINT) AS n_removed,
        CAST((SELECT COUNT(*) FROM s1 a JOIN s2 b USING (user_id)
              WHERE a.feature_timestamp <> b.feature_timestamp)
             AS BIGINT) AS n_changed,
        CAST((SELECT COUNT(*) FROM s1 a JOIN s2 b USING (user_id)
              WHERE a.feature_timestamp = b.feature_timestamp)
             AS BIGINT) AS n_unchanged
    """,
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot diff: how many entities the current online
    snapshot added, removed, refreshed, or carried unchanged relative
    to the previous materialization — the one-row audit a
    materialization job logs so silent snapshot regressions (mass
    removals, frozen freshness) page someone.

    Change detection keys on ``feature_timestamp`` (a refreshed entity
    necessarily has a newer window end).  Shape: two latest-per-key
    aggregates, one full-outer-style comparison on the entity key —
    all hash-partitioned, output is a single row."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    hourly = hourly_features(events)
    s1 = latest_snapshot(hourly.filter(F.col("feature_timestamp") <= cutoff)).select(
        "user_id", F.col("feature_timestamp").alias("ts1")
    )
    s2 = latest_snapshot(hourly).select(
        "user_id", F.col("feature_timestamp").alias("ts2")
    )
    j = s1.join(s2, "user_id", "full_outer")
    return j.agg(
        F.sum(F.when(F.col("ts2").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_current"),
        F.sum(F.when(F.col("ts1").isNull() & F.col("ts2").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.when(F.col("ts2").isNull() & F.col("ts1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(
            F.when(
                F.col("ts1").isNotNull()
                & F.col("ts2").isNotNull()
                & (F.col("ts1") != F.col("ts2")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_changed"),
        F.sum(
            F.when(
                F.col("ts1").isNotNull() & (F.col("ts1") == F.col("ts2")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_unchanged"),
    )


@register(
    "user_value_locf_interpolation",
    oracle="""
    WITH obs AS (
        SELECT user_id, day, value
        FROM (
            SELECT user_id, CAST(ts AS DATE) AS day, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, CAST(ts AS DATE)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL
        ) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY 1
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM bounds
    ),
    j AS (
        SELECT s.user_id, s.day, o.value,
               o.day IS NOT NULL AS observed
        FROM spine s
        LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
    ),
    w AS (
        SELECT *,
            MAX(CASE WHEN observed THEN day END) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
            LAST_VALUE(value IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
            MIN(CASE WHEN observed THEN day END) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day,
            FIRST_VALUE(value IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val
        FROM j
    )
    SELECT user_id, day, observed,
           prev_val AS value_locf,
           CAST(DATE_DIFF('day', prev_day, day) AS INTEGER) AS days_since_obs,
           CASE WHEN observed THEN FLOOR(value * 10000.0 + 0.5) / 10000.0
                ELSE FLOOR((prev_val + (next_val - prev_val) *
                        (CAST(DATE_DIFF('day', prev_day, day) AS DOUBLE) /
                         CAST(DATE_DIFF('day', prev_day, next_day) AS DOUBLE)))
                      * 10000.0 + 0.5) / 10000.0
           END AS value_interp
    FROM w
    """,
)
def user_value_locf_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity time-series gap fill: densify each user's purchase
    history onto a daily spine (first-to-last observed day), then fill
    the gaps two ways — last-observation-carried-forward (the
    feature-store staple for "value as of day D") and linear
    interpolation between the bracketing observations (the training
    variant that avoids LOCF's staircase bias) — plus a staleness
    counter (``days_since_obs``) so a model can learn to discount
    carried values.  TimescaleDB calls this pair locf()/interpolate()
    in time_bucket_gapfill; pandas calls it ffill/interpolate.

    Per day the carried observation is the LAST purchase of that day,
    chosen by ``max(struct(ts, event_id, value))`` — a hash aggregate
    with a total (ts, event_id) order, deterministic under any shuffle
    (the oracle's ROW_NUMBER twin orders the same way).

    Scale shape: the spine is built per user from a pre-aggregated
    (user, day) frame — ``sequence()`` arrays are bounded by each
    user's own history span, never a global calendar cross join; all
    three windows partition by ``user_id`` (per-user sort of ~span
    rows, no global sort, one shuffle shared by all of them via the
    common partitioning).  Emitted doubles go through the
    engine-identical ``floor(x*1e4 + 0.5)/1e4`` (``round()`` is the
    known cross-engine half-case trap); ``value_locf`` is a carried
    raw column — no arithmetic, no rounding needed."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    obs = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
        .select("user_id", "day", F.col("m.value").alias("value"))
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"),
    )
    j = spine.join(obs, ["user_id", "day"], "left").withColumn(
        "observed", F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    w_back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_struct = F.when(F.col("observed"), F.struct("day", "value"))
    withs = j.select(
        "user_id",
        "day",
        "observed",
        "value",
        F.last(obs_struct, ignorenulls=True).over(w_back).alias("prev"),
        F.first(obs_struct, ignorenulls=True).over(w_fwd).alias("next"),
    )

    def _r4(c):
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    d_prev = F.datediff("day", "prev.day").cast("double")
    d_span = F.datediff("next.day", "prev.day").cast("double")
    interp = F.col("prev.value") + (
        F.col("next.value") - F.col("prev.value")
    ) * (d_prev / d_span)
    return withs.select(
        "user_id",
        "day",
        "observed",
        F.col("prev.value").alias("value_locf"),
        F.datediff("day", "prev.day").cast("int").alias("days_since_obs"),
        F.when(F.col("observed"), _r4(F.col("value")))
        .otherwise(_r4(interp))
        .alias("value_interp"),
    )


#: Tolerance for the nearest-direction as-of variant.  Hourly feature
#: timestamps sit on :00 boundaries, so the 00:30 lookup time is
#: EXACTLY equidistant from its backward and forward neighbors — the
#: tie the backward preference must win deterministically.
NEAREST_TOL_HOURS = 12


def asof_join_nearest(
    entities: DataFrame,
    features: DataFrame,
    key: str,
    lookup_ts: str = "lookup_ts",
    feature_ts: str = "feature_timestamp",
    tol_hours: int = NEAREST_TOL_HOURS,
    feature_cols: tuple[str, ...] = _FEATURE_COLS,
) -> DataFrame:
    """Nearest-direction as-of join — pandas
    ``merge_asof(direction='nearest', tolerance=...)``: each entity
    lookup takes the feature row with the smallest |feature_ts -
    lookup_ts| within the tolerance, in EITHER direction, ties broken
    backward (the earlier row — the leakage-safer side).  LEFT
    semantics: lookups with nothing in tolerance keep a NULL struct.

    Same scale shape as :func:`asof_join`: equi-join on the key plus a
    range predicate, then ONE ``min_by`` hash aggregate per (key,
    lookup) — candidates collapse map-side, no window over the joined
    frame, no sort.  The pick key is the struct (abs_diff_seconds,
    feature_ts): seconds are exact integers, and ascending feature_ts
    makes the equidistant tie land backward."""
    diff = features[feature_ts].cast("long") - entities[lookup_ts].cast("long")
    cond = (
        (entities[key] == features[key])
        & (F.abs(diff) <= tol_hours * 3600)
    )
    joined = entities.alias("e").join(features.alias("f"), cond, "left")
    adiff = F.abs(
        F.col(f"f.{feature_ts}").cast("long")
        - F.col(f"e.{lookup_ts}").cast("long")
    )
    picked = joined.groupBy(
        F.col(f"e.{key}").alias(key), F.col(f"e.{lookup_ts}").alias(lookup_ts)
    ).agg(
        F.min_by(
            F.struct(
                F.col(f"f.{feature_ts}").alias(feature_ts),
                *[F.col(f"f.{c}").alias(c) for c in feature_cols],
            ),
            F.struct(
                adiff.alias("d"), F.col(f"f.{feature_ts}").alias("ts")
            ),
        ).alias("__f")
    )
    return picked.select(
        key,
        lookup_ts,
        F.col(f"__f.{feature_ts}").alias(feature_ts),
        *[F.col(f"__f.{c}").alias(c) for c in feature_cols],
    )


@register(
    "pit_nearest_join",
    oracle=f"""
    WITH {HOURLY_FEATURES_SQL_CTE},
    entity AS (
        SELECT c.c_custkey AS user_id, t.lookup_ts
        FROM customer c CROSS JOIN (VALUES {_PIT_VALUES_SQL}) t(lookup_ts)
    ),
    j AS (
        SELECT e.user_id, e.lookup_ts, f.feature_timestamp, {_FEATURE_COLS_SQL},
               ROW_NUMBER() OVER (
                   PARTITION BY e.user_id, e.lookup_ts
                   ORDER BY ABS(CAST(floor(epoch(f.feature_timestamp)) AS BIGINT)
                               - CAST(floor(epoch(e.lookup_ts)) AS BIGINT))
                            ASC NULLS LAST,
                            f.feature_timestamp ASC NULLS LAST
               ) AS rn
        FROM entity e
        LEFT JOIN hourly f
          ON e.user_id = f.user_id
         AND ABS(CAST(floor(epoch(f.feature_timestamp)) AS BIGINT)
                 - CAST(floor(epoch(e.lookup_ts)) AS BIGINT))
             <= {NEAREST_TOL_HOURS} * 3600
    )
    SELECT user_id, lookup_ts, feature_timestamp,
           CASE WHEN feature_timestamp IS NULL THEN NULL
                WHEN feature_timestamp <= lookup_ts THEN 'backward'
                ELSE 'forward' END AS direction,
           {", ".join(_FEATURE_COLS)}
    FROM j WHERE rn = 1
    """,
)
def pit_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction point-in-time retrieval
    (:func:`asof_join_nearest`) of the hourly features at the standard
    lookup fixture.  The 00:30 lookups are exactly equidistant from
    the :00 hourly timestamps on both sides, so every row exercises
    the deterministic backward tie-break; the post-corpus lookup
    exercises the out-of-tolerance NULL path; a ``direction`` column
    surfaces which side won (the backfill-vs-leakage audit signal —
    'forward' rows are the ones a strictly-causal serving path could
    not have produced)."""
    events = load_table(spark, sf_dir, "events")
    features = hourly_features(events)
    entities = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"))
        .crossJoin(
            local_rows(
                spark, [(t,) for t in PIT_LOOKUP_TIMES], "lookup_ts string"
            ).select(F.col("lookup_ts").cast("timestamp").alias("lookup_ts"))
        )
    )
    out = asof_join_nearest(entities, features, key="user_id")
    return out.select(
        "user_id",
        "lookup_ts",
        "feature_timestamp",
        F.when(F.col("feature_timestamp").isNull(), F.lit(None).cast("string"))
        .when(F.col("feature_timestamp") <= F.col("lookup_ts"), F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
        *_FEATURE_COLS,
    )


#: Bitemporal feature window: prior orders count as "known" only once
#: fully received — knowledge/transaction time = max lineitem ship
#: date + a fixed receipt lag (this testdata carries no receiptdate
#: column; the lag models ship->receive latency) — and contribute
#: only within this many days of valid time (order date) before the
#: entity's own order date.
_BT_VALID_DAYS = 365
_BT_RECEIPT_LAG_DAYS = 14


@register(
    "bitemporal_customer_features",
    oracle=f"""
    WITH known AS (
        SELECT o.o_orderkey AS k, o.o_custkey AS cust,
               CAST(o.o_orderdate AS DATE) AS odate,
               CAST(o.o_totalprice AS DECIMAL(16,2)) AS price,
               MAX(CAST(l.l_shipdate AS DATE))
                   + INTERVAL {_BT_RECEIPT_LAG_DAYS} DAYS AS known_at
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3, 4
    ),
    f AS (
        SELECT e.k, e.cust, e.odate,
               COUNT(p.k) AS prior_known_orders,
               COALESCE(SUM(p.price),
                        CAST(0 AS DECIMAL(16,2))) AS prior_known_revenue
        FROM known e
        LEFT JOIN known p
          ON p.cust = e.cust
         AND p.known_at <= e.odate
         AND p.odate >= e.odate - INTERVAL {_BT_VALID_DAYS} DAYS
         AND p.odate < e.odate
        GROUP BY 1, 2, 3
    )
    SELECT k AS o_orderkey, cust AS o_custkey, odate AS o_orderdate,
           CAST(prior_known_orders AS BIGINT) AS prior_known_orders,
           CAST(prior_known_revenue AS DOUBLE) AS prior_known_revenue
    FROM f
    """,
)
def bitemporal_customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point-in-time features — BOTH time axes enforced,
    where pit_asof_join enforces only one: for every order, the
    customer's prior-order count and revenue restricted by (a) VALID
    time — the prior order happened within the last {d} days and
    strictly before — and (b) KNOWLEDGE/transaction time — the prior
    order is counted only if it was fully KNOWN by then (its last
    lineitem receipt date ≤ the entity's order date).  This is the
    correction a training pipeline needs when facts arrive late: a
    feature computed on order date alone would leak ~weeks of
    not-yet-received shipment knowledge into training (the class of
    leak the reference's Feast timestamp semantics can't express —
    Feast tracks one event_timestamp; reference
    feast_repo/features.py).

    Determinism: dates are exact; revenue sums are exact decimal cast
    once to double for emission.

    Scale shape: one header+detail join (keyed on orderkey, AQE
    handles it) collapses to the per-order knowledge frame; the
    bitemporal join is an EQUI-join on custkey with the two time
    predicates as post-join filters — per-customer fan-in is bounded
    by order cadence × the {d}-day valid window, the same bound every
    as-of join here relies on, never a cross-customer cartesian."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    known = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            o["o_orderkey"].alias("k"),
            o["o_custkey"].alias("cust"),
            o["o_orderdate"].cast("date").alias("odate"),
            o["o_totalprice"].cast("decimal(16,2)").alias("price"),
        )
        .agg(
            F.date_add(
                F.max(l["l_shipdate"].cast("date")), _BT_RECEIPT_LAG_DAYS
            ).alias("known_at")
        )
        # localCheckpoint: known self-joins as entity AND prior sides;
        # unmaterialized, the header+detail join and aggregate run
        # twice (column pruning gives the sides different subtrees, so
        # exchange reuse does not kick in)
        .localCheckpoint()
    )
    e = known.select(
        F.col("k").alias("e_k"),
        F.col("cust").alias("e_cust"),
        F.col("odate").alias("e_odate"),
    )
    p = known.select(
        F.col("k").alias("p_k"),
        F.col("cust").alias("p_cust"),
        F.col("odate").alias("p_odate"),
        F.col("price").alias("p_price"),
        F.col("known_at").alias("p_known_at"),
    )
    j = e.join(
        p,
        (F.col("p_cust") == F.col("e_cust"))
        & (F.col("p_known_at") <= F.col("e_odate"))
        & (F.col("p_odate") >= F.date_sub(F.col("e_odate"), _BT_VALID_DAYS))
        & (F.col("p_odate") < F.col("e_odate")),
        "left",
    )
    return j.groupBy(
        F.col("e_k").alias("o_orderkey"),
        F.col("e_cust").alias("o_custkey"),
        F.col("e_odate").alias("o_orderdate"),
    ).agg(
        F.count("p_k").cast("bigint").alias("prior_known_orders"),
        F.coalesce(F.sum("p_price"), F.lit(0).cast("decimal(16,2)"))
        .cast("double")
        .alias("prior_known_revenue"),
    )


#: Staleness budget for served features (seconds): a lookup whose
#: as-of feature row closed more than a day before the event is
#: "beyond TTL" in the audit.
_STALENESS_TTL_SEC = 86400


@register(
    "pit_staleness_audit",
    oracle=f"""
    WITH f AS (
        SELECT user_id,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS fts
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    e AS (
        SELECT event_id, user_id, ts, event_type
        FROM events WHERE user_id IS NOT NULL
    ),
    j AS (
        SELECT e.event_id, e.event_type,
               date_diff('second', f.fts, e.ts) AS st,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY f.fts DESC NULLS LAST
               ) AS rn
        FROM e LEFT JOIN f
          ON e.user_id = f.user_id AND f.fts <= e.ts
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(st) AS BIGINT) AS n_matched,
           CAST(quantile_disc(st, 0.5) AS BIGINT) AS p50_staleness_sec,
           CAST(quantile_disc(st, 0.95) AS BIGINT) AS p95_staleness_sec,
           CAST(MAX(st) AS BIGINT) AS max_staleness_sec,
           ROUND(CAST(SUM(CASE WHEN st > {_STALENESS_TTL_SEC}
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS beyond_ttl_share
    FROM j WHERE rn = 1
    GROUP BY 1
    """,
)
def pit_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-staleness audit of the point-in-time join: for every
    event, how OLD was the freshest feature row the as-of rule was
    allowed to see (event time minus the hourly window close it
    joined to)?  Per event type: match coverage, exact p50/p95/max
    staleness in seconds, and the share of lookups beyond the
    1-day TTL budget.  This is the serving-SLA twin of
    [[pit_asof_join]] — correctness says "never read the future",
    this audit says how far in the past the features actually were
    (the number an online store's freshness alert pages on, and the
    train-serve gap [[online_offline_skew_audit]] assumes bounded).

    Exactness: staleness is an exact integer second difference;
    percentiles are DISCRETE (an actual element, identical element
    both engines — no interpolation float); the TTL share is one
    divide of exact counts.  Unmatched events (before their user's
    first closed window) stay NULL and are excluded from the
    staleness order statistics but counted in coverage.

    Scale shape (re-planned per VERDICT r9 item 3): the audit needs
    the freshest close at ANY distance in the past, so the TTL-bounded
    [[pit_asof_join]] join is not available — and the naive
    ``fts <= ts`` fan-out join blows the fact table up by the per-user
    active-hour count.  Instead the window closes and the events merge
    into ONE per-user time-ordered stream (closes sort before events
    on ties, preserving the inclusive ``fts <= ts`` rule) and a
    running MAX over that stream elects each event's freshest prior
    close: exactly one user-keyed shuffle, zero join fan-out, linear
    in events + closes at any history length
    (tools/scale_probe.py pins the linearity; the plan dump in
    PLANS.md shows the single Exchange).  The per-type summary is a
    bounded aggregate on top."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_type")
    )
    closes = ev.groupBy(
        "user_id",
        (
            F.date_trunc("hour", F.col("ts"))
            + F.expr("INTERVAL 1 HOUR")
        ).alias("fts"),
    ).agg(F.lit(1).alias("one"))
    merged = closes.select(
        "user_id",
        F.col("fts").alias("t"),
        F.lit(0).alias("kind"),
        "fts",
        F.lit(None).cast("string").alias("event_type"),
    ).unionByName(
        ev.select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("timestamp").alias("fts"),
            "event_type",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.asc("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    st = (
        merged.withColumn("last_fts", F.max("fts").over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_type",
            (
                F.col("t").cast("long") - F.col("last_fts").cast("long")
            ).alias("st"),
        )
    )
    return st.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count("st").cast("bigint").alias("n_matched"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY st)")
        .cast("bigint")
        .alias("p50_staleness_sec"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY st)")
        .cast("bigint")
        .alias("p95_staleness_sec"),
        F.max("st").cast("bigint").alias("max_staleness_sec"),
        F.round(
            F.sum(
                F.when(F.col("st") > _STALENESS_TTL_SEC, 1).otherwise(0)
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("beyond_ttl_share"),
    )


#: Candidate label horizons for the sweep (seconds): 1h, 6h, 24h
#: (the production LABEL_HORIZON_HOURS), 72h.
_HORIZON_SWEEP_S = (3600, 21600, 86400, 259200)


@register(
    "label_horizon_sweep",
    oracle=f"""
    WITH {_ENTITY_SQL_CTE},
    conv AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    fc AS (
        SELECT e.user_id, e.lookup_ts, MIN(c.ts) AS first_ts
        FROM entity e
        LEFT JOIN conv c
          ON e.user_id = c.user_id AND c.ts > e.lookup_ts
        GROUP BY 1, 2
    ),
    g AS (
        SELECT CASE WHEN first_ts IS NULL THEN NULL
                    ELSE CAST(floor(epoch(first_ts)) AS BIGINT)
                         - CAST(floor(epoch(CAST(lookup_ts AS TIMESTAMP)))
                                AS BIGINT)
               END AS gap_s
        FROM fc
    ),
    h AS (SELECT unnest([{", ".join(str(s) for s in _HORIZON_SWEEP_S)}])
                 AS horizon_s)
    SELECT CAST(h.horizon_s / 3600 AS BIGINT) AS horizon_hours,
           CAST(COUNT(*) AS BIGINT) AS n_lookups,
           CAST(SUM(CASE WHEN gap_s IS NOT NULL AND gap_s <= h.horizon_s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           FLOOR(CAST(SUM(CASE WHEN gap_s IS NOT NULL
                                    AND gap_s <= h.horizon_s
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS positive_rate,
           FLOOR(CAST(SUM(CASE WHEN gap_s IS NOT NULL
                                    AND gap_s <= h.horizon_s
                               THEN gap_s ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN gap_s IS NOT NULL
                                       AND gap_s <= h.horizon_s
                                   THEN 1 ELSE 0 END), 0)
                 * 10000.0 + 0.5) / 10000.0 AS mean_gap_s
    FROM g CROSS JOIN h
    GROUP BY 1
    """,
)
def label_horizon_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-horizon design sweep — the positive-rate-vs-horizon
    curve a training-set designer reads BEFORE fixing
    ``LABEL_HORIZON_HOURS``: for each candidate horizon, how many
    (entity, lookup) pairs would be labeled positive under
    [[pit_label_join]]'s exact semantics (first conversion STRICTLY
    after the lookup, within the horizon), and how long the winning
    conversions actually took.  Too short a horizon starves the
    positive class; too long blurs attribution — this table is the
    tradeoff made visible, computed from ONE unbounded first-
    conversion pass rather than one label join per candidate.

    Determinism: the first-conversion election is a hash-agg MIN;
    gaps are exact integer epoch-second differences (both engines
    floor identically); every per-horizon statistic is a conditional
    integer aggregate with one fixed divide via the floor ladder.

    Scale shape: one equi-join of the entity grid against the
    conversion stream with a range predicate, collapsed map-side by
    the MIN aggregate (no window, no per-horizon rescans — horizons
    explode the tiny per-pair gap frame, bounded by entities ×
    lookup times × |horizons|)."""
    entities = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"))
        .crossJoin(
            local_rows(
                spark, [(t,) for t in PIT_LOOKUP_TIMES], "lookup_ts string"
            )
        )
    )
    conv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_user"), F.col("ts"))
    )
    fc = (
        entities.join(
            conv,
            (entities["user_id"] == conv["c_user"])
            & (conv["ts"] > F.col("lookup_ts").cast("timestamp")),
            "left",
        )
        .groupBy("user_id", "lookup_ts")
        .agg(F.min("ts").alias("first_ts"))
    )
    gap = (
        F.col("first_ts").cast("long")
        - F.col("lookup_ts").cast("timestamp").cast("long")
    )
    g = fc.select(
        F.when(F.col("first_ts").isNull(), F.lit(None).cast("long"))
        .otherwise(gap)
        .alias("gap_s")
    )
    h = F.explode(
        F.array(*[F.lit(s) for s in _HORIZON_SWEEP_S])
    ).alias("horizon_s")
    gh = g.select("gap_s", h)
    pos = F.when(
        F.col("gap_s").isNotNull()
        & (F.col("gap_s") <= F.col("horizon_s")),
        1,
    ).otherwise(0)
    return gh.groupBy(
        (F.col("horizon_s") / 3600).cast("bigint").alias("horizon_hours")
    ).agg(
        F.count("*").cast("bigint").alias("n_lookups"),
        F.sum(pos).cast("bigint").alias("n_positive"),
        (
            F.floor(
                F.sum(pos).cast("double") / F.count("*") * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("positive_rate"),
        (
            F.floor(
                F.sum(
                    F.when(pos == 1, F.col("gap_s")).otherwise(0)
                ).cast("double")
                / F.nullif(F.sum(pos), F.lit(0))
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mean_gap_s"),
    )
