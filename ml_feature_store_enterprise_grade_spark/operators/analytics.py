"""Behavioral-analytics operators over the event stream.

The reference's domain is clickstream feature engineering (reference
spark/apps/clickstream_aggregation.py computes per-user windowed
counts and conversion ratios; scripts/stream_generator.py:206-215
emits the view→click→purchase event vocabulary).  This module adds
the classic *sequential* analytics a feature platform builds on the
same events: ordered conversion funnels, weekly cohort retention,
gap-based sessionization / recency features, and SCD2 compaction of
a slowly-changing per-user attribute.

Scale design: every operator here shuffles ONCE on ``user_id`` and
then runs all of its logic inside that partitioning — chained window
functions over the same partition key reuse a single Exchange, and
the final per-user aggregates collapse map-side.  Nothing sorts
globally; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, memo, spread
from ..functions import PORTABLE_HASH64_SQL, money, portable_hash64
from ..functions.ranking import (
    ntile_from_rank,
    ranked,
    ranked_select,
    running_totals,
    scalable_ntile,
)
from ..registry import register

# ---------------------------------------------------------------------------
# Reusable API
# ---------------------------------------------------------------------------


def funnel(
    events: DataFrame,
    stages: list[str],
    key: str = "user_id",
    ts: str = "ts",
    event_type: str = "event_type",
) -> DataFrame:
    """Ordered-funnel timestamps per entity.

    For each ``key``, stage *i*'s timestamp is the earliest event of
    ``stages[i]`` at-or-after stage *i-1*'s timestamp (stage 0: the
    earliest occurrence overall).  Equal timestamps count — a
    same-instant view+click progresses the funnel, matching the
    ``>=`` convention of warehouse funnel queries.

    Physical shape: one shuffle on ``key``, then one unbounded
    window projection per stage over that same partitioning (no
    per-stage join, no re-shuffle), then a per-key hash aggregate.
    Each window needs only partition-key grouping (no ORDER BY), so
    there is no sort buffer beyond the partition hash.
    """
    e = events.filter(F.col(key).isNotNull() & F.col(ts).isNotNull()).select(
        key, ts, event_type
    )
    w = Window.partitionBy(key)
    prev: F.Column | None = None
    out = e
    for i, stage in enumerate(stages):
        cond = F.col(event_type) == stage
        if prev is not None:
            cond = cond & (F.col(ts) >= prev)
        out = out.withColumn(f"_t{i}", F.min(F.when(cond, F.col(ts))).over(w))
        prev = F.col(f"_t{i}")
    stage_cols = [F.min(f"_t{i}").alias(f"stage{i}_{s}_ts") for i, s in enumerate(stages)]
    # deepest reached stage wins: build the when-chain deepest-first
    reached = None
    for i in reversed(range(len(stages))):
        c = F.col(f"stage{i}_{stages[i]}_ts").isNotNull()
        reached = F.when(c, F.lit(i + 1)) if reached is None else reached.when(c, F.lit(i + 1))
    reached = reached.otherwise(F.lit(0)).cast("int")
    return (
        out.groupBy(key)
        .agg(*stage_cols)
        .withColumn("stage_reached", reached)
    )


def sessionize(
    events: DataFrame,
    gap_minutes: float,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Tag each event with a per-entity session id (gap rule).

    A new session starts when the time since the previous event of
    the same ``key`` exceeds ``gap_minutes``.  Session id is the
    running count of session starts — deterministic given a total
    per-key event order (``ts`` plus the ``tiebreak`` column for
    equal timestamps).

    One shuffle on ``key``; the lag and the running sum share the
    same window sort.  This is the batch twin of the streaming
    ``session_window`` aggregation (streaming/clickstream.py).
    """
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    gap_us = F.unix_micros(F.col(ts)) - F.unix_micros(F.lag(F.col(ts)).over(w))
    is_start = F.when(
        gap_us.isNull() | (gap_us > int(gap_minutes * 60 * 1_000_000)), 1
    ).otherwise(0)
    running = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("_gap_us", gap_us).withColumn(
        "session_id", F.sum(is_start).over(running).cast("bigint")
    )


def scd2_compact(
    snapshots: DataFrame,
    key: str,
    attr: str,
    effective_from: str,
) -> DataFrame:
    """Compact per-key attribute snapshots into SCD2 validity ranges.

    Keeps only rows where ``attr`` differs from the previous snapshot
    (change points), then closes each range with the next change's
    ``effective_from`` (NULL = current).  The feature-store use: turn
    the append-only offline history into the type-2 dimension that
    point-in-time training joins read (reference materializes only
    the *latest* value per key — airflow/dags/
    feature_store_materialization.py:214-239 — an SCD2 view is the
    lossless generalization).

    One shuffle on ``key``; lag / lead / row_number share one window
    sort.
    """
    w = Window.partitionBy(key).orderBy(effective_from)
    changed = snapshots.withColumn("_prev", F.lag(attr).over(w)).filter(
        F.col("_prev").isNull() | (F.col(attr) != F.col("_prev"))
    )
    return (
        changed.withColumn("effective_to", F.lead(effective_from).over(w))
        .withColumn("version", F.row_number().over(w).cast("int"))
        .withColumn("is_current", F.col("effective_to").isNull())
        .drop("_prev")
        .withColumnRenamed(effective_from, "effective_from")
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ["view", "click", "purchase"]


@register(
    "session_funnel",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_type FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    s0 AS (
        SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0
        FROM e
    ),
    s1 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t0 THEN ts END)
                  OVER (PARTITION BY user_id) AS t1
        FROM s0
    ),
    s2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
        FROM s1
    )
    SELECT user_id,
           MIN(t0) AS stage0_view_ts,
           MIN(t1) AS stage1_click_ts,
           MIN(t2) AS stage2_purchase_ts,
           CAST(CASE WHEN MIN(t2) IS NOT NULL THEN 3
                     WHEN MIN(t1) IS NOT NULL THEN 2
                     WHEN MIN(t0) IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage_reached
    FROM s2
    GROUP BY user_id
    """,
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel view → click → purchase per user:
    the ordered generalization of the reference's per-window
    conversion-rate ratios (reference spark/apps/
    clickstream_aggregation.py:193-195 divides stage counts without
    enforcing event ORDER; a funnel requires click-after-view,
    purchase-after-click)."""
    return funnel(load_table(spark, sf_dir, "events"), _FUNNEL_STAGES)


#: Session gap for batch sessionization (median inter-event gap in the
#: corpus is ~7 h, so 6 h yields a realistic mix of multi-event and
#: singleton sessions).
SESSION_GAP_MINUTES = 360.0


@register(
    "user_recency_features",
    oracle=f"""
    WITH e AS (
        SELECT user_id, ts, event_id FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
        SELECT user_id, ts,
               date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM e
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
           CAST(SUM(CASE WHEN gap_us IS NULL
                          OR gap_us > {int(SESSION_GAP_MINUTES * 60e6)}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           ROUND(MAX(gap_us) / 3600000000.0, 4) AS max_gap_hours,
           ROUND(SUM(gap_us) / COUNT(gap_us) / 3600000000.0, 4) AS avg_gap_hours
    FROM g
    GROUP BY user_id
    """,
)
def user_recency_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency / cadence features: lifetime bounds, active
    days, 6-hour-gap session count, and inter-event-gap extremes —
    the standard churn-model feature block.  The mean gap is computed
    as exact integer-microsecond sum ÷ count (associative, shuffle-
    order-proof) and only then converted to hours, so the value is
    bit-identical across engines and cluster runs."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    tagged = sessionize(e, SESSION_GAP_MINUTES, tiebreak="event_id")
    gap = F.col("_gap_us")
    return tagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.round(F.max(gap) / F.lit(3_600_000_000.0), 4).alias("max_gap_hours"),
        F.round(F.sum(gap) / F.count(gap) / F.lit(3_600_000_000.0), 4).alias(
            "avg_gap_hours"
        ),
    )


#: Half-life (days) for exponential time-decay feature weighting, and
#: the fixed as-of instant (decay, like recency, is always measured
#: at a point in time; a fixed one keeps the query deterministic —
#: the current_timestamp policy, SURVEY Appendix).
_DECAY_HALF_LIFE_DAYS = 7.0
_DECAY_ASOF = "2024-02-01"


@register(
    "user_decay_weighted_features",
    oracle=f"""
    SELECT user_id,
           ROUND(SUM(w), 6) AS decayed_events,
           ROUND(SUM(CASE WHEN event_type = 'click' THEN w ELSE 0 END), 6)
               AS decayed_clicks,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value * w
                          ELSE 0 END), 6) AS decayed_revenue,
           ROUND(MAX(w), 6) AS last_event_weight
    FROM (
        SELECT user_id, event_type, value,
               POWER(0.5, (epoch(TIMESTAMP '{_DECAY_ASOF}') - epoch(ts))
                          / 86400.0 / {_DECAY_HALF_LIFE_DAYS}) AS w
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND ts <= TIMESTAMP '{_DECAY_ASOF}'
    )
    GROUP BY user_id
    """,
)
def user_decay_weighted_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay weighted engagement features: each event
    contributes ``0.5^(age/half_life)`` at the as-of instant, so the
    decayed event/click/revenue sums emphasize recent behavior without
    the cliff edges of fixed lookback windows — the standard
    recommender/churn feature block a sliding-window family can't
    express (every event always contributes, just geometrically
    less).  ``last_event_weight`` is the decayed weight of the most
    recent event — a smooth recency signal in (0, 1].

    Scale shape: the weight is a map-side projection (epoch cast +
    ``pow`` inside codegen), and the rollup is ONE hash aggregate on
    user_id with map-side partial sums — word-count shape, no window,
    no sort.  Cross-engine: both engines compute the identical
    ``0.5^x`` IEEE expression and round at 6 decimals, absorbing
    partial-aggregation order differences (same determinism argument
    as the log-prob operators)."""
    asof = F.lit(_DECAY_ASOF).cast("timestamp")
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("ts") <= asof)
        )
        .withColumn(
            "w",
            F.pow(
                F.lit(0.5),
                (asof.cast("double") - F.col("ts").cast("double"))
                / F.lit(86400.0)
                / F.lit(_DECAY_HALF_LIFE_DAYS),
            ),
        )
    )
    return e.groupBy("user_id").agg(
        F.round(F.sum("w"), 6).alias("decayed_events"),
        F.round(
            F.sum(F.when(F.col("event_type") == "click", F.col("w")).otherwise(0.0)), 6
        ).alias("decayed_clicks"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value") * F.col("w")
                ).otherwise(0.0)
            ),
            6,
        ).alias("decayed_revenue"),
        F.round(F.max("w"), 6).alias("last_event_weight"),
    )


@register(
    "cohort_retention",
    oracle="""
    WITH e AS (
        SELECT user_id, ts FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM e GROUP BY user_id
    ),
    weeks AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS activity_week
        FROM e
    ),
    j AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, w.activity_week) / 7 AS INT)
                   AS week_offset
        FROM weeks w JOIN firsts f USING (user_id)
    ),
    c AS (
        SELECT cohort_week, week_offset, COUNT(*) AS n_active
        FROM j GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, n_active,
           MAX(CASE WHEN week_offset = 0 THEN n_active END)
               OVER (PARTITION BY cohort_week) AS cohort_size,
           ROUND(CAST(n_active AS DOUBLE)
                 / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week), 6) AS retention
    FROM c
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-event
    week, counted once per active week, with retention relative to
    the cohort's week-0 size.  The user→cohort attachment is an
    aggregate-then-join on ``user_id`` (the firsts side is one row
    per user — AQE broadcasts it when small); the final triangle is
    tiny (weeks × offsets), so the closing window costs nothing."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    firsts = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    weeks = e.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("activity_week")
    ).distinct()
    j = weeks.join(firsts, "user_id").select(
        "cohort_week",
        (F.datediff("activity_week", "cohort_week") / 7).cast("int").alias("week_offset"),
    )
    c = j.groupBy("cohort_week", "week_offset").agg(F.count("*").alias("n_active"))
    w = Window.partitionBy("cohort_week")
    size = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w)
    return c.select(
        "cohort_week",
        "week_offset",
        "n_active",
        size.alias("cohort_size"),
        F.round(F.col("n_active").cast("double") / size, 6).alias("retention"),
    )


#: Daily-activity banding thresholds for the SCD2 demo attribute.
_BAND_SQL = "CASE WHEN n >= 4 THEN 'high' WHEN n >= 2 THEN 'mid' ELSE 'low' END"

#: Shared oracle CTE chain building the SCD2 band history (used by
#: both the history query and the interval-join query).
_SCD2_SQL_CTES = f"""
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ),
    banded AS (
        SELECT user_id, d, {_BAND_SQL} AS band FROM daily
    ),
    changes AS (
        SELECT * FROM (
            SELECT user_id, d, band,
                   lag(band) OVER (PARTITION BY user_id ORDER BY d) AS prev
            FROM banded
        ) WHERE prev IS NULL OR band <> prev
    ),
    scd AS (
        SELECT user_id, band,
               d AS effective_from,
               lead(d) OVER (PARTITION BY user_id ORDER BY d) AS effective_to,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
                   AS version,
               lead(d) OVER (PARTITION BY user_id ORDER BY d) IS NULL AS is_current
        FROM changes
    )
"""


@register(
    "scd2_activity_history",
    oracle=f"""
    WITH {_SCD2_SQL_CTES}
    SELECT user_id, band, effective_from, effective_to, version, is_current
    FROM scd
    """,
)
def scd2_activity_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension over a per-user daily activity
    band (low/mid/high events per day): consecutive same-band days
    collapse into one validity range ``[effective_from,
    effective_to)`` with a version counter and a current flag.  This
    is the lossless history view behind the feature store's
    latest-snapshot materialization (COVERAGE S8)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    daily = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(F.count("*").alias("n"))
    banded = daily.select(
        "user_id",
        "d",
        F.when(F.col("n") >= 4, "high").when(F.col("n") >= 2, "mid").otherwise("low").alias(
            "band"
        ),
    )
    out = scd2_compact(banded, key="user_id", attr="band", effective_from="d")
    return out.select(
        "user_id", "band", "effective_from", "effective_to", "version", "is_current"
    )


@register(
    "activity_band_interval_join",
    oracle=f"""
    WITH {_SCD2_SQL_CTES},
    e AS (
        SELECT user_id, CAST(ts AS DATE) AS d, value FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT s.band,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_value
    FROM e JOIN scd s
      ON e.user_id = s.user_id
     AND e.d >= s.effective_from
     AND (s.effective_to IS NULL OR e.d < s.effective_to)
    GROUP BY 1
    """,
)
def activity_band_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval (range) join: attach to every event the SCD2
    activity band in effect on its date, then roll up per band.  The
    general J-family member the as-of join doesn't cover — validity
    *ranges*, not nearest-timestamp.

    Physical shape: equi-key on ``user_id`` carries the join (one
    shuffle, sort-merge), the range predicate applies as a join
    filter inside each key group — per-user interval counts are
    small (≤ #band changes), so the filter never amplifies.  The
    half-open ``[from, to)`` convention plus NULL-open current rows
    means every event matches exactly one interval by construction.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"), "value")
    )
    bands = scd2_activity_history(spark, sf_dir)
    cond = (
        (e["user_id"] == bands["user_id"])
        & (e["d"] >= bands["effective_from"])
        & (bands["effective_to"].isNull() | (e["d"] < bands["effective_to"]))
    )
    j = e.join(bands, cond).select(e["user_id"], "d", "value", "band")
    return j.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(money(F.col("value"))), 2).cast("double").alias("total_value"),
    )


@register(
    "session_path_markov",
    oracle=f"""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) IS NULL
                     OR date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) > {int(SESSION_GAP_MINUTES * 60e6)}
                    THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess
        FROM g
    ),
    t AS (
        SELECT event_type AS src_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id, sess ORDER BY ts, event_id
               ) AS dst_type
        FROM s
    ),
    c AS (
        SELECT src_type, dst_type, COUNT(*) AS n_transitions
        FROM t WHERE dst_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT src_type, dst_type, CAST(n_transitions AS BIGINT) AS n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE)
                 / SUM(n_transitions) OVER (PARTITION BY src_type), 6) AS p_transition
    FROM c
    """,
)
def session_path_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types *within
    sessions*: for each (src → dst) pair of consecutive events in the
    same gap-based session, the transition count and the row-
    normalized probability — the behavioral-path features that feed
    next-action models and funnel anomaly detection (transitions
    across session boundaries carry no intent signal, so the chain
    resets per session — exactly what the sessionize gap rule gives).

    One shuffle on user_id (sessionize and the within-session LEAD
    share the sort), then one aggregate to the |types|² matrix — tiny
    at any corpus scale; the per-src normalization windows over that
    tiny frame."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    tagged = sessionize(e, SESSION_GAP_MINUTES, tiebreak="event_id")
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    t = tagged.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(ws).alias("dst_type"),
    ).filter(F.col("dst_type").isNotNull())
    c = t.groupBy("src_type", "dst_type").agg(
        F.count("*").cast("bigint").alias("n_transitions")
    )
    wsrc = Window.partitionBy("src_type")
    return c.select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wsrc), 6
        ).alias("p_transition"),
    )


@register(
    "user_wow_delta_features",
    oracle="""
    WITH wk AS (
        SELECT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
               COUNT(*) AS wk_events,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
                   AS wk_revenue
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT user_id, week_start, wk_events, wk_revenue,
           LAG(wk_events) OVER w AS prev_events,
           CAST(wk_events - LAG(wk_events) OVER w AS BIGINT) AS events_delta,
           ROUND((wk_events - LAG(wk_events) OVER w)
                 / NULLIF(CAST(LAG(wk_events) OVER w AS DOUBLE), 0), 6)
               AS events_wow_pct,
           ROUND(wk_revenue - LAG(wk_revenue) OVER w, 2) AS revenue_delta
    FROM wk
    WINDOW w AS (PARTITION BY user_id ORDER BY week_start)
    """,
)
def user_wow_delta_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week trend features per user: weekly event and
    revenue totals plus their deltas and percentage change against the
    previous week (``LAG`` over the per-user week series) — the
    momentum/trend block of a behavioral feature vector, and the P8
    ratio discipline (``NULLIF`` guard) applied to a windowed lag.

    Scale: one shuffle to the weekly aggregate (map-side partials
    collapse the raw events first), then the lag window runs inside
    the same user partitioning — each user's series is a handful of
    rows, so the sort inside each partition is trivial and nothing
    sorts globally."""
    wk = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id", F.date_trunc("week", "ts").alias("week_start"))
        .agg(
            F.count("*").alias("wk_events"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
                2,
            ).alias("wk_revenue"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("week_start")
    prev_e = F.lag("wk_events").over(w)
    prev_r = F.lag("wk_revenue").over(w)
    return wk.select(
        "user_id",
        "week_start",
        "wk_events",
        "wk_revenue",
        prev_e.alias("prev_events"),
        (F.col("wk_events") - prev_e).cast("bigint").alias("events_delta"),
        F.round(
            (F.col("wk_events") - prev_e) / F.nullif(prev_e.cast("double"), F.lit(0.0)),
            6,
        ).alias("events_wow_pct"),
        F.round(F.col("wk_revenue") - prev_r, 2).alias("revenue_delta"),
    )


#: Market-basket support floor: pairs must co-occur in at least this
#: many orders to earn a lift estimate.
_BASKET_MIN_SUPPORT = 3


@register(
    "item_cooccurrence_lift",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT order_id) AS DOUBLE) AS n_orders FROM basket),
    item AS (SELECT item_id, COUNT(*) AS n_i FROM basket GROUP BY 1),
    pair AS (
        SELECT a.item_id AS item_a, b.item_id AS item_b, COUNT(*) AS n_ab
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    )
    SELECT p.item_a, p.item_b, p.n_ab,
           floor((p.n_ab / n.n_orders)
                 / ((ia.n_i / n.n_orders) * (ib.n_i / n.n_orders)) * 10000 + 0.5)
               / 10000 AS lift
    FROM pair p
    JOIN item ia ON p.item_a = ia.item_id
    JOIN item ib ON p.item_b = ib.item_id
    CROSS JOIN n
    """,
)
def item_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift — the association-rule
    table behind "bought together" recommenders: for every item pair
    sharing an order, lift = P(a,b) / (P(a)·P(b)) over the order
    universe, floored at {_BASKET_MIN_SUPPORT} co-occurrences.

    Scale shape: ONE shuffle gathers each order's distinct item set
    (``collect_set`` dedups in the partial aggregate, so the separate
    DISTINCT pass — and the self-join the naive plan needs — never
    happens); pairs then expand map-side from the sorted basket array
    (``transform``/``slice``/``flatten`` — candidate pairs are bounded
    by Σ basket_size², with basket sizes small constants in practice,
    never a corpus-wide cross product) and aggregate with map-side
    partials.  Item margins are a vocabulary-sized broadcast; the
    order count is a scalar.  This is the same bounded-blocking
    discipline as the LSH dedup family, applied to co-occurrence."""
    # spooled: three consumers (order count, pair expansion, item
    # margins) would otherwise re-run the scan + basket aggregate
    orders = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("order_id"), F.col("l_partkey").alias("item_id"))
        .groupBy("order_id")
        .agg(F.array_sort(F.collect_set("item_id")).alias("items"))
        .localCheckpoint()
    )
    # one-row broadcast, not a driver-side count: keeps the operator
    # lazy (no hidden job at construction) and never stale on re-run
    n = orders.agg(F.count("*").cast("double").alias("n_orders"))
    sz = F.size("items")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), sz - 2),
            lambda i: F.transform(
                F.slice(F.col("items"), i + 2, sz),
                lambda j: F.struct(
                    F.element_at(F.col("items"), i + 1).alias("item_a"),
                    j.alias("item_b"),
                ),
            ),
        )
    )
    pair = (
        # explode(NULL) emits nothing, so single-item baskets vanish
        orders.select(F.explode(F.when(sz >= 2, pairs)).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN_SUPPORT)
    )
    item = (
        orders.select(F.explode("items").alias("item_id"))
        .groupBy("item_id")
        .agg(F.count("*").alias("n_i"))
    )
    ia = item.select(F.col("item_id").alias("item_a"), F.col("n_i").alias("n_a"))
    ib = item.select(F.col("item_id").alias("item_b"), F.col("n_i").alias("n_b"))
    no = F.col("n_orders")
    lift = (F.col("n_ab") / no) / ((F.col("n_a") / no) * (F.col("n_b") / no))
    # identical-IEEE 4-dp rounding, as in user_ltv_features: F.round and
    # DuckDB's ROUND disagree at half-way ties
    lift = F.floor(lift * 10000 + F.lit(0.5)) / 10000
    return (
        pair.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(n))
        .select("item_a", "item_b", "n_ab", lift.alias("lift"))
    )


@register(
    "user_ltv_features",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_purchases,
           floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 100 + 0.5) / 100 AS ltv,
           floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
               / 10000 AS aov,
           MIN(ts) AS first_purchase_ts,
           MAX(ts) AS last_purchase_ts,
           CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT) AS tenure_days,
           floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / GREATEST(CAST(date_diff('day', MIN(ts), MAX(ts)) AS DOUBLE), 1.0)
                 * 10000 + 0.5) / 10000
               AS revenue_per_day
    FROM events
    WHERE user_id IS NOT NULL AND event_type = 'purchase' AND value IS NOT NULL
    GROUP BY user_id
    """,
)
def user_ltv_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value feature block per user: purchase count, total
    and average order value, first/last purchase, tenure, and revenue
    velocity — the monetization features a churn/LTV model consumes
    next to the behavioral counts.  One filtered scan, one shuffle on
    the user key, all aggregates map-side combinable."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
    )
    tenure = F.datediff(F.max("ts"), F.min("ts")).cast("bigint")
    # Exact-decimal sum (MONEY discipline): double summation is
    # order-sensitive, and at a round-half boundary a last-ulp wobble
    # flips the 4-dp average across engines.
    # Identical-IEEE rounding (floor(x*10^k + 0.5)/10^k) instead of
    # ROUND: Spark rounds the shortest decimal repr half-up while
    # DuckDB rounds in floating point, and at an exact .5 boundary
    # (decimal-sum / power-of-two count) the two disagree; the floor
    # form is the same IEEE op sequence on both engines.
    s = F.sum(F.col("value").cast("decimal(18,6)")).cast("double")

    def _r(col, k):
        return F.floor(col * (10**k) + F.lit(0.5)) / (10**k)

    return e.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        _r(s, 2).alias("ltv"),
        _r(s / F.count("*"), 4).alias("aov"),
        F.min("ts").alias("first_purchase_ts"),
        F.max("ts").alias("last_purchase_ts"),
        tenure.alias("tenure_days"),
        _r(s / F.greatest(tenure.cast("double"), F.lit(1.0)), 4).alias(
            "revenue_per_day"
        ),
    )


@register(
    "percentile_rank_features",
    oracle="""
    SELECT event_id, event_type, value,
           ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value, event_id), 6)
               AS pct_rank,
           CAST(NTILE(100) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INTEGER)
               AS centile
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
    """,
)
def percentile_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group percentile-rank encoding of a continuous feature —
    the rank-normalization trick that makes features comparable across
    groups with different scales (a value's centile among its
    event_type peers, not its raw magnitude).  Ties break on event_id
    so both engines rank identically.

    Scale note (re-planned round 11, VERDICT r10 item 3): the prior
    form partitioned the window by event_type — a ~5-value key, i.e.
    5 tasks each sorting ~20% of the fact table at 100×.  Ranks now
    come from :func:`functions.ranking.ranked` with event_type as the
    GROUP key: range partitioning on (event_type, value, event_id)
    spreads every group across many chunks, local sorts stay
    partition-sized, and percent_rank / NTILE(100) are exact integer
    arithmetic on (row number, group size) — rank == row_number here
    because the event_id tiebreaker makes keys unique.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_id", "event_type", "value")
    )
    r = ranked(
        e,
        [("value", "asc"), ("event_id", "asc")],
        group_cols=["event_type"],
    )
    pct = F.when(
        F.col("n_rows") > 1,
        (F.col("rn") - 1).cast("double") / (F.col("n_rows") - 1),
    ).otherwise(F.lit(0.0))
    return r.select(
        "event_id",
        "event_type",
        "value",
        F.round(pct, 6).alias("pct_rank"),
        ntile_from_rank(F.col("rn"), F.col("n_rows"), 100).alias("centile"),
    )


#: RFM scoring date (end of the events window) and quintile count.
_RFM_ASOF = "2024-02-01"


@register(
    "rfm_segmentation",
    oracle=f"""
    WITH m AS (
        SELECT user_id,
               CAST(date_diff('day', MAX(ts), TIMESTAMP '{_RFM_ASOF}') AS BIGINT)
                   AS recency_days,
               COUNT(*) AS frequency,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS monetary
        FROM events
        WHERE user_id IS NOT NULL AND event_type = 'purchase' AND value IS NOT NULL
        GROUP BY user_id
    ),
    s AS (
        SELECT *,
               CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INTEGER) AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INTEGER) AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS INTEGER) AS m_score
        FROM m
    )
    SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM s
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quintile segmentation — the
    classic behavioral customer-segmentation block, with deterministic
    quintiles (ties broken on the key) and the conventional
    champion/loyal/at-risk/hibernating labeling.  Monetary sums use
    the exact-decimal discipline.

    Scale note (re-planned round 11, VERDICT r10 item 3): each
    quintile routes through :func:`functions.ranking.scalable_ntile`
    — exact NTILE semantics from range-partitioned local row numbers
    plus broadcast chunk offsets, so the per-user frame is never
    sorted in one task even at billions of entities (the prior form's
    three global ``ntile(5)`` windows each were)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
    )
    asof = F.lit(_RFM_ASOF).cast("timestamp")
    m = e.groupBy("user_id").agg(
        F.datediff(asof, F.max("ts")).cast("bigint").alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias(
            "monetary"
        ),
    )
    s = scalable_ntile(
        m, 5, [("recency_days", "desc"), ("user_id", "asc")],
        out_col="r_score",
    )
    s = scalable_ntile(
        s, 5, [("frequency", "asc"), ("user_id", "asc")],
        out_col="f_score",
    )
    s = scalable_ntile(
        s, 5, [("monetary", "asc"), ("user_id", "asc")],
        out_col="m_score",
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return s.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


@register(
    "conversion_attribution",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts, event_type, value FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    w AS (
        SELECT *,
               MAX(CASE WHEN event_type IN ('click', 'view') THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch_ts
        FROM e
    )
    SELECT w.user_id,
           w.event_id AS purchase_event_id,
           w.ts AS purchase_ts,
           ROUND(w.value, 6) AS purchase_value,
           w.last_touch_ts,
           CASE WHEN w.last_touch_ts IS NULL THEN NULL
                ELSE CAST(date_diff('second', w.last_touch_ts, w.ts) AS BIGINT)
           END AS seconds_since_touch,
           w.last_touch_ts IS NOT NULL
               AND w.ts - w.last_touch_ts <= INTERVAL 30 MINUTES AS attributed
    FROM w
    WHERE w.event_type = 'purchase'
    """,
)
def conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is attributed
    to the most recent preceding engagement (click/view) of the same
    user, and counted as attributed when that touch falls inside a
    30-minute attribution window — the marketing-analytics join every
    clickstream platform ships next to its funnels.

    One shuffle on user_id; the last-touch lookup is a running
    conditional MAX over the per-user event order (no self-join of the
    fact table), then a filter to purchases."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ts = F.max(
        F.when(F.col("event_type").isin("click", "view"), F.col("ts"))
    ).over(w)
    enriched = e.withColumn("last_touch_ts", touch_ts)
    attributed = F.col("last_touch_ts").isNotNull() & (
        F.col("ts") - F.col("last_touch_ts") <= F.expr("INTERVAL 30 MINUTES")
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 6).alias("purchase_value"),
        "last_touch_ts",
        F.when(
            F.col("last_touch_ts").isNotNull(),
            F.unix_timestamp("ts") - F.unix_timestamp("last_touch_ts"),
        )
        .cast("bigint")
        .alias("seconds_since_touch"),
        attributed.alias("attributed"),
    )


@register(
    "purchase_interarrival_stats",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type = 'purchase'
    ),
    g AS (
        SELECT user_id,
               CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_s
        FROM p WHERE prev_ts IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           ROUND(AVG(gap_s), 2) AS avg_gap_s,
           ROUND(quantile_cont(gap_s, 0.5), 1) AS p50_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM g
    GROUP BY user_id
    """,
)
def purchase_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase inter-arrival features per user: count, min/avg/median
    /max gaps between consecutive purchases — the cadence block behind
    churn horizons and next-purchase-time models (a user whose gap
    suddenly exceeds their own median is the classic churn precursor).

    One shuffle on user_id; lag and the gap aggregate share the
    partition; the exact median runs over each user's handful of gaps."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            "ts",
            F.lag("ts").over(Window.partitionBy("user_id").orderBy("ts", "event_id")).alias(
                "prev_ts"
            ),
        )
    )
    g = p.filter(F.col("prev_ts").isNotNull()).select(
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).cast("bigint").alias("gap_s"),
    )
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 1).alias("p50_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
    )


#: Per-user behavioral feature pairs whose Pearson correlation the
#: matrix reports (6 pairs over 4 features).
_CORR_FEATURES = ("n_events", "total_value", "n_purchases", "n_days")


@register(
    "feature_correlation_matrix",
    oracle=f"""
    WITH feats AS (
        SELECT user_id,
               CAST(COUNT(*) AS DOUBLE) AS n_events,
               COALESCE(SUM(value), 0.0) AS total_value,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
                   AS n_purchases,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS n_days
        FROM events
        GROUP BY user_id
    )
    {" UNION ALL ".join(
        f"SELECT '{a}' AS feature_a, '{b}' AS feature_b, "
        f"ROUND(corr({a}, {b}), 6) AS pearson_r FROM feats"
        for i, a in enumerate(_CORR_FEATURES)
        for b in _CORR_FEATURES[i + 1:]
    )}
    """,
)
def feature_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the per-user behavioral
    features — the redundancy screen a feature platform runs before
    admitting correlated features into a training view (|r| ≈ 1 pairs
    carry no marginal signal and bloat serving payloads).

    Scale shape: ONE shuffle builds the per-user feature frame; all
    six correlations then compute in a single global aggregate pass
    (each ``corr`` is a streaming moment accumulator — partial
    map-side, merged associatively), and the driver-side result is
    six rows.  Pearson r is scale-invariant, so sample-vs-population
    variants agree between engines by construction."""
    e = load_table(spark, sf_dir, "events")
    feats = e.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n_events"),
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("total_value"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("n_purchases"),
        F.countDistinct(F.to_date("ts")).cast("double").alias("n_days"),
    )
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_FEATURES)
        for b in _CORR_FEATURES[i + 1 :]
    ]
    wide = feats.agg(
        *[F.round(F.corr(a, b), 6).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (feature_a, feature_b, pearson_r)"
        )
    )


#: PageRank over the item co-occurrence graph: damping and FIXED
#: iteration count (fixed, not converged-to-tolerance, so both
#: engines compute the identical deterministic value).  Edge support
#: is 2 shared orders, NOT the lift table's {_BASKET_MIN_SUPPORT}:
#: centrality needs a connected graph (support 3 leaves 4 nodes at
#: sf0.1; support 2 keeps ~6k).
_PR_DAMPING = 0.85
_PR_ITERS = 5
_PR_MIN_SUPPORT = 2

@memo
def cobuy_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(a, b, n_ab)`` co-purchase pair census (``a < b``, ``n_ab >=
    2``), built map-side from sorted per-order item arrays (bounded
    blocking, no basket self-join).  Every graph query (pagerank,
    triangle census, k-core, LPA, RA link prediction) derives its edge
    list from this frame, so the basket aggregate + pair expansion +
    census shuffle runs once per session.  Floor n_ab >= 2 = the
    weakest support any consumer uses; each consumer applies its own
    (>=) filter on top.  Every oracle recomputes the census
    independently in SQL, so the sharing is invisible to
    correctness."""
    orders = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .groupBy("order_id")
        .agg(F.array_sort(F.collect_set("item_id")).alias("items"))
    )
    sz = F.size("items")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), sz - 2),
            lambda i: F.transform(
                F.slice(F.col("items"), i + 2, sz),
                lambda j: F.struct(
                    F.element_at(F.col("items"), i + 1).alias("a"),
                    j.alias("b"),
                ),
            ),
        )
    )
    return (
        orders.select(F.explode(F.when(sz >= 2, pairs)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .localCheckpoint()
    )


def _pagerank_iter_sql(i: int) -> str:
    prev = "pr0" if i == 1 else f"pr{i - 1}"
    return f"""pr{i} AS (
        SELECT nd.item_id,
               (1 - {_PR_DAMPING}) / n.nn
                   + {_PR_DAMPING} * COALESCE(SUM(p.pr / dg.deg), 0) AS pr
        FROM nodes nd
        CROSS JOIN n
        LEFT JOIN sym s ON s.dst = nd.item_id
        LEFT JOIN {prev} p ON p.item_id = s.src
        LEFT JOIN deg dg ON dg.item_id = s.src
        GROUP BY nd.item_id, n.nn
    )"""


@register(
    "item_pagerank",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    pair AS (
        SELECT a.item_id AS item_a, b.item_id AS item_b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_PR_MIN_SUPPORT}
    ),
    sym AS (
        SELECT item_a AS src, item_b AS dst FROM pair
        UNION ALL
        SELECT item_b AS src, item_a AS dst FROM pair
    ),
    deg AS (SELECT src AS item_id, COUNT(*) AS deg FROM sym GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS item_id FROM sym),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes),
    pr0 AS (SELECT item_id, 1.0 / n.nn AS pr FROM nodes, n),
    {", ".join(_pagerank_iter_sql(i) for i in range(1, _PR_ITERS + 1))}
    SELECT p.item_id,
           d.deg,
           ROUND(p.pr * 1000, 6) AS pr_permille
    FROM pr{_PR_ITERS} p JOIN deg d ON p.item_id = d.item_id
    """,
)
def item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank item importance over the co-occurrence graph (the
    graph-centrality feature a recommender ranks candidates with):
    nodes are items sharing ≥2-order co-occurrence edges, 5 fixed
    power-iteration rounds at damping 0.85 from a uniform start —
    fixed iterations, so the value is a deterministic closed form
    both engines reproduce (the oracle unrolls the same 5 rounds as
    chained CTEs; convergence-tolerance stopping would tie the result
    to float comparison order).

    Scale shape: the same per-round discipline as
    :func:`~.dedup.connected_components` — the slim symmetric edge
    list (pre-joined with source degrees) is cached once; each round
    is one join + one two-phase sum aggregate over edges, with
    ``localCheckpoint`` truncating lineage so the plan stays O(1)
    deep; the node count is a bounded scalar (|items|, not |events|).
    """
    pair = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _PR_MIN_SUPPORT)
        .select(F.col("a").alias("item_a"), F.col("b").alias("item_b"))
    )
    sym = pair.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).unionAll(
        pair.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    sym_deg = sym.join(deg, "src").cache()
    sym_deg.count()
    nodes = sym_deg.select(F.col("src").alias("item_id")).distinct().localCheckpoint()
    nn = float(nodes.count())
    if nn == 0:
        # no pair reaches the support threshold: empty graph, empty
        # report (the oracle yields zero rows; a 1/nn teleport term
        # would raise ZeroDivisionError driver-side)
        sym_deg.unpersist()
        return nodes.select(
            "item_id",
            F.lit(0).cast("bigint").alias("deg"),
            F.lit(0.0).alias("pr_permille"),
        )
    pr = nodes.select("item_id", (F.lit(1.0) / nn).alias("pr")).localCheckpoint()
    for _ in range(_PR_ITERS):
        # BROADCAST the rank frame: |nodes| is catalog-bounded (items,
        # not events), so each round is a map-side join over the
        # cached edge list + ONE shuffle of per-dst contributions —
        # never a per-round shuffle of the edges.  For a graph whose
        # node set outgrows broadcast, drop the hint and let AQE pick.
        nbr = (
            sym_deg.join(F.broadcast(pr), sym_deg["src"] == pr["item_id"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("contrib"))
        )
        # Per-round localCheckpoint: measured FASTER than one deep
        # 5-round plan at sf0.1 (5.6 s vs 6.8 s) — each round's
        # broadcast build otherwise re-walks the accumulated lineage —
        # and it keeps the plan O(1) deep like the CC loop.
        pr = (
            nodes.join(nbr, nodes["item_id"] == nbr["dst"], "left")
            .select(
                "item_id",
                (
                    F.lit((1 - _PR_DAMPING) / nn)
                    + _PR_DAMPING * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    # degree for the report comes off the CACHED edge frame — joining
    # the original deg lineage here would re-run the basket self-join.
    deg_out = sym_deg.select(F.col("src").alias("item_id"), "deg").distinct()
    out = pr.join(deg_out, "item_id").select(
        "item_id", "deg", F.round(F.col("pr") * 1000, 6).alias("pr_permille")
    )
    out = out.localCheckpoint()
    sym_deg.unpersist()
    return out


@register(
    "item_triangle_census",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    e AS (
        SELECT a.item_id AS a, b.item_id AS b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pv AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS v FROM tri
            UNION ALL SELECT b AS v FROM tri
            UNION ALL SELECT c AS v FROM tri
        ) GROUP BY 1
    ),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
        ) GROUP BY 1
    )
    SELECT d.v AS item_id, d.degree,
           COALESCE(pv.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
               CAST(FLOOR(2000000.0 * COALESCE(pv.n_triangles, 0)
                    / (d.degree * (d.degree - 1))) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS clustering_e6
    FROM deg d LEFT JOIN pv ON pv.v = d.v
    """,
)
def item_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item triangle count + local clustering coefficient over
    the order co-occurrence graph — the graph-density companion to
    :func:`item_pagerank` (communities of items that sell together as
    a CLIQUE, not just pairwise).

    Algorithm: the standard distributed triangle enumeration over the
    id-ORIENTED edge list (a < b): wedges from one edge-edge equi-join
    on the middle vertex, closed by a LEFT-SEMI join back to the edge
    list, so every triangle a<b<c is counted exactly once and the
    heavy join never materializes non-closing wedges downstream.
    Orientation is the scale lever — wedge work is Σ out-deg², and
    orienting low→high id caps out-degree at the graph's degeneracy
    in expectation (AQE's skew split handles celebrity items beyond
    that).  Edges themselves are support-thresholded co-occurrence
    pairs built map-side from per-order item arrays (bounded blocking,
    no cartesian — same discipline as item_cooccurrence_lift).

    Determinism: counts are integers; the clustering coefficient is
    emitted as ``FLOOR(2e6·T / (d·(d−1)))`` — one IEEE divide on exact
    integers, bit-identical in both engines (no float-sum flake
    class)."""
    # The edge list feeds four consumers (two wedge sides, the closing
    # semi-join, the degree census); it filters the memoized
    # localCheckpointed pair census, so each consumer re-reads a slim
    # materialized frame — no basket-aggregate re-run, no extra cache.
    e = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _BASKET_MIN_SUPPORT)
        .select("a", "b")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
        .alias("w")
    )
    tri = wedges.join(
        e3,
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
        "left_semi",
    )
    pv = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    out = (
        deg.join(pv, "v", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0).cast("bigint")))
        .select(
            F.col("v").alias("item_id"),
            "degree",
            "n_triangles",
            F.when(
                F.col("degree") >= 2,
                F.floor(
                    2000000.0
                    * F.col("n_triangles")
                    / (F.col("degree") * (F.col("degree") - 1))
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_e6"),
        )
        .localCheckpoint()
    )
    return out


@register(
    "monthly_revenue_momentum",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS rev,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month,
           n_orders,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(SUM(rev) OVER (
               ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS cumulative_revenue,
           CAST(ROUND(SUM(rev) OVER (
               ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               / COUNT(*) OVER (
               ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               2) AS DOUBLE) AS moving_avg_3m,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE), 6)
               AS mom_growth
    FROM m
    """,
)
def monthly_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-level revenue momentum: per calendar month, total order
    revenue plus the running cumulative total, the trailing 3-month
    moving average, and month-over-month growth — the canonical
    time-series window ladder every revenue dashboard runs.

    Scale shape: the expensive part is the first aggregate, which
    shuffles the orders table down to one row per month (~84 rows for
    7 years of data at ANY corpus size); every window function then
    runs over that trivially small frame on a single partition — the
    pre-aggregate-then-window pattern that keeps global-ordered
    windows off the fact table (a window directly over orders would
    force a full global sort).  Determinism: monthly sums are exact
    DECIMAL; the moving average is an exact window sum with one IEEE
    divide; growth is one IEEE divide of exact inputs.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("rev"),
        F.count("*").alias("n_orders"),
    )
    w_cum = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    w_3m = Window.orderBy("month").rowsBetween(-2, 0)
    w_lag = Window.orderBy("month")
    prev = F.lag("rev").over(w_lag)
    return m.select(
        "month",
        "n_orders",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(F.sum("rev").over(w_cum), 2).cast("double").alias("cumulative_revenue"),
        F.round(F.sum("rev").over(w_3m) / F.count("*").over(w_3m), 2)
        .cast("double")
        .alias("moving_avg_3m"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double"), 6
        ).alias("mom_growth"),
    )


@register(
    "order_value_zscore_outliers",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS DOUBLE) AS sum1,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                        * CAST(o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS sum2
        FROM orders GROUP BY 1
    ),
    z AS (
        SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
               (o.o_totalprice - s.sum1 / s.n)
                   / sqrt(s.sum2 / s.n - (s.sum1 / s.n) * (s.sum1 / s.n)) AS zs
        FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority
    )
    SELECT o_orderkey, o_orderpriority,
           ROUND(o_totalprice, 2) AS total_price,
           ROUND(zs, 4) AS z_score
    FROM z WHERE abs(zs) > 1.7
    """,
)
def order_value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: orders whose total price
    sits more than 1.7 population standard deviations from their
    priority class's mean (the totalprice distribution is short-tailed
    — roughly triangular, |z| < 2 — so 1.7 is the operative tail) — the standing anomaly screen a revenue
    pipeline runs before training on transaction amounts.

    Scale shape: one partial-aggregated pass computes per-group
    (n, Σx, Σx²) — 5 rows — which broadcast-joins back onto the fact
    table; the z-score is then a pure map-side expression, so the
    whole screen is two scans and zero wide shuffles of the fact
    side.  Determinism (the ``embedding_covariance`` discipline):
    Σx and Σx² accumulate in exact DECIMAL (order-independent under
    any shuffle), and mean/variance/z are IEEE expressions over those
    exact scalars evaluated identically by both engines — variance
    via E[x²]−E[x]² on exact moments, not a streaming stddev.
    Σx² fits DOUBLE exactly up to ~sf1; beyond that widen the final
    cast, not the algorithm."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(16,4)")
    s = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("sum1"),
        F.sum(
            F.col("o_totalprice").cast("decimal(19,4)")
            * F.col("o_totalprice").cast("decimal(19,4)")
        )
        .cast("double")
        .alias("sum2"),
    )
    mean = F.col("sum1") / F.col("n")
    var = F.col("sum2") / F.col("n") - mean * mean
    z = (F.col("o_totalprice") - mean) / F.sqrt(var)
    return (
        o.join(F.broadcast(s), "o_orderpriority")
        .withColumn("zs", z)
        .filter(F.abs(F.col("zs")) > 1.7)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
            F.round(F.col("zs"), 4).alias("z_score"),
        )
    )


@register(
    "user_activity_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    d AS (
        SELECT user_id,
               CAST(SUM(c) AS BIGINT) AS n,
               COUNT(*) AS v,
               SUM(c * ln(c)) AS sclc,
               min(struct_pack(nc := -c, t := event_type)) AS top
        FROM c GROUP BY 1
    )
    SELECT user_id,
           n AS n_events,
           v AS n_types,
           ROUND(ln(n) - sclc / n, 4) AS entropy_nats,
           top.t AS top_type,
           ROUND(CAST(-top.nc AS DOUBLE) / n, 4) AS top_share
    FROM d
    """,
)
def user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy of the
    event-type distribution plus the dominant type and its share —
    the bot/scraper screen (a user firing one event type thousands of
    times scores ~0 nats; organic browsing scores 1-1.4) and the
    engagement-mix feature the churn models want.

    Same exact-count entropy form as ``doc_token_entropy``; the
    deterministic mode ("top type") is the min of the (-count, type)
    struct — largest count, then lexicographically first type — the
    same struct-ordering trick both engines evaluate identically.
    Two keyed partial-aggregated shuffles; no corpus-wide state."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    d = c.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").alias("v"),
        F.sum(F.col("c") * F.log("c")).alias("sclc"),
        F.min(
            F.struct((-F.col("c")).alias("nc"), F.col("event_type").alias("t"))
        ).alias("top"),
    )
    return d.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("v").alias("n_types"),
        F.round(F.log("n") - F.col("sclc") / F.col("n"), 4).alias("entropy_nats"),
        F.col("top.t").alias("top_type"),
        F.round((-F.col("top.nc")).cast("double") / F.col("n"), 4).alias("top_share"),
    )


#: Gini bucketing: acctbal in [0, 10000) split into 1000-wide ranges.
_GINI_BUCKET = 1000


@register(
    "acctbal_gini_by_segment",
    oracle="""
    WITH q AS (
        SELECT c_mktsegment AS segment,
               CAST(c_acctbal AS DECIMAL(12,2)) AS x,
               c_custkey
        FROM customer WHERE c_acctbal >= 0
    ),
    r AS (
        SELECT segment, x,
               ROW_NUMBER() OVER (
                   PARTITION BY segment ORDER BY x, c_custkey
               ) AS rnk
        FROM q
    ),
    t AS (
        SELECT segment, COUNT(*) AS n, SUM(x) AS sx FROM q GROUP BY 1
    )
    SELECT r.segment,
           CAST(t.n AS BIGINT) AS n_customers,
           ROUND(CAST(t.sx AS DOUBLE) / t.n, 2) AS mean_acctbal,
           ROUND(CAST(SUM((2 * r.rnk - t.n - 1) * r.x) AS DOUBLE)
                 / (t.n * CAST(t.sx AS DOUBLE)), 6) AS gini
    FROM r JOIN t ON r.segment = t.segment
    GROUP BY 1, 2, 3, t.n, t.sx
    """,
)
def acctbal_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of account-balance concentration per market
    segment — the inequality metric a monetization dashboard tracks
    (G = Σ(2i−n−1)·x_i / (n·Σx) over ascending ranks; 0 = equal,
    →1 = concentrated).  Negative balances are excluded (Gini is
    defined for non-negative distributions).

    Scale shape — the ``ks_2samp`` distributed-rank discipline, NOT a
    per-segment global sort: values bucket into fixed 1000-wide
    ranges; per-(segment, bucket) counts give bucket rank offsets via
    a window over the tiny bucket frame; within-bucket ranks sort
    only each bucket's rows (window PARTITIONED BY bucket, so work is
    parallel and per-partition bounded); the global rank is offset +
    within-rank.  Σ(2r−n−1)·x accumulates in exact DECIMAL
    (order-independent); the final divide is one IEEE expression over
    exact scalars.  The oracle uses the plain ROW_NUMBER form — same
    ranks by construction (ties broken on the unique custkey)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 0)
    q = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("x"),
        "c_custkey",
        F.floor(F.col("c_acctbal") / _GINI_BUCKET).cast("int").alias("bkt"),
    )
    per_bkt = q.groupBy("segment", "bkt").agg(F.count("*").alias("cnt"))
    w_off = (
        Window.partitionBy("segment")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_bkt.select(
        "segment",
        "bkt",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
    )
    w_in = Window.partitionBy("segment", "bkt").orderBy("x", "c_custkey")
    ranked = (
        q.withColumn("rn", F.row_number().over(w_in))
        .join(offs, ["segment", "bkt"])
        .select("segment", "x", (F.col("off") + F.col("rn")).alias("rnk"))
    )
    t = q.groupBy("segment").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx")
    )
    j = ranked.join(F.broadcast(t), "segment")
    num = F.sum((2 * F.col("rnk") - F.col("n") - 1) * F.col("x"))
    return (
        j.groupBy("segment", "n", "sx")
        .agg(num.alias("num"))
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n_customers"),
            F.round(F.col("sx").cast("double") / F.col("n"), 2).alias(
                "mean_acctbal"
            ),
            F.round(
                F.col("num").cast("double")
                / (F.col("n") * F.col("sx").cast("double")),
                6,
            ).alias("gini"),
        )
    )


@register(
    "monthly_revenue_gap_fill",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS rev
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 480000
        GROUP BY 1
    ),
    bounds AS (SELECT MIN(month) AS lo, MAX(month) AS hi FROM m),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
                   AS month
        FROM bounds
    ),
    f AS (
        SELECT s.month,
               COALESCE(m.n_orders, 0) AS n_orders,
               COALESCE(m.rev, 0) AS rev,
               m.month IS NULL AS gap_filled
        FROM spine s LEFT JOIN m ON s.month = CAST(m.month AS DATE)
    )
    SELECT month,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           gap_filled,
           CAST(ROUND(SUM(rev) OVER (
               ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS running_revenue
    FROM f
    """,
)
def monthly_revenue_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification: the sparse high-value-urgent
    monthly revenue series joined onto a complete month spine
    (``sequence(min, max, interval 1 month)``), zero-filling the
    months with no qualifying orders and flagging them — the
    gap-filling step every time-series feature pipeline (and every
    charting layer) needs before windowed features, since a lag over
    a series WITH holes silently compares non-adjacent months.

    Scale shape: the fact scan aggregates down to ≤ ~84 month rows
    BEFORE the spine logic, so the generate/explode/left-join/window
    chain runs on a bounded frame regardless of corpus size — the
    same pre-aggregate-then-window discipline as
    ``monthly_revenue_momentum``.  Filter is pushed to the scan;
    revenue is exact decimal."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 480000)
    )
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("rev"),
    )
    bounds = m.agg(F.min("month").alias("lo"), F.max("month").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 month"))
        ).alias("month")
    )
    f = (
        spine.join(m.withColumnRenamed("month", "m_month"),
                   spine.month == F.col("m_month"), "left")
        .select(
            "month",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(16,4)")).alias("rev"),
            F.col("m_month").isNull().alias("gap_filled"),
        )
    )
    w_run = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return f.select(
        "month",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        "gap_filled",
        F.round(F.sum("rev").over(w_run), 2).cast("double").alias("running_revenue"),
    )


@register(
    "revenue_seasonal_decomposition",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS revd
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT month, CAST(revd AS DOUBLE) AS rev,
               CAST(SUM(revd) OVER w AS DOUBLE) / COUNT(*) OVER w AS trend
        FROM m
        WINDOW w AS (ORDER BY month ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
    ),
    s AS (
        SELECT *, EXTRACT(month FROM month) AS moy,
               rev - trend AS detrended
        FROM t
    ),
    idx AS (
        SELECT moy, SUM(detrended) / COUNT(*) AS seasonal FROM s GROUP BY 1
    )
    SELECT CAST(s.month AS DATE) AS month,
           ROUND(s.rev, 2) AS revenue,
           FLOOR(s.trend * 100.0 + 0.5) / 100.0 AS trend,
           FLOOR(idx.seasonal * 100.0 + 0.5) / 100.0 AS seasonal,
           FLOOR((s.rev - s.trend - idx.seasonal) * 100.0 + 0.5) / 100.0
               AS residual
    FROM s JOIN idx ON s.moy = idx.moy
    """,
)
def revenue_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue:
    trend (centered 12-month moving average), month-of-year seasonal
    index (mean detrended deviation), and residual — the
    trend/seasonality/anomaly split a demand-forecasting pipeline
    computes before fitting anything fancier, and the residual column
    is the honest input to the anomaly screens
    (``volume_anomaly_days`` on raw volumes misses December being
    "anomalous" every year; the residual doesn't).

    Scale shape: identical to ``monthly_revenue_momentum`` — the fact
    table collapses to ≤ ~84 month rows in one partial-aggregated
    shuffle and every window/second aggregate runs on that bounded
    frame.  Monthly sums are exact decimal; trend is an exact window
    sum with one IEEE divide; the seasonal index averages ≤ 7 doubles
    per month-of-year (round-2 output, ~6 orders of margin)."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("revd")
    )
    w = Window.orderBy("month").rowsBetween(-5, 6)
    # the trend's 12-term sum runs in exact DECIMAL (a double window
    # sum flipped a round-2 boundary at sf0.01 — caught by parity);
    # one IEEE divide over the exact sum is deterministic.
    t = m.select(
        "month",
        F.col("revd").cast("double").alias("rev"),
        (F.sum("revd").over(w).cast("double") / F.count("*").over(w)).alias(
            "trend"
        ),
    )
    s = t.select(
        "*",
        F.month("month").alias("moy"),
        (F.col("rev") - F.col("trend")).alias("detrended"),
    )
    idx = s.groupBy("moy").agg(
        (F.sum("detrended") / F.count("*")).alias("seasonal")
    )
    # Emission rounds via floor(x*100 + 0.5)/100, NOT round(): the two
    # engines' round() disagree on doubles whose *100 product rounds
    # to an exact .5 (hit at sf0.01 — Spark's BigDecimal HALF_UP vs
    # DuckDB's float path), while this explicit IEEE expression is
    # evaluated identically by both.
    def _r2(c):
        return F.floor(c * 100.0 + 0.5) / 100.0

    return (
        s.join(F.broadcast(idx), "moy")
        .select(
            "month",
            F.round("rev", 2).alias("revenue"),
            _r2(F.col("trend")).alias("trend"),
            _r2(F.col("seasonal")).alias("seasonal"),
            _r2(F.col("rev") - F.col("trend") - F.col("seasonal")).alias(
                "residual"
            ),
        )
    )


@register(
    "part_price_size_skyline",
    oracle="""
    WITH g AS (
        SELECT p_retailprice AS price, MAX(p_size) AS gmax
        FROM part GROUP BY 1
    ),
    pm AS (
        SELECT price, gmax,
               MAX(gmax) OVER (
                   ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM g
    )
    SELECT p.p_partkey, p.p_name,
           ROUND(p.p_retailprice, 2) AS price,
           CAST(p.p_size AS INTEGER) AS size
    FROM part p
    JOIN pm ON p.p_retailprice = pm.price
    WHERE p.p_size = pm.gmax
      AND (pm.prev_max IS NULL OR p.p_size > pm.prev_max)
    """,
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: the parts no other part strictly
    dominates on (price low, size high) — the classic multi-criteria
    OLAP operator (Börzsönyi et al., ICDE'01) behind "cheapest part
    at every capability level" sourcing views.  A part is on the
    front iff it has the max size within its price AND beats the max
    size of every strictly cheaper price (ties on both axes are
    mutually non-dominating and all kept).

    Scale shape — dominance via prefix max, never the O(n²)
    pairwise NOT EXISTS: collapse to the distinct-price frame (one
    keyed aggregate), one running-max window over that bounded frame,
    then a broadcast join back to the fact rows.  The window orders
    |distinct prices| rows, not |parts|; for a fact-scale distinct
    domain the same bucketed-prefix trick as ``acctbal_gini_by_segment``
    applies unchanged."""
    p = load_table(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("gmax")
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    pm = g.select("price", "gmax", F.max("gmax").over(w).alias("prev_max"))
    return (
        p.join(F.broadcast(pm), p.p_retailprice == pm.price)
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
        )
        .select(
            "p_partkey",
            "p_name",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").cast("int").alias("size"),
        )
    )


# --- Time-series autocorrelation over the daily event series --------

_ACF_MAX_LAG = 7


def _acf_oracle() -> str:
    per_lag = ",\n".join(
        f"""l{k} AS (
        SELECT event_type, {k} AS lag,
               COUNT(ck) AS n_pairs,
               SUM(CAST(c AS DECIMAL(19,0)) * CAST(ck AS DECIMAL(19,0)))
                   AS num
        FROM (SELECT event_type, c,
                     LAG(c, {k}) OVER (
                         PARTITION BY event_type ORDER BY day) AS ck
              FROM cent)
        GROUP BY 1
    )"""
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    unions = "\n        UNION ALL ".join(
        f"SELECT * FROM l{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type, COUNT(*) AS n, SUM(x) AS s
        FROM daily GROUP BY 1
    ),
    cent AS (
        SELECT d.event_type, d.day,
               CAST(st.n AS BIGINT) * d.x - st.s AS c
        FROM daily d JOIN st USING (event_type)
    ),
    den AS (
        SELECT event_type,
               SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                   AS den
        FROM cent GROUP BY 1
    ),
    {per_lag},
    lags AS ({unions})
    SELECT l.event_type, l.lag, l.n_pairs,
           ROUND(CAST(l.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS acf
    FROM lags l JOIN den d USING (event_type)
    ORDER BY event_type, lag
    """


@register("event_daily_autocorrelation", oracle=_acf_oracle())
def event_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of the per-type daily event
    count series at lags 1..{maxlag} — the standing seasonality probe
    (a weekly cycle shows as a lag-7 peak) a volume-forecasting or
    anomaly pipeline runs before picking its model.  Standard ACF:
    r(k) = sum_t (x_t - mean)(x_t-k - mean) / sum_t (x_t - mean)^2,
    full-series variance in the denominator.

    Determinism (the ``embedding_covariance`` discipline): with
    integer daily counts, the centered value is scaled by n to the
    exact integer c_t = n*x_t - S, so every numerator and the
    denominator are exact DECIMAL sums of integer products (the n^2
    factor cancels in the ratio) — order-independent under any
    shuffle; one IEEE divide at the end.

    Scale shape: the corpus collapses to the (type, day) frame in one
    partial aggregate — bounded by the calendar (~365 rows/type/year)
    at ANY corpus size; the {maxlag} lag columns come from ONE window
    sort of that tiny frame (per-type partitions), the products fold
    in a second keyed aggregate, and the 1-row-per-type denominator
    broadcast-joins back.  Nothing fact-scale is ever sorted."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("x"))
    st = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    cent = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        (F.col("n").cast("bigint") * F.col("x") - F.col("s")).alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    dec = lambda col: F.col(col).cast("decimal(19,0)")  # noqa: E731
    lagged = cent.select(
        "event_type",
        "c",
        *[F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    den = lagged.groupBy("event_type").agg(
        F.sum(dec("c") * dec("c")).alias("den")
    )
    stack_expr = "stack({n}, {args}) as (lag, ck)".format(
        n=_ACF_MAX_LAG,
        args=", ".join(f"{k}, c{k}" for k in range(1, _ACF_MAX_LAG + 1)),
    )
    pairs = (
        lagged.select("event_type", "c", F.expr(stack_expr))
        .groupBy("event_type", "lag")
        .agg(
            F.count("ck").alias("n_pairs"),
            F.sum(dec("c") * dec("ck")).alias("num"),
        )
    )
    return (
        pairs.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
    )


event_daily_autocorrelation.__doc__ = event_daily_autocorrelation.__doc__.format(
    maxlag=_ACF_MAX_LAG
)


# --- Exponentially-weighted moving average with exact weights -------

#: EWMA decay 0.7 as the exact rational 7/10: weight for lag j in a
#: 12-term window is the INTEGER 7^j * 10^(11-j), the common
#: denominator 10^11 cancelling in num/den — so the whole smoother is
#: exact decimal arithmetic until one final IEEE divide.
_EWMA_SPAN = 12
_EWMA_W = [7**j * 10 ** (_EWMA_SPAN - 1 - j) for j in range(_EWMA_SPAN)]


def _ewma_oracle() -> str:
    lag_cols = ",\n               ".join(
        f"LAG(rev, {j}) OVER (ORDER BY month) AS r{j}"
        for j in range(1, _EWMA_SPAN)
    )
    num_terms = " + ".join(
        ["CAST(rev AS DECIMAL(38,4)) * {w}".format(w=_EWMA_W[0])]
        + [
            f"COALESCE(CAST(r{j} AS DECIMAL(38,4)) * {_EWMA_W[j]}, 0)"
            for j in range(1, _EWMA_SPAN)
        ]
    )
    den_terms = " + ".join(
        [str(_EWMA_W[0])]
        + [
            f"CASE WHEN r{j} IS NOT NULL THEN {_EWMA_W[j]} ELSE 0 END"
            for j in range(1, _EWMA_SPAN)
        ]
    )
    return f"""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT month, rev,
               {lag_cols}
        FROM m
    ),
    acc AS (
        SELECT month, rev,
               {num_terms} AS num,
               CAST({den_terms} AS BIGINT) AS den
        FROM lagged
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 2)
                AS DOUBLE) AS ewma,
           CAST(rev AS DECIMAL(38,4)) * den > num AS above_trend
    FROM acc
    """


@register("revenue_ewma_trend", oracle=_ewma_oracle())
def revenue_ewma_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of monthly revenue
    (decay 0.7, {span}-term window — pandas ``ewm(alpha=0.3,
    adjust=True)`` truncated to the span) plus an exact above-trend
    flag per month — the smoother a revenue-monitoring pipeline
    prefers over a flat moving average because it discounts stale
    months geometrically instead of cliff-dropping them.

    Determinism: the decay is the exact rational 7/10, so lag-j's
    weight is the INTEGER 7^j*10^({span1}-j) (common denominator
    10^{span1} cancels); numerator and denominator accumulate in
    exact DECIMAL in a fixed column order (no shuffle-ordered float
    sum anywhere), one IEEE divide at the end.  ``above_trend`` is
    the exact decimal comparison rev*den > num — no epsilon.

    Scale shape: identical to ``monthly_revenue_momentum`` — the fact
    table collapses to one row per month in a single partial
    aggregate, and the {span}-lag window sorts only that bounded
    frame.  The EWMA itself is zero extra shuffles on top of the
    monthly rollup."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("rev"))
    w = Window.orderBy("month")
    lagged = m.select(
        "month",
        "rev",
        *[F.lag("rev", j).over(w).alias(f"r{j}") for j in range(1, _EWMA_SPAN)],
    )
    num = F.col("rev").cast("decimal(38,4)") * F.lit(_EWMA_W[0])
    den = F.lit(_EWMA_W[0]).cast("bigint")
    for j in range(1, _EWMA_SPAN):
        num = num + F.coalesce(
            F.col(f"r{j}").cast("decimal(38,4)") * F.lit(_EWMA_W[j]),
            F.lit(0).cast("decimal(38,4)"),
        )
        den = den + F.when(
            F.col(f"r{j}").isNotNull(), F.lit(_EWMA_W[j])
        ).otherwise(F.lit(0)).cast("bigint")
    return lagged.select(
        "month",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(num.cast("double") / den.cast("double"), 2).alias("ewma"),
        (F.col("rev").cast("decimal(38,4)") * den > num).alias("above_trend"),
    )


revenue_ewma_trend.__doc__ = revenue_ewma_trend.__doc__.format(
    span=_EWMA_SPAN, span1=_EWMA_SPAN - 1
)


@register(
    "concurrent_sessions_daily",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
        FROM events WHERE user_id IS NOT NULL
    ),
    s AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        FROM x
    ),
    iv AS (
        SELECT user_id, sess, MIN(ts) AS st,
               MAX(ts) + INTERVAL 30 MINUTES AS en
        FROM s GROUP BY 1, 2
    ),
    b AS (
        SELECT st AS ts, 1 AS delta FROM iv
        UNION ALL
        SELECT en AS ts, -1 AS delta FROM iv
    ),
    pref AS (
        SELECT CAST(ts AS DATE) AS day, delta,
               SUM(delta) OVER (
                   PARTITION BY CAST(ts AS DATE) ORDER BY ts, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM b
    ),
    per_day AS (
        SELECT day,
               SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_starts,
               SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS n_ends,
               SUM(delta) AS net, MAX(p) AS mx
        FROM pref GROUP BY 1
    ),
    off AS (
        SELECT *, COALESCE(SUM(net) OVER (
            ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS o
        FROM per_day
    )
    SELECT day,
           CAST(n_starts AS BIGINT) AS n_starts,
           CAST(n_ends AS BIGINT) AS n_ends,
           CAST(o AS BIGINT) AS open_at_start,
           CAST(GREATEST(o, o + mx) AS BIGINT) AS peak_concurrency,
           CAST(o + net AS BIGINT) AS open_at_end
    FROM off
    """,
)
def concurrent_sessions_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily concurrency profile of user sessions — per calendar day,
    how many sessions started/ended, how many were open at midnight,
    and the peak number simultaneously open — the capacity-planning
    sweep-line every serving/limits team runs.  Sessions are the
    repo's standard 30-minute-gap windows (``session_windows``
    semantics: interval [first event, last event + gap)), and a
    session ending at instant t frees its slot before one starting at
    t takes it (ends sort before starts: ORDER BY ts, delta).

    The classic answer is a single global ORDER BY over all interval
    boundaries — a non-starter at fact scale.  This is the KS
    bucketed-prefix-sum pattern instead (``operators/drift.py``):
    boundaries carry +1/-1 deltas, each DAY bucket prefix-sums its own
    boundaries inside a day-partitioned window, and the cross-day
    carry (concurrency open at each midnight) comes from a running sum
    over the calendar-bounded per-day frame — so no partition ever
    sorts more than one day of boundaries, and the only global window
    runs over ~365 rows/year.  Everything is exact integer arithmetic;
    days with zero boundaries simply have no row (occupancy is flat
    there, carried by the next day's ``open_at_start``)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_u)
            > 1800,
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    s = e.select("user_id", "ts", "event_id", brk).select(
        "user_id",
        "ts",
        F.sum("brk")
        .over(w_u.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess"),
    )
    iv = s.groupBy("user_id", "sess").agg(
        F.min("ts").alias("st"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("en"),
    )
    b = iv.select(F.col("st").alias("ts"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("en").alias("ts"), F.lit(-1).alias("delta"))
    )
    day = F.to_date("ts").alias("day")
    w_d = (
        Window.partitionBy("day")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = b.select(day, "ts", "delta").select(
        "day", "delta", F.sum("delta").over(w_d).alias("p")
    )
    per_day = pref.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_starts"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias("n_ends"),
        F.sum("delta").alias("net"),
        F.max("p").alias("mx"),
    )
    w_cal = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    off = per_day.select(
        "*", F.coalesce(F.sum("net").over(w_cal), F.lit(0)).alias("o")
    )
    return off.select(
        "day",
        F.col("n_starts").cast("bigint").alias("n_starts"),
        F.col("n_ends").cast("bigint").alias("n_ends"),
        F.col("o").cast("bigint").alias("open_at_start"),
        F.greatest(F.col("o"), F.col("o") + F.col("mx"))
        .cast("bigint")
        .alias("peak_concurrency"),
        (F.col("o") + F.col("net")).cast("bigint").alias("open_at_end"),
    )


# --- k-core decomposition of the item co-occurrence graph -----------

_KCORE_K = 3
_KCORE_ROUNDS = 8
_KCORE_MIN_SUPPORT = 2


def _kcore_oracle() -> str:
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS (
        SELECT e.src AS item_id, COUNT(*) AS deg
        FROM sym e
        JOIN s{i - 1} a ON e.src = a.item_id
        JOIN s{i - 1} b ON e.dst = b.item_id
        GROUP BY 1
    )"""
        )
        rounds.append(
            f"""s{i} AS MATERIALIZED (SELECT item_id FROM d{i} WHERE deg >= {_KCORE_K})"""
        )
    R = _KCORE_ROUNDS
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    pair AS MATERIALIZED (
        SELECT a.item_id AS item_a, b.item_id AS item_b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_KCORE_MIN_SUPPORT}
    ),
    sym AS MATERIALIZED (
        SELECT item_a AS src, item_b AS dst FROM pair
        UNION ALL
        SELECT item_b AS src, item_a AS dst FROM pair
    ),
    s0 AS MATERIALIZED (SELECT DISTINCT src AS item_id FROM sym),
    {rounds_sql},
    fin AS (
        SELECT e.src AS item_id, COUNT(*) AS core_degree
        FROM sym e
        JOIN s{R} a ON e.src = a.item_id
        JOIN s{R} b ON e.dst = b.item_id
        GROUP BY 1
    )
    SELECT f.item_id, f.core_degree,
           (SELECT COUNT(*) FROM s{R}) = (SELECT COUNT(*) FROM s{R - 1})
               AS converged
    FROM fin f
    JOIN s{R} s ON f.item_id = s.item_id
    """


@register("item_kcore_membership", oracle=_kcore_oracle())
def item_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the item co-occurrence graph (same edges as
    :func:`item_pagerank`: items sharing >= {sup} orders): the maximal
    subgraph where every item retains >= {k} neighbors — the standard
    "dense cohesive nucleus" screen a recommender uses to separate
    items with robust co-purchase structure from hairball fringe, and
    the classic pre-filter before community detection.

    Peeling (repeatedly drop degree-<{k} nodes, recompute) is
    data-dependent in its round count, which an oracle cannot chase —
    so BOTH engines run exactly {r} synchronized peel rounds and emit
    a ``converged`` flag (round {r} node set == round {r1}'s).  Every
    round is exact integer degree arithmetic; the flag makes an
    unconverged corpus loud instead of silently wrong.

    Scale shape: the slim symmetric edge list is cached once; each
    peel is two broadcast semi-joins of the (catalog-bounded) survivor
    set against it plus one keyed count — the edge list itself never
    re-shuffles; ``localCheckpoint`` truncates per-round lineage
    exactly like :func:`~.dedup.connected_components`."""
    pair = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _KCORE_MIN_SUPPORT)
        .select(F.col("a").alias("item_a"), F.col("b").alias("item_b"))
    )
    sym = (
        pair.select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        .unionAll(
            pair.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
        )
        .cache()
    )
    sym.count()
    surv = sym.select(F.col("src").alias("item_id")).distinct().localCheckpoint()
    n_prev = surv.count()
    converged = False
    for _ in range(_KCORE_ROUNDS):
        deg = (
            sym.join(
                F.broadcast(surv), sym["src"] == surv["item_id"], "leftsemi"
            )
            .join(
                F.broadcast(surv.select(F.col("item_id").alias("dst_id"))),
                F.col("dst") == F.col("dst_id"),
                "leftsemi",
            )
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
        )
        surv = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("item_id"))
            .localCheckpoint()
        )
        n_cur = surv.count()
        if n_cur == n_prev:
            # Peeling only ever REMOVES nodes, so an unchanged count is
            # an unchanged set and every remaining round is the
            # identity — stopping here is exact, not approximate (the
            # oracle's full unroll computes the same fixed point).
            converged = True
            break
        n_prev = n_cur
    fin = (
        sym.join(F.broadcast(surv), sym["src"] == surv["item_id"], "leftsemi")
        .join(
            F.broadcast(surv.select(F.col("item_id").alias("dst_id"))),
            F.col("dst") == F.col("dst_id"),
            "leftsemi",
        )
        .groupBy("src")
        .agg(F.count("*").alias("core_degree"))
    )
    out = fin.select(
        F.col("src").alias("item_id"),
        "core_degree",
        F.lit(converged).alias("converged"),
    ).localCheckpoint()
    sym.unpersist()
    return out


item_kcore_membership.__doc__ = item_kcore_membership.__doc__.format(
    k=_KCORE_K, sup=_KCORE_MIN_SUPPORT, r=_KCORE_ROUNDS, r1=_KCORE_ROUNDS - 1
)


# --- Deterministic synchronous label propagation --------------------

_LPA_ROUNDS = 5
_LPA_MIN_SUPPORT = 2


def _lpa_cte() -> str:
    """Shared WITH-body: co-buy graph + the {R} synchronized LPA
    rounds, ending at ``l{R}`` = (item_id, label).  Used by both the
    community roster oracle and the modularity oracle so the two
    queries certify the SAME label assignment."""
    rounds = []
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""l{i} AS MATERIALIZED (
        SELECT dst AS item_id,
               struct_extract(MIN(struct_pack(nc := -cnt, v := label)), 'v')
                   AS label
        FROM (
            SELECT e.dst, p.label, COUNT(*) AS cnt
            FROM sym e JOIN l{i - 1} p ON e.src = p.item_id
            GROUP BY 1, 2
        )
        GROUP BY 1
    )"""
        )
    rounds_sql = ",\n    ".join(rounds)
    return f"""basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    pair AS MATERIALIZED (
        SELECT a.item_id AS item_a, b.item_id AS item_b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_LPA_MIN_SUPPORT}
    ),
    sym AS MATERIALIZED (
        SELECT item_a AS src, item_b AS dst FROM pair
        UNION ALL
        SELECT item_b AS src, item_a AS dst FROM pair
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS item_id, src AS label FROM sym),
    {rounds_sql}"""


def _lpa_oracle() -> str:
    return f"""
    WITH {_lpa_cte()}
    SELECT label AS community,
           COUNT(*) AS n_members,
           MIN(item_id) AS min_item,
           MAX(item_id) AS max_item
    FROM l{_LPA_ROUNDS}
    GROUP BY 1
    """


@register("item_label_propagation", oracle=_lpa_oracle())
def item_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the item co-occurrence graph by
    synchronous label propagation (Raghavan et al. 2007), made fully
    deterministic: every node starts labeled with its own id, and each
    of the {r} synchronized rounds relabels every node with its
    neighbors' MOST FREQUENT label, ties broken by smallest label —
    ``min(struct(-count, label))``, the repo's standard deterministic
    mode idiom (asynchronous/random-order LPA, the usual formulation,
    is irreproducible by design; the synchronized tie-broken variant
    is the one an oracle can certify).  Output is the community
    roster: label, member count, id range.

    Scale shape: identical per-round discipline to
    :func:`item_pagerank` — the spooled edge list never re-shuffles;
    each round broadcasts the (catalog-bounded) label frame into a
    map-side join, reduces per-(node, label) counts partial-first,
    and takes the deterministic mode as a hash aggregate, with
    ``localCheckpoint`` truncating lineage."""
    _, lab = _lpa_graph_labels(spark, sf_dir)
    return lab.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min("item_id").alias("min_item"),
        F.max("item_id").alias("max_item"),
    )


@memo
def _lpa_graph_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(symmetric edge list, final LPA label frame).  The roster query
    and the modularity query certify the SAME propagation, so the
    rounds run once per session."""
    pair = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _LPA_MIN_SUPPORT)
        .select(F.col("a").alias("item_a"), F.col("b").alias("item_b"))
    )
    sym = (
        pair.select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        .unionAll(
            pair.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
        )
        .localCheckpoint()
    )
    lab = (
        sym.select(F.col("src").alias("item_id"))
        .distinct()
        .withColumn("label", F.col("item_id"))
        .localCheckpoint()
    )
    for _ in range(_LPA_ROUNDS):
        lab = (
            sym.join(F.broadcast(lab), sym["src"] == lab["item_id"])
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("v"))
                ).alias("m")
            )
            .select(F.col("dst").alias("item_id"), F.col("m.v").alias("label"))
            .localCheckpoint()
        )
    return sym, lab


@register(
    "graph_modularity",
    oracle=f"""
    WITH {_lpa_cte()},
    deg AS (SELECT src AS item_id, COUNT(*) AS deg FROM sym GROUP BY 1),
    twom AS (SELECT COUNT(*) AS m2 FROM sym),
    internal AS (
        SELECT a.label AS community, COUNT(*) AS e_in
        FROM sym e
        JOIN l{_LPA_ROUNDS} a ON e.src = a.item_id
        JOIN l{_LPA_ROUNDS} b ON e.dst = b.item_id
        WHERE a.label = b.label
        GROUP BY 1
    ),
    comm AS (
        SELECT l.label AS community,
               COUNT(*) AS n_members,
               SUM(d.deg) AS degree_sum
        FROM l{_LPA_ROUNDS} l JOIN deg d ON l.item_id = d.item_id
        GROUP BY 1
    ),
    per AS (
        SELECT c.community, c.n_members, c.degree_sum,
               COALESCE(i.e_in, 0) AS e_in
        FROM comm c LEFT JOIN internal i ON c.community = i.community
    ),
    q AS (
        SELECT SUM(t.m2 * p.e_in - p.degree_sum * p.degree_sum) AS qnum,
               MAX(t.m2) AS m2
        FROM per p CROSS JOIN twom t
    )
    SELECT p.community,
           CAST(p.n_members AS BIGINT) AS n_members,
           CAST(p.e_in // 2 AS BIGINT) AS internal_edges,
           CAST(p.degree_sum AS BIGINT) AS degree_sum,
           ROUND(CAST(t.m2 * p.e_in - p.degree_sum * p.degree_sum AS DOUBLE)
                 / CAST(t.m2 * t.m2 AS DOUBLE), 6) + 0 AS modularity_term,
           ROUND(CAST(q.qnum AS DOUBLE) / CAST(q.m2 * q.m2 AS DOUBLE), 6) + 0
               AS modularity
    FROM per p CROSS JOIN twom t CROSS JOIN q
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality score
    that says whether [[item_label_propagation]]'s partition is
    structure or noise (Newman & Girvan 2004): Q = Σ_c (e_c/2m −
    (d_c/2m)²) over communities c, with e_c twice the internal edge
    count, d_c the member degree sum, 2m the directed edge count.
    Per community: member count, internal edges, degree sum, and the
    community's additive Q term; every row also carries the global Q.
    Exactness: both engines form the INTEGER numerator 2m·e_c − d_c²
    per community (sums of integers — shuffle-order-proof) and divide
    by (2m)² once at emission, so the rounded doubles agree
    bit-for-bit; both emissions add ``+ 0`` after ROUND because a
    tiny-negative qterm rounds to −0.0 in DuckDB but +0.0 in Spark
    (IEEE −0.0 + 0.0 = +0.0) and the driver hash is signed-zero
    strict.  At 100 TB graph scale d_c² needs DECIMAL instead of
    BIGINT once a degree sum passes ~3e9 — the switch is one cast.

    Scale shape: reuses the per-(session, sf) memoized LPA labels and
    spooled edge list (the 5 propagation rounds run once, not per
    query); the label frame broadcasts into the edge scan twice (both
    endpoints), internal-edge and degree-sum tallies are map-side
    partial hash aggregates, and 2m attaches as a broadcast 1-row
    frame — zero wide shuffles beyond the per-community aggregate."""
    sym, lab = _lpa_graph_labels(spark, sf_dir)
    deg = sym.groupBy(F.col("src").alias("item_id")).agg(F.count("*").alias("deg"))
    twom = sym.agg(F.count("*").alias("m2"))
    internal = (
        sym.join(
            F.broadcast(
                lab.select(
                    F.col("item_id").alias("src"), F.col("label").alias("sl")
                )
            ),
            "src",
        )
        .join(
            F.broadcast(
                lab.select(
                    F.col("item_id").alias("dst"), F.col("label").alias("dl")
                )
            ),
            "dst",
        )
        .filter(F.col("sl") == F.col("dl"))
        .groupBy(F.col("sl").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    comm = (
        lab.join(F.broadcast(deg), "item_id")
        .groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"), F.sum("deg").alias("degree_sum"))
    )
    per = (
        comm.join(internal, "community", "left")
        .fillna(0, subset=["e_in"])
        .crossJoin(F.broadcast(twom))
        .withColumn(
            "qterm", F.col("m2") * F.col("e_in") - F.col("degree_sum") * F.col("degree_sum")
        )
    )
    q = per.agg(F.sum("qterm").alias("qnum"), F.max("m2").alias("m2g"))
    return per.crossJoin(F.broadcast(q)).select(
        "community",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.expr("e_in div 2").cast("bigint").alias("internal_edges"),
        F.col("degree_sum").cast("bigint").alias("degree_sum"),
        (
            F.round(
                F.col("qterm").cast("double")
                / (F.col("m2") * F.col("m2")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("modularity_term"),
        (
            F.round(
                F.col("qnum").cast("double")
                / (F.col("m2g") * F.col("m2g")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("modularity"),
    )


@register(
    "session_survival_curve",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
        FROM events WHERE user_id IS NOT NULL
    ),
    s AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        FROM x
    ),
    iv AS (
        SELECT user_id, sess, MIN(ts) AS st, MAX(ts) AS en
        FROM s GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(ts) AS mts FROM events WHERE user_id IS NOT NULL),
    dur AS (
        SELECT CAST(FLOOR(date_diff('second', st, en) / 60.0) AS BIGINT) AS t,
               CASE WHEN en > mts - INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS censored
        FROM iv CROSS JOIN mx
    ),
    bucket AS (
        SELECT t,
               SUM(1 - censored) AS d,
               SUM(censored) AS c
        FROM dur GROUP BY 1
    ),
    risk AS (
        SELECT t, d, c,
               SUM(d + c) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        FROM bucket
    ),
    km AS (
        SELECT t, d, c, n,
               MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS dead,
               SUM(CASE WHEN d > 0 AND d < n
                        THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                        ELSE 0.0 END) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS logsurv
        FROM risk
    )
    SELECT t AS duration_min,
           CAST(n AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_deaths,
           CAST(c AS BIGINT) AS n_censored,
           ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS hazard,
           CASE WHEN dead = 1 THEN 0.0
                ELSE FLOOR(exp(logsurv) * 10000.0 + 0.5) / 10000.0
           END AS survival
    FROM km WHERE d > 0
    """,
)
def session_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session duration (minute
    buckets): for each duration at which sessions end, the number
    still at risk, ending ("deaths"), and right-censored (sessions
    whose last event falls within one gap of the corpus edge — still
    open when observation stopped), with the discrete hazard d/n and
    the KM product-limit survival estimate.  The engagement-analytics
    staple: "what fraction of sessions survive past t minutes",
    censoring-corrected so edge-truncated sessions don't bias the
    tail down.

    Determinism: counts, at-risk tallies (a reverse cumulative sum),
    and hazards are exact integers + one IEEE divide.  The product
    limit is evaluated as exp(sum(ln(1 - d/n))) IN BOTH ENGINES over
    the same bucket order — the window sum is sequential over ~tens
    of bucket rows, so the only cross-engine freedom is last-ulp
    libm drift, crushed by the e4 floor-emission (documented
    audited-acceptable class: bounded output count, ~1e-13 error vs
    5e-5 rounding margin).  An all-remaining-die bucket pins survival
    to exactly 0 via a flag rather than exp(-inf).

    Scale shape: sessionization shuffles once on ``user_id``; the
    fact table then collapses to the per-bucket frame (bounded by the
    duration range in minutes, NOT corpus size), and every window
    runs over that tiny frame."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_u)
            > 1800,
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    s = e.select("user_id", "ts", "event_id", brk).select(
        "user_id",
        "ts",
        F.sum("brk")
        .over(w_u.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess"),
    )
    iv = s.groupBy("user_id", "sess").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en")
    )
    mts = e.agg(F.max("ts").alias("mts"))
    dur = iv.crossJoin(F.broadcast(mts)).select(
        F.floor(
            (F.col("en").cast("long") - F.col("st").cast("long")) / 60
        ).alias("t"),
        F.when(
            F.col("en") > F.col("mts") - F.expr("INTERVAL 30 MINUTES"), 1
        )
        .otherwise(0)
        .alias("censored"),
    )
    bucket = dur.groupBy("t").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    w_rev = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = bucket.select(
        "t", "d", "c", F.sum(F.col("d") + F.col("c")).over(w_rev).alias("n")
    )
    w_fwd = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    dn = F.col("d").cast("double") / F.col("n").cast("double")
    km = risk.select(
        "t",
        "d",
        "c",
        "n",
        F.max(F.when(F.col("d") == F.col("n"), 1).otherwise(0))
        .over(w_fwd)
        .alias("dead"),
        F.sum(
            F.when((F.col("d") > 0) & (F.col("d") < F.col("n")), F.log(1.0 - dn))
            .otherwise(F.lit(0.0))
        )
        .over(w_fwd)
        .alias("logsurv"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").alias("duration_min"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_deaths"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round(dn, 6).alias("hazard"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.floor(F.exp("logsurv") * 10000.0 + 0.5) / 10000.0)
        .alias("survival"),
    )


@register(
    "revenue_changepoint_scan",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS x,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1
    ),
    p AS (
        SELECT month, x,
               ROW_NUMBER() OVER (ORDER BY month) AS t,
               SUM(CAST(x AS DECIMAL(38,4))) OVER (
                   ORDER BY month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
        FROM m
    ),
    tot AS (
        SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(38,4))) AS s FROM p
    ),
    gain AS (
        SELECT p.month, p.t, tot.n,
               CAST(CAST(p.ps AS DECIMAL(38,4))
                    * CAST(p.ps AS DECIMAL(38,4)) AS DOUBLE) / p.t
               + CAST(CAST(tot.s - p.ps AS DECIMAL(38,4))
                      * CAST(tot.s - p.ps AS DECIMAL(38,4)) AS DOUBLE)
                 / (tot.n - p.t)
               - CAST(CAST(tot.s AS DECIMAL(38,4))
                      * CAST(tot.s AS DECIMAL(38,4)) AS DOUBLE) / tot.n
                   AS g,
               CAST(p.ps AS DOUBLE) / p.t AS mean_before,
               CAST(tot.s - p.ps AS DOUBLE) / (tot.n - p.t) AS mean_after
        FROM p CROSS JOIN tot
        WHERE p.t < tot.n
    )
    SELECT CAST(rk AS INTEGER) AS rank,
           CAST(month AS DATE) AS split_after_month,
           CAST(t AS BIGINT) AS n_before,
           CAST(n - t AS BIGINT) AS n_after,
           FLOOR(mean_before * 100.0 + 0.5) / 100.0 AS mean_before,
           FLOOR(mean_after * 100.0 + 0.5) / 100.0 AS mean_after,
           FLOOR(g / 1000000.0 * 100.0 + 0.5) / 100.0 AS gain_m
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY g DESC, month ASC) AS rk
        FROM gain
    )
    WHERE rk <= 3
    """,
)
def revenue_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint scan over the monthly revenue series by
    binary segmentation (Scott & Knott): for every candidate split the
    variance-reduction gain  S_L^2/n_L + S_R^2/n_R - S^2/n  (the
    amount splitting lowers total squared error, means model), ranked;
    top-3 candidates with before/after means.  The first step of
    every changepoint detector a revenue-monitoring pipeline runs —
    and recursing on the winning segment is just this query re-run on
    a date-bounded slice.

    Determinism: monthly sums and their prefix sums are exact DECIMAL
    under any shuffle; each gain is a fixed IEEE expression over
    exact-decimal squares (cast decimal->double is
    correctly-rounded in both engines), so ranking compares identical
    doubles, with the month as the explicit tie-break.  Emission uses
    the floor(x*100+0.5) discipline; the gain is surfaced in units of
    1e6 (it is a squared-revenue quantity).

    Scale shape: the fact table collapses to one row per month in one
    partial aggregate; the prefix sum, gain scan, and top-3 rank all
    run over that calendar-bounded frame (~84 rows) — a global window
    over a bounded frame, never over facts."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("x"))
    w = Window.orderBy("month")
    p = m.select(
        "month",
        F.row_number().over(w).alias("t"),
        F.sum(F.col("x").cast("decimal(38,4)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("ps"),
    )
    tot = p.agg(F.count("*").alias("n"), F.max("ps").alias("s"))
    sq = lambda c: (c.cast("decimal(38,4)") * c.cast("decimal(38,4)")).cast(  # noqa: E731
        "double"
    )
    rest = F.col("s") - F.col("ps")
    gain = (
        p.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n"))
        .select(
            "month",
            "t",
            "n",
            (
                sq(F.col("ps")) / F.col("t")
                + sq(rest) / (F.col("n") - F.col("t"))
                - sq(F.col("s")) / F.col("n")
            ).alias("g"),
            (F.col("ps").cast("double") / F.col("t")).alias("mean_before"),
            (rest.cast("double") / (F.col("n") - F.col("t"))).alias(
                "mean_after"
            ),
        )
    )
    rk = F.row_number().over(Window.orderBy(F.col("g").desc(), F.col("month")))
    r2 = lambda c: F.floor(c * 100.0 + 0.5) / 100.0  # noqa: E731
    return (
        gain.withColumn("rank", rk)
        .filter(F.col("rank") <= 3)
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col("month").alias("split_after_month"),
            F.col("t").cast("bigint").alias("n_before"),
            (F.col("n") - F.col("t")).cast("bigint").alias("n_after"),
            r2(F.col("mean_before")).alias("mean_before"),
            r2(F.col("mean_after")).alias("mean_after"),
            r2(F.col("g") / 1000000.0).alias("gain_m"),
        )
    )


@register(
    "part_revenue_abc_classes",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(rev) AS s, COUNT(*) AS n FROM per_part),
    ranked AS (
        SELECT p.l_partkey, p.rev, t.s, t.n,
               SUM(p.rev) OVER (
                   ORDER BY p.rev DESC, p.l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM per_part p CROSS JOIN tot t
    ),
    classed AS (
        SELECT *,
               CASE WHEN cum * 100 <= s * 80 THEN 'A'
                    WHEN cum * 100 <= s * 95 THEN 'B'
                    ELSE 'C' END AS abc
        FROM ranked
    )
    SELECT abc,
           COUNT(*) AS n_parts,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
               AS part_share,
           CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(s) AS DOUBLE), 6)
               AS revenue_share
    FROM classed GROUP BY 1
    """,
)
def part_revenue_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification of parts by discounted
    revenue: rank parts by revenue, classify the head that carries
    <= 80% of cumulative revenue as A, up to 95% as B, the tail as C,
    and report each class's item count and revenue concentration —
    the 80/20 screen every assortment/inventory pipeline starts with.

    Determinism: per-part revenues are exact DECIMAL sums; the
    cumulative total orders by (rev DESC, partkey) — a total order,
    so the running DECIMAL sum is identical in both engines; class
    boundaries compare exact decimals (cum*100 <= s*80), never a
    float share.

    Scale shape (re-planned round 11): the fact table collapses to
    one row per part in a single partial aggregate; the ranked
    running sum routes through
    :func:`functions.ranking.running_totals` — local DECIMAL running
    sums per sampled-cut-point chunk plus broadcast chunk offsets, so
    the per-part frame is never sorted in one task (the prior form's
    global window was, with this exact swap promised in prose).
    DECIMAL addition is order-independent, so the chunked sum is
    bit-identical to the single-task window.  Final classing
    collapses to 3 rows map-side."""
    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (1 - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("rev")
    )
    tot = per_part.agg(F.sum("rev").alias("s"), F.count("*").alias("n"))
    ranked = (
        running_totals(
            per_part.crossJoin(F.broadcast(tot)),
            [("rev", "desc"), ("l_partkey", "asc")],
            ["rev"],
        )
        .select(
            "l_partkey", "rev", "s", "n", F.col("rev_cum").alias("cum")
        )
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("s") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("s") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc", abc)
        .groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.count("*").cast("double") / F.max("n").cast("double"), 6
            ).alias("part_share"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max("s").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


@register(
    "revenue_trend_regression",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY month) AS t FROM m
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(t) AS st,
               SUM(CAST(t AS BIGINT) * t) AS stt,
               SUM(CAST(y AS DECIMAL(38,4))) AS sy,
               SUM(CAST(t AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,4)))
                   AS sty,
               SUM(CAST(y AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4)))
                   AS syy
        FROM idx
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           FLOOR((CAST(n * sty - st * sy AS DOUBLE)
                  / CAST(n * stt - st * st AS DOUBLE)) * 100.0 + 0.5)
               / 100.0 AS slope_per_month,
           FLOOR((CAST(sy AS DOUBLE) / n
                  - (CAST(n * sty - st * sy AS DOUBLE)
                     / CAST(n * stt - st * st AS DOUBLE))
                    * (CAST(st AS DOUBLE) / n)) * 100.0 + 0.5) / 100.0
               AS intercept,
           FLOOR((CAST(n * sty - st * sy AS DOUBLE)
                  * CAST(n * sty - st * sy AS DOUBLE)
                  / (CAST(n * stt - st * st AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS r2
    FROM s
    """,
)
def revenue_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of monthly revenue against the
    month index: slope (revenue change per month), intercept, and R²
    — the one-line answer to "is revenue structurally growing" that
    anchors every forecast baseline (and the line the
    ``revenue_changepoint_scan`` residuals are judged against).

    Determinism: all five regression moments (Σt, Σt², Σy, Σty, Σy²)
    accumulate EXACTLY — integer t, DECIMAL y and products — so the
    closed-form slope/intercept/R² are fixed IEEE expressions over
    exact scalars, identical in both engines; emission uses the floor
    discipline.  Scale shape: one partial aggregate collapses orders
    to months; the five moments fold in a second single-row
    aggregate.  Nothing global is ever sorted except the
    calendar-bounded month index."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y"))
    idx = m.select(
        "y", F.row_number().over(Window.orderBy("month")).alias("t")
    )
    s = idx.agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t").cast("bigint") * F.col("t")).alias("stt"),
        F.sum(F.col("y").cast("decimal(38,4)")).alias("sy"),
        F.sum(
            F.col("t").cast("decimal(19,0)") * F.col("y").cast("decimal(19,4)")
        ).alias("sty"),
        F.sum(
            F.col("y").cast("decimal(19,4)") * F.col("y").cast("decimal(19,4)")
        ).alias("syy"),
    )
    num = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
    den_t = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = num / den_t
    r2c = lambda c, scale: F.floor(c * scale + 0.5) / scale  # noqa: E731
    return s.select(
        F.col("n").cast("bigint").alias("n_months"),
        r2c(slope, 100.0).alias("slope_per_month"),
        r2c(
            F.col("sy").cast("double") / F.col("n")
            - slope * (F.col("st").cast("double") / F.col("n")),
            100.0,
        ).alias("intercept"),
        r2c(num * num / (den_t * den_y), 1000000.0).alias("r2"),
    )


# --- Recommender offline evaluation: NDCG@10 on a temporal split ----

_REC_K = 10
_REC_SPLIT = "1997-01-01"
#: Quantized DCG position discounts floor(1e6/log2(i+1)), i = 1..K —
#: identical integer literals in both engines, so DCG/IDCG/NDCG are
#: exact integer arithmetic (runtime log2 never runs).
_REC_W = [int(1_000_000 / __import__("math").log2(i + 1)) for i in range(1, _REC_K + 1)]
_REC_IDCG = [sum(_REC_W[:m]) for m in range(_REC_K + 1)]  # prefix sums, [0]=0


def _rec_oracle() -> str:
    w_case = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_REC_W)
    )
    idcg_case = " ".join(
        f"WHEN {m} THEN {v}" for m, v in enumerate(_REC_IDCG) if m > 0
    )
    return f"""
    WITH train AS (
        SELECT l.l_partkey AS part, COUNT(DISTINCT l.l_orderkey) AS cnt
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate < TIMESTAMP '{_REC_SPLIT}'
        GROUP BY 1
    ),
    rec AS (
        SELECT part, rk FROM (
            SELECT part, ROW_NUMBER() OVER (
                ORDER BY cnt DESC, part ASC) AS rk
            FROM train
        ) WHERE rk <= {_REC_K}
    ),
    test AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '{_REC_SPLIT}'
    ),
    per_user AS (
        SELECT t.user_id,
               COUNT(*) AS n_rel,
               SUM(CASE WHEN r.rk IS NOT NULL
                        THEN (CASE r.rk {w_case} END) ELSE 0 END) AS dcg,
               SUM(CASE WHEN r.rk IS NOT NULL THEN 1 ELSE 0 END) AS hits
        FROM test t LEFT JOIN rec r ON t.part = r.part
        GROUP BY 1
    ),
    scored AS (
        SELECT c.c_mktsegment AS segment, p.hits,
               (p.dcg * 1000000)
                   // (CASE LEAST(p.n_rel, {_REC_K}) {idcg_case} END)
                   AS ndcg_q
        FROM per_user p JOIN customer c ON p.user_id = c.c_custkey
    )
    SELECT segment,
           COUNT(*) AS n_test_users,
           ROUND(CAST(SUM(ndcg_q) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 6) AS mean_ndcg_at_10,
           ROUND(CAST(SUM(hits) AS DOUBLE)
                 / (COUNT(*) * {_REC_K}.0), 6) AS mean_precision_at_10,
           ROUND(CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hit_rate
    FROM scored GROUP BY 1
    """


@register("rec_popularity_ndcg", oracle=_rec_oracle())
def rec_popularity_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation on a temporal split: the
    popularity baseline (top-{k} parts by distinct-order count before
    {split}) scored against each customer's post-split purchases with
    NDCG@{k}, precision@{k}, and hit rate, reported per market
    segment — the eval harness every recommender project stands up
    first, and the leakage-safe split discipline (`train strictly
    before, test strictly after`) is the point.

    Determinism: position discounts 1/log2(i+1) are pre-quantized to
    integer micro-units and baked into BOTH engines as literals, so
    per-user DCG and the ideal DCG are exact integer sums and NDCG is
    one truncating integer division — the per-segment means then
    average exact integers with a single IEEE divide each.  Runtime
    log2 never executes; tie-breaks (equal train popularity) fall to
    the part key.

    Scale shape: train popularity is one keyed aggregate; the
    recommendation list is {k} rows broadcast everywhere; test
    relevance is a DISTINCT projection of the fact join; per-user
    scoring is a LEFT broadcast join + one hash aggregate keyed on
    user — no window over facts, no global sort: the top-{k} runs as
    TakeOrderedAndProject over the |parts| train-count frame
    (per-partition heaps; at 100 TB the catalog is itself huge) and
    row_number re-ranks only the truncated {k} rows."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    lo = l.join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        l["l_orderkey"] == o["o_orderkey"],
    )
    split = F.lit(_REC_SPLIT).cast("timestamp")
    train = (
        lo.filter(F.col("o_orderdate") < split)
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.countDistinct("l_orderkey").alias("cnt"))
    )
    # Top-K via orderBy+limit (TakeOrderedAndProject), then re-rank
    # the truncated K rows.  (r13 finding: the old filtered
    # unpartitioned row_number form was in fact auto-rescued by
    # LimitPushDownThroughWindow; the explicit shape is kept because
    # it does not depend on an optimizer rule surviving conf changes
    # — the bm25_search_topk idiom.)
    rec = (
        train.orderBy(F.col("cnt").desc(), F.col("part"))
        .limit(_REC_K)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("part"))
            ),
        )
        .select("part", "rk")
    )
    test = (
        lo.filter(F.col("o_orderdate") >= split)
        .select(
            F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    w_arr = F.array(*[F.lit(w) for w in _REC_W])
    per_user = (
        test.join(F.broadcast(rec), "part", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_rel"),
            F.sum(
                F.when(
                    F.col("rk").isNotNull(),
                    F.element_at(w_arr, F.col("rk")),
                ).otherwise(0)
            ).alias("dcg"),
            F.sum(F.when(F.col("rk").isNotNull(), 1).otherwise(0)).alias(
                "hits"
            ),
        )
    )
    scored = per_user.join(
        c.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "user_id",
    ).select(
        "segment",
        "hits",
        F.expr(
            f"(dcg * 1000000) div"
            f" element_at(array({','.join(str(v) for v in _REC_IDCG[1:])}),"
            f" int(least(n_rel, {_REC_K})))"
        ).alias("ndcg_q"),
    )
    return scored.groupBy("segment").agg(
        F.count("*").alias("n_test_users"),
        F.round(
            F.sum("ndcg_q").cast("double") / (F.count("*") * 1000000.0), 6
        ).alias("mean_ndcg_at_10"),
        F.round(
            F.sum("hits").cast("double") / (F.count("*") * float(_REC_K)), 6
        ).alias("mean_precision_at_10"),
        F.round(
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("hit_rate"),
    )


@register(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL
    ),
    isl AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER)
                   AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island,
               COUNT(*) AS len,
               MIN(day) AS streak_start,
               MAX(day) AS streak_end
        FROM isl GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(day) AS last_day FROM days)
    SELECT s.user_id,
           CAST(SUM(s.len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(s.len) AS BIGINT) AS longest_streak,
           MIN(CASE WHEN s.len = ml.m THEN s.streak_start END)
               AS longest_streak_start,
           CAST(COALESCE(MAX(CASE
               WHEN s.streak_end >= mx.last_day - 1 THEN s.len END), 0)
               AS BIGINT) AS current_streak
    FROM streaks s
    CROSS JOIN mx
    JOIN (SELECT user_id, MAX(len) AS m FROM streaks GROUP BY 1) ml
      ON s.user_id = ml.user_id
    GROUP BY 1
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the gap-and-islands
    idiom (day minus its per-user row number is constant within a
    consecutive run): total active days, streak count, longest streak
    with its start date (earliest on ties), and the CURRENT streak
    (the run still alive at the corpus edge, grace of one day) — the
    engagement features every retention model and gamification
    surface wants.

    Determinism: everything is exact integer/date arithmetic; the
    longest-streak start picks the earliest qualifying date via a
    MIN over equal-length streaks.

    Scale shape: one DISTINCT collapses events to (user, day); ONE
    shuffle on user_id then carries the row-number window, the island
    aggregate, and the per-user rollup — the chained-windows-reuse-
    one-Exchange discipline this module opens with.  The corpus-edge
    date is a broadcast scalar."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("len"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    mx = days.agg(F.max("day").alias("last_day"))
    ml = streaks.groupBy("user_id").agg(F.max("len").alias("m"))
    return (
        streaks.crossJoin(F.broadcast(mx))
        .join(ml, "user_id")
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
            F.min(
                F.when(F.col("len") == F.col("m"), F.col("streak_start"))
            ).alias("longest_streak_start"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("streak_end") >= F.date_sub(F.col("last_day"), 1),
                        F.col("len"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("current_streak"),
        )
    )


@register(
    "revenue_mann_kendall",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY month) AS t FROM m
    ),
    pairs AS (
        SELECT a.t AS ti, b.t AS tj, a.y AS yi, b.y AS yj,
               CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn,
               CAST(b.y - a.y AS DOUBLE) / (b.t - a.t) AS slope
        FROM idx a JOIN idx b ON a.t < b.t
    ),
    sstat AS (
        SELECT SUM(sgn) AS s, COUNT(*) AS n_pairs FROM pairs
    ),
    n_cte AS (SELECT COUNT(*) AS n FROM idx),
    ties AS (
        SELECT COALESCE(SUM(tk * (tk - 1) * (2 * tk + 5)), 0) AS tie_adj
        FROM (SELECT COUNT(*) AS tk FROM idx GROUP BY y HAVING COUNT(*) > 1)
    ),
    var_cte AS (
        SELECT (CAST(n.n AS BIGINT) * (n.n - 1) * (2 * n.n + 5)
                - t.tie_adj) / 18.0 AS var_s
        FROM n_cte n CROSS JOIN ties t
    ),
    ts AS (
        SELECT quantile_disc(slope, 0.5) AS theil_sen FROM pairs
    )
    SELECT CAST(n.n AS BIGINT) AS n_months,
           CAST(s.s AS BIGINT) AS s_statistic,
           FLOOR(v.var_s * 100.0 + 0.5) / 100.0 AS var_s,
           FLOOR((CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(v.var_s)
                       WHEN s.s < 0 THEN (s.s + 1) / sqrt(v.var_s)
                       ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS z_score,
           CASE WHEN s.s > 0 THEN 'increasing'
                WHEN s.s < 0 THEN 'decreasing'
                ELSE 'no trend' END AS trend,
           FLOOR(ts.theil_sen * 100.0 + 0.5) / 100.0 AS theil_sen_slope
    FROM sstat s CROSS JOIN n_cte n CROSS JOIN var_cte v CROSS JOIN ts
    """,
)
def revenue_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test + Theil-Sen robust slope
    over monthly revenue — the distribution-free complement to
    :func:`revenue_trend_regression`: MK's S statistic counts
    concordant-minus-discordant month pairs (immune to outliers and
    any monotone transform), with the tie-corrected normal
    approximation and continuity-corrected z; Theil-Sen is the median
    of all pairwise slopes, the robust trend magnitude every
    environmental/SLA monitoring stack reports alongside it.

    Determinism: S is an exact integer sum of sign comparisons on
    exact DECIMAL monthly revenues; the tie correction and variance
    are exact integer arithmetic over tie-group sizes with one /18
    at the end; pairwise slopes are identical IEEE divides of exact
    decimals in both engines, so the discrete median
    (percentile_disc / quantile_disc) selects the same element.

    Scale shape: the fact table collapses to the calendar-bounded
    monthly frame first; the O(n²) pair join runs over ~84 rows
    (~3.5k pairs) — bounded by the CALENDAR, never by the corpus.
    For a fine-grained series the O(n log n) rank-based S
    formulation slots in (the KS prefix-sum machinery), noted not
    needed at monthly grain."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y"))
    idx = m.select(
        "y", F.row_number().over(Window.orderBy("month")).alias("t")
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = a.join(b, F.col("a.t") < F.col("b.t")).select(
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("slope"),
    )
    sstat = pairs.agg(
        F.sum("sgn").alias("s"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)").alias(
            "theil_sen"
        ),
    )
    n_row = idx.agg(F.count("*").alias("n"))
    ties = (
        idx.groupBy("y")
        .agg(F.count("*").alias("tk"))
        .filter(F.col("tk") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tk") * (F.col("tk") - 1) * (2 * F.col("tk") + 5)
                ),
                F.lit(0),
            ).alias("tie_adj")
        )
    )
    var_s = (
        F.col("n").cast("bigint") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_adj")
    ) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    emit = lambda c, s: F.floor(c * s + 0.5) / s  # noqa: E731
    return (
        sstat.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").cast("bigint").alias("n_months"),
            F.col("s").cast("bigint").alias("s_statistic"),
            emit(var_s, 100.0).alias("var_s"),
            emit(z, 10000.0).alias("z_score"),
            F.when(F.col("s") > 0, "increasing")
            .when(F.col("s") < 0, "decreasing")
            .otherwise("no trend")
            .alias("trend"),
            emit(F.col("theil_sen"), 100.0).alias("theil_sen_slope"),
        )
    )


@register(
    "daily_revenue_runs_test",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS y
        FROM orders GROUP BY 1
    ),
    med AS (SELECT quantile_disc(y, 0.5) AS m FROM d),
    signed AS (
        SELECT day, CASE WHEN y > m THEN 1 ELSE 0 END AS above
        FROM d CROSS JOIN med
        WHERE y <> m
    ),
    runs AS (
        SELECT above,
               CASE WHEN LAG(above) OVER (ORDER BY day) IS NULL
                         OR LAG(above) OVER (ORDER BY day) <> above
                    THEN 1 ELSE 0 END AS is_start
        FROM signed
    ),
    s AS (
        SELECT SUM(is_start) AS r,
               SUM(above) AS n1,
               SUM(1 - above) AS n2
        FROM runs
    )
    SELECT CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           FLOOR((1.0 + 2.0 * n1 * n2 / (n1 + n2)) * 10000.0 + 0.5)
               / 10000.0 AS expected_runs,
           FLOOR(((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                  / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                         / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))))
                 * 10000.0 + 0.5) / 10000.0 AS z_score
    FROM s
    """,
)
def daily_revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily revenue series: dichotomize
    each day against the series median (median-equal days excluded,
    the standard convention), count runs of consecutive same-side
    days, and compare with the expected run count under randomness —
    too FEW runs means sticky regimes (autocorrelation, seasonality,
    level shifts), too many means oscillation.  The third leg of the
    trend battery (OLS slope → Mann-Kendall monotonicity → runs
    randomness), and the cheapest "is this series i.i.d." gate a
    monitoring pipeline can run.

    Determinism: daily sums are exact DECIMAL; the discrete median
    selects an actual element identically in both engines; run starts
    are integer lag comparisons over the day order; expected-runs and
    z are single IEEE expressions over three exact integers, emitted
    with the floor discipline.

    Scale shape: one partial aggregate collapses the fact table to
    the calendar-bounded daily frame; the lag window and the final
    single-row fold run over that frame only."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y")
    )
    med = d.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias("m")
    )
    signed = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select(
            "day", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("above")
        )
    )
    w = Window.orderBy("day")
    runs = signed.select(
        "above",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.lag("above").over(w) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    s = runs.agg(
        F.sum("is_start").alias("r"),
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
    )
    n1, n2, r = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("r").cast("double"),
    )
    exp_r = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    var_r = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    emit = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return s.select(
        F.col("r").cast("bigint").alias("n_runs"),
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        emit(exp_r).alias("expected_runs"),
        emit((r - exp_r) / F.sqrt(var_r)).alias("z_score"),
    )


@register(
    "discount_quantity_elasticity",
    oracle="""
    WITH x AS (
        SELECT p.p_brand AS brand,
               CAST(ROUND(l.l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
        SELECT brand,
               COUNT(*) AS n,
               SUM(disc_pct) AS sx,
               SUM(disc_pct * disc_pct) AS sxx,
               SUM(qty) AS sy,
               SUM(disc_pct * qty) AS sxy,
               SUM(qty * qty) AS syy
        FROM x GROUP BY 1
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) * 10000.0 + 0.5)
               / 10000.0 AS slope_qty_per_pct,
           FLOOR((CAST(sy AS DOUBLE) / n
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / n)) * 10000.0 + 0.5) / 10000.0
               AS intercept_qty,
           FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / (CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS r2
    FROM s
    """,
)
def discount_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped closed-form OLS — the "many small models in one
    aggregate" pattern: per part brand, regress line quantity on the
    discount percentage (does discounting move volume, and for which
    brands?).  One fact-table pass computes the five regression
    moments for EVERY brand simultaneously; slope/intercept/R² then
    evaluate per group in a bounded projection — exactly how a
    100 TB pipeline fits thousands of per-segment models without a
    per-model scan (and without MLlib: the closed form IS the model).

    Determinism: discount rescales to an exact integer percentage
    (the generator draws hundredths, so round(x*100) is exact),
    quantity is integer, all moments are exact integer sums; the
    per-group formulas are single IEEE expressions over exact
    scalars, floor-emitted.

    Scale shape: one broadcast join (part is a dim), one partial
    hash aggregate to |brands| rows, zero sorts, zero windows."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = l.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        l["l_partkey"] == p["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    s = x.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("disc_pct").alias("sx"),
        F.sum(F.col("disc_pct") * F.col("disc_pct")).alias("sxx"),
        F.sum("qty").alias("sy"),
        F.sum(F.col("disc_pct") * F.col("qty")).alias("sxy"),
        F.sum(F.col("qty") * F.col("qty")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = num / den_x
    emit = lambda c, s_: F.floor(c * s_ + 0.5) / s_  # noqa: E731
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        emit(slope, 10000.0).alias("slope_qty_per_pct"),
        emit(
            F.col("sy").cast("double") / F.col("n")
            - slope * (F.col("sx").cast("double") / F.col("n")),
            10000.0,
        ).alias("intercept_qty"),
        emit(num * num / (den_x * den_y), 1000000.0).alias("r2"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH firstseen AS (
        SELECT user_id,
               date_trunc('week', MIN(CAST(ts AS DATE))) AS cohort_week
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1
    ),
    rev AS (
        SELECT f.cohort_week,
               CAST(FLOOR(date_diff('day', f.cohort_week,
                                    CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
                   AS age_week,
               CAST(e.value AS DECIMAL(16,4)) AS v
        FROM events e JOIN firstseen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
    ),
    cell AS (
        SELECT cohort_week, age_week,
               SUM(v) AS week_revenue,
               COUNT(*) AS n_purchases
        FROM rev GROUP BY 1, 2
    ),
    sz AS (
        SELECT cohort_week, COUNT(*) AS cohort_size
        FROM firstseen GROUP BY 1
    )
    SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
           c.age_week,
           s.cohort_size,
           c.n_purchases,
           CAST(ROUND(c.week_revenue, 2) AS DOUBLE) AS week_revenue,
           CAST(ROUND(SUM(c.week_revenue) OVER (
               PARTITION BY c.cohort_week ORDER BY c.age_week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS DOUBLE) AS cum_revenue,
           FLOOR(CAST(SUM(c.week_revenue) OVER (
               PARTITION BY c.cohort_week ORDER BY c.age_week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / s.cohort_size * 10000.0 + 0.5) / 10000.0
               AS cum_ltv_per_user
    FROM cell c JOIN sz s USING (cohort_week)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the money twin of
    ``cohort_retention``: users grouped by first-seen week, purchase
    revenue bucketed by cohort age in weeks, with each cohort's
    cumulative revenue and cumulative LTV per cohort member (the
    curve whose flattening point sets payback windows and CAC
    ceilings).

    Determinism: weekly revenue cells are exact DECIMAL sums; the
    cumulative window runs per cohort over the age order (exact
    decimal running sum); the per-user normalization is one IEEE
    divide by the exact cohort size, floor-emitted.

    Scale shape: first-seen is one keyed aggregate; the fact table
    joins it on the entity key (one shuffle, or zero with the
    bucketed-table path) and collapses to the (cohort, age) matrix —
    bounded by calendar², not corpus; windows run on that matrix
    partitioned by cohort."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    firstseen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.to_date("ts"))).cast("date").alias(
            "cohort_week"
        )
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(firstseen, "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7.0
            )
            .cast("bigint")
            .alias("age_week"),
            F.col("value").cast("decimal(16,4)").alias("v"),
        )
    )
    cell = rev.groupBy("cohort_week", "age_week").agg(
        F.sum("v").alias("week_revenue"), F.count("*").alias("n_purchases")
    )
    sz = firstseen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("week_revenue").over(w)
    return cell.join(F.broadcast(sz), "cohort_week").select(
        "cohort_week",
        "age_week",
        "cohort_size",
        "n_purchases",
        F.round("week_revenue", 2).cast("double").alias("week_revenue"),
        F.round(cum, 2).cast("double").alias("cum_revenue"),
        (
            F.floor(
                cum.cast("double") / F.col("cohort_size") * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("cum_ltv_per_user"),
    )


@register(
    "supply_concentration_hhi",
    oracle="""
    WITH per_supp AS (
        SELECT p.p_type AS part_type, l.l_suppkey AS supp,
               SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT part_type,
               COUNT(*) AS n_suppliers,
               SUM(CAST(rev AS DECIMAL(38,4))) AS tot,
               SUM(CAST(rev AS DECIMAL(19,4)) * CAST(rev AS DECIMAL(19,4)))
                   AS sumsq,
               MAX(rev) AS mx
        FROM per_supp GROUP BY 1
    )
    SELECT part_type,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(CAST(sumsq AS DOUBLE)
                 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi,
           ROUND(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS top_share,
           CASE WHEN CAST(sumsq AS DOUBLE)
                     / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) > 0.25
                THEN 'concentrated'
                WHEN CAST(sumsq AS DOUBLE)
                     / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) > 0.15
                THEN 'moderate' ELSE 'competitive' END AS doj_band
    FROM agg
    """,
)
def supply_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supply-concentration index per part type:
    HHI = sum of squared supplier revenue shares, computed as
    sum(rev²)/total² so it needs NO per-supplier share materialization
    — plus the top supplier's share and the DOJ merger-guideline band
    (>0.25 concentrated, >0.15 moderate) — the supply-chain-risk
    screen a procurement pipeline runs to find single-supplier
    exposure.

    Determinism: per-supplier revenues, their squares, and totals are
    exact DECIMAL sums; HHI and top-share are single IEEE ratios of
    exact scalars; the band thresholds compare those same doubles.

    Scale shape: one fact pass with a broadcast part dim collapses to
    (type, supplier) — bounded by catalog × suppliers — then a second
    keyed aggregate folds each type's moments; zero sorts, zero
    windows, zero share joins (the sum-of-squares identity removes
    the usual shares-back-join)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_supp = (
        l.join(
            F.broadcast(p.select("p_partkey", "p_type")),
            l["l_partkey"] == p["p_partkey"],
        )
        .groupBy(
            F.col("p_type").alias("part_type"), F.col("l_suppkey").alias("supp")
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount").cast("decimal(12,2)"))
            ).alias("rev")
        )
    )
    agg = per_supp.groupBy("part_type").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("rev").cast("decimal(38,4)")).alias("tot"),
        F.sum(
            F.col("rev").cast("decimal(19,4)") * F.col("rev").cast("decimal(19,4)")
        ).alias("sumsq"),
        F.max("rev").alias("mx"),
    )
    hhi = F.col("sumsq").cast("double") / (
        F.col("tot").cast("double") * F.col("tot").cast("double")
    )
    return agg.select(
        "part_type",
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        F.round(hhi, 6).alias("hhi"),
        F.round(
            F.col("mx").cast("double") / F.col("tot").cast("double"), 6
        ).alias("top_share"),
        F.when(hhi > 0.25, "concentrated")
        .when(hhi > 0.15, "moderate")
        .otherwise("competitive")
        .alias("doj_band"),
    )


#: Link-prediction support floor: 2 shared orders (the pagerank/kcore
#: graph, NOT the lift table's 3) — at sf0.1 the support-3 graph is a
#: union of cliques with ZERO non-adjacent distance-2 pairs, so the
#: prediction set would be vacuous exactly at bench scale (measured:
#: 15,643 / 13,146 / 1,393 candidates at sf0.001/0.01/0.1 with
#: support 2 vs 1,942 / 7 / 0 with support 3).
_RA_MIN_SUPPORT = 2
_RA_TOPK = 20


@register(
    "item_ra_link_prediction",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    e AS (
        SELECT a.item_id AS a, b.item_id AS b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_RA_MIN_SUPPORT}
    ),
    adj AS (
        SELECT a AS z, b AS v FROM e
        UNION ALL SELECT b AS z, a AS v FROM e
    ),
    deg AS (SELECT z, COUNT(*) AS degree FROM adj GROUP BY 1),
    w AS (
        SELECT adj.z, adj.v, 1000000000000 // deg.degree AS wq
        FROM adj JOIN deg ON deg.z = adj.z
    ),
    cand AS (
        SELECT x.v AS a, y.v AS b,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               SUM(x.wq) AS score_q
        FROM w x JOIN w y ON x.z = y.z AND x.v < y.v
        GROUP BY 1, 2
    )
    SELECT a AS item_a, b AS item_b, n_common,
           ROUND(score_q / 1000000000000.0, 6) AS ra_score
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b)
    ORDER BY score_q DESC, item_a, item_b
    LIMIT {_RA_TOPK}
    """,
)
def item_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009 —
    the exact-arithmetic member of the Adamic-Adar family) over the
    order co-occurrence item graph: for every NON-adjacent item pair,
    score = Σ over common neighbors z of 1/degree(z), and emit the
    top-{k} predicted links — "these two items never sell together
    yet, but their neighborhoods say they will", the classic
    candidate generator for a recommender.

    Determinism: 1/deg is quantized to ``1e12 DIV deg`` (exact
    integer division in both engines — RA chosen over Adamic-Adar's
    1/ln(deg) precisely because it needs NO transcendental whose last
    ulp could differ between libm builds); scores are exact BIGINT
    sums; ranking ties break on (item_a, item_b); the one double is
    the final display divide.

    Scale shape: edges are support-thresholded co-occurrence pairs
    built map-side from per-order item arrays (same discipline as
    item_triangle_census); the wedge equi-join on the middle vertex
    costs Σ deg(z)² — bounded by the support floor, with AQE skew
    split for celebrity items; the non-adjacency screen is a
    left-anti equi-join (never an all-pairs NOT IN); the final top-k
    is TakeOrderedAndProject, no global sort."""
    # The memoized pair census IS the support-2 edge list; it feeds
    # the adjacency expansion AND the non-adjacency anti-join as a
    # slim localCheckpointed frame (no per-query cache needed).
    e = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _RA_MIN_SUPPORT)
        .select("a", "b")
    )
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("z"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("z").agg(F.count("*").alias("degree"))
    w = adj.join(deg, "z").select(
        "z", "v", F.expr("DIV(1000000000000, degree)").alias("wq")
    )
    x, y = w.alias("x"), w.alias("y")
    cand = (
        x.join(y, (F.col("x.z") == F.col("y.z")) & (F.col("x.v") < F.col("y.v")))
        .groupBy(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(F.col("x.wq")).alias("score_q"),
        )
    )
    nonedge = cand.join(e, ["a", "b"], "left_anti")
    out = (
        nonedge.select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            "n_common",
            F.round(F.col("score_q") / 1000000000000.0, 6).alias("ra_score"),
            "score_q",
        )
        .orderBy(F.desc("score_q"), "item_a", "item_b")
        .limit(_RA_TOPK)
        .drop("score_q")
        .localCheckpoint()
    )
    return out


#: PAA frame width (calendar days per bucket) and SAX alphabet size.
_SAX_FRAME_DAYS = 7
_SAX_ALPHABET = 4


@register(
    "daily_revenue_sax",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS revd
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT (day - (SELECT MIN(day) FROM d)) // {_SAX_FRAME_DAYS} AS bucket,
               MIN(day) AS start_day,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(FLOOR(CAST(SUM(revd) AS DOUBLE) * 100.0 / COUNT(*))
                    AS BIGINT) AS mean_cents
        FROM d GROUP BY 1
    ),
    s AS (
        SELECT *, NTILE({_SAX_ALPHABET}) OVER (ORDER BY mean_cents, bucket)
                      AS tile
        FROM b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, start_day, n_days,
           mean_cents / 100.0 AS paa_mean,
           CASE tile WHEN 1 THEN 'a' WHEN 2 THEN 'b'
                     WHEN 3 THEN 'c' ELSE 'd' END AS sax_symbol
    FROM s
    """,
)
def daily_revenue_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily-revenue series (Lin, Keogh,
    Lonardi & Chiu 2003): Piecewise Aggregate Approximation over
    fixed 7-day frames (frame mean), then a 4-letter alphabet
    assigned by rank quartile — the discretization that turns a
    numeric series into a string so motif discovery, similarity
    search, and anomaly screens can run with text machinery
    (cf. doc_winnowing_fingerprints on the discrete side).  Quartile
    breakpoints (equal-frequency via NTILE, not the Gaussian
    breakpoints of classic SAX) keep the operator PRNG- and
    erf-free, hence bit-deterministic across engines.

    Determinism: day sums are exact decimal; the frame mean is
    quantized to integer cents with one IEEE multiply+divide+floor on
    exact inputs; NTILE orders by (mean_cents, bucket) — a total
    order on exact integers, so tile assignment cannot flip.

    Scale shape: the fact table collapses to ≤ ~2,500 day rows in one
    partial-aggregated shuffle; frames and the NTILE window run on
    that bounded frame (the global window sorts ≤ ~360 rows — the
    series length is calendar-bounded, independent of corpus SF)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("revd")
    )
    mn = d.agg(F.min("day").alias("min_day"))
    b = (
        d.crossJoin(F.broadcast(mn))
        .groupBy(
            F.expr(f"DIV(datediff(day, min_day), {_SAX_FRAME_DAYS})").alias(
                "bucket"
            )
        )
        .agg(
            F.min("day").alias("start_day"),
            F.count("*").cast("bigint").alias("n_days"),
            F.floor(
                F.sum("revd").cast("double") * 100.0 / F.count("*")
            )
            .cast("bigint")
            .alias("mean_cents"),
        )
    )
    w = Window.orderBy("mean_cents", "bucket")
    return b.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "start_day",
        "n_days",
        (F.col("mean_cents") / 100.0).alias("paa_mean"),
        F.ntile(_SAX_ALPHABET).over(w).alias("tile"),
    ).select(
        "bucket",
        "start_day",
        "n_days",
        "paa_mean",
        F.when(F.col("tile") == 1, "a")
        .when(F.col("tile") == 2, "b")
        .when(F.col("tile") == 3, "c")
        .otherwise("d")
        .alias("sax_symbol"),
    )


#: Segment-migration split date: the orders table spans 1992-1998, so
#: mid-1995 cuts it into two populated halves at every SF.
_MIGRATION_SPLIT = "1995-06-01"
_MIGRATION_TERCILES = 3


@register(
    "customer_segment_migration",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey AS cust,
               CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_MIGRATION_SPLIT}'
                    THEN 1 ELSE 2 END AS period,
               SUM(CAST(o_totalprice AS DECIMAL(16,2))) AS spend
        FROM orders GROUP BY 1, 2
    ),
    seg AS (
        SELECT cust, period,
               NTILE({_MIGRATION_TERCILES}) OVER (
                   PARTITION BY period ORDER BY spend, cust) AS tercile
        FROM spend
    ),
    m AS (
        SELECT COALESCE(a.cust, b.cust) AS cust,
               COALESCE(CAST(a.tercile AS VARCHAR), 'absent') AS seg_before,
               COALESCE(CAST(b.tercile AS VARCHAR), 'absent') AS seg_after
        FROM (SELECT * FROM seg WHERE period = 1) a
        FULL OUTER JOIN (SELECT * FROM seg WHERE period = 2) b
          ON a.cust = b.cust
    )
    SELECT seg_before, seg_after,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6)
               AS share
    FROM m GROUP BY 1, 2
    """,
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix: spend-tercile segment in the
    first half of the timeline (orders before {split}) crossed with
    the segment in the second half, plus 'absent' for customers active
    in only one period — the churn/upgrade/downgrade transition table
    a CRM pipeline recomputes every quarter (the longitudinal
    companion to the static rfm_segmentation snapshot).

    Determinism: per-period spend is an exact decimal sum; tercile
    assignment is NTILE over the total order (spend, custkey); the
    matrix is exact counts with one IEEE share divide.

    Scale shape: one fact pass collapses to (customer, period) rows;
    tercile assignment runs through
    ``scalable_ntile(group_cols=["period"])`` — only 2 periods, so
    the plain partitioned window would sort HALF the customer frame
    in one task; the sampled-cut-point chunking bounds every task
    while staying bit-identical to the window NTILE.  The FULL OUTER
    self-join is keyed on customer and the output is a bounded
    (terciles+1)² matrix."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit(_MIGRATION_SPLIT).cast("date"),
            1,
        )
        .otherwise(2)
        .alias("period"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(16,2)")).alias("spend"))
    seg = scalable_ntile(
        spend,
        _MIGRATION_TERCILES,
        [("spend", "asc"), ("cust", "asc")],
        group_cols=["period"],
        out_col="tercile",
    ).select("cust", "period", "tercile")
    a = seg.filter(F.col("period") == 1).select(
        F.col("cust").alias("cust_a"), F.col("tercile").alias("t_a")
    )
    b = seg.filter(F.col("period") == 2).select(
        F.col("cust").alias("cust_b"), F.col("tercile").alias("t_b")
    )
    m = a.join(b, a["cust_a"] == b["cust_b"], "full_outer").select(
        F.coalesce(F.col("t_a").cast("string"), F.lit("absent")).alias(
            "seg_before"
        ),
        F.coalesce(F.col("t_b").cast("string"), F.lit("absent")).alias(
            "seg_after"
        ),
    )
    agg = m.groupBy("seg_before", "seg_after").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )
    w = Window.partitionBy()
    return agg.select(
        "seg_before",
        "seg_after",
        "n_customers",
        F.round(
            F.col("n_customers").cast("double") / F.sum("n_customers").over(w),
            6,
        ).alias("share"),
    )


@register(
    "funnel_conversion_ztest",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
    ),
    clickers AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'click'),
    conv AS (
        SELECT DISTINCT c.user_id
        FROM e c JOIN e p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES
    ),
    u AS (
        SELECT k.user_id,
               COALESCE(cu.c_mktsegment, 'UNKNOWN') AS segment,
               CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END AS converted
        FROM clickers k
        LEFT JOIN conv v ON v.user_id = k.user_id
        LEFT JOIN customer cu ON cu.c_custkey = k.user_id
    ),
    seg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_clickers,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM u GROUP BY 1
    ),
    g AS (
        SELECT SUM(n_clickers) AS nc, SUM(n_converted) AS nv FROM seg
    )
    SELECT s.segment, s.n_clickers, s.n_converted,
           ROUND(CAST(s.n_converted AS DOUBLE) / s.n_clickers, 6)
               AS conversion_rate,
           ROUND((CAST(s.n_converted AS DOUBLE) / s.n_clickers
                  - CAST(g.nv AS DOUBLE) / g.nc)
                 / sqrt((CAST(g.nv AS DOUBLE) / g.nc)
                        * (1 - CAST(g.nv AS DOUBLE) / g.nc)
                        * (1.0 / s.n_clickers + 1.0 / g.nc)), 4) AS z_score,
           ABS((CAST(s.n_converted AS DOUBLE) / s.n_clickers
                - CAST(g.nv AS DOUBLE) / g.nc)
               / sqrt((CAST(g.nv AS DOUBLE) / g.nc)
                      * (1 - CAST(g.nv AS DOUBLE) / g.nc)
                      * (1.0 / s.n_clickers + 1.0 / g.nc))) > 1.96
               AS significant
    FROM seg s CROSS JOIN g
    WHERE s.n_clickers > 0
    """,
)
def funnel_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment funnel significance: 30-minute click→purchase
    conversion rate per market segment (the sessionized funnel —
    lifetime conversion is saturated on this corpus, every clicker
    eventually purchases) with a two-proportion z-test against the
    pooled rate (the experimentation readout an A/B platform runs per
    slice after the SRM gate — ab_assignment_srm_audit checks the
    denominators, this checks the effect).

    Determinism: clicker/converter tallies are exact integers; the
    rate, pooled rate, and z are a fixed chain of IEEE ops (divide,
    multiply, sqrt — all correctly rounded) on exact-integer-derived
    doubles, identical in both engines; the 1.96 two-sided 5% cut
    compares those same doubles.

    Scale shape: the conversion pair join is the stream interval-join
    shape batch-side — equi-keyed on user with the 30-min window as a
    post-join filter, per-user fan-in bounded by event cadence; both
    distincts and the segment rollup are map-side combinable; the
    customer dim rides a broadcast; the pooled scalar is a 1-row
    cross join of a bounded aggregate."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("pts")
    )
    clickers = clicks.select("user_id").distinct()
    conv = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_uid"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    u = (
        clickers.join(conv, "user_id", "left")
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"), "left")
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
            F.coalesce(F.col("converted"), F.lit(0)).alias("converted"),
        )
    )
    seg = u.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_clickers"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    g = seg.agg(
        F.sum("n_clickers").alias("nc"), F.sum("n_converted").alias("nv")
    )
    j = seg.crossJoin(F.broadcast(g)).filter(F.col("n_clickers") > 0)
    rate = F.col("n_converted").cast("double") / F.col("n_clickers")
    pooled = F.col("nv").cast("double") / F.col("nc")
    z = (rate - pooled) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_clickers") + 1.0 / F.col("nc"))
    )
    return j.select(
        "segment",
        "n_clickers",
        "n_converted",
        F.round(rate, 6).alias("conversion_rate"),
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


@register(
    "robust_order_value_stats",
    oracle="""
    WITH r AS (
        SELECT c.c_mktsegment AS segment,
               CAST(o.o_totalprice AS DECIMAL(12,2)) AS price,
               NTILE(20) OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY CAST(o.o_totalprice AS DECIMAL(12,2)),
                            o.o_orderkey) AS vig
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 2) AS raw_mean,
           ROUND(CAST(SUM(CASE WHEN vig BETWEEN 2 AND 19
                               THEN price
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / SUM(CASE WHEN vig BETWEEN 2 AND 19 THEN 1 ELSE 0 END),
                 2) AS trimmed_mean,
           CAST(SUM(CASE WHEN vig BETWEEN 2 AND 19 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_trimmed
    FROM r GROUP BY 1
    """,
)
def robust_order_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (5%-trimmed) mean order value per market segment next
    to the raw mean — the outlier-resistant location estimate a
    monitoring pipeline alarms on when whales/fat fingers would whip
    a plain mean around.  Trimming is rank-based: drop the bottom and
    top vigintile (NTILE(20) buckets 1 and 20) within each segment.

    Determinism: the vigintile orders by (exact decimal price,
    orderkey) — a total order; sums are exact decimal; the two means
    are single IEEE divides of exact sums.

    Scale shape: vigintile assignment runs through
    ``scalable_ntile(group_cols=["segment"])`` — only 5 segments but
    each holds ~20% of the ORDERS fact table, so the plain
    partitioned window would sort a fact-sized frame in one task;
    the sampled-cut-point chunking keeps every task bounded while
    staying bit-identical to the window NTILE.  The rank collapses
    straight into a per-segment aggregate; the customer dim rides a
    broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    r = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        "o_orderkey",
    )
    r = scalable_ntile(
        r,
        20,
        [("price", "asc"), ("o_orderkey", "asc")],
        group_cols=["segment"],
        out_col="vig",
    ).select("segment", "price", "vig")
    kept = F.col("vig").between(2, 19)
    zero = F.lit(0).cast("decimal(12,2)")
    return r.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.sum("price").cast("double") / F.count("*"), 2).alias(
            "raw_mean"
        ),
        F.round(
            F.sum(F.when(kept, F.col("price")).otherwise(zero)).cast("double")
            / F.sum(F.when(kept, 1).otherwise(0)),
            2,
        ).alias("trimmed_mean"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("bigint").alias("n_trimmed"),
    )


#: Edge-churn split date: same mid-1995 boundary as the segment
#: migration matrix, cutting the order timeline into two halves.
_CHURN_SPLIT = "1995-06-01"
_CHURN_MIN_SUPPORT = 2


@register(
    "cobuy_edge_churn",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l.l_orderkey AS order_id, l.l_partkey AS item_id,
               CASE WHEN CAST(o.o_orderdate AS DATE)
                         < DATE '{_CHURN_SPLIT}'
                    THEN 1 ELSE 2 END AS period
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    e AS (
        SELECT a.period, a.item_id AS a, b.item_id AS b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= {_CHURN_MIN_SUPPORT}
    ),
    m AS (
        SELECT COALESCE(x.a, y.a) AS a, COALESCE(x.b, y.b) AS b,
               CASE WHEN y.a IS NULL THEN 'died'
                    WHEN x.a IS NULL THEN 'born'
                    ELSE 'stable' END AS fate
        FROM (SELECT a, b FROM e WHERE period = 1) x
        FULL OUTER JOIN (SELECT a, b FROM e WHERE period = 2) y
          ON x.a = y.a AND x.b = y.b
    )
    SELECT fate, CAST(COUNT(*) AS BIGINT) AS n_edges,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6)
               AS share
    FROM m GROUP BY 1
    """,
)
def cobuy_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph churn: build the support-2 co-purchase edge
    set independently in each half of the order timeline and classify
    every edge as born (second half only), died (first half only), or
    stable — the graph-drift companion to customer_segment_migration
    and the health check for any model trained on co-occurrence
    features (a high churn share means yesterday's item graph doesn't
    describe today's traffic, so pagerank/k-core/link-prediction
    features go stale).

    Determinism: per-period edge elections are exact-count thresholds;
    the fate matrix is a keyed FULL OUTER join with exact tallies and
    one IEEE share divide.

    Scale shape: the per-period censuses come from the same map-side
    basket-array expansion as cobuy_pair_census (here keyed by period,
    so the memoized whole-timeline census cannot be reused); the fate
    classification is one keyed full-outer join of two slim edge
    lists; output is 3 rows."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(
            F.col("o_orderdate").cast("date") < F.lit(_CHURN_SPLIT).cast("date"),
            1,
        )
        .otherwise(2)
        .alias("period"),
    )
    basket = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("period", F.col("l_orderkey").alias("order_id"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    sz = F.size("items")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), sz - 2),
            lambda i: F.transform(
                F.slice(F.col("items"), i + 2, sz),
                lambda j: F.struct(
                    F.element_at(F.col("items"), i + 1).alias("a"),
                    j.alias("b"),
                ),
            ),
        )
    )
    e = (
        basket.select("period", F.explode(F.when(sz >= 2, pairs)).alias("p"))
        .groupBy("period", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _CHURN_MIN_SUPPORT)
        .select("period", "a", "b")
        .localCheckpoint()
    )
    x = e.filter(F.col("period") == 1).select(
        F.col("a").alias("xa"), F.col("b").alias("xb")
    )
    y = e.filter(F.col("period") == 2).select(
        F.col("a").alias("ya"), F.col("b").alias("yb")
    )
    m = x.join(
        y, (x["xa"] == y["ya"]) & (x["xb"] == y["yb"]), "full_outer"
    ).select(
        F.when(F.col("ya").isNull(), "died")
        .when(F.col("xa").isNull(), "born")
        .otherwise("stable")
        .alias("fate")
    )
    agg = m.groupBy("fate").agg(F.count("*").cast("bigint").alias("n_edges"))
    w = Window.partitionBy()
    return agg.select(
        "fate",
        "n_edges",
        F.round(
            F.col("n_edges").cast("double") / F.sum("n_edges").over(w), 6
        ).alias("share"),
    )


@register(
    "cobuy_degree_assortativity",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    e AS (
        SELECT a.item_id AS a, b.item_id AS b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_PR_MIN_SUPPORT}
    ),
    adj AS (SELECT a AS z, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    ends AS (
        SELECT dx.d AS dj, dy.d AS dk
        FROM adj j JOIN deg dx ON dx.z = j.z JOIN deg dy ON dy.z = j.v
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2,
               SUM(dj * dk) AS sjk,
               SUM(dj) AS sj,
               SUM(dj * dj) AS sjj
        FROM ends
    )
    SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
           ROUND((CAST(m2 AS DOUBLE) * sjk - CAST(sj AS DOUBLE) * sj)
                 / (CAST(m2 AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj),
                 6) AS assortativity
    FROM m
    """,
)
def cobuy_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees over all directed
    edge ends — positive means hub items co-sell with other hubs
    (social-network-like), negative means hubs attach to the fringe
    (technological/dissortative), and the sign determines how
    celebrity-item skew propagates through every graph feature built
    here (pagerank, k-core, link prediction).

    Determinism: degrees and all five moments are exact integer sums
    over the symmetric edge-end list (the standard directed-ends form
    of Newman's formula — both directions counted, so no /2 halving
    ambiguity); the correlation is a fixed chain of IEEE ops on exact
    scalars.

    Scale shape: edges filter the memoized co-purchase census; the
    endpoint-degree join is two keyed equi-joins of slim frames; the
    moment fold is one scalar aggregate — output is 1 row."""
    e = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _PR_MIN_SUPPORT)
        .select("a", "b")
    )
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("z"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("z").agg(F.count("*").cast("bigint").alias("d"))
    dx = deg.select(F.col("z").alias("jz"), F.col("d").alias("dj"))
    dy = deg.select(F.col("z").alias("kz"), F.col("d").alias("dk"))
    ends = adj.join(dx, adj["z"] == dx["jz"]).join(
        dy, adj["v"] == dy["kz"]
    ).select("dj", "dk")
    m = ends.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum(F.col("dj") * F.col("dk")).alias("sjk"),
        F.sum("dj").alias("sj"),
        F.sum(F.col("dj") * F.col("dj")).alias("sjj"),
    )
    num = F.col("m2").cast("double") * F.col("sjk") - F.col("sj").cast(
        "double"
    ) * F.col("sj")
    den = F.col("m2").cast("double") * F.col("sjj") - F.col("sj").cast(
        "double"
    ) * F.col("sj")
    return m.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


@register(
    "markov_entropy_rate",
    oracle=f"""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) IS NULL
                     OR date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) > {int(SESSION_GAP_MINUTES * 60e6)}
                    THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess
        FROM g
    ),
    t AS (
        SELECT event_type AS src_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id, sess ORDER BY ts, event_id
               ) AS dst_type
        FROM s
    ),
    c AS (
        SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM t WHERE dst_type IS NOT NULL GROUP BY 1, 2
    ),
    srcn AS (SELECT src_type, SUM(n) AS n_src FROM c GROUP BY 1),
    hq AS (
        SELECT c.src_type, s.n_src,
               SUM(CAST(FLOOR(-(CAST(c.n AS DOUBLE) / s.n_src)
                          * log2(CAST(c.n AS DOUBLE) / s.n_src)
                          * 1000000000.0) AS BIGINT)) AS h_q
        FROM c JOIN srcn s ON s.src_type = c.src_type
        GROUP BY 1, 2
    )
    SELECT src_type,
           CAST(n_src AS BIGINT) AS n_transitions,
           ROUND(h_q / 1000000000.0, 6) AS entropy_bits,
           ROUND(CAST(SUM(n_src * h_q) OVER () AS DOUBLE)
                 / (SUM(n_src) OVER () * 1000000000.0), 6)
               AS entropy_rate_bits
    FROM hq
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy rate of the within-session event chain: per
    source state the conditional next-event entropy H(dst | src) in
    bits, plus the empirical entropy rate Σ p(src)·H(dst|src) — the
    information-theoretic summary of session_path_markov's transition
    matrix.  A collapsing entropy rate means traffic is becoming
    scripted/bot-like (deterministic paths); a jump means the funnel
    lost its structure — the single-number alarm on top of the full
    matrix.

    Determinism: transition counts are exact; each of the ≤|types|
    per-cell −p·log2(p) terms is computed from bit-identical doubles
    (ratios of exact integers) and quantized to an exact 1e-9 integer
    BEFORE summation (the corpus_lexical_drift discipline); the rate
    weights those exact integers by exact counts with one final IEEE
    divide.

    Scale shape: identical to session_path_markov through the
    transition census (one user-keyed window shuffle); everything
    after runs on the ≤|types|² bounded matrix."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # the SAME sessionizer session_path_markov uses — hand-rolling the
    # gap here (e.g. via second-truncated casts) could break sessions
    # differently from the oracle's microsecond date_diff
    tagged = sessionize(e, SESSION_GAP_MINUTES, tiebreak="event_id")
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    t = tagged.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(ws).alias("dst_type"),
    ).filter(F.col("dst_type").isNotNull())
    c = t.groupBy("src_type", "dst_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    srcn = c.groupBy("src_type").agg(F.sum("n").alias("n_src"))
    p = F.col("n").cast("double") / F.col("n_src")
    hq = (
        c.join(F.broadcast(srcn), "src_type")
        .select(
            "src_type",
            "n_src",
            F.floor(-p * F.log2(p) * 1000000000.0).cast("bigint").alias("tq"),
        )
        .groupBy("src_type", "n_src")
        .agg(F.sum("tq").alias("h_q"))
    )
    w = Window.partitionBy()
    return hq.select(
        "src_type",
        F.col("n_src").cast("bigint").alias("n_transitions"),
        F.round(F.col("h_q") / 1000000000.0, 6).alias("entropy_bits"),
        F.round(
            F.sum(F.col("n_src") * F.col("h_q")).over(w).cast("double")
            / (F.sum("n_src").over(w) * 1000000000.0),
            6,
        ).alias("entropy_rate_bits"),
    )


def _pois_w_sql(lam: str, k: str) -> str:
    """Unnormalized truncated-Poisson weight λ^k/k! as a LEFT fold of
    λ/i — multiplication order fixed and identical in both engines, so
    the double is bit-deterministic with NO exp/log/pow anywhere."""
    return (
        f"list_reduce(list_transform(generate_series(1, {k}),"
        f" i -> ({lam}) / i), (a, b) -> a * b)"
    )


@register(
    "basket_size_poisson_gof",
    oracle=f"""
    WITH b AS (
        SELECT l_orderkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS k
        FROM lineitem GROUP BY 1
    ),
    obs AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
    s AS (
        SELECT SUM(n) AS n_orders, SUM(k * n) AS sk, SUM(k * k * n) AS skk,
               MAX(k) AS kmax
        FROM obs
    ),
    lamz AS (
        SELECT n_orders, sk, skk, kmax,
               CAST(sk AS DOUBLE) / n_orders AS lam
        FROM s
    ),
    z AS (
        SELECT *, list_reduce(list_transform(generate_series(1, kmax),
                   kk -> {_pois_w_sql("lam", "kk")}), (a, b) -> a + b) AS zz
        FROM lamz
    ),
    cells AS (
        SELECT o.k, o.n,
               z.n_orders * {_pois_w_sql("z.lam", "o.k")} / z.zz AS expd,
               z.lam, z.n_orders, z.sk, z.skk
        FROM obs o CROSS JOIN z
    )
    SELECT k, n AS n_observed,
           ROUND(expd, 4) AS n_expected,
           ROUND((n - expd) * (n - expd) / expd, 4) AS chi2_term,
           ROUND(SUM((n - expd) * (n - expd) / expd) OVER (), 4) AS chi2_total,
           ROUND((CAST(skk AS DOUBLE) / n_orders - lam * lam) / lam, 6)
               AS dispersion_index
    FROM cells
    """,
)
def basket_size_poisson_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness-of-fit for basket sizes (distinct items per
    order): observed vs expected cell counts under a support-1..kmax
    truncated Poisson fitted by the raw mean, per-cell χ² terms, the
    total χ², and the variance/mean dispersion index — the standard
    screen for whether order composition is random arrivals
    (index ≈ 1), bursty/clumped (over-dispersed > 1, the negative-
    binomial regime), or quota-like (under-dispersed < 1).

    Determinism — the novelty here: NO exp/log/pow anywhere.  Every
    Poisson weight λ^k/k! is a LEFT fold of λ/i multiplications and
    the truncated normalizer is a left fold of those weights — fixed
    operation order on bit-identical doubles, so both engines produce
    the same bits where an e^-λ formulation would hinge on libm exp's
    last ulp.  Moments are exact integer sums; λ and the dispersion
    index are single IEEE chains over them.

    Scale shape: one fact aggregate to per-order sizes, one to the
    ≤kmax-cell histogram; the fold arithmetic runs on that bounded
    frame (kmax ≈ 17 here; basket sizes are small constants at any
    corpus scale)."""
    b = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_partkey").cast("bigint").alias("k"))
    )
    obs = b.groupBy("k").agg(F.count("*").cast("bigint").alias("n"))
    s = obs.agg(
        F.sum("n").alias("n_orders"),
        F.sum(F.col("k") * F.col("n")).alias("sk"),
        F.sum(F.col("k") * F.col("k") * F.col("n")).alias("skk"),
        F.max("k").alias("kmax"),
    ).withColumn("lam", F.col("sk").cast("double") / F.col("n_orders"))

    def w(lam: str, k: str) -> str:
        return (
            f"aggregate(sequence(1, {k}), CAST(1.0 AS DOUBLE),"
            f" (acc, i) -> acc * (({lam}) / i))"
        )

    z = s.withColumn(
        "zz",
        F.expr(
            f"aggregate(sequence(1, kmax), CAST(0.0 AS DOUBLE),"
            f" (acc, kk) -> acc + {w('lam', 'kk')})"
        ),
    )
    cells = obs.crossJoin(F.broadcast(z)).withColumn(
        "expd", F.expr(f"n_orders * {w('lam', 'k')} / zz")
    )
    chi = (F.col("n") - F.col("expd")) * (F.col("n") - F.col("expd")) / F.col(
        "expd"
    )
    wall = Window.partitionBy()
    return cells.select(
        "k",
        F.col("n").alias("n_observed"),
        F.round(F.col("expd"), 4).alias("n_expected"),
        F.round(chi, 4).alias("chi2_term"),
        F.round(F.sum(chi).over(wall), 4).alias("chi2_total"),
        F.round(
            (
                F.col("skk").cast("double") / F.col("n_orders")
                - F.col("lam") * F.col("lam")
            )
            / F.col("lam"),
            6,
        ).alias("dispersion_index"),
    )


@register(
    "acctbal_revenue_spearman",
    oracle="""
    WITH cust AS (
        SELECT c.c_custkey AS cust,
               CAST(c.c_acctbal AS DECIMAL(12,2)) AS bal,
               SUM(CAST(o.o_totalprice AS DECIMAL(16,2))) AS rev
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT cust,
               2 * RANK() OVER (ORDER BY bal)
                   + COUNT(*) OVER (PARTITION BY bal) - 1 AS rx,
               2 * RANK() OVER (ORDER BY rev)
                   + COUNT(*) OVER (PARTITION BY rev) - 1 AS ry
        FROM cust
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(rx AS DECIMAL(38,0))) AS sx,
               SUM(CAST(ry AS DECIMAL(38,0))) AS sy,
               SUM(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy,
               SUM(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
               SUM(CAST(ry AS DECIMAL(38,0)) * ry) AS syy
        FROM r
    )
    SELECT n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS spearman_rho
    FROM m
    """,
)
def acctbal_revenue_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their lifetime order revenue — the robust (monotone, outlier-
    immune) association screen next to feature_correlation_matrix's
    Pearson: a strong Spearman with weak Pearson means the relation is
    monotone but nonlinear, the standard cue to bin or transform the
    feature before a linear model.

    Determinism: tie-handled average ranks are carried DOUBLED
    (2·rank + ties − 1) so they stay exact integers; all five moments
    are exact DECIMAL sums; the correlation is one IEEE chain (cast,
    sqrt, divide) over exact scalars — no float ranks, no float sums.

    Scale shape (re-planned round 11, VERDICT r10 item 3): one fact
    aggregate to per-customer rows, then the two global rank windows
    route through :func:`functions.ranking.ranked` — exact ranks from
    range-partitioned local row numbers, no single-task sort over the
    customer frame; tie-group min/count windows are value-partitioned
    (bounded), and the moment fold is one scalar aggregate."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(12,2)").alias("bal")
    )
    o = load_table(spark, sf_dir, "orders")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "bal")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(16,2)")).alias("rev"))
    )
    # Doubled average ranks from the scalable row number: within a
    # tie group, rank == min(rn) and the tie count is the group size,
    # so 2·rank + ties − 1 = 2·min(rn) + count − 1 — the tie-group
    # windows are value-partitioned (bounded frames), and the global
    # sort is the range-partitioned helper, not a single task.
    rnx = ranked(
        cust, [("bal", "asc"), ("c_custkey", "asc")], rn_col="_rnx",
        n_col="_nx",
    )
    rx = (
        2 * F.min("_rnx").over(Window.partitionBy("bal"))
        + F.count("*").over(Window.partitionBy("bal"))
        - 1
    )
    rny = ranked(
        rnx.withColumn("rx", rx),
        [("rev", "asc"), ("c_custkey", "asc")],
        rn_col="_rny",
        n_col="_ny",
    )
    ry = (
        2 * F.min("_rny").over(Window.partitionBy("rev"))
        + F.count("*").over(Window.partitionBy("rev"))
        - 1
    )
    r = rny.select(F.col("rx"), ry.alias("ry"))
    d38 = "decimal(38,0)"
    m = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rx").cast(d38)).alias("sx"),
        F.sum(F.col("ry").cast(d38)).alias("sy"),
        F.sum(F.col("rx").cast(d38) * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx").cast(d38) * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast(d38) * F.col("ry")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select("n", F.round(num / den, 6).alias("spearman_rho"))


@register(
    "segment_priority_association",
    oracle="""
    WITH t AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cell AS (SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
    rs AS (SELECT seg, SUM(n) AS nr FROM cell GROUP BY 1),
    cs AS (SELECT pri, SUM(n) AS nc FROM cell GROUP BY 1),
    tot AS (SELECT SUM(n) AS nn,
                   CAST(COUNT(DISTINCT seg) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT pri) AS BIGINT) AS c
            FROM cell),
    chi AS (
        SELECT SUM((CAST(cell.n AS DOUBLE)
                    - CAST(rs.nr AS DOUBLE) * cs.nc / tot.nn)
                   * (CAST(cell.n AS DOUBLE)
                      - CAST(rs.nr AS DOUBLE) * cs.nc / tot.nn)
                   / (CAST(rs.nr AS DOUBLE) * cs.nc / tot.nn)) AS chi2,
               MAX(tot.nn) AS nn, MAX(tot.r) AS r, MAX(tot.c) AS c
        FROM cell JOIN rs ON rs.seg = cell.seg
        JOIN cs ON cs.pri = cell.pri CROSS JOIN tot
    )
    SELECT CAST(nn AS BIGINT) AS n_orders,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(chi2, 4) AS chi2,
           ROUND(sqrt(chi2 / (nn * LEAST(r - 1, c - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def segment_priority_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between customer market segment and
    order priority — the bounded-[0,1] effect size for two
    categoricals (χ² alone grows with N, V doesn't), answering the
    feature-selection question "does segment carry any signal about
    priority, or are these independent dimensions?" before anyone
    crosses them into a model.

    Determinism: the contingency table, margins, and totals are exact
    integers; each cell's expected count and χ² term is a fixed IEEE
    chain over them, summed across a bounded (|segments|×|priorities|
    = 25-cell) frame where Spark's partial aggregation cannot reorder
    enough terms to matter — and the 25 doubles are in fact summed in
    one partition after the broadcast joins; V is one sqrt/divide.

    Scale shape: one fact pass to the 25-cell table; margins broadcast
    back; everything after is scalar arithmetic."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("pri")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    cell = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("seg", "pri")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rs = cell.groupBy("seg").agg(F.sum("n").alias("nr"))
    cs = cell.groupBy("pri").agg(F.sum("n").alias("nc"))
    tot = cell.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("seg").cast("bigint").alias("r"),
        F.countDistinct("pri").cast("bigint").alias("c"),
    )
    j = (
        cell.join(F.broadcast(rs), "seg")
        .join(F.broadcast(cs), "pri")
        .crossJoin(F.broadcast(tot))
    )
    expd = F.col("nr").cast("double") * F.col("nc") / F.col("nn")
    term = (F.col("n").cast("double") - expd) * (
        F.col("n").cast("double") - expd
    ) / expd
    chi = j.agg(
        F.sum(term).alias("chi2"),
        F.max("nn").alias("nn"),
        F.max("r").alias("r"),
        F.max("c").alias("c"),
    )
    return chi.select(
        F.col("nn").cast("bigint").alias("n_orders"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.round(F.col("chi2"), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("nn") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "returnflag_anova_ftest",
    oracle="""
    WITH g AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS s,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_extendedprice AS DECIMAL(12,2))) AS q
        FROM lineitem
        GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s) AS DOUBLE) AS ts,
               CAST(SUM(q) AS DOUBLE) AS tq,
               list_sum(list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
                             ORDER BY l_returnflag)) AS ssbsum
        FROM g
    ),
    f AS (
        SELECT nn, k,
               ssbsum - ts * ts / nn AS ssb,
               tq - ts * ts / nn AS sst
        FROM t
    )
    SELECT g.l_returnflag,
           CAST(g.n AS BIGINT) AS n,
           ROUND(CAST(g.s AS DOUBLE) / g.n, 2) AS mean_price,
           CAST(f.k - 1 AS BIGINT) AS df_between,
           CAST(f.nn - f.k AS BIGINT) AS df_within,
           ROUND((f.ssb / (f.k - 1)) / ((f.sst - f.ssb) / (f.nn - f.k)), 4)
               AS f_stat,
           ROUND(f.ssb / f.sst, 6) AS eta_squared
    FROM g CROSS JOIN f
    """,
)
def returnflag_anova_ftest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of line-item price across return flags —
    does return status explain any price variance?  Completes the
    classical-test battery (z-test, chi-square SRM, KS, Spearman,
    Mann-Kendall, runs test) with the k-group mean comparison.  Per
    flag: n and mean; every row carries the global F, its degrees of
    freedom, and eta-squared (SSB/SST, the effect size — an F alone
    overstates tiny effects at large N, which is exactly the 100 TB
    failure mode of significance tests).

    Exactness: group moments (n, Σx, Σx²) accumulate in DECIMAL —
    shuffle-order-proof; the sums-of-squares identity SSB =
    Σ S_g²/n_g − S²/N needs per-group DOUBLE terms, whose k-way sum
    is made order-deterministic by folding the group list in
    return-flag order (``list_sum(list(... ORDER BY))`` / sorted-array
    ``aggregate`` — the Theil-Sen discipline), so both engines add
    the same doubles in the same order.

    Scale: one map-side-partial hash aggregate over the fact table to
    7 group rows; everything after is driver-trivial broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", money(F.col("l_extendedprice")).alias("x")
    )
    # 3-row frame materialized once (localCheckpoint) so the two
    # consumers below don't each rescan the fact table — the single
    # fact-table pass the docstring promises.
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    ).localCheckpoint()
    t = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s").cast("double").alias("ts"),
        F.sum("q").cast("double").alias("tq"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_returnflag").alias("m"),
                        (
                            F.col("s").cast("double")
                            * F.col("s").cast("double")
                            / F.col("n")
                        ).alias("term"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("ssbsum"),
    )
    f = t.select(
        "nn",
        "k",
        (F.col("ssbsum") - F.col("ts") * F.col("ts") / F.col("nn")).alias("ssb"),
        (F.col("tq") - F.col("ts") * F.col("ts") / F.col("nn")).alias("sst"),
    )
    return g.crossJoin(F.broadcast(f)).select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s").cast("double") / F.col("n"), 2).alias("mean_price"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("nn") - F.col("k")).cast("bigint").alias("df_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / ((F.col("sst") - F.col("ssb")) / (F.col("nn") - F.col("k"))),
            4,
        ).alias("f_stat"),
        F.round(F.col("ssb") / F.col("sst"), 6).alias("eta_squared"),
    )


#: Variance-ratio aggregation period (trading-week horizon).
_VR_Q = 5


@register(
    "daily_revenue_variance_ratio",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS y
        FROM orders GROUP BY 1
    ),
    x AS (
        -- DECIMAL(19,4): widths 19-38 run on int128 in DuckDB, so the
        -- x*x product below cannot overflow the int64 fast path (the
        -- Spark side keeps (18,4) — identical VALUES, wider storage)
        SELECT CAST(y - LAG(y) OVER (ORDER BY day) AS DECIMAL(19,4)) AS x1,
               CAST(y - LAG(y, {_VR_Q}) OVER (ORDER BY day)
                    AS DECIMAL(19,4)) AS xq
        FROM d
    ),
    s AS (
        SELECT COUNT(x1) AS n, SUM(x1) AS sx, SUM(x1 * x1) AS sxx,
               COUNT(xq) AS nq, SUM(xq) AS sw, SUM(xq * xq) AS sww
        FROM x
    ),
    v AS (
        SELECT n, nq,
               (CAST(nq AS DOUBLE) * CAST(sww AS DOUBLE)
                - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
                   / (CAST(nq AS DOUBLE) * (nq - 1.0)) AS var_q,
               (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (n - 1.0)) AS var_1
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_diffs,
           CAST(nq AS BIGINT) AS n_qdiffs,
           {_VR_Q} AS q,
           FLOOR(var_q / ({_VR_Q}.0 * var_1) * 1000000.0 + 0.5)
               / 1000000.0 AS variance_ratio,
           FLOOR((var_q / ({_VR_Q}.0 * var_1) - 1.0)
                 / sqrt(2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1)
                        / (3.0 * {_VR_Q} * n))
                 * 10000.0 + 0.5) / 10000.0 AS z_score,
           ABS((var_q / ({_VR_Q}.0 * var_1) - 1.0)
               / sqrt(2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1)
                      / (3.0 * {_VR_Q} * n))) >= 1.96
               AS random_walk_rejected
    FROM v
    """,
)
def daily_revenue_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (q={q}) on the daily revenue
    series: is the series a random walk (VR≈1), mean-reverting
    (VR<1), or trending/persistent (VR>1)?  VR(q) compares the
    variance of OVERLAPPING q-period changes with q times the
    1-period variance; the homoskedastic z uses the asymptotic
    variance 2(2q−1)(q−1)/(3q·n).  Fourth leg of the trend battery
    after OLS slope, Mann-Kendall and the runs test — the one that
    measures the HORIZON structure of persistence rather than its
    direction or sign pattern.

    Determinism: the q-period change telescopes to y_t − y_{{t−q}}, so
    both horizons are single LAG diffs of exact DECIMAL daily sums;
    Σx, Σx² are exact DECIMAL aggregates (shuffle-order proof), and
    the variance ratio and z are a fixed IEEE op sequence over their
    individually-exact double conversions, emitted with the
    floor(x·scale+0.5)/scale ladder (sign-safe where ROUND is not —
    VR−1 and z legitimately straddle zero).  Series positions are the
    ordered days PRESENT (positional, not calendar-gapped), same
    ordering both engines.

    Scale shape: one partial aggregate collapses orders to the
    calendar-bounded daily frame; the two LAG windows and the final
    single-row fold run over that frame only (the repo-standard
    day-series pattern — at a 100 TB multi-series extension the
    window partitions by series key)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y")
    )
    w = Window.orderBy("day")
    x = d.select(
        (F.col("y") - F.lag("y").over(w)).cast("decimal(18,4)").alias("x1"),
        (F.col("y") - F.lag("y", _VR_Q).over(w))
        .cast("decimal(18,4)")
        .alias("xq"),
    )
    s = x.agg(
        F.count("x1").alias("n"),
        F.sum("x1").alias("sx"),
        F.sum(F.col("x1") * F.col("x1")).alias("sxx"),
        F.count("xq").alias("nq"),
        F.sum("xq").alias("sw"),
        F.sum(F.col("xq") * F.col("xq")).alias("sww"),
    )
    var_q = (
        F.col("nq").cast("double") * F.col("sww").cast("double")
        - F.col("sw").cast("double") * F.col("sw").cast("double")
    ) / (F.col("nq").cast("double") * (F.col("nq") - 1.0))
    var_1 = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * (F.col("n") - 1.0))
    vr = var_q / (float(_VR_Q) * var_1)
    z = (vr - 1.0) / F.sqrt(
        2.0
        * (2 * _VR_Q - 1)
        * (_VR_Q - 1)
        / (3.0 * _VR_Q * F.col("n"))
    )
    emit = lambda c, sc: F.floor(c * sc + 0.5) / sc  # noqa: E731
    return s.select(
        F.col("n").cast("bigint").alias("n_diffs"),
        F.col("nq").cast("bigint").alias("n_qdiffs"),
        F.lit(_VR_Q).alias("q"),
        emit(vr, 1000000.0).alias("variance_ratio"),
        emit(z, 10000.0).alias("z_score"),
        (F.abs(z) >= 1.96).alias("random_walk_rejected"),
    )


daily_revenue_variance_ratio.__doc__ = daily_revenue_variance_ratio.__doc__.format(
    q=_VR_Q
)


#: Top-k co-buy partners kept per item in the coverage audit.
_REC_COV_K = 5


@register(
    "rec_coverage_gini",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    pair AS (
        SELECT a.item_id AS a, b.item_id AS b, COUNT(*) AS n_ab
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    sym AS (
        SELECT a AS src, b AS dst, n_ab FROM pair
        UNION ALL
        SELECT b AS src, a AS dst, n_ab FROM pair
    ),
    rec AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY src ORDER BY n_ab DESC, dst
                   ) AS rk
            FROM sym
        ) WHERE rk <= {_REC_COV_K}
    ),
    freq AS (SELECT dst AS item_id, COUNT(*) AS f FROM rec GROUP BY 1),
    r AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f, item_id) AS i
        FROM freq
    ),
    t AS (SELECT COUNT(*) AS m, SUM(f) AS tf FROM freq),
    g AS (
        SELECT SUM((2 * r.i - t.m - 1) * r.f) AS gnum, MAX(t.m) AS m,
               MAX(t.tf) AS tf
        FROM r CROSS JOIN t
    ),
    cat AS (SELECT COUNT(*) AS n_parts FROM part),
    slots AS (
        SELECT COUNT(*) AS n_slots, COUNT(DISTINCT src) AS n_lists
        FROM rec
    )
    SELECT CAST(cat.n_parts AS BIGINT) AS n_catalog,
           CAST(slots.n_lists AS BIGINT) AS n_items_with_recs,
           CAST(g.m AS BIGINT) AS n_recommended,
           CAST(slots.n_slots AS BIGINT) AS n_rec_slots,
           FLOOR(CAST(g.m AS DOUBLE) / cat.n_parts * 1000000.0 + 0.5)
               / 1000000.0 AS catalog_coverage,
           FLOOR(CAST(g.gnum AS DOUBLE) / (g.m * CAST(g.tf AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS rec_gini
    FROM g CROSS JOIN cat CROSS JOIN slots
    """,
)
def rec_coverage_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate diversity of the item-item co-buy recommender
    (Adomavicius & Kwon 2012): with each item recommending its top-{k}
    co-purchase partners, what share of the CATALOG is ever
    recommended (coverage), and how concentrated are the
    recommendation slots across items (Gini of appearance counts)?
    High NDCG with low coverage / high Gini is the popularity-bias
    failure mode [[rec_popularity_ndcg]] alone cannot see — this is
    the diversity half of the offline recsys eval pair.

    Determinism: partner lists rank on exact co-buy counts with item
    id tie-break; appearance counts are exact integers; the Gini uses
    the rank identity Σ(2i−m−1)f_(i)/(m·Σf) over a (f, item_id)-total
    order (the [[acctbal_gini_by_segment]] idiom), so the only floats
    are two final divides emitted via the floor ladder.

    Scale shape: reuses the memoized co-buy census (built map-side
    from sorted per-order item arrays — no basket self-join); the
    top-k window partitions by item over the catalog-bounded census;
    the Gini ranks come from the chunked ``ranked()`` helper (the
    sum consumes every rank of the ≤|catalog| frequency frame, and a
    100 TB catalog is itself huge — never a single-task sort); the
    part count attaches as a 1-row broadcast."""
    sym = cobuy_pair_census(spark, sf_dir).selectExpr(
        "a AS src", "b AS dst", "n_ab"
    ).unionAll(
        cobuy_pair_census(spark, sf_dir).selectExpr(
            "b AS src", "a AS dst", "n_ab"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_ab"), F.asc("dst"))
    rec = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _REC_COV_K)
        .select("src", "dst")
    )
    freq = rec.groupBy(F.col("dst").alias("item_id")).agg(
        F.count("*").alias("f")
    )
    # Exact global rank via the chunked ranked() helper — the Gini
    # sum consumes EVERY rank (no top-k cut), and the frequency frame
    # is catalog-sized, so the old partitionBy(lit(0)) window was a
    # single-task sort of the catalog (r13 full-registry plan audit;
    # the vocab_zipf_fit treatment).
    r = ranked(
        freq, [("f", "asc"), ("item_id", "asc")], rn_col="i"
    ).select("f", "i")
    t = freq.agg(F.count("*").alias("m"), F.sum("f").alias("tf"))
    g = r.crossJoin(F.broadcast(t)).agg(
        F.sum((2 * F.col("i") - F.col("m") - 1) * F.col("f")).alias("gnum"),
        F.max("m").alias("m"),
        F.max("tf").alias("tf"),
    )
    cat = load_table(spark, sf_dir, "part").agg(
        F.count("*").alias("n_parts")
    )
    slots = rec.agg(
        F.count("*").alias("n_slots"),
        F.countDistinct("src").alias("n_lists"),
    )
    emit = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return (
        g.crossJoin(F.broadcast(cat))
        .crossJoin(F.broadcast(slots))
        .select(
            F.col("n_parts").cast("bigint").alias("n_catalog"),
            F.col("n_lists").cast("bigint").alias("n_items_with_recs"),
            F.col("m").cast("bigint").alias("n_recommended"),
            F.col("n_slots").cast("bigint").alias("n_rec_slots"),
            emit(F.col("m").cast("double") / F.col("n_parts")).alias(
                "catalog_coverage"
            ),
            emit(
                F.col("gnum").cast("double")
                / (F.col("m") * F.col("tf").cast("double"))
            ).alias("rec_gini"),
        )
    )


rec_coverage_gini.__doc__ = rec_coverage_gini.__doc__.format(k=_REC_COV_K)


@register(
    "discount_simpson_paradox_audit",
    oracle="""
    WITH x AS (
        SELECT p.p_brand AS brand,
               CAST(ROUND(l.l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
        SELECT brand,
               COUNT(*) AS n,
               SUM(disc_pct) AS sx,
               SUM(disc_pct * disc_pct) AS sxx,
               SUM(qty) AS sy,
               SUM(disc_pct * qty) AS sxy
        FROM x GROUP BY 1
    ),
    pool AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sxx) AS sxx,
               SUM(sy) AS sy, SUM(sxy) AS sxy
        FROM s
    ),
    j AS (
        SELECT s.brand, s.n,
               s.n * s.sxy - s.sx * s.sy AS numb,
               s.n * s.sxx - s.sx * s.sx AS denb,
               p.n * p.sxy - p.sx * p.sy AS nump,
               p.n * p.sxx - p.sx * p.sx AS denp
        FROM s CROSS JOIN pool p
    ),
    f AS (
        SELECT brand, n, numb, denb, nump, denp,
               CASE WHEN denb = 0 THEN NULL
                    ELSE SIGN(numb) * SIGN(denb) <> SIGN(nump) * SIGN(denp)
               END AS sign_flip
        FROM j
    ),
    agg AS (
        SELECT SUM(CASE WHEN sign_flip THEN 1 ELSE 0 END) AS n_flips,
               COUNT(*) AS n_brands
        FROM f
    )
    SELECT f.brand,
           CAST(f.n AS BIGINT) AS n_lines,
           FLOOR(CAST(f.numb AS DOUBLE) / f.denb * 10000.0 + 0.5)
               / 10000.0 AS brand_slope,
           FLOOR(CAST(f.nump AS DOUBLE) / f.denp * 10000.0 + 0.5)
               / 10000.0 AS pooled_slope,
           f.sign_flip,
           CAST(agg.n_flips AS BIGINT) AS n_sign_flips,
           CAST(agg.n_brands AS BIGINT) AS n_brands
    FROM f CROSS JOIN agg
    """,
)
def discount_simpson_paradox_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox detector for the discount→quantity relation:
    does the POOLED regression slope point the opposite way from the
    within-brand slopes?  A sign flip means brand mix (a confounder)
    is driving the pooled trend — acting on the aggregate number
    would move the levers backwards.  Per brand: line count, its
    slope, the pooled slope, the flip verdict; every row carries the
    corpus flip tally.  The canonical aggregation-bias audit run
    before any per-segment feature is replaced by its global version.

    Determinism: slopes come from the same exact integer moments as
    [[discount_quantity_elasticity]] (integer discount percentage ×
    integer quantity), and the FLIP TEST never touches floats — it
    compares SIGN products of the exact integer numerators and
    denominators, so near-zero slopes cannot waver between engines;
    the two emitted slopes are integer-ratio doubles via the floor
    ladder; zero-variance brands (denominator 0) emit NULL verdicts
    on both engines.

    Scale shape: identical to the elasticity operator — one broadcast
    dim join, one partial hash aggregate to |brands| rows; the pooled
    moments are a re-aggregate of THAT frame (never a second fact
    scan) attached as a 1-row broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = l.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        l["l_partkey"] == p["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    s = x.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("disc_pct").alias("sx"),
        F.sum(F.col("disc_pct") * F.col("disc_pct")).alias("sxx"),
        F.sum("qty").alias("sy"),
        F.sum(F.col("disc_pct") * F.col("qty")).alias("sxy"),
    )
    pool = s.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sxx").alias("psxx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
    )
    j = s.crossJoin(F.broadcast(pool)).select(
        "brand",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "numb"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "denb"
        ),
        (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy")).alias(
            "nump"
        ),
        (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx")).alias(
            "denp"
        ),
    )
    flip = F.when(F.col("denb") == 0, F.lit(None).cast("boolean")).otherwise(
        F.signum(F.col("numb")) * F.signum(F.col("denb"))
        != F.signum(F.col("nump")) * F.signum(F.col("denp"))
    )
    f = j.withColumn("sign_flip", flip)
    agg = f.agg(
        F.sum(F.when(F.col("sign_flip"), 1).otherwise(0)).alias("n_flips"),
        F.count("*").alias("n_brands"),
    )
    emit = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return f.crossJoin(F.broadcast(agg)).select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        emit(F.col("numb").cast("double") / F.col("denb")).alias(
            "brand_slope"
        ),
        emit(F.col("nump").cast("double") / F.col("denp")).alias(
            "pooled_slope"
        ),
        "sign_flip",
        F.col("n_flips").cast("bigint").alias("n_sign_flips"),
        F.col("n_brands").cast("bigint").alias("n_brands"),
    )


@register(
    "daily_revenue_chow_test",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS y
        FROM orders GROUP BY 1
    ),
    ix AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS i,
               CAST(y AS DECIMAL(19,4)) AS y
        FROM d
    ),
    t AS (SELECT COUNT(*) AS n FROM ix),
    seg AS (
        SELECT CASE WHEN ix.i < t.n // 2 THEN 1 ELSE 2 END AS s,
               ix.i, ix.y
        FROM ix CROSS JOIN t
    ),
    m AS (
        SELECT s, COUNT(*) AS n, SUM(i) AS sx, SUM(i * i) AS sxx,
               SUM(y) AS sy, SUM(i * y) AS sxy, SUM(y * y) AS syy
        FROM seg GROUP BY 1
    ),
    p AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sxx) AS sxx,
               SUM(sy) AS sy, SUM(sxy) AS sxy, SUM(syy) AS syy
        FROM m
    ),
    ssr AS (
        SELECT
            (SELECT (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                     - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    / CAST(n AS DOUBLE)
             FROM p) AS ssr_p,
            (SELECT SUM((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                     - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    / CAST(n AS DOUBLE))
             FROM m) AS ssr_12,
            (SELECT MIN(n) FROM m WHERE s = 1) AS n1,
            (SELECT MIN(n) FROM m WHERE s = 2) AS n2,
            (SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             FROM m WHERE s = 1) AS slope1,
            (SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             FROM m WHERE s = 2) AS slope2
    )
    SELECT CAST(n1 + n2 AS BIGINT) AS n_days,
           CAST(n1 AS BIGINT) AS n_pre,
           CAST(n2 AS BIGINT) AS n_post,
           FLOOR(slope1 * 10000.0 + 0.5) / 10000.0 AS slope_pre,
           FLOOR(slope2 * 10000.0 + 0.5) / 10000.0 AS slope_post,
           FLOOR(((ssr_p - ssr_12) / 2.0)
                 / (ssr_12 / (n1 + n2 - 4.0)) * 10000.0 + 0.5)
               / 10000.0 AS chow_f,
           ((ssr_p - ssr_12) / 2.0) / (ssr_12 / (n1 + n2 - 4.0)) >= 3.0
               AS break_detected
    FROM ssr
    """,
)
def daily_revenue_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test at the midpoint of the daily
    revenue series: does one OLS line fit the whole series, or do the
    two halves demand different (intercept, slope) regimes?
    F = ((SSR_pooled − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)), k=2
    — the classical regression-based break test, completing the
    trend battery (OLS slope → Mann-Kendall → runs → variance ratio
    → [[revenue_changepoint_scan]]'s CUSUM locate) with the
    parametric two-regime verdict.  3.0 is the 5% F(2,∞) critical
    value.

    Determinism: x is the 0-based day rank, y the exact DECIMAL daily
    sum; all five moments per half are exact integer/decimal
    aggregates, each SSR is the centered-moment identity
    (n·Σyy − (Σy)² − (n·Σxy − ΣxΣy)²/(n·Σxx − (Σx)²))/n evaluated as
    a fixed IEEE op sequence over their individually-exact double
    conversions, identical in both engines; emissions use the
    sign-safe floor ladder (the F numerator is mathematically ≥ 0 but
    is a difference of large doubles).

    Scale shape: one partial aggregate collapses orders to the
    day frame; the rank window and the ≤2-row moment folds run on
    that frame only (the repo-standard day-series pattern)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(16,4)")).alias("y")
    )
    w = Window.partitionBy(F.lit(0)).orderBy("day")
    ix = d.select(
        (F.row_number().over(w) - 1).alias("i"),
        F.col("y").cast("decimal(19,4)").alias("y"),
    )
    t = ix.agg(F.count("*").alias("n"))
    seg = ix.crossJoin(F.broadcast(t)).select(
        F.when(F.col("i") < F.expr("n div 2"), 1).otherwise(2).alias("s"),
        "i",
        "y",
    )
    m = seg.groupBy("s").agg(
        F.count("*").alias("n"),
        F.sum("i").alias("sx"),
        F.sum(F.col("i") * F.col("i")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("i") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def ssr_of(pre: str = "") -> F.Column:
        n = F.col(f"{pre}n").cast("double")
        sx = F.col(f"{pre}sx").cast("double")
        sxx = F.col(f"{pre}sxx").cast("double")
        sy = F.col(f"{pre}sy").cast("double")
        sxy = F.col(f"{pre}sxy").cast("double")
        syy = F.col(f"{pre}syy").cast("double")
        num = n * sxy - sx * sy
        return (n * syy - sy * sy - num * num / (n * sxx - sx * sx)) / n

    def slope_of(pre: str = "") -> F.Column:
        n = F.col(f"{pre}n").cast("double")
        return (n * F.col(f"{pre}sxy").cast("double")
                - F.col(f"{pre}sx").cast("double")
                * F.col(f"{pre}sy").cast("double")) / (
            n * F.col(f"{pre}sxx").cast("double")
            - F.col(f"{pre}sx").cast("double")
            * F.col(f"{pre}sx").cast("double")
        )

    halves = m.agg(
        F.sum(ssr_of()).alias("ssr_12"),
        F.min(F.when(F.col("s") == 1, F.col("n"))).alias("n1"),
        F.min(F.when(F.col("s") == 2, F.col("n"))).alias("n2"),
        F.min(F.when(F.col("s") == 1, slope_of())).alias("slope1"),
        F.min(F.when(F.col("s") == 2, slope_of())).alias("slope2"),
    )
    pooled = m.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sxx").alias("psxx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
        F.sum("syy").alias("psyy"),
    ).select(ssr_of("p").alias("ssr_p"))
    emit = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    fstat = ((F.col("ssr_p") - F.col("ssr_12")) / 2.0) / (
        F.col("ssr_12") / (F.col("n1") + F.col("n2") - 4.0)
    )
    return halves.crossJoin(F.broadcast(pooled)).select(
        (F.col("n1") + F.col("n2")).cast("bigint").alias("n_days"),
        F.col("n1").cast("bigint").alias("n_pre"),
        F.col("n2").cast("bigint").alias("n_post"),
        emit(F.col("slope1")).alias("slope_pre"),
        emit(F.col("slope2")).alias("slope_post"),
        emit(fstat).alias("chow_f"),
        (fstat >= 3.0).alias("break_detected"),
    )


@register(
    "orders_backlog_littles_law",
    oracle="""
    WITH o AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS oday,
               CAST(MAX(l.l_shipdate) AS DATE) AS sday
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(oday) AS lo, MAX(sday) AS hi FROM o),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    delta AS (
        SELECT oday AS day, COUNT(*) AS d FROM o GROUP BY 1
        UNION ALL
        SELECT sday + INTERVAL 1 DAY, -COUNT(*) FROM o GROUP BY 1
    ),
    daily AS (
        SELECT s.day,
               SUM(COALESCE(dl.d, 0)) OVER (
                   ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS wip
        FROM spine s
        LEFT JOIN (SELECT day, SUM(d) AS d FROM delta GROUP BY 1) dl
          ON dl.day = s.day
    ),
    lmon AS (
        SELECT date_trunc('month', day) AS month,
               COUNT(*) AS n_days, SUM(wip) AS wip_sum
        FROM daily GROUP BY 1
    ),
    amon AS (
        SELECT date_trunc('month', oday) AS month,
               COUNT(*) AS n_arrivals,
               SUM(date_diff('day', oday, sday) + 1) AS cyc_sum
        FROM o GROUP BY 1
    )
    SELECT CAST(l.month AS DATE) AS month,
           CAST(a.n_arrivals AS BIGINT) AS n_arrivals,
           CAST(l.n_days AS BIGINT) AS n_days,
           FLOOR(CAST(l.wip_sum AS DOUBLE) / l.n_days * 10000.0 + 0.5)
               / 10000.0 AS avg_wip,
           FLOOR(CAST(a.cyc_sum AS DOUBLE) / a.n_arrivals * 10000.0 + 0.5)
               / 10000.0 AS mean_cycle_days,
           FLOOR((CAST(l.wip_sum AS DOUBLE) / l.n_days)
                 / ((CAST(a.n_arrivals AS DOUBLE) / l.n_days)
                    * (CAST(a.cyc_sum AS DOUBLE) / a.n_arrivals))
                 * 10000.0 + 0.5) / 10000.0 AS littles_ratio
    FROM lmon l JOIN amon a ON l.month = a.month
    """,
)
def orders_backlog_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-backlog audit with a Little's-law consistency check:
    per month, the arrival count, the average work-in-progress
    (orders open between order date and their last line's ship date,
    by daily sweep line over a full calendar spine), the arriving
    cohort's mean cycle time, and the ratio L / (λ·W) — ≈1 where the
    system is stationary, drifting where arrivals or cycle times
    shift (and at the series edges, where open orders extend past
    the window — the boundary behavior the audit is FOR).  The
    queueing-theory sanity check an ops/capacity dashboard runs over
    any workflow table; here over the order→ship lifecycle.

    Determinism: the sweep line is exact integer deltas prefix-summed
    over a generated calendar spine (gap days included — unlike a
    days-present frame, weekends with no orders still hold WIP);
    cycle sums are exact integer day diffs; the three emitted ratios
    are fixed IEEE divides via the floor ladder.

    Scale shape: one per-order aggregate (max ship date) is the only
    fact-table shuffle; deltas collapse to ≤2 rows per calendar day;
    the prefix sum runs on the calendar-bounded spine (the
    [[concurrent_sessions_daily]] sweep-line pattern) and months fold
    that same frame."""
    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_shipdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey", F.col("o_orderdate").cast("date").alias("oday")
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("sday"))
    )
    bounds = o.agg(
        F.min("oday").alias("lo"), F.max("sday").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    delta = (
        o.groupBy(F.col("oday").alias("day"))
        .agg(F.count("*").alias("d"))
        .unionAll(
            o.groupBy(F.date_add("sday", 1).alias("day")).agg(
                (-F.count("*")).alias("d")
            )
        )
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
    )
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    daily = spine.join(delta, "day", "left").select(
        "day",
        F.sum(F.coalesce(F.col("d"), F.lit(0))).over(w).alias("wip"),
    )
    lmon = daily.groupBy(
        F.date_trunc("month", F.col("day")).cast("date").alias("month")
    ).agg(F.count("*").alias("n_days"), F.sum("wip").alias("wip_sum"))
    amon = o.groupBy(
        F.date_trunc("month", F.col("oday")).cast("date").alias("month")
    ).agg(
        F.count("*").alias("n_arrivals"),
        F.sum(F.datediff("sday", "oday") + 1).alias("cyc_sum"),
    )
    emit = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    avg_wip = F.col("wip_sum").cast("double") / F.col("n_days")
    lam = F.col("n_arrivals").cast("double") / F.col("n_days")
    mean_cyc = F.col("cyc_sum").cast("double") / F.col("n_arrivals")
    return lmon.join(amon, "month").select(
        "month",
        F.col("n_arrivals").cast("bigint").alias("n_arrivals"),
        F.col("n_days").cast("bigint").alias("n_days"),
        emit(avg_wip).alias("avg_wip"),
        emit(mean_cyc).alias("mean_cycle_days"),
        emit(avg_wip / (lam * mean_cyc)).alias("littles_ratio"),
    )


#: Candidate inactivity-gap thresholds for the sessionization
#: sensitivity sweep (seconds): 5 min, 30 min (the production
#: session_windows gap), 1 h, 6 h.
_GAP_SWEEP_S = (300, 1800, 3600, 21600)


@register(
    "session_gap_sensitivity",
    oracle=f"""
    WITH g AS (
        SELECT date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id),
                   ts) AS gap
        FROM events WHERE user_id IS NOT NULL
    ),
    h AS (SELECT unnest([{", ".join(str(s) for s in _GAP_SWEEP_S)}])
                 AS gap_s)
    SELECT CAST(h.gap_s AS BIGINT) AS gap_threshold_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN g.gap IS NULL THEN 1 ELSE 0 END)
                + SUM(CASE WHEN g.gap > h.gap_s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / (SUM(CASE WHEN g.gap IS NULL THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN g.gap > h.gap_s THEN 1 ELSE 0 END))
                 * 10000.0 + 0.5) / 10000.0 AS events_per_session,
           FLOOR(CAST(SUM(CASE WHEN g.gap > h.gap_s THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN g.gap IS NOT NULL
                              THEN 1 ELSE 0 END), 0)
                 * 1000000.0 + 0.5) / 1000000.0 AS broken_gap_share
    FROM g CROSS JOIN h
    GROUP BY 1
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization design sweep — the session-count-vs-gap curve
    read BEFORE fixing the inactivity threshold [[session_windows]]
    hard-codes: for each candidate gap, how many sessions the corpus
    splits into, the mean events per session, and the share of
    interarrival gaps that break a session.  Too short a gap shreds
    engagement into single-event sessions; too long merges distinct
    visits — this table makes the elbow visible from ONE gap pass
    instead of one sessionization per candidate (the
    [[label_horizon_sweep]] pattern applied to sessionization;
    measured on this corpus the candidate thresholds 5min→6h give
    9769→5575 broken gaps at sf0.01, so the curve actually bends).

    Determinism: gaps are exact integer second differences over the
    total (ts, event_id) order; every per-threshold statistic is a
    conditional integer aggregate; the two ratios are fixed divides
    through the sign-safe floor ladder (all operands non-negative).

    Scale shape: ONE user-keyed window pass computes every gap (the
    same single-shuffle discipline as the rest of this module);
    thresholds explode the slim gap column (|events| × 4 rows of two
    ints) into one hash aggregate keyed by the 4 thresholds — no
    per-candidate rescans, no global sort."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    g = ev.select(
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap")
    )
    gh = g.select(
        "gap",
        F.explode(F.array(*[F.lit(s) for s in _GAP_SWEEP_S])).alias("gap_s"),
    )
    n_first = F.sum(F.when(F.col("gap").isNull(), 1).otherwise(0))
    n_broken = F.sum(F.when(F.col("gap") > F.col("gap_s"), 1).otherwise(0))
    n_gaps = F.sum(F.when(F.col("gap").isNotNull(), 1).otherwise(0))
    return gh.groupBy(F.col("gap_s").cast("bigint").alias("gap_threshold_s")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        (n_first + n_broken).cast("bigint").alias("n_sessions"),
        (
            F.floor(
                F.count("*").cast("double") / (n_first + n_broken) * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("events_per_session"),
        (
            F.floor(
                n_broken.cast("double") / F.nullif(n_gaps, F.lit(0))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("broken_gap_share"),
    )


@register(
    "cobuy_community_conductance",
    oracle=f"""
    WITH {_lpa_cte()},
    lab AS (SELECT item_id, label FROM l{_LPA_ROUNDS}),
    m AS (SELECT COUNT(*) AS m2 FROM sym),
    e AS (
        SELECT s.label AS community,
               CASE WHEN s.label = d.label THEN 0 ELSE 1 END AS is_cut
        FROM sym
        JOIN lab s ON sym.src = s.item_id
        JOIN lab d ON sym.dst = d.item_id
    ),
    g AS (
        SELECT community, COUNT(*) AS volume, SUM(is_cut) AS cut_edges
        FROM e GROUP BY 1
    ),
    n AS (
        SELECT label AS community, COUNT(*) AS n_members
        FROM lab GROUP BY 1
    )
    SELECT n.community, CAST(n.n_members AS BIGINT) AS n_members,
           CAST(g.volume AS BIGINT) AS volume,
           CAST(g.cut_edges AS BIGINT) AS cut_edges,
           FLOOR(CAST(g.cut_edges AS DOUBLE)
                 / NULLIF(LEAST(g.volume, m.m2 - g.volume), 0)
                 * 1000000.0 + 0.5) / 1000000.0 AS conductance
    FROM n JOIN g USING (community) CROSS JOIN m
    """,
)
def cobuy_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the LPA partition — the
    cut-quality twin of [[graph_modularity]] (modularity scores the
    partition globally; conductance φ(c) = cut(c)/min(vol(c),
    2m−vol(c)) scores each community's boundary, the standard
    community-goodness measure of Kannan-Vempala-Vetta and the
    quantity seed-set expansion methods optimize).  A community with
    φ near 0 is a real module; φ near 1 means its members talk to
    outsiders as much as insiders — LPA noise the downstream
    recommender should not treat as a segment.  Per community: member
    count, directed volume, cut edge count, conductance.

    Determinism: reuses the per-(session, sf) memoized deterministic
    LPA labels and spooled edge list ([[item_label_propagation]]'s
    ``_lpa_graph_labels``) — the oracle re-derives the identical
    fixed point through the shared ``_lpa_cte``; volumes and cuts are
    exact integer tallies; the one ratio is a fixed non-negative
    divide through the floor ladder, NULL for a partition with a
    single community (min(vol, 2m−vol) = 0 — NULLIF-guarded in both
    engines).

    Scale shape: the (catalog-bounded) label frame broadcasts into
    the spooled edge scan twice, cut/volume tallies collapse map-side,
    2m rides as a 1-row broadcast — zero wide shuffles beyond the
    per-community aggregate, the [[graph_modularity]] plan with a
    different reduction."""
    sym, lab = _lpa_graph_labels(spark, sf_dir)
    m = sym.agg(F.count("*").alias("m2"))
    e = (
        sym.join(
            F.broadcast(
                lab.select(F.col("item_id").alias("src"), F.col("label").alias("sl"))
            ),
            "src",
        )
        .join(
            F.broadcast(
                lab.select(F.col("item_id").alias("dst"), F.col("label").alias("dl"))
            ),
            "dst",
        )
        .select(
            F.col("sl").alias("community"),
            F.when(F.col("sl") == F.col("dl"), 0).otherwise(1).alias("is_cut"),
        )
    )
    g = e.groupBy("community").agg(
        F.count("*").alias("volume"), F.sum("is_cut").alias("cut_edges")
    )
    n = lab.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members")
    )
    return (
        n.join(g, "community")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("volume").cast("bigint").alias("volume"),
            F.col("cut_edges").cast("bigint").alias("cut_edges"),
            (
                F.floor(
                    F.col("cut_edges").cast("double")
                    / F.nullif(
                        F.least(
                            F.col("volume"), F.col("m2") - F.col("volume")
                        ),
                        F.lit(0),
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("conductance"),
        )
    )


@register(
    "rec_novelty_by_rank",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    pair AS (
        SELECT a.item_id AS a, b.item_id AS b, COUNT(*) AS n_ab
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    sym AS (
        SELECT a AS src, b AS dst, n_ab FROM pair
        UNION ALL
        SELECT b AS src, a AS dst, n_ab FROM pair
    ),
    rec AS (
        SELECT src, dst, rk FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY src ORDER BY n_ab DESC, dst
                   ) AS rk
            FROM sym
        ) WHERE rk <= {_REC_COV_K}
    ),
    no AS (SELECT COUNT(DISTINCT order_id) AS n_orders FROM basket),
    pop AS (
        SELECT item_id, COUNT(*) AS n_i FROM basket GROUP BY 1
    ),
    q AS (
        SELECT rec.rk,
               CAST(FLOOR(-ln(CAST(pop.n_i AS DOUBLE) / no.n_orders)
                          * 1000000.0) AS BIGINT) AS qn,
               CAST(FLOOR(CAST(pop.n_i AS DOUBLE) / no.n_orders
                          * 1000000.0) AS BIGINT) AS qp
        FROM rec JOIN pop ON rec.dst = pop.item_id CROSS JOIN no
    )
    SELECT CAST(rk AS INTEGER) AS rec_rank,
           CAST(COUNT(*) AS BIGINT) AS n_recs,
           FLOOR(CAST(SUM(qn) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_novelty_nats,
           FLOOR(CAST(SUM(qp) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_popularity_share
    FROM q GROUP BY 1
    """,
)
def rec_novelty_by_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty profile of the co-buy recommender by list position
    (Vargas & Castells 2011 self-information: −ln p(i), p = share of
    orders containing the item): does the recommender surface
    anything users would not find on their own, and does novelty
    improve further down the list?  Per rec rank 1..{k}: slot count,
    mean novelty (nats) and mean popularity share of the items
    occupying that rank — the popularity-bias curve that NDCG
    ([[rec_popularity_ndcg]]) and aggregate diversity
    ([[rec_coverage_gini]]) both miss (a recommender can have decent
    coverage while still putting the blockbuster at rank 1 of every
    list).

    Determinism: rec lists rank on exact co-buy counts with item-id
    tie-break; popularity shares are one fixed divide of exact
    integers; per-slot novelty quantizes at the leaf (floor·1e6 of a
    positive operand — the repo's lnq idiom); per-rank means are
    integer sums with one fixed divide through the sign-safe ladder.

    Scale shape: reuses the memoized co-buy census (no basket
    self-join at query time); the top-k window partitions by item
    over the catalog-bounded census; popularity is one map-side
    basket aggregate joined catalog-to-catalog; output is ≤{k} rows
    at any scale."""
    census = cobuy_pair_census(spark, sf_dir)
    sym = census.selectExpr("a AS src", "b AS dst", "n_ab").unionAll(
        census.selectExpr("b AS src", "a AS dst", "n_ab")
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_ab"), F.asc("dst"))
    rec = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _REC_COV_K)
        .select("dst", "rk")
    )
    basket = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    pop = basket.groupBy("item_id").agg(F.count("*").alias("n_i"))
    no = basket.agg(F.countDistinct("order_id").alias("n_orders"))
    q = (
        rec.join(pop, rec["dst"] == pop["item_id"])
        .crossJoin(F.broadcast(no))
        .select(
            "rk",
            F.floor(
                -F.log(F.col("n_i").cast("double") / F.col("n_orders"))
                * 1000000.0
            )
            .cast("bigint")
            .alias("qn"),
            F.floor(
                F.col("n_i").cast("double") / F.col("n_orders") * 1000000.0
            )
            .cast("bigint")
            .alias("qp"),
        )
    )
    return q.groupBy(F.col("rk").cast("int").alias("rec_rank")).agg(
        F.count("*").cast("bigint").alias("n_recs"),
        (
            F.floor(F.sum("qn").cast("double") / F.count("*") + 0.5) / 1000000.0
        ).alias("mean_novelty_nats"),
        (
            F.floor(F.sum("qp").cast("double") / F.count("*") + 0.5) / 1000000.0
        ).alias("mean_popularity_share"),
    )


rec_novelty_by_rank.__doc__ = rec_novelty_by_rank.__doc__.format(k=_REC_COV_K)


#: Rolling-origin backtest: first origin needs 7 days of history so
#: the seasonal-naive lag is defined for every scored day.
_BT_MIN_T = 8
_BT_SEASON = 7


@register(
    "daily_revenue_forecast_backtest",
    oracle=f"""
    WITH d AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS r
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    s AS (
        SELECT r,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               LAG(r, 1) OVER (ORDER BY day) AS r1,
               LAG(r, {_BT_SEASON}) OVER (ORDER BY day) AS r7,
               FIRST_VALUE(r) OVER (ORDER BY day) AS r0,
               SUM(r) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS cum1
        FROM d
    ),
    e AS (
        SELECT t,
               ABS(r - r1) AS e_naive,
               ABS(r - r7) AS e_snaive,
               CAST(FLOOR(CAST(ABS((r - r1) * CAST(t - 2 AS DECIMAL(38, 0))
                                   - (r1 - r0)) AS DOUBLE)
                          / (t - 2)) AS BIGINT) AS e_drift,
               CAST(FLOOR(CAST(ABS(r * CAST(t - 1 AS DECIMAL(38, 0)) - cum1)
                               AS DOUBLE) / (t - 1)) AS BIGINT) AS e_mean
        FROM s WHERE t >= {_BT_MIN_T}
    ),
    m AS (
        SELECT 'naive' AS method, SUM(e_naive) AS se, COUNT(*) AS n FROM e
        UNION ALL
        SELECT 'seasonal_naive', SUM(e_snaive), COUNT(*) FROM e
        UNION ALL
        SELECT 'drift', SUM(e_drift), COUNT(*) FROM e
        UNION ALL
        SELECT 'mean', SUM(e_mean), COUNT(*) FROM e
    )
    SELECT method,
           CAST(n AS BIGINT) AS n_origins,
           FLOOR(CAST(se AS DOUBLE) / n / 100.0 * 10000.0 + 0.5) / 10000.0
               AS mae,
           CAST(ROW_NUMBER() OVER (ORDER BY se, method) AS INTEGER) AS rnk
    FROM m
    """,
)
def daily_revenue_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest over daily revenue — the
    model-selection table behind [[revenue_ewma_trend]] /
    [[forecast_discount_revenue]] / [[revenue_trend_regression]]: for
    each observed day t ≥ {mint}, score the four classical baselines
    (naive = yesterday, seasonal-naive = {season} observed days back,
    drift = Hyndman's last-value-plus-trend, mean = running mean) on
    |actual − forecast|, and rank them by total error (measured at
    sf0.01: the MEAN forecaster wins decisively — MAE ≈ 562k vs
    ~778–792k dollars for the other three — i.e. this revenue series
    is stationary noise, and any production forecast should shrink
    hard toward the mean; the backtest is what PROVES that instead
    of assuming it).  Lags run in observed-day space (gap days shift,
    not break, the alignment).

    Determinism: day revenues are exact integer cents; naive and
    seasonal-naive errors are exact integer differences; drift and
    mean errors are put over their COMMON DENOMINATOR so each
    per-origin error is one fixed IEEE divide of exact DECIMAL
    operands floored back to an exact integer — every SUM is then
    order-independent integer arithmetic, the ranking compares exact
    integer totals (method-name tiebreak), and the one emitted mae
    is a fixed divide through the floor ladder.

    Scale shape: the corpus collapses to |days| rows in one
    map-side-combined aggregate (calendar-bounded, ~2.4k rows —
    the [[range_partition_balance_plan]] boundedness argument), so
    the unpartitioned lag/cumsum windows and the 4-row union are
    metadata-scale; no joins, nothing driver-side."""
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("bigint")).alias(
                "r"
            )
        )
    )
    wd = Window.orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, -1)
    s = d.select(
        "r",
        F.row_number().over(wd).alias("t"),
        F.lag("r", 1).over(wd).alias("r1"),
        F.lag("r", _BT_SEASON).over(wd).alias("r7"),
        F.first("r").over(wd).alias("r0"),
        F.sum("r").over(wcum).alias("cum1"),
    ).filter(F.col("t") >= _BT_MIN_T)
    e = s.select(
        F.abs(F.col("r") - F.col("r1")).alias("e_naive"),
        F.abs(F.col("r") - F.col("r7")).alias("e_snaive"),
        F.floor(
            F.abs(
                (F.col("r") - F.col("r1"))
                * (F.col("t") - 2).cast("decimal(38,0)")
                - (F.col("r1") - F.col("r0"))
            ).cast("double")
            / (F.col("t") - 2)
        )
        .cast("bigint")
        .alias("e_drift"),
        F.floor(
            F.abs(
                F.col("r") * (F.col("t") - 1).cast("decimal(38,0)")
                - F.col("cum1")
            ).cast("double")
            / (F.col("t") - 1)
        )
        .cast("bigint")
        .alias("e_mean"),
    )
    m = None
    for method, col in (
        ("naive", "e_naive"),
        ("seasonal_naive", "e_snaive"),
        ("drift", "e_drift"),
        ("mean", "e_mean"),
    ):
        row = e.agg(
            F.sum(col).alias("se"), F.count("*").alias("n")
        ).select(F.lit(method).alias("method"), "se", "n")
        m = row if m is None else m.unionAll(row)
    wr = Window.orderBy("se", "method")
    return m.select(
        "method",
        F.col("n").cast("bigint").alias("n_origins"),
        (
            F.floor(
                F.col("se").cast("double") / F.col("n") / 100.0 * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mae"),
        F.row_number().over(wr).cast("int").alias("rnk"),
    )


#: Poisson bootstrap: replicate count, hash seed, and the Poisson(1)
#: CDF thresholds (computed once from math.exp at definition time,
#: inlined as INTEGER literals in both engines — the weight draw is
#: pure integer compares, no libm anywhere at query time).
_BOOT_B = 100
_BOOT_SEED = 11

#: Counter-based replicate randomness (re-planned round 11).  The
#: original draw hashed every (row, replicate) pair — measured at
#: sf0.1: the md5+conv chain was 22.5s of a 26s pass, 86% of the
#: whole bootstrap.  The replacement is the standard counter-based
#: construction: ONE strong seed hash per row (portable 60-bit MD5,
#: reduced into [1, M-1]), then replicate b's uniform is a Lehmer
#: (Park–Miller minimal standard, M=2^31−1, A=48271) skip-ahead
#: u_b = seed·A^(b+1) mod M with the A^(b+1) multipliers precomputed
#: at definition time as INTEGER literals — per exploded row the
#: draw is one multiply (≤2^62, BIGINT-safe in both engines' ANSI
#: mode) + one mod + 8 threshold compares.  Statistical contract
#: unchanged: seeds are independent across rows; within a row the
#: B draws are a seeded Lehmer stream (the classic minimal-standard
#: generator); boot_se is re-validated against the analytic SE in
#: tests/test_round11_ops.py.
_BOOT_M = 2147483647
_BOOT_A = 48271
_BOOT_POWA = tuple(pow(_BOOT_A, b + 1, _BOOT_M) for b in range(_BOOT_B))

#: Poisson(1) CDF thresholds scaled to the Lehmer modulus.
import math as _bmath

_BOOT_CDF_M = tuple(
    int(_bmath.floor(
        sum(_bmath.exp(-1) / _bmath.factorial(j) for j in range(k + 1))
        * _BOOT_M
    ))
    for k in range(8)
)


def _boot_w_sql(u: str) -> str:
    """Poisson(1) weight from a uniform integer on [0, M): the number
    of CDF thresholds at or below it (shared text for both engines —
    integer compares only)."""
    return " + ".join(
        f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_CDF_M
    )


def _boot_powa_sql() -> str:
    """DuckDB literal list of the Lehmer skip-ahead multipliers."""
    return "[" + ", ".join(str(x) for x in _BOOT_POWA) + "]"


@register(
    "order_value_bootstrap_ci",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS vq
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(vq AS DECIMAL(38, 0))) AS sv
        FROM o
    ),
    sd AS (
        SELECT vq,
               {PORTABLE_HASH64_SQL("CAST(o_orderkey AS VARCHAR)", _BOOT_SEED)}
                   % {_BOOT_M - 1} + 1 AS h
        FROM o
    ),
    r AS (
        SELECT b,
               {_boot_w_sql(f"((h * ({_boot_powa_sql()})[b + 1]) % {_BOOT_M})")}
                   AS w,
               vq
        FROM sd, unnest(generate_series(0, {_BOOT_B - 1})) AS g(b)
    ),
    m AS (
        SELECT b, SUM(w) AS sw,
               SUM(w * CAST(vq AS DECIMAL(38, 0))) AS swv
        FROM r GROUP BY 1
    ),
    mb AS (
        SELECT b,
               CAST(swv AS DOUBLE) / sw AS mean_b,
               CAST(FLOOR(CAST(swv AS DOUBLE) / sw) AS BIGINT) AS mq,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(swv AS DOUBLE) / sw, b
               ) AS rnk
        FROM m
    ),
    ci AS (
        SELECT COUNT(*) AS nb,
               SUM(CAST(mq AS DECIMAL(38, 0))) AS s1,
               SUM(CAST(mq AS DECIMAL(19, 0))
                   * CAST(mq AS DECIMAL(19, 0))) AS s2,
               MAX(CASE WHEN rnk = {int(_BOOT_B * 0.025) + 1}
                        THEN mean_b END) AS lo,
               MAX(CASE WHEN rnk = {int(_BOOT_B * 0.975)}
                        THEN mean_b END) AS hi
        FROM mb
    )
    SELECT pt.n_orders,
           CAST(ci.nb AS BIGINT) AS n_replicates,
           FLOOR(CAST(pt.sv AS DOUBLE) / pt.n_orders / 100.0
                 * 10000.0 + 0.5) / 10000.0 AS mean_value,
           FLOOR(SQRT(CAST(ci.nb * ci.s2 - ci.s1 * ci.s1 AS DOUBLE)
                      / (CAST(ci.nb AS DOUBLE) * CAST(ci.nb AS DOUBLE)))
                 / 100.0 * 10000.0 + 0.5) / 10000.0 AS boot_se,
           FLOOR(ci.lo / 100.0 * 10000.0 + 0.5) / 10000.0 AS ci_lo,
           FLOOR(ci.hi / 100.0 * 10000.0 + 0.5) / 10000.0 AS ci_hi
    FROM pt CROSS JOIN ci
    """,
)
def order_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value
    — resampling inference done the way it scales (Chamandy et al.,
    Google 2012): instead of materializing B resamples, every row
    draws an independent Poisson(1) multiplicity PER REPLICATE from
    the portable hash, so the whole bootstrap is ONE map-side explode
    feeding B partial sums — no sort, no driver-side resampling, and
    at 100 TB each replicate's sums ride the same single shuffle.
    Emits the point mean, the bootstrap SE, and the percentile 95% CI
    — the uncertainty band every KPI dashboard should carry and
    almost none do ([[robust_order_value_stats]] gives the robust
    location; this gives the sampling error of the headline mean).

    Determinism: one portable 60-bit MD5 seed per row, replicate
    uniforms via Lehmer skip-ahead against definition-time INTEGER
    multipliers and CDF thresholds (see _BOOT_POWA — the md5-per-
    (row, replicate) form this replaced spent 86% of the pass in
    hashing) — pure integer multiply/mod/compares, no libm;
    replicate sums are exact DECIMAL; each replicate mean is one
    fixed IEEE divide, ranked with b-tiebreak so both engines elect
    identical CI order statistics; the SE runs on floor-quantized
    replicate means in exact integer arithmetic.

    Scale shape: explode ×{b} inside whole-stage codegen (never
    materialized), one hash aggregate keyed by replicate id (map-side
    combine collapses each partition to {b} rows), then a {b}-row
    window.  The statistic's data pass is identical in shape to a
    plain aggregate — the bootstrap costs a constant factor, not a
    new plan."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100.0).cast("bigint").alias("vq"),
        )
    )
    pt = o.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("vq").cast("decimal(38,0)")).alias("sv"),
    )
    # r13 optimization: the orders scan is ONE partition at bench
    # scale (a <128 MB parquet file), and without a shuffle below it
    # the seed hash + xB explode + partial aggregation all ran in a
    # single task (measured: the whole 15M-row explode single-
    # threaded).  spread() parallelizes the replicate pipeline and is
    # a no-op at 100 TB where the scan already has >= cluster-width
    # partitions (guide §2.5 input skew / §1.2 step 1).
    sd = spread(o).select(
        "vq",
        (
            portable_hash64(
                F.col("o_orderkey").cast("string"), seed=_BOOT_SEED
            )
            % (_BOOT_M - 1)
            + 1
        ).alias("h"),
    )
    # Whole-stage-codegen discipline: the (b, A^(b+1)) pairs explode
    # as a literal struct array (one allocation per ORDER row, not
    # per replicate row), u is projected ONCE, and the threshold
    # ladder is a plain CASE chain — higher-order array functions
    # here measured 2.8x slower (interpreted, per-row allocations).
    pa = F.array(
        *[
            F.struct(F.lit(b).alias("b"), F.lit(x).alias("pa"))
            for b, x in enumerate(_BOOT_POWA)
        ]
    )
    r = (
        sd.select("vq", "h", F.explode(pa).alias("s"))
        .select(
            F.col("s.b").alias("b"),
            "vq",
            ((F.col("h") * F.col("s.pa")) % _BOOT_M).alias("u"),
        )
        .select("b", "vq", F.expr(_boot_w_sql("u")).alias("w"))
    )
    m = r.groupBy("b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("vq").cast("decimal(38,0)")).alias("swv"),
    )
    mean_b = F.col("swv").cast("double") / F.col("sw")
    wr = Window.orderBy(mean_b, "b")
    mb = m.select(
        mean_b.alias("mean_b"),
        F.floor(mean_b).cast("bigint").alias("mq"),
        F.row_number().over(wr).alias("rnk"),
    )
    ci = mb.agg(
        F.count("*").alias("nb"),
        F.sum(F.col("mq").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("mq").cast("decimal(19,0)") * F.col("mq").cast("decimal(19,0)")
        ).alias("s2"),
        F.max(
            F.when(F.col("rnk") == int(_BOOT_B * 0.025) + 1, F.col("mean_b"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rnk") == int(_BOOT_B * 0.975), F.col("mean_b"))
        ).alias("hi"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        F.col("nb").cast("bigint").alias("n_replicates"),
        (
            F.floor(
                F.col("sv").cast("double") / F.col("n_orders") / 100.0
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mean_value"),
        (
            F.floor(
                F.sqrt(
                    F.expr(
                        "CAST(nb * s2 - s1 * s1 AS DOUBLE)"
                        " / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE))"
                    )
                )
                / 100.0
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("boot_se"),
        (F.floor(F.col("lo") / 100.0 * 10000.0 + 0.5) / 10000.0).alias("ci_lo"),
        (F.floor(F.col("hi") / 100.0 * 10000.0 + 0.5) / 10000.0).alias("ci_hi"),
    )


order_value_bootstrap_ci.__doc__ = order_value_bootstrap_ci.__doc__.format(
    b=_BOOT_B
)


#: Two-sided normal z for the 95% distribution-free median CI (a
#: definition-time literal, no libm at query time).
_MED_CI_Z = 1.959964


@register(
    "order_value_median_ci",
    oracle=f"""
    WITH v AS (
        SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS v, o_orderkey
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    r AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM v
    ),
    k AS (
        SELECT *,
               GREATEST(1, CAST(FLOOR((n - {_MED_CI_Z} * SQRT(CAST(n AS DOUBLE)))
                                      / 2) AS BIGINT)) AS lo_rank,
               LEAST(n, CAST(CEIL((n + {_MED_CI_Z} * SQRT(CAST(n AS DOUBLE)))
                                  / 2) AS BIGINT) + 1) AS hi_rank,
               (n + 1) // 2 AS med_lo_rank,
               (n + 2) // 2 AS med_hi_rank
        FROM r
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN rn = med_lo_rank THEN v END) AS DOUBLE)
               AS median_lo,
           CAST(MIN(CASE WHEN rn = med_hi_rank THEN v END) AS DOUBLE)
               AS median_hi,
           CAST(MIN(CASE WHEN rn = lo_rank THEN v END) AS DOUBLE) AS ci_lo,
           CAST(MIN(CASE WHEN rn = hi_rank THEN v END) AS DOUBLE) AS ci_hi,
           CAST(MAX(lo_rank) AS BIGINT) AS lo_rank,
           CAST(MAX(hi_rank) AS BIGINT) AS hi_rank
    FROM k
    """,
)
def order_value_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN order
    value via binomial order statistics (the classic nonparametric
    interval: ranks n/2 ± z·√n/2 of the sorted sample bracket the
    median with ≥95% coverage, no distributional assumption) — the
    median-side sibling of [[order_value_bootstrap_ci]]'s mean-side
    Poisson bootstrap: zero resampling, one pair of exact order
    statistics.  Measured signal (r11, sf0.01): CI [247569.51,
    255563.69] around median 251482.09 — a ±1.6% interval the
    bootstrap cannot produce for a quantile without nested
    resampling.

    Determinism: ranks come from the exact total order (value,
    orderkey); the rank FORMULA is one fixed IEEE chain (√n correctly
    rounded, one multiply by a definition-time z literal, floor/ceil)
    identical in both engines; the four emitted values are exact
    DECIMAL order statistics — no float quantiles anywhere.

    Scale shape: the global ROW_NUMBER routes through
    :func:`functions.ranking.ranked` (sampled-cut-point chunks +
    broadcast offsets — no single-task sort at any order count); the
    four rank picks collapse via one conditional hash aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_totalprice").cast("decimal(12,2)").alias("v"), "o_orderkey"
    )

    # One set of rank Columns over ranked_select's group total drives
    # both the chunk selection and the picks below, so the two can
    # never disagree.
    n = F.col("n_rows")
    nd = n.cast("double")
    ranks = {
        "med_lo_rank": (((n + 1) - (n + 1) % 2) / 2).cast("bigint"),
        "med_hi_rank": (((n + 2) - (n + 2) % 2) / 2).cast("bigint"),
        "lo_rank": F.greatest(
            F.lit(1).cast("bigint"),
            F.floor((nd - _MED_CI_Z * F.sqrt(nd)) / 2).cast("bigint"),
        ),
        "hi_rank": F.least(
            n,
            F.ceil((nd + _MED_CI_Z * F.sqrt(nd)) / 2).cast("bigint") + 1,
        ),
    }
    # r14 optimization: the consumer keeps only FOUR order statistics,
    # so route through ranked_select — the chunk-count pass locates
    # the target ranks and only the chunks containing them are sorted
    # (bit-identical rows to ranked()+filter; see ranking.py).
    r = ranked_select(
        o,
        [("v", "asc"), ("o_orderkey", "asc")],
        lambda _n: F.array(*ranks.values()),
    )
    k = r.select(
        "v", "rn", n.alias("n"), *(c.alias(a) for a, c in ranks.items())
    )
    return k.agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("rn") == F.col("med_lo_rank"), F.col("v")))
        .cast("double")
        .alias("median_lo"),
        F.min(F.when(F.col("rn") == F.col("med_hi_rank"), F.col("v")))
        .cast("double")
        .alias("median_hi"),
        F.min(F.when(F.col("rn") == F.col("lo_rank"), F.col("v")))
        .cast("double")
        .alias("ci_lo"),
        F.min(F.when(F.col("rn") == F.col("hi_rank"), F.col("v")))
        .cast("double")
        .alias("ci_hi"),
        F.max("lo_rank").cast("bigint").alias("lo_rank"),
        F.max("hi_rank").cast("bigint").alias("hi_rank"),
    )


#: Split-conformal configuration: hash-split buckets (train < 60,
#: calibrate < 80, else test), miscoverage α = 0.1, own hash seed.
_CONF_SEED = 9500
_CONF_TRAIN_END = 60
_CONF_CAL_END = 80
_CONF_ALPHA = 0.1


@register(
    "order_value_conformal_interval",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority AS prio,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS vc,
               {PORTABLE_HASH64_SQL("CAST(o_orderkey AS VARCHAR)", _CONF_SEED)}
                   % 100 AS b
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    tr AS (
        SELECT prio, SUM(vc) // COUNT(*) AS pred,
               CAST(COUNT(*) AS BIGINT) AS n_train
        FROM o WHERE b < {_CONF_TRAIN_END} GROUP BY 1
    ),
    cal AS (
        SELECT o.prio, ABS(o.vc - tr.pred) AS r
        FROM o JOIN tr USING (prio)
        WHERE b >= {_CONF_TRAIN_END} AND b < {_CONF_CAL_END}
    ),
    qh AS (
        SELECT prio, r AS qhat, n AS n_cal FROM (
            SELECT prio, r,
                   ROW_NUMBER() OVER (PARTITION BY prio ORDER BY r) AS rn,
                   COUNT(*) OVER (PARTITION BY prio) AS n
            FROM cal)
        WHERE rn = CAST(CEIL((n + 1) * {1 - _CONF_ALPHA}) AS BIGINT)
    ),
    test AS (
        SELECT o.prio, CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN ABS(o.vc - tr.pred) <= q.qhat
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM o JOIN tr USING (prio) JOIN qh q USING (prio)
        WHERE b >= {_CONF_CAL_END} GROUP BY 1
    )
    SELECT t.prio, tr.n_train,
           ROUND(CAST(tr.pred AS DOUBLE) / 100, 2) AS pred,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           ROUND(CAST(q.qhat AS DOUBLE) / 100, 2) AS qhat,
           t.n_test, t.n_covered,
           ROUND(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) AS coverage
    FROM test t JOIN tr USING (prio) JOIN qh q USING (prio)
    """,
)
def order_value_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian split-conformal prediction intervals with a coverage
    audit (Vovk's conformal prediction; Lei et al. 2018 split form) —
    the distribution-free uncertainty-quantification step a serving
    pipeline wraps around ANY point model: hash-split the orders
    60/20/20, fit the trivial per-priority mean on train, take the
    ceil((n+1)(1−α)) smallest absolute calibration residual as the
    interval half-width q̂, and report REALIZED test coverage per
    group.  The guarantee (coverage ≥ 1−α in expectation, per group
    under the Mondrian split) holds regardless of how bad the model
    is — which is the point: the audit certifies the INTERVAL
    machinery, not the model.  Measured signal (r11, sf0.01):
    realized coverage 0.897–0.926 per priority at nominal 0.90 —
    textbook finite-sample behavior.

    Determinism: hash-of-key split (portable 60-bit MD5); the model
    prediction is exact integer-cents division (SUM//COUNT); the q̂
    pick is an exact order statistic at the ceil((n+1)·0.9) rank —
    one fixed double product per group, both engines; coverage is an
    exact count ratio with one IEEE divide at emission.

    Scale shape: split and residuals are map-side against a
    broadcast |groups|-row model; the calibration rank pick routes
    through :func:`functions.ranking.ranked` (group-keyed chunks —
    no single-task sort even within one giant group); the audit
    collapses to |groups| rows in one hash aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        (
            portable_hash64(
                F.col("o_orderkey").cast("string"), seed=_CONF_SEED
            )
            % 100
        ).alias("b"),
    )
    s = F.col("s")
    n = F.col("n_train")
    tr = (
        o.filter(F.col("b") < _CONF_TRAIN_END)
        .groupBy("prio")
        .agg(
            F.sum("vc").alias("s"),
            F.count("*").cast("bigint").alias("n_train"),
        )
        .select(
            "prio",
            "n_train",
            # pmod-based floor division: matches the oracle's `//`
            # (which FLOORS) even for negative sums — Spark `%`
            # truncates toward zero and would diverge by 1 there.
            ((s - F.pmod(s, n)) / n).cast("bigint").alias("pred"),
        )
    )
    cal = (
        o.filter(
            (F.col("b") >= _CONF_TRAIN_END) & (F.col("b") < _CONF_CAL_END)
        )
        .join(F.broadcast(tr), "prio")
        .select("prio", F.abs(F.col("vc") - F.col("pred")).alias("r"))
    )
    # r14 optimization: only ONE order statistic per prio group is
    # consumed (the conformal quantile rank) — ranked_select sorts
    # just the chunk containing it per group (bit-identical row to
    # ranked()+filter).
    qh = ranked_select(
        cal,
        [("r", "asc")],
        lambda n: F.array(
            F.ceil((n + 1) * (1 - _CONF_ALPHA)).cast("bigint")
        ),
        group_cols=["prio"],
        n_col="n_cal",
    ).select("prio", F.col("r").alias("qhat"), "n_cal")
    test = (
        o.filter(F.col("b") >= _CONF_CAL_END)
        .join(F.broadcast(tr), "prio")
        .join(F.broadcast(qh), "prio")
        .groupBy("prio")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("vc") - F.col("pred")) <= F.col("qhat"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        test.join(F.broadcast(tr), "prio")
        .join(F.broadcast(qh), "prio")
        .select(
            "prio",
            "n_train",
            F.round(F.col("pred").cast("double") / 100, 2).alias("pred"),
            F.col("n_cal").cast("bigint").alias("n_cal"),
            F.round(F.col("qhat").cast("double") / 100, 2).alias("qhat"),
            "n_test",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage"),
        )
    )


#: Hill-estimator tail sample: top-k exceedances (k=200 keeps the
#: smallest scale's 1000 positive values comfortably above k, and the
#: estimator's variance γ/√k already below 10%).
_HILL_K = 200


@register(
    "event_value_hill_tail_index",
    oracle=f"""
    WITH v AS (
        SELECT value, event_id FROM events
        WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0
    ),
    top AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn
        FROM v
        ORDER BY value DESC, event_id
        LIMIT {_HILL_K + 1}
    ),
    lq AS (
        SELECT rn, CAST(FLOOR(ln(value) * 1000000.0) AS BIGINT) AS lnq,
               value
        FROM top
    ),
    g AS (
        SELECT SUM(CASE WHEN rn <= {_HILL_K} THEN lnq ELSE 0 END) AS s,
               MAX(CASE WHEN rn = {_HILL_K + 1} THEN lnq END) AS lk,
               MAX(CASE WHEN rn = {_HILL_K + 1} THEN value END) AS xk
        FROM lq
    )
    SELECT {_HILL_K} AS n_tail,
           CAST(xk AS DOUBLE) AS threshold,
           ROUND(CAST(s - {_HILL_K} * lk AS DOUBLE)
                 / ({_HILL_K} * 1000000.0), 6) AS hill_gamma,
           ROUND({_HILL_K} * 1000000.0
                 / NULLIF(CAST(s - {_HILL_K} * lk AS DOUBLE), 0.0),
                 6) AS hill_alpha,
           ROUND(CAST(s - {_HILL_K} * lk AS DOUBLE) / ({_HILL_K} * 1000000.0)
                 * (1 - 1.959964 / sqrt({_HILL_K}.0)), 6) AS gamma_ci_lo,
           ROUND(CAST(s - {_HILL_K} * lk AS DOUBLE) / ({_HILL_K} * 1000000.0)
                 * (1 + 1.959964 / sqrt({_HILL_K}.0)), 6) AS gamma_ci_hi
    FROM g
    """,
)
def event_value_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index (Hill
    1975; the extreme-value-theory screen behind every "is this
    metric heavy-tailed enough to break mean-based monitoring?"
    decision): γ̂ = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order
    statistics, with α = 1/γ and the asymptotic 95% band γ(1 ±
    z/√k).  α ≲ 2 means infinite variance (means/CIs meaningless —
    switch to medians, cf [[order_value_median_ci]]); measured here
    (r11, sf0.01): γ̂ = 0.263, α ≈ 3.8 — moderately heavy but
    variance-finite, mean-based monitors are safe on this corpus.

    Determinism: the tail set is the exact (value DESC, event_id)
    top-(k+1); each log is the house 1e-6 floor-quantized ladder
    summed as BIGINT, so γ̂ is one IEEE divide of exact integers; the
    CI multiplies by definition-time constants.

    Scale shape: one TakeOrderedAndProject for k+1 rows (never a
    global sort), then a one-row aggregate — the plan any corpus
    size compiles to."""
    v = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.col("value") > 0)
    ).select("value", "event_id")
    top = v.orderBy(F.col("value").desc(), F.col("event_id")).limit(
        _HILL_K + 1
    )
    w = Window.orderBy(F.col("value").desc(), F.col("event_id"))
    lq = top.select(
        F.row_number().over(w).alias("rn"),
        F.floor(F.log("value") * 1000000.0).cast("bigint").alias("lnq"),
        "value",
    )
    g = lq.agg(
        F.sum(F.when(F.col("rn") <= _HILL_K, F.col("lnq")).otherwise(0)).alias(
            "s"
        ),
        F.max(F.when(F.col("rn") == _HILL_K + 1, F.col("lnq"))).alias("lk"),
        F.max(F.when(F.col("rn") == _HILL_K + 1, F.col("value"))).alias("xk"),
    )
    num = (F.col("s") - _HILL_K * F.col("lk")).cast("double")
    gamma = num / (_HILL_K * 1000000.0)
    import math as _math

    half = 1.959964 / _math.sqrt(float(_HILL_K))
    return g.select(
        F.lit(_HILL_K).alias("n_tail"),
        F.col("xk").cast("double").alias("threshold"),
        F.round(gamma, 6).alias("hill_gamma"),
        # NULL for the degenerate all-equal tail (num = 0): matches
        # the oracle's NULLIF instead of Spark Infinity vs a DuckDB
        # div-by-zero (ADVICE r11).
        F.round(
            F.when(num != 0, (_HILL_K * 1000000.0) / num), 6
        ).alias("hill_alpha"),
        F.round(gamma * (1 - half), 6).alias("gamma_ci_lo"),
        F.round(gamma * (1 + half), 6).alias("gamma_ci_hi"),
    )


#: Embeddedness works on the pair census's native >=2 support (the
#: triangle census's >=3 leaves no triangles at sf0.01 - measured:
#: every edge a bridge, a one-row degenerate histogram).
_EMB_MIN_SUPPORT = 2


@register(
    "cobuy_edge_embeddedness",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    e AS (
        SELECT a.item_id AS a, b.item_id AS b
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_EMB_MIN_SUPPORT}
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    es AS (
        SELECT a, b FROM tri
        UNION ALL SELECT a, c AS b FROM tri
        UNION ALL SELECT b AS a, c AS b FROM tri
    ),
    sup AS (
        SELECT e.a, e.b, CAST(COUNT(es.a) AS BIGINT) AS s
        FROM e LEFT JOIN es ON es.a = e.a AND es.b = e.b
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM sup)
    SELECT CAST(s.s AS BIGINT) AS embeddedness,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(t.n_edges), 6)
               AS edge_share,
           s.s = 0 AS is_bridge
    FROM sup s CROSS JOIN tot t
    GROUP BY s.s
    """,
)
def cobuy_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-embeddedness census of the co-purchase graph: for every
    support-thresholded edge, the number of triangles it closes
    (its common-neighbor count), rolled into a histogram with the
    structural-BRIDGE share — the edge-level sibling of
    [[item_triangle_census]]'s vertex view and the quantity
    community-detection pipelines threshold on (Granovetter: embedded
    edges are strong ties inside communities, zero-support bridges
    are the weak ties BETWEEN them — cutting them is the classic
    pre-clustering step [[item_label_propagation]] benefits from).
    Measured signal (r11, sf0.01): 3,264 of 3,445 edges (94.7%) are
    bridges, 181 edges carry all triangle structure — the co-buy
    graph is bridge-dominated, so embeddedness-thresholding would
    shrink it 19× before any community pass.

    Determinism: edge list and triangle orientation are the shared
    a<b<c discipline; supports and the histogram are exact integers;
    one IEEE share divide at emission.

    Scale shape: reuses the memoized pair census; ONE oriented wedge
    join + closing semi-equi-join (Σ out-deg² work, low→high-id
    orientation caps out-degree — identical cost envelope to the
    triangle census); the per-edge support aggregate and final
    histogram are hash aggregates over the edge frame."""
    e = (
        cobuy_pair_census(spark, sf_dir)
        .filter(F.col("n_ab") >= _EMB_MIN_SUPPORT)
        .select("a", "b")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
            "left_semi",
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    es = (
        tri.select("a", "b")
        .unionAll(tri.select("a", F.col("c").alias("b")))
        .unionAll(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
    )
    sup = (
        e.join(
            es.groupBy("a", "b").agg(F.count("*").alias("s")),
            ["a", "b"],
            "left",
        )
        .select(F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("s"))
    )
    tot = sup.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        sup.crossJoin(F.broadcast(tot))
        .groupBy(F.col("s").alias("embeddedness"))
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.round(
                F.count("*").cast("double") / F.max("n_edges"), 6
            ).alias("edge_share"),
            (F.first("s") == 0).alias("is_bridge"),
        )
        .select(
            F.col("embeddedness").cast("bigint"),
            "n_edges",
            "edge_share",
            "is_bridge",
        )
    )


#: Theil–Sen: two-sided 95% normal quantile for Sen's rank-based
#: slope CI (definition-time constant, the z the bootstrap/conformal
#: family already uses).
_TS_Z = 1.959964


@register(
    "daily_revenue_theil_sen",
    oracle=f"""
    WITH d AS (
        SELECT CAST(date_trunc('day', CAST(o_orderdate AS DATE)) AS DATE)
                   AS day,
               SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS revc
        FROM orders GROUP BY 1
    ),
    idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, revc FROM d),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM idx),
    p AS (
        SELECT (b.revc - a.revc) / CAST(b.t - a.t AS DOUBLE) AS slope,
               a.t * 1000000 + b.t AS pair_id
        FROM idx a JOIN idx b ON b.t > a.t
    ),
    r AS (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope, pair_id) AS rn,
               COUNT(*) OVER () AS np
        FROM p
    ),
    k AS (
        SELECT nd.n_days,
               {_TS_Z} * sqrt(nd.n_days * (nd.n_days - 1.0)
                              * (2.0 * nd.n_days + 5.0) / 18.0) AS c
        FROM nd
    ),
    s AS (
        SELECT MAX(r.np) AS np, MAX(k.n_days) AS n_days,
               AVG(CASE WHEN r.rn = (r.np + 1) // 2
                          OR r.rn = r.np // 2 + 1
                        THEN r.slope END) AS med,
               MAX(CASE WHEN r.rn = GREATEST(1,
                        CAST(FLOOR((r.np - k.c) / 2) AS BIGINT))
                        THEN r.slope END) AS lo,
               MAX(CASE WHEN r.rn = LEAST(r.np,
                        CAST(CEIL((r.np + k.c) / 2) AS BIGINT) + 1)
                        THEN r.slope END) AS hi
        FROM r CROSS JOIN k
    )
    SELECT n_days,
           CAST(np AS BIGINT) AS n_pairs,
           FLOOR(med / 100.0 * 1000000.0 + 0.5) / 1000000.0
               AS ts_slope_per_day,
           FLOOR(lo / 100.0 * 1000000.0 + 0.5) / 1000000.0
               AS slope_ci_lo,
           FLOOR(hi / 100.0 * 1000000.0 + 0.5) / 1000000.0
               AS slope_ci_hi
    FROM s
    """,
)
def daily_revenue_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the exact MEDIAN of
    all pairwise slopes (revc_j − revc_i)/(t_j − t_i) over the day
    index, with Sen's (1968) rank-based 95% CI — the
    outlier-immune companion to [[revenue_trend_regression]]'s OLS
    (breakdown point 29% vs 0%: one fat-fingered refund day whips an
    OLS slope; the pairwise median shrugs).  Measured signal (r12,
    sf0.01): TS slope $34.05/day vs OLS $34.57/day over 2,876,401
    exact pairwise slopes — the two agree on this stationary
    generator, so the value here is the CI (which brackets both) and
    the guarantee, not a different verdict.

    Determinism: daily revenue quantizes to exact cents; each slope
    is ONE IEEE divide of exact integers (bit-identical both
    engines); the median/CI are order STATISTICS elected by exact
    rank over the total (slope, pair_id) order — the even-n median
    averages two doubles, a commutative two-term sum; emission uses
    the sign-safe floor ladder (slopes can be negative).

    Scale shape: the day frame is CALENDAR-bounded (~2.4k rows at
    any corpus size — time spans grow with history, not volume), so
    the pairwise self-join is dimension-bounded at |days|²/2 ≈ 2.9M
    slim rows; the median rank runs through
    :func:`functions.ranking.ranked` (chunked, no single-task sort
    of the pair frame); everything else is two scalar aggregates.
    Cites reference scripts/drift_detection.py's monitoring intent;
    no reference twin — this is the robust-statistics gap-fill."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "revc"
        )
    )
    idx = d.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "revc"
    )
    # 1-row scalar, referenced twice since r14 (ranked_select's CI
    # rank formula + the final aggregate).  Deliberately NOT spooled:
    # a checkpointed 1-row frame becomes a LogicalRDD the plan
    # audit's boundedness walker cannot prove 1-row, flagging the
    # downstream crossJoins; the day-frame aggregate it would save is
    # one cheap pass over the orders groupBy.
    nd = idx.agg(F.count("*").cast("bigint").alias("n_days"))
    # Spread the LEFT side of the pair join BEFORE the nested-loop
    # join (r13): the day frame exits its row_number window in ONE
    # partition, so the join otherwise emits all |days|²/2 pairs from
    # one task and the old post-join repartition then paid a full
    # 2.9M-row shuffle just to undo that.  Spreading the 2.4k-row
    # input instead parallelizes the pair GENERATION and the division
    # across the cluster and removes the pair-sized exchange outright
    # (guide §2.4).
    a = idx.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("t").alias("ta"), F.col("revc").alias("ya")
    )
    b = idx.select(F.col("t").alias("tb"), F.col("revc").alias("yb"))
    # greatest(dt, 1) is a no-op on every surviving pair (tb > ta ⇒
    # dt ≥ 1) but keeps the division total: ranked()'s hash-sample
    # filter references slope, and Catalyst substitutes it through
    # this Project into the JOIN condition, where ANSI mode may
    # evaluate the division before the tb > ta guard (measured:
    # DIVIDE_BY_ZERO at sf0.001 without the clamp).
    # Materialization is ranked()'s own localCheckpoint (r13: the
    # machinery spools its input once for its three plan branches).
    pairs = a.join(F.broadcast(b), F.col("tb") > F.col("ta")).select(
        (
            (F.col("yb") - F.col("ya"))
            / F.greatest(F.col("tb") - F.col("ta"), F.lit(1)).cast(
                "double"
            )
        ).alias("slope"),
        (F.col("ta").cast("bigint") * 1000000 + F.col("tb")).alias(
            "pair_id"
        ),
    )
    c = F.lit(_TS_Z) * F.sqrt(
        F.col("n_days")
        * (F.col("n_days") - F.lit(1.0))
        * (F.lit(2.0) * F.col("n_days") + F.lit(5.0))
        / F.lit(18.0)
    )

    # One set of rank Columns over ranked_select's pair total "np"
    # drives both the chunk selection and the picks below.
    np_ = F.col("np")
    med_lo = F.expr("(np + 1) div 2")
    med_hi = F.expr("np div 2 + 1")
    k_lo = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor((np_ - c) / 2).cast("bigint"),
    )
    k_hi = F.least(np_, F.ceil((np_ + c) / 2).cast("bigint") + 1)

    # r14 optimization: only the median pair and Sen's two CI ranks
    # are consumed — ranked_select sorts just the chunks holding
    # those ranks instead of ranking all |days|²/2 slopes (the CI
    # rank formula needs n_days, passed via ``extra``); rows are
    # bit-identical to ranked()+filter.
    r = ranked_select(
        pairs,
        [("slope", "asc"), ("pair_id", "asc")],
        lambda _n: F.array(med_lo, med_hi, k_lo, k_hi),
        rn_col="rn",
        n_col="np",
        extra=nd,
    )
    med_rank = (F.col("rn") == med_lo) | (F.col("rn") == med_hi)
    s = r.crossJoin(F.broadcast(nd)).agg(
        F.max("np").alias("np"),
        F.max("n_days").alias("n_days"),
        F.avg(F.when(med_rank, F.col("slope"))).alias("med"),
        F.max(F.when(F.col("rn") == k_lo, F.col("slope"))).alias("lo"),
        F.max(F.when(F.col("rn") == k_hi, F.col("slope"))).alias("hi"),
    )
    ladder = lambda x: F.floor(x / 100.0 * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return s.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("np").cast("bigint").alias("n_pairs"),
        ladder(F.col("med")).alias("ts_slope_per_day"),
        ladder(F.col("lo")).alias("slope_ci_lo"),
        ladder(F.col("hi")).alias("slope_ci_hi"),
    )


#: HITS power-iteration rounds (fixed, like the PageRank twin:
#: convergence-tolerance stopping would tie the result to float
#: comparison order, so both engines run the same closed form).
_HITS_ITERS = 6


def _hits_iter_sql(i: int) -> str:
    prev = "h0" if i == 1 else f"h{i - 1}"
    return f"""a{i}r AS (
        SELECT e.i, SUM(p.h) AS s FROM e JOIN {prev} p ON p.u = e.u
        GROUP BY 1
    ),
    a{i} AS (
        SELECT i, s / SUM(s) OVER () AS a FROM a{i}r
    ),
    h{i}r AS (
        SELECT e.u, SUM(x.a) AS s FROM e JOIN a{i} x ON x.i = e.i
        GROUP BY 1
    ),
    h{i} AS (
        SELECT u, s / SUM(s) OVER () AS h FROM h{i}r
    )"""


@register(
    "item_hits_authority",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT u, 1.0 AS h FROM e),
    {", ".join(_hits_iter_sql(i) for i in range(1, _HITS_ITERS + 1))},
    deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS in_degree FROM e GROUP BY 1)
    SELECT a.i AS item_id,
           d.in_degree,
           ROUND(a.a * 1000, 6) AS authority_permille
    FROM a{_HITS_ITERS} a JOIN deg d ON d.i = a.i
    """,
)
def item_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores (Kleinberg 1999) over the bipartite
    user→item purchase graph: {_HITS_ITERS} fixed power-iteration
    rounds of a ← Aᵀh, h ← Aa with L1 normalization each half-step —
    the eigenvector-centrality item importance a recommender uses
    when raw popularity over-credits items bought by drive-by users
    (authority weights a purchase by the HUB score of the buyer).
    The degree-weighted counterpoint to [[item_pagerank]] (which
    walks the item co-occurrence projection; HITS stays on the
    bipartite graph itself).  Measured signal (r12, sf0.01): 59,391
    distinct edges, 1,500 users × 2,000 items; Spearman ρ(authority,
    in-degree) = 0.943 with top-20 overlap 16/20 — correlated with
    popularity, as it must be, but reordering a fifth of the head
    (the hub-weighting at work; user-side hub ρ = 0.996 against
    user degree, so the USER side is near-vacuous on this
    homogeneous-user generator and only the item side is emitted).

    Determinism: fixed iteration count and a fixed normalization
    point per half-step — the value is a closed form both engines
    reproduce (the oracle unrolls the same {_HITS_ITERS} rounds as
    chained CTEs); per-node sums are float but ROUND(·, 6dp of
    permille) absorbs association-order noise (the item_pagerank
    precedent, 11 rounds of green hashes).

    Scale shape: the item_pagerank round discipline — the slim
    distinct edge list is cached once; each half-step is one
    broadcast-joinable aggregate (sum over incident edges) plus a
    1-row L1-norm broadcast; ``localCheckpoint`` truncates lineage
    per round so the plan stays O(1) deep at any iteration count;
    nothing is ever sorted."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("u"), "o_orderkey"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("i")
    )
    # localCheckpoint (eager), not cache: checkpoint blocks are freed
    # by the ContextCleaner once the result frame is garbage-collected,
    # whereas an unpersist-less cache() lingered in executor memory for
    # the rest of the session (ADVICE r12 item 2) — and the truncated
    # lineage is what the per-round frames rely on anyway.
    e = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select("u", "i")
        .distinct()
        .localCheckpoint()
    )
    h = e.select("u").distinct().withColumn("h", F.lit(1.0))
    a = None
    # r13 optimization: checkpoint the JOIN+AGG result (ar/hr), not
    # the normalized frame — the norm scalar and the normalized frame
    # both read it, so checkpointing downstream of the division made
    # every half-step execute its join+aggregate TWICE (once for the
    # broadcast-norm job, once for the checkpoint job).  The division
    # is a free projection over the checkpointed aggregate; lineage
    # stays O(1) deep per round exactly as before.
    for it in range(_HITS_ITERS):
        ar = (
            e.join(h, "u")
            .groupBy("i")
            .agg(F.sum("h").alias("s"))
            .localCheckpoint()
        )
        at = ar.agg(F.sum("s").alias("t"))
        a = ar.crossJoin(F.broadcast(at)).select(
            "i", (F.col("s") / F.col("t")).alias("a")
        )
        # the last h half-step is never consumed (the output reads
        # a{N}) — skip its two jobs entirely, as the oracle does.
        if it == _HITS_ITERS - 1:
            break
        hr = (
            e.join(a, "i")
            .groupBy("u")
            .agg(F.sum("a").alias("s"))
            .localCheckpoint()
        )
        ht = hr.agg(F.sum("s").alias("t"))
        h = hr.crossJoin(F.broadcast(ht)).select(
            "u", (F.col("s") / F.col("t")).alias("h")
        )
    deg = e.groupBy("i").agg(F.count("*").cast("bigint").alias("in_degree"))
    return a.join(deg, "i").select(
        F.col("i").alias("item_id"),
        "in_degree",
        F.round(F.col("a") * 1000, 6).alias("authority_permille"),
    )


#: Randomization test: replicate count (reuses the bootstrap Lehmer
#: multipliers — one skip-ahead stream per row), its OWN seed so
#: group relabels are independent of the bootstrap weights, and the
#: two segments under test (chosen for the LARGEST observed mean gap
#: at sf0.01 — still a true null by construction, the textbook
#: negative control).
_PERM_SEED = 23
_PERM_SEGS = ("MACHINERY", "AUTOMOBILE")


@register(
    "order_value_permutation_test",
    oracle=f"""
    WITH base AS MATERIALIZED (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS vq,
               CASE WHEN c_mktsegment = '{_PERM_SEGS[0]}' THEN 1 ELSE 0 END
                   AS g1
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN {_PERM_SEGS!r}
          AND o_totalprice IS NOT NULL
    ),
    obs AS MATERIALIZED (
        SELECT CAST(SUM(g1) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(g1) AS BIGINT) AS n2,
               SUM(CASE WHEN g1 = 1 THEN CAST(vq AS HUGEINT) END) AS s1,
               SUM(CASE WHEN g1 = 0 THEN CAST(vq AS HUGEINT) END) AS s2
        FROM base
    ),
    sd AS MATERIALIZED (
        SELECT vq,
               {PORTABLE_HASH64_SQL("CAST(o_orderkey AS VARCHAR)", _PERM_SEED)}
                   % {_BOOT_M - 1} + 1 AS h
        FROM base
    ),
    m AS MATERIALIZED (
        SELECT t.b AS b,
               CAST(SUM(CASE WHEN ((h * ({_boot_powa_sql()})[t.b + 1])
                                   % {_BOOT_M})
                              < (CAST({_BOOT_M} AS BIGINT) * o.n1)
                                    // (o.n1 + o.n2)
                             THEN 1 ELSE 0 END) AS BIGINT) AS cb1,
               CAST(SUM(CASE WHEN ((h * ({_boot_powa_sql()})[t.b + 1])
                                   % {_BOOT_M})
                              < (CAST({_BOOT_M} AS BIGINT) * o.n1)
                                    // (o.n1 + o.n2)
                             THEN 0 ELSE 1 END) AS BIGINT) AS cb2,
               SUM(CASE WHEN ((h * ({_boot_powa_sql()})[t.b + 1])
                              % {_BOOT_M})
                         < (CAST({_BOOT_M} AS BIGINT) * o.n1)
                               // (o.n1 + o.n2)
                        THEN CAST(vq AS HUGEINT) ELSE 0 END) AS sb1,
               SUM(CASE WHEN ((h * ({_boot_powa_sql()})[t.b + 1])
                              % {_BOOT_M})
                         < (CAST({_BOOT_M} AS BIGINT) * o.n1)
                               // (o.n1 + o.n2)
                        THEN 0 ELSE CAST(vq AS HUGEINT) END) AS sb2
        FROM sd, unnest(generate_series(0, {_BOOT_B - 1})) AS t(b)
             CROSS JOIN obs o
        GROUP BY 1, o.n1, o.n2
    ),
    verdicts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
               CAST(SUM(CASE WHEN abs(m.sb1 * m.cb2 - m.sb2 * m.cb1)
                                  * (CAST(o.n1 AS HUGEINT) * o.n2)
                              >= abs(o.s1 * o.n2 - o.s2 * o.n1)
                                  * (CAST(m.cb1 AS HUGEINT) * m.cb2)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        FROM m CROSS JOIN obs o
    )
    SELECT o.n1 AS n_a, o.n2 AS n_b,
           FLOOR(CAST(o.s1 AS DOUBLE) / o.n1 / 100.0 * 10000.0 + 0.5)
               / 10000.0 AS mean_a,
           FLOOR(CAST(o.s2 AS DOUBLE) / o.n2 / 100.0 * 10000.0 + 0.5)
               / 10000.0 AS mean_b,
           FLOOR((CAST(o.s1 AS DOUBLE) / o.n1
                  - CAST(o.s2 AS DOUBLE) / o.n2) / 100.0 * 10000.0 + 0.5)
               / 10000.0 AS mean_diff,
           v.n_replicates, v.n_extreme,
           FLOOR(CAST(v.n_extreme AS DOUBLE) / v.n_replicates * 10000.0
                 + 0.5) / 10000.0 AS p_value
    FROM obs o CROSS JOIN verdicts v
    """,
)
def order_value_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample randomization test for the mean order-value gap
    between the {seg1} and {seg2} segments: every order is randomly
    relabeled B={b} times (counter-based relabels, group-size
    proportions preserved in expectation) and the two-sided p-value
    is the fraction of relabeled replicates whose mean gap reaches
    the observed one — the assumption-free alternative to the t-test
    ([[order_value_bootstrap_ci]] gives the CI; this gives the
    hypothesis test, and together with [[funnel_conversion_ztest]]
    completes the A/B-test toolkit).  Measured signal: observed gap
    $6,567 on means ≈ $250k at sf0.01 with p = 0.09, and p = 0.67 /
    0.60 at sf0.001 / sf0.1 — the generator's segments are
    exchangeable (a TRUE null), so the test correctly fails to
    reject at alpha = 0.05 at every scale while the near-boundary
    sf0.01 p shows the verdict fold is actually discriminating.

    Determinism: relabels derive from the bootstrap's Lehmer
    skip-ahead stream under a dedicated seed (pure integer
    multiply/mod against definition-time literals — zero libm, zero
    engine PRNG); the relabel threshold is the exact integer
    ``(M * n1) div n``; every replicate verdict compares CROSS-
    MULTIPLIED exact integers (|sb1*cb2 - sb2*cb1| * n1*n2 vs the
    observed-gap numerator times cb1*cb2 — the common-denominator
    idiom, so no replicate verdict ever touches a float); only the
    displayed means/p-value take one IEEE divide each through the
    floor ladder.

    Scale shape: identical to the bootstrap's — one broadcast 1-row
    observed frame into a x{b} codegen explode, one hash aggregate
    keyed by replicate id (map-side combine to {b} rows per
    partition), and a {b}-row verdict fold.  No sort, no window, no
    extra shuffle at any corpus size."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(
            F.col("c_mktsegment").isin(*_PERM_SEGS)
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100.0).cast("bigint").alias("vq"),
            F.when(F.col("c_mktsegment") == _PERM_SEGS[0], 1)
            .otherwise(0)
            .alias("g1"),
        )
    )
    # r13 optimization: the filtered join feeds the observed-stat
    # aggregate AND the xB explode branch — spread then spool once
    # (exact integers — recomputation-identical).  spread() first:
    # the orders scan is one partition at bench scale and the
    # checkpoint preserves partitioning, so unspread the xB explode
    # below ran single-task (no-op at 100 TB scan widths).
    base = spread(base).localCheckpoint()
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    obs = base.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("g1")).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("g1") == 1, dec(F.col("vq")))).alias("s1"),
        F.sum(F.when(F.col("g1") == 0, dec(F.col("vq")))).alias("s2"),
    ).withColumn(
        "thr",
        F.expr(f"CAST(({_BOOT_M} * n1) DIV (n1 + n2) AS BIGINT)"),
    ).withColumn(
        "dobs",
        F.abs(
            F.col("s1") * dec(F.col("n2")) - F.col("s2") * dec(F.col("n1"))
        ),
    )
    sd = base.select(
        "vq",
        (
            portable_hash64(
                F.col("o_orderkey").cast("string"), seed=_PERM_SEED
            )
            % (_BOOT_M - 1)
            + 1
        ).alias("h"),
    )
    pa = F.array(
        *[
            F.struct(F.lit(b).alias("b"), F.lit(x).alias("pa"))
            for b, x in enumerate(_BOOT_POWA)
        ]
    )
    r = (
        sd.crossJoin(F.broadcast(obs.select("thr")))
        .select("vq", "h", "thr", F.explode(pa).alias("s"))
        .select(
            F.col("s.b").alias("b"),
            "vq",
            (((F.col("h") * F.col("s.pa")) % _BOOT_M) < F.col("thr"))
            .cast("int")
            .alias("in1"),
        )
    )
    m = r.groupBy("b").agg(
        F.sum("in1").cast("bigint").alias("cb1"),
        (F.count("*") - F.sum("in1")).cast("bigint").alias("cb2"),
        F.sum(F.when(F.col("in1") == 1, dec(F.col("vq"))).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sb1"),
        F.sum(F.when(F.col("in1") == 0, dec(F.col("vq"))).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sb2"),
    )
    v = (
        m.crossJoin(F.broadcast(obs.select("n1", "n2", "dobs")))
        .select(
            (
                F.abs(
                    F.col("sb1") * dec(F.col("cb2"))
                    - F.col("sb2") * dec(F.col("cb1"))
                )
                * (dec(F.col("n1")) * dec(F.col("n2")))
                >= F.col("dobs")
                * (dec(F.col("cb1")) * dec(F.col("cb2")))
            )
            .cast("int")
            .alias("x")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_replicates"),
            F.sum("x").cast("bigint").alias("n_extreme"),
        )
    )
    emit4 = lambda col: F.floor(col * 10000.0 + 0.5) / 10000.0  # noqa: E731
    mean_a = F.col("s1").cast("double") / F.col("n1") / 100.0
    mean_b = F.col("s2").cast("double") / F.col("n2") / 100.0
    return obs.crossJoin(F.broadcast(v)).select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        emit4(mean_a).alias("mean_a"),
        emit4(mean_b).alias("mean_b"),
        emit4(mean_a - mean_b).alias("mean_diff"),
        "n_replicates",
        "n_extreme",
        emit4(F.col("n_extreme").cast("double") / F.col("n_replicates")).alias(
            "p_value"
        ),
    )


order_value_permutation_test.__doc__ = order_value_permutation_test.__doc__.format(
    seg1=_PERM_SEGS[0], seg2=_PERM_SEGS[1], b=_BOOT_B
)


#: Rank-2 implicit ALS: factor quantization (1e6 units), the ridge
#: term lambda=0.1 in the normal-equation units (1e12 -> 1e11), and
#: the deterministic user-factor init seed.
_ALS_SEED = 37
_ALS_LAMBDA_Q12 = 100_000_000_000  # 0.1 in 1e12 units
_ALS_F_ONE = 1_000_000  # 1.0 in 1e6 factor units


def _als_solve_sql(a11: str, a12: str, a22: str, b1: str, b2: str) -> str:
    """Cramer solve of the 2x2 ridge normal equations with the
    result floor-quantized to 1e6 factor units via sign-split exact
    integer division (identical semantics both engines: DIV/// on
    non-negative operands truncates identically; det > 0 by the
    ridge term).  Returns two comma-separated projections v0q, v1q.
    """
    det = f"({a11} * {a22} - {a12} * {a12})"
    n0 = f"({a22} * {b1} - {a12} * {b2})"
    n1 = f"({a11} * {b2} - {a12} * {b1})"
    # b stays in 1e6 factor units (num lands in 1e18 units), so the
    # 1e12 lift keeps |num|*1e12 inside 38 digits up to ~1e4 ratings
    # per entity AND the quotient (~the 1e6-unit factor) inside
    # BIGINT — Spark's DIV on decimals returns LONG, so the quotient
    # must fit even though the operands are wide.  Truncating
    # division on non-negative operands is bit-identical in both
    # engines; det > 0 by the ridge term.
    return (
        f"CASE WHEN {n0} >= 0 THEN (abs({n0}) * 1000000000000) // {det} "
        f"ELSE -((abs({n0}) * 1000000000000) // {det}) END AS v0q, "
        f"CASE WHEN {n1} >= 0 THEN (abs({n1}) * 1000000000000) // {det} "
        f"ELSE -((abs({n1}) * 1000000000000) // {det}) END AS v1q"
    )


@register(
    "item_implicit_als_epoch",
    oracle=f"""
    WITH r AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS u, l_partkey AS i
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    uf AS MATERIALIZED (
        SELECT u, CAST({_ALS_F_ONE} AS HUGEINT) AS u0q,
               CAST({PORTABLE_HASH64_SQL("CAST(u AS VARCHAR)", _ALS_SEED)}
                    % 1000001 - 500000 AS HUGEINT) AS u1q
        FROM (SELECT DISTINCT u FROM r)
    ),
    vi AS MATERIALIZED (
        SELECT i, {_als_solve_sql(
            f"(SUM(u0q * u0q) + {_ALS_LAMBDA_Q12})",
            "SUM(u0q * u1q)",
            f"(SUM(u1q * u1q) + {_ALS_LAMBDA_Q12})",
            "SUM(u0q)",
            "SUM(u1q)")}
        FROM r JOIN uf USING (u) GROUP BY i
    ),
    uf2 AS MATERIALIZED (
        SELECT u, {_als_solve_sql(
            f"(SUM(v0q * v0q) + {_ALS_LAMBDA_Q12})",
            "SUM(v0q * v1q)",
            f"(SUM(v1q * v1q) + {_ALS_LAMBDA_Q12})",
            "SUM(v0q)",
            "SUM(v1q)")}
        FROM r JOIN vi USING (i) GROUP BY u
    ),
    l1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_interactions,
               SUM((1000000000000 - (uf.u0q * vi.v0q + uf.u1q * vi.v1q))
                   * (1000000000000 - (uf.u0q * vi.v0q + uf.u1q * vi.v1q)))
                   AS sse
        FROM r JOIN uf USING (u) JOIN vi USING (i)
    ),
    l2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_interactions,
               SUM((1000000000000 - (uf2.v0q * vi.v0q + uf2.v1q * vi.v1q))
                   * (1000000000000 - (uf2.v0q * vi.v0q + uf2.v1q * vi.v1q)))
                   AS sse
        FROM r JOIN uf2 USING (u) JOIN vi USING (i)
    ),
    dims AS MATERIALIZED (
        SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items
        FROM r
    )
    SELECT s.stage, d.n_users, d.n_items, s.n_interactions,
           FLOOR(sqrt(CAST(s.sse AS DOUBLE) / 1e24 / s.n_interactions)
                 * 1000000.0 + 0.5) / 1000000.0 AS rmse
    FROM (
        SELECT 'after_item_step' AS stage, * FROM l1
        UNION ALL
        SELECT 'after_epoch', * FROM l2
    ) s CROSS JOIN dims d
    ORDER BY stage
    """,
)
def item_implicit_als_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full epoch of rank-2 implicit-feedback ALS (Hu, Koren &
    Volinsky, ICDM 2008 — unit confidence) over the user x part
    purchase matrix: deterministic user-factor init, the ITEM
    half-step and then the USER half-step each solved in closed form
    per entity (Cramer's rule on the 2x2 ridge normal equations,
    lambda=0.1), reporting RMSE against the implicit target after
    each half-step — distributed matrix factorization done as TWO
    hash aggregates + joins, the collaborative-filtering primitive
    a feature store feeds into every recommender.  Measured signal
    (sf0.01, 59,391 interactions, 1500 users x 2000 parts): RMSE
    0.003471 after the item step -> 0.002836 after the full epoch
    (-18% in one epoch) — each half-step is a block-coordinate
    descent step on the ridge objective and the decrease is the
    solver working; the unit-confidence target on observed entries
    is near-rank-1 (v ~= (1, 0) fits it), so the absolute residual
    is tiny — which is itself the textbook argument for why
    production implicit ALS weights ALL matrix entries
    (c = 1 + alpha*r), not just the observed ones.

    Determinism: user init is (1.0, hash-uniform in [-0.5, 0.5])
    quantized to exact 1e6 integers from the portable hash; every
    normal-equation moment (Σu², Σuv, Σu) is an exact HUGEINT/
    DECIMAL(38,0) sum of integer products — order-free under any
    shuffle; each solve divides exact integers with sign-split
    truncating division (det > 0 by the ridge term, so both engines
    truncate identically) and RE-QUANTIZES the factors to integers,
    so the NEXT half-step again sums exact integers — no float ever
    propagates between steps; the RMSE display is one IEEE
    sqrt-divide over the exact SSE integer.  Exactness bound: the
    solve's |num|*1e12 stays inside DECIMAL(38,0) while an entity
    has <= ~3e3 ratings (TPC-H degrees are scale-invariant at ~40/
    user, ~30/item, far inside); beyond that, rescale the factor
    units (the bloom-advisor 2^53 note pattern).

    Scale shape: the epoch is FOUR keyed hash aggregates (item
    moments, user moments, two loss sums) and the joins that carry
    factors to them — no windows, no sorts, no driver-side linear
    algebra; factors live in (entity, 2-int) frames that shuffle
    once per half-step.  Rank-2 keeps the solve closed-form; higher
    rank d swaps Cramer for a d x d solve inside the same plan
    shape (documented, not built — the oracle would need matrix
    inversion SQL)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("u"), "o_orderkey"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("i")
    )
    r = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select("u", "i")
        .distinct()
        .localCheckpoint()
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    uf = r.select("u").distinct().select(
        "u",
        F.lit(_ALS_F_ONE).cast("decimal(38,0)").alias("u0q"),
        dec(
            portable_hash64(F.col("u").cast("string"), seed=_ALS_SEED)
            % 1000001
            - 500000
        ).alias("u1q"),
    )

    def solve(df, key, f0, f1):
        lam = F.lit(_ALS_LAMBDA_Q12).cast("decimal(38,0)")
        m = df.groupBy(key).agg(
            (F.sum(F.col(f0) * F.col(f0)) + lam).alias("a11"),
            F.sum(F.col(f0) * F.col(f1)).alias("a12"),
            (F.sum(F.col(f1) * F.col(f1)) + lam).alias("a22"),
            F.sum(f0).alias("b1"),
            F.sum(f1).alias("b2"),
        )
        det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
        n0 = F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2")
        n1 = F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")
        # Spark's DIV (IntegralDivide) accepts decimals and returns
        # LONG; see _als_solve_sql for the det down-shift rationale.
        m = (
            m.withColumn("_n0", n0)
            .withColumn("_n1", n1)
            .withColumn("_det", det)
        )
        v0 = F.when(
            F.col("_n0") >= 0,
            F.expr("(abs(_n0) * 1000000000000) DIV _det"),
        ).otherwise(-F.expr("(abs(_n0) * 1000000000000) DIV _det"))
        v1 = F.when(
            F.col("_n1") >= 0,
            F.expr("(abs(_n1) * 1000000000000) DIV _det"),
        ).otherwise(-F.expr("(abs(_n1) * 1000000000000) DIV _det"))
        return m.select(
            key, dec(v0).alias("v0q"), dec(v1).alias("v1q")
        )

    # r13 optimization: checkpoint the factor frames — vi feeds THREE
    # plan branches (the user half-step, both loss sums) and uf2 one
    # more, so the lazy form re-ran the solve's join+aggregate three
    # times per epoch.  The factors are (entity, 2 ints) frames; the
    # exact-integer solve makes the spooled values bit-identical to
    # any recomputation.
    vi = solve(r.join(uf, "u"), "i", "u0q", "u1q").localCheckpoint()
    uf2 = (
        solve(r.join(vi, "i"), "u", "v0q", "v1q")
        .withColumnRenamed("v0q", "w0q")
        .withColumnRenamed("v1q", "w1q")
        .localCheckpoint()
    )

    one = F.lit(10**12).cast("decimal(38,0)")

    # r14 optimization: the two loss sums ran as TWO separate
    # join+aggregate passes over the interaction frame (after_item
    # with the init factors, after_epoch with the updated ones).
    # Both factor frames are (entity, 2 ints) — join them BOTH onto
    # the checkpointed interactions once and fold both squared-error
    # sums in a single aggregate.  The sums are exact DECIMAL(38,0)
    # integers (order-free), so the fused pass is value-identical;
    # the two report rows are then unpacked from the 1-row aggregate
    # via a bounded explode.
    e1 = one - (F.col("u0q") * F.col("v0q") + F.col("u1q") * F.col("v1q"))
    e2 = one - (F.col("w0q") * F.col("v0q") + F.col("w1q") * F.col("v1q"))
    both = (
        r.join(uf, "u")
        .join(uf2, "u")
        .join(vi, "i")
        .agg(
            F.count("*").cast("bigint").alias("n_interactions"),
            F.sum(e1 * e1).alias("sse1"),
            F.sum(e2 * e2).alias("sse2"),
        )
    )
    stages = both.select(
        "n_interactions",
        F.explode(
            F.array(
                F.struct(
                    F.lit("after_item_step").alias("stage"),
                    F.col("sse1").alias("sse"),
                ),
                F.struct(
                    F.lit("after_epoch").alias("stage"),
                    F.col("sse2").alias("sse"),
                ),
            )
        ).alias("s"),
    ).select(
        F.col("s.stage").alias("stage"),
        "n_interactions",
        F.col("s.sse").alias("sse"),
    )
    dims = r.agg(
        F.countDistinct("u").cast("bigint").alias("n_users"),
        F.countDistinct("i").cast("bigint").alias("n_items"),
    )
    out = stages.crossJoin(F.broadcast(dims))
    return out.select(
        "stage",
        "n_users",
        "n_items",
        "n_interactions",
        (
            F.floor(
                F.sqrt(
                    F.col("sse").cast("double")
                    / 1e24
                    / F.col("n_interactions")
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("rmse"),
    ).orderBy("stage")


#: Item-item neighbor lists: top-k co-buy Jaccard neighbors per item
#: and the pair-support floor shared with the census.
_IJ_TOPK = 3
_IJ_MIN_SUPPORT = 2


@register(
    "item_cobuy_jaccard_topk",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS order_id, l_partkey AS item_id
        FROM lineitem
    ),
    cnt AS MATERIALIZED (
        SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n FROM basket
        GROUP BY 1
    ),
    e AS MATERIALIZED (
        SELECT a.item_id AS a, b.item_id AS b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM basket a JOIN basket b
          ON a.order_id = b.order_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_IJ_MIN_SUPPORT}
    ),
    sym AS (
        SELECT a AS item_id, b AS neighbor_id, n_ab FROM e
        UNION ALL
        SELECT b, a, n_ab FROM e
    ),
    sc AS (
        SELECT s.item_id, s.neighbor_id, s.n_ab,
               (ca.n + cb.n - s.n_ab) AS n_union,
               FLOOR(CAST(s.n_ab AS DOUBLE) / (ca.n + cb.n - s.n_ab)
                     * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        FROM sym s JOIN cnt ca ON s.item_id = ca.item_id
                   JOIN cnt cb ON s.neighbor_id = cb.item_id
    )
    SELECT item_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
           n_ab AS n_cobuy, n_union, jaccard
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY item_id
                   ORDER BY jaccard DESC, neighbor_id) AS rk
        FROM sc
    )
    WHERE rk <= {_IJ_TOPK}
    ORDER BY item_id, rank
    """,
)
def item_cobuy_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering neighbor lists: for every
    part, its top-{k} co-purchase neighbors by basket Jaccard
    n_ab / (n_a + n_b - n_ab) — the memory-based CF primitive
    (Sarwar et al., WWW'01) that complements the model-based
    [[item_implicit_als_epoch]]: ALS factors generalize, neighbor
    lists explain ("bought together with...").  Support floor
    n_ab >= {s} mirrors the co-buy census.  Measured signal
    (sf0.01): 1,880 of 2,000 items earn neighbor lists (4,698
    neighbor rows); max Jaccard 0.076 with a support-2 floor —
    sparse but far above the ~0.0001 a random-basket null would
    give, real co-buy structure.

    Determinism: supports and union sizes are exact integers; the
    Jaccard is one IEEE divide through the floor ladder, and ranking
    orders by THAT quantized value with the neighbor id tie-break —
    both engines elect identical neighbor lists (the ann_cosine_topk
    discipline).

    Scale shape: the pair census comes from sorted per-order item
    arrays (map-side bounded blocking — never a basket self-join at
    fact scale); per-item basket counts join on the item key; the
    per-item top-{k} is a rank<=k filter DIRECTLY above its
    partitioned window, compiling to WindowGroupLimit (per-input-
    partition heaps before the shuffle, the consistent_sample_
    bottomk plan shape)."""
    basket = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    # r14 (mechanism-2 spool): the per-item basket counts join BOTH
    # sides of the symmetric neighbor frame — unspooled, the lineitem
    # scan + basket distinct + aggregate executed twice.  Slim
    # (item, bigint) frame; exact integers.
    cnt = (
        basket.groupBy("item_id")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()
    )
    census = cobuy_pair_census(spark, sf_dir).filter(
        F.col("n_ab") >= _IJ_MIN_SUPPORT
    )
    sym = census.selectExpr(
        "a AS item_id", "b AS neighbor_id", "n_ab"
    ).unionAll(census.selectExpr("b AS item_id", "a AS neighbor_id", "n_ab"))
    ca = cnt.withColumnRenamed("item_id", "_ia").withColumnRenamed("n", "na")
    cb = cnt.withColumnRenamed("item_id", "_ib").withColumnRenamed("n", "nb")
    sc = (
        sym.join(ca, sym["item_id"] == ca["_ia"])
        .join(cb, sym["neighbor_id"] == cb["_ib"])
        .select(
            "item_id",
            "neighbor_id",
            F.col("n_ab").cast("bigint").alias("n_cobuy"),
            (F.col("na") + F.col("nb") - F.col("n_ab"))
            .cast("bigint")
            .alias("n_union"),
            (
                F.floor(
                    F.col("n_ab").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_ab"))
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("item_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IJ_TOPK)
        .select(
            "item_id",
            F.col("rank").cast("int"),
            "neighbor_id",
            "n_cobuy",
            "n_union",
            "jaccard",
        )
        .orderBy("item_id", "rank")
    )


item_cobuy_jaccard_topk.__doc__ = item_cobuy_jaccard_topk.__doc__.format(
    k=_IJ_TOPK, s=_IJ_MIN_SUPPORT
)
