"""Windowed feature aggregation — the analytical core.

Re-expresses the reference's streaming clickstream aggregation
(reference spark/apps/clickstream_aggregation.py:126-200: groupBy
user + time window → 14 aggregates → derived ratios) as batch
DataFrame queries over the ``events`` table:

* ``user_hourly_features`` — tumbling 1 h window (SURVEY §7 M0
  flagship; A1-A8).  Tumbling windows hash-match a plain
  ``date_trunc`` GROUP BY, so the whole aggregate family is
  oracle-checked.
* ``user_sliding_features`` — the reference's actual 1 h / 10 min
  sliding window (A9); oracle reconstructs Spark's epoch-aligned
  window expansion with ``time_bucket`` + a 6-slide explode.
* ``user_daily_activity`` — daily rollup exercising ``to_date`` (P9).

Scale notes: one shuffle per query (the groupBy), with map-side
partial aggregation supplied by Catalyst's two-phase HashAggregate.
The filter and 6-column projection push into the parquet scan.  The
sliding window multiplies rows ×6 *after* the scan but *before* the
shuffle — unavoidable under Spark's window expansion; at 100 TB the
mitigation is a coarser slide or a two-level rollup (aggregate per
10-min bucket first — see ``user_sliding_features_rollup``), which
shuffles pre-aggregated buckets instead of raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import money, safe_div
from ..registry import register

#: Event-type domain of the driver's ``events`` table (FIXTURES.md §2
#: maps the reference's view/click/cart/purchase onto it).
EVENT_TYPES = ("click", "view", "purchase", "error", "signup")


def _count_type(t: str) -> F.Column:
    return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"{t}_count")


def hourly_features(events: DataFrame) -> DataFrame:
    """Per-user 1-hour tumbling feature frame.

    Mirrors the reference aggregate block
    (spark/apps/clickstream_aggregation.py:131-200): total +
    conditional counts, exact distinct count (batch path per SURVEY
    Appendix 1), conditional revenue sum, conditional average, JSON
    prop extraction, NULLIF-guarded ratios, and
    ``feature_timestamp = window_end`` (the Feast as-of convention).
    """
    e = events.filter(F.col("user_id").isNotNull())
    agg = (
        e.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            *[_count_type(t) for t in EVENT_TYPES],
            F.countDistinct("event_type").alias("distinct_event_types"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0))), 2
            ).alias("total_revenue"),
            F.round(F.avg(F.when(F.col("event_type") == "view", F.col("value"))), 4).alias(
                "avg_view_value"
            ),
            F.max(F.get_json_object("props", "$.k").cast("int")).alias("max_prop_k"),
        )
    )
    return agg.select(
        "user_id",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("feature_timestamp"),
        "total_events",
        "click_count",
        "view_count",
        "purchase_count",
        "error_count",
        "signup_count",
        "distinct_event_types",
        "total_revenue",
        "avg_view_value",
        "max_prop_k",
        F.round(safe_div(F.col("click_count"), F.col("view_count")), 6).alias("click_through_rate"),
        F.round(safe_div(F.col("purchase_count"), F.col("click_count")), 6).alias("conversion_rate"),
    )


#: Shared oracle CTE for the hourly feature frame (reused by the
#: as-of / snapshot / lookup oracles in operators/asof.py).
HOURLY_FEATURES_SQL_CTE = """
hourly AS (
    SELECT
        user_id,
        date_trunc('hour', ts) AS window_start,
        date_trunc('hour', ts) + INTERVAL 1 HOUR AS feature_timestamp,
        COUNT(*) AS total_events,
        COUNT(*) FILTER (WHERE event_type = 'click') AS click_count,
        COUNT(*) FILTER (WHERE event_type = 'view') AS view_count,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_count,
        COUNT(*) FILTER (WHERE event_type = 'error') AS error_count,
        COUNT(*) FILTER (WHERE event_type = 'signup') AS signup_count,
        COUNT(DISTINCT event_type) AS distinct_event_types,
        ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS total_revenue,
        ROUND(AVG(CASE WHEN event_type = 'view' THEN value END), 4) AS avg_view_value,
        MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_prop_k,
        ROUND(CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS DOUBLE)
              / NULLIF(COUNT(*) FILTER (WHERE event_type = 'view'), 0), 6) AS click_through_rate,
        ROUND(CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
              / NULLIF(COUNT(*) FILTER (WHERE event_type = 'click'), 0), 6) AS conversion_rate
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2, 3
)
"""


@register(
    "user_hourly_features",
    oracle=f"WITH {HOURLY_FEATURES_SQL_CTE} SELECT * FROM hourly",
)
def user_hourly_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_features(load_table(spark, sf_dir, "events"))


@register(
    "user_sliding_features",
    oracle="""
    WITH e AS (
        SELECT user_id, value,
               time_bucket(INTERVAL '10 minutes', ts) AS slide_bucket
        FROM events
        WHERE user_id IS NOT NULL
    )
    SELECT
        user_id,
        slide_bucket - (k * INTERVAL '10 minutes') AS window_start,
        slide_bucket - (k * INTERVAL '10 minutes') + INTERVAL '1 hour' AS window_end,
        COUNT(*) AS n_events,
        ROUND(SUM(value), 2) AS sum_value
    FROM e CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k)
    GROUP BY 1, 2, 3
    """,
)
def user_sliding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 h window / 10 min slide (reference window spec
    spark/apps/clickstream_aggregation.py:27-28,135-139).  Each event
    lands in exactly 6 epoch-aligned windows; the oracle replicates
    Spark's expansion explicitly."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return (
        e.groupBy("user_id", F.window("ts", "1 hour", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "user_sliding_features_rollup",
    oracle="""
    WITH b AS (
        SELECT user_id,
               time_bucket(INTERVAL '10 minutes', ts) AS slide_bucket,
               COUNT(*) AS n, SUM(CAST(value AS DECIMAL(12,2))) AS v
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT user_id,
           slide_bucket - (k * INTERVAL '10 minutes') AS window_start,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(v), 2) AS DOUBLE) AS sum_value
    FROM b CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k)
    GROUP BY 1, 2
    """,
)
def user_sliding_features_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path variant of the sliding window: pre-aggregate into
    10-min tumbling buckets (one shuffle over raw events), then expand
    buckets ×6 and re-aggregate (second shuffle over the *much
    smaller* bucket frame).  At 100 TB this turns "shuffle 6× the raw
    data" into "shuffle raw once + shuffle ~#users×#buckets rows".
    Additive aggregates only (count/sum — the hourly min/max/distinct
    need the direct form or a sketch).  The re-summed partial sums go
    through exact DECIMAL (``money``) — double re-summation is
    association-order-sensitive, so the direct and rollup forms (and
    the DuckDB oracle) would disagree in the last bits otherwise."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    buckets = (
        e.groupBy("user_id", F.window("ts", "10 minutes").alias("b"))
        .agg(F.count("*").alias("n"), F.sum(money(F.col("value"))).alias("v"))
        .select("user_id", F.col("b.start").alias("slide_bucket"), "n", "v")
    )
    expanded = buckets.select(
        "user_id",
        "slide_bucket",
        "n",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("k"),
    ).select(
        "user_id",
        (F.col("slide_bucket") - F.expr("make_interval(0, 0, 0, 0, 0, k * 10, 0)")).alias(
            "window_start"
        ),
        "n",
        "v",
    )
    return expanded.groupBy("user_id", "window_start").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("v"), 2).cast("double").alias("sum_value"),
    )


def mode_by(df: DataFrame, key: str, value: str, out_col: str = "mode") -> DataFrame:
    """TRUE deterministic mode of ``value`` per ``key`` — the exact
    form of the reference's ``primary_referrer`` column, which it only
    *approximates* with ``first(ignorenulls)``
    (spark/apps/clickstream_aggregation.py:169-170).

    Two hash aggregates, zero window sorts: count per (key, value),
    then per key take ``min(struct(-cnt, value))`` — struct ordering
    gives highest count first, lexicographically-smallest value on
    ties, so the result is deterministic under any shuffle order (the
    reference's ``first()`` is not).  Both shuffles are two-phase with
    map-side partials; at 100 TB this is strictly cheaper than the
    row_number-over-window formulation (no per-key sort buffer)."""
    counts = (
        df.filter(F.col(value).isNotNull())
        .groupBy(key, value)
        .agg(F.count("*").alias("cnt"))
    )
    m = counts.groupBy(key).agg(
        F.min(F.struct((-F.col("cnt")).alias("neg_cnt"), F.col(value).alias("v"))).alias("m")
    )
    return m.select(
        key,
        F.col("m.v").alias(out_col),
        (-F.col("m.neg_cnt")).cast("bigint").alias(f"{out_col}_count"),
    )


@register(
    "user_primary_event_type",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT user_id,
           event_type AS primary_event_type,
           cnt AS primary_event_type_count
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY cnt DESC, event_type
        ) AS rn FROM c
    )
    WHERE rn = 1
    """,
)
def user_primary_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (the reference's primary_referrer
    semantics, made exact and deterministic).  The oracle uses the
    textbook row_number formulation; the engine's hash-agg plan must
    produce identical rows."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return mode_by(e, "user_id", "event_type", out_col="primary_event_type")


@register("sketch_distinct_users_rollup", rows_only="HLL sketch estimates: engine-specific; error bound tested in tests/test_sketches.py")
def sketch_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting: per-day HLL sketches of
    user_id, unioned into per-event-type totals WITHOUT re-reading raw
    data — the 100 TB path for "distinct users last N days" feature
    families (exact countDistinct cannot pre-aggregate; sketches merge
    associatively, so daily sketches persist once and any date-range
    rollup is a tiny union).  Estimates are approximate ⇒ rows-only
    driver check; relative-error bounds are asserted in
    tests/test_sketches.py."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sketch"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct_users"),
            F.sum("exact_daily").alias("sum_daily_distinct"),
            F.count("*").alias("n_days"),
        )
        .select("event_type", "approx_distinct_users", "sum_daily_distinct", "n_days")
    )


@register(
    "user_daily_activity",
    oracle="""
    SELECT user_id,
           CAST(ts AS DATE) AS activity_date,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_event_types,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2
    """,
)
def user_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return e.groupBy("user_id", F.to_date("ts").alias("activity_date")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


#: Incremental-update cutoff: events at/after this instant are "the
#: newly arrived batch"; everything before is the standing table.
_INC_CUTOFF = "2024-01-25"


@register(
    "incremental_feature_update",
    oracle=f"WITH {HOURLY_FEATURES_SQL_CTE} SELECT * FROM hourly",
)
def incremental_feature_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the hourly feature table: given
    the standing table (events before {_INC_CUTOFF}) and a newly
    arrived batch (events at/after it), recompute ONLY the (user,
    hour) groups the batch touches and stitch them onto the untouched
    rows.  The oracle is the FULL recompute over all events — the
    whole point is that the incremental result is provably identical,
    which is exactly what the driver's hash check certifies.

    This is the daily-ingest shape at 100 TB: the affected-group set
    is a tiny distinct frame off the new batch (broadcast to
    semi-/anti-join probes), the recompute scan is partition-pruned to
    the touched hours, and the standing table contributes untouched
    rows without being re-aggregated.  Groups straddling the cutoff
    are re-aggregated from their full event history, so partial old
    rows are replaced, never double-counted."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_INC_CUTOFF).cast("timestamp")
    standing = hourly_features(events.filter(F.col("ts") < cutoff))
    delta_keys = (
        events.filter((F.col("ts") >= cutoff) & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("hour", "ts").alias("window_start"))
        .distinct()
    )
    e = events.filter(F.col("user_id").isNotNull()).alias("e")
    affected_events = e.join(
        F.broadcast(delta_keys).alias("d"),
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.date_trunc("hour", F.col("e.ts")) == F.col("d.window_start")),
        "left_semi",
    )
    recomputed = hourly_features(affected_events)
    kept = standing.join(
        F.broadcast(delta_keys), ["user_id", "window_start"], "left_anti"
    )
    return kept.unionByName(recomputed)


#: Exponential time-decay aggregation: the fixed as-of anchor (just
#: after the event window — the rfm_segmentation stand-in for
#: current_timestamp, per the P6 policy), the half-life, and the
#: day-indexed weight table 0.5^(d/half_life) PRE-QUANTIZED to exact
#: integer micro-units.  Emitting the weights as INTEGER literals
#: removes the libm pow()/float-parse exposure entirely: both engines
#: multiply the same exact integers and the only IEEE steps are the
#: two final divides.
_DECAY_ASOF = "2024-02-01"
_DECAY_HALF_LIFE_D = 7
_DECAY_MAX_AGE_D = 45
_DECAY_WQ = tuple(
    int(0.5 ** (d / _DECAY_HALF_LIFE_D) * 1000000.0)
    for d in range(_DECAY_MAX_AGE_D + 1)
)


#: The decay oracle, shared VERBATIM by the batch registration and
#: the streaming twin (streaming/joins.py stream_decay_features) —
#: one SQL string IS the batch ≡ stream correctness claim.
_DECAY_ORACLE = f"""
    WITH e AS (
        SELECT user_id,
               LEAST(GREATEST(date_diff('day', CAST(ts AS DATE),
                                        DATE '{_DECAY_ASOF}'), 0),
                     {_DECAY_MAX_AGE_D}) AS d,
               CAST(FLOOR(value * 100.0) AS BIGINT) AS vq
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL AND NOT isnan(value)
    ),
    wt AS (
        SELECT e.user_id, e.d, e.vq,
               ([{", ".join(str(w) for w in _DECAY_WQ)}])[e.d + 1] AS wq
        FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(d) AS BIGINT) AS last_event_age_days,
           FLOOR(CAST(SUM(wq) AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
               / 1000000.0 AS decayed_count,
           FLOOR(CAST(SUM(CAST(vq AS DECIMAL(38, 0)) * wq) AS DOUBLE)
                 / 100000000.0 * 1000000.0 + 0.5) / 1000000.0
               AS decayed_value_sum
    FROM wt GROUP BY 1
    """


@register(
    "user_decay_features",
    oracle=_DECAY_ORACLE,
)
def user_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed user features as-of a fixed anchor
    — THE recency-weighted aggregation every feature store ships
    (Feast/Tecton style ``decay`` aggregations; half-life
    {hl} days here): per user, the decayed event count
    Σ 0.5^(age_days/{hl}) and decayed value sum, plus the raw count
    and recency for calibration.  A decayed count of ~n means "n
    events' worth of CURRENT activity" — the feature that
    distinguishes a lapsed heavy user from an active light one where
    plain counts ([[user_hourly_features]]) cannot.

    Determinism: the weight table is pre-quantized to exact integer
    micro-units AT DEFINITION TIME and inlined as integer literals in
    both engines, so there is no pow()/libm and no float-literal
    parse anywhere; ages are exact date arithmetic; values floor to
    exact integer cents map-side; every aggregate is an exact
    integer/DECIMAL sum and the two emissions are single fixed IEEE
    divides through the sign-safe floor ladder (operands
    non-negative).

    Scale shape: weight lookup is a map-side literal-array index
    (the knn literal-codebook discipline — 46 integers, no join);
    ONE user-keyed hash aggregate with map-side combine is the only
    shuffle.  At 100 TB this is the same plan as any per-user
    rollup; the as-of anchor makes it incrementally maintainable
    (yesterday's sums age by one constant factor)."""
    wq_arr = F.array(*[F.lit(w) for w in _DECAY_WQ])
    asof_date = F.lit(_DECAY_ASOF).cast("date")
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & ~F.isnan("value")
        )
        .select(
            "user_id",
            F.least(
                F.greatest(
                    F.datediff(asof_date, F.to_date("ts")), F.lit(0)
                ),
                F.lit(_DECAY_MAX_AGE_D),
            ).alias("d"),
            F.floor(F.col("value") * 100.0).cast("bigint").alias("vq"),
        )
    )
    wt = e.select(
        "user_id",
        "d",
        "vq",
        F.element_at(wq_arr, F.col("d") + 1).alias("wq"),
    )
    return wt.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("d").cast("bigint").alias("last_event_age_days"),
        (
            F.floor(
                F.sum("wq").cast("double") / 1000000.0 * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("decayed_count"),
        (
            F.floor(
                F.sum(F.col("vq").cast("decimal(38,0)") * F.col("wq"))
                .cast("double")
                / 100000000.0
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("decayed_value_sum"),
    )


user_decay_features.__doc__ = user_decay_features.__doc__.format(
    hl=_DECAY_HALF_LIFE_D
)
