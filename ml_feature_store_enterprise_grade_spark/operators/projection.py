"""Scalar projection coverage: string/date function family + rolling
analytic windows.

Covers the reference's scalar surface not already exercised by the
aggregate queries (SURVEY §2.2 P15/P16, §2.7): string
case/slice/pad/format (reference scripts/stream_generator.py:161-177
builds IDs like ``f"{category[:3].upper()}_{n:05d}"``), feature-ref
splitting on ``:`` (airflow/scripts/validate_online_store.py:114),
timestamp formatting (strftime at
airflow/dags/feature_store_materialization.py:137), date arithmetic,
and percentile/rolling analytics (P95 latency,
scripts/inference_service.py:194).

All pure narrow transformations — whole-stage-codegen'd projections
with no shuffle; the rolling query shuffles once on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import PORTABLE_HASH64_SQL, money, portable_hash64
from ..registry import register


@register(
    "event_code_projection",
    oracle="""
    SELECT event_id,
           printf('%s_%06d', upper(substring(event_type, 1, 3)), user_id % 1000000) AS event_code,
           split_part(event_type, 'i', 1) AS type_head,
           concat_ws('/', event_type, CAST(user_id AS VARCHAR)) AS type_user,
           strftime(ts, '%Y-%m-%d %H') AS event_hour,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since_epoch_start,
           LEAST(ROUND(value, 1), 100.0) AS value_capped,
           lpad(CAST(CAST(json_extract(props, '$.k') AS INTEGER) AS VARCHAR), 4, '0') AS prop_k_padded
    FROM events
    WHERE user_id IS NOT NULL
    """,
)
def event_code_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15/P16 + §2.7 string/date scalar family as one wide
    projection.  Plan: single codegen'd Project over the pruned scan —
    zero shuffles, embarrassingly parallel at any scale."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return e.select(
        "event_id",
        F.format_string(
            "%s_%06d", F.upper(F.substring("event_type", 1, 3)), F.col("user_id") % 1000000
        ).alias("event_code"),
        F.element_at(F.split("event_type", "i"), 1).alias("type_head"),
        F.concat_ws("/", "event_type", F.col("user_id").cast("string")).alias("type_user"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("event_hour"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.least(F.round("value", 1), F.lit(100.0)).alias("value_capped"),
        F.lpad(
            F.get_json_object("props", "$.k").cast("int").cast("string"), 4, "0"
        ).alias("prop_k_padded"),
    )


@register(
    "event_props_struct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k,
           COUNT(*) FILTER (WHERE json_extract(props, '$.k') IS NULL) AS n_null_k
    FROM events
    GROUP BY event_type
    """,
)
def event_props_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 proper: schema-on-read JSON parsing with ``from_json`` and a
    declared StructType (the reference's Kafka-value pattern,
    spark/apps/clickstream_aggregation.py:89-91), then flatten and
    aggregate.  Catalyst's OptimizeJsonExprs prunes the parsed struct
    to the referenced field, so the JSON decode cost is per-referenced-
    field, not per-schema-field."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_k"),
    )


@register(
    "event_value_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
    GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolating percentiles per group (the reference's P95
    latency metric, scripts/inference_service.py:194).  Exact
    ``percentile`` matches DuckDB's quantile_cont bit-for-bit after
    rounding; at 100 TB swap to ``approx_percentile`` (t-digest
    sketch, mergeable map-side) — same call shape."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"p{int(q * 100)}")
            for q in (0.5, 0.9, 0.95, 0.99)
        ],
    )


@register(
    "event_value_percentile_disc",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           quantile_disc(value, 0.5) AS p50_disc,
           quantile_disc(value, 0.9) AS p90_disc,
           quantile_disc(value, 0.99) AS p99_disc
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
    GROUP BY event_type
    """,
)
def event_value_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles per group (``percentile_disc`` /
    ``WITHIN GROUP``, ANSI form): each reported quantile is an actual
    observed value, never an interpolation — the right summary for
    monitoring dashboards where "a value that occurred" matters, and
    bit-deterministic by construction (no float arithmetic happens at
    all, so no summation-order flake class; contrast the
    ``quantile_cont`` twin above).

    Same scale shape as any exact grouped percentile: one shuffle on
    the group key, per-group sort; at 100 TB swap to
    ``approx_percentile`` with the same call shape."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"p{int(q * 100)}_disc")
            for q in (0.5, 0.9, 0.99)
        ],
    )


@register(
    "user_rolling_7d_features",
    oracle="""
    WITH d AS (
        SELECT user_id,
               CAST(ts AS DATE) AS activity_date,
               COUNT(*) AS n,
               SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                        AS DECIMAL(12,2))) AS v
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT user_id, activity_date,
           CAST(SUM(n) OVER w AS BIGINT) AS events_7d,
           CAST(ROUND(SUM(v) OVER w, 2) AS DOUBLE) AS revenue_7d,
           COUNT(*) OVER w AS days_active_7d,
           lag(n) OVER (PARTITION BY user_id ORDER BY activity_date) AS prev_day_events
    FROM d
    WINDOW w AS (
        PARTITION BY user_id ORDER BY date_diff('day', DATE '1970-01-01', activity_date)
        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    )
    """,
)
def user_rolling_7d_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling features via a RANGE frame over epoch
    days — the classic training-feature window (and the engine's
    ``rangeBetween`` coverage, SURVEY §2.5).  Two-level: daily
    pre-aggregation shuffles raw events once; the window then runs
    over ~#users×#days rows partitioned by user — no skew beyond the
    per-user day count, bounded at 100 TB by the date range."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = e.groupBy("user_id", F.to_date("ts").alias("activity_date")).agg(
        F.count("*").alias("n"),
        F.sum(
            money(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0))
        ).alias("v"),
    )
    day_num = F.datediff("activity_date", F.lit("1970-01-01").cast("date"))
    w = Window.partitionBy("user_id").orderBy(day_num).rangeBetween(-6, 0)
    wl = Window.partitionBy("user_id").orderBy("activity_date")
    return daily.select(
        "user_id",
        "activity_date",
        F.sum("n").over(w).alias("events_7d"),
        F.round(F.sum("v").over(w), 2).cast("double").alias("revenue_7d"),
        F.count("*").over(w).alias("days_active_7d"),
        F.lag("n").over(wl).alias("prev_day_events"),
    )


#: Stratified sampling fractions (J4/O3): downsample the dominant
#: event types, keep the rare ones whole — the class-rebalancing
#: pattern for training-data extraction.
_SAMPLE_FRACTIONS = {"click": 0.5, "view": 0.25, "purchase": 1.0, "error": 1.0, "signup": 1.0}


@register("stratified_event_sample", rows_only="seeded Bernoulli sampleBy: nondeterministic across engines; rates asserted in tests/test_sampling.py")
def stratified_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Bernoulli sampling with a fixed seed
    (``df.sampleBy`` — the engine's J4/O3 surface).  Seeded so one
    engine's runs are reproducible; still unregistered as an oracle
    because Spark's and DuckDB's PRNG streams differ by construction.
    Statistical correctness (per-stratum rates) is asserted in
    tests/test_sampling.py."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return e.sampleBy("event_type", _SAMPLE_FRACTIONS, seed=42).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "calendar_features",
    oracle="""
    SELECT event_id, ts,
           CAST(isodow(ts) AS INTEGER) AS dow_iso,
           CAST(hour(ts) AS INTEGER) AS hour_of_day,
           CAST(month(ts) AS INTEGER) AS month_of_year,
           isodow(ts) >= 6 AS is_weekend,
           hour(ts) BETWEEN 9 AND 17 AS is_business_hours
    FROM events
    WHERE ts IS NOT NULL
    """,
)
def calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature block: ISO day-of-week, hour, month, weekend
    and business-hours flags — the cyclical-time features every
    behavioral model consumes.  ISO day-of-week is used deliberately:
    Spark's ``dayofweek`` (Sunday=1) and DuckDB's ``dayofweek``
    (Sunday=0) disagree, while ``weekday()+1`` / ``isodow()`` give the
    identical Monday=1 convention.  Pure map-side projection under the
    pinned UTC session — zero shuffles."""
    ts = F.col("ts")
    dow = (F.weekday(ts) + 1).cast("int")
    hr = F.hour(ts).cast("int")
    return (
        load_table(spark, sf_dir, "events")
        .filter(ts.isNotNull())
        .select(
            "event_id",
            "ts",
            dow.alias("dow_iso"),
            hr.alias("hour_of_day"),
            F.month(ts).cast("int").alias("month_of_year"),
            (dow >= 6).alias("is_weekend"),
            hr.between(9, 17).alias("is_business_hours"),
        )
    )


#: Systematic weighted sample: draws per segment.
_WSYS_K = 20


@register(
    "weighted_systematic_sample",
    oracle=f"""
    WITH w AS (
        SELECT c_mktsegment AS segment, c_custkey,
               GREATEST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT), 0) + 1 AS wgt
        FROM customer
    ),
    c AS (
        SELECT segment, c_custkey, wgt,
               CAST(SUM(wgt) OVER (
                   PARTITION BY segment ORDER BY c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum,
               CAST(SUM(wgt) OVER (PARTITION BY segment) AS BIGINT) AS total
        FROM w
    )
    SELECT segment, c_custkey, wgt,
           CAST((cum * {_WSYS_K}) // total
                - ((cum - wgt) * {_WSYS_K}) // total AS BIGINT) AS n_hits
    FROM c
    WHERE (cum * {_WSYS_K}) // total > ((cum - wgt) * {_WSYS_K}) // total
    """,
)
def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling made oracle-checkable (upgrading SURVEY J4
    from the rows-only seeded ``sampleBy``): systematic sampling by
    cumulative weight — lay each segment's rows on a weight line, cut
    it into {_WSYS_K} equal strides, and take the row under each cut.
    Inclusion probability is proportional to weight (heavy rows can
    take multiple hits), selection is a pure function of the data —
    no PRNG, so Spark and DuckDB agree bit-for-bit.

    Everything is BIGINT: weights are cents-scaled balances, the
    prefix sum is exact, and the stride test is integer floor-division
    (``cum·k // total`` crossing a boundary), so no float enters the
    selection.  Scale shape: one hash shuffle on the stratum, prefix
    sums inside each partition (the packing-plan discipline).  At
    extreme scale swap BIGINT for DECIMAL(38,0) to keep ``cum·k``
    inside the type."""
    w = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        "c_custkey",
        # cents via exact DECIMAL, not double*100: Spark CAST(double
        # AS BIGINT) truncates while DuckDB rounds, so .99999 cents
        # diverge by one — the decimal path rounds identically.
        (
            F.greatest(
                (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("bigint"),
                F.lit(0),
            )
            + 1
        ).alias("wgt"),
    )
    win = (
        Window.partitionBy("segment")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = w.select(
        "segment",
        "c_custkey",
        "wgt",
        F.sum("wgt").over(win).cast("bigint").alias("cum"),
        F.sum("wgt").over(Window.partitionBy("segment")).cast("bigint").alias("total"),
    )
    hi = F.expr(f"(cum * {_WSYS_K}) div total")
    lo = F.expr(f"((cum - wgt) * {_WSYS_K}) div total")
    return c.filter(hi > lo).select(
        "segment", "c_custkey", "wgt", (hi - lo).cast("bigint").alias("n_hits")
    )


#: Explicit pivot column universe — pinned so the pivot is a single
#: pass (Spark skips the values-discovery job) and deterministic.
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "daily_event_type_pivot",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS d,
           {", ".join(
               f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
               for t in _EVENT_TYPES
           )},
           COUNT(*) AS n_total
    FROM events
    GROUP BY 1
    """,
)
def daily_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit PIVOT (the reference's conditional-count family A3 as
    a first-class relational operator): per-day event counts spread
    into one column per event type via ``groupBy().pivot(values=...)``.
    Pinning the value list matters twice at scale: Spark skips the
    extra distinct-values discovery job, and the plan stays a single
    hash aggregate (pivot-with-values compiles to the same
    conditional-agg shape the oracle states directly)."""
    e = load_table(spark, sf_dir, "events")
    piv = (
        e.groupBy(F.to_date("ts").alias("d"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    tot = e.groupBy(F.to_date("ts").alias("dt")).agg(
        F.count("*").alias("n_total")
    )
    # eqNullSafe: a NULL-ts day groups to a NULL key on both sides;
    # a plain equi-join would silently drop it while the oracle's
    # GROUP BY keeps it.
    out = piv.join(tot, piv["d"].eqNullSafe(tot["dt"])).drop("dt")
    return out.select(
        "d",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
        "n_total",
    )


@register(
    "feature_unpivot_long",
    oracle="""
    WITH feats AS (
        SELECT user_id,
               CAST(COUNT(*) AS DOUBLE) AS n_events,
               ROUND(COALESCE(SUM(value), 0.0), 2) AS total_value,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS n_days
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, feature_name, feature_value
    FROM feats
    UNPIVOT (feature_value FOR feature_name IN (n_events, total_value, n_days))
    """,
)
def feature_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit UNPIVOT/melt: the wide per-user feature frame turned
    into the long (entity, feature_name, value) layout a metrics
    store or EAV-style serving table ingests.  ``DataFrame.unpivot``
    compiles to a single Expand node — 3 output rows per input row,
    no shuffle beyond the feature aggregate itself; the oracle uses
    SQL UNPIVOT for the same relation."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    feats = e.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n_events"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("total_value"),
        F.countDistinct(F.to_date("ts")).cast("double").alias("n_days"),
    )
    return feats.unpivot(
        ids=["user_id"],
        values=["n_events", "total_value", "n_days"],
        variableColumnName="feature_name",
        valueColumnName="feature_value",
    )


@register(
    "event_props_variant",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k
        FROM events
    )
    SELECT CAST(k // 10 AS INTEGER) AS k_decade,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM v
    WHERE k IS NOT NULL
    GROUP BY 1
    """,
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the open VARIANT type (Spark
    4): ``parse_json`` turns the props string into a binary variant
    once, ``variant_get`` extracts a typed path from it — the
    schema-on-read path for payloads whose shape is NOT declared up
    front, complementing ``event_props_struct``'s declared-schema
    ``from_json``.  Variant's binary encoding makes repeated path
    extraction O(field) rather than O(re-parse), which is the cost
    model that matters when one 100 TB ingest feeds many extraction
    queries."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    ).filter(F.col("k").isNotNull())
    return v.groupBy(
        F.floor(F.col("k") / 10).cast("int").alias("k_decade")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


#: Winsorization candidate levels (discrete percentiles of the value
#: distribution; 'none' anchors the untouched baseline).
_WINSOR_LEVELS = ("p90", "p95", "p99", "none")


@register(
    "event_value_winsorize_sweep",
    oracle="""
    WITH v AS (
        SELECT value FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    caps AS (
        SELECT quantile_disc(value, 0.90) AS c90,
               quantile_disc(value, 0.95) AS c95,
               quantile_disc(value, 0.99) AS c99,
               MAX(value) AS cmax
        FROM v
    ),
    l AS (
        SELECT (s).lvl AS clip_level, (s).cap AS cap FROM (
            SELECT unnest([
                struct_pack(lvl := 'p90', cap := c90),
                struct_pack(lvl := 'p95', cap := c95),
                struct_pack(lvl := 'p99', cap := c99),
                struct_pack(lvl := 'none', cap := cmax)
            ]) AS s FROM caps
        )
    ),
    q AS (
        SELECT l.clip_level, l.cap,
               CASE WHEN v.value > l.cap THEN 1 ELSE 0 END AS clipped,
               CAST(FLOOR(LEAST(v.value, l.cap) * 1000000.0)
                    AS BIGINT) AS qc,
               CAST(FLOOR(v.value * 1000000.0) AS BIGINT) AS qr
        FROM v CROSS JOIN l
    )
    SELECT clip_level,
           ROUND(cap, 6) AS cap_value,
           CAST(SUM(clipped) AS BIGINT) AS n_clipped,
           ROUND(CAST(SUM(clipped) AS DOUBLE) / COUNT(*), 6)
               AS clipped_share,
           FLOOR(CAST(SUM(qc) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_after,
           FLOOR(CAST(SUM(qr) - SUM(qc) AS DOUBLE) / COUNT(*) + 0.5)
               / 1000000.0 AS mean_reduction
    FROM q GROUP BY 1, 2
    """,
)
def event_value_winsorize_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization design sweep over the event value distribution —
    the outlier-handling curve read BEFORE fixing a clip level in a
    feature pipeline: per candidate cap (the exact p90/p95/p99
    discrete percentiles, plus the untouched baseline), how many
    values clip, and what the clipping does to the mean (tail mass
    removed).  Too aggressive a cap biases the feature; no cap lets a
    single 490.02 outlier dominate a 147-median distribution
    (measured sf0.01) — the sweep quantifies the trade from ONE value
    scan (the [[label_horizon_sweep]] / [[session_gap_sensitivity]] /
    [[target_encoding_smoothing_sweep]] design-curve pattern; the
    fixed-cut twin of [[robust_order_value_stats]]'s estimator view).

    Determinism: caps are DISCRETE percentiles (actual elements,
    identical in both engines); clipped values quantize at the leaf
    (floor·1e6 on non-negative operands) so the per-level means are
    exact integer sums with one fixed divide each through the
    sign-safe ladder; mean_reduction subtracts quantized integers
    (elementwise qr ≥ qc, so it is non-negative by construction).

    Scale shape: one percentile aggregate (the repo's exact
    distributed percentile_disc) and one conditional-aggregate pass
    over values × 4 levels — no per-level rescans, no window over
    events, the caps ride as a 1-row broadcast."""
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("value")
    )
    caps = v.agg(
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY value)").alias("c90"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("c95"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("c99"),
        F.max("value").alias("cmax"),
    )
    levels = F.explode(
        F.array(
            F.struct(F.lit("p90").alias("lvl"), F.col("c90").alias("cap")),
            F.struct(F.lit("p95").alias("lvl"), F.col("c95").alias("cap")),
            F.struct(F.lit("p99").alias("lvl"), F.col("c99").alias("cap")),
            F.struct(F.lit("none").alias("lvl"), F.col("cmax").alias("cap")),
        )
    )
    l = caps.select(levels.alias("s")).select(
        F.col("s.lvl").alias("clip_level"), F.col("s.cap").alias("cap")
    )
    q = v.crossJoin(F.broadcast(l)).select(
        "clip_level",
        "cap",
        F.when(F.col("value") > F.col("cap"), 1).otherwise(0).alias("clipped"),
        F.floor(F.least(F.col("value"), F.col("cap")) * 1000000.0)
        .cast("bigint")
        .alias("qc"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("qr"),
    )
    return q.groupBy("clip_level", F.round(F.col("cap"), 6).alias("cap_value")).agg(
        F.sum("clipped").cast("bigint").alias("n_clipped"),
        F.round(F.sum("clipped").cast("double") / F.count("*"), 6).alias(
            "clipped_share"
        ),
        (
            F.floor(F.sum("qc").cast("double") / F.count("*") + 0.5) / 1000000.0
        ).alias("mean_after"),
        (
            F.floor(
                (F.sum("qr") - F.sum("qc")).cast("double") / F.count("*") + 0.5
            )
            / 1000000.0
        ).alias("mean_reduction"),
    )


#: Bottom-k consistent sample: per-stratum sample size.
_BOTTOMK_K = 8
_BOTTOMK_SEED = 29


@register(
    "consistent_sample_bottomk",
    oracle=f"""
    WITH h AS (
        SELECT lang, doc_id, n_chars,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _BOTTOMK_SEED)} AS h
        FROM documents
    ),
    rk AS (
        SELECT lang, doc_id, n_chars, h,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY h, doc_id) AS rank,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT)
                   AS n_stratum
        FROM h
    )
    SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, n_chars, h,
           n_stratum
    FROM rk WHERE rank <= {_BOTTOMK_K}
    ORDER BY lang, rank
    """,
)
def consistent_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k consistent sample per language stratum: the
    {k} documents with the SMALLEST portable 60-bit hash of their key
    in each lang — a uniform random sample that is a pure function of
    the keys, so it is identical across engines, reruns, arrival
    order, shard counts, and incremental appends (a new doc enters
    the sample only by evicting the largest retained hash — the KMV
    bottom-k property [[kmv_audience_overlap]] uses for distinct
    counting, used here as a SAMPLING operator).  This is how a
    training pipeline carves stable per-stratum inspection/holdout
    samples that survive recomputation ([[dataset_split_assignment]]
    carves proportional splits; this carves FIXED-SIZE ones).
    Measured signal (sf0.01): the max retained hash per stratum sits
    at 2.7-12.7% of the hash space for k={k} over strata of 64-218
    docs vs the k/(n+1) uniform-order-statistic expectation of
    3.7-12.3% — four of five strata within 4% relative, the
    uniformity sanity check on the portable hash as a sampler.

    Determinism: the sample IS the hash order (portable md5-based
    60-bit hash, identical literal SQL in both engines) with doc_id
    tie-break; no engine PRNG anywhere, so unlike the seeded
    ``TABLESAMPLE`` family this sampler is oracle-checkable
    row-for-row, not just rows-only.

    Scale shape: one scan, one per-stratum top-k — the partitioned
    rank<=k filter compiles to WindowGroupLimit (per-input-partition
    heaps BEFORE the shuffle, verified in the executed plan), so
    each map task forwards at most k rows per stratum and the
    post-shuffle sort touches <= k * n_map_tasks rows per stratum,
    never the stratum itself.  The stratum count rides the same
    window as a frame-free COUNT."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        portable_hash64(F.col("doc_id").cast("string"), seed=_BOTTOMK_SEED)
        .alias("h"),
    )
    # rank -> filter DIRECTLY (no interleaved window: the rank<=k
    # filter must sit immediately above the row_number window for
    # Spark's WindowGroupLimit rewrite to fire); the stratum counts
    # come back as a broadcast |langs|-row join instead of a second
    # window, which would both block the rewrite and re-shuffle.
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    counts = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_stratum")
    )
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BOTTOMK_K)
        .join(F.broadcast(counts), "lang")
        .select(
            "lang",
            F.col("rank").cast("int"),
            "doc_id",
            "n_chars",
            "h",
            "n_stratum",
        )
        .orderBy("lang", "rank")
    )


consistent_sample_bottomk.__doc__ = consistent_sample_bottomk.__doc__.format(
    k=_BOTTOMK_K
)
