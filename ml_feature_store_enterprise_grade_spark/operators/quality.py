"""Declarative data-quality operators.

Re-expresses the reference's Great Expectations suite
(reference scripts/data_quality_checks.py:50-76: age not-null /
in-range, tier in enum, user_id not-null + unique, country
not-null, activity_weight in-range) as a single-pass aggregate that
returns the reference's report shape — one row per expectation with
``success`` / ``unexpected_count`` / ``unexpected_percent``
(reference report fields: scripts/data_quality_checks.py:94-134).

Mapped onto the driver's ``customer`` table per FIXTURES.md §1
(c_custkey↔user_id, c_mktsegment↔subscription_tier,
c_acctbal↔activity_weight).

Scale: ONE full scan, zero shuffles (global aggregate → single-row
partial from every partition), then a constant-size unpivot.  This
is the right shape at 100 TB — never one pass per expectation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import PORTABLE_HASH64_SQL, portable_hash64
from ..registry import register

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
#: The balance SLA deliberately sits inside the generator's value
#: range (cf. reference activity_weight in-range check,
#: scripts/data_quality_checks.py:63-66) so the suite exercises the
#: *failed*-expectation report path — offending counts AND sample
#: values — not just a wall of greens.
_BAL_LO, _BAL_HI = -1000.0, 8000.0

#: DuckDB twin of the per-expectation sample aggregate: sorted
#: distinct offending values, first 5, comma-joined ('' when none).
_SAMPLE_SQL = (
    "COALESCE(array_to_string(list_sort(list_distinct("
    "list({val}) FILTER (WHERE {cond})))[1:5], ','), '')"
)


@register(
    "quality_expectation_suite",
    oracle=f"""
    WITH a AS (
        SELECT
            COUNT(*) AS n_rows,
            COUNT(*) FILTER (WHERE c_custkey IS NULL) AS null_key,
            COUNT(*) - COUNT(DISTINCT c_custkey) AS dup_key,
            COUNT(*) FILTER (WHERE c_name IS NULL) AS null_name,
            COUNT(*) FILTER (WHERE c_nationkey IS NULL) AS null_nation,
            COUNT(*) FILTER (WHERE c_acctbal IS NULL
                             OR c_acctbal < {_BAL_LO} OR c_acctbal > {_BAL_HI}) AS bal_range,
            {_SAMPLE_SQL.format(
                val="CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)",
                cond=f"c_acctbal < {_BAL_LO} OR c_acctbal > {_BAL_HI}",
            )} AS bal_range_s,
            COUNT(*) FILTER (WHERE c_mktsegment IS NULL
                             OR c_mktsegment NOT IN {_SEGMENTS!r}) AS seg_enum,
            {_SAMPLE_SQL.format(
                val="c_mktsegment",
                cond=f"c_mktsegment NOT IN {_SEGMENTS!r}",
            )} AS seg_enum_s,
            COUNT(*) FILTER (WHERE c_nationkey IS NULL
                             OR c_nationkey < 0 OR c_nationkey > 24) AS nation_range,
            {_SAMPLE_SQL.format(
                val="CAST(c_nationkey AS VARCHAR)",
                cond="c_nationkey < 0 OR c_nationkey > 24",
            )} AS nation_range_s
        FROM customer
    )
    SELECT e.expectation, e.unexpected_count,
           ROUND(CAST(e.unexpected_count AS DOUBLE) / NULLIF(a.n_rows, 0) * 100, 6)
               AS unexpected_percent,
           e.unexpected_count = 0 AS success,
           e.sample_unexpected
    FROM a, LATERAL (VALUES
        ('key_not_null', a.null_key, ''),
        ('key_unique', a.dup_key, ''),
        ('name_not_null', a.null_name, ''),
        ('nationkey_not_null', a.null_nation, ''),
        ('acctbal_between', a.bal_range, a.bal_range_s),
        ('mktsegment_in_set', a.seg_enum, a.seg_enum_s),
        ('nationkey_between', a.nation_range, a.nation_range_s)
    ) e(expectation, unexpected_count, sample_unexpected)
    """,
)
def quality_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/A13: the expectation suite as one aggregate pass + unpivot,
    returning the reference's failed-expectation report shape —
    ``unexpected_count`` / ``unexpected_percent`` / ``success`` plus a
    ``sample_unexpected`` debugging sample (sorted distinct offending
    values, first 5, comma-joined — the reference's
    ``partial_unexpected_list``, scripts/data_quality_checks.py:94-116).

    Samples are gathered inline via ``collect_set`` guarded by the
    violation predicate, so the report stays ONE scan.  The buffer is
    bounded by the *distinct offending value* count — naturally small
    for null/enum/range families; a pathological high-cardinality
    failure would switch the sample branch to a filter→distinct→
    TakeOrdered side query.  Null-violation families (``key_not_null``,
    ``name_not_null``) and the grouped ``key_unique`` check sample
    empty by construction (the offending "value" is NULL / a group,
    not a row value).

    Seven expectations, matching the reference suite one-for-one
    (scripts/data_quality_checks.py:50-76): 3 not-nulls (key, name,
    nationkey — the reference's user_id/age/country), uniqueness,
    2 ranges, 1 enum."""
    c = load_table(spark, sf_dir, "customer")

    def viol(cond: F.Column) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    def sample(cond: F.Column, val: F.Column) -> F.Column:
        return F.concat_ws(
            ",", F.slice(F.sort_array(F.collect_set(F.when(cond, val))), 1, 5)
        )

    bal_bad = ~F.col("c_acctbal").between(_BAL_LO, _BAL_HI)
    seg_bad = ~F.col("c_mktsegment").isin(*_SEGMENTS)
    nation_bad = ~F.col("c_nationkey").between(0, 24)
    a = c.agg(
        F.count("*").alias("n_rows"),
        viol(F.col("c_custkey").isNull()).alias("key_not_null"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("key_unique"),
        viol(F.col("c_name").isNull()).alias("name_not_null"),
        viol(F.col("c_nationkey").isNull()).alias("nationkey_not_null"),
        viol(F.col("c_acctbal").isNull() | bal_bad).alias("acctbal_between"),
        sample(bal_bad, F.col("c_acctbal").cast("decimal(12,2)").cast("string")).alias(
            "acctbal_between_s"
        ),
        viol(F.col("c_mktsegment").isNull() | seg_bad).alias("mktsegment_in_set"),
        sample(seg_bad, F.col("c_mktsegment")).alias("mktsegment_in_set_s"),
        viol(F.col("c_nationkey").isNull() | nation_bad).alias("nationkey_between"),
        sample(nation_bad, F.col("c_nationkey").cast("string")).alias("nationkey_between_s"),
    )
    names = [
        "key_not_null",
        "key_unique",
        "name_not_null",
        "nationkey_not_null",
        "acctbal_between",
        "mktsegment_in_set",
        "nationkey_between",
    ]
    sampled = {"acctbal_between", "mktsegment_in_set", "nationkey_between"}
    stack_expr = "stack({n}, {args}) as (expectation, unexpected_count, sample_unexpected)".format(
        n=len(names),
        args=", ".join(
            f"'{x}', {x}, {x + '_s' if x in sampled else repr('')}" for x in names
        ),
    )
    long = a.select("n_rows", F.expr(stack_expr))
    return long.select(
        "expectation",
        F.col("unexpected_count").cast("bigint").alias("unexpected_count"),
        F.round(
            F.col("unexpected_count").cast("double") / F.nullif(F.col("n_rows"), F.lit(0)) * 100, 6
        ).alias("unexpected_percent"),
        (F.col("unexpected_count") == 0).alias("success"),
        "sample_unexpected",
    )


@register(
    "profile_distribution_stats",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_profiles,
           ROUND(AVG(c_acctbal), 4) AS avg_balance,
           ROUND(MIN(c_acctbal), 2) AS min_balance,
           ROUND(MAX(c_acctbal), 2) AS max_balance,
           COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_high_balance
    FROM customer
    GROUP BY 1
    """,
)
def profile_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 generator sanity stats (reference
    scripts/batch_generator.py:155-193 prints segment/tier histograms,
    numeric min/mean/max, and a high-activity share after generation)
    — as one grouped aggregate over the profile table."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_profiles"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_balance"),
        F.round(F.min("c_acctbal"), 2).alias("min_balance"),
        F.round(F.max("c_acctbal"), 2).alias("max_balance"),
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)).alias("n_high_balance"),
    )


_FRESHNESS_ASOF = "2024-02-01 00:00:00"


@register(
    "feature_freshness",
    oracle=f"""
    SELECT 'user_hourly_features' AS feature_view,
           MAX(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS last_feature_timestamp,
           CAST(date_diff('minute',
                MAX(date_trunc('hour', ts) + INTERVAL 1 HOUR),
                TIMESTAMP '{_FRESHNESS_ASOF}') AS BIGINT) AS staleness_minutes,
           date_diff('minute',
                MAX(date_trunc('hour', ts) + INTERVAL 1 HOUR),
                TIMESTAMP '{_FRESHNESS_ASOF}') <= 1440 AS is_fresh
    FROM events
    WHERE user_id IS NOT NULL
    """,
)
def feature_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 freshness metadata (reference
    init-scripts/01-init-db.sql:18-27 defines
    feast_metadata.feature_freshness with view name / last ts /
    staleness): latest feature_timestamp per view and minutes of
    staleness against a fixed as-of (deterministic stand-in for
    now()), with a 24 h freshness SLA flag."""
    from .feature_agg import hourly_features

    asof = F.lit(_FRESHNESS_ASOF).cast("timestamp")
    feats = hourly_features(load_table(spark, sf_dir, "events"))
    last = F.max("feature_timestamp")
    staleness = (asof.cast("long") - last.cast("long")) / 60
    return feats.agg(
        F.lit("user_hourly_features").alias("feature_view"),
        last.alias("last_feature_timestamp"),
        staleness.cast("bigint").alias("staleness_minutes"),
        (staleness <= 1440).alias("is_fresh"),
    ).select("feature_view", "last_feature_timestamp", "staleness_minutes", "is_fresh")


@register(
    "duplicate_key_check",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS event_date, COUNT(*) AS n_dupes
    FROM events
    GROUP BY 1, 2
    HAVING COUNT(*) > 1
    """,
)
def duplicate_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 uniqueness check as groupBy-having (PK-violation listing,
    cf. reference composite PK (entity_id, event_timestamp) in
    init-scripts/01-init-db.sql:37-55)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.to_date("ts").alias("event_date"))
        .agg(F.count("*").alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


@register(
    "feature_coverage",
    oracle="""
    SELECT COUNT(*) AS n_users,
           COUNT(*) FILTER (WHERE n_click > 0) AS users_with_clicks,
           COUNT(*) FILTER (WHERE n_purchase > 0) AS users_with_purchases,
           ROUND(CAST(COUNT(*) FILTER (WHERE n_click > 0) AS DOUBLE)
                 / NULLIF(COUNT(*), 0), 6) AS click_coverage
    FROM (
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        FROM events GROUP BY user_id
    )
    """,
)
def feature_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 coverage tally (reference validate_online_store counts
    users with non-null features, airflow/scripts/
    validate_online_store.py:102-135)."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("n_click") > 0, 1).otherwise(0)).cast("bigint").alias("users_with_clicks"),
        F.sum(F.when(F.col("n_purchase") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("users_with_purchases"),
        F.round(
            F.sum(F.when(F.col("n_click") > 0, 1).otherwise(0)).cast("double")
            / F.nullif(F.count("*"), F.lit(0)),
            6,
        ).alias("click_coverage"),
    )


@register(
    "skew_diagnostics",
    oracle="""
    WITH k AS (
        SELECT user_id, COUNT(*) AS n
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           ROUND(MAX(n) / (SUM(n) / COUNT(*)), 4) AS skew_ratio,
           ROUND(CAST(quantile_cont(n, 0.99) AS DOUBLE), 4) AS p99_key_rows,
           ROUND(-SUM((n / total) * log2(n / total)), 4) AS key_entropy_bits
    FROM k CROSS JOIN tot
    """,
)
def skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile — the pre-flight check before any big
    keyed join/agg (the reference's activity-weighted generators make
    some user_ids hot BY DESIGN, scripts/batch_generator.py:79-108):
    key cardinality, heaviest-key share, max/mean skew ratio, p99 key
    size, and key-distribution entropy.  A skew_ratio ≫ 10 or entropy
    far below log2(n_keys) says "salt this key or let AQE split it"
    (functions/skew.py is the remediation toolkit).

    One shuffle total: per-key counts (partial-agg collapses the hot
    key map-side), then a single-row reduce over the tiny key-count
    frame — grand totals fold in the same pass via a scalar
    cross-join, never a second scan of raw data."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = e.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = k.agg(F.sum("n").cast("double").alias("total"))
    p = F.col("n") / F.col("total")
    return k.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        F.round(F.max("n") / (F.sum("n") / F.count("*")), 4).alias("skew_ratio"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_key_rows"),
        F.round(-F.sum(p * F.log2(p)), 4).alias("key_entropy_bits"),
    )


#: Deterministic stand-in for a deletion-request table: users whose
#: key hash falls in this residue class have requested erasure.
_GDPR_MOD = 19
_GDPR_SEED = 17


@register(
    "gdpr_deletion_audit",
    oracle=f"""
    WITH del AS (
        SELECT c_custkey AS user_id FROM customer
        WHERE {PORTABLE_HASH64_SQL("CAST(c_custkey AS VARCHAR)", _GDPR_SEED)}
              % {_GDPR_MOD} = 0
    )
    SELECT CAST(e.ts AS DATE) AS event_date,
           COUNT(*) FILTER (WHERE d.user_id IS NOT NULL) AS rows_to_delete,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS users_affected,
           COUNT(*) AS partition_rows,
           ROUND(CAST(COUNT(*) FILTER (WHERE d.user_id IS NOT NULL) AS DOUBLE)
                 / COUNT(*), 6) AS delete_fraction,
           COUNT(*) FILTER (WHERE d.user_id IS NOT NULL) > 0 AS needs_rewrite
    FROM events e
    LEFT JOIN del d ON e.user_id = d.user_id
    WHERE e.ts IS NOT NULL
    GROUP BY 1
    """,
)
def gdpr_deletion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation plan: given a deletion-request
    entity set, report — per date partition of the events table — how
    many rows must be erased, how many requesting users they belong
    to, and whether the partition needs a rewrite at all.  This is the
    planning pass a 100 TB GDPR sweep runs FIRST: partitions with
    ``needs_rewrite = false`` are never touched, so the rewrite cost
    is proportional to affected partitions, not corpus size.

    Scale shape: the deletion set is a broadcast hash probe against
    the fact scan (no fact shuffle for the match), then one aggregate
    keyed by the partition column.  The deletion set here is a
    deterministic hash residue of the customer keys (a stand-in for a
    real request table, which would arrive as a small side input)."""
    deletions = (
        load_table(spark, sf_dir, "customer")
        .filter(
            portable_hash64(F.col("c_custkey").cast("string"), seed=_GDPR_SEED)
            % _GDPR_MOD
            == 0
        )
        .select(F.col("c_custkey").alias("user_id"))
    )
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    j = e.join(
        F.broadcast(deletions.withColumn("__del", F.lit(1))), "user_id", "left"
    )
    hit = F.col("__del").isNotNull()
    return j.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.sum(F.when(hit, 1).otherwise(0)).alias("rows_to_delete"),
        F.countDistinct(F.when(hit, F.col("user_id"))).alias("users_affected"),
        F.count("*").alias("partition_rows"),
        F.round(
            F.sum(F.when(hit, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("delete_fraction"),
        (F.sum(F.when(hit, 1).otherwise(0)) > 0).alias("needs_rewrite"),
    )


#: Backfill simulation: the offline feature table is "complete" only
#: through this date; later event dates are candidates for backfill.
_BACKFILL_MATERIALIZED_THROUGH = "2024-01-20"


@register(
    "feature_backfill_plan",
    oracle=f"""
    WITH available AS (
        SELECT CAST(ts AS DATE) AS event_date,
               COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1
    )
    SELECT event_date, n_events, n_users,
           event_date > DATE '{_BACKFILL_MATERIALIZED_THROUGH}' AS needs_backfill,
           CAST(CASE WHEN event_date > DATE '{_BACKFILL_MATERIALIZED_THROUGH}'
                THEN date_diff('day', DATE '{_BACKFILL_MATERIALIZED_THROUGH}', event_date)
                ELSE 0 END AS INTEGER) AS backfill_priority
    FROM available
    """,
)
def feature_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planning — the batch half of the reference's partition
    sensor (airflow/dags/feature_store_materialization.py:128-160
    probes for missing date partitions before materializing): diff the
    event dates present in the source against the feature table's
    materialized-through watermark and emit the ordered backfill
    worklist with per-partition volume estimates.

    Metadata-shaped at any scale: one aggregate to |dates| rows (at
    100 TB this reads the partition column only — column pruning
    reaches the scan), and the executor of the plan runs one
    partition-pruned materialization per flagged date."""
    cutoff = F.lit(_BACKFILL_MATERIALIZED_THROUGH).cast("date")
    avail = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    needs = F.col("event_date") > cutoff
    return avail.select(
        "event_date",
        "n_events",
        "n_users",
        needs.alias("needs_backfill"),
        F.when(needs, F.datediff(F.col("event_date"), cutoff))
        .otherwise(0)
        .cast("int")
        .alias("backfill_priority"),
    )


_K_ANON = 10


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
        FROM customer
        GROUP BY 1, 2
    ), tot AS (SELECT COUNT(*) AS n FROM customer)
    SELECT
        {_K_ANON} AS k,
        COUNT(*) AS n_groups,
        COUNT(*) FILTER (WHERE group_size < {_K_ANON}) AS n_small_groups,
        CAST(COALESCE(SUM(group_size) FILTER (WHERE group_size < {_K_ANON}), 0)
             AS BIGINT) AS n_rows_at_risk,
        CAST(ROUND(COALESCE(SUM(group_size) FILTER (WHERE group_size < {_K_ANON}), 0)
             * 100.0 / (SELECT n FROM tot), 6) AS DOUBLE) AS pct_rows_at_risk,
        MIN(group_size) AS min_group_size
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release audit: k-anonymity over the quasi-identifier
    set (nationkey, mktsegment) — a record is re-identifiable when
    its QI combination is shared by fewer than k rows.  One groupBy
    over the QI columns then one scalar rollup; at 100 TB the first
    aggregate is the only shuffle and partial (map-side) combine does
    most of the work since QI cardinality is tiny.  The training-data
    analog gates dataset release the way quality_expectation_suite
    gates ingestion."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("group_size")
    )
    small = F.col("group_size") < _K_ANON
    return g.agg(
        F.lit(_K_ANON).alias("k"),
        F.count("*").alias("n_groups"),
        F.sum(small.cast("int")).alias("n_small_groups"),
        F.coalesce(F.sum(F.when(small, F.col("group_size"))), F.lit(0)).alias(
            "n_rows_at_risk"
        ),
        F.round(
            F.coalesce(F.sum(F.when(small, F.col("group_size"))), F.lit(0))
            * 100.0
            / F.sum("group_size"),
            6,
        )
        .cast("double")
        .alias("pct_rows_at_risk"),
        F.min("group_size").alias("min_group_size"),
    )


#: l-diversity requirement: every quasi-identifier group must contain
#: at least this many distinct sensitive-attribute values.
_L_DIVERSITY = 3
#: Fixed-width sensitive bucketing of account balance (the sensitive
#: attribute stand-in): deterministic, so the audit is oracle-exact.
_SENSITIVE_BUCKET_WIDTH = 2500


@register(
    "l_diversity_audit",
    oracle=f"""
    WITH s AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {_SENSITIVE_BUCKET_WIDTH}) AS INTEGER)
                   AS sensitive_bucket
        FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS group_size,
           CAST(COUNT(DISTINCT sensitive_bucket) AS BIGINT) AS n_sensitive,
           COUNT(DISTINCT sensitive_bucket) >= {_L_DIVERSITY} AS is_diverse
    FROM s
    GROUP BY 1, 2
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity companion to :func:`k_anonymity_audit`
    (Machanavajjhala et al. 2007): k-anonymity alone leaves a
    quasi-identifier group attackable when everyone in it shares the
    same sensitive value, so this audit reports, per QI group
    (nation × market segment), how many DISTINCT sensitive-attribute
    buckets it contains and whether it meets l ≥ 3.  One shuffle on
    the QI key; exact distinct over the small per-group bucket domain
    collapses map-side."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / _SENSITIVE_BUCKET_WIDTH).cast("int")
    return (
        c.select("c_nationkey", "c_mktsegment", bucket.alias("sensitive_bucket"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("sensitive_bucket").alias("n_sensitive"),
            (F.countDistinct("sensitive_bucket") >= _L_DIVERSITY).alias(
                "is_diverse"
            ),
        )
    )


@register(
    "doc_length_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT lang, CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS med
        FROM documents GROUP BY 1
    ),
    dev AS (
        SELECT d.doc_id, d.lang, d.n_chars, m.med,
               ABS(d.n_chars - m.med) AS adev
        FROM documents d JOIN med m ON d.lang = m.lang
    ),
    mad AS (
        SELECT lang, CAST(quantile_disc(adev, 0.5) AS BIGINT) AS mad FROM dev GROUP BY 1
    )
    SELECT v.doc_id, v.lang, v.n_chars, v.med, a.mad,
           CASE WHEN a.mad > 0
                THEN CAST(FLOOR(1000.0 * v.adev / a.mad) AS BIGINT)
                ELSE NULL END AS robust_z_e3
    FROM dev v JOIN mad a ON v.lang = a.lang
    WHERE v.adev > 2 * a.mad
    """,
)
def doc_length_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length outliers — median/MAD instead of
    mean/stddev, so a heavy tail can't drag its own detection
    threshold (the classic failure of z-scores on crawl corpora,
    where truncation artifacts and concatenation bugs ARE the tail).
    Flags every document whose |length − median| exceeds 2×MAD (the synthetic corpus' lognormal-ish lengths cap the ratio near 2.7, so the classic 3× gate would assert an empty set).

    Determinism by construction: discrete quantiles of integers are
    observed integers, the 2×MAD comparison is integer arithmetic,
    and the emitted robust-z is one IEEE divide on exact integers
    floored to e3 units — no float-sum flake class anywhere.

    Scale shape: two grouped discrete quantiles (|langs| groups) with
    the per-lang medians/MADs broadcast back — the corpus shuffles on
    ``lang`` for the quantile sorts and is never self-joined; at
    100 TB swap the exact quantiles for ``approx_percentile`` with
    the same call sites."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    med = docs.groupBy("lang").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("med")
    )
    dev = docs.join(F.broadcast(med), "lang").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.groupBy("lang").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .cast("bigint")
        .alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .filter(F.col("adev") > 2 * F.col("mad"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "med",
            "mad",
            F.when(
                F.col("mad") > 0,
                F.floor(1000.0 * F.col("adev") / F.col("mad")).cast("bigint"),
            ).alias("robust_z_e3"),
        )
    )


# --- Benford first-digit conformance audit --------------------------

import math as _math

#: Benford shares log10(1 + 1/d) injected as identical literals into
#: BOTH engines' queries — never computed at runtime, so cross-engine
#: libm log10 last-ulp drift cannot exist by construction.
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    p_case = " ".join(
        f"WHEN {d} THEN CAST({_BENFORD_P[d]!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"""
    WITH digits AS (
        SELECT o_orderpriority AS priority,
               CAST(SUBSTRING(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
    ),
    grp AS (
        SELECT priority, digit, COUNT(*) AS n_obs
        FROM digits GROUP BY 1, 2
    ),
    tot AS (
        SELECT priority, SUM(n_obs) AS n_grp FROM grp GROUP BY 1
    )
    SELECT g.priority, g.digit,
           g.n_obs,
           ROUND(CAST(g.n_obs AS DOUBLE) / CAST(t.n_grp AS DOUBLE), 6)
               AS obs_share,
           ROUND(CASE g.digit {p_case} END, 6) AS benford_share,
           ROUND(
               (CAST(g.n_obs AS DOUBLE)
                - CAST(t.n_grp AS DOUBLE) * (CASE g.digit {p_case} END))
               * (CAST(g.n_obs AS DOUBLE)
                  - CAST(t.n_grp AS DOUBLE) * (CASE g.digit {p_case} END))
               / (CAST(t.n_grp AS DOUBLE) * (CASE g.digit {p_case} END)),
               6) AS chi2_term
    FROM grp g JOIN tot t USING (priority)
    """


@register("benford_digit_audit", oracle=_benford_oracle())
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals, per
    priority class: observed leading-digit counts and shares against
    the log10(1+1/d) expectation, with per-digit chi-square terms —
    the standard forensic-accounting screen for fabricated or
    truncated monetary data (a synthetic uniform generator fails it
    loudly; the audit quantifies HOW, digit by digit).

    Determinism: digit extraction goes through CAST(DECIMAL(18,2) AS
    string) — identical plain rendering in both engines (double
    formatting is NOT; the decimal hop sidesteps it).  The nine
    Benford shares are baked into both queries as identical literals
    (see ``_BENFORD_P``), so expected counts and chi-square terms are
    the same IEEE expression over exact integers on both sides —
    runtime log10 never runs.

    Scale shape: one partial-aggregated pass collapses the fact table
    to <= 9 rows per group; the group-total join is a broadcast of a
    handful of rows.  Zero wide shuffles, no sort."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    grp = (
        o.select(F.col("o_orderpriority").alias("priority"), digit.alias("digit"))
        .groupBy("priority", "digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = grp.groupBy("priority").agg(F.sum("n_obs").alias("n_grp"))
    p = F.col("digit")
    bshare = F.when(p == 1, F.lit(_BENFORD_P[1]))
    for d in range(2, 10):
        bshare = bshare.when(p == d, F.lit(_BENFORD_P[d]))
    exp = F.col("n_grp").cast("double") * bshare
    dev = F.col("n_obs").cast("double") - exp
    return grp.join(F.broadcast(tot), "priority").select(
        "priority",
        "digit",
        "n_obs",
        F.round(
            F.col("n_obs").cast("double") / F.col("n_grp").cast("double"), 6
        ).alias("obs_share"),
        F.round(bshare, 6).alias("benford_share"),
        F.round(dev * dev / exp, 6).alias("chi2_term"),
    )


# --- Hash-bucket experiment assignment + sample-ratio-mismatch ------

_AB_SEED = 31
#: (arm, weight%) — weights sum to 100; bucket = hash % 100.
_AB_ARMS = (("control", 50), ("treat_a", 30), ("treat_b", 20))
#: lcm of the weights, for the exact common-denominator chi-square.
_AB_LCM = 300
#: chi-square 95th percentile at k-1 = 2 degrees of freedom.
_AB_CHI2_CRIT = 5.991


def _ab_oracle() -> str:
    h = PORTABLE_HASH64_SQL("CAST(c_custkey AS VARCHAR)", _AB_SEED)
    cuts, acc, cases = [], 0, []
    for arm, wgt in _AB_ARMS:
        acc += wgt
        cuts.append(acc)
        cases.append(f"WHEN bucket < {acc} THEN '{arm}'")
    arm_w = " ".join(
        f"WHEN '{arm}' THEN {wgt}" for arm, wgt in _AB_ARMS
    )
    return f"""
    WITH assign AS (
        SELECT c_custkey AS user_id,
               CASE {" ".join(cases)} END AS arm
        FROM (SELECT c_custkey, ({h}) % 100 AS bucket FROM customer)
    ),
    conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    per_arm AS (
        SELECT a.arm, (CASE a.arm {arm_w} END) AS w,
               COUNT(*) AS n_users,
               SUM(CASE WHEN cv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_converters
        FROM assign a LEFT JOIN conv cv ON a.user_id = cv.user_id
        GROUP BY 1
    ),
    tot AS (SELECT SUM(n_users) AS n FROM per_arm),
    terms AS (
        SELECT p.arm, p.w, p.n_users, p.n_converters, t.n,
               (100 * p.n_users - t.n * p.w)
                   * (100 * p.n_users - t.n * p.w) AS num,
               (100 * p.n_users - t.n * p.w)
                   * (100 * p.n_users - t.n * p.w)
                   * ({_AB_LCM} / p.w) AS num_scaled
        FROM per_arm p CROSS JOIN tot t
    ),
    chi AS (
        SELECT CAST(SUM(num_scaled) AS DOUBLE)
               / (100.0 * {_AB_LCM} * MAX(n)) AS chi2
        FROM terms
    )
    SELECT t.arm,
           t.n_users,
           CAST(t.n * t.w AS DOUBLE) / 100.0 AS expected_users,
           ROUND(CAST(t.num AS DOUBLE) / (100.0 * t.n * t.w), 6)
               AS chi2_term,
           ROUND(c.chi2, 6) AS srm_chi2,
           c.chi2 > {_AB_CHI2_CRIT} AS srm_flag,
           ROUND(CAST(t.n_converters AS DOUBLE)
                 / CAST(t.n_users AS DOUBLE), 6) AS conv_rate
    FROM terms t CROSS JOIN chi c
    """


@register("ab_assignment_srm_audit", oracle=_ab_oracle())
def ab_assignment_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket experiment assignment with a
    sample-ratio-mismatch (SRM) audit — the first gate every
    experimentation platform runs before reading a metric: users land
    in arms by ``portable_hash64(user_id) % 100`` against 50/30/20
    weight cutoffs (stable, coordination-free, re-derivable anywhere),
    and the realized arm counts are chi-square-tested against the
    design weights.  An SRM flag firing means assignment or logging is
    broken and every downstream readout is invalid (Fabijan et al.'s
    "most dangerous bug in experimentation").  Per-arm conversion
    (>= 1 purchase) rides along as the example readout.

    Determinism: bucketing is the portable 60-bit hash both engines
    compute identically; the chi-square statistic is assembled from
    the EXACT integer (100*obs - n*w)^2 terms over the lcm common
    denominator — one IEEE divide at the end, so even the boundary
    comparison against the 5.991 critical value is the same double in
    both engines.  Expected counts are n*w/100 with an
    integer numerator exactly representable in DOUBLE, so the one
    divide is the same IEEE op in both engines (a DECIMAL emission
    would land as pandas objects on one side and float64 on the
    other — the dtype-parity guard catches that skew).

    Scale shape: assignment is a pure map-side expression on the
    customer scan; conversion is one DISTINCT semi-frame LEFT-joined
    on the (entity-bounded) key; everything then collapses to
    |arms| = 3 rows, and the totals ride a broadcast cross join of
    single-row frames.  Zero wide shuffles beyond the one
    entity-keyed join."""
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        portable_hash64(F.col("c_custkey").cast("string"), _AB_SEED) % 100
    )
    arm = F.when(bucket < _AB_ARMS[0][1], F.lit(_AB_ARMS[0][0]))
    acc = _AB_ARMS[0][1]
    for name, wgt in _AB_ARMS[1:]:
        acc += wgt
        arm = arm.when(bucket < acc, F.lit(name))
    assign = c.select(F.col("c_custkey").alias("user_id"), arm.alias("arm"))
    conv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    w_map = F.create_map(
        *[x for a, wg in _AB_ARMS for x in (F.lit(a), F.lit(wg))]
    )
    per_arm = (
        assign.join(F.broadcast(conv), "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("n_converters"),
        )
        .withColumn("w", w_map[F.col("arm")])
    )
    tot = per_arm.agg(F.sum("n_users").alias("n"))
    dev = 100 * F.col("n_users") - F.col("n") * F.col("w")
    terms = per_arm.crossJoin(F.broadcast(tot)).select(
        "arm",
        "w",
        "n_users",
        "n_converters",
        "n",
        (dev * dev).alias("num"),
        (dev * dev * (_AB_LCM / F.col("w")).cast("bigint")).alias("num_scaled"),
    )
    chi = terms.agg(
        (
            F.sum("num_scaled").cast("double")
            / (F.lit(100.0) * _AB_LCM * F.max("n"))
        ).alias("chi2")
    )
    return terms.crossJoin(F.broadcast(chi)).select(
        "arm",
        "n_users",
        ((F.col("n") * F.col("w")).cast("double") / F.lit(100.0)).alias(
            "expected_users"
        ),
        F.round(
            F.col("num").cast("double")
            / (F.lit(100.0) * F.col("n") * F.col("w")),
            6,
        ).alias("chi2_term"),
        F.round(F.col("chi2"), 6).alias("srm_chi2"),
        (F.col("chi2") > _AB_CHI2_CRIT).alias("srm_flag"),
        F.round(
            F.col("n_converters").cast("double") / F.col("n_users").cast("double"),
            6,
        ).alias("conv_rate"),
    )


#: Per-user daily contribution cap for the DP bounding audit.  Sits
#: at ~p85 of the per-user-day purchase totals so the clipped path is
#: genuinely exercised (an unreachable cap audits nothing).
_DP_CAP = "100.00"


@register(
    "dp_contribution_bounding",
    oracle=f"""
    WITH per_user AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id,
               SUM(CAST(value AS DECIMAL(12,2))) AS contrib
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(contrib), 2) AS DOUBLE) AS raw_sum,
           CAST(ROUND(SUM(LEAST(contrib, CAST({_DP_CAP} AS DECIMAL(12,2)))), 2)
               AS DOUBLE) AS bounded_sum,
           CAST(SUM(CASE WHEN contrib > {_DP_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped,
           ROUND(CAST(SUM(CASE WHEN contrib > {_DP_CAP} THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS clipped_share,
           CAST(ROUND(SUM(contrib)
                      - SUM(LEAST(contrib, CAST({_DP_CAP} AS DECIMAL(12,2)))), 2)
               AS DOUBLE) AS clip_bias,
           CAST({_DP_CAP} AS DOUBLE) AS l1_sensitivity
    FROM per_user
    GROUP BY 1
    """,
)
def dp_contribution_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy contribution bounding audit — the
    preprocessing step every user-level-DP aggregate release needs
    (Wilson et al. 2020, "Differentially Private SQL with Bounded
    User Contribution"): cap each user's per-day contribution at
    ``_DP_CAP`` so the day-level sum has a known L1 sensitivity, and
    report what the cap costs.  Per day: raw vs bounded sum, users
    clipped, clipped share, and the bias the clamp introduces — the
    numbers that pick the cap in a privacy/utility trade-off (the
    noise scale a Laplace mechanism would add is sensitivity/ε; the
    clamp bias is the deterministic side of that trade).  The noise
    draw itself is out of scope by design — it is random, and every
    released number here is the EXACT pre-noise accounting both
    engines can agree on.

    Privacy family: [[k_anonymity_audit]], [[l_diversity_audit]],
    ``pii_scrub``, ``gdpr_deletion_audit``.

    Scale: two hash aggregates — (day, user) then day — both with
    map-side partial aggregation over exact DECIMAL; no windows, no
    joins, no skew exposure beyond genuine hot days (and the first
    groupBy key composes user_id, which spreads them)."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    cap = F.lit(_DP_CAP).cast("decimal(12,2)")
    per_user = e.groupBy(
        F.to_date("ts").alias("day"), "user_id"
    ).agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("contrib"))
    return per_user.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.sum("contrib"), 2).cast("double").alias("raw_sum"),
        F.round(F.sum(F.least(F.col("contrib"), cap)), 2)
        .cast("double")
        .alias("bounded_sum"),
        F.sum(F.when(F.col("contrib") > cap, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
        F.round(
            F.sum(F.when(F.col("contrib") > cap, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("clipped_share"),
        F.round(
            F.sum("contrib") - F.sum(F.least(F.col("contrib"), cap)), 2
        )
        .cast("double")
        .alias("clip_bias"),
        F.lit(float(_DP_CAP)).alias("l1_sensitivity"),
    )


#: Discrete-Laplace release mechanism: per-cell ε, truncation span,
#: hash seed, and the inverse-CDF threshold ladder (computed once at
#: definition time, inlined as INTEGER literals in both engines — the
#: _BOOT_CDF_E9 discipline; zero libm at query time).  With α=e^-ε,
#: P(X=k) ∝ α^|k|; CDF F(k) = α^-k/(1+α) for k<0, 1 − α^(k+1)/(1+α)
#: for k≥0.  Noise = −K + #thresholds ≤ u for u uniform on [0, 1e9);
#: at K=45 the untruncated tail mass (~α^46 ≈ 5e-10) is below the
#: 1e-9 hash resolution, so the ladder IS the inverse CDF at this
#: resolution.
_DPH_EPS = 0.5
_DPH_K = 45
_DPH_SEED = 9400


def _dlap_thresholds_e9() -> tuple[int, ...]:
    import math

    a = math.exp(-_DPH_EPS)

    def cdf(k: int) -> float:
        if k < 0:
            return a ** (-k) / (1 + a)
        return 1 - a ** (k + 1) / (1 + a)

    return tuple(
        int(math.floor(cdf(k) * 1e9)) for k in range(-_DPH_K, _DPH_K)
    )


_DPH_THRESH_E9 = _dlap_thresholds_e9()


@register(
    "dp_histogram_release",
    oracle=f"""
    WITH c AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS true_n
        FROM events
        GROUP BY 1, 2
    ),
    u AS (
        SELECT day, event_type, true_n,
               {PORTABLE_HASH64_SQL(
                   "CAST(day AS VARCHAR) || '|' || event_type", _DPH_SEED
               )} % 1000000000 AS u
        FROM c
    ),
    n AS (
        SELECT day, event_type, true_n,
               -{_DPH_K} + len(list_filter(
                   [{", ".join(str(t) for t in _DPH_THRESH_E9)}],
                   t -> u >= t)) AS noise
        FROM u
    )
    SELECT day, event_type, true_n,
           CAST(noise AS BIGINT) AS noise,
           CAST(true_n + noise AS BIGINT) AS released,
           CAST(GREATEST(true_n + noise, 0) AS BIGINT) AS released_nonneg
    FROM n
    """,
)
def dp_histogram_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram RELEASE — the mechanism step
    [[dp_contribution_bounding]] deliberately stops short of: per
    (day, event_type) cell, the event count plus discrete-Laplace
    noise at ε={_DPH_EPS} (Ghosh–Roughgarden–Sundararajan 2012: the
    geometric mechanism is universally utility-optimal for counts).
    Every event lands in exactly ONE cell, so event-level neighbors
    change one cell by 1 — Δ=1 per cell and PARALLEL composition
    across cells: the whole table costs ε={_DPH_EPS}, not 150ε.  The
    released_nonneg column is the standard post-processing clamp
    (free under DP).  Measured signal (r11, sf0.01): 150 cells with
    true counts 47–86 vs noise scale 1/ε=2 — SNR high, so the audit
    reads calibration (noise behaves as designed), not signal burial.

    Determinism: the draw is the house portable-randomness idiom —
    u = portable 60-bit MD5 of the cell key mod 1e9, pushed through
    the discrete-Laplace inverse CDF as a precomputed INTEGER
    threshold ladder (the [[order_value_bootstrap_ci]] Poisson-CDF
    discipline); both engines count the same thresholds, so the
    "random" noise is bit-identical and the release oracle-checkable.
    A production deployment swaps the hash for a secret-keyed PRF —
    one argument, same plan.

    Scale shape: one hash aggregate to |days|×|types| cells, then a
    map-side fold over a 90-literal array per cell — no joins, no
    windows, nothing data-sized after the aggregate."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("true_n"))
    u = (
        portable_hash64(
            F.concat_ws(
                "|", F.col("day").cast("string"), F.col("event_type")
            ),
            seed=_DPH_SEED,
        )
        % 1_000_000_000
    )
    thresh = F.array(*[F.lit(t) for t in _DPH_THRESH_E9])
    noise = F.lit(-_DPH_K) + F.size(
        F.filter(thresh, lambda t: u >= t)
    )
    released = F.col("true_n") + F.col("noise")
    return (
        c.withColumn("noise", noise.cast("bigint"))
        .select(
            "day",
            "event_type",
            "true_n",
            "noise",
            released.cast("bigint").alias("released"),
            F.greatest(released, F.lit(0)).cast("bigint").alias(
                "released_nonneg"
            ),
        )
    )


@register(
    "online_offline_skew_audit",
    oracle="""
    WITH t AS (
        SELECT date_trunc('hour', MAX(ts)) AS t2,
               date_trunc('hour', MAX(ts)) - INTERVAL 6 HOURS AS t1
        FROM events WHERE user_id IS NOT NULL
    ),
    per_user AS (
        SELECT e.user_id,
               COUNT(*) FILTER (WHERE e.ts <= t.t1) AS ev1,
               COUNT(*) FILTER (WHERE e.ts <= t.t2) AS ev2,
               COALESCE(SUM(CAST(e.value AS DECIMAL(12,2)))
                   FILTER (WHERE e.event_type = 'purchase' AND e.ts <= t.t1),
                   CAST(0 AS DECIMAL(12,2))) AS rev1,
               COALESCE(SUM(CAST(e.value AS DECIMAL(12,2)))
                   FILTER (WHERE e.event_type = 'purchase' AND e.ts <= t.t2),
                   CAST(0 AS DECIMAL(12,2))) AS rev2
        FROM events e CROSS JOIN t
        WHERE e.user_id IS NOT NULL AND e.ts <= t.t2
        GROUP BY 1
    ),
    u AS (
        SELECT 'total_events' AS feature,
               CAST(ev1 AS DECIMAL(12,2)) AS v1,
               CAST(ev2 AS DECIMAL(12,2)) AS v2,
               ev1 = 0 AS is_new
        FROM per_user
        UNION ALL
        SELECT 'total_revenue', rev1, rev2, ev1 = 0 FROM per_user
    )
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_entities,
           CAST(SUM(CASE WHEN v1 <> v2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           ROUND(CAST(SUM(CASE WHEN v1 <> v2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS changed_share,
           CAST(ROUND(MAX(ABS(v2 - v1)), 2) AS DOUBLE) AS max_abs_delta,
           CAST(ROUND(SUM(ABS(v2 - v1)), 2) AS DOUBLE) AS total_drift
    FROM u
    GROUP BY 1
    """,
)
def online_offline_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training–serving skew probe — THE feature-store consistency
    audit (Feast's core operational risk): diff the feature values an
    online store frozen at watermark T1 would serve against the
    offline recomputation at T2 = T1 + 6 h, per feature.  Reports
    entity coverage, entities whose value changed in (T1, T2]
    (= stale online reads), new entities the frozen snapshot cannot
    serve at all, the worst-case and total absolute drift.  A serving
    stack alerts on these numbers to decide materialization cadence;
    a zero-row diff is what [[incremental_feature_update]]'s
    convergence gate proves for the incremental path.

    Watermarks are DERIVED from the data (hour-floored max event
    time) so the audit is deterministic and replayable on any slice —
    the reference's current_timestamp-based freshness check is the
    non-replayable form (P6 policy, SURVEY Appendix).

    Exactness: both feature versions accumulate in one conditional
    hash aggregate over exact DECIMAL / BIGINT; deltas and shares are
    exact until the single rounded emission.

    Scale: ONE scan of the fact table (both watermarks are
    conditional aggregates in the same pass — never two scans diffed
    by join), one user-keyed hash aggregate, then a 2× map-side
    unpivot of the 150-row-per-sf entity frame and a 2-row rollup."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    t = e.agg(
        F.date_trunc("hour", F.max("ts")).alias("t2"),
        (F.date_trunc("hour", F.max("ts")) - F.expr("INTERVAL 6 HOURS")).alias(
            "t1"
        ),
    )
    dec0 = F.lit("0").cast("decimal(12,2)")
    per_user = (
        e.crossJoin(F.broadcast(t))
        .filter(F.col("ts") <= F.col("t2"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") <= F.col("t1"), 1).otherwise(0)).alias(
                "ev1"
            ),
            F.count("*").alias("ev2"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") == "purchase")
                        & (F.col("ts") <= F.col("t1")),
                        F.col("value").cast("decimal(12,2)"),
                    )
                ),
                dec0,
            ).alias("rev1"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("value").cast("decimal(12,2)"),
                    )
                ),
                dec0,
            ).alias("rev2"),
        )
    )
    u = per_user.select(
        F.expr(
            "stack(2, "
            "'total_events', CAST(ev1 AS DECIMAL(22,2)), CAST(ev2 AS DECIMAL(22,2)), "
            "'total_revenue', rev1, rev2) AS (feature, v1, v2)"
        ),
        (F.col("ev1") == 0).alias("is_new"),
    )
    return u.groupBy("feature").agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_entities"),
        F.sum(F.when(F.col("v1") != F.col("v2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_changed"),
        F.round(
            F.sum(F.when(F.col("v1") != F.col("v2"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("changed_share"),
        F.round(F.max(F.abs(F.col("v2") - F.col("v1"))), 2)
        .cast("double")
        .alias("max_abs_delta"),
        F.round(F.sum(F.abs(F.col("v2") - F.col("v1"))), 2)
        .cast("double")
        .alias("total_drift"),
    )


@register(
    "cross_table_consistency_audit",
    oracle="""
    WITH checks AS (
        SELECT 'orders.o_custkey -> customer' AS check_name,
               (SELECT COUNT(*) FROM orders) AS n_checked,
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) AS n_violations
        UNION ALL
        SELECT 'lineitem.l_orderkey -> orders',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem.l_partkey -> part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'events.user_id -> customer',
               (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL),
               (SELECT COUNT(*) FROM events e
                WHERE e.user_id IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = e.user_id))
        UNION ALL
        SELECT 'customer without any order (informational)',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_custkey = c.c_custkey))
        UNION ALL
        SELECT 'lineitem.l_shipdate >= orders.o_orderdate',
               (SELECT COUNT(*) FROM lineitem l JOIN orders o
                  ON l.l_orderkey = o.o_orderkey),
               (SELECT COUNT(*) FROM lineitem l JOIN orders o
                  ON l.l_orderkey = o.o_orderkey
                WHERE l.l_shipdate < o.o_orderdate)
        UNION ALL
        SELECT 'orders.o_orderstatus consistent with lineitem.l_linestatus',
               (SELECT COUNT(*) FROM (
                    SELECT o.o_orderkey FROM orders o
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                    GROUP BY 1)),
               (SELECT COUNT(*) FROM (
                    SELECT o.o_orderkey, o.o_orderstatus,
                           COUNT(*) AS n,
                           SUM(CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END) AS nf
                    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                    GROUP BY 1, 2)
                WHERE (o_orderstatus = 'F' AND nf <> n)
                   OR (o_orderstatus = 'O' AND nf <> 0)
                   OR (o_orderstatus = 'P' AND (nf = 0 OR nf = n)))
        UNION ALL
        SELECT 'lineitem.l_linenumber contiguous 1..n per order',
               (SELECT COUNT(*) FROM (
                    SELECT l_orderkey FROM lineitem GROUP BY 1)),
               (SELECT COUNT(*) FROM (
                    SELECT l_orderkey, COUNT(*) AS n,
                           MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx,
                           COUNT(DISTINCT l_linenumber) AS nd
                    FROM lineitem GROUP BY 1)
                WHERE mn <> 1 OR mx <> n OR nd <> n)
    )
    SELECT check_name,
           CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           ROUND(CAST(n_violations AS DOUBLE) / NULLIF(n_checked, 0), 6)
               AS violation_share,
           n_violations = 0 AS passed
    FROM checks
    """,
)
def cross_table_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style cross-table consistency pack — the relationship
    tests the single-table GE suite ([[quality_expectation_suite]])
    cannot express: four FK orphan gates (orders→customer,
    lineitem→orders, lineitem→part, events→customer), the
    childless-parent tally, a cross-table TEMPORAL rule
    (l_shipdate ≥ o_orderdate), the order/lineitem STATUS
    state-machine rule (F→all lines final, O→none, P→mixed), and the
    SEQUENCE-completeness rule (l_linenumber contiguous 1..n per
    order — the dbt "sequential values" test).  On the driver's testdata the FK
    edges are clean but the temporal gate is genuinely red — ~49% of
    lineitems "ship" before their order date (the generator draws the
    two dates independently), which is exactly the class of silent
    upstream bug this audit exists to surface before a feature
    derives lead-times from those columns.

    Scale: each FK gate is one LEFT ANTI-shaped aggregate (the probe
    side scans once; parent key sets broadcast when small, shuffle
    otherwise — Catalyst's choice); the temporal gate is the
    fact-to-fact equi-join the engine already optimizes.  Checks
    evaluate independently and union an 8-row report — at 100 TB you
    run the pack per partition-day and trend the shares."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    def gate(name, child, key, parent, pkey):
        """One-row lazy gate: total probes + LEFT-join orphan tally —
        never a driver-side count; the six gates union into one plan."""
        p = parent.withColumnRenamed(pkey, "__pk").distinct()
        return (
            child.join(p, child[key] == F.col("__pk"), "left")
            .agg(
                F.lit(name).alias("check_name"),
                F.count("*").cast("long").alias("n_checked"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_violations"),
            )
        )

    temporal = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        ).agg(
            F.lit("lineitem.l_shipdate >= orders.o_orderdate").alias("check_name"),
            F.count("*").cast("long").alias("n_checked"),
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_violations"),
        )
    )
    per_order = (
        li.select("l_orderkey", "l_linestatus")
        .join(
            orders.select("o_orderkey", "o_orderstatus"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias(
                "nf"
            ),
        )
    )
    bad = (
        ((F.col("o_orderstatus") == "F") & (F.col("nf") != F.col("n")))
        | ((F.col("o_orderstatus") == "O") & (F.col("nf") != 0))
        | (
            (F.col("o_orderstatus") == "P")
            & ((F.col("nf") == 0) | (F.col("nf") == F.col("n")))
        )
    )
    status = per_order.agg(
        F.lit(
            "orders.o_orderstatus consistent with lineitem.l_linestatus"
        ).alias("check_name"),
        F.count("*").cast("long").alias("n_checked"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_violations"),
    )
    per_lines = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n"),
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
        F.countDistinct("l_linenumber").alias("nd"),
    )
    lineno = per_lines.agg(
        F.lit("lineitem.l_linenumber contiguous 1..n per order").alias(
            "check_name"
        ),
        F.count("*").cast("long").alias("n_checked"),
        F.sum(
            F.when(
                (F.col("mn") != 1)
                | (F.col("mx") != F.col("n"))
                | (F.col("nd") != F.col("n")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    )
    out = (
        gate("orders.o_custkey -> customer", orders, "o_custkey", cust, "c_custkey")
        .unionAll(
            gate(
                "lineitem.l_orderkey -> orders",
                li,
                "l_orderkey",
                orders.select("o_orderkey"),
                "o_orderkey",
            )
        )
        .unionAll(gate("lineitem.l_partkey -> part", li, "l_partkey", part, "p_partkey"))
        .unionAll(gate("events.user_id -> customer", ev, "user_id", cust, "c_custkey"))
        .unionAll(
            gate(
                "customer without any order (informational)",
                cust,
                "c_custkey",
                orders.select("o_custkey"),
                "o_custkey",
            )
        )
        .unionAll(temporal)
        .unionAll(status)
        .unionAll(lineno)
    )
    return out.select(
        "check_name",
        "n_checked",
        "n_violations",
        F.round(
            F.col("n_violations").cast("double")
            / F.nullif(F.col("n_checked"), F.lit(0)).cast("double"),
            6,
        ).alias("violation_share"),
        (F.col("n_violations") == 0).alias("passed"),
    )


#: Dim-side row budget under which the advisor recommends a broadcast
#: join (stand-in for spark.sql.autoBroadcastJoinThreshold's row
#: equivalent at this SF; the 100 TB value is a byte budget).
_ADVISOR_BROADCAST_ROWS = 100000
#: max/avg key-multiplicity ratio above which the advisor flags the
#: shuffle key for salting / AQE skew-join handling.
_ADVISOR_SKEW_RATIO = 10.0


#: The schema's fact→dim FK relations — the ONE shared table both the
#: advisor's oracle and its Spark loop derive from (ADVICE r9: the two
#: lists had drifted into 4- vs 3-tuples with an unused dim-key).
_FK_RELATIONS = (
    ("lineitem", "l_orderkey", "orders"),
    ("lineitem", "l_partkey", "part"),
    ("lineitem", "l_suppkey", "supplier"),
    ("orders", "o_custkey", "customer"),
    ("customer", "c_nationkey", "nation"),
    ("supplier", "s_nationkey", "nation"),
)


def _fk_profile_sql(fact: str, key: str, dim: str) -> str:
    return f"""
    SELECT '{fact}.{key}' AS fk,
           '{dim}' AS dim_table,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {fact}) AS fact_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {dim}) AS dim_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           FLOOR(CAST(MAX(c) AS DOUBLE)
                 / (CAST(SUM(c) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5)
               / 10000.0 AS skew_ratio,
           CASE WHEN (SELECT COUNT(*) FROM {dim})
                     <= {_ADVISOR_BROADCAST_ROWS}
                THEN 'broadcast'
                WHEN CAST(MAX(c) AS DOUBLE)
                     / (CAST(SUM(c) AS DOUBLE) / COUNT(*))
                     > {_ADVISOR_SKEW_RATIO}
                THEN 'sort_merge_salted'
                ELSE 'sort_merge' END AS strategy
    FROM (SELECT {key} AS k, COUNT(*) AS c FROM {fact}
          WHERE {key} IS NOT NULL GROUP BY 1)
    """


@register(
    "fk_join_skew_advisor",
    oracle=" UNION ALL ".join(
        _fk_profile_sql(f, k, d) for f, k, d in _FK_RELATIONS
    ),
)
def fk_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisor over the schema's FK graph — the
    join-planning sibling of the layout advisors
    ([[zorder_layout_plan]], [[partition_compaction_plan]],
    [[file_skipping_stats]]): for each fact→dim relation, the fact
    and dim cardinalities, distinct-key count, heaviest-key
    multiplicity, the max/avg skew ratio, and the recommended
    physical strategy — ``broadcast`` when the dim side fits the
    broadcast budget, else sort-merge, with ``_salted`` appended when
    the shuffle key's skew ratio crosses the salting threshold (the
    decision table a 100 TB pipeline derives once per schema and
    feeds its AQE/salting config from; `functions/skew.py` is the
    remediation toolkit the verdicts point at).

    Exactness: every statistic is an exact integer aggregate; the one
    ratio is a fixed IEEE divide emitted via the floor ladder, and
    the strategy CASE compares the UNROUNDED ratio identically in
    both engines.

    Scale shape: one per-key hash aggregate per relation (map-side
    combine collapses hot keys early) re-aggregated to a single row,
    plus two COUNT(*) scalar attachments; the six relation rows union
    into one plan — no joins anywhere, nothing driver-side."""
    out = None
    for fact, key, dim in _FK_RELATIONS:
        f = load_table(spark, sf_dir, fact)
        d = load_table(spark, sf_dir, dim)
        fact_rows = f.agg(F.count("*").alias("fact_rows"))
        dim_rows = d.agg(F.count("*").alias("dim_rows"))
        per_key = (
            f.filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count("*").alias("c"))
            .agg(
                F.count("*").alias("n_keys"),
                F.max("c").alias("max_key_rows"),
                F.sum("c").alias("sum_c"),
            )
        )
        ratio = F.col("max_key_rows").cast("double") / (
            F.col("sum_c").cast("double") / F.col("n_keys")
        )
        row = (
            per_key.crossJoin(F.broadcast(fact_rows))
            .crossJoin(F.broadcast(dim_rows))
            .select(
                F.lit(f"{fact}.{key}").alias("fk"),
                F.lit(dim).alias("dim_table"),
                F.col("fact_rows").cast("bigint").alias("fact_rows"),
                F.col("dim_rows").cast("bigint").alias("dim_rows"),
                F.col("n_keys").cast("bigint").alias("n_keys"),
                F.col("max_key_rows").cast("bigint").alias("max_key_rows"),
                (F.floor(ratio * 10000.0 + 0.5) / 10000.0).alias(
                    "skew_ratio"
                ),
                F.when(
                    F.col("dim_rows") <= _ADVISOR_BROADCAST_ROWS,
                    "broadcast",
                )
                .when(ratio > _ADVISOR_SKEW_RATIO, "sort_merge_salted")
                .otherwise("sort_merge")
                .alias("strategy"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


#: Columns profiled by the dictionary-encoding advisor — low-to-mid
#: cardinality string columns where parquet dictionary encoding is a
#: real storage decision (one shared table drives the oracle AND the
#: Spark loop, the [[_FK_RELATIONS]] discipline).
_DICT_COLUMNS = (
    ("events", "event_type"),
    ("documents", "source"),
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("nation", "n_name"),
)

#: Plain-vs-dictionary ratio above which the advisor recommends
#: dictionary encoding outright (below it, down to 1.0, the call is
#: 'marginal' — dictionary still wins but not by enough to matter).
_DICT_RATIO_STRONG = 1.5


def _dict_profile_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS column_ref,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv,
           CAST(SUM(length({col})) AS BIGINT) AS plain_bytes,
           CAST((SELECT SUM(length(v)) FROM
                     (SELECT DISTINCT {col} AS v FROM {table}))
                + (COUNT(*) * length(bin(COUNT(DISTINCT {col}) - 1)) + 7)
                  // 8 AS BIGINT) AS dict_bytes,
           FLOOR(CAST(SUM(length({col})) AS DOUBLE)
                 / ((SELECT SUM(length(v)) FROM
                         (SELECT DISTINCT {col} AS v FROM {table}))
                    + (COUNT(*) * length(bin(COUNT(DISTINCT {col}) - 1)) + 7)
                      // 8)
                 * 10000.0 + 0.5) / 10000.0 AS compression_ratio,
           CASE WHEN CAST(SUM(length({col})) AS DOUBLE)
                     / ((SELECT SUM(length(v)) FROM
                             (SELECT DISTINCT {col} AS v FROM {table}))
                        + (COUNT(*) * length(bin(COUNT(DISTINCT {col}) - 1))
                           + 7) // 8)
                     > {_DICT_RATIO_STRONG} THEN 'dictionary'
                WHEN CAST(SUM(length({col})) AS DOUBLE)
                     / ((SELECT SUM(length(v)) FROM
                             (SELECT DISTINCT {col} AS v FROM {table}))
                        + (COUNT(*) * length(bin(COUNT(DISTINCT {col}) - 1))
                           + 7) // 8)
                     > 1.0 THEN 'marginal'
                ELSE 'plain' END AS recommendation
    FROM {table}
    """


@register(
    "dict_encoding_advisor",
    oracle=" UNION ALL ".join(
        _dict_profile_sql(t, c) for t, c in _DICT_COLUMNS
    ),
)
def dict_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding advisor over the schema's string columns —
    the storage-layout sibling of [[zorder_layout_plan]] /
    [[partition_compaction_plan]] / [[file_skipping_stats]]: per
    column, row count, exact NDV, the plain-encoding byte mass, the
    dictionary-encoding byte mass modeled the way parquet actually
    stores it (distinct-value bytes + fixed-width indexes of
    ⌈log₂ ndv⌉ bits per row), the compression ratio, and the
    recommendation.  At 100 TB this table is what decides per-column
    ``parquet.enable.dictionary`` and flags the columns whose NDV has
    quietly outgrown dictionary pages (ratio → 1).

    Determinism: byte masses and NDV are exact integer aggregates;
    the index width comes from the binary-string length of ndv−1
    (integer-exact in both engines — no ln/log2 ulp exposure); the
    one ratio is a fixed divide through the floor ladder and the
    recommendation CASE compares the UNROUNDED ratio identically in
    both engines.

    Scale shape: one scan per profiled column feeding two hash
    aggregates (global + distinct-value) — map-side combine collapses
    low-cardinality columns to nothing; the eight 1-row profiles
    union into one plan; no joins, nothing driver-side."""
    out = None
    for table, col in _DICT_COLUMNS:
        t = load_table(spark, sf_dir, table)
        vals = t.select(F.col(col).alias("v"))
        dist_bytes = (
            vals.distinct()
            .agg(F.sum(F.length("v")).alias("dv_bytes"))
        )
        base = vals.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("v").alias("ndv"),
            F.sum(F.length("v")).alias("plain_bytes"),
        )
        bits = F.length(F.bin(F.col("ndv") - 1))
        dict_bytes = F.col("dv_bytes") + F.expr(
            "(n_rows * length(bin(ndv - 1)) + 7) div 8"
        )
        ratio = F.col("plain_bytes").cast("double") / dict_bytes
        row = (
            base.crossJoin(F.broadcast(dist_bytes))
            .select(
                F.lit(f"{table}.{col}").alias("column_ref"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("ndv").cast("bigint").alias("ndv"),
                F.col("plain_bytes").cast("bigint").alias("plain_bytes"),
                dict_bytes.cast("bigint").alias("dict_bytes"),
                (F.floor(ratio * 10000.0 + 0.5) / 10000.0).alias(
                    "compression_ratio"
                ),
                F.when(ratio > _DICT_RATIO_STRONG, "dictionary")
                .when(ratio > 1.0, "marginal")
                .otherwise("plain")
                .alias("recommendation"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


#: Acctbal coarsening width for the generalization ladder's finest
#: level (floor(acctbal / 2000) — ~6 buckets over TPC-H's
#: [-999.99, 9999.99] range).
_LADDER_BAL_WIDTH = 2000

#: The generalization ladder: level 3 = finest QI set (adds the
#: coarsened balance), level 1 = coarsest (segment only).  One shared
#: table drives the oracle and the Spark loop.
_QI_LADDER = (
    (3, "segment+nation+balband",
     ("c_mktsegment", "c_nationkey", "balband")),
    (2, "segment+nation", ("c_mktsegment", "c_nationkey")),
    (1, "segment", ("c_mktsegment",)),
)


def _ladder_level_sql(level: int, desc: str, cols: tuple) -> str:
    keys = ", ".join(cols)
    return f"""
    SELECT {level} AS qi_level,
           '{desc}' AS qi_columns,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(group_size) AS BIGINT) AS k_anonymity,
           CAST(COUNT(*) FILTER (WHERE group_size < {_K_ANON})
                AS BIGINT) AS n_small_groups,
           FLOOR(CAST(COALESCE(SUM(group_size)
                          FILTER (WHERE group_size < {_K_ANON}), 0)
                      AS DOUBLE)
                 / (SELECT COUNT(*) FROM customer)
                 * 1000000.0 + 0.5) / 1000000.0 AS suppressed_share
    FROM (
        SELECT COUNT(*) AS group_size
        FROM (SELECT *, CAST(FLOOR(c_acctbal / {_LADDER_BAL_WIDTH})
                             AS BIGINT) AS balband FROM customer)
        GROUP BY {keys}
    )
    """


@register(
    "anonymity_generalization_ladder",
    oracle=" UNION ALL ".join(
        _ladder_level_sql(lv, d, c) for lv, d, c in _QI_LADDER
    ),
)
def anonymity_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization ladder for the k-anonymity release decision —
    the design-curve sibling of [[k_anonymity_audit]] (which audits
    ONE fixed QI set): per generalization level, the group count, the
    achieved k (minimum group size), and the share of rows that would
    need suppression at the k = {k} policy.  Publishing finer
    quasi-identifiers costs anonymity — the ladder shows exactly
    where the corpus crosses the policy line (measured here: adding
    the coarsened account balance to (segment, nation) drops k from
    5 to 1 at sf0.01 — the finest level is NOT releasable, which is
    the audit's point).  The generalize-until-k-holds loop is the
    core of Sweeney's Datafly; this table is its decision input
    computed in one pass per level.

    Determinism: group sizes, minima and small-group tallies are
    exact integer aggregates; the one share is a fixed divide via the
    sign-safe floor ladder (all operands non-negative); the balance
    band floors a DECIMAL/int division identically in both engines.

    Scale shape: one map-side-combined hash aggregate per level over
    tiny QI cardinalities, re-aggregated to a single row each; the
    three 1-row profiles union into one plan — no joins, nothing
    driver-side."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "balband",
        F.floor(F.col("c_acctbal") / _LADDER_BAL_WIDTH).cast("bigint"),
    )
    total_df = cust.agg(F.count("*").alias("n_total"))
    out = None
    for level, desc, cols in _QI_LADDER:
        g = cust.groupBy(*[F.col(c) for c in cols]).agg(
            F.count("*").alias("group_size")
        )
        row = g.agg(
            F.count("*").alias("n_groups_raw"),
            F.min("group_size").alias("min_gs"),
            F.sum(F.when(F.col("group_size") < _K_ANON, 1).otherwise(0)).alias(
                "small_raw"
            ),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("group_size") < _K_ANON, F.col("group_size")
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("supp_raw"),
        ).crossJoin(F.broadcast(total_df)).select(
            F.lit(level).alias("qi_level"),
            F.lit(desc).alias("qi_columns"),
            F.col("n_groups_raw").cast("bigint").alias("n_groups"),
            F.col("min_gs").cast("bigint").alias("k_anonymity"),
            F.col("small_raw").cast("bigint").alias("n_small_groups"),
            (
                F.floor(
                    F.col("supp_raw").cast("double")
                    / F.col("n_total")
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("suppressed_share"),
        )
        out = row if out is None else out.unionAll(row)
    return out


anonymity_generalization_ladder.__doc__ = (
    anonymity_generalization_ladder.__doc__.format(k=_K_ANON)
)


#: Unit-price quantization for the dispersion audit: cents.  The
#: per-lineitem unit price is ONE IEEE divide (bit-identical in both
#: engines); flooring it to cents makes every downstream sum an exact
#: integer, so variance is order-independent.
_DISP_TOPK = 20


@register(
    "part_price_dispersion_audit",
    oracle=f"""
    WITH u AS (
        SELECT l_partkey,
               l_suppkey,
               CAST(FLOOR(l_extendedprice / l_quantity * 100.0)
                    AS BIGINT) AS qc
        FROM lineitem
        WHERE l_quantity > 0
    ),
    g AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               SUM(CAST(qc AS DECIMAL(38, 0))) AS s1,
               SUM(CAST(qc AS DECIMAL(19, 0))
                   * CAST(qc AS DECIMAL(19, 0))) AS s2
        FROM u GROUP BY 1
        HAVING COUNT(DISTINCT l_suppkey) >= 2 AND COUNT(*) >= 2
    ),
    cv AS (
        SELECT l_partkey, n_items, n_suppliers,
               FLOOR(CAST(s1 AS DOUBLE) / n_items + 0.5) / 100.0
                   AS mean_unit_price,
               FLOOR(SQRT(CAST(n_items * s2 - s1 * s1 AS DOUBLE)
                          / (CAST(n_items AS DOUBLE)
                             * CAST(n_items AS DOUBLE)))
                     / (CAST(s1 AS DOUBLE) / n_items)
                     * 10000.0 + 0.5) / 10000.0 AS price_cv
        FROM g
    )
    SELECT l_partkey, n_items, n_suppliers, mean_unit_price, price_cv
    FROM cv
    ORDER BY price_cv DESC, l_partkey
    LIMIT {_DISP_TOPK}
    """,
)
def part_price_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-supplier unit-price dispersion audit — the pricing-
    consistency sibling of [[cross_table_consistency_audit]] and
    [[order_reconciliation_audit]]: per part sold by ≥2 suppliers,
    the coefficient of variation of its per-lineitem unit price
    (``l_extendedprice / l_quantity``), surfacing the ``_DISP_TOPK``
    parts whose realized prices disagree most across suppliers —
    the feed for a pricing-anomaly review queue (measured at sf0.01:
    per-part CV runs 0.45–3.36 with mean ≈ 1.6, so the ranking
    carries real signal, not noise around zero).

    Determinism: the unit price is ONE IEEE divide, floored to exact
    integer cents map-side; Σq and Σq² accumulate in DECIMAL (exact,
    order-independent); variance and CV are fixed IEEE expressions
    over those exact integers, rounded through the sign-safe floor
    ladder (all operands non-negative); the top-k order ties on the
    ROUNDED cv break by part key, so both engines elect the same
    rows.

    Scale shape: one scan → one per-part hash aggregate with map-side
    combine (the COUNT(DISTINCT supplier) re-shuffle rides the same
    part key); TakeOrderedAndProject keeps the driver at k rows.  No
    joins — the audit never touches the part dim; at 100 TB the plan
    is a single shuffle keyed by part."""
    u = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_partkey",
            "l_suppkey",
            F.floor(
                F.col("l_extendedprice") / F.col("l_quantity") * 100.0
            )
            .cast("bigint")
            .alias("qc"),
        )
    )
    g = (
        u.groupBy("l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
            F.sum(F.col("qc").cast("decimal(38,0)")).alias("s1"),
            F.sum(
                F.col("qc").cast("decimal(19,0)")
                * F.col("qc").cast("decimal(19,0)")
            ).alias("s2"),
        )
        .filter((F.col("n_suppliers") >= 2) & (F.col("n_items") >= 2))
    )
    mean_price = F.floor(
        F.col("s1").cast("double") / F.col("n_items") + 0.5
    ) / 100.0
    cv = (
        F.floor(
            F.sqrt(
                F.expr(
                    "CAST(n_items * s2 - s1 * s1 AS DOUBLE)"
                    " / (CAST(n_items AS DOUBLE)"
                    " * CAST(n_items AS DOUBLE))"
                )
            )
            / (F.col("s1").cast("double") / F.col("n_items"))
            * 10000.0
            + 0.5
        )
        / 10000.0
    )
    return (
        g.select(
            "l_partkey",
            "n_items",
            "n_suppliers",
            mean_price.alias("mean_unit_price"),
            cv.alias("price_cv"),
        )
        .orderBy(F.col("price_cv").desc(), "l_partkey")
        .limit(_DISP_TOPK)
    )


#: Approximate-FD candidate set: the ONE shared table both the
#: oracle and the Spark loop derive from (the [[_FK_RELATIONS]] /
#: [[_DICT_COLUMNS]] discipline).  Chosen by measurement: g3 errors
#: span 0.31-0.77 at sf0.01, so the audit ranks real violation
#: regimes rather than reporting a wall of identical 1.0s.
_FD_CANDIDATES = (
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem", "l_partkey", "l_returnflag"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("events", "user_id", "event_type"),
    ("part", "p_brand", "p_type"),
    ("documents", "source", "lang"),
)


def _fd_profile_sql(tab: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{tab}.{lhs}->{rhs}' AS fd,
           CAST(SUM(tot) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (WHERE ndv > 1) AS BIGINT)
               AS n_violating_groups,
           FLOOR(CAST(COUNT(*) FILTER (WHERE ndv > 1) AS DOUBLE)
                 / COUNT(*) * 1000000.0 + 0.5) / 1000000.0
               AS violating_group_share,
           FLOOR((1.0 - CAST(SUM(mx) AS DOUBLE) / SUM(tot))
                 * 1000000.0 + 0.5) / 1000000.0 AS g3_error,
           COUNT(*) FILTER (WHERE ndv > 1) = 0 AS holds
    FROM (
        SELECT k, SUM(n) AS tot, MAX(n) AS mx, COUNT(*) AS ndv
        FROM (SELECT {lhs} AS k, {rhs} AS v, COUNT(*) AS n FROM {tab}
              WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL
              GROUP BY 1, 2)
        GROUP BY 1
    )
    """


@register(
    "approximate_fd_audit",
    oracle=" UNION ALL ".join(
        _fd_profile_sql(t, l, r) for t, l, r in _FD_CANDIDATES
    ),
)
def approximate_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit over a candidate set —
    the dependency-profiling sibling of [[duplicate_key_check]] (keys
    are the FD X→all special case) and [[dict_encoding_advisor]]: per
    candidate X→Y, the group counts, the share of X-groups carrying
    more than one Y value, and the **g3 error** — the minimum
    fraction of rows to delete for the FD to hold exactly
    (Kivinen-Mannila; the measure Papenbrock's approximate-FD miners
    rank by).  Measured here: g3 runs 0.31 (order→linestatus, the
    closest-to-holding candidate) through 0.77 (brand→type), so the
    table orders real dependency strength — the schema-inference /
    normalization-advice input a 100 TB lake derives once per schema.

    Determinism: every statistic is an exact integer aggregate
    (per-(X,Y) counts → per-X total/max/ndv); the two shares are
    fixed IEEE divides through the sign-safe floor ladder (g3's
    ``1 − Σmax/Σtot`` is non-negative by construction since
    max ≤ tot per group).

    Scale shape: per candidate, one (X,Y)-keyed hash aggregate with
    map-side combine feeding one X-keyed re-aggregate — both shuffles
    carry only distinct-combination rows, never the corpus; the seven
    1-row profiles union into one plan; no joins, nothing
    driver-side."""
    out = None
    for tab, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tab)
        c = (
            t.filter(F.col(lhs).isNotNull() & F.col(rhs).isNotNull())
            .groupBy(F.col(lhs).alias("k"), F.col(rhs).alias("v"))
            .agg(F.count("*").alias("n"))
        )
        g = c.groupBy("k").agg(
            F.sum("n").alias("tot"),
            F.max("n").alias("mx"),
            F.count("*").alias("ndv"),
        )
        viol = F.sum(F.when(F.col("ndv") > 1, 1).otherwise(0))
        row = g.agg(
            F.sum("tot").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_groups"),
            viol.cast("bigint").alias("n_violating_groups"),
            (
                F.floor(
                    viol.cast("double") / F.count("*") * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("violating_group_share"),
            (
                F.floor(
                    (
                        1.0
                        - F.sum("mx").cast("double") / F.sum("tot")
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("g3_error"),
            (viol == 0).alias("holds"),
        ).select(F.lit(f"{tab}.{lhs}->{rhs}").alias("fd"), "*")
        out = row if out is None else out.unionAll(row)
    return out


#: t-closeness policy threshold (Li et al., ICDE'07 suggest t in
#: [0.15, 0.4] for categorical EMD; 0.3 splits this corpus's groups
#: into real pass/fail populations — measured TVD spread 0.06–0.58).
_T_CLOSENESS_NUM = 3
_T_CLOSENESS_DEN = 10


@register(
    "t_closeness_audit",
    oracle=f"""
    WITH b AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {_SENSITIVE_BUCKET_WIDTH}) AS INTEGER)
                   AS sens
        FROM customer
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    gl AS (SELECT sens, CAST(COUNT(*) AS BIGINT) AS ns FROM b GROUP BY 1),
    gr AS (
        SELECT c_nationkey, c_mktsegment, sens,
               CAST(COUNT(*) AS BIGINT) AS ngs
        FROM b GROUP BY 1, 2, 3
    ),
    gt AS (
        SELECT c_nationkey, c_mktsegment, CAST(SUM(ngs) AS BIGINT) AS ng
        FROM gr GROUP BY 1, 2
    ),
    num AS (
        SELECT gt.c_nationkey, gt.c_mktsegment, gt.ng, tot.n,
               SUM(ABS(COALESCE(gr.ngs, 0) * CAST(tot.n AS DECIMAL(38, 0))
                       - gl.ns * CAST(gt.ng AS DECIMAL(38, 0)))) AS tvd_num
        FROM gt CROSS JOIN tot CROSS JOIN gl
        LEFT JOIN gr ON gr.c_nationkey = gt.c_nationkey
                    AND gr.c_mktsegment = gt.c_mktsegment
                    AND gr.sens = gl.sens
        GROUP BY 1, 2, 3, 4
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(ng AS BIGINT) AS group_size,
           FLOOR(CAST(tvd_num AS DOUBLE)
                 / (2.0 * CAST(ng AS DOUBLE) * CAST(n AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS tvd,
           {_T_CLOSENESS_DEN} * tvd_num
               <= {2 * _T_CLOSENESS_NUM} * CAST(ng AS DECIMAL(38, 0)) * n
               AS meets_t
    FROM num
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the release-gate triad
    ([[k_anonymity_audit]]: groups big enough; [[l_diversity_audit]]:
    sensitive values varied enough; THIS: each group's sensitive
    DISTRIBUTION within t of the global one, Li et al. ICDE'07):
    per QI group (nation × market segment, the l-diversity QI and
    sensitive bucketing reused verbatim), the total-variation
    distance between the group's account-balance-band distribution
    and the corpus-wide one — TVD being the categorical
    equal-distance EMD the paper specifies — and the t ≤ 0.3 policy
    verdict (measured here: TVD runs 0.06–0.58 across the 125 sf0.01
    groups, so both verdict populations are real).  l-diversity
    alone admits a group with many distinct but SKEWED values; the
    distance test is what closes that skewness attack.

    Determinism: the absolute deviations run in COMMON-DENOMINATOR
    integer form — |n_gs·N − n_s·N_g| as exact DECIMAL products —
    so the per-group sum is order-independent with NO float
    accumulation; the one emitted tvd is a single fixed IEEE divide
    through the floor ladder, and the policy verdict compares the
    EXACT integers (10·num ≤ 6·N_g·N), never the rounded double.

    Scale shape: three hash aggregates (global buckets, per-group
    buckets, group totals) all map-side-combined; the deviation grid
    is |groups| × |buckets| rows (the global bucket table rides in as
    a broadcast); no corpus-sized join anywhere.  DECIMAL products
    keep n·N exact past the BIGINT range a 10-figure-row corpus
    would overflow."""
    b = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _SENSITIVE_BUCKET_WIDTH)
        .cast("int")
        .alias("sens"),
    )
    tot = b.agg(F.count("*").cast("bigint").alias("n"))
    gl = b.groupBy("sens").agg(F.count("*").cast("bigint").alias("ns"))
    gr = b.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count("*").cast("bigint").alias("ngs")
    )
    gt = gr.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("ngs").cast("bigint").alias("ng")
    )
    grid = (
        gt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(gl.withColumnRenamed("sens", "g_sens")))
        .join(
            gr.withColumnsRenamed(
                {"c_nationkey": "r_nat", "c_mktsegment": "r_seg", "sens": "r_sens"}
            ),
            (F.col("c_nationkey") == F.col("r_nat"))
            & (F.col("c_mktsegment") == F.col("r_seg"))
            & (F.col("g_sens") == F.col("r_sens")),
            "left",
        )
    )
    num = grid.groupBy("c_nationkey", "c_mktsegment", "ng", "n").agg(
        F.sum(
            F.abs(
                F.coalesce(F.col("ngs"), F.lit(0))
                * F.col("n").cast("decimal(38,0)")
                - F.col("ns") * F.col("ng").cast("decimal(38,0)")
            )
        ).alias("tvd_num")
    )
    return num.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("ng").cast("bigint").alias("group_size"),
        (
            F.floor(
                F.col("tvd_num").cast("double")
                / (2.0 * F.col("ng").cast("double") * F.col("n").cast("double"))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("tvd"),
        (
            F.lit(_T_CLOSENESS_DEN) * F.col("tvd_num")
            <= F.lit(2 * _T_CLOSENESS_NUM)
            * F.col("ng").cast("decimal(38,0)")
            * F.col("n")
        ).alias("meets_t"),
    )


#: Salt fan-out for the registered salted-join demonstration (the
#: functions/skew.py default is 16; 8 keeps the sf-scale replicated
#: dim small while still spreading a hot key across real reducers).
_SALTED_JOIN_FANOUT = 8


@register(
    "skew_resilient_distinct_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1
    """,
)
def skew_resilient_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resistant exact-distinct form REGISTERED as an
    oracle-checked query — [[skew_diagnostics]] finds the hot keys,
    `functions/skew.py` prescribes the fix, and this query PROVES the
    fix is result-identical: per event type (a handful of groups, the
    worst case — every row of a hot group funnels to one reducer
    under the naive plan), the exact distinct-user count via
    :func:`~...functions.skew.exact_distinct_two_stage` — stage 1
    shuffles on (type, user) so the hot group spreads over its value
    diversity, stage 2 counts per type over the deduped frame with
    map-side combine.  The oracle is the PLAIN ``COUNT(DISTINCT)`` —
    equivalence is the whole claim.

    Determinism: exact integer counts only.

    Scale shape: two hash shuffles, both fully parallel — the first
    keyed by (type, user) (no reducer ever sees more than one group's
    one value), the second over the |types|×|users|-bounded deduped
    frame.  The naive single-stage form is the one that stalls at
    100 TB; this plan's worst partition is O(rows/partitions)
    regardless of group skew."""
    from ..functions.skew import exact_distinct_two_stage

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    distinct = exact_distinct_two_stage(
        e, ["event_type"], "user_id", out="n_users"
    )
    counts = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return distinct.join(F.broadcast(counts), "event_type").select(
        "event_type",
        F.col("n_users").cast("bigint").alias("n_users"),
        "n_events",
    )


@register(
    "salted_enrichment_join",
    oracle="""
    WITH dim AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS user_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS user_purchases
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT e.event_id, e.user_id, e.event_type,
           d.user_events, d.user_purchases
    FROM events e JOIN dim d ON e.user_id = d.user_id
    WHERE e.user_id IS NOT NULL
    """,
)
def salted_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit-salting join REGISTERED as an oracle-checked query
    — the remediation [[fk_join_skew_advisor]]'s ``sort_merge_salted``
    verdict prescribes, proven result-identical to the plain join:
    every event enriched with its user's profile aggregate through
    :func:`~...functions.skew.salted_join` (big side salted 0..{n},
    dim side replicated {n}×, join on (key, salt)).  The oracle is
    the PLAIN equi-join — the salt must be invisible in the result.

    Determinism: the salt column is dropped and the join is exact on
    (key, salt ⊂ key's fan-out), so the output SET is independent of
    which salt each row drew; every emitted value is an exact
    integer.  (``rand(seed)`` varies with partition layout — which is
    exactly why it may appear nowhere in the output.)

    Scale shape: the hot key's rows land on {n} reducers instead of
    one; the cost is an {n}× copy of the (bounded, per-user) dim —
    the standard trade when the big side's hot key defeats AQE's
    split-and-replicate and the dim exceeds the broadcast budget.
    At THIS scale the dim would broadcast; the query forces the
    salted shuffle form because proving the rewrite's equivalence is
    its purpose."""
    from ..functions.skew import salted_join

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    dim = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("user_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("user_purchases"),
    )
    joined = salted_join(
        e.select("event_id", "user_id", "event_type"),
        dim.hint("merge"),
        "user_id",
        n_salt=_SALTED_JOIN_FANOUT,
    )
    return joined.select(
        "event_id", "user_id", "event_type", "user_events", "user_purchases"
    )


salted_enrichment_join.__doc__ = salted_enrichment_join.__doc__.format(
    n=_SALTED_JOIN_FANOUT
)


#: Exponential-mechanism DP median: privacy budget, the PUBLIC
#: (data-independent — required for DP) candidate grid over the
#: events.value domain, and the hash seed for the Gumbel draws.
_DPM_EPS = 1.0
_DPM_STEP = 5
_DPM_MAX = 500
_DPM_SEED = 9500


@register(
    "dp_median_release",
    oracle=f"""
    WITH v AS (
        SELECT event_type,
               CAST(FLOOR(value / {_DPM_STEP}) AS BIGINT) AS bin
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
          AND value >= 0 AND value < {_DPM_MAX}
    ),
    bc AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1, 2
    ),
    n AS (SELECT event_type, SUM(c) AS n FROM bc GROUP BY 1),
    cand AS (
        SELECT n.event_type, g.b, n.n
        FROM n CROSS JOIN (
            SELECT UNNEST(range(0, {_DPM_MAX // _DPM_STEP} + 1)) AS b
        ) g
    ),
    r AS (
        SELECT c.event_type, c.b, c.n,
               COALESCE(SUM(bc.c), 0) AS r
        FROM cand c
        LEFT JOIN bc ON bc.event_type = c.event_type AND bc.bin < c.b
        GROUP BY 1, 2, 3
    ),
    s AS (
        SELECT event_type, b, n,
               -ABS(2 * r - n) AS u2,
               ({PORTABLE_HASH64_SQL(
                   "event_type || '|' || CAST(b AS VARCHAR)", _DPM_SEED
               )} % 1000000000 + 0.5) / 1000000000.0 AS u
        FROM r
    ),
    sc AS (
        SELECT event_type, b, n, u2,
               CAST(FLOOR(({_DPM_EPS} * u2 / 4.0 - ln(-ln(u)))
                          * 1000000.0) AS BIGINT) AS sq
        FROM s
    ),
    w AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY sq DESC, b ASC) AS rk
        FROM sc
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(b * {_DPM_STEP} AS BIGINT) AS released_median,
           CAST(-u2 AS BIGINT) AS rank_error_x2,
           FLOOR(CAST(-u2 AS DOUBLE) / (2.0 * n) * 1000000.0 + 0.5)
               / 1000000.0 AS rank_error_share
    FROM w WHERE rk = 1
    """,
)
def dp_median_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private MEDIAN release per event type via the
    EXPONENTIAL mechanism (McSherry–Talwar 2007) — the second DP
    mechanism in the engine next to [[dp_histogram_release]]'s
    discrete-Laplace counts (counts take additive noise; quantile
    release needs utility-weighted SELECTION): candidates are the
    PUBLIC 5-unit grid over [0, 500) (data-independent, as DP
    requires), utility u(b) = −|2·rank(b) − n| (median sensitivity,
    doubled to stay integer), and the draw is the Gumbel-max trick —
    argmax of ε·u/4 + Gumbel(portable_hash(type, b)) — which makes
    the release a PURE FUNCTION of the data and the seed, hence
    oracle-checkable like the histogram twin.  Measured signal (r12,
    sf0.01): per-type true medians sit at ~34–36, and at ε=1 with
    n≈2000 the mechanism's rank error stays within a few per-mille
    of n — the released grid point is the one straddling the true
    median.

    Determinism: ranks are exact integer prefix counts over the
    bounded bin census; u is an exact 1e-9-resolution hash uniform;
    the one libm chain per candidate (−ln(−ln u), 505 evaluations
    total) quantizes to a 1e-6 integer score BEFORE the argmax, and
    the argmax tiebreaks on the candidate index (the ann_cosine_topk
    election discipline).

    Scale shape: one map-side-combined (type, bin) census bounds
    everything downstream at |types| × 101 rows — the candidate
    cross join, prefix ranks, scores and election never touch the
    fact table again; at any corpus size the only data-sized work is
    the first aggregate."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.col("value") >= 0)
        & (F.col("value") < _DPM_MAX)
    )
    bc = e.groupBy(
        "event_type",
        F.floor(F.col("value") / _DPM_STEP).cast("bigint").alias("bin"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    n = bc.groupBy("event_type").agg(F.sum("c").alias("n"))
    grid = spark.range(0, _DPM_MAX // _DPM_STEP + 1).select(
        F.col("id").alias("b")
    )
    cand = n.crossJoin(F.broadcast(grid))
    r = (
        cand.alias("c")
        .join(
            bc.alias("bc"),
            (F.col("bc.event_type") == F.col("c.event_type"))
            & (F.col("bc.bin") < F.col("c.b")),
            "left",
        )
        .groupBy("c.event_type", "c.b", "c.n")
        .agg(F.coalesce(F.sum("bc.c"), F.lit(0)).alias("r"))
    )
    u2 = -F.abs(2 * F.col("r") - F.col("n"))
    u = (
        portable_hash64(
            F.concat_ws("|", F.col("event_type"), F.col("b").cast("string")),
            seed=_DPM_SEED,
        )
        % 1_000_000_000
        + 0.5
    ) / 1_000_000_000.0
    sq = F.floor(
        (F.lit(_DPM_EPS) * u2 / 4.0 - F.log(-F.log(u))) * 1000000.0
    ).cast("bigint")
    sc = r.select(
        "event_type", "b", "n", u2.alias("u2"), sq.alias("sq")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("sq").desc(), F.col("b").asc()
    )
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            (F.col("b") * _DPM_STEP).cast("bigint").alias("released_median"),
            (-F.col("u2")).cast("bigint").alias("rank_error_x2"),
            (
                F.floor(
                    (-F.col("u2")).cast("double")
                    / (2.0 * F.col("n"))
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("rank_error_share"),
        )
    )
