"""Distribution drift detection: exact distributed two-sample KS.

The reference detects feature drift with ``scipy.stats.ks_2samp``
over two pandas samples (reference scripts/drift_detection.py:49,
interpretation buckets :157-168, min-sample guard :40-46).  That is
driver-side and caps at memory; the engine computes the **exact** KS
statistic distributedly with window functions — no UDF, no collect
(SURVEY §2.5 / §7 M3):

    D = max over x of | ECDF_1(x) - ECDF_2(x) |

via per-distinct-value conditional counts, a running prefix sum, and
a global max.  The p-value uses the standard two-sided asymptotic
Kolmogorov approximation (first series term), written identically in
both engines so results hash-match.

Scale: groupBy(x) is one shuffle with map-side combine; the ordered
prefix sum is a two-pass bucketed computation — per-bucket offsets
(tiny) + within-bucket windows partitioned by bucket — so no stage
ever runs on a single partition, whatever the value cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import register

#: Value-range buckets for the distributed ECDF prefix sum.
_KS_BUCKETS = 1024


def ks_2samp(
    df: DataFrame,
    value_col: str,
    sample_col: F.Column,
    min_samples: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact two-sample KS over ``value_col``; ``sample_col`` must be
    1 for sample A and 0 for sample B.  Returns one row:
    (n1, n2, ks_stat, p_value, drift_detected).

    ``min_samples`` mirrors the reference's small-sample guard
    (scripts/drift_detection.py:40-46): when either sample is smaller
    the result is reported exactly as the reference reports it —
    ``(drift=False, stat=0.0, p=1.0)`` — not just an unflagged
    statistic.  Default off so oracle-checked callers keep pure KS
    semantics.

    ``materialize`` spool policy (r14, mirrors ``ranked()``'s): the
    per-distinct-value counts feed three consumers, so by default they
    are ``localCheckpoint``-ed once instead of recomputed per branch.
    The spool is |distinct values| × |features| rows — DATA-sized for
    continuous values, so at extreme scale a caller may pass
    ``materialize=False`` to trade the extra scans for zero spool
    footprint.  Fault-tolerance note: ``localCheckpoint`` is
    executor-local and unreplicated — losing an executor mid-query
    fails the query instead of recomputing lineage; this engine
    accepts that for intra-query spools (the query is simply re-run),
    the same policy as every other mechanism-2 site."""
    s = df.filter(F.col(value_col).isNotNull() & ~F.isnan(value_col)).select(
        F.col(value_col).alias("x"), sample_col.alias("is1")
    )
    per_x = s.groupBy("x").agg(
        F.sum("is1").alias("c1"), F.sum(1 - F.col("is1")).alias("c2")
    )
    if materialize:
        # r13 optimization: the distinct-value counts feed THREE
        # consumers (the min/max bounds job, the per-bucket offsets,
        # the within-bucket cumsum) — spool once instead of
        # re-scanning and re-shuffling the input per branch.  Exact
        # integer counts: recomputation-identical.
        per_x = per_x.localCheckpoint()
    # Distributed prefix sum over x (two-pass, exact, no global
    # single-partition sort):
    #   1. assign each distinct x to one of _KS_BUCKETS value-range
    #      buckets (bounds from one tiny min/max job);
    #   2. per-bucket totals → running offsets (window over ≤1024
    #      rows — trivially small);
    #   3. within-bucket cumsum windows partitioned BY BUCKET (fully
    #      parallel) + broadcast-joined offsets.
    # ECDF_i(x) = offset_i(bucket) + within_i(x).
    lo, hi = per_x.agg(F.min("x"), F.max("x")).first()
    if lo is None or lo == hi:
        # Degenerate: ≤1 distinct value ⇒ ECDFs only differ at that
        # point; a single bucket suffices.
        bucketed = per_x.withColumn("b", F.lit(0))
    else:
        span = float(hi) - float(lo)
        bucketed = per_x.withColumn(
            "b",
            F.least(
                F.lit(_KS_BUCKETS - 1),
                F.floor((F.col("x") - F.lit(float(lo))) / span * _KS_BUCKETS).cast("int"),
            ),
        )
    # partitionBy(lit(0)) is semantically the unpartitioned window but
    # silences Spark's "No Partition Defined" warning — safe here
    # because the frame is the per-bucket totals, hard-capped at
    # _KS_BUCKETS (=1024) rows regardless of input size.
    w_off = Window.partitionBy(F.lit(0)).orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("b")
        .agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
        .select(
            "b",
            F.coalesce(F.sum("t1").over(w_off), F.lit(0)).alias("o1"),
            F.coalesce(F.sum("t2").over(w_off), F.lit(0)).alias("o2"),
        )
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        bucketed.join(F.broadcast(offsets), "b")
        .select(
            (F.col("o1") + F.sum("c1").over(w_in)).alias("r1"),
            (F.col("o2") + F.sum("c2").over(w_in)).alias("r2"),
        )
    )
    # totals from the checkpointed counts (Σ c == max running sum,
    # same exact integers) — avoids re-executing the cumsum window
    # for _ks_finalize's broadcast build.
    totals = per_x.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    out = _ks_finalize(cum, totals)
    if min_samples is not None:
        small = (F.col("n1") < min_samples) | (F.col("n2") < min_samples)
        out = out.select(
            "n1",
            "n2",
            F.when(small, F.lit(0.0)).otherwise(F.col("ks_stat")).alias("ks_stat"),
            F.when(small, F.lit(1.0)).otherwise(F.col("p_value")).alias("p_value"),
            (~small & F.col("drift_detected")).alias("drift_detected"),
        )
    return out


def _ks_finalize(cum: DataFrame, totals: DataFrame | None = None) -> DataFrame:
    if totals is None:
        totals = cum.agg(F.max("r1").alias("n1"), F.max("r2").alias("n2"))
    d = (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max(
                F.abs(
                    F.col("r1").cast("double") / F.col("n1")
                    - F.col("r2").cast("double") / F.col("n2")
                )
            ).alias("d"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    # Two-sided asymptotic p ≈ 2·exp(−2·(λ)²), λ = D·sqrt(n1·n2/(n1+n2)).
    lam = F.col("d") * F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    )
    p = F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * lam * lam))
    return d.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(F.col("d"), 6).alias("ks_stat"),
        F.round(p, 6).alias("p_value"),
        (p < 0.05).alias("drift_detected"),
    )


def ks_2samp_keyed(
    df: DataFrame,
    key_col: str,
    value_col: str,
    sample_col: F.Column,
    min_samples: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Keyed two-sample KS: one statistic per ``key_col`` group in a
    single pass — the engine's form of the reference's *loop over
    monitored features* (scripts/drift_detection.py:171-225), which
    re-reads the data per feature.  The prefix-sum window partitions
    by key, so unlike the global variant there is no single-partition
    stage: parallelism = number of monitored features × their value
    cardinality spread.

    ``min_samples`` applies the reference's per-feature small-sample
    guard (scripts/drift_detection.py:40-46): an under-sampled feature
    reports ``(stat=0.0, p=1.0, drift=False, severity='negligible')``.

    ``materialize``: same spool policy and escape hatch as
    :func:`ks_2samp` (the counts frame is |distinct x| × |features|
    rows — unbounded for continuous values; pass ``False`` at extreme
    scale to keep zero spool footprint)."""
    s = df.filter(F.col(value_col).isNotNull() & ~F.isnan(value_col)).select(
        F.col(key_col).alias("feature"), F.col(value_col).alias("x"), sample_col.alias("is1")
    )
    per_x = s.groupBy("feature", "x").agg(
        F.sum("is1").alias("c1"), F.sum(1 - F.col("is1")).alias("c2")
    )
    if materialize:
        # r13 optimization: feeds both the cumsum window and the
        # per-feature totals — spool once (exact integer counts).
        per_x = per_x.localCheckpoint()
    w = (
        Window.partitionBy("feature")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_x.select(
        "feature",
        F.sum("c1").over(w).alias("r1"),
        F.sum("c2").over(w).alias("r2"),
    )
    # totals from the checkpointed counts directly (Σ c == max running
    # sum, same exact integers) — the previous max-over-cumsum form
    # re-executed the window a second time for the broadcast build.
    totals = per_x.groupBy("feature").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    d = (
        cum.join(F.broadcast(totals), "feature")
        .groupBy("feature")
        .agg(
            F.max(
                F.abs(
                    F.col("r1").cast("double") / F.col("n1")
                    - F.col("r2").cast("double") / F.col("n2")
                )
            ).alias("d"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    lam = F.col("d") * F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    )
    p = F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * lam * lam))
    # The reference's exact interpretation ladder
    # (scripts/drift_detection.py:157-168): <0.1 negligible, <0.2
    # small, <0.3 moderate, <0.5 large, else very large.
    small = (
        F.lit(False)
        if min_samples is None
        else (F.col("n1") < min_samples) | (F.col("n2") < min_samples)
    )
    ks6 = F.when(small, F.lit(0.0)).otherwise(F.round(F.col("d"), 6))
    severity = (
        F.when(ks6 < 0.1, "negligible")
        .when(ks6 < 0.2, "small")
        .when(ks6 < 0.3, "moderate")
        .when(ks6 < 0.5, "large")
        .otherwise("very large")
    )
    return d.select(
        "feature",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        ks6.alias("ks_stat"),
        F.when(small, F.lit(1.0)).otherwise(F.round(p, 6)).alias("p_value"),
        (~small & (p < 0.05)).alias("drift_detected"),
        severity.alias("severity"),
    )


_SPLIT = "2024-01-16 00:00:00"

_KS_MULTI_ORACLE = f"""
WITH s AS (
    SELECT event_type AS feature, value AS x,
           CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS is1
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
),
per_x AS (
    SELECT feature, x, SUM(is1) AS c1, SUM(1 - is1) AS c2 FROM s GROUP BY 1, 2
),
cum AS (
    SELECT feature,
           SUM(c1) OVER w AS r1,
           SUM(c2) OVER w AS r2
    FROM per_x
    WINDOW w AS (PARTITION BY feature ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT feature, MAX(r1) AS n1, MAX(r2) AS n2 FROM cum GROUP BY 1),
dd AS (
    SELECT c.feature,
           MAX(ABS(CAST(r1 AS DOUBLE) / t.n1 - CAST(r2 AS DOUBLE) / t.n2)) AS d,
           MAX(t.n1) AS n1, MAX(t.n2) AS n2
    FROM cum c JOIN tot t ON c.feature = t.feature
    GROUP BY 1
)
SELECT feature,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       ROUND(d, 6) AS ks_stat,
       ROUND(LEAST(1.0, 2.0 * EXP(-2.0 * POW(d * SQRT(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 2))), 6) AS p_value,
       LEAST(1.0, 2.0 * EXP(-2.0 * POW(d * SQRT(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 2))) < 0.05 AS drift_detected,
       CASE WHEN ROUND(d, 6) < 0.1 THEN 'negligible'
            WHEN ROUND(d, 6) < 0.2 THEN 'small'
            WHEN ROUND(d, 6) < 0.3 THEN 'moderate'
            WHEN ROUND(d, 6) < 0.5 THEN 'large'
            ELSE 'very large' END AS severity
FROM dd
"""


@register("drift_report_multi_feature", oracle=_KS_MULTI_ORACLE)
def drift_report_multi_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed KS drift report: first vs second half of the month, one
    row per event_type — the reference's multi-feature drift loop
    (scripts/drift_detection.py:171-225) in a single distributed
    pass."""
    e = load_table(spark, sf_dir, "events")
    return ks_2samp_keyed(
        e,
        key_col="event_type",
        value_col="value",
        sample_col=F.when(F.col("ts") < F.lit(_SPLIT).cast("timestamp"), 1).otherwise(0),
    )


_KS_ORACLE = """
WITH s AS (
    SELECT value AS x,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
    FROM events
    WHERE event_type IN ('click', 'view')
      AND value IS NOT NULL AND NOT isnan(value)
),
per_x AS (
    SELECT x, SUM(is1) AS c1, SUM(1 - is1) AS c2 FROM s GROUP BY x
),
cum AS (
    SELECT SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1,
           SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
    FROM per_x
),
tot AS (SELECT MAX(r1) AS n1, MAX(r2) AS n2 FROM cum),
dd AS (
    SELECT MAX(ABS(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2)) AS d,
           MAX(n1) AS n1, MAX(n2) AS n2
    FROM cum, tot
)
SELECT CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       ROUND(d, 6) AS ks_stat,
       ROUND(LEAST(1.0, 2.0 * EXP(-2.0 * POW(d * SQRT(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 2))), 6) AS p_value,
       LEAST(1.0, 2.0 * EXP(-2.0 * POW(d * SQRT(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 2))) < 0.05 AS drift_detected
FROM dd
"""


@register("drift_ks_click_vs_view", oracle=_KS_ORACLE)
def drift_ks_click_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS between the value distributions of click vs view
    events — the engine's distributed replacement for the reference's
    ks_2samp call (scripts/drift_detection.py:49)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "view"))
    return ks_2samp(e, "value", F.when(F.col("event_type") == "click", 1).otherwise(0))


@register(
    "feature_summary_stats",
    oracle="""
    WITH q AS (
        SELECT event_type, value, CAST(value AS DECIMAL(18,8)) AS qd
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    m AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(qd) AS DOUBLE) AS s1,
               -- one factor widened to DECIMAL(19,8): DuckDB executes
               -- DECIMAL(18)×DECIMAL(18) in int64 (overflows on real
               -- sums); 19 digits forces the INT128 path → exact
               -- DECIMAL(37,16), same type Spark's (18,8)×(18,8) gives
               CAST(SUM(CAST(qd AS DECIMAL(19,8)) * qd) AS DOUBLE) AS s2,
               MEDIAN(value) AS med,
               MIN(value) AS mn,
               MAX(value) AS mx
        FROM q GROUP BY 1
    )
    SELECT event_type,
           n,
           ROUND(s1 / n, 6) AS mean,
           CASE WHEN n > 1
                THEN ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) END AS std,
           ROUND(med, 6) AS median,
           ROUND(mn, 6) AS min_value,
           ROUND(mx, 6) AS max_value
    FROM m
    """,
)
def feature_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 drift-report summary statistics (reference
    scripts/drift_detection.py:99-113) — exact median via
    ``percentile`` (interpolating, matching DuckDB's MEDIAN).

    Determinism (r6 item 8, the ``embedding_covariance`` discipline
    promoted here): ``avg()``/``stddev_samp()`` over doubles are
    summation-order-dependent, so ROUND(·, 6) could flip on a
    boundary between engines/shuffle orders.  Instead each value is
    cast once to DECIMAL(18,8) — a deterministic per-element rounding
    identical in both engines (a tie at scale 8 would need the double
    to be an exact binary multiple of 5e-9, which doesn't exist) —
    Σx and Σx² accumulate exactly in decimal (order-independent),
    and mean/std are IEEE expressions over those exact scalars:
    identical inputs + identical expression tree ⇒ identical
    results.  Sample std via (Σx² − (Σx)²/n)/(n−1); cancellation
    costs ~1e-12 absolute here, five orders inside the 6dp margin —
    and deterministically identical on both engines either way."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    qd = F.col("value").cast("decimal(18,8)")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("s1"),
        F.sum(qd * qd).cast("double").alias("s2"),
        F.expr("percentile(value, 0.5)").alias("med"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    n = F.col("n")
    s1 = F.col("s1")
    s2 = F.col("s2")
    return m.select(
        "event_type",
        "n",
        F.round(s1 / n, 6).alias("mean"),
        F.when(n > 1, F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6)).alias("std"),
        F.round(F.col("med"), 6).alias("median"),
        F.round(F.col("mn"), 6).alias("min_value"),
        F.round(F.col("mx"), 6).alias("max_value"),
    )


_PSI_BINS = 10
_PSI_EPS = 1e-6

_PSI_ORACLE = f"""
WITH s AS (
    SELECT event_type AS feature, value AS x,
           CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS is_ref
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
),
rng AS (
    SELECT feature, MIN(x) AS lo, MAX(x) AS hi FROM s GROUP BY 1
),
b AS (
    SELECT s.feature, s.is_ref,
           LEAST({_PSI_BINS - 1}, CAST(floor((s.x - r.lo) / NULLIF(r.hi - r.lo, 0) * {_PSI_BINS}) AS INTEGER)) AS bin
    FROM s JOIN rng r ON s.feature = r.feature
),
c AS (
    SELECT feature, bin,
           SUM(is_ref) AS n_ref, SUM(1 - is_ref) AS n_cur
    FROM b GROUP BY 1, 2
),
t AS (
    SELECT feature, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c GROUP BY 1
),
p AS (
    SELECT c.feature,
           GREATEST(CAST(c.n_ref AS DOUBLE) / t.t_ref, {_PSI_EPS}) AS p_ref,
           GREATEST(CAST(c.n_cur AS DOUBLE) / t.t_cur, {_PSI_EPS}) AS p_cur
    FROM c JOIN t ON c.feature = t.feature
)
SELECT feature,
       ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
       SUM((p_cur - p_ref) * ln(p_cur / p_ref)) >= 0.2 AS shifted
FROM p
GROUP BY feature
"""


@register("drift_psi_multi_feature", oracle=_PSI_ORACLE)
def drift_psi_multi_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per monitored feature — the other
    standard production drift metric next to KS (decile-binned,
    epsilon-clipped, PSI >= 0.2 = "significant shift" convention).
    Same single-pass keyed shape as the KS report: one shuffle for
    binning counts, bin ranges from a broadcast per-feature min/max —
    no collect, no UDF, no per-feature rescan."""
    split = F.lit(_SPLIT).cast("timestamp")
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            F.col("event_type").alias("feature"),
            F.col("value").alias("x"),
            F.when(F.col("ts") < split, 1).otherwise(0).alias("is_ref"),
        )
    )
    rng = s.groupBy("feature").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    b = s.join(F.broadcast(rng), "feature").select(
        "feature",
        "is_ref",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor((F.col("x") - F.col("lo")) / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0)) * _PSI_BINS).cast("int"),
        ).alias("bin"),
    )
    c = b.groupBy("feature", "bin").agg(
        F.sum("is_ref").alias("n_ref"), F.sum(1 - F.col("is_ref")).alias("n_cur")
    )
    t = c.groupBy("feature").agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    p = c.join(F.broadcast(t), "feature").select(
        "feature",
        F.greatest(F.col("n_ref").cast("double") / F.col("t_ref"), F.lit(_PSI_EPS)).alias("p_ref"),
        F.greatest(F.col("n_cur").cast("double") / F.col("t_cur"), F.lit(_PSI_EPS)).alias("p_cur"),
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
    return p.groupBy("feature").agg(
        F.round(F.sum(term), 6).alias("psi"),
        (F.sum(term) >= 0.2).alias("shifted"),
    )


_HIST_ORACLE = f"""
WITH s AS (
    SELECT event_type AS feature, value AS x
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
),
rng AS (
    SELECT feature, MIN(x) AS lo, MAX(x) AS hi FROM s GROUP BY 1
),
b AS (
    SELECT s.feature, r.lo, r.hi,
           LEAST({_PSI_BINS - 1}, CAST(floor((s.x - r.lo) / NULLIF(r.hi - r.lo, 0) * {_PSI_BINS}) AS INTEGER)) AS bin
    FROM s JOIN rng r ON s.feature = r.feature
),
c AS (
    SELECT feature, bin, lo, hi, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY 1, 2, 3, 4
)
SELECT feature, bin,
       ROUND(lo + bin * (hi - lo) / {_PSI_BINS}, 6) AS bin_lo,
       ROUND(lo + (bin + 1) * (hi - lo) / {_PSI_BINS}, 6) AS bin_hi,
       n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY feature), 6) AS pct
FROM c
"""


@register("feature_value_histogram", oracle=_HIST_ORACLE)
def feature_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per monitored feature — the profile shape a
    drift dashboard plots next to the PSI number (the reference's
    monitoring stack charts per-feature distributions; this is the
    batch profile feeding that chart).  Same scale shape as PSI: bin
    ranges from a broadcast per-feature min/max, one shuffle for the
    bin counts, and the pct window runs over <= features x bins rows.
    Equal floor-binning arithmetic on both engines keeps bin edges
    bit-identical for the hash compare."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(F.col("event_type").alias("feature"), F.col("value").alias("x"))
    )
    rng = s.groupBy("feature").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    width = F.col("hi") - F.col("lo")
    b = s.join(F.broadcast(rng), "feature").select(
        "feature",
        "lo",
        "hi",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor((F.col("x") - F.col("lo")) / F.nullif(width, F.lit(0.0)) * _PSI_BINS).cast(
                "int"
            ),
        ).alias("bin"),
    )
    c = b.groupBy("feature", "bin", "lo", "hi").agg(F.count("*").alias("n"))
    w = Window.partitionBy("feature")
    return c.select(
        "feature",
        "bin",
        F.round(F.col("lo") + F.col("bin") * width / _PSI_BINS, 6).alias("bin_lo"),
        F.round(F.col("lo") + (F.col("bin") + 1) * width / _PSI_BINS, 6).alias("bin_hi"),
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("pct"),
    )


_JS_ORACLE = f"""
WITH s AS (
    SELECT event_type AS feature, value AS x,
           CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS is_ref
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
),
rng AS (
    SELECT feature, MIN(x) AS lo, MAX(x) AS hi FROM s GROUP BY 1
),
b AS (
    SELECT s.feature, s.is_ref,
           LEAST({_PSI_BINS - 1}, CAST(floor((s.x - r.lo) / NULLIF(r.hi - r.lo, 0) * {_PSI_BINS}) AS INTEGER)) AS bin
    FROM s JOIN rng r ON s.feature = r.feature
),
c AS (
    SELECT feature, bin,
           SUM(is_ref) AS n_ref, SUM(1 - is_ref) AS n_cur
    FROM b GROUP BY 1, 2
),
t AS (
    SELECT feature, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c GROUP BY 1
),
p AS (
    SELECT c.feature,
           GREATEST(CAST(c.n_ref AS DOUBLE) / t.t_ref, {_PSI_EPS}) AS p_ref,
           GREATEST(CAST(c.n_cur AS DOUBLE) / t.t_cur, {_PSI_EPS}) AS p_cur
    FROM c JOIN t ON c.feature = t.feature
)
SELECT feature,
       ROUND(SUM(0.5 * p_ref * log2(p_ref / ((p_ref + p_cur) / 2))
               + 0.5 * p_cur * log2(p_cur / ((p_ref + p_cur) / 2))), 6) + 0
           AS js_divergence,
       SUM(0.5 * p_ref * log2(p_ref / ((p_ref + p_cur) / 2))
         + 0.5 * p_cur * log2(p_cur / ((p_ref + p_cur) / 2))) >= 0.1 AS shifted
FROM p
GROUP BY feature
"""


@register("drift_js_divergence", oracle=_JS_ORACLE)
def drift_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence per monitored feature — the third
    member of the drift toolbox next to KS (rank-based, binless) and
    PSI (unbounded, asymmetric-looking but symmetric in form).  JS is
    symmetric AND bounded in [0, 1] with base-2 logs, which makes
    thresholds transferable across features of wildly different
    scales; 0.1 is the conventional "investigate" line.

    Identical single-pass shape to the PSI operator: one shuffle for
    the decile bin counts, per-feature ranges and totals broadcast,
    the mixture distribution m = (p+q)/2 computed in-expression —
    no collect, no UDF, no per-feature rescan."""
    split = F.lit(_SPLIT).cast("timestamp")
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            F.col("event_type").alias("feature"),
            F.col("value").alias("x"),
            F.when(F.col("ts") < split, 1).otherwise(0).alias("is_ref"),
        )
    )
    rng = s.groupBy("feature").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    b = s.join(F.broadcast(rng), "feature").select(
        "feature",
        "is_ref",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(
                (F.col("x") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
                * _PSI_BINS
            ).cast("int"),
        ).alias("bin"),
    )
    c = b.groupBy("feature", "bin").agg(
        F.sum("is_ref").alias("n_ref"), F.sum(1 - F.col("is_ref")).alias("n_cur")
    )
    t = c.groupBy("feature").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = c.join(F.broadcast(t), "feature").select(
        "feature",
        F.greatest(F.col("n_ref").cast("double") / F.col("t_ref"), F.lit(_PSI_EPS)).alias(
            "p_ref"
        ),
        F.greatest(F.col("n_cur").cast("double") / F.col("t_cur"), F.lit(_PSI_EPS)).alias(
            "p_cur"
        ),
    )
    m = (F.col("p_ref") + F.col("p_cur")) / 2
    term = 0.5 * F.col("p_ref") * F.log2(F.col("p_ref") / m) + 0.5 * F.col(
        "p_cur"
    ) * F.log2(F.col("p_cur") / m)
    return p.groupBy("feature").agg(
        # + 0.0 after ROUND: JS is mathematically >= 0 but the float
        # term sum can land a hair below zero when true JS ~ 0, and
        # ROUND(tiny_negative) is -0.0 in DuckDB vs +0.0 in Spark
        # (driver hash is signed-zero strict).
        (F.round(F.sum(term), 6) + F.lit(0.0)).alias("js_divergence"),
        (F.sum(term) >= 0.1).alias("shifted"),
    )


#: Robust-z threshold for day-volume anomalies (the usual 3.5 cutoff
#: from Iglewicz & Hoaglin's modified z-score).
_MAD_Z_THRESH = 3.5
_MAD_CONSISTENCY = 0.6745


@register(
    "volume_anomaly_days",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n_events
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1
    ),
    med AS (SELECT quantile_cont(n_events, 0.5) AS med FROM d),
    mad AS (
        SELECT quantile_cont(ABS(d.n_events - m.med), 0.5) AS mad
        FROM d CROSS JOIN med m
    )
    SELECT d.event_date, d.n_events,
           ROUND(m.med, 1) AS median_volume,
           ROUND(a.mad, 1) AS mad_volume,
           ROUND({_MAD_CONSISTENCY} * (d.n_events - m.med) / NULLIF(a.mad, 0), 4)
               AS robust_z,
           ABS({_MAD_CONSISTENCY} * (d.n_events - m.med) / NULLIF(a.mad, 0))
               > {_MAD_Z_THRESH} AS is_anomaly
    FROM d CROSS JOIN med m CROSS JOIN mad a
    """,
)
def volume_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health anomaly detection on daily ingest volume: the
    modified z-score (median/MAD, Iglewicz-Hoaglin 0.6745 scaling,
    |z| > {_MAD_Z_THRESH}) flags days whose event count is
    statistically abnormal — robust to the very outliers it hunts,
    where a mean/stddev z-score gets dragged by them.  This is the
    "did yesterday's ingest silently halve?" alarm that fires before
    any model metric moves.

    Shape: the day series is a tiny aggregate; median and MAD are two
    exact percentiles over it (|days| rows — driver-scale at any
    corpus size), broadcast back as one-row frames."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count("*").alias("n_events"))
    )
    med = d.agg(F.expr("percentile(n_events, 0.5)").alias("med"))
    mad = (
        d.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(ABS(n_events - med), 0.5)").alias("mad"))
    )
    z = (
        F.lit(_MAD_CONSISTENCY)
        * (F.col("n_events") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0))
    )
    return (
        d.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "event_date",
            "n_events",
            F.round(F.col("med"), 1).alias("median_volume"),
            F.round(F.col("mad"), 1).alias("mad_volume"),
            F.round(z, 4).alias("robust_z"),
            (F.abs(z) > _MAD_Z_THRESH).alias("is_anomaly"),
        )
    )


#: Shared rank-machinery CTEs (events.value, NaN-filtered): per-value
#: counts, exclusive prefix ranks, per-group doubled rank sums r2 and
#: the tie term — the base both rank tests (Mann-Whitney U and
#: Kruskal-Wallis H) build on.  2·avgrank(x) = 2·cum_less + cnt + 1
#: keeps every aggregate an exact integer.
_RANK_CTES = """s AS (
        SELECT event_type, value AS x
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    tx AS (SELECT x, COUNT(*) AS cx FROM s GROUP BY 1),
    rk AS (
        SELECT x, cx,
               COALESCE(SUM(cx) OVER (
                   ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cl
        FROM tx
    ),
    v AS (SELECT event_type, x, COUNT(*) AS c FROM s GROUP BY 1, 2),
    g AS (
        SELECT v.event_type,
               SUM(v.c) AS n_g,
               SUM(v.c * (2 * rk.cl + rk.cx + 1)) AS r2
        FROM v JOIN rk USING (x) GROUP BY 1
    ),
    t AS (SELECT SUM(cx) AS n, SUM(cx * cx * cx - cx) AS tie FROM tx)"""


def _event_value_rank_sums(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Spark twin of ``_RANK_CTES``: returns (g, t) — per-group exact
    integer doubled rank sums (event_type, n_g, r2) and the global
    (n, tie) totals.  The exclusive prefix sum over DISTINCT values
    reuses the KS bucketed two-pass (per-bucket offsets over ≤1024
    rows + within-bucket windows — no global single-partition sort)."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("event_type", F.col("value").alias("x"))
    )
    tx = s.groupBy("x").agg(F.count("*").alias("cx"))
    lo, hi = tx.agg(F.min("x"), F.max("x")).first()
    if lo is None or lo == hi:
        bucketed = tx.withColumn("b", F.lit(0))
    else:
        span = float(hi) - float(lo)
        bucketed = tx.withColumn(
            "b",
            F.least(
                F.lit(_KS_BUCKETS - 1),
                F.floor(
                    (F.col("x") - F.lit(float(lo))) / span * _KS_BUCKETS
                ).cast("int"),
            ),
        )
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("b")
        .agg(F.sum("cx").alias("tb"))
        .select(
            "b", F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("ob")
        )
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = bucketed.join(F.broadcast(offsets), "b").select(
        "x",
        "cx",
        (F.col("ob") + F.coalesce(F.sum("cx").over(w_in), F.lit(0))).alias(
            "cl"
        ),
    )
    v = s.groupBy("event_type", "x").agg(F.count("*").alias("c"))
    g = v.join(rk, "x").groupBy("event_type").agg(
        F.sum("c").alias("n_g"),
        F.sum(
            F.col("c") * (2 * F.col("cl") + F.col("cx") + 1)
        ).alias("r2"),
    )
    t = tx.agg(
        F.sum("cx").alias("n"),
        F.sum(
            F.col("cx") * F.col("cx") * F.col("cx") - F.col("cx")
        ).alias("tie"),
    )
    return g, t


@register(
    "event_value_mann_whitney",
    oracle=f"""
    WITH {_RANK_CTES},
    zc AS (
        SELECT g.event_type, g.n_g, t.n, g.r2, t.tie,
               g.r2 - g.n_g * (g.n_g + 1) - g.n_g * (t.n - g.n_g) AS num2,
               CAST(g.n_g AS DOUBLE) * (t.n - g.n_g) / 12.0
                   * ((t.n + 1) - CAST(t.tie AS DOUBLE)
                      / (CAST(t.n AS DOUBLE) * (t.n - 1))) AS sigma2
        FROM g CROSS JOIN t
    )
    SELECT event_type,
           CAST(n_g AS BIGINT) AS n_type,
           CAST(n - n_g AS BIGINT) AS n_rest,
           CAST(r2 - n_g * (n_g + 1) AS DOUBLE) / 2 AS u_stat,
           FLOOR(CAST(num2 AS DOUBLE) / (2 * sqrt(sigma2))
                 * 10000.0 + 0.5) / 10000.0 AS z_score,
           ABS(CAST(num2 AS DOUBLE) / (2 * sqrt(sigma2))) >= 1.96
               AS significant
    FROM zc
    """,
)
def event_value_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) one-vs-rest test per event
    type over ``value`` — the nonparametric member of the drift/test
    toolbox next to KS (max ECDF gap), PSI/JS (binned divergence) and
    the ANOVA F (parametric means): does this event type's value
    distribution stochastically dominate the rest?  Per type: sample
    sizes, the exact tie-corrected U statistic, and the normal-
    approximation z (no continuity correction; tie-corrected
    variance).

    Exactness: doubled average ranks are INTEGERS — for a tied value
    x, 2·avgrank(x) = 2·cum_less(x) + cnt(x) + 1 — so the rank sum
    R2 = Σ c·(2·cl + cx + 1), the tie term Σ(t³−t), and the z
    numerator 2·(U−μ) are exact integer aggregates (shuffle-order
    proof); the variance and z are then a FIXED sequence of IEEE
    ops on exact-integer-valued doubles, written identically in both
    engines, with the floor(x·1e4+0.5)/1e4 ladder at emission (sign
    safe where ROUND is not).  At ~1e12 rows R2 ~ N² outgrows BIGINT
    — the documented switch is DECIMAL(38,0) on the three integer
    aggregates.

    Scale shape: one (x,type) hash aggregate with map-side combine;
    the exclusive prefix sum over DISTINCT values reuses the KS
    bucketed two-pass (per-bucket offsets over ≤1024 rows + within-
    bucket windows — no global single-partition sort); everything
    downstream is a ≤|types|-row frame."""
    g, t = _event_value_rank_sums(spark, sf_dir)
    zc = g.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n_g",
        "n",
        (
            F.col("r2")
            - F.col("n_g") * (F.col("n_g") + 1)
            - F.col("n_g") * (F.col("n") - F.col("n_g"))
        ).alias("num2"),
        (
            F.col("n_g").cast("double")
            * (F.col("n") - F.col("n_g"))
            / 12.0
            * (
                (F.col("n") + 1)
                - F.col("tie").cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 1))
            )
        ).alias("sigma2"),
        (F.col("r2") - F.col("n_g") * (F.col("n_g") + 1)).alias("u2"),
    )
    z = F.col("num2").cast("double") / (2 * F.sqrt(F.col("sigma2")))
    return zc.select(
        "event_type",
        F.col("n_g").cast("bigint").alias("n_type"),
        (F.col("n") - F.col("n_g")).cast("bigint").alias("n_rest"),
        (F.col("u2").cast("double") / 2).alias("u_stat"),
        (F.floor(z * 10000.0 + 0.5) / 10000.0).alias("z_score"),
        (F.abs(z) >= 1.96).alias("significant"),
    )


@register(
    "event_value_kruskal_wallis",
    oracle=f"""
    WITH {_RANK_CTES},
    q AS (
        SELECT g.event_type, g.n_g, g.r2, t.n, t.tie,
               CAST(FLOOR(CAST(g.r2 AS DOUBLE) * CAST(g.r2 AS DOUBLE)
                          / (4.0 * g.n_g) * 1000.0) AS BIGINT) AS tq
        FROM g CROSS JOIN t
    ),
    sm AS (
        SELECT MAX(n) AS n, MAX(tie) AS tie, COUNT(*) AS k,
               SUM(tq) AS stq
        FROM q
    ),
    h AS (
        SELECT n, tie, k,
               12.0 / (CAST(n AS DOUBLE) * (n + 1))
                   * (CAST(stq AS DOUBLE) / 1000.0) - 3.0 * (n + 1) AS h_raw,
               1.0 - CAST(tie AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n * n - n) AS c
        FROM sm
    )
    SELECT q.event_type,
           CAST(q.n_g AS BIGINT) AS n_type,
           FLOOR(CAST(q.r2 AS DOUBLE) / (2.0 * q.n_g) * 10000.0 + 0.5)
               / 10000.0 AS mean_rank,
           CAST(h.k - 1 AS BIGINT) AS df,
           FLOOR(h.h_raw * 10000.0 + 0.5) / 10000.0 AS h_stat,
           FLOOR(h.h_raw / h.c * 10000.0 + 0.5) / 10000.0
               AS h_tie_corrected
    FROM q CROSS JOIN h
    """,
)
def event_value_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL event types at once — the k-group
    generalization of [[event_value_mann_whitney]] (one shared rank
    pass, not k pairwise tests) and the rank-based twin of
    [[returnflag_anova_ftest]]'s parametric F: do the k value
    distributions share a location?  Per type: size and mean rank;
    every row carries the global H, its tie-corrected form
    H / (1 − ΣT/(N³−N)), and df = k−1.

    Exactness: reuses the exact-integer doubled rank sums (r2, tie
    term) from the shared rank machinery; each group's R²/n term is
    computed by an IDENTICAL floor-quantized expression in both
    engines (floor of the same IEEE op sequence — deterministic even
    where the product exceeds 2^53 exactness, because determinism
    needs identical rounding, not exact values; the ≤0.001 per-group
    quantization slack moves H by < 1e-8), summed as exact BIGINTs,
    and folded into H with one fixed op sequence; emissions use the
    sign-safe floor ladder.

    Scale shape: identical to the U test — the only data-sized
    stages are the (x, type) hash aggregate and the bucketed
    prefix sum over DISTINCT values; H folds a ≤|types|-row frame."""
    g, t = _event_value_rank_sums(spark, sf_dir)
    q = g.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n_g",
        "r2",
        "n",
        "tie",
        F.floor(
            F.col("r2").cast("double")
            * F.col("r2").cast("double")
            / (4.0 * F.col("n_g"))
            * 1000.0
        )
        .cast("bigint")
        .alias("tq"),
    )
    s = q.agg(
        F.max("n").alias("n"),
        F.max("tie").alias("tie"),
        F.count("*").alias("k"),
        F.sum("tq").alias("stq"),
    )
    h = s.select(
        "n",
        "tie",
        "k",
        (
            12.0
            / (F.col("n").cast("double") * (F.col("n") + 1))
            * (F.col("stq").cast("double") / 1000.0)
            - 3.0 * (F.col("n") + 1)
        ).alias("h_raw"),
        (
            1.0
            - F.col("tie").cast("double")
            / (
                F.col("n").cast("double") * F.col("n") * F.col("n")
                - F.col("n")
            )
        ).alias("c"),
    )
    emit = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return q.crossJoin(F.broadcast(h)).select(
        "event_type",
        F.col("n_g").cast("bigint").alias("n_type"),
        emit(F.col("r2").cast("double") / (2.0 * F.col("n_g"))).alias(
            "mean_rank"
        ),
        (F.col("k") - 1).cast("bigint").alias("df"),
        emit(F.col("h_raw")).alias("h_stat"),
        emit(F.col("h_raw") / F.col("c")).alias("h_tie_corrected"),
    )


#: Deciles reported by the quantile-shift table.
_QSHIFT_QS = tuple(round(0.1 * i, 1) for i in range(1, 10))


@register(
    "drift_quantile_shift",
    oracle=f"""
    WITH s AS (
        SELECT event_type AS feature,
               CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS is_ref,
               value AS x
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    q AS (
        SELECT feature, is_ref,
               quantile_disc(x, [{", ".join(str(q) for q in _QSHIFT_QS)}])
                   AS qs
        FROM s GROUP BY 1, 2
    ),
    u AS (
        SELECT feature, is_ref, qs[g.i] AS qv,
               CAST(g.i AS BIGINT) AS decile
        FROM q, unnest(generate_series(1, {len(_QSHIFT_QS)})) AS g(i)
    )
    SELECT r.feature,
           CAST(r.decile AS INTEGER) AS decile,
           r.qv AS ref_value,
           c.qv AS cur_value,
           FLOOR((c.qv - r.qv) * 1000000.0 + 0.5) / 1000000.0
               AS shift
    FROM u r JOIN u c
      ON r.feature = c.feature AND r.decile = c.decile
    WHERE r.is_ref = 1 AND c.is_ref = 0
    """,
)
def drift_quantile_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile quantile-shift table — the INTERPRETABLE companion
    to the drift detectors: KS/PSI/JS/[[event_value_mann_whitney]]
    say THAT a feature moved; this table says WHERE in the
    distribution and BY HOW MUCH (per event type, the ref-half and
    cur-half decile values and their signed difference — the thing a
    drift dashboard actually plots when the alert fires).

    Determinism: deciles are DISCRETE (an actual element, the same
    element both engines — no interpolation float); the shift is one
    IEEE subtraction of those exact elements emitted via the
    sign-safe floor ladder (a tiny-negative shift must not round to
    -0.0 on one engine only).

    Scale shape: one hash aggregate per (feature, half) computing all
    nine order statistics in a single pass over the grouped values;
    the decile join runs on the 2·9·|types|-row frame."""
    split = F.lit(_SPLIT).cast("timestamp")
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            F.col("event_type").alias("feature"),
            F.when(F.col("ts") < split, 1).otherwise(0).alias("is_ref"),
            F.col("value").alias("x"),
        )
    )
    aggs = []
    for q in _QSHIFT_QS:
        aggs.append(
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY x)"
            ).alias(f"q{int(q * 10)}")
        )
    per = s.groupBy("feature", "is_ref").agg(*aggs)
    long = per.select(
        "feature",
        "is_ref",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(q * 10)).alias("decile"),
                        F.col(f"q{int(q * 10)}").alias("qv"),
                    )
                    for q in _QSHIFT_QS
                ]
            )
        ).alias("d"),
    ).select("feature", "is_ref", F.col("d.decile"), F.col("d.qv"))
    r = long.filter(F.col("is_ref") == 1).select(
        "feature", "decile", F.col("qv").alias("ref_value")
    )
    c = long.filter(F.col("is_ref") == 0).select(
        "feature", "decile", F.col("qv").alias("cur_value")
    )
    return r.join(c, ["feature", "decile"]).select(
        "feature",
        F.col("decile").cast("int").alias("decile"),
        "ref_value",
        "cur_value",
        (
            F.floor(
                (F.col("cur_value") - F.col("ref_value")) * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("shift"),
    )


#: FDR battery split: first-half vs second-half of the order
#: timeline (mid-point of the 1995-01..2001-08 span), and the
#: Benjamini–Hochberg level as an exact 1e-6 integer (α = 0.05).
_FDR_SPLIT = "1998-04-01"
_FDR_ALPHA_E6 = 50000
#: Value-range buckets for the keyed distributed ECDF prefix sum
#: (the ks_2samp global-variant discipline, applied per key).
_FDR_BUCKETS = 256


@register(
    "order_value_drift_fdr",
    oracle=f"""
    WITH s AS (
        SELECT c.c_nationkey AS feature, o.o_totalprice AS x,
               CASE WHEN CAST(o.o_orderdate AS DATE)
                         < DATE '{_FDR_SPLIT}' THEN 1 ELSE 0 END AS is1
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per_x AS (
        SELECT feature, x, SUM(is1) AS c1, SUM(1 - is1) AS c2
        FROM s GROUP BY 1, 2
    ),
    cum AS (
        SELECT feature,
               SUM(c1) OVER (PARTITION BY feature ORDER BY x
                             ROWS UNBOUNDED PRECEDING) AS r1,
               SUM(c2) OVER (PARTITION BY feature ORDER BY x
                             ROWS UNBOUNDED PRECEDING) AS r2
        FROM per_x
    ),
    n AS (
        SELECT feature, MAX(r1) AS n1, MAX(r2) AS n2
        FROM cum GROUP BY 1
    ),
    d AS (
        SELECT c.feature,
               MAX(ABS(CAST(c.r1 AS DOUBLE) / n.n1
                       - CAST(c.r2 AS DOUBLE) / n.n2)) AS d
        FROM cum c JOIN n ON n.feature = c.feature GROUP BY 1
    ),
    p AS (
        SELECT d.feature, n.n1, n.n2, d.d,
               CAST(FLOOR(LEAST(1.0, 2.0 * EXP(-2.0
                    * POW(d.d * SQRT(CAST(n.n1 AS DOUBLE) * n.n2
                                     / (n.n1 + n.n2)), 2)))
                    * 1000000.0 + 0.5) AS BIGINT) AS pq
        FROM d JOIN n ON n.feature = d.feature
    ),
    rk AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY pq, feature) AS p_rank,
               COUNT(*) OVER () AS m
        FROM p
    ),
    ks AS (
        SELECT MAX(CASE WHEN pq * m <= p_rank * {_FDR_ALPHA_E6}
                        THEN p_rank ELSE 0 END) AS kstar
        FROM rk
    )
    SELECT CAST(rk.feature AS BIGINT) AS feature,
           CAST(rk.n1 AS BIGINT) AS n1,
           CAST(rk.n2 AS BIGINT) AS n2,
           FLOOR(rk.d * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
           rk.pq / 1000000.0 AS p_value,
           CAST(rk.p_rank AS BIGINT) AS p_rank,
           CAST(rk.m AS BIGINT) AS n_tests,
           rk.pq < {_FDR_ALPHA_E6} AS reject_raw,
           rk.p_rank <= ks.kstar AS reject_bh
    FROM rk CROSS JOIN ks
    """,
)
def order_value_drift_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-controlled drift battery: an exact two-sample KS
    test of first-half vs second-half order values PER NATION (25
    simultaneous monitors), then Benjamini–Hochberg step-up FDR
    adjustment over the 25 p-values — the governance layer every
    monitor FLEET needs (at α=0.05 a 25-monitor battery on perfectly
    stationary data still pages ~1.25 times per run; BH is what
    separates "one monitor fired" from "drift actually happened").
    Measured signal (r12, sf0.01): exactly the textbook outcome —
    1 of 25 raw p-values rejects at 0.05 (p=0.0092, a false positive
    by construction on this stationary generator) and BH rejects 0.

    Determinism: the ECDF ranks are exact integer prefix sums; D is
    a max over single IEEE divides; p quantizes to an exact 1e-6
    integer (floor ladder) BEFORE every comparison, so the BH
    step-up rule compares exact integers (pq·m ≤ rank·50000) — no
    float-boundary flake in the verdicts; rank ties break on the
    nation key.

    Scale shape: per-key ECDF via the bucketed two-pass prefix sum
    (the ks_2samp global-variant discipline applied per key:
    per-(key, value-range-bucket) local windows + broadcast bucket
    offsets), so no task ever sorts a nation-sized slice of the fact
    table even though |keys| is only 25; the BH step-up runs over
    the 25-row p-value frame (bounded window).  Contrast
    :func:`ks_2samp_keyed`, whose plain per-key window is fine at
    |event_type| × value-cardinality spread but would bottleneck on
    few-key fact-sized groups like this one."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("feature"),
        F.col("o_totalprice").alias("x"),
        F.when(
            F.col("o_orderdate").cast("date")
            < F.lit(_FDR_SPLIT).cast("date"),
            1,
        )
        .otherwise(0)
        .alias("is1"),
    )
    per_x = (
        s.groupBy("feature", "x")
        .agg(F.sum("is1").alias("c1"), F.sum(1 - F.col("is1")).alias("c2"))
        # r13 optimization: feeds the bounds job, the bucket offsets
        # and the within-bucket cumsum — spool once (exact integers).
        # Spool size/fault-tolerance policy: see ks_2samp's
        # ``materialize`` note (distinct (nation, price) pairs here —
        # bounded by price quantization, and droppable the same way
        # if this frame ever outgrew executor-local storage).
        .localCheckpoint()
    )
    bounds = per_x.groupBy("feature").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    bucketed = per_x.join(F.broadcast(bounds), "feature").withColumn(
        "b",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(_FDR_BUCKETS - 1),
                F.floor(
                    (F.col("x") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * _FDR_BUCKETS
                ).cast("int"),
            )
        ),
    )
    w_off = (
        Window.partitionBy("feature")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("feature", "b")
        .agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
        .select(
            "feature",
            "b",
            F.coalesce(F.sum("t1").over(w_off), F.lit(0)).alias("o1"),
            F.coalesce(F.sum("t2").over(w_off), F.lit(0)).alias("o2"),
        )
    )
    w_in = (
        Window.partitionBy("feature", "b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.join(F.broadcast(offsets), ["feature", "b"]).select(
        "feature",
        (F.col("o1") + F.sum("c1").over(w_in)).alias("r1"),
        (F.col("o2") + F.sum("c2").over(w_in)).alias("r2"),
    )
    # totals directly from the checkpointed counts (Σ c == max running
    # sum, same exact integers) — avoids re-executing the cumsum
    # window for the broadcast build.
    totals = per_x.groupBy("feature").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    d = (
        cum.join(F.broadcast(totals), "feature")
        .groupBy("feature")
        .agg(
            F.max(
                F.abs(
                    F.col("r1").cast("double") / F.col("n1")
                    - F.col("r2").cast("double") / F.col("n2")
                )
            ).alias("d"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    lam = F.col("d") * F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    )
    pq = F.floor(
        F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * lam * lam))
        * 1000000.0
        + 0.5
    ).cast("bigint")
    p = d.select("feature", "n1", "n2", "d", pq.alias("pq"))
    w_rank = Window.partitionBy(F.lit(0)).orderBy("pq", "feature")
    w_all = Window.partitionBy(F.lit(0))
    rk = p.select(
        "*",
        F.row_number().over(w_rank).alias("p_rank"),
        F.count("*").over(w_all).alias("m"),
    )
    kstar = rk.agg(
        F.max(
            F.when(
                F.col("pq") * F.col("m")
                <= F.col("p_rank").cast("bigint") * _FDR_ALPHA_E6,
                F.col("p_rank"),
            ).otherwise(0)
        ).alias("kstar")
    )
    return rk.crossJoin(F.broadcast(kstar)).select(
        F.col("feature").cast("bigint").alias("feature"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        (F.floor(F.col("d") * 1000000.0 + 0.5) / 1000000.0).alias("ks_stat"),
        (F.col("pq") / 1000000.0).alias("p_value"),
        F.col("p_rank").cast("bigint").alias("p_rank"),
        F.col("m").cast("bigint").alias("n_tests"),
        (F.col("pq") < _FDR_ALPHA_E6).alias("reject_raw"),
        (F.col("p_rank") <= F.col("kstar")).alias("reject_bh"),
    )
