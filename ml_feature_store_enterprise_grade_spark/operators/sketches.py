"""Mergeable-sketch and pre-join-pruning operators.

Three engine additions for the 100 TB regime, where the exact forms
of these questions (full distinct-intersections, full sorts, full
shuffles) stop being affordable:

* **KMV audience overlap** — k-minimum-values bottom-k sketches over
  a portable 60-bit hash estimate per-slice distinct cardinalities,
  union sizes, and intersection sizes for every event-type pair
  without ever materializing the distinct sets side by side
  (Beyer et al., "On Synopses for Distinct-Value Estimation Under
  Multiset Operations", SIGMOD 2007).  A KMV sketch is k rows; union
  merge is "concat and re-take bottom-k" — associative, so sketches
  roll up across partitions/days exactly like partial aggregates.
* **Bloom pre-join pruning** — a single-hash Bloom filter realized
  as a DISTINCT bucket table (``hash(key) % m``, so at most ``m``
  rows) built from the dimension side's surviving keys and broadcast
  to the fact scan.  Fact rows drop *before* the join shuffle; the
  exact join afterwards removes the false positives, so results are
  identical to the unpruned plan while the shuffle carries only the
  (selectivity + fp-rate) fraction of the fact table.  The audit
  query measures exactly that trade-off per order priority.
* **Histogram quantile rollup** — fixed-width bin counts per
  (event_type, day) form a mergeable quantile sketch: summing bin
  vectors over any day range reproduces the range's sketch without
  rescanning raw events, and an inverse-CDF walk with linear
  interpolation reads p50/p95/p99 off the merged histogram.  Unlike
  ``percentile_approx`` (a per-query scan), the per-day sketches
  persist and re-aggregate — the shape a 100 TB monitoring store
  needs.

All three are pure Catalyst expressions over the portable MD5-based
hash (``functions/scalar.portable_hash64``), so every number —
including the false-positive counts and the sketch estimates
themselves — is bit-identical in the DuckDB oracles.  Deterministic
sketching beats seeded-RNG sketching here for exactly that reason:
the correctness gate can hash-compare estimates, not just bounds.

Not in the reference (its monitoring stack computes exact distincts
and exact percentiles per batch, e.g. clickstream_aggregation.py's
``countDistinct``/``approx_count_distinct`` pairs); these are the
scale-path twins of those exact operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_rows
from ..functions import PORTABLE_HASH64_SQL, portable_hash64
from ..registry import register
from ..sources.files import read_table, write_table

# --------------------------------------------------------------------------
# KMV audience overlap
# --------------------------------------------------------------------------

#: Sketch size.  Relative error ~ 1/sqrt(k-1) ≈ 13% at 64 — small on
#: purpose so sf0.01 (a few thousand user-days per type) exercises
#: the *estimation* path, not the exact small-set path.
_KMV_K = 64

_KMV_SEED = 17

#: Local bottom-k fan-in for the two-stage selection (see
#: :func:`_bottom_k`).  Production: ~cluster parallelism.
_KMV_SHARDS = 32

#: (k-1) * 2^60 as an exact double literal shared by both engines.
_KMV_NUM = float(_KMV_K - 1) * float(1 << 60)


def _bottom_k(df: DataFrame, part_cols: list[str], k: int) -> DataFrame:
    """Bottom-k of ``h`` per partition key, two-stage.

    A single ``row_number() OVER (PARTITION BY type ORDER BY h)``
    funnels every distinct hash of a type through one task's sort.
    Stage 1 takes a local bottom-k per (key, h % shards) — full
    parallelism, each sort bounded — so stage 2's per-key sort sees
    at most shards*k candidate rows.  Bottom-k of bottom-ks is the
    global bottom-k, so the result (and the oracle's one-stage
    QUALIFY form) is identical.
    """
    local = Window.partitionBy(*part_cols, "__shard").orderBy("h")
    cand = (
        df.withColumn("__shard", F.pmod(F.col("h"), F.lit(_KMV_SHARDS)))
        .withColumn("__rk", F.row_number().over(local))
        .filter(F.col("__rk") <= k)
        .drop("__shard", "__rk")
    )
    final = Window.partitionBy(*part_cols).orderBy("h")
    return (
        cand.withColumn("__rk", F.row_number().over(final))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _kmv_est(n_sk: Column, tau: Column) -> Column:
    """KMV distinct estimate: exact count while the sketch is not
    full, else (k-1) * 2^60 / tau (tau = k-th smallest hash)."""
    return F.when(n_sk < _KMV_K, n_sk.cast("double")).otherwise(
        F.lit(_KMV_NUM) / tau.cast("double")
    )


def _KMV_EST_SQL(n_sk: str, tau: str) -> str:
    return (
        f"CASE WHEN {n_sk} < {_KMV_K} THEN CAST({n_sk} AS DOUBLE) "
        f"ELSE {_KMV_NUM!r} / CAST({tau} AS DOUBLE) END"
    )


def kmv_sketch(df: DataFrame, slice_cols: list[str], member: Column) -> DataFrame:
    """Build a KMV sketch (bottom-k portable hashes of ``member``)
    per slice.  k rows per slice; merge = union + :func:`_bottom_k`."""
    hashed = df.select(
        *slice_cols, portable_hash64(member, _KMV_SEED).alias("h")
    ).distinct()
    return _bottom_k(hashed, slice_cols, _KMV_K)


@register(
    "kmv_audience_overlap",
    oracle=f"""
    WITH member AS (
        SELECT DISTINCT event_type,
               {PORTABLE_HASH64_SQL(
                   "CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)",
                   _KMV_SEED,
               )} AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    sketch AS (
        SELECT event_type, h FROM member
        QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) <= {_KMV_K}
    ),
    stats AS (
        SELECT event_type, COUNT(*) AS n_sk, MAX(h) AS tau,
               {_KMV_EST_SQL("COUNT(*)", "MAX(h)")} AS est
        FROM sketch GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM stats a JOIN stats b ON a.event_type < b.event_type
    ),
    pool AS (
        SELECT ta, tb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
            SELECT p.ta, p.tb, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sketch s ON s.event_type = p.ta
            UNION ALL
            SELECT p.ta, p.tb, s.h, 0 AS in_a, 1 AS in_b
            FROM pairs p JOIN sketch s ON s.event_type = p.tb
        ) GROUP BY ta, tb, h
    ),
    ubk AS (
        SELECT ta, tb, h, in_a, in_b FROM pool
        QUALIFY ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) <= {_KMV_K}
    ),
    ustats AS (
        SELECT ta, tb, COUNT(*) AS n_u, MAX(h) AS tau_u,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
               {_KMV_EST_SQL("COUNT(*)", "MAX(h)")} AS est_u
        FROM ubk GROUP BY ta, tb
    )
    SELECT u.ta AS type_a, u.tb AS type_b,
           ROUND(sa.est, 4) AS est_a,
           ROUND(sb.est, 4) AS est_b,
           ROUND(u.est_u, 4) AS est_union,
           ROUND(CAST(u.n_both AS DOUBLE) * u.est_u
                 / CAST(u.n_u AS DOUBLE), 4) AS est_overlap,
           ROUND(CAST(u.n_both AS DOUBLE) / CAST(u.n_u AS DOUBLE), 4)
               AS jaccard_est
    FROM ustats u
    JOIN stats sa ON sa.event_type = u.ta
    JOIN stats sb ON sb.event_type = u.tb
    """,
)
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated audience overlap between every event-type pair.

    Audience = distinct active (user, day) pairs.  One distinct pass
    over events builds a k-row sketch per type; every pairwise union /
    intersection / Jaccard estimate is then computed from the 5k-row
    sketch table alone — the raw events are never touched again, and
    sketches for disjoint time ranges could be merged instead of
    recomputed.  At 100 TB the alternative (10 pairwise
    COUNT(DISTINCT) intersections over the fact table) is 10 full
    shuffles; this is one.

    The reference's overlap-style audits (exact INTERSECT counts,
    ``event_customer_overlap``) stay available as the exact twins;
    this is the sketch path for when the distinct sets no longer fit.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    member = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.to_date("ts").cast("string"),
    )
    # spooled: the <= |types|*k-row sketch is consumed by the per-type
    # stats, both sides of the pair pool, and the union re-sketch —
    # without the spool each consumer re-runs the full events scan +
    # distinct + two-stage bottom-k.
    sketch = kmv_sketch(ev, ["event_type"], member).localCheckpoint()

    stats = sketch.groupBy("event_type").agg(
        F.count("*").alias("n_sk"), F.max("h").alias("tau")
    )
    stats = stats.select(
        "event_type", _kmv_est(F.col("n_sk"), F.col("tau")).alias("est")
    )

    a = stats.select(F.col("event_type").alias("ta"))
    b = stats.select(F.col("event_type").alias("tb"))
    pairs = a.join(b, F.col("ta") < F.col("tb"))

    sk = sketch.select(F.col("event_type").alias("t"), "h")
    pool = (
        pairs.join(sk, F.col("t") == F.col("ta"))
        .select("ta", "tb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionAll(
            pairs.join(sk, F.col("t") == F.col("tb")).select(
                "ta", "tb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("ta", "tb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    uw = Window.partitionBy("ta", "tb").orderBy("h")
    ustats = (
        pool.withColumn("__rk", F.row_number().over(uw))
        .filter(F.col("__rk") <= _KMV_K)
        .groupBy("ta", "tb")
        .agg(
            F.count("*").alias("n_u"),
            F.max("h").alias("tau_u"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
        )
        .select(
            "ta",
            "tb",
            "n_u",
            "n_both",
            _kmv_est(F.col("n_u"), F.col("tau_u")).alias("est_u"),
        )
    )

    overlap = (
        F.col("n_both").cast("double") * F.col("est_u") / F.col("n_u").cast("double")
    )
    return (
        ustats.join(
            stats.select(F.col("event_type").alias("ta"), F.col("est").alias("est_a0")),
            "ta",
        )
        .join(
            stats.select(F.col("event_type").alias("tb"), F.col("est").alias("est_b0")),
            "tb",
        )
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.round("est_a0", 4).alias("est_a"),
            F.round("est_b0", 4).alias("est_b"),
            F.round("est_u", 4).alias("est_union"),
            F.round(overlap, 4).alias("est_overlap"),
            F.round(
                F.col("n_both").cast("double") / F.col("n_u").cast("double"), 4
            ).alias("jaccard_est"),
        )
    )


# --------------------------------------------------------------------------
# Bloom pre-join pruning
# --------------------------------------------------------------------------

#: Bloom bucket count.  m rows is the whole broadcast payload; with
#: |dim keys| = d the false-positive rate is ~ 1 - (1 - 1/m)^d
#: (single hash function).  4096 buckets / ~300 sf0.01 keys ≈ 7%.
_BLOOM_M = 4096

_BLOOM_SEED = 23

_BLOOM_SEGMENT = "AUTOMOBILE"


def bloom_prune(
    fact: DataFrame,
    fact_key: str,
    dim_keys: DataFrame,
    dim_key: str,
    m: int = _BLOOM_M,
    seed: int = _BLOOM_SEED,
) -> DataFrame:
    """Drop fact rows whose key cannot be in ``dim_keys``.

    Builds the DISTINCT ``hash % m`` bucket table (≤ m rows) from the
    dimension keys and broadcast-semi-joins the fact on its own
    bucket.  Output is a superset of the exact semi-join (false
    positives stay; the caller's real join removes them) — so placing
    this before a shuffle join never changes results, only shrinks
    the shuffle.  This is the runtime-filter/bloom pushdown pattern
    made explicit for joins AQE cannot cover (e.g. the dim side is
    itself a subquery Spark won't derive a runtime filter from).
    """
    buckets = dim_keys.select(
        F.pmod(portable_hash64(F.col(dim_key).cast("string"), seed), F.lit(m)).alias(
            "__bucket"
        )
    ).distinct()
    pruned = (
        fact.withColumn(
            "__bucket",
            F.pmod(portable_hash64(F.col(fact_key).cast("string"), seed), F.lit(m)),
        )
        .join(F.broadcast(buckets), "__bucket", "left_semi")
        .drop("__bucket")
    )
    return pruned


@register(
    "bloom_prejoin_prune",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT c_custkey FROM customer
        WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ),
    buckets AS (
        SELECT DISTINCT
               {PORTABLE_HASH64_SQL("CAST(c_custkey AS VARCHAR)", _BLOOM_SEED)}
                   % {_BLOOM_M} AS bucket
        FROM dim
    ),
    f AS (
        SELECT o_orderpriority,
               {PORTABLE_HASH64_SQL("CAST(o_custkey AS VARCHAR)", _BLOOM_SEED)}
                   % {_BLOOM_M} AS bucket,
               o_custkey IN (SELECT c_custkey FROM dim) AS is_match
        FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN bucket IN (SELECT bucket FROM buckets)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_pass,
           CAST(SUM(CASE WHEN bucket IN (SELECT bucket FROM buckets)
                              AND NOT is_match
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN bucket IN (SELECT bucket FROM buckets)
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS shuffle_fraction
    FROM f
    GROUP BY o_orderpriority
    """,
)
def bloom_prejoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prune effectiveness audit: orders x {AUTOMOBILE customers}.

    Per order priority: how many orders a broadcast bucket filter
    would let through to the join shuffle (``n_bloom_pass``) vs the
    exact member count (``n_exact_pass``), the false positives the
    real join then discards, and the surviving shuffle fraction.
    This is the pre-flight a pipeline runs before enabling
    :func:`bloom_prune` on a fact-dim join — at 100 TB, shipping 26%
    of lineitem instead of 100% through the shuffle is the difference
    between a stage that fits and one that spills.

    Every count is deterministic (portable hash), so the oracle
    checks the false-positive numbers exactly, not just bounds.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    dim = c.filter(F.col("c_mktsegment") == _BLOOM_SEGMENT).select("c_custkey").distinct()
    buckets = dim.select(
        F.pmod(
            portable_hash64(F.col("c_custkey").cast("string"), _BLOOM_SEED),
            F.lit(_BLOOM_M),
        ).alias("bucket")
    ).distinct()

    flagged = (
        o.select(
            "o_orderpriority",
            "o_custkey",
            F.pmod(
                portable_hash64(F.col("o_custkey").cast("string"), _BLOOM_SEED),
                F.lit(_BLOOM_M),
            ).alias("bucket"),
        )
        .join(
            F.broadcast(buckets.withColumn("bloom_hit", F.lit(1))), "bucket", "left"
        )
        .join(
            F.broadcast(dim.select(F.col("c_custkey").alias("o_custkey")).withColumn("exact_hit", F.lit(1))),
            "o_custkey",
            "left",
        )
    )
    bloom = F.col("bloom_hit").isNotNull()
    exact = F.col("exact_hit").isNotNull()
    n_bloom = F.sum(F.when(bloom, 1).otherwise(0)).cast("bigint")
    return flagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        n_bloom.alias("n_bloom_pass"),
        F.sum(F.when(exact, 1).otherwise(0)).cast("bigint").alias("n_exact_pass"),
        F.sum(F.when(bloom & ~exact, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.round(n_bloom.cast("double") / F.count("*").cast("double"), 4).alias(
            "shuffle_fraction"
        ),
    )


# --------------------------------------------------------------------------
# Histogram quantile rollup
# --------------------------------------------------------------------------

#: Fixed bin width for event values (range ~0..500 → ≤ ~100 bins per
#: type).  Quantile estimates are exact to within one bin width under
#: linear interpolation; shrink the width to buy accuracy with
#: linearly more (still tiny) sketch rows.
_HQ_BIN_W = 5.0

_HQ_QS = (0.5, 0.95, 0.99)


def hist_day_sketch(events: DataFrame, bin_w: float = _HQ_BIN_W) -> DataFrame:
    """The persistable per-(type, day) histogram sketch: bounded
    (event_type, day, bin, cnt) rows, built in one map-side-combined
    pass over raw events."""
    return events.filter(F.col("value").isNotNull() & ~F.isnan("value")).groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") / bin_w).cast("bigint").alias("bin"),
    ).agg(F.count("*").alias("cnt"))


def hist_quantiles(
    merged: DataFrame, qs: tuple[float, ...] = _HQ_QS, bin_w: float = _HQ_BIN_W
) -> DataFrame:
    """Inverse-CDF walk over a merged (event_type, bin, cnt) histogram:
    one estimate column per requested quantile, linear interpolation
    inside the hit bin.  The cumulative window is partitioned per
    type over <= ~100 bin rows — never a global sort."""
    spark = merged.sparkSession
    wcum = Window.partitionBy("event_type").orderBy("bin")
    cum = merged.withColumn("cum", F.sum("cnt").over(wcum).cast("bigint"))
    tot = merged.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))

    qdf = local_rows(spark, [(q,) for q in qs], "q double")
    tgt = tot.crossJoin(F.broadcast(qdf)).withColumn(
        "target", F.ceil(F.col("q") * F.col("n").cast("double")).cast("bigint")
    )
    est = (
        F.col("bin").cast("double") * F.lit(bin_w)
        + F.lit(bin_w)
        * (F.col("target") - (F.col("cum") - F.col("cnt"))).cast("double")
        / F.col("cnt").cast("double")
    )
    hit = (
        tgt.join(cum, "event_type")
        .filter(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum") - F.col("cnt") < F.col("target"))
        )
        .select("event_type", "n", "q", est.alias("est"))
    )
    return hit.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        *[
            F.round(F.max(F.when(F.col("q") == F.lit(q), F.col("est"))), 6).alias(
                f"est_p{int(q * 100)}"
            )
            for q in qs
        ],
    )


class HistogramSketchStore:
    """Persisted mergeable histogram sketches — the monitoring-store
    half of :func:`histogram_quantile_rollup`.

    ``build`` writes the per-(type, day) bin counts as parquet
    partitioned BY DAY; ``quantiles(start, end)`` then answers any
    day-range percentile question by merging only that range's
    sketch partitions — the day filter lands in the scan's partition
    pruning, so a 7-day question over a year of sketches reads 7
    directories of a few KB each and never touches raw events.  This
    is the persisted-partial-aggregate pattern: sketches are exact
    count vectors, so merges are lossless (asserted in
    tests/test_sketches.py) and late re-ingestion of one day only
    rewrites that day's partition.
    """

    def __init__(self, spark: SparkSession, path: str, bin_w: float = _HQ_BIN_W):
        self.spark = spark
        self.path = path
        self.bin_w = bin_w

    def build(self, events: DataFrame) -> None:
        write_table(hist_day_sketch(events, self.bin_w), self.path, partition_by="day")

    def merged(self, start: str | None = None, end: str | None = None) -> DataFrame:
        """(event_type, bin, cnt) summed over the day range
        [start, end] (inclusive bounds, either side open)."""
        sk = read_table(self.spark, self.path)
        if start is not None:
            sk = sk.filter(F.col("day") >= F.lit(start).cast("date"))
        if end is not None:
            sk = sk.filter(F.col("day") <= F.lit(end).cast("date"))
        return sk.groupBy("event_type", "bin").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )

    def quantiles(
        self,
        qs: tuple[float, ...] = _HQ_QS,
        start: str | None = None,
        end: str | None = None,
    ) -> DataFrame:
        return hist_quantiles(self.merged(start, end), qs, self.bin_w)



@register(
    "histogram_quantile_rollup",
    oracle=f"""
    WITH day_sk AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(FLOOR(value / {_HQ_BIN_W!r}) AS BIGINT) AS bin,
               COUNT(*) AS cnt
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
        GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM day_sk GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                    AS BIGINT) AS cum
        FROM merged
    ),
    tot AS (
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM merged GROUP BY 1
    ),
    tgt AS (
        SELECT event_type, n, q,
               CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT) AS target
        FROM tot CROSS JOIN (
            SELECT CAST(0.5 AS DOUBLE) AS q
            UNION ALL SELECT CAST(0.95 AS DOUBLE)
            UNION ALL SELECT CAST(0.99 AS DOUBLE)
        )
    ),
    hit AS (
        SELECT t.event_type, t.n, t.q,
               CAST(c.bin AS DOUBLE) * {_HQ_BIN_W!r}
                 + {_HQ_BIN_W!r} * CAST(t.target - (c.cum - c.cnt) AS DOUBLE)
                   / CAST(c.cnt AS DOUBLE) AS est
        FROM tgt t JOIN cum c ON c.event_type = t.event_type
        WHERE c.cum >= t.target AND c.cum - c.cnt < t.target
    )
    SELECT event_type, MAX(n) AS n_events,
           ROUND(MAX(CASE WHEN q = CAST(0.5 AS DOUBLE) THEN est END), 6) AS est_p50,
           ROUND(MAX(CASE WHEN q = CAST(0.95 AS DOUBLE) THEN est END), 6) AS est_p95,
           ROUND(MAX(CASE WHEN q = CAST(0.99 AS DOUBLE) THEN est END), 6) AS est_p99
    FROM hit GROUP BY event_type
    """,
)
def histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 per event type read off merged per-day bin sketches.

    Stage 1 (the sketch build) is the only pass over raw events and
    carries map-side partial aggregation; its (type, day, bin) counts
    are what a monitoring store would persist.  Stage 2 merges days
    into per-type histograms — pure count addition, associative, so
    any day range re-aggregates without touching events.  Stage 3
    walks the inverse CDF: the target rank lands in exactly one bin
    (the first with cum >= target), and linear interpolation inside
    it bounds the error by one bin width.  The cumulative-sum window
    is partitioned per type over <= ~100 bin rows — no global sort
    anywhere.

    Exact twins: ``event_value_percentiles`` (percentile_approx) and
    ``feature_summary_stats`` (exact median) — per-query scans this
    sketch path replaces at scale.  :class:`HistogramSketchStore`
    persists the stage-1 sketches and serves arbitrary day ranges.
    """
    e = load_table(spark, sf_dir, "events")
    merged = hist_day_sketch(e).groupBy("event_type", "bin").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    return hist_quantiles(merged)


_CM_DEPTH = 4
_CM_WIDTH = 256
_CM_TOPK = 20


@register(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH ev AS (
        SELECT user_id FROM events WHERE user_id IS NOT NULL
    ),
    x AS (
        SELECT user_id, d.seed,
               {PORTABLE_HASH64_SQL("CAST(user_id AS VARCHAR)", seed="' || d.seed || '")}
                   % {_CM_WIDTH} AS bucket
        FROM ev, (VALUES (0), (1), (2), (3)) d(seed)
    ),
    sk AS (SELECT seed, bucket, COUNT(*) AS cnt FROM x GROUP BY 1, 2),
    exact AS (SELECT user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY 1),
    top AS (
        SELECT user_id, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, user_id LIMIT {_CM_TOPK}
    )
    SELECT t.user_id, t.exact_cnt,
           MIN(s.cnt) AS est_cnt,
           MIN(s.cnt) - t.exact_cnt AS overestimate
    FROM top t
    CROSS JOIN (VALUES (0), (1), (2), (3)) d(seed)
    JOIN sk s
      ON s.seed = d.seed
     AND s.bucket = {PORTABLE_HASH64_SQL("CAST(t.user_id AS VARCHAR)", seed="' || d.seed || '")}
                    % {_CM_WIDTH}
    GROUP BY 1, 2
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit (Cormode & Muthukrishnan 2005): a
    4×256 counter grid estimates any key's
    frequency as min over its 4 bucket counters — always an
    OVERestimate, so the report's ``overestimate`` column is ≥ 0 by
    construction and shows the collision error the width buys at this
    cardinality.  Probed here for the exact top-20 users so
    the driver can hash-verify estimates against ground truth.

    Scale shape: the grid build explodes each event into 4
    (seed, bucket) rows MAP-SIDE and one aggregate collapses them —
    partial combine bounds the shuffle at partitions × 4
    × 256 rows regardless of event volume, and the finished
    grid is 4×256 rows: broadcastable state that
    merges across days/streams by cell-wise addition (the same
    mergeability contract as the KMV and histogram sketches above).
    Deterministic portable hashing makes the estimates themselves
    oracle-checkable."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )

    def buckets(col: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(s).alias("seed"),
                    (
                        portable_hash64(col.cast("string"), seed=s) % _CM_WIDTH
                    ).alias("bucket"),
                )
                for s in range(_CM_DEPTH)
            ]
        )

    sk = (
        ev.select(F.explode(buckets(F.col("user_id"))).alias("sb"))
        .groupBy("sb.seed", "sb.bucket")
        .agg(F.count("*").alias("cnt"))
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), "user_id").limit(_CM_TOPK)
    probe = top.select(
        "user_id", "exact_cnt", F.explode(buckets(F.col("user_id"))).alias("sb")
    ).select("user_id", "exact_cnt", "sb.seed", "sb.bucket")
    return (
        probe.join(F.broadcast(sk), ["seed", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select(
            "user_id",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


#: Portable-HLL geometry: m = 64 registers (6 index bits), rho scans
#: the next 54 bits of the 60-bit portable hash.  alpha_64 = 0.709
#: (Flajolet et al. 2007, Fig. 3).
_HLL_M = 64
#: Register-index bit width, derived (NOT restated): rho scans the
#: bits ABOVE the index bits, so a retune of _HLL_M moves the scan
#: window with it instead of silently overlapping.
_HLL_IDX_BITS = _HLL_M.bit_length() - 1  # 6 for m=64
_HLL_RHO_BITS = 54
_HLL_ALPHA = 0.709
_HLL_SEED = 21


@register(
    "hll_portable_distinct_rollup",
    oracle=f"""
    WITH h AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               {PORTABLE_HASH64_SQL("user_id", _HLL_SEED)} AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
        SELECT event_type, d, h % {_HLL_M} AS register,
               COALESCE(list_min(list_filter(
                   generate_series(1, {_HLL_RHO_BITS}),
                   j -> ((h >> ({_HLL_IDX_BITS - 1} + j)) & 1) = 1)),
                   {_HLL_RHO_BITS + 1}) AS rho
        FROM h
    ),
    daily AS (
        SELECT event_type, d, register, MAX(rho) AS max_rho
        FROM r GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, register, MAX(max_rho) AS m_rho
        FROM daily GROUP BY 1, 2
    ),
    est AS (
        SELECT event_type,
               COUNT(*) AS n_present,
               SUM(POWER(2.0, -m_rho)) + ({_HLL_M} - COUNT(*)) AS sum_pow
        FROM merged GROUP BY 1
    ),
    ex AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    sc AS (
        SELECT e.event_type, e.n_present,
               {_HLL_ALPHA} * {_HLL_M * _HLL_M} / e.sum_pow AS raw,
               {_HLL_M} - e.n_present AS zeros,
               x.exact_users
        FROM est e JOIN ex x ON e.event_type = x.event_type
    )
    SELECT event_type,
           CAST(n_present AS BIGINT) AS n_registers_hit,
           ROUND(CASE WHEN raw <= {2.5 * _HLL_M} AND zeros > 0
                      THEN {_HLL_M} * ln({_HLL_M}.0 / zeros)
                      ELSE raw END, 6) AS approx_distinct_users,
           exact_users,
           ROUND(ABS(CASE WHEN raw <= {2.5 * _HLL_M} AND zeros > 0
                          THEN {_HLL_M} * ln({_HLL_M}.0 / zeros)
                          ELSE raw END - exact_users) / exact_users, 6)
               AS rel_err
    FROM sc
    """,
)
def hll_portable_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user rollup — the
    oracle-CHECKABLE twin of ``sketch_distinct_users_rollup``: the
    same mergeable shape (daily register sketches → per-event-type
    union by register-wise MAX, never re-reading raw data), built on
    the portable 60-bit hash so both engines derive identical
    registers and the driver hash-verifies the ESTIMATES themselves,
    not just row counts.  Register index = low 6 hash bits; rho =
    position of the first set bit above them (classic HLL with the
    m=64 small-range linear-counting correction).

    Scale shape: the daily sketch build is one map-side-combined
    aggregate bounded at groups × 64 rows; merges are register-wise
    MAX — associative, so sketches persist per day/partition and any
    date-range rollup touches only sketch rows.  Exact countDistinct
    rides along purely as the audit column."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    h = portable_hash64(F.col("user_id"), seed=_HLL_SEED)
    rho = F.expr(
        f"coalesce(array_min(filter(sequence(1, {_HLL_RHO_BITS}), "
        f"j -> ((h >> ({_HLL_IDX_BITS - 1} + j)) & 1) = 1)), "
        f"{_HLL_RHO_BITS + 1})"
    )
    r = e.select(
        "event_type", F.to_date("ts").alias("d"), h.alias("h")
    ).select(
        "event_type", "d", (F.col("h") % _HLL_M).alias("register"), rho.alias("rho")
    )
    daily = r.groupBy("event_type", "d", "register").agg(
        F.max("rho").alias("max_rho")
    )
    merged = daily.groupBy("event_type", "register").agg(
        F.max("max_rho").alias("m_rho")
    )
    est = merged.groupBy("event_type").agg(
        F.count("*").alias("n_present"),
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m_rho")))
            + (F.lit(_HLL_M) - F.count("*"))
        ).alias("sum_pow"),
    )
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    raw = F.lit(_HLL_ALPHA) * (_HLL_M * _HLL_M) / F.col("sum_pow")
    zeros = F.lit(_HLL_M) - F.col("n_present")
    estimate = F.when(
        (raw <= 2.5 * _HLL_M) & (zeros > 0),
        F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return est.join(ex, "event_type").select(
        "event_type",
        F.col("n_present").alias("n_registers_hit"),
        F.round(estimate, 6).alias("approx_distinct_users"),
        "exact_users",
        F.round(F.abs(estimate - F.col("exact_users")) / F.col("exact_users"), 6)
        .alias("rel_err"),
    )
