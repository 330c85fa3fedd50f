"""Feature-encoding operators: target encoding, hashing trick, splits.

The reference engineers its features with plain aggregates and serves
them raw (reference feast_repo/features.py, scripts/
generate_features.py); the model-side encodings a training pipeline
applies on top — smoothed target encoding, the feature-hashing trick,
deterministic dataset splits — are BASELINE north-star extensions,
built Spark-first and fully oracle-checkable:

* target encoding — leave-one-out smoothed category→mean(target)
  mapping.  LOO (subtract the row's own target before averaging) is
  the standard leakage guard: the encoded value for a row never
  contains that row's label.
* feature hash cross — bucket a categorical cross product with the
  portable 60-bit hash (no vocabulary build, fixed width — the only
  crossing strategy that works when the cross cardinality is
  unbounded at 100 TB).
* split assignment — hash-of-key split (80/10/10).  Hashing the key
  (never ``rand()``) keeps the split stable under re-runs, data
  arrival order, and cluster topology, and keeps all rows of one
  entity in one split.

Scale shapes: target encoding is one two-phase aggregate over the
fact table producing a tiny category map that broadcasts back — the
fact table is scanned twice but never shuffled.  Hash cross and
split assignment are pure map-side projections: zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import MONEY_SQL, PORTABLE_HASH64_SQL, money, portable_hash64
from ..functions.ranking import scalable_ntile
from ..registry import register

#: Smoothing pseudo-count: the encoded value is pulled toward the
#: global mean with the weight of this many virtual rows — the usual
#: guard against high-variance estimates for rare categories.
_TE_SMOOTHING = 10

#: Hashing-trick output width (buckets).
_CROSS_BUCKETS = 1024

#: Split hash seed + boundaries: [0,80) train, [80,90) val, rest test.
_SPLIT_SEED = 7
_SPLIT_TRAIN_END = 80
_SPLIT_VAL_END = 90


@register(
    "target_encoding_loo",
    oracle=f"""
    WITH cat AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_c,
               SUM({MONEY_SQL("o_totalprice")}) AS s_c
        FROM orders GROUP BY 1
    ),
    g AS (
        SELECT CAST(SUM({MONEY_SQL("o_totalprice")}) AS DOUBLE) / COUNT(*) AS gmean
        FROM orders
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST({MONEY_SQL("o.o_totalprice")} AS DOUBLE) AS target,
           floor((CAST(c.s_c - {MONEY_SQL("o.o_totalprice")} AS DOUBLE)
                  + {_TE_SMOOTHING} * g.gmean)
                 / (c.n_c - 1 + {_TE_SMOOTHING}) * 1000000 + 0.5) / 1000000 AS te_loo
    FROM orders o
    JOIN cat c USING (o_orderpriority)
    CROSS JOIN g
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of ``o_orderpriority``
    against target ``o_totalprice``:

        te(row) = ((S_cat − target_row) + m·global_mean) / (n_cat − 1 + m)

    Exact-decimal sums (MONEY discipline) make the category/global
    sums associative, so the encoding is deterministic under any
    partial-aggregation order; the one double division happens last,
    in an identical expression tree on both engines.  The 6-dp rounding
    is ``floor(x*10^6 + 0.5)/10^6`` on both sides: Spark's ``round``
    works on the shortest decimal repr and DuckDB's in floating point,
    so at a half-way tie they disagree in the last digit.

    Scale: the category map is |categories| rows — broadcast back to
    the fact table (zero fact shuffle); the global mean is a scalar
    broadcast.  Two scans, no shuffle of the big side.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    t = money(F.col("o_totalprice"))
    cat = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_c"), F.sum(t).alias("s_c")
    )
    g = orders.agg(
        (F.sum(t).cast("double") / F.count("*")).alias("gmean")
    )
    te = (
        (F.col("s_c") - t).cast("double") + F.lit(_TE_SMOOTHING) * F.col("gmean")
    ) / (F.col("n_c") - 1 + _TE_SMOOTHING)
    return (
        orders.join(F.broadcast(cat), "o_orderpriority")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "o_orderpriority",
            t.cast("double").alias("target"),
            (F.floor(te * 1000000 + F.lit(0.5)) / 1000000).alias("te_loo"),
        )
    )


@register(
    "feature_hash_cross",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, c_nationkey,
           {PORTABLE_HASH64_SQL("c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR)")}
               % {_CROSS_BUCKETS} AS cross_bucket
    FROM customer
    """,
)
def feature_hash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing trick: bucket the (market segment × nation)
    cross into a fixed {n}-wide space with the portable 60-bit hash
    (nonnegative, so ``%`` agrees across engines).  Pure projection:
    no vocabulary, no shuffle, no state — the only crossing strategy
    whose cost is flat when category cardinalities explode.
    """
    crossed = F.concat_ws(
        "|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        (portable_hash64(crossed) % _CROSS_BUCKETS).alias("cross_bucket"),
    )


@register(
    "dataset_split_assignment",
    oracle=f"""
    SELECT c_custkey,
           {PORTABLE_HASH64_SQL("CAST(c_custkey AS VARCHAR)", _SPLIT_SEED)} % 100
               AS split_bucket,
           CASE
               WHEN {PORTABLE_HASH64_SQL("CAST(c_custkey AS VARCHAR)", _SPLIT_SEED)} % 100
                    < {_SPLIT_TRAIN_END} THEN 'train'
               WHEN {PORTABLE_HASH64_SQL("CAST(c_custkey AS VARCHAR)", _SPLIT_SEED)} % 100
                    < {_SPLIT_VAL_END} THEN 'val'
               ELSE 'test'
           END AS split
    FROM customer
    """,
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    entity key.  Hash-of-key (never ``rand()``) is what survives at
    scale: assignments are reproducible across runs and clusters,
    unaffected by row order or partitioning, and every row of an
    entity lands in the same split (no entity-level leakage between
    train and test).  Pure map-side projection — zero shuffles.
    """
    bucket = (
        portable_hash64(F.col("c_custkey").cast("string"), seed=_SPLIT_SEED) % 100
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        bucket.alias("split_bucket"),
        F.when(bucket < _SPLIT_TRAIN_END, "train")
        .when(bucket < _SPLIT_VAL_END, "val")
        .otherwise("test")
        .alias("split"),
    )


#: Leakage-aware temporal split boundaries over the events corpus
#: (Jan 2024): a purge/embargo day after each cut absorbs label
#: horizons that straddle the boundary (the time-series CV discipline
#: — features computed before the cut must not see labels after it).
_T_TRAIN_END = "2024-01-20"
_T_VAL_START = "2024-01-21"
_T_VAL_END = "2024-01-27"
_T_TEST_START = "2024-01-28"


@register(
    "temporal_split_embargo",
    oracle=f"""
    SELECT event_id, ts,
           CASE WHEN ts <  TIMESTAMP '{_T_TRAIN_END}' THEN 'train'
                WHEN ts <  TIMESTAMP '{_T_VAL_START}' THEN 'purged'
                WHEN ts <  TIMESTAMP '{_T_VAL_END}'   THEN 'val'
                WHEN ts <  TIMESTAMP '{_T_TEST_START}' THEN 'purged'
                ELSE 'test' END AS split
    FROM events
    WHERE ts IS NOT NULL
    """,
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered train/val/test split with embargo (purge) windows
    after each boundary.  The temporal complement to the hash split:
    hash-of-key prevents *entity* leakage, a time cut with an embargo
    gap prevents *label-horizon* leakage (a 24 h label computed at
    23:59 before the cut peeks into val otherwise).  Pure map-side
    projection — zero shuffles at any scale."""
    ts = F.col("ts")
    split = (
        F.when(ts < F.lit(_T_TRAIN_END).cast("timestamp"), "train")
        .when(ts < F.lit(_T_VAL_START).cast("timestamp"), "purged")
        .when(ts < F.lit(_T_VAL_END).cast("timestamp"), "val")
        .when(ts < F.lit(_T_TEST_START).cast("timestamp"), "purged")
        .otherwise("test")
    )
    return (
        load_table(spark, sf_dir, "events")
        .filter(ts.isNotNull())
        .select("event_id", "ts", split.alias("split"))
    )


#: Winsorization percentiles for robust scaling.
_WINSOR_LO, _WINSOR_HI = 0.01, 0.99


@register(
    "feature_scaling",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               ROUND(quantile_cont(value, {_WINSOR_LO}), 6) AS lo,
               ROUND(quantile_cont(value, {_WINSOR_HI}), 6) AS hi,
               ROUND(AVG(value), 6) AS mu,
               ROUND(STDDEV_SAMP(value), 6) AS sigma,
               ROUND(MIN(value), 6) AS mn,
               ROUND(MAX(value), 6) AS mx
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND(LEAST(GREATEST(e.value, s.lo), s.hi), 6) AS winsorized,
           ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4) AS zscore,
           ROUND((e.value - s.mn) / NULLIF(s.mx - s.mn, 0), 6) AS minmax
    FROM events e JOIN s USING (event_type)
    WHERE e.value IS NOT NULL
    """,
)
def feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling block: winsorized (p01/p99-clamped)
    value, z-score, and min-max normalization of ``value`` within
    each ``event_type`` — the standard-scaler pass a training
    pipeline applies before gradient-based models.

    Shape: one aggregate produces a per-group stats table (|groups|
    rows — broadcast), then one map-side projection applies all three
    scalings; the fact table is scanned twice but never shuffled.
    Cross-engine determinism: group statistics are ROUNDED to 6 dp
    before use on both engines, so order-sensitive double sums (avg/
    stddev) and percentile interpolation cannot leak sub-rounding
    noise into the scaled outputs."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = e.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(value, {_WINSOR_LO})"), 6).alias("lo"),
        F.round(F.expr(f"percentile(value, {_WINSOR_HI})"), 6).alias("hi"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
        F.round(F.min("value"), 6).alias("mn"),
        F.round(F.max("value"), 6).alias("mx"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    v = F.col("value")
    return j.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.least(F.greatest(v, F.col("lo")), F.col("hi")), 6).alias("winsorized"),
        F.round((v - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0)), 4).alias("zscore"),
        F.round((v - F.col("mn")) / F.nullif(F.col("mx") - F.col("mn"), F.lit(0)), 6).alias(
            "minmax"
        ),
    )


#: Quantile-binning width: deciles.
_N_BINS = 10


@register(
    "feature_binning_quantile",
    oracle=f"""
    WITH b AS (
        SELECT o_orderkey, o_totalprice,
               NTILE({_N_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
        FROM orders
    )
    SELECT o_orderkey, o_totalprice, CAST(bin AS INT) AS bin,
           ROUND(MIN(o_totalprice) OVER (PARTITION BY bin), 2) AS bin_lo,
           ROUND(MAX(o_totalprice) OVER (PARTITION BY bin), 2) AS bin_hi,
           CAST(COUNT(*) OVER (PARTITION BY bin) AS BIGINT) AS bin_n
    FROM b
    """,
)
def feature_binning_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning of a continuous feature —
    the discretization pass tree models and monotonic-feature encoders
    rely on: each order is assigned its ``o_totalprice`` decile plus
    the realized bin bounds and population.

    Determinism: NTILE orders on ``(value, key)`` so ties split
    identically across engines.  Scale note (re-planned round 11):
    the exact NTILE routes through
    :func:`functions.ranking.scalable_ntile` — same tile assignment,
    no single-task total sort — and the per-bin stats come from a
    10-row groupBy broadcast-joined back instead of a 10-partition
    window over the fact frame.  :func:`feature_binning_scalable`
    remains the approximate sibling (sampled cut points, zero rank
    machinery) and ``feature_value_histogram`` the streaming-friendly
    variant.
    """
    o = load_table(spark, sf_dir, "orders")
    binned = scalable_ntile(
        o.select("o_orderkey", "o_totalprice"),
        _N_BINS,
        [("o_totalprice", "asc"), ("o_orderkey", "asc")],
        out_col="bin",
    )
    stats = binned.groupBy("bin").agg(
        F.round(F.min("o_totalprice"), 2).alias("bin_lo"),
        F.round(F.max("o_totalprice"), 2).alias("bin_hi"),
        F.count("*").cast("bigint").alias("bin_n"),
    )
    return binned.join(F.broadcast(stats), "bin").select(
        "o_orderkey", "o_totalprice", "bin", "bin_lo", "bin_hi", "bin_n"
    )


#: Scalable-binning cut-point sample: keep ~1/64 of rows by key hash.
_BIN_SAMPLE_MOD = 64
_BIN_SAMPLE_SEED = 11

_BIN_QS = [i / _N_BINS for i in range(1, _N_BINS)]


@register(
    "feature_binning_scalable",
    oracle=f"""
    WITH s AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        WHERE {PORTABLE_HASH64_SQL("CAST(o_orderkey AS VARCHAR)", _BIN_SAMPLE_SEED)}
              % {_BIN_SAMPLE_MOD} = 0
    ),
    cuts AS (
        SELECT {", ".join(f"ROUND(quantile_cont(v, {q}), 2) AS c{i}" for i, q in enumerate(_BIN_QS, 1))}
        FROM s
    )
    SELECT o.o_orderkey, o.o_totalprice,
           CAST(1 {" ".join(f"+ CASE WHEN o.o_totalprice > c.c{i} THEN 1 ELSE 0 END" for i in range(1, _N_BINS))}
                AS INT) AS bin
    FROM orders o CROSS JOIN cuts c
    """,
)
def feature_binning_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of quantile binning: decile cut points from a
    deterministic hash sample (exact ``percentile`` over ~1/{_BIN_SAMPLE_MOD}
    of rows, rounded to 2 dp), broadcast as a one-row frame; bin
    assignment is then a pure map-side comparison ladder — the fact
    table is never sorted, never shuffled.

    This replaces :func:`feature_binning_quantile`'s global NTILE
    (a single-task total sort) with the sample-quantile discipline:
    sampling error on cut points is O(1/sqrt(sample)) and only moves
    rows adjacent to a boundary by one bin.  Production knobs: raise
    the sample modulus so the sample stays ~1M rows, or swap the
    sample+``percentile`` pair for ``approx_percentile`` over the full
    column (one line) when a sketch is preferred over a sample.
    Cross-engine determinism: hash-of-key sampling and 2 dp-rounded
    cut points are computed identically by both engines (the
    ``feature_scaling`` percentile-parity precedent)."""
    o = load_table(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    sample = o.filter(
        portable_hash64(F.col("o_orderkey").cast("string"), seed=_BIN_SAMPLE_SEED)
        % _BIN_SAMPLE_MOD
        == 0
    )
    cuts = sample.agg(
        *[
            F.round(F.expr(f"percentile(CAST(o_totalprice AS DOUBLE), {q})"), 2).alias(
                f"c{i}"
            )
            for i, q in enumerate(_BIN_QS, 1)
        ]
    )
    bin_col = F.lit(1)
    for i in range(1, _N_BINS):
        bin_col = bin_col + F.when(v > F.col(f"c{i}"), 1).otherwise(0)
    return o.crossJoin(F.broadcast(cuts)).select(
        "o_orderkey", "o_totalprice", bin_col.cast("int").alias("bin")
    )


#: Contrastive negatives per user and the candidate-draw seed.
_NEG_K = 4
_NEG_SEED = 23


@register(
    "negative_sample_pairs",
    oracle=f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    np AS (SELECT MAX(p_partkey) + 1 AS n_items FROM part),
    cand AS (
        SELECT u.user_id, k,
               {PORTABLE_HASH64_SQL(
                   "CAST(u.user_id AS VARCHAR) || '|' || CAST(k AS VARCHAR)",
                   _NEG_SEED,
               )} % np.n_items AS item_id
        FROM (SELECT DISTINCT user_id FROM pos) u
        CROSS JOIN np
        CROSS JOIN (SELECT unnest(generate_series(0, {_NEG_K - 1})) AS k)
    )
    SELECT c.user_id, CAST(c.k AS INTEGER) AS draw, c.item_id
    FROM cand c
    WHERE NOT EXISTS (
        SELECT 1 FROM pos p
        WHERE p.user_id = c.user_id AND p.item_id = c.item_id
    )
    """,
)
def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling for recommender/embedding
    training: for each user with purchase history, draw {_NEG_K}
    deterministic candidate items from the catalog (hash of
    (user, draw) — reproducible across runs and clusters, like every
    split/sample in this engine) and keep those the user did NOT
    interact with (anti-join against the positives).  Output pairs
    feed a sampled-softmax / BPR-style loss next to the positive
    pairs.

    Scale shape: positives collapse to distinct (user, item) once;
    candidates are a map-side projection off the distinct-user frame
    (catalog size is a one-row broadcast); the anti-join is
    hash-partitioned on (user, item) — candidates are K rows per user,
    so the anti-join's probe side is tiny relative to the fact table.
    Collision-aware: a drawn candidate that happens to be a positive
    is dropped, not resampled (deterministic, and at catalog >> K the
    per-user loss is negligible)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .distinct()
    )
    n_items = load_table(spark, sf_dir, "part").agg(
        (F.max("p_partkey") + 1).alias("n_items")
    )
    cand = (
        pos.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(n_items))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("draw"),
            "n_items",
        )
        .select(
            "user_id",
            "draw",
            (
                portable_hash64(
                    F.concat_ws(
                        "|", F.col("user_id").cast("string"), F.col("draw").cast("string")
                    ),
                    seed=_NEG_SEED,
                )
                % F.col("n_items")
            ).alias("item_id"),
        )
    )
    return cand.join(pos, ["user_id", "item_id"], "left_anti").select(
        "user_id", F.col("draw").cast("int").alias("draw"), "item_id"
    )


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH assigned AS (
        SELECT e.event_id, e.user_id, e.ts,
               CASE
                   WHEN {PORTABLE_HASH64_SQL("CAST(e.user_id AS VARCHAR)", _SPLIT_SEED)} % 100
                        < {_SPLIT_TRAIN_END} THEN 'train'
                   WHEN {PORTABLE_HASH64_SQL("CAST(e.user_id AS VARCHAR)", _SPLIT_SEED)} % 100
                        < {_SPLIT_VAL_END} THEN 'val'
                   ELSE 'test'
               END AS split
        FROM events e
        WHERE e.user_id IS NOT NULL
    )
    SELECT split,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM assigned), 6) AS row_share,
           CAST((SELECT COUNT(*) FROM (
               SELECT user_id FROM assigned GROUP BY user_id
               HAVING COUNT(DISTINCT split) > 1
           )) AS BIGINT) AS entities_in_multiple_splits
    FROM assigned
    GROUP BY split
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-integrity audit: per split, row and entity counts, the
    realized row share (does 80/10/10 hold on THIS data?), and the
    hard invariant — the number of entities appearing in more than one
    split, which hash-of-key assignment must drive to exactly zero.
    Run after any split-logic change; a nonzero last column is
    train/test leakage.

    Shape: the assignment is the zero-shuffle hash projection; the
    audit adds one aggregate by split and one entity-grouped
    distinct-split check (both hash-partitioned)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    bucket = portable_hash64(F.col("user_id").cast("string"), seed=_SPLIT_SEED) % 100
    assigned = e.select(
        "event_id",
        "user_id",
        F.when(bucket < _SPLIT_TRAIN_END, "train")
        .when(bucket < _SPLIT_VAL_END, "val")
        .otherwise("test")
        .alias("split"),
    )
    # Both global scalars stay in-plan as one-row broadcast frames
    # (no driver-side actions at construction, never stale on re-run).
    total = assigned.agg(F.count("*").cast("double").alias("total"))
    multi = (
        assigned.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("entities_in_multiple_splits")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_entities"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(multi))
        .select(
            "split",
            "n_events",
            "n_entities",
            F.round(F.col("n_events") / F.col("total"), 6).alias("row_share"),
            "entities_in_multiple_splits",
        )
    )


#: Quantile-normalization resolution: deciles (10 rank buckets).
_QN_BUCKETS = 10


@register(
    "event_value_quantile_normalization",
    oracle=f"""
    WITH q AS (
        SELECT event_type, event_id,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    r AS (
        SELECT event_type, qv,
               NTILE({_QN_BUCKETS}) OVER (
                   PARTITION BY event_type ORDER BY qv, event_id) AS decile
        FROM q
    ),
    g AS (
        SELECT event_type, decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
        FROM r GROUP BY 1, 2
    ),
    ref AS (
        SELECT decile, SUM(mq) AS ref_q, COUNT(*) AS n_types
        FROM g GROUP BY 1
    )
    SELECT g.event_type, g.decile, g.n,
           ROUND(g.mq / 1000000.0, 6) AS orig_decile_mean,
           ROUND(ref.ref_q / (ref.n_types * 1000000.0), 6)
               AS normalized_value
    FROM g JOIN ref ON ref.decile = g.decile
    """,
)
def event_value_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the ``value`` distribution across
    event types (the microarray-era batch-effect correction of Bolstad
    et al. 2003, at decile resolution): rank each value within its
    event type, build the REFERENCE distribution as the cross-type
    mean at each rank bucket, and remap every (type, decile) cell to
    that reference — after which all event types share an identical
    value distribution and downstream models can't learn the type
    from the value's marginal.  Emits the mapping table (type ×
    decile → original mean, normalized value), which is what a
    training pipeline materializes and broadcast-joins back onto the
    fact stream.

    Determinism: values are quantized map-side to exact 1e-6 integers
    (same double → same floor in both engines); decile assignment is
    NTILE over the total order (qv, event_id); per-cell means are one
    IEEE divide of exact sums, re-quantized to integers BEFORE the
    cross-type average so the reference is an exact integer sum (the
    float-sum-order flake class cannot occur); display divides are
    single IEEE ops.

    Scale shape: decile assignment runs through
    ``scalable_ntile(group_cols=["event_type"])`` — sampled exact cut
    points chunk each type's frame across tasks, so no task ever
    sorts a fact-sized partition even though |types| is tiny (~5)
    while the frame is the full EVENTS table; the result is
    bit-identical to the partitioned-window NTILE at every n
    (``tests/test_ranking.py``).  Everything after the rank collapses
    to |types| × 10 rows, and the reference join is a broadcast of 10
    rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    q = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("qv"),
    )
    r = scalable_ntile(
        q,
        _QN_BUCKETS,
        [("qv", "asc"), ("event_id", "asc")],
        group_cols=["event_type"],
        out_col="decile",
    ).select("event_type", "qv", "decile")
    g = r.groupBy("event_type", "decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.floor(F.sum("qv").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mq"),
    )
    ref = g.groupBy("decile").agg(
        F.sum("mq").alias("ref_q"), F.count("*").alias("n_types")
    )
    return g.join(F.broadcast(ref), "decile").select(
        "event_type",
        "decile",
        "n",
        F.round(F.col("mq") / 1000000.0, 6).alias("orig_decile_mean"),
        F.round(F.col("ref_q") / (F.col("n_types") * 1000000.0), 6).alias(
            "normalized_value"
        ),
    )


@register(
    "feature_information_gain",
    oracle="""
    WITH lab AS (
        SELECT c.c_custkey,
               c.c_mktsegment AS segment,
               CAST(c.c_nationkey AS VARCHAR) AS nation,
               CAST(CAST(FLOOR(c.c_acctbal / 2000.0) AS INTEGER) AS VARCHAR)
                   AS bal_band,
               CASE WHEN o.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
          ON c.c_custkey = o.o_custkey
    ),
    u AS (
        SELECT 'segment' AS feature, segment AS bin, y FROM lab
        UNION ALL SELECT 'nation', nation, y FROM lab
        UNION ALL SELECT 'bal_band', bal_band, y FROM lab
    ),
    cnt AS (SELECT feature, bin, y, COUNT(*) AS c FROM u GROUP BY 1, 2, 3),
    per_bin AS (
        SELECT feature, bin, SUM(c) AS nb,
               SUM(c * CAST(FLOOR(ln(c) * 1000000) AS BIGINT)) AS clnc
        FROM cnt GROUP BY 1, 2
    ),
    per_y AS (SELECT feature, y, SUM(c) AS cy FROM cnt GROUP BY 1, 2),
    f AS (
        SELECT feature,
               COUNT(*) AS n_bins,
               SUM(nb) AS n,
               SUM(nb * CAST(FLOOR(ln(nb) * 1000000) AS BIGINT)) AS b,
               SUM(clnc) AS a
        FROM per_bin GROUP BY 1
    ),
    fy AS (SELECT feature,
                  SUM(cy * CAST(FLOOR(ln(cy) * 1000000) AS BIGINT)) AS cc
           FROM per_y GROUP BY 1)
    SELECT f.feature,
           CAST(f.n_bins AS BIGINT) AS n_bins,
           ROUND(ln(f.n) - fy.cc / (f.n * 1000000.0), 4) AS h_label,
           ROUND((f.b - f.a) / (f.n * 1000000.0), 4) + 0
               AS h_label_given_bin,
           ROUND(ln(f.n) - (fy.cc + f.b - f.a) / (f.n * 1000000.0), 4) + 0
               AS info_gain,
           ROUND((ln(f.n) - (fy.cc + f.b - f.a) / (f.n * 1000000.0))
                 / NULLIF(ln(f.n) - f.b / (f.n * 1000000.0), 0), 4) + 0
               AS gain_ratio
    FROM f JOIN fy USING (feature)
    """,
)
def feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised feature-relevance screen: information gain of each
    candidate customer feature (market segment, nation, fixed-width
    account-balance band) for the label "customer has placed ≥1
    order" — the Quinlan decision-stump criterion, the ranking a
    feature-selection pass runs before any model training.  Per
    feature: bin count, label entropy, conditional entropy, IG, and
    the gain RATIO (IG / feature entropy — raw IG inflates with bin
    cardinality; nation's 25 bins would beat segment's 5 for free).

    Exactness discipline: all entropies use the exact-count identity
    H = ln N − (Σ c·ln c)/N with the logs QUANTIZED at the leaf
    (floor(ln(c)·1e6) per count, the [[vocab_zipf_fit]] idiom) so
    every cross-row sum is exact-integer and shuffle-order-proof,
    emitted at 4 dp with ``+ 0`` after every ROUND whose argument is
    a difference of quantized logs (mathematically ≥0 but can land a
    hair below zero → DuckDB rounds to −0.0, Spark to +0.0, and the
    driver hash is signed-zero strict); the balance bands
    are FIXED-WIDTH (floor(bal/2000) — identical IEEE division both
    engines), deliberately not quantile bins: NTILE over all
    customers is a global sort, the exact scale-killer
    ``feature_binning_scalable`` exists to avoid.

    Scale: one broadcast-able distinct-buyers join, a 3× map-side
    unpivot (``stack`` — no shuffle), and two hash aggregates whose
    keys are (feature, bin[, y]) — bounded by feature vocabulary, not
    data volume."""
    c = load_table(spark, sf_dir, "customer")
    buyers = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    )
    lab = c.join(buyers, c["c_custkey"] == buyers["o_custkey"], "left").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("string").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000.0)
        .cast("int")
        .cast("string")
        .alias("bal_band"),
        F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("y"),
    )
    u = lab.select(
        F.expr(
            "stack(3, 'segment', segment, 'nation', nation, "
            "'bal_band', bal_band) AS (feature, bin)"
        ),
        "y",
    )
    lnq = lambda c: F.floor(F.log(c.cast("double")) * 1000000.0).cast(  # noqa: E731
        "bigint"
    )
    cnt = u.groupBy("feature", "bin", "y").agg(F.count("*").alias("c"))
    per_bin = cnt.groupBy("feature", "bin").agg(
        F.sum("c").alias("nb"),
        F.sum(F.col("c") * lnq(F.col("c"))).alias("clnc"),
    )
    per_y = cnt.groupBy("feature", "y").agg(F.sum("c").alias("cy"))
    f = per_bin.groupBy("feature").agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("nb").alias("n"),
        F.sum(F.col("nb") * lnq(F.col("nb"))).alias("b"),
        F.sum("clnc").alias("a"),
    )
    fy = per_y.groupBy("feature").agg(
        F.sum(F.col("cy") * lnq(F.col("cy"))).alias("cc")
    )
    j = f.join(fy, "feature")
    scale = F.col("n") * 1000000.0
    ig = F.log(F.col("n")) - (F.col("cc") + F.col("b") - F.col("a")) / scale
    return j.select(
        "feature",
        "n_bins",
        F.round(F.log(F.col("n")) - F.col("cc") / scale, 4).alias("h_label"),
        (F.round((F.col("b") - F.col("a")) / scale, 4) + F.lit(0.0)).alias(
            "h_label_given_bin"
        ),
        (F.round(ig, 4) + F.lit(0.0)).alias("info_gain"),
        (
            F.round(
                ig
                / F.nullif(
                    F.log(F.col("n")) - F.col("b") / scale, F.lit(0.0)
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("gain_ratio"),
    )


#: Temporal split for the calibration audit: scores come from the
#: first half of the event timeline, outcomes from the first day
#: after the split (a short window keeps the base rate off 100% —
#: over the full second half every synthetic user purchases).
_CALIB_SPLIT = "2024-01-16 00:00:00"
_CALIB_OUTCOME_END = "2024-01-17 00:00:00"
_CALIB_BINS = 10


@register(
    "purchase_propensity_calibration",
    oracle=f"""
    WITH p1 AS (
        SELECT user_id,
               CAST(FLOOR(SUM(CASE WHEN event_type IN ('click', 'purchase')
                                   THEN 1 ELSE 0 END)
                          * 1000000.0 / COUNT(*)) AS BIGINT) AS sq
        FROM events
        WHERE user_id IS NOT NULL AND ts < TIMESTAMP '{_CALIB_SPLIT}'
        GROUP BY 1
    ),
    p2 AS (
        SELECT DISTINCT user_id FROM events
        WHERE user_id IS NOT NULL
          AND ts >= TIMESTAMP '{_CALIB_SPLIT}'
          AND ts < TIMESTAMP '{_CALIB_OUTCOME_END}'
          AND event_type = 'purchase'
    ),
    u AS (
        SELECT p1.user_id, p1.sq,
               LEAST({_CALIB_BINS - 1}, p1.sq // 100000) AS bin,
               CASE WHEN p2.user_id IS NULL THEN 0 ELSE 1 END AS y
        FROM p1 LEFT JOIN p2 ON p1.user_id = p2.user_id
    ),
    b AS (
        SELECT bin, COUNT(*) AS n, SUM(sq) AS ssq, SUM(y) AS pos
        FROM u GROUP BY 1
    ),
    g AS (
        SELECT bin, n, ssq, pos,
               CAST(ssq AS DOUBLE) / (n * 1000000.0)
                   - CAST(pos AS DOUBLE) / n AS gap
        FROM b
    ),
    e AS (
        SELECT SUM(n) AS tn,
               SUM(n * CAST(FLOOR(ABS(gap) * 1000000000.0) AS BIGINT))
                   AS eq
        FROM g
    )
    SELECT CAST(g.bin AS INTEGER) AS bin,
           CAST(g.n AS BIGINT) AS n_users,
           FLOOR(CAST(g.ssq AS DOUBLE) / (g.n * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_predicted,
           FLOOR(CAST(g.pos AS DOUBLE) / g.n * 1000000.0 + 0.5)
               / 1000000.0 AS observed_rate,
           FLOOR(g.gap * 1000000.0 + 0.5) / 1000000.0 AS calibration_gap,
           FLOOR(CAST(e.eq AS DOUBLE) / (e.tn * 1000000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS ece
    FROM g CROSS JOIN e
    """,
)
def purchase_propensity_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a
    deterministic purchase-propensity score — the serving-monitor
    audit every deployed scorer needs (Guo et al. 2017's ECE over
    fixed-width bins): score = a user's first-period engagement share
    (clicks+purchases over all events, the simplest behavioral
    propensity proxy), outcome = did they purchase in the first day
    after the split.  Per bin: users, mean predicted, observed rate,
    signed gap; every row carries the corpus ECE
    Σ n_b/N · |mean_pred_b − obs_b|.  The outcome window is ONE day
    — measured first: over the full second half every synthetic user
    purchases (base rate 100%, audit vacuous); the 24 h window puts
    the base rate at ~35%.

    Determinism: per-user scores are quantized to floor(share·1e6)
    integers BEFORE any cross-user sum (bin means are exact-integer
    ratios); bins are FIXED-WIDTH from the quantized score (never
    NTILE's global sort); the per-bin |gap| is floor-quantized to
    1e-9 before the N-weighted ECE sum, so ECE is an exact-integer
    ratio too; signed emissions use the sign-safe floor ladder.

    Scale shape: two conditional aggregates over the event scan
    (score pass, outcome pass — the outcome side is DISTINCT
    user_id, shuffled once), one user-keyed broadcast-able join, and
    a ≤10-row bin fold."""
    split = F.lit(_CALIB_SPLIT).cast("timestamp")
    out_end = F.lit(_CALIB_OUTCOME_END).cast("timestamp")
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    p1 = (
        e.filter(F.col("ts") < split)
        .groupBy("user_id")
        .agg(
            F.floor(
                F.sum(
                    F.when(
                        F.col("event_type").isin("click", "purchase"), 1
                    ).otherwise(0)
                )
                * 1000000.0
                / F.count("*")
            )
            .cast("bigint")
            .alias("sq")
        )
    )
    p2 = (
        e.filter(
            (F.col("ts") >= split)
            & (F.col("ts") < out_end)
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("y1", F.lit(1))
    )
    u = p1.join(p2, "user_id", "left").select(
        F.least(
            F.lit(_CALIB_BINS - 1), F.expr("sq div 100000")
        ).alias("bin"),
        "sq",
        F.coalesce(F.col("y1"), F.lit(0)).alias("y"),
    )
    b = u.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("sq").alias("ssq"),
        F.sum("y").alias("pos"),
    )
    gap = F.col("ssq").cast("double") / (F.col("n") * 1000000.0) - F.col(
        "pos"
    ).cast("double") / F.col("n")
    g = b.select("bin", "n", "ssq", "pos", gap.alias("gap"))
    ece = g.agg(
        F.sum("n").alias("tn"),
        F.sum(
            F.col("n")
            * F.floor(F.abs(F.col("gap")) * 1000000000.0).cast("bigint")
        ).alias("eq"),
    )
    emit = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return g.crossJoin(F.broadcast(ece)).select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("bigint").alias("n_users"),
        emit(F.col("ssq").cast("double") / (F.col("n") * 1000000.0)).alias(
            "mean_predicted"
        ),
        emit(F.col("pos").cast("double") / F.col("n")).alias(
            "observed_rate"
        ),
        emit(F.col("gap")).alias("calibration_gap"),
        emit(
            F.col("eq").cast("double") / (F.col("tn") * 1000000000.0)
        ).alias("ece"),
    )


#: Candidate smoothing strengths for the target-encoding sweep (the
#: production [[target_encoding_loo]] uses m = 10; 0 is the unsmoothed
#: raw category mean).
_TE_SWEEP_M = (0, 1, 10, 100, 1000)


@register(
    "target_encoding_smoothing_sweep",
    oracle=f"""
    WITH cat AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_c,
               SUM({MONEY_SQL("o_totalprice")}) AS s_c
        FROM orders GROUP BY 1
    ),
    g AS (
        SELECT CAST(SUM({MONEY_SQL("o_totalprice")}) AS DOUBLE) / COUNT(*)
               AS gmean
        FROM orders
    ),
    m AS (SELECT unnest([{", ".join(str(m) for m in _TE_SWEEP_M)}]) AS sm),
    e AS (
        SELECT m.sm,
               CAST(FLOOR(CAST(n_c AS DOUBLE) / (n_c + m.sm)
                          * 1000000.0) AS BIGINT) AS q_w,
               CAST(FLOOR(abs((CAST(s_c AS DOUBLE) + m.sm * g.gmean)
                                  / (n_c + m.sm)
                              - CAST(s_c AS DOUBLE) / n_c)
                          * 10000.0) AS BIGINT) AS q_shrink,
               CAST(FLOOR(((CAST(s_c AS DOUBLE) + m.sm * g.gmean)
                               / (n_c + m.sm) - g.gmean)
                          * ((CAST(s_c AS DOUBLE) + m.sm * g.gmean)
                               / (n_c + m.sm) - g.gmean)
                          * 10000.0) AS BIGINT) AS q_dev2
        FROM cat CROSS JOIN g CROSS JOIN m
    )
    SELECT CAST(sm AS BIGINT) AS smoothing_m,
           CAST(COUNT(*) AS BIGINT) AS n_categories,
           FLOOR(CAST(SUM(q_w) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_category_weight,
           FLOOR(CAST(SUM(q_shrink) AS DOUBLE) / COUNT(*) + 0.5) / 10000.0
               AS mean_abs_shrink,
           FLOOR(CAST(SUM(q_dev2) AS DOUBLE) / COUNT(*) + 0.5) / 10000.0
               AS mean_sq_dev_from_global
    FROM e GROUP BY 1
    """,
)
def target_encoding_smoothing_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothing-strength design sweep for the target encoder — the
    bias-variance curve read BEFORE fixing [[target_encoding_loo]]'s
    ``m``: for each candidate m, the mean category weight
    n/(n+m) (how much of the encoding is still the category's own
    evidence), the mean absolute shrink of each encoding toward the
    global mean (bias introduced), and the surviving spread of
    encodings around the global mean (signal retained).  m too small
    keeps rare-category noise; m too large erases the feature — the
    sweep shows where each regime starts, from the SAME
    category-profile table, no per-m rescans (the
    [[label_horizon_sweep]] / [[session_gap_sensitivity]]
    design-curve pattern).

    Determinism: category sums are exact DECIMAL money; every per-
    (category, m) statistic quantizes at the leaf (floor on a fixed
    IEEE chain of identical operands in both engines — all
    non-negative); per-m means are integer sums with one fixed
    divide through the sign-safe ladder.

    Scale shape: one map-side-combined category aggregate
    (|categories| rows); the m sweep explodes THAT table, never the
    facts; the global mean rides as a 1-row broadcast."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    t = money(F.col("o_totalprice"))
    cat = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_c"), F.sum(t).alias("s_c")
    )
    g = orders.agg((F.sum(t).cast("double") / F.count("*")).alias("gmean"))
    e = (
        cat.crossJoin(F.broadcast(g))
        .select(
            "n_c",
            "s_c",
            "gmean",
            F.explode(F.array(*[F.lit(m) for m in _TE_SWEEP_M])).alias("sm"),
        )
    )
    enc = (F.col("s_c").cast("double") + F.col("sm") * F.col("gmean")) / (
        F.col("n_c") + F.col("sm")
    )
    raw = F.col("s_c").cast("double") / F.col("n_c")
    dev = enc - F.col("gmean")
    q = e.select(
        "sm",
        F.floor(
            F.col("n_c").cast("double") / (F.col("n_c") + F.col("sm"))
            * 1000000.0
        )
        .cast("bigint")
        .alias("q_w"),
        F.floor(F.abs(enc - raw) * 10000.0).cast("bigint").alias("q_shrink"),
        F.floor(dev * dev * 10000.0).cast("bigint").alias("q_dev2"),
    )
    return q.groupBy(F.col("sm").cast("bigint").alias("smoothing_m")).agg(
        F.count("*").cast("bigint").alias("n_categories"),
        (
            F.floor(F.sum("q_w").cast("double") / F.count("*") + 0.5)
            / 1000000.0
        ).alias("mean_category_weight"),
        (
            F.floor(F.sum("q_shrink").cast("double") / F.count("*") + 0.5)
            / 10000.0
        ).alias("mean_abs_shrink"),
        (
            F.floor(F.sum("q_dev2").cast("double") / F.count("*") + 0.5)
            / 10000.0
        ).alias("mean_sq_dev_from_global"),
    )
