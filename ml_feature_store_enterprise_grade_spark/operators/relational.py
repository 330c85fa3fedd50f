"""Relational core: scans, joins, aggregation family, top-k, set ops.

The reference's join semantics live in its serving layer (SURVEY §2.3:
online lookup = broadcast left equi-join; enrichment = stream-static
denormalization, reference scripts/stream_generator.py:86-97) and its
oracle corpus is TPC-H-shaped, so the engine exposes the standard
relational operator family as first-class, oracle-checked queries.

Scale notes per query are inline; the common rules:

* dimension tables (``region``/``nation``) are always broadcast —
  no shuffle of the fact side for their joins;
* fact-fact joins shuffle on the join key once, and AQE converts to
  broadcast / splits skewed partitions at runtime;
* every filter is declared *before* the join so Catalyst pushes it
  into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import money
from ..functions.ranking import scalable_ntile
from ..functions.scalar import MONEY
from ..registry import register

#: DuckDB twins of the exact-decimal money arithmetic (see
#: functions/scalar.MONEY): double SUMs over unbounded groups are
#: summation-order-sensitive — at sf0.1 a revenue sum already landed a
#: cent apart between engines.  DECIMAL sums are exact/associative ⇒
#: deterministic under any shuffle order; results cast back to DOUBLE
#: after the final ROUND so output schemas are unchanged.
_EXT = "CAST(l_extendedprice AS DECIMAL(12,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_TAX = "CAST(l_tax AS DECIMAL(4,2))"
_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
_TOTALPRICE = "CAST(o_totalprice AS DECIMAL(16,4))"
_rate = lambda c: F.col(c).cast("decimal(4,2)")


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM({_QTY}), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM({_EXT}), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC}) * (1 + {_TAX})), 2) AS DOUBLE) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (guide's canonical OLAP agg).

    Plan shape: parquet scan with pushed ``l_shipdate`` filter +
    7-column pruned read → partial HashAggregate → 6-group shuffle →
    final HashAggregate.  Whole-stage codegen end to end; scales
    linearly in input with a constant-size shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(money(F.col("l_quantity"))), 2).cast("double").alias("sum_qty"),
        F.round(F.sum(money(F.col("l_extendedprice"))), 2).cast("double").alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + _rate("l_tax"))), 2).cast("double").alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "order_reconciliation_audit",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey,
               ROUND(SUM({_EXT} * (1 - {_DISC}) * (1 + {_TAX})), 2) AS computed
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderstatus,
               {_TOTALPRICE} AS header,
               li.computed,
               li.l_orderkey IS NULL AS no_items,
               li.l_orderkey IS NOT NULL
                 AND ABS({_TOTALPRICE} - li.computed) > 0.01 AS mismatched
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN no_items THEN 1 ELSE 0 END) AS BIGINT)
               AS n_no_lineitems,
           CAST(SUM(CASE WHEN mismatched THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mismatched,
           ROUND(CAST(SUM(CASE WHEN mismatched THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS mismatch_rate,
           CAST(ROUND(MAX(ABS(header - computed)), 2) AS DOUBLE) AS max_abs_diff,
           CAST(ROUND(SUM(header), 2) AS DOUBLE) AS sum_header,
           CAST(ROUND(SUM(COALESCE(computed, 0)), 2) AS DOUBLE) AS sum_computed,
           CAST(ROUND(SUM(COALESCE(computed, 0) - header), 2) AS DOUBLE)
               AS net_drift
    FROM j GROUP BY o_orderstatus
    """,
)
def order_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-vs-rollup reconciliation — the standing integrity audit
    every warehouse runs between a header table and its detail table:
    recompute each order's total from its line items (exact decimal
    arithmetic, the ``pricing_summary`` discipline) and report, per
    order status, how many orders have NO line items, how many
    disagree with their header total beyond a cent, and the aggregate
    drift between the two books.  On this synthetic data the headers
    deliberately do not reconcile — the audit is what quantifies that.

    Scale shape: one hash aggregate per order on the detail side
    (map-side partials), one equi-join against headers on the order
    key (both sides hash-partitioned on it), and a 3-group rollup.
    No windows, no sorts; decimal sums keep every figure bit-identical
    across engines and shuffle orders."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(
                    money(F.col("l_extendedprice"))
                    * (1 - _rate("l_discount"))
                    * (1 + _rate("l_tax"))
                ),
                2,
            ).alias("computed")
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("decimal(16,4)").alias("header")
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderstatus",
        "header",
        "computed",
        F.col("l_orderkey").isNull().alias("no_items"),
        (
            F.col("l_orderkey").isNotNull()
            & (F.abs(F.col("header") - F.col("computed")) > 0.01)
        ).alias("mismatched"),
    )
    n_mis = F.sum(F.when(F.col("mismatched"), 1).otherwise(0))
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("no_items"), 1).otherwise(0)).cast("bigint").alias("n_no_lineitems"),
        n_mis.cast("bigint").alias("n_mismatched"),
        F.round(n_mis.cast("double") / F.count("*"), 6).alias("mismatch_rate"),
        F.round(F.max(F.abs(F.col("header") - F.col("computed"))), 2)
        .cast("double")
        .alias("max_abs_diff"),
        F.round(F.sum("header"), 2).cast("double").alias("sum_header"),
        F.round(F.sum(F.coalesce(F.col("computed"), F.lit(0))), 2)
        .cast("double")
        .alias("sum_computed"),
        F.round(F.sum(F.coalesce(F.col("computed"), F.lit(0)) - F.col("header")), 2)
        .cast("double")
        .alias("net_drift"),
    )


@register(
    "top_revenue_orders",
    oracle=f"""
    SELECT l.l_orderkey AS o_orderkey,
           o.o_orderdate,
           o.o_orderpriority,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority top-k: 3-way join + agg +
    global top-10.  Revenue is rounded *before* ordering so the
    Spark/DuckDB ranking agrees bit-for-bit; o_orderkey tiebreak keeps
    LIMIT deterministic.  Spark executes the global top-k as
    TakeOrderedAndProject (per-partition heap + driver merge) — no
    full sort at scale."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(l.l_orderkey.alias("o_orderkey"), "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "region_revenue",
    oracle=f"""
    SELECT n.n_name,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS revenue,
           COUNT(DISTINCT c.c_custkey) AS n_customers
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way star join.  ``region``/``nation`` are
    broadcast explicitly (tiny dims — zero shuffle for their joins);
    customer⋈orders⋈lineitem shuffle on their keys with AQE free to
    re-plan.  Join order follows selectivity: region filter first."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    custs = c.join(F.broadcast(nations), c.c_nationkey == nations.n_nationkey)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(custs, o.o_custkey == custs.c_custkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
            .cast("double")
            .alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@register(
    "priority_order_counts",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS via left-semi join (SURVEY §2.3's join
    family).  The semi join shuffles both sides on l_orderkey but
    never materializes the multiplicity of lineitem matches."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    semi = o.join(
        l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left-anti join, grouped by segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "event_customer_enrichment",
    oracle=f"""
    SELECT n.n_name AS nation,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def event_customer_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 enrichment join: the reference denormalizes profile columns
    into events generator-side (scripts/stream_generator.py:86-97,
    201-202); the idiomatic Spark replacement is a broadcast left join
    of the fact stream against the profile dim.  At 100 TB the
    customer dim may exceed broadcast size — then this becomes a
    shuffle hash join on user_id, still one shuffle of events."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    enriched = e.join(F.broadcast(c), e.user_id == c.c_custkey, "left").join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey, "left"
    )
    return enriched.groupBy(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(money(F.col("value"))), 2).cast("double").alias("sum_value"),
    )


@register(
    "top_customers_per_nation",
    oracle=f"""
    WITH spend AS (
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(ROUND(SUM({_TOTALPRICE}), 2) AS DOUBLE) AS total_spend
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, n_name, total_spend, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY n_name ORDER BY total_spend DESC, c_custkey
        ) AS rank
        FROM spend
    )
    WHERE rank <= 3
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (SURVEY §2.5).  Spend is
    rounded before ranking (cross-engine float determinism) with
    c_custkey tiebreak.  One shuffle for the agg, one for the window
    partition — both on keys that scale with customers, not orders."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(16,4)")), 2).cast("double").alias("total_spend"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("total_spend"), F.asc("c_custkey"))
    return spend.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


@register(
    "revenue_rollup_cube",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           o.o_orderpriority AS priority,
           CAST(ROUND(SUM({_TOTALPRICE}), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
    """,
)
def revenue_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (segment → priority → grand total) via
    ``df.rollup`` — SURVEY §2.4 notes cube/rollup come free from
    Catalyst (Expand operator feeding one hash agg; no extra passes
    over the input)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .rollup(F.col("c_mktsegment").alias("segment"), F.col("o_orderpriority").alias("priority"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(16,4)")), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "small_quantity_parts",
    oracle=f"""
    SELECT p.p_type,
           COUNT(*) AS n_lineitems,
           CAST(ROUND(SUM({_EXT}), 2) AS DOUBLE) AS total_price
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY p.p_type
    """,
)
def small_quantity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery, decorrelated by
    hand the way Catalyst would: per-part average as an aggregate,
    joined back to lineitem.  One extra shuffle on l_partkey instead
    of a per-row subquery — the only formulation that survives scale."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_part = l.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        l.join(per_part, l.l_partkey == per_part.avg_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(F.sum(money(F.col("l_extendedprice"))), 2).cast("double").alias("total_price"),
        )
    )


@register(
    "event_customer_overlap",
    oracle="""
    SELECT 'customers_with_events' AS metric, COUNT(*) AS n FROM (
        SELECT DISTINCT user_id FROM events
        INTERSECT
        SELECT c_custkey FROM customer
    )
    UNION ALL
    SELECT 'customers_without_events' AS metric, COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer
        EXCEPT
        SELECT DISTINCT user_id FROM events
    )
    """,
)
def event_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (intersect / except) — SURVEY §2.6 notes the
    engine exposes them as built-ins."""
    e = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k")).distinct()
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    with_events = e.intersect(c).agg(F.count("*").alias("n")).select(
        F.lit("customers_with_events").alias("metric"), "n"
    )
    without = c.exceptAll(e.join(c, "k", "left_semi")).agg(F.count("*").alias("n")).select(
        F.lit("customers_without_events").alias("metric"), "n"
    )
    return with_events.unionByName(without)


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(l.l_shipdate AS DATE) AS ship_date,
           CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                               THEN {_EXT} * (1 - {_DISC})
                               ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS promo_revenue,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS total_revenue,
           ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN {_EXT} * (1 - {_DISC})
                                  ELSE CAST(0 AS DECIMAL(12,2)) END)
                 / SUM({_EXT} * (1 - {_DISC})), 4) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
    GROUP BY 1
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion-revenue share per ship day:
    broadcast part dim, conditional decimal revenue, exact share
    ratio.  The date filter pushes into the lineitem scan; one
    shuffle on the daily group key."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))
    zero = F.lit(0).cast("decimal(12,2)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            F.round(F.sum(promo), 2).cast("double").alias("promo_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
        )
    )


@register(
    "top_supplier_revenue",
    oracle=f"""
    WITH sup_rev AS (
        SELECT l_suppkey,
               CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN sup_rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM sup_rev)
    ORDER BY s.s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: revenue view + scalar max
    subquery (ties all kept, ordered by key).  The max is a broadcast
    single-row frame crossed against the per-supplier aggregate —
    Catalyst's decorrelated form of the scalar subquery."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    sup_rev = l.groupBy("l_suppkey").agg(
        F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
        .cast("double")
        .alias("total_revenue")
    )
    mx = sup_rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sup_rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "discounted_bracket_revenue",
    oracle=f"""
    SELECT CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 35)
       OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def discounted_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive bracket filter: OR-of-ANDs mixing
    part attributes and lineitem ranges.  Catalyst extracts the
    common-side conjuncts (quantity ∈ [1,50], size ∈ [1,50]) and
    pushes them into each scan while the residual OR evaluates after
    the broadcast join — the pattern that keeps complex eligibility
    predicates from forcing full scans."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    q, sz = F.col("l_quantity"), F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#11") & sz.between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#23") & sz.between(10, 30) & q.between(10, 35))
        | ((F.col("p_type") == "PROMO") & sz.between(20, 50) & q.between(20, 50))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


@register(
    "nation_pair_trade",
    oracle=f"""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(strftime(l.l_shipdate, '%Y') AS INTEGER) AS ship_year,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_name IN ('NATION_2', 'NATION_7')
      AND nc.n_name IN ('NATION_2', 'NATION_7')
      AND ns.n_name <> nc.n_name
    GROUP BY 1, 2, 3
    """,
)
def nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: lineitem resolves its
    supplier nation and (via orders) its customer nation — two
    independent dimension paths in one query.  supplier/nation
    broadcast; orders⋈lineitem is the only large shuffle; the nation
    IN-filters cut both paths before the fact join."""
    ns = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_2", "NATION_7")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(ns.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(ns.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    o = load_table(spark, sf_dir, "orders").join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
            .cast("double")
            .alias("volume")
        )
    )


@register(
    "idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_balance
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average balance and no
    orders — scalar aggregate subquery (broadcast single-row cross
    join) + left-anti join, grouped by segment.  The anti join
    shuffles on custkey once; the average is computed in a separate
    tiny stage and broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_balance"),
        )
    )


@register(
    "returned_items_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_returned_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_items_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: which customers returned
    the most revenue last half-year.  Fact side filters (returnflag,
    date window) reach the parquet scans as pushed predicates BEFORE
    the joins; nation broadcasts; the top-20 runs as
    TakeOrderedAndProject on the rounded revenue with a custkey
    tiebreak so Spark and the oracle rank identically."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_returned_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(q.total_qty AS DOUBLE) AS total_qty
    FROM (
        SELECT l_orderkey, SUM(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    ) q
    JOIN orders o ON q.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-order report: the GROUP BY +
    HAVING pre-aggregate runs FIRST, shrinking the fact side to the
    handful of qualifying orderkeys before any dimension join — the
    aggregate-then-join ordering that matters at 100 TB (joining
    first would shuffle every lineitem against orders for rows HAVING
    then throws away)."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "nation_market_share",
    oracle=f"""
    WITH rev AS (
        SELECT YEAR(o.o_orderdate) AS order_year,
               n.n_name AS supp_nation,
               SUM({_EXT} * (1 - {_DISC})) AS volume
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1, 2
    )
    SELECT order_year, supp_nation,
           CAST(ROUND(volume, 2) AS DOUBLE) AS volume,
           CAST(ROUND(volume / SUM(volume) OVER (PARTITION BY order_year), 6)
                AS DOUBLE) AS market_share
    FROM rev
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: each supplier nation's slice of
    its region's yearly revenue.  The share is a window over the
    ALREADY-AGGREGATED (year, nation) frame — dozens of rows — so the
    second pass is free; the heavy lifting stays in the one
    fact-table aggregate.  Dimensions broadcast down the
    supplier→nation→region chain."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    rev = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            "supp_nation",
        )
        .agg(
            F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))).alias(
                "vol"
            )
        )
    )
    w = Window.partitionBy("order_year")
    return rev.select(
        "order_year",
        "supp_nation",
        F.round("vol", 2).cast("double").alias("volume"),
        F.round(F.col("vol") / F.sum("vol").over(w), 6)
        .cast("double")
        .alias("market_share"),
    )


@register(
    "product_type_profit",
    oracle=f"""
    SELECT n.n_name AS supp_nation,
           YEAR(o.o_orderdate) AS order_year,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS profit,
           COUNT(DISTINCT l.l_partkey) AS n_parts
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_type LIKE '%ECONO%'
    GROUP BY 1, 2
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit by supplier nation and year for one
    product family.  The LIKE filter on part prunes the fact side via
    a broadcast semi-ish inner join BEFORE the orders shuffle — join
    order is smallest-effective-side first, and every dimension
    (part-filtered, supplier, nation) broadcasts; orders⋈lineitem is
    the only large shuffle."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type").like("%ECONO%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    sn = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    return (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sn), l.l_suppkey == sn.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2)
            .cast("double")
            .alias("profit"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@register(
    "customer_order_distribution",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM co
    GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: LEFT join
    with an extra join-side predicate (the reference query's comment
    filter, stood in by priority), preserving zero-order customers,
    then a two-level aggregate.  Scale shape: one shuffle on custkey
    for the join+first aggregate; the second groupBy runs over at
    most |distinct counts| ≪ |customers| rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "waiting_supplier_audit",
    oracle="""
    WITH f AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
        FROM f GROUP BY 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM f
    JOIN agg USING (l_orderkey)
    JOIN supplier s ON f.l_suppkey = s.s_suppkey
    WHERE f.is_late = 1 AND agg.n_supp > 1 AND agg.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def waiting_supplier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped "suppliers who kept orders waiting": in
    finalized multi-supplier orders, find the supplier who was the
    ONLY late one (lateness stood in by shipdate > orderdate + 60
    days — the testdata carries no commit/receipt dates).  The
    classic EXISTS / NOT-EXISTS pair is decorrelated by hand into
    per-(order, supplier) flags plus a per-order aggregate — the
    rewrite Catalyst would have to discover, expressed directly so
    the plan is two hash aggregates sharing the l_orderkey shuffle
    and one broadcast of the supplier dimension; no correlated
    re-scans of lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    f = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    agg = f.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    return (
        f.join(agg, "l_orderkey")
        .filter((F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), f.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "important_parts_share",
    oracle=f"""
    WITH pv AS (
        SELECT l_partkey, SUM({_EXT} * (1 - {_DISC})) AS part_value
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(part_value) AS total_value FROM pv)
    SELECT pv.l_partkey AS p_partkey,
           CAST(ROUND(pv.part_value, 2) AS DOUBLE) AS part_value,
           ROUND(CAST(pv.part_value AS DOUBLE) / CAST(t.total_value AS DOUBLE), 6)
               AS value_share
    FROM pv, tot t
    WHERE CAST(pv.part_value AS DOUBLE) / CAST(t.total_value AS DOUBLE) > 0.001
    """,
)
def important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped "important stock": parts whose revenue share
    exceeds a global threshold — the scalar-subquery-against-a-total
    shape.  The total is a one-row aggregate CROSS-JOINED as a
    broadcast scalar against the per-part aggregate (never a shuffle
    of the fact side against itself); exact-decimal sums keep both
    the parts and the total deterministic, with the share computed in
    double on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    pv = l.groupBy("l_partkey").agg(
        F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))).alias(
            "part_value"
        )
    )
    tot = pv.agg(F.sum("part_value").alias("total_value"))
    share = F.col("part_value").cast("double") / F.col("total_value").cast("double")
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(share > 0.001)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("part_value", 2).cast("double").alias("part_value"),
            F.round(share, 6).alias("value_share"),
        )
    )


@register(
    "min_price_supplier_region",
    oracle="""
    WITH eu AS (
        SELECT s.s_suppkey, s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    up AS (
        SELECT l.l_partkey, l.l_suppkey,
               MIN(l.l_extendedprice / l.l_quantity) AS unit_price
        FROM lineitem l
        JOIN eu ON l.l_suppkey = eu.s_suppkey
        GROUP BY 1, 2
    ),
    rk AS (
        SELECT l_partkey, l_suppkey, unit_price,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_price, l_suppkey) AS rn
        FROM up
    )
    SELECT p.p_partkey, p.p_brand, eu.s_name, eu.n_name,
           CAST(FLOOR(rk.unit_price * 10000) AS BIGINT) AS best_unit_price_e4
    FROM rk
    JOIN part p ON rk.l_partkey = p.p_partkey
    JOIN eu ON rk.l_suppkey = eu.s_suppkey
    WHERE rk.rn = 1 AND p.p_size < 15
    """,
)
def min_price_supplier_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for each small part,
    the EUROPE supplier offering the best observed unit price (the
    testdata has no partsupp, so unit prices derive from lineitem).
    The correlated MIN-subquery of the reference query is expressed
    as a row_number window over the per-(part, supplier) aggregate —
    one shuffle on (partkey, suppkey), a window repartition on
    partkey, and two broadcast dimension joins; the region filter
    prunes suppliers BEFORE the fact-side join via a broadcast
    semi-shaped equi-join."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    l = load_table(spark, sf_dir, "lineitem")
    up = (
        l.join(F.broadcast(eu.select("s_suppkey")), l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    rk = up.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 15)
    return (
        rk.join(F.broadcast(p), rk.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), rk.l_suppkey == eu.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            # FLOOR of the e4-scaled double, not ROUND: both engines
            # derive the identical IEEE double for min(price/qty), but
            # their ROUND implementations disagree on expansion ties
            # (19/5582 rows at sf0.1); floor of the same double is
            # implementation-uniform.
            F.floor(F.col("unit_price") * 10000)
            .cast("bigint")
            .alias("best_unit_price_e4"),
        )
    )


@register(
    "revenue_grouping_sets",
    oracle=f"""
    SELECT n.n_name, c.c_mktsegment,
           CAST(ROUND(SUM({_TOTALPRICE}), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders,
           CAST(GROUPING(n.n_name, c.c_mktsegment) AS BIGINT) AS gid
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name), (c.c_mktsegment), ())
    """,
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping construct next to
    the cube/rollup already covered by ``revenue_rollup_cube``):
    per-nation totals, per-segment totals, and the grand total in ONE
    pass — Spark expands the sets into a single Expand+HashAggregate,
    so the fact side is scanned and shuffled once instead of three
    times, with ``grouping_id`` disambiguating the all-NULL rows.
    Exact-decimal revenue keeps the three aggregation depths
    deterministic under any shuffle order."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        j.groupingSets(
            [["n_name"], ["c_mktsegment"], []], "n_name", "c_mktsegment"
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(16,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


@register(
    "forecast_discount_revenue",
    oracle=f"""
    SELECT CAST(ROUND(SUM({_EXT} * {_DISC}), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecasting-revenue-change aggregate: the pure
    scan-side query — no join, one output row — that exists to prove
    the scan path is right.

    Plan shape: ALL four predicates reach the parquet scan as
    PushedFilters (shipdate range, discount band, quantity cap) and
    the read schema prunes to the four referenced columns; what
    survives feeds a partial sum collapsed map-side, so the shuffle
    is one row per partition.  At 100 TB this query is bounded by
    how many row groups the min/max statistics exclude — which is
    exactly what it measures.  Exact-decimal product keeps the sum
    deterministic under any partition order."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(money(F.col("l_extendedprice")) * _rate("l_discount")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "late_shipment_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) > 90
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped late-shipment audit (shipmode recast onto the
    columns this schema has): lines shipped more than 90 days after
    their order date, split into urgent-vs-other CASE counts per
    return flag.

    Plan shape: the shipdate range is pushed to the lineitem scan
    BEFORE the join (the lag predicate itself needs both sides, so it
    filters the join output); one key shuffle joins the two pruned
    fact projections, and the conditional counts collapse in the
    partial aggregate — the classic Q12 two-way-CASE shape that makes
    engines prove conditional aggregation doesn't become two passes."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > 90
    )
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


@register(
    "part_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 4, 9, 14, 23)
      AND p.p_brand <> 'Brand#23'
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    """,
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier-variety count: how many DISTINCT
    suppliers ship each (brand, size) bucket, excluding suppliers on
    the complaint list (negative balance here) via NOT IN.

    Plan shape: part filters push to its scan and the filtered part
    side broadcasts; the NOT-IN subquery is a broadcast left-ANTI
    join against the tiny bad-supplier key list (NULL-safe by
    construction: s_suppkey is a key, never NULL — a NOT IN over a
    nullable column would need the null-aware variant); the count
    DISTINCT shuffles (brand, size, suppkey) once for partial
    distinct then counts — never a global distinct of the fact
    table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 4, 9, 14, 23) & (F.col("p_brand") != "Brand#23")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "excess_stock_suppliers",
    oracle=f"""
    WITH target AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    shipped AS (
        SELECT l_partkey, l_suppkey, SUM({_QTY}) AS sup_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_partkey IN (SELECT p_partkey FROM target)
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT l_partkey, SUM(sup_qty) AS part_qty
        FROM shipped GROUP BY 1
    ),
    big AS (
        SELECT DISTINCT s.l_suppkey
        FROM shipped s JOIN tot t ON s.l_partkey = t.l_partkey
        WHERE s.sup_qty > 0.5 * t.part_qty
    )
    SELECT su.s_suppkey, su.s_name, n.n_name
    FROM supplier su
    JOIN nation n ON su.s_nationkey = n.n_nationkey
    WHERE su.s_suppkey IN (SELECT l_suppkey FROM big)
    """,
)
def excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped dominant-supplier report: suppliers who
    shipped more than half of a target (red-named) part's 1996 volume (the
    "excess stock" semi-join chain recast onto shipment volumes —
    this schema has no partsupp).

    Plan shape: the target-part key list broadcasts into the
    lineitem scan as a semi-join (with the shipdate range pushed
    down); ONE shuffle aggregates (part, supplier) quantities; the
    per-part total reuses that aggregate's partitioning (no second
    fact scan) via a window-free self-aggregation, and the final
    supplier resolution is a broadcast semi-join against the distinct
    qualifying supplier keys.  Exact-decimal quantity sums make the
    >50% comparison deterministic."""
    target = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(target), "l_partkey", "left_semi")
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(money(F.col("l_quantity"))).alias("sup_qty")
    )
    tot = shipped.groupBy("l_partkey").agg(F.sum("sup_qty").alias("part_qty"))
    big = (
        shipped.join(tot, "l_partkey")
        .filter(F.col("sup_qty") > 0.5 * F.col("part_qty"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    su = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        su.join(F.broadcast(big), "s_suppkey", "left_semi")
        .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "nation_vip_roster",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_vips,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS roster
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 9000
    GROUP BY 1
    """,
)
def nation_vip_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG (Spark 4's ``listagg ... WITHIN GROUP``, the
    ANSI-2016 form): the comma-joined roster of each nation's
    high-balance customers — the "emit the members, not just the
    count" report shape.

    Determinism: within-group ORDER BY c_name makes the concatenation
    order-stable under any shuffle; the high-balance filter bounds the
    group size (an UNfiltered listagg over a fact table would
    concentrate a table-sized string on one reducer — the operator is
    only scale-safe with bounded groups, which is why the filter is
    part of the shape).  Plan: filter pushed to the customer scan,
    broadcast nation join, one hash-agg pass (sort-based within
    group)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_vips"),
            F.expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)").alias(
                "roster"
            ),
        )
    )


@register(
    "nation_top_customers_lateral",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n
    JOIN LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 3
    ) t ON TRUE
    """,
)
def nation_top_customers_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-k: each nation's 3 richest customers,
    written as a lateral subquery (the SQL-standard form of "for each
    outer row, run this parameterized query").

    Catalyst decorrelates the correlated LIMIT into a
    ``WindowGroupLimit`` over the customer side — a map-side partial
    top-3 per nation BEFORE the shuffle, then the broadcast nation
    join — so the plan is identical to the hand-written ranked-window
    form and never materializes a per-nation scan.  This is the
    optimizer shape that matters at 100 TB: a naive nested-loop
    lateral would re-scan the fact table once per outer row.
    Tie-broken on the unique c_custkey, so the top-3 set is
    deterministic."""
    from ..catalog import register_views

    register_views(spark, sf_dir, "nation", "customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n
        JOIN LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 3
        ) t
        """
    )


@register(
    "brand_bracket_revenue",
    oracle=f"""
    SELECT p.p_brand,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    GROUP BY 1
    """,
)
def brand_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped OR-of-conjunctions revenue (brand/size/quantity
    brackets recast onto this schema's columns — the testdata carries
    no container/shipmode).

    The optimizer shape Q19 exists to test: the disjunction mixes
    part-side and lineitem-side predicates, and Catalyst must (a)
    derive the single-side implications — ``p_brand IN (...)`` and
    ``p_size BETWEEN 1 AND 15`` push to the part scan, ``l_quantity
    BETWEEN 1 AND 30`` to the lineitem scan — BEFORE the join, and
    (b) keep the full disjunction as a post-join filter.  Without the
    derived pushdowns the join shuffles the whole fact table for a
    <1% selectivity query.  Exact-decimal revenue per the house
    parity discipline."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    bracket = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        j.filter(bracket)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "local_supply_share",
    oracle=f"""
    SELECT n.n_name AS cust_nation,
           CAST(ROUND(SUM(CASE WHEN s.s_nationkey = c.c_nationkey
                          THEN {_EXT} * (1 - {_DISC}) ELSE 0 END), 2) AS DOUBLE)
               AS local_revenue,
           CAST(ROUND(SUM({_EXT} * (1 - {_DISC})), 2) AS DOUBLE) AS total_revenue,
           ROUND(CAST(SUM(CASE WHEN s.s_nationkey = c.c_nationkey
                          THEN {_EXT} * (1 - {_DISC}) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM({_EXT} * (1 - {_DISC})) AS DOUBLE), 6) AS local_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def local_supply_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain localness (TPC-H Q7/Q8 family, new semantics):
    per customer nation, what fraction of 1995-96 revenue was shipped
    by a supplier in the SAME nation — the "domestic share" metric a
    sourcing dashboard runs.

    Plan shape: orderdate range pushes to the orders scan; the
    lineitem→orders and →customer joins shuffle on their keys once
    each; supplier is a key-join AQE converts to broadcast at any
    realistic dim size (and at 100 TB, where supplier outgrows the
    broadcast threshold, it shuffles on l_suppkey like any fact-fact
    join — no plan rewrite needed); nation is always broadcast.  The
    local/total CASE-sum pair collapses in one partial aggregate —
    one pass, no second scan for the denominator.  Exact-decimal
    sums; the share is one IEEE divide over exact inputs, so the
    result is deterministic under any shuffle order."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = money(F.col("l_extendedprice")) * (1 - _rate("l_discount"))
    local = F.col("s_nationkey") == F.col("c_nationkey")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    zero = F.lit(0).cast(MONEY)
    local_sum = F.sum(F.when(local, rev).otherwise(zero))
    total_sum = F.sum(rev)
    return (
        j.groupBy(F.col("n_name").alias("cust_nation"))
        .agg(
            F.round(local_sum, 2).cast("double").alias("local_revenue"),
            F.round(total_sum, 2).cast("double").alias("total_revenue"),
            F.round(local_sum.cast("double") / total_sum.cast("double"), 6).alias(
                "local_share"
            ),
        )
    )


@register(
    "part_name_fuzzy_links",
    oracle="""
    WITH names AS (
        SELECT p_name,
               COUNT(*) AS n_parts,
               string_split(p_name, ' ')[2] AS noun
        FROM part GROUP BY 1
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
           CAST(a.n_parts AS BIGINT) AS n_parts_a,
           CAST(b.n_parts AS BIGINT) AS n_parts_b
    FROM names a
    JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def part_name_fuzzy_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage over part names: candidate name pairs
    within edit distance 3, blocked on the shared noun — the
    catalog-reconciliation operator (typo'd SKUs, vendor spelling
    variants) every entity-resolution pipeline starts with.

    The two moves that make fuzzy joins viable at 100 TB, both here:
    (1) linkage runs on the DISTINCT-VALUE vocabulary, not the fact
    rows — the first aggregate collapses the part table to its name
    vocabulary (with per-name row counts for weighting), so the
    quadratic-ish distance work touches |vocabulary|², not |rows|²;
    (2) blocking — candidates must share the noun token, so the join
    is a keyed equi-join with per-block bounded buckets, and the
    Levenshtein kernel (JVM built-in, codegen'd) evaluates only
    inside blocks.  An unblocked fuzzy join is a cartesian and is
    exactly what this operator exists to avoid."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_parts")).select(
        "p_name", "n_parts", F.split(F.col("p_name"), " ").getItem(1).alias("noun")
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "noun",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "noun",
    )
    return (
        a.join(b, "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select(
            "name_a",
            "name_b",
            F.col("edit_dist").cast("int").alias("edit_dist"),
            F.col("n_parts_a").cast("bigint").alias("n_parts_a"),
            F.col("n_parts_b").cast("bigint").alias("n_parts_b"),
        )
    )


@register(
    "supplier_acctbal_ntile",
    oracle="""
    WITH q AS (
        SELECT n.n_name,
               s.s_acctbal,
               NTILE(4) OVER (
                   PARTITION BY n.n_name ORDER BY s.s_acctbal, s.s_suppkey
               ) AS quartile
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT n_name,
           CAST(quartile AS INTEGER) AS quartile,
           COUNT(*) AS n_suppliers,
           ROUND(MIN(s_acctbal), 2) AS min_bal,
           ROUND(MAX(s_acctbal), 2) AS max_bal,
           CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS sum_bal
    FROM q GROUP BY 1, 2
    """,
)
def supplier_acctbal_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance quartiles via NTILE(4) — the
    equal-count banding used for supplier credit tiers (and the one
    ranking window function the surface didn't exercise yet; ties
    broken on the unique suppkey so tile assignment is
    deterministic).

    Scale note (re-planned round 11, VERDICT r10 item 3): quartiles
    route through :func:`functions.ranking.scalable_ntile` with the
    nation as the group key — the 25-value partition key no longer
    bounds parallelism to 25 sort tasks; each nation's suppliers
    spread over range chunks and the assignment is exact integer
    arithmetic on (row number, group size)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    q = scalable_ntile(
        j,
        4,
        [("s_acctbal", "asc"), ("s_suppkey", "asc")],
        group_cols=["n_name"],
        out_col="quartile",
    )
    return q.groupBy("n_name", F.col("quartile").cast("int").alias("quartile")).agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.min("s_acctbal"), 2).alias("min_bal"),
        F.round(F.max("s_acctbal"), 2).alias("max_bal"),
        F.round(F.sum(F.col("s_acctbal").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("sum_bal"),
    )


#: Diversified ranking: global top-k with a per-customer cap.
_DIV_TOPK = 20
_DIV_PER_CUSTOMER = 2


@register(
    "top_orders_diversified",
    oracle=f"""
    WITH capped AS (
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey)
            <= {_DIV_PER_CUSTOMER}
    )
    SELECT o_orderkey, o_custkey, CAST(price AS DOUBLE) AS o_totalprice
    FROM capped
    ORDER BY price DESC, o_orderkey
    LIMIT {_DIV_TOPK}
    """,
)
def top_orders_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified global top-k: the 20 highest-value orders with AT
    MOST 2 per customer — the result-diversity constraint every
    leaderboard/recommendation surface applies so one whale cannot
    monopolize the list (plain top_revenue_orders has no such cap).

    Plan shape this exists to exercise: the per-customer cap is a
    rank-filter Catalyst rewrites to WindowGroupLimit (each group
    keeps only its first 2 rows DURING the window sort — the
    sort-bounded top-k inside groups), and the global cut is
    TakeOrderedAndProject — so neither step materializes a full sort
    of the fact table.  Exact decimal ranking keys; ties break on
    orderkey at both levels."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("price"), F.asc("o_orderkey")
    )
    capped = (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _DIV_PER_CUSTOMER)
        .drop("rk")
    )
    return (
        capped.orderBy(F.desc("price"), F.asc("o_orderkey"))
        .limit(_DIV_TOPK)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("price").cast("double").alias("o_totalprice"),
        )
    )
