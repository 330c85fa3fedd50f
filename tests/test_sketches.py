"""HLL sketch rollup: merged daily sketches must estimate the true
month-level distinct count within HLL's error bound (lgK=14 ⇒ rsd
≈ 0.8%; assert a loose 5%)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.operators.feature_agg import (
    sketch_distinct_users_rollup,
)
from tests.conftest import SF_SMOKE


@pytest.mark.slow
def test_sketch_union_estimates_within_error(spark):
    got = {
        r.event_type: r.approx_distinct_users
        for r in sketch_distinct_users_rollup(spark, SF_SMOKE).collect()
    }
    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(got) == set(exact)
    for t, est in got.items():
        assert abs(est - exact[t]) / exact[t] < 0.05, (t, est, exact[t])


# --------------------------------------------------------------------------
# operators/sketches.py — KMV overlap, bloom pre-join prune, histogram
# quantile rollup
# --------------------------------------------------------------------------


@pytest.mark.slow
def test_kmv_overlap_tracks_exact_intersections(spark):
    """KMV estimates must land within the sketch's statistical error
    of the exact pairwise (user, day) audience intersections.  The
    rho-estimator's error scales with the UNION size: sigma ≈
    sqrt(p(1-p)/k) * U ≤ 0.5/sqrt(64) * U ≈ 6% of U; assert a 4-sigma
    0.25 * U bound (plus a small absolute floor), and the union
    estimate itself within 3 * 1/sqrt(63) ≈ 38%."""
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        kmv_audience_overlap,
    )

    got = {(r.type_a, r.type_b): r for r in kmv_audience_overlap(spark, SF_SMOKE).collect()}
    e = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.concat(
                F.col("user_id").cast("string"), F.lit(":"), F.to_date("ts").cast("string")
            ).alias("m"),
        )
        .distinct()
    )
    a = e.select(F.col("event_type").alias("ta"), "m")
    b = e.select(F.col("event_type").alias("tb"), "m")
    joined = a.join(b, "m").filter(F.col("ta") < F.col("tb"))
    exact = {
        (r.ta, r.tb): r.n
        for r in joined.groupBy("ta", "tb").agg(F.count("*").alias("n")).collect()
    }
    per_type = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(got) == set(exact)
    for (ta, tb), row in got.items():
        ex_inter = exact[(ta, tb)]
        ex_union = per_type[ta] + per_type[tb] - ex_inter
        assert abs(row.est_union - ex_union) <= 0.38 * ex_union, (ta, tb, row)
        err = abs(row.est_overlap - ex_inter)
        assert err <= max(10.0, 0.25 * ex_union), (ta, tb, row.est_overlap, ex_inter)
        assert 0.0 <= row.jaccard_est <= 1.0
        assert abs(row.jaccard_est - ex_inter / ex_union) <= 0.25


def test_kmv_two_stage_bottom_k_equals_one_stage(spark):
    """The sharded two-stage selection must return exactly the global
    bottom-k per slice."""
    from pyspark.sql import Window

    from ml_feature_store_enterprise_grade_spark.functions import portable_hash64
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        _KMV_K,
        _KMV_SEED,
        _bottom_k,
    )

    hashed = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            portable_hash64(F.col("user_id").cast("string"), _KMV_SEED).alias("h"),
        )
        .distinct()
    )
    two = _bottom_k(hashed, ["event_type"], _KMV_K)
    w = Window.partitionBy("event_type").orderBy("h")
    one = (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .drop("rk")
    )
    assert two.exceptAll(one).count() == 0
    assert one.exceptAll(two).count() == 0


def test_bloom_prune_is_superset_and_join_exact(spark):
    """bloom_prune keeps every true match (the exact semi-join result
    is unchanged after pruning) and only ever drops rows."""
    from ml_feature_store_enterprise_grade_spark.operators.sketches import bloom_prune

    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    dim = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    pruned = bloom_prune(o, "o_custkey", dim, "c_custkey")
    assert pruned.count() <= o.count()

    dim_k = dim.select(F.col("c_custkey").alias("o_custkey")).distinct()
    exact_full = o.join(dim_k, "o_custkey", "left_semi")
    exact_after = pruned.join(dim_k, "o_custkey", "left_semi")
    assert exact_after.exceptAll(exact_full).count() == 0
    assert exact_full.exceptAll(exact_after).count() == 0


def test_bloom_audit_counts_are_consistent(spark):
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        bloom_prejoin_prune,
    )

    for r in bloom_prejoin_prune(spark, SF_SMOKE).collect():
        assert r.n_exact_pass <= r.n_bloom_pass <= r.n_orders
        assert r.n_false_pos == r.n_bloom_pass - r.n_exact_pass
        assert abs(r.shuffle_fraction - r.n_bloom_pass / r.n_orders) < 1e-3


def test_histogram_quantiles_within_bin_width_of_exact(spark):
    """Each interpolated estimate must sit within one bin width of
    the rank-ceil(q*n) order statistic — the sketch's contract: that
    order statistic lies inside the hit bin, and so does the
    interpolated estimate.  (percentile() interpolates BETWEEN order
    statistics, which diverges arbitrarily in sparse tails, so the
    order statistic itself is the right yardstick.)"""
    import math

    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        _HQ_BIN_W,
        _HQ_QS,
        histogram_quantile_rollup,
    )

    got = {r.event_type: r for r in histogram_quantile_rollup(spark, SF_SMOKE).collect()}
    e = load_table(spark, SF_SMOKE, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    by_type: dict[str, list[float]] = {}
    for r in e.select("event_type", "value").collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    assert set(got) == set(by_type)
    for t, row in got.items():
        vals = sorted(by_type[t])
        assert row.n_events == len(vals)
        for est, q in zip((row.est_p50, row.est_p95, row.est_p99), _HQ_QS):
            order_stat = vals[math.ceil(q * len(vals)) - 1]
            assert abs(est - order_stat) <= _HQ_BIN_W, (t, q, est, order_stat)


def test_histogram_sketch_merges_across_days(spark):
    """Summing per-day bin counts must reproduce the whole-range
    histogram exactly (mergeability — the property that lets a
    monitoring store aggregate any day range without rescanning)."""
    e = load_table(spark, SF_SMOKE, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    from ml_feature_store_enterprise_grade_spark.operators.sketches import _HQ_BIN_W

    bin_col = F.floor(F.col("value") / _HQ_BIN_W).cast("bigint").alias("bin")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"), bin_col)
        .agg(F.count("*").alias("cnt"))
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = e.groupBy("event_type", bin_col).agg(F.count("*").alias("cnt"))
    assert daily.exceptAll(direct).count() == 0
    assert direct.exceptAll(daily).count() == 0


@pytest.mark.slow
def test_histogram_store_range_queries_match_recompute(spark, tmp_path):
    """HistogramSketchStore.quantiles over a day range must equal the
    inverse-CDF walk recomputed directly from the range's raw events
    (sketch merges are exact count sums — lossless)."""
    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        HistogramSketchStore,
        hist_day_sketch,
        hist_quantiles,
    )

    e = load_table(spark, SF_SMOKE, "events")
    store = HistogramSketchStore(spark, str(tmp_path / "hist_sketches"))
    store.build(e)

    days = sorted(r.day for r in e.select(F.to_date("ts").alias("day")).distinct().collect())
    start, end = str(days[1]), str(days[-2])
    got = store.quantiles(start=start, end=end)

    raw_range = e.filter(
        (F.to_date("ts") >= F.lit(start)) & (F.to_date("ts") <= F.lit(end))
    )
    want = hist_quantiles(
        hist_day_sketch(raw_range).groupBy("event_type", "bin").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_histogram_store_prunes_day_partitions(spark, tmp_path):
    """The day-range filter must land in the scan's partition pruning
    (PartitionFilters), so a bounded range reads only its partitions."""
    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        HistogramSketchStore,
    )

    e = load_table(spark, SF_SMOKE, "events")
    store = HistogramSketchStore(spark, str(tmp_path / "hist_sketches"))
    store.build(e)
    df = store.merged(start="2026-01-02", end="2026-01-03")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan


def test_kmv_sketch_merge_equals_whole_range_sketch(spark):
    """Bottom-k of (sketch(first half) union sketch(second half)) must
    equal sketch(all) — the mergeability that lets per-partition KMV
    sketches roll up like partial aggregates."""
    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        _KMV_K,
        _bottom_k,
        kmv_sketch,
    )

    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    member = F.concat(
        F.col("user_id").cast("string"), F.lit(":"), F.to_date("ts").cast("string")
    )
    cut = e.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    first = e.filter(F.unix_micros("ts") <= cut)
    second = e.filter(F.unix_micros("ts") > cut)

    merged = _bottom_k(
        kmv_sketch(first, ["event_type"], member)
        .unionAll(kmv_sketch(second, ["event_type"], member))
        .distinct(),
        ["event_type"],
        _KMV_K,
    )
    whole = kmv_sketch(e, ["event_type"], member)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_portable_hll_estimates_track_exact(spark):
    """The deterministic HLL's estimates stay within the expected
    error envelope of exact distinct counts (1.04/sqrt(64) ≈ 13%
    standard error; assert a 3-sigma-ish bound), and the audit
    columns are self-consistent."""
    from ml_feature_store_enterprise_grade_spark.operators.sketches import (
        hll_portable_distinct_rollup,
    )

    rows = hll_portable_distinct_rollup(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_registers_hit <= 64
        assert r.exact_users > 0
        assert r.rel_err == round(
            abs(r.approx_distinct_users - r.exact_users) / r.exact_users, 6
        )
        assert r.rel_err < 0.40, f"{r.event_type}: rel_err {r.rel_err}"
