"""functions/ranking.py — the scalable exact-rank helper must be
bit-identical to the single-task window forms it replaces, at every
chunk count (cut-point placement must never change a rank).  The
chunk id is a pure function of the key (sampled-percentile ladder),
so offsets and local row numbers agree even when Spark recomputes
the input lineage per branch — the failure mode that killed the
earlier spark_partition_id design at sf0.1 under AQE."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.functions.ranking import (
    ntile_from_rank,
    ranked,
    scalable_ntile,
)


def _frame(spark, n=937, groups=0):
    """Deterministic frame with duplicate scores (ties) and a unique id."""
    rows = [
        Row(
            id=i,
            score=float((i * 7919) % 101),  # heavy ties: 101 distinct scores
            grp=f"g{i % groups}" if groups else "all",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.mark.slow
@pytest.mark.parametrize("nchunks", [1, 3, 8, 50])
def test_global_row_number_matches_window(spark, nchunks):
    df = _frame(spark)
    order = [("score", "asc"), ("id", "asc")]
    got = ranked(df, order, num_chunks=nchunks)
    w = Window.orderBy(F.col("score").asc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_rows", F.count("*").over(Window.partitionBy())
    )
    assert (
        got.select("id", "rn", "n_rows")
        .exceptAll(want.select("id", "rn", "n_rows"))
        .count()
        == 0
    )
    assert got.count() == df.count()


@pytest.mark.parametrize("k", [1, 3, 10, 100, 2000])
def test_global_ntile_matches_ntile(spark, k):
    df = _frame(spark, n=613)
    order = [("score", "desc"), ("id", "asc")]
    got = scalable_ntile(df, k, order, num_chunks=7)
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    want = df.withColumn("tile", F.ntile(k).over(w))
    assert (
        got.select("id", "tile").exceptAll(want.select("id", "tile")).count()
        == 0
    )


def test_grouped_ntile_matches_partitioned_ntile(spark):
    df = _frame(spark, n=700, groups=5)
    order = [("score", "asc"), ("id", "asc")]
    got = scalable_ntile(df, 4, order, group_cols=["grp"], num_chunks=6)
    w = Window.partitionBy("grp").orderBy(F.col("score").asc(), F.col("id").asc())
    want = df.withColumn("tile", F.ntile(4).over(w))
    assert (
        got.select("id", "grp", "tile")
        .exceptAll(want.select("id", "grp", "tile"))
        .count()
        == 0
    )


def test_grouped_row_number_and_size(spark):
    df = _frame(spark, n=200, groups=3)
    order = [("score", "asc"), ("id", "asc")]
    got = ranked(df, order, group_cols=["grp"], num_chunks=5)
    w = Window.partitionBy("grp").orderBy(F.col("score").asc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_rows", F.count("*").over(Window.partitionBy("grp"))
    )
    assert (
        got.select("id", "rn", "n_rows")
        .exceptAll(want.select("id", "rn", "n_rows"))
        .count()
        == 0
    )


def test_ntile_smaller_frame_than_tiles(spark):
    """n < k: NTILE assigns one row per tile (ANSI div-by-zero guard);
    also exercises the empty-sample degenerate single-chunk path."""
    df = spark.createDataFrame([Row(id=i, score=float(i)) for i in range(4)])
    order = [("score", "asc"), ("id", "asc")]
    got = scalable_ntile(df, 10, order, num_chunks=3)
    w = Window.orderBy(F.col("score").asc(), F.col("id").asc())
    want = df.withColumn("tile", F.ntile(10).over(w))
    assert sorted(r["tile"] for r in got.select("tile").collect()) == sorted(
        r["tile"] for r in want.select("tile").collect()
    )


def test_recomputation_consistency_under_self_join(spark):
    """The branch-divergence regression test: consume the ranked frame
    through TWO independent derivations (the offsets frame is built
    twice from unshared lineage) and require identical ranks — a pure
    deterministic chunk function makes this hold regardless of
    exchange reuse."""
    df = _frame(spark, n=800).repartition(13)  # unaligned input partitioning
    order = [("score", "asc"), ("id", "asc")]
    a = ranked(df, order, num_chunks=9).select("id", "rn")
    b = ranked(df, order, num_chunks=9).select("id", F.col("rn").alias("rn2"))
    j = a.join(b, "id")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0


@pytest.mark.parametrize("nchunks", [1, 4, 40])
def test_running_totals_matches_window(spark, nchunks):
    from ml_feature_store_enterprise_grade_spark.functions.ranking import (
        running_totals,
    )

    df = _frame(spark, n=700).withColumn(
        "w", (F.col("id") % 97 + 1).cast("bigint")
    ).withColumn("d", F.col("id").cast("decimal(12,2)"))
    order = [("score", "desc"), ("id", "asc")]
    got = running_totals(df, order, ["w", "d"], num_chunks=nchunks)
    w = (
        Window.orderBy(F.col("score").desc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.withColumn("w_cum", F.sum("w").over(w)).withColumn(
        "d_cum", F.sum("d").over(w)
    )
    assert (
        got.select("id", "w_cum", "d_cum")
        .exceptAll(want.select("id", "w_cum", "d_cum"))
        .count()
        == 0
    )


def test_running_totals_grouped(spark):
    from ml_feature_store_enterprise_grade_spark.functions.ranking import (
        running_totals,
    )

    df = _frame(spark, n=400, groups=4).withColumn(
        "w", (F.col("id") % 13 + 1).cast("bigint")
    )
    order = [("score", "asc"), ("id", "asc")]
    got = running_totals(df, order, ["w"], group_cols=["grp"], num_chunks=5)
    w = (
        Window.partitionBy("grp")
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.withColumn("w_cum", F.sum("w").over(w))
    assert (
        got.select("id", "grp", "w_cum")
        .exceptAll(want.select("id", "grp", "w_cum"))
        .count()
        == 0
    )


@pytest.mark.slow
def test_ntile_from_rank_formula_exhaustive(spark):
    """Pure-Python oracle for the tile formula over every (n, k, rn)
    in a dense grid — the arithmetic itself, independent of Spark's
    window machinery."""
    cases = []
    for n in range(1, 40):
        for k in (1, 2, 3, 5, 7, 11, 40):
            q, r = divmod(n, k)
            for rn in range(1, n + 1):
                z = rn - 1
                if z < r * (q + 1):
                    tile = z // (q + 1) + 1
                else:
                    tile = r + (z - r * (q + 1)) // max(q, 1) + 1
                cases.append(Row(n=n, k=k, rn=rn, want=tile))
    df = spark.createDataFrame(cases)
    mism = 0
    for k in (1, 2, 3, 5, 7, 11, 40):
        sub = df.filter(F.col("k") == k).withColumn(
            "got", ntile_from_rank(F.col("rn"), F.col("n").cast("bigint"), k)
        )
        mism += sub.filter(F.col("got") != F.col("want")).count()
    assert mism == 0


def test_no_single_partition_window_in_plan(spark):
    """The point of the module: the physical plan's row_number window
    over the data frame is partitioned (by the chunk id); the only
    unpartitioned windows run over the chunk-count frame."""
    df = _frame(spark, n=500)
    order = [("score", "asc"), ("id", "asc")]
    got = scalable_ntile(df, 10, order, num_chunks=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_rk_chunk" in line, line
