"""Round-13 optimization-round regression tests.

Each test pins an optimization's CONTRACT, not its speed: the r13
changes must be value-invisible (same rows/bits) while changing only
plan shape / materialization / partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import local_rows
from ml_feature_store_enterprise_grade_spark.functions.ranking import ranked, running_totals
from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
    compute_floor,
    stream_state_confs,
)

SF = "/root/testdata/sf0.001"


def test_local_rows_single_partition_and_values(spark):
    rows = [(i, f"t{i % 3}", float(i)) for i in range(40)]
    df = local_rows(spark, rows, "a long, t string, h double")
    # one slice: the whole point (createDataFrame fans a local list
    # over defaultParallelism Python-worker tasks — measured 7 s per
    # executing job for 40 rows on local[32])
    assert df.rdd.getNumPartitions() == 1
    ref = spark.createDataFrame(rows, "a long, t string, h double")
    assert sorted(df.collect()) == sorted(ref.collect())
    assert df.schema == ref.schema


def test_local_rows_empty(spark):
    df = local_rows(spark, [], "a long, t string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "t"]


def test_stream_state_confs_rule(spark):
    # staged events at sf0.001 is well under one 32 MB target ->
    # floor wins; explicit floor respected; cap = session width.
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    c1 = stream_state_confs(spark, SF, floor=1)
    assert c1 == {"spark.sql.shuffle.partitions": "1"}
    # the floor always wins over the size term (compute-bound sites)
    c8 = stream_state_confs(spark, SF, floor=8)
    assert int(c8["spark.sql.shuffle.partitions"]) == 8
    # env override for the default floor
    os.environ["SPARK_GRAFT_STREAM_STATE_FLOOR"] = "3"
    try:
        c3 = stream_state_confs(spark, SF)
        assert c3 == {"spark.sql.shuffle.partitions": "3"}
    finally:
        del os.environ["SPARK_GRAFT_STREAM_STATE_FLOOR"]
    # tiny per-instance target: the size term takes over, capped at width
    os.environ["SPARK_GRAFT_STREAM_STATE_MB"] = "1"
    try:
        cbig = stream_state_confs(spark, SF, floor=1)
        assert 1 <= int(cbig["spark.sql.shuffle.partitions"]) <= cap
    finally:
        del os.environ["SPARK_GRAFT_STREAM_STATE_MB"]
    assert compute_floor(spark) >= 1


def test_ranked_matches_window_row_number(spark):
    """The spooled chunk machinery must be bit-identical to the
    single-task Window ``row_number()``/``count()`` on the same frame."""
    df = (
        spark.range(0, 5000)
        .select(
            (F.col("id") % 97).alias("g"),
            ((F.col("id") * 1103515245 + 12345) % 2147483647).alias("v"),
            F.col("id"),
        )
    )
    a = ranked(df, [("v", "asc"), ("id", "asc")], group_cols=["g"]).orderBy(
        "g", "rn"
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    b = df.select(
        "*",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy("g")).cast("bigint").alias("n_rows"),
    ).orderBy("g", "rn")
    got = a.select("g", "v", "id", "rn", "n_rows").collect()
    assert got == b.collect()
    assert len(got) == 5000


def test_running_totals_matches_window_sum(spark):
    df = spark.range(0, 3000).select(
        ((F.col("id") * 48271) % 1000003).alias("v"), F.col("id")
    )
    a = running_totals(df, [("v", "asc"), ("id", "asc")], ["v"]).orderBy(
        "v", "id"
    )
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    b = df.select("*", F.sum("v").over(w).alias("v_cum")).orderBy("v", "id")
    got = a.select("v", "id", "v_cum").collect()
    assert got == b.collect()
    assert len(got) == 3000
