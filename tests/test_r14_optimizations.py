"""Round-14 optimization-round regression tests.

Each test pins an optimization's CONTRACT, not its speed: the r14
changes must be value-invisible (same rows/bits) while changing only
plan shape / materialization / partitioning.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table, spread
from ml_feature_store_enterprise_grade_spark.functions.ranking import (
    ranked,
    ranked_select,
)
from ml_feature_store_enterprise_grade_spark.streaming import clickstream
from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
    stream_state_confs,
)

SF = "/root/testdata/sf0.001"


def _frame(spark, n=500, groups=0):
    rows = [
        (
            i,
            (i * 2654435761) % 1000,  # non-monotone value with ties
            f"g{i % groups}" if groups else "g0",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, v long, g string")


def test_ranked_select_matches_ranked_filter_global(spark):
    df = _frame(spark, 501)

    def targets(n):
        return F.array(
            (((n + 1) - (n + 1) % 2) / 2).cast("bigint"),  # median lo
            (((n + 2) - (n + 2) % 2) / 2).cast("bigint"),  # median hi (== lo, odd n)
            F.lit(1).cast("bigint"),
            n,  # extremes
            n + F.lit(5),  # out of range: ignored
        )

    full = ranked(df, [("v", "asc"), ("id", "asc")])
    n = F.col("n_rows")
    cond = (
        (F.col("rn") == (((n + 1) - (n + 1) % 2) / 2).cast("bigint"))
        | (F.col("rn") == (((n + 2) - (n + 2) % 2) / 2).cast("bigint"))
        | (F.col("rn") == 1)
        | (F.col("rn") == n)
    )  # n + 5 can never match: out-of-range targets are ignored
    want = sorted(full.filter(cond).collect())
    got = sorted(
        ranked_select(df, [("v", "asc"), ("id", "asc")], targets).collect()
    )
    assert got == want
    # no duplicate rows even when two target expressions coincide
    # (odd n: median-lo == median-hi)
    assert len(got) == len({r.id for r in got})


@pytest.mark.slow
def test_ranked_select_matches_ranked_filter_grouped(spark):
    df = _frame(spark, 400, groups=7)
    t = lambda n: F.array(F.ceil((n + 1) * 0.9).cast("bigint"))  # noqa: E731
    full = ranked(
        df, [("v", "asc"), ("id", "asc")], group_cols=["g"], n_col="n"
    )
    want = sorted(
        full.filter(
            F.col("rn") == F.ceil((F.col("n") + 1) * 0.9).cast("bigint")
        ).collect()
    )
    got = sorted(
        ranked_select(
            df, [("v", "asc"), ("id", "asc")], t, group_cols=["g"], n_col="n"
        ).collect()
    )
    assert got == want


def test_ranked_select_empty_input(spark):
    df = _frame(spark, 500).filter("id < 0")
    out = ranked_select(
        df, [("v", "asc"), ("id", "asc")], lambda n: F.array(n)
    )
    assert out.count() == 0


@pytest.mark.slow
def test_ranked_select_extra_frame(spark):
    df = _frame(spark, 300)
    extra = spark.createDataFrame([(2,)], "k long")
    # target = n - k, with k coming from the broadcast extra frame
    got = sorted(
        ranked_select(
            df,
            [("v", "asc"), ("id", "asc")],
            lambda n: F.array((n - F.col("k")).cast("bigint")),
            extra=extra,
        ).collect()
    )
    full = ranked(df, [("v", "asc"), ("id", "asc")])
    want = sorted(
        full.filter(F.col("rn") == F.col("n_rows") - 2).collect()
    )
    assert got == want


def test_doc_lengths_matches_exploded_counts(spark):
    from ml_feature_store_enterprise_grade_spark.operators.text import (
        _doc_lengths,
    )
    from ml_feature_store_enterprise_grade_spark.functions import (
        normalize_text,
    )

    nd = load_table(spark, SF, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    got = {(r.doc_id, r.n_tokens) for r in _doc_lengths(nd).collect()}
    toks = nd.select(
        "doc_id", F.explode(F.split("norm", " ")).alias("token")
    )
    want = {
        (r.doc_id, r.n)
        for r in toks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


@pytest.mark.slow
def test_als_fused_loss_two_stages(spark):
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        item_implicit_als_epoch,
    )

    out = item_implicit_als_epoch(spark, SF).collect()
    # the fused single-pass aggregate must still unpack to the two
    # report rows with a shared interaction count
    assert [r.stage for r in out] == ["after_epoch", "after_item_step"]
    assert out[0].n_interactions == out[1].n_interactions > 0


def test_spread_size_cap(spark):
    width = spark.sparkContext.defaultParallelism
    tiny = load_table(spark, SF, "nation")  # ~2.7 KB on disk
    n_tiny = spread(tiny).rdd.getNumPartitions()
    assert n_tiny < width  # kB frame must not fan to full width
    # explicit min_partitions bypasses the cap
    assert spread(tiny, 4).rdd.getNumPartitions() == 4
    # cap is monotone in bytes: a bigger table gets >= the tiny one
    bigger = load_table(spark, SF, "lineitem")
    assert spread(bigger).rdd.getNumPartitions() >= n_tiny


def test_stream_state_confs_sizes_nested_and_missing_sources(
    spark, tmp_path, monkeypatch
):
    """Bytes in every file of a partitioned events.parquet directory
    count (not just its top level), and a missing source falls back to
    the floor instead of raising."""
    mb = 1024 * 1024
    monkeypatch.setattr(clickstream, "_STREAM_STATE_BYTES", mb)
    src = tmp_path / "nested" / "events.parquet"
    for part in ("event_date=2024-01-01", "event_date=2024-01-02"):
        (src / part).mkdir(parents=True)
        (src / part / "part-0.parquet").write_bytes(b"x" * (mb + 1))
    (src / "_SUCCESS").write_bytes(b"")
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    c = stream_state_confs(spark, str(tmp_path / "nested"))
    assert int(c["spark.sql.shuffle.partitions"]) == min(cap, 3)
    c = stream_state_confs(spark, str(tmp_path / "missing"), floor=2)
    assert c["spark.sql.shuffle.partitions"] == "2"
