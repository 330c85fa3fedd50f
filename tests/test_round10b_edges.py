"""Constructed-input edge cases for the round-10 post-seal operators —
shapes the synthetic corpus cannot produce (constant series, degenerate
groups, clamp boundaries, exact-fit packing).  Each test writes a
minimal table into a tmp sf_dir and drives the registered query
through its real load path.
"""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry

_Q = registry.queries()


def _write(spark, tmp_path, name, df):
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    return d


@pytest.mark.slow
def test_forecast_backtest_constant_series_ties_break_by_name(spark, tmp_path):
    """A constant revenue series makes every forecaster exact: all
    error totals are 0 and the ranking must fall back to the method-
    name tiebreak (the determinism contract under total ties)."""
    rows = [
        (i, 1, "O", 100.0, datetime(2024, 1, 1 + i), "1-URGENT")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = _write(spark, tmp_path, "orders", df)
    got = sorted(
        _Q["daily_revenue_forecast_backtest"](spark, d).collect(),
        key=lambda r: r.rnk,
    )
    assert [r.method for r in got] == ["drift", "mean", "naive", "seasonal_naive"]
    for r in got:
        assert r.mae == 0.0
        assert r.n_origins == 13  # days 8..20


def test_decay_features_age_clamp_boundaries(spark, tmp_path):
    """Events on the anchor date clamp to age 0 (weight 1.0); events
    older than the max age clamp to the final weight — both rows must
    land exactly on the quantized table entries."""
    from ml_feature_store_enterprise_grade_spark.operators.feature_agg import (
        _DECAY_MAX_AGE_D,
        _DECAY_WQ,
    )

    rows = [
        (1, datetime(2024, 2, 1, 12, 0), 10, "click", 1.0, "{}"),  # age 0
        (2, datetime(2020, 1, 1), 20, "click", 1.0, "{}"),  # age >> max
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = _write(spark, tmp_path, "events", df)
    got = {r.user_id: r for r in _Q["user_decay_features"](spark, d).collect()}
    assert got[10].last_event_age_days == 0
    assert got[10].decayed_count == _DECAY_WQ[0] / 1e6 == 1.0
    assert got[20].last_event_age_days == _DECAY_MAX_AGE_D
    assert got[20].decayed_count == _DECAY_WQ[_DECAY_MAX_AGE_D] / 1e6


@pytest.mark.slow
def test_price_dispersion_constant_price_and_single_supplier(spark, tmp_path):
    """Constant unit price → cv exactly 0; a part sold by one supplier
    is excluded however many lineitems it has."""
    rows = [
        # part 1: two suppliers, identical unit price 10.00
        (1, 1, 101, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
        (2, 1, 102, 1, 3.0, 30.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
        # part 2: one supplier, wildly varying price — still excluded
        (3, 2, 103, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 3)),
        (4, 2, 103, 1, 1.0, 99.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 4)),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    d = _write(spark, tmp_path, "lineitem", df)
    got = _Q["part_price_dispersion_audit"](spark, d).collect()
    assert [r.l_partkey for r in got] == [1]
    assert got[0].price_cv == 0.0
    assert got[0].mean_unit_price == 10.0
    assert got[0].n_suppliers == 2


@pytest.mark.slow
def test_t_closeness_single_group_is_global(spark, tmp_path):
    """When one QI group IS the whole corpus, its distribution equals
    the global one: TVD exactly 0 and the policy passes."""
    rows = [(i, f"c{i}", 0, float(i * 1000), "SEG") for i in range(10)]
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    d = _write(spark, tmp_path, "customer", df)
    got = _Q["t_closeness_audit"](spark, d).collect()
    assert len(got) == 1
    assert got[0].tvd == 0.0
    assert bool(got[0].meets_t) is True
    assert got[0].group_size == 10


@pytest.mark.slow
def test_packing_efficiency_exact_fit_docs(spark, tmp_path):
    """Docs exactly one sequence long: zero waste and zero splits
    under BOTH strategies, and the two strategies agree on the
    sequence count."""
    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        _CHARS_PER_TOKEN,
        _SEQ_LEN,
    )

    n_chars = _SEQ_LEN * _CHARS_PER_TOKEN
    rows = [(i, "x" * 8, "en", "src", n_chars) for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = _write(spark, tmp_path, "documents", df)
    got = {
        r.strategy: r
        for r in _Q["sequence_packing_efficiency"](spark, d).collect()
    }
    for r in got.values():
        assert r.n_sequences == 12
        assert r.padding_tokens == 0
        assert r.waste_share == 0.0
        assert r.docs_split == 0


@pytest.mark.slow
def test_fd_audit_holding_dependency(spark, tmp_path):
    """A constructed corpus where c_nationkey → c_mktsegment HOLDS:
    the audit must report holds=True with g3 exactly 0 (the corpus
    itself never exercises a holding FD)."""
    rows = [(i, f"c{i}", i % 3, 0.0, f"SEG{i % 3}") for i in range(30)]
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    d = _write(spark, tmp_path, "customer", df)
    # the audit reads several tables; stage minimal copies of the rest
    for t, schema, row in (
        ("lineitem",
         "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
         " l_quantity double, l_extendedprice double, l_discount double,"
         " l_tax double, l_returnflag string, l_linestatus string,"
         " l_shipdate timestamp",
         (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))),
        ("events",
         "event_id long, ts timestamp, user_id long, event_type string,"
         " value double, props string",
         (1, datetime(2024, 1, 1), 1, "click", 1.0, "{}")),
        ("part", "p_partkey long, p_name string, p_brand string,"
         " p_type string, p_size int, p_retailprice double",
         (1, "p", "B", "T", 1, 1.0)),
        ("documents",
         "doc_id long, text string, lang string, source string, n_chars long",
         (1, "t", "en", "s", 1)),
    ):
        _write(spark, tmp_path, t, spark.createDataFrame([row], schema))
    got = {r.fd: r for r in _Q["approximate_fd_audit"](spark, d).collect()}
    r = got["customer.c_nationkey->c_mktsegment"]
    assert bool(r.holds) is True
    assert r.g3_error == 0.0
    assert r.n_violating_groups == 0


@pytest.mark.slow
def test_stream_decay_rocksdb_provider_matches_default(spark, tmp_path):
    """The decay accumulator's GroupState under the RocksDB provider
    must produce the identical final per-user integers as the default
    HDFS-backed provider (the ST8-at-scale check the running-totals
    op carries, extended to the decay twin)."""
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ml_feature_store_enterprise_grade_spark.catalog import normalize_ts
    from ml_feature_store_enterprise_grade_spark.streaming.joins import (
        _DECAY_OUT_SCHEMA,
        _DECAY_STATE_SCHEMA,
        _decay_snapshots,
    )

    src = str(tmp_path / "src")
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    raw.coalesce(2).write.mode("append").parquet(src)

    def run(provider, tag):
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
        try:
            stream = normalize_ts(
                spark.readStream.schema(raw.schema)
                .format("parquet")
                .option("maxFilesPerTrigger", 1)
                .load(src),
                ["ts"],
            ).filter(
                F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
                & F.col("value").isNotNull()
                & ~F.isnan("value")
            )
            snaps = stream.groupBy("user_id").applyInPandasWithState(
                _decay_snapshots,
                outputStructType=_DECAY_OUT_SCHEMA,
                stateStructType=_DECAY_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            qname = f"rocks_{tag}_{uuid.uuid4().hex[:6]}"
            q = (
                snaps.writeStream.outputMode("append")
                .format("memory")
                .queryName(qname)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            out = spark.table(qname)
            return {
                r.user_id: (r.n, r.min_d, r.swq, r.svwq)
                for r in out.groupBy("user_id")
                .agg(
                    F.max("n").alias("n"),
                    F.max_by("min_d", "n").alias("min_d"),
                    F.max_by("swq", "n").alias("swq"),
                    F.max_by("svwq", "n").alias("svwq"),
                )
                .collect()
            }
        finally:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )

    rocks = run(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        "r",
    )
    default = run(None, "d")
    assert rocks == default and len(rocks) > 0
