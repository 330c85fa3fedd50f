"""File source/sink coverage: schema-declared CSV (S5/S6), the
partition sensor (S11) and the catalog's small-frame helpers
(``local_rows``, ``spread``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table, local_rows, spread
from ml_feature_store_enterprise_grade_spark.sources.files import read_csv, write_csv
from tests.conftest import SF_SMOKE


def test_csv_roundtrip_with_declared_schema(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = str(tmp_path / "customers_csv")
    write_csv(src, path)
    back = read_csv(
        spark,
        path,
        "c_custkey bigint, c_name string, c_acctbal double, c_mktsegment string",
    )
    assert back.schema.simpleString() == src.schema.simpleString()
    assert back.count() == src.count()
    a = src.agg(F.round(F.sum("c_acctbal"), 2).alias("s")).first()["s"]
    b = back.agg(F.round(F.sum("c_acctbal"), 2).alias("s")).first()["s"]
    assert a == b


def test_ts_normalization_is_type_aware(spark, tmp_path):
    """The driver's testdata has shipped `events.ts` as both int64
    nanoseconds and timestamp[us] across generations; `load_table`
    must surface TimestampType with identical instants either way."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ml_feature_store_enterprise_grade_spark.catalog import load_table as lt

    native = lt(spark, SF_SMOKE, "events")
    assert dict(native.dtypes)["ts"] == "timestamp"

    # Rewrite the same rows with ts as int64 epoch-nanos into a twin dir.
    twin = str(tmp_path / "twin_sf")
    os.makedirs(twin)
    tbl = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ts_ns = tbl["ts"].cast(pa.timestamp("ns")).cast(pa.int64())
    pq.write_table(
        tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_ns),
        f"{twin}/events.parquet",
    )
    nanos = lt(spark, twin, "events")
    assert dict(nanos.dtypes)["ts"] == "timestamp"
    j = (
        native.select("event_id", F.col("ts").alias("a"))
        .join(nanos.select("event_id", F.col("ts").alias("b")), "event_id")
        .filter(F.col("a") != F.col("b"))
    )
    assert j.count() == 0
    assert native.count() == nanos.count()


def test_jsonl_roundtrip_declared_schema(spark, tmp_path):
    """JSONL sink → source roundtrip under a declared schema: values,
    types, and row count survive; a corrupt line FAILFASTs."""
    from ml_feature_store_enterprise_grade_spark.sources.files import (
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "alpha", 2.5), (2, "beta", -0.75), (3, None, 0.0)],
        "doc_id bigint, text string, score double",
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, "doc_id bigint, text string, score double")
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.json").write_text('{"doc_id": 1, "text": "x", "score": 1.0}\n{not json\n')
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_jsonl(spark, str(bad), "doc_id bigint, text string, score double").collect()


class TestPythonDataSource:
    def test_pyjsonl_roundtrip_matches_parquet(self, spark):
        from ml_feature_store_enterprise_grade_spark.catalog import load_table
        from ml_feature_store_enterprise_grade_spark.sources.pyds import (
            _staged_jsonl_dir,
            register_pyjsonl,
        )

        register_pyjsonl(spark)
        path = _staged_jsonl_dir(spark, SF_SMOKE)
        back = (
            spark.read.format("pyjsonl")
            .schema("doc_id long, lang string, n_chars long")
            .option("path", path)
            .load()
        )
        want = load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        assert back.exceptAll(want).count() == 0
        assert want.exceptAll(back).count() == 0
        # file-per-partition parallelism: as many input partitions as
        # staged data files
        import glob as _glob
        import os as _os

        n_files = len(_glob.glob(_os.path.join(path, "*.json*")))
        assert back.rdd.getNumPartitions() == n_files >= 1

    def test_pyjsonl_requires_schema_and_path(self, spark):
        import pytest

        from ml_feature_store_enterprise_grade_spark.sources.pyds import (
            PythonJsonlReader,
            register_pyjsonl,
        )

        register_pyjsonl(spark)
        with pytest.raises(Exception, match="schema"):
            spark.read.format("pyjsonl").option("path", "/tmp/x").load()
        with pytest.raises(ValueError, match="path"):
            PythonJsonlReader(None, {})

    def test_pyjsonl_missing_dir_raises(self, spark):
        import pytest

        from ml_feature_store_enterprise_grade_spark.sources.pyds import (
            PythonJsonlReader,
        )
        from pyspark.sql.types import StructType

        r = PythonJsonlReader(StructType([]), {"path": "/tmp/definitely_missing_dir_xyz"})
        with pytest.raises(FileNotFoundError):
            r.partitions()


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


def test_spread_size_cap(spark):
    width = spark.sparkContext.defaultParallelism
    tiny = load_table(spark, SF_SMOKE, "nation")  # ~2.7 KB on disk
    n_tiny = spread(tiny).rdd.getNumPartitions()
    assert n_tiny < width  # kB frame must not fan to full width
    # explicit min_partitions bypasses the cap
    assert spread(tiny, 4).rdd.getNumPartitions() == 4
    # cap is monotone in bytes: a bigger table gets >= the tiny one
    bigger = load_table(spark, SF_SMOKE, "lineitem")
    assert spread(bigger).rdd.getNumPartitions() >= n_tiny
