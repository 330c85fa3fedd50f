"""Differential tests: every registered query vs its DuckDB oracle.

This mirrors the verify driver's correctness gate (row count + schema
+ order-insensitive values) at sf0.001 so it stays fast enough for
the inner loop.  ``SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01`` runs
the driver-scale sweep.
"""

from __future__ import annotations

import os

import pytest

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.testing import (
    compare_query,
    dtype_issues,
    duckdb_connection,
)

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

registry.load_all()
_ALL_QUERIES = registry.queries()
_ALL_ORACLES = registry.oracles()
_NAMES = sorted(_ALL_QUERIES)
_ORACLE_NAMES = sorted(_ALL_ORACLES)


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_oracle(spark, con, name):
    fn = _ALL_QUERIES[name]
    df = fn(spark, SF_DIR)
    oracle = _ALL_ORACLES.get(name)
    if oracle is None:
        assert df.count() >= 0  # rows-only contract for non-SQL-expressible ops
        return
    res = compare_query(name, df, oracle, con)
    assert res.ok, f"{res.detail}\n" + "\n".join(res.mismatches)


@pytest.mark.parametrize("name", _ORACLE_NAMES)
def test_query_dtype_parity(spark, con, name):
    """The driver hashes pandas frames, so cross-engine *dtype* skew
    (DuckDB HUGEINT -> float64 vs Spark bigint -> int64; Spark decimal
    -> Decimal objects vs DuckDB double) fails its value hash even
    when every value is numerically equal.  The fetchall()-based value
    compare above is blind to this; this check is not."""
    fn = _ALL_QUERIES[name]
    df = fn(spark, SF_DIR)
    issues = dtype_issues(df, _ALL_ORACLES[name], con)
    assert not issues, "; ".join(issues)
