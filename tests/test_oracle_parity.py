"""Differential tests: every registered query vs its DuckDB oracle.

This mirrors the verify driver's correctness gate (row count + schema
+ order-insensitive values + pandas dtypes) at sf0.001 so it stays fast
enough for the inner loop; the value and dtype tests of a query share
one evaluation of it.  ``python tools/parity.py <sf_dir>`` is the
driver-scale sweep.

Tiering is derived from the registry, not from a list of test ids.
A query runs in the default tier when it is in the driver window the
next round checks (the first ``registry.DRIVER_WINDOW`` names of
``queries()``), in the window the newest ``CORRECTNESS_r*.json`` round
checked, or is the first query its module registers (so every operator
module stays covered).  ``_PINNED`` adds the few queries the earlier
hand-kept tier ran that no rule selects.  Every other case is marked
``slow``.
"""

from __future__ import annotations

import pytest

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.testing import (
    compare_query,
    dtype_issues,
    duckdb_connection,
)
from tests.conftest import SF_SMOKE as SF_DIR

registry.load_all()
_ALL_QUERIES = registry.queries()
_ALL_ORACLES = registry.oracles()


#: Per-module picks of the earlier hand-kept tier (measured cheapest in
#: their module) that no rule in ``_default_tier`` selects.  Kept so that
#: no parity case that ran by default stops running; never extended.
_PINNED = frozenset({
    "bloom_prejoin_prune",
    "calendar_features",
    "corpus_lang_stats",
    "feature_summary_stats",
    "item_label_propagation",
    "late_arrival_audit",
    "latest_feature_snapshot",
    "sketch_distinct_users_rollup",
    "stratified_kfold_plan",
})


def _default_tier() -> set[str]:
    """The next driver window, the last one checked, the first
    registered query per module, and ``_PINNED``."""
    first_of_module: dict[str, str] = {}
    for name, fn in registry.QUERIES.items():
        first_of_module.setdefault(fn.__module__, name)
    window = list(_ALL_QUERIES)[: registry.DRIVER_WINDOW]
    rounds = registry._last_checked()
    newest = max(rounds.values(), default=None)
    last_checked = {n for n, r in rounds.items() if r == newest and n in _ALL_QUERIES}
    return set(window) | last_checked | set(first_of_module.values()) | _PINNED


_DEFAULT = _default_tier()


def _params(names) -> list:
    return [
        pytest.param(n, marks=() if n in _DEFAULT else pytest.mark.slow)
        for n in sorted(names)
    ]


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


#: name -> (CompareResult, dtype issues) of the one evaluation both
#: parity tests below read, so each query runs once per session.
_CHECKED: dict = {}


def _check(spark, con, name):
    """Run the query once, spool it with ``localCheckpoint()`` and
    compare values and dtypes against the oracle on that frame."""
    if name not in _CHECKED:
        oracle = _ALL_ORACLES[name]
        df = _ALL_QUERIES[name](spark, SF_DIR).localCheckpoint()
        _CHECKED[name] = (compare_query(name, df, oracle, con), dtype_issues(df, oracle, con))
    return _CHECKED[name]


@pytest.mark.parametrize("name", _params(_ALL_QUERIES))
def test_query_matches_oracle(spark, con, name):
    if name not in _ALL_ORACLES:
        df = _ALL_QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0  # rows-only contract for non-SQL-expressible ops
        return
    res, _ = _check(spark, con, name)
    assert res.ok, f"{res.detail}\n" + "\n".join(res.mismatches)


@pytest.mark.parametrize("name", _params(_ALL_ORACLES))
def test_query_dtype_parity(spark, con, name):
    """The driver hashes pandas frames, so cross-engine *dtype* skew
    (DuckDB HUGEINT -> float64 vs Spark bigint -> int64; Spark decimal
    -> Decimal objects vs DuckDB double) fails its value hash even
    when every value is numerically equal.  The fetchall()-based value
    compare above is blind to this; this check is not.  It reads the
    evaluation ``test_query_matches_oracle`` already made."""
    _, issues = _check(spark, con, name)
    assert not issues, "; ".join(issues)


@pytest.mark.parametrize(
    "name,seed",
    [
        # order 7600: te_loo once read 246175.395557, the oracle ...558
        ("target_encoding_loo", 505),
        # pair (86, 635): lift once read 55.2712, the oracle 55.2713
        ("item_cooccurrence_lift", 372561476),
    ],
)
def test_rounding_ties_match_oracle(spark, tmp_path, name, seed):
    """Half-way ties found by the benchmark's generated tables.  Spark's
    ``round`` works on the shortest decimal repr and DuckDB's in
    floating point, so both sides round with the same IEEE ops
    (``floor(x*10^k + 0.5)/10^k``) and must agree on these seeds."""
    from perfbench import datagen

    datagen.generate(str(tmp_path), 0.01, seed)
    c = duckdb_connection(str(tmp_path))
    try:
        df = _ALL_QUERIES[name](spark, str(tmp_path))
        res = compare_query(name, df, _ALL_ORACLES[name], c)
        assert res.ok, f"{res.detail}\n" + "\n".join(res.mismatches)
        assert not dtype_issues(df, _ALL_ORACLES[name], c)
    finally:
        c.close()
