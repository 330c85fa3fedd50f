"""Query registry: the oracle-checkable operator surface.

Every operator from SURVEY.md §2 registers here as a named query —
a ``(spark, sf_dir) -> DataFrame`` callable plus (when the semantics
are ANSI-SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables, or a ``rows_only=`` reason why it has none.
``__spark_entry__.py`` re-exports this registry to the verify driver.

Ordering rule.  The verify driver oracle-checks the first
``DRIVER_WINDOW`` entries of ``queries()`` and records each round's
rows in ``CORRECTNESS_r<N>.json`` at the repo root (next to this
package).  ``queries()`` and ``oracles()`` list the registered names
stable-sorted by the newest round ``N`` that has a row for the name; a
name with no row sorts as round -1.  So never-checked names lead the
window, then the longest-unchecked ones.  Ties keep
``_OPERATOR_MODULES`` order, then definition order within a module, so
the order does not depend on which module a process imported first.
"""

from __future__ import annotations

import functools
import json
import os
import re
import textwrap
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: How many leading entries of ``queries()`` the verify driver checks.
DRIVER_WINDOW = 50

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Always empty; kept because perfbench/query_suite.py still merges them.
DEFERRED_QUERIES: dict[str, QueryFn] = {}
DEFERRED_ORACLES: dict[str, str] = {}

#: Names registered with an explicit ``rows_only=True`` justification
#: (non-SQL-expressible: sketches, seeded sampling, pandas-UDF
#: kernels, MLlib-backed approximations).  The driver runs a weaker
#: rows-only check for these; everything else MUST carry an oracle.
ROWS_ONLY: dict[str, str] = {}

_OPERATOR_MODULES = (
    "ml_feature_store_enterprise_grade_spark.operators.feature_agg",
    "ml_feature_store_enterprise_grade_spark.operators.relational",
    "ml_feature_store_enterprise_grade_spark.operators.asof",
    "ml_feature_store_enterprise_grade_spark.operators.projection",
    "ml_feature_store_enterprise_grade_spark.operators.encoding",
    "ml_feature_store_enterprise_grade_spark.operators.analytics",
    "ml_feature_store_enterprise_grade_spark.operators.quality",
    "ml_feature_store_enterprise_grade_spark.operators.drift",
    "ml_feature_store_enterprise_grade_spark.operators.dedup",
    "ml_feature_store_enterprise_grade_spark.operators.text",
    "ml_feature_store_enterprise_grade_spark.operators.corpus_plan",
    "ml_feature_store_enterprise_grade_spark.operators.similarity",
    "ml_feature_store_enterprise_grade_spark.operators.sketches",
    "ml_feature_store_enterprise_grade_spark.operators.multimodal",
    "ml_feature_store_enterprise_grade_spark.sources.pyds",
    "ml_feature_store_enterprise_grade_spark.streaming.clickstream",
    "ml_feature_store_enterprise_grade_spark.streaming.joins",
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ROUND = re.compile(r"CORRECTNESS_r(\d+)\.json")

_loaded = False


def register(
    name: str,
    oracle: str | None = None,
    rows_only: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query with its DuckDB oracle, or with an
    explicit ``rows_only`` justification string.  Exactly one of the
    two is required — a registration with neither (or both) is a bug
    caught at import time, so no query can silently ship without a
    correctness story."""
    if (oracle is None) == (rows_only is None):
        raise ValueError(
            f"query {name!r}: provide exactly one of oracle= or rows_only="
        )

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = textwrap.dedent(oracle).strip()
        else:
            ROWS_ONLY[name] = rows_only
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so its queries register."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        import_module(mod)
    _loaded = True


@functools.cache
def _last_checked() -> dict[str, int]:
    """Newest driver round with a CORRECTNESS row, per query name."""
    rounds: dict[str, int] = {}
    for entry in os.listdir(_REPO_ROOT):
        m = _ROUND.fullmatch(entry)
        if m is None:
            continue
        with open(os.path.join(_REPO_ROOT, entry)) as f:
            for name in json.load(f):
                rounds[name] = max(int(m.group(1)), rounds.get(name, -1))
    return rounds


def _ordered(mapping: dict) -> dict:
    rounds = _last_checked()
    rank = {m: i for i, m in enumerate(_OPERATOR_MODULES)}
    return dict(
        sorted(
            mapping.items(),
            key=lambda kv: (rounds.get(kv[0], -1), rank[QUERIES[kv[0]].__module__]),
        )
    )


def queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
