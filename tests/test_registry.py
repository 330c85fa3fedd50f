"""Registry invariants: the driver contract must not silently decay.

The verify driver oracle-checks only the FIRST 50 entries of
``queries()``.  That window is derived from the committed
``CORRECTNESS_r*.json`` files (never-checked names first, then the
oldest last-checked round); these tests recompute the rule from the
files and hold the registry to it."""

from __future__ import annotations

import json
import os
import re

from ml_feature_store_enterprise_grade_spark import registry

registry.load_all()

_REPO = os.path.join(os.path.dirname(__file__), "..")


def _last_checked_round() -> dict[str, int]:
    """Newest CORRECTNESS round with a row, per name (files parsed here,
    independently of the registry's own reader)."""
    out: dict[str, int] = {}
    for fname in sorted(os.listdir(_REPO)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            with open(os.path.join(_REPO, fname)) as f:
                for name in json.load(f):
                    out[name] = max(out.get(name, -1), int(m.group(1)))
    return out


def test_every_oracle_has_a_query():
    missing = [n for n in registry.ORACLES if n not in registry.QUERIES]
    assert not missing


def test_ordering_is_consistent_between_queries_and_oracles():
    q = [n for n in registry.queries() if n in registry.ORACLES]
    o = list(registry.oracles())
    assert q == o


def test_every_query_has_oracle_or_rows_only_justification():
    """No query ships without a correctness story: each registered
    name carries either a DuckDB oracle or an explicit rows_only=
    justification string (enforced at registration; asserted here so
    the invariant survives refactors of register())."""
    for name in registry.queries():
        has_oracle = name in registry.oracles()
        justified = bool(registry.ROWS_ONLY.get(name))
        assert has_oracle or justified, f"{name}: no oracle and no rows_only justification"
        assert not (has_oracle and justified), f"{name}: both oracle and rows_only"


def test_rows_only_outputs_are_canonicalizer_safe(spark):
    """Rows-only queries get no oracle, but the driver still loads
    their result into pandas and sorts/hashes it — a top-level array
    or map column crashes that canonicalizer (ndarray cells are
    unhashable; burned round 2 on multimodal_decode_features).  Every
    rows-only query must project such columns to digests/strings."""
    from pyspark.sql import types as T

    from tests.conftest import SF_SMOKE

    for name in registry.ROWS_ONLY:
        df = registry.queries()[name](spark, SF_SMOKE)
        for field in df.schema.fields:
            assert not isinstance(field.dataType, (T.ArrayType, T.MapType)), (
                f"{name}.{field.name}: {field.dataType.simpleString()} is not "
                "hashable by the driver's pandas canonicalizer"
            )


def test_driver_unchecked_queries_are_in_the_window():
    """Every registered query that has no CORRECTNESS row from a prior
    round must be inside the first-50 window NOW — otherwise it ships
    'claimed, not proven' and the next verdict flags it (the r1/r2
    gap class this rotation discipline exists to prevent)."""
    seen = _last_checked_round()
    window = set(list(registry.queries())[:50])
    missing = [n for n in registry.queries() if n not in seen and n not in window]
    assert not missing, f"never driver-checked and outside the window: {missing}"


def test_queries_are_stable_sorted_by_last_checked_round():
    """The window rule: registration order, stable-sorted by the newest
    CORRECTNESS round holding a row for the name (never checked = -1)."""
    rounds = _last_checked_round()
    assert rounds, "no CORRECTNESS_r*.json next to the package"
    expected = sorted(registry.QUERIES, key=lambda n: rounds.get(n, -1))
    assert list(registry.queries()) == expected


def test_never_checked_queries_lead_the_window():
    """Against the committed history (through CORRECTNESS_r14), the nine
    queries with no driver row are the first nine, and the window
    continues with the oldest checked round."""
    head = list(registry.queries())
    assert sorted(head[:9]) == [
        "consistent_sample_bottomk",
        "epoch_shuffle_quality_audit",
        "fellegi_sunter_weights",
        "item_cobuy_jaccard_topk",
        "item_implicit_als_epoch",
        "mixture_temperature_sweep",
        "order_value_permutation_test",
        "ranker_rbo_agreement",
        "stream_bottomk_sample",
    ]
    rounds = _last_checked_round()
    assert all(n not in rounds for n in head[:9])
    assert rounds[head[9]] == min(rounds[n] for n in head if n in rounds)