"""Registry invariants: the driver contract must not silently decay.

The verify driver oracle-checks only the first ``registry.DRIVER_WINDOW``
entries of ``queries()``.  That window is derived from the committed
``CORRECTNESS_r*.json`` files (never-checked names first, then the
oldest last-checked round); these tests recompute the rule from the
files and hold the registry to it."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

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


@pytest.mark.slow
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
    round must be inside the driver window NOW — otherwise it ships
    'claimed, not proven' and the next verdict flags it (the r1/r2
    gap class this rotation discipline exists to prevent)."""
    seen = _last_checked_round()
    window = set(list(registry.queries())[: registry.DRIVER_WINDOW])
    missing = [n for n in registry.queries() if n not in seen and n not in window]
    assert not missing, f"never driver-checked and outside the window: {missing}"


def test_queries_are_stable_sorted_by_last_checked_round():
    """The window rule: stable-sorted by the newest CORRECTNESS round
    holding a row for the name (never checked = -1), then by the
    module's place in the registry's module list, then definition order."""
    rounds = _last_checked_round()
    assert rounds, "no CORRECTNESS_r*.json next to the package"
    modules = list(registry._OPERATOR_MODULES)
    expected = sorted(
        registry.QUERIES,
        key=lambda n: (rounds.get(n, -1), modules.index(registry.QUERIES[n].__module__)),
    )
    assert list(registry.queries()) == expected


def test_query_order_does_not_depend_on_import_order():
    """The driver loads the registry in a fresh process; a pytest run
    imports operator modules in test-file order first.  Both must see
    one ``queries()`` order, or the default tier tracks a window the
    driver never checks."""
    code = (
        "import importlib, sys\n"
        "from ml_feature_store_enterprise_grade_spark import registry\n"
        "for m in sys.argv[1:]:\n"
        "    importlib.import_module(m)\n"
        "print('\\n'.join(registry.queries()))\n"
    )

    def order(*first):
        return subprocess.run(
            [sys.executable, "-c", code, *first],
            cwd=_REPO, capture_output=True, text=True, check=True,
        ).stdout.split()

    fresh = order()
    assert order(*reversed(registry._OPERATOR_MODULES)) == fresh
    assert list(registry.queries()) == fresh


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


def test_default_tier_covers_the_driver_window():
    """The default pytest tier oracle-checks everything the driver will
    check next (the window), and beyond that only the window the newest
    CORRECTNESS round checked, the first query each operator module
    registers and the pinned carry-overs.  Collected through the repo's
    pytest.ini, so its ``-m "not slow"`` applies."""
    from tests.test_oracle_parity import _PINNED

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "tests/test_oracle_parity.py"],
        cwd=_REPO, capture_output=True, text=True, check=True,
    ).stdout
    collected = {line.strip() for line in out.splitlines() if "::test_query_" in line}

    def ids(names):
        out = set()
        for n in names:
            out.add(f"tests/test_oracle_parity.py::test_query_matches_oracle[{n}]")
            if n in registry.ORACLES:
                out.add(f"tests/test_oracle_parity.py::test_query_dtype_parity[{n}]")
        return out

    window = list(registry.queries())[: registry.DRIVER_WINDOW]
    missing = sorted(ids(window) - collected)
    assert not missing, f"{len(missing)} window cases not in the default tier: {missing}"
    rounds = _last_checked_round()
    last_checked = {n for n, r in rounds.items() if r == max(rounds.values())}
    first_of_module = {}
    for name, fn in registry.QUERIES.items():
        first_of_module.setdefault(fn.__module__, name)
    allowed = ids(
        set(window) | (last_checked & set(registry.QUERIES))
        | set(first_of_module.values()) | _PINNED
    )
    extra = sorted(collected - allowed)
    assert not extra, f"default tier collects cases outside the rule: {extra}"
