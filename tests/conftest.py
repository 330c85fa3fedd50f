from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_feature_store_enterprise_grade_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: Default test tier (VERDICT r13 item 6): the full suite is ~30 min,
#: which overruns the verify driver's pytest window, so nodeids listed
#: in tests/slow_tests.json are marked ``slow`` at collection and are
#: DESELECTED unless the caller opts in.  The manifest trims the
#: oracle-parity sweep to the 50-query driver window at the time it
#: was generated plus the cheapest query per operator module (every
#: family stays covered; a NEWLY registered query is not in the
#: manifest and therefore runs by default), and sheds only
#: individually-measured >3 s tests elsewhere.  Selection:
#: ``-m slow`` runs only the manifest, ``-m "not slow"`` is the default
#: tier, and SPARK_GRAFT_FULL_TESTS=1 or ``-m "slow or not slow"`` runs
#: everything (any explicit -m expression takes full control).
#: Regenerate the manifest from a ``pytest tests/ -q --durations=0``
#: run using the criteria in its _comment field.
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_tests.json")


def _slow_nodeids() -> frozenset[str]:
    try:
        with open(_SLOW_MANIFEST) as fh:
            return frozenset(json.load(fh)["slow"])
    except OSError:
        return frozenset()


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    slow = _slow_nodeids()
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1" or config.option.markexpr:
        return
    keep, drop = [], []
    for item in items:
        (drop if item.nodeid in slow else keep).append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()
