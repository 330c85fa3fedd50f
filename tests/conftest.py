"""Shared fixtures and the test tiers.

``pytest.ini`` sets ``-m "not slow"``, so the default tier skips every
test marked ``slow``.  The oracle-parity sweep marks its own cases
(``tests/test_oracle_parity.py``): the next driver window, the window
the newest CORRECTNESS round checked and the first query registered by
each operator module run by default; the rule reads the registry, so
nothing is edited when the window moves.  Every other
slow test carries ``@pytest.mark.slow`` in its source.  ``-m slow`` runs
only the slow tests and ``-m "slow or not slow"`` runs everything (a
later ``-m`` on the command line replaces the one in ``addopts``).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_feature_store_enterprise_grade_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


def count_jobs(spark, fn, *args, **kw):
    """Run ``fn`` under its own job group: (its result, the number of
    Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"count_jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kw)
    finally:
        sc._jsc.clearJobGroup()
    # The status tracker is fed by the listener bus: drain it first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
