"""The engine's session keeps every generated class a warm pass needs
and records no Python call site per API call.

``session.get_spark`` sizes Spark's generated-code cache to
``_CODEGEN_CACHE_ENTRIES``.  At Spark's default of 100 entries, five
registered queries that together generate about 220 classes evict each
other's classes, and the second pass over them recompiles about 210.
"""

from __future__ import annotations

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.catalog import clear_count_cache
from tests.conftest import SF_SMOKE

#: Five queries from different operator modules, about 220 classes.
NAMES = (
    "item_pagerank",
    "kmv_audience_overlap",
    "drift_ks_click_vs_view",
    "user_rolling_7d_features",
    "pit_asof_join",
)


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark) -> int:
    qs = registry.queries()
    before = _compiles(spark)
    for name in NAMES:
        qs[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_warm_pass_reuses_compiled_classes(spark):
    first = _run_all(spark)
    # A fresh memo: the second pass re-plans every query, as a new
    # day's run does, so only the class cache can spare it compiling.
    clear_count_cache()
    second = _run_all(spark)
    assert second <= 16, (first, second)


def test_session_skips_call_site_capture(spark):
    """``get_spark`` turns off PySpark's per-call call-site capture."""
    from pyspark.errors.utils import is_debugging_enabled

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    assert not is_debugging_enabled()
