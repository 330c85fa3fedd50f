"""SparkSession construction and per-session engine configuration.

Two entry paths:

* ``get_spark()`` — build a tuned local session (tests / bench).
* ``ensure_engine_confs(spark)`` — apply the engine's *runtime*
  confs to an externally owned session (the verify driver hands us
  its own ``SparkSession``).  Only runtime-settable SQLConf keys go
  here; anything static must be on the builder.

Scale rationale (100 TB target, tested on local[32]):

* AQE on: runtime partition coalescing, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned shuffle counts.
* ``spark.sql.session.timeZone=UTC``: deterministic window/date
  semantics (reference pins UTC too:
  reference spark/apps/clickstream_aggregation.py:41).
* Arrow enabled for any pandas-UDF escape hatch.

Compiled-code reuse: Spark compiles each whole-stage-codegen plan
through Janino and keeps the class in a cache keyed by the generated
source, so a repeated plan shape reuses its class and a cached class
can never give a stale result.  The cache holds
``spark.sql.codegen.cache.maxEntries`` classes, 100 by default, while
one ``bench.py`` pass over its 143 queries at sf0.001 generates 3253
distinct classes: at the default every class is evicted before its
plan runs again, and each warm pass recompiles it (and the JIT then
recompiles the bytecode).  ``get_spark`` sizes the cache to
``_CODEGEN_CACHE_ENTRIES`` = 4096, those 3253 rounded up to the next
power of two.  The cost is Metaspace: about 222 MB at 3253 cached
classes against 197 MB at the default, so about 27 MB, with the
post-GC heap in the same range either way.  The cache lives in one
JVM only, so nothing persists across runs.  The conf is static, so it
cannot ride in ``RUNTIME_CONFS``: a session built elsewhere and
handed to ``ensure_engine_confs`` (the ``__spark_entry__`` contract,
``tools/parity.py --vanilla``) keeps Spark's default.

Call-site capture: by default PySpark records the Python ``file:line``
of every ``Column``/``DataFrame`` API call
(``spark.python.sql.dataFrameDebugging.enabled``), so that an error
can name the line that built the failing expression.  Each capture
costs about five py4j round trips plus a failed optional import, and
an engine query makes thousands of such calls while it builds its
plan: over three warm passes of perfbench's ``query_suite`` selection
at sf0.01 (4 cores) the capture made 26k of the 49k py4j
round trips.  ``get_spark`` turns the capture off.  Errors still
raise with Spark's error class and message; they lose only the
Python "DataFrame query context", which for an engine query points
into engine code anyway.  PySpark reads the flag once, at the first
API call of the process, so it is a builder conf like the codegen
cache: a session handed to ``ensure_engine_confs`` keeps its own
setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every engine query assumes.  Applied
#: idempotently at query time so driver-owned sessions behave the
#: same as our own.
RUNTIME_CONFS: dict[str, str] = {
    # Testdata parquet stores TIMESTAMP(NANOS); Spark's reader
    # rejects it unless nanos are surfaced as raw int64 (we convert
    # to TimestampType in the catalog).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic time semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: coalesce post-shuffle partitions, split
    # skewed partitions, convert to broadcast at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDF / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Offline-store incremental writes replace only the partitions
    # present in the written frame (sources/files.py, store.py).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


#: Size of Spark's generated-class cache: 3253 distinct classes per
#: ``bench.py`` pass at sf0.001, rounded up to the next power of two
#: (see the module doc for the derivation and the Metaspace cost).
_CODEGEN_CACHE_ENTRIES = 4096


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime engine confs to an existing session (idempotent)."""
    # Size shuffle partitions to cores: AQE coalesces batch shuffles
    # anyway, but Structured Streaming state partitioning is fixed at
    # query start and never coalesced — 200 tiny state partitions on a
    # 32-core local session is pure overhead.
    confs = dict(RUNTIME_CONFS)
    confs.setdefault(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32)),
    )
    for k, v in confs.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; query-level fallbacks apply.
            pass
    return spark


def get_spark(app_name: str = "ml_feature_store_enterprise_grade_spark", cpus: int | None = None) -> SparkSession:
    """Build the engine's own tuned local session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.  Shuffle
    partitions are sized to cores (not the 200 default) — on a real
    cluster this is instead delegated to AQE coalescing from an
    intentionally high initial count.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_engine_confs(spark)
