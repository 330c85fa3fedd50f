"""Table catalog: typed loading of the engine's source tables.

The reference declares explicit schemas everywhere and never relies
on inference (reference spark/apps/clickstream_aggregation.py:48-66,
feast_repo/features.py:44-49).  The source tables come with no
schema file, and their physical timestamp encoding has changed between
generations, so the engine takes each file's schema from its parquet
footer — once: :func:`parquet_schema` infers it the first time it sees
a file (one Spark footer job) and serves it from the memo after that,
keyed by the file's identity (size and ``mtime_ns``; for a directory,
every file's), so a rewritten file gets a new key and never a stale
schema.  Every read then declares its schema (``read.schema(s)``),
and loading normalizes physical quirks (nanosecond parquet timestamps)
into clean engine types.  Tables the engine writes itself carry a
``_SCHEMA`` manifest instead (``sources/files.py``).

At 100 TB these reads are partitioned parquet scans; all queries
filter/prune on the columns they need so Catalyst pushes predicates
and projection into the scan (check with ``df.explain``:
``PushedFilters`` / ``ReadSchema``).

Reuse rules.  The engine reuses work in exactly two ways:

* **Inside one call**, a frame read by more than one plan branch is
  spooled with ``df.localCheckpoint()`` — eager, and nothing else.
  Nothing releases it by hand: Spark's ContextCleaner frees the
  blocks once the last frame reading them is dropped.  A ``.cache()``
  or ``.persist()`` is allowed only in a function that unpersists the
  same frame on every path (a cached plan stays pinned until
  ``clearCache()`` and is matched against any later plan over the
  same files, so a leaked one keeps serving data that was since
  rewritten).  Fault tolerance: checkpoint blocks are executor-local
  and unreplicated, so losing an executor after the spool fails the
  query instead of recomputing lineage; the engine accepts that trade
  (the query is re-run), and a frame too large for executor storage
  should not be spooled at all.
* **Across calls**, a ``(spark, sf_dir)`` factory whose result
  several queries share is decorated with :func:`memo`.  Every memo
  entry, every :func:`cached_count` and every :func:`parquet_schema`
  lives in one dict, and :func:`clear_count_cache` is the one
  invalidation call: a session that rewrites the data under a path
  calls it for that path.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_engine_confs

#: All driver-provided tables (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Columns that must surface as session-TZ TimestampType regardless of
#: physical parquet encoding (the testdata has shipped both int64
#: TIMESTAMP(NANOS) and timestamp[us]/NTZ forms across generations).
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def normalize_ts(df: DataFrame, cols) -> DataFrame:
    """Normalize timestamp columns to TimestampType, dispatching on the
    column's *actual* physical type:

    * ``bigint`` — int64 nanoseconds: integer-div to micros (a float
      div would lose precision above 2^53) then ``timestamp_micros``;
    * ``timestamp_ntz`` — wall-clock micros: cast (UTC session ⇒
      identical instant, keeps one timestamp type engine-wide);
    * ``timestamp`` — already the engine type, no-op.

    Any other physical type fails fast: testdata encodings have
    changed between generations before, and a silent pass-through
    (e.g. int64 *micro*seconds read as nanos, or a string column)
    would corrupt every downstream time semantic instead of erroring
    at the scan.
    """
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif dt != "timestamp":
            raise TypeError(
                f"normalize_ts: column {c!r} has unsupported physical type "
                f"{dt!r} (expected bigint nanos, timestamp_ntz, or timestamp); "
                "the testdata encoding changed — extend the dispatch here"
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table with normalized engine types."""
    # First: the inferred type of a nanosecond timestamp depends on
    # ``nanosAsLong``.
    ensure_engine_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_ts(df, _TS_COLS.get(name, ()))


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` for SMALL driver-side row lists (lookup
    grids, quantile lists, collected bounded frames) in ONE partition.

    ``spark.createDataFrame(list)`` parallelizes local data over
    ``defaultParallelism`` slices, and each slice's task launches its
    own Python worker for the pickled-row scan — measured on
    local[32]: 7.0 s to materialize a 40-row frame vs 0.36 s with one
    slice (r13 optimization round; the cost recurs on EVERY job that
    executes the frame, e.g. per micro-batch in foreachBatch state
    rewrites).  One slice is the right layout for any driver-bounded
    list — these frames feed broadcasts/crossJoins, never scans."""
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


#: Bytes of Catalyst size estimate per task in :func:`spread`'s cap.
_SPREAD_TASK_BYTES = 64 * 1024


def spread(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Repartition up to cluster parallelism when the input has fewer
    partitions.

    Spark sizes scan partitions by *bytes* (maxPartitionBytes), so a
    small-on-disk but CPU-expensive input (e.g. ``documents`` feeding
    2M md5-based MinHash signatures) can land in one task and run
    single-threaded.  Upscaling costs one shuffle of the small input;
    at 100 TB the scan already has ≥ parallelism partitions and this
    is a no-op (never downscales — no data movement on big inputs).

    r14 (VERDICT r13 item 2 — over-parallelization of tiny frames):
    the fan-out target is additionally capped by the Catalyst
    size estimate, one task per ``_SPREAD_TASK_BYTES`` (64 KB), so
    kB-sized frames stop fanning into ``defaultParallelism`` trivial
    tasks.  64 KB/task is sized for the engine's HEAVIEST per-byte
    consumers (shingle + k×md5 per shingle: a 64 KB corpus slice is
    real work), so CPU-light callers over-parallelize a little rather
    than CPU-heavy ones starving — and at any real scale the estimate
    exceeds width × quantum and the cap is inert (scan width governs;
    the rule is a pure function of input size, not a local[32]
    constant).  Explicit ``min_partitions`` bypasses the cap;
    ``bytes_per_task`` overrides the quantum for callers whose
    per-byte compute is far above the default's assumption
    (embedding frames: 64 packed doubles per row feeding d-length
    similarity folds — measured, the 64 KB default cut ann_ivf_topk's
    assignment to 13 tasks and cost 26%)."""
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if min_partitions is None:
        per = max(
            1024,
            _SPREAD_TASK_BYTES if bytes_per_task is None else bytes_per_task,
        )
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            n = max(1, min(n, -(-est // per)))
        except Exception:  # noqa: BLE001 — estimate unavailable: keep width
            pass
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


#: Every cross-call memo in the engine: :func:`memo` factory results,
#: :func:`cached_count` row counts and :func:`parquet_schema` footer
#: schemas, keyed by (factory, count tag or file identity, Spark
#: application id, absolute sf_dir).  A new SparkContext gets a new
#: application id and therefore fresh entries.
_MEMO: dict[tuple[object, str, str], object] = {}


def _memo_key(what: object, spark: SparkSession, sf_dir: str) -> tuple:
    return (what, spark.sparkContext.applicationId, os.path.abspath(sf_dir))


def memo(factory):
    """Memoize a ``factory(spark, sf_dir)`` across calls (module
    docstring, reuse rules).  The factory's result — typically
    localCheckpointed frames — stays pinned until
    :func:`clear_count_cache` drops it."""

    @functools.wraps(factory)
    def memoized(spark: SparkSession, sf_dir: str):
        key = _memo_key(factory, spark, sf_dir)
        if key not in _MEMO:
            _MEMO[key] = factory(spark, sf_dir)
        return _MEMO[key]

    return memoized


def clear_count_cache(sf_dir: str | None = None) -> None:
    """Drop every memo entry — memoized factory results, row counts
    and footer schemas — for one ``sf_dir``, or all of them.

    Call after rewriting data under a path: counts steer routing
    (exact vs IVF, broadcast vs shuffle) and memoized frames carry
    values, so either would otherwise describe the old files."""
    if sf_dir is None:
        _MEMO.clear()
        return
    target = os.path.abspath(sf_dir)
    for key in [k for k in _MEMO if k[2] == target]:
        del _MEMO[key]


def _file_identity(path: str) -> tuple:
    """(size, mtime_ns) of the file at ``path``; for a directory, the
    (relative name, size, mtime_ns) of every file under it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The footer schema of the parquet file or directory at ``path``,
    inferred once per file identity (module docstring) and memoized
    with the other memo entries under the directory that holds
    ``path``, so ``clear_count_cache`` of that directory drops it.
    Inference reads the session's parquet confs: apply
    ``ensure_engine_confs`` before the first call."""
    path = os.path.abspath(path)
    key = _memo_key(
        ("schema", path, _file_identity(path)), spark, os.path.dirname(path)
    )
    if key not in _MEMO:
        _MEMO[key] = spark.read.parquet(path).schema
    return _MEMO[key]


def cached_count(df: DataFrame, sf_dir: str, tag: str) -> int:
    """Count ``df`` once per (sf_dir, tag) and memoize it with the
    factory results.  The caller owns tag uniqueness: two different
    frames must not share a tag within one sf_dir."""
    key = _memo_key(("count", tag), df.sparkSession, sf_dir)
    if key not in _MEMO:
        _MEMO[key] = df.count()
    return _MEMO[key]


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register catalog tables as temp views for the SQL API."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
