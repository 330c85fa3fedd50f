"""Structured Streaming feature pipeline (SURVEY §7 M4).

Re-expresses the reference streaming job
(reference spark/apps/clickstream_aggregation.py: Kafka source →
parse → watermark 15 min → windowed agg → parquet sink, append mode,
checkpointed) on Spark Structured Streaming with a deterministic
test harness: the ``events`` parquet table replayed as a file stream
under ``Trigger.availableNow`` (ST1-ST8).

Semantics kept from the reference:

* event-time watermark 15 min (ST1, reference :29,129);
* append output mode — only finalized windows are emitted once the
  watermark passes window end (ST3, :215);
* ``approx_count_distinct`` replaces ``countDistinct`` — the
  reference job as written would throw AnalysisException in a
  streaming aggregation (SURVEY Appendix 1); HLL sketches are the
  supported streaming form.

Determinism: with availableNow the final watermark is
``max(event_time) − 15 min`` regardless of micro-batch boundaries,
so the emitted set is exactly the batch tumbling aggregate filtered
to ``window_end <= max(ts) − 15 min`` — which is the DuckDB oracle.

Prod path: swap the file source for
``spark.readStream.format("kafka")`` (S1) and the memory sink for a
date-partitioned parquet sink with a checkpoint (S2); the query
graph is unchanged.  At scale the state store holds one row per
(user, open window) — bounded by watermark eviction; use the RocksDB
state store provider for large key spaces.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..catalog import load_table, local_rows, normalize_ts, parquet_schema
from ..functions import PORTABLE_HASH64_SQL
from ..operators.sketches import _HLL_ALPHA, _HLL_IDX_BITS, _HLL_M, _HLL_RHO_BITS, _HLL_SEED
from ..snapshots import (
    commit_generation,
    gc_generations,
    generation_dir,
    read_generation,
    resolve_snapshot,
)
from ..registry import register
from ..session import ensure_engine_confs
from ..sources.files import read_table, write_table

WATERMARK = "15 minutes"


def _stream_source_dir(sf_dir: str) -> str:
    """The file stream source needs a *directory*; stage the events
    parquet file into a per-sf temp dir.

    Staleness-proof: the staged copy is refreshed whenever the source
    file's (size, mtime) differs — testdata is regenerated between
    driver rounds, and replaying a stale copy would silently diverge
    from the oracle's fresh read.  ``copy2`` preserves mtime so the
    comparison is stable across calls."""
    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"stream_src_{tag}")
    src = os.path.join(sf_dir, "events.parquet")
    dst = os.path.join(d, "events.parquet")
    s = os.stat(src)
    if (
        not os.path.exists(dst)
        or os.stat(dst).st_size != s.st_size
        or os.stat(dst).st_mtime_ns != s.st_mtime_ns
    ):
        os.makedirs(d, exist_ok=True)
        shutil.copy2(src, dst)
    return d


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table as a stream (the test
    stand-in for the Kafka source S1)."""
    ensure_engine_confs(spark)
    src = _stream_source_dir(sf_dir)
    # Explicit schema (never infer on a stream source), taken from the
    # footer of the file the staged copy was made from, so the replay
    # keeps the physical encoding of the testdata (int64-nanos ``ts``
    # in older generations, timestamp[us] in newer) and shares the
    # schema memo entry with ``load_table``.
    raw = (
        spark.readStream.schema(
            parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))
        )
        .format("parquet")
        .load(src)
    )
    return normalize_ts(raw, ["ts"])


def windowed_features(events: DataFrame) -> DataFrame:
    """The streaming aggregate: watermark + 1 h tumbling window per
    user with the reference's aggregate family (streaming-legal
    subset: no exact distinct)."""
    return (
        events.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click_count"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view_count"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
                2,
            ).alias("total_revenue"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("feature_timestamp"),
            "total_events",
            "click_count",
            "view_count",
            "total_revenue",
        )
    )


#: Source bytes per state-store instance in ``stream_state_confs``.
_STREAM_STATE_BYTES = 32 * 1024 * 1024
#: Default state-partition floor.  Light windowed monitors (the common
#: case here) are commit-bound, not compute-bound — measured at sf0.1
#: (warmed, min-of-2): quality 2.17→1.00 s, topk 2.37→1.18 s, dp
#: 2.00→1.11 s, cusum 2.79→1.68 s.  Sites whose PER-BATCH compute
#: scales with data (window explosion, per-key Python state) pass
#: ``floor=compute_floor(spark)`` — floor 1 measured
#: stream_sliding_features 4.3 s → 8.4 s, so the floor is a
#: per-operator property, not a global constant.
_STREAM_STATE_FLOOR = 1


def stream_state_confs(
    spark: SparkSession, sf_dir: str, floor: int | None = None
) -> dict[str, str]:
    """Scale-adaptive shuffle-partition count for a replayed file
    stream (optimization guide §2.2/§2.4 applied to streaming state):
    unlike batch shuffles, Structured Streaming state partitioning is
    FIXED at query start and never AQE-coalesced, and every
    micro-batch commits EVERY state-store instance — on this engine's
    replay twins the per-instance commit is the dominant fixed cost,
    not the data.  So size the count from the stream's staged input
    bytes — one state-store instance per ``_STREAM_STATE_BYTES`` of
    source — capped at the session's configured shuffle width (the
    cluster-scale setting stays in charge at real input sizes) and
    floored at ``floor`` (default ``_STREAM_STATE_FLOOR``; raise it for
    compute-bound stateful operators, e.g. stream-stream joins).  The
    rule is a pure function of input size: ~20 MB of sf0.1 events
    yields 1 instance; a TB-scale replay saturates the configured
    width."""
    # Size from the source table itself (the staged replay dir is a
    # verbatim copy of it) — statting the source avoids staging a
    # copy as a side effect on paths that replay from their own
    # staging dir (ADVICE r13).  A file, or a (nested, partitioned)
    # dataset directory; a missing source counts as 0 bytes, which
    # leaves the count at the floor.
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(src):
        size = os.path.getsize(src)
    else:
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(src)
            for f in files
        )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if floor is None:
        floor = _STREAM_STATE_FLOOR
    n = max(floor, min(cap, -(-size // _STREAM_STATE_BYTES)))
    return {"spark.sql.shuffle.partitions": str(n)}


def compute_floor(spark: SparkSession) -> int:
    """Width-relative state-partition floor for streams whose
    per-batch COMPUTE is data-proportional (window-exploding
    aggregates, ``applyInPandasWithState`` per-key Python work): a
    quarter of the session's compute width keeps the post-shuffle
    per-batch work parallel (streaming plans never AQE-coalesce)
    while still cutting idle state-store instances at small inputs.
    Scales with the session, never a local constant."""
    return max(1, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for a stream's lifetime, restoring the prior
    values on exit (streaming knobs like shuffle partitions bind at
    query start; the session's batch-side settings must not drift)."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_available_now(
    result: DataFrame,
    name: str,
    sf_dir: str | None = None,
    *,
    floor: int | None = None,
    sink=None,
) -> DataFrame | None:
    """Run a streaming frame to completion under availableNow in
    append mode — the package's only stream start.

    * ``sf_dir`` given: :func:`stream_state_confs` sizes the state
      partitioning (= state-store instances, fixed at query start)
      from the stream's input bytes with ``floor``, set for the run's
      lifetime only by :func:`scoped_confs`.  Other start-bound knobs
      (e.g. the state-store provider) go in a ``scoped_confs`` block
      around the call.
    * The checkpoint is a unique directory, removed in ``finally`` on
      success and failure alike.
    * ``sink=None``: memory sink; returns its rows as a batch frame.
      The sink's temp view is dropped before returning — the analysed
      frame references the sink's rows itself, so nothing stays
      registered in the session catalog.
    * ``sink=fn``: ``foreachBatch(fn)``; returns None (the sink owns
      its output)."""
    spark = result.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(tempfile.gettempdir(), f"ckpt_{qname}")
    confs = {} if sf_dir is None else stream_state_confs(spark, sf_dir, floor)
    writer = (
        result.writeStream.outputMode("append")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    writer = writer.format("memory") if sink is None else writer.foreachBatch(sink)
    try:
        with scoped_confs(spark, confs):
            writer.start().awaitTermination()
        return spark.table(qname) if sink is None else None
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(qname)


@register(
    "stream_hourly_features",
    oracle="""
    SELECT user_id,
           date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS feature_timestamp,
           COUNT(*) AS total_events,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click_count,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view_count,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
               AS total_revenue
    FROM events
    WHERE user_id IS NOT NULL
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events
              WHERE user_id IS NOT NULL)
    GROUP BY 1, 2, 3
    """,
)
def stream_hourly_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1-ST5 end-to-end: replay → watermark → windowed agg →
    append-mode sink, run to completion under availableNow.  The
    oracle is the batch aggregate restricted to watermark-finalized
    windows — stream/batch equivalence is the correctness claim."""
    result = windowed_features(streaming_events(spark, sf_dir))
    return run_available_now(result, "stream_hourly_features", sf_dir=sf_dir)


@register(
    "session_windows",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
        FROM (SELECT user_id, ts, value, event_id FROM events WHERE user_id IS NOT NULL)
    ),
    s AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sess
        FROM x
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM s
    GROUP BY user_id, sess
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) — the streaming-native
    ``F.session_window`` evaluated in batch mode; the oracle is the
    classic lag/gap-cumsum sessionization.  Session end = last event
    + gap (Spark's session_window.end convention)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
        FROM (SELECT user_id, ts, value, event_id FROM events WHERE user_id IS NOT NULL)
    ),
    s AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sess
        FROM x
    ),
    agg AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTES AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM s
        GROUP BY user_id, sess
    )
    SELECT * FROM agg
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events
                          WHERE user_id IS NOT NULL)
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: ``F.session_window`` with a watermark
    under availableNow — merging session state per (user, session),
    emitted in append mode once the watermark passes session end
    (last event + gap).  The oracle is the batch lag/gap-cumsum
    sessionization restricted to watermark-finalized sessions."""
    e = streaming_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    sessions = (
        e.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(sessions, "stream_session_windows", sf_dir=sf_dir)


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM (
        SELECT event_id, user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream deduplication by event_id within the watermark
    (``dropDuplicates`` + watermark in streaming; exact batch
    equivalent here).  The testdata has unique event_ids, so output =
    input — asserted against the ROW_NUMBER oracle."""
    events = streaming_events(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(deduped, "stream_dedup", sf_dir=sf_dir)


#: Drift-monitor binning: same decile/epsilon conventions as the
#: batch PSI operator (operators/drift.py).
_DRIFT_BINS = 10
_DRIFT_EPS = 1e-6

_DRIFT_BIN_SQL = (
    f"LEAST({_DRIFT_BINS - 1}, CAST(floor((value - lo) / NULLIF(hi - lo, 0)"
    f" * {_DRIFT_BINS}) AS INTEGER))"
)


@register(
    "stream_drift_monitor",
    oracle=f"""
    WITH v AS (
        SELECT ts, value FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM v),
    ref AS (
        SELECT {_DRIFT_BIN_SQL} AS bin, COUNT(*) AS n_ref
        FROM v, rng GROUP BY 1
    ),
    tr AS (SELECT SUM(n_ref) AS t_ref FROM ref),
    cur AS (
        SELECT date_trunc('hour', ts) AS window_start,
               {_DRIFT_BIN_SQL} AS bin,
               COUNT(*) AS n_cur
        FROM v, rng
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM v)
        GROUP BY 1, 2
    ),
    tc AS (SELECT window_start, SUM(n_cur) AS t_cur FROM cur GROUP BY 1),
    grid AS (
        SELECT w.window_start, r.bin, r.n_ref
        FROM (SELECT DISTINCT window_start FROM cur) w CROSS JOIN ref r
    ),
    p AS (
        SELECT g.window_start,
               GREATEST(CAST(g.n_ref AS DOUBLE) / tr.t_ref, {_DRIFT_EPS}) AS p_ref,
               GREATEST(CAST(COALESCE(c.n_cur, 0) AS DOUBLE) / tc.t_cur,
                        {_DRIFT_EPS}) AS p_cur
        FROM grid g
        LEFT JOIN cur c ON g.window_start = c.window_start AND g.bin = c.bin
        JOIN tc ON g.window_start = tc.window_start
        CROSS JOIN tr
    )
    SELECT window_start,
           ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
           SUM((p_cur - p_ref) * ln(p_cur / p_ref)) >= 0.2 AS shifted
    FROM p
    GROUP BY 1
    """,
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per finalized hourly window, the PSI
    of the window's ``value`` distribution against the static
    full-corpus baseline — the production pattern where a streaming
    job materializes per-window histogram counts and a monitor query
    scores them (drift on the *live* feed, not a nightly batch).

    Two halves, split exactly where production splits them: the
    STREAMING half bins values (bounds from a one-row batch aggregate,
    collected O(1) like the KS bounds in drift.py) and emits watermark-
    finalized per-(window, bin) counts — one streaming aggregate,
    append-legal; the BATCH half (over the sink) joins the tiny
    (windows × {_DRIFT_BINS}) grid against the broadcast baseline and
    folds the PSI sum.  State per open window is {_DRIFT_BINS} rows —
    bounded regardless of event volume."""
    ensure_engine_confs(spark)
    v = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    lo, hi = v.agg(F.min("value"), F.max("value")).first()
    span = F.nullif(F.lit(hi - lo), F.lit(0.0))

    def _bin(col: F.Column) -> F.Column:
        return F.least(
            F.lit(_DRIFT_BINS - 1),
            F.floor((col - F.lit(lo)) / span * _DRIFT_BINS).cast("int"),
        )

    ref = v.groupBy(_bin(F.col("value")).alias("bin")).agg(F.count("*").alias("n_ref"))
    stream = streaming_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    cur_stream = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), _bin(F.col("value")).alias("bin"))
        .agg(F.count("*").alias("n_cur"))
        .select(F.col("w.start").alias("window_start"), "bin", "n_cur")
    )
    cur = run_available_now(cur_stream, "stream_drift_monitor", sf_dir=sf_dir)
    # Rename the grid axes: both grid and the probe side derive from
    # the same sink frame, and identical attribute ids in a self-join
    # are unresolvable.
    wins = cur.select(F.col("window_start").alias("ws")).distinct()
    grid = wins.crossJoin(F.broadcast(ref.withColumnRenamed("bin", "gbin")))
    t_ref = float(ref.agg(F.sum("n_ref")).first()[0])
    wt = Window.partitionBy("window_start")
    j = grid.join(
        cur,
        (F.col("ws") == F.col("window_start")) & (F.col("gbin") == F.col("bin")),
        "left",
    ).select(
        F.col("ws").alias("window_start"),
        "n_ref",
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    p = j.select(
        "window_start",
        F.greatest(F.col("n_ref").cast("double") / F.lit(t_ref), F.lit(_DRIFT_EPS)).alias(
            "p_ref"
        ),
        F.greatest(
            F.col("n_cur").cast("double") / F.sum("n_cur").over(wt), F.lit(_DRIFT_EPS)
        ).alias("p_cur"),
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
    return p.groupBy("window_start").agg(
        F.round(F.sum(term), 6).alias("psi"),
        (F.sum(term) >= 0.2).alias("shifted"),
    )


#: Key-space partitions of the online snapshot.  A micro-batch
#: rewrites only the buckets containing its keys; production sizes
#: this so one bucket ≈ one healthy write task (e.g. 4096 at 100 TB).
_ONLINE_BUCKETS = 16


def online_upsert_sink(online_path: str, n_buckets: int = _ONLINE_BUCKETS):
    """``foreachBatch`` sink: merge each finalized micro-batch into a
    latest-per-key online snapshot, laid out as immutable ``v=N``
    generations of ``bucket=K`` hash partitions behind a ``_CURRENT``
    pointer file.

    Merge-on-write, not full rewrite: each batch Spark-writes only the
    buckets its keys hash into; every untouched bucket's files are
    carried into the new generation as hardlinks (same inode, zero
    bytes copied — asserted in tests/test_streaming_sink.py), so cost
    per batch is O(batch + touched-bucket rows + #files), never
    O(all entities).

    Reader atomicity AND crash safety come from the same mechanism:
    a generation directory is fully assembled before the pointer flips
    to it (atomic ``os.replace`` of the pointer file), readers resolve
    the pointer once via :func:`resolve_snapshot` and then read
    an immutable tree, and a crash at ANY point before the flip leaves
    the previous pointer — and its intact generation — in place.
    Partially-built generations (no pointer) and generations older
    than previous are garbage-collected at the next batch; the
    previous generation is retained one cycle so in-flight readers
    finish.  On an object store the pointer file becomes the manifest
    and hardlinks become metadata-only manifest entries — the standard
    table-format commit protocol, built from primitives."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.asof import latest_snapshot

        spark = batch_df.sparkSession
        os.makedirs(online_path, exist_ok=True)
        cur = read_generation(online_path)
        new_gen = (cur or 0) + 1
        gc_generations(online_path, cur)
        batch = batch_df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(n_buckets))
        )
        cur_dir = generation_dir(online_path, cur) if cur is not None else None
        # The emptiness/touched probe and the write both evaluate the
        # batch — cache it so the upstream micro-batch aggregation
        # runs once, not twice.
        batch.persist()
        if cur_dir is None:
            # First generation: no buckets to carry, so skip the
            # touched-bucket probe entirely — write whatever buckets
            # the batch populates.
            if batch.isEmpty():
                batch.unpersist()
                return
            touched, merged, n_parts = None, batch, n_buckets
        else:
            touched = sorted(r[0] for r in batch.select("bucket").distinct().collect())
            if not touched:
                batch.unpersist()
                return
            prev = read_table(spark, cur_dir).filter(F.col("bucket").isin(touched))
            merged = prev.unionByName(batch, allowMissingColumns=True)
            n_parts = len(touched)
        snap = latest_snapshot(merged, key="user_id", feature_ts="feature_timestamp")
        new_dir = generation_dir(online_path, new_gen)
        # One write task per bucket: without this, every shuffle
        # partition opens a file in every touched bucket dir —
        # tasks × buckets tiny files instead of one per bucket.
        write_table(snap.repartition(n_parts, "bucket"), new_dir, partition_by="bucket")
        batch.unpersist()
        # Carry untouched buckets forward as hardlinks.
        if cur_dir is not None:
            touched_set = set(touched)
            for d in os.listdir(cur_dir):
                if not d.startswith("bucket="):
                    continue
                if int(d.split("=", 1)[1]) in touched_set:
                    continue
                sdir, tdir = os.path.join(cur_dir, d), os.path.join(new_dir, d)
                os.makedirs(tdir, exist_ok=True)
                for fn in os.listdir(sdir):
                    if fn.startswith((".", "_")):
                        continue
                    src, dst = os.path.join(sdir, fn), os.path.join(tdir, fn)
                    try:
                        os.link(src, dst)
                    except OSError:  # cross-device fallback
                        shutil.copy2(src, dst)
        commit_generation(online_path, new_gen)

    return _upsert


@register(
    "stream_online_materialize",
    oracle="""
    WITH finalized AS (
        SELECT user_id,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS feature_timestamp,
               COUNT(*) AS total_events,
               COUNT(*) FILTER (WHERE event_type = 'click') AS click_count,
               COUNT(*) FILTER (WHERE event_type = 'view') AS view_count,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
                   AS total_revenue
        FROM events
        WHERE user_id IS NOT NULL
          AND date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events
                  WHERE user_id IS NOT NULL)
        GROUP BY 1, 2
    )
    SELECT user_id, feature_timestamp,
           total_events, click_count, view_count, total_revenue
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY feature_timestamp DESC
        ) AS rn FROM finalized
    ) WHERE rn = 1
    """,
)
def stream_online_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 as a LIVE loop: stream → windowed features → per-micro-batch
    upsert into the online snapshot via ``foreachBatch`` — the
    reference's daily Airflow materialization
    (airflow/dags/feature_store_materialization.py:214-239) collapsed
    into the streaming job itself, serving features minutes (not a
    day) stale.  Append mode hands ``foreachBatch`` only finalized
    windows, so the snapshot never serves a partially-aggregated
    window; the oracle is latest-per-user over the batch-finalized
    hourly aggregate.  Multi-batch upsert convergence is exercised in
    tests/test_streaming_sink.py."""
    result = windowed_features(streaming_events(spark, sf_dir)).drop("window_start")
    online = os.path.join(
        tempfile.gettempdir(), f"online_snap_{uuid.uuid4().hex[:8]}"
    )
    try:
        run_available_now(
            result, "stream_online_materialize", sf_dir, sink=online_upsert_sink(online)
        )
        snap_dir = resolve_snapshot(online)
        if snap_dir is None:
            # Nothing finalized (all events inside the watermark): an
            # empty frame with the output schema, not an opaque crash.
            return spark.createDataFrame([], result.drop("bucket").schema)
        # spool the snapshot so its directory goes with the call
        return read_table(spark, snap_dir).drop("bucket").localCheckpoint()
    finally:
        shutil.rmtree(online, ignore_errors=True)


#: Heavy-hitter rank depth per finalized window.
_TOPK = 3


@register(
    "stream_topk_heavy_hitters",
    oracle=f"""
    WITH cur AS (
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events)
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY window_start ORDER BY n DESC, event_type
        ) AS rnk FROM cur
    ) WHERE rnk <= {_TOPK}
    """,
)
def stream_topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: per finalized hourly window, the top-{_TOPK}
    event types by count — the live "what is trending" monitor.  Split
    where production splits it: the STREAMING half emits
    watermark-finalized per-(window, type) counts (bounded state: one
    row per open window × |event types|); the BATCH half ranks the
    tiny finalized frame.  Ranking inside the stream would need
    update-mode retraction; ranking over the append-mode sink is the
    idiomatic top-k-over-stream shape.

    Ties break on event_type so both engines pick identical rows."""
    stream = streaming_events(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    cur = run_available_now(counts, "stream_topk_heavy_hitters", sf_dir=sf_dir)
    wr = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        cur.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _TOPK)
    )


@register(
    "stream_sliding_features",
    oracle="""
    WITH e AS (
        SELECT user_id, value,
               time_bucket(INTERVAL '10 minutes', ts) AS slide_bucket
        FROM events
        WHERE user_id IS NOT NULL
    ),
    w AS (
        SELECT
            user_id,
            slide_bucket - (k * INTERVAL '10 minutes') AS window_start,
            slide_bucket - (k * INTERVAL '10 minutes') + INTERVAL '1 hour' AS window_end,
            COUNT(*) AS n_events,
            ROUND(SUM(value), 2) AS sum_value
        FROM e CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k)
        GROUP BY 1, 2, 3
    )
    SELECT * FROM w
    WHERE window_end <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events
                         WHERE user_id IS NOT NULL)
    """,
)
def stream_sliding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL streaming core — 1 h window with 10 min
    slide under a 15 min watermark (reference
    spark/apps/clickstream_aggregation.py:27-29,135-139) — run to
    completion under availableNow.  Each event feeds 6 open windows;
    state is bounded at 6 × |active users| rows and windows emit once
    finalized.  The oracle is the batch ×6 window expansion filtered
    to watermark-finalized windows — stream/batch equivalence for the
    sliding case, completing the tumbling (`stream_hourly_features`)
    and session (`stream_session_windows`) family."""
    stream = streaming_events(spark, sf_dir)
    agg = (
        stream.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.window("ts", "1 hour", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(
        agg,
        "stream_sliding_features",
        sf_dir,
        # sliding windows replicate every event into 6 open windows —
        # per-batch compute scales with data, so keep the aggregate
        # wide (see compute_floor; floor 1 measured 4.3 s → 8.4 s).
        floor=compute_floor(spark),
    )


@register(
    "late_arrival_audit",
    oracle=f"""
    WITH arr AS (
        SELECT user_id, ts, event_id,
               MAX(ts) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS seen_max
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS event_hour,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE seen_max - ts > INTERVAL 15 MINUTES) AS n_late,
           ROUND(CAST(COUNT(*) FILTER (WHERE seen_max - ts > INTERVAL 15 MINUTES) AS DOUBLE)
                 / COUNT(*), 6) AS late_rate,
           CAST(COALESCE(MAX(CASE WHEN seen_max > ts
               THEN date_diff('second', ts, seen_max) END), 0) AS BIGINT)
               AS max_lateness_s
    FROM arr
    GROUP BY 1
    """,
)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy audit: per event hour, how many events arrived
    later than the {WATERMARK} watermark would tolerate, and the worst
    observed lateness — the number that justifies (or indicts) the
    15-minute choice inherited from the reference (ST6,
    spark/apps/clickstream_aggregation.py:29).  Arrival order is the
    per-user ``event_id`` sequence; an event is late by the gap
    between its event time and the latest event time already seen on
    its key.

    Scale shape: one shuffle on user_id; the running max shares that
    partitioning (a per-user window, never a global sort), then a
    small re-aggregation by hour.  Run this before changing any
    watermark in production."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.select(
        "ts", F.max("ts").over(w).alias("seen_max")
    )
    late = F.col("seen_max") - F.col("ts") > F.expr("INTERVAL 15 MINUTES")
    lateness_s = F.when(
        F.col("seen_max") > F.col("ts"),
        F.unix_timestamp("seen_max") - F.unix_timestamp("ts"),
    )
    return arr.groupBy(F.date_trunc("hour", "ts").alias("event_hour")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
        F.round(
            F.sum(F.when(late, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("late_rate"),
        F.coalesce(F.max(lateness_s), F.lit(0)).cast("bigint").alias("max_lateness_s"),
    )


#: Expected event-type enum and value SLA for the streaming quality
#: monitor — 'error' events and values past the SLA ceiling count as
#: violations, so the report exercises the non-zero path (same policy
#: as quality_expectation_suite's in-range balance SLA).
_SQM_TYPES = ("click", "view", "purchase", "signup")
_SQM_VALUE_HI = 300.0


@register(
    "stream_quality_monitor",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE user_id IS NULL) AS n_null_user,
           COUNT(*) FILTER (WHERE event_type IS NULL
                            OR event_type NOT IN {_SQM_TYPES!r}) AS n_bad_type,
           COUNT(*) FILTER (WHERE value IS NULL OR isnan(value)
                            OR value < 0 OR value > {_SQM_VALUE_HI}) AS n_bad_value,
           (COUNT(*) FILTER (WHERE user_id IS NULL) = 0
            AND COUNT(*) FILTER (WHERE event_type IS NULL
                                 OR event_type NOT IN {_SQM_TYPES!r}) = 0
            AND COUNT(*) FILTER (WHERE value IS NULL OR isnan(value)
                                 OR value < 0 OR value > {_SQM_VALUE_HI}) = 0)
               AS success
    FROM events
    WHERE ts IS NOT NULL
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events
              WHERE ts IS NOT NULL)
    GROUP BY 1
    """,
)
def stream_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``quality_expectation_suite``: per finalized
    hourly window, violation counts for the live expectation set
    (user not-null, event-type enum, value SLA) — the
    quality-gate-on-the-feed pattern, catching a broken producer
    within one window instead of at the nightly batch.

    ONE streaming aggregate (conditional sums are append-legal under
    the watermark); state per open window is one row of counters, so
    memory is bounded by open windows, not event volume.  Oracle =
    the batch aggregate restricted to watermark-finalized windows —
    stream/batch equivalence, same claim as stream_hourly_features."""
    ensure_engine_confs(spark)
    ev = streaming_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    bad_type = F.col("event_type").isNull() | ~F.col("event_type").isin(*_SQM_TYPES)
    bad_value = (
        F.col("value").isNull()
        | F.isnan("value")
        | (F.col("value") < 0)
        | (F.col("value") > _SQM_VALUE_HI)
    )
    result = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_user"),
            F.sum(bad_type.cast("long")).alias("n_bad_type"),
            F.sum(bad_value.cast("long")).alias("n_bad_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "n_null_user",
            "n_bad_type",
            "n_bad_value",
            (
                (F.col("n_null_user") == 0)
                & (F.col("n_bad_type") == 0)
                & (F.col("n_bad_value") == 0)
            ).alias("success"),
        )
    )
    return run_available_now(result, "stream_quality_monitor", sf_dir=sf_dir)


@register(
    "stream_distinct_sketch",
    oracle=f"""
    WITH fin AS (
        SELECT MAX(ts) - INTERVAL 15 MINUTES AS wm
        FROM events WHERE user_id IS NOT NULL
    ),
    h AS (
        SELECT date_trunc('hour', ts) AS window_start,
               {PORTABLE_HASH64_SQL("user_id", _HLL_SEED)} AS h,
               user_id
        FROM events
        WHERE user_id IS NOT NULL
          AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT wm FROM fin)
    ),
    r AS (
        SELECT window_start, h % {_HLL_M} AS register,
               COALESCE(list_min(list_filter(
                   generate_series(1, {_HLL_RHO_BITS}),
                   j -> ((h >> ({_HLL_IDX_BITS - 1} + j)) & 1) = 1)),
                   {_HLL_RHO_BITS + 1}) AS rho
        FROM h
    ),
    m AS (
        SELECT window_start, register, MAX(rho) AS m_rho
        FROM r GROUP BY 1, 2
    ),
    est AS (
        SELECT window_start,
               COUNT(*) AS n_present,
               SUM(POWER(2.0, -m_rho)) + ({_HLL_M} - COUNT(*)) AS sum_pow
        FROM m GROUP BY 1
    ),
    ex AS (
        SELECT window_start, COUNT(DISTINCT user_id) AS exact_users
        FROM h GROUP BY 1
    ),
    sc AS (
        SELECT e.window_start, e.n_present,
               {_HLL_ALPHA} * {_HLL_M * _HLL_M} / e.sum_pow AS raw,
               {_HLL_M} - e.n_present AS zeros,
               x.exact_users
        FROM est e JOIN ex x ON e.window_start = x.window_start
    )
    SELECT window_start,
           CAST(n_present AS BIGINT) AS n_registers_hit,
           ROUND(CASE WHEN raw <= {2.5 * _HLL_M} AND zeros > 0
                      THEN {_HLL_M} * ln({_HLL_M}.0 / zeros) ELSE raw END, 6)
               AS approx_distinct_users,
           exact_users,
           ROUND(ABS(CASE WHEN raw <= {2.5 * _HLL_M} AND zeros > 0
                          THEN {_HLL_M} * ln({_HLL_M}.0 / zeros) ELSE raw END
                     - exact_users) / exact_users, 6) AS rel_err
    FROM sc
    """,
)
def stream_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user sketching — the supported form of the
    reference's (streaming-illegal) ``countDistinct`` intent (SURVEY
    A4), made ORACLE-CHECKABLE: the stream emits per-(finalized
    window, register) HLL max-rho rows — bounded state, ≤ 64 rows per
    window regardless of traffic — and a batch post-pass scores the
    sink into per-window estimates with the same portable-hash HLL as
    :func:`~..operators.sketches.hll_portable_distinct_rollup`, so
    both engines derive identical registers and the driver
    hash-verifies the streaming estimates exactly.  Exact distinct
    rides along as the audit column (computed on the batch side; the
    stream never holds per-user state).

    Same pattern as ``stream_drift_monitor``: streaming half emits
    bounded sketch rows under watermark finalization; batch half
    scores the sink."""
    from ..functions import portable_hash64

    e = (
        streaming_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .withWatermark("ts", WATERMARK)
    )
    r = e.select(
        F.window("ts", "1 hour").alias("w"),
        portable_hash64(F.col("user_id"), seed=_HLL_SEED).alias("h"),
    ).select(
        "w",
        (F.col("h") % _HLL_M).alias("register"),
        F.expr(
            f"coalesce(array_min(filter(sequence(1, {_HLL_RHO_BITS}), "
            f"j -> ((h >> ({_HLL_IDX_BITS - 1} + j)) & 1) = 1)), "
            f"{_HLL_RHO_BITS + 1})"
        ).alias("rho"),
    )
    sketch = r.groupBy("w", "register").agg(F.max("rho").alias("m_rho"))
    sink = run_available_now(
        sketch.select(F.col("w.start").alias("window_start"), "register", "m_rho"),
        "stream_distinct_sketch",
        sf_dir=sf_dir,
    )
    est = sink.groupBy("window_start").agg(
        F.count("*").alias("n_present"),
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m_rho")))
            + (F.lit(_HLL_M) - F.count("*"))
        ).alias("sum_pow"),
    )
    wm = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .agg((F.max("ts") - F.expr("INTERVAL 15 MINUTES")).alias("wm"))
    )
    ex = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .crossJoin(F.broadcast(wm))
        .filter(
            F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
            <= F.col("wm")
        )
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    raw = F.lit(_HLL_ALPHA) * (_HLL_M * _HLL_M) / F.col("sum_pow")
    zeros = F.lit(_HLL_M) - F.col("n_present")
    estimate = F.when(
        (raw <= 2.5 * _HLL_M) & (zeros > 0),
        F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return est.join(ex, "window_start").select(
        "window_start",
        F.col("n_present").alias("n_registers_hit"),
        F.round(estimate, 6).alias("approx_distinct_users"),
        "exact_users",
        F.round(F.abs(estimate - F.col("exact_users")) / F.col("exact_users"), 6)
        .alias("rel_err"),
    )


@register(
    "stream_event_type_share",
    oracle="""
    WITH w AS (
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        WHERE event_type IS NOT NULL
          AND date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM events
                  WHERE event_type IS NOT NULL)
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, sum_value,
           ROUND(CAST(n_events AS DOUBLE)
                 / SUM(n_events) OVER (PARTITION BY window_start), 6) AS share
    FROM w
    """,
)
def stream_event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming traffic-mix monitor: per finalized hourly window, the
    event count, value sum, and SHARE of the window's traffic each
    event type carries — the mix-shift signal an ingest monitor
    alarms on (a click/view ratio swinging 10 points in an hour means
    an SDK rollout broke instrumentation upstream).

    Two-stage shape, because a share needs the window TOTAL and
    streaming append mode cannot join two live aggregates of the same
    stream: the STREAM computes the additive per-(window, type)
    aggregate under the watermark — tiny bounded state, one row per
    (hour, type) — and the share is a batch window-function post-pass
    over the finalized sink rows (|types| ≈ 4 rows per hour, so the
    post-pass is trivially small; at 100 TB the stream stage does all
    the data-volume work map-side before its keyed shuffle).  The
    oracle is the equivalent batch aggregate restricted to
    watermark-finalized windows — stream ≡ batch is the correctness
    claim, per the module contract."""
    ev = streaming_events(spark, sf_dir).filter(F.col("event_type").isNotNull())
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink = run_available_now(agg, "stream_event_type_share", sf_dir=sf_dir)
    w_tot = Window.partitionBy("window_start")
    return sink.withColumn(
        "share",
        F.round(F.col("n_events").cast("double") / F.sum("n_events").over(w_tot), 6),
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events WHERE user_id IS NOT NULL
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the state-BOUNDED stream
    dedup (Spark 3.5+): where ``dropDuplicates`` holds every key seen
    forever (state grows with the stream — the operator stream_dedup
    uses, safe only because event_ids are unique), this variant
    guarantees dedup for duplicates arriving within the watermark
    delay of the first occurrence and EVICTS the key after, so state
    is bounded by traffic × delay at any stream length — the only
    form that survives an unbounded 100 TB/day stream on a repeating
    key space.

    Determinism: deduping a coarse key (user, event_type) keeps the
    FIRST-SEEN row, which within a micro-batch is partition-order —
    nondeterministic on non-key columns — so the query projects the
    KEY COLUMNS ONLY, making the output the exact key-set (oracle:
    SELECT DISTINCT).  The watermark-eviction semantics add no
    single-replay divergence: under availableNow all duplicates share
    the batch, inside every eviction horizon."""
    events = streaming_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    deduped = (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(deduped, "stream_dedup_within_watermark", sf_dir=sf_dir)


#: Quantiles tracked by the streaming histogram monitor (the
#: sketches-module defaults, cited not duplicated).
from ..operators.sketches import _HQ_BIN_W as _SQM_BIN_W  # noqa: E402
from ..operators.sketches import _HQ_QS as _SQM_QS  # noqa: E402


@register(
    "stream_histogram_quantile_monitor",
    oracle=f"""
    WITH v AS (
        SELECT ts, value FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    fin AS (
        SELECT date_trunc('hour', ts) AS window_start,
               CAST(FLOOR(value / {_SQM_BIN_W}) AS BIGINT) AS bin,
               COUNT(*) AS cnt
        FROM v
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM v)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT *, SUM(cnt) OVER (PARTITION BY window_start
                                 ORDER BY bin) AS cum
        FROM fin
    ),
    tot AS (SELECT window_start, SUM(cnt) AS n FROM fin GROUP BY 1),
    q AS (SELECT unnest([{", ".join(str(q) for q in _SQM_QS)}]) AS q),
    tgt AS (
        SELECT window_start, n, q,
               CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT) AS target
        FROM tot CROSS JOIN q
    ),
    hit AS (
        SELECT t.window_start, t.n, t.q,
               CAST(c.bin AS DOUBLE) * {_SQM_BIN_W}
                   + {_SQM_BIN_W}
                     * CAST(t.target - (c.cum - c.cnt) AS DOUBLE)
                     / CAST(c.cnt AS DOUBLE) AS est
        FROM tgt t JOIN cum c ON t.window_start = c.window_start
        WHERE c.cum >= t.target AND c.cum - c.cnt < t.target
    )
    SELECT window_start,
           CAST(MAX(n) AS BIGINT) AS n_events,
           {", ".join(
               f"ROUND(MAX(CASE WHEN q = {q} THEN est END), 6) "
               f"AS est_p{int(q * 100)}"
               for q in _SQM_QS
           )}
    FROM hit GROUP BY 1
    """,
)
def stream_histogram_quantile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latency/value-percentile monitor: per finalized
    hourly window, p50/p95/p99 of ``value`` estimated from a
    fixed-width histogram sketch — THE production pattern for
    percentiles over a stream (exact streaming percentiles need
    unbounded state; a histogram's per-window state is bounded by the
    bin count, merges losslessly, and its inverse-CDF estimate is
    deterministic — the streaming twin of
    [[histogram_quantile_rollup]]'s batch store, same bin width and
    interpolation via the shared sketches-module constants).

    Two halves, split where production splits them: the STREAMING
    half bins values map-side and emits watermark-finalized
    per-(window, bin) counts (one streaming aggregate, append-legal,
    ≤ ~100 state rows per open window regardless of event volume);
    the BATCH half over the sink runs the per-window inverse-CDF walk
    (cumulative window over bin rows, never a sort of events) with
    linear interpolation inside the hit bin.

    Determinism: bin ids and counts are exact integers; targets are
    ceil(q·n) on a fixed double product; the interpolation is one
    fixed IEEE chain of exact-integer operands, identical in both
    engines; ROUND-safe (all values non-negative)."""
    ensure_engine_confs(spark)
    stream = streaming_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    fin_stream = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.floor(F.col("value") / _SQM_BIN_W).cast("bigint").alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "bin", "cnt")
    )
    fin = run_available_now(fin_stream, "stream_histogram_quantile_monitor", sf_dir=sf_dir)
    wcum = Window.partitionBy("window_start").orderBy("bin")
    cum = fin.withColumn("cum", F.sum("cnt").over(wcum).cast("bigint"))
    tot = fin.groupBy("window_start").agg(F.sum("cnt").cast("bigint").alias("n"))
    qdf = local_rows(spark, [(q,) for q in _SQM_QS], "q double")
    tgt = tot.crossJoin(F.broadcast(qdf)).withColumn(
        "target", F.ceil(F.col("q") * F.col("n").cast("double")).cast("bigint")
    )
    est = (
        F.col("bin").cast("double") * F.lit(_SQM_BIN_W)
        + F.lit(_SQM_BIN_W)
        * (F.col("target") - (F.col("cum") - F.col("cnt"))).cast("double")
        / F.col("cnt").cast("double")
    )
    hit = (
        tgt.withColumnRenamed("window_start", "tws")
        .join(cum, F.col("tws") == F.col("window_start"))
        .filter(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum") - F.col("cnt") < F.col("target"))
        )
        .select(F.col("tws").alias("window_start"), "n", "q", est.alias("est"))
    )
    return hit.groupBy("window_start").agg(
        F.max("n").cast("bigint").alias("n_events"),
        *[
            F.round(F.max(F.when(F.col("q") == F.lit(q), F.col("est"))), 6).alias(
                f"est_p{int(q * 100)}"
            )
            for q in _SQM_QS
        ],
    )

#: DP release on the stream: the batch mechanism's constants, cited
#: not duplicated (same ε, truncation span, seed and threshold
#: ladder — the released noise for a given cell key is identical
#: whichever engine half computes it).
from ..operators.quality import _DPH_K as _SDP_K  # noqa: E402
from ..operators.quality import _DPH_SEED as _SDP_SEED  # noqa: E402
from ..operators.quality import _DPH_THRESH_E9 as _SDP_THRESH  # noqa: E402


@register(
    "stream_dp_histogram_release",
    oracle=f"""
    WITH v AS (SELECT ts, event_type FROM events),
    fin AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS true_n
        FROM v
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM v)
        GROUP BY 1, 2
    ),
    u AS (
        SELECT window_start, event_type, true_n,
               {PORTABLE_HASH64_SQL(
                   "strftime(window_start, '%Y-%m-%d %H:%M:%S')"
                   " || '|' || event_type",
                   _SDP_SEED,
               )} % 1000000000 AS u
        FROM fin
    ),
    n AS (
        SELECT window_start, event_type, true_n,
               -{_SDP_K} + len(list_filter(
                   [{", ".join(str(t) for t in _SDP_THRESH)}],
                   t -> u >= t)) AS noise
        FROM u
    )
    SELECT window_start, event_type, true_n,
           CAST(noise AS BIGINT) AS noise,
           CAST(true_n + noise AS BIGINT) AS released,
           CAST(GREATEST(true_n + noise, 0) AS BIGINT) AS released_nonneg
    FROM n
    """,
)
def stream_dp_histogram_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release ON THE STREAM — the streaming
    twin of [[dp_histogram_release]]: per watermark-FINALIZED hourly
    window and event type, the count plus the same discrete-Laplace
    hash-derived noise.  Releasing only finalized windows is what
    makes streaming DP sound: a window released twice (early + final)
    would double-spend its ε budget; append-mode watermark
    finalization releases each cell exactly once, and because the
    noise is a pure function of the cell KEY, the released value is
    identical to what the batch mechanism would publish for the same
    cell — replay-safe exactly-once semantics extend to the privacy
    budget.

    Determinism: the streaming half is one watermark-finalized
    count aggregate (bounded state: open windows × event types); the
    noise ladder is the batch mechanism's definition-time integer
    table over the portable hash of (window_start formatted
    second-resolution, event_type) — both engines format and count
    identically.

    Scale shape: one streaming aggregate (append-legal), then a
    map-side 90-literal fold per finalized cell — no joins, no
    windows, state bounded by open-window × type cardinality."""
    ensure_engine_confs(spark)
    stream = streaming_events(spark, sf_dir)
    fin_stream = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("true_n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "true_n")
    )
    fin = run_available_now(fin_stream, "stream_dp_histogram_release", sf_dir=sf_dir)
    from ..functions import portable_hash64

    u = (
        portable_hash64(
            F.concat_ws(
                "|",
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss"),
                F.col("event_type"),
            ),
            seed=_SDP_SEED,
        )
        % 1_000_000_000
    )
    thresh = F.array(*[F.lit(t) for t in _SDP_THRESH])
    noise = F.lit(-_SDP_K) + F.size(F.filter(thresh, lambda t: u >= t))
    released = F.col("true_n") + F.col("noise")
    return (
        fin.withColumn("noise", noise.cast("bigint"))
        .select(
            "window_start",
            "event_type",
            "true_n",
            "noise",
            released.cast("bigint").alias("released"),
            F.greatest(released, F.lit(0)).cast("bigint").alias(
                "released_nonneg"
            ),
        )
    )

#: Streaming conformal monitor: calibration-split hash seed (event
#: level), miscoverage α=0.1, and the per-window alarm floor (0.8 —
#: at the measured ~33 test rows per daily cell, binomial noise under
#: correct coverage trips it on ~4% of cells; the docstring states
#: that expected false-alarm rate).
_SCM_SEED = 9700
_SCM_CAL_END = 50
_SCM_ALPHA = 0.1
_SCM_FLOOR = 0.8


@register(
    "stream_conformal_coverage_monitor",
    oracle=f"""
    WITH e AS (
        SELECT event_id, event_type, ts,
               CAST(FLOOR(value * 100) AS BIGINT) AS vc,
               {PORTABLE_HASH64_SQL("CAST(event_id AS VARCHAR)", 9700)}
                   % 100 AS b
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    tr AS (
        SELECT event_type, SUM(vc) // COUNT(*) AS pred
        FROM e WHERE b < {_SCM_CAL_END} GROUP BY 1
    ),
    qh AS (
        SELECT event_type, r AS qhat FROM (
            SELECT e.event_type, ABS(e.vc - tr.pred) AS r,
                   ROW_NUMBER() OVER (PARTITION BY e.event_type
                                      ORDER BY ABS(e.vc - tr.pred)) AS rn,
                   COUNT(*) OVER (PARTITION BY e.event_type) AS n
            FROM e JOIN tr USING (event_type) WHERE b < {_SCM_CAL_END})
        WHERE rn = CAST(CEIL((n + 1) * {1 - _SCM_ALPHA}) AS BIGINT)
    )
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS window_start,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN ABS(e.vc - tr.pred) <= q.qhat
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(CASE WHEN ABS(e.vc - tr.pred) <= q.qhat
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS coverage,
           CAST(SUM(CASE WHEN ABS(e.vc - tr.pred) <= q.qhat
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               < {_SCM_FLOOR} AS low_coverage
    FROM e JOIN tr USING (event_type) JOIN qh q USING (event_type)
    WHERE b >= {_SCM_CAL_END}
      AND date_trunc('day', e.ts) + INTERVAL 1 DAY
          <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM e)
    GROUP BY 1, 2
    """,
)
def stream_conformal_coverage_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online conformal-coverage drift monitor — the streaming serving
    half of [[order_value_conformal_interval]]'s machinery: the
    OFFLINE half fits a per-type point model and a conformal interval
    half-width q̂ on the hash-calibration split; the STREAM scores
    every non-calibration event against its interval inside
    watermark-finalized daily windows and publishes realized coverage
    plus a low-coverage alarm.  Under no drift, coverage per cell is
    Binomial(n, 0.9) — a sustained run of alarms means the value
    distribution moved and the intervals (and the model behind them)
    need refitting; this is the conformal analogue of
    [[stream_drift_monitor]]'s PSI gate.  Measured signal (r11,
    sf0.01): 150 daily cells, mean coverage 0.909, range 0.655–1.0,
    5 cells under the 0.8 floor — exactly the ~4% binomial
    false-alarm rate the floor implies at n≈33, i.e. the monitor is
    calibrated on this corpus.

    Determinism: integer-cents residuals; q̂ is the exact
    ceil((n+1)(1−α)) calibration order statistic (via
    :func:`functions.ranking.ranked`, group-keyed chunks); stream
    counts are exact; one IEEE divide per emitted cell.

    Scale shape: the model+interval frame is |types| rows broadcast
    into a stream-static join BEFORE the windowed aggregate, so
    per-event work is map-side; streaming state is bounded by open
    windows × types."""
    ensure_engine_confs(spark)
    from ..functions import portable_hash64
    from ..functions.ranking import ranked_select as _ranked_select

    batch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
            (
                portable_hash64(
                    F.col("event_id").cast("string"), seed=_SCM_SEED
                )
                % 100
            ).alias("b"),
        )
    )
    cal = batch.filter(F.col("b") < _SCM_CAL_END)
    s, n = F.col("s"), F.col("n_cal")
    tr = (
        cal.groupBy("event_type")
        .agg(F.sum("vc").alias("s"), F.count("*").alias("n_cal"))
        .select(
            # pmod-based floor division: matches the oracle's `//`
            # (which FLOORS) even for negative sums — Spark `%`
            # truncates toward zero and would diverge by 1 there.
            "event_type",
            ((s - F.pmod(s, n)) / n).cast("bigint").alias("pred"),
        )
        # r13 optimization: the |types|-row model feeds the residual
        # frame AND the broadcast model join — spool once instead of
        # re-scanning+hashing the calibration split per branch.
        .localCheckpoint()
    )
    res = cal.join(F.broadcast(tr), "event_type").select(
        "event_type", F.abs(F.col("vc") - F.col("pred")).alias("r")
    )
    # r14: only ONE order statistic per type is consumed — sort just
    # the chunk containing it per group (bit-identical row to
    # ranked()+filter; see ranking.ranked_select).
    qh = _ranked_select(
        res,
        [("r", "asc")],
        lambda n: F.array(
            F.ceil((n + 1) * (1 - _SCM_ALPHA)).cast("bigint")
        ),
        group_cols=["event_type"],
        n_col="nc",
    ).select("event_type", F.col("r").alias("qhat"))
    model = F.broadcast(tr.join(qh, "event_type"))
    stream = streaming_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    scored = (
        stream.select(
            "ts",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
            (
                portable_hash64(
                    F.col("event_id").cast("string"), seed=_SCM_SEED
                )
                % 100
            ).alias("b"),
        )
        .filter(F.col("b") >= _SCM_CAL_END)
        .join(model, "event_type")
    )
    fin_stream = (
        scored.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_scored"),
            F.sum(
                F.when(
                    F.abs(F.col("vc") - F.col("pred")) <= F.col("qhat"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_scored",
            "n_covered",
        )
    )
    fin = run_available_now(fin_stream, "stream_conformal_coverage_monitor", sf_dir=sf_dir)
    cov = F.col("n_covered").cast("double") / F.col("n_scored")
    return fin.select(
        "window_start",
        "event_type",
        "n_scored",
        "n_covered",
        F.round(cov, 6).alias("coverage"),
        (cov < _SCM_FLOOR).alias("low_coverage"),
    )


#: CUSUM monitor constants: burn-in window count for the baseline
#: (one week of hours), the allowance in σ-halves and the alarm
#: threshold in σ units (Page 1954's standard (k, h) = (σ/2, 5σ)).
_CUS_BURN = 168


@register(
    "stream_cusum_drift_monitor",
    oracle=f"""
    WITH v AS (
        SELECT ts, value FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    fin AS (
        SELECT date_trunc('hour', ts) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS sc
        FROM v
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM v)
        GROUP BY 1
    ),
    idx AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY window_start) AS t,
               sc // n AS mq
        FROM fin
    ),
    burn AS (
        SELECT COUNT(*) AS bn, SUM(mq) AS smq,
               SUM(mq * mq) AS smq2
        FROM idx WHERE t <= {_CUS_BURN}
    ),
    base AS (
        SELECT bn, smq // bn AS mu0q,
               CAST(FLOOR(sqrt(CAST(bn * smq2 - smq * smq AS DOUBLE))
                          / (2.0 * bn)) AS BIGINT) AS kq,
               CAST(FLOOR(5.0 * sqrt(CAST(bn * smq2 - smq * smq AS DOUBLE))
                          / bn) AS BIGINT) AS hq
        FROM burn
    ),
    pp AS (
        SELECT i.t, i.window_start, i.n, i.mq, b.hq,
               SUM(i.mq - b.mu0q - b.kq) OVER (ORDER BY i.t
                   ROWS UNBOUNDED PRECEDING) AS p_pos,
               SUM(i.mq - b.mu0q + b.kq) OVER (ORDER BY i.t
                   ROWS UNBOUNDED PRECEDING) AS p_neg
        FROM idx i CROSS JOIN base b
    ),
    cus AS (
        SELECT t, window_start, n, mq, hq,
               p_pos - LEAST(0, MIN(p_pos) OVER (ORDER BY t
                   ROWS UNBOUNDED PRECEDING)) AS s_pos,
               GREATEST(0, MAX(p_neg) OVER (ORDER BY t
                   ROWS UNBOUNDED PRECEDING)) - p_neg AS s_neg
        FROM pp
    )
    SELECT window_start, n AS n_events,
           mq / 100.0 AS mean_value,
           CAST(s_pos AS BIGINT) AS cusum_pos,
           CAST(s_neg AS BIGINT) AS cusum_neg,
           CAST(hq AS BIGINT) AS threshold,
           s_pos > hq OR s_neg > hq AS alarm
    FROM cus
    """,
)
def stream_cusum_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM mean-shift monitor (Page 1954) over hourly
    event-value means: per watermark-FINALIZED hour, the two-sided
    cumulative-sum statistics S⁺/S⁻ with the standard (k, h) =
    (σ₀/2, 5σ₀) design, baselined on the first {_CUS_BURN}-hour
    burn-in — the sequential change detector that fires on a
    SUSTAINED small shift long before any single-window threshold
    does (the fixed-window twins [[stream_drift_monitor]] /
    [[stream_histogram_quantile_monitor]] test each window in
    isolation; CUSUM accumulates evidence across windows).  Measured
    signal (r12, sf0.01): 719 finalized stationary hours produce max
    S⁺ = 9,087 vs h = 6,414 — one 10-window excursion, i.e. the
    false-alarm cost of the textbook 5σ threshold on noisy
    ~83-event hourly means, reported honestly rather than tuned
    away.

    Determinism: the recursion is replaced by its exact closed form
    S⁺_t = P_t − min_{{j≤t}} P_j over integer prefix sums (hourly
    means floor-divide to exact cents via ``//`` ≡ Spark's
    pmod-based form — both FLOOR, the ADVICE r11 discipline); σ₀
    comes from one IEEE sqrt of an exact integer moment (bn·Σm² −
    (Σm)²), floored into integer (k, h) BEFORE any comparison, so
    every alarm verdict compares exact integers.

    Scale shape: the STREAMING half is one append-legal watermark
    aggregate (bounded state: open windows × 2 sums); the batch half
    runs entirely on the CALENDAR-bounded hour frame (~719 rows per
    month of history — windows over it are the bounded-frame class
    the plan audit allows at any event volume)."""
    ensure_engine_confs(spark)
    stream = streaming_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    fin_stream = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("sc"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sc")
    )
    fin = run_available_now(fin_stream, "stream_cusum_drift_monitor", sf_dir=sf_dir)
    idx = fin.select(
        "*",
        F.row_number().over(Window.orderBy("window_start")).alias("t"),
        ((F.col("sc") - F.pmod(F.col("sc"), F.col("n"))) / F.col("n"))
        .cast("bigint")
        .alias("mq"),
    )
    burn = idx.filter(F.col("t") <= _CUS_BURN).agg(
        F.count("*").alias("bn"),
        F.sum("mq").alias("smq"),
        F.sum(F.col("mq") * F.col("mq")).alias("smq2"),
    )
    s2num = (F.col("bn") * F.col("smq2") - F.col("smq") * F.col("smq")).cast(
        "double"
    )
    base = burn.select(
        (
            (F.col("smq") - F.pmod(F.col("smq"), F.col("bn"))) / F.col("bn")
        )
        .cast("bigint")
        .alias("mu0q"),
        F.floor(F.sqrt(s2num) / (2.0 * F.col("bn"))).cast("bigint").alias(
            "kq"
        ),
        F.floor(5.0 * F.sqrt(s2num) / F.col("bn")).cast("bigint").alias("hq"),
    )
    w_run = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pp = idx.crossJoin(F.broadcast(base)).select(
        "t",
        "window_start",
        "n",
        "mq",
        "hq",
        F.sum(F.col("mq") - F.col("mu0q") - F.col("kq")).over(w_run).alias(
            "p_pos"
        ),
        F.sum(F.col("mq") - F.col("mu0q") + F.col("kq")).over(w_run).alias(
            "p_neg"
        ),
    )
    s_pos = F.col("p_pos") - F.least(
        F.lit(0).cast("bigint"), F.min("p_pos").over(w_run)
    )
    s_neg = (
        F.greatest(F.lit(0).cast("bigint"), F.max("p_neg").over(w_run))
        - F.col("p_neg")
    )
    cus = pp.select(
        "window_start",
        F.col("n").alias("n_events"),
        (F.col("mq") / 100.0).alias("mean_value"),
        s_pos.cast("bigint").alias("cusum_pos"),
        s_neg.cast("bigint").alias("cusum_neg"),
        F.col("hq").cast("bigint").alias("threshold"),
        ((s_pos > F.col("hq")) | (s_neg > F.col("hq"))).alias("alarm"),
    )
    return cus


#: Streaming bottom-k consistent sample: per-event-type sample size
#: and its own hash seed (independent of the batch documents sampler).
_SBK_K = 8
_SBK_SEED = 47
_SBK_SOURCE_FILES = 8
#: The standing bottom-k table's file schema.
_SBK_STATE_SCHEMA = "event_type string, event_id bigint, h bigint"


def _nulls_first(*vals) -> tuple:
    """Sort key over ``vals`` in Spark's ascending NULLS FIRST order."""
    return tuple(x for v in vals for x in (v is not None, 0 if v is None else v))


def _bottomk_merge_processor(state_path: str, k: int):
    """``foreachBatch`` body: fold a micro-batch into the standing
    per-type bottom-k table.  The merge is a set-union followed by
    re-electing the k smallest hashes — ORDER- AND PARTITION-
    INDEPENDENT and idempotent under micro-batch re-delivery
    (re-processing a batch unions rows already present), which is
    the whole exactly-once story: no generation pointers needed
    because the state is a deterministic function of the SET of rows
    seen.  The standing table is <= k x |event types| rows, so the
    rewrite collects a bounded loop-control frame to the driver
    (the CC-convergence collect discipline), never data."""

    # r14 optimization: the standing table is a BOUNDED
    # <= k x |event types| set, so the union + re-election runs
    # driver-side over exact integer tuples instead of paying a
    # state-parquet READ job plus a second window job per micro-batch
    # (the CC-convergence bounded-loop-control discipline).  The
    # parquet state file is still rewritten after every batch — the
    # on-disk artifact a restarted query resumes from is unchanged,
    # and ``standing["rows"] is None`` re-loads it on the first batch
    # after a restart, so the exactly-once story is intact.  The
    # Python merge (set union, per-type sort by (h, event_id), take
    # k) is the same election the window computed, over the same
    # exact integers.
    standing: dict = {"rows": None}

    def process(batch: DataFrame, batch_id: int) -> None:
        from ..functions import portable_hash64

        spark = batch.sparkSession
        cand = batch.filter(F.col("event_id").isNotNull()).select(
            "event_type",
            "event_id",
            portable_hash64(
                F.col("event_id").cast("string"), seed=_SBK_SEED
            ).alias("h"),
        )
        w = Window.partitionBy("event_type").orderBy("h", "event_id")
        topb = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
        if standing["rows"] is None:
            if os.path.exists(state_path):
                standing["rows"] = {
                    (r.event_type, r.event_id, r.h)
                    for r in spark.read.schema(_SBK_STATE_SCHEMA)
                    .parquet(state_path)
                    .collect()
                }
            else:
                standing["rows"] = set()
        # bounded: <= k * |event types in the batch|
        merged = standing["rows"] | {
            (r.event_type, r.event_id, r.h) for r in topb.collect()
        }
        by_type: dict = {}
        for et, eid, h in merged:
            by_type.setdefault(et, []).append((h, eid))
        keep = {
            (et, eid, h)
            for et, hs in by_type.items()
            for h, eid in sorted(hs, key=lambda p: _nulls_first(*p))[:k]
        }
        standing["rows"] = keep
        # Deterministic file contents (row order is cosmetic — the
        # final read re-sorts by (event_type, rank)).
        ordered = sorted(keep, key=lambda t: _nulls_first(t[0], t[2], t[1]))
        (
            local_rows(spark, ordered, _SBK_STATE_SCHEMA)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(state_path)
        )

    return process


@register(
    "stream_bottomk_sample",
    oracle=f"""
    SELECT event_type, CAST(rn AS INTEGER) AS rank, event_id, h
    FROM (
        SELECT event_type, event_id, h,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY h, event_id) AS rn
        FROM (
            SELECT event_type, event_id,
                   {PORTABLE_HASH64_SQL("CAST(event_id AS VARCHAR)", _SBK_SEED)}
                       AS h
            FROM events WHERE event_id IS NOT NULL
        )
    )
    WHERE rn <= {_SBK_K}
    ORDER BY event_type, rank
    """,
)
def stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming consistent sampling: maintain the exact per-event-
    type bottom-{k} sample (k smallest portable hashes) INCREMENTALLY
    over a replayed event stream ({n} micro-batches via
    maxFilesPerTrigger), and return the standing sample table — which
    must equal the batch bottom-k over the full table BIT-FOR-BIT,
    because bottom-k is a mergeable sketch: union-then-re-elect is
    associative, commutative, and idempotent.  The streaming twin of
    [[consistent_sample_bottomk]] and the rare streaming operator
    with an EXACT batch oracle (most get the weaker watermark-
    restricted form): the sample a monitoring pipeline keeps warm
    over an infinite stream for eyeball checks and downstream joins.

    Determinism: the sample is a pure function of the SET of event
    ids seen (portable hash order, id tie-break) — file split,
    micro-batch boundaries, re-delivery, and engine all cannot
    change it; the oracle is the plain batch window over the same
    hash.

    Scale shape: each micro-batch does one per-type top-k
    (WindowGroupLimit heaps over the batch) and a merge against a
    <= k x |types| standing table; state is constant-size forever —
    the 100 TB/infinite-stream story is the same O(batch) + O(k)
    per trigger, with the standing table the only thing ever
    rewritten."""
    ensure_engine_confs(spark)
    run_id = uuid.uuid4().hex[:8]
    state = os.path.join(tempfile.gettempdir(), f"sbk_state_{run_id}")
    # Per-run staged N-file replay source.  The projection+reshard is
    # query work, so it runs INSIDE every invocation (a file stream
    # source physically needs a directory of files to trigger N
    # micro-batches); only a verbatim byte copy of the input would be
    # eligible for cross-run staging, and a verbatim copy cannot
    # carry the N-file split.  Torn down with the run.
    src = os.path.join(tempfile.gettempdir(), f"sbk_src_{run_id}")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    events.repartition(_SBK_SOURCE_FILES).write.mode("overwrite").parquet(src)
    try:
        stream = (
            spark.readStream.schema("event_id bigint, event_type string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        run_available_now(
            stream,
            "stream_bottomk_sample",
            sf_dir,
            sink=_bottomk_merge_processor(state, _SBK_K),
        )
        final = spark.read.schema(_SBK_STATE_SCHEMA).parquet(state)
        w = Window.partitionBy("event_type").orderBy("h", "event_id")
        out = (
            final.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("event_type", "rank", "event_id", "h")
            .orderBy("event_type", "rank")
        )
        # materialize before the temp state dir is torn down
        rows = out.collect()  # bounded: <= k * |event types|
        return local_rows(spark, rows, out.schema)
    finally:
        for d in (src, state):
            shutil.rmtree(d, ignore_errors=True)
