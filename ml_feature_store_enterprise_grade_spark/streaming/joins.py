"""Streaming joins + custom stateful operators (SURVEY §2.8 extras).

The reference denormalizes profile attributes into events on the
producer side (reference scripts/stream_generator.py:86-97,201-202);
the idiomatic Spark replacement is a stream-static broadcast join
(J3).  Stream-stream joins and arbitrary stateful processing are the
two Structured Streaming capabilities SURVEY §2.8 lists as engine
additions beyond the reference.

Determinism for oracle checks: under ``Trigger.availableNow`` over a
single staged parquet file the replay is one micro-batch, and each
query is formulated so its *final* output is batch-equivalent even if
the source were split into multiple batches (see per-query notes).

Scale notes:

* stream-static join: the static dim is re-broadcast per micro-batch
  — no stream state at all; at 100 TB of stream the cost stays one
  broadcast hash probe per event.
* stream-stream interval join: state holds only rows inside the
  watermark + interval bound on both sides — sized by traffic in the
  join window, not history.
* ``applyInPandasWithState``: per-key state is a handful of counters;
  Arrow-batched transfer amortizes the Python hop (the designated
  escape hatch, SURVEY §2.9).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import load_table
from ..functions.scalar import MONEY, money
from ..registry import register
from ..sources.files import read_table, write_table
from .clickstream import (
    WATERMARK,
    compute_floor,
    run_available_now,
    scoped_confs,
    streaming_events,
)


@register(
    "stream_static_enrichment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.user_id IS NOT NULL
    GROUP BY 1
    """,
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 as a stream-static broadcast LEFT join: each micro-batch of
    events probes the broadcast customer dim; the enriched stream then
    aggregates per segment.  Stateless join ⇒ the complete-on-EOF
    output equals the batch LEFT join, which is the oracle.

    The aggregation itself would need a watermark in append mode, so
    the streaming part here is the *join* (stateless, append-legal);
    the segment rollup runs batch-side on the joined result."""
    e = streaming_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = e.join(F.broadcast(c), e.user_id == c.c_custkey, "left").select(
        F.col("c_mktsegment").alias("segment"), "value"
    )
    out = run_available_now(enriched, "stream_static_enrichment", sf_dir=sf_dir)
    return out.groupBy("segment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2).cast("double").alias("sum_value"),
    )


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           ROUND(SUM(p.value), 2) AS joined_purchase_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTES
    GROUP BY 1
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound:
    purchases within 30 min after a click by the same user.  Both
    sides are watermarked so join state evicts rows older than
    watermark + interval.  Inner join emits exactly the matched pairs
    regardless of micro-batch slicing ⇒ batch self-join oracle.
    The per-user rollup runs batch-side on the emitted pairs."""
    clicks = (
        streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("user_id", "value")
    out = run_available_now(pairs, "stream_stream_interval_join", sf_dir=sf_dir)
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("value"), 2).alias("joined_purchase_value"),
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_RUNNING_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _running_totals(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user cumulative counters: the custom-stateful-operator
    escape hatch (Arrow-batched, one state row per key).  Emits the
    running snapshot each micro-batch; snapshots are monotone in
    total_events so the final one is recoverable batch-side."""
    (n, v) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        v += float(pdf["value"].fillna(0.0).sum())
    state.update((n, v))
    yield pd.DataFrame({"user_id": [key[0]], "total_events": [n], "total_value": [v]})


@register(
    "stream_stateful_running_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS total_events,
           ROUND(SUM(COALESCE(value, 0.0)), 2) AS total_value
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1
    """,
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: per-user running totals with explicit
    GroupState.  Each micro-batch emits the cumulative snapshot; the
    query then keeps the last snapshot per user (``max_by`` on the
    monotone event count), which equals the batch GROUP BY oracle
    however the input is micro-batched."""
    e = streaming_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    snapshots = e.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=_RUNNING_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(
        snapshots,
        "stream_stateful_running_totals",
        sf_dir,
        # per-key Python state processing: per-batch compute scales
        # with data, keep the stateful shuffle wide (compute_floor).
        floor=compute_floor(spark),
    )
    final = out.groupBy("user_id").agg(
        F.max("total_events").alias("total_events"),
        F.max_by("total_value", "total_events").alias("total_value"),
    )
    return final.select(
        "user_id", "total_events", F.round("total_value", 2).alias("total_value")
    )


class _PurchaseStatsProcessor:
    """``transformWithStateInPandas`` processor (the Spark 4 stateful
    API succeeding ``applyInPandasWithState``): per-user purchase
    count / max value held in a typed ValueState, running snapshot
    emitted each micro-batch.  Defined lazily as a plain class and
    upgraded at query-build time (subclassing StatefulProcessor at
    import would hard-bind this module to Spark 4)."""

    def init(self, handle) -> None:
        self._st = handle.getValueState(
            "agg", "n_purchases bigint, max_value double"
        )

    def handleInputRows(self, key, rows, timer_values):
        if self._st.exists():
            n, mx = self._st.get()
        else:
            n, mx = 0, float("-inf")
        for pdf in rows:
            vals = pdf["value"].dropna()
            n += len(pdf)
            if len(vals):
                mx = max(mx, float(vals.max()))
        self._st.update((n, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_purchases": [n],
                "max_value": [mx if mx != float("-inf") else None],
            }
        )

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):
        return iter(())

    def handleInitialState(self, key, initial_state, timer_values) -> None:
        pass

    def close(self) -> None:
        pass


def has_transform_with_state() -> bool:
    """``transformWithStateInPandas`` needs protobuf (its state
    protocol is proto-serialized).  ``stream_tws_purchase_stats`` is
    therefore not registered, so the driver surface is the same in
    every interpreter; tests check it against ``_TWS_ORACLE`` where
    the dependency exists."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_ORACLE = """
    SELECT user_id,
           COUNT(*) AS n_purchases,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    WHERE user_id IS NOT NULL AND event_type = 'purchase'
    GROUP BY 1
    """


def stream_tws_purchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming via the NEW Spark 4
    ``transformWithStateInPandas`` API (typed ValueState handles,
    timer support, TTL — the successor to ``applyInPandasWithState``,
    which ``stream_stateful_running_totals`` still exercises): per
    user, running purchase count and max purchase value.  Snapshots
    are monotone in the count, so keeping the last snapshot per user
    (``max_by``) equals the batch GROUP BY oracle under ANY
    micro-batching — the same stream≡batch correctness contract as
    the rest of the streaming family."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc_cls = type(
        "PurchaseStatsProcessor", (_PurchaseStatsProcessor, StatefulProcessor), {}
    )
    e = streaming_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & (F.col("event_type") == "purchase")
    )
    snapshots = e.groupBy("user_id").transformWithStateInPandas(
        proc_cls(),
        outputStructType="user_id bigint, n_purchases bigint, max_value double",
        outputMode="append",
        timeMode="none",
    )
    out = run_available_now(
        snapshots,
        "stream_tws_purchase_stats",
        sf_dir,
        # per-key Python state processing: per-batch compute scales
        # with data, keep the stateful shuffle wide (compute_floor).
        floor=compute_floor(spark),
    )
    final = out.groupBy("user_id").agg(
        F.max("n_purchases").alias("n_purchases"),
        F.max_by("max_value", "n_purchases").alias("mv"),
    )
    return final.select(
        "user_id", "n_purchases", F.round("mv", 2).alias("max_value")
    )


@register(
    "stream_stream_left_outer_join",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL),
    p AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL),
    wm AS (SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
                  - INTERVAL 15 MINUTES AS w),
    j AS (SELECT c.user_id, c.ts AS click_ts, p.value
          FROM c LEFT JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(value) AS BIGINT) AS n_matched,
           CAST(ROUND(SUM(CASE WHEN value IS NULL
                               THEN CAST(0 AS DECIMAL(12,2))
                               ELSE CAST(value AS DECIMAL(12,2)) END), 2)
                AS DOUBLE) AS matched_value
    FROM j
    WHERE value IS NOT NULL
       OR click_ts + INTERVAL 30 MINUTES < (SELECT w FROM wm)
    GROUP BY 1
    """,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the state-eviction
    stress case the inner join (stream_stream_interval_join) never
    exercises: an unmatched click can only be emitted (with NULLs)
    once the engine can PROVE no future purchase will match, i.e.
    when the global watermark passes click_ts + interval.  Clicks in
    the final watermark-wide tail of the stream are therefore
    legitimately withheld at EOF, and the oracle encodes exactly that
    semantics: batch LEFT join restricted to (matched) OR (click_ts +
    30 min < min(max_click_ts, max_purchase_ts) − 15 min) — the
    global watermark is the MIN across both inputs' (max event time −
    delay), Spark's default multi-input watermark policy.  Verified
    emission-for-emission against the streaming run at
    sf0.001/0.01/0.1 (209/2,005/19,849 rows; boundary strictness
    unexercised — no click lands exactly on the watermark at
    microsecond resolution).

    Scale: join state holds only rows inside watermark + interval on
    each side (sized by traffic in the 45-minute horizon, not
    history); the per-user rollup runs batch-side on the emitted
    stream."""
    clicks = (
        streaming_events(spark, sf_dir)
        .filter((F.col("event_type") == "click") & F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        streaming_events(spark, sf_dir)
        .filter(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    ).select("user_id", "value")
    # Stream-stream joins keep 4 state stores per shuffle partition;
    # idle instances are pure commit overhead.  compute_floor (8 at 32
    # cores) + RocksDB measured 8.2s -> ~6.5s at sf0.1 (the rest is the
    # mandatory no-data finalization micro-batch that emits
    # watermark-expired unmatched clicks — machinery, not config).
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_confs(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        out = run_available_now(
            pairs, "stream_stream_left_outer_join", sf_dir, floor=compute_floor(spark)
        )
    return out.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("value").cast("bigint").alias("n_matched"),
        F.round(
            F.sum(
                F.when(
                    F.col("value").isNull(), F.lit(0).cast("decimal(12,2)")
                ).otherwise(F.col("value").cast("decimal(12,2)"))
            ),
            2,
        )
        .cast("double")
        .alias("matched_value"),
    )


@register(
    "stream_asof_enrichment",
    oracle="""
    WITH f AS (
        SELECT user_id,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS feature_timestamp,
               COUNT(*) AS f_total_events,
               COUNT(*) FILTER (WHERE event_type = 'click') AS f_click_count,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS f_total_revenue
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    e AS (
        SELECT event_id, user_id, ts, event_type
        FROM events WHERE user_id IS NOT NULL
    ),
    j AS (
        SELECT e.event_id, e.user_id, e.ts, e.event_type,
               f.feature_timestamp, f.f_total_events, f.f_click_count,
               f.f_total_revenue,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY f.feature_timestamp DESC NULLS LAST
               ) AS rn
        FROM e LEFT JOIN f
          ON e.user_id = f.user_id AND f.feature_timestamp <= e.ts
    )
    SELECT event_id, user_id, ts, event_type,
           feature_timestamp,
           CAST(f_total_events AS BIGINT) AS f_total_events,
           CAST(f_click_count AS BIGINT) AS f_click_count,
           CAST(f_total_revenue AS DOUBLE) AS f_total_revenue
    FROM j WHERE rn = 1
    """,
)
def stream_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment — the serving-side twin of
    the batch PIT join (J1): every incoming event is enriched with
    the FRESHEST feature row whose ``feature_timestamp`` (hourly
    window close) precedes the event — never a window still open at
    event time, the same leakage rule ``pit_asof_join`` enforces for
    training.  This is the shape online inference actually runs:
    features materialize on a cadence, events arrive continuously,
    and each event must see exactly the feature version a
    training-set replay would have seen (Feast's
    get_online_features-at-event-time semantics, re-expressed as a
    stream transform).

    Mechanics: the feature frame is static per run (re-read per
    micro-batch in production via a snapshot pointer —
    [[latest_feature_snapshot]]); each micro-batch does a broadcast
    backward as-of join in ``foreachBatch`` — the hash-agg
    ``max_by``-struct election, no window sort — and appends to a
    parquet sink.  STATELESS per batch (the as-of is against a
    static side, not stream state), so the result is
    batch-equivalent under any micro-batch split, watermark-free;
    events before their user's first closed window keep NULL
    features (LEFT semantics) rather than leaking the open window.

    Scale: per batch it is one broadcast hash join probe per event
    against the (users × hours, pre-aggregated) feature frame plus a
    hash aggregate keyed by event — no shuffle of the stream beyond
    the aggregate, no state store.  If the feature frame outgrows
    broadcast at 100 TB, the same foreachBatch body switches to a
    bucketed sort-merge as-of — the batch operator's documented
    path."""
    feats = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("f_total_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "f_click_count"
            ),
            # DECIMAL(12,2) inside the SUM (the money() discipline):
            # a raw DOUBLE sum is shuffle-order-sensitive and can flip
            # the 2-dp rounding at a tie boundary between engines.
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", money(F.col("value"))
                ).otherwise(F.lit(0).cast(MONEY))
            ).alias("f_total_revenue"),
        )
        .select(
            F.col("user_id").alias("f_user_id"),
            F.col("w.end").alias("feature_timestamp"),
            "f_total_events",
            "f_click_count",
            "f_total_revenue",
        )
        .localCheckpoint()
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"asof_enrich_{uuid.uuid4().hex[:8]}"
    )

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        j = batch_df.join(
            F.broadcast(feats),
            (batch_df["user_id"] == feats["f_user_id"])
            & (feats["feature_timestamp"] <= batch_df["ts"]),
            "left",
        )
        latest = (
            j.groupBy("event_id", "user_id", "ts", "event_type")
            .agg(
                F.max_by(
                    F.struct(
                        "feature_timestamp",
                        "f_total_events",
                        "f_click_count",
                        "f_total_revenue",
                    ),
                    "feature_timestamp",
                ).alias("f")
            )
            .select(
                "event_id",
                "user_id",
                "ts",
                "event_type",
                F.col("f.feature_timestamp").alias("feature_timestamp"),
                F.col("f.f_total_events").cast("bigint").alias("f_total_events"),
                F.col("f.f_click_count").cast("bigint").alias("f_click_count"),
                F.col("f.f_total_revenue").cast("double").alias("f_total_revenue"),
            )
        )
        write_table(latest, out_dir, mode="append")

    ev = streaming_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    try:
        run_available_now(
            ev.select("event_id", "user_id", "ts", "event_type"),
            "stream_asof_enrichment",
            sf_dir,
            sink=enrich,
        )
        # spool the sink's output so its directory goes with the call
        return read_table(spark, out_dir).localCheckpoint()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# --- Streaming decayed features (the user_decay_features twin) -------

_DECAY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("min_d", T.LongType()),
        T.StructField("swq", T.LongType()),
        T.StructField("svwq", T.LongType()),
    ]
)
_DECAY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("min_d", T.LongType()),
        T.StructField("swq", T.LongType()),
        T.StructField("svwq", T.LongType()),
    ]
)


def _decay_snapshots(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user decayed-feature accumulator: weights are the SAME
    pre-quantized integer micro-units the batch operator inlines, so
    state is four exact integers and the fold is commutative —
    identical under any micro-batching or replay.  ``svwq`` is
    bounded by |events/user| · 1e10 (cent values × micro-weights),
    comfortably inside int64 at any per-user history this corpus
    scale reaches; a petabyte deployment widens it to the Decimal
    the batch twin already uses."""
    import math as _m
    from datetime import date as _date

    from ..operators.feature_agg import (
        _DECAY_ASOF,
        _DECAY_MAX_AGE_D,
        _DECAY_WQ,
    )

    anchor = _date.fromisoformat(_DECAY_ASOF)
    (n, min_d, swq, svwq) = (
        state.get if state.exists else (0, 10**9, 0, 0)
    )
    for pdf in pdfs:
        for ts, value in zip(pdf["ts"], pdf["value"]):
            d = min(max((anchor - ts.date()).days, 0), _DECAY_MAX_AGE_D)
            vq = _m.floor(float(value) * 100.0)
            wq = _DECAY_WQ[d]
            n += 1
            min_d = min(min_d, d)
            swq += wq
            svwq += vq * wq
    state.update((n, min_d, swq, svwq))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n": [n],
            "min_d": [min_d],
            "swq": [swq],
            "svwq": [svwq],
        }
    )


def _decay_oracle() -> str:
    from ..operators.feature_agg import _DECAY_ORACLE

    return _DECAY_ORACLE


@register(
    "stream_decay_features",
    oracle=_decay_oracle(),
)
def stream_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of [[user_decay_features]] — the recency-
    weighted feature maintained ONLINE: per-user decayed count/value
    accumulated in explicit GroupState via ``applyInPandasWithState``
    (the ST8 escape hatch), each micro-batch emitting the running
    snapshot, the final snapshot per user recovered batch-side by
    ``max_by`` on the monotone event count.  The oracle is the batch
    operator's oracle VERBATIM (one shared SQL string) — stream ≡
    batch is the whole correctness claim, and it holds under any
    micro-batching because the decayed sums are commutative exact-
    integer folds of per-event weights that depend only on (ts,
    anchor), never on arrival order.

    Determinism: the kernel reuses the batch twin's pre-quantized
    integer weight table and cent flooring (IEEE double ops identical
    in pandas and the JVM); state is four exact integers; the two
    emitted doubles are the batch twin's fixed divides through the
    floor ladder, applied AFTER streaming, on exact integers.

    Scale shape: per-key state is four counters (bounded by users,
    not history); Arrow batches amortize the Python hop; the
    recovery aggregate touches |users| × micro-batch-count snapshot
    rows.  In production the snapshot sink IS the online store
    ([[stream_online_materialize]]'s generation protocol) and
    yesterday's state ages by one constant factor — the incremental
    form the batch docstring promises."""
    e = streaming_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
    )
    snapshots = e.groupBy("user_id").applyInPandasWithState(
        _decay_snapshots,
        outputStructType=_DECAY_OUT_SCHEMA,
        stateStructType=_DECAY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(
        snapshots,
        "stream_decay_features",
        sf_dir,
        # per-key Python state processing: per-batch compute scales
        # with data, keep the stateful shuffle wide (compute_floor).
        floor=compute_floor(spark),
    )
    final = out.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.max_by("min_d", "n").alias("min_d"),
        F.max_by("swq", "n").alias("swq"),
        F.max_by("svwq", "n").alias("svwq"),
    )
    return final.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("min_d").cast("bigint").alias("last_event_age_days"),
        (
            F.floor(
                F.col("swq").cast("double") / 1000000.0 * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("decayed_count"),
        (
            F.floor(
                F.col("svwq").cast("double") / 100000000.0 * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("decayed_value_sum"),
    )
