"""``feature_store``: the paper's daily lifecycle, streaming included.

Set-up generates events amplified ``AMPLIFY``-fold with seeded
(user, ts) jitter, stages them as one parquet file per day, computes
``hourly_features`` over them as day partitions, and writes and
materializes the first ``HISTORY_DAYS`` days of that offline history.

Then each following day, the day's events file lands in the stream's
source directory and its requests and expected outputs are made; then,
timed, in order, one closed-loop client:

* ``stream_ingest``: the streaming job drains the landed file
  (``maxFilesPerTrigger=1``, ``catalog.normalize_ts`` →
  ``clickstream.windowed_features`` →
  ``foreachBatch(online_upsert_sink)``, which commits a ``snapshots``
  generation per batch), restarting from its checkpoint;
* ``write_offline`` of the day's feature partition, then
  ``materialize(incremental=True)``;
* ``SMALL_LOOKUPS`` ``get_online_features`` calls of 1-3 entities
  (about 10% of keys absent, so the miss path runs) and
  ``BATCH_LOOKUPS`` calls of ``BATCH_SIZE`` entities;
* ``get_historical_features`` on a seeded entity frame, written to the
  noop sink.

The first day after the history is the cold pass; warm days follow
until the run's time is spent.  A day's checks run after its timer
stops, so no check counts in ``wall_s`` or ``cpu_s``: every lookup
equals the latest row per key of what was written (absent keys give
NULL features), every export has one row per entity row, and the
streamed snapshot equals the registered ``stream_online_materialize``
oracle over the files landed so far.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from collections import defaultdict
from datetime import date, datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import gmean, median, tree_cpu_s

#: Base event scale (events = 1e6 * SF) and its amplification factor.
SF = 0.01
AMPLIFY = 5
HISTORY_DAYS = 20
SMALL_LOOKUPS = 3
BATCH_LOOKUPS = 1
BATCH_SIZE = 1000
EXPORT_ROWS = 2000
#: Fewest warm days per run, whatever ``--seconds`` says.
MIN_DAYS = 2
#: Share of requested keys that no entity has.
ABSENT_SHARE = 0.1
#: Per-layer metrics a traced run of this workload must produce.
LAYER_METRICS = (
    "online_p50_ms", "online_batch_ms", "freshness_s", "train_export_s",
    "stream_events_per_s", "batch_p50_ms",
    "store.write_offline_ms", "store.write_offline_jobs", "store.materialize_ms",
    "store.materialize_jobs", "store.online_jobs", "store.online_driver_ms",
    "store.historical_ms", "store.historical_jobs",
    "store.offline_files", "store.offline_mb", "store.online_mb",
    "snapshots.generations_on_disk",
    "streaming.batches", "streaming.jobs", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.state_commit_ms", "streaming.state_rows",
    "streaming.state_mem_mb", "streaming.state_instances", "streaming.query_start_ms",
    "streaming.upsert_ms",
)
FEATURES = ("total_events", "click_count", "total_revenue", "click_through_rate")
VIEW = "user_click_features"


def amplified_events(seed: int, sf: float, k: int) -> pa.Table:
    """Base events replicated ``k`` times: replica ``r`` moves every
    user to a disjoint id range and jitters ts by up to ±5 min (clipped
    to the 30-day span), so volume and key cardinality both grow."""
    rng = np.random.default_rng(seed)
    n = max(100, int(1_000_000 * sf))
    users = max(1, int(15_000 * sf))
    base = datagen.event_table(rng, n, users)
    ts0 = base["ts"].cast(pa.int64()).to_numpy()
    lo = datagen._epoch_us(datagen.EVENTS_START)
    hi = lo + datagen.EVENT_DAYS * 86_400_000_000 - 1
    parts = []
    for r in range(k):
        jitter = rng.integers(-300_000_000, 300_000_001, n)
        parts.append(pa.table({
            "event_id": pc.add(base["event_id"], pa.scalar(r * n, pa.int64())),
            "ts": pa.array(np.clip(ts0 + jitter, lo, hi), pa.timestamp("us")),
            "user_id": pc.add(base["user_id"], pa.scalar(r * users, pa.int64())),
            **{c: base[c] for c in ("event_type", "value", "props")},
        }))
    events = pa.concat_tables(parts)
    return events.sort_by([("ts", "ascending"), ("event_id", "ascending")])


def latest_per_key(feats: pa.Table) -> dict:
    """user_id -> feature tuple of its latest feature_timestamp row."""
    rows = feats.sort_by([("user_id", "ascending"), ("feature_timestamp", "ascending")])
    cols = [rows[c].to_pylist() for c in ("user_id", *FEATURES)]
    return {u: tuple(vals) for u, *vals in zip(*cols)}


def stage_inputs(ctx, sf: float) -> tuple[str, str]:
    """Per-day event files and the hourly feature day partitions."""
    from ml_feature_store_enterprise_grade_spark.catalog import normalize_ts
    from ml_feature_store_enterprise_grade_spark.operators.feature_agg import hourly_features

    events = amplified_events(ctx.seed, sf, AMPLIFY)
    day_dir = ctx.path("data", "days")
    os.makedirs(day_dir)
    day = pc.cast(pc.cast(events["ts"], pa.date32()), pa.string())
    for d in sorted(set(day.to_pylist())):
        pq.write_table(events.filter(pc.equal(day, d)), os.path.join(day_dir, f"{d}.parquet"))
    staged = ctx.path("data", "features")
    (hourly_features(normalize_ts(ctx.spark.read.parquet(day_dir), ["ts"]))
     .selectExpr("*", "to_date(feature_timestamp) AS event_date")
     .write.partitionBy("event_date").parquet(staged))
    return day_dir, staged


def run(ctx) -> tuple[dict, dict]:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ml_feature_store_enterprise_grade_spark import registry, testing
    from ml_feature_store_enterprise_grade_spark.catalog import normalize_ts
    from ml_feature_store_enterprise_grade_spark.snapshots import resolve_snapshot
    from ml_feature_store_enterprise_grade_spark.store import Entity, FeatureStore, FeatureView
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        online_upsert_sink,
        scoped_confs,
        stream_state_confs,
        windowed_features,
    )

    spark, rec = ctx.spark, ctx.rec
    sf = ctx.sf(SF)
    rng = random.Random(ctx.seed)

    day_dir, staged = stage_inputs(ctx, sf)
    ctx.mark("staging")
    feats = pq.read_table(staged)
    day_of = pc.cast(feats["event_date"], pa.string())
    days = [date.fromisoformat(d) for d in sorted(set(day_of.to_pylist()))]
    users = sorted(set(feats["user_id"].to_pylist()))
    absent_base = max(users) + 1_000_000

    fs = FeatureStore(spark, ctx.path("store"))
    user = Entity("user", join_key="user_id", value_type="bigint")
    view = FeatureView(name=VIEW, entity=user, features=FEATURES, ttl=timedelta(hours=24))
    fs.apply([user, view])
    staged_df = spark.read.parquet(staged)

    def day_frame(days_sel):
        return staged_df.filter(F.col("event_date").isin([str(d) for d in days_sel]))

    fs.write_offline(VIEW, day_frame(days[:HISTORY_DAYS]))
    fs.materialize(VIEW, incremental=True)
    ctx.mark("history")

    # The streaming job: a landing directory it drains once a day.
    landing = ctx.path("stream", "landing")
    stream_online = ctx.path("stream", "online")
    ckpt = ctx.path("stream", "checkpoint")
    os.makedirs(landing)
    raw_schema = spark.read.parquet(day_dir).schema
    # State partitioning follows the engine's input-size rule, which
    # reads ``<dir>/events.parquet``: size it from one day's file.
    sizing = ctx.path("stream", "sizing")
    os.makedirs(sizing)
    shutil.copy(os.path.join(day_dir, f"{days[HISTORY_DAYS]}.parquet"),
                os.path.join(sizing, "events.parquet"))
    state_confs = stream_state_confs(spark, sizing)
    oracle = registry.oracles()["stream_online_materialize"]
    ctx.mark("stream_setup")
    ctx.end_setup()

    entity_schema = T.StructType([T.StructField("user_id", T.LongType())])
    hist_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_timestamp", T.TimestampType()),
    ])
    refs = [f"{VIEW}:{f}" for f in FEATURES]
    cols = [f"{VIEW}__{f}" for f in FEATURES]

    def drain() -> None:
        raw = spark.readStream.schema(raw_schema).option("maxFilesPerTrigger", 1).parquet(landing)
        rows = windowed_features(normalize_ts(raw, ["ts"])).drop("window_start")
        with scoped_confs(spark, state_confs):
            (rows.writeStream.foreachBatch(online_upsert_sink(stream_online))
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start().awaitTermination())

    def check_stream() -> str | None:
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW events AS SELECT * FROM "
                        f"read_parquet('{landing}/*.parquet')")
            snap = spark.read.parquet(resolve_snapshot(stream_online)).drop("bucket")
            res = testing.compare_query("stream_online_materialize", snap, oracle, con)
        finally:
            con.close()
        return None if res.ok else f"streamed snapshot: {res.detail}"

    def request(n: int) -> list[int]:
        return [
            absent_base + rng.randrange(10**6) if rng.random() < ABSENT_SHARE
            else rng.choice(users)
            for _ in range(n)
        ]

    def check_lookup(keys, rows, expected) -> str | None:
        got = sorted((r["user_id"], tuple(r[c] for c in cols)) for r in rows)
        want = sorted((k, expected.get(k, (None,) * len(FEATURES))) for k in keys)
        return None if got == want else f"lookup of {len(keys)} keys != latest-per-key"

    def check_export(out, n_ents: int) -> str | None:
        n = out.count()
        return None if n == n_ents else f"historical rows {n} != entity rows {n_ents}"

    def prepare(i: int) -> dict:
        """Day ``i``'s inputs and expected outputs, made before its timer:
        its events file lands in the stream's source directory."""
        d = days[i]
        name = f"{d}.parquet"
        shutil.copy(os.path.join(day_dir, name), os.path.join(landing, name))
        lo = datetime.combine(days[0], datetime.min.time())
        span = int((datetime.combine(d, datetime.min.time()) + timedelta(days=1) - lo)
                   .total_seconds())
        return {
            "day": d,
            "expected": latest_per_key(feats.filter(pc.less_equal(day_of, pa.scalar(str(d))))),
            "lookups": [("online_small", request(rng.randint(1, 3)))
                        for _ in range(SMALL_LOOKUPS)]
            + [("online_batch", request(BATCH_SIZE)) for _ in range(BATCH_LOOKUPS)],
            "entities": [(rng.choice(users), lo + timedelta(seconds=rng.randrange(span)))
                         for _ in range(EXPORT_ROWS)],
        }

    def one_day(plan: dict, warm: bool) -> list:
        """One day's ops, in order.  Returns their output checks, to be
        run after the day's timer stops."""
        checks = []
        with rec.op("stream_ingest", "streaming", warm=warm) as op:
            rec.phase(op, "build", drain)
        checks.append((op, check_stream))
        with rec.op("write_offline", "store", warm=warm) as op:
            rec.phase(op, "build", fs.write_offline, VIEW, day_frame([plan["day"]]))
        with rec.op("materialize", "store", warm=warm) as op:
            rec.phase(op, "build", fs.materialize, VIEW, incremental=True)
        for kind, keys in plan["lookups"]:
            rows = None
            with rec.op(kind, "store", warm=warm) as op:
                ent = spark.createDataFrame([(k,) for k in keys], entity_schema)
                out = rec.phase(op, "build", fs.get_online_features, refs, ent)
                rows = rec.phase(op, "action", out.collect)
            checks.append((op, check_lookup, keys, rows, plan["expected"]))
        ents, out = plan["entities"], None
        with rec.op("get_historical_features", "store", warm=warm) as op:
            ent = spark.createDataFrame(ents, hist_schema)
            out = rec.phase(op, "build", fs.get_historical_features, ent, refs)
            rec.phase(op, "action", out.write.format("noop").mode("overwrite").save)
        checks.append((op, check_export, out, len(ents)))
        return checks

    def check_all(checks: list) -> None:
        for op, fn, *args in checks:
            rec.check(op, fn, *args)

    check_all(one_day(prepare(HISTORY_DAYS), warm=False))
    ctx.mark("cold_pass")
    day_wall: dict[bool, list[float]] = {True: [], False: []}
    day_cpu: dict[bool, list[float]] = {True: [], False: []}
    jvm = int(spark._jvm.ProcessHandle.current().pid())
    t_warm = time.perf_counter()
    i = HISTORY_DAYS + 1
    while i < len(days) and (
        i < HISTORY_DAYS + 1 + MIN_DAYS or time.perf_counter() - t_warm < ctx.seconds
    ):
        plan = prepare(i)
        rec.tracing = ctx.trace and i % 2 == 0
        t0, c0 = time.perf_counter(), tree_cpu_s(jvm)
        checks = one_day(plan, warm=True)
        day_wall[rec.tracing].append(time.perf_counter() - t0)
        day_cpu[rec.tracing].append(tree_cpu_s(jvm) - c0)
        check_all(checks)
        i += 1
    rec.tracing = ctx.trace
    ctx.mark("warm")

    warm = [o for o in rec.ops if o.warm and o.ok]
    untraced = [o for o in warm if not o.traced] or warm
    by_kind = defaultdict(list)
    for o in untraced:
        by_kind[o.name].append(o.ms)
    e2e = {
        "wall_s": median(day_wall[False] or day_wall[True]),
        "cpu_s": median(day_cpu[False] or day_cpu[True]),
        "op_gmean_ms": gmean(median(v) for v in by_kind.values()),
        "cold_pass_s": sum(o.ms for o in rec.ops if not o.warm) / 1000.0,
    }
    writes = [o.ms for o in untraced if o.name == "write_offline"]
    mats = [o.ms for o in untraced if o.name == "materialize"]
    ingests = [o for o in untraced if o.name == "stream_ingest"]
    batches = [b for o in ingests for b in o.batches]
    layer = {
        "online_p50_ms": median(by_kind["online_small"]),
        "online_batch_ms": median(by_kind["online_batch"]),
        "freshness_s": median(w + m for w, m in zip(writes, mats)) / 1000.0,
        "train_export_s": median(by_kind["get_historical_features"]) / 1000.0,
        "stream_events_per_s": sum(b["rows"] for b in batches)
        / (sum(o.ms for o in ingests) / 1000.0) if ingests else math.nan,
        "batch_p50_ms": median(b["trigger_ms"] for b in batches),
    }
    layer.update(store_layer(warm))
    layer.update(streaming_layer([o for o in warm if o.traced and o.name == "stream_ingest"]))
    layer.update(disk_usage(fs._offline_path(VIEW), fs._online_path(VIEW)))
    if day_wall[True] and day_wall[False]:
        ctx.trace_overhead(median(day_wall[True]), median(day_wall[False]))
    return e2e, layer


def store_layer(warm) -> dict:
    """``store.*``: per op kind, the median over traced warm calls."""
    traced = defaultdict(list)
    for o in warm:
        if o.traced:
            traced[o.name].append(o)

    def med(kind, fn):
        return median(fn(o) for o in traced[kind])

    def ms(o):
        return o.ms

    def jobs(o):
        return len(o.jobs)

    return {
        "store.write_offline_ms": med("write_offline", ms),
        "store.write_offline_jobs": med("write_offline", jobs),
        "store.materialize_ms": med("materialize", ms),
        "store.materialize_jobs": med("materialize", jobs),
        "store.online_jobs": med("online_small", jobs),
        "store.online_driver_ms": med("online_small", lambda o: o.driver_ms),
        "store.historical_ms": med("get_historical_features", ms),
        "store.historical_jobs": med("get_historical_features", jobs),
    }


def streaming_layer(ingests) -> dict:
    """``streaming.*`` from listener progress of traced ingest ops:
    durations are medians per micro-batch, counts per ingest."""
    batches = [b for o in ingests for b in o.batches]
    data = [b for b in batches if b["rows"] > 0]

    def per_batch(key, rows=batches):
        return median(b[key] for b in rows)

    return {
        "streaming.batches": median(len(o.batches) for o in ingests),
        "streaming.jobs": median(len(o.jobs) for o in ingests),
        "streaming.add_batch_ms": per_batch("add_batch_ms"),
        "streaming.planning_ms": per_batch("planning_ms"),
        "streaming.wal_commit_ms": per_batch("wal_commit_ms"),
        "streaming.commit_offsets_ms": per_batch("commit_offsets_ms"),
        "streaming.latest_offset_ms": per_batch("latest_offset_ms"),
        "streaming.state_commit_ms": per_batch("state_commit_ms"),
        "streaming.state_rows": per_batch("state_rows"),
        "streaming.state_mem_mb": per_batch("state_mem_bytes") / 2**20,
        "streaming.state_instances": per_batch("state_instances"),
        "streaming.query_start_ms": median(
            (min(b["start"] for b in o.batches) - o.start) * 1000.0
            for o in ingests if o.batches
        ),
        "streaming.upsert_ms": per_batch("add_batch_ms", data),
    }


def disk_usage(offline: str, online: str) -> dict:
    def walk(root):
        files = [os.path.join(d, f) for d, _, names in os.walk(root) for f in names
                 if not f.startswith((".", "_"))]
        return len(files), sum(os.path.getsize(f) for f in files) / 2**20

    n_off, mb_off = walk(offline)
    _, mb_on = walk(online)
    return {
        "store.offline_files": float(n_off),
        "store.offline_mb": mb_off,
        "store.online_mb": mb_on,
        "snapshots.generations_on_disk": float(
            sum(d.startswith("v=") for d in os.listdir(online))
        ),
    }
