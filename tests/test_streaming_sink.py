"""Streaming sink + micro-batch-boundary coverage (ST2-ST6):

* the reference's real sink — append-mode date-partitioned parquet
  with a checkpoint (reference spark/apps/clickstream_aggregation.py:
  204-218) — round-trips: reading the sink back equals the batch
  aggregate restricted to watermark-finalized windows;
* splitting the replay into many micro-batches (maxFilesPerTrigger=1
  over a multi-file staging dir) changes nothing: watermark semantics
  and the stateful operator's final output are batch-equivalent
  however the input is sliced.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import (
    load_table,
    normalize_ts,
    parquet_schema,
)
from ml_feature_store_enterprise_grade_spark.snapshots import resolve_snapshot
from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
    run_available_now,
    windowed_features,
)
from tests.conftest import SF_SMOKE, count_jobs


@pytest.fixture(scope="module")
def multi_file_source(spark, tmp_path_factory):
    """events staged as 6 parquet files so maxFilesPerTrigger=1 forces
    6 micro-batches (file order ~ arbitrary ⇒ real out-of-order and
    late-data pressure on the watermark)."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    # Six sequential append-writes of consecutive time ranges, each
    # with a strictly later modification time: FileStreamSource orders
    # files by mtime, so maxFilesPerTrigger=1 replays an in-order
    # stream with no cross-batch late data — the multi-batch run must
    # be *exactly* batch-equivalent.  (Unordered staging would
    # legitimately drop >15-min-late events per watermark semantics.)
    import time as _time

    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) // 6
    edges = [None, *[lo + step * i for i in range(1, 6)], None]
    for i in range(6):
        chunk = raw
        if edges[i] is not None:
            chunk = chunk.filter(F.col("ts") > edges[i])
        if edges[i + 1] is not None:
            chunk = chunk.filter(F.col("ts") <= edges[i + 1])
        chunk.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)  # distinct whole-second mtimes (fs granularity)
    return d


def _stream(spark, src_dir, max_files=None):
    reader = spark.readStream.schema(parquet_schema(spark, src_dir)).format("parquet")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return normalize_ts(reader.load(src_dir), ["ts"])


@pytest.mark.slow
def test_parquet_sink_roundtrip_partitioned(spark, multi_file_source, tmp_path):
    out = str(tmp_path / "offline")
    ckpt = str(tmp_path / "ckpt")
    result = windowed_features(_stream(spark, multi_file_source)).withColumn(
        "event_date", F.to_date("window_start")
    )
    q = (
        result.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    back = spark.read.parquet(out)
    # Partition layout: event_date dirs exist and prune.
    import os

    assert any(x.startswith("event_date=") for x in os.listdir(out))

    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    max_ts = e.agg(F.max("ts")).first()[0]
    batch = (
        e.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click_count"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view_count"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
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
            F.to_date(F.col("w.start")).alias("event_date"),
        )
        .filter(F.col("feature_timestamp") <= F.lit(max_ts) - F.expr("INTERVAL 15 MINUTES"))
    )
    cols = sorted(back.columns)
    got, want = back.select(*cols), batch.select(*cols)
    assert got.count() == want.count() and got.exceptAll(want).count() == 0


@pytest.mark.slow
def test_multi_batch_replay_is_batch_equivalent(spark, multi_file_source):
    """6 time-ordered micro-batches: the watermark advances batch by
    batch, windows finalize progressively, and the union of all
    append-mode emissions must exactly equal the single-batch result —
    finalized windows present with complete aggregates, each emitted
    at most once."""
    result = windowed_features(_stream(spark, multi_file_source, max_files=1))
    emitted = run_available_now(result, "mb")

    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    max_ts = e.agg(F.max("ts")).first()[0]
    batch_all = (
        e.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click_count"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view_count"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
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
    # At-most-once emission per window.
    assert emitted.count() == emitted.select("user_id", "window_start").distinct().count()
    # Exact batch equivalence on finalized windows.
    finalized = batch_all.filter(
        F.col("feature_timestamp") <= F.lit(max_ts) - F.expr("INTERVAL 15 MINUTES")
    ).select(*emitted.columns)
    assert emitted.exceptAll(finalized).count() == 0
    assert finalized.exceptAll(emitted).count() == 0


@pytest.mark.slow
def test_checkpoint_resume_processes_only_new_data(spark, tmp_path):
    """Exactly-once incremental restart (ST5): run the windowed query
    to completion, add more source files, restart with the SAME
    checkpoint — the second run must process only the new files, emit
    no duplicate windows, and the final sink must equal one
    continuous run over everything."""
    import time as _time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) // 2

    def run_once():
        q = (
            windowed_features(_stream(spark, src))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    raw.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    _time.sleep(1.1)  # later mtime for the second batch of files
    raw.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
    run_once()

    final = spark.read.parquet(out)
    # No duplicate (user, window) emissions across the two runs.
    assert final.count() == final.select("user_id", "window_start").distinct().count()
    assert final.count() > n_first

    # Equivalent to one continuous run: batch aggregate finalized
    # under the ALL-data watermark, minus windows held back because
    # run 1's watermark froze at mid-data (those emit on a later
    # restart) — concretely: every emitted row matches the batch
    # aggregate, and everything finalized by run 1's watermark or
    # fully contained in run 2's data is present.
    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    batch_all = (
        e.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click_count"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view_count"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
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
    assert final.select(*batch_all.columns).exceptAll(batch_all).count() == 0


@pytest.mark.slow
def test_streaming_online_materialize_multi_batch(spark, multi_file_source, tmp_path):
    """foreachBatch upsert across 6 micro-batches must converge to the
    same snapshot as one batch pass: latest-per-user over finalized
    windows, with each batch merging (not replacing) prior state."""
    from ml_feature_store_enterprise_grade_spark.operators.asof import latest_snapshot
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        online_upsert_sink,
        windowed_features,
    )

    online = str(tmp_path / "online")
    ckpt = str(tmp_path / "ckpt")
    result = windowed_features(_stream(spark, multi_file_source, max_files=1)).drop(
        "window_start"
    )
    q = (
        result.writeStream.foreachBatch(online_upsert_sink(online))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(resolve_snapshot(online)).drop("bucket")

    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    max_ts = e.agg(F.max("ts")).first()[0]
    batch = (
        windowed_features(e)
        .drop("window_start")
        .filter(F.col("feature_timestamp") <= F.lit(max_ts) - F.expr("INTERVAL 15 MINUTES"))
    )
    want = latest_snapshot(batch, key="user_id", feature_ts="feature_timestamp")
    assert got.count() == want.count()
    assert got.select(*sorted(got.columns)).exceptAll(want.select(*sorted(got.columns))).count() == 0


def _bucket_inodes(gen_dir):
    """{bucket_dir: {filename: inode}} for all data files in a generation."""
    import os

    out = {}
    for d in os.listdir(gen_dir):
        if not d.startswith("bucket="):
            continue
        files = {}
        for f in os.listdir(os.path.join(gen_dir, d)):
            if not f.startswith((".", "_")):
                files[f] = os.stat(os.path.join(gen_dir, d, f)).st_ino
        out[d] = files
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Merge-on-write contract: a batch whose keys hash into a subset
    of buckets must carry every other bucket into the new generation
    as hardlinks (same inode — zero bytes rewritten)."""
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        online_upsert_sink,
    )

    online = str(tmp_path / "online")
    sink = online_upsert_sink(online, n_buckets=8)

    def mkbatch(users):
        return spark.createDataFrame(
            [(u, ts, 1) for u, ts in users],
            "user_id string, feature_timestamp timestamp, total_events int",
        )

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # Seed: many users spread across all buckets.
    sink(mkbatch([(f"u{i}", t0) for i in range(64)]), 0)
    gen1 = resolve_snapshot(online)
    before = _bucket_inodes(gen1)
    assert len(before) > 1

    # Second batch: a single user -> exactly one bucket touched.
    sink(mkbatch([("u3", t0 + dt.timedelta(hours=1))]), 1)
    gen2 = resolve_snapshot(online)
    assert gen2 != gen1
    after = _bucket_inodes(gen2)

    fresh = {d for d in after if after[d] != before.get(d)}
    assert len(fresh) == 1, f"rewrote {sorted(fresh)}"
    for d in after:
        if d not in fresh:
            assert after[d] == before[d]  # hardlinked: same inodes

    # And the merge is still correct: u3 advanced, others intact.
    got = spark.read.parquet(gen2)
    assert got.count() == 64
    u3 = got.filter(F.col("user_id") == "u3").select("feature_timestamp").first()[0]
    assert u3 == t0 + dt.timedelta(hours=1)


def test_upsert_survives_crashed_partial_generation(spark, tmp_path):
    """A crash mid-build leaves a partial generation with the pointer
    still on the previous one: readers keep seeing the intact snapshot,
    and the next batch garbage-collects the partial build and commits
    a correct new generation on top of the committed state."""
    import os

    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        online_upsert_sink,
    )

    online = str(tmp_path / "online")
    sink = online_upsert_sink(online, n_buckets=4)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def mkbatch(users):
        return spark.createDataFrame(
            [(u, ts, 1) for u, ts in users],
            "user_id string, feature_timestamp timestamp, total_events int",
        )

    sink(mkbatch([(f"u{i}", t0) for i in range(16)]), 0)
    committed = resolve_snapshot(online)

    # Simulate a crash mid-build: a partial new generation exists but
    # the pointer never flipped.
    partial = os.path.join(online, "v=99")
    os.makedirs(os.path.join(partial, "bucket=0"))
    with open(os.path.join(partial, "bucket=0", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    # Readers still resolve the committed generation.
    assert resolve_snapshot(online) == committed
    assert spark.read.parquet(committed).count() == 16

    # Next batch GCs the partial build and merges from committed state.
    sink(mkbatch([("u0", t0 + dt.timedelta(hours=1))]), 1)
    assert not os.path.isdir(partial)
    got = spark.read.parquet(resolve_snapshot(online))
    assert got.count() == 16  # nothing lost, junk never merged
    u0 = got.filter(F.col("user_id") == "u0").select("feature_timestamp").first()[0]
    assert u0 == t0 + dt.timedelta(hours=1)


@pytest.mark.slow
def test_upsert_retains_generation_window(spark, tmp_path):
    """Generations are immutable: a retention window of recent ones is
    kept for in-flight readers, older ones are garbage-collected, and
    retained generations stay readable after later commits."""
    import datetime as dt
    import os

    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        online_upsert_sink,
    )

    online = str(tmp_path / "online")
    sink = online_upsert_sink(online, n_buckets=4)
    t0 = dt.datetime(2024, 1, 1)

    def mkbatch(users):
        return spark.createDataFrame(
            [(u, ts, 1) for u, ts in users],
            "user_id string, feature_timestamp timestamp, total_events int",
        )

    for k in range(4):
        sink(mkbatch([("u0", t0 + dt.timedelta(hours=k))]), k)
    gens = sorted(d for d in os.listdir(online) if d.startswith("v="))
    assert gens == ["v=2", "v=3", "v=4"]  # retention window, older GC'd
    # retained generations are still complete readable snapshots
    assert spark.read.parquet(os.path.join(online, "v=2")).count() == 1
    assert spark.read.parquet(os.path.join(online, "v=3")).count() == 1
    assert resolve_snapshot(online).endswith("v=4")


@pytest.mark.slow
def test_sliding_multi_batch_replay_is_batch_equivalent(spark, multi_file_source):
    """Sliding windows under 6 time-ordered micro-batches: each event
    feeds 6 overlapping windows whose state lives across batches; the
    union of append emissions must equal the batch x6 expansion on
    finalized windows, emitted at most once each."""
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import WATERMARK

    agg = (
        _stream(spark, multi_file_source, max_files=1)
        .filter(F.col("user_id").isNotNull())
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.window("ts", "1 hour", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    emitted = run_available_now(agg, "slide")

    e = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id").isNotNull())
    max_ts = e.agg(F.max("ts")).first()[0]
    batch = (
        e.groupBy("user_id", F.window("ts", "1 hour", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
        .filter(F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 15 MINUTES"))
    )
    assert emitted.count() == emitted.select("user_id", "window_start").distinct().count()
    assert emitted.exceptAll(batch).count() == 0
    assert batch.exceptAll(emitted).count() == 0


def test_stream_staging_refreshes_on_source_change(spark, tmp_path, monkeypatch):
    """The staged stream-source copy must track the source file:
    regenerated testdata (new size/mtime) invalidates the old copy —
    replaying a stale copy would silently diverge from the oracle."""
    import os
    import shutil
    import tempfile
    import time

    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        _stream_source_dir,
    )

    # stage under tmp_path, not the shared temp dir (one copy per run)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sfX"
    sf.mkdir()
    src = sf / "events.parquet"
    shutil.copy2(f"{SF_SMOKE}/events.parquet", src)
    d1 = _stream_source_dir(str(sf))
    staged = os.path.join(d1, "events.parquet")
    first_sig = (os.stat(staged).st_size, os.stat(staged).st_mtime_ns)

    # Unchanged source: no recopy (mtime signature stable).
    assert _stream_source_dir(str(sf)) == d1
    assert (os.stat(staged).st_size, os.stat(staged).st_mtime_ns) == first_sig

    # "Regenerate" the testdata: new bytes, new mtime.
    time.sleep(0.01)
    with open(src, "ab") as f:
        f.write(b"x" * 128)
    os.utime(src)
    _stream_source_dir(str(sf))
    second_sig = (os.stat(staged).st_size, os.stat(staged).st_mtime_ns)
    assert second_sig != first_sig
    assert second_sig[0] == first_sig[0] + 128


def test_stream_queries_leave_no_view_checkpoint_or_output_dir(
    spark, tmp_path, monkeypatch
):
    """A memory-sink query (``stream_hourly_features``) and two
    ``foreachBatch`` queries (``stream_online_materialize``,
    ``stream_asof_enrichment``) leave no temp view in the session
    catalog and no checkpoint or output directory in the temp dir, and
    each returned frame still gives the oracle's row count after that
    cleanup."""
    import os
    import tempfile

    from ml_feature_store_enterprise_grade_spark import registry
    from ml_feature_store_enterprise_grade_spark.testing import duckdb_connection

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views = {t.name for t in spark.catalog.listTables()}
    names = (
        "stream_hourly_features",
        "stream_online_materialize",
        "stream_asof_enrichment",
    )
    frames = {n: registry.queries()[n](spark, SF_SMOKE) for n in names}
    assert {t.name for t in spark.catalog.listTables()} == views
    residue = sorted(
        e
        for e in os.listdir(tmp_path)
        if e.startswith(("ckpt_", "asof_enrich_", "online_snap_"))
    )
    assert residue == []
    con = duckdb_connection(SF_SMOKE)
    try:
        for n, df in frames.items():
            sql = registry.oracles()[n]
            want = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
            assert want > 0 and df.count() == want, n
    finally:
        con.close()


def test_stream_read_backs_declare_their_schema(spark):
    """``stream_asof_enrichment`` and ``stream_bottomk_sample`` read back
    the directory their sink wrote with the schema the sink writes, and
    their ``events`` scans take the memoized footer schema, so a warm
    call launches no schema-inference job.  The jobs left in the
    calling thread are the queries' own spools, writes and collects;
    each inferring read would add one."""
    from ml_feature_store_enterprise_grade_spark import registry

    budgets = {"stream_asof_enrichment": 3, "stream_bottomk_sample": 6}
    for name, budget in budgets.items():
        fn = registry.queries()[name]
        fn(spark, SF_SMOKE)
        _, jobs = count_jobs(spark, fn, spark, SF_SMOKE)
        assert jobs <= budget, (name, jobs)


def test_stream_online_materialize_frames_survive_a_second_call(spark):
    """Each call owns its snapshot: a second call at the same sf leaves
    the frame an earlier call returned readable, with the same rows."""
    from ml_feature_store_enterprise_grade_spark import registry

    fn = registry.queries()["stream_online_materialize"]
    first = fn(spark, SF_SMOKE)
    second = fn(spark, SF_SMOKE)
    assert first.count() == second.count() > 0
    assert first.exceptAll(second).count() == 0


import pytest as _pytest

from ml_feature_store_enterprise_grade_spark.streaming.joins import (
    has_transform_with_state as _has_tws,
)


@_pytest.mark.skipif(
    not _has_tws(),
    reason=(
        "protobuf is not installed in this container — "
        "transformWithStateInPandas serializes its state protocol with "
        "proto, so the Spark-4 stateful API twin "
        "(stream_tws_purchase_stats) runs only where the dependency "
        "exists; applyInPandasWithState coverage "
        "(stream_stateful_running_totals) always runs"
    ),
)
def test_transform_with_state_twin_matches_batch(spark):
    from ml_feature_store_enterprise_grade_spark.streaming.joins import (
        _TWS_ORACLE,
        stream_tws_purchase_stats,
    )
    from ml_feature_store_enterprise_grade_spark.testing import (
        compare_query,
        duckdb_connection,
    )
    from tests.conftest import SF_SMOKE

    con = duckdb_connection(SF_SMOKE)
    try:
        df = stream_tws_purchase_stats(spark, SF_SMOKE)
        res = compare_query("stream_tws_purchase_stats", df, _TWS_ORACLE, con)
    finally:
        con.close()
    assert res.ok, f"{res.detail}\n" + "\n".join(res.mismatches)


@pytest.mark.slow
def test_rocksdb_state_store_provider_matches_default(spark, tmp_path):
    """ST8 at scale: the RocksDB state store provider (the provider a
    large-key-space deployment runs, per the module docstring) must
    produce the identical finalized-window set as the default HDFS-
    backed provider.  The provider is a per-query option via the
    checkpoint's SQL conf, so the same query graph runs under both."""
    src = str(tmp_path / "src")
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    raw.coalesce(2).write.mode("append").parquet(src)

    def run(provider: str | None, tag: str):
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        try:
            out = str(tmp_path / f"out_{tag}")
            q = (
                windowed_features(_stream(spark, src, max_files=1))
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option(
                    "checkpointLocation", str(tmp_path / f"ckpt_{tag}")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out)
        finally:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    rocks = run(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        "rocks",
    )
    default = run(None, "default")
    assert rocks.count() == default.count() > 0
    assert rocks.exceptAll(default).count() == 0
    assert default.exceptAll(rocks).count() == 0
