"""FeatureStore facade: the reference's user-facing API, Spark-native.

A user of the reference interacts with Feast's ``FeatureStore``
(reference feast_repo/features.py, scripts/inference_service.py:47-85,
scripts/drift_detection.py:260-269, airflow DAG materialization
feature_store_materialization.py:214-239).  This module provides the
same surface with DataFrames end to end:

==============================  =======================================
Reference (Feast)               Engine
==============================  =======================================
``Entity(name, join_keys)``     :class:`Entity`
``FeatureView(schema, source,   :class:`FeatureView` (typed columns,
ttl, timestamp_field)``         timestamp field, TTL)
``store.apply([...])``          :meth:`FeatureStore.apply`
offline Parquet store           :meth:`FeatureStore.write_offline` —
(date-partitioned)              date-partitioned parquet (S2)
``feast materialize-            :meth:`FeatureStore.materialize` —
incremental``                   incremental latest-per-key snapshot (S8),
                                committed as a generation whose marker
                                holds its high-water mark
``get_online_features``         :meth:`FeatureStore.get_online_features`
                                — spooled entity batch, one semi-filtered
                                broadcast LEFT plan per view (S9/J2)
``get_historical_features``     :meth:`FeatureStore.get_historical_features`
                                — spooled entity frame, TTL-bounded
                                as-of join (J1)
==============================  =======================================

Semantics preserved from the reference:

* Online lookups are LEFT: absent entities yield NULL feature rows
  (feature_store_materialization.py:105-113 iterates Nones).
* Feature references are ``"view:feature"`` strings
  (inference_service.py:20-31); output columns are view-qualified
  ``view__feature`` to avoid the reference's name-collision gotcha
  (SURVEY Appendix 8), with :func:`flatten_feature_names` opting back
  into bare names.
* Materialization is incremental: only offline partitions from the
  previous generation's high-water mark on are re-read (the DAG's
  daily ``materialize-incremental`` over fresh ``event_date=`` dirs),
  then merged against the previous snapshot.

Each call reads each of its inputs once: the caller's entity frame is
spooled with ``localCheckpoint()`` before any plan uses it, and the
offline store and each snapshot generation are read with the schema
their ``_SCHEMA`` manifest holds (``sources.files.read_table``), so
nothing is evaluated twice or inferred.

Scale: the offline store is the system of record — date-partitioned
parquet whose reads prune to the queried dates; the online snapshot
is one row per entity (bounded by entity cardinality, not history);
``materialize`` shuffles only the fresh partitions plus the snapshot.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import (
    commit_generation,
    gc_generations,
    generation_dir,
    read_generation,
    read_marker,
    resolve_snapshot,
)
from .operators.asof import asof_join, latest_snapshot, lookup_latest
from .session import ensure_engine_confs
from .sources.files import latest_partitions, read_table, write_table


@dataclass(frozen=True)
class Entity:
    """A join-key domain (reference feast_repo/features.py:16-21)."""

    name: str
    join_key: str
    value_type: str = "string"


@dataclass(frozen=True)
class FeatureView:
    """A named, typed, TTL'd feature set bound to a timestamped
    source (reference feast_repo/features.py:40-54)."""

    name: str
    entity: Entity
    features: tuple[str, ...]
    timestamp_field: str = "feature_timestamp"
    ttl: timedelta | None = timedelta(hours=24)
    partition_col: str = "event_date"


def feature_refs(views: dict[str, FeatureView], refs: list[str]) -> dict[str, list[str]]:
    """Parse ``"view:feature"`` references (reference
    inference_service.py:20-31; split at validate_online_store.py:114)
    into {view: [features]} preserving order."""
    out: dict[str, list[str]] = {}
    for ref in refs:
        view, _, feat = ref.partition(":")
        if view not in views:
            raise KeyError(f"unknown feature view: {view!r}")
        if feat not in views[view].features:
            raise KeyError(f"unknown feature {feat!r} in view {view!r}")
        out.setdefault(view, []).append(feat)
    return out


def flatten_feature_names(df: DataFrame) -> DataFrame:
    """Strip ``view__`` prefixes (the reference's bare-name response
    shape, inference_service.py:127-128).  Raises on collisions."""
    mapping = {c: c.split("__", 1)[1] if "__" in c else c for c in df.columns}
    if len(set(mapping.values())) != len(mapping):
        raise ValueError(f"flattening would collide: {sorted(df.columns)}")
    return df.select(*[F.col(c).alias(a) for c, a in mapping.items()])


class FeatureStore:
    """Registry + offline/online stores + retrieval (see module doc)."""

    def __init__(self, spark: SparkSession, root: str):
        ensure_engine_confs(spark)
        self.spark = spark
        self.root = root
        self.entities: dict[str, Entity] = {}
        self.views: dict[str, FeatureView] = {}

    # -- registry ------------------------------------------------------
    def apply(self, objs: list[Entity | FeatureView]) -> None:
        for o in objs:
            if isinstance(o, Entity):
                self.entities[o.name] = o
            elif isinstance(o, FeatureView):
                self.entities.setdefault(o.entity.name, o.entity)
                self.views[o.name] = o
            else:
                raise TypeError(f"cannot apply {type(o).__name__}")

    def _offline_path(self, view: str) -> str:
        return os.path.join(self.root, "offline", view)

    def _online_path(self, view: str) -> str:
        return os.path.join(self.root, "online", view)

    # -- offline store -------------------------------------------------
    def write_offline(self, view_name: str, df: DataFrame, mode: str = "overwrite") -> None:
        """Persist a feature frame to the date-partitioned offline
        store, deriving the partition column from the view's
        timestamp field when absent, as an engine table partitioned by
        that column (``sources/files.py``): only the partitions in
        ``df`` are replaced, and a read launches no footer job."""
        v = self.views[view_name]
        if v.partition_col not in df.columns:
            df = df.withColumn(v.partition_col, F.to_date(v.timestamp_field))
        write_table(
            df, self._offline_path(view_name), partition_by=v.partition_col, mode=mode
        )

    def read_offline(self, view_name: str, start=None, end=None) -> DataFrame:
        """The offline store, pruned to partitions in [start, end)."""
        v = self.views[view_name]
        df = read_table(self.spark, self._offline_path(view_name))
        if start is not None:
            df = df.filter(F.col(v.partition_col) >= F.lit(start))
        if end is not None:
            df = df.filter(F.col(v.partition_col) < F.lit(end))
        return df

    # -- materialization (S8) ------------------------------------------
    def materialize(self, view_name: str, incremental: bool = True) -> DataFrame:
        """Refresh the online snapshot: latest feature row per entity.

        Incremental mode reads only the offline partitions from the
        previous generation's high-water mark on (the reference's daily
        ``feast materialize-incremental``), unions the previous
        snapshot, and re-takes latest-per-key — shuffling fresh data
        plus one row per entity instead of full history.  The mark is
        the newest partition listed before the read, stored in the
        generation's marker; it is inclusive, so late rows for that day
        are re-read, which latest-per-key makes idempotent.  A
        generation without a mark (the streaming sink's) materializes
        in full."""
        v = self.views[view_name]
        key, ts = v.entity.join_key, v.timestamp_field
        online = self._online_path(view_name)
        os.makedirs(online, exist_ok=True)
        cur = read_generation(online)
        gc_generations(online, cur)
        prev: DataFrame | None = None
        start = None
        if incremental and cur is not None:
            prev_dir = generation_dir(online, cur)
            prev = read_table(self.spark, prev_dir)
            start = read_marker(prev_dir)["hwm"]
        # Listed BEFORE the read: a partition that lands in between is
        # re-read by the next run, never skipped.
        newest = latest_partitions(self._offline_path(view_name), v.partition_col, n=1)
        fresh = self.read_offline(view_name, start=start).drop(v.partition_col)
        # allowMissingColumns: a view may gain feature columns over
        # time — an old snapshot unions against wider fresh data with
        # NULLs for the columns it predates (and vice versa).
        merged = (
            fresh
            if prev is None
            else prev.unionByName(fresh, allowMissingColumns=True)
        )
        snap = latest_snapshot(merged, key=key, feature_ts=ts)
        # Generation-pointer commit (shared with the streaming upsert
        # sink, see snapshots.py): the plan above still READS the
        # current generation, which stays immutable while the new one
        # is assembled; readers atomically switch at the pointer flip,
        # and a crash at any point leaves a resolvable snapshot.
        new_gen = (cur or 0) + 1
        new_dir = generation_dir(online, new_gen)
        write_table(snap, new_dir)
        commit_generation(online, new_gen, hwm=newest[0] if newest else None)
        return read_table(self.spark, new_dir)

    def _snapshot(self, view_name: str) -> DataFrame:
        gen_dir = resolve_snapshot(self._online_path(view_name))
        if gen_dir is None:
            raise FileNotFoundError(
                f"view {view_name!r} not materialized; call materialize() first"
            )
        return read_table(self.spark, gen_dir)

    def export_online(self, view_name: str, writer, batch_size: int = 10_000) -> None:
        """Push the online snapshot to an external KV store (the
        reference's Redis upsert, S8).  ``writer(batch: list[dict])``
        runs EXECUTOR-side per batch via ``foreachPartition`` — every
        executor pipelines its partition to the KV store in parallel
        (each executor opens its own client; MSET/pipeline the batch).
        The driver never materializes the snapshot.  In streaming mode
        the same callable drops into ``foreachBatch``."""
        def _part(rows) -> None:
            batch: list = []
            for r in rows:
                batch.append(r.asDict())
                if len(batch) >= batch_size:
                    writer(batch)
                    batch = []
            if batch:
                writer(batch)

        self._snapshot(view_name).foreachPartition(_part)

    # -- retrieval (S9/J2, J1) -----------------------------------------
    def get_online_features(self, features: list[str], entity_df: DataFrame) -> DataFrame:
        """Point lookup of the latest feature vector for each entity
        row, LEFT semantics (absent entities yield NULL features).

        The entity frame is spooled once, then each view is one
        :func:`operators.asof.lookup_latest` plan: the snapshot is
        semi-filtered against the broadcast entity keys and only those
        rows are broadcast into a LEFT join whose preserved side is the
        entity batch, so the snapshot is never shuffled."""
        refs = feature_refs(self.views, features)
        out = entity_df.localCheckpoint()
        for view, feats in refs.items():
            key = self.views[view].entity.join_key
            snap = self._snapshot(view).select(
                key, *[F.col(f).alias(f"{view}__{f}") for f in feats]
            )
            out = lookup_latest(out, snap, key)
        return out

    def get_historical_features(
        self, entity_df: DataFrame, features: list[str], prune: bool = True
    ) -> DataFrame:
        """Point-in-time correct training frame: for each
        (entity, event_timestamp) row, the latest feature values with
        ``feature_timestamp <= event_timestamp`` inside the view TTL
        (reference get_historical_features,
        scripts/drift_detection.py:266-269).

        ``prune`` (default) first computes the entity frame's lookup
        range (one tiny aggregate job) and reads only offline
        partitions inside [min_lookup − TTL, max_lookup] — at 100 TB
        the as-of join then scans days, not years, of history.  The
        entity frame is spooled first, so that aggregate, each view's
        lookup keys and the final joins read it without re-running the
        caller's plan."""
        from datetime import timedelta as _td

        refs = feature_refs(self.views, features)
        entity_df = entity_df.localCheckpoint()
        out = entity_df
        bounds = (
            entity_df.agg(
                F.min("event_timestamp").alias("lo"), F.max("event_timestamp").alias("hi")
            ).first()
            if prune
            else None
        )
        for view, feats in refs.items():
            v = self.views[view]
            ttl_h = int(v.ttl.total_seconds() // 3600) if v.ttl is not None else None
            start = end = None
            if bounds is not None and bounds.lo is not None:
                # A TTL-less view has UNBOUNDED lookback: an entity
                # whose latest feature predates the lookup window must
                # still resolve, so only the upper bound may prune.
                if v.ttl is not None:
                    start = str((bounds.lo - v.ttl).date())
                end = str((bounds.hi + _td(days=1)).date())
            hist = self.read_offline(view, start=start, end=end).drop(v.partition_col)
            # Each view's as-of join shuffles only the bare
            # (key, lookup_ts) pairs — not the result frame as it
            # widens with earlier views' feature columns.
            lookups = entity_df.select(v.entity.join_key, "event_timestamp").distinct()
            joined = asof_join(
                lookups,
                hist,
                key=v.entity.join_key,
                lookup_ts="event_timestamp",
                feature_ts=v.timestamp_field,
                ttl_hours=ttl_h,
                feature_cols=tuple(feats),
            ).select(
                v.entity.join_key,
                "event_timestamp",
                *[F.col(f).alias(f"{view}__{f}") for f in feats],
            )
            out = out.join(joined, [v.entity.join_key, "event_timestamp"], "left")
        return out
