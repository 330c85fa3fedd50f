"""File sources & sinks: schema-declared CSV, partitioned Parquet.

Re-expresses the reference's file I/O surface (SURVEY §2.1):

* S5 — CSV batch source with an explicit schema (the reference reads
  profiles CSV via pandas with inferred dtypes,
  scripts/data_quality_checks.py:165-166; the engine never infers —
  SURVEY §1.3).
* S6 — CSV batch sink (scripts/batch_generator.py:140-152).
* S2 (batch form) — date-partitioned Parquet offline store
  (spark/apps/clickstream_aggregation.py:204-218 writes
  ``.../event_date=YYYY-MM-DD/``).
* S11 — partition sensor: existence check for a date partition with
  a last-N fallback (airflow/dags/feature_store_materialization.py:
  128-160).

Scale notes: partitioned writes shuffle-free (each task writes its
partition values); reads with an equality/range filter on the
partition column prune at planning time (check ``PartitionFilters``
in ``df.explain``) — at 100 TB a day's read touches one partition,
never the directory tree.  The store's schema lives in a
``_SCHEMA`` manifest beside the partitions, so a read infers nothing
from file footers and launches no job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..snapshots import write_atomic

#: A partitioned store's schema manifest: every field ever written, by
#: name, in first-written order, as StructType JSON.
SCHEMA_MANIFEST = "_SCHEMA"


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """S5: CSV source with a declared schema — inference is banned in
    the engine proper (SURVEY §1.3)."""
    return spark.read.csv(path, schema=schema, header=header, mode="FAILFAST")


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S6: CSV sink."""
    df.write.mode("overwrite").option("header", header).csv(path)


def write_partitioned(
    df: DataFrame, path: str, partition_col: str = "event_date", mode: str = "overwrite"
) -> None:
    """S2 (batch): snappy-parquet offline store partitioned by date.

    ``partitionOverwriteMode=dynamic`` is set engine-wide (session.py)
    so an incremental rewrite replaces only the partitions present in
    ``df`` — the 100 TB-safe upsert path.

    After the data lands, ``df.schema`` is merged by name into the
    ``_SCHEMA`` manifest (:func:`merge_schema`; a type change raises
    before anything is written) and the manifest is replaced
    atomically."""
    manifest = os.path.join(path, SCHEMA_MANIFEST)
    schema = merge_schema(
        read_manifest(path) if os.path.exists(manifest) else None, df.schema
    )
    df.write.mode(mode).partitionBy(partition_col).parquet(path)
    write_atomic(manifest, json.dumps(schema.jsonValue()))


def read_manifest(path: str) -> StructType:
    """The schema manifest of a partitioned store (a store written
    without one cannot be read: write it again)."""
    with open(os.path.join(path, SCHEMA_MANIFEST)) as fh:
        return StructType.fromJson(json.load(fh))


def merge_schema(old: StructType | None, new: StructType) -> StructType:
    """``old`` with the fields of ``new`` it lacks appended, all
    nullable (rows from files that predate a field read as NULL).
    Raises ``TypeError`` when a field of both changes type."""
    fields = list(old.fields) if old is not None else []
    have = {f.name: f.dataType for f in fields}
    for f in new.fields:
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
        elif have[f.name].simpleString() != f.dataType.simpleString():
            raise TypeError(
                f"column {f.name!r} changes type: "
                f"{have[f.name].simpleString()} -> {f.dataType.simpleString()}"
            )
    return StructType(fields)


def read_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str = "event_date",
    start=None,
    end=None,
) -> DataFrame:
    """Read the offline store with partition pruning: the
    ``partition_col`` predicates resolve against directory names at
    planning time (PartitionFilters), so only matching dirs are
    listed/scanned.

    The read takes the ``_SCHEMA`` manifest's schema, so a feature view
    can GAIN columns over time — rows from partitions written before
    the column existed read as NULL — and no footer is read at
    planning."""
    df = spark.read.schema(read_manifest(path)).parquet(path)
    if start is not None:
        df = df.filter(F.col(partition_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(partition_col) < F.lit(end))
    return df


def partition_exists(path: str, partition_col: str, value) -> bool:
    """S11 partition sensor (filesystem probe, no Spark job)."""
    return os.path.isdir(os.path.join(path, f"{partition_col}={value}"))


def latest_partitions(path: str, partition_col: str, n: int = 7) -> list[str]:
    """S11 fallback: the last ``n`` partition values present, sorted
    descending (reference checks "any of last 7 days",
    airflow/dags/feature_store_materialization.py:144-156)."""
    prefix = f"{partition_col}="
    if not os.path.isdir(path):
        return []
    vals = sorted(
        (d[len(prefix):] for d in os.listdir(path) if d.startswith(prefix)),
        reverse=True,
    )
    return vals[:n]


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """JSON-lines source with a declared schema (same no-inference
    policy as :func:`read_csv`: schema inference over JSON costs a
    full extra pass at 100 TB and silently widens types between
    runs).  FAILFAST surfaces corrupt lines instead of nulling them;
    relax per-call with ``.option("mode", "PERMISSIVE")`` plus a
    ``_corrupt_record`` column when quarantining is wanted."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-lines sink — the interchange format LLM-corpus tooling
    expects (one document object per line, gzip-splittable per
    file).  Column types survive via JSON natives; timestamps write
    ISO-8601."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)
