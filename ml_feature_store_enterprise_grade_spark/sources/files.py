"""File sources & sinks: schema-declared CSV and JSON lines, and the
engine's one parquet table format.

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

Table format.  Every parquet table the engine writes — the offline
store, each online snapshot generation, the ``DedupIndex`` and
``VectorIndex`` tables, the histogram sketch store and the streaming
queries' read-backs — is a directory of parquet files with a
``_SCHEMA`` manifest at its root: StructType JSON of every field ever
written, by name, in first-written order, partition columns included.
:func:`write_table` is the one writer: it merges the frame's schema
into the manifest (a type change raises before any data lands), writes
the files, then replaces the manifest atomically.  :func:`read_table`
is the one reader: ``spark.read.schema(manifest).parquet(table)``, so a
read infers nothing from file footers and launches no job, a column
that some files lack reads as NULL, and an empty table (even a
zero-row partitioned write, which leaves no parquet file) reads back
typed.  Spark's file listing skips ``_``-prefixed names, so scans never
see the manifest.  A table written without one cannot be read: write
it again.

Scale notes: partitioned writes shuffle-free (each task writes its
partition values); reads with an equality/range filter on the
partition column prune at planning time (check ``PartitionFilters``
in ``df.explain``) — at 100 TB a day's read touches one partition,
never the directory tree.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..snapshots import write_atomic

#: A table's schema manifest (module doc).
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


def write_table(
    df: DataFrame,
    table: str,
    *,
    partition_by: str | None = None,
    ingest: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` into ``table`` and merge its schema into the
    table's ``_SCHEMA`` manifest (module doc).

    ``partition_by`` partitions the files by one column; with
    ``partitionOverwriteMode=dynamic`` (set engine-wide, session.py)
    an overwrite replaces only the partitions present in ``df`` — the
    100 TB-safe upsert path.  ``ingest`` writes into
    ``<table>/ingest=<id>`` instead, replacing that one ingest's
    subtree and nothing else, so a re-delivered ingest converges; the
    manifest then records ``ingest`` as a string column."""
    schema, target = df.schema, table
    if ingest is not None:
        schema = StructType([*schema.fields, StructField("ingest", StringType())])
        target = os.path.join(table, f"ingest={ingest}")
    manifest = os.path.join(table, SCHEMA_MANIFEST)
    schema = merge_schema(
        read_manifest(table) if os.path.exists(manifest) else None, schema
    )
    writer = df.write.mode(mode)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(target)
    write_atomic(manifest, json.dumps(schema.jsonValue()))


def read_manifest(path: str) -> StructType:
    """The ``_SCHEMA`` manifest of the table at ``path``."""
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


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """A table :func:`write_table` wrote, read with its manifest's
    schema (module doc).  Filter the partition column to prune: the
    predicate resolves against directory names at planning time."""
    return spark.read.schema(read_manifest(table)).parquet(table)


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
