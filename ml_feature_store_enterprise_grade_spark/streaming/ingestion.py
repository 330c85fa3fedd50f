"""Streaming corpus admission: the continuous-ingestion deployment of
the dedup family.  Arriving documents stream through the persisted
:class:`~..operators.dedup.DedupIndex` — intra-batch exact self-dedup,
probe against the standing corpus, write the admitted slice, fold it
into the index — so the corpus grows duplicate-free without ever
re-scanning itself.

Exactly-once story (``foreachBatch`` re-delivers a micro-batch after a
crash, so every side effect must converge under re-runs):

* admitted docs land in ``{admitted_path}/ingest=batch<id>/`` with
  OVERWRITE — a re-run rewrites the same directory;
* the index fold uses the same per-ingest overwrite layout
  (``DedupIndex.add(..., ingest_id=...)``);
* the probe excludes the current ingest id, so a re-run that crashed
  mid-fold probes against everything EXCEPT its own partial leftovers
  and reproduces the original verdicts exactly.

Batch-equivalence (the same sequential probe/fold loop over the same
chunks in the same order yields the same admitted corpus) is asserted
in tests/test_stream_ingestion.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import ensure_engine_confs
from ..functions import normalize_text
from ..operators.dedup import DedupIndex
from ..sources.files import read_table, write_table
from .clickstream import run_available_now

#: Arriving-file schemas (a stream source never infers one).
_DOC_SCHEMA = "doc_id bigint, text string"
_VEC_SCHEMA = "vec_id bigint, embedding array<float>"


def _ingest_id(batch_id: int) -> str:
    return f"batch{batch_id}"


def admission_batch_processor(index_path: str, admitted_path: str):
    """The ``foreachBatch`` body, exposed for direct (re-)invocation
    in tests and for crash-recovery drills: process micro-batch
    ``(df, batch_id)`` idempotently."""

    def process(batch: DataFrame, batch_id: int) -> None:
        ingest = _ingest_id(batch_id)
        # intra-batch exact self-dedup: the index only knows STANDING
        # docs, so two copies of one new text inside a single batch
        # must be collapsed here (keep min doc_id).  Near-dup pairs
        # inside one batch are a deliberate gap: BOTH members are
        # admitted and folded into the standing index in this same
        # batch — the pair itself is never removed; only FUTURE
        # copies of either text get rejected.  Closing it would cost
        # a batch self-join (the LSH pass of dedup_minhash_lsh) per
        # micro-batch; run corpus_dedup_pipeline over the admitted
        # log periodically if intra-batch near-dups matter.
        w = Window.partitionBy(normalize_text(F.col("text"))).orderBy("doc_id")
        firsts = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        idx = DedupIndex(batch.sparkSession, index_path)
        verdicts = idx.probe(firsts, exclude_ingest=ingest)
        admitted = firsts.join(
            verdicts.filter(F.col("verdict") == "admit"), "doc_id", "left_semi"
        ).cache()
        write_table(admitted, admitted_path, ingest=ingest)
        idx.add(admitted, ingest_id=ingest)
        admitted.unpersist()

    return process


def stream_corpus_admission(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    admitted_path: str,
) -> DataFrame:
    """Run the admission pipeline over every parquet file in
    ``source_dir`` (one micro-batch per file, availableNow) and return
    the admitted corpus as a batch frame.  The index at ``index_path``
    must already exist (``DedupIndex.build`` over the standing corpus,
    or an empty build); it is extended in place.

    At 100 TB the shape is unchanged: the stream source is Kafka or a
    file drop zone, each micro-batch is O(batch) against the standing
    parquet tables, and the admitted output is the training corpus's
    append log.
    """
    ensure_engine_confs(spark)
    stream = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )
    run_available_now(
        stream,
        "corpus_admission",
        sink=admission_batch_processor(index_path, admitted_path),
    )
    return read_table(spark, admitted_path).drop("ingest")


def stream_vector_ingestion(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
) -> DataFrame:
    """Continuously fold arriving embedding batches into a standing
    :class:`~..operators.similarity.VectorIndex` (one micro-batch per
    file, availableNow) and return the final cell table.  The frozen
    coarse codebook makes each micro-batch a broadcast assignment pass
    + cell-partitioned append — the embedding-side twin of
    :func:`stream_corpus_admission`.

    Idempotent under re-delivery: each micro-batch writes its own
    ``ingest=batch<id>`` subtree of the cell layout, so a
    crashed-and-redelivered batch overwrites itself instead of
    appending duplicates — the same contract as
    :func:`stream_corpus_admission`."""
    from ..operators.similarity import VectorIndex

    ensure_engine_confs(spark)
    idx = VectorIndex(spark, index_path)
    stream = (
        spark.readStream.schema(_VEC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )
    run_available_now(
        stream,
        "vector_ingestion",
        sink=lambda b, bid: idx.add(b, ingest_id=f"batch{bid}"),
    )
    return read_table(spark, f"{index_path}/cells")
