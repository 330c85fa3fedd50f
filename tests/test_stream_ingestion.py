"""Streaming corpus admission: batch-equivalence of the foreachBatch
pipeline, and convergence under re-delivery (the crash-recovery
contract the ingest-partitioned DedupIndex layout exists for)."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from ml_feature_store_enterprise_grade_spark.operators.dedup import (
    _INCR_BATCH_MOD,
    DedupIndex,
)
from ml_feature_store_enterprise_grade_spark.streaming.ingestion import (
    admission_batch_processor,
    stream_corpus_admission,
)

from conftest import SF_SMOKE

N_CHUNKS = 3


@pytest.fixture()
def staged(spark, tmp_path):
    """Standing corpus + arriving docs split into N parquet files
    with strictly increasing mtimes (the file stream source replays
    them oldest-first, one micro-batch each)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    is_batch = F.col("doc_id") % _INCR_BATCH_MOD == _INCR_BATCH_MOD - 1
    corpus, arriving = docs.filter(~is_batch), docs.filter(is_batch)

    src = tmp_path / "src"
    chunks = []
    for i in range(N_CHUNKS):
        chunk = arriving.filter(F.col("doc_id") % N_CHUNKS == i)
        chunks.append(chunk)
        f = str(src / f"chunk_{i}.parquet")
        chunk.coalesce(1).write.mode("overwrite").parquet(f + ".dir")
        # single file per chunk so maxFilesPerTrigger=1 == one chunk
        part = next(
            p for p in os.listdir(f + ".dir") if p.endswith(".parquet")
        )
        os.replace(os.path.join(f + ".dir", part), f)
        t = time.time() + i  # strictly increasing mtimes
        os.utime(f, (t, t))
    return corpus, chunks, str(src)


def _admitted_ids(spark, path):
    return {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}


@pytest.mark.slow
def test_stream_admission_equals_sequential_loop(spark, staged, tmp_path):
    corpus, chunks, src = staged

    # independent reference: plain probe/add loop over the same chunks
    ref_idx = DedupIndex.build(corpus, str(tmp_path / "ref_idx"))
    ref_admitted: set[int] = set()
    for chunk in chunks:
        v = ref_idx.probe(chunk)
        adm = chunk.join(
            v.filter(F.col("verdict") == "admit"), "doc_id", "left_semi"
        ).cache()
        ref_admitted |= {r["doc_id"] for r in adm.select("doc_id").collect()}
        ref_idx.add(adm)
        adm.unpersist()

    DedupIndex.build(corpus, str(tmp_path / "idx"))
    out = stream_corpus_admission(
        spark, src, str(tmp_path / "idx"), str(tmp_path / "admitted")
    )
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == ref_admitted
    # smoke shape: something was admitted AND something was rejected
    n_arriving = sum(c.count() for c in chunks)
    assert 0 < len(got) < n_arriving


@pytest.mark.slow
def test_redelivered_batch_converges(spark, staged, tmp_path):
    """Re-running a micro-batch (foreachBatch crash re-delivery) must
    reproduce identical verdicts — probing with its own ingest
    excluded — and leave the admitted output and index unchanged."""
    corpus, chunks, src = staged
    idx_path, adm_path = str(tmp_path / "idx"), str(tmp_path / "admitted")
    idx = DedupIndex.build(corpus, idx_path)
    process = admission_batch_processor(idx_path, adm_path)

    for i, chunk in enumerate(chunks):
        process(chunk, i)
    admitted_before = _admitted_ids(spark, adm_path)
    # verdicts the NEXT ingest would see
    probe_before = {
        (r["doc_id"], r["verdict"]) for r in idx.probe(chunks[0]).collect()
    }

    # the critical exclusion property: even though batch N's docs are
    # now standing state, a re-probe that masks ingest N reproduces
    # the original (pre-fold) verdicts, so the re-run re-admits the
    # same docs instead of rejecting them all as self-duplicates
    last = len(chunks) - 1
    masked = {r["doc_id"]: r["verdict"] for r in idx.probe(chunks[last], exclude_ingest=f"batch{last}").collect()}
    unmasked = {r["doc_id"]: r["verdict"] for r in idx.probe(chunks[last]).collect()}
    admitted_last = {d for d, v in masked.items() if v == "admit"}
    assert admitted_last, "last chunk should admit something"
    for d in admitted_last:
        # folded docs self-match unless masked
        assert unmasked[d] == "dup_exact"
    for d, v in masked.items():
        if d not in admitted_last:
            # rejected docs were never folded: both probes agree
            assert unmasked[d] == v

    # full re-delivery of the last two batches: state converges
    process(chunks[last], last)
    process(chunks[last - 1], last - 1)
    assert _admitted_ids(spark, adm_path) == admitted_before
    probe_after = {
        (r["doc_id"], r["verdict"]) for r in idx.probe(chunks[0]).collect()
    }
    assert probe_after == probe_before


@pytest.mark.slow
def test_stream_vector_ingestion_folds_into_index(spark, tmp_path):
    from ml_feature_store_enterprise_grade_spark.operators.similarity import VectorIndex
    from ml_feature_store_enterprise_grade_spark.streaming.ingestion import (
        stream_vector_ingestion,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 4 != 0)
    arriving = emb.filter(F.col("vec_id") % 4 == 0)
    VectorIndex.build(base, str(tmp_path / "vidx"))

    src = tmp_path / "vsrc"
    for i in range(2):
        chunk = arriving.filter(F.col("vec_id") % 8 == i * 4)
        f = str(src / f"chunk_{i}.parquet")
        chunk.coalesce(1).write.mode("overwrite").parquet(f + ".dir")
        part = next(p for p in os.listdir(f + ".dir") if p.endswith(".parquet"))
        os.replace(os.path.join(f + ".dir", part), f)
        t = time.time() + i
        os.utime(f, (t, t))

    cells = stream_vector_ingestion(spark, str(src), str(tmp_path / "vidx"))
    assert cells.count() == emb.count()

    idx = VectorIndex(spark, str(tmp_path / "vidx"))
    probe = arriving.limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    top1 = {
        r["query_id"] - 1_000_000: r["neighbor_id"]
        for r in idx.search(probe).collect()
        if r["rnk"] == 1
    }
    assert all(neighbor == vec_id for vec_id, neighbor in top1.items())
