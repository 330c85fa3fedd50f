"""DedupIndex: the persisted continuous-ingestion dedup state.

The probe path must agree EXACTLY with the in-session
``dedup_incremental`` query (same split, same verdicts, same match
ids) — the index is that operator's standing-artifact form, not a
second algorithm.  ``add`` must fold admitted docs in so re-probing
recognizes them without any corpus rebuild.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ml_feature_store_enterprise_grade_spark.operators.dedup import (
    _INCR_BATCH_MOD,
    DedupIndex,
    dedup_incremental,
)

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def split(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    is_batch = F.col("doc_id") % _INCR_BATCH_MOD == _INCR_BATCH_MOD - 1
    return docs.filter(~is_batch), docs.filter(is_batch)


@pytest.mark.slow
def test_probe_matches_dedup_incremental(spark, split, tmp_path):
    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    got = {r["doc_id"]: (r["verdict"], r["match_doc_id"]) for r in idx.probe(batch).collect()}
    want = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in dedup_incremental(spark, SF_SMOKE).collect()
    }
    assert got == want


@pytest.mark.slow
def test_add_folds_admitted_docs_in(spark, split, tmp_path):
    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    first = idx.probe(batch).collect()
    admitted_ids = {r["doc_id"] for r in first if r["verdict"] == "admit"}
    assert admitted_ids, "smoke data should admit at least one batch doc"
    admitted = batch.filter(F.col("doc_id").isin(list(admitted_ids)))
    idx.add(admitted)

    again = {r["doc_id"]: r for r in idx.probe(batch).collect()}
    for doc_id in admitted_ids:
        r = again[doc_id]
        # the doc's own artifacts are now standing state: exact
        # self-match (or a smaller admitted twin with identical text)
        assert r["verdict"] == "dup_exact"
        assert r["match_doc_id"] <= doc_id
    # verdicts of docs that were duplicates before adding are unchanged
    for r in first:
        if r["doc_id"] not in admitted_ids:
            a = again[r["doc_id"]]
            assert (a["verdict"], a["match_doc_id"]) == (
                r["verdict"],
                r["match_doc_id"],
            )


@pytest.mark.slow
def test_probe_joins_broadcast_the_small_batch(spark, split, tmp_path):
    """Every probe join keeps the batch frame on one side (the class
    contract: no corpus-vs-corpus join exists in the code path), so
    with a small batch the whole plan resolves to broadcast joins —
    no sort-merge shuffle of the standing tables."""
    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    plan = (
        idx.probe(batch, eager=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the probes against the standing tables (hash / band / signature
    # keys) must all be broadcast; the only shuffle joins allowed are
    # the final batch-side verdict stitches on doc_id (which AQE
    # converts at runtime once it sees the batch row count)
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "doc_id" in line, f"standing-table shuffle join: {line.strip()}"


@pytest.mark.slow
def test_compact_preserves_probe_verdicts(spark, split, tmp_path):
    """Compaction folds all ingest dirs into one generation without
    changing any probe verdict."""
    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    first = idx.probe(batch).collect()
    admitted = batch.join(
        idx.probe(batch).filter(F.col("verdict") == "admit"), "doc_id", "left_semi"
    )
    idx.add(admitted)
    before = {r["doc_id"]: (r["verdict"], r["match_doc_id"]) for r in idx.probe(batch).collect()}
    idx.compact()
    import os

    for tbl in ("hashes", "bands", "signatures", "shingle_df"):
        dirs = [d for d in os.listdir(tmp_path / "idx" / tbl) if d.startswith("ingest=")]
        assert len(dirs) == 1 and dirs[0].startswith("ingest=compact-")
    after = {r["doc_id"]: (r["verdict"], r["match_doc_id"]) for r in idx.probe(batch).collect()}
    assert after == before
    assert len(first) == len(after)


@pytest.mark.slow
def test_probe_spans_matches_python_reference(spark, split, tmp_path):
    """probe_spans must equal the quadratic batch-vs-corpus reference:
    a batch span counts as duplicated iff its exact k-word window
    exists anywhere in the standing corpus, coverage union-counted."""
    import re

    from ml_feature_store_enterprise_grade_spark.operators.dedup import _SPAN_WORDS

    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["n_covered_tokens"], r["flagged"])
        for r in idx.probe_spans(batch).collect()
    }

    def toks_of(rows):
        return {
            r["doc_id"]: re.sub(r"\s+", " ", r["text"].lower()).strip().split(" ")
            for r in rows.collect()
        }

    k = _SPAN_WORDS
    corpus_spans = set()
    for t in toks_of(corpus).values():
        for i in range(len(t) - k + 1):
            corpus_spans.add(" ".join(t[i : i + k]))
    expect = {}
    for doc_id, t in toks_of(batch).items():
        dup_pos = [
            i + 1
            for i in range(len(t) - k + 1)
            if " ".join(t[i : i + k]) in corpus_spans
        ]
        covered = set()
        for p in dup_pos:
            covered.update(range(p, p + k))
        expect[doc_id] = (
            len(t),
            len(dup_pos),
            len(covered),
            len(covered) / len(t) > 0.2,
        )
    assert got == expect


@pytest.mark.slow
def test_probe_spans_add_redelivery_and_compact(spark, split, tmp_path):
    """After add, a re-probe sees the batch's own spans (self dup);
    excluding the ingest reproduces the original report; compaction
    changes nothing."""
    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    before = {r["doc_id"]: r["n_dup_spans"] for r in idx.probe_spans(batch).collect()}

    idx.add(batch, ingest_id="b1")
    self_probe = idx.probe_spans(batch).collect()
    # every doc's spans are now standing state -> full coverage
    for r in self_probe:
        if r["n_tokens"] >= 8:
            assert r["n_covered_tokens"] == r["n_tokens"]
    masked = {
        r["doc_id"]: r["n_dup_spans"]
        for r in idx.probe_spans(batch, exclude_ingest="b1").collect()
    }
    assert masked == before

    idx.compact()
    after = {r["doc_id"]: r["n_dup_spans"] for r in idx.probe_spans(batch).collect()}
    full = {r["doc_id"]: r["n_dup_spans"] for r in self_probe}
    assert after == full


@pytest.mark.slow
def test_empty_build_cold_start(spark, split, tmp_path):
    """A build over an EMPTY corpus (the cold-start shape
    streaming/ingestion.py advertises) must yield a probeable index:
    every verdict is admit, probe_spans reports zero coverage, and a
    subsequent add() warms it up to normal behavior.  Regression for
    the zero-row partitionBy write leaving bands/ with no
    schema-bearing parquet file (UNABLE_TO_INFER_SCHEMA)."""
    corpus, batch = split
    idx = DedupIndex.build(corpus.filter("1=0"), str(tmp_path / "cold"))
    verdicts = idx.probe(batch).collect()
    assert verdicts and all(r["verdict"] == "admit" for r in verdicts)
    assert all(r["match_doc_id"] is None for r in verdicts)
    spans = idx.probe_spans(batch).collect()
    assert spans and all(r["n_dup_spans"] == 0 for r in spans)
    # warm it up: folding the corpus in flips exact copies to dup_exact
    idx.add(corpus, ingest_id="warm")
    warmed = idx.probe(batch).collect()
    ref = {
        r["doc_id"]: r["verdict"]
        for r in DedupIndex.build(corpus, str(tmp_path / "ref")).probe(batch).collect()
    }
    assert {r["doc_id"]: r["verdict"] for r in warmed} == ref


@pytest.mark.slow
def test_missing_table_dir_raises_loudly(spark, split, tmp_path):
    """The empty-frame fallback in ``_read`` is ONLY for the
    cold-start ``bands`` shape (dir exists, no schema-bearing file).
    A genuinely deleted standing table must raise, not silently
    disable its dedup check — a probe that can't see ``hashes`` would
    otherwise admit every exact duplicate."""
    import shutil

    from pyspark.errors import AnalysisException

    corpus, batch = split
    idx = DedupIndex.build(corpus, str(tmp_path / "idx"))
    shutil.rmtree(tmp_path / "idx" / "hashes")
    with pytest.raises(AnalysisException):
        idx.probe(batch).collect()
    # and a deleted bands dir (not the schema-less cold-start shape)
    # is equally loud — the gate requires the directory to EXIST.
    idx2 = DedupIndex.build(corpus, str(tmp_path / "idx2"))
    shutil.rmtree(tmp_path / "idx2" / "bands")
    with pytest.raises(AnalysisException):
        idx2.probe(batch).collect()
