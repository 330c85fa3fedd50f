"""Semantic tests for text operators beyond oracle parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.operators.text import doc_tfidf_top_terms

from conftest import SF_SMOKE


class TestTfidf:
    def test_rare_terms_outrank_ubiquitous(self, spark):
        out = doc_tfidf_top_terms(spark, SF_SMOKE)
        rows = out.collect()
        assert rows
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        n_docs = out.select("doc_id").distinct().count()
        for doc_rows in by_doc.values():
            doc_rows.sort(key=lambda r: r["term_rank"])
            assert len(doc_rows) <= 3
            # ranks are 1..k and scores are non-increasing in rank
            assert [r["term_rank"] for r in doc_rows] == list(
                range(1, len(doc_rows) + 1)
            )
            scores = [r["tfidf"] for r in doc_rows]
            assert scores == sorted(scores, reverse=True)
            for r in doc_rows:
                # df is a true document frequency: bounded by corpus size
                assert 1 <= r["df"] <= n_docs or r["df"] > 0


class TestPiiScrub:
    def test_kernel_redacts_known_pii(self, spark):
        from pyspark.sql import functions as F

        from ml_feature_store_enterprise_grade_spark.operators.text import scrub_pii

        df = spark.createDataFrame(
            [
                ("mail me at jane.doe+spam@sub.example.org today",),
                ("server 192.168.0.1 then 10.0.0.255 end",),
                ("call +49 555-1234 now",),
                ("no pii here",),
            ],
            ["text"],
        )
        clean, counts = scrub_pii(F.col("text"))
        rows = df.select(
            clean.alias("clean"),
            counts["email"].alias("e"),
            counts["ip"].alias("i"),
            counts["phone"].alias("p"),
        ).collect()
        assert rows[0]["e"] == 1 and "<EMAIL>" in rows[0]["clean"]
        assert "jane" not in rows[0]["clean"]
        assert rows[1]["i"] == 2 and rows[1]["clean"].count("<IP>") == 2
        assert rows[2]["p"] == 1 and "<PHONE>" in rows[2]["clean"]
        assert rows[3]["e"] == rows[3]["i"] == rows[3]["p"] == 0
        assert rows[3]["clean"] == "no pii here"

    def test_registered_query_finds_all_plants(self, spark):
        from ml_feature_store_enterprise_grade_spark.operators.text import pii_scrub

        from conftest import SF_SMOKE

        out = pii_scrub(spark, SF_SMOKE).collect()
        for r in out:
            assert r["n_emails"] == (1 if r["doc_id"] % 3 == 0 else 0)
            assert r["n_ips"] == (1 if r["doc_id"] % 4 == 0 else 0)
            assert r["n_phones"] == (1 if r["doc_id"] % 5 == 0 else 0)
            assert "@" not in r["clean_text"]


def test_doc_lengths_matches_exploded_counts(spark):
    from ml_feature_store_enterprise_grade_spark.operators.text import (
        _doc_lengths,
    )
    from ml_feature_store_enterprise_grade_spark.functions import (
        normalize_text,
    )

    nd = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    got = {(r.doc_id, r.n_tokens) for r in _doc_lengths(nd).collect()}
    toks = nd.select(
        "doc_id", F.explode(F.split("norm", " ")).alias("token")
    )
    want = {
        (r.doc_id, r.n)
        for r in toks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
