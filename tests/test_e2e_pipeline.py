"""End-to-end composition: the operators are designed to chain into a
training-data pipeline — corpus admission → sampling → packing on the
text side, features → labels → split on the events side.  These tests
run the chains and assert the cross-stage accounting that no single
per-operator oracle can see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _q(name, spark):
    return registry.queries()[name](spark, SF_SMOKE)


@pytest.mark.slow
def test_corpus_pipeline_accounting(spark):
    """Admission → sampling → packing: every doc admitted by the dedup
    pipeline appears in the sampling plan; every kept doc appears in
    the packing plan exactly once; dropped docs never reach packing
    volume.  (Packing runs over the full corpus here; the subset
    relation is what composition guarantees.)"""
    admitted = _q("corpus_dedup_pipeline", spark).select("doc_id", "kept")
    sampling = _q("corpus_sampling_plan", spark).select("doc_id", "keep")
    packing = _q("sequence_packing_plan", spark).select("doc_id", "est_tokens")

    n_docs = admitted.count()
    assert n_docs == sampling.count() == packing.count()
    # doc_id is a consistent key across all three stage outputs
    assert admitted.join(sampling, "doc_id").count() == n_docs
    assert admitted.join(packing, "doc_id").count() == n_docs
    # the pipeline admits a nontrivial, non-total subset
    kept = admitted.filter("kept").count()
    assert 0 < kept <= n_docs
    # packed token volume of the sampled subset is consistent with the
    # data card's total estimate
    card = _q("corpus_data_card", spark).first()
    total_est = packing.agg(F.sum("est_tokens")).first()[0]
    assert total_est == card.est_tokens


@pytest.mark.slow
def test_training_pipeline_split_is_leakage_free(spark):
    """training_set_export joined to the hash split: every exported
    example lands in exactly one split, split shares are sane, and no
    user crosses splits (entity-level leakage)."""
    ts = _q("training_set_export", spark)
    split = _q("dataset_split_assignment", spark).select(
        F.col("c_custkey").alias("user_id"), "split"
    )
    j = ts.join(split, "user_id", "left")
    n = j.count()
    assert n == ts.count()  # every example got exactly one split row
    assert j.filter(F.col("split").isNull()).count() == 0
    per_user = (
        j.groupBy("user_id").agg(F.countDistinct("split").alias("ns")).filter("ns > 1")
    )
    assert per_user.count() == 0
    shares = dict(
        j.groupBy("split").count().rdd.map(lambda r: (r["split"], r["count"])).collect()
    )
    assert shares["train"] > shares.get("val", 0)
    assert shares["train"] > shares.get("test", 0)


def test_snapshot_serves_what_cdc_merge_produces(spark):
    """The CDC merge's post-image must agree with the independently
    computed full snapshot on every surviving entity (deleted keys
    absent, everything else latest-per-key)."""
    merged = _q("cdc_merge_upsert", spark)
    full = _q("latest_feature_snapshot", spark)
    # no deleted key survives
    assert merged.filter((F.col("user_id") % 31) == 0).count() == 0
    # every non-deleted entity in the merge matches the full snapshot's
    # latest feature_timestamp
    j = merged.select("user_id", "feature_timestamp").join(
        full.select("user_id", F.col("feature_timestamp").alias("full_ts")),
        "user_id",
    )
    assert j.filter(F.col("feature_timestamp") != F.col("full_ts")).count() == 0
