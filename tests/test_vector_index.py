"""Persisted IVF vector index: build → partitioned cells → pruned
search; recall vs brute force and partition pruning both asserted."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.catalog import load_table
from ml_feature_store_enterprise_grade_spark.operators.similarity import (
    VectorIndex,
    ann_cosine_topk,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path_factory.mktemp("vidx") / "index")
    return VectorIndex.build(emb, path, k=8)


def test_layout_partitioned_by_cell(index):
    cells_dir = f"{index.path}/cells/ingest=base"
    parts = [d for d in os.listdir(cells_dir) if d.startswith("cell=")]
    assert len(parts) >= 2  # codebook actually spread the corpus


def test_search_recall_and_pruning(spark, index):
    queries = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 50)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    res = index.search(queries, topk=5, nprobe=3)
    res.collect()
    plan = res._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1][:120]
    assert "cell" in pf  # probed-cell filter pruned the scan

    approx = {(r.query_id, r.neighbor_id) for r in res.collect()}
    exact = {(r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, SF_SMOKE).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f}"


@pytest.mark.slow
def test_lsh_banding_blocks_hard_at_production_params(spark):
    """The sign-LSH candidate generator must actually PRUNE when
    configured for the production near-dup regime (r=16 bits/band,
    b=8 bands — the parameters for cosine >= 0.9): on this corpus the
    band join must emit under 5% of all pairs.  The registered
    embedding_neardup query deliberately runs weaker parameters so its
    demo threshold (0.4) keeps 100% recall; this test pins down that
    the blocking machinery itself scales when the threshold does."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import lsh_band_keys

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    bands = emb.select(
        "vec_id", F.posexplode(lsh_band_keys(F.col("embedding"), r=16, b=8)).alias("band", "key")
    )
    la = bands.select(F.col("vec_id").alias("a"), "band", "key")
    lb = bands.select(F.col("vec_id").alias("b"), "band", "key")
    n_candidates = (
        la.join(lb, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    assert n_candidates < 0.05 * all_pairs, (n_candidates, all_pairs)


@pytest.mark.slow
def test_neardup_blocked_recall_vs_all_pairs(spark):
    """The blocked near-dup operator's recall against the all-pairs
    ground truth is a measured property (its oracle pins the
    *algorithm*, not the ideal — see the operator docstring).  At
    sf0.001 the fixed planes realize 100% recall; keep that exact so
    a parameter regression (fewer bands, broken band keys) shows up
    as missing pairs here rather than as a silent recall drop."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        _NEARDUP_THRESHOLD,
        _dot,
        embedding_neardup,
        with_norm,
    )

    emb = with_norm(load_table(spark, SF_SMOKE, "embeddings"))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    truth = {
        (r.vec_a, r.vec_b)
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= _NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b")
        .collect()
    }
    blocked = {(r.vec_a, r.vec_b) for r in embedding_neardup(spark, SF_SMOKE).collect()}
    assert blocked <= truth  # verification step admits no false positives
    assert blocked == truth, f"recall {len(blocked)}/{len(truth)}"


@pytest.mark.slow
def test_add_folds_vectors_under_frozen_codebook(spark, tmp_path):
    """VectorIndex.add assigns new vectors with the standing codebook
    and appends to the cell tree; searches find them immediately, and
    the result equals a one-shot assignment of the union under the
    SAME codebook."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    extra = emb.filter(F.col("vec_id") % 5 == 0)

    idx = VectorIndex.build(base, str(tmp_path / "idx"))
    n_base = spark.read.parquet(f"{tmp_path}/idx/cells").count()
    idx.add(extra, ingest_id="e1")
    cells = spark.read.parquet(f"{tmp_path}/idx/cells")
    assert cells.count() == n_base + extra.count()
    # re-delivery of the same ingest overwrites, never duplicates
    idx.add(extra, ingest_id="e1")
    assert spark.read.parquet(f"{tmp_path}/idx/cells").count() == n_base + extra.count()

    # reference: same centroids, one-shot assignment of everything
    import shutil

    shutil.copytree(tmp_path / "idx" / "centroids", tmp_path / "ref" / "centroids")
    ref = VectorIndex(spark, str(tmp_path / "ref"))
    ref._assign(emb).write.mode("overwrite").partitionBy("cell").parquet(
        f"{tmp_path}/ref/cells/ingest=base"
    )
    queries = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    got = {tuple(r) for r in idx.search(queries).collect()}
    want = {tuple(r) for r in ref.search(queries).collect()}
    assert got == want

    # an added vector is its own nearest neighbor at cosine 1.0
    probe = extra.limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    top1 = {
        r["query_id"] - 1_000_000: (r["neighbor_id"], r["cosine_sim"])
        for r in idx.search(probe).collect()
        if r["rnk"] == 1
    }
    for vec_id, (neighbor, sim) in top1.items():
        assert neighbor == vec_id
        assert abs(sim - 1.0) < 1e-5


@pytest.mark.slow
def test_compact_folds_ingests_preserving_search(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 3 != 0)
    extra = emb.filter(F.col("vec_id") % 3 == 0)
    idx = VectorIndex.build(base, str(tmp_path / "idx"))
    idx.add(extra, ingest_id="e1")

    queries = emb.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    before = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in idx.search(queries).collect()
    }
    n_before = spark.read.parquet(f"{tmp_path}/idx/cells").count()

    idx.compact()

    cells_root = tmp_path / "idx" / "cells"
    ingests = [d for d in os.listdir(cells_root) if d.startswith("ingest=")]
    assert len(ingests) == 1 and ingests[0].startswith("ingest=compact-")
    assert spark.read.parquet(f"{tmp_path}/idx/cells").count() == n_before
    after = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in idx.search(queries).collect()
    }
    assert after == before


@pytest.mark.slow
def test_filtered_search_matches_exact_filtered_baseline(spark, tmp_path):
    """Metadata columns ride into the cell layout; with every cell
    probed, a label-filtered search must EQUAL the brute-force top-k
    over only that label's vectors — proving the predicate constrains
    the search rather than post-filtering."""
    import math

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    idx = VectorIndex.build(emb, str(tmp_path / "fidx"))

    rows = emb.collect()
    by_id = {r["vec_id"]: (r["label"], r["embedding"]) for r in rows}
    queries = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    lab = 3
    got = idx.search(queries, topk=5, nprobe=64, where=f"label = {lab}")
    out: dict[int, list] = {}
    for r in got.collect():
        assert by_id[r["neighbor_id"]][0] == lab
        out.setdefault(r["query_id"] - 1_000_000, []).append(
            (r["rnk"], r["neighbor_id"], r["cosine_sim"])
        )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for qid, ranked in out.items():
        qv = by_id[qid][1]
        want = sorted(
            (
                (round(cos(qv, v), 6), vid)
                for vid, (l, v) in by_id.items()
                if l == lab and vid != qid + 1_000_000
            ),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got_ranked = [(c, v) for _, v, c in sorted(ranked)]
        assert got_ranked == [(c, v) for c, v in want]


@pytest.mark.slow
def test_compact_preserves_metadata_and_filtered_search(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    idx = VectorIndex.build(emb.filter(F.col("vec_id") % 2 == 0), str(tmp_path / "m"))
    idx.add(emb.filter(F.col("vec_id") % 2 == 1), ingest_id="odd")
    queries = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    before = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in idx.search(queries, nprobe=64, where="label = 3").collect()
    }
    idx.compact()
    after = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in idx.search(queries, nprobe=64, where="label = 3").collect()
    }
    assert after == before and before


def test_legacy_flat_layout_rejected(spark, tmp_path):
    import pytest as _pytest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = VectorIndex.build(emb, str(tmp_path / "leg"))
    # simulate the pre-ingest flat tree: hoist one cell dir up
    import os, shutil

    cells = f"{tmp_path}/leg/cells"
    ing = next(d for d in os.listdir(cells) if d.startswith("ingest="))
    cell = next(d for d in os.listdir(f"{cells}/{ing}") if d.startswith("cell="))
    shutil.move(f"{cells}/{ing}/{cell}", f"{cells}/{cell}")
    with _pytest.raises(ValueError, match="legacy flat"):
        idx.add(emb.limit(1), ingest_id="x")
    with _pytest.raises(ValueError, match="legacy flat"):
        idx.compact()


@pytest.mark.slow
def test_knn_candidates_ivf_path_matches_exact_under_full_probe(spark, tmp_path):
    """The knn_candidates router (VERDICT r9 item 2): forcing the IVF
    path (exact_below=0) with a FULL probe (nprobe = n_cells) must
    reproduce the exact path's top-k election bit-for-bit — a full
    probe scans every cell, so the only difference left is the
    routing machinery itself."""
    from pyspark.sql.window import Window

    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        knn_candidates,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select("vec_id", "embedding")
    k = 5

    def topk(df):
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("neighbor_id")
        )
        return {
            (r.query_id, r.rk): (r.neighbor_id, r.cosine_sim)
            for r in df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .collect()
        }

    exact = topk(knn_candidates(q, c, k=k))
    ivf = topk(
        knn_candidates(
            q, c, k=k, exact_below=0, nprobe=8, ivf_cells=8,
            index_path=str(tmp_path / "router"),
        )
    )
    assert ivf == exact and exact


@pytest.mark.slow
def test_knn_candidates_ivf_path_plan_has_no_nested_loop(spark, tmp_path):
    """Above the bound the router must never build the quadratic pair
    table: no BroadcastNestedLoopJoin / CartesianProduct anywhere in
    the executed plan (the r9 verdict's named scale-killer)."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        knn_candidates,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cand = knn_candidates(
        emb.select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select("vec_id", "embedding"),
        k=5,
        exact_below=0,
        index_path=str(tmp_path / "planidx"),
    )
    cand.collect()
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_candidates_requires_index_path_above_bound(spark):
    import pytest as _pytest

    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        knn_candidates,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with _pytest.raises(ValueError, match="exact-path bound"):
        knn_candidates(
            emb.select(F.col("vec_id").alias("query_id"), "embedding"),
            emb.select("vec_id", "embedding"),
            k=5,
            exact_below=0,
        ).collect()


def test_knn_candidates_rejects_meta_collision(spark):
    import pytest as _pytest

    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        knn_candidates,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with _pytest.raises(ValueError, match="collide"):
        knn_candidates(
            emb.select(F.col("vec_id").alias("query_id"), "embedding", "label"),
            emb.select("vec_id", "embedding", "label"),
            k=1,
        )


@pytest.mark.slow
def test_knn_candidates_asymmetric_with_meta_full_probe(spark, tmp_path):
    """The bitext shape: disjoint query/corpus sides with metadata
    passthrough — IVF path under a full probe must reproduce the
    exact path's candidate top-k including the meta columns."""
    from pyspark.sql.window import Window

    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        knn_candidates,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding",
        (F.col("label")).alias("qlab"),
    )
    c = emb.filter(F.col("label") % 2 == 1).select(
        "vec_id", "embedding", F.col("label").alias("nlab")
    )
    k = 3

    def topk(df):
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("neighbor_id")
        )
        return {
            (r.query_id, r.rk): (r.neighbor_id, r.cosine_sim, r.qlab, r.nlab)
            for r in df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .collect()
        }

    exact = topk(knn_candidates(q, c, k=k))
    ivf = topk(
        knn_candidates(
            q, c, k=k, exact_below=0, nprobe=8, ivf_cells=8,
            index_path=str(tmp_path / "asym"),
        )
    )
    assert ivf == exact and exact
