"""Round-13 regressions: the TakeOrdered re-plans of the unpartitioned
row_number census family (VERDICT r12 item 2), and the full-registry
plan flag-audit parser (VERDICT r12 item 4)."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F
from pyspark.sql import Window

from ml_feature_store_enterprise_grade_spark.registry import load_all, queries

from conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

load_all()


# ---------------------------------------------------------------- #
# VERDICT r12 item 2: no unpartitioned data-sized window sorts       #
# ---------------------------------------------------------------- #


def _executed(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_census_rank_family_has_no_unbounded_window(spark):
    """doc_rake_keyphrases / rec_popularity_ndcg / vocab_zipf_fit must
    not single-task-sort a census-sized frame: the audit parser (which
    caught them) must report zero flags on their executed plans."""
    from tools.explain_all import audit_plan

    for name in (
        "doc_rake_keyphrases",
        "rec_popularity_ndcg",
        "vocab_zipf_fit",
    ):
        plan = _executed(queries()[name](spark, SF_SMOKE))
        assert audit_plan(plan) == [], name


def test_rake_and_ndcg_rank_via_take_ordered(spark):
    """The re-rank idiom: the plan carries TakeOrderedAndProject (the
    per-partition-heap top-k) feeding the bounded re-rank window."""
    for name in ("doc_rake_keyphrases", "rec_popularity_ndcg"):
        plan = _executed(queries()[name](spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan, name


# ---------------------------------------------------------------- #
# VERDICT r12 item 4: the flag-audit parser itself                   #
# ---------------------------------------------------------------- #


def test_audit_flags_unpartitioned_window_over_data(spark):
    from tools.explain_all import audit_plan

    df = spark.range(10_000).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    flags = audit_plan(_executed(df))
    assert any("unpartitioned ordered Window" in f for f in flags)


def test_audit_accepts_bounded_and_partitioned_windows(spark):
    from tools.explain_all import audit_plan

    base = spark.range(10_000).withColumn("g", F.col("id") % 7)
    partitioned = base.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert audit_plan(_executed(partitioned)) == []
    rerank = (
        base.orderBy(F.col("id").desc())
        .limit(5)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.col("id").desc())))
    )
    assert audit_plan(_executed(rerank)) == []


def test_audit_flags_cartesian_product(spark):
    from tools.explain_all import audit_plan

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    df = a.join(b, F.col("id") < F.col("id2"))
    # Force the cartesian strategy (no equi-keys, both sides over the
    # broadcast threshold is not guaranteed at this size — crossJoin
    # with a filter compiles to CartesianProduct when not broadcast).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        flags = audit_plan(_executed(df))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "CartesianProduct" in flags


# ---------------------------------------------------------------- #
# round-13 new operators: exact Python/numpy twins                   #
# ---------------------------------------------------------------- #

import hashlib

import numpy as np

from ml_feature_store_enterprise_grade_spark.catalog import load_table


def _ph64(val: str, seed: int) -> int:
    return int(hashlib.md5(f"{seed}:{val}".encode()).hexdigest()[:15], 16)


def test_permutation_test_matches_python_twin(spark):
    """Full pure-Python replication: Lehmer relabel stream, integer
    common-denominator verdicts, p-value."""
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _BOOT_M,
        _BOOT_POWA,
        _PERM_SEED,
        _PERM_SEGS,
    )

    row = queries()["order_value_permutation_test"](spark, SF_SMOKE).collect()[0]
    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin(*_PERM_SEGS))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("vq"),
            (F.col("c_mktsegment") == _PERM_SEGS[0]).alias("g1"),
        )
        .collect()
    )
    n1 = sum(1 for r in base if r.g1)
    n2 = len(base) - n1
    s1 = sum(r.vq for r in base if r.g1)
    s2 = sum(r.vq for r in base if not r.g1)
    assert (row.n_a, row.n_b) == (n1, n2)
    thr = (_BOOT_M * n1) // (n1 + n2)
    dobs = abs(s1 * n2 - s2 * n1)
    n_extreme = 0
    for b in range(len(_BOOT_POWA)):
        cb1 = cb2 = sb1 = sb2 = 0
        for r in base:
            h = _ph64(str(r.o_orderkey), _PERM_SEED) % (_BOOT_M - 1) + 1
            u = (h * _BOOT_POWA[b]) % _BOOT_M
            if u < thr:
                cb1 += 1
                sb1 += r.vq
            else:
                cb2 += 1
                sb2 += r.vq
        if abs(sb1 * cb2 - sb2 * cb1) * n1 * n2 >= dobs * cb1 * cb2:
            n_extreme += 1
    assert row.n_extreme == n_extreme
    assert row.p_value == np.floor(n_extreme / 100 * 10000 + 0.5) / 10000


def test_bottomk_sample_matches_python_twin(spark):
    from ml_feature_store_enterprise_grade_spark.operators.projection import (
        _BOTTOMK_K,
        _BOTTOMK_SEED,
    )

    rows = queries()["consistent_sample_bottomk"](spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang"
    ).collect()
    bylang: dict[str, list] = {}
    for d in docs:
        bylang.setdefault(d.lang, []).append(
            (_ph64(str(d.doc_id), _BOTTOMK_SEED), d.doc_id)
        )
    expect = {}
    for lang, hs in bylang.items():
        for rank, (h, doc) in enumerate(sorted(hs)[:_BOTTOMK_K], 1):
            expect[(lang, rank)] = (doc, h, len(hs))
    assert len(rows) == len(expect)
    for r in rows:
        doc, h, n = expect[(r.lang, r.rank)]
        assert (r.doc_id, r.h, r.n_stratum) == (doc, h, n)


def test_rbo_matches_numpy_twin(spark):
    """RBO from the two top-k lists, recomputed directly from the
    textbook formula in floats (engine must match within 1e-6 of the
    float form AND be exactly the quantized integer form)."""
    rows = queries()["ranker_rbo_agreement"](spark, SF_SMOKE).collect()
    a = {
        r.doc_id: r.rank
        for r in queries()["bm25_search_topk"](spark, SF_SMOKE).collect()
    }
    b = {
        r.doc_id: r.rank
        for r in queries()["lm_dirichlet_search_topk"](spark, SF_SMOKE).collect()
    }
    p = 0.9
    rbo = 0.0
    for row in rows:
        d = row.depth
        x = sum(
            1 for doc, ra in a.items() if ra <= d and b.get(doc, 99) <= d
        )
        assert row.n_overlap == x
        rbo += (1 - p) * p ** (d - 1) * x / d
        assert abs(row.rbo_at_depth - rbo) < 2e-4  # weight quantization
    assert rows[-1].depth == 20


def test_temperature_sweep_matches_python_twin(spark):
    rows = queries()["mixture_temperature_sweep"](spark, SF_SMOKE).collect()
    counts = {
        r.lang: r["count"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .count()
        .collect()
    }
    n = sum(counts.values())
    for row in rows:
        k = row.inv_tau
        nk = {l: c**k for l, c in counts.items()}
        snk = sum(nk.values())
        sn2k = sum(c ** (2 * k) for c in counts.values())
        assert row.n_docs == counts[row.lang]
        assert row.weight == np.floor(nk[row.lang] / snk * 1e6 + 0.5) / 1e6
        assert row.eff_langs == np.floor(snk * snk / sn2k * 1e4 + 0.5) / 1e4


def test_shuffle_audit_matches_python_twin(spark):
    import math

    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        _SHUF_BATCH,
        _SHUF_EPOCH_SEED,
    )

    rows = queries()["epoch_shuffle_quality_audit"](spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang"
    ).collect()
    order = sorted(
        (( _ph64(str(d.doc_id), _SHUF_EPOCH_SEED), d.doc_id), d.lang)
        for d in docs
    )
    batches: dict[int, dict[str, int]] = {}
    for rank, (_, lang) in enumerate(order):
        batches.setdefault(rank // _SHUF_BATCH, {}).setdefault(lang, 0)
        batches[rank // _SHUF_BATCH][lang] += 1
    he: dict[int, list[int]] = {}
    for cs in batches.values():
        nb = sum(cs.values())
        sclc = sum(c * math.floor(math.log(c) * 1e6) for c in cs.values())
        he6 = math.floor((math.log(nb) - sclc / nb / 1e6) * 1e6 + 0.5)
        he.setdefault(len(cs), []).append(he6)
    assert {r.n_langs for r in rows} == set(he)
    for r in rows:
        hs = he[r.n_langs]
        assert r.n_batches == len(hs)
        assert r.min_batch_entropy == np.floor(min(hs) / 1e6 * 1e6 + 0.5) / 1e6
        assert (
            r.mean_batch_entropy
            == np.floor(sum(hs) / len(hs) / 1e6 * 1e6 + 0.5) / 1e6
        )


def test_fellegi_sunter_length_dominates(spark):
    """The learned weights must rank length far above lang/source
    (the generator randomizes near-dup metadata), and every m/u must
    be a valid smoothed probability."""
    rows = {
        r.field: r
        for r in queries()["fellegi_sunter_weights"](spark, SF_SMOKE).collect()
    }
    assert set(rows) == {"lang", "length", "source"}
    for r in rows.values():
        assert 0 < r.m_prob < 1 and 0 < r.u_prob < 1
        assert r.n_match_agree <= r.n_match_pairs
        assert r.n_unmatch_agree <= r.n_unmatch_pairs
    assert rows["length"].w_agree_bits > 2.0
    assert rows["length"].w_agree_bits > rows["lang"].w_agree_bits + 1.5
    assert rows["length"].w_agree_bits > rows["source"].w_agree_bits + 1.5
    assert rows["length"].w_disagree_bits < -1.0


def test_als_epoch_matches_numpy_twin(spark):
    """Exact numpy replication of both half-steps with the same
    integer quantization — factors and SSE must match bit-for-bit."""
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _ALS_LAMBDA_Q12,
        _ALS_SEED,
    )

    out = {
        r.stage: r
        for r in queries()["item_implicit_als_epoch"](spark, SF_SMOKE).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_custkey").alias("u"), "o_orderkey"
    )
    l = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("i")
    )
    r_pairs = [
        (r.u, r.i)
        for r in o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select("u", "i")
        .distinct()
        .collect()
    ]
    users = sorted({u for u, _ in r_pairs})
    uf = {
        u: (1_000_000, _ph64(str(u), _ALS_SEED) % 1000001 - 500000)
        for u in users
    }

    def solve(ratings_by_entity, factors):
        out_f = {}
        for e, others in ratings_by_entity.items():
            a11 = sum(factors[o][0] ** 2 for o in others) + _ALS_LAMBDA_Q12
            a12 = sum(factors[o][0] * factors[o][1] for o in others)
            a22 = sum(factors[o][1] ** 2 for o in others) + _ALS_LAMBDA_Q12
            b1 = sum(factors[o][0] for o in others)
            b2 = sum(factors[o][1] for o in others)
            det = a11 * a22 - a12 * a12
            n0 = a22 * b1 - a12 * b2
            n1 = a11 * b2 - a12 * b1
            v0 = (abs(n0) * 10**12) // det * (1 if n0 >= 0 else -1)
            v1 = (abs(n1) * 10**12) // det * (1 if n1 >= 0 else -1)
            out_f[e] = (v0, v1)
        return out_f

    by_item: dict[int, list[int]] = {}
    by_user: dict[int, list[int]] = {}
    for u, i in r_pairs:
        by_item.setdefault(i, []).append(u)
        by_user.setdefault(u, []).append(i)
    vi = solve(by_item, uf)
    uf2 = solve(by_user, vi)

    def sse(fa, fb):
        return sum(
            (10**12 - (fa[u][0] * fb[i][0] + fa[u][1] * fb[i][1])) ** 2
            for u, i in r_pairs
        )

    import math

    n = len(r_pairs)
    for stage, fa in (("after_item_step", uf), ("after_epoch", uf2)):
        s = sse(fa, vi)
        want = math.floor(math.sqrt(s / 1e24 / n) * 1e6 + 0.5) / 1e6
        assert out[stage].rmse == want, stage
        assert out[stage].n_interactions == n


def test_cobuy_jaccard_topk_matches_python_twin(spark):
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _IJ_MIN_SUPPORT,
        _IJ_TOPK,
    )

    rows = queries()["item_cobuy_jaccard_topk"](spark, SF_SMOKE).collect()
    baskets = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    import collections
    import math

    by_order = collections.defaultdict(set)
    n_item = collections.Counter()
    for r in baskets:
        by_order[r.l_orderkey].add(r.l_partkey)
        n_item[r.l_partkey] += 1
    pair = collections.Counter()
    for items in by_order.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair[(s[i], s[j])] += 1
    nbrs = collections.defaultdict(list)
    for (a, b), nab in pair.items():
        if nab < _IJ_MIN_SUPPORT:
            continue
        for x, y in ((a, b), (b, a)):
            un = n_item[x] + n_item[y] - nab
            jac = math.floor(nab / un * 1e6 + 0.5) / 1e6
            nbrs[x].append((-jac, y, nab, un))
    expect = {}
    for item, lst in nbrs.items():
        for rank, (njac, y, nab, un) in enumerate(sorted(lst)[:_IJ_TOPK], 1):
            expect[(item, rank)] = (y, nab, un, -njac)
    assert len(rows) == len(expect)
    for r in rows:
        y, nab, un, jac = expect[(r.item_id, r.rank)]
        assert (r.neighbor_id, r.n_cobuy, r.n_union, r.jaccard) == (
            y, nab, un, jac,
        ), (r.item_id, r.rank)


def test_stream_bottomk_matches_batch_and_is_idempotent(spark, tmp_path):
    """The incrementally-maintained sample must equal the batch
    bottom-k, and re-delivering a micro-batch must not change the
    standing state (the exactly-once property)."""
    from ml_feature_store_enterprise_grade_spark.operators.projection import (
        _BOTTOMK_K,  # noqa: F401  (sibling referenced for context)
    )
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        _SBK_K,
        _SBK_SEED,
        _bottomk_merge_processor,
    )

    rows = queries()["stream_bottomk_sample"](spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type"
    ).collect()
    bytype: dict[str, list] = {}
    for e in ev:
        if e.event_id is None:
            continue
        bytype.setdefault(e.event_type, []).append(
            (_ph64(str(e.event_id), _SBK_SEED), e.event_id)
        )
    expect = {}
    for t, hs in bytype.items():
        for rank, (h, eid) in enumerate(sorted(hs)[:_SBK_K], 1):
            expect[(t, rank)] = (eid, h)
    assert len(rows) == len(expect)
    for r in rows:
        assert expect[(r.event_type, r.rank)] == (r.event_id, r.h)

    # idempotence: fold the same batch twice into a fresh state dir
    state = str(tmp_path / "state")
    proc = _bottomk_merge_processor(state, _SBK_K)
    batch = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type"
    )
    proc(batch, 0)
    once = sorted(map(tuple, spark.read.parquet(state).collect()))
    proc(batch, 0)
    twice = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert once == twice


def test_stream_bottomk_merge_tolerates_null_ids_and_types(spark, tmp_path):
    """A micro-batch carrying NULL event_ids (and a NULL event_type)
    folds without error: NULL ids never enter the sample, and the NULL
    type keeps its own bottom-k like any other type."""
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        _SBK_SEED,
        _bottomk_merge_processor,
    )

    raw = [(None, "click"), (None, None), (1, "click"), (2, "click"),
           (3, "click"), (4, None), (5, None), (6, "view")]
    batch = spark.createDataFrame(raw, "event_id bigint, event_type string")
    state = str(tmp_path / "state")
    proc = _bottomk_merge_processor(state, 2)
    proc(batch, 0)
    proc(batch, 1)
    got = sorted(
        ((r.event_type or ""), r.event_id, r.h)
        for r in spark.read.parquet(state).collect()
    )
    bytype: dict = {}
    for eid, et in raw:
        if eid is not None:
            bytype.setdefault(et or "", []).append((_ph64(str(eid), _SBK_SEED), eid))
    expect = sorted(
        (et, eid, h) for et, hs in bytype.items() for h, eid in sorted(hs)[:2]
    )
    assert got == expect
