"""Round-11 operators: the router's forced-IVF driver query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.operators.similarity import (
    _ROUTER_RECALL_FLOOR,
    knn_router_ivf_recall,
)

from conftest import SF_ORACLE, SF_SMOKE


@pytest.mark.slow
def test_router_ivf_recall_floor(spark):
    """The production IVF route must clear the pinned recall floor at
    both local scales (measured r11: 0.632 @ sf0.01, 0.676 @ sf0.001
    — random-embedding regime, the hardest case for IVF)."""
    for sf in (SF_SMOKE, SF_ORACLE):
        row = knn_router_ivf_recall(spark, sf).collect()[0]
        assert row["floor_met"], (sf, row["recall"])
        assert row["recall"] >= _ROUTER_RECALL_FLOOR
        assert row["n_queries"] > 0


def test_router_ivf_recall_plan_shape(spark):
    """The forced route must be the cell-pruned shortlist: no
    BroadcastNestedLoopJoin / CartesianProduct in the SHORTLIST
    frame's plan (the quadratic pair table is never built there).
    The full query's plan legitimately keeps two bounded NLJs — the
    exact BASELINE the recall is scored against, and the final 1-row
    stat attachment — so the assertion targets the production side."""
    from ml_feature_store_enterprise_grade_spark.catalog import (
        cached_count,
        load_table,
        spread,
    )
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        _TOPK,
        knn_candidates,
        knn_index_path,
    )

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    sl = knn_candidates(
        emb.select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select("vec_id", "embedding"),
        k=_TOPK,
        exact_below=0,
        index_path=knn_index_path(SF_ORACLE, "router_recall"),
        corpus_rows=cached_count(emb, SF_ORACLE, "embeddings"),
    )
    sl.collect()
    plan = sl._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_router_ivf_recall_deterministic(spark):
    """Two invocations return identical rows (memoized index +
    deterministic ranking)."""
    a = knn_router_ivf_recall(spark, SF_ORACLE).collect()
    b = knn_router_ivf_recall(spark, SF_ORACLE).collect()
    assert a == b


def test_curriculum_python_twin(spark):
    """Exact pandas twin of corpus_token_budget_curriculum: score,
    order, accumulate and phase in pure Python from the raw parquet."""
    import collections
    import math

    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.text import (
        _CURRICULUM_CORE_DECI,
        _CURRICULUM_WARM_DECI,
        corpus_token_budget_curriculum,
    )

    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")

    def norm(t):
        return " ".join(t.lower().split())

    vocab = collections.Counter()
    per_doc = {}
    for _, r in docs.iterrows():
        toks = norm(r["text"]).split(" ")
        vocab.update(toks)
        per_doc[r["doc_id"]] = toks
    total = sum(vocab.values())
    cq = {
        w: math.floor(math.log10(n / total) * 1_000_000.0)
        for w, n in vocab.items()
    }
    scored = []
    for doc_id, toks in per_doc.items():
        nt = len(toks)
        sq = sum(cq[t] for t in toks)
        scored.append((doc_id, nt, sq, sq / nt))
    scored.sort(key=lambda x: (-x[3], x[0]))
    corpus_tokens = sum(nt for _, nt, _, _ in scored)
    cum = 0
    want = {}
    for doc_id, nt, sq, mq in scored:
        cum += nt
        if cum * 10 <= corpus_tokens * _CURRICULUM_WARM_DECI:
            phase = "warmup"
        elif cum * 10 <= corpus_tokens * _CURRICULUM_CORE_DECI:
            phase = "core"
        else:
            phase = "tail"
        want[doc_id] = (nt, cum, phase)
    got = corpus_token_budget_curriculum(spark, SF_ORACLE).collect()
    assert len(got) == len(want)
    for row in got:
        nt, cum, phase = want[row["doc_id"]]
        assert (row["n_tokens"], row["cum_tokens"], row["phase"]) == (
            nt, cum, phase,
        ), row


def test_shard_cut_plan_python_twin(spark):
    """Exact pandas twin of training_shard_cut_plan (hash order,
    running totals, integer-division cuts)."""
    import hashlib

    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        _CHARS_PER_TOKEN,
        _SHARD_CUT_SEED,
        _SHARD_CUT_TARGET,
        training_shard_cut_plan,
    )

    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")

    def h64(s):
        return int(
            hashlib.md5(f"{_SHARD_CUT_SEED}:{s}".encode()).hexdigest()[:15],
            16,
        )

    rows = sorted(
        (
            (h64(str(r["doc_id"])), r["doc_id"],
             max(1, int(r["n_chars"]) // _CHARS_PER_TOKEN))
            for _, r in docs.iterrows()
        ),
    )
    shards = {}
    cum = 0
    for h, doc_id, nt in rows:
        cum += nt
        sid = (cum - 1) // _SHARD_CUT_TARGET
        n, tok, _ = shards.get(sid, (0, 0, 0))
        shards[sid] = (n + 1, tok + nt, cum)
    got = {
        r["shard_id"]: (r["n_docs"], r["shard_tokens"], r["cum_end"])
        for r in training_shard_cut_plan(spark, SF_ORACLE).collect()
    }
    assert got == shards


def test_dp_histogram_noise_ladder_is_inverse_cdf(spark):
    """The threshold ladder must equal the direct discrete-Laplace
    inverse CDF at 1e9 resolution for every representative u, and the
    released counts must reconcile with the true counts."""
    import math

    from ml_feature_store_enterprise_grade_spark.operators.quality import (
        _DPH_EPS,
        _DPH_K,
        _DPH_THRESH_E9,
        dp_histogram_release,
    )

    a = math.exp(-_DPH_EPS)

    def cdf(k):
        if k < 0:
            return a ** (-k) / (1 + a)
        return 1 - a ** (k + 1) / (1 + a)

    def direct_noise(u):
        for k in range(-_DPH_K, _DPH_K + 1):
            if k == _DPH_K or u < math.floor(cdf(k) * 1e9):
                return k
        raise AssertionError

    for u in list(range(0, 1_000_000_000, 13_371_337)) + [
        0, 499_999_999, 999_999_999,
    ]:
        ladder = -_DPH_K + sum(1 for t in _DPH_THRESH_E9 if u >= t)
        assert ladder == direct_noise(u), u
    out = dp_histogram_release(spark, SF_ORACLE).collect()
    assert len(out) > 0
    for r in out:
        assert r["released"] == r["true_n"] + r["noise"]
        assert r["released_nonneg"] == max(r["released"], 0)
        assert abs(r["noise"]) <= _DPH_K
    # noise must actually vary across cells (the mechanism is live)
    assert len({r["noise"] for r in out}) > 1


def test_median_ci_python_twin(spark):
    """Exact numpy twin of order_value_median_ci: sorted order stats
    at the binomial-approximation ranks."""
    import math

    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _MED_CI_Z,
        order_value_median_ci,
    )

    o = pd.read_parquet(f"{SF_ORACLE}/orders.parquet")
    v = o[["o_totalprice", "o_orderkey"]].dropna()
    v = v.sort_values(["o_totalprice", "o_orderkey"]).reset_index(drop=True)
    n = len(v)
    lo = max(1, math.floor((n - _MED_CI_Z * math.sqrt(n)) / 2))
    hi = min(n, math.ceil((n + _MED_CI_Z * math.sqrt(n)) / 2) + 1)
    row = order_value_median_ci(spark, SF_ORACLE).collect()[0]
    assert row["n"] == n
    assert row["lo_rank"] == lo and row["hi_rank"] == hi
    assert row["ci_lo"] == round(float(v["o_totalprice"].iloc[lo - 1]), 2)
    assert row["ci_hi"] == round(float(v["o_totalprice"].iloc[hi - 1]), 2)
    assert row["ci_lo"] <= row["median_lo"] <= row["median_hi"] <= row["ci_hi"]


def test_conformal_coverage_guarantee(spark):
    """Per-group realized coverage must sit near the nominal 0.90
    (measured 0.897–0.926 at sf0.01; floor 0.85 leaves finite-sample
    room), and the q̂ rank must be the conformal ceil((n+1)(1−α))."""
    import math

    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _CONF_ALPHA,
        order_value_conformal_interval,
    )

    rows = order_value_conformal_interval(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["coverage"] >= 0.85, (r["prio"], r["coverage"])
        assert r["n_covered"] <= r["n_test"]
        assert r["qhat"] > 0
    # marginal coverage across groups also >= 1 - alpha - slack
    tot_cov = sum(r["n_covered"] for r in rows)
    tot_n = sum(r["n_test"] for r in rows)
    assert tot_cov / tot_n >= 1 - _CONF_ALPHA - 0.02
    assert math.isclose(sum(r["coverage"] for r in rows) / 5, 0.909, abs_tol=0.05)


@pytest.mark.slow
def test_bootstrap_se_matches_analytic(spark):
    """The counter-based (seed-hash + Lehmer skip-ahead) bootstrap
    must still estimate the sampling error correctly: boot_se within
    15% of the analytic σ/√n (B=100 gives boot_se its own ~7%
    noise), and the percentile CI must bracket the mean."""
    import math

    from ml_feature_store_enterprise_grade_spark import registry
    from pyspark.sql import functions as F

    registry.load_all()
    q = registry.queries()["order_value_bootstrap_ci"]
    row = q(spark, SF_ORACLE).collect()[0]
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
        F.col("o_totalprice").isNotNull()
    )
    st = o.agg(
        F.count("*").alias("n"), F.stddev("o_totalprice").alias("s")
    ).first()
    analytic = st["s"] / math.sqrt(st["n"])
    assert abs(row["boot_se"] - analytic) / analytic < 0.15, (
        row["boot_se"], analytic,
    )
    assert row["ci_lo"] < row["mean_value"] < row["ci_hi"]


def test_bootstrap_weight_marginal_is_poisson(spark):
    """Marginal Poisson(1) calibration of the Lehmer-derived weights:
    empirical weight shares across all (row, replicate) draws at
    sf0.01 must match the Poisson pmf within 1% absolute."""
    import math

    from ml_feature_store_enterprise_grade_spark.functions import (
        portable_hash64,
    )
    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _BOOT_B,
        _BOOT_M,
        _BOOT_POWA,
        _BOOT_SEED,
        _boot_w_sql,
    )
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
        F.col("o_totalprice").isNotNull()
    )
    sd = o.select(
        (
            portable_hash64(
                F.col("o_orderkey").cast("string"), seed=_BOOT_SEED
            )
            % (_BOOT_M - 1)
            + 1
        ).alias("h")
    )
    pa = F.array(
        *[
            F.struct(F.lit(b).alias("b"), F.lit(x).alias("pa"))
            for b, x in enumerate(_BOOT_POWA)
        ]
    )
    w = (
        sd.select("h", F.explode(pa).alias("s"))
        .select(((F.col("h") * F.col("s.pa")) % _BOOT_M).alias("u"))
        .select(F.expr(_boot_w_sql("u")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in w)
    shares = {r["w"]: r["count"] / total for r in w}
    for k in range(4):
        pmf = math.exp(-1) / math.factorial(k)
        assert abs(shares.get(k, 0.0) - pmf) < 0.01, (k, shares.get(k), pmf)


def test_hill_tail_index_python_twin(spark):
    """Exact numpy twin of the Hill estimator (quantized-log ladder)."""
    import math

    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _HILL_K,
        event_value_hill_tail_index,
    )

    e = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    v = e[["value", "event_id"]].dropna()
    v = v[(v["value"] > 0) & (~v["value"].isna())]
    v = v.sort_values(["value", "event_id"], ascending=[False, True])
    top = v.head(_HILL_K + 1)["value"].tolist()
    lnq = [math.floor(math.log(x) * 1_000_000.0) for x in top]
    s = sum(lnq[:_HILL_K])
    gamma = (s - _HILL_K * lnq[_HILL_K]) / (_HILL_K * 1_000_000.0)
    row = event_value_hill_tail_index(spark, SF_ORACLE).collect()[0]
    assert row["hill_gamma"] == round(gamma, 6)
    assert row["threshold"] == top[_HILL_K]
    assert row["gamma_ci_lo"] < row["hill_gamma"] < row["gamma_ci_hi"]


def test_lm_dirichlet_python_twin(spark):
    """Exact-ranking twin: the scorer's top-20 doc ids and 6-dp
    scores recomputed from the raw parquet in pure Python."""
    import collections
    import math

    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.text import (
        _BM25_QUERY,
        _LMD_MU,
        _LMD_TOPK,
        lm_dirichlet_search_topk,
    )

    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    toks = {
        r["doc_id"]: " ".join(r["text"].lower().split()).split(" ")
        for _, r in docs.iterrows()
    }
    total = sum(len(t) for t in toks.values())
    cf = collections.Counter()
    for t in toks.values():
        cf.update(w for w in t if w in _BM25_QUERY)
    scored = []
    for doc_id, t in toks.items():
        s = 0.0
        tf = collections.Counter(w for w in t if w in _BM25_QUERY)
        for q in _BM25_QUERY:
            p = _LMD_MU * cf[q] / total
            s += math.log(tf[q] + p) - math.log(len(t) + _LMD_MU)
        scored.append((round(s, 6), doc_id))
    want = sorted(scored, key=lambda x: (-x[0], x[1]))[:_LMD_TOPK]
    got = lm_dirichlet_search_topk(spark, SF_ORACLE).collect()
    assert [(r["score"], r["doc_id"]) for r in got] == want


def test_edge_embeddedness_python_twin(spark):
    """Pure-Python twin over the raw lineitem parquet: build the
    >=2-support co-buy graph, count triangle support per edge,
    compare the histogram."""
    import collections
    import itertools

    import pandas as pd

    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        cobuy_edge_embeddedness,
    )

    l = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    baskets = collections.defaultdict(set)
    for _, r in l.iterrows():
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    pair = collections.Counter()
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            pair[(a, b)] += 1
    edges = {e for e, c in pair.items() if c >= 2}
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    hist = collections.Counter()
    for a, b in edges:
        hist[len(adj[a] & adj[b])] += 1
    got = {
        r["embeddedness"]: r["n_edges"]
        for r in cobuy_edge_embeddedness(spark, SF_SMOKE).collect()
    }
    assert got == dict(hist)


def test_image_gradient_kernel_position_exact(spark):
    """The gradient kernel must be POSITION-exact: on a hand-built
    4×2 ramp image the sums match manual arithmetic, and permuting
    the raster (which preserves every histogram) changes the result
    — the decoder property the order-free kernels cannot certify."""
    from ml_feature_store_enterprise_grade_spark.operators.multimodal import (
        image_gradient_stats,
    )

    header = b"P6\n4 2\n255\n"
    row0 = bytes([0, 0, 0, 10, 10, 10, 30, 30, 30, 60, 60, 60])
    row1 = bytes([5, 5, 5, 5, 5, 5, 5, 5, 5, 5, 5, 5])
    ramp = header + row0 + row1
    # horizontal: row0 |0-10|+|10-30|+|30-60| = 60 per band ×3 = 180;
    # row1 all zero.  vertical: |row0 - row1| = (5+5+25+55)×3 = 270.
    permuted = header + row1 + row0  # same byte multiset
    df = spark.createDataFrame(
        [(1, bytearray(ramp)), (2, bytearray(permuted))],
        "doc_id long, payload binary",
    )
    got = {
        r["doc_id"]: (r["h_grad_sum"], r["v_grad_sum"], r["n_h_pairs"],
                      r["n_v_pairs"])
        for r in image_gradient_stats(df).collect()
    }
    assert got[1] == (180, 270, 18, 12)
    # row swap: horizontal unchanged per-row, vertical |row1-row0| same
    # absolute values here — so ALSO permute within the row for doc 2
    shuffled = header + bytes([60, 60, 60, 0, 0, 0, 10, 10, 10, 30, 30, 30]) + row1
    df2 = spark.createDataFrame(
        [(3, bytearray(shuffled))], "doc_id long, payload binary"
    )
    (r3,) = image_gradient_stats(df2).collect()
    # same multiset as doc 1's raster, different adjacency
    assert (r3["h_grad_sum"], r3["v_grad_sum"]) != (180, 270)


def test_stream_dp_release_matches_batch_mechanism(spark):
    """The streaming release must publish, for every finalized cell,
    exactly what the batch mechanism would publish for the same cell
    key — replay-safe ε accounting (the op's core claim)."""
    from ml_feature_store_enterprise_grade_spark.operators.quality import (
        _DPH_K,
        _DPH_SEED,
        _DPH_THRESH_E9,
    )
    from ml_feature_store_enterprise_grade_spark.functions.scalar import (
        portable_hash64 as _,  # noqa: F401 (imported for parity of surface)
    )
    import hashlib

    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        stream_dp_histogram_release,
    )

    out = stream_dp_histogram_release(spark, SF_SMOKE).collect()
    assert len(out) > 0

    def h64(s):
        return int(
            hashlib.md5(f"{_DPH_SEED}:{s}".encode()).hexdigest()[:15], 16
        )

    for r in out[:50]:
        key = (
            r["window_start"].strftime("%Y-%m-%d %H:%M:%S")
            + "|"
            + r["event_type"]
        )
        u = h64(key) % 1_000_000_000
        noise = -_DPH_K + sum(1 for t in _DPH_THRESH_E9 if u >= t)
        assert r["noise"] == noise, (key, r["noise"], noise)
        assert r["released"] == r["true_n"] + noise
