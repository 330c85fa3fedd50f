"""Semantic invariants for the round-10 post-seal operator batch
(range-partition balance plan, part price-dispersion audit, embedding
effective rank).  Oracle parity certifies VALUES; these pin the
properties parity can't state: exact Python twins, partition-cover
completeness, and the participation-ratio bounds.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.catalog import load_table
from tests.conftest import SF_SMOKE

_Q = registry.queries()


# --- range_partition_balance_plan ------------------------------------


def test_range_partition_plan_covers_and_balances(spark):
    rows = sorted(
        _Q["range_partition_balance_plan"](spark, SF_SMOKE).collect(),
        key=lambda r: r.partition_idx,
    )
    n_parts = len(rows)
    assert [r.partition_idx for r in rows] == list(range(n_parts))
    total = sum(r.n_rows for r in rows)
    n_events = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("ts").isNotNull())
        .count()
    )
    # every non-null-ts event lands in exactly one partition
    assert total == n_events
    for a, b in zip(rows, rows[1:]):
        # ranges are disjoint and ordered: each partition's days start
        # strictly after the previous partition's last day
        assert a.date_hi < b.date_lo
    for r in rows:
        assert r.date_lo <= r.date_hi
        assert r.n_days >= 1 and r.n_rows >= 1
        # balance_ratio is row_share * P through the same rounding
        assert abs(r.balance_ratio - r.row_share * n_parts) < 1e-2
    assert abs(sum(r.row_share for r in rows) - 1.0) < 1e-4


def test_range_partition_plan_matches_python_cutter(spark):
    """Partition assignment must equal the exact integer-arithmetic
    cut over the per-day counts computed in Python."""
    days = sorted(
        (r.day, r.n)
        for r in load_table(spark, SF_SMOKE, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    total = sum(n for _, n in days)
    n_parts = 8
    want: dict[int, list] = {}
    cum = 0
    for day, n in days:
        idx = min(cum * n_parts // total, n_parts - 1)
        want.setdefault(idx, []).append((day, n))
        cum += n
    got = {
        r.partition_idx: r
        for r in _Q["range_partition_balance_plan"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for idx, lst in want.items():
        assert got[idx].date_lo == min(d for d, _ in lst)
        assert got[idx].date_hi == max(d for d, _ in lst)
        assert got[idx].n_days == len(lst)
        assert got[idx].n_rows == sum(n for _, n in lst)


# --- part_price_dispersion_audit --------------------------------------


def test_price_dispersion_matches_python_twin(spark):
    """Top-k CV ranking vs an exact-integer Python twin over the same
    quantized unit prices."""
    items = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_partkey",
            "l_suppkey",
            F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100.0)
            .cast("bigint")
            .alias("qc"),
        )
        .collect()
    )
    by_part: dict = {}
    for r in items:
        by_part.setdefault(r.l_partkey, []).append((r.l_suppkey, r.qc))
    cand = []
    for pk, lst in by_part.items():
        supps = {s for s, _ in lst}
        if len(supps) < 2 or len(lst) < 2:
            continue
        n = len(lst)
        s1 = sum(q for _, q in lst)
        s2 = sum(q * q for _, q in lst)
        var = (n * s2 - s1 * s1) / (n * n)
        cv = math.floor(math.sqrt(var) / (s1 / n) * 10000.0 + 0.5) / 10000.0
        cand.append((pk, n, len(supps), cv))
    cand.sort(key=lambda t: (-t[3], t[0]))
    want = cand[:20]
    got = sorted(
        _Q["part_price_dispersion_audit"](spark, SF_SMOKE).collect(),
        key=lambda r: (-r.price_cv, r.l_partkey),
    )
    assert [(r.l_partkey, r.n_items, r.n_suppliers, r.price_cv) for r in got] == want


def test_price_dispersion_values_sane(spark):
    for r in _Q["part_price_dispersion_audit"](spark, SF_SMOKE).collect():
        assert r.n_suppliers >= 2
        assert r.n_items >= r.n_suppliers
        assert r.mean_unit_price > 0
        assert r.price_cv >= 0


# --- embedding_effective_rank ------------------------------------------


def test_effective_rank_bounds_and_numpy_twin(spark):
    import numpy as np

    row = _Q["embedding_effective_rank"](spark, SF_SMOKE).collect()[0]
    d = row.n_dims
    # participation ratio is bounded by [1, d]
    assert 1.0 <= row.effective_rank <= d + 1e-9
    assert abs(row.isotropy_share - row.effective_rank / d) < 1e-3
    # numpy twin over the same quantized corpus: PR from the exact
    # population covariance must agree to the cov_e6 quantization
    # error (~d²·1ulp of the 1e-6 grid → loose 2% band)
    vecs = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("embedding")
        .collect()
    )
    X = np.floor(np.array([r.embedding for r in vecs], dtype=np.float64) * 1e6)
    C = np.cov(X, rowvar=False, bias=True)
    pr = np.trace(C) ** 2 / (C * C).sum()
    assert abs(row.effective_rank - pr) / pr < 0.02
    # trace consistency: tr(C)/1e6 vs trace_e6 (both in 1e-6 units)
    assert abs(row.trace_e6 - np.trace(C) / 1e6) / (np.trace(C) / 1e6) < 0.01


# --- doc_compression_ratio_screen ----------------------------------------


def test_compression_screen_matches_zlib_twin(spark):
    """The band table must equal a pure-Python zlib sweep over the
    same documents (exact per-mille quantization, exact counts)."""
    import zlib

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("source", "text")
        .collect()
    )
    want: dict = {}
    for r in docs:
        b = (r.text or "").encode("utf-8")
        r_m = len(zlib.compress(b, 6)) * 1000 // len(b) if b else 1000
        band = min(r_m // 100, 10)
        key = (r.source, band)
        n, s = want.get(key, (0, 0))
        want[key] = (n + 1, s + r_m)
    got = {
        (r.source, r.ratio_band): r
        for r in _Q["doc_compression_ratio_screen"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for key, (n, s) in want.items():
        assert got[key].n_docs == n
        assert got[key].mean_ratio == math.floor(s / n + 0.5) / 1000.0
        band = key[1]
        expect_screen = (
            "flag_repetitive"
            if band < 3
            else ("flag_incompressible" if band >= 10 else "keep")
        )
        assert got[key].screen == expect_screen


def test_compression_screen_band_contains_mean(spark):
    for r in _Q["doc_compression_ratio_screen"](spark, SF_SMOKE).collect():
        lo, hi = r.ratio_band / 10.0, (r.ratio_band + 1) / 10.0
        if r.ratio_band == 10:
            assert r.mean_ratio >= 1.0 - 1e-9
        else:
            assert lo - 1e-3 <= r.mean_ratio <= hi + 1e-3


# --- embedding_pq_adc_recall ----------------------------------------------


def test_pq_adc_recall_matches_numpy_twin(spark):
    """Per-query recall@10 vs a numpy twin that replicates the exact
    ranking discipline (6-dp-rounded cosine, id tiebreak)."""
    import numpy as np

    vecs = sorted(
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in vecs])
    X = np.array([r.embedding for r in vecs], dtype=np.float64)
    lo, hi = X.min(0), X.max(0)
    rng = np.where(hi > lo, hi - lo, 1.0)
    lev = np.clip(np.floor((X - lo) / rng * 4), 0, 3)
    recon = np.where(hi > lo, lo + (lev + 0.5) * (hi - lo) / 4.0, lo)

    def topk(qv, B, k=10, skip=None):
        sims = B @ qv / (np.linalg.norm(B, axis=1) * np.linalg.norm(qv))
        order = sorted(
            (i for i in range(len(B)) if ids[i] != skip),
            key=lambda i: (-round(sims[i], 6), ids[i]),
        )
        return {ids[i] for i in order[:k]}

    want = {}
    for qi in range(min(20, len(ids))):
        e10 = topk(X[qi], X, skip=ids[qi])
        a10 = topk(X[qi], recon, skip=ids[qi])
        want[ids[qi]] = len(e10 & a10)
    got = {
        r.query_id: r
        for r in _Q["embedding_pq_adc_recall"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for qid, hits in want.items():
        assert got[qid].n_hits == hits
        assert abs(got[qid].recall_at_10 - hits / 10.0) < 1e-12
        assert 0 <= got[qid].n_hits <= 10


# --- user_decay_features ---------------------------------------------------


def test_decay_features_matches_python_twin(spark):
    """Decayed aggregates vs an exact-integer Python twin using the
    same quantized weight table."""
    from datetime import date

    from ml_feature_store_enterprise_grade_spark.operators.feature_agg import (
        _DECAY_ASOF,
        _DECAY_MAX_AGE_D,
        _DECAY_WQ,
    )

    anchor = date.fromisoformat(_DECAY_ASOF)
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & ~F.isnan("value")
        )
        .select("user_id", "ts", "value")
        .collect()
    )
    want: dict = {}
    for r in ev:
        d = min(max((anchor - r.ts.date()).days, 0), _DECAY_MAX_AGE_D)
        vq = math.floor(r.value * 100.0)
        n, mind, swq, svwq = want.get(r.user_id, (0, 10**9, 0, 0))
        want[r.user_id] = (
            n + 1,
            min(mind, d),
            swq + _DECAY_WQ[d],
            svwq + vq * _DECAY_WQ[d],
        )
    got = {
        r.user_id: r
        for r in _Q["user_decay_features"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for uid, (n, mind, swq, svwq) in want.items():
        g = got[uid]
        assert g.n_events == n
        assert g.last_event_age_days == mind
        assert g.decayed_count == math.floor(swq / 1e6 * 1e6 + 0.5) / 1e6
        assert g.decayed_value_sum == math.floor(svwq / 1e8 * 1e6 + 0.5) / 1e6
        # a decayed count never exceeds the raw count
        assert g.decayed_count <= n + 1e-9


# --- approximate_fd_audit --------------------------------------------------


@pytest.mark.slow
def test_fd_audit_matches_python_twin(spark):
    from ml_feature_store_enterprise_grade_spark.operators.quality import (
        _FD_CANDIDATES,
    )

    got = {r.fd: r for r in _Q["approximate_fd_audit"](spark, SF_SMOKE).collect()}
    assert len(got) == len(_FD_CANDIDATES)
    for tab, lhs, rhs in _FD_CANDIDATES:
        rows = (
            load_table(spark, SF_SMOKE, tab)
            .filter(F.col(lhs).isNotNull() & F.col(rhs).isNotNull())
            .select(F.col(lhs).alias("k"), F.col(rhs).alias("v"))
            .collect()
        )
        cnt: dict = {}
        for r in rows:
            cnt[(r.k, r.v)] = cnt.get((r.k, r.v), 0) + 1
        per_k: dict = {}
        for (k, _v), n in cnt.items():
            tot, mx, ndv = per_k.get(k, (0, 0, 0))
            per_k[k] = (tot + n, max(mx, n), ndv + 1)
        n_rows = sum(t for t, _, _ in per_k.values())
        n_groups = len(per_k)
        viol = sum(1 for _, _, ndv in per_k.values() if ndv > 1)
        g3 = 1.0 - sum(m for _, m, _ in per_k.values()) / n_rows
        g = got[f"{tab}.{lhs}->{rhs}"]
        assert g.n_rows == n_rows
        assert g.n_groups == n_groups
        assert g.n_violating_groups == viol
        assert g.holds == (viol == 0)
        assert abs(g.g3_error - g3) < 2e-6
        assert 0.0 <= g.g3_error <= 1.0
        # removing the g3 fraction is enough only if some group violates
        assert (g.g3_error > 0) == (viol > 0)


# --- t_closeness_audit -----------------------------------------------------


def test_t_closeness_matches_python_twin(spark):
    """Per-group TVD vs an exact-fraction Python twin, and the policy
    verdict against the UNROUNDED value."""
    from fractions import Fraction

    from ml_feature_store_enterprise_grade_spark.operators.quality import (
        _SENSITIVE_BUCKET_WIDTH,
        _T_CLOSENESS_DEN,
        _T_CLOSENESS_NUM,
    )

    rows = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_nationkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    glob: dict = {}
    grp: dict = {}
    for r in rows:
        s = math.floor(r.c_acctbal / _SENSITIVE_BUCKET_WIDTH)
        glob[s] = glob.get(s, 0) + 1
        g = (r.c_nationkey, r.c_mktsegment)
        grp.setdefault(g, {})[s] = grp.setdefault(g, {}).get(s, 0) + 1
    n = len(rows)
    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in _Q["t_closeness_audit"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(grp)
    for g, dist in grp.items():
        ng = sum(dist.values())
        tvd = sum(
            abs(Fraction(dist.get(s, 0), ng) - Fraction(ns, n))
            for s, ns in glob.items()
        ) / 2
        r = got[g]
        assert r.group_size == ng
        assert abs(r.tvd - float(tvd)) < 2e-6
        assert r.meets_t == (
            tvd <= Fraction(_T_CLOSENESS_NUM, _T_CLOSENESS_DEN)
        )
        assert 0.0 <= r.tvd <= 1.0


def test_t_closeness_has_both_verdicts(spark):
    """The threshold splits real populations at smoke scale (the
    measured-signal guarantee: 0.06-0.58 TVD spread)."""
    verdicts = {
        r.meets_t for r in _Q["t_closeness_audit"](spark, SF_SMOKE).collect()
    }
    assert verdicts == {True, False}


# --- daily_revenue_forecast_backtest ----------------------------------------


def test_forecast_backtest_matches_python_twin(spark):
    """Exact-integer error totals vs a Python twin replicating the
    common-denominator floor discipline."""
    days = sorted(
        (r.day, r.r)
        for r in load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
            ).alias("r")
        )
        .collect()
    )
    rev = [r for _, r in days]
    sums = {"naive": 0, "seasonal_naive": 0, "drift": 0, "mean": 0}
    n = 0
    cum = 0
    for t1, r in enumerate(rev):
        t = t1 + 1
        if t >= 8:
            n += 1
            sums["naive"] += abs(r - rev[t1 - 1])
            sums["seasonal_naive"] += abs(r - rev[t1 - 7])
            sums["drift"] += math.floor(
                abs((r - rev[t1 - 1]) * (t - 2) - (rev[t1 - 1] - rev[0]))
                / (t - 2)
            )
            sums["mean"] += math.floor(abs(r * (t - 1) - cum) / (t - 1))
        cum += r
    got = {
        r.method: r
        for r in _Q["daily_revenue_forecast_backtest"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(sums)
    ranked = sorted(sums, key=lambda m: (sums[m], m))
    for m, se in sums.items():
        assert got[m].n_origins == n
        assert got[m].mae == math.floor(se / n / 100.0 * 10000.0 + 0.5) / 10000.0
        assert got[m].rnk == ranked.index(m) + 1


# --- order_value_bootstrap_ci ------------------------------------------------


def test_bootstrap_ci_matches_python_twin(spark):
    """Full replicate-level Python twin: same hash, same Poisson
    inverse-CDF, same rank-statistic CI."""
    import hashlib

    from ml_feature_store_enterprise_grade_spark.operators.analytics import (
        _BOOT_B,
        _BOOT_CDF_M,
        _BOOT_M,
        _BOOT_POWA,
        _BOOT_SEED,
    )

    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    vq = {r.o_orderkey: math.floor(r.o_totalprice * 100.0) for r in orders}
    seeds = {
        k: int(hashlib.md5(f"{_BOOT_SEED}:{k}".encode()).hexdigest()[:15], 16)
        % (_BOOT_M - 1)
        + 1
        for k in vq
    }
    means = []
    for b in range(_BOOT_B):
        sw = swv = 0
        for k, v in vq.items():
            u = (seeds[k] * _BOOT_POWA[b]) % _BOOT_M
            w = sum(1 for t in _BOOT_CDF_M if u >= t)
            sw += w
            swv += w * v
        means.append((swv / sw, b))
    means.sort()
    mq = [math.floor(m) for m, _ in means]
    nb = len(mq)
    s1, s2 = sum(mq), sum(m * m for m in mq)
    se = math.sqrt((nb * s2 - s1 * s1) / (nb * nb))
    lo = means[int(_BOOT_B * 0.025)][0]
    hi = means[int(_BOOT_B * 0.975) - 1][0]
    r = _Q["order_value_bootstrap_ci"](spark, SF_SMOKE).collect()[0]
    assert r.n_orders == len(vq)
    assert r.n_replicates == _BOOT_B
    point = sum(vq.values()) / len(vq)
    assert r.mean_value == math.floor(point / 100.0 * 10000.0 + 0.5) / 10000.0
    assert r.boot_se == math.floor(se / 100.0 * 10000.0 + 0.5) / 10000.0
    assert r.ci_lo == math.floor(lo / 100.0 * 10000.0 + 0.5) / 10000.0
    assert r.ci_hi == math.floor(hi / 100.0 * 10000.0 + 0.5) / 10000.0


def test_bootstrap_se_tracks_analytic_se(spark):
    """The Poisson-bootstrap SE must agree with the analytic s/sqrt(n)
    within resampling noise (the calibration guarantee)."""
    import statistics

    vals = [
        r.o_totalprice
        for r in load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_totalprice")
        .collect()
    ]
    analytic = statistics.pstdev(vals) / math.sqrt(len(vals))
    r = _Q["order_value_bootstrap_ci"](spark, SF_SMOKE).collect()[0]
    assert abs(r.boot_se - analytic) / analytic < 0.35
    assert r.ci_lo < r.mean_value < r.ci_hi


# --- stream_decay_features ---------------------------------------------------


@pytest.mark.slow
def test_stream_decay_multi_batch_replay_equals_batch(spark, tmp_path):
    """6 forced micro-batches through the stateful accumulator must
    reproduce user_decay_features exactly (the shared-oracle claim,
    proven under real micro-batching, not just availableNow's single
    batch)."""
    import time as _time

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ml_feature_store_enterprise_grade_spark.catalog import normalize_ts
    from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
        run_available_now,
    )
    from ml_feature_store_enterprise_grade_spark.streaming.joins import (
        _DECAY_OUT_SCHEMA,
        _DECAY_STATE_SCHEMA,
        _decay_snapshots,
    )

    d = str(tmp_path / "decay_src")
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) // 6
    edges = [None, *[lo + step * i for i in range(1, 6)], None]
    for i in range(6):
        chunk = raw
        if edges[i] is not None:
            chunk = chunk.filter(F.col("ts") > edges[i])
        if edges[i + 1] is not None:
            chunk = chunk.filter(F.col("ts") <= edges[i + 1])
        chunk.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)

    stream = normalize_ts(
        spark.readStream.schema(raw.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d),
        ["ts"],
    ).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
    )
    snapshots = stream.groupBy("user_id").applyInPandasWithState(
        _decay_snapshots,
        outputStructType=_DECAY_OUT_SCHEMA,
        stateStructType=_DECAY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(snapshots, "decay")
    final = out.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.max_by("min_d", "n").alias("min_d"),
        F.max_by("swq", "n").alias("swq"),
        F.max_by("svwq", "n").alias("svwq"),
    )
    got = {
        r.user_id: (r.n, r.min_d, r.swq, r.svwq) for r in final.collect()
    }
    # multiple micro-batches actually happened
    assert out.count() > final.count()
    batch = {
        r.user_id: r
        for r in _Q["user_decay_features"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(batch)
    for uid, (n, min_d, swq, svwq) in got.items():
        b = batch[uid]
        assert b.n_events == n
        assert b.last_event_age_days == min_d
        assert b.decayed_count == math.floor(swq / 1e6 * 1e6 + 0.5) / 1e6
        assert (
            b.decayed_value_sum == math.floor(svwq / 1e8 * 1e6 + 0.5) / 1e6
        )


# --- sequence_packing_efficiency --------------------------------------------


def test_packing_efficiency_matches_python_twin(spark):
    """Both strategy rows vs an exact-integer Python twin using the
    same shard hash and prefix sums."""
    import hashlib

    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        _CHARS_PER_TOKEN,
        _PACK_SEED,
        _PACK_SHARDS,
        _SEQ_LEN,
    )

    docs = sorted(
        (r.doc_id, max(1, r.n_chars // _CHARS_PER_TOKEN))
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "n_chars")
        .collect()
    )
    shards: dict = {}
    for doc_id, t in docs:
        h = int(
            hashlib.md5(f"{_PACK_SEED}:{doc_id}".encode()).hexdigest()[:15], 16
        )
        shards.setdefault(h % _PACK_SHARDS, []).append((doc_id, t))
    total = sum(t for _, t in docs)
    naive_seqs = sum((t + _SEQ_LEN - 1) // _SEQ_LEN for _, t in docs)
    n_split = 0
    concat_seqs = 0
    for lst in shards.values():
        lst.sort()
        cum = 0
        for _, t in lst:
            if (cum + t - 1) // _SEQ_LEN > cum // _SEQ_LEN:
                n_split += 1
            cum += t
        concat_seqs += (cum + _SEQ_LEN - 1) // _SEQ_LEN
    got = {
        r.strategy: r
        for r in _Q["sequence_packing_efficiency"](spark, SF_SMOKE).collect()
    }
    pn = got["pad_per_doc"]
    assert pn.n_sequences == naive_seqs
    assert pn.padding_tokens == naive_seqs * _SEQ_LEN - total
    assert pn.docs_split == 0
    cc = got["concat_chunk_sharded"]
    assert cc.n_sequences == concat_seqs
    assert cc.padding_tokens == concat_seqs * _SEQ_LEN - total
    assert cc.docs_split == n_split
    assert cc.docs_split_share == math.floor(
        n_split / len(docs) * 1e6 + 0.5
    ) / 1e6
    # concat never needs more sequences than padding
    assert cc.n_sequences <= pn.n_sequences
    assert cc.waste_share <= pn.waste_share


# --- jaccard_prefix_filter_join ----------------------------------------------


def test_prefix_filter_join_is_lossless_vs_brute_force(spark):
    """The prefix theorem's guarantee, checked against an exhaustive
    all-pairs Python ground truth: EVERY pair with exact J >= tau is
    in the output, with the exact intersection size — and the output
    contains nothing below tau."""
    from ml_feature_store_enterprise_grade_spark.functions import (
        normalize_text,
    )

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", normalize_text(F.col("text")).alias("norm"))
        .collect()
    )

    def shingles(t):
        w = [x for x in t.split(" ") if x]
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    S = {r.doc_id: shingles(r.norm) for r in docs}
    ids = sorted(S)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not S[a] or not S[b]:
                continue
            inter = len(S[a] & S[b])
            if inter and inter / len(S[a] | S[b]) >= 0.7:
                want[(a, b)] = inter
    got = {
        (r.doc_a, r.doc_b): r.n_common
        for r in _Q["jaccard_prefix_filter_join"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert len(want) > 0  # the smoke corpus plants real near-dup pairs
