"""Semantic tests beyond oracle parity: edge cases for the as-of
join (FIXTURES.md §4) and quality checks for the approximate /
pandas-UDF operators that register rows-only."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.operators.asof import asof_join
from ml_feature_store_enterprise_grade_spark.operators.multimodal import (
    binary_documents,
    decode_features,
)
from ml_feature_store_enterprise_grade_spark.operators.similarity import (
    ann_cosine_topk,
    ann_ivf_topk,
)

from conftest import SF_SMOKE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestAsofJoinEdges:
    """TTL-boundary / tie / no-history semantics of the PIT join."""

    def _frames(self, spark):
        features = spark.createDataFrame(
            [
                (1, _ts("2024-01-10 00:00:00"), 10),
                (1, _ts("2024-01-10 06:00:00"), 11),
                (2, _ts("2024-01-10 00:00:00"), 20),
            ],
            "user_id long, feature_timestamp timestamp, total_events long",
        )
        entities = spark.createDataFrame(
            [
                (1, _ts("2024-01-10 06:00:00")),  # exact boundary: equal ts matches
                (1, _ts("2024-01-10 03:00:00")),  # mid-interval: earlier row wins
                (1, _ts("2024-01-09 00:00:00")),  # pre-first-feature: NULL
                (2, _ts("2024-01-11 00:00:00")),  # exactly TTL(24h) later: expired
                (3, _ts("2024-01-10 12:00:00")),  # unknown entity: NULL row kept
            ],
            "user_id long, lookup_ts timestamp",
        )
        return entities, features

    def test_semantics(self, spark):
        entities, features = self._frames(spark)
        out = asof_join(
            entities, features, key="user_id", ttl_hours=24, feature_cols=("total_events",)
        )
        rows = {
            (r.user_id, r.lookup_ts.isoformat()): (
                r.feature_timestamp.isoformat() if r.feature_timestamp else None,
                r.total_events,
            )
            for r in out.collect()
        }
        assert len(rows) == 5  # left semantics: every entity row survives
        assert rows[(1, "2024-01-10T06:00:00")] == ("2024-01-10T06:00:00", 11)
        assert rows[(1, "2024-01-10T03:00:00")] == ("2024-01-10T00:00:00", 10)
        assert rows[(1, "2024-01-09T00:00:00")] == (None, None)
        # TTL bound is exclusive: feature_ts must be > lookup - 24h.
        assert rows[(2, "2024-01-11T00:00:00")] == (None, None)
        assert rows[(3, "2024-01-10T12:00:00")] == (None, None)

    def test_no_ttl(self, spark):
        entities, features = self._frames(spark)
        out = asof_join(
            entities, features, key="user_id", ttl_hours=None, feature_cols=("total_events",)
        )
        rows = {
            (r.user_id, r.lookup_ts.isoformat()): r.total_events for r in out.collect()
        }
        assert rows[(2, "2024-01-11T00:00:00")] == 20  # no TTL → stale row allowed


class TestIvfRecall:
    @pytest.mark.slow
    def test_recall_vs_bruteforce(self, spark):
        exact = {
            (r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, SF_SMOKE).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id) for r in ann_ivf_topk(spark, SF_SMOKE).collect()
        }
        recall = len(exact & approx) / len(exact)
        # Label-centroid cells with nprobe=3/10 probes: recall must be
        # well above the 3/10 random-cell floor to prove the coarse
        # quantizer routes queries to the right cells.
        assert recall >= 0.6, f"IVF recall {recall:.2f}"


class TestMultimodalPlumbing:
    def test_decode_pipeline_shapes(self, spark):
        src = binary_documents(spark, SF_SMOKE)
        assert dict(src.dtypes)["payload"] == "binary"
        out = decode_features(src)
        rows = out.collect()
        assert len(rows) == src.count()
        r = rows[0]
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-3  # normalized histogram
        assert r.n_bytes > 0 and 0 <= r.mean_byte <= 255

    def test_decode_stub_marked(self):
        import pytest

        from ml_feature_store_enterprise_grade_spark.operators import multimodal

        if multimodal.has_codec():
            pytest.skip("real codec present; stub path not reachable")
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\x00")

    def test_codec_kernel_selected_at_runtime(self, monkeypatch):
        """PIL slot: for NON-PPM payloads, a successful codec import
        routes decode through PIL — proven with a stand-in (the real
        kernels run worker-side, so the selection contract is what
        the driver can test without libjpeg in the container)."""
        from ml_feature_store_enterprise_grade_spark.operators import multimodal

        class _FakeImg:
            def __init__(self, px):
                self._px = px

            def convert(self, mode):
                assert mode == "RGB"
                return self

            @property
            def size(self):
                return (4, 4)

            def getdata(self):
                px = (self._px * 16)[:16]
                return [(p, p, p) for p in px]

        class _FakePIL:
            @staticmethod
            def open(buf):
                return _FakeImg(list(buf.getvalue()))

        monkeypatch.setattr(multimodal, "_PILImage", _FakePIL)
        assert multimodal.has_codec()
        img = multimodal.decode_image(b"\x10\x20")
        assert isinstance(img, _FakeImg)
        g = multimodal.decode_image_graysums(b"\x10\x20")  # no P6 magic
        assert len(g) == 4 and len(g[0]) == 4
        feat = multimodal._image_featurize(b"\x10\x20")
        assert len(feat) == 8 and all(0.0 <= v <= 1.0 for v in feat)
        # fake mode still selectable explicitly even with the codec up
        assert multimodal._fake_featurize(bytes(range(64)))

    def test_ppm_decoder_pure_python(self):
        """The P6 parser is a real decoder: header (with comments),
        raster, grayscale grid; malformed inputs raise."""
        import pytest

        from ml_feature_store_enterprise_grade_spark.operators import multimodal

        raster = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
        payload = b"P6\n# a comment\n2 2\n255\n" + raster
        w, h, r = multimodal.decode_ppm(payload)
        assert (w, h) == (2, 2) and r == raster
        assert multimodal.decode_image_graysums(payload) == [
            [255, 255],
            [255, 60],
        ]
        with pytest.raises(ValueError):
            multimodal.decode_ppm(b"P5\n2 2\n255\n" + raster)
        with pytest.raises(ValueError):
            multimodal.decode_ppm(b"P6\n2 2\n255\n" + raster[:-1])
        with pytest.raises(ValueError):
            multimodal.decode_ppm(b"P6\n2 2\n65535\n" + raster * 2)

    def test_ppm_fixtures_decode_without_pil(self, spark):
        """The registered decode/resize queries are REAL in-container:
        payloads are P6 PPMs the pure parser decodes — no PIL needed."""
        from ml_feature_store_enterprise_grade_spark.operators import multimodal

        row = multimodal.ppm_documents(spark, SF_SMOKE).first()
        payload = bytes(row.payload)
        assert payload[:2] == b"P6"
        w, h, raster = multimodal.decode_ppm(payload)
        assert (w, h) == (16, 16) and len(raster) == 768
        # raster bytes are ASCII hex codes by construction
        assert all(48 <= b <= 57 or 97 <= b <= 102 for b in raster)
        thumb = multimodal._image_thumb(payload, 8, 8)
        assert len(thumb) == 64 and all(48 <= b <= 102 for b in thumb)
        # hand-check one thumbnail byte: block (0,0) = pixels (0,0),
        # (0,1), (1,0), (1,1) → bytes 0-5 and 48-53 of the raster
        blk = list(raster[0:6]) + list(raster[48:54])
        assert thumb[0] == sum(blk) // 12
        feat = multimodal._image_featurize(payload)
        assert len(feat) == 8
        assert feat[0] == sum(raster[0:96]) / (96 * 255.0)

    def test_image_kernels_non_divisible_dims(self):
        """Block-mean resize handles dims that do not divide 8."""
        from ml_feature_store_enterprise_grade_spark.operators import multimodal

        raster = bytes(range(3 * 5 * 3))  # 3 wide, 5 tall
        payload = b"P6\n3 5\n255\n" + raster
        feat = multimodal._image_featurize(payload)
        assert len(feat) == 8 and all(0.0 <= v <= 1.0 for v in feat)
        thumb = multimodal._image_thumb(payload, 2, 2)
        assert len(thumb) == 4

    def test_metadata_matches_payload(self, spark):
        src = binary_documents(spark, SF_SMOKE).select(
            "doc_id", F.octet_length("payload").alias("pb")
        )
        from ml_feature_store_enterprise_grade_spark.operators.multimodal import (
            multimodal_metadata,
        )

        meta = multimodal_metadata(spark, SF_SMOKE)
        j = src.join(meta, "doc_id")
        assert j.filter(F.col("pb") != F.col("n_bytes")).count() == 0


def test_dedup_clusters_match_union_find(spark):
    """Connected components vs a driver-side union-find over the same
    edge list: identical partition into clusters, min-id canonical,
    correct sizes, and every doc present exactly once."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        dedup_clusters,
        duplicate_edges,
    )

    edges = [(r.a, r.b) for r in duplicate_edges(spark, SF_SMOKE).collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    rows = dedup_clusters(spark, SF_SMOKE).collect()
    assert len(rows) == len({r.doc_id for r in rows}) == 500
    # min-relabel union-find roots so both sides name clusters by min id
    root_of = {x: find(x) for x in parent}
    members: dict = {}
    for x, r in root_of.items():
        members.setdefault(r, set()).add(x)
    expected = {x: min(m) for r, m in members.items() for x in m}
    for r in rows:
        assert r.cluster_id == expected.get(r.doc_id, r.doc_id), r
        assert r.is_canonical == (r.doc_id == r.cluster_id)
    from collections import Counter

    sizes = Counter(r.cluster_id for r in rows)
    for r in rows:
        assert r.cluster_size == sizes[r.cluster_id], r


def test_pit_label_join_semantics(spark):
    """Forward label join vs a brute-force Python reference: first
    purchase strictly after lookup within the horizon; lookups after
    the last event are all label 0 with NULL conversion fields."""
    from datetime import datetime, timedelta

    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.asof import (
        LABEL_HORIZON_HOURS,
        pit_label_join,
    )

    purchases = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    rows = pit_label_join(spark, SF_SMOKE).collect()
    horizon = timedelta(hours=LABEL_HORIZON_HOURS)
    by_user: dict = {}
    for p in purchases:
        by_user.setdefault(p.user_id, []).append(p)
    for r in rows:
        cands = [
            p
            for p in by_user.get(r.user_id, [])
            if r.lookup_ts < p.ts <= r.lookup_ts + horizon
        ]
        if not cands:
            assert (r.label, r.conversion_epoch_s, r.conversion_value) == (0, None, None), r
        else:
            first = min(cands, key=lambda p: (p.ts, p.event_id))
            assert r.label == 1, r
            assert r.conversion_epoch_s == int(first.ts.timestamp()), r
            assert r.conversion_value == round(first.value, 6), r
        if r.lookup_ts >= datetime(2024, 2, 5):
            assert r.label == 0, r


def test_target_encoding_loo_excludes_own_row(spark):
    """LOO leakage guard vs a Python reference on one category."""
    from ml_feature_store_enterprise_grade_spark.catalog import load_table
    from ml_feature_store_enterprise_grade_spark.operators.encoding import (
        _TE_SMOOTHING,
        target_encoding_loo,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()
    from decimal import Decimal

    q = lambda x: Decimal(str(round(x, 2)))
    gmean = float(sum(q(o.o_totalprice) for o in orders)) / len(orders)
    cat = [o for o in orders if o.o_orderpriority == "1-URGENT"]
    s_c = sum(q(o.o_totalprice) for o in cat)
    got = {
        r.o_orderkey: r.te_loo
        for r in target_encoding_loo(spark, SF_SMOKE).collect()
        if r.o_orderpriority == "1-URGENT"
    }
    assert len(got) == len(cat)
    for o in cat:
        want = (float(s_c - q(o.o_totalprice)) + _TE_SMOOTHING * gmean) / (
            len(cat) - 1 + _TE_SMOOTHING
        )
        assert abs(got[o.o_orderkey] - want) < 1e-6, (o.o_orderkey, got[o.o_orderkey], want)


def test_dataset_split_partition_and_rates(spark):
    """Every row gets exactly one split; rates near 80/10/10; the
    assignment is a pure function of the key (stable across runs)."""
    from ml_feature_store_enterprise_grade_spark.operators.encoding import (
        dataset_split_assignment,
    )

    rows = dataset_split_assignment(spark, SF_SMOKE).collect()
    again = {r.c_custkey: r.split for r in dataset_split_assignment(spark, SF_SMOKE).collect()}
    n = len(rows)
    from collections import Counter

    counts = Counter(r.split for r in rows)
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] / n > 0.7 and counts["test"] / n < 0.2
    for r in rows:
        assert r.split == ("train" if r.split_bucket < 80 else "val" if r.split_bucket < 90 else "test")
        assert again[r.c_custkey] == r.split


@pytest.mark.slow
def test_connected_components_long_chain_and_random_graph(spark):
    """Pointer jumping must converge a 256-vertex path (diameter 255)
    inside the 20-round cap — plain one-hop min propagation cannot.
    Also: a seeded random graph matches a union-find reference."""
    import random

    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        connected_components,
    )

    verts = spark.createDataFrame([(i,) for i in range(256)], "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(255)], "a long, b long")
    got = {r.doc_id: r.label for r in connected_components(verts, chain).collect()}
    assert got == {i: 0 for i in range(256)}

    rng = random.Random(11)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict = {}
    for i in range(n):
        roots.setdefault(find(i), []).append(i)
    expected = {i: min(m) for r, m in roots.items() for i in m}
    vdf = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {r.doc_id: r.label for r in connected_components(vdf, edf).collect()}
    assert got == expected
    # the active-only scale path (isolated vertices split out of the
    # iteration) must be verdict-identical on the same graph — this
    # random graph has isolated vertices, exercising both branches
    got_active = {
        r.doc_id: r.label
        for r in connected_components(vdf, edf, active_only=True).collect()
    }
    assert got_active == expected


@pytest.mark.slow
def test_connected_components_deep_chain_persisted_rounds(spark, tmp_path):
    """The 100 TB shape: a 2^14-vertex path (diameter 16383 — the
    adversarial templated-chain case) must converge inside the
    20-round pointer-jump cap, with per-round labels persisted to
    parquet via persist_rounds_to instead of localCheckpoint.  Proves
    both the O(log n) jump bound at depth far beyond any real dup
    chain and that the persisted-rounds path is verdict-identical.

    Round-count bound: after ``_CC_JUMP_AFTER``(=4) plain rounds the
    per-round reach roughly doubles (r → 2r+1 per hash-to-min +
    pointer-jump round), so convergence takes ≤ 4 + log2(n) rounds
    plus one confirm round — 19 for n=2^14.  The assertion pins that
    logarithmic bound, not just the cap."""
    import math
    import os

    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _CC_JUMP_AFTER,
        connected_components,
    )

    n = 1 << 14
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    labels = connected_components(
        verts,
        chain,
        persist_rounds_to=str(tmp_path / "cc_rounds"),
        active_only=True,
    )
    rows = labels.collect()
    assert len(rows) == n and all(r.label == 0 for r in rows)
    # the persisted round log exists and ends with the converged frame
    rounds = sorted(os.listdir(tmp_path / "cc_rounds"))
    assert rounds and all(d.startswith("round=") for d in rounds)
    n_iters = len(rounds) - 1  # minus the round=0 init frame
    log_bound = _CC_JUMP_AFTER + math.ceil(math.log2(n)) + 1
    assert n_iters <= log_bound, (
        f"{n_iters} rounds for a 2^14 path exceeds the logarithmic "
        f"bound {log_bound} — pointer jumping is not engaging"
    )


def test_corpus_mixture_weights_invariants(spark, sf_dir=SF_SMOKE):
    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        corpus_mixture_weights,
    )

    rows = corpus_mixture_weights(spark, sf_dir).collect()
    assert rows and abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    tot_chars = sum(r.slice_chars for r in rows)
    for r in rows:
        # eff_repeat = mix_weight / natural char share (to rounding)
        assert abs(r.eff_repeat - r.mix_weight * tot_chars / r.slice_chars) < 1e-4
        assert r.mix_weight > 0
    # temperature flattens: smallest slice upsampled, largest downsampled
    small = min(rows, key=lambda r: r.slice_chars)
    big = max(rows, key=lambda r: r.slice_chars)
    if small.slice_chars < big.slice_chars:
        assert small.eff_repeat > big.eff_repeat


def test_sequence_packing_plan_matches_python_reference(spark, sf_dir=SF_SMOKE):
    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        _SEQ_LEN,
        _SEQ_STRIDE,
        sequence_packing_plan,
    )

    rows = sequence_packing_plan(spark, sf_dir).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1
    for shard, docs in by_shard.items():
        cum = 0
        for r in sorted(docs, key=lambda r: r.doc_id):
            assert r.est_tokens >= 1
            assert r.seq_id == shard * _SEQ_STRIDE + cum // _SEQ_LEN
            assert r.offset_in_seq == cum % _SEQ_LEN
            assert (
                r.seqs_spanned
                == (cum + r.est_tokens - 1) // _SEQ_LEN - cum // _SEQ_LEN + 1
            )
            cum += r.est_tokens


def test_embedding_quantization_error_bounds(spark, sf_dir=SF_SMOKE):
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        embedding_quantization_error,
    )

    rows = embedding_quantization_error(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        # round-to-nearest: per-dim error is at most half a quantization step
        # tolerance = the 6-dp display rounding on both columns
        assert r.max_abs_err <= r.q_scale / 2 + 1e-6
        assert r.mse <= (r.q_scale / 2 + 1e-6) ** 2 + 1e-8
        assert r.cos_orig_dq > 0.999


def test_dedup_incremental_verdicts(spark, sf_dir=SF_SMOKE):
    """Exact rejections agree with the global exact-dup operator; the
    batch never pairs with itself; verdicts are total and stable."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _INCR_BATCH_MOD,
        dedup_exact,
        dedup_incremental,
    )

    rows = {r.doc_id: r for r in dedup_incremental(spark, sf_dir).collect()}
    assert rows and all(d % _INCR_BATCH_MOD == _INCR_BATCH_MOD - 1 for d in rows)
    hashes = {r.doc_id: r.text_hash for r in dedup_exact(spark, sf_dir).collect()}
    corpus_by_hash: dict = {}
    for d, h in hashes.items():
        if d % _INCR_BATCH_MOD != _INCR_BATCH_MOD - 1:
            corpus_by_hash.setdefault(h, []).append(d)
    for d, r in rows.items():
        expect_exact = hashes[d] in corpus_by_hash
        assert (r.verdict == "dup_exact") == expect_exact
        if expect_exact:
            assert r.match_doc_id == min(corpus_by_hash[hashes[d]])
        if r.verdict == "admit":
            assert r.match_doc_id is None
        else:
            assert r.match_doc_id % _INCR_BATCH_MOD != _INCR_BATCH_MOD - 1


def test_corpus_sampling_plan_rates_and_determinism(spark, sf_dir=SF_SMOKE):
    from ml_feature_store_enterprise_grade_spark.operators.corpus_plan import (
        corpus_sampling_plan,
    )

    rows = corpus_sampling_plan(spark, sf_dir).collect()
    assert len(rows) == 500
    by_lang: dict = {}
    for r in rows:
        assert 0.0 <= r.u < 1.0
        assert r.keep == (r.u < r.keep_rate)
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rate = rs[0].keep_rate
        assert all(r.keep_rate == rate for r in rs)
        assert 0.0 < rate <= 1.0
        kept = sum(r.keep for r in rs)
        # binomial tolerance: 4 sigma around the planned rate
        import math

        sigma = math.sqrt(len(rs) * rate * (1 - rate))
        assert abs(kept - len(rs) * rate) <= 4 * sigma + 1
    # determinism: a second run keeps exactly the same docs
    again = {r.doc_id: r.keep for r in corpus_sampling_plan(spark, sf_dir).collect()}
    assert all(again[r.doc_id] == r.keep for r in rows)


@pytest.mark.slow
def test_multi_view_pit_per_view_ttl(spark):
    """The multi-view retrieval must honor each view's own TTL: at the
    2024-02-05 lookup (≥4 days after the last event) the 24 h click
    view is fully expired while the 7 d daily view still serves users
    active in the final week."""
    from ml_feature_store_enterprise_grade_spark.operators.asof import pit_multi_view_join

    rows = pit_multi_view_join(spark, SF_SMOKE).collect()
    assert rows, "retrieval returned nothing"
    late = [r for r in rows if str(r.lookup_ts).startswith("2024-02-05")]
    assert late, "expected rows at the TTL-expired lookup time"
    assert all(r.click_feature_ts is None for r in late)
    served = [r for r in late if r.daily_feature_ts is not None]
    assert served, "7 d daily view should still serve recent users"
    # Entity frame is preserved 1:1 — every (entity, lookup) appears
    # exactly once regardless of view hits/misses.
    keys = [(r.user_id, r.lookup_ts) for r in rows]
    assert len(keys) == len(set(keys))
    # A mid-range lookup serves both views for active users.
    mid = [
        r for r in rows
        if str(r.lookup_ts).startswith("2024-01-10")
        and r.click_feature_ts is not None
    ]
    assert mid and all(r.daily_feature_ts is not None for r in mid)


@pytest.mark.slow
def test_segment_dedup_matches_python_reference(spark, sf_dir=SF_SMOKE):
    """Full reference implementation in plain Python over the small
    corpus: first-occurrence election ordered by (doc_id, position),
    cleaned-text reassembly, and counts must match row for row."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SEG_WORDS,
        segment_dedup,
    )

    docs = sorted(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    seen: set[str] = set()
    expect = {}
    for doc_id, text in docs:
        words = text.split(" ")
        segs = [
            " ".join(words[g * _SEG_WORDS : (g + 1) * _SEG_WORDS])
            for g in range((len(words) + _SEG_WORDS - 1) // _SEG_WORDS)
        ]
        kept = []
        dropped = 0
        for seg in segs:
            if seg in seen:
                dropped += 1
            else:
                seen.add(seg)
                kept.append(seg)
        expect[doc_id] = (len(segs), dropped, " ".join(kept))

    out = {r["doc_id"]: r for r in segment_dedup(spark, sf_dir).collect()}
    assert set(out) == set(expect)
    for doc_id, (n_segs, n_dropped, clean) in expect.items():
        r = out[doc_id]
        assert r["n_segments"] == n_segs
        assert r["n_dropped"] == n_dropped
        assert r["clean_text"] == clean
        assert 0.0 <= r["retained_word_ratio"] <= 1.0
        if n_dropped == 0:
            # nothing removed -> reassembly is the identity
            assert r["clean_text"] == dict(docs)[doc_id]


@pytest.mark.slow
def test_semantic_dedup_invariants(spark, sf_dir=SF_SMOKE):
    """One rep per cluster, rep at cosine 1.0 to itself, and the
    action column exactly reflects the threshold rule."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        _SD_THRESHOLD,
        semantic_dedup,
    )

    rows = semantic_dedup(spark, sf_dir).collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    assert len({r["vec_id"] for r in rows}) == n_vecs  # partition of the corpus

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cluster, members in by_cluster.items():
        reps = [r for r in members if r["action"] == "rep"]
        assert len(reps) == 1, f"cluster {cluster}: {len(reps)} reps"
        rep = reps[0]
        assert rep["rep_id"] == rep["vec_id"]
        assert abs(rep["cos_to_rep"] - 1.0) < 1e-6
        for r in members:
            assert r["rep_id"] == rep["vec_id"]  # shared rep within cluster
            if r["action"] == "drop":
                assert r["cos_to_rep"] >= _SD_THRESHOLD
            elif r["action"] == "keep":
                assert r["cos_to_rep"] < _SD_THRESHOLD


def test_crossdoc_spans_alignment_overlap_and_short_docs(spark):
    """Constructed corpus exercising the three semantics whole-doc /
    segment-grid dedup can't express: (a) a shared span detected at
    DIFFERENT alignments in each document, (b) overlapping duplicated
    spans union-counted in coverage (a shared 9-token run = 2 spans
    but 9 covered tokens), (c) a document shorter than the span width
    still present with zero counts."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SPAN_WORDS,
        crossdoc_span_frame,
    )

    k = _SPAN_WORDS
    shared = " ".join(f"w{i}" for i in range(k))          # one k-span
    run9 = " ".join(f"r{i}" for i in range(k + 1))        # two k-spans
    docs = [
        (0, shared + " x0 x1 x2 x3"),                     # span at pos 1
        (1, "z0 z1 " + shared),                           # span at pos 3
        (2, "u0 u1 u2 u3 u4"),                            # < k tokens
        (3, run9 + " y0"),
        (4, "q0 " + run9),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_dup_spans"],
            r["n_covered_tokens"],
            r["flagged"],
        )
        for r in crossdoc_span_frame(df).collect()
    }
    assert got[0] == (k + 4, 1, k, True)
    assert got[1] == (k + 2, 1, k, True)
    assert got[2] == (5, 0, 0, False)
    # 9-token run shared: 2 overlapping spans, coverage 9 not 16
    assert got[3] == (k + 2, 2, k + 1, True)
    assert got[4] == (k + 2, 2, k + 1, True)


def test_crossdoc_trim_winner_keeps_loser_trims(spark):
    """First occurrence (by doc_id, pos) keeps the shared span; the
    later doc loses exactly those tokens; a full mirror collapses to
    empty text; winner-protected overlap is never removed."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SPAN_WORDS,
        crossdoc_span_trim_frame,
    )

    k = _SPAN_WORDS
    shared = " ".join(f"w{i}" for i in range(k))
    docs = [
        (0, shared + " a0 a1"),       # winner: keeps everything
        (1, "b0 " + shared + " b1"),  # loser: span removed
        (2, shared),                  # full mirror: emptied
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_removed_tokens"], r["clean_text"])
        for r in crossdoc_span_trim_frame(df).collect()
    }
    assert got[0] == (0, shared + " a0 a1")
    assert got[1] == (k, "b0 b1")
    assert got[2] == (k, "")


@pytest.mark.slow
def test_split_neardup_leakage_invariants(spark, sf_dir=SF_SMOKE):
    """Every reported leak is an eval-split doc whose match is a
    train-split doc at/above the estimate threshold, one row per eval
    doc; and each leaked (eval, train) pair must also exist in the
    unrestricted near-dup pair list with the same estimate."""
    from ml_feature_store_enterprise_grade_spark.functions import portable_hash64
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _EST_JACCARD_THRESHOLD,
        _LEAK_SPLIT_SEED,
        _LEAK_TRAIN_END,
        dedup_minhash_lsh,
        split_neardup_leakage,
    )

    rows = split_neardup_leakage(spark, sf_dir).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)

    split_of = {
        r["doc_id"]: r["bucket"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            (portable_hash64(F.col("doc_id").cast("string"), seed=_LEAK_SPLIT_SEED) % 100).alias(
                "bucket"
            ),
        )
        .collect()
    }
    pairs = {
        frozenset((r["doc_a"], r["doc_b"])): r["est_jaccard"]
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert rows, "smoke corpus contains known near-dups; expected leaks"
    for r in rows:
        assert r["split"] in ("val", "test")
        assert split_of[r["doc_id"]] >= _LEAK_TRAIN_END
        assert split_of[r["match_train_doc"]] < _LEAK_TRAIN_END
        assert r["est_jaccard"] >= _EST_JACCARD_THRESHOLD
        key = frozenset((r["doc_id"], r["match_train_doc"]))
        assert pairs.get(key) == r["est_jaccard"]


def test_order_reconciliation_consistency(spark, sf_dir=SF_SMOKE):
    """The audit's per-status counts must reconcile with direct
    queries: group sizes partition the orders table, no-lineitem
    counts equal the anti-join count, and a mismatched order really
    is >1 cent off its recomputed total."""
    from decimal import Decimal

    from ml_feature_store_enterprise_grade_spark.operators.relational import (
        order_reconciliation_audit,
    )

    out = {r["o_orderstatus"]: r for r in order_reconciliation_audit(spark, sf_dir).collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    sizes = {r["o_orderstatus"]: r["n"] for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    assert {s: r["n_orders"] for s, r in out.items()} == sizes

    empty = (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    empty_counts = {r["o_orderstatus"]: r["n"] for r in empty.collect()}
    for s, r in out.items():
        assert r["n_no_lineitems"] == empty_counts.get(s, 0)
        assert 0 <= r["n_mismatched"] <= r["n_orders"] - r["n_no_lineitems"]
        assert abs(r["mismatch_rate"] - r["n_mismatched"] / r["n_orders"]) < 1e-6
        # drift direction: computed books sum to header books + drift
        assert abs((r["sum_header"] + r["net_drift"]) - r["sum_computed"]) < 0.05


def test_ann_filtered_topk_respects_predicate(spark, sf_dir=SF_SMOKE):
    """Every neighbor shares its query's label, and for one query the
    result equals the brute-force rank over ONLY same-label vectors —
    post-filtering the unfiltered top-k would under-return."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        ann_filtered_topk,
    )

    rows = ann_filtered_topk(spark, sf_dir).collect()
    assert rows
    emb = {
        r["vec_id"]: (r["label"], r["embedding"])
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    for r in rows:
        assert emb[r["neighbor_id"]][0] == r["label"] == emb[r["query_id"]][0]

    import math

    qid = rows[0]["query_id"]
    qlab, qv = emb[qid]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    want = sorted(
        (
            (round(cos(qv, v), 6), vid)
            for vid, (lab, v) in emb.items()
            if lab == qlab and vid != qid
        ),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = sorted(
        ((r["cosine_sim"], r["neighbor_id"]) for r in rows if r["query_id"] == qid),
        key=lambda t: (-t[0], t[1]),
    )
    assert [(round(c, 6), v) for c, v in got] == [(c, v) for c, v in want]


def test_span_heavy_hitters_counts_exact(spark, sf_dir=SF_SMOKE):
    """Each reported span's doc/occurrence counts must equal a direct
    Python count over the corpus, descending with deterministic ties."""
    import re
    from collections import defaultdict

    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SPAN_WORDS,
        crossdoc_span_heavy_hitters,
    )

    rows = crossdoc_span_heavy_hitters(spark, sf_dir).collect()
    assert rows and all(r["n_docs"] >= 2 for r in rows)
    keys = [(-r["n_docs"], -r["n_occurrences"], r["span"]) for r in rows]
    assert keys == sorted(keys)

    docs_of = defaultdict(set)
    occ_of = defaultdict(int)
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        t = re.sub(r"\s+", " ", r["text"].lower()).strip().split(" ")
        for i in range(len(t) - _SPAN_WORDS + 1):
            s = " ".join(t[i : i + _SPAN_WORDS])
            docs_of[s].add(r["doc_id"])
            occ_of[s] += 1
    for r in rows:
        assert len(docs_of[r["span"]]) == r["n_docs"]
        assert occ_of[r["span"]] == r["n_occurrences"]


def test_label_confusion_partitions_corpus(spark, sf_dir=SF_SMOKE):
    """The confusion matrix partitions the corpus (sum n = N), rows
    stay within label bounds, and the diagonal is non-trivial (the
    synthetic embeddings carry some label structure)."""
    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        embedding_label_confusion,
    )

    rows = embedding_label_confusion(spark, sf_dir).collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r["n"] for r in rows) == n_vecs
    labels = {r["label"] for r in rows} | {r["pred_label"] for r in rows}
    assert labels <= set(range(10))
    diag = sum(r["n"] for r in rows if r["label"] == r["pred_label"])
    assert diag / n_vecs > 2 / len(labels)  # far better than chance


def test_embedding_covariance_and_pca_match_numpy(spark):
    """The distributed covariance must equal numpy's population
    covariance of the same vectors (to the shared 6-dp rounding), and
    pca_whitening's basis must reconstruct it: components are
    orthonormal, eigenvalues descending, energy threshold honored."""
    import numpy as np

    from ml_feature_store_enterprise_grade_spark.operators.similarity import (
        embedding_covariance,
        pca_whitening,
    )

    X = np.array(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    ref = np.cov(X, rowvar=False, bias=True)
    got = {
        (r.di, r.dj): r.cov_e6 / 1e6
        for r in embedding_covariance(spark, SF_SMOKE).collect()
    }
    d = X.shape[1]
    assert len(got) == d * (d + 1) // 2
    # 1e-6 element quantization + the final 1e-6 floor bound the
    # drift from the exact covariance well under 5e-6 absolute.
    for (i, j), v in got.items():
        assert abs(v - ref[i, j]) <= 5e-6, (i, j, v, ref[i, j])

    comps, vals, k = pca_whitening(spark, SF_SMOKE, energy=0.95)
    assert comps.shape == (d, k) and len(vals) == k
    assert np.all(np.diff(vals) <= 1e-12)  # descending
    assert np.allclose(comps.T @ comps, np.eye(k), atol=1e-8)  # orthonormal
    ref_vals = np.linalg.eigvalsh(ref)[::-1]
    assert np.allclose(vals, ref_vals[:k], atol=1e-4)


def test_decode_mixed_format_batch_selects_per_payload(spark):
    """Kernel selection is per-PAYLOAD: a batch mixing PPM and
    non-PPM rows must decode the PPM rows for real and fall back to
    the fake featurizer for the rest (no PIL in this container) —
    never route the whole batch by its first row."""
    from ml_feature_store_enterprise_grade_spark.operators.multimodal import (
        decode_features,
    )

    ppm = b"P6\n1 1\n255\n" + bytes([30, 60, 90])
    rows = [(1, ppm), (2, b"\x10\x20 not an image"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in decode_features(df).collect()}
    # PPM row: real decode — band 0 = the single pixel's luminance
    assert abs(out[1].feature[0] - (30 + 60 + 90) / (3 * 255.0)) < 1e-9
    assert out[1].feature[1:] == [0.0] * 7
    # non-PPM row without a codec: deterministic fake histogram
    assert abs(sum(out[2].feature) - 1.0) < 1e-3
    # NULL payload: empty-feature contract, no crash
    assert out[3].feature == [0.0] * 8 and out[3].n_bytes == 0
