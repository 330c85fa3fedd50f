"""Property-based tests (Hypothesis) for the semantics that are easy
to get subtly wrong: the TTL-bounded as-of join and the distributed
KS statistic, each checked against a direct Python reference
implementation on randomized inputs (SURVEY §7 "hard parts" 1 and 4).

Examples are kept small (Spark round-trip per example); the value is
in the adversarial shapes Hypothesis finds — boundary-equal
timestamps, TTL-edge hits, all-missing entities, duplicate lookups.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ml_feature_store_enterprise_grade_spark.operators.asof import asof_join
from ml_feature_store_enterprise_grade_spark.operators.drift import ks_2samp

T0 = datetime(2024, 1, 1)

# Timestamps on a coarse grid so boundary collisions are frequent.
ts_strategy = st.integers(min_value=0, max_value=48).map(
    lambda h: T0 + timedelta(hours=h)
)

feature_rows = st.lists(
    st.tuples(st.integers(0, 3), ts_strategy, st.integers(0, 1000)),
    min_size=0,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),  # feature_ts unique per key (engine contract)
)
entity_rows = st.lists(
    st.tuples(st.integers(0, 4), ts_strategy),
    min_size=1,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),
)


def _python_asof(entities, features, ttl_hours):
    out = {}
    for key, lookup in entities:
        best = None
        for fk, fts, val in features:
            if fk != key or fts > lookup:
                continue
            if ttl_hours is not None and fts <= lookup - timedelta(hours=ttl_hours):
                continue
            if best is None or fts > best[0]:
                best = (fts, val)
        out[(key, lookup)] = best
    return out


@pytest.mark.slow
@pytest.mark.parametrize("ttl_hours", [6, None])
@settings(max_examples=12, deadline=None)
@given(entities=entity_rows, features=feature_rows)
def test_asof_join_matches_reference(spark, ttl_hours, entities, features):
    e = spark.createDataFrame(
        entities, "user_id int, lookup_ts timestamp"
    )
    f = spark.createDataFrame(
        features, "user_id int, feature_timestamp timestamp, v int"
    )
    got = {
        (r.user_id, r.lookup_ts): (r.feature_timestamp, r.v)
        if r.feature_timestamp is not None
        else None
        for r in asof_join(
            e, f, key="user_id", ttl_hours=ttl_hours, feature_cols=("v",)
        ).collect()
    }
    want = _python_asof(entities, features, ttl_hours)
    assert got == want  # includes NULL rows for unmatched entities


def _python_ks(a, b):
    xs = sorted(set(a) | set(b))
    d = 0.0
    for x in xs:
        cdf_a = sum(1 for v in a if v <= x) / len(a)
        cdf_b = sum(1 for v in b if v <= x) / len(b)
        d = max(d, abs(cdf_a - cdf_b))
    return round(d, 6)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(
    a=st.lists(st.integers(0, 20).map(float), min_size=1, max_size=30),
    b=st.lists(st.integers(0, 20).map(float), min_size=1, max_size=30),
)
def test_ks_stat_matches_reference(spark, a, b):
    rows = [(x, 1) for x in a] + [(x, 0) for x in b]
    df = spark.createDataFrame(rows, "x double, is1 int")
    r = ks_2samp(df, "x", F.col("is1")).first()
    assert r.ks_stat == pytest.approx(_python_ks(a, b), abs=1e-6)
    assert (r.n1, r.n2) == (len(a), len(b))


def _python_sliding_windows(ts_epoch_s: int, dur_s: int = 3600, slide_s: int = 600):
    """All [start, start+dur) windows containing ts, starts aligned to
    epoch multiples of slide — Spark's F.window expansion contract."""
    starts = []
    s = (ts_epoch_s // slide_s) * slide_s
    while s > ts_epoch_s - dur_s:
        starts.append(s)
        s -= slide_s
    return sorted(starts)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 48 * 3600)),
        min_size=1,
        max_size=30,
    )
)
def test_sliding_window_alignment_matches_reference(spark, events):
    """SURVEY §7 hard-part 2: Spark's sliding-window expansion must
    assign each event to exactly dur/slide epoch-aligned windows —
    checked against a direct Python reference on random timestamps."""
    import calendar

    rows = [(u, datetime.utcfromtimestamp(1704067200 + s)) for u, s in events]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    agg = (
        df.groupBy("user_id", F.window("ts", "1 hour", "10 minutes").alias("w"))
        .count()
        .select("user_id", F.col("w.start").alias("ws"), "count")
        .collect()
    )
    # timegm: interpret the session-UTC-rendered naive datetime as UTC
    # regardless of the machine timezone.
    got = {(r.user_id, calendar.timegm(r.ws.timetuple())): r["count"] for r in agg}

    want: dict = {}
    for u, s in events:
        for ws in _python_sliding_windows(1704067200 + s):
            want[(u, ws)] = want.get((u, ws), 0) + 1
    assert got == want


# -- mode_by: true mode with deterministic tie-break -------------------

mode_rows = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["a", "b", "c", "d"])),
    min_size=1,
    max_size=30,
)


def _python_mode(rows):
    from collections import Counter

    out = {}
    for key in {k for k, _ in rows}:
        counts = Counter(v for k, v in rows if k == key)
        # highest count, lexicographically smallest value on ties
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out[key] = best
    return out


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(rows=mode_rows)
def test_mode_by_matches_python_reference(spark, rows):
    """mode_by must return the exact modal value per key with the
    lexicographically-smallest tie-break, independent of input order
    (the reference's first(ignorenulls) 'mode approximation' is
    order-dependent; the engine's must not be)."""
    from ml_feature_store_enterprise_grade_spark.operators.feature_agg import mode_by

    df = spark.createDataFrame(rows, "k int, v string").repartition(4)
    got = {
        r.k: (r.m, r.m_count)
        for r in mode_by(df, "k", "v", out_col="m").collect()
    }
    want = {k: (v, c) for k, (v, c) in _python_mode(rows).items()}
    assert got == want


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),  # no lone surrogates
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=15,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=7),
)
def test_portable_hash64_agrees_across_engines(spark, vals, seed):
    """The portable 60-bit hash is the keystone under dedup, splits,
    sampling, sharding, and every hash-derived oracle: Spark's
    ``portable_hash64`` and the DuckDB SQL twin must agree bit-for-bit
    on arbitrary unicode, including empty strings and astral chars."""
    import duckdb

    from ml_feature_store_enterprise_grade_spark.functions import (
        PORTABLE_HASH64_SQL,
        portable_hash64,
    )

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", portable_hash64(F.col("s"), seed=seed).alias("h")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT s, {PORTABLE_HASH64_SQL('s', seed)} FROM (SELECT unnest(?) AS s)",
            [vals],
        ).fetchall()
    )
    con.close()
    assert got == want


def _segment_dedup_reference(docs: list[tuple[int, str]], k: int) -> dict:
    seen: set[str] = set()
    out = {}
    for doc_id, text in sorted(docs):
        words = text.split(" ")
        segs = [
            " ".join(words[g * k : (g + 1) * k])
            for g in range((len(words) + k - 1) // k)
        ]
        kept, dropped = [], 0
        for seg in segs:
            if seg in seen:
                dropped += 1
            else:
                seen.add(seg)
                kept.append(seg)
        out[doc_id] = (len(segs), dropped, " ".join(kept))
    return out


_seg_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd"]), min_size=1, max_size=20
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@pytest.mark.slow
@settings(max_examples=15, deadline=None)
@given(texts=_seg_docs)
def test_segment_dedup_matches_reference_on_generated_corpora(spark, texts):
    """First-occurrence election + reassembly over tiny-alphabet
    corpora (maximal segment collisions, ragged tail segments,
    single-word docs)."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SEG_WORDS,
        segment_dedup_frame,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_dropped"], r["clean_text"])
        for r in segment_dedup_frame(df).collect()
    }
    assert got == _segment_dedup_reference(docs, _SEG_WORDS)


def _crossdoc_reference(docs: list[tuple[int, str]], k: int) -> dict:
    import re as _re
    from collections import defaultdict

    toks = {
        doc_id: _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        for doc_id, text in docs
    }
    span_docs: dict[str, set] = defaultdict(set)
    positions: dict[int, list] = defaultdict(list)
    for doc_id, t in toks.items():
        for i in range(len(t) - k + 1):
            span = " ".join(t[i : i + k])
            span_docs[span].add(doc_id)
            positions[doc_id].append((i + 1, span))
    out = {}
    for doc_id, t in toks.items():
        dup_pos = [p for p, s in positions[doc_id] if len(span_docs[s]) >= 2]
        covered: set[int] = set()
        for p in dup_pos:
            covered.update(range(p, p + k))
        out[doc_id] = (len(t), len(dup_pos), len(covered), len(covered) / len(t) > 0.2)
    return out


_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b"]), min_size=1, max_size=24).map(" ".join),
    min_size=1,
    max_size=10,
)


@pytest.mark.slow
@settings(max_examples=15, deadline=None)
@given(texts=_span_docs)
def test_crossdoc_spans_match_reference_on_generated_corpora(spark, texts):
    """Any-alignment span election over a two-symbol alphabet (maximal
    cross-doc span collisions, sub-span-width docs, full-duplicate
    docs) must match the quadratic Python reference exactly."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SPAN_WORDS,
        crossdoc_span_frame,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
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
    assert got == _crossdoc_reference(docs, _SPAN_WORDS)


def _trim_reference(docs: list[tuple[int, str]], k: int) -> dict:
    import re as _re
    from collections import defaultdict

    toks = {
        doc_id: _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        for doc_id, text in docs
    }
    span_occs: dict[str, list] = defaultdict(list)
    for doc_id in sorted(toks):
        t = toks[doc_id]
        for i in range(len(t) - k + 1):
            span_occs[" ".join(t[i : i + k])].append((doc_id, i + 1))
    winners: dict[int, set] = defaultdict(set)
    losers: dict[int, set] = defaultdict(set)
    for occ in span_occs.values():
        if len({d for d, _ in occ}) < 2:
            continue
        occ = sorted(occ)
        wd, wp = occ[0]
        winners[wd].update(range(wp, wp + k))
        for d, p in occ[1:]:
            losers[d].update(range(p, p + k))
    out = {}
    for doc_id, t in toks.items():
        removed = losers[doc_id] - winners[doc_id]
        kept = [tok for i, tok in enumerate(t, start=1) if i not in removed]
        out[doc_id] = (len(t), len(t) - len(kept), " ".join(kept))
    return out


@pytest.mark.slow
@settings(max_examples=15, deadline=None)
@given(texts=_span_docs)
def test_crossdoc_trim_matches_reference_on_generated_corpora(spark, texts):
    """First-occurrence-wins span removal with winner protection must
    match the quadratic Python reference: same removed counts and the
    same reassembled clean text, including fully-emptied mirrors."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        _SPAN_WORDS,
        crossdoc_span_trim_frame,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["clean_text"])
        for r in crossdoc_span_trim_frame(df).collect()
    }
    assert got == _trim_reference(docs, _SPAN_WORDS)


def _containment_reference(docs, k=3, max_df=100, thresh=0.8):
    """Brute-force Broder containment over word-k-gram shingle sets
    with the frequent-shingle cap applied corpus-wide."""
    from collections import Counter

    sets = {}
    for doc_id, t in docs:
        toks = t.split(" ")
        sets[doc_id] = {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        }
    df = Counter(s for ss in sets.values() for s in ss)
    capped = {d: {s for s in ss if df[s] <= max_df} for d, ss in sets.items()}
    out = {}
    for a, sa in capped.items():
        if not sa:
            continue
        for b, sb in capped.items():
            if a == b:
                continue
            common = len(sa & sb)
            if common / len(sa) >= thresh:
                out[(a, b)] = (common, len(sa), round(common / len(sa), 6))
    return out


@pytest.mark.slow
@settings(max_examples=15, deadline=None)
@given(texts=_seg_docs)
def test_containment_pairs_match_reference_on_generated_corpora(spark, texts):
    """Inverted-list blocked containment vs the all-pairs reference on
    tiny-alphabet corpora (max shingle collisions, sub-shingle-length
    docs, exact copies): identical surviving pairs and values."""
    from ml_feature_store_enterprise_grade_spark.operators.dedup import (
        containment_pairs_frame,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_a"], r["containment"])
        for r in containment_pairs_frame(df).collect()
    }
    assert got == _containment_reference(docs)


@pytest.mark.slow
@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    data=st.data(),
)
def test_ppm_encode_decode_roundtrip(w, h, data):
    """decode_ppm(encode(w, h, raster)) is the identity for any
    geometry and pixel content, with and without header comments, and
    the grayscale grid matches a per-pixel reference."""
    from ml_feature_store_enterprise_grade_spark.operators import multimodal

    raster = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    for header in (f"P6\n{w} {h}\n255\n", f"P6\n# c\n {w}\t{h}\n# d\n255\n"):
        payload = header.encode() + raster
        got = multimodal.decode_ppm(payload)
        assert got == (w, h, raster)
    g = multimodal.decode_image_graysums(f"P6\n{w} {h}\n255\n".encode() + raster)
    assert len(g) == h and all(len(r) == w for r in g)
    for i in range(h):
        for j in range(w):
            o = (i * w + j) * 3
            assert g[i][j] == raster[o] + raster[o + 1] + raster[o + 2]
