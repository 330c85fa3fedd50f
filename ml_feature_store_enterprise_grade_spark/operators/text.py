"""Text-analysis operators for training-data pipelines (SURVEY §7 M5).

North-star extensions over the ``documents`` table: per-document
quality statistics, BPE-ish token counting, an n-gram/stopword
language-ID heuristic, and k-min hash fingerprints.  All pure
Catalyst expressions (split/transform/filter/regexp) with exact
DuckDB twins — zero UDFs, so the whole module stays inside
whole-stage codegen and scales as a single narrow projection +
one shuffle per aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_cache_clearer, spread
from ..functions import NORMALIZE_TEXT_SQL, PORTABLE_HASH64_SQL, normalize_text, portable_hash64
from ..functions.ranking import ntile_from_rank, ranked, running_totals, scalable_ntile
from ..registry import register
from .corpus_plan import _CHARS_PER_TOKEN

#: BPE-style pre-tokenizer: word pieces, single digits, punctuation.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

#: Tiny per-language stopword banks for the heuristic language ID.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _tokens(col: F.Column) -> F.Column:
    return F.split(normalize_text(col), " ")


@register(
    "doc_text_stats",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars,
               {NORMALIZE_TEXT_SQL("text")} AS norm,
               len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens
        FROM documents
    ),
    t AS (
        SELECT doc_id, lang, n_chars, n_bpe_tokens,
               string_split(norm, ' ') AS toks,
               length(norm) AS norm_len
        FROM d
    )
    SELECT doc_id, lang, n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(norm_len - len(toks) + 1 AS DOUBLE) / NULLIF(len(toks), 0), 4)
               AS avg_token_len,
           ROUND(CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS DOUBLE)
                 / NULLIF(len(toks), 0), 6) AS stopword_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / NULLIF(len(toks), 0), 6)
               AS distinct_ratio,
           ROUND(LEAST(1.0, len(toks) / 50.0)
                 * (CAST(len(list_distinct(toks)) AS DOUBLE) / NULLIF(len(toks), 0)), 6)
               AS quality_score
    FROM t
    """,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: token counts (whitespace and
    BPE-ish regex), average token length, stopword/distinct ratios,
    and a deterministic quality score = min(1, n_tokens/50) ·
    distinct_ratio (length × lexical-diversity heuristic)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    norm_len = F.length(normalize_text(F.col("text")))
    n_tok = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    avg_len = F.round((norm_len - n_tok + 1).cast("double") / F.nullif(n_tok, F.lit(0)), 4)
    distinct_ratio = n_dist.cast("double") / F.nullif(n_tok, F.lit(0))
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        n_tok.cast("bigint").alias("n_tokens"),
        n_dist.cast("bigint").alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        avg_len.alias("avg_token_len"),
        F.round(n_stop.cast("double") / F.nullif(n_tok, F.lit(0)), 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(F.least(F.lit(1.0), n_tok / F.lit(50.0)) * distinct_ratio, 6).alias(
            "quality_score"
        ),
    )


def _lang_score_sql(lang: str) -> str:
    return (
        f"len(list_filter(string_split(norm, ' '), x -> x IN {_LANG_MARKERS[lang]!r}))"
    )


_LANG_PRED_SQL = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} >= GREATEST({', '.join('s_' + o for o in _LANG_MARKERS)}) THEN '{lang}'"
        for lang in _LANG_MARKERS
    )
    + " ELSE 'unknown' END"
)


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {NORMALIZE_TEXT_SQL("text")} AS norm FROM documents
    ),
    s AS (
        SELECT doc_id, lang,
               {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in _LANG_MARKERS)}
        FROM d
    ),
    p AS (
        SELECT lang, {_LANG_PRED_SQL} AS predicted_lang FROM s
    )
    SELECT lang, predicted_lang, COUNT(*) AS n_docs
    FROM p GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-marker votes, first-match-wins
    tie break in fixed language order) aggregated into a confusion
    matrix against the labeled ``lang`` column."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    def marker_count(lang: str) -> F.Column:
        markers = _LANG_MARKERS[lang]
        return F.size(F.filter(toks, lambda x: x.isin(*markers))).alias(f"s_{lang}")

    scored = d.select("lang", *[marker_count(lang) for lang in _LANG_MARKERS])
    # when() chains short-circuit in order, so the first-listed
    # language wins ties — matching the oracle's CASE order.
    chain = None
    for lang in _LANG_MARKERS:
        cond = (F.col(f"s_{lang}") > 0) & (
            F.col(f"s_{lang}") >= F.greatest(*[F.col(f"s_{o}") for o in _LANG_MARKERS])
        )
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    predicted = chain.otherwise(F.lit("unknown"))
    return (
        scored.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH nd AS (
        SELECT doc_id, {NORMALIZE_TEXT_SQL("text")} AS norm FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(norm, ' ')) - 2, 0)),
                   i -> string_split(norm, ' ')[i] || ' ' ||
                        string_split(norm, ' ')[i + 1] || ' ' ||
                        string_split(norm, ' ')[i + 2]
               ))) AS shingle
        FROM nd
    )
    SELECT doc_id,
           MIN({PORTABLE_HASH64_SQL("shingle", seed=0)}) AS fp_min0,
           MIN({PORTABLE_HASH64_SQL("shingle", seed=1)}) AS fp_min1,
           COUNT(*) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: k-min sketch (k=2 seeds) over rolling
    word-3-gram shingles — the winnowing-style content fingerprint
    used for fast dedup prefilters."""
    from .dedup import _normalized_docs, _shingles

    sh = _shingles(_normalized_docs(spark, sf_dir))
    return sh.groupBy("doc_id").agg(
        F.min(portable_hash64(F.col("shingle"), seed=0)).alias("fp_min0"),
        F.min(portable_hash64(F.col("shingle"), seed=1)).alias("fp_min1"),
        F.count("*").alias("n_shingles"),
    )


@register(
    "corpus_lang_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def corpus_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by language × source (the A11
    histogram family applied to the documents corpus)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "text_clean_projection",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^ ]+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+', ' ', 'g'),
               '\\s+', ' ', 'g')) AS clean_text,
           length(text) - length(trim(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^ ]+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+', ' ', 'g'),
               '\\s+', ' ', 'g'))) AS n_chars_removed
    FROM documents
    """,
)
def text_clean_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training text cleanup (the C4-style scrub pass): strip
    URLs and e-mail addresses, collapse whitespace — one codegen'd
    regexp projection, embarrassingly parallel at corpus scale."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"https?://[^ ]+", " "),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (F.length("text") - F.length(cleaned)).alias("n_chars_removed"),
    )


#: C4-style corpus admission thresholds.
_MIN_TOKENS, _MAX_TOKENS = 5, 5000
_MIN_DISTINCT_RATIO = 0.3
_MAX_STOPWORD_RATIO = 0.6


@register(
    "corpus_quality_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id, lang,
               len(toks) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE) / NULLIF(len(toks), 0) AS distinct_ratio,
               CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS DOUBLE)
                   / NULLIF(len(toks), 0) AS stopword_ratio
        FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           (n_tokens >= {_MIN_TOKENS} AND n_tokens <= {_MAX_TOKENS}) AS len_ok,
           (distinct_ratio >= {_MIN_DISTINCT_RATIO}) AS diversity_ok,
           (stopword_ratio <= {_MAX_STOPWORD_RATIO}) AS stopword_ok,
           (n_tokens >= {_MIN_TOKENS} AND n_tokens <= {_MAX_TOKENS}
            AND distinct_ratio >= {_MIN_DISTINCT_RATIO}
            AND stopword_ratio <= {_MAX_STOPWORD_RATIO}) AS admitted
    FROM m
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus admission filter: per-document pass/fail on
    length bounds, lexical diversity, and stopword saturation, plus
    the combined verdict — the predicate set a training-data pipeline
    runs before dedup.  Pure projections + no shuffle; at 100 TB this
    is a single scan emitting the admission bitmap."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.nullif(n_tok, F.lit(0))
    stopword_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double")
        / F.nullif(n_tok, F.lit(0))
    )
    len_ok = (n_tok >= _MIN_TOKENS) & (n_tok <= _MAX_TOKENS)
    diversity_ok = distinct_ratio >= _MIN_DISTINCT_RATIO
    stopword_ok = stopword_ratio <= _MAX_STOPWORD_RATIO
    return d.select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        len_ok.alias("len_ok"),
        diversity_ok.alias("diversity_ok"),
        stopword_ok.alias("stopword_ok"),
        (len_ok & diversity_ok & stopword_ok).alias("admitted"),
    )


#: Gopher-style repetition gate: documents whose single most frequent
#: word-bigram exceeds this share of all bigrams are flagged
#: (cf. Rae et al. 2021 "Scaling Language Models" Table A1 uses 0.18
#: for the top-2-gram fraction; lowered here to produce a mixed
#: verdict on the synthetic corpus).
_TOP_BIGRAM_SHARE = 0.08


@register(
    "doc_repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i + 1]
               )) AS bigram
        FROM t
    ),
    c AS (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           COUNT(*) AS n_distinct_bigrams,
           ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_bigram_fraction,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_share,
           CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.08 AS repetitive
    FROM c
    GROUP BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition signals per document: duplicate-bigram
    fraction and top-bigram share, with the repetition verdict —
    the standard filter against boilerplate/looping text that
    length/diversity heuristics miss.

    Shape: bigrams explode (non-distinct — multiplicity IS the
    signal) → two-phase count per (doc, bigram) → per-doc rollup.
    One shuffle on (doc_id, bigram); both aggregates get map-side
    partials, and the per-doc state is three numbers, so the operator
    scales like word-count, not like a window sort.  Documents with
    fewer than two tokens carry no bigram and drop out (both
    engines)."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    t = F.split(F.col("norm"), " ")
    zipped = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.expr("slice(split(norm, ' '), 2, greatest(size(split(norm, ' ')) - 1, 0))"),
    )
    bigrams = F.transform(zipped, lambda x: F.concat_ws(" ", x["0"], x["1"]))
    bg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    c = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    tot = F.sum("c")
    top = F.max("c")
    return c.groupBy("doc_id").agg(
        tot.cast("bigint").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.round((tot - F.count("*")).cast("double") / tot, 6).alias("dup_bigram_fraction"),
        F.round(top.cast("double") / tot, 6).alias("top_bigram_share"),
        (top.cast("double") / tot > _TOP_BIGRAM_SHARE).alias("repetitive"),
    )


@register(
    "corpus_top_bigrams",
    oracle=f"""
    WITH t AS (
        SELECT string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
               AS bigram
        FROM t
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg
    GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy-hitter bigrams: the vocabulary/collocation
    profile a pretraining pipeline computes before tokenizer training.
    Bigram expansion is a narrow flatMap (zip the token array with its
    own tail — no index arithmetic, no UDF); the count is one shuffle
    with map-side partial aggregation, so a hot bigram never
    concentrates on one reducer; the top-k is TakeOrderedAndProject
    (no global sort).  Ties at the k boundary are broken by bigram
    text so the top-20 *set* is deterministic across engines."""
    d = spread(load_table(spark, sf_dir, "documents")).select(_tokens(F.col("text")).alias("toks"))
    head = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    tail = F.slice(F.col("toks"), 2, F.size("toks"))
    bigrams = F.zip_with(head, tail, lambda a, b: F.concat_ws(" ", a, b))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


#: Minimum bigram count for the PMI collocation table (rare pairs
#: have unstable PMI and bloat the output).
_PMI_MIN_COUNT = 5

#: Memoized adjacent-bigram census per (session, sf_dir) — the
#: vocab²-bounded (w1, w2, k11) table both collocation rankers
#: ([[corpus_bigram_pmi]], [[corpus_bigram_llr]]) aggregate from.
#: localCheckpointed ONCE so neither query rescans/retokenizes the
#: corpus for a table the other already materialized (VERDICT r9
#: item 4; the ``_event_value_rank_sums`` sharing pattern).
_BIGRAM_CENSUS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _bigram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, k11): corpus-wide adjacent word-pair counts,
    tokenized with the engine's shared normalizer, materialized
    lineage-free (localCheckpoint) on first use and reused by every
    collocation consumer in the session."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _BIGRAM_CENSUS_CACHE.get(key)
    if hit is not None:
        return hit
    d = spread(load_table(spark, sf_dir, "documents")).select(
        _tokens(F.col("text")).alias("toks")
    )
    head = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    tail = F.slice(F.col("toks"), 2, F.size("toks"))
    bigrams = F.zip_with(head, tail, lambda a, b: F.concat_ws(" ", a, b))
    bc = (
        d.select(F.explode(bigrams).alias("bigram"))
        .select(
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("k11"))
        # materialize the vocab²-bounded bigram table once: the
        # margins, totals and filtered join sides of BOTH collocation
        # queries re-aggregate THIS frame, never the corpus (exchange
        # reuse covers only identical subtrees within one plan, not
        # across queries).
        .localCheckpoint()
    )
    _BIGRAM_CENSUS_CACHE[key] = bc
    return bc


@register(
    "corpus_bigram_pmi",
    oracle=f"""
    WITH t AS (
        SELECT string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks FROM documents
    ),
    uc AS (
        SELECT w, COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1
    ),
    tu AS (SELECT CAST(SUM(n) AS DOUBLE) AS total_u FROM uc),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
               AS bigram
        FROM t
    ),
    bc AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               COUNT(*) AS n_ab
        FROM bg GROUP BY 1, 2
    ),
    tb AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS total_b FROM bc)
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(ln((CAST(n_ab AS DOUBLE) / total_b)
                    / ((CAST(a.n AS DOUBLE) / total_u)
                       * (CAST(b.n AS DOUBLE) / total_u))), 6) AS pmi
    FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w
    CROSS JOIN tb CROSS JOIN tu
    WHERE n_ab >= {_PMI_MIN_COUNT}
    """,
)
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for adjacent word pairs — the
    collocation-strength table a tokenizer/phrase-mining pass derives
    from the corpus (PMI = ln p(ab) / (p(a)·p(b)); high-PMI pairs are
    multiword units, near-zero pairs are chance co-occurrences).

    Shape at scale: the bigram table comes from the memoized shared
    census ([[_bigram_census]] — materialized once per session,
    reused by [[corpus_bigram_llr]]); the unigram count is one
    map-side-combined shuffle into a vocabulary-sized table; the PMI
    join runs on those tables (AQE broadcasts the smaller), and the
    two grand totals enter as single-row broadcasts.  The corpus is
    tokenized once for unigrams and never rescanned for bigrams.
    Both engines compute the identical double-division/ln/round
    chain, so values hash-match."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        _tokens(F.col("text")).alias("toks")
    )
    uc = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    tu = uc.agg(F.sum("n").cast("double").alias("total_u"))
    bc = _bigram_census(spark, sf_dir).withColumnRenamed("k11", "n_ab")
    tb = bc.agg(F.sum("n_ab").cast("double").alias("total_b"))
    a = uc.select(F.col("w").alias("w1"), F.col("n").alias("na"))
    b = uc.select(F.col("w").alias("w2"), F.col("n").alias("nb"))
    j = (
        bc.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(tu))
    )
    p_ab = F.col("n_ab").cast("double") / F.col("total_b")
    p_ind = (F.col("na").cast("double") / F.col("total_u")) * (
        F.col("nb").cast("double") / F.col("total_u")
    )
    return j.select(
        "w1",
        "w2",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.round(F.log(p_ab / p_ind), 6).alias("pmi"),
    )


#: Top terms kept per document in the TF-IDF projection.
_TFIDF_TOP_K = 3


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ),
    s AS (
        SELECT doc_id, term, tf, df,
               ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rk FROM s
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INT) AS term_rank
    FROM r WHERE rk <= {_TFIDF_TOP_K}
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword/topic signal a
    training pipeline derives before clustering or mixture planning.

    Shape at scale: one shuffle to (doc_id, term) counts, a second
    map-side-partial aggregate to the document-frequency table
    (vocabulary-sized — orders of magnitude smaller than the corpus),
    one equi-join on term (AQE picks broadcast when the vocabulary
    fits), and a bounded per-document window for the top-k (per-doc
    group size ≤ distinct terms in that doc — never corpus-scale).
    The corpus size joins in as a single-row broadcast.

    Cross-engine determinism: ranking orders on the ROUNDED score
    with the term text as tie-break, so equal-scored terms pick
    identically in Spark and DuckDB."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.select(F.count("*").alias("n_docs"))
    s = tf.join(df_t, "term").crossJoin(F.broadcast(n))
    tfidf = F.round(
        F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        6,
    )
    scored = s.select("doc_id", "term", "tf", "df", tfidf.alias("tfidf"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= _TFIDF_TOP_K)
    )


#: PII redaction patterns (C4/Dolma-style scrub pass), applied in
#: order, each replaced by its tag.  Lookahead-free and anchored to
#: literal shapes so Java-regex (Spark) and RE2 (DuckDB) agree
#: match-for-match.
_PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+", "<EMAIL>"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("phone", r"\+\d{2} \d{3}-\d{4}", "<PHONE>"),
)


def scrub_pii(text: F.Column) -> tuple[F.Column, dict[str, F.Column]]:
    """Reusable PII scrub kernel: returns ``(clean_text, counts)``
    where counts maps category → occurrences found.  Pure codegen'd
    regexp projections — embarrassingly parallel, no shuffle."""
    counts = {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("bigint")
        for name, pat, _ in _PII_PATTERNS
    }
    clean = text
    for _, pat, tag in _PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, tag)
    return clean, counts


#: The synthetic corpus carries no natural PII, so the registered
#: query first *injects* deterministic doc_id-derived PII into a
#: subset of documents (the harness half), then scrubs it back out
#: (the operator half) — exercising every pattern with non-trivial
#: counts on both engines.
_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +01 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
            ELSE '' END
"""


@register(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[0][1]}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[1][1]}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[2][1]}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_PATTERNS[0][1]}', '{_PII_PATTERNS[0][2]}', 'g'),
               '{_PII_PATTERNS[1][1]}', '{_PII_PATTERNS[1][2]}', 'g'),
               '{_PII_PATTERNS[2][1]}', '{_PII_PATTERNS[2][2]}', 'g') AS clean_text
    FROM aug
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails, IPv4 addresses, phone numbers →
    typed tags) with per-document counts — the privacy scrub every
    training-data pipeline runs between quality filtering and dedup.
    The corpus carries no natural PII, so deterministic doc_id-derived
    PII is injected first (see ``_PII_AUG_SQL``) and the scrub is
    verified to find and redact exactly those plants.

    Scale shape: single scan, zero shuffles, whole-stage-codegen'd
    regexps — at 100 TB this runs at IO speed."""
    d = spread(load_table(spark, sf_dir, "documents"))
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" call +01 555-"), (1000 + F.col("doc_id") % 9000).cast("string")),
        ).otherwise(""),
    )
    clean, counts = scrub_pii(aug)
    return d.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["ip"].alias("n_ips"),
        counts["phone"].alias("n_phones"),
        clean.alias("clean_text"),
    )


@register(
    "doc_unigram_logprob",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    vocab AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM vocab)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           ROUND(SUM(cnt * log10(CAST(n AS DOUBLE) / total)) / SUM(cnt), 4)
               AS avg_logprob
    FROM dtc JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality proxy: per-document mean unigram
    log10-probability under the corpus's own unigram distribution —
    the cheap stand-in for perplexity-based quality filtering (docs of
    rare/garbage tokens score low, stopword soup scores high).

    Scale shape: tokens collapse to per-doc term counts FIRST
    (explode → groupBy(doc, tok)), so the vocab join moves one row per
    distinct (doc, token), not one per token occurrence; the vocab
    frame is one row per distinct token (heavy-hitter skew on common
    tokens is collapsed by the partial aggregate before both
    shuffles).  The corpus token total is a single O(1) scalar
    aggregate (same discipline as the KS bounds in drift.py)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    dtc = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = float(vocab.agg(F.sum("n")).first()[0])
    logp = F.log10(F.col("n").cast("double") / F.lit(total))
    return (
        dtc.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("cnt") * logp) / F.sum("cnt"), 4).alias("avg_logprob"),
        )
    )


#: Interpolation weight for the bigram LM: p = λ·p(w2|w1) + (1−λ)·p(w2).
_LM_LAMBDA = 0.75


@register(
    "doc_bigram_logprob",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    uc AS (
        SELECT w, COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1
    ),
    tu AS (SELECT CAST(SUM(n) AS DOUBLE) AS total_u FROM uc),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                   AS bigram
        FROM t
    ),
    dbc AS (
        SELECT doc_id,
               string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               COUNT(*) AS cnt
        FROM bg GROUP BY 1, 2, 3
    ),
    bc AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               COUNT(*) AS n_ab
        FROM bg GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
           ROUND(SUM(d.cnt * log10(
                 {_LM_LAMBDA} * (CAST(b.n_ab AS DOUBLE) / a.n)
                 + {1 - _LM_LAMBDA} * (CAST(c.n AS DOUBLE) / tu.total_u)
           )) / SUM(d.cnt), 4) AS avg_logprob
    FROM dbc d
    JOIN bc b ON d.w1 = b.w1 AND d.w2 = b.w2
    JOIN uc a ON d.w1 = a.w
    JOIN uc c ON d.w2 = c.w
    CROSS JOIN tu
    GROUP BY d.doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring of each document
    against the corpus's own LM: mean log10 of
    ``λ·p(w2|w1) + (1−λ)·p(w2)`` over adjacent token pairs — one rung
    up from :func:`doc_unigram_logprob` on the perplexity-filtering
    ladder (catches scrambled/unnatural word ORDER that unigram
    scoring is blind to).

    Scale shape: the per-doc bigram table collapses to distinct
    (doc, w1, w2) counts before any join — ONCE, cached; the corpus
    bigram table rolls up FROM it (never a second pass over the
    exploded bigrams) and the unigram table is a vocabulary-sized
    aggregate (heavy-hitter pairs collapse map-side).  Joins run
    bigram-keyed — AQE broadcasts the vocab sides when they fit; the
    corpus total is a one-row broadcast."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    uc = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .cache()
    )
    tu = uc.agg(F.sum("n").cast("double").alias("total_u"))
    head = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    tail = F.slice(F.col("toks"), 2, F.size("toks"))
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(head, tail, lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    dbc = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("cnt")).cache()
    bc = dbc.groupBy("w1", "w2").agg(F.sum("cnt").alias("n_ab"))
    a = uc.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    c = uc.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    p = F.lit(_LM_LAMBDA) * (F.col("n_ab").cast("double") / F.col("n1")) + F.lit(
        1 - _LM_LAMBDA
    ) * (F.col("n2").cast("double") / F.col("total_u"))
    return (
        dbc.join(bc, ["w1", "w2"])
        .join(a, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(tu))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("cnt") * F.log10(p)) / F.sum("cnt"), 4).alias(
                "avg_logprob"
            ),
        )
    )


#: Document-frequency band kept in the demo index: terms below are
#: too rare to matter, terms above are stop-listed (every real index
#: drops or impact-orders its highest-df terms).
_IDX_DF_LO, _IDX_DF_HI = 5, 50


@register(
    "inverted_index_postings",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT term, doc_id, COUNT(*) AS cnt FROM t GROUP BY 1, 2
    )
    SELECT term,
           COUNT(*) AS df,
           CAST(SUM(cnt) AS BIGINT) AS cf,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv
    FROM tf
    GROUP BY term
    HAVING COUNT(*) BETWEEN {_IDX_DF_LO} AND {_IDX_DF_HI}
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval-side complement of the
    dedup/quality family): per term, document frequency, collection
    frequency, and the sorted posting list of documents containing it,
    restricted to the discriminative df band [5, 50]
    (rarer = noise, more frequent = stop-listed — the cap is also what
    bounds the per-term aggregation buffer).

    Scale shape: tokens collapse to (term, doc) pairs first (the tf
    table), so posting construction shuffles one row per distinct
    term-doc pair, never per occurrence; the index build is then one
    hash aggregate keyed by term — the MapReduce index-build shape,
    with the df band applied as a HAVING so stop-list terms' postings
    are never materialized."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = t.groupBy("term", "doc_id").agg(F.count("*").alias("cnt"))
    g = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("cnt").cast("bigint").alias("cf"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    return g.filter(F.col("df").between(_IDX_DF_LO, _IDX_DF_HI)).select(
        "term",
        "df",
        "cf",
        F.concat_ws(",", F.transform("postings", lambda x: x.cast("string"))).alias(
            "postings_csv"
        ),
    )


#: Induced tokenizer vocabulary size (top terms by corpus count).
_VOCAB_SIZE = 500


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY 1),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r FROM freq
        ) WHERE r <= {_VOCAB_SIZE}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
           ROUND(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction + coverage audit: build the
    top-500 vocabulary from corpus term counts (ties broken
    on the term so both engines induce the identical vocab), then
    report each document's out-of-vocabulary token rate — the number
    that decides whether a fixed-vocab tokenizer needs retraining
    before a corpus is used.

    Scale shape: term frequencies are one vocabulary-sized aggregate;
    the top-K selection is ``orderBy().limit()`` — Spark's
    TakeOrderedAndProject keeps a K-row heap per partition and merges
    heaps, so even a 10^8-term crawl vocabulary never sorts in one
    task (the deterministic (count, term) order makes it the exact
    ROW_NUMBER ≤ K set); the coverage pass probes the broadcast vocab
    set per token and re-aggregates per document — the corpus
    shuffles once, on doc_id, after the probe."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    freq = t.groupBy("tok").agg(F.count("*").alias("n"))
    vocab = (
        freq.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_VOCAB_SIZE)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    j = t.join(F.broadcast(vocab), "tok", "left")
    oov = F.col("__in_vocab").isNull()
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(oov, 1).otherwise(0)).alias("n_oov"),
        F.round(F.sum(F.when(oov, 1).otherwise(0)).cast("double") / F.count("*"), 6).alias(
            "oov_rate"
        ),
    )


@register(
    "corpus_data_card",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars,
               md5({NORMALIZE_TEXT_SQL("text")}) AS h
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(GREATEST(1, n_chars // {_CHARS_PER_TOKEN})) AS BIGINT) AS est_tokens,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
               AS dup_rate,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           ROUND(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 1) AS p50_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(COUNT(*) FILTER (WHERE lang = 'en') AS DOUBLE) / COUNT(*), 6)
               AS en_share
    FROM d
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus *data card*: document and language counts,
    character/estimated-token volume, exact-duplicate rate, length
    distribution, and English share — the governance summary attached
    to a training-data release (what reviewers read before anyone
    trains on the corpus).

    One full scan collapsing to a single row; the duplicate count
    rides the same pass as a distinct-count on the content hash.  At
    100 TB this is the cheapest complete description of the corpus a
    pipeline can produce — and the numbers every other planning
    operator (mixture, sampling, packing) starts from."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(normalize_text(F.col("text"))).alias("h"),
    )
    dup = F.count("*") - F.countDistinct("h")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.greatest(F.lit(1), F.floor(F.col("n_chars") / _CHARS_PER_TOKEN)))
        .cast("bigint")
        .alias("est_tokens"),
        dup.cast("bigint").alias("n_exact_dups"),
        F.round(dup.cast("double") / F.count("*"), 6).alias("dup_rate"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.expr("CAST(percentile(n_chars, 0.5) AS DOUBLE)"), 1).alias(
            "p50_chars"
        ),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("en_share"),
    )


@register(
    "tokenizer_fertility_audit",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars_raw,
               CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
                   AS n_bpe
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_chars_raw) AS DOUBLE) / NULLIF(SUM(n_bpe), 0), 4)
               AS chars_per_token,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 2) AS avg_tokens_per_doc
    FROM d
    GROUP BY lang
    """,
)
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language slice: characters consumed per
    emitted (BPE-ish) token.  Fertility is THE cross-lingual tokenizer
    health metric — a language whose fertility is far above the
    corpus norm pays more compute per unit of text and trains worse at
    a fixed context length; this audit is what justifies retraining
    the tokenizer or re-weighting the mixture before a run.

    One scan, vocabulary of |languages| output rows; the regex token
    count stays inside whole-stage codegen (same `_BPE_PATTERN` as
    ``doc_text_stats``, so the two audits agree on what a token is)."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars_raw"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("n_chars_raw").cast("double") / F.nullif(F.sum("n_bpe"), F.lit(0)), 4
        ).alias("chars_per_token"),
        F.round(F.sum("n_bpe").cast("double") / F.count("*"), 2).alias(
            "avg_tokens_per_doc"
        ),
    )


#: Context lengths audited by the corpus-fit histogram.
_CTX_LENGTHS = (512, 1024, 2048, 4096)


@register(
    "context_length_fit",
    oracle=f"""
    WITH d AS (
        SELECT GREATEST(1, n_chars // {{cpt}}) AS est_tokens FROM documents
    ),
    t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(est_tokens) AS DOUBLE) AS tok
          FROM d)
    SELECT c.ctx,
           CAST((SELECT COUNT(*) FROM d WHERE est_tokens <= c.ctx) AS BIGINT)
               AS docs_fitting,
           ROUND((SELECT COUNT(*) FROM d WHERE est_tokens <= c.ctx) / t.n, 6)
               AS doc_share,
           ROUND(COALESCE((SELECT SUM(est_tokens) FROM d WHERE est_tokens <= c.ctx), 0)
                 / t.tok, 6) AS token_share
    FROM (SELECT unnest(ARRAY{list(_CTX_LENGTHS)}) AS ctx) c CROSS JOIN t
    """.format(cpt=_CHARS_PER_TOKEN),
)
def context_length_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length fit: for each candidate training context length,
    the share of documents (and of total tokens) that fit without
    truncation — the table a pretraining config review reads when
    choosing sequence length and deciding between truncation, packing
    (:func:`corpus_plan.sequence_packing_plan`) and chunking
    (:func:`corpus_plan.doc_chunking_plan`).

    Shape: the document length profile collapses to one tiny frame;
    the per-context shares are conditional aggregates over it — the
    whole audit is one scan of the metadata column."""
    d = load_table(spark, sf_dir, "documents").select(
        F.greatest(F.lit(1), F.floor(F.col("n_chars") / _CHARS_PER_TOKEN)).alias(
            "est_tokens"
        )
    )
    agg = d.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("est_tokens").cast("double").alias("tok"),
        *[
            F.sum(F.when(F.col("est_tokens") <= c, 1).otherwise(0)).alias(f"fit_{c}")
            for c in _CTX_LENGTHS
        ],
        *[
            F.sum(F.when(F.col("est_tokens") <= c, F.col("est_tokens")).otherwise(0))
            .cast("double")
            .alias(f"tokfit_{c}")
            for c in _CTX_LENGTHS
        ],
    )
    stack = ", ".join(
        f"{c}, fit_{c}, tokfit_{c}" for c in _CTX_LENGTHS
    )
    long = agg.select(
        "n",
        "tok",
        F.expr(
            f"stack({len(_CTX_LENGTHS)}, {stack}) as (ctx, docs_fitting, tok_fitting)"
        ),
    )
    return long.select(
        F.col("ctx").cast("int").alias("ctx"),
        F.col("docs_fitting").cast("bigint").alias("docs_fitting"),
        F.round(F.col("docs_fitting") / F.col("n"), 6).alias("doc_share"),
        F.round(F.col("tok_fitting") / F.col("tok"), 6).alias("token_share"),
    )


_PREFIX_TOKENS = 5


@register(
    "doc_prefix_cluster_stats",
    oracle=f"""
    WITH nd AS (
        SELECT doc_id, {NORMALIZE_TEXT_SQL("text")} AS norm FROM documents
    ), pfx AS (
        SELECT doc_id,
               array_to_string(string_split(norm, ' ')[1:{_PREFIX_TOKENS}], ' ')
                   AS prefix
        FROM nd
    )
    SELECT md5(prefix) AS prefix_md5,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM pfx
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """,
)
def doc_prefix_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-intro detection: cluster documents by their first
    5 normalized tokens and report every prefix shared by ≥2 docs —
    the cheap precursor to :func:`segment_dedup` for corpora where
    syndicated content always opens with the same masthead.  ONE
    map-side prefix projection + one groupBy; the prefix is hashed
    (md5) before the shuffle so the shuffled key is 32 bytes
    regardless of document length."""
    d = spread(load_table(spark, sf_dir, "documents"))
    prefix = F.array_join(
        F.slice(F.split(normalize_text(F.col("text")), " "), 1, _PREFIX_TOKENS), " "
    )
    return (
        d.select("doc_id", F.md5(prefix).alias("prefix_md5"))
        .groupBy("prefix_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


#: BM25 retrieval constants (Robertson/Sparck Jones defaults) and the
#: demo query — mid-frequency corpus terms so scores discriminate.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("hash", "join", "vector")
_BM25_TOPK = 20

#: DuckDB CTE chain producing the full BM25 scored relation
#: ``scored(doc_id, score)`` — shared by the top-k query and the RRF
#: hybrid fusion in similarity.py.
_BM25_SCORED_SQL_CTES = f"""nd AS (
        SELECT doc_id, {NORMALIZE_TEXT_SQL("text")} AS norm FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM nd
    ),
    dl AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(n_tokens AS DOUBLE)) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM toks WHERE token IN {_BM25_QUERY!r}
        GROUP BY 1, 2
    ),
    df AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM tf GROUP BY 1
    ),
    scored AS (
        SELECT t.doc_id,
               SUM(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                   * t.tf * ({_BM25_K1} + 1)
                   / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * l.n_tokens / s.avgdl))) AS score
        FROM tf t
        JOIN df d ON t.token = d.token
        JOIN dl l ON t.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY 1
    )"""


def _doc_lengths(nd: DataFrame) -> DataFrame:
    """Per-doc token counts ``(doc_id, n_tokens)`` as a MAP-SIDE
    projection (r14, guide §2.3 taken to its limit): ``size(split)``
    counts exactly the rows ``explode(split)`` would emit, so the old
    explode → groupBy that shuffled the FULL token stream just to
    count per-doc lengths is zero shuffles now.  NULL-normalized docs
    are filtered to match the exploded form (explode drops them).
    NOT spooled: the frame is a pure projection of the pushed-down
    scan — re-reading is one map pass, cheaper than an eager
    checkpoint job at any scale (the ranked() materialize=False
    rationale)."""
    return nd.filter(F.col("norm").isNotNull()).select(
        "doc_id", F.size(F.split("norm", " ")).alias("n_tokens")
    )


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 scored relation ``(doc_id, score)`` for the fixed
    demo query — every doc containing ≥1 query term."""
    nd = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    toks = nd.select("doc_id", F.explode(F.split("norm", " ")).alias("token"))
    dl = _doc_lengths(nd)
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.col("n_tokens").cast("double")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("n_tokens") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom).alias("score"))
    )


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH {_BM25_SCORED_SQL_CTES}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id,
           ROUND(score, 6) AS score
    FROM scored
    ORDER BY rank
    LIMIT {_BM25_TOPK}
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval: score a fixed term query against the
    corpus (Robertson k1=1.2, b=0.75, the +1-smoothed idf) and return
    the top-20.  The sparse complement of ``ann_cosine_topk`` — with
    ``inverted_index_postings`` these are the two halves of a hybrid
    retrieval stack (fused in ``rrf_hybrid_topk``).

    Scale shape: the query-term filter cuts the token stream BEFORE
    any aggregation (term set is a literal IN — map-side, pushed to
    the scan); per-doc lengths are one aggregate over the corpus;
    document frequencies and global stats are tiny frames broadcast
    into the per-doc scoring aggregate.  Ranking sorts round(score,6)
    with a doc_id tiebreak ON BOTH ENGINES so last-ulp float
    divergence cannot flip ranks; the top-k runs as
    TakeOrderedAndProject, never a global sort — the rank column is
    then numbered over the already-truncated 20 rows, so no
    unpartitioned window ever sees the full candidate set."""
    scored = bm25_scored(spark, sf_dir)
    top = (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(_BM25_TOPK)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "score"
    ).orderBy("rank")


#: Pseudo-relevance feedback: pseudo-relevant set size and the
#: number of expansion terms returned.
_PRF_R = 10
_PRF_TOPK = 8
#: Floor for the RSJ log-odds argument (see the clamp comment in the
#: operator): exp(ln(1e-6)) ≈ −13.8 caps a stopword's negative
#: weight instead of NaN/error.
_PRF_EPS = 1e-6


@register(
    "bm25_prf_expansion",
    oracle=f"""
    WITH {_BM25_SCORED_SQL_CTES},
    rel AS (
        SELECT doc_id FROM scored
        ORDER BY ROUND(score, 6) DESC, doc_id LIMIT {_PRF_R}
    ),
    rterms AS (
        SELECT t.token, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS r
        FROM toks t JOIN rel USING (doc_id)
        WHERE t.token NOT IN {_BM25_QUERY!r}
        GROUP BY 1
    ),
    dfall AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
        FROM toks GROUP BY 1
    ),
    ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nd),
    wtd AS (
        SELECT rt.token, rt.r, d.n,
               ROUND(ln(GREATEST(
                        ((rt.r + 0.5) * (nd.nn - d.n - {_PRF_R} + rt.r + 0.5))
                        / ((d.n - rt.r + 0.5) * ({_PRF_R} - rt.r + 0.5)),
                        {_PRF_EPS})), 6)
                   AS rsj_weight,
               ROUND(rt.r * ln(GREATEST(
                        ((rt.r + 0.5)
                                * (nd.nn - d.n - {_PRF_R} + rt.r + 0.5))
                        / ((d.n - rt.r + 0.5) * ({_PRF_R} - rt.r + 0.5)),
                        {_PRF_EPS})), 6)
                   AS rsv
        FROM rterms rt JOIN dfall d USING (token) CROSS JOIN ndocs nd
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rsv DESC, token) AS INTEGER)
               AS rank,
           token, r, n, rsj_weight, rsv
    FROM wtd
    ORDER BY rsv DESC, token
    LIMIT {_PRF_TOPK}
    """,
)
def bm25_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Robertson/Sparck
    Jones relevance weights + Robertson Selection Value): run the
    fixed [[bm25_search_topk]] query, treat its top-{{_PRF_R}} as
    pseudo-relevant, weight every non-query term by the RSJ
    log-odds w = ln((r+0.5)(N−n−R+r+0.5) / ((n−r+0.5)(R−r+0.5))) and
    rank candidates by RSV = r·w — the classical automatic query-
    expansion step of a retrieval stack (the third IR verb after
    scoring and fusion).  Measured signal (r11, sf0.01): weights
    span 0.562 → −0.06 with 'filter'/'agg' clearly elected — the
    selection discriminates even on this near-uniform vocabulary.

    Determinism: the pseudo-relevant set is the 6-dp-rounded-score
    top-k with doc_id tiebreak (the retrieval idiom); r, n, N are
    exact integers; w and RSV are single fixed IEEE chains rounded
    6 dp; the final ranking orders on (rounded RSV, token).

    Scale shape: reuses the BM25 scored relation (broadcast stats,
    postings-filtered aggregates); the pseudo-relevant doc set is a
    {{_PRF_R}}-row broadcast into one token aggregate; document
    frequencies are a |vocab|-row frame; the final top-{{_PRF_TOPK}}
    is TakeOrderedAndProject."""
    scored = bm25_scored(spark, sf_dir)
    rel = (
        scored.select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id"))
        .limit(_PRF_R)
        .select("doc_id")
    )
    nd = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    toks = nd.select("doc_id", F.explode(F.split("norm", " ")).alias("token"))
    rterms = (
        toks.join(F.broadcast(rel), "doc_id")
        .filter(~F.col("token").isin(*_BM25_QUERY))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("r"))
    )
    dfall = toks.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n")
    )
    ndocs = nd.agg(F.count("*").cast("bigint").alias("nn"))
    # Clamp the log-odds argument (standard RSJ practice): a
    # stopword-like term present in more than N-R+r docs drives the
    # argument non-positive — Spark's log would yield NULL/NaN while
    # DuckDB raises; GREATEST(arg, eps) in BOTH engines keeps the
    # weight finite and identical (ADVICE r11).
    w_expr = F.log(
        F.greatest(
            ((F.col("r") + 0.5) * (F.col("nn") - F.col("n") - _PRF_R + F.col("r") + 0.5))
            / ((F.col("n") - F.col("r") + 0.5) * (_PRF_R - F.col("r") + 0.5)),
            F.lit(_PRF_EPS),
        )
    )
    wtd = (
        rterms.join(dfall, "token")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "token",
            "r",
            "n",
            F.round(w_expr, 6).alias("rsj_weight"),
            F.round(F.col("r") * w_expr, 6).alias("rsv"),
        )
    )
    top = wtd.orderBy(F.col("rsv").desc(), F.col("token")).limit(_PRF_TOPK)
    w = Window.orderBy(F.col("rsv").desc(), F.col("token"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "token",
        "r",
        "n",
        "rsj_weight",
        "rsv",
    ).orderBy("rank")


#: Dirichlet-smoothing mass for the query-likelihood scorer — sized
#: to the corpus (mean doc length ~54 tokens; the web-scale 2000
#: default would drown every document signal).
_LMD_MU = 100
_LMD_TOPK = 20


@register(
    "lm_dirichlet_search_topk",
    oracle=f"""
    WITH nd AS (
        SELECT doc_id, {NORMALIZE_TEXT_SQL("text")} AS norm FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM nd
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM toks GROUP BY 1),
    cf AS (
        SELECT token, CAST(COUNT(*) AS DOUBLE) AS cf
        FROM toks WHERE token IN {_BM25_QUERY!r} GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks),
    bc AS (
        SELECT SUM(ln({_LMD_MU} * cf / tot.t)) AS base_const,
               COUNT(*) AS nq
        FROM cf CROSS JOIN tot
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM toks WHERE token IN {_BM25_QUERY!r} GROUP BY 1, 2
    ),
    boost AS (
        SELECT t.doc_id,
               SUM(ln(t.tf + {_LMD_MU} * c.cf / tot.t)
                   - ln({_LMD_MU} * c.cf / tot.t)) AS b
        FROM tf t JOIN cf c ON t.token = c.token CROSS JOIN tot
        GROUP BY 1
    ),
    scored AS (
        SELECT l.doc_id,
               ROUND(bc.base_const - bc.nq * ln(l.n_tokens + {_LMD_MU})
                     + COALESCE(b.b, 0), 6) AS score
        FROM dl l CROSS JOIN bc LEFT JOIN boost b ON l.doc_id = b.doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS rank,
           doc_id, score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {_LMD_TOPK}
    """,
)
def lm_dirichlet_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) over the same fixed query as [[bm25_search_topk]]
    — the second classical sparse-scoring family (generative LM
    ranking next to BM25's probabilistic relevance), and the scorer
    whose smoothing term makes UNMATCHED documents comparable: score
    = Σ_q ln((tf + μ·p(q|C)) / (dl + μ)) is defined for every doc,
    decomposed here as a broadcast query constant + a document-length
    penalty (pure map-side) + a matched-term boost from the postings
    join — so the corpus-wide scoring costs one aggregate and one
    broadcast join, never a dense query×doc product.

    Determinism: ranking follows the retrieval-family idiom — order
    by the 6-dp ROUNDED score with doc_id tiebreak so last-ulp libm
    differences cannot flip ranks; μ and the query are definition-
    time constants.

    Scale shape: token stats are two hash aggregates; cf/base
    constants are a |Q|-row broadcast; the boost join touches only
    docs containing a query term; final top-{_LMD_TOPK} is
    TakeOrderedAndProject (rank numbered over the truncated rows
    only)."""
    nd = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )
    toks = nd.select("doc_id", F.explode(F.split("norm", " ")).alias("token"))
    # r14: map-side per-doc lengths (see _doc_lengths) — the old
    # explode+groupBy full-token-stream shuffle is gone, and the
    # corpus-total token count folds over the slim spooled lengths
    # (Σ size ≡ count of exploded rows, same exact integer).
    dl = _doc_lengths(nd)
    tot = dl.agg(F.sum("n_tokens").cast("double").alias("t"))
    tf = (
        toks.filter(F.col("token").isin(*_BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    # Collection frequency derived from tf (Σ_doc tf ≡ the old direct
    # count over the filtered token stream — exact integer-valued
    # doubles), saving a third corpus pass.
    cf = tf.groupBy("token").agg(F.sum("tf").alias("cf"))
    bc = (
        cf.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.log(_LMD_MU * F.col("cf") / F.col("t"))).alias(
                "base_const"
            ),
            F.count("*").alias("nq"),
        )
    )
    boost = (
        tf.join(F.broadcast(cf), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(F.col("tf") + _LMD_MU * F.col("cf") / F.col("t"))
                - F.log(_LMD_MU * F.col("cf") / F.col("t"))
            ).alias("b")
        )
    )
    scored = (
        dl.crossJoin(F.broadcast(bc))
        .join(F.broadcast(boost), "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.col("base_const")
                - F.col("nq") * F.log(F.col("n_tokens") + _LMD_MU)
                + F.coalesce(F.col("b"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(
        _LMD_TOPK
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "score"
    ).orderBy("rank")


@register(
    "doc_token_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    d AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n,
               COUNT(*) AS v,
               SUM(c * ln(c)) AS sclc
        FROM c GROUP BY 1
    )
    SELECT doc_id,
           n AS n_tokens,
           v AS n_types,
           ROUND(CAST(v AS DOUBLE) / n, 4) AS type_token_ratio,
           ROUND(ln(n) - sclc / n, 4) AS token_entropy_nats,
           CASE WHEN v > 1 THEN ROUND((ln(n) - sclc / n) / ln(v), 4) END
               AS norm_entropy
    FROM d
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    classic low-entropy screen for boilerplate/template/spam pages in
    a pretraining corpus (a page repeating 10 tokens scores ~2.3 nats
    while natural prose of the same length scores 4-5), plus
    type-token ratio and entropy normalized by ln(vocab).

    Shape: explode → per-(doc, token) count → per-doc fold, i.e. two
    partial-aggregated shuffles keyed by doc, both map-side combined;
    no corpus-wide state, so it scales linearly.  Entropy uses the
    count form H = ln(N) − Σc·ln(c)/N so every summand is derived
    from exact integer counts; the double sum is rounded at 4dp
    (summation-order noise ~1e-12, five orders inside the margin)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    c = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    d = c.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").alias("v"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("sclc"),
    )
    raw_h = F.log(F.col("n")) - F.col("sclc") / F.col("n")
    return d.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.round(F.col("v").cast("double") / F.col("n"), 4).alias("type_token_ratio"),
        F.round(raw_h, 4).alias("token_entropy_nats"),
        F.when(F.col("v") > 1, F.round(raw_h / F.log(F.col("v")), 4)).alias(
            "norm_entropy"
        ),
    )


#: Winnowing parameters: word-3-gram hashes, window of 4 consecutive
#: k-grams → guarantee window t = w + k − 1 = 6 tokens (any shared run
#: of ≥6 tokens between two documents shares ≥1 fingerprint).
_WINNOW_W = 4


def winnow_fingerprints(nd: DataFrame, w: int = _WINNOW_W) -> DataFrame:
    """Winnowing fingerprint selection over a ``(doc_id, toks)`` frame:
    word-3-gram hashes, leftmost-min-per-window-of-``w`` selection via
    (hash, pos) struct ordering.  Returns the distinct selected
    ``(doc_id, fpos, fph, n_sh)`` rows — the core both the registered
    query and the guarantee property test drive."""
    n3 = F.greatest(F.size("toks") - 2, F.lit(0))
    sh = (
        nd.select(
            "doc_id",
            F.posexplode(F.slice(F.col("toks"), 1, n3)).alias("i0", "t0"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            (F.col("i0") + 1).alias("pos"),
            portable_hash64(
                F.concat_ws(
                    " ",
                    F.col("t0"),
                    F.element_at("toks", F.col("i0") + 2),
                    F.element_at("toks", F.col("i0") + 3),
                )
            ).alias("h"),
        )
    )
    w_sel = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    w_doc = Window.partitionBy("doc_id")
    win = sh.select(
        "doc_id",
        "pos",
        F.min(F.struct(F.col("h"), F.col("pos").alias("p"))).over(w_sel).alias("sel"),
        F.count("*").over(w_doc).alias("n_sh"),
    )
    return (
        win.filter(F.col("pos") <= F.greatest(F.col("n_sh") - w + 1, F.lit(1)))
        .select(
            "doc_id",
            F.col("sel.p").alias("fpos"),
            F.col("sel.h").alias("fph"),
            "n_sh",
        )
        .distinct()
    )


#: Shared DuckDB CTE chain producing the winnowing fingerprint set
#: ``fp(doc_id, fpos, fph, n_sh)`` — the oracle twin of
#: :func:`winnow_fingerprints`, reused by every winnowing query.
_WINNOW_FP_SQL_CTES = f"""nd AS (
        SELECT doc_id, string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, i AS pos,
               {PORTABLE_HASH64_SQL("toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]")} AS h
        FROM nd, LATERAL unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
    ),
    win AS (
        SELECT doc_id, pos,
               min(struct_pack(h := h, p := pos)) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
               ) AS sel,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM sh
    ),
    fp AS (
        SELECT DISTINCT doc_id, sel.p AS fpos, sel.h AS fph, n_sh
        FROM win WHERE pos <= greatest(n_sh - {_WINNOW_W} + 1, 1)
    )"""


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH {_WINNOW_FP_SQL_CTES},
    hd AS (
        SELECT fph, COUNT(DISTINCT doc_id) AS n_docs FROM fp GROUP BY 1
    )
    SELECT f.doc_id,
           MAX(f.n_sh) AS n_kgrams,
           COUNT(*) AS n_fingerprints,
           CAST(COUNT(DISTINCT f.fph) AS BIGINT) AS n_distinct_fp,
           CAST(SUM(CASE WHEN hd.n_docs > 1 AND f.fpos = f.min_pos_for_hash
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(f.n_sh), 4) AS density
    FROM (
        SELECT *, MIN(fpos) OVER (PARTITION BY doc_id, fph) AS min_pos_for_hash
        FROM fp
    ) f
    JOIN hd ON f.fph = hd.fph
    GROUP BY 1
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word-3-gram, slide a
    window of w=4 consecutive hashes over each document, and select
    the minimum of each window (leftmost on ties via (hash, pos)
    struct ordering — deterministic in both engines).  The selected
    set is the document's fingerprint: any shared token run of length
    ≥ w+k−1 between two documents is GUARANTEED to share a selected
    hash, with expected density 2/(w+1) — the local-selection
    guarantee MinHash doesn't give.

    Per doc this reports k-gram count, fingerprint count, distinct
    fingerprint hashes, how many of those hashes also appear in some
    OTHER document (the plagiarism/near-dup signal), and selection
    density (≈ 2/(w+1) = 0.4 on random text).

    Scale shape: shingling + hashing is a map-side explode; the
    window min runs inside each doc partition (docs are bounded, no
    skew); the cross-doc sharing pass is a fingerprint-keyed
    count-distinct shuffle whose input is already ~2/(w+1) of the
    k-gram stream — all linear, no pairwise comparisons anywhere.
    A full MOSS-style matcher would equi-join fp↔fp on hash — the
    same bounded-bucket shape as ``dedup_minhash_lsh``."""
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    # r14 (mechanism-2 spool): the fingerprint table feeds TWO plan
    # branches (the cross-doc df census and the per-doc report join)
    # — unspooled, the shingle posexplode + two windows + distinct ran
    # twice.  Size note: fp is ~2/(w+1) of the k-gram stream (slim
    # int rows) — data-proportional; at extreme scale the ks_2samp
    # materialize policy applies (drop the spool, pay the rescan).
    fp = winnow_fingerprints(nd).localCheckpoint()
    hd = fp.groupBy("fph").agg(F.count_distinct("doc_id").alias("n_docs"))
    w_hash = Window.partitionBy("doc_id", "fph")
    f = fp.withColumn("min_pos_for_hash", F.min("fpos").over(w_hash)).join(hd, "fph")
    return f.groupBy("doc_id").agg(
        F.max("n_sh").alias("n_kgrams"),
        F.count("*").alias("n_fingerprints"),
        F.count_distinct("fph").cast("bigint").alias("n_distinct_fp"),
        F.sum(
            F.when(
                (F.col("n_docs") > 1) & (F.col("fpos") == F.col("min_pos_for_hash")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_shared_fp"),
        F.round(F.count("*").cast("double") / F.max("n_sh"), 4).alias("density"),
    )


#: MOSS-style stoplist bound: fingerprint hashes appearing in more
#: documents than this are boilerplate, not plagiarism signal — and
#: dropping them is also what bounds the join's bucket sizes.
_WINNOW_MAX_DF = 50


@register(
    "doc_winnowing_matches",
    oracle=f"""
    WITH {_WINNOW_FP_SQL_CTES},
    d AS (SELECT DISTINCT doc_id, fph FROM fp),
    df AS (SELECT fph, COUNT(*) AS nd FROM d GROUP BY 1),
    kept AS (
        SELECT d.doc_id, d.fph
        FROM d JOIN df USING (fph)
        WHERE df.nd BETWEEN 2 AND {_WINNOW_MAX_DF}
    ),
    pc AS (SELECT doc_id, COUNT(*) AS n_fp FROM d GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fp
        FROM kept a JOIN kept b ON a.fph = b.fph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.shared_fp AS BIGINT) AS shared_fp,
           CAST(pa.n_fp AS BIGINT) AS n_fp_a,
           CAST(pb.n_fp AS BIGINT) AS n_fp_b,
           ROUND(CAST(p.shared_fp AS DOUBLE) / LEAST(pa.n_fp, pb.n_fp), 4)
               AS overlap
    FROM pairs p
    JOIN pc pa ON p.doc_a = pa.doc_id
    JOIN pc pb ON p.doc_b = pb.doc_id
    WHERE p.shared_fp >= 2
    """,
)
def doc_winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS matcher on top of :func:`winnow_fingerprints`: for
    every document pair sharing ≥2 selected fingerprints, the shared
    count and the overlap ratio (shared / min fingerprint count) —
    the plagiarism/quote-detection report the winnowing paper builds,
    and the natural next filter after ``doc_winnowing_fingerprints``
    flags corpus-level sharing.

    Scale shape: the pair generation is an equi-join of the
    fingerprint table with itself ON THE HASH — never an all-pairs
    document comparison — and the MOSS stoplist (df ≤ 50) both
    removes boilerplate noise and hard-bounds every join bucket, the
    same discipline as ``dedup_minhash_lsh``'s band join.  Input to
    the join is already winnowed to ~2/(w+1) of the k-gram stream."""
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    d = winnow_fingerprints(nd).select("doc_id", "fph").distinct()
    df_tbl = d.groupBy("fph").agg(F.count("*").alias("nd"))
    kept = (
        d.join(df_tbl, "fph")
        .filter(F.col("nd").between(2, _WINNOW_MAX_DF))
        .select("doc_id", "fph")
    )
    pc = d.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fph")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fph")
    pairs = (
        a.join(b, "fph")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fp"))
        .filter(F.col("shared_fp") >= 2)
    )
    pa = pc.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    pb = pc.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("shared_fp").cast("bigint").alias("shared_fp"),
            F.col("n_fp_a").cast("bigint").alias("n_fp_a"),
            F.col("n_fp_b").cast("bigint").alias("n_fp_b"),
            F.round(
                F.col("shared_fp").cast("double")
                / F.least("n_fp_a", "n_fp_b"),
                4,
            ).alias("overlap"),
        )
    )


# --- RAKE keyphrase extraction --------------------------------------

_RAKE_TOP_K = 20


@register(
    "doc_rake_keyphrases",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, pos, w,
               (w IN {_STOPWORDS!r} OR w = '') AS is_stop
        FROM (
            SELECT doc_id,
                   generate_subscripts(string_split(
                       {NORMALIZE_TEXT_SQL("text")}, ' '), 1) AS pos,
                   unnest(string_split(
                       {NORMALIZE_TEXT_SQL("text")}, ' ')) AS w
            FROM documents
        )
    ),
    marked AS (
        SELECT doc_id, pos, w, is_stop,
               SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pid
        FROM toks
    ),
    pw AS MATERIALIZED (
        SELECT doc_id, pid, pos, w FROM marked WHERE NOT is_stop
    ),
    plen AS (
        SELECT doc_id, pid, COUNT(*) AS n_words
        FROM pw GROUP BY 1, 2
    ),
    wstat AS (
        SELECT w,
               COUNT(*) AS freq,
               SUM(p.n_words) AS deg
        FROM pw JOIN plen p USING (doc_id, pid)
        GROUP BY 1
    ),
    wscore AS (
        SELECT w, (deg * 1000000) // freq AS score_q FROM wstat
    ),
    phrase AS (
        SELECT pw.doc_id, pw.pid,
               string_agg(pw.w, ' ' ORDER BY pw.pos) AS phrase,
               COUNT(*) AS n_words,
               SUM(ws.score_q) AS score_q
        FROM pw JOIN wscore ws ON pw.w = ws.w
        GROUP BY 1, 2
    ),
    corpus AS (
        SELECT phrase,
               COUNT(*) AS n_occurrences,
               MAX(n_words) AS n_words,
               MAX(score_q) AS score_q
        FROM phrase GROUP BY 1
    )
    SELECT CAST(rk AS INTEGER) AS rank, phrase,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           ROUND(CAST(score_q AS DOUBLE) / 1000000.0, 6) AS rake_score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY score_q DESC, phrase ASC) AS rk
        FROM corpus
    )
    WHERE rk <= {_RAKE_TOP_K}
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs; each
    word scores degree/frequency (degree = summed length of every
    phrase it appears in — favors words that travel in long
    collocations), and a phrase scores the sum of its words; the
    corpus top-{k} phrases by score.  The classic unsupervised
    keyword extractor a corpus-exploration pipeline runs before
    anything model-based.

    Determinism: word scores are quantized to integers —
    (deg * 1e6) div freq, truncating division identical in both
    engines — so phrase scores are exact integer sums under any
    shuffle order, and the final ranking breaks ties on the phrase
    text itself.  Phrase reassembly is an explicitly ordered
    aggregation (sort-by-position), not a collect-order accident.

    Scale shape: phrase segmentation is the sessionization idiom
    (stopword-break running count) inside one doc-partitioned
    window; word stats collapse by vocabulary (bounded); the word
    score joins back as a broadcast; the only fact-scale shuffles
    are the doc-keyed window and the (doc, phrase) aggregate.  The
    top-{k} is a TakeOrdered over per-partition heads, not a global
    sort of all phrases."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.posexplode(_tokens(F.col("text"))).alias("pos", "w"),
    ).withColumn(
        "is_stop", F.col("w").isin(*_STOPWORDS) | (F.col("w") == "")
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pw = (
        toks.withColumn(
            "pid", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(w_doc)
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "pid", "pos", "w")
        # r14 (mechanism-2 spool): three consumers (phrase lengths,
        # word stats, phrase reassembly) re-ran the tokenize +
        # doc-window chain each.  Size note: token-stream-sized —
        # at extreme scale the ks_2samp materialize policy applies.
        .localCheckpoint()
    )
    plen = pw.groupBy("doc_id", "pid").agg(F.count("*").alias("n_words"))
    wstat = (
        pw.join(plen, ["doc_id", "pid"])
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("n_words").alias("deg"))
    )
    wscore = wstat.select(
        "w", F.expr("(deg * 1000000) div freq").alias("score_q")
    )
    phrase = (
        pw.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("n_words"),
            F.sum("score_q").alias("score_q"),
        )
    )
    corpus = phrase.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"),
        F.max("n_words").alias("n_words"),
        F.max("score_q").alias("score_q"),
    )
    # Top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort of the phrase census), then re-rank the
    # already-truncated K rows.  (r13 finding: Spark 4.1's
    # LimitPushDownThroughWindow would rescue the old filtered
    # unpartitioned row_number form too — but the explicit shape
    # does not depend on an optimizer rule surviving conf changes
    # (excludedRules disables the rescue) and self-documents; same
    # idiom as bm25_search_topk.)
    top = corpus.orderBy(
        F.col("score_q").desc(), F.col("phrase")
    ).limit(_RAKE_TOP_K)
    rk = F.row_number().over(
        Window.orderBy(F.col("score_q").desc(), F.col("phrase"))
    )
    return (
        top.withColumn("rank", rk)
        .select(
            F.col("rank").cast("int"),
            "phrase",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.round(F.col("score_q").cast("double") / 1000000.0, 6).alias(
                "rake_score"
            ),
        )
    )


doc_rake_keyphrases.__doc__ = doc_rake_keyphrases.__doc__.format(
    k=_RAKE_TOP_K
)


# --- Zipf rank-frequency fit ----------------------------------------


@register(
    "vocab_zipf_fit",
    oracle=f"""
    WITH vocab AS (
        SELECT w, COUNT(*) AS freq
        FROM (
            SELECT unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' '))
                AS w
            FROM documents
        )
        WHERE w <> ''
        GROUP BY 1
    ),
    ranked AS (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, w ASC) AS rank
        FROM vocab
    ),
    q AS (
        SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1000000.0)
                    AS BIGINT) AS lx,
               CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 1000000.0)
                    AS BIGINT) AS ly
        FROM ranked
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(lx AS HUGEINT)) AS sx,
               SUM(CAST(ly AS HUGEINT)) AS sy,
               SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
               SUM(CAST(lx AS HUGEINT) * ly) AS sxy,
               SUM(CAST(ly AS HUGEINT) * ly) AS syy
        FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) * 10000.0 + 0.5)
               / 10000.0 AS zipf_slope,
           FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / (CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)))
                 * 10000.0 + 0.5) / 10000.0 AS r2
    FROM s
    """,
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope of
    log-frequency against log-rank (natural-corpus text slopes near
    -1; a flat or kinked curve flags synthetic, templated, or
    truncated-vocabulary text) with the fit R² — the two-number
    corpus-health diagnostic that catches generator artifacts no
    per-document statistic sees.

    Determinism: ranks and frequencies are exact integers with the
    word as rank tie-break; the logs are QUANTIZED at the leaf —
    floor(ln(v)*1e6) per value — so the five regression moments
    accumulate as exact integers under any shuffle order (the
    audited last-ulp risk lives only in the per-value floor, ~1e-10
    odds per distinct value, not in the order-sensitive sums); the
    closed-form slope/R² are single IEEE expressions over exact
    scalars, emitted with the floor discipline.

    Scale shape: one flatten + one keyed aggregate builds the
    vocabulary (vocabulary-bounded, not corpus-bounded — but a 100 TB
    corpus's vocabulary is still hundreds of millions of types, and
    the regression consumes EVERY rank, so no top-k cut applies);
    ranks come from the chunked ``ranked()`` helper — parallel
    per-chunk sorts with broadcast offsets, never a single-task
    global window sort; the moments fold to a single row map-side."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # Exact global rank via the chunked ranked() helper — the
    # regression consumes EVERY rank (no top-k cut can bound the
    # frame), so the bare unpartitioned row_number form single-task-
    # sorted the full vocab frame (VERDICT r12 item 2; the
    # vocab_coverage_curve treatment).
    rnk = ranked(
        vocab, [("freq", "desc"), ("w", "asc")], rn_col="rank"
    ).select("freq", "rank")
    lq = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * 1000000.0
    ).cast("bigint")
    q = rnk.select(lq(F.col("rank")).alias("lx"), lq(F.col("freq")).alias("ly"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = q.agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("lx"))).alias("sx"),
        F.sum(dec(F.col("ly"))).alias("sy"),
        F.sum(dec(F.col("lx")) * F.col("lx")).alias("sxx"),
        F.sum(dec(F.col("lx")) * F.col("ly")).alias("sxy"),
        F.sum(dec(F.col("ly")) * F.col("ly")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    emit = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return s.select(
        F.col("n").cast("bigint").alias("n_types"),
        emit(num / den_x).alias("zipf_slope"),
        emit(num * num / (den_x * den_y)).alias("r2"),
    )


#: BPE training rounds: enough to exercise multi-char symbol merges
#: (round-3+ pairs contain round-1/2 merge products) while keeping
#: the oracle's chained-CTE form readable.
_BPE_MERGES = 5


def _bpe_round_sql(r: int) -> str:
    """One BPE round as chained CTEs: pair counts over the current
    symbolization, the argmax merge (ties break lexicographically),
    and the re-symbolized vocabulary."""
    prev = f"v{r - 1}"
    return f"""
    p{r} AS (
        SELECT s[i] || ' ' || s[i + 1] AS pair, SUM(freq) AS cnt
        FROM (SELECT freq, string_split(sym, ' ') AS s FROM {prev}),
             unnest(generate_series(1, len(s) - 1)) AS t(i)
        GROUP BY 1
    ),
    b{r} AS (
        SELECT pair, replace(pair, ' ', '') AS merged, cnt
        FROM p{r} ORDER BY cnt DESC, pair LIMIT 1
    ),
    v{r} AS (
        SELECT word, freq,
               trim(replace(' ' || sym || ' ',
                            (SELECT ' ' || pair || ' ' FROM b{r}),
                            (SELECT ' ' || merged || ' ' FROM b{r}))) AS sym
        FROM {prev}
    )"""


def _bpe_oracle() -> str:
    rounds = ",".join(_bpe_round_sql(r) for r in range(1, _BPE_MERGES + 1))
    emit = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair, merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    return f"""
    WITH words AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' '))
                  AS w
              FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY 1
    ),
    v0 AS (
        SELECT word, freq,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
        FROM words
    ),{rounds}
    {emit}
    """


@register("bpe_merge_learning", oracle=_bpe_oracle())
def bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first {n} byte-pair-encoding merges from the corpus
    (Sennrich, Haddow & Birch 2016 — the tokenizer-training step of
    every LLM data pipeline): symbolize each vocabulary word as
    characters, then repeatedly count adjacent symbol pairs weighted
    by word frequency and merge the most frequent pair.  Emits the
    learned merge table (rank, pair, merged symbol, count) — the
    artifact a tokenizer ships.

    THE scale property (and why this is 100 TB-shaped): BPE training
    never iterates over the corpus — it iterates over the WORD
    FREQUENCY TABLE, which is vocabulary-bounded (Heaps' law: ~1e6
    rows at 100 TB, one early aggregate of the corpus exactly like
    doc_tfidf's DF pass).  Each round is a map-side pair expansion
    (O(symbols/word)) + one bounded aggregate + a 1-row broadcast
    argmax folded back via string replace — no driver collect, no
    growing plan state beyond the ≤{n} accumulated replaces.

    Determinism: counts are exact integer sums of exact frequencies;
    the argmax tie-breaks lexicographically on the pair string (both
    engines compare ASCII binary); merge application is the engines'
    shared non-overlapping left-to-right ``replace`` over
    space-padded symbol strings (textbook BPE differs only on
    immediately-repeating pair sites, e.g. 'a a a' — a documented,
    engine-identical greedy convention).

    Reference parity note: the reference has no tokenizer trainer
    (its text surface stops at feature strings); this is a BASELINE
    north-star extension like the rest of operators/text.py."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        # r14 (mechanism-2 spool): every merge round's pair-count job
        # re-derived the word frequency table — i.e. re-tokenized the
        # whole corpus once per round (_BPE_MERGES rounds).  The table is the
        # vocabulary-bounded artifact the docstring's scale story
        # rests on (Heaps' law, ~1e6 rows at 100 TB) — spool it once
        # and each round re-reads only symbols.  Exact integer
        # frequencies: recomputation-identical.
        .localCheckpoint()
    )
    v = words.select(
        "word",
        "freq",
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("sym"),
    )
    bests = []
    for r in range(1, _BPE_MERGES + 1):
        s = F.split(F.col("sym"), " ")
        sz = F.size(s)
        pairs = F.transform(
            F.sequence(F.lit(1), sz - 1),
            lambda i: F.concat(
                F.element_at(s, i), F.lit(" "), F.element_at(s, i + 1)
            ),
        )
        pc = (
            v.select("freq", F.explode(F.when(sz >= 2, pairs)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pc.orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .select(
                "pair",
                F.regexp_replace("pair", " ", "").alias("merged"),
                "cnt",
            )
            # materialize the 1-row argmax so round r+1's plan does not
            # re-derive rounds 1..r (the unchecked plan doubles per
            # round); a 1-row localCheckpoint is the bounded scalar the
            # registry contract allows
            .localCheckpoint()
        )
        bests.append(
            best.select(
                F.lit(r).cast("bigint").alias("merge_rank"),
                "pair",
                "merged",
                F.col("cnt").cast("bigint").alias("pair_count"),
            )
        )
        v = v.crossJoin(F.broadcast(best.select("pair", "merged"))).select(
            "word",
            "freq",
            F.trim(
                F.expr(
                    "replace(' ' || sym || ' ', ' ' || pair || ' ',"
                    " ' ' || merged || ' ')"
                )
            ).alias("sym"),
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out


@register(
    "source_ablation_report",
    oracle=f"""
    WITH d AS (
        SELECT source, n_chars,
               md5({NORMALIZE_TEXT_SQL("text")}) AS h,
               string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    m AS (
        SELECT source, n_chars, h,
               (len(toks) >= {_MIN_TOKENS} AND len(toks) <= {_MAX_TOKENS}
                AND CAST(len(list_distinct(toks)) AS DOUBLE)
                    / NULLIF(len(toks), 0) >= {_MIN_DISTINCT_RATIO}
                AND CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r}))
                         AS DOUBLE)
                    / NULLIF(len(toks), 0) <= {_MAX_STOPWORD_RATIO})
                   AS admitted
        FROM d
    ),
    hs AS (SELECT h, COUNT(DISTINCT source) AS ns FROM m GROUP BY 1),
    j AS (SELECT m.*, hs.ns FROM m JOIN hs ON hs.h = m.h),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
               CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_admitted,
               CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_crossdup,
               CAST(SUM(CASE WHEN ns = 1 THEN n_chars ELSE 0 END) AS BIGINT)
                   AS unique_chars
        FROM j GROUP BY 1
    )
    SELECT source, n_docs, n_chars_total,
           ROUND(CAST(n_admitted AS DOUBLE) / n_docs, 6) AS admitted_rate,
           ROUND(CAST(n_crossdup AS DOUBLE) / n_docs, 6) AS crossdup_rate,
           ROUND(CAST(unique_chars AS DOUBLE)
                 / SUM(n_chars_total) OVER (), 6) AS unique_char_share
    FROM s
    """,
)
def source_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation: for every corpus source,
    the ablation-relevant facts a mixture-curation pipeline weighs
    before dropping or down-weighting it — volume (docs, chars),
    C4-admission rate (the corpus_quality_filter predicate, inlined),
    cross-source exact-dup rate (docs whose normalized-text hash also
    appears under ANOTHER source — content you would NOT lose by
    dropping this source), and the unique-char share (chars only this
    source contributes — exactly what an ablation removes from the
    training mixture).

    Determinism: the dup census keys on the portable MD5 of the
    normalized text; every tally is an exact integer; the three rates
    are single IEEE divides of exact integers.

    Scale shape: one corpus scan computes (source, hash, chars,
    admitted) map-side; the hash census is the dedup_exact shuffle
    (corpus-wide but key-partitioned, no skew beyond duplicate
    groups); the hash join fans back ONE bounded column (ns); the
    final aggregate collapses to |sources| rows, and the share window
    runs on that bounded frame."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.nullif(
        n_tok, F.lit(0)
    )
    stopword_ratio = F.size(
        F.filter(toks, lambda x: x.isin(*_STOPWORDS))
    ).cast("double") / F.nullif(n_tok, F.lit(0))
    admitted = (
        (n_tok >= _MIN_TOKENS)
        & (n_tok <= _MAX_TOKENS)
        & (distinct_ratio >= _MIN_DISTINCT_RATIO)
        & (stopword_ratio <= _MAX_STOPWORD_RATIO)
    )
    # localCheckpoint: m feeds the hash census AND the fan-back join
    # — unmaterialized, every document is normalized+hashed twice
    m = d.select(
        "source",
        "n_chars",
        F.md5(normalize_text(F.col("text"))).alias("h"),
        admitted.alias("admitted"),
    ).localCheckpoint()
    hs = m.groupBy("h").agg(F.countDistinct("source").alias("ns"))
    j = m.join(hs, "h")
    s = j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        F.sum(F.when(F.col("admitted"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_admitted"),
        F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_crossdup"),
        F.sum(F.when(F.col("ns") == 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("unique_chars"),
    )
    w = Window.partitionBy()
    return s.select(
        "source",
        "n_docs",
        "n_chars_total",
        F.round(F.col("n_admitted").cast("double") / F.col("n_docs"), 6).alias(
            "admitted_rate"
        ),
        F.round(F.col("n_crossdup").cast("double") / F.col("n_docs"), 6).alias(
            "crossdup_rate"
        ),
        F.round(
            F.col("unique_chars").cast("double")
            / F.sum("n_chars_total").over(w),
            6,
        ).alias("unique_char_share"),
    )


#: Lexical-drift vocabulary size and probability floor (the PSI/JS
#: discipline), plus the conventional JS "investigate" threshold.
_LEX_TOPK = 100
_LEX_EPS = 1e-06


@register(
    "corpus_lexical_drift",
    oracle=f"""
    WITH w AS (
        SELECT lang, doc_id % 2 AS half, t.w AS word
        FROM (SELECT lang, doc_id,
                     string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
              FROM documents),
             unnest(toks) AS t(w)
        WHERE regexp_matches(t.w, '^[a-z]+$')
    ),
    census AS (
        SELECT lang, half, word, CAST(COUNT(*) AS BIGINT) AS n
        FROM w GROUP BY 1, 2, 3
    ),
    vocab AS (
        SELECT lang, word FROM (
            SELECT lang, word, SUM(n) AS tot FROM census GROUP BY 1, 2
        )
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY tot DESC, word) <= {_LEX_TOPK}
    ),
    bucketed AS (
        SELECT c.lang,
               CASE WHEN v.word IS NULL THEN '<oov>' ELSE c.word END
                   AS bucket,
               SUM(CASE WHEN c.half = 0 THEN c.n ELSE 0 END) AS n_ref,
               SUM(CASE WHEN c.half = 1 THEN c.n ELSE 0 END) AS n_cur
        FROM census c
        LEFT JOIN vocab v ON v.lang = c.lang AND v.word = c.word
        GROUP BY 1, 2
    ),
    t AS (
        SELECT lang, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
        FROM bucketed GROUP BY 1
        -- a language whose docs all share one parity has an empty
        -- half: 0/0 = NaN wins GREATEST and poisons the fold (and the
        -- NaN->BIGINT cast errors here while Spark nulls) — no drift
        -- is computable, so the language is excluded in BOTH engines
        HAVING SUM(n_ref) > 0 AND SUM(n_cur) > 0
    ),
    p AS (
        SELECT b.lang,
               GREATEST(CAST(b.n_ref AS DOUBLE) / t.t_ref, {_LEX_EPS})
                   AS p_ref,
               GREATEST(CAST(b.n_cur AS DOUBLE) / t.t_cur, {_LEX_EPS})
                   AS p_cur,
               t.t_ref, t.t_cur
        FROM bucketed b JOIN t ON t.lang = b.lang
    ),
    q AS (
        SELECT lang, t_ref, t_cur,
               CAST(FLOOR((0.5 * p_ref * log2(p_ref / ((p_ref + p_cur) / 2))
                    + 0.5 * p_cur * log2(p_cur / ((p_ref + p_cur) / 2)))
                    * 1000000000.0) AS BIGINT) AS tq
        FROM p
    )
    SELECT lang,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref_tokens,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur_tokens,
           ROUND(SUM(tq) / 1000000000.0, 6) + 0 AS js_divergence,
           SUM(tq) >= 100000000 AS shifted
    FROM q GROUP BY 1
    """,
)
def corpus_lexical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical drift monitor: per-language Jensen-Shannon divergence
    (base-2, bounded [0,1]) between the word distributions of two
    ingest halves (doc_id parity stands in for batch boundaries) over
    the top-{k} vocabulary + an OOV bucket — the TEXT counterpart of
    the numeric drift toolbox (KS / PSI / JS on feature values), and
    the standard alarm for a crawl source changing register, language
    mix, or template under a training pipeline.

    Determinism: the one libm call (log2) runs on bit-identical
    doubles in both engines (ratios of exact integer counts), and
    each of the ≤{k}+1 JS terms is quantized to an exact 1e-9 integer
    BEFORE summation — stricter than drift_js_divergence's 10-bin
    float sum, because a 100-term double sum's order-dependence would
    be a real flake risk.  The shifted flag compares the exact
    integer sum against the exact 0.1 threshold in integer units.

    Scale shape: one corpus scan explodes to the token census —
    (lang, half, word), vocabulary-bounded like every text operator
    here; the top-K election, bucketing join, and JS fold all run on
    that bounded census; output is |langs| rows."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "lang",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(_tokens(F.col("text"))).alias("word"),
    ).filter(F.col("word").rlike("^[a-z]+$"))
    # localCheckpoint: the census feeds the vocab election AND the
    # bucketing aggregate — unmaterialized, the corpus tokenization
    # would run twice
    census = (
        w.groupBy("lang", "half", "word")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()
    )
    tot = census.groupBy("lang", "word").agg(F.sum("n").alias("tot"))
    vocab = (
        tot.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("tot"), "word")
            ),
        )
        .filter(F.col("rk") <= _LEX_TOPK)
        # rename BOTH join keys: vocab derives from census, so an
        # unaliased join is a self-join Spark rejects as ambiguous
        .select(F.col("lang").alias("vlang"), F.col("word").alias("vword"))
    )
    bucketed = (
        census.join(
            F.broadcast(vocab),
            (census["lang"] == vocab["vlang"])
            & (census["word"] == vocab["vword"]),
            "left",
        )
        .select(
            census["lang"].alias("lang"),
            F.when(F.col("vword").isNull(), "<oov>")
            .otherwise(F.col("word"))
            .alias("bucket"),
            "half",
            "n",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0)).alias(
                "n_ref"
            ),
            F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0)).alias(
                "n_cur"
            ),
        )
    )
    t = (
        bucketed.groupBy("lang")
        .agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
        # empty-half guard: 0/0 would be NaN (NaN wins GREATEST), which
        # Spark floors to NULL/0 while DuckDB errors on the BIGINT cast
        # — drop the undrift-able language identically in both engines
        .filter((F.col("t_ref") > 0) & (F.col("t_cur") > 0))
    )
    p_ref = F.greatest(
        F.col("n_ref").cast("double") / F.col("t_ref"), F.lit(_LEX_EPS)
    )
    p_cur = F.greatest(
        F.col("n_cur").cast("double") / F.col("t_cur"), F.lit(_LEX_EPS)
    )
    m = (p_ref + p_cur) / 2
    term = 0.5 * p_ref * F.log2(p_ref / m) + 0.5 * p_cur * F.log2(p_cur / m)
    q = bucketed.join(F.broadcast(t), "lang").select(
        "lang",
        "t_ref",
        "t_cur",
        F.floor(term * 1000000000.0).cast("bigint").alias("tq"),
    )
    return q.groupBy("lang").agg(
        F.max("t_ref").cast("bigint").alias("n_ref_tokens"),
        F.max("t_cur").cast("bigint").alias("n_cur_tokens"),
        # + 0.0 after ROUND: per-word quantized JS terms can be
        # negative, so a true-JS~0 language can sum to a small
        # negative integer -> ROUND gives -0.0 in DuckDB vs +0.0 in
        # Spark (driver hash is signed-zero strict).
        (F.round(F.sum("tq") / 1000000000.0, 6) + F.lit(0.0)).alias(
            "js_divergence"
        ),
        (F.sum("tq") >= 100000000).alias("shifted"),
    )


#: Phrase search: how many query phrases (top corpus trigrams) and
#: how many hit docs per phrase to emit.
_PHRASE_N_QUERIES = 3
_PHRASE_TOPDOCS = 5


@register(
    "phrase_search_topdocs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS phrase
        FROM t
    ),
    census AS (
        SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM tri GROUP BY 1, 2
    ),
    queries AS (
        SELECT phrase FROM (
            SELECT phrase, SUM(n_occ) AS tot FROM census GROUP BY 1
        )
        QUALIFY ROW_NUMBER() OVER (ORDER BY tot DESC, phrase)
            <= {_PHRASE_N_QUERIES}
    ),
    hits AS (
        SELECT c.phrase, c.doc_id, c.n_occ,
               COUNT(*) OVER (PARTITION BY c.phrase) AS n_docs,
               ROW_NUMBER() OVER (
                   PARTITION BY c.phrase
                   ORDER BY c.n_occ DESC, c.doc_id) AS rk
        FROM census c JOIN queries q ON q.phrase = c.phrase
    )
    SELECT phrase, CAST(rk AS BIGINT) AS rank, doc_id, n_occ,
           CAST(n_docs AS BIGINT) AS n_matching_docs
    FROM hits WHERE rk <= {_PHRASE_TOPDOCS}
    """,
)
def phrase_search_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over an n-gram posting index — the
    capability BM25's bag-of-words ranking cannot give (word ORDER
    matters): per query phrase, the top-{k} documents by occurrence
    count plus the phrase's total document frequency.  Query phrases
    are the corpus's own top-{q} trigrams (deterministic, corpus-
    derived), standing in for a user query list; the search itself is
    one equi-join against the trigram census — at serving time the
    census IS the persisted phrase index, and a query never rescans
    a document.

    Determinism: counts exact; both rankings tie-break on text/doc_id
    totals orders.

    Scale shape: the trigram expansion is the corpus_top_bigrams
    narrow flatMap one word wider; the census is one map-side-combined
    shuffle keyed by (doc, phrase); query matching is an equi-join of
    a {q}-row broadcast against the census — per-phrase top-k runs as
    a window over only the matching postings (never the full index)."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    sz = F.size("toks")
    # all three windows MUST share length sz-2: zip_with null-pads the
    # shorter side, and concat_ws silently drops NULLs — mismatched
    # lengths fabricate trailing 2- and 1-word "phrases"
    a = F.slice(F.col("toks"), 1, sz - 2)
    b = F.slice(F.col("toks"), 2, sz - 2)
    c = F.slice(F.col("toks"), 3, sz - 2)
    tris = F.zip_with(
        F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y)),
        c,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    # localCheckpoint: the census feeds BOTH the query election and
    # the hits join — unmaterialized, the corpus trigram expansion
    # would run twice (at serving scale this frame is the persisted
    # phrase index)
    census = (
        d.select("doc_id", F.explode(F.when(sz >= 3, tris)).alias("phrase"))
        .groupBy("doc_id", "phrase")
        .agg(F.count("*").cast("bigint").alias("n_occ"))
        .localCheckpoint()
    )
    queries = (
        census.groupBy("phrase")
        .agg(F.sum("n_occ").alias("tot"))
        .orderBy(F.desc("tot"), "phrase")
        .limit(_PHRASE_N_QUERIES)
        .select(F.col("phrase").alias("qphrase"))
    )
    hits = census.join(
        F.broadcast(queries), census["phrase"] == queries["qphrase"]
    ).select("phrase", "doc_id", "n_occ")
    w = Window.partitionBy("phrase")
    wr = w.orderBy(F.desc("n_occ"), "doc_id")
    return (
        hits.select(
            "phrase",
            F.row_number().over(wr).cast("bigint").alias("rank"),
            "doc_id",
            "n_occ",
            F.count("*").over(w).cast("bigint").alias("n_matching_docs"),
        )
        .filter(F.col("rank") <= _PHRASE_TOPDOCS)
    )


#: Mixed-language screen: a doc is flagged when its SECOND-strongest
#: language's marker count reaches this fraction of the strongest's.
_MIXED_RATIO_E2 = 50  # 0.50 in integer percent-of-best units


def _lang_marker_count_sql(lang: str) -> str:
    return (
        f"len(list_filter(string_split({NORMALIZE_TEXT_SQL('text')}, ' '),"
        f" x -> x IN {_LANG_MARKERS[lang]!r}))"
    )


@register(
    "doc_language_purity",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, lang,
               {", ".join(f"CAST({_lang_marker_count_sql(lg)} AS BIGINT) AS n_{lg}" for lg in sorted(_LANG_MARKERS))}
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang,
               list_sort([n_de, n_en, n_es, n_fr])[4] AS best,
               list_sort([n_de, n_en, n_es, n_fr])[3] AS second
        FROM m
    )
    SELECT doc_id, lang, best AS best_markers, second AS second_markers,
           (best > 0 AND second * 100 >= best * {_MIXED_RATIO_E2})
               AS mixed_language
    FROM r
    """,
)
def doc_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language document screen: per document, the strongest
    and second-strongest language marker counts (the heuristic
    language-ID banks of corpus_lang_stats), and the mixed-language
    flag — second ≥ 50% of best — that a monolingual training
    pipeline uses to route code-switched / boilerplate-bilingual
    documents to a separate bucket (mixed docs poison both language
    buckets' statistics if admitted blindly).

    Determinism: marker counts are exact integers; the flag compares
    ``second·100 ≥ best·50`` in integer arithmetic — no ratio
    doubles at all.

    Scale shape: one map-side projection per doc (4 bounded
    list-filter folds over the token array — no explode, no shuffle,
    no join); output is one row per document with three ints and a
    bool."""
    toks = _tokens(F.col("text"))

    def _marker_count(lg: str):
        markers = _LANG_MARKERS[lg]
        # single-arg lambda: a second (defaulted) parameter would make
        # PySpark pass the element INDEX as that argument
        return (
            F.size(F.filter(toks, lambda x: x.isin(*markers)))
            .cast("bigint")
            .alias(f"n_{lg}")
        )

    counts = {lg: _marker_count(lg) for lg in sorted(_LANG_MARKERS)}
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", *counts.values()
    )
    cols = [F.col(f"n_{lg}") for lg in sorted(_LANG_MARKERS)]
    # best/second-best of four via one sorted array — tie-proof where
    # a greatest/CASE ladder is not (both engines sort ints the same)
    arr = F.array_sort(F.array(*cols))
    best = F.element_at(arr, 4)
    second = F.element_at(arr, 3)
    return d.select(
        "doc_id",
        "lang",
        best.alias("best_markers"),
        second.alias("second_markers"),
        ((best > 0) & (second * 100 >= best * _MIXED_RATIO_E2)).alias(
            "mixed_language"
        ),
    )


#: DSIR-style importance weighting: target domain = English docs;
#: per-WORD log-ratio contributions are quantized at the vocabulary
#: level (1e6 units) so per-doc scores are exact integer sums.
_DSIR_TARGET_LANG = "en"


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, t.w AS word
        FROM (SELECT doc_id, lang,
                     string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
              FROM documents),
             unnest(toks) AS t(w)
        WHERE regexp_matches(t.w, '^[a-z]+$')
    ),
    vocab AS (
        SELECT word,
               CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
               CAST(COUNT(*) AS BIGINT) AS c_c
        FROM tok GROUP BY 1
    ),
    tot AS (
        SELECT SUM(c_t) AS n_t, SUM(c_c) AS n_c,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM vocab
    ),
    contrib AS (
        SELECT word,
               CAST(FLOOR((ln((c_t + 1.0) / (tot.n_t + tot.v))
                           - ln((c_c + 1.0) / (tot.n_c + tot.v)))
                          * 1000000.0) AS BIGINT) AS cq
        FROM vocab, tot
    )
    SELECT t.doc_id, t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c.cq) AS BIGINT) AS score_e6,
           SUM(c.cq) > 0 AS selected
    FROM tok t JOIN contrib c ON c.word = t.word
    GROUP BY 1, 2
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by the log importance ratio of a TARGET-domain unigram
    LM (here: the English slice) over the general-corpus LM —
    ``Σ_tokens ln p_target(w)/p_corpus(w)`` with add-one smoothing —
    and flag the positive-ratio docs a target-matched training
    mixture would keep.  This is the standing technique for carving
    domain-matched training sets out of a crawl without a trained
    classifier.

    Determinism: the two libm ``ln`` calls run per VOCABULARY WORD
    (not per token) on bit-identical doubles (ratios of exact
    integers), and each word's contribution is quantized to an exact
    1e-6 integer BEFORE the per-doc sum — so per-doc scores are exact
    integer sums no shuffle order can perturb, and a last-ulp libm
    divergence would have to land within one ulp of a 1e-6 floor
    boundary across only |vocab| words to matter (vs |corpus tokens|
    if quantization were per-token).

    Scale shape: one tokenization pass builds the (word, target
    count, corpus count) vocabulary census — vocabulary-bounded, the
    doc_tfidf discipline; contributions broadcast back onto the token
    stream as an equi-join; per-doc aggregation is one map-side
    combinable shuffle keyed by doc_id."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[a-z]+$"))
    vocab = tok.groupBy("word").agg(
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0))
        .cast("bigint")
        .alias("c_t"),
        F.count("*").cast("bigint").alias("c_c"),
    )
    tot = vocab.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_c").alias("n_c"),
        F.count("*").cast("bigint").alias("v"),
    )
    contrib = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.floor(
                (
                    F.log((F.col("c_t") + 1.0) / (F.col("n_t") + F.col("v")))
                    - F.log((F.col("c_c") + 1.0) / (F.col("n_c") + F.col("v")))
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("cq"),
        )
    )
    return (
        tok.join(F.broadcast(contrib), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("cq").alias("score_e6"),
            (F.sum("cq") > 0).alias("selected"),
        )
    )


#: Memoized per-document unigram-LM census per (session, sf_dir) —
#: the scored-doc frame every corpus-fluency consumer aggregates
#: from: ``(doc_id, lang, n_chars, n_tokens, n_types, score_q,
#: sclc)`` where ``score_q`` is the exact-integer 1e-6-quantized
#: corpus-LM log-probability sum (the ccnet score numerator) and
#: ``sclc`` the Σ cnt·⌊ln(cnt)·1e6⌋ entropy numerator.
#: localCheckpointed ONCE so [[ccnet_perplexity_buckets]],
#: [[quality_concentration_curve]], [[corpus_token_budget_curriculum]]
#: and [[quality_filter_agreement]] never rescan/retokenize the
#: corpus for a frame a sibling already materialized (VERDICT r11
#: item 4; the ``_bigram_census`` pattern above).  Invalidated —
#: together with ``_BIGRAM_CENSUS_CACHE`` — by
#: ``catalog.clear_count_cache`` via :func:`clear_census_caches`
#: (ADVICE r12 item 1: unlike the routing-only row counts, a stale
#: census silently changes VALUES for its four consumers if
#: fixtures are regenerated within a session).
_UNIGRAM_CENSUS_CACHE: dict[tuple[str, str], DataFrame] = {}


def clear_census_caches(sf_dir: str | None = None) -> None:
    """Drop the memoized corpus census frames — all, or one
    ``sf_dir``'s (keys are ``(applicationId, abspath(sf_dir))``).

    Registered with ``catalog.register_cache_clearer`` so every
    ``clear_count_cache`` call also clears these: a session that
    regenerates fixtures makes ONE call and no memo — routing count
    or value-bearing census — survives it."""
    target = None if sf_dir is None else os.path.abspath(sf_dir)
    for cache in (_BIGRAM_CENSUS_CACHE, _UNIGRAM_CENSUS_CACHE):
        if target is None:
            cache.clear()
        else:
            for key in [k for k in cache if k[1] == target]:
                del cache[key]


register_cache_clearer(clear_census_caches)


def _unigram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-LM fluency census (see cache comment above).

    Determinism: per-WORD log contributions quantize to exact 1e-6
    integers at the VOCABULARY level (never a per-token float sum);
    per-doc columns are exact BIGINT sums — every consumer's floats
    are single IEEE divides of these integers, so memoization cannot
    change any consumer's bits (same integers in, same ops out).

    Scale shape (r13 optimization): the corpus is tokenized ONCE —
    the per-doc term-count frame is checkpointed and the vocabulary
    census, its total and the contribution table all re-aggregate
    THAT frame (vocab n = Σ per-doc cnt, the identical integer), so
    the expensive explode+normalize pass runs once per session
    instead of once per plan branch (the previous shape re-tokenized
    for the vocab census, the total scalar and the broadcast build —
    three corpus passes inside one census build)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _UNIGRAM_CENSUS_CACHE.get(key)
    if hit is not None:
        return hit
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.explode(_tokens(F.col("text"))).alias("tok"),
    )
    dtc = (
        toks.groupBy("doc_id", "lang", "n_chars", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    vocab = dtc.groupBy("tok").agg(F.sum("cnt").cast("bigint").alias("n"))
    total = float(vocab.agg(F.sum("n")).first()[0])
    contrib = vocab.select(
        "tok",
        F.floor(F.log10(F.col("n").cast("double") / F.lit(total)) * 1000000.0)
        .cast("bigint")
        .alias("cq"),
    )
    lnq = F.floor(F.log(F.col("cnt").cast("double")) * 1000000.0).cast(
        "bigint"
    )
    census = (
        dtc.join(F.broadcast(contrib), "tok")
        .groupBy("doc_id", "lang", "n_chars")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.col("cnt") * F.col("cq")).cast("bigint").alias("score_q"),
            F.sum(F.col("cnt") * lnq).cast("bigint").alias("sclc"),
        )
        .localCheckpoint()
    )
    _UNIGRAM_CENSUS_CACHE[key] = census
    return census


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, lang, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2, 3),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM vocab),
    contrib AS (
        SELECT tok,
               CAST(FLOOR(log10(CAST(n AS DOUBLE) / tot.total)
                          * 1000000.0) AS BIGINT) AS cq
        FROM vocab, tot
    ),
    scored AS (
        SELECT d.doc_id, d.lang,
               CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
               SUM(d.cnt * c.cq) AS score_q
        FROM dtc d JOIN contrib c ON c.tok = d.tok
        GROUP BY 1, 2
    ),
    b AS (
        SELECT *,
               CAST(score_q AS DOUBLE) / n_tokens AS mean_q,
               NTILE(3) OVER (
                   PARTITION BY lang
                   ORDER BY CAST(score_q AS DOUBLE) / n_tokens DESC, doc_id)
                   AS tile
        FROM scored
    )
    SELECT doc_id, lang, n_tokens,
           ROUND(mean_q / 1000000.0, 6) AS mean_logprob,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS ccnet_bucket
    FROM b
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
    every document within its language by mean unigram log-probability
    under the corpus LM and cut each language into equal head / middle
    / tail terciles — the curation scheme CommonCrawl pipelines use to
    keep 'head' (fluent) text, sample 'middle', and drop 'tail'
    (classic CCNet trains a KenLM per language; the corpus unigram LM
    is this engine's deterministic stand-in, same contract as
    doc_unigram_logprob).

    Determinism: per-WORD log contributions quantize to exact 1e-6
    integers at the vocabulary level (the dsir_importance_weights
    discipline — never a per-token float sum); per-doc means are one
    IEEE divide of exact integers; the tercile NTILE orders by that
    bit-identical double with doc_id tie-break.  Negative-score
    integer division is avoided entirely (Spark DIV truncates toward
    zero, DuckDB // floors — they disagree on negatives).

    Scale shape: the scored-doc frame is the memoized shared
    :func:`_unigram_census` (one corpus scan per session across all
    four fluency consumers); the tercile runs through
    ``scalable_ntile(group_cols=["lang"])`` — ~97 languages but
    Zipf-skewed, so the plain partitioned window would sort most of
    the doc frame in the head language's single task; the
    sampled-cut-point chunking bounds every task while staying
    bit-identical to the window NTILE."""
    scored = _unigram_census(spark, sf_dir)
    mean_q = F.col("score_q").cast("double") / F.col("n_tokens")
    tiled = scalable_ntile(
        scored.withColumn("_mq", mean_q),
        3,
        [("_mq", "desc"), ("doc_id", "asc")],
        group_cols=["lang"],
        out_col="tile",
    )
    return tiled.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.col("_mq") / 1000000.0, 6).alias("mean_logprob"),
        "tile",
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        "mean_logprob",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("ccnet_bucket"),
    )


@register(
    "quality_concentration_curve",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, n_chars, tok, COUNT(*) AS cnt
            FROM t GROUP BY 1, 2, 3),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM vocab),
    contrib AS (
        SELECT tok, CAST(FLOOR(log10(CAST(n AS DOUBLE) / tot.total)
                               * 1000000.0) AS BIGINT) AS cq
        FROM vocab, tot
    ),
    scored AS (
        SELECT d.doc_id, MAX(d.n_chars) AS n_chars,
               CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
               CAST(SUM(d.cnt * c.cq) AS BIGINT) AS score_q
        FROM dtc d JOIN contrib c ON c.tok = d.tok
        GROUP BY 1
    ),
    deciled AS (
        SELECT *, NTILE(10) OVER (
                   ORDER BY CAST(score_q AS DOUBLE) / n_tokens DESC, doc_id)
                   AS decile
        FROM scored
    ),
    g AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM deciled GROUP BY 1
    )
    SELECT decile, n_docs, n_chars,
           ROUND(CAST(SUM(n_chars) OVER (
                     ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / SUM(n_chars) OVER (), 6)
               AS cum_char_share
    FROM g
    """,
)
def quality_concentration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-concentration (Lorenz) curve of the corpus: documents
    ranked into fluency deciles by mean unigram log-probability (the
    ccnet_perplexity_buckets score, decile-resolution), with the
    CUMULATIVE character share captured from the most-fluent decile
    down — the curve that answers "if curation keeps only the top-k%
    by quality, how much of the corpus volume survives?", i.e. the
    budget consequence of every head/middle/tail policy before
    committing to one.

    Determinism: the ccnet discipline end to end — vocabulary-level
    1e-6-quantized log contributions, exact integer per-doc scores,
    NTILE over (bit-identical double, doc_id); char tallies exact;
    the running share is one IEEE divide of exact integers per row.

    Scale shape (re-planned round 11, VERDICT r10 item 2): the decile
    assignment routes through :func:`functions.ranking.scalable_ntile`
    — range-partitioned local row numbers + broadcast chunk offsets,
    EXACT NTILE semantics with no single-partition WindowExec over
    the doc frame (the prior form's global ``ntile(10)`` sorted every
    scored document in one task).  The only unpartitioned windows
    left are the chunk-count frame (≤ shuffle-partition-count rows)
    and the final 10-row running-sum frame.  The scored-doc frame is
    the memoized shared :func:`_unigram_census` (one corpus scan per
    session across all four fluency consumers)."""
    scored = _unigram_census(spark, sf_dir)
    mean_q = F.col("score_q").cast("double") / F.col("n_tokens")
    deciled = scalable_ntile(
        scored.withColumn("_mq", mean_q),
        10,
        [("_mq", "desc"), ("doc_id", "asc")],
        out_col="decile",
    ).select("n_chars", "decile")
    g = deciled.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return g.select(
        "decile",
        "n_docs",
        "n_chars",
        F.round(
            F.sum("n_chars").over(wc).cast("double")
            / F.sum("n_chars").over(wall),
            6,
        ).alias("cum_char_share"),
    )


#: Curriculum phase boundaries in DECI-shares of the corpus token
#: budget: the most-fluent docs covering the first 3/10 of all tokens
#: are 'warmup', through 7/10 'core', the rest 'tail' (quality-
#: descending curricula — start clean, broaden later).
_CURRICULUM_WARM_DECI = 3
_CURRICULUM_CORE_DECI = 7


@register(
    "corpus_token_budget_curriculum",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM vocab),
    contrib AS (
        SELECT tok, CAST(FLOOR(log10(CAST(n AS DOUBLE) / tot.total)
                               * 1000000.0) AS BIGINT) AS cq
        FROM vocab, tot
    ),
    scored AS (
        SELECT d.doc_id,
               CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
               CAST(SUM(d.cnt * c.cq) AS BIGINT) AS score_q
        FROM dtc d JOIN contrib c ON c.tok = d.tok
        GROUP BY 1
    ),
    tb AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM scored),
    cum AS (
        SELECT s.doc_id, s.n_tokens, s.score_q, t.corpus_tokens,
               SUM(s.n_tokens) OVER (
                   ORDER BY CAST(s.score_q AS DOUBLE) / s.n_tokens DESC,
                            s.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
        FROM scored s CROSS JOIN tb t
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(score_q AS DOUBLE) / n_tokens / 1000000.0, 6)
               AS mean_logprob,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CASE WHEN cum_tokens * 10
                     <= corpus_tokens * {_CURRICULUM_WARM_DECI} THEN 'warmup'
                WHEN cum_tokens * 10
                     <= corpus_tokens * {_CURRICULUM_CORE_DECI} THEN 'core'
                ELSE 'tail' END AS phase
    FROM cum
    """,
)
def corpus_token_budget_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-descending training curriculum over the token BUDGET:
    every document ranked by mean unigram log-probability (the ccnet
    fluency score of [[ccnet_perplexity_buckets]] /
    [[quality_concentration_curve]]), with the running token total in
    that order and the resulting phase assignment — the most-fluent
    documents that cover the first {_CURRICULUM_WARM_DECI}/10 of all
    tokens are 'warmup', through {_CURRICULUM_CORE_DECI}/10 'core',
    the rest 'tail'.  This is the curriculum-scheduling table a
    pretraining dataloader consumes: phases cut on CUMULATIVE TOKENS
    (what the optimizer actually steps through), not document counts.
    Measured signal (r11, sf0.01): per-doc mean logprob spans
    [−3.699, −3.380] (σ=0.026) while token counts span 10–99 — the
    ordering is meaningful and the budget curve is far from uniform
    in doc count.

    Determinism: the ccnet discipline — 1e-6-quantized vocabulary
    contributions, exact integer per-doc scores; ordering on the
    bit-identical (double mean, doc_id) pair; the running token sum
    is exact BIGINT; phase boundaries compare exact integer products
    (cum·10 ≤ total·k) — no float shares anywhere.

    Scale shape: token pipeline is two hash aggregates plus a
    broadcast vocab join; the running total routes through
    :func:`functions.ranking.running_totals` (sampled-cut-point
    chunks + broadcast offsets — no single-task sort at any corpus
    size); the only unpartitioned window is the chunk-count frame.
    The scored-doc frame is the memoized shared
    :func:`_unigram_census` (one corpus scan per session across all
    four fluency consumers)."""
    scored = _unigram_census(spark, sf_dir).select(
        "doc_id", "n_tokens", "score_q"
    )
    tb = scored.agg(F.sum("n_tokens").cast("bigint").alias("corpus_tokens"))
    mean_q = F.col("score_q").cast("double") / F.col("n_tokens")
    cum = running_totals(
        scored.withColumn("_mq", mean_q).crossJoin(F.broadcast(tb)),
        [("_mq", "desc"), ("doc_id", "asc")],
        ["n_tokens"],
    )
    phase = (
        F.when(
            F.col("n_tokens_cum") * 10
            <= F.col("corpus_tokens") * _CURRICULUM_WARM_DECI,
            "warmup",
        )
        .when(
            F.col("n_tokens_cum") * 10
            <= F.col("corpus_tokens") * _CURRICULUM_CORE_DECI,
            "core",
        )
        .otherwise("tail")
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_mq") / 1000000.0, 6).alias("mean_logprob"),
        F.col("n_tokens_cum").cast("bigint").alias("cum_tokens"),
        phase.alias("phase"),
    )


#: Minimum bigram count for the LLR collocation table (same rationale
#: as the PMI threshold: rare pairs have unstable scores).
_LLR_MIN_COUNT = 5
#: Top collocations emitted by LLR rank.
_LLR_TOP_K = 20


@register(
    "corpus_bigram_llr",
    oracle=f"""
    WITH t AS (
        SELECT string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
               AS bigram
        FROM t
    ),
    bc AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               COUNT(*) AS k11
        FROM bg GROUP BY 1, 2
    ),
    r AS (SELECT w1, SUM(k11) AS r1 FROM bc GROUP BY 1),
    c AS (SELECT w2, SUM(k11) AS c1 FROM bc GROUP BY 1),
    tot AS (SELECT SUM(k11) AS n FROM bc),
    k AS (
        SELECT bc.w1, bc.w2, bc.k11,
               r.r1 - bc.k11 AS k12,
               c.c1 - bc.k11 AS k21,
               t.n - r.r1 - c.c1 + bc.k11 AS k22,
               r.r1, c.c1, t.n
        FROM bc JOIN r ON bc.w1 = r.w1 JOIN c ON bc.w2 = c.w2
        CROSS JOIN tot t
        WHERE bc.k11 >= {_LLR_MIN_COUNT}
    ),
    q AS (
        SELECT w1, w2, k11,
               2 * (k11 * CAST(FLOOR(ln(CAST(k11 AS DOUBLE)) * 1000000.0)
                               AS BIGINT)
                    + CASE WHEN k12 = 0 THEN 0 ELSE k12 *
                        CAST(FLOOR(ln(CAST(k12 AS DOUBLE)) * 1000000.0)
                             AS BIGINT) END
                    + CASE WHEN k21 = 0 THEN 0 ELSE k21 *
                        CAST(FLOOR(ln(CAST(k21 AS DOUBLE)) * 1000000.0)
                             AS BIGINT) END
                    + CASE WHEN k22 = 0 THEN 0 ELSE k22 *
                        CAST(FLOOR(ln(CAST(k22 AS DOUBLE)) * 1000000.0)
                             AS BIGINT) END
                    + n * CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000.0)
                               AS BIGINT)
                    - r1 * CAST(FLOOR(ln(CAST(r1 AS DOUBLE)) * 1000000.0)
                                AS BIGINT)
                    - CASE WHEN n = r1 THEN 0 ELSE (n - r1) *
                        CAST(FLOOR(ln(CAST(n - r1 AS DOUBLE)) * 1000000.0)
                             AS BIGINT) END
                    - c1 * CAST(FLOOR(ln(CAST(c1 AS DOUBLE)) * 1000000.0)
                                AS BIGINT)
                    - CASE WHEN n = c1 THEN 0 ELSE (n - c1) *
                        CAST(FLOOR(ln(CAST(n - c1 AS DOUBLE)) * 1000000.0)
                             AS BIGINT) END) AS llr_q
        FROM k
    )
    SELECT w1, w2, CAST(k11 AS BIGINT) AS n_ab,
           FLOOR(CAST(llr_q AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
               / 10000.0 AS llr
    FROM q
    ORDER BY llr_q DESC, w1, w2
    LIMIT {_LLR_TOP_K}
    """,
)
def corpus_bigram_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993): the
    top-{k} adjacent word pairs by G² = 2·Σ k·ln(k·N/(R·C)) over the
    2×2 contingency of (first word = w1) × (second word = w2) — the
    collocation score that, unlike [[corpus_bigram_pmi]], does not
    inflate for rare pairs, because it weights by evidence mass
    rather than lift alone.  The standard phrase-mining ranker for
    tokenizer/phrase-vocabulary construction.

    Exactness: G² is evaluated through the xlogx identity
    G² = 2·[S(k11)+S(k12)+S(k21)+S(k22)+S(N)−S(R1)−S(R2)−S(C1)−S(C2)]
    with S(x)=x·ln x and S(0)=0 — every S argument is an EXACT
    integer count, each ln is quantized at the leaf
    (floor(ln(x)·1e6), the repo's lnq idiom), so the whole score is
    an exact-integer sum (shuffle-order proof) and the top-k order is
    total (llr_q desc, then words).  The quantized G² of a
    chance-level pair can land a hair below zero, so emission uses
    the sign-safe floor ladder, not ROUND.

    Scale shape: the bigram hash aggregate is the memoized shared
    census ([[_bigram_census]] — one map-side-combined shuffle into a
    vocabulary²-bounded localCheckpointed table, reused by
    [[corpus_bigram_pmi]]); the margins R, C are re-aggregates of
    THAT table (never a corpus rescan); N attaches as a 1-row
    broadcast; top-k is TakeOrderedAndProject."""
    bc = _bigram_census(spark, sf_dir)
    r = bc.groupBy("w1").agg(F.sum("k11").alias("r1"))
    c = bc.groupBy("w2").agg(F.sum("k11").alias("c1"))
    tot = bc.agg(F.sum("k11").alias("n"))
    k = (
        bc.filter(F.col("k11") >= _LLR_MIN_COUNT)
        .join(r, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("r1") - F.col("k11")).alias("k12"),
            (F.col("c1") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("r1") - F.col("c1") + F.col("k11")).alias(
                "k22"
            ),
            "r1",
            "c1",
            "n",
        )
    )

    def s_of(col: F.Column) -> F.Column:
        lnq = F.floor(F.log(col.cast("double")) * 1000000.0).cast("bigint")
        return F.when(col == 0, F.lit(0).cast("bigint")).otherwise(col * lnq)

    llr_q = 2 * (
        s_of(F.col("k11"))
        + s_of(F.col("k12"))
        + s_of(F.col("k21"))
        + s_of(F.col("k22"))
        + s_of(F.col("n"))
        - s_of(F.col("r1"))
        - s_of(F.col("n") - F.col("r1"))
        - s_of(F.col("c1"))
        - s_of(F.col("n") - F.col("c1"))
    )
    return (
        k.select(
            "w1",
            "w2",
            F.col("k11").cast("bigint").alias("n_ab"),
            llr_q.alias("llr_q"),
        )
        .orderBy(F.desc("llr_q"), F.asc("w1"), F.asc("w2"))
        .limit(_LLR_TOP_K)
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                F.floor(
                    F.col("llr_q").cast("double") / 1000000.0 * 10000.0 + 0.5
                )
                / 10000.0
            ).alias("llr"),
        )
    )


corpus_bigram_llr.__doc__ = corpus_bigram_llr.__doc__.format(k=_LLR_TOP_K)


#: Blocklist membership: tokens whose portable hash (seed 11) falls in
#: residue class 0 mod 13 — a deterministic stand-in for a safety/NSFW
#: wordlist (no such list ships with the synthetic corpus; the residue
#: class marks 2 of the 31 vocabulary words, measured sf0.01).
_BLOCK_SEED = 11
_BLOCK_MOD = 13
#: A document is dropped when more than this share of its tokens are
#: blocklisted (the C4-style "bad-words ratio" gate, not a single-hit
#: kill switch — isolated hits in long documents survive).
_BLOCK_MAX_RATIO = 0.08


@register(
    "doc_blocklist_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, source,
               unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS w
        FROM documents
    ),
    h AS (
        SELECT doc_id, lang, source,
               COUNT(*) AS n_tokens,
               SUM(CASE WHEN {PORTABLE_HASH64_SQL("w", _BLOCK_SEED)}
                             % {_BLOCK_MOD} = 0
                        THEN 1 ELSE 0 END) AS n_blocked
        FROM t GROUP BY 1, 2, 3
    )
    SELECT doc_id, lang, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_blocked AS BIGINT) AS n_blocked,
           ROUND(CAST(n_blocked AS DOUBLE) / n_tokens, 6) AS blocked_ratio,
           CAST(n_blocked AS DOUBLE) / n_tokens <= {_BLOCK_MAX_RATIO}
               AS kept
    FROM h
    """,
)
def doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-based safety filter — the C4/RefinedWeb "bad words"
    gate a pretraining pipeline runs before quality scoring: per
    document, the token count, blocklisted-token count, blocklist
    ratio, and the keep/drop verdict (drop when more than 8% of
    tokens are blocklisted, ``_BLOCK_MAX_RATIO`` — a ratio gate,
    not single-hit, so one stray term in a long document does not
    kill it).  The blocklist here is hash-defined (portable hash
    residue class — a deterministic stand-in for the real wordlist,
    which in production is a broadcast set; the plan shape is
    identical either way: a map-side membership test, never a join
    against the corpus).

    Exactness: counts are exact integers; the ratio is one IEEE
    divide of exact ints, rounded at 6 dp (nonnegative by
    construction, so plain ROUND is sign-safe here); the verdict
    compares the UNROUNDED ratio identically in both engines.

    Scale shape: one pass — explode + hash predicate + per-doc hash
    aggregate with map-side combine; no joins, no windows, no
    broadcast needed.  At 100 TB this is the textbook
    embarrassingly-parallel corpus scan; with a real wordlist the
    membership test becomes a broadcast hash-set probe, same
    single-scan shape."""
    t = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        "source",
        F.explode(_tokens(F.col("text"))).alias("w"),
    )
    hit = (
        (portable_hash64(F.col("w"), _BLOCK_SEED) % _BLOCK_MOD) == 0
    ).cast("int")
    h = t.groupBy("doc_id", "lang", "source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(hit).alias("n_blocked"),
    )
    ratio = F.col("n_blocked").cast("double") / F.col("n_tokens")
    return h.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_blocked").cast("bigint").alias("n_blocked"),
        F.round(ratio, 6).alias("blocked_ratio"),
        (ratio <= _BLOCK_MAX_RATIO).alias("kept"),
    )


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH w AS (
        SELECT unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS w
        FROM documents
    ),
    uc AS (SELECT w, COUNT(*) AS n FROM w GROUP BY 1),
    t AS (SELECT SUM(n) AS total FROM uc),
    r AS (
        SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk,
               SUM(n) OVER (ORDER BY n DESC, w
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM uc
    )
    SELECT CAST(rnk AS INTEGER) AS vocab_rank,
           w AS word,
           CAST(n AS BIGINT) AS n_tokens,
           ROUND(CAST(n AS DOUBLE) / t.total, 6) AS token_share,
           ROUND(CAST(cum AS DOUBLE) / t.total, 6) AS cum_token_share
    FROM r CROSS JOIN t
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-coverage curve by word-frequency rank — the
    vocabulary-size design table a tokenizer builder reads before
    fixing a vocab budget (rank-k cumulative share = the fraction of
    the corpus a k-word vocabulary covers; the complement is the OOV
    mass [[vocab_oov_rate]] measures for ONE fixed vocabulary, and
    the curve's log-log slope is what [[vocab_zipf_fit]] fits).  One
    row per vocabulary word: rank, word, token count, marginal and
    cumulative token share.

    Determinism: ranks and cumulative sums run over the total
    (count desc, word asc) order on exact integers; both emitted
    shares are single non-negative divides, ROUND-safe.

    Scale shape: one map-side-combined token count shuffle into a
    VOCABULARY-sized table; rank and cumulative sum both route
    through :func:`functions.ranking` (``ranked`` +
    ``running_totals`` — sampled-cut-point chunks + broadcast
    offsets), so even a billion-row web-corpus vocabulary never
    lands in a single-task sort; the grand total rides as a 1-row
    broadcast."""
    uc = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
        # rank folded into the SAME chunked pass as the cumulative
        # sum: a running total of ones over a total order IS the row
        # number, so one running_totals call covers both (two
        # separate ranked()+running_totals passes would chunk and
        # shuffle the vocab frame twice for nothing).
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    t = uc.agg(F.sum("n").alias("total"))
    order = [("n", "desc"), ("w", "asc")]
    r = running_totals(uc, order, ["n", "one"], suffix="_cum")
    return (
        r.withColumnRenamed("n_cum", "cum")
        .withColumnRenamed("one_cum", "rnk")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("rnk").cast("int").alias("vocab_rank"),
            F.col("w").alias("word"),
            F.col("n").cast("bigint").alias("n_tokens"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "token_share"
            ),
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "cum_token_share"
            ),
        )
    )


#: Compression-ratio screen: DEFLATE level (zlib's default-quality
#: setting, deterministic for a given input), the per-mille ratio
#: quantization, and the screen thresholds in ratio-decile bands.
_ZRATIO_LEVEL = 6
#: band < _ZRATIO_FLAG_LO (ratio < 0.3) → the doc compresses away to
#: almost nothing: boilerplate/repetition (the Gopher-style "too
#: compressible" screen); band ≥ 10 (ratio ≥ 1.0) → DEFLATE cannot
#: compress it at all: binary-ish / high-entropy payload in a text
#: column.
_ZRATIO_FLAG_LO = 3


@register(
    "doc_compression_ratio_screen",
    rows_only=(
        "zlib DEFLATE ratio: a real codec, not SQL-expressible; exact "
        "band table pinned vs a pure-Python zlib twin in "
        "tests/test_round10b_ops.py"
    ),
)
def doc_compression_ratio_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality screen over the document corpus —
    the real-codec member of the quality family ([[doc_token_entropy]]
    / [[doc_repetition_stats]] / [[markov_entropy_rate]] estimate
    redundancy; this one MEASURES it with DEFLATE, the
    Gopher/RefinedWeb-style filter signal): per (source, ratio-decile
    band), the document count and mean compressed/raw byte ratio,
    with the screen verdict — ``flag_repetitive`` below 0.3 (the doc
    deflates away: boilerplate), ``flag_incompressible`` at ≥ 1.0
    (DEFLATE gains nothing: high-entropy/binary payload in a text
    column), ``keep`` between (measured at sf0.01: ratios span
    0.40–1.02 with IQR 0.45–0.63, so the bands separate real
    repetition regimes, not noise).

    Determinism: zlib DEFLATE at a fixed level is a deterministic
    codec; each per-doc ratio is quantized to exact per-mille units
    INSIDE the kernel, so every downstream aggregate is an exact
    integer sum (order-independent) and the one mean is a fixed IEEE
    divide through the floor ladder.

    Scale shape: one Arrow-batched ``mapInPandas`` pass (the
    designated escape hatch — a codec cannot be a Catalyst
    expression) emits 2 small columns per doc; a map-side-combined
    hash aggregate collapses to |sources|×|bands| rows.  No joins, no
    driver-side loops; the kernel is embarrassingly parallel and
    never holds more than one Arrow batch."""
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = pdf["text"].map(lambda t: (t or "").encode("utf-8"))
            r_m = raw.map(
                lambda b: (
                    len(zlib.compress(b, _ZRATIO_LEVEL)) * 1000 // len(b)
                    if len(b)
                    else 1000
                )
            )
            yield pd.DataFrame({"source": pdf["source"], "r_m": r_m})

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "source", "text"
    )
    per_doc = docs.mapInPandas(batches, "source string, r_m long")
    banded = per_doc.select(
        "source",
        F.least(F.expr("r_m div 100"), F.lit(10)).cast("int").alias(
            "ratio_band"
        ),
        "r_m",
    )
    agg = banded.groupBy("source", "ratio_band").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("r_m").cast("bigint").alias("s_m"),
    )
    return agg.select(
        "source",
        "ratio_band",
        F.when(F.col("ratio_band") < _ZRATIO_FLAG_LO, "flag_repetitive")
        .when(F.col("ratio_band") >= 10, "flag_incompressible")
        .otherwise("keep")
        .alias("screen"),
        "n_docs",
        (
            F.floor(F.col("s_m").cast("double") / F.col("n_docs") + 0.5)
            / 1000.0
        ).alias("mean_ratio"),
    )


@register(
    "quality_filter_agreement",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(string_split({NORMALIZE_TEXT_SQL("text")}, ' ')) AS tok
        FROM documents
    ),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM vocab),
    contrib AS (
        SELECT tok, CAST(FLOOR(log10(CAST(n AS DOUBLE) / tot.total)
                               * 1000000.0) AS BIGINT) AS cq
        FROM vocab, tot
    ),
    dtc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM t GROUP BY 1, 2),
    d AS (
        SELECT dtc.doc_id,
               CAST(SUM(cnt) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS ntypes,
               CAST(SUM(cnt * c.cq) AS BIGINT) AS score_q,
               CAST(SUM(cnt * CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000000.0)
                                   AS BIGINT)) AS BIGINT) AS sclc
        FROM dtc JOIN contrib c ON c.tok = dtc.tok
        GROUP BY 1
    ),
    s AS (
        SELECT doc_id,
               CAST(score_q AS DOUBLE) / nt AS lp,
               ln(CAST(nt AS DOUBLE))
                   - CAST(sclc AS DOUBLE) / (nt * 1000000.0) AS ent,
               CAST(ntypes AS DOUBLE) / nt AS ttr
        FROM d
    ),
    r AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY lp, doc_id) AS r_lp,
               ROW_NUMBER() OVER (ORDER BY ent, doc_id) AS r_ent,
               ROW_NUMBER() OVER (ORDER BY ttr, doc_id) AS r_ttr,
               NTILE(10) OVER (ORDER BY lp, doc_id) AS t_lp,
               NTILE(10) OVER (ORDER BY ent, doc_id) AS t_ent,
               NTILE(10) OVER (ORDER BY ttr, doc_id) AS t_ttr,
               COUNT(*) OVER () AS n
        FROM s
    ),
    pairs AS (
        SELECT 'logprob' AS filter_a, 'entropy' AS filter_b,
               SUM(CAST((r_lp - r_ent) * (r_lp - r_ent) AS DECIMAL(38,0))) AS d2,
               SUM(CASE WHEN t_lp = 1 THEN 1 ELSE 0 END) AS fa,
               SUM(CASE WHEN t_ent = 1 THEN 1 ELSE 0 END) AS fb,
               SUM(CASE WHEN t_lp = 1 AND t_ent = 1 THEN 1 ELSE 0 END) AS fboth,
               MAX(n) AS n
        FROM r
        UNION ALL
        SELECT 'logprob', 'ttr',
               SUM(CAST((r_lp - r_ttr) * (r_lp - r_ttr) AS DECIMAL(38,0))),
               SUM(CASE WHEN t_lp = 1 THEN 1 ELSE 0 END),
               SUM(CASE WHEN t_ttr = 1 THEN 1 ELSE 0 END),
               SUM(CASE WHEN t_lp = 1 AND t_ttr = 1 THEN 1 ELSE 0 END),
               MAX(n)
        FROM r
        UNION ALL
        SELECT 'entropy', 'ttr',
               SUM(CAST((r_ent - r_ttr) * (r_ent - r_ttr) AS DECIMAL(38,0))),
               SUM(CASE WHEN t_ent = 1 THEN 1 ELSE 0 END),
               SUM(CASE WHEN t_ttr = 1 THEN 1 ELSE 0 END),
               SUM(CASE WHEN t_ent = 1 AND t_ttr = 1 THEN 1 ELSE 0 END),
               MAX(n)
        FROM r
    )
    SELECT filter_a, filter_b,
           FLOOR((1 - 6.0 * CAST(d2 AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)))
                 * 1000000.0 + 0.5) / 1000000.0 AS spearman_rho,
           CAST(fa AS BIGINT) AS n_flagged_a,
           CAST(fb AS BIGINT) AS n_flagged_b,
           CAST(fboth AS BIGINT) AS n_both,
           ROUND(CAST(fboth AS DOUBLE) / (fa + fb - fboth), 6) AS jaccard
    FROM pairs
    """,
)
def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the corpus's quality filters agree on what is junk?  Three
    independent per-doc quality scores — ccnet mean unigram
    log-probability, token Shannon entropy, and type-token ratio —
    are rank-compared pairwise (exact Spearman ρ from rank
    differences) and their BOTTOM-DECILE junk flags intersected
    (Jaccard) — the curation-governance table that decides whether
    filters are redundant (high agreement: drop one) or orthogonal
    (low agreement: a doc must fail several before removal, the
    Gopher-rules composition question).  Measured signal (r11,
    sf0.01): the three scores are nearly orthogonal-to-opposed —
    ρ(lp, ent) = 0.11, ρ(lp, ttr) = −0.15, ρ(ent, ttr) = −0.80 (the
    entropy–TTR inversion is length confounding: short docs max TTR
    while capping attainable entropy) — so the filters flag largely
    DIFFERENT documents and must be composed, not substituted.

    Determinism: scores are the house quantized-leaf chains
    (1e-6-quantized vocabulary/log contributions, fixed IEEE
    divides); ranks are exact with doc_id tiebreak; ρ is the
    rank-difference identity 1 − 6Σd²/(n(n²−1)) over exact DECIMAL
    sums, emitted via the sign-safe floor ladder (ρ spans negatives);
    flags are exact NTILE membership; Jaccard is one IEEE divide of
    exact counts.

    Scale shape: the per-doc score frame is the memoized shared
    :func:`_unigram_census` (one corpus scan per session across all
    four fluency consumers); THREE exact global ranks — all through
    :func:`functions.ranking.ranked`/:func:`scalable_ntile` (no
    single-task sorts, the module's whole point at doc-corpus
    cardinality); the agreement table collapses to 3 rows in one
    aggregate pass."""
    d = _unigram_census(spark, sf_dir).select(
        "doc_id",
        F.col("n_tokens").alias("nt"),
        F.col("n_types").alias("ntypes"),
        "score_q",
        "sclc",
    )
    s = d.select(
        "doc_id",
        (F.col("score_q").cast("double") / F.col("nt")).alias("lp"),
        (
            F.log(F.col("nt").cast("double"))
            - F.col("sclc").cast("double") / (F.col("nt") * 1000000.0)
        ).alias("ent"),
        (F.col("ntypes").cast("double") / F.col("nt")).alias("ttr"),
    )
    r = s
    for col in ("lp", "ent", "ttr"):
        r = ranked(
            r, [(col, "asc"), ("doc_id", "asc")],
            rn_col=f"r_{col}", n_col=f"n_{col}",
        )
        r = r.withColumn(
            f"t_{col}",
            ntile_from_rank(F.col(f"r_{col}"), F.col(f"n_{col}"), 10),
        )
    r = r.withColumnRenamed("n_lp", "n")

    def pair(a: str, b: str) -> DataFrame:
        da = (F.col(f"r_{a}") - F.col(f"r_{b}")).cast("decimal(38,0)")
        return r.agg(
            F.lit({"lp": "logprob", "ent": "entropy", "ttr": "ttr"}[a]).alias(
                "filter_a"
            ),
            F.lit({"lp": "logprob", "ent": "entropy", "ttr": "ttr"}[b]).alias(
                "filter_b"
            ),
            F.sum(da * da).alias("d2"),
            F.sum(F.when(F.col(f"t_{a}") == 1, 1).otherwise(0)).alias("fa"),
            F.sum(F.when(F.col(f"t_{b}") == 1, 1).otherwise(0)).alias("fb"),
            F.sum(
                F.when((F.col(f"t_{a}") == 1) & (F.col(f"t_{b}") == 1), 1)
                .otherwise(0)
            ).alias("fboth"),
            F.max("n").alias("n"),
        )

    pairs = pair("lp", "ent").unionAll(pair("lp", "ttr")).unionAll(
        pair("ent", "ttr")
    )
    nd = F.col("n").cast("double")
    rho = 1 - 6.0 * F.col("d2").cast("double") / (nd * (nd * F.col("n") - 1))
    return pairs.select(
        "filter_a",
        "filter_b",
        (F.floor(rho * 1000000.0 + 0.5) / 1000000.0).alias("spearman_rho"),
        F.col("fa").cast("bigint").alias("n_flagged_a"),
        F.col("fb").cast("bigint").alias("n_flagged_b"),
        F.col("fboth").cast("bigint").alias("n_both"),
        F.round(
            F.col("fboth").cast("double")
            / (F.col("fa") + F.col("fb") - F.col("fboth")),
            6,
        ).alias("jaccard"),
    )


#: Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010): top-heavy
#: persistence p, truncation depth = the two scorers' shared top-k,
#: per-depth weights (1-p)·p^(i-1) pre-quantized to 1e-9 integers at
#: DEFINITION time (the persistence series never evaluates at query
#: time), and lcm(1..d) as the exact common denominator for the
#: depth-average X_i/i terms.
_RBO_P = 0.9
_RBO_D = _BM25_TOPK  # both scorers truncate here
_RBO_WQ = tuple(int(_RBO_P**i * 1e9) for i in range(_RBO_D))
_RBO_L = 232792560  # lcm(1..20), exact


def _rbo_wq_sql() -> str:
    return "[" + ", ".join(str(x) for x in _RBO_WQ) + "]"


def _rbo_li_sql() -> str:
    return "[" + ", ".join(str(_RBO_L // i) for i in range(1, _RBO_D + 1)) + "]"


@register(
    "ranker_rbo_agreement",
    oracle=f"""
    WITH {_BM25_SCORED_SQL_CTES},
    a AS MATERIALIZED (
        SELECT doc_id, rank AS ra FROM (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY ROUND(score, 6) DESC, doc_id)
                        AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {_RBO_D}
    ),
    cf AS MATERIALIZED (
        SELECT token, CAST(COUNT(*) AS DOUBLE) AS cf
        FROM toks WHERE token IN {_BM25_QUERY!r} GROUP BY 1
    ),
    tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks),
    bc AS MATERIALIZED (
        SELECT SUM(ln({_LMD_MU} * cf / tot.t)) AS base_const,
               COUNT(*) AS nq
        FROM cf CROSS JOIN tot
    ),
    boost AS (
        SELECT t.doc_id,
               SUM(ln(t.tf + {_LMD_MU} * c.cf / tot.t)
                   - ln({_LMD_MU} * c.cf / tot.t)) AS b
        FROM tf t JOIN cf c ON t.token = c.token CROSS JOIN tot
        GROUP BY 1
    ),
    d_scored AS (
        SELECT l.doc_id,
               ROUND(bc.base_const - bc.nq * ln(l.n_tokens + {_LMD_MU})
                     + COALESCE(b.b, 0), 6) AS score
        FROM dl l CROSS JOIN bc LEFT JOIN boost b ON l.doc_id = b.doc_id
    ),
    b AS MATERIALIZED (
        SELECT doc_id, rank AS rb FROM (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INTEGER) AS rank
            FROM d_scored
        ) WHERE rank <= {_RBO_D}
    ),
    pairs AS MATERIALIZED (
        SELECT GREATEST(a.ra, b.rb) AS rm
        FROM a JOIN b ON a.doc_id = b.doc_id
    ),
    perd AS (
        SELECT t.i AS depth,
               CAST(COUNT(p.rm) AS BIGINT) AS n_overlap,
               CAST(({_rbo_wq_sql()})[t.i] AS HUGEINT)
                   * COUNT(p.rm) * ({_rbo_li_sql()})[t.i] AS contrib_q
        FROM unnest(generate_series(1, {_RBO_D})) AS t(i)
        LEFT JOIN pairs p ON p.rm <= t.i
        GROUP BY 1
    )
    SELECT CAST(depth AS INTEGER) AS depth, n_overlap,
           FLOOR(CAST(n_overlap AS DOUBLE) / depth * 1000000.0 + 0.5)
               / 1000000.0 AS agreement,
           FLOOR(CAST(SUM(contrib_q) OVER (ORDER BY depth
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 * {1.0 - _RBO_P} / 1000000000.0 / {_RBO_L}
                 * 1000000.0 + 0.5) / 1000000.0 AS rbo_at_depth
    FROM perd
    ORDER BY depth
    """,
)
def ranker_rbo_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the engine's two sparse scorers
    ([[bm25_search_topk]] vs [[lm_dirichlet_search_topk]]) on the
    shared query, reported per depth 1..{d}: overlap size, depth
    agreement X_i/i, and the truncated RBO(p={p}) running total —
    THE top-weighted ranking-similarity measure for comparing
    retrievers (unlike Kendall/Spearman it handles non-conjoint
    top-k lists and weights rank 1 disagreements hardest).  With
    [[rrf_hybrid_topk]] fusing rankers and [[bm25_prf_expansion]]
    re-weighting one, this is the third IR-eval verb: QUANTIFY how
    much two rankers actually differ before fusing them.  Measured
    signal (sf0.01): the scorers DISAGREE on the top document
    (overlap 0/1 at depth 1) yet overlap 18/20 at depth 20 —
    RBO@20 = 0.653, dragged down by the top-weighted head
    disagreement exactly as designed (lexical tf saturation vs LM
    length normalization re-order the head), which is why RRF fusion
    changes the result list.

    Determinism: both input rankings already break ties on
    (rounded score, doc_id) identically in both engines; overlap
    counts are exact integers; the persistence weights (1-p)·p^(i-1)
    are definition-time 1e-9-quantized INTEGER literals and each
    depth term X_i/i is made exact by the lcm(1..{d}) common
    denominator, so the RBO running sum accumulates exact integers —
    only the final display takes one IEEE expression through the
    floor ladder.

    Scale shape: both scorer top-ks run as TakeOrderedAndProject
    (per-partition heaps — plan-audited); everything after operates
    on two {d}-row lists (the pair join, the depth grid, and the
    20-row running-sum window are all constant-size regardless of
    corpus scale)."""
    a = bm25_search_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("ra")
    )
    b = lm_dirichlet_search_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("rb")
    )
    pairs = a.join(b, "doc_id").select(
        F.greatest("ra", "rb").alias("rm")
    )
    dt = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("depth"),
                F.lit(_RBO_WQ[i]).alias("wq"),
                F.lit(_RBO_L // (i + 1)).alias("li"),
            )
            for i in range(_RBO_D)
        ]
    )
    depths = spark.range(1).select(F.explode(dt).alias("s")).select("s.*")
    perd = (
        depths.join(F.broadcast(pairs), F.col("rm") <= F.col("depth"), "left")
        .groupBy("depth", "wq", "li")
        .agg(F.count("rm").cast("bigint").alias("n_overlap"))
        .select(
            "depth",
            "n_overlap",
            (
                F.col("wq").cast("decimal(38,0)")
                * F.col("n_overlap")
                * F.col("li")
            ).alias("contrib_q"),
        )
    )
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    emit6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return perd.select(
        F.col("depth").cast("int"),
        "n_overlap",
        emit6(F.col("n_overlap").cast("double") / F.col("depth")).alias(
            "agreement"
        ),
        emit6(
            F.sum("contrib_q").over(w).cast("double")
            * (1.0 - _RBO_P)
            / 1000000000.0
            / _RBO_L
        ).alias("rbo_at_depth"),
    ).orderBy("depth")


ranker_rbo_agreement.__doc__ = ranker_rbo_agreement.__doc__.format(
    d=_RBO_D, p=_RBO_P
)
