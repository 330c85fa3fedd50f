"""Deduplication operators for training-data pipelines (SURVEY §7 M5).

Not present in the reference (its only uniqueness semantics are the
user_id-unique expectation, reference scripts/data_quality_checks.py:67,
and the PK on (entity_id, event_timestamp),
init-scripts/01-init-db.sql:37-55) — these are the BASELINE.json
north-star extensions, built Spark-first:

* exact dedup        — md5 over normalized text, one shuffle.
* n-gram Jaccard     — shingle explode + self-equi-join on shingle;
                       exact pairwise similarity on candidate pairs.
* MinHash + LSH      — 8-permutation signature → 4 bands of 2 →
                       bucket join; candidates verified by signature
                       agreement.  The scale path: candidate
                       generation cost is bounded by band-bucket
                       sizes, never all-pairs.
* SimHash            — 32-bit token-hash sign aggregate; byte-band
                       candidates + Hamming(xor) verification.

Cross-engine determinism: all hashing is the portable 60-bit
MD5-prefix hash (functions/scalar.py), so every signature, band and
similarity value hash-matches the DuckDB oracle.

Scale notes: the shingle self-join is the classic quadratic risk —
hot shingles (boilerplate) blow up the join.  Every operator here
caps shingle document-frequency (``_MAX_SHINGLE_DF``) before the
join: a shingle occurring in more documents carries no dedup signal
but dominates the pair count.  At 100 TB you'd additionally salt the
band-bucket join and run it per corpus partition.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, memo, spread
from ..functions import NORMALIZE_TEXT_SQL, PORTABLE_HASH64_SQL, normalize_text, portable_hash64
from ..registry import register

#: Drop shingles occurring in more than this many docs before the
#: pair join (no discrimination value, quadratic cost).
_MAX_SHINGLE_DF = 100

#: MinHash configuration: 8 signature slots, 4 bands × 2 rows.
_MINHASH_K = 8
_MINHASH_BANDS = 4

_JACCARD_THRESHOLD = 0.5
_EST_JACCARD_THRESHOLD = 0.25


def _normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the corpus is CPU-heavy (shingle + k×md5 per shingle)
    # but byte-light, so scan partitioning alone under-parallelizes.
    return spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalize_text(F.col("text")).alias("norm")
    )


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per doc: (doc_id, shingle).

    Formulated with three array slices zipped positionally rather
    than per-position ``element_at`` lambdas: expressions inside a
    higher-order-function lambda are re-evaluated per element (no
    common-subexpression elimination), so the naive form re-splits
    the document ~3× per shingle position — O(tokens²) per doc."""
    t = F.split(F.col("norm"), " ")
    zipped = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 2, F.lit(0))),
        F.expr("slice(split(norm, ' '), 2, greatest(size(split(norm, ' ')) - 2, 0))"),
        F.expr("slice(split(norm, ' '), 3, greatest(size(split(norm, ' ')) - 2, 0))"),
    )
    shingle_arr = F.transform(
        zipped, lambda x: F.concat_ws(" ", x["0"], x["1"], x["2"])
    )
    return docs.select(
        "doc_id", F.explode(F.array_distinct(shingle_arr)).alias("shingle")
    )


_SHINGLES_SQL_CTE = f"""
nd AS (
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
),
shf AS (
    SELECT doc_id, shingle FROM sh
    WHERE shingle IN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= {_MAX_SHINGLE_DF}
    )
)
"""


def _frequent_shingle_filter(shingles: DataFrame) -> DataFrame:
    rare = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .select("shingle")
    )
    return shingles.join(rare, "shingle", "left_semi")


@register(
    "dedup_exact",
    oracle=f"""
    WITH nd AS (
        SELECT doc_id, md5({NORMALIZE_TEXT_SQL("text")}) AS text_hash FROM documents
    )
    SELECT doc_id, text_hash,
           doc_id = MIN(doc_id) OVER (PARTITION BY text_hash) AS is_canonical,
           COUNT(*) OVER (PARTITION BY text_hash) AS n_copies
    FROM nd
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash normalized text, keep min doc_id per hash
    group.  One shuffle on the hash; at 100 TB this is the cheapest
    dedup pass and always runs first."""
    nd = _normalized_docs(spark, sf_dir).select("doc_id", F.md5("norm").alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return nd.select(
        "doc_id",
        "text_hash",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
        F.count("*").over(w).alias("n_copies"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE) / (x.n + y.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN sz x ON p.doc_a = x.doc_id
    JOIN sz y ON p.doc_b = y.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / (x.n + y.n - p.n_common) >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.  Candidate pairs come from
    the shingle self-join (only docs sharing ≥1 rare shingle are ever
    compared); similarity is exact set Jaccard."""
    sh = _corpus_shingles(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = (
        pairs.join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= _JACCARD_THRESHOLD)
    )
    return jac.select(
        "doc_a", "doc_b", "n_common", F.round(F.col("jaccard_raw"), 6).alias("jaccard")
    )


#: 2^60 — signature slots live in [0, 2^60); h1 + 7·h2 < 2^63 so the
#: double-hash arithmetic never overflows BIGINT (ANSI-safe).
_MINHASH_MOD = 1 << 60


def minhash_signatures(shingles: DataFrame, k: int = _MINHASH_K) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}) via Kirsch-Mitzenmacher double
    hashing: ONE md5 per shingle yields two independent 60-bit halves
    (h1, h2); slot j minimizes (h1 + j·h2) mod 2^60.  8× cheaper than
    k independent md5s with the same collision behavior — the hashing
    is the dominant CPU cost of MinHash at corpus scale."""
    md5 = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(md5, 17, 15), 16, 10).cast("bigint")
    aggs = [
        F.min((h1 + F.lit(j) * h2) % F.lit(_MINHASH_MOD)).alias(f"sig_{j}")
        for j in range(k)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


@memo
def _corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's rare-shingle frame ``(doc_id, shingle)``, spooled
    once per session: it feeds size aggregates, both sides of pair
    joins and :func:`_corpus_signatures` across the dedup family."""
    return _frequent_shingle_filter(
        _shingles(_normalized_docs(spark, sf_dir))
    ).localCheckpoint()


@memo
def _corpus_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures of :func:`_corpus_shingles`, spooled once
    per session.  The signature table (one row per doc, k longs)
    appears in every LSH plan several times (band self-join sides and
    both verification joins), so the shingle→hash→min pipeline runs
    once; at 100 TB you persist signatures to a table for the same
    reason."""
    return minhash_signatures(_corpus_shingles(spark, sf_dir)).localCheckpoint()


def _minhash_slot_sql(j: int) -> str:
    h1 = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"
    h2 = "CAST('0x' || substr(md5(shingle), 17, 15) AS BIGINT)"
    return f"MIN(({h1} + {j} * {h2}) % {_MINHASH_MOD}) AS sig_{j}"


_MINHASH_SIG_SQL = ",\n           ".join(_minhash_slot_sql(j) for j in range(_MINHASH_K))
_MINHASH_BAND_ROWS = _MINHASH_K // _MINHASH_BANDS
_MINHASH_BAND_SQL = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, sig_{i} AS h1, sig_{j} AS h2 FROM sig".format(
        b=b, i=b * _MINHASH_BAND_ROWS, j=b * _MINHASH_BAND_ROWS + 1
    )
    for b in range(_MINHASH_BANDS)
)
_MINHASH_AGREE_SQL = " + ".join(
    f"CASE WHEN x.sig_{j} = y.sig_{j} THEN 1 ELSE 0 END" for j in range(_MINHASH_K)
)


def _lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct ``(doc_a < doc_b)`` pairs colliding in ≥1 LSH band —
    THE banding scheme (4 bands × 2 signature slots as the band key);
    every consumer of band candidates goes through here so a retune
    of ``_MINHASH_BANDS``/slot layout changes production and its
    calibration report together."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"sig_{b * _MINHASH_BAND_ROWS}").alias("h1"),
                F.col(f"sig_{b * _MINHASH_BAND_ROWS + 1}").alias("h2"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.h1", "bs.h2"
    )
    a, b_ = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)}, 6) AS est_jaccard
    FROM cand c
    JOIN sig x ON c.doc_a = x.doc_id
    JOIN sig y ON c.doc_b = y.doc_id
    WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)} >= {_EST_JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection: 8-slot signatures, 4 bands of
    2; docs colliding in any band become candidates; candidates are
    scored by signature agreement (unbiased Jaccard estimate).

    Scale: signatures are one shuffle over shingles; the band join
    shuffles 4 small (doc, band-hash) rows per doc and only compares
    within buckets — never all-pairs.  Hot buckets are bounded by the
    rare-shingle filter upstream."""
    sig = _corpus_signatures(spark, sf_dir)
    cand = _lsh_candidate_pairs(sig)
    x = sig.select([F.col("doc_id").alias("doc_a")] + [F.col(f"sig_{j}").alias(f"xa_{j}") for j in range(_MINHASH_K)])
    y = sig.select([F.col("doc_id").alias("doc_b")] + [F.col(f"sig_{j}").alias(f"yb_{j}") for j in range(_MINHASH_K)])
    agree = sum(
        F.when(F.col(f"xa_{j}") == F.col(f"yb_{j}"), 1).otherwise(0) for j in range(_MINHASH_K)
    )
    est = agree / F.lit(float(_MINHASH_K))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("est_raw", est)
        .filter(F.col("est_raw") >= _EST_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(F.col("est_raw"), 6).alias("est_jaccard"))
    )


_SIMHASH_BITS = 32


def simhash(tokens_df: DataFrame) -> DataFrame:
    """32-bit SimHash per doc from portable token hashes.

    sign-sum per bit position over all tokens (weight 1), bit set
    where the sum is positive."""
    h = tokens_df.select("doc_id", portable_hash64(F.col("token"), seed=7).alias("h"))
    bits = h.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("b")
    ).select(
        "doc_id",
        "b",
        F.when(F.expr("(h >> b) & 1") == 1, 1).otherwise(-1).alias("sign"),
    )
    per_bit = bits.groupBy("doc_id", "b").agg(F.sum("sign").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


_TOKENS_SQL_CTE = f"""
nd AS (
    SELECT doc_id, {NORMALIZE_TEXT_SQL("text")} AS norm FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM nd
)
"""

_SIMHASH_SQL_CTE = f"""
{_TOKENS_SQL_CTE},
th AS (
    SELECT doc_id, {PORTABLE_HASH64_SQL("token", seed=7)} AS h FROM tok
),
bit AS (
    SELECT doc_id, b,
           SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS b)
    GROUP BY doc_id, b
),
sim AS (
    SELECT doc_id,
           SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
    FROM bit GROUP BY doc_id
)
"""


@register(
    "dedup_simhash",
    oracle=f"WITH {_SIMHASH_SQL_CTE} SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sim",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash fingerprint (token multiset, weight 1)."""
    nd = _normalized_docs(spark, sf_dir)
    tok = nd.select("doc_id", F.explode(F.split("norm", " ")).alias("token"))
    return simhash(tok).select("doc_id", F.col("simhash").cast("bigint").alias("simhash"))


_SIMHASH_HAMMING_MAX = 3


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_SQL_CTE},
    bytes AS (
        SELECT doc_id, simhash, i, (simhash >> (8 * i)) & 255 AS byte
        FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bytes a JOIN bytes b
          ON a.i = b.i AND a.byte = b.byte AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_SIMHASH_HAMMING_MAX}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via byte-banding: split the 32-bit hash
    into 4 bytes; any pair within Hamming distance ≤3 must share at
    least one exact byte (pigeonhole), so the byte equi-join generates
    all true candidates without an all-pairs comparison."""
    sim = dedup_simhash(spark, sf_dir)
    bytes_df = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
    ).withColumn("byte", F.expr("(simhash >> (8 * i)) & 255"))
    a, b = bytes_df.alias("a"), bytes_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(ha ^ hb) AS INT)"))
        .filter(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


#: Deterministic stand-in for a held-out benchmark/eval set: every
#: 97th document.  In production this frame is the real benchmark
#: suite — a few MB against a 100 TB corpus.
_BENCH_MOD = 97
#: A corpus document sharing at least this fraction of its distinct
#: 3-gram shingles with the benchmark set is flagged.
_CONTAMINATION_RATE = 0.02


@register(
    "corpus_contamination",
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
    ),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, shingle FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
    ),
    tot AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1
    ),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY 1
    )
    SELECT t.doc_id,
           t.n_shingles,
           COALESCE(h.n_shared, 0) AS n_shared,
           ROUND(CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / t.n_shingles, 6)
               AS contamination_rate,
           CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / t.n_shingles
               >= {_CONTAMINATION_RATE} AS contaminated
    FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (the GPT-3/PaLM-style n-gram
    overlap check): for every corpus document, the fraction of its
    distinct 3-gram shingles that also occur in a held-out benchmark
    set, plus the contamination verdict.

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus, so it is BROADCAST — the corpus-side shingles are counted
    and probed map-side and never shuffle; the only exchanges are the
    two per-doc count aggregates (both two-phase).  No corpus-vs-
    corpus join exists anywhere, so cost is linear in corpus shingles."""
    sh = _shingles(_normalized_docs(spark, sf_dir))
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = sh.filter(is_bench).select("shingle").distinct()
    corpus = sh.filter(~is_bench)
    tot = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    rate = F.coalesce(F.col("n_shared"), F.lit(0)).cast("double") / F.col("n_shingles")
    return tot.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
        F.round(rate, 6).alias("contamination_rate"),
        (rate >= _CONTAMINATION_RATE).alias("contaminated"),
    )


#: Iteration cap for min-label propagation.  The loop exits on
#: convergence (one cheap scalar check per round), so the cap exists
#: only to turn a logic bug into a loud error — but it must sit above
#: the worst-case round count, which pointer jumping makes
#: 4 + log2(diameter) + 1: reach grows ~2× per jump round (label(v)
#: already points ~d back; label(label(v)) lands ~2d back).  MEASURED
#: (round 9, tools/scale_probe.py cc_path probe): a 2^20-vertex
#: single path needs 23 rounds — the old cap of 20 raised the
#: "did not converge" error on a graph the algorithm handles fine.
#: 48 covers a diameter-2^40 chain, far beyond any 100 TB corpus,
#: while typical dup graphs still exit in 4-5 rounds.
_CC_MAX_ITERS = 48

#: Rounds of plain hash-to-min before the pointer-jump self-join
#: engages.  Measured on the synthetic corpus: dup graphs have
#: diameter ≤ 3 and converge (incl. the confirm round) in 4 rounds —
#: the gate sits just past that so the typical case never pays the
#: self-join, while a depth-d chain still finishes in
#: 4 + O(log d) ≪ cap rounds.
_CC_JUMP_AFTER = 4


def duplicate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected duplicate-relation edges ``(a, b)``, ``a < b``:
    exact-duplicate star edges (min doc_id of each identical-text
    group → other members, linear in group size — never the
    quadratic within-group pair set) unioned with the MinHash-LSH
    near-dup pairs.  The registered clustering path now pre-contracts
    exact groups and feeds :func:`connected_components` only the
    remapped LSH edges (see :func:`_doc_cluster_labels`); this
    uncontracted edge list remains the reference semantics the
    union-find property test checks against."""
    nd = _normalized_docs(spark, sf_dir)
    exh = nd.select("doc_id", F.md5("norm").alias("h"))
    m = F.min("doc_id").over(Window.partitionBy("h"))
    exact = exh.select(m.alias("a"), F.col("doc_id").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    near = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return exact.union(near).distinct()


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    persist_rounds_to: str | None = None,
    active_only: bool = True,
    round_times: list | None = None,
) -> DataFrame:
    """Distributed connected components: ``(doc_id, label)`` with
    label = min vertex id of the component.  ``vertices`` has column
    ``doc_id``; ``edges`` columns ``(a, b)`` (undirected, any
    orientation; isolated vertices keep their own label).

    PRECONDITION (under the default ``active_only=True``): every edge
    endpoint must appear in ``vertices`` — the active set is derived
    directly from the edge endpoints (that is what makes the split
    free of any vertex-frame scan), so an edge referencing an id
    outside ``vertices`` would inject that id into the output instead
    of erroring.  Callers that cannot guarantee closure must pass
    ``active_only=False``, which iterates exactly the given vertex
    frame.

    Hash-to-min label propagation with POINTER JUMPING: each round
    every vertex takes (1) the min of its own and its neighbors'
    labels, then (2) its label's label (path halving).  Step (1)
    alone converges in diameter rounds — a near-dup *chain* of
    templated documents (A~B~C~…) is exactly the adversarial case,
    and at corpus scale chains outlive any fixed iteration cap.
    Step (2) makes label trees collapse geometrically: O(log n)
    rounds for any graph (a 2^20-vertex single path — the worst
    case — converges in 23 rounds, measured by the scale probe's
    cc_path run).  Sound because every label is itself a vertex id
    of the same component, and labels only ever decrease toward the
    component min.

    Cost per round: one shuffle join of the slim symmetric edge list
    (2 longs/row) + a two-phase min-aggregate, over EDGE-TOUCHING
    vertices only (isolated vertices can never change label and are
    emitted directly — on a real corpus the dup graph is a small
    fraction of the table, so rounds shuffle |dup graph|, not
    |corpus|); the pointer-jump
    self-join of the label frame only engages after
    ``_CC_JUMP_AFTER`` non-converged rounds — typical duplicate
    graphs (star-shaped dup groups, diameter ≤ 2-3) converge before
    it and never pay for it, while deep chains still collapse in
    O(log n) total rounds.  ``localCheckpoint`` after each round truncates
    lineage so the plan stays O(1) deep regardless of iteration count
    (and materializes eagerly — a lazy cache inside the loop would
    race, see MEMORY).  Convergence is detected from ``sum(label)``:
    labels only ever decrease, so an unchanged sum is exactly "no
    label moved" — one cheap scalar agg per round instead of an
    old-vs-new join.

    ``persist_rounds_to`` is the 100 TB switch: when set, each
    round's label frame is written to
    ``{persist_rounds_to}/round=<n>/`` parquet and read back instead
    of ``localCheckpoint`` — executor block-manager memory stops
    bounding the vertex count, a lost executor recomputes from the
    parquet scan instead of a replicated block, and the newest
    surviving round directory is a manual resume point after a
    driver crash.  Local mode defaults to ``localCheckpoint`` (no
    write amplification); the per-round plan is identical either
    way.
    """
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Slim two-long frame read every round: cache once, eagerly.
    sym = sym.cache()
    sym.count()

    def _materialize(df: DataFrame, round_no: int) -> DataFrame:
        if persist_rounds_to is None:
            return df.localCheckpoint()
        path = f"{persist_rounds_to}/round={round_no}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    # Iterate ONLY over vertices that touch an edge: an isolated
    # vertex keeps label = doc_id and never changes, so it is emitted
    # directly at the end.  On a real corpus the dup graph is a small
    # fraction of the table — every per-round shuffle shrinks from
    # |corpus| to |dup-graph members|.  Always on by default: the
    # active set IS the endpoint set (edges reference only vertices
    # of the frame — precondition), so the split costs one distinct
    # over the cached edge list plus one deferred anti-join, never a
    # vertex-frame count (deciding adaptively would itself scan the
    # 100 TB-scale vertex frame the flag exists to protect).
    if active_only:
        # localCheckpoint: the isolated branch is materialized by the
        # CALLER, after sym is unpersisted — a lazy endpoints frame
        # would re-derive the full edge lineage at that point.
        endpoints = (
            sym.select("a")
            .distinct()
            .withColumnRenamed("a", "doc_id")
            .localCheckpoint()
        )
        isolated = vertices.join(endpoints, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("label")
        )
        active = endpoints
    else:
        isolated = None
        active = vertices
    labels = _materialize(
        active.select("doc_id", F.col("doc_id").alias("label")), 0
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    import time as _time

    for it in range(_CC_MAX_ITERS):
        _t0 = _time.perf_counter()
        nbr = (
            sym.join(labels, sym["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels["doc_id"] == nbr["a"], "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        if it >= _CC_JUMP_AFTER:
            # Pointer jump: label(v) ← label(label(v)).  Every label
            # is a vertex id, so the lookup side is the label frame
            # itself; LEFT only as belt-and-braces (a label always
            # resolves — it is the min of ids seen so far).
            x, y = stepped.alias("x"), stepped.alias("y")
            stepped = x.join(y, F.col("x.label") == F.col("y.doc_id"), "left").select(
                F.col("x.doc_id").alias("doc_id"),
                F.least(
                    F.col("x.label"),
                    F.coalesce(F.col("y.label"), F.col("x.label")),
                ).alias("label"),
            )
        labels = _materialize(stepped, it + 1)
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if round_times is not None:
            round_times.append(round(_time.perf_counter() - _t0, 3))
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected components did not converge in {_CC_MAX_ITERS} rounds"
        )
    sym.unpersist()
    return labels if isolated is None else labels.unionByName(isolated)


@memo
def _doc_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, label)`` over the exact+MinHash duplicate graph,
    with exact-duplicate groups PRE-CONTRACTED to a single vertex
    before component iteration.

    Exact groups are known closed-form from one hash pass (every
    member shares ``md5(norm)``), so they carry no information the
    iteration needs: each group collapses to its min doc_id
    ("representative"), LSH near-dup edges are remapped through the
    contraction (self-loops drop), and :func:`connected_components`
    runs on the contracted graph only.  The label of a contracted
    component is the min representative = the global min doc_id of
    all members (every doc_id ≥ its group's representative), so
    expanding labels back through the rep mapping reproduces exactly
    the labels of the uncontracted graph.

    Scale shape: on a crawl corpus exact duplicates dominate (URL
    mirrors, re-crawls), so contraction shrinks BOTH frames the
    O(log n) rounds iterate over — vertices from |corpus| to
    |distinct texts| and edges by dropping the exact star edges
    entirely — for the one-off cost of the rep window (same
    hash-partition pass the exact-dedup step already does) and one
    expansion join at the end.

    Memoized: the label frame is the shared upstream of
    ``dedup_clusters``, ``dup_cluster_size_histogram`` and
    ``corpus_dedup_pipeline`` — each used to recompute the full ~6 s
    component pass (VERDICT r6 item 4).  Bounded: 2 longs per
    document."""
    rep = _exact_rep_frame(spark, sf_dir)
    edges = _contracted_edges(spark, sf_dir, rep)
    vertices = rep.select(F.col("rep").alias("doc_id")).distinct()
    rep_labels = connected_components(vertices, edges).withColumnRenamed(
        "doc_id", "rep"
    )
    return _expand_labels(rep, rep_labels)


def _exact_rep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, rep)`` exact-group contraction map: every document
    mapped to the min doc_id sharing its ``md5(norm)``.  Returned
    spooled: rep feeds FOUR independently-materialized lineages (both
    edge-remap sides, the vertex frame, the final expansion join) —
    unspooled, each would re-run the full-corpus hash-partition
    window.  At 100 TB, persist to a table instead."""
    nd = _normalized_docs(spark, sf_dir)
    return nd.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("norm"))).alias("rep"),
    ).localCheckpoint()


def _contracted_edges(spark: SparkSession, sf_dir: str, rep: DataFrame) -> DataFrame:
    """LSH near-dup edges remapped through the exact contraction:
    endpoints replaced by their representatives, self-loops dropped,
    canonical (a < b) and distinct."""
    near = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    ra = rep.select(F.col("doc_id").alias("doc_a"), F.col("rep").alias("ra"))
    rb = rep.select(F.col("doc_id").alias("doc_b"), F.col("rep").alias("rb"))
    return (
        near.join(ra, "doc_a")
        .join(rb, "doc_b")
        .select(
            F.least("ra", "rb").alias("a"), F.greatest("ra", "rb").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _expand_labels(rep: DataFrame, rep_labels: DataFrame) -> DataFrame:
    """Expand contracted-component labels back to all documents,
    spooled (localCheckpoint): the memoized label frame is read by
    several queries, so the expansion join runs once (bounded: 2
    longs per doc)."""
    return (
        rep.join(rep_labels, "rep").select("doc_id", "label").localCheckpoint()
    )


#: Full recursive-CTE chain labeling every doc with its duplicate
#: cluster (min doc_id of its exact+MinHash component) — shared by
#: ``dedup_clusters`` and the end-to-end ``corpus_dedup_pipeline``.
_CLUSTER_LABEL_SQL_CTES = f"""{_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id
    ),
    mh AS (
        SELECT c.doc_a AS a, c.doc_b AS b
        FROM cand c
        JOIN sig x ON c.doc_a = x.doc_id
        JOIN sig y ON c.doc_b = y.doc_id
        WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)} >= {_EST_JACCARD_THRESHOLD}
    ),
    exh AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(norm)) AS m FROM nd
    ),
    ex AS (SELECT m AS a, doc_id AS b FROM exh WHERE m <> doc_id),
    e0 AS (SELECT a, b FROM mh UNION SELECT a, b FROM ex),
    sym AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
    reach AS (
        SELECT a AS src, b AS dst FROM sym
        UNION
        SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a
    ),
    lbl AS (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
        FROM nd d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id
    )"""


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES}
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM lbl
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters via distributed connected components: the
    terminal step of a real dedup pipeline (pairs alone don't dedup —
    A~B and B~C must collapse to ONE kept document, so components,
    not pairs, are the unit of removal).  Every document gets
    ``cluster_id`` = min doc_id of its component over the
    ``duplicate_edges`` graph (exact + MinHash-LSH relations),
    ``cluster_size``, and ``is_canonical`` (the one row per cluster a
    filtering pass keeps).

    Algorithm: exact-group pre-contraction then hash-to-min with
    pointer jumping, O(log n) rounds — see :func:`_doc_cluster_labels`
    and :func:`connected_components`.

    The DuckDB oracle computes the same components by recursive-CTE
    transitive closure (viable at oracle scale only — closure is
    O(sum cluster_size²); the Spark side never materializes it).
    """
    labels = _doc_cluster_labels(spark, sf_dir)
    clusters = labels.withColumnRenamed("label", "cluster_id")
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


#: Simulated ingest split for the incremental operator: every 5th doc
#: (by id) is the "arriving batch"; the rest are the standing corpus.
_INCR_BATCH_MOD = 5


@register(
    "dedup_incremental",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    hashes AS (
        SELECT doc_id, md5(norm) AS text_hash FROM nd
    ),
    exact AS (
        SELECT b.doc_id, MIN(c.doc_id) AS match_id
        FROM hashes b JOIN hashes c ON b.text_hash = c.text_hash
        WHERE b.doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_MOD - 1}
          AND c.doc_id % {_INCR_BATCH_MOD} <> {_INCR_BATCH_MOD - 1}
        GROUP BY b.doc_id
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS bd, c.doc_id AS cd
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.h1 = c.h1 AND a.h2 = c.h2
        WHERE a.doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_MOD - 1}
          AND c.doc_id % {_INCR_BATCH_MOD} <> {_INCR_BATCH_MOD - 1}
    ),
    near AS (
        SELECT p.bd AS doc_id, MIN(p.cd) AS match_id
        FROM cand p
        JOIN sig x ON p.bd = x.doc_id
        JOIN sig y ON p.cd = y.doc_id
        WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)} >= {_EST_JACCARD_THRESHOLD}
        GROUP BY p.bd
    )
    SELECT d.doc_id,
           CASE WHEN e.match_id IS NOT NULL THEN 'dup_exact'
                WHEN n.match_id IS NOT NULL THEN 'dup_near'
                ELSE 'admit' END AS verdict,
           COALESCE(e.match_id, n.match_id) AS match_doc_id
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_MOD - 1}) d
    LEFT JOIN exact e ON d.doc_id = e.doc_id
    LEFT JOIN near n ON d.doc_id = n.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit or reject an *arriving batch* against
    the standing corpus — the shape continuous ingestion needs (a full
    re-dedup per ingest is O(corpus) and unaffordable at 100 TB).
    Per batch doc: ``dup_exact`` (normalized text hash already in the
    corpus), ``dup_near`` (shares a MinHash LSH band bucket with a
    corpus doc AND signature agreement ≥ threshold), else ``admit``;
    ``match_doc_id`` is the smallest matching corpus doc.

    Batch/corpus split is simulated here as ``doc_id % 5 == 4``.  The
    plan probes, never rebuilds: batch hashes and band keys join
    against the corpus's hash and band tables — at 100 TB those are
    *persisted* artifacts of prior ingests, and :class:`DedupIndex`
    below IS that persisted form (build / probe / add over parquet
    hash, band, signature, and shingle-df tables; probe-equivalence
    with this query is asserted in tests/test_dedup_index.py) — so
    per-ingest cost is O(batch) hashing plus bucket-local joins; a
    small batch side broadcasts.  Corpus-side docs never pair with each other — unlike
    ``dedup_minhash_lsh`` there is no corpus self-join anywhere.
    """
    nd = _normalized_docs(spark, sf_dir)
    is_batch = F.col("doc_id") % _INCR_BATCH_MOD == _INCR_BATCH_MOD - 1
    hashes = nd.select("doc_id", F.md5("norm").alias("text_hash"), is_batch.alias("b"))
    exact = (
        hashes.filter("b")
        .join(
            hashes.filter(~F.col("b")).select(
                F.col("text_hash"), F.col("doc_id").alias("c_id")
            ),
            "text_hash",
        )
        .groupBy("doc_id")
        .agg(F.min("c_id").alias("exact_match"))
    )
    sig = _corpus_signatures(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"sig_{b * _MINHASH_BAND_ROWS}").alias("h1"),
                F.col(f"sig_{b * _MINHASH_BAND_ROWS + 1}").alias("h2"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.h1", "bs.h2"
    )
    cand = (
        bands.filter(is_batch)
        .alias("a")
        .join(
            bands.filter(~is_batch).alias("c"),
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.h1") == F.col("c.h1"))
            & (F.col("a.h2") == F.col("c.h2")),
        )
        .select(F.col("a.doc_id").alias("bd"), F.col("c.doc_id").alias("cd"))
        .distinct()
    )
    x = sig.select(
        [F.col("doc_id").alias("bd")]
        + [F.col(f"sig_{j}").alias(f"xa_{j}") for j in range(_MINHASH_K)]
    )
    y = sig.select(
        [F.col("doc_id").alias("cd")]
        + [F.col(f"sig_{j}").alias(f"yb_{j}") for j in range(_MINHASH_K)]
    )
    agree = sum(
        F.when(F.col(f"xa_{j}") == F.col(f"yb_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    near = (
        cand.join(x, "bd")
        .join(y, "cd")
        .filter(agree / F.lit(float(_MINHASH_K)) >= _EST_JACCARD_THRESHOLD)
        .groupBy(F.col("bd").alias("doc_id"))
        .agg(F.min("cd").alias("near_match"))
    )
    batch = nd.filter(is_batch).select("doc_id")
    return (
        batch.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), "dup_exact")
            .when(F.col("near_match").isNotNull(), "dup_near")
            .otherwise("admit")
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_doc_id"),
        )
    )


def _quality_admitted_sql() -> str:
    """Quality-admission CTEs mirroring ``corpus_quality_filter``'s
    oracle (text.py) — inlined here so the pipeline oracle stays one
    self-contained statement."""
    from .text import (
        _MAX_STOPWORD_RATIO,
        _MAX_TOKENS,
        _MIN_DISTINCT_RATIO,
        _MIN_TOKENS,
        _STOPWORDS,
    )

    return f"""qt AS (
        SELECT doc_id, string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    q AS (
        SELECT doc_id,
               (len(toks) >= {_MIN_TOKENS} AND len(toks) <= {_MAX_TOKENS}
                AND CAST(len(list_distinct(toks)) AS DOUBLE)
                    / NULLIF(len(toks), 0) >= {_MIN_DISTINCT_RATIO}
                AND CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS DOUBLE)
                    / NULLIF(len(toks), 0) <= {_MAX_STOPWORD_RATIO}) AS admitted
        FROM qt
    )"""


@register(
    "corpus_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES},
    {_quality_admitted_sql()},
    lq AS (
        SELECT l.doc_id, l.cluster_id, q.admitted
        FROM lbl l JOIN q ON l.doc_id = q.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           admitted,
           (admitted AND doc_id = MIN(CASE WHEN admitted THEN doc_id END)
                OVER (PARTITION BY cluster_id)) AS kept,
           CASE WHEN NOT admitted THEN 'quality'
                WHEN doc_id <> MIN(CASE WHEN admitted THEN doc_id END)
                     OVER (PARTITION BY cluster_id) THEN 'duplicate'
           END AS reject_reason
    FROM lq
    """,
)
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus admission pipeline — the composition a
    training-data run actually executes: C4-style quality filter
    (``corpus_quality_filter``), duplicate clustering over the
    exact+MinHash graph (``dedup_clusters``), then ONE kept document
    per cluster — the smallest *admitted* doc_id, so a cluster whose
    canonical member fails quality still keeps its best survivor
    rather than losing the content.  Per doc: ``kept`` plus
    ``reject_reason`` ('quality' | 'duplicate' | NULL).

    Scale shape: the quality bitmap is a single scan (no shuffle);
    clustering is the O(log n)-round hash-to-min of
    :func:`connected_components`; the final keep decision is one
    window over ``cluster_id`` — the same partitioning the cluster
    join already produced.
    """
    from .text import corpus_quality_filter  # local import: avoid cycle

    quality = corpus_quality_filter(spark, sf_dir).select("doc_id", "admitted")
    labels = _doc_cluster_labels(spark, sf_dir)
    joined = labels.withColumnRenamed("label", "cluster_id").join(quality, "doc_id")
    w = Window.partitionBy("cluster_id")
    keep_id = F.min(F.when(F.col("admitted"), F.col("doc_id"))).over(w)
    return joined.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        "admitted",
        (F.col("admitted") & (F.col("doc_id") == keep_id)).alias("kept"),
        F.when(~F.col("admitted"), F.lit("quality"))
        .when(F.col("doc_id") != keep_id, F.lit("duplicate"))
        .alias("reject_reason"),
    )


@register(
    "dedup_rate_by_lang",
    oracle=f"""
    WITH h AS (
        SELECT lang, md5({NORMALIZE_TEXT_SQL("text")}) AS h
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_redundant,
           ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
               AS dup_rate
    FROM h
    GROUP BY lang
    """,
)
def dedup_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice duplication report: exact-duplicate rate within each
    language slice — the dashboard number that tells a corpus owner
    WHERE the duplication lives before any dedup pass runs (crawl
    slices routinely differ by an order of magnitude).  Composes the
    exact-dedup hash with the mixture-weights slicing; feeds budget
    decisions in :func:`corpus_plan.corpus_mixture_weights`.

    One scan, one shuffle on lang (exact distinct-per-group collapses
    map-side on the (lang, hash) partial)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    h = d.select("lang", F.md5(normalize_text(F.col("text"))).alias("h"))
    return h.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        (F.count("*") - F.countDistinct("h")).cast("bigint").alias("n_redundant"),
        F.round(
            (F.count("*") - F.countDistinct("h")).cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
    )


#: Segment granularity for sub-document exact dedup: consecutive
#: fixed-width word windows stand in for the newline-delimited lines
#: real crawls carry (the synthetic corpus is single-line).
_SEG_WORDS = 6
_SEG_SEED = 7


@register(
    "segment_dedup",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    occ AS (
        SELECT doc_id, CAST(u.g AS INTEGER) AS g,
               array_to_string(w[u.g*{_SEG_WORDS}+1 : u.g*{_SEG_WORDS}+{_SEG_WORDS}], ' ') AS seg
        FROM w, LATERAL unnest(generate_series(
                 0, CAST(CEIL(len(w) / {_SEG_WORDS}.0) - 1 AS INTEGER))) u(g)
    ),
    r AS (
        SELECT doc_id, g, seg,
               len(string_split(seg, ' ')) AS n_words,
               ROW_NUMBER() OVER (
                   PARTITION BY {PORTABLE_HASH64_SQL('seg', seed=_SEG_SEED)}
                   ORDER BY doc_id, g) AS rn
        FROM occ
    )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           COALESCE(string_agg(seg, ' ' ORDER BY g) FILTER (WHERE rn = 1), '')
               AS clean_text,
           ROUND(CAST(SUM(CASE WHEN rn = 1 THEN n_words ELSE 0 END) AS DOUBLE)
                 / SUM(n_words), 6) AS retained_word_ratio
    FROM r
    GROUP BY doc_id
    """,
)
def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (the line-level pass of C4 /
    RefinedWeb-style pipelines): split every document into
    fixed-width word segments, keep only the corpus-wide FIRST
    occurrence of each distinct segment (ordered by doc_id, then
    position), and reassemble each document's surviving text.  The
    per-doc report carries the cleaned text, drop counts, and the
    word-level retention ratio — the numbers that decide whether a
    crawl slice survives boilerplate stripping.

    Scale shape: occurrences explode map-side (``explode(sequence)``
    + ``slice``/``array_join``, no UDF); first-occurrence election is
    ONE window over the portable 60-bit segment hash — the shuffle
    moves slim (hash, doc_id, g, seg) rows and each hash partition is
    the tiny set of copies of one segment, so there is no skew beyond
    genuine boilerplate (which is exactly what the operator removes).
    Reassembly is one hash aggregate on doc_id.  Cross-engine
    determinism: the election key is the portable hash (identical in
    DuckDB), and hash collisions — astronomically rare at 60 bits —
    would resolve identically in both engines by construction.
    """
    return segment_dedup_frame(
        spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    )


def segment_dedup_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of :func:`segment_dedup` over any
    ``(doc_id, text)`` input — property-tested against a plain-Python
    reference over generated corpora in tests/test_properties.py."""
    k = _SEG_WORDS
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    occ = d.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), (F.ceil(F.size("w") / F.lit(float(k))) - 1).cast("int"))
        ).alias("g"),
    ).select(
        "doc_id",
        "g",
        F.array_join(F.slice(F.col("w"), F.col("g") * k + 1, k), " ").alias("seg"),
    )
    win = Window.partitionBy(portable_hash64(F.col("seg"), seed=_SEG_SEED)).orderBy(
        "doc_id", "g"
    )
    r = occ.select(
        "doc_id",
        "g",
        "seg",
        F.size(F.split("seg", " ")).alias("n_words"),
        F.row_number().over(win).alias("rn"),
    )
    kept_struct = F.when(F.col("rn") == 1, F.struct("g", "seg"))
    return r.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.round(
            F.sum(F.when(F.col("rn") == 1, F.col("n_words")).otherwise(0)).cast("double")
            / F.sum("n_words"),
            6,
        ).alias("retained_word_ratio"),
    )


#: Cross-document span width (words).  Production substring dedup
#: uses ~50 BPE tokens / 13 words (Lee et al. 2022, "Deduplicating
#: Training Data Makes Language Models Better"); 8 fits this corpus's
#: 10-99-word documents while leaving multi-span overlap to exercise
#: the coverage union.
_SPAN_WORDS = 8
_SPAN_SEED = 11

#: A document with more than this fraction of its tokens inside
#: cross-document duplicated spans is flagged for removal/trimming.
_SPAN_FLAG_COVERAGE = 0.2


@register(
    "dedup_crossdoc_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    sp AS (
        SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
               {PORTABLE_HASH64_SQL(
                   f"array_to_string(toks[u.i:u.i+{_SPAN_WORDS - 1}], ' ')",
                   seed=_SPAN_SEED,
               )} AS h
        FROM t, LATERAL unnest(
                 range(1, greatest(len(toks) - {_SPAN_WORDS} + 1, 0) + 1)) u(i)
    ),
    dup AS (
        SELECT doc_id, pos
        FROM (SELECT doc_id, pos,
                     COUNT(DISTINCT doc_id) OVER (PARTITION BY h) AS nd
              FROM sp)
        WHERE nd >= 2
    ),
    nd AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM dup GROUP BY doc_id),
    cov AS (
        SELECT doc_id, COUNT(DISTINCT p) AS n_covered
        FROM dup, LATERAL unnest(range(pos, pos + {_SPAN_WORDS})) v(p)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           CAST(COALESCE(nd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered_tokens,
           ROUND(CAST(COALESCE(cov.n_covered, 0) AS DOUBLE) / len(t.toks), 6)
               AS dup_token_coverage,
           CAST(COALESCE(cov.n_covered, 0) AS DOUBLE) / len(t.toks)
               > {_SPAN_FLAG_COVERAGE} AS flagged
    FROM t LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
    """,
)
def dedup_crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level cross-document dedup report — the distributed
    hash approximation of Lee et al. 2022's suffix-array pass: find
    every ``_SPAN_WORDS``-word span that occurs (at that exact width)
    in two or more documents, and report per document how many of its
    spans are shared and what fraction of its tokens the shared spans
    cover (overlaps union-counted, not double-counted).  Documents
    over the coverage threshold are the boilerplate/mirror pages an
    admission pipeline trims or drops; unlike whole-doc or
    segment-grid dedup this catches duplicated runs at ANY alignment.

    Scale shape: span expansion is a narrow ``explode(sequence)`` +
    ``slice`` projection that immediately reduces each span to the
    portable 60-bit hash, so the ONE wide shuffle moves slim
    ``(h, doc_id, pos)`` rows and each window partition is just the
    copies of one span (no skew beyond genuine boilerplate — which is
    the signal).  The coverage union explodes only the *duplicated*
    occurrences (``_SPAN_WORDS ×`` those rows, not the corpus), and
    the final per-doc rollups are map-side-combinable hash aggregates.
    Cross-engine determinism: election runs on the portable hash in
    both engines, so even a (astronomically rare) 60-bit collision
    resolves identically.  Production note: at 100 TB you'd run this
    per corpus shard with K≈13 and feed flagged spans to a trimming
    rewrite; the per-shard plan is exactly this one.
    """
    return crossdoc_span_frame(
        spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    )


def _span_texts(d: DataFrame) -> DataFrame:
    """``(doc_id, pos, span)`` span-text occurrences of a
    ``(doc_id, toks)`` frame — the single expansion every substring
    pass (report, trim, heavy hitters, index probe) builds on, so the
    window arithmetic and short-doc guard can never diverge."""
    k = _SPAN_WORDS
    # Spark's sequence(1, 0) counts DOWN — guard short docs explicitly.
    idx = F.when(
        F.size("toks") >= k, F.sequence(F.lit(1), F.size("toks") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    return d.select("doc_id", "toks", F.explode(idx).alias("pos")).select(
        "doc_id",
        "pos",
        F.array_join(F.slice(F.col("toks"), F.col("pos"), k), " ").alias("span"),
    )


def _span_rows(d: DataFrame) -> DataFrame:
    """``(doc_id, pos, h)`` span-hash occurrences — :func:`_span_texts`
    reduced to the portable 60-bit hash before any shuffle."""
    return _span_texts(d).select(
        "doc_id", "pos", portable_hash64(F.col("span"), seed=_SPAN_SEED).alias("h")
    )


def _span_report(base: DataFrame, dup: DataFrame) -> DataFrame:
    """Final per-doc rollup shared by :func:`crossdoc_span_frame` and
    ``DedupIndex.probe_spans``: ``dup`` carries the duplicated
    ``(doc_id, pos)`` occurrences, ``base`` every doc's token count."""
    k = _SPAN_WORDS
    # Each duplicated occurrence explodes exactly k covered positions,
    # so ONE aggregate yields both the span count (count/k) and the
    # overlap-unioned coverage — no second pass over the dup branch.
    stats = (
        dup.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("p"),
        )
        .groupBy("doc_id")
        .agg(
            (F.count("*") / k).cast("bigint").alias("n_dup_spans"),
            F.countDistinct("p").alias("n_covered"),
        )
    )
    covered = F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint")
    return (
        base.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
            covered.alias("n_covered_tokens"),
            F.round(covered.cast("double") / F.col("n_tokens"), 6).alias(
                "dup_token_coverage"
            ),
            (covered.cast("double") / F.col("n_tokens") > _SPAN_FLAG_COVERAGE).alias(
                "flagged"
            ),
        )
    )


def crossdoc_span_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of :func:`dedup_crossdoc_spans` over any
    ``(doc_id, text)`` input — property-tested against a plain-Python
    reference in tests/test_properties.py."""
    d = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("toks")
    )
    base = d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    sp = _span_rows(d)
    dup = (
        sp.withColumn(
            "nd", F.size(F.collect_set("doc_id").over(Window.partitionBy("h")))
        )
        .filter(F.col("nd") >= 2)
        .select("doc_id", "pos")
    )
    return _span_report(base, dup)


@register(
    "crossdoc_span_trim",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    sp AS (
        SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
               {PORTABLE_HASH64_SQL(
                   f"array_to_string(toks[u.i:u.i+{_SPAN_WORDS - 1}], ' ')",
                   seed=_SPAN_SEED,
               )} AS h
        FROM t, LATERAL unnest(
                 range(1, greatest(len(toks) - {_SPAN_WORDS} + 1, 0) + 1)) u(i)
    ),
    r AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
               COUNT(DISTINCT doc_id) OVER (PARTITION BY h) AS nd
        FROM sp
    ),
    dup AS (SELECT doc_id, pos, rn FROM r WHERE nd >= 2),
    winner AS (
        SELECT DISTINCT doc_id, p
        FROM dup, LATERAL unnest(range(pos, pos + {_SPAN_WORDS})) v(p)
        WHERE rn = 1
    ),
    loser AS (
        SELECT DISTINCT doc_id, p
        FROM dup, LATERAL unnest(range(pos, pos + {_SPAN_WORDS})) v(p)
        WHERE rn > 1
    ),
    removed AS (SELECT doc_id, p FROM loser EXCEPT SELECT doc_id, p FROM winner),
    tok AS (
        SELECT doc_id, CAST(u.p AS INTEGER) AS p, toks[u.p] AS tok
        FROM t, LATERAL unnest(range(1, len(toks) + 1)) u(p)
    ),
    kept AS (
        SELECT tok.doc_id, tok.p, tok.tok
        FROM tok LEFT JOIN removed USING (doc_id, p)
        WHERE removed.p IS NULL
    ),
    kc AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY p) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           CAST(len(t.toks) - COALESCE(kc.n_kept, 0) AS BIGINT)
               AS n_removed_tokens,
           COALESCE(kc.clean_text, '') AS clean_text,
           ROUND(CAST(COALESCE(kc.n_kept, 0) AS DOUBLE) / len(t.toks), 6)
               AS retained_ratio
    FROM t LEFT JOIN kc USING (doc_id)
    """,
)
def crossdoc_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite half of substring dedup (Lee et al. 2022 §4:
    "remove all but one occurrence"): for every cross-document
    duplicated span, the corpus-wide first occurrence — elected by
    (doc_id, position) — keeps its text; every other occurrence's
    tokens are removed, EXCEPT tokens also covered by a winning span
    of the same document (winner protection makes removal
    unambiguous when spans overlap).  Returns each document's cleaned
    text with removal counts — mirror pages collapse to empty text,
    partially-syndicated pages keep their original prose.

    Scale shape: everything is the report pass (slim hash shuffle,
    window election) plus one corpus-width ``posexplode`` for
    reassembly — token rows are (doc_id, int, word) and the rebuild
    is ONE hash aggregate on doc_id, the same reassembly cost
    ``segment_dedup`` already pays.  The winner/loser position sets
    explode only duplicated occurrences, and the removed-set
    anti-join keys on (doc_id, p) ints.  Election and tie-break run
    on the portable hash + (doc_id, pos) in both engines, so the
    kept/removed partition is bit-identical."""
    return crossdoc_span_trim_frame(
        spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    )


def crossdoc_span_trim_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of :func:`crossdoc_span_trim` — property-tested
    against a plain-Python reference in tests/test_properties.py."""
    k = _SPAN_WORDS
    d = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("toks")
    )
    base = d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    sp = _span_rows(d)
    r = sp.select(
        "doc_id",
        "pos",
        F.row_number()
        .over(Window.partitionBy("h").orderBy("doc_id", "pos"))
        .alias("rn"),
        F.size(F.collect_set("doc_id").over(Window.partitionBy("h"))).alias("nd"),
    )
    pos_exp = (
        r.filter(F.col("nd") >= 2)
        .select(
            "doc_id",
            "rn",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("p"),
        )
    )
    winner = pos_exp.filter(F.col("rn") == 1).select("doc_id", "p").distinct()
    loser = pos_exp.filter(F.col("rn") > 1).select("doc_id", "p").distinct()
    removed = loser.join(winner, ["doc_id", "p"], "left_anti")
    tok = d.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = tok.join(removed, ["doc_id", "p"], "left_anti")
    kc = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0))
    return base.join(kc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - n_kept).cast("bigint").alias("n_removed_tokens"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.round(n_kept.cast("double") / F.col("n_tokens"), 6).alias("retained_ratio"),
    )


#: Heavy-hitter span report depth.
_SPAN_TOPK = 20


@register(
    "crossdoc_span_heavy_hitters",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split({NORMALIZE_TEXT_SQL("text")}, ' ') AS toks
        FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(toks[u.i:u.i+{_SPAN_WORDS - 1}], ' ') AS span
        FROM t, LATERAL unnest(
                 range(1, greatest(len(toks) - {_SPAN_WORDS} + 1, 0) + 1)) u(i)
    ),
    agg AS (
        SELECT span,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               COUNT(*) AS n_occurrences
        FROM sp GROUP BY span
        HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT span, n_docs, n_occurrences
    FROM agg
    ORDER BY n_docs DESC, n_occurrences DESC, span
    LIMIT {_SPAN_TOPK}
    """,
)
def crossdoc_span_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate stoplist: the top-``_SPAN_TOPK`` k-word spans
    shared across the most documents, with document and occurrence
    counts — what an operator reads to decide which templates to
    strip at the SOURCE (crawler/extractor) instead of paying
    ``crossdoc_span_trim`` for them forever.  Completes the span
    family: report (where is duplication) → heavy hitters (what text
    is it) → trim (remove it) → ``DedupIndex.probe_spans`` (keep it
    out at admission).

    Scale shape: one hash aggregate on the span string (map-side
    partials collapse each doc's repeats early) and a
    TakeOrderedAndProject top-k — no global sort, no window.  The
    span *text* shuffles here (unlike the hash-only report/trim
    passes) because the text IS the output; the ≥2-docs filter
    happens in the aggregate, so the top-k heap only sees genuinely
    shared spans."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("toks")
    )
    sp = _span_texts(d).select("doc_id", "span")
    agg = (
        sp.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        agg.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span"))
        .limit(_SPAN_TOPK)
        .select("span", "n_docs", "n_occurrences")
    )


#: Hash-of-key split seed for the document-level 80/10/10 split the
#: leakage audit runs against (the documents twin of
#: encoding.dataset_split_assignment's entity split).
_LEAK_SPLIT_SEED = 17
_LEAK_TRAIN_END = 80
_LEAK_VAL_END = 90

_LEAK_SPLIT_SQL = f"""
        SELECT doc_id,
               CASE
                   WHEN {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _LEAK_SPLIT_SEED)}
                        % 100 < {_LEAK_TRAIN_END} THEN 'train'
                   WHEN {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _LEAK_SPLIT_SEED)}
                        % 100 < {_LEAK_VAL_END} THEN 'val'
                   ELSE 'test'
               END AS split
        FROM documents
"""


@register(
    "split_neardup_leakage",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    splits AS ({_LEAK_SPLIT_SQL}),
    tb AS (
        SELECT b.* FROM bands b JOIN splits s USING (doc_id)
        WHERE s.split = 'train'
    ),
    eb AS (
        SELECT b.doc_id, b.band, b.h1, b.h2, s.split
        FROM bands b JOIN splits s USING (doc_id)
        WHERE s.split <> 'train'
    ),
    cand AS (
        SELECT DISTINCT e.doc_id AS eval_doc, e.split, t.doc_id AS train_doc
        FROM eb e JOIN tb t
          ON e.band = t.band AND e.h1 = t.h1 AND e.h2 = t.h2
    ),
    ver AS (
        SELECT c.eval_doc, c.split, c.train_doc,
               ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)} AS est_raw
        FROM cand c
        JOIN sig x ON c.eval_doc = x.doc_id
        JOIN sig y ON c.train_doc = y.doc_id
        WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)}
              >= {_EST_JACCARD_THRESHOLD}
    )
    SELECT eval_doc AS doc_id, split,
           train_doc AS match_train_doc,
           ROUND(est_raw, 6) AS est_jaccard
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY eval_doc ORDER BY est_raw DESC, train_doc
        ) AS rn FROM ver
    ) WHERE rn = 1
    """,
)
def split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: every val/test document that
    near-duplicates a TRAIN document is contamination — its eval loss
    is memorization, not generalization — so the audit surfaces each
    leaked eval doc with its best-matching train doc (highest
    signature-estimated Jaccard, smallest train doc on ties).  This is
    the cross-SPLIT complement of ``split_leakage_audit`` (which
    checks entity-level straddle): exact-key splits can still leak
    through *near*-duplicate text, which only the LSH layer catches.

    Scale shape: split assignment is a map-side hash projection; the
    probe is the banded LSH join RESTRICTED to train×eval — candidate
    cost is band-bucket bounded and falls further because only ~20%
    of the corpus sits on the probe side.  Signature verification and
    the best-match window run on the (tiny) verified-candidate set.
    Same shape as ``dedup_incremental`` with the standing side =
    train split, probe side = eval splits."""
    sig = _corpus_signatures(spark, sf_dir)
    bands = minhash_band_frame(sig)
    bucket = (
        portable_hash64(F.col("doc_id").cast("string"), seed=_LEAK_SPLIT_SEED) % 100
    )
    splits = bands.withColumn(
        "split",
        F.when(bucket < _LEAK_TRAIN_END, "train")
        .when(bucket < _LEAK_VAL_END, "val")
        .otherwise("test"),
    )
    tb = splits.filter(F.col("split") == "train").drop("split").alias("t")
    eb = splits.filter(F.col("split") != "train").alias("e")
    cand = (
        eb.join(
            tb,
            (F.col("e.band") == F.col("t.band"))
            & (F.col("e.h1") == F.col("t.h1"))
            & (F.col("e.h2") == F.col("t.h2")),
        )
        .select(
            F.col("e.doc_id").alias("eval_doc"),
            F.col("e.split").alias("split"),
            F.col("t.doc_id").alias("train_doc"),
        )
        .distinct()
    )
    x = sig.select(
        [F.col("doc_id").alias("eval_doc")]
        + [F.col(f"sig_{j}").alias(f"xa_{j}") for j in range(_MINHASH_K)]
    )
    y = sig.select(
        [F.col("doc_id").alias("train_doc")]
        + [F.col(f"sig_{j}").alias(f"yb_{j}") for j in range(_MINHASH_K)]
    )
    agree = sum(
        F.when(F.col(f"xa_{j}") == F.col(f"yb_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    ver = (
        cand.join(x, "eval_doc")
        .join(y, "train_doc")
        .withColumn("est_raw", agree / F.lit(float(_MINHASH_K)))
        .filter(F.col("est_raw") >= _EST_JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("eval_doc").orderBy(F.desc("est_raw"), F.asc("train_doc"))
    return (
        ver.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("eval_doc").alias("doc_id"),
            "split",
            F.col("train_doc").alias("match_train_doc"),
            F.round(F.col("est_raw"), 6).alias("est_jaccard"),
        )
    )


def minhash_band_frame(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into its LSH band rows
    ``(doc_id, band, h1, h2)`` — the join key of every banded probe."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"sig_{b * _MINHASH_BAND_ROWS}").alias("h1"),
                F.col(f"sig_{b * _MINHASH_BAND_ROWS + 1}").alias("h2"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.h1", "bs.h2"
    )


class DedupIndex:
    """Persisted dedup state for continuous ingestion — the standing
    artifact :func:`dedup_incremental`'s plan assumes ("at 100 TB
    those are persisted artifacts of prior ingests").  Mirrors the
    ``VectorIndex`` pattern (similarity.py): build once from the
    standing corpus, probe every arriving batch at O(batch) cost, and
    fold admitted documents back in — the corpus itself is never
    re-scanned, re-shingled, or self-joined.

    Layout under ``path`` — every write lands in an
    ``ingest=<id>`` subdirectory of its table:

    * ``hashes/ingest=<id>/``      — ``(text_hash, doc_id)``: exact-dup probe.
    * ``bands/ingest=<id>/band=<b>/`` — ``(h1, h2, doc_id)``: LSH buckets.
    * ``signatures/ingest=<id>/``  — ``(doc_id, sig_0..sig_{k-1})``.
    * ``shingle_df/ingest=<id>/``  — ``(shingle, df)`` increments,
      aggregated on read, so the frequent-shingle cap reflects the
      STANDING corpus (batch-local frequencies would let boilerplate
      sneak past the cap one batch at a time).
    * ``spans/ingest=<id>/``       — distinct ``(h, doc_id)`` k-word
      span hashes: the substring-level probe (:meth:`probe_spans`).

    The per-ingest layout is what makes the index safe under
    re-delivery (the streaming admission pipeline's ``foreachBatch``
    can re-run a micro-batch after a crash):

    * :meth:`add` with the same ``ingest_id`` OVERWRITES that ingest's
      subdirectories only — a re-run converges to the same state
      instead of appending duplicates;
    * :meth:`probe` can exclude one ingest id, so a re-run probes
      against everything EXCEPT its own partial leftovers and
      reproduces the original verdicts.

    Periodic compaction of old ingest dirs is ordinary parquet
    housekeeping, same as any append-only metric table.
    """

    _TABLES = ("hashes", "bands", "signatures", "shingle_df", "spans")

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # -- construction ------------------------------------------------

    @staticmethod
    def _normalize(docs: DataFrame) -> DataFrame:
        return docs.select("doc_id", normalize_text(F.col("text")).alias("norm"))

    @classmethod
    def build(cls, docs: DataFrame, path: str) -> "DedupIndex":
        """Build the standing index from ``docs (doc_id, text)``."""
        idx = cls(docs.sparkSession, path)
        idx._write_artifacts(cls._normalize(docs), ingest_id="base")
        return idx

    def _read(self, table: str, exclude_ingest: str | None = None) -> DataFrame:
        """Read a standing table across all ingests (partition
        discovery surfaces ``ingest``; excluding one id prunes that
        partition directory from the scan entirely).

        Cold-start guard: a zero-row ``partitionBy`` write (the
        ``bands`` table under an empty build, which the streaming
        admission pipeline explicitly supports) leaves a directory
        with a ``_SUCCESS`` marker but NO schema-bearing parquet file
        — Spark only writes metadata-only files for non-partitioned
        empty writes — so schema inference fails.  Fall back to a
        typed empty frame, taking ``doc_id``'s type from the
        ``signatures`` table (non-partitioned, always schema-bearing
        after any build, even an empty one).

        The fallback is gated on ``table == 'bands'`` AND the table
        directory actually existing: ``bands`` is the only partitioned
        standing table (the only one that can legitimately be
        schema-less), and a genuinely missing/deleted directory must
        stay a loud error — silently substituting an empty frame
        there would turn near-dup detection off instead of failing."""
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(f"{self.path}/{table}")
        except AnalysisException:
            if table != "bands" or not self._table_dir_exists(table):
                raise
            df = self._empty_bands()
        if exclude_ingest is not None:
            df = df.filter(F.col("ingest") != exclude_ingest)
        return df.drop("ingest")

    def _table_dir_exists(self, table: str) -> bool:
        """Filesystem-portable existence probe (Hadoop FS API, so it
        holds for HDFS/S3 paths, not just local disk)."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{table}")
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def _empty_bands(self) -> DataFrame:
        """Typed empty stand-in for a schema-less ``bands`` directory
        (the only partitioned standing table)."""
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        doc_id_type = self.spark.read.parquet(f"{self.path}/signatures").schema[
            "doc_id"
        ].dataType
        schema = StructType(
            [
                StructField("doc_id", doc_id_type),
                StructField("band", IntegerType()),
                StructField("h1", LongType()),
                StructField("h2", LongType()),
                StructField("ingest", StringType()),
            ]
        )
        return self.spark.createDataFrame([], schema)

    def _shingle_df(self, exclude_ingest: str | None = None) -> DataFrame:
        return (
            self._read("shingle_df", exclude_ingest)
            .groupBy("shingle")
            .agg(F.sum("df").alias("df"))
        )

    def _signatures_of(self, nd: DataFrame, exclude_ingest: str | None = None) -> DataFrame:
        """Signatures under the STANDING corpus's frequent-shingle cap
        (plus the probe frame's own contribution, so a batch that is
        itself wall-to-wall boilerplate cannot evade the cap)."""
        sh = _shingles(nd)
        own = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        frequent = (
            self._shingle_df(exclude_ingest)
            .unionByName(own)
            .groupBy("shingle")
            .agg(F.sum("df").alias("df"))
            .filter(F.col("df") > _MAX_SHINGLE_DF)
            .select("shingle")
        )
        return minhash_signatures(sh.join(frequent, "shingle", "left_anti"))

    def _write_artifacts(self, nd: DataFrame, ingest_id: str) -> None:
        nd = nd.cache()
        nd.select(F.md5("norm").alias("text_hash"), "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{self.path}/hashes/ingest={ingest_id}")
        # df increment first: signatures of the SAME write exclude this
        # ingest's standing rows, so a re-run sees a consistent view
        _shingles(nd).groupBy("shingle").agg(F.count("*").alias("df")).write.mode(
            "overwrite"
        ).parquet(f"{self.path}/shingle_df/ingest={ingest_id}")
        sig = self._signatures_of(nd, exclude_ingest=ingest_id).cache()
        sig.write.mode("overwrite").parquet(f"{self.path}/signatures/ingest={ingest_id}")
        minhash_band_frame(sig).write.mode("overwrite").partitionBy("band").parquet(
            f"{self.path}/bands/ingest={ingest_id}"
        )
        sig.unpersist()
        # Substring-level state: the distinct (span-hash, doc) pairs of
        # this ingest — membership feeds probe_spans, the doc_id keeps
        # provenance.  The largest standing table (≈ one row per
        # token), which is inherent to substring dedup: Lee et al.'s
        # suffix arrays carry the same order of state.
        _span_rows(nd.select("doc_id", F.split("norm", " ").alias("toks"))).select(
            "h", "doc_id"
        ).distinct().write.mode("overwrite").parquet(
            f"{self.path}/spans/ingest={ingest_id}"
        )
        nd.unpersist()

    # -- probe / ingest ----------------------------------------------

    def probe(
        self,
        batch: DataFrame,
        exclude_ingest: str | None = None,
        *,
        eager: bool = True,
    ) -> DataFrame:
        """Verdict per batch doc — ``dup_exact`` / ``dup_near`` /
        ``admit`` with the smallest matching corpus doc_id — against
        the PERSISTED tables only.  Batch artifacts are computed
        map-side; every join is batch-vs-standing (broadcast when the
        batch is small), never corpus-vs-corpus.  ``exclude_ingest``
        masks one ingest's rows — a crashed-and-redelivered batch
        probes against everything except its own partial leftovers.

        ``eager`` (default) materializes the verdict frame via
        ``localCheckpoint`` and releases the probe-internal caches
        before returning: every micro-batch is a DISTINCT logical
        plan, so in a long-running admission loop lazily-returned
        caches would pile up in the CacheManager (one entry per
        batch, never evicted) until executor-memory LRU pressure.
        The checkpointed blocks themselves are reference-counted by
        the ContextCleaner and vanish when the returned frame is
        garbage-collected.  Pass ``eager=False`` for a lazy plan
        (plan inspection / tests); the caller then owns the two
        cache entries this probe registers.
        """
        nd = self._normalize(batch).cache()
        hashes = self._read("hashes", exclude_ingest)
        exact = (
            nd.select("doc_id", F.md5("norm").alias("text_hash"))
            .join(hashes.withColumnRenamed("doc_id", "c_id"), "text_hash")
            .groupBy("doc_id")
            .agg(F.min("c_id").alias("exact_match"))
        )
        bsig = self._signatures_of(nd, exclude_ingest).cache()
        cband = self._read("bands", exclude_ingest)
        cand = (
            minhash_band_frame(bsig)
            .withColumnsRenamed({"doc_id": "bd"})
            .join(
                cband.withColumnsRenamed({"doc_id": "cd"}),
                ["band", "h1", "h2"],
            )
            .select("bd", "cd")
            .distinct()
        )
        csig = self._read("signatures", exclude_ingest)
        x = bsig.select(
            [F.col("doc_id").alias("bd")]
            + [F.col(f"sig_{j}").alias(f"xa_{j}") for j in range(_MINHASH_K)]
        )
        y = csig.select(
            [F.col("doc_id").alias("cd")]
            + [F.col(f"sig_{j}").alias(f"yb_{j}") for j in range(_MINHASH_K)]
        )
        agree = sum(
            F.when(F.col(f"xa_{j}") == F.col(f"yb_{j}"), 1).otherwise(0)
            for j in range(_MINHASH_K)
        )
        near = (
            cand.join(x, "bd")
            .join(y, "cd")
            .filter(agree / F.lit(float(_MINHASH_K)) >= _EST_JACCARD_THRESHOLD)
            .groupBy(F.col("bd").alias("doc_id"))
            .agg(F.min("cd").alias("near_match"))
        )
        out = (
            nd.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("exact_match").isNotNull(), "dup_exact")
                .when(F.col("near_match").isNotNull(), "dup_near")
                .otherwise("admit")
                .alias("verdict"),
                F.coalesce("exact_match", "near_match").alias("match_doc_id"),
            )
        )
        if eager:
            out = out.localCheckpoint(eager=True)
            nd.unpersist()
            bsig.unpersist()
        return out

    def probe_spans(
        self, batch: DataFrame, exclude_ingest: str | None = None
    ) -> DataFrame:
        """Substring-level probe: per batch doc, how many of its
        k-word spans already exist in the STANDING corpus and what
        fraction of its tokens those shared spans cover — the
        batch-vs-corpus form of :func:`dedup_crossdoc_spans` (same
        output schema), for trimming syndicated boilerplate at
        admission time without ever re-scanning the corpus.

        Scale shape: batch spans are a map-side expansion; the ONE
        join is a semi-join of batch span hashes against the standing
        distinct-hash set (hash-partitioned longs), and the rollup is
        the shared one-aggregate coverage pass.  Batch-internal
        duplicates are intentionally NOT counted — that is
        :func:`dedup_crossdoc_spans`'s intra-batch job; the probe
        answers only "seen in the corpus before?", exactly like
        :meth:`probe`."""
        nd = self._normalize(batch)
        d = nd.select("doc_id", F.split("norm", " ").alias("toks"))
        base = d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        standing = self._read("spans", exclude_ingest).select("h").distinct()
        dup = _span_rows(d).join(standing, "h", "left_semi").select("doc_id", "pos")
        return _span_report(base, dup)

    def add(self, docs: DataFrame, ingest_id: str | None = None) -> None:
        """Fold admitted documents into the standing index under
        ``ingest_id`` (a fresh uuid when omitted).  Per-ingest cost is
        O(batch); other ingests' directories are never touched, and
        re-running the same ingest_id overwrites in place instead of
        duplicating."""
        if ingest_id is None:
            ingest_id = uuid.uuid4().hex[:12]
        self._write_artifacts(self._normalize(docs), ingest_id)

    def compact(self) -> None:
        """Fold every ingest into a fresh consolidated generation:
        read each standing table across all ingests (pre-aggregating
        the shingle-df increments), write it as a single
        ``ingest=compact-<n>`` directory, then drop the old ingest
        dirs.  Concurrency contract: ``compact()`` must be externally
        serialized against ``add()`` AND against ``probe()`` of the
        same index.  For the hash/band/signature tables a mid-compact
        reader is harmless (old + compacted doubles rows, but those
        matches are set-semantics); the ``shingle_df`` table is NOT —
        a reader that aggregates old + compacted increments sees
        doubled df counts, which can push shingles over
        ``_MAX_SHINGLE_DF`` for the BATCH's signatures while the
        standing signatures were built under the original cap, and
        such asymmetric signatures can LOWER the estimated Jaccard
        and flip a ``dup_near`` verdict to ``admit``.  The streaming
        admission loop satisfies this for free: ``foreachBatch``
        serializes everything on one driver thread."""
        import shutil as _sh

        root = self.path
        gen = f"compact-{uuid.uuid4().hex[:8]}"
        olds = {
            t: [
                d
                for d in os.listdir(f"{root}/{t}")
                if d.startswith("ingest=")
            ]
            for t in self._TABLES
            if os.path.isdir(f"{root}/{t}")
        }
        self._shingle_df().write.mode("overwrite").parquet(
            f"{root}/shingle_df/ingest={gen}"
        )
        self._read("hashes").write.mode("overwrite").parquet(
            f"{root}/hashes/ingest={gen}"
        )
        self._read("signatures").write.mode("overwrite").parquet(
            f"{root}/signatures/ingest={gen}"
        )
        self._read("bands").write.mode("overwrite").partitionBy("band").parquet(
            f"{root}/bands/ingest={gen}"
        )
        # distinct() collapses (h, doc_id) pairs a redelivered ingest
        # may have duplicated across generations.  The isdir guard
        # matches the olds listing above: an index persisted before
        # the spans table existed compacts its other tables cleanly.
        if os.path.isdir(f"{root}/spans"):
            self._read("spans").distinct().write.mode("overwrite").parquet(
                f"{root}/spans/ingest={gen}"
            )
        for t, dirs in olds.items():
            for d in dirs:
                _sh.rmtree(f"{root}/{t}/{d}", ignore_errors=True)


_CONTAINMENT_MIN = 0.8


@register(
    "shingle_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shf GROUP BY 1
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shf a JOIN shf b ON a.shingle = b.shingle
        WHERE a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common, s.n_shingles AS n_a,
           CAST(ROUND(p.n_common * 1.0 / s.n_shingles, 6) AS DOUBLE)
               AS containment
    FROM pairs p JOIN sizes s ON p.doc_a = s.doc_id
    WHERE p.n_common * 1.0 / s.n_shingles >= {_CONTAINMENT_MIN}
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-SUPERSET detection: pairs where ≥80% of doc_a's
    shingles also appear in doc_b — the quote/excerpt/expanded-copy
    relation that symmetric Jaccard misses (a short excerpt of a long
    page has low Jaccard but containment ≈ 1).  Broder's containment
    measure, the shape CCNet/Dolma-style pipelines use to drop pages
    that are substrings of syndicated masters.

    Scale: identical blocking to :func:`dedup_ngram_jaccard` — pair
    expansion happens ONLY through the inverted shingle lists, and the
    ``_MAX_SHINGLE_DF`` cap bounds every list, so the self-join output
    is O(corpus × cap), never all-pairs.  One extra broadcast-size
    join stitches per-doc shingle counts back on."""
    return containment_pairs_frame(
        _normalized_docs(spark, sf_dir).withColumnRenamed("norm", "text")
    )


def containment_pairs_frame(docs: DataFrame) -> DataFrame:
    """Frame-level form of :func:`shingle_containment_pairs` over
    ``docs (doc_id, text)`` — text is shingled as-is (callers
    normalize first if wanted)."""
    sh = _frequent_shingle_filter(
        _shingles(docs.select("doc_id", F.col("text").alias("norm")))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .filter(
            F.col("n_common") / F.col("n_shingles") >= F.lit(_CONTAINMENT_MIN)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("n_shingles").alias("n_a"),
            F.round(F.col("n_common") / F.col("n_shingles"), 6)
            .cast("double")
            .alias("containment"),
        )
    )


@register(
    "dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES},
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY 1
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST(cluster_size * COUNT(*) - COUNT(*) AS BIGINT) AS n_removable
    FROM sizes
    GROUP BY 1
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance summary of the duplicate-cluster structure: how many
    clusters of each size, the documents they hold, and how many a
    keep-one-per-cluster pass would remove — the number a corpus data
    card reports next to the dedup rate (cf. Lee et al. 2022 §4's
    cluster-size analysis).  Cost on top of the component labels: two
    tiny aggregates over |docs| and |clusters| rows."""
    sizes = (
        dedup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("bigint").alias("n_docs"),
        (F.col("cluster_size") * F.count("*") - F.count("*"))
        .cast("bigint")
        .alias("n_removable"),
    )


@register(
    "lsh_tuning_report",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id
    ),
    ag AS (
        SELECT c.doc_a, c.doc_b, ({_MINHASH_AGREE_SQL}) AS agree
        FROM cand c
        JOIN sig x ON c.doc_a = x.doc_id
        JOIN sig y ON c.doc_b = y.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    com AS (
        SELECT c.doc_a, c.doc_b, COUNT(s2.shingle) AS n_common
        FROM cand c
        JOIN shf s1 ON s1.doc_id = c.doc_a
        LEFT JOIN shf s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT ag.agree,
               CAST(com.n_common AS DOUBLE)
                   / (x.n + y.n - com.n_common) AS exact_j
        FROM ag
        JOIN com ON ag.doc_a = com.doc_a AND ag.doc_b = com.doc_b
        JOIN sz x ON ag.doc_a = x.doc_id
        JOIN sz y ON ag.doc_b = y.doc_id
    )
    SELECT ROUND(agree / {float(_MINHASH_K)}, 6) AS est_jaccard,
           COUNT(*) AS n_pairs,
           ROUND(AVG(exact_j), 6) AS mean_exact_jaccard,
           ROUND(AVG(ABS(agree / {float(_MINHASH_K)} - exact_j)), 6)
               AS mean_abs_err,
           agree / {float(_MINHASH_K)} >= {_EST_JACCARD_THRESHOLD} AS detected
    FROM scored
    GROUP BY agree
    """,
)
def lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point calibration — the S-curve report a corpus
    owner reads before fixing the (bands, rows, threshold) config:
    for EVERY band-colliding candidate pair (no admission filter),
    bucket by the signature-agreement estimate and compare against
    exact shingle Jaccard.  Per estimate level: pair count, mean
    exact similarity, mean absolute estimation error, and whether the
    current threshold admits the level — making both false-positive
    mass (high-estimate/low-exact) and threshold placement visible.

    Scale shape: candidates come only from band buckets (never
    all-pairs); the exact-Jaccard verification joins shingles against
    the CANDIDATE pair list (cost ∝ |candidates| × shingles/doc, the
    same bound as the admission pipeline's verify step); the report
    aggregate collapses to ≤ k+1 rows."""
    sh = _corpus_shingles(spark, sf_dir)
    sig = _corpus_signatures(spark, sf_dir)
    # r14: spooled — the candidate pair frame feeds BOTH the
    # signature-agreement join and the exact-verify join (the band
    # self-join otherwise executed twice per run).
    cand = _lsh_candidate_pairs(sig).localCheckpoint()
    x = sig.select(
        [F.col("doc_id").alias("doc_a")]
        + [F.col(f"sig_{j}").alias(f"xa_{j}") for j in range(_MINHASH_K)]
    )
    y = sig.select(
        [F.col("doc_id").alias("doc_b")]
        + [F.col(f"sig_{j}").alias(f"yb_{j}") for j in range(_MINHASH_K)]
    )
    agree = sum(
        F.when(F.col(f"xa_{j}") == F.col(f"yb_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    ag = cand.join(x, "doc_a").join(y, "doc_b").select(
        "doc_a", "doc_b", agree.alias("agree")
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    com = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"], "left")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(shb["doc_b"]).alias("n_common"))
    )
    scored = (
        ag.join(com, ["doc_a", "doc_b"])
        .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "exact_j",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )
    est = F.col("agree") / float(_MINHASH_K)
    return scored.groupBy("agree").agg(
        F.round(F.first(est), 6).alias("est_jaccard"),
        F.count("*").alias("n_pairs"),
        F.round(F.avg("exact_j"), 6).alias("mean_exact_jaccard"),
        F.round(F.avg(F.abs(est - F.col("exact_j"))), 6).alias("mean_abs_err"),
        F.first(est >= _EST_JACCARD_THRESHOLD).alias("detected"),
    ).drop("agree")


@register(
    "corpus_ngram_novelty",
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
    ),
    fs AS (
        SELECT doc_id, shingle,
               MIN(doc_id) OVER (PARTITION BY shingle) AS first_doc
        FROM sh
    )
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_rate
    FROM fs
    GROUP BY doc_id
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (the curation signal behind
    "emit-order dedup": how much of each document is text the corpus
    has not seen in any earlier document, by doc_id order).  A doc's
    novelty_rate near 0 marks templated/syndicated content even when
    no single pair crosses a dedup threshold — the complement of the
    pairwise passes above.

    Scale shape: ONE shuffle on the shingle (the window's partition
    key) computes every shingle's first-seen doc; the per-doc
    aggregate is the only other exchange.  No joins, no pair
    expansion — cost is linear in corpus shingles, the same bound as
    the contamination scan."""
    sh = _shingles(_normalized_docs(spark, sf_dir))
    first_doc = F.min("doc_id").over(Window.partitionBy("shingle"))
    fs = sh.select("doc_id", first_doc.alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return fs.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(novel).alias("n_novel"),
        F.round(F.sum(novel) / F.count("*").cast("double"), 6).alias(
            "novelty_rate"
        ),
    )


#: Hard-negative mining: band-colliding pairs verified BELOW the
#: exact-Jaccard dup threshold, ranked hardest (highest agreement)
#: first.  The cutoff is _JACCARD_THRESHOLD (0.5), NOT the LSH
#: admission floor 0.25: a band collision structurally implies 2 of 8
#: slots agree (est >= 0.25), so the complement of the floor is empty
#: by construction — the meaningful negatives live in [0.25, 0.5).
_HARDNEG_MAX_EST = _JACCARD_THRESHOLD
_HARDNEG_TOPK = 50


@register(
    "hard_negative_pairs",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(({_MINHASH_AGREE_SQL}) AS BIGINT) AS n_agree,
           ROUND(({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)}, 6)
               AS est_jaccard
    FROM cand c
    JOIN sig x ON c.doc_a = x.doc_id
    JOIN sig y ON c.doc_b = y.doc_id
    WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)}
          < {_HARDNEG_MAX_EST}
    ORDER BY ({_MINHASH_AGREE_SQL}) DESC, c.doc_a, c.doc_b
    LIMIT {_HARDNEG_TOPK}
    """,
)
def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative pair mining for contrastive/embedding training:
    document pairs that COLLIDE in an LSH band (lexically similar
    enough to share a bucket — the blocker's own notion of "looks
    alike") yet score BELOW the near-dup admission threshold on
    signature agreement.  These are exactly the "similar but not
    duplicate" pairs a bi-encoder needs as hard negatives (random
    negatives are trivially separable; near-dups would be false
    negatives), and they fall out of the SAME banding pass the dedup
    pipeline already runs.  Cutoff: est < 0.5 (the exact-Jaccard dup
    threshold) — NOT the 0.25 LSH floor, whose complement is
    structurally empty (any band collision already agrees on 2 of 8
    slots), so the mined negatives live in the est ∈ [0.25, 0.5)
    "similar-but-distinct" band.

    Determinism: signatures/bands are portable-MD5; agreement is an
    exact integer; ranking ties break on (doc_a, doc_b).

    Scale shape: identical to dedup_minhash_lsh — band equi-join
    (never all-pairs, hot buckets bounded by the rare-shingle DF
    cap), signature table spooled once, TakeOrdered top-{_HARDNEG_TOPK}."""
    sig = _corpus_signatures(spark, sf_dir)
    cand = _lsh_candidate_pairs(sig)
    x = sig.select(
        [F.col("doc_id").alias("doc_a")]
        + [F.col(f"sig_{j}").alias(f"xa_{j}") for j in range(_MINHASH_K)]
    )
    y = sig.select(
        [F.col("doc_id").alias("doc_b")]
        + [F.col(f"sig_{j}").alias(f"yb_{j}") for j in range(_MINHASH_K)]
    )
    agree = sum(
        F.when(F.col(f"xa_{j}") == F.col(f"yb_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("n_agree", agree.cast("bigint"))
        .filter(F.col("n_agree") / float(_MINHASH_K) < _HARDNEG_MAX_EST)
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.round(F.col("n_agree") / float(_MINHASH_K), 6).alias(
                "est_jaccard"
            ),
        )
        .orderBy(F.desc("n_agree"), "doc_a", "doc_b")
        .limit(_HARDNEG_TOPK)
    )


@register(
    "dup_cluster_language_purity",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES},
    sized AS (
        SELECT l.cluster_id, d.lang,
               COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
        FROM lbl l JOIN documents d ON d.doc_id = l.doc_id
    ),
    per_cluster AS (
        SELECT cluster_id,
               CAST(MAX(cluster_size) AS BIGINT) AS cluster_size,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM sized WHERE cluster_size >= 2
        GROUP BY 1
    )
    SELECT n_langs,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6)
               AS cluster_share
    FROM per_cluster GROUP BY 1
    """,
)
def dup_cluster_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity of duplicate clusters: for every multi-doc
    cluster, how many distinct languages its members span — clusters
    that cross languages are TRANSLATION pairs / boilerplate templates
    rather than re-crawls, and a dedup policy that keeps one canonical
    doc per cluster would silently delete translations a multilingual
    mixture wants to keep.  This census (n_langs → cluster counts,
    doc counts, shares) is the governance readout that decides whether
    cluster-level removal needs a language guard.

    Determinism: labels come from the exact CC algorithm (oracle: the
    same recursive-CTE reachability every dedup_clusters check uses);
    tallies exact; one IEEE share divide.

    Scale shape: reuses the per-(session, sf) memoized cluster-label
    frame (_doc_cluster_labels — zero marginal component cost after
    any dedup query has run), one broadcast-sized join to doc langs
    (label frame is |corpus| slim rows; the join is keyed on doc_id),
    then bounded aggregates."""
    labels = _doc_cluster_labels(spark, sf_dir).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sized = labels.join(langs, "doc_id").select("cluster_id", "lang")
    per_cluster = (
        sized.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .filter(F.col("cluster_size") >= 2)
    )
    agg = per_cluster.groupBy("n_langs").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )
    w = Window.partitionBy()
    return agg.select(
        "n_langs",
        "n_clusters",
        "n_docs",
        F.round(
            F.col("n_clusters").cast("double") / F.sum("n_clusters").over(w), 6
        ).alias("cluster_share"),
    )


@register(
    "dup_pair_source_matrix",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES},
    pm AS (
        -- SELECT DISTINCT, not plain e0: inside WITH RECURSIVE,
        -- DuckDB (1.0) executes e0's UNION with ALL semantics, so an
        -- edge found by BOTH the exact-hash and LSH paths appears
        -- twice (invisible to the label/reachability consumers, but
        -- fatal to a counting consumer — caught by the sf0.1 sweep,
        -- where 8 exact pairs also band-collide).
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               COUNT(*) AS n_pairs
        FROM (SELECT DISTINCT a, b FROM e0) j
        JOIN documents da ON j.a = da.doc_id
        JOIN documents db ON j.b = db.doc_id
        GROUP BY 1, 2
    ),
    tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
    SELECT pm.source_a, pm.source_b,
           CAST(pm.n_pairs AS BIGINT) AS n_dup_pairs,
           CAST(ta.n_docs AS BIGINT) AS n_docs_a,
           CAST(tb.n_docs AS BIGINT) AS n_docs_b,
           pm.source_a <> pm.source_b AS cross_source,
           FLOOR(CAST(pm.n_pairs AS DOUBLE)
                 / (CAST(ta.n_docs AS DOUBLE) * tb.n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS pair_density
    FROM pm
    JOIN tot ta ON pm.source_a = ta.source
    JOIN tot tb ON pm.source_b = tb.source
    """,
)
def dup_pair_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which sources duplicate WHICH
    — every duplicate-relation edge (exact-hash stars ∪ MinHash-LSH
    near-dups, the [[dedup_clusters]] edge set) attributed to its
    endpoint sources, as an unordered source-pair census with pair
    counts and density (pairs per doc-pair).  The curation table
    behind source-level decisions [[dedup_rate_by_lang]]'s per-slice
    rates cannot express: a mirror pair shows up as a dense
    cross-source cell (drop one side entirely), while within-source
    boilerplate shows on the diagonal (dedup inside, keep the
    source).

    Determinism: edges and counts are exact; LEAST/GREATEST on source
    names canonicalizes the unordered pair identically in both
    engines; density is one fixed divide via the floor ladder.

    Scale shape: reuses the LSH banding machinery (bucketed
    candidates, never all-pairs); the source attribution is two
    broadcast-able joins of the slim edge list against the (doc_id,
    source) projection; the matrix is |sources|²-bounded."""
    edges = duplicate_edges(spark, sf_dir)
    src = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )
    j = (
        edges.join(
            src.select(
                F.col("doc_id").alias("a"), F.col("source").alias("sa")
            ),
            "a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("b"), F.col("source").alias("sb")
            ),
            "b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )
    tot = src.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        j.join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_a"),
                    F.col("n_docs").alias("n_docs_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_b"),
                    F.col("n_docs").alias("n_docs_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_pairs").cast("bigint").alias("n_dup_pairs"),
            F.col("n_docs_a").cast("bigint").alias("n_docs_a"),
            F.col("n_docs_b").cast("bigint").alias("n_docs_b"),
            (F.col("source_a") != F.col("source_b")).alias("cross_source"),
            (
                F.floor(
                    F.col("n_pairs").cast("double")
                    / (
                        F.col("n_docs_a").cast("double")
                        * F.col("n_docs_b")
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("pair_density"),
        )
    )


@register(
    "dedup_transitivity_audit",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES},
    ded_e AS (SELECT DISTINCT a, b FROM e0),
    ded_sym AS (
        SELECT a AS x, b AS y FROM ded_e
        UNION ALL
        SELECT b AS x, a AS y FROM ded_e
    ),
    w AS (
        SELECT s1.x AS i, s1.y AS j, s2.y AS k
        FROM ded_sym s1
        JOIN ded_sym s2
          ON s1.y = s2.x AND s2.y <> s1.x AND s1.x < s2.y
    ),
    cl AS (
        SELECT COUNT(*) AS n_closed
        FROM w JOIN ded_sym s ON w.i = s.x AND w.k = s.y
    ),
    tot AS (
        SELECT (SELECT COUNT(*) FROM ded_e) AS n_edges,
               (SELECT COUNT(*) FROM w) AS n_wedges,
               (SELECT n_closed FROM cl) AS n_closed
    )
    SELECT CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_closed AS BIGINT) AS n_closed_wedges,
           CAST(n_wedges - n_closed AS BIGINT) AS n_open_wedges,
           FLOOR(CAST(n_closed AS DOUBLE) / NULLIF(n_wedges, 0)
                 * 1000000.0 + 0.5) / 1000000.0 AS closure_rate
    FROM tot
    """,
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-duplicate relation: similarity
    is NOT transitive (A≈B≈C does not give A≈C), but connected-
    component clustering TREATS it as if it were — every open wedge
    (A−B−C with no A−C edge) is a place where [[dedup_clusters]]
    merges documents never directly measured as similar, the chain-
    over-merge failure mode of CC-based dedup.  One row over the
    duplicate-edge graph (exact stars ∪ LSH near-dups): edge count,
    wedge count, closed/open wedge counts, and the closure rate —
    near 1 means clusters are clique-like (CC is safe), low means
    chains dominate and a stricter threshold or star-contraction
    policy is warranted.  At sf0.1 the synthetic corpus measures 93%
    closure with 172 open wedges — real chain structure, the thing
    this audit exists to quantify (smaller SFs close fully).

    Determinism: pure exact integer counts over the deduplicated
    edge set (built with UNION ALL over explicitly distinct halves —
    the WITH RECURSIVE quirk makes plain UNION unreliable for
    counting, see [[dup_pair_source_matrix]]); the one ratio is a
    fixed divide via the floor ladder.

    Scale shape: the wedge join is the [[item_triangle_census]]
    pattern over the slim symmetric edge list (bounded by the dup
    graph, a small fraction of the corpus); closure checks are one
    more equi-join of wedges against the same list — no all-pairs
    anywhere."""
    e = duplicate_edges(spark, sf_dir)
    sym = e.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionAll(e.select(F.col("b").alias("x"), F.col("a").alias("y")))
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    w = s1.join(
        s2,
        (F.col("s1.y") == F.col("s2.x"))
        & (F.col("s2.y") != F.col("s1.x"))
        & (F.col("s1.x") < F.col("s2.y")),
    ).select(
        F.col("s1.x").alias("i"),
        F.col("s1.y").alias("j"),
        F.col("s2.y").alias("k"),
    )
    third = sym.select(F.col("x").alias("i"), F.col("y").alias("k"))
    closed = w.join(third, ["i", "k"], "left_semi")
    counts = (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(F.broadcast(w.agg(F.count("*").alias("n_wedges"))))
        .crossJoin(F.broadcast(closed.agg(F.count("*").alias("n_closed"))))
    )
    return counts.select(
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("n_wedges").cast("bigint").alias("n_wedges"),
        F.col("n_closed").cast("bigint").alias("n_closed_wedges"),
        (F.col("n_wedges") - F.col("n_closed"))
        .cast("bigint")
        .alias("n_open_wedges"),
        (
            F.floor(
                F.col("n_closed").cast("double")
                / F.nullif(F.col("n_wedges"), F.lit(0))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("closure_rate"),
    )


@register(
    "minhash_jaccard_error_audit",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    com AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    p AS (
        SELECT c.doc_a, c.doc_b,
               ({_MINHASH_AGREE_SQL}) AS agree,
               CAST(COALESCE(m.n_common, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(m.n_common, 0)) AS exact_j
        FROM cand c
        JOIN sig x ON c.doc_a = x.doc_id
        JOIN sig y ON c.doc_b = y.doc_id
        JOIN sz sa ON c.doc_a = sa.doc_id
        JOIN sz sb ON c.doc_b = sb.doc_id
        LEFT JOIN com m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
    ),
    q AS (
        SELECT LEAST(9, agree * 10 // {_MINHASH_K}) AS est_decile,
               CAST(FLOOR(exact_j * 1000000.0) AS BIGINT) AS qx,
               CAST(FLOOR(abs(CAST(agree AS DOUBLE) / {_MINHASH_K} - exact_j)
                          * 1000000.0) AS BIGINT) AS qe,
               CASE WHEN exact_j >= {_JACCARD_THRESHOLD} THEN 1 ELSE 0 END
                   AS is_dup
        FROM p
    )
    SELECT CAST(est_decile AS INTEGER) AS est_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(CAST(SUM(qx) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_exact_jaccard,
           FLOOR(CAST(SUM(qe) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_abs_err,
           CAST(MAX(qe) AS DOUBLE) / 1000000.0 AS max_abs_err,
           ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS true_dup_share
    FROM q GROUP BY 1
    """,
)
def minhash_jaccard_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the engine's OWN MinHash estimator
    (Broder 1997 resemblance sketches): for every LSH candidate pair,
    compare the signature-agreement Jaccard estimate (matching slots
    / {k}) against the EXACT shingle-set Jaccard, bucketed by
    estimate decile — per bucket: pair count, mean exact Jaccard,
    mean and worst absolute estimation error, and the share of pairs
    that are true near-dups at the production threshold
    ({thr}).  This is the go/no-go table before trusting
    [[dedup_minhash_lsh]]'s estimate as the dedup decision at corpus
    scale (the K={k} sketch has σ ≈ √(J(1−J)/K) ≈ 0.17 at J=0.5 —
    the audit makes the realized error visible per regime; measured
    on this corpus the 25 genuine near-dup pairs span exact J
    0.90-0.99 while band-collision noise pairs sit near 0, so both
    calibration regimes are populated).

    Determinism: agreement counts and shingle-overlap counts are
    exact integers; the exact Jaccard and the per-pair error quantize
    at the leaf (floor·1e6 — identical IEEE operand chains in both
    engines); bucket means are integer sums with one fixed divide;
    everything emitted is non-negative, so the floor ladder is
    sign-safe.

    Scale shape: candidates come from the banded equi-join (never
    all-pairs); the exact-Jaccard side verifies shingles against the
    CANDIDATE pair list only (cost ∝ |candidates| × shingles/doc —
    r14; the audit never pays the full shared-shingle self-join);
    output is ≤10 rows at ANY corpus size — the audit is a
    bounded-size calibration report, safe to compute on a 100 TB
    corpus sample or whole."""
    sh = _corpus_shingles(spark, sf_dir)
    sig = _corpus_signatures(spark, sf_dir)
    # r14: spooled — the candidate pair frame feeds BOTH the
    # signature-agreement join and the exact-verify join below.
    cand = _lsh_candidate_pairs(sig).localCheckpoint()
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # r14: the exact-overlap count is only CONSUMED for candidate
    # pairs (left-joined onto cand), so verify against the candidate
    # list instead of the full rare-shingle self-join — cost drops
    # from all-pairs-sharing-a-shingle to |candidates| × shingles/doc
    # (the lsh_tuning_report verify shape).  A candidate pair with no
    # shared shingle now counts 0 instead of being absent; the
    # consumer's coalesce(n_common, 0) maps both to the same value.
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    com = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"], "left")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(shb["doc_b"]).alias("n_common"))
    )
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{j}").alias(f"xs_{j}") for j in range(_MINHASH_K)],
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{j}").alias(f"ys_{j}") for j in range(_MINHASH_K)],
    )
    agree = sum(
        F.when(F.col(f"xs_{j}") == F.col(f"ys_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    p = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .join(com, ["doc_a", "doc_b"], "left")
        .select(
            agree.alias("agree"),
            (
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_common"), F.lit(0)))
            ).alias("exact_j"),
        )
    )
    q = p.select(
        F.least(F.lit(9), (F.col("agree") * 10 / _MINHASH_K).cast("int")).alias(
            "est_decile"
        ),
        F.floor(F.col("exact_j") * 1000000.0).cast("bigint").alias("qx"),
        F.floor(
            F.abs(F.col("agree").cast("double") / _MINHASH_K - F.col("exact_j"))
            * 1000000.0
        )
        .cast("bigint")
        .alias("qe"),
        F.when(F.col("exact_j") >= _JACCARD_THRESHOLD, 1).otherwise(0).alias("is_dup"),
    )
    return q.groupBy(F.col("est_decile").cast("int").alias("est_decile")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (
            F.floor(F.sum("qx").cast("double") / F.count("*") + 0.5) / 1000000.0
        ).alias("mean_exact_jaccard"),
        (
            F.floor(F.sum("qe").cast("double") / F.count("*") + 0.5) / 1000000.0
        ).alias("mean_abs_err"),
        (F.max("qe").cast("double") / 1000000.0).alias("max_abs_err"),
        F.round(F.sum("is_dup").cast("double") / F.count("*"), 6).alias(
            "true_dup_share"
        ),
    )


minhash_jaccard_error_audit.__doc__ = minhash_jaccard_error_audit.__doc__.format(
    k=_MINHASH_K, thr=_JACCARD_THRESHOLD
)


@register(
    "dedup_method_agreement",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM nd),
    th AS (
        SELECT doc_id, {PORTABLE_HASH64_SQL("token", seed=7)} AS h FROM tok
    ),
    bit AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (
            SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS b)
        GROUP BY doc_id, b
    ),
    sim AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                   ELSE 0 END) AS simhash
        FROM bit GROUP BY doc_id
    ),
    sbytes AS (
        SELECT doc_id, simhash, i, (simhash >> (8 * i)) & 255 AS byte
        FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
    ),
    sp AS (
        SELECT doc_a, doc_b FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS ha, b.simhash AS hb
            FROM sbytes a JOIN sbytes b
              ON a.i = b.i AND a.byte = b.byte AND a.doc_id < b.doc_id
        ) WHERE bit_count(xor(ha, hb)) <= {_SIMHASH_HAMMING_MAX}
    ),
    sig AS (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    mcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id
    ),
    mh AS (
        SELECT c.doc_a, c.doc_b
        FROM mcand c JOIN sig x ON c.doc_a = x.doc_id
                     JOIN sig y ON c.doc_b = y.doc_id
        WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)}
              >= {_EST_JACCARD_THRESHOLD}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    ex AS (
        SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shf a JOIN shf b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
        WHERE CAST(p.n_common AS DOUBLE) / (x.n + y.n - p.n_common)
              >= {_JACCARD_THRESHOLD}
    ),
    keys AS (
        SELECT doc_a, doc_b FROM mh
        UNION
        SELECT doc_a, doc_b FROM sp
        UNION
        SELECT doc_a, doc_b FROM ex
    ),
    f AS (
        SELECT k.doc_a, k.doc_b,
               m.doc_a IS NOT NULL AS in_minhash,
               s.doc_a IS NOT NULL AS in_simhash,
               e.doc_a IS NOT NULL AS in_exact
        FROM keys k
        LEFT JOIN mh m ON k.doc_a = m.doc_a AND k.doc_b = m.doc_b
        LEFT JOIN sp s ON k.doc_a = s.doc_a AND k.doc_b = s.doc_b
        LEFT JOIN ex e ON k.doc_a = e.doc_a AND k.doc_b = e.doc_b
    ),
    t AS (SELECT COUNT(*) AS total FROM f)
    SELECT in_minhash, in_simhash, in_exact,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.total, 6) AS pair_share
    FROM f CROSS JOIN t
    GROUP BY 1, 2, 3, t.total
    """,
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method near-dup agreement census — the confusion table
    between the engine's three dedup detectors on the SAME corpus:
    MinHash-LSH (estimated Jaccard ≥ {mthr}), SimHash byte-banding
    (Hamming ≤ {hthr}), and exact shingle Jaccard (≥ {jthr}).  Every
    pair any method flags lands in one of the 7 membership classes;
    the table shows which detectors agree, which one over-fires
    (flags nothing else confirms), and which true near-dups
    (exact-side) each sketch misses — the evidence a pipeline owner
    needs before trusting ONE method at 100 TB where the exact column
    is unaffordable.

    Determinism: each member set is the registered operator's own
    deterministic pair set ([[dedup_minhash_lsh]],
    [[dedup_simhash_pairs]], [[dedup_ngram_jaccard]] semantics,
    re-derived through the same shared machinery); membership flags
    are NULL-checks on equi-joins; counts are exact integers and the
    one share is a non-negative ROUND-safe divide.

    Scale shape: all three candidate generators are banded/blocked
    equi-joins (never all-pairs); the census unions three slim pair
    frames and aggregates 7 rows — bounded output at any corpus
    size."""
    sh = _corpus_shingles(spark, sf_dir)
    sig = _corpus_signatures(spark, sf_dir)
    cand = _lsh_candidate_pairs(sig)
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{j}").alias(f"xs_{j}") for j in range(_MINHASH_K)],
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{j}").alias(f"ys_{j}") for j in range(_MINHASH_K)],
    )
    agree = sum(
        F.when(F.col(f"xs_{j}") == F.col(f"ys_{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    # r14 (mechanism-2 spool): each of the three member pair frames is
    # referenced TWICE — once in the union that builds the key set and
    # once in its membership left-join — so unspooled, each candidate
    # pipeline (band join / simhash banding / exact shingle self-join)
    # executed twice per run.  All three are slim (doc_a, doc_b) pair
    # frames with exact integer keys.
    mh = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(agree / _MINHASH_K >= _EST_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    sp = (
        dedup_simhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    ex = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
        .join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= _JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    keys = mh.unionByName(sp).unionByName(ex).distinct()
    flags = (
        keys.join(mh.withColumn("in_minhash", F.lit(True)), ["doc_a", "doc_b"], "left")
        .join(sp.withColumn("in_simhash", F.lit(True)), ["doc_a", "doc_b"], "left")
        .join(ex.withColumn("in_exact", F.lit(True)), ["doc_a", "doc_b"], "left")
        .select(
            F.coalesce(F.col("in_minhash"), F.lit(False)).alias("in_minhash"),
            F.coalesce(F.col("in_simhash"), F.lit(False)).alias("in_simhash"),
            F.coalesce(F.col("in_exact"), F.lit(False)).alias("in_exact"),
        )
    )
    # r14: the total is Σ n_pairs over the ≤8-row membership-class
    # table (identical exact integer to COUNT(*) over flags) — the old
    # separate count branch re-executed the whole flags chain a second
    # time.  The window runs over the bounded 7-class frame, never
    # the data (partitionBy(lit(0)) silences the no-partition warning,
    # the _KS_BUCKETS offset-window idiom).
    w_tot = Window.partitionBy(F.lit(0))
    return (
        flags.groupBy("in_minhash", "in_simhash", "in_exact")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "in_minhash",
            "in_simhash",
            "in_exact",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(
                F.col("n_pairs").cast("double") / F.sum("n_pairs").over(w_tot),
                6,
            ).alias("pair_share"),
        )
    )


dedup_method_agreement.__doc__ = dedup_method_agreement.__doc__.format(
    mthr=_EST_JACCARD_THRESHOLD, hthr=_SIMHASH_HAMMING_MAX, jthr=_JACCARD_THRESHOLD
)


@register(
    "dedup_survivor_policy_audit",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_LABEL_SQL_CTES},
    sz AS (SELECT cluster_id, COUNT(*) AS n FROM lbl GROUP BY 1),
    d AS (
        SELECT l.cluster_id, l.doc_id,
               length(doc.text) AS len,
               len(list_distinct(string_split(
                   {NORMALIZE_TEXT_SQL("doc.text")}, ' '))) AS rich
        FROM lbl l
        JOIN documents doc ON l.doc_id = doc.doc_id
        JOIN sz ON l.cluster_id = sz.cluster_id
        WHERE sz.n >= 2
    ),
    pid AS (
        SELECT cluster_id,
               MIN(doc_id) AS keep,
               struct_extract(MIN(struct_pack(a := doc_id, l := len)), 'l')
                   AS kept_len
        FROM d GROUP BY 1
    ),
    plg AS (
        SELECT cluster_id,
               struct_extract(MIN(struct_pack(a := -len, b := doc_id)), 'b')
                   AS keep,
               -struct_extract(MIN(struct_pack(a := -len, b := doc_id)), 'a')
                   AS kept_len
        FROM d GROUP BY 1
    ),
    prc AS (
        SELECT cluster_id,
               struct_extract(MIN(struct_pack(a := -rich, b := doc_id,
                                              l := len)), 'b') AS keep,
               struct_extract(MIN(struct_pack(a := -rich, b := doc_id,
                                              l := len)), 'l') AS kept_len
        FROM d GROUP BY 1
    ),
    u AS (
        SELECT 'min_doc_id' AS policy, p.cluster_id, p.keep, p.kept_len,
               i.keep AS base FROM pid p JOIN pid i USING (cluster_id)
        UNION ALL
        SELECT 'longest_text', p.cluster_id, p.keep, p.kept_len, i.keep
        FROM plg p JOIN pid i USING (cluster_id)
        UNION ALL
        SELECT 'richest_vocab', p.cluster_id, p.keep, p.kept_len, i.keep
        FROM prc p JOIN pid i USING (cluster_id)
    )
    SELECT policy,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN keep = base THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree_min_id,
           ROUND(CAST(SUM(CASE WHEN keep = base THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS agreement_share,
           CAST(SUM(kept_len) AS BIGINT) AS kept_chars
    FROM u GROUP BY 1
    """,
)
def dedup_survivor_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-election policy audit for duplicate clusters — the
    canonicalization decision [[dedup_clusters]] hard-codes (keep the
    min doc_id) made visible: for each multi-doc cluster, which
    document would keep-min-id, keep-longest-text, and
    keep-richest-vocabulary each elect, how often the alternatives
    agree with the default, and how many characters each policy
    retains (C4 keeps first-seen; RefinedWeb/FineWeb-style curation
    keeps the longest/highest-quality copy — the char delta is the
    corpus volume at stake in that choice).

    Determinism: every election is a min(struct) over total keys
    (exact length / distinct-token counts, doc_id tie-break);
    agreement tallies are exact integers; one ROUND-safe divide.

    Scale shape: reuses the per-(session, sf) memoized cluster labels
    (the CC rounds run once); lengths and distinct-token counts are
    map-side per-doc projections; elections are per-cluster hash
    aggregates over the (clustered docs only) frame; output is 3 rows
    at any corpus size."""
    labels = _doc_cluster_labels(spark, sf_dir).withColumnRenamed(
        "label", "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("len"),
        F.size(F.array_distinct(F.split(normalize_text(F.col("text")), " "))).alias(
            "rich"
        ),
    )
    w = Window.partitionBy("cluster_id")
    d = (
        labels.join(docs, "doc_id")
        .withColumn("n", F.count("*").over(w))
        .filter(F.col("n") >= 2)
        .select("cluster_id", "doc_id", "len", "rich")
    )
    pid = d.groupBy("cluster_id").agg(
        F.min("doc_id").alias("keep"),
        F.min(F.struct(F.col("doc_id").alias("a"), F.col("len").alias("l"))).alias(
            "m"
        ),
    ).select("cluster_id", "keep", F.col("m.l").alias("kept_len"))
    plg = d.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("len")).alias("a"), F.col("doc_id").alias("b"))
        ).alias("m")
    ).select("cluster_id", F.col("m.b").alias("keep"), (-F.col("m.a")).alias("kept_len"))
    prc = d.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                (-F.col("rich")).alias("a"),
                F.col("doc_id").alias("b"),
                F.col("len").alias("l"),
            )
        ).alias("m")
    ).select("cluster_id", F.col("m.b").alias("keep"), F.col("m.l").alias("kept_len"))
    base = pid.select("cluster_id", F.col("keep").alias("base"))
    u = None
    for name, frame in (
        ("min_doc_id", pid),
        ("longest_text", plg),
        ("richest_vocab", prc),
    ):
        part = frame.join(base, "cluster_id").select(
            F.lit(name).alias("policy"), "keep", "kept_len", "base"
        )
        u = part if u is None else u.unionAll(part)
    return u.groupBy("policy").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("keep") == F.col("base"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree_min_id"),
        F.round(
            F.sum(F.when(F.col("keep") == F.col("base"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("agreement_share"),
        F.sum("kept_len").cast("bigint").alias("kept_chars"),
    )


#: Prefix-filter exact-join threshold: the canonical near-dup τ.  The
#: Bayardo/Chaudhuri prefix theorem: under ANY global token order, two
#: sets with J(A,B) ≥ τ must share a token within each other's first
#: |X| − ⌈τ·|X|⌉ + 1 tokens — so indexing only prefixes (rarest-first
#: order maximizes pruning) is LOSSLESS at the threshold.
_PPJ_TAU_NUM = 7
_PPJ_TAU_DEN = 10


@register(
    "jaccard_prefix_filter_join",
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
    ),
    dfq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    rk AS (
        SELECT s.doc_id, s.shingle, z.n,
               ROW_NUMBER() OVER (
                   PARTITION BY s.doc_id ORDER BY d.df, s.shingle
               ) AS r
        FROM sh s
        JOIN dfq d ON s.shingle = d.shingle
        JOIN sz z ON s.doc_id = z.doc_id
    ),
    pf AS (
        SELECT doc_id, shingle FROM rk
        WHERE r <= n - ({_PPJ_TAU_NUM} * n + {_PPJ_TAU_DEN - 1})
                       // {_PPJ_TAU_DEN} + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pf a JOIN pf b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    ix AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (xa.n + xb.n - i.n_common), 6) AS jaccard
    FROM ix i
    JOIN sz xa ON i.doc_a = xa.doc_id
    JOIN sz xb ON i.doc_b = xb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (xa.n + xb.n - i.n_common)
          >= {_PPJ_TAU_NUM / _PPJ_TAU_DEN}
    """,
)
def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity join at J ≥ 0.7 via prefix filtering
    (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07 AllPairs) — the
    LOSSLESS candidate generator next to the engine's probabilistic
    one: [[dedup_minhash_lsh]] trades recall for speed by banding and
    [[dedup_ngram_jaccard]] caps its inverted lists (dropping pairs
    whose shared shingles are all frequent); THIS join provably
    misses nothing at the threshold.  Each doc's shingles sort
    rarest-first (global df, shingle tiebreak); only the first
    n − ⌈τ·n⌉ + 1 are indexed; by the prefix theorem any pair with
    J ≥ τ collides inside the prefixes.  Candidates verify by exact
    intersection over the FULL shingle sets (measured at sf0.01: 28
    candidates out of 124,750 possible pairs — 4,456× pruning — and
    all 25 true J ≥ 0.7 pairs among them, losslessness pinned vs
    brute force in tests).

    Determinism: df, sizes, ranks and intersections are exact integer
    counts; the prefix length uses integer ceiling arithmetic
    ((7n+9) div 10) identically in both engines; the one ratio is a
    fixed IEEE divide compared UNROUNDED against the same literal.

    Scale shape: one shuffle builds df (map-side combined), one
    window ranks within docs, the candidate join touches ONLY prefix
    rows — its volume is Σ_prefix-shingle df², concentrated on RARE
    shingles by construction (rarest-first prefixes), never the
    Σ df² of a full inverted list; verification joins the (tiny)
    candidate set back against the shingle frame keyed by (doc,
    shingle).  At a 31-word-vocabulary corpus this is the measured
    4,456× pruning; on a real heavy-tailed vocabulary the prefix df
    concentration is stronger still."""
    sh = _shingles(_normalized_docs(spark, sf_dir)).localCheckpoint()
    dfq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    rk = (
        sh.join(dfq, "shingle")
        .join(sz, "doc_id")
        .withColumn("r", F.row_number().over(w))
    )
    plen = (
        F.col("n")
        - F.expr(
            f"({_PPJ_TAU_NUM} * n + {_PPJ_TAU_DEN - 1}) div {_PPJ_TAU_DEN}"
        )
        + 1
    )
    # r13 optimization: the prefix frame feeds BOTH sides of the
    # candidate self-join — without spooling, the df-order window over
    # the full shingle frame executed twice (once per alias).
    pf = (
        rk.filter(F.col("r") <= plen)
        .select("doc_id", "shingle")
        .localCheckpoint()
    )
    a, b = pf.alias("a"), pf.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    x = sh.withColumnsRenamed({"doc_id": "doc_a", "shingle": "sh_a"})
    y = sh.withColumnsRenamed({"doc_id": "yb_doc", "shingle": "sh_b"})
    ix = (
        cand.join(x, "doc_a")
        .join(
            y,
            (F.col("doc_b") == F.col("yb_doc"))
            & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = (
        ix.join(sz.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sz.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= _PPJ_TAU_NUM / _PPJ_TAU_DEN)
    )
    return jac.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round("jaccard_raw", 6).alias("jaccard"),
    )


#: Fellegi-Sunter record-linkage weight estimation: the two
#: independent bottom-k "random pair" sample seeds, the sample size
#: per side, and the length-agreement tolerance (chars).
_FS_SEED_A = 41
_FS_SEED_B = 43
_FS_SAMPLE_K = 32
_FS_LEN_TOL = 10
#: ln(2) in 1e6 units — definition-time literal shared by both
#: engines so the bits conversion divides by the identical constant.
_FS_LN2 = 0.6931471805599453


def _fs_w_sql(cm: str, nm: str, cu: str, nu: str) -> str:
    """Smoothed log2 likelihood-ratio weight as ONE IEEE expression
    over exact integer counts (identical text both engines):
    log2( ((cm+.5)/(nm+1)) / ((cu+.5)/(nu+1)) ) via 2x+1 integers."""
    return (
        f"FLOOR((ln(2 * {cm} + 1) - ln(2 * {nm} + 2)"
        f" - ln(2 * {cu} + 1) + ln(2 * {nu} + 2))"
        f" / {_FS_LN2} * 10000.0 + 0.5) / 10000.0"
    )


@register(
    "fellegi_sunter_weights",
    oracle=f"""
    WITH {_SHINGLES_SQL_CTE},
    sig AS MATERIALIZED (
        SELECT doc_id,
           {_MINHASH_SIG_SQL}
        FROM shf GROUP BY doc_id
    ),
    bands AS ({_MINHASH_BAND_SQL}),
    mp AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b
        FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
               AND a.doc_id < b.doc_id) c
        JOIN sig x ON c.doc_a = x.doc_id
        JOIN sig y ON c.doc_b = y.doc_id
        WHERE ({_MINHASH_AGREE_SQL}) / {float(_MINHASH_K)}
              >= {_EST_JACCARD_THRESHOLD}
    ),
    meta AS MATERIALIZED (
        SELECT doc_id, lang, source, n_chars FROM documents
    ),
    magree AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS nm,
               CAST(SUM(CASE WHEN x.lang = y.lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS cm_lang,
               CAST(SUM(CASE WHEN x.source = y.source THEN 1 ELSE 0 END)
                    AS BIGINT) AS cm_source,
               CAST(SUM(CASE WHEN abs(x.n_chars - y.n_chars)
                              <= {_FS_LEN_TOL} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cm_len
        FROM mp JOIN meta x ON mp.doc_a = x.doc_id
                JOIN meta y ON mp.doc_b = y.doc_id
    ),
    sa AS MATERIALIZED (
        SELECT doc_id FROM documents
        ORDER BY {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _FS_SEED_A)},
                 doc_id
        LIMIT {_FS_SAMPLE_K}
    ),
    sb AS MATERIALIZED (
        SELECT doc_id FROM documents
        ORDER BY {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _FS_SEED_B)},
                 doc_id
        LIMIT {_FS_SAMPLE_K}
    ),
    up AS MATERIALIZED (
        SELECT DISTINCT LEAST(sa.doc_id, sb.doc_id) AS doc_a,
                        GREATEST(sa.doc_id, sb.doc_id) AS doc_b
        FROM sa CROSS JOIN sb
        WHERE sa.doc_id <> sb.doc_id
          AND NOT EXISTS (SELECT 1 FROM mp
                          WHERE mp.doc_a = LEAST(sa.doc_id, sb.doc_id)
                            AND mp.doc_b = GREATEST(sa.doc_id, sb.doc_id))
    ),
    uagree AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS nu,
               CAST(SUM(CASE WHEN x.lang = y.lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS cu_lang,
               CAST(SUM(CASE WHEN x.source = y.source THEN 1 ELSE 0 END)
                    AS BIGINT) AS cu_source,
               CAST(SUM(CASE WHEN abs(x.n_chars - y.n_chars)
                              <= {_FS_LEN_TOL} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cu_len
        FROM up JOIN meta x ON up.doc_a = x.doc_id
                JOIN meta y ON up.doc_b = y.doc_id
    ),
    j AS (SELECT * FROM magree CROSS JOIN uagree)
    SELECT field, n_match_pairs, n_match_agree, n_unmatch_pairs,
           n_unmatch_agree,
           FLOOR((2.0 * n_match_agree + 1) / (2 * n_match_pairs + 2)
                 * 1000000.0 + 0.5) / 1000000.0 AS m_prob,
           FLOOR((2.0 * n_unmatch_agree + 1) / (2 * n_unmatch_pairs + 2)
                 * 1000000.0 + 0.5) / 1000000.0 AS u_prob,
           {_fs_w_sql("n_match_agree", "n_match_pairs",
                      "n_unmatch_agree", "n_unmatch_pairs")}
               AS w_agree_bits,
           {_fs_w_sql("(n_match_pairs - n_match_agree)", "n_match_pairs",
                      "(n_unmatch_pairs - n_unmatch_agree)",
                      "n_unmatch_pairs")}
               AS w_disagree_bits
    FROM (
        SELECT 'lang' AS field, nm AS n_match_pairs,
               cm_lang AS n_match_agree, nu AS n_unmatch_pairs,
               cu_lang AS n_unmatch_agree FROM j
        UNION ALL
        SELECT 'length', nm, cm_len, nu, cu_len FROM j
        UNION ALL
        SELECT 'source', nm, cm_source, nu, cu_source FROM j
    )
    ORDER BY field
    """,
)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter (JASA 1969) record-linkage weights learned from
    the corpus itself: m-probabilities (field agreement among MATCHED
    pairs — the LSH-confirmed near-dup pair table of
    [[dedup_minhash_lsh]] serves as the labeled match set) vs
    u-probabilities (agreement among random non-matched pairs from
    two independent bottom-k samples), emitting the log2
    agreement/disagreement weights every probabilistic matcher sums —
    the estimator that tells a linkage pipeline WHICH fields carry
    match evidence before anyone hand-tunes thresholds.  Measured
    signal (sf0.01): length agreement carries +4.76 bits (m=0.91 vs
    u=0.03) while lang carries 0.22 bits (m=0.29 ≈ u=0.25) and
    source 0.15 (0.05 ≈ 0.05) — the generator assigns near-dup
    copies RANDOM lang/source metadata, so the estimator correctly
    reports that matching must key on content-derived length, not
    metadata; a naive equal-weight matcher would be 2/3 noise.

    Determinism: the match set is the deterministic LSH pair table;
    the non-match sample is two bottom-{k} portable-hash draws
    (pure key functions — identical across engines and reruns)
    crossed and de-duplicated; all agreement counts are exact
    integers; the smoothed probabilities (c+0.5)/(n+1) live as
    2c+1 / 2n+2 integer ratios, and each weight is ONE IEEE
    expression over those integers through the sign-safe floor
    ladder (the KS-p-value precedent for cross-engine libm).

    Scale shape: the match side rides the banded LSH join (never
    all-pairs); the non-match side is two TakeOrdered bottom-{k}
    samples (per-partition heaps, constant size at any corpus)
    crossed into <= {k}x{k} rows; agreements are broadcast metadata
    joins; the report is 3 rows."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "lang", "source", "n_chars")
    # r14 (mechanism-2 spool): the LSH-confirmed match pair table
    # feeds TWO plan branches — the m-agreement join+aggregate and the
    # anti-join that cleans the non-match sample — so without the
    # spool the whole banded-LSH pipeline executed twice per run.
    # Slim (doc_a, doc_b) pairs; exact keys, recomputation-identical.
    mp = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    xa = meta.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("n_chars").alias("nc_a"),
    )
    yb = meta.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("n_chars").alias("nc_b"),
    )

    def agreements(pairs: DataFrame, prefix: str) -> DataFrame:
        ag = pairs.join(xa, "doc_a").join(yb, "doc_b")
        return ag.agg(
            F.count("*").cast("bigint").alias(f"n{prefix}"),
            F.sum(
                F.when(F.col("lang_a") == F.col("lang_b"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"c{prefix}_lang"),
            F.sum(
                F.when(F.col("source_a") == F.col("source_b"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"c{prefix}_source"),
            F.sum(
                F.when(
                    F.abs(F.col("nc_a") - F.col("nc_b")) <= _FS_LEN_TOL, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"c{prefix}_len"),
        )

    magree = agreements(mp, "m")

    def bottomk(seed: int) -> DataFrame:
        return (
            docs.select(
                "doc_id",
                portable_hash64(
                    F.col("doc_id").cast("string"), seed=seed
                ).alias("h"),
            )
            .orderBy("h", "doc_id")
            .limit(_FS_SAMPLE_K)
            .select("doc_id")
        )

    sa = bottomk(_FS_SEED_A).withColumnRenamed("doc_id", "ida")
    sb = bottomk(_FS_SEED_B).withColumnRenamed("doc_id", "idb")
    up = (
        sa.crossJoin(sb)
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
        )
        .distinct()
        .join(mp, ["doc_a", "doc_b"], "left_anti")
    )
    uagree = agreements(up, "u")
    j = magree.crossJoin(F.broadcast(uagree))
    fields = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"),
                F.col(f"cm_{key}").alias("cm"),
                F.col(f"cu_{key}").alias("cu"),
            )
            for name, key in (
                ("lang", "lang"),
                ("length", "len"),
                ("source", "source"),
            )
        ]
    )
    rows = j.select("nm", "nu", F.explode(fields).alias("s")).select(
        F.col("s.field").alias("field"),
        F.col("nm").alias("n_match_pairs"),
        F.col("s.cm").alias("n_match_agree"),
        F.col("nu").alias("n_unmatch_pairs"),
        F.col("s.cu").alias("n_unmatch_agree"),
    )
    emit6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    w = lambda cm, nm, cu, nu: (  # noqa: E731
        F.floor(
            (
                F.log(2 * cm + 1)
                - F.log(2 * nm + 2)
                - F.log(2 * cu + 1)
                + F.log(2 * nu + 2)
            )
            / _FS_LN2
            * 10000.0
            + 0.5
        )
        / 10000.0
    )
    cm, nm = F.col("n_match_agree"), F.col("n_match_pairs")
    cu, nu = F.col("n_unmatch_agree"), F.col("n_unmatch_pairs")
    return rows.select(
        "field",
        "n_match_pairs",
        "n_match_agree",
        "n_unmatch_pairs",
        "n_unmatch_agree",
        emit6((2.0 * cm + 1) / (2 * nm + 2)).alias("m_prob"),
        emit6((2.0 * cu + 1) / (2 * nu + 2)).alias("u_prob"),
        w(cm, nm, cu, nu).alias("w_agree_bits"),
        w(nm - cm, nm, nu - cu, nu).alias("w_disagree_bits"),
    ).orderBy("field")


fellegi_sunter_weights.__doc__ = fellegi_sunter_weights.__doc__.format(
    k=_FS_SAMPLE_K
)
