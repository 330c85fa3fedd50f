"""Corpus-planning operators for training-data pipelines.

North-star extensions (BASELINE; not in the reference, which stops at
feature serving): the two planning steps every large-scale training
run needs *before* any text is read —

* **mixture weights** — temperature-scaled sampling weights per
  corpus slice (language here; domain/source in general).  Raw
  proportional sampling lets one giant slice drown the rest;
  ``weight_i ∝ size_i^α`` with α < 1 (Conneau & Lample 2019's
  multilingual temperature sampling) flattens the distribution.  We
  fix α = 0.5: ``sqrt`` is correctly rounded under IEEE-754, so Spark
  and DuckDB agree bit-for-bit where a ``pow(x, 0.7)`` could differ
  in the last ulp between libm implementations.
* **sequence packing plan** — GPT-style concat-and-chunk: lay the
  corpus out as one token stream and cut every ``_SEQ_LEN`` tokens.
  A *global* stream needs a global prefix sum (single-task sort — a
  scale-killer), so the stream is sharded by a hash of ``doc_id``:
  each shard packs independently with a windowed prefix sum,
  ``PARTITION BY shard`` keeping every window a within-partition
  sort.  At 100 TB you raise ``_PACK_SHARDS`` to ~cluster
  parallelism; packing quality is unaffected (each shard is still a
  contiguous stream, and the ≤1 partially-filled tail sequence per
  shard is noise at any real shard size).

Both operators read only document *metadata* (``n_chars``) — the
plan for a 100 TB corpus is computed without scanning a byte of
text.  Pure Catalyst expressions, exact DuckDB twins, zero UDFs.
All arithmetic that crosses an aggregation boundary is BIGINT or
DECIMAL (exact, associative); doubles appear only in final
single-expression projections rounded on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import PORTABLE_HASH64_SQL, portable_hash64
from ..functions.ranking import ranked, running_totals
from ..registry import register

#: Temperature exponent α for mixture weights is fixed at 0.5 (see
#: module docstring: sqrt is the IEEE-exact choice).

#: Independent packing streams.  Test-scale value; production sets
#: this to ~cluster parallelism so each windowed prefix sum is one
#: healthy task.
_PACK_SHARDS = 8

#: Tokens per packed training sequence.
_SEQ_LEN = 2048

#: Chars-per-token estimate for the metadata-only packing plan (the
#: usual ~4 chars/token English heuristic).  The plan needs a
#: deterministic integer estimate, not a tokenizer.
_CHARS_PER_TOKEN = 4

_PACK_SEED = 3

#: Shard-id stride in ``seq_id`` so (shard, seq_in_shard) flattens to
#: one global id without collisions.
_SEQ_STRIDE = 1_000_000_000


@register(
    "corpus_mixture_weights",
    oracle="""
    WITH slice AS (
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS slice_chars,
               CAST(ROUND(SQRT(CAST(SUM(n_chars) AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS temp_mass
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT SUM(temp_mass) AS tot_mass, SUM(slice_chars) AS tot_chars
        FROM slice
    )
    SELECT s.lang, s.n_docs, s.slice_chars,
           ROUND(CAST(s.temp_mass AS DOUBLE) / CAST(t.tot_mass AS DOUBLE), 6)
               AS mix_weight,
           ROUND((CAST(s.temp_mass AS DOUBLE) / CAST(t.tot_mass AS DOUBLE))
                 * (CAST(t.tot_chars AS DOUBLE) / CAST(s.slice_chars AS DOUBLE)), 6)
               AS eff_repeat
    FROM slice s CROSS JOIN tot t
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling mixture weights per language slice:
    ``mix_weight_i = sqrt(chars_i) / Σ_j sqrt(chars_j)`` plus the
    implied repetition factor ``eff_repeat_i = mix_weight_i /
    natural_share_i`` (how many epochs of slice *i* one epoch of the
    mixture consumes — the number a data-budget review reads first).

    Determinism: slice sizes are exact BIGINT sums; each sqrt is
    rounded to 6 dp and summed as DECIMAL (associative — safe under
    any partial-agg order), so both engines normalize by the
    identical total.  Scale: one two-phase aggregate to ~|languages|
    rows, then a scalar broadcast — nothing else moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    slice_ = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("slice_chars"),
        F.round(F.sqrt(F.sum("n_chars").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("temp_mass"),
    )
    tot = slice_.agg(
        F.sum("temp_mass").alias("tot_mass"),
        F.sum("slice_chars").alias("tot_chars"),
    )
    share = F.col("temp_mass").cast("double") / F.col("tot_mass").cast("double")
    return slice_.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "slice_chars",
        F.round(share, 6).alias("mix_weight"),
        F.round(
            share
            * (F.col("tot_chars").cast("double") / F.col("slice_chars").cast("double")),
            6,
        ).alias("eff_repeat"),
    )


@register(
    "sequence_packing_plan",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               GREATEST(1, n_chars // {_CHARS_PER_TOKEN}) AS est_tokens,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _PACK_SEED)}
                   % {_PACK_SHARDS} AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, est_tokens,
               CAST(COALESCE(SUM(est_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM d
    )
    SELECT doc_id, shard, est_tokens,
           shard * {_SEQ_STRIDE} + cum_before // {_SEQ_LEN} AS seq_id,
           cum_before % {_SEQ_LEN} AS offset_in_seq,
           (cum_before + est_tokens - 1) // {_SEQ_LEN}
               - cum_before // {_SEQ_LEN} + 1 AS seqs_spanned
    FROM c
    """,
)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing plan: each document's position in the
    fixed-length training-sequence stream of its shard — global
    ``seq_id`` of the sequence it starts in, token ``offset_in_seq``,
    and how many sequences it ``seqs_spanned`` (boundary-crossing
    docs; a loader either splits them or masks the overhang).

    One windowed BIGINT prefix sum per shard (hash-of-doc_id shard →
    ``PARTITION BY shard ORDER BY doc_id`` window, all
    within-partition after a single hash shuffle); floor-division
    arithmetic on the prefix sum yields the chunk layout.  All values
    are nonnegative BIGINTs < 2^40, so Spark's ``floor(a / b)``
    (double division is exact below 2^53) equals DuckDB's ``//``.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.greatest(F.lit(1), F.floor(F.col("n_chars") / _CHARS_PER_TOKEN)).alias(
            "est_tokens"
        ),
        (
            portable_hash64(F.col("doc_id").cast("string"), seed=_PACK_SEED)
            % _PACK_SHARDS
        ).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("est_tokens").over(w), F.lit(0)))
    seq_in_shard = F.floor(F.col("cum_before") / _SEQ_LEN)
    return c.select(
        "doc_id",
        "shard",
        "est_tokens",
        (F.col("shard") * _SEQ_STRIDE + seq_in_shard).alias("seq_id"),
        (F.col("cum_before") % _SEQ_LEN).alias("offset_in_seq"),
        (
            F.floor((F.col("cum_before") + F.col("est_tokens") - 1) / _SEQ_LEN)
            - seq_in_shard
            + 1
        ).alias("seqs_spanned"),
    )


#: Target fraction of total corpus chars the sampled mixture draws.
_SAMPLE_BUDGET = 0.5

_SAMPLE_SEED = 13

#: 2^60 — the portable hash is uniform on [0, 2^60).
_HASH_SPAN = float(1 << 60)


@register(
    "corpus_sampling_plan",
    oracle=f"""
    WITH slice AS (
        SELECT lang,
               SUM(n_chars) AS slice_chars,
               CAST(ROUND(SQRT(CAST(SUM(n_chars) AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS temp_mass
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT SUM(temp_mass) AS tot_mass, SUM(slice_chars) AS tot_chars
        FROM slice
    ),
    rate AS (
        SELECT s.lang,
               ROUND(LEAST(1.0,
                   {_SAMPLE_BUDGET}
                   * (CAST(s.temp_mass AS DOUBLE) / CAST(t.tot_mass AS DOUBLE))
                   * (CAST(t.tot_chars AS DOUBLE)
                      / CAST(s.slice_chars AS DOUBLE))), 6) AS keep_rate
        FROM slice s CROSS JOIN tot t
    )
    SELECT d.doc_id, d.lang, r.keep_rate,
           ROUND(CAST({PORTABLE_HASH64_SQL("CAST(d.doc_id AS VARCHAR)", _SAMPLE_SEED)}
                      AS DOUBLE) / {_HASH_SPAN}, 9) AS u,
           ROUND(CAST({PORTABLE_HASH64_SQL("CAST(d.doc_id AS VARCHAR)", _SAMPLE_SEED)}
                      AS DOUBLE) / {_HASH_SPAN}, 9) < r.keep_rate AS keep
    FROM documents d JOIN rate r ON d.lang = r.lang
    """,
)
def corpus_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-aware downsampling plan: each document
    gets a uniform deviate ``u`` from the portable hash of its id and
    is kept iff ``u < keep_rate(lang)``, where the per-language rate
    realizes the temperature mixture (:func:`corpus_mixture_weights`)
    at a ``{_SAMPLE_BUDGET:.0%}``-of-corpus character budget
    (rates clamp at 1 — upsampling beyond 1 epoch is the training
    loader's repeat, not the sampler's).

    Hash-of-key (never ``rand()``) for the same reason as
    ``dataset_split_assignment``: the keep decision is reproducible
    across runs, clusters, and row order, so two teams sampling the
    same corpus get byte-identical datasets.  Composes upstream of
    packing: filter by ``keep``, then :func:`sequence_packing_plan`.
    Scale: rates are a ~|languages|-row broadcast; the scan is one
    map-side projection — zero shuffles of the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    slice_ = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("slice_chars"),
        F.round(F.sqrt(F.sum("n_chars").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("temp_mass"),
    )
    tot = slice_.agg(
        F.sum("temp_mass").alias("tot_mass"),
        F.sum("slice_chars").alias("tot_chars"),
    )
    rate = slice_.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                _SAMPLE_BUDGET
                * (F.col("temp_mass").cast("double") / F.col("tot_mass").cast("double"))
                * (
                    F.col("tot_chars").cast("double")
                    / F.col("slice_chars").cast("double")
                ),
            ),
            6,
        ).alias("keep_rate"),
    )
    u = F.round(
        portable_hash64(F.col("doc_id").cast("string"), seed=_SAMPLE_SEED).cast(
            "double"
        )
        / _HASH_SPAN,
        9,
    )
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rate), "lang")
        .select(
            "doc_id",
            "lang",
            "keep_rate",
            u.alias("u"),
            (u < F.col("keep_rate")).alias("keep"),
        )
    )


#: RAG chunking geometry: chunk length, overlap, and the resulting
#: stride between chunk starts (all in estimated tokens).
_CHUNK_TOKENS = 256
_CHUNK_OVERLAP = 64
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "doc_chunking_plan",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               GREATEST(1, n_chars // {_CHARS_PER_TOKEN}) AS est_tokens
        FROM documents
    ),
    n AS (
        SELECT doc_id, est_tokens,
               GREATEST(1, (est_tokens - {_CHUNK_OVERLAP} + {_CHUNK_STRIDE} - 1)
                           // {_CHUNK_STRIDE}) AS n_chunks
        FROM d
    )
    SELECT doc_id, est_tokens,
           CAST(k AS INTEGER) AS chunk_idx,
           CAST(k * {_CHUNK_STRIDE} AS BIGINT) AS tok_start,
           CAST(LEAST({_CHUNK_TOKENS}, est_tokens - k * {_CHUNK_STRIDE}) AS BIGINT)
               AS tok_len
    FROM n, LATERAL unnest(generate_series(0, CAST(n_chunks - 1 AS INTEGER))) u(k)
    """,
)
def doc_chunking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking plan: overlapping {_CHUNK_TOKENS}-token
    windows every {_CHUNK_STRIDE} tokens (overlap {_CHUNK_OVERLAP}), from
    metadata only — the retrieval-corpus complement of
    :func:`sequence_packing_plan` (packing fills fixed sequences
    across documents; chunking splits each document into overlapping
    retrieval units).

    Pure map-side: token estimate and chunk count are per-row
    arithmetic, chunk rows come from ``explode(sequence(...))`` — zero
    shuffles at any corpus size, so the plan for a 100 TB corpus costs
    exactly one scan of the metadata column."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(F.lit(1), F.floor(F.col("n_chars") / _CHARS_PER_TOKEN)).alias(
            "est_tokens"
        ),
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.floor(
            (F.col("est_tokens") - _CHUNK_OVERLAP + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE
        ),
    )
    k = F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("k")
    f = d.select("doc_id", "est_tokens", k)
    return f.select(
        "doc_id",
        "est_tokens",
        F.col("k").cast("int").alias("chunk_idx"),
        (F.col("k") * _CHUNK_STRIDE).cast("bigint").alias("tok_start"),
        F.least(
            F.lit(_CHUNK_TOKENS), F.col("est_tokens") - F.col("k") * _CHUNK_STRIDE
        )
        .cast("bigint")
        .alias("tok_len"),
    )


#: Z-order grid: 4 bits per dimension -> a 16x16 grid, 256 files.
_Z_BITS = 4


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave two {_Z_BITS}-bit bucket expressions into a
    Morton (Z-order) code, as pure integer arithmetic (``//``, ``%``,
    ``*``) so the identical text runs on Spark SQL and DuckDB."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x}) // {1 << i} % 2) * {1 << (2 * i)}")
        terms.append(f"(({y}) // {1 << i} % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "zorder_layout_plan",
    oracle=f"""
    WITH b AS (
        SELECT MIN(o_custkey) AS kmn, MAX(o_custkey) AS kmx,
               MIN(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS tmn,
               MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS tmx
        FROM orders
    ),
    g AS (
        SELECT o.o_orderkey,
               CAST(((o.o_custkey - b.kmn) * {1 << _Z_BITS})
                    // (b.kmx - b.kmn + 1) AS INTEGER) AS x_bucket,
               CAST(((CAST(floor(epoch(o.o_orderdate)) AS BIGINT) - b.tmn) * {1 << _Z_BITS})
                    // (b.tmx - b.tmn + 1) AS INTEGER) AS y_bucket
        FROM orders o CROSS JOIN b
    )
    SELECT o_orderkey, x_bucket, y_bucket,
           CAST({_morton_sql("x_bucket", "y_bucket")} AS INTEGER) AS zfile
    FROM g
    """,
)
def zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) file-layout assignment over the two hot filter
    columns of the orders table — the data-clustering pass a 100 TB
    lakehouse runs so that BOTH ``o_custkey`` range scans and
    ``o_orderdate`` range scans prune most files (a single-column sort
    clusters only one of them; bit interleaving gives each dimension
    half the prefix bits).

    Plan shape: global min/max arrive as a one-row broadcast; bucket
    and Morton-code assignment are pure integer projections (exact and
    engine-identical, no float rounding anywhere).  The actual rewrite
    would be ``df.repartition(zfile).write...`` — this operator is the
    assignment plan the rewrite and its cost estimate read."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").alias("kmn"),
        F.max("o_custkey").alias("kmx"),
        F.min(F.unix_timestamp("o_orderdate")).alias("tmn"),
        F.max(F.unix_timestamp("o_orderdate")).alias("tmx"),
    )
    g = o.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        F.expr(f"CAST((o_custkey - kmn) * {1 << _Z_BITS} div (kmx - kmn + 1) AS INT)").alias(
            "x_bucket"
        ),
        F.expr(
            f"CAST((unix_timestamp(o_orderdate) - tmn) * {1 << _Z_BITS}"
            f" div (tmx - tmn + 1) AS INT)"
        ).alias("y_bucket"),
    )
    spark_morton = _morton_sql("x_bucket", "y_bucket").replace("//", "div")
    return g.select(
        "o_orderkey",
        "x_bucket",
        "y_bucket",
        F.expr(f"CAST({spark_morton} AS INT)").alias("zfile"),
    )


#: Compaction targets: simulated file grid and output-file row target.
_COMPACT_BUCKETS = 8
_COMPACT_TARGET_ROWS = 4000
_COMPACT_SEED = 5


@register(
    "partition_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT CAST(ts AS DATE) AS event_date,
               CAST({PORTABLE_HASH64_SQL("CAST(event_id AS VARCHAR)", _COMPACT_SEED)}
                    % {_COMPACT_BUCKETS} AS INTEGER) AS file_bucket,
               COUNT(*) AS n_rows
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ),
    c AS (
        SELECT event_date, file_bucket, n_rows,
               CAST(COALESCE(SUM(n_rows) OVER (
                   PARTITION BY event_date ORDER BY file_bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM files
    )
    SELECT event_date, file_bucket, n_rows,
           CAST(cum_before // {_COMPACT_TARGET_ROWS} AS INTEGER) AS merge_group,
           n_rows < {_COMPACT_TARGET_ROWS} AS undersized
    FROM c
    """,
)
def partition_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: given the per-(partition, file)
    row counts of a date-partitioned table (simulated here as a hash
    grid over events), assign each file to a merge group of
    ~{_COMPACT_TARGET_ROWS} rows via a per-partition prefix sum — the
    maintenance pass that keeps a streaming-ingested 100 TB table from
    drowning in kilobyte files.

    Same sharded-prefix-sum shape as :func:`sequence_packing_plan`:
    file stats are a tiny aggregate (one row per file, not per row),
    the packing window is ``PARTITION BY event_date`` — fully parallel
    across partitions, never a global sort.  The executor of this plan
    coalesces each merge group with one read+write; files already at
    target size form singleton groups and are left untouched."""
    files = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            F.to_date("ts").alias("event_date"),
            (
                portable_hash64(F.col("event_id").cast("string"), seed=_COMPACT_SEED)
                % _COMPACT_BUCKETS
            )
            .cast("int")
            .alias("file_bucket"),
        )
        .agg(F.count("*").alias("n_rows"))
    )
    w = (
        Window.partitionBy("event_date")
        .orderBy("file_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = files.withColumn(
        "cum_before", F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("bigint")
    )
    return c.select(
        "event_date",
        "file_bucket",
        "n_rows",
        F.floor(F.col("cum_before") / _COMPACT_TARGET_ROWS).cast("int").alias("merge_group"),
        (F.col("n_rows") < _COMPACT_TARGET_ROWS).alias("undersized"),
    )


#: Data-skipping audit predicate: the hot filter whose file-pruning
#: effectiveness is being measured.
_SKIP_PRED_LO = 400.0


@register(
    "file_skipping_stats",
    oracle=f"""
    WITH files AS (
        SELECT CAST(ts AS DATE) AS event_date,
               CAST({PORTABLE_HASH64_SQL("CAST(event_id AS VARCHAR)", _COMPACT_SEED)}
                    % {_COMPACT_BUCKETS} AS INTEGER) AS file_bucket,
               COUNT(*) AS n_rows,
               ROUND(MIN(value), 6) AS min_value,
               ROUND(MAX(value), 6) AS max_value
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_date, file_bucket, n_rows, min_value, max_value,
           max_value < {_SKIP_PRED_LO} AS skippable,
           CASE WHEN max_value < {_SKIP_PRED_LO} THEN n_rows ELSE 0 END AS rows_skipped
    FROM files
    """,
)
def file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit: per (partition, file) zone-map stats
    (min/max of the hot filter column) and whether the file is
    entirely skippable for the predicate ``value >= {_SKIP_PRED_LO}``
    — the measurement behind parquet row-group pruning and lakehouse
    file statistics.  Read next to :func:`zorder_layout_plan`: Z-order
    clustering exists precisely to make these zone maps tight, and
    this operator is how you prove the clustering paid off (sum
    ``rows_skipped`` before/after a rewrite).

    Metadata-shaped: one aggregate to |files| rows; the audit never
    rereads data a second time."""
    files = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            F.to_date("ts").alias("event_date"),
            (
                portable_hash64(F.col("event_id").cast("string"), seed=_COMPACT_SEED)
                % _COMPACT_BUCKETS
            )
            .cast("int")
            .alias("file_bucket"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )
    skippable = F.col("max_value") < _SKIP_PRED_LO
    return files.select(
        "event_date",
        "file_bucket",
        "n_rows",
        "min_value",
        "max_value",
        skippable.alias("skippable"),
        F.when(skippable, F.col("n_rows")).otherwise(0).alias("rows_skipped"),
    )


#: Distributed-training shard fan-out for the manifest op.
_N_SHARDS = 16


@register(
    "training_shard_manifest",
    oracle=f"""
    WITH a AS (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) / {_CHARS_PER_TOKEN} AS est_tokens,
               {PORTABLE_HASH64_SQL("doc_id", 5)} % {_N_SHARDS} AS shard_id
        FROM documents
    ),
    s AS (
        SELECT shard_id,
               COUNT(*) AS n_docs,
               ROUND(SUM(est_tokens), 2) AS est_tokens
        FROM a GROUP BY 1
    ),
    t AS (SELECT AVG(est_tokens) AS mean_tokens FROM s)
    SELECT s.shard_id, s.n_docs, s.est_tokens,
           ROUND(s.est_tokens / t.mean_tokens, 6) AS balance_ratio
    FROM s, t
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-training shard manifest: assign every document to
    one of 16 data-loader shards by portable hash — a ZERO-SHUFFLE
    map-side assignment (each trainer rank later reads only its
    shard's files, so assignment must not depend on any global
    ordering) — and audit the realized balance: per-shard doc/token
    totals and the ratio to the mean shard (hash striping balances in
    expectation; the audit is what tells you when a pathological
    corpus needs explicit bin packing instead).

    Scale shape: one scan + one 16-group aggregate; the mean joins
    back as a broadcast scalar.  The equivalent at petabyte scale
    shards FILES rather than documents — same query over the file
    manifest."""
    d = load_table(spark, sf_dir, "documents")
    a = d.select(
        "doc_id",
        (F.col("n_chars").cast("double") / _CHARS_PER_TOKEN).alias("est_tokens"),
        (portable_hash64(F.col("doc_id"), seed=5) % _N_SHARDS).alias("shard_id"),
    )
    s = a.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("est_tokens"), 2).alias("est_tokens"),
    )
    t = s.agg(F.avg("est_tokens").alias("mean_tokens"))
    return s.crossJoin(F.broadcast(t)).select(
        "shard_id",
        "n_docs",
        "est_tokens",
        F.round(F.col("est_tokens") / F.col("mean_tokens"), 6).alias(
            "balance_ratio"
        ),
    )


_KFOLD_K = 5
_KFOLD_SEED = 77


@register(
    "stratified_kfold_plan",
    oracle=f"""
    WITH folded AS (
        SELECT lang, n_chars,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", seed=_KFOLD_SEED)}
                   % {_KFOLD_K} AS fold
        FROM documents
    )
    SELECT lang, fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM folded
    GROUP BY 1, 2
    """,
)
def stratified_kfold_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold cross-validation plan: every document lands
    in fold ``portable_hash64(doc_id) % 5`` — reproducible across
    runs, clusters, and row order (same contract as
    ``dataset_split_assignment``), and independent per document, so
    each language stratum spreads ~uniformly over folds without any
    per-stratum shuffle or counter.  The emitted (lang, fold) census
    IS the balance audit: a skewed cell means a doc_id-generation
    artifact, caught before any training run.

    Scale: one map-side hash + one bounded aggregate
    (|langs| × k rows out); the assignment itself never materializes
    — any consumer recomputes ``fold`` from doc_id in its own scan
    (zero-storage split, the property that matters when the corpus is
    100 TB and a materialized assignment table would be another
    corpus-sized artifact)."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        portable_hash64(F.col("doc_id").cast("string"), seed=_KFOLD_SEED) % _KFOLD_K
    ).alias("fold")
    return (
        docs.select("lang", "n_chars", fold)
        .groupBy("lang", "fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        )
    )


#: Rendezvous (highest-random-weight) shard ring: 8 shards, each doc
#: hashed once PER SHARD with a shard-tagged seed; the winner is the
#: max weight.  Distinct seed base from every other hash family.
_HRW_SHARDS = 8
_HRW_SEED_BASE = 9100


def _hrw_case_sql() -> tuple[str, str]:
    """DuckDB twin of the argmax-by-first-match shard pick: returns
    (the hash-projection SELECT, the first-match WHEN ladder)."""
    hs = [
        PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", seed=_HRW_SEED_BASE + s)
        for s in range(_HRW_SHARDS)
    ]
    greatest = "GREATEST(" + ", ".join(hs) + ")"
    whens = "\n               ".join(
        f"WHEN {h} = g THEN {s}" for s, h in enumerate(hs)
    )
    return f"SELECT doc_id, n_chars, {greatest} AS g FROM documents", whens


@register(
    "doc_shard_rendezvous",
    oracle=f"""
    WITH g AS ({_hrw_case_sql()[0]}),
    a AS (
        SELECT n_chars,
               CASE {_hrw_case_sql()[1]}
               END AS shard
        FROM g
    ),
    s AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM a GROUP BY 1
    )
    SELECT shard, n_docs, n_chars_total,
           ROUND(CAST(n_docs AS DOUBLE)
                 / SUM(n_docs) OVER (), 6) AS doc_share,
           ROUND(CAST(n_chars_total AS DOUBLE)
                 / SUM(n_chars_total) OVER (), 6) AS char_share
    FROM s
    """,
)
def doc_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment census
    over the document corpus (Thaler & Ravishankar 1998): each doc
    scores every shard with an independent portable hash and joins
    the shard with the max weight.  Unlike ``hash(doc) % k`` (the
    kfold/split family), HRW gives MINIMAL RESHUFFLE under topology
    change — adding or removing one shard moves only ~1/k of the
    corpus (the docs whose argmax changes), which is the property a
    100 TB corpus cares about when the shard fleet scales.

    Determinism: every weight is the portable 60-bit MD5 hash;
    argmax ties (astronomically unlikely, 2^-60) break to the lowest
    shard index via first-match CASE order in BOTH engines; counts
    and char sums are exact integers; the two share columns are
    single IEEE divides of exact integers.

    Scale shape: k hashes per row map-side (no per-shard pass), one
    aggregate to exactly k rows, one trivial k-row window for shares
    — zero joins, zero sorts, one shuffle of k×partitions partials."""
    docs = load_table(spark, sf_dir, "documents")
    hs = [
        portable_hash64(F.col("doc_id").cast("string"), seed=_HRW_SEED_BASE + s)
        for s in range(_HRW_SHARDS)
    ]
    g = F.greatest(*hs)
    expr = None
    for s, h in enumerate(hs):
        expr = F.when(h == g, s) if expr is None else expr.when(h == g, s)
    agg = (
        docs.select(expr.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        )
    )
    w = Window.partitionBy()
    return agg.select(
        "shard",
        "n_docs",
        "n_chars_total",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("doc_share"),
        F.round(
            F.col("n_chars_total").cast("double") / F.sum("n_chars_total").over(w),
            6,
        ).alias("char_share"),
    )


#: Token-balanced shard cuts: target tokens per training shard and
#: the shuffle-order hash seed (own base, no collision with the HRW
#: ring at 9100+ or any other hash family).
_SHARD_CUT_TARGET = 4096
_SHARD_CUT_SEED = 9300


@register(
    "training_shard_cut_plan",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               GREATEST(1, n_chars // {_CHARS_PER_TOKEN}) AS est_tokens,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _SHARD_CUT_SEED)}
                   AS h
        FROM documents
    ),
    c AS (
        SELECT doc_id, est_tokens, h,
               CAST(SUM(est_tokens) OVER (
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM d
    ),
    tot AS (SELECT CAST(SUM(est_tokens) AS BIGINT) AS t FROM c),
    s AS (
        SELECT (cum - 1) // {_SHARD_CUT_TARGET} AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(est_tokens) AS BIGINT) AS shard_tokens,
               CAST(MAX(cum) AS BIGINT) AS cum_end
        FROM c GROUP BY 1
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id, n_docs, shard_tokens,
           cum_end,
           ROUND(CAST(shard_tokens AS DOUBLE) / tot.t, 6) AS token_share
    FROM s CROSS JOIN tot
    """,
)
def training_shard_cut_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced training-shard cut plan: documents laid on a
    deterministic hash-shuffle line (portable hash of doc_id — the
    content-independent global shuffle every pretraining run starts
    with), then cut into contiguous shards of ~{_SHARD_CUT_TARGET}
    estimated tokens by the RUNNING TOKEN TOTAL — shard id is one
    integer division of the inclusive cumulative.  Complements
    [[range_partition_balance_plan]] (row-balanced range cuts) and
    [[doc_shard_rendezvous]] (topology-stable hash assignment) with
    the cut every dataloader actually wants: equal OPTIMIZER WORK
    (tokens) per shard, not equal doc counts.  Measured signal (r11,
    sf0.01): per-doc token estimates span 10×, σ≈25 — row-balanced
    cuts would give shards up to ~2× apart in token load.

    Determinism: hash order is the portable 60-bit MD5 (doc_id
    tiebreak); token estimates and the running sum are exact BIGINT;
    shard assignment is one exact integer division; the single share
    column is one IEEE divide of exact integers.

    Scale shape: metadata-only scan (doc_id, n_chars — the corpus
    text is never read); the running total routes through
    :func:`functions.ranking.running_totals` (sampled-cut-point
    chunks + broadcast offsets, no single-task sort); the per-shard
    rollup is one hash aggregate."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(
            F.lit(1), F.floor(F.col("n_chars") / _CHARS_PER_TOKEN)
        ).cast("bigint").alias("est_tokens"),
        portable_hash64(
            F.col("doc_id").cast("string"), seed=_SHARD_CUT_SEED
        ).alias("h"),
    )
    c = running_totals(
        d, [("h", "asc"), ("doc_id", "asc")], ["est_tokens"]
    ).select(
        "doc_id",
        "est_tokens",
        F.col("est_tokens_cum").cast("bigint").alias("cum"),
    )
    tot = c.agg(F.sum("est_tokens").cast("bigint").alias("t"))
    s = c.groupBy(
        (
            (F.col("cum") - 1) - (F.col("cum") - 1) % _SHARD_CUT_TARGET
        ).cast("bigint")
        .alias("_cut")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("est_tokens").cast("bigint").alias("shard_tokens"),
        F.max("cum").cast("bigint").alias("cum_end"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        (F.col("_cut") / _SHARD_CUT_TARGET).cast("bigint").alias("shard_id"),
        "n_docs",
        "shard_tokens",
        "cum_end",
        F.round(
            F.col("shard_tokens").cast("double") / F.col("t"), 6
        ).alias("token_share"),
    )


#: Range-partitioner target: how many output partitions the plan
#: lays the event history across (at 100 TB this is the write-side
#: ``repartitionByRange`` parallelism; 8 keeps the sf-scale output a
#: readable decision table).
_RANGE_PARTS = 8


@register(
    "range_partition_balance_plan",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    c AS (
        SELECT day, n,
               CAST(COALESCE(SUM(n) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before,
               CAST(SUM(n) OVER () AS BIGINT) AS total
        FROM d
    ),
    a AS (
        SELECT day, n, total,
               LEAST(cum_before * {_RANGE_PARTS} // total,
                     {_RANGE_PARTS - 1}) AS pidx
        FROM c
    )
    SELECT CAST(pidx AS INTEGER) AS partition_idx,
           MIN(day) AS date_lo,
           MAX(day) AS date_hi,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           FLOOR(CAST(SUM(n) AS DOUBLE) / ANY_VALUE(total)
                 * 1000000.0 + 0.5) / 1000000.0 AS row_share,
           FLOOR(CAST(SUM(n) AS DOUBLE) * {_RANGE_PARTS}
                 / ANY_VALUE(total) * 10000.0 + 0.5) / 10000.0
               AS balance_ratio
    FROM a GROUP BY 1
    """,
)
def range_partition_balance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner boundary table over the event history — the
    missing member of the layout family ([[zorder_layout_plan]] /
    [[partition_compaction_plan]] / [[file_skipping_stats]] /
    [[dict_encoding_advisor]]): split the time axis into
    ``_RANGE_PARTS`` row-balanced date ranges (what
    ``df.repartitionByRange`` samples for, computed here exactly) and
    audit the realized balance — per partition its [date_lo, date_hi]
    bounds, day/row counts, row share, and the balance ratio vs the
    ideal 1/P.  At 100 TB this table IS the write-side partitioning
    decision: the boundaries feed ``repartitionByRange`` (or the
    lakehouse partition spec) and the balance column is what tells
    you when time-skew (a viral day) needs the boundaries recut.

    Day assignment is integer-exact: a day lands in partition
    ``floor(rows_before_it × P / total)`` — the equal-frequency cut a
    range partitioner converges to, with no percentile interpolation
    (and so no float exposure) anywhere.

    Determinism: day counts, cumulative sums and bounds are exact
    integer/date aggregates; partition assignment is exact integer
    division; the two shares are fixed IEEE divides through the
    sign-safe floor ladder (all operands non-negative).

    Scale shape: one map-side-combined hash aggregate collapses the
    corpus to |days| rows (bounded by the calendar span, NOT corpus
    size — 30 rows for this event history, ~3.7k even at a decade of
    days), so the unpartitioned running-sum window and the final
    8-group aggregate are metadata-scale by construction; no joins,
    nothing driver-side."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wb = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy()
    c = d.select(
        "day",
        "n",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).cast("bigint").alias(
            "cum_before"
        ),
        F.sum("n").over(wt).cast("bigint").alias("total"),
    )
    a = c.select(
        "day",
        "n",
        "total",
        F.least(
            F.expr(f"cum_before * {_RANGE_PARTS} div total"),
            F.lit(_RANGE_PARTS - 1),
        ).alias("pidx"),
    )
    return a.groupBy(F.col("pidx").cast("int").alias("partition_idx")).agg(
        F.min("day").alias("date_lo"),
        F.max("day").alias("date_hi"),
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("n_rows"),
        (
            F.floor(
                F.sum("n").cast("double") / F.first("total") * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("row_share"),
        (
            F.floor(
                F.sum("n").cast("double")
                * _RANGE_PARTS
                / F.first("total")
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("balance_ratio"),
    )


@register(
    "sequence_packing_efficiency",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               GREATEST(1, n_chars // {_CHARS_PER_TOKEN}) AS est_tokens,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _PACK_SEED)}
                   % {_PACK_SHARDS} AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, est_tokens,
               CAST(COALESCE(SUM(est_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM d
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(est_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM((est_tokens + {_SEQ_LEN} - 1) // {_SEQ_LEN})
                    AS BIGINT) AS naive_seqs,
               CAST(SUM(CASE WHEN (cum_before + est_tokens - 1)
                                  // {_SEQ_LEN}
                                  > cum_before // {_SEQ_LEN}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_split
        FROM c
    ),
    sh AS (
        SELECT CAST(SUM((st + {_SEQ_LEN} - 1) // {_SEQ_LEN}) AS BIGINT)
                   AS concat_seqs
        FROM (SELECT shard, SUM(est_tokens) AS st FROM d GROUP BY 1)
    )
    SELECT 'pad_per_doc' AS strategy,
           naive_seqs AS n_sequences,
           CAST(naive_seqs * {_SEQ_LEN} - total_tokens AS BIGINT)
               AS padding_tokens,
           FLOOR((1.0 - CAST(total_tokens AS DOUBLE)
                  / (naive_seqs * {_SEQ_LEN})) * 1000000.0 + 0.5)
               / 1000000.0 AS waste_share,
           CAST(0 AS BIGINT) AS docs_split,
           0.0 AS docs_split_share
    FROM tot
    UNION ALL
    SELECT 'concat_chunk_sharded',
           sh.concat_seqs,
           CAST(sh.concat_seqs * {_SEQ_LEN} - tot.total_tokens AS BIGINT),
           FLOOR((1.0 - CAST(tot.total_tokens AS DOUBLE)
                  / (sh.concat_seqs * {_SEQ_LEN})) * 1000000.0 + 0.5)
               / 1000000.0,
           tot.n_split,
           FLOOR(CAST(tot.n_split AS DOUBLE) / tot.n_docs
                 * 1000000.0 + 0.5) / 1000000.0
    FROM tot CROSS JOIN sh
    """,
)
def sequence_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-strategy efficiency table — the design evidence behind
    [[sequence_packing_plan]]: for pad-per-document vs the engine's
    sharded concat-and-chunk layout, the sequence count, absolute
    padding tokens, padding-waste share, and (for concat) how many
    documents get split across a sequence boundary — the
    cross-contamination / overhang-masking cost padding avoids
    (measured at sf0.01 with the module's 2048-token sequences over
    12–137-token docs: pad-per-doc wastes 96.4% of every batch;
    concat wastes 17.7% — entirely the 8 per-shard tail sequences at
    this tiny corpus, a share that shrinks as shards/total_sequences
    → 0 at real scale — and splits 2.8% of docs.  The table that
    justifies concat-and-chunk as the default and quantifies exactly
    what the loader's boundary masking must handle).

    Determinism: token estimates, prefix sums, ceil-divisions and
    boundary-crossing flags are all exact BIGINT arithmetic on the
    SAME shard/prefix-sum frame the packing plan emits (constants
    cited, not duplicated); the three shares are fixed IEEE divides
    through the sign-safe floor ladder.

    Scale shape: identical to the packing plan — one hash shuffle
    into shard-partitioned prefix-sum windows, collapsed to two
    1-row aggregates; metadata-only (``n_chars``), the corpus text
    is never read."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(
            F.lit(1), F.floor(F.col("n_chars") / _CHARS_PER_TOKEN)
        ).alias("est_tokens"),
        (
            portable_hash64(F.col("doc_id").cast("string"), seed=_PACK_SEED)
            % _PACK_SHARDS
        ).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_before",
        F.coalesce(F.sum("est_tokens").over(w), F.lit(0)).cast("bigint"),
    )
    tot = c.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("est_tokens").cast("bigint").alias("total_tokens"),
        F.sum(
            F.floor((F.col("est_tokens") + _SEQ_LEN - 1) / _SEQ_LEN)
        )
        .cast("bigint")
        .alias("naive_seqs"),
        F.sum(
            F.when(
                F.floor(
                    (F.col("cum_before") + F.col("est_tokens") - 1) / _SEQ_LEN
                )
                > F.floor(F.col("cum_before") / _SEQ_LEN),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_split"),
    )
    sh = (
        d.groupBy("shard")
        .agg(F.sum("est_tokens").alias("st"))
        .agg(
            F.sum(F.floor((F.col("st") + _SEQ_LEN - 1) / _SEQ_LEN))
            .cast("bigint")
            .alias("concat_seqs")
        )
    )
    naive = tot.select(
        F.lit("pad_per_doc").alias("strategy"),
        F.col("naive_seqs").alias("n_sequences"),
        (F.col("naive_seqs") * _SEQ_LEN - F.col("total_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        (
            F.floor(
                (
                    1.0
                    - F.col("total_tokens").cast("double")
                    / (F.col("naive_seqs") * _SEQ_LEN)
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("waste_share"),
        F.lit(0).cast("bigint").alias("docs_split"),
        F.lit(0.0).alias("docs_split_share"),
    )
    concat = tot.crossJoin(F.broadcast(sh)).select(
        F.lit("concat_chunk_sharded").alias("strategy"),
        F.col("concat_seqs").alias("n_sequences"),
        (F.col("concat_seqs") * _SEQ_LEN - F.col("total_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        (
            F.floor(
                (
                    1.0
                    - F.col("total_tokens").cast("double")
                    / (F.col("concat_seqs") * _SEQ_LEN)
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("waste_share"),
        F.col("n_split").alias("docs_split"),
        (
            F.floor(
                F.col("n_split").cast("double") / F.col("n_docs") * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("docs_split_share"),
    )
    return naive.unionAll(concat)


#: Bloom-filter sizing constants, precomputed in Python at definition
#: time and inlined as INTEGER literals in both engines (the
#: _DECAY_WQ discipline — zero libm at query time for the sizing
#: itself): bits-per-key at the 1% target FPP, m/n = −ln(0.01)/ln²2,
#: and ln 2 for the optimal hash count k = (m/n)·ln 2.
_BLOOM_TARGET_FPP = 0.01
_BLOOM_BITS_PER_KEY_E9 = 9585058377  # floor(-ln(0.01)/ln²2 · 1e9)
_BLOOM_LN2_E9 = 693147180  # floor(ln2 · 1e9)
#: Join-key candidates the advisor sizes (the _FK_RELATIONS
#: discipline: one literal table drives the Spark loop AND the
#: oracle generator).
_BLOOM_CANDIDATES: tuple[tuple[str, str], ...] = (
    ("lineitem", "l_partkey"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
)


def _bloom_oracle() -> str:
    branches = "\n        UNION ALL ".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col_name,"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv FROM {t}"
        for t, c in _BLOOM_CANDIDATES
    )
    return f"""
    WITH nd AS (
        {branches}
    ),
    sz AS (
        SELECT tbl, col_name, ndv,
               CAST(CEIL(ndv * {_BLOOM_BITS_PER_KEY_E9}
                         / 1000000000.0) AS BIGINT) AS m_bits
        FROM nd
    ),
    k AS (
        SELECT *,
               CAST(FLOOR(CAST(m_bits AS DOUBLE) / ndv
                          * {_BLOOM_LN2_E9} / 1000000000.0 + 0.5)
                    AS BIGINT) AS k_hashes
        FROM sz
    )
    SELECT tbl, col_name, ndv, m_bits, k_hashes,
           FLOOR(CAST(m_bits AS DOUBLE) / ndv * 1000000.0 + 0.5)
               / 1000000.0 AS bits_per_key,
           FLOOR(CAST(m_bits AS DOUBLE) / 8.0 / 1048576.0 * 1000000.0
                 + 0.5) / 1000000.0 AS mib,
           FLOOR(POW(1.0 - EXP(-CAST(k_hashes AS DOUBLE) * ndv / m_bits),
                     k_hashes) * 100000000.0 + 0.5) / 100000000.0
               AS expected_fpp
    FROM k
    """


@register("bloom_filter_sizing_advisor", oracle=_bloom_oracle())
def bloom_filter_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing advisor for the engine's join-key columns:
    exact NDV per candidate key, then the standard optimal sizing at
    the 1% target FPP — m = ⌈n·(−ln p/ln²2)⌉ bits, k = ⌊(m/n)·ln 2⌉
    hashes — plus the resulting MiB footprint and the achieved
    expected FPP (1 − e^{{−kn/m}})^k.  This is the design table behind
    [[bloom_prejoin_prune]]'s runtime filter and Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.*`` sizing knobs: an
    undersized filter silently degrades to pass-through FPP, an
    oversized one evicts itself from executor memory.  Measured
    signal (r12, sf0.01): the four keys span NDV 2,000 → 60,175, so
    the table exercises three different MiB size classes rather than
    collapsing to one row repeated.

    Determinism: NDV is an exact distinct count; bits-per-key and
    ln 2 are definition-time INTEGER literals shared by both engines
    (zero libm in the sizing chain); m and k each pass through ONE
    exact IEEE double divide-by-1e9 on integer-valued operands —
    bit-identical in both engines, and the ceil/floor placement is
    mathematically exact while ndv·bits_per_key_e9 < 2^53 (ndv
    ≲ 9.4e5 at the current 9.585 bits/key constant; the stated
    100 TB HLL swap would cross that bound, where the divide is
    still bit-identical cross-engine but the rounding may land one
    bit off the infinite-precision m — size-class-irrelevant for a
    Bloom filter); the achieved-FPP display column is the one
    EXP/POW chain, emitted through the floor ladder at 1e-8 (the
    KS-p-value precedent for cross-engine libm use).

    Scale shape: one exact-distinct aggregate per candidate column
    (map-side partial, the region_revenue discipline) unioned into a
    |candidates|-row table — at 100 TB swap the exact NDV for the
    HLL sketch ([[hll_portable_distinct_rollup]]) without changing
    the sizing contract downstream."""
    out = None
    for t, c in _BLOOM_CANDIDATES:
        nd = (
            load_table(spark, sf_dir, t)
            .agg(F.count_distinct(F.col(c)).cast("bigint").alias("ndv"))
            .select(
                F.lit(t).alias("tbl"),
                F.lit(c).alias("col_name"),
                "ndv",
            )
        )
        out = nd if out is None else out.unionAll(nd)
    m_bits = F.ceil(
        F.col("ndv") * _BLOOM_BITS_PER_KEY_E9 / F.lit(1000000000.0)
    ).cast("bigint")
    sz = out.withColumn("m_bits", m_bits)
    k_hashes = F.floor(
        F.col("m_bits").cast("double")
        / F.col("ndv")
        * _BLOOM_LN2_E9
        / 1000000000.0
        + 0.5
    ).cast("bigint")
    k = sz.withColumn("k_hashes", k_hashes)
    fpp = F.pow(
        F.lit(1.0)
        - F.exp(
            -F.col("k_hashes").cast("double")
            * F.col("ndv")
            / F.col("m_bits")
        ),
        F.col("k_hashes"),
    )
    return k.select(
        "tbl",
        "col_name",
        "ndv",
        "m_bits",
        "k_hashes",
        (
            F.floor(
                F.col("m_bits").cast("double") / F.col("ndv") * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("bits_per_key"),
        (
            F.floor(
                F.col("m_bits").cast("double") / 8.0 / 1048576.0 * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("mib"),
        (F.floor(fpp * 100000000.0 + 0.5) / 100000000.0).alias(
            "expected_fpp"
        ),
    )


#: Reshard audit: key-movement when the shard fleet grows 8 → 9
#: under the two assignment disciplines the engine ships.  The
#: modulo assignment's own hash seed (distinct from the HRW seeds so
#: the comparison isn't hash-correlated).
_RESHARD_MOD_SEED = 9150
#: Expected moved shares for a uniform hash, as exact 1e-6 integers
#: inlined in both engines: modulo moves 8/9 of keys (h%8 == h%9
#: only on 8 of the 72 CRT residues), HRW moves 1/9 (exactly the
#: keys whose new 9th weight beats their old max).
_RESHARD_EXP_MOD_E6 = 888888
_RESHARD_EXP_HRW_E6 = 111111


@register(
    "shard_reshard_movement_audit",
    oracle=f"""
    WITH h AS (
        SELECT {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _RESHARD_MOD_SEED)} AS hm,
               GREATEST({", ".join(PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _HRW_SEED_BASE + s) for s in range(_HRW_SHARDS))}) AS gold,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _HRW_SEED_BASE + _HRW_SHARDS)} AS hnew
        FROM documents
    ),
    f AS (
        SELECT CASE WHEN hm % {_HRW_SHARDS}
                         <> hm % {_HRW_SHARDS + 1} THEN 1 ELSE 0 END
                   AS moved_mod,
               CASE WHEN hnew > gold THEN 1 ELSE 0 END AS moved_hrw,
               1 AS one
        FROM h
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(moved_mod) AS BIGINT) AS mv_mod,
               CAST(SUM(moved_hrw) AS BIGINT) AS mv_hrw
        FROM f
    )
    SELECT 'modulo' AS method, n_keys, mv_mod AS n_moved,
           ROUND(CAST(mv_mod AS DOUBLE) / n_keys, 6) AS moved_share,
           {_RESHARD_EXP_MOD_E6} / 1000000.0 AS expected_share
    FROM s
    UNION ALL
    SELECT 'rendezvous', n_keys, mv_hrw,
           ROUND(CAST(mv_hrw AS DOUBLE) / n_keys, 6),
           {_RESHARD_EXP_HRW_E6} / 1000000.0
    FROM s
    """,
)
def shard_reshard_movement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard movement audit: the fraction of corpus keys that
    CHANGE shards when the fleet grows {n} → {n1}, under plain
    ``hash % k`` versus rendezvous/HRW assignment — the quantified
    version of [[doc_shard_rendezvous]]'s minimal-reshuffle pitch,
    and the number a 100 TB shard-topology change is costed with
    (every moved key is bytes re-copied and caches invalidated):
    modulo reassigns ~8/9 of the corpus, HRW exactly the keys whose
    new shard's weight beats their old max (~1/9 — an 8× smaller
    migration).  Measured signal (r12, sf0.01): moved shares 0.900
    (modulo) and 0.116 (HRW) vs expectations 0.889 / 0.111 — on the
    CRT/uniform predictions within sampling noise.

    Determinism: every weight is the portable 60-bit MD5 hash; the
    movement predicates compare exact integers; shares are single
    IEEE divides of exact counts; the expectation columns are
    definition-time integer literals in both engines.

    Scale shape: {n1}+1 map-side hashes per key, one aggregate to a
    single row, a 2-row emission — zero joins, zero sorts, the same
    embarrassingly-parallel shape as the assignment pass itself."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    hm = portable_hash64(key, seed=_RESHARD_MOD_SEED)
    hs = [
        portable_hash64(key, seed=_HRW_SEED_BASE + s)
        for s in range(_HRW_SHARDS)
    ]
    hnew = portable_hash64(key, seed=_HRW_SEED_BASE + _HRW_SHARDS)
    moved_mod = F.when(
        F.pmod(hm, F.lit(_HRW_SHARDS))
        != F.pmod(hm, F.lit(_HRW_SHARDS + 1)),
        1,
    ).otherwise(0)
    moved_hrw = F.when(hnew > F.greatest(*hs), 1).otherwise(0)
    s = docs.select(
        moved_mod.alias("moved_mod"), moved_hrw.alias("moved_hrw")
    ).agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("moved_mod").cast("bigint").alias("mv_mod"),
        F.sum("moved_hrw").cast("bigint").alias("mv_hrw"),
    )
    mod_row = s.select(
        F.lit("modulo").alias("method"),
        "n_keys",
        F.col("mv_mod").alias("n_moved"),
        F.round(F.col("mv_mod").cast("double") / F.col("n_keys"), 6).alias(
            "moved_share"
        ),
        (F.lit(_RESHARD_EXP_MOD_E6) / 1000000.0).alias("expected_share"),
    )
    hrw_row = s.select(
        F.lit("rendezvous").alias("method"),
        "n_keys",
        F.col("mv_hrw").alias("n_moved"),
        F.round(F.col("mv_hrw").cast("double") / F.col("n_keys"), 6).alias(
            "moved_share"
        ),
        (F.lit(_RESHARD_EXP_HRW_E6) / 1000000.0).alias("expected_share"),
    )
    return mod_row.unionAll(hrw_row)


shard_reshard_movement_audit.__doc__ = shard_reshard_movement_audit.__doc__.format(
    n=_HRW_SHARDS, n1=_HRW_SHARDS + 1
)


#: Temperature sweep: inverse temperatures k = 1/tau with EXACT
#: integer powers (tau = 1 natural, 1/2 the sqrt-flattening of
#: [[corpus_mixture_weights]] squared onto counts, 1/3 sharper).
_TEMP_SWEEP_KS = (1, 2, 3)


@register(
    "mixture_temperature_sweep",
    oracle=f"""
    WITH s AS MATERIALIZED (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    tot AS MATERIALIZED (
        SELECT CAST(SUM(n_docs) AS HUGEINT) AS n FROM s
    ),
    e AS (
        SELECT s.lang, s.n_docs, t.k,
               CASE t.k WHEN 1 THEN CAST(s.n_docs AS HUGEINT)
                        WHEN 2 THEN CAST(s.n_docs AS HUGEINT) * s.n_docs
                        ELSE CAST(s.n_docs AS HUGEINT) * s.n_docs * s.n_docs
               END AS nk,
               CASE t.k WHEN 1 THEN CAST(s.n_docs AS HUGEINT) * s.n_docs
                        WHEN 2 THEN CAST(s.n_docs AS HUGEINT) * s.n_docs
                                    * s.n_docs * s.n_docs
                        ELSE CAST(s.n_docs AS HUGEINT) * s.n_docs * s.n_docs
                             * s.n_docs * s.n_docs * s.n_docs
               END AS n2k
        FROM s CROSS JOIN (SELECT unnest({list(_TEMP_SWEEP_KS)}) AS k) t
    ),
    tk AS MATERIALIZED (
        SELECT k, SUM(nk) AS snk, SUM(n2k) AS sn2k FROM e GROUP BY 1
    )
    SELECT CAST(e.k AS INTEGER) AS inv_tau, e.lang, e.n_docs,
           FLOOR(CAST(e.n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS corpus_share,
           FLOOR(CAST(e.nk AS DOUBLE) / CAST(tk.snk AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS weight,
           FLOOR(CAST(tk.snk AS DOUBLE) * CAST(tk.snk AS DOUBLE)
                 / CAST(tk.sn2k AS DOUBLE) * 10000.0 + 0.5) / 10000.0
               AS eff_langs
    FROM e JOIN tk ON e.k = tk.k CROSS JOIN tot
    ORDER BY inv_tau, lang
    """,
)
def mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixture weights per language at
    inverse temperatures k = 1/tau in {ks}: w_i(tau) proportional to
    p_i^k, with the effective language count 1/Σw² (inverse Simpson)
    per temperature — the sweep a multilingual-pretraining plan runs
    before fixing its sampling temperature ([[corpus_mixture_weights]]
    fixes tau=2 over chars; this sweeps the knob over doc shares and
    reports the diversity each setting buys; this sweep walks the
    CONCENTRATING half tau <= 1, the mirror of the sibling's
    flattening sqrt).  Measured signal (sf0.01, en-heavy 218/500
    corpus): effective languages 3.71 at tau=1 (natural share) ->
    1.93 at tau=1/2 -> 1.29 at tau=1/3, en weight 0.44 -> 0.70 ->
    0.88 — each sharpening step roughly halves the diversity the
    mixture retains, the quantified cost of head-upsampling.

    Determinism: shares use exact integer doc counts; p_i^k
    normalizes as n_i^k / Σ n_j^k with the powers computed as EXACT
    integer products (k is a definition-time integer — the
    "temperature" never touches libm pow), so every weight is one
    IEEE divide of exact integers through the floor ladder; the
    diversity display (Σn^k)²/Σn^(2k) is likewise one IEEE
    expression over exact integers (exact while n_lang^6 < ~1e38 —
    n_lang <= 2e6 docs; at corpus scale the k=3 diversity column
    degrades gracefully to last-ulp display noise, never the
    weights).

    Scale shape: ONE keyed aggregate to the |languages| frame; the
    k-grid explode, per-k totals, and normalization all operate on
    |languages| x |ks| rows — constant-size regardless of corpus
    volume."""
    s = load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    tot = s.agg(F.sum(F.col("n_docs").cast("decimal(38,0)")).alias("n"))
    kt = F.array(*[F.lit(k) for k in _TEMP_SWEEP_KS])
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n = F.col("n_docs")
    e = s.select(
        "lang",
        "n_docs",
        F.explode(kt).alias("k"),
    ).select(
        "lang",
        "n_docs",
        "k",
        F.when(F.col("k") == 1, dec(n))
        .when(F.col("k") == 2, dec(n) * n)
        .otherwise(dec(n) * n * n)
        .alias("nk"),
        F.when(F.col("k") == 1, dec(n) * n)
        .when(F.col("k") == 2, dec(n) * n * n * n)
        .otherwise(dec(n) * n * n * n * n * n)
        .alias("n2k"),
    )
    tk = e.groupBy("k").agg(
        F.sum("nk").alias("snk"), F.sum("n2k").alias("sn2k")
    )
    emit6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return (
        e.join(F.broadcast(tk), "k")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("inv_tau"),
            "lang",
            "n_docs",
            emit6(
                F.col("n_docs").cast("double") / F.col("n").cast("double")
            ).alias("corpus_share"),
            emit6(
                F.col("nk").cast("double") / F.col("snk").cast("double")
            ).alias("weight"),
            (
                F.floor(
                    F.col("snk").cast("double")
                    * F.col("snk").cast("double")
                    / F.col("sn2k").cast("double")
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("eff_langs"),
        )
        .orderBy("inv_tau", "lang")
    )


mixture_temperature_sweep.__doc__ = mixture_temperature_sweep.__doc__.format(
    ks=_TEMP_SWEEP_KS
)


#: Epoch-shuffle audit: docs per training batch and the epoch seed
#: (the shuffle is a pure function of (doc_id, epoch) — rerunning
#: epoch 1 reproduces epoch 1's batches bit-for-bit).
_SHUF_BATCH = 32
_SHUF_EPOCH_SEED = 31


@register(
    "epoch_shuffle_quality_audit",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               {PORTABLE_HASH64_SQL("CAST(doc_id AS VARCHAR)", _SHUF_EPOCH_SEED)}
                   AS h
        FROM documents
    ),
    rk AS (
        SELECT lang,
               (ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1)
                   // {_SHUF_BATCH} AS batch
        FROM d
    ),
    bl AS (
        SELECT batch, lang, CAST(COUNT(*) AS BIGINT) AS c FROM rk
        GROUP BY 1, 2
    ),
    pb AS MATERIALIZED (
        SELECT batch, CAST(SUM(c) AS BIGINT) AS n_b,
               CAST(COUNT(*) AS BIGINT) AS n_langs,
               SUM(c * CAST(FLOOR(ln(c) * 1000000.0) AS BIGINT)) AS sclc
        FROM bl GROUP BY 1
    ),
    he AS (
        SELECT n_langs,
               CAST(FLOOR((ln(n_b) - CAST(sclc AS DOUBLE) / n_b / 1000000.0)
                          * 1000000.0 + 0.5) AS BIGINT) AS he6
        FROM pb
    ),
    corp AS MATERIALIZED (
        SELECT CAST(FLOOR((ln(n) - CAST(s AS DOUBLE) / n / 1000000.0)
                          * 1000000.0 + 0.5) AS BIGINT) AS ce6
        FROM (
            SELECT CAST(SUM(c) AS BIGINT) AS n,
                   SUM(c * CAST(FLOOR(ln(c) * 1000000.0) AS BIGINT)) AS s
            FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
                  FROM documents GROUP BY 1)
        )
    )
    SELECT CAST(n_langs AS INTEGER) AS n_langs,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           FLOOR(CAST(MIN(he6) AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
               / 1000000.0 AS min_batch_entropy,
           FLOOR(CAST(SUM(he6) AS DOUBLE) / COUNT(*) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_batch_entropy,
           FLOOR(CAST(MAX(corp.ce6) AS DOUBLE) / 1000000.0 * 1000000.0
                 + 0.5) / 1000000.0 AS corpus_entropy
    FROM he CROSS JOIN corp
    GROUP BY 1
    ORDER BY 1
    """,
)
def epoch_shuffle_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch shuffle quality: documents are shuffled by the
    portable hash under an epoch seed (the reproducible global
    shuffle every data loader needs), packed into batches of
    {b}, and each batch's LANGUAGE diversity is scored with exact
    Shannon entropy; batches are then summarized by their distinct-
    language count against the corpus-level entropy ceiling — the
    audit that catches clumped shuffles (a sorted-by-source corpus
    fed to a naive sharder yields monolingual batches, and gradient
    noise from non-i.i.d. batches is a real training pathology).
    [[training_shard_cut_plan]] packs by token budget;
    [[dataset_split_assignment]] splits; this AUDITS what an epoch of
    batches actually looks like.  Measured signal (sf0.01, B={b}):
    all 16 batches draw ALL 5 languages, mean batch entropy 1.421 /
    min 1.228 vs the 1.466 corpus ceiling — the hash shuffle is
    mixing correctly (a clumped order would show 1-2-language
    batches and entropies near 0).

    Determinism: the shuffle IS the portable hash order (pure
    function of doc_id and the epoch seed — identical across
    engines, reruns, and shard counts); batch ids come from exact
    chunked ranks; per-batch entropy accumulates c·floor(ln c ·1e6)
    integers (the leaf-quantization idiom of [[vocab_zipf_fit]]) and
    every batch's entropy is floor-quantized BEFORE the per-group
    mean, so the mean averages exact integers.

    Scale shape: one scan + the chunked ``ranked()`` global order
    (parallel per-chunk sorts with broadcast offsets — the epoch
    shuffle of a 100 TB corpus never funnels through one task);
    batch-lang counts and batch summaries are two keyed aggregates;
    the report is |distinct n_langs| rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        portable_hash64(
            F.col("doc_id").cast("string"), seed=_SHUF_EPOCH_SEED
        ).alias("h"),
    )
    rk = ranked(d, [("h", "asc"), ("doc_id", "asc")], rn_col="rn").select(
        "lang",
        ((F.col("rn") - 1) / _SHUF_BATCH).cast("bigint").alias("batch"),
    )
    lnq = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * 1000000.0
    ).cast("bigint")
    bl = rk.groupBy("batch", "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    pb = bl.groupBy("batch").agg(
        F.sum("c").cast("bigint").alias("n_b"),
        F.count("*").cast("bigint").alias("n_langs"),
        F.sum(F.col("c") * lnq(F.col("c"))).cast("bigint").alias("sclc"),
    )
    he = pb.select(
        "n_langs",
        F.floor(
            (
                F.log(F.col("n_b").cast("double"))
                - F.col("sclc").cast("double") / F.col("n_b") / 1000000.0
            )
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("he6"),
    )
    cl = load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    corp = cl.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * lnq(F.col("c"))).cast("bigint").alias("s"),
    ).select(
        F.floor(
            (
                F.log(F.col("n").cast("double"))
                - F.col("s").cast("double") / F.col("n") / 1000000.0
            )
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("ce6"),
    )
    emit6 = lambda c: F.floor(  # noqa: E731
        c / 1000000.0 * 1000000.0 + 0.5
    ) / 1000000.0
    return (
        he.crossJoin(F.broadcast(corp))
        .groupBy("n_langs")
        .agg(
            F.count("*").cast("bigint").alias("n_batches"),
            emit6(F.min("he6").cast("double")).alias("min_batch_entropy"),
            emit6(
                F.sum("he6").cast("double") / F.count("*")
            ).alias("mean_batch_entropy"),
            emit6(F.max("ce6").cast("double")).alias("corpus_entropy"),
        )
        .select(
            F.col("n_langs").cast("int"),
            "n_batches",
            "min_batch_entropy",
            "mean_batch_entropy",
            "corpus_entropy",
        )
        .orderBy("n_langs")
    )


epoch_shuffle_quality_audit.__doc__ = epoch_shuffle_quality_audit.__doc__.format(
    b=_SHUF_BATCH
)
