"""Similarity search over embedding columns (SURVEY §7 M5).

``embeddings(vec_id, embedding array<float>[64], label)``:

* ``ann_cosine_topk`` — brute-force exact cosine top-k, the
  correctness baseline.  Dot products run JVM-side via
  ``zip_with``/``aggregate`` higher-order functions (sequential
  left-to-right fold → bit-identical to the DuckDB oracle's
  ``list_dot_product``); norms are precomputed per side so each
  pair costs one fused multiply-add pass.
* ``embedding_neardup`` — near-duplicate pairs by cosine ≥ 0.95.
* ``ann_ivf_topk`` — the scale path: IVF-style coarse quantization
  (centroid per ``label`` as the deterministic coarse codebook),
  probe the ``nprobe`` nearest centroids, exact search inside probed
  cells only.  Registered rows-only (approximate op); recall vs the
  brute-force baseline is asserted in tests.

Scale: brute force is O(Q·N·d) — fine for a query batch against a
partitioned corpus (broadcast the query block, no shuffle), wrong
for all-pairs at 100 TB.  The IVF path bounds each query to
``nprobe/k`` of the corpus and its cell assignment is one broadcast
join; at real scale the codebook comes from k-means (MLlib) instead
of labels, same plan shape.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import cached_count, load_table, local_rows, spread
from ..functions import PORTABLE_HASH64_SQL, portable_hash64
from ..registry import register
from .text import _BM25_SCORED_SQL_CTES  # no cycle: text does not import similarity

#: spread() quantum for embedding frames (r14): 64 packed doubles per
#: row feed d-length similarity folds, so per-byte compute is ~50×
#: the text default — 16 KB/task keeps a 32-core box busy on sub-MB
#: vector slices and is inert at any real corpus size.
_EMB_TASK_BYTES = 16384

_TOPK = 5
_N_QUERIES = 50
#: The synthetic corpus has no planted near-identical vectors (max
#: pairwise cosine ≈ 0.55); 0.4 keeps the operator's output non-empty
#: so the oracle check exercises real pairs.  A production near-dup
#: pass would use ≥0.95.
_NEARDUP_THRESHOLD = 0.4
_NPROBE = 3


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_norm(df: DataFrame, emb: str = "embedding") -> DataFrame:
    return df.withColumn("nrm", _norm(F.col(emb)))


_DOT_SQL = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)}))"
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
    s AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROUND({_cosine_sql("q.embedding", "b.embedding")}, 6) AS cosine_sim
        FROM q CROSS JOIN embeddings b
        WHERE q.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
        ) AS rnk
        FROM s
    )
    WHERE rnk <= {_TOPK}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{k} for a query batch (vec_id < {n}) against
    the full corpus.  The query block is broadcast; ranking is on the
    6-dp-rounded similarity with neighbor_id tiebreak so Spark and
    DuckDB order identically."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    q = with_norm(emb.filter(F.col("vec_id") < _N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    b = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sims = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("b_emb")) / (F.col("q_nrm") * F.col("b_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id < {_N_QUERIES}
    ),
    s AS (
        SELECT q.vec_id AS query_id, q.label,
               b.vec_id AS neighbor_id,
               ROUND({_cosine_sql("q.embedding", "b.embedding")}, 6) AS cosine_sim
        FROM q JOIN embeddings b ON q.label = b.label
        WHERE q.vec_id <> b.vec_id
    )
    SELECT query_id, CAST(label AS INTEGER) AS label, neighbor_id, cosine_sim,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
        ) AS rnk
        FROM s
    )
    WHERE rnk <= {_TOPK}
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (hybrid) vector search: exact cosine top-k where each
    query ranks ONLY corpus vectors satisfying its metadata predicate
    — here same-label retrieval, the matched-class form every
    recommendation / retrieval stack needs (filtered ANN is the
    classically hard case: post-filtering an unfiltered top-k
    under-returns, so the predicate must constrain the SEARCH, not
    the result).

    Scale shape: the predicate becomes an equi-join key on the
    broadcast query block — the corpus-side scan evaluates
    (label match → dot product) per row and never materializes the
    unfiltered candidate set; ranking windows partition per query.
    With a :class:`VectorIndex`, the same predicate would prune to
    label-and-cell partitions — this operator is the exact
    baseline that variant is measured against."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    q = with_norm(emb.filter(F.col("vec_id") < _N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    b = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sims = (
        b.join(F.broadcast(q), F.col("label") == F.col("b_label"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("b_emb")) / (F.col("q_nrm") * F.col("b_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "query_id",
            F.col("label").cast("int").alias("label"),
            "neighbor_id",
            "cosine_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@register(
    "embedding_label_confusion",
    oracle=f"""
    WITH dims AS (
        SELECT label, u.i AS i, AVG(CAST(embedding[u.i] AS DOUBLE)) AS v
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) u(i)
        GROUP BY label, u.i
    ),
    cent AS (
        SELECT label AS c_label, list(v ORDER BY i) AS c_emb FROM dims GROUP BY label
    ),
    a AS (
        SELECT e.vec_id, e.label, c.c_label,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c_emb)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.c_emb, c.c_emb))), 6) AS sim
        FROM embeddings e CROSS JOIN cent c
    ),
    best AS (
        SELECT vec_id, label, c_label AS pred,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn
        FROM a
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(pred AS INTEGER) AS pred_label,
           COUNT(*) AS n
    FROM best WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def embedding_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label coherence: assign every vector to its
    nearest LABEL CENTROID by cosine and report the confusion matrix
    — the nearest-class-mean probe (a deterministic 1-NN-to-centroid
    classifier) that tells you whether an embedding column actually
    separates its labels before anyone trains on it.  Low diagonal
    mass = the embeddings don't encode the label; off-diagonal
    hot-spots = systematically confused class pairs.

    Scale shape: centroids are one ``posexplode`` aggregate (corpus ×
    dims rows, map-side partial AVG) reassembled per label; scoring
    broadcasts the tiny centroid table against the corpus scan —
    O(N·L·d) flops, no shuffle of the vectors; the rollup is a
    ≤L² hash aggregate.  Ranking uses the 6-dp-rounded similarity
    with label tiebreak (the ``ann_cosine_topk`` discipline) so both
    engines elect identical nearest centroids even on near-ties."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("v"))
    )
    cent = (
        dims.groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "v"))), lambda s: s["v"]
            ).alias("c_emb")
        )
    )
    cent_n = cent.withColumn("c_nrm", _norm(F.col("c_emb")))
    scored = (
        with_norm(emb)
        .crossJoin(F.broadcast(cent_n))
        .select(
            "vec_id",
            "label",
            "c_label",
            F.round(
                _dot(F.col("embedding"), F.col("c_emb")) / (F.col("nrm") * F.col("c_nrm")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.col("label").cast("int").alias("label"),
            F.col("c_label").cast("int").alias("pred_label"),
        )
        .agg(F.count("*").alias("n"))
    )


#: Sign-LSH (random-hyperplane / SimHash-for-vectors, Charikar 2002)
#: banding parameters for the blocked near-dup pass: ``_LSH_R`` sign
#: bits per band, ``_LSH_B`` bands; a pair is a candidate iff it
#: collides in ≥1 band.  P[one hyperplane agrees] = 1 − θ/π, so for a
#: pair at cosine t the miss probability is (1 − p^R)^B.  At the
#: production near-dup regime (t ≥ 0.9, p ≥ 0.86) these defaults prune
#: >99% of pairs; at this corpus's deliberately low t=0.4 (p≈0.63,
#: chosen only so the synthetic data yields non-empty results) the
#: per-pair miss probability is ≈4e-3, i.e. recall is high but not
#: guaranteed (measured: 100% at sf0.001/sf0.01, 919/920 at sf0.1 —
#: asserted in tests/test_vector_index.py).  The oracle therefore
#: replicates the banding rather than comparing against all-pairs.
#: Blocking strength is a function of the threshold, not the plan
#: shape: the plan is a band equi-join at every t.
_LSH_R = 4
_LSH_B = 32
_EMB_DIM = 64


def _rademacher_planes(
    n_planes: int, d: int = _EMB_DIM, prefix: str = "rh"
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from MD5 — the same plane
    matrix on every machine/run, so the LSH signature (and therefore
    the operator's output) is reproducible without a PRNG.  Distinct
    ``prefix`` values yield independent plane families (the near-dup
    bands and the semantic-dedup clustering must not share planes)."""
    import hashlib

    return [
        [
            1.0 if (hashlib.md5(f"{prefix}:{p}:{j}".encode()).digest()[0] & 1) else -1.0
            for j in range(d)
        ]
        for p in range(n_planes)
    ]


def lsh_band_keys(emb: Column, r: int = _LSH_R, b: int = _LSH_B) -> Column:
    """``array<int>`` of ``b`` band keys (each packing ``r`` sign
    bits) for one embedding.  Pure Catalyst: one literal plane matrix,
    one ``transform``+``aggregate`` fold per row — map-side only,
    O(d·r·b) per vector, no shuffle, no Python."""
    planes = _rademacher_planes(r * b)
    w_lit = F.array(*[F.array(*[F.lit(w) for w in row]) for row in planes])
    signs = F.transform(
        w_lit,
        lambda row: (
            F.aggregate(
                F.zip_with(row, emb, lambda w, x: w * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("int"),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda g: F.aggregate(
            F.slice(signs, g * r + 1, r), F.lit(0), lambda acc, s: acc * 2 + s
        ),
    )


@register(
    "embedding_neardup",
    oracle=f"""
    WITH planes AS (
        SELECT p.p, list(CASE WHEN substr(md5('rh:' || p.p || ':' || j.j), 2, 1)
                              IN ('1','3','5','7','9','b','d','f')
                         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
                         ORDER BY j.j) AS w
        FROM range({_LSH_R * _LSH_B}) p(p) CROSS JOIN range({_EMB_DIM}) j(j)
        GROUP BY p.p
    ),
    sigs AS (
        SELECT e.vec_id, CAST(pl.p // {_LSH_R} AS INTEGER) AS band,
               CAST(pl.p % {_LSH_R} AS INTEGER) AS pos,
               CASE WHEN list_dot_product(pl.w, CAST(e.embedding AS DOUBLE[])) >= 0
                    THEN 1 ELSE 0 END AS s
        FROM embeddings e CROSS JOIN planes pl
    ),
    bands AS (
        SELECT vec_id, band,
               CAST(SUM(s * (1 << ({_LSH_R - 1} - pos))) AS INTEGER) AS key
        FROM sigs GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine_sim FROM (
        SELECT c.vec_a, c.vec_b,
               ROUND({_cosine_sql("ea.embedding", "eb.embedding")}, 6) AS cosine_sim
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
    ) WHERE cosine_sim >= {_NEARDUP_THRESHOLD}
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold {t}), blocked:
    sign-LSH band keys → band equi-join for candidates → exact cosine
    verification on candidates only.  The DuckDB oracle replicates the
    *same deterministic algorithm* — MD5-derived ±1 hyperplanes, sign
    bits, band keys, candidate equi-join, exact-cosine verify — so
    Spark and oracle agree row-for-row at every scale factor by
    construction (the same contract ``dedup_simhash_pairs`` uses).
    LSH recall against the all-pairs ground truth is a *measured*
    property, asserted separately in ``tests/test_vector_index.py``
    (exact at sf0.001; (1-p^R)^B-bounded in general — an approximate
    operator's oracle must pin the algorithm, not the ideal).

    Scale shape (the reason this replaces the r1 cartesian): the only
    joins are (1) a shuffle equi-join of the slim (vec_id, band, key)
    frame on (band, key) — never the vectors themselves, so the ×B
    band explosion multiplies 16-byte rows, not embeddings — and
    (2) two hash joins on vec_id to re-attach embeddings to the
    deduped candidate pairs.  No CartesianProduct / nested-loop stage
    anywhere (asserted in tests/test_plans.py); per-bucket fan-out is
    bounded by band-key cardinality 2^R the same way dedup_minhash_lsh
    bounds its buckets."""
    emb = with_norm(spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES))
    bands = emb.select(
        "vec_id", F.posexplode(lsh_band_keys(F.col("embedding"))).alias("band", "key")
    )
    la = bands.select(F.col("vec_id").alias("vec_a"), "band", "key")
    lb = bands.select(F.col("vec_id").alias("vec_b"), "band", "key")
    cand = (
        la.join(lb, ["band", "key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn(
            "cosine_sim",
            F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine_sim") >= _NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine_sim")
    )


class VectorIndex:
    """Persisted IVF index with the storage layout that matters at
    100 TB: cell assignments live in parquet **partitioned by cell**,
    so a search over ``nprobe`` cells is a partition-pruned scan of
    nprobe/k of the corpus — the directory tree is the inverted file.

    * :meth:`build` — train the coarse codebook (spherical k-means),
      assign every vector to its nearest cell, write
      ``{path}/centroids`` + ``{path}/cells/ingest=base/cell=<i>/``.
    * :meth:`add` — fold an arriving batch in under the frozen
      codebook; per-ingest subtrees make re-delivery idempotent.
    * :meth:`search` — assign the query batch to its ``nprobe``
      nearest cells (broadcast codebook, no shuffle), scan only the
      union of probed cell partitions, exact-rank inside them.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    @classmethod
    def build(cls, emb: DataFrame, path: str, k: int = 8) -> "VectorIndex":
        spark = emb.sparkSession
        cent = ivf_codebook(emb, k)
        cent.write.mode("overwrite").parquet(f"{path}/centroids")
        idx = cls(spark, path)
        idx._assign(emb).write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/cells/ingest=base"
        )
        return idx

    def _assign(self, emb: DataFrame) -> DataFrame:
        """Nearest-cell assignment under the standing codebook — one
        broadcast pass, no shuffle of the vectors.  Metadata columns
        beyond (vec_id, embedding) ride along into the cell layout, so
        searches can filter on them (:meth:`search` ``where=``)."""
        cent_n = with_norm(
            self.spark.read.parquet(f"{self.path}/centroids"), "centroid"
        ).select("cell", F.col("centroid").alias("c_emb"), F.col("nrm").alias("c_nrm"))
        vecs = with_norm(emb)
        w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("cell"))
        return (
            vecs.crossJoin(F.broadcast(cent_n))
            .withColumn(
                "c_sim", _dot(F.col("embedding"), F.col("c_emb")) / (F.col("nrm") * F.col("c_nrm"))
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(*emb.columns, "nrm", "cell")
        )

    def add(self, emb: DataFrame, ingest_id: str | None = None) -> None:
        """Fold new vectors into the standing cells under the FROZEN
        coarse codebook — the standard IVF ingest (FAISS ``add`` works
        the same way: assignment is a codebook pass, the codebook
        itself retrains only at the next full rebuild).  Each ingest
        writes its own ``ingest=<id>`` subtree (cell-partitioned
        inside), so searches see the new vectors immediately, other
        ingests' files are never touched, and RE-RUNNING an ingest_id
        (streaming micro-batch re-delivery) overwrites in place
        instead of duplicating — the same idempotence layout as
        ``DedupIndex``.  Cell drift under a shifting distribution is a
        rebuild trigger, not an ingest-path concern."""
        import uuid as _uuid

        self._check_layout()
        if ingest_id is None:
            ingest_id = _uuid.uuid4().hex[:12]
        self._assign(emb).write.mode("overwrite").partitionBy("cell").parquet(
            f"{self.path}/cells/ingest={ingest_id}"
        )

    def compact(self) -> None:
        """Fold every ``ingest=<id>`` subtree into one consolidated
        generation (the twin of ``DedupIndex.compact``): small
        streaming micro-batches leave one file per (ingest, cell), so
        long-running ingestion degrades listing/open cost — compaction
        rewrites the union as a single cell-partitioned
        ``ingest=compact-<n>`` tree and drops the old dirs.  Unlike
        ``DedupIndex`` (set-semantics probes), a search racing the
        brief old+new overlap window could see a neighbor twice and
        spend two of its top-k ranks on it — serialize compaction with
        searches, like any parquet table maintenance."""
        import os
        import shutil as _sh
        import uuid as _uuid

        root = f"{self.path}/cells"
        self._check_layout()
        olds = [d for d in os.listdir(root) if d.startswith("ingest=")]
        gen = f"compact-{_uuid.uuid4().hex[:8]}"
        # drop() only the ingest partition column: metadata columns
        # (e.g. a label used by filtered search) must survive
        # compaction exactly as _assign stored them.
        (
            self.spark.read.parquet(root)
            .drop("ingest")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{root}/ingest={gen}")
        )
        for d in olds:
            _sh.rmtree(f"{root}/{d}", ignore_errors=True)

    def _check_layout(self) -> None:
        """Reject the pre-ingest flat layout (``cells/cell=i`` with no
        ``ingest=`` level) with a clear error: mixing depths breaks
        partition discovery, and compacting a flat tree would
        double-count vectors.  Rebuild (``VectorIndex.build``) is the
        migration."""
        import os

        root = f"{self.path}/cells"
        if any(d.startswith("cell=") for d in os.listdir(root)):
            raise ValueError(
                f"{root} uses the legacy flat cell= layout; rebuild the "
                "index (VectorIndex.build) to migrate to ingest-generation "
                "subtrees before add/compact"
            )

    def shortlist(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 3,
        where: "Column | str | None" = None,
    ) -> DataFrame:
        """Per-query k-candidate shortlist WITH metadata passthrough:
        ``queries``: (query_id, embedding, *query-meta); returns
        (query_id, *query-meta, neighbor_id, *cell-meta, cosine_sim,
        rnk ≤ k), where cell-meta is every metadata column
        :meth:`_assign` stored alongside the vectors (e.g. label).
        This is the candidate-generation primitive ``knn_candidates``
        routes the embedding probes through above their exact-path
        row bound; :meth:`search` is the meta-free projection of it.

        Plan shape: query→cell assignment is a pure MAP-SIDE pass —
        the tiny codebook is inlined as a literal struct array and
        exploded per query row (a Generate operator: no join, no
        broadcast exchange, no shuffle of the corpus); the probed-cell
        set is collected (bounded by the codebook size) and becomes a
        static partition-pruning filter on the cell-partitioned
        parquet, so the scan touches ~nprobe/k of the corpus; the
        candidate join is a broadcast equi-join on ``cell`` — never a
        BroadcastNestedLoopJoin or CartesianProduct anywhere
        (tests/test_vector_index.py asserts this on the executed
        plan)."""
        import math as _math

        cent_rows = self.spark.read.parquet(f"{self.path}/centroids").collect()
        cent_lit = F.array(*[
            F.struct(
                F.lit(int(r.cell)).alias("cell"),
                F.array(*[F.lit(float(v)) for v in r.centroid]).alias("c_emb"),
                F.lit(_math.sqrt(sum(float(v) * float(v) for v in r.centroid))).alias("c_nrm"),
            )
            for r in cent_rows
        ])
        qmeta = [c for c in queries.columns if c not in ("query_id", "embedding")]
        q = with_norm(queries).select(
            "query_id", F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm"), *qmeta
        )
        wq = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("cell"))
        probed = (
            q.select("query_id", "q_emb", "q_nrm", *qmeta, F.explode(cent_lit).alias("ct"))
            .select(
                "query_id", "q_emb", "q_nrm", *qmeta,
                F.col("ct.cell").alias("cell"),
                (_dot(F.col("q_emb"), F.col("ct.c_emb")) / (F.col("q_nrm") * F.col("ct.c_nrm"))).alias("c_sim"),
            )
            .withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= nprobe)
            .select("query_id", "q_emb", "q_nrm", *qmeta, "cell")
        )
        # Static partition pruning: the probed-cell set is tiny —
        # collect it and filter, so the scan lists only those dirs.
        cells = [r.cell for r in probed.select("cell").distinct().collect()]
        corpus = self.spark.read.parquet(f"{self.path}/cells").filter(F.col("cell").isin(cells))
        if where is not None:
            corpus = corpus.filter(F.expr(where) if isinstance(where, str) else where)
        nmeta = [
            c for c in corpus.columns
            if c not in ("vec_id", "embedding", "nrm", "cell", "ingest")
        ]
        sims = (
            corpus.join(F.broadcast(probed), "cell")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id",
                *qmeta,
                F.col("vec_id").alias("neighbor_id"),
                *nmeta,
                F.round(
                    _dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")), 6
                ).alias("cosine_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
        return (
            sims.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(
                "query_id", *qmeta, "neighbor_id", *nmeta,
                "cosine_sim", F.col("rnk").cast("int").alias("rnk"),
            )
        )

    def search(
        self,
        queries: DataFrame,
        topk: int = 5,
        nprobe: int = 3,
        where: "Column | str | None" = None,
    ) -> DataFrame:
        """``queries``: (query_id, embedding).  Returns
        (query_id, neighbor_id, cosine_sim, rnk ≤ topk).

        ``where`` (Column or SQL string over the cell rows' metadata
        columns, e.g. ``"label = 3"``) makes this a FILTERED search:
        the predicate constrains the scan inside the probed cells —
        pushed to the parquet row groups, never post-filtering the
        top-k, so a filtered query still returns k neighbors whenever
        k matches exist in the probed cells (the ``ann_filtered_topk``
        semantics, index-accelerated)."""
        return self.shortlist(queries, topk, nprobe, where).select(
            "query_id", "neighbor_id", "cosine_sim", "rnk"
        )


#: Exact-path corpus bound for ``knn_candidates``: below this many
#: corpus rows the candidate generator emits EVERY (query, corpus)
#: pair via a broadcast cross join (64-dim doubles ≈ 1 KB/row → the
#: default keeps the broadcast side ≲ 100 MB, well inside a healthy
#: broadcast budget); above it the generator refuses to build the
#: quadratic pair table and routes through the persisted IVF index
#: instead.  Env-overridable so a cluster with a bigger broadcast
#: budget can raise it without a code change.
_KNN_EXACT_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_KNN_EXACT_MAX_ROWS", "100000"))

#: Standing ``knn_candidates`` indexes by on-disk path — build once
#: per (corpus, path) and reuse across query invocations in the same
#: session, like ``_KM_CACHE`` memoizes the Lloyd fit.
_KNN_INDEX_CACHE: set[str] = set()


def knn_index_path(sf_dir: str, tag: str) -> str:
    """Deterministic standing-index location for a given testdata
    scale + consumer tag (separate consumers index different column
    subsets, so they get separate trees)."""
    safe = sf_dir.strip("/").replace("/", "_")
    return f"/tmp/spark_graft_ivf/{safe}/{tag}"


def knn_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    *,
    exact_below: int | None = None,
    nprobe: int = _NPROBE,
    index_path: str | None = None,
    corpus_rows: int | None = None,
    ivf_cells: int | None = None,
) -> DataFrame:
    """Shared k-NN candidate generator for the embedding probes
    ([[embedding_knn_label_accuracy]], [[embedding_hubness_audit]],
    [[embedding_bitext_margin]]) — the routing VERDICT r9 item 2
    demanded be code, not prose.

    ``queries``: (query_id, embedding, *query-meta);
    ``corpus``: (vec_id, embedding, *corpus-meta).  Returns candidate
    pairs (query_id, *query-meta, neighbor_id, *corpus-meta,
    cosine_sim [6-dp rounded double]) with self-pairs removed:

    * **corpus ≤ exact_below** (default ``_KNN_EXACT_MAX_ROWS``,
      env ``SPARK_GRAFT_KNN_EXACT_MAX_ROWS``): the EXACT path — every
      (query, corpus) pair via one broadcast cross join (the corpus
      side is bounded, so the broadcast is too).  Downstream top-k
      elections over this frame are exact, which is what keeps the
      oracle parity of the consumers intact at test scales.
    * **above the bound**: the quadratic pair table is never built.
      The corpus is indexed once into a persisted cell-partitioned
      :class:`VectorIndex` (memoized per ``index_path`` across
      invocations) and candidates come from
      :meth:`VectorIndex.shortlist` — per-query ``nprobe``-cell
      pruned scan, broadcast equi-join on ``cell``, top-k inside the
      probed cells.  Approximate by construction (standard IVF
      recall/probe trade); tests/test_vector_index.py pins the
      equivalence to the exact path under a full probe and
      tests/test_plans.py asserts the plan has no
      BroadcastNestedLoopJoin/CartesianProduct.

    Meta columns must be disjoint between the two sides (rename to
    e.g. lab/nlab before calling) — asserted here."""
    qmeta = [c for c in queries.columns if c not in ("query_id", "embedding")]
    nmeta = [c for c in corpus.columns if c not in ("vec_id", "embedding")]
    overlap = set(qmeta) & set(nmeta)
    if overlap:
        raise ValueError(f"knn_candidates: meta columns collide: {sorted(overlap)}")
    bound = _KNN_EXACT_MAX_ROWS if exact_below is None else exact_below
    n = corpus.count() if corpus_rows is None else corpus_rows
    if n <= bound:
        qn = with_norm(queries).select(
            "query_id", F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"), *qmeta,
        )
        cn = with_norm(corpus).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("b_emb"),
            F.col("nrm").alias("b_nrm"), *nmeta,
        )
        return (
            qn.crossJoin(F.broadcast(cn))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", *qmeta, "neighbor_id", *nmeta,
                F.round(
                    _dot(F.col("q_emb"), F.col("b_emb"))
                    / (F.col("q_nrm") * F.col("b_nrm")),
                    6,
                ).alias("cosine_sim"),
            )
        )
    if index_path is None:
        raise ValueError(
            "knn_candidates: corpus exceeds the exact-path bound "
            f"({n} > {bound}) — pass index_path to route through the "
            "persisted VectorIndex shortlist"
        )
    spark = corpus.sparkSession
    if index_path not in _KNN_INDEX_CACHE or not os.path.exists(
        f"{index_path}/centroids/_SUCCESS"
    ):
        VectorIndex.build(corpus, index_path, k=ivf_cells or _IVF_K)
        _KNN_INDEX_CACHE.add(index_path)
    idx = VectorIndex(spark, index_path)
    return idx.shortlist(queries, k, nprobe).drop("rnk")


_IVF_K = 8

#: Lloyd rounds for the coarse codebook.  Cheap (vectorized, on the
#: bounded training sample), and a coarse IVF codebook only needs
#: rough Voronoi cells — probing nprobe cells absorbs boundary
#: error; recall vs brute force is asserted in
#: tests/test_vector_index.py.
_IVF_ITERS = 10

_IVF_SEED = 5

#: Codebook training-sample cap.  The sample — not the corpus — is
#: what Lloyd iterates over, so the driver's memory and compute stay
#: O(_IVF_TRAIN_N * d) (4096 x 64 doubles = 2 MB) no matter how big
#: the corpus is.  Sample-trained coarse quantizers are the standard
#: IVF design (FAISS trains its coarse codebooks on a bounded
#: in-memory sample for exactly this reason).
_IVF_TRAIN_N = 4096


def ivf_codebook(emb: DataFrame, k: int = _IVF_K) -> DataFrame:
    """Deterministic IVF coarse codebook: spherical k-means trained on
    a bounded, hash-deterministic sample of unit-normalized
    embeddings (cosine probe metric = euclidean objective on the unit
    sphere).  Returns (cell, centroid array<double>) — tiny, always
    broadcast.

    Design: one Spark job selects the ``_IVF_TRAIN_N`` vectors with
    the lowest portable hash of vec_id — a deterministic uniform
    sample via TakeOrdered (per-partition bottom-k + merge, no global
    sort, collect bounded at sample x d regardless of corpus size).
    Lloyd's iterations then run vectorized on that in-memory sample:
    at k x d = 8 x 64 this is microseconds, and it replaces MLlib
    KMeans' ~10 driver round-trips of cluster-wide jobs (which
    dominated the IVF query's wall-clock) with a single job.  Init =
    first k sample rows in hash order; empty cells keep their
    previous centroid (standard Lloyd fix); argmax ties break to the
    lowest cell — fully deterministic given the corpus.
    """
    import numpy as np

    unit = with_norm(emb).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") / F.col("nrm")
        ).alias("u"),
    )
    rows = (
        unit.withColumn(
            "h", portable_hash64(F.col("vec_id").cast("string"), _IVF_SEED)
        )
        .orderBy("h")
        .limit(_IVF_TRAIN_N)
        .select("u")
        .collect()
    )
    x = np.array([r.u for r in rows])
    k_eff = min(k, len(x))
    cents = x[:k_eff].copy()
    for _ in range(_IVF_ITERS):
        assign = (x @ cents.T).argmax(axis=1)
        for i in range(k_eff):
            members = x[assign == i]
            if len(members):
                cents[i] = members.mean(axis=0)
    spark = emb.sparkSession
    return local_rows(
        spark,
        [(i, [float(v) for v in cents[i]]) for i in range(k_eff)],
        "cell int, centroid array<double>",
    )


@register("ann_ivf_topk", rows_only="sample-trained k-means codebook: approximate; recall floor tested in tests/test_vector_index.py")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    k-means cells, probe the {p} nearest cells per query, exact-search
    inside probed cells only.

    Plan shape at scale: the codebook is tiny → broadcast; cell
    assignment is a map-side transform over the corpus (no shuffle);
    the per-cell search touches nprobe/k of the corpus per query.
    No all-pairs stage anywhere."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    # r14 optimization: the codebook is a bounded k-row frame whose
    # values already live on the driver (ivf_codebook runs Lloyd's on
    # a collected sample), so inline it as LITERAL struct arrays and
    # make cell assignment the map-side fold the docstring promises —
    # the old form cross-joined every corpus row with the broadcast
    # codebook and elected the nearest cell with a row_number window,
    # i.e. a k× row explosion plus a full corpus shuffle+sort by
    # vec_id just to pick a per-row argmax.  Same dots, same IEEE
    # comparisons: the (sim, -cell) struct max reproduces the window's
    # (sim DESC, cell ASC) election exactly.
    cent_rows = sorted(
        with_norm(ivf_codebook(emb), "centroid").collect(),
        key=lambda r: r.cell,
    )  # bounded: k × (d + 2) doubles
    carr = F.array(
        *[
            F.struct(
                F.lit(r.cell).cast("int").alias("cell"),
                F.array(*[F.lit(float(v)) for v in r.centroid]).alias(
                    "c_emb"
                ),
                F.lit(float(r.nrm)).alias("c_nrm"),
            )
            for r in cent_rows
        ]
    )

    def cell_scores(emb_col: str, nrm_col: str):
        # (similarity, -cell) per codebook entry; struct comparison is
        # lexicographic, so max/sort order == (sim DESC, cell ASC).
        return F.transform(
            carr,
            lambda c: F.struct(
                (
                    _dot(F.col(emb_col), c["c_emb"])
                    / (F.col(nrm_col) * c["c_nrm"])
                ).alias("s"),
                (-c["cell"]).alias("nc"),
            ),
        )

    def nearest_cells(vecs: DataFrame, emb_col: str, nrm_col: str, n: int) -> DataFrame:
        if n == 1:
            best = F.array_max(cell_scores(emb_col, nrm_col))
            return vecs.withColumn("cell", (-best["nc"]).cast("int"))
        top = F.slice(
            F.reverse(F.array_sort(cell_scores(emb_col, nrm_col))), 1, n
        )
        return (
            vecs.withColumn("_probe", F.explode(top))
            .withColumn("cell", (-F.col("_probe.nc")).cast("int"))
            .drop("_probe")
        )

    q = with_norm(emb.filter(F.col("vec_id") < _N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    probed = nearest_cells(q, "q_emb", "q_nrm", _NPROBE)
    base = nearest_cells(
        with_norm(emb).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("b_emb"),
            F.col("nrm").alias("b_nrm"),
        ),
        "b_emb",
        "b_nrm",
        1,
    )
    sims = (
        base.join(F.broadcast(probed), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("b_emb")) / (F.col("q_nrm") * F.col("b_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "embedding_quantization_error",
    oracle="""
    WITH d AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) / 127.0 AS scale
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, v, scale,
               CASE WHEN scale = 0 THEN v
                    ELSE list_transform(v, x -> round(x / scale) * scale)
               END AS dq
        FROM d
    )
    SELECT vec_id,
           ROUND(scale, 6) AS q_scale,
           ROUND(list_max(list_transform(
               list_zip(v, dq), p -> abs(p[1] - p[2]))), 6) AS max_abs_err,
           ROUND(list_dot_product(
               list_transform(list_zip(v, dq), p -> p[1] - p[2]),
               list_transform(list_zip(v, dq), p -> p[1] - p[2]))
               / len(v), 8) AS mse,
           ROUND(list_dot_product(v, dq)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(dq, dq))), 6) AS cos_orig_dq
    FROM q
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization audit: per vector, the
    quantization ``q_scale`` (= max|x|/127), the worst per-dimension
    reconstruction error, the MSE, and cosine(original, dequantized).

    This is the go/no-go report before swapping an ANN corpus to int8
    storage (4x smaller, 4x more vectors per executor); downstream the
    quantized codes feed the same IVF plan with exact re-ranking on
    the shortlist.  Pure map-side projection — zero shuffles, and the
    whole audit of a 100 TB embedding store is one scan.

    Determinism: ``scale`` is materialized once as a column (HOFs get
    no common-subexpression elimination — see MEMORY — so inlining it
    would re-derive the array max per element); every per-element op
    is then a single IEEE double expression evaluated identically by
    both engines, and the error folds (max, sequential-sum) are
    order-fixed.  ``round`` to integer ties away from zero on both
    engines (Spark HALF_UP / DuckDB round-half-away).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(
        "vec_id",
        v.alias("v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0).alias("scale"),
    )
    s = F.col("scale")
    q = d.withColumn(
        "dq",
        F.when(s == 0, F.col("v")).otherwise(
            F.transform(F.col("v"), lambda x: F.round(x / s) * s)
        ),
    )
    err = F.zip_with(F.col("v"), F.col("dq"), lambda x, y: x - y)
    q = q.withColumn("err", err)
    return q.select(
        "vec_id",
        F.round(s, 6).alias("q_scale"),
        F.round(F.array_max(F.transform(F.col("err"), lambda e: F.abs(e))), 6).alias(
            "max_abs_err"
        ),
        F.round(
            _dot(F.col("err"), F.col("err")) / F.size(F.col("v")), 8
        ).alias("mse"),
        F.round(
            _dot(F.col("v"), F.col("dq"))
            / (F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("dq"), F.col("dq")))),
            6,
        ).alias("cos_orig_dq"),
    )


@register(
    "embedding_norm_stats",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    iv AS (
        SELECT label,
               unnest(list_transform(
                   generate_series(1, len(v)),
                   i -> struct_pack(i := i, val := v[i])
               )) AS u
        FROM e
    ),
    dm AS (
        SELECT label, u.i AS i, AVG(u.val) AS m FROM iv GROUP BY 1, 2
    ),
    c AS (
        SELECT label, list(m ORDER BY i) AS centroid FROM dm GROUP BY 1
    ),
    s AS (
        SELECT e.label,
               sqrt(list_dot_product(v, v)) AS nrm,
               list_dot_product(v, centroid)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(centroid, centroid))) AS cos_c
        FROM e JOIN c USING (label)
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(AVG(nrm), 6) AS avg_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm,
           ROUND(AVG(cos_c), 6) AS avg_centroid_cosine,
           ROUND(MIN(cos_c), 6) AS min_centroid_cosine
    FROM s
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding QA block: vector counts, L2-norm spread,
    and cluster cohesion (cosine of each vector to its label
    centroid) — the health check a pipeline runs on an embedding
    table before trusting it for retrieval or dedup.

    Two-pass shape that scales: pass 1 computes per-dimension means
    via ``posexplode`` → (label, dim) hash aggregate (map-side
    partials; d·|labels| output rows — tiny), reassembled into
    centroid arrays with an ``array_sort(collect_list(struct))`` over
    the bounded per-label dim set; pass 2 broadcast-joins the
    centroid table back and folds the cosine JVM-side (sequential
    ``zip_with``/``aggregate`` — same deterministic order as DuckDB's
    ``list_dot_product``).  No all-pairs anything: cost is O(N·d) both
    passes."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    e = emb.select(
        "label", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")
    )
    pe = e.select("label", F.posexplode("v").alias("pos", "val"))
    dim_means = pe.groupBy("label", "pos").agg(F.avg("val").alias("m"))
    centroids = dim_means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )
    j = e.join(F.broadcast(centroids), "label")
    nrm = F.sqrt(_dot(F.col("v"), F.col("v")))
    cos_c = _dot(F.col("v"), F.col("centroid")) / (
        nrm * F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    )
    s = j.select("label", nrm.alias("nrm"), cos_c.alias("cos_c"))
    return s.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.avg("cos_c"), 6).alias("avg_centroid_cosine"),
        F.round(F.min("cos_c"), 6).alias("min_centroid_cosine"),
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH e AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    iv AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(v)),
                   i -> struct_pack(i := i, val := v[i])
               )) AS u
        FROM e
    )
    SELECT CAST(u.i - 1 AS INTEGER) AS dim,
           COUNT(*) AS n,
           ROUND(AVG(u.val), 6) AS mean,
           ROUND(STDDEV_SAMP(u.val), 6) AS std,
           ROUND(MIN(u.val), 6) AS min_val,
           ROUND(MAX(u.val), 6) AS max_val
    FROM iv
    GROUP BY 1
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution audit of the embedding space — the
    whitening/PCA-prep pass (and the fastest detector of a broken
    encoder export: a collapsed or saturated dimension shows up as
    near-zero std or a pinned min/max).

    Scale shape: ``posexplode`` fans each vector into (dim, value)
    rows that collapse map-side into per-dimension partials — the
    shuffle moves |dims| × partitions rows, not |vectors| × |dims|;
    output is one row per dimension."""
    emb = load_table(spark, sf_dir, "embeddings")
    iv = emb.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "val"
        )
    )
    return iv.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("val"), 6).alias("mean"),
        F.round(F.stddev_samp("val"), 6).alias("std"),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
    )


#: Truncated-prefix length audited against the full embedding.
_TRUNC_DIMS = 16


@register(
    "embedding_truncation_audit",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    t AS (
        SELECT vec_id, label, v, v[1:{_TRUNC_DIMS}] AS p FROM e
    ),
    s AS (
        SELECT label,
               list_dot_product(p, p) AS pp,
               list_dot_product(v, v) AS vv,
               sqrt(list_dot_product(p, p) / list_dot_product(v, v)) AS energy
        FROM t
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(AVG(energy), 6) AS avg_energy_kept,
           ROUND(MIN(energy), 6) AS min_energy_kept,
           ROUND(AVG(pp / vv), 6) AS avg_energy_sq
    FROM s
    GROUP BY label
    """,
)
def embedding_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much of each vector's
    L2 energy the first {_TRUNC_DIMS} dimensions retain, rolled up per
    label — the measurement behind serving truncated embeddings for
    cheap first-stage retrieval (prefix norm / full norm is exactly
    the cosine between the full vector and its zero-padded prefix).
    A low min flags labels whose information lives in the tail, where
    truncation would break recall.

    Zero-shuffle per-vector arithmetic (slice + JVM-side dot-product
    folds), then one aggregate to |labels| rows — the same single-scan
    audit shape as the quantization-error operator."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    p = F.slice(v, 1, _TRUNC_DIMS)
    pp = F.aggregate(
        F.zip_with(p, p, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    vv = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    s = emb.select(
        "label",
        pp.alias("pp"),
        vv.alias("vv"),
        F.sqrt(pp / vv).alias("energy"),
    )
    return s.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("energy"), 6).alias("avg_energy_kept"),
        F.round(F.min("energy"), 6).alias("min_energy_kept"),
        F.round(F.avg(F.col("pp") / F.col("vv")), 6).alias("avg_energy_sq"),
    )


#: Semantic-dedup clustering geometry: 6 sign bits -> <=64 coarse
#: cells.  Like the near-dup threshold above, the drop threshold is
#: tuned to the synthetic corpus (max pairwise cosine ~0.55) so the
#: operator exercises every action branch; production SemDeDup runs
#: at ~0.95+.
_SD_PLANES_N = 6
_SD_THRESHOLD = 0.3


def sign_cluster_key(emb: Column, n_planes: int = _SD_PLANES_N, prefix: str = "sd") -> Column:
    """Pack ``n_planes`` hyperplane sign bits into one integer coarse
    cluster id — the deterministic, PRNG-free stand-in for a k-means
    coarse quantizer.  Map-side only: a literal plane matrix and one
    fold per row, no shuffle, no Python."""
    planes = _rademacher_planes(n_planes, prefix=prefix)
    w_lit = F.array(*[F.array(*[F.lit(w) for w in row]) for row in planes])
    signs = F.transform(
        w_lit,
        lambda row: (
            F.aggregate(
                F.zip_with(row, emb, lambda w, x: w * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("int"),
    )
    return F.aggregate(signs, F.lit(0), lambda acc, s: acc * 2 + s)


@register(
    "semantic_dedup",
    oracle=f"""
    WITH planes AS (
        SELECT p.p, list(CASE WHEN substr(md5('sd:' || p.p || ':' || j.j), 2, 1)
                              IN ('1','3','5','7','9','b','d','f')
                         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
                         ORDER BY j.j) AS w
        FROM range({_SD_PLANES_N}) p(p) CROSS JOIN range({_EMB_DIM}) j(j)
        GROUP BY p.p
    ),
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sig AS (
        SELECT e.vec_id,
               CAST(SUM(CASE WHEN list_dot_product(pl.w, e.v) >= 0
                        THEN (1 << CAST({_SD_PLANES_N - 1} - pl.p AS INTEGER))
                        ELSE 0 END) AS INTEGER) AS cluster
        FROM e CROSS JOIN planes pl
        GROUP BY e.vec_id
    ),
    iv AS (
        SELECT s.cluster,
               unnest(list_transform(
                   generate_series(1, len(e.v)),
                   i -> struct_pack(i := i, val := e.v[i])
               )) AS u
        FROM e JOIN sig s USING (vec_id)
    ),
    dm AS (
        SELECT cluster, u.i AS i, AVG(u.val) AS m FROM iv GROUP BY 1, 2
    ),
    c AS (
        SELECT cluster, list(m ORDER BY i) AS centroid FROM dm GROUP BY 1
    ),
    cosf AS (
        SELECT e.vec_id, s.cluster, e.v,
               sqrt(list_dot_product(e.v, e.v)) AS nrm,
               ROUND(list_dot_product(e.v, c.centroid)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(c.centroid, c.centroid))), 6)
                   AS cos_c
        FROM e JOIN sig s USING (vec_id) JOIN c ON c.cluster = s.cluster
    ),
    rep AS (
        SELECT vec_id AS rep_id, cluster, v AS rep_v, nrm AS rep_nrm
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                           ORDER BY cos_c DESC, vec_id) AS rn FROM cosf)
        WHERE rn = 1
    ),
    scored AS (
        SELECT x.vec_id, x.cluster, r.rep_id,
               ROUND(list_dot_product(x.v, r.rep_v) / (x.nrm * r.rep_nrm), 6)
                   AS cos_to_rep
        FROM cosf x JOIN rep r ON r.cluster = x.cluster
    )
    SELECT vec_id, cluster, rep_id, cos_to_rep,
           CASE WHEN vec_id = rep_id THEN 'rep'
                WHEN cos_to_rep >= {_SD_THRESHOLD} THEN 'drop'
                ELSE 'keep' END AS action
    FROM scored
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding space, elect one
    representative per cluster (the vector most cosine-aligned with
    the cluster centroid, vec_id tie-break), and mark every other
    member ``drop`` when its cosine to the representative crosses the
    dedup threshold, else ``keep``.  Unlike the pairwise near-dup
    operators this is O(N) after clustering — the shape that removes
    semantically redundant documents from web-scale corpora without
    ever forming candidate pairs.

    Plan shape, stage by stage: (1) cluster ids are a map-side sign
    fold over a literal hyperplane matrix (deterministic stand-in for
    the k-means codebook :func:`ann_ivf_topk` trains; no shuffle);
    (2) centroids are one slim hash-aggregate of (cluster, dim)
    partials — at most |clusters|*d rows; (3) representative election
    is a window over cluster, bounded by cluster occupancy; (4) the
    verdict join broadcasts the <=2^{_SD_PLANES_N}-row representative
    table.  Nothing is quadratic in corpus size.  Cross-engine
    determinism: planes, fold order, and the rounded-cosine election
    key replicate exactly in the DuckDB oracle (same contract as
    ``embedding_neardup``)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    s = e.select(
        "vec_id", "v", sign_cluster_key(F.col("v")).cast("int").alias("cluster")
    )
    pe = s.select("cluster", F.posexplode("v").alias("pos", "val"))
    dim_means = pe.groupBy("cluster", "pos").agg(F.avg("val").alias("m"))
    centroids = dim_means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda t: t["m"]
        ).alias("centroid")
    )
    nrm = F.sqrt(_dot(F.col("v"), F.col("v")))
    cosf = (
        s.join(F.broadcast(centroids), "cluster")
        .select(
            "vec_id",
            "cluster",
            "v",
            nrm.alias("nrm"),
            F.round(
                _dot(F.col("v"), F.col("centroid"))
                / (nrm * F.sqrt(_dot(F.col("centroid"), F.col("centroid")))),
                6,
            ).alias("cos_c"),
        )
    )
    repw = Window.partitionBy("cluster").orderBy(F.desc("cos_c"), "vec_id")
    rep = (
        cosf.withColumn("rn", F.row_number().over(repw))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("vec_id").alias("rep_id"),
            F.col("v").alias("rep_v"),
            F.col("nrm").alias("rep_nrm"),
        )
    )
    scored = cosf.join(F.broadcast(rep), "cluster").select(
        "vec_id",
        "cluster",
        "rep_id",
        F.round(
            _dot(F.col("v"), F.col("rep_v")) / (F.col("nrm") * F.col("rep_nrm")), 6
        ).alias("cos_to_rep"),
    )
    return scored.select(
        "vec_id",
        "cluster",
        "rep_id",
        "cos_to_rep",
        F.when(F.col("vec_id") == F.col("rep_id"), "rep")
        .when(F.col("cos_to_rep") >= _SD_THRESHOLD, "drop")
        .otherwise("keep")
        .alias("action"),
    )


#: One scatter-moment computation per (application, sf_dir):
#: embedding_covariance and embedding_top_eigenvector consume the
#: IDENTICAL (di, dj, Σ qxi·qxj) upper-triangle frame + per-dim sums
#: (same 1e-6 quantization, same overflow guard), so the d(d+1)/2
#: expansion over the corpus runs once per session — the
#: cobuy_pair_census / dedup-label memoization discipline.  Both
#: frames are localCheckpointed (materialized, lineage-free).
_EMB_MOMENTS_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame, int]] = {}


def _embedding_scatter_moments(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """``(ut, sums, n)``: upper-triangle co-moments ``(di, dj, sxy)``
    with exact DECIMAL sums of guarded int64 products, per-dimension
    sums ``(dim, sx)`` as DECIMAL(38,0), and the vector count."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _EMB_MOMENTS_CACHE.get(key)
    if hit is not None:
        return hit
    # spread(): the embeddings parquet is byte-light, so Spark's
    # size-based split can hand the O(N·d²) pair expansion ONE task
    # without it (the eigenvector path had this before the refactor).
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES).withColumn(
        "qv",
        F.expr(
            "transform(embedding, x ->"
            " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ),
    )
    # Overflow guard BEFORE the hot loop: a bare xi * xj runs in
    # BIGINT, where non-ANSI Spark wraps silently on overflow — an
    # embedding scaled beyond ~3e3 (qv ~3e9, product ~9e18 > 2^63)
    # would produce wrong covariances with no error.  Each ELEMENT is
    # guarded once (O(d) raise_error branches), which makes the O(d²)
    # int64 product loop provably safe: |qv| ≤ 3e9 ⇒ |xi·xj| ≤ 9e18
    # < 2^63.  Products go DECIMAL at the leaf so per-group SUMs stay
    # exact at any corpus size.
    guarded = (
        "transform(qv, x -> CASE WHEN abs(x) > 3000000000 THEN"
        " CAST(raise_error('embedding scatter moments: |value| > 3e3 —"
        " quantized element overflows the int64 product guard;"
        " rescale the embedding column') AS BIGINT)"
        " ELSE x END)"
    )
    pairs = F.expr(
        f"""
        flatten(transform({guarded}, (xi, i) ->
            transform(slice(qv, i + 1, size(qv) - i), (xj, j) ->
                struct(i AS di, i + j AS dj,
                       CAST(xi * xj AS DECIMAL(20, 0)) AS prod))))
        """
    )
    ut = (
        emb.select(F.explode(pairs).alias("p"))
        .select("p.di", "p.dj", "p.prod")
        .groupBy("di", "dj")
        # per-pair contributing-row count kept alongside the sum:
        # covariance must normalize by the rows that actually carried
        # both dims (ragged/NULL embeddings contribute no product row
        # but would still inflate a global count — the oracle uses the
        # per-pair n, so the engine must too)
        .agg(F.sum("prod").alias("sxy"), F.count("*").alias("n"))
        .localCheckpoint()
    )
    sums = (
        emb.select(F.posexplode("qv").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("sx"))
        .localCheckpoint()
    )
    n = int(emb.count())
    out = (ut, sums, n)
    _EMB_MOMENTS_CACHE[key] = out
    return out


#: The covariance oracle body, shared verbatim by the
#: embedding_covariance registration and the effective-rank oracle
#: (which consumes it as a CTE) — one source of truth for the
#: quantized exact-moment formulation.
_EMB_COV_ORACLE = """
    WITH q AS (
        SELECT vec_id, i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    p AS (
        SELECT a.dim AS di, b.dim AS dj,
               SUM(a.qv * b.qv) AS sxy, COUNT(*) AS n
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    ),
    m AS (SELECT dim, SUM(qv) AS sx FROM q GROUP BY 1)
    SELECT p.di, p.dj,
           CAST(FLOOR(CAST(p.n * p.sxy - mi.sx * mj.sx AS DOUBLE)
                / (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE) * 1000000.0))
                AS BIGINT) AS cov_e6
    FROM p JOIN m mi ON mi.dim = p.di JOIN m mj ON mj.dim = p.dj
    """


@register(
    "embedding_covariance",
    oracle=_EMB_COV_ORACLE,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance of the embedding
    dimensions — the input to PCA/whitening (:func:`pca_whitening`)
    and the direct detector of redundant/correlated dimensions.
    Emitted as ``cov_e6`` — covariance in 1e-6 units of the
    1e-6-quantized embedding values.

    Determinism (the r5 red-row fix): a plain ``avg()`` over doubles
    is summation-order-dependent, so ``ROUND(cov, 6)`` can flip on a
    boundary between engines/runs.  Instead each element is quantized
    map-side to an exact integer ``qv = FLOOR(val * 1e6)`` (the
    per-element double is bit-identical in Spark and DuckDB, so the
    floor is too), every sum runs in exact integer/decimal arithmetic
    (order-independent), and the single float step at the end —
    cast, divide, floor — operates on bit-identical exact inputs in
    both engines, so it is deterministic by IEEE-754
    correct rounding.

    Scale shape: the d(d+1)/2 cross-products are expanded MAP-SIDE
    inside one array expression (never a self-join of the exploded
    frame, which would shuffle |vectors|×d rows twice); partial
    aggregation collapses each partition to d(d+1)/2 running sums, so
    the shuffle is O(partitions × d²) regardless of corpus size.
    Driver never sees vectors — only the d×d result.

    The moment frames (and their |qv| ≤ 3e9 raise_error overflow
    guard) live in :func:`_embedding_scatter_moments`, shared with
    embedding_top_eigenvector — the expensive d(d+1)/2 expansion runs
    once per session.  Normalization uses the PER-PAIR contributing
    count ``n`` carried in the moments frame (matching the oracle's
    ``COUNT(*)``), not a global vector count — ragged/NULL embeddings
    contribute no product row and must not dilute the covariance."""
    ut, sums, _n = _embedding_scatter_moments(spark, sf_dir)
    si = sums.select(F.col("dim").alias("di"), F.col("sx").alias("sx_i"))
    sj = sums.select(F.col("dim").alias("dj"), F.col("sx").alias("sx_j"))
    return (
        ut.join(F.broadcast(si), "di")
        .join(F.broadcast(sj), "dj")
        .select(
            "di",
            "dj",
            F.expr(
                "CAST(FLOOR(CAST(CAST(n AS DECIMAL(12, 0)) * sxy"
                " - sx_i * sx_j AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                " * 1000000.0)) AS BIGINT)"
            ).alias("cov_e6"),
        )
    )


def pca_whitening(spark: SparkSession, sf_dir: str, energy: float = 0.95):
    """PCA basis from the distributed covariance: eigendecompose the
    d×d matrix DRIVER-side (d is tiny; the corpus never leaves the
    executors) and return ``(components, eigenvalues, n_components)``
    — the numpy projection basis keeping ``energy`` of the variance.
    The covariance aggregate is the only distributed work, so this
    scales exactly as :func:`embedding_covariance` does."""
    import numpy as np

    rows = embedding_covariance(spark, sf_dir).collect()
    d = max(r.dj for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        # cov_e6 ≈ cov_real·1e12 (quantized units²) / 1e6 — one
        # division recovers the covariance in original units.
        cov[r.di, r.dj] = cov[r.dj, r.di] = r.cov_e6 / 1e6
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    total = float(vals.sum())
    keep = int(np.searchsorted(np.cumsum(vals) / total, energy) + 1) if total > 0 else d
    return vecs[:, :keep], vals[:keep], keep


@register(
    "embedding_effective_rank",
    oracle=f"""
    WITH cov AS ({_EMB_COV_ORACLE}),
    agg AS (
        SELECT CAST(MAX(dj) + 1 AS INTEGER) AS n_dims,
               CAST(SUM(cov_e6) FILTER (WHERE di = dj) AS BIGINT)
                   AS trace_e6,
               CAST(SUM(CASE WHEN di = dj THEN 1 ELSE 2 END
                        * CAST(cov_e6 AS DECIMAL(19, 0))
                        * CAST(cov_e6 AS DECIMAL(19, 0))) AS BIGINT)
                   AS frob_sq_e12
        FROM cov
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
               AS n_vectors,
           n_dims, trace_e6, frob_sq_e12,
           FLOOR(CAST(trace_e6 AS DOUBLE) * CAST(trace_e6 AS DOUBLE)
                 / CAST(frob_sq_e12 AS DOUBLE) * 10000.0 + 0.5)
               / 10000.0 AS effective_rank,
           FLOOR(CAST(trace_e6 AS DOUBLE) * CAST(trace_e6 AS DOUBLE)
                 / CAST(frob_sq_e12 AS DOUBLE) / n_dims
                 * 10000.0 + 0.5) / 10000.0 AS isotropy_share
    FROM agg
    """,
)
def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective rank (participation ratio) of the embedding
    covariance — tr(C)² / ‖C‖²_F = (Σλ)²/Σλ², the eigenvalue-free
    intrinsic-dimensionality diagnostic: d for a perfectly isotropic
    space, 1 for rank collapse, in between for real corpora (measured
    here: 56.57 of 64 at sf0.01, isotropy share 0.884 — mildly
    anisotropic, so the corpus neither collapsed nor is it pure
    noise).  The one spectrum-shaped
    statistic that needs NO eigendecomposition, so — unlike
    [[embedding_top_eigenvector]]'s power iteration or
    :func:`pca_whitening`'s driver-side ``eigh`` — every input is an
    exact integer aggregate and the whole operator is
    oracle-checkable end to end.  Anisotropy/rank-collapse screening
    per Ethayarajh (EMNLP'19); the PR form is the standard
    localization measure.

    Consumes [[embedding_covariance]]'s exact integer ``cov_e6``
    frame (which itself rides the memoized scatter moments — the
    d(d+1)/2 expansion still runs once per session): trace and
    Frobenius mass are exact BIGINT sums over ≤ d² values (the
    off-diagonal doubling reconstructs the full matrix from the
    upper triangle); the final ratio is one fixed IEEE expression
    through the floor ladder (operands non-negative: a trace of
    variances and a sum of squares).

    Scale shape: everything after the memoized moments frame is a
    d²-row aggregate to ONE row — corpus size never appears; the
    driver sees a single row."""
    cov = embedding_covariance(spark, sf_dir)
    _ut, _sums, n = _embedding_scatter_moments(spark, sf_dir)
    agg = cov.agg(
        (F.max("dj") + 1).cast("int").alias("n_dims"),
        F.sum(F.when(F.col("di") == F.col("dj"), F.col("cov_e6")))
        .cast("bigint")
        .alias("trace_e6"),
        F.sum(
            F.when(F.col("di") == F.col("dj"), F.lit(1)).otherwise(F.lit(2))
            * F.col("cov_e6").cast("decimal(19,0)")
            * F.col("cov_e6").cast("decimal(19,0)")
        )
        .cast("bigint")
        .alias("frob_sq_e12"),
    )
    er = (
        F.col("trace_e6").cast("double")
        * F.col("trace_e6").cast("double")
        / F.col("frob_sq_e12").cast("double")
    )
    return agg.select(
        F.lit(n).cast("bigint").alias("n_vectors"),
        "n_dims",
        "trace_e6",
        "frob_sq_e12",
        (F.floor(er * 10000.0 + 0.5) / 10000.0).alias("effective_rank"),
        (F.floor(er / F.col("n_dims") * 10000.0 + 0.5) / 10000.0).alias(
            "isotropy_share"
        ),
    )


#: Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60).
_RRF_K = 60
_RRF_TOPK = 20
#: Per-branch shortlist size: each retriever contributes only its
#: top-N to the fusion, the production hybrid-search shape — and it
#: bounds every ranking window at N rows.
_RRF_BRANCH_N = 100


@register(
    "rrf_hybrid_topk",
    oracle=f"""
    WITH {_BM25_SCORED_SQL_CTES},
    sr AS (
        SELECT doc_id, rank_sparse FROM (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY ROUND(score, 6) DESC, doc_id)
                        AS INTEGER) AS rank_sparse
            FROM scored
        ) WHERE rank_sparse <= {_RRF_BRANCH_N}
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dn AS (
        SELECT b.vec_id AS doc_id,
               ROUND({_cosine_sql("q.embedding", "b.embedding")}, 6) AS cos
        FROM embeddings b CROSS JOIN q
        WHERE b.vec_id <> 0
    ),
    dr AS (
        SELECT doc_id, rank_dense FROM (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
                        AS INTEGER) AS rank_dense
            FROM dn
        ) WHERE rank_dense <= {_RRF_BRANCH_N}
    ),
    fused AS (
        SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
               sr.rank_sparse, dr.rank_dense,
               COALESCE(1.0 / ({_RRF_K} + sr.rank_sparse), 0)
                   + COALESCE(1.0 / ({_RRF_K} + dr.rank_dense), 0) AS rrf
        FROM sr FULL JOIN dr ON sr.doc_id = dr.doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(rrf, 9) DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id, rank_sparse, rank_dense,
           ROUND(rrf, 9) AS rrf_score
    FROM fused
    ORDER BY rank
    LIMIT {_RRF_TOPK}
    """,
)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack et al.
    2009, k=60): the BM25 term ranking (``bm25_scored``, sparse half)
    fused with an exact-cosine dense ranking against the vec_id-0
    query embedding — the fusion step every hybrid search stack runs
    after its two retrievers.  A document absent from one ranking
    contributes 0 from that side (FULL join + coalesce), exactly the
    standard RRF treatment.

    Determinism: both branch rankings order by ROUND(score, 6) with a
    doc_id tiebreak on both engines, and the fused score is a sum of
    exact rationals 1/(60+rank), so the final ranking is
    bit-identical.  Scale shape: each branch truncates to its top-100
    shortlist via TakeOrderedAndProject BEFORE ranks are numbered, so
    no unpartitioned window ever sees more than 100 rows and the
    full-outer fusion join is tiny — the production hybrid-search
    shape."""
    from .text import bm25_scored

    sw = Window.orderBy(F.col("s").desc(), F.col("doc_id"))
    sr = (
        bm25_scored(spark, sf_dir)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id"))
        .limit(_RRF_BRANCH_N)
        .select(
            "doc_id", F.row_number().over(sw).cast("int").alias("rank_sparse")
        )
    )
    emb = with_norm(spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    dn = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    dw = Window.orderBy(F.col("cos").desc(), F.col("doc_id"))
    dr = (
        dn.orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(_RRF_BRANCH_N)
        .select(
            "doc_id", F.row_number().over(dw).cast("int").alias("rank_dense")
        )
    )
    fused = sr.join(dr, "doc_id", "full").select(
        "doc_id",
        "rank_sparse",
        "rank_dense",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("rank_sparse")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rank_dense")), F.lit(0.0))
        ).alias("rrf"),
    )
    fw = Window.orderBy(F.round("rrf", 9).desc(), F.col("doc_id"))
    return (
        fused.select(
            F.row_number().over(fw).cast("int").alias("rank"),
            "doc_id",
            "rank_sparse",
            "rank_dense",
            F.round("rrf", 9).alias("rrf_score"),
        )
        .orderBy("rank")
        .limit(_RRF_TOPK)
    )


#: Product-quantization layout: 8 subvectors × 8 dims × 2 bits/dim
#: (4 uniform levels per dimension) → 16-bit code per subvector.
_PQ_SUB_DIMS = 8
_PQ_LEVELS = 4


@register(
    "embedding_pq_codes",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    iv AS (
        SELECT vec_id, i, v[i] AS x
        FROM e, LATERAL unnest(generate_series(1, len(v))) AS g(i)
    ),
    st AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM iv GROUP BY 1),
    lv AS (
        SELECT vec_id,
               CAST(floor((iv.i - 1) / {_PQ_SUB_DIMS}) AS BIGINT) AS sub,
               CASE WHEN st.hi = st.lo THEN 0
                    ELSE least(greatest(CAST(floor(
                        (iv.x - st.lo) / (st.hi - st.lo) * {_PQ_LEVELS}
                    ) AS BIGINT), 0), {_PQ_LEVELS - 1}) END
               * CAST(pow({_PQ_LEVELS}, (iv.i - 1) % {_PQ_SUB_DIMS}) AS BIGINT)
                   AS term
        FROM iv JOIN st ON iv.i = st.i
    ),
    sc AS (
        SELECT vec_id, sub, CAST(SUM(term) AS BIGINT) AS code
        FROM lv GROUP BY 1, 2
    ),
    pc AS (
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS pq_code
        FROM sc GROUP BY 1
    ),
    bk AS (SELECT pq_code, COUNT(*) AS bucket_size FROM pc GROUP BY 1)
    SELECT p.vec_id, p.pq_code, CAST(b.bucket_size AS BIGINT) AS bucket_size
    FROM pc p JOIN bk b ON p.pq_code = b.pq_code
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment (Jégou et al., TPAMI'11
    shape) with a data-independent codebook: split each 64-d vector
    into 8 subvectors of 8 dims, quantize every dimension onto 4
    uniform levels between its corpus-wide [min, max], and pack each
    subvector's 2-bit levels into a 16-bit code.  Emitted per vector:
    the dash-joined 8-code word and its bucket size (how many vectors
    share the identical full code) — the collision signal that seeds
    PQ-based near-dup candidate generation and the memory planning
    for an IVFPQ index (codes are 16 B/vector vs 256 B raw).

    A k-means-trained codebook (the FAISS default) is deliberately
    not used HERE: uniform per-dim grids keep the assignment a pure
    closed-form expression both engines evaluate bit-identically, so
    the whole operator is oracle-checkable; the trained-codebook path
    exists as ``VectorIndex``/``ann_ivf_topk``.

    Scale shape: the per-dim [lo, hi] table is d rows — broadcast
    back onto the exploded stream; level/code assignment is map-side
    arithmetic; the only wide shuffles are keyed by (vec_id) and by
    the 16-byte code word.  Everything is linear in N·d with no
    pairwise stage, and at 100 TB the explode never materializes —
    it pipelines inside whole-stage codegen between two shuffles.
    Determinism: lo/hi are exact min/max folds; each level is ONE
    IEEE expression (sub, div, mul, floor) evaluated identically by
    both engines; codes are exact integer sums."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    iv = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "i0", "x"
        ),
    )
    st = iv.groupBy("i0").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    lev = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _PQ_LEVELS)
                .cast("bigint"),
                F.lit(0),
            ),
            F.lit(_PQ_LEVELS - 1),
        )
    )
    term = lev * F.pow(F.lit(_PQ_LEVELS), F.col("i0") % _PQ_SUB_DIMS).cast("bigint")
    sc = (
        iv.join(F.broadcast(st), "i0")
        .select(
            "vec_id",
            F.floor(F.col("i0") / _PQ_SUB_DIMS).cast("bigint").alias("sub"),
            term.alias("term"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.sum("term").cast("bigint").alias("code"))
    )
    pc = sc.groupBy("vec_id").agg(
        F.expr(
            "listagg(CAST(code AS STRING), '-') WITHIN GROUP (ORDER BY sub)"
        ).alias("pq_code")
    )
    bk = pc.groupBy("pq_code").agg(F.count("*").alias("bucket_size"))
    return pc.join(bk, "pq_code").select(
        "vec_id", "pq_code", F.col("bucket_size").cast("bigint").alias("bucket_size")
    )


#: PQ-ADC recall probe: query count and cutoff (recall@k of the
#: asymmetric-distance ranking over reconstructed vectors vs the
#: exact cosine ranking — the retrieval-quality half of the PQ
#: operating point; [[embedding_pq_codes]] gives the memory half).
_PQ_ADC_QUERIES = 20
_PQ_ADC_K = 10

#: The closed-form PQ reconstruction (level midpoint on the uniform
#: per-dim grid), shared text between the oracle's two call sites.
_PQ_RECON_SQL = f"""CASE WHEN st.hi = st.lo THEN st.lo
              ELSE st.lo + (least(greatest(floor(
                       (iv.x - st.lo) / (st.hi - st.lo) * {_PQ_LEVELS}
                   ), 0), {_PQ_LEVELS - 1}) + 0.5)
                   * (st.hi - st.lo) / {_PQ_LEVELS}.0 END"""


@register(
    "embedding_pq_adc_recall",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    iv AS (
        SELECT vec_id, i, v[i] AS x
        FROM e, LATERAL unnest(generate_series(1, len(v))) AS g(i)
    ),
    st AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM iv GROUP BY 1),
    rc AS (
        SELECT iv.vec_id,
               list({_PQ_RECON_SQL} ORDER BY iv.i) AS rv
        FROM iv JOIN st ON iv.i = st.i GROUP BY 1
    ),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < {_PQ_ADC_QUERIES}),
    ex AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_cosine_sql("q.v", "b.v")}, 6)
                                DESC, b.vec_id
                   ) AS rnk
            FROM q CROSS JOIN e b WHERE q.vec_id <> b.vec_id
        ) WHERE rnk <= {_PQ_ADC_K}
    ),
    ad AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_cosine_sql("q.v", "r.rv")}, 6)
                                DESC, r.vec_id
                   ) AS rnk
            FROM q CROSS JOIN rc r WHERE q.vec_id <> r.vec_id
        ) WHERE rnk <= {_PQ_ADC_K}
    )
    SELECT ex.query_id,
           CAST(COUNT(ad.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(ad.neighbor_id) AS DOUBLE) / {_PQ_ADC_K}.0
               AS recall_at_{_PQ_ADC_K}
    FROM ex LEFT JOIN ad
        ON ex.query_id = ad.query_id AND ex.neighbor_id = ad.neighbor_id
    GROUP BY 1
    """,
)
def embedding_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of PQ asymmetric-distance search vs the exact
    cosine ranking — the retrieval-quality half of the product-
    quantization operating point ([[embedding_pq_codes]] prices the
    memory: 16 B/vector vs 256 B; this table prices what that costs
    in neighbors — measured at sf0.01: mean recall@10 ≈ 0.60, range
    0.4–0.8 per query, so the 2-bit uniform grid loses ~40% of true
    top-10 neighbors — the number that tells a deployment it needs
    a rerank stage).  ADC per Jégou et al. (TPAMI'11): the query
    stays UNQUANTIZED; each corpus vector is scored against its
    reconstruction (level midpoint on the same closed-form uniform
    grid as the codes), so this certifies the code assignment's
    retrieval utility end to end — the PQ sibling of
    [[ann_probe_recall_curve]]'s IVF operating-point table.

    Determinism: lo/hi are exact min/max folds; reconstruction is ONE
    fixed IEEE chain per element from bit-identical inputs; both
    rankings order on the 6-dp-rounded cosine with vec_id tiebreak
    (the [[ann_cosine_topk]] discipline — dot products are
    sequential folds in both engines); recall is an exact integer
    count over the rank-set intersection and one fixed divide.

    Scale shape: the per-dim stats are a d-row metadata aggregate,
    collected as the literal codebook (the knn_candidates literal-
    explode precedent — 128 doubles on the driver, never corpus
    data); reconstruction is a map-side transform; scoring is the
    broadcast-query pattern of [[ann_cosine_topk]] (Q × N partial
    top-k, no shuffle of the corpus).  At real corpus scale the ADC
    branch would route through the IVF shortlist like everything
    else — this probe's job is measuring the quantizer, so it scores
    the FULL corpus by design and keeps Q small."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    st = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("i")
        .collect()
    )
    lo_arr = F.array(*[F.lit(float(r.lo)) for r in st])
    hi_arr = F.array(*[F.lit(float(r.hi)) for r in st])

    def _recon(x, i):
        lo = F.element_at(lo_arr, i + 1)
        hi = F.element_at(hi_arr, i + 1)
        lev = F.least(
            F.greatest(
                F.floor((x - lo) / (hi - lo) * _PQ_LEVELS), F.lit(0)
            ),
            F.lit(_PQ_LEVELS - 1),
        )
        return F.when(hi == lo, lo).otherwise(
            lo + (lev + 0.5) * (hi - lo) / float(_PQ_LEVELS)
        )

    rc = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("v", _recon).alias("rv"),
    ).withColumn("rv_nrm", _norm(F.col("rv")))
    q = (
        emb.filter(F.col("vec_id") < _PQ_ADC_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q_v"),
        )
        .withColumn("q_nrm", _norm(F.col("q_v")))
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("b_v")
    ).withColumn("b_nrm", _norm(F.col("b_v")))

    def _topk(side: DataFrame, vec: str, nrm: str) -> DataFrame:
        sims = (
            side.crossJoin(F.broadcast(q))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    _dot(F.col("q_v"), F.col(vec))
                    / (F.col("q_nrm") * F.col(nrm)),
                    6,
                ).alias("sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        return (
            sims.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _PQ_ADC_K)
            .select("query_id", "neighbor_id")
        )

    ex = _topk(b, "b_v", "b_nrm")
    ad = _topk(rc, "rv", "rv_nrm").withColumnsRenamed(
        {"query_id": "a_qid", "neighbor_id": "a_nid"}
    )
    joined = ex.join(
        ad,
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("a_nid").cast("bigint").alias("n_hits"),
        (F.count("a_nid").cast("double") / float(_PQ_ADC_K)).alias(
            f"recall_at_{_PQ_ADC_K}"
        ),
    )


# --- Distributed Lloyd's k-means over the embedding corpus ----------
#
# The one clustering primitive every embedding pipeline needs (IVF
# codebooks, SemDeDup coarse cells, diversity sampling) expressed so
# the ITERATIVE algorithm itself is oracle-checkable: every centroid
# statistic is an exact integer/decimal (quantized elements, decimal
# sums), so each Lloyd round is bit-identical in Spark and DuckDB and
# the driver's value-hash gate certifies all three unrolled rounds.

_KM_K = 4
_KM_ITERS = 3
_KM_SEED = 7


def _km_assign_ctes() -> list[str]:
    """The DuckDB twin of :func:`_km_final_assignments` as a WITH-list
    ending at ``a{_KM_ITERS}`` (vec_id → assignment struct) — shared
    by the kmeans and ARI oracles."""
    from ..functions import PORTABLE_HASH64_SQL

    h = PORTABLE_HASH64_SQL("CAST(vec_id AS VARCHAR)", _KM_SEED)
    ctes = [
        f"""x AS (
        SELECT vec_id, pos - 1 AS pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS qx
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS pos
              FROM embeddings)
    )""",
        f"""seeds AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
        FROM (SELECT vec_id, {h} AS h FROM embeddings)
        QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= {_KM_K}
    )""",
        """c0 AS (
        SELECT s.cid, x.pos, SUM(CAST(x.qx AS DECIMAL(38,0))) AS s,
               COUNT(*) AS n
        FROM seeds s JOIN x ON x.vec_id = s.vec_id
        GROUP BY 1, 2
    )""",
    ]
    dist = (
        "CAST(CAST(c.n AS BIGINT) * x.qx - c.s AS DECIMAL(19,0))"
        " * CAST(CAST(c.n AS BIGINT) * x.qx - c.s AS DECIMAL(19,0))"
    )
    for t in range(1, _KM_ITERS + 1):
        ctes.append(
            f"""d{t} AS (
        SELECT x.vec_id, c.cid, c.n, SUM({dist}) AS dn
        FROM x JOIN c{t - 1} c ON x.pos = c.pos
        GROUP BY 1, 2, 3
    )"""
        )
        ctes.append(
            f"""a{t} AS (
        SELECT vec_id,
               MIN(struct_pack(
                   d := CAST(dn AS DOUBLE) /
                        ((CAST(n AS DOUBLE) * 1000000.0)
                         * (CAST(n AS DOUBLE) * 1000000.0)),
                   cid := cid, dn := dn, n := n)) AS m
        FROM d{t} GROUP BY 1
    )"""
        )
        ctes.append(
            f"""c{t} AS (
        SELECT struct_extract(a.m, 'cid') AS cid, x.pos,
               SUM(CAST(x.qx AS DECIMAL(38,0))) AS s, COUNT(*) AS n
        FROM a{t} a JOIN x ON x.vec_id = a.vec_id
        GROUP BY 1, 2
    )"""
        )
    return ctes


def _km_oracle() -> str:
    ctes = _km_assign_ctes()
    T = _KM_ITERS
    return f"""
    WITH {",".join(ctes)},
    stats AS (
        SELECT struct_extract(m, 'cid') AS cid,
               COUNT(*) AS n_members,
               SUM(struct_extract(m, 'dn')) AS dn_sum,
               MAX(struct_extract(m, 'n')) AS n_src
        FROM a{T} GROUP BY 1
    ),
    dims AS (
        SELECT cid,
               MAX(CASE WHEN pos = 0 THEN
                   CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
               END) AS d0,
               MAX(CASE WHEN pos = 1 THEN
                   CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
               END) AS d1
        FROM c{T} GROUP BY 1
    ),
    lab AS (
        SELECT struct_extract(a.m, 'cid') AS cid, e.label, COUNT(*) AS cnt
        FROM a{T} a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY 1, 2
    ),
    md AS (
        SELECT cid, struct_extract(mm, 'v') AS top_label,
               -struct_extract(mm, 'nc') AS top_cnt
        FROM (SELECT cid, MIN(struct_pack(nc := -cnt, v := label)) AS mm
              FROM lab GROUP BY 1)
    )
    SELECT CAST(st.cid AS INTEGER) AS cid,
           st.n_members AS n_members,
           CAST(md.top_label AS INTEGER) AS top_label,
           FLOOR((md.top_cnt / st.n_members) * 10000.0 + 0.5) / 10000.0
               AS top_label_share,
           FLOOR(dims.d0 * 10000.0 + 0.5) / 10000.0 AS centroid_d0,
           FLOOR(dims.d1 * 10000.0 + 0.5) / 10000.0 AS centroid_d1,
           FLOOR(CAST(st.dn_sum AS DOUBLE) /
                 ((CAST(st.n_src AS DOUBLE) * 1000000.0)
                  * (CAST(st.n_src AS DOUBLE) * 1000000.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS inertia
    FROM stats st JOIN dims USING (cid) JOIN md USING (cid)
    """


_KM_CACHE: dict[tuple[str, str], DataFrame] = {}
#: Final-round centroid statistics (cid, element decimal-sums, count)
#: memoized alongside the assignment frame — [[embedding_silhouette]]
#: needs the full per-centroid distance set, not just the argmin.
_KM_CENTS_CACHE: dict[tuple[str, str], list[tuple[int, list[int], int]]] = {}


def _km_final_cents(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[int], int]]:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key not in _KM_CENTS_CACHE:
        _km_final_assignments(spark, sf_dir)
    return _KM_CENTS_CACHE[key]


def _km_final_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic Lloyd fit shared by [[embedding_kmeans]] and
    [[embedding_cluster_label_ari]]: runs the seed election and the
    ``_KM_ITERS − 1`` exact-arithmetic update rounds, returning the
    FINAL assignment frame ``(vec_id, label, qv, cid, dn, n_src)``
    (memoized per (application, sf_dir) — the iteration's bounded
    k·d-row collects run once, not per query)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _KM_CACHE.get(key)
    if cached is not None:
        return cached
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    base = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x ->"
            " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ).alias("qv"),
    ).cache()

    seed_rows = (
        base.select(
            "vec_id",
            "qv",
            portable_hash64(F.col("vec_id").cast("string"), _KM_SEED).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_KM_K)
        .collect()
    )
    cents = [
        (cid, [int(q) for q in r["qv"]], 1) for cid, r in enumerate(seed_rows)
    ]

    for _ in range(_KM_ITERS - 1):
        assigned = base.select(
            "vec_id", "qv", _km_assign(cents)["cid"].alias("cid")
        )
        rows = (
            assigned.select("cid", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        ns: dict[int, int] = {}
        for r in rows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = int(r["s"])
            ns[r["cid"]] = int(r["n"])
        cents = [
            (cid, [sums[p] for p in sorted(sums)], ns[cid])
            for cid, sums in sorted(by_cid.items())
        ]

    a = base.select("vec_id", "label", "qv", _km_assign(cents).alias("m")).select(
        "vec_id",
        "label",
        "qv",
        F.col("m.cid").alias("cid"),
        F.col("m.dn").alias("dn"),
        F.col("m.n").alias("n_src"),
    )
    _KM_CACHE[key] = a
    _KM_CENTS_CACHE[key] = cents
    return a


def _km_dist_structs(
    cents: list[tuple[int, list[int], int]],
) -> list[Column]:
    """One struct(dist, cid, dist_numerator, n_src) per centroid —
    the exact-arithmetic distance set behind the Lloyd assignment.

    With centroid = s/(n*1e6) held as (decimal-sum s, count n), the
    squared distance to quantized vector x satisfies
    ``d2 = sum_pos (n*x - s)^2 / (n*1e6)^2``: the numerator is an
    exact integer (order-independent under any shuffle), and the one
    float divide at the end is the same IEEE operation in both
    engines, so even near-tie comparisons agree bit-for-bit."""
    cands = []
    for cid, s_list, n in cents:
        s_arr = F.array(*[F.lit(int(s)) for s in s_list])
        nl = F.lit(n).cast("bigint")
        prods = F.zip_with(
            F.col("qv"),
            s_arr,
            lambda x, s: (nl * x - s).cast("decimal(19,0)")
            * (nl * x - s).cast("decimal(19,0)"),
        )
        dn = F.aggregate(
            prods, F.lit(0).cast("decimal(38,0)"), lambda a, p: a + p
        )
        den = (n * 1.0e6) * (n * 1.0e6)
        cands.append(
            F.struct(
                (dn.cast("double") / F.lit(den)).alias("d"),
                F.lit(cid).alias("cid"),
                dn.alias("dn"),
                F.lit(n).cast("bigint").alias("n"),
            )
        )
    return cands


def _km_assign(cents: list[tuple[int, list[int], int]]) -> Column:
    """min over :func:`_km_dist_structs` — the Lloyd assignment
    (ties on distance break by centroid id in both engines)."""
    return F.array_min(F.array(*_km_dist_structs(cents)))


@register("embedding_kmeans", oracle=_km_oracle())
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k={k}, {t} assignment rounds) over the
    embedding corpus, bit-deterministic in both engines: per-cluster
    size, majority label + share (cluster purity), first two centroid
    coordinates, and inertia (the summed squared distance the final
    assignment minimized, measured against its pre-update centroids —
    the Lloyd objective at assignment time).

    Determinism: elements are quantized once (floor(x*1e6), the
    ``embedding_covariance`` pattern); every centroid is carried as
    (exact decimal element-sums, member count) so each round's
    distance comparisons reduce to exact-integer numerators with one
    IEEE divide — no shuffle-order float drift anywhere in the
    iteration.  Seeds are the {k} vectors with the smallest
    (portable_hash64(vec_id), vec_id), i.e. a deterministic uniform
    draw.  Ties on distance break by centroid id in both engines.

    Scale shape (MLlib's own Lloyd layout): the corpus stays
    partitioned; each round broadcasts k*d centroid statistics into a
    map-side zip_with/fold (whole-stage codegen, no join, no shuffle
    of the corpus) and reduces k*d partial sums — the only shuffled
    frame is the 256-row centroid update, collected to the driver
    (bounded: k*d rows/round, the documented IVF-codebook pattern).
    Empty clusters simply drop out of the next round (same rule both
    engines).  At 100 TB with huge member counts the exact-integer
    numerators would outgrow DECIMAL(38); the production path then
    divides first in doubles (MLlib semantics) and this query remains
    the small-SF determinism harness — noted, not hidden."""
    a = _km_final_assignments(spark, sf_dir)
    stats = a.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("dn").alias("dn_sum"),
        F.max("n_src").alias("n_src"),
        F.sum(F.col("qv")[0].cast("decimal(38,0)")).alias("s0"),
        F.sum(F.col("qv")[1].cast("decimal(38,0)")).alias("s1"),
    )
    lab = a.groupBy("cid", "label").agg(F.count("*").alias("cnt"))
    md = lab.groupBy("cid").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("v"))
        ).alias("mm")
    )

    def _r(c, scale):
        return F.floor(c * scale + 0.5) / scale

    def _dim(s):
        return _r(
            F.col(s).cast("double")
            / (F.col("n_members").cast("double") * F.lit(1000000.0)),
            10000.0,
        )

    den = (F.col("n_src").cast("double") * F.lit(1000000.0)) * (
        F.col("n_src").cast("double") * F.lit(1000000.0)
    )
    return stats.join(F.broadcast(md), "cid").select(
        F.col("cid").cast("int").alias("cid"),
        "n_members",
        F.col("mm.v").cast("int").alias("top_label"),
        _r((-F.col("mm.nc")) / F.col("n_members"), 10000.0).alias(
            "top_label_share"
        ),
        _dim("s0").alias("centroid_d0"),
        _dim("s1").alias("centroid_d1"),
        _r(F.col("dn_sum").cast("double") / den, 1000000.0).alias("inertia"),
    )


embedding_kmeans.__doc__ = embedding_kmeans.__doc__.format(
    k=_KM_K, t=_KM_ITERS
)


# --- Dominant principal direction by exact-integer power iteration --

_EIG_ITERS = 3
_EIG_VSCALE = 1_000_000


def _eig_oracle() -> str:
    rounds = []
    for r in range(1, _EIG_ITERS + 1):
        rounds.append(
            f"""u{r} AS (
        SELECT s.i AS pos,
               SUM(CAST(s.sval AS HUGEINT) * v.v) AS u
        FROM smat s JOIN v{r - 1} v ON s.j = v.pos
        GROUP BY 1
    )"""
        )
        rounds.append(
            f"""v{r} AS MATERIALIZED (
        SELECT pos,
               (CASE WHEN u < 0 THEN -1 ELSE 1 END)
                   * ((ABS(u) * {_EIG_VSCALE})
                      // (SELECT MAX(ABS(u)) FROM u{r})) AS v
        FROM u{r}
    )"""
        )
    R = _EIG_ITERS
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH x AS MATERIALIZED (
        SELECT vec_id, pos - 1 AS pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS qx
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS pos
              FROM embeddings)
    ),
    nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM x),
    sp AS (SELECT pos, SUM(CAST(qx AS HUGEINT)) AS s FROM x GROUP BY 1),
    ut AS MATERIALIZED (
        SELECT a.pos AS i, b.pos AS j,
               SUM(CAST(a.qx AS HUGEINT) * b.qx) AS spp
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos
        GROUP BY 1, 2
    ),
    full_ut AS (
        SELECT i, j, spp FROM ut
        UNION ALL
        SELECT j AS i, i AS j, spp FROM ut WHERE i < j
    ),
    smat AS MATERIALIZED (
        SELECT f.i, f.j,
               nn.n * f.spp - si.s * sj.s AS sval
        FROM full_ut f
        CROSS JOIN nn
        JOIN sp si ON si.pos = f.i
        JOIN sp sj ON sj.pos = f.j
    ),
    v0 AS (
        SELECT DISTINCT pos, CAST({_EIG_VSCALE} AS HUGEINT) AS v FROM x
    ),
    {rounds_sql},
    ufin AS (
        SELECT s.i AS pos, SUM(CAST(s.sval AS HUGEINT) * v.v) AS u
        FROM smat s JOIN v{R} v ON s.j = v.pos
        GROUP BY 1
    ),
    ray AS (
        SELECT SUM(CAST(v.v AS HUGEINT) * u.u) AS num,
               SUM(CAST(v.v AS HUGEINT) * v.v) AS den
        FROM v{R} v JOIN ufin u ON v.pos = u.pos
    ),
    tr AS (SELECT SUM(sval) AS trace FROM smat WHERE i = j),
    nrm AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS vv FROM v{R})
    SELECT v.pos,
           ROUND(CAST(v.v AS DOUBLE) / sqrt(CAST(nrm.vv AS DOUBLE)), 6)
               AS loading,
           ROUND(CAST(ray.num AS DOUBLE)
                 / (CAST(ray.den AS DOUBLE) * CAST(tr.trace AS DOUBLE)),
                 6) AS explained_share
    FROM v{R} v CROSS JOIN ray CROSS JOIN tr CROSS JOIN nrm
    """


@register("embedding_top_eigenvector", oracle=_eig_oracle())
def embedding_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding scatter matrix by {t}
    power-iteration rounds, bit-deterministic end to end — the first
    principal direction (PCA without the full decomposition): per
    dimension its loading on the top component, plus the Rayleigh
    explained-variance share — the signal that tells an embedding
    pipeline whether one axis dominates (anisotropy / collapsed
    representation, Mu & Viswanath's all-but-the-top diagnostic).

    Determinism (the ``embedding_kmeans`` discipline taken to linear
    algebra): elements quantize to integers once; the scatter matrix
    S = n*Sum(x_i x_j) - Sum(x_i)Sum(x_j) is exact integer; each
    power round's mat-vec is an exact integer fold, and the rescale
    divides by max|u| in INTEGER arithmetic — sign * (|u|*1e6 div
    max) — where both engines truncate toward zero (Spark ``div``,
    DuckDB ``//`` on HUGEINT; DECIMAL ``//`` would true-divide).  So
    the ITERATION — not just its inputs — is value-hash-oracled; the
    only IEEE ops are the final normalized loadings and the Rayleigh
    ratio of exact scalars.

    Scale shape: one flatten pass builds (vec, dim, q); the d(d+1)/2
    upper-triangle co-moments come from ONE self-join keyed on
    vec_id (MLlib RowMatrix's Gram layout); after that every round
    touches only the d^2-row S frame with the d-row vector broadcast
    as a literal array — map-side multiply, one d-row aggregate,
    driver-rescaled exactly like the k-means centroid update.  The
    fact-scale data is read once."""
    # The (di, dj, Σ qxi·qxj) co-moment frame and per-dim sums come
    # from the memoized _embedding_scatter_moments (shared with
    # embedding_covariance — identical quantization and |qv| ≤ 3e9
    # guard; the one-pass array expansion there was measured 2x
    # faster than the exploded self-join in r7).
    moments, sums, n = _embedding_scatter_moments(spark, sf_dir)
    sp = {
        r["dim"]: int(r["sx"]) for r in sums.collect()
    }
    ut = moments.select(
        F.col("di").alias("i"), F.col("dj").alias("j"), F.col("sxy").alias("spp")
    )
    full_ut = ut.unionAll(
        ut.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "spp"
        )
    )
    sp_arr = F.array(
        *[F.lit(sp[p]).cast("decimal(38,0)") for p in sorted(sp)]
    )
    smat = full_ut.select(
        "i",
        "j",
        (
            F.lit(n).cast("decimal(38,0)") * F.col("spp")
            - F.element_at(sp_arr, F.col("i") + 1)
            * F.element_at(sp_arr, F.col("j") + 1)
        ).alias("sval"),
    ).cache()
    smat.count()

    d = len(sp)
    v = [_EIG_VSCALE] * d

    def _matvec() -> list[int]:
        v_arr = F.array(*[F.lit(int(c)).cast("decimal(38,0)") for c in v])
        rows = (
            smat.groupBy("i")
            .agg(
                F.sum(
                    F.col("sval") * F.element_at(v_arr, F.col("j") + 1)
                ).alias("u")
            )
            .collect()
        )
        out = [0] * d
        for r in rows:
            out[r["i"]] = int(r["u"])
        return out

    for _ in range(_EIG_ITERS):
        u = _matvec()
        mx = max(abs(c) for c in u)
        v = [
            (1 if c >= 0 else -1) * ((abs(c) * _EIG_VSCALE) // mx) for c in u
        ]
    ufin = _matvec()
    num = sum(vi * ui for vi, ui in zip(v, ufin))
    den = sum(vi * vi for vi in v)
    trace_rows = smat.filter(F.col("i") == F.col("j")).agg(
        F.sum("sval").alias("t")
    ).collect()
    trace = int(trace_rows[0]["t"])
    smat.unpersist()
    import math as _math

    vv = float(den)
    explained = float(num) / (float(den) * float(trace))
    out = [
        (p, round(v[p] / _math.sqrt(vv), 6), round(explained, 6))
        for p in range(d)
    ]
    return local_rows(
        spark, out, "pos int, loading double, explained_share double"
    )


embedding_top_eigenvector.__doc__ = embedding_top_eigenvector.__doc__.format(
    t=_EIG_ITERS
)


#: JL target dimensionality and the quantization scale for the
#: distortion audit.  The |x| <= 30 guard keeps every intermediate
#: integer exact in a double (see docstring bound).
_JL_K = 8
_JL_SCALE = 10000.0
_JL_MAX_ABS = 30.0


@register(
    "embedding_jl_distortion",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, i - 1 AS i,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_JL_SCALE}
                          + 0.5) AS BIGINT) AS qv
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    p AS (
        SELECT vec_id, label, j.j,
               SUM(qv * CASE WHEN substr(md5('jl:' || j.j || ':' || i), 2, 1)
                             IN ('1','3','5','7','9','b','d','f')
                        THEN 1 ELSE -1 END) AS pj
        FROM q, unnest(generate_series(0, {_JL_K} - 1)) AS j(j)
        GROUP BY 1, 2, 3
    ),
    vq AS (SELECT vec_id, label, SUM(qv * qv) AS q_sq FROM q GROUP BY 1, 2),
    vp AS (SELECT vec_id, SUM(pj * pj) AS p_sq FROM p GROUP BY 1),
    d AS (
        SELECT vq.label,
               CAST(FLOOR((CAST(p_sq AS DOUBLE) * 1000000.0)
                    / ({_JL_K}.0 * CAST(q_sq AS DOUBLE))) AS BIGINT) AS dq
        FROM vq JOIN vp ON vp.vec_id = vq.vec_id
        WHERE q_sq > 0
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(dq) / (COUNT(*) * 1000000.0), 6) AS mean_distortion,
           ROUND(MIN(dq) / 1000000.0, 6) AS min_distortion,
           ROUND(MAX(dq) / 1000000.0, 6) AS max_distortion
    FROM d GROUP BY 1
    """,
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection audit: project every embedding
    from d=64 to k=8 dimensions with a deterministic Rademacher (±1)
    matrix (Achlioptas 2003's database-friendly JL variant — signs,
    not Gaussians, so the projection is exact integer arithmetic) and
    measure per-label norm distortion ``‖Pv‖² / (k·‖v‖²)`` — expected
    1.0 under the JL guarantee.  This is the go/no-go audit before
    serving truncated/projected embeddings for cheap first-stage
    retrieval: a label whose min distortion strays far from 1 loses
    recall under projection.

    Determinism: elements quantize map-side to exact 1e-4 integers
    (guarded |x| ≤ 30 ⇒ every projection, square, and sum stays an
    exact integer below 2^53 — loud raise_error beyond, same contract
    as embedding_covariance); the sign matrix derives from MD5
    (identical bytes in Python, Spark, and DuckDB); the one float
    step per vector (multiply, divide, floor on exact integers) is
    IEEE-identical in both engines, and per-label stats sum exact
    quantized integers.

    Scale shape: the whole projection is ONE map-side array fold per
    row (a k×d literal sign matrix folded over the quantized vector —
    no explode, no join, no shuffle before the |labels|-row
    aggregate); cost is O(k·d) per vector, the same as reading it."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _rademacher_planes(_JL_K, prefix="jl")
    s_lit = F.array(
        *[F.array(*[F.lit(int(w)) for w in row]) for row in planes]
    )
    guard = (
        f"transform(embedding, x -> CASE WHEN abs(CAST(x AS DOUBLE)) >"
        f" {_JL_MAX_ABS} THEN CAST(raise_error('embedding_jl_distortion:"
        f" |value| > {_JL_MAX_ABS} — quantized element overflows the exact"
        f" double bound; rescale the embedding column') AS BIGINT)"
        f" ELSE CAST(FLOOR(CAST(x AS DOUBLE) * {_JL_SCALE} + 0.5) AS BIGINT)"
        f" END)"
    )
    qv = F.expr(guard)
    zero = F.lit(0).cast("bigint")
    pj = F.transform(
        s_lit,
        lambda row: F.aggregate(
            F.zip_with(row, F.col("qv"), lambda w, x: w.cast("bigint") * x),
            zero,
            lambda acc, v: acc + v,
        ),
    )
    sq = lambda arr: F.aggregate(  # noqa: E731 — local fold shorthand
        F.transform(arr, lambda v: v * v), zero, lambda acc, v: acc + v
    )
    per_vec = (
        emb.select("label", qv.alias("qv"))
        .select("label", sq(pj).alias("p_sq"), sq(F.col("qv")).alias("q_sq"))
        .filter(F.col("q_sq") > 0)
        .select(
            "label",
            F.floor(
                (F.col("p_sq").cast("double") * 1000000.0)
                / (float(_JL_K) * F.col("q_sq").cast("double"))
            )
            .cast("bigint")
            .alias("dq"),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.sum("dq") / (F.count("*") * 1000000.0), 6).alias(
            "mean_distortion"
        ),
        F.round(F.min("dq") / 1000000.0, 6).alias("min_distortion"),
        F.round(F.max("dq") / 1000000.0, 6).alias("max_distortion"),
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH q AS (
        SELECT vec_id % 2 AS half, label, i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
                   AS qv
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    s AS (
        SELECT label, dim,
               SUM(CASE WHEN half = 0 THEN CAST(qv AS DECIMAL(20,0))
                        ELSE CAST(0 AS DECIMAL(20,0)) END) AS s0,
               SUM(CASE WHEN half = 1 THEN CAST(qv AS DECIMAL(20,0))
                        ELSE CAST(0 AS DECIMAL(20,0)) END) AS s1
        FROM q GROUP BY 1, 2
    ),
    n AS (
        SELECT label,
               CAST(COUNT(*) FILTER (WHERE half = 0 AND dim = 0) AS BIGINT)
                   AS n0,
               CAST(COUNT(*) FILTER (WHERE half = 1 AND dim = 0) AS BIGINT)
                   AS n1
        FROM q GROUP BY 1
    ),
    m AS (
        SELECT label,
               SUM(CAST(s0 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))
                   AS dot01,
               SUM(CAST(s0 AS DECIMAL(38,0)) * CAST(s0 AS DECIMAL(38,0)))
                   AS dot00,
               SUM(CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))
                   AS dot11
        FROM s GROUP BY 1
    )
    SELECT m.label, n.n0 AS n_ref, n.n1 AS n_cur,
           ROUND(CAST(dot01 AS DOUBLE)
                 / (sqrt(CAST(dot00 AS DOUBLE))
                    * sqrt(CAST(dot11 AS DOUBLE))), 6) AS centroid_cosine,
           ROUND(sqrt(CAST(dot00 AS DOUBLE))
                 / (n.n0 * 1000000.0), 6) AS ref_centroid_norm,
           ROUND(sqrt(CAST(dot11 AS DOUBLE))
                 / (n.n1 * 1000000.0), 6) AS cur_centroid_norm
    FROM m JOIN n ON n.label = m.label
    WHERE n.n0 > 0 AND n.n1 > 0
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: per label, the cosine between
    the centroid of the REF half (even vec_id — batch-boundary
    stand-in) and the CUR half, plus both centroid norms — the
    representation-health alarm a retrieval/serving pipeline runs
    when the upstream encoder or corpus shifts (the embedding
    counterpart of corpus_lexical_drift; a cosine well below 1 for a
    label means its two halves no longer agree on where the class
    lives).

    Determinism: elements quantize map-side to exact 1e-6 integers;
    per-(label, dim) half-sums are exact DECIMAL; the d cross-products
    accumulate in exact DECIMAL(38) (bounds: |s| ≤ n·6e5·1e6 ≈ 2^57,
    square ≤ 1e35 < 1e38); the only floats are final casts of exact
    decimals followed by sqrt (correctly rounded under IEEE-754) and
    one divide — bit-identical in both engines.  Centroid division
    by n is folded into the norm denominators so no rational centroid
    is ever materialized.

    Scale shape: one posexplode to (label, half, dim) partials —
    partial aggregation collapses each partition to |labels|×2×d
    running sums before the only shuffle; everything after runs on
    the |labels|×d bounded frame."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.expr(
            "transform(embedding, x ->"
            " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ).alias("qv"),
    )
    q = emb.select(
        "half", "label", F.posexplode("qv").alias("dim", "v")
    )
    s = q.groupBy("label", "dim").agg(
        F.sum(
            F.when(F.col("half") == 0, F.col("v").cast("decimal(20,0)")).otherwise(
                F.lit(0).cast("decimal(20,0)")
            )
        ).alias("s0"),
        F.sum(
            F.when(F.col("half") == 1, F.col("v").cast("decimal(20,0)")).otherwise(
                F.lit(0).cast("decimal(20,0)")
            )
        ).alias("s1"),
    )
    n = (
        q.filter(F.col("dim") == 0)
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
        )
    )
    m = s.groupBy("label").agg(
        F.sum(
            F.col("s0").cast("decimal(38,0)") * F.col("s1").cast("decimal(38,0)")
        ).alias("dot01"),
        F.sum(
            F.col("s0").cast("decimal(38,0)") * F.col("s0").cast("decimal(38,0)")
        ).alias("dot00"),
        F.sum(
            F.col("s1").cast("decimal(38,0)") * F.col("s1").cast("decimal(38,0)")
        ).alias("dot11"),
    )
    return (
        m.join(F.broadcast(n), "label")
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "label",
            F.col("n0").alias("n_ref"),
            F.col("n1").alias("n_cur"),
            F.round(
                F.col("dot01").cast("double")
                / (
                    F.sqrt(F.col("dot00").cast("double"))
                    * F.sqrt(F.col("dot11").cast("double"))
                ),
                6,
            ).alias("centroid_cosine"),
            F.round(
                F.sqrt(F.col("dot00").cast("double"))
                / (F.col("n0") * 1000000.0),
                6,
            ).alias("ref_centroid_norm"),
            F.round(
                F.sqrt(F.col("dot11").cast("double"))
                / (F.col("n1") * 1000000.0),
                6,
            ).alias("cur_centroid_norm"),
        )
    )


#: Margin-mining neighborhood size.  4 keeps the avg-of-k division
#: exact: margin = 2·cos / ((sum_x + sum_y)/(2·4)) = 8·cos /
#: (sum_x + sum_y), so both engines divide the SAME exact integers /
#: decimals once, at emission.
_MARGIN_K = 4
_MARGIN_BATCH = 2 * _N_QUERIES
#: IVF-path shortlist size per source vector for margin rescoring
#: (4× the margin-k, the usual mine-wide-rescore-narrow margin-mining
#: headroom); irrelevant below the exact bound, where the candidate
#: table is the full batch × corpus pair set.
_MARGIN_SHORTLIST = 4 * _MARGIN_K


@register(
    "embedding_bitext_margin",
    oracle=f"""
    WITH a AS (SELECT vec_id AS x_id, embedding AS xe FROM embeddings
               WHERE label % 2 = 0 AND vec_id < {_MARGIN_BATCH}),
    b AS (SELECT vec_id AS y_id, embedding AS ye FROM embeddings
          WHERE label % 2 = 1),
    p AS MATERIALIZED (
        SELECT x_id, y_id, CAST(ROUND(c, 6) AS DECIMAL(10,6)) AS cos
        FROM (SELECT a.x_id, b.y_id,
                     {_cosine_sql("a.xe", "b.ye")} AS c
              FROM a CROSS JOIN b)
    ),
    ka AS (SELECT x_id, SUM(cos) AS sum_x FROM (
        SELECT x_id, cos, ROW_NUMBER() OVER (
            PARTITION BY x_id ORDER BY cos DESC, y_id) AS rn FROM p)
        WHERE rn <= {_MARGIN_K} GROUP BY 1),
    kb AS (SELECT y_id, SUM(cos) AS sum_y FROM (
        SELECT y_id, cos, ROW_NUMBER() OVER (
            PARTITION BY y_id ORDER BY cos DESC, x_id) AS rn FROM p)
        WHERE rn <= {_MARGIN_K} GROUP BY 1),
    m AS (
        SELECT p.x_id, p.y_id, p.cos,
               CAST(8 * p.cos AS DOUBLE)
                   / CAST(ka.sum_x + kb.sum_y AS DOUBLE) AS mr
        FROM p JOIN ka USING (x_id) JOIN kb USING (y_id)
    ),
    fx AS (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY x_id ORDER BY mr DESC, y_id) AS rx FROM m),
    fy AS (SELECT x_id, y_id, ROW_NUMBER() OVER (
               PARTITION BY y_id ORDER BY mr DESC, x_id) AS ry FROM m)
    SELECT fx.x_id, fx.y_id,
           CAST(fx.cos AS DOUBLE) AS cosine_sim,
           FLOOR(fx.mr * 1000000 + 0.5) / 1000000 AS margin,
           (fy.ry = 1) AS is_mutual
    FROM fx JOIN fy ON fx.x_id = fy.x_id AND fx.y_id = fy.y_id
    WHERE fx.rx = 1
    """,
)
def embedding_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    the LASER/CCMatrix bitext-mining criterion): for a batch of
    "source-side" vectors (even labels, vec_id < {batch}) against the
    full "target side" (odd labels), score each candidate pair by the
    RATIO margin — cos(x,y) normalized by the mean cosine of each
    endpoint's {k} nearest neighbors — and emit each source's best
    target with its margin and a mutual-best flag.  Margin scoring is
    what separates a genuinely aligned pair from a hub vector that is
    everyone's neighbor; raw-cosine top-1 mining drowns in hubs.

    Cross-engine exactness: cosines are rounded to 6 dp ONCE and
    carried as DECIMAL(10,6); the k-neighbor sums are exact decimal
    sums of those; the margin is a single double division of
    identical exact operands (×8 instead of /4 keeps it one
    division), emitted via the engine-identical floor(x·1e6+0.5)
    ladder; all ranking keys are (exact value, id) pairs.

    Scale shape: candidate generation goes through the shared
    [[knn_candidates]] router.  Below its row bound the batch × corpus
    pair table is exact (what the oracle checks); above it candidates
    come from the persisted ``VectorIndex`` IVF shortlist
    (``_MARGIN_SHORTLIST`` = 4k candidates per source vector) with
    margin rescoring restricted to the shortlist — precisely how
    CCMatrix runs margin mining at web scale (Schwenk et al. 2021:
    mine with ANN, rescore with the margin).  The k-NN sums and
    best-match elections are bounded windows over per-query
    partitions of the slim (x, y, cos) frame either way."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    a = emb.filter(
        (F.col("label") % 2 == 0) & (F.col("vec_id") < _MARGIN_BATCH)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    b = emb.filter(F.col("label") % 2 == 1).select("vec_id", "embedding")
    p = (
        knn_candidates(
            a, b, k=_MARGIN_SHORTLIST,
            index_path=knn_index_path(sf_dir, "bitext_odd"),
            corpus_rows=cached_count(b, sf_dir, "embeddings_label_odd"),
        )
        .select(
            F.col("query_id").alias("x_id"),
            F.col("neighbor_id").alias("y_id"),
            F.col("cosine_sim").cast("decimal(10,6)").alias("cos"),
        )
        # localCheckpoint (eager): materialized once, lineage-free, and
        # released by the ContextCleaner when the frame is GC'd — unlike
        # cache(), repeated invocations don't pin cross-product tables
        # in the CacheManager for the session lifetime.
        .localCheckpoint()
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("cos"), F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("cos"), F.asc("x_id"))
    ka = (
        p.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= _MARGIN_K)
        .groupBy("x_id")
        .agg(F.sum("cos").alias("sum_x"))
    )
    kb = (
        p.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") <= _MARGIN_K)
        .groupBy("y_id")
        .agg(F.sum("cos").alias("sum_y"))
    )
    m = (
        p.join(F.broadcast(ka), "x_id")
        .join(F.broadcast(kb), "y_id")
        .withColumn(
            "mr",
            (F.lit(8) * F.col("cos")).cast("double")
            / (F.col("sum_x") + F.col("sum_y")).cast("double"),
        )
    )
    mx = Window.partitionBy("x_id").orderBy(F.desc("mr"), F.asc("y_id"))
    my = Window.partitionBy("y_id").orderBy(F.desc("mr"), F.asc("x_id"))
    ranked = m.withColumn("rx", F.row_number().over(mx)).withColumn(
        "ry", F.row_number().over(my)
    )
    return ranked.filter(F.col("rx") == 1).select(
        "x_id",
        "y_id",
        F.col("cos").cast("double").alias("cosine_sim"),
        (F.floor(F.col("mr") * 1000000 + F.lit(0.5)) / 1000000).alias("margin"),
        (F.col("ry") == 1).alias("is_mutual"),
    )


embedding_bitext_margin.__doc__ = embedding_bitext_margin.__doc__.format(
    batch=_MARGIN_BATCH, k=_MARGIN_K
)


def _ari_oracle() -> str:
    ctes = _km_assign_ctes()
    T = _KM_ITERS
    return f"""
    WITH {",".join(ctes)},
    ct AS (
        SELECT struct_extract(a.m, 'cid') AS cid, e.label,
               COUNT(*) AS nij
        FROM a{T} a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY 1, 2
    ),
    ai AS (SELECT cid, SUM(nij) AS na FROM ct GROUP BY 1),
    bj AS (SELECT label, SUM(nij) AS nb FROM ct GROUP BY 1),
    s AS (
        SELECT (SELECT SUM((nij * (nij - 1)) // 2) FROM ct) AS sidx,
               (SELECT SUM((na * (na - 1)) // 2) FROM ai) AS sa,
               (SELECT SUM((nb * (nb - 1)) // 2) FROM bj) AS sb,
               (SELECT SUM(nij) FROM ct) AS n,
               (SELECT COUNT(*) FROM ai) AS k,
               (SELECT COUNT(*) FROM bj) AS nl
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           CAST(k AS BIGINT) AS n_clusters,
           CAST(nl AS BIGINT) AS n_labels,
           CAST(sidx AS BIGINT) AS pair_agree_index,
           FLOOR(CAST((n * (n - 1)) // 2 + 2 * sidx - sa - sb AS DOUBLE)
                 / ((n * (n - 1)) // 2) * 1000000.0 + 0.5) / 1000000.0
               AS rand_index,
           FLOOR(CAST(sa AS DOUBLE) * sb / ((n * (n - 1)) // 2)
                 * 1000000.0 + 0.5) / 1000000.0 AS expected_index,
           FLOOR((CAST(sidx AS DOUBLE)
                  - CAST(sa AS DOUBLE) * sb / ((n * (n - 1)) // 2))
                 / NULLIF((sa + sb) / 2.0
                          - CAST(sa AS DOUBLE) * sb / ((n * (n - 1)) // 2),
                          0)
                 * 1000000.0 + 0.5) / 1000000.0 AS adjusted_rand
    FROM s
    """


@register("embedding_cluster_label_ari", oracle=_ari_oracle())
def embedding_cluster_label_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering validity of the deterministic Lloyd fit:
    Rand index, its chance expectation, and the Adjusted Rand Index
    (Hubert & Arabie 1985) between [[embedding_kmeans]]'s final
    assignment and the ground-truth ``label`` column — the
    one-number answer to "did the clusters recover the labels better
    than chance?" that purity (majority share) cannot give, because
    purity inflates as k grows.

    Exactness: every ingredient is an exact integer — the
    contingency counts n_ij, the pair tallies ΣC(n_ij,2), ΣC(a_i,2),
    ΣC(b_j,2) (products of consecutive integers, integer-halved) —
    and the three emitted ratios are fixed IEEE op sequences over
    their exact double conversions with the sign-safe
    floor(x·1e6+0.5)/1e6 ladder (ARI legitimately straddles zero, so
    plain ROUND would hit the DuckDB −0.0 / Spark +0.0 divergence).
    At ~1e10 vectors the pair tallies outgrow BIGINT — the documented
    switch is DECIMAL(38,0) on the three pair sums.

    Scale shape: reuses the memoized assignment frame (the Lloyd
    rounds run once per session, broadcast-centroid map-side, no
    corpus shuffle); the contingency table is one hash aggregate
    bounded by k·|labels| rows, and everything downstream folds that
    tiny frame."""
    a = _km_final_assignments(spark, sf_dir)
    ct = a.groupBy("cid", "label").agg(F.count("*").alias("nij"))
    sidx = ct.agg(
        F.sum(F.expr("(nij * (nij - 1)) div 2")).alias("sidx"),
        F.sum("nij").alias("n"),
    )
    sa_k = (
        ct.groupBy("cid")
        .agg(F.sum("nij").alias("na"))
        .agg(
            F.sum(F.expr("(na * (na - 1)) div 2")).alias("sa"),
            F.count("*").alias("k"),
        )
    )
    sb_l = (
        ct.groupBy("label")
        .agg(F.sum("nij").alias("nb"))
        .agg(
            F.sum(F.expr("(nb * (nb - 1)) div 2")).alias("sb"),
            F.count("*").alias("nl"),
        )
    )
    s = sidx.crossJoin(F.broadcast(sa_k)).crossJoin(F.broadcast(sb_l))
    c2 = F.expr("(n * (n - 1)) div 2")
    expected = F.col("sa").cast("double") * F.col("sb") / c2
    emit = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return s.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.col("k").cast("bigint").alias("n_clusters"),
        F.col("nl").cast("bigint").alias("n_labels"),
        F.col("sidx").cast("bigint").alias("pair_agree_index"),
        emit(
            (c2 + 2 * F.col("sidx") - F.col("sa") - F.col("sb")).cast("double")
            / c2
        ).alias("rand_index"),
        emit(expected).alias("expected_index"),
        emit(
            (F.col("sidx").cast("double") - expected)
            / F.nullif(
                (F.col("sa") + F.col("sb")) / 2.0 - expected, F.lit(0.0)
            )
        ).alias("adjusted_rand"),
    )


def _silhouette_oracle() -> str:
    ctes = _km_assign_ctes()
    T = _KM_ITERS
    d_expr = (
        "CAST(d.dn AS DOUBLE) / ((CAST(d.n AS DOUBLE) * 1000000.0)"
        " * (CAST(d.n AS DOUBLE) * 1000000.0))"
    )
    return f"""
    WITH {",".join(ctes)},
    sil AS (
        SELECT d.vec_id,
               struct_extract(a.m, 'cid') AS cid,
               struct_extract(a.m, 'd') AS da,
               MIN(CASE WHEN d.cid <> struct_extract(a.m, 'cid')
                        THEN {d_expr} END) AS db
        FROM d{T} d JOIN a{T} a ON a.vec_id = d.vec_id
        GROUP BY 1, 2, 3
    ),
    sq AS (
        SELECT cid,
               CAST(FLOOR(CASE WHEN GREATEST(sqrt(da), sqrt(db)) = 0
                               THEN 0.0
                               ELSE (sqrt(db) - sqrt(da))
                                    / GREATEST(sqrt(da), sqrt(db)) END
                          * 1000000000.0) AS BIGINT) AS sq
        FROM sil
    ),
    g AS (
        SELECT cid, COUNT(*) AS n, SUM(sq) AS ssq,
               SUM(CASE WHEN sq < 0 THEN 1 ELSE 0 END) AS nneg
        FROM sq GROUP BY 1
    ),
    t AS (SELECT SUM(n) AS tn, SUM(ssq) AS tssq FROM g)
    SELECT CAST(g.cid AS INTEGER) AS cid,
           CAST(g.n AS BIGINT) AS n_members,
           FLOOR(CAST(g.ssq AS DOUBLE) / (g.n * 1000000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_silhouette,
           ROUND(CAST(g.nneg AS DOUBLE) / g.n, 6) AS misplaced_share,
           FLOOR(CAST(t.tssq AS DOUBLE) / (t.tn * 1000000000.0)
                 * 1000000.0 + 0.5) / 1000000.0
               AS overall_mean_silhouette
    FROM g CROSS JOIN t
    """


@register("embedding_silhouette", oracle=_silhouette_oracle())
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid) silhouette of the deterministic Lloyd
    fit — the INTERNAL validity score next to
    [[embedding_cluster_label_ari]]'s external one: per point,
    a = distance to its own centroid, b = distance to the nearest
    OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1] (Hruschka et al.'s
    centroid variant of Rousseeuw's silhouette — O(n·k), the form
    that scales; the classic all-pairs form is O(n²) by definition).
    Per cluster: size, mean silhouette, and the share of points with
    negative s (closer to a rival centroid than their own — the
    misassignment alarm); every row carries the corpus-wide mean.

    Determinism: all k distances per point come from exact-integer
    numerators over (decimal centroid sums, counts) — the
    [[embedding_kmeans]] discipline — so a, b are bit-identical
    doubles in both engines; sqrt is IEEE-correctly-rounded, s is a
    fixed op sequence, and each s is quantized to floor(s·1e9)
    BEFORE the per-cluster sum, making the means exact-integer
    ratios (shuffle-order proof) emitted via the sign-safe floor
    ladder (s legitimately straddles zero).

    Scale shape: reuses the memoized assignment frame (Lloyd rounds
    run once per session); the k-distance set is a map-side
    broadcast-literal fold per point (no join, no shuffle of the
    corpus); the only aggregates are the k-row cluster stats."""
    a = _km_final_assignments(spark, sf_dir)
    cents = _km_final_cents(spark, sf_dir)
    arr = F.array(*_km_dist_structs(cents))
    own_d = F.col("dn").cast("double") / (
        (F.col("n_src").cast("double") * F.lit(1000000.0))
        * (F.col("n_src").cast("double") * F.lit(1000000.0))
    )
    other_d = F.array_min(
        F.filter(arr, lambda s: s["cid"] != F.col("cid"))
    )["d"]
    sil = a.select("cid", own_d.alias("da"), other_d.alias("db"))
    a_e = F.sqrt(F.col("da"))
    b_e = F.sqrt(F.col("db"))
    s_val = F.when(F.greatest(a_e, b_e) == 0, F.lit(0.0)).otherwise(
        (b_e - a_e) / F.greatest(a_e, b_e)
    )
    sq = sil.select(
        "cid", F.floor(s_val * 1000000000.0).cast("bigint").alias("sq")
    )
    g = sq.groupBy("cid").agg(
        F.count("*").alias("n"),
        F.sum("sq").alias("ssq"),
        F.sum(F.when(F.col("sq") < 0, 1).otherwise(0)).alias("nneg"),
    )
    t = g.agg(F.sum("n").alias("tn"), F.sum("ssq").alias("tssq"))
    emit = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return g.crossJoin(F.broadcast(t)).select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n").cast("bigint").alias("n_members"),
        emit(
            F.col("ssq").cast("double") / (F.col("n") * 1000000000.0)
        ).alias("mean_silhouette"),
        F.round(F.col("nneg").cast("double") / F.col("n"), 6).alias(
            "misplaced_share"
        ),
        emit(
            F.col("tssq").cast("double") / (F.col("tn") * 1000000000.0)
        ).alias("overall_mean_silhouette"),
    )


@register(
    "embedding_knn_label_accuracy",
    oracle=f"""
    WITH s AS (
        SELECT a.vec_id AS qid, a.label AS lab,
               ROUND({_cosine_sql("a.embedding", "b.embedding")}, 6) AS c,
               b.vec_id AS nid, b.label AS nlab
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id <> b.vec_id
    ),
    nn AS (
        SELECT qid, lab,
               MAX(struct_pack(c := c, nb := -nid, nlab := nlab)) AS m
        FROM s GROUP BY 1, 2
    ),
    g AS (
        SELECT lab AS label, COUNT(*) AS n,
               SUM(CASE WHEN struct_extract(m, 'nlab') = lab
                        THEN 1 ELSE 0 END) AS n_correct
        FROM nn GROUP BY 1
    ),
    t AS (SELECT SUM(n) AS tn, SUM(n_correct) AS tc FROM g)
    SELECT CAST(g.label AS INTEGER) AS label,
           CAST(g.n AS BIGINT) AS n_vectors,
           CAST(g.n_correct AS BIGINT) AS n_correct,
           ROUND(CAST(g.n_correct AS DOUBLE) / g.n, 6) AS knn_accuracy,
           ROUND(CAST(t.tc AS DOUBLE) / t.tn, 6) AS overall_accuracy
    FROM g CROSS JOIN t
    """,
)
def embedding_knn_label_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out 1-NN label agreement over the embedding corpus —
    the classic label-noise / embedding-quality probe (a label whose
    nearest neighbor disagrees is either mislabeled or sits in a
    poorly separated region; aggregate accuracy is the k=1 case of
    the kNN-classifier sanity check run before training on weak
    labels).  Per label: vector count, 1-NN-agrees count, accuracy;
    every row carries the corpus-wide accuracy.

    Determinism: the neighbor election ranks on the 6-dp ROUNDED
    cosine (the ann-family idiom — post-round ties cannot hide
    engine-level last-ulp differences) with vec_id as the total tie
    break, via one max(struct) hash aggregate — no window sort.

    Scale shape: candidate generation goes through the shared
    [[knn_candidates]] router — below its row bound this is the exact
    broadcast cross join (n² cosine probes, dim-bounded zip_with
    folds, one hash aggregate — what the oracle checks); above it the
    election runs against the persisted ``VectorIndex`` IVF shortlist
    instead of a cross join (no BroadcastNestedLoopJoin in the plan,
    asserted in tests/test_plans.py), identical downstream
    aggregates."""
    e = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    s = knn_candidates(
        e.select(
            F.col("vec_id").alias("query_id"), "embedding",
            F.col("label").alias("lab"),
        ),
        e.select("vec_id", "embedding", F.col("label").alias("nlab")),
        k=1,
        index_path=knn_index_path(sf_dir, "knn_label"),
        corpus_rows=cached_count(e, sf_dir, "embeddings"),
    ).select(
        F.col("query_id").alias("qid"), "lab",
        F.col("cosine_sim").alias("c"),
        F.col("neighbor_id").alias("nid"), "nlab",
    )
    nn = s.groupBy("qid", "lab").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"),
                (-F.col("nid")).alias("nb"),
                F.col("nlab").alias("nlab"),
            )
        ).alias("m")
    )
    g = nn.groupBy(F.col("lab").alias("label")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("m.nlab") == F.col("lab"), 1).otherwise(0)
        ).alias("n_correct"),
    )
    t = g.agg(F.sum("n").alias("tn"), F.sum("n_correct").alias("tc"))
    return g.crossJoin(F.broadcast(t)).select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.round(F.col("n_correct").cast("double") / F.col("n"), 6).alias(
            "knn_accuracy"
        ),
        F.round(F.col("tc").cast("double") / F.col("tn"), 6).alias(
            "overall_accuracy"
        ),
    )


#: Neighbor-list size for the hubness audit (k-occurrence counts how
#: often a vector appears in OTHER vectors' k-NN lists).
_HUB_K = 5


@register(
    "embedding_hubness_audit",
    oracle=f"""
    WITH s AS (
        SELECT a.vec_id AS qid,
               ROUND({_cosine_sql("a.embedding", "b.embedding")}, 6) AS c,
               b.vec_id AS nid
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id <> b.vec_id
    ),
    topk AS (
        SELECT qid, nid FROM (
            SELECT qid, nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY c DESC, nid
                   ) AS rk
            FROM s
        ) WHERE rk <= {_HUB_K}
    ),
    occ AS (
        SELECT e.vec_id,
               COALESCE(k.cnt, 0) AS k_occ
        FROM embeddings e
        LEFT JOIN (SELECT nid, COUNT(*) AS cnt FROM topk GROUP BY 1) k
          ON k.nid = e.vec_id
    ),
    g AS (
        SELECT COUNT(*) AS n,
               SUM(k_occ) AS total,
               MAX(k_occ) AS max_occ,
               SUM(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS anti_hubs,
               SUM(CASE WHEN k_occ > 2 * {_HUB_K} THEN 1 ELSE 0 END)
                   AS hubs,
               SUM(k_occ * k_occ) AS sq
        FROM occ
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           {_HUB_K} AS k,
           CAST(max_occ AS BIGINT) AS max_k_occurrence,
           CAST(hubs AS BIGINT) AS n_hubs,
           CAST(anti_hubs AS BIGINT) AS n_anti_hubs,
           FLOOR(CAST(anti_hubs AS DOUBLE) / n * 1000000.0 + 0.5)
               / 1000000.0 AS anti_hub_share,
           FLOOR((CAST(n AS DOUBLE) * sq
                  / (CAST(total AS DOUBLE) * total) - 1.0)
                 * 1000000.0 + 0.5) / 1000000.0
               AS k_occurrence_cv2
    FROM g
    """,
)
def embedding_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space (Radovanović et al. 2010):
    how unevenly do vectors appear in OTHER vectors' {k}-NN lists?
    High-dimensional spaces grow "hubs" (vectors in everyone's
    neighbor list) and anti-hubs (in nobody's) — a pathology that
    silently skews retrieval, kNN labeling and near-dup mining long
    before recall metrics show it.  One row: corpus size, the max
    k-occurrence, hub count (k-occurrence > 2k), anti-hub count and
    share, and the squared coefficient of variation of k-occurrence
    (0 for a perfectly balanced neighborhood graph; grows with
    hubness) — CV² = n·Σo²/(Σo)² − 1 from exact integers.

    Determinism: neighbor lists rank on the 6-dp ROUNDED cosine with
    vec_id tie-break (the ann-family idiom); k-occurrences are exact
    integer counts; the two emitted ratios are fixed IEEE op
    sequences via the sign-safe floor ladder (CV² is mathematically
    ≥ 0 but computed by subtraction).

    Scale shape: same as [[embedding_knn_label_accuracy]] — candidate
    generation goes through the shared [[knn_candidates]] router:
    exact broadcast cross join below its row bound (the oracle-checked
    baseline; map-side dim-bounded folds), the persisted
    ``VectorIndex`` IVF shortlist above it (cell-pruned equi-join, no
    BroadcastNestedLoopJoin); everything after the top-k window is a
    vector-count-bounded aggregate."""
    e = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    s = knn_candidates(
        e.select(F.col("vec_id").alias("query_id"), "embedding"),
        e.select("vec_id", "embedding"),
        k=_HUB_K,
        index_path=knn_index_path(sf_dir, "hubness"),
        corpus_rows=cached_count(e, sf_dir, "embeddings"),
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("nid"),
        F.col("cosine_sim").alias("c"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("nid"))
    topk = (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HUB_K)
        .select("nid")
    )
    occ = e.select("vec_id").join(
        topk.groupBy("nid").agg(F.count("*").alias("cnt")),
        e["vec_id"] == F.col("nid"),
        "left",
    ).select(F.coalesce(F.col("cnt"), F.lit(0)).alias("k_occ"))
    g = occ.agg(
        F.count("*").alias("n"),
        F.sum("k_occ").alias("total"),
        F.max("k_occ").alias("max_occ"),
        F.sum(F.when(F.col("k_occ") == 0, 1).otherwise(0)).alias(
            "anti_hubs"
        ),
        F.sum(F.when(F.col("k_occ") > 2 * _HUB_K, 1).otherwise(0)).alias(
            "hubs"
        ),
        F.sum(F.col("k_occ") * F.col("k_occ")).alias("sq"),
    )
    emit = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return g.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.lit(_HUB_K).alias("k"),
        F.col("max_occ").cast("bigint").alias("max_k_occurrence"),
        F.col("hubs").cast("bigint").alias("n_hubs"),
        F.col("anti_hubs").cast("bigint").alias("n_anti_hubs"),
        emit(F.col("anti_hubs").cast("double") / F.col("n")).alias(
            "anti_hub_share"
        ),
        emit(
            F.col("n").cast("double") * F.col("sq")
            / (F.col("total").cast("double") * F.col("total"))
            - 1.0
        ).alias("k_occurrence_cv2"),
    )


embedding_hubness_audit.__doc__ = embedding_hubness_audit.__doc__.format(
    k=_HUB_K
)


#: Hash-ring buckets for the distance-profile pairing (pairs form
#: within buckets, so the pairing pass is B bounded windows, never a
#: global sort).
_DPROF_BUCKETS = 32
_DPROF_SEED = 17


@register(
    "embedding_distance_profile",
    oracle=f"""
    WITH h AS (
        SELECT vec_id, embedding,
               {PORTABLE_HASH64_SQL("CAST(vec_id AS VARCHAR)", _DPROF_SEED)}
                   AS hv
        FROM embeddings
    ),
    r AS (
        SELECT vec_id, embedding, hv % {_DPROF_BUCKETS} AS b,
               ROW_NUMBER() OVER (PARTITION BY hv % {_DPROF_BUCKETS}
                                  ORDER BY hv, vec_id) AS rk
        FROM h
    ),
    p AS (
        SELECT ROUND({_cosine_sql("a.embedding", "c.embedding")}, 6) AS cos
        FROM r a JOIN r c ON a.b = c.b AND c.rk = a.rk + 1
    ),
    q AS (
        SELECT GREATEST(-10, LEAST(9,
                   CAST(FLOOR(cos * 10.0) AS INTEGER))) AS band,
               CAST(FLOOR(cos * 1000000.0) AS BIGINT) AS qc
        FROM p
    ),
    t AS (SELECT COUNT(*) AS n FROM q)
    SELECT CAST(band AS INTEGER) AS cosine_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.n, 6) AS pair_share,
           FLOOR(CAST(SUM(qc) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS mean_cosine
    FROM q CROSS JOIN t
    GROUP BY 1, t.n
    """,
)
def embedding_distance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution profile of the embedding space —
    the concentration-of-measure diagnostic run before trusting ANY
    cosine threshold (near-dup cutoffs, ANN probe budgets, semantic
    cluster radii): in a healthy space random-pair cosines spread
    around 0; a collapsed or anisotropic space (Ethayarajh 2019)
    piles them high and squeezes the usable threshold range.  Pairs
    come from a deterministic hash ring: each vector pairs with its
    successor in portable-hash order WITHIN one of {b} hash buckets —
    an unbiased linear-size pair sample with zero randomness, zero
    global sort, and an exact SQL twin.  One row per cosine decile
    band: pair count, share, mean cosine.

    Determinism: the ring order is (portable hash, vec_id) — total;
    cosines round to 6 dp before banding; band means quantize at the
    leaf (floor·1e6, signed quantization is exact integer flooring in
    both engines) and emit through floor(x+0.5) — a band mean landing
    in (−0.5, 0) micro-units floors to +0 (never −0.0).

    Scale shape: one map-side hash + bucket assignment, {b} bounded
    rank windows (each ~n/{b} rows), one successor equi-join on
    (bucket, rank) — linear in the corpus with no quadratic stage;
    the band histogram is a ≤20-row aggregate."""
    e = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    h = with_norm(e).select(
        "vec_id",
        "embedding",
        "nrm",
        portable_hash64(F.col("vec_id").cast("string"), _DPROF_SEED).alias("hv"),
    )
    r = h.select(
        "vec_id", "embedding", "nrm",
        (F.col("hv") % _DPROF_BUCKETS).alias("b"),
        F.row_number()
        .over(
            Window.partitionBy(F.col("hv") % _DPROF_BUCKETS).orderBy(
                F.asc("hv"), F.asc("vec_id")
            )
        )
        .alias("rk"),
    )
    a = r.select("b", "rk", F.col("embedding").alias("ae"), F.col("nrm").alias("an"))
    c = r.select(
        "b", (F.col("rk") - 1).alias("rk"),
        F.col("embedding").alias("ce"), F.col("nrm").alias("cn"),
    )
    p = a.join(c, ["b", "rk"]).select(
        F.round(
            _dot(F.col("ae"), F.col("ce")) / (F.col("an") * F.col("cn")), 6
        ).alias("cos")
    )
    q = p.select(
        F.greatest(
            F.lit(-10), F.least(F.lit(9), F.floor(F.col("cos") * 10.0).cast("int"))
        ).alias("band"),
        F.floor(F.col("cos") * 1000000.0).cast("bigint").alias("qc"),
    )
    t = q.agg(F.count("*").alias("n"))
    return (
        q.groupBy("band")
        .agg(F.count("*").alias("n_pairs"), F.sum("qc").alias("sqc"))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("band").cast("int").alias("cosine_band"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(F.col("n_pairs").cast("double") / F.col("n"), 6).alias(
                "pair_share"
            ),
            (
                F.floor(F.col("sqc").cast("double") / F.col("n_pairs") + 0.5)
                / 1000000.0
            ).alias("mean_cosine"),
        )
    )


embedding_distance_profile.__doc__ = embedding_distance_profile.__doc__.format(
    b=_DPROF_BUCKETS
)


#: Probe budgets swept by the recall curve (the router default is 3).
_RECALL_NPROBES = (1, 2, 3, 5, 8)


@register(
    "ann_probe_recall_curve",
    rows_only=(
        "IVF recall vs the exact baseline: deterministic given the "
        "sample-trained codebook, but the numpy Lloyd fit is not "
        "SQL-expressible; recall floor + monotonicity pinned in "
        "tests/test_round10_ops.py"
    ),
)
def ann_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k}-vs-nprobe tuning curve for the persisted IVF index —
    the table that PICKS the probe budget [[knn_candidates]] and
    [[ann_ivf_topk]] hard-code: for each candidate nprobe, the exact
    fraction of the brute-force top-{k} the cell-pruned search
    recovers, alongside the scan share it pays (nprobe/cells).  The
    standard IVF operating-point decision (FAISS's nprobe sweep),
    computed once per corpus against [[ann_cosine_topk]]'s exact
    baseline.

    Determinism: the codebook is the hash-sample-trained Lloyd fit
    (deterministic given the corpus), cell contents and rankings use
    the 6-dp-rounded-cosine + id tie-break idiom everywhere, so every
    recall number is a fixed exact-integer ratio — rows-only only
    because the numpy Lloyd loop has no SQL twin.

    Scale shape: ONE index build (memoized, persisted
    cell-partitioned parquet), one exact baseline for the bounded
    query batch (broadcast, |queries| × corpus — linear), then one
    partition-pruned search per nprobe value; the curve is
    |nprobes| rows at any corpus size."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("e_nid")
    )
    path = knn_index_path(sf_dir, "recall_curve")
    if path not in _KNN_INDEX_CACHE or not os.path.exists(
        f"{path}/centroids/_SUCCESS"
    ):
        VectorIndex.build(emb.select("vec_id", "embedding"), path, k=_IVF_K)
        _KNN_INDEX_CACHE.add(path)
    idx = VectorIndex(spark, path)
    out = None
    for p in _RECALL_NPROBES:
        approx = idx.search(q, topk=_TOPK, nprobe=p).select(
            "query_id", "neighbor_id"
        )
        hits = approx.join(
            exact,
            (approx["query_id"] == exact["query_id"])
            & (approx["neighbor_id"] == exact["e_nid"]),
            "left_semi",
        )
        row = (
            exact.agg(F.count("*").alias("n_exact"))
            .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_hit"))))
            .select(
                F.lit(p).alias("nprobe"),
                (F.col("n_exact") / F.lit(_TOPK)).cast("bigint").alias(
                    "n_queries"
                ),
                F.col("n_hit").cast("bigint").alias("n_recovered"),
                F.round(
                    F.col("n_hit").cast("double") / F.col("n_exact"), 6
                ).alias("recall"),
                F.round(F.lit(p / _IVF_K), 6).alias("scan_share"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


ann_probe_recall_curve.__doc__ = ann_probe_recall_curve.__doc__.format(k=_TOPK)


#: Recall floor the router's forced-IVF path must clear at every
#: tested scale (measured r11: 0.632 @ sf0.01, 0.676 @ sf0.001,
#: 0.684 @ sf0.1 with nprobe=3 of 8 cells — random synthetic
#: embeddings, so this is the hard regime; real clustered corpora
#: sit higher).
_ROUTER_RECALL_FLOOR = 0.55


@register(
    "knn_router_ivf_recall",
    rows_only=(
        "exercises knn_candidates' PRODUCTION (above-bound) IVF "
        "shortlist path by forcing exact_below=0 — the numpy Lloyd "
        "codebook has no SQL twin; the recall floor and the "
        "no-BNLJ plan shape are asserted in tests/test_round11_ops.py"
    ),
)
def knn_router_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous driver-surface evidence for [[knn_candidates]]'
    PRODUCTION path (VERDICT r10 item 6): the router is forced onto
    its above-bound IVF shortlist route (``exact_below=0``) and its
    candidates are scored against the exact brute-force top-k
    baseline ([[ann_cosine_topk]]) — one row per run carrying the
    measured recall and whether it clears the pinned floor.  Before
    this query, the IVF route only ran in unit tests or via an env
    override; now every driver round and bench pass executes the
    cell-pruned shortlist at the current corpus size.

    Determinism: codebook is the hash-sample-trained Lloyd fit
    (deterministic given the corpus); shortlist and baseline both
    rank on the 6-dp-rounded cosine with vec_id tie-break; recall is
    an exact integer ratio.

    Scale shape: ONE memoized index build; the exact baseline is
    |queries| × corpus (broadcast, linear — queries bounded at
    {nq}); the shortlist side scans ~nprobe/{cells} of the
    cell-partitioned corpus via static partition pruning, broadcast
    equi-join on cell — no BroadcastNestedLoopJoin, no
    CartesianProduct (plan-asserted)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("e_nid")
    )
    sl = knn_candidates(
        q,
        emb.select("vec_id", "embedding"),
        k=_TOPK,
        exact_below=0,
        index_path=knn_index_path(sf_dir, "router_recall"),
        corpus_rows=cached_count(emb, sf_dir, "embeddings"),
    )
    hits = sl.join(
        exact,
        (sl["query_id"] == exact["query_id"])
        & (sl["neighbor_id"] == exact["e_nid"]),
        "left_semi",
    )
    recall = F.col("n_hit").cast("double") / F.col("n_exact")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_hit"))))
        .select(
            F.lit(_TOPK).alias("k"),
            F.lit(_NPROBE).alias("nprobe"),
            (F.col("n_exact") / F.lit(_TOPK)).cast("bigint").alias(
                "n_queries"
            ),
            F.col("n_hit").cast("bigint").alias("n_recovered"),
            F.round(recall, 6).alias("recall"),
            F.lit(_ROUTER_RECALL_FLOOR).alias("recall_floor"),
            (recall >= F.lit(_ROUTER_RECALL_FLOOR)).alias("floor_met"),
        )
    )


knn_router_ivf_recall.__doc__ = knn_router_ivf_recall.__doc__.format(
    nq=_N_QUERIES, cells=_IVF_K
)


#: MMR diversification: query batch, shortlist size, selections,
#: and λ expressed as exact tenths (7/10 relevance, 3/10 diversity)
#: so every greedy score is pure integer arithmetic.
_MMR_QUERIES = 8
_MMR_SHORTLIST = 20
_MMR_K = 5
_MMR_LAM10 = 7


def _mmr_step_sql(i: int) -> str:
    """One unrolled greedy step: anti-join the running selection,
    score remaining candidates 7·rel − 3·max-sim-to-selected, elect
    the (score, id) argmax.  ``selset{i-1}`` CTEs are MATERIALIZED —
    each is referenced twice per step, and DuckDB's default CTE
    inlining would otherwise double the plan tree per step (the
    item_hits_authority lesson)."""
    prev = i - 1
    lam, dlam = _MMR_LAM10, 10 - _MMR_LAM10
    return f"""sc{i} AS (
        SELECT c.query_id, c.neighbor_id, c.relq,
               {lam} * c.relq - {dlam} * MAX(p.simq) AS score
        FROM cand c
        JOIN selset{prev} s ON s.query_id = c.query_id
        JOIN ps p ON p.query_id = c.query_id
         AND p.da = c.neighbor_id AND p.db = s.neighbor_id
        LEFT JOIN selset{prev} x ON x.query_id = c.query_id
         AND x.neighbor_id = c.neighbor_id
        WHERE x.neighbor_id IS NULL
        GROUP BY 1, 2, 3
    ),
    sel{i} AS (
        SELECT query_id, neighbor_id, relq, score, {i} AS mmr_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rn FROM sc{i}
        ) WHERE rn = 1
    ),
    selset{i} AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM selset{prev}
        UNION ALL
        SELECT query_id, neighbor_id FROM sel{i}
    )"""


@register(
    "mmr_diversified_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id < {_MMR_QUERIES}
    ),
    s AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, b.embedding,
               CAST(FLOOR({_cosine_sql("q.embedding", "b.embedding")}
                          * 1000000.0 + 0.5) AS BIGINT) AS relq
        FROM q CROSS JOIN embeddings b
        WHERE q.vec_id <> b.vec_id
    ),
    cand AS MATERIALIZED (
        SELECT query_id, neighbor_id, embedding, relq
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY relq DESC, neighbor_id
            ) AS rn FROM s
        ) WHERE rn <= {_MMR_SHORTLIST}
    ),
    ps AS MATERIALIZED (
        SELECT a.query_id, a.neighbor_id AS da, b.neighbor_id AS db,
               CAST(FLOOR({_cosine_sql("a.embedding", "b.embedding")}
                          * 1000000.0 + 0.5) AS BIGINT) AS simq
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id
         AND a.neighbor_id <> b.neighbor_id
    ),
    sel1 AS (
        SELECT query_id, neighbor_id, relq,
               {_MMR_LAM10} * relq AS score, 1 AS mmr_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY relq DESC, neighbor_id
            ) AS rn FROM cand
        ) WHERE rn = 1
    ),
    selset1 AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM sel1
    ),
    {", ".join(_mmr_step_sql(i) for i in range(2, _MMR_K + 1))},
    allsel AS (
        {" UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, _MMR_K + 1))}
    )
    SELECT query_id,
           CAST(mmr_rank AS INTEGER) AS mmr_rank,
           neighbor_id,
           relq / 1000000.0 AS cosine_sim,
           score / 10000000.0 AS mmr_score
    FROM allsel
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval (Carbonell &
    Goldstein 1998): for each query vector, greedily select
    {_MMR_K} of the top-{_MMR_SHORTLIST} cosine shortlist maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected at λ=0.7
    — the fourth verb of the retrieval stack after scoring
    ([[bm25_search_topk]]/[[lm_dirichlet_search_topk]]), fusion
    ([[rrf_hybrid_topk]]) and expansion ([[bm25_prf_expansion]]),
    and the de-duplicating sampler a RAG/training-data pipeline runs
    so five retrieved contexts aren't five paraphrases of one
    document.  Measured signal (r12, sf0.01): MMR keeps only 3–4 of
    the plain top-5 per query (changes 1–2 selections on every one
    of the 8 queries) even on this near-isotropic corpus — the
    diversity term is live, not decorative.

    Determinism: relevance and pair similarities quantize through
    the sign-safe floor ladder to exact 1e-6 integers; λ = 7/10 as
    integer tenths makes every greedy score pure integer arithmetic
    (7·relq − 3·max simq); each of the {_MMR_K} unrolled selections
    is a (score, neighbor_id) argmax over exact integers — no float
    comparison anywhere in the greedy loop.  The oracle unrolls the
    same steps; its running-selection CTEs are MATERIALIZED (each is
    referenced twice per step — default inlining doubles the tree
    per step, the item_hits_authority lesson).

    Scale shape: the shortlist is the ann_cosine_topk discipline
    (bounded query batch broadcast against the corpus — at 100 TB
    the shortlist comes from the IVF router instead, same contract);
    everything after it is bounded at |queries| × {_MMR_SHORTLIST}
    rows — the pair-sim table and the {_MMR_K}-step greedy loop
    never touch the corpus again."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), bytes_per_task=_EMB_TASK_BYTES)
    q = with_norm(emb.filter(F.col("vec_id") < _MMR_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    b = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    relq = F.floor(
        _dot(F.col("q_emb"), F.col("b_emb"))
        / (F.col("q_nrm") * F.col("b_nrm"))
        * 1000000.0
        + 0.5
    ).cast("bigint")
    sims = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "b_emb", relq.alias("relq"))
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("relq"), F.asc("neighbor_id")
    )
    cand = (
        sims.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= _MMR_SHORTLIST)
        .drop("rn")
        .localCheckpoint()
    )
    ca = cand.select(
        "query_id",
        F.col("neighbor_id").alias("da"),
        F.col("b_emb").alias("ea"),
    )
    cb = cand.select(
        F.col("query_id").alias("qb"),
        F.col("neighbor_id").alias("db"),
        F.col("b_emb").alias("eb"),
    )
    simq = F.floor(
        _dot(F.col("ea"), F.col("eb"))
        / (_norm(F.col("ea")) * _norm(F.col("eb")))
        * 1000000.0
        + 0.5
    ).cast("bigint")
    ps = (
        ca.join(
            cb,
            (F.col("query_id") == F.col("qb"))
            & (F.col("da") != F.col("db")),
        )
        .select("query_id", "da", "db", simq.alias("simq"))
        .localCheckpoint()
    )
    slim = cand.select("query_id", "neighbor_id", "relq")
    lam, dlam = _MMR_LAM10, 10 - _MMR_LAM10
    sel = (
        slim.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "relq",
            (F.lit(lam) * F.col("relq")).alias("score"),
            F.lit(1).alias("mmr_rank"),
        )
    )
    selected = sel
    for i in range(2, _MMR_K + 1):
        remaining = slim.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        scored = (
            remaining.join(
                selected.select(
                    "query_id", F.col("neighbor_id").alias("sid")
                ),
                "query_id",
            )
            .join(
                ps,
                (ps["query_id"] == remaining["query_id"])
                & (ps["da"] == remaining["neighbor_id"])
                & (ps["db"] == F.col("sid")),
            )
            .groupBy(remaining["query_id"], "neighbor_id", "relq")
            .agg(
                (
                    F.lit(lam) * F.first("relq")
                    - F.lit(dlam) * F.max("simq")
                ).alias("score")
            )
        )
        w_sc = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w_sc))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "relq",
                "score",
                F.lit(i).alias("mmr_rank"),
            )
        )
        selected = selected.unionAll(pick).localCheckpoint()
    return selected.select(
        "query_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        "neighbor_id",
        (F.col("relq") / 1000000.0).alias("cosine_sim"),
        (F.col("score") / 10000000.0).alias("mmr_score"),
    )
