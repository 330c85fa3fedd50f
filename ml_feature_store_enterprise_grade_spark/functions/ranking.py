"""Scalable EXACT ranking: global / per-group row numbers, NTILE and
rank without a single-partition WindowExec.

``Window.orderBy(...)`` with no PARTITION BY moves the whole frame
through ONE task (Spark's WindowExec logs the warning itself) — the
100 TB scale-killer VERDICT r10 flagged on the corpus- and
entity-ranking family (`quality_concentration_curve`,
`rfm_segmentation`, `percentile_rank_features`,
`supplier_acctbal_ntile`, `acctbal_revenue_spearman`).  This module
is the shared re-plan those operators' docstrings used to promise in
prose: the SAME exact semantics — not exact-below-a-bound — with a
fully parallel plan:

1. **Deterministic monotone chunking.**  Cut points for the leading
   order column come from an EXACT percentile over a hash-of-key
   sample (the ``feature_binning_scalable`` idiom: a pure function of
   the data, identical on every recomputation), broadcast as a
   one-row-per-group array; each row's chunk id is a comparison fold
   over that array.  Chunking is therefore a pure monotone function
   of the key — equal keys share a chunk, chunk i orders entirely
   before chunk i+1 — and every consumer of the frame computes the
   SAME chunk ids.  (A first design range-partitioned and read
   ``spark_partition_id()``; that is only correct when the exchange
   is physically reused across the offset and row-number branches,
   and AQE re-planning at sf0.1 broke the tie — measured wrong ranks,
   hence the pure-function form.)
2. **Local row numbers.**  A window partitioned by
   ``(group..., chunk)`` sorts one chunk per task, all chunks in
   parallel — the only data-sized sort in the plan, at shuffle
   parallelism.
3. **Offsets.**  Per-chunk row counts — at most |groups| × chunks
   rows — are prefix-summed into chunk offsets and group totals and
   broadcast-joined back; global row number = offset + local number.
   The one unpartitioned window left runs over that chunk-count
   frame, whose cardinality is the chunk count, never the data (the
   bounded-frame class the plan audit allows).

Exactness at every scale: cut-point placement only decides WHICH
chunk computes a row's local number, never the offset-corrected
global rank — results are bit-identical to the single-task window
for ANY cut points (empty-sample degenerates to one chunk, still
exact).  NTILE / percent_rank are then pure integer arithmetic on
(row number, group size); ``_intdiv`` keeps even the divisions exact
(a − a%b is divisible by b, so the one IEEE divide returns an exactly
representable integer for any frame < 2^53 rows).

Caller contract: ``order_by`` must totally order rows (append a
unique tiebreaker — the same discipline the single-task windows
used), the LEADING order column must be numeric, non-NULL and
non-NaN (NULLS FIRST/LAST and NaN ordering are not modeled by the
comparison fold), and every order/group column must be a real column
name on the frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scalar import portable_hash64

__all__ = [
    "ranked",
    "ranked_select",
    "running_totals",
    "ntile_from_rank",
    "scalable_ntile",
]

#: Internal column names (dropped before returning).
_CHUNK = "_rk_chunk"
_LRN = "_rk_lrn"
_OFF = "_rk_off"
_CNT = "_rk_cnt"
_CUTS = "_rk_cuts"

#: Hash-sample modulus for cut-point estimation (~1/64 of rows) and
#: its seed.  At 100 TB raise the modulus so the exact-percentile
#: sample stays ~1M rows per group — cut-point placement affects only
#: chunk balance, never values.
_SAMPLE_MOD = 64
_SAMPLE_SEED = 17


def _intdiv(a: Column, b: Column) -> Column:
    """Exact floor division of nonnegative integer columns.

    ``a - a % b`` is divisible by ``b``; the quotient is an integer,
    so the double division is exact (IEEE round-to-nearest returns a
    representable integer) for any value < 2^53 — no float-epsilon
    misrounding at any realistic frame size.
    """
    return ((a - a % b) / b).cast("bigint")


def _sort_cols(order_by: Sequence[tuple[str, str]]) -> list[Column]:
    return [
        F.col(name).desc() if direction == "desc" else F.col(name).asc()
        for name, direction in order_by
    ]


def _with_chunks(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]],
    group_cols: Sequence[str],
    num_chunks: int | None,
) -> DataFrame:
    """Add the deterministic monotone chunk id (module docstring §1):
    cut points from a hash-sampled exact percentile of the leading
    order column, broadcast and applied as a comparison fold — a pure
    function of the key, identical on every recomputation.

    The input is ``localCheckpoint``-ed once before the sample pass:
    the ranking machinery reads it from THREE plan branches (cut
    sample → percentile broadcast, the local-row-number window, the
    per-chunk count aggregate), and chained ``ranked()`` calls (e.g.
    quality_filter_agreement's three ranks) would otherwise compound
    the re-execution geometrically."""
    spark = df.sparkSession
    if num_chunks is None:
        num_chunks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = df.localCheckpoint()
    lead, lead_dir = order_by[0]
    descending = lead_dir == "desc"
    v = F.col(lead).cast("double")
    if num_chunks <= 1:
        return df.withColumn(_CHUNK, F.lit(0))
    keystr = F.concat_ws(
        "|", *[F.col(name).cast("string") for name, _ in order_by]
    )
    sample = df.filter(
        portable_hash64(keystr, seed=_SAMPLE_SEED) % _SAMPLE_MOD == 0
    )
    qs = [i / num_chunks for i in range(1, num_chunks)]
    cuts_agg = F.percentile(v, qs).alias(_CUTS)
    if group_cols:
        cuts = sample.groupBy(*group_cols).agg(cuts_agg)
        base = df.join(F.broadcast(cuts), list(group_cols), "left")
    else:
        base = df.crossJoin(F.broadcast(sample.agg(cuts_agg)))
    # Monotone fold: chunk = #cut points strictly passed in sort
    # direction.  NULL cuts (group absent from the sample, or an
    # empty sample) contribute 0 — the group degenerates to one
    # chunk, which is slower but still exact.
    passed = (lambda c: v < c) if descending else (lambda c: v > c)
    chunk = F.aggregate(
        F.coalesce(F.col(_CUTS), F.array()),
        F.lit(0),
        lambda acc, c: acc + F.when(passed(c), 1).otherwise(0),
    )
    return base.withColumn(_CHUNK, chunk).drop(_CUTS)


def ranked(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]],
    *,
    group_cols: Sequence[str] = (),
    rn_col: str = "rn",
    n_col: str = "n_rows",
    num_chunks: int | None = None,
) -> DataFrame:
    """Exact 1-based global (or per-group) ROW_NUMBER plus frame size.

    Returns ``df`` with two added columns: ``rn_col`` — the row number
    ordering by ``order_by`` (``(column_name, "asc"|"desc")`` pairs)
    within each ``group_cols`` group (global when no groups) — and
    ``n_col``, the group's total row count.  Equivalent to
    ``row_number().over(Window.partitionBy(*group_cols)
    .orderBy(...))`` + ``count().over(partitionBy(*group_cols))`` but
    with no single-partition sort (see module docstring for the plan
    and the caller contract on order columns).
    """
    withchunk = _with_chunks(df, order_by, group_cols, num_chunks)
    wloc = Window.partitionBy(*group_cols, _CHUNK).orderBy(
        *_sort_cols(order_by)
    )
    loc = withchunk.withColumn(_LRN, F.row_number().over(wloc))
    counts = withchunk.groupBy(*group_cols, _CHUNK).agg(
        F.count("*").alias(_CNT)
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy(_CHUNK)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy(*group_cols)
    offsets = counts.select(
        *group_cols,
        _CHUNK,
        F.coalesce(F.sum(_CNT).over(woff), F.lit(0)).alias(_OFF),
        F.sum(_CNT).over(wtot).cast("bigint").alias(n_col),
    )
    return (
        loc.join(F.broadcast(offsets), [*group_cols, _CHUNK])
        .withColumn(rn_col, (F.col(_OFF) + F.col(_LRN)).cast("bigint"))
        .drop(_CHUNK, _LRN, _OFF)
    )


def ranked_select(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]],
    targets_fn,
    *,
    group_cols: Sequence[str] = (),
    rn_col: str = "rn",
    n_col: str = "n_rows",
    num_chunks: int | None = None,
    extra: DataFrame | None = None,
) -> DataFrame:
    """Order-statistic SELECTION: the rows of :func:`ranked` whose
    ``rn_col`` is in a small target-rank set, WITHOUT sorting chunks
    that contain no target (r14 optimization; VERDICT r13 item 3).

    ``targets_fn(n)`` maps the group-total column ``n`` (bigint) to an
    ``array<bigint>`` of target ranks; it is evaluated on the bounded
    per-chunk count frame, optionally cross-joined with ``extra`` (a
    one-row frame of scalars the rank formula needs, e.g. theil_sen's
    day count).  Ranks outside ``[1, n]`` are ignored; duplicate
    targets are deduplicated, so a row whose rank matches several
    target expressions appears ONCE (exactly as in the full
    ``ranked()`` frame).

    Plan: chunk assignment and the per-chunk count pass are identical
    to :func:`ranked` (one hash aggregate — NO sort); the target rank
    r is then located in the unique chunk with off < r ≤ off + cnt,
    and ONLY those chunks flow into the local row-number window.  With
    k target ranks at most k of num_chunks chunks are sorted —
    selection in ~one aggregate pass plus a sort of k chunks.

    Equivalence: for any cut points, the returned frame is
    bit-identical to
    ``ranked(df, ...).filter(rn ∈ targets)`` (same rows, same
    ``rn_col``/``n_col`` values) — the offset correction makes local
    numbering exact regardless of which chunks are skipped.  Same
    caller contract as :func:`ranked`; consumers must only aggregate
    with target-row-sufficient forms (min/max/avg over rank-matched
    rows), never count unmatched rows."""
    withchunk = _with_chunks(df, order_by, group_cols, num_chunks)
    counts = withchunk.groupBy(*group_cols, _CHUNK).agg(
        F.count("*").alias(_CNT)
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy(_CHUNK)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy(*group_cols)
    offsets = counts.select(
        *group_cols,
        _CHUNK,
        _CNT,
        F.coalesce(F.sum(_CNT).over(woff), F.lit(0)).alias(_OFF),
        F.sum(_CNT).over(wtot).cast("bigint").alias(n_col),
    )
    if extra is not None:
        offsets = offsets.crossJoin(F.broadcast(extra))
    targets = (
        offsets.select(
            *group_cols,
            _CHUNK,
            _OFF,
            n_col,
            F.explode(
                F.array_distinct(targets_fn(F.col(n_col)))
            ).alias("_rk_target"),
        )
        .filter(
            (F.col("_rk_target") > F.col(_OFF))
            & (F.col("_rk_target") <= F.col(_OFF) + F.col(_CNT))
        )
        # Bounded (≤ |groups| × k target rows) and referenced from TWO
        # plan branches (the chunk semi-join build + the final rank
        # join) — without this spool each branch re-executed the full
        # cut-sample + per-chunk count chain (measured: the whole
        # selection machinery tripled instead of halving).
        .localCheckpoint()
    )
    tchunks = targets.select(*group_cols, _CHUNK).distinct()
    sel = withchunk.join(
        F.broadcast(tchunks), [*group_cols, _CHUNK], "left_semi"
    )
    wloc = Window.partitionBy(*group_cols, _CHUNK).orderBy(
        *_sort_cols(order_by)
    )
    loc = sel.withColumn(_LRN, F.row_number().over(wloc))
    return (
        loc.join(F.broadcast(targets), [*group_cols, _CHUNK])
        .filter(F.col(_OFF) + F.col(_LRN) == F.col("_rk_target"))
        .withColumn(rn_col, (F.col(_OFF) + F.col(_LRN)).cast("bigint"))
        .drop(_CHUNK, _LRN, _OFF, "_rk_target")
    )


def running_totals(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]],
    values: Sequence[str],
    *,
    group_cols: Sequence[str] = (),
    num_chunks: int | None = None,
    suffix: str = "_cum",
) -> DataFrame:
    """Exact INCLUSIVE running sums in a total order — the scalable
    form of ``SUM(v).over(Window.partitionBy(*group_cols)
    .orderBy(...).rowsBetween(unboundedPreceding, 0))`` — with no
    single-partition WindowExec: local running sums per chunk plus
    broadcast per-chunk sum offsets (same machinery as :func:`ranked`,
    prefix-summing VALUES instead of row counts).

    Adds ``<v><suffix>`` for every name in ``values``.  Cross-engine
    exactness requires order-independent addition: pass DECIMAL or
    integral columns (exact at any chunking); a DOUBLE running sum is
    order-DEPENDENT and would differ from the single-task window by
    float association — quantize first (the house integer-ladder
    discipline).  Value columns must be non-NULL (an all-NULL prefix
    is NULL under window semantics but 0 here).  Same caller contract
    as :func:`ranked` on the order columns."""
    withchunk = _with_chunks(df, order_by, group_cols, num_chunks)
    wloc = (
        Window.partitionBy(*group_cols, _CHUNK)
        .orderBy(*_sort_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = withchunk
    for v in values:
        loc = loc.withColumn(f"{v}{suffix}", F.sum(v).over(wloc))
    sums = withchunk.groupBy(*group_cols, _CHUNK).agg(
        *[F.sum(v).alias(f"_rk_s_{v}") for v in values]
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy(_CHUNK)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.select(
        *group_cols,
        _CHUNK,
        *[
            F.sum(f"_rk_s_{v}").over(woff).alias(f"_rk_o_{v}")
            for v in values
        ],
    )
    out = loc.join(F.broadcast(offsets), [*group_cols, _CHUNK])
    for v in values:
        out = out.withColumn(
            f"{v}{suffix}",
            F.col(f"{v}{suffix}")
            + F.coalesce(F.col(f"_rk_o_{v}"), F.lit(0)),
        )
    return out.drop(_CHUNK, *[f"_rk_o_{v}" for v in values])


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """Exact SQL-standard NTILE(k) from a 1-based row number and frame
    size: the first ``n % k`` tiles hold ``ceil(n/k)`` rows, the rest
    ``floor(n/k)`` — identical tile assignment to ``F.ntile(k)`` /
    DuckDB NTILE at every n."""
    kk = F.lit(k)
    z = rn - F.lit(1)
    q = _intdiv(n, kk)
    r = n % kk
    big = r * (q + F.lit(1))
    # q == 0 (n < k) puts every row inside the `big` branch; greatest()
    # keeps the dead otherwise-branch free of ANSI division-by-zero.
    q_safe = F.greatest(q, F.lit(1))
    return (
        F.when(z < big, _intdiv(z, q + F.lit(1)) + 1)
        .otherwise(r + _intdiv(z - big, q_safe) + 1)
        .cast("int")
    )


def scalable_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[tuple[str, str]],
    *,
    group_cols: Sequence[str] = (),
    out_col: str = "tile",
    num_chunks: int | None = None,
) -> DataFrame:
    """``F.ntile(k).over(Window.partitionBy(*group_cols).orderBy(...))``
    with the parallel plan of :func:`ranked` — exact at every scale,
    no single-partition WindowExec.  Adds ``out_col`` (int)."""
    rn_col, n_col = "_rk_rn", "_rk_n"
    out = ranked(
        df,
        order_by,
        group_cols=group_cols,
        rn_col=rn_col,
        n_col=n_col,
        num_chunks=num_chunks,
    )
    return out.withColumn(
        out_col, ntile_from_rank(F.col(rn_col), F.col(n_col), k)
    ).drop(rn_col, n_col)
