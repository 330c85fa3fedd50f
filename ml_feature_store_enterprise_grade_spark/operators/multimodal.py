"""Multimodal column plumbing (SURVEY §7 M5 / BASELINE north star).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata.  The decode path is REAL in-container: payload fixtures are
emitted as binary P6 PPM images (the netpbm format — a one-line
header plus raw RGB bytes) and decoded by a pure-Python parser in the
Arrow-batched kernel, no PIL/libjpeg required.  A guarded PIL import
remains the runtime slot for formats the pure parser cannot handle
(JPEG/PNG in a production deployment).

* ``multimodal_metadata`` — oracle-checked: byte length + content
  hash + deterministic pseudo-dimensions derived from the hash.
* ``multimodal_decode_features`` — oracle-checked END TO END: encode
  documents as 16×16 PPMs, decode them worker-side (header parse →
  RGB → grayscale → 8×8 block-mean resize → per-row luminance
  features), and hash-match against a DuckDB oracle that recomputes
  the expected features from the generative definition — a green row
  proves the encode→decode→featurize round trip byte-exactly.
* ``multimodal_resize`` — oracle-checked the same way: the 8×8
  grayscale thumbnail bytes the resize kernel emits are md5-matched
  against the oracle's closed-form reconstruction.

Scale: payload tables at 100 TB are read with
``spark.sql.files.maxPartitionBytes`` sized so a batch of payloads
fits executor memory; the Arrow batch size caps per-batch decode
memory (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table, spread
from ..registry import register


def binary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal source frame: documents' text re-encoded as an
    opaque binary payload + typed metadata — the exact shape an
    image/audio table has (payload bytes + sidecar metadata)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length("text").alias("n_bytes"),
            F.col("lang").alias("tag"),
        ).alias("meta"),
    )


#: Fixture-image geometry: 16×16 RGB = 768 pixel bytes.  Pixel bytes
#: are the ASCII codes of 24 chained md5 hex digests of the document
#: text — deterministic, text-derived, and reconstructable in ANSI
#: SQL (each hex char is one byte), which is what lets the decode
#: queries carry full value-hash oracles.
_PPM_W = 16
_PPM_H = 16
_PPM_REPS = (_PPM_W * _PPM_H * 3) // 32  # 24 digests × 32 hex chars
_PPM_HEADER = f"P6\n{_PPM_W} {_PPM_H}\n255\n"
_PPM_HEADER_SUM = sum(_PPM_HEADER.encode())
_PPM_N_BYTES = len(_PPM_HEADER) + _PPM_W * _PPM_H * 3


def ppm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rendered as real binary P6 PPM images: header +
    16×16 raw RGB, pixel bytes = ASCII codes of chained md5 digests
    of the text.  Pure Catalyst (md5/concat/encode — whole-stage
    codegen, no Python), so fixture generation scales like any
    projection."""
    d = spread(load_table(spark, sf_dir, "documents"))
    hexes = F.concat(
        *[
            F.md5(F.concat(F.col("text"), F.lit(f"#{i}")))
            for i in range(_PPM_REPS)
        ]
    )
    return d.select(
        "doc_id",
        F.concat(
            F.encode(F.lit(_PPM_HEADER), "UTF-8"), F.encode(hexes, "UTF-8")
        ).alias("payload"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(_PPM_N_BYTES).alias("n_bytes"),
            F.col("lang").alias("tag"),
        ).alias("meta"),
    )


#: DuckDB fragment: the same 768 hex chars the PPM pixels carry.
_PPM_HEX_SQL = " || ".join(
    f"md5(text || '#{i}')" for i in range(_PPM_REPS)
)


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CAST(16 + (CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 624) AS INTEGER)
               AS pseudo_width,
           CAST(16 + (CAST('0x' || substr(md5(text), 7, 6) AS BIGINT) % 464) AS INTEGER)
               AS pseudo_height
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction over the binary payload: size, content
    hash, and deterministic pseudo-dimensions (hash-derived stand-ins
    for decoder-emitted width/height, keeping the query oracle-checkable
    without a codec)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    md5 = F.md5("text")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        md5.alias("content_md5"),
        (F.lit(16) + F.conv(F.substring(md5, 1, 6), 16, 10).cast("bigint") % 624)
        .cast("int")
        .alias("pseudo_width"),
        (F.lit(16) + F.conv(F.substring(md5, 7, 6), 16, 10).cast("bigint") % 464)
        .cast("int")
        .alias("pseudo_height"),
    )


try:  # guarded import: the container ships no PIL/libjpeg
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # pragma: no cover - exercised via monkeypatch
    _PILImage = None


def has_codec() -> bool:
    """True when a real image codec (PIL) is importable — the decode
    kernels select it at runtime, falling back to the deterministic
    fake featurizer so the Spark plumbing stays testable either way."""
    return _PILImage is not None


def decode_image(payload: bytes) -> object:
    """Image decode via PIL when available; raises
    ``NotImplementedError`` otherwise (the deployment slot for
    formats the pure parser cannot handle — JPEG/PNG).  PPM payloads
    do NOT need this path: :func:`decode_ppm` is always available."""
    if _PILImage is None:
        raise NotImplementedError(
            "no image codec in this environment; use fake_features"
        )
    import io

    return _PILImage.open(io.BytesIO(payload))


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-Python P6 (binary netpbm) parser: header tokens (width,
    height, maxval; ``#`` comments skipped per spec) then the raw RGB
    raster.  Returns ``(width, height, raster)``.  This is a REAL
    decoder — malformed magic, maxval ≠ 255, or a truncated raster
    raise — it just targets a format simple enough to need no native
    codec."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    idx = 2
    fields: list[int] = []
    while len(fields) < 3:
        while idx < len(payload) and payload[idx : idx + 1].isspace():
            idx += 1
        if payload[idx : idx + 1] == b"#":
            while idx < len(payload) and payload[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < len(payload) and not payload[idx : idx + 1].isspace():
            idx += 1
        fields.append(int(payload[start:idx]))
    idx += 1  # exactly one whitespace byte separates maxval from raster
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval} (8-bit only)")
    raster = payload[idx : idx + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, raster


def decode_image_graysums(payload: bytes) -> list[list[int]]:
    """Decode to an h×w grid of per-pixel R+G+B sums — 3× the mean
    luminance, kept INTEGRAL so downstream block means are exact and
    oracle-reproducible (no float accumulation order to match).
    PPM decodes via the pure parser in any environment; other formats
    go through the PIL slot when present."""
    if payload[:2] == b"P6":
        w, h, raster = decode_ppm(payload)
        it = iter(raster)
        return [
            [next(it) + next(it) + next(it) for _ in range(w)]
            for _ in range(h)
        ]
    if _PILImage is not None:
        import io

        img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
        w, h = img.size
        data = list(img.getdata())
        return [
            [sum(data[r * w + c]) for c in range(w)] for r in range(h)
        ]
    raise NotImplementedError(
        "no codec for this payload format in this environment"
    )


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _fake_featurize(payload: bytes) -> list[float]:
    """Deterministic 8-dim stand-in for a decoder+CNN featurizer:
    normalized byte histogram over 8 buckets."""
    if not payload:
        return [0.0] * 8
    hist = [0] * 8
    for by in payload:
        hist[by >> 5] += 1
    n = float(len(payload))
    return [round(h / n, 6) for h in hist]


def _image_featurize(payload: bytes) -> list[float]:
    """Real featurizer: decode, grayscale, block-mean resize to 8
    row-bands, and emit the 8 per-band mean luminances normalized to
    [0, 1] — same 8-dim output contract as the fake, so downstream
    schemas are identical in both modes.  Band sums are integers
    (R+G+B grid) with ONE final division, so the emitted double is
    bit-reproducible by the SQL oracle."""
    import numpy as np

    g = np.array(decode_image_graysums(payload), dtype=np.int64)
    bands = np.array_split(g, 8, axis=0)
    return [
        float(b.sum() / (b.size * 3 * 255.0)) if b.size else 0.0
        for b in bands
    ]


def decode_features(df: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """The multimodal feature-extraction operator: Arrow-batched
    ``mapInPandas`` over (doc_id, payload) producing typed features.
    The per-payload kernel runs the REAL decoder when
    ``use_codec=True`` (PPM parses in any environment; PIL is the
    runtime slot for other formats); ``use_codec=None`` auto-selects:
    real for PPM-magic payloads or when PIL is importable, else the
    deterministic fake.  Pass ``use_codec=False`` when the payload
    column is known not to hold decodable images (text-byte fixtures).

    ``mean_byte`` and ``feature`` are emitted UNROUNDED — callers
    round Spark-side (``F.round``) so rounding semantics match their
    oracle's, not Python's banker's rounding."""

    def featurize(p: bytes) -> list[float]:
        if p is None or use_codec is False:
            return _fake_featurize(p or b"")
        # Per-PAYLOAD selection (not per-batch: a mixed-format batch
        # must not route PPM rows through the fake featurizer or
        # non-PPM rows into a decoder that will raise mid-job).  In
        # auto mode only the PPM magic engages the real decoder — a
        # non-PPM payload is NOT probed against PIL, because PIL.open
        # raises on undecodable bytes and auto mode must never crash
        # a batch; callers with known-decodable formats pass
        # use_codec=True explicitly.
        if use_codec or p[:2] == b"P6":
            return _image_featurize(p)
        return _fake_featurize(p)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                    "mean_byte": payloads.map(
                        lambda p: sum(p) / len(p) if p is not None and len(p) else 0.0
                    ),
                    "feature": payloads.map(featurize),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, _DECODE_SCHEMA)


def _ppm_band_sum_sql(r: int) -> str:
    """DuckDB: sum of the 96 pixel-byte ASCII codes in band ``r``
    (2 pixel rows × 16 px × 3 bytes) of the reconstructed hex raster."""
    lo, hi = r * 96 + 1, (r + 1) * 96
    return (
        f"list_sum(list_transform(generate_series({lo}, {hi}), "
        f"j -> ascii(substring(hex, j, 1))))"
    )


@register(
    "multimodal_decode_features",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_PPM_HEX_SQL} AS hex FROM documents
    )
    SELECT doc_id,
           CAST({_PPM_N_BYTES} AS BIGINT) AS n_bytes,
           ROUND(({_PPM_HEADER_SUM} + list_sum(list_transform(
                    generate_series(1, {_PPM_W * _PPM_H * 3}),
                    j -> ascii(substring(hex, j, 1))))) / {_PPM_N_BYTES}.0,
                 6) AS mean_byte,
           {", ".join(
               f"ROUND({_ppm_band_sum_sql(r)} / {2 * _PPM_W * 3 * 255}.0, 6) AS f{r}"
               for r in range(8)
           )}
    FROM px
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end decode: documents render as binary 16×16 P6
    PPMs (:func:`ppm_documents`), the Arrow-batched kernel parses the
    header and raster with the pure-Python decoder, grayscales,
    block-mean resizes to 8 row bands, and emits per-band luminance
    features.  The oracle reconstructs the expected features from the
    generative definition (pixel bytes = ASCII codes of chained md5
    digests), so a green hash row certifies the decoder byte-exactly.
    API users call :func:`decode_features` directly for the typed
    ``array<double>`` form."""
    out = decode_features(ppm_documents(spark, sf_dir), use_codec=True)
    return out.select(
        "doc_id",
        "n_bytes",
        F.round("mean_byte", 6).alias("mean_byte"),
        *[
            F.round(F.element_at("feature", r + 1), 6).alias(f"f{r}")
            for r in range(8)
        ],
    )


_FRAME_BYTES = 64
_FRAME_STRIDE = 4


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, text,
               unnest(generate_series(0,
                   CAST(floor((length(text) - 1) / {_FRAME_BYTES * _FRAME_STRIDE}) AS INTEGER)
               )) AS k
        FROM documents
        WHERE length(text) >= 1
    )
    SELECT doc_id,
           CAST(k * {_FRAME_STRIDE} AS INTEGER) AS frame_idx,
           md5(substring(text, k * {_FRAME_BYTES * _FRAME_STRIDE} + 1, {_FRAME_BYTES})) AS frame_md5,
           CAST(length(substring(text, k * {_FRAME_BYTES * _FRAME_STRIDE} + 1, {_FRAME_BYTES})) AS INTEGER)
               AS n_frame_chars
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling, pure Catalyst: treat the payload as
    fixed-size frames and keep every Nth one via ``substring`` slicing
    — no Python in the hot path, so frame extraction whole-stage-
    codegens and scales like any projection.  A real container-format
    demuxer would replace fixed-size slicing with codec frame
    boundaries (that kernel belongs in ``decode_image``'s deployment
    slot); frame hashes keep it oracle-checkable.  Frames are
    character slices here because the stand-in payload is text (DuckDB
    cannot slice BLOBs with substring); byte slicing is the
    one-line swap for true binary payloads."""
    frames_per_stride = _FRAME_BYTES * _FRAME_STRIDE
    d = spread(load_table(spark, sf_dir, "documents")).filter(F.length("text") >= 1)
    k = F.explode(
        F.sequence(
            F.lit(0),
            F.floor((F.length("text") - 1) / frames_per_stride).cast("int"),
        )
    ).alias("k")
    f = d.select("doc_id", "text", k)
    frame = F.expr(f"substring(text, k * {frames_per_stride} + 1, {_FRAME_BYTES})")
    return f.select(
        "doc_id",
        (F.col("k") * _FRAME_STRIDE).cast("int").alias("frame_idx"),
        F.md5(frame).alias("frame_md5"),
        F.length(frame).cast("int").alias("n_frame_chars"),
    )


@register(
    "multimodal_frame_dedup",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, text,
               unnest(generate_series(0,
                   CAST(floor((length(text) - 1) / {_FRAME_BYTES * _FRAME_STRIDE}) AS INTEGER)
               )) AS k
        FROM documents
        WHERE length(text) >= 1
    ),
    fr AS (
        SELECT doc_id,
               md5(substring(text, k * {_FRAME_BYTES * _FRAME_STRIDE} + 1, {_FRAME_BYTES}))
                   AS frame_md5
        FROM f
    )
    SELECT frame_md5,
           COUNT(*) AS n_frames,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS canonical_doc_id
    FROM fr
    GROUP BY frame_md5
    HAVING COUNT(*) > 1
    """,
)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-frame detection: compose the frame
    sampler with the exact-dedup pattern (frame_md5 → hash-groupBy →
    dup groups), the way a video pipeline finds shared intro/outro
    segments or re-uploads.  One shuffle on the frame hash; the
    canonical representative is the lowest doc_id, matching
    operators.dedup's convention."""
    frames = multimodal_frame_sample(spark, sf_dir)
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.count("*").alias("n_frames"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_frames") > 1)
    )


@register(
    "multimodal_sidecar_kv",
    oracle="""
    WITH kv AS (
        SELECT d.doc_id, e.k, e.v
        FROM documents d, LATERAL (VALUES
            ('mime', 'text/plain'),
            ('lang', d.lang),
            ('bytes', CAST(d.n_chars AS VARCHAR)),
            ('camera', 'cam' || CAST(d.doc_id % 5 AS VARCHAR))
        ) e(k, v)
        WHERE d.lang IS NOT NULL AND d.n_chars IS NOT NULL
    )
    SELECT k, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_values,
           MIN(v) AS min_value, MAX(v) AS max_value
    FROM kv GROUP BY k
    """,
)
def multimodal_sidecar_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF-style sidecar parsing: each payload arrives with an opaque
    JSON key-value sidecar (here synthesized deterministically from
    the document fields, as an upstream capture device would attach
    it); the operator parses it schema-on-read with
    ``from_json(map<string,string>)``, explodes the map, and profiles
    per-key cardinality/range — the P2 JSON family applied to the
    multimodal pillar.  The oracle computes the same profile straight
    from the base columns, so a green row proves the construct→parse→
    explode round trip is lossless.  Pure Catalyst: parse + generate +
    one shuffle on the key."""
    d = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    sidecar = F.concat(
        F.lit('{"mime":"text/plain","lang":"'),
        F.col("lang"),
        F.lit('","bytes":"'),
        F.col("n_chars").cast("string"),
        F.lit('","camera":"cam'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('"}'),
    )
    kv = d.select(
        "doc_id", F.explode(F.from_json(sidecar, "map<string,string>")).alias("k", "v")
    )
    return kv.groupBy("k").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("v").alias("n_values"),
        F.min("v").alias("min_value"),
        F.max("v").alias("max_value"),
    )


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("thumbnail", T.BinaryType()),
    ]
)


def _image_thumb(payload: bytes, width: int, height: int) -> bytes:
    """Real resize: decode, grayscale, block-mean downsample to
    ``height×width``, one byte per output pixel.  Block means use
    integer floor division of the integral R+G+B grid, so every
    thumbnail byte is exactly reproducible in SQL."""
    import numpy as np

    g = np.array(decode_image_graysums(payload), dtype=np.int64)
    out = bytearray()
    for rband in np.array_split(g, height, axis=0):
        for blk in np.array_split(rband, width, axis=1):
            out.append(int(blk.sum()) // (blk.size * 3) if blk.size else 0)
    return bytes(out)


def resize_images(
    df: DataFrame,
    width: int = 16,
    height: int = 16,
    use_codec: bool | None = None,
) -> DataFrame:
    """Image-resize operator shell: Arrow-batched ``mapInPandas`` with
    the production schema (doc_id, width, height, thumbnail binary).
    With ``use_codec=True`` the kernel REALLY decodes (PPM pure
    parser, PIL slot otherwise) → grayscale → block-mean resize → raw
    luminance bytes; ``use_codec=None`` → :func:`has_codec`.  Without
    a decoder it is a deterministic fake (truncate/zero-pad the
    payload to width×height bytes)."""
    if use_codec is None:
        use_codec = has_codec()
    n = width * height

    def _real_thumb(p: bytes) -> bytes:
        return _image_thumb(p, width, height)

    def _fake_thumb(p: bytes) -> bytes:
        return bytes(p[:n]) + b"\x00" * max(0, n - len(p))

    thumb = _real_thumb if use_codec else _fake_thumb

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            thumbs = pdf["payload"].map(thumb)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "thumbnail": thumbs,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, _RESIZE_SCHEMA)


@register(
    "multimodal_resize",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_PPM_HEX_SQL} AS hex FROM documents
    )
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           md5(array_to_string(list_transform(generate_series(0, 63), b ->
               chr(CAST(floor(list_sum(list_transform(generate_series(0, 11),
                   t -> ascii(substring(hex,
                       ((2 * (b // 8) + (t // 6)) * {_PPM_W}
                        + (2 * (b % 8) + ((t % 6) // 3))) * 3 + (t % 3) + 1,
                       1))
               )) / 12.0) AS INTEGER))
           ), '')) AS thumb_md5
    FROM px
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize over the PPM fixtures: 16×16 RGB → 8×8 grayscale
    thumbnail via the decode → block-mean kernel.  The oracle rebuilds
    every thumbnail byte closed-form (floor of each 2×2 block's 12
    ASCII codes / 12 — all bytes land in [48, 102], so the chr()
    string's UTF-8 bytes equal the raw thumbnail and the md5s match
    byte-exactly)."""
    out = resize_images(
        ppm_documents(spark, sf_dir), width=8, height=8, use_codec=True
    )
    return out.select(
        "doc_id", "width", "height", F.md5("thumbnail").alias("thumb_md5")
    )


# --- Audio: PCM frame features ---------------------------------------

#: PCM8 fixture geometry: 768 unsigned 8-bit samples per clip (the
#: same md5-chain byte stream the PPM fixture uses, minus the image
#: header), framed as 12 windows × 64 samples.  Sample values are
#: ASCII codes of hex digits — range [48, 102]; the zero-crossing
#: midpoint 75 sits mid-range so crossings actually occur.
_PCM_SAMPLES = _PPM_W * _PPM_H * 3
_PCM_FRAME = 64
_PCM_N_FRAMES = _PCM_SAMPLES // _PCM_FRAME
_PCM_MID = 75


def pcm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rendered as raw PCM8 audio clips: payload = 768
    unsigned 8-bit samples (md5-chain bytes of the text — the audio
    twin of :func:`ppm_documents`), with typed sidecar metadata.
    Pure Catalyst fixture generation, same as the image path."""
    d = spread(load_table(spark, sf_dir, "documents"))
    hexes = F.concat(
        *[F.md5(F.concat(F.col("text"), F.lit(f"#{i}"))) for i in range(_PPM_REPS)]
    )
    return d.select(
        "doc_id",
        F.encode(hexes, "UTF-8").alias("payload"),
        F.struct(
            F.lit("audio/x-raw-pcm8").alias("mime"),
            F.lit(_PCM_SAMPLES).alias("n_samples"),
            F.lit(8000).alias("sample_rate_hz"),
        ).alias("meta"),
    )


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame", T.IntegerType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def audio_frame_features(df: DataFrame) -> DataFrame:
    """Arrow-batched PCM frame featurizer: decode the raw byte
    payload worker-side (numpy ``frombuffer`` — a REAL binary decode,
    the audio analogue of the PPM parser), frame it, and emit exact
    integer per-frame features: energy numerator Σx², peak, and
    midpoint zero-crossing count.  Integer outputs keep the kernel
    bit-checkable; doubles (RMS) are derived at projection time."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames, sumsq, peaks, zcs = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                x = x[: _PCM_N_FRAMES * _PCM_FRAME].reshape(
                    _PCM_N_FRAMES, _PCM_FRAME
                )
                above = x >= _PCM_MID
                ids.extend([doc_id] * _PCM_N_FRAMES)
                frames.extend(range(_PCM_N_FRAMES))
                sumsq.extend((x * x).sum(axis=1).tolist())
                peaks.extend(x.max(axis=1).tolist())
                zcs.extend((above[:, 1:] != above[:, :-1]).sum(axis=1).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame": pd.array(frames, dtype="int32"),
                    "sum_sq": sumsq,
                    "peak": pd.array(peaks, dtype="int32"),
                    "zero_crossings": pd.array(zcs, dtype="int32"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, _AUDIO_SCHEMA)


@register(
    "multimodal_audio_energy",
    oracle=f"""
    WITH hx AS (
        SELECT doc_id, {_PPM_HEX_SQL} AS hex FROM documents
    ),
    fr AS (
        SELECT doc_id, hex, f.f AS frame,
               list_transform(generate_series(0, {_PCM_FRAME - 1}),
                   t -> ascii(substring(hex, f.f * {_PCM_FRAME} + t + 1, 1))
               ) AS sl
        FROM hx CROSS JOIN (
            SELECT unnest(generate_series(0, {_PCM_N_FRAMES - 1})) AS f
        ) f
    )
    SELECT doc_id,
           CAST(frame AS INTEGER) AS frame,
           CAST(list_sum(list_transform(sl, x -> x * x)) AS BIGINT) AS sum_sq,
           CAST(list_max(sl) AS INTEGER) AS peak,
           CAST(list_sum(list_transform(generate_series(1, {_PCM_FRAME - 1}),
               t -> CASE WHEN (sl[t + 1] >= {_PCM_MID}) <> (sl[t] >= {_PCM_MID})
                         THEN 1 ELSE 0 END)) AS INTEGER) AS zero_crossings,
           ROUND(sqrt(CAST(list_sum(list_transform(sl, x -> x * x)) AS DOUBLE)
                      / {_PCM_FRAME}), 6) AS rms
    FROM fr
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque binary payloads — the
    modality verb (decode → frame → featurize) the image queries
    don't cover: each PCM8 clip is decoded worker-side and framed
    into {n} windows of {w} samples; per frame the kernel emits the
    exact integer energy numerator Σx², the peak amplitude, and the
    midpoint zero-crossing count (the classic cheap voiced/unvoiced
    discriminator), plus RMS derived at projection time.  The oracle
    recomputes every frame closed-form from the fixture's generative
    definition — a green row proves the byte-level decode → frame →
    feature pipeline end-to-end, the same contract as
    [[multimodal_decode_features]].

    Exactness: all aggregates are integers from the kernel; RMS is
    one sqrt of an exact-integer-derived double (sqrt is correctly
    rounded under IEEE-754, so both engines agree bit-for-bit).

    Scale: frames explode 12× map-side inside the Arrow kernel (no
    Spark-side explode of raw payloads); per-batch memory is capped
    by the Arrow batch size exactly as the image kernels; at 100 TB
    the same kernel body takes real codecs (soundfile/ffmpeg) behind
    the guarded-import slot."""
    feats = audio_frame_features(pcm_documents(spark, sf_dir))
    return feats.select(
        "doc_id",
        "frame",
        "sum_sq",
        "peak",
        "zero_crossings",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double") / F.lit(_PCM_FRAME)), 6
        ).alias("rms"),
    )


multimodal_audio_energy.__doc__ = multimodal_audio_energy.__doc__.format(
    n=_PCM_N_FRAMES, w=_PCM_FRAME
)


_HIST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_val", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def image_byte_histogram(df: DataFrame) -> DataFrame:
    """Decode each (doc_id, payload) image worker-side (the REAL PPM
    parser) and emit its raster byte-value histogram as
    ``(doc_id, byte_val, cnt)`` rows — the Arrow-batched decode →
    bincount kernel.  Counts leave Python as exact integers; all
    entropy math happens JVM-side so quantized logs match the SQL
    oracle (never Python's libm)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[int] = []
            vals: list[int] = []
            cnts: list[int] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, _, raster = decode_ppm(bytes(payload))
                hist = np.bincount(
                    np.frombuffer(raster, dtype=np.uint8), minlength=256
                )
                for v in np.nonzero(hist)[0]:
                    ids.append(int(doc_id))
                    vals.append(int(v))
                    cnts.append(int(hist[v]))
            yield pd.DataFrame(
                {"doc_id": ids, "byte_val": vals, "cnt": cnts}
            )

    return df.select("doc_id", "payload").mapInPandas(batches, _HIST_SCHEMA)


@register(
    "multimodal_image_entropy",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_PPM_HEX_SQL} AS hex FROM documents
    ),
    v AS (
        SELECT doc_id,
               LENGTH(hex) - LENGTH(REPLACE(hex, t.c, '')) AS cnt
        FROM px, unnest(['0','1','2','3','4','5','6','7','8','9',
                         'a','b','c','d','e','f']) AS t(c)
    ),
    g AS (
        SELECT doc_id,
               SUM(cnt) AS n,
               COUNT(*) FILTER (WHERE cnt > 0) AS nd,
               MAX(cnt) AS top,
               SUM(CASE WHEN cnt = 0 THEN 0
                        ELSE cnt * CAST(FLOOR(ln(CAST(cnt AS DOUBLE))
                                              * 1000000.0) AS BIGINT)
                   END) AS sclc
        FROM v GROUP BY 1
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_raster_bytes,
           CAST(nd AS BIGINT) AS n_distinct_bytes,
           ROUND(CAST(top AS DOUBLE) / n, 6) AS top_byte_share,
           ROUND(ln(CAST(n AS DOUBLE))
                 - CAST(sclc AS DOUBLE) / (n * 1000000.0), 4)
               AS byte_entropy_nats
    FROM g
    """,
)
def multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image raster byte-entropy profile — the compressibility /
    degenerate-image screen a multimodal ingest runs right after
    decode (an all-one-color image or a truncated/garbage raster
    shows up as collapsed entropy or a spiked top-byte share long
    before a model sees it).  Per image: raster byte count, distinct
    byte values, dominant-byte share, and Shannon entropy (nats) of
    the byte-value distribution.  The decode is REAL — the Arrow-
    batched kernel parses the P6 header and raster and bincounts
    worker-side ([[multimodal_decode_features]]'s pipeline with a
    histogram head instead of band means); the oracle reconstructs
    every count from the fixture's generative definition, so a green
    hash row certifies the decoder byte-exactly.

    Exactness: counts leave the kernel as exact integers; entropy
    uses the quantized-leaf identity H = ln n − (Σ c·⌊ln c·1e6⌋)/(n·1e6)
    computed JVM-side (floor only shrinks the sum, so the result
    stays ≥ the true entropy ≥ 0 — ROUND is sign-safe here).

    Scale shape: one mapInPandas pass (Arrow batches, bounded
    ≤256-row output per image), one per-image hash aggregate —
    embarrassingly parallel, no joins, no windows."""
    hist = image_byte_histogram(ppm_documents(spark, sf_dir))
    lnq = F.floor(
        F.log(F.col("cnt").cast("double")) * 1000000.0
    ).cast("bigint")
    g = hist.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.count("*").alias("nd"),
        F.max("cnt").alias("top"),
        F.sum(F.col("cnt") * lnq).alias("sclc"),
    )
    return g.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_raster_bytes"),
        F.col("nd").cast("bigint").alias("n_distinct_bytes"),
        F.round(F.col("top").cast("double") / F.col("n"), 6).alias(
            "top_byte_share"
        ),
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("sclc").cast("double") / (F.col("n") * 1000000.0),
            4,
        ).alias("byte_entropy_nats"),
    )


_SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_below_mid", T.IntegerType()),
        T.StructField("n_runs", T.IntegerType()),
        T.StructField("longest_run", T.IntegerType()),
    ]
)


def audio_silence_runs(df: DataFrame) -> DataFrame:
    """Arrow-batched run-length kernel over raw PCM8 payloads: decode
    worker-side (numpy ``frombuffer``), threshold at the midpoint, and
    emit exact integer run statistics per clip — the silence-trim /
    dead-air-detection verb of an audio ingest (the modality verb the
    frame featurizer :func:`audio_frame_features` does not cover:
    runs need ORDER within the clip, not per-frame reductions)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nb, nr, lr = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = np.frombuffer(bytes(payload), dtype=np.uint8)[
                    :_PCM_SAMPLES
                ]
                below = x < _PCM_MID
                # run boundaries: positions where `below` turns on
                starts = int(below[0]) + int(
                    ((~below[:-1]) & below[1:]).sum()
                )
                longest = 0
                if starts:
                    # lengths via split on the off-positions
                    idx = np.flatnonzero(
                        np.diff(np.concatenate(([0], below.view(np.int8), [0])))
                    )
                    lengths = idx[1::2] - idx[0::2]
                    longest = int(lengths.max())
                ids.append(doc_id)
                nb.append(int(below.sum()))
                nr.append(starts)
                lr.append(longest)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_below_mid": pd.array(nb, dtype="int32"),
                    "n_runs": pd.array(nr, dtype="int32"),
                    "longest_run": pd.array(lr, dtype="int32"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, _SILENCE_SCHEMA)


@register(
    "multimodal_audio_silence_runs",
    oracle=f"""
    WITH hx AS (
        SELECT doc_id, {_PPM_HEX_SQL} AS hex FROM documents
    ),
    u AS (
        SELECT doc_id, t.t AS pos,
               ascii(substring(hex, t.t + 1, 1)) < {_PCM_MID} AS below
        FROM hx CROSS JOIN (
            SELECT unnest(generate_series(0, {_PCM_SAMPLES - 1})) AS t
        ) t
    ),
    runs AS (
        SELECT doc_id, COUNT(*) AS len FROM (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM u WHERE below
        ) GROUP BY doc_id, grp
    ),
    agg AS (
        SELECT doc_id, SUM(len) AS n_below, COUNT(*) AS n_runs,
               MAX(len) AS longest
        FROM runs GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_below, 0) AS INTEGER) AS n_below_mid,
           CAST(COALESCE(a.n_runs, 0) AS INTEGER) AS n_runs,
           CAST(COALESCE(a.longest, 0) AS INTEGER) AS longest_run,
           ROUND(CAST(COALESCE(a.n_below, 0) AS DOUBLE)
                 / {_PCM_SAMPLES}, 6) AS below_mid_share
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN agg a USING (doc_id)
    """,
)
def multimodal_audio_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-segment audit over the PCM8 clips — the audio
    dead-air / silence-trimming screen an ingest runs before paying
    for transcription or feature extraction: per clip, how many
    samples sit below the amplitude midpoint, how many contiguous
    below-mid RUNS there are, and the longest run (a clip that is one
    long run is dead air; thousands of 1-sample runs is noise).  The
    decode is REAL — the Arrow-batched kernel parses the raw bytes
    and computes run lengths with numpy order-preserving ops (the one
    verb the per-frame featurizer can't express: runs span frame
    boundaries); the oracle reconstructs every run from the fixture's
    generative definition through a gaps-and-islands window, so a
    green hash row certifies the run-length kernel byte-exactly.

    Determinism: all four statistics are exact integers from a total
    order (sample position); the share is one non-negative divide.

    Scale shape: one mapInPandas pass (Arrow batches, one output row
    per clip), one broadcast-size left join back to the clip ids —
    embarrassingly parallel, no shuffles of sample-level data."""
    runs = audio_silence_runs(pcm_documents(spark, sf_dir))
    return runs.select(
        "doc_id",
        "n_below_mid",
        "n_runs",
        "longest_run",
        F.round(
            F.col("n_below_mid").cast("double") / _PCM_SAMPLES, 6
        ).alias("below_mid_share"),
    )


_GRAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("h_grad_sum", T.LongType()),
        T.StructField("v_grad_sum", T.LongType()),
        T.StructField("n_h_pairs", T.IntegerType()),
        T.StructField("n_v_pairs", T.IntegerType()),
    ]
)


def image_gradient_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched POSITIONAL image kernel: decode each PPM
    worker-side and emit exact per-band |∇| sums — horizontal
    (neighbor within a row) and vertical (same column, next row) —
    the first image kernel whose result depends on pixel ADJACENCY,
    not just the byte multiset (histogram/entropy are order-free; a
    decoder that permuted the raster would still pass them)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hs, vs, nh, nv = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, raster = decode_ppm(bytes(payload))
                a = (
                    np.frombuffer(raster, dtype=np.uint8)
                    .reshape(h, w, 3)
                    .astype(np.int64)
                )
                hg = np.abs(a[:, 1:, :] - a[:, :-1, :]).sum()
                vg = np.abs(a[1:, :, :] - a[:-1, :, :]).sum()
                ids.append(int(doc_id))
                hs.append(int(hg))
                vs.append(int(vg))
                nh.append(int(h * (w - 1) * 3))
                nv.append(int((h - 1) * w * 3))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "h_grad_sum": hs,
                    "v_grad_sum": vs,
                    "n_h_pairs": nh,
                    "n_v_pairs": nv,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, _GRAD_SCHEMA)


def _ppm_grad_sql(vertical: bool) -> str:
    """DuckDB twin of one gradient direction: byte at raster position
    p is the ASCII code of hex char p+1; horizontal neighbors are 3
    bytes apart within a row, vertical neighbors one row (w·3 bytes)
    below.  Positions are enumerated over the raster and boundary
    pairs skipped by the same (x or y) < limit predicate the kernel's
    slicing applies."""
    stride = _PPM_W * 3 if vertical else 3
    # i enumerates raster byte positions 0..w*h*3-1; the coordinate
    # that must not sit on the trailing edge is y for vertical, x for
    # horizontal.
    coord = f"(i // {_PPM_W * 3})" if vertical else f"((i // 3) % {_PPM_W})"
    limit = _PPM_H - 1 if vertical else _PPM_W - 1
    return (
        "list_sum(list_transform("
        f"generate_series(0, {_PPM_W * _PPM_H * 3 - 1}), i -> "
        f"CASE WHEN {coord} < {limit} THEN "
        f"ABS(ascii(substring(hex, i + 1, 1))"
        f" - ascii(substring(hex, i + 1 + {stride}, 1))) ELSE 0 END))"
    )


@register(
    "multimodal_image_edge_density",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_PPM_HEX_SQL} AS hex FROM documents
    )
    SELECT doc_id,
           CAST({_ppm_grad_sql(False)} AS BIGINT) AS h_grad_sum,
           CAST({_ppm_grad_sql(True)} AS BIGINT) AS v_grad_sum,
           ROUND(CAST({_ppm_grad_sql(False)} + {_ppm_grad_sql(True)}
                      AS DOUBLE)
                 / {(_PPM_H * (_PPM_W - 1) + (_PPM_H - 1) * _PPM_W) * 3}
                 / 255.0, 6) AS edge_density
    FROM px
    """,
)
def multimodal_image_edge_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image edge density from REAL positional decode: mean
    normalized |gradient| over horizontal and vertical pixel-pair
    differences — the blur/blank screen of an image ingest (a flat or
    smoothly-varying image scores near 0, hard texture near its
    band's step size).  The engine value here is the CONTRACT the
    order-free kernels cannot give: the oracle recomputes every
    gradient from the fixture's generative definition at absolute
    raster positions, so a green hash row certifies the decoder
    byte-exactly AND position-exactly (header offset, row stride,
    channel interleave — a decoder that read the raster off-by-one or
    row-major-flipped would pass the histogram ops and fail here).
    On this corpus the fixtures are md5 noise over the 16 hex-ASCII
    byte values, so densities concentrate at the iid expectation —
    measured mean 0.0923 (range 0.0844–0.1001) vs the closed-form
    E|X−Y|/255 = 0.0925: the screen reads calibration, not variety
    (same status as [[multimodal_image_entropy]]).

    Exactness: gradient sums leave the kernel as exact BIGINTs
    (int64 numpy, no float in the kernel); the density is one IEEE
    divide by a definition-time integer constant, rounded 6 dp
    (nonnegative — ROUND-safe).

    Scale shape: one Arrow-batched mapInPandas pass (per-image
    bounded work, no shuffle), then a pure projection — same profile
    as every image kernel in this module."""
    g = image_gradient_stats(ppm_documents(spark, sf_dir))
    denom = float(((_PPM_H * (_PPM_W - 1)) + (_PPM_H - 1) * _PPM_W) * 3)
    return g.select(
        "doc_id",
        "h_grad_sum",
        "v_grad_sum",
        F.round(
            (F.col("h_grad_sum") + F.col("v_grad_sum")).cast("double")
            / F.lit(denom)
            / 255.0,
            6,
        ).alias("edge_density"),
    )
