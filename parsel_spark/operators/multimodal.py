"""Multimodal column operators: image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed per row by the Arrow
row runner, ``functions/rows.py`` (the 100 TB training-data-pipeline
pattern: payloads stay map-side, only small derived features shuffle).

Real in-sandbox: PNG/BMP decode (stdlib codecs in sources/images.py),
channel statistics, average-hash perceptual hashing, nearest-neighbor
resize + re-encode.  STUBBED (no media libraries exist here): real
JPEG, audio decode, video frame extraction — each stub either raises a
clearly-marked ``NotImplementedError`` or produces a deterministic fake,
while the Spark-side plumbing (schemas, batch shapes, UDF signatures)
is real and tested.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rows import guarded, row_udf
from ..sources.images import decode_image, encode_image

IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("std_gray", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def _image_stats_row(payload: bytes, fmt: str) -> dict:
    pixels = decode_image(bytes(payload), fmt)
    gray = pixels.astype(np.float64).mean(axis=2)
    r, g, b = (float(pixels[..., c].mean()) for c in range(3))
    h, w = pixels.shape[:2]
    stats = (int(w), int(h), r, g, b, float(gray.std()), True)
    return dict(zip(IMAGE_STATS_SCHEMA.names, stats))


def image_stats(bytes_col: Column | str, fmt_col: Column | str) -> Column:
    """Decode + per-channel statistics (vectorized numpy per image).  A
    NULL or undecodable payload yields ``decode_ok=False`` with zeros."""
    failed = dict(zip(IMAGE_STATS_SCHEMA.names, (0, 0, 0.0, 0.0, 0.0, 0.0, False)))
    return row_udf(
        IMAGE_STATS_SCHEMA, guarded(_image_stats_row, failed), bytes_col, fmt_col
    )


def _nn_resize(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy index mapping)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    xs = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return pixels[ys[:, None], xs[None, :]]


def resize_image(
    bytes_col: Column | str,
    fmt_col: Column | str,
    out_h: int,
    out_w: int,
    out_fmt: str = "png",
) -> Column:
    """Decode → nearest-neighbor resize → re-encode (binary → binary).
    A NULL or undecodable payload yields NULL."""

    def resize(payload: bytes, fmt: str) -> bytes:
        pixels = decode_image(bytes(payload), fmt)
        return encode_image(_nn_resize(pixels, out_h, out_w), out_fmt)

    return row_udf(T.BinaryType(), guarded(resize, None), bytes_col, fmt_col)


def _ahash_row(payload: bytes, fmt: str) -> int:
    pixels = decode_image(bytes(payload), fmt)
    gray = pixels.astype(np.float64).mean(axis=2)
    small = _nn_resize(gray[..., None], 8, 8)[..., 0]
    bits = (small > small.mean()).reshape(-1)
    value = np.uint64(0)
    for b in np.where(bits)[0]:
        value |= np.uint64(1) << np.uint64(b)
    return int(value.astype(np.int64))


def perceptual_hash(bytes_col: Column | str, fmt_col: Column | str) -> Column:
    """Average-hash (aHash): grayscale → 8×8 NN downsample → 64-bit
    above-mean bitmap.  Near-duplicate images differ in few bits, so
    downstream dedup is a hamming-band self-join exactly like simhash.
    A NULL or unhashable payload yields ``0``."""
    return row_udf(T.LongType(), guarded(_ahash_row, 0), bytes_col, fmt_col)


def _video_frames_row(payload: bytes) -> list:
    raise NotImplementedError(
        "video decoding is unavailable in this environment; "
        "this UDF defines the plumbing (binary -> array<binary> frames)"
    )


def sample_video_frames(
    bytes_col: Column | str, every_n: int = 30
) -> Column:
    """STUB: video frame sampling.  No video codec exists in this
    sandbox; the UDF signature / ``ARRAY<BINARY>`` batch shape is the
    real contract — swap the body for a real decoder off-sandbox."""
    return row_udf(T.ArrayType(T.BinaryType()), _video_frames_row, bytes_col)


def _audio_row(payload: bytes) -> dict:
    raw = bytes(payload)
    data = np.frombuffer(raw[: len(raw) // 2 * 2], dtype="<i2")
    if len(data) == 0:
        return {"n_samples": 0, "rms": 0.0, "peak": 0.0}
    scaled = data.astype(np.float64) / 32768.0
    rms = float(np.sqrt((scaled**2).mean()))
    return {"n_samples": len(data), "rms": rms, "peak": float(np.abs(scaled).max())}


def audio_features(bytes_col: Column | str) -> Column:
    """STUB-backed audio features: interprets the payload as raw PCM16
    (a deterministic fake for codec-less environments) and computes real
    signal stats — replace the PCM assumption with a decoder off-sandbox.
    Unguarded: a NULL payload fails the job."""
    schema = T.StructType(
        [
            T.StructField("n_samples", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
        ]
    )
    return row_udf(schema, _audio_row, bytes_col)


def phash_near_dup_pairs(
    images,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
):
    """Near-duplicate image pairs by perceptual-hash Hamming distance
    over the (image_id, …, phash int64) table (BASELINE input_hint).

    Scale shape: banded LSH blocking — the 64-bit phash splits into 4
    16-bit bands; Hamming ≤ 3 guarantees (pigeonhole) at least one band
    matches exactly, so candidates come from an equi-join on
    (band_idx, band) instead of an all-pairs cross join.  Only
    (id, phash) tuples shuffle — never image payload bytes.  False
    candidates are removed by the exact bit_count(xor) check.
    """
    from pyspark.sql import DataFrame, functions as F

    assert max_hamming <= 3, "4-band blocking guarantees recall only for k<=3"
    hashed = images.select(
        F.col(id_col).alias("img_id"), F.col(phash_col).alias("ph")
    )
    bands = hashed.select(
        "img_id",
        "ph",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("ph", 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band"),
    )
    left = bands.alias("a")
    right = bands.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.img_id") < F.col("b.img_id")),
        )
        .select(
            F.col("a.img_id").alias("img_a"),
            F.col("b.img_id").alias("img_b"),
            F.col("a.ph").alias("ph_a"),
            F.col("b.ph").alias("ph_b"),
        )
        .dropDuplicates(["img_a", "img_b"])
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
    return cand.select("img_a", "img_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def caption_pair_quality_flags(
    w_col: str = "w",
    h_col: str = "h",
    caption_col: str = "caption",
    min_dim: int = 64,
    max_aspect: int = 4,
    min_caption_chars: int = 5,
    max_caption_chars: int = 512,
    min_caption_words: int = 2,
) -> "list[Column]":
    """Image-text pair curation gates (public background: the
    LAION-400M/5B metadata filters — Schuhmann et al. 2021/2022 — which
    drop pairs on image dimensions, extreme aspect ratios, and
    too-short/too-long alt-text) reduced to closed-form rules over the
    BASELINE input_hint columns ``(w:int, h:int, caption:string)``.

    Aliased boolean Columns plus a final ``keep`` conjunction —
    MAP-ONLY, pure JVM expressions, integer arithmetic only (the aspect
    gate compares ``greatest(w,h) <= max_aspect * least(w,h)`` so no
    float ratio ever crosses an engine boundary), each replayable
    verbatim in a SQL oracle:

    * ``ok_dims``          — both sides at least ``min_dim`` px;
    * ``ok_aspect``        — long side within ``max_aspect``× the short;
    * ``ok_caption_len``   — trimmed caption length in chars within
      [min, max] (empty captions fail explicitly);
    * ``ok_caption_words`` — at least ``min_caption_words`` whitespace
      words;
    * ``keep``             — all of the above.

    CLIP-score filtering (the other half of the public recipe) needs a
    learned model and is out of scope by design — the embedding-side
    analogue lives in operators/similarity.py over the ``embeddings``
    table.
    """
    from pyspark.sql import functions as F

    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    cap = F.trim(F.col(caption_col))
    empty = cap == ""
    cap_len = F.length(cap)
    cap_words = F.when(empty, F.lit(0)).otherwise(
        F.size(F.split(cap, r"\s+"))
    )
    ok_dims = (w >= min_dim) & (h >= min_dim)
    ok_aspect = F.greatest(w, h) <= F.lit(max_aspect) * F.least(w, h)
    ok_cap_len = F.when(empty, F.lit(False)).otherwise(
        cap_len.between(min_caption_chars, max_caption_chars)
    )
    ok_cap_words = cap_words >= min_caption_words
    keep = ok_dims & ok_aspect & ok_cap_len & ok_cap_words
    return [
        cap_len.cast("long").alias("caption_len"),
        cap_words.cast("long").alias("caption_words"),
        ok_dims.alias("ok_dims"),
        ok_aspect.alias("ok_aspect"),
        ok_cap_len.alias("ok_caption_len"),
        ok_cap_words.alias("ok_caption_words"),
        keep.alias("keep"),
    ]


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing (image-training batch prep)
# ---------------------------------------------------------------------------

# (label, bw, bh) — the bucket ladder every image snaps to.  Public
# technique: aspect-ratio bucketing for text-to-image training
# (NovelAI's published bucketing writeup; SDXL's multi-aspect ladder) —
# batches must share a shape, so images group by nearest aspect bucket
# instead of center-cropping everything square.
DEFAULT_ASPECT_LADDER: list[tuple[str, int, int]] = [
    ("square_1_1", 1, 1),
    ("landscape_4_3", 4, 3),
    ("portrait_3_4", 3, 4),
    ("wide_16_9", 16, 9),
    ("tall_9_16", 9, 16),
    ("landscape_3_2", 3, 2),
    ("portrait_2_3", 2, 3),
]


def aspect_bucket(
    w_col: Column | str,
    h_col: Column | str,
    ladder: list[tuple[str, int, int]] | None = None,
) -> Column:
    """Nearest-aspect bucket label for (w, h) — INTEGER-EXACT argmin.

    The distance to bucket (bw, bh) is |w/h - bw/bh|, but comparing
    those floats invites cross-engine rounding drift, so the argmin is
    done on exact integers: |w/h - bw/bh| = |w*bh - h*bw| / (h*bh), and
    since h > 0 is shared by every candidate, bucket i beats bucket j
    iff |w*bh_i - h*bw_i| * SCALE/bh_i < |w*bh_j - h*bw_j| * SCALE/bh_j
    where SCALE is any common multiple of the ladder's bh values.
    Ties resolve to the EARLIEST ladder entry (documented, determinism
    over cleverness).  Compiles to least() over per-bucket integer
    expressions + one CASE chain — map-only, whole-stage codegen,
    trivially replayable in ANSI SQL.

    Reference counterpart: none — image-training surface."""
    ladder = ladder if ladder is not None else DEFAULT_ASPECT_LADDER
    if not ladder:
        raise ValueError("aspect ladder must be non-empty")
    w = F.col(w_col) if isinstance(w_col, str) else w_col
    h = F.col(h_col) if isinstance(h_col, str) else h_col
    scale = 1
    for _, _, bh in ladder:
        from math import lcm

        scale = lcm(scale, bh)
    dists = [
        F.abs(w * F.lit(bh) - h * F.lit(bw)) * F.lit(scale // bh)
        for _, bw, bh in ladder
    ]
    best = F.least(*dists) if len(dists) > 1 else dists[0]
    expr = None
    for (label, _, _), dist in zip(ladder, dists):
        cond = dist == best
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(
            cond, F.lit(label)
        )
    return expr


def aspect_bucket_stats(
    images: DataFrame,
    w_col: str = "w",
    h_col: str = "h",
    ladder: list[tuple[str, int, int]] | None = None,
) -> DataFrame:
    """Per-bucket image counts + pixel totals — the numbers a training
    loader needs to size per-bucket batches.  ONE map-side-combined
    groupBy over the handful of ladder labels."""
    return (
        images.select(
            aspect_bucket(w_col, h_col, ladder).alias("bucket"),
            (F.col(w_col) * F.col(h_col)).alias("__px"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("__px").cast("long").alias("total_pixels"),
        )
    )


def caption_dedup(
    images: DataFrame,
    caption_col: str = "caption",
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Caption-level image dedup (the LAION-style curation step AFTER
    pixel-level phash dedup): images sharing a normalized caption
    (trim + lowercase, md5 group key) are one training pair — keep the
    highest-resolution copy (integer-area argmax, ``id_col`` ASC
    tiebreak so the winner is total-ordered and engine-replayable).

    Returns every input row plus ``(caption_key, group_n, is_rep)`` —
    callers filter ``is_rep`` for the deduped set or inspect group
    sizes for stats.  ONE hash exchange on the 16-byte key + an
    in-partition window; the image ``bytes`` column (if present) rides
    untouched and never shuffles wider than its group."""
    from pyspark.sql import Window

    key = F.md5(F.trim(F.lower(F.col(caption_col))))
    with_key = images.withColumn("caption_key", key)
    w = Window.partitionBy("caption_key")
    order = Window.partitionBy("caption_key").orderBy(
        (F.col(w_col) * F.col(h_col)).desc(), F.col(id_col).asc()
    )
    return (
        with_key.withColumn("group_n", F.count(F.lit(1)).over(w))
        .withColumn("__rn", F.row_number().over(order))
        .withColumn("is_rep", F.col("__rn") == 1)
        .drop("__rn")
    )


def bucket_batches(
    images: DataFrame,
    batch_size: int,
    bucket_col: str = "bucket",
    id_col: str = "image_id",
    seed: int = 0,
    drop_partial: bool = True,
) -> DataFrame:
    """Training-batch assembly for aspect-bucketed image corpora — the
    step after :func:`aspect_bucket` in the public SDXL-lineage recipe:
    every batch must come from ONE bucket (uniform tensor shape), so
    rows are ordered inside each bucket by the engine-portable md5 unit
    hash (deterministic shuffle — rerun-stable, no RNG state) and cut
    into consecutive ``batch_size`` groups.

    Output: ``(id, bucket, batch_id, slot)`` — ``batch_id`` counts from
    0 within each bucket, ``slot`` is the position within the batch.
    With ``drop_partial`` (default) the trailing short batch of each
    bucket is dropped (uniform batches only — standard practice); pass
    ``False`` to keep it.

    Scale shape: ONE hash(bucket) exchange feeds both the row_number
    and the per-bucket count (same window partitioning, no second
    shuffle).  Buckets are few (the ladder) and huge — batch packing
    inside each is embarrassingly parallel after the sort; at 10^9
    pairs, range-partition each bucket by the unit hash and make
    batch_id = range offset if a single per-bucket sort is too big."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    from pyspark.sql import Window

    from ..functions.sampling import unit_hash

    u = unit_hash(id_col, seed)
    w = Window.partitionBy(bucket_col).orderBy(u, F.col(id_col))
    wc = Window.partitionBy(bucket_col)
    ranked = images.select(
        F.col(id_col),
        F.col(bucket_col),
        (F.row_number().over(w) - 1).alias("__pos"),
        F.count(F.lit(1)).over(wc).alias("__n"),
    )
    if drop_partial:
        ranked = ranked.where(
            F.col("__pos") < F.col("__n") - F.pmod("__n", F.lit(batch_size))
        )
    return ranked.select(
        id_col,
        bucket_col,
        F.expr(f"__pos div {int(batch_size)}").cast("long").alias("batch_id"),
        F.pmod("__pos", F.lit(batch_size)).cast("int").alias("slot"),
    )
