"""Multimodal columns (SURVEY §2.7 gap list / BASELINE north star):
image/audio/video as **opaque binary columns with typed metadata**, and
the decode / feature-extract / resize / frame-sample operators a
training-data pipeline runs over them.

Spark-side design (all real and tested):

- **Storage model**: one row per asset — ``content: binary`` next to a
  ``media_meta`` struct (:data:`MEDIA_META_SCHEMA`). Parquet stores the
  binary column contiguously and column pruning means metadata-only
  queries (count by media_type, total duration) never read the payload —
  the property that makes 100 TB of assets queryable.
- **Execution model**: decoding is per-row Python work on byte blobs, the
  one place the brief's "UDFs are the slow path" rule inverts — there is
  no JVM codec surface, so the operators run as Arrow-batched
  ``mapInPandas`` over binary columns; batch size bounds executor memory
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` in the session conf
  caps rows × asset size per batch).
- **Codec stub**: this container has no image/audio libraries, so
  :func:`decode_rgb` tries a real decoder (PIL) and otherwise falls back
  to :func:`fake_decode_rgb` — a clearly-marked DETERMINISTIC FAKE that
  derives an (h, w, 3) uint8 array from the payload bytes alone, so every
  operator downstream of decode (features, resize, frame stats) is real,
  deterministic, and testable. Swapping in a real codec changes no
  schema, partitioning, or operator signature.

The reference has no multimodal surface (cited as an absence —
SURVEY §2.7); these operators extend the engine toward the LLM-pipeline
north star.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pandas as pd

#: Typed metadata carried next to every binary payload. Nullable fields
#: apply per modality (width/height for image+video, sample_rate/duration
#: for audio, n_frames for video).
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType(), False),  # image | audio | video
        StructField("format", StringType(), True),  # e.g. png, wav, mp4
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("sample_rate_hz", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("content", BinaryType(), True),
        StructField("media_meta", MEDIA_META_SCHEMA, True),
    ]
)

_MEDIA_TYPES = ("image", "audio", "video")

# Audio segment width in milliseconds (segment_audio).
SEGMENT_MS = 1000


def synthesize_assets(documents: DataFrame) -> DataFrame:
    """Derive a deterministic multimodal asset table from the driver's
    ``documents`` table (the container ships no media files): payload =
    the document text's bytes, metadata = pure column expressions of
    doc_id. Entirely JVM-side — the point is to exercise the storage
    model and the operators below against reproducible inputs."""
    mt = F.element_at(
        F.array(*[F.lit(t) for t in _MEDIA_TYPES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    is_image = mt == "image"
    is_audio = mt == "audio"
    is_video = mt == "video"
    width = F.when(~is_audio, (F.col("doc_id") % 7 * 16 + 32).cast("int"))
    height = F.when(~is_audio, (F.col("doc_id") % 5 * 16 + 32).cast("int"))
    n_frames = F.when(is_video, (F.col("doc_id") % 10 + 2).cast("int"))
    rate = F.when(is_audio, F.lit(16000).cast("int"))
    duration = F.when(
        is_audio | is_video, (F.col("doc_id") % 9000 + 1000).cast("long")
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        # NULL text => empty payload (the normalize_text degenerate-doc
        # contract; the fake decoder already treats b"" as valid input)
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
        F.struct(
            mt.alias("media_type"),
            F.when(is_image, F.lit("png"))
            .when(is_audio, F.lit("wav"))
            .otherwise(F.lit("mp4"))
            .alias("format"),
            width.alias("width"),
            height.alias("height"),
            n_frames.alias("n_frames"),
            rate.alias("sample_rate_hz"),
            duration.alias("duration_ms"),
        ).alias("media_meta"),
    )


def fake_decode_rgb(content: bytes, width: int, height: int) -> "np.ndarray":
    """DETERMINISTIC FAKE decoder (no codec libraries in this container):
    expands sha256(payload) into an (height, width, 3) uint8 array.
    Depends only on the bytes + target shape, so feature/resize results
    are stable across partitionings, executors, and reruns."""
    import numpy as np

    n = height * width * 3
    seed = hashlib.sha256(content or b"").digest()
    reps = n // len(seed) + 1
    buf = np.frombuffer((seed * reps)[:n], dtype=np.uint8)
    return buf.reshape(height, width, 3)


def decode_rgb(content: bytes, width: int, height: int) -> "np.ndarray":
    """Decode a payload to an RGB array: real decoder when available
    (PIL), else the deterministic fake. Same contract either way."""
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image  # noqa: F401
        import numpy as np

        return np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))
    except Exception:
        return fake_decode_rgb(content, width, height)


IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("phash64", LongType(), True),
    ]
)


def extract_image_features(
    assets: DataFrame, with_phash: bool = True
) -> DataFrame:
    """Decode → per-channel means + a 64-bit average-hash fingerprint
    (an 8×8 block-mean > global-mean bitmap — the standard perceptual
    aHash), as Arrow-batched ``mapInPandas``. Non-image rows are filtered
    JVM-side *before* the Python stage so no payload bytes cross Arrow
    for rows that don't need decoding. ``with_phash=False`` skips the
    per-image block loop (phash64 = null) for callers that only need the
    channel statistics — e.g. the hash-checked
    ``media_image_channel_stats`` driver row."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in batches:
            out = []
            for row in batch.itertuples(index=False):
                w, h = int(row.width), int(row.height)
                img = decode_rgb(row.content, w, h)
                if with_phash:
                    # 8x8 block means → bits where block > global mean.
                    # All 64 blocks are the same bh×bw size (the grid
                    # truncates to bh*8 × bw*8), so the float comparison
                    #   block_gray_mean > mean(block_gray_means)
                    # reduces EXACTLY to the integer test
                    #   64 * block_rgb_sum > total_rgb_sum
                    # — same bits, no float ties (the synthetic digest
                    # payloads are periodic, so many blocks share a mean
                    # and the float version sat on rounding-dependent
                    # ties), and the bitmap replays in SQL (the
                    # media_image_features oracle).
                    bh, bw = max(h // 8, 1), max(w // 8, 1)
                    blocks = (
                        img[: bh * 8, : bw * 8]
                        .astype(np.int64)
                        .sum(axis=2)
                        .reshape(8, bh, 8, bw)
                        .sum(axis=(1, 3))
                    )
                    total = int(blocks.sum())
                    bits = (64 * blocks > total).flatten()
                    phash = 0
                    for b in bits:
                        phash = (phash << 1) | int(b)
                    phash_out = np.int64(
                        phash - (1 << 64 if phash >= 1 << 63 else 0)
                    )
                else:
                    phash_out = None
                out.append(
                    (
                        row.asset_id,
                        w,
                        h,
                        float(img[:, :, 0].mean()),
                        float(img[:, :, 1].mean()),
                        float(img[:, :, 2].mean()),
                        phash_out,
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in IMAGE_FEATURE_SCHEMA.fields]
            )

    images = assets.filter(F.col("media_meta.media_type") == "image").select(
        "asset_id",
        "content",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )
    return images.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


def resize_images(assets: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Decode → nearest-neighbor resize (real numpy index math on the
    decoded array) → re-emit payload + updated metadata. Output rows keep
    :data:`ASSET_SCHEMA`, so resize composes with every other asset
    operator (the re-encode step stores raw RGB bytes; a real codec
    would encode here — same schema either way)."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in batches:
            out = []
            for row in batch.itertuples(index=False):
                img = decode_rgb(row.content, int(row.width), int(row.height))
                h, w = img.shape[:2]
                yi = np.minimum((np.arange(target_h) * h) // target_h, h - 1)
                xi = np.minimum((np.arange(target_w) * w) // target_w, w - 1)
                resized = img[yi][:, xi]
                out.append(
                    (
                        row.asset_id,
                        resized.tobytes(),
                        {
                            "media_type": "image",
                            "format": "rgb-raw",
                            "width": target_w,
                            "height": target_h,
                            "n_frames": None,
                            "sample_rate_hz": None,
                            "duration_ms": None,
                        },
                    )
                )
            yield pd.DataFrame(out, columns=["asset_id", "content", "media_meta"])

    images = assets.filter(F.col("media_meta.media_type") == "image").select(
        "asset_id",
        "content",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )
    return images.mapInPandas(run, schema=ASSET_SCHEMA)


def segment_audio(assets: DataFrame) -> DataFrame:
    """Fixed-window (``SEGMENT_MS``) segmentation for audio assets — the
    audio analogue of :func:`sample_frames`: each asset fans out to its
    ⌈duration/segment⌉ windows (``sequence`` + ``explode``, pure JVM) with
    half-open [start_ms, end_ms) bounds, the per-segment sample count
    derived from the rate by integer arithmetic, and an audio-typed
    per-segment asset row; per-segment decode happens only downstream, on
    the segments a caller keeps. The last window is truncated to the asset's
    duration. Assets with a zero/negative duration yield no segments
    (filtered explicitly — a descending ``sequence(0, -1)`` would otherwise
    fabricate a phantom window)."""
    audio = assets.filter(
        (F.col("media_meta.media_type") == "audio")
        & (F.col("media_meta.duration_ms") > 0)
    )
    n_segments = F.expr(
        f"(media_meta.duration_ms + {SEGMENT_MS - 1}) div {SEGMENT_MS}"
    )
    segs = audio.select(
        "asset_id",
        "content",
        "media_meta",
        F.explode(F.sequence(F.lit(0), (n_segments - 1).cast("int"))).alias(
            "segment_idx"
        ),
    ).select(
        "*",
        (F.col("segment_idx").cast("bigint") * SEGMENT_MS).alias("start_ms"),
        F.least(
            F.col("media_meta.duration_ms"),
            (F.col("segment_idx").cast("bigint") + 1) * SEGMENT_MS,
        ).alias("end_ms"),
    )
    seg_len = F.col("end_ms") - F.col("start_ms")
    # a real codec seeks per window; the fake varies the payload per
    # segment so decoded segments differ deterministically
    return segs.select(
        "asset_id",
        "segment_idx",
        "start_ms",
        "end_ms",
        F.expr(
            "(end_ms - start_ms) * media_meta.sample_rate_hz div 1000"
        ).cast("bigint").alias("n_samples"),
        F.concat(
            F.col("content"),
            F.encode(
                F.concat(F.lit("seg"), F.col("segment_idx").cast("string")), "UTF-8"
            ),
        ).alias("content"),
        F.struct(
            F.lit("audio").alias("media_type"),
            F.col("media_meta.format").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.col("media_meta.sample_rate_hz").alias("sample_rate_hz"),
            seg_len.alias("duration_ms"),
        ).alias("media_meta"),
    )


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame sampling for video assets: the frame index fan-out is pure
    JVM (``sequence`` + ``explode`` — every 2nd frame: 0, 2, 4, … up to
    n_frames−1); per-frame decode happens only for sampled frames. Emits
    one image-typed asset row per sampled frame, with the frame index
    appended so downstream feature extraction keys on (asset, frame)."""
    videos = assets.filter(F.col("media_meta.media_type") == "video")
    frames = videos.select(
        "asset_id",
        "content",
        "media_meta",
        F.explode(
            F.sequence(
                F.lit(0),
                F.col("media_meta.n_frames") - 1,
                F.lit(2),
            )
        ).alias("frame_idx"),
    )
    # a real codec seeks per frame; the fake varies the payload per frame
    # so decoded frames differ deterministically
    return frames.select(
        "asset_id",
        "frame_idx",
        F.concat(
            F.col("content"), F.encode(F.col("frame_idx").cast("string"), "UTF-8")
        ).alias("content"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("rgb-raw").alias("format"),
            F.col("media_meta.width").alias("width"),
            F.col("media_meta.height").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate_hz"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media_meta"),
    )
