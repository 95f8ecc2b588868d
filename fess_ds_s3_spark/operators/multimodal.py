"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference treats every S3 object as bytes and delegates typed handling
to pluggable extractors (SURVEY.md §2.11); the engine generalizes this to a
multimodal pipeline: media payloads are ``binary`` columns with a typed
metadata struct, processed by Arrow-batched ``mapInPandas`` stages.

The decode kernels themselves (PIL/ffmpeg/librosa) are NOT available in this
container, so the decode step is STUBBED: ``decoder=None`` uses a clearly
deterministic fake (shape/feature values derived from the bytes' hash) so
the Spark-side plumbing — schema, batch shape, partition sizing, UDF
signatures — is real and tested end-to-end, while a real decoder drops in
as a single callable.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

MEDIA_META_TYPE = StructType([
    StructField("media_type", StringType(), True),   # image|audio|video
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_channels", IntegerType(), True),
    StructField("duration_ms", LongType(), True),
    StructField("sample_rate", IntegerType(), True),
])

FEATURE_DIM = 16

DECODED_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("media_type", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("feature", ArrayType(FloatType()), True),
    StructField("decode_error", StringType(), True),
])


def _fake_decode(blob: bytes) -> dict:
    """Deterministic stand-in for a real image/audio decoder: all outputs
    are pure functions of the bytes (sha256), so tests are reproducible.
    This is also the gate-entry oracle fixture — entries pin it
    explicitly so an environment that happens to have Pillow cannot
    change oracle values."""
    digest = hashlib.sha256(blob).digest()
    width = 16 + digest[0] % 64
    height = 16 + digest[1] % 64
    vec = np.frombuffer(digest[:FEATURE_DIM * 2], dtype=np.uint8)
    feat = (vec[:FEATURE_DIM].astype(np.float32) / 255.0).tolist()
    return {"media_type": "image", "width": int(width), "height": int(height),
            "feature": feat, "decode_error": None}


def pil_decode(blob: bytes) -> dict:
    """Real image decode kernel behind the pluggable seam: PIL open +
    size + a FEATURE_DIM-long normalized grayscale thumbnail feature
    (4×4 = FEATURE_DIM pixels). Raises on a corrupt blob — decode_media's
    per-row error capture turns that into a ``decode_error`` row."""
    import io
    from PIL import Image
    img = Image.open(io.BytesIO(bytes(blob)))
    img.load()
    w, h = img.size
    thumb = img.convert("L").resize((4, 4))
    feat = [float(p) / 255.0 for p in thumb.getdata()]
    return {"media_type": "image", "width": int(w), "height": int(h),
            "feature": feat, "decode_error": None}


def default_decoder() -> Callable[[bytes], dict]:
    """Kernel auto-selection: :func:`pil_decode` when Pillow is
    importable, the deterministic :func:`_fake_decode` otherwise (this
    container ships no imaging libs). Selection happens on the DRIVER at
    plan-build time and the chosen callable is cloudpickled to executors
    — on a cluster, install Pillow on executors too or the tasks fail at
    import."""
    try:
        import PIL.Image  # noqa: F401
        return pil_decode
    except ImportError:
        return _fake_decode


def decode_media(df: DataFrame, *, id_col: str = "media_id",
                 content_col: str = "content",
                 decoder: Callable[[bytes], dict] | None = None,
                 batch_size_hint: int = 256) -> DataFrame:
    """Decode/feature-extract media blobs via ``mapInPandas``.

    Real plumbing: Arrow batch iteration, per-row error capture (a corrupt
    blob yields a ``decode_error`` row, never a task failure — E2/E3
    parity), stable output schema. The decode kernel is pluggable;
    ``None`` → :func:`default_decoder` auto-selection (PIL-backed when
    Pillow is importable, the deterministic sha256 fake otherwise).

    Scale note: media rows are wide — repartition upstream so a batch of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows fits executor
    memory, and select only (id, content) into this stage (late
    materialization of other columns via join on id afterwards).
    """
    kernel = decoder or default_decoder()

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "media_type": [], "width": [],
                   "height": [], "feature": [], "decode_error": []}
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                out["media_id"].append(mid)
                if blob is None:
                    out["media_type"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["feature"].append(None)
                    out["decode_error"].append("null content")
                    continue
                try:
                    d = kernel(bytes(blob))
                    out["media_type"].append(d.get("media_type"))
                    out["width"].append(d.get("width"))
                    out["height"].append(d.get("height"))
                    out["feature"].append(d.get("feature"))
                    out["decode_error"].append(d.get("decode_error"))
                except Exception as exc:  # corrupt blob → row, not crash
                    out["media_type"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["feature"].append(None)
                    out["decode_error"].append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(out)

    narrow = df.select(F.col(id_col), F.col(content_col))
    return narrow.mapInPandas(_decode, DECODED_SCHEMA)


def resize_plan(df: DataFrame, *, target_w: int, target_h: int,
                width: str = "width", height: str = "height") -> DataFrame:
    """Compute resize geometry (scale factor, letterbox padding) as pure
    column math — the part of image resizing that is NOT the pixel kernel.
    The kernel itself would be a mapInPandas over (content, plan) with PIL;
    stubbed out here (no imaging libs in this container)."""
    scale = F.least(F.lit(target_w) / F.col(width),
                    F.lit(target_h) / F.col(height))
    new_w = F.floor(F.col(width) * scale).cast("int")
    new_h = F.floor(F.col(height) * scale).cast("int")
    return (df.withColumn("scale", F.round(scale, 6))
            .withColumn("new_width", new_w)
            .withColumn("new_height", new_h)
            .withColumn("pad_x", ((F.lit(target_w) - new_w) / 2).cast("int"))
            .withColumn("pad_y", ((F.lit(target_h) - new_h) / 2).cast("int")))


def frame_sample_plan(df: DataFrame, *, fps_out: float = 1.0,
                      duration_ms: str = "duration_ms") -> DataFrame:
    """Frame-sampling timestamps for video rows: evenly spaced sample
    points as an array<long> (ms). The frame *extraction* is the stubbed
    ffmpeg kernel; the sampling plan is real column math."""
    n_frames = F.greatest(
        F.lit(1),
        F.floor(F.col(duration_ms) / F.lit(1000.0) * F.lit(fps_out))
    ).cast("int")
    step = F.col(duration_ms) / n_frames
    return df.withColumn(
        "sample_points_ms",
        F.transform(F.sequence(F.lit(0), n_frames - 1),
                    lambda i: F.floor(i * step + step / 2).cast("long")))
