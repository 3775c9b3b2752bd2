"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns plus a typed metadata struct —
content-addressed by sha256 so exact dedup, caching, and lineage work on
byte identity without decoding. Decode / feature-extraction /
frame-sampling run as Arrow-batched ``mapInPandas`` operators: one Python
worker per partition processes whole record batches (never row-at-a-time),
and the output schema is declared up front so Catalyst can plan around the
black box.

The actual codecs (PIL/librosa/ffmpeg) are NOT available in this
environment; each operator takes a ``decoder`` callable and ships with
``fake_image_decoder`` — a deterministic stand-in that derives plausible
features from the bytes — so the Spark-side plumbing (schema, batching,
partitioning) is real and tested. Swap the decoder for the real library in
production; nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_METADATA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # jpeg|png|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def content_address(df: DataFrame, binary_col: str = "content") -> DataFrame:
    """Add ``content_id`` = sha256(bytes): the dedup/caching/join key."""
    return df.withColumn("content_id", F.sha2(F.col(binary_col), 256))


def fake_image_decoder(data: bytes) -> dict[str, Any]:
    """Deterministic stand-in decoder: features derived from the bytes."""
    h = hashlib.sha256(data).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_channels": 1 + (h[2] % 2) * 2,  # 1 or 3
        "mean_intensity": round(h[3] / 255.0, 6),
    }


def extract_image_features(
    df: DataFrame,
    binary_col: str = "content",
    decoder: Callable[[bytes], dict[str, Any]] = fake_image_decoder,
) -> DataFrame:
    """Decode + featurize images via Arrow-batched mapInPandas.

    Input needs a binary column; output follows IMAGE_FEATURES_SCHEMA.
    Narrow (no shuffle): scales with input splits, and the Python cost is
    amortized over whole Arrow batches.
    """
    df = content_address(df, binary_col)
    cols = ["content_id", binary_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decoder(bytes(b)) for b in pdf[binary_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "content_id", pdf["content_id"].values)
            yield out

    return df.select(*cols).mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("rms_energy", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def fake_audio_decoder(data: bytes) -> dict[str, Any]:
    """Deterministic stand-in decoder: features derived from the bytes."""
    h = hashlib.sha256(data).digest()
    return {
        "duration_ms": 500 + int.from_bytes(h[0:2], "big") % 60000,
        "sample_rate": [8000, 16000, 22050, 44100][h[2] % 4],
        "rms_energy": round(h[3] / 255.0, 6),
        "zero_crossing_rate": round(h[4] / 255.0, 6),
    }


def extract_audio_features(
    df: DataFrame,
    binary_col: str = "content",
    decoder: Callable[[bytes], dict[str, Any]] = fake_audio_decoder,
) -> DataFrame:
    """Decode + featurize audio via Arrow-batched mapInPandas.

    Same narrow, batch-amortized shape as ``extract_image_features`` —
    only the decoder callable and output schema differ.
    """
    df = content_address(df, binary_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decoder(bytes(b)) for b in pdf[binary_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "content_id", pdf["content_id"].values)
            yield out

    return df.select("content_id", binary_col).mapInPandas(batches, AUDIO_FEATURES_SCHEMA)


VIDEO_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def fake_video_decoder(data: bytes) -> dict[str, Any]:
    """Deterministic stand-in prober: metadata derived from the bytes."""
    h = hashlib.sha256(data).digest()
    return {
        "duration_ms": 500 + int.from_bytes(h[0:2], "big") % 60000,
        "fps": [24, 25, 30, 60][h[2] % 4],
        "width": 320 + (h[3] % 4) * 320,
        "height": 240 + (h[4] % 4) * 240,
    }


def extract_video_metadata(
    df: DataFrame,
    binary_col: str = "content",
    decoder: Callable[[bytes], dict[str, Any]] = fake_video_decoder,
) -> DataFrame:
    """Probe video containers via Arrow-batched mapInPandas.

    Same narrow, batch-amortized shape as the image/audio extractors; the
    metadata feeds ``sample_video_frames`` to plan the per-frame decode.
    """
    df = content_address(df, binary_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decoder(bytes(b)) for b in pdf[binary_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "content_id", pdf["content_id"].values)
            yield out

    return df.select("content_id", binary_col).mapInPandas(
        batches, VIDEO_METADATA_SCHEMA
    )


def sample_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "content_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Frame-sampling plan: one row per sampled timestamp per video.

    Pure built-ins — ``sequence`` + ``explode`` generate the sample points;
    the (stubbed) per-frame decode would join back on (content_id, ts_ms).
    """
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.col(duration_col), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )

