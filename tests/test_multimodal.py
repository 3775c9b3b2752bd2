"""Multimodal plumbing tests: schema, batching, determinism of the stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, f"media-blob-{i % 3}".encode()) for i in range(20)]
    return spark.createDataFrame(rows, ["media_id", "content"])


def test_content_address_is_sha256(media):
    import hashlib

    out = multimodal.content_address(media).collect()
    for r in out:
        assert r.content_id == hashlib.sha256(bytes(r.content)).hexdigest()


def test_extract_image_features_schema_and_determinism(media):
    feats = multimodal.extract_image_features(media)
    assert [f.name for f in feats.schema.fields] == [
        "content_id", "width", "height", "n_channels", "mean_intensity",
    ]
    rows = feats.collect()
    assert len(rows) == 20
    # identical bytes -> identical features (content-addressed determinism)
    by_id = {}
    for r in rows:
        if r.content_id in by_id:
            assert by_id[r.content_id] == (r.width, r.height, r.n_channels, r.mean_intensity)
        by_id[r.content_id] = (r.width, r.height, r.n_channels, r.mean_intensity)
    assert len(by_id) == 3
    for r in rows:
        assert 64 <= r.width < 256 and r.n_channels in (1, 3)


def test_extract_audio_features_schema_and_determinism(media):
    feats = multimodal.extract_audio_features(media)
    assert [f.name for f in feats.schema.fields] == [
        "content_id", "duration_ms", "sample_rate", "rms_energy", "zero_crossing_rate",
    ]
    rows = feats.collect()
    assert len(rows) == 20
    assert len({r.content_id for r in rows}) == 3
    for r in rows:
        assert r.sample_rate in (8000, 16000, 22050, 44100)
        assert 0.0 <= r.rms_energy <= 1.0


def test_sample_video_frames(spark):
    df = spark.createDataFrame([("v1", 3500)], ["content_id", "duration_ms"])
    out = multimodal.sample_video_frames(df, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in out] == [0, 1000, 2000, 3000]


def test_extract_video_metadata_schema_and_determinism(media):
    import hashlib

    meta = multimodal.extract_video_metadata(media)
    assert [f.name for f in meta.schema.fields] == [
        "content_id", "duration_ms", "fps", "width", "height",
    ]
    rows = meta.collect()
    assert len(rows) == 20
    for r in rows:
        assert 500 <= r.duration_ms < 60500
        assert r.fps in (24, 25, 30, 60)
    # deterministic: same bytes -> same metadata
    by_id = {}
    for r in rows:
        if r.content_id in by_id:
            assert by_id[r.content_id] == (r.duration_ms, r.fps, r.width, r.height)
        by_id[r.content_id] = (r.duration_ms, r.fps, r.width, r.height)


def test_video_frame_plan_end_to_end(media):
    """Probe -> frame sampling composition: frame count per video follows
    duration // every_ms + 1."""
    meta = multimodal.extract_video_metadata(media).distinct()
    frames = multimodal.sample_video_frames(meta, every_ms=5000)
    counts = {
        r.content_id: r.n
        for r in frames.groupBy("content_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for m in meta.collect():
        assert counts[m.content_id] == m.duration_ms // 5000 + 1
