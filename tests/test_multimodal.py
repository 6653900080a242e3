"""Multimodal plumbing tests — real Arrow/mapInPandas path, stubbed codecs."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.multimodal import (
    documents_as_media,
    extract_features,
)


def _media(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another doc")], "doc_id long, text string"
    )
    return documents_as_media(docs)


def test_extract_features_fake_decode(spark):
    out = {r.media_id: r for r in extract_features(_media(spark)).collect()}
    assert out[1].n_bytes == len(b"hello world")
    assert out[1].content_hash == hashlib.md5(b"hello world").hexdigest()
    assert len(out[1].features) == 8
    assert all(0.0 <= f <= 1.0 for f in out[1].features)
    # deterministic fake: same payload -> same features
    again = {r.media_id: r for r in extract_features(_media(spark)).collect()}
    assert out[1].features == again[1].features


def test_unknown_modality_yields_null_features(spark):
    media = spark.createDataFrame(
        [(1, "video", "video/mp4", bytearray(b"abc"))],
        "media_id long, modality string, mime string, payload binary",
    )
    row = extract_features(media).collect()[0]
    assert row.features is None
    assert row.n_bytes == 3


def test_sample_frames_is_one_to_many(spark):
    from etl_pipeline_excel_sql__spark.operators.multimodal import sample_frames

    frames = sample_frames(_media(spark), every_ms=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    # "hello world" = 11 bytes -> ticks at 0,4,8 -> 3 frames
    assert len(by_id[1]) == 3
    assert [r.frame_ms for r in sorted(by_id[1], key=lambda r: r.frame_index)] == [
        0,
        4,
        8,
    ]
    # frames are content-addressed and distinct per tick
    payloads = {bytes(r.payload) for r in by_id[1]}
    assert len(payloads) == 3
