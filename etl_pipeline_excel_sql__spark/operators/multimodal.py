"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a metadata struct
(modality, mime, width/height/duration, ...). The Spark-side machinery —
schemas, batch iteration via ``mapInPandas``, partition sizing — is real and
tested; the actual codec work is stubbed behind ``_decode_*`` functions
because media libraries are not available in this environment (each
produces deterministic pseudo-features so the distributed plumbing is
testable end-to-end).

Scale notes: payload columns are heavy — the iterator-of-batches shape of
``mapInPandas`` keeps memory bounded by the Arrow batch size, payloads never
pass through Python row objects, and feature extraction is a narrow map (no
shuffle). Re-partition by size (``maxRecordsPerBatch``) before decode, never
by count, when payloads vary widely.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

#: Schema of a multimodal record: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("content_hash", StringType(), True),
        StructField("features", ArrayType(FloatType()), True),
    ]
)


def _decode_image(payload: bytes) -> list[float]:
    """STUB: real implementation would decode via PIL/libvips and return
    pixel-statistics features. Not available in this container."""
    h = hashlib.md5(payload).digest()
    return [b / 255.0 for b in h[:8]]


def _decode_audio(payload: bytes) -> list[float]:
    """STUB: real implementation would use soundfile/librosa frame features."""
    h = hashlib.md5(b"audio:" + payload).digest()
    return [b / 255.0 for b in h[:8]]


_DECODERS = {"image": _decode_image, "audio": _decode_audio}


def extract_features(media: DataFrame) -> DataFrame:
    """Decode payloads → feature vectors via Arrow-batched ``mapInPandas``.

    The UDF receives an iterator of pandas batches (bounded memory) and
    emits FEATURE_SCHEMA batches; Spark plans it as a narrow map so the
    heavy payload column never shuffles.
    """

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd  # executor-side import

        for batch in batches:
            feats, hashes, sizes = [], [], []
            for modality, payload in zip(batch["modality"], batch["payload"]):
                data = bytes(payload) if payload is not None else b""
                decoder = _DECODERS.get(modality)
                feats.append(decoder(data) if decoder else None)
                hashes.append(hashlib.md5(data).hexdigest())
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": batch["modality"],
                    "n_bytes": pd.array(sizes, dtype="int64"),
                    "content_hash": hashes,
                    "features": feats,
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload (test corpus
    has no real media; this exercises the binary-column path end-to-end)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType(), False),
        StructField("frame_ms", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 100) -> DataFrame:
    """Sample frames from video payloads — a 1-to-N ``mapInPandas``.

    Demonstrates the cardinality-changing iterator shape: each input row
    yields one output row per sampled frame, still inside one Arrow batch
    stream (no shuffle, memory bounded per batch). The decoder is stubbed:
    the fake derives a duration from the payload length (1 byte ≈ 1 ms,
    ``duration_ms = max(len(data), 1)``) and
    emits a content-addressed pseudo-frame per ``every_ms`` tick; a real
    deployment swaps ``_frame_at`` for an ffmpeg/pyav call with identical
    plumbing.
    """

    def _frame_at(payload: bytes, ms: int) -> bytes:
        return hashlib.md5(payload + str(ms).encode()).digest()

    def _sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            ids, idxs, tss, frames = [], [], [], []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                data = bytes(payload) if payload is not None else b""
                duration_ms = max(len(data), 1)  # fake: 1 byte ≈ 1 ms
                for i, ms in enumerate(range(0, duration_ms, every_ms)):
                    ids.append(media_id)
                    idxs.append(i)
                    tss.append(ms)
                    frames.append(_frame_at(data, ms))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "frame_index": pd.array(idxs, dtype="int64"),
                    "frame_ms": pd.array(tss, dtype="int64"),
                    "payload": frames,
                }
            )

    return media.mapInPandas(_sample, schema=FRAME_SCHEMA)
