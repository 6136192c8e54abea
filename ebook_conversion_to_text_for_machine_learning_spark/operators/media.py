"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extraction runs as ``mapInArrow`` over
Arrow record batches so payload bytes cross the JVM↔Python boundary
exactly once per batch. The codec step is stubbed (no Pillow/av/librosa):
the operators compute deterministic byte-level features, so the Spark
plumbing — schema, batching, partitioning, UDF signature — is real and
testable.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("first_byte", IntegerType(), True),
        StructField("byte_sum_mod", LongType(), False),
        StructField("status", StringType(), False),
    ]
)


def attach_payloads(df: DataFrame, media_type: str) -> DataFrame:
    """Demo adapter: wrap a documents table's ``text`` as an opaque binary
    payload keyed by its ``doc_id``.

    In production the payload comes from the lake (Iceberg binary column or
    object-store reference); here we UTF-8-encode existing data so the
    downstream binary plumbing is exercised with real bytes.
    """
    return df.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit(media_type).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def _stub_decode(batch: pa.RecordBatch) -> list[bytes]:
    """Each row's payload bytes (NULL → ``b""``): the stubbed codec step."""
    return [p or b"" for p in batch.column("payload").to_pylist()]


FRAME_SIZE = 16
FRAME_STRIDE = 64
MAX_FRAMES = 32


def sample_frames(
    df: DataFrame,
    *,
    frame_size: int = FRAME_SIZE,
    stride: int = FRAME_STRIDE,
    max_frames: int = MAX_FRAMES,
) -> DataFrame:
    """Strided frame sampling over binary payloads — fully JVM-side.

    The video/audio analogue of "take every Nth frame": one output row per
    sampled byte window (offset ``i*stride``, width ``frame_size``), capped
    at ``max_frames`` per payload. Everything is built-in expressions
    (``sequence`` → ``posexplode`` → binary ``substring``/``md5``) inside
    whole-stage codegen — no Python, no shuffle; the explode factor is
    bounded by ``max_frames`` so output size is predictable at any scale.
    A real decoder would replace the byte window with a codec frame-seek;
    the partitioning, capping, and per-frame schema stay identical.

    ``frame_md5`` fingerprints the frame via its hex encoding
    (``md5(hex(bytes))``) — byte-exact and portable to SQL oracles whose
    md5 only accepts strings, where a raw-bytes md5 would need BLOB
    support and a char-based slice would drift on multi-byte UTF-8.
    

    NULL/empty payloads yield NO frame rows (zero bytes have zero
    frames) — deliberate, unlike extract_media_features/resize, which
    emit a status row per media_id; join on media_id with a left side of
    the features table when a row-per-media view is needed.
    """
    n = F.octet_length("payload")
    n_frames = F.least(
        F.lit(max_frames), (F.floor((n - 1) / stride) + 1).cast("int")
    )
    idx = F.when(n > 0, F.sequence(F.lit(0), n_frames - 1)).otherwise(
        F.array().cast("array<int>")
    )
    frame = F.expr(f"substring(payload, frame_idx * {stride} + 1, {frame_size})")
    return (
        df.select(
            "media_id",
            "media_type",
            "payload",
            F.explode(idx).alias("frame_idx"),
        )
        .select(
            "media_id",
            "media_type",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            (F.col("frame_idx").cast("long") * stride).alias("frame_offset"),
            F.octet_length(frame).cast("long").alias("frame_bytes"),
            F.md5(F.hex(frame)).alias("frame_md5"),
        )
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("target_w", IntegerType(), False),
        StructField("target_h", IntegerType(), False),
        StructField("resized_bytes", LongType(), False),
        StructField("resized_md5", StringType(), False),
        StructField("status", StringType(), False),
    ]
)


def resize_media_stub(df: DataFrame, *, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """Resize plumbing: Arrow-batched, deterministic stub for the codec step.

    The stub "resize" keeps the first ``target_w * target_h`` payload bytes
    (or zero-pads) so output size, schema, and batch shape match what a
    Pillow-backed resize would produce. ``resized_md5`` fingerprints
    the hex encoding of the bytes (same portability rule as
    ``sample_frames``: SQL oracles lack a BLOB md5).
    """
    import hashlib

    target = target_w * target_h
    schema = to_arrow_schema(RESIZED_SCHEMA)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            resized = [d[:target].ljust(target, b"\x00") for d in _stub_decode(batch)]
            n = len(resized)
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": batch.column("media_id"),
                    "target_w": [target_w] * n,
                    "target_h": [target_h] * n,
                    "resized_bytes": [len(r) for r in resized],
                    "resized_md5": [
                        hashlib.md5(r.hex().upper().encode()).hexdigest() for r in resized
                    ],
                    "status": ["stub_resized"] * n,
                },
                schema=schema,
            )

    return df.select("media_id", "media_type", "payload").mapInArrow(
        batches, schema=RESIZED_SCHEMA
    )


def extract_media_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The stub features are pure byte arithmetic (length, first byte, sum mod
    2^31) — deterministic, so the driver's SQL oracle can verify the whole
    mapInArrow path byte-for-byte.
    """
    schema = to_arrow_schema(MEDIA_FEATURE_SCHEMA)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            data = _stub_decode(batch)
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": batch.column("media_id"),
                    "media_type": batch.column("media_type"),
                    "n_bytes": [len(d) for d in data],
                    "first_byte": [d[0] if d else None for d in data],
                    "byte_sum_mod": [sum(d) % (2**31) for d in data],
                    "status": ["stub_decoded"] * len(data),
                },
                schema=schema,
            )

    return df.select("media_id", "media_type", "payload").mapInArrow(
        batches, schema=MEDIA_FEATURE_SCHEMA
    )
