"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
decode / feature-extract as Arrow-batched ``mapInPandas``.

The decode itself is deterministic: image/audio libraries are not
dependencies, so :func:`decode_media` derives a ``FEATURE_DIM``-wide
feature from the payload hash.  The Spark-side plumbing — schema,
batching, partition shape — is real and tested end-to-end, and the
DuckDB twin recomputes the features exactly.  A real decoder would
replace :func:`_fake_feature` inside the same batch function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16  # floats per decoded feature vector

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("feature", ArrayType(FloatType()), False),
    ]
)

_KINDS = ("image", "audio", "video")


def synth_media(documents: DataFrame) -> DataFrame:
    """Deterministic media table from documents: payload = md5 bytes of the
    text (stand-in for encoded image/audio bytes), metadata from doc_id."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.unhex(F.md5("text")).alias("payload"),
        F.when(kind == "image", (F.col("doc_id") % 640 + 32).cast("int")).alias("width"),
        F.when(kind == "image", (F.col("doc_id") % 480 + 32).cast("int")).alias("height"),
        F.when(kind != "image", (F.col("doc_id") % 30000 + 1000).cast("int")).alias(
            "duration_ms"
        ),
    )


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in for a decoded-media embedding: md5 blocks of
    the payload's hex string, bytes scaled to [-1, 1).  md5-over-VARCHAR is
    the engine-portable hash of this repo (Spark == DuckDB), so the driver
    oracle can recompute the features exactly; every value is a multiple of
    1/128 — exact in binary floating point, no rounding needed anywhere."""
    out: list[float] = []
    hexs = payload.hex()
    block = 0
    while len(out) < FEATURE_DIM:
        h = hashlib.md5(f"{hexs}|{block}".encode()).hexdigest()
        out.extend(
            int(h[2 * i : 2 * i + 2], 16) / 128.0 - 1.0 for i in range(16)
        )
        block += 1
    return out[:FEATURE_DIM]


def decode_media(media: DataFrame) -> DataFrame:
    """payload -> feature vector via Arrow-batched mapInPandas (a real
    decode would run PIL/librosa here, batch-wise, one import per worker)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": [_fake_feature(bytes(p)) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        decode, FEATURE_SCHEMA
    )
