"""Streaming exact deduplication with watermark-bounded state — the
streaming half of `operators/dedup.py::exact_duplicates`.

A continuous document/transcript feed re-delivers identical payloads
(retries, mirrored crawls, repost storms).  ``stream_dedup_exact`` keeps
the FIRST arrival of each md5(text) and drops re-arrivals using
``dropDuplicatesWithinWatermark``: state for a hash is retained only
until event time passes its watermark, so the dedup map is bounded by
the watermark span instead of growing with the stream — the only shape
that survives an unbounded feed.  (Exact-once-forever dedup of an
infinite stream is impossible with finite state; the watermark IS the
contract for how late a duplicate can arrive and still be caught.)
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .ingest import TRANSCRIPTS_SCHEMA

WATERMARK = "30 minutes"  # how late a duplicate may arrive and still be caught


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start the dedup stream, which drains the input and stops; returns
    the StreamingQuery.  Each input file is one micro-batch.  Output: the
    surviving (first-arrival) rows, written append-only with the same
    idempotent batch_id=N directory layout as the ingest sink."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    deduped = (
        stream.withColumn("text_hash", F.md5("text"))
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )

    def write_batch(batch_df, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(os.path.join(output_dir, f"batch_id={batch_id}"))
        )

    return (
        deduped.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
