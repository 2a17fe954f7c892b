"""Streaming simhash near-duplicate detection: a file-source stream over a
``(doc_id, text, ts)`` document feed ends in the batch operator's pairs,
found by the batch operators (`operators/dedup.py::simhash` and
`operators/dedup.py::simhash_band_pairs`, the search that
`simhash_neardup_pairs` runs).  Each micro-batch (``foreachBatch``):

1. drops the rows with a null ``text`` or ``ts``;
2. fingerprints the rest with ``simhash``, joins each doc's ``ts`` back
   on as epoch microseconds ``ts_us`` and overwrites
   ``<out>/fingerprints/batch_id=N`` with ``(doc_id, simhash, ts_us)``;
3. reads all of ``<out>/fingerprints`` with its known schema, keeping the
   rows with ``ts_us >= <the batch's least ts_us> - HORIZON``: a literal
   bound, so Parquet row-group statistics can skip fingerprints older
   than the horizon (a Spark ``timestamp`` is written as INT96, which
   carries no statistics; a ``bigint`` does), and the pair search's work
   stays bounded by arrival rate x horizon instead of growing with the
   stream;
4. runs the banded pair search over them, keeps a pair only if one side
   is in batch N and the two ``ts`` lie at most ``HORIZON`` apart, and
   overwrites ``<out>/pairs/batch_id=N`` with ``(doc_a, doc_b,
   hamming)``, doc_a < doc_b (the batch operator's order).

Horizon contract: two near-duplicates are paired iff their event times
(``ts``) lie at most ``HORIZON`` apart, whatever order they arrive in; the
per-pair check decides, so late data cannot meet a fingerprint beyond the
horizon.  When the horizon covers every arrival, the drained ``<out>/pairs``
equal ``simhash_neardup_pairs`` over all the documents.  Each pair is
written once, in the batch of its later-arriving doc.

The checkpoint location tracks which source files each batch consumed; a
restart finds the earlier fingerprints in ``<out>/fingerprints``, not in a
state store.  foreachBatch is at-least-once: a replayed batch overwrites
its own two ``batch_id=N/`` directories, so it rewrites the same rows
instead of appending them again (same layout as `streaming/ingest.py`).
"""

from __future__ import annotations

import os
from datetime import timedelta

import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import simhash, simhash_band_pairs

HORIZON = timedelta(minutes=30)  # how far apart two near-duplicates' ts may lie
HORIZON_US = HORIZON // timedelta(microseconds=1)

DOCUMENTS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


def stream_neardup_simhash(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start the near-dup stream over a parquet document feed, which drains
    the input and stops; returns the StreamingQuery.  Each input file is
    one micro-batch.  Read its pairs from ``<output_dir>/pairs``."""
    stream = (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    fingerprints_dir = os.path.join(output_dir, "fingerprints")

    def process_batch(batch_df, batch_id: int) -> None:
        docs = batch_df.filter(F.col("text").isNotNull() & F.col("ts").isNotNull())
        fingerprints = simhash(docs).join(
            docs.select("doc_id", F.unix_micros("ts").alias("ts_us")), "doc_id")
        fingerprints.write.mode("overwrite").parquet(
            os.path.join(fingerprints_dir, f"batch_id={batch_id}"))
        # batch_id=N is a partition column on read
        stored = batch_df.sparkSession.read.schema(fingerprints.schema).parquet(
            fingerprints_dir)
        earliest = (
            stored.filter(F.col("batch_id") == batch_id)
            .select(F.min("ts_us") - HORIZON_US).first()[0]
        )
        in_batch = (F.col("batch_id_a") == batch_id) | (F.col("batch_id_b") == batch_id)
        in_horizon = F.abs(F.col("ts_us_a") - F.col("ts_us_b")) <= HORIZON_US
        (
            simhash_band_pairs(stored.filter(F.col("ts_us") >= F.lit(earliest)))
            .filter(in_batch & in_horizon)
            .select("doc_a", "doc_b", "hamming")
            .write.mode("overwrite")
            .parquet(os.path.join(output_dir, "pairs", f"batch_id={batch_id}"))
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
