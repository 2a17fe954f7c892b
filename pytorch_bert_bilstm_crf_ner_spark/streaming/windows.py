"""Event-time windowed aggregation with a watermark — the late-data half
of the Structured Streaming surface (`ingest.py` covers incremental
arrival; `neardup.py` covers near-dup pairs over stored fingerprints).

``windowed_entity_counts`` is the canonical shape for a 100 TB stream:
stream–static broadcast join (the entity dictionary is the static side —
no state), then ``withWatermark`` + ``groupBy(window(ts))`` so the engine
can CLOSE windows and drop their state once event time passes
window_end + watermark.  Output mode is ``append``: a window's counts are
emitted exactly once, when it closes — late rows inside the watermark are
still counted, later ones are dropped, and state size stays bounded by
(watermark span / window size) windows per key instead of growing with
the stream.  The reference has no streaming analog (batch + sync Flask,
`scripts/server.py`); this is the Spark-native upgrade of that surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ..sources.entity_dict import single_word_dict_df
from .ingest import TRANSCRIPTS_SCHEMA

WINDOW = "10 minutes"     # event-time window length
WATERMARK = "20 minutes"  # how late a row may arrive and still be counted


def windowed_entity_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start the stream, which drains the input and stops; returns the
    StreamingQuery.

    Per event-time window and entity type: how many dictionary mentions
    arrived.  Each input file is its own micro-batch, so watermark
    advancement (and hence append-mode window finalization) is observable
    with a handful of files.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    # static broadcast side: single-word aliases, word-exact match.
    # distinct (word, type): the dictionary carries duplicate aliases
    # (different entity_ids later merged by canonicalization) and a plain
    # join would multiply each mention by its alias multiplicity.
    d = (
        single_word_dict_df(spark)
        .select(F.col("alias").alias("word"), "type")
        .distinct()
    )
    words = stream.select(
        "conv_id", "ts", F.explode(F.split("text", " ")).alias("word")
    )
    mentions = words.join(F.broadcast(d), "word")
    counts = (
        mentions.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("win"), "type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "type",
            "n_mentions",
        )
    )
    return (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
