"""Structured Streaming ingest (optional surface — the reference is
batch-only + a sync Flask endpoint, `scripts/server.py`; the north_rule is
batch.  This covers the S8 analog: continuous transcript arrival).

A file-source stream over the transcripts directory ends in the batch
pipeline's triples, computed by the batch pipeline's operators.  Each
micro-batch (``foreachBatch``):

1. tags the batch (`operators/tagging.py::extract_mentions`), links it
   (`operators/linking.py::canonical_mentions`) and overwrites
   ``<out>/mentions/batch_id=N``;
2. takes the conversations it touched from that written directory, not
   from the lazy frame, which a second action would tag again;
3. reads all of ``<out>/mentions`` with its known schema and keeps the
   touched conversations' rows, deduplicated as the batch pipeline's
   canonical stage is, so a turn delivered twice counts once;
4. runs `operators/relations.py::relation_triples` on them and overwrites
   ``<out>/triples/batch_id=N``.

Relations are per conversation, so a touched conversation's triples are
recomputed whole from all of its mentions so far, and they supersede the
rows of every earlier batch: :func:`read_stream_triples` keeps, for each
``conv_id``, the rows of its newest ``batch_id``.

The checkpoint location tracks which source files each batch consumed, so
re-running after a kill only tags files that arrived since — the
streaming twin of the batch pipeline's lineage resume.  foreachBatch is
at-least-once: a crash between the sink write and the checkpoint commit
replays the batch.  Each batch overwrites its own ``batch_id=N/``
directories, so a replay rewrites the same rows instead of appending
them again.  Every stream here runs ``Trigger.AvailableNow``: it drains
the backlog then stops (incremental batch).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.linking import CANONICAL_KEY, canonical_mentions
from ..operators.relations import relation_triples
from ..operators.tagging import extract_mentions

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


def stream_kg(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start the incremental KG stream, which drains the input and stops;
    returns the StreamingQuery.  Read its graph with
    :func:`read_stream_triples`."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    mentions_dir = os.path.join(output_dir, "mentions")

    def process_batch(batch_df, batch_id: int) -> None:
        canonical = canonical_mentions(extract_mentions(batch_df))
        canonical.write.mode("overwrite").parquet(
            os.path.join(mentions_dir, f"batch_id={batch_id}"))
        # batch_id=N is a partition column on read
        mentions = batch_df.sparkSession.read.schema(canonical.schema).parquet(mentions_dir)
        touched = mentions.filter(F.col("batch_id") == batch_id).select("conv_id")
        relation_triples(
            mentions.join(touched, "conv_id", "left_semi").dropDuplicates(CANONICAL_KEY)
        ).write.mode("overwrite").parquet(
            os.path.join(output_dir, "triples", f"batch_id={batch_id}"))

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_triples(spark: SparkSession, output_dir: str) -> DataFrame:
    """The graph of a :func:`stream_kg` output: for each ``conv_id``, the
    triples of its newest ``batch_id``, which supersede every earlier
    batch's."""
    triples = spark.read.parquet(os.path.join(output_dir, "triples"))
    newest = F.max("batch_id").over(Window.partitionBy("conv_id"))
    return (
        triples.withColumn("newest", newest)
        .filter(F.col("batch_id") == F.col("newest"))
        .drop("batch_id", "newest")
    )
