"""Structured Streaming ingest (optional surface — the reference is
batch-only + a sync Flask endpoint, `scripts/server.py`; the north_rule is
batch.  This covers the S8 analog: continuous transcript arrival).

A file-source stream over the transcripts directory feeds the SAME
Arrow-batched tagging operator via ``foreachBatch``; the checkpoint
location tracks which source files each batch consumed, so re-running
after a kill only tags files that arrived since — the streaming twin of
the batch pipeline's lineage resume.  foreachBatch itself is
at-least-once: a crash between the sink write and the checkpoint commit
replays the batch.  The sink is therefore made IDEMPOTENT by writing each
batch to its own ``batch_id=N/`` directory with overwrite — a replayed
batch overwrites its own output instead of double-appending, yielding
effectively-exactly-once end-to-end.  Every stream here runs
``Trigger.AvailableNow``: it drains the backlog then stops (incremental
batch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

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


def stream_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start the incremental tagging stream, which drains the input and
    stops; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        # idempotent sink: overwrite THIS batch's partition directory, so an
        # at-least-once foreachBatch replay cannot double-append.  The
        # batch_id=N layout doubles as a Hive partition column on read.
        (
            extract_mentions(batch_df)
            .write.mode("overwrite")
            .parquet(os.path.join(output_dir, f"batch_id={batch_id}"))
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
