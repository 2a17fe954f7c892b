"""Distributed deterministic transcript synthesizer (bench scale).

Generates the input_hint-shaped transcripts table entirely JVM-side from
``spark.range`` — word choices come from ``xxhash64`` of (conv, turn, slot),
so the same n_convs always yields the same table at any
parallelism, with zero python in the generation path (the tag UDF stays
the only python stage when benchmarking).

Skew: every 97th conversation is "hot" (HOT_FACTOR x more turns) — the
salting / AQE-skew story needs skewed fixtures to be honest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .transcripts import ROLES

VOCAB = (
    "the fast slow big small key order sort table scan merge part window "
    "hash join group query row data filter customer line batch value spark "
    "stream vector agg column"
).split()

HOT_EVERY = 97
HOT_FACTOR = 12
TURNS_PER_CONV = 10
WORDS_PER_TURN = 12


def synth_transcripts(
    spark: SparkSession,
    n_convs: int,
    partitions: int | None = None,
) -> DataFrame:
    """~n_convs * TURNS_PER_CONV rows (hot conversations add more)."""
    vocab_arr = F.array(*[F.lit(w) for w in VOCAB])
    n_vocab = len(VOCAB)

    convs = spark.range(n_convs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    convs = convs.select(
        F.col("id").alias("conv_no"),
        F.when(F.col("id") % HOT_EVERY == 0, TURNS_PER_CONV * HOT_FACTOR)
        .otherwise(TURNS_PER_CONV)
        .alias("n_turns"),
    )
    turns = convs.select(
        "conv_no",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(WORDS_PER_TURN)),
            lambda i: F.element_at(
                vocab_arr,
                (
                    F.pmod(F.xxhash64(F.col("conv_no"), F.col("turn_idx"), i), F.lit(n_vocab))
                    + 1
                ).cast("int"),
            ),
        ),
        " ",
    )
    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), (F.col("turn_idx") % 3) + 1
    )
    return turns.select(
        F.format_string("synth_%09d", "conv_no").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", F.format_string("tool_%d", F.col("conv_no") % 4))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("conv_no") * 3600 + F.col("turn_idx"))
        ).alias("ts"),
    )
