"""Transcripts source — the engine's primary input table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` (exact shape per BASELINE.json input_hint).

Three coordinated implementations that must agree row-for-row:

1. :func:`derive_transcripts` — Spark DataFrame derivation from the
   driver-provided ``documents`` parquet (deterministic: doc -> one
   conversation; turns = fixed-size word groups via ``slice`` +
   ``array_join``, NO explode-then-resort so ordering is intrinsic).
2. :data:`TRANSCRIPTS_SQL` — the ANSI-SQL twin DuckDB runs as the
   correctness oracle.
3. :func:`derive_transcripts_py` — pure-python twin feeding the
   single-process parity oracle.

An Iceberg-catalog variant would read ``spark.read.format("iceberg")``;
parquet is the sandbox stand-in (same DataFrame downstream).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

WORDS_PER_TURN = 12
ROLES = ("user", "assistant", "tool")
EPOCH = datetime(2024, 1, 1)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table.  A single file is read with the schema of its
    parquet footer, so no Spark job infers it; the schema is the file's
    own, so a file without ``text`` still fails at plan build instead of
    reading as an all-null column.  A directory (a Spark-written table) is
    left to Spark's inference."""
    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        return spark.read.parquet(path)
    schema = from_arrow_schema(pq.read_schema(path))
    return spark.read.schema(schema).parquet(path)


def derive_transcripts(docs: DataFrame) -> DataFrame:
    """One conversation per document; turn k = words [k*W, (k+1)*W) for
    W = :data:`WORDS_PER_TURN`."""
    W = WORDS_PER_TURN
    words = F.split(F.col("text"), " ")
    df = docs.select(
        F.col("doc_id"),
        words.alias("words"),
        F.ceil(F.size(words) / W).cast("int").alias("n_turns"),
    )
    df = df.select(
        "doc_id",
        "words",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), (F.col("turn_idx") % 3) + 1
    )
    return df.select(
        F.format_string("conv_%06d", "doc_id").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        F.array_join(
            F.slice(F.col("words"), F.col("turn_idx") * W + 1, W), " "
        ).alias("text"),
        F.when(role == "tool", F.format_string("tool_%d", F.col("doc_id") % 4))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        (
            F.lit(EPOCH)
            + F.make_interval(secs=F.col("doc_id") * 60 + F.col("turn_idx"))
        ).alias("ts"),
    )


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_transcripts(load_documents(spark, sf_dir))


# DuckDB twin of derive_transcripts over the ``documents`` view
TRANSCRIPTS_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), t AS (
  SELECT doc_id, words, CAST(u.k AS INT) AS turn_idx
  FROM w, LATERAL (
    SELECT unnest(range(CAST(ceil(len(words) / {WORDS_PER_TURN}.0) AS BIGINT))) AS k
  ) u
)
SELECT
  printf('conv_%06d', doc_id) AS conv_id,
  turn_idx,
  (['user','assistant','tool'])[(turn_idx % 3) + 1] AS role,
  array_to_string(words[turn_idx*{WORDS_PER_TURN} + 1 : (turn_idx + 1)*{WORDS_PER_TURN}], ' ') AS text,
  CASE WHEN (turn_idx % 3) + 1 = 3
       THEN printf('tool_%d', doc_id % 4) END AS tool,
  TIMESTAMP '2024-01-01' + (doc_id*60 + turn_idx) * INTERVAL 1 SECOND AS ts
FROM t
"""


def derive_transcripts_py(doc_rows: list[tuple[int, str]]):
    """Pure-python twin: [(doc_id, text)] -> list of transcript dicts."""
    W = WORDS_PER_TURN
    out = []
    for doc_id, text in doc_rows:
        words = text.split(" ")
        n_turns = -(-len(words) // W)
        for k in range(n_turns):
            role = ROLES[k % 3]
            out.append(
                {
                    "conv_id": f"conv_{doc_id:06d}",
                    "turn_idx": k,
                    "role": role,
                    "text": " ".join(words[k * W : (k + 1) * W]),
                    "tool": f"tool_{doc_id % 4}" if role == "tool" else None,
                    "ts": EPOCH + timedelta(seconds=doc_id * 60 + k),
                }
            )
    return out
