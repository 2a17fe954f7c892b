"""Distributed mention tagging — the reference's whole model forward +
decode (`preprocess.py` P4/P6, `bert_ner_model.py` M1-M5, `layers/CRF.py`
M8, `predict_gdcq.py` D2) fused into ONE Arrow-batched iterator pandas UDF.

Why this shape (and not per-row Python): the iterator form
(``Iterator[pd.Series] -> Iterator[pd.Series]``) constructs the tagger once
per task — the iterator body runs once per partition, not once per python
worker — with weights regenerated from the small seeded config, or
rebuilt from a broadcast checkpoint (`core/checkpoint.py`), then every
Arrow batch of the partition is tokenized, Viterbi-decoded and
FSM-span-decoded as whole numpy batches.
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
(B x Lmax x T fp32).

Each span also carries ``adj_start``: the start of the turn's next span
(by start) when no `core/pairing.py::SEPARATORS` character lies between
the two, else null (`core/pairing.py::adjacent_starts`).  That is the
text half of the adjacency rule, computed here because only this stage
holds the turn text next to its spans: the relations stage checks the
type rule and the linking from the mention rows alone, with no
transcripts join.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.model import DeterministicTagger, TaggerConfig
from ..core.pairing import adjacent_starts

SPAN_STRUCT = StructType(
    [
        StructField("mention", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("type", StringType(), False),
        StructField("adj_start", IntegerType(), True),
    ]
)
MENTIONS_SCHEMA = ArrayType(SPAN_STRUCT)


def make_tag_turns_udf(cfg: TaggerConfig | None = None, tagger_factory=None):
    """``tagger_factory`` swaps in another tagger with the same
    ``tag_batch`` interface — e.g. checkpointed weights through
    ``core.checkpoint.broadcast_tagger_factory(spark, ckpt_dir)``.  The
    iterator body, and so ``factory()``, runs once per task (partition),
    not once per python worker: a reused worker rebuilds the tagger for
    every partition it serves."""
    cfg = cfg or TaggerConfig()
    factory = tagger_factory or (lambda: DeterministicTagger(cfg))

    @pandas_udf(MENTIONS_SCHEMA)
    def tag_turns(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        tagger = factory()  # once per task (partition)
        for texts in batches:
            texts = texts.fillna("").tolist()
            rows = tagger.tag_batch(texts)
            yield pd.Series(
                [
                    [
                        {"mention": m, "start": s, "type": t, "adj_start": a}
                        for (m, s, t), a in zip(row, adjacent_starts(row, text))
                    ]
                    for row, text in zip(rows, texts)
                ]
            )

    return tag_turns


def extract_mentions(transcripts: DataFrame,
                     cfg: TaggerConfig | None = None,
                     tagger_factory=None) -> DataFrame:
    """transcripts -> mention rows (conv_id, turn_idx, mention, start, type,
    adj_start).

    Only (conv_id, turn_idx, text) enter the UDF stage (column pruning);
    empty turns are filtered first (reference P1, `preprocess.py:173-175`).
    The keyed output replaces the reference's positional pred<->callback zip
    (`main.py:95-111`) — every downstream comparison joins on
    (conv_id, turn_idx, start), which is stable under any partitioning.

    ``tagger_factory`` routes checkpointed weights through the UDF — e.g.
    `core.checkpoint.broadcast_tagger_factory(spark, ckpt_dir)` (broadcast
    state_dict, rebuilt once per task).
    """
    tag_udf = make_tag_turns_udf(cfg, tagger_factory=tagger_factory)
    tagged = (
        transcripts.filter(F.length("text") > 0)
        .select("conv_id", "turn_idx", "text")
        .withColumn("spans", tag_udf(F.col("text")))
    )
    # explode_outer, not explode: plain explode makes Catalyst insert a
    # size(spans)>0 pre-filter that DUPLICATES the ArrowEvalPython node —
    # the model forward would run twice per row.  explode_outer needs no
    # precondition (one UDF eval); the null rows from empty arrays are
    # dropped afterwards, JVM-side.
    return (
        tagged.select(
            "conv_id",
            "turn_idx",
            F.explode_outer("spans").alias("sp"),
        )
        .filter(F.col("sp").isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            F.col("sp.mention").alias("mention"),
            F.col("sp.start").alias("start"),
            F.col("sp.type").alias("type"),
            F.col("sp.adj_start").alias("adj_start"),
        )
    )
