"""Custom stateful streaming operator: incremental co-occurrence pairs.

As canonical mentions stream in per conversation, emit each (subj_cid,
obj_cid) canonical pair the FIRST time it becomes observable — a mention
of an entity not yet seen in that conversation pairs with every entity
seen before it, a mention of a seen entity emits nothing, and the
per-conversation state (each entity's first arrival) is kept by the
engine in the state store, restored from the checkpoint across restarts.
This is the `applyInPandasWithState` re-expression of the batch
co-occurrence frame (`operators/relations.py::relation_evidence`) for
continuously arriving transcripts (streaming simplification, documented:
pairing is conversation-wide rather than turn-windowed — the window bound
would otherwise keep per-turn state alive indefinitely for unordered
arrivals).

Directionality matches the batch operator's ordering rule: earlier
(turn, start) mention -> later one.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MENTION_STREAM_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("start", IntegerType(), False),
        StructField("canonical_id", LongType(), False),
    ]
)

PAIR_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("subj_cid", LongType(), False),
        StructField("obj_cid", LongType(), False),
        StructField("turn_idx", IntegerType(), False),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("cids", ArrayType(LongType()), True),
        StructField("turns", ArrayType(IntegerType()), True),
        StructField("starts", ArrayType(IntegerType()), True),
    ]
)


def _pair_batches(key, pdf_iter: Iterator[pd.DataFrame], state):
    conv_id = key[0]
    seen: dict[int, tuple[int, int]] = {}  # canonical id -> first (turn, start)
    if state.exists:
        for cid, turn, start in zip(*state.get):
            seen.setdefault(cid, (turn, start))
    out_rows = []
    for pdf in pdf_iter:
        incoming = sorted(
            zip(
                pdf["canonical_id"].tolist(),
                pdf["turn_idx"].tolist(),
                pdf["start"].tolist(),
            ),
            key=lambda m: (m[1], m[2]),
        )
        for cid, turn, start in incoming:
            if cid in seen:
                continue
            for s_cid, (s_turn, s_start) in seen.items():
                # direct earlier -> later (batch operator's ordering rule)
                if (s_turn, s_start) <= (turn, start):
                    subj, obj, ev = s_cid, cid, s_turn
                else:
                    subj, obj, ev = cid, s_cid, turn
                out_rows.append((conv_id, subj, obj, ev))
            seen[cid] = (turn, start)
    state.update((
        list(seen),
        [t for t, _ in seen.values()],
        [s for _, s in seen.values()],
    ))
    if out_rows:
        yield pd.DataFrame(out_rows, columns=["conv_id", "subj_cid", "obj_cid", "turn_idx"])


def incremental_cooccurrence(mention_stream: DataFrame):
    """Streaming DataFrame of canonical mentions -> streaming DataFrame of
    first-observation co-occurrence pair events."""
    return mention_stream.groupBy("conv_id").applyInPandasWithState(
        _pair_batches,
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_cooccurrence(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """File-source stream of canonical-mention parquet -> incremental pair
    events appended to parquet; state restored from checkpoint on rerun.
    The stream drains the input and stops."""
    stream = spark.readStream.schema(MENTION_STREAM_SCHEMA).parquet(input_dir)
    pairs = incremental_cooccurrence(stream)
    return (
        pairs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
