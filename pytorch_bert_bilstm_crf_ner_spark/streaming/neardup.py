"""Streaming simhash near-duplicate detection with horizon-bounded state
— the streaming half of `operators/dedup.py::simhash_neardup_pairs`,
completing the dedup family's streaming surface (exact dedup already
streams via `streaming/dedup.py`).

Shape: stage 1 is the zero-shuffle :func:`~..operators.dedup.simhash_expr`
projection plus a 4-way band explode — both stateless, so legal on a
stream with no watermark/output-mode constraints.  Stage 2 groups by
(band_id, band_val) with ``applyInPandasWithState``: per band value the
state holds the (doc_id, fingerprint, arrival) triples seen within the
last ``horizon``; a new document within Hamming <= ``max_hamming`` of a
stored fingerprint emits a match event (earlier arrival first).
Pigeonhole gives the batch operator's exact-recall property for any pair
whose arrivals fall within the horizon of each other: <= ``max_hamming``
differing bits touch at most that many of the ``n_bands`` bands, so the
pair shares a band and both land in that band's group.

State is bounded by arrival rate x horizon per band value — the
streaming analog of the batch operator's ``max_band_docs`` trade and of
`stream_dedup_exact`'s watermark contract (exact-forever near-dup of an
infinite stream needs unbounded state; the horizon IS the contract for
how far apart two near-duplicates may arrive and still be caught).

A pair sharing k bands is reported by up to k band groups, but all of a
document's band rows travel in the SAME micro-batch, so every report of
a pair lands in the newer document's batch — the sink's per-batch
``dropDuplicates(["doc_a", "doc_b"])`` therefore dedups events
completely, and the idempotent ``batch_id=N/`` overwrite layout (same as
`streaming/ingest.py`) makes replays safe.
"""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import (
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
    simhash_expr,
)

DOCUMENTS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

MATCH_SCHEMA = StructType(
    [
        StructField("doc_a", LongType(), False),
        StructField("doc_b", LongType(), False),
        StructField("hamming", IntegerType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType()), True),
        StructField("sims", ArrayType(LongType()), True),
        StructField("arrivals", ArrayType(LongType()), True),  # epoch ms
    ]
)


def banded_fingerprints(stream: DataFrame) -> DataFrame:
    """(doc_id, ts, simhash, band_id, band_val): stateless projection +
    band explode, reusing the batch operator's band arithmetic so the
    streaming and batch candidate spaces are identical."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    # the stream schema allows null text/ts; a null row reaching the
    # stateful matcher raises (NaT astype / None xor) and kills the
    # query — drop them here, stateless and before any state is touched
    sig = stream.filter(
        F.col("text").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "doc_id", "ts", simhash_expr().alias("simhash"))
    return sig.select(
        "doc_id", "ts", "simhash",
        F.explode(F.array(*[
            F.expr(f"named_struct('band_id', {b}, 'band_val', "
                   f"shiftright(simhash, {b * band_bits}) & {mask})")
            for b in range(SIMHASH_BANDS)
        ])).alias("b"),
    ).select(
        "doc_id", "ts", "simhash",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_val").alias("band_val"),
    )


def _matcher(max_hamming: int, horizon_ms: int):
    def match_batches(key, pdf_iter, state):
        from collections import deque

        # state is kept in arrival order (incoming is processed
        # ts-sorted and appended), so horizon eviction is a pop from the
        # front — O(1) amortized per document, no rescan
        if state.exists:
            doc_ids, sims, arrivals = state.get
            entries = deque(zip(doc_ids, sims, arrivals))
        else:
            entries = deque()
        out: list[tuple[int, int, int]] = []
        for pdf in pdf_iter:
            incoming = sorted(
                zip(
                    pdf["doc_id"].tolist(),
                    pdf["simhash"].tolist(),
                    (pdf["ts"].astype("int64") // 1_000_000).tolist(),
                ),
                key=lambda r: (r[2], r[0]),
            )
            for doc, sim, ts in incoming:
                # evict BEFORE comparing: a stored fingerprint older than
                # this arrival's horizon must not produce a match
                while entries and entries[0][2] < ts - horizon_ms:
                    entries.popleft()
                for sdoc, ssim, sts in entries:
                    if sdoc == doc:
                        continue
                    # front-of-deque eviction assumes near-ordered event
                    # time; LATE data can meet stranded entries whose
                    # event times are farther apart than the horizon —
                    # enforce the horizon per candidate so eviction stays
                    # a state-size optimization, not the correctness gate
                    if abs(ts - sts) > horizon_ms:
                        continue
                    h = (sim ^ ssim).bit_count()
                    if h <= max_hamming:
                        out.append((sdoc, doc, h))
                entries.append((doc, sim, ts))
        state.update((
            [e[0] for e in entries],
            [e[1] for e in entries],
            [e[2] for e in entries],
        ))
        if out:
            yield pd.DataFrame(out, columns=["doc_a", "doc_b", "hamming"])

    return match_batches


def incremental_neardup(stream: DataFrame,
                        max_hamming: int = SIMHASH_MAX_HAMMING,
                        horizon: str = "30 minutes") -> DataFrame:
    """Streaming (doc_id, text, ts) -> streaming match events
    (doc_a, doc_b, hamming), doc_a the earlier arrival.  Events may be
    repeated across band groups within a micro-batch — dedup per batch
    in the sink (see :func:`stream_neardup_simhash`)."""
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"exact recall needs max_hamming <= n_bands - 1 "
            f"(got {max_hamming} > {SIMHASH_BANDS - 1})")
    unit_table = {"seconds": 1_000, "second": 1_000,
                  "minutes": 60_000, "minute": 60_000,
                  "hours": 3_600_000, "hour": 3_600_000}
    parts = horizon.split()
    if (len(parts) != 2 or not parts[0].lstrip("+").isdigit()
            or parts[1] not in unit_table):
        raise ValueError(
            f"horizon must be '<positive int> "
            f"<{'|'.join(sorted(set(unit_table)))}>', e.g. '30 minutes' "
            f"(got {horizon!r})")
    horizon_ms = int(parts[0]) * unit_table[parts[1]]
    bands = banded_fingerprints(stream)
    return bands.groupBy("band_id", "band_val").applyInPandasWithState(
        _matcher(max_hamming, horizon_ms),
        outputStructType=MATCH_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_neardup_simhash(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    horizon: str = "30 minutes",
):
    """Start the near-dup match stream over a parquet document feed, which
    drains the input and stops; returns the StreamingQuery.  Each input
    file is one micro-batch.  Output: per-batch-deduplicated match events
    in the idempotent ``batch_id=N/`` layout."""
    stream = (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    matches = incremental_neardup(stream, max_hamming=max_hamming,
                                  horizon=horizon)

    def write_batch(batch_df, batch_id: int) -> None:
        (
            batch_df.dropDuplicates(["doc_a", "doc_b"])
            .write.mode("overwrite")
            .parquet(os.path.join(output_dir, f"batch_id={batch_id}"))
        )

    return (
        matches.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
