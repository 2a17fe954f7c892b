"""Streaming simhash near-dup: equivalence with the batch operator when
the horizon covers all arrivals, horizon-bounded forgetting when it does
not, restart from the stored fingerprints, and null and late rows through
the public stream."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time as _time

import pyspark.sql.functions as F


def _stage_batches(spark, tmp_path, in_dir, batches):
    """Write each batch as one parquet file into the stream input dir,
    mtime-ordered so maxFilesPerTrigger=1 replays them in order."""
    os.makedirs(in_dir, exist_ok=True)
    for i, df in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{in_dir}/b{i}.parquet"
        shutil.move(part, dst)
        t = _time.time() - 300 + i * 10
        os.utime(dst, (t, t))


def _doc_batches(spark, base_ts, batch2_offset_minutes):
    """sf0.001 documents split by doc_id parity into two arrival batches
    with synthetic event times."""
    from pytorch_bert_bilstm_crf_ner_spark.streaming.neardup import (
        DOCUMENTS_STREAM_SCHEMA,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "ts", F.lit(base_ts))
    b2 = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "ts", F.lit(base_ts + dt.timedelta(minutes=batch2_offset_minutes)))
    cast = lambda df: spark.createDataFrame(  # noqa: E731
        df.select("doc_id", "text", "ts").rdd, DOCUMENTS_STREAM_SCHEMA)
    return cast(b1), cast(b2)


def _batch_pairs(spark):
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs).collect()
    }


def _read_pairs(spark, out_dir):
    """The drained pairs as a sorted list, so a pair written twice shows."""
    pairs = spark.read.parquet(os.path.join(out_dir, "pairs"))
    return sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect())


def _stream_pairs(spark, tmp_path, name, batch2_offset_minutes):
    from pytorch_bert_bilstm_crf_ner_spark.streaming.neardup import (
        stream_neardup_simhash,
    )

    d = {k: str(tmp_path / name / k) for k in ("in", "out", "ckpt")}
    base = dt.datetime(2024, 1, 1, 10, 0)
    b1, b2 = _doc_batches(spark, base, batch2_offset_minutes)
    _stage_batches(spark, tmp_path / name, d["in"], [b1, b2])
    q = stream_neardup_simhash(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination(180)
    return _read_pairs(spark, d["out"])


def test_stream_matches_batch_when_horizon_covers_all(spark, tmp_path):
    """With both batches inside the 30-minute horizon, the drained pairs
    must equal the batch operator's pairs exactly — same banding, same
    popcount, batch 2 searching against batch 1's stored fingerprints."""
    batch = _batch_pairs(spark)
    assert batch, "expected simhash near-dup pairs in sf0.001"
    streamed = _stream_pairs(spark, tmp_path, "full", batch2_offset_minutes=5)
    assert streamed == sorted(batch)


def test_stream_forgets_beyond_horizon(spark, tmp_path):
    """With batch 2 arriving beyond the horizon, cross-parity pairs (one
    doc per batch) must be forgotten, while pairs wholly inside one
    batch survive — the horizon contract."""
    batch = _batch_pairs(spark)
    cross = {(a, b, h) for a, b, h in batch if (a % 2) != (b % 2)}
    within = batch - cross
    assert cross and within, "fixture needs both pair kinds"
    streamed = _stream_pairs(spark, tmp_path, "short", batch2_offset_minutes=120)
    assert streamed == sorted(within)


def test_stream_neardup_state_survives_restart(spark, tmp_path):
    """True restart: run the query to completion on batch 1, then stage
    batch 2 and start a NEW query against the SAME checkpoint and output —
    batch 2 must search against the fingerprints batch 1 stored, so pairs
    spanning the restart boundary are still found."""
    from pytorch_bert_bilstm_crf_ner_spark.streaming.neardup import (
        stream_neardup_simhash,
    )

    batch = _batch_pairs(spark)
    cross = {(a, b, h) for a, b, h in batch if (a % 2) != (b % 2)}
    assert cross, "fixture needs cross-parity pairs"

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    base = dt.datetime(2024, 1, 1, 10, 0)
    b1, b2 = _doc_batches(spark, base, batch2_offset_minutes=5)

    _stage_batches(spark, tmp_path, d["in"], [b1])
    q = stream_neardup_simhash(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination(180)

    import glob as _glob
    import shutil as _shutil
    stage = str(tmp_path / "restart_stage")
    b2.coalesce(1).write.parquet(stage)
    part = _glob.glob(f"{stage}/part-*.parquet")[0]
    _shutil.move(part, f"{d['in']}/b_restart.parquet")

    q2 = stream_neardup_simhash(spark, d["in"], d["out"], d["ckpt"])
    q2.awaitTermination(180)

    assert _read_pairs(spark, d["out"]) == sorted(batch)  # includes every cross-restart pair


def _stream_rows(spark, tmp_path, batches):
    """Stage each list of ``(doc_id, text, ts)`` rows as one micro-batch,
    drain the stream, and return the query and its output dir."""
    from pytorch_bert_bilstm_crf_ner_spark.streaming.neardup import (
        DOCUMENTS_STREAM_SCHEMA,
        stream_neardup_simhash,
    )

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    _stage_batches(spark, tmp_path, d["in"], [
        spark.createDataFrame(rows, DOCUMENTS_STREAM_SCHEMA) for rows in batches])
    q = stream_neardup_simhash(spark, d["in"], d["out"], d["ckpt"])
    assert q.awaitTermination(180)
    assert q.exception() is None
    return d["out"]


_TEXT = "the quick brown fox jumps over the lazy dog"


def _at(h, m):
    return dt.datetime(2024, 1, 1, h, m)


def test_null_rows_are_filtered_before_state(spark, tmp_path):
    """Null ``text`` and null ``ts`` rows are dropped before fingerprinting:
    the query still finishes, only docs 1 and 3 are stored as fingerprints,
    and they pair with each other (one text, so Hamming 0)."""
    out = _stream_rows(spark, tmp_path, [
        [(1, _TEXT, _at(11, 0)), (4, None, _at(11, 0))],
        [(5, _TEXT, None), (3, _TEXT, _at(11, 10))],
    ])
    stored = spark.read.parquet(os.path.join(out, "fingerprints"))
    assert sorted(r["doc_id"] for r in stored.collect()) == [1, 3]
    assert _read_pairs(spark, out) == [(1, 3, 0)]


def test_matcher_enforces_horizon_on_late_data(spark, tmp_path):
    """A late doc is paired by event time, not arrival: doc 2 (10:00,
    arriving after doc 1 at 11:00) meets nothing beyond the 30-minute
    horizon, while doc 3 (11:10) pairs with doc 1.  All docs share one
    text, so every pair has Hamming 0."""
    out = _stream_rows(spark, tmp_path, [
        [(1, _TEXT, _at(11, 0))],
        [(2, _TEXT, _at(10, 0)), (3, _TEXT, _at(11, 10))],
    ])
    assert _read_pairs(spark, out) == [(1, 3, 0)]
