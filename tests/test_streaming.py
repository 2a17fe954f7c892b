"""Structured Streaming ingest: incremental tagging with exactly-once file
processing (checkpoint resume — the streaming twin of the batch lineage)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "input": str(tmp_path / "in"),
        "output": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    return d


def _write_batch(spark, input_dir, conv_prefix, n):
    from pytorch_bert_bilstm_crf_ner_spark.streaming.ingest import (
        TRANSCRIPTS_SCHEMA,
    )
    import datetime

    rows = [
        (
            f"{conv_prefix}_{i}",
            0,
            "user",
            "run a table scan then hash join now",
            None,
            datetime.datetime(2024, 1, 1),
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)


def test_incremental_stream(spark, dirs):
    from pytorch_bert_bilstm_crf_ner_spark.streaming.ingest import stream_mentions

    _write_batch(spark, dirs["input"], "convA", 5)
    q = stream_mentions(spark, dirs["input"], dirs["output"], dirs["ckpt"])
    q.awaitTermination(120)
    first = spark.read.parquet(dirs["output"])
    n1 = first.count()
    assert n1 == 5 * 2  # 2 mentions per turn (table scan, hash join)
    batch_ids_1 = {r["batch_id"] for r in first.select("batch_id").distinct().collect()}

    # new files arrive; re-run drains ONLY the new ones (checkpoint)
    _write_batch(spark, dirs["input"], "convB", 3)
    q2 = stream_mentions(spark, dirs["input"], dirs["output"], dirs["ckpt"])
    q2.awaitTermination(120)
    out = spark.read.parquet(dirs["output"])
    assert out.count() == (5 + 3) * 2
    assert out.filter("conv_id like 'convB%'").count() == 6
    # convA rows were not reprocessed (their batch ids unchanged)
    assert {
        r["batch_id"]
        for r in out.filter("conv_id like 'convA%'").select("batch_id").distinct().collect()
    } == batch_ids_1


def test_windowed_entity_counts_watermark(spark, tmp_path):
    """Append-mode windowed counts: a late-but-within-watermark row is
    counted into its (closed) window; the still-open tail window is not
    emitted.  Three files -> three micro-batches (maxFilesPerTrigger=1),
    mtimes pinned so watermark advancement is deterministic."""
    import datetime as dt
    import os
    import time as _time

    from pyspark.sql.types import Row

    from pytorch_bert_bilstm_crf_ner_spark.streaming.windows import (
        windowed_entity_counts,
    )

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    def turn(i, ts, text):
        return Row(conv_id=f"c{i}", turn_idx=0, role="user", text=text,
                   tool=None, ts=dt.datetime(2024, 1, 1, *ts))

    batches = [
        # window [10:00,10:10): two mentions; plus 10:12 to seed watermark
        [turn(1, (10, 1), "spark spark"), turn(2, (10, 12), "merge")],
        # late row for the first window (10:07 > watermark 09:52) + a row
        # at 10:45 that pushes the watermark past 10:10
        [turn(3, (10, 7), "spark"), turn(4, (10, 45), "query")],
        # final batch advances the watermark past 10:50 so the 10:40
        # window closes too; its own 11:30 window stays open
        [turn(5, (11, 30), "filter")],
    ]
    import glob
    import shutil

    from pytorch_bert_bilstm_crf_ner_spark.streaming.ingest import (
        TRANSCRIPTS_SCHEMA,
    )

    # the file-stream source lists FLAT files under input_dir (it doesn't
    # recurse into per-write directories), so stage each batch and move
    # its single part file in, with pinned mtimes for deterministic order
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(
            1
        ).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{d['in']}/b{i}.parquet"
        shutil.move(part, dst)
        t = _time.time() - 300 + i * 10
        os.utime(dst, (t, t))

    q = windowed_entity_counts(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination(120)

    out = spark.read.parquet(d["out"]).collect()
    got = {
        (r["window_start"].strftime("%H:%M"), r["type"]): r["n_mentions"]
        for r in out
    }
    # first window closed WITH the late mention: 2 early + 1 late = 3 ORG
    assert got.get(("10:00", "ORG")) == 3
    # the 10:10 window (merge @10:12) and 10:40 window (query @10:45)
    # closed by the final watermark
    assert got.get(("10:10", "PRO")) == 1
    assert got.get(("10:40", "TITLE")) == 1
    # the 11:30 window is still open -> not emitted in append mode
    assert not any(k[0] == "11:30" for k in got)


def test_stream_dedup_exact_within_watermark(spark, tmp_path):
    """Cross-micro-batch exact dedup: a duplicate text arriving in a
    later batch (within the watermark) is dropped; distinct texts and
    the first arrival survive."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time as _time

    from pyspark.sql.types import Row

    from pytorch_bert_bilstm_crf_ner_spark.streaming.dedup import (
        stream_dedup_exact,
    )
    from pytorch_bert_bilstm_crf_ner_spark.streaming.ingest import (
        TRANSCRIPTS_SCHEMA,
    )

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    def turn(i, minute, text):
        return Row(conv_id=f"c{i}", turn_idx=0, role="user", text=text,
                   tool=None, ts=dt.datetime(2024, 1, 1, 10, minute))

    batches = [
        [turn(1, 0, "spark query merge"), turn(2, 1, "hash join now")],
        # duplicate of batch-1 text (10:05, watermark floor 09:31) -> drop;
        # plus one genuinely new text
        [turn(3, 5, "spark query merge"), turn(4, 6, "totally new words")],
    ]
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(
            1
        ).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{d['in']}/b{i}.parquet"
        shutil.move(part, dst)
        t = _time.time() - 300 + i * 10
        os.utime(dst, (t, t))

    q = stream_dedup_exact(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination(120)

    out = spark.read.parquet(d["out"])
    rows = {(r["conv_id"], r["text"]) for r in out.collect()}
    assert ("c1", "spark query merge") in rows
    assert ("c3", "spark query merge") not in rows  # duplicate dropped
    assert ("c2", "hash join now") in rows
    assert ("c4", "totally new words") in rows
    assert len(rows) == 3
