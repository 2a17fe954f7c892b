"""Structured Streaming: incremental KG construction with exactly-once file
processing (checkpoint resume — the streaming twin of the batch lineage),
plus the watermark-bounded window and dedup streams."""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import time

import duckdb
import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.oracle import run_oracle
from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import derive_transcripts_py
from pytorch_bert_bilstm_crf_ner_spark.streaming.ingest import (
    TRANSCRIPTS_SCHEMA,
    read_stream_triples,
    stream_kg,
)

SF_DIR = "/root/testdata/sf0.001"
TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx", "n_evidence")


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "input": str(tmp_path / "in"),
        "output": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["input"])
    return d


def arrive(spark, rows, input_dir, i):
    """Write ``rows`` as the one file ``<input_dir>/b<i>.parquet``.  The
    file-stream source lists flat files under its directory (it does not
    recurse into per-write directories), so the write is staged beside it
    and its single part file moved in; the mtime is pinned so that files
    are picked up in ``i`` order."""
    stage = f"{input_dir}.stage{i}"
    spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(stage)
    dst = os.path.join(input_dir, f"b{i}.parquet")
    shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], dst)
    shutil.rmtree(stage)
    t = time.time() - 300 + i * 10
    os.utime(dst, (t, t))


def user_turn(conv_id, turn_idx, text):
    return (conv_id, turn_idx, "user", text, None, datetime.datetime(2024, 1, 1))


def stream_triples(spark, out):
    return sorted(tuple(r) for r in read_stream_triples(spark, out).select(*TRIPLE_COLS).collect())


def oracle_triples(turns):
    return sorted(run_oracle([(c, i, text) for c, i, _, text, _, _ in turns])["triples"])


def drain(spark, d):
    q = stream_kg(spark, d["input"], d["output"], d["ckpt"])
    q.awaitTermination(300)
    assert not q.isActive and q.exception() is None
    return [p["batchId"] for p in q.recentProgress]


def test_incremental_stream(spark, dirs):
    text = "run a table scan then hash join now"
    arrive(spark, [user_turn(f"convA_{i}", 0, text) for i in range(5)], dirs["input"], 0)
    drain(spark, dirs)
    mentions = os.path.join(dirs["output"], "mentions")
    first = spark.read.parquet(mentions)
    assert first.count() == 5 * 2  # 2 mentions per turn (table scan, hash join)
    batch_ids_1 = {r["batch_id"] for r in first.select("batch_id").distinct().collect()}

    # new files arrive; re-run drains ONLY the new ones (checkpoint)
    arrive(spark, [user_turn(f"convB_{i}", 0, text) for i in range(3)], dirs["input"], 1)
    drain(spark, dirs)
    out = spark.read.parquet(mentions)
    assert out.count() == (5 + 3) * 2
    assert out.filter("conv_id like 'convB%'").count() == 6
    # convA rows were not reprocessed (their batch ids unchanged)
    assert {
        r["batch_id"]
        for r in out.filter("conv_id like 'convA%'").select("batch_id").distinct().collect()
    } == batch_ids_1


@pytest.mark.parametrize("n_files", [1, 3])
def test_stream_triples_equal_oracle(spark, dirs, n_files):
    """The drained stream's graph is the batch oracle's, whether the turns
    arrive in one file or in three with the stream restarted after each;
    a conversation whose turns straddle files is recomputed whole."""
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    turns = [tuple(t[f.name] for f in TRANSCRIPTS_SCHEMA) for t in derive_transcripts_py(docs)]
    cut = [len(turns) * k // n_files for k in range(n_files + 1)]
    files = [turns[a:b] for a, b in zip(cut, cut[1:])]
    if n_files > 1:
        assert any(a[-1][0] == b[0][0] for a, b in zip(files, files[1:]))
    for i, rows in enumerate(files):
        arrive(spark, rows, dirs["input"], i)
        drain(spark, dirs)
    assert stream_triples(spark, dirs["output"]) == oracle_triples(turns)


def test_replayed_and_redelivered_batches_leave_triples_unchanged(spark, dirs):
    """A batch replayed after a kill between its sink write and its commit
    rewrites the same triples, and a turn delivered a second time counts
    once, as in the batch pipeline's canonical stage."""
    files = [
        [user_turn("c1", 0, "run a table scan then hash join now")],
        [user_turn("c1", 1, "spark query merge after the hash join"),
         user_turn("c2", 0, "hash join then table scan")],
    ]
    turns = [t for rows in files for t in rows]
    for i, rows in enumerate(files):
        arrive(spark, rows, dirs["input"], i)
        drain(spark, dirs)
    want = oracle_triples(turns)
    # c1's turns straddle the files: this triple needs evidence from both
    assert ("Table Scan", "co_occurs_with", "Hash Join", "c1", 0, 2) in want
    assert stream_triples(spark, dirs["output"]) == want

    for name in ("1", ".1.crc"):
        os.remove(os.path.join(dirs["ckpt"], "commits", name))
    assert drain(spark, dirs) == [1]
    assert stream_triples(spark, dirs["output"]) == want

    arrive(spark, files[0], dirs["input"], 2)
    assert drain(spark, dirs) == [2]
    assert stream_triples(spark, dirs["output"]) == want


def test_windowed_entity_counts_watermark(spark, tmp_path):
    """Append-mode windowed counts: a late-but-within-watermark row is
    counted into its (closed) window; the still-open tail window is not
    emitted.  Three files -> three micro-batches (maxFilesPerTrigger=1),
    mtimes pinned so watermark advancement is deterministic."""
    from pyspark.sql.types import Row

    from pytorch_bert_bilstm_crf_ner_spark.streaming.windows import (
        windowed_entity_counts,
    )

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    def turn(i, ts, text):
        return Row(conv_id=f"c{i}", turn_idx=0, role="user", text=text,
                   tool=None, ts=datetime.datetime(2024, 1, 1, *ts))

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
    for i, rows in enumerate(batches):
        arrive(spark, rows, d["in"], i)

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
    from pyspark.sql.types import Row

    from pytorch_bert_bilstm_crf_ner_spark.streaming.dedup import (
        stream_dedup_exact,
    )

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    def turn(i, minute, text):
        return Row(conv_id=f"c{i}", turn_idx=0, role="user", text=text,
                   tool=None, ts=datetime.datetime(2024, 1, 1, 10, minute))

    batches = [
        [turn(1, 0, "spark query merge"), turn(2, 1, "hash join now")],
        # duplicate of batch-1 text (10:05, watermark floor 09:31) -> drop;
        # plus one genuinely new text
        [turn(3, 5, "spark query merge"), turn(4, 6, "totally new words")],
    ]
    for i, rows in enumerate(batches):
        arrive(spark, rows, d["in"], i)

    q = stream_dedup_exact(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination(120)

    out = spark.read.parquet(d["out"])
    rows = {(r["conv_id"], r["text"]) for r in out.collect()}
    assert ("c1", "spark query merge") in rows
    assert ("c3", "spark query merge") not in rows  # duplicate dropped
    assert ("c2", "hash join now") in rows
    assert ("c4", "totally new words") in rows
    assert len(rows) == 3
