"""applyInPandasWithState incremental co-occurrence: pairs emitted on
first observability, per-conversation state restored across restarts."""

from __future__ import annotations

from collections import Counter


def _write(spark, path, rows):
    from pytorch_bert_bilstm_crf_ner_spark.streaming.stateful import (
        MENTION_STREAM_SCHEMA,
    )

    spark.createDataFrame(rows, MENTION_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_incremental_cooccurrence_with_restart(spark, tmp_path):
    from pytorch_bert_bilstm_crf_ner_spark.streaming.stateful import (
        stream_cooccurrence,
    )

    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    # batch 1: conv A sees entities 1 (turn 0) and 2 (turn 1)
    _write(spark, inp, [("A", 0, 0, 1), ("A", 1, 0, 2)])
    q = stream_cooccurrence(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    first = {tuple(r) for r in spark.read.parquet(outp).collect()}
    assert first == {("A", 1, 2, 0)}

    # restart with a new file: entity 3 arrives at turn 2 -> pairs with the
    # RESTORED seen-set {1, 2}, not with itself twice, and old pairs are
    # not re-emitted
    _write(spark, inp, [("A", 2, 0, 3), ("B", 0, 0, 7), ("B", 0, 5, 8)])
    q2 = stream_cooccurrence(spark, inp, outp, ckpt)
    q2.awaitTermination(120)
    allpairs = {tuple(r) for r in spark.read.parquet(outp).collect()}
    assert allpairs == {
        ("A", 1, 2, 0),
        ("A", 1, 3, 0),
        ("A", 2, 3, 1),
        ("B", 7, 8, 0),   # same turn: earlier start -> later start
    }


class _State:
    """The slice of ``GroupState`` that `_pair_batches` uses."""

    exists, get = False, None

    def update(self, value):
        self.exists, self.get = True, value


def _run(state, *batches):
    import pandas as pd

    from pytorch_bert_bilstm_crf_ner_spark.streaming.stateful import _pair_batches

    frames = [pd.DataFrame(b, columns=["canonical_id", "turn_idx", "start"])
              for b in batches]
    return Counter(tuple(r) for out in _pair_batches(("A",), iter(frames), state)
                   for r in out.itertuples(index=False))


def test_pair_batches_emits_each_pair_once():
    """A repeated entity pairs nothing: 1@t0, 2@t1, 1@t2 is the one pair
    (1, 2) at turn 0, and the state keeps one first arrival per entity."""
    state = _State()
    assert _run(state, [(1, 0, 0), (2, 1, 0), (1, 2, 0)]) == Counter({("A", 1, 2, 0): 1})
    assert [list(v) for v in state.get] == [[1, 2], [0, 1], [0, 0]]
    # across batches: 2 again pairs nothing; the new 3 pairs with 1 and 2
    # at their first arrivals, and 1 again later in the batch pairs nothing
    got = _run(state, [(2, 3, 0), (3, 4, 0), (1, 5, 0)])
    assert got == Counter({("A", 1, 3, 0): 1, ("A", 2, 3, 1): 1})
    assert [list(v) for v in state.get] == [[1, 2, 3], [0, 1, 4], [0, 0, 0]]
