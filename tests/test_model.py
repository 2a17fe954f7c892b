"""Deterministic tagger invariants: reproducibility, char-offset
correctness, batch-grouping independence, long-text cutting."""

from __future__ import annotations

from pytorch_bert_bilstm_crf_ner_spark.core import model
from pytorch_bert_bilstm_crf_ner_spark.core.model import DeterministicTagger

TEXTS = [
    "the fast key order sort table scan merge part window small hash",
    "spark group query row data slow small filter customer line the batch value",
    "hash join beats merge sort in spark query",
]


def test_reproducible_across_instances():
    a = DeterministicTagger().tag_batch(TEXTS)
    b = DeterministicTagger().tag_batch(TEXTS)
    assert a == b


def test_offsets_are_char_offsets():
    for text, spans in zip(TEXTS, DeterministicTagger().tag_batch(TEXTS)):
        for mention, start, _ in spans:
            assert text[start : start + len(mention)] == mention


def test_batch_grouping_invariance():
    """Tags must not depend on which rows share a batch (determinism under
    any partitioning / Arrow batch split)."""
    tagger = DeterministicTagger()
    whole = tagger.tag_batch(TEXTS)
    solo = [tagger.tag_batch([t])[0] for t in TEXTS]
    assert whole == solo


def test_long_text_cut_and_reoffset(monkeypatch):
    monkeypatch.setattr(model, "MAX_SEQ_LEN", 32)
    tagger = DeterministicTagger()
    text = " ".join(["table scan merge"] * 20)
    (spans,) = tagger.tag_batch([text])
    assert spans, "expected mentions in long text"
    for mention, start, _ in spans:
        assert text[start : start + len(mention)] == mention


def test_multiword_mentions_found():
    (spans,) = DeterministicTagger().tag_batch(["run a table scan then hash join now"])
    got = {(m, t) for m, _, t in spans}
    assert ("table scan", "PRO") in got
    assert ("hash join", "PRO") in got
