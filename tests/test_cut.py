"""Sentence cut + offset rebase parity vs `utils/cutSentences.py`."""

from __future__ import annotations

import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.cut import (
    cut_sent_for_bert,
    refactor_labels,
)

from .conftest import load_reference_module

DOC = (
    "深圳市沙头角保税区今后五年将充分发挥保税区的区位优势和政策优势，以高新技术产业为先导，"
    "积极调整产品结构，实施以转口贸易和仓储业为辅助的经营战略。把沙头角保税区建成按国际惯例运作、"
    "国内领先的特殊综合经济区域，使其成为该市外向型经济的快速增长点。"
)
LABELS = [
    ["T0", "GPE", 0, 3, "深圳市"],
    ["T1", "GPE", 3, 6, "沙头角"],
    ["T2", "LOC", 6, 9, "保税区"],
    ["T3", "LOC", 18, 21, "保税区"],
    ["T4", "GPE", 73, 76, "沙头角"],
    ["T5", "LOC", 76, 79, "保税区"],
]


def test_concat_invariant():
    for max_len in (32, 90, 150):
        cuts = cut_sent_for_bert(DOC, max_len)
        assert "".join(cuts) == DOC


def test_reference_worked_example():
    """The `cutSentences.py:87-146` __main__ example at max_seq_len=90."""
    cuts = cut_sent_for_bert(DOC, 90)
    start = 0
    all_labels = []
    for sent in cuts:
        all_labels.extend(refactor_labels(sent, LABELS, start))
        start += len(sent)
    assert ("GPE", "深圳市", 0) in all_labels
    assert len(all_labels) == len(LABELS)


def test_matches_reference_impl():
    ns = load_reference_module("utils/cutSentences.py")
    if ns is None:
        pytest.skip("reference tree unavailable")
    import builtins
    import contextlib
    import io

    for max_len in (40, 90, 150):
        with contextlib.redirect_stdout(io.StringIO()):
            ref_cuts = ns["cut_sent_for_bert"](DOC, max_len)
        assert cut_sent_for_bert(DOC, max_len) == ref_cuts
        start = 0
        for sent in ref_cuts:
            assert refactor_labels(sent, LABELS, start) == [
                tuple(x) for x in ns["refactor_labels"](sent, LABELS, start)
            ]
            start += len(sent)


def test_crossing_span_raises():
    with pytest.raises(RuntimeError):
        refactor_labels("深圳市沙", [["T0", "GPE", 2, 6, "市沙头角"]], 0)


def test_tagger_hard_chunks_long_pieces(monkeypatch):
    """A piece the two-tier cut leaves over MAX_SEQ_LEN - 2 chars is
    hard-chunked: every piece fits, each sits at its start in the turn
    text, and the pieces concatenate back to the text."""
    from pytorch_bert_bilstm_crf_ner_spark.core import model

    for max_len, text in ((16, "a" * 16 + "," + "spark is ok"),
                          (32, "alpha beta, gamma delta, " * 8)):
        monkeypatch.setattr(model, "MAX_SEQ_LEN", max_len)
        pieces = model.DeterministicTagger()._piece_pos(text)
        assert len(pieces) > 1
        assert all(len(p) <= max_len - 2 for p, _ in pieces)
        assert "".join(p for p, _ in pieces) == text
        for p, s in pieces:
            assert text[s : s + len(p)] == p
