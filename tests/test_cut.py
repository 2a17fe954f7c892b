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


# --------------------------------------------------------------------- #
# three-tier serving cutter (`cut.py:24-76`) parity


# adversarial fixtures for cut_sentences_main quirks
_MAIN_FIXTURES = [
    # comma-only long text (ASCII and fullwidth commas)
    "aaa," * 30,
    "字符，" * 40,
    # first tier-3 piece alone exceeds the limit -> silent DROP quirk
    "x" * 50 + "，" + "短句，" * 10,
    # consecutive overlong comma pieces (drop cascade until a short one)
    "y" * 45 + "," + "z" * 45 + "," + "ok，" * 8,
    # overlong piece after a flushed buffer IS emitted (> max_seq_len out)
    "短，" * 10 + "w" * 60 + "，尾巴",
    # quote-closed enders and ellipsis tiers
    "他说。”然后走了！？" * 12,
    "省略......后续……继续" * 10,
    # semicolon tier-2 path
    ("分号；" * 20 + "。") * 3,
    # whitespace-only pieces get filtered
    "   ，  ，" + "实体内容，" * 15 + "   ",
    # short-circuit boundary: len(text) == max_seq_len returns [text]
    "e" * 40,
    "f" * 41,
    # no punctuation at all, longer than the limit
    "g" * 90,
    DOC,
]


def test_cut_sentences_main_matches_reference_impl():
    """Quirk-for-quirk live parity with the exec'd `cut.py:24-76` —
    including the drop-when-buffer-empty case, the strict-< repack, the
    overlong-piece emission and the whitespace filter."""
    ns = load_reference_module("cut.py")
    if ns is None:
        pytest.skip("reference tree unavailable")
    from pytorch_bert_bilstm_crf_ner_spark.core.cut import (
        cut_sentences_main_with_pos,
    )

    for text in _MAIN_FIXTURES:
        for max_len in (14, 40, 90, 126):
            ours = [p for p, _ in cut_sentences_main_with_pos(text, max_len)]
            ref = ns["cut_sentences_main"](text, max_len)
            assert ours == ref, (text[:30], max_len)


def test_cut_sentences_main_drop_quirk():
    """The reference silently drops a leading overlong comma piece; the
    port must too (documented quirk, not a bug)."""
    from pytorch_bert_bilstm_crf_ner_spark.core.cut import (
        cut_sentences_main_with_pos,
    )

    text = "x" * 50 + "，" + "ab，" * 5
    joined = "".join(p for p, _ in cut_sentences_main_with_pos(text, 40))
    assert "x" * 50 not in joined  # leading overlong piece dropped
    assert "ab，" in joined        # the short tail survives


def test_three_tier_true_offsets_after_drop():
    """Under `long_piece_cut="three_tier"` the cutter silently DROPS text;
    every piece's — and therefore every mention's — `start` must stay
    valid against the ORIGINAL turn text, so (conv_id, turn_idx, start)
    joins and slices line up after a drop."""
    from pytorch_bert_bilstm_crf_ner_spark.core.model import (
        DeterministicTagger,
        TaggerConfig,
    )

    # limit = 16 - 2 = 14: the leading 17-char comma piece alone fails the
    # strict repack test with an empty buffer -> silently dropped
    text = "a" * 16 + "," + "spark is ok"
    t = DeterministicTagger(
        TaggerConfig(max_seq_len=16, long_piece_cut="three_tier")
    )
    pp = t._piece_pos(text)
    assert [p for p, _ in pp] == ["spark is ok"], pp  # drop really happened
    for p, s in pp:
        assert text[s : s + len(p)] == p  # true-substring invariant
    assert pp[0][1] == 17

    spans = t.tag_batch([text])[0]
    assert spans, "expected a gazetteer-boosted mention in the kept piece"
    for mention, start, _ in spans:
        assert text[start : start + len(mention)] == mention, (mention, start)
    assert any(m == "spark" and s == 17 for m, s, _ in spans), spans

    # hard_chunk (the registered default): the true-substring invariant
    # holds by construction
    hard = DeterministicTagger(TaggerConfig(max_seq_len=16))
    for p, s in hard._piece_pos(text):
        assert text[s : s + len(p)] == p


def test_cut_sentences_main_with_pos_matches_plain():
    """On quirky inputs (drops, overlong flushes, whitespace filtering)
    every piece slices back out of the input at its reported start."""
    from pytorch_bert_bilstm_crf_ner_spark.core.cut import (
        cut_sentences_main_with_pos,
    )

    cases = [
        "x" * 50 + "，" + "ab，" * 5,
        "alpha beta, gamma delta, " * 8,
        "短句。" + "y" * 45 + "，tail piece, done",
        "a,b,c",
        " " * 5 + "," + "z" * 30,
    ]
    for text in cases:
        for n in (14, 30, 40):
            for p, s in cut_sentences_main_with_pos(text, n):
                assert text[s : s + len(p)] == p, (text, n, p, s)


def test_tagger_three_tier_piece_mode():
    """`long_piece_cut="three_tier"` routes overlong pieces through the
    serving cutter; the default keeps the pinned hard-chunk outputs."""
    from pytorch_bert_bilstm_crf_ner_spark.core.model import (
        DeterministicTagger,
        TaggerConfig,
    )

    text = "alpha beta, gamma delta, " * 8  # comma-only, no tier-1/2 enders
    hard = DeterministicTagger(TaggerConfig(max_seq_len=32))
    tiered = DeterministicTagger(
        TaggerConfig(max_seq_len=32, long_piece_cut="three_tier")
    )
    hp = [p for p, _ in hard._piece_pos(text)]
    tp = [p for p, _ in tiered._piece_pos(text)]
    assert all(len(p) <= 30 for p in hp) and "".join(hp) == text
    assert all(len(p) <= 30 for p in tp)
    # three-tier cuts on comma boundaries instead of mid-word char slices
    assert tp != hp and all(p.endswith((",", " ")) or p == tp[-1] for p in tp)
    # default config is unchanged (pinned parity outputs)
    assert TaggerConfig().long_piece_cut == "hard_chunk"
