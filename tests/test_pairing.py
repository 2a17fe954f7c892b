"""Adjacent-mention pairing parity vs `predict_gdcq.py::post_process`
(README.md:330-333 worked example + randomized)."""

from __future__ import annotations

import random

import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.pairing import (
    GDCQ_OBJECT_TYPES,
    SEPARATORS,
    adjacent_pairs,
    adjacent_starts,
    adjacent_triples,
)

from .conftest import extract_function


def test_gdcq_readme_example():
    text = "多次购买了，效果不错哦，价格便宜"
    ents = [("不错", 8, "正面"), ("价格", 12, "价格"), ("便宜", 14, "正面")]
    leftover, rels = adjacent_pairs(ents, text)
    assert rels == [("价格便宜", "正面")]
    assert leftover == [("不错", 8, "正面")]


def test_matches_reference_randomized():
    ref = extract_function("predict_gdcq.py", "post_process")
    if ref is None:
        pytest.skip("reference tree unavailable")
    rng = random.Random(3)
    types = ["正面", "中性", "负面", "价格", "物流", "品质"]
    seps = "，,。！!？?"
    for _ in range(200):
        n = rng.randint(0, 60)
        text = "".join(
            rng.choice("abcdefg" + seps) for _ in range(n)
        )
        ents = []
        pos = 0
        while pos < n - 2:
            ln = rng.randint(1, 3)
            if rng.random() < 0.5:
                ents.append((text[pos : pos + ln], pos, rng.choice(types)))
            pos += ln + rng.randint(0, 3)
        ours = adjacent_pairs(ents, text)
        theirs = tuple(ref(ents, text))
        assert ours == theirs


def test_triples_form():
    text = "aa bb cc"
    ents = [("aa", 0, "NAME"), ("bb", 3, "TITLE"), ("cc", 6, "TITLE")]
    out = adjacent_triples(ents, text, ("TITLE",), pred="has_attribute")
    assert out == [
        ("aa", "has_attribute", "bb", 0),
    ]
    assert GDCQ_OBJECT_TYPES == ("正面", "中性", "负面")


@pytest.mark.parametrize("sep", SEPARATORS)
def test_adjacent_starts_separator_in_gap(sep):
    """A separator anywhere strictly between the two spans breaks the
    pair; the same gap without it keeps it.  SEPARATORS holds both the
    full-width and the ASCII marks."""
    ents = [("aa", 0, "NAME"), ("bb", 5, "TITLE")]
    assert adjacent_starts(ents, "aa x bb") == [5, None]
    assert adjacent_starts(ents, f"aa{sep}x bb") == [None, None]
    assert adjacent_starts(ents, f"aa x{sep}bb") == [None, None]


def test_adjacent_starts_edges():
    # touching spans: empty gap
    assert adjacent_starts([("ab", 0, "A"), ("cd", 2, "B")], "abcd") == [2, None]
    # a separator inside a span, or after the last one, is not in a gap
    assert adjacent_starts([("a,", 0, "A"), ("b", 3, "B")], "a, b,") == [3, None]
    # the last span by start has no successor, whatever its list position
    ents = [("cc", 6, "C"), ("aa", 0, "A"), ("bb", 3, "B")]
    assert adjacent_starts(ents, "aa bb。cc") == [None, 3, None]
    assert adjacent_starts([], "") == []
    assert adjacent_starts([("x", 0, "A")], "x") == [None]


def test_adjacent_starts_is_the_oracle_gap_rule():
    """adj_start carries exactly the text half of `core/oracle.py`'s
    adjacency rule: for consecutive spans by start, the gap check."""
    rng = random.Random(5)
    for _ in range(300):
        n = rng.randint(0, 40)
        text = "".join(rng.choice("abc ，,。！!？?") for _ in range(n))
        ents, pos = [], 0
        while pos < n - 1:
            ln = rng.randint(1, 3)
            if rng.random() < 0.6:
                ents.append((text[pos : pos + ln], pos, "T"))
            pos += ln + rng.randint(0, 3)
        rng.shuffle(ents)
        got = dict(zip(ents, adjacent_starts(ents, text)))
        by_start = sorted(ents, key=lambda e: e[1])
        for left, right in zip(by_start, by_start[1:]):
            between = text[left[1] + len(left[0]) : right[1]]
            clean = not any(s in between for s in SEPARATORS)
            assert got[left] == (right[1] if clean else None)
        if by_start:
            assert got[by_start[-1]] is None
