"""Property-based tests (SURVEY.md §5.4): cut concat invariant,
encode->decode round trip, Viterbi optimality, pairing safety."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pytorch_bert_bilstm_crf_ner_spark.core.cut import cut_sent_for_bert
from pytorch_bert_bilstm_crf_ner_spark.core.decode import bioes_decode_flat
from pytorch_bert_bilstm_crf_ner_spark.core.features import (
    FeatureConfig,
    encode_example,
)
from pytorch_bert_bilstm_crf_ner_spark.core.tags import build_tag_vocab, invert_vocab

CHINESE_ISH = st.text(
    alphabet="abc词语句子。！？；;，,xyz ", min_size=0, max_size=300
)


@given(CHINESE_ISH, st.integers(min_value=8, max_value=64))
@settings(max_examples=200, deadline=None)
def test_cut_concat_invariant(text, max_len):
    assert "".join(cut_sent_for_bert(text, max_len)) == text


@st.composite
def spans_for_text(draw):
    """Non-overlapping (type, mention, start) spans inside a random text."""
    n = draw(st.integers(min_value=5, max_value=60))
    text = draw(st.text(alphabet="abcdefgh", min_size=n, max_size=n))
    types = ("PRO", "ORG", "NAME")
    spans = []
    pos = 0
    while pos < n - 1:
        if draw(st.booleans()):
            ln = draw(st.integers(min_value=1, max_value=min(4, n - pos)))
            spans.append((draw(st.sampled_from(types)), text[pos : pos + ln], pos))
            pos += ln + 1  # gap so spans never touch
        else:
            pos += draw(st.integers(min_value=1, max_value=3))
    return text, spans


@given(spans_for_text())
@settings(max_examples=200, deadline=None)
def test_encode_decode_roundtrip(case):
    """decode(encode(spans)) == spans for in-bounds, non-touching spans."""
    text, spans = case
    cfg = FeatureConfig(max_seq_len=70)
    feat = encode_example(text, spans, cfg)
    id2ent = invert_vocab(build_tag_vocab())
    body = feat["label_ids"][1 : 1 + len(text)]
    got = {(m, s, t) for m, s, t in bioes_decode_flat(body, text, id2ent)}
    want = {(m, s, t) for t, m, s in spans}
    assert want <= got
    # anything extra must be a phantom from the id-0 quirk only when a
    # genuine tag sequence allows it; with O everywhere else and gaps >= 1
    # char the decode is exact:
    assert got == want


@given(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_viterbi_optimality(L, T, seed):
    import numpy as np

    from pytorch_bert_bilstm_crf_ner_spark.core.viterbi import viterbi_decode_batch

    from .conftest import viterbi_decode_brute

    rng = np.random.RandomState(seed)
    em = rng.uniform(-1, 1, (1, L, T)).astype(np.float32)
    start = rng.uniform(-0.1, 0.1, T).astype(np.float32)
    trans = rng.uniform(-0.1, 0.1, (T, T)).astype(np.float32)
    end = rng.uniform(-0.1, 0.1, T).astype(np.float32)
    fast = viterbi_decode_batch(em, np.array([L]), start, trans, end)[0]
    slow = viterbi_decode_brute(em[0], start, trans, end)

    def score(path):
        s = start[path[0]] + em[0, 0, path[0]]
        for i in range(1, L):
            s += trans[path[i - 1], path[i]] + em[0, i, path[i]]
        return s + end[path[-1]]

    assert abs(score(fast) - score(slow)) < 1e-5
