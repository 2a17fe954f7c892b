"""BiLSTM feature layer (M2): shapes, determinism, locality, and
end-to-end tagging through the bilstm model family."""

from __future__ import annotations

import numpy as np

from pytorch_bert_bilstm_crf_ner_spark.core.layers import NumpyBiLSTM
from pytorch_bert_bilstm_crf_ner_spark.core.model import (
    DeterministicTagger,
    TaggerConfig,
)

TEXTS = ["run a table scan then hash join now", "spark query merge sort"]


def test_bilstm_shapes_and_determinism():
    x = np.random.RandomState(0).uniform(-1, 1, (3, 11, 8)).astype(np.float32)
    a = NumpyBiLSTM(8, 5, seed=7)(x)
    b = NumpyBiLSTM(8, 5, seed=7)(x)
    assert a.shape == (3, 11, 10)
    assert np.array_equal(a, b)
    # forward half at t depends only on x[:, :t+1]; backward on x[:, t:]
    x2 = x.copy()
    x2[:, -1, :] = 0
    c = NumpyBiLSTM(8, 5, seed=7)(x2)
    assert np.array_equal(a[:, :-1, :5], c[:, :-1, :5])  # fwd unchanged
    assert not np.array_equal(a[:, 0, 5:], c[:, 0, 5:])  # bwd sees the change


def test_tagging_through_feature_layers():
    cfg = TaggerConfig(feature_layer="bilstm")
    a = DeterministicTagger(cfg).tag_batch(TEXTS)
    b = DeterministicTagger(cfg).tag_batch(TEXTS)
    assert a == b
    for text, spans in zip(TEXTS, a):
        for m, s, _ in spans:
            assert text[s : s + len(m)] == m
    # gazetteer prior still dominates -> multi-word mentions found
    got = {(m, t) for m, _, t in a[0]}
    assert ("table scan", "PRO") in got
    # "none" is the default family
    plain = DeterministicTagger().tag_batch(TEXTS)
    assert plain == DeterministicTagger(TaggerConfig(feature_layer="none")).tag_batch(TEXTS)
