"""Viterbi DP vs exhaustive enumeration, plus mask/batch invariances."""

from __future__ import annotations

import numpy as np

from pytorch_bert_bilstm_crf_ner_spark.core.viterbi import viterbi_decode_batch

from .conftest import viterbi_decode_brute


def _params(rng, T):
    return (
        rng.uniform(-0.1, 0.1, T).astype(np.float32),
        rng.uniform(-0.1, 0.1, (T, T)).astype(np.float32),
        rng.uniform(-0.1, 0.1, T).astype(np.float32),
    )


def test_matches_bruteforce():
    rng = np.random.RandomState(0)
    for _ in range(25):
        T = rng.randint(2, 5)
        L = rng.randint(1, 6)
        start, trans, end = _params(rng, T)
        em = rng.uniform(-1, 1, (1, L, T)).astype(np.float32)
        fast = viterbi_decode_batch(em, np.array([L]), start, trans, end)[0]
        slow = viterbi_decode_brute(em[0], start, trans, end)
        assert fast == slow


def test_batch_equals_row_at_a_time():
    """Padding/masking must not change any row's decode — this is the
    determinism-under-parallelism requirement (same tags at any batch
    grouping)."""
    rng = np.random.RandomState(1)
    T = 7
    start, trans, end = _params(rng, T)
    lengths = np.array([3, 9, 1, 6, 9, 2])
    Lmax = lengths.max()
    em = rng.uniform(-2, 2, (len(lengths), Lmax, T)).astype(np.float32)
    batched = viterbi_decode_batch(em, lengths, start, trans, end)
    for b, L in enumerate(lengths):
        solo = viterbi_decode_batch(
            em[b : b + 1, :L], np.array([L]), start, trans, end
        )[0]
        assert batched[b] == solo


def test_first_max_tiebreak():
    T = 3
    start = np.zeros(T, dtype=np.float32)
    trans = np.zeros((T, T), dtype=np.float32)
    end = np.zeros(T, dtype=np.float32)
    em = np.zeros((1, 4, T), dtype=np.float32)  # all ties
    tags = viterbi_decode_batch(em, np.array([4]), start, trans, end)[0]
    assert tags == [0, 0, 0, 0]
