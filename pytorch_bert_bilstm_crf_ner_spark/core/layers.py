"""Numpy BiLSTM feature layer mirroring the reference's model variant
(M2, `bert_ner_model.py:216-217, 264-271`): one forward and one backward
LSTM pass over the batch, concatenated to ``2*hidden``.

Deterministic (seeded uniform init, like the torch defaults in spirit),
vectorized over the batch — the only python loop is over the sequence
axis for the LSTM recurrence, exactly like TorchScript would unroll it.
It plugs between the embedding and the linear classifier in
``DeterministicTagger`` so the engine exercises the reference's
bilstm_crf model family end-to-end without torch.
"""

from __future__ import annotations

import numpy as np


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


class NumpyBiLSTM:
    def __init__(self, input_dim: int, hidden: int, seed: int) -> None:
        rng = np.random.RandomState(seed)
        k = 1.0 / np.sqrt(hidden)
        # gates packed i|f|g|o, one weight set per direction
        self.w_ih = rng.uniform(-k, k, (2, 4 * hidden, input_dim)).astype(np.float32)
        self.w_hh = rng.uniform(-k, k, (2, 4 * hidden, hidden)).astype(np.float32)
        self.bias = rng.uniform(-k, k, (2, 4 * hidden)).astype(np.float32)
        self.hidden = hidden
        self.out_dim = 2 * hidden

    def _direction(self, x: np.ndarray, d: int) -> np.ndarray:
        B, L, _ = x.shape
        H = self.hidden
        h = np.zeros((B, H), dtype=np.float32)
        c = np.zeros((B, H), dtype=np.float32)
        out = np.zeros((B, L, H), dtype=np.float32)
        steps = range(L) if d == 0 else range(L - 1, -1, -1)
        w_ih, w_hh, b = self.w_ih[d], self.w_hh[d], self.bias[d]
        for t in steps:
            gates = x[:, t, :] @ w_ih.T + h @ w_hh.T + b
            i = _sigmoid(gates[:, :H])
            f = _sigmoid(gates[:, H : 2 * H])
            g = np.tanh(gates[:, 2 * H : 3 * H])
            o = _sigmoid(gates[:, 3 * H :])
            c = f * c + i * g
            h = o * np.tanh(c)
            out[:, t, :] = h
        return out

    def __call__(self, x: np.ndarray) -> np.ndarray:
        return np.concatenate(
            [self._direction(x, 0), self._direction(x, 1)], axis=2
        )
