"""Batched, mask-aware linear-chain CRF Viterbi decode in numpy.

Re-implements the max-product dynamic program of the reference's CRF layer
(`layers/CRF.py:243-308`: ``viterbi_compute_score`` + backtrace in
``viterbi_path_generation``; runtime path uses pip ``torchcrf`` with an
attention mask, see `bert_ner_model.py:281`).  The whole Arrow batch is
decoded with (batch, tags, tags) broadcasting — no per-row Python in the
forward DP; the backtrace is vectorized across the batch per time step.

Tie-breaking: ``np.argmax`` takes the FIRST maximal index; the same
convention is used by both the Spark UDF and the single-process parity
oracle, so decodes are identical at any parallelism.
"""

from __future__ import annotations

import numpy as np


def viterbi_decode_batch(
    emissions: np.ndarray,
    lengths: np.ndarray,
    start_transitions: np.ndarray,
    transitions: np.ndarray,
    end_transitions: np.ndarray,
) -> list[list[int]]:
    """Decode a padded batch.

    Parameters
    ----------
    emissions : float32 array of shape (B, Lmax, T)
        Per-token tag scores; rows padded beyond ``lengths`` are ignored.
    lengths : int array of shape (B,), every entry >= 1
    start_transitions, end_transitions : (T,)
    transitions : (T, T); ``transitions[i, j]`` scores tag i -> tag j.

    Returns
    -------
    list of per-row best tag-id paths (python ints), row b has
    ``lengths[b]`` entries.
    """
    # The DP runs in float32 — the UDF's hot loop, and float64 costs
    # ~50% more wall (2x memory traffic on the (B, T, T) candidate
    # tensor).  Cross-engine contract with the kg_mentions DuckDB twin
    # (`plans/viterbi_twin.py`): the twin SIMULATES these float32 adds
    # exactly with one CAST(... AS REAL) per addition.  Why that is
    # bit-correct: computing a float32 op in float64 and then rounding to
    # float32 ("double rounding") is innocuous whenever the intermediate
    # precision is >= 2p+2 bits (Figueroa 1995) — for a single float32
    # ADDITION, 53 >= 2*24+2 = 50, so the REAL cast of the double sum IS
    # the IEEE single addition.  The bound holds per BINARY operation
    # only: fusing two adds into one three-operand double sum before the
    # cast is NOT covered and can mis-round.  Keep every DP expression a
    # chain of BINARY adds in a fixed order ((score + trans) + emission),
    # one REAL cast per add, or the twin desyncs.
    emissions = np.asarray(emissions, dtype=np.float32)
    start_transitions = np.asarray(start_transitions, dtype=np.float32)
    transitions = np.asarray(transitions, dtype=np.float32)
    end_transitions = np.asarray(end_transitions, dtype=np.float32)
    lengths = np.asarray(lengths, dtype=np.int64)
    B, Lmax, T = emissions.shape
    if np.any(lengths < 1) or np.any(lengths > Lmax):
        raise ValueError("lengths must be in [1, Lmax]")

    # Forward DP — score[b, j] = best score of any path over the first i+1
    # valid tokens of row b ending in tag j.
    #
    # Layout: the candidate tensor is built TRANSPOSED as
    # (B, T_cur, T_prev) so both the argmax and the max reduce over the
    # CONTIGUOUS last axis (the strided middle-axis argmax was ~45% of
    # the whole decode), into a preallocated buffer (no per-step temps).
    # Bit-exactness is untouched: cand[b, j, i] is built by the identical
    # two float32 binary adds (score[b, i] + trans[i, j]) + em[b, i, j],
    # np.argmax still takes the FIRST maximal index over i, and np.max
    # returns the value AT that index (same bits) — replacing the old
    # take_along_axis gather.
    score = start_transitions[None, :] + emissions[:, 0, :]
    history = np.zeros((B, Lmax, T), dtype=np.int32)
    trans_t = np.ascontiguousarray(transitions.T)[None, :, :]  # [1, j, i]
    cand = np.empty((B, T, T), dtype=np.float32)               # [b, j, i]
    for i in range(1, Lmax):
        live = lengths > i
        if not live.any():
            break
        np.add(score[:, None, :], trans_t, out=cand)
        np.add(cand, emissions[:, i, :, None], out=cand)
        best_prev = np.argmax(cand, axis=2)                    # (B, T)
        # gather the value AT the argmax (same bits as a max reduce, ~5x
        # cheaper than re-reducing the whole (B, T, T) tensor)
        new_score = np.take_along_axis(
            cand, best_prev[:, :, None], axis=2
        )[:, :, 0]
        score = np.where(live[:, None], new_score, score)
        history[:, i, :] = best_prev

    score = score + end_transitions[None, :]
    last_tag = np.argmax(score, axis=1).astype(np.int64)  # (B,)

    # Backtrace, vectorized across the batch: walk time steps from the end;
    # a row only participates while i <= its last valid index.
    tags = np.zeros((B, Lmax), dtype=np.int64)
    rows = np.arange(B)
    tags[rows, lengths - 1] = last_tag
    cur = last_tag.copy()
    for i in range(Lmax - 1, 0, -1):
        stepping = i <= lengths - 1
        prev = history[rows, i, cur]
        cur = np.where(stepping, prev, cur)
        if stepping.any():
            tags[stepping, i - 1] = cur[stepping]

    return [tags[b, : lengths[b]].tolist() for b in range(B)]
