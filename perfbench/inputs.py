"""Seeded input generators for the benchmark workloads.

Everything is drawn from ``numpy.random.default_rng(seed)``, so one seed
always gives byte-identical parquet files, and the program under test only
ever sees the generated files.

* :func:`write_corpus` writes an ``sf``-style directory (``documents`` and
  ``embeddings`` parquet, the schemas of the repo's sf test-data directories) for the
  registered queries.
* :func:`write_skewed_transcripts` writes a transcripts table
  ``(conv_id, turn_idx, role, text, tool, ts)`` with heavy-tailed
  conversation lengths and hot conversations, for the KG write workload.

Words are drawn from the word distribution of the sf0.1 documents
(``WORD_COUNTS`` below, counted once from that corpus), so dictionary
linking hits about as often as it does on that text.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# word -> occurrences in the sf0.1 documents (5,000 docs, 270,707 words);
# the 'dup' marker only ever ends a near-duplicate document
WORD_COUNTS = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144,
    "column": 9127, "vector": 9119, "stream": 9117, "value": 9112,
    "data": 9104, "small": 9100, "join": 9080, "filter": 9063, "big": 9057,
    "group": 9040, "hash": 9024, "customer": 9017, "sort": 9005,
    "order": 8971, "slow": 8960, "line": 8951, "part": 8929, "fast": 8926,
    "row": 8925, "the": 8925, "agg": 8912, "key": 8893, "query": 8881,
    "a": 8877, "scan": 8863, "batch": 8829,
}
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
DOC_WORDS = (10, 100)        # words per document, uniform inclusive
DUP_SHARE = 0.05             # documents that copy another one + " dup"
TURNS_PER_DOC = 5            # ~ the mean of ceil(words / 12) over DOC_WORDS
EMB_DIM = 64
NEARDUP_SHARE = 0.04         # embeddings that are perturbed copies

WORDS_PER_TURN = 12
HOT_EVERY = 97               # as sources/synth.py: every 97th conversation
HOT_FACTOR = 12              # ... is 12x longer
PARETO_ALPHA = 1.3           # tail index of conversation lengths
MIN_TURNS = 2
MAX_TURNS = 60
ROLES = ("user", "assistant", "tool")
EPOCH = datetime(2024, 1, 1)


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    vocab = np.array(list(WORD_COUNTS))
    p = np.array(list(WORD_COUNTS.values()), dtype=np.float64)
    return vocab[rng.choice(len(vocab), size=n, p=p / p.sum())]


def _doc_lengths(rng: np.random.Generator, n_docs: int, n_turns: int):
    """Words per document, uniform in DOC_WORDS but nudged (12 words at a
    time) until the documents make exactly ``n_turns`` transcript turns, so
    input size does not vary with the seed.  Also returns the near-duplicate
    pairs (doc, source), sources first; a copy is its source + one word."""
    lo, hi = DOC_WORDS
    lengths = rng.integers(lo, hi + 1, size=n_docs)
    dup_at = np.sort(rng.choice(np.arange(1, n_docs), size=int(n_docs * DUP_SHARE),
                                replace=False))
    pairs = [(int(i), int(rng.integers(0, i))) for i in dup_at]
    frozen = {d for pair in pairs for d in pair}
    free = np.array([i for i in range(n_docs) if i not in frozen])
    for i, src in pairs:
        lengths[i] = lengths[src] + 1

    def turns() -> int:
        return int(np.sum(-(-lengths // WORDS_PER_TURN)))

    step = WORDS_PER_TURN
    while (gap := n_turns - turns()) != 0:
        i = free[rng.integers(0, len(free))]
        if gap > 0 and lengths[i] + step <= hi:
            lengths[i] += step
        elif gap < 0 and lengths[i] - step >= lo:
            lengths[i] -= step
    return lengths, pairs


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lengths, pairs = _doc_lengths(rng, n_docs, n_docs * TURNS_PER_DOC)
    words = _words(rng, int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lengths)]
    for i, src in pairs:
        texts[i] = texts[src] + " dup"
    langs = np.array([code for code, _ in LANGS])
    lang_p = np.array([p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.choice(len(langs), n_docs, p=lang_p / lang_p.sum())]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    x = rng.standard_normal((n_vecs, EMB_DIM))
    n_dup = int(n_vecs * NEARDUP_SHARE)
    dup_at = rng.choice(np.arange(1, n_vecs), size=n_dup, replace=False)
    for i in dup_at:
        x[i] = x[int(rng.integers(0, i))] + 0.6 * rng.standard_normal(EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
    })


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """``out_dir``/documents.parquet + embeddings.parquet; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    pq.write_table(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def conversation_lengths(rng: np.random.Generator, n_turns: int) -> list[int]:
    """Heavy-tailed turns per conversation summing to exactly ``n_turns``:
    discrete Pareto lengths, every HOT_EVERY-th conversation HOT_FACTOR x
    longer, the last one cut to fit."""
    lengths: list[int] = []
    total = 0
    while total < n_turns:
        base = int(MIN_TURNS * (1.0 - rng.random()) ** (-1.0 / PARETO_ALPHA))
        n = min(base, MAX_TURNS)
        if len(lengths) % HOT_EVERY == 0:
            n *= HOT_FACTOR
        n = min(n, n_turns - total)
        lengths.append(n)
        total += n
    return lengths


def skewed_transcripts(seed: int, n_turns: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    lengths = conversation_lengths(rng, n_turns)
    # the last turn of each conversation is shorter, as in documents
    # whose word count is not a multiple of the turn size
    n_words = np.full(n_turns, WORDS_PER_TURN)
    last = np.cumsum(lengths) - 1
    n_words[last] = rng.integers(1, WORDS_PER_TURN + 1, size=len(last))
    words = _words(rng, int(n_words.sum()))
    ends = np.cumsum(n_words)
    conv_no = np.repeat(np.arange(len(lengths)), lengths)
    turn_idx = np.concatenate([np.arange(n) for n in lengths])
    roles = [ROLES[k % 3] for k in turn_idx]
    return pa.table({
        "conv_id": pa.array([f"skew_{c:06d}" for c in conv_no]),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles),
        "text": pa.array([" ".join(words[e - n:e]) for e, n in zip(ends, n_words)]),
        "tool": pa.array([f"tool_{c % 4}" if r == "tool" else None
                          for c, r in zip(conv_no, roles)], pa.string()),
        "ts": pa.array(
            np.datetime64(EPOCH, "us")
            + (conv_no * 3600 + turn_idx).astype("timedelta64[s]"),
            pa.timestamp("us"),
        ),
    })


def write_skewed_transcripts(path: str, seed: int, n_turns: int) -> str:
    """Write :func:`skewed_transcripts` as one parquet file; returns path."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(skewed_transcripts(seed, n_turns), path)
    return path
