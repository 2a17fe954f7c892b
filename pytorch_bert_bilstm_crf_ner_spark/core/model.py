"""Deterministic fixed-weight tagger (test/bench path, no model download).

Shape mirrors the reference's embedding-only model variant
(``NormalNerModel``, `bert_ner_model.py:87-194`): char-id embedding ->
linear tag logits -> CRF Viterbi decode -> BIOES span FSM.  CRF parameters
are initialized uniform(-0.1, 0.1) exactly like `layers/CRF.py:45-52`
(order: start_transitions, end_transitions, transitions) from a pinned
seed, so the Spark UDF and the single-process parity oracle decode
identically — the P/R >= 0.95 gate is exact by construction.

A gazetteer prior is added to the emissions (high score on the BIOES tags
of dictionary-mention spans) so the decoded mentions are meaningful inputs
for the downstream linking/canonicalization/relations stages, standing in
for a trained encoder.  Char tokenization keeps the reference's invariant
``len(tokens) == len(text)`` (`preprocess.py:92-94`), so label offsets are
char offsets.

A real-BERT path would swap :meth:`DeterministicTagger.emissions` for a
broadcast-weight transformers forward inside the same Arrow-batched UDF;
everything downstream (Viterbi, FSM, offsets) is unchanged.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from .cut import cut_sent_for_bert
from .decode import Span, bioes_decode_flat
from .tags import CHAR_VOCAB_SIZE, MAX_SEQ_LEN, build_tag_vocab, invert_vocab
from .viterbi import viterbi_decode_batch

SEED = 20221           # every seeded weight draws from this RandomState
EMB_DIM = 32
NOISE_SCALE = 0.5      # amplitude of the random emission part
O_BIAS = 1.0           # prior toward O off-dictionary
BOOST = 8.0            # gazetteer prior strength
FEATURE_HIDDEN = 16    # hidden width of the bilstm feature layer

# Aliases drawn from the synthetic corpus vocabulary; multi-word aliases
# exercise multi-char B/I...E spans (incl. the space chars as I- tags).
GAZETTEER: tuple[tuple[str, str], ...] = (
    ("hash join", "PRO"),
    ("table scan", "PRO"),
    ("order key", "ORG"),
    ("small window", "LOC"),
    ("spark", "ORG"),
    ("stream", "ORG"),
    ("customer", "NAME"),
    ("vector", "NAME"),
    ("hash", "PRO"),
    ("merge", "PRO"),
    ("window", "LOC"),
    ("line", "LOC"),
    ("query", "TITLE"),
    ("filter", "TITLE"),
    ("batch", "EDU"),
    ("sort", "EDU"),
    ("key", "RACE"),
    ("agg", "CONT"),
)


@dataclass(frozen=True)
class TaggerConfig:
    scheme: str = "BIOES"        # or "BIO" (D3 decode path)
    feature_layer: str = "none"  # "bilstm" (M2) / "none" (M5)


class DeterministicTagger:
    """Seeded weights; stateless after construction; picklable by closure
    (reconstructed per executor python worker from the small config)."""

    def __init__(self, cfg: TaggerConfig | None = None) -> None:
        self.cfg = cfg or TaggerConfig()
        c = self.cfg
        self.ent2id = build_tag_vocab(c.scheme)
        self.id2ent = invert_vocab(self.ent2id)
        self.num_tags = len(self.ent2id)
        rng = np.random.RandomState(SEED)
        self.embedding = rng.uniform(
            -0.5, 0.5, (CHAR_VOCAB_SIZE, EMB_DIM)).astype(np.float32)
        # optional feature layer between embedding and classifier — the
        # reference's bilstm_crf model family (M2)
        self.feature = None
        feat_dim = EMB_DIM
        if c.feature_layer == "bilstm":
            from .layers import NumpyBiLSTM

            self.feature = NumpyBiLSTM(EMB_DIM, FEATURE_HIDDEN, SEED + 1)
            feat_dim = self.feature.out_dim
        self.linear_w = rng.uniform(
            -0.5, 0.5, (feat_dim, self.num_tags)).astype(np.float32)
        self.linear_b = rng.uniform(-0.1, 0.1, self.num_tags).astype(np.float32)
        # CRF init order exactly as layers/CRF.py:50-52
        self.start_transitions = rng.uniform(-0.1, 0.1, self.num_tags).astype(np.float32)
        self.end_transitions = rng.uniform(-0.1, 0.1, self.num_tags).astype(np.float32)
        self.transitions = rng.uniform(
            -0.1, 0.1, (self.num_tags, self.num_tags)).astype(np.float32)
        # longest-alternative-first so the regex picks the longest match
        alts = sorted((a for a, _ in GAZETTEER), key=len, reverse=True)
        self._gaz_re = re.compile(
            r"(?<![a-z0-9])(" + "|".join(re.escape(a) for a in alts) + r")(?![a-z0-9])"
        )
        self._gaz_type = dict(GAZETTEER)
        # cache slot for the whole-vocab emission table (see _char_table)
        self._char_em_cache: tuple[bytes, np.ndarray] | None = None

    def _classify(self, h: np.ndarray) -> np.ndarray:
        """The tag classifier, shared by the flat and padded paths."""
        return h @ self.linear_w + self.linear_b

    def _char_table(self) -> np.ndarray:
        """Whole-vocab pre-gazetteer emission table for the feature-None
        family: ONE fixed-shape (vocab, emb)@(emb, T) GEMM, then a pure
        row gather per batch.  Besides dropping a GEMM from every batch,
        the fixed shape makes each char's emission vector bit-identical
        regardless of batch size/content (BLAS kernel selection varies
        with the M dimension) — the SQL Viterbi twin
        (`plans/viterbi_twin.py`) inlines rows of THIS table as literals
        and relies on that invariance.

        The cache is keyed on a digest of the weights it derives from, so
        in-place weight updates (checkpoint load, test mutation through
        `state_dict` views) are always reflected — the digest costs
        ~0.5 ms against a whole Arrow batch of model work."""
        import hashlib

        h = hashlib.md5(self.embedding.tobytes())
        h.update(self.linear_w.tobytes())
        h.update(self.linear_b.tobytes())
        key = h.digest()
        if self._char_em_cache is None or self._char_em_cache[0] != key:
            tbl = (
                NOISE_SCALE * np.tanh(self._classify(self.embedding))
            ).astype(np.float32)
            tbl[:, 0] += np.float32(O_BIAS)  # a+b == b+a bitwise in IEEE
            self._char_em_cache = (key, tbl)
        return self._char_em_cache[1]

    # ------------------------------------------------------------------ #

    def _piece_pos(self, text: str) -> list[tuple[str, int]]:
        """Cut to <= MAX_SEQ_LEN - 2 chars: reference tiered sentence cut
        first (`cutSentences.py:24-58`), then hard char-chunking of the
        pieces still over the limit, so ``"".join`` of the pieces is
        ``text``.  Each piece is returned with its start offset in
        ``text``."""
        limit = MAX_SEQ_LEN - 2
        pieces: list[tuple[str, int]] = []
        pos0 = 0
        for p in cut_sent_for_bert(text, MAX_SEQ_LEN):
            if len(p) <= limit:
                pieces.append((p, pos0))
            else:
                pieces.extend(
                    (p[i : i + limit], pos0 + i)
                    for i in range(0, len(p), limit)
                )
            pos0 += len(p)
        return pieces

    def emissions(self, texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized over the batch: one embedding gather + one matmul for
        all chars of all rows, then the gazetteer prior per row."""
        c = self.cfg
        lengths = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
        if np.any(lengths == 0):
            raise ValueError("empty text reached the tagger; filter upstream")
        flat = "".join(texts)
        ids = np.frombuffer(flat.encode("utf-32-le"), dtype=np.uint32) % CHAR_VOCAB_SIZE
        B, Lmax = len(texts), int(lengths.max())
        offsets = np.concatenate(([0], np.cumsum(lengths)))
        char_tbl = self._char_table() if self.feature is None else None
        if self.feature is not None:
            # M2 path: padded (B, Lmax, D) through the feature layer
            emb = np.zeros((B, Lmax, EMB_DIM), dtype=np.float32)
            for b in range(B):
                L = lengths[b]
                emb[b, :L] = self.embedding[ids[offsets[b] : offsets[b] + L]]
            feats = self.feature(emb)
            logits_pad = self._classify(feats)
        em = np.zeros((B, Lmax, self.num_tags), dtype=np.float32)
        em[:, :, 0] = O_BIAS
        for b, text in enumerate(texts):
            L = lengths[b]
            if self.feature is None:
                # fast path (M5): pure gather from the whole-vocab table
                # (o_bias already folded into column 0)
                em[b, :L, :] = char_tbl[ids[offsets[b] : offsets[b] + L]]
            else:
                em[b, :L, :] += (
                    NOISE_SCALE * np.tanh(logits_pad[b, :L])
                ).astype(np.float32)
            for m in self._gaz_re.finditer(text):
                s, e = m.start(), m.end()
                etype = self._gaz_type[m.group(1)]
                if c.scheme == "BIO":
                    em[b, s, self.ent2id[f"B-{etype}"]] += BOOST
                    if e - s > 1:
                        em[b, s + 1 : e, self.ent2id[f"I-{etype}"]] += BOOST
                elif e - s == 1:
                    em[b, s, self.ent2id[f"S-{etype}"]] += BOOST
                else:
                    em[b, s, self.ent2id[f"B-{etype}"]] += BOOST
                    em[b, s + 1 : e - 1, self.ent2id[f"I-{etype}"]] += BOOST
                    em[b, e - 1, self.ent2id[f"E-{etype}"]] += BOOST
        return em, lengths

    def tag_ids(self, texts: list[str]) -> list[list[int]]:
        em, lengths = self.emissions(texts)
        return viterbi_decode_batch(
            em, lengths, self.start_transitions, self.transitions, self.end_transitions
        )

    def tag_batch(self, texts: list[str]) -> list[list[Span]]:
        """Tag a batch of turn texts -> per-turn [(mention, start, type)].

        Long texts are cut (reference `predict.py:12-53` batch shape), each
        piece decoded, and piece-local offsets rebased to the piece's TRUE
        start in the original turn text (`_piece_pos`), so downstream
        (start, mention) joins and slices always line up.  All pieces of
        all rows go through ONE Viterbi batch.
        """
        pieces: list[str] = []
        owner: list[tuple[int, int]] = []  # (row, piece char start in row text)
        for b, text in enumerate(texts):
            if not text:
                continue
            for p, start in self._piece_pos(text):
                if p:
                    pieces.append(p)
                    owner.append((b, start))
        out: list[list[Span]] = [[] for _ in texts]
        if not pieces:
            return out
        tag_seqs = self.tag_ids(pieces)
        for (b, base), piece, seq in zip(owner, pieces, tag_seqs):
            for mention, start, etype in self._decode(seq, piece):
                out[b].append((mention, base + start, etype))
        return out

    def _decode(self, seq: list[int], piece: str) -> list[Span]:
        if self.cfg.scheme == "BIO":
            # D3 chunk extraction over tag strings (`decodeUtils.py:5-98`),
            # reference quirks preserved (inclusive-end slice)
            from .decode import bio_get_entities

            tags = [self.id2ent[t] for t in seq]
            return [
                (m, s, t) for m, s, t in bio_get_entities(tags, piece) if t
            ]
        return bioes_decode_flat(seq, piece, self.id2ent)
