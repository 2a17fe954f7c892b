"""Vocabularies: BIOES / BIO tag <-> id maps and the char-hash size.

Mirrors the reference's tag-vocabulary construction:
- entity types: `data/cner/mid_data/labels.json` (8 cner types)
- BIOES map: `data/cner/raw_data/process.py:102-117` — ``O`` is id 0, then
  ``B-/I-/E-/S-`` per type in labels order (33 tags for cner).
"""

from __future__ import annotations

# reference data/cner/mid_data/labels.json
CNER_TYPES: tuple[str, ...] = (
    "PRO", "ORG", "CONT", "RACE", "NAME", "EDU", "LOC", "TITLE",
)

BIOES_PREFIXES = ("B", "I", "E", "S")
BIO_PREFIXES = ("B", "I")

# char codepoint hash buckets, read by the tagger's embedding and the
# training-feature encoder
CHAR_VOCAB_SIZE = 4099
# model input length in tokens, [CLS] and [SEP] included: the tagger cuts
# turns to MAX_SEQ_LEN - 2 chars and the feature encoder pads to it
MAX_SEQ_LEN = 128


def build_tag_vocab(scheme: str = "BIOES") -> dict[str, int]:
    """``O`` -> 0, then per cner type: one tag per scheme prefix, in type
    order.

    BIOES ordering matches `data/cner/mid_data/nor_ent2id.json` exactly.
    """
    prefixes = BIOES_PREFIXES if scheme == "BIOES" else BIO_PREFIXES
    vocab = {"O": 0}
    for t in CNER_TYPES:
        for p in prefixes:
            vocab[f"{p}-{t}"] = len(vocab)
    return vocab


def invert_vocab(vocab: dict[str, int]) -> dict[int, str]:
    return {v: k for k, v in vocab.items()}


# The BIOES vocabulary used throughout the pipeline.
ENT2ID: dict[str, int] = build_tag_vocab()
ID2ENT: dict[int, str] = invert_vocab(ENT2ID)
