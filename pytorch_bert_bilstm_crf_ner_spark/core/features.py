"""Training-feature encoding — the reference's offline ETL (E1):
``convert_bert_example`` (`preprocess.py:75-162`) re-expressed as a pure
function: char tokenize (P4) -> BIOES label-id encode (P7, with the +1
CLS shift and O padding of `preprocess.py:100-129`) -> fixed-length id
arrays (P6's encode_plus shape: [CLS] text [SEP] PAD...).

The reference uses the BERT wordpiece vocab; this engine's deterministic
path uses the same hashed char vocab as the tagger with reserved ids
(0=PAD, 1=CLS, 2=SEP; chars offset by 3) — the array SHAPES and label
semantics (what the 100 TB training-data pipeline must get right) are
identical, and a real-BERT run swaps only the id lookup.
"""

from __future__ import annotations

from .cut import cut_sent_for_bert, refactor_labels
from .tags import CHAR_VOCAB_SIZE, ENT2ID

PAD_ID, CLS_ID, SEP_ID = 0, 1, 2
CHAR_OFFSET = 3


def encode_example(text: str, labels: list[tuple[str, str, int]],
                   max_seq_len: int) -> dict:
    """One (sentence, labels) -> fixed-length feature row.

    ``labels`` rows are (type, mention, start) — the InputExample shape
    (`preprocess.py:11-15`).  Faithful details: char tokens must satisfy
    len(tokens) == len(text) (`preprocess.py:94`); label ids are S- for
    single chars else B- I-* E- (`preprocess.py:104-112`); everything is
    shifted +1 for [CLS] and padded with O to max_seq_len
    (`preprocess.py:113-129`); text longer than max_seq_len - 2 is
    truncated like encode_plus(truncation=True).
    """
    L = max_seq_len
    body = L - 2
    # each "token" is exactly one char, so the sliced STRING serves as the
    # token sequence (len/iteration/indexing all behave identically to
    # list(text)[:body]) — no per-row list alloc
    tokens = text[:body]

    label_ids = [0] * len(tokens)
    for etype, mention, start in labels:
        n = len(mention)
        if start >= len(tokens):
            continue
        if n == 1:
            label_ids[start] = ENT2ID[f"S-{etype}"]
        else:
            end = start + n - 1
            if end >= len(tokens):
                continue  # truncated away, like the reference's cut+encode
            label_ids[start] = ENT2ID[f"B-{etype}"]
            for k in range(start + 1, end):
                label_ids[k] = ENT2ID[f"I-{etype}"]
            label_ids[end] = ENT2ID[f"E-{etype}"]

    body_ids = [
        CHAR_OFFSET + (ord(c) % (CHAR_VOCAB_SIZE - CHAR_OFFSET)) for c in tokens
    ]
    token_ids = [CLS_ID] + body_ids + [SEP_ID]
    attention = [1] * len(token_ids)
    label_ids = [0] + label_ids + [0]  # CLS/SEP positions are O
    pad = L - len(token_ids)
    token_ids += [PAD_ID] * pad
    attention += [0] * pad
    label_ids += [0] * pad
    assert len(token_ids) == len(attention) == len(label_ids) == L
    return {
        "token_ids": token_ids,
        "attention_mask": attention,
        "token_type_ids": [0] * L,
        "label_ids": label_ids,
    }


def examples_from_document(text: str, mid_labels: list, max_seq_len: int):
    """Document -> sentence-cut examples with rebased labels — the
    ``get_examples`` flow (`preprocess.py:47-72`): cut_sent_for_bert +
    refactor_labels, yielding (cut_text, [(type, mention, start)], cut_idx,
    cut_start)."""
    start_index = 0
    for cut_idx, sent in enumerate(cut_sent_for_bert(text, max_seq_len)):
        labels = refactor_labels(sent, mid_labels, start_index)
        yield sent, labels, cut_idx, start_index
        start_index += len(sent)
