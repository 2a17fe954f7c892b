"""Sentence cutting + span offset rebase (pure functions).

Semantics of `utils/cutSentences.py:4-84` in the reference: a two-tier
regex split (。！？? then ；;) followed by a greedy re-merge so every cut is
at most ``max_seq_len - 2`` chars while ``''.join(cuts) == text`` holds, and
a label-offset reprojection into cut-local coordinates that silently drops
spans whose text no longer matches and raises on spans crossing a cut.
"""

from __future__ import annotations

import re

_TIER1 = (
    (re.compile(r"([。！？\?])([^”’])"), r"\1\n\2"),   # single-char enders
    (re.compile(r"(\.{6})([^”’])"), r"\1\n\2"),        # english ellipsis
    (re.compile(r"(\…{2})([^”’])"), r"\1\n\2"),        # chinese ellipsis
    (re.compile(r"([。！？\?][”’])([^，。！？\?])"), r"\1\n\2"),  # quote-closed
)
_TIER2 = (re.compile(r"([；;])([^”’])"), r"\1\n\2")


def _apply(rules, sent: str) -> list[str]:
    for pat, repl in rules:
        sent = pat.sub(repl, sent)
    return sent.split("\n")


def cut_sentences_tier1(sent: str) -> list[str]:
    """First-rank split on sentence-final punctuation (`cutSentences.py:4-13`)."""
    return _apply(_TIER1, sent)


def cut_sentences_tier2(sent: str) -> list[str]:
    """Second-rank split on ；; (`cutSentences.py:16-21`)."""
    return _apply((_TIER2,), sent)


def cut_sent_for_bert(text: str, max_seq_len: int) -> list[str]:
    """Fine-grained split then greedy repack to <= max_seq_len - 2
    (`cutSentences.py:24-58`).  Invariant: ``''.join(result) == text``."""
    pieces: list[str] = []
    for s1 in cut_sentences_tier1(text):
        if len(s1) > max_seq_len - 2:
            pieces.extend(cut_sentences_tier2(s1))
        else:
            pieces.append(s1)
    assert "".join(pieces) == text

    merged: list[str] = []
    i = 0
    while i < len(pieces):
        acc = pieces[i]
        j = i + 1
        while j < len(pieces) and len(acc) + len(pieces[j]) <= max_seq_len - 2:
            acc += pieces[j]
            j += 1
        merged.append(acc)
        i = j
    return merged


def refactor_labels(sent: str, labels: list, start_index: int) -> list[tuple]:
    """Rebase doc-level spans into cut-local offsets (`cutSentences.py:61-84`).

    ``labels`` rows are mid_data-shaped: (span_id, type, start, end, mention)
    with ``end`` exclusive.  Spans fully inside [start_index, end] are kept
    as (type, mention, new_offset); spans whose text mismatches after rebase
    are dropped; spans crossing the cut boundary raise (the reference treats
    that as a preprocessing bug)."""
    out: list[tuple] = []
    end_index = start_index + len(sent)
    for lab in labels:
        _, etype, s, e, mention = lab[0], lab[1], lab[2], lab[3], lab[-1]
        if start_index <= s <= e <= end_index:
            off = s - start_index
            if sent[off : off + len(mention)] != mention:
                continue
            out.append((etype, mention, off))
        elif s < end_index < e:
            raise RuntimeError(f"span crosses cut boundary: {sent!r}, {lab!r}")
    return out
