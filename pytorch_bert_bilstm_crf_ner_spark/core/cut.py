"""Sentence cutting + span offset rebase (pure functions).

Semantics of `utils/cutSentences.py:4-84` in the reference: a two-tier
regex split (。！？? then ；;) followed by a greedy re-merge so every cut is
at most ``max_seq_len - 2`` chars while ``''.join(cuts) == text`` holds, and
a label-offset reprojection into cut-local coordinates that silently drops
spans whose text no longer matches and raises on spans crossing a cut.

The serving/batch-predict path uses a DIFFERENT cutter — the three-tier
`cut.py:24-76` (`predict.py:125`, `scripts/server.py:55`), which adds a
comma split plus a strict-`<` repack, may silently DROP text, and never
asserts the concat invariant.  :func:`cut_sentences_main` ports it quirk
for quirk (parity-tested against the exec'd reference source).
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


_TIER3 = (re.compile(r"([,，])([^”’])"), r"\1\n\2")


def _apply_pos(rules, sent: str, base: int) -> list[tuple[str, int]]:
    """Like :func:`_apply`, but each split piece carries its TRUE start
    offset in the original string (``base`` + position in ``sent``).

    Sound because the substitutions only INSERT newline separators — every
    piece is a contiguous run of original characters in order.  An
    original ``\\n`` in ``sent`` always acts as a separator (pieces never
    contain one), and matching it against the earliest gap where
    ``sent[pos] == '\\n'`` is exact: the next piece cannot start ON a
    newline, and no characters are ever dropped or reordered."""
    cur = sent
    for pat, repl in rules:
        cur = pat.sub(repl, cur)
    parts = cur.split("\n")
    out: list[tuple[str, int]] = []
    pos = 0
    for i, piece in enumerate(parts):
        out.append((piece, base + pos))
        pos += len(piece)
        if i < len(parts) - 1 and pos < len(sent) and sent[pos] == "\n":
            pos += 1  # this separator was an original newline
    return out


def cut_sentences_main(text: str, max_seq_len: int) -> list[str]:
    """Three-tier serving cut — faithful port of `cut.py:30-76`, the cutter
    used by `predict.py:125` / `scripts/server.py:55` (callers pass their
    model's ``max_seq_len - 2`` as ``max_seq_len``).

    Deliberately preserved reference quirks:

    - short-circuit: ``len(text) <= max_seq_len`` returns ``[text]`` whole;
    - tier-2 applies when a tier-1 piece is ``> max_seq_len`` (no ``- 2``);
    - the comma repack uses STRICT ``length + len(piece) < max_seq_len``;
    - when the repack buffer is empty and the next comma piece alone
      already fails the strict test, that piece is silently DROPPED (the
      ``tmp = [piece]`` reset lives inside ``if "".join(tmp) != ""``) — so
      ``''.join(result)`` may lose text and no assert fires;
    - a flushed buffer seeded with an overlong piece IS emitted, so output
      pieces can exceed ``max_seq_len``;
    - whitespace-only pieces are filtered from the final result.

    Implemented as a projection of :func:`cut_sentences_main_with_pos`
    (one source of truth for the quirky control flow).
    """
    return [p for p, _ in cut_sentences_main_with_pos(text, max_seq_len)]


def cut_sentences_main_with_pos(
    text: str, max_seq_len: int
) -> list[tuple[str, int]]:
    """:func:`cut_sentences_main` with each emitted piece's TRUE start
    offset in ``text`` (round-4 VERDICT #5): after a silent drop, later
    pieces keep their original positions, so mention offsets rebased with
    these starts stay join-safe against the raw turn text —
    ``text[start : start + len(piece)] == piece`` holds for every emitted
    piece (the repack only concatenates CONTIGUOUS comma chunks; a
    newline-free input is guaranteed by the upstream two-tier cutter's
    concat assert)."""
    if len(text) <= max_seq_len:
        return [(text, 0)]

    sentences: list[tuple[str, int]] = []
    for s1, p1 in _apply_pos(_TIER1, text, 0):
        if len(s1) > max_seq_len:
            sentences.extend(_apply_pos((_TIER2,), s1, p1))
        else:
            sentences.append((s1, p1))

    res: list[tuple[str, int]] = []
    for sent, ps in sentences:
        if len(sent) > max_seq_len:
            tmp: list[str] = []
            tmp_start = ps
            length = 0
            for piece, pp in _apply_pos((_TIER3,), sent, ps):
                if length + len(piece) < max_seq_len:
                    if "".join(tmp) == "":
                        # no content yet: the emitted string starts here
                        tmp_start = pp
                    tmp.append(piece)
                    length += len(piece)
                elif "".join(tmp) != "":
                    res.append(("".join(tmp), tmp_start))
                    tmp = [piece]
                    length = len(piece)
                    tmp_start = pp
                # else: buffer empty and piece alone too long -> DROPPED
            if "".join(tmp) != "":
                res.append(("".join(tmp), tmp_start))
        else:
            res.append((sent, ps))
    return [(p, s) for p, s in res if p.strip() != ""]


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
