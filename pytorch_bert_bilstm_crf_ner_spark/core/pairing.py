"""Adjacent-mention relation pairing.

Reference rule (`predict_gdcq.py:97-120` ``post_process``): scan mentions
sorted by offset; for each consecutive pair (i, i+1), if type(i) is NOT an
object/opinion type and type(i+1) IS, and the text strictly between them
contains no sentence punctuation, emit a relation (subj+obj concatenated,
obj_type).  Multi-subject -> one-object and one-subject -> multi-object
both fall out of the per-pair iteration.  Entities consumed by a relation
are removed from the leftover list (set difference by value).
"""

from __future__ import annotations

Span = tuple[str, int, str]  # (mention, start, type)

# reference `predict_gdcq.py:96` — gdcq opinion polarity types
GDCQ_OBJECT_TYPES = ("正面", "中性", "负面")
SEPARATORS = ("，", ",", "。", "！", "!", "？", "?")
# every separator is one character, so "no separator in the gap" is one
# set-disjointness test over the gap's characters
_SEPARATOR_SET = frozenset(SEPARATORS)

# The pipeline's relation rule, read by `operators/relations.py`,
# `core/oracle.py` and their SQL twins: a non-object span followed by an
# object span is ``ADJACENT_PRED``; linked spans up to ``COOCCUR_WINDOW``
# turns ahead (inclusive) are ``COOCCUR_PRED``.
ADJACENT_OBJECT_TYPES = ("TITLE", "EDU")
ADJACENT_PRED = "has_attribute"
COOCCUR_PRED = "co_occurs_with"
COOCCUR_WINDOW = 2


def adjacent_pairs(
    entities: list[Span], text: str
) -> tuple[list[Span], list[tuple[str, str]]]:
    """Returns (leftover_entities, relations) with the reference's exact
    semantics, generalized over the object-type set."""
    if len(entities) <= 1:
        return entities, []
    relations: list[tuple[str, str]] = []
    consumed: list[Span] = []
    for i in range(len(entities) - 1):
        left, right = entities[i], entities[i + 1]
        if left[-1] not in GDCQ_OBJECT_TYPES and right[-1] in GDCQ_OBJECT_TYPES:
            between = text[left[1] + len(left[0]) : right[1]]
            if _SEPARATOR_SET.isdisjoint(between):
                relations.append((left[0] + right[0], right[-1]))
                consumed.append(left)
                consumed.append(right)
    leftover = [e for e in entities if e not in consumed]
    return leftover, relations


def adjacent_starts(spans: list[Span], text: str) -> list[int | None]:
    """Per span (in the given order), the start of the turn's next span by
    start when no separator lies strictly between this span's end and that
    start, else None — the text half of the pair rule, so the type half
    and the linking can be checked without the turn text."""
    order = sorted(range(len(spans)), key=lambda i: spans[i][1])
    out: list[int | None] = [None] * len(spans)
    for i, j in zip(order, order[1:]):
        mention, start, _ = spans[i]
        nxt = spans[j][1]
        if _SEPARATOR_SET.isdisjoint(text[start + len(mention) : nxt]):
            out[i] = nxt
    return out
