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


def adjacent_pairs(
    entities: list[Span],
    text: str,
    object_types: tuple[str, ...] = GDCQ_OBJECT_TYPES,
    separators: tuple[str, ...] = SEPARATORS,
) -> tuple[list[Span], list[tuple[str, str]]]:
    """Returns (leftover_entities, relations) with the reference's exact
    semantics, generalized over the object-type set."""
    if len(entities) <= 1:
        return entities, []
    relations: list[tuple[str, str]] = []
    consumed: list[Span] = []
    for i in range(len(entities) - 1):
        left, right = entities[i], entities[i + 1]
        if left[-1] not in object_types and right[-1] in object_types:
            between = text[left[1] + len(left[0]) : right[1]]
            if not any(sep in between for sep in separators):
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
        between = text[start + len(mention) : nxt]
        if not any(sep in between for sep in SEPARATORS):
            out[i] = nxt
    return out


def adjacent_triples(
    entities: list[Span],
    text: str,
    object_types: tuple[str, ...],
    pred: str = "has_attribute",
    separators: tuple[str, ...] = SEPARATORS,
) -> list[tuple[str, str, str, int]]:
    """(subj, pred, obj, subj_start) triples from the same pair rule —
    the KG-facing generalization used by the relations operator."""
    triples = []
    for i in range(len(entities) - 1):
        left, right = entities[i], entities[i + 1]
        if left[-1] not in object_types and right[-1] in object_types:
            between = text[left[1] + len(left[0]) : right[1]]
            if not any(sep in between for sep in separators):
                triples.append((left[0], pred, right[0], left[1]))
    return triples
