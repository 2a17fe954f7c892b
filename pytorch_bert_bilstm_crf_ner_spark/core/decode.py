"""BIOES / BIO span decoding — bit-exact re-implementation of the
reference FSMs.

- Flat-list BIOES decode mirrors `predict_gdcq.py:12-57` (grouped by
  type, its output is the dict form `utils/decodeUtils.py:100-152`
  returns).  Faithfully preserved quirks:
  * tag id 0 is looked up through ``id2ent[1]`` (`utils/decodeUtils.py:107-110`),
    so an ``O`` token behaves like the tag with id 1 (e.g. ``B-PRO``);
  * a ``B-`` span whose matching ``E-`` never arrives is silently dropped
    (`utils/decodeUtils.py:146-148`);
  * a type switch mid-span aborts the span.
- BIO chunk extraction mirrors ``get_entities`` +
  ``start_of_chunk``/``end_of_chunk`` (`utils/decodeUtils.py:5-98`), which
  operates on tag *strings* and also supports BIOES input.

The CLS strip the reference applies before decoding
(``pred[1:1+len(text)]``, `main.py:104,150`) is the caller's concern: these
functions expect exactly ``len(text)`` tag ids.
"""

from __future__ import annotations

import functools

Span = tuple[str, int, str]  # (mention, start, type)


def _resolve(tag_id: int, id2ent: dict[int, str]) -> tuple[str, str]:
    """(prefix_char, type) for a tag id, with the id-0 -> id2ent[1] quirk."""
    label = id2ent[1] if tag_id == 0 else id2ent[tag_id]
    prefix, _, etype = label.partition("-")
    return prefix, etype


@functools.lru_cache(maxsize=64)
def _resolve_table(id2ent_items: tuple) -> dict:
    """tag_id -> (is_S, is_B, is_I, is_E, type), precomputed through
    :func:`_resolve` (the id-0 quirk included) so the FSM's inner loop
    does one dict lookup per token instead of partition+startswith calls
    (_resolve was ~30% of the per-turn decode cost).  Keyed on
    the id2ent ITEMS — a mutated or different vocab gets its own table."""
    id2ent = dict(id2ent_items)
    out = {}
    # id 0 resolves through id2ent[1] even when the vocab has no key 0
    for tid in id2ent.keys() | ({0} if 1 in id2ent else set()):
        prefix, etype = _resolve(tid, id2ent)
        out[tid] = (
            prefix.startswith("S"),
            prefix.startswith("B"),
            prefix.startswith("I"),
            prefix.startswith("E"),
            etype,
        )
    return out


def bioes_decode_flat(tag_ids: list[int], text: str,
                      id2ent: dict[int, str]) -> list[Span]:
    """Scan-order flat list of (mention, start, type); reference
    `predict_gdcq.py:12-57` semantics (control flow unchanged; the
    per-token prefix/type resolution goes through the memoized
    :func:`_resolve_table`)."""
    tbl = _resolve_table(tuple(sorted(id2ent.items())))
    spans: list[Span] = []
    i, n = 0, len(tag_ids)
    while i < n:
        is_s, is_b, _, _, etype = tbl[tag_ids[i]]
        if is_s:
            spans.append((text[i], i, etype))
            i += 1
        elif is_b:
            start = i
            i += 1
            while i < n:
                _, _, is_i2, is_e2, t2 = tbl[tag_ids[i]]
                if is_i2 and t2 == etype:
                    i += 1
                elif is_e2 and t2 == etype:
                    spans.append((text[start : i + 1], start, etype))
                    i += 1
                    break
                else:
                    break
            # B- without a matching E-: span dropped, i already advanced.
        else:
            i += 1
    return spans


def _chunk_ends(prev_prefix: str, prefix: str, prev_type: str, type_: str) -> bool:
    """Truth table of `utils/decodeUtils.py:45-70` (end_of_chunk)."""
    if prev_prefix in ("E", "S"):
        return True
    if prev_prefix == "B" and prefix in ("B", "S", "O"):
        return True
    if prev_prefix == "I" and prefix in ("B", "S", "O"):
        return True
    if prev_prefix not in ("O", ".") and prev_type != type_:
        return True
    return False


def _chunk_starts(prev_prefix: str, prefix: str, prev_type: str, type_: str) -> bool:
    """Truth table of `utils/decodeUtils.py:73-98` (start_of_chunk)."""
    if prefix in ("B", "S"):
        return True
    if prev_prefix == "E" and prefix in ("E", "I"):
        return True
    if prev_prefix == "S" and prefix in ("E", "I"):
        return True
    if prev_prefix == "O" and prefix in ("E", "I"):
        return True
    if prefix not in ("O", ".") and prev_type != type_:
        return True
    return False


def bio_get_entities(tag_strings: list[str], text: str) -> list[Span]:
    """Chunk extraction over tag strings (BIO and BIOES), reference
    ``get_entities`` `utils/decodeUtils.py:5-42`.

    Returns (mention, start, type) using the reference's inclusive-end slice
    ``text[begin:i+1]`` — note the reference emits the end at the *current*
    index when a chunk closes, i.e. mention text spans begin..i inclusive.
    """
    prev_prefix, prev_type = "O", ""
    begin = 0
    chunks: list[Span] = []
    for i, tag in enumerate(list(tag_strings) + ["O"]):
        prefix = tag[0]
        type_ = tag.split("-")[-1]
        if _chunk_ends(prev_prefix, prefix, prev_type, type_):
            chunks.append((text[begin : i + 1], begin, prev_type))
        if _chunk_starts(prev_prefix, prefix, prev_type, type_):
            begin = i
        prev_prefix, prev_type = prefix, type_
    return chunks
