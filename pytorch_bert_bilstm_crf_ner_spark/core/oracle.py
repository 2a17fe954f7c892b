"""Single-process reference extractor (the parity oracle).

Runs the SAME deterministic tagger + decode as the Spark pipeline, but as a
plain python loop over turn rows — this is the stand-in for the reference's
single-machine `predict.py`/`predict_gdcq.py` flow, and the golden side of
the P/R >= 0.95 gate (`BASELINE.json north_rule`).  The Spark pipeline must
reproduce its mentions and (subj, pred, obj) triples exactly.

Pipeline shape (mirrors `plans/pipeline.py` stage for stage):
  tag turns -> link mentions to the entity dictionary -> canonicalize via
  connected components -> relations (same-turn adjacency J4 + conversation
  -window co-occurrence) -> distinct triples.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

from .entities import ENTITY_DICT_ROWS, canonical_map
from .model import DeterministicTagger
from .pairing import SEPARATORS

Turn = tuple[str, int, str]  # (conv_id, turn_idx, text)


@dataclass(frozen=True)
class RelationConfig:
    cooccur_window: int = 2            # turns ahead (inclusive) for co-occurrence
    adjacent_object_types: tuple[str, ...] = ("TITLE", "EDU")
    adjacent_pred: str = "has_attribute"
    cooccur_pred: str = "co_occurs_with"


def extract_mentions(turns: list[Turn], tagger: DeterministicTagger | None = None
                     ) -> list[tuple[str, int, str, int, str]]:
    """[(conv_id, turn_idx, mention, start, type)] in scan order per turn."""
    tagger = tagger or DeterministicTagger()
    texts = [t[2] for t in turns]
    out = []
    for (conv, idx, _), spans in zip(turns, tagger.tag_batch(texts)):
        out.extend((conv, idx, m, s, ty) for m, s, ty in spans)
    return out


def link_mentions(mentions, rows=ENTITY_DICT_ROWS):
    """Inner 'join' on (lower(mention), type) == (alias, type); ambiguous
    aliases emit one linked row per dictionary entity (deduped later by
    canonical id).  -> [(conv, turn, mention, start, type, entity_id)]"""
    dict_idx: dict[tuple[str, str], list[int]] = defaultdict(list)
    for eid, alias, etype, _ in rows:
        dict_idx[(alias, etype)].append(eid)
    linked = []
    for conv, idx, mention, start, etype in mentions:
        for eid in dict_idx.get((mention.lower(), etype), ()):
            linked.append((conv, idx, mention, start, etype, eid))
    return linked


def canonicalize(linked):
    """Map entity ids to canonical (id, name); dedupe rows that became
    identical -> [(conv, turn, mention, start, type, canon_id, canon_name)]"""
    cmap = canonical_map(ENTITY_DICT_ROWS)
    seen = set()
    out = []
    for conv, idx, mention, start, etype, eid in linked:
        cid, cname = cmap[eid]
        key = (conv, idx, start, mention, cid)
        if key not in seen:
            seen.add(key)
            out.append((conv, idx, mention, start, etype, cid, cname))
    return out


def relation_triples(mentions, canonical, turns: list[Turn],
                     cfg: RelationConfig = RelationConfig()):
    """Distinct triples (subj, pred, obj, conv_id, turn_idx=min evidence,
    n_evidence), sorted for stable comparison.

    - adjacency (J4, generalized from `predict_gdcq.py:97-120`): consecutive
      decoded mentions within a turn ordered by start, left type not in
      object set, right type in it, no sentence punctuation strictly
      between; both sides must be linked; emitted over canonical names.
    - co-occurrence: linked mentions in the same conversation within
      ``cooccur_window`` turns ahead (same turn: later start), distinct
      canonical pair, directed earlier -> later.
    """
    canon_at: dict[tuple[str, int, int, str], tuple[int, str]] = {}
    for conv, idx, mention, start, _etype, cid, cname in canonical:
        canon_at[(conv, idx, start, mention)] = (cid, cname)
    text_at = {(c, i): t for c, i, t in turns}

    by_turn: dict[tuple[str, int], list[tuple[str, int, str]]] = defaultdict(list)
    for conv, idx, mention, start, etype in mentions:
        by_turn[(conv, idx)].append((mention, start, etype))

    evidence: dict[tuple[str, str, str, str], list[int]] = defaultdict(list)

    # adjacency within a turn
    for (conv, idx), ents in by_turn.items():
        ents = sorted(ents, key=lambda e: e[1])
        text = text_at[(conv, idx)]
        for i in range(len(ents) - 1):
            left, right = ents[i], ents[i + 1]
            if left[2] in cfg.adjacent_object_types or right[2] not in cfg.adjacent_object_types:
                continue
            between = text[left[1] + len(left[0]) : right[1]]
            if any(s in between for s in SEPARATORS):
                continue
            lc = canon_at.get((conv, idx, left[1], left[0]))
            rc = canon_at.get((conv, idx, right[1], right[0]))
            if lc and rc and lc[0] != rc[0]:
                evidence[(conv, lc[1], cfg.adjacent_pred, rc[1])].append(idx)

    # co-occurrence across the conversation window
    by_conv: dict[str, list[tuple[int, int, int, str]]] = defaultdict(list)
    for conv, idx, mention, start, _etype, cid, cname in canonical:
        by_conv[conv].append((idx, start, cid, cname))
    for conv, items in by_conv.items():
        items.sort()
        for a in range(len(items)):
            t1, s1, c1, n1 = items[a]
            for b in range(a + 1, len(items)):
                t2, s2, c2, n2 = items[b]
                if t2 - t1 > cfg.cooccur_window:
                    break
                if c1 == c2 or (t1 == t2 and s2 <= s1):
                    continue
                evidence[(conv, n1, cfg.cooccur_pred, n2)].append(t1)

    triples = [
        (subj, pred, obj, conv, min(turns_), len(turns_))
        for (conv, subj, pred, obj), turns_ in evidence.items()
    ]
    triples.sort()
    return triples


def run_oracle(turns: list[Turn]):
    """Full single-process pipeline -> dict of stage outputs."""
    mentions = extract_mentions(turns)
    linked = link_mentions(mentions)
    canonical = canonicalize(linked)
    triples = relation_triples(mentions, canonical, turns)
    return {
        "mentions": mentions,
        "linked": linked,
        "canonical": canonical,
        "triples": triples,
    }
