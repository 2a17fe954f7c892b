"""Relations over one conv_id exchange: the tag UDF's ``adj_start`` and the
window-frame relation patterns, each against `core/oracle.py`."""

from __future__ import annotations

import duckdb

from pytorch_bert_bilstm_crf_ner_spark.core import oracle
from pytorch_bert_bilstm_crf_ner_spark.core.pairing import SEPARATORS

SF_DIR = "/root/testdata/sf0.001"


def test_extract_mentions_adj_start_matches_oracle_text(spark):
    """On sf0.001, every mention row's adj_start is recomputed from
    `run_oracle`'s mentions and the turn text: the next mention of the
    turn by start, unless a separator lies between the two."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        derive_transcripts_py,
        transcripts_from_documents,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    turns = [(r["conv_id"], r["turn_idx"], r["text"])
             for r in derive_transcripts_py(docs)]
    text_at = {(c, i): t for c, i, t in turns}
    by_turn: dict = {}
    for conv, idx, mention, start, etype in oracle.run_oracle(turns)["mentions"]:
        by_turn.setdefault((conv, idx), []).append((mention, start, etype))
    want = set()
    for (conv, idx), ents in by_turn.items():
        ents = sorted(ents, key=lambda e: e[1])
        for i, (mention, start, etype) in enumerate(ents):
            adj = None
            if i + 1 < len(ents):
                nxt = ents[i + 1][1]
                between = text_at[(conv, idx)][start + len(mention) : nxt]
                if not any(s in between for s in SEPARATORS):
                    adj = nxt
            want.add((conv, idx, mention, start, etype, adj))

    got = {tuple(r) for r in
           extract_mentions(transcripts_from_documents(spark, SF_DIR)).collect()}
    assert got == want
    n_adj = sum(r[5] is not None for r in got)
    assert 0 < n_adj < len(got)


def test_relation_triples_edge_cases_match_oracle(spark):
    """Hand-built turns for the rules the window frames must keep: an
    unlinked span between two linked ones blocks adjacency, a separator
    blocks it, equal canonical ids never pair, same-turn co-occurrence is
    directed by start, and the turn window is inclusive."""
    from pytorch_bert_bilstm_crf_ner_spark.core.pairing import adjacent_starts
    from pytorch_bert_bilstm_crf_ner_spark.operators.relations import (
        relation_triples,
    )

    # (conv, turn, text, [(mention, start, type, canonical id or None)])
    spec = [
        ("c1", 0, "ann bob dr ed", [("ann", 0, "NAME", 1), ("bob", 4, "NAME", None),
                                    ("dr", 8, "TITLE", 3)]),
        ("c1", 1, "ann dr，ann md", [("ann", 0, "NAME", 1), ("dr", 4, "TITLE", 3),
                                    ("ann", 7, "NAME", 1), ("md", 11, "TITLE", 4)]),
        ("c1", 3, "cy ann", [("cy", 0, "NAME", 5), ("ann", 3, "NAME", 1)]),
        ("c1", 4, "dr", [("dr", 0, "TITLE", 3)]),
        ("c2", 0, "ann ann", [("ann", 0, "NAME", 1), ("ann", 4, "TITLE", 1)]),
    ]
    turns = [(c, t, text) for c, t, text, _ in spec]
    mentions, canonical, rows = [], [], []
    for conv, idx, text, spans in spec:
        adj = adjacent_starts([s[:3] for s in spans], text)
        for (mention, start, etype, cid), a in zip(spans, adj):
            mentions.append((conv, idx, mention, start, etype))
            if cid is not None:
                canonical.append((conv, idx, mention, start, etype, cid, f"e{cid}"))
                rows.append((conv, idx, mention, start, etype, a, cid, f"e{cid}"))
    cm = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, mention string, start int, type string, "
        "adj_start int, canonical_id bigint, canonical_name string")

    want = oracle.relation_triples(mentions, canonical, turns)
    got = sorted(tuple(r) for r in relation_triples(cm).collect())
    assert got == want
    preds = {(r[0], r[1], r[2]) for r in got}
    assert ("e1", "has_attribute", "e3") in preds      # turn 1, "ann dr"
    assert ("e1", "has_attribute", "e4") in preds      # turn 1, "ann md"
    assert ("e5", "co_occurs_with", "e1") in preds      # same turn, by start
    assert ("e1", "co_occurs_with", "e5") in preds      # turn 1 -> turn 3
    # turn 0's "ann" and "dr" are split by the unlinked "bob": the only
    # has_attribute evidence for (e1, e3) is turn 1's
    assert [r[4:] for r in got if r[:3] == ("e1", "has_attribute", "e3")] == [(1, 1)]
