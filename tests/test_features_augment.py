"""Training-feature build (E1 ETL) + augmentation operators + the
tagger's BIO scheme."""

from __future__ import annotations

import os

import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.decode import bioes_decode_flat
from pytorch_bert_bilstm_crf_ner_spark.core.features import encode_example
from pytorch_bert_bilstm_crf_ner_spark.core.model import (
    DeterministicTagger,
    TaggerConfig,
)
from pytorch_bert_bilstm_crf_ner_spark.core.tags import build_tag_vocab, invert_vocab

REF = "/root/reference"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference tree unavailable"
)


def test_encode_example_roundtrip():
    text = "ab spark cd"
    labels = [("ORG", "spark", 3), ("NAME", "a", 0)]
    feat = encode_example(text, labels, 32)
    assert (
        len(feat["token_ids"])
        == len(feat["attention_mask"])
        == len(feat["label_ids"])
        == 32
    )
    # strip CLS and decode the label ids back to spans (the reference's
    # pred[1:1+len(text)] slice, main.py:104)
    id2ent = invert_vocab(build_tag_vocab())
    body = feat["label_ids"][1 : 1 + len(text)]
    spans = {(m, s, t) for m, s, t in bioes_decode_flat(body, text, id2ent)}
    assert ("spark", 3, "ORG") in spans
    # single-char 'a' at 0 -> S- tag round-trips
    assert ("a", 0, "NAME") in spans


def test_encode_truncation():
    feat = encode_example("abcdefghijkl", [("ORG", "ghijkl", 6)], 8)
    assert len(feat["token_ids"]) == 8
    assert all(x == 0 for x in feat["label_ids"])  # span truncated away


@needs_ref
def test_build_features_matches_reference_counts(spark, monkeypatch):
    """The reference preprocess (cut@max_seq_len=150) built 463 dev / 477
    test features for cner (`logs/preprocess.log`) — our distributed E1
    must produce the same cut counts from the same mid_data."""
    from pytorch_bert_bilstm_crf_ner_spark.operators import features
    from pytorch_bert_bilstm_crf_ner_spark.sources.corpus import read_mid_data

    monkeypatch.setattr(features, "MAX_SEQ_LEN", 150)  # read on the driver
    for mode, expected in (("dev", 463), ("test", 477)):
        mid = read_mid_data(spark, f"{REF}/data/cner/mid_data/{mode}.json")
        feats = features.build_features(mid)
        assert feats.count() == expected, mode


def test_template_mask_and_synthesis(spark, monkeypatch):
    from pytorch_bert_bilstm_crf_ner_spark.operators import augment
    from pytorch_bert_bilstm_crf_ner_spark.operators.augment import (
        build_entity_inventory,
        synthesize_from_templates,
        template_mask,
    )

    from .conftest import MID_SCHEMA

    rows = [
        (0, "高勇：男，中国国籍。", [("T0", "NAME", 0, 2, "高勇"), ("T1", "CONT", 5, 9, "中国国籍")]),
        (1, "李四：男，美国国籍。", [("T0", "NAME", 0, 2, "李四"), ("T1", "CONT", 5, 9, "美国国籍")]),
    ]
    mid = spark.createDataFrame(rows, MID_SCHEMA)
    tmpl = {r["doc_id"]: r["template"] for r in template_mask(mid).collect()}
    assert tmpl[0] == "#;#NAME#;#：男，#;#CONT#;#。"
    inv = build_entity_inventory(mid)
    monkeypatch.setattr(augment, "AUGMENT_REPEAT", 2)
    synth = synthesize_from_templates(template_mask(mid), inv)
    out = synth.collect()
    assert len(out) == 4
    for r in out:
        for lab in r["labels"]:
            assert r["text"][lab["start"] : lab["end"]] == lab["mention"]
            assert lab["span_id"].startswith("T")
    # determinism
    again = {r["text"] for r in synthesize_from_templates(template_mask(mid), inv).collect()}
    assert again == {r["text"] for r in out}


def test_tagger_bio_mode():
    texts = ["run a table scan then hash join now", "spark query merge"]
    bio = DeterministicTagger(TaggerConfig(scheme="BIO")).tag_batch(texts)
    assert any(spans for spans in bio)
    for text, spans in zip(texts, bio):
        for m, s, _ in spans:
            assert text[s : s + len(m)] == m
