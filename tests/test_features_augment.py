"""Training-feature build (E1 ETL) + augmentation operators + tagger
decode-mode variants."""

from __future__ import annotations

import os

import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.decode import bioes_decode_flat
from pytorch_bert_bilstm_crf_ner_spark.core.features import (
    FeatureConfig,
    encode_example,
)
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
    cfg = FeatureConfig(max_seq_len=32)
    text = "ab spark cd"
    labels = [("ORG", "spark", 3), ("NAME", "a", 0)]
    feat = encode_example(text, labels, cfg)
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
    cfg = FeatureConfig(max_seq_len=8)
    feat = encode_example("abcdefghijkl", [("ORG", "ghijkl", 6)], cfg)
    assert len(feat["token_ids"]) == 8
    assert all(x == 0 for x in feat["label_ids"])  # span truncated away


@needs_ref
def test_build_features_matches_reference_counts(spark):
    """The reference preprocess (cut@max_seq_len=150) built 463 dev / 477
    test features for cner (`logs/preprocess.log`) — our distributed E1
    must produce the same cut counts from the same mid_data."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.features import build_features
    from pytorch_bert_bilstm_crf_ner_spark.sources.corpus import read_mid_data

    cfg = FeatureConfig(max_seq_len=150)
    for mode, expected in (("dev", 463), ("test", 477)):
        mid = read_mid_data(spark, f"{REF}/data/cner/mid_data/{mode}.json")
        feats = build_features(mid, cfg)
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


def test_tagger_bio_and_argmax_modes():
    texts = ["run a table scan then hash join now", "spark query merge"]
    bio = DeterministicTagger(TaggerConfig(scheme="BIO")).tag_batch(texts)
    assert any(spans for spans in bio)
    for text, spans in zip(texts, bio):
        for m, s, _ in spans:
            assert text[s : s + len(m)] == m
    argmax = DeterministicTagger(TaggerConfig(use_crf=False)).tag_batch(texts)
    again = DeterministicTagger(TaggerConfig(use_crf=False)).tag_batch(texts)
    assert argmax == again
    for text, spans in zip(texts, argmax):
        for m, s, _ in spans:
            assert text[s : s + len(m)] == m


def test_fine_grade_tokenize_matches_reference():
    """P5 parity: our fine_grade_tokenize == the reference's
    utils/commonUtils.py function, exec'd live with a stub tokenizer."""
    from pytorch_bert_bilstm_crf_ner_spark.core.features import (
        fine_grade_tokenize,
    )

    from .conftest import extract_function

    ref_fn = extract_function("utils/commonUtils.py", "fine_grade_tokenize")
    if ref_fn is None:
        import pytest

        pytest.skip("reference tree unavailable")

    known = set("高勇男abc123，。")

    class StubTokenizer:
        def tokenize(self, ch):
            return [ch] if ch in known else []

    cases = [
        "高勇：男 abc\t123\n，。",
        "   ",
        "高×勇",  # × unknown -> [INV]
        "",
        "a b\tc\nd",
    ]
    for text in cases:
        assert fine_grade_tokenize(text, lambda c: c in known) == ref_fn(
            text, StubTokenizer()
        ), text


def test_encode_example_fine_tokenize_mode():
    from pytorch_bert_bilstm_crf_ner_spark.core.features import (
        BLANK_ID,
        INV_ID,
        FeatureConfig,
        encode_example,
        fine_grade_tokenize,
    )

    text = "高勇 男"
    toks = fine_grade_tokenize(text)
    assert toks == ["高", "勇", "[BLANK]", "男"]
    cfg = FeatureConfig(max_seq_len=16, fine_tokenize=True)
    feat = encode_example(text, [("NAME", "高勇", 0)], cfg)
    assert len(feat["token_ids"]) == 16
    assert feat["token_ids"][3] == BLANK_ID  # CLS shift: position 2 -> idx 3
    # label alignment unaffected by [BLANK]: B at 1, E at 2 (+CLS)
    assert feat["label_ids"][1] != 0 and feat["label_ids"][2] != 0
    # [INV] path
    cfg2 = FeatureConfig(max_seq_len=8, fine_tokenize=True)
    f2 = encode_example("a", [], cfg2)
    assert INV_ID not in f2["token_ids"]  # default is_known=None: no OOV
