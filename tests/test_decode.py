"""BIOES/BIO decode FSM — bit-exact parity vs the reference implementations
(`utils/decodeUtils.py`, `predict_gdcq.py::decode`), exercised both on the
documented micro-fixtures and on randomized tag sequences."""

from __future__ import annotations

import random

import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.decode import (
    bio_get_entities,
    bioes_decode_flat,
)
from pytorch_bert_bilstm_crf_ner_spark.core.tags import ENT2ID, ID2ENT

from .conftest import extract_function, load_reference_module


def test_simple_bioes():
    # B-PRO I-PRO E-PRO O S-ORG
    tags = [ENT2ID["B-PRO"], ENT2ID["I-PRO"], ENT2ID["E-PRO"], 0, ENT2ID["S-ORG"]]
    # note: trailing O would START a phantom B-PRO attempt (id-0 quirk)
    assert bioes_decode_flat(tags, "abcde", ID2ENT) == [
        ("abc", 0, "PRO"),
        ("e", 4, "ORG"),
    ]


def test_id0_quirk_opens_and_closes_spans():
    # O E-PRO => the O is looked up via id 1 (B-PRO) and pairs with E-PRO
    tags = [0, ENT2ID["E-PRO"]]
    assert bioes_decode_flat(tags, "xy", ID2ENT) == [("xy", 0, "PRO")]


def test_id0_quirk_without_vocab_key_0():
    # a hand-built vocab with no key 0 still resolves tag 0 through id 1
    id2ent = {1: "B-PRO", 2: "E-PRO", 3: "S-ORG"}
    assert bioes_decode_flat([0, 2, 3], "xyz", id2ent) == [
        ("xy", 0, "PRO"),
        ("z", 2, "ORG"),
    ]


def test_b_without_e_dropped():
    tags = [ENT2ID["B-NAME"], ENT2ID["I-NAME"], ENT2ID["B-ORG"]]
    assert bioes_decode_flat(tags, "abc", ID2ENT) == []


def test_type_switch_aborts_span():
    tags = [ENT2ID["B-NAME"], ENT2ID["E-ORG"], ENT2ID["S-LOC"]]
    assert bioes_decode_flat(tags, "abc", ID2ENT) == [("c", 2, "LOC")]


@pytest.fixture(scope="module")
def ref_decode_ns():
    ns = load_reference_module("utils/decodeUtils.py")
    if ns is None:
        pytest.skip("reference tree unavailable")
    return ns


def test_dict_form_matches_reference_randomized(ref_decode_ns):
    rng = random.Random(7)
    for _ in range(300):
        n = rng.randint(1, 40)
        tags = [rng.randrange(len(ENT2ID)) for _ in range(n)]
        text = "".join(chr(ord("a") + rng.randrange(26)) for _ in range(n))
        ours = {}
        for mention, start, etype in bioes_decode_flat(tags, text, ID2ENT):
            ours.setdefault(etype, []).append((mention, start))
        ref = ref_decode_ns["bioes_decode"](tags, text, ID2ENT)
        assert ours == ref


def test_flat_form_matches_reference_randomized():
    ref_flat = extract_function("predict_gdcq.py", "decode")
    if ref_flat is None:
        pytest.skip("reference tree unavailable")
    rng = random.Random(13)
    for _ in range(300):
        n = rng.randint(1, 40)
        tags = [rng.randrange(len(ENT2ID)) for _ in range(n)]
        text = "".join(chr(ord("a") + rng.randrange(26)) for _ in range(n))
        assert bioes_decode_flat(tags, text, ID2ENT) == ref_flat(tags, text, ID2ENT)


def test_bio_get_entities_matches_reference_randomized(ref_decode_ns):
    rng = random.Random(21)
    tagset = ["O"] + [f"{p}-{t}" for p in "BIES" for t in ("PER", "LOC")]
    for _ in range(300):
        n = rng.randint(1, 30)
        tags = [tagset[rng.randrange(len(tagset))] for _ in range(n)]
        text = "".join(chr(ord("a") + rng.randrange(26)) for _ in range(n + 1))
        ours = bio_get_entities(tags, text)
        ref = ref_decode_ns["get_entities"](tags, text)
        assert ours == ref


def test_bio_documented_example(ref_decode_ns):
    seq = ["B-PER", "I-PER", "O", "B-LOC"]
    assert bio_get_entities(seq, "abcd") == [("abc", 0, "PER"), ("d", 3, "LOC")]
