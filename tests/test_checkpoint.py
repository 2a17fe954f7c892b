"""Numpy-weights checkpoint seam (S7/M1): save/load round-trip, strict key
matching, and the broadcast-factory path through the tagging UDF — the
reference's `utils/trainUtils.py:60-115` contract without torch."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.checkpoint import (
    broadcast_tagger_factory,
    load_state_dict,
    save_tagger,
    state_dict,
)
from pytorch_bert_bilstm_crf_ner_spark.core.model import (
    DeterministicTagger,
    TaggerConfig,
)

SF_DIR = "/root/testdata/sf0.001"
TEXTS = [
    "run a table scan then hash join on the customer line",
    "spark query uses merge sort and a small window batch",
]


def test_roundtrip_loaded_weights_are_authoritative(spark, tmp_path):
    """Mutated-then-saved weights must survive the round trip and drive
    the outputs — proving load overwrites the seeded init instead of
    silently regenerating it."""
    cfg = TaggerConfig(feature_layer="bilstm", mid_dim=8)
    t = DeterministicTagger(cfg)
    # "train": perturb every tensor deterministically
    for name, arr in state_dict(t).items():
        arr += 0.01 * (hash(name) % 7 + 1)
    trained = [tuple(r) for r in t.tag_batch(TEXTS)]

    ckpt = str(tmp_path / "ckpt")
    save_tagger(t, ckpt)
    loaded = broadcast_tagger_factory(spark, ckpt)()
    fresh = DeterministicTagger(cfg)

    for name, arr in state_dict(loaded).items():
        np.testing.assert_array_equal(arr, state_dict(t)[name])
    assert [tuple(r) for r in loaded.tag_batch(TEXTS)] == trained
    assert any(
        not np.array_equal(a, state_dict(fresh)[n])
        for n, a in state_dict(loaded).items()
    )


@pytest.mark.parametrize("feature_layer", ["none", "bilstm", "idcnn"])
@pytest.mark.parametrize("mid_dim", [None, 8])
def test_roundtrip_matrix_every_family(spark, tmp_path, feature_layer, mid_dim):
    """Every (feature layer x mid_linear) combination round-trips with
    MUTATED weights driving the post-load outputs: a tensor missing from
    state_dict() would keep its seeded init after load and change the
    decoded spans — so a new layer can't silently fall out of the
    checkpoint format."""
    cfg = TaggerConfig(feature_layer=feature_layer, mid_dim=mid_dim)
    t = DeterministicTagger(cfg)
    sd = state_dict(t)
    # the families must actually differ in their tensor sets
    assert ("mid_w" in sd) == (mid_dim is not None)
    assert ("feature.w_ih" in sd) == (feature_layer == "bilstm")
    assert ("feature.proj" in sd) == (feature_layer == "idcnn")
    for name, arr in sd.items():
        arr += 0.01 * (hash(name) % 7 + 1)
    trained = [tuple(r) for r in t.tag_batch(TEXTS)]

    ckpt = str(tmp_path / "ckpt")
    save_tagger(t, ckpt)
    loaded = broadcast_tagger_factory(spark, ckpt)()
    assert loaded.cfg == cfg
    for name, arr in state_dict(loaded).items():
        np.testing.assert_array_equal(arr, sd[name])
    assert [tuple(r) for r in loaded.tag_batch(TEXTS)] == trained


def test_roundtrip_idcnn_family(spark, tmp_path):
    cfg = TaggerConfig(feature_layer="idcnn")
    t = DeterministicTagger(cfg)
    ckpt = str(tmp_path / "ckpt")
    save_tagger(t, ckpt)
    loaded = broadcast_tagger_factory(spark, ckpt)()
    assert loaded.cfg == cfg
    assert [tuple(r) for r in loaded.tag_batch(TEXTS)] == [
        tuple(r) for r in t.tag_batch(TEXTS)
    ]


def test_config_with_a_removed_field_is_refused(tmp_path):
    """A config.json carrying a field the config no longer has (the
    embedding width is a constant now) makes the loader raise instead of
    loading with the field dropped, before it touches Spark."""
    ckpt = str(tmp_path / "ckpt")
    save_tagger(DeterministicTagger(), ckpt)
    path = os.path.join(ckpt, "config.json")
    with open(path, encoding="utf-8") as f:
        cfg = json.load(f)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(dict(cfg, emb_dim=64), f)
    with pytest.raises(TypeError, match="emb_dim"):
        broadcast_tagger_factory(None, ckpt)


def test_strict_load_rejects_mismatch():
    t = DeterministicTagger()
    sd = state_dict(t)
    missing = {k: v for k, v in sd.items() if k != "transitions"}
    with pytest.raises(ValueError, match="missing"):
        load_state_dict(DeterministicTagger(), missing)
    extra = dict(sd, bogus=np.zeros(3, dtype=np.float32))
    with pytest.raises(ValueError, match="unexpected"):
        load_state_dict(DeterministicTagger(), extra)
    bad_shape = dict(sd, linear_b=np.zeros(2, dtype=np.float32))
    with pytest.raises(ValueError, match="shape"):
        load_state_dict(DeterministicTagger(), bad_shape)


def test_broadcast_factory_end_to_end(spark, tmp_path):
    """The pipeline runs with factory-loaded BROADCAST weights: a mutated
    checkpoint flows driver -> sc.broadcast -> python worker -> UDF, and
    the distributed result matches the same tagger applied locally."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import (
        extract_mentions,
    )
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    t = DeterministicTagger()
    # bias strongly toward O so the checkpointed model tags FEWER spans
    # than the default — a visible, weight-driven behavior change
    state_dict(t)["linear_b"][0] += 4.0
    ckpt = str(tmp_path / "ckpt")
    save_tagger(t, ckpt)

    tr = transcripts_from_documents(spark, SF_DIR).filter("length(text) > 0")
    sample = tr.limit(40).select("conv_id", "turn_idx", "text").collect()

    factory = broadcast_tagger_factory(spark, ckpt)
    got = {
        (r["conv_id"], r["turn_idx"], r["mention"], r["start"], r["type"])
        for r in extract_mentions(
            spark.createDataFrame(sample), tagger_factory=factory
        ).collect()
    }
    want = set()
    for row in sample:
        for m, s, ty in t.tag_batch([row["text"]])[0]:
            want.add((row["conv_id"], row["turn_idx"], m, s, ty))
    assert got == want

    default = {
        (r["conv_id"], r["turn_idx"], r["mention"], r["start"], r["type"])
        for r in extract_mentions(spark.createDataFrame(sample)).collect()
    }
    assert got != default and len(got) < len(default)


def test_pipeline_runs_from_checkpoint(spark, tmp_path):
    """PipelineConfig.checkpoint_dir drives the full pipeline's tag UDF
    from broadcast checkpointed weights."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    t = DeterministicTagger()
    state_dict(t)["linear_b"][0] += 4.0  # O-biased: tags fewer mentions
    ckpt = str(tmp_path / "ckpt")
    save_tagger(t, ckpt)

    st_ck = run_pipeline(spark, SF_DIR, PipelineConfig(checkpoint_dir=ckpt))
    st_def = run_pipeline(spark, SF_DIR, PipelineConfig())
    n_ck = st_ck["mentions"].count()
    n_def = st_def["mentions"].count()
    assert 0 < n_ck < n_def
