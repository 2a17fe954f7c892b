"""Numpy-weights model checkpoints — the S7/M1 seam executed without torch.

The reference saves/loads trained weights with ``torch.save(state_dict)``
and ``load_model_and_parallel`` (`utils/trainUtils.py:60-115`, strict key
matching, 'module.' prefix strip).  This module is the same contract for
the numpy model family: a flat ``state_dict`` of named arrays persisted as
``weights.npz`` + ``config.json``, loaded STRICTLY (missing/unexpected
keys raise, shapes must match), and a broadcast factory so a Spark job
reads the checkpoint ONCE on the driver, ships it to executors via
``sc.broadcast``, and each task rebuilds the tagger from the broadcast
bytes — the "weights read once per job" path that a real
BERT state_dict would take through the same seam
(`operators/tagging.py::make_tag_turns_udf`).
"""

from __future__ import annotations

import dataclasses
import json
import os

import numpy as np

from .model import DeterministicTagger, TaggerConfig


def state_dict(tagger: DeterministicTagger) -> dict[str, np.ndarray]:
    """Flat name -> array map covering every learned tensor (embedding,
    optional feature layer, optional mid_linear, classifier, CRF)."""
    sd = {
        "embedding": tagger.embedding,
        "linear_w": tagger.linear_w,
        "linear_b": tagger.linear_b,
        "start_transitions": tagger.start_transitions,
        "end_transitions": tagger.end_transitions,
        "transitions": tagger.transitions,
    }
    if tagger.mid_w is not None:
        sd["mid_w"] = tagger.mid_w
        sd["mid_b"] = tagger.mid_b
    feat = tagger.feature
    if feat is not None:
        from .layers import NumpyBiLSTM

        if isinstance(feat, NumpyBiLSTM):
            sd["feature.w_ih"] = feat.w_ih
            sd["feature.w_hh"] = feat.w_hh
            sd["feature.bias"] = feat.bias
        else:  # NumpyIDCNN
            sd["feature.proj"] = feat.proj
            for i, k in enumerate(feat.kernels):
                sd[f"feature.kernels.{i}"] = k
            for i, b in enumerate(feat.biases):
                sd[f"feature.biases.{i}"] = b
    return sd


def load_state_dict(tagger: DeterministicTagger,
                    sd: dict[str, np.ndarray]) -> DeterministicTagger:
    """Strict in-place load (the `load_model_and_parallel` contract):
    the key sets must match exactly and every shape must agree."""
    want = state_dict(tagger)
    missing = sorted(set(want) - set(sd))
    unexpected = sorted(set(sd) - set(want))
    if missing or unexpected:
        raise ValueError(
            f"state_dict mismatch: missing={missing} unexpected={unexpected}"
        )
    for name, cur in want.items():
        arr = np.asarray(sd[name], dtype=cur.dtype)
        if arr.shape != cur.shape:
            raise ValueError(
                f"shape mismatch for {name}: checkpoint {arr.shape} "
                f"vs model {cur.shape}"
            )
        # write THROUGH the existing references: `want` maps to the very
        # arrays the tagger computes with, so in-place copy updates them
        cur[...] = arr
    return tagger


def save_tagger(tagger: DeterministicTagger, path: str) -> None:
    """Write ``path/config.json`` + ``path/weights.npz`` (the torch.save
    analog, `trainUtils.py:60-65`)."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "config.json"), "w", encoding="utf-8") as f:
        json.dump(dataclasses.asdict(tagger.cfg), f)
    np.savez(os.path.join(path, "weights.npz"), **state_dict(tagger))


def _read_checkpoint(path: str) -> tuple[TaggerConfig, dict[str, np.ndarray]]:
    """(config, state_dict) of a checkpoint directory.  A config field the
    tagger does not have raises."""
    with open(os.path.join(path, "config.json"), encoding="utf-8") as f:
        cfg = TaggerConfig(**json.load(f))
    with np.load(os.path.join(path, "weights.npz")) as z:
        sd = {k: z[k] for k in z.files}
    return cfg, sd


def broadcast_tagger_factory(spark, path: str):
    """Read the checkpoint ONCE on the driver, ``sc.broadcast`` it, and
    return a ``tagger_factory`` for `make_tag_turns_udf` /
    `extract_mentions`: the tag UDF calls it once per task (partition),
    not once per python worker, and it rebuilds the tagger from the
    broadcast value (config + named arrays), never re-reading the
    checkpoint files — the distributed-serving shape of the reference's
    `load_model_and_parallel` + `predict.py` flow.  The config is built
    before the broadcast, so a field the tagger does not have raises
    here, not in a task."""
    ckpt = _read_checkpoint(path)
    bcast = spark.sparkContext.broadcast(ckpt)

    def factory() -> DeterministicTagger:
        cfg_b, weights = bcast.value
        return load_state_dict(DeterministicTagger(cfg_b), weights)

    return factory
