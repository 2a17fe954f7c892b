"""Span metric math (`operators/evaluate.py`) vs `utils/metricsUtils.py`."""

from __future__ import annotations

import random

import pytest

from pytorch_bert_bilstm_crf_ner_spark.operators.evaluate import (
    get_p_r_f,
    micro_prf_row,
    span_metrics_by_type,
)

from .conftest import load_reference_module

SPAN = "type string, mention string, start int"


def _by_type(spark, gold: list, pred: list) -> dict:
    """{type: (tp, fp, fn)} of (type, mention, start) rows."""
    metrics = span_metrics_by_type(
        spark.createDataFrame(pred, SPAN), spark.createDataFrame(gold, SPAN))
    return {r["type"]: (r["tp"], r["fp"], r["fn"]) for r in metrics.collect()}


def test_basic(spark):
    gt = [("T", "a", 0), ("T", "bb", 3)]
    pred = [("T", "a", 0), ("T", "bb", 4), ("T", "c", 9)]
    metrics = span_metrics_by_type(
        spark.createDataFrame(pred, SPAN), spark.createDataFrame(gt, SPAN))
    row = micro_prf_row(metrics).first()
    assert (row["tp"], row["fp"], row["fn"]) == (1, 2, 1)
    p, r, f1 = get_p_r_f(1, 2, 1)
    assert abs(p - 1 / 3) < 1e-12 and abs(r - 0.5) < 1e-12
    assert (row["precision"], row["recall"], row["f1"]) == pytest.approx((p, r, f1))
    assert get_p_r_f(0, 0, 0) == (0.0, 0.0, 0.0)


def test_repeated_span_keys(spark):
    """A repeated pred counts as tp each time and leaves fn at 0 (the
    reference reports fn = -1 here); a repeated gold span matched once
    is not a miss (the reference reports fn = 1)."""
    gold = [("pred_dup", "a", 0), ("gold_dup", "a", 0), ("gold_dup", "a", 0)]
    pred = [("pred_dup", "a", 0), ("pred_dup", "a", 0), ("gold_dup", "a", 0)]
    assert _by_type(spark, gold, pred) == {"pred_dup": (2, 0, 0), "gold_dup": (1, 0, 0)}


def test_matches_reference_randomized(spark):
    """200 cases in one job, the case index as the type.  No case repeats
    a span key on either side, where the two fn counts differ."""
    ns = load_reference_module("utils/metricsUtils.py")
    if ns is None:
        pytest.skip("reference tree unavailable")
    rng = random.Random(5)
    keys = [(chr(97 + m), s) for m in range(4) for s in range(5)]
    cases = [(rng.sample(keys, rng.randint(0, 6)), rng.sample(keys, rng.randint(0, 6)))
             for _ in range(200)]
    got = _by_type(
        spark,
        [(str(i), m, s) for i, (gt, _) in enumerate(cases) for m, s in gt],
        [(str(i), m, s) for i, (_, pred) in enumerate(cases) for m, s in pred],
    )
    for i, (gt, pred) in enumerate(cases):
        tp, fp, fn = got.get(str(i), (0, 0, 0))
        assert list(ns["calculate_metric"](gt, pred)) == [tp, fp, fn], i
        assert list(ns["get_p_r_f"](tp, fp, fn)) == list(get_p_r_f(tp, fp, fn))


def test_micro(spark):
    per_type = spark.createDataFrame(
        [("A", 2, 1, 0), ("B", 0, 1, 2)], "type string, tp long, fp long, fn long")
    row = micro_prf_row(per_type).first()
    p, r, f1 = row["precision"], row["recall"], row["f1"]
    assert abs(p - 0.5) < 1e-12 and abs(r - 0.5) < 1e-12 and abs(f1 - 0.5) < 1e-12
