"""Span-exact evaluation as DataFrame joins (J1 + A1-A3 per SURVEY.md).

The reference's nested-loop span match (`utils/metricsUtils.py:11-28`) and
per-type metric accumulation (`main.py:99-114`) become one full-outer join
on the span key, then a hash aggregation per type — the positional zip of
preds to callbacks (`main.py:101,147`) is replaced by carrying row keys
((conv_id, turn_idx) or doc_id) through the pipeline.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def span_metrics_by_type(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """-> (type, tp, fp, fn) — one row per entity type.

    The span key is ``pred``'s columns (e.g. conv_id, turn_idx, mention,
    start, type); ``gold`` must have them all, ``type`` among them.
    One pass per input: pre-count each side by span key, one full-outer
    join, one aggregation deriving tp/fp/fn from the pred/gold presence
    flags.  (The naive semi/anti/anti/union shape re-evaluates each input
    ~3x — at pipeline scale that tripled the mention-extraction cost.)
    Multiplicity: tp and fp count pred rows, as the reference's span
    match `metricsUtils.py:11-28` does (it breaks on the first matching
    gold span and never removes it, so a duplicated pred row that matches
    gold counts as multiple tp).  fn differs where a span key repeats on
    either side: it counts the gold rows of keys no pred row has, where
    the reference computes ``len(gt) - tp``.  Gold ``[a@0]`` against preds
    ``[a@0, a@0]`` is (tp, fp, fn) = (2, 0, 0) here and (2, 0, -1) there;
    gold ``[a@0, a@0]`` against ``[a@0]`` is (1, 0, 0) here and (1, 0, 1)
    there.  With no repeated key the two agree.
    """
    key = pred.columns
    p = pred.groupBy(*key).agg(F.count(F.lit(1)).alias("pred_n"))
    g = gold.groupBy(*key).agg(F.count(F.lit(1)).alias("gold_n"))
    j = p.join(g, key, "full_outer")
    return (
        j.groupBy("type")
        .agg(
            F.sum(
                F.when(F.col("gold_n").isNotNull(), F.col("pred_n")).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(F.col("gold_n").isNull(), F.col("pred_n")).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(F.col("pred_n").isNull(), F.col("gold_n")).otherwise(0)
            ).alias("fn"),
        )
        .na.fill(0, ["tp", "fp", "fn"])
    )


def micro_prf_row(metrics_by_type: DataFrame) -> DataFrame:
    """-> single row (tp, fp, fn, precision, recall, f1) — micro average
    (`metricsUtils.py:31-35`, `main.py:113-114`)."""
    agg = metrics_by_type.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    )
    p = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    r = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0))
    out = agg.withColumn("precision", p).withColumn("recall", r)
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("f1", f1)


def get_p_r_f(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    """Driver-side P/R/F1 of one (tp, fp, fn), 0 where undefined
    (`metricsUtils.py:31-35`)."""
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


def classification_report(metrics_by_type: DataFrame) -> str:
    """Driver-side per-type + micro P/R/F1 report — the
    `metricsUtils.py:37-72` format (support column = tp + fn)."""
    rows = sorted(metrics_by_type.collect(), key=lambda r: r["type"])
    width = max([len(r["type"]) for r in rows] + [len("micro-f1")])
    lines = [
        f"{'':>{width}} {'precision':>9} {'recall':>9} {'f1-score':>9} {'support':>9}",
        "",
    ]
    tot = [0, 0, 0]
    for r in rows:
        p, rc, f1 = get_p_r_f(r["tp"], r["fp"], r["fn"])
        lines.append(
            f"{r['type']:>{width}} {p:>9.4f} {rc:>9.4f} "
            f"{f1:>9.4f} {r['tp'] + r['fn']:>9}"
        )
        tot[0] += r["tp"]
        tot[1] += r["fp"]
        tot[2] += r["fn"]
    p, rc, f1 = get_p_r_f(*tot)
    lines.append("")
    lines.append(
        f"{'micro-f1':>{width}} {p:>9.4f} {rc:>9.4f} "
        f"{f1:>9.4f} {tot[0] + tot[2]:>9}"
    )
    return "\n".join(lines)


def triple_metrics(pred: DataFrame, gold: DataFrame) -> dict:
    """Exact-match triple P/R on (subj, pred, obj, conv_id) — the
    north_rule P/R >= 0.95 gate.

    ONE Spark action: distinct each side, full-outer join on the key, and
    derive tp / |pred| / |gold| from the presence flags in a single
    aggregation (the `span_metrics_by_type` pattern) — each input is
    evaluated once instead of the naive two counts + semi-join count."""
    key = ["subj", "pred", "obj", "conv_id"]
    p = pred.select(*key).distinct().withColumn("in_p", F.lit(1))
    g = gold.select(*key).distinct().withColumn("in_g", F.lit(1))
    row = (
        p.join(g, key, "full_outer")
        .agg(
            F.count(F.when(F.col("in_p").isNotNull() & F.col("in_g").isNotNull(), 1)).alias("tp"),
            F.count("in_p").alias("pred"),
            F.count("in_g").alias("gold"),
        )
        .first()
    )
    tp, p_cnt, g_cnt = row["tp"], row["pred"], row["gold"]
    precision, recall, f1 = get_p_r_f(tp, p_cnt - tp, g_cnt - tp)
    return {"tp": tp, "pred": p_cnt, "gold": g_cnt,
            "precision": precision, "recall": recall, "f1": f1}
