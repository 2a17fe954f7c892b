"""The reference's dev/test evaluation flow (E2, `main.py:78-158`) as one
Spark job: mid_data corpus -> golden spans, tagger over the same texts ->
predicted spans, span-exact join -> per-type (tp, fp, fn) -> micro P/R/F1 +
classification report.  Replaces the positional pred<->callback zip with
doc_id-keyed joins."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.evaluate import (
    classification_report,
    micro_prf_row,
    span_metrics_by_type,
)
from ..operators.tagging import make_tag_turns_udf
from ..sources.corpus import gold_mentions


def evaluate_extractor(mid: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (metrics_by_type, micro_row).  Use
    ``classification_report(metrics_by_type)`` for the formatted report.

    The spans are keyed by (doc_id, mention, start, type), and
    :func:`span_metrics_by_type` reads each side once, so the model
    forward runs once per text."""
    tag_udf = make_tag_turns_udf()
    pred = (
        mid.filter(F.length("text") > 0)
        .select("doc_id", "text")
        .withColumn("spans", tag_udf(F.col("text")))
        .select("doc_id", F.explode_outer("spans").alias("sp"))
        .filter(F.col("sp").isNotNull())
        .select(
            "doc_id",
            F.col("sp.mention").alias("mention"),
            F.col("sp.start").alias("start"),
            F.col("sp.type").alias("type"),
        )
    )
    metrics = span_metrics_by_type(pred, gold_mentions(mid))
    return metrics, micro_prf_row(metrics)


__all__ = [
    "evaluate_extractor",
    "classification_report",
    "span_metrics_by_type",
]
