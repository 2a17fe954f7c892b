"""The reference's mid_data corpus (SURVEY.md §2.1 S4, `preprocess.py:41-45`):
a multiLine JSON array of ``{id, text, labels}`` read as a DataFrame
``(doc_id long, text string, labels array<struct<span_id,type,start,end,mention>>)``,
and its flat golden span table.  `plans/eval_job.py::evaluate_extractor`
takes this shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def read_mid_data(spark: SparkSession, path: str) -> DataFrame:
    """mid_data JSON array -> typed mid_data DataFrame.  The raw label
    rows are heterogeneous JSON arrays (["T0","NAME",0,2,"高勇"]) which
    Spark reads as array<string>; cast into the struct here."""
    raw = spark.read.option("multiLine", True).json(path)
    labels = F.transform(
        F.coalesce("labels", F.array()),
        lambda lab: F.struct(
            F.element_at(lab, 1).alias("span_id"),
            F.element_at(lab, 2).alias("type"),
            F.element_at(lab, 3).cast("int").alias("start"),
            F.element_at(lab, 4).cast("int").alias("end"),
            F.element_at(lab, 5).alias("mention"),
        ),
    )
    return raw.select(
        F.col("id").cast("long").alias("doc_id"), "text", labels.alias("labels")
    )


def gold_mentions(mid: DataFrame) -> DataFrame:
    """mid_data -> flat golden span table (the callback_info analog,
    `preprocess.py:81-89`): (doc_id, mention, start, type)."""
    return mid.select(
        "doc_id", F.explode("labels").alias("lab")
    ).select(
        "doc_id",
        F.col("lab.mention").alias("mention"),
        F.col("lab.start").alias("start"),
        F.col("lab.type").alias("type"),
    )
