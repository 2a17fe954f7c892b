"""Entity dictionary as a small Spark DataFrame — the broadcast side of the
linking join and the input of `canonical_entities`; its single-word
aliases (:func:`single_word_dict_df`) feed `dict_mentions` and the
streaming window join (reference analog: per-type entity inventories,
`data/cner/aug_data/*.txt` built by `data_augment/aug.py:31-59`).

The rows live on the driver, so the frame is a JVM ``LocalRelation``
built through :func:`.local.local_frame`: scanning it runs no Python
task."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.entities import ENTITY_DICT_ROWS
from .local import local_frame

ENTITY_DICT_SCHEMA = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("alias", StringType(), False),
        StructField("type", StringType(), False),
        StructField("canonical_name", StringType(), False),
    ]
)


def entity_dict_df(spark: SparkSession, rows=ENTITY_DICT_ROWS) -> DataFrame:
    return local_frame(spark, rows, ENTITY_DICT_SCHEMA)


def single_word_dict_df(spark: SparkSession) -> DataFrame:
    """The dictionary's single-word aliases: the side a word-exact join
    (split on spaces) can match."""
    return entity_dict_df(spark).filter(~F.col("alias").contains(" "))


def entity_dict_values_sql(rows=ENTITY_DICT_ROWS) -> str:
    """Inline VALUES relation, aliased ``d``, for the DuckDB oracle twin."""
    vals = ", ".join(
        f"({eid}, '{a}', '{etype}', '{name}')" for eid, a, etype, name in rows
    )
    return f"(VALUES {vals}) AS d(entity_id, alias, type, canonical_name)"
