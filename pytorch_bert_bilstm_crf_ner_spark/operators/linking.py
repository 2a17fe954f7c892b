"""Mention -> entity-dictionary linking (J5 per SURVEY.md §2.5).

Default path: broadcast-hash join against the small dictionary
(``F.broadcast``) — zero shuffle of the big mentions side.  Fallback path
for dictionaries too large to broadcast: salted repartition join — the big
side gets ``salt = pmod(xxhash64(alias_key), K)``, the dict side is
exploded K ways, and the join key becomes (alias, type, salt) so one hot
alias ("head entity") spreads over K reducers.  AQE skew-join splitting is
enabled globally as the second line of defense.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def link_mentions(
    mentions: DataFrame,
    entity_dict: DataFrame,
    broadcast_dict: bool = True,
    salt_buckets: int = 16,
) -> DataFrame:
    """Inner join on (lower(mention), type) == (alias, type).

    Returns every column of ``mentions`` (conv_id, turn_idx, mention,
    start, type, ...) plus entity_id and canonical_name; ambiguous aliases
    produce one row per matching dictionary entity (collapsed later by
    canonicalization).
    """
    m = mentions.withColumn("alias_key", F.lower(F.col("mention")))
    d = entity_dict.select(
        F.col("alias").alias("alias_key"),
        F.col("type").alias("dict_type"),
        "entity_id",
        "canonical_name",
    )
    if broadcast_dict:
        joined = m.join(
            F.broadcast(d),
            (m.alias_key == d.alias_key) & (m.type == d.dict_type),
            "inner",
        )
    else:
        k = salt_buckets
        m = m.withColumn("salt", F.pmod(F.xxhash64("alias_key"), F.lit(k)))
        d = d.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        ).withColumn("salt", F.col("salt").cast("bigint"))
        joined = m.join(
            d,
            (m.alias_key == d.alias_key)
            & (m.type == d.dict_type)
            & (m.salt == d.salt),
            "inner",
        )
    return joined.select(*mentions.columns, "entity_id", "canonical_name")
