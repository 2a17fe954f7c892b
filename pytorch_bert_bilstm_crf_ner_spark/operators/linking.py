"""Mention -> entity-dictionary linking (J5 per SURVEY.md §2.5).

Default path: broadcast-hash join against the small dictionary
(``F.broadcast``) — zero shuffle of the big mentions side.  Fallback path
for dictionaries too large to broadcast: salted repartition join — the big
side gets ``salt = pmod(xxhash64(alias_key), K)``, the dict side is
exploded K ways, and the join key becomes (alias, type, salt) so one hot
alias ("head entity") spreads over K = ``SALT_BUCKETS`` reducers.  AQE
skew-join splitting is enabled globally as the second line of defense.

:func:`canonical_mentions` is the one link step of the batch pipeline and
the stream: mentions straight to canonical entities.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..core.entities import canonical_dict_rows
from ..sources.entity_dict import entity_dict_df

# one canonical mention: a turn delivered twice yields the same keys
CANONICAL_KEY = ["conv_id", "turn_idx", "start", "mention", "canonical_id"]
# reducers one alias spreads over on the salted (non-broadcast) join
SALT_BUCKETS = 16


def link_mentions(
    mentions: DataFrame,
    entity_dict: DataFrame,
    broadcast_dict: bool = True,
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
        k = SALT_BUCKETS
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


def canonical_mentions(mentions: DataFrame, broadcast_dict: bool = True) -> DataFrame:
    """Link straight to canonical entities: the driver-held dictionary is
    canonicalized once (union-find over its alias-sharing graph), so one
    join replaces link -> connected components -> canonicalize.  Every
    (alias, type) key lies in one component, so the rows equal
    `canonicalize_mentions(link_mentions(...), canonical_entities(...))`;
    the dedupe still folds repeated turns."""
    edict = entity_dict_df(mentions.sparkSession, canonical_dict_rows())
    return (
        link_mentions(mentions, edict, broadcast_dict=broadcast_dict)
        .withColumnRenamed("entity_id", "canonical_id")
        .dropDuplicates(CANONICAL_KEY)
    )
