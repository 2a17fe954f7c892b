"""Data augmentation (SURVEY §2 P8/P9, J3, A4, SO1) — the reference's
`data_augment/aug.py` flow as pure DataFrame ops:

  build_entity_inventory  (A4, `aug.py:41-59`): per-type distinct mention
                          inventories;
  template_mask           (P8, `aug.py:46-52`): every mention surface
                          replaced (ALL occurrences, label order) with
                          ``#;#TYPE#;#`` slots;
  synthesize_from_templates (P9+J3, `aug.py:61-123`): refill slots from
                          the inventory, rebuild texts with exact label
                          offsets, ``repeat`` variants per template;
  augment_union           (SO1, `aug.py:119-120`): original ∪ synthetic.

Documented deviation: the reference samples slot fillers WITHOUT
replacement from a mutable pool (`aug.py:99-103`), which is inherently
sequential.  The distributed version picks deterministically by hash
(md5 of doc/repeat/slot + seed — md5, not xxhash64, so the DuckDB
correctness twin can reproduce the picks) — parallel-safe, reproducible
at any partitioning, same diversity intent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# salt of the md5 filler pick, shared with the DuckDB twin
FILLER_SEED = 1234


def build_entity_inventory(mid: DataFrame) -> DataFrame:
    """(type, mentions array<string> sorted) — per-type distinct surface
    inventory (the `aug_data/{TYPE}.txt` analog)."""
    return (
        mid.select(F.explode("labels").alias("lab"))
        .select(F.col("lab.type").alias("type"), F.col("lab.mention").alias("mention"))
        .groupBy("type")
        .agg(F.array_sort(F.collect_set("mention")).alias("mentions"))
    )


def template_mask(mid: DataFrame) -> DataFrame:
    """(doc_id, template): mention surfaces -> #;#TYPE#;# slots, replacing
    ALL occurrences label-by-label exactly like `aug.py:49-51`."""
    tmpl = F.aggregate(
        "labels",
        F.col("text"),
        lambda acc, lab: F.replace(
            acc, lab["mention"], F.concat(F.lit("#;#"), lab["type"], F.lit("#;#"))
        ),
    )
    return mid.select("doc_id", tmpl.alias("template"))


def synthesize_from_templates(
    templates: DataFrame,
    inventory: DataFrame,
    repeat: int = 2,
) -> DataFrame:
    """Templates + inventory -> mid_data-shaped synthetic rows.

    Pipeline: explode repeats x pieces -> broadcast-join type pieces to the
    inventory -> deterministic filler pick -> window cumulative offsets ->
    regroup into (text, labels)."""
    pieces = (
        templates.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(repeat - 1))).alias("rep"),
            F.posexplode(F.split("template", "#;#")).alias("piece_idx", "piece"),
        )
        .filter(F.col("piece") != "")
    )
    inv = inventory.select(F.col("type").alias("piece"), "mentions")
    filled = pieces.join(F.broadcast(inv), "piece", "left").select(
        "doc_id",
        "rep",
        "piece_idx",
        F.col("piece"),
        F.col("mentions").isNotNull().alias("is_slot"),
        F.when(
            F.col("mentions").isNotNull(),
            F.element_at(
                "mentions",
                (
                    F.pmod(
                        # first 12 md5 hex chars as a bigint: the
                        # engine-portable deterministic "random" pick
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        "|", "doc_id", "rep", "piece_idx",
                                        F.lit(FILLER_SEED),
                                    )
                                ),
                                1, 12,
                            ),
                            16, 10,
                        ).cast("bigint"),
                        F.size("mentions"),
                    )
                    + 1
                ).cast("int"),
            ),
        )
        .otherwise(F.col("piece"))
        .alias("filler"),
    )
    w = Window.partitionBy("doc_id", "rep").orderBy("piece_idx")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    filled = filled.withColumn(
        "offset",
        F.coalesce(F.sum(F.length("filler")).over(wprev), F.lit(0)).cast("int"),
    ).withColumn(
        "slot_rank",
        F.sum(F.col("is_slot").cast("int")).over(w).cast("int"),
    )
    label = F.when(
        F.col("is_slot"),
        F.struct(
            F.concat(F.lit("T"), (F.col("slot_rank") - 1).cast("string")).alias(
                "span_id"
            ),
            F.col("piece").alias("type"),
            F.col("offset").alias("start"),
            (F.col("offset") + F.length("filler")).cast("int").alias("end"),
            F.col("filler").alias("mention"),
        ),
    )
    grouped = (
        filled.withColumn("lab", label)
        .groupBy("doc_id", "rep")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("piece_idx", "filler"))),
                    lambda s: s["filler"],
                ),
                "",
            ).alias("text"),
            F.filter(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("piece_idx", F.col("lab").alias("lab")))
                    ),
                    lambda s: s["lab"],
                ),
                lambda x: x.isNotNull(),
            ).alias("labels"),
        )
    )
    # synthetic doc_id = 60-bit md5 of (source doc, repeat): unique w.h.p.,
    # deterministic, overflow-safe for hash-derived source ids, and
    # md5-portable so the DuckDB twin reproduces it
    return grouped.select(
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "doc_id", "rep")), 1, 15),
            16, 10,
        ).cast("bigint").alias("doc_id"),
        "text",
        "labels",
    )


def augment_union(original: DataFrame, synthetic: DataFrame) -> DataFrame:
    """SO1: original ∪ synthetic training set (`aug.py:119-120`)."""
    return original.select("doc_id", "text", "labels").unionByName(
        synthetic.select("doc_id", "text", "labels")
    )
