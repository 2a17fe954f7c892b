"""Relation extraction -> (subj, pred, obj) triples.

Every relation comes from ONE ``repartition(conv_id)`` of the canonical
mentions, read by two window frames and one generator, with no join after
it: ``HashPartitioning(conv_id)`` satisfies a window or an aggregation
keyed by (conv_id, ...) but not a join, so both per-conversation pair
patterns are written as frames.

- **Adjacency (J4)** — generalization of `predict_gdcq.py:97-120`
  ``post_process``: consecutive decoded mentions within a turn, left type
  outside the object set, right type inside it, no sentence punctuation
  strictly between them (`predict_gdcq.py:115`), both sides linked,
  distinct canonical ids.  The tag UDF already checked the text: each
  span's ``adj_start`` is the start of the turn's next decoded span when
  no separator lies between them (`operators/tagging.py`).  Here a
  ``lead`` over the turn's LINKED spans (ordered by start) finds the next
  linked span; the pair holds when it starts at ``adj_start`` (so the next
  decoded span is itself linked) and the type rule holds.
- **Co-occurrence** — linked mentions within ``COOCCUR_WINDOW`` turns
  ahead in the same conversation, directed earlier -> later (same turn:
  later start).  A ``rangeBetween(0, window)`` frame over the
  conversation's turns collects the candidates; one explode and a filter
  keep the later ones with a different canonical id.

Names travel with the rows (``canonical_name``), so the triples need no
name lookup: the plan is one Exchange, two Windows, a Generate and the
final HashAggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..core.pairing import (
    ADJACENT_OBJECT_TYPES,
    ADJACENT_PRED,
    COOCCUR_PRED,
    COOCCUR_WINDOW,
)


def relation_evidence(canonical_mentions: DataFrame) -> DataFrame:
    """-> one row per relation instance: (conv_id, subj_cid, subj, pred,
    obj_cid, obj, turn_idx, obj_turn), ``turn_idx`` the subject's turn and
    ``obj_turn`` the object's.

    ``canonical_mentions`` needs conv_id, turn_idx, start, type, adj_start,
    canonical_id and canonical_name.  Those columns are projected and their
    keys null-filtered before the single ``repartition(conv_id)``."""
    cols = ("conv_id", "turn_idx", "start", "type", "adj_start",
            "canonical_id", "canonical_name")
    keys = ("conv_id", "turn_idx", "start", "canonical_id")
    cm = (
        canonical_mentions.select(*cols)
        .filter(" AND ".join(f"{c} IS NOT NULL" for c in keys))
        .repartition(F.col("conv_id"))
    )
    item = F.struct(
        F.col("turn_idx"), F.col("start"),
        F.col("canonical_id").alias("cid"), F.col("canonical_name").alias("name"),
    )
    in_turn = Window.partitionBy("conv_id", "turn_idx").orderBy("start")
    adjacent = F.when(
        ~F.col("type").isin(*ADJACENT_OBJECT_TYPES)
        & (F.lead("start").over(in_turn) == F.col("adj_start"))
        & F.lead("type").over(in_turn).isin(*ADJACENT_OBJECT_TYPES),
        F.lead(item).over(in_turn),
    )
    ahead = F.collect_list(item).over(
        Window.partitionBy("conv_id").orderBy("turn_idx")
        .rangeBetween(0, COOCCUR_WINDOW)
    )
    # A window function and a generator cannot share one select: the
    # frames are computed first, then one posexplode emits the adjacency
    # object (position 0, null unless the pair holds) and the
    # co-occurrence candidates (positions 1..).
    framed = cm.select(
        "conv_id", "turn_idx", "start", "canonical_id", "canonical_name",
        adjacent.alias("adj"), ahead.alias("ahead"),
    )
    exploded = framed.select(
        "conv_id", "turn_idx", "start", "canonical_id", "canonical_name",
        F.posexplode(F.concat(F.array("adj"), F.col("ahead"))).alias("pos", "o"),
    )
    o = F.col("o")
    later = (o["turn_idx"] > F.col("turn_idx")) | (
        (o["turn_idx"] == F.col("turn_idx")) & (o["start"] > F.col("start"))
    )
    return (
        exploded.filter(
            o.isNotNull()
            & (o["cid"] != F.col("canonical_id"))
            & ((F.col("pos") == 0) | later)
        )
        .select(
            "conv_id",
            F.col("canonical_id").alias("subj_cid"),
            F.col("canonical_name").alias("subj"),
            F.when(F.col("pos") == 0, F.lit(ADJACENT_PRED))
            .otherwise(F.lit(COOCCUR_PRED)).alias("pred"),
            o["cid"].alias("obj_cid"),
            o["name"].alias("obj"),
            "turn_idx",
            o["turn_idx"].alias("obj_turn"),
        )
    )


def relation_triples(canonical_mentions: DataFrame) -> DataFrame:
    """Distinct triples with evidence: (subj, pred, obj, conv_id,
    turn_idx = min evidence turn, n_evidence).  The aggregation is keyed
    by conv_id, so it reads :func:`relation_evidence`'s partitioning with
    no further exchange."""
    return (
        relation_evidence(canonical_mentions)
        .groupBy("conv_id", "subj_cid", "subj", "pred", "obj_cid", "obj")
        .agg(F.min("turn_idx").alias("turn_idx"),
             F.count(F.lit(1)).alias("n_evidence"))
        .select("subj", "pred", "obj", "conv_id", "turn_idx", "n_evidence")
    )


# The three functions below are views over relation_evidence /
# relation_triples kept for callers written against the earlier
# join-based operators; their extra parameters, ``cfg`` among them, are
# not read.


def adjacent_relations(
    mentions: DataFrame,
    canonical_mentions: DataFrame,
    transcripts: DataFrame,
    cfg,
) -> DataFrame:
    """-> (conv_id, subj_cid, pred, obj_cid, turn_idx) adjacency evidence
    rows, with multiplicity: :func:`relation_evidence` filtered on
    ``ADJACENT_PRED``.

    ``mentions`` and ``transcripts`` are not read (the text check moved
    into the tag UDF's ``adj_start``); they go when the benchmark's layer
    sweep is re-pointed at :func:`relation_evidence`."""
    return (
        relation_evidence(canonical_mentions)
        .filter(F.col("pred") == ADJACENT_PRED)
        .select("conv_id", "subj_cid", "pred", "obj_cid", "turn_idx")
    )


def cooccurrence_evidence_preagg(canonical_mentions: DataFrame, cfg) -> DataFrame:
    """-> (conv_id, subj_cid, pred, obj_cid, turn_idx, n_evidence):
    :func:`relation_evidence` filtered on ``COOCCUR_PRED`` and counted
    per (conv_id, subj_cid, pred, obj_cid, turn_idx, object turn), the
    grain of the earlier pre-aggregated operator.  Aggregate with
    SUM(n_evidence), MIN(turn_idx).  It goes when the benchmark's layer
    sweep is re-pointed at :func:`relation_evidence`."""
    return (
        relation_evidence(canonical_mentions)
        .filter(F.col("pred") == COOCCUR_PRED)
        .groupBy("conv_id", "subj_cid", "pred", "obj_cid", "turn_idx", "obj_turn")
        .agg(F.count(F.lit(1)).alias("n_evidence"))
        .drop("obj_turn")
    )


def triples(
    mentions: DataFrame,
    canonical_mentions: DataFrame,
    transcripts: DataFrame,
    cfg,
    preagg_cooccurrence: bool = False,
) -> DataFrame:
    """:func:`relation_triples` of ``canonical_mentions``.

    ``mentions``, ``transcripts``, ``cfg`` and ``preagg_cooccurrence`` are
    not read; they go when the benchmark's layer sweep is re-pointed at
    :func:`relation_triples`."""
    return relation_triples(canonical_mentions)
