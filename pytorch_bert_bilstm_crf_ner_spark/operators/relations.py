"""Relation extraction -> (subj, pred, obj) triples.

Two patterns, both keyed (no positional zips — reference J2 replaced by
key-carrying joins):

- **Adjacency (J4)** — generalization of `predict_gdcq.py:97-120`
  ``post_process``: consecutive decoded mentions within a turn (ordered by
  start via a (conv_id, turn_idx) window = the reference's sort at
  `predict_gdcq.py:109`), left type outside the object set, right type
  inside it, no sentence punctuation strictly between them
  (`predict_gdcq.py:115`), both sides linked, distinct canonical ids.
- **Co-occurrence** — linked mentions within ``window`` turns ahead in the
  same conversation.  Implemented as a pure EQUI-join: the left side
  explodes its turn_idx into (turn_idx .. turn_idx+window) probe keys, so
  Catalyst gets a hash-joinable (conv_id, turn) key instead of a range
  predicate — at 100 TB a theta/range join over hot conversations would be
  the bottleneck; the explode costs only (window+1)x on the small mentions
  relation and AQE skew-split handles hot conv_ids.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..core.oracle import RelationConfig

_SEP_PATTERN = "[，,。！!？?]"


def adjacent_relations(
    mentions: DataFrame,
    canonical_mentions: DataFrame,
    transcripts: DataFrame,
    cfg: RelationConfig = RelationConfig(),
) -> DataFrame:
    """-> (conv_id, subj, pred, obj, turn_idx) evidence rows (with
    multiplicity; aggregate in :func:`triples`)."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("start")
    m = (
        mentions.withColumn("nxt_mention", F.lead("mention").over(w))
        .withColumn("nxt_start", F.lead("start").over(w))
        .withColumn("nxt_type", F.lead("type").over(w))
        .filter(
            (~F.col("type").isin(*cfg.adjacent_object_types))
            & F.col("nxt_type").isin(*cfg.adjacent_object_types)
        )
    )
    # fetch the between-text from the turn (substring is 1-based)
    m = m.join(
        transcripts.select("conv_id", "turn_idx", "text"),
        ["conv_id", "turn_idx"],
    ).withColumn(
        "between",
        F.expr("substring(text, start + length(mention) + 1, nxt_start - start - length(mention))"),
    ).filter(~F.col("between").rlike(_SEP_PATTERN))

    left = canonical_mentions.select(
        "conv_id", "turn_idx", "start", "mention",
        F.col("canonical_id").alias("subj_cid"),
    )
    right = canonical_mentions.select(
        "conv_id", "turn_idx",
        F.col("start").alias("nxt_start"),
        F.col("mention").alias("nxt_mention"),
        F.col("canonical_id").alias("obj_cid"),
    )
    return (
        m.join(left, ["conv_id", "turn_idx", "start", "mention"])
        .join(right, ["conv_id", "turn_idx", "nxt_start", "nxt_mention"])
        .filter(F.col("subj_cid") != F.col("obj_cid"))
        .select(
            "conv_id",
            "subj_cid",
            F.lit(cfg.adjacent_pred).alias("pred"),
            "obj_cid",
            "turn_idx",
        )
    )


def cooccurrence_evidence_preagg(
    canonical_mentions: DataFrame,
    cfg: RelationConfig = RelationConfig(),
) -> DataFrame:
    """Pre-aggregated co-occurrence evidence — identical counts to the
    instance-pair path, far less shuffle when entities repeat.

    Split by case:
    - cross-turn (t2 > t1): every instance of cid1@t1 pairs with every
      instance of cid2@t2, so the evidence count is the PRODUCT of the two
      per-(conv, turn, cid) multiplicities — aggregate counts first (rows
      shrink from instances to distinct (turn, cid)), then the explode-to-
      equi-join runs over the compact relation with n1*n2 as weight.
    - same-turn (t2 == t1): direction depends on start order, which a
      product cannot see — that slice stays instance-level (it is bounded
      by mentions-per-turn, not by conversation length).

    Output: (conv_id, subj_cid, pred, obj_cid, turn_idx, n_evidence) —
    already weighted; aggregate with SUM(n_evidence), MIN(turn_idx).
    """
    W = cfg.cooccur_window
    # one conv_id repartition up front: HashPartitioning(conv_id)
    # satisfies (subset rule) the per-turn groupBy, the cross-turn
    # (conv_id, probe_turn) join, the same-turn self-join and their
    # aggregations (conv size is bounded so the partitioning cannot
    # skew).  The branches share that one exchange (the rest of the plan
    # reads it as ReusedExchange) only if each sees the same subtree
    # below it: the used columns and their null filters are fixed here,
    # and the per-turn count reads `start` (non-null, so the same count)
    # so that column pruning gives every branch the same projection.
    cols = ("conv_id", "turn_idx", "start", "canonical_id")
    canonical_mentions = (
        canonical_mentions.select(*cols)
        .filter(" AND ".join(f"{c} IS NOT NULL" for c in cols))
        .repartition(F.col("conv_id"))
    )
    per_turn = canonical_mentions.groupBy(
        "conv_id", "turn_idx", "canonical_id"
    ).agg(F.count("start").alias("n_inst"))

    probe = per_turn.select(
        "conv_id",
        F.col("turn_idx").alias("src_turn"),
        F.col("canonical_id").alias("subj_cid"),
        F.col("n_inst").alias("n_src"),
        F.explode(
            F.sequence(F.col("turn_idx") + 1, F.col("turn_idx") + W)
        ).alias("probe_turn"),
    )
    build = per_turn.select(
        "conv_id",
        F.col("turn_idx").alias("probe_turn"),
        F.col("canonical_id").alias("obj_cid"),
        F.col("n_inst").alias("n_dst"),
    )
    cross_turn = (
        probe.join(build, ["conv_id", "probe_turn"])
        .filter(F.col("subj_cid") != F.col("obj_cid"))
        .select(
            "conv_id",
            "subj_cid",
            F.lit(cfg.cooccur_pred).alias("pred"),
            "obj_cid",
            F.col("src_turn").alias("turn_idx"),
            (F.col("n_src") * F.col("n_dst")).cast("long").alias("n_evidence"),
        )
    )

    a = canonical_mentions.select(
        "conv_id", "turn_idx",
        F.col("start").alias("src_start"),
        F.col("canonical_id").alias("subj_cid"),
    )
    b = canonical_mentions.select(
        "conv_id", "turn_idx",
        F.col("start").alias("dst_start"),
        F.col("canonical_id").alias("obj_cid"),
    )
    same_turn = (
        a.join(b, ["conv_id", "turn_idx"])
        .filter(
            (F.col("subj_cid") != F.col("obj_cid"))
            & (F.col("dst_start") > F.col("src_start"))
        )
        .groupBy("conv_id", "turn_idx", "subj_cid", "obj_cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_evidence"))
        .select(
            "conv_id",
            "subj_cid",
            F.lit(cfg.cooccur_pred).alias("pred"),
            "obj_cid",
            "turn_idx",
            "n_evidence",
        )
    )
    return cross_turn.unionByName(same_turn)


def cooccurrence_relations(
    canonical_mentions: DataFrame,
    cfg: RelationConfig = RelationConfig(),
) -> DataFrame:
    """Directed earlier->later pairs within the turn window, as evidence
    rows (conv_id, subj, pred, obj, turn_idx = earlier turn)."""
    W = cfg.cooccur_window
    probe = canonical_mentions.select(
        "conv_id",
        F.col("turn_idx").alias("src_turn"),
        F.col("start").alias("src_start"),
        F.col("canonical_id").alias("subj_cid"),
        F.explode(
            F.sequence(F.col("turn_idx"), F.col("turn_idx") + W)
        ).alias("probe_turn"),
    )
    build = canonical_mentions.select(
        "conv_id",
        F.col("turn_idx").alias("probe_turn"),
        F.col("start").alias("dst_start"),
        F.col("canonical_id").alias("obj_cid"),
    )
    return (
        probe.join(build, ["conv_id", "probe_turn"])
        .filter(
            (F.col("subj_cid") != F.col("obj_cid"))
            & (
                (F.col("probe_turn") > F.col("src_turn"))
                | (F.col("dst_start") > F.col("src_start"))
            )
        )
        .select(
            "conv_id",
            "subj_cid",
            F.lit(cfg.cooccur_pred).alias("pred"),
            "obj_cid",
            F.col("src_turn").alias("turn_idx"),
        )
    )


def triples(
    mentions: DataFrame,
    canonical_mentions: DataFrame,
    transcripts: DataFrame,
    cfg: RelationConfig = RelationConfig(),
    preagg_cooccurrence: bool = False,
) -> DataFrame:
    """Distinct triples with evidence: (subj, pred, obj, conv_id,
    turn_idx = min evidence turn, n_evidence).

    ``preagg_cooccurrence=True`` swaps the instance-pair co-occurrence for
    :func:`cooccurrence_evidence_preagg` (identical counts, compact
    shuffle — the scale path when entities repeat within conversations;
    equality is pinned by tests)."""
    adj = adjacent_relations(mentions, canonical_mentions, transcripts, cfg).withColumn(
        "n_evidence", F.lit(1).cast("long")
    )
    if preagg_cooccurrence:
        co = cooccurrence_evidence_preagg(canonical_mentions, cfg)
    else:
        co = cooccurrence_relations(canonical_mentions, cfg).withColumn(
            "n_evidence", F.lit(1).cast("long")
        )
    ev = adj.unionByName(co)
    # Evidence rows carry canonical IDS, not names: the wide shuffle (one
    # row per co-occurrence instance) moves two bigints instead of two
    # entity-name strings; names are resolved AFTER the aggregation via a
    # broadcast join against the tiny id->name map.
    agg = ev.groupBy("conv_id", "subj_cid", "pred", "obj_cid").agg(
        F.min("turn_idx").alias("turn_idx"),
        F.sum("n_evidence").alias("n_evidence"),
    )
    names = canonical_mentions.select(
        "canonical_id", "canonical_name"
    ).dropDuplicates(["canonical_id"])
    return (
        agg.join(
            F.broadcast(names.withColumnRenamed("canonical_id", "subj_cid")
                        .withColumnRenamed("canonical_name", "subj")),
            "subj_cid",
        )
        .join(
            F.broadcast(names.withColumnRenamed("canonical_id", "obj_cid")
                        .withColumnRenamed("canonical_name", "obj")),
            "obj_cid",
        )
        .select("subj", "pred", "obj", "conv_id", "turn_idx", "n_evidence")
    )
