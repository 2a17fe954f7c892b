"""End-to-end KG-construction pipeline with per-stage checkpoint/lineage
resume.

Stages (SURVEY.md §3 "Spark lifecycle"):
  transcripts -> mentions (Arrow-batched tag UDF) -> linked (broadcast
  dict join) -> canonical (CC canonicalization) -> triples (adjacency +
  windowed co-occurrence) -> partitioned graph table.

Resume semantics (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"): every materialized stage writes
  <out>/<stage>/            stage rows (parquet, _SUCCESS marker)
  <out>/_lineage/<stage>/   per-partition lineage rows
                            (stage, partition_id, n_rows, written_at run id)
A rerun with the same output dir skips every stage whose _SUCCESS exists
and reads it back instead of recomputing — kill the job between stages and
relaunch, and only the missing stages run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..core.model import TaggerConfig
from ..core.oracle import RelationConfig
from ..operators.canonicalize import canonical_entities, canonicalize_mentions
from ..operators.linking import link_mentions
from ..operators.relations import triples as build_triples
from ..operators.tagging import extract_mentions
from ..sources.entity_dict import entity_dict_df
from ..sources.transcripts import transcripts_from_documents


@dataclass
class PipelineConfig:
    tagger: TaggerConfig = field(default_factory=TaggerConfig)
    relations: RelationConfig = field(default_factory=RelationConfig)
    words_per_turn: int = 12
    broadcast_dict: bool = True
    repartition: int | None = None     # parallelism of the UDF stage
    output_dir: str | None = None      # None = fully lazy, no materialization
    # pre-aggregated co-occurrence evidence counting (identical triples,
    # equality-pinned by tests): the default, because the instance-pair
    # join's shuffle grows with mention multiplicity squared per turn while
    # the preagg shuffle is bounded by distinct (conv, turn, entity).
    # False = the instance-level debug path.
    preagg_cooccurrence: bool = True
    # Directory of a numpy-weights model checkpoint (`core/checkpoint.py`).
    # Set, the tag UDF runs from the checkpoint's weights: read ONCE on
    # the driver, sc.broadcast to executors, tagger rebuilt once per task
    # (partition) — the production serve-from-trained-weights path
    # (reference `utils/trainUtils.py:86-115`).  None = cfg.tagger's
    # seeded weights.
    checkpoint_dir: str | None = None


def _stage_done(out: str, stage: str) -> bool:
    return os.path.exists(os.path.join(out, stage, "_SUCCESS"))


def _write_stage(df: DataFrame, out: str, stage: str, run_id: str,
                 partition_by: tuple[str, ...] = ()) -> DataFrame:
    """Materialize a stage + its per-partition lineage, then read back."""
    spark = df.sparkSession
    path = os.path.join(out, stage)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    lineage = (
        spark.read.parquet(path)
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("stage", F.lit(stage))
        .withColumn("run_id", F.lit(run_id))
    )
    lineage.write.mode("overwrite").parquet(os.path.join(out, "_lineage", stage))
    return spark.read.parquet(path)


def _materialize(df: DataFrame, out: str | None, stage: str, run_id: str,
                 partition_by: tuple[str, ...] = ()) -> DataFrame:
    if out is None:
        return df
    if _stage_done(out, stage):
        return df.sparkSession.read.parquet(os.path.join(out, stage))
    return _write_stage(df, out, stage, run_id, partition_by)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    cfg: PipelineConfig | None = None,
    run_id: str = "run0",
    transcripts_df: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Build every stage; returns all stage DataFrames.  With
    ``cfg.output_dir`` set, stages are materialized with lineage and a
    rerun resumes from the last completed stage.  ``transcripts_df``
    overrides the documents-derived input (e.g. a synthesized bench table
    or a real Iceberg transcripts table)."""
    cfg = cfg or PipelineConfig()
    out = cfg.output_dir

    transcripts = (
        transcripts_df
        if transcripts_df is not None
        else transcripts_from_documents(spark, sf_dir, cfg.words_per_turn)
    )
    # Units of parallel model work for the UDF stage.  Tagging is per-turn
    # (no co-location requirement — downstream windows/joins shuffle on
    # their own keys), so round-robin gives the best load balance and makes
    # one hot conversation harmless here.
    n_part = cfg.repartition or spark.sparkContext.defaultParallelism
    transcripts = transcripts.repartition(n_part)
    transcripts = _materialize(transcripts, out, "transcripts", run_id)
    # mentions/canonical/transcripts each feed 2+ downstream branches; when
    # stages aren't materialized to parquet, cache them.  Only the stage
    # guarding the EXPENSIVE model-forward UDF (mentions) gets an eager
    # count — a lazy cache can be materialized concurrently by sibling
    # branches of one action, and re-running the tag UDF is the one
    # unaffordable recompute.  The cheap stages persist lazily: every
    # extra count() is a scheduling barrier whose fixed latency caps
    # scaling (Amdahl) on short jobs.
    if out is None:
        transcripts = transcripts.persist()

    tagger_factory = None
    if cfg.checkpoint_dir is not None:
        from ..core.checkpoint import broadcast_tagger_factory

        tagger_factory = broadcast_tagger_factory(spark, cfg.checkpoint_dir)
    mentions = extract_mentions(transcripts, cfg.tagger,
                                tagger_factory=tagger_factory)
    mentions = _materialize(mentions, out, "mentions", run_id)
    if out is None:
        mentions = mentions.persist()
        mentions.count()

    edict = entity_dict_df(spark)
    linked = link_mentions(mentions, edict, broadcast_dict=cfg.broadcast_dict)
    canon = canonical_entities(edict)
    canonical = canonicalize_mentions(linked, canon)
    canonical = _materialize(canonical, out, "canonical", run_id)
    if out is None:
        canonical = canonical.persist()

    trip = build_triples(
        mentions, canonical, transcripts, cfg.relations,
        preagg_cooccurrence=cfg.preagg_cooccurrence,
    )
    # graph table partitioned by predicate — partition pruning for
    # per-relation queries (Iceberg would add days(ts) etc.)
    trip = _materialize(trip, out, "triples", run_id, partition_by=("pred",))

    return {
        "transcripts": transcripts,
        "mentions": mentions,
        "linked": linked,
        "canonical": canonical,
        "triples": trip,
    }
