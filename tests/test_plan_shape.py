"""Plan-shape regression tests: lock in the physical-plan properties the
100 TB story depends on, so a refactor can't silently reintroduce a
duplicated model-forward UDF, a shuffled dictionary join, or a quadratic
cross product.
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tagging_has_exactly_one_arrow_eval(spark):
    """The model forward must appear ONCE in the plan — plain explode()
    over a UDF column makes Catalyst duplicate the ArrowEvalPython node
    into a generator pre-filter (see operators/tagging.py)."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import (
        extract_mentions,
    )
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    plan = _plan(extract_mentions(transcripts_from_documents(spark, SF_DIR)))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_dictionary_join_is_broadcast(spark):
    """The entity-dictionary linking join must be a BroadcastHashJoin —
    shuffling the mention table against a dictionary-sized build side is
    the classic scale mistake."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES

    plan = _plan(SPARK_QUERIES["dict_mentions"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    sorted(
        __import__(
            "pytorch_bert_bilstm_crf_ner_spark.plans.queries",
            fromlist=["SPARK_QUERIES"],
        ).SPARK_QUERIES.keys()
    ),
)
def test_no_cartesian_product_in_registered_plans(spark, name):
    """No registered query may plan a CartesianProduct — the quadratic
    baselines (brute-force cosine) are test oracles, not registered plans.
    BroadcastNestedLoopJoin against an explicitly broadcast-sized side
    (cosine_topk's query set) is allowed; an unbounded cartesian is not."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES

    df = SPARK_QUERIES[name](spark, SF_DIR)
    assert "CartesianProduct" not in _plan(df), name


@pytest.mark.parametrize(
    "name",
    ["cosine_topk", "lsh_ann_topk", "ivf_ann_topk", "embedding_neardup",
     "neardup_clusters"],
)
def test_embedding_dots_run_only_in_arrow_kernels(spark, name):
    """One formulation per operation: every embedding dot, norm and
    centroid score runs in the Arrow numpy kernels (operators/ann.py), so
    the executed plan holds no JVM-side dot — no ``zip_with``/``aggregate``
    fold and no indexed ``embedding[i]`` arithmetic."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES

    plan = _plan(SPARK_QUERIES[name](spark, SF_DIR))
    assert "zip_with" not in plan, plan
    assert not re.search(r"\baggregate\(", plan), plan
    assert not re.search(r"#\d+L?\[\d+\]", plan), plan


def test_simhash_shuffles_only_precombined_votes(spark):
    """simhash (round-6 form) is words-explode + ONE hash aggregation of
    packed word hashes: the partial (map-side) combine must keep shuffle
    volume at docs x (bits+1) pre-combined longs — pinned as at most two
    Exchanges here (tests/test_r6_kernels.py pins exactly one)."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(simhash(docs))
    assert plan.count("Exchange") <= 2, plan
    assert "HashAggregate" in plan, plan


def test_minhash_signatures_single_combined_shuffle(spark):
    """minhash_signatures is one groupBy with K min-aggregates: the
    map-side combine reduces the shuffle to docs x K minima — pinned as
    exactly one Exchange."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    assert plan.count("Exchange") == 1, plan
    # string minima use sort-based aggregation; the property that matters
    # is the map-side partial combine before the exchange
    assert "partial_min" in plan, plan


_PIPELINE_STAGES = (
    "transcripts", "mentions", "canonical", "triples",
)


@pytest.fixture(scope="module")
def pipeline_stages(spark):
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import run_pipeline

    stages = run_pipeline(spark, SF_DIR)
    yield stages
    for df in stages.values():
        df.unpersist()


@pytest.mark.parametrize(
    "kind,name",
    [("query", n) for n in sorted(
        __import__(
            "pytorch_bert_bilstm_crf_ner_spark.plans.queries",
            fromlist=["SPARK_QUERIES"],
        ).SPARK_QUERIES
    )] + [("stage", s) for s in _PIPELINE_STAGES],
)
def test_no_python_rdd_scan(spark, request, kind, name):
    """Driver-resident frames (entity dictionary, driver CC components,
    empty-input frames) are Arrow ``LocalRelation``s: no executed plan
    scans a pickled Python RDD (``Scan ExistingRDD``), so Python runs
    only in the tag UDF and the mapInArrow/mapInPandas kernels, never to
    unpickle rows the driver already held."""
    if kind == "query":
        from pytorch_bert_bilstm_crf_ner_spark.plans.queries import (
            SPARK_QUERIES,
        )

        df = SPARK_QUERIES[name](spark, SF_DIR)
    else:
        df = request.getfixturevalue("pipeline_stages")[name]
    assert "ExistingRDD" not in _plan(df), name


def test_relation_triples_run_one_exchange(spark, pipeline_stages, tmp_path):
    """Every relation comes from one conv_id repartition of the canonical
    stage: the final AQE plan of `relation_triples` over a written
    canonical stage holds exactly one Exchange (windows, generator and
    aggregation all read its partitioning) and no broadcast."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.relations import (
        relation_triples,
    )

    path = str(tmp_path / "canonical")
    pipeline_stages["canonical"].write.parquet(path)
    df = relation_triples(spark.read.parquet(path))
    assert df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    exchanges = [ln for ln in final.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "REPARTITION_BY_COL" in exchanges[0], final
    assert "BroadcastExchange" not in final and "Join" not in final, final


def test_cooccur_triples_run_one_exchange(spark):
    """The registered co-occurrence query is the pipeline's
    `relation_evidence` over the dictionary mentions: its final AQE plan
    holds one conv_id repartition, reused by nothing, and no join but the
    dictionary's broadcast."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import (
        q_cooccur_triples,
    )

    df = q_cooccur_triples(spark, SF_DIR)
    assert df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("REPARTITION_BY_COL") == 1, final
    assert "ReusedExchange" not in final, final
    joins = [ln for ln in final.splitlines() if "Join" in ln]
    assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], final
