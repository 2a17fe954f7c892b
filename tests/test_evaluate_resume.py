"""Eval join + report, salted-linking parity, pipeline kill-and-resume,
stage lineage and the cost of a stage write."""

from __future__ import annotations

import os
import re
import shutil

import pytest

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


def test_salted_linking_matches_broadcast(spark, monkeypatch):
    from pytorch_bert_bilstm_crf_ner_spark.operators import linking
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import entity_dict_df
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    m = extract_mentions(transcripts_from_documents(spark, SF_DIR)).persist()
    m.count()
    ed = entity_dict_df(spark)
    a = {tuple(r) for r in linking.link_mentions(m, ed, broadcast_dict=True).collect()}
    monkeypatch.setattr(linking, "SALT_BUCKETS", 7)
    b = {tuple(r) for r in linking.link_mentions(m, ed, broadcast_dict=False).collect()}
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


STAGES = ("mentions", "triples")


def _run_ids(spark, out, stage):
    return {r["run_id"] for r in spark.read.parquet(f"{out}/_lineage/{stage}").collect()}


def test_stage_without_lineage_is_rerun(spark, tmp_path):
    """A run killed between a stage's data write and its lineage write
    leaves the stage not done: the rerun writes it (and its lineage) again
    and leaves the other stages alone."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = str(tmp_path / "kg")
    run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=out), run_id="r1")
    shutil.rmtree(f"{out}/_lineage/mentions")
    run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=out), run_id="r2")
    assert _run_ids(spark, out, "mentions") == {"r2"}
    assert _run_ids(spark, out, "triples") == {"r1"}


def _jobs_in_group(sc, group, action):
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("partition_by", [(), ("pred",)], ids=["flat", "by_pred"])
def test_stage_write_adds_no_jobs(spark, tmp_path, partition_by):
    """Lineage and read-back run no Spark job: _write_stage costs exactly
    what a bare parquet write of the same frame costs."""
    import pyspark.sql.functions as F

    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import _write_stage

    df = (spark.range(0, 3000, numPartitions=4)
          .withColumn("pred", F.concat(F.lit("p"), (F.col("id") % 3).cast("string")))
          .repartition(4))

    def bare():
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(tmp_path / "bare"))

    sc = spark.sparkContext
    g = f"stage-write-{tmp_path.name}"
    n_bare = _jobs_in_group(sc, f"{g}/bare", bare)
    n_stage = _jobs_in_group(
        sc, f"{g}/stage",
        lambda: _write_stage(df, str(tmp_path / "out"), "s", "r1", partition_by))
    assert n_bare >= 1 and n_stage == n_bare


def test_fresh_run_writes_only_mentions_and_triples(spark, tmp_path):
    """Only the stages dear to recompute are written: the tag UDF's
    mentions and the graph table, each with its lineage.  Transcripts
    are the input itself and canonical rows are rebuilt from mentions."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = tmp_path / "kg"
    run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=str(out)), run_id="r1")
    assert sorted(os.listdir(out)) == ["_lineage", *STAGES]
    assert sorted(os.listdir(out / "_lineage")) == list(STAGES)


def _digest(df):
    cols = ", ".join(f"`{c}`" for c in df.columns)
    return tuple(df.selectExpr("count(1)", f"bit_xor(xxhash64({cols}))").first())


def _sql_plans_since(spark, execution_id):
    """Final physical plan text of every SQL execution after
    ``execution_id``, from the session's SQL status store."""
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        if e.executionId() > execution_id:
            plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def test_resumed_triples_read_written_mentions(spark, tmp_path):
    """With mentions done and triples gone, the rerun's one write is the
    triples stage: its executed plan scans the written mentions, runs no
    tag UDF (no ArrowEvalPython) and rebuilds the same triples."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = str(tmp_path / "kg")
    cfg = PipelineConfig(output_dir=out)
    want = _digest(run_pipeline(spark, SF_DIR, cfg, run_id="r1")["triples"])
    shutil.rmtree(f"{out}/triples")
    last = max(_sql_plans_since(spark, -1), default=-1)
    got = run_pipeline(spark, SF_DIR, cfg, run_id="r2")["triples"]
    writes = [p for p in _sql_plans_since(spark, last).values()
              if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1, writes
    assert f"{out}/mentions]" in writes[0], writes[0]
    assert "ArrowEvalPython" not in writes[0], writes[0]
    assert _digest(got) == want and want[0] > 0


def test_triples_stage_write_runs_four_jobs(spark, tmp_path):
    """The triples stage reads the written mentions, links them and writes
    the graph table: a resumed run whose only missing stage is the
    triples runs exactly four Spark jobs more than a resumed run with
    nothing to do — the dictionary broadcast of the link join, the
    shuffle map stage of the canonical dedupe, the shuffle map stage of
    the conv_id exchange, and the write."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = str(tmp_path / "kg")
    cfg = PipelineConfig(output_dir=out)
    run_pipeline(spark, SF_DIR, cfg, run_id="r1")
    sc, g = spark.sparkContext, f"triples-write-{tmp_path.name}"
    n_done = _jobs_in_group(sc, f"{g}/done",
                            lambda: run_pipeline(spark, SF_DIR, cfg, run_id="r2"))
    shutil.rmtree(f"{out}/triples")
    n_triples = _jobs_in_group(sc, f"{g}/triples",
                               lambda: run_pipeline(spark, SF_DIR, cfg, run_id="r3"))
    assert n_triples - n_done == 4
    assert _run_ids(spark, out, "triples") == {"r3"}
    assert _run_ids(spark, out, "mentions") == {"r1"}


def test_resumed_run_with_every_stage_done_runs_no_job(spark, tmp_path):
    """Nothing to recompute costs nothing: the documents are read with
    their footer's schema and every stage with its known one, so no job
    infers a schema."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    cfg = PipelineConfig(output_dir=str(tmp_path / "kg"))
    run_pipeline(spark, SF_DIR, cfg, run_id="r1")
    n = _jobs_in_group(spark.sparkContext, f"resume-done-{tmp_path.name}",
                       lambda: run_pipeline(spark, SF_DIR, cfg, run_id="r2"))
    assert n == 0


def test_lazy_pipeline_runs_no_job_and_caches_nothing(spark):
    """Building the registered kg_triples query (``run_pipeline`` without
    ``output_dir``) runs no Spark job, and counting it leaves no RDD
    persisted (RDD ids compared as sets: the context cleaner may release
    an earlier test's RDD meanwhile)."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import q_kg_triples

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    built = []
    assert _jobs_in_group(sc, "kg-triples-build",
                          lambda: built.append(q_kg_triples(spark, SF_DIR))) == 0
    assert built[0].count() > 0
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before


def test_documents_read_with_their_own_schema(spark, tmp_path):
    """A documents file without ``text`` fails at plan build instead of
    reading as nulls (zero mentions); a directory-shaped table reads the
    same rows as the file."""
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    (tmp_path / "no_text").mkdir()
    pq.write_table(docs.drop(["text"]),
                   str(tmp_path / "no_text" / "documents.parquet"))
    with pytest.raises(AnalysisException, match="text"):
        transcripts_from_documents(spark, str(tmp_path / "no_text"))

    (tmp_path / "as_dir" / "documents.parquet").mkdir(parents=True)
    pq.write_table(docs, str(tmp_path / "as_dir" / "documents.parquet"
                             / "part-00000.parquet"))
    got = transcripts_from_documents(spark, str(tmp_path / "as_dir"))
    want = transcripts_from_documents(spark, SF_DIR)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_lineage_describes_written_files(spark, tmp_path):
    """One lineage row per part file: its footer's row count, the writing
    task's partition from the file name, its path under the stage dir.
    Fresh and resumed runs read every stage back with the schema that
    parquet schema inference gives."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = str(tmp_path / "kg")
    fresh = run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=out), run_id="r1")
    for stage in STAGES:
        parts = sorted(
            os.path.relpath(os.path.join(d, fn), f"{out}/{stage}")
            for d, _dirs, files in os.walk(f"{out}/{stage}")
            for fn in files if fn.startswith("part-") and fn.endswith(".parquet"))
        rows = spark.read.parquet(f"{out}/_lineage/{stage}").collect()
        assert sorted(r["file"] for r in rows) == parts, stage
        assert sum(r["n_rows"] for r in rows) == fresh[stage].count(), stage
        for r in rows:
            num = re.match(r"part-(\d{5})-", os.path.basename(r["file"])).group(1)
            assert r["partition_id"] == int(num), r
            assert (r["stage"], r["run_id"]) == (stage, "r1")
            if stage == "triples":
                assert os.path.dirname(r["file"]).startswith("pred="), r

    resumed = run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=out), run_id="r2")
    for stage in STAGES:
        assert resumed[stage].schema == fresh[stage].schema, stage
        assert fresh[stage].schema == spark.read.parquet(f"{out}/{stage}").schema, stage
        assert _run_ids(spark, out, stage) == {"r1"}
    assert fresh["triples"].columns == [
        "subj", "obj", "conv_id", "turn_idx", "n_evidence", "pred"]


def test_evaluate_extractor_job(spark):
    """E2 eval flow: gold derived from the tagger's own output must score
    perfect micro F1; corrupted gold must not."""
    import pyspark.sql.functions as F

    from pytorch_bert_bilstm_crf_ner_spark.core.model import DeterministicTagger
    from pytorch_bert_bilstm_crf_ner_spark.operators.evaluate import classification_report
    from pytorch_bert_bilstm_crf_ner_spark.plans.eval_job import evaluate_extractor

    from .conftest import MID_SCHEMA

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


def test_evaluate_extractor_runs_the_model_once(spark):
    """tp, fp and fn come from one full-outer pass over the predicted
    spans (`span_metrics_by_type`), so the micro row's plan runs the tag
    UDF once: one ArrowEvalPython node, not one per semi/anti join."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.eval_job import evaluate_extractor

    from .conftest import MID_SCHEMA

    mid = spark.createDataFrame(
        [(0, "run a table scan then hash join on the customer line", []),
         (1, "spark query uses merge sort and a small window batch", [])],
        MID_SCHEMA,
    )
    _, micro = evaluate_extractor(mid)
    plan = micro._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


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
    """The driver-side union-find fast path and the
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
    """Single full-outer flag aggregation, one Spark action: P/R over
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


def test_relation_triples_match_oracle_with_repeated_entities(spark):
    """`relation_triples` equals `core/oracle.py::relation_triples` fed the
    same mentions, canonical rows and turns, on synthetic transcripts
    whose entities repeat within and across turns (evidence counts > 1)."""
    from pytorch_bert_bilstm_crf_ner_spark.core import oracle
    from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
        canonical_entities,
        canonicalize_mentions,
    )
    from pytorch_bert_bilstm_crf_ner_spark.operators.linking import link_mentions
    from pytorch_bert_bilstm_crf_ner_spark.operators.relations import (
        relation_triples,
    )
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import entity_dict_df
    from pytorch_bert_bilstm_crf_ner_spark.sources.synth import synth_transcripts

    tr = synth_transcripts(spark, 300, partitions=4).persist()
    m = extract_mentions(tr).persist()
    ed = entity_dict_df(spark)
    cm = canonicalize_mentions(link_mentions(m, ed), canonical_entities(ed)).persist()
    try:
        turns = [tuple(r) for r in tr.select("conv_id", "turn_idx", "text").collect()]
        mentions = [tuple(r) for r in
                    m.select("conv_id", "turn_idx", "mention", "start", "type").collect()]
        canonical = [tuple(r) for r in cm.select(
            "conv_id", "turn_idx", "mention", "start", "type",
            "canonical_id", "canonical_name").collect()]
        want = oracle.relation_triples(mentions, canonical, turns)
        got = sorted(tuple(r) for r in relation_triples(cm).collect())
        assert got == want
        assert len(got) > 1000
        assert any(r[1] == "has_attribute" for r in got)
        assert max(r[5] for r in got) > 1
    finally:
        for df in (tr, m, cm):
            df.unpersist()
