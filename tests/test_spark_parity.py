"""THE P/R >= 0.95 gate: the distributed pipeline must reproduce the
single-process reference extractor's mentions and (subj, pred, obj)
triples on the same turns.  Because both sides share the deterministic
tagger/decoder, parity is exact (P = R = 1.0)."""

from __future__ import annotations

import duckdb
import pytest

from pytorch_bert_bilstm_crf_ner_spark.core import oracle as py_oracle
from pytorch_bert_bilstm_crf_ner_spark.operators.evaluate import get_p_r_f
from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import PipelineConfig, run_pipeline
from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
    TRANSCRIPTS_SQL,
    derive_transcripts_py,
    transcripts_from_documents,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def doc_rows():
    return duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


@pytest.fixture(scope="module")
def golden(doc_rows):
    turns = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in derive_transcripts_py(doc_rows)
    ]
    return py_oracle.run_oracle(turns), turns


@pytest.fixture(scope="module")
def stages(spark):
    return run_pipeline(spark, SF_DIR, PipelineConfig())


def test_transcript_derivation_matches_python_and_sql(spark, golden, doc_rows):
    _, turns = golden
    spark_turns = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in transcripts_from_documents(spark, SF_DIR).collect()
    }
    assert len(spark_turns) == len(turns)
    for conv, idx, text in turns:
        assert spark_turns[(conv, idx)] == text
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    sql_turns = {
        (c, i): t for c, i, _, t, _, _ in con.execute(TRANSCRIPTS_SQL).fetchall()
    }
    assert sql_turns == spark_turns


def test_mention_parity_exact(stages, golden):
    res, _ = golden
    golden_mentions = set(res["mentions"])
    spark_mentions = {
        (r["conv_id"], r["turn_idx"], r["mention"], r["start"], r["type"])
        for r in stages["mentions"].collect()
    }
    assert len(golden_mentions) > 100
    tp = len(spark_mentions & golden_mentions)
    p, r, f1 = get_p_r_f(
        tp, len(spark_mentions) - tp, len(golden_mentions) - tp
    )
    assert p == 1.0 and r == 1.0, (
        f"mention parity broken: P={p} R={r}; "
        f"only_spark={sorted(spark_mentions - golden_mentions)[:5]} "
        f"only_gold={sorted(golden_mentions - spark_mentions)[:5]}"
    )


def test_canonical_parity_exact(stages, golden):
    res, _ = golden
    gold = {
        (conv, idx, mention, start, etype, cid, cname)
        for conv, idx, mention, start, etype, cid, cname in res["canonical"]
    }
    got = {
        tuple(r)
        for r in stages["canonical"]
        .select("conv_id", "turn_idx", "mention", "start", "type",
                "canonical_id", "canonical_name")
        .collect()
    }
    assert got == gold


def test_triple_parity_pr_gate(stages, golden):
    """north_rule gate: triple P/R >= 0.95 (exact here)."""
    res, _ = golden
    gold = {
        (s, p, o, c, t, n) for s, p, o, c, t, n in res["triples"]
    }
    got = {
        tuple(r)
        for r in stages["triples"]
        .select("subj", "pred", "obj", "conv_id", "turn_idx", "n_evidence")
        .collect()
    }
    assert len(gold) > 100
    inter = len(got & gold)
    p, r, f1 = get_p_r_f(inter, len(got) - inter, len(gold) - inter)
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.4f} R={r:.4f} "
        f"only_spark={sorted(got - gold)[:5]} only_gold={sorted(gold - got)[:5]}"
    )
    assert p == 1.0 and r == 1.0  # deterministic weights -> exact


def test_repartition_does_not_change_results(spark, stages):
    """Determinism under parallelism: the pipeline's stages built by hand
    over 7 partitions give the same triples."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.linking import canonical_mentions
    from pytorch_bert_bilstm_crf_ner_spark.operators.relations import relation_triples
    from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions

    transcripts = transcripts_from_documents(spark, SF_DIR)
    alt = relation_triples(canonical_mentions(extract_mentions(transcripts.repartition(7))))
    base = {tuple(r) for r in stages["triples"].collect()}
    other = {tuple(r) for r in alt.collect()}
    assert base == other
