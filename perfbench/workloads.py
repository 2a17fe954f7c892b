"""Passes, layer sweeps and output checks for the benchmark workloads.

A *pass* is one closed-loop unit of work, from the input files to a result
forced by an aggregate over every output column (``count`` alone lets
Catalyst prune unevaluated columns).  Its result is a digest per output:
``(row count, bit_xor(xxhash64(<all columns>)))`` - order-insensitive, and
free of the overflow a plain ``sum`` hits under ANSI mode.  The expected
digests come from independent oracles, computed once per input:

* KG triples: ``core/oracle.py::run_oracle``, single-process, cached on
  disk per (input kind, seed, size).
* registered queries: each query's DuckDB twin from ``oracle_sql_dict()``,
  its rows hashed by the same Spark expression.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from pytorch_bert_bilstm_crf_ner_spark.core.decode import bioes_decode_flat
from pytorch_bert_bilstm_crf_ner_spark.core.model import DeterministicTagger
from pytorch_bert_bilstm_crf_ner_spark.core.oracle import run_oracle
from pytorch_bert_bilstm_crf_ner_spark.core.viterbi import viterbi_decode_batch
from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
    canonical_entities,
    canonicalize_mentions,
)
from pytorch_bert_bilstm_crf_ner_spark.operators.linking import link_mentions
from pytorch_bert_bilstm_crf_ner_spark.operators.relations import (
    adjacent_relations,
    cooccurrence_evidence_preagg,
    triples,
)
from pytorch_bert_bilstm_crf_ner_spark.operators.tagging import extract_mentions
from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import PipelineConfig, run_pipeline
from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import entity_dict_df
from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import derive_transcripts_py

TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx", "n_evidence")
TRIPLE_SCHEMA = pa.schema([
    ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("n_evidence", pa.int64()),
])
# Registered queries that no KG workload touches: brute-force ANN
# (operators.ann) and embedding near-dup pairs + star connected components
# (operators.dedup, operators.canonicalize).  Each costs 1-6 s of mostly
# fixed Spark overhead (5-13 jobs), and every run pays a set-up and a cold
# pass besides, so the timed mix is kept this small to fit the contract's
# total time on a loaded 4-vCPU host.  Template augmentation
# (operators.augment, 13 jobs) is timed in traced runs only.
QUERY_MIX = ("cosine_topk", "neardup_clusters")
TRACED_QUERIES = ("augmented_corpus",)
CORE_BATCH = 1024   # rows per Arrow batch in the tag UDF (get_spark default)


def digest(df, cols=None) -> tuple[int, int | None]:
    cols = list(cols or df.columns)
    hashed = ", ".join(f"`{c}`" for c in cols)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({hashed}))").alias("h"),
    ).collect()[0]
    return int(row["n"]), row["h"]


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release(spark, frames) -> None:
    """Pass isolation: drop what a pass cached, so the next pass (or
    layer) is not served from it."""
    for df in frames:
        df.unpersist()
    spark.catalog.clearCache()


# ------------------------------------------------------------------ inputs


def turns_from_table(path: str) -> list[tuple[str, int, str]]:
    t = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
    return list(zip(*(t.column(c).to_pylist() for c in ("conv_id", "turn_idx", "text"))))


def turns_from_documents(sf_dir: str) -> list[tuple[str, int, str]]:
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    rows = zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    return [(r["conv_id"], r["turn_idx"], r["text"]) for r in derive_transcripts_py(rows)]


def golden_triples(cache_dir: str, key: str, turns) -> str:
    """Parquet of ``run_oracle`` triples for ``turns``, cached under
    ``cache_dir`` by ``key`` (input kind, seed and size)."""
    path = os.path.join(cache_dir, f"triples_{key}.parquet")
    if not os.path.exists(path):
        rows = run_oracle(turns)["triples"]
        table = pa.Table.from_pylist(
            [dict(zip(TRIPLE_COLS, r)) for r in rows], schema=TRIPLE_SCHEMA)
        os.makedirs(cache_dir, exist_ok=True)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def twin_tables(sf_dir: str, names=QUERY_MIX + TRACED_QUERIES,
                threads: int = 4) -> dict[str, pa.Table]:
    """Each query's DuckDB twin result over ``sf_dir``."""
    import duckdb

    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import oracle_sql_dict

    sql = oracle_sql_dict()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: con.execute(sql[name]).arrow() for name in names}
    finally:
        con.close()


def twin_digest(spark, table: pa.Table, schema) -> tuple[int, int | None]:
    """Digest of a twin's rows, cast to the Spark query's column types so
    both sides hash identical values."""
    df = spark.createDataFrame(table)
    return digest(df.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in schema]))


# ------------------------------------------------------------------ passes


def kg_write_pass(spark, sf_dir: str, out_dir: str, transcripts_df=None):
    """The production write path of scripts/run_pipeline.py: parquet
    stages, triples partitioned by pred, per-partition lineage.  Returns
    (triples digest, stage frames to release)."""
    stages = run_pipeline(spark, sf_dir, PipelineConfig(output_dir=out_dir),
                          transcripts_df=transcripts_df)
    return digest(stages["triples"], TRIPLE_COLS), list(stages.values())


def query_pass(spark, sf_dir: str, tracer=None, names=QUERY_MIX) -> dict:
    """query_mix: each query of ``names`` once, each forced to evaluate."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES

    out = {}
    for name in names:
        with tracer.span(f"query.{name}") if tracer else nullcontext():
            df = SPARK_QUERIES[name](spark, sf_dir)
            out[name] = (digest(df), df.schema)
    return out


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
            n_files += 1
    return n_bytes, n_files


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------------------- layer sweeps


def kg_layers(spark, tracer, transcripts_df) -> tuple[dict, tuple, int]:
    """Call each public KG layer in turn, labelled and forced, caching its
    output so the next layer is timed alone.  Returns (metrics, triples
    digest, most RDDs the layer calls left persisted beyond the ones cached
    here)."""
    cfg = PipelineConfig()
    cached: list = []
    leaked = 0

    def forced(name, build, persist=True):
        nonlocal leaked
        with tracer.span(name) as rec:
            df = build()
            if persist:
                df = df.persist()
                cached.append(df)
            rec["rows"], _h = digest(df)
        leaked = max(leaked, persistent_rdds(spark) - len(cached))
        return df, rec["rows"]

    m = {}
    try:
        t, m["transcripts.rows"] = forced(
            "transcripts",
            lambda: transcripts_df.repartition(spark.sparkContext.defaultParallelism))
        ment, m["tagging.mentions_out"] = forced(
            "tagging", lambda: extract_mentions(t, cfg.tagger))
        # every generated turn has text, so none is filtered before the UDF
        m["tagging.turns_in"] = m["transcripts.rows"]
        edict = entity_dict_df(spark)
        linked, m["linking.rows_out"] = forced(
            "linking", lambda: link_mentions(ment, edict, broadcast_dict=cfg.broadcast_dict))
        m["linking.hit_ratio"] = m["linking.rows_out"] / max(m["tagging.mentions_out"], 1)
        canon, _ = forced("canonicalize.entities", lambda: canonical_entities(edict))
        cm, m["canonicalize.rows_out"] = forced(
            "canonicalize.mentions", lambda: canonicalize_mentions(linked, canon))
        _, n_adj = forced("relations.adjacent",
                          lambda: adjacent_relations(ment, cm, t, cfg.relations), persist=False)
        _, n_co = forced("relations.cooccur",
                         lambda: cooccurrence_evidence_preagg(cm, cfg.relations), persist=False)
        m["relations.evidence_rows"] = n_adj + n_co
        with tracer.span("relations.triples"):
            got = digest(triples(ment, cm, t, cfg.relations,
                                 preagg_cooccurrence=cfg.preagg_cooccurrence), TRIPLE_COLS)
        leaked = max(leaked, persistent_rdds(spark) - len(cached))
        m["relations.triples_out"] = got[0]
    finally:
        release(spark, cached)
    for name, key in (("transcripts", "transcripts.s"), ("tagging", "tagging.s"),
                      ("linking", "linking.s"),
                      ("canonicalize.entities", "canonicalize.entities_s"),
                      ("canonicalize.mentions", "canonicalize.mentions_s"),
                      ("relations.adjacent", "relations.adjacent_s"),
                      ("relations.cooccur", "relations.cooccur_s"),
                      ("relations.triples", "relations.triples_s")):
        m[key] = tracer.seconds(name)
    return m, got, leaked


def core_timings(texts: list[str]) -> dict:
    """Single-process time of the tag UDF's Python body on the same turns,
    split into emission gather, Viterbi and BIOES decode."""
    tagger = DeterministicTagger(PipelineConfig().tagger)
    texts = [t for t in texts if t]
    tagger.tag_batch(texts[:64])  # build the char table and decode memo
    em_s = vit_s = dec_s = 0.0
    for i in range(0, len(texts), CORE_BATCH):
        chunk = texts[i:i + CORE_BATCH]
        t0 = time.perf_counter()
        em, lengths = tagger.emissions(chunk)
        t1 = time.perf_counter()
        seqs = viterbi_decode_batch(em, lengths, tagger.start_transitions,
                                    tagger.transitions, tagger.end_transitions)
        t2 = time.perf_counter()
        for seq, text in zip(seqs, chunk):
            bioes_decode_flat(seq, text, tagger.id2ent)
        t3 = time.perf_counter()
        em_s, vit_s, dec_s = em_s + t1 - t0, vit_s + t2 - t1, dec_s + t3 - t2
    return {"core.emissions_s": em_s, "core.viterbi_s": vit_s, "core.decode_s": dec_s}
