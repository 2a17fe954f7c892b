#!/usr/bin/env python3
"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; extra benchmarks live here per the optimization-round rules).

Modes:
  --queries [name ...]   noop-sink-isolated per-query timing (guide §1.4),
                         best-of-N (default 3), job-labelled.
  --pipeline             per-stage breakdown of the warm KG pipeline:
                         transcripts materialize, tag-UDF count, canonical,
                         triples count — each labelled, timed separately.
  --tagger [n_turns]     single-process DeterministicTagger throughput
                         (no Spark): isolates python model cost from the
                         distribution layer.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); the core count
is ``get_spark``'s (SPARK_GRAFT_CPUS, else the CPU affinity mask), and
the Spark modes print the session's defaultParallelism.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPEATS", "3"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def bench_queries(names: list[str]) -> None:
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES
    from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark

    spark = get_spark(app_name="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    out = {}
    for name in names or sorted(SPARK_QUERIES):
        fn = SPARK_QUERIES[name]
        samples = []
        for i in range(REPEATS):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.time()
            _noop(fn(spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    parallelism = spark.sparkContext.defaultParallelism
    spark.stop()
    print(json.dumps({"sf_dir": SF_DIR, "default_parallelism": parallelism,
                      "queries": out}))


def bench_pipeline_stages() -> None:
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark

    spark = get_spark(app_name="bench-extra-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def one_run() -> dict:
        times: dict[str, float] = {}
        t_all = time.time()
        cfg = PipelineConfig()
        st = run_pipeline(spark, SF_DIR, cfg)
        # building the stages runs no job; each action below runs the
        # plan it needs, the tag UDF included
        t0 = time.time()
        times["build"] = round(t0 - t_all, 3)
        spark.sparkContext.setJobDescription("triples count")
        st["triples"].count()
        times["triples_count"] = round(time.time() - t0, 3)
        t0 = time.time()
        spark.sparkContext.setJobDescription("transcripts count")
        st["transcripts"].count()
        times["transcripts_count"] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        for df in st.values():
            try:
                df.unpersist()
            except Exception:
                pass
        times["total"] = round(time.time() - t_all, 3)
        return times

    parallelism = spark.sparkContext.defaultParallelism
    one_run()  # cold
    for _ in range(3):
        print(json.dumps({**one_run(), "default_parallelism": parallelism}),
              flush=True)
    spark.stop()


def bench_tagger(n_turns: int = 24850) -> None:
    from pytorch_bert_bilstm_crf_ner_spark.core.model import DeterministicTagger
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
        derive_transcripts_py,
    )
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    rows = list(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    turns = [r["text"] for r in derive_transcripts_py(rows)][:n_turns]
    tagger = DeterministicTagger()
    tagger.tag_batch(turns[:64])  # warm caches
    t0 = time.time()
    batch = 1024
    n_spans = 0
    for i in range(0, len(turns), batch):
        for row in tagger.tag_batch(turns[i : i + batch]):
            n_spans += len(row)
    dt = time.time() - t0
    print(json.dumps({
        "turns": len(turns), "spans": n_spans, "sec": round(dt, 3),
        "turns_per_sec_1core": round(len(turns) / dt, 1),
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "--queries"
    if mode == "--queries":
        bench_queries(sys.argv[2:])
    elif mode == "--pipeline":
        bench_pipeline_stages()
    elif mode == "--tagger":
        bench_tagger(int(sys.argv[2]) if len(sys.argv) > 2 else 24850)
    else:
        raise SystemExit(f"unknown mode {mode}")
