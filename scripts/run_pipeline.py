#!/usr/bin/env python3
"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (the north_rule's deployment shape):

    python scripts/make_pyfiles.py                      # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        --master <cluster-master> \
        --driver-java-options "-XX:CompileThresholdScaling=4" \
        scripts/run_pipeline.py \
        --input /path/to/sf_dir --output /path/to/out --run-id run42

spark-submit starts the driver JVM itself, so ``get_spark`` cannot give it
the engine's JIT policy (``plans/session.py::JIT_OPTIONS``); the
``--driver-java-options`` line does.

Local sandbox run:

    python scripts/run_pipeline.py --input /root/testdata/sf0.001 \
        --output /tmp/kg_out

The job writes two stages, <output>/mentions (the tag UDF's output) and
<output>/triples (the graph table, partitioned by pred), and is
resumable: rerun with the same --output and a completed stage is skipped
(triples are rebuilt from written mentions without tagging again).  Each
stage's lineage is one parquet file under <output>/_lineage/<stage>/
with one row per written part file: (partition_id int, n_rows bigint,
stage string, run_id string, file string) — the writing task's
partition, the file footer's row count and the file's path relative to
<output>/<stage>.  The turn count reads the input, so it runs no
shuffle."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir with documents.parquet (or transcripts)")
    ap.add_argument("--output", default=None)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--cores", type=int, default=None, help="local mode cores")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # launched via spark-submit with its own master
        spark = active
        from pytorch_bert_bilstm_crf_ner_spark.plans.session import ship_package

        ship_package(spark)
    else:
        from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark

        spark = get_spark(app_name="kg-pipeline", cores=args.cores)

    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    t0 = time.time()
    stages = run_pipeline(
        spark,
        args.input,
        PipelineConfig(output_dir=args.output),
        run_id=args.run_id,
    )
    n_triples = stages["triples"].count()
    n_turns = stages["transcripts"].count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "turns": n_turns,
                "triples": n_triples,
                "sec": round(dt, 2),
                "turns_per_sec": round(n_turns / dt, 1),
                "output": args.output,
                "run_id": args.run_id,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
