"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives EVERY
registered query its DuckDB twin (tables pre-registered as views) —
including the Arrow-batched CRF tagging UDF (generated Viterbi-DP SQL,
`plans/viterbi_twin.py`) and iterative connected components
(recursive CTE), so all 30 entries are hash-checked; rows-only checks no
longer exist.  `tests/test_spark_parity.py` additionally proves the
pipeline exact against the single-process reference oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pytorch_bert_bilstm_crf_ner_spark.plans.queries import (  # noqa: E402
    SPARK_QUERIES,
    oracle_sql_dict,
)


def _prepare(spark: SparkSession) -> None:
    """Ship the package to executor python workers (--py-files equivalent)
    in case the driver-provided session lacks the repo on its path."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.session import ship_package

    try:
        ship_package(spark)
    except Exception:
        pass  # already added, or local path import suffices


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extract -> link -> canonicalize -> relations pipeline
    over transcripts derived from /root/testdata/sf0.001; returns the
    (subj, pred, obj) graph table."""
    _prepare(spark)
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    return run_pipeline(spark, "/root/testdata/sf0.001", PipelineConfig())["triples"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in SPARK_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """All 30 twins.  Each is a pure function of the tables it reads, so
    one text holds at any scale factor, whether or not queries ran first."""
    return oracle_sql_dict()
