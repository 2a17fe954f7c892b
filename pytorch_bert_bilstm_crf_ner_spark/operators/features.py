"""Distributed training-feature build — the reference's whole offline ETL
(`preprocess.py` E1: mid_data -> cut -> rebase -> encode -> final_data
pickle) as one Arrow-batched stage writing a parquet feature table instead
of a pickle blob.

Input: mid_data-shaped DataFrame (from `sources/corpus.py` scans or the
transcripts pipeline).  Output rows: one per sentence cut, with the cut
lineage keys (doc_id, cut_idx, cut_start) replacing the reference's
positional callback zip, plus the fixed-length feature arrays.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from ..core.features import FeatureConfig, encode_example, examples_from_document

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("cut_idx", IntegerType(), False),
        StructField("cut_start", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("token_ids", ArrayType(IntegerType()), False),
        StructField("attention_mask", ArrayType(ShortType()), False),
        StructField("token_type_ids", ArrayType(ShortType()), False),
        StructField("label_ids", ArrayType(ShortType()), False),
    ]
)


def build_features(mid: DataFrame, cfg: FeatureConfig | None = None) -> DataFrame:
    """mid_data DataFrame -> training-feature DataFrame (P2+P3+P4+P6+P7
    fused in one Arrow stage; write with ``.write.parquet`` partitioned as
    needed — the final_data.pkl analog that scales).

    The python encode stage runs on the cluster's defaultParallelism
    partitions, like the tag-UDF stage in `plans/pipeline.py`: without
    the repartition, AQE coalesces the small upstream join output
    to ~1 partition by BYTES and the CPU-bound encode runs serial — units
    of parallel python work need row-count parallelism, not byte-sized
    partitions."""
    cfg = cfg or FeatureConfig()
    mid = mid.repartition(mid.sparkSession.sparkContext.defaultParallelism)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # column .tolist() + zip, NOT pdf.iterrows(): the row-at-a-time
            # pandas accessor costs ~5-10x on the hot Arrow path
            for doc_id, text, labs in zip(
                pdf["doc_id"].tolist(),
                pdf["text"].tolist(),
                pdf["labels"].tolist(),
            ):
                if labs is None:
                    labs = []
                mid_labels = [
                    [lab["span_id"], lab["type"], lab["start"], lab["end"],
                     lab["mention"]]
                    for lab in labs
                ]
                for sent, labels, cut_idx, cut_start in examples_from_document(
                    text, mid_labels, cfg
                ):
                    if not sent:
                        continue
                    feat = encode_example(sent, labels, cfg)
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "cut_idx": cut_idx,
                            "cut_start": cut_start,
                            "text": sent,
                            **feat,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in FEATURES_SCHEMA.fields],
            )

    return mid.select("doc_id", "text", "labels").mapInPandas(
        encode, FEATURES_SCHEMA
    )
