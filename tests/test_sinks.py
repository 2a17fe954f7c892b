from __future__ import annotations


def test_graph_sink_parquet_fallback(spark, tmp_path):
    from pytorch_bert_bilstm_crf_ner_spark.plans.sinks import write_graph_table

    df = spark.createDataFrame(
        [("A", "co_occurs_with", "B", "c1", 0, 2),
         ("A", "has_attribute", "C", "c1", 1, 1)],
        "subj STRING, pred STRING, obj STRING, conv_id STRING, turn_idx INT, n_evidence INT",
    )
    target = str(tmp_path / "graph")
    used = write_graph_table(df, target, fmt="auto")
    assert used == "parquet"  # no Iceberg runtime in this sandbox
    back = spark.read.parquet(target)
    assert back.count() == 2
    # partition pruning on pred: reading one partition dir works
    one = spark.read.parquet(f"{target}/pred=co_occurs_with")
    assert one.count() == 1

