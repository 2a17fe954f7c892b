"""The pipeline links mentions straight to canonical entities: the
driver-held dictionary is canonicalized once (`core/entities.py::
canonical_dict_rows`), so one join replaces link -> connected components
-> canonicalize.  These tests pin that shortcut to the long way round."""

from __future__ import annotations

import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.entities import canonical_map

SF_DIR = "/root/testdata/sf0.001"


def test_canonical_map_takes_min_name_like_canonical_entities(spark):
    """The component-minimum id (1) has two spellings, the smaller one
    first: the name is the minimum spelling, as in `canonical_entities`
    and its recursive-CTE twin, not the last row's."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
        canonical_entities,
    )
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import (
        entity_dict_df,
    )

    rows = (
        (1, "spark", "ORG", "Apache Spark"),
        (2, "spark", "ORG", "Spark Engine"),
        (1, "engine", "ORG", "Spark"),
        (3, "hash", "PRO", "Hash"),
    )
    spark_map = {
        r["entity_id"]: (r["canonical_id"], r["canonical_name"])
        for r in canonical_entities(entity_dict_df(spark, rows)).collect()
    }
    assert canonical_map(rows) == spark_map
    assert spark_map[2] == (1, "Apache Spark")


def test_canonical_dict_rows_match_spark_canonical_entities(spark):
    """Each dictionary row with its entity replaced by the canonical
    entity Spark's `canonical_entities` assigns, distinct and sorted."""
    from pytorch_bert_bilstm_crf_ner_spark.core.entities import canonical_dict_rows
    from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
        canonical_entities,
    )
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import (
        entity_dict_df,
    )

    ed = entity_dict_df(spark)
    want = sorted(
        tuple(r)
        for r in ed.drop("canonical_name")
        .join(canonical_entities(ed), "entity_id")
        .select("canonical_id", "alias", "type", "canonical_name")
        .distinct()
        .collect()
    )
    got = canonical_dict_rows()
    assert list(got) == want
    # 21 dictionary rows; entities 19, 20 and 21 fold into 1, 15 and 6
    assert len(got) == 18


@pytest.fixture(scope="module")
def synth300(spark):
    from pytorch_bert_bilstm_crf_ner_spark.sources.synth import synth_transcripts

    # synth text repeats vocabulary words within and across turns
    tr = synth_transcripts(spark, 300, partitions=4).persist()
    yield tr
    tr.unpersist()


@pytest.mark.parametrize("source", ["sf0.001", "synth300"])
@pytest.mark.parametrize("broadcast_dict", [True, False])
def test_pipeline_canonical_stage_equals_link_then_canonicalize(
        spark, request, source, broadcast_dict):
    from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
        canonical_entities,
        canonicalize_mentions,
    )
    from pytorch_bert_bilstm_crf_ner_spark.operators.linking import link_mentions
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import (
        entity_dict_df,
    )

    tr = request.getfixturevalue("synth300") if source == "synth300" else None
    st = run_pipeline(spark, SF_DIR, PipelineConfig(broadcast_dict=broadcast_dict),
                      transcripts_df=tr)
    try:
        ed = entity_dict_df(spark)
        want = canonicalize_mentions(link_mentions(st["mentions"], ed),
                                     canonical_entities(ed))
        got = st["canonical"]
        assert got.columns == want.columns
        assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
        got_rows = sorted(tuple(r) for r in got.collect())
        assert got_rows == sorted(tuple(r) for r in want.collect())
        assert len(got_rows) > 1000
    finally:
        for df in st.values():
            df.unpersist()


def test_pipeline_runs_no_connected_components(spark, tmp_path, monkeypatch):
    """The production write path canonicalizes on the driver: no
    connected-components job runs."""
    from pytorch_bert_bilstm_crf_ner_spark.operators import canonicalize
    from pytorch_bert_bilstm_crf_ner_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    def _fail(*_args, **_kwargs):
        raise AssertionError("run_pipeline ran connected_components")

    monkeypatch.setattr(canonicalize, "connected_components", _fail)
    st = run_pipeline(spark, SF_DIR, PipelineConfig(output_dir=str(tmp_path / "kg")))
    assert st["canonical"].count() > 0 and st["triples"].count() > 0
