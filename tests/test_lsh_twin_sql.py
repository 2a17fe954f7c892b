"""The drift-proof ANN twins: the DuckDB SQL regenerates the md5-derived
hyperplanes at the data's width (and the near-dup twin its
COUNT(*)-derived n_planes), and the IVF twin its md5-picked centroids,
itself, so the candidate sets match the Spark plans at ANY scale factor,
width or threshold by construction — no literal frozen at
twin-generation time."""

from __future__ import annotations

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
    _lsh_buckets_sql,
    ivf_cosine_topk_sql,
    lsh_cosine_topk,
    lsh_cosine_topk_sql,
    md5_plane_rows,
)
from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
    auto_n_planes,
    embedding_neardup_lsh_sql,
    embedding_neardup_pairs,
    neardup_clusters,
    neardup_clusters_sql,
)
from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES


def _duck(path: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    return con


def test_sql_planes_bit_equal_python_planes():
    """The twins' planes CTE, at the width of a 5-wide table, equals
    md5_plane_rows bit for bit."""
    rows = md5_plane_rows(dim=5, n_planes=4, n_tables=3)
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings AS SELECT CAST(0 AS BIGINT) AS vec_id, "
                "CAST([1, 2, 3, 4, 5] AS FLOAT[]) AS embedding")
    got = con.execute(
        f"WITH {_lsh_buckets_sql('4', 3)} "
        "SELECT table_id, plane_id, plane FROM planes ORDER BY 1, 2"
    ).fetchall()
    want = sorted((t, p, vals) for t, p, vals in rows)
    assert [(t, p, list(v)) for t, p, v in got] == [
        (t, p, v) for t, p, v in want
    ]  # bit-exact doubles, no tolerance


def test_sql_n_planes_formula_matches_python():
    con = duckdb.connect()
    for n in [0, 1, 59, 60, 61, 119, 120, 121, 479, 480, 500, 5000,
              60 * 2**10, 60 * 2**10 - 1, 60 * 2**10 + 1, 10**9]:
        got = con.execute(
            f"""SELECT CASE WHEN {n} > 60
                     THEN GREATEST(3, LENGTH(printf('%b', {n} // 60)) - 1)
                     ELSE 3 END"""
        ).fetchone()[0]
        assert got == auto_n_planes(n), n


@pytest.mark.parametrize("sf_dir,threshold", [
    ("/root/testdata/sf0.001", 0.3),
    ("/root/testdata/sf0.01", 0.3),
    ("/root/testdata/sf0.01", 0.5),
])
def test_lsh_twin_matches_spark_any_sf(spark, sf_dir, threshold):
    """Different scale factors -> different COUNT(*) -> different
    n_planes, yet the twin stays hash-equal with NOTHING regenerated —
    the any-sf-by-construction property.  threshold 0.3 yields non-empty
    results at both SFs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = sorted(
        tuple(r)
        for r in embedding_neardup_pairs(emb, threshold).collect()
    )
    con = _duck(f"{sf_dir}/embeddings.parquet")
    want = sorted(
        map(tuple, con.execute(embedding_neardup_lsh_sql(threshold)).fetchall())
    )
    assert got == want
    if sf_dir.endswith("sf0.01") and threshold == 0.3:
        assert len(got) >= 3  # non-trivial: the arithmetic is load-bearing

    cgot = sorted(
        tuple(r) for r in neardup_clusters(emb, threshold).collect()
    )
    cwant = sorted(
        map(tuple, con.execute(neardup_clusters_sql(threshold)).fetchall())
    )
    assert cgot == cwant


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.1"])
def test_lsh_ann_twin_matches_spark_any_sf(spark, sf_dir):
    """The registered lsh_ann_topk (planes at the footer's width) equals
    its twin beyond the sf0.01 driver check."""
    got = sorted(
        tuple(r) for r in SPARK_QUERIES["lsh_ann_topk"](spark, sf_dir).collect())
    want = sorted(map(tuple, _duck(f"{sf_dir}/embeddings.parquet")
                      .execute(lsh_cosine_topk_sql()).fetchall()))
    assert got == want and got


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01",
                                    "/root/testdata/sf0.1"])
def test_ivf_ann_twin_matches_spark_any_sf(spark, sf_dir):
    """The ivf_ann_topk twin is fetched BEFORE the query runs and still
    equals it at every scale factor: both engines pick the same md5-first
    centroids from the table itself."""
    sql = ivf_cosine_topk_sql()
    got = sorted(
        tuple(r) for r in SPARK_QUERIES["ivf_ann_topk"](spark, sf_dir).collect())
    want = sorted(map(tuple, _duck(f"{sf_dir}/embeddings.parquet")
                      .execute(sql).fetchall()))
    assert got == want and got


def test_lsh_ann_twin_matches_spark_on_8_wide(spark, tmp_path):
    """lsh_cosine_topk builds its planes at the data's width: on an 8-wide
    copy of sf0.01 it runs (a 64-wide plane set raised ValueError here)
    and equals the twin, which reads the width as MIN(len(embedding))."""
    table = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    i = table.schema.get_field_index("embedding")
    table = table.set_column(i, "embedding",
                             pc.list_slice(table.column(i), 0, 8))
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(table, path)
    got = sorted(
        tuple(r) for r in lsh_cosine_topk(spark.read.parquet(path)).collect())
    want = sorted(map(tuple, _duck(path).execute(lsh_cosine_topk_sql()).fetchall()))
    assert got == want and got
