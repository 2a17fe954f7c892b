"""Round-6 optimization guards: the Arrow numpy kernels that replaced
JVM fold expressions must stay BIT-IDENTICAL to the sequential
((0.0 + x0) + x1) + ... double fold (the contract the DuckDB twins rely
on), and the simhash rewrite must keep its single-Exchange plan."""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

SF_DIR = "/root/testdata/sf0.001"


def _fold_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s = s + float(x) * float(y)
    return s


def test_lsh_buckets_kernel_matches_sequential_fold(spark):
    """Every bucket id from the Arrow kernel equals the one computed from
    python sequential-fold dots over the same md5 planes (the pre-rewrite
    JVM formulation) — pins the per-dim accumulation order."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        lsh_buckets,
        md5_plane_rows,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    dim = len(next(iter(rows.values())))
    planes = md5_plane_rows(dim, n_planes=4, n_tables=3)
    got = {
        (r["vec_id"], r["table_id"]): r["bucket"]
        for r in lsh_buckets(emb, planes).collect()
    }
    expected: dict = {}
    for (t, p, plane) in planes:
        for vid, vec in rows.items():
            if _fold_dot(vec, plane) > 0:
                key = (vid, t)
                expected[key] = expected.get(key, 0) + (1 << p)
    for vid in rows:
        for t in range(3):
            assert got[(vid, t)] == expected.get((vid, t), 0), (vid, t)


def test_pair_cosine_parts_matches_sequential_fold(spark):
    """dot/norms from the Arrow kernel equal the sequential double fold
    bit-for-bit (==, not approx)."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        pair_cosine_parts,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(32)
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    ids = sorted(rows)[:10]
    dim = len(rows[ids[0]])
    pairs = spark.createDataFrame(
        [
            (a, b, rows[a], rows[b])
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
        ],
        "vec_a BIGINT, vec_b BIGINT, emb_a ARRAY<FLOAT>, emb_b ARRAY<FLOAT>",
    )
    for r in pair_cosine_parts(pairs).collect():
        a, b = rows[r["vec_a"]], rows[r["vec_b"]]
        assert r["dot"] == _fold_dot(a, b)
        assert r["norm_a"] == math.sqrt(_fold_dot(a, a))
        assert r["norm_b"] == math.sqrt(_fold_dot(b, b))


def test_ivf_assignment_matches_fold_argmax(spark):
    """Kernel assignment == argmax of sequential-fold cosine scores with
    the (max score, lowest centroid_id) tie rule; at depth ``nprobe`` the
    probe emits the sequential-fold ranking (score desc, centroid_id asc).
    A zero-norm vector scores NaN everywhere, so it ranks by centroid id."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        _assign_to_centroid,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(48)
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    dim = len(next(iter(rows.values())))
    zero_id = max(rows) + 1
    emb = emb.select("vec_id", "embedding")
    emb = emb.unionByName(
        spark.createDataFrame([(zero_id, [0.0] * dim)], emb.schema))
    cents = [
        [((int(hashlib.md5(f"{c}|{d}".encode()).hexdigest()[:8], 16)
           / 4294967295) * 2 - 1) for d in range(dim)]
        for c in range(4)
    ]
    nprobe = 3
    got = {r["vec_id"]: r["centroid_id"]
           for r in _assign_to_centroid(emb, cents).collect()}
    probed: dict = {}
    for r in _assign_to_centroid(emb, cents, depth=nprobe).collect():
        probed.setdefault(r["vec_id"], []).append(r["centroid_id"])
    for vid, vec in rows.items():
        ne = math.sqrt(_fold_dot(vec, vec))
        best_i, best_s = 0, None
        scores = []
        for i, c in enumerate(cents):
            nc = math.sqrt(_fold_dot(c, c))
            s = _fold_dot(vec, c) / (ne * nc)
            scores.append((-s, i))
            if best_s is None or s > best_s:
                best_i, best_s = i, s
        assert got[vid] == best_i, vid
        assert probed[vid] == [i for _s, i in sorted(scores)[:nprobe]], vid
    assert got[zero_id] == 0
    assert probed[zero_id] == list(range(nprobe))


def test_ivf_rejects_degenerate_centroids(spark):
    """A zero-norm or non-finite centroid has no cosine: ivf_cosine_topk
    raises ValueError while building the plan."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        ivf_cosine_topk,
        ivf_sample_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_sample_centroids(emb)
    dim = len(cents[0])
    for bad in ([0.0] * dim, [float("nan")] + [1.0] * (dim - 1),
                [float("inf")] + [1.0] * (dim - 1)):
        with pytest.raises(ValueError, match="zero-norm or non-finite"):
            ivf_cosine_topk(emb, centroids=[bad] + cents)


def test_ivf_query_rejects_zero_vector_sample(spark, tmp_path):
    """A zero vector among the md5-picked centroids fails the registered
    query's plan build (never NaN buckets): here it is the md5-first row
    of a copy of sf0.001."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES

    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = table.column("vec_id").to_pylist()
    first = min(ids, key=lambda v: (hashlib.md5(f"{v}|7".encode()).hexdigest(), v))
    i = table.schema.get_field_index("embedding")
    embs = table.column(i).to_pylist()
    embs[ids.index(first)] = [0.0] * len(embs[0])
    table = table.set_column(i, table.schema.field(i),
                             pa.array(embs, table.schema.field(i).type))
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="centroid 0 is zero-norm or non-finite"):
        SPARK_QUERIES["ivf_ann_topk"](spark, str(tmp_path))


def test_cosine_topk_rejects_ragged_rows(spark):
    """Rows of widths 3 and 5 have no cosine; the kernel raises instead of
    re-cutting them into two wrong equal-width vectors."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 2.0]), (1, [1.0, 0.0, 2.0, 1.0, 3.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    with pytest.raises(PythonException, match="ValueError: embedding rows "
                                              "must have equal widths"):
        cosine_topk(emb, n_queries=2, k=1).collect()


@pytest.mark.parametrize("case", ["ragged_rows", "unequal_widths", "null_row"])
def test_pair_cosine_parts_rejects_malformed_rows(spark, case):
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        pair_cosine_parts,
    )

    w3, w5 = [1.0, 0.0, 2.0], [1.0, 0.0, 2.0, 1.0, 3.0]
    rows = {
        "ragged_rows": [(0, 1, w3, w3), (1, 0, w5, w5)],
        "unequal_widths": [(0, 1, w3, w5), (1, 0, w5, w3)],
        "null_row": [(0, 1, w3, w3), (1, 0, w3, None)],
    }[case]
    pairs = spark.createDataFrame(
        rows,
        "vec_a BIGINT, vec_b BIGINT, emb_a ARRAY<FLOAT>, emb_b ARRAY<FLOAT>",
    ).coalesce(1)
    match = "null row" if case == "null_row" else "must have equal widths"
    with pytest.raises(PythonException, match=f"ValueError: embedding .*{match}"):
        pair_cosine_parts(pairs).collect()


def test_simhash_plans_single_exchange(spark):
    """The round-6 packed-word-hash simhash is ONE aggregation: exactly
    one Exchange (was <= 2 for the old two-aggregation form)."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = simhash(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
