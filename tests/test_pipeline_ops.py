"""Rows-only operators: LSH-ANN recall vs the brute-force baseline,
multimodal decode plumbing, synth generator invariants."""

from __future__ import annotations

import pytest

from .conftest import brute_neardup_pairs

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_ann_recall(spark, monkeypatch):
    from pytorch_bert_bilstm_crf_ner_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = ann.cosine_topk(emb).collect()
    monkeypatch.setattr(ann, "LSH_PLANES", 3)
    monkeypatch.setattr(ann, "LSH_TABLES", 10)
    approx = ann.lsh_cosine_topk(emb).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # approx results must carry exact cosine values for hits
    exact_sims = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert abs(r["cos_sim"] - exact_sims[key]) < 1e-9


def test_media_decode_plumbing(spark):
    from pytorch_bert_bilstm_crf_ner_spark.operators.multimodal import (
        decode_media,
        synth_media,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    media = synth_media(docs)
    feats = decode_media(media)
    rows = feats.limit(20).collect()
    assert rows and all(len(r["feature"]) == 16 for r in rows)
    assert all(r["n_bytes"] == 16 for r in rows)  # md5 payload = 16 bytes
    # deterministic across runs
    a = {r["media_id"]: r["feature"] for r in feats.limit(20).collect()}
    b = {r["media_id"]: r["feature"] for r in decode_media(media).limit(20).collect()}
    assert a == b


@pytest.mark.parametrize("dim", [8, 24])
def test_media_twin_follows_feature_dim(monkeypatch, dim):
    """The DuckDB media twin reads FEATURE_DIM when it is built: at 8 and
    at 24 (two md5 blocks) it equals `_fake_feature` of the payloads."""
    import hashlib

    import duckdb

    from pytorch_bert_bilstm_crf_ner_spark.operators import multimodal
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import _media_features_sql

    monkeypatch.setattr(multimodal, "FEATURE_DIM", dim)
    texts = ["", "spark hash join", "高勇 batch", "x" * 300]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    want = []
    for doc_id, text in enumerate(texts):
        f = multimodal._fake_feature(hashlib.md5(text.encode()).digest())
        assert len(f) == dim
        want.append((doc_id, ("image", "audio", "video")[doc_id % 3], 16, dim,
                     sum(f), f[0]))
    assert sorted(con.execute(_media_features_sql()).fetchall()) == want


def test_synth_transcripts_deterministic(spark):
    from pytorch_bert_bilstm_crf_ner_spark.sources.synth import synth_transcripts

    a = synth_transcripts(spark, 100, partitions=3).orderBy("conv_id", "turn_idx").collect()
    b = synth_transcripts(spark, 100, partitions=7).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    # hot conversations exist (skew fixture)
    from collections import Counter

    sizes = Counter(r["conv_id"] for r in a)
    assert max(sizes.values()) >= 10 * min(sizes.values())


def test_embedding_neardup_lsh_route_vs_brute(spark, monkeypatch):
    """The registered near-dup plan is the LSH route; the brute-force
    crossJoin is the oracle.  Precision is structurally 1.0 (candidates are
    re-verified with the exact cosine); on the driver's sf0.01 data the
    default 3-plane/16-table parameters achieve recall 1.0 at threshold
    0.5 — asserted here so a parameter/seed change that breaks the driver's
    hash check fails fast in pytest instead."""
    from pytorch_bert_bilstm_crf_ner_spark.operators import dedup

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in brute_neardup_pairs(emb, 0.5).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in dedup.embedding_neardup_pairs(emb).collect()
    }
    assert lsh == brute and len(brute) == 1
    # at a looser threshold the LSH result must stay a subset (precision 1)
    brute45 = {
        (r["vec_a"], r["vec_b"])
        for r in brute_neardup_pairs(emb, 0.45).collect()
    }
    monkeypatch.setattr(dedup, "NEARDUP_THRESHOLD", 0.45)
    lsh45 = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_neardup_pairs(emb).collect()
    }
    assert lsh45 <= brute45
    assert len(lsh45) / len(brute45) >= 0.8, "recall collapsed"


def test_embedding_neardup_explicit_meta_and_empty(spark):
    """Passing n/dim must skip the plan-build count()/head() probes and
    return the identical result; an EMPTY embeddings table must yield an
    empty pair frame, not a TypeError."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        embedding_neardup_pairs,
        neardup_clusters,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    auto = {tuple(r) for r in embedding_neardup_pairs(emb).collect()}
    explicit = {
        tuple(r) for r in embedding_neardup_pairs(emb, n=500, dim=64).collect()
    }
    assert explicit == auto and auto

    empty = emb.limit(0)
    assert embedding_neardup_pairs(empty).collect() == []
    assert neardup_clusters(empty).collect() == []


def test_ivf_sample_centroids_deterministic(spark):
    """The IVF centroids are the embeddings of the IVF_CENTROIDS rows first
    by (md5("<vec_id>|7"), vec_id), in that order, however the input is
    partitioned: the twin picks the same rows in SQL."""
    import hashlib

    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        IVF_CENTROIDS,
        ivf_sample_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_sample_centroids(emb)
    assert cents == ivf_sample_centroids(emb.repartition(7))
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    first = sorted(
        rows, key=lambda v: (hashlib.md5(f"{v}|7".encode()).hexdigest(), v)
    )[:IVF_CENTROIDS]
    assert cents == [rows[v] for v in first]


def test_ivf_ann_recall(spark):
    """IVF (md5-picked centroids + nprobe buckets) vs brute-force cosine
    top-k, with the centroids the registered query picks."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_sample_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_sample_centroids(emb)
    exact = cosine_topk(emb).collect()
    approx = ivf_cosine_topk(emb, cents).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # hits carry the exact cosine
    exact_sims = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert abs(r["cos_sim"] - exact_sims[key]) < 1e-9
    # determinism (deterministic centroids + first-max tie rule)
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_cosine_topk(emb, cents).collect()
    }
    assert again == approx_set


def test_simhash_banding_recall_is_exact(spark):
    """Pigeonhole guarantee: with 4 bands over 48 bits, every pair at
    Hamming distance <= 3 shares at least one identical band — so the
    banded equi-join plan must return EXACTLY the brute-force all-pairs
    popcount result (banding can only drop candidates, never invent
    them, and survivors are re-verified; equality proves zero drops)."""
    import pyspark.sql.functions as F
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash,
        simhash_neardup_pairs,
    )

    # the packed form reads SIMHASH_BITS/4 md5 hex chars as one signed
    # BIGINT: whole nibbles, and no overflow to a NULL vote past 60 bits
    assert SIMHASH_BITS % 4 == 0 and SIMHASH_BITS <= 60
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs).collect()
    }
    sig = simhash(docs)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS INT)"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .collect()
    }
    assert brute, "expected near-dup simhash pairs in sf0.01"
    assert banded == brute


def test_simhash_banding_params_meet_pigeonhole():
    """Exact recall needs every pair within SIMHASH_MAX_HAMMING bits to
    share an identical band: that many differing bits touch at most that
    many of the SIMHASH_BANDS bands."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        SIMHASH_BANDS,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
    )

    assert SIMHASH_MAX_HAMMING <= SIMHASH_BANDS - 1
    assert SIMHASH_BITS % SIMHASH_BANDS == 0
