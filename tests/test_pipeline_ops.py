"""Rows-only operators: LSH-ANN recall vs the brute-force baseline,
multimodal decode plumbing, synth generator invariants."""

from __future__ import annotations

import pytest

from .conftest import brute_neardup_pairs

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_ann_recall(spark):
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        cosine_topk,
        lsh_cosine_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = cosine_topk(emb, n_queries=10, k=5).collect()
    approx = lsh_cosine_topk(emb, n_queries=10, k=5, n_planes=3, n_tables=10).collect()
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


def test_synth_transcripts_deterministic(spark):
    from pytorch_bert_bilstm_crf_ner_spark.sources.synth import synth_transcripts

    a = synth_transcripts(spark, 100, partitions=3).orderBy("conv_id", "turn_idx").collect()
    b = synth_transcripts(spark, 100, partitions=7).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    # hot conversations exist (skew fixture)
    from collections import Counter

    sizes = Counter(r["conv_id"] for r in a)
    assert max(sizes.values()) >= 10 * min(sizes.values())


def test_jaccard_shingle_frequency_cap(spark):
    """The stop-shingle cap must keep genuinely near-dup pairs (their
    overlap is rare shingles) while pruning join volume."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs, 3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, 3, max_shingle_docs=50).collect()
    }
    assert exact, "expected planted near-dup pairs in sf0.01"
    assert capped == exact  # near-dup overlap here is rare shingles


def test_embedding_neardup_lsh_route_vs_brute(spark):
    """The registered near-dup plan is the LSH route; the brute-force
    crossJoin is the oracle.  Precision is structurally 1.0 (candidates are
    re-verified with the exact cosine); on the driver's sf0.01 data the
    default 3-plane/16-table parameters achieve recall 1.0 at threshold
    0.5 — asserted here so a parameter/seed change that breaks the driver's
    hash check fails fast in pytest instead."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in brute_neardup_pairs(emb, 0.5).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in embedding_neardup_pairs(emb, 0.5).collect()
    }
    assert lsh == brute and len(brute) == 1
    # at a looser threshold the LSH result must stay a subset (precision 1)
    brute45 = {
        (r["vec_a"], r["vec_b"])
        for r in brute_neardup_pairs(emb, 0.45).collect()
    }
    lsh45 = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, 0.45).collect()
    }
    assert lsh45 <= brute45
    assert len(lsh45) / len(brute45) >= 0.8, "recall collapsed"


def test_embedding_neardup_explicit_meta_and_empty(spark):
    """Passing n/dim must skip the plan-build count()/head() probes and
    return the identical result; an EMPTY embeddings table must yield an
    empty pair frame, not a TypeError (round-2 ADVICE)."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        embedding_neardup_pairs,
        neardup_clusters,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    auto = {
        tuple(r) for r in embedding_neardup_pairs(emb, 0.5).collect()
    }
    explicit = {
        tuple(r)
        for r in embedding_neardup_pairs(emb, 0.5, n=500, dim=64).collect()
    }
    assert explicit == auto and auto

    empty = emb.limit(0)
    assert embedding_neardup_pairs(empty, 0.5).collect() == []
    assert neardup_clusters(empty, 0.5).collect() == []


def test_ivf_train_centroids_deterministic():
    """The IVF twin inlines these centroids as literals from TWO
    independent call sites (the registered Spark query and oracle_sql),
    possibly in different processes — training must be bit-reproducible
    and input-order independent."""
    import numpy as np

    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        ivf_train_centroids,
    )

    rng = np.random.RandomState(3)
    ids = list(range(200))
    vecs = rng.normal(size=(200, 16)).tolist()
    a = ivf_train_centroids(ids, vecs, k=4, seed=7)
    b = ivf_train_centroids(ids, vecs, k=4, seed=7)
    assert a == b  # bit-exact, not approximately
    perm = rng.permutation(200)
    c = ivf_train_centroids(
        [ids[i] for i in perm], [vecs[i] for i in perm], k=4, seed=7
    )
    assert c == a  # row order must not matter (parquet scan order varies)
    d = ivf_train_centroids(ids, vecs, k=4, seed=8)
    assert d != a  # seed actually steers the init


def test_ivf_oracle_follows_query_sf_dir():
    """Round-4 VERDICT #3 (ivf twin de-freeze): oracle_sql derives the
    ivf entry from the sf_dir the registered query LAST RAN with, so the
    two centroid-literal sites agree at any comparison scale when the
    driver runs queries first; and a query call AFTER an oracle trained
    on a different dir emits a precise named warning, so a hash mismatch
    is never inscrutable (it cannot raise: standalone multi-SF use in one
    process — e.g. the plan-shape suite — is legitimate)."""
    from pytorch_bert_bilstm_crf_ner_spark.plans import queries as Q

    saved = dict(Q._IVF_TWIN_STATE)
    try:
        Q._IVF_TWIN_STATE.update(last_query_dir=None, served_from=None)
        sql_default = Q.oracle_sql_dict()["ivf_ann_topk"]
        assert Q._IVF_TWIN_STATE["served_from"] == Q._ORACLE_SF_DIR

        # queries-first order: the oracle follows the query's dir
        Q._IVF_TWIN_STATE.update(
            last_query_dir="/root/testdata/sf0.001", served_from=None
        )
        sql_001 = Q.oracle_sql_dict()["ivf_ann_topk"]
        assert Q._IVF_TWIN_STATE["served_from"] == "/root/testdata/sf0.001"
        assert sql_001 != sql_default  # centroids genuinely differ by SF

        # oracle-first order + a DIFFERENT query dir: loud, named warning
        # (the call itself proceeds; None spark dies later at plan build,
        # after the state bookkeeping we're pinning here)
        with pytest.warns(UserWarning, match="ivf_ann_topk sf_dir desync"):
            with pytest.raises(Exception):
                Q.q_ivf_ann_topk(None, "/root/testdata/sf0.01")
        assert Q._IVF_TWIN_STATE["last_query_dir"] == "/root/testdata/sf0.01"
    finally:
        Q._IVF_TWIN_STATE.update(saved)


def test_ivf_ann_recall(spark):
    """IVF (numpy-trained centroids + nprobe buckets) vs brute-force
    cosine top-k; centroids trained on the collected rows as the
    registered query trains them."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_train_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    cents = ivf_train_centroids(
        [r["vec_id"] for r in rows], [list(r["embedding"]) for r in rows],
        k=8, seed=7,
    )
    exact = cosine_topk(emb, n_queries=10, k=5).collect()
    approx = ivf_cosine_topk(emb, cents, n_queries=10, k=5, nprobe=3).collect()
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
        for r in ivf_cosine_topk(
            emb, cents, n_queries=10, k=5, nprobe=3
        ).collect()
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
        simhash,
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
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


def test_simhash_banding_rejects_unsound_params(spark):
    """max_hamming > n_bands - 1 would silently lose recall; the
    constructor must refuse."""
    import pytest as _pytest

    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with _pytest.raises(ValueError, match="exact recall"):
        simhash_neardup_pairs(docs, max_hamming=4, n_bands=4)


def test_simhash_rejects_bits_over_60(spark):
    """Past 60 bits the packed md5 prefix overflows BIGINT and the NULL
    cast would silently drop votes; both formulations must refuse."""
    import pytest as _pytest

    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        simhash,
        simhash_expr,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    with _pytest.raises(ValueError, match="at most 60"):
        simhash(docs, bits=64)
    with _pytest.raises(ValueError, match="at most 60"):
        simhash_expr(bits=64)
    assert simhash(docs, bits=60).columns == ["doc_id", "simhash"]


def test_simhash_banding_cap_twin_parity(spark):
    """max_band_docs is plumbed through both the Spark operator and the
    SQL twin; the registered query is uncapped, so pin the capped route's
    cross-engine equality here (and that capping only ever drops pairs)."""
    import duckdb

    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        simhash_neardup_pairs,
        simhash_neardup_sql,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    capped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs, max_band_docs=8).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs).collect()
    }
    assert capped <= uncapped
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    sql_capped = {
        (int(a), int(b), int(h))
        for a, b, h in con.execute(
            simhash_neardup_sql(max_band_docs=8)).fetchall()
    }
    assert capped == sql_capped
