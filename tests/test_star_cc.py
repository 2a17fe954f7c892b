"""Connected components: the size-gated driver union-find and the
large-star/small-star loop give the same answers as the pure-python
union-find; the star loop needs O(log n) rounds instead of O(diameter) —
the scale story for near-dup chains (A~B~C~...).  ``star_only`` patches
the driver limit to 0 so the star cases exercise the loop."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from pytorch_bert_bilstm_crf_ner_spark.core.entities import (
    connected_components_py,
)
from pytorch_bert_bilstm_crf_ner_spark.operators import canonicalize
from pytorch_bert_bilstm_crf_ner_spark.operators.canonicalize import (
    connected_components,
)

from .conftest import brute_neardup_pairs


@pytest.fixture
def star_only(monkeypatch):
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)


def _edges_df(spark, pairs, id_type="BIGINT"):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], f"src {id_type}, dst {id_type}"
    )


def _comp_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _expected(pairs):
    ids = sorted({v for e in pairs for v in e})
    return connected_components_py(ids, pairs)


def _persisted(spark) -> set:
    """Ids of the RDDs persisted now, compared as sets: the context
    cleaner may release an earlier test's RDD meanwhile, which moves a
    count without any leak (or hides one)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


FIXTURES = {
    # the adversarial shape: one long chain
    "path": [(i, i + 1) for i in range(60)],
    # chain with ids NOT in walk order (min sits mid-chain)
    "shuffled_path": [(i * 7919 % 101, (i + 1) * 7919 % 101) for i in range(100)],
    # two components + a triangle + a self-loop + duplicate edges
    "mixed": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10),
              (5, 5), (1, 2), (2, 1), (20, 21)],
    # star (already the converged shape)
    "star": [(0, i) for i in range(1, 30)],
    # binary-tree-ish
    "tree": [(i, 2 * i + 1) for i in range(30)] + [(i, 2 * i + 2) for i in range(30)],
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_star_matches_union_find(spark, star_only, name):
    pairs = FIXTURES[name]
    got = _comp_map(connected_components(_edges_df(spark, pairs), max_iter=50))
    assert got == _expected(pairs)


def test_fast_path_matches_star_and_union_find(spark, monkeypatch):
    """The driver path and the star loop agree with each other AND the
    python union-find on the same input."""
    pairs = FIXTURES["mixed"]
    edges = _edges_df(spark, pairs)
    want = _expected(pairs)
    assert _comp_map(connected_components(edges)) == want
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)
    assert _comp_map(connected_components(edges)) == want


def test_star_handles_isolated_vertices(spark, star_only):
    """Isolated nodes are passed as (id, id) self-loops."""
    edges = _edges_df(spark, [(1, 2), (0, 0), (3, 3), (4, 4)])
    got = _comp_map(connected_components(edges))
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4}


def test_star_round_count_on_long_path(spark, star_only):
    """300-node path: label propagation would need 299 rounds; star
    converges in O(log n) — pinned <= 12 rounds observed (9 actual).  A
    budget too small RAISES instead of returning partial components."""
    edges = _edges_df(spark, [(i, i + 1) for i in range(299)])
    stats: dict = {}
    got = _comp_map(connected_components(edges, max_iter=50, stats=stats))
    assert got == {i: 0 for i in range(300)}
    assert stats["rounds"] <= 12, stats

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_star_checkpoint_mode_deep_graph(spark, star_only, tmp_path,
                                         restore_checkpoint_dir):
    """With a checkpoint dir set the loop pins rounds with reliable
    checkpoints (flat plans + fault tolerance); same answer on a deep
    shuffled path, and the checkpoint files land in that dir."""
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    pairs = FIXTURES["shuffled_path"]
    got = _comp_map(connected_components(_edges_df(spark, pairs), max_iter=50))
    assert got == _expected(pairs)
    assert any(p.name.startswith("rdd-") for p in ckpt.rglob("*"))


def test_neardup_chain_defaults_to_star(spark, monkeypatch):
    """Chain-shaped NEAR-DUP fixture (round-4 VERDICT #2): 32 embeddings
    built as a sliding window of 25 ones, so consecutive vectors have
    cosine 24/25 = 0.96 (>= the 0.95 threshold) and every other pair is
    <= 23/25 = 0.92 — the pair graph is a 31-hop chain, which a
    25-round label-propagation budget could not finish.  The LSH route
    finds every chain pair the brute-force oracle finds, and
    neardup_clusters resolves the chain on the driver path and, over the
    limit, on the star loop."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        embedding_neardup_pairs,
        neardup_clusters,
    )

    w, n_vec = 25, 32
    dim = n_vec + w - 1
    rows = [
        (i, [1.0 if i <= d < i + w else 0.0 for d in range(dim)])
        for i in range(n_vec)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = {(r["vec_a"], r["vec_b"])
           for r in brute_neardup_pairs(emb, 0.95).collect()}
    assert got == {(i, i + 1) for i in range(n_vec - 1)}, got
    lsh = {(r["vec_a"], r["vec_b"])
           for r in embedding_neardup_pairs(emb, 0.95).collect()}
    assert lsh == got

    def clusters():
        return {
            r["vec_id"]: r["cluster_id"]
            for r in neardup_clusters(emb, 0.95).collect()
        }

    assert clusters() == {i: 0 for i in range(n_vec)}
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)
    assert clusters() == {i: 0 for i in range(n_vec)}


def test_rounds_tracked(spark, monkeypatch):
    edges = _edges_df(spark, FIXTURES["star"])
    stats: dict = {}
    connected_components(edges, stats=stats)
    assert stats["rounds"] == 0
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", 0)
    connected_components(edges, stats=stats)
    # star graph: already the converged shape, one confirming round
    assert 1 <= stats["rounds"] <= 3


def test_fast_path_leaves_no_persisted_rdd(spark):
    """The size gate caches the symmetrized edge list; the driver path
    must release it, for a bare edge list and for neardup_clusters."""
    from pytorch_bert_bilstm_crf_ner_spark.operators.dedup import (
        neardup_clusters,
    )

    before = _persisted(spark)
    stats: dict = {}
    got = _comp_map(
        connected_components(_edges_df(spark, FIXTURES["mixed"]), stats=stats)
    )
    assert got == _expected(FIXTURES["mixed"]) and stats["rounds"] == 0
    assert _persisted(spark) <= before

    emb = spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(12)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    assert neardup_clusters(emb, 0.99).count() == 12
    assert _persisted(spark) <= before


def test_int_ids_keep_type_on_both_paths(spark, monkeypatch):
    edges = _edges_df(spark, FIXTURES["mixed"], id_type="INT")
    want = _expected(FIXTURES["mixed"])
    for limit in (canonicalize.DRIVER_CC_MAX_EDGES, 0):
        monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", limit)
        stats: dict = {}
        comp = connected_components(edges, stats=stats)
        assert comp.schema.simpleString() == "struct<id:int,component:int>"
        assert _comp_map(comp) == want
        assert (stats["rounds"] == 0) == (limit > 0)


def test_over_limit_graph_never_collects(spark, monkeypatch):
    """A graph one row over the driver limit runs the star loop, and no
    DataFrame is collected to the driver on the way."""
    pairs = FIXTURES["tree"]
    edges = _edges_df(spark, pairs)
    n_sym = 2 * len(pairs)  # the gate counts both directions of each edge
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", n_sym - 1)

    def _no_collect(self):
        raise AssertionError("edge rows moved to the driver")

    stats: dict = {}
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", _no_collect)
        comp = connected_components(edges, stats=stats)
    assert stats["rounds"] >= 1
    assert _comp_map(comp) == _expected(pairs)


@pytest.mark.parametrize("id_type", ["BIGINT", "STRING"])
def test_empty_edges_keep_id_type(spark, id_type):
    """No edges: zero components, ``id``/``component`` of the input's id
    type (the driver path builds its frame from the declared schema, not
    from values it does not have)."""
    edges = spark.createDataFrame([], f"src {id_type}, dst {id_type}")
    comp = connected_components(edges)
    t = id_type.lower()
    # the JVM side's schema, not the python-side copy the frame caches
    assert comp._jdf.schema().simpleString() == f"struct<id:{t},component:{t}>"
    assert comp.count() == 0


def test_entity_dict_keeps_declared_schema(spark):
    import json

    from pyspark.sql.types import StructType

    from pytorch_bert_bilstm_crf_ner_spark.sources.entity_dict import (
        ENTITY_DICT_SCHEMA,
        entity_dict_df,
    )

    df = entity_dict_df(spark)
    assert df.schema == ENTITY_DICT_SCHEMA
    # the JVM side too (non-null flags included), not only the python cache
    jvm_schema = StructType.fromJson(json.loads(df._jdf.schema().json()))
    assert jvm_schema == ENTITY_DICT_SCHEMA
