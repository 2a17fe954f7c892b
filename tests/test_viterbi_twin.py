"""kg_mentions / kg_triples DuckDB twins (`plans/viterbi_twin.py`):
bit-exact SQL recomputation of the CRF tagging UDF — emission literals,
the float32 Viterbi DP simulated with one CAST(... AS REAL) per binary
add, greedy gazetteer scan, BIOES FSM closed form — plus the loud scope
guards."""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pytest

from pytorch_bert_bilstm_crf_ner_spark.core.decode import bioes_decode_flat
from pytorch_bert_bilstm_crf_ner_spark.core.model import (
    GAZETTEER,
    DeterministicTagger,
    TaggerConfig,
)
from pytorch_bert_bilstm_crf_ner_spark.plans.viterbi_twin import (
    kg_mentions_sql,
)

SF = "/root/testdata/sf0.001"


def _closed_form(tag_ids, text, id2ent):
    """The SQL decode's formulation: every S emits; every B emits iff the
    first following position that's not I-of-same-type is E-of-same-type."""

    def resolve(t):
        label = id2ent[1] if t == 0 else id2ent[t]
        p, _, ty = label.partition("-")
        return p, ty

    n = len(tag_ids)
    out = []
    for i, t in enumerate(tag_ids):
        p, ty = resolve(t)
        if p == "S":
            out.append((text[i], i, ty))
        elif p == "B":
            e = None
            for k in range(i + 1, n):
                p2, ty2 = resolve(tag_ids[k])
                if not (p2 == "I" and ty2 == ty):
                    e = k
                    break
            if e is not None:
                p2, ty2 = resolve(tag_ids[e])
                if p2 == "E" and ty2 == ty:
                    out.append((text[i : e + 1], i, ty))
    return out


def test_fsm_closed_form_equals_reference_fsm():
    """The SQL decode does not replay the scan-order FSM — it uses a
    closed form.  Property-check the equivalence over random tag
    sequences (the pointer-jump argument: a B can't start inside an
    emitted span, so the set of emitted spans is scan-state-free).
    Emitted ORDER differs (closed form is position-ordered; the FSM emits
    in scan order) — the row-set comparison is order-insensitive, so
    compare as multisets."""
    t = DeterministicTagger()
    rng = random.Random(7)
    for _ in range(400):
        L = rng.randint(1, 30)
        ids = [rng.randrange(t.num_tags) for _ in range(L)]
        text = "".join(rng.choice("abcdef ") for _ in range(L))
        want = sorted(bioes_decode_flat(ids, text, t.id2ent))
        got = sorted(_closed_form(ids, text, t.id2ent))
        assert got == want, (ids, text)


def test_char_em_table_is_batch_independent():
    """Emission vectors come from the whole-vocab table, so a char's
    vector is identical across any batch shape — the invariance the
    literal inlining relies on."""
    t = DeterministicTagger()
    em_single, _ = t.emissions(["q"])
    em_batch, _ = t.emissions(["zzqa", "q"])
    np.testing.assert_array_equal(em_single[0, 0], em_batch[0, 2])
    np.testing.assert_array_equal(em_single[0, 0], em_batch[1, 0])


def test_gazetteer_greedy_scan_model_matches_finditer():
    """The SQL gazetteer stage = per-position boundary-checked candidates
    + greedy (pos, alternative-order) selection.  Pin that model against
    the actual compiled regex's finditer on word soup built from alias
    fragments (overlap-heavy on purpose)."""
    t = DeterministicTagger()
    alts = sorted((a for a, _ in GAZETTEER), key=len, reverse=True)
    rng = random.Random(11)
    vocab = ["hash", "join", "hash join", "order", "key", "order key",
             "scan", "table scan", "spark", "x", "keykey", "hashs"]
    for _ in range(300):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
        want = [(m.start(), m.group(1)) for m in t._gaz_re.finditer(text)]
        # candidate model
        cands = []
        for idx, a in enumerate(alts):
            for p in range(len(text) - len(a) + 1):
                if text[p : p + len(a)] != a:
                    continue
                if p > 0 and text[p - 1].lower() in "abcdefghijklmnopqrstuvwxyz0123456789":
                    continue
                after = p + len(a)
                if after < len(text) and text[after].lower() in "abcdefghijklmnopqrstuvwxyz0123456789":
                    continue
                cands.append((p, idx, a))
        cands.sort()
        got, nxt = [], 0
        for p, idx, a in cands:
            if p >= nxt:
                got.append((p, a))
                nxt = p + len(a)
        assert got == want, text


def test_twin_guards_error_loudly():
    con = duckdb.connect()
    long_sql = kg_mentions_sql(
        "SELECT 'conv_1' AS conv_id, 0 AS turn_idx, repeat('x', 200) AS text"
    )
    with pytest.raises(duckdb.Error, match="single-piece"):
        con.execute(long_sql).fetchall()
    uni_sql = kg_mentions_sql(
        "SELECT 'conv_1' AS conv_id, 0 AS turn_idx, 'héllo spark' AS text"
    )
    with pytest.raises(duckdb.Error, match="printable"):
        con.execute(uni_sql).fetchall()


def test_registered_corpus_within_twin_scope():
    """The twin's loud error() guards cover turn text
    > max_seq_len - 2 chars and chars outside printable ASCII.  Scan the
    driver's registered corpora (the SAME transcripts derivation the
    oracle runs) for BOTH bounds, so a driver data refresh fails here
    with a named cause before it ERRs inscrutably in the oracle run —
    and record that real headroom exists, not a knife-edge fit."""
    from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import TRANSCRIPTS_SQL

    limit = TaggerConfig().max_seq_len - 2
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        rows = con.execute(
            f"SELECT conv_id, turn_idx, text FROM ({TRANSCRIPTS_SQL})"
        ).fetchall()
        assert rows, sf_dir
        too_long = [
            (c, t, len(x)) for c, t, x in rows if len(x) > limit
        ]
        assert not too_long, (
            f"{sf_dir}: {len(too_long)} turn(s) exceed the kg twin's "
            f"max_seq_len-2 = {limit} guard (driver data refresh?) — "
            f"first: {too_long[:3]}"
        )
        bad = sorted(
            {ch for _, _, x in rows for ch in x if not 32 <= ord(ch) <= 126}
        )
        assert not bad, (
            f"{sf_dir}: chars outside printable ASCII would trip the "
            f"twin's charset guard — first: {bad[:10]!r}"
        )
        max_len = max(len(x) for _, _, x in rows)
        assert max_len <= limit, (sf_dir, max_len)


def test_kg_twins_match_spark_sf0001(spark):
    """Exact row-set equality vs the registered Spark queries at sf0.001
    (the generic oracle suite covers sf0.01 — two SFs total, both exact:
    the Viterbi argmax path is bit-reproducible, not approximately so)."""
    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import (
        ORACLE_SQL,
        SPARK_QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for name in ("kg_mentions", "kg_triples"):
        sdf = SPARK_QUERIES[name](spark, SF).toPandas()
        sdf = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
        odf = con.execute(ORACLE_SQL[name]).df()
        odf = odf[list(sdf.columns)].sort_values(list(sdf.columns)).reset_index(drop=True)
        assert len(sdf) > 10000, name
        assert sdf.equals(odf.astype(sdf.dtypes.to_dict())), name
