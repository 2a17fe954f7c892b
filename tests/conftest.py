from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

REFERENCE = "/root/reference"

# The reference's mid_data corpus shape, as `sources/corpus.py::read_mid_data`
# reads it; ``end`` is exclusive.
LABEL_STRUCT = StructType(
    [
        StructField("span_id", StringType(), False),
        StructField("type", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("mention", StringType(), False),
    ]
)
MID_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), False),
        StructField("labels", ArrayType(LABEL_STRUCT), False),
    ]
)


def load_reference_module(relpath: str):
    """Exec a reference source file with torch stubbed out, for use as a
    live parity oracle in tests.  Read-only; returns a namespace dict or
    None when the reference tree is unavailable.

    Trust note: /root/reference is untrusted public content and whole-file
    exec runs its top-level code with test privileges — an intentional
    trade for live bit-exact parity, confined to the test process.  Prefer
    :func:`extract_function` (AST-scoped to one named function) for new
    parity tests; use this only when the oracle needs module-level state.
    """
    path = os.path.join(REFERENCE, relpath)
    if not os.path.exists(path):
        return None
    src = open(path, encoding="utf-8").read()
    src = src.replace("from torch import Tensor", "Tensor = tuple")
    src = src.replace("import torch", "torch = None")
    ns: dict = {}
    try:
        exec(compile(src, path, "exec"), ns)
    except Exception:
        return None
    return ns


def extract_function(relpath: str, name: str):
    """Exec only one top-level function from a reference file (for files
    whose imports can't be satisfied here)."""
    import ast

    path = os.path.join(REFERENCE, relpath)
    if not os.path.exists(path):
        return None
    tree = ast.parse(open(path, encoding="utf-8").read())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            mod = ast.Module(body=[node], type_ignores=[])
            ns: dict = {"Tensor": tuple, "np": __import__("numpy"),
                        "re": __import__("re"), "tmp": ["正面", "中性", "负面"]}
            exec(compile(mod, path, "exec"), ns)
            return ns[name]
    return None


@pytest.fixture(scope="session")
def spark():
    from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark

    s = get_spark(app_name="tests", cores=4)
    yield s
    s.stop()


@pytest.fixture
def restore_checkpoint_dir(spark):
    """Unset the session's checkpoint dir after the test: the star CC loop
    switches to reliable ``checkpoint`` whenever one is set, so a dir
    left behind would change the path every later test takes.  PySpark
    has no public unset; the JVM field is reset directly."""
    yield
    sc = spark.sparkContext
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def brute_neardup_pairs(embeddings, threshold: float):
    """Exact near-dup oracle for the LSH route: every vec_id pair a < b
    (crossJoin), exact cosine through ``_rerank_candidates``, threshold
    filter — (vec_a, vec_b, cos_sim).  Quadratic: small inputs only."""
    import pyspark.sql.functions as F

    from pytorch_bert_bilstm_crf_ner_spark.operators.ann import (
        _rerank_candidates,
    )

    ids = embeddings.select("vec_id")
    cand = (
        ids.select(F.col("vec_id").alias("vec_a"))
        .crossJoin(ids.select(F.col("vec_id").alias("vec_b")))
        .filter(F.col("vec_a") < F.col("vec_b"))
    )
    return (
        _rerank_candidates(cand, embeddings, a_key="vec_a", b_key="vec_b")
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def viterbi_decode_brute(emissions, start_transitions, transitions,
                         end_transitions) -> list[int]:
    """Exhaustive-enumeration Viterbi reference (single row, tiny T/L)."""
    from itertools import product

    L, T = emissions.shape
    best_path, best_score = None, -np.inf
    for path in product(range(T), repeat=L):
        s = start_transitions[path[0]] + emissions[0, path[0]]
        for i in range(1, L):
            s += transitions[path[i - 1], path[i]] + emissions[i, path[i]]
        s += end_transitions[path[-1]]
        if s > best_score:
            best_score, best_path = s, path
    return list(best_path)
