"""Similarity search over the ``embeddings`` table (vec_id, array<float>).

Every embedding dot product, norm and centroid score runs in ONE kernel
family: Arrow-batched numpy stages (``mapInArrow``) that widen each batch
to float64 and accumulate ONE DIMENSION AT A TIME in index order, i.e.
the ((0.0 + x0*y0) + x1*y1) + ... chain of IEEE double adds, never a BLAS
matmul (its reduction order varies with threading).  Each kernel reads the
vector width from the batch and rejects null or ragged rows.

- :func:`pair_cosine_parts` — (dot, norm_a, norm_b) per candidate pair;
  the division, ROUND and threshold stay Spark-side in the callers.
- :func:`lsh_buckets` — sign bits against hyperplane literals, packed into
  one BIGINT bucket per hash table, row-locally (no join, no Exchange).
- :func:`_assign_to_centroid` — the ``depth`` best centroids per vector by
  cosine against centroid literals (IVF assignment and query probe).

Operators, each with a hash-checked DuckDB twin (``*_sql``):

- :func:`cosine_topk` — exact top-k: the <= ``n_queries`` query rows are
  broadcast against the corpus, per-query ``row_number`` top-k.
- :func:`lsh_cosine_topk` — seeded random-hyperplane LSH: candidates share
  a (table_id, bucket) with a query (equi-join against the broadcast query
  buckets), exact re-rank; recall tuned by (n_planes, n_tables).
- :func:`ivf_cosine_topk` — inverted file over caller-supplied centroids
  (:func:`ivf_train_centroids`): every vector joins its nearest centroid's
  bucket, each query searches its ``nprobe`` nearest buckets, exact
  re-rank.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _flat2d(col, width: int | None = None) -> np.ndarray:
    """pyarrow list<float> column -> (rows, width) float64 (exact widening).

    Every row's width is read from the list offsets, so a null row, a null
    element, or a row whose width differs from ``width`` (default: the
    first row's) raises ValueError instead of being re-cut by the reshape
    into wrong vectors."""
    if col.null_count:
        raise ValueError("embedding has a null row")
    lens = col.value_lengths().to_numpy(zero_copy_only=False)
    if width is None:
        width = int(lens[0])
    bad = lens != width
    if bad.any():
        raise ValueError(
            f"embedding rows must have equal widths: got {int(lens[bad][0])}, "
            f"expected {width}")
    flat = col.flatten()
    if flat.null_count:
        raise ValueError("embedding has a null element")
    return flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(
        len(col), width)


def _int64(col) -> np.ndarray:
    return col.to_numpy(zero_copy_only=False).astype(np.int64)


def pair_cosine_parts(pairs: DataFrame) -> DataFrame:
    """(vec_a, vec_b, emb_a, emb_b) -> (vec_a, vec_b, dot, norm_a, norm_b)
    via ONE Arrow-batched numpy stage — the exact-cosine re-verify's heavy
    arithmetic, vectorized across the batch.  ``emb_a`` and ``emb_b`` must
    have one common width per batch (ValueError otherwise).

    Bit-exactness contract: ``dot``/norm sums accumulate in float64 ONE
    DIMENSION AT A TIME in index order (each ``+=`` is a single IEEE
    double add per element) — the sequential ((0.0 + x0) + x1) + ... fold;
    ``np.sqrt`` is the same IEEE sqrt as Spark's SQRT.  The division,
    ROUND and threshold comparison stay SPARK-SIDE in the callers, so
    every emitted float is produced by the same engine ops as the DuckDB
    twins compare against.

    Why not a JVM expression: an unrolled 64-term sum is evaluated
    interpreted (no codegen at this size) ~3x slower than even an HOF
    fold, and the optimizer duplicates it into join conditions; an opaque
    kernel is evaluated exactly once and is immune to both (measured in
    OPTIMIZATION_r06.md)."""

    def parts(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            A = _flat2d(batch.column("emb_a"))
            B = _flat2d(batch.column("emb_b"), A.shape[1])
            dot = np.zeros(n, dtype=np.float64)
            na = np.zeros(n, dtype=np.float64)
            nb = np.zeros(n, dtype=np.float64)
            for d in range(A.shape[1]):
                dot += A[:, d] * B[:, d]
                na += A[:, d] * A[:, d]
                nb += B[:, d] * B[:, d]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(_int64(batch.column("vec_a"))),
                    pa.array(_int64(batch.column("vec_b"))),
                    pa.array(dot),
                    pa.array(np.sqrt(na)),
                    pa.array(np.sqrt(nb)),
                ],
                names=["vec_a", "vec_b", "dot", "norm_a", "norm_b"],
            )

    return pairs.select("vec_a", "vec_b", "emb_a", "emb_b").mapInArrow(
        parts,
        "vec_a BIGINT, vec_b BIGINT, dot DOUBLE, norm_a DOUBLE, norm_b DOUBLE",
    )


def _side(embeddings: DataFrame, s: str) -> DataFrame:
    """(vec_<s>, emb_<s>): one side of a pair frame."""
    return embeddings.select(
        F.col("vec_id").alias(f"vec_{s}"), F.col("embedding").alias(f"emb_{s}")
    )


def _cosine(pairs: DataFrame, a_key: str, b_key: str) -> DataFrame:
    """(vec_a, vec_b, emb_a, emb_b) pairs -> (a_key, b_key, cos_sim) with
    cos_sim = round(dot / (norm_a * norm_b), 4) computed Spark-side."""
    return pair_cosine_parts(pairs).select(
        F.col("vec_a").alias(a_key),
        F.col("vec_b").alias(b_key),
        F.round(
            F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 4
        ).alias("cos_sim"),
    )


def _rerank_candidates(cand: DataFrame, embeddings: DataFrame,
                       a_key: str = "q_id", b_key: str = "c_id") -> DataFrame:
    """Attach embeddings to (a_key, b_key) candidate pairs and return
    (a_key, b_key, cos_sim), the exact cosine from :func:`_cosine`."""
    pairs = (
        cand.select(F.col(a_key).alias("vec_a"), F.col(b_key).alias("vec_b"))
        .join(_side(embeddings, "a"), "vec_a")
        .join(_side(embeddings, "b"), "vec_b")
    )
    return _cosine(pairs, a_key, b_key)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (q_id, c_id, cos_sim), ranked by (cos_sim desc,
    c_id asc): (query_id, neighbor_id, cos_sim, rank)."""
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "cos_sim",
            "rank",
        )
    )


def cosine_topk(embeddings: DataFrame, n_queries: int = 10,
                k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vec_ids:
    (query_id, neighbor_id, cos_sim, rank).  The query rows are broadcast
    against the corpus (nested-loop join on vec_a != vec_b) and every
    pair is scored by :func:`pair_cosine_parts`, which takes the vector
    width from each Arrow batch.  The recall baseline for the approximate
    operators; DuckDB twin :func:`cosine_topk_sql`."""
    q = _side(embeddings.filter(F.col("vec_id") < n_queries), "a")
    pairs = _side(embeddings, "b").join(
        F.broadcast(q), F.col("vec_a") != F.col("vec_b")
    )
    return _topk(_cosine(pairs, "q_id", "c_id"), k)


def cosine_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4) AS cos_sim
  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {k}
"""


def lsh_buckets(embeddings: DataFrame, dim: int = 64, n_planes: int = 8,
                n_tables: int = 4, seed: int = 7,
                plane_rows: list[tuple[int, int, list[float]]] | None = None,
                ) -> DataFrame:
    """(vec_id, table_id, bucket): sign-LSH bucket per hash table.

    ``plane_rows`` swaps in externally generated hyperplanes (e.g. the
    md5-derived, SQL-regenerable `dedup.md5_plane_rows`); default is the
    seeded-numpy Gaussian family whose twin inlines literals
    (:func:`lsh_cosine_topk_sql`)."""
    if plane_rows is None:
        rng = np.random.RandomState(seed)
        planes = rng.normal(size=(n_tables, n_planes, dim)).astype(float)
        plane_rows = [
            (int(t), int(p), [float(x) for x in planes[t, p]])
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    # Round-6 rewrite: ONE Arrow-batched numpy stage replaces the former
    # broadcast-plane join + interpreted HOF dot + groupBy-sum (guide
    # §4.2/§8.3: hand whole batches to vectorized native code; §2.4: the
    # per-(vec, table) aggregation Exchange is gone — buckets are computed
    # row-locally).  Bit-exactness contract with the SQL twins: the dot
    # products accumulate in float64 ONE DIMENSION AT A TIME in index
    # order (`acc += emb[:, d] * P[d, :]` — each += is a single IEEE
    # double add per element), which is exactly the sequential fold's
    # ((0.0 + e0*p0) + e1*p1) + ... chain, so every sign bit — and hence
    # every bucket id — is unchanged.  NO matmul here: BLAS reduction
    # order varies with threading/kernel (the ivf_train_centroids
    # precedent) and would break cross-engine sign equality.
    order = sorted(range(len(plane_rows)),
                   key=lambda i: (plane_rows[i][0], plane_rows[i][1]))
    P = np.array([plane_rows[i][2] for i in order], dtype=np.float64).T
    t_ids = [int(plane_rows[i][0]) for i in order]
    shifts = np.array([int(plane_rows[i][1]) for i in order], dtype=np.int64)
    tables = sorted(set(t_ids))
    t_index = np.array([tables.index(t) for t in t_ids], dtype=np.int64)
    n_dim, n_tab = P.shape[0], len(tables)
    table_arr = np.array(tables, dtype=np.int32)

    def buckets(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb64 = _flat2d(batch.column("embedding"), n_dim)
            acc = np.zeros((n, P.shape[1]), dtype=np.float64)
            for d in range(n_dim):
                acc += emb64[:, d : d + 1] * P[d : d + 1, :]
            contrib = (acc > 0).astype(np.int64) << shifts[None, :]
            out = np.zeros((n, n_tab), dtype=np.int64)
            for k in range(P.shape[1]):
                out[:, t_index[k]] += contrib[:, k]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(_int64(batch.column("vec_id")), n_tab)),
                    pa.array(np.tile(table_arr, n)),
                    pa.array(out.reshape(-1)),
                ],
                names=["vec_id", "table_id", "bucket"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        buckets, "vec_id BIGINT, table_id INT, bucket BIGINT"
    )


def lsh_cosine_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5,
                    dim: int = 64, n_planes: int = 8, n_tables: int = 4,
                    seed: int = 7) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in any table,
    exact cosine re-rank within candidates."""
    buckets = lsh_buckets(embeddings, dim, n_planes, n_tables, seed)
    # the query side is <= n_queries x n_tables rows by construction:
    # broadcast it so the corpus bucket side is never shuffled
    qb = buckets.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "table_id", "bucket"
    )
    cand = (
        buckets.join(F.broadcast(qb), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"))
        .distinct()
    )
    return _topk(_rerank_candidates(cand, embeddings), k)


# --------------------------------------------------------------------- #
# IVF (inverted-file) ANN: centroid literals -> per-centroid buckets ->
# nprobe-bucket candidate search with exact re-rank.

def _centroid_matrix(centroids: list[list[float]]) -> tuple[np.ndarray, np.ndarray]:
    """(dim, k) centroid matrix and the k centroid L2 norms (per-dim
    fixed-order accumulation).  Raises ValueError for ragged, non-finite or
    zero-norm centroids, whose cosine against any vector is undefined."""
    C = np.array(centroids, dtype=np.float64)
    if C.ndim != 2 or not C.size:
        raise ValueError("centroids must be a non-empty list of equal-width vectors")
    norm = np.zeros(C.shape[0], dtype=np.float64)
    for d in range(C.shape[1]):
        norm += C[:, d] * C[:, d]
    norm = np.sqrt(norm)
    # a NaN/inf component (or an overflowing square) makes the norm non-finite
    bad = ~(np.isfinite(norm) & (norm > 0))
    if bad.any():
        raise ValueError(
            f"centroid {int(np.argmax(bad))} is zero-norm or non-finite")
    return C.T, norm


def _assign_to_centroid(embeddings: DataFrame, centroids: list[list[float]],
                        depth: int = 1) -> DataFrame:
    """(vec_id, centroid_id): each vector's ``depth`` nearest centroids by
    cosine, best first — ``depth=1`` is the IVF assignment, ``nprobe`` on
    the query rows is the probe.  Centroids are driver-held literals
    (k x dim), so this is ONE Arrow-batched numpy stage, no join.

    Bit-exactness: per-dim fixed-order float64 accumulation (see
    :func:`pair_cosine_parts`), score = dot / (norm_e * norm_c) in that
    order.  Ranking is a stable sort on (score desc, centroid_id asc) with
    NaN ranked greatest — np.argmax's first-max rule at depth 1, and the
    twins' ``ORDER BY score DESC, centroid_id``.  A zero-norm vector scores
    NaN against every centroid, so its centroids rank by id."""
    C, norm_c = _centroid_matrix(centroids)
    dim, k = C.shape
    depth = min(depth, k)

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            E = _flat2d(batch.column("embedding"), dim)
            acc = np.zeros((n, k), dtype=np.float64)
            ne = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                acc += E[:, d : d + 1] * C[d : d + 1, :]
                ne += E[:, d] * E[:, d]
            score = acc / (np.sqrt(ne)[:, None] * norm_c[None, :])
            key = np.where(np.isnan(score), -np.inf, -score)
            best = np.argsort(key, axis=1, kind="stable")[:, :depth]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(_int64(batch.column("vec_id")), depth)),
                    pa.array(best.reshape(-1).astype(np.int32)),
                ],
                names=["vec_id", "centroid_id"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        assign, "vec_id BIGINT, centroid_id INT"
    )


def ivf_train_centroids(vec_ids, vectors, k: int = 8, max_iter: int = 3,
                        seed: int = 7,
                        max_train_rows: int = 65536) -> list[list[float]]:
    """Driver-side numpy Lloyd training for the IVF coarse quantizer.

    The FAISS convention: the quantizer trains on a bounded driver-held
    sample, then the full corpus is ASSIGNED distributedly.  Everything
    here is deterministic and engine-independent — rows are processed in
    vec_id order, the init (and the over-cap subsample) picks the k rows
    with the smallest md5(vec_id|seed), ties in assignment break to the
    lowest centroid_id — so the returned centroids can be inlined as
    LITERALS into both the Spark plan and the DuckDB twin (the
    `lsh_cosine_topk_sql` precedent), removing iterative float drift from
    the cross-engine comparison entirely.  The trainer is driver-side by
    design: :func:`ivf_cosine_topk` takes its centroids as literals."""
    import hashlib

    ids = [int(i) for i in vec_ids]
    order = sorted(range(len(ids)), key=lambda j: ids[j])
    v = np.asarray(vectors, dtype=np.float64)[order]
    ids = [ids[j] for j in order]

    def h(vid: int) -> str:
        return hashlib.md5(f"{vid}|{seed}".encode()).hexdigest()

    if len(ids) > max_train_rows:
        keep = sorted(range(len(ids)), key=lambda j: h(ids[j]))[:max_train_rows]
        keep.sort()
        v = v[keep]
        ids = [ids[j] for j in keep]
    init_idx = sorted(range(len(ids)), key=lambda j: h(ids[j]))[:k]
    cents = v[init_idx].copy()

    def _scores(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        # NOT a @ b.T: BLAS reduction order varies with thread count, and
        # these centroids must be bit-reproducible across processes (the
        # Spark plan and the DuckDB twin inline them independently).  A
        # sequential loop over dims is threading-independent.
        out = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for d in range(a.shape[1]):
            out += np.outer(a[:, d], b[:, d])
        return out

    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    for _ in range(max_iter):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(_scores(vn, cn), axis=1)  # ties -> lowest id
        for ci in range(len(cents)):
            members = v[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cents]


def ivf_cosine_topk(embeddings: DataFrame, centroids: list[list[float]],
                    n_queries: int = 10, k: int = 5,
                    nprobe: int = 3) -> DataFrame:
    """IVF ANN over pre-trained ``centroids`` (e.g.
    :func:`ivf_train_centroids`, whose literals also feed the DuckDB twin
    :func:`ivf_cosine_topk_sql`): bucket every vector by its nearest
    centroid; for each query, search only its ``nprobe`` nearest buckets,
    exact cosine re-rank inside.  Assignment and probe are the same kernel
    (:func:`_assign_to_centroid`, depth 1 over the corpus and depth
    ``nprobe`` over the <= ``n_queries`` query rows); the candidate join is
    an equi-join on centroid_id — no quadratic stage anywhere.  Recall is
    tuned by (len(centroids), nprobe); pytest pins it against
    :func:`cosine_topk`.  Zero-norm or non-finite centroids raise
    ValueError when the plan is built."""
    assigned = _assign_to_centroid(embeddings, centroids)
    probes = _assign_to_centroid(
        embeddings.filter(F.col("vec_id") < n_queries), centroids,
        depth=nprobe,
    ).select(F.col("vec_id").alias("q_id"), "centroid_id")

    # probes is <= n_queries x nprobe rows: broadcast it so the
    # full-corpus assignment side is never shuffled by the 8-key
    # centroid_id (a guaranteed-skew shuffle key).  No distinct: IVF
    # assigns every vector to EXACTLY ONE centroid and the nprobe ids per
    # query are distinct by construction, so a (q, c) pair can only arise
    # once (LSH keeps its distinct, where multi-table collisions are real).
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"))
    )
    return _topk(_rerank_candidates(cand, embeddings), k)


def ivf_cosine_topk_sql(centroids: list[list[float]], n_queries: int = 10,
                        k: int = 5, nprobe: int = 3) -> str:
    """DuckDB twin of :func:`ivf_cosine_topk` given the SAME pre-trained
    centroid literals the Spark plan broadcasts (`ivf_train_centroids`).
    Assignment/probe scores are sequential double dot products from
    identical literals on both engines, so they are bit-identical and the
    argmax / nprobe ranking (score DESC, centroid_id ASC) picks the same
    buckets; the re-rank cosine is rounded to 4 like the Spark column."""
    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}])"
        for i, c in enumerate(centroids)
    )
    return f"""
WITH cents(centroid_id, centroid) AS (VALUES
    {rows}
),
cscore AS (
  SELECT e.vec_id, ct.centroid_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(ct.centroid AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(ct.centroid AS DOUBLE[]), CAST(ct.centroid AS DOUBLE[])))) AS score
  FROM embeddings e CROSS JOIN cents ct
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, centroid_id) AS rn
    FROM cscore) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS q_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, centroid_id) AS rn
    FROM cscore WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT qp.q_id, a.vec_id AS c_id
  FROM assigned a JOIN qprobe qp ON qp.centroid_id = a.centroid_id
  WHERE a.vec_id <> qp.q_id
),
scored AS (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4)
           AS cos_sim
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.q_id
  JOIN embeddings c ON c.vec_id = cand.c_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
             AS rank
      FROM scored)
WHERE rank <= {k}
"""


def lsh_cosine_topk_sql(n_queries: int = 10, k: int = 5, dim: int = 64,
                        n_planes: int = 8, n_tables: int = 4,
                        seed: int = 7) -> str:
    """DuckDB twin of :func:`lsh_cosine_topk`: the seeded hyperplanes are
    generated HERE with the same numpy call and inlined as literal arrays,
    so both engines hash identical planes.  Sign bits compare a double
    dot product against 0 on both sides; the re-rank cosine is rounded to
    4 before ordering/filtering exactly like the Spark column."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim)).astype(float)
    rows = ",\n    ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t, p])}])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
WITH planes(table_id, plane_id, plane) AS (VALUES
    {rows}
),
sb AS (
  SELECT e.vec_id, p.table_id, p.plane_id,
         CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p.plane AS DOUBLE[])) > 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes p
),
buckets AS (
  SELECT vec_id, table_id,
         SUM(CAST(bit AS BIGINT) << plane_id) AS bucket
  FROM sb GROUP BY vec_id, table_id
),
qb AS (
  SELECT vec_id AS q_id, table_id, bucket FROM buckets
  WHERE vec_id < {n_queries}
),
cand AS (
  SELECT DISTINCT qb.q_id, b.vec_id AS c_id
  FROM buckets b JOIN qb ON qb.table_id = b.table_id
                        AND qb.bucket = b.bucket
  WHERE b.vec_id <> qb.q_id
),
scored AS (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4)
           AS cos_sim
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.q_id
  JOIN embeddings c ON c.vec_id = cand.c_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
             AS rank
      FROM scored)
WHERE rank <= {k}
"""
