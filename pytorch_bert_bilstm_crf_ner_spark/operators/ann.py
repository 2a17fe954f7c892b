"""Similarity search over the ``embeddings`` table (vec_id, array<float>).

Every embedding dot product, norm and centroid score runs in ONE kernel
family: Arrow-batched numpy stages (``mapInArrow``) that widen each batch
to float64 and accumulate ONE DIMENSION AT A TIME in index order, i.e.
the ((0.0 + x0*y0) + x1*y1) + ... chain of IEEE double adds, never a BLAS
matmul (its reduction order varies with threading).  Each kernel reads the
vector width from the batch and rejects null or ragged rows.

- :func:`pair_cosine_parts` — (dot, norm_a, norm_b) per candidate pair;
  the division, ROUND and threshold stay Spark-side in the callers.
- :func:`lsh_buckets` — sign bits against the md5 hyperplanes of
  :func:`md5_plane_rows` (the one hyperplane family, rebuilt in SQL by the
  twins), packed into one BIGINT bucket per hash table, row-locally (no
  join, no Exchange).
- :func:`_assign_to_centroid` — the ``depth`` best centroids per vector by
  cosine against driver-held centroids (IVF assignment and query probe).

Operators, each with a hash-checked DuckDB twin (``*_sql``; the twins
share one exact re-rank + ``ROW_NUMBER`` top-k tail):

- :func:`cosine_topk` — exact top-k: the <= ``n_queries`` query rows are
  broadcast against the corpus, per-query ``row_number`` top-k.
- :func:`lsh_cosine_topk` — md5-hyperplane sign-LSH at the data's width:
  candidates share a (table_id, bucket) with a query (equi-join against
  the broadcast query buckets), exact re-rank; recall tuned by
  (n_planes, n_tables).
- :func:`ivf_cosine_topk` — inverted file over caller-supplied centroids
  (:func:`ivf_sample_centroids`: the ``IVF_CENTROIDS`` md5-first rows,
  which the twin picks again in SQL): every vector joins its nearest
  centroid's bucket, each query searches its ``nprobe`` nearest buckets,
  exact re-rank.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# Every top-k operator and its twin: queries are the first N_QUERIES
# vec_ids, each returns its TOP_K neighbours.
N_QUERIES = 10
TOP_K = 5
# md5 seed of every sign-LSH operator's hyperplanes (md5_plane_rows) and
# of the IVF centroid pick, and the plane and table counts of
# lsh_cosine_topk
LSH_SEED = 7
LSH_PLANES = 8
LSH_TABLES = 4
# IVF: centroids of the coarse quantizer and buckets probed per query
IVF_CENTROIDS = 8
NPROBE = 3


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
    BASELINE.md)."""

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


def cosine_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                k: int = TOP_K) -> DataFrame:
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


def _cos_sql(a: str, b: str) -> str:
    """The twins' exact cosine of the embeddings of aliases ``a`` and
    ``b``, rounded to 4 like :func:`_cosine`."""
    return (
        f"ROUND(list_dot_product(CAST({a}.embedding AS DOUBLE[]), CAST({b}.embedding AS DOUBLE[]))\n"
        f"      / (sqrt(list_dot_product(CAST({a}.embedding AS DOUBLE[]), CAST({a}.embedding AS DOUBLE[])))\n"
        f"         * sqrt(list_dot_product(CAST({b}.embedding AS DOUBLE[]), CAST({b}.embedding AS DOUBLE[])))), 4)"
    )


# The top-k twins' tail over a ``cand`` CTE of (q_id, c_id) pairs: the
# exact cosine and per-query ROW_NUMBER top-k of _rerank_candidates + _topk.
_RERANK_TOPK_SQL = f"""scored AS (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         {_cos_sql("q", "c")} AS cos_sim
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.q_id
  JOIN embeddings c ON c.vec_id = cand.c_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
             AS rank
      FROM scored)
WHERE rank <= {TOP_K}
"""


def cosine_topk_sql() -> str:
    return f"""
WITH cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_RERANK_TOPK_SQL}"""


def md5_plane_rows(dim: int, n_planes: int,
                   n_tables: int) -> list[tuple[int, int, list[float]]]:
    """(table_id, plane_id, plane) sign-LSH hyperplanes derived from md5,
    the one hyperplane family of every LSH operator.  DuckDB regenerates
    the IDENTICAL values in pure SQL (:func:`_lsh_buckets_sql`), so a
    twin's buckets match the Spark plan's at any width and scale factor
    by construction, with no literal-inlining step that could desync.
    Component (t, p, d) =
    ``(int(md5(f"{LSH_SEED}|{t}|{p}|{d}")[:8], 16) / 4294967295) * 2 - 1``
    (uniform in [-1, 1]; direction-uniformity is looser than Gaussian but
    the exact re-rank keeps precision and pytest pins recall)."""
    import hashlib

    def val(t: int, p: int, d: int) -> float:
        v = int(hashlib.md5(f"{LSH_SEED}|{t}|{p}|{d}".encode()).hexdigest()[:8], 16)
        return (v / 4294967295) * 2 - 1

    return [
        (t, p, [val(t, p, d) for d in range(dim)])
        for t in range(n_tables)
        for p in range(n_planes)
    ]


def embedding_width(embeddings: DataFrame) -> int:
    """Width of the first embedding (one ``head(1)`` job), 0 for an empty
    frame — the planes of an empty input are empty too."""
    head = embeddings.select("embedding").head(1)
    return len(head[0]["embedding"]) if head else 0


def lsh_buckets(embeddings: DataFrame,
                plane_rows: list[tuple[int, int, list[float]]]) -> DataFrame:
    """(vec_id, table_id, bucket): sign-LSH bucket per hash table over
    ``plane_rows`` (:func:`md5_plane_rows`), whose width must equal the
    embeddings' (ValueError otherwise)."""
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
    # order varies with threading/kernel and would break cross-engine
    # sign equality.
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


def lsh_cosine_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                    k: int = TOP_K, n_planes: int = LSH_PLANES,
                    n_tables: int = LSH_TABLES,
                    dim: int | None = None) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in any table,
    exact cosine re-rank within candidates.  The md5 planes are built at
    the embedding width ``dim``; pass it when known (e.g. from the parquet
    footer) so plan construction runs no Spark job, else one ``head(1)``
    reads it."""
    if dim is None:
        dim = embedding_width(embeddings)
    buckets = lsh_buckets(embeddings, md5_plane_rows(dim, n_planes, n_tables))
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
# IVF (inverted-file) ANN: md5-picked centroids -> per-centroid buckets ->
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
    the query rows is the probe.  Centroids are driver-held (k x dim), so
    this is ONE Arrow-batched numpy stage, no join.

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


def ivf_sample_centroids(embeddings: DataFrame) -> list[list[float]]:
    """The IVF coarse quantizer: the embeddings of the ``IVF_CENTROIDS``
    rows with the smallest ``(md5("<vec_id>|<LSH_SEED>"), vec_id)``, in
    that order, so centroid i is the i-th row.  One ``orderBy + limit``
    job at plan build; the pick depends only on the table's vec_ids, never
    on the scan order, and the DuckDB twin repeats it in SQL."""
    key = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f"|{LSH_SEED}")))
    rows = (
        embeddings.orderBy(key, "vec_id")
        .limit(IVF_CENTROIDS)
        .select("embedding")
        .collect()
    )
    return [list(r["embedding"]) for r in rows]


def ivf_cosine_topk(embeddings: DataFrame, centroids: list[list[float]],
                    n_queries: int = N_QUERIES, k: int = TOP_K,
                    nprobe: int = NPROBE) -> DataFrame:
    """IVF ANN over driver-held ``centroids`` (e.g.
    :func:`ivf_sample_centroids`, whose pick the DuckDB twin
    :func:`ivf_cosine_topk_sql` repeats): bucket every vector by its nearest
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


def ivf_cosine_topk_sql() -> str:
    """DuckDB twin of :func:`ivf_cosine_topk` over
    :func:`ivf_sample_centroids`: the ``cents`` CTE picks the same
    md5-first rows in the same order, so both engines score against the
    same float32-widened centroids.  Assignment/probe scores are
    sequential double dot products on both engines, so they are
    bit-identical and the argmax / nprobe ranking (score DESC, centroid_id
    ASC) picks the same buckets; the re-rank cosine is rounded to 4 like
    the Spark column."""
    key = f"md5(vec_id || '|{LSH_SEED}'), vec_id"
    return f"""
WITH cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {key}) - 1 AS centroid_id,
         embedding AS centroid
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY {key} LIMIT {IVF_CENTROIDS})
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
    FROM cscore WHERE vec_id < {N_QUERIES}) WHERE rn <= {NPROBE}
),
cand AS (
  SELECT DISTINCT qp.q_id, a.vec_id AS c_id
  FROM assigned a JOIN qprobe qp ON qp.centroid_id = a.centroid_id
  WHERE a.vec_id <> qp.q_id
),
{_RERANK_TOPK_SQL}"""


def _lsh_buckets_sql(n_planes: str, n_tables: int) -> str:
    """The ``planes``, ``sb`` and ``buckets`` CTEs of the sign-LSH twins.
    The planes are :func:`md5_plane_rows` rebuilt IN SQL at the table's
    width ``MIN(len(embedding))``: both reduce to the same integer-from-hex
    and the same IEEE-double ``(v / 4294967295) * 2 - 1``, so they are
    bit-identical.  Sign bits compare a double dot product against 0 and
    buckets are ``SUM(bit << plane_id)``, as in :func:`lsh_buckets`.
    ``n_planes`` is a SQL expression; ``range(0, 63)`` bounds it, so
    every ``bit << plane_id`` fits the BIGINT bucket."""
    return f"""planes AS (
  SELECT t.range AS table_id, p.range AS plane_id,
         list_transform(range(0, w.dim), d ->
           (CAST(('0x' || substr(md5('{LSH_SEED}|' || t.range || '|'
                                 || p.range || '|' || d), 1, 8)) AS BIGINT)
            / 4294967295e0) * 2 - 1) AS plane
  FROM (SELECT COALESCE(MIN(len(embedding)), 0) AS dim FROM embeddings) w,
       range(0, {n_tables}) t, range(0, 63) p
  WHERE p.range < {n_planes}
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
)"""


def lsh_cosine_topk_sql() -> str:
    """DuckDB twin of :func:`lsh_cosine_topk`: the same md5 planes and
    buckets (:func:`_lsh_buckets_sql`), the candidates that share a
    (table_id, bucket) with a query, and the exact re-rank top-k."""
    return f"""
WITH {_lsh_buckets_sql(str(LSH_PLANES), LSH_TABLES)},
qb AS (
  SELECT vec_id AS q_id, table_id, bucket FROM buckets
  WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT DISTINCT qb.q_id, b.vec_id AS c_id
  FROM buckets b JOIN qb ON qb.table_id = b.table_id
                        AND qb.bucket = b.bucket
  WHERE b.vec_id <> qb.q_id
),
{_RERANK_TOPK_SQL}"""
