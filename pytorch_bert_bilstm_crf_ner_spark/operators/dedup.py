"""Deduplication operators over the ``documents`` table — the
training-data-pipeline surface of the engine (exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup).

Engine-portability rule used throughout: every hash is ``md5`` of a string
(identical in Spark and DuckDB), MinHash minima are taken over hex STRINGS
(string min is engine-independent), and floats are rounded before emission
— so each operator has an exact ANSI-SQL twin for the correctness oracle.
At 100 TB the shapes hold: shingle explode -> hash-partitioned groupBy is
the classic map-side-combinable MinHash; LSH banding turns the quadratic
candidate search into an equi-join on (band_id, band_key).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .ann import (
    _cos_sql,
    _lsh_buckets_sql,
    _rerank_candidates,
    embedding_width,
    lsh_buckets,
    md5_plane_rows,
)

# ------------------------------------------------------------------ #
# exact duplicates (hash groupBy)


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, min_doc_id)."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ------------------------------------------------------------------ #
# word shingles

SHINGLE_N = 3  # words per shingle


def _shingle_rows(documents: DataFrame) -> DataFrame:
    """(doc_id, shingle): every SHINGLE_N-word shingle of every document,
    repeats kept.

    Explodes the shingle POSITIONS and builds each shingle with
    codegen'd slice/array_join per exploded row, instead of
    materializing the whole shingle array via an interpreted
    ``transform(...)`` lambda (guide §4.1 — measured 1.67 s -> 0.19 s for
    the shingle stage alone at sf0.1)."""
    return (
        documents.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.expr(f"sequence(0, greatest(size(w) - {SHINGLE_N}, 0))")
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, i + 1, {SHINGLE_N}), ' ')").alias("shingle"),
        )
    )


def _shingles(documents: DataFrame) -> DataFrame:
    """(doc_id, shingle): distinct SHINGLE_N-word shingles per document.

    :func:`_shingle_rows` then dropDuplicates — the former row-local
    ``array_distinct(transform(...))`` avoided the dedup Exchange but paid
    interpreted lambda evaluation for every shingle, and the Jaccard
    self-join evaluates this subtree three times (two join sides + the
    counts): 4.8 s -> 1.5 s at sf0.1 for ngram_jaccard_pairs.  Same
    distinct (doc_id, shingle) set."""
    return _shingle_rows(documents).dropDuplicates(["doc_id", "shingle"])


def _shingles_sql() -> str:
    return f"""
SELECT doc_id, unnest(list_distinct(list_transform(
         range(0, greatest(len(string_split(text,' ')) - {SHINGLE_N}, 0) + 1),
         i -> array_to_string(list_slice(string_split(text,' '), i+1, i+{SHINGLE_N}), ' ')
       ))) AS shingle
FROM documents
"""


# ------------------------------------------------------------------ #
# n-gram Jaccard near-dup pairs


JACCARD_THRESHOLD = 0.8  # a near-dup pair's least Jaccard similarity


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs at or over ``JACCARD_THRESHOLD``;
    doc_a < doc_b.

    Shingle self-join counts the intersection; per-doc shingle counts give
    the union by inclusion-exclusion — no quadratic cross join.
    """
    sh = _shingles(documents)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(counts.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_sql() -> str:
    return f"""
WITH sh AS ({_shingles_sql()}),
counts AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE ROUND(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}
"""


# ------------------------------------------------------------------ #
# MinHash signatures + LSH banding

N_HASHES = 8
BAND_SIZE = 2  # -> 4 bands


def minhash_signatures(documents: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, h0..h{K-1}): K MinHash values = min over shingles of
    md5(k || '|' || shingle), as hex strings (engine-portable minima).
    One groupBy with K aggregates — the partial (map-side) combine
    reduces the shuffle to docs x K pre-combined minima, so the exploded
    shingle rows never cross the network: scale-correct as-is.  A
    row-local ``array_min(transform(...))`` variant was tried and
    reverted — interpreted lambda evaluation lost to this codegen'd
    aggregation under forced-evaluation timing (the apparent win was an
    artifact of ``count()`` pruning the unevaluated columns)."""
    # The shingles are not deduplicated: MIN over a multiset equals MIN
    # over its distinct set, so the signatures are hash-identical (the
    # Jaccard operator, whose counts DO need distinct shingles, reads
    # :func:`_shingles`).
    sh = _shingle_rows(documents)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"h{k}")
        for k in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_sql() -> str:
    mins = ",\n       ".join(
        f"MIN(md5('{k}|' || shingle)) AS h{k}" for k in range(N_HASHES)
    )
    return f"""
WITH sh AS ({_shingles_sql()})
SELECT doc_id,
       {mins}
FROM sh GROUP BY doc_id
"""


def lsh_candidate_pairs(documents: DataFrame, n_hashes: int = N_HASHES,
                        band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_a, doc_b, n_bands): pairs sharing >= 1 LSH band.  Bands are
    md5 of the concatenated band signature; the pair search is a pure
    equi-join on (band_id, band_key)."""
    sig = minhash_signatures(documents, n_hashes)
    n_bands = n_hashes // band_size
    # unpivot via one explode (NOT a per-band union: that would re-run the
    # signature aggregation once per band)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{k}")
                            for k in range(b * band_size, (b + 1) * band_size)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def lsh_candidate_pairs_sql() -> str:
    selects = []
    for b in range(N_HASHES // BAND_SIZE):
        cols = " || '|' || ".join(
            f"h{k}" for k in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig"
        )
    bands = " UNION ALL ".join(selects)
    return f"""
WITH sig AS ({minhash_signatures_sql()}),
bands AS ({bands})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# ------------------------------------------------------------------ #
# SimHash (48-bit, md5-nibble based so both engines agree; bit 47..0)

# a multiple of 4 and at most 60: the packed form reads the leading
# SIMHASH_BITS/4 md5 hex chars as one signed BIGINT, and past 60 bits a
# leading hex digit >= 8 overflows and the cast yields NULL
SIMHASH_BITS = 48
# banded near-dup search: 4 bands of 12 bits, Hamming <= 3; exact recall
# needs SIMHASH_MAX_HAMMING <= SIMHASH_BANDS - 1 (pigeonhole)
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def simhash(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash): weighted-majority bit fingerprint over words.

    Bit b of a word's hash = bit (3 - b%4) of hex nibble b//4 of md5(word);
    the document bit is 1 iff more words set it than clear it.

    The first ``SIMHASH_BITS/4`` hex chars of md5(word) are ONE packed
    integer ``v`` (bit b of the fingerprint = bit ``SIMHASH_BITS-1-b`` of
    ``v`` — the hex string IS the big-endian bit string), so the whole
    vote tally is a SINGLE groupBy(doc_id) with ``SIMHASH_BITS`` conditional
    SUM((v >> k) & 1) aggregates plus COUNT(*): vote_b = 2*set_b - n > 0
    iff 2*set_b > n.  This removes the former words x bits explode
    (13M intermediate rows at sf0.1) and the second aggregation /
    Exchange entirely — one Generate, one Exchange of docs x (bits + 1)
    pre-combined longs, all whole-stage-codegen.  Bit-identical output:
    same per-word bits, same majority rule, same packing."""
    bits = SIMHASH_BITS
    nib = bits // 4
    words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).select(
        "doc_id",
        F.expr(
            f"CAST(conv(substring(md5(word), 1, {nib}), 16, 10) AS BIGINT)"
        ).alias("v"),
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.expr(f"shiftright(v, {bits - 1 - b}) & 1")).alias(f"c{b}")
        for b in range(bits)
    ]
    per_doc = words.groupBy("doc_id").agg(*aggs)
    fp = F.expr(
        " + ".join(
            f"IF(c{b} * 2 > n, {1 << (bits - 1 - b)}L, 0L)"
            for b in range(bits)
        )
    )
    return per_doc.select("doc_id", fp.alias("simhash"))


def simhash_band_pairs(fingerprints: DataFrame) -> DataFrame:
    """Every two rows of ``fingerprints`` (doc_id, simhash, ...) whose
    fingerprints differ in at most ``SIMHASH_MAX_HAMMING`` bits, doc_a <
    doc_b: (doc_a, sim_a, doc_b, sim_b, hamming) plus ``<c>_a`` and
    ``<c>_b`` for every other column ``c``.

    Banding (the classic web-dedup construction): slice the 48-bit
    fingerprint into ``SIMHASH_BANDS`` contiguous slices and equi-join on
    (band_id, band_val).  Pigeonhole gives EXACT recall because
    ``SIMHASH_MAX_HAMMING <= SIMHASH_BANDS - 1``: that many differing bits
    touch at most that many bands, so at least one band is identical.
    Verification is one ``bit_count(a ^ b)`` on the deduplicated
    candidate set — no quadratic stage anywhere.  The batch operator and
    the stream (`streaming/neardup.py`) both search with this."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    extra = [c for c in fingerprints.columns if c not in ("doc_id", "simhash")]
    bands = fingerprints.select(
        "*",
        F.explode(F.array(*[
            F.expr(f"named_struct('band_id', {b}, 'band_val', "
                   f"shiftright(simhash, {b * band_bits}) & {mask})")
            for b in range(SIMHASH_BANDS)
        ])).alias("b"),
    ).select(
        *fingerprints.columns,
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_val").alias("band_val"),
    )

    def side(s: str) -> DataFrame:
        return bands.select(
            F.col("doc_id").alias(f"doc_{s}"), F.col("simhash").alias(f"sim_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in extra], "band_id", "band_val")

    cand = (
        side("a").join(side("b"), ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .drop("band_id", "band_val")
        .distinct()   # a pair may share several bands
    )
    return (
        cand.withColumn(
            "hamming", F.expr("CAST(bit_count(sim_a ^ sim_b) AS INT)"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def simhash_neardup_pairs(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming): document pairs whose simhash fingerprints
    differ in at most ``SIMHASH_MAX_HAMMING`` bits; doc_a < doc_b
    (:func:`simhash_band_pairs` over :func:`simhash`)."""
    return simhash_band_pairs(simhash(documents)).select("doc_a", "doc_b", "hamming")


def simhash_neardup_sql() -> str:
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    return f"""
WITH sig AS MATERIALIZED ({simhash_sql()}),
bands AS MATERIALIZED (
  SELECT doc_id, simhash, CAST(b AS INT) AS band_id,
         (simhash >> (CAST(b AS INT) * {band_bits})) & {mask} AS band_val
  FROM sig, (SELECT unnest(range({SIMHASH_BANDS})) AS b)
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
"""


def simhash_sql() -> str:
    return f"""
WITH words AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
),
bitsrc AS (
  SELECT doc_id, h, CAST(unnest(range({SIMHASH_BITS})) AS INT) AS bit FROM words
),
votes AS (
  SELECT doc_id, bit,
         SUM(((CAST(strpos('0123456789abcdef', substr(h, (bit // 4) + 1, 1)) AS INT) - 1)
              >> (3 - (bit % 4)) & 1) * 2 - 1) AS vote
  FROM bitsrc GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0
                THEN (CAST(1 AS BIGINT) << ({SIMHASH_BITS - 1} - bit))
                ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ------------------------------------------------------------------ #
# embedding-cosine near-duplicates


def auto_n_planes(n: int) -> int:
    """Bucket-count sizing shared by the Spark plan AND the SQL twin
    (both must derive the same value from the same row count or their LSH
    candidate sets desync): ~60 vectors per bucket, floor 3.

    PURE-INTEGER formula — ``bit_length(n // 60) - 1`` equals
    ``floor(log2(n / 60))`` exactly (proof: for x >= 1, 2^k <= x < 2^(k+1)
    iff 2^k <= floor(x) < 2^(k+1), both bounds being integers), so the
    DuckDB twin can compute the identical value in SQL as
    ``LENGTH(printf('%b', n // 60)) - 1`` with no float-log boundary
    risk on either engine."""
    return max(3, (n // 60).bit_length() - 1) if n > 60 else 3


# hash tables of the embedding near-dup route, and the least cosine of a
# near-dup pair
NEARDUP_TABLES = 16
NEARDUP_THRESHOLD = 0.5


def embedding_neardup_pairs(embeddings: DataFrame,
                            n: int | None = None,
                            dim: int | None = None) -> DataFrame:
    """(vec_a, vec_b, cos_sim) for pairs at or above ``NEARDUP_THRESHOLD``;
    vec_a < vec_b.

    Sign-LSH bucketing (`operators/ann.py::lsh_buckets`) over the md5
    hyperplanes (`operators/ann.py::md5_plane_rows`) generates candidate
    pairs via an equi-join on (table_id, bucket); candidates are
    re-verified with the exact cosine
    (`operators/ann.py::_rerank_candidates`) before the threshold filter,
    so precision is always 1.0 and recall is the LSH collision probability
    — for a pair at cosine s, 1 - (1 - (1 - acos(s)/pi)^n_planes)^n_tables
    (0.996 at s = 0.5 with 3 planes / 16 tables; see BASELINE.md).
    The plane count sizes the bucket count to the corpus
    (:func:`auto_n_planes`): max(3, floor(log2(n / 60))), i.e. ~60
    vectors per bucket, so the candidate join stays near-linear as n
    grows instead of degrading toward quadratic with fixed buckets.  The exact quadratic baseline is a
    test-side oracle (``tests/conftest.py::brute_neardup_pairs``), not a
    plan.

    Pass ``n`` (row count, for sizing the plane count) and ``dim``
    (embedding width, for the hyperplanes) when known — e.g. from parquet
    footer metadata — so plan construction launches ZERO Spark jobs; at
    100 TB an implicit ``count()`` is a full scan before the real query
    starts.  Omitted, they fall back to one ``count()`` / one ``head(1)``
    (empty input has width 0 and yields an empty pair frame).
    """
    n_planes = auto_n_planes(embeddings.count() if n is None else n)
    if dim is None:
        dim = embedding_width(embeddings)
    # Candidate generation stays (vec_id, table, bucket) self-join +
    # distinct: a leftmost-shared-table dedup (emit each pair from its
    # first colliding table, no distinct Exchange) was tried and
    # REVERTED — carrying both 16-bucket arrays through 3.1M
    # collision rows cost more than the 16-byte-pair distinct it saved
    # (3.4s vs 1.9s at sf0.1; see BASELINE.md).
    buckets = lsh_buckets(embeddings,
                          md5_plane_rows(dim, n_planes, NEARDUP_TABLES))
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["table_id", "bucket"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # ROUND + threshold stay Spark-side, so emitted values are
    # bit-identical to the SQL twin's
    return (
        _rerank_candidates(cand, embeddings, a_key="vec_a", b_key="vec_b")
        .filter(F.col("cos_sim") >= NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )


def embedding_neardup_lsh_sql() -> str:
    """DuckDB twin of :func:`embedding_neardup_pairs` (lsh route) that
    computes THE SAME LSH candidate set as the Spark plan AT ANY SCALE
    FACTOR by construction — nothing data-dependent is frozen at
    twin-generation time:

    - ``n_planes`` is derived IN SQL from ``COUNT(*)`` via the
      pure-integer log2 (``LENGTH(printf('%b', n // 60)) - 1`` ==
      :func:`auto_n_planes`, see its proof note);
    - the hyperplanes and buckets are the md5 ones rebuilt IN SQL
      (`operators/ann.py::_lsh_buckets_sql`);
    - the bucket equi-join and the exact re-verify mirror the Spark
      operators expression by expression (ROUND to 4 before the threshold
      filter)."""
    cos = _cos_sql("a", "b")
    return f"""
WITH np AS (
  SELECT CASE WHEN n > 60
              THEN GREATEST(3, LENGTH(printf('%b', n // 60)) - 1)
              ELSE 3 END AS n_planes
  FROM (SELECT COUNT(*) AS n FROM embeddings)
),
{_lsh_buckets_sql("(SELECT n_planes FROM np)", NEARDUP_TABLES)},
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM buckets x JOIN buckets y
    ON x.table_id = y.table_id AND x.bucket = y.bucket
   AND x.vec_id < y.vec_id
)
SELECT cand.vec_a, cand.vec_b, {cos} AS cos_sim
FROM cand
JOIN embeddings a ON a.vec_id = cand.vec_a
JOIN embeddings b ON b.vec_id = cand.vec_b
WHERE {cos} >= {NEARDUP_THRESHOLD}
"""


# ------------------------------------------------------------------ #
# near-duplicate clusters: connected components over the near-dup pair
# graph -> one canonical cluster id per involved document/vector (the
# "keep one per cluster" step of a dedup pipeline).


def neardup_clusters(embeddings: DataFrame, n: int | None = None,
                     dim: int | None = None) -> DataFrame:
    """(vec_id, cluster_id): cluster_id = min vec_id reachable through
    near-dup pairs (cosine >= ``NEARDUP_THRESHOLD``).  Only vectors appearing in at least
    one pair are emitted (singletons are their own trivial cluster).
    Pairs come from :func:`embedding_neardup_pairs` (LSH candidates +
    exact re-verify); components come from
    :func:`~.canonicalize.connected_components` — driver union-find for
    a pair graph of up to ``DRIVER_CC_MAX_EDGES`` symmetrized edges, the
    large-star/small-star loop (O(log n) rounds, so near-dup drift chains
    A~B~C~... finish) above it."""
    from .canonicalize import connected_components

    pairs = embedding_neardup_pairs(embeddings, n=n, dim=dim)
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    return connected_components(edges).select(
        F.col("id").alias("vec_id"), F.col("component").alias("cluster_id")
    )


def neardup_clusters_sql() -> str:
    """Recursive-CTE twin: min-id reachability closure over the SAME
    LSH-candidates + exact-re-verify pair list the Spark plan computes
    (:func:`embedding_neardup_lsh_sql`), so equality no longer depends on
    LSH recall being 1.0 at the compared scale factor."""
    return f"""
WITH RECURSIVE pairs AS ({embedding_neardup_lsh_sql()}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""
