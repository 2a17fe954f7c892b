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


EXACT_DUPLICATES_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""

# ------------------------------------------------------------------ #
# word shingles


def _shingle_array_sql(n: int = 3, text_col: str = "text") -> str:
    """SQL fragment: the distinct n-word shingle array of one text value
    (row-local, no explode)."""
    words = f"split({text_col}, ' ')"
    return (f"array_distinct(transform("
            f"sequence(0, greatest(size({words}) - {n}, 0)), "
            f"i -> array_join(slice({words}, i + 1, {n}), ' ')))")


def _shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct n-word shingles per document.

    Round-6 formulation: explode the shingle POSITIONS and build each
    shingle with codegen'd slice/array_join, then dropDuplicates — the
    former row-local ``array_distinct(transform(...))`` avoided the
    dedup Exchange but paid interpreted lambda evaluation for every
    shingle, and the Jaccard self-join evaluates this subtree three
    times (two join sides + the counts): 4.8 s -> 1.5 s at sf0.1 for
    ngram_jaccard_pairs.  Same distinct (doc_id, shingle) set."""
    return (
        documents.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.expr(f"sequence(0, greatest(size(w) - {n}, 0))")
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, i + 1, {n}), ' ')").alias("shingle"),
        )
        .dropDuplicates(["doc_id", "shingle"])
    )


def _shingles_sql(n: int = 3) -> str:
    return f"""
SELECT doc_id, unnest(list_distinct(list_transform(
         range(0, greatest(len(string_split(text,' ')) - {n}, 0) + 1),
         i -> array_to_string(list_slice(string_split(text,' '), i+1, i+{n}), ' ')
       ))) AS shingle
FROM documents
"""


# ------------------------------------------------------------------ #
# n-gram Jaccard near-dup pairs


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_docs: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs over the threshold; doc_a < doc_b.

    Shingle self-join counts the intersection; per-doc shingle counts give
    the union by inclusion-exclusion — no quadratic cross join.

    ``max_shingle_docs``: at corpus scale the self-join is dominated by
    stop-shingles appearing in a large fraction of documents (a shingle in
    k docs contributes k^2 join rows).  Capping drops those shingles from
    the INTERSECTION counting (per-doc totals keep them), which slightly
    under-estimates jaccard for pairs whose only overlap is ubiquitous
    shingles — the standard recall/cost trade; leave None for exact.
    """
    sh = _shingles(documents, n)
    if max_shingle_docs is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        rare = freq.filter(F.col("df") <= max_shingle_docs).select("shingle")
        sh_join = sh.join(rare, "shingle", "left_semi")
    else:
        sh_join = sh
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_join.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_join.select(F.col("doc_id").alias("doc_b"), "shingle")
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
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_sql(n: int = 3, threshold: float = 0.8) -> str:
    return f"""
WITH sh AS ({_shingles_sql(n)}),
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
WHERE ROUND(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= {threshold}
"""


# ------------------------------------------------------------------ #
# MinHash signatures + LSH banding

N_HASHES = 8
BAND_SIZE = 2  # -> 4 bands


def minhash_signatures(documents: DataFrame, n: int = 3,
                       n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, h0..h{K-1}): K MinHash values = min over shingles of
    md5(k || '|' || shingle), as hex strings (engine-portable minima).
    One groupBy with K aggregates — the partial (map-side) combine
    reduces the shuffle to docs x K pre-combined minima, so the exploded
    shingle rows never cross the network: scale-correct as-is.  A
    row-local ``array_min(transform(...))`` variant was tried and
    reverted — interpreted lambda evaluation lost to this codegen'd
    aggregation under forced-evaluation timing (the apparent win was an
    artifact of ``count()`` pruning the unevaluated columns)."""
    # Round-6 shingle formulation: explode the POSITIONS and build each
    # shingle with codegen'd slice/array_join per exploded row, instead of
    # materializing the whole shingle array via an interpreted
    # transform(...) lambda (guide §4.1 — measured 1.67s -> 0.19s for the
    # shingle stage alone at sf0.1).  array_distinct is dropped: MIN over
    # a multiset equals MIN over its distinct set, so the signatures are
    # hash-identical (the Jaccard operator, whose counts DO need distinct
    # shingles, keeps :func:`_shingles`).
    sh = (
        documents.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.expr(f"sequence(0, greatest(size(w) - {n}, 0))")
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, i + 1, {n}), ' ')").alias("shingle"),
        )
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"h{k}")
        for k in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_sql(n: int = 3, n_hashes: int = N_HASHES) -> str:
    mins = ",\n       ".join(
        f"MIN(md5('{k}|' || shingle)) AS h{k}" for k in range(n_hashes)
    )
    return f"""
WITH sh AS ({_shingles_sql(n)})
SELECT doc_id,
       {mins}
FROM sh GROUP BY doc_id
"""


def lsh_candidate_pairs(documents: DataFrame, n: int = 3,
                        n_hashes: int = N_HASHES,
                        band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_a, doc_b, n_bands): pairs sharing >= 1 LSH band.  Bands are
    md5 of the concatenated band signature; the pair search is a pure
    equi-join on (band_id, band_key)."""
    sig = minhash_signatures(documents, n, n_hashes)
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


def lsh_candidate_pairs_sql(n: int = 3, n_hashes: int = N_HASHES,
                            band_size: int = BAND_SIZE) -> str:
    n_bands = n_hashes // band_size
    selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"h{k}" for k in range(b * band_size, (b + 1) * band_size)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig"
        )
    bands = " UNION ALL ".join(selects)
    return f"""
WITH sig AS ({minhash_signatures_sql(n, n_hashes)}),
bands AS ({bands})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# ------------------------------------------------------------------ #
# SimHash (48-bit, md5-nibble based so both engines agree; bit 47..0)

SIMHASH_BITS = 48


def _check_simhash_bits(bits: int) -> None:
    """The packed form reads the leading ``bits/4`` md5 hex chars as one
    signed BIGINT: past 60 bits a leading hex digit >= 8 overflows and the
    cast yields NULL, silently dropping that word's votes."""
    if bits % 4:
        raise ValueError(f"bits={bits} must be a multiple of 4")
    if bits > 60:
        raise ValueError(f"bits={bits} must be at most 60")


def simhash_expr(text_col: str = "text", bits: int = SIMHASH_BITS):
    """Column expression computing the simhash fingerprint of one text
    value — a SINGLE row-local fold, no aggregation, no Python.

    One pass over the words: the accumulator is the array of ``bits``
    per-bit votes.  Round-6: each word is first packed into ONE integer
    (``conv`` of the leading ``bits/4`` md5 hex chars — bit b of the
    fingerprint is bit ``bits-1-b`` of that value, the same identity the
    batch operator uses), so the per-bit lambda is an integer
    shift/mask instead of the old locate+substring string ops: 2.5x
    faster under forced evaluation (3.46 s -> 1.38 s at sf0.1),
    bit-identical output.  The finish lambda packs votes into the
    BIGINT fingerprint.

    This exists for the STREAMING path (`streaming/neardup.py`): being a
    plain projection it is legal where an aggregation is not (upstream of
    a stateful operator, no watermark/output-mode constraints).  It is
    NOT the batch formulation: higher-order lambdas are interpreted, not
    codegen'd, and the honest forced-evaluation cost at sf0.1 (5,000
    docs x ~54 words) is ~5.9 s vs ~0.7 s for :func:`simhash`'s
    round-6 packed-hash single aggregation.  (An earlier claim that
    this fold was faster came from timing ``count()`` on the projection
    — Catalyst prunes the unused fingerprint column entirely; always
    force evaluation through an aggregate over the computed value when
    benchmarking projections.)  Bit-identical to :func:`simhash` — the
    vote fold is an exact integer sum, so word order is irrelevant."""
    _check_simhash_bits(bits)
    return F.expr(f"""
    aggregate(
      transform(split({text_col}, ' '),
                w -> CAST(conv(substring(md5(w), 1, {bits // 4}), 16, 10)
                          AS BIGINT)),
      array_repeat(0, {bits}),
      (acc, v) -> transform(acc, (a, b) ->
          a + (CAST(shiftright(v, {bits - 1} - b) & 1 AS INT) * 2 - 1)),
      votes -> aggregate(
          transform(votes, (v, b) ->
            IF(v > 0, shiftleft(CAST(1 AS BIGINT), {bits - 1} - b),
               CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (a, x) -> a + x))
    """)


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): weighted-majority bit fingerprint over words.

    Bit b of a word's hash = bit (3 - b%4) of hex nibble b//4 of md5(word);
    the document bit is 1 iff more words set it than clear it.

    Round-6 formulation: the first ``bits/4`` hex chars of md5(word) are
    ONE packed integer ``v`` (bit b of the fingerprint = bit ``bits-1-b``
    of ``v`` — the hex string IS the big-endian bit string), so the whole
    vote tally is a SINGLE groupBy(doc_id) with ``bits`` conditional
    SUM((v >> k) & 1) aggregates plus COUNT(*): vote_b = 2*set_b - n > 0
    iff 2*set_b > n.  This removes the former words x ``bits`` explode
    (13M intermediate rows at sf0.1) and the second aggregation /
    Exchange entirely — one Generate, one Exchange of docs x (bits+1)
    pre-combined longs, all whole-stage-codegen.  Bit-identical output:
    same per-word bits, same majority rule, same packing."""
    _check_simhash_bits(bits)
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


def simhash_neardup_pairs(documents: DataFrame, bits: int = SIMHASH_BITS,
                          max_hamming: int = 3, n_bands: int = 4,
                          max_band_docs: int | None = None) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs whose simhash fingerprints differ in
    at most ``max_hamming`` bits; doc_a < doc_b.

    Banding (the classic web-dedup construction): slice the ``bits``-bit
    fingerprint into ``n_bands`` contiguous slices and equi-join on
    (band_id, band_val).  Pigeonhole gives EXACT recall whenever
    ``max_hamming <= n_bands - 1``: at most ``max_hamming`` differing bits
    can touch at most that many bands, so at least one band is identical
    (the defaults 4 bands / Hamming 3 satisfy this; the constructor
    asserts it).  Verification is one ``bit_count(a ^ b)`` on the
    deduplicated candidate set — no quadratic stage anywhere.

    ``max_band_docs``: at corpus scale a degenerate band value shared by
    k documents contributes k^2 join rows (e.g. near-empty documents all
    landing on band 0).  Capping drops those band values from CANDIDATE
    GENERATION, which forfeits the recall guarantee only for pairs whose
    every shared band is that hot — the standard recall/cost trade;
    leave None for exact."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"exact recall needs max_hamming <= n_bands - 1 "
            f"(got {max_hamming} > {n_bands - 1})")
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sig = simhash(documents, bits)
    bands = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.expr(f"named_struct('band_id', {b}, 'band_val', "
                   f"shiftright(simhash, {b * band_bits}) & {mask})")
            for b in range(n_bands)
        ])).alias("b"),
    ).select(
        "doc_id", "simhash",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_val").alias("band_val"),
    )
    if max_band_docs is not None:
        rare = (bands.groupBy("band_id", "band_val")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_band_docs)
                .select("band_id", "band_val"))
        bands = bands.join(rare, ["band_id", "band_val"], "left_semi")
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("sim_a"), "band_id", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("sim_b"), "band_id", "band_val")
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()   # a pair may share several bands
    )
    return (
        cand.withColumn(
            "hamming", F.expr("CAST(bit_count(sim_a ^ sim_b) AS INT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_neardup_sql(bits: int = SIMHASH_BITS, max_hamming: int = 3,
                        n_bands: int = 4,
                        max_band_docs: int | None = None) -> str:
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    cap_cte = ""
    bands_src = "bands"
    if max_band_docs is not None:
        cap_cte = f"""rare AS MATERIALIZED (
  SELECT band_id, band_val FROM bands
  GROUP BY band_id, band_val HAVING COUNT(*) <= {max_band_docs}
),
capped AS MATERIALIZED (
  SELECT bands.* FROM bands JOIN rare USING (band_id, band_val)
),
"""
        bands_src = "capped"
    return f"""
WITH sig AS MATERIALIZED ({simhash_sql(bits)}),
bands AS MATERIALIZED (
  SELECT doc_id, simhash, CAST(b AS INT) AS band_id,
         (simhash >> (CAST(b AS INT) * {band_bits})) & {mask} AS band_val
  FROM sig, (SELECT unnest(range({n_bands})) AS b)
),
{cap_cte}cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM {bands_src} a
  JOIN {bands_src} b ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
"""


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
),
bitsrc AS (
  SELECT doc_id, h, CAST(unnest(range({bits})) AS INT) AS bit FROM words
),
votes AS (
  SELECT doc_id, bit,
         SUM(((CAST(strpos('0123456789abcdef', substr(h, (bit // 4) + 1, 1)) AS INT) - 1)
              >> (3 - (bit % 4)) & 1) * 2 - 1) AS vote
  FROM bitsrc GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0
                THEN (CAST(1 AS BIGINT) << ({bits - 1} - bit))
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


def md5_plane_rows(dim: int, n_planes: int, n_tables: int = 16,
                   seed: int = 7) -> list[tuple[int, int, list[float]]]:
    """(table_id, plane_id, plane) sign-LSH hyperplanes derived from md5 —
    the engine-portable alternative to seeded-numpy planes: DuckDB can
    regenerate the IDENTICAL values in pure SQL (see
    :func:`embedding_neardup_lsh_sql`), so the twin's candidate set
    matches the Spark plan's at ANY scale factor by construction, with no
    literal-inlining step that could desync.  Component (t, p, d) =
    ``(int(md5(f"{seed}|{t}|{p}|{d}")[:8], 16) / 4294967295) * 2 - 1``
    (uniform in [-1, 1]; direction-uniformity is looser than Gaussian but
    the exact re-verify keeps precision at 1.0 and pytest pins recall)."""
    import hashlib

    def val(t: int, p: int, d: int) -> float:
        v = int(hashlib.md5(f"{seed}|{t}|{p}|{d}".encode()).hexdigest()[:8], 16)
        return (v / 4294967295) * 2 - 1

    return [
        (t, p, [val(t, p, d) for d in range(dim)])
        for t in range(n_tables)
        for p in range(n_planes)
    ]


def embedding_neardup_pairs(embeddings: DataFrame,
                            threshold: float = 0.95,
                            n_planes: int | None = None,
                            n_tables: int = 16,
                            seed: int = 7,
                            n: int | None = None,
                            dim: int | None = None) -> DataFrame:
    """(vec_a, vec_b, cos_sim) for pairs above threshold; vec_a < vec_b.

    Sign-LSH bucketing (`operators/ann.py::lsh_buckets`) over md5-derived
    hyperplanes generates candidate pairs via an equi-join on (table_id,
    bucket); candidates are re-verified with the exact cosine
    (`operators/ann.py::_rerank_candidates`) before the threshold filter,
    so precision is always 1.0 and recall is the LSH collision probability
    — for a pair at cosine s, 1 - (1 - (1 - acos(s)/pi)^n_planes)^n_tables
    (0.997 at s = 0.5 with 3 planes / 16 tables; see BASELINE.md).
    ``n_planes=None`` sizes the bucket count to the corpus: max(3,
    floor(log2(n / 60))), i.e. ~60 vectors per bucket, so the candidate
    join stays near-linear as n grows instead of degrading toward
    quadratic with fixed buckets.  The exact quadratic baseline is a
    test-side oracle (``tests/conftest.py::brute_neardup_pairs``), not a
    plan.

    Pass ``n`` (row count, for auto-sizing ``n_planes``) and ``dim``
    (embedding width, for the hyperplanes) when known — e.g. from parquet
    footer metadata — so plan construction launches ZERO Spark jobs; at
    100 TB an implicit ``count()`` is a full scan before the real query
    starts.  Omitted, they fall back to one ``count()`` / one ``head(1)``
    (empty input yields an empty pair frame rather than a TypeError).
    """
    from .ann import _rerank_candidates, lsh_buckets

    if n_planes is None:
        if n is None:
            n = embeddings.count()
        n_planes = auto_n_planes(n)
    if dim is None:
        head = embeddings.select("embedding").head(1)
        if not head:
            # empty input: no pairs (and no hyperplanes to build)
            return embeddings.sparkSession.createDataFrame(
                [], "vec_a BIGINT, vec_b BIGINT, cos_sim DOUBLE"
            )
        dim = len(head[0]["embedding"])
    # Candidate generation stays (vec_id, table, bucket) self-join +
    # distinct: a leftmost-shared-table dedup (emit each pair from its
    # first colliding table, no distinct Exchange) was tried in round
    # 6 and REVERTED — carrying both 16-bucket arrays through 3.1M
    # collision rows cost more than the 16-byte-pair distinct it saved
    # (3.4s vs 1.9s at sf0.1; see OPTIMIZATION_r06.md).
    buckets = lsh_buckets(
        embeddings, dim=dim, n_planes=n_planes, n_tables=n_tables,
        seed=seed,
        plane_rows=md5_plane_rows(dim, n_planes, n_tables, seed),
    )
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
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def embedding_neardup_lsh_sql(threshold: float = 0.95, n_tables: int = 16,
                              seed: int = 7) -> str:
    """DuckDB twin of :func:`embedding_neardup_pairs` (lsh route) that
    computes THE SAME LSH candidate set as the Spark plan AT ANY SCALE
    FACTOR by construction (round-3 VERDICT #2) — nothing data-dependent
    is frozen at twin-generation time:

    - ``n_planes`` is derived IN SQL from ``COUNT(*)`` via the
      pure-integer log2 (``LENGTH(printf('%b', n // 60)) - 1`` ==
      :func:`auto_n_planes`, see its proof note);
    - the hyperplanes are regenerated IN SQL from md5 — bit-identical to
      :func:`md5_plane_rows` because both reduce to the same integer-
      from-hex and the same IEEE-double ``(v / 4294967295) * 2 - 1``;
    - sign bits, ``SUM(bit << plane_id)`` buckets, the bucket equi-join
      and the exact re-verify mirror the Spark operators expression by
      expression (ROUND to 4 before the threshold filter).

    ``range(0, 63)``/filter bounds plane_id generation (n_planes = 63
    would need n > 60 * 2^63 rows)."""
    return f"""
WITH params AS (
  SELECT COUNT(*) AS n, COALESCE(MIN(len(embedding)), 0) AS dim
  FROM embeddings
),
np AS (
  SELECT CASE WHEN n > 60
              THEN GREATEST(3, LENGTH(printf('%b', n // 60)) - 1)
              ELSE 3 END AS n_planes,
         dim
  FROM params
),
planes AS (
  SELECT t.range AS table_id, p.range AS plane_id,
         list_transform(range(0, np.dim), d ->
           (CAST(('0x' || substr(md5('{seed}|' || t.range || '|'
                                 || p.range || '|' || d), 1, 8)) AS BIGINT)
            / 4294967295e0) * 2 - 1) AS plane
  FROM np, range(0, {n_tables}) t, range(0, 63) p
  WHERE p.range < np.n_planes
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
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM buckets x JOIN buckets y
    ON x.table_id = y.table_id AND x.bucket = y.bucket
   AND x.vec_id < y.vec_id
)
SELECT cand.vec_a, cand.vec_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4)
         AS cos_sim
FROM cand
JOIN embeddings a ON a.vec_id = cand.vec_a
JOIN embeddings b ON b.vec_id = cand.vec_b
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4)
      >= {threshold}
"""


# ------------------------------------------------------------------ #
# near-duplicate clusters: connected components over the near-dup pair
# graph -> one canonical cluster id per involved document/vector (the
# "keep one per cluster" step of a dedup pipeline).


def neardup_clusters(embeddings: DataFrame, threshold: float = 0.95,
                     n: int | None = None,
                     dim: int | None = None) -> DataFrame:
    """(vec_id, cluster_id): cluster_id = min vec_id reachable through
    above-threshold near-dup pairs.  Only vectors appearing in at least
    one pair are emitted (singletons are their own trivial cluster).
    Pairs come from :func:`embedding_neardup_pairs` (LSH candidates +
    exact re-verify); components come from
    :func:`~.canonicalize.connected_components` — driver union-find for
    a pair graph of up to ``DRIVER_CC_MAX_EDGES`` symmetrized edges, the
    large-star/small-star loop (O(log n) rounds, so near-dup drift chains
    A~B~C~... finish) above it."""
    from .canonicalize import connected_components

    pairs = embedding_neardup_pairs(embeddings, threshold, n=n, dim=dim)
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    return connected_components(edges).select(
        F.col("id").alias("vec_id"), F.col("component").alias("cluster_id")
    )


def neardup_clusters_sql(threshold: float = 0.95) -> str:
    """Recursive-CTE twin: min-id reachability closure over the SAME
    LSH-candidates + exact-re-verify pair list the Spark plan computes
    (:func:`embedding_neardup_lsh_sql`), so equality no longer depends on
    LSH recall being 1.0 at the compared scale factor."""
    return f"""
WITH RECURSIVE pairs AS ({embedding_neardup_lsh_sql(threshold)}),
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
