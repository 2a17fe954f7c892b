"""Driver-contract query registry: each entry = (Spark DataFrame builder,
DuckDB ANSI-SQL twin).  The driver runs both at sf=0.01 and compares
row-count + schema + order-insensitive value hash, so every computed column
is aliased identically on both sides and floats are rounded.

The KG queries run over the deterministically derived ``transcripts``
table (see `sources/transcripts.py`).  All 30 queries have hash-checked
twins, the CRF tagging UDF stages (`plans/viterbi_twin.py`) and the
connected-components queries (recursive CTEs) included; the pytest
parity suite also checks the KG stages against the single-process oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..core.entities import ENTITY_DICT_ROWS
from ..core.pairing import (
    ADJACENT_OBJECT_TYPES,
    ADJACENT_PRED,
    COOCCUR_PRED,
    COOCCUR_WINDOW,
)
from ..functions.text import (
    LANGUAGE_MIXTURE_SQL,
    TEXT_PROFILE_SQL,
    doc_fingerprint_sql,
)
from ..operators.ann import (
    cosine_topk_sql,
    ivf_cosine_topk_sql,
    lsh_cosine_topk_sql,
)
from ..operators.dedup import (
    embedding_neardup_lsh_sql,
    lsh_candidate_pairs_sql,
    minhash_signatures_sql,
    neardup_clusters_sql,
    ngram_jaccard_sql,
    simhash_neardup_sql,
    simhash_sql,
)
from ..sources.entity_dict import (
    entity_dict_df,
    entity_dict_values_sql,
    single_word_dict_df,
)
from ..sources.transcripts import TRANSCRIPTS_SQL, transcripts_from_documents
from .viterbi_twin import kg_mentions_sql, kg_triples_sql

# --------------------------------------------------------------------- #
# shared fragments

_TR = TRANSCRIPTS_SQL
_DICT_SQL = entity_dict_values_sql()

# conv_id -> numeric id, erring LOUDLY on any id not shaped `conv_<n>`
# (a positional substring parse silently corrupts doc_ids otherwise).
# Same guard on both engines so drift ERRs instead of hash-mismatching.
_CONV_NUM_EXPR = (
    "CASE WHEN conv_id RLIKE '^conv_[0-9]+$' "
    "THEN CAST(substring(conv_id, 6) AS BIGINT) "
    "ELSE raise_error(concat('conv_id not conv_<n>: ', conv_id)) END"
)
_CONV_NUM_SQL = (
    "CASE WHEN regexp_matches(conv_id, '^conv_[0-9]+$') "
    "THEN CAST(substring(conv_id, 6) AS BIGINT) "
    "ELSE error('conv_id not conv_<n>: ' || conv_id) END"
)
_SINGLE_DICT_SQL = entity_dict_values_sql(
    tuple(r for r in ENTITY_DICT_ROWS if " " not in r[1])
)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_documents(spark, sf_dir)


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, turn_idx, wpos, word, start): every word of every turn with
    its char offset — cumulative (len+1) window, the W3 running-offset
    pattern (`scripts/server.py:77-82`).

    A window-free row-local variant (start =
    ``length(array_join(slice(w, 1, wpos), ' ')) + 1``, provably equal)
    was measured across all seven consumers at sf0.1 AND a 5x surrogate
    and REVERTED: the Exchange it removes is also the pre-partitioning
    every downstream aggregation reuses, and carrying the words array
    through the Generate cost more than the shuffle saved (consumer
    totals 19.3 s vs 24.4 s at 5x in the window's favor; worst single
    case augmented_corpus 3.5 s vs 6.9 s).  See BASELINE.md."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("wpos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        t.select(
            "conv_id",
            "turn_idx",
            F.posexplode(F.split("text", " ")).alias("wpos", "word"),
        )
        .withColumn(
            "start",
            F.coalesce(F.sum(F.length("word") + 1).over(w), F.lit(0)).cast("int"),
        )
        .withColumn("wpos", F.col("wpos").cast("int"))
    )


_WORDS_SQL = f"""
WITH tr AS ({_TR}),
words AS (
  SELECT conv_id, turn_idx,
         CAST(unnest(range(len(string_split(text,' ')))) AS INT) AS wpos,
         unnest(string_split(text,' ')) AS word
  FROM tr
)
SELECT conv_id, turn_idx, wpos, word,
       CAST(COALESCE(SUM(len(word)+1) OVER (
            PARTITION BY conv_id, turn_idx ORDER BY wpos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS start
FROM words
"""


def _dict_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-exact dictionary tagger (single-word aliases): the
    SQL-checkable twin of the extraction+linking chain."""
    d = single_word_dict_df(spark).select(
        F.col("alias").alias("word"), "type", "entity_id", "canonical_name"
    )
    return (
        _words(spark, sf_dir)
        .join(F.broadcast(d), "word")
        .select(
            "conv_id",
            "turn_idx",
            F.col("word").alias("mention"),
            "start",
            "type",
            "entity_id",
            "canonical_name",
        )
    )


_DICT_MENTIONS_SQL = f"""
WITH w AS ({_WORDS_SQL})
SELECT w.conv_id, w.turn_idx, w.word AS mention, w.start,
       d.type, d.entity_id, d.canonical_name
FROM w JOIN {_SINGLE_DICT_SQL} ON w.word = d.alias
"""

# --------------------------------------------------------------------- #
# query: transcripts derivation (S1 scan + per-row projections)


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


Q_TRANSCRIPTS_SQL = f"""
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM ({_TR})
"""

# --------------------------------------------------------------------- #
# query: per-conversation stats (A1/A6 aggregation family)


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _transcripts(spark, sf_dir)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.count(F.when(F.col("role") == "tool", 1)).alias("n_tool_turns"),
        )
    )


Q_CONVERSATION_STATS_SQL = f"""
SELECT conv_id,
       COUNT(*) AS n_turns,
       CAST(SUM(len(text)) AS BIGINT) AS n_chars,
       MAX(turn_idx) AS max_turn_idx,
       COUNT(CASE WHEN role = 'tool' THEN 1 END) AS n_tool_turns
FROM ({_TR})
GROUP BY conv_id
"""

# --------------------------------------------------------------------- #
# query: turn char offsets within the conversation (W3/W4 window sort —
# running offset of each turn in the reassembled conversation text)


def q_turn_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return _transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.sum(F.length("text") + 1).over(w), F.lit(0))
        .cast("bigint")
        .alias("turn_offset"),
        F.row_number()
        .over(Window.partitionBy("conv_id").orderBy("turn_idx"))
        .alias("turn_rank"),
    )


Q_TURN_OFFSETS_SQL = f"""
SELECT conv_id, turn_idx,
       CAST(COALESCE(SUM(len(text)+1) OVER (
            PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS turn_offset,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS turn_rank
FROM ({_TR})
"""

# --------------------------------------------------------------------- #
# query: dictionary mentions (word tagger + broadcast linking twin, J5)


def q_dict_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dict_mentions(spark, sf_dir)


Q_DICT_MENTIONS_SQL = _DICT_MENTIONS_SQL

# --------------------------------------------------------------------- #
# query: entity mention counts with skew-visible heavy hitters (A4/A5)


def q_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _dict_mentions(spark, sf_dir)
        .groupBy("entity_id", "canonical_name", "type")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


Q_ENTITY_COUNTS_SQL = f"""
WITH m AS ({_DICT_MENTIONS_SQL})
SELECT entity_id, canonical_name, type,
       COUNT(*) AS n_mentions,
       COUNT(DISTINCT conv_id) AS n_convs
FROM m GROUP BY entity_id, canonical_name, type
"""

# --------------------------------------------------------------------- #
# query: adjacent-pair relations over dict mentions (J4 lead-window twin)


def q_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deduplicate to min entity_id per span position — deterministic and
    # identical to the SQL twin's ROW_NUMBER pick (dropDuplicates keeps an
    # arbitrary row, which diverges once an alias is shared across types)
    rn_w = Window.partitionBy("conv_id", "turn_idx", "start").orderBy(
        "entity_id"
    )
    m = (
        _dict_mentions(spark, sf_dir)
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("start")
    return (
        m.withColumn("obj", F.lead("mention").over(w))
        .withColumn("obj_type", F.lead("type").over(w))
        .filter(
            (~F.col("type").isin(*ADJACENT_OBJECT_TYPES))
            & F.col("obj_type").isin(*ADJACENT_OBJECT_TYPES)
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("mention").alias("subj"),
            F.lit(ADJACENT_PRED).alias("pred"),
            "obj",
        )
    )


_OBJECT_TYPES_SQL = ",".join(f"'{t}'" for t in ADJACENT_OBJECT_TYPES)
Q_ADJACENT_PAIRS_SQL = f"""
WITH m0 AS ({_DICT_MENTIONS_SQL}),
m AS (
  SELECT conv_id, turn_idx, start, mention, type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx, start
                                     ORDER BY entity_id) AS rn FROM m0)
  WHERE rn = 1
),
led AS (
  SELECT conv_id, turn_idx, mention, type, start,
         LEAD(mention) OVER (PARTITION BY conv_id, turn_idx ORDER BY start) AS obj,
         LEAD(type) OVER (PARTITION BY conv_id, turn_idx ORDER BY start) AS obj_type
  FROM m
)
SELECT conv_id, turn_idx, mention AS subj, '{ADJACENT_PRED}' AS pred, obj
FROM led
WHERE type NOT IN ({_OBJECT_TYPES_SQL}) AND obj_type IN ({_OBJECT_TYPES_SQL})
"""

# --------------------------------------------------------------------- #
# query: windowed co-occurrence triples over dict mentions (COOCCUR_WINDOW)


def q_cooccur_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's co-occurrence operator
    (`operators/relations.py::relation_evidence`) over the dictionary
    mentions: the entity id is the canonical id, and a null ``adj_start``
    leaves no adjacency row.  One conv_id exchange feeds the frame and the
    (conv_id, subj, obj) aggregation."""
    from ..operators.relations import relation_evidence

    mentions = _dict_mentions(spark, sf_dir).select(
        "conv_id", "turn_idx", "start", "type",
        F.lit(None).cast("int").alias("adj_start"),
        F.col("entity_id").alias("canonical_id"), "canonical_name",
    )
    return (
        relation_evidence(mentions)
        .filter(F.col("pred") == COOCCUR_PRED)
        .groupBy("conv_id", "subj", "obj")
        .agg(
            F.min("turn_idx").alias("turn_idx"),
            F.count(F.lit(1)).alias("n_evidence"),
        )
        .select(
            "subj",
            F.lit(COOCCUR_PRED).alias("pred"),
            "obj",
            "conv_id",
            "turn_idx",
            "n_evidence",
        )
    )


Q_COOCCUR_SQL = f"""
WITH m AS ({_DICT_MENTIONS_SQL})
SELECT a.canonical_name AS subj, '{COOCCUR_PRED}' AS pred,
       b.canonical_name AS obj, a.conv_id,
       MIN(a.turn_idx) AS turn_idx, COUNT(*) AS n_evidence
FROM m a JOIN m b
  ON a.conv_id = b.conv_id
 AND b.turn_idx BETWEEN a.turn_idx AND a.turn_idx + {COOCCUR_WINDOW}
 AND a.entity_id <> b.entity_id
 AND (b.turn_idx > a.turn_idx OR b.start > a.start)
GROUP BY a.conv_id, a.canonical_name, b.canonical_name
"""

# --------------------------------------------------------------------- #
# query: span-exact eval metrics (J1 join + A1-A3 aggregation) — "pred"
# side is the dictionary restricted to entity_id <= 10, "gold" is the full
# single-word dictionary


def q_span_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-exact eval where pred = the gold mention set restricted to
    entity_id <= 10.  Because pred ⊆ gold by construction, tp/fp/fn reduce
    to ONE scan of the mention set: per-span pred flag, then one per-type
    aggregation (fp ≡ 0).  The general pred-vs-gold operator
    (`operators/evaluate.py::span_metrics_by_type`, one full-outer pass) is
    exercised by tests and `plans/eval_job.py`; this registered query keeps
    the specialized single-scan plan, which evaluates the mention
    extraction once."""
    spans = (
        _dict_mentions(spark, sf_dir)
        .groupBy("conv_id", "turn_idx", "mention", "start", "type")
        .agg(
            F.max((F.col("entity_id") <= 10).cast("int")).alias("pred_flag")
        )
    )
    return (
        spans.groupBy("type")
        .agg(
            F.sum("pred_flag").cast("bigint").alias("tp"),
            F.sum(1 - F.col("pred_flag")).cast("bigint").alias("fn"),
        )
        .select("type", "tp", F.lit(0).cast("bigint").alias("fp"), "fn")
    )


Q_SPAN_EVAL_SQL = f"""
WITH m AS ({_DICT_MENTIONS_SQL}),
gold AS (SELECT DISTINCT conv_id, turn_idx, mention, start, type FROM m),
pred AS (SELECT DISTINCT conv_id, turn_idx, mention, start, type FROM m
         WHERE entity_id <= 10),
types AS (SELECT DISTINCT type FROM gold),
tp AS (SELECT type, COUNT(*) c FROM (SELECT * FROM pred INTERSECT SELECT * FROM gold)
       GROUP BY type),
fp AS (SELECT type, COUNT(*) c FROM (SELECT * FROM pred EXCEPT SELECT * FROM gold)
       GROUP BY type),
fn AS (SELECT type, COUNT(*) c FROM (SELECT * FROM gold EXCEPT SELECT * FROM pred)
       GROUP BY type)
SELECT t.type,
       COALESCE(tp.c, 0) AS tp,
       COALESCE(fp.c, 0) AS fp,
       COALESCE(fn.c, 0) AS fn
FROM types t
LEFT JOIN tp ON t.type = tp.type
LEFT JOIN fp ON t.type = fp.type
LEFT JOIN fn ON t.type = fn.type
"""

# --------------------------------------------------------------------- #
# KG-pipeline queries.  All three are hash-checked: kg_mentions /
# kg_triples against the generated Viterbi-DP twins of
# `plans/viterbi_twin.py`, canonical_entities
# against its recursive-CTE twin — plus exactly by
# tests/test_spark_parity.py against the single-process oracle.


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import PipelineConfig, run_pipeline

    # adj_start feeds the relations stage only; the twin's columns are the
    # five mention columns
    mentions = run_pipeline(spark, sf_dir, PipelineConfig())["mentions"]
    return mentions.drop("adj_start")


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import PipelineConfig, run_pipeline

    return run_pipeline(spark, sf_dir, PipelineConfig())["triples"]


def q_canonical_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.canonicalize import canonical_entities

    return canonical_entities(entity_dict_df(spark))


# --------------------------------------------------------------------- #
# query: event-time windows over the events table (W3/W4 on timestamps)


def q_events_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum of value ordered by event time (ties broken by
    event_id) — the cumulative-offset window pattern on a time axis."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.row_number().over(w).alias("event_rank"),
    )


Q_EVENTS_RUNNING_SQL = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
         AS running_value,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
         AS event_rank
FROM events
"""


def q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-minute silence starts a new session
    (lag + cumulative-flag pattern); per-session aggregates."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800)
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


Q_EVENTS_SESSION_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
            AS session_id
  FROM g
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM s GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------- #
# training-data-pipeline operators: dedup / similarity / text analysis /
# multimodal (documents + embeddings tables)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups over documents PLUS a deterministic duplicate
    slice (every doc_id % 7 == 0 re-added under doc_id + 1_000_000): the
    synthetic corpus has no byte-identical texts of its own, and a hash
    check that's green on an empty result proves only agreement on
    emptiness — the salted slice makes the count / min-id arithmetic
    load-bearing."""
    from ..operators.dedup import exact_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup_slice = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return exact_duplicates(docs.unionByName(dup_slice))


Q_DEDUP_EXACT_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM all_docs GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signatures

    return minhash_signatures(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash

    return simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash-banded near-duplicate pairs (Hamming <= 3 over the 48-bit
    fingerprint; 4 bands x 12 bits => exact recall by pigeonhole).  Twin:
    `operators/dedup.py::simhash_neardup_sql` — both engines share the
    identical integer band/xor/popcount arithmetic, so the match is
    exact by construction."""
    from ..operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embeddings_meta(path: str) -> tuple[int | None, int | None]:
    """(row count, embedding width) from the parquet footer + first value
    of the first row group — driver-side file metadata only, NO Spark job
    (at 100 TB an implicit count() is a full scan before the real query
    starts).  Falls back to (None, None) — the operators then auto-probe."""
    try:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(path)
        n = f.metadata.num_rows
        if not n:
            return n, None
        batch = next(f.iter_batches(batch_size=1, columns=["embedding"]))
        return n, len(batch.column("embedding")[0])
    except Exception:
        return None, None


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered plan = LSH candidates + exact re-verify (precision 1.0
    structurally); the DuckDB twin (`embedding_neardup_lsh_sql`) computes
    the SAME md5-derived hyperplanes and COUNT(*)-derived n_planes in
    pure SQL, so the candidate sets — and therefore the hashes — agree at
    ANY scale factor by construction (recall vs brute force is pinned by
    the tests as a quality gate only)."""
    from ..operators.dedup import embedding_neardup_pairs

    n, dim = _embeddings_meta(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), n=n, dim=dim)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import cosine_topk

    return cosine_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import text_profile

    return text_profile(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import doc_fingerprint

    return doc_fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_language_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import language_mixture

    return language_mixture(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-hyperplane LSH top-k at the width read from the parquet footer
    (no plan-build job); the twin rebuilds the same planes in SQL."""
    from ..operators.ann import lsh_cosine_topk

    _n, dim = _embeddings_meta(f"{sf_dir}/embeddings.parquet")
    return lsh_cosine_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), dim=dim)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: the md5-first rows as the coarse quantizer (one plan-build
    job; the twin picks the same rows in SQL) + nprobe bucket probe, exact
    re-rank (`operators/ann.py::ivf_cosine_topk`)."""
    from ..operators.ann import ivf_cosine_topk, ivf_sample_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_cosine_topk(emb, ivf_sample_centroids(emb))


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over embedding near-dup pairs (the
    keep-one-per-cluster dedup step): driver union-find up to
    ``DRIVER_CC_MAX_EDGES`` symmetrized edges, large-star/small-star
    above; twin = recursive-CTE closure over the SAME LSH-candidates +
    exact-re-verify pair list, so equality is independent of both LSH
    recall and which CC path ran."""
    from ..operators.dedup import neardup_clusters

    n, dim = _embeddings_meta(f"{sf_dir}/embeddings.parquet")
    return neardup_clusters(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), n=n, dim=dim)


def _mid_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mid_data-shaped table derived from documents + the word tagger
    (labels = dictionary mentions with exclusive ends).

    Two-pass on purpose: labels aggregate over the MATCHED mention rows
    only (no text payload through the aggregation), then join back to
    transcripts.  A single-pass variant (text riding the words
    explode, LEFT dictionary join, one grouped aggregation) was measured
    and REVERTED: it pushes every word row WITH its ~80-char turn text
    through the partial aggregation — neutral at sf0.1 but ~45% slower
    at 5x scale (2.82 s vs 1.94 s), because the aggregated row volume is
    all-words x text instead of matched-mentions x ids."""
    m = _dict_mentions(spark, sf_dir)
    labels = (
        m.withColumn("doc_id", F.expr(_CONV_NUM_EXPR))
        .groupBy("doc_id", "turn_idx")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("start", "mention", "type"))
                ),
                lambda s: F.struct(
                    F.lit("T").alias("span_id"),
                    s["type"].alias("type"),
                    s["start"].alias("start"),
                    (s["start"] + F.length(s["mention"])).cast("int").alias("end"),
                    s["mention"].alias("mention"),
                ),
            ).alias("labels")
        )
    )
    t = _transcripts(spark, sf_dir).withColumn(
        "doc_id", F.expr(_CONV_NUM_EXPR)
    )
    return (
        t.join(labels, ["doc_id", "turn_idx"], "left")
        .select(
            (F.col("doc_id") * 10000 + F.col("turn_idx")).alias("doc_id"),
            "text",
            F.coalesce("labels", F.array().cast(labels.schema["labels"].dataType)).alias("labels"),
        )
    )


def q_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 ETL: mid-shaped turns -> fixed-length training feature arrays.

    The registered projection replaces each fixed-length id array with a
    stable scalar (``md5(to_json(...))``) so the driver's row canonicalizer
    (a pandas all-column sort) never sees an unhashable list; the raw-array
    table is what `operators/features.py::build_features` returns and what
    the pytest parity suite checks value-by-value.  Hash-checked twin:
    `_training_features_sql()` recomputes the cut FSM's hard_chunk path,
    fine-grained tokenize, BIOES ids and padding in SQL (the vocab/tag-id
    maps are embedded as VALUES; a turn-length guard `error()`s on data
    the SQL cut cannot express, so drift fails loudly)."""
    from ..operators.features import build_features

    feats = build_features(_mid_from_documents(spark, sf_dir))
    return feats.select(
        "doc_id",
        "cut_idx",
        "cut_start",
        "text",
        F.aggregate(
            "attention_mask", F.lit(0), lambda a, x: a + x.cast("int")
        ).alias("n_real_tokens"),
        F.md5(F.to_json("token_ids")).alias("token_ids_md5"),
        F.md5(F.to_json("attention_mask")).alias("attention_mask_md5"),
        F.md5(F.to_json("token_type_ids")).alias("token_type_ids_md5"),
        F.md5(F.to_json("label_ids")).alias("label_ids_md5"),
    )


def q_augmented_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8+P9: template mask + deterministic entity substitution.  Labels
    (array<struct>) are projected to a canonical string hashed with md5
    (the driver's canonicalizer needs scalars); the substitution hash is
    md5-based, so the whole synthesis has an exact DuckDB twin."""
    from ..operators.augment import (
        build_entity_inventory,
        synthesize_from_templates,
        template_mask,
    )

    mid = _mid_from_documents(spark, sf_dir)
    inv = build_entity_inventory(mid)
    synth = synthesize_from_templates(template_mask(mid), inv)
    labels_str = F.array_join(
        F.transform(
            "labels",
            lambda l: F.concat_ws(
                ",",
                l["span_id"],
                l["type"],
                l["start"].cast("string"),
                l["end"].cast("string"),
                l["mention"],
            ),
        ),
        ";",
    )
    return synth.select(
        "doc_id",
        "text",
        F.size("labels").alias("n_labels"),
        F.md5(labels_str).alias("labels_md5"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing, driver-checkable form: the Arrow
    ``mapInPandas`` decode runs for real (fake/deterministic feature — see
    `operators/multimodal.py`), then the feature vector is projected to
    exact scalars.  Every feature value is a multiple of 1/128 (exact in
    binary floating point), so sum/first compare bit-exactly against the
    DuckDB twin with no rounding."""
    from ..operators.multimodal import decode_media, synth_media

    media = synth_media(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    feats = decode_media(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.size("feature").alias("feature_dim"),
        F.aggregate(
            "feature", F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("feature_sum"),
        F.element_at("feature", 1).cast("double").alias("feature_first"),
    )


def _media_features_sql() -> str:
    """DuckDB twin of q_media_features for the current
    `operators/multimodal.py::FEATURE_DIM`: value ``i`` of
    `_fake_feature` is byte ``i % 16`` of md5 block ``i // 16``.
    ``n_bytes`` is the length of the md5 payload."""
    from ..operators.multimodal import FEATURE_DIM

    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         md5(text) AS ph
  FROM documents
),
b AS (
  SELECT media_id, kind, ph, CAST(unnest(range({FEATURE_DIM})) AS INT) AS i FROM m
),
h AS (
  SELECT media_id, kind, i, i % 16 AS j,
         md5(ph || '|' || CAST(i // 16 AS VARCHAR)) AS fh
  FROM b
),
v AS (
  SELECT media_id, kind, i,
         ((strpos('0123456789abcdef', substr(fh, 2*j+1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(fh, 2*j+2, 1)) - 1)) / 128.0
         - 1.0 AS val
  FROM h
)
SELECT media_id, kind,
       CAST(16 AS INT) AS n_bytes,
       CAST({FEATURE_DIM} AS INT) AS feature_dim,
       SUM(val) AS feature_sum,
       MIN(CASE WHEN i = 0 THEN val END) AS feature_first
FROM v GROUP BY media_id, kind
"""


def _training_features_sql() -> str:
    """DuckDB twin of q_training_features (the default ``FeatureConfig``),
    valid when every turn is at most ``max_seq_len - 2`` chars (then
    `core/cut.py::cut_sent_for_bert` is the identity and the whole feature encode is expressible in SQL:
    char ids = 3 + unicode(ch) % (vocab-3); BIOES label ids from the
    per-position LAST-label-wins overwrite — the Python loop writes labels
    in (start, mention, type) order, so per char the max such key wins).
    The driver's transcripts derivation caps turns at ~81 chars, asserted
    by the max-length CASE below erroring the twin if the assumption ever
    breaks (better a loud driver ERR than a silent mismatch)."""
    from ..core.features import CHAR_OFFSET, FeatureConfig
    from ..core.tags import CHAR_VOCAB_SIZE, ENT2ID

    cfg = FeatureConfig()
    tag_vals = ", ".join(
        f"('{tag}', {i})" for tag, i in ENT2ID.items() if tag != "O"
    )
    body = cfg.max_seq_len - 2
    mod = CHAR_VOCAB_SIZE - CHAR_OFFSET
    return f"""
WITH m AS ({_DICT_MENTIONS_SQL}),
tr AS ({_TR}),
mid AS (
  SELECT ({_CONV_NUM_SQL}) * 10000 + turn_idx AS doc_id,
         -- guards for the identity-cut assumption: Spark's build_features
         -- SKIPS empty turns and cuts turns over {body} chars, so either
         -- case must ERR loudly here instead of silently mismatching
         CASE WHEN len(text) > {body}
              THEN error('training_features twin: turn exceeds cut size')
              WHEN len(text) = 0
              THEN error('training_features twin: empty turn (Spark side skips it)')
              ELSE text END AS text
  FROM tr
),
labels AS (
  SELECT ({_CONV_NUM_SQL}) * 10000 + turn_idx AS doc_id,
         start, mention, type
  FROM m
),
lab_pos AS (
  SELECT doc_id, start + CAST(u AS INT) AS k, start, mention, type,
         CASE WHEN len(mention) = 1 THEN 'S'
              WHEN u = 0 THEN 'B'
              WHEN u = len(mention) - 1 THEN 'E'
              ELSE 'I' END AS pos_tag
  FROM (SELECT doc_id, start, mention, type,
               unnest(range(len(mention))) AS u
        FROM labels)
),
best AS (
  SELECT doc_id, k, pos_tag || '-' || type AS tag
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id, k
          ORDER BY start DESC, mention DESC, type DESC) AS rn
        FROM lab_pos)
  WHERE rn = 1
),
tagmap(tag, tid) AS (VALUES {tag_vals}),
pos AS (
  SELECT doc_id, text, CAST(unnest(range({cfg.max_seq_len})) AS INT) AS p
  FROM mid
),
cells AS (
  SELECT pos.doc_id, pos.p,
         CASE WHEN pos.p = 0 THEN 1
              WHEN pos.p <= len(pos.text) THEN
                   {CHAR_OFFSET} + (unicode(substr(pos.text, pos.p, 1)) % {mod})
              WHEN pos.p = len(pos.text) + 1 THEN 2
              ELSE 0 END AS token_id,
         CASE WHEN pos.p <= len(pos.text) + 1 THEN 1 ELSE 0 END AS att,
         CASE WHEN pos.p >= 1 AND pos.p <= len(pos.text)
              THEN COALESCE(tm.tid, 0) ELSE 0 END AS lab
  FROM pos
  LEFT JOIN best ON best.doc_id = pos.doc_id AND best.k = pos.p - 1
  LEFT JOIN tagmap tm ON tm.tag = best.tag
),
arrs AS (
  SELECT doc_id,
         md5('[' || string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY p) || ']') AS token_ids_md5,
         md5('[' || string_agg(CAST(att AS VARCHAR), ',' ORDER BY p) || ']') AS attention_mask_md5,
         md5('[' || string_agg('0', ',' ORDER BY p) || ']') AS token_type_ids_md5,
         md5('[' || string_agg(CAST(lab AS VARCHAR), ',' ORDER BY p) || ']') AS label_ids_md5
  FROM cells GROUP BY doc_id
)
SELECT mid.doc_id,
       CAST(0 AS INT) AS cut_idx,
       CAST(0 AS INT) AS cut_start,
       mid.text,
       CAST(len(mid.text) + 2 AS INT) AS n_real_tokens,
       arrs.token_ids_md5, arrs.attention_mask_md5,
       arrs.token_type_ids_md5, arrs.label_ids_md5
FROM mid JOIN arrs ON arrs.doc_id = mid.doc_id
"""


def _augmented_corpus_sql() -> str:
    """DuckDB twin of q_augmented_corpus: the whole P8+P9 synthesis —
    sequential all-occurrence mention masking (list_reduce with the text
    prepended as the fold seed), '#;#' piece split with positional
    indices (the zip-unnest trick), inventory refill picked by the same
    12-hex-char md5 value as the Spark side, window offsets, canonical
    label string."""
    from ..operators.augment import AUGMENT_REPEAT, FILLER_SEED

    return f"""
WITH m AS ({_DICT_MENTIONS_SQL}),
tr AS ({_TR}),
mid AS (
  SELECT ({_CONV_NUM_SQL}) * 10000 + turn_idx AS doc_id,
         text, conv_id, turn_idx
  FROM tr
),
midlab AS (
  SELECT ({_CONV_NUM_SQL}) * 10000 + turn_idx AS doc_id,
         list(mention || chr(1) || type ORDER BY start, mention, type) AS labs
  FROM m GROUP BY 1
),
tmpl AS (
  SELECT mid.doc_id,
         list_reduce(
           [mid.text] || COALESCE(midlab.labs, []),
           (acc, x) -> replace(acc, split_part(x, chr(1), 1),
                               '#;#' || split_part(x, chr(1), 2) || '#;#')
         ) AS template
  FROM mid LEFT JOIN midlab ON midlab.doc_id = mid.doc_id
),
reps AS (
  SELECT doc_id, template, CAST(unnest(range({AUGMENT_REPEAT})) AS INT) AS rep
  FROM tmpl
),
pieces AS (
  SELECT doc_id, rep, piece_idx, piece FROM (
    SELECT doc_id, rep,
           CAST(unnest(range(len(string_split(template, '#;#')))) AS INT)
             AS piece_idx,
           unnest(string_split(template, '#;#')) AS piece
    FROM reps
  ) WHERE piece <> ''
),
inv AS (
  SELECT type AS piece, list_sort(list(DISTINCT mention)) AS mentions
  FROM m GROUP BY type
),
filled AS (
  SELECT p.doc_id, p.rep, p.piece_idx, p.piece,
         i.mentions IS NOT NULL AS is_slot,
         CASE WHEN i.mentions IS NOT NULL THEN
           i.mentions[CAST(
             CAST(('0x' || substr(md5(p.doc_id || '|' || p.rep || '|'
                                      || p.piece_idx || '|' || {FILLER_SEED}),
                                  1, 12)) AS BIGINT)
             % len(i.mentions) AS INT) + 1]
         ELSE p.piece END AS filler
  FROM pieces p LEFT JOIN inv i ON i.piece = p.piece
),
off AS (
  SELECT *,
         CAST(COALESCE(SUM(len(filler)) OVER (
              PARTITION BY doc_id, rep ORDER BY piece_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
           AS off_start,
         CAST(SUM(CASE WHEN is_slot THEN 1 ELSE 0 END) OVER (
              PARTITION BY doc_id, rep ORDER BY piece_idx) AS INT)
           AS slot_rank
  FROM filled
)
SELECT CAST(('0x' || substr(md5(doc_id || '|' || rep), 1, 15)) AS BIGINT)
         AS doc_id,
       string_agg(filler, '' ORDER BY piece_idx) AS text,
       CAST(COUNT(CASE WHEN is_slot THEN 1 END) AS INT) AS n_labels,
       md5(COALESCE(string_agg(
         CASE WHEN is_slot THEN
           'T' || (slot_rank - 1) || ',' || piece || ',' || off_start || ','
           || (off_start + len(filler)) || ',' || filler
         END, ';' ORDER BY piece_idx), '')) AS labels_md5
FROM off GROUP BY off.doc_id, rep
"""


Q_CANONICAL_ENTITIES_SQL = f"""
WITH RECURSIVE
base AS (SELECT * FROM {_DICT_SQL}),
edges AS (
  SELECT a.entity_id AS src, b.entity_id AS dst
  FROM base a JOIN base b ON a.alias = b.alias AND a.type = b.type
  WHERE a.entity_id <> b.entity_id
),
reach(id, r) AS (
  SELECT DISTINCT entity_id, entity_id FROM base
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
comp AS (SELECT id AS entity_id, MIN(r) AS canonical_id FROM reach GROUP BY id)
SELECT c.entity_id, c.canonical_id,
       (SELECT MIN(canonical_name) FROM base b
        WHERE b.entity_id = c.canonical_id) AS canonical_name
FROM comp c
"""


SPARK_QUERIES = {
    "transcripts": q_transcripts,
    "conversation_stats": q_conversation_stats,
    "turn_offsets": q_turn_offsets,
    "dict_mentions": q_dict_mentions,
    "entity_counts": q_entity_counts,
    "adjacent_pairs": q_adjacent_pairs,
    "cooccur_triples": q_cooccur_triples,
    "span_eval": q_span_eval,
    "events_running_value": q_events_running_value,
    "events_sessionized": q_events_sessionized,
    "kg_mentions": q_kg_mentions,
    "kg_triples": q_kg_triples,
    "canonical_entities": q_canonical_entities,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_jaccard,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidate_pairs": q_lsh_pairs,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "embedding_neardup": q_embedding_neardup,
    "cosine_topk": q_cosine_topk,
    "text_profile": q_text_profile,
    "doc_fingerprint": q_doc_fingerprint,
    "language_mixture": q_language_mixture,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "neardup_clusters": q_neardup_clusters,
    "media_features": q_media_features,
    "training_features": q_training_features,
    "augmented_corpus": q_augmented_corpus,
}

ORACLE_SQL = {
    "transcripts": Q_TRANSCRIPTS_SQL,
    "conversation_stats": Q_CONVERSATION_STATS_SQL,
    "turn_offsets": Q_TURN_OFFSETS_SQL,
    "dict_mentions": Q_DICT_MENTIONS_SQL,
    "entity_counts": Q_ENTITY_COUNTS_SQL,
    "adjacent_pairs": Q_ADJACENT_PAIRS_SQL,
    "cooccur_triples": Q_COOCCUR_SQL,
    "span_eval": Q_SPAN_EVAL_SQL,
    "events_running_value": Q_EVENTS_RUNNING_SQL,
    "events_sessionized": Q_EVENTS_SESSION_SQL,
    "kg_mentions": kg_mentions_sql(_TR),
    "kg_triples": kg_triples_sql(_TR, Q_CANONICAL_ENTITIES_SQL, _DICT_SQL),
    "canonical_entities": Q_CANONICAL_ENTITIES_SQL,
    "dedup_exact": Q_DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": ngram_jaccard_sql(),
    "minhash_signatures": minhash_signatures_sql(),
    "lsh_candidate_pairs": lsh_candidate_pairs_sql(),
    "simhash": simhash_sql(),
    "simhash_neardup": simhash_neardup_sql(),
    "embedding_neardup": embedding_neardup_lsh_sql(),
    "cosine_topk": cosine_topk_sql(),
    "text_profile": TEXT_PROFILE_SQL,
    "doc_fingerprint": doc_fingerprint_sql(),
    "language_mixture": LANGUAGE_MIXTURE_SQL,
    "lsh_ann_topk": lsh_cosine_topk_sql(),
    "ivf_ann_topk": ivf_cosine_topk_sql(),
    "neardup_clusters": neardup_clusters_sql(),
    "media_features": _media_features_sql(),
    "training_features": _training_features_sql(),
    "augmented_corpus": _augmented_corpus_sql(),
}


def oracle_sql_dict() -> dict[str, str]:
    """A copy of ORACLE_SQL: every twin is a pure function of the tables
    it reads, so one text holds at any scale factor."""
    return dict(ORACLE_SQL)
