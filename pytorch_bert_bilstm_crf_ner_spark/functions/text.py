"""Text-analysis column functions over ``documents`` — language-ID
heuristic, quality scoring, token counting, rolling-hash fingerprinting.
All pure JVM column expressions (no python in the hot path), each with an
ANSI-SQL twin for the DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# tiny per-language function-word lists for the n-gram/stopword heuristic
_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish: runs of letters/digits/punct


def text_profile(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_tokens, avg_word_len, stopword_ratio,
    distinct_word_ratio, predicted_lang, quality_score)

    quality_score is the reference-free heuristic blend a pretraining
    pipeline would use for filtering: length band + stopword presence +
    vocabulary diversity, rounded for engine-stable comparison."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_distinct = F.size(F.array_distinct(words))
    avg_len = (F.length("text") - (n_words - 1)) / n_words
    stop_ratio = n_stop / n_words
    distinct_ratio = n_distinct / n_words
    quality = (
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 10, F.lit(1.0)) * 0.3
        + distinct_ratio * 0.3
    )
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.regexp_count(F.col("text"), F.lit(_TOKEN_PATTERN)).alias("n_tokens"),
        F.round(avg_len, 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_word_ratio"),
        F.when(stop_ratio >= 0.02, F.lit("en")).otherwise(F.lit("unknown"))
        .alias("predicted_lang"),
        F.round(quality, 4).alias("quality_score"),
    )


TEXT_PROFILE_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_words
  FROM documents
),
m AS (
  SELECT doc_id, text, n_words,
         len(list_filter(words, w -> list_contains({list(_EN_STOPWORDS)}, w))) AS n_stop,
         len(list_distinct(words)) AS n_distinct
  FROM base
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(len(regexp_extract_all(text, '{_TOKEN_PATTERN}')) AS INT) AS n_tokens,
       ROUND((len(text) - (n_words - 1)) * 1.0 / n_words, 4) AS avg_word_len,
       ROUND(n_stop * 1.0 / n_words, 4) AS stopword_ratio,
       ROUND(n_distinct * 1.0 / n_words, 4) AS distinct_word_ratio,
       CASE WHEN n_stop * 1.0 / n_words >= 0.02 THEN 'en' ELSE 'unknown' END
         AS predicted_lang,
       ROUND(LEAST(n_words / 50.0, 1.0) * 0.4
             + LEAST(n_stop * 10.0 / n_words, 1.0) * 0.3
             + (n_distinct * 1.0 / n_words) * 0.3, 4) AS quality_score
FROM m
"""


FINGERPRINT_K = 8  # chars per k-gram of doc_fingerprint and its twin


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, n_grams): winnowing-style document fingerprint
    = min md5 over all char k-grams (rolling window), plus the k-gram
    count.  Duplicate-robust and engine-portable (string min of hashes)."""
    n_grams = F.greatest(F.length("text") - FINGERPRINT_K + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(F.col("text").substr(i, F.lit(FINGERPRINT_K))),
    )
    return documents.select(
        "doc_id",
        F.array_min(grams).alias("fingerprint"),
        n_grams.cast("int").alias("n_grams"),
    )


def doc_fingerprint_sql() -> str:
    return f"""
SELECT doc_id,
       (SELECT MIN(md5(substr(d.text, CAST(i AS INT), {FINGERPRINT_K})))
        FROM unnest(range(1, greatest(len(d.text) - {FINGERPRINT_K} + 1, 1) + 1)) AS t(i)) AS fingerprint,
       CAST(greatest(len(text) - {FINGERPRINT_K} + 1, 1) AS INT) AS n_grams
FROM documents d
"""


def language_mixture(documents: DataFrame) -> DataFrame:
    """(doc_id, n_chars, han_ratio, latin_ratio, digit_ratio, space_ratio,
    other_ratio, dominant_script): per-document script composition — the
    doc-level language-mixture profile a multilingual pretraining pipeline
    buckets by.  Counts are length deltas under global regexp_replace
    (pure JVM); ratios rounded for engine-stable comparison; dominant
    script picked with a fixed precedence (han > latin > digit > other)
    so ties are deterministic."""
    n = F.length("text")
    def cnt(pattern):
        return n - F.length(F.regexp_replace("text", pattern, ""))
    han = cnt(r"[一-鿿]")
    latin = cnt("[A-Za-z]")
    digit = cnt("[0-9]")
    space = cnt(" ")
    other = n - han - latin - digit - space
    denom = F.greatest(n, F.lit(1))
    dominant = (
        F.when((han >= latin) & (han >= digit) & (han >= other), "han")
        .when((latin >= digit) & (latin >= other), "latin")
        .when(digit >= other, "digit")
        .otherwise("other")
    )
    return documents.select(
        "doc_id",
        n.cast("int").alias("n_chars"),
        F.round(han / denom, 4).alias("han_ratio"),
        F.round(latin / denom, 4).alias("latin_ratio"),
        F.round(digit / denom, 4).alias("digit_ratio"),
        F.round(space / denom, 4).alias("space_ratio"),
        F.round(other / denom, 4).alias("other_ratio"),
        dominant.alias("dominant_script"),
    )


LANGUAGE_MIXTURE_SQL = r"""
WITH c AS (
  SELECT doc_id, len(text) AS n,
         len(text) - len(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS han,
         len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin,
         len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
         len(text) - len(regexp_replace(text, ' ', '', 'g')) AS space
  FROM documents
),
m AS (
  SELECT doc_id, n, han, latin, digit, space,
         n - han - latin - digit - space AS other,
         greatest(n, 1) AS denom
  FROM c
)
SELECT doc_id,
       CAST(n AS INT) AS n_chars,
       ROUND(han * 1.0 / denom, 4) AS han_ratio,
       ROUND(latin * 1.0 / denom, 4) AS latin_ratio,
       ROUND(digit * 1.0 / denom, 4) AS digit_ratio,
       ROUND(space * 1.0 / denom, 4) AS space_ratio,
       ROUND(other * 1.0 / denom, 4) AS other_ratio,
       CASE WHEN han >= latin AND han >= digit AND han >= other THEN 'han'
            WHEN latin >= digit AND latin >= other THEN 'latin'
            WHEN digit >= other THEN 'digit'
            ELSE 'other' END AS dominant_script
FROM m
"""
