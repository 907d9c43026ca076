"""Per-document text analysis (``operators.text``): statistics, chunking,
fingerprints, repetition, language guesses and quality flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.text import (
    chunk_documents,
    repetition_stats,
    text_stats,
    winnow_fingerprints,
)
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


_STOP = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "los", "de", "y"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@oracle(r"""
WITH src AS (
  SELECT doc_id, coalesce(text, '') AS text
  FROM documents WHERE doc_id IS NOT NULL
), w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')
           AS words,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '')
           AS lines
  FROM src
), m AS (
  SELECT doc_id,
    len(words) AS n_words,
    coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS wchars,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    CAST(len(list_filter(words,
         x -> lower(x) IN ('the','a','and','of','to'))) AS BIGINT)
      AS n_stopwords,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
    len(lines) AS n_lines,
    len(list_filter(lines, x -> starts_with(ltrim(x), '-')
        OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•')))
      AS n_bullet,
    len(list_filter(lines, x -> ends_with(rtrim(x), '...')
        OR ends_with(rtrim(x), '…'))) AS n_ell_lines
  FROM w
), r AS (
  SELECT doc_id, n_words, n_stopwords,
    CASE WHEN n_words > 0
         THEN floor(wchars * 1.0 / n_words * 1e4 + 0.5) / 1e4
         ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_words > 0
         THEN floor((n_hash + n_ell) * 1.0 / n_words * 1e6 + 0.5) / 1e6
         ELSE 0.0 END AS symbol_ratio,
    CASE WHEN n_words > 0
         THEN floor(n_alpha * 1.0 / n_words * 1e6 + 0.5) / 1e6
         ELSE 0.0 END AS alpha_share,
    CASE WHEN n_lines > 0
         THEN floor(n_bullet * 1.0 / n_lines * 1e6 + 0.5) / 1e6
         ELSE 0.0 END AS bullet_share,
    CASE WHEN n_lines > 0
         THEN floor(n_ell_lines * 1.0 / n_lines * 1e6 + 0.5) / 1e6
         ELSE 0.0 END AS ellipsis_share
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_share,
       n_stopwords, bullet_share, ellipsis_share,
  (n_words >= 20 AND n_words <= 100000) AS flag_word_count,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS flag_mean_word_len,
  (symbol_ratio <= 0.1) AS flag_symbol,
  (bullet_share <= 0.9) AS flag_bullet,
  (ellipsis_share <= 0.3) AS flag_ellipsis,
  (alpha_share >= 0.8) AS flag_alpha,
  (n_stopwords >= 2) AS flag_stopwords,
  ((n_words >= 20 AND n_words <= 100000)
   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
   AND symbol_ratio <= 0.1 AND bullet_share <= 0.9
   AND ellipsis_share <= 0.3 AND alpha_share >= 0.8
   AND n_stopwords >= 2) AS passes_gopher
FROM r
ORDER BY doc_id
""")
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher rule battery (Rae et al. 2021 Table A1) as
    per-doc booleans: word-count / mean-word-length bounds, symbol and
    bullet/ellipsis ratios, alpha-word share, stopword presence —
    separate flags (not a composite score) so mixture designers see
    WHICH rule killed a doc. Map-only single scan, fixed-point ratios
    rounded BEFORE the threshold compares so the booleans are
    bit-identical across engines. min_words=20 (not the paper's 50) so
    the fixture's ~25-word docs split non-trivially."""
    from global_stock_data_warehouse_spark.operators.text import (
        gopher_quality_flags,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id").isNotNull())
    return gopher_quality_flags(docs, min_words=20).orderBy("doc_id")


@oracle(f"""
WITH base AS (
  SELECT coalesce(lang, 'und') AS declared,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                     t -> t != '') AS toks
  FROM documents
), scored AS (
  SELECT declared,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['de'])}, t))) AS h_de,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['en'])}, t))) AS h_en,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['es'])}, t))) AS h_es,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['fr'])}, t))) AS h_fr,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['zh'])}, t))) AS h_zh
  FROM base
), pred AS (
  SELECT declared,
         CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
              WHEN h_zh = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
              WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
              WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
              WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
              ELSE 'de' END AS detected
  FROM scored
)
SELECT declared, detected, count(*) AS n_docs,
       CASE WHEN declared = detected THEN 1 ELSE 0 END AS is_match
FROM pred GROUP BY 1, 2
""")
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: declared-vs-detected language confusion matrix (feed
    tag-rot audit). Pure-expression stopword argmax + one
    group-bounded aggregate; |langs|^2 cells out, ever."""
    from global_stock_data_warehouse_spark.operators.text import lang_confusion

    return lang_confusion(load_table(spark, "documents", sf_dir))


@oracle(f"""
WITH base AS (
  -- coalesce(text,'') mirrors the operator's NULL-text root
  -- normalization (r7): NULL text means 0 tokens / empty-fingerprint /
  -- 'und', NOT NULL-propagated cells — only n_chars_actual stays NULL
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'), t -> t != '') AS toks,
         length(text) AS n_chars_actual
  FROM documents
), ratios AS (
  SELECT doc_id, text, toks, n_chars_actual,
         len(toks) AS n_tokens,
         CASE WHEN n_chars_actual > 0
              THEN (n_chars_actual - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
                   * 1.0 / n_chars_actual
              ELSE 0.0 END AS praw,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_sql_list(_STOP['en'])}, t)))
                   * 1.0 / len(toks)
              ELSE 0.0 END AS sraw,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['de'])}, t))) AS h_de,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['en'])}, t))) AS h_en,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['es'])}, t))) AS h_es,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['fr'])}, t))) AS h_fr,
         len(list_filter(toks, t -> list_contains({_sql_list(_STOP['zh'])}, t))) AS h_zh
  FROM base
)
SELECT doc_id, n_chars_actual, n_tokens,
       round(praw, 4) AS punct_ratio,
       round(sraw, 4) AS stopword_ratio,
       round((least(n_chars_actual / 500.0, 1.0)
              + 1.0 - least(praw * 5.0, 1.0)
              + least(sraw * 4.0, 1.0)) / 3.0, 4) AS quality,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
            WHEN h_zh = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
            WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
            WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
            WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
            ELSE 'de' END AS lang_pred,
       md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fingerprint
FROM ratios
""")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text battery: token counts, quality ratios, lang-ID, fingerprint."""
    return text_stats(load_table(spark, "documents", sf_dir))


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), t -> t != '') AS t
  FROM documents
), bounds AS (
  SELECT doc_id, t,
         CASE WHEN len(t) > 32
              THEN CAST(floor((len(t) - 8 - 1) / 24.0) AS BIGINT) * 24 + 1
              ELSE 1 END AS last_start
  FROM toks
), expanded AS (
  SELECT doc_id, t, unnest(range(1, last_start + 1, 24)) AS s
  FROM bounds
)
SELECT doc_id,
       CAST((s - 1) / 24 AS INTEGER) AS chunk_idx,
       len(list_slice(t, s, s + 31)) AS n_chunk_tokens,
       coalesce(array_to_string(list_slice(t, s, s + 31), ' '), '') AS chunk_text
FROM expanded
""")
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pipeline chunking: 32-token windows, 8-token overlap. Map-only
    (split + sequence + explode), no shuffle."""
    return chunk_documents(
        load_table(spark, "documents", sf_dir), chunk_tokens=32, overlap=8
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): min-hash of
    each sliding window of k-shingle hashes. Hash values are
    xxhash64-specific -> rows-only check, no SQL oracle."""
    return winnow_fingerprints(load_table(spark, "documents", sf_dir), k=3, window=4)


@oracle(lambda o: f"""
WITH stats AS ({o["text_stats"]})
SELECT doc_id, n_tokens, lang_pred, quality FROM (
  SELECT doc_id, n_tokens, lang_pred, quality,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM stats WHERE quality >= 0.5)
WHERE rn = 1
""")
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: score -> quality-gate -> exact
    dedup keep-one. One scan, one narrow projection chain, one window on
    the fingerprint — the minimal-shuffle shape of a corpus-cleaning job."""
    st = text_stats(load_table(spark, "documents", sf_dir))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        st.filter(F.col("quality") >= 0.5)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens", "lang_pred", "quality")
    )


@oracle("""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS g
  FROM toks
), per_gram AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       count(*) AS n_distinct_grams,
       round(count(*) * 1.0 / sum(c), 6) AS distinct_share,
       round(max(c) * 1.0 / sum(c), 6) AS top_gram_share
FROM per_gram GROUP BY doc_id
""")
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: distinct-bigram share and
    top-bigram share per doc (exploded two-level agg, doc_id-keyed)."""
    return repetition_stats(load_table(spark, "documents", sf_dir), n=2)
