"""Training-corpus operators (``operators.corpus``): sampling and mixture
plans, splits, contamination checks, PII scrubbing, n-gram statistics,
BM25, BPE candidates and sequence packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.corpus import (
    PII_PATTERNS,
    bm25_score,
    bpe_merge_candidates,
    decontaminate,
    duplicate_spans,
    ngram_topk,
    pack_sequences,
    pii_scrub,
    rebalance_sample,
    remove_duplicate_spans,
    temperature_sample,
    with_split,
)
from global_stock_data_warehouse_spark.operators.dedup import ngram_jaccard_pairs
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


def _dsir_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) over the fixtures: target = English docs,
    raw pool = everything else; score the pool's target-likeness under
    hashed uni+bigram models."""
    from global_stock_data_warehouse_spark.operators.corpus import dsir_weights

    docs = load_table(spark, "documents", sf_dir)
    return dsir_weights(
        docs.filter(F.col("lang") != "en"),
        docs.filter(F.col("lang") == "en"),
    )


@oracle("""
WITH src AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w, doc_id % 64 AS st
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
), cum AS (
  SELECT doc_id, w, st,
         sum(w) OVER (PARTITION BY st ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw_in
  FROM src
), offs AS (
  SELECT st, sum(w) AS st_w FROM src GROUP BY st
), offs2 AS (
  SELECT st,
         coalesce(sum(st_w) OVER (ORDER BY st
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS st_off,
         sum(st_w) OVER () AS t
  FROM offs
), lined AS (
  SELECT c.doc_id, c.w, c.cw_in + o.st_off AS cum_w, o.t
  FROM cum c JOIN offs2 o USING (st)
)
SELECT doc_id, CAST(w AS BIGINT) AS weight,
       CAST(cum_w - w AS BIGINT) AS line_start,
       CAST(cum_w * 100 // t - (cum_w - w) * 100 // t AS BIGINT) AS n_picks
FROM lined
WHERE cum_w * 100 // t - (cum_w - w) * 100 // t > 0
ORDER BY doc_id
""")
def q_pps_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling (k=100 strides over the n_chars weight
    line): the weighted-mixture selection op without the
    engine-divergent -ln(u)/w exponential keys — pure BIGINT stride
    arithmetic, so the SELECTED ROWS are bit-identical across engines.
    Cumsum decomposes into per-stratum windows + broadcast offsets (no
    global single-task running sum)."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        pps_systematic_sample,
    )

    return pps_systematic_sample(
        load_table(spark, "documents", sf_dir), k=100, weight_col="n_chars"
    )


@oracle(r"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(list_filter(
           string_split_regex(lower(trim(text)), '\s+'), t -> t != ''))), 0)
           AS BIGINT) AS avail_tokens
  FROM documents WHERE source IS NOT NULL GROUP BY source
), wt AS (
  SELECT * FROM (VALUES ('src0', 5), ('src1', 3), ('src2', 2), ('src3', 1))
    AS t(source, weight)
), j AS (
  SELECT p.source, p.n_docs, p.avail_tokens,
         CAST(coalesce(w.weight, 0) AS BIGINT) AS weight
  FROM per p LEFT JOIN wt w USING (source)
), tot AS (
  SELECT j.*, CAST(sum(weight) OVER () AS BIGINT) AS wt_total FROM j
), alloc AS (
  SELECT source, n_docs, avail_tokens, weight,
         CAST(CASE WHEN wt_total > 0
              THEN (1000000 * weight) // wt_total ELSE 0 END AS BIGINT)
           AS allocated_tokens
  FROM tot
)
SELECT source, n_docs, avail_tokens, weight, allocated_tokens,
  CAST(CASE WHEN avail_tokens > 0 AND allocated_tokens > 0
       THEN (allocated_tokens + avail_tokens - 1) // avail_tokens
       ELSE 0 END AS BIGINT) AS epochs,
  CASE WHEN avail_tokens > 0
       THEN floor(allocated_tokens * 1.0 / avail_tokens * 1e6 + 0.5) / 1e6
       ELSE 0.0 END AS sample_rate
FROM alloc
ORDER BY source
""")
def q_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning under TARGET weights (the
    Pile/Dolma mixture-table step): BIGINT-exact allocation
    (budget*w DIV W), ceil epochs, fixed-point sampling rate; corpus
    sources absent from the weight table report weight 0 / epochs 0
    instead of vanishing. One source-keyed agg + broadcast weight
    join."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        mixture_epoch_plan,
    )

    docs = load_table(spark, "documents", sf_dir)
    return mixture_epoch_plan(
        docs,
        token_budget=1_000_000,
        weights={"src0": 5, "src1": 3, "src2": 2, "src3": 1},
    )


@oracle("""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, source,
  CASE WHEN rn > (n * 0 + 999) // 1000 AND rn <= (n * 50 + 999) // 1000
         THEN 'test'
       WHEN rn > (n * 50 + 999) // 1000 AND rn <= (n * 150 + 999) // 1000
         THEN 'val'
       ELSE 'train' END AS split
FROM ranked
ORDER BY doc_id
""")
def q_stratified_quota_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota stratified split (val 10%, test 5% per source, by
    per-mille ceil brackets over the md5-ranked stratum): unlike the
    hash-bucket split_assign, every stratum hits its quota EXACTLY —
    the eval-set-builder contract. Deterministic (md5 order), one
    stratum-keyed window."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        stratified_quota_split,
    )

    docs = load_table(spark, "documents", sf_dir)
    return stratified_quota_split(
        docs, quotas={"val": 100, "test": 50}
    ).orderBy("doc_id")


@oracle("""
WITH keyed AS (
  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), sharded AS (
  SELECT doc_id,
         CAST(('0x' || substr(k, 1, 8))::UBIGINT % 8 AS BIGINT) AS shard
  FROM keyed
), counted AS (
  SELECT s.shard,
         len(list_filter(string_split_regex(lower(trim(coalesce(d.text, ''))), '\\s+'),
                         t -> t != '')) AS n_toks
  FROM documents d JOIN sharded s USING (doc_id)
), per_shard AS (
  SELECT shard, count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens
  FROM counted GROUP BY shard
)
SELECT shard, n_docs, total_tokens,
       (total_tokens + 63) // 64 AS n_seqs,
       total_tokens // 64 AS n_full_seqs,
       ((total_tokens + 63) // 64) * 64 - total_tokens AS pad_waste,
       CASE WHEN (total_tokens + 63) // 64 > 0
            THEN floor(CAST(total_tokens AS DOUBLE)
                       / (((total_tokens + 63) // 64) * 64) * 1e6 + 0.5) / 1e6
            END AS fill_rate
FROM per_shard
""")
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-yield audit: per md5 shard, sequence counts / tail waste
    / fill rate for the concatenate-then-cut ctx_len=64 layout —
    count-only arithmetic, no token ever shuffles."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        packing_efficiency,
    )

    return packing_efficiency(
        load_table(spark, "documents", sf_dir), ctx_len=64, n_shards=8, seed=42
    )


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS gram
  FROM toks, UNNEST(range(0, greatest(len(t) - 4, 0))) AS u(i)
), tg AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 20 != 0
), eg AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0
), hits AS (
  SELECT doc_id, count(*) AS n_collisions FROM tg JOIN eg USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_collisions, 0) AS BIGINT) AS n_collisions,
       coalesce(h.n_collisions, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 != 0) d
LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
""")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag train docs (doc_id % 20 != 0)
    sharing any word 5-gram with the eval split (doc_id % 20 == 0). Eval
    gram set broadcasts; the train side never self-shuffles."""
    docs = load_table(spark, "documents", sf_dir)
    out = decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=5,
    )
    return out.withColumn("n_collisions", F.col("n_collisions").cast("long")).orderBy(
        "doc_id"
    )


@oracle(f"""
WITH salted AS (
  SELECT doc_id,
         concat(coalesce(text, ''), ' mail u', CAST(doc_id AS VARCHAR), '@ex.com ip 10.0.0.',
                CAST(doc_id % 200 AS VARCHAR), ' tel 555-123-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["ipv4"]}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{PII_PATTERNS["email"]}', '[EMAIL]', 'g'),
           '{PII_PATTERNS["ipv4"]}', '[IP]', 'g'),
         '{PII_PATTERNS["phone"]}', '[PHONE]', 'g') AS clean_text
FROM salted
ORDER BY doc_id
""")
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing battery: count + redact emails/IPv4s/phones in one
    codegen'd projection. The corpus text is salted with deterministic
    synthetic PII (same expression mirrored in the oracle) so the
    redaction paths actually fire."""
    # coalesce: Spark's concat NULL-propagates (the whole salted text
    # would vanish for a NULL-text doc) while DuckDB's concat skips
    # NULL args — both sides salt coalesce(text, '') so the engines
    # agree and the NULL-text doc still exercises the redaction
    salted = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" mail u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(" tel 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = pii_scrub(salted)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.col("n_phones").cast("long").alias("n_phones"),
        "clean_text",
    ).orderBy("doc_id")


# literals carry e0 so DuckDB parses DOUBLE (bare decimals are
# DECIMAL there); expression parenthesization mirrors the Spark
# plan exactly, and the score is rounded at 6dp in both twins
@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), per_doc AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
         CAST(len(list_filter(t, x -> x = 'spark')) AS BIGINT) AS tf_0,
         CAST(len(list_filter(t, x -> x = 'hash'))  AS BIGINT) AS tf_1,
         CAST(len(list_filter(t, x -> x = 'table')) AS BIGINT) AS tf_2
  FROM toks
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
         CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
         CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
  FROM per_doc
), scored AS (
  SELECT doc_id, dl,
    (ln(((n_docs - df_0) + 0.5e0) / (df_0 + 0.5e0) + 1.0e0)
       * (tf_0 * 2.2e0) / (tf_0 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (sum_dl / n_docs))))
  + (ln(((n_docs - df_1) + 0.5e0) / (df_1 + 0.5e0) + 1.0e0)
       * (tf_1 * 2.2e0) / (tf_1 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (sum_dl / n_docs))))
  + (ln(((n_docs - df_2) + 0.5e0) / (df_2 + 0.5e0) + 1.0e0)
       * (tf_2 * 2.2e0) / (tf_2 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (sum_dl / n_docs))))
    AS score
  FROM per_doc, stats
)
SELECT doc_id, dl, round(score, 6) AS score
FROM scored
WHERE score > 0
ORDER BY doc_id
""")
def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 against a fixed term set: one corpus pass + a single-row
    stats aggregate broadcast back. Score rounded to 6dp in BOTH twins
    (ln() is libm-dependent in the last ulp across engines)."""
    out = bm25_score(load_table(spark, "documents", sf_dir), ["spark", "hash", "table"])
    return (
        out.withColumn("dl", F.col("dl").cast("long"))
        .withColumn("score", F.round("score", 6))
        .orderBy("doc_id")
    )


@oracle("""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT source, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM toks
), spans AS (
  SELECT source, doc_id, n_tokens, cum_tokens,
         (cum_tokens - n_tokens) // 64 AS seq_first,
         greatest((cum_tokens - 1) // 64, (cum_tokens - n_tokens) // 64) AS seq_last
  FROM c
)
SELECT source, doc_id, n_tokens, cum_tokens, seq_first, seq_last,
       seq_last - seq_first + 1 AS n_seqs
FROM spans
ORDER BY source, doc_id
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style context-window packing map (ctx=64 tokens): per-shard
    window cumsum, all-integer arithmetic — engine-portable bit-for-bit."""
    out = pack_sequences(load_table(spark, "documents", sf_dir), ctx_len=64)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long")).orderBy(
        "source", "doc_id"
    )


@oracle("""
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS bkt
  FROM documents
)
SELECT lang,
       CASE WHEN bkt < 5 THEN 'test'
            WHEN bkt < 95 THEN 'train'
            ELSE 'val' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b
GROUP BY 1, 2
ORDER BY lang, split
""")
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) + per-(lang, split)
    counts: the split is a pure function of the doc id (md5 bucket), so
    re-runs and other engines assign identically — no rand(), no
    sampling-state leakage between runs. Map-only until one small count
    agg."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        with_split(docs, {"train": 90, "val": 5, "test": 5})
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


@oracle("""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
              ELSE [] END AS s
  FROM toks
), inv AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(s) AS n FROM sh
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           round(n_common * 1.0 / (x.n + y.n - n_common), 6) AS jaccard
    FROM common JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id)
  WHERE jaccard >= 0.2
), sym AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT s, s FROM sym
  UNION
  SELECT r.a, s.d FROM reach r JOIN sym s ON r.b = s.s
), comp AS (
  SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
), keyed AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, group_key,
       CASE WHEN bkt < 5 THEN 'test'
            WHEN bkt < 95 THEN 'train'
            ELSE 'val' END AS split
FROM (SELECT doc_id, group_key,
             ('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))::UBIGINT % 100 AS bkt
      FROM keyed)
ORDER BY doc_id
""")
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 90/5/5 split: near-dup components (2-gram Jaccard >=
    0.2, same pair definition as dedup_components) hash as ONE unit on
    the component min-id, so no near-dup pair straddles train/val/test —
    the eval-leakage guard a per-doc hash split silently lacks."""
    from global_stock_data_warehouse_spark.operators.corpus import leakage_safe_split

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    return leakage_safe_split(
        docs, pairs, weights={"train": 90, "val": 5, "test": 5}
    ).orderBy("doc_id")


@oracle("""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / GREATEST(sum(n_tokens) OVER (), 1), 6) AS share,
       round(1000000 * (n_tokens * 1.0 / GREATEST(sum(n_tokens) OVER (), 1))
             / GREATEST(n_tokens, 1), 6) AS effective_epochs
FROM per
ORDER BY source
""")
def q_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture planning: per-source docs/tokens/share and the
    effective epochs a 1M-token proportional sample implies. One
    source-keyed agg + a partition-less window over the tiny per-source
    frame (single scan)."""
    from global_stock_data_warehouse_spark.operators.corpus import source_mix_report

    return source_mix_report(load_table(spark, "documents", sf_dir), token_budget=1_000_000)


@oracle("""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
), b AS (
  SELECT doc_id, lang, ('0x' || substr(md5(g), 1, 8))::UBIGINT % 8192 AS bkt
  FROM grams
), ct AS (
  SELECT bkt, count(*) AS c FROM b WHERE lang = 'en' GROUP BY 1
), cr AS (
  SELECT bkt, count(*) AS c FROM b WHERE lang != 'en' GROUP BY 1
), nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
   nr AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cr),
model AS (
  SELECT COALESCE(ct.bkt, cr.bkt) AS bkt,
         ln((COALESCE(ct.c, 0) + 1) / (nt.n + 8192))
           - ln((COALESCE(cr.c, 0) + 1) / (nr.n + 8192)) AS llr,
         CAST(floor(((COALESCE(ct.c, 0) + 1) / (nt.n + 8192)
                     - (COALESCE(cr.c, 0) + 1) / (nr.n + 8192)) * 1e12 + 0.5)
              AS BIGINT) AS dfx
  FROM ct FULL OUTER JOIN cr ON ct.bkt = cr.bkt, nt, nr
), sc AS (
  SELECT b.doc_id, sum(m.llr) AS lw,
         CAST(sum(m.dfx) AS BIGINT) AS sfx, count(*) AS ng
  FROM b JOIN model m ON b.bkt = m.bkt WHERE b.lang != 'en' GROUP BY 1
)
SELECT d.doc_id, round(COALESCE(sc.lw, 0.0), 6) AS logw,
       COALESCE(sc.sfx, 0) AS score_fx,
       CAST(COALESCE(sc.ng, 0) AS BIGINT) AS n_grams
FROM (SELECT doc_id FROM documents WHERE lang != 'en') d
LEFT JOIN sc USING (doc_id)
ORDER BY doc_id
""")
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DSIR verdict frame: the paper's log importance weight (EPS —
    ln + float sum order) alongside the hash-exact fixed-point twin."""
    return _dsir_frame(spark, sf_dir).orderBy("doc_id")


@oracle("""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
), b AS (
  SELECT doc_id, lang, ('0x' || substr(md5(g), 1, 8))::UBIGINT % 8192 AS bkt
  FROM grams
), ct AS (
  SELECT bkt, count(*) AS c FROM b WHERE lang = 'en' GROUP BY 1
), cr AS (
  SELECT bkt, count(*) AS c FROM b WHERE lang != 'en' GROUP BY 1
), nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
   nr AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cr),
model AS (
  SELECT COALESCE(ct.bkt, cr.bkt) AS bkt,
         CAST(floor(((COALESCE(ct.c, 0) + 1) / (nt.n + 8192)
                     - (COALESCE(cr.c, 0) + 1) / (nr.n + 8192)) * 1e12 + 0.5)
              AS BIGINT) AS dfx
  FROM ct FULL OUTER JOIN cr ON ct.bkt = cr.bkt, nt, nr
), sc AS (
  SELECT b.doc_id, CAST(sum(m.dfx) AS BIGINT) AS sfx, count(*) AS ng
  FROM b JOIN model m ON b.bkt = m.bkt WHERE b.lang != 'en' GROUP BY 1
)
SELECT d.doc_id, COALESCE(sc.sfx, 0) AS score_fx,
       CAST(COALESCE(sc.ng, 0) AS BIGINT) AS n_grams
FROM (SELECT doc_id FROM documents WHERE lang != 'en') d
LEFT JOIN sc USING (doc_id)
ORDER BY score_fx DESC, doc_id
LIMIT 100
""")
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection, driver-hashable: top-100 most target-like raw docs
    by the integer fixed-point score (no float in the output)."""
    return (
        _dsir_frame(spark, sf_dir)
        .select("doc_id", "score_fx", "n_grams")
        .orderBy(F.col("score_fx").desc(), "doc_id")
        .limit(100)
    )


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS gram
  FROM toks, UNNEST(range(0, greatest(len(t) - 4, 0))) AS u(i)
), tg AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 20 != 0
), eg AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0
), hits AS (
  SELECT doc_id, count(*) AS n_collisions FROM tg JOIN eg USING (gram) GROUP BY doc_id
), ng AS (
  SELECT d.doc_id,
         CAST(coalesce(h.n_collisions, 0) AS BIGINT) AS n_collisions,
         coalesce(h.n_collisions, 0) > 0 AS ngram_contaminated
  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 != 0) d
  LEFT JOIN hits h USING (doc_id)
), ev AS (
  SELECT vec_id AS eval_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 = 0
), tr AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 != 0
), scored AS (
  SELECT tr.vec_id,
         round(list_dot_product(tr.v, ev.v)
               / (sqrt(list_dot_product(tr.v, tr.v))
                  * sqrt(list_dot_product(ev.v, ev.v))), 6) AS c
  FROM tr CROSS JOIN ev
), sem AS (
  SELECT vec_id, max(c) AS max_cosine, max(c) >= 0.3 AS semantic_contaminated
  FROM scored GROUP BY vec_id
)
SELECT ng.doc_id, ng.n_collisions, ng.ngram_contaminated,
       sem.max_cosine,
       coalesce(sem.semantic_contaminated, FALSE) AS semantic_contaminated,
       ng.ngram_contaminated OR coalesce(sem.semantic_contaminated, FALSE)
         AS any_contaminated
FROM ng LEFT JOIN sem ON ng.doc_id = sem.vec_id
ORDER BY ng.doc_id
""")
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal contamination verdicts: the n-gram (exact overlap) and
    embedding (semantic) decontamination checks joined into ONE per-doc
    report — the release-gate view a dataset card wants. documents and
    embeddings share the id space in the fixtures (doc_id = vec_id);
    docs without an embedding keep NULL semantic scores (left join) and
    the combined flag treats missing as clean."""
    from global_stock_data_warehouse_spark.operators.corpus import decontaminate
    from global_stock_data_warehouse_spark.operators.similarity import (
        semantic_decontaminate,
    )

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    ng = decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=5,
    ).select(
        "doc_id",
        F.col("n_collisions").cast("long").alias("n_collisions"),
        F.col("contaminated").alias("ngram_contaminated"),
    )
    sem = semantic_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        threshold=0.3,
    ).select(
        F.col("vec_id"),
        "max_cosine",
        F.col("contaminated").alias("semantic_contaminated"),
    )
    return (
        ng.join(sem, ng.doc_id == sem.vec_id, "left")
        .select(
            "doc_id",
            "n_collisions",
            "ngram_contaminated",
            "max_cosine",
            F.coalesce("semantic_contaminated", F.lit(False)).alias(
                "semantic_contaminated"
            ),
            (
                F.col("ngram_contaminated")
                | F.coalesce("semantic_contaminated", F.lit(False))
            ).alias("any_contaminated"),
        )
        .orderBy("doc_id")
    )


@oracle("""
WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents
           -- null group = no quota (operator contract) and must not
           -- pollute the total weight either
           WHERE lang IS NOT NULL GROUP BY lang),
w AS (SELECT lang, n, sqrt(n) AS wt FROM c),
-- ORDER BY inside the aggregate pins the float-summation order to the
-- engine-independent sorted-key order the Spark side uses, so the
-- floor() boundary cannot flip on summation-order ulps
t AS (SELECT sum(wt ORDER BY lang) AS tw FROM w),
q AS (SELECT lang, CAST(least(n, floor(200 * wt / tw)) AS BIGINT) AS quota
      FROM w, t),
ranked AS (
  SELECT d.lang, d.doc_id,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
  FROM documents d
)
SELECT r.lang, r.doc_id, r.rn
FROM ranked r JOIN q USING (lang)
WHERE r.rn <= q.quota
""")
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture (alpha=0.5, budget=200 docs): the
    multilingual-LM exponentiated-sampling recipe — low-resource languages
    get a larger share than proportional sampling would give. Quotas
    derive driver-side from exact counts (sqrt is correctly-rounded IEEE,
    so the floor(budget * w/sum) arithmetic is engine-portable); selection
    is the deterministic md5 order."""
    return temperature_sample(
        load_table(spark, "documents", sf_dir), budget=200, alpha=0.5, group_col="lang"
    )


@oracle("""
WITH q(lang, quota) AS (VALUES ('de', 30), ('en', 100), ('fr', 30)),
ranked AS (
  SELECT d.lang, d.doc_id,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn,
         q.quota
  FROM documents d JOIN q USING (lang)
)
SELECT lang, doc_id, rn FROM ranked
WHERE rn <= quota
ORDER BY lang, rn
""")
def q_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rebalance: cap en at 100 docs, de/fr at 30 each, drop
    other languages — deterministic md5-order selection, quota dim
    broadcast. The language-distribution step of a training-mixture
    build."""
    out = rebalance_sample(
        load_table(spark, "documents", sf_dir),
        {"en": 100, "de": 30, "fr": 30},
        group_col="lang",
    )
    return out.orderBy("lang", "rn")


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 4), ' ') AS span
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0))) AS u(i)
), g AS (
  SELECT span, CAST(count(*) AS BIGINT) AS n_docs,
         array_to_string(
           list_transform(list_slice(list_sort(list(doc_id)), 1, 20),
                          x -> CAST(x AS VARCHAR)), ',') AS members
  FROM grams GROUP BY span
)
SELECT span, n_docs, members FROM g
WHERE n_docs >= 2
ORDER BY n_docs DESC, span ASC
LIMIT 100
""")
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeated 4-token spans (boilerplate detection): spans in
    >=2 distinct docs ranked by spread, member lists capped+sorted."""
    return duplicate_spans(
        load_table(spark, "documents", sf_dir), n=4, min_docs=2, k=100, max_members=20
    )


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'), t -> t != '') AS t
  FROM documents
), occ AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(t, i + 1, i + 4), ' ') AS span
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0))) AS u(i)
), stats AS (
  SELECT span FROM occ GROUP BY span HAVING count(*) >= 2
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT o.doc_id, o.pos,
           row_number() OVER (PARTITION BY o.span ORDER BY o.doc_id, o.pos) AS rn
    FROM occ o JOIN stats s USING (span)
  ) WHERE rn > 1
), covered AS (
  SELECT DISTINCT doc_id, pos + j AS tpos
  FROM dup, UNNEST(range(0, 4)) AS v(j)
), tok_rows AS (
  SELECT doc_id, i AS tpos, t[i + 1] AS tok
  FROM toks, UNNEST(range(0, len(t))) AS w(i)
), kept AS (
  SELECT tr.doc_id, tr.tpos, tr.tok FROM tok_rows tr
  ANTI JOIN covered c ON tr.doc_id = c.doc_id AND tr.tpos = c.tpos
), agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
""")
def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup REWRITE (Lee et al. 2022 scoped to 4-token
    spans): non-first occurrences of corpus-duplicated spans are cut and
    the text reassembled. All string/integer logic -> bit-exact oracle."""
    return remove_duplicate_spans(
        load_table(spark, "documents", sf_dir), n=4, min_count=2
    )


@oracle("""
WITH vocab AS (
  SELECT word, count(*) AS wcount FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t != '')) AS word
    FROM documents
  ) GROUP BY word
), pairs AS (
  SELECT substr(word, i, 2) AS pair, wcount
  FROM vocab, UNNEST(range(1, greatest(len(word), 1))) AS u(i)
)
SELECT pair, CAST(sum(wcount) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 40
""")
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: corpus-weighted adjacent char-pair
    counts via the two-phase vocab trick (pair fan-out scales with
    |vocab|, not corpus size). Top-40, integer counts -> bit-exact."""
    return bpe_merge_candidates(load_table(spark, "documents", sf_dir), k=40)


@oracle("""
WITH counts AS (
  SELECT source AS grp, t, count(*) AS n_gt FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x != '')) AS t
    FROM documents
  ) GROUP BY grp, t
), grp_tot AS (
  SELECT grp, sum(n_gt) AS n_g FROM counts GROUP BY grp
), term_tot AS (
  SELECT t, sum(n_gt) AS n_t FROM counts GROUP BY t
), corpus_tot AS (
  SELECT sum(n_gt) AS n_corpus FROM counts
)
SELECT c.grp AS source,
       CAST(max(g.n_g) AS BIGINT) AS n_tokens,
       round(sum(CAST(round((c.n_gt / g.n_g) * ln((c.n_gt / g.n_g) / (tt.n_t / ct.n_corpus)) * 1e9, 0) AS BIGINT)) / 1e9, 4) AS kl_nats
FROM counts c
JOIN grp_tot g ON c.grp = g.grp
JOIN term_tot tt ON c.t = tt.t
CROSS JOIN corpus_tot ct
GROUP BY c.grp
ORDER BY source
""")
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source || corpus) unigram drift per document source — the
    data-mixture health check. One (source, term) shuffle; corpus stats
    re-aggregate that frame. Contributions are 1e-9 fixed-point before
    summing; ln() can differ by an ulp across libms, so the mirror
    compares under EPS (outside the driver hash window)."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        source_kl_divergence,
    )

    return source_kl_divergence(load_table(spark, "documents", sf_dir))


@oracle("""
WITH toks AS (
  SELECT doc_id, i AS pos, t[i + 1] AS tok
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS t
    FROM documents
  ), UNNEST(range(0, len(t))) AS u(i)
), pairs AS (
  SELECT least(t1.tok, t2.tok) AS a, greatest(t1.tok, t2.tok) AS b
  FROM toks t1 JOIN toks t2
    ON t1.doc_id = t2.doc_id AND t2.pos > t1.pos AND t2.pos <= t1.pos + 3
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY a, b HAVING count(*) >= 2
ORDER BY n DESC, a ASC, b ASC
LIMIT 50
""")
def q_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-occurring token pairs within a 3-position window across the
    corpus — collocation mining (the count layer under PMI association
    scores) and a template-detection diagnostic. One doc-keyed window pass
    computes all offsets; counts are integral -> bit-exact."""
    from global_stock_data_warehouse_spark.operators.corpus import collocations

    return collocations(load_table(spark, "documents", sf_dir), window=3, k=50, min_count=2)


@oracle("""
WITH tok AS (
  SELECT source AS grp,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x != '')) AS t
  FROM documents
), per_tok AS (
  SELECT grp, t, count(*) AS n FROM tok GROUP BY grp, t
)
SELECT grp AS source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(count(*) / CAST(sum(n) AS DOUBLE), 6) AS ttr,
       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
FROM per_tok
GROUP BY grp
ORDER BY source
""")
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary audit: token volume, vocabulary size, hapax
    count, type-token ratio, hapax share — the Heaps'-law corpus
    diagnostics flagging template-heavy / synthetic sources. Two-level
    integer aggregation; ratios rounded 6dp."""
    from global_stock_data_warehouse_spark.operators.corpus import vocab_growth

    return vocab_growth(load_table(spark, "documents", sf_dir))


@oracle("""
WITH items AS (
  SELECT DISTINCT source AS grp, t FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x != '')) AS t
    FROM documents
  )
), sizes AS (
  SELECT grp, count(*) AS n FROM items GROUP BY grp
), inter AS (
  SELECT a.grp AS src_a, b.grp AS src_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM items a JOIN items b ON a.t = b.t AND a.grp < b.grp
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.n_inter,
       CAST(na.n + nb.n - i.n_inter AS BIGINT) AS n_union,
       round(CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON i.src_a = na.grp
JOIN sizes nb ON i.src_b = nb.grp
ORDER BY src_a, src_b
""")
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise vocabulary overlap between document sources
    (intersection / union / Jaccard per source pair) — the duplication
    audit behind mixing-weight decisions. Integer counts -> bit-exact."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        source_overlap_exact,
    )

    return source_overlap_exact(load_table(spark, "documents", sf_dir))


def q_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch estimate of pairwise source overlap (k minimum hash
    values per source; Beyer et al. 2007) — the scale path when sources
    hold billions of distinct tokens. Hash-valued -> rows-only; the
    estimator error is property-tested against the exact operator."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        source_overlap_kmv,
    )

    return source_overlap_kmv(load_table(spark, "documents", sf_dir), k=128)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed BPE training (Sennrich et al. 2016) over the
    corpus: 16 merge rounds on the word-frequency table (corpus touched
    once; each round = one vocab-sized pair agg + a map-only array-fold
    merge). Deterministic (count-then-lexicographic tiebreak) but
    iterative/driver-looped -> rows-only; the merge sequence is
    equivalence-tested against an independent reference trainer in
    tests/test_bpe.py."""
    from global_stock_data_warehouse_spark.operators.corpus import bpe_train

    merges, _ = bpe_train(
        load_table(spark, "documents", sf_dir), n_merges=16, max_words=5000
    )
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-tokenize round trip: encode every doc with the learned
    merges (zero-shuffle Arrow pass, rank-priority merging, per-batch word
    memoization) and report per-doc BPE token count vs whitespace word
    count. Rows-only (the merge list comes from the iterative trainer);
    encoder≡in-order-replay is tested in tests/test_bpe.py."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        bpe_encode,
        bpe_train,
    )
    from global_stock_data_warehouse_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir)
    merges, _ = bpe_train(docs, n_merges=16, max_words=5000)
    words = docs.select("doc_id", token_count("text").alias("n_words"))
    return (
        bpe_encode(docs, merges)
        .select("doc_id", "n_tokens")
        .join(words, "doc_id")
        .orderBy("doc_id")
    )


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT array_to_string(list_slice(t, i + 1, i + 2), ' ') AS gram
  FROM toks, UNNEST(range(0, greatest(len(t) - 1, 0))) AS u(i)
), counts AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY gram
)
SELECT gram, n FROM counts WHERE n >= 2
ORDER BY n DESC, gram ASC
LIMIT 25
""")
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 bigrams with min-support prune — wordcount at
    scale: map-side partial agg absorbs the explode, deterministic
    (count DESC, gram ASC) total order -> TakeOrderedAndProject."""
    return ngram_topk(load_table(spark, "documents", sf_dir), n=2, k=25, min_count=2)


@oracle("""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT sum(c) AS n_total FROM counts
), vocab AS (
  SELECT tok, c FROM counts ORDER BY c DESC, tok ASC LIMIT 16
)
SELECT t.doc_id,
       round(avg(ln((coalesce(v.c, 0) + 1.0) / (tot.n_total + 17.0))), 4)
         AS avg_logprob,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, tot
GROUP BY t.doc_id
ORDER BY t.doc_id
""")
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM mean log-prob quality score (CCNet/KenLM-filter shape):
    corpus-trained top-V vocab broadcast, add-one smoothing, OOV bucket.
    Mean-of-logs sums in engine-dependent order -> 4dp round + EPS
    compare in the local mirror (outside the driver hash window)."""
    from global_stock_data_warehouse_spark.operators.corpus import unigram_logprob

    # vocab_size=16 < the corpus's 31 distinct tokens, so the OOV bucket
    # is genuinely exercised
    return unigram_logprob(
        load_table(spark, "documents", sf_dir), vocab_size=16
    ).orderBy("doc_id")


@oracle("""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS term
  FROM documents
), postings AS (
  SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
), hits AS (
  SELECT * FROM postings WHERE term IN ('spark', 'hash')
), scored AS (
  SELECT doc_id, count(DISTINCT term) AS n_terms, CAST(sum(tf) AS BIGINT) AS score
  FROM hits GROUP BY doc_id
)
SELECT doc_id, n_terms, score
FROM scored WHERE n_terms = 2
ORDER BY score DESC, doc_id ASC LIMIT 15
""")
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword retrieval over a materialized inverted index:
    posting build is one explode-absorbed shuffle; the query-term IN
    filter prunes before the doc-keyed score shuffle; integer tf scoring
    with a (score DESC, doc_id ASC) total order -> deterministic top-k
    via TakeOrderedAndProject."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        inverted_index,
        keyword_search,
    )

    idx = inverted_index(load_table(spark, "documents", sf_dir))
    return keyword_search(idx, ["spark", "hash"], k=15)


@oracle("""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS term
  FROM documents
), postings AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), wdf AS (
  SELECT term, doc_id, tf,
         CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
  FROM postings
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), wt AS (
  SELECT doc_id, term, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS w
  FROM wdf, n
)
SELECT doc_id, rnk, term, w FROM (
  SELECT doc_id, term, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term ASC) AS rnk
  FROM wt)
WHERE rnk <= 3
""")
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document from the materialized inverted
    index: weight = tf * ln(N/df) with a fixed evaluation order (single
    expression — engine-exact at 6dp); per-doc top-k via a rank window
    with (weight DESC, term ASC) total order."""
    from global_stock_data_warehouse_spark.operators.corpus import inverted_index

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    idx = inverted_index(docs)
    weighted = idx.withColumn(
        "w",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    rw = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), F.col("term").asc())
    return (
        weighted.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "w")
    )


@oracle("""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT array_to_string(list_slice(t, i + 1, i + 2), ' ') AS gram
  FROM toks, UNNEST(range(0, greatest(len(t) - 1, 0))) AS u(i)
), counts AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY gram
)
SELECT gram, n FROM counts WHERE n >= 2
ORDER BY n DESC, gram ASC
LIMIT 25
""")
def q_ngram_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy-hitters top-k bigrams: per-task vectorized
    candidate counters (space-saving truncation) + broadcast exact
    recount — only candidate grams ride the final shuffle. At this SF
    capacity exceeds per-task distinct grams, so the result is identical
    to exact ngram_topk and shares its oracle; the lossy regime's recall
    is property-tested."""
    from global_stock_data_warehouse_spark.operators.corpus import ngram_topk_sketch

    return ngram_topk_sketch(load_table(spark, "documents", sf_dir), n=2, k=25, min_count=2)


@oracle("""
WITH counts AS (
  SELECT source AS grp, t, count(*) AS n_gt FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x != '')) AS t
    FROM documents
  ) GROUP BY grp, t
), grp_tot AS (
  SELECT grp, sum(n_gt) AS n_g FROM counts GROUP BY grp
), term_tot AS (
  SELECT t, sum(n_gt) AS n_t FROM counts GROUP BY t
), corpus_tot AS (
  SELECT sum(n_gt) AS n_corpus FROM counts
), fx AS (
  SELECT c.grp, g.n_g,
         CAST(floor((c.n_gt / g.n_g - tt.n_t / ct.n_corpus)
                    * (c.n_gt / g.n_g - tt.n_t / ct.n_corpus)
                    / (tt.n_t / ct.n_corpus) * 1e9 + 0.5) AS BIGINT) AS a_fx,
         CAST(floor((tt.n_t / ct.n_corpus) * 1e9 + 0.5) AS BIGINT) AS b_fx
  FROM counts c
  JOIN grp_tot g ON c.grp = g.grp
  JOIN term_tot tt ON c.t = tt.t
  CROSS JOIN corpus_tot ct
)
SELECT grp AS source, CAST(max(n_g) AS BIGINT) AS n_tokens,
       floor(CAST(sum(a_fx) + (1000000000 - sum(b_fx)) AS DOUBLE) / 1e3 + 0.5)
         / 1e6 AS chi2
FROM fx GROUP BY grp ORDER BY source
""")
def q_source_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact source-drift twin (r6): Pearson chi^2(source || corpus)
    over unigram distributions — the same mixture-health check as
    q_source_kl but transcendental-free, so it is bit-exact on any
    engine and can carry the driver-grade evidence the KL version's
    ln() ulp denies it."""
    from global_stock_data_warehouse_spark.operators.corpus import source_chi2_drift

    return source_chi2_drift(load_table(spark, "documents", sf_dir))


@oracle("""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT sum(c) AS n_total FROM counts
), vocab AS (
  SELECT tok, c FROM counts ORDER BY c DESC, tok ASC LIMIT 16
)
SELECT t.doc_id,
       floor(sum(CAST(floor((coalesce(v.c, 0) + 1) / (tot.n_total + 17) * 1e12
                            + 0.5) AS BIGINT))
             / count(*) / 1e3 + 0.5) / 1e9 AS mean_prob,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, tot
GROUP BY t.doc_id
ORDER BY t.doc_id
""")
def q_unigram_prob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact unigram-LM quality twin (r6): mean token PROBABILITY
    (not log-prob) under the corpus-trained add-one top-16 LM — exact
    integer-ratio arithmetic end-to-end. vocab_size=16 < the corpus's
    distinct-token count so the OOV bucket is genuinely exercised, like
    q_unigram_logprob."""
    from global_stock_data_warehouse_spark.operators.corpus import unigram_prob_score

    return unigram_prob_score(load_table(spark, "documents", sf_dir), vocab_size=16)


@oracle("""
WITH keyed AS (
  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(k, 1, 8))::UBIGINT % 8 AS BIGINT) AS shard,
       row_number() OVER (
         PARTITION BY ('0x' || substr(k, 1, 8))::UBIGINT % 8
         ORDER BY k ASC, doc_id ASC) AS pos
FROM keyed
ORDER BY shard, pos
""")
def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-0 training-order shuffle (r6): md5(seed:id)
    assigns every doc a shard and in-shard position — one shard-keyed
    shuffle + within-shard sort, no global ordering materialized. Pure
    function of (seed, id) -> bit-exact across engines and re-runs."""
    from global_stock_data_warehouse_spark.operators.corpus import shard_shuffle

    return shard_shuffle(
        load_table(spark, "documents", sf_dir), n_shards=8, seed=42
    ).orderBy("shard", "pos")


@oracle("""
WITH keyed AS (
  SELECT doc_id, text, md5('42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), ordered AS (
  SELECT text,
         CAST(('0x' || substr(k, 1, 8))::UBIGINT % 8 AS BIGINT) AS shard,
         row_number() OVER (
           PARTITION BY ('0x' || substr(k, 1, 8))::UBIGINT % 8
           ORDER BY k ASC, doc_id ASC) AS pos
  FROM keyed
), toks AS (
  SELECT shard, pos,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x != '') AS tk
  FROM ordered
), offs AS (
  SELECT shard, tk,
         coalesce(sum(len(tk)) OVER (
           PARTITION BY shard ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks
), stream AS (
  SELECT shard,
         off + unnest(range(0, len(tk))) AS gpos,
         unnest(tk) AS tok
  FROM offs
)
SELECT shard, CAST(gpos // 64 AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       string_agg(tok, ' ' ORDER BY gpos % 64) AS token_str
FROM stream GROUP BY shard, gpos // 64
ORDER BY shard, seq_id
""")
def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED packed training stream (r6): md5 shard shuffle ->
    concatenate each shard's docs in training order -> cut into 64-token
    sequences, emitting the actual token content per sequence
    (space-joined so the value hash sees one string cell). Everything is
    integer/md5 arithmetic — oracled bit-exact including every token's
    position in every sequence."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        pack_token_sequences,
        shard_shuffle,
    )

    docs = load_table(spark, "documents", sf_dir)
    order = shard_shuffle(docs, n_shards=8, seed=42)
    packed = pack_token_sequences(
        docs.join(order, "doc_id"), ctx_len=64
    )
    return packed.select(
        "shard",
        "seq_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.array_join("input_ids", " ").alias("token_str"),
    ).orderBy("shard", "seq_id")


@oracle("""
WITH arr AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM arr, UNNEST(range(0, len(t) - 1)) AS u(i)
), big AS (
  SELECT w1, w2, count(*) AS bc FROM grams GROUP BY 1, 2
), top_big AS (
  SELECT w1, w2, bc FROM big ORDER BY bc DESC, w1 ASC, w2 ASC LIMIT 64
), ctx AS (
  SELECT w1, count(*) AS cc FROM grams GROUP BY 1
), top_ctx AS (
  SELECT w1, cc FROM ctx ORDER BY cc DESC, w1 ASC LIMIT 16
), scored AS (
  SELECT g.doc_id,
         CAST(floor((coalesce(tb.bc, 0) + 1)
                    / (coalesce(tc.cc, 0) + 17) * 1e12 + 0.5) AS BIGINT) AS p_fx
  FROM grams g
  LEFT JOIN top_big tb ON g.w1 = tb.w1 AND g.w2 = tb.w2
  LEFT JOIN top_ctx tc ON g.w1 = tc.w1
)
SELECT doc_id,
       floor(sum(p_fx) / count(*) / 1e3 + 0.5) / 1e9 AS mean_bigram_prob,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM scored GROUP BY doc_id ORDER BY doc_id
""")
def q_bigram_prob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram probability per doc under the corpus-trained add-one
    bigram LM — the context-conditioned rung above unigram_prob_score
    (word-salad detection). Bounded broadcast model, map-side bigram
    generation, hash-exact fixed-point mean (no transcendental)."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        bigram_prob_score,
    )

    # vocab_size=16 / bigram_size=64 < the corpus's distinct counts so
    # both OOV paths (unknown bigram, unknown context) are exercised
    return bigram_prob_score(
        load_table(spark, "documents", sf_dir), vocab_size=16, bigram_size=64
    )


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitmap decontamination: same benchmark-overlap rule as
    q_decontaminate but the eval gram set is compressed to a 2^20-bit
    Bloom filter probed via k broadcast joins — the shape that still
    works when the holdout ledger outgrows a raw-string broadcast.
    One-sided error (never misses a true hit) -> rows-only; the
    superset-of-exact property is pytest-enforced
    (tests/test_corpus.py::test_bloom_decontaminate_superset_of_exact)."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        bloom_decontaminate,
    )

    docs = load_table(spark, "documents", sf_dir)
    return bloom_decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=5,
    ).orderBy("doc_id")


@oracle("""
WITH pres AS (
  SELECT DISTINCT doc_id, source AS cls,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS term
  FROM documents WHERE source IS NOT NULL
), a AS (
  SELECT cls, term, CAST(count(*) AS BIGINT) AS a FROM pres GROUP BY 1, 2
), term_df AS (
  SELECT term, sum(a) AS t_df FROM a GROUP BY term
), cls_n AS (
  -- mirrors term_class_chi2's NULL-class exclusion EVERYWHERE incl. N:
  -- a NULL-source doc must sit outside every 2x2 cell, not inside N only
  SELECT source AS cls, CAST(count(*) AS BIGINT) AS c_n
  FROM documents WHERE source IS NOT NULL GROUP BY source
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
  WHERE source IS NOT NULL
), cells AS (
  SELECT a.cls, a.term, a.a,
         CAST(a.a AS DOUBLE) AS ad,
         CAST(t_df - a.a AS DOUBLE) AS bd,
         CAST(c_n - a.a AS DOUBLE) AS cd,
         CAST(n - t_df - c_n + a.a AS DOUBLE) AS dd,
         CAST(n AS DOUBLE) AS nd
  FROM a JOIN term_df USING (term) JOIN cls_n USING (cls), n
  WHERE t_df >= 5
), scored AS (
  SELECT cls, term, a AS df_in_class,
         round(CASE WHEN (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd) = 0
                    THEN 0.0
                    ELSE nd * ((ad * dd - bd * cd) * (ad * dd - bd * cd))
                         / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd))
               END, 6) AS chi2
  FROM cells
)
SELECT cls, rnk, term, df_in_class, chi2 FROM (
  SELECT cls, term, df_in_class, chi2,
         CAST(row_number() OVER (PARTITION BY cls ORDER BY chi2 DESC, term ASC)
              AS INTEGER) AS rnk
  FROM scored)
WHERE rnk <= 10
ORDER BY cls, rnk
""")
def q_term_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square term/class feature selection over documents (class =
    source): top-10 most discriminative terms per source by the 2x2
    presence chi-square (Yang & Pedersen ICML'97). Pure integer-count
    rational arithmetic — no transcendental — rounded at 6dp."""
    from global_stock_data_warehouse_spark.operators.corpus import term_class_chi2

    return term_class_chi2(load_table(spark, "documents", sf_dir), top_k=10, min_df=5)
