"""Document classification and curation (``operators.classify``,
``operators.curation``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


@oracle("""
WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                     t -> t != '') AS tk
  FROM documents
), per_doc AS (
  SELECT source,
         len(list_distinct(tk)) * CAST(1000000 AS BIGINT) // len(tk) AS ttr_fx
  FROM toks WHERE len(tk) > 0
)
SELECT source,
       count(*) AS n_docs,
       floor(CAST(sum(ttr_fx) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5) / 1e6
         AS mean_ttr,
       floor(sum(CASE WHEN ttr_fx < 500000 THEN 1 ELSE 0 END) * 1.0 / count(*)
             * 1e6 + 0.5) / 1e6 AS low_diversity_share
FROM per_doc GROUP BY source
""")
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: per-source type-token-ratio report — mean TTR and
    low-diversity share (template spam screen; Gopher-adjacent). Per-doc
    TTR is one bigint floor-division; one group-bounded source agg."""
    from global_stock_data_warehouse_spark.operators.curation import (
        lexical_diversity,
    )

    return lexical_diversity(load_table(spark, "documents", sf_dir), low_ttr=0.5)


@oracle("""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x != '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok
                   ORDER BY c DESC, tok ASC LIMIT 64)
), vtoks AS (
  SELECT t.doc_id, t.source, t.tok FROM toks t JOIN vocab v USING (tok)
), ctc AS (
  SELECT tok, source, count(*) AS ctc FROM vtoks GROUP BY tok, source
), ct AS (
  SELECT tok, CAST(sum(ctc) AS BIGINT) AS ct FROM ctc GROUP BY tok
), classes AS (
  SELECT DISTINCT source AS cls FROM vtoks
), ncls AS (
  SELECT count(*) AS n_cls FROM classes
), votes AS (
  SELECT ct.tok, c.cls,
         CAST(floor((coalesce(x.ctc, 0) + 1) / (ct.ct + n.n_cls) * 1e12 + 0.5)
              AS BIGINT) AS vote_fx
  FROM ct CROSS JOIN classes c
  LEFT JOIN ctc x ON x.tok = ct.tok AND x.source = c.cls
  CROSS JOIN ncls n
), scores AS (
  SELECT t.doc_id, v.cls,
         CAST(sum(v.vote_fx) AS BIGINT) AS score_fx,
         count(*) AS n_scored
  FROM vtoks t JOIN votes v ON t.tok = v.tok
  GROUP BY t.doc_id, v.cls
), best AS (
  SELECT doc_id, cls, score_fx, n_scored,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_fx DESC, cls ASC) AS rn
  FROM scores
)
SELECT d.doc_id, d.source,
       b.cls AS pred_source, b.score_fx,
       CAST(coalesce(b.n_scored, 0) AS BIGINT) AS n_scored,
       b.cls = d.source AS is_correct
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
ORDER BY d.doc_id
""")
def q_token_vote_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact source classifier (r6): every in-vocab token votes the
    add-one-smoothed class posterior (c_tc+1)/(c_t+C) — exact rational,
    1e-12 fixed-point — and the per-doc argmax (score desc, label asc
    tiebreak) is a BIGINT comparison, so even the PREDICTED LABEL is
    driver-hash-safe. vocab_size=64 over the 20 synthetic sources."""
    from global_stock_data_warehouse_spark.operators.classify import (
        token_vote_classify,
    )

    return token_vote_classify(load_table(spark, "documents", sf_dir), vocab_size=64)


@oracle(lambda o: f"""
WITH tv AS ({o["token_vote_classify"]}), per_label AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN is_correct THEN 1 ELSE 0 END) AS n_correct
  FROM tv GROUP BY source
), per_pred AS (
  SELECT pred_source AS source, count(*) AS n_pred FROM tv
  WHERE pred_source IS NOT NULL GROUP BY pred_source
)
SELECT l.source, CAST(l.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(l.n_correct AS BIGINT) AS n_correct,
       CAST(l.n_correct * 1000000 // l.n_docs AS BIGINT) AS recall_ppm,
       CASE WHEN coalesce(p.n_pred, 0) > 0
            THEN CAST(l.n_correct * 1000000 // p.n_pred AS BIGINT) END AS precision_ppm
FROM per_label l LEFT JOIN per_pred p USING (source)
ORDER BY l.source
""")
def q_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class quality report over the hash-exact token-vote classifier
    (r6): docs / predictions / correct counts plus recall and precision
    as EXACT integer parts-per-million (``n*1e6 DIV d`` — integer
    division, no float rounding anywhere, so the whole report is
    driver-hash-safe like the classifier itself). The
    evaluate-the-labeler step a source-balancing pipeline runs before
    trusting predicted domains."""
    from global_stock_data_warehouse_spark.operators.classify import (
        token_vote_classify,
    )

    # two consumers (per-label + per-pred aggs) — materialize the
    # classifier output once or the full vote plan executes twice
    # (PLANS.md showed 25 exchanges vs token_vote's 12 before this cut)
    out = token_vote_classify(
        load_table(spark, "documents", sf_dir), vocab_size=64
    ).localCheckpoint(eager=True)
    per_label = out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_correct"), 1).otherwise(0)).alias("n_correct"),
    )
    per_pred = (
        out.filter(F.col("pred_source").isNotNull())
        .groupBy(F.col("pred_source").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_pred"))
    )
    return (
        per_label.join(per_pred, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.expr("CAST(n_correct * 1000000 DIV n_docs AS BIGINT)").alias(
                "recall_ppm"
            ),
            F.expr(
                "CASE WHEN coalesce(n_pred, 0) > 0 THEN "
                "CAST(n_correct * 1000000 DIV n_pred AS BIGINT) END"
            ).alias("precision_ppm"),
        )
        .orderBy("source")
    )


@oracle("""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x != '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok
                   ORDER BY c DESC, tok ASC LIMIT 64)
), vtoks AS (
  SELECT t.doc_id, t.source, t.tok FROM toks t JOIN vocab v USING (tok)
), ctc AS (
  SELECT tok, source, count(*) AS ctc FROM vtoks GROUP BY tok, source
), cls AS (
  SELECT source, count(*) AS n_c FROM vtoks GROUP BY source
), priors AS (
  SELECT source, count(*) AS n_docs_c FROM documents GROUP BY source
), alldocs AS (
  SELECT count(*) AS n_docs_all FROM documents
), tok_ll AS (
  SELECT t.doc_id, t.source, count(*) AS n_tokens,
         sum(ln((coalesce(c.ctc, 0) + 1) / (coalesce(k.n_c, 0) + 65)))
           AS ll_toks
  FROM toks t
  LEFT JOIN ctc c ON c.tok = t.tok AND c.source = t.source
  LEFT JOIN cls k ON k.source = t.source
  GROUP BY t.doc_id, t.source
)
SELECT d.doc_id, d.source,
       CAST(coalesce(l.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(ln(p.n_docs_c / a.n_docs_all) + coalesce(l.ll_toks, 0.0), 4)
         AS loglik
FROM documents d
LEFT JOIN tok_ll l ON l.doc_id = d.doc_id
JOIN priors p ON p.source = d.source
CROSS JOIN alldocs a
ORDER BY d.doc_id
""")
def q_nb_self_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial-NB per-doc log-likelihood at the doc's own label
    (add-one smoothing, top-64 vocab + OOV bucket, class prior): the
    textbook companion to q_token_vote_classify's hash-exact argmax.
    EPS-compared (ln is libm territory), like unigram_logprob."""
    from global_stock_data_warehouse_spark.operators.classify import nb_self_loglik

    return nb_self_loglik(load_table(spark, "documents", sf_dir), vocab_size=64)


@oracle(lambda o: f"""
WITH tv AS ({o["token_vote_classify"]}), scored AS (
  SELECT doc_id, CASE WHEN is_correct THEN 1 ELSE 0 END AS ok,
         CAST(score_fx AS DOUBLE) / 1e9 / n_scored AS mv
  FROM tv WHERE pred_source IS NOT NULL
), rng AS (
  SELECT min(mv) AS lo, max(mv) AS hi FROM scored
), binned AS (
  SELECT ok, mv,
         CAST(CASE WHEN hi > lo
                   THEN least(floor((mv - lo) / (hi - lo) * 10), 9)
                   ELSE 0 END AS INTEGER) AS bin
  FROM scored, rng
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ok) AS BIGINT) AS n_correct,
       CAST(sum(ok) * 1000000 // count(*) AS BIGINT) AS accuracy_ppm,
       round(min(mv), 6) AS min_conf,
       round(max(mv), 6) AS max_conf
FROM binned GROUP BY bin ORDER BY bin
""")
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report for the token-vote classifier: docs binned by
    confidence (mean vote strength, 10 VALUE-bins between the corpus
    min/max — two broadcast scalars, no global rank window funneling the
    doc frame through one task) with per-bin accuracy in exact ppm. A
    well-calibrated score is monotone: higher-confidence bins should be
    more accurate — the report a curator reads before trusting the
    classifier's labels for mixture weighting. Integer counts + single
    correctly-rounded divisions -> bit-exact."""
    tv = q_token_vote_classify(spark, sf_dir).filter(
        F.col("pred_source").isNotNull()
    )
    # /1e9 first: score_fx is 1e9-grid fixed point, and a 6dp round of a
    # ~6e10 raw value sits BELOW the double ulp (engines disagree in the
    # last bit); in natural vote units the rounding is far above ulp
    mv = (
        F.col("score_fx").cast("double") / 1e9 / F.col("n_scored")
    ).alias("_mv")
    scored = tv.select(
        "doc_id", F.col("is_correct").cast("int").alias("_ok"), mv
    ).localCheckpoint(eager=True)
    # localCheckpoint: scored feeds BOTH the min/max range aggregate and
    # the binning pass — without it the 12-shuffle token_vote_classify
    # subtree executes twice (the r7 PLANS.md row showed 23 shuffles)
    rng = scored.agg(
        F.min("_mv").alias("_lo"), F.max("_mv").alias("_hi")
    )
    binned = scored.crossJoin(F.broadcast(rng)).select(
        "_ok",
        "_mv",
        F.when(F.col("_hi") > F.col("_lo"),
               F.least(
                   F.floor((F.col("_mv") - F.col("_lo"))
                           / (F.col("_hi") - F.col("_lo")) * 10),
                   F.lit(9),
               ))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ok").cast("long").alias("n_correct"),
            F.expr("CAST(sum(_ok) * 1000000 DIV count(*) AS BIGINT)").alias(
                "accuracy_ppm"
            ),
            F.round(F.min("_mv"), 6).alias("min_conf"),
            F.round(F.max("_mv"), 6).alias("max_conf"),
        )
        .orderBy("bin")
    )


@oracle("""
WITH segs AS (
  SELECT doc_id, trim(s) AS seg
  FROM documents, unnest(string_split(coalesce(text, ''), ' the ')) AS t(s)
  WHERE doc_id IS NOT NULL AND trim(s) <> ''
), freq AS (
  SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg
)
SELECT doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST(sum(length(seg)) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN nd >= 3 THEN length(seg) ELSE 0 END) AS BIGINT)
         AS boiler_chars,
       floor(CAST(sum(CASE WHEN nd >= 3 THEN length(seg) ELSE 0 END) AS DOUBLE)
             / sum(length(seg)) * 1e6 + 0.5) / 1e6 AS boiler_ratio
FROM segs JOIN freq USING (seg)
GROUP BY doc_id
""")
def q_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate exposure (RefinedWeb line-frequency audit):
    segments occurring in >=3 distinct docs are boilerplate; report each
    doc's segment counts and boilerplate char ratio. Splits on ' the '
    like q_paragraph_dedup (the synthetic corpus has no newlines)."""
    from global_stock_data_warehouse_spark.operators.curation import (
        line_boilerplate_stats,
    )

    return line_boilerplate_stats(
        load_table(spark, "documents", sf_dir), sep=" the ", min_docs=3
    )


@oracle("""
WITH scored AS (
  SELECT doc_id, source,
         CAST(length(coalesce(text, '')) AS BIGINT)
           + 10 * CAST(len(list_filter(
               string_split_regex(lower(coalesce(text, '')), '\\s+'),
               x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT)
           AS score
  FROM documents WHERE doc_id IS NOT NULL
), ranked AS (
  SELECT source, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
), gated AS (
  SELECT source, score,
         CASE WHEN rn <= ceil(0.6 * n) THEN 1 ELSE 0 END AS kept
  FROM ranked
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       min(CASE WHEN kept = 1 THEN score END) AS min_kept_score,
       floor(CAST(sum(CASE WHEN kept = 1 THEN score END) AS DOUBLE)
             / sum(kept) * 1e6 + 0.5) / 1e6 AS mean_kept_score
FROM gated GROUP BY source
""")
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality percentile gate: keep the top 60% of each
    source by a chars+stopwords fluency score; all-integer rank/count
    gating with a deterministic (score desc, doc_id) tiebreak."""
    from global_stock_data_warehouse_spark.operators.curation import (
        quality_percentile_gate,
    )

    return quality_percentile_gate(
        load_table(spark, "documents", sf_dir), keep_frac=0.6
    )


@oracle("""
WITH docs AS (
  SELECT doc_id, md5(text) AS h
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), bounds AS (
  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM docs
), marked AS (
  SELECT least(CAST(10 AS BIGINT),
               ((doc_id - lo) * 10) // (hi - lo + 1) + 1) AS bucket,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM docs, bounds
), per_bucket AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM marked GROUP BY bucket
)
SELECT bucket, n_docs, n_new,
       floor(CAST(n_docs - n_new AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
         AS dup_rate,
       CAST(sum(n_new) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct
FROM per_bucket
""")
def q_novelty_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-novelty decay over arrival order: 10 equal id-range
    buckets, exact first-occurrence marking, per-bucket dup rate and
    cumulative distinct count — the crawl-saturation curve."""
    from global_stock_data_warehouse_spark.operators.curation import (
        novelty_timeline,
    )

    return novelty_timeline(load_table(spark, "documents", sf_dir), n_buckets=10)


@oracle("""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(coalesce(text, '')), '\\s+')) AS term
  FROM documents
), counts AS (
  SELECT term, count(*) AS cnt FROM toks WHERE term <> ''
  GROUP BY term ORDER BY cnt DESC, term LIMIT 200
), ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, term) AS DOUBLE)) AS x,
         ln(CAST(cnt AS DOUBLE)) AS y
  FROM counts
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CASE WHEN n * sxx - sx * sx > 0
            THEN floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5)
                 / 1e6 END AS slope,
       CASE WHEN n * sxx - sx * sx > 0
            THEN floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                       / n * 1e6 + 0.5) / 1e6 END AS intercept
FROM s
""")
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS over the top 200 terms: one-row corpus
    health diagnostic (natural language ~ -1). Top-k is a
    TakeOrderedAndProject; regression runs on <= 200 rows."""
    from global_stock_data_warehouse_spark.operators.curation import zipf_slope

    return zipf_slope(load_table(spark, "documents", sf_dir), top_n=200)
