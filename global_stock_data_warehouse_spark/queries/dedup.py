"""Exact, near-duplicate and keyed deduplication (``operators.dedup``,
``operators.graph`` components, ``operators.upsert``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.dedup import (
    dedup_exact,
    minhash_neardup,
    ngram_jaccard_pairs,
    sample_per_group,
    simhash_neardup,
)
from global_stock_data_warehouse_spark.operators.graph import dedup_groups
from global_stock_data_warehouse_spark.operators.similarity import embedding_neardup
from global_stock_data_warehouse_spark.operators.upsert import dedup_last_writer
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


@oracle("""
SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_shipdate
FROM (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             row_number() OVER (PARTITION BY l_partkey, l_suppkey
                                ORDER BY (l_shipdate, l_orderkey, l_linenumber) DESC) AS rn
      FROM lineitem) WHERE rn = 1
""")
def q_dedup_last_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/K1: last-writer-wins keyed dedup via row_number window. The
    tiebreak is a column SEQUENCE, not a struct — a struct order column
    re-ships its fields through the window shuffle next to the bare
    output columns (21.2 -> 12.9 MB at sf0.1)."""
    li = load_table(spark, "lineitem", sf_dir)
    out = dedup_last_writer(
        li, ("l_partkey", "l_suppkey"), ("l_shipdate", "l_orderkey", "l_linenumber")
    )
    return out.select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate")


@oracle("""
SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-text md5 fingerprint."""
    return dedup_exact(load_table(spark, "documents", sf_dir))


@oracle("""
WITH toks AS (
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
)
SELECT id_a, id_b, n_common, jaccard FROM (
  SELECT id_a, id_b, n_common,
         round(n_common * 1.0 / (x.n + y.n - n_common), 6) AS jaccard
  FROM common JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id)
WHERE jaccard >= 0.2
""")
def q_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-Jaccard near-dup pairs via inverted-index join."""
    return ngram_jaccard_pairs(load_table(spark, "documents", sf_dir), threshold=0.2)


@oracle("""
SELECT event_type, event_id, rn FROM (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events)
WHERE rn <= 100
""")
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 100 events per event_type by md5
    order of the id — engine-portable pseudo-randomness (rand()/TABLESAMPLE
    streams are not reproducible across engines; md5 order is)."""
    return sample_per_group(
        load_table(spark, "events", sf_dir), group_col="event_type", k=100, id_col="event_id"
    )


@oracle(f"""
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
)
SELECT min(id) AS keep_id,
       count(*) AS group_size,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
FROM comp GROUP BY comp
""")
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> dedup groups (keep min
    doc per cluster). Iterative min-label propagation, checkpointed per
    round; converges in diameter rounds (near-dup clusters are cliques)."""
    pairs = ngram_jaccard_pairs(load_table(spark, "documents", sf_dir), threshold=0.2)
    groups = dedup_groups(pairs)
    return groups.select(
        "keep_id",
        "group_size",
        F.expr("array_join(transform(members, x -> cast(x as string)), ',')").alias(
            "members"
        ),
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
), clusters AS (
  SELECT comp, count(*) AS group_size FROM comp GROUP BY comp
)
SELECT CAST(group_size AS BIGINT) AS cluster_size,
       count(*) AS n_clusters,
       CAST(count(*) * group_size AS BIGINT) AS n_docs,
       CAST(count(*) * (group_size - 1) AS BIGINT) AS n_removable
FROM clusters GROUP BY group_size
""")
def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the "how duplicated is this
    corpus" one-pager an ops team reads before sizing a dedup pass: per
    cluster size, how many clusters and how many docs they cover, plus
    the doc-level dedup yield (docs removable = size - 1 per cluster).
    Composes the oracled near-dup components (same pair threshold) with
    a group-bounded size rollup — all exact integers."""
    pairs = ngram_jaccard_pairs(load_table(spark, "documents", sf_dir), threshold=0.2)
    groups = dedup_groups(pairs)
    return (
        groups.groupBy(F.col("group_size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("group_size").cast("bigint")).alias(
                "n_docs"
            ),
            (
                F.count(F.lit(1)) * (F.col("group_size").cast("bigint") - 1)
            ).alias("n_removable"),
        )
        .select("cluster_size", "n_clusters", "n_docs", "n_removable")
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
  SELECT r.a, s2.d FROM reach r JOIN sym s2 ON r.b = s2.s
), comp AS (
  SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
), labeled AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.comp, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
), winners AS (
  SELECT group_key,
         first(doc_id ORDER BY n_chars DESC, doc_id ASC) AS keep_id,
         CAST(count(*) AS BIGINT) AS group_size
  FROM labeled GROUP BY group_key
)
SELECT l.doc_id, l.group_key, w.keep_id,
       l.doc_id = w.keep_id AS kept, w.group_size
FROM labeled l JOIN winners w USING (group_key)
ORDER BY l.doc_id
""")
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup verdicts: bigram-Jaccard near-dup clusters keep
    their LONGEST member (n_chars score, ties -> lowest doc_id) — the
    C4/Dolma keep-policy, vs dedup_components' keep-min-id."""
    from global_stock_data_warehouse_spark.operators.graph import dedup_keep_best

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    return dedup_keep_best(docs, pairs, score_col="n_chars").orderBy("doc_id")


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard (approximate recall
    by design -> rows-only check, no oracle)."""
    return minhash_neardup(
        load_table(spark, "documents", sf_dir), num_hashes=32, bands=16, threshold=0.5
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 near-dup pairs (chunk-blocked; rows-only check)."""
    return simhash_neardup(load_table(spark, "documents", sf_dir), max_hamming=3)


def q_simhash_multi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 via multi-index Hamming search (Norouzi et al.
    CVPR'12; the past-10M-docs key-space path) — pinned to the
    multi_index strategy so its plan runs at every SF; result set is
    IDENTICAL to the chunk scheme (equivalence-tested), rows-only here
    because signature hash values are engine-specific."""
    return simhash_neardup(
        load_table(spark, "documents", sf_dir), max_hamming=3, strategy="multi_index"
    )


@oracle(lambda o: f"""
WITH tp AS ({o["ngram_jaccard_neardup"]}), ep AS ({o["embedding_neardup"]})
SELECT coalesce(t.id_a, e.id_a) AS id_a,
       coalesce(t.id_b, e.id_b) AS id_b,
       t.jaccard, e.cosine_sim,
       t.id_a IS NOT NULL AS text_dup,
       e.id_a IS NOT NULL AS semantic_dup,
       CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL THEN 'both'
            WHEN t.id_a IS NOT NULL THEN 'text_only'
            ELSE 'semantic_only' END AS agreement
FROM tp t FULL OUTER JOIN ep e ON t.id_a = e.id_a AND t.id_b = e.id_b
ORDER BY 1, 2
""")
def q_neardup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup consensus (r6): the text-level bigram-Jaccard
    pair set full-outer-joined with the embedding-cosine pair set
    (doc_id = vec_id in the fixtures) — per candidate pair, which
    modality flagged it and whether they agree. The triage view a dedup
    operator reviews before choosing thresholds: 'both' pairs are
    near-certain dups, single-modality pairs show where paraphrase
    (semantic_only) or template noise (text_only) lives. Both inputs are
    individually oracled bit-exact; the oracle here composes their SQL
    as CTEs so the three can never drift apart."""
    from global_stock_data_warehouse_spark.operators.similarity import (
        embedding_neardup,
    )

    tp = ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.2
    ).select("id_a", "id_b", "jaccard")
    ep = embedding_neardup(load_table(spark, "embeddings", sf_dir), threshold=0.4)
    both = F.col("jaccard").isNotNull() & F.col("cosine_sim").isNotNull()
    return (
        tp.join(ep, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "cosine_sim",
            F.col("jaccard").isNotNull().alias("text_dup"),
            F.col("cosine_sim").isNotNull().alias("semantic_dup"),
            F.when(both, F.lit("both"))
            .when(F.col("jaccard").isNotNull(), F.lit("text_only"))
            .otherwise(F.lit("semantic_only"))
            .alias("agreement"),
        )
        .orderBy("id_a", "id_b")
    )


@oracle("""
WITH RECURSIVE fp AS (
  SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS f,
         min(doc_id) AS keep_id, count(*) AS n_dups
  FROM documents GROUP BY 1
), surv AS (
  SELECT d.doc_id, d.text FROM documents d JOIN fp ON d.doc_id = fp.keep_id
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'), t -> t != '') AS t
  FROM surv
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
  SELECT r.a, s2.d FROM reach r JOIN sym s2 ON r.b = s2.s
), comp AS (
  SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
), ndstats AS (
  SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS nd_removed
  FROM (SELECT comp, count(*) AS n FROM comp GROUP BY comp)
), ex AS (
  SELECT CAST(count(*) AS BIGINT) AS groups, CAST(sum(n_dups) AS BIGINT) AS docs FROM fp
)
SELECT ex.docs AS n_docs,
       ex.docs - ex.groups AS n_exact_removed,
       ndstats.nd_removed AS n_neardup_removed,
       ex.groups - ndstats.nd_removed AS n_final,
       round((ex.groups - ndstats.nd_removed) * 1.0 / GREATEST(ex.docs, 1), 6)
         AS retention_rate
FROM ex CROSS JOIN ndstats
""")
def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup funnel in ONE summary row: docs in -> exact-dup
    removals (fingerprint keep-one) -> near-dup removals (bigram-Jaccard
    components over the exact survivors, keep-one per component) ->
    survivors + retention rate. The dataset-card diagnostic every dedup
    pipeline reports; composes dedup_exact + dedup_groups counts without
    materializing any intermediate corpus."""
    from global_stock_data_warehouse_spark.operators.graph import dedup_groups

    docs = load_table(spark, "documents", sf_dir)
    groups = dedup_exact(docs)  # (fp, keep_id, n_dups)
    survivors = docs.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id"
    ).localCheckpoint(eager=True)
    nd = dedup_groups(ngram_jaccard_pairs(survivors, threshold=0.2))
    exact_stats = groups.agg(
        F.count(F.lit(1)).alias("_groups"),
        F.sum("n_dups").cast("long").alias("_docs"),
    )
    nd_stats = nd.agg(
        F.coalesce(F.sum(F.col("group_size") - 1), F.lit(0))
        .cast("long")
        .alias("_nd_removed")
    )
    return (
        exact_stats.crossJoin(F.broadcast(nd_stats))
        .select(
            F.col("_docs").alias("n_docs"),
            (F.col("_docs") - F.col("_groups")).cast("long").alias("n_exact_removed"),
            F.col("_nd_removed").alias("n_neardup_removed"),
            (F.col("_groups") - F.col("_nd_removed")).cast("long").alias("n_final"),
            F.round(
                (F.col("_groups") - F.col("_nd_removed"))
                / F.greatest(F.col("_docs"), F.lit(1)),
                6,
            ).alias("retention_rate"),
        )
    )


@oracle("""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
  FROM documents
), store AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0
), batch AS (
  SELECT doc_id, fp,
         min(doc_id) OVER (PARTITION BY fp) AS first_in_batch
  FROM fp WHERE doc_id % 3 != 0
)
SELECT b.doc_id, b.fp,
       s.fp IS NOT NULL AS dup_of_store,
       b.doc_id != b.first_in_batch AS dup_in_batch,
       (s.fp IS NULL AND b.doc_id = b.first_in_batch) AS keep
FROM batch b LEFT JOIN store s USING (fp)
ORDER BY doc_id
""")
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup: today's batch (doc_id % 3 != 0) checked against
    yesterday's corpus fingerprint store (doc_id % 3 == 0) AND itself in
    one pass — the continuous-ingestion shape where the standing corpus
    is never rescanned. Per-doc verdict frame; the batch crosses the
    wire once (the in-batch window's fp partitioning is reused by the
    store probe join)."""
    from global_stock_data_warehouse_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
    )

    docs = load_table(spark, "documents", sf_dir)
    store = fingerprint_store(docs.filter(F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return incremental_dedup(batch, store).orderBy("doc_id")


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run NEAR-dedup (r6): today's batch probed against the
    standing corpus' banded MinHash-LSH ledger AND itself in one pass —
    the fuzzy sibling of incremental_dedup (same store/probe shape, but
    the ledger holds band buckets + signatures, not exact fingerprints).
    Rows-only (MinHash estimates); verdict semantics, greedy-policy
    equivalence with minhash_neardup's pair list, and repartition
    determinism are tested in tests/test_incremental_dsir.py."""
    from global_stock_data_warehouse_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_store,
    )

    docs = load_table(spark, "documents", sf_dir)
    # materialize the ledger once (r12): the probe reads the store frame
    # three times (param guard, bucket join, band-0 signature lookup) —
    # against the REAL contract (a persisted parquet ledger) those are
    # three pruned scans, so the query simulates the ledger with one
    # eager checkpoint instead of re-running the signature kernel 3x
    store = minhash_store(docs.filter(F.col("doc_id") % 3 == 0)).localCheckpoint(
        eager=True
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return incremental_minhash_dedup(batch, store, threshold=0.5).orderBy("doc_id")


@oracle("""
WITH paras AS (
  SELECT doc_id, trim(u.s.p) AS para, u.s.i AS idx
  FROM (SELECT doc_id,
               list_transform(string_split(text, ' the '), (x, i) -> {'p': x, 'i': i}) AS ps
        FROM documents), UNNEST(ps) AS u(s)
  WHERE trim(u.s.p) <> ''
), ranked AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
  FROM paras
)
SELECT doc_id,
       string_agg(CASE WHEN rn = 1 THEN para END, ' the ' ORDER BY idx) AS text,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept
FROM ranked GROUP BY doc_id
HAVING n_kept > 0
ORDER BY doc_id
""")
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (Dolma/C4 pass): first
    occurrence of each distinct paragraph wins, docs reassembled from
    survivors. The synthetic corpus has no blank-line breaks, so the
    query splits on a frequent token boundary to exercise the operator;
    real corpora use the default '\\n\\n'."""
    from global_stock_data_warehouse_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(
        load_table(spark, "documents", sf_dir), sep=" the "
    ).orderBy("doc_id")


@oracle("""
WITH l AS (SELECT p_brand, p_partkey AS id_a, p_name AS name_a FROM part),
     r AS (SELECT p_brand, p_partkey AS id_b, p_name AS name_b FROM part)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS distance
FROM l JOIN r ON l.p_brand = r.p_brand
             AND id_a < id_b
             AND levenshtein(name_a, name_b) <= 2
""")
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: brand-blocked candidate pairs
    matched by Levenshtein <= 2 inside the join condition. One block-key
    shuffle; the quadratic is bounded by the largest brand block."""
    from global_stock_data_warehouse_spark.operators.dedup import record_linkage

    return record_linkage(
        load_table(spark, "part", sf_dir),
        name_col="p_name",
        block_cols=["p_brand"],
        max_distance=2,
        id_col="p_partkey",
    )


@oracle(lambda o: f"""
WITH pairs AS ({o["ngram_jaccard_neardup"]})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       max(p.jaccard) AS max_jaccard
FROM pairs p
JOIN documents da ON p.id_a = da.doc_id
JOIN documents db ON p.id_b = db.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
""")
def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PROVENANCE matrix: which source pairs share text-level
    near-dups (the "who is scraping whom" report a corpus curator runs
    before trusting source-level mixture weights). Composes the oracled
    bigram-Jaccard pair set with the doc->source dim, canonicalizes the
    unordered source pair, and aggregates integer counts + max jaccard
    (max is order-independent, unlike a float mean) -> bit-exact."""
    pairs = ngram_jaccard_pairs(load_table(spark, "documents", sf_dir), threshold=0.2)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
