"""Embedding similarity (``operators.similarity``): exact and approximate
top-k, near-duplicate pairs, centroids, quantization, k-means and PCA.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.similarity import (
    brute_force_topk,
    class_centroids,
    embedding_neardup,
    embedding_neardup_lsh,
    ivf_topk,
    lsh_topk,
    quantize_embeddings,
)
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


@oracle("""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qvec, e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6)
           AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, rank, neighbor_id, cosine_sim
FROM (SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
""")
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 8 vectors as queries."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return brute_force_topk(emb, queries_df, k=5)


def q_ann_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection (64 -> 16 dims) then brute-force cosine top-5
    on the COMPRESSED vectors — the standard memory/recall trade for ANN
    at scale (4x smaller vectors, one map-only Arrow pass; the seeded
    projection matrix is rebuilt per task, nothing broadcast).
    Approximate by construction -> rows-only; the distance-preservation
    property test carries correctness."""
    from global_stock_data_warehouse_spark.operators.similarity import (
        random_projection,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    low = random_projection(emb, out_dim=16)
    # project the pre-filtered query frame separately: the projection is
    # row-wise/deterministic, so this is identical to filtering `low` but
    # avoids running the full-corpus projection a second time just to
    # collect 8 query rows (the filter can't push below mapInPandas)
    queries_df = random_projection(emb.filter(F.col("vec_id") < 8), out_dim=16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return brute_force_topk(low, queries_df, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (scale path; rows-only check)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return lsh_topk(emb, queries_df, dim=64, k=5, planes=6)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5: sample-trained coarse quantizer, probe 4 of 16 cells
    (~25% scan fraction; rows-only check)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivf_topk(emb, queries_df, k=5, n_cells=16, n_probe=4)


@oracle("""
SELECT id_a, id_b, cosine_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
           AS cosine_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
WHERE cosine_sim >= 0.4
""")
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, auto-dispatched by corpus size
    (planner-stats count probe): below exact_max_docs it runs the EXACT
    blocked all-pairs path with n_blocks derived from the count, fully
    distributed (hash-block x block-pair groups, one BLAS matmul each —
    no driver collect, no whole-corpus broadcast); above it, the
    sub-quadratic LSH candidates+verify path. At oracle scale this always
    resolves to exact, so the DuckDB comparison stays bit-exact."""
    return embedding_neardup(load_table(spark, "embeddings", sf_dir), threshold=0.4)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic scale path: multi-table LSH candidates + exact cosine
    verify (approximate recall by design -> rows-only check)."""
    return embedding_neardup_lsh(
        load_table(spark, "embeddings", sf_dir), threshold=0.4, dim=64, planes=6, tables=4
    )


@oracle("""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 = 0
), tr AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 != 0
), scored AS (
  SELECT tr.vec_id, ev.eval_id,
         round(list_dot_product(tr.v, ev.v)
               / (sqrt(list_dot_product(tr.v, tr.v))
                  * sqrt(list_dot_product(ev.v, ev.v))), 6) AS c
  FROM tr CROSS JOIN ev
)
SELECT vec_id, eval_id AS nearest_eval_id, c AS max_cosine,
       c >= 0.3 AS contaminated
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY c DESC, eval_id ASC) AS rn
      FROM scored)
WHERE rn = 1
ORDER BY vec_id
""")
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (embedding-space) decontamination: every train vector
    (vec_id % 20 != 0) scored by max cosine against the eval split
    (vec_id % 20 == 0) — broadcast eval matrix, ONE map-only Arrow pass,
    zero shuffle. The semantic twin of q_decontaminate's n-gram check."""
    from global_stock_data_warehouse_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        threshold=0.3,
    ).orderBy("vec_id")


@oracle("""
SELECT label, i AS dim,
       round(sum(CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000, 0) AS BIGINT))
             / (count(*) * 1000000.0), 6) AS centroid,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
GROUP BY label, dim
ORDER BY label, dim
""")
def q_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (long format), fixed-point BIGINT
    accumulation so float sum order can't drift between engines."""
    return class_centroids(load_table(spark, "embeddings", sf_dir))


@oracle("""
WITH dims AS (
  SELECT vec_id, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
), stats AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM dims GROUP BY dim
)
SELECT d.vec_id, d.dim,
       CAST(CASE WHEN s.hi = s.lo THEN 0
                 ELSE floor((d.v - s.lo) / (s.hi - s.lo) * 255 + 0.5)
            END AS INT) AS code
FROM dims d JOIN stats s USING (dim)
ORDER BY d.vec_id, d.dim
""")
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global per-dim min/max int8 scalar quantization (SQ-compressed ANN
    prep); floor(x+0.5) tie-break, integral codes -> bit-exact."""
    return quantize_embeddings(load_table(spark, "embeddings", sf_dir))


@oracle("""
WITH dims AS (
  SELECT vec_id, label, i AS dim,
         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS fxv
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
), cents AS (
  SELECT label, dim,
         CAST(round(round(sum(fxv) / (count(*) * 1000000.0), 6) * 1000000, 0) AS BIGINT) AS fxc
  FROM dims GROUP BY label, dim
), dist2 AS (
  SELECT d.vec_id, d.label,
         CAST(sum((d.fxv - c.fxc) * (d.fxv - c.fxc)) AS BIGINT) AS dist2_fx
  FROM dims d JOIN cents c ON d.label = c.label AND d.dim = c.dim
  GROUP BY d.vec_id, d.label
)
SELECT vec_id, label, round(sqrt(dist2_fx) / 1000000.0, 6) AS dist
FROM dist2
ORDER BY dist DESC, vec_id ASC
LIMIT 25
""")
def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 vectors farthest from their own class centroid (cleanlab-
    style label-noise audit). Distance is integer arithmetic in the
    shared fixed-point space -> bit-exact; only the final sqrt/scale is
    float (IEEE-deterministic)."""
    from global_stock_data_warehouse_spark.operators.similarity import (
        centroid_outliers,
    )

    return centroid_outliers(load_table(spark, "embeddings", sf_dir), k=25)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means cells + within-cell greedy cosine dedup
    (min-id representative kept). Approximate by construction (clustered
    recall) -> rows-only; property/recall tests in
    tests/test_dedup_similarity.py carry the correctness statement."""
    from global_stock_data_warehouse_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        load_table(spark, "embeddings", sf_dir), threshold=0.97, n_cells=16
    ).orderBy("vec_id")


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-corpus spherical k-means (Lloyd) assignments (r6): every
    vector labeled, not just a sample-trained quantizer. Deterministic
    (hash-ordered seeds, fixed-point int64 centroid accumulation,
    first-max argmax ties) but iterative -> rows-only; the distributed
    rounds are bit-equivalence-tested against the driver loop in
    tests/test_kmeans.py."""
    from global_stock_data_warehouse_spark.operators.similarity import kmeans

    return kmeans(
        load_table(spark, "embeddings", sf_dir), k=8, n_iter=10
    ).orderBy("vec_id")


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving selection (r6): full-corpus k-means + md5-order
    per-cluster quotas — cap every semantic cluster at 32 survivors so no
    dense embedding region dominates the mix. Rows-only (kmeans is
    iterative); both stages individually equivalence/oracle-tested."""
    from global_stock_data_warehouse_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    return cluster_balanced_sample(
        load_table(spark, "embeddings", sf_dir), per_cluster=32, k=8, n_iter=10
    ).orderBy("vec_id")


@oracle("""
WITH stream AS (
  SELECT unnest(range(0, len(embedding))) AS dim,
         unnest(embedding) AS x
  FROM embeddings
), q AS (
  SELECT dim, CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
  FROM stream
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(q) AS BIGINT) AS sum_fx,
       CAST(sum(q * q) AS BIGINT) AS sumsq_fx
FROM q GROUP BY dim ORDER BY dim
""")
def q_embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension fixed-point moments of the embedding corpus (r6):
    n, sum and sum-of-squares of floor(x*1e6 + 0.5) as exact BIGINTs —
    the distributed half of PCA (`pca_fit`'s moment pass) expressed in
    oracle-able form, so the cross-engine exactness of integer moment
    accumulation gets a driver-grade hash row (the eigensolve on top
    stays rows-only in pca_variance, correctly). Quantized in DOUBLE
    with the floor(+0.5) idiom every fx twin here uses."""
    fx = F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
    return (
        load_table(spark, "embeddings", sf_dir)
        .select(F.posexplode("embedding").alias("dim", "x"))
        .select(F.col("dim").cast("bigint").alias("dim"), fx.alias("q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sum_fx"),
            F.sum(F.col("q") * F.col("q")).alias("sumsq_fx"),
        )
        .orderBy("dim")
    )


def q_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA explained-variance report over the embeddings table (r6): ONE
    exact distributed moment pass (per-batch int64 Gram partials, d^2+d+1
    rows per batch, aggregated as DECIMAL(38,0) — bit-identical under any
    partitioning), then a driver-side (d x d) eigendecomposition.
    Rows-only (eigensolve is LAPACK territory); moment exactness,
    driver-reference equivalence, orthonormality, low-rank recovery, and
    repartition determinism are tested in tests/test_pca.py."""
    from global_stock_data_warehouse_spark.operators.similarity import pca_variance

    return pca_variance(load_table(spark, "embeddings", sf_dir), k=8)
