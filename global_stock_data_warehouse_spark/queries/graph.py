"""Graph operators (``operators.graph``) over the part co-purchase graph
and the supplier-to-customer flow."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase graph with support >= 2 (shared by the graph
    queries): one groupBy(order) shuffle + map-side in-array pair
    expansion — no fact-table self-join."""
    from global_stock_data_warehouse_spark.operators.behavior import (
        sorted_array_pairs,
    )

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    # r13 NOTE: a pinned-wide keyed exchange on l_orderkey (fan_keyed) was
    # A/B-measured ~neutral on every graph consumer warm (k_core -0.02,
    # pagerank +0.09, triangle +0.02, link_prediction +0.02) — the raw-row
    # exchange cancels the wide-aggregate gain at this scale; left on the
    # AQE-managed plan.
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_structs = sorted_array_pairs(F.col("ps"), "src", "dst")
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .filter(F.col("n_cooccur") >= 2)
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (iterative peeling to the
    dense sub-network — the spam-ring/boilerplate trim). Greatest
    fixpoint, not SQL-recursive-CTE-expressible -> rows-only; brute-force
    peeling equivalence is property-tested in tests/test_graph.py."""
    from global_stock_data_warehouse_spark.operators.graph import k_core

    return k_core(_copurchase_edges(spark, sf_dir), k=3)


@oracle("""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
), e AS (
  SELECT CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN und.a ELSE und.b END AS u,
         CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN und.b ELSE und.a END AS v,
         CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN db.deg ELSE da.deg END AS dv
  FROM und
  JOIN deg da ON und.a = da.node
  JOIN deg db ON und.b = db.node
), tri AS (
  SELECT e1.u, e1.v AS v1, e2.v AS v2
  FROM e e1 JOIN e e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
  WHERE EXISTS (SELECT 1 FROM e c WHERE c.u = e1.v AND c.v = e2.v)
), corners AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v1 AS node FROM tri
    UNION ALL SELECT v2 AS node FROM tri
  ) GROUP BY node
)
SELECT node, n_triangles FROM corners
ORDER BY n_triangles DESC, node ASC
LIMIT 20
""")
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 triangle participants in the part co-purchase graph (parts
    co-occurring in >= 2 orders — the support threshold is the standard
    density control: the raw 1-co-occurrence graph is noise-dense, ~41M
    wedges at sf0.1, while support>=2 keeps the signal edges). Degree-
    ordered node-iterator (wedge volume bounded O(m^1.5), each triangle
    generated once at its lowest-ranked corner); integer counts ->
    bit-exact oracle."""
    from global_stock_data_warehouse_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir), k=20)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier->customer flow graph (who supplies
    whom, via lineitem x orders). Iterative join+agg rounds with
    dangling-mass conservation — rows-only (float fixpoint is
    sum-order-dependent across engines); property tests in
    tests/test_graph.py carry the correctness statement (uniform cycle,
    closed-form two-node fixpoint, mass conservation)."""
    from global_stock_data_warehouse_spark.operators.graph import pagerank

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    # distinct on the INT pair, namespace-prefix afterwards: the distinct
    # shuffles 16B keys instead of two strings (15.9 -> ~11 MB at sf0.1);
    # the concat is a map-side projection over the already-unique rows
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
    )
    ranks = pagerank(edges, max_iter=8, tol=1e-6)
    return ranks.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(50)


@oracle("""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), adj AS (
  SELECT a AS w, b AS n FROM und UNION ALL SELECT b AS w, a AS n FROM und
), cn AS (
  SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
  GROUP BY 1, 2 HAVING count(*) >= 2
), open_pairs AS (
  SELECT cn.* FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = cn.u AND und.b = cn.v)
), deg AS (
  SELECT w AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY w
)
SELECT u, v, common_neighbors, du.deg AS deg_u, dv.deg AS deg_v,
       round(CAST(common_neighbors AS DOUBLE)
             / CAST(du.deg + dv.deg - common_neighbors AS DOUBLE), 6) AS jaccard
FROM open_pairs
JOIN deg du ON u = du.node
JOIN deg dv ON v = dv.node
ORDER BY jaccard DESC, common_neighbors DESC, u ASC, v ASC
LIMIT 25
""")
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the part co-purchase graph:
    top-25 NON-adjacent part pairs by neighborhood Jaccard — the
    candidate-edge miner (Liben-Nowell & Kleinberg CIKM'03). Integer
    wedge counts + one rounded division -> bit-exact oracle. Scale
    caveats (hub wedge volume) documented on the operator."""
    from global_stock_data_warehouse_spark.operators.graph import link_prediction

    return link_prediction(_copurchase_edges(spark, sf_dir), k=25, min_common=2)
