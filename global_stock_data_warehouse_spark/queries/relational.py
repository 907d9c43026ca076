"""Single-table SQL core over Spark built-ins: filters, grouped and
global aggregates, ranking windows, cube/rollup, pivots, set operations
and distribution summaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.functions.buckets import month_end, week_ending_friday
from global_stock_data_warehouse_spark.functions.normalize import (
    canonical_id,
    status_flag,
    zero_pad,
)
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


@oracle("""
SELECT count(DISTINCT l_partkey) AS n_parts, max(l_shipdate) AS max_shipdate,
       count(*) AS n_rows FROM lineitem
""")
def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4: single-pass COUNT DISTINCT + MAX + COUNT(*) (main.py:118)."""
    return load_table(spark, "lineitem", sf_dir).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@oracle("""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       avg(l_quantity) AS avg_qty,
       avg(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-analog grouped multi-agg with arithmetic (TPC-H Q1 shape)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@oracle("""
SELECT p_partkey,
       upper(trim(p_brand)) AS brand_id,
       lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_code,
       split_part(p_type, ' ', 1) AS type_head
FROM part
WHERE p_size >= 4
  AND regexp_matches(p_brand, '^[A-Za-z0-9#]+$')
  AND NOT regexp_matches(upper(p_type), 'ANODIZED|BURNISHED')
""")
def q_filter_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P7 + F1/F2: predicate chain + canonicalization on part."""
    p = load_table(spark, "part", sf_dir)
    return (
        p.filter(
            (F.col("p_size") >= 4)
            & F.col("p_brand").rlike("^[A-Za-z0-9#]+$")
            & ~F.upper(F.col("p_type")).rlike("ANODIZED|BURNISHED")
        )
        .select(
            "p_partkey",
            canonical_id("p_brand").alias("brand_id"),
            zero_pad("p_size", 3).alias("size_code"),
            F.substring_index("p_type", " ", 1).alias("type_head"),
        )
    )


@oracle("""
SELECT o_orderpriority, rk, o_orderkey, o_totalprice
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders) WHERE rk <= 3
""")
def q_win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine op win_rank_topk: top-3 orders per priority by totalprice."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


@oracle("""
SELECT l_returnflag,
       max(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) = 1 AS any_deep_discount,
       max(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) = 1 AS any_nonpositive_qty
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_boolean_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-group boolean gates (any(cond)) as max(when)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("l_discount") > 0.08, 1).otherwise(0)).cast("boolean").alias("any_deep_discount"),
        F.max(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).cast("boolean").alias("any_nonpositive_qty"),
    )


# CAST(sum(...) AS BIGINT): DuckDB's integer sum() is HUGEINT, which
# pandas renders as float64 — the driver's value hash then mismatches
# Spark's bigint even when the numbers are equal
@oracle("""
SELECT o_orderpriority, total, finished, success_rate,
       CASE WHEN success_rate >= 30.0 THEN 'OK' ELSE 'WARN' END AS status
FROM (SELECT o_orderpriority, count(*) AS total,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished,
             round(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0 / count(*), 2)
               AS success_rate
      FROM orders GROUP BY o_orderpriority)
""")
def q_agg_groupwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+F10+F12: success counts, 2-dp rate, status flag per group."""
    o = load_table(spark, "orders", sf_dir)
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("finished"),
    )
    # multiply BEFORE dividing — (a*100.0)/b, matching the oracle's
    # expression order exactly; (a/b)*100 differs in the last ulp and the
    # driver's value hash is bit-exact
    agg = agg.withColumn("success_rate", F.round(F.col("finished") * 100.0 / F.col("total"), 2))
    return agg.withColumn("status", status_flag("success_rate", 30.0))


@oracle("""
SELECT o_orderkey,
       upper(trim(o_orderpriority)) AS prio_canon,
       lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
       split_part(o_orderpriority, '-', 1) AS prio_code,
       CAST(o_orderdate AS DATE) AS order_date,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
       round(o_totalprice / 7.0, 4) AS price_per_week,
       CAST(o_orderdate AS DATE)
         + CAST((5 - isodow(CAST(o_orderdate AS DATE)) + 7) % 7 AS INTEGER) AS week_end,
       last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
""")
def q_scalar_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F9: string/date/math scalar expressions in one projection."""
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.upper(F.trim(F.col("o_orderpriority"))).alias("prio_canon"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
        F.substring_index(F.col("o_orderpriority"), "-", 1).alias("prio_code"),
        F.to_date("o_orderdate").alias("order_date"),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("order_date_str"),
        F.round(F.col("o_totalprice") / 7.0, 4).alias("price_per_week"),
        week_ending_friday(F.to_date("o_orderdate")).alias("week_end"),
        month_end(F.to_date("o_orderdate")).alias("month_end"),
    )


@oracle("""
-- json_valid guard: DuckDB's json functions THROW on malformed/empty
-- JSON where Spark's get_json_object returns NULL — mirror the NULL
-- TRY_CAST: a non-numeric extracted value ('[1,2]') must NULL like
-- Spark's non-ANSI cast, not throw
SELECT TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                     THEN json_extract_string(props, '$.k') END AS BIGINT) AS k,
       count(*) AS n
FROM events GROUP BY 1
""")
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: JSON path extraction + grouped count on events.props."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@oracle("""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
""")
def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: global deterministic sort + limit."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10)
    )


@oracle("""
SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS ship_month,
       count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY 1
""")
def q_filter_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: partition-prunable date-range filter + monthly rollup."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1996-01-01"))
        .groupBy(F.trunc(F.to_date("l_shipdate"), "month").alias("ship_month"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )


@oracle("""
WITH per_cust AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT n_name AS nation, count(*) AS expected,
       CAST(sum(CASE WHEN n_orders IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS active,
       round(sum(CASE WHEN n_orders IS NOT NULL THEN 1 ELSE 0 END) * 100.0 / count(*), 2)
         AS coverage,
       CASE WHEN round(sum(CASE WHEN n_orders IS NOT NULL THEN 1 ELSE 0 END) * 100.0
                       / count(*), 2) >= 80.0 THEN 'OK' ELSE 'WARN' END AS status
FROM customer
LEFT JOIN per_cust ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""")
def q_summary_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_db_summary composite (A1-A4+A6+F12): per-nation coverage report."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    joined = c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
    agg = (
        joined.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("expected"),
            F.sum(F.when(F.col("n_orders").isNotNull(), 1).otherwise(0)).alias("active"),
        )
    )
    # (a*100.0)/b to match the oracle's expression order bit-exactly
    agg = agg.withColumn("coverage", F.round(F.col("active") * 100.0 / F.col("expected"), 2))
    return agg.withColumn("status", status_flag("coverage", 80.0))


@oracle("""
SELECT coalesce(n_name, '(all)') AS nation,
       coalesce(c_mktsegment, '(all)') AS segment,
       count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal,
       GROUPING(n_name, c_mktsegment) AS gid
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, c_mktsegment)
-- empty-input mirror: ANSI CUBE emits the () grand-total row (count 0)
-- even over zero rows, Spark's cube() emits nothing — align on Spark
HAVING count(*) > 0
""")
def q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over nation x mktsegment with grouping_id —
    map-side partial agg + one shuffle; Catalyst expands the sets."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"), "c_acctbal"
    )
    return (
        joined.cube("nation", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.grouping_id().alias("gid"),
        )
        # sentinel instead of NULL grouping cells: drivers' order-insensitive
        # hashers often can't totally order NULLs; gid still disambiguates
        .select(
            F.coalesce("nation", F.lit("(all)")).alias("nation"),
            F.coalesce("segment", F.lit("(all)")).alias("segment"),
            "n_customers",
            "sum_acctbal",
            "gid",
        )
    )


@oracle("""
WITH both_k AS (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT ALL SELECT s_nationkey FROM supplier
), only_c AS (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL SELECT s_nationkey FROM supplier
), uni AS (
  SELECT DISTINCT nationkey FROM (
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL SELECT s_nationkey FROM supplier)
), tagged AS (
  SELECT 'intersect' AS op, nationkey FROM both_k
  UNION ALL SELECT 'except' AS op, nationkey FROM only_c
  UNION ALL SELECT 'union' AS op, nationkey FROM uni
)
SELECT op, nationkey, count(*) AS n FROM tagged GROUP BY op, nationkey
""")
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation battery: INTERSECT ALL / EXCEPT ALL multiset semantics
    plus U1+U2 (union frames then distinct keys, downloader_tw.py:47-76
    intent), tagged and unioned into one checked result."""
    c = load_table(spark, "customer", sf_dir).select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, "supplier", sf_dir).select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersectAll(s).withColumn("op", F.lit("intersect"))
    only_c = c.exceptAll(s).withColumn("op", F.lit("except"))
    uni = c.unionByName(s).distinct().withColumn("op", F.lit("union"))
    return (
        both.unionByName(only_c)
        .unionByName(uni)
        .groupBy("op", "nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# count(*) FILTER returns BIGINT, matching Spark's pivot-count type
# (sum(CASE) would be HUGEINT -> float64 in the driver's comparison)
@oracle("""
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'F') AS n_f,
       count(*) FILTER (o_orderstatus = 'O') AS n_o,
       count(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
""")
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list (no extra distinct-scan job):
    order counts per priority x status."""
    o = load_table(spark, "orders", sf_dir)
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )


@oracle("""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(stddev_samp(l_discount), 6) AS sd_discount,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(median(l_extendedprice), 6) AS median_price,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
FROM lineitem GROUP BY l_returnflag
""")
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: correlation, sample stddev/variance, exact
    interpolated median and p75 per group."""
    li = load_table(spark, "lineitem", sf_dir)
    # one percentile(col, array(...)) = one sort-agg for both quantiles,
    # instead of separate median + percentile sort-aggregates
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            pcts.alias("_pcts"),
        )
        .select(
            "l_returnflag",
            "corr_qty_price",
            "sd_discount",
            "var_qty",
            F.round(F.col("_pcts")[0], 6).alias("median_price"),
            F.round(F.col("_pcts")[1], 6).alias("p75_price"),
        )
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 scale path: HyperLogLog++ approx distinct vs exact, per
    returnflag (sketch-based -> rows-only check, no SQL oracle)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@oracle("""
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
       round(quantile_cont(o_totalprice, 0.5), 6) AS q50,
       round(quantile_cont(o_totalprice, 0.75), 6) AS q75,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (25/50/75) of order value — the
    distribution-profile query every warehouse monitoring page runs.
    EXACT `percentile` (sort-based within group) for oracle parity; the
    100 TB path swaps in `approx_percentile` (one-pass sketch, map-side
    combinable) — same query shape, bounded memory."""
    orders = load_table(spark, "orders", sf_dir)
    # one percentile(col, array(...)) per group: all three order
    # statistics from a single per-group digest instead of three
    qs = F.percentile(
        "o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(qs.alias("_qs"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderpriority",
            F.round(F.col("_qs")[0], 6).alias("q25"),
            F.round(F.col("_qs")[1], 6).alias("q50"),
            F.round(F.col("_qs")[2], 6).alias("q75"),
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


@oracle("""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, source ASC) - 1 AS INTEGER)
         AS source_id,
       source, n_docs
FROM counts
""")
def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contiguous surrogate keys for a dimension: distinct
    sources ranked by (doc count DESC, source ASC) — a total order, so
    ids are stable across runs and engines (monotonically_increasing_id
    is neither contiguous nor rerun-stable; this is the warehouse-grade
    alternative). The rank window runs over one-row-per-distinct-value."""
    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.orderBy(F.col("n_docs").desc(), F.col("source").asc())
    return counts.select(
        (F.row_number().over(w) - 1).alias("source_id"), "source", "n_docs"
    )


@oracle("""
WITH bounds AS (
  SELECT quantile_cont(o_totalprice, 0.1) AS b1,
         quantile_cont(o_totalprice, 0.2) AS b2,
         quantile_cont(o_totalprice, 0.3) AS b3,
         quantile_cont(o_totalprice, 0.4) AS b4,
         quantile_cont(o_totalprice, 0.5) AS b5,
         quantile_cont(o_totalprice, 0.6) AS b6,
         quantile_cont(o_totalprice, 0.7) AS b7,
         quantile_cont(o_totalprice, 0.8) AS b8,
         quantile_cont(o_totalprice, 0.9) AS b9
  FROM orders
)
SELECT (CAST(o_totalprice > b1 AS INTEGER) + CAST(o_totalprice > b2 AS INTEGER)
      + CAST(o_totalprice > b3 AS INTEGER) + CAST(o_totalprice > b4 AS INTEGER)
      + CAST(o_totalprice > b5 AS INTEGER) + CAST(o_totalprice > b6 AS INTEGER)
      + CAST(o_totalprice > b7 AS INTEGER) + CAST(o_totalprice > b8 AS INTEGER)
      + CAST(o_totalprice > b9 AS INTEGER)) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM orders, bounds
GROUP BY 1
""")
def q_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order value: boundaries from
    exact interpolated percentiles (order statistics — identical IEEE
    interpolation both engines), then a map-only bucket assignment by
    value comparison (deterministic, unlike ntile over a non-unique
    order). Two passes: one tiny percentile agg broadcast back, one
    bucket count."""
    o = load_table(spark, "orders", sf_dir).select("o_totalprice")
    probs = [i / 10.0 for i in range(1, 10)]
    # ONE percentile aggregate over the array of probabilities: all nine
    # order statistics come from a single value-counts digest (nine
    # separate percentile() aggs each rebuild that digest — measured ~2.5x
    # slower); the array is unpacked into scalar bound columns after.
    bounds = o.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(p) for p in probs])).alias("bs")
    ).select(*[F.col("bs")[i].alias(f"b{i + 1}") for i in range(len(probs))])
    j = o.crossJoin(F.broadcast(bounds))
    bucket = sum(
        (F.col("o_totalprice") > F.col(f"b{i}")).cast("int") for i in range(1, 10)
    )
    return (
        j.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@oracle("""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""")
def q_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank windows (percent_rank + cume_dist) of order
    value within each priority class — orderkey tiebreak makes both
    order-sensitive functions engine-exact. One window shuffle over the
    orders table."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
