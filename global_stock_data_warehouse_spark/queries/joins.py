"""Joins and TPC-H-style multi-table queries (``operators.joins``,
``operators.skew``): broadcast/anti/semi/range joins, correlated
subqueries as joins, and revenue reports in integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.joins import (
    anti_missing,
    broadcast_lookup,
    range_join,
    semi_active,
)
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


def _cents(col: F.Column, scale: int = 10000) -> F.Column:
    """Fixed-point bigint encoding of a money expression. Sums of bigints
    are exact and order-independent, so ratios/totals derived from them
    hash bit-identically across Spark and DuckDB regardless of partial-agg
    ordering (the same trick q_market_share uses)."""
    return F.round(col * scale, 0).cast("bigint")


@oracle("""
SELECT c_custkey, coalesce(n_name, c_mktsegment, 'Unknown') AS nation
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
""")
def q_join_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast dim lookup + coalesce default (KR industry join)."""
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation_name")
    )
    out = broadcast_lookup(
        cust,
        nation,
        on="c_nationkey",
        coalesce_cols={"nation": ("nation_name", "c_mktsegment", "Unknown")},
    )
    return out.select("c_custkey", "nation")


@oracle("""
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q_join_facts_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: fact x dim equi-join + grouped rollup (orders x customer)."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


@oracle("""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""")
def q_join_anti_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with zero orders (coverage/fail_list)."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    o = load_table(spark, "orders", sf_dir).select(F.col("o_custkey").alias("c_custkey"))
    return anti_missing(c, o, "c_custkey")


@oracle("""
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
""")
def q_join_semi_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: suppliers with at least one lineitem."""
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    li = load_table(spark, "lineitem", sf_dir).select(F.col("l_suppkey").alias("s_suppkey"))
    return semi_active(s, li, "s_suppkey")


@oracle("""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""")
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way selective join + grouped revenue + top-10.
    Filters reach every scan (pushdown); AQE picks join strategy; the
    top-k is a TakeOrderedAndProject, not a global sort."""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > F.lit("1997-01-01"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@oracle("""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""")
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join through the region/nation snowflake with
    the customer-nation == supplier-nation constraint, grouped revenue."""
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n = load_table(spark, "nation", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@oracle("""
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey)
""")
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part 0.2*avg qty)
    decorrelated into a grouped agg + join. The selective brand filter is
    applied BEFORE the per-part average (semi-join pushdown): the avg is
    computed only over the ~1/25th of lineitem that can matter, and both
    the part dim and the tiny avg table broadcast."""
    p = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    avgq = li_b.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li_b.join(F.broadcast(avgq), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@oracle("""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-HAVING semi-join (orders whose total quantity
    exceeds 250) re-joined to customer + orders + lineitem, top-100 by
    price. The HAVING aggregate runs map-side-partial on l_orderkey; the
    surviving key set is tiny and broadcasts into the main join; ordering
    tie-broken by unique o_orderkey for determinism."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@oracle("""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders in a 3-month window
    having at least one LATE lineitem — a correlated EXISTS. The synthetic
    lineitem has no commit/receipt dates, so "late" is a cross-table range
    predicate (shipped >30 days after order date), which is STRICTLY
    harder than Q4's own lineitem-local predicate: the semi-join carries
    an equi key (orderkey) plus a range condition evaluated inside the
    join. Plan: the date window prunes orders first (partition-prunable at
    rest), the LEFT SEMI join stops probing an order at its first late
    line (no fan-out, no distinct), and the final 5-group count is
    map-side partial."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@oracle("""
SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the classic EXISTS + NOT EXISTS double
    self-join — DECORRELATED to aggregation: per (order, supplier) dedup,
    then one per-order agg computes supplier count, late-supplier count,
    and the sole late supplier; "supplier kept everyone waiting" =
    (n_supp > 1 AND n_late == 1). Counts distinct orders per supplier.

    vs the textbook plan: four scans of lineitem and two correlated
    subquery joins collapse into ONE lineitem scan, a (order, supplier)
    pre-aggregation that shrinks before the per-order agg (no Expand from
    dual count-distinct), and a broadcast dim join for the supplier name.
    "Late" = shipped >60 days after order date (the synthetic lineitem has
    no commit/receipt dates; reference shape preserved, predicate
    adapted)."""
    from global_stock_data_warehouse_spark.operators.skew import fan_keyed

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    # parallelism floor on the join key (r13; guide §2.5): the join, the
    # (order, supplier) dedup aggregate, and the per-order aggregate all
    # cluster on l_orderkey, so ONE pinned-wide exchange (AQE coalesces
    # the tiny-bytes shuffle to 1-3 compute-heavy tasks otherwise) serves
    # all three; structural no-op at scale (fan_keyed guard). Integer
    # counts/max only -> identical under any partitioning. A/B-measured
    # 2.10 -> 1.49 s warm at sf0.1.
    li = fan_keyed(li, "l_orderkey")
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
                .cast("int")
            ).alias("is_late")
        )
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    qual = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        qual.join(F.broadcast(s), qual.late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@oracle("""
WITH asia_cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), supp_nat AS (
  SELECT s_suppkey, n_name AS supp_nation FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT year(o_orderdate) AS yr,
       round(sum(CASE WHEN supp_nation = 'NATION_3'
                      THEN CAST(round(l_extendedprice*(1-l_discount)*10000, 0) AS BIGINT)
                      ELSE 0 END)
             / CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000, 0) AS BIGINT)) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN asia_cust ON o_custkey = c_custkey
JOIN supp_nat ON l_suppkey = s_suppkey
GROUP BY 1
ORDER BY yr
""")
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of yearly revenue from
    sales into one region — a 6-way snowflake join (fact -> orders ->
    customer -> nation -> region filter; fact -> supplier -> nation) with
    a CONDITIONAL-aggregate ratio. All five dims broadcast; the fact table
    shuffles once for the year grouping. Revenue is fixed-point
    (round(x*10000) bigint sums) so both numerator and denominator are
    order-independent integers — the share division is then bit-stable
    across engines."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    cust_nat = c.join(
        F.broadcast(n.select("n_nationkey", "n_regionkey")),
        c.c_nationkey == F.col("n_nationkey"),
    ).join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA").select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("c_custkey")
    supp_nat = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_nat), o.o_custkey == cust_nat.c_custkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev_cents).otherwise(F.lit(0))).alias("_num"),
            F.sum(rev_cents).alias("_den"),
        )
        .select(
            "yr",
            F.round(F.col("_num") / F.col("_den"), 6).alias("mkt_share"),
        )
        .orderBy("yr")
    )


@oracle("""
SELECT o_orderkey,
       count(*) AS n_shipments,
       round(sum(l_quantity), 2) AS sum_qty
FROM orders o
JOIN lineitem l
  ON l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o_orderkey
""")
def q_range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join at scale: shipments whose ship date falls in the
    7-day window after an URGENT order. Bucketized equi-join (one bucket
    per point, interval exploded to overlapped buckets) + residual range
    predicate — never a nested-loop theta join."""
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("_end"),
        )
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_shipdate", "l_quantity")
    # Decisive scale move: the join predicate AND both outputs depend only
    # on l_shipdate, so the fact side pre-aggregates LOSSLESSLY to one row
    # per ship day (count + qty sum; quantities are integral, so partial
    # sums are exact) BEFORE the interval join. Candidate pairs shrink from
    # |lineitem| x overlap to |distinct days| x overlap — at 100 TB the
    # join input is calendar-sized, not fact-sized. A min/max bound from
    # the (already filtered) interval set prunes days outside any window.
    daily = li.groupBy("l_shipdate").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("l_quantity").alias("_q")
    )
    bounds = o.agg(F.min("o_orderdate").alias("_lo"), F.max("_end").alias("_hi"))
    daily = daily.join(
        F.broadcast(bounds),
        (F.col("l_shipdate") >= F.col("_lo")) & (F.col("l_shipdate") < F.col("_hi")),
    ).drop("_lo", "_hi")
    return (
        range_join(daily, o, "l_shipdate", "o_orderdate", "_end", bucket_seconds=86400)
        .groupBy("o_orderkey")
        .agg(
            F.sum("_n").alias("n_shipments"),
            F.round(F.sum("_q"), 2).alias("sum_qty"),
        )
    )


@oracle("""
WITH per AS (
  SELECT l_partkey, l_suppkey,
         floor(sum(round(l_extendedprice * 100, 0)) / count(*) + 0.5) / 100.0 AS avg_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT l_partkey,
       first(l_suppkey ORDER BY avg_price, l_suppkey) AS best_suppkey,
       first(avg_price ORDER BY avg_price, l_suppkey) AS best_price,
       CAST(count(*) AS BIGINT) AS n_suppliers
FROM per
GROUP BY l_partkey
ORDER BY l_partkey
LIMIT 500
""")
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the supplier offering the lowest average
    price. The correlated-min subquery decorrelates into ONE grouped agg +
    `min_by` over a struct with a deterministic (price, suppkey) tiebreak
    — no self-join, no window over the whole fact table."""
    li = load_table(spark, "lineitem", sf_dir)
    # fixed-point average: prices are exact 2dp quantities, so the cent
    # sum is an exact integer double (order-independent) and
    # floor(sum/n + 0.5) rounds deterministically — round(avg(), 2)
    # sat on a half-cent boundary at sf0.001 and flipped its last digit
    # between engines on summation-order ulps
    cents = F.round(F.col("l_extendedprice") * 100, 0)
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.floor(F.sum(cents) / F.count(F.lit(1)) + 0.5) / 100.0
        ).alias("avg_price")
    )
    best = per.groupBy("l_partkey").agg(
        F.min_by(
            F.struct("avg_price", "l_suppkey"), F.struct("avg_price", "l_suppkey")
        ).alias("b"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    return (
        best.select(
            "l_partkey",
            F.col("b.l_suppkey").alias("best_suppkey"),
            F.col("b.avg_price").alias("best_price"),
            "n_suppliers",
        )
        .orderBy("l_partkey")
        .limit(500)
    )


@oracle("""
WITH rev AS (
  SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
), t AS (SELECT sum(rev) AS total FROM rev),
shares AS (
  SELECT n_name, round(rev, 2) AS revenue,
         round(rev * 100.0e0 / total, 4) AS share_pct
  FROM rev, t
)
SELECT n_name, revenue, share_pct FROM shares
WHERE share_pct > 3.0
ORDER BY share_pct DESC, n_name
""")
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: revenue by supplier nation, kept only when its
    share of GLOBAL revenue clears a threshold. The scalar global total is
    a single-row agg broadcast back over the per-nation rows (no second
    scan of the fact side; the share predicate is decorrelated)."""
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    # global total as a window over the PER-NATION aggregate (|nations|
    # rows — a deliberate single-partition window over a tiny frame):
    # avoids re-executing the fact-side join+agg subtree that a separate
    # scalar agg + cross join would duplicate in the static plan
    total = F.sum("rev").over(Window.partitionBy())
    return (
        rev.withColumn("share_pct", F.round(F.col("rev") * 100.0 / total, 4))
        .filter(F.col("share_pct") > 3.0)
        .select("n_name", F.round("rev", 2).alias("revenue"), "share_pct")
        .orderBy(F.col("share_pct").desc(), "n_name")
    )


@oracle("""
WITH a AS (SELECT avg(c_acctbal) AS avg_bal FROM customer),
dormant AS (
  SELECT c.* FROM customer c, a
  WHERE c.c_acctbal > a.avg_bal
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS total_balance
FROM dormant
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""")
def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    URGENT order — scalar-subquery threshold (single-row broadcast) +
    anti-join with the filter PUSHED BELOW it (the match set shrinks
    before the join, never after), grouped by market segment."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    avg_bal = cust.agg(F.avg("c_acctbal").alias("avg_bal"))
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


@oracle("""
SELECT round(sum(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) / 10000.0, 4)
         AS revenue_delta,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24
""")
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-scan predicate-pushdown aggregate — the
    year/discount/quantity filters must reach the parquet reader
    (PushedFilters) and the whole query is one WholeStageCodegen span
    with a map-side partial sum. Fixed-point sum for cross-engine
    stability."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 10000.0, 4
        ).alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@oracle("""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 4)
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""")
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nations by ship year.
    Both nation maps broadcast; the only shuffle of the fact table is the
    lineitem->orders join + final tiny group. The symmetric pair filter
    ((N1,N2) or (N2,N1)) is applied as soon as both nations are bound."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    s = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    )
    c = (
        load_table(spark, "customer", sf_dir)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 10000.0,
                4,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@oracle("""
SELECT sn.n_name AS supp_nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
       round(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                             - p.p_retailprice * 0.6 * l.l_quantity) * 10000, 0) AS BIGINT)) / 10000.0, 4)
         AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
ORDER BY 1 ASC, 2 DESC
""")
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name-filtered product line. No partsupp table in this schema, so
    supply cost is modeled as 60% of p_retailprice (fixed deterministic
    proxy). The selective part filter broadcasts into the fact scan
    BEFORE the big lineitem->orders join, shrinking the shuffle."""
    p = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_name").contains("gear"))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    s = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    amount = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.6 * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg(F.round(F.sum(amount) / 10000.0, 4).alias("profit"))
        .orderBy("supp_nation", F.col("order_year").desc())
    )


@oracle("""
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 4)
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""")
def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. Orders carries the date filter; the R-flag filter rides the
    lineitem scan; customer+nation broadcast; deterministic (revenue DESC,
    custkey) TakeOrderedAndProject instead of a global sort."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 10000.0,
                4,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@oracle("""
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
""")
def q_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode -> linestatus adapted to this schema):
    per line status, how many 1997-shipped lines belong to high- vs
    low-priority orders — the canonical conditional-count (CASE WHEN
    inside SUM) pattern, one fact shuffle for the join, map-side partials
    for the 2-row group."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_linestatus")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@oracle("""
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN (SELECT o_orderkey, o_custkey FROM orders
                   WHERE o_orderpriority <> '4-NOT SPECIFIED') o
    ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers — a left outer join whose unmatched
    side must survive into count(o_orderkey)=0, then a second tiny
    aggregation over the per-customer counts."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@oracle("""
WITH j AS (
  SELECT CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT) AS rev,
         p.p_type
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
)
SELECT round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) * 100.0 / sum(rev), 6)
         AS promo_share_pct,
       round(sum(rev) / 10000.0, 4) AS total_revenue
FROM j
""")
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue from PROMO
    parts. Part dim broadcasts; numerator and denominator are exact
    bigint sums in ONE aggregate pass, so the ratio is bit-stable."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias("_num"),
            F.sum(rev).alias("_den"),
        )
        .select(
            F.round(F.col("_num") * 100.0 / F.col("_den"), 6).alias("promo_share_pct"),
            F.round(F.col("_den") / 10000.0, 4).alias("total_revenue"),
        )
    )


@oracle("""
WITH per_supp AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, round(ps.rev_cents / 10000.0, 4) AS total_revenue
FROM per_supp ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
WHERE ps.rev_cents = (SELECT max(rev_cents) FROM per_supp)
ORDER BY s.s_suppkey
""")
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue —
    the correlated `rev = (SELECT max(...))` decorrelates into a window
    max over the tiny per-supplier aggregate (|suppliers| rows), never a
    second scan of the fact table. Exact bigint revenue makes the
    max-equality tie semantics identical across engines."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "rev_cents"
        )
    )
    max_rev = F.max("rev_cents").over(Window.partitionBy())
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        per_supp.withColumn("_max", max_rev)
        .filter(F.col("rev_cents") == F.col("_max"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_cents") / 10000.0, 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@oracle("""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
LIMIT 100
""")
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute combo,
    excluding flagged suppliers via NOT IN -> left ANTI join (pushed below
    the distinct). The part-supplier association comes from lineitem
    (no partsupp table in this schema); the brand/size filters broadcast
    with the part dim."""
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = load_table(spark, "supplier", sf_dir).filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    assoc = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
    )
    return (
        assoc.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(100)
    )


@oracle("""
SELECT round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 4)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
""")
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    branches. The disjunction references both sides of the join, so it
    evaluates post-join — but the IMPLIED union of the per-branch part
    filters (brand IN ..., size ranges) is applied to the broadcast part
    dim up front, the classic Q19 pre-filter derivation."""
    p = load_table(spark, "part", sf_dir).filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 35)
    ).select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 10000.0,
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@oracle("""
WITH per_ps AS (
  SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_type = 'PROMO'
  GROUP BY 1, 2
), dominant AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT l_suppkey, qty,
               sum(qty) OVER (PARTITION BY l_partkey) AS total,
               count(*) OVER (PARTITION BY l_partkey) AS nsupp
        FROM per_ps)
  WHERE qty * nsupp > 2.5 * total
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s.s_suppkey
""")
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the correlated `qty > 0.5 * (SELECT sum ...)`
    threshold decorrelates into a window total over the per-(part,supp)
    aggregate — partitioned by part, so it scales with the widest part,
    not the table. Suppliers shipping a majority of any PROMO part's
    volume semi-join into the supplier dim (distinct BEFORE the join)."""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey", "l_quantity")
    per_ps = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    # "ships more than 2.5x the average supplier's volume of that part" —
    # same correlated-threshold shape as Q20's availqty > 0.5*sum(qty),
    # calibrated to this data's near-uniform part-supplier fan-out
    dominant = (
        per_ps.withColumn("_total", F.sum("qty").over(w))
        .withColumn("_nsupp", F.count(F.lit(1)).over(w))
        .filter(F.col("qty") * F.col("_nsupp") > 2.5 * F.col("_total"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return (
        s.join(F.broadcast(dominant), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@oracle("""
SELECT l_returnflag,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price,
       CAST(count(l_quantity) AS BIGINT) AS n_lines,
       max(l_quantity) AS max_qty,
       min(l_quantity) AS min_qty
FROM lineitem GROUP BY l_returnflag
""")
def q_salted_flag_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the two-phase salted plan: lineitem
    grouped by l_returnflag (3 values — every partial funnels through 3
    reducers unsalted). salted_agg spreads phase 1 over (key, salt)
    reducers and merges factor rows per key in phase 2 — identical
    results to the plain GROUP BY (the oracle IS the unsalted form).
    Fixed-point sums keep the merge exact."""
    from global_stock_data_warehouse_spark.operators.skew import salted_agg

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        _cents(F.col("l_extendedprice"), 100).alias("cents"),
        "l_quantity",
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        [
            ("cents", "sum", "sum_cents"),
            ("l_quantity", "count", "n_lines"),
            ("l_quantity", "max", "max_qty"),
            ("l_quantity", "min", "min_qty"),
        ],
    )
    return out.select(
        "l_returnflag",
        (F.col("sum_cents") / 100.0).alias("sum_price"),
        "n_lines",
        "max_qty",
        "min_qty",
    )


@oracle("""
WITH lat AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       min(lat) AS min_days,
       round(quantile_cont(lat, 0.5), 4) AS p50,
       round(quantile_cont(lat, 0.9), 4) AS p90,
       round(quantile_cont(lat, 0.99), 4) AS p99,
       max(lat) AS max_days
FROM lat GROUP BY o_orderpriority
""")
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order->ship latency distribution per priority: exact interpolated
    percentiles (order statistics — identical IEEE interpolation on both
    engines) over integer day gaps; one fact co-partitioned join + one
    grouped percentile pass."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate", "o_orderpriority")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lat"),
    )
    # single per-group percentile digest for all three points
    ps = F.percentile("lat", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lat").alias("min_days"),
            ps.alias("_ps"),
            F.max("lat").alias("max_days"),
        )
        .select(
            "o_orderpriority",
            "n",
            "min_days",
            F.round(F.col("_ps")[0], 4).alias("p50"),
            F.round(F.col("_ps")[1], 4).alias("p90"),
            F.round(F.col("_ps")[2], 4).alias("p99"),
            "max_days",
        )
    )


@oracle("""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(round(l_quantity, 0)) AS BIGINT) AS total_qty,
       round(sum(CAST(round(l_extendedprice * round(l_quantity, 0) * 100, 0) AS BIGINT))
             / 100.0 / sum(round(l_quantity, 0)), 6) AS vwap
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""")
def q_vwap_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per brand: the canonical weighted
    aggregate (VWAP) — numerator and denominator both integer-exact
    (price cents x integral quantity), ONE broadcast dim join + one fact
    shuffle; the ratio is a single division, engine-exact at 6dp."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty = F.round(F.col("l_quantity"), 0)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum(qty)).cast("bigint").alias("total_qty"),
        F.round(
            F.sum(_cents(F.col("l_extendedprice") * qty, 100)) / 100.0
            / F.sum(qty),
            6,
        ).alias("vwap"),
    )


@oracle("""
WITH per_cust AS (
  SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey
   AND o_orderdate >= DATE '1996-01-01'
   AND o_orderdate < DATE '1997-01-01'
  GROUP BY 1, 2
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS repeat_customers,
       round(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS repeat_rate
FROM per_cust GROUP BY c_mktsegment
""")
def q_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by market segment, implemented ENTIRELY in
    the SQL API (spark.sql over registered views) — the engine's ANSI
    surface is first-class, same Catalyst plan as the DataFrame path.
    Date-windowed LEFT JOIN keeps zero-order customers in the base;
    single-division rate at 6dp is engine-exact."""
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("v_customer")
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH per_cust AS (
          SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
          FROM v_customer LEFT JOIN v_orders
            ON c_custkey = o_custkey
           AND o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1997-01-01'
          GROUP BY 1, 2
        )
        SELECT c_mktsegment,
               count(*) AS n_customers,
               sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS repeat_customers,
               round(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS repeat_rate
        FROM per_cust GROUP BY c_mktsegment
        """
    )


@oracle("""
WITH per_part AS (
  SELECT l_partkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
), tot AS (
  SELECT sum(part_value) AS total FROM per_part
)
SELECT l_partkey, part_value,
       round(part_value / total, 6) AS share
FROM per_part, tot
WHERE part_value > 0.001 * total
ORDER BY part_value DESC, l_partkey ASC
""")
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: the fixtures carry no partsupp, so
    "stock value" is lineitem revenue from one nation's suppliers): parts
    whose revenue through NATION_7 suppliers exceeds 0.1% of that
    nation's total — grouped agg + global-total scalar (broadcast cross
    join of a single-row agg, never a partition-less window over the
    fact) + share filter. The supplier side is a broadcast dim filter;
    the only fact shuffle is the per-part agg."""
    n = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_7")
    s = load_table(spark, "supplier", sf_dir).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load_table(spark, "lineitem", sf_dir)
    per_part = (
        li.join(F.broadcast(s.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("part_value")
        )
    )
    tot = per_part.agg(F.sum("part_value").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > 0.001 * F.col("_total"))
        .select(
            "l_partkey",
            "part_value",
            F.round(F.col("part_value") / F.col("_total"), 6).alias("share"),
        )
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )
