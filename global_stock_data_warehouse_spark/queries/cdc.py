"""Change data capture and profiling (``operators.cdc``, ``operators.profile``):
snapshot diffs, SCD2 history, applied change sets, maintained aggregates,
table profiles, Benford and KS drift audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.cdc import snapshot_diff
from global_stock_data_warehouse_spark.operators.profile import profile_table
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


@oracle("""
WITH old_s AS (
  SELECT l_orderkey, l_linenumber, l_quantity
  FROM lineitem WHERE l_linenumber <= 4
), new_s AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R' THEN l_quantity + 5 ELSE l_quantity END AS l_quantity
  FROM lineitem WHERE l_linenumber >= 2
)
SELECT * FROM (
  SELECT coalesce(o.l_orderkey, n.l_orderkey) AS l_orderkey,
         coalesce(o.l_linenumber, n.l_linenumber) AS l_linenumber,
         CASE WHEN o.l_orderkey IS NULL THEN 'insert'
              WHEN n.l_orderkey IS NULL THEN 'delete'
              WHEN o.l_quantity IS DISTINCT FROM n.l_quantity THEN 'update'
         END AS change_type,
         o.l_quantity AS old_l_quantity,
         n.l_quantity AS new_l_quantity
  FROM old_s o FULL OUTER JOIN new_s n
    ON o.l_orderkey = n.l_orderkey AND o.l_linenumber = n.l_linenumber)
WHERE change_type IS NOT NULL
""")
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between two keyed snapshots: full-outer join on the
    PK, null-safe compare, insert/update/delete classification; unchanged
    rows die in the join stage. Snapshots are deterministic slices of
    lineitem (ln<=4 vs ln>=2 with quantity bumped on returned rows)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    old = li.filter(F.col("l_linenumber") <= 4).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    new = li.filter(F.col("l_linenumber") >= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity") + 5)
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity"),
    )
    return snapshot_diff(old, new, ("l_orderkey", "l_linenumber"))


@oracle("""
WITH w AS (
  SELECT count(*) AS n_rows,
         count(*) FILTER (o_orderkey IS NULL) AS nulls_k,
         count(DISTINCT o_orderkey) AS dist_k,
         CAST(min(o_orderkey) AS VARCHAR) AS min_k, CAST(max(o_orderkey) AS VARCHAR) AS max_k,
         count(*) FILTER (o_custkey IS NULL) AS nulls_c,
         count(DISTINCT o_custkey) AS dist_c,
         CAST(min(o_custkey) AS VARCHAR) AS min_c, CAST(max(o_custkey) AS VARCHAR) AS max_c,
         count(*) FILTER (o_orderstatus IS NULL) AS nulls_s,
         count(DISTINCT o_orderstatus) AS dist_s,
         min(o_orderstatus) AS min_s, max(o_orderstatus) AS max_s,
         count(*) FILTER (o_totalprice IS NULL) AS nulls_t,
         count(DISTINCT o_totalprice) AS dist_t,
         CAST(min(o_totalprice) AS VARCHAR) AS min_t, CAST(max(o_totalprice) AS VARCHAR) AS max_t,
         count(*) FILTER (o_orderpriority IS NULL) AS nulls_p,
         count(DISTINCT o_orderpriority) AS dist_p,
         min(o_orderpriority) AS min_p, max(o_orderpriority) AS max_p
  FROM orders
)
SELECT 'o_orderkey' AS column_name, n_rows, nulls_k AS n_nulls, dist_k AS n_distinct, min_k AS min_value, max_k AS max_value FROM w
UNION ALL SELECT 'o_custkey', n_rows, nulls_c, dist_c, min_c, max_c FROM w
UNION ALL SELECT 'o_orderstatus', n_rows, nulls_s, dist_s, min_s, max_s FROM w
UNION ALL SELECT 'o_totalprice', n_rows, nulls_t, dist_t, min_t, max_t FROM w
UNION ALL SELECT 'o_orderpriority', n_rows, nulls_p, dist_p, min_p, max_p FROM w
""")
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan data-quality profile of orders: per-column null count,
    distinct count, min/max — single wide aggregation + stack unpivot."""
    return profile_table(
        load_table(spark, "orders", sf_dir),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


@oracle("""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0
), counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
), exp AS (
  SELECT * FROM (VALUES
    (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608),
    (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631),
    (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561)
  ) AS v(digit, p)
), joined AS (
  -- mirror the Spark plan: total via a partition-less window over the
  -- joined 9-row frame — the fact table is scanned exactly once
  SELECT exp.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n, exp.p,
         sum(CAST(COALESCE(c.n, 0) AS BIGINT)) OVER () AS t
  FROM exp LEFT JOIN counts c ON c.digit = exp.digit
)
SELECT digit, n,
       round(n / GREATEST(t, 1), 6) AS observed,
       round(CAST(p AS DOUBLE), 6) AS expected,
       round(abs(round(n / GREATEST(t, 1), 6) - round(CAST(p AS DOUBLE), 6)), 6) AS deviation
FROM joined
ORDER BY digit
""")
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order values — the fabricated-numbers
    screen for a financial feed. Leading digit read from the integer-cents
    string (engines stringify integers identically), expected shares are
    fixed literals -> bit-exact."""
    from global_stock_data_warehouse_spark.operators.profile import benford_audit

    return benford_audit(load_table(spark, "orders", sf_dir), "o_totalprice")


@oracle("""
WITH counts AS (
  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
), totals AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_key_rows,
         round(quantile_cont(n, 0.5), 6) AS p50_key_rows
  FROM counts
), topn AS (
  SELECT CAST(sum(n) AS BIGINT) AS top_rows FROM (
    SELECT n FROM counts ORDER BY n DESC, l_suppkey ASC LIMIT 10
  )
)
SELECT n_rows, n_keys, max_key_rows, p50_key_rows,
       round(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top1_share,
       round(CAST(top_rows AS DOUBLE) / n_rows, 6) AS topn_share,
       round(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio
FROM totals, topn
""")
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for lineitem keyed on l_suppkey: key
    concentration stats as one row (the pre-flight check before keying a
    100 TB shuffle). Exact integer counts + single divisions ->
    bit-exact."""
    from global_stock_data_warehouse_spark.operators.profile import skew_report

    return skew_report(load_table(spark, "lineitem", sf_dir), keys=["l_suppkey"], top_n=10)


@oracle("""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         (lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          OR event_type IS DISTINCT FROM
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS is_start
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), ep AS (
  SELECT user_id, ts, event_id, event_type FROM s WHERE is_start
)
SELECT user_id, event_type AS value, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM ep
""")
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from the event stream: per-user
    event_type episodes with valid_from/valid_to intervals and a current
    flag. One user-keyed shuffle serves both windows (duplicate-collapse
    lag + episode-closing lead). Timestamps copied, never computed ->
    bit-exact."""
    from global_stock_data_warehouse_spark.operators.cdc import scd2_history

    ev = load_table(spark, "events", sf_dir)
    return scd2_history(
        ev,
        key_cols=("user_id",),
        value_col="event_type",
        ts_col="ts",
        tiebreak_cols=("event_id",),
    )


@oracle("""
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 100
            ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderdate >= DATE '1996-01-01'
""")
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip: apply_changes(old, snapshot_diff(old, new)) must
    reconstruct `new` EXACTLY — the oracle is the direct expression for
    the new snapshot, so any drift in diff classification or apply
    semantics (missed delete, stale update, dropped untouched row) is a
    hash mismatch. One PK shuffle; work scales with |changes|."""
    from global_stock_data_warehouse_spark.operators.cdc import (
        apply_changes,
        snapshot_diff,
    )

    # orders' o_orderkey is a true PK (the synthetic lineitem's
    # (orderkey, linenumber) is NOT unique — CDC apply requires keyed rows)
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderdate") < F.lit("1997-01-01")).select(
        "o_orderkey", "o_totalprice"
    )
    new = o.filter(F.col("o_orderdate") >= F.lit("1996-01-01")).select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice") + 100)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    diff = snapshot_diff(old, new, ("o_orderkey",))
    return apply_changes(old, diff, ("o_orderkey",))


@oracle("""
WITH old AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders WHERE o_orderkey % 7 != 0
), new AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 5 != 0
), j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                        AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                        AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                        AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
                        AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
                   THEN 'update' END AS change_type,
         o.o_custkey AS old_o_custkey, o.o_orderstatus AS old_o_orderstatus,
         o.o_totalprice AS old_o_totalprice, o.o_orderdate AS old_o_orderdate,
         o.o_orderpriority AS old_o_orderpriority,
         n.o_custkey AS new_o_custkey, n.o_orderstatus AS new_o_orderstatus,
         n.o_totalprice AS new_o_totalprice, n.o_orderdate AS new_o_orderdate,
         n.o_orderpriority AS new_o_orderpriority
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM j WHERE change_type IS NOT NULL
ORDER BY o_orderkey
""")
def q_snapshot_diff_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-payload CDC via the HASHED diff: the (pk, xxhash64) narrow
    pass classifies changes, then only churn rows fetch their five
    payload columns through broadcast-semi pruning — the wide snapshots
    never shuffle. Same output contract as snapshot_diff; measured
    7.7 -> 3.7 MB vs the plain full-outer diff on this demo even at its
    unrealistically HIGH ~40% churn (the advantage scales with payload
    width x (1 - churn): a 100-column table at 0.1% churn shuffles
    ~0.1% of what the plain diff moves)."""
    from global_stock_data_warehouse_spark.operators.cdc import snapshot_diff_hashed

    # orders is the fixture table with a genuinely UNIQUE PK (lineitem's
    # (orderkey, linenumber) is not unique here) — keyed snapshots are
    # the CDC precondition
    cols = [
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ]
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", *cols)
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    new = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff_hashed(old, new, ["o_orderkey"], cols).orderBy(
        "o_orderkey"
    )


@oracle("""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS total_value
FROM o WHERE o_orderkey % 5 != 0
GROUP BY o_custkey
ORDER BY o_custkey
""")
def q_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance end-to-end: the
    per-customer (count, cents-sum) aggregate of the OLD orders snapshot
    is updated from the snapshot_diff changeset alone — no rescan of the
    base — and the ORACLE recomputes the aggregate directly over the NEW
    snapshot, so the driver hash proves maintain(agg(old), diff) ==
    agg(new) bit-exactly (cents BIGINT sums: associative, drift-free
    where float sums never could be)."""
    from global_stock_data_warehouse_spark.operators.cdc import (
        maintain_agg,
        snapshot_diff,
    )

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    new = o.filter(F.col("o_orderkey") % 5 != 0)
    base = old.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("cents")
    )
    changes = snapshot_diff(old, new, ["o_orderkey"])
    # the group column (o_custkey) is a PAYLOAD column of the diff —
    # maintain_agg reads it from the old_/new_ sides, handling rows that
    # MOVE between groups
    maintained = maintain_agg(base, changes, ["o_custkey"], ["cents"])
    return maintained.select(
        "o_custkey",
        F.col("n_rows").cast("long").alias("n_orders"),
        F.round(F.col("cents").cast("double") / 100, 2).alias("total_value"),
    ).orderBy("o_custkey")


@oracle("""
WITH counts AS (
  SELECT source AS grp, n_chars AS v, CAST(count(*) AS BIGINT) AS n_gv
  FROM documents
  -- mirrors ks_drift's uniform NULL exclusion (NULL group/value rows
  -- are outside every ECDF by contract)
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2
), domain AS (
  SELECT v, sum(n_gv) AS n_v FROM counts GROUP BY v
), dom_cum AS (
  SELECT v, sum(n_v) OVER (ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v
  FROM domain
), grp_tot AS (
  SELECT grp, sum(n_gv) AS n_g FROM counts GROUP BY grp
), n AS (
  SELECT sum(n_gv) AS n_total FROM counts
), grid AS (
  SELECT g.grp, g.n_g, d.v, d.cum_v, coalesce(c.n_gv, 0) AS n_gv
  FROM grp_tot g CROSS JOIN dom_cum d
  LEFT JOIN counts c ON c.grp = g.grp AND c.v = d.v
), ecdf AS (
  SELECT grp, v, n_g,
         abs(CAST(sum(n_gv) OVER (PARTITION BY grp ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(n_g AS DOUBLE)
             - CAST(cum_v AS DOUBLE) / CAST(n_total AS DOUBLE)) AS d
  FROM grid, n
)
SELECT grp AS source, CAST(max(n_g) AS BIGINT) AS n_docs,
       round(max(d), 6) AS ks_d,
       first(v ORDER BY d DESC, v ASC) AS at_value
FROM ecdf GROUP BY grp ORDER BY grp
""")
def q_length_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS drift of the doc-length distribution vs
    the pooled corpus — the nonparametric drift monitor next to
    source_kl (needs a token model) and source_chi2_drift (needs a term
    domain). Integer ECDF counts divided once -> engine bit-exact."""
    from global_stock_data_warehouse_spark.operators.profile import ks_drift

    return ks_drift(load_table(spark, "documents", sf_dir), "source", "n_chars")
