"""User behavior over the event stream (``operators.behavior``): sessions,
funnels, cohorts, Markov transitions, hopping windows, attribution and
histograms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


def _sessionized(spark: SparkSession, sf_dir: str, extra_cols: tuple = ()) -> DataFrame:
    """Shared gap>2d sessionization (ONE definition for q_sessionize /
    q_session_paths / q_max_concurrency — the window, gap rule, and
    tiebreak must stay in lockstep with the matching oracle SQL):
    events + a per-user running session_id."""
    cols = ["user_id", "event_id", "ts", *extra_cols]
    # a session needs an entity and a time: NULL user_id/ts rows are
    # excluded at this shared root (mirrored by `WHERE user_id IS NOT
    # NULL AND ts IS NOT NULL` in all three session oracles) — NULL ts
    # would otherwise split sessions differently per engine (Spark
    # sorts NULLS FIRST, DuckDB NULLS LAST)
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(*cols)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap_sec.isNull() | (gap_sec > 2 * 86400), 1).otherwise(0)
    return ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


@oracle("""
SELECT user_id,
       time_bucket(INTERVAL '7 days', ts, TIMESTAMP '1970-01-01') AS window_start,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2
""")
def q_window_tumbling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling window: epoch-aligned 7-day
    buckets per user via F.window (same semantics as streaming/pipeline)."""
    # same uniform NULL exclusion as hopping_window_agg/decayed_totals,
    # plus the entity key; mirrored in the oracle's WHERE
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return (
        ev.groupBy("user_id", F.window("ts", "7 days").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id", F.col("w.start").alias("window_start"), "n_events", "sum_value"
        )
    )


@oracle("""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
)
SELECT (SELECT count(DISTINCT user_id) FROM s1) AS n_viewed,
       (SELECT count(DISTINCT user_id) FROM s2) AS n_clicked,
       (SELECT count(DISTINCT user_id) FROM s3) AS n_purchased
""")
def q_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> click -> purchase): each stage is the
    min event time strictly AFTER the previous stage, per user; one row of
    stage counts.

    Single-pass formulation: ONE scan of events, ONE shuffle on user_id
    (collect_list + a fold over the time-sorted per-user array computes
    all three stage timestamps), then a single-row count agg — versus the
    naive 3-scan/3-join/13-exchange staged plan (measured by
    tools/explain_audit.py; this shape is 2 exchanges). Per-user arrays
    are bounded by per-entity activity; a power-user skew cap would
    pre-filter to the funnel's event types (done below) and window."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs"))
    )
    zero = F.struct(
        F.lit(None).cast("timestamp").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.lit(None).cast("timestamp").alias("t3"),
    )

    def step(acc, e):
        t1 = F.when(
            acc["t1"].isNull() & (e["event_type"] == "view"), e["ts"]
        ).otherwise(acc["t1"])
        t2 = F.when(
            acc["t2"].isNull()
            & acc["t1"].isNotNull()
            & (e["event_type"] == "click")
            & (e["ts"] > acc["t1"]),
            e["ts"],
        ).otherwise(acc["t2"])
        t3 = F.when(
            acc["t3"].isNull()
            & acc["t2"].isNotNull()
            & (e["event_type"] == "purchase")
            & (e["ts"] > acc["t2"]),
            e["ts"],
        ).otherwise(acc["t3"])
        return F.struct(t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))

    folded = per_user.select(F.aggregate("evs", zero, step).alias("f"))
    # count() counts non-nulls; per-user rows are unique, so these ARE the
    # distinct-user stage counts
    return folded.agg(
        F.count(F.col("f.t1")).alias("n_viewed"),
        F.count(F.col("f.t2")).alias("n_clicked"),
        F.count(F.col("f.t3")).alias("n_purchased"),
    )


@oracle("""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > 2 * 86400
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), tagged AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       sum(round(value * 100, 0)) / 100.0 AS sum_value
FROM tagged GROUP BY user_id, session_id
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >2-day quiet
    period per user. Running-sum-over-flags window pattern; one shuffle.

    Skew note: this single per-user window serializes a power-law user's
    whole stream into one task. The engine ships the exact-equivalent
    two-phase fold (`operators.timeseries.sessionize_two_phase`: heavy
    window on (user, time-bucket) -> bounded per-task rows, tiny per-user
    merge window) for hot-key corpora; this query keeps the one-shuffle
    form because the driver fixture has no hot keys and the plan is
    cheaper."""
    sessions = _sessionized(spark, sf_dir, extra_cols=("value",))
    # fixed-point sum: event values are exact 2-decimal quantities, so
    # summing round(value*100) integers is ORDER-INDEPENDENT (exact integer
    # doubles), unlike a float sum whose last-ulp depends on partial-sum
    # order and drifts between engines
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.sum(F.round(F.col("value") * 100, 0)) / 100.0).alias("sum_value"),
    )


@oracle("""
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), firsts AS (
  SELECT user_id, min(d) AS first_d FROM d GROUP BY user_id
)
SELECT DATE '1970-01-05'
         + CAST(CAST(f.first_d - DATE '1970-01-05' AS BIGINT) // 7 * 7 AS INTEGER)
         AS cohort_start,
       CAST(CAST(d.d - f.first_d AS BIGINT) // 7 AS INTEGER) AS period_offset,
       count(DISTINCT d.user_id) AS n_users
FROM d JOIN firsts f USING (user_id)
GROUP BY 1, 2
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over the event stream: cohort =
    Monday-aligned week of a user's first event, offset = whole weeks
    since first touch, value = distinct active users. Dates + integer
    arithmetic only — bit-exact across engines."""
    from global_stock_data_warehouse_spark.operators.behavior import cohort_retention

    return cohort_retention(load_table(spark, "events", sf_dir), period_days=7)


@oracle("""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), m AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM m
""")
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream. One window shuffle on user_id; the probability normalization
    is a window over the |types|^2 aggregate. p is a single integer
    division — order-independent, so exact at 6dp."""
    from global_stock_data_warehouse_spark.operators.behavior import event_transitions

    return event_transitions(load_table(spark, "events", sf_dir))


@oracle("""
WITH slots AS (
  SELECT time_bucket(INTERVAL '14 days', ts, TIMESTAMP '1970-01-01')
           AS window_start, value FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  UNION ALL
  SELECT time_bucket(INTERVAL '14 days', ts, TIMESTAMP '1970-01-08')
           AS window_start, value FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT window_start,
       window_start + INTERVAL '14 days' AS window_end,
       count(*) AS n_events,
       sum(round(value * 100, 0)) / 100.0 AS sum_value
FROM slots GROUP BY 1
""")
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 14d/7d hopping windows via Spark's native
    window(ts, size, slide) generator: map-side replication absorbed by
    partial aggregation. Fixed-point value sums for engine-exact
    totals."""
    from global_stock_data_warehouse_spark.operators.behavior import hopping_window_agg

    return hopping_window_agg(
        load_table(spark, "events", sf_dir), size="14 days", slide="7 days"
    )


@oracle("""
WITH med AS (
  SELECT source, quantile_cont(n_chars, 0.5) AS med
  FROM documents GROUP BY source
), j AS (
  SELECT d.source, d.n_chars, m.med
  FROM documents d JOIN med m USING (source)
), mads AS (
  SELECT source, quantile_cont(abs(n_chars - med), 0.5) AS mad,
         any_value(med) AS med, count(*) AS n
  FROM j GROUP BY source
)
SELECT j.source, m.med, m.mad, CAST(m.n AS BIGINT) AS n,
       CAST(sum(CASE WHEN abs(j.n_chars - m.med) > 3.0 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM j JOIN mads m USING (source)
GROUP BY j.source, m.med, m.mad, m.n
""")
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier profile on documents: median +
    MAD (both exact order statistics — no float-sum drift) and the count
    beyond 3*MAD. n_chars is integral, so med/mad are exact .0/.5
    doubles."""
    from global_stock_data_warehouse_spark.operators.behavior import mad_outliers

    return mad_outliers(
        load_table(spark, "documents", sf_dir), group_cols=("source",), value_col="n_chars", k=3.0
    )


@oracle("""
WITH binned AS (
  SELECT CAST(floor(l_extendedprice / 500.0) AS BIGINT) AS bin_id,
         l_extendedprice
  FROM lineitem
)
SELECT bin_id, count(*) AS n,
       min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v,
       bin_id * 500.0 AS bin_lo
FROM binned GROUP BY bin_id
""")
def q_hist_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice (width 500): map-only
    bin assignment (one IEEE division, bit-identical across engines) +
    one tiny aggregate."""
    from global_stock_data_warehouse_spark.operators.behavior import histogram_fixed

    return histogram_fixed(load_table(spark, "lineitem", sf_dir), "l_extendedprice", 500.0)


@oracle("""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > 2 * 86400
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), tagged AS (
  SELECT user_id, ts, event_id, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM tagged GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path
""")
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the ordered event-type journey per session,
    frequency-counted. One scan (event_type rides the sessionization
    projection); the ordered concatenation is array_sort over
    (ts, event_id, type) structs collected in ONE grouped pass — fully
    deterministic — and the path rollup is a tiny aggregate over
    distinct journeys."""
    sess = _sessionized(spark, sf_dir, extra_cols=("event_type",))
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


@oracle("""
WITH b AS (
  SELECT DISTINCT l_orderkey AS bid, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (
  SELECT count(DISTINCT bid) AS n_baskets FROM b
), ic AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY item
), pairs AS (
  SELECT a.item AS item_a, c.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM b a JOIN b c ON a.bid = c.bid AND a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT item_a, item_b, n_ab,
       round(n_ab / CAST(n_baskets AS DOUBLE), 6) AS support,
       round(n_ab / CAST(ca.n_item AS DOUBLE), 6) AS confidence,
       round(n_ab * CAST(n_baskets AS DOUBLE) / (ca.n_item * cb.n_item), 6) AS lift
FROM pairs
JOIN ic ca ON item_a = ca.item
JOIN ic cb ON item_b = cb.item, n
""")
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets of brands:
    co-occurrence, support, confidence, lift. The pair self-join is
    co-partitioned on the basket key (pair volume quadratic only in
    basket size); supports broadcast back; all metrics are single
    divisions of exact integer counts."""
    from global_stock_data_warehouse_spark.operators.behavior import basket_rules

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("basket_id"), F.col("p_brand").alias("item")
    )
    return basket_rules(baskets, min_pair_count=2)


@oracle("""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > 2 * 86400
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), tagged AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM tagged GROUP BY 1, 2
), pts AS (
  SELECT s AS ts, 1 AS delta FROM sessions
  UNION ALL
  SELECT e AS ts, -1 AS delta FROM sessions
), runs AS (
  SELECT ts, CAST(sum(delta) OVER (ORDER BY ts ASC, delta DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS run
  FROM pts
)
SELECT max_concurrent, min(ts) AS at_ts
FROM (SELECT ts, run, max(run) OVER () AS max_concurrent FROM runs)
WHERE run = max_concurrent
GROUP BY max_concurrent
""")
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions + earliest instant it is reached, via
    the DISTRIBUTED sweep line (two-phase prefix sum: per-bucket running
    sums, one-row-per-bucket cumulative offsets broadcast back) — never
    a global single-task sort of the points. Sessions are CLOSED
    [min ts, max ts] intervals, so single-event sessions count at their
    instant."""
    from global_stock_data_warehouse_spark.operators.behavior import max_concurrency

    sessions = _sessionized(spark, sf_dir).groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    return max_concurrency(sessions)


@oracle("""
WITH tagged AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type IN ('view', 'click') THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_id,
         last_value(CASE WHEN event_type IN ('view', 'click') THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_ts
  FROM events
)
SELECT event_id AS conversion_id, user_id, ts AS conversion_ts,
       CASE WHEN t_ts IS NOT NULL AND date_diff('second', t_ts, ts) <= 7 * 86400
            THEN t_id END AS touch_id,
       CASE WHEN t_ts IS NOT NULL AND date_diff('second', t_ts, ts) <= 7 * 86400
            THEN t_ts END AS touch_ts,
       CASE WHEN t_ts IS NOT NULL AND date_diff('second', t_ts, ts) <= 7 * 86400
            THEN date_diff('second', t_ts, ts) END AS gap_sec
FROM tagged WHERE event_type = 'purchase'
""")
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent view/click within 7 days. One user-keyed window shuffle;
    touch id and ts ride the same ignore-nulls carry-forward frame, so
    they always come from the same touch row."""
    from global_stock_data_warehouse_spark.operators.behavior import (
        attribution_last_touch,
    )

    return attribution_last_touch(load_table(spark, "events", sf_dir))


@oracle("""
WITH per_cust AS (
  SELECT o_custkey AS custkey, max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(round(o_totalprice * 100, 0)) / 100.0 AS monetary
  FROM orders GROUP BY 1
)
SELECT custkey, last_order, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY last_order DESC, custkey) AS INTEGER) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS INTEGER) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey) AS INTEGER) AS m_score
FROM per_cust
""")
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over orders: one fact shuffle to the per-customer
    aggregate, then three ntile windows over one-row-per-customer with
    customer-id tiebreaks (ntile is order-sensitive; the tiebreak makes
    assignment engine-exact). Fixed-point monetary sums."""
    from global_stock_data_warehouse_spark.operators.behavior import rfm_segments

    return rfm_segments(load_table(spark, "orders", sf_dir))


@oracle("""
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
), fan AS (
  SELECT user_id, CAST(ts AS DATE) + CAST(i AS INTEGER) AS day
  FROM events, b, UNNEST(range(0, 7)) AS u(i)
  WHERE CAST(ts AS DATE) + CAST(i AS INTEGER) <= b.d1
)
SELECT day, count(DISTINCT user_id) AS users_7d FROM fan GROUP BY day
""")
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7d distinct users per day: the sliding-distinct shape —
    events fan out map-side to the window-end days they influence
    (bounded x7, absorbed by countDistinct partials), one day-keyed
    shuffle; span bounds ride a broadcast 1-row aggregate."""
    from global_stock_data_warehouse_spark.operators.behavior import (
        rolling_distinct_users,
    )

    return rolling_distinct_users(load_table(spark, "events", sf_dir), window_days=7)


@oracle("""
WITH anchored AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         least(CAST(floor(date_diff('day', CAST(ts AS DATE),
                                    (SELECT max(CAST(ts AS DATE)) FROM events
                                     -- anchor AFTER the same exclusion:
                                     -- a NULL-value row holding the max
                                     -- ts must not shift every h
                                     WHERE ts IS NOT NULL
                                       AND value IS NOT NULL))
                          / 7) AS INTEGER), 10) AS h
  FROM events
  -- mirrors decayed_totals' up-front NULL exclusion: a NULL ts would
  -- take the cap weight via least(NULL, 10) and a NULL value would
  -- count in n_events without contributing to either sum
  WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS raw_total,
       round(CAST(sum(cents * (CAST(1 AS BIGINT) << (10 - h))) AS DOUBLE)
             / (100.0 * 1024.0), 6) AS decayed_total
FROM anchored
GROUP BY event_type
ORDER BY event_type
""")
def q_decay_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay weighted revenue per event type (half-life
    7 days, anchored to the frame's max date). DYADIC fixed-point: the
    weight is 2^-halvings with an integer halving count, so every
    contribution is an exact BIGINT and the sum is order-independent —
    decay weighting without the exp() that would be EPS-only forever."""
    from global_stock_data_warehouse_spark.operators.behavior import decayed_totals

    return decayed_totals(load_table(spark, "events", sf_dir))
