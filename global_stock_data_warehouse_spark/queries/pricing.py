"""Per-symbol price analytics over the event bar stream
(``operators.pricing`` on ``operators.timeseries`` daily closes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from global_stock_data_warehouse_spark.operators.timeseries import daily_close
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), r AS (
  SELECT user_id, d, close,
         lag(close) OVER (PARTITION BY user_id ORDER BY d) AS prev
  FROM daily
), s AS (
  SELECT user_id, d, close,
         CASE WHEN prev IS NOT NULL AND close > 0
                   AND floor(prev / close + 0.5) BETWEEN 2 AND 10
                   AND abs(prev / close - floor(prev / close + 0.5))
                       <= 0.02 * floor(prev / close + 0.5)
              THEN CAST(floor(prev / close + 0.5) AS BIGINT)
              ELSE CAST(1 AS BIGINT) END AS split_ratio
  FROM r
), f AS (
  SELECT user_id, d, close, split_ratio,
         CAST(floor(exp(coalesce(
             sum(ln(CAST(split_ratio AS DOUBLE))) OVER (
               PARTITION BY user_id ORDER BY d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0e0)) + 0.5)
           AS BIGINT) AS adj_factor
  FROM s
)
SELECT user_id, d, close, split_ratio, adj_factor,
       floor(close / adj_factor * 1e6 + 0.5) / 1e6 AS adj_close
FROM f
""")
def q_split_adjusted_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corporate-action battery: infer k:1 splits from close-ratio
    integer proximity, recover each bar's backward adjustment factor as
    an EXACT integer (log-sum window + round; product << 2^53), emit
    the adjusted series. The reference stores raw vendor closes and
    leaves adjustment to every reader (`downloader_wmy.py:54-58`) —
    this is that missing post-ingest step. One hash exchange serves
    the daily groupBy, the lag window, and the desc factor window."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        split_adjusted_prices,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return split_adjusted_prices(daily_close(ev)).select(
        "user_id", "d", "close", "split_ratio", "adj_factor", "adj_close"
    )


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT user_id, d, close,
         max(close) OVER fr AS hi, min(close) OVER fr AS lo
  FROM daily
  WINDOW fr AS (PARTITION BY user_id ORDER BY d
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), e AS (
  SELECT user_id, d,
         CASE WHEN hi > lo
              THEN floor((close - lo) / (hi - lo) * 1e6 + 0.5) / 1e6
              ELSE 0.5e0 END AS pos,
         CASE WHEN close >= hi THEN 1 ELSE 0 END AS nh,
         CASE WHEN close <= lo THEN 1 ELSE 0 END AS nl
  FROM w
)
SELECT user_id, count(*) AS n_days,
       CAST(sum(nh) AS BIGINT) AS n_new_highs,
       CAST(sum(nl) AS BIGINT) AS n_new_lows,
       last(pos ORDER BY d) AS last_pos
FROM e GROUP BY user_id
""")
def q_range_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 20-day high/low channel summary per entity: new-high /
    new-low counts and the latest close's position inside its channel.
    min/max frames + one IEEE division — every cell engine-exact."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        range_position_summary,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return range_position_summary(daily_close(ev), window=20)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         first(value ORDER BY ts, event_id) AS op,
         last(value ORDER BY ts, event_id) AS cl
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT user_id,
         CASE WHEN op > 0
              THEN CAST(floor((cl / op - 1.0) * 1e8 + 0.5) AS BIGINT) END AS intra,
         CASE WHEN lag(cl) OVER w > 0
              THEN CAST(floor((op / lag(cl) OVER w - 1.0) * 1e8 + 0.5) AS BIGINT)
              END AS ovn
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
)
SELECT user_id,
       count(intra) AS n_intraday,
       count(ovn) AS n_overnight,
       floor(CAST(sum(intra) AS DOUBLE) / count(intra) / 1e8 * 1e6 + 0.5) / 1e6
         AS mean_intraday,
       floor(CAST(sum(ovn) AS DOUBLE) / count(ovn) / 1e8 * 1e6 + 0.5) / 1e6
         AS mean_overnight
FROM legs GROUP BY user_id
""")
def q_overnight_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight-gap vs intraday-move return decomposition, per entity:
    each day's two legs are 1e-8 fixed-point bigints before the mean,
    so the per-entity averages are exact integer-sum / count — the
    microstructure read the raw OHLC table exists to answer."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        overnight_intraday_split,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return overnight_intraday_split(ev)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS dvol_c
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), tr AS (
  SELECT user_id, d,
         CAST(sum(dvol_c) OVER fr AS DOUBLE) / count(*) OVER fr AS adv_c
  FROM daily
  WINDOW fr AS (PARTITION BY user_id ORDER BY d
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), latest AS (
  SELECT user_id, max(d) AS as_of, last(adv_c ORDER BY d) AS adv_c
  FROM tr GROUP BY user_id
)
SELECT user_id, as_of,
       floor(adv_c / 100.0 * 1e4 + 0.5) / 1e4 AS adv,
       ntile(10) OVER rk AS adv_decile,
       CASE WHEN ntile(10) OVER rk = 1 THEN 1 ELSE 0 END AS is_liquid
FROM latest
WINDOW rk AS (ORDER BY adv_c DESC, user_id)
""")
def q_liquidity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day trailing average daily dollar volume (cents-exact),
    snapshotted at each entity's latest bar and decile-ranked across
    the universe; decile 1 = the liquid/tradeable set. The cross-entity
    ntile sort runs over one row per entity — bounded by the universe,
    not the bar count."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        liquidity_screen,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return liquidity_screen(ev, window=20, n_tiles=10)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), q AS (
  SELECT user_id, d,
         CAST(floor(close / 2.0 + 0.5) AS BIGINT) AS qv
  FROM daily
), ch AS (
  SELECT user_id, d,
         CASE WHEN lag(qv) OVER w IS NULL OR qv <> lag(qv) OVER w
              THEN 1 ELSE 0 END AS changed
  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY d)
), runs AS (
  SELECT user_id,
         sum(changed) OVER (PARTITION BY user_id ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM ch
), per_run AS (
  SELECT user_id, run_id, count(*) AS run_len FROM runs GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(run_len - 1) AS BIGINT)
         AS n_stale_days,
       CAST(sum(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stale_runs,
       max(run_len) AS max_run_len
FROM per_run GROUP BY user_id
""")
def q_stale_price_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-quote audit: runs of consecutive days whose tick-grid-
    quantized close never moves (halted listing / dead vendor feed).
    Running-sum-over-change-flags run detection; integer equality
    throughout — engine-exact."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        stale_price_runs,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return stale_price_runs(daily_close(ev), grid=2.0, min_run=2)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS dvol_c
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT user_id, dvol_c,
         CASE WHEN lag(close) OVER w > 0
              THEN greatest(CAST(-10000 AS BIGINT),
                            least(CAST(10000 AS BIGINT),
                                  CAST(floor((close / lag(close) OVER w - 1.0) * 1e4 + 0.5)
                                       AS BIGINT)))
         END AS ret_bp
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d)
), days AS (
  SELECT user_id,
         (abs(ret_bp) * CAST(10000000000 AS BIGINT)) // dvol_c AS day_fx
  FROM legs WHERE ret_bp IS NOT NULL AND dvol_c > 0
)
SELECT user_id,
       count(*) AS n_days,
       floor(CAST(sum(day_fx) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5) / 1e6
         AS amihud,
       floor(CAST(max(day_fx) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
         AS amihud_worst_day
FROM days GROUP BY user_id
""")
def q_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: Amihud (2002) price-impact illiquidity — mean |daily
    return| per $1M traded, per entity, plus the worst day. Each day's
    ratio is ONE bigint floor-division (numerator <= 1e14), so the sum
    is exact-integer on both engines; one entity-keyed exchange."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        amihud_illiquidity,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return amihud_illiquidity(ev)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), uw AS (
  SELECT user_id, d,
         CASE WHEN close < max(close) OVER (PARTITION BY user_id ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              THEN 1 ELSE 0 END AS is_uw
  FROM daily
), ch AS (
  SELECT user_id, d, is_uw,
         CASE WHEN lag(is_uw) OVER w IS NULL OR is_uw <> lag(is_uw) OVER w
              THEN 1 ELSE 0 END AS changed
  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY d)
), runs AS (
  SELECT user_id, is_uw,
         sum(changed) OVER (PARTITION BY user_id ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM ch
), per_run AS (
  SELECT user_id, run_id, max(is_uw) AS is_uw, count(*) AS run_len
  FROM runs GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(CASE WHEN is_uw = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS n_underwater_days,
       CAST(sum(CASE WHEN is_uw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spells,
       CAST(max(CASE WHEN is_uw = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS longest_spell
FROM per_run GROUP BY user_id
""")
def q_underwater_spells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: drawdown DURATION — per entity, days spent strictly
    below the running peak, spell count, longest spell. Strict double
    comparison against a running max (identical IEEE inputs both
    engines) feeding the change-flag run-length pattern; all-integer
    outputs."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        underwater_spells,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return underwater_spells(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), pos AS (
  SELECT user_id, d, close,
         row_number() OVER (PARTITION BY user_id, date_trunc('month', d)
                            ORDER BY d) AS rn,
         row_number() OVER (PARTITION BY user_id, date_trunc('month', d)
                            ORDER BY d DESC) AS rnd,
         lag(close) OVER (PARTITION BY user_id ORDER BY d) AS prev
  FROM daily
), legs AS (
  SELECT CASE WHEN rnd <= 3 THEN 'last3'
              WHEN rn <= 3 THEN 'first3'
              ELSE 'middle' END AS month_bucket,
         CAST(floor((close / prev - 1.0) * 1e6 + 0.5) AS BIGINT) AS ret_fx
  FROM pos WHERE prev > 0
)
SELECT month_bucket,
       count(*) AS n_obs,
       floor(CAST(sum(ret_fx) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5) / 1e6
         AS mean_return,
       floor(sum(CASE WHEN ret_fx > 0 THEN 1 ELSE 0 END) * 1.0 / count(*)
             * 1e6 + 0.5) / 1e6 AS up_share
FROM legs GROUP BY month_bucket
""")
def q_turn_of_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: turn-of-month seasonality — mean return and up-share by
    month-position bucket (first3/last3/middle via row_number within
    (entity, month)). 1e-6 fixed-point sums; three rows out, ever."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        turn_of_month_effect,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return turn_of_month_effect(daily_close(ev), edge_days=3)


@oracle("""
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), cal AS (
  SELECT d, row_number() OVER (ORDER BY d) AS idx
  FROM (SELECT DISTINCT d FROM daily)
), per AS (
  SELECT user_id, min(d) AS fd, max(d) AS ld, count(*) AS n_days
  FROM daily GROUP BY user_id
)
SELECT p.user_id, p.n_days,
       CAST(h.idx - l.idx + 1 AS BIGINT) AS n_expected,
       CAST((p.n_days * CAST(1000000 AS BIGINT)) // (h.idx - l.idx + 1)
            AS DOUBLE) / 1e6 AS coverage,
       CASE WHEN (p.n_days * CAST(1000000 AS BIGINT)) // (h.idx - l.idx + 1)
                 >= 950000
            THEN 1 ELSE 0 END AS is_complete
FROM per p JOIN cal l ON p.fd = l.d JOIN cal h ON p.ld = h.d
""")
def q_calendar_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: per-entity completeness vs the MARKET calendar (the
    engine form of main.py:126-133's coverage floors). Calendar is
    row_number-indexed once (bounded-by-calendar single partition);
    expected days = two broadcast EQUI-joins on the span endpoints —
    no range/NL join. Coverage = one bigint floor-division."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        trading_calendar_coverage,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return trading_calendar_coverage(daily_close(ev), min_coverage=0.95)


@oracle("""
WITH legs AS (
  SELECT hour(ts) AS hour_of_day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT hour_of_day, count(*) AS n_events,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM legs GROUP BY 1
), tot AS (
  SELECT hour_of_day, n_events, cents,
         cents // CAST(100 AS BIGINT) AS dollars,
         sum(cents // CAST(100 AS BIGINT)) OVER () AS total_d
  FROM per
)
SELECT hour_of_day, n_events,
       floor(CAST(cents AS DOUBLE) / 100.0 * 1e4 + 0.5) / 1e4 AS dollar_volume,
       CAST((dollars * CAST(1000000 AS BIGINT)) // nullif(total_d, 0)
            AS DOUBLE) / 1e6 AS volume_share
FROM tot
""")
def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r10: hour-of-day volume seasonality (execution U-shape).
    Cents bigints; per-hour share via DOLLAR-scaled bigint
    floor-division (documented int64 headroom); 24-row output."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        volume_profile_by_hour,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return volume_profile_by_hour(ev)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT user_id, d,
         CASE WHEN lag(close) OVER w > 0
              THEN CAST(floor((close / lag(close) OVER w - 1.0) * 1e6 + 0.5)
                        AS BIGINT) END AS ret_fx,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor(first_value(close) OVER (
                         PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) + 0.5) AS BIGINT)) AS w_d
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
)
SELECT d,
       count(*) AS n_members,
       CAST(sum(CASE WHEN ret_fx > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_advancers,
       CAST(sum(CASE WHEN ret_fx < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_decliners,
       floor(CAST(sum(w_d * ret_fx) AS DOUBLE) / sum(w_d) / 1e6 * 1e6 + 0.5)
         / 1e6 AS index_return
FROM legs WHERE ret_fx IS NOT NULL GROUP BY d
""")
def q_index_daily_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-weighted market index daily return + breadth counts: weights
    and returns become fixed-point bigints BEFORE the cross-sectional
    sum, so the weighted mean is exact-integer arithmetic until one
    final division. Group-bounded output (one row per date)."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        index_daily_return,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return index_daily_return(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), rets AS (
  SELECT user_id, d,
         CASE WHEN lag(close) OVER w > 0
              THEN close / lag(close) OVER w - 1.0 END AS ret
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
), paired AS (
  SELECT user_id, d, ret,
         lead(ret) OVER (PARTITION BY user_id ORDER BY d) AS fwd
  FROM rets
), ranked AS (
  SELECT d,
         row_number() OVER (PARTITION BY d ORDER BY ret, user_id)
           - row_number() OVER (PARTITION BY d ORDER BY fwd, user_id) AS dd
  FROM paired WHERE ret IS NOT NULL AND fwd IS NOT NULL
), agg AS (
  SELECT d, count(*) AS n_members,
         CAST(sum(dd * dd) AS BIGINT) AS sd2
  FROM ranked GROUP BY d
)
SELECT d, n_members,
       floor((1.0 - 6.0 * sd2 / (CAST(n_members AS BIGINT)
              * (CAST(n_members AS BIGINT) * n_members - 1))) * 1e6 + 0.5)
         / 1e6 AS rank_ic
FROM agg WHERE n_members >= 3
""")
def q_factor_rank_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily momentum rank IC: tie-broken Spearman between today's and
    tomorrow's cross-sectional return ranks — all-integer arithmetic
    until one final division (no float sums anywhere)."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        factor_rank_ic,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return factor_rank_ic(daily_close(ev), min_members=3)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT user_id,
         close / lag(close) OVER w - 1.0 AS ret,
         greatest(CAST(-10000 AS BIGINT),
                  least(CAST(10000 AS BIGINT),
                        CAST(floor((close / lag(close) OVER w - 1.0) * 1e4
                                   + 0.5) AS BIGINT))) AS x
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
), l2 AS (
  SELECT * FROM legs WHERE ret IS NOT NULL
), agg AS (
  SELECT user_id, count(*) AS n_days,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(x * x * x) AS DOUBLE) AS sxxx,
         quantile_cont(ret, 0.05) AS var95
  FROM l2 GROUP BY user_id
), calc AS (
  SELECT user_id, n_days, var95,
         sx / n_days AS mean_bp,
         CASE WHEN n_days >= 2
              THEN (n_days * sxx - sx * sx) / (n_days * (n_days - 1.0)) END
           AS var_bp2,
         sxx / n_days - (sx / n_days) * (sx / n_days) AS m2,
         sxxx / n_days - 3.0 * (sx / n_days) * sxx / n_days
           + 2.0 * (sx / n_days) * (sx / n_days) * (sx / n_days) AS m3
  FROM agg
)
SELECT user_id, n_days,
       floor(mean_bp / 1e4 * 1e6 + 0.5) / 1e6 AS mean_return,
       floor(sqrt(var_bp2) / 1e4 * 1e6 + 0.5) / 1e6 AS volatility,
       CASE WHEN n_days >= 5 AND sqrt(var_bp2) > 0
            THEN floor(mean_bp / sqrt(var_bp2) * 1e6 + 0.5) / 1e6 END AS sharpe,
       CASE WHEN n_days >= 5 AND m2 > 0
            THEN floor(m3 / pow(m2, 1.5) * 1e6 + 0.5) / 1e6 END AS skewness,
       floor(var95 * 1e6 + 0.5) / 1e6 AS var95
FROM calc WHERE n_days >= 2
""")
def q_risk_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity risk report: mean/vol/Sharpe/skew from exact bigint
    power sums of winsorized bp returns + 5% historical VaR via the
    pinned percentile/quantile_cont pairing."""
    from global_stock_data_warehouse_spark.operators.pricing import risk_summary

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return risk_summary(daily_close(ev), min_days=5)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), rets AS (
  SELECT user_id, d,
         CASE WHEN lag(close) OVER w > 0
              THEN close / lag(close) OVER w - 1.0 END AS ret
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
), paired AS (
  SELECT user_id, d, ret,
         CASE WHEN lead(ret) OVER (PARTITION BY user_id ORDER BY d) IS NOT NULL
              THEN CAST(floor(lead(ret) OVER (PARTITION BY user_id ORDER BY d)
                              * 1e6 + 0.5) AS BIGINT) END AS fwd_fx
  FROM rets
), tiled AS (
  SELECT d, fwd_fx,
         ntile(5) OVER (PARTITION BY d ORDER BY ret DESC, user_id) AS tile
  FROM paired WHERE ret IS NOT NULL AND fwd_fx IS NOT NULL
), agg AS (
  SELECT d, count(*) AS n_members,
         CAST(sum(CASE WHEN tile = 1 THEN fwd_fx END) AS BIGINT) AS top_sum,
         sum(CASE WHEN tile = 1 THEN 1 ELSE 0 END) AS top_n,
         CAST(sum(CASE WHEN tile = 5 THEN fwd_fx END) AS BIGINT) AS bot_sum,
         sum(CASE WHEN tile = 5 THEN 1 ELSE 0 END) AS bot_n
  FROM tiled GROUP BY d
)
SELECT d, n_members,
       floor(CAST(top_sum AS DOUBLE) / top_n / 1e6 * 1e6 + 0.5) / 1e6
         AS top_tile_return,
       floor(CAST(bot_sum AS DOUBLE) / bot_n / 1e6 * 1e6 + 0.5) / 1e6
         AS bottom_tile_return,
       floor((CAST(top_sum AS DOUBLE) / top_n / 1e6
              - CAST(bot_sum AS DOUBLE) / bot_n / 1e6) * 1e6 + 0.5) / 1e6
         AS spread
FROM agg WHERE n_members >= 10
""")
def q_decile_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Momentum quintile long-short backtest: per date, equal-weighted
    forward return of the top vs bottom return-quintile and the spread.
    ntile selection is integer-deterministic; tile means are exact
    fixed-point sums."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        decile_spread_backtest,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return decile_spread_backtest(daily_close(ev), n_tiles=5, min_members=10)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT user_id, d,
         CASE WHEN lag(close) OVER w > 0
              THEN greatest(CAST(-50000 AS BIGINT),
                            least(CAST(50000 AS BIGINT),
                                  CAST(floor((close / lag(close) OVER w - 1.0)
                                             * 1e4 + 0.5) AS BIGINT)))
              END AS y,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor(first_value(close) OVER (
                         PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) + 0.5) AS BIGINT)) AS w_d
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
), l2 AS (
  SELECT * FROM legs WHERE y IS NOT NULL
), idx AS (
  SELECT d, CAST(floor(CAST(sum(w_d * y) AS DOUBLE) / sum(w_d) + 0.5)
                 AS BIGINT) AS x
  FROM l2 GROUP BY d
), agg AS (
  SELECT user_id, count(*) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM l2 JOIN idx USING (d) GROUP BY user_id
)
SELECT user_id, n_days,
       CASE WHEN n_days >= 5 AND n_days * sxx - sx * sx > 0
            THEN floor((n_days * sxy - sx * sy) * 1.0
                       / (n_days * sxx - sx * sx) * 1e6 + 0.5) / 1e6
            END AS beta,
       CASE WHEN n_days >= 5 AND n_days * sxx - sx * sx > 0
            THEN floor((sy - (n_days * sxy - sx * sy) * 1.0
                             / (n_days * sxx - sx * sx) * sx)
                       / n_days / 1e4 * 1e6 + 0.5) / 1e6
            END AS alpha
FROM agg
""")
def q_beta_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity market beta vs the cap-weighted index: winsorized
    basis-point returns make every OLS sum exact bigint arithmetic;
    slope/alpha are single closed-form double divisions."""
    from global_stock_data_warehouse_spark.operators.pricing import beta_vs_index

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return beta_vs_index(daily_close(ev), min_days=5)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT d,
         CASE WHEN lag(close) OVER (PARTITION BY user_id ORDER BY d) > 0
              THEN CAST(floor((close / lag(close)
                        OVER (PARTITION BY user_id ORDER BY d) - 1.0)
                        * 1e6 + 0.5) AS BIGINT) END AS ret_fx
  FROM daily
)
SELECT CAST(isodow(d) AS BIGINT) AS iso_dow,
       count(*) AS n_obs,
       floor(CAST(sum(ret_fx) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5) / 1e6
         AS mean_return,
       CAST(sum(CASE WHEN ret_fx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       floor(CAST(sum(CASE WHEN ret_fx > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS up_share
FROM legs WHERE ret_fx IS NOT NULL GROUP BY 1
""")
def q_calendar_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-seasonality screen: per ISO day-of-week, observation
    count, fixed-point-exact mean return, positive-return share.
    Seven-row group-bounded output."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        calendar_anomalies,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return calendar_anomalies(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), legs AS (
  SELECT user_id, d,
         CASE WHEN lag(close) OVER (PARTITION BY user_id ORDER BY d) > 0
              THEN CAST(floor((close / lag(close)
                        OVER (PARTITION BY user_id ORDER BY d) - 1.0)
                        * 1e6 + 0.5) AS BIGINT) END AS ret_fx
  FROM daily
), per_date AS (
  SELECT d,
         sum(CASE WHEN ret_fx > 0 THEN 1 ELSE 0 END) AS adv,
         sum(CASE WHEN ret_fx < 0 THEN 1 ELSE 0 END) AS dec
  FROM legs WHERE ret_fx IS NOT NULL GROUP BY d
), tagged AS (
  SELECT d,
         CASE WHEN adv > dec THEN 'risk_on'
              WHEN adv < dec THEN 'risk_off'
              ELSE 'flat' END AS regime
  FROM per_date
), chg AS (
  SELECT d, regime,
         CASE WHEN lag(regime) OVER w IS NULL
                   OR regime <> lag(regime) OVER w
              THEN 1 ELSE 0 END AS changed
  FROM tagged WINDOW w AS (ORDER BY d)
), runs AS (
  SELECT regime,
         sum(changed) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM chg
), per_run AS (
  SELECT regime, run_id, count(*) AS run_len FROM runs GROUP BY 1, 2
)
SELECT regime,
       CAST(sum(run_len) AS BIGINT) AS n_days,
       count(*) AS n_runs,
       max(run_len) AS longest_run
FROM per_run GROUP BY regime
""")
def q_market_regime_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-momentum regimes (risk-on / risk-off / flat by
    advancer-decliner majority) with per-regime day counts and longest
    consecutive runs; run-length encoding on the one-row-per-date
    frame."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        market_regime_streaks,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return market_regime_streaks(daily_close(ev))
