"""Time-series operators (``operators.timeseries``, ``operators.rollup``):
indicators, autocorrelation, drawdowns, gap filling, trends and rolling
betas, with fixed-point twins of the float ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.rollup import multi_resolution_rollup
from global_stock_data_warehouse_spark.operators.timeseries import (
    daily_close,
    drawdown_stats,
    tech_indicators,
)
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


def _acf_fx_oracle(lags: tuple[int, ...] = (1, 2, 3, 5)) -> str:
    """DuckDB twin of autocorrelation_fx: per-lag Pearson ACF from
    HUGEINT sums of integer daily-close cents (the exact arithmetic the
    Spark side does in decimal(38,0)); floor(x*1e6+0.5) final round."""
    lag_cols = ",\n         ".join(
        f"lag(x, {k}) OVER (PARTITION BY user_id ORDER BY d) AS y{k}" for k in lags
    )

    def acf(k: int) -> str:
        x = f"CASE WHEN y{k} IS NOT NULL THEN CAST(x AS HUGEINT) END"
        y = f"CAST(y{k} AS HUGEINT)"
        n, sx, sy = f"count(y{k})", f"sum({x})", f"sum({y})"
        sxy, sxx, syy = f"sum(({x}) * y{k})", f"sum(({x}) * x)", f"sum({y} * y{k})"
        num = f"({n}*{sxy} - {sx}*{sy})"
        dx = f"({n}*{sxx} - {sx}*{sx})"
        dy = f"({n}*{syy} - {sy}*{sy})"
        return (
            f"CASE WHEN {dx} > 0 AND {dy} > 0 THEN "
            f"floor(CAST({num} AS DOUBLE) / (sqrt(CAST({dx} AS DOUBLE)) * "
            f"sqrt(CAST({dy} AS DOUBLE))) * 1e6 + 0.5) / 1e6 END AS acf{k}"
        )

    accs = ",\n       ".join(acf(k) for k in lags)
    return f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(floor(last(value ORDER BY ts, event_id) * 100 + 0.5) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
), lagged AS (
  SELECT user_id, x,
         {lag_cols}
  FROM daily
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
       {accs}
FROM lagged GROUP BY user_id ORDER BY user_id
"""


# the two-phase skew-bounded fold must produce IDENTICAL sessions:
# same oracle, verbatim — equivalence is driver-hash-checked
@oracle(lambda o: o["sessionize"])
def q_sessionize_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase (skew-bounded) sessionization fold, oracled against
    the SAME SQL as q_sessionize: per-task rows are bounded by one
    (user, 30-day bucket) slice, so a power-law user cannot serialize
    the stage — and the output is provably identical to the one-window
    form (shared oracle = the equivalence is driver-hash-checked, not
    just pytest-asserted)."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        sessionize_two_phase,
    )

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    sess = sessionize_two_phase(ev, gap_sec=2 * 86400)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.sum(F.round(F.col("value") * 100, 0)) / 100.0).alias("sum_value"),
    )


@oracle("""
WITH base AS (
  SELECT user_id, value,
         date_trunc('day', ts) AS rd,
         date_trunc('week', ts) AS rw,
         date_trunc('month', ts) AS rm
  FROM events
)
SELECT user_id,
       CASE WHEN GROUPING(rd) = 0 THEN 'day'
            WHEN GROUPING(rw) = 0 THEN 'week'
            ELSE 'month' END AS resolution,
       CAST(coalesce(rd, rw, rm) AS DATE) AS bucket_start,
       count(*) AS n_rows,
       round(sum(value), 6) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM base
GROUP BY GROUPING SETS ((user_id, rd), (user_id, rw), (user_id, rm))
""")
def q_multi_res_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: day/week/month rollups of
    events in ONE grouping-sets pass (one scan, one shuffle, shared
    map-side partials) instead of three separate aggregations."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    out = multi_resolution_rollup(ev)
    return out.withColumn("bucket_start", F.to_date("bucket_start"))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), diffs AS (
  SELECT user_id, d, close,
         close - lag(close) OVER pk AS diff,
         CASE WHEN close > 0 AND lag(close) OVER pk > 0
              THEN ln(close / lag(close) OVER pk) END AS lr
  FROM daily
  WINDOW pk AS (PARTITION BY user_id ORDER BY d)
), gl AS (
  SELECT *,
         CASE WHEN diff > 0 THEN diff WHEN diff IS NOT NULL THEN 0.0 END AS gain,
         CASE WHEN diff < 0 THEN -diff WHEN diff IS NOT NULL THEN 0.0 END AS loss
  FROM diffs
), win AS (
  SELECT user_id, d, close,
         list(close) OVER w20 AS vals,
         avg(close) OVER w20 AS boll_mid,
         stddev_samp(close) OVER w20 AS sd20,
         stddev_samp(lr) OVER w20 AS vol20,
         avg(gain) OVER w14 AS ag,
         avg(loss) OVER w14 AS al
  FROM gl
  WINDOW w20 AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         w14 AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT user_id, d,
       round(close, 6) AS close,
       round(list_sum(list_transform(vals, (x, i) -> x * pow(0.9, len(vals) - i)))
             / ((1 - pow(0.9, len(vals))) / 0.1), 6) AS ewma20,
       round(vol20, 6) AS vol20,
       round(CASE WHEN al = 0 THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi14,
       round(boll_mid, 6) AS boll_mid,
       round(boll_mid + 2.0 * sd20, 6) AS boll_up,
       round(boll_mid - 2.0 * sd20, 6) AS boll_dn
FROM win
""")
def q_tech_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market indicator battery over event ticks: daily close -> EWMA(20),
    20-day volatility of log returns, RSI(14), Bollinger(20,2). One
    shuffle for the whole chain (HashPartitioning(user_id) satisfies the
    daily groupBy AND every window)."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return tech_indicators(ev)


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), lagged AS (
  SELECT user_id, close,
         lag(close, 1) OVER w AS l1,
         lag(close, 2) OVER w AS l2,
         lag(close, 3) OVER w AS l3,
         lag(close, 5) OVER w AS l5
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_days,
       round(corr(close, l1), 4) AS acf1,
       round(corr(close, l2), 4) AS acf2,
       round(corr(close, l3), 4) AS acf3,
       round(corr(close, l5), 4) AS acf5
FROM lagged GROUP BY user_id
ORDER BY user_id
""")
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity ACF at lags 1/2/3/5 over daily closes — the
    mean-reversion/momentum diagnostic. One exchange serves every lag
    window AND the final per-key corr agg. corr() sums floats in
    partition order -> EPS-compared in the mirror (outside the driver
    hash window)."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        autocorrelation,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return autocorrelation(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), dd AS (
  SELECT user_id, d, close,
         close / max(close) OVER (PARTITION BY user_id ORDER BY d
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0
           AS drawdown
  FROM daily
)
SELECT user_id,
       round(min(drawdown), 6) AS max_drawdown,
       round(last(close ORDER BY d) / first(close ORDER BY d) - 1.0, 6) AS cum_return
FROM dd GROUP BY user_id
""")
def q_drawdown_cumret(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity max drawdown (min close/running-peak - 1) and total
    cumulative return — running-max window + one final agg, one shuffle."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return drawdown_stats(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, avg(value) AS v
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
), idx AS (
  SELECT CAST(ts AS DATE) AS d, avg(value) AS m
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY CAST(ts AS DATE)
), joined AS (
  SELECT daily.user_id, daily.d, daily.v, idx.m FROM daily JOIN idx USING (d)
), windowed AS (
  SELECT user_id, d,
         round(covar_samp(v, m) OVER w / var_samp(m) OVER w, 4) AS beta,
         round(corr(v, m) OVER w, 4) AS corr_vm,
         CAST(count(*) OVER w AS BIGINT) AS n_obs
  FROM joined
  WINDOW w AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT user_id, d, beta, corr_vm, n_obs FROM windowed
WHERE n_obs >= 5
ORDER BY user_id, d
""")
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-day beta + correlation of each entity's daily series vs
    the cross-sectional market index (downloader-era per-symbol analytics
    the warehouse exists to serve). Plan: two hash aggs share the scan,
    tiny index side broadcast back, then ONE window pass per entity —
    covar/var/corr all ride the same frame."""
    # same NULL-row exclusion contract as daily_close/_event_bars,
    # mirrored by the oracle's WHERE (a NULL user would otherwise be a
    # phantom entity in `daily` while still feeding the market index)
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.avg("value").alias("v")
    )
    index = ev.groupBy(F.to_date("ts").alias("d")).agg(F.avg("value").alias("m"))
    joined = daily.join(F.broadcast(index), "d")
    w = Window.partitionBy("user_id").orderBy("d").rowsBetween(-19, Window.currentRow)
    out = joined.select(
        "user_id",
        "d",
        F.round(F.covar_samp("v", "m").over(w) / F.var_samp("m").over(w), 4).alias(
            "beta"
        ),
        F.round(F.corr("v", "m").over(w), 4).alias("corr_vm"),
        F.count(F.lit(1)).over(w).alias("n_obs"),
    )
    return out.filter(F.col("n_obs") >= 5).orderBy("user_id", "d")


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), f AS (
  SELECT user_id, d,
         CASE WHEN close > lag(close) OVER (PARTITION BY user_id ORDER BY d)
              THEN 1 ELSE 0 END AS up
  FROM daily
), g AS (
  SELECT user_id, up,
         sum(1 - up) OVER (PARTITION BY user_id ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM f
), runs AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS run_len
  FROM g WHERE up = 1 GROUP BY 1, 2
), s AS (
  SELECT user_id, max(run_len) AS m FROM runs GROUP BY 1
)
SELECT du.user_id, CAST(coalesce(s.m, 0) AS BIGINT) AS longest_up_streak
FROM (SELECT DISTINCT user_id FROM daily) du LEFT JOIN s USING (user_id)
""")
def q_longest_up_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands on a VALUE condition: longest run of consecutive
    up-days per entity. Island id = running count of non-up days; the
    run length is a count per (user, island) of up rows; all windows and
    groups share one user-key shuffle. Integer output — bit-exact."""
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    d = daily_close(ev)
    w = Window.partitionBy("user_id").orderBy("d")
    up = (F.col("close") > F.lag("close").over(w)).cast("int")
    flagged = d.withColumn("up", F.coalesce(up, F.lit(0)))
    grp = F.sum(1 - F.col("up")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        flagged.withColumn("grp", grp)
        .filter(F.col("up") == 1)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    streaks = runs.groupBy("user_id").agg(F.max("run_len").alias("longest_up_streak"))
    all_users = d.select("user_id").distinct()
    return all_users.join(streaks, "user_id", "left_outer").select(
        "user_id", F.coalesce("longest_up_streak", F.lit(0)).alias("longest_up_streak")
    )


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), ch AS (
  SELECT d,
         CASE WHEN close > lag(close) OVER w THEN 1
              WHEN close < lag(close) OVER w THEN -1
              ELSE 0 END AS chg,
         lag(close) OVER w IS NULL AS firstrow
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d)
)
SELECT d,
       CAST(sum(CASE WHEN chg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
       CAST(sum(CASE WHEN chg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
       CAST(sum(CASE WHEN chg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
FROM ch WHERE NOT firstrow GROUP BY d
""")
def q_market_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advancers / decliners / unchanged per day from daily closes — the
    market-breadth monitor. Daily close agg + lag window share one
    entity-key shuffle; the day rollup is a tiny aggregate. Counts only:
    bit-exact."""
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    d = daily_close(ev)
    w = Window.partitionBy("user_id").orderBy("d")
    prev = F.lag("close").over(w)
    chg = F.when(prev.isNull(), None).when(F.col("close") > prev, 1).when(
        F.col("close") < prev, -1
    ).otherwise(0)
    return (
        d.withColumn("chg", chg)
        .filter(F.col("chg").isNotNull())
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("chg") == 1, 1).otherwise(0)).alias("advancers"),
            F.sum(F.when(F.col("chg") == -1, 1).otherwise(0)).alias("decliners"),
            F.sum(F.when(F.col("chg") == 0, 1).otherwise(0)).alias("unchanged"),
        )
    )


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id
), spine AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
  FROM spans
), j AS (
  SELECT s.user_id, s.d, dl.close, dl.user_id IS NULL AS is_filled
  FROM spine s LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.d = dl.d
), anch AS (
  SELECT user_id, d, close, is_filled,
         last_value(close IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN close IS NOT NULL THEN d END IGNORE NULLS) OVER wb AS pd,
         first_value(close IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN close IS NOT NULL THEN d END IGNORE NULLS) OVER wf AS nd
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, d,
       round(CASE WHEN NOT is_filled THEN close
                  WHEN nd IS NOT NULL
                  THEN pv + (nv - pv) * (CAST(d - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
                  ELSE pv END, 6) AS close,
       is_filled
FROM anch
""")
def q_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine regularization with LINEAR interpolation of interior
    gaps (pandas interpolate(method='time'), distributed): prev/next
    anchors via ignore-nulls last/first windows on one key partitioning;
    the tail forward-fills. Identical arithmetic expression on both
    engines -> 6dp-stable."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        daily_close,
        gap_fill_ffill,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    out = gap_fill_ffill(daily_close(ev), method="linear")
    return out.select(
        "user_id", "d", F.round("close", 6).alias("close"), "is_filled"
    )


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), sums AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(d - DATE '1970-01-01' AS DOUBLE)) AS sx,
         sum(round(close * 100, 0)) AS sy,
         sum(CAST(d - DATE '1970-01-01' AS DOUBLE)
             * CAST(d - DATE '1970-01-01' AS DOUBLE)) AS sxx,
         sum(CAST(d - DATE '1970-01-01' AS DOUBLE) * round(close * 100, 0)) AS sxy,
         sum(round(close * 100, 0) * round(close * 100, 0)) AS syy
  FROM daily GROUP BY user_id
)
SELECT user_id, n,
       round(CASE WHEN n * sxx - sx * sx > 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100
             END, 6) AS slope,
       round(CASE WHEN n * sxx - sx * sx > 0
                  THEN (sy / 100 - (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100 * sx) / n
             END, 4) AS intercept,
       round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 6) AS r2
FROM sums
""")
def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity OLS trend (slope/intercept/R² of daily close over epoch
    days) — grouped regression in one shuffle. The five OLS sums run over
    integer-valued doubles (x = epoch day, y = close*100), so they are
    exact and order-independent; each output is one closed-form division
    over exact sums -> bit-stable across engines."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        daily_close,
        trend_ols,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return trend_ols(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id
), spine AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
  FROM spans
)
SELECT s.user_id, s.d,
       last_value(dl.close IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
       dl.user_id IS NULL AS is_filled
FROM spine s LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.d = dl.d
""")
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine regularization + forward fill (asfreq('D').ffill(),
    distributed): the spine explodes from ONE row per key (min/max agg),
    the join back and the ignore-nulls last window reuse the key hash
    partitioning. Values are copied, never computed -> bit-exact."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        daily_close,
        gap_fill_ffill,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return gap_fill_ffill(daily_close(ev)).select(
        "user_id", "d", "close", "is_filled"
    )


@oracle(_acf_fx_oracle())
def q_autocorrelation_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact ACF twin (r6): same Pearson ACF at lags 1/2/3/5 as
    q_autocorrelation, but from integer-cents sums — no libm anywhere in
    the formula (IEEE /, sqrt are correctly rounded; ln is not), so this
    variant is bit-identical across engines and driver-window-eligible
    where the float original is EPS-only forever."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        autocorrelation_fx,
        daily_close,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return autocorrelation_fx(daily_close(ev))


@oracle("""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(floor(last(value ORDER BY ts, event_id) * 100 + 0.5) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
), idx AS (
  SELECT d, sum(CAST(x AS HUGEINT)) AS m FROM daily GROUP BY d
), s AS (
  SELECT daily.user_id, daily.d,
         count(*) OVER w AS n,
         sum(CAST(daily.x AS HUGEINT)) OVER w AS sx,
         sum(idx.m) OVER w AS sm,
         sum(CAST(daily.x AS HUGEINT) * idx.m) OVER w AS sxm,
         sum(CAST(daily.x AS HUGEINT) * daily.x) OVER w AS sxx,
         sum(idx.m * idx.m) OVER w AS smm
  FROM daily JOIN idx USING (d)
  WINDOW w AS (PARTITION BY daily.user_id ORDER BY daily.d
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT user_id, d,
       CASE WHEN (n*smm - sm*sm) > 0
            THEN floor(CAST(n*sxm - sx*sm AS DOUBLE) / CAST(n*smm - sm*sm AS DOUBLE)
                       * 1e6 + 0.5) / 1e6 END AS beta,
       CASE WHEN (n*sxx - sx*sx) > 0 AND (n*smm - sm*sm) > 0
            THEN floor(CAST(n*sxm - sx*sm AS DOUBLE)
                       / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                          * sqrt(CAST(n*smm - sm*sm AS DOUBLE)))
                       * 1e6 + 0.5) / 1e6 END AS corr_vm,
       CAST(n AS BIGINT) AS n_obs
FROM s WHERE n >= 5 ORDER BY user_id, d
""")
def q_rolling_beta_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact rolling-beta twin (r6): 20-day beta/corr of each
    entity's daily close vs the cross-sectional index level (sum of
    closes), all accumulation in integer cents -> driver-hash-eligible
    (q_rolling_beta's covar/var/corr float path stays EPS-only)."""
    from global_stock_data_warehouse_spark.operators.timeseries import (
        rolling_beta_fx,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "ts", "value")
    return rolling_beta_fx(ev)
