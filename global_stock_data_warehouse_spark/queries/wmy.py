"""The flagship W/M/Y family: weekly, monthly and yearly OHLC resamples
with period returns (``operators.resample``/``returns``, the reference's
downloader_wmy.py:39-58), the full ``plans.wmy`` pipeline, and the other
queries over the same event bar stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.joins import asof_join
from global_stock_data_warehouse_spark.operators.resample import ohlc_resample
from global_stock_data_warehouse_spark.operators.returns import with_date_gap, with_period_return
from global_stock_data_warehouse_spark.queries import oracle
from global_stock_data_warehouse_spark.sources.registry import load_table


def _event_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a bar stream: user_id=entity, ts=time, value=price.

    A bar without an entity, a time, or a price is not a bar: NULL
    user_id/ts/value rows are excluded at this shared root (one uniform
    contract — mirrored by the `WHERE user_id IS NOT NULL AND ts IS NOT
    NULL AND value IS NOT NULL` clause in every bar-family oracle), the
    same policy the r7 hardening set for cohort/Markov event queries.
    Without it a NULL ts lands a NULL period bucket, a NULL value
    poisons OHLC aggregates, and a NULL entity becomes a phantom
    symbol."""
    return (
        load_table(spark, "events", sf_dir)
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            F.col("user_id"),
            F.col("event_id"),
            F.col("ts"),
            F.to_date("ts").alias("d"),
            F.col("value"),
        )
    )


def _wmy_resample_returns(spark: SparkSession, sf_dir: str, freq: str) -> DataFrame:
    # One explicit hash partition on the entity key: HashPartitioning(user_id)
    # satisfies ClusteredDistribution(user_id, bucket) for the resample agg
    # AND the lag window's requirement, so the whole resample->returns chain
    # runs on a single exchange instead of two (verified via explain).
    bars = _event_bars(spark, sf_dir).repartition("user_id")
    r = ohlc_resample(
        bars,
        freq,
        time_col="d",
        key_cols=("user_id",),
        open_col="value",
        high_col="value",
        low_col="value",
        close_col="value",
        volume_col="value",
        tiebreak_cols=("ts", "event_id"),
    ).withColumnRenamed("volume", "sum_value")
    out = with_period_return(r, key_cols=("user_id",)).drop("freq")
    return out.select(
        "user_id", "period_end", "open", "high", "low", "close", "sum_value", "period_return"
    )


def _wmy_oracle(freq: str) -> str:
    if freq == "W":
        bucket = "CAST(ts AS DATE) + CAST((5 - isodow(CAST(ts AS DATE)) + 7) % 7 AS INTEGER)"
    elif freq == "M":
        bucket = "last_day(CAST(ts AS DATE))"
    else:
        bucket = "make_date(year(ts), 12, 31)"
    return f"""
WITH bars AS (
  SELECT user_id,
         {bucket} AS period_end,
         first(value ORDER BY ts, event_id) AS open,
         max(value) AS high,
         min(value) AS low,
         last(value ORDER BY ts, event_id) AS close,
         sum(value) AS sum_value
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
)
SELECT user_id, period_end, open, high, low, close, sum_value,
       round(close / lag(close) OVER (PARTITION BY user_id ORDER BY period_end) - 1, 4)
         AS period_return
FROM bars
"""


@oracle(_wmy_oracle("W"))
def q_wmy_weekly_resample_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wmy_resample_returns(spark, sf_dir, "W")


@oracle(_wmy_oracle("M"))
def q_wmy_monthly_resample_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wmy_resample_returns(spark, sf_dir, "M")


@oracle(_wmy_oracle("Y"))
def q_wmy_yearly_resample_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wmy_resample_returns(spark, sf_dir, "Y")


@oracle("""
WITH bars AS (
  SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, value FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), gapped AS (
  -- gap counted only when the PREVIOUS bar is already past the cutoff:
  -- diffs within the date >= cutoff subset, boundary gap excluded
  -- (downloader_wmy.py:103-107 filters first, then diffs)
  SELECT user_id, value,
         CASE WHEN lag(d) OVER (PARTITION BY user_id ORDER BY d) >= DATE '2024-01-01'
              THEN date_diff('day', lag(d) OVER (PARTITION BY user_id ORDER BY d), d)
         END AS gap
  FROM bars
), gates AS (
  SELECT user_id,
         max(CASE WHEN value <= 0 THEN 1 ELSE 0 END) = 1 AS invalid_price,
         coalesce(max(gap) > 14, FALSE) AS gap_too_large
  FROM gapped GROUP BY user_id
), clean AS (
  SELECT b.* FROM bars b JOIN gates g ON b.user_id = g.user_id
  WHERE NOT g.invalid_price AND NOT g.gap_too_large
), res AS (
  SELECT user_id, 'W' AS freq,
         d + CAST((5 - isodow(d) + 7) % 7 AS INTEGER) AS period_end,
         first(value ORDER BY ts, event_id) AS open,
         max(value) AS high, min(value) AS low,
         last(value ORDER BY ts, event_id) AS close,
         sum(value) AS sum_value
  FROM clean GROUP BY 1, 3
  UNION ALL
  SELECT user_id, 'M', last_day(d), first(value ORDER BY ts, event_id), max(value),
         min(value), last(value ORDER BY ts, event_id), sum(value)
  FROM clean GROUP BY 1, 3
)
SELECT user_id, freq, period_end, open, high, low, close,
       round(sum_value, 4) AS sum_value,
       round(close / lag(close) OVER (PARTITION BY user_id, freq ORDER BY period_end) - 1, 4)
         AS period_return
FROM res
""")
def q_wmy_gold_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL flagship plan (plans/wmy.py): per-symbol window gates -> one
    W+M resample aggregate -> OHLC gate -> per-(stock,freq) returns, all on
    one hash exchange on the symbol, as one oracle-checked query (events
    mapped to bars: value = OHLC)."""
    from global_stock_data_warehouse_spark.plans.wmy import wmy_pipeline

    bars = _event_bars(spark, sf_dir).select(
        F.col("user_id").alias("symbol"),
        F.col("d").alias("date"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value").alias("open"),
        F.col("value").alias("high"),
        F.col("value").alias("low"),
        F.col("value").alias("close"),
        F.col("value").alias("volume"),
    )
    gold, _ = wmy_pipeline(
        bars,
        time_col="date",
        key_col="symbol",
        freqs=("W", "M"),
        gap_since="2024-01-01",
        max_gap_days=14,
        tiebreak_cols=("ts", "event_id"),
    )
    return gold.select(
        F.col("stock_id").alias("user_id"),
        "freq",
        "period_end",
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("sum_value"),
        "period_return",
    )


@oracle("""
WITH g AS (
  SELECT user_id,
         date_diff('day',
                   lag(CAST(ts AS DATE)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS DATE)),
                   CAST(ts AS DATE)) AS gap_days
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL)
SELECT user_id, max(gap_days) AS max_gap_days FROM g GROUP BY user_id
""")
def q_agg_gap_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+A9: max day-gap between consecutive events per user."""
    ev = _event_bars(spark, sf_dir)
    gaps = with_date_gap(ev, date_col="d", key_cols=("user_id",))
    return gaps.groupBy("user_id").agg(F.max("gap_days").alias("max_gap_days"))


@oracle(f"""
WITH bars AS (
  SELECT user_id,
         CAST(ts AS DATE) + CAST((5 - isodow(CAST(ts AS DATE)) + 7) % 7 AS INTEGER)
           AS period_end,
         last(value ORDER BY ts, event_id) AS bar_close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
)
SELECT e.user_id, e.event_id, CAST(e.ts AS DATE) AS d, e.value,
       b.bar_close, b.period_end AS bar_period_end
FROM (SELECT * FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL) e
ASOF LEFT JOIN bars b
  ON e.user_id = b.user_id AND CAST(e.ts AS DATE) >= b.period_end
""")
def q_asof_join_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine extension): each event matched to the latest
    weekly bar whose period_end <= the event date, per user. Union +
    running-last window — one shuffle, no range-join pair explosion."""
    ev = _event_bars(spark, sf_dir).select("user_id", "event_id", "d", "value")
    bars = _wmy_resample_returns(spark, sf_dir, "W").select(
        "user_id", "period_end", F.col("close").alias("bar_close")
    )
    out = asof_join(ev, bars, on="user_id", left_ts="d", right_ts="period_end")
    return out.select(
        "user_id",
        "event_id",
        "d",
        "value",
        F.col("r_bar_close").alias("bar_close"),
        F.col("r_period_end").alias("bar_period_end"),
    )


@oracle("""
WITH bars AS (
  SELECT user_id,
         CAST(ts AS DATE) + CAST((5 - isodow(CAST(ts AS DATE)) + 7) % 7 AS INTEGER)
           AS period_end,
         last(value ORDER BY ts, event_id) AS bar_close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
), m AS (
  SELECT e.user_id, e.event_id, CAST(e.ts AS DATE) AS d, e.value,
         b.bar_close, b.period_end
  FROM (SELECT * FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL) e
  ASOF LEFT JOIN bars b
    ON e.user_id = b.user_id AND CAST(e.ts AS DATE) >= b.period_end
)
SELECT user_id, event_id, d, value,
       CASE WHEN d - period_end > 14 THEN NULL ELSE bar_close END AS bar_close,
       CASE WHEN d - period_end > 14 THEN NULL ELSE period_end END
         AS bar_period_end
FROM m
""")
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness cap (tolerance_days=14): a match older
    than two weeks is nulled out — the reference's freshness-gate intent
    (main.py:101-112) as a join property. Same union + running-last plan
    as q_asof_join_bars; the tolerance is a map-side post-filter, zero
    extra shuffles."""
    ev = _event_bars(spark, sf_dir).select("user_id", "event_id", "d", "value")
    bars = _wmy_resample_returns(spark, sf_dir, "W").select(
        "user_id", "period_end", F.col("close").alias("bar_close")
    )
    out = asof_join(
        ev, bars, on="user_id", left_ts="d", right_ts="period_end",
        tolerance_days=14,
    )
    return out.select(
        "user_id",
        "event_id",
        "d",
        "value",
        F.col("r_bar_close").alias("bar_close"),
        F.col("r_period_end").alias("bar_period_end"),
    )


@oracle("""
SELECT user_id, event_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS avg_7row,
       round(sum(value) OVER (PARTITION BY user_id
                              ORDER BY date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                              RANGE BETWEEN 13 PRECEDING AND CURRENT ROW), 4) AS sum_14day
FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
""")
def q_win_rolling_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frames: 7-row rolling mean (ROWS BETWEEN) and
    14-day trailing sum (RANGE BETWEEN on days-since-epoch)."""
    ev = _event_bars(spark, sf_dir)
    rows_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    range_w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff("d", F.lit("1970-01-01")))
        .rangeBetween(-13, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(rows_w), 4).alias("avg_7row"),
        F.round(F.sum("value").over(range_w), 4).alias("sum_14day"),
    )


@oracle("""
WITH bars AS (
  SELECT user_id,
         CAST(ts AS DATE) + CAST((5 - isodow(CAST(ts AS DATE)) + 7) % 7 AS INTEGER)
           AS period_end,
         first(value ORDER BY ts, event_id) AS open,
         max(value) AS high,
         min(value) AS low,
         last(value ORDER BY ts, event_id) AS close
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2
)
SELECT user_id, period_end, 'open' AS metric, open AS value FROM bars
UNION ALL SELECT user_id, period_end, 'high', high FROM bars
UNION ALL SELECT user_id, period_end, 'low', low FROM bars
UNION ALL SELECT user_id, period_end, 'close', close FROM bars
""")
def q_unpivot_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape (UNPIVOT/melt) of the weekly OHLC bars: the
    4 price columns stack into (metric, value) rows map-side — no
    shuffle beyond the resample's own; the melt itself is a pure
    projection (Expand), engine-exact value copies."""
    bars = _wmy_resample_returns(spark, sf_dir, "W").select(
        "user_id", "period_end", "open", "high", "low", "close"
    )
    return bars.unpivot(
        ids=["user_id", "period_end"],
        values=["open", "high", "low", "close"],
        variableColumnName="metric",
        valueColumnName="value",
    )
