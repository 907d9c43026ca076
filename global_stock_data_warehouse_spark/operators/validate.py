"""Per-entity data-quality gates (A8/A9 + the wmy SKIP gates).

The reference validates each symbol's series before resampling and silently
skips failures (downloader_wmy.py:94-122):
  gate 2: any(close <= 0)                      -> invalid_price
  gate 3: max date-gap since 2024-01-01 > 14d  -> gap_too_large
  gate 4: any(close > high or close < low)     -> ohlc_violation  (post-resample)
(gate 1, empty file, is vacuous in a table-scan world: no rows, no group.)

Spark-first: gates 2-3 are per-entity window columns, so every row carries
its entity's verdict and a caller filters or aggregates on it over the
partitioning the windows already need — no verdict dim, no join back.
Gate 4 is a row expression; callers aggregate it per entity wherever the
frame it must see (the resampled one) is built.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Row, Window
from pyspark.sql import functions as F

SERIES_GATES = ("invalid_price", "gap_too_large", "n_rows")


def with_series_gates(
    df: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    date_col: str = "date",
    close_col: str = "close",
    gap_since: str = "2024-01-01",
    max_gap_days: int = 14,
) -> DataFrame:
    """Add the pre-resample gates as per-entity window columns
    (``SERIES_GATES``): ``invalid_price`` (gate 2), ``gap_too_large``
    (gate 3) and ``n_rows``; every row of an entity carries the same values.

    Gap semantics mirror the reference exactly (downloader_wmy.py:103-107):
    the series is FIRST restricted to dates >= ``gap_since`` and gaps are
    diffs WITHIN that subset — the boundary gap from the last pre-cutoff
    bar is never counted, and a subset with <2 rows yields no gap at all.
    Because dates are monotone under the window order, "previous row is
    also post-cutoff" (lag(date) >= gap_since) selects exactly the
    subset-internal diffs without a second pass over the data.

    Both windows need only a clustering on ``key_cols``, so on input
    already hash-partitioned by them they add a sort and no exchange.
    """
    prev = F.lag(F.col(date_col)).over(Window.partitionBy(*key_cols).orderBy(date_col))
    gap = F.when(prev >= F.lit(gap_since), F.datediff(F.col(date_col), prev))
    entity = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_gap", gap)
        .withColumns(
            {
                "invalid_price": F.max(F.when(F.col(close_col) <= 0, 1).otherwise(0))
                .over(entity)
                .cast("boolean"),
                "gap_too_large": F.coalesce(
                    F.max("_gap").over(entity) > max_gap_days, F.lit(False)
                ),
                "n_rows": F.count(F.lit(1)).over(entity),
            }
        )
        .drop("_gap")
    )


def ohlc_violation(close_col: str = "close", high_col: str = "high", low_col: str = "low") -> Column:
    """Gate 4 on one row: close outside [low, high]. NULL prices do not
    violate, so the column is never NULL."""
    close = F.col(close_col)
    return F.coalesce((close > F.col(high_col)) | (close < F.col(low_col)), F.lit(False))


def freshness_watermark(
    df: DataFrame,
    date_col: str = "date",
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """MAX(date) freshness watermark (A2 / main.py:101-112 intent) —
    overall, or per key when ``key_cols`` given, as a frame. The
    driver-side incremental gate on the same MAX is ``needs_update``."""
    if key_cols:
        return df.groupBy(*key_cols).agg(F.max(date_col).alias("watermark"))
    return df.agg(F.max(date_col).alias("watermark"))


def observed(df: DataFrame, *aggs: Column) -> Row:
    """The global aggregates ``aggs`` of ``df``, as ``df.agg(*aggs).first()``
    gives them, with no exchange of their own: they are observed on a
    no-op write of ``df``, so a ``df`` without an exchange takes ONE Spark
    job. Each task's partial aggregates are folded in the job's result
    stage, which applies each task's update exactly once. Under AQE a
    global ``agg(...).first()`` is two jobs, a map stage and a result
    stage. The aggregates come back to the driver whole, so a set
    aggregate must be bounded (e.g. by the symbol universe)."""
    obs = Observation()
    df.observe(obs, *aggs).select().write.format("noop").mode("overwrite").save()
    return Row(**obs.get)


def needs_update(df: DataFrame, as_of, date_col: str = "date") -> bool:
    """True if the table's watermark is strictly behind ``as_of``. Empty
    table -> True (never synced). NOT swallowed on error — a broken scan
    must fail the run, unlike the reference's bare ``except: return True``
    (main.py:112), which silently re-ran a possibly-corrupt pipeline."""
    watermark = observed(df, F.max(date_col).alias("watermark")).watermark
    return watermark is None or watermark < as_of
