"""Calendar OHLC resample — the reference's core analytic (A5/W3).

pandas semantics to match (downloader_wmy.py:39-52):
    open   -> first value in bucket (by time)
    high   -> max
    low    -> min
    close  -> last value in bucket (by time)
    volume -> sum
    bucket label = period end (W-FRI / month-end / year-end)
    empty buckets dropped (automatic: groupBy only sees observed rows)

Spark-first design: ONE hash aggregate per (key, bucket) — no window, no
sort. first/last are expressed with ``min_by``/``max_by`` keyed on a
deterministic ordering struct, which (a) is order-insensitive and therefore
safe under Spark's unordered shuffle, unlike bare ``F.first``, and (b) gets
partial aggregation (map-side combine) for free, so at 100 TB the shuffle
carries one row per (symbol, bucket) per map task — not the raw bars.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.functions.buckets import BUCKETERS


def ohlc_resample(
    df: DataFrame,
    freq: str | Sequence[str],
    time_col: str = "date",
    key_cols: Sequence[str] = ("symbol",),
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    volume_col: str = "volume",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate bars into calendar buckets.

    freq: 'W' (week ending Friday), 'M' (month end), 'Y' (year end), or a
    sequence of them. A sequence resamples every frequency in ONE aggregate
    grouped by (key, freq, period_end) over one exploded row per bar and
    frequency, so all of them share a single shuffle — none at all on input
    already hash-partitioned by ``key_cols``.
    ``tiebreak_cols`` extend the first/last ordering beyond ``time_col`` for
    inputs where the time column alone is not unique.
    """
    freqs = [freq] if isinstance(freq, str) else list(freq)
    if not freqs or any(f not in BUCKETERS for f in freqs):
        raise ValueError(f"freq must be one of {sorted(BUCKETERS)}, got {freq!r}")
    if isinstance(freq, str):
        buckets = [BUCKETERS[freq](time_col).alias("period_end")]
    else:
        tagged = [
            F.struct(F.lit(f).alias("freq"), BUCKETERS[f](time_col).alias("period_end"))
            for f in freqs
        ]
        df = df.withColumn("_bucket", F.explode(F.array(*tagged)))
        buckets = [
            F.col("_bucket.period_end").alias("period_end"),
            F.col("_bucket.freq").alias("freq"),
        ]
    order = F.struct(*[F.col(time_col), *[F.col(c) for c in tiebreak_cols]])
    out = df.groupBy(*key_cols, *buckets).agg(
        F.min_by(F.col(open_col), order).alias("open"),
        F.max(F.col(high_col)).alias("high"),
        F.min(F.col(low_col)).alias("low"),
        F.max_by(F.col(close_col), order).alias("close"),
        F.sum(F.col(volume_col)).alias("volume"),
    )
    if isinstance(freq, str):
        return out.withColumn("freq", F.lit(freq))
    return out.select(*key_cols, "period_end", "open", "high", "low", "close", "volume", "freq")
