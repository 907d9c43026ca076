"""The flagship pipeline: validate -> quarantine -> W/M/Y resample -> returns.

Re-expresses the reference's per-file thread-pool pipeline
(downloader_wmy.py:130-179) as ONE distributed job over ONE hash exchange
on the symbol:

    daily bars ─ repartition(symbol) ─ series gates (per-symbol windows)
        │
        └─ ohlc_resample(W, M, Y): one aggregate on (symbol, freq, period_end)
              │
              ├─ OHLC gate (per-symbol window) ─ filter ─ with_period_return ─> gold
              └─ groupBy(symbol) ──────────────────────────────────────────> verdicts

Semantics order matters and matches the reference: returns are computed
AFTER quarantine, per (stock, freq), on the resampled series
(downloader_wmy.py:111-117), and the OHLC-violation gate runs on the
RESAMPLED frames (downloader_wmy.py:118-122), not the raw bars — a raw-level
check would be strictly stronger (resampled close>max(high) implies some raw
close>high, not vice versa) and would quarantine symbols the reference
keeps. A symbol violating in ANY frequency frame is dropped from ALL
frequencies, like the reference's whole-file skip.

Scale: every step is per symbol, so HashPartitioning(symbol) satisfies
them all (the windows, the resample aggregate keyed on a superset of the
symbol, the verdict groupBy and the returns window on (stock_id, freq)).
Symbols failing the series gates are resampled too and filtered out of
gold afterwards, which gives the same gold as filtering first since no
symbol's buckets depend on another's; gold and verdicts then both come
from the one aggregate, with no join.
No broadcast, no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.resample import ohlc_resample
from global_stock_data_warehouse_spark.operators.returns import with_period_return
from global_stock_data_warehouse_spark.operators.validate import (
    SERIES_GATES,
    observed,
    ohlc_violation,
    with_series_gates,
)


def wmy_pipeline(
    bars: DataFrame,
    time_col: str = "date",
    key_col: str = "symbol",
    freqs: Sequence[str] = ("W", "M", "Y"),
    gap_since: str = "2024-01-01",
    max_gap_days: int = 14,
    tiebreak_cols: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """Return (gold, verdicts).

    gold: period_end, open, high, low, close, volume, freq, stock_id,
    period_return — the reference's W/M/Y parquet schema (FIXTURES.md §B4).
    verdicts: one row per symbol with gate booleans (feeds the audit table).

    A NULL symbol is one series to every window and aggregate, but, as a
    NULL key matches no verdict in a join on the symbol, its bars pass the
    series gates and its ``ohlc_violation`` is False; gold still drops it
    on a resampled OHLC violation (pinned in tests/test_wmy_pipeline.py).
    """
    gated = with_series_gates(
        bars.repartition(key_col),
        key_cols=(key_col,),
        date_col=time_col,
        gap_since=gap_since,
        max_gap_days=max_gap_days,
    )
    resampled = ohlc_resample(
        gated,
        tuple(freqs),
        time_col=time_col,
        key_cols=(key_col, *SERIES_GATES),
        tiebreak_cols=tiebreak_cols,
    )
    key = F.col(key_col)
    series_ok = ~F.col("invalid_price") & ~F.col("gap_too_large")

    # post-resample OHLC gate (downloader_wmy.py:118-122): any violating
    # bucket in ANY freq drops the symbol everywhere
    ohlc_bad = F.max(ohlc_violation()).over(Window.partitionBy(key_col))
    kept = (
        resampled.withColumn("_ohlc_bad", ohlc_bad)
        .filter((series_ok | key.isNull()) & ~F.col("_ohlc_bad"))
        .select(
            key.alias("stock_id"), "period_end", "open", "high", "low", "close", "volume", "freq"
        )
    )
    gold = with_period_return(kept, key_cols=("stock_id", "freq"))

    # gate 4 only runs past gates 2-3, like the reference's skip order
    ohlc = key.isNotNull() & series_ok & F.col("_ohlc_bad")
    verdicts = (
        resampled.groupBy(key_col, *SERIES_GATES)
        .agg(F.max(ohlc_violation()).alias("_ohlc_bad"))
        .select(
            key_col,
            *SERIES_GATES,
            (series_ok & ~ohlc).alias("passed"),
            ohlc.alias("ohlc_violation"),
        )
    )
    return gold, verdicts


def incremental_wmy(
    bars: DataFrame,
    delta: DataFrame,
    gold_prev: DataFrame,
    verdicts_prev: DataFrame,
    key_col: str = "symbol",
    **wmy_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Incremental gold refresh: recompute ONLY symbols present in the new
    ``delta`` batch; splice everything else through from the previous run.

    The reference re-runs the whole per-file conversion on every sync
    (downloader_wmy.py:130-179 loops every input file); its only
    incrementality is the driver-level watermark skip (main.py:101-112).
    This plan makes incrementality symbol-grained: resample buckets,
    period returns, and validation gates are all per-symbol functions of
    that symbol's FULL history, so the changed-symbol set is the exact
    recompute frontier — results are bit-identical to a full rerun
    (asserted in tests/test_wmy_pipeline.py).

    Scale: the changed-symbol set is collected once, in one Spark job
    (``validate.observed``); it is bounded by the symbol universe. The
    fact scan is then filtered to it (an ``In``/``InSet`` predicate, which
    Parquet can push down), and untouched gold/verdict rows pass through a
    filter on its complement: no join, no broadcast. Work scales with the
    delta, not the table. A NULL symbol is never recomputed, and NULL-key
    rows of the previous run pass through.
    """
    changed = observed(delta, F.collect_set(key_col).alias("changed")).changed
    gold_changed, verdicts_changed = wmy_pipeline(
        bars.filter(F.col(key_col).isin(changed)), key_col=key_col, **wmy_kwargs
    )

    def untouched(col: str):
        return F.col(col).isNull() | ~F.col(col).isin(changed)

    return (
        gold_prev.filter(untouched("stock_id")).unionByName(gold_changed),
        verdicts_prev.filter(untouched(key_col)).unionByName(verdicts_changed),
    )


def audit_record(verdicts: DataFrame, market_id: str) -> DataFrame:
    """One audit row from the verdict dim (K3 / wmy_conversion_audit).

    total = success + skip; success_rate = round(success/total*100, 2);
    execution_time in UTC+8 (downloader_wmy.py:62-83 semantics).
    """
    return verdicts.agg(
        F.lit(market_id).alias("market_id"),
        F.count(F.lit(1)).alias("total_files"),
        F.sum(F.col("passed").cast("long")).alias("success_count"),
        F.sum((~F.col("passed")).cast("long")).alias("skip_count"),
        F.round(F.sum(F.col("passed").cast("long")) * 100.0 / F.count(F.lit(1)), 2).alias(
            "success_rate"
        ),
    ).withColumn(
        "execution_time", F.from_utc_timestamp(F.current_timestamp(), "Asia/Taipei")
    )
