"""Market-sync orchestration (SURVEY §3 entry points 1-2, the INTENDED
contract).

The reference's orchestrator calls ``run_sync(start_date=..., end_date=...,
max_workers=8)`` (main.py:166-170) while its downloaders only accept
``mode='hot'`` — a latent TypeError (SURVEY §Defects-1). This module
implements the contract the orchestrator intended:

    freshness gate -> bounded driver-thread fetch -> dead-letter quarantine ->
    keyed idempotent upsert -> summary aggregates

as a composition of engine operators. The return dict mirrors
``run_sync``'s shape plus ``get_db_summary``'s fields (main.py:114-137),
with ``fail_list`` populated from the dead-letter rows the reference
silently swallowed.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.upsert import upsert_keyed
from global_stock_data_warehouse_spark.operators.validate import needs_update, observed
from global_stock_data_warehouse_spark.sources.fetch import fetch_timeseries, split_quarantine
from global_stock_data_warehouse_spark.sources.registry import read_parquet
from global_stock_data_warehouse_spark.storage.compact import table_exists

BAR_SCHEMA = (
    "date string, open double, high double, low double, close double, "
    "volume bigint, symbol string, _fetch_error string"
)


def get_summary(bars: DataFrame) -> dict:
    """get_db_summary (main.py:114-137): the three aggregates, observed in
    one Spark job with no exchange (``validate.observed``); the distinct
    count is the size of a set aggregate, which the symbol universe
    bounds."""
    return observed(
        bars,
        F.size(F.collect_set("symbol")).alias("total_stocks"),
        F.max("date").alias("latest_date"),
        F.count(F.lit(1)).alias("total_records"),
    ).asDict()


def sync_market(
    spark: SparkSession,
    symbols: DataFrame,
    fetch_fn: Callable[[str], "pd.DataFrame"],
    bars_path: str,
    as_of: dt.date | str | None = None,
    max_workers: int = 8,
    schema: str = BAR_SCHEMA,
) -> dict:
    """One market sync run. ``as_of`` drives the incremental gate: if the
    stored watermark already covers it, the fetch is skipped entirely
    (main.py:101-112 intent, without the bare-except). A bars store that
    exists but cannot be read raises instead of passing for empty.
    ``fail_list`` holds the first 10 dead letters in symbol order. The
    symbol universe is collected once (no job when pandas-built);
    ``fetch_fn`` runs on up to ``max_workers`` driver threads, so it must
    be thread-safe or ``max_workers`` 1. Into an existing store a day is 4
    Spark jobs: gate, upsert dedup and staged write, summary."""
    existing = read_parquet(spark, bars_path) if table_exists(spark, bars_path) else None

    if as_of is not None and existing is not None and not needs_update(
        existing, str(as_of), date_col="date"
    ):
        return {"skipped": True, "has_changed": False, **get_summary(existing)}

    requested = [r.symbol for r in symbols.select("symbol").collect()]
    fetched = fetch_timeseries(spark, requested, fetch_fn, schema, max_concurrency=max_workers)
    ok, dead = split_quarantine(fetched)
    fail_list = sorted(r.symbol for r in dead.select("symbol").collect())[:10]
    ok = ok.filter(F.col("date").isNotNull())
    stored = upsert_keyed(spark, ok, bars_path, ("date", "symbol"), existing=existing)
    summary = get_summary(stored)
    return {
        "skipped": False,
        "has_changed": True,
        "success": summary["total_stocks"],
        "total": len(requested),
        "fail_list": fail_list,
        **summary,
    }
