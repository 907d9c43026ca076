"""End-to-end market-sync orchestration: gate -> fetch -> quarantine ->
upsert -> summary, with re-run idempotency and the incremental skip."""

from __future__ import annotations

import inspect
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.upsert import upsert_keyed
from global_stock_data_warehouse_spark.plans.orchestrate import sync_market
from global_stock_data_warehouse_spark.plans.wmy import wmy_pipeline
from global_stock_data_warehouse_spark.sources.fetch import fetch_timeseries


def _bars_fetch(days, calls=None):
    """A fake fetch_fn: ``days`` bars per symbol, raising for ``DEAD``;
    every call adds one to the ``calls`` accumulator."""

    def fetch(sym: str) -> pd.DataFrame:
        if calls is not None:
            calls.add(1)
        if sym == "DEAD":
            raise RuntimeError("no such symbol")
        n = len(days)
        return pd.DataFrame(
            {
                "date": list(days),
                "open": [1.0] * n, "high": [2.0] * n,
                "low": [0.5] * n, "close": [1.5] * n,
                "volume": [100] * n,
            }
        )

    return fetch


def test_sync_market_end_to_end(spark, tmp_path):
    path = str(tmp_path / "bars")
    calls = spark.sparkContext.accumulator(0)
    fake_fetch = _bars_fetch(["2024-01-02", "2024-01-03"], calls)
    # the dead letters and the upsert read one materialised fetch: one call
    # per good symbol, max_retries + 1 per failing one
    max_retries = inspect.signature(fetch_timeseries).parameters["max_retries"].default
    per_sync = 2 + (max_retries + 1) * 1

    syms = spark.createDataFrame([("AAA",), ("BBB",), ("DEAD",)], "symbol string")
    r1 = sync_market(spark, syms, fake_fetch, path, as_of="2024-01-03", max_workers=2)
    assert r1["skipped"] is False and r1["has_changed"] is True
    assert r1["success"] == 2 and r1["total"] == 3
    assert r1["fail_list"] == ["DEAD"]
    assert r1["total_records"] == 4 and r1["latest_date"] == "2024-01-03"
    assert calls.value == per_sync

    # second run, same as_of: watermark current -> whole fetch skipped
    r2 = sync_market(spark, syms, fake_fetch, path, as_of="2024-01-03", max_workers=2)
    assert r2["skipped"] is True and r2["total_records"] == 4
    assert calls.value == per_sync

    # forced re-run (later as_of): upsert is idempotent, count unchanged
    r3 = sync_market(spark, syms, fake_fetch, path, as_of="2024-01-04", max_workers=2)
    assert r3["skipped"] is False and r3["total_records"] == 4
    assert calls.value == 2 * per_sync


def test_sync_market_corrupt_store_raises_and_keeps_history(spark, tmp_path):
    """A store that exists but cannot be read must fail the sync, not pass
    for empty and be overwritten with the day's rows alone."""
    path = str(tmp_path / "bars")
    days = ["2024-01-02", "2024-01-03", "2024-01-04"]
    syms = spark.createDataFrame([("AAA",), ("BBB",)], "symbol string")
    sync_market(spark, syms, _bars_fetch(days), path, as_of=days[-1], max_workers=2)
    before = sorted(os.listdir(path))
    rows = pd.read_parquet(path).sort_values(["date", "symbol"], ignore_index=True)
    assert len(rows) == 6
    # lists first, so schema inference and every scan hit it
    with open(os.path.join(path, "aaa-corrupt.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")

    with pytest.raises(Exception, match="aaa-corrupt.parquet"):
        sync_market(spark, syms, _bars_fetch(["2024-01-05"]), path, as_of="2024-01-05", max_workers=2)
    new_rows = spark.createDataFrame([("2024-01-05", "AAA", 1.0)], "date string, symbol string, close double")
    with pytest.raises(Exception, match="aaa-corrupt.parquet"):
        upsert_keyed(spark, new_rows, path, ("date", "symbol"))

    assert sorted(os.listdir(path)) == sorted(before + ["aaa-corrupt.parquet"])
    os.remove(os.path.join(path, "aaa-corrupt.parquet"))
    after = pd.read_parquet(path).sort_values(["date", "symbol"], ignore_index=True)
    pd.testing.assert_frame_equal(after, rows)


def test_repeated_sync_compiles_almost_nothing(spark, tmp_path):
    """The reference's daily job, a sync and then the W/M/Y rebuild, cycles
    through more generated classes than Spark's default codegen cache holds
    (100, evicted least recently used), so every repeat recompiled 110 to
    130 of them. With the session's cache a repeat finds them all; what
    still compiles is the upsert stage that inlines the
    ``current_timestamp()`` ingest time as a literal (2 compiles)."""
    path = str(tmp_path / "bars")
    syms = spark.createDataFrame([("AAA",), ("BBB",), ("DEAD",)], "symbol string")
    fetch = _bars_fetch(["2024-01-02", "2024-01-03"])
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def daily_job():
        sync_market(spark, syms, fetch, path, as_of="2024-01-04", max_workers=2)
        bars = spark.read.parquet(path).withColumn("date", F.to_date("date"))
        for out in wmy_pipeline(bars):
            out.write.format("noop").mode("overwrite").save()

    # the first run creates the store; the next two take the same plans
    for _ in range(2):
        daily_job()
    c0 = metrics.METRIC_COMPILATION_TIME().getCount()
    daily_job()
    compiles = metrics.METRIC_COMPILATION_TIME().getCount() - c0
    assert compiles <= 4, compiles


def test_second_day_sync_and_compaction_job_counts(spark, tmp_path, monkeypatch):
    """Spark jobs of one day's sync on an existing store, then its
    compaction, counted by job group: the dead-letter list is one job, the
    whole sync 13, and the compaction, which lists the files and finds
    nothing to rewrite, none."""
    from global_stock_data_warehouse_spark.plans import orchestrate
    from global_stock_data_warehouse_spark.storage.compact import compact_parquet

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    path = str(tmp_path / "bars")
    syms = spark.createDataFrame([("AAA",), ("BBB",), ("DEAD",)], "symbol string")
    days = ["2024-01-02", "2024-01-03", "2024-01-04"]
    sync_market(spark, syms, _bars_fetch(days[:2]), path, as_of=days[1], max_workers=2)

    def group(name):
        sc.setJobGroup(name, name)

    def after(fn, name):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            group(name)
            return out

        return wrapped

    def before(fn, name):
        def wrapped(*args, **kwargs):
            group(name)
            return fn(*args, **kwargs)

        return wrapped

    # jobs between the dead-letter split and the upsert list the dead letters
    monkeypatch.setattr(orchestrate, "split_quarantine", after(orchestrate.split_quarantine, "dead"))
    monkeypatch.setattr(orchestrate, "upsert_keyed", before(orchestrate.upsert_keyed, "rest"))
    try:
        group("sync")
        r = sync_market(spark, syms, _bars_fetch(days[1:]), path, as_of=days[2], max_workers=2)
        group("compact")
        compacted = compact_parquet(spark, path)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    jobs = {g: len(tracker.getJobIdsForGroup(g)) for g in ("sync", "dead", "rest", "compact")}
    assert r["fail_list"] == ["DEAD"] and r["total_records"] == 6
    assert jobs["dead"] == 1, jobs
    assert jobs["sync"] + jobs["dead"] + jobs["rest"] == 13, jobs
    assert jobs["compact"] == 0, jobs
    # the listing skips what Spark's file index skips (_SUCCESS, .crc files)
    assert compacted["files_after"] == len(spark.read.parquet(path).inputFiles())
