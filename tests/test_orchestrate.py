"""End-to-end market-sync orchestration: gate -> fetch -> quarantine ->
upsert -> summary, with re-run idempotency and the incremental skip."""

from __future__ import annotations

import inspect
import os
import re
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.upsert import upsert_keyed
from global_stock_data_warehouse_spark.plans.orchestrate import sync_market
from global_stock_data_warehouse_spark.plans.wmy import incremental_wmy, wmy_pipeline
from global_stock_data_warehouse_spark.sources.fetch import fetch_timeseries


class Calls:
    """Calls of a fake fetch_fn and the pids they ran in, counted under a
    lock: the fetch runs on a pool of driver threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.n = 0
        self.pids = set()

    def add(self):
        with self.lock:
            self.n += 1
            self.pids.add(os.getpid())


def _bars_fetch(days, calls=None):
    """A fake fetch_fn: ``days`` bars per symbol, raising for ``DEAD*``;
    every call is counted in ``calls``."""

    def fetch(sym: str) -> pd.DataFrame:
        if calls is not None:
            calls.add()
        if sym.startswith("DEAD"):
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
    calls = Calls()
    fake_fetch = _bars_fetch(["2024-01-02", "2024-01-03"], calls)
    # the dead letters and the upsert read one local frame: one call per
    # good symbol, max_retries + 1 per failing one
    max_retries = inspect.signature(fetch_timeseries).parameters["max_retries"].default
    per_sync = 2 + (max_retries + 1) * 1

    syms = spark.createDataFrame([("AAA",), ("BBB",), ("DEAD",)], "symbol string")
    r1 = sync_market(spark, syms, fake_fetch, path, as_of="2024-01-03", max_workers=2)
    assert r1["skipped"] is False and r1["has_changed"] is True
    assert r1["success"] == 2 and r1["total"] == 3
    assert r1["fail_list"] == ["DEAD"]
    assert r1["total_records"] == 4 and r1["latest_date"] == "2024-01-03"
    assert calls.n == per_sync

    # second run, same as_of: watermark current -> whole fetch skipped
    r2 = sync_market(spark, syms, fake_fetch, path, as_of="2024-01-03", max_workers=2)
    assert r2["skipped"] is True and r2["total_records"] == 4
    assert calls.n == per_sync

    # forced re-run (later as_of): upsert is idempotent, count unchanged
    r3 = sync_market(spark, syms, fake_fetch, path, as_of="2024-01-04", max_workers=2)
    assert r3["skipped"] is False and r3["total_records"] == 4
    assert calls.n == 2 * per_sync


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


def test_sync_market_keeps_extra_store_columns(spark, tmp_path):
    """A store with a column the bar schema lacks keeps it, and its values,
    through two daily syncs: the store is read with the schema of its
    files, not forced to the bar schema."""
    path = str(tmp_path / "bars")
    hist = spark.createDataFrame(
        [("2024-01-02", "AAA", 1.5, "kept")], "date string, symbol string, close double, note string"
    )
    upsert_keyed(spark, hist, path, ("date", "symbol"))
    syms = spark.createDataFrame([("AAA",), ("BBB",)], "symbol string")
    for day in ("2024-01-03", "2024-01-04"):
        r = sync_market(spark, syms, _bars_fetch([day]), path, as_of=day, max_workers=2)
        assert r["skipped"] is False
    rows = pd.read_parquet(path).sort_values(["date", "symbol"], ignore_index=True)
    assert len(rows) == 5 and "note" in rows.columns
    assert rows["note"].tolist() == ["kept", None, None, None, None]


def test_sync_market_fail_list_is_first_ten_in_symbol_order(spark, tmp_path):
    """With more than 10 dead letters, ``fail_list`` is the first 10 in
    symbol order, whatever partition of the fetch each one failed in."""
    dead = [f"DEAD{i:02d}" for i in range(12)]
    syms = spark.createDataFrame([(s,) for s in ["AAA", *reversed(dead), "BBB"]], "symbol string")
    r = sync_market(spark, syms, _bars_fetch(["2024-01-02"]), str(tmp_path / "bars"), max_workers=4)
    assert r["fail_list"] == dead[:10]
    assert r["success"] == 2 and r["total"] == 14


def test_repeated_sync_compiles_almost_nothing(spark, tmp_path):
    """The reference's daily job, a sync and then the W/M/Y rebuild, cycles
    through more generated classes than Spark's default codegen cache holds
    (100, evicted least recently used), so every repeat recompiled 110 to
    130 of them. With the session's cache a repeat finds them all; what
    still compiles is the upsert stage that inlines the
    ``current_timestamp()`` ingest time as a literal (2 compiles). The
    incremental refresh filters on a changed-symbol set that differs each
    day; string literals reach generated code as references, so a set of
    the same size compiles nothing."""
    path = str(tmp_path / "bars")
    syms = spark.createDataFrame([("AAA",), ("BBB",), ("CCC",), ("DEAD",)], "symbol string")
    fetch = _bars_fetch(["2024-01-02", "2024-01-03"])
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def daily_job(changed):
        sync_market(spark, syms, fetch, path, as_of="2024-01-04", max_workers=2)
        bars = spark.read.parquet(path).withColumn("date", F.to_date("date"))
        gold, verdicts = wmy_pipeline(bars)
        delta = bars.filter(F.col("symbol").isin(changed))
        for out in (gold, verdicts, *incremental_wmy(bars, delta, gold, verdicts)):
            out.write.format("noop").mode("overwrite").save()

    # the first run creates the store; the next two take the same plans
    for changed in (["AAA", "BBB"], ["BBB", "CCC"]):
        daily_job(changed)
    c0 = metrics.METRIC_COMPILATION_TIME().getCount()
    daily_job(["AAA", "CCC"])
    compiles = metrics.METRIC_COMPILATION_TIME().getCount() - c0
    assert compiles <= 4, compiles


def test_second_day_sync_and_compaction_job_counts(spark, tmp_path, monkeypatch):
    """Spark jobs of one day on an existing store, counted by job group:
    the sync (4: freshness gate, upsert dedup window and staged write,
    summary; the store's schema was recorded by the previous day's upsert,
    so reading it infers nothing), plus 1 to collect a list-built symbol
    universe and none for a pandas-built one. The fetch runs in this
    process's threads and its rows are a local relation, so no plan of the
    sync holds a Python node, and no job runs between the dead-letter
    split and the upsert;
    its compaction, which lists the files and finds nothing to rewrite
    (none); then the incremental W/M/Y refresh, where the changed-symbol
    set is one job and each write two, with no broadcast."""
    from global_stock_data_warehouse_spark.plans import orchestrate
    from global_stock_data_warehouse_spark.storage.compact import compact_parquet

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    path = str(tmp_path / "bars")
    syms = spark.createDataFrame([("AAA",), ("BBB",), ("DEAD",)], "symbol string")
    pandas_syms = spark.createDataFrame(pd.DataFrame({"symbol": ["AAA", "BBB", "DEAD"]}))
    days = ["2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"]
    sync_market(spark, syms, _bars_fetch(days[:2]), path, as_of=days[1], max_workers=2)
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def sql_executions():
        """The SQL executions the UI keeps, in id order, once the listener
        has caught up."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sql_store.executionsList()

    def sql_plans(since):
        """Physical plans of the SQL executions with an id above ``since``."""
        execs, plans = sql_executions(), []
        for i in reversed(range(execs.size())):
            if execs.apply(i).executionId() <= since:
                break
            plans.append(execs.apply(i).physicalPlanDescription())
        return plans

    def last_sql_id():
        execs = sql_executions()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def bars():
        return spark.read.parquet(path).withColumn("date", F.to_date("date"))

    prev = {"gold": str(tmp_path / "gold"), "verdicts": str(tmp_path / "verdicts")}
    for out, p in zip(wmy_pipeline(bars()), prev.values()):
        out.write.parquet(p)

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

    # a job between the dead-letter split and the upsert would mean the
    # fetched rows are not local
    monkeypatch.setattr(orchestrate, "split_quarantine", after(orchestrate.split_quarantine, "dead"))
    monkeypatch.setattr(orchestrate, "upsert_keyed", before(orchestrate.upsert_keyed, "rest"))
    plans = []
    calls = Calls()
    try:
        group("sync")
        since = last_sql_id()
        r = sync_market(spark, syms, _bars_fetch(days[1:3], calls), path, as_of=days[2], max_workers=2)
        sync_plans = sql_plans(since)
        group("compact")
        compacted = compact_parquet(spark, path)
        # schema inference of each read: one job, not counted
        group("read")
        day = bars()
        gold_prev, verdicts_prev = (spark.read.parquet(p) for p in prev.values())
        group("changed")
        outs = incremental_wmy(day, day.filter(F.col("date") >= days[1]), gold_prev, verdicts_prev)
        for name, out in zip(prev, outs):
            group(name)
            out.write.format("noop").mode("overwrite").save()
            plans.append(out._jdf.queryExecution().executedPlan().toString())
        groups = ("sync", "dead", "rest", "compact", "changed", "gold", "verdicts")
        jobs = {g: len(tracker.getJobIdsForGroup(g)) for g in groups}
        # the next day with a pandas-built universe: its collect starts no job
        group("sync_pandas")
        since = last_sql_id()
        r4 = sync_market(spark, pandas_syms, _bars_fetch(days[2:], calls), path, as_of=days[3], max_workers=2)
        sync_plans += sql_plans(since)
        pandas_jobs = sum(
            len(tracker.getJobIdsForGroup(g)) - jobs.get(g, 0) for g in ("sync_pandas", "dead", "rest")
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert r["fail_list"] == ["DEAD"] and r["total_records"] == 6
    assert jobs["dead"] == 0, jobs
    assert jobs["sync"] + jobs["dead"] + jobs["rest"] == 5, jobs
    assert r4["fail_list"] == ["DEAD"] and r4["total_records"] == 8
    assert pandas_jobs == 4, pandas_jobs
    assert calls.pids == {os.getpid()}
    assert len(sync_plans) > 0
    assert not [p for p in sync_plans if re.search(r"EvalPython|InPandas|InArrow", p)], sync_plans
    assert jobs["compact"] == 0, jobs
    assert (jobs["changed"], jobs["gold"], jobs["verdicts"]) == (1, 2, 2), jobs
    assert not any("BroadcastExchange" in p for p in plans)
    # the listing skips what Spark's file index skips (_SUCCESS, .crc files)
    assert compacted["files_after"] == len(spark.read.parquet(path).inputFiles())
