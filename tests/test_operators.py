"""Unit tests for individual operators and scalar functions."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.functions.buckets import (
    month_end,
    week_ending_friday,
    year_end,
)
from global_stock_data_warehouse_spark.functions.normalize import (
    canonical_id,
    code_with_suffix,
    default_if_missing,
    is_derivative_name,
    zero_pad,
)
from global_stock_data_warehouse_spark.operators.joins import anti_missing, semi_active
from global_stock_data_warehouse_spark.operators.upsert import dedup_last_writer


def test_week_ending_friday(spark):
    # 2024-01-05 is a Friday; Sat..Thu roll forward to the NEXT Friday.
    df = spark.createDataFrame(
        [(dt.date(2024, 1, d),) for d in range(1, 9)], "d date"
    ).select("d", week_ending_friday("d").alias("w"))
    got = {r.d.day: r.w for r in df.collect()}
    assert got[5] == dt.date(2024, 1, 5)  # Friday maps to itself
    assert got[1] == got[2] == got[3] == got[4] == dt.date(2024, 1, 5)
    assert got[6] == got[7] == got[8] == dt.date(2024, 1, 12)


def test_month_year_end(spark):
    df = spark.createDataFrame([(dt.date(2024, 2, 10),)], "d date").select(
        month_end("d").alias("m"), year_end("d").alias("y")
    )
    r = df.collect()[0]
    assert r.m == dt.date(2024, 2, 29)  # leap year
    assert r.y == dt.date(2024, 12, 31)


def test_normalize_chain(spark):
    df = spark.createDataFrame(
        [("  2330 ", "TW", None), ("600000", "CN", "nan"), ("5930", "KOSPI", "Tech")],
        "code string, market string, sector string",
    ).select(
        canonical_id("code").alias("canon"),
        code_with_suffix(F.trim("code"), "market").alias("sym"),
        default_if_missing("sector").alias("sector"),
        zero_pad(F.trim(F.col("code")), 6).alias("padded"),
    )
    rows = {r.canon: r for r in df.collect()}
    assert rows["2330"].sym == "2330.TW"
    assert rows["600000"].sym == "600000.SS"
    assert rows["5930"].sym == "5930.KS"
    assert rows["2330"].sector == "Unknown"
    assert rows["600000"].sector == "Unknown"
    assert rows["5930"].sector == "Tech"
    assert rows["600000"].padded == "600000"
    assert rows["2330"].padded == "002330"


def test_derivative_filter(spark):
    df = spark.createDataFrame(
        [("Acme Corp",), ("Acme Warrant 2027",), ("Best ETF Trust",)], "name string"
    ).filter(~is_derivative_name("name"))
    assert [r.name for r in df.collect()] == ["Acme Corp"]


def test_dedup_last_writer_idempotent(spark):
    rows = [
        ("2024-01-01", "A", 1.0, 1),
        ("2024-01-01", "A", 2.0, 2),  # later version wins
        ("2024-01-02", "A", 3.0, 1),
    ]
    df = spark.createDataFrame(rows, "date string, symbol string, close double, v int")
    out = dedup_last_writer(df, ("date", "symbol"), "v")
    got = {(r.date, r.symbol): r.close for r in out.collect()}
    assert got == {("2024-01-01", "A"): 2.0, ("2024-01-02", "A"): 3.0}
    # idempotency: re-applying over the deduped result is a no-op
    again = dedup_last_writer(out.unionByName(out), ("date", "symbol"), "v")
    assert again.count() == 2


def test_anti_semi(spark):
    dim = spark.createDataFrame([("A",), ("B",), ("C",)], "symbol string")
    facts = spark.createDataFrame([("A",), ("A",), ("C",)], "symbol string")
    assert {r.symbol for r in anti_missing(dim, facts, "symbol").collect()} == {"B"}
    assert {r.symbol for r in semi_active(dim, facts, "symbol").collect()} == {"A", "C"}


def test_freshness_gate(spark):
    import datetime as dt
    from global_stock_data_warehouse_spark.operators.validate import (
        freshness_watermark,
        needs_update,
    )

    df = spark.createDataFrame(
        [("A", dt.date(2024, 1, 5)), ("B", dt.date(2024, 1, 9))], "symbol string, date date"
    )
    assert freshness_watermark(df).first().watermark == dt.date(2024, 1, 9)
    per_key = {r.symbol: r.watermark for r in freshness_watermark(df, key_cols=("symbol",)).collect()}
    assert per_key == {"A": dt.date(2024, 1, 5), "B": dt.date(2024, 1, 9)}
    assert needs_update(df, dt.date(2024, 1, 10)) is True
    assert needs_update(df, dt.date(2024, 1, 9)) is False
    empty = spark.createDataFrame([], "symbol string, date date")
    assert needs_update(empty, dt.date(2024, 1, 1)) is True


def test_observed_matches_agg_in_one_job_without_exchange(spark, tmp_path):
    """``observed`` returns ``df.agg(*aggs).first()`` in one Spark job of one
    stage (no exchange), on a scan, an empty table, an all-NULL column and
    an input the optimizer prunes to empty, where it must not block."""
    from global_stock_data_warehouse_spark.operators.validate import observed

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    schema = "s string, v long"
    path = str(tmp_path / "t")
    spark.createDataFrame([("A", 1), ("B", 3), ("A", 2), (None, 4)], schema).write.parquet(path)
    scan = spark.read.parquet(path)
    inputs = {
        "parquet scan": scan,
        "empty table": spark.createDataFrame([], schema),
        "all-NULL columns": spark.createDataFrame([(None, None)] * 3, schema),
        "pruned to empty": scan.filter(F.lit(False)),
    }

    def aggs():
        # collect_set's order depends on how partial sets merge
        return (
            F.count(F.lit(1)).alias("n"),
            F.max("v").alias("hi"),
            F.array_sort(F.collect_set("s")).alias("keys"),
        )

    for name, df in inputs.items():
        sc.setJobGroup(name, name)
        try:
            got = observed(df, *aggs())
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        assert got == df.agg(*aggs()).first(), name
        [job] = tracker.getJobIdsForGroup(name)
        assert len(tracker.getJobInfo(job).stageIds) == 1, name
    assert observed(scan, *aggs()) == (4, 4, ["A", "B"])


def test_rename_i18n_export_edge(spark):
    from global_stock_data_warehouse_spark.functions.normalize import rename_i18n

    df = spark.createDataFrame(
        [("2024-01-05", 1.0, 2.0, 0.5, 1.5, 100, 0.01, "2330")],
        "period_end string, open double, high double, low double, close double, "
        "volume bigint, period_return double, stock_id string",
    )
    out = rename_i18n(df)
    assert out.columns == ["日期", "開盤", "最高", "最低", "收盤", "成交量", "漲跌幅", "StockID"]
    # partial projections compose
    assert rename_i18n(df.select("close", "stock_id")).columns == ["收盤", "StockID"]
