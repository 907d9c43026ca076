"""Tests: as-of join semantics (ties, misses, tolerance) and the injected
bounded-concurrency fetch source with dead-letter quarantine."""

from __future__ import annotations

import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.joins import asof_join
from global_stock_data_warehouse_spark.sources.fetch import fetch_timeseries, split_quarantine


@pytest.fixture()
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            ("A", "2024-01-01", 1.0),   # before any bar -> null
            ("A", "2024-01-05", 2.0),   # == bar date -> matches that bar
            ("A", "2024-01-09", 3.0),   # between bars -> Jan 5 bar
            ("A", "2024-03-01", 4.0),   # far after last bar
            ("B", "2024-01-06", 5.0),   # other key
        ],
        "k string, d string, v double",
    ).withColumn("d", F.to_date("d"))
    right = spark.createDataFrame(
        [
            ("A", "2024-01-05", 100.0),
            ("A", "2024-01-12", 110.0),
            ("B", "2024-01-05", 200.0),
        ],
        "k string, bd string, px double",
    ).withColumn("bd", F.to_date("bd"))
    return left, right


def test_asof_join_backward_with_ties(spark, asof_frames):
    left, right = asof_frames
    out = {
        (r.k, r.d.isoformat()): (r.r_px, r.r_bd.isoformat() if r.r_bd else None)
        for r in asof_join(left, right, on="k", left_ts="d", right_ts="bd").collect()
    }
    assert out[("A", "2024-01-01")] == (None, None)
    assert out[("A", "2024-01-05")] == (100.0, "2024-01-05")  # equal ts matches
    assert out[("A", "2024-01-09")] == (100.0, "2024-01-05")
    assert out[("A", "2024-03-01")] == (110.0, "2024-01-12")
    assert out[("B", "2024-01-06")] == (200.0, "2024-01-05")


def test_asof_join_tolerance(spark, asof_frames):
    left, right = asof_frames
    out = {
        (r.k, r.d.isoformat()): r.r_px
        for r in asof_join(
            left, right, on="k", left_ts="d", right_ts="bd", tolerance_days=7
        ).collect()
    }
    assert out[("A", "2024-01-09")] == 100.0  # 4 days stale: kept
    assert out[("A", "2024-03-01")] is None  # 49 days stale: nulled


def test_asof_join_tolerance_exact_boundary(spark):
    """VERDICT r8 item 4: the tolerance gate at EXACTLY the boundary —
    datediff == tolerance_days is KEPT (the contract is `> tolerance`
    nulls), tolerance+1 is nulled, and tolerance_days=0 keeps only
    same-day matches. The classic off-by-one lives here."""
    left = spark.createDataFrame(
        [
            ("A", "2024-01-15", 1.0),  # exactly 14 days after the bar
            ("A", "2024-01-16", 2.0),  # 15 days: one past the boundary
            ("A", "2024-01-01", 3.0),  # same day as the bar
        ],
        "k string, d string, v double",
    ).withColumn("d", F.to_date("d"))
    right = spark.createDataFrame(
        [("A", "2024-01-01", 100.0)], "k string, bd string, px double"
    ).withColumn("bd", F.to_date("bd"))

    out = {
        r.d.isoformat(): r.r_px
        for r in asof_join(
            left, right, on="k", left_ts="d", right_ts="bd", tolerance_days=14
        ).collect()
    }
    assert out["2024-01-15"] == 100.0  # == boundary: kept
    assert out["2024-01-16"] is None   # boundary + 1: nulled
    assert out["2024-01-01"] == 100.0

    zero = {
        r.d.isoformat(): r.r_px
        for r in asof_join(
            left, right, on="k", left_ts="d", right_ts="bd", tolerance_days=0
        ).collect()
    }
    assert zero["2024-01-01"] == 100.0  # same-day survives tolerance 0
    assert zero["2024-01-15"] is None and zero["2024-01-16"] is None


FETCH_SCHEMA = "date string, close double, symbol string, _fetch_error string"


def test_fetch_timeseries_fanout_and_quarantine(spark):
    def _fake_fetch(sym: str) -> pd.DataFrame:
        if sym == "BOOM":
            raise RuntimeError("upstream 500")
        if sym == "EMPTY":
            return pd.DataFrame(columns=["date", "close"])
        return pd.DataFrame(
            {"date": ["2024-01-01", "2024-01-02"], "close": [float(len(sym)), float(len(sym)) + 1]}
        )

    fetched = fetch_timeseries(
        spark, ["AAPL", "BOOM", "EMPTY", "TW"], _fake_fetch, FETCH_SCHEMA, max_concurrency=2, max_retries=1
    )
    ok, dead = split_quarantine(fetched)
    ok_rows = {(r.symbol, r.date): r.close for r in ok.collect()}
    assert ok_rows[("AAPL", "2024-01-01")] == 4.0
    assert ok_rows[("TW", "2024-01-02")] == 3.0
    assert len(ok_rows) == 4  # 2 symbols x 2 bars; EMPTY skipped
    dead_rows = dead.collect()
    assert len(dead_rows) == 1
    assert dead_rows[0].symbol == "BOOM" and "upstream 500" in dead_rows[0]._fetch_error


BIG = 2**53 + 1  # the first integer a float64 cannot hold


@pytest.mark.parametrize(
    "symbols, max_concurrency",
    [
        (["A", "B", "C", "D", "E", "F"], 1),
        (["A", "B", "C", "D", "E", "F"], 3),
        (["A", "NONE", "FAIL", "B", "EMPTY", "C"], 2),
        ([], 4),
        (["FAIL", "FAIL2"], 2),
    ],
    ids=["serial", "three-threads", "mixed", "no-symbols", "all-failing"],
)
def test_fetch_timeseries_pool(spark, symbols, max_concurrency):
    """The driver pool: at most ``max_concurrency`` calls in flight (and more
    than one when allowed), symbol order when serial, ``max_retries + 1``
    calls for a failing symbol, empty and ``None`` results skipped, and an
    empty frame with the schema when nothing was fetched. A bigint too wide
    for a float64 survives a day that also has a dead letter."""
    schema = "date string, volume bigint, symbol string, _fetch_error string"
    lock = threading.Lock()
    calls: list[str] = []
    in_flight = [0, 0]  # now, peak

    def fetch(sym: str):
        with lock:
            calls.append(sym)
            in_flight[0] += 1
            in_flight[1] = max(in_flight)
        try:
            time.sleep(0.05)
            if sym.startswith("FAIL"):
                raise RuntimeError(f"{sym} down")
            if sym == "NONE":
                return None
            if sym == "EMPTY":
                return pd.DataFrame(columns=["date", "volume"])
            return pd.DataFrame({"date": ["2024-01-02"], "volume": [BIG]})
        finally:
            with lock:
                in_flight[0] -= 1

    fetched = fetch_timeseries(
        spark, symbols, fetch, schema, max_concurrency=max_concurrency, max_retries=2
    )
    assert fetched.schema.simpleString() == "struct<date:string,volume:bigint,symbol:string,_fetch_error:string>"
    rows = fetched.collect()
    good = [s for s in symbols if s not in ("NONE", "EMPTY") and not s.startswith("FAIL")]
    failing = [s for s in symbols if s.startswith("FAIL")]
    assert [(r.symbol, r.volume) for r in rows if r._fetch_error is None] == [(s, BIG) for s in good]
    assert [(r.symbol, r.volume) for r in rows if r._fetch_error] == [(s, None) for s in failing]
    assert sorted(calls) == sorted([*symbols, *[s for s in failing for _ in range(2)]])
    assert in_flight[1] <= max_concurrency
    if max_concurrency > 1 and len(symbols) > 1:
        assert in_flight[1] > 1
    if max_concurrency == 1:
        assert calls == symbols


def test_scan_fixed_width_parses_typed_columns(spark, tmp_path):
    from global_stock_data_warehouse_spark.sources.fixed_width import (
        scan_fixed_width,
    )

    # classic EOD layout: symbol(6) date(8) close(10) volume(10)
    lines = [
        "SYMBOL  DATE      CLOSE     VOLUME   ",  # header
        "AAPL  20240102    185.64  58414460",
        "MSFT  20240102    370.87  25258600",
        "BAD   20240102    oops          42",  # close fails the cast
    ]
    p = tmp_path / "eod.txt"
    p.write_text("\n".join(lines) + "\n")
    colspecs = [
        ("symbol", 1, 6, "string"),
        ("trade_date", 7, 8, "string"),
        ("close", 15, 10, "double"),
        ("volume", 25, 10, "long"),
    ]
    out = scan_fixed_width(
        spark, str(p), colspecs, skip_header_lines=1, corrupt_count_col="n_bad"
    ).collect()
    rows = {r.symbol: r for r in out}
    assert len(rows) == 3
    assert rows["AAPL"].close == 185.64 and rows["AAPL"].volume == 58414460
    assert rows["MSFT"].trade_date == "20240102"
    assert rows["BAD"].close is None and rows["BAD"].n_bad == 1
    assert rows["AAPL"].n_bad == 0


def test_scan_fixed_width_is_codegen_map_only(spark, tmp_path):
    from global_stock_data_warehouse_spark.sources.fixed_width import (
        scan_fixed_width,
    )

    p = tmp_path / "x.txt"
    p.write_text("AB12\n")
    df = scan_fixed_width(spark, str(p), [("a", 1, 2, "string"), ("n", 3, 2, "int")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # shuffle-free parse
    assert "BatchEvalPython" not in plan
    # the documented exception: per-file header skipping pays one exchange
    # (per-file ordering) — assert so the cost stays visible, not silent
    df_h = scan_fixed_width(
        spark, str(p), [("a", 1, 2, "string")], skip_header_lines=1
    )
    plan_h = df_h._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_h


def test_scan_fixed_width_header_skip_refuses_splittable_files(spark, tmp_path):
    # per-file line order across scan splits is not a Spark contract:
    # skip_header_lines must fail LOUDLY when a file exceeds the
    # configured split size rather than risk dropping the wrong lines.
    import pytest

    from global_stock_data_warehouse_spark.sources.fixed_width import (
        scan_fixed_width,
    )

    p = tmp_path / "big.txt"
    p.write_text("HEADER\n" + "AB12\n" * 100)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64b")
    try:
        with pytest.raises(ValueError, match="maxPartitionBytes"):
            scan_fixed_width(
                spark, str(p), [("a", 1, 2, "string")], skip_header_lines=1
            )
        # content-based parse of the same file (no header skip) stays fine
        assert (
            scan_fixed_width(spark, str(p), [("a", 1, 2, "string")])
            .filter(F.col("a") != "HE")
            .count()
            == 100
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_scan_fixed_width_guard_uses_effective_split_not_maxpartitionbytes(
    spark, tmp_path
):
    # Spark's actual split size is min(maxPartitionBytes, max(openCost,
    # totalBytes/parallelism)) — a file can be split even when SMALLER
    # than maxPartitionBytes. The guard must refuse on the effective
    # number, not the raw conf.
    import pytest

    from global_stock_data_warehouse_spark.sources.fixed_width import (
        scan_fixed_width,
    )

    p = tmp_path / "mid.txt"
    p.write_text("HEADER\n" + "AB12\n" * 100)  # ~507 bytes << default maxPB
    confs = {
        "spark.sql.files.openCostInBytes": "16b",
        "spark.sql.files.minPartitionNum": "64",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # effective split = max(16, (507+16)//64) = 16 bytes < file size,
        # while maxPartitionBytes stays at its huge default — the r4 guard
        # (raw maxPartitionBytes compare) let this through silently.
        with pytest.raises(ValueError, match="effective split"):
            scan_fixed_width(
                spark, str(p), [("a", 1, 2, "string")], skip_header_lines=1
            )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
