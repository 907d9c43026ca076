"""Golden tests for the flagship W/M/Y pipeline vs a pandas resample oracle.

Mirrors the reference's semantics (downloader_wmy.py:39-58,94-122): bucket
labels = period end, first/max/min/last/sum aggregation, pct_change returns
rounded 4dp, and the four SKIP gates (FIXTURES.md §B1 crafted symbols).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.plans.wmy import audit_record, wmy_pipeline


BAR_SCHEMA = "symbol string, date date, open double, high double, low double, close double, volume long"


def _mk_bars(spark):
    """Crafted daily bars: AAA clean, BBB close<=0, CCC 15-day gap, EEE dups."""
    rows = []
    # AAA.TW: clean weekdays series Jan-Feb 2024
    d = dt.date(2024, 1, 2)
    px = 100.0
    while d <= dt.date(2024, 2, 29):
        if d.weekday() < 5:
            px += 1.0
            rows.append(("AAA.TW", d, px - 0.5, px + 1.0, px - 1.0, px, 1000))
        d += dt.timedelta(days=1)
    # BBB.TW: one close=0 row -> invalid_price gate
    for i in range(10):
        d = dt.date(2024, 1, 2) + dt.timedelta(days=i)
        close = 0.0 if i == 5 else 50.0 + i
        rows.append(("BBB.TW", d, 50.0, 55.0, 45.0, close, 500))
    # CCC.TW: 15-day hole after 2024-01-10 -> gap gate
    for d in [dt.date(2024, 1, 8), dt.date(2024, 1, 9), dt.date(2024, 1, 10), dt.date(2024, 1, 26)]:
        rows.append(("CCC.TW", d, 10.0, 11.0, 9.0, 10.5, 100))
    return spark.createDataFrame(rows, BAR_SCHEMA)


def _clean_bars(symbol, start, n, px0=10.0):
    """``n`` clean weekday bars of ``symbol`` from ``start``."""
    rows, d = [], start
    while len(rows) < n:
        if d.weekday() < 5:
            px = px0 + len(rows)
            rows.append((symbol, d, px - 0.5, px + 1.0, px - 1.0, px, 100))
        d += dt.timedelta(days=1)
    return rows


def _splice_case(spark, case):
    """(bars the previous run saw, bars now, delta) for one splice input."""
    base = _mk_bars(spark)

    def mk(rows):
        return spark.createDataFrame(rows, BAR_SCHEMA)

    aaa_march = mk(
        [
            ("AAA.TW", dt.date(2024, 3, 1), 142.0, 144.0, 141.0, 143.0, 1000),
            ("AAA.TW", dt.date(2024, 3, 4), 143.0, 145.0, 142.0, 144.0, 1000),
        ]
    )
    if case == "new_rows":
        # AAA gets two fresh March bars, plus a brand-new symbol DDD: two
        # changed symbols, so Spark plans an In list, not an InSet
        delta = aaa_march.unionByName(
            mk(
                [
                    ("DDD.TW", dt.date(2024, 2, 1), 20.0, 21.0, 19.0, 20.5, 300),
                    ("DDD.TW", dt.date(2024, 2, 2), 20.5, 21.5, 19.5, 21.0, 300),
                ]
            )
        )
        return base, base.unionByName(delta), delta
    if case == "null_symbol":
        # a NULL series, stored and re-downloaded unchanged: it reaches gold
        # and the verdicts of the previous run, and the delta
        nulls = mk(_clean_bars(None, dt.date(2024, 1, 2), 10))
        prev = base.unionByName(nulls)
        return prev, prev.unionByName(aaa_march), aaa_march.unionByName(nulls)
    if case == "empty_delta":
        return base, base, mk([])
    if case == "wide_delta":
        # more changed symbols than spark.sql.optimizer.inSetConversionThreshold
        # (10): an InSet
        syms = [f"S{i:02d}.TW" for i in range(12)]
        hist = mk([r for s in syms for r in _clean_bars(s, dt.date(2024, 1, 2), 20)])
        delta = mk([r for s in syms for r in _clean_bars(s, dt.date(2024, 2, 1), 2, 40.0)])
        prev = base.unionByName(hist)
        return prev, prev.unionByName(delta), delta
    raise ValueError(case)


def test_incremental_wmy_matches_full_rerun(spark):
    from global_stock_data_warehouse_spark.plans.wmy import incremental_wmy

    def norm(df):
        return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))

    for case in ("new_rows", "null_symbol", "empty_delta", "wide_delta"):
        prev, bars, delta = _splice_case(spark, case)
        gold_prev, verdicts_prev = wmy_pipeline(prev)
        inc_gold, inc_verdicts = incremental_wmy(bars, delta, gold_prev, verdicts_prev)
        full_gold, full_verdicts = wmy_pipeline(bars)

        assert norm(inc_gold) == norm(full_gold), case
        assert norm(inc_verdicts) == norm(full_verdicts), case
        vp = {r.symbol: r for r in inc_verdicts.collect()}
        if case == "null_symbol":
            assert vp[None].passed
            # 2024-01-02..15: three weeks, one month, one year
            assert inc_gold.filter(F.col("stock_id").isNull()).count() == 3 + 1 + 1
        if case == "new_rows":
            # untouched symbols were spliced through, not recomputed: BBB/CCC
            # verdict rows must be present and unchanged
            assert not vp["BBB.TW"].passed and not vp["CCC.TW"].passed
            assert vp["DDD.TW"].passed


@pytest.fixture(scope="module")
def gold_and_verdicts(spark):
    bars = _mk_bars(spark)
    gold, verdicts = wmy_pipeline(bars)
    return gold.toPandas(), verdicts.toPandas()


def test_gates(gold_and_verdicts):
    gold, verdicts = gold_and_verdicts
    v = verdicts.set_index("symbol")
    assert bool(v.loc["AAA.TW", "passed"])
    assert bool(v.loc["BBB.TW", "invalid_price"]) and not bool(v.loc["BBB.TW", "passed"])
    assert bool(v.loc["CCC.TW", "gap_too_large"]) and not bool(v.loc["CCC.TW", "passed"])
    # quarantined symbols never reach gold
    assert set(gold["stock_id"]) == {"AAA.TW"}


def test_weekly_matches_pandas_resample(gold_and_verdicts, spark):
    gold, _ = gold_and_verdicts
    bars = _mk_bars(spark).toPandas()
    aaa = bars[bars.symbol == "AAA.TW"].copy()
    aaa["date"] = pd.to_datetime(aaa["date"])
    aaa = aaa.set_index("date").sort_index()
    for freq, pandas_freq in [("W", "W-FRI"), ("M", "ME"), ("Y", "YE")]:
        expected = (
            aaa.resample(pandas_freq)
            .agg(open=("open", "first"), high=("high", "max"), low=("low", "min"),
                 close=("close", "last"), volume=("volume", "sum"))
            .dropna(subset=["open"])
        )
        expected["period_return"] = expected["close"].pct_change().round(4)
        got = (
            gold[gold.freq == freq]
            .sort_values("period_end")
            .set_index(pd.to_datetime(gold[gold.freq == freq].sort_values("period_end")["period_end"]))
        )
        assert list(got.index.date) == list(expected.index.date), freq
        for col in ["open", "high", "low", "close"]:
            assert got[col].tolist() == pytest.approx(expected[col].tolist()), (freq, col)
        assert got["volume"].tolist() == expected["volume"].astype(int).tolist(), freq
        exp_ret = expected["period_return"].tolist()
        got_ret = got["period_return"].tolist()
        assert len(exp_ret) == len(got_ret)
        for a, b in zip(got_ret, exp_ret):
            if pd.isna(b):
                assert pd.isna(a)
            else:
                assert a == pytest.approx(b, abs=1e-9), freq


def test_audit_invariants(gold_and_verdicts, spark):
    _, verdicts_pd = gold_and_verdicts
    bars = _mk_bars(spark)
    _, verdicts = wmy_pipeline(bars)
    audit = audit_record(verdicts, "tw").collect()[0]
    assert audit.total_files == audit.success_count + audit.skip_count
    assert audit.total_files == len(verdicts_pd)
    assert audit.success_rate == round(audit.success_count / audit.total_files * 100, 2)


def test_ohlc_invariant(gold_and_verdicts):
    gold, _ = gold_and_verdicts
    assert ((gold["low"] <= gold["close"]) & (gold["close"] <= gold["high"])).all()
    assert ((gold["low"] <= gold["open"]) & (gold["open"] <= gold["high"])).all()


def test_null_symbol_semantics(spark):
    """A NULL symbol is one series to the gates, but its bars are never
    quarantined by the series gates and its verdict never reports an OHLC
    violation; gold still drops it on a resampled OHLC violation."""
    days = [dt.date(2024, 1, 2) + dt.timedelta(days=i) for i in range(10)]
    clean = [("AAA.TW", d, 10.0, 11.0, 9.0, 10.0, 100) for d in days]

    def run(null_rows):
        gold, verdicts = wmy_pipeline(spark.createDataFrame(clean + null_rows, BAR_SCHEMA))
        null_verdict = [r for r in verdicts.collect() if r.symbol is None]
        return gold.filter(F.col("stock_id").isNull()).count(), null_verdict

    # a zero close mid-week: the invalid-price gate fails, the bars stay
    zero_close = [(None, d, 10.0, 11.0, 9.0, 0.0 if i == 1 else 10.0, 100) for i, d in enumerate(days)]
    n_gold, [v] = run(zero_close)
    assert n_gold == 2 + 1 + 1  # W, M and Y buckets of 2024-01-02..11
    assert v.invalid_price and not v.passed and not v.ohlc_violation and v.n_rows == 10

    # the last close above the high: its W, M and Y buckets violate
    above_high = [(None, d, 10.0, 11.0, 9.0, 12.0 if i == 9 else 10.0, 100) for i, d in enumerate(days)]
    n_gold, [v] = run(above_high)
    assert n_gold == 0
    assert v.passed and not v.ohlc_violation and not v.invalid_price
