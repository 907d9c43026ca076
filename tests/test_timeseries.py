"""Market indicator battery: hand-computed and pandas-oracle checks."""

import datetime as dt

import pandas as pd
import pytest

from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.timeseries import (
    daily_close,
    drawdown_stats,
    tech_indicators,
    with_ewma,
)
from global_stock_data_warehouse_spark.sources.registry import load_table


def _bars(spark, vals, user=1):
    rows = [
        (user, i, dt.datetime(2024, 1, 1 + i, 12, 0), float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )


def test_daily_close_last_by_tiebreak(spark):
    rows = [
        (1, 10, dt.datetime(2024, 1, 1, 9), 5.0),
        (1, 11, dt.datetime(2024, 1, 1, 16), 7.0),  # later ts wins
        (1, 13, dt.datetime(2024, 1, 2, 9), 3.0),
        (1, 12, dt.datetime(2024, 1, 2, 9), 2.0),  # same ts: higher event_id wins
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = {r.d.isoformat(): r.close for r in daily_close(df).collect()}
    assert out == {"2024-01-01": 7.0, "2024-01-02": 3.0}


def test_ewma_matches_pandas_adjusted(spark):
    vals = [100.0, 102.0, 99.0, 105.0, 103.0, 108.0]
    d = daily_close(_bars(spark, vals))
    got = [
        r.ewma
        for r in with_ewma(d, alpha=0.1, window=20).orderBy("d").collect()
    ]
    # series shorter than the frame == pandas ewm(adjust=True) exactly
    want = pd.Series(vals).ewm(alpha=0.1, adjust=True).mean().tolist()
    assert got == pytest.approx(want, rel=1e-12)


def test_rsi_pinned_at_100_for_monotonic_rise(spark):
    d = tech_indicators(_bars(spark, [10, 11, 12, 13, 14, 15]))
    rows = d.orderBy("d").collect()
    # first row has no diff -> null RSI; all-gain series pins at 100 after
    assert rows[0].rsi14 is None
    assert all(r.rsi14 == 100.0 for r in rows[1:])


def test_drawdown_and_cum_return_hand_computed(spark):
    d = daily_close(_bars(spark, [100.0, 120.0, 90.0, 110.0]))
    row = drawdown_stats(d).collect()[0]
    assert row.max_drawdown == pytest.approx(90.0 / 120.0 - 1, abs=1e-6)
    assert row.cum_return == pytest.approx(0.1, abs=1e-6)


def test_bollinger_brackets_the_mean(spark):
    out = tech_indicators(_bars(spark, [10.0, 12.0, 11.0, 13.0, 12.0])).collect()
    for r in out[1:]:  # from the 2nd row the stddev is defined
        assert r.boll_dn < r.boll_mid < r.boll_up
        assert r.boll_mid - r.boll_dn == pytest.approx(r.boll_up - r.boll_mid, abs=1e-9)


def test_battery_single_shuffle_plan(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    plan = (
        tech_indicators(ev.select("user_id", "event_id", "ts", "value"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_sessionize_two_phase_matches_single_window(spark):
    """Skew guard (VERDICT r2 item 7): the two-phase sessionizer must be
    bit-identical to the classic single per-user window on streams whose
    sessions SPAN bucket boundaries, while its heavy window partitions by
    (user, bucket) so a hot user's stream is split across tasks instead of
    serializing one task."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from global_stock_data_warehouse_spark.operators.timeseries import (
        sessionize_two_phase,
    )

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    # hot user: an event every 12h for 120 days -> ONE session crossing
    # four 30-day buckets (boundary-continuation must merge correctly)
    for i in range(240):
        rows.append((1, eid, base + datetime.timedelta(hours=12 * i)))
        eid += 1
    # bursty user: 3-event bursts every 3d5h (> 2d gap -> new session each
    # burst), with bursts landing on both sides of bucket edges
    t = base
    for _ in range(20):
        for j in range(3):
            rows.append((2, eid, t + datetime.timedelta(hours=j)))
            eid += 1
        t += datetime.timedelta(days=3, hours=5)
    rows.append((3, eid, base))  # singleton user
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    gap_sec = 2 * 86400
    got = sessionize_two_phase(df, gap_sec=gap_sec, bucket_sec=30 * 86400)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ref = df.withColumn(
        "session_id",
        F.sum(F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    key = ["user_id", "event_id", "session_id"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, ref.select(*key).collect())
    )
    # the heavy window's partition spec carries the bucket column
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan


def test_sessionize_two_phase_gap_exactly_at_bucket_edge(spark):
    """VERDICT r8 item 4: the phase boundary IS the bucket edge — events
    placed so the cross-bucket gap lands EXACTLY on gap_sec (continues:
    contract is `> gap` starts a new session) and exactly gap_sec+1
    (new session), plus an event ON the bucket boundary instant itself
    (epoch % bucket_sec == 0 goes to the later bucket via floor). All
    must match the single-window reference bit-for-bit."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from global_stock_data_warehouse_spark.operators.timeseries import (
        sessionize_two_phase,
    )

    gap_sec = 2 * 86400
    bucket_sec = 30 * 86400
    # bucket edge as an absolute instant (UTC epoch multiple of 30d)
    edge = datetime.datetime.utcfromtimestamp(
        (datetime.datetime(2024, 1, 1).timestamp() // bucket_sec + 1)
        * bucket_sec
    )
    rows = [
        # user 1: last event gap_sec BEFORE the edge, next event ON the
        # edge -> boundary gap == gap_sec exactly -> CONTINUES
        (1, 0, edge - datetime.timedelta(seconds=gap_sec)),
        (1, 1, edge),
        # user 2: gap_sec+1 across the edge -> NEW session
        (2, 2, edge - datetime.timedelta(seconds=gap_sec + 1)),
        (2, 3, edge),
        # user 3: event exactly ON the edge then one second later (same
        # bucket, trivially same session) and one gap_sec later within
        # the next bucket (continues within-bucket)
        (3, 4, edge),
        (3, 5, edge + datetime.timedelta(seconds=1)),
        (3, 6, edge + datetime.timedelta(seconds=1 + gap_sec)),
        # user 4: straddles the edge with events 1s either side
        (4, 7, edge - datetime.timedelta(seconds=1)),
        (4, 8, edge + datetime.timedelta(seconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = sessionize_two_phase(df, gap_sec=gap_sec, bucket_sec=bucket_sec)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ref = df.withColumn(
        "session_id",
        F.sum(F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    key = ["user_id", "event_id", "session_id"]
    got_rows = sorted(map(tuple, got.select(*key).collect()))
    assert got_rows == sorted(map(tuple, ref.select(*key).collect()))
    by_user = {}
    for u, e, s in got_rows:
        by_user.setdefault(u, []).append(s)
    assert by_user[1] == [1, 1]  # == gap: continues
    assert by_user[2] == [1, 2]  # gap+1: splits
    assert by_user[3] == [1, 1, 1]
    assert by_user[4] == [1, 1]


# ---------------------------------------------------------------------------
# trend_ols / gap_fill_ffill
# ---------------------------------------------------------------------------


def test_trend_ols_recovers_perfect_line(spark):
    import datetime as dt

    from global_stock_data_warehouse_spark.operators.timeseries import trend_ols

    base = dt.date(2024, 1, 1)
    rows = [
        ("a", base + dt.timedelta(days=i), 10.0 + 2.5 * i) for i in range(10)
    ] + [("b", base, 5.0)]  # single point: undefined trend
    df = spark.createDataFrame(rows, ["user_id", "d", "close"])
    out = {r.user_id: r for r in trend_ols(df).collect()}
    assert out["a"].slope == 2.5
    assert out["a"].r2 == 1.0
    # intercept at epoch day 0 extrapolates the line back to 1970-01-01
    x0 = (base - dt.date(1970, 1, 1)).days
    assert abs(out["a"].intercept - (10.0 - 2.5 * x0)) < 1e-4
    assert out["b"].slope is None and out["b"].r2 is None


def test_gap_fill_ffill_fills_and_flags(spark):
    import datetime as dt

    from global_stock_data_warehouse_spark.operators.timeseries import gap_fill_ffill

    d = dt.date(2024, 3, 1)
    df = spark.createDataFrame(
        [
            ("a", d, 1.0),
            ("a", d + dt.timedelta(days=3), 4.0),
            ("b", d, 9.0),
        ],
        ["user_id", "d", "close"],
    )
    rows = sorted(
        gap_fill_ffill(df).collect(), key=lambda r: (r.user_id, r.d)
    )
    a = [r for r in rows if r.user_id == "a"]
    assert [r.d.day for r in a] == [1, 2, 3, 4]
    assert [r.close for r in a] == [1.0, 1.0, 1.0, 4.0]
    assert [r.is_filled for r in a] == [False, True, True, False]
    b = [r for r in rows if r.user_id == "b"]
    assert len(b) == 1 and b[0].is_filled is False


def test_autocorrelation_detects_alternating_and_trending_series(spark):
    import datetime as dt

    from global_stock_data_warehouse_spark.operators.timeseries import (
        autocorrelation,
    )

    d0 = dt.date(2024, 1, 1)
    rows = []
    # key 1: perfectly alternating 1,2,1,2... -> acf1 == -1
    for i in range(30):
        rows.append((1, d0 + dt.timedelta(days=i), 1.0 + (i % 2)))
    # key 2: strictly increasing line -> acf1 close to +1
    for i in range(30):
        rows.append((2, d0 + dt.timedelta(days=i), float(i)))
    df = spark.createDataFrame(rows, "user_id long, d date, close double")
    out = {r.user_id: r for r in autocorrelation(df, lags=(1, 2)).collect()}
    assert out[1].acf1 == -1.0 and out[1].acf2 == 1.0
    assert out[2].acf1 > 0.99
    assert out[1].n_days == 30
