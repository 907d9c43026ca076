"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402


def _market(seed):
    return gen.Market(seed, "tw", 200, 650, 4)


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _market(1).content_hash() == _market(1).content_hash()
    assert _market(1).content_hash() != _market(2).content_hash()
    t1, t2 = gen.query_tables(1, sf=0.001), gen.query_tables(2, sf=0.001)
    assert gen.tables_hash(t1) == gen.tables_hash(gen.query_tables(1, sf=0.001))
    assert gen.tables_hash(t1) != gen.tables_hash(t2)


def test_ground_truth_matches_seeded_defects():
    m = _market(3)
    verdicts = m.expected_verdicts()
    assert sum(not ok for ok in verdicts.values()) == len(m.bad_price | m.gapped | m.ohlc_bad) == 5
    hist = m.history()
    bad = hist[hist.symbol.isin([m.symbols[i] for i in m.bad_price])]
    assert (bad.close <= 0).any()
    assert (hist[~hist.symbol.isin([m.symbols[i] for i in m.bad_price])].close > 0).all()
    final = m.expected_bars(650 + 3)
    assert not final.duplicated(["date", "symbol"]).any()
    # failing symbols never receive the synced days
    failing = final[final.symbol.isin(m.failing_symbols())]
    assert failing.date.max() == m.day(649)


def test_fetch_depends_only_on_seed_symbol_and_day():
    a, b = _market(4), _market(4)
    pd_a, pd_b = a.fetched(7, 652), b.fetched(7, 652)
    assert len(pd_a) == gen.REFETCH_DAYS and pd_a.equals(pd_b)


def test_corrupted_output_counts_as_failed_op():
    m = _market(5)
    expected = m.expected_bars(651)
    assert checks.frames_diff(expected.copy(), expected, ["date", "symbol"]) is None
    corrupt = expected.copy()
    corrupt.loc[17, "close"] += 0.01
    err = checks.frames_diff(corrupt, expected, ["date", "symbol"])
    assert err and "close" in err
    ops = [(650, True), (651, True)]
    assert checks.count_failed(ops, {}) == 0
    assert checks.count_failed(ops, {None: err}) == 2

    rows, cols = [(1, "a", 2.5), (2, "b", 3.0)], ["k", "s", "v"]
    assert checks.query_diff("q", rows, cols, list(rows), cols) is None
    bad = checks.query_diff("q", rows, cols, [(1, "a", 2.5), (2, "b", 3.5)], cols)
    assert bad
    assert checks.count_failed([("q", True), ("r", True), ("q", True)], {"q": bad}) == 2


def test_verdict_check_sees_a_flipped_verdict():
    import pandas as pd

    m = _market(6)
    truth = m.expected_verdicts()
    got = pd.DataFrame({"symbol": list(truth), "passed": list(truth.values())})
    assert checks.verdicts_diff(got, truth) is None
    got.loc[0, "passed"] = not got.loc[0, "passed"]
    assert checks.verdicts_diff(got, truth)
