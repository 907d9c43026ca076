"""Seeded inputs and their ground truth.

Everything here is a pure function of the seed: the daily bars of a market
(with seeded defects whose expected verdicts are known), the fake
``fetch_fn`` of the daily sync, and the TPC-H-like tables the declared
queries read. Nothing here imports Spark.
"""

from __future__ import annotations

import hashlib
import os
import time
import zlib

import numpy as np
import pandas as pd

HISTORY_START = "2023-01-02"  # the reference's hot-mode window start
GAP_SINCE = "2024-01-01"
REFETCH_DAYS = 5  # the reference re-downloads each symbol's trailing 5 days
FETCH_LATENCY_S = 0.005  # stands in for one network round trip
RESTATE_SHARE = 0.005  # share of re-fetched bars whose close is restated


class FetchFailed(RuntimeError):
    """Raised by the fake fetch for the seeded failing symbols."""


def _rng(seed: int, *tags: int | str) -> np.random.Generator:
    key = [seed] + [zlib.crc32(t.encode()) if isinstance(t, str) else t for t in tags]
    return np.random.default_rng(key)


def _restated(seed: int, sym_idx: int, day_idx: int, as_of_idx: int) -> bool:
    """True when the fetch made on ``as_of_idx`` restates that bar's close."""
    h = zlib.crc32(f"{seed}:{sym_idx}:{day_idx}:{as_of_idx}".encode())
    return day_idx < as_of_idx and h < RESTATE_SHARE * 2**32


class Market:
    """``n_symbols`` symbols over ``n_days + extra_days`` business days.

    The first ``n_days`` form the stored history; the ``extra_days`` after
    them are what the daily sync fetches. Seeded defects, disjoint and
    placed before the re-download window:

    - ``bad_price``: about 1% of symbols have one bar with close 0;
    - ``gapped``: about 1% lose 15 consecutive bars after ``GAP_SINCE``;
    - ``ohlc_bad``: about 0.5% have a Friday close above the week's highs,
      which the post-resample OHLC gate sees.

    ``failing`` (about 1%, disjoint from the defects) always raise in the
    fake fetch.
    """

    def __init__(self, seed: int, market: str, n_symbols: int, n_days: int, extra_days: int = 0):
        self.seed, self.market = seed, market
        self.n_days = n_days
        self.days = pd.bdate_range(HISTORY_START, periods=n_days + extra_days)
        self.symbols = [f"{i:05d}.{market.upper()}" for i in range(n_symbols)]
        n_all = len(self.days)
        rng = _rng(seed, market, "bars")
        rets = rng.normal(0.0003, 0.02, (n_symbols, n_all))
        start = rng.uniform(5, 500, (n_symbols, 1))
        close = np.round(start * np.exp(np.cumsum(rets, axis=1)), 2)
        open_ = np.round(close * np.exp(rng.normal(0, 0.01, close.shape)), 2)
        high = np.round(np.maximum(open_, close) * (1 + rng.uniform(0, 0.02, close.shape)), 2)
        low = np.round(np.minimum(open_, close) * (1 - rng.uniform(0, 0.02, close.shape)), 2)
        self.open, self.high, self.low, self.close = open_, high, low, close
        self.volume = rng.integers(1_000, 1_000_000, close.shape)
        self.present = np.ones(close.shape, dtype=bool)

        def pick(k):
            return max(1, round(n_symbols * k))

        order = rng.permutation(n_symbols)
        n_bp, n_gap, n_ohlc, n_fail = pick(0.01), pick(0.01), pick(0.005), pick(0.01)
        cuts = np.cumsum([n_bp, n_gap, n_ohlc, n_fail])
        self.bad_price = set(order[: cuts[0]].tolist())
        self.gapped = set(order[cuts[0] : cuts[1]].tolist())
        self.ohlc_bad = set(order[cuts[1] : cuts[2]].tolist())
        self.failing = set(order[cuts[2] : cuts[3]].tolist())
        last_defect_day = n_days - REFETCH_DAYS - 5
        gap_first = int(np.searchsorted(self.days, pd.Timestamp(GAP_SINCE)))
        for i in self.bad_price:
            d = int(rng.integers(0, last_defect_day))
            self.close[i, d] = 0.0
            self.low[i, d] = 0.0
        for i in self.gapped:
            d = int(rng.integers(gap_first + 2, last_defect_day - 15))
            self.present[i, d : d + 15] = False
        fridays = np.flatnonzero(self.days.dayofweek[:last_defect_day] == 4)
        for i in self.ohlc_bad:
            d = int(rng.choice(fridays))
            self.close[i, d] = np.round(self.high[i, d - 4 : d + 1].max() * 1.05, 2)

    def day(self, idx: int) -> str:
        return self.days[idx].strftime("%Y-%m-%d")

    def history(self) -> pd.DataFrame:
        """The stored bars: the first ``n_days`` days, ``BAR_SCHEMA`` order."""
        return self._frame(range(len(self.symbols)), 0, self.n_days, None)

    def _frame(self, sym_idx, lo: int, hi: int, as_of: int | None) -> pd.DataFrame:
        parts = []
        for i in sym_idx:
            keep = np.flatnonzero(self.present[i, lo:hi]) + lo
            close = self.close[i, keep].copy()
            if as_of is not None:
                for j, d in enumerate(keep):
                    if _restated(self.seed, i, int(d), as_of):
                        close[j] = np.round((self.low[i, d] + self.high[i, d]) / 2, 2)
            parts.append(
                pd.DataFrame(
                    {
                        "date": self.days[keep].strftime("%Y-%m-%d"),
                        "open": self.open[i, keep],
                        "high": self.high[i, keep],
                        "low": self.low[i, keep],
                        "close": close,
                        "volume": self.volume[i, keep].astype("int64"),
                        "symbol": self.symbols[i],
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    def fetched(self, sym_idx: int, as_of: int) -> pd.DataFrame:
        """What the source returns for one symbol on day ``as_of``: the
        trailing ``REFETCH_DAYS`` bars, some closes restated."""
        return self._frame([sym_idx], as_of - REFETCH_DAYS + 1, as_of + 1, as_of)

    def expected_bars(self, last_as_of: int) -> pd.DataFrame:
        """Stored bars after syncing every day up to ``last_as_of``: history,
        then per bar the values of the last fetch that covered it. Failing
        symbols keep their history."""
        frames = [self.history()]
        lo = self.n_days - REFETCH_DAYS + 1
        for i in range(len(self.symbols)):
            if i in self.failing:
                continue
            for d in range(lo, last_as_of + 1):
                last = min(d + REFETCH_DAYS - 1, last_as_of)
                frames.append(self._frame([i], d, d + 1, last))
        out = pd.concat(frames, ignore_index=True)
        return out.drop_duplicates(["date", "symbol"], keep="last").reset_index(drop=True)

    def expected_verdicts(self) -> dict[str, bool]:
        """symbol -> passed, from the seeded defects."""
        bad = self.bad_price | self.gapped | self.ohlc_bad
        return {s: i not in bad for i, s in enumerate(self.symbols)}

    def failing_symbols(self) -> set[str]:
        return {self.symbols[i] for i in self.failing}

    def content_hash(self) -> str:
        h = hashlib.sha256()
        for a in (self.open, self.high, self.low, self.close, self.volume, self.present):
            h.update(np.ascontiguousarray(a).tobytes())
        h.update(repr(sorted(self.failing)).encode())
        return h.hexdigest()


def make_fetch_fn(market: Market, as_of: int, attempts, busy_s):
    """The injected ``fetch_fn(symbol)`` for one sync day.

    Output depends only on (seed, symbol, day). Each call sleeps
    ``FETCH_LATENCY_S``, adds 1 to the ``attempts`` accumulator and its
    elapsed seconds to ``busy_s``; the seeded failing symbols raise.
    Only the rows of the re-download window travel with the closure.
    """
    frames = {
        s: market.fetched(i, as_of)
        for i, s in enumerate(market.symbols)
        if i not in market.failing
    }
    failing = market.failing_symbols()

    def fetch_fn(symbol: str) -> pd.DataFrame:
        t0 = time.perf_counter()
        attempts.add(1)
        time.sleep(FETCH_LATENCY_S)
        try:
            if symbol in failing:
                raise FetchFailed(f"{symbol}: source unavailable")
            return frames[symbol].drop(columns="symbol")
        finally:
            busy_s.add(time.perf_counter() - t0)

    return fetch_fn


# --- TPC-H-like tables for the declared queries ----------------------------

_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()


def query_tables(seed: int, sf: float = 0.01) -> dict[str, pd.DataFrame]:
    """The ten tables ``__spark_entry__.queries()`` read, at scale ``sf``:
    the column names, types and value domains of the repo's testdata, with
    values drawn from ``seed``."""
    rng = _rng(seed, "tables")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = int(50_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def dates(lo, hi, n):
        base = np.datetime64(lo)
        span = (np.datetime64(hi) - base).astype(int)
        return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")

    t = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": 900 + (pk % 1000) / 10.0,
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": dates("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": dates("1995-01-02", "2001-11-04", n_li),
        }
    )
    gaps = rng.exponential(2.59e8 / (n_ev / 10_000) / 1e3, n_ev).astype("int64") * 1000
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(25, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [" ".join(rng.choice(_WORDS, int(n))) for n in rng.integers(8, 100, n_doc)]
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "es", "zh", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(rng.normal(0, 0.125, (n_emb, 64)).astype("float32")),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }
    )
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def tables_hash(tables: dict[str, pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(tables[name].astype(str), index=False).values.tobytes())
    return h.hexdigest()
