"""Output checks. Each returns None when the output is right, else a short
description of the first difference. They take pandas frames or row lists,
never Spark objects, and run outside the timed section."""

from __future__ import annotations

import numpy as np
import pandas as pd

# DuckDB twin of plans.wmy.wmy_pipeline(freqs=("W", "M", "Y")) over a bars
# table with string dates; modelled on the wmy_gold_pipeline oracle.
WMY_TWIN_SQL = """
WITH bars AS (
  SELECT symbol, CAST(date AS DATE) AS d, open, high, low, close, volume FROM bars_raw
), gapped AS (
  SELECT symbol, close,
         CASE WHEN lag(d) OVER (PARTITION BY symbol ORDER BY d) >= DATE '2024-01-01'
              THEN date_diff('day', lag(d) OVER (PARTITION BY symbol ORDER BY d), d)
         END AS gap
  FROM bars
), gates AS (
  SELECT symbol,
         max(CASE WHEN close <= 0 THEN 1 ELSE 0 END) = 1 AS invalid_price,
         coalesce(max(gap) > 14, FALSE) AS gap_too_large
  FROM gapped GROUP BY symbol
), clean AS (
  SELECT b.* FROM bars b JOIN gates g USING (symbol)
  WHERE NOT g.invalid_price AND NOT g.gap_too_large
), bucketed AS (
  SELECT *, 'W' AS freq, d + CAST((5 - isodow(d) + 7) % 7 AS INTEGER) AS period_end FROM clean
  UNION ALL SELECT *, 'M', last_day(d) FROM clean
  UNION ALL SELECT *, 'Y', make_date(year(d), 12, 31) FROM clean
), res AS (
  SELECT symbol, freq, period_end,
         arg_min(open, d) AS open, max(high) AS high, min(low) AS low,
         arg_max(close, d) AS close, CAST(sum(volume) AS BIGINT) AS volume
  FROM bucketed GROUP BY ALL
), kept AS (
  SELECT * FROM res WHERE symbol NOT IN (
    SELECT symbol FROM res WHERE close > high OR close < low)
)
SELECT symbol AS stock_id, freq, period_end, open, high, low, close, volume,
       round(close / lag(close) OVER (PARTITION BY symbol, freq ORDER BY period_end) - 1, 4)
         AS period_return
FROM kept
"""


def frames_diff(
    actual: pd.DataFrame,
    expected: pd.DataFrame,
    keys: list[str],
    atol: dict[str, float] | None = None,
) -> str | None:
    """Row-by-row comparison on ``keys``. Float columns must agree within
    ``atol[col]`` (default: exactly); NULLs must match NULLs."""
    atol = atol or {}
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    cols = list(expected.columns)
    a = actual[cols].sort_values(keys).reset_index(drop=True)
    e = expected[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        x, y = a[c], e[c]
        if pd.api.types.is_float_dtype(y) or pd.api.types.is_float_dtype(x):
            x = x.astype("float64").to_numpy()
            y = y.astype("float64").to_numpy()
            same = np.isclose(x, y, rtol=0, atol=atol.get(c, 0.0), equal_nan=True)
        else:
            same = (x.astype(str) == y.astype(str)).to_numpy()
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return f"{c} at {dict(e.loc[i, keys])}: {a.loc[i, c]!r} != {e.loc[i, c]!r}"
    return None


def verdicts_diff(verdicts: pd.DataFrame, expected: dict[str, bool]) -> str | None:
    got = dict(zip(verdicts["symbol"], verdicts["passed"].astype(bool)))
    if got != expected:
        wrong = sorted(s for s in set(got) | set(expected) if got.get(s) != expected.get(s))
        return f"verdicts differ for {wrong[:5]}"
    return None


def query_diff(name: str, srows, scols, drows, dcols) -> str | None:
    """``tools/check_correctness.py``'s comparison: normalised, order-free
    rows, with the ``EPS_QUERIES`` tolerances."""
    from tools.check_correctness import EPS_QUERIES, _eps_compare, _normalize

    sn, sc = _normalize(srows, scols)
    dn, dc = _normalize(drows, dcols)
    if sc != dc:
        return f"schema {sc} != {dc}"
    if len(sn) != len(dn):
        return f"{len(sn)} rows, oracle {len(dn)}"
    if name in EPS_QUERIES:
        return _eps_compare(srows, scols, drows, dcols, EPS_QUERIES[name])
    if sn != dn:
        return "values differ from the oracle"
    return None


def count_failed(ops: list[tuple[object, bool]], errors: dict) -> int:
    """Ops, as (key, passed its own check), that failed: those that raised
    or failed their own check, those whose key has an error, and every op
    when the state they built together is wrong (key None)."""
    if None in errors:
        return len(ops)
    return sum(not ok or key in errors for key, ok in ops)
