"""Symbol/ID normalization expressions (SURVEY.md §2.8 F1-F12).

The reference normalizes scraped symbol universes with per-row Python
(zfill, strip, suffix construction, defaulting — downloader_cn.py:52,56,
downloader_kr.py:43,74,76-82, downloader_hk.py:50-54, downloader_wmy.py:21-23,
downloader_us.py:80, main.py:133). Each becomes a native expression here so
the whole normalization chain stays in one codegen stage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def canonical_id(col: Column | str) -> Column:
    """Trim + uppercase — the reference's ``_canonical_id``."""
    return F.upper(F.trim(_c(col)))


def clean_code_digits(col: Column | str) -> Column:
    """Digits-only view of a code (HK ``re.sub(r'\\D','',s)``)."""
    return F.regexp_replace(_c(col).cast("string"), r"\D", "")


def zero_pad(col: Column | str, width: int) -> Column:
    """``code.zfill(width)`` — CN 6-digit / HK+KR 5-6-digit codes."""
    return F.lpad(_c(col).cast("string"), width, "0")


def code_with_suffix(code: Column | str, market: Column | str) -> Column:
    """Exchange-suffixed ticker construction.

    Re-expresses the per-market suffix rules as one when/otherwise chain:
    TW->.TW, JP->.T, HK->.HK; CN by board prefix (6xx -> .SS Shanghai else
    .SZ Shenzhen); KR by market (KOSPI -> .KS, KOSDAQ -> .KQ); US bare.
    """
    code_c, market_c = _c(code), F.upper(_c(market))
    return (
        F.when(market_c == "TW", F.concat(code_c, F.lit(".TW")))
        .when(market_c == "JP", F.concat(code_c, F.lit(".T")))
        .when(market_c == "HK", F.concat(code_c, F.lit(".HK")))
        .when(
            market_c == "CN",
            F.when(F.substring(code_c, 1, 1) == "6", F.concat(code_c, F.lit(".SS"))).otherwise(
                F.concat(code_c, F.lit(".SZ"))
            ),
        )
        .when(market_c == "KOSPI", F.concat(code_c, F.lit(".KS")))
        .when(market_c == "KOSDAQ", F.concat(code_c, F.lit(".KQ")))
        .otherwise(code_c)
    )


def default_if_missing(col: Column | str, default: str = "Unknown") -> Column:
    """NULL / '' / 'nan' / 'n/a' -> default (sector defaulting)."""
    c = _c(col)
    bad = c.isNull() | (F.lower(F.trim(c)).isin("", "nan", "n/a", "none"))
    return F.when(bad, F.lit(default)).otherwise(c)


def status_flag(coverage: Column | str, floor: float = 80.0) -> Column:
    """Coverage gate: >= floor -> 'OK' else 'WARN' (main.py:133 semantics)."""
    return F.when(_c(coverage) >= floor, F.lit("OK")).otherwise(F.lit("WARN"))


# Derivative-security name exclusion (reference regex, downloader_us.py:64).
DERIVATIVE_NAME_PATTERN = "WARRANT|RIGHT|PREFERRED|UNIT|ETF|INDEX"


def is_derivative_name(col: Column | str) -> Column:
    return F.upper(_c(col)).rlike(DERIVATIVE_NAME_PATTERN)


# P3: the reference's bilingual gold schema (downloader_wmy.py:29-33 rename
# map + :57,111-117 added columns). The engine computes in English and
# applies this mapping only at the export edge.
WMY_I18N_RENAME = {
    "period_end": "日期",
    "open": "開盤",
    "high": "最高",
    "low": "最低",
    "close": "收盤",
    "volume": "成交量",
    "period_return": "漲跌幅",
    "stock_id": "StockID",
}


def rename_i18n(df, mapping: dict[str, str] | None = None):
    """Rename engine columns to the reference's published (zh) schema.
    Columns absent from ``df`` are ignored, so it composes with any
    projection of the gold table."""
    m = {k: v for k, v in (mapping or WMY_I18N_RENAME).items() if k in df.columns}
    return df.withColumnsRenamed(m)
