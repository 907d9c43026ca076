"""Bounded-concurrency time-series fetch source (SURVEY.md §2.1 S5).

Re-expresses the reference's per-symbol serial download loop
(downloader_us.py:148-159: one yf.download per symbol, 0.02-0.05s pacing)
as a driver prefetch: ``max_concurrency`` driver threads (the reference
orchestrator's ``max_workers`` intent, main.py:166-170) call the injected
``fetch_fn`` with per-thread pacing and retries (downloader_us.py:99-110).
The calls are I/O-bound and a PySpark Python task costs more CPU than
they do, so no ``mapInPandas`` task runs: the rows come back as one
``createDataFrame(pandas)``, with Arrow a local relation that later reads
scan with no job and no second fetch. Failed symbols are not swallowed
(the reference's bare ``except: return None``, downloader_tw.py:96-97):
they come back as rows with ``_fetch_error`` set, for ``split_quarantine``.

Scale: global request rate <= max_concurrency / min_interval_sec. Every
fetched row is held on the driver: a daily sync holds symbols x the
re-download window, a backfill the whole history, so a backfill larger
than the driver's memory is fetched in symbol batches.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, FractionalType


def fetch_timeseries(
    spark: SparkSession,
    symbols: Sequence[str],
    fetch_fn: Callable[[str], pd.DataFrame],
    schema: str,
    max_concurrency: int = 8,
    min_interval_sec: float = 0.0,
    max_retries: int = 1,
    retry_backoff_sec: float = 0.0,
) -> DataFrame:
    """Fetch one frame per symbol on up to ``max_concurrency`` driver threads.

    ``fetch_fn(symbol) -> pd.DataFrame`` returns the ``schema`` columns
    other than symbol and _fetch_error. It runs on up to ``max_concurrency``
    threads at once: a client that is not thread-safe passes
    ``max_concurrency=1``, the reference's serial loop (downloader_us.py:2-10
    avoids yfinance's threaded mode). Each thread waits ``min_interval_sec``
    between its calls. A symbol still raising after ``max_retries`` retries yields one
    ``_fetch_error`` row; empty or ``None`` results are skipped (P9 guard,
    downloader_tw.py:85). Rows come back in symbol order."""
    fields = DataType.fromDDL(schema).fields
    out_cols = [f.name for f in fields]
    # a dead letter pads with nulls of its column's kind: NaN would turn a
    # bigint column into float64 when it joins the fetched rows
    pad = {f.name: float("nan") if isinstance(f.dataType, FractionalType) else None for f in fields}
    pacing = threading.local()

    def fetch_one(sym: str) -> pd.DataFrame | None:
        wait = min_interval_sec - (time.monotonic() - getattr(pacing, "last_call", 0.0))
        if wait > 0:
            time.sleep(wait)
        pacing.last_call = time.monotonic()
        for attempt in range(max_retries + 1):
            try:
                out = fetch_fn(sym)
                break
            except Exception as exc:  # dead-letter, not swallow
                err = f"{type(exc).__name__}: {exc}"
                if attempt < max_retries and retry_backoff_sec:
                    time.sleep(retry_backoff_sec * (attempt + 1))
        else:
            return pd.DataFrame([{**pad, "symbol": sym, "_fetch_error": err}], columns=out_cols)
        if out is None or out.empty:
            return None
        return out.assign(symbol=sym, _fetch_error=None).reindex(columns=out_cols)

    with ThreadPoolExecutor(max_concurrency) as pool:
        frames = [f for f in pool.map(fetch_one, symbols) if f is not None]
    rows = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=out_cols)
    return spark.createDataFrame(rows, schema)


def split_quarantine(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows, dead-letter rows) — the engine-level replacement for the
    reference's silent per-symbol failure swallowing."""
    ok = fetched.filter(F.col("_fetch_error").isNull()).drop("_fetch_error")
    dead = fetched.filter(F.col("_fetch_error").isNotNull())
    return ok, dead
