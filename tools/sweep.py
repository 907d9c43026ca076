"""Degenerate-input sweep: write a degenerate copy of the fixture tables and
check every declared query on it with ``tools/check_correctness.run``.

Spark and the DuckDB oracle read the same degenerate parquet, so an
operator and its oracle that encode different contracts for the edge
(a NULL, an empty frame, one hot key, a lone row, multibyte text) show up
as a mismatch; a crash is a robustness bug; a rows-only query must keep
its pinned columns and stay deterministic. Each axis rewrites only the
tables it degrades and symlinks the rest from the source:

- ``null``: NULL rows injected into documents and events;
- ``empty``: 0-row copies of all ten tables;
- ``const``: every document and every event identical;
- ``singleton``: one event per user, one document per source, one
  embedding per label;
- ``unicode``: adversarial-unicode documents and events injected.

Usage: python tools/sweep.py --axis AXIS [name ...]
  CHECK_SF_DIR=dir   source tables (default: the sf0.001 fixtures)
  CHECK_REPORT=path  also write the per-query outcomes as JSON
"""

from __future__ import annotations

import argparse
import datetime
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from global_stock_data_warehouse_spark.session import get_spark  # noqa: E402
from global_stock_data_warehouse_spark.sources.registry import TABLES, load_table  # noqa: E402
from tools.check_correctness import SF_DIR, run  # noqa: E402

# the smallest fixture scale, next to the mirror's default
SRC = os.environ.get("CHECK_SF_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.001"))


def _write(df, out: str, table: str) -> None:
    df.write.parquet(os.path.join(out, f"{table}.parquet"), mode="overwrite")


def _null(spark, out: str) -> None:
    # The fixtures carry no NULLs in the text-pipeline columns, so NULLs go
    # into exactly the columns whose exclusion/normalization contracts the
    # operators document.
    docs = load_table(spark, "documents", SRC)
    null_docs = spark.createDataFrame(
        [
            (900001, "null source doc words here", "en", None, 25),
            (900002, "null nchars doc", "en", "web", None),
            (900003, None, "en", "web", 0),
            (900004, "fully null meta", None, None, None),
            (900005, "   ", "en", "web", 3),
        ],
        docs.schema,
    )
    _write(docs.unionByName(null_docs), out, "documents")
    ev = load_table(spark, "events", SRC)
    null_ev = spark.createDataFrame(
        [
            (900001, None, 1, "click", 50.0, "{}"),
            (900002, datetime.datetime(2024, 1, 2), 1, "click", None, "{}"),
            (900003, None, None, None, None, None),
            (900004, datetime.datetime(2024, 1, 3), None, None, 5.0, None),
            # NULL-value row holding the corpus-max timestamp: anchors
            # (max-date subqueries) must exclude it like the operators do
            (900005, datetime.datetime(2031, 12, 31), 2, "click", None, "{}"),
        ],
        ev.schema,
    )
    _write(ev.unionByName(null_ev), out, "events")


def _empty(spark, out: str) -> None:
    # Exercises every driver-side `.collect()[0]` probe, min/max anchor,
    # quota derivation and window over an empty frame: an incremental
    # pipeline's first run, a filter that eliminated everything.
    for t in TABLES:
        _write(load_table(spark, t, SRC).limit(0), out, t)


def _const(spark, out: str) -> None:
    # One giant dedup group (maximal pair volume) and one session, cohort
    # cell and hot key: single-group pair joins, window folds over one
    # partition key, zero-variance statistics, division-by-range guards.
    docs = load_table(spark, "documents", SRC).select(
        "doc_id",
        F.lit("the same exact text for every single document here").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.lit(50).alias("n_chars"),
    )
    _write(docs, out, "documents")
    ev = load_table(spark, "events", SRC).select(
        "event_id",
        F.lit("2024-03-01 12:00:00").cast("timestamp").alias("ts"),
        F.lit(1).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(10.0).alias("value"),
        "props",
    )
    _write(ev, out, "events")


def _singleton(spark, out: str) -> None:
    # Every lag/window/return operator has a "no previous row" branch:
    # NULL return legs, drawdowns with no history, one-bar resamples,
    # length-1 coverage spans, per-source stats over one doc. Rank 1 over
    # a total order keeps the reduction reproducible run to run.
    for table, key, order in (
        ("documents", "source", ("doc_id",)),
        ("events", "user_id", ("ts", "event_id")),
        ("embeddings", "label", ("vec_id",)),
    ):
        w = Window.partitionBy(key).orderBy(*order)
        df = load_table(spark, table, SRC)
        _write(df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn"),
               out, table)


# One document per adversarial class, all from the set on which Spark and
# DuckDB agree (pinned in tests/test_unicode_contract.py). n_chars is
# len(text): Python counts code points exactly like both engines' length().
# Three classes are excluded on purpose because the engines diverge on them:
# Turkish dotted capital İ, Greek capital sigma in final position and
# vertical tab U+000B. They bound the oracle's domain, and their Spark-side
# behaviour is pinned by the contract tests; injecting them here would
# report that documented boundary as a failure.
ADVERSARIAL_DOCS = [
    # NBSP binds (not \s in either engine's tokenizer regex)
    "alpha bound beta gamma the data table",
    # ideographic space U+3000 binds
    "词　组 spark data merge join window",
    # ZWSP binds
    "zero​width word join test batch stream",
    # CR/LF/TAB/FF all split in both engines (U+000B excluded: diverges)
    "line1\r\nline2\tcol\x0cpage the fast sort key",
    # fullwidth letters lowercase in place in both engines
    "ＦＵＬＬＷＩＤＴＨ ｔｅｘｔ here data spark window",
    # emoji ZWJ sequences stay intact single tokens
    "\U0001f469‍\U0001f680 emoji family \U0001f468‍\U0001f469‍\U0001f467‍\U0001f466 test data",
    # decomposed combining marks count as separate code points
    "café decomposed naïve résumé marks data",
    # regex metacharacters must never reach an unescaped regex
    "a.b*c (paren) [brack] {brace} pipe| ^caret $dollar plus+ q? back\\slash",
    # astral plane (surrogate pairs in UTF-16 Java; 4-byte UTF-8 duck)
    "\U0001d56c\U0001d593\U0001d586 astral \U00010300\U00010301 plane data",
    # CJK no-case scripts
    "中文文本处理 日本語のテキスト 한국어 데이터",
    # RTL scripts
    "مرحبا بالعالم שלום עולם data",
    # lowercase Greek (capital final-position sigma excluded: diverges)
    "αλφα βητα γαμμα data table",
    # Turkish WITHOUT the dotted capital (İ excluded: diverges)
    "istanbul türkiye ğüşöç straße data",
    # NULL-lookalike strings must stay ordinary tokens
    "None null NULL NaN nan data value",
    # quote and escape soup (JSON-adjacent but in a plain text column)
    "he said \"quoted\" and 'single' and \\ backslash {\"not\": \"json\"}",
]


def _unicode(spark, out: str) -> None:
    docs = load_table(spark, "documents", SRC)
    langs = ["en", "zh", "es", "de", "fr"]
    sources = ["src0", "src1", "web"]
    uni_docs = spark.createDataFrame(
        [
            (910001 + i, t, langs[i % len(langs)], sources[i % len(sources)], len(t))
            for i, t in enumerate(ADVERSARIAL_DOCS)
        ],
        docs.schema,
    )
    _write(docs.unionByName(uni_docs), out, "documents")
    ev = load_table(spark, "events", SRC)
    # multibyte event_type values and unicode JSON props: both engines must
    # group and extract them identically. Timestamps stay inside the
    # fixture's range so max-date anchors don't move.
    uni_ev = spark.createDataFrame(
        [
            (910001, datetime.datetime(2024, 1, 2, 10), 7, "点击", 12.5,
             '{"k": "值", "n": 1}'),
            (910002, datetime.datetime(2024, 1, 3, 11), 7, "café_view", 3.25,
             '{"k": "ümläut", "n": 2}'),
            (910003, datetime.datetime(2024, 1, 4, 12), 8, "αβγ", 9.0,
             '{"k": "emoji \U0001f680", "n": 3}'),
        ],
        ev.schema,
    )
    _write(ev.unionByName(uni_ev), out, "events")


AXES = {
    "null": _null,
    "empty": _empty,
    "const": _const,
    "singleton": _singleton,
    "unicode": _unicode,
}


def build(spark, axis: str, out: str) -> None:
    """Write ``axis``'s degenerate tables under ``out`` and symlink the
    tables it leaves pristine."""
    AXES[axis](spark, out)
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--axis", required=True, choices=AXES)
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    args = ap.parse_args(argv)
    spark = get_spark(f"sweep-{args.axis}")
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix=f"sweep_{args.axis}_")
    try:
        build(spark, args.axis, out)
        return 1 if run(spark, out, args.names) else 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
