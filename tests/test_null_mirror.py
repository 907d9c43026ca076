"""NULL-injected oracle-mirror regression: the driver fixtures carry no
NULLs in documents.source/n_chars/text or events.user_id/ts/value, so a
Spark operator and its DuckDB oracle can encode DIFFERENT NULL contracts
and still pass the gate. The r8 NULL sweep (now the ``null`` axis of
tools/sweep.py) found 28 such divergences; this suite pins one
representative query per fixed family so a regression surfaces here
instead of on the first NULL-bearing production fixture. The
full-surface sweep is the slow-tier test_every_query_on_degenerate_axis."""

from __future__ import annotations

import os

import pytest

from global_stock_data_warehouse_spark.sources.registry import TABLES, load_table
from tools.check_correctness import run
from tools.sweep import build


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    """sf0.001 tables with NULLs injected into exactly the columns whose
    exclusion/normalization contracts the operators document (the same
    injection as the sweep's ``null`` axis — one definition, imported)."""
    out = str(tmp_path_factory.mktemp("null_sf"))
    build(spark, "null", out)
    return out


# one per fixed family:
#   text root normalization  -> text_stats, chunk_documents, dedup_exact,
#                               pii_scrub (engine concat-NULL divergence)
#   NULL agg-column exclusion-> decay_weighted, term_chi2, length_ks_drift
#   bar family (_event_bars / daily_close) -> wmy_weekly, market_breadth
#   session family           -> sessionize
#   timeline family          -> scd2_history
#   quota pollution          -> temperature_sample
FAMILY_PINS = [
    "text_stats",
    "chunk_documents",
    "dedup_exact",
    "pii_scrub",
    "decay_weighted",
    "term_chi2",
    "length_ks_drift",
    "wmy_weekly_resample_returns",
    "market_breadth",
    "sessionize",
    "scd2_history",
    "temperature_sample",
]


@pytest.mark.parametrize("name", FAMILY_PINS)
def test_null_mirror(spark, null_sf_dir, name):
    assert run(spark, null_sf_dir, [name]) == []


def test_json_extract_malformed_props_mirror(spark, tmp_path):
    """Malformed/empty/non-object props must NULL identically on both
    engines: DuckDB's json functions THROW on invalid JSON (and its
    CAST throws on '[1,2]') where Spark's get_json_object + non-ANSI
    cast return NULL — the oracle carries json_valid + TRY_CAST guards
    for exactly this (found by the r8 malformed-props probe)."""
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", src)
    extra = spark.createDataFrame(
        [
            (900001 + i, "2024-02-01 00:00:00", 5, "click", 1.0, p)
            for i, p in enumerate(
                [None, "", "{not json", '{"k": }', "[1,2,3]",
                 '{"deep": {"x": 1}}', "null", "42", '{"k": "77"}',
                 '{"k": [1,2]}']
            )
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = str(tmp_path)
    ev.unionByName(extra).write.parquet(out + "/events.parquet")

    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(src, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    assert run(spark, out, ["json_extract"]) == []
