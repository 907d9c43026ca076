"""Entry points of the engine (PySpark target).

``entry(spark)`` runs the flagship pipeline (weekly OHLC resample + lag
returns, the reference's downloader_wmy.py:39-58 semantics) on sf0.001.
``queries()``/``oracle_sql()`` expose every declared query and its DuckDB
twin for the correctness harness. The queries live in
``global_stock_data_warehouse_spark/queries/``, one module per family.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession

from global_stock_data_warehouse_spark.queries import declared
from global_stock_data_warehouse_spark.queries.wmy import q_wmy_weekly_resample_returns

# The correctness harness hashes the first 50 queries() entries against
# their DuckDB twins and keeps only a row count for the rest. Rules for
# this window:
#  1. only oracled queries sit in it;
#  2. queries a change touched go first, then the stalest oracled ones
#     by tools/rotation_ledger.py;
#  3. every oracled query outside it must still pass the bit-exact mirror
#     (CHECK_EXACT=1 python tools/check_correctness.py);
#  4. queries with engine-order-sensitive rounded floats (EPS_QUERIES in
#     tools/check_correctness.py) stay out: the hash has no tolerance.
WINDOW = [
    "token_vote_classify", "classifier_confusion", "classifier_calibration",
    "ngram_topk", "ngram_topk_sketch", "collocations_topk",
    "source_chi2_drift", "unigram_prob_score", "term_chi2",
    "bigram_prob_score", "dsir_select", "remove_duplicate_spans",
    "duplicate_spans", "decontaminate", "contamination_report",
    "source_overlap", "repetition_stats", "text_stats", "chunk_documents",
    "gopher_quality_flags", "lang_confusion", "corpus_clean", "pii_scrub",
    "paragraph_dedup", "record_linkage", "dedup_components", "dedup_funnel",
    "dedup_keep_best", "dup_cluster_stats", "dup_source_matrix",
    "neardup_consensus", "ngram_jaccard_neardup", "embedding_neardup",
    "leakage_safe_split", "llm_gold_pipeline", "packed_sequences",
    "triangle_count", "link_prediction", "source_mix_report", "benford_audit",
    "custdist", "embedding_moments", "important_stock", "incremental_dedup",
    "priority_linestatus", "promo_revenue_share", "rebalance_sample",
    "shard_shuffle", "split_assign", "temperature_sample",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_wmy_weekly_resample_returns(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The window, then the other oracled queries, then the rows-only
    ones; past the window, in family order."""
    qs = declared()
    oracled = [n for n, fn in qs.items() if hasattr(fn, "oracle") and n not in WINDOW]
    rows_only = [n for n, fn in qs.items() if not hasattr(fn, "oracle")]
    return {n: qs[n] for n in (*WINDOW, *oracled, *rows_only)}


def oracle_sql() -> dict[str, str]:
    """name -> DuckDB SQL of every oracled query; a twin given as a
    function is built from the plain-SQL ones."""
    twins = {n: fn.oracle for n, fn in declared().items() if hasattr(fn, "oracle")}
    sql = {n: t for n, t in twins.items() if isinstance(t, str)}
    return {**sql, **{n: t(sql) for n, t in twins.items() if callable(t)}}
