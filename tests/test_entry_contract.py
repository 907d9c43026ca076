"""Driver-contract smoke: every queries() entry must run and produce a
stable schema; oracle_sql() keys must be a subset of queries() keys.

This is the cheap tripwire for contract breaks — full value parity vs the
DuckDB oracle runs in tools/check_correctness.py at sf0.01, and on each
degenerate axis of tools/sweep.py in the slow tier.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from global_stock_data_warehouse_spark.sources.registry import TABLES, load_table
from tools.check_correctness import run
from tools.sweep import AXES, build


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles <= qs, f"oracles without queries: {oracles - qs}"
    # every non-oracle query is a documented approximate/sketch op
    approx_ok = {
        "minhash_neardup",
        "simhash_neardup",
        "simhash_multi_index",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "approx_distinct",
        "winnow_fingerprints",
        "embedding_neardup_lsh",
        "semantic_dedup",
        "pagerank",
        "ann_projected_topk",
        "k_core",
        "source_overlap_kmv",
        "bpe_vocab",
        "bpe_encode_stats",
        "kmeans_clusters",
        "cluster_balanced_sample",
        "training_prep",
        "pca_variance",
        "incremental_minhash",
        "bloom_decontaminate",
    }
    assert qs - oracles <= approx_ok, f"missing oracles: {qs - oracles - approx_ok}"


def test_every_family_query_is_declared_once():
    """Each top-level ``def q_<name>`` of a family module is ``queries()``
    entry ``<name>``, in no other family: a query left out of the registry
    would escape every oracle check, and one name in two families would
    shadow the other."""
    import ast
    import pathlib

    from global_stock_data_warehouse_spark import queries as families

    owner: dict[str, list[str]] = {}
    for path in sorted(pathlib.Path(families.__file__).parent.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
                owner.setdefault(node.name[2:], []).append(path.stem)
    assert not {n: f for n, f in owner.items() if len(f) > 1}
    qs = entrymod.queries()
    assert set(owner) == set(qs), set(owner) ^ set(qs)
    assert all(qs[n].__module__ == f"{families.__name__}.{f[0]}" for n, f in owner.items())


def test_oracled_queries_lead_the_dict():
    """The driver checks the FIRST 50 queries() entries: that window must
    be 100% oracled, and every oracled query must precede every rows-only
    one (oracled entries past 50 are verified locally by
    tools/check_correctness.py — still ahead of the approximate tail)."""
    qs = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    window = qs[:50]
    assert all(q in oracles for q in window), [q for q in window if q not in oracles]
    n_oracled = len(oracles)
    assert set(qs[:n_oracled]) == oracles, (
        f"oracled queries after rows-only ones: {oracles - set(qs[:n_oracled])}"
    )


def test_entry_runs_and_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.columns == [
        "user_id", "period_end", "open", "high", "low", "close", "sum_value", "period_return",
    ]
    assert df.count() > 0


@pytest.mark.slow  # full-surface sweep (~2.5 min): the driver itself runs
# every declared query (bench + oracle steps) and the per-round
# CHECK_EXACT mirror artifacts cover the same ground; slow tier keeps it
# runnable standalone
def test_every_query_runs_at_sf0001(spark, sf_dir):
    failures = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            n = df.count()
            assert n >= 0 and len(df.columns) > 0
        except Exception as exc:  # collect all breaks, report once
            failures[name] = f"{type(exc).__name__}: {exc}"
    assert not failures, failures


@pytest.mark.slow  # full surface on every degenerate axis (3-7 min each);
# the in-tier representatives are tests/test_null_mirror.py and
# tests/test_empty_mirror.py
@pytest.mark.parametrize("axis", sorted(AXES))
def test_every_query_on_degenerate_axis(spark, tmp_path, axis):
    """Every declared query on each degenerate axis of tools/sweep.py:
    oracled queries match DuckDB, rows-only queries keep their pinned
    columns and stay deterministic, and none throws. The empty axis is
    the totality gate (empty partitions, empty sources, a filter that
    eliminated everything)."""
    build(spark, axis, str(tmp_path))
    assert run(spark, str(tmp_path), []) == []


def test_vector_and_text_queries_survive_null_cells(spark, tmp_path, sf_dir):
    """Null-robustness gate: the similarity/corpus queries must not crash
    when documents.text / embeddings.embedding contain NULLs (the
    malformed-upstream-row edge). Crash-only check — null-row semantics
    (drop) are asserted at the operator level."""
    from pyspark.sql import functions as F

    src = sf_dir
    dst = str(tmp_path / "sf_nulls")
    for t in TABLES:
        df = load_table(spark, t, src)
        if t == "documents":
            df = df.withColumn(
                "text",
                F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("text")),
            )
        if t == "embeddings":
            df = df.withColumn(
                "embedding",
                F.when(F.col("vec_id") % 11 == 0, None).otherwise(F.col("embedding")),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    targets = [
        "ann_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_projected_topk",
        "embedding_neardup", "embedding_neardup_lsh", "semantic_dedup",
        "class_centroids", "quantize_embeddings", "centroid_outliers",
        "dedup_exact", "minhash_neardup", "text_stats", "remove_duplicate_spans",
    ]
    failures = []
    qs = entrymod.queries()
    for name in targets:
        try:
            qs[name](spark, dst).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: {type(ex).__name__}")
    assert not failures, "queries crashed on null cells: " + ", ".join(failures)


def test_lang_marker_lists_match_oracle_stopwords():
    """r10: lang_confusion's oracle re-encodes the stopword marker lists
    as SQL literals (_STOP); if the engine's LANG_MARKERS ever drift from
    them the oracle would diverge silently — pin them equal."""
    from global_stock_data_warehouse_spark.operators.text import LANG_MARKERS
    from global_stock_data_warehouse_spark.queries.text import _STOP

    assert {k: tuple(v) for k, v in LANG_MARKERS.items()} == {
        k: tuple(v) for k, v in _STOP.items()
    }
