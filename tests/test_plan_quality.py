"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

These assert the *shape* of the plan, not results — the properties that
decide whether a query survives a 100x scale-up: filters reaching the
parquet scan, scans reading only the projected columns, dim joins
broadcasting instead of shuffling the fact side.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > "1997-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan, plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    # ReadSchema carries only the projected columns (+ the filter column)
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(entry.queries()["regional_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # region/nation dims must never shuffle the fact side through a
    # sort-merge join
    assert plan.count("BroadcastHashJoin") >= 2


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(entry.queries()["shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_corpus_clean_single_scan_whole_stage_codegen(spark, sf_dir):
    plan = _plan(entry.queries()["corpus_clean"](spark, sf_dir))
    # the whole score -> gate -> dedup pipeline: one scan of documents and
    # exactly one KEYED exchange (the fingerprint window) — nothing else
    # shuffles by key. A single ROUND-ROBIN exchange is the r12
    # parallelism floor (fan_scan) on a single-split test input; it is
    # structurally absent once the scan yields >= core-count partitions,
    # so it must never be keyed and there must never be more than one.
    assert plan.count("FileScan parquet") == 1
    # count explicit exchange KINDS separately (r12 ADVICE): the bare
    # "Exchange" substring also matches BroadcastExchange and any future
    # variant, which would fail the arithmetic with a confusing message
    # instead of pinpointing the new node.
    assert plan.count("Exchange hashpartitioning") == 1
    rr = plan.count("Exchange RoundRobinPartitioning")
    assert rr <= 1, plan
    keyed_or_rr = plan.count("Exchange hashpartitioning") + rr
    bcast = plan.count("BroadcastExchange")
    reused = plan.count("ReusedExchange")
    range_x = plan.count("Exchange rangepartitioning")
    single = plan.count("Exchange SinglePartition")
    assert (
        plan.count("Exchange") == keyed_or_rr + bcast + reused + range_x + single
    ), plan
    assert range_x == 0 and single == 0, plan
    assert bcast == 0 and reused == 0, plan


def test_profile_has_no_expand_either_mode(spark, sf_dir):
    """Neither profile mode may compile to an Expand. approx (HLL++) is one
    sketch-aggregation pass; exact runs one agg PER COLUMN unioned — each
    leg's scan must be pruned to exactly its own column (sibling
    countDistincts in a single agg would Expand the scan N_cols times)."""
    from global_stock_data_warehouse_spark.operators.profile import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    exact_plan = _plan(profile_table(df, cols))
    assert "Expand" not in exact_plan, exact_plan
    # per-column legs scan one column each: a single-column ReadSchema per leg
    for c in cols:
        assert f"ReadSchema: struct<{c}:" in exact_plan, c
    approx_plan = _plan(profile_table(df, cols, approx=True))
    assert "Expand" not in approx_plan, approx_plan


def test_benford_audit_single_fact_scan(spark, sf_dir):
    """benford_audit scans the fact column exactly once: counts and total
    ride ONE global aggregate (nine conditional sums), the per-digit rows
    come from exploding literal structs — no second aggregation lineage
    of the input (the r4 shape re-ran the full scan+agg twice — at
    100 TB that's two table scans for one number), and since r6 no
    domain join / window either (the whole tail is post-agg constant
    work on one row)."""
    plan = _plan(entry.queries()["benford_audit"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_range_join_preaggregates_fact_side(spark):
    """The interval join must consume per-day partial aggregates, not raw
    lineitem rows: a HashAggregate keyed on l_shipdate sits BELOW the
    join in the plan."""
    plan = _plan(entry.queries()["range_join_shipments"](spark, "/root/testdata/sf0.001"))
    join_at = plan.find("Join")
    agg_at = plan.find("HashAggregate(keys=[l_shipdate")
    assert join_at != -1 and agg_at != -1
    # executedPlan prints top-down: the pre-agg appears after (=below) the join
    assert agg_at > join_at, plan


def test_decay_weighted_single_fact_exchange(spark, sf_dir):
    """The anchor (max date) must come back as a broadcast cross join,
    never a partition-less window; the fact table shuffles once (the
    group agg) at most."""
    plan = _plan(entry.queries()["decay_weighted"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # events scanned twice (anchor agg + main agg) but never joined wide
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_important_stock_broadcasts_dims_and_total(spark, sf_dir):
    """Supplier/nation prune broadcast-side; the scalar total joins back
    as a broadcast, so lineitem shuffles only for the per-part agg."""
    plan = _plan(entry.queries()["important_stock"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_wmy_pipeline_one_keyed_exchange(spark, tmp_path):
    """Gold and verdicts each run on the one hash exchange on the symbol:
    the series gates are windows and every frequency is one aggregate over
    that partitioning, so no per-freq branch, no broadcast quarantine and a
    single scan of the bars."""
    import datetime as dt

    from global_stock_data_warehouse_spark.plans.wmy import wmy_pipeline

    path = str(tmp_path / "bars")
    days = [dt.date(2024, 1, 2) + dt.timedelta(days=i) for i in range(30)]
    spark.createDataFrame(
        [(s, d, 10.0, 11.0, 9.0, 10.0, 100) for s in ("AAA", "BBB") for d in days],
        "symbol string, date date, open double, high double, low double, close double, volume long",
    ).write.parquet(path)
    for out in wmy_pipeline(spark.read.parquet(path)):
        plan = _plan(out)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange") == 1, plan
        assert "BroadcastExchange" not in plan, plan
        assert plan.count("FileScan") == 1, plan


def test_no_plan_antipatterns_in_any_query(spark):
    """Global physical-plan gate over EVERY declared query: no
    CartesianProduct (an unconstrained pair blowup at scale) and no
    BatchEvalPython (row-at-a-time Python UDF in a hot path — the only
    sanctioned Python is Arrow-batched map/apply-InPandas, which prints as
    different nodes). Catches regressions anywhere in the surface, not
    just the queries with bespoke plan tests."""
    sf = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, sf))
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"
