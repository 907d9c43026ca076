"""Schema evolution, compaction and table replacement.

Evolution mirrors the reference's manual migration (downloader_us.py:38-43
adds a ``market`` column to ``stock_info`` via PRAGMA probe + ALTER TABLE):
the engine evolves additively on append and surfaces old rows with nulls.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.sources.registry import read_parquet
from global_stock_data_warehouse_spark.storage.compact import (
    compact_parquet,
    replace_table,
    table_file_stats,
)
from global_stock_data_warehouse_spark.storage.evolution import (
    align_schema,
    evolve_append,
    read_evolved,
    table_schema,
)


def test_evolve_adds_market_column(spark, tmp_path):
    """The reference scenario: stock_info exists WITHOUT market; a new
    batch arrives WITH it. Old rows must read back with market=null."""
    path = str(tmp_path / "stock_info")
    v1 = spark.createDataFrame(
        [("2330.TW", "TSMC", "Semiconductors")], "symbol string, name string, sector string"
    )
    evolve_append(spark, v1, path)
    v2 = spark.createDataFrame(
        [("AAPL", "Apple", "Technology", "us")],
        "symbol string, name string, sector string, market string",
    )
    merged = evolve_append(spark, v2, path)
    assert "market" in merged.fieldNames()

    out = read_evolved(spark, path)
    rows = {r.symbol: r for r in out.collect()}
    assert rows["AAPL"].market == "us"
    assert rows["2330.TW"].market is None  # pre-evolution row -> null


def test_evolve_batch_missing_table_column(spark, tmp_path):
    """Reverse direction: a late batch LACKS a column the table has —
    aligned to typed null, append succeeds, no data loss."""
    path = str(tmp_path / "prices")
    full = spark.createDataFrame(
        [("2330.TW", 10.0, 100)], "symbol string, close double, volume bigint"
    )
    evolve_append(spark, full, path)
    partial = spark.createDataFrame([("AAPL", 5.0)], "symbol string, close double")
    evolve_append(spark, partial, path)
    out = read_evolved(spark, path)
    assert out.count() == 2
    assert out.filter(F.col("symbol") == "AAPL").first().volume is None


def test_evolve_rejects_type_conflict(spark, tmp_path):
    path = str(tmp_path / "t")
    evolve_append(spark, spark.createDataFrame([(1,)], "v bigint"), path)
    bad = spark.createDataFrame([("x",)], "v string")
    with pytest.raises(ValueError, match="schema conflict"):
        align_schema(bad, table_schema(spark, path))


def test_compact_reduces_file_count(spark, tmp_path):
    """VACUUM intent: many tiny append files -> few right-sized files,
    identical rows, evolved columns preserved."""
    path = str(tmp_path / "many")
    for i in range(6):
        spark.createDataFrame([(i, float(i))], "k bigint, v double").write.mode(
            "append"
        ).parquet(path)
    before, _ = table_file_stats(spark, path)
    assert before >= 6
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    out = spark.read.parquet(path)
    assert out.count() == 6
    assert sorted(r.k for r in out.collect()) == list(range(6))
    # idempotent: second run is a no-op
    again = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert again["files_after"] == again["files_before"]


def test_storage_lifecycle_evolve_compact_refresh(spark, tmp_path):
    """Integration: the bars store survives its whole lifecycle — additive
    schema evolution mid-stream, clustered compaction, then an incremental
    gold refresh — with results identical to a clean batch rebuild."""
    import datetime as dt

    from pyspark.sql import functions as F

    from global_stock_data_warehouse_spark.plans.wmy import incremental_wmy, wmy_pipeline
    from global_stock_data_warehouse_spark.storage.evolution import (
        evolve_append,
        read_evolved,
    )

    bars_path = str(tmp_path / "bars")
    schema = (
        "symbol string, date date, open double, high double, low double, "
        "close double, volume long"
    )

    def mk(symbol, start, n, px0):
        rows, d, px, i = [], start, px0, 0
        while i < n:
            if d.weekday() < 5:
                px += 1.0
                rows.append((symbol, d, px - 0.5, px + 1.0, px - 1.0, px, 1000))
                i += 1
            d += dt.timedelta(days=1)
        return rows

    base = mk("AAA.TW", dt.date(2024, 1, 2), 25, 100.0)
    evolve_append(spark, spark.createDataFrame(base, schema), bars_path)

    # mid-stream schema evolution: a `market` column appears (the
    # downloader_us.py:38-43 migration) — old files must surface it as null
    delta_rows = [r + ("tw",) for r in mk("AAA.TW", dt.date(2024, 3, 1), 5, 130.0)]
    evolve_append(
        spark,
        spark.createDataFrame(delta_rows, schema + ", market string"),
        bars_path,
    )

    # clustered compaction of the evolved store (mergeSchema-aware)
    compact_parquet(spark, bars_path, target_file_bytes=4096, cluster_by=["symbol", "date"])

    bars = read_evolved(spark, bars_path)
    assert "market" in bars.columns
    assert bars.count() == 30
    assert bars.filter(F.col("market").isNull()).count() == 25  # pre-evolution rows

    # incremental refresh over the evolved+compacted store == clean rebuild
    cols = ["symbol", "date", "open", "high", "low", "close", "volume"]
    core = bars.select(*cols)
    delta = spark.createDataFrame(delta_rows, schema + ", market string").select(*cols)
    gold_prev, verd_prev = wmy_pipeline(
        spark.createDataFrame(base, schema)
    )
    inc_gold, _ = incremental_wmy(core, delta, gold_prev, verd_prev)
    full_gold, _ = wmy_pipeline(core)
    assert sorted(map(tuple, inc_gold.collect()), key=str) == sorted(
        map(tuple, full_gold.collect()), key=str
    )


def test_compact_cluster_by_gives_disjoint_file_ranges(spark, tmp_path):
    """OPTIMIZE-ZORDER intent (1-D): after a clustered compaction each
    output file covers a disjoint key range, so row-group min/max stats
    prune point lookups."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "clustered")
    # interleave keys across append files so pre-compaction every file
    # spans the whole key space (worst case for skipping)
    for i in range(4):
        rows = [(k, i * 1000 + k) for k in range(0, 40, 1)]
        spark.createDataFrame(rows, "k bigint, v bigint").write.mode("append").parquet(path)

    stats = compact_parquet(
        spark, path, target_file_bytes=2048, cluster_by=["k"]
    )
    assert stats["files_after"] >= 2
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 2
    ranges = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges  # disjoint (boundary key may repeat)
    assert spark.read.parquet(path).count() == 160


def test_replace_table_failure_keeps_the_table(spark, tmp_path, monkeypatch):
    """A raise inside the staged write, and another between the write and
    the flip, each leave the table readable with the rows it had; the next
    replace that succeeds prunes the partial versions they left."""
    path = str(tmp_path / "t")
    replace_table(spark, spark.range(5), path)

    def stored():
        return sorted(pd.read_parquet(path)["id"])

    failing_write = spark.range(10).withColumn(
        "x", F.when(F.col("id") == 7, F.raise_error(F.lit("boom in write")))
    )
    with pytest.raises(Exception, match="boom in write"):
        replace_table(spark, failing_write, path)
    assert stored() == list(range(5))

    def failing_symlink(*args):
        raise OSError("boom before flip")

    with monkeypatch.context() as m:
        m.setattr(os, "symlink", failing_symlink)
        with pytest.raises(OSError, match="boom before flip"):
            replace_table(spark, spark.range(3), path)
    assert stored() == list(range(5))
    assert sorted(r.id for r in read_parquet(spark, path).collect()) == list(range(5))

    versions = f"{path}__versions"
    previous = os.path.realpath(path)
    assert len(os.listdir(versions)) == 3  # the table and two partial versions
    replace_table(spark, spark.range(2), path)
    assert stored() == [0, 1]
    kept = {os.path.join(versions, v) for v in os.listdir(versions)}
    assert kept == {os.path.realpath(path), previous}


def test_evolve_append_onto_unreadable_table_raises(spark, tmp_path):
    """A table that exists but cannot be read fails the append instead of
    passing for absent and taking unaligned rows."""
    path = str(tmp_path / "t")
    evolve_append(spark, spark.createDataFrame([(1, "a")], "k bigint, v string"), path)
    with open(os.path.join(path, "aaa-corrupt.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="aaa-corrupt.parquet"):
        evolve_append(spark, spark.createDataFrame([(2,)], "k bigint"), path)


# ---------------------------------------------------------------------------
# Z-order clustering
# ---------------------------------------------------------------------------


def test_zorder_compact_narrows_both_dimensions(spark, tmp_path):
    from global_stock_data_warehouse_spark.storage.compact import (
        compact_parquet_zorder,
    )

    path = str(tmp_path / "zt")
    # two independent uniform dims; written in x-shuffled order so the
    # baseline layout has no accidental clustering
    df = spark.range(40_000).selectExpr(
        "cast(id % 200 as double) as x",
        "cast((id * 7919) % 200 as double) as y",
        "id as payload",
    )
    df.repartition(8).write.mode("overwrite").parquet(path)

    stats = compact_parquet_zorder(
        spark, path, zorder_by=["x", "y"], target_file_bytes=45_000
    )
    assert stats["files_after"] >= 4

    import glob

    def spans(p):
        sx, sy = [], []
        for f in glob.glob(p + "/part-*.parquet"):
            row = (
                spark.read.parquet(f)
                .selectExpr(
                    "min(x) as x0", "max(x) as x1", "min(y) as y0", "max(y) as y1"
                )
                .first()
            )
            sx.append(row.x1 - row.x0)
            sy.append(row.y1 - row.y0)
        return sum(sx) / len(sx), sum(sy) / len(sy)

    zx, zy = spans(path)

    # baseline: 1-D lexicographic clustering on x leaves y at ~full span
    lex = str(tmp_path / "lex")
    df.repartition(8).write.mode("overwrite").parquet(lex)
    compact_parquet(spark, lex, target_file_bytes=45_000, cluster_by=["x"])
    _, lex_y = spans(lex)

    # Z-order narrows BOTH dims below the 0..199 global span, and narrows
    # the non-leading dim far below what lexicographic clustering gives
    assert zx < 170, zx
    assert zy < 170, zy
    assert zy < 0.9 * lex_y, (zy, lex_y)


def test_zorder_key_interleaves_and_bounds(spark):
    from pyspark.sql import functions as F

    from global_stock_data_warehouse_spark.storage.compact import zorder_key

    df = spark.createDataFrame(
        [(0.0, 0.0), (255.0, 255.0), (255.0, 0.0)], ["x", "y"]
    )
    key, bounds = zorder_key(df, ["x", "y"], bits=8)
    assert bounds == {"x": (0.0, 255.0), "y": (0.0, 255.0)}
    rows = df.withColumn("k", key).orderBy("x", "y").collect()
    ks = [r.k for r in rows]
    # (0,0) -> 0; (255,255) -> all 16 bits set; (255,0) -> x bits only
    assert ks[0] == 0
    assert ks[2] == 0xFFFF
    x_only = sum(1 << (2 * b) for b in range(8))
    assert ks[1] == x_only


def test_zorder_key_temporal_and_string_columns(spark):
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from global_stock_data_warehouse_spark.storage.compact import zorder_key

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0, "x"), (dt.date(2024, 12, 31), 2.0, "y")],
        ["d", "v", "s"],
    )
    # date columns normalize explicitly (a bare cast would NULL out and
    # silently send every row to bucket 0)
    key, bounds = zorder_key(df, ["d", "v"], bits=4)
    ks = [r.k for r in df.withColumn("k", key).orderBy("d").collect()]
    assert ks[0] == 0 and ks[1] > 0
    # strings refuse loudly
    with pytest.raises(ValueError, match="non-orderable-numeric"):
        zorder_key(df, ["s"])
    # all-NULL column refuses loudly
    with pytest.raises(ValueError, match="all-NULL"):
        zorder_key(df.withColumn("n", F.lit(None).cast("double")), ["n"])
