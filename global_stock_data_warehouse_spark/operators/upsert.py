"""Keyed upsert / last-writer-wins dedup (K1/A7).

The reference's storage contract is ``INSERT OR REPLACE`` on PK
``(date, symbol)`` (downloader_tw.py:118-120): re-ingesting a batch is
idempotent and newer writes win. The Spark-first equivalent on plain
Parquet: union old+new, keep the winner per key via a ``row_number``
window ordered by a version/ingest column, and replace the stored table
with the result through ``storage.compact.replace_table`` (a staged write
and an atomic flip, so a failed write leaves the history in place).

``dedup_last_writer`` (the window kernel) is also exposed standalone — it is
the engine's general keyed-dedup operator. At scale the window shuffle
partitions by the PK, the same partitioning the table layout should use, so
a bucketed/partitioned layout makes this shuffle-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.sources.registry import read_parquet
from global_stock_data_warehouse_spark.storage.compact import replace_table, table_exists


def dedup_last_writer(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str | Sequence[str],
    descending: bool = True,
) -> DataFrame:
    """Keep exactly one row per key: the max (default) of ``order_col``
    (lexicographic when a sequence). Pass the tiebreak columns as a
    SEQUENCE, not a pre-built struct column: a struct duplicates its
    fields through the window shuffle when they are also output columns
    (measured 21.2 -> 12.9 MB on the sf0.1 lineitem dedup)."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    order = [
        F.col(c).desc() if descending else F.col(c).asc() for c in order_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def upsert_keyed(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    key_cols: Sequence[str],
    order_col: str = "_ingest_ts",
    existing: DataFrame | None = None,
) -> DataFrame:
    """Idempotent last-writer-wins upsert of ``new_rows`` into ``path``.

    Adds ``order_col`` (ingest timestamp) if absent. ``existing`` is the
    stored table when the caller has already read it, so the store is
    listed once. Without it the table is read here if ``path`` exists; a
    table that exists but cannot be read raises, and the stored table is
    left as it was.

    Returns the table as written, read back from ``path``: its schema was
    recorded by the write, so the read starts no job.
    """
    if order_col not in new_rows.columns:
        new_rows = new_rows.withColumn(order_col, F.current_timestamp())
    if existing is None and table_exists(spark, path):
        existing = read_parquet(spark, path)
    combined = new_rows if existing is None else existing.unionByName(new_rows, allowMissingColumns=True)
    replace_table(spark, dedup_last_writer(combined, key_cols, order_col), path)
    return read_parquet(spark, path)
