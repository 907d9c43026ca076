"""Schema evolution for keyed parquet tables.

The reference migrates schemas by hand: ``PRAGMA table_info`` to probe for a
missing ``market`` column, then ``ALTER TABLE stock_info ADD COLUMN market``
(downloader_us.py:38-43, downloader_cn.py:28-32). The Spark-native
equivalent is additive column evolution on the table files themselves:

- writers ALIGN new batches to the union of (existing schema, batch schema),
  filling either side's missing columns with typed nulls;
- appends carry the widened schema in their own footers;
- readers scan with ``mergeSchema`` so old files surface the new columns as
  nulls — no rewrite of historical data, which at 100 TB is the difference
  between a metadata operation and a multi-hour backfill job.

Only ADDITIVE evolution is supported (new nullable columns). Type changes
and renames are rejected loudly — silently casting 100 TB of history is how
warehouses corrupt themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from global_stock_data_warehouse_spark.storage.compact import table_exists


def table_schema(spark: SparkSession, path: str) -> StructType | None:
    """Current merged schema of the table at ``path`` (None if absent).

    ``mergeSchema`` unions the footers of every file, so a table mid-way
    through an evolution (old + new files mixed) reports the union. A
    table that exists but cannot be read raises.
    """
    if not table_exists(spark, path):
        return None
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def align_schema(df: DataFrame, target: StructType) -> DataFrame:
    """Project ``df`` onto the union of its schema and ``target``:
    target columns first (typed nulls where ``df`` lacks them), then the
    batch's genuinely new columns. Rejects type conflicts."""
    have = {f.name: f for f in df.schema.fields}
    out_cols = []
    for f in target.fields:
        if f.name in have:
            mine = have[f.name]
            if mine.dataType != f.dataType:
                raise ValueError(
                    f"schema conflict on '{f.name}': table={f.dataType.simpleString()} "
                    f"batch={mine.dataType.simpleString()} — additive evolution only"
                )
            out_cols.append(F.col(f.name))
        else:
            out_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    target_names = {f.name for f in target.fields}
    out_cols += [F.col(f.name) for f in df.schema.fields if f.name not in target_names]
    return df.select(*out_cols)


def evolve_append(spark: SparkSession, df: DataFrame, path: str) -> StructType:
    """Append ``df`` to the parquet table at ``path``, evolving the schema
    additively in either direction (batch gains the table's columns as
    nulls; the table's future reads gain the batch's new columns via
    ``mergeSchema``). Returns the post-append merged schema.

    This is the engine op matching the reference's ALTER TABLE ADD COLUMN
    migration — but as a property of the write path, not a manual DDL step.
    """
    existing = table_schema(spark, path)
    aligned = df if existing is None else align_schema(df, existing)
    aligned.write.mode("append").parquet(path)
    return table_schema(spark, path)


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Scan an evolved table: union-of-footers schema, nulls where a file
    predates a column. The ONE-extra-footer-read cost of ``mergeSchema``
    is per-file metadata, not data — cheap even at 100 TB file counts
    (and avoidable entirely once a catalog pins the table schema)."""
    return spark.read.option("mergeSchema", "true").parquet(path)
