"""Table registry for the driver's synthetic parquet tables.

One ``spark.read.parquet`` per table; parquet carries the authoritative
schema (TESTDATA.md / FIXTURES.md §A). Loading is lazy and per-path, so the
scan node Catalyst builds gets column pruning and filter pushdown for free —
``.explain`` on any engine query should show ``PushedFilters`` and a narrow
``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one table. Parquet scan => vectorized reader + pushdown.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects outright, and as TIMESTAMP(MICROS) without
    isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ (it refuses casts
    like ``ts.cast('long')``). Both become session-tz TIMESTAMP (the
    session tz is UTC), so every query sees one type. Nanos are read raw
    (legacy conf) and converted with integer DIV: float division of ~1.7e18
    nanos loses sub-microsecond precision and shifts timestamps by ±1 µs.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
