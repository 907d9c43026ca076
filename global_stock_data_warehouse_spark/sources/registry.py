"""Table registry and the engine's parquet reader.

``read_parquet`` is the one reader of whole parquet tables: the synthetic
``TABLES`` (through ``load_table``; parquet carries the authoritative
schema, TESTDATA.md / FIXTURES.md §A) and the engine's own stores. Given no
schema, ``spark.read.parquet`` starts a Spark job to read a footer, so the
reader keeps each path's schema, keyed on the path's Hadoop ``FileSystem``
listing: every data file's path, length and modification time
(``data_files``, which starts no job). A read whose listing
equals the kept one passes the schema and starts no job. A read misses and
infers when the path is new to the session or its files changed: a table
rewritten in place gets new file names. The engine's table replacement,
``storage.compact.replace_table``, records the schema of the files it
wrote (``remember_schema``), so the next read of a store it replaced
skips inference too.

Loading stays lazy and per-path, so the scan node Catalyst builds gets
column pruning and filter pushdown for free — ``.explain`` on any engine
query should show ``PushedFilters`` and a narrow ``ReadSchema``.
"""

from __future__ import annotations

import os
import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

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

# session -> {path: (listing, schema)}: one entry per path the session
# reads, dropped with the session object. Each entry is stored whole, so
# threads racing on one path cost at most a repeated inference.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def data_files(spark: SparkSession, path: str) -> list:
    """The Hadoop ``FileStatus`` of every data file of the table at ``path``.

    Listed through the Hadoop FileSystem API, so any scheme Spark can read
    (file:, hdfs:, s3a:, ...) answers, and no Spark job runs. Names
    starting with ``_`` or ``.`` (``_SUCCESS``, checksum files) are skipped
    at every level, as Spark's file index skips them. A missing path
    raises."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    files = []
    dirs = [root]
    while dirs:
        for status in fs.listStatus(dirs.pop()):
            p = status.getPath()
            if p.getName().startswith(("_", ".")):
                continue
            if status.isDirectory():
                dirs.append(p)
            else:
                files.append(status)
    return files


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """(path, length, modification time) of each data file at ``path``;
    None when the FileSystem cannot list it (missing, or a glob)."""
    try:
        files = data_files(spark, path)
    except Py4JJavaError:
        return None
    return tuple(
        (s.getPath().toString(), s.getLen(), s.getModificationTime()) for s in files
    )


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable, which is how
    schema inference returns a parquet schema."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    session has no schema for the files now at ``path``. A path the
    FileSystem cannot list is read uncached, so Spark reports its own
    error for a missing path."""
    listing = _listing(spark, path)
    if listing is None:
        return spark.read.parquet(path)
    schemas = _SCHEMAS.setdefault(spark, {})
    kept = schemas.get(path)
    if kept is not None and kept[0] == listing:
        return spark.read.schema(kept[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[path] = (listing, df.schema)
    return df


def remember_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record ``schema`` for the files just written at ``path``, made
    nullable, so the entry equals what inference returns for those files
    (a written frame can hold non-nullable columns, such as a
    ``current_timestamp()``)."""
    _SCHEMAS.setdefault(spark, {})[path] = (_listing(spark, path), _nullable(schema))


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one table through ``read_parquet``: vectorized reader +
    pushdown. The first read of the table's files infers the schema (one
    Spark job); later reads of the same files start none. A read misses
    again when the table's listing changes: another ``sf_dir``, or files
    added, removed or rewritten.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` is set
    (``session.get_spark`` sets it), and as TIMESTAMP(MICROS) without
    isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ (it refuses casts
    like ``ts.cast('long')``). Both become session-tz TIMESTAMP (the
    session tz is UTC), so every query sees one type. Nanos are read raw
    and converted with integer DIV: float division of ~1.7e18 nanos loses
    sub-microsecond precision and shifts timestamps by ±1 µs.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name != "events":
        return df
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
