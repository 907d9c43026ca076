"""Small-files compaction (the reference's VACUUM intent, Spark-native).

The reference VACUUMs every SQLite shard after every sync (main.py:192,
downloader_tw.py:126) to reclaim space and keep scans fast. The lakehouse
analog is the SMALL-FILES problem: incremental appends and streaming
micro-batches leave thousands of KB-sized parquet files, and at 100 TB the
per-file open/footer cost comes to dominate scan time. On Delta this is
``OPTIMIZE`` (+ ``VACUUM`` for dead files); on plain parquet it is a
periodic rewrite job — this module.

Scale notes: the rewrite is one distributed read + repartition + write; the
file-count target derives from total bytes / target file size so output
files land near the parquet sweet spot (~128 MB). The swap is
rename-based, which is atomic on a real filesystem; object stores should
compact partition-by-partition or move to a table format with a manifest.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession


def table_exists(spark: SparkSession, path: str) -> bool:
    """Whether anything is stored at ``path``, asked of the Hadoop
    FileSystem (any scheme Spark reads). Writers decide "first run" from
    this, not from a failed read: a store that exists but cannot be read
    must raise, not pass for empty and be overwritten."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


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


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet table at ``path``, from
    ``data_files``: true bytes on any scheme, no Spark job."""
    files = data_files(spark, path)
    return len(files), sum(status.getLen() for status in files)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
    cluster_by: list[str] | None = None,
) -> dict:
    """Rewrite the table at ``path`` into ~``target_file_bytes`` files.

    ``cluster_by`` additionally range-partitions + sorts the rewrite on
    those columns (the OPTIMIZE ZORDER intent for the 1-D/lexicographic
    case): each output file then covers a narrow min/max range of the
    cluster keys, so parquet row-group statistics prune point/range scans
    on them — data skipping without an index. Do this for the predicate
    columns of the table's hot queries (e.g. ``["symbol", "date"]`` on the
    bars store).

    No-op (returns the stats) when the table is already at or below the
    computed file count. Returns {"files_before", "files_after", "bytes"}.
    """
    if "://" in path and not path.startswith("file:"):
        raise ValueError(
            "compact_parquet's rename swap requires a local filesystem path; "
            "on object stores compact partition-by-partition or use a "
            "manifest-based table format (Delta OPTIMIZE)"
        )
    n_files, total = table_file_stats(spark, path)
    want = max(1, math.ceil(total / target_file_bytes))
    if n_files < min_files_to_compact or (n_files <= want and not cluster_by):
        return {"files_before": n_files, "files_after": n_files, "bytes": total}

    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    # mergeSchema: compaction must not silently drop columns added by
    # schema evolution after the oldest files were written
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if cluster_by:
        # repartitionByRange gives disjoint key ranges per file;
        # sortWithinPartitions tightens row-group stats inside each
        df = df.repartitionByRange(want, *cluster_by).sortWithinPartitions(*cluster_by)
    else:
        df = df.repartition(want)
    df.write.mode("overwrite").parquet(tmp)

    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)

    after, _ = table_file_stats(spark, path)
    return {"files_before": n_files, "files_after": after, "bytes": total}


def zorder_key(df, cols: list[str], bits: int = 8):
    """Morton (Z-order) key over ``cols``: each column is normalized to a
    ``bits``-bit integer bucket by min/max range, and the buckets' bits
    are interleaved. Rows close in Z-key are close in EVERY clustered
    dimension, so range-partitioning + sorting by this key gives parquet
    files whose min/max stats are narrow in ALL the columns at once —
    multi-dimensional data skipping, where ``cluster_by`` (lexicographic)
    only prunes its leading column.

    The normalization bounds come from one tiny min/max aggregate (a
    single scan with column pruning). Uniform bucketing is the documented
    trade-off: heavy skew in a column wastes its high bits (swap in
    approxQuantile boundaries if that ever matters); pruning still
    degrades gracefully. The key is built from shift/mask expressions —
    pure codegen, no UDFs.

    Returns (key_column, bounds) where bounds is {col: (min, max)}.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Temporal columns are normalized to numbers EXPLICITLY: in non-ANSI
    # mode `cast(date as double)` yields NULL, which would silently send
    # every row to bucket 0 (no clustering, no error). Strings have no
    # meaningful range normalization — refuse them.
    dtypes = dict(df.dtypes)
    num_exprs: dict[str, "F.Column"] = {}
    for c in cols:
        t = df.schema[c].dataType
        if isinstance(t, T.DateType):
            num_exprs[c] = F.datediff(F.col(c), F.lit("1970-01-01").cast("date")).cast(
                "double"
            )
        elif isinstance(t, T.TimestampType | T.TimestampNTZType):
            num_exprs[c] = F.col(c).cast("long").cast("double")
        elif isinstance(t, T.NumericType):
            num_exprs[c] = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder_key: column {c!r} has non-orderable-numeric type "
                f"{dtypes.get(c)}; cluster on numeric/date/timestamp columns"
            )
    stats = df.agg(
        *[F.min(num_exprs[c]).alias(f"min_{c}") for c in cols],
        *[F.max(num_exprs[c]).alias(f"max_{c}") for c in cols],
    ).first()
    bounds = {c: (stats[f"min_{c}"], stats[f"max_{c}"]) for c in cols}
    n_buckets = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        if lo is None or hi is None:
            raise ValueError(f"zorder_key: column {c!r} is all-NULL; cannot cluster")
        span = (hi - lo) or 1
        bucket = F.least(
            F.lit(n_buckets),
            F.floor((num_exprs[c] - F.lit(float(lo))) / F.lit(float(span)) * n_buckets).cast("long"),
        )
        bucket = F.greatest(F.lit(0).cast("long"), bucket)
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1).cast("long")),
                    b * len(cols) + i,
                )
            )
    return key, bounds


def compact_parquet_zorder(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 8,
) -> dict:
    """OPTIMIZE ZORDER for plain parquet: rewrite the table clustered on
    the Morton key of ``zorder_by`` so point/range predicates on ANY of
    those columns prune files via row-group statistics. Same local-FS
    rename-swap contract (and caveat) as ``compact_parquet``."""
    if "://" in path and not path.startswith("file:"):
        raise ValueError(
            "compact_parquet_zorder's rename swap requires a local "
            "filesystem path (see compact_parquet)"
        )
    n_files, total = table_file_stats(spark, path)
    want = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.option("mergeSchema", "true").parquet(path)
    key, _ = zorder_key(df, zorder_by, bits=bits)
    out = (
        df.withColumn("__zkey", key)
        .repartitionByRange(want, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    tmp = f"{path}__zorder_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after, _ = table_file_stats(spark, path)
    return {"files_before": n_files, "files_after": after, "bytes": total}
