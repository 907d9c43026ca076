"""Table replacement and small-files compaction (the reference's VACUUM
intent, Spark-native).

``replace_table`` is the engine's one way to replace a stored table: the
keyed upsert, both compactions and the streaming gold sink write through
it. The new table is written whole to a version directory, then the
table's path, a symlink, is repointed with one atomic ``rename``, so a
failed write leaves the old table in place and readers never find the
path missing.

The reference VACUUMs every SQLite shard after every sync (main.py:192,
downloader_tw.py:126) to reclaim space and keep scans fast. The lakehouse
analog is the SMALL-FILES problem: incremental appends and streaming
micro-batches leave thousands of KB-sized parquet files, and at 100 TB the
per-file open/footer cost comes to dominate scan time. The compactions
here are periodic rewrite jobs.

Scale notes: the rewrite is one distributed read + repartition + write; the
file-count target derives from total bytes / target file size so output
files land near the parquet sweet spot (~128 MB). The symlink flip needs a
local filesystem and a single writer; object stores would need a pointer
file (manifest) in its place.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from global_stock_data_warehouse_spark.sources.registry import data_files, remember_schema


def table_exists(spark: SparkSession, path: str) -> bool:
    """Whether anything is stored at ``path``, asked of the Hadoop
    FileSystem (any scheme Spark reads). Writers decide "first run" from
    this, not from a failed read: a store that exists but cannot be read
    must raise, not pass for empty and be overwritten."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def replace_table(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Replace the parquet table at ``path`` with the rows of ``df``.

    ``df`` is written whole to a new ``{path}__versions/v_*`` directory
    first, so a plan that reads ``path`` itself has finished reading it
    before anything changes; then ``path`` (a symlink) is repointed with
    one atomic ``rename``. Readers see the old table or the new one, never
    neither, and a write that fails leaves the old table in place. The new
    version and the one before it (for readers mid-scan) are kept; every
    other version, a failed write's partial one included, is pruned. A
    real directory at ``path`` (a table written before this layout) is
    moved into the versions once, the one moment ``path`` is briefly
    missing. The schema written is recorded, so the next ``read_parquet``
    of ``path`` infers nothing."""
    if urlparse(path).scheme:
        raise ValueError(
            f"replace_table flips a symlink, which needs a local filesystem path, not {path!r}"
        )
    base = f"{path}__versions"
    os.makedirs(base, exist_ok=True)
    version = os.path.join(base, f"v_{uuid.uuid4().hex[:8]}")
    df.write.parquet(version)
    if os.path.islink(path):
        previous = os.path.realpath(path)
    elif os.path.exists(path):
        previous = os.path.join(base, f"v_legacy_{uuid.uuid4().hex[:8]}")
        os.rename(path, previous)
    else:
        previous = None
    link = f"{path}__link_{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.abspath(version), link)
    os.rename(link, path)
    remember_schema(spark, path, df.schema)
    # realpath on both sides: a symlinked parent directory (/tmp ->
    # /private/tmp) would otherwise never match and prune the kept version
    keep = {os.path.realpath(version), previous and os.path.realpath(previous)}
    for name in os.listdir(base):
        if os.path.realpath(os.path.join(base, name)) not in keep:
            shutil.rmtree(os.path.join(base, name))


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
    n_files, total = table_file_stats(spark, path)
    want = max(1, math.ceil(total / target_file_bytes))
    if n_files < min_files_to_compact or (n_files <= want and not cluster_by):
        return {"files_before": n_files, "files_after": n_files, "bytes": total}

    # mergeSchema: compaction must not silently drop columns added by
    # schema evolution after the oldest files were written
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if cluster_by:
        # repartitionByRange gives disjoint key ranges per file;
        # sortWithinPartitions tightens row-group stats inside each
        df = df.repartitionByRange(want, *cluster_by).sortWithinPartitions(*cluster_by)
    else:
        df = df.repartition(want)
    replace_table(spark, df, path)
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
    those columns prune files via row-group statistics. Replaces the
    table through ``replace_table``, like ``compact_parquet``."""
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
    replace_table(spark, out, path)
    after, _ = table_file_stats(spark, path)
    return {"files_before": n_files, "files_after": after, "bytes": total}
