"""SQLite scan + lakehouse migration (S7 `scan_sqlite`).

The reference's storage IS SQLite — one ``{market}_stock_warehouse.db``
shard per market (`downloader_kr.py:21`, `main.py:153`), read back with
driver-side ``sqlite3`` loops (`main.py:104-117`). This engine's storage is
the parquet lakehouse, so the operator surface SQLite needs here is (a) a
scan that reads an existing shard in parallel and (b) the one-time
migration shard -> lakehouse table.

``scan_sqlite`` partitions on ``rowid`` ranges (SQLite's implicit
clustered key): the driver runs two tiny metadata queries (schema +
min/max rowid), and each executor task opens the file read-only and pulls
only its range — the same range-predicate pattern a JDBC
``partitionColumn`` scan uses, with stdlib ``sqlite3`` instead of a JDBC
driver. The file must be visible to executors (local[N] or shared FS) —
exactly the topology the reference's single-host shards live in; at
cluster scale you migrate once and never scan the .db again.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from global_stock_data_warehouse_spark.sources.registry import read_parquet

# SQLite declared-type affinity (simplified per sqlite3 docs §3.1) -> Spark
_AFFINITY = (
    ("INT", "bigint"),
    ("CHAR", "string"),
    ("CLOB", "string"),
    ("TEXT", "string"),
    ("BLOB", "binary"),
    ("REAL", "double"),
    ("FLOA", "double"),
    ("DOUB", "double"),
)


def sqlite_table_schema(db_path: str, table: str) -> list[tuple[str, str]]:
    """[(column, spark_type)] from PRAGMA table_info declared types
    (`main.py:104-110` reads the same pragma surface)."""
    with sqlite3.connect(db_path) as con:
        info = con.execute(f'PRAGMA table_info("{table}")').fetchall()
    if not info:
        raise ValueError(f"table {table!r} not found in {db_path}")
    out = []
    for _, name, decl, *_ in info:
        decl_u = (decl or "").upper()
        spark_t = next((t for frag, t in _AFFINITY if frag in decl_u), "string")
        out.append((name, spark_t))
    return out


def list_tables(db_path: str) -> list[str]:
    with sqlite3.connect(db_path) as con:
        rows = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' "
            "AND name NOT LIKE 'sqlite_%' ORDER BY name"
        ).fetchall()
    return [r[0] for r in rows]


def scan_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    num_partitions: int = 8,
    balanced: bool = True,
) -> DataFrame:
    """Parallel scan of one SQLite table, partitioned by rowid range.

    ``balanced=True`` (default) derives bounds from ``ntile`` over the
    rowid b-tree, so ranges carry EQUAL ROW COUNTS (±1) even when heavy
    deletes left the rowid space sparse — contiguous arithmetic ranges
    would then be skewed or empty. The ntile walk is an index-only driver
    query but still O(rows) serial startup; for billion-row tables with
    dense rowids pass ``balanced=False`` for the O(1) min/max arithmetic
    split (the reference's shards, ~10^7 rows, walk in well under a
    second). WITHOUT ROWID tables have no rowid to partition on; they
    fail loudly with migration guidance instead of a raw
    OperationalError."""
    import pandas as pd

    schema = sqlite_table_schema(db_path, table)
    cols = ", ".join(f'"{c}"' for c, _ in schema)
    ddl = ", ".join(f"`{c}` {t}" for c, t in schema)

    try:
        with sqlite3.connect(db_path) as con:
            if balanced:
                bounds = con.execute(
                    f'SELECT min(rowid), max(rowid) FROM ('
                    f'  SELECT rowid, ntile(?) OVER (ORDER BY rowid) AS b FROM "{table}"'
                    f") GROUP BY b ORDER BY b",
                    (max(1, num_partitions),),
                ).fetchall()
            else:
                lo, hi = con.execute(
                    f'SELECT min(rowid), max(rowid) FROM "{table}"'
                ).fetchone()
                if lo is None:
                    bounds = []
                else:
                    n = max(1, min(num_partitions, hi - lo + 1))
                    step = (hi - lo + 1 + n - 1) // n
                    bounds = [
                        (lo + i * step, min(hi, lo + (i + 1) * step - 1))
                        for i in range(n)
                    ]
    except sqlite3.OperationalError as e:
        if "rowid" in str(e).lower():
            raise ValueError(
                f"table {table!r} is WITHOUT ROWID — rowid-range partitioning "
                "is impossible. Export it serially (single partition via "
                "sqlite3) or re-create it with a rowid, then migrate."
            ) from e
        raise
    bounds = [(lo_, hi_) for lo_, hi_ in bounds if lo_ is not None]
    if not bounds:  # empty table: zero tasks, correct empty frame
        return spark.createDataFrame([], ddl)
    n = len(bounds)
    ranges = spark.createDataFrame(bounds, "lo long, hi long").repartition(n)

    names = [c for c, _ in schema]

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for lo_, hi_ in zip(pdf["lo"], pdf["hi"]):
                with sqlite3.connect(db_path) as con:
                    cur = con.execute(
                        f'SELECT {cols} FROM "{table}" WHERE rowid BETWEEN ? AND ?',
                        (int(lo_), int(hi_)),
                    )
                    yield pd.DataFrame(cur.fetchall(), columns=names)

    return ranges.mapInPandas(fetch, ddl)


def migrate_sqlite_to_parquet(
    spark: SparkSession,
    db_path: str,
    out_dir: str,
    tables: list[str] | None = None,
    num_partitions: int = 8,
) -> dict[str, int]:
    """One-time shard -> lakehouse migration: every table scanned in
    parallel and rewritten as parquet (the move that retires the
    reference's six per-market .db shards into one partitioned store).
    Returns {table: row_count} for the migration audit record."""
    counts: dict[str, int] = {}
    for t in tables if tables is not None else list_tables(db_path):
        df = scan_sqlite(spark, db_path, t, num_partitions)
        df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        counts[t] = read_parquet(spark, f"{out_dir}/{t}.parquet").count()
    return counts
