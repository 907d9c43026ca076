"""The table reader: ``load_table`` infers each table's schema once per
session and set of files, and leaves the session's conf alone."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators import upsert as upsert_mod
from global_stock_data_warehouse_spark.operators.upsert import upsert_keyed
from global_stock_data_warehouse_spark.sources import registry
from global_stock_data_warehouse_spark.sources.registry import TABLES, load_table
from global_stock_data_warehouse_spark.storage.compact import compact_parquet, replace_table


def _jobs_started(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_leaves_session_conf_unchanged(spark, sf_dir):
    """Reading never sets conf, even on a session without the nanos
    setting ``get_spark`` makes (the shipped ``events.ts`` is micros)."""
    session = spark.newSession()
    session.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    before = session.conf.getAll
    for name in TABLES:
        load_table(session, name, sf_dir)
    assert session.conf.getAll == before


def test_second_load_table_starts_no_jobs(spark, sf_dir):
    """A fresh session's first read of each table infers its schema (one
    job, the control); the second read of the same files starts none."""
    session = spark.newSession()
    for name in TABLES:
        first = _jobs_started(session, f"registry-first-{name}", lambda: load_table(session, name, sf_dir))
        again = _jobs_started(session, f"registry-again-{name}", lambda: load_table(session, name, sf_dir))
        assert (first > 0, again) == (True, 0), (name, first, again)


def test_table_rewritten_in_place_is_read_with_new_schema(spark, tmp_path):
    """A table rewritten at the same path with an added column and a
    changed type is read with its new schema: by Spark (new file names) and
    by pyarrow (the same file name, as a single-file table)."""
    sf = str(tmp_path)
    region = os.path.join(sf, "region.parquet")
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey int, r_name string").write.parquet(region)
    for _ in range(2):
        assert load_table(spark, "region", sf).dtypes == [("r_regionkey", "int"), ("r_name", "string")]
    spark.createDataFrame(
        [(0, "AFRICA", "lar")], "r_regionkey bigint, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(region)
    df = load_table(spark, "region", sf)
    assert df.dtypes == [("r_regionkey", "bigint"), ("r_name", "string"), ("r_comment", "string")]
    assert [tuple(r) for r in df.collect()] == [(0, "AFRICA", "lar")]

    # events.ts as NTZ micros, then as nanos with an added column: both
    # branches of load_table read their type from the schema of the files
    events = os.path.join(sf, "events.parquet")
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    pq.write_table(pa.table({"event_id": [1], "ts": pa.array([ts], pa.timestamp("us"))}), events)
    for _ in range(2):
        assert load_table(spark, "events", sf).dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int32()),
                "ts": pa.array([ts], pa.timestamp("ns")),
                "value": [2.5],
            }
        ),
        events,
    )
    df = load_table(spark, "events", sf)
    assert df.dtypes == [("event_id", "int"), ("ts", "timestamp"), ("value", "double")]
    micros = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    got = df.select("event_id", F.unix_micros("ts"), "value").collect()
    assert [tuple(r) for r in got] == [(1, micros, 2.5)]


def test_upsert_records_the_schema_inference_returns(spark, tmp_path, monkeypatch):
    """The schema an upsert or a compaction records for the files it
    replaced the table with is the one a fresh session infers from them:
    every field nullable, although the upsert's ingest timestamp is not.
    So the next read of the table starts no job."""
    written = []

    def recording_replace(session, df, path):
        written.append(df)
        replace_table(session, df, path)

    monkeypatch.setattr(upsert_mod, "replace_table", recording_replace)
    path = str(tmp_path / "store")
    rows = spark.createDataFrame([("2024-01-02", "AAA", [1.5])], "date string, symbol string, px array<double>")

    def upsert():
        upsert_keyed(spark, rows, path, ("date", "symbol"))
        assert not written[-1].schema["_ingest_ts"].nullable

    def compact():
        # a second file, so the compaction rewrites the table
        more = rows.withColumn("symbol", F.lit("BBB")).withColumn("_ingest_ts", F.current_timestamp())
        more.write.mode("append").parquet(path)
        stats = compact_parquet(spark, path)
        assert stats["files_after"] < stats["files_before"]

    for writer in (upsert, compact):
        writer()
        inferred = spark.newSession().read.parquet(path).schema
        assert registry._SCHEMAS[spark][path] == (registry._listing(spark, path), inferred)
        reads = _jobs_started(spark, f"registry-{writer.__name__}", lambda: registry.read_parquet(spark, path))
        assert reads == 0, writer.__name__
