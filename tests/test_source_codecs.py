"""Stdlib-codec source scans: xlsx (zip+XML), HTML tables, SQLite shards.

Each test builds REAL encoded artifacts (an actual xlsx zip, actual HTML,
an actual .db file) — no mocks in the decode path — and drives the
distributed scan end-to-end.
"""

from __future__ import annotations

import sqlite3
import zipfile

import pytest

from global_stock_data_warehouse_spark.sources.excel import (
    parse_xlsx_grid,
    scan_excel,
)
from global_stock_data_warehouse_spark.sources.html_table import (
    parse_html_tables,
    scan_html_table,
)
from global_stock_data_warehouse_spark.sources.landing import grid_to_records
from global_stock_data_warehouse_spark.sources.sqlite_scan import (
    list_tables,
    migrate_sqlite_to_parquet,
    scan_sqlite,
    sqlite_table_schema,
)

_SHEET_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
<row r="2"><c r="A2" t="s"><v>2</v></c><c r="C2"><v>42.5</v></c></row>
<row r="3"><c r="A3" t="inlineStr"><is><t>inline</t></is></c><c r="B3" t="b"><v>1</v></c></row>
</sheetData>
</worksheet>"""

_SHARED_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
<si><t>Code</t></si><si><r><t>Na</t></r><r><t>me</t></r></si><si><t>2330</t></si>
</sst>"""


def _mk_xlsx(tmp_path, name="book.xlsx"):
    p = tmp_path / name
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", _SHEET_XML)
        zf.writestr("xl/sharedStrings.xml", _SHARED_XML)
    return str(p)


def test_parse_xlsx_grid_cell_types(tmp_path):
    path = _mk_xlsx(tmp_path)
    grid = parse_xlsx_grid(open(path, "rb").read())
    assert grid[0] == ["Code", "Name"]  # shared + rich-text runs joined
    assert grid[1] == ["2330", None, "42.5"]  # skipped B2 padded with None
    assert grid[2] == ["inline", "TRUE"]


def test_parse_xlsx_sheet_order_is_numeric(tmp_path):
    """sheet10.xml must sort AFTER sheet2.xml (numeric suffix order, not
    lexicographic) so sheet_index addresses the right sheet in 10+-sheet
    workbooks."""
    one_cell = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData><row r=\"1\"><c r=\"A1\" t=\"inlineStr\"><is><t>%s</t></is></c></row>"
        "</sheetData></worksheet>"
    )
    p = tmp_path / "many.xlsx"
    with zipfile.ZipFile(p, "w") as zf:
        # deliberately written out of order; names span 1..10
        for i in (10, 1, 2):
            zf.writestr(f"xl/worksheets/sheet{i}.xml", one_cell % f"s{i}")
    data = open(p, "rb").read()
    assert parse_xlsx_grid(data, sheet_index=0) == [["s1"]]
    assert parse_xlsx_grid(data, sheet_index=1) == [["s2"]]
    assert parse_xlsx_grid(data, sheet_index=2) == [["s10"]]


def test_parse_xlsx_missing_sheet_raises(tmp_path):
    path = _mk_xlsx(tmp_path)
    with pytest.raises(ValueError, match="sheet"):
        parse_xlsx_grid(open(path, "rb").read(), sheet_index=3)


def test_scan_excel_distributed(spark, tmp_path):
    _mk_xlsx(tmp_path, "a.xlsx")
    _mk_xlsx(tmp_path, "b.xlsx")
    out = scan_excel(spark, f"{tmp_path}/*.xlsx").collect()
    assert len(out) == 6  # 3 rows x 2 files
    by_file = {}
    for r in out:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r)
    grid = [r.cells for r in sorted(by_file["a.xlsx"], key=lambda r: r.row_idx)]
    cols, data = grid_to_records(grid, required_tokens=["code", "name"])
    assert cols == ["Code", "Name"] and data[0][0] == "2330"


_HTML = """<html><body>
<p>noise</p>
<table>
  <tr><th>Code</th><th> Name </th></tr>
  <tr><td>005930</td><td>Samsung &amp; Co</td></tr>
</table>
<table><tr><td>outer<table><tr><td>inner</td></tr></table></td></tr></table>
</body></html>"""


def test_parse_html_tables_semantics():
    tables = parse_html_tables(_HTML)
    assert len(tables) == 3  # two top-level + one nested (emitted separately)
    assert tables[0] == [["Code", "Name"], ["005930", "Samsung & Co"]]
    assert ["inner"] in tables[1] or ["inner"] in tables[2]
    # nested text never leaks into the parent cell
    flat_parent = [c for t in tables[1:] for row in t for c in row]
    assert "outerinner" not in "".join(flat_parent)


def test_scan_html_table_distributed(spark, tmp_path):
    (tmp_path / "kr.html").write_text(_HTML)
    out = scan_html_table(spark, f"{tmp_path}/*.html")
    first = (
        out.filter("table_idx = 0").orderBy("row_idx").collect()
    )
    assert [r.cells for r in first] == [["Code", "Name"], ["005930", "Samsung & Co"]]


def test_scan_csv_dir_quarantined_splits_bad_rows(spark, tmp_path):
    from global_stock_data_warehouse_spark.sources.csv_dir import (
        scan_csv_dir_quarantined,
    )

    (tmp_path / "2330_daily.csv").write_text(
        "date,close\n2024-01-02,100.5\nnot-a-date,oops\n2024-01-03,101.0\n"
    )
    (tmp_path / "2317_daily.csv").write_text("date,close\n2024-01-02,55.25\n")
    clean, dead = scan_csv_dir_quarantined(
        spark, f"{tmp_path}/*.csv", "date date, close double"
    )
    rows = clean.collect()
    assert len(rows) == 3  # bad ROW quarantined, rest of its file kept
    assert {r.stock_id for r in rows} == {"2330", "2317"}
    d = dead.collect()
    assert len(d) == 1 and "not-a-date" in d[0]._corrupt_record
    assert d[0].source_file.endswith("2330_daily.csv")


def _mk_db(tmp_path):
    p = str(tmp_path / "kr_stock_warehouse.db")
    con = sqlite3.connect(p)
    con.execute(
        "CREATE TABLE stock_prices (date TEXT, symbol TEXT, close REAL, volume INTEGER)"
    )
    con.executemany(
        "INSERT INTO stock_prices VALUES (?,?,?,?)",
        [(f"2024-01-{d:02d}", s, 100.0 + d, 1000 + d) for d in range(1, 21) for s in ("A", "B")],
    )
    con.execute("CREATE TABLE stock_info (symbol TEXT PRIMARY KEY, name TEXT)")
    con.executemany("INSERT INTO stock_info VALUES (?,?)", [("A", "Alpha"), ("B", "Beta")])
    con.commit()
    con.close()
    return p


def test_sqlite_schema_affinity(tmp_path):
    db = _mk_db(tmp_path)
    assert sqlite_table_schema(db, "stock_prices") == [
        ("date", "string"), ("symbol", "string"), ("close", "double"), ("volume", "bigint"),
    ]
    with pytest.raises(ValueError):
        sqlite_table_schema(db, "nope")


def test_scan_sqlite_partitioned_complete(spark, tmp_path):
    db = _mk_db(tmp_path)
    df = scan_sqlite(spark, db, "stock_prices", num_partitions=4)
    rows = df.collect()
    assert len(rows) == 40  # all ranges covered, no seam gaps/overlaps
    assert df.schema["volume"].dataType.simpleString() == "bigint"
    assert {r.symbol for r in rows} == {"A", "B"}
    assert sum(1 for r in rows if r.date == "2024-01-07") == 2


def test_scan_sqlite_sparse_rowids_balanced(spark, tmp_path):
    """After heavy deletes the rowid space is sparse; ntile-derived bounds
    must still give equal-count partitions (contiguous arithmetic ranges
    would put everything in one range and leave the rest empty)."""
    p = str(tmp_path / "sparse.db")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE t (rowid_hint INTEGER, v TEXT)")
    # rowids 1..1000, then delete all but 20 scattered at the far end
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, f"v{i}") for i in range(1000)])
    con.execute("DELETE FROM t WHERE rowid NOT BETWEEN 981 AND 1000")
    con.commit()
    con.close()
    df = scan_sqlite(spark, p, "t", num_partitions=4)
    assert df.count() == 20
    # bounds derivation is driver-side; verify balance directly
    bounds = sqlite3.connect(p).execute(
        "SELECT min(rowid), max(rowid), count(*) FROM ("
        "  SELECT rowid, ntile(4) OVER (ORDER BY rowid) AS b FROM t"
        ") GROUP BY b ORDER BY b"
    ).fetchall()
    assert [c for _, _, c in bounds] == [5, 5, 5, 5]


def test_scan_sqlite_unbalanced_arithmetic_split(spark, tmp_path):
    """balanced=False (the O(1) startup path for huge dense tables) must
    still cover every row exactly once."""
    db = _mk_db(tmp_path)
    df = scan_sqlite(spark, db, "stock_prices", num_partitions=4, balanced=False)
    rows = df.collect()
    assert len(rows) == 40
    assert {r.symbol for r in rows} == {"A", "B"}


def test_scan_sqlite_without_rowid_fails_loudly(spark, tmp_path):
    p = str(tmp_path / "worid.db")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE kv (k TEXT PRIMARY KEY, v TEXT) WITHOUT ROWID")
    con.execute("INSERT INTO kv VALUES ('a', '1')")
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="WITHOUT ROWID"):
        scan_sqlite(spark, p, "kv")


def test_migrate_sqlite_to_parquet_roundtrip(spark, tmp_path):
    db = _mk_db(tmp_path)
    assert list_tables(db) == ["stock_info", "stock_prices"]
    counts = migrate_sqlite_to_parquet(spark, db, str(tmp_path / "lake"))
    assert counts == {"stock_info": 2, "stock_prices": 40}
    back = spark.read.parquet(str(tmp_path / "lake" / "stock_prices.parquet"))
    assert back.count() == 40 and back.schema["close"].dataType.simpleString() == "double"


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, tmp_path):
    """ORC scan/sink parity with the parquet path: values round-trip,
    filters reach the ORC reader (PushedFilters), scans prune to the
    selected columns, and hive partition columns prune directories."""
    from pyspark.sql import functions as F

    from global_stock_data_warehouse_spark.sources.columnar import (
        scan_orc,
        sink_orc,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 2.5).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    )
    path = str(tmp_path / "orc")
    sink_orc(df, path, partition_by=["bucket"])

    back = scan_orc(spark, path, "id long, v double, name string, bucket int")
    assert back.count() == 1000
    assert sorted(map(tuple, back.select("id", "v").collect())) == sorted(
        map(tuple, df.select("id", "v").collect())
    )
    plan = (
        back.filter(F.col("id") > 990)
        .select("id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,990)]" in plan
    assert "ReadSchema: struct<id:bigint>" in plan
    pruned = back.filter(F.col("bucket") == 2)
    assert pruned.count() == 250
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "bucket" in pplan.split("PartitionFilters")[1][:120]


def test_blob_sync_incremental_roundtrip(spark, tmp_path):
    """K4 sink_blob_sync: first sync copies everything, a repeat sync
    copies nothing, a content change re-copies (checksum mode), and
    dst-only files are deleted only with delete=True."""
    import os

    from global_stock_data_warehouse_spark.sources.blob_sync import (
        blob_manifest,
        sink_blob_sync,
        sync_plan,
    )

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    (src / "nested").mkdir(parents=True)
    (src / "a.csv").write_text("x,y\n1,2\n")
    (src / "nested" / "b.json").write_text('{"k": 1}')

    c1 = sink_blob_sync(spark, str(src), str(dst))
    assert c1["copy_new"] == 2 and c1["failed"] == 0 and c1["fail_list"] == []
    assert (dst / "a.csv").read_text() == "x,y\n1,2\n"
    assert (dst / "nested" / "b.json").exists()

    c2 = sink_blob_sync(spark, str(src), str(dst))
    assert c2["copy_new"] == 0 and c2["copy_changed"] == 0 and c2["skip"] == 2

    # same-length content change: metadata-only diff may miss it if the
    # mtime granularity collapses -- checksum mode must catch it
    (src / "a.csv").write_text("x,y\n9,8\n")
    os.utime(src / "a.csv", ns=(1, 1))  # force mtime BACKWARDS
    plan = {
        r["rel_path"]: r["action"]
        for r in sync_plan(
            blob_manifest(spark, str(src), checksum=True),
            blob_manifest(spark, str(dst), checksum=True),
            checksum=True,
        ).collect()
    }
    assert plan["a.csv"] == "copy_changed"
    c3 = sink_blob_sync(spark, str(src), str(dst), checksum=True)
    assert c3["copy_changed"] == 1
    assert (dst / "a.csv").read_text() == "x,y\n9,8\n"

    # dst-only file survives by default, deleted with delete=True
    (dst / "stale.txt").write_text("old")
    c4 = sink_blob_sync(spark, str(src), str(dst))
    assert (dst / "stale.txt").exists()
    c5 = sink_blob_sync(spark, str(src), str(dst), delete=True)
    assert c5["delete"] == 1 and not (dst / "stale.txt").exists()


def test_blob_sync_reports_failed_copies(spark, tmp_path):
    """A copy the destination cannot take is reported, not only counted:
    ``fail_list`` names each such file with its last error, in path order.
    A directory where the file belongs fails too, instead of the file
    landing inside it."""
    from global_stock_data_warehouse_spark.sources.blob_sync import sink_blob_sync

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    (src / "nested").mkdir(parents=True)
    (src / "a.csv").write_text("a")
    (src / "nested" / "b.json").write_text("b")
    (src / "z.txt").write_text("z")
    dst.mkdir()
    (dst / "nested").write_text("a file where a directory belongs")
    (dst / "z.txt").mkdir()
    (dst / "z.txt" / "inner").write_text("kept")

    c = sink_blob_sync(spark, str(src), str(dst), retries=2, retry_wait_s=0.0)
    assert (c["copy_new"], c["failed"]) == (1, 2)
    assert [p for p, _ in c["fail_list"]] == ["nested/b.json", "z.txt"]
    assert "FileAlreadyExistsException" in c["fail_list"][0][1]
    assert "is a directory" in c["fail_list"][1][1]
    assert (dst / "a.csv").read_text() == "a"
    assert sorted(p.name for p in (dst / "z.txt").iterdir()) == ["inner"]


def test_blob_manifest_missing_vs_error_and_zero_byte(spark, tmp_path):
    """blob_manifest's empty-frame fallback is reserved for a provably
    missing root; a genuine FS error must RAISE (a swallowed src-listing
    error plus delete=True would plan the deletion of every dst file).
    Zero-byte files sync and re-skip like any other file, in both
    metadata and checksum mode."""
    import pytest

    from global_stock_data_warehouse_spark.sources.blob_sync import (
        blob_manifest,
        sink_blob_sync,
    )

    # (a) missing root -> empty manifest, schema intact
    m = blob_manifest(spark, str(tmp_path / "never_created"))
    assert m.count() == 0 and m.columns == ["rel_path", "length", "mtime"]

    # (b) existing-but-empty dir is also a valid empty manifest
    empty = tmp_path / "empty"
    empty.mkdir()
    assert blob_manifest(spark, str(empty)).count() == 0

    # (c) a broken FS (unknown scheme) raises instead of returning empty
    with pytest.raises(Exception, match="(?i)filesystem|scheme"):
        blob_manifest(spark, "notafs://bogus/root")

    # (d) zero-byte file round-trip, metadata and checksum modes
    src = tmp_path / "zsrc"
    dst = tmp_path / "zdst"
    src.mkdir()
    (src / "empty.bin").write_bytes(b"")
    (src / "full.bin").write_bytes(b"\x00\x01")
    c1 = sink_blob_sync(spark, str(src), str(dst))
    assert c1["copy_new"] == 2 and c1["failed"] == 0
    assert (dst / "empty.bin").stat().st_size == 0
    c2 = sink_blob_sync(spark, str(src), str(dst), checksum=True)
    assert c2["skip"] == 2 and c2["copy_changed"] == 0

    # (e) hidden zero-byte markers follow Spark's file-source visibility
    # rule: invisible to the manifest on BOTH sides, so a dst-side
    # _SUCCESS survives even delete=True and never syncs from src
    (src / "_SUCCESS").write_bytes(b"")
    (dst / "_SUCCESS").write_bytes(b"")
    (dst / ".hidden").mkdir()
    (dst / ".hidden" / "stale.bin").write_bytes(b"")
    m = blob_manifest(spark, str(src))
    assert sorted(r.rel_path for r in m.collect()) == ["empty.bin", "full.bin"]
    c3 = sink_blob_sync(spark, str(src), str(dst), delete=True)
    assert c3["delete"] == 0 and c3["copy_new"] == 0
    assert (dst / "_SUCCESS").exists() and (dst / ".hidden" / "stale.bin").exists()
