"""Local mirror of the driver's DuckDB-oracle correctness gate, and the
one comparator every degenerate-input sweep (``tools/sweep.py``) runs on.

``run(spark, sf_dir, names)`` checks each declared query on the tables in
``sf_dir``:

- an oracled query runs on Spark and its ``oracle_sql()`` twin on DuckDB;
  row count, column names and order-insensitive values must agree (floats
  rounded to ~9 significant digits, bit-exact under ``CHECK_EXACT=1``);
- a rows-only query (no DuckDB twin) must not throw, must return the
  column names pinned in ``ROWSONLY_SNAPSHOTS.json``, and must give the
  same value md5 on two runs.

Usage: python tools/check_correctness.py [name ...]
  CHECK_SF_DIR=dir   tables to check (default: the sf0.01 fixtures)
  CHECK_EXACT=1      bit-exact floats, as the driver's value hash
  CHECK_REPORT=path  also write the per-query outcomes as JSON
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

import __spark_entry__ as entrymod
from global_stock_data_warehouse_spark.session import get_spark
from global_stock_data_warehouse_spark.sources.registry import TABLES
from tools.snapshot_rowsonly import snapshot_df

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
# CHECK_EXACT=1: bit-exact float comparison (mirrors the driver's value
# hash, which has NO tolerance); default rounds to ~9 significant digits.
EXACT = os.environ.get("CHECK_EXACT", "0") == "1"
SNAP_PATH = os.path.join(REPO, "ROWSONLY_SNAPSHOTS.json")

# Queries whose float columns are ROUNDED INSIDE the query (e.g. 4dp):
# Spark's moving-frame covar/var/corr and DuckDB's segment-tree window
# aggregates sum in different orders, so a value sitting exactly on a
# rounding boundary can flip its last digit between engines on unlucky
# data. These queries live OUTSIDE the driver's hash window by design;
# compare their float cells with a one-last-digit epsilon instead of
# bit equality so the local mirror isn't flaky. Only the pristine mirror
# (``sf_dir == SF_DIR``) uses them; the degenerate sweeps stay strict.
EPS_QUERIES = {"rolling_beta": 2e-4, "unigram_logprob": 2e-4, "source_kl": 2e-4, "autocorrelation": 2e-4, "dsir_weights": 2e-4, "nb_self_loglik": 2e-4}


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int) and EXACT:
        # driver-parity: DuckDB HUGEINT/int vs Spark bigint both land here;
        # floats must stay floats (int 5 != float 5.0 under a value hash)
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        if EXACT:
            return v
        # ~9 significant digits: loose enough for double-sum drift,
        # tight enough to catch real bugs.
        return round(v, 9 - int(math.floor(math.log10(abs(v)))) - 1)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def _normalize(rows, cols):
    # NULL-safe total order: sort on the repr of each normalized cell.
    return sorted(
        (tuple(_norm_cell(v) for v in row) for row in rows),
        key=lambda r: tuple(repr(v) for v in r),
    ), sorted(c.lower() for c in cols)


def _eps_compare(srows, scols, drows, dcols, eps):
    """Row-aligned epsilon comparison: non-float cells form the row key
    (must match exactly); float cells must agree within ``eps``. Returns
    None when equal, else a mismatch description."""

    def split(rows, cols):
        idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        out = {}
        for row in rows:
            key, vals = [], []
            for i in idx:
                v = row[i]
                if isinstance(v, float):
                    vals.append(v)
                else:
                    key.append(repr(_norm_cell(v)))
            out.setdefault(tuple(key), []).append(vals)
        return out

    smap, dmap = split(srows, scols), split(drows, dcols)
    if set(smap) != set(dmap):
        extra = list(set(smap) ^ set(dmap))[:2]
        return f"KEY MISMATCH (e.g. {extra})"
    for k, svals in smap.items():
        dvals = dmap[k]
        if len(svals) != len(dvals):
            return f"ROWCOUNT at key {k}"
        for va, vb in zip(sorted(svals), sorted(dvals)):
            for x, y in zip(va, vb):
                both_nan = (
                    isinstance(x, float) and isinstance(y, float)
                    and math.isnan(x) and math.isnan(y)
                )
                if both_nan:
                    continue
                if x is None or y is None:
                    if x is not y:
                        return f"NULL MISMATCH at {k}: {x} vs {y}"
                    continue
                if abs(x - y) > eps:
                    return f"VALUE at {k}: {x} vs {y} (eps={eps})"
    return None


def _vs_oracle(con, sql, sdf, eps):
    """(None or a mismatch description, Spark row count) for one oracled
    query's Spark frame against its DuckDB twin."""
    srows, scols = [tuple(r) for r in sdf.collect()], sdf.columns
    if EXACT:
        # the driver materializes the oracle through pandas, where HUGEINT
        # (DuckDB's integer-sum result type) becomes float64 and
        # hash-mismatches Spark's bigint even for equal values
        huge = [r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()
                if "HUGEINT" in str(r[1]).upper()]
        if huge:
            return f"oracle emits HUGEINT columns {huge}", len(srows)
    cur = con.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    sn, sc = _normalize(srows, scols)
    dn, dc = _normalize(drows, dcols)
    if sc != dc:
        return f"SCHEMA MISMATCH spark={sc} duck={dc}", len(sn)
    if len(sn) != len(dn):
        return f"ROWCOUNT MISMATCH spark={len(sn)} duck={len(dn)}", len(sn)
    if eps is not None:
        err = _eps_compare(srows, scols, drows, dcols, eps)
        return err and f"EPS MISMATCH {err}", len(sn)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return f"VALUE MISMATCH first-diffs={diffs}", len(sn)
    return None, len(sn)


def _rows_only(fn, spark, sf_dir, pinned_cols):
    """(None or a failure description, row count) for a rows-only query:
    it must keep its pinned column names and be deterministic."""
    h1, n1, cols = snapshot_df(fn(spark, sf_dir))
    h2, n2, _ = snapshot_df(fn(spark, sf_dir))
    if cols != pinned_cols:
        return f"SCHEMA {cols} vs pinned {pinned_cols}", n1
    if (h1, n1) != (h2, n2):
        return f"NONDETERMINISTIC {h1}/{n1} vs {h2}/{n2}", n1
    return None, n1


def run(spark, sf_dir: str, names) -> list[str]:
    """Check ``names`` (empty: every declared query) on the tables in
    ``sf_dir``; print one line per query and return the failing names.
    ``CHECK_REPORT=path`` also writes the per-query outcomes as JSON."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        # a table Spark wrote is a directory of part files
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    with open(SNAP_PATH) as fh:
        snaps = json.load(fh)
    eps_queries = EPS_QUERIES if sf_dir == SF_DIR else {}
    targets = names or list(qs)
    report: dict = {}
    for name in targets:
        t0 = time.time()
        try:
            if name in oracles:
                err, n = _vs_oracle(con, oracles[name], qs[name](spark, sf_dir),
                                    eps_queries.get(name))
            else:
                err, n = _rows_only(qs[name], spark, sf_dir,
                                    snaps.get(name, {}).get("cols"))
        except Exception as e:
            err, n = f"ERROR {type(e).__name__}: {str(e)[:300]}", None
        kind = "oracle" if name in oracles else "rows-only"
        report[name] = {"status": f"FAIL: {err[:200]}" if err else "OK",
                        "kind": kind, "rows": n}
        if name in eps_queries and not err:
            report[name]["eps"] = eps_queries[name]
        if err:
            print(f"FAIL {name}: {err}")
        else:
            print(f"OK   {name} ({kind}, {n} rows, {time.time()-t0:.1f}s)")
    failures = [n for n, r in report.items() if r["status"] != "OK"]
    print(f"\n{len(targets) - len(failures)}/{len(targets)} passed on {sf_dir}")
    if failures:
        print("failing:", " ".join(failures))
    out_path = os.environ.get("CHECK_REPORT")
    if out_path:
        payload = {
            "sf_dir": sf_dir,
            "exact": EXACT,
            "n_targets": len(targets),
            "n_passed": len(targets) - len(failures),
            "results": report,
        }
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"report -> {out_path}")
    return failures


if __name__ == "__main__":
    raise SystemExit(1 if run(get_spark("check-correctness"), SF_DIR, sys.argv[1:]) else 0)
