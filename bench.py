"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"sf": ..., "repeat": N, "shuffle_mb": {name: mb}, "queries": {name: sec},
"min_sweep_top": {name: min_sec}}. The driver keeps only the LAST ~2 KB
of the line, so `queries` (median seconds) sits second-to-last with its
heaviest entries last, and the only field after it is the size-bounded
`min_sweep_top` (quiet-rig min-sweep walls for the ~24 heaviest queries
— the adjudication metric of the bytes -> min-sweep -> median protocol).
Each query is forced with a noop write (full execution, no driver collect —
measures the engine, not py4j serialization). ``shuffle_mb`` is the
per-query shuffle-WRITE megabytes (Spark REST stage metrics diffed around
the first sweep, outside the timed section): wall seconds drift ±10-20%
run-to-run on this rig while shuffle bytes are deterministic, so
regression calls should cite bytes first (a lone wall jump with identical
bytes is drift; byte growth is real).

``--repeat N`` (or $SPARK_GRAFT_BENCH_REPEAT, default 3) sweeps the full
query set N times in one JVM session and reports the PER-QUERY MEDIAN —
single-shot timings made ±0.3s swings indistinguishable from noise
(VERDICT r2 item 5), so regressions are judged on medians. Sweeps run
whole-set round-robin (not per-query back-to-back) so each repeat sees the
same cross-query cache state the driver's sequential run sees.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from global_stock_data_warehouse_spark.session import get_spark
from global_stock_data_warehouse_spark.sources.registry import TABLES, load_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--repeat",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")),
        help="full-set sweeps; per-query median is reported (default 3)",
    )
    ap.add_argument(
        "--out",
        default=os.environ.get("SPARK_GRAFT_BENCH_OUT", ""),
        help="also write the FULL result (per-query raw sweeps, shuffle "
        "bytes, load averages) as a JSON file — the self-adjudicating "
        "local artifact (VERDICT r9 item 2); stdout stays the driver's "
        "truncation-safe one-liner",
    )
    args = ap.parse_args()
    repeat = max(1, args.repeat)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Rig-idleness evidence: a wall-clock number is only adjudicable if
    # the artifact records what else the machine was doing (VERDICT r9
    # found a 35% sweep spread caused by background load).
    load_start = os.getloadavg()

    spark = get_spark("gsdw-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Generic warmup: JVM/codegen/parquet-reader init, not the benched
    # queries — touch every input table's reader (incl. the events
    # TIMESTAMP(NANOS) conversion path) so per-query timings measure the
    # queries, not one-time reader initialization.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Warm the reusable Python UDF worker pool (fork + numpy/pandas import
    # per worker — one-time cost that would otherwise land on whichever
    # Arrow-batched query happens to run first).
    def _warm_workers(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(256).repartition(n_cpus).mapInPandas(_warm_workers, "id long").count()

    # Warm the JVM's codegen/JIT paths for the common physical shapes
    # (shuffle agg, broadcast join, window) on synthetic data — one-time
    # compiler init, nothing from the benched queries.
    from pyspark.sql import Window, functions as F

    base = spark.range(10_000).selectExpr("id", "id % 7 AS k", "id * 1.5 AS v")
    dim = spark.range(7).selectExpr("id AS k", "id * 2 AS w")
    (
        base.join(F.broadcast(dim), "k")
        .withColumn("r", F.sum("v").over(Window.partitionBy("k").orderBy("id")))
        .groupBy("k")
        .agg(F.sum("r"), F.avg("v"), F.max("w"))
        .collect()
    )

    for t in TABLES:
        try:
            load_table(spark, t, sf_dir).limit(1024).collect()
        except Exception:
            pass

    # Per-query shuffle-write bytes (Spark REST stage metrics, diffed
    # around each query on the first sweep only — the metric is
    # deterministic run-to-run, unlike wall seconds which drift ±10-20%
    # on this rig; regression calls should cite bytes, seconds second).
    # The REST reads happen OUTSIDE the timed section.
    from tools.scale_slope import shuffle_write_bytes

    def settled_shuffle_bytes() -> int:
        # Spark's AppStatusListener drains its event queue asynchronously:
        # a read taken immediately after an action can miss the last
        # stages (they'd then be mis-attributed to the NEXT query). Poll
        # until two consecutive reads agree (stage metrics are monotone
        # within a session), bounded at ~2s so a dead REST endpoint can't
        # stall the bench.
        prev = shuffle_write_bytes(spark)
        for _ in range(20):
            time.sleep(0.1)
            cur = shuffle_write_bytes(spark)
            if cur == prev:
                return cur
            prev = cur
        return prev

    runs: dict[str, list[float]] = {name: [] for name in entrymod.queries()}
    shuffle_mb: dict[str, float] = {}
    for sweep in range(repeat):
        sb_prev = settled_shuffle_bytes() if sweep == 0 else 0
        for name, fn in entrymod.queries().items():
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.time() - t0, 3))
            if sweep == 0:
                # nothing runs between queries, so the settled post-read of
                # query N is query N+1's baseline — one settle per query.
                sb1 = settled_shuffle_bytes()
                shuffle_mb[name] = (
                    round((sb1 - sb_prev) / 1e6, 3)
                    if sb_prev >= 0 and sb1 >= 0
                    else -1.0
                )
                sb_prev = sb1

    timings = {name: round(statistics.median(ts), 3) for name, ts in runs.items()}
    total = round(sum(timings.values()), 3)
    # ASCENDING (heaviest LAST) ordering INSIDE each dict: the driver's
    # artifact keeps only the LAST ~2 KB of the stdout line, so the
    # surviving fragment must END with the expensive queries — the ones a
    # regression read actually needs. r8's heaviest-first put the 5.3s
    # queries in the truncated head (VERDICT r8 item 1 corrects r7 item 5).
    timings = dict(sorted(timings.items(), key=lambda kv: kv[1]))
    shuffle_mb = dict(sorted(shuffle_mb.items(), key=lambda kv: kv[1]))
    # Diagnostic (stderr only, never the stdout JSON contract): raw
    # per-sweep seconds, so a regressed median can be split into
    # "cold on sweep 1 only" vs "slow every sweep" without a re-run.
    print(json.dumps({"raw_sweeps": runs}), file=sys.stderr)
    if args.out:
        # The full, untruncated artifact: per-query raw sweeps (drift is
        # adjudicable from spread), per-query + total shuffle bytes (the
        # rig's deterministic signal), and load averages bracketing the
        # run (idle-rig evidence).
        load_end_raw = [round(x, 2) for x in os.getloadavg()]
        # A 32-thread local Spark run RAISES 1-min loadavg by itself, so
        # the raw end sample can never show "idle" — it conflates the
        # bench's own executors with background contention. Settle 60s
        # (one 1-min-load decay constant, e^-1 = 0.37x) with the JVM
        # quiescent, then resample. One decay constant still leaves
        # ~37% of the bench's own load in the sample (r11 ADVICE), so
        # SUBTRACT the expected residual of the raw end load
        # (raw * e^-1) from the 1-min figure before recording;
        # load_avg_end_settled then isolates BACKGROUND load even after
        # a heavy run, and the raw sample + residual stay in the
        # artifact so the subtraction is auditable.
        time.sleep(60)
        settled_raw = [round(x, 2) for x in os.getloadavg()]
        residual = round(load_end_raw[0] * math.exp(-1), 2)
        settled = [
            round(max(0.0, settled_raw[0] - residual), 2),
            settled_raw[1],
            settled_raw[2],
        ]
        full = {
            "metric": "total_query_wall_clock",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "repeat": repeat,
            "load_avg_start": [round(x, 2) for x in load_start],
            "load_avg_end": load_end_raw,
            "load_avg_end_settled": settled,
            "load_avg_end_settled_raw": settled_raw,
            "settle_residual_subtracted": residual,
            "sweep_totals": [
                round(sum(ts[i] for ts in runs.values()), 1)
                for i in range(repeat)
            ],
            "total_shuffle_mb": round(sum(v for v in shuffle_mb.values() if v > 0), 3),
            "shuffle_mb": shuffle_mb,
            "sweeps": runs,
            "queries": timings,
        }
        with open(args.out, "w") as fh:
            json.dump(full, fh, indent=1)
        print(f"full artifact -> {args.out}", file=sys.stderr)
    # Driver-artifact self-adjudication (VERDICT r11 item 6): the
    # repo's regression protocol is bytes -> MIN-sweep -> median, but
    # the driver's tail capture only kept medians, so every apparent
    # wall mover needed the local --out twin to adjudicate. Record the
    # min-sweep for the HEAVIEST ~24 queries (the only ones whose wall
    # moves ever need adjudication) as a compact dict. Bounded to ~700
    # bytes so the median tail above it still survives the ~2 KB
    # driver capture.
    heaviest = list(timings)[-24:]
    min_sweep_top = {k: round(min(runs[k]), 3) for k in heaviest}
    min_sweep_top = dict(sorted(min_sweep_top.items(), key=lambda kv: kv[1]))
    # FIELD ORDER IS LOAD-BEARING: the driver's capture keeps only the
    # LAST ~2 KB of this line. `queries` (per-query median SECONDS — the
    # headline metric) goes second-to-last with its heaviest entries
    # last; `min_sweep_top` (the quiet-rig walls of exactly those
    # heaviest queries — the adjudication metric) is the one dict
    # allowed AFTER `queries`, because it is size-bounded. Round 5
    # serialized the unbounded shuffle_mb after queries and the driver's
    # BENCH artifact kept megabytes instead of seconds (VERDICT r5
    # item 1). shuffle_mb goes first; never append an UNBOUNDED dict
    # after `queries`.
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "repeat": repeat,
                # per-sweep totals: this rig drifts ±10-20% wall
                # run-to-run, so a tight spread here says "stable
                # reading" while a wide one flags the whole run as
                # hot/cold — context for adjudicating the median
                "sweep_totals": [
                    round(sum(ts[i] for ts in runs.values()), 1)
                    for i in range(repeat)
                ],
                "shuffle_mb": shuffle_mb,
                "queries": timings,
                "min_sweep_top": min_sweep_top,
            }
        )
    )


if __name__ == "__main__":
    main()
