"""Per-job timeline profiler for one declared query (guide §1).

Runs `queries()[name]` with the noop sink, then dumps every Spark job the
query triggered from the REST API: submission gap (driver think-time /
planning), run time, stage count, task count, shuffle bytes. The chain of
sequential jobs is exactly what the bench wall clock is made of, so this
is the measurement tool for "where do the seconds go" on a multi-job
query (probes, eager checkpoints, iterative rounds).

Usage: python tools/profile_query.py <query> [sf_dir] [--repeat N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from global_stock_data_warehouse_spark.session import get_spark
from global_stock_data_warehouse_spark.sources.registry import TABLES, load_table


def _rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
        return json.load(r)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    repeat = 2
    for a in sys.argv[1:]:
        if a.startswith("--repeat="):
            repeat = int(a.split("=")[1])

    spark = get_spark("gsdw-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmups as bench.py so the first measured sweep is comparable
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(256).repartition(n_cpus).mapInPandas(_warm, "id long").count()
    for t in TABLES:
        try:
            load_table(spark, t, sf_dir).limit(1024).collect()
        except Exception:
            pass

    fn = entrymod.queries()[name]
    walls = []
    for sweep in range(repeat):
        jobs_before = {j["jobId"] for j in _rest(spark, "jobs")}
        spark.sparkContext.setJobDescription(f"{name} sweep{sweep}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        walls.append(round(wall, 3))
        spark.sparkContext.setJobDescription(None)
        time.sleep(0.3)
        jobs = [j for j in _rest(spark, "jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name} sweep {sweep}: wall {wall:.3f}s, {len(jobs)} jobs")
        prev_end = None
        fmt = "%Y-%m-%dT%H:%M:%S.%f"
        from datetime import datetime

        def ts(s):
            return datetime.strptime(s[:-3], fmt).timestamp()

        for j in jobs:
            sub, comp = ts(j["submissionTime"]), ts(j.get("completionTime", j["submissionTime"]))
            gap = (sub - prev_end) if prev_end is not None else 0.0
            prev_end = comp
            print(
                f"  job {j['jobId']:>4} +gap {gap:6.3f}s run {comp-sub:6.3f}s "
                f"tasks {j['numTasks']:>4} stages {len(j['stageIds']):>2} "
                f"| {(j.get('description') or j.get('name') or '')[:110]}"
            )
    print(f"\nwalls: {walls}")


if __name__ == "__main__":
    main()
