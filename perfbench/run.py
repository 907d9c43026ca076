"""Seeded benchmark of the stock warehouse engine.

    python3 perfbench/run.py --workload {daily_sync,query_mix} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. One client in a closed loop: the next op
starts when the previous one has finished, in whole rounds, until the ops
have taken ``--seconds``. Inputs come from ``--seed``; outputs are checked
once, after the timed ops. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it describes the environment, with every op's wall, CPU and
JIT seconds; a traced run prints its spans before that.

The traced run alternates rounds with a span around every call into a
layer and rounds without; ``trace.overhead_s`` is the mean traced op minus
the mean untraced one. Everything the run writes goes under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
UNTRACED_GROUP = "pb-untraced"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

SPANS = (
    "session.get_spark",
    "plans.orchestrate.sync_market",
    "operators.validate.needs_update",
    "sources.fetch.fetch_timeseries",
    "operators.upsert.upsert_keyed",
    "plans.orchestrate.get_summary",
    "storage.compact.compact_parquet",
    "plans.wmy.build",
    "plans.wmy.publish",
    "plans.wmy.audit_record",
    "queries.build",
    "queries.execute",
)
EXTRA_UNITS = {
    "sources.fetch.attempts": "count",
    "sources.fetch.attempts_per_symbol": "ratio",
    "sources.fetch.busy_s": "s",
    "operators.upsert.rows_written_per_new_row": "ratio",
    "storage.compact.files_before": "count",
    "storage.compact.rewrites": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.untraced_jobs": "count",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
    "ops.wall_s": "s",
    "ops.per_s": "1/s",
    "jvm.jit_cpu_s": "s",
}


def seconds_since_process_start() -> float:
    """From this process's start, as the kernel recorded it."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += children.get(pid, [])
    return out


def tree_peak_rss_mb() -> tuple[float, list[float]]:
    """Sum of VmHWM over this process and its descendants (the JVM and its
    Python workers), and each process's share, in MB."""
    each = []
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                each.append(next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:")) / 1024)
        except (OSError, StopIteration):
            continue
    return sum(each), [round(x, 1) for x in each]


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after it) of a /proc stat file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1 : text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and its descendants,
    including the children they have reaped: (all of it, the share of the
    JVM's JIT compiler threads). The compiler threads are fixed in number
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits and takes
    its time out of the share."""
    ticks = jit = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            ticks += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[1][11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # the process has gone
        for tid in tids:
            try:
                comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue  # the thread has gone; it was no compiler thread
            if comm.startswith(JIT_THREADS):
                jit += int(fields[11]) + int(fields[12])
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def stop_spark(spark) -> None:
    """Stop Spark, then its JVM, and wait until every process it started
    has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of its input
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def configure_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let Python workers import the package and these modules."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell",
        ]
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path[:0] = [ROOT, HERE]


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return out.stderr.splitlines()[0] if out.stderr else "unknown"


def mean_of_key_medians(records: list, times: list[float]) -> float:
    """Mean over op keys of each key's median op time. Every key weighs the
    same however often the window repeated it, and one slow repeat of a key
    does not move it."""
    by_key: dict = {}
    for (key, _), t in zip(records, times):
        by_key.setdefault(key, []).append(t)
    return statistics.fmean(statistics.median(ts) for ts in by_key.values())


@contextlib.contextmanager
def tracing(tracer, wl, op: int):
    """Spans on for one op: the tracer enabled, and the calls the workload
    names wrapped where their module binds them."""
    module, calls = wl.traced_calls()
    originals = {name: getattr(module, name) for name in calls}
    for name, span_name in calls.items():
        setattr(module, name, tracer.wrap(span_name, originals[name]))
    tracer.op, tracer.enabled = op, True
    try:
        yield
    finally:
        tracer.enabled = False
        for name, fn in originals.items():
            setattr(module, name, fn)


def run_loop(spark, wl, seconds: float, records: list, tracer=None):
    """Closed loop: ops back to back, in whole rounds of ``wl.ROUND`` ops,
    until they have taken ``seconds`` and ``wl.MIN_ROUNDS`` rounds are done.
    With a ``tracer``, every other round runs traced, and at least two
    rounds run. Returns each op's wall seconds, CPU seconds, the JIT
    compiler's share of them and whether it was traced."""
    times: list[float] = []
    cpu: list[float] = []
    jit: list[float] = []
    traced: list[bool] = []
    min_ops = max(wl.MIN_ROUNDS, 2 if tracer is not None else 1) * wl.ROUND
    k = 0
    while sum(times) < seconds or len(times) < min_ops or len(times) % wl.ROUND:
        key, payload = wl.prepare(k)
        on = tracer is not None and (k // wl.ROUND) % 2 == 0
        if tracer is not None and not on:
            # jobs of untraced ops carry a group of their own, so that any
            # job of a traced op outside every span stands out
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", UNTRACED_GROUP)
        with tracing(tracer, wl, k) if on else contextlib.nullcontext():
            c0, j0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                result = wl.op(payload)
                raised = False
            except Exception:
                traceback.print_exc()
                raised = True
            times.append(time.perf_counter() - t0)
            c1, j1 = tree_cpu_s()
            cpu.append(c1 - c0)
            jit.append(j1 - j0)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        traced.append(on)
        records.append((key, not raised and wl.verify(payload, result)))
        k += 1
    return times, cpu, jit, traced


def layer_metrics(rest, jobs_before: int, wl, tracer, records, times, jit, traced):
    """(extra counters, {span name: counters}): the counters of the traced
    ops' spans from the Spark REST listings, the workload's own layer
    counters, and the tracing overhead and op rate against untraced ops."""
    from spans import span_counters

    jobs = [
        j
        for j in rest.settled_jobs()
        if j["jobId"] > jobs_before and j.get("jobGroup") != UNTRACED_GROUP
    ]
    stages = rest.stages()
    counters, untraced = span_counters(tracer.spans, jobs, stages)
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    extra = wl.layer_counters(sum(traced), counters)
    extra["spark.shuffle_write_mb"] = sum(
        stages[s]["shuffleWriteBytes"] for s in stage_ids if s in stages
    ) / 1e6
    extra["spark.untraced_jobs"] = untraced
    plain = [t for t, on in zip(times, traced) if not on]
    extra["trace.overhead_s"] = statistics.fmean(
        t for t, on in zip(times, traced) if on
    ) - statistics.fmean(plain)
    plain_records = [r for r, on in zip(records, traced) if not on]
    extra["ops.wall_s"] = mean_of_key_medians(plain_records, plain)
    extra["ops.per_s"] = len(plain) / sum(plain)
    extra["jvm.jit_cpu_s"] = statistics.fmean(j for j, on in zip(jit, traced) if not on)
    return extra, counters


def run(args) -> dict:
    from spans import SparkRest, Tracer

    tracer = Tracer(None, enabled=args.trace)
    with tracer.span("session.get_spark"):
        from global_stock_data_warehouse_spark.session import get_spark

        spark = get_spark("perfbench")
    tracer.spark = spark
    tracer.enabled = False
    spark.sparkContext.setLogLevel("ERROR")
    from workloads import WORKLOADS

    try:
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, WORK)
        wl.setup()
        if args.trace:
            rest = SparkRest(spark)
            jobs_before = max((j["jobId"] for j in rest.settled_jobs()), default=-1)
        setup_s = seconds_since_process_start()
        records: list = []
        times, cpu, jit, traced = run_loop(
            spark, wl, args.seconds, records, tracer if args.trace else None
        )
        peak_rss_mb, rss_each = tree_peak_rss_mb()
        if args.trace:
            extra, counters = layer_metrics(
                rest, jobs_before, wl, tracer, records, times, jit, traced
            )
            extra["process.peak_rss_mb"] = peak_rss_mb
        errors = wl.check()
        stored_mb = wl.stored_bytes() / 1e6
        shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        stop_spark(spark)
    for key, err in errors.items():
        print(f"check failed ({key}): {err}", file=sys.stderr)
    from checks import count_failed

    out = {
        "correct": not errors and all(ok for _, ok in records),
        "attempted": len(records),
        "failed": count_failed(records, errors),
    }
    if args.trace:
        from spans import COUNTERS

        metrics = {}
        for span in SPANS:
            for c, unit in COUNTERS.items():
                metrics[f"{span}.{c}"] = {"value": counters.get(span, {}).get(c, 0), "unit": unit}
        for name, unit in EXTRA_UNITS.items():
            metrics[name] = {"value": extra.get(name, 0), "unit": unit}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_cpu_s": {"value": statistics.fmean(cpu), "unit": "s"},
            "stored_mb": {"value": stored_mb, "unit": "MB"},
        }
    out["metrics"] = metrics
    if args.trace:
        out["spans"] = [s.__dict__ for s in tracer.spans]
    out["env"] = {
        "shuffle_partitions": shuffle_partitions,
        "op_s": [round(t, 3) for t in times],
        "op_cpu_s": [round(c, 2) for c in cpu],
        "op_jit_s": [round(c, 2) for c in jit],
        "op_traced": traced,
        "setup_s": round(setup_s, 3),
        "peak_rss_mb_each": rss_each,
    }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_sync", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "global_stock_data_warehouse_spark"))
    ):
        print("perfbench: no engine source next to perfbench/; run from a checkout", file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    shutil.rmtree(WORK, ignore_errors=True)
    configure_environment()
    try:
        out = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    import pyspark

    env = out.pop("env")
    env.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "java": java_version(),
            "python": platform.python_version(),
            "load_avg_start": load_start,
            "load_avg_end": os.getloadavg(),
        }
    )
    if "spans" in out:
        print(json.dumps({"spans": out.pop("spans")}))
    print(json.dumps({"env": env}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
