"""Streaming incremental gold refresh: micro-batches land in the bars
store and splice-refresh gold/verdicts; end state must equal a batch
rebuild over all bars."""

from __future__ import annotations

import datetime as dt

from global_stock_data_warehouse_spark.plans.wmy import wmy_pipeline
from global_stock_data_warehouse_spark.streaming.pipeline import (
    incremental_gold_sink,
    read_bar_stream,
)

SCHEMA = (
    "symbol string, date date, open double, high double, low double, "
    "close double, volume long"
)


def _bars(symbol, start, n, px0):
    out = []
    d = start
    px = px0
    i = 0
    while i < n:
        if d.weekday() < 5:
            px += 1.0
            out.append((symbol, d, px - 0.5, px + 1.0, px - 1.0, px, 1000))
            i += 1
        d += dt.timedelta(days=1)
    return out


def _run_pass(spark, src, paths):
    stream = read_bar_stream(spark, src, SCHEMA)
    q = incremental_gold_sink(stream, *paths).start()
    q.awaitTermination(180)


def test_corpus_clean_stream_gates_and_dedups(spark, tmp_path):
    """Streaming corpus front door: low-quality docs dropped, exact
    content duplicates (same fingerprint) collapsed within the watermark."""
    import datetime as dt

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        corpus_clean_stream,
        read_bar_stream,
    )

    schema = "ingest_ts timestamp, doc_id long, text string"
    t = dt.datetime(2024, 1, 1, 12, 0)
    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (t, 1, good),
        (t + dt.timedelta(minutes=1), 2, good),  # exact content dup of 1
        (t + dt.timedelta(minutes=2), 3, "!!! ??? ### $$$ %%%"),  # junk quality
        (t + dt.timedelta(minutes=3), 4, "a completely different clean sentence with many common words"),
    ]
    src, out, ckpt = (str(tmp_path / p) for p in ("src", "out", "ckpt"))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = read_bar_stream(spark, src, schema)
    q = (
        corpus_clean_stream(stream, min_quality=0.5)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    ids = sorted(r.doc_id for r in got)
    assert len(ids) == 2
    assert ids[0] in (1, 2) and ids[1] == 4  # one of the dup pair + the clean doc
    assert all(r.quality >= 0.5 for r in got)


def test_streaming_incremental_matches_batch_rebuild(spark, tmp_path):
    src = str(tmp_path / "src")
    paths = tuple(
        str(tmp_path / p) for p in ("bars", "gold", "verdicts", "ckpt")
    )
    base = _bars("AAA.TW", dt.date(2024, 1, 2), 30, 100.0) + _bars(
        "BBB.TW", dt.date(2024, 1, 2), 30, 50.0
    )
    spark.createDataFrame(base, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run_pass(spark, src, paths)  # batch 1: bootstrap full build

    gold1 = spark.read.parquet(paths[1])
    assert {r.stock_id for r in gold1.select("stock_id").distinct().collect()} == {
        "AAA.TW",
        "BBB.TW",
    }

    # batch 2: fresh March bars for AAA only -> BBB rows spliced through
    delta = _bars("AAA.TW", dt.date(2024, 3, 1), 5, 140.0)
    spark.createDataFrame(delta, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run_pass(spark, src, paths)

    bars_all = spark.read.parquet(paths[0])
    assert bars_all.count() == len(base) + len(delta)

    expect_gold, expect_verd = wmy_pipeline(spark.createDataFrame(base + delta, SCHEMA))

    def norm(df):
        return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))

    assert norm(spark.read.parquet(paths[1])) == norm(expect_gold)
    assert norm(spark.read.parquet(paths[2])) == norm(expect_verd)


def test_neardup_gate_sink_cross_batch(spark, tmp_path):
    """Streaming near-dup gate: batch 2's fuzzy duplicate of a batch-1
    survivor is rejected via the parquet ledger; novel docs admitted;
    in-batch near-dups reduced to the min-id winner."""
    from global_stock_data_warehouse_spark.streaming.pipeline import (
        neardup_gate_sink,
        read_bar_stream,
    )

    def text(seed, n=30, mutate=0):
        words = [f"w{seed}_{i}" for i in range(n)]
        for j in range(mutate):
            words[j] = f"mut{seed}_{j}"
        return " ".join(words)

    schema = "doc_id long, text string"
    src, out, ledger, ckpt = (
        str(tmp_path / p) for p in ("src", "out", "ledger", "ckpt")
    )
    # file 1 = micro-batch 1: two novel docs + an in-batch near-dup pair
    spark.createDataFrame(
        [(1, text(10)), (2, text(20)), (3, text(10, mutate=2))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
    q = neardup_gate_sink(stream, ledger, out, ckpt, threshold=0.5).start()
    q.awaitTermination(180)
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == [1, 2]  # 3 is a near-dup of 1 within the batch

    # file 2 = micro-batch 2: near-dup of admitted doc 1, plus a novel doc
    spark.createDataFrame(
        [(11, text(10, mutate=1)), (12, text(99))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = neardup_gate_sink(stream, ledger, out, ckpt, threshold=0.5).start()
    q.awaitTermination(180)
    final = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert final == [1, 2, 12]  # 11 rejected via the LEDGER, 12 admitted
    # ledger holds banded rows for every admitted doc
    led = spark.read.parquet(ledger)
    assert sorted({r.id for r in led.collect()}) == [1, 2, 12]


def test_neardup_gate_sink_unreadable_ledger_raises(spark, tmp_path):
    """A ledger that exists but cannot be read fails the micro-batch: it
    must not pass for a first batch and re-admit a near-duplicate."""
    import os

    import pytest

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        neardup_gate_sink,
        read_bar_stream,
    )

    def text(seed, n=30, mutate=0):
        words = [f"w{seed}_{i}" for i in range(n)]
        for j in range(mutate):
            words[j] = f"mut{seed}_{j}"
        return " ".join(words)

    schema = "doc_id long, text string"
    src, out, ledger, ckpt = (
        str(tmp_path / p) for p in ("src", "out", "ledger", "ckpt")
    )

    def run():
        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = neardup_gate_sink(stream, ledger, out, ckpt, threshold=0.5).start()
        try:
            q.awaitTermination(180)
        finally:
            q.stop()

    spark.createDataFrame(
        [(1, text(10)), (2, text(20))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    # lists first, so schema inference and every scan hit it
    with open(os.path.join(ledger, "_batch_id=0", "aaa-corrupt.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    spark.createDataFrame(
        [(11, text(10, mutate=1)), (12, text(99))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="aaa-corrupt.parquet"):
        run()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]


def test_neardup_gate_sink_ledger_without_data_files(spark, tmp_path):
    """A first batch whose docs have no shingles leaves a ledger with no
    data file; the next batch reads it as empty instead of failing to
    infer its schema."""
    from global_stock_data_warehouse_spark.streaming.pipeline import (
        neardup_gate_sink,
        read_bar_stream,
    )

    schema = "doc_id long, text string"
    src, out, ledger, ckpt = (
        str(tmp_path / p) for p in ("src", "out", "ledger", "ckpt")
    )
    for doc in [(1, ""), (2, " ".join(f"w_{i}" for i in range(30)))]:
        spark.createDataFrame([doc], schema).coalesce(1).write.mode("append").parquet(src)
        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = neardup_gate_sink(stream, ledger, out, ckpt, threshold=0.5).start()
        q.awaitTermination(180)
        q.stop()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]


def test_neardup_gate_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: force a replay of the last committed
    micro-batch (delete its checkpoint commit marker) and assert neither
    out_path nor the ledger gains duplicate rows — the batch_id-keyed
    dynamic-partition-overwrite write makes recovery idempotent."""
    import os

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        neardup_gate_sink,
        read_bar_stream,
    )

    def text(seed, n=30):
        return " ".join(f"w{seed}_{i}" for i in range(n))

    schema = "doc_id long, text string"
    src, out, ledger, ckpt = (
        str(tmp_path / p) for p in ("src", "out", "ledger", "ckpt")
    )
    spark.createDataFrame(
        [(1, text(10)), (2, text(20))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    def run_to_completion():
        import time

        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = neardup_gate_sink(stream, ledger, out, ckpt, threshold=0.5).start()
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):  # drain async deregistration before a restart
            if not q.isActive:
                break
            time.sleep(0.1)

    run_to_completion()
    first_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    first_led = sorted(map(tuple, spark.read.parquet(ledger).collect()))
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]

    # simulate a crash after the writes but before the commit: removing
    # commits/0 makes the restarted query re-run micro-batch 0 verbatim
    commits = os.path.join(ckpt, "commits")
    markers = [f for f in os.listdir(commits) if not f.startswith(".")]
    assert markers, "expected at least one committed batch"
    last = sorted(markers)[-1]
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")  # local-FS checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)
    run_to_completion()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first_out
    assert sorted(map(tuple, spark.read.parquet(ledger).collect())) == first_led


def test_drift_monitor_sink_alerts_on_mean_shift(spark, tmp_path):
    """Batch 1 sets the baseline (no alert possible); batch 2 matches it
    (silent); batch 3's mean shifts 2x (alert with exact means); a small
    batch below min_batch_n never alerts."""
    import time

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        drift_monitor_sink,
        read_bar_stream,
    )

    schema = "doc_id long, source string, n_chars long"
    src, state, alerts, ckpt = (
        str(tmp_path / p) for p in ("src", "state", "alerts", "ckpt")
    )

    def run():
        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = drift_monitor_sink(
            stream, state, alerts, ckpt, rel_threshold=0.25, min_batch_n=20
        ).start()
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    land([(i, "a", 100) for i in range(30)])
    run()
    assert spark.read.parquet(state).count() >= 1
    import glob
    import os

    assert not glob.glob(os.path.join(alerts, "**", "*.parquet"), recursive=True)

    land([(100 + i, "a", 100) for i in range(30)])  # same distribution
    run()
    assert not [r for r in _read_alerts(spark, alerts)]

    land([(200 + i, "a", 200) for i in range(30)])  # 2x mean shift
    run()
    hits = _read_alerts(spark, alerts)
    assert len(hits) == 1
    assert hits[0].source == "a" and hits[0].batch_mean == 200.0
    assert hits[0].trailing_mean == 100.0

    land([(300 + i, "a", 900) for i in range(5)])  # under min_batch_n
    run()
    assert len(_read_alerts(spark, alerts)) == 1  # unchanged


def test_drift_monitor_sink_replay_idempotent(spark, tmp_path):
    """At-least-once replay of the last micro-batch (commit marker deleted
    after the state partition landed) must reproduce the identical state
    AND alert rows: the baseline read filters _batch_id < batch_id, so the
    replayed batch never compares itself against a trailing mean polluted
    by its own first attempt (which would shift trailing_mean and rewrite
    the alert partition differently)."""
    import os
    import time

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        drift_monitor_sink,
        read_bar_stream,
    )

    schema = "doc_id long, source string, n_chars long"
    src, state, alerts, ckpt = (
        str(tmp_path / p) for p in ("src", "state", "alerts", "ckpt")
    )

    def run():
        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = drift_monitor_sink(
            stream, state, alerts, ckpt, rel_threshold=0.25, min_batch_n=20
        ).start()
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    land([(i, "a", 100) for i in range(30)])  # baseline: mean 100
    land([(100 + i, "a", 200) for i in range(30)])  # 2x shift → alert
    run()
    first_alerts = sorted(map(tuple, _read_alerts(spark, alerts)))
    first_state = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert len(first_alerts) == 1
    hit = _read_alerts(spark, alerts)[0]
    assert hit.trailing_mean == 100.0 and hit.batch_mean == 200.0

    # crash after the state write, before the checkpoint commit: the
    # restarted query re-runs the alerting micro-batch verbatim
    commits = os.path.join(ckpt, "commits")
    markers = [f for f in os.listdir(commits) if not f.startswith(".")]
    last = sorted(markers)[-1]
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert sorted(map(tuple, _read_alerts(spark, alerts))) == first_alerts
    assert (
        sorted(map(tuple, spark.read.parquet(state).collect())) == first_state
    )
    # the trailing mean in the surviving alert row is still the clean one
    hit = _read_alerts(spark, alerts)[0]
    assert hit.trailing_mean == 100.0


def test_drift_monitor_sink_degenerate_batches(spark, tmp_path):
    """Edges around an empty baseline: a batch whose rows are ALL
    NULL-group/NULL-value (cur empty -> no state contribution, no alert,
    no crash), a zero-mean baseline group (|0 - 0| alerts nothing;
    a real move off a zero baseline does alert), and the
    baseline-unaffected batch after the degenerate one."""
    import time

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        drift_monitor_sink,
        read_bar_stream,
    )

    schema = "doc_id long, source string, n_chars long"
    src, state, alerts, ckpt = (
        str(tmp_path / p) for p in ("src", "state", "alerts", "ckpt")
    )

    def run():
        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = drift_monitor_sink(
            stream, state, alerts, ckpt, rel_threshold=0.25, min_batch_n=20
        ).start()
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    land([(i, "z", 0) for i in range(30)])  # zero-mean baseline
    land([(100 + i, None, None) for i in range(30)])  # fully degenerate
    land([(200 + i, "z", 0) for i in range(30)])  # still zero: silent
    run()
    assert len(_read_alerts(spark, alerts)) == 0
    # state carries only the two real contributions (batches 1 and 3)
    from pyspark.sql import functions as F

    st = spark.read.parquet(state)
    assert st.filter(F.col("grp").isNull()).count() == 0
    assert st.count() == 2

    land([(300 + i, "z", 7) for i in range(30)])  # off-zero move: alert
    run()
    hits = _read_alerts(spark, alerts)
    assert len(hits) == 1
    assert hits[0].trailing_mean == 0.0 and hits[0].batch_mean == 7.0


def test_drift_monitor_sink_all_null_first_batch(spark, tmp_path):
    """VERDICT r8 item 4 edge: when the FIRST batch is fully degenerate
    (all NULL group/value), the ledger dir is created with ZERO data
    files — the r9 explicit-schema read must treat it as an empty
    baseline (schema INFERENCE would throw; the old bare except masked
    that as 'no baseline', hiding real IO errors). Batch 2 then lands
    the first real contribution without alerting, and batch 3's shift
    alerts against it."""
    import time

    from global_stock_data_warehouse_spark.streaming.pipeline import (
        drift_monitor_sink,
        read_bar_stream,
    )

    schema = "doc_id long, source string, n_chars long"
    src, state, alerts, ckpt = (
        str(tmp_path / p) for p in ("src", "state", "alerts", "ckpt")
    )

    def run():
        stream = read_bar_stream(spark, src, schema, max_files_per_trigger=1)
        q = drift_monitor_sink(
            stream, state, alerts, ckpt, rel_threshold=0.25, min_batch_n=20
        ).start()
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    land([(i, None, None) for i in range(30)])  # batch 0: fully NULL
    run()
    assert len(_read_alerts(spark, alerts)) == 0

    land([(100 + i, "a", 100) for i in range(30)])  # first real baseline
    run()
    assert len(_read_alerts(spark, alerts)) == 0
    from pyspark.sql import functions as F

    st = spark.read.parquet(state)
    assert st.filter(F.col("grp").isNull()).count() == 0
    assert st.count() == 1

    land([(200 + i, "a", 200) for i in range(30)])  # 2x shift: alert
    run()
    hits = _read_alerts(spark, alerts)
    assert len(hits) == 1
    assert hits[0].batch_mean == 200.0 and hits[0].trailing_mean == 100.0


def _read_alerts(spark, path):
    try:
        return spark.read.parquet(path).collect()
    except Exception:
        return []
