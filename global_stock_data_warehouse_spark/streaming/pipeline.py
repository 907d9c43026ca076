"""Structured Streaming formalization of the reference's batch idioms.

SURVEY.md §2.9 mapping:
- incremental-sync gate (MAX(date) < today, main.py:101-112) ->
  ``Trigger.AvailableNow`` file-source ingest: exactly-once offsets replace
  the hand-rolled freshness check;
- tumbling calendar buckets (downloader_wmy.py:44-51) -> windowed agg with
  watermark for late data;
- PK upsert on re-download (downloader_tw.py:118-120) -> ``foreachBatch``
  + keyed last-writer-wins upsert (idempotent sink).

All stateful processing keys on the entity id, so state-store partitioning
matches the batch pipeline's shuffle key; watermark bounds state size at
100 TB stream scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from global_stock_data_warehouse_spark.operators.upsert import upsert_keyed
from global_stock_data_warehouse_spark.sources.registry import read_parquet
from global_stock_data_warehouse_spark.storage.compact import replace_table, table_exists


def read_bar_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory (explicit schema —
    streaming sources never infer)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def windowed_ohlc(
    stream: DataFrame,
    window: str = "7 days",
    watermark: str = "14 days",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("symbol",),
    value_col: str = "close",
) -> DataFrame:
    """Tumbling-window OHLC aggregate with late-data watermark.

    The watermark mirrors the reference's 14-day gap tolerance: bars later
    than that are dropped rather than reopening closed buckets.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.window(ts_col, window).alias("win"))
        .agg(
            F.min_by(F.col(value_col), F.col(ts_col)).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), F.col(ts_col)).alias("close"),
            F.count(F.lit(1)).alias("n_bars"),
        )
        .select(
            *key_cols,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "open",
            "high",
            "low",
            "close",
            "n_bars",
        )
    )


def sessionized_activity(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("symbol",),
    value_col: str = "close",
) -> DataFrame:
    """Dynamic-gap session windows (``F.session_window``): a session closes
    after ``gap`` of inactivity per key. Spark merges overlapping window
    state natively; the watermark both admits bounded lateness and lets
    closed sessions leave the state store — the state-size guarantee that
    matters on an unbounded stream."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            *key_cols,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def upsert_sink(
    stream: DataFrame,
    path: str,
    key_cols: Sequence[str],
    checkpoint: str,
    available_now: bool = True,
) -> DataStreamWriter:
    """foreachBatch keyed-upsert sink: each micro-batch is window-deduped
    into the target by ``upsert_keyed``, which replaces the stored table
    through one staged write and atomic flip — idempotent under replay,
    the streaming equivalent of INSERT OR REPLACE."""

    def do_upsert(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_keyed(batch.sparkSession, batch, path, key_cols)

    writer = stream.writeStream.foreachBatch(do_upsert).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def incremental_gold_sink(
    stream: DataFrame,
    bars_path: str,
    gold_path: str,
    verdicts_path: str,
    checkpoint: str,
    key_cols: Sequence[str] = ("symbol", "date"),
    available_now: bool = True,
    **wmy_kwargs,
) -> DataStreamWriter:
    """Streaming end of the incremental refresh: each micro-batch of new
    bars (1) lands idempotently into the bars store via keyed upsert, then
    (2) refreshes gold + verdicts for ONLY the touched symbols
    (`plans.wmy.incremental_wmy` splice — work scales with the batch, not
    the table). First batch bootstraps with a full pipeline build.

    Gold and verdicts are replaced through ``storage.compact.replace_table``,
    like the bars store: the refresh READS the previous gold from the path
    it replaces, and the staged write finishes that read before the
    path's symlink is flipped, so readers always resolve a complete
    table. Replay-safe: re-running a batch upserts the same bars and
    recomputes the same symbols.
    """
    from global_stock_data_warehouse_spark.plans.wmy import incremental_wmy, wmy_pipeline

    def refresh(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        bars = upsert_keyed(spark, batch, bars_path, list(key_cols))
        if table_exists(spark, gold_path) and table_exists(spark, verdicts_path):
            gold, verdicts = incremental_wmy(
                bars,
                batch,
                read_parquet(spark, gold_path),
                read_parquet(spark, verdicts_path),
                **wmy_kwargs,
            )
        else:
            gold, verdicts = wmy_pipeline(bars, **wmy_kwargs)
        replace_table(spark, gold, gold_path)
        replace_table(spark, verdicts, verdicts_path)

    writer = stream.writeStream.foreachBatch(refresh).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def dedup_stream(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key in the state store only
    until the watermark passes it, so state is O(keys per watermark
    horizon), not O(all keys ever) — the difference between a dedup that
    survives an unbounded stream and one that OOMs the state store. The
    streaming twin of A7's keyed dedup (INSERT OR REPLACE semantics,
    downloader_tw.py:118-120)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def corpus_clean_stream(
    stream: DataFrame,
    min_quality: float = 0.5,
    ts_col: str = "ingest_ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch corpus-clean query: score each arriving
    document with the (stateless, codegen'd) text battery, drop low
    quality, then exact-dedup on the content fingerprint with
    watermark-BOUNDED state — a continuously-ingesting training-data
    pipeline front door. Stateless score/filter stages add no state at
    all; the only state is the fingerprint dedup horizon.
    """
    from global_stock_data_warehouse_spark.operators.text import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )

    scored = stream.select(
        F.col(ts_col),
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )
    gated = scored.filter(F.col("quality") >= min_quality)
    return dedup_stream(gated, ["fingerprint"], ts_col=ts_col, watermark=watermark)


def enrich_stream_stream(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    within: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right events joined to left events with
    the SAME key whose timestamp lands in [left_ts, left_ts + within).

    Both sides carry a watermark and the join condition bounds the time
    skew, which is what lets Spark evict buffered rows from the join state
    store — an unbounded-condition stream-stream join buffers both streams
    forever. This is the streaming twin of ``range_join`` (same half-open
    interval semantics, state-store eviction instead of bucketization)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] < lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond).drop(rw[on])


def write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the ``_batch_id=batch_id`` partition of the ledger
    at ``path``, replacing that partition only: dynamic partition
    overwrite, a per-write option rather than session conf. A micro-batch
    that foreachBatch replays rewrites its own partition instead of
    appending a second copy."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def neardup_gate_sink(
    stream: DataFrame,
    ledger_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 2,
):
    """Streaming NEAR-dup front door: each micro-batch of documents is
    probed against the persisted MinHash-LSH ledger (and itself) with
    :func:`gsdw.operators.dedup.incremental_minhash_dedup`; survivors are
    appended to ``out_path`` and their banded signature rows to the
    ledger, so batch N+1 sees every doc batch N admitted. The fuzzy twin
    of :func:`corpus_clean_stream`'s exact-fingerprint dedup — state
    lives in the APPEND-ONLY parquet ledger, not the streaming state
    store, so a near-dup horizon is unbounded-corpus-sized without any
    watermark/state-memory trade (a signature row is a pure function of
    the doc's text, and the min-id keep policy makes the verdicts
    insensitive to re-read ledger rows).

    Replay safety: foreachBatch is at-least-once, so BOTH sinks write
    their micro-batch under a ``_batch_id=N`` partition with DYNAMIC
    partition overwrite (a per-write option, not session conf) — a
    replayed batch rewrites exactly its own partition instead of
    appending a second copy, making recovery idempotent for out_path
    AND the ledger regardless of where the previous attempt crashed.
    The ledger partition is written FIRST so a crash between the two
    writes can only leave admitted signatures without their documents
    (repaired by the replay's overwrite), never documents the ledger
    does not know about.

    At cluster scale, write the ledger bucketed by ``(band, bucket)``
    (`storage/bucketing.py`) so each micro-batch's store probe is a
    zero-shuffle-store join against yesterday's 100 TB."""
    from global_stock_data_warehouse_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_store,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        # Only a missing ledger starts empty; an unreadable one raises.
        # The ledger is read with its known schema: a batch whose docs
        # have no shingles writes a partition with no data file to infer
        # a schema from.
        store = minhash_store(batch.limit(0), text_col, id_col, num_hashes, bands, ngram)
        if table_exists(spark, ledger_path):
            store = spark.read.schema(store.schema).parquet(ledger_path)
        verdicts = incremental_minhash_dedup(
            batch,
            store,
            threshold=threshold,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            ngram=ngram,
        )
        kept = batch.join(
            verdicts.filter(F.col("keep")).select(id_col), id_col
        ).localCheckpoint(eager=True)
        write_batch_partition(
            minhash_store(kept, text_col, id_col, num_hashes, bands, ngram),
            ledger_path,
            batch_id,
        )
        write_batch_partition(kept, out_path, batch_id)

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def drift_alerts(
    cur: DataFrame,
    state: DataFrame,
    rel_threshold: float,
    min_batch_n: int,
    group_col: str,
) -> DataFrame:
    """The drift monitor's per-batch alert computation as a pure plan:
    ``cur`` is the batch's (grp, n, vsum) aggregate, ``state`` the
    trailing (grp, base_n, base_vsum) baseline. Two single-pass
    aggregates join on the (few-groups) key — linear in batch rows,
    measured by the scale harness independently of the sink's
    checkpoint/ledger plumbing (tools/scale_slope.py: drift_alerts)."""
    batch_mean = F.col("vsum").cast("double") / F.col("n")
    base_mean = F.col("base_vsum").cast("double") / F.col("base_n")

    def _fx6(col):
        # floor(x*1e6 + 0.5): 6dp round-half-up-toward-+inf on BOTH
        # engines (Spark round() is HALF_UP, DuckDB's double round is
        # banker's — floor(x + 0.5) is the one formulation they share
        # bit-for-bit; same idiom as timeseries._fx6 / decayed cents).
        return F.floor(col * 1e6 + F.lit(0.5)) / 1e6

    return (
        cur.join(state, "grp")
        .filter(F.col("n") >= min_batch_n)
        .withColumn("batch_mean", _fx6(batch_mean))
        .withColumn("trailing_mean", _fx6(base_mean))
        .filter(
            F.abs(batch_mean - base_mean) > rel_threshold * F.abs(base_mean)
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n").alias("batch_n"),
            "batch_mean",
            "trailing_mean",
        )
    )


def drift_monitor_sink(
    stream: DataFrame,
    state_path: str,
    alerts_path: str,
    checkpoint: str,
    group_col: str = "source",
    value_col: str = "n_chars",
    rel_threshold: float = 0.25,
    min_batch_n: int = 20,
):
    """Streaming distribution-drift monitor: each micro-batch's
    per-``group_col`` mean of ``value_col`` is compared against the
    group's TRAILING mean (exact integer sums accumulated in the
    ``state_path`` parquet ledger); a relative shift beyond
    ``rel_threshold`` on a batch of at least ``min_batch_n`` rows emits
    an alert row — the streaming front door of the batch drift family
    (:func:`~...operators.profile.ks_drift` / ``source_kl`` /
    ``source_chi2_drift`` audit a corpus at rest; this catches a feed
    going wrong WHILE it lands: a scraper truncating, boilerplate
    flooding, a source swap).

    Exactness + replay safety: state is (group, n, value_sum) BIGINT
    contributions — associative, order-independent — appended as
    ``_batch_id``-keyed partitions with dynamic partition overwrite
    (same recovery contract as :func:`neardup_gate_sink`: a replayed
    batch rewrites its own partition, never double-counts); alerts are
    written the same way. The baseline read filters
    ``_batch_id < batch_id`` so an at-least-once replay (crash after
    the state write, before the checkpoint commit) never compares the
    batch against a trailing mean polluted by its own first attempt —
    the recomputation is therefore deterministic and rewrites the
    identical alert partition. A group's first-ever batch has no
    baseline and never alerts. At cluster scale the ledger is a few rows per
    group per batch — compact it with `storage/compact.py` on a
    schedule."""

    def monitor(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        cur = (
            batch.filter(
                F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
            )
            .groupBy(F.col(group_col).alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(value_col).cast("long")).alias("vsum"),
            )
            .localCheckpoint(eager=True)
        )
        # Probe state_path existence explicitly instead of a bare
        # try/except around the read: a genuine FS/auth/corruption error
        # must PROPAGATE, not masquerade as "no baseline yet" (the same
        # silent-empty failure class the blob_manifest fix closed —
        # here it would suppress every alert of the run).
        if table_exists(spark, state_path):
            # Explicit schema (cur's columns + the _batch_id partition
            # key): an all-NULL batch leaves the ledger dir existing
            # with zero data files, and schema INFERENCE would throw on
            # it — with the schema supplied the read legally returns
            # empty, while genuine IO errors still propagate.
            from pyspark.sql.types import LongType, StructField, StructType

            ledger_schema = StructType(
                list(cur.schema.fields)
                + [StructField("_batch_id", LongType())]
            )
            # _batch_id < batch_id: a replayed batch must not see the
            # state partition its own failed first attempt wrote, or the
            # trailing mean is self-polluted and the recomputed alert
            # set diverges from the original (stale-alert hazard under
            # dynamic overwrite when the recomputation comes up empty).
            state = (
                spark.read.schema(ledger_schema).parquet(state_path)
                .filter(F.col("_batch_id") < F.lit(batch_id))
                .groupBy("grp")
                .agg(
                    F.sum("n").alias("base_n"),
                    F.sum("vsum").alias("base_vsum"),
                )
            )
        else:
            state = None
        if state is not None:
            write_batch_partition(
                drift_alerts(
                    cur, state, rel_threshold, min_batch_n, group_col
                ),
                alerts_path,
                batch_id,
            )
        write_batch_partition(cur, state_path, batch_id)

    return (
        stream.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def breadth_sink(
    ohlc_stream: DataFrame,
    breadth_path: str,
    checkpoint: str,
):
    """Streaming market-breadth ledger over the windowed-OHLC stream:
    the streaming twin of the batch ``pricing.index_daily_return``.

    Each micro-batch's finalized OHLC windows become per-window
    CONTRIBUTION rows — member/advancer/decliner counts plus the
    fixed-point weighted-return numerator and the weight denominator
    (``sum(w_d * ret_fx)`` / ``sum(w_d)`` as exact BIGINTs; weight =
    whole-dollar open floored at 1, return = 1e-6 fixed-point
    close/open - 1, the same exactness contract as the batch operator).
    Contributions, not finished means, so the ledger is ASSOCIATIVE:
    :func:`read_breadth` folds any partition subset with plain sums and
    the division happens exactly once at read time.

    Replay safety: rows land as ``_batch_id``-keyed partitions with
    dynamic partition overwrite — the same recovery contract as
    :func:`neardup_gate_sink` / :func:`drift_monitor_sink` (an
    at-least-once replay rewrites its own partition, never
    double-counts a window).
    """

    def compute(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        ret_fx = F.when(
            F.col("open") > 0,
            F.floor((F.col("close") / F.col("open") - 1.0) * 1e6 + F.lit(0.5)).cast(
                "bigint"
            ),
        )
        w_d = F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.col("open") + F.lit(0.5)).cast("bigint"),
        )
        legs = (
            batch.withColumn("_ret_fx", ret_fx)
            .withColumn("_w_d", w_d)
            .filter(F.col("_ret_fx").isNotNull())
        )
        contributions = legs.groupBy("window_start", "window_end").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum((F.col("_ret_fx") > 0).cast("int")).alias("n_advancers"),
            F.sum((F.col("_ret_fx") < 0).cast("int")).alias("n_decliners"),
            F.sum(F.col("_w_d") * F.col("_ret_fx")).alias("wret_sum_fx"),
            F.sum("_w_d").alias("w_sum"),
        )
        write_batch_partition(contributions, breadth_path, batch_id)

    return (
        ohlc_stream.writeStream.foreachBatch(compute)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def read_breadth(spark, breadth_path: str) -> DataFrame:
    """Fold the breadth ledger to one row per window: plain BIGINT sums
    over the per-batch contributions (associative — replayed or
    compacted partitions fold identically), ONE division for the
    weighted mean return, the engine-shared floor rounding."""
    raw = read_parquet(spark, breadth_path)
    return (
        raw.groupBy("window_start", "window_end")
        .agg(
            F.sum("n_members").alias("n_members"),
            F.sum("n_advancers").alias("n_advancers"),
            F.sum("n_decliners").alias("n_decliners"),
            F.sum("wret_sum_fx").alias("_num"),
            F.sum("w_sum").alias("_den"),
        )
        .withColumn(
            "index_return",
            F.floor(F.col("_num") / F.col("_den") / 1e6 * 1e6 + F.lit(0.5)) / 1e6,
        )
        .drop("_num", "_den")
    )


def stale_feed_sink(
    stream: DataFrame,
    state_path: str,
    alerts_path: str,
    checkpoint: str,
    key_col: str = "symbol",
    value_col: str = "close",
    grid: float = 1.0,
    min_flat_batches: int = 3,
    max_absent_batches: int = 30,
):
    """Streaming stale-feed monitor: the live twin of the batch
    ``pricing.stale_price_runs`` audit. A symbol whose tick-grid-
    quantized price never moves for ``min_flat_batches`` CONSECUTIVE
    micro-batches is a halted listing or a dead vendor feed — the
    thing you want paged on WHILE it lands, not found in next week's
    batch audit.

    Per batch, per symbol: the quantized lo/hi of the batch's values
    (lo == hi = a flat batch). The streak state (symbol, qv, streak)
    rides the same ``_batch_id``-partitioned dynamic-overwrite ledger
    as :func:`drift_monitor_sink`, with the identical replay contract:
    the baseline read filters ``_batch_id < batch_id`` so an
    at-least-once replay recomputes the same streak and rewrites the
    same partition — never double-counts. Streak update is pure
    integer logic: flat batch continuing the previous qv increments,
    a flat batch at a NEW level restarts at 1, any moving batch
    resets to 0, and a symbol ABSENT from the batch entirely (the
    fully-dead-feed case) is treated as a flat batch continuing its
    last qv — a vendor that stops sending still crosses
    min_flat_batches and pages. Alerts (streak >= min_flat_batches)
    are written the same way.

    Absence is BOUNDED (r10 ADVICE: without a cap, every symbol ever
    seen writes a state row — and once stale, an alert row — in every
    batch forever, so ledger cardinality becomes n_batches x all-time
    symbol universe and permanently-delisted symbols page
    indefinitely). The state row carries an ``absent`` counter (0 when
    the symbol appears in the batch, +1 per consecutive absent batch);
    once a symbol's latest state shows ``absent >= max_absent_batches``
    its state EXPIRES: no further state or alert rows are written, and
    if the symbol later reappears it starts fresh (streak from 1/0,
    absent 0) rather than resuming the pre-expiry level. A dead symbol
    therefore writes exactly ``max_absent_batches`` trailing rows and
    then goes silent — ledger growth and alert noise are both bounded.
    Expiry is a pure function of the prior ledger + the batch, so the
    replay contract is unchanged. Ledgers written before this column
    existed read as ``absent = 0`` (parquet missing-column null,
    coalesced).

    State is one row per LIVE symbol per batch — group-bounded,
    compactable with `storage/compact.py` like the drift ledger.
    """

    def monitor(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        q = F.floor(F.col(value_col) / F.lit(grid) + F.lit(0.5)).cast("bigint")
        cur = (
            batch.filter(
                F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
            )
            .select(F.col(key_col).alias("sym"), q.alias("_q"))
            .groupBy("sym")
            .agg(
                F.min("_q").alias("q_lo"),
                F.max("_q").alias("q_hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .localCheckpoint(eager=True)
        )
        prev = None
        if table_exists(spark, state_path):
            from pyspark.sql.types import LongType, StructField, StructType

            ledger_schema = StructType(
                [
                    StructField("sym", batch.schema[key_col].dataType),
                    StructField("qv", LongType()),
                    StructField("streak", LongType()),
                    StructField("absent", LongType()),
                    StructField("_batch_id", LongType()),
                ]
            )
            hist = spark.read.schema(ledger_schema).parquet(state_path).filter(
                F.col("_batch_id") < F.lit(batch_id)
            )
            # latest state per symbol = the row from the max prior batch
            prev = hist.groupBy("sym").agg(
                F.max_by("qv", "_batch_id").alias("prev_qv"),
                F.max_by("streak", "_batch_id").alias("prev_streak"),
                F.max_by("absent", "_batch_id").alias("prev_absent"),
            )
        if prev is not None:
            # FULL outer: a symbol absent from the batch (q_lo IS NULL)
            # is a dead feed continuing its last level — streak += 1.
            joined = cur.join(prev, "sym", "full_outer")
        else:
            joined = (
                cur.withColumn("prev_qv", F.lit(None).cast("long"))
                .withColumn("prev_streak", F.lit(None).cast("long"))
                .withColumn("prev_absent", F.lit(None).cast("long"))
            )
        # Expiry: a prior state whose absence counter already reached the
        # cap is FORGOTTEN — nullify it before the streak logic so a
        # reappearing symbol starts fresh and an absent one writes nothing.
        expired = F.coalesce(F.col("prev_absent"), F.lit(0)) >= F.lit(
            max_absent_batches
        )
        prev_qv = F.when(~expired, F.col("prev_qv"))
        prev_streak = F.when(~expired, F.col("prev_streak"))
        absent = F.col("q_lo").isNull()
        flat = F.col("q_lo") == F.col("q_hi")
        streak = (
            F.when(absent, F.coalesce(prev_streak, F.lit(0)) + 1)
            .when(
                flat & (prev_qv == F.col("q_lo")),
                F.coalesce(prev_streak, F.lit(0)) + 1,
            )
            .when(flat, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        absent_ctr = (
            F.when(absent, F.coalesce(F.when(~expired, F.col("prev_absent")), F.lit(0)) + 1)
            .otherwise(F.lit(0))
            .cast("long")
        )
        state = joined.filter(~(absent & expired)).select(
            "sym",
            F.coalesce(F.col("q_lo"), prev_qv).alias("qv"),
            streak.alias("streak"),
            absent_ctr.alias("absent"),
        )
        # Break lineage BEFORE overwriting state_path: `state` still reads
        # state_path through `prev`, and a lost-task recompute mid-commit
        # would otherwise re-scan a directory being mutated (same
        # precedent as drift_monitor_sink's pre-overwrite checkpoint).
        state = state.localCheckpoint(eager=True)
        write_batch_partition(
            state.filter(F.col("streak") >= min_flat_batches).select(
                "sym", "qv", "streak"
            ),
            alerts_path,
            batch_id,
        )
        write_batch_partition(state, state_path, batch_id)

    return (
        stream.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
