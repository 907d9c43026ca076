"""Skew-resilient join: explicit key salting.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but it only splits SORT-MERGE join partitions; a pathologically
hot key inside a shuffled hash join, or a deliberate pre-partitioned
layout, still needs classic salting. The pattern:

    left (skewed):  salt = pmod(hash(<all left cols>), factor)  — spreads
                    each hot key's rows over `factor` subpartitions
    right:          exploded `factor` times, one copy per salt value
    join on        (key, salt) — hot keys now occupy `factor` tasks

Deterministic salting (hash of the row, not rand()) keeps retries and
speculative tasks consistent — rand() salting breaks exactly-once task
retry semantics because a re-executed task would re-salt differently.

Cost model: right side is replicated `factor` x — use for fact x mid-size
joins where the right side is too big to broadcast but cheap to replicate
relative to the skewed shuffle it removes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left side's hot keys spread over ``factor``
    salt partitions and the right side replicated to match.

    The salt must differ WITHIN a hot key's rows — hashing non-key columns
    does that; when the left side has only key columns, hashing the keys
    would give every row of a hot key the SAME salt (no spreading, pure
    replication overhead), so we fall back to a per-partition row index
    (deterministic given a fixed input partitioning: task retries re-read
    the same partition in the same order, unlike rand() salting).
    """
    keys = [on] if isinstance(on, str) else list(on)
    non_key = [c for c in left.columns if c not in keys]
    if non_key:
        salt = F.pmod(F.hash(*[F.col(c) for c in non_key]), F.lit(factor))
    else:
        salt = F.pmod(F.spark_partition_id() * 104729 + F.monotonically_increasing_id(), F.lit(factor))
    salted_l = left.withColumn("_salt", salt)
    salted_r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    return salted_l.join(salted_r, [*keys, "_salt"], how).drop("_salt")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    specs: Sequence[tuple[str, str, str]],
    factor: int = 16,
) -> DataFrame:
    """Two-phase aggregation for LOW-CARDINALITY / hot group keys:
    ``specs`` is (column, fn, alias) with fn in {sum, count, min, max}
    (the algebraic aggregates whose partials merge losslessly).

    A plain ``groupBy(hot_key)`` funnels each hot key's entire partial
    stream through ONE reducer; here phase 1 groups by (key, salt) —
    ``factor``x more reducers absorb the map-side partials — and phase 2
    merges ``factor`` rows per key (sum of sums / sum of counts / min of
    mins / max of maxes), which is trivially tiny. Results are identical
    to the unsalted aggregate (oracle-checked); only the exchange
    topology changes.
    """
    salt = F.pmod(F.spark_partition_id(), F.lit(factor))
    salted = df.withColumn("_salt", salt)
    phase1 = []
    merge = []
    for col, fn, alias in specs:
        p = f"_p_{alias}"
        if fn == "sum":
            phase1.append(F.sum(col).alias(p))
            merge.append(F.sum(p).alias(alias))
        elif fn == "count":
            phase1.append(F.count(col).alias(p))
            merge.append(F.sum(p).alias(alias))
        elif fn == "min":
            phase1.append(F.min(col).alias(p))
            merge.append(F.min(p).alias(alias))
        elif fn == "max":
            phase1.append(F.max(col).alias(p))
            merge.append(F.max(p).alias(alias))
        else:
            raise ValueError(f"salted_agg: non-algebraic fn {fn!r}")
    part = salted.groupBy(*keys, "_salt").agg(*phase1)
    return part.groupBy(*keys).agg(*merge)


def fan_scan(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Parallelism floor for CPU-heavy per-row chains (tokenize, regex,
    codecs, distance functions): when the upstream plan yields FEWER
    partitions than the session's parallelism — a single small parquet
    file, a one-row-group input, a coalesced intermediate — fan it out to
    ``defaultParallelism * multiplier`` with a round-robin exchange so the
    chain runs on every core instead of one.

    At scale this is a structural NO-OP: a 100 TB scan arrives in
    thousands of splits (>= cores) and the input df is returned untouched,
    so no query pays an extra exchange where the scan already parallelizes.
    The guard is derived from the actual physical partitioning (guide §2:
    scale-adaptive partitioning, never a constant), which also makes the
    fan idempotent — a chain that already fanned upstream skips it.

    The input must be scan-side (no join, aggregate or repartition in its
    plan): ``rdd.getNumPartitions()`` finalizes the physical plan, and AQE
    runs every exchange stage already in it just to answer the guard.

    Round-robin (no key) gives perfectly balanced partitions; Spark's
    sort-before-repartition keeps task retries deterministic. Only use
    ahead of ORDER-INSENSITIVE work (per-row maps, integer/min-max
    aggregates, keyed windows with total ordering): a float SUM whose
    partial-aggregation grouping changes is not bit-stable across
    partitionings.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * max(1, multiplier)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def fan_keyed(df: DataFrame, *cols: str) -> DataFrame:
    """Keyed sibling of :func:`fan_scan` for CPU-heavy KEYED chains
    (groupBy -> in-array pair expansion, agg -> window on the same key):
    when the upstream scan yields fewer partitions than the session's
    parallelism, hash-repartition on ``cols`` with an EXPLICIT pinned
    partition count.

    Why pinned: AQE's byte-based coalescing sizes post-shuffle partitions
    by bytes, so a tiny-bytes/compute-dense aggregate collapses to 1-3
    tasks of 32 (guide §2.5 — exactly the shape byte-based coalescing
    mis-sizes); an explicit count is exempt from coalescing, and every
    downstream operator clustered on a PREFIX of ``cols`` (the same-key
    aggregate, a window partitioned by it, a join on it) reuses the one
    exchange instead of adding its own.

    At scale this is a structural NO-OP (same guard as fan_scan: the
    guard reads the actual physical partitioning of the scan-side input,
    so a 100 TB scan arriving in >= cores splits returns the input
    untouched and the downstream aggregate plans its normal AQE-managed
    exchange). As for fan_scan, the input must be scan-side, or AQE runs
    the exchange stages already in its plan to answer the guard. Only use
    where the keyed work is order-insensitive (integer/fixed-point
    aggregates, sorted collect_set, keyed windows with total ordering) —
    the partial-aggregation step the explicit repartition bypasses also
    changes float-sum grouping.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols)
