"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[N] while keeping every knob meaningful on a
1000-executor cluster: AQE on (runtime coalesce + skew-join splitting),
Arrow for any pandas-UDF exchange, broadcast threshold left at default so
dim tables (region/nation/customer-sized) broadcast automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions: on a real cluster this should be ~2-3x total cores or
# governed by AQE target size; locally 32 keeps task overhead sane. AQE
# coalesces down when partitions are small, so erring high is safe at scale.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# Generated-code cache (Spark's default: 100 classes, evicted least recently
# used). A working set that cycles through more classes than the cache holds
# misses on every lookup, so Janino and then the JIT recompile the same
# classes on every repeat. Measured with the perfbench workloads on a 4-core
# host, Janino compiles per op at each size:
#
#   cache size           100    200    400    1000
#   daily_sync (a day)   140      4      4       4
#   query_mix (a query)   21      0      0       0
#
# A daily_sync day cycles through about 144 classes and a pass over the
# query sample through about 150. The 4 a day left are two stages compiled
# twice each that inline a run-time timestamp as a literal: the upsert's
# ingest time and the W/M/Y audit record's execution time. 200 is the
# smallest size that stops the repeats; 400 holds both working sets at once.
_CODEGEN_CACHE_MAX_ENTRIES = 400


def get_spark(app_name: str = "gsdw-spark", master: str | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession.

    All settings are cluster-portable: nothing here assumes local mode
    except the master fallback.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — the core 100TB safety nets.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas interchange (similarity / multimodal UDF paths).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter semi-join reduction: a selective dim-side
        # predicate plants a bloom filter on the fact side's join key, so
        # most fact rows drop at the SCAN instead of riding the shuffle —
        # at 100 TB this is the difference between shuffling a table and
        # shuffling a filter's survivors.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Keep completed-stage metrics around for the full bench sweep:
        # bench.py diffs shuffle-write bytes via the REST stage listing,
        # and the default retention (1000 stages) can start evicting
        # mid-sweep on a 140-query run, silently corrupting the diffs.
        .config("spark.ui.retainedStages", "20000")
        # Timestamps in the data are naive; keep session TZ stable so
        # date_trunc/window bucketing is deterministic across environments.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) columns are refused unless read as raw
        # longs; sources.registry.load_table converts them to timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ANSI off: the reference's semantics are permissive (nulls flow
        # through); ANSI-on would raise on e.g. bad casts the pipeline gates.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_MAX_ENTRIES))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")
    return builder.getOrCreate()
