"""SparkSession factory with scale-appropriate defaults.

The reference pins ``spark.sql.shuffle.partitions=200`` and
``maxPartitionBytes=128MB`` for a ~5 GB input on 10 workers
(reference: jobs/etl/glue_spark_trades_etl.py:52-53). We instead enable
AQE so shuffle parallelism adapts to actual data volume — the right
posture from 60 kB test data up to 100 TB production — and only seed the
initial partition count from the environment.

Spark keeps the classes it compiles from generated code (whole-stage
stages, projections, orderings) in one JVM-wide cache of
``spark.sql.codegen.cache.maxEntries`` entries, a static conf fixed when
the first plan compiles. Spark's default of 100 is far below this
engine's working set: ``llm_ivfpq_topk`` alone compiles about 130 classes
per run, and a pass over the registry about 4,200. At 100 a warm query
finds its classes evicted and compiles them again, in Janino and then in
the JIT. :data:`CODEGEN_CACHE_ENTRIES` holds the registry's working set,
so warm queries reuse their classes; plans and results do not change.
The driver's bare session (``SPARK_GRAFT_VANILLA=1 tools/check.py``, or
any session handed to ``__spark_entry__``) keeps Spark's 100, which
changes only what compiling costs it. The setting cannot be applied at
runtime, so it is not part of :data:`RUNTIME_CONF`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session this engine builds. All of these are
#: also safe to apply to an externally-provided session at runtime.
RUNTIME_CONF = {
    # Deterministic timestamp semantics (and parity with the DuckDB oracle,
    # which uses naive/UTC timestamps).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle coalescing, skew-join splitting,
    # and dynamic join-strategy demotion to broadcast.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (extensions only; the parity surface is
    # UDF-free).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Matches the reference's storage posture (Snappy Parquet,
    # sql/athena_create_trades_tales.sql:25).
    "spark.sql.parquet.compression.codec": "snappy",
    # Dynamic partition overwrite: re-running the ETL for one (y,m,d,symbol)
    # slice must not truncate sibling partitions at 100 TB scale.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # The driver testdata writes events.ts as INT64 TIMESTAMP(NANOS), which
    # Spark's Parquet reader otherwise rejects (PARQUET_TYPE_ILLEGAL). With
    # this flag nanos columns arrive as LongType nanoseconds; tables.load
    # converts back to TimestampType losslessly (integer div to micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) testdata columns (events.ts,
    # orders.o_orderdate, lineitem.l_shipdate in some rounds) read as plain
    # TimestampType instead of TIMESTAMP_NTZ: with the session tz pinned to
    # UTC the wall-clock is identical, literal comparisons resolve without
    # casts, and — unlike a cast-projection in tables.load — parquet filter
    # pushdown on those columns keeps working (verified: PushedFilters
    # carries the o_orderdate range under this flag, not under a cast).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as INT64 micros, not the legacy INT96: INT96 chunks
    # carry NO footer min/max statistics, which would silently disable the
    # commit log's data skipping (lakehouse._file_stats) and parquet
    # row-group pruning on every timestamp column the engine writes.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


#: Entries in Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``).
#: A two-pass ``tools/measure.py --all`` sweep at sf0.01 with an unbounded
#: cache compiled 4,162 classes in pass 1 and 139 in pass 2 (4,307 in the
#: JVM, warm-up included); this rounds that up with about 40% headroom.
#: Metaspace at the sweep's end was 254 MB, against 225 MB at Spark's
#: default of 100, which compiled 6,333 and 6,085 classes in the two passes.
CODEGEN_CACHE_ENTRIES = 6000


def default_parallelism() -> int:
    """Shuffle-partition seed: $SPARK_GRAFT_CPUS or the machine's CPUs."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit():
        return max(int(env), 1)
    return max(os.cpu_count() or 4, 4)


def get_spark(app_name: str = "market_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` locally; on a real cluster leave it
    unset and let spark-submit decide.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # no console progress bar: its carriage-return frames would share
        # stderr lines with what harnesses print there
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_conf(spark)
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply engine runtime conf to an externally-created session.

    The verification driver hands us its own SparkSession; these settings
    are all runtime-settable and keep semantics (UTC, AQE) identical.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed by the host session; semantics-critical
            # ones (timezone) are runtime-settable in all supported versions.
            pass
    return spark
