"""Testdata table access, and the scratch area queries write to.

``load(spark, sf_dir, name)`` is the single entry point every query module
uses to read the driver-provided parquet tables. It goes straight through
``spark.read.parquet`` so Catalyst keeps full pushdown/pruning ability —
no caching, no repartitioning here; the plan decides.

Everything a query stages on disk lives under :data:`SCRATCH`, named by
the data dir's :func:`sf_tag` (and, for zones reused across runs, the
source's :func:`source_fingerprint`).
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pyspark.sql.types import TimestampNTZType

from .schemas import TESTDATA_TABLES
from .session import apply_runtime_conf

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Scratch area for staged tables, zones and checkpoints (gitignored;
#: inside the repo so nothing outside it is touched).
SCRATCH = pathlib.Path(__file__).resolve().parent.parent / ".scratch"


def sf_tag(sf_dir: str) -> str:
    """Path-safe name of a data dir: ``.../sf0.01/`` -> ``sf0_01``."""
    return pathlib.Path(sf_dir.rstrip("/")).name.replace(".", "_")


def source_fingerprint(sf_dir: str, fname: str = "events.parquet") -> str:
    """Size+mtime digest of a source parquet, so on-disk scratch zones
    invalidate when the testdata is regenerated (same path, new file —
    silent staleness otherwise)."""
    p = pathlib.Path(sf_dir.rstrip("/")) / fname
    try:
        st = p.stat()
        raw = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        raw = "missing"
    return hashlib.sha1(raw.encode()).hexdigest()[:10]


def fresh_scratch(name: str) -> str:
    """``SCRATCH / name``, emptied: whatever a previous run left there is
    removed first, so a drill always starts from a clean slate."""
    path = SCRATCH / name
    shutil.rmtree(path, ignore_errors=True)
    return str(path)


def stage_batch_files(
    zone: pathlib.Path, batches: Callable[[], Iterable[tuple[str, DataFrame]]]
) -> None:
    """Stage a replay zone once: each ``(name, frame)`` from ``batches()``
    becomes the single file ``zone/<name>.parquet``, with modification
    times pinned in the given order (the file source processes oldest
    first, so ``maxFilesPerTrigger=1`` replays them as ordered
    micro-batches).  A ``_READY`` marker guards the zone: a complete zone
    is reused as is (``batches`` is not even called), a partial one is
    rebuilt from scratch."""
    marker = zone / "_READY"
    if marker.exists():
        return
    shutil.rmtree(zone, ignore_errors=True)
    zone.mkdir(parents=True)
    for i, (name, df) in enumerate(batches()):
        tmp = zone / f"_tmp_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        (part,) = list(tmp.glob("part-*.parquet"))
        dest = zone / f"{name}.parquet"
        part.rename(dest)
        shutil.rmtree(tmp)
        os.utime(dest, (1_000_000_000 + i * 1000,) * 2)
    marker.touch()


def fanout_partitions(spark: SparkSession) -> int:
    """Partition count for spreading a per-row CPU stage across the cluster.

    The single-file testdata scan is ONE map task, so per-row compute
    stages (codec decode, md5 fan-out) must repartition first or run
    serially. The right width is the cluster's, not a constant: on
    ``local[N]`` this is N, on a real cluster it is total executor cores
    — the same stages ride every core at 100 TB without a code change.
    """
    return max(spark.sparkContext.defaultParallelism, 2)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; expected one of {TESTDATA_TABLES}")
    apply_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    # Timestamp columns have shipped as INT64 TIMESTAMP(NANOS) (read as
    # nanosecond longs under nanosAsLong — events.ts in some rounds) and
    # as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ
    # — events.ts, orders.o_orderdate, lineitem.l_shipdate). Normalize
    # both to TimestampType so downstream epoch math and literal
    # comparisons resolve; the session timezone is pinned to UTC, so the
    # NTZ→TIMESTAMP cast preserves wall-clock and matches the DuckDB
    # oracle, which reads the files natively as naive timestamps. The
    # casts are plan-level projections — pushdown/pruning on other
    # columns is unaffected.
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Integer-divide nanos to micros (exact — no double round-trip).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
