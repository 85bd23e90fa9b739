"""Structured Streaming extensions (SURVEY.md §2.9 / §7.2 M-f).

The reference's M4 roadmap item ("real-time replay, stream processing")
re-expressed Spark-natively: a file-source replay of the events zone →
watermarked tumbling-window candles → sink. Also a custom stateful
operator (session windows via ``applyInPandasWithState``) — the shape
Spark's built-in aggregations can't express.

Scale notes: windowed aggregation state is partitioned by (window,
keys) and pruned by the watermark; sessionization state lives per
user key and emits on timeout — both bounded-memory under load.
"""

from __future__ import annotations

import os
import pathlib
import uuid
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from ..tables import SCRATCH, load, sf_tag, source_fingerprint, stage_batch_files

#: State-store partition count pinned for every memory-sink drain in
#: this module.  Each micro-batch checkpoints EVERY state partition, so
#: the right count is the stream's keyed-state cardinality, not the
#: session's shuffle default: the bench corpora key on ≤40 users / ≤5
#: event types, and an interleaved warm A/B at sf0.1 measured the
#: 7-query streaming family at 16.0-16.6s with 4 partitions vs
#: 17.1-17.3s with 16 (first-run cost also drops — fewer checkpoint
#: files to create).  At production key cardinality raise this via the
#: env knob (SCALE.md "Streaming").
STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4"))


def _discard_checkpoint(ckpt: pathlib.Path) -> None:
    """Single-use checkpoints (uuid-named, memory-sink drains) are dead
    state once the query terminates — discard them so repeated runs
    don't accumulate hundreds of MB of state-store files."""
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)


#: Loggers that report the (benign) abort of an in-flight empty
#: micro-batch when an ASAP-trigger drain is stopped.  The sessionizer's
#: processing-time timeouts schedule state-flush batches forever, so a
#: stop can land mid-epoch even after all output has committed; the
#: resulting TaskKilledException stack traces are noise that pollutes
#: the bench/driver stderr tail (VERDICT r3 item 4).
_STOP_NOISE_LOGGERS = (
    "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec",
    "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
    "org.apache.spark.util.Utils",
    "org.apache.spark.TaskContextImpl",
    "org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager",
)


def _quiet_stop(q, spark: SparkSession, idle_wait_secs: float = 1.0) -> None:
    """Stop a continuously-triggered streaming query without leaving
    executor stack traces in stderr.

    Two layers (both needed — the idle wait alone is a race; it is
    also capped at ~1s because an ASAP/processing-time-timeout query
    triggers near-continuously, so a long poll almost never observes
    idle and just stalls the drain — callers only reach here AFTER the
    state-store/commit conditions prove every output batch landed, so
    the wait is cosmetic and layer 2 does the real silencing):
    1. Poll until no trigger is active, so stop() lands *between*
       micro-batches whenever possible.
    2. Raise the known abort-noise loggers to FATAL (log4j2
       ``Configurator``) — a kill that still catches an empty in-flight
       epoch then aborts silently.  The mute is NOT restored after
       termination: interrupted executor task threads log their abort
       asynchronously, racing past ``awaitTermination`` (measured — a
       restore-after-stop variant still leaked all 64 ERROR lines), so
       these six loggers stay FATAL for the process lifetime after the
       first quiet stop.  Real failures still surface as Python
       exceptions from the query itself; only the noise channel is
       narrowed.  All output correctness is unaffected: callers only
       stop after the drain conditions have committed.
    """
    import time

    t0 = time.time()
    while time.time() - t0 < idle_wait_secs:
        try:
            if not q.status.get("isTriggerActive", False):
                break
        except Exception:
            break
        time.sleep(0.05)

    mute_stop_noise(spark)
    q.stop()
    q.awaitTermination()


def mute_stop_noise(spark: SparkSession) -> None:
    """Raise the known stop-abort noise loggers to FATAL (see
    :func:`_quiet_stop` layer 2).  Exposed so a harness that will stop
    streams (the bench) can apply the mute at session warm-up — the
    in-stop call still races the very first kill's asynchronous
    executor logging, which is where the residual ERROR frames in the
    r5 bench stderr came from."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        fatal = jvm.org.apache.logging.log4j.Level.FATAL
        for logger_name in _STOP_NOISE_LOGGERS:
            configurator.setLevel(logger_name, fatal)
    except Exception:
        pass  # non-log4j2 runtime: stop un-silenced


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table (schema pinned from a
    batch read; ts nanos→timestamp conversion identical to tables.load).

    The file stream source requires a *directory* (it tails new files —
    that's the replay semantics); the testdata table is a single file,
    so it is staged into a scratch dir via symlink.
    """
    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    tag = sf_tag(sf_dir)
    zone = SCRATCH / f"stream_src_{tag}"
    zone.mkdir(parents=True, exist_ok=True)
    link = zone / "events-part-0.parquet"
    if not link.exists():
        link.symlink_to(src)

    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(str(zone))
    return _convert_ts(stream)


def _convert_ts(stream: DataFrame) -> DataFrame:
    ts_type = stream.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) testdata: cast to
        # TimestampType under the UTC session tz (wall-clock preserved)
        # so watermarks/window() see the session-timezone type.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


#: End-of-stream punctuation timestamp (µs since epoch, 2099-01-01).
#: A replayed finite source appends one row per key at this timestamp;
#: the sessionizer treats any event at/after it as "the stream is
#: over": it closes the key's open session and removes the state, so
#: the state store drains in the data batch itself and a
#: trigger(availableNow) drain terminates with no processing-time
#: timeout wait.  This is the classic finite-source end-of-stream
#: marker (Flink emits MAX_WATERMARK the same way); a live 24/7 stream
#: simply never carries the sentinel and flushes via timeout instead.
FLUSH_SENTINEL_US = 4_070_908_800_000_000  # 2099-01-01T00:00:00Z


def read_events_stream_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table PLUS a one-row-per-user
    end-of-stream sentinel file (ts = :data:`FLUSH_SENTINEL_US`), for
    stateful operators that flush open state on the sentinel instead of
    on a processing-time timeout (cuts the drain from ~3s of mandatory
    timeout wall-clock to zero).  The sentinel zone is separate from
    the plain replay zone so windowed/candle streams never see 2099
    rows."""
    import os
    import shutil

    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    tag = sf_tag(sf_dir)
    zone = SCRATCH / f"stream_src_{tag}_flush"
    zone.mkdir(parents=True, exist_ok=True)
    link = zone / "events-part-0.parquet"
    if link.is_symlink():
        # legacy staging: a symlink exposes the TARGET's mtime, and the
        # file source orders batches by mtime — a regenerated testdata
        # tree would replay the sentinel FIRST under
        # maxFilesPerTrigger=1 and the advanced watermark would drop
        # every real event.  Re-stage as a copy with pinned utimes
        # (same fix as the outer-drain zone).
        link.unlink()
    if not link.exists():
        tmp = link.with_suffix(".tmp")
        shutil.copyfile(src, tmp)
        tmp.rename(link)
    os.utime(link, (1_000_000_000,) * 2)
    sentinel = zone / "events-part-1-sentinel.parquet"
    if not sentinel.exists():
        _write_sentinel_file(src, sentinel)
    os.utime(sentinel, (1_000_001_000,) * 2)

    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(str(zone))
    return _convert_ts(stream)


def _write_sentinel_file(src: str, dest: pathlib.Path) -> None:
    """One sentinel row per distinct user_id, physical-schema-identical
    to the source file (same ts parquet type — INT64 nanos or
    timestamp — so the pinned stream schema reads both files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(src)
    users = pq.read_table(src, columns=["user_id"])["user_id"]
    uniq = sorted(set(users.to_pylist()))
    n = len(uniq)
    cols = []
    for field in schema:
        if field.name == "user_id":
            cols.append(pa.array(uniq, type=field.type))
        elif field.name == "ts":
            if pa.types.is_integer(field.type):  # raw INT64 nanos
                cols.append(pa.array([FLUSH_SENTINEL_US * 1000] * n, type=field.type))
            else:
                ts = pd.Timestamp(FLUSH_SENTINEL_US * 1000)
                cols.append(pa.array([ts] * n, type=field.type))
        else:
            cols.append(pa.nulls(n, type=field.type))
    tmp = dest.with_suffix(".tmp")
    pq.write_table(pa.Table.from_arrays(cols, schema=schema), tmp)
    tmp.rename(dest)  # atomic: the stream source never lists a partial file


def minute_candles(stream: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling 1-minute candles per event_type: the Q2
    aggregation as a stream (late rows beyond the watermark are
    dropped; state for closed windows is reclaimed)."""
    from ..functions import round6, vwap

    qty = ((F.col("event_id") % 7) + 1).cast("double")
    return (
        stream.withColumn("qty", qty)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count("*").alias("num_trades"),
            round6(F.sum("qty")).alias("total_volume"),
            round6(vwap(F.col("value"), F.col("qty"))).alias("vwap_value"),
        )
    )


def run_to_memory(result: DataFrame, name: str | None = None) -> str:
    """Execute a streaming aggregation over all available input
    (`trigger(availableNow)`) into a memory sink; returns the sink
    table name once the replay drains. Shuffle partitions are pinned
    small for the stream only (state-store checkpoint I/O per
    micro-batch scales with the partition count — a vanilla session's
    200 default pays ~200 checkpoint files per batch) and the host
    setting restored right after start."""
    name = name or f"sink_{uuid.uuid4().hex[:8]}"
    ckpt = SCRATCH / "checkpoints" / name
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    _discard_checkpoint(ckpt)
    return name


def run_to_memory_append_available_now(
    result: DataFrame, name: str | None = None, partitions: int | None = None
) -> str:
    """Append-mode ``trigger(availableNow)`` drain for stateful
    operators WITHOUT processing-time timeouts (streaming dedup,
    watermarked window appends): unlike the timeout-driven sessionizer
    (see :func:`run_to_memory_append`), these terminate cleanly once
    the available input is processed. Shuffle partitions are pinned
    small for the stream only — state-store checkpoint I/O per
    micro-batch scales with the partition count, so size ``partitions``
    to the stream's keyed-state cardinality (a stream keyed on ≤40
    users needs far fewer state partitions than the session default)."""
    name = name or f"sink_{uuid.uuid4().hex[:8]}"
    ckpt = SCRATCH / "checkpoints" / name
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(STATE_PARTITIONS if partitions is None else partitions),
        )
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    _discard_checkpoint(ckpt)
    return name


def run_to_memory_append(
    result: DataFrame,
    name: str | None = None,
    settle_secs: float = 12.0,
    max_wait_secs: float = 180.0,
) -> str:
    """Append-mode variant of :func:`run_to_memory` for arbitrary
    stateful operators.

    ``trigger(availableNow)`` never terminates such queries: pending
    processing-time timeouts keep scheduling empty micro-batches
    forever (observed: hundreds of epochs after the data drained). So
    this runs with the default ASAP trigger and stops the query as
    soon as (a) at least one batch consumed input and (b) the state
    store has drained back to zero rows (``stateOperators[*]
    .numRowsTotal == 0`` in a post-consumption progress report) —
    i.e. every open-state flush has fired and been committed. A
    sink-count-stability window (``settle_secs``) remains as a
    fallback for operators that legitimately hold state forever. The
    output SET is timing-independent (sessions are defined by data
    gaps), only the drain mechanics are wall-clock."""
    import time

    name = name or f"sink_{uuid.uuid4().hex[:8]}"
    ckpt = SCRATCH / "checkpoints" / name
    spark = result.sparkSession
    # State-store partition count is frozen from shuffle.partitions at
    # stream start, and every micro-batch checkpoints every state
    # partition — on a host session with the 200 default the drain's
    # empty batches spend ~3-4x longer in checkpoint I/O than compute
    # (measured 64s vs 21s). Pin a modest count for the stream only and
    # restore the host's setting right after start.
    # NB: conf.get(key, default) returns the DEFAULT for a conf the user
    # never explicitly set (it does not resolve the effective SQLConf
    # value) — use the no-default form to capture the real setting.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    t0 = time.time()
    consumed = False
    state_seen = False
    last_count, stable_since = -1, time.time()
    while time.time() - t0 < max_wait_secs:
        time.sleep(0.5)
        # recentProgress (a window of batches), not lastProgress: empty
        # drain batches overwrite lastProgress between polls, which
        # would make the data batch invisible and force max_wait.
        progress = q.recentProgress
        if not consumed and any(p["numInputRows"] > 0 for p in progress):
            consumed = True
        # Deterministic drain detection: once input is consumed the
        # operator holds open state (> 0 rows); when a later progress
        # report shows the state store empty again, every pending
        # timeout has fired and its output batch has committed.
        if consumed and progress:
            ops = progress[-1]["stateOperators"] or []
            total = sum(op["numRowsTotal"] for op in ops)
            if ops and total > 0:
                state_seen = True
            elif ops and state_seen and total == 0:
                break
        n = spark.table(name).count()
        if n != last_count:
            last_count, stable_since = n, time.time()
        elif consumed and time.time() - stable_since >= settle_secs:
            break
    _quiet_stop(q, spark)
    _discard_checkpoint(ckpt)
    return name


# ---------------------------------------------------------------------------
# Stream-static enrichment join
# ---------------------------------------------------------------------------
#: Static dimension used by the enrichment demo (and its oracle).
EVENT_DIM_ROWS = [
    ("click", 1.0, "engagement"),
    ("view", 0.5, "engagement"),
    ("purchase", 5.0, "conversion"),
    ("signup", 3.0, "conversion"),
    ("error", 0.0, "ops"),
]


def enriched_category_candles(
    spark: SparkSession, stream: DataFrame, watermark: str = "2 minutes"
) -> DataFrame:
    """Stream-static join → windowed aggregate: each streamed event is
    enriched against a broadcast dimension (type → weight/category) and
    rolled into per-minute per-category weighted totals. The static
    side is re-read per micro-batch by Structured Streaming's
    contract; broadcast keeps the stream side shuffle-free before the
    windowed aggregation — the standard enrich-then-window shape for
    a dimension small enough to ship to every executor."""
    from ..functions import round6

    dim = spark.createDataFrame(
        EVENT_DIM_ROWS, "event_type string, weight double, category string"
    )
    return (
        stream.join(F.broadcast(dim), "event_type")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "category")
        .agg(
            F.count("*").alias("n_events"),
            round6(F.sum(F.col("value") * F.col("weight"))).alias("weighted_value"),
        )
    )


def attributed_purchases_stream(
    stream: DataFrame,
    attribution_window: str = "2 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-STREAM interval join: every purchase is attributed to
    each of the same user's clicks in the preceding attribution
    window — the canonical conversion-attribution shape.

    Both sides are watermarked and the join condition carries the
    time bound, which is what lets Structured Streaming RECLAIM join
    state: a click older than watermark + window can never match a
    future purchase, so its state row is dropped. Inner joins emit
    eagerly as matches arrive, so a finite replay drains under
    ``trigger(availableNow)``. The join itself hash-partitions both
    streams on user_id — the same shuffle a batch equi join would do,
    held as keyed state instead."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts < click_ts + interval {attribution_window}"
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication, first arrival wins per key.
    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the
    watermark horizon — the only viable contract for an unbounded
    stream (state for keys older than the watermark is reclaimed; a
    duplicate arriving later than the watermark allows would re-emit,
    which is the documented trade-off). On a finite replay every row
    is within horizon, so the output is an exact dedup."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: session windows per user
# ---------------------------------------------------------------------------
SESSION_GAP_MINUTES = 30

_SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events long"
_STATE_SCHEMA = "open_start long, open_last long, open_n long"


def _sessionize_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    set_timeout: bool = True,
):
    """applyInPandasWithState body: fold this user's events into
    gap-separated sessions, carrying the open session across batches.
    Emits closed sessions; the final open session flushes on timeout
    (live streams) or on the end-of-stream sentinel (finite replays,
    ``set_timeout=False`` — the NoTimeout mode forbids
    setTimeoutDuration)."""
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    (user_id,) = key

    if state.hasTimedOut:
        if state.exists:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                }
            )
        return

    ts_us: list[int] = []
    for pdf in pdfs:
        ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
    ts_us.sort()

    # End-of-stream punctuation (finite replays): any event at/after
    # the sentinel closes the open session IN-BAND and drops the state,
    # so the drain needs no timeout wall-clock at all.
    flush = bool(ts_us) and ts_us[-1] >= FLUSH_SENTINEL_US
    if flush:
        ts_us = [t for t in ts_us if t < FLUSH_SENTINEL_US]

    start, last, n = state.get if state.exists else (None, None, 0)
    out = []
    for t in ts_us:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > gap_us:
            out.append((start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    if flush:
        if start is not None:
            out.append((start, last, n))
        if state.exists:
            state.remove()
    else:
        state.update((start, last, n))
        if set_timeout:
            # Short processing-time timeout: an ASAP-trigger replay
            # without the sentinel keeps issuing (empty) micro-batches
            # until all state times out, so this bounds the drain tail;
            # a live 24/7 stream would use the session gap here instead.
            state.setTimeoutDuration(3_000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in out],
                "n_events": [c for _, _, c in out],
            }
        )


def _sessionize_group_replay(key, pdfs, state):
    yield from _sessionize_group(key, pdfs, state, set_timeout=False)


def sessionize_stream(stream: DataFrame, live: bool = True) -> DataFrame:
    """Session windows (30-min gap) per user as a custom stateful
    streaming operator. State = the open session per user; closed
    sessions emit incrementally.

    ``live=True`` (24/7 streams): open sessions flush via
    processing-time timeout.  ``live=False`` (finite replays whose
    source carries the :data:`FLUSH_SENTINEL_US` punctuation): open
    sessions flush on the sentinel and the operator runs in NoTimeout
    mode — any ProcessingTimeTimeout configuration makes
    ``trigger(availableNow)`` reschedule empty micro-batches forever
    (observed: 35+ post-data epochs), while NoTimeout terminates the
    drain right after the data batch."""
    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group if live else _sessionize_group_replay,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if live
            else GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch-equivalent sessionization via windows (lag-gap flag →
    cumulative session index) — the oracle-checkable reference
    implementation the streaming operator must agree with."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.select("user_id", "ts").withColumn(
        "_new",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            > SESSION_GAP_MINUTES * 60,
            1,
        )
        .otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("session_id")
    )


# ---------------------------------------------------------------------------
# CDC apply: stream → foreachBatch → partition-scoped MERGE
# ---------------------------------------------------------------------------


def _pin_part_order(zone: pathlib.Path) -> None:
    """Pin the staged part files' modification times in FILE-NAME order
    (part-00000 first — the lowest range slice from
    ``repartitionByRange``).  The file source processes oldest-mtime
    first, and freshly-written parts otherwise share one mtime second,
    leaving micro-batch order unguaranteed; pinning makes the replay
    order deterministic (ascending range) for order-sensitive callers,
    the same discipline as the flush/outer-drain zones above."""
    for i, part in enumerate(sorted(zone.glob("part-*.parquet"))):
        os.utime(part, (1_000_000_000 + i * 1000,) * 2)


def read_events_stream_multibatch(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Replay the events table as ``n_files`` time-ranged parquet files
    with ``maxFilesPerTrigger=1`` — a REAL multi-micro-batch replay
    (the single-symlink source above collapses to one batch). Staged
    once per (sf, source fingerprint, n) and reused; range-partitioned
    on ts with mtimes pinned in range order, so each batch is one
    ascending CDC time slice."""
    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "events.parquet")
    zone = SCRATCH / f"stream_src_multi_{tag}_{fp}_{n_files}"
    if not (zone / "_SUCCESS").exists():
        load(spark, sf_dir, "events").repartitionByRange(
            n_files, "ts"
        ).write.mode("overwrite").parquet(str(zone))
        _pin_part_order(zone)
    schema = spark.read.parquet(str(zone)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    )


def read_table_stream_multibatch(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    range_col: str,
    n_files: int = 3,
) -> DataFrame:
    """Generalization of :func:`read_events_stream_multibatch` to any
    registered table: replay ``table`` as ``n_files`` range-partitioned
    parquet files with ``maxFilesPerTrigger=1`` — each micro-batch is
    one ascending ``range_col`` slice of a CDC feed (mtimes pinned in
    range order — deterministic batch order, not just a deterministic
    batch SET).  Staged once per (table, sf, source fingerprint, n)
    and reused; a regenerated testdata tree changes the fingerprint
    and restages instead of replaying stale rows."""
    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, f"{table}.parquet")
    zone = SCRATCH / f"stream_src_multi_{table}_{tag}_{fp}_{n_files}"
    if not (zone / "_SUCCESS").exists():
        load(spark, sf_dir, table).repartitionByRange(
            n_files, range_col
        ).write.mode("overwrite").parquet(str(zone))
        _pin_part_order(zone)
    schema = spark.read.parquet(str(zone)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    )


def read_events_stream_outer_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay for OUTER stream-stream joins: the real events first,
    then TWO sentinel waves (user_id = −1 click+purchase pairs at
    2024-02-15 and 2024-02-20, months past the data).  Outer-join null
    rows only emit when a LATER batch runs with a watermark past the
    left row's join-condition upper bound, so wave 1 advances the
    global watermark far beyond every click + 2h and wave 2 triggers
    the eviction pass — after which the streamed LEFT OUTER result
    equals the batch LEFT OUTER exactly (consumers drop user −1).
    Both event types appear in each wave because the join's global
    watermark is the MIN over both sides' watermark nodes."""
    import os

    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    tag = sf_tag(sf_dir)
    import shutil

    zone = SCRATCH / f"stream_src_{tag}_outer"
    zone.mkdir(parents=True, exist_ok=True)
    link = zone / "events-part-0.parquet"
    if not link.exists():
        # COPY, not symlink: the file source orders batches by mtime,
        # and a symlink exposes the target's mtime (the testdata file
        # is newer than the pinned sentinel stamps, which replayed the
        # waves FIRST and the data last).
        tmp = link.with_suffix(".tmp")
        shutil.copyfile(src, tmp)
        tmp.rename(link)
    os.utime(link, (1_000_000_000,) * 2)
    waves = (
        ("events-part-1-wave1.parquet", 1_707_000_000_000_000),  # 2024-02-03+
        ("events-part-2-wave2.parquet", 1_708_400_000_000_000),
    )
    for i, (name, ts_us) in enumerate(waves):
        dest = zone / name
        if not dest.exists():
            _write_marker_rows(
                src, dest, [(-1, "click", ts_us), (-1, "purchase", ts_us)]
            )
        os.utime(dest, (1_000_000_000 + (i + 1) * 1000,) * 2)

    batch = spark.read.parquet(src)
    # maxFilesPerTrigger=2 pairs [data, wave 1] into micro-batch 1 and
    # leaves wave 2 as micro-batch 2 — the minimum batch count for
    # OUTER drain semantics: batch 1 finds every inner match (the join
    # matches within a batch as well as against state) and its max
    # event time (wave 1) sets batch 2's watermark months past every
    # click + 2h, so batch 2 (kept non-empty by wave 2) runs the
    # eviction pass that emits the null-extended rows.  One fewer
    # stateful micro-batch than the 1-file-per-trigger replay at an
    # identical drained result (hash-verified), and each micro-batch
    # saved is a full state-store commit cycle.
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(zone))
    )
    return _convert_ts(stream)


def _write_marker_rows(
    src: str, dest: pathlib.Path, rows: list[tuple[int, str, int]]
) -> None:
    """Write (user_id, event_type, ts_µs) marker rows in the source
    file's exact physical schema (other columns null)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(src)
    n = len(rows)
    cols = []
    for field in schema:
        if field.name == "user_id":
            cols.append(pa.array([r[0] for r in rows], type=field.type))
        elif field.name == "event_type":
            cols.append(pa.array([r[1] for r in rows], type=field.type))
        elif field.name == "ts":
            if pa.types.is_integer(field.type):  # raw INT64 nanos
                cols.append(
                    pa.array([r[2] * 1000 for r in rows], type=field.type)
                )
            else:
                cols.append(
                    pa.array([pd.Timestamp(r[2] * 1000) for r in rows], type=field.type)
                )
        else:
            cols.append(pa.nulls(n, type=field.type))
    tmp = dest.with_suffix(".tmp")
    pq.write_table(pa.Table.from_arrays(cols, schema=schema), tmp)
    tmp.rename(dest)


def attributed_clicks_outer_stream(
    stream: DataFrame,
    attribution_window: str = "2 hours",
    watermark: str = "10 minutes",
    how: str = "leftOuter",
) -> DataFrame:
    """OUTER stream-stream interval join (``how`` = ``leftOuter`` or
    ``fullOuter``): every click row emits — matched to each purchase in
    its forward attribution window, or as a null-extended row once the
    watermark proves no match can arrive; under ``fullOuter``,
    purchases with no click in their backward window additionally emit
    null-extended rows on their own eviction bound.  Same state-reclaim
    contract as the inner variant
    (:func:`attributed_purchases_stream`); the OUTER semantics
    additionally exercise watermark-driven null emission, which only
    happens in a batch AFTER the watermark passes the row's
    join-condition bound (see :func:`read_events_stream_outer_drain`)."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts < click_ts + interval {attribution_window}"
        ),
        how,
    )


def read_events_stream_late_replay(
    spark: SparkSession, sf_dir: str, cutoff: str = "2024-01-30"
) -> DataFrame:
    """Two-batch replay that makes LATE DATA real: file 0 carries the
    events at/after ``cutoff`` (the live head — processed first, it
    drives the watermark high), file 1 carries every EARLIER event and
    arrives in the second micro-batch — i.e. hours-to-days behind the
    watermark, the way a delayed backfill or a lagging producer shows
    up in production.  File order is pinned via modification times
    (the file source processes oldest-mtime first) and
    ``maxFilesPerTrigger=1`` splits the two files into two batches."""
    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    zone = SCRATCH / f"stream_src_late_{sf_tag(sf_dir)}"

    def batches():
        # oldest mtime first = processing order: head, then late
        e = load(spark, sf_dir, "events")
        head = F.col("ts") >= F.lit(cutoff).cast("timestamp")
        late = F.col("ts") < F.lit(cutoff).cast("timestamp")
        return [("part-0-head", e.filter(head)), ("part-1-late", e.filter(late))]

    stage_batch_files(zone, batches)
    schema = spark.read.parquet(str(zone / "part-0-head.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    )


def run_to_memory_append_with_metrics(
    result: DataFrame, name: str | None = None, partitions: int | None = None
) -> tuple[str, dict]:
    """:func:`run_to_memory_append_available_now` plus the progress
    accounting a production stream job alarms on: total input rows and
    ``numRowsDroppedByWatermark`` summed over the run's state
    operators.  Metadata-sized driver state — the rows themselves stay
    in the sink."""
    name = name or f"sink_{uuid.uuid4().hex[:8]}"
    ckpt = SCRATCH / "checkpoints" / name
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(STATE_PARTITIONS if partitions is None else partitions),
        )
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    dropped = 0
    batch_inputs: list[int] = []
    for p in q.recentProgress:
        n = p.get("numInputRows", 0) or 0
        if n:
            batch_inputs.append(n)
        for op in p.get("stateOperators") or []:
            dropped += op.get("numRowsDroppedByWatermark", 0) or 0
    _discard_checkpoint(ckpt)
    return name, {
        "dropped_by_watermark": dropped,
        "input_rows": sum(batch_inputs),
        "batch_inputs": batch_inputs,
    }


def _drain_foreach_batch(
    stream: DataFrame,
    fn,
    shuffle_partitions: int,
    checkpoint: str | None = None,
) -> None:
    """Drain ``stream`` through ``foreachBatch(fn)`` with
    ``trigger(availableNow)`` and wait for it to finish.

    ``spark.sql.shuffle.partitions`` is set to ``shuffle_partitions``
    while the query starts and runs (the query's session copies it at
    start) and restored afterwards.  Without ``checkpoint`` the drain
    uses a single-use uuid-named checkpoint and discards it; a
    caller-pinned checkpoint survives the call."""
    ckpt = checkpoint or SCRATCH / "checkpoints" / f"fb_{uuid.uuid4().hex[:8]}"
    spark = stream.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if checkpoint is None:
            _discard_checkpoint(ckpt)


def run_cdc_apply(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> int:
    """Continuous CDC apply: every micro-batch MERGEs into a
    Hive-partitioned parquet target via
    :func:`market_etl_spark.merge.merge_into_partitioned` — updates
    win on key match, unmatched history survives, and only the
    partitions a batch actually touches are rewritten (dynamic
    overwrite). This is the plain-parquet rendering of a streaming
    MERGE INTO: exactly-once per batch comes from the checkpoint
    (a replayed batch re-merges idempotently — upserts are
    last-writer-wins, so applying a batch twice is a no-op).

    Batches must be key-unique (true for any keyed CDC feed after
    upstream compaction; enforce with a per-batch latest-wins window
    if the feed can carry multiple versions of a key per batch).

    ``op_col`` makes the feed a FULL CDC stream: a micro-batch may mix
    inserts, updates, and ``delete_op`` tombstones (Debezium's
    ``op='d'`` shape) — deletes remove their key from the target, and
    a delete landing in a LATER batch than the insert it kills works
    because every batch merges against the accumulated on-disk state.
    Returns the number of micro-batches applied."""
    from ..merge import merge_into_partitioned

    applied = []

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() pre-flight: merge_into_partitioned's
        # affected-partitions collect doubles as the empty check (one
        # job per batch instead of two)
        n = merge_into_partitioned(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols,
            partition_cols,
            op_col=op_col,
            delete_op=delete_op,
        )
        if n:
            applied.append(batch_id)

    _drain_foreach_batch(stream, apply, shuffle_partitions=8)
    return len(applied)


def run_cdc_apply_resumable(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str],
    checkpoint: str,
    op_col: str | None = None,
    crash_after_batch: int | None = None,
    applied_log: list[int] | None = None,
) -> bool:
    """:func:`run_cdc_apply` with a CALLER-PINNED checkpoint — the
    crash-recovery primitive.  The checkpoint survives the call, so a
    killed run restarts exactly where the commit log left off: batches
    whose commit landed are never re-read (their offsets are in the
    commit log), and a batch that applied its side effect but died
    before the commit is REPLAYED from the offset log with the
    identical file set — the merge's last-writer-wins upserts and
    key-absent-no-op deletes make the re-apply idempotent, which is
    what turns at-least-once replay into exactly-once table state.

    ``crash_after_batch`` injects the worst-case fault for the drill:
    the apply RAISES after batch N's merge has fully landed on disk
    but before Structured Streaming can write batch N's commit — a
    crash in the smallest window where at-least-once duplication is
    possible.  ``applied_log`` (caller list) records each batch id
    whose merge ran, so a test can assert the restarted run replays
    only the uncommitted batch.  Returns True if the run terminated
    cleanly, False if the injected crash stopped it."""
    from ..merge import merge_into_partitioned

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_into_partitioned(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols,
            partition_cols,
            op_col=op_col,
        )
        if applied_log is not None:
            applied_log.append(batch_id)
        if crash_after_batch is not None and batch_id == crash_after_batch:
            raise RuntimeError(
                f"injected crash after batch {batch_id} side effect"
            )

    from pyspark.errors import StreamingQueryException

    try:
        _drain_foreach_batch(stream, apply, shuffle_partitions=8, checkpoint=checkpoint)
    except StreamingQueryException:
        if crash_after_batch is None:
            raise  # a real failure, not the injected one
        return False
    return True
