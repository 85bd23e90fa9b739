"""Streaming queries registered with the driver contract.

``q_streaming_minute_candles`` runs a REAL Structured Streaming job
(file-source replay → watermarked tumbling windows → memory sink,
drained with trigger(availableNow)) and returns the sink as a batch
DataFrame — so the stream's output is hash-verified against a batch
SQL oracle. ``q_sessionize`` is the batch (window-function) rendering
of the custom stateful session operator; the streaming
``applyInPandasWithState`` twin is equivalence-tested in
tests/test_streaming.py (its flush-on-timeout tail makes it
rows-only-unfriendly).

The foreachBatch drills (incremental view maintenance with
retractions, CDC deletes, crash recovery, SCD2 apply) drain through
:func:`..streaming._drain_foreach_batch`; stream-stream full-outer and
semi joins, native session windows and chained windows complete the
family.
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import streaming
from ..session import apply_runtime_conf
from ..tables import SCRATCH, fresh_scratch, load, sf_tag, source_fingerprint, stage_batch_files
from ._audit import require
from .registry import query


@query(
    "q_streaming_minute_candles",
    oracle="""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           COUNT(*) AS num_trades,
           ROUND(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 6) AS total_volume,
           ROUND(SUM(value * CAST(event_id % 7 + 1 AS DOUBLE))
                 / NULLIF(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 0), 6) AS vwap_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    GROUP BY 1, 2
    ORDER BY minute, event_type
    """,
    tags=("streaming", "extension"),
)
def q_streaming_minute_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming replay of the events zone → 1-minute tumbling-window
    candles with a 2-minute watermark → memory sink. The returned
    DataFrame is the *stream's* output; the oracle recomputes the same
    candles in batch SQL, so the whole streaming path (source, window
    state, watermark, sink) is hash-checked."""
    stream = streaming.read_events_stream(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    )
    sink = streaming.run_to_memory(streaming.minute_candles(stream))
    return (
        spark.table(sink)
        .select(
            F.col("w.start").alias("minute"),
            "event_type",
            "num_trades",
            "total_volume",
            "vwap_value",
        )
        .orderBy("minute", "event_type")
    )


@query(
    "q_rollup_served_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           COUNT(*) AS num_trades,
           ROUND(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 6) AS total_volume,
           ROUND(SUM(value * CAST(event_id % 7 + 1 AS DOUBLE))
                 / NULLIF(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 0), 4) AS vwap_value,
           MIN(value) AS low,
           MAX(value) AS high
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("rollup", "continuous-aggregate", "extension"),
)
def q_rollup_served_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable continuous-aggregate pattern: daily candles
    answered FROM the minute rollup (1000× smaller than the fact table
    at scale), not from raw events. The oracle recomputes from raw —
    a hash match proves the re-aggregation semantics (sum-of-sums,
    min-of-mins, VWAP recombined from carried numerator/denominator —
    never avg-of-avgs) are exact."""
    from ..rollups import build_minute_rollup, serve_from_rollup

    e = load(spark, sf_dir, "events").withColumn(
        "qty", ((F.col("event_id") % 7) + 1).cast("double")
    )
    rollup = build_minute_rollup(e)
    served = serve_from_rollup(rollup, "day")
    # 4dp, not the usual 6: rollup-path and direct-path sums order
    # differently, and a VWAP landing exactly on a 1e-6 rounding
    # boundary (observed: 70.0490625) flips the last digit between
    # them. Coarser rounding shrinks the boundary-hit odds ~1e4x.
    return served.withColumn("vwap_value", F.round("vwap_value", 4)).orderBy(
        "day", "event_type"
    )


@query(
    "q_streaming_enriched_candles",
    oracle="""
    SELECT date_trunc('minute', ts) AS minute,
           category,
           COUNT(*) AS n_events,
           ROUND(SUM(value * weight), 6) AS weighted_value
    FROM events
    JOIN (VALUES ('click', 1.0, 'engagement'),
                 ('view', 0.5, 'engagement'),
                 ('purchase', 5.0, 'conversion'),
                 ('signup', 3.0, 'conversion'),
                 ('error', 0.0, 'ops')) AS dim(event_type, weight, category)
      USING (event_type)
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    GROUP BY 1, 2
    ORDER BY minute, category
    """,
    tags=("streaming", "stream-static-join", "extension"),
)
def q_streaming_enriched_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the replayed event stream broadcast-
    joined to a weight/category dimension, then windowed into
    per-minute per-category weighted totals. Hash-checked against the
    equivalent batch join — verifying the stream-side join semantics,
    not just the window math."""
    stream = streaming.read_events_stream(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    )
    sink = streaming.run_to_memory(
        streaming.enriched_category_candles(spark, stream)
    )
    return (
        spark.table(sink)
        .select(
            F.col("w.start").alias("minute"),
            "category",
            "n_events",
            "weighted_value",
        )
        .orderBy("minute", "category")
    )


@query(
    "q_streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "dedup", "extension"),
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type) over the replayed stream — watermark-bounded
    state, the scale contract for unbounded dedup. The surviving-row
    count per type equals the batch COUNT(DISTINCT user_id), which the
    oracle hash-checks (WHICH duplicate survives is arrival-order
    dependent, so the query verifies the deterministic projection of
    the dedup, not the arbitrary row payloads)."""
    stream = streaming.read_events_stream(spark, sf_dir)
    deduped = streaming.dedup_stream(stream)
    sink = streaming.run_to_memory_append_available_now(deduped)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


@query(
    "q_streaming_late_data_audit",
    oracle="""
    WITH wm AS (
        SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events
        WHERE ts >= TIMESTAMP '2024-01-30'
    ), fin AS (
        SELECT event_type, date_trunc('minute', ts) AS wstart
        FROM events, wm
        WHERE date_trunc('minute', ts) + INTERVAL 1 MINUTE <= wm.w
    )
    SELECT event_type,
           CAST(COUNT(DISTINCT wstart) AS BIGINT) AS n_windows_finalized,
           CAST(COUNT(*) AS BIGINT) AS n_events_finalized,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events
            WHERE ts >= TIMESTAMP '2024-01-30') AS n_ontime_arrivals,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events
            WHERE ts < TIMESTAMP '2024-01-30') AS n_late_arrivals
    FROM fin GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "watermark", "late-data", "extension"),
)
def q_streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting + watermark finalization on a two-batch
    replay (VERDICT r6 item 7): batch 1 delivers the final day's
    events (driving the watermark to max(head) − 30 min), batch 2
    delivers every EARLIER event — hours-to-days late.  The
    watermarked 1-minute append aggregation then exhibits the 4.1.x
    semantics this build MEASURES (empirically pinned, see
    tests/test_streaming.py): late rows join their (long-expired)
    windows and those windows finalize immediately — emission is
    ``window.end <= watermark``, boundary-exact — while the head's
    last 30 minutes of windows stay open in state and never reach the
    append sink.  The result reports, per event type, the finalized
    window/event counts plus the arrival accounting a production
    stream alarms on (on-time vs late input rows, from per-batch
    progress).  The oracle reconstructs all four numbers from the
    cutoff definition and the ``end <= max(head) − 30min`` emission
    frontier in pure SQL, so the hash match pins watermark
    computation, the finalization boundary, and state eviction.

    Scale: windowed-agg state is watermark-bounded (the 100-TB
    contract for unbounded streams); the audit columns are progress
    metadata — zero extra data-plane cost."""
    stream = streaming.read_events_stream_late_replay(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink, metrics = streaming.run_to_memory_append_with_metrics(
        agg, partitions=4
    )
    ontime = metrics["batch_inputs"][0] if metrics["batch_inputs"] else 0
    late = metrics["input_rows"] - ontime
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_windows_finalized"),
            F.sum("n").cast("long").alias("n_events_finalized"),
        )
        .withColumn("n_ontime_arrivals", F.lit(ontime).cast("long"))
        .withColumn("n_late_arrivals", F.lit(late).cast("long"))
        .orderBy("event_type")
    )


_SESSIONIZE_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    WHERE user_id < 30
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
"""


@query(
    "q_streaming_sessionize",
    oracle=_SESSIONIZE_ORACLE,
    tags=("streaming", "stateful", "extension"),
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator end to end:
    ``applyInPandasWithState`` session windows over a replayed stream,
    drained to a memory sink — hash-verified against the batch SQL
    oracle.  The replay carries a per-user end-of-stream sentinel
    (:data:`market_etl_spark.streaming.FLUSH_SENTINEL_US`), so open
    sessions close in-band, state drains to zero inside the data batch,
    and ``trigger(availableNow)`` terminates deterministically — no
    processing-time-timeout wall-clock (was a hard 3s floor; the
    timeout path remains in the operator for live 24/7 streams and is
    equivalence-tested in tests/test_streaming.py)."""
    stream = streaming.read_events_stream_with_flush(spark, sf_dir).filter(
        F.col("user_id") < 30
    )
    sink = streaming.run_to_memory_append_available_now(
        streaming.sessionize_stream(stream, live=False)
    )
    return spark.table(sink).orderBy("user_id", "session_start")


@query(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    WHERE user_id < 30
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "sessionization", "extension"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user — batch rendering of
    the custom stateful operator via lag-gap flag + running sum. The
    streaming applyInPandasWithState twin
    (:func:`market_etl_spark.streaming.sessionize_stream`) must agree
    on every closed session (tests/test_streaming.py)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    return streaming.sessionize_batch(e).orderBy("user_id", "session_start")


@query(
    "q_rollup_incremental_refresh",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           COUNT(*) AS num_trades,
           ROUND(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 6) AS total_volume,
           ROUND(SUM(value * CAST(event_id % 7 + 1 AS DOUBLE))
                 / NULLIF(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 0), 4) AS vwap_value,
           MIN(value) AS low,
           MAX(value) AS high
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("rollup", "incremental-refresh", "extension"),
)
def q_rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate maintenance: the rollup is
    built from history (ts < 2024-01-15), then a late delta (the rest)
    is folded in via :func:`market_etl_spark.rollups.refresh_rollup` —
    only the delta's raw rows are aggregated; the rolled history
    contributes aggregate rows alone. Serving daily candles from the
    incrementally-maintained rollup must hash-match the oracle's
    from-scratch recompute over ALL raw events — the associativity
    proof that repeated merges never drift."""
    from ..rollups import build_minute_rollup, refresh_rollup, serve_from_rollup

    e = load(spark, sf_dir, "events").withColumn(
        "qty", ((F.col("event_id") % 7) + 1).cast("double")
    )
    cut = F.lit("2024-01-15").cast("timestamp")
    history = build_minute_rollup(e.filter(F.col("ts") < cut))
    refreshed = refresh_rollup(history, e.filter(F.col("ts") >= cut))
    served = serve_from_rollup(refreshed, "day")
    # 4dp as in q_rollup_served_daily: rollup-path sums order differently
    return served.withColumn("vwap_value", F.round("vwap_value", 4)).orderBy(
        "day", "event_type"
    )


@query(
    "q_streaming_attribution",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts AS click_ts FROM events
        WHERE event_type = 'click' AND user_id < 40
    ), purchases AS (
        SELECT user_id, ts AS purchase_ts, value FROM events
        WHERE event_type = 'purchase' AND user_id < 40
    )
    SELECT c.user_id,
           COUNT(*) AS n_attributed,
           ROUND(SUM(p.value), 4) AS attributed_value,
           MIN(p.purchase_ts) AS first_purchase_ts,
           MAX(p.purchase_ts) AS last_purchase_ts
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts < c.click_ts + INTERVAL 2 HOUR
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
    tags=("streaming", "stream-stream-join", "extension"),
)
def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM watermarked interval join: purchases attributed to
    the same user's clicks within the preceding 2 hours, replayed
    through two watermarked stream sides whose join condition bounds
    the state Structured Streaming must hold (clicks past
    watermark + window are reclaimed). The drained (click, purchase)
    pairs aggregate per user and must hash-match the batch interval
    join the oracle runs — stream and batch semantics agree on a
    finite replay. The user_id < 40 cut keeps the pair fan-out
    result-sized."""
    stream = streaming.read_events_stream(spark, sf_dir).filter(
        F.col("user_id") < 40
    )
    pairs = streaming.attributed_purchases_stream(stream)
    # the user_id < 40 cut bounds keyed state to ≤40 join keys — 4
    # state partitions, not the session default, sizes checkpoint I/O
    sink = streaming.run_to_memory_append_available_now(pairs, partitions=4)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.round(F.sum("purchase_value"), 4).alias("attributed_value"),
            F.min("purchase_ts").alias("first_purchase_ts"),
            F.max("purchase_ts").alias("last_purchase_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "q_streaming_attribution_outer",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts AS click_ts FROM events
        WHERE event_type = 'click' AND user_id >= 0 AND user_id < 40
    ), purchases AS (
        SELECT user_id, ts AS purchase_ts, value FROM events
        WHERE event_type = 'purchase' AND user_id >= 0 AND user_id < 40
    )
    SELECT c.user_id,
           COUNT(*) AS n_rows,
           COUNT(p.purchase_ts) AS n_matched,
           CAST(SUM(CASE WHEN p.purchase_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched_clicks,
           ROUND(SUM(COALESCE(p.value, 0)), 4) AS attributed_value
    FROM clicks c LEFT JOIN purchases p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts < c.click_ts + INTERVAL 2 HOUR
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
    tags=("streaming", "stream-stream-join", "outer-join", "extension"),
)
def q_streaming_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, fully drained: clicks
    with no purchase in their 2-hour forward window emit null-extended
    rows — but ONLY in a batch whose watermark has passed
    click_ts + 2h, so the replay appends two far-future sentinel waves
    (user −1, both event types — the global watermark is the MIN of
    the two sides) that push the watermark months ahead and force the
    final eviction pass.  After the drain, the streamed LEFT OUTER
    result must equal the batch LEFT OUTER join exactly, which is
    what the oracle computes — no watermark term appears in the SQL,
    so the hash match proves the outer-join state machine (eager inner
    matches + watermark-certified null emission + state reclaim)
    converges to relational semantics on a finite replay.

    Scale: join state is bounded by watermark + window on both sides
    (the production contract for unbounded outer joins); the sentinel
    waves are O(1) rows."""
    stream = streaming.read_events_stream_outer_drain(spark, sf_dir).filter(
        F.col("user_id") < 40
    )
    pairs = streaming.attributed_clicks_outer_stream(stream)
    sink = streaming.run_to_memory_append_available_now(pairs, partitions=4)
    return (
        spark.table(sink)
        .filter(F.col("c_user") >= 0)  # drop the sentinel key
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purchase_ts").alias("n_matched"),
            F.sum(F.when(F.col("purchase_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched_clicks"),
            F.round(F.sum(F.coalesce("purchase_value", F.lit(0.0))), 4).alias(
                "attributed_value"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "q_streaming_cdc_upsert",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value,
           COUNT(DISTINCT day(ts)) AS n_days
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "cdc", "merge", "extension"),
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO (CDC apply): a multi-micro-batch replay is
    folded into a Hive-partitioned parquet target via foreachBatch →
    partition-scoped merge. The target is seeded with day ≤ 10 correct
    rows (must SURVIVE — the stream never touches them), day 11–20
    rows poisoned to value = -999 (must be UPDATED on key match), and
    nothing for day ≥ 21 (must be INSERTED, creating new partitions).
    The final on-disk state aggregates to the oracle's full-table
    recompute only if all three MERGE paths executed correctly across
    every micro-batch."""
    tag = sf_tag(sf_dir)
    path = str(SCRATCH / f"cdc_target_{tag}")
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    # one-scan seed: survive days (<=10) verbatim + poisoned days
    # (11-20) in a single projected pass (the prior unionByName form
    # scanned events twice for the same rows)
    seed = e.filter(F.col("day") <= 20).withColumn(
        "value",
        F.when(F.col("day") > 10, F.lit(-999.0)).otherwise(F.col("value")),
    )
    # no repartition before this write: the single-file source scan
    # runs in a handful of tasks, so fragmentation is bounded at
    # tasks x 20 dirs, and a day-clustering shuffle costs more than it
    # saves here (and would fan to shuffle.partitions empty tasks in a
    # vanilla 200-partition session)
    seed.write.mode("overwrite").partitionBy("day").parquet(path)
    # 2 time-ranged replay files (round-8 floor cuts: 5 → 3 → 2): the
    # day > 10 CDC cut still spans 2 non-empty micro-batches — the
    # first update-only (poisoned days 11-15), the second mixed
    # update+insert (16-20 updates, 21+ new partitions) — so all three
    # MERGE paths (survive / update / insert) still replay across
    # batch boundaries, at the minimum per-batch fixed cost (each
    # extra batch is a trigger + checkpoint commit + merge job round).
    stream = (
        streaming.read_events_stream_multibatch(spark, sf_dir, n_files=2)
        .withColumn("day", F.dayofmonth("ts"))
        .filter(F.col("day") > 10)
    )
    streaming.run_cdc_apply(stream, path, ["event_id"], ["day"])
    final = spark.read.parquet(path)
    return (
        final.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.countDistinct("day").alias("n_days"),
        )
        .orderBy("event_type")
    )


@query(
    "q_session_paths",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > 1800000000
                    OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WHERE user_id < 20
    ), sess AS (
        SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           string_agg(event_type, '→' ORDER BY ts, event_id) AS path
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("sessionize", "array-agg", "extension"),
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered ARRAY aggregation: each session's full event-type path
    as a list, ordered by (ts, event_id). Spark has no ORDER BY inside
    collect_list (collection order is partition-arbitrary), so the
    deterministic rendering is collect_list of (sort-key, value)
    structs → sort_array → field extraction — the struct sort carries
    the ordering through the unordered aggregate. Arrays stay
    session-sized (tens of elements); the extraction HOF runs over
    aggregated rows only.

    The path is rendered as ONE '→'-joined string, not a top-level
    array column: the driver's canonicalizer hashes pandas values and
    numpy arrays are unhashable (the round-2 q_value_quartiles /
    round-3 q_session_paths failure class — guarded fleet-wide by
    tests/test_registry_contract.py::test_no_complex_top_level_columns)."""

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            prev_ts.isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sid = F.sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("sid", sid)
    return (
        sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.expr(
                "array_join(transform(sort_array(collect_list(struct(ts,"
                " event_id, event_type))), x -> x.event_type), '→')"
            ).alias("path"),
        )
        .drop("sid")
        .orderBy("user_id", "session_start")
    )


@query(
    "q_streaming_windowed_topk",
    oracle="""
    WITH agg AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
                   AS value_micros
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1, 2
    )
    SELECT hour, event_type, n_events, value_micros
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY hour
            ORDER BY value_micros DESC, event_type) AS rn
        FROM agg
    ) WHERE rn <= 3
    ORDER BY hour, value_micros DESC, event_type
    """,
    tags=("streaming", "topk", "extension"),
)
def q_streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 'trending' top-k: the replayed stream aggregates into
    hourly per-event-type totals (watermarked tumbling windows, the
    streaming-state side), and the top-3-per-window rank runs OVER THE
    SINK — windows × types rows, never events — the standard
    two-layer serving shape for leaderboards (state in the stream,
    ranking at read time). Totals carried as exact integer micro-units
    so the cross-engine hash is FP-proof."""
    stream = streaming.read_events_stream(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("value_micros"),
        )
    )
    sink = streaming.run_to_memory(agg)

    rn = F.row_number().over(
        Window.partitionBy("hour").orderBy(
            F.col("value_micros").desc(), "event_type"
        )
    )
    return (
        spark.table(sink)
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "value_micros",
        )
        .withColumn("_rn", rn)
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
        .orderBy("hour", F.col("value_micros").desc(), "event_type")
    )


@query(
    "q_streaming_ivm",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("streaming", "ivm", "materialized-view", "extension"),
)
def q_streaming_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance (round-8: the batch
    delta algebra of ``q_ivm_join_maintenance`` run live): orders
    replay as 3 order-date-ranged micro-batches; every batch refreshes
    a STORED aggregated-join view via foreachBatch —

        M ← M ⊕ agg(Δorders ⋈ customer)

    a delta-sized broadcast join plus a segment-cardinality partial-agg
    merge, never a re-join or re-scan of the orders history.  The
    stored view (a tiny parquet table, localCheckpoint-severed from
    its own previous files before each overwrite) is the production
    shape of a continuously-maintained materialized view on plain
    parquet.  The oracle recomputes the view from the FINAL state in
    one shot, so the hash match proves per-batch maintenance converges
    to the from-scratch answer across every micro-batch boundary.

    Determinism: mergeable measures only (counts + exact
    cent-integers).  Scale: per-refresh work ∝ |Δ|; view size =
    segment cardinality; at 100 TB the delta broadcasts against a
    bucketed dimension and the view store is a single metadata-sized
    write per refresh."""

    from ..streaming import read_table_stream_multibatch

    tag = sf_tag(sf_dir)
    view_path = fresh_scratch(f"ivm_view_{tag}")

    dim = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    stream = read_table_stream_multibatch(
        spark, sf_dir, "orders", "o_orderdate", n_files=3
    ).select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def refresh(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        delta = (
            batch_df.join(dim, batch_df["o_custkey"] == dim["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
        )
        if pathlib.Path(view_path).exists():
            merged = (
                s.read.parquet(view_path)
                .unionByName(delta)
                .groupBy("c_mktsegment")
                .agg(
                    F.sum("n_orders").cast("long").alias("n_orders"),
                    F.sum("revenue_cents").cast("long").alias("revenue_cents"),
                )
            )
        else:
            merged = delta
        # sever the plan from the view files it is about to replace
        merged.coalesce(1).localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).parquet(view_path)

    # the view and every delta agg are segment-cardinality (5 keys)
    streaming._drain_foreach_batch(stream, refresh, shuffle_partitions=4)
    return spark.read.parquet(view_path).orderBy("c_mktsegment")


@query(
    "q_streaming_full_outer",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts AS click_ts FROM events
        WHERE event_type = 'click' AND user_id >= 0 AND user_id < 40
    ), purchases AS (
        SELECT user_id, ts AS purchase_ts, value FROM events
        WHERE event_type = 'purchase' AND user_id >= 0 AND user_id < 40
    ), j AS (
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               c.click_ts, p.purchase_ts, p.value
        FROM clicks c FULL JOIN purchases p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts < c.click_ts + INTERVAL 2 HOUR
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN click_ts IS NOT NULL
                          AND purchase_ts IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN purchase_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched_clicks,
           CAST(SUM(CASE WHEN click_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched_purchases,
           ROUND(SUM(CASE WHEN click_ts IS NOT NULL
                          THEN COALESCE(value, 0) ELSE 0 END), 4)
               AS attributed_value
    FROM j GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "stream-stream-join", "outer-join", "extension"),
)
def q_streaming_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, fully drained (round-8
    — completes the outer-join matrix next to the LEFT OUTER variant):
    clicks with no purchase in their forward 2-hour window AND
    purchases with no click in their backward window both emit
    null-extended rows, each only once the watermark certifies no
    match can arrive on the other side.  Same sentinel-wave drain as
    ``q_streaming_attribution_outer`` (the global watermark is the MIN
    over both sides, so both event types ride each wave); after the
    drain the streamed FULL OUTER equals the batch FULL OUTER exactly
    — the oracle computes the batch join with no watermark term, so
    the hash match proves BOTH null-emission state machines and their
    independent eviction bounds converge to relational semantics.

    Scale: state on each side is bounded by watermark + the join
    condition (the production contract for unbounded outer joins);
    sentinel waves are O(1) rows."""

    stream = streaming.read_events_stream_outer_drain(spark, sf_dir).filter(
        F.col("user_id") < 40
    )
    pairs = streaming.attributed_clicks_outer_stream(stream, how="fullOuter")
    sink = streaming.run_to_memory_append_available_now(pairs, partitions=4)
    matched = F.col("click_ts").isNotNull() & F.col("purchase_ts").isNotNull()
    return (
        spark.table(sink)
        .withColumn("user_id", F.coalesce("c_user", "p_user"))
        .filter(F.col("user_id") >= 0)  # drop the sentinel key
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(matched, 1).otherwise(0)).cast("long").alias("n_matched"),
            F.sum(F.when(F.col("purchase_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched_clicks"),
            F.sum(F.when(F.col("click_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched_purchases"),
            F.round(
                F.sum(
                    F.when(
                        F.col("click_ts").isNotNull(),
                        F.coalesce("purchase_value", F.lit(0.0)),
                    ).otherwise(F.lit(0.0))
                ),
                4,
            ).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


@query(
    "q_streaming_session_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) >= 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WHERE user_id < 30
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session-window", "extension"),
)
def q_streaming_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst's native ``session_window`` run as a STREAM (round-8 —
    the third rendering of sessionization next to the batch native
    window and the applyInPandasWithState twin, and a different state
    operator from both: streaming session aggregation uses the
    merging-sessions state store, which unions overlapping
    [start, last+gap) ranges per key across micro-batches).  The
    replay is the sentinel-flushed zone split 1-file-per-trigger:
    batch 1 carries the data (watermark still at zero — nothing
    emits), the sentinel batch moves the watermark months past every
    real session's end, and the closing no-data micro-batch emits all
    finalized sessions in append mode.  Sentinel sessions (one per
    user at 2099) never close and are dropped by the year filter; what
    remains must hash-match the batch lag-gap formulation — the
    oracle — proving the merging-session state machine converges to
    relational gap semantics on a finite replay.

    Scale: state is one [start, end) range per OPEN session per user,
    reclaimed at the watermark — the production contract for unbounded
    sessionization."""
    from ..streaming import _convert_ts

    # same staged zone as the pandas-state sessionizer, but replayed
    # 1-file-per-trigger so the watermark advances BETWEEN batches
    streaming.read_events_stream_with_flush(spark, sf_dir)  # stage zone
    tag = sf_tag(sf_dir)
    zone = SCRATCH / f"stream_src_{tag}_flush"
    schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema
    stream = _convert_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    ).filter(F.col("user_id") < 30)
    sessions = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    sink = streaming.run_to_memory_append_available_now(sessions, partitions=4)
    return (
        spark.table(sink)
        .filter(F.col("session_start") < F.lit("2030-01-01").cast("timestamp"))
        .orderBy("user_id", "session_start")
    )


@query(
    "q_streaming_semi_join",
    oracle="""
    SELECT p.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(SUM(p.value), 4) AS converted_value
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id < 40
      AND EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
      )
    GROUP BY p.user_id ORDER BY p.user_id
    """,
    tags=("streaming", "semi-join", "extension"),
)
def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (round-8 — EXISTS
    semantics, the fourth cell of the streaming join matrix next to
    inner / left outer / full outer): purchases that had AT LEAST ONE
    click from the same user in the preceding 2 hours, each emitted
    exactly once no matter how many clicks matched — the streaming
    form of a decorrelated EXISTS.  Both sides watermarked, the
    interval bound in the join condition reclaims click state past
    watermark + window; matched purchases emit eagerly, so the
    availableNow replay drains completely without sentinels.  The
    oracle is the batch EXISTS subquery — stream ≡ batch on a finite
    replay.

    Scale: state is keyed by user like the inner join's, but the left
    side stores only an emitted/not bit per purchase — semi-join
    state is strictly smaller than inner-join state at any rate."""

    stream = streaming.read_events_stream(spark, sf_dir).filter(
        F.col("user_id") < 40
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    converted = purchases.join(
        clicks,
        F.expr(
            """
            user_id = c_user AND
            click_ts >= purchase_ts - INTERVAL 2 HOURS AND
            click_ts <= purchase_ts
            """
        ),
        "left_semi",
    )
    sink = streaming.run_to_memory_append_available_now(converted, partitions=4)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.round(F.sum("purchase_value"), 4).alias("converted_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Chained streaming windows: two stateful operators in one query
# ---------------------------------------------------------------------------
@query(
    "q_streaming_chained_windows",
    oracle="""
    WITH m AS (
        SELECT date_trunc('minute', ts) AS minute, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('hour', minute) AS TIMESTAMP)
               + INTERVAL (CAST(EXTRACT(minute FROM minute) AS INT) // 10 * 10) MINUTE
               AS w10_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_minutes,
           CAST(MAX(n) AS BIGINT) AS peak_minute_events,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM m GROUP BY 1, 2
    ORDER BY w10_start, event_type
    """,
    tags=("streaming", "chained-windows", "extension"),
)
def q_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED event-time windows in ONE streaming query (round-8f —
    Spark 3.4's multiple-stateful-operator support, the surface none
    of the existing streaming queries exercise: every prior query has
    exactly one stateful operator; re-aggregating a windowed aggregate
    used to require two queries and an intermediate sink): minute
    counts per event_type (stateful op #1) re-aggregated into 10-minute
    peak/total rollups keyed by ``window_time`` (stateful op #2), both
    in append mode in a single plan.  The replay is the sentinel-
    flushed zone (1 file per trigger) so the watermark crosses BOTH
    operators' windows and flushes them; sentinel windows land in 2099
    and are dropped by the year filter.  The oracle recomputes both
    window levels in batch SQL — a hash match proves the chained state
    machines compose to the relational two-level GROUP BY.

    Scale: the second operator's state is minute-cardinality (already
    1000x reduced), and the chain eliminates the intermediate sink +
    re-read that a two-query pipeline pays at any scale."""
    from ..streaming import _convert_ts

    streaming.read_events_stream_with_flush(spark, sf_dir)  # stage zone
    tag = sf_tag(sf_dir)
    zone = SCRATCH / f"stream_src_{tag}_flush"
    schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema
    stream = _convert_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    ).filter(
        (
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        # sentinel rows must SURVIVE to advance the watermark
        | (F.col("ts") >= F.lit("2099-01-01").cast("timestamp"))
    )
    minute = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ten = (
        minute.groupBy(
            F.window(F.window_time("w1"), "10 minutes").alias("w10"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_minutes"),
            F.max("n").cast("long").alias("peak_minute_events"),
            F.sum("n").cast("long").alias("total_events"),
        )
        .select(
            F.col("w10.start").alias("w10_start"),
            "event_type",
            "n_minutes",
            "peak_minute_events",
            "total_events",
        )
    )
    sink = streaming.run_to_memory_append_available_now(ten, partitions=4)
    return (
        spark.table(sink)
        .filter(F.col("w10_start") < F.lit("2030-01-01").cast("timestamp"))
        .orderBy("w10_start", "event_type")
    )


_FEED_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props", "day"]


def _stage_cdc_feed(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Stage the mixed CDC feed (fingerprint-keyed, mtime-pinned — the
    multibatch zone discipline).  Four deterministic change sets
    derived from the events table:

    - updates: days 11–15, value + 1000, op = 'U'
    - inserts: days 21–25 re-keyed to event_id + 1e8, value × 2,
      op = 'I'
    - tombstones (op = 'D'): the original day 1–5 clicks AND the day
      21–23 subset of the inserts — the cross-batch
      insert-then-delete case.

    ``n_files=2`` packs [updates+inserts, deletes]; ``n_files=3``
    packs [updates, inserts, deletes] (the crash-recovery drill needs
    a committed batch BEFORE the crash batch).  Deletes always ride
    last, after the inserts they kill.  The final applied state is
    identical for both splits.
    """

    apply_runtime_conf(spark)
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "events.parquet")
    zone = SCRATCH / f"cdc_delete_feed_{tag}_{fp}_{n_files}"

    def batches():
        e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
        new_id = (F.col("event_id") + F.lit(100_000_000)).cast("long")
        upd = (
            e.filter(F.col("day").between(11, 15))
            .withColumn("value", F.col("value") + F.lit(1000.0))
            .withColumn("op", F.lit("U"))
        )
        ins = (
            e.filter(F.col("day").between(21, 25))
            .withColumn("event_id", new_id)
            .withColumn("value", F.col("value") * F.lit(2.0))
            .withColumn("op", F.lit("I"))
        )
        del_orig = e.filter(
            F.col("day").between(1, 5) & (F.col("event_type") == "click")
        ).withColumn("op", F.lit("D"))
        del_ins = (
            e.filter(F.col("day").between(21, 23))
            .withColumn("event_id", new_id)
            .withColumn("op", F.lit("D"))
        )
        deletes = del_orig.unionByName(del_ins)
        split = (upd.unionByName(ins), deletes) if n_files == 2 else (upd, ins, deletes)
        return [(f"batch-{i}", b.select(*_FEED_COLS, "op")) for i, b in enumerate(split)]

    stage_batch_files(zone, batches)
    return str(zone)


@query(
    "q_streaming_cdc_delete",
    oracle="""
    WITH base AS (
        SELECT event_type, value, day(ts) AS d FROM events
    ), final AS (
        SELECT event_type,
               CASE WHEN d BETWEEN 11 AND 15 THEN value + 1000
                    ELSE value END AS value,
               d
        FROM base
        WHERE NOT (d BETWEEN 1 AND 5 AND event_type = 'click')
        UNION ALL
        SELECT event_type, value * 2 AS value, d
        FROM base
        WHERE d BETWEEN 24 AND 25
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS total_value_micros,
           COUNT(DISTINCT d) AS n_days
    FROM final
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "cdc", "merge", "delete", "extension"),
)
def q_streaming_cdc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE with TOMBSTONES — the CDC delete path
    (``WHEN MATCHED AND op = 'D' THEN DELETE``, the clause every real
    CDC feed carries per Debezium/Delta) threaded through
    :func:`..streaming.run_cdc_apply`.

    The target is seeded with the FULL events table (day-partitioned);
    a 2-micro-batch replay then applies a mixed feed: batch 1 updates
    days 11–15 (value + 1000) and inserts re-keyed day 21–25 rows
    (value × 2); batch 2 deletes the original day 1–5 clicks AND the
    day 21–23 subset of batch 1's inserts.  The cross-batch
    insert-then-delete works because each batch merges against the
    accumulated on-disk state — exactly the ordering hazard a
    single-batch apply never exercises.  The final on-disk state
    aggregates to the oracle's from-scratch recompute only if all
    FOUR merge paths (survive / update / insert / delete) executed
    correctly across the batch boundary.

    Scale: each batch rewrites only its affected day partitions
    (partition-pruned merge); the value sum is integer-quantized
    micros (exact arithmetic — no cross-engine float association).
    """
    zone = _stage_cdc_feed(spark, sf_dir, n_files=2)
    tag = sf_tag(sf_dir)
    path = str(SCRATCH / f"cdc_del_target_{tag}")
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    e.write.mode("overwrite").partitionBy("day").parquet(path)
    schema = spark.read.parquet(f"{zone}/batch-0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(zone)
    )
    streaming.run_cdc_apply(stream, path, ["event_id"], ["day"], op_col="op")
    final = spark.read.parquet(path)
    return (
        final.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("total_value_micros"),
            F.countDistinct("day").alias("n_days"),
        )
        .orderBy("event_type")
    )


@query(
    "q_streaming_crash_recovery",
    oracle="""
    WITH base AS (
        SELECT event_type, value, day(ts) AS d FROM events
    ), final AS (
        SELECT event_type,
               CASE WHEN d BETWEEN 11 AND 15 THEN value + 1000
                    ELSE value END AS value,
               d
        FROM base
        WHERE NOT (d BETWEEN 1 AND 5 AND event_type = 'click')
        UNION ALL
        SELECT event_type, value * 2 AS value, d
        FROM base
        WHERE d BETWEEN 24 AND 25
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS total_value_micros,
           COUNT(DISTINCT d) AS n_days,
           FALSE AS batch0_reprocessed,
           TRUE AS crash_batch_replayed
    FROM final
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "cdc", "crash-recovery", "exactly-once", "extension"),
)
def q_streaming_crash_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint CRASH-RECOVERY drill (exactly-once audit): a
    foreachBatch CDC stream over a 3-batch feed [updates / inserts /
    deletes] is KILLED by an injected fault after batch 1's merge has
    landed on disk but before its commit — the smallest window where
    at-least-once duplication is possible — then restarted from the
    SAME checkpoint.

    What the restart must prove (and the oracle + telemetry columns
    pin): batch 0's files are NOT re-read (its commit is in the log —
    ``batch0_reprocessed`` comes from the restarted run's applied-batch
    ids), batch 1 IS replayed from the offset log with the identical
    file set (``crash_batch_replayed``) and its double-applied merge is
    idempotent (last-writer-wins upserts), and batch 2's deletes —
    which kill a subset of the twice-applied inserts — still land.
    The final table state therefore equals the clean-run oracle
    exactly: no dups, no loss, across a kill/restart boundary.

    Scale posture: recovery work is O(uncommitted batch), never a
    re-scan of the feed; this is the property that makes a 1000-box
    streaming job restartable at all."""
    zone = _stage_cdc_feed(spark, sf_dir, n_files=3)
    tag = sf_tag(sf_dir)
    path = str(SCRATCH / f"cdc_crash_target_{tag}")
    ckpt = SCRATCH / f"cdc_crash_ckpt_{tag}"
    shutil.rmtree(ckpt, ignore_errors=True)  # fresh drill every run
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    e.write.mode("overwrite").partitionBy("day").parquet(path)
    schema = spark.read.parquet(f"{zone}/batch-0.parquet").schema

    def feed() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(zone)
        )

    run1: list[int] = []
    clean = streaming.run_cdc_apply_resumable(
        feed(), path, ["event_id"], ["day"], str(ckpt),
        op_col="op", crash_after_batch=1, applied_log=run1,
    )
    require(not clean and run1 == [0, 1], (clean, run1))
    run2: list[int] = []
    clean = streaming.run_cdc_apply_resumable(
        feed(), path, ["event_id"], ["day"], str(ckpt),
        op_col="op", applied_log=run2,
    )
    require(clean, "restarted run must terminate cleanly")
    shutil.rmtree(ckpt, ignore_errors=True)
    final = spark.read.parquet(path)
    return (
        final.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("total_value_micros"),
            F.countDistinct("day").alias("n_days"),
        )
        .withColumn("batch0_reprocessed", F.lit(0 in run2))
        .withColumn("crash_batch_replayed", F.lit(1 in run2))
        .orderBy("event_type")
    )


def _stage_retract_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 2-file insert/retract feed for
    :func:`q_streaming_ivm_retract` (fingerprint-keyed, mtime-pinned):
    batch 0 INSERTS every event with day ≤ 25 (op = 'I'); batch 1
    RETRACTS the day 1–5 clicks (op = 'D') — the retraction arrives a
    batch after the insert it cancels."""

    apply_runtime_conf(spark)
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "events.parquet")
    zone = SCRATCH / f"ivm_retract_feed_{tag}_{fp}"

    def batches():
        e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
        ins = e.filter(F.col("day") <= 25).withColumn("op", F.lit("I"))
        ret = e.filter(
            F.col("day").between(1, 5) & (F.col("event_type") == "click")
        ).withColumn("op", F.lit("D"))
        return [(f"batch-{i}", b.select("event_type", "value", "op")) for i, b in enumerate((ins, ret))]

    stage_batch_files(zone, batches)
    return str(zone)


@query(
    "q_streaming_ivm_retract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS value_micros
    FROM events
    WHERE day(ts) <= 25
      AND NOT (day(ts) BETWEEN 1 AND 5 AND event_type = 'click')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "ivm", "retraction", "materialized-view", "extension"),
)
def q_streaming_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance UNDER RETRACTIONS — the delta
    algebra ``q_streaming_ivm`` runs for inserts, extended to the
    signed form every CDC-fed materialized view needs:

        M ← M ⊕ agg(Δ × w),  w = −1 for op='D', +1 otherwise

    Batch 0 inserts the day ≤ 25 events; batch 1 retracts the day 1–5
    clicks — deletes landing a micro-batch AFTER the inserts they
    cancel, so the view must decrement counts and sums it already
    published (the hard half of IVM; the easy half is append).  Rows
    whose multiplicity reaches zero leave the view entirely (the
    day-1–5 click group, if clicks were ever its own key).  Measures
    are count + exact integer micros — signed merge is associative
    and engine-exact; AVG-style measures would be maintained as
    (sum, count) pairs the same way.

    Scale: per-refresh work ∝ |Δ|, the view stays key-cardinality
    sized, and nothing ever re-scans history — the production shape
    of a continuously-maintained aggregate under upstream deletes."""
    view_path = fresh_scratch(f"ivm_retract_view_{sf_tag(sf_dir)}")
    zone = _stage_retract_feed(spark, sf_dir)
    schema = spark.read.parquet(f"{zone}/batch-0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(zone)
    )

    def refresh(batch_df: DataFrame, _batch_id: int) -> None:
        s = batch_df.sparkSession
        w = F.when(F.col("op") == "D", F.lit(-1)).otherwise(F.lit(1))
        delta = (
            batch_df.withColumn("_w", w)
            .groupBy("event_type")
            .agg(
                F.sum("_w").cast("long").alias("n_events"),
                F.sum(
                    F.col("_w") * F.round(F.col("value") * 1e6, 0).cast("long")
                )
                .cast("long")
                .alias("value_micros"),
            )
        )
        if pathlib.Path(view_path).exists():
            merged = (
                s.read.parquet(view_path)
                .unionByName(delta)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").cast("long").alias("n_events"),
                    F.sum("value_micros").cast("long").alias("value_micros"),
                )
                .filter(F.col("n_events") != 0)  # zero-multiplicity exit
            )
        else:
            merged = delta.filter(F.col("n_events") != 0)
        # sever the plan from the view files it is about to replace
        merged.coalesce(1).localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).parquet(view_path)

    streaming._drain_foreach_batch(stream, refresh, shuffle_partitions=4)
    return spark.read.parquet(view_path).orderBy("event_type")


_TIER = (
    "CASE WHEN n >= 60 THEN 'heavy' WHEN n >= 30 THEN 'mid' "
    "ELSE 'light' END"
)


def _stage_scd2_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 2-file attribute-change feed for
    :func:`q_streaming_scd2_apply`: batch 0 carries each active
    user's HALF-MONTH activity tier (effective 2024-01-16), batch 1
    the FULL-period tier (effective 2024-01-31).  Tiers are integer
    count buckets — deterministic in both engines."""

    apply_runtime_conf(spark)
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "events.parquet")
    zone = SCRATCH / f"scd2_feed_{tag}_{fp}"

    def batches():
        e = load(spark, sf_dir, "events")
        half = (
            e.filter(F.dayofmonth("ts") <= 15)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.expr(_TIER).alias("tier"),
                F.lit("2024-01-16").cast("timestamp").alias("effective_ts"),
            )
        )
        full = (
            e.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.expr(_TIER).alias("tier"),
                F.lit("2024-01-31").cast("timestamp").alias("effective_ts"),
            )
        )
        return [("batch-0", half), ("batch-1", full)]

    stage_batch_files(zone, batches)
    return str(zone)


@query(
    "q_streaming_scd2_apply",
    oracle=f"""
    WITH a AS (
        SELECT user_id, COUNT(*) AS n FROM events
        WHERE day(ts) <= 15 GROUP BY user_id
    ), b AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), ta AS (
        SELECT user_id, {_TIER} AS tier FROM a
    ), tb AS (
        SELECT user_id, {_TIER} AS tier FROM b
    ), hist AS (
        -- changed: closed half-month row + open full-period row
        SELECT ta.user_id, ta.tier,
               TIMESTAMP '2024-01-16' AS valid_from,
               TIMESTAMP '2024-01-31' AS valid_to, FALSE AS is_current
        FROM ta JOIN tb ON ta.user_id = tb.user_id AND ta.tier <> tb.tier
        UNION ALL
        SELECT ta.user_id, tb.tier, TIMESTAMP '2024-01-31', NULL, TRUE
        FROM ta JOIN tb ON ta.user_id = tb.user_id AND ta.tier <> tb.tier
        -- unchanged: the original open row survives
        UNION ALL
        SELECT ta.user_id, ta.tier, TIMESTAMP '2024-01-16', NULL, TRUE
        FROM ta JOIN tb ON ta.user_id = tb.user_id AND ta.tier = tb.tier
        -- late joiners (first event after day 15): one open row
        UNION ALL
        SELECT tb.user_id, tb.tier, TIMESTAMP '2024-01-31', NULL, TRUE
        FROM tb ANTI JOIN ta ON ta.user_id = tb.user_id
    )
    SELECT user_id, tier, valid_from, valid_to, is_current
    FROM hist ORDER BY user_id, valid_from
    """,
    tags=("streaming", "scd2", "dimension", "extension"),
)
def q_streaming_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Type-2 dimension maintenance — the missing cell of
    the matrix (batch SCD2: ``q_scd2_apply`` / iterated fold:
    ``q_scd2_history_build`` / streaming SCD1: the CDC upsert): a
    2-micro-batch attribute-change feed drives
    :func:`..merge.scd2_apply` through foreachBatch against a STORED
    dimension, starting from empty.

    Batch 0 opens a row per active user (half-month tier); batch 1
    closes the rows whose tier changed at the new effective time,
    opens their successors, passes unchanged rows through untouched,
    and inserts late joiners — the full Kimball contract across a
    micro-batch boundary.  The oracle enumerates the expected history
    (closed + reopened + surviving + late) from the raw events, so a
    hash match proves every SCD2 path executed correctly under
    streaming delivery.

    Scale: each apply joins the OPEN slice against a broadcastable
    delta (``updates_unique + broadcast_updates`` — the checkpointed
    dimension's unknown stats never push a two-sided shuffle), and
    closed history is pass-through: cost ∝ |open| + |Δ|, never
    history depth."""
    from ..merge import scd2_apply

    tag = sf_tag(sf_dir)
    dim_path = fresh_scratch(f"scd2_dim_{tag}")
    zone = _stage_scd2_feed(spark, sf_dir)
    schema = spark.read.parquet(f"{zone}/batch-0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(zone)
    )
    # JVM-side empty seed (range(0) → LocalRelation), NOT
    # createDataFrame([], schema): the latter parallelizes an empty
    # PYTHON RDD over defaultParallelism, and batch 0's apply then
    # forks 32 Python workers just to scan nothing — measured 21 s of
    # the query's 24 s (the etl_pipeline.py:586 lesson, relearned)
    empty_dim = spark.range(0).select(
        F.col("id").alias("user_id"),
        F.lit(None).cast("string").alias("tier"),
        F.lit(None).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(None).cast("boolean").alias("is_current"),
    )

    def apply(batch_df: DataFrame, _batch_id: int) -> None:
        s = batch_df.sparkSession
        current = (
            s.read.parquet(dim_path)
            if pathlib.Path(dim_path).exists()
            else empty_dim
        )
        nxt = scd2_apply(
            current,
            batch_df,
            ["user_id"],
            ["tier"],
            updates_unique=True,
            broadcast_updates=True,
        )
        nxt.coalesce(1).localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).parquet(dim_path)

    streaming._drain_foreach_batch(stream, apply, shuffle_partitions=4)
    return spark.read.parquet(dim_path).orderBy("user_id", "valid_from")
