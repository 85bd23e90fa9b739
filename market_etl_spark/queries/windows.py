"""Window-function extensions (SURVEY.md §2.5 / §7.2 M-f).

The reference has no OVER clauses — time-bucketing is GROUP BY
date_trunc — but its correlation/candle queries are exactly where a
windowed engine adds lag returns, rolling VWAP, and per-group top-N.
All three are classic market-data windows, all oracle-checkable.

Scale: every window below partitions by a bounded key (event_type) and
orders within partition — Spark executes one hash-partitioned shuffle
+ in-partition sort; no global sort, frames are incremental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import round6, safe_div, vwap
from ..tables import load
from .registry import query

#: Shared minute-VWAP series (the Q2/Q6 aggregation, reused as input).
_MINUTE_SERIES_SQL = """
    SELECT event_type,
           date_trunc('minute', ts) AS minute,
           ROUND(SUM(value * qty) / NULLIF(SUM(qty), 0), 6) AS vwap_value,
           SUM(qty) AS vol
    FROM (SELECT *, CAST(event_id % 7 + 1 AS DOUBLE) AS qty FROM events)
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    GROUP BY event_type, date_trunc('minute', ts)
"""


def minute_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "qty", ((F.col("event_id") % 7) + 1).cast("double")
    )
    return (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .groupBy("event_type", F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            round6(vwap(F.col("value"), F.col("qty"))).alias("vwap_value"),
            F.sum("qty").alias("vol"),
        )
    )


@query(
    "q_window_lag_returns",
    oracle=f"""
    WITH ms AS ({_MINUTE_SERIES_SQL})
    SELECT event_type, minute, vwap_value,
           ROUND((vwap_value - LAG(vwap_value) OVER w)
                 / NULLIF(LAG(vwap_value) OVER w, 0) * 100, 6) AS pct_return
    FROM ms
    WINDOW w AS (PARTITION BY event_type ORDER BY minute)
    ORDER BY event_type, minute
    """,
    tags=("windows", "extension"),
)
def q_window_lag_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute-over-minute percentage returns per series: LAG over a
    (event_type, minute-ordered) window — the delta computation the
    reference's correlation query (Q6) stops short of."""
    w = Window.partitionBy("event_type").orderBy("minute")
    ms = minute_series(spark, sf_dir)
    prev = F.lag("vwap_value").over(w)
    return ms.select(
        "event_type",
        "minute",
        "vwap_value",
        round6(safe_div(F.col("vwap_value") - prev, prev) * 100).alias("pct_return"),
    ).orderBy("event_type", "minute")


@query(
    "q_window_rolling_vwap",
    oracle=f"""
    WITH ms AS ({_MINUTE_SERIES_SQL}),
    q AS (
        SELECT event_type, minute,
               CAST(ROUND(vwap_value * 1000000) AS BIGINT) AS v6,
               CAST(vol AS BIGINT) AS voll
        FROM ms
    ), framed AS (
        SELECT event_type, minute,
               SUM(v6 * voll) OVER w AS num,
               SUM(voll) OVER w AS den
        FROM q
        WINDOW w AS (PARTITION BY event_type ORDER BY minute
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, minute,
           CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                * ((2 * ABS(num) + den) // (2 * den)) AS DOUBLE) / 1000000
               AS rolling_vwap_5m
    FROM framed
    ORDER BY event_type, minute
    """,
    tags=("windows", "extension"),
)
def q_window_rolling_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute rolling VWAP: ratio of two framed sums (ROWS BETWEEN 4
    PRECEDING AND CURRENT ROW) — incremental frame evaluation, no
    self-join re-scan per offset.

    The entire computation after the per-minute aggregate runs in
    exact INTEGER space — both the framed sums AND the final rounding:

    - engines ORDER frame summation differently (sliding add/remove vs
      segment trees), so double accumulation can differ in the last
      ulp and straddle a rounding boundary; the per-minute vwap is
      already quantized to 1e-6 by round6 (within one ulp of
      integer×1e-6), so it scales losslessly to BIGINT and 64-bit sums
      are identical in any order;
    - engines also ROUND ties differently (Spark HALF_UP, DuckDB
      half-even) — and a ratio of small integers CAN land exactly on a
      tie (observed at sf0.1: 1741860003/26 = …615.5 precisely), so
      the 6-decimal rounding is performed as integer math too:
      ``sign(num) · ((2·|num| + den) div (2·den))`` is HALF-AWAY-FROM-
      ZERO in micro-units on both engines by construction.  The
      explicit sign guard matters: Spark's ``div`` truncates toward
      zero while DuckDB's ``//`` floors, so a NEGATIVE numerator
      (events.value is not guaranteed positive) would otherwise
      diverge between engines; over ``|num| ≥ 0`` and ``den > 0``
      floor and truncate coincide."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(-4, Window.currentRow)
    )
    ms = minute_series(spark, sf_dir)
    v6 = F.round(F.col("vwap_value") * 1000000).cast("long")
    voll = F.col("vol").cast("long")
    framed = ms.select(
        "event_type",
        "minute",
        F.sum(v6 * voll).over(w).alias("_num"),
        F.sum(voll).over(w).alias("_den"),
    )
    return framed.select(
        "event_type",
        "minute",
        (
            F.expr(
                "(CASE WHEN _num < 0 THEN -1 ELSE 1 END)"
                " * ((2 * abs(_num) + _den) div (2 * _den))"
            ).cast("double")
            / 1000000
        ).alias("rolling_vwap_5m"),
    ).orderBy("event_type", "minute")


@query(
    "q_hopping_window_vwap",
    oracle="""
    WITH base AS (
        SELECT ts, event_type, value, CAST(event_id % 7 + 1 AS DOUBLE) AS qty
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    ), expanded AS (
        SELECT UNNEST([
                   make_timestamp((epoch_us(ts) // 300000000) * 300000000),
                   make_timestamp((epoch_us(ts) // 300000000) * 300000000)
                       - INTERVAL 5 MINUTE
               ]) AS w_start,
               event_type, value, qty
        FROM base
    )
    SELECT w_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(qty), 6) AS total_volume,
           ROUND(SUM(value * qty) / NULLIF(SUM(qty), 0), 6) AS vwap_value
    FROM expanded
    GROUP BY w_start, event_type
    ORDER BY w_start, event_type
    """,
    tags=("windows", "hopping-window", "extension"),
)
def q_hopping_window_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) time windows: 10-minute VWAP candles every 5
    minutes via ``F.window(ts, "10 minutes", "5 minutes")`` — each row
    lands in exactly size/slide = 2 overlapping windows, expanded by a
    single Expand node before one partial-aggregated shuffle (no
    self-join per offset, no re-scan). The oracle reproduces Spark's
    epoch-aligned window-start arithmetic with an UNNEST of the two
    bucket starts each row belongs to."""
    e = load(spark, sf_dir, "events").withColumn(
        "qty", ((F.col("event_id") % 7) + 1).cast("double")
    )
    return (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            round6(F.sum("qty")).alias("total_volume"),
            round6(vwap(F.col("value"), F.col("qty"))).alias("vwap_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_events",
            "total_volume",
            "vwap_value",
        )
        .orderBy("w_start", "event_type")
    )


@query(
    "q_session_window_native",
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
    tags=("windows", "session-window", "extension"),
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst's NATIVE session windows: ``F.session_window(ts, gap)``
    merges each user's events into [first, last + gap) sessions inside
    the aggregation operator itself — one shuffle on (user_id, window),
    no lag/running-sum window pass. Complements ``q_sessionize`` (the
    explicit lag-gap rendering) and the applyInPandasWithState
    streaming twin; the oracle IS the lag-gap formulation, proving the
    three renderings agree. Note Spark's half-open merge rule: an event
    exactly gap after its predecessor starts a NEW session, hence the
    oracle's >= on the gap comparison."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            round6(F.sum("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_window_topn_per_group",
    oracle="""
    SELECT event_type, event_id, value
    FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value DESC, event_id
               ) AS rn
        FROM events
    )
    WHERE rn <= 3
    ORDER BY event_type, value DESC, event_id
    """,
    tags=("windows", "extension"),
)
def q_window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per type via row_number — the per-group
    complement of the corpus's global top-k (O2). The rank filter
    pushes into the window sort (Spark's WindowGroupLimit), so each
    partition keeps a 3-row heap instead of fully sorting."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.select("event_type", "event_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("event_type", F.desc("value"), "event_id")
    )


@query(
    "q_gapfill_forward_vwap",
    oracle="""
    WITH candles AS (
        SELECT event_type, date_trunc('minute', ts) AS minute,
               ROUND(SUM(value * CAST(event_id % 7 + 1 AS DOUBLE))
                     / NULLIF(SUM(CAST(event_id % 7 + 1 AS DOUBLE)), 0), 6)
                   AS vwap,
               COUNT(*) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15'
          AND ts < TIMESTAMP '2024-01-15 06:00:00'
        GROUP BY 1, 2
    ), spine AS (
        SELECT t.event_type, s.m AS minute
        FROM (SELECT DISTINCT event_type FROM candles) t,
             generate_series(TIMESTAMP '2024-01-15',
                             TIMESTAMP '2024-01-15 05:59:00',
                             INTERVAL 1 MINUTE) s(m)
    )
    SELECT sp.event_type, sp.minute,
           COALESCE(c.n, 0) AS n_trades,
           c.vwap AS vwap_raw,
           LAST_VALUE(c.vwap IGNORE NULLS) OVER (
               PARTITION BY sp.event_type ORDER BY sp.minute
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS vwap_filled
    FROM spine sp LEFT JOIN candles c
      ON sp.event_type = c.event_type AND sp.minute = c.minute
    ORDER BY sp.event_type, sp.minute
    """,
    tags=("windows", "gap-fill", "time-series", "extension"),
)
def q_gapfill_forward_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable ``time_bucket_gapfill``
    + ``locf`` shape): a dense minute spine per series LEFT-joins the
    sparse VWAP candles, and empty minutes carry the last observed
    VWAP forward via ``last(..., ignorenulls=True)`` over an
    unbounded-preceding frame. The fact table is touched ONLY by the
    candle aggregation; the spine is generated with ``sequence()`` +
    explode (types × minutes rows — dimension-sized, broadcast into
    the join), and the fill window runs over the aggregated spine,
    never raw events."""
    e = load(spark, sf_dir, "events").withColumn(
        "qty", ((F.col("event_id") % 7) + 1).cast("double")
    )
    candles = (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15 06:00:00").cast("timestamp"))
        )
        .groupBy("event_type", F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            round6(vwap(F.col("value"), F.col("qty"))).alias("vwap"),
            F.count("*").alias("n"),
        )
    )
    spine = (
        candles.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.expr(
                    "sequence(timestamp'2024-01-15', "
                    "timestamp'2024-01-15 05:59:00', interval 1 minute)"
                )
            ).alias("minute"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(candles, ["event_type", "minute"], "left")
        .select(
            "event_type",
            "minute",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_trades"),
            F.col("vwap").alias("vwap_raw"),
            F.last("vwap", ignorenulls=True).over(w).alias("vwap_filled"),
        )
        .orderBy("event_type", "minute")
    )


@query(
    "q_window_open_close_range",
    oracle=f"""
    WITH ms AS ({_MINUTE_SERIES_SQL})
    SELECT event_type, minute, vwap_value,
           ROUND(FIRST_VALUE(vwap_value) OVER w, 6) AS session_open,
           ROUND(LAST_VALUE(vwap_value) OVER w, 6) AS running_close,
           ROUND(MAX(vwap_value) OVER w - MIN(vwap_value) OVER w, 6)
               AS running_range
    FROM ms
    WINDOW w AS (PARTITION BY event_type ORDER BY minute
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY event_type, minute
    """,
    tags=("windows", "extension"),
)
def q_window_open_close_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE with an explicit growing frame: each
    minute sees the session open (first value so far), the running
    close (the frame's last row — CURRENT ROW, not the default peers
    frame whose RANGE end would leak ties), and the running high-low
    range — the candle-in-progress rendering of a live session.

    One shuffle on event_type; all four window aggregates share the
    single sorted frame pass. The explicit ROWS frame matters for
    cross-engine parity: LAST_VALUE under the default RANGE frame
    includes ORDER-BY peers, which engines tie-break differently."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ms = minute_series(spark, sf_dir)
    return ms.select(
        "event_type",
        "minute",
        "vwap_value",
        round6(F.first("vwap_value").over(w)).alias("session_open"),
        round6(F.last("vwap_value").over(w)).alias("running_close"),
        round6(F.max("vwap_value").over(w) - F.min("vwap_value").over(w)).alias(
            "running_range"
        ),
    ).orderBy("event_type", "minute")


@query(
    "q_window_ewma",
    oracle="""
    WITH r AS (
        SELECT event_type, ts, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 5
    )
    SELECT a.event_type, a.rn, COUNT(*) AS n_terms,
           ROUND(SUM(b.value * POWER(0.8, a.rn - b.rn)) /
                 SUM(POWER(0.8, a.rn - b.rn)), 6) AS ewma
    FROM r a JOIN r b
      ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 19 AND a.rn
    GROUP BY a.event_type, a.rn
    ORDER BY a.event_type, a.rn
    """,
    tags=("window", "financial", "extension"),
)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over the trailing 20
    observations per series (α = 0.2, normalized weights) — the
    smoothing every market feed applies before signals. The linear
    recurrence is unrolled over a BOUNDED frame: a rank band self-join
    (b.rn ∈ [a.rn-19, a.rn]) with weight (1-α)^(a.rn-b.rn), so the
    fan-out is a constant 20× of the series rows — never history-deep —
    and both engines evaluate the identical finite sum (the infinite-
    history recurrence would accumulate engine-specific fp drift).
    Rank assignment is one window per series; the band is realized as a
    BUCKETED range join (ADVICE r4): ranks hash into width-20 buckets,
    each anchor probes only the ≤2 consecutive buckets its 20-row band
    can span, and the exact band predicate filters inside the bucket —
    candidate fan-out is ≤40 rows per anchor regardless of series
    length, vs the per-series cross product a bare equi-join on the
    low-cardinality event_type would produce."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    r = e.select(
        "event_type", "value", F.row_number().over(w).alias("rn")
    )
    a = r.select(
        F.col("event_type"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(F.greatest(F.col("rn") - 19, F.lit(1)) / 20),
                    F.floor(F.col("rn") / 20),
                )
            )
        ).alias("bkt"),
    )
    b = r.select(
        F.col("event_type"),
        F.floor(F.col("rn") / 20).alias("bkt"),
        F.col("rn").alias("rn_b"),
        F.col("value").alias("v_b"),
    )
    wgt = F.pow(F.lit(0.8), F.col("rn_a") - F.col("rn_b"))
    return (
        a.join(b, ["event_type", "bkt"])
        .filter(
            (F.col("rn_b") >= F.col("rn_a") - 19)
            & (F.col("rn_b") <= F.col("rn_a"))
        )
        .groupBy("event_type", F.col("rn_a").alias("rn"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(
                F.sum(F.col("v_b") * wgt) / F.sum(wgt), 6
            ).alias("ewma"),
        )
        .orderBy("event_type", "rn")
    )


@query(
    "q_window_drawdown",
    oracle="""
    WITH vv AS (
        SELECT event_type, ts, event_id, value,
               MAX(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS running_peak
        FROM events WHERE user_id < 5
    ), dd AS (
        SELECT event_type,
               ROUND(running_peak - value, 6) AS drawdown,
               CASE WHEN running_peak > 0
                    THEN ROUND((running_peak - value) / running_peak, 6)
                    ELSE 0 END AS drawdown_pct
        FROM vv
    )
    SELECT event_type,
           ROUND(MAX(drawdown), 6) AS max_drawdown,
           ROUND(MAX(drawdown_pct), 6) AS max_drawdown_pct,
           COUNT(*) AS n_obs
    FROM dd
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("window", "financial", "extension"),
)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — peak-to-trough loss under a
    running maximum, the standard risk statistic. One window pass
    (running MAX over the (ts, event_id) order, partitioned per
    series — state is a single scalar per partition) followed by a
    partial-agg roll-up; nothing history-deep, nothing quadratic."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    vv = e.select(
        "event_type",
        F.round(peak - F.col("value"), 6).alias("drawdown"),
        F.when(
            peak > 0, F.round((peak - F.col("value")) / peak, 6)
        )
        .otherwise(0.0)
        .alias("drawdown_pct"),
    )
    return (
        vv.groupBy("event_type")
        .agg(
            F.round(F.max("drawdown"), 6).alias("max_drawdown"),
            F.round(F.max("drawdown_pct"), 6).alias("max_drawdown_pct"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .orderBy("event_type")
    )
