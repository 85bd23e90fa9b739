"""Behavioral / time-series analytics over the events stream: ordered
funnel conversion, weekly retention cohorts, time-weighted averages,
and statistical anomaly flagging.

These are the product-analytics operators a market/event pipeline
serves next to the candle queries (the reference's Athena tier stops at
aggregates — sql/athena_sample_queries.sql:12-45 — so this module is
the natural extension surface). Every plan keeps the fact table to ONE
hash shuffle on its natural key (user_id for the user-level queries,
the aggregation key otherwise); window functions over the same
partitioning reuse that exchange, so a 100 TB events table is shuffled
exactly once per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from .registry import query

# ---------------------------------------------------------------------------
# Ordered funnel conversion
# ---------------------------------------------------------------------------


@query(
    "q_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS users_viewed,
           (SELECT COUNT(*) FROM c) AS users_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS users_purchased_after_click
    """,
    tags=("behavior", "funnel"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view → click → purchase): a user
    counts for step N only with an event strictly AFTER their step-N−1
    time — the sequential constraint that makes funnels harder than
    three independent COUNT(DISTINCT)s.

    Plan: ONE hash shuffle on ``user_id``, then three chained window
    minimums over that same partitioning (each step's anchor feeds the
    next step's conditional MIN; Catalyst stacks the WindowExecs on the
    single exchange — no join, no re-shuffle, unlike the oracle's
    3-join rendering). One row per user survives a cheap semi-aggregate
    and a tiny global count finishes it. At 100 TB the cost is the one
    events shuffle — the same floor as any per-user aggregate."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = e.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("users_viewed"),
        F.count("t2").alias("users_clicked_after_view"),
        F.count("t3").alias("users_purchased_after_click"),
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts
# ---------------------------------------------------------------------------


@query(
    "q_retention_cohorts",
    oracle="""
    WITH f AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ), a AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_trunc('week', e.ts) AS DATE) AS activity_week
        FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, activity_week) / 7 AS INT) AS week_offset,
           COUNT(*) AS active_users
    FROM a
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    tags=("behavior", "retention"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort users by the Monday of their
    first event, then count distinct users active in each subsequent
    week, keyed (cohort_week, week_offset).

    Plan: one shuffle on ``user_id``; the cohort week is a window MIN
    over that partitioning (no join back to the fact table — the
    oracle's join rendering exists only because ANSI SQL lacks a
    windowed DISTINCT). The per-user distinct (user, cohort, week)
    set collapses in-partition before the tiny final aggregate, so
    the second exchange carries at most |users|·|weeks| rows."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    staged = e.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w)).cast("date")
    ).withColumn("activity_week", F.date_trunc("week", F.col("ts")).cast("date"))
    return (
        staged.select("user_id", "cohort_week", "activity_week")
        .distinct()
        .groupBy(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP-style)
# ---------------------------------------------------------------------------


@query(
    "q_time_weighted_value",
    oracle="""
    WITH s AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, value,
               CAST(date_diff('microsecond', ts,
                    LEAD(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                   ORDER BY ts, event_id)) AS DOUBLE) / 1e6 AS dur_s
        FROM events
    )
    SELECT event_type, day,
           ROUND(SUM(value * dur_s) / SUM(dur_s), 6) AS twav,
           COUNT(dur_s) AS n_intervals
    FROM s
    WHERE dur_s IS NOT NULL
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    tags=("behavior", "time-weighted"),
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) — the TWAP
    shape (TimescaleDB's ``time_weight``): each observation is weighted
    by how long it was current, i.e. the seconds until the next event
    in the same series, so a burst of readings doesn't dominate a
    sparse stretch the way a plain AVG would.

    Plan: one shuffle on (event_type, day) for the LEAD window —
    deterministically ordered by (ts, event_id) since event_id is
    unique — then the ratio-of-sums aggregate reuses the exchange.
    The last event of each day has no successor and drops out, matching
    the left-closed interval convention. Durations are computed in
    exact integer microseconds before the single double division."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    staged = e.select(
        "event_type",
        day.alias("day"),
        "value",
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).cast(
                "double"
            )
            / 1e6
        ).alias("dur_s"),
    ).where(F.col("dur_s").isNotNull())
    return (
        staged.groupBy("event_type", "day")
        .agg(
            F.round(F.sum(F.col("value") * F.col("dur_s")) / F.sum("dur_s"), 6).alias(
                "twav"
            ),
            F.count("dur_s").alias("n_intervals"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Statistical anomaly flagging (z-scores)
# ---------------------------------------------------------------------------


@query(
    "q_anomaly_zscore_days",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(value) AS total
        FROM events GROUP BY event_type, day
    )
    SELECT event_type, day,
           ROUND(total, 2) AS total_value,
           ROUND((total - AVG(total) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(total) OVER (PARTITION BY event_type), 6) AS zscore,
           ABS(ROUND((total - AVG(total) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(total) OVER (PARTITION BY event_type), 6)) > 2.0
               AS anomalous
    FROM d
    ORDER BY event_type, day
    """,
    tags=("behavior", "anomaly"),
)
def q_anomaly_zscore_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: z-score each (event_type, day)
    total against that type's own distribution over the window, flag
    |z| > 2 — the monitoring primitive behind data-quality alerting on
    a live feed.

    Plan: the fact table collapses to |types|·|days| rows in one
    partial-agg shuffle; the mean/stddev window runs on that tiny
    aggregated side only (never on raw events). The flag compares the
    ROUNDED z-score so the boolean is bit-stable across engines."""
    e = load(spark, sf_dir, "events")
    d = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(F.sum("value").alias("total"))
    )
    w = Window.partitionBy("event_type")
    z = F.round(
        (F.col("total") - F.avg("total").over(w)) / F.stddev_samp("total").over(w), 6
    )
    return (
        d.select(
            "event_type",
            "day",
            F.round("total", 2).alias("total_value"),
            z.alias("zscore"),
            (F.abs(z) > 2.0).alias("anomalous"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------


@query(
    "q_sequence_pattern",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS s
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS INT) AS n_events,
           regexp_matches(s, 'v[^p]*c[^p]*p') AS matched
    FROM seq
    ORDER BY user_id
    """,
    tags=("behavior", "sequence-pattern", "extension"),
)
def q_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection (SQL:2016 MATCH_RECOGNIZE-lite):
    per user, the time-ordered event-type initials collapse into one
    string and a regex expresses the behavioral pattern — here
    "view, then click, then purchase, with no purchase in between"
    (``v[^p]*c[^p]*p``). Regex over a per-key sequence string is the
    classic distributed rendering of row-pattern matching: arbitrary
    patterns (alternation, negation, quantifiers) without bespoke
    state machines, and the engine-side cost stays one hash shuffle on
    ``user_id`` with per-key state bounded by that user's event count
    (at 100 TB, window the sequence — e.g. per (user, week) — to cap
    it). The ordering inside the unordered ``collect_list`` aggregate
    is reimposed deterministically: ``array_sort`` over (ts, event_id,
    initial) structs, unique because event_id is."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("initial"),
    )
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, initial))),"
                " x -> x.initial)"
            ),
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").alias("n_events"),
        F.col("s").rlike("v[^p]*c[^p]*p").alias("matched"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Cumulative distinct users (first-touch transform)
# ---------------------------------------------------------------------------


@query(
    "q_cumulative_distinct_users",
    oracle="""
    WITH f AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
        FROM events GROUP BY user_id
    ), daily AS (
        SELECT first_day AS day, COUNT(*) AS new_users
        FROM f GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily
    ORDER BY day
    """,
    tags=("behavior", "cumulative-distinct", "extension"),
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users-to-date per day. The naive rendering — COUNT(DISTINCT
    user) over an expanding window — is non-mergeable and re-scans the
    prefix per day; the scalable identity is *a user is new exactly
    once*: reduce to (user → first_day) with one hash shuffle, count
    arrivals per day, and a running SUM over the tiny per-day frame
    turns arrivals into the cumulative distinct count. The expensive
    distinct runs ONCE at full parallelism; the ordered window touches
    only ~one row per day."""
    e = load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Feature-store point-in-time join (no training-serving leakage)
# ---------------------------------------------------------------------------


@query(
    "q_feature_store_pit",
    oracle="""
    WITH versions AS (
        SELECT user_id, ts AS eff_ts,
               MAX(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS vmax
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ), tiers AS (
        SELECT user_id, eff_ts,
               CASE WHEN vmax >= 500000000 THEN 'whale'
                    WHEN vmax >= 100000000 THEN 'mid'
                    ELSE 'small' END AS tier
        FROM versions
    ), clicks AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'click'
    ), pit AS (
        SELECT c.event_id, c.user_id, c.ts, c.value,
               (SELECT MAX(t.eff_ts) FROM tiers t
                WHERE t.user_id = c.user_id AND t.eff_ts < c.ts) AS eff_ts
        FROM clicks c
    )
    SELECT p.event_id, p.user_id, p.ts,
           ROUND(p.value, 6) AS click_value,
           t.tier AS feature_tier,
           (epoch_us(p.ts) - epoch_us(p.eff_ts)) // 1000000 AS feature_age_sec
    FROM pit p LEFT JOIN tiers t
      ON t.user_id = p.user_id AND t.eff_ts = p.eff_ts
    ORDER BY p.event_id
    """,
    tags=("behavior", "feature-store", "pit-join", "extension"),
)
def q_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly: each click event
    gains the user's tier feature as of STRICTLY BEFORE the event —
    the feature-store join whose off-by-one (<= instead of <) is the
    classic training-serving leakage bug, plus the feature's age as a
    staleness signal.

    Versions are derived per (user, purchase-ts) with the tier cut on
    exact integer micro-units (no FP threshold flapping). The join is
    the union + ordered-window carry-forward as-of plan — ONE shuffle
    on user_id for both sides together, no per-row subquery: facts
    sort BEFORE versions at equal timestamps (``_side`` in the sort
    key), which implements the strict < without arithmetic on the
    timestamps. The oracle renders the same semantics as a correlated
    MAX subquery."""
    e = load(spark, sf_dir, "events")
    vmax = F.max(F.round(F.col("value") * 1e6, 0).cast("long")).alias("vmax")
    versions = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("eff_ts"))
        .agg(vmax)
        .select(
            "user_id",
            "eff_ts",
            F.when(F.col("vmax") >= 500000000, "whale")
            .when(F.col("vmax") >= 100000000, "mid")
            .otherwise("small")
            .alias("tier"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # Union carry-forward: facts (_side=0) sort before versions (_side=1)
    # at equal ts, so last(version) over the preceding frame sees only
    # versions with eff_ts strictly less than the fact's ts.
    unioned = versions.select(
        "user_id",
        F.col("eff_ts").alias("ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        "tier",
        F.col("eff_ts").alias("_eff"),
    ).unionByName(
        clicks.select(
            "user_id",
            "ts",
            F.lit(0).alias("_side"),
            "event_id",
            "value",
            F.lit(None).cast("string").alias("tier"),
            F.lit(None).cast("timestamp").alias("_eff"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_side")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = unioned.select(
        "*",
        F.last("tier", ignorenulls=True).over(w).alias("_pit_tier"),
        F.last("_eff", ignorenulls=True).over(w).alias("_pit_eff"),
    )
    return (
        carried.filter(F.col("_side") == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round("value", 6).alias("click_value"),
            F.col("_pit_tier").alias("feature_tier"),
            # Exact integer microseconds div 1e6 — both engines floor the
            # positive quotient; DuckDB's date_diff('second', ...) counts
            # boundary CROSSINGS and is off by one for most sub-second
            # offsets, so neither side uses it.
            F.expr("(unix_micros(ts) - unix_micros(_pit_eff)) div 1000000").alias(
                "feature_age_sec"
            ),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (exact, via contribution explode)
# ---------------------------------------------------------------------------


@query(
    "q_rolling_distinct_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
        SELECT DISTINCT day FROM du
    ), contrib AS (
        SELECT DISTINCT d.day, du.user_id
        FROM du JOIN days d
          ON d.day >= du.day AND d.day <= du.day + INTERVAL 6 DAY
    )
    SELECT c.day, COUNT(*) AS active_users_7d
    FROM contrib c
    GROUP BY c.day
    ORDER BY c.day
    """,
    tags=("behavior", "rolling-distinct", "extension"),
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the metric every
    dashboard wants and naive SQL cannot window (COUNT(DISTINCT) over a
    RANGE frame rescans the frame per day). Scalable rendering: reduce
    to distinct (user, day) pairs ONCE (the only pass over the fact
    table), then explode each pair's 7-day contribution interval
    (codegen ``sequence``) and count distinct per day — the exploded
    relation is 7× the per-day-actives aggregate, independent of event
    volume. Days with activity only in their trailing window (no
    events that day) are excluded by the inner join on observed days,
    matching the oracle's day spine."""
    e = load(spark, sf_dir, "events")
    du = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = du.select("day").distinct()
    contrib = (
        du.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, date_add(day, 6), interval 1 day)")
            ).alias("day"),
        )
        .join(days, "day")
        .distinct()
    )
    return (
        contrib.groupBy("day")
        .agg(F.count("*").alias("active_users_7d"))
        .orderBy("day")
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS last_click_us
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ), conv AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               epoch_us(ts) - last_click_us AS delta_us
        FROM ordered
        WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    )
    SELECT day,
           COUNT(*) AS n_conversions,
           CAST(MIN(delta_us) AS BIGINT) AS min_us,
           ROUND(quantile_cont(delta_us, 0.5), 1) AS median_us,
           CAST(MAX(delta_us) AS BIGINT) AS max_us
    FROM conv
    GROUP BY day
    ORDER BY day
    """,
    tags=("behavior", "attribution", "extension"),
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: each purchase attributed to the
    user's most recent click at-or-before it (one carry-forward window
    pass over the two event types — the as-of pattern, never a
    self-join), rolled up to per-day conversion counts and exact
    min/median/max latencies in integer microseconds (continuous-
    interpolation median, the q_value_quartiles parity convention).
    State per partition is one scalar; the scan reads two event types
    and nothing else reaches the shuffle."""

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.max(
        F.when(
            F.col("event_type") == "click", F.unix_micros(F.col("ts"))
        )
    ).over(w)
    conv = (
        e.withColumn("last_click_us", last_click)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_us").isNotNull()
        )
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            (F.unix_micros(F.col("ts")) - F.col("last_click_us")).alias(
                "delta_us"
            ),
        )
    )
    return (
        conv.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.min("delta_us").cast("long").alias("min_us"),
            F.round(F.expr("percentile(delta_us, 0.5)"), 1).alias("median_us"),
            F.max("delta_us").cast("long").alias("max_us"),
        )
        .orderBy("day")
    )


@query(
    "q_activity_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events WHERE user_id < 10
    ), r AS (
        SELECT user_id, d,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
        FROM days
    ), g AS (
        SELECT user_id, d, d - CAST(rn AS INT) AS grp FROM r
    )
    SELECT user_id, MIN(d) AS island_start, MAX(d) AS island_end,
           COUNT(*) AS n_days
    FROM g GROUP BY user_id, grp
    ORDER BY user_id, island_start
    """,
    tags=("behavior", "gaps-islands", "extension"),
)
def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user, via the classic rank-difference trick — consecutive dates
    share ``date - row_number`` — so the whole pattern is one distinct
    (one hash shuffle of (user, day) pairs, events collapse map-side),
    one window, one aggregate; no self-join, no recursion, state
    bounded by active days. The streak/churn-gap primitive every
    engagement report needs."""

    days = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
        )
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    g = days.withColumn("rn", rn).withColumn(
        "grp", F.expr("date_sub(d, rn)")
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("d").alias("island_start"),
            F.max("d").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("grp")
        .orderBy("user_id", "island_start")
    )
