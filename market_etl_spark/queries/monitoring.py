"""Feed-monitoring & forensic-DQ queries (round 6).

Three detection primitives a production data platform runs against a
live feed, complementing the threshold z-score alerting already in
``behavior.py`` (``q_anomaly_zscore_days``):

- ``q_benford_audit`` — first-digit (Benford's-law) distribution audit
  of the value column with the chi-square goodness-of-fit statistic:
  the classic forensic test for fabricated or truncated numeric feeds.
- ``q_cusum_changepoint`` — CUSUM (cumulative sum of standardized
  deviations) over daily event counts with the max-|S| changepoint:
  detects sustained level shifts that per-day z-scores miss.
- ``q_seasonal_baseline_backtest`` — walk-forward evaluation of an
  hour-of-day seasonal-mean forecast (trailing 7 same-hour days):
  the backtest loop behind "is our volume forecast still calibrated".

SLO burn-rate alerting and foreign-key integrity audits complete the
set.

No reference counterpart; extends SURVEY.md §2.13's governance layer
on the events feed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from .registry import query

# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------
#: Benford expected proportions log10(1 + 1/d), precomputed as Python
#: literals so BOTH engines consume identical double constants instead
#: of each evaluating log10 themselves.
_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
#: chi-square 95% critical value at df = 8.
_CHI2_95_DF8 = 15.507


@query(
    "q_benford_audit",
    oracle=f"""
    WITH v AS (
        SELECT substr(CAST(CAST(FLOOR(value * 1e6) AS BIGINT) AS VARCHAR), 1, 1)
                   AS digit
        FROM events WHERE value >= 1e-6
    ), obs AS (
        SELECT CAST(digit AS INT) AS digit, COUNT(*) AS n_obs,
               SUM(COUNT(*)) OVER () AS n
        FROM v GROUP BY digit
    ), scored AS (
        SELECT digit, n_obs, n,
               CASE digit
                   {' '.join(f'WHEN {d} THEN CAST({p!r} AS DOUBLE) * n' for d, p in _BENFORD_P.items())}
               END AS expected
        FROM obs
    )
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           ROUND(expected, 6) AS expected,
           ROUND(SUM((n_obs - expected) * (n_obs - expected) / expected)
                 OVER (), 6) AS chi2,
           SUM((n_obs - expected) * (n_obs - expected) / expected) OVER ()
               > {_CHI2_95_DF8} AS reject_benford_95
    FROM scored ORDER BY digit
    """,
    tags=("monitoring", "dq-forensic", "extension"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of the (positive) value column vs
    Benford's law, with the chi-square goodness-of-fit statistic and
    the 95% rejection verdict (df = 8) — the forensic audit that
    catches fabricated, clipped, or unit-mangled numeric feeds.

    Cross-engine determinism: the leading digit comes from the DECIMAL
    STRING of floor(value·1e6) — integer formatting, no float-to-text
    divergence and no log10-of-a-power-of-ten edge; the Benford
    expectations are shared Python double literals.  The filter is
    ``value >= 1e-6`` (not ``> 0``): a value in (0, 1e-6) floors to 0,
    whose "digit 0" has no Benford expectation and would NULL the
    window chi2 — the audit must always return a verdict (ADVICE r6).

    Scale: digit extraction is map-side; the audit aggregates to 9
    rows (partial agg), and chi-square folds over those 9."""
    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("value") >= 1e-6)
        .select(
            F.substring(
                F.floor(F.col("value") * 1e6).cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
    )
    wall = Window.partitionBy()
    obs = v.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs")).select(
        "digit", "n_obs", F.sum("n_obs").over(wall).alias("n")
    )
    expected = None
    for d, p in _BENFORD_P.items():
        branch = F.lit(p) * F.col("n")
        expected = (
            F.when(F.col("digit") == d, branch)
            if expected is None
            else expected.when(F.col("digit") == d, branch)
        )
    scored = obs.select("digit", "n_obs", expected.alias("expected"))
    chi2 = F.sum(
        (F.col("n_obs") - F.col("expected"))
        * (F.col("n_obs") - F.col("expected"))
        / F.col("expected")
    ).over(wall)
    return scored.select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round("expected", 6).alias("expected"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > _CHI2_95_DF8).alias("reject_benford_95"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# CUSUM changepoint over daily counts
# ---------------------------------------------------------------------------
@query(
    "q_cusum_changepoint",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY day
    ), stats AS (
        SELECT AVG(n_events::DOUBLE) AS mu,
               STDDEV_SAMP(n_events::DOUBLE) AS sd
        FROM d
    ), cus AS (
        SELECT day, n_events,
               SUM((n_events - mu) / sd) OVER (ORDER BY day) AS s
        FROM d, stats
    )
    SELECT day, CAST(n_events AS BIGINT) AS n_events,
           ROUND(s, 6) + 0.0 AS cusum,
           ABS(ROUND(s, 6)) = MAX(ABS(ROUND(s, 6))) OVER ()
               AND MIN(day) OVER (PARTITION BY ABS(ROUND(s, 6))) = day
               AS is_changepoint
    FROM cus ORDER BY day
    """,
    tags=("monitoring", "changepoint", "extension"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on daily event counts: standardize
    each day against the global mean/stddev, accumulate S_t = Σ z_i in
    day order, and flag the day where |S| peaks — the classic
    changepoint locator for sustained drifts that per-day z-score
    alerting (q_anomaly_zscore_days) cannot see.  The argmax flag
    compares ROUNDED |S| (bit-stable cross-engine) with a min-day tie
    rule.  The final S is mathematically zero (Σz = 0), so the
    residual noise's SIGN is engine-dependent — `+ 0.0` after the
    round collapses IEEE −0.0 to +0.0 on both engines.

    Scale: the fact table collapses to day-cardinality rows in one
    partial-agg shuffle; the 1-row (μ, σ) broadcast and the ordered
    running sum both run on the tiny aggregated side."""
    d = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    stats = d.agg(
        F.avg(F.col("n_events").cast("double")).alias("mu"),
        F.stddev_samp(F.col("n_events").cast("double")).alias("sd"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cus = d.crossJoin(F.broadcast(stats)).select(
        "day",
        "n_events",
        F.sum((F.col("n_events") - F.col("mu")) / F.col("sd"))
        .over(wcum)
        .alias("s"),
    )
    wall = Window.partitionBy()
    rs = F.round(F.col("s"), 6)
    return cus.select(
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        (rs + F.lit(0.0)).alias("cusum"),
        (
            (F.abs(rs) == F.max(F.abs(rs)).over(wall))
            & (F.min("day").over(Window.partitionBy(F.abs(rs))) == F.col("day"))
        ).alias("is_changepoint"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Walk-forward seasonal baseline backtest
# ---------------------------------------------------------------------------
@query(
    "q_seasonal_baseline_backtest",
    oracle="""
    WITH hourly AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               COUNT(*) AS n
        FROM events GROUP BY day, hour
    ), fc AS (
        SELECT day, hour, n,
               AVG(n::DOUBLE) OVER (
                   PARTITION BY hour ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
               ) AS forecast,
               COUNT(*) OVER (
                   PARTITION BY hour ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
               ) AS n_hist
        FROM hourly
    )
    SELECT day,
           CAST(SUM(n) AS BIGINT) AS n_events,
           ROUND(AVG(ABS(n - forecast)), 6) AS mae,
           ROUND(MAX(ABS(n - forecast)), 6) AS max_abs_err
    FROM fc WHERE n_hist = 7
    GROUP BY day HAVING COUNT(*) = 24
    ORDER BY day
    """,
    tags=("monitoring", "forecast-backtest", "extension"),
)
def q_seasonal_baseline_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the hour-of-day seasonal-mean
    forecast: predict each (day, hour) count as the mean of the SAME
    hour over the trailing 7 days (never looking forward), then score
    per-day MAE and worst-hour error over fully-forecast days (7 days
    of history for every one of the 24 hours).  This is the
    calibration loop run before trusting a volume forecast for
    capacity or alert thresholds.

    Scale: raw events collapse to |days|·24 rows in one partial-agg
    shuffle; the trailing window partitions BY HOUR (24 parallel
    series) over the aggregated side, and the per-day scoring
    re-aggregates 24 rows per day."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wtrail = (
        Window.partitionBy("hour").orderBy("day").rowsBetween(-7, -1)
    )
    fc = hourly.select(
        "day",
        "hour",
        "n",
        F.avg(F.col("n").cast("double")).over(wtrail).alias("forecast"),
        F.count(F.lit(1)).over(wtrail).alias("n_hist"),
    )
    return (
        fc.filter(F.col("n_hist") == 7)
        .groupBy("day")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.round(F.avg(F.abs(F.col("n") - F.col("forecast"))), 6).alias(
                "mae"
            ),
            F.round(F.max(F.abs(F.col("n") - F.col("forecast"))), 6).alias(
                "max_abs_err"
            ),
            F.count(F.lit(1)).alias("_nh"),
        )
        .filter(F.col("_nh") == 24)
        .drop("_nh")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Association rules (market-basket lift) over per-user event-type sets
# ---------------------------------------------------------------------------
@query(
    "q_association_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id, event_type FROM events
    ), n_users AS (
        SELECT COUNT(DISTINCT user_id) AS n FROM baskets
    ), singles AS (
        SELECT event_type, COUNT(*) AS cnt FROM baskets GROUP BY event_type
    ), pairs AS (
        SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS both_cnt
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY ante, cons
    )
    SELECT p.ante, p.cons,
           CAST(p.both_cnt AS BIGINT) AS n_both,
           ROUND(p.both_cnt::DOUBLE / n.n, 6) AS support,
           ROUND(p.both_cnt::DOUBLE / sa.cnt, 6) AS confidence,
           ROUND(p.both_cnt::DOUBLE * n.n / (sa.cnt::DOUBLE * sc.cnt), 6)
               AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.ante
    JOIN singles sc ON sc.event_type = p.cons
    CROSS JOIN n_users n
    ORDER BY ante, cons
    """,
    tags=("analytics", "association-rules", "extension"),
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type sets:
    for every unordered type pair (ante < cons) report support
    (P(both)), confidence (P(cons|ante)), and lift
    (P(both) / P(ante)·P(cons)) — the co-occurrence screen behind
    cross-sell and funnel-design decisions.

    Scale: baskets are DISTINCT (user, type) — one partial-agg
    exchange; the pair self-join is keyed on user_id with per-user
    fan-out bounded by |event types|² (≤ 10 pairs for 5 types), so
    candidate volume is users × 10, never events². The singles table
    broadcasts (type-cardinality rows)."""
    e = load(spark, sf_dir, "events")
    baskets = e.select("user_id", "event_type").distinct()
    n_users = baskets.agg(
        F.countDistinct("user_id").cast("double").alias("n")
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ante"),
            F.col("b.event_type").alias("cons"),
        )
        .agg(F.count(F.lit(1)).alias("both_cnt"))
    )
    sa = singles.select(
        F.col("event_type").alias("ante"), F.col("cnt").alias("_ca")
    )
    sc = singles.select(
        F.col("event_type").alias("cons"), F.col("cnt").alias("_cc")
    )
    return (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(n_users))
        .select(
            "ante",
            "cons",
            F.col("both_cnt").cast("long").alias("n_both"),
            F.round(F.col("both_cnt").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("both_cnt").cast("double") / F.col("_ca"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("both_cnt").cast("double")
                * F.col("n")
                / (F.col("_ca").cast("double") * F.col("_cc")),
                6,
            ).alias("lift"),
        )
        .orderBy("ante", "cons")
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------
@query(
    "q_rfm_segments",
    oracle="""
    WITH u AS (
        SELECT user_id,
               date_diff('day', MAX(CAST(date_trunc('day', ts) AS DATE)),
                         (SELECT MAX(CAST(date_trunc('day', ts) AS DATE))
                          FROM events)) AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS monetary_micro
        FROM events GROUP BY user_id
    ), scored AS (
        SELECT user_id, recency_days, frequency, monetary_micro,
               NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_micro, user_id) AS m_score
        FROM u
    )
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(frequency) AS BIGINT) AS n_events,
           CAST(SUM(monetary_micro) AS BIGINT) AS monetary_micro
    FROM scored GROUP BY segment ORDER BY segment
    """,
    tags=("analytics", "rfm-segmentation", "extension"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (days since last
    event vs the feed's last day), Frequency (event count), and
    Monetary (value mass) quintiled into 1–5 scores (5 = best:
    most-recent / most-frequent / highest-spend) and rolled up per
    RFM segment code — the standard lifecycle-marketing partition.

    Monetary ranks on EXACT integer micro-units (per-event
    floor(value·1e6) summed as BIGINT) so the quintile ordering can
    never flip on last-ulp float summation differences between
    engines — the quantile-norm lesson applied to ranking keys.

    Scale: the fact table collapses to user cardinality in one
    partial-agg shuffle; the three NTILEs are global windows over the
    AGGREGATED side (users, not events); the segment rollup partial-
    aggregates to ≤125 rows."""
    e = load(spark, sf_dir, "events")
    max_day = e.agg(
        F.max(F.date_trunc("day", F.col("ts")).cast("date")).alias("_d")
    )
    u = (
        e.groupBy("user_id")
        .agg(
            F.max(F.date_trunc("day", F.col("ts")).cast("date")).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias(
                "monetary_micro"
            ),
        )
        .crossJoin(F.broadcast(max_day))
        .select(
            "user_id",
            F.datediff(F.col("_d"), F.col("_last")).alias("recency_days"),
            "frequency",
            "monetary_micro",
        )
    )
    scored = u.select(
        "user_id",
        "frequency",
        "monetary_micro",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_days").desc(), "user_id"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "user_id"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary_micro", "user_id"))
        .alias("m_score"),
    )
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            )
            .cast("int")
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("frequency").cast("long").alias("n_events"),
            F.sum("monetary_micro").cast("long").alias("monetary_micro"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# One-way ANOVA: weekday seasonality of daily volumes
# ---------------------------------------------------------------------------
@query(
    "q_weekday_anova",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY day
    ), g AS (
        SELECT dayofweek(day) AS wd, n, n::DOUBLE AS x FROM d
    ), stats AS (
        SELECT COUNT(*) AS n_days,
               COUNT(DISTINCT wd) AS k,
               AVG(x) AS grand
        FROM g
    ), per_group AS (
        SELECT wd, COUNT(*) AS ng, AVG(x) AS mg,
               SUM(x * x) - COUNT(*) * AVG(x) * AVG(x) AS ssw_g
        FROM g GROUP BY wd
    ), sums AS (
        SELECT SUM(ng * (mg - s.grand) * (mg - s.grand)) AS ssb,
               SUM(ssw_g) AS ssw,
               MAX(s.n_days) AS n_days, MAX(s.k) AS k
        FROM per_group, stats s
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(k AS INT) AS k_groups,
           ROUND(ssb, 6) AS ss_between,
           ROUND(ssw, 6) AS ss_within,
           ROUND((ssb / (k - 1)) / (ssw / (n_days - k)), 6) AS f_stat
    FROM sums
    """,
    tags=("monitoring", "anova", "extension"),
)
def q_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily event volumes grouped by weekday: the
    variance decomposition (between-group vs within-group sums of
    squares) and the F statistic that answers "is there a real
    day-of-week seasonality, or is the weekday spread noise" — the
    test run before shipping weekday-conditioned capacity plans.
    Degrees of freedom ride along (k−1, n−k) so the reader applies the
    right F critical value for the observed day count.

    Scale: events collapse to day-cardinality rows in one partial-agg
    shuffle; weekday stats aggregate 7 groups; everything after the
    first exchange is constant-size."""
    d = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = d.select(
        F.dayofweek("day").alias("wd"), F.col("n").cast("double").alias("x")
    )
    stats = g.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.countDistinct("wd").alias("k"),
        F.avg("x").alias("grand"),
    )
    per_group = g.groupBy("wd").agg(
        F.count(F.lit(1)).alias("ng"),
        F.avg("x").alias("mg"),
        (
            F.sum(F.col("x") * F.col("x"))
            - F.count(F.lit(1)) * F.avg("x") * F.avg("x")
        ).alias("ssw_g"),
    )
    sums = per_group.crossJoin(F.broadcast(stats)).agg(
        F.sum(
            F.col("ng")
            * (F.col("mg") - F.col("grand"))
            * (F.col("mg") - F.col("grand"))
        ).alias("ssb"),
        F.sum("ssw_g").alias("ssw"),
        F.max("n_days").alias("n_days"),
        F.max("k").alias("k"),
    )
    return sums.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("k").cast("int").alias("k_groups"),
        F.round("ssb", 6).alias("ss_between"),
        F.round("ssw", 6).alias("ss_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_days") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test (A/B experiment primitive)
# ---------------------------------------------------------------------------
_TT_A, _TT_B = "click", "purchase"


@query(
    "q_welch_ttest",
    oracle=f"""
    WITH g AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('{_TT_A}', '{_TT_B}')
    ), s AS (
        SELECT
            COUNT(*) FILTER (event_type = '{_TT_A}') AS na,
            COUNT(*) FILTER (event_type = '{_TT_B}') AS nb,
            AVG(value) FILTER (event_type = '{_TT_A}') AS ma,
            AVG(value) FILTER (event_type = '{_TT_B}') AS mb,
            VAR_SAMP(value) FILTER (event_type = '{_TT_A}') AS va,
            VAR_SAMP(value) FILTER (event_type = '{_TT_B}') AS vb
        FROM g
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND((ma - mb) / SQRT(va / na + vb / nb), 6) AS t_stat,
           ROUND(
               (va / na + vb / nb) * (va / na + vb / nb)
               / ((va / na) * (va / na) / (na - 1)
                  + (vb / nb) * (vb / nb) / (nb - 1)), 6) AS welch_dof
    FROM s
    """,
    tags=("monitoring", "ab-test", "extension"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    distributions — the A/B experimentation primitive (difference of
    means, standard error from per-group variances, and the
    Welch–Satterthwaite effective degrees of freedom so the reader
    applies the right t critical value).

    Scale: ONE conditional-aggregation pass (count/mean/var per group
    via FILTER) — no join, no window; the statistic folds a 1-row
    frame."""
    g = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_TT_A, _TT_B)
    )
    is_a = F.col("event_type") == _TT_A
    is_b = F.col("event_type") == _TT_B
    s = g.agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.count(F.when(is_b, 1)).alias("nb"),
        F.avg(F.when(is_a, F.col("value"))).alias("ma"),
        F.avg(F.when(is_b, F.col("value"))).alias("mb"),
        F.var_samp(F.when(is_a, F.col("value"))).alias("va"),
        F.var_samp(F.when(is_b, F.col("value"))).alias("vb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2
            * se2
            / (
                (F.col("va") / F.col("na"))
                * (F.col("va") / F.col("na"))
                / (F.col("na") - 1)
                + (F.col("vb") / F.col("nb"))
                * (F.col("vb") / F.col("nb"))
                / (F.col("nb") - 1)
            ),
            6,
        ).alias("welch_dof"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters double exponential smoothing (recursive CTE, α = β = ½)
# ---------------------------------------------------------------------------
#: Shared verbatim between spark.sql and the DuckDB oracle (the
#: recursive-tree pattern): the recursion is SEQUENTIAL by construction
#: and every update multiplies by the dyadic constant 0.5 (IEEE-exact),
#: so both engines produce bit-identical levels/trends.
_HOLT_WINTERS_SQL = """
    WITH RECURSIVE d AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
               day, n
        FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     COUNT(*) AS n
              FROM events GROUP BY day)
    ), hw(rn, day, x, level, trend) AS (
        SELECT d1.rn, d1.day, CAST(d1.n AS DOUBLE), CAST(d1.n AS DOUBLE),
               (SELECT CAST(n AS DOUBLE) FROM d WHERE rn = 2)
                   - CAST(d1.n AS DOUBLE)
        FROM d d1 WHERE d1.rn = 1
        UNION ALL
        SELECT d.rn, d.day, CAST(d.n AS DOUBLE),
               0.5 * CAST(d.n AS DOUBLE) + 0.5 * (hw.level + hw.trend),
               0.5 * ((0.5 * CAST(d.n AS DOUBLE)
                       + 0.5 * (hw.level + hw.trend)) - hw.level)
                   + 0.5 * hw.trend
        FROM d JOIN hw ON d.rn = hw.rn + 1
    )
    SELECT day, CAST(x AS BIGINT) AS n_events,
           ROUND(level, 6) AS level,
           ROUND(trend, 6) AS trend,
           ROUND(level + trend, 6) AS forecast_next
    FROM hw ORDER BY day
"""


@query(
    "q_holt_winters_smoothing",
    oracle=_HOLT_WINTERS_SQL,
    tags=("monitoring", "forecast", "recursive-cte", "iterative", "extension"),
)
def q_holt_winters_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend, α = β = ½)
    over daily event counts — the time-series recurrence that window
    frames cannot express (each state depends on the previous OUTPUT,
    not the previous input).  Emits the smoothed level, trend, and
    one-step-ahead forecast per day.

    Engine shape: the fact table collapses to day-cardinality rows in
    one partial-agg shuffle, then ONE ``applyInPandas`` group runs the
    sequential recurrence in Arrow (the `applyInPandasWithState`
    sessionizer pattern for bounded model state).  The ORACLE is the
    same recurrence as a SQL-standard RECURSIVE CTE — a deliberate
    cross-paradigm check: α = β = ½ makes every update a dyadic
    multiply (IEEE-exact) and both evaluations are forced sequential,
    so levels hash-match bit-for-bit, with the 6-dp rounding done via
    Decimal half-up (the exact BigDecimal semantics SQL ROUND uses).
    A recursive-CTE engine side was tried first and measured 8.4s at
    sf0.1 — each of the ~30 recursion levels is a separate Spark job;
    the single-pandas-group form is one job (the SQL-recursion surface
    itself stays exercised by q_recursive_tree_traversal).

    Scale: state is (level, trend) — a years-long daily horizon is
    still thousands of rows in one Arrow batch; per-series
    parallelism returns by keying the groupBy on the series id."""
    import pandas as _pd

    d = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def fit(pdf: _pd.DataFrame) -> _pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        def r6(x: float) -> float:
            return float(
                Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )

        pdf = pdf.sort_values("day")
        xs = [float(v) for v in pdf["n"]]
        level = xs[0]
        trend = (xs[1] - xs[0]) if len(xs) > 1 else None
        rows = [(pdf["day"].iloc[0], int(xs[0]), level, trend)]
        for i, x in enumerate(xs[1:], start=1):
            new_level = 0.5 * x + 0.5 * (level + trend)
            trend = 0.5 * (new_level - level) + 0.5 * trend
            level = new_level
            rows.append((pdf["day"].iloc[i], int(x), level, trend))
        return _pd.DataFrame(
            [
                (
                    day,
                    n,
                    r6(lv),
                    r6(tr) if tr is not None else None,
                    r6(lv + tr) if tr is not None else None,
                )
                for day, n, lv, tr in rows
            ],
            columns=["day", "n_events", "level", "trend", "forecast_next"],
        )

    return (
        d.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _key, pdf: fit(pdf),
            schema=(
                "day date, n_events long, level double, trend double,"
                " forecast_next double"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# 18. Multi-window SLO burn rate
# ---------------------------------------------------------------------------
@query(
    "q_slo_burn_rate",
    oracle="""
    WITH hourly AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_err
        FROM events GROUP BY hour
    ), windowed AS (
        SELECT hour, n_total, n_err,
               SUM(n_err) OVER (ORDER BY hour
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS err_6h,
               SUM(n_total) OVER (ORDER BY hour
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS tot_6h
        FROM hourly
    )
    SELECT hour,
           ROUND(CAST(n_err AS DOUBLE) / n_total / 0.2, 6) AS burn_1h,
           ROUND(CAST(err_6h AS DOUBLE) / tot_6h / 0.2, 6) AS burn_6h,
           (CAST(n_err AS DOUBLE) / n_total / 0.2 > 1.0
            AND CAST(err_6h AS DOUBLE) / tot_6h / 0.2 > 1.0) AS page_alert
    FROM windowed
    ORDER BY hour
    """,
    tags=("monitoring", "slo", "sre", "extension"),
)
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn rate — the SRE alerting arithmetic (the
    Google SRE-workbook pattern): with a 20% error-budget SLO, the
    burn rate is observed-error-rate / budget over a short (1 h) AND a
    long (trailing 6 h) window, and the page fires only when BOTH
    exceed 1× — the short window gives fast detection, the long one
    suppresses blips.

    Determinism: hourly error/total counts are exact integers; both
    burn ratios are single double divisions, 6-dp rounded; the AND of
    two >1.0 comparisons is far from representational noise at this
    budget.

    Scale: the hourly rollup is the one corpus-sized pass
    (partial-agg); burn windows run on the ~720-row hour frame per
    month — this is exactly how a 100 TB event firehose serves SLO
    dashboards, never scanning raw events per evaluation."""

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_err"),
        )
    )
    w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    windowed = hourly.select(
        "hour",
        "n_total",
        "n_err",
        F.sum("n_err").over(w6).alias("err_6h"),
        F.sum("n_total").over(w6).alias("tot_6h"),
    )
    burn1 = F.col("n_err").cast("double") / F.col("n_total") / 0.2
    burn6 = F.col("err_6h").cast("double") / F.col("tot_6h") / 0.2
    return windowed.select(
        "hour",
        F.round(burn1, 6).alias("burn_1h"),
        F.round(burn6, 6).alias("burn_6h"),
        ((burn1 > 1.0) & (burn6 > 1.0)).alias("page_alert"),
    ).orderBy("hour")


@query(
    "q_fk_integrity_audit",
    oracle="""
    SELECT 'customer->nation' AS fk_edge,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT COUNT(DISTINCT c_nationkey) FROM customer)
                AS BIGINT) AS n_parents_hit,
           CAST((SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt
                 FROM customer GROUP BY c_nationkey)) AS BIGINT)
               AS max_fanout
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
                AS BIGINT),
           CAST((SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt
                 FROM lineitem GROUP BY l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
                AS BIGINT),
           CAST((SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt
                 FROM lineitem GROUP BY l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT),
           CAST((SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt
                 FROM orders GROUP BY o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'supplier->nation',
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey))
                AS BIGINT),
           CAST((SELECT COUNT(DISTINCT s_nationkey) FROM supplier)
                AS BIGINT),
           CAST((SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt
                 FROM supplier GROUP BY s_nationkey)) AS BIGINT)
    ORDER BY fk_edge
    """,
    tags=("quality", "referential-integrity", "extension"),
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY audit over the TPC-H-lite star (round-8 —
    the relationship half of the DQ surface: the expectations suite
    checks columns, this checks EDGES): for five FK relationships,
    the child row count, the orphan count (children whose parent key
    does not exist — LEFT ANTI against the parent's key set), the
    number of distinct parents actually referenced, and the maximum
    fan-out.  Orphans are expected to be zero; the audit PROVES it
    per edge rather than assuming it, and the fan-out column is the
    join-explosion early warning a planner wants before running the
    star join.

    Scale: each edge is one anti-join on the FK (parent side reduced
    to its key column — broadcastable for dims) plus one key-grouped
    count; edges are independent and union at the end."""
    edges = [
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for name, child, fk, parent, pk in edges:
        cdf = load(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        pdf = load(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        orphans = cdf.join(
            F.broadcast(pdf) if parent in ("nation", "part", "customer") else pdf,
            cdf["fk"] == pdf["pk"],
            "left_anti",
        ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        fan = cdf.groupBy("fk").agg(F.count(F.lit(1)).alias("cnt"))
        stats = cdf.agg(
            F.count(F.lit(1)).cast("long").alias("n_child")
        ).crossJoin(
            F.broadcast(
                fan.agg(
                    F.count(F.lit(1)).cast("long").alias("n_parents_hit"),
                    F.max("cnt").cast("long").alias("max_fanout"),
                )
            )
        )
        row = stats.crossJoin(F.broadcast(orphans)).select(
            F.lit(name).alias("fk_edge"),
            "n_child",
            "n_orphans",
            "n_parents_hit",
            "max_fanout",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk_edge")
