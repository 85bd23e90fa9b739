"""Relational extensions beyond the reference surface: as-of join,
rollup, set operations, and the spark.sql text entry point.

The as-of join is the canonical next market-data operator (SURVEY.md
§2.3 — absent from the reference, flagged as the natural extension):
"for each row of the left stream, the latest right-stream row at or
before its timestamp". Implemented as a union + partitioned-window
last-value carry-forward — ONE shuffle on the join key, no range
explosion, no per-row probe — and verified against DuckDB's *native*
``ASOF JOIN`` operator, which is a strong independent oracle.

Also here: point-in-time and incrementally maintained joins, the
skyline and position-based attribution, Fellegi–Sunter record
linkage, graph kernels over co-activity edges (triangles, BFS
shortest paths, Jaccard link prediction), spatial joins (grid and
point-in-polygon), and the join-strategy drills (skew advisor, AQE
skew split, runtime bloom filter).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import round6
from ..tables import load, register_all
from .registry import query


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    value_cols: tuple[str, ...] = ("value",),
    tolerance_expr: str | None = None,
) -> DataFrame:
    """Generic as-of join: every ``left`` row gains the most recent
    ``right`` row (per ``on`` key) with ``right.ts <= left.ts``.

    Union the two sides with a side tag, then one window pass per key
    ordered by (ts, side): ``last(right_value, ignoreNulls)`` over the
    preceding frame carries the latest right value forward into each
    left row. Right rows sort before left rows at equal timestamps, so
    ties resolve to "at or before" semantics. Cost: one hash shuffle on
    the key + an in-partition sort — the same shape as any windowed
    aggregate, regardless of how asymmetric the two sides are.
    """
    lcols = [c for c in left.columns if c not in (on, ts)]
    tagged_left = left.select(
        F.col(on),
        F.col(ts),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    tagged_right = right.select(
        F.col(on),
        F.col(ts),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    unioned = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in value_cols
        ],
        F.last(F.when(F.col("_side") == 0, F.col(ts)), ignorenulls=True)
        .over(w)
        .alias("_asof_ts"),
    )
    out = carried.filter(F.col("_side") == 1).select(
        F.col(on),
        F.col(ts),
        *[F.col(c) for c in lcols],
        *[F.col(f"_asof_{c}").alias(f"asof_{c}") for c in value_cols],
        F.col("_asof_ts").alias("asof_ts"),
    )
    if tolerance_expr:
        keep = F.col("asof_ts").isNotNull() & (
            F.col(ts).cast("long") - F.col("asof_ts").cast("long")
            <= F.expr(tolerance_expr).cast("long")
        )
        out = out.withColumn("asof_ts", F.when(keep, F.col("asof_ts"))).withColumn(
            "asof_" + value_cols[0], F.when(keep, F.col("asof_" + value_cols[0]))
        )
    return out


@query(
    "q_asof_join",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           p.ts,
           ROUND(p.value, 6) AS purchase_value,
           ROUND(c.value, 6) AS asof_click_value,
           c.ts AS asof_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.user_id, p.ts
    """,
    tags=("extension", "asof-join"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent click at-or-before
    it. Our union+window composition vs DuckDB's NATIVE ASOF JOIN —
    two unrelated implementations of the operator must agree row for
    row."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", round6(F.col("value")).alias("purchase_value")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", round6(F.col("value")).alias("value")
    )
    return (
        asof_join(purchases, clicks, on="user_id", ts="ts", value_cols=("value",))
        .select(
            "user_id",
            "ts",
            "purchase_value",
            F.col("asof_value").alias("asof_click_value"),
            "asof_ts",
        )
        .orderBy("user_id", "ts")
    )


@query(
    "q_rollup_volume",
    oracle="""
    SELECT CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(day(ts) AS INT) AS d,
           COUNT(*) AS events,
           ROUND(SUM(value), 4) AS volume
    FROM events
    GROUP BY ROLLUP (CAST(year(ts) AS INT), CAST(month(ts) AS INT), CAST(day(ts) AS INT))
    ORDER BY y NULLS FIRST, m NULLS FIRST, d NULLS FIRST
    """,
    tags=("extension", "rollup"),
)
def q_rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (day → month → year → grand) in ONE pass via
    ROLLUP — the OLAP operator a dashboard needs instead of issuing 4
    separate aggregations. Spark expands grouping sets inside a single
    hash aggregate; rounding at 4dp keeps double re-summation across
    grouping levels hash-stable cross-engine."""
    e = load(spark, sf_dir, "events")
    return (
        e.rollup(
            F.year("ts").cast("int").alias("y"),
            F.month("ts").cast("int").alias("m"),
            F.dayofmonth("ts").cast("int").alias("d"),
        )
        .agg(F.count("*").alias("events"), F.round(F.sum("value"), 4).alias("volume"))
        .orderBy(F.asc_nulls_first("y"), F.asc_nulls_first("m"), F.asc_nulls_first("d"))
    )


@query(
    "q_set_ops",
    oracle="""
    WITH big_spenders AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 200
    ), clickers AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 200
    )
    SELECT 'both' AS cohort, COUNT(*) AS users FROM (
        SELECT user_id FROM big_spenders INTERSECT SELECT user_id FROM clickers)
    UNION ALL
    SELECT 'purchase_only', COUNT(*) FROM (
        SELECT user_id FROM big_spenders EXCEPT SELECT user_id FROM clickers)
    UNION ALL
    SELECT 'either', COUNT(*) FROM (
        SELECT user_id FROM big_spenders UNION SELECT user_id FROM clickers)
    ORDER BY cohort
    """,
    tags=("extension", "set-ops"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION cohort arithmetic (§2.7 — absent from
    the reference, standard for audience analysis). Spark plans each as
    a hash-partitioned distinct join — no driver-side set logic."""
    e = load(spark, sf_dir, "events")
    spenders = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 200))
        .select("user_id")
        .distinct()
    )
    clickers = (
        e.filter((F.col("event_type") == "click") & (F.col("value") > 200))
        .select("user_id")
        .distinct()
    )
    rows = [
        spenders.intersect(clickers).agg(
            F.lit("both").alias("cohort"), F.count("*").alias("users")
        ),
        spenders.exceptAll(clickers).agg(
            F.lit("purchase_only").alias("cohort"), F.count("*").alias("users")
        ),
        spenders.union(clickers).distinct().agg(
            F.lit("either").alias("cohort"), F.count("*").alias("users")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("cohort")


@query(
    "q_salted_skew_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS trades,
           ROUND(SUM(value), 4) AS volume,
           MIN(value) AS low,
           MAX(value) AS high
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("extension", "skew-salting"),
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage salted aggregation
    (:func:`market_etl_spark.functions.skew.salted_agg`): event_type has
    only 5 values, so an unsalted groupBy funnels 1/5 of 100 TB through
    5 reducers; salting scatters each key over 16 partial groups first.
    The oracle is the plain one-stage GROUP BY — results must be
    identical, only the shuffle shape differs."""
    from ..functions.skew import salted_agg

    e = load(spark, sf_dir, "events")
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs={
            "trades": ("count", "value"),
            "volume": ("sum", "value"),
            "low": ("min", "value"),
            "high": ("max", "value"),
        },
    )
    return out.select(
        "event_type",
        "trades",
        F.round("volume", 4).alias("volume"),
        "low",
        "high",
    ).orderBy("event_type")


@query(
    "q_salted_skew_join",
    oracle="""
    WITH dim(event_type, category, weight) AS (
        VALUES ('click', 'engage', 1.0), ('view', 'engage', 0.5),
               ('purchase', 'revenue', 3.0), ('signup', 'growth', 2.0),
               ('error', 'ops', 0.1)
    )
    SELECT d.category AS category,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value * d.weight), 4) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY d.category
    ORDER BY category
    """,
    tags=("extension", "skew-salting", "joins"),
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted JOIN (:func:`..functions.skew.salted_join`):
    events' 5-value event_type key would funnel each hot key through
    one reducer in a shuffled join; salting spreads each key over 16
    lanes while the 5-row dim replicates 16×. A shuffle_hash hint
    forces the shuffled-join shape the salt exists for (with broadcast
    allowed, Spark would — correctly — just broadcast the dim; the
    pattern's target is the big-⋈-medium case where it can't). The
    oracle is the plain unsalted join — identical result, different
    shuffle shape."""
    from ..functions.skew import salted_join

    e = load(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [
            ("click", "engage", 1.0),
            ("view", "engage", 0.5),
            ("purchase", "revenue", 3.0),
            ("signup", "growth", 2.0),
            ("error", "ops", 0.1),
        ],
        "event_type string, category string, weight double",
    )
    joined = salted_join(e, dim.hint("shuffle_hash"), "event_type", salt_buckets=16)
    return (
        joined.groupBy("category")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias(
                "weighted_value"
            ),
        )
        .orderBy("category")
    )


_SQL_WHALES = """
    WITH percentiles AS (
        SELECT l_returnflag,
               percentile(l_extendedprice, 0.99) AS p99_trade_value
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice AS trade_value
    FROM lineitem l
    JOIN percentiles p ON l.l_returnflag = p.l_returnflag
    WHERE l.l_extendedprice >= p.p99_trade_value
    ORDER BY trade_value DESC, l.l_orderkey, l.l_linenumber
    LIMIT 100
"""


@query(
    "q_sql_text_whales",
    oracle="""
    WITH percentiles AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.99) AS p99_trade_value
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice AS trade_value
    FROM lineitem l
    JOIN percentiles p ON l.l_returnflag = p.l_returnflag
    WHERE l.l_extendedprice >= p.p99_trade_value
    ORDER BY trade_value DESC, l.l_orderkey, l.l_linenumber
    LIMIT 100
    """,
    tags=("extension", "sql-text"),
)
def q_sql_text_whales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's second entry point: raw SQL text through
    ``spark.sql`` over registered views (SURVEY.md §3.2 — parse →
    analyze → the same Catalyst plan as the DataFrame form). Verbatim
    CTE shape of the reference's Q5
    (sql/athena_sample_queries.sql:100-121)."""
    register_all(spark, sf_dir)
    return spark.sql(_SQL_WHALES)


# ---------------------------------------------------------------------------
# Interval join (no equi key) + banded range join
# ---------------------------------------------------------------------------
def binned_interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bin_seconds: int = 60,
) -> DataFrame:
    """Join facts to half-open time intervals [start, end) with NO equi
    key — the case where a naive join degenerates to a broadcast
    nested loop over the whole fact table.

    Scale-safe shape: explode each interval to the coarse time bins it
    overlaps (fan-out = interval length / bin width, typically 1-2),
    bin each fact ONCE, equi-join on the bin, then apply the exact
    range predicate as a residual. Both sides shuffle hash-partitioned
    on the bin — co-located, no cross product; a fact falls in exactly
    one bin, so no post-join dedup is needed. Choose ``bin_seconds``
    near the typical interval length so neither side's fan-out
    explodes."""
    bin_us = bin_seconds * 1_000_000
    ivals = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / bin_us).cast("long"),
                # end is exclusive: the bin of (end - 1µs)
                F.floor((F.unix_micros(F.col(end_col)) - 1) / bin_us).cast("long"),
            )
        ),
    )
    binned = facts.withColumn(
        "_bin", F.floor(F.unix_micros(F.col(ts_col)) / bin_us).cast("long")
    )
    return (
        binned.join(ivals, "_bin")
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_bin")
    )


def range_band_join(
    facts: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Banded range join: each fact row matches the band whose half-open
    range [lo, hi) contains its value (tiering, histogram buckets, tax
    brackets). The band table is dimension-sized by definition, so the
    right plan at ANY fact scale is an explicit broadcast with the
    range predicate evaluated fact-side (a broadcast nested-loop whose
    inner side is a handful of rows — effectively a per-row bin
    lookup, no shuffle of the facts). For band tables too large to
    broadcast, fall back to :func:`binned_interval_join` semantics on
    the value axis."""
    return facts.join(
        F.broadcast(bands),
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)),
    )


@query(
    "q_interval_join",
    oracle="""
    WITH by_min AS (
        SELECT event_type, date_trunc('minute', ts) AS m, COUNT(*) AS cnt
        FROM events GROUP BY event_type, m
    ), wins AS (
        SELECT event_type AS win_type, m AS win_start,
               m + INTERVAL 1 MINUTE AS win_end
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY event_type ORDER BY cnt DESC, m
            ) AS rn FROM by_min
        ) WHERE rn <= 3
    )
    SELECT w.win_type, w.win_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           ROUND(SUM(e.value), 2) AS total_value
    FROM wins w JOIN events e
      ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY w.win_type, w.win_start
    ORDER BY w.win_type, w.win_start
    """,
    tags=("extension", "interval-join"),
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-stream interval join: each event type's 3 busiest minutes
    define alert windows; count ALL traffic (any type) falling inside
    any window. There is no equi key — the oracle joins on the raw
    range predicate; the engine runs the binned equi-join + residual
    (:func:`binned_interval_join`), which hash-partitions both sides
    on the time bin instead of nested-looping the fact table."""
    e = load(spark, sf_dir, "events")
    by_min = e.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("m"))
    wins = (
        by_min.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("event_type").alias("win_type"),
            F.col("m").alias("win_start"),
            (F.col("m") + F.expr("INTERVAL 1 MINUTE")).alias("win_end"),
        )
    )
    joined = binned_interval_join(e, wins, "ts", "win_start", "win_end", 60)
    return (
        joined.groupBy("win_type", "win_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("win_type", "win_start")
    )


@query(
    "q_range_band_join",
    oracle="""
    WITH ps AS (
        SELECT quantile_cont(o_totalprice,
                   [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS p,
               MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        FROM orders
    ), bands AS (
        SELECT r.range AS band_id,
               CASE WHEN r.range = 0 THEN mn - 1
                    ELSE ROUND(p[CAST(r.range AS INT) + 1], 6) END AS lo,
               CASE WHEN r.range = 9 THEN mx + 1
                    ELSE ROUND(p[CAST(r.range AS INT) + 2], 6) END AS hi
        FROM ps CROSS JOIN range(0, 10) r
    )
    SELECT band_id, ROUND(lo, 6) AS lo, ROUND(hi, 6) AS hi,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM bands b JOIN orders o
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY band_id, lo, hi
    ORDER BY band_id
    """,
    tags=("extension", "range-band-join"),
)
def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding of order values: exact-percentile band edges
    (rounded to 6dp on BOTH engines so containment decisions are
    bit-identical), outer edges widened past min/max, then a broadcast
    banded range join (:func:`range_band_join`) classifying every
    order — the facts never shuffle; the 10-row band table rides along
    broadcast. Edges derive from a 1-row aggregate exploded into band
    rows, no driver collect."""
    o = load(spark, sf_dir, "orders")
    qlist = ",".join(str(i / 10) for i in range(11))
    ps = o.agg(
        F.expr(f"percentile(o_totalprice, array({qlist}))").alias("p"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    )
    bands = (
        ps.select(
            "p", "mn", "mx", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("_i")
        )
        .select(
            F.col("_i").cast("long").alias("band_id"),
            F.when(F.col("_i") == 0, F.col("mn") - 1)
            .otherwise(F.round(F.expr("element_at(p, _i + 1)"), 6))
            .alias("lo"),
            F.when(F.col("_i") == 9, F.col("mx") + 1)
            .otherwise(F.round(F.expr("element_at(p, _i + 2)"), 6))
            .alias("hi"),
        )
    )
    joined = range_band_join(o, bands, "o_totalprice")
    return (
        joined.groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            "band_id",
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            "n_orders",
            "total_price",
        )
        .orderBy("band_id")
    )


@query(
    "q_unpivot_melt",
    oracle="""
    WITH wide AS (
        SELECT date_trunc('hour', ts) AS h,
               ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
               ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 6) AS view,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase
        FROM events GROUP BY h
    ), long AS (
        SELECT h, 'click' AS event_type, click AS hourly_value FROM wide
        UNION ALL SELECT h, 'view', view FROM wide
        UNION ALL SELECT h, 'purchase', purchase FROM wide
    )
    SELECT event_type,
           COUNT(hourly_value) AS n_hours,
           ROUND(SUM(hourly_value), 4) AS total_value
    FROM long
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("extension", "pivot-unpivot"),
)
def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot round trip: hourly values pivot WIDE by event
    type (one hash aggregate with conditional sums — no join), then
    ``unpivot`` melts the matrix back to long form and a final
    aggregate proves the reshape is lossless. Unpivot is a zero-shuffle
    row-local expansion (each wide row emits one row per measure —
    Spark's Expand node), so the reshape costs no exchange at any
    scale; NULL cells (hours with no such events) drop out of the melt
    exactly as the SQL form's COUNT/SUM ignore them."""
    e = load(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.round(F.sum("value"), 6))
    )
    long = wide.unpivot(
        ["h"], ["click", "view", "purchase"], "event_type", "hourly_value"
    ).filter(F.col("hourly_value").isNotNull())
    return (
        long.groupBy("event_type")
        .agg(
            F.count("hourly_value").alias("n_hours"),
            F.round(F.sum("hourly_value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q_user_value_deciles",
    oracle="""
    WITH per_user AS (
        SELECT user_id, ROUND(SUM(value), 6) AS total_value
        FROM events GROUP BY user_id
    ), tiled AS (
        SELECT user_id, total_value,
               NTILE(10) OVER (ORDER BY total_value DESC, user_id) AS decile
        FROM per_user
    )
    SELECT decile,
           COUNT(*) AS n_users,
           ROUND(MIN(total_value), 6) AS floor_value,
           ROUND(MAX(total_value), 6) AS ceil_value,
           ROUND(SUM(total_value), 4) AS decile_value
    FROM tiled
    GROUP BY decile
    ORDER BY decile
    """,
    tags=("extension", "window-ntile"),
)
def q_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile segmentation: NTILE(10) over per-user
    lifetime value (ties broken on the rounded total then user id, so
    both engines tile identically). The global window runs on the
    AGGREGATED side — user cardinality, not event cardinality — which
    is the only safe place for an unpartitioned window; the event scan
    itself sees one hash aggregate. Per-decile min/max/sum give the
    segmentation report."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.round(F.sum("value"), 6).alias("total_value"))
    w = Window.orderBy(F.desc("total_value"), F.asc("user_id"))
    tiled = per_user.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.min("total_value"), 6).alias("floor_value"),
            F.round(F.max("total_value"), 6).alias("ceil_value"),
            F.round(F.sum("total_value"), 4).alias("decile_value"),
        )
        .orderBy("decile")
    )


@query(
    "q_lateral_topn_suppliers",
    oracle="""
    SELECT n.n_name, s.s_name, s.s_acctbal
    FROM nation n,
         LATERAL (
             SELECT s_name, s_acctbal
             FROM supplier
             WHERE s_nationkey = n.n_nationkey
             ORDER BY s_acctbal DESC, s_name
             LIMIT 2
         ) s
    ORDER BY n.n_name, s.s_acctbal DESC, s.s_name
    """,
    tags=("extension", "lateral-join", "sql-surface"),
)
def q_lateral_topn_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 suppliers by account balance
    per nation, written as the SQL-standard lateral join both engines
    parse natively. Catalyst DECORRELATES it into the same plan as the
    window rendering (DomainJoin → partitioned rank — no per-outer-row
    re-execution), so the n_topk-per-group idiom costs one shuffle on
    the correlation key at any scale; this query pins the SQL surface
    while `q_window_topn_per_group` pins the DataFrame rendering."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, s.s_name, s.s_acctbal
        FROM nation n,
             LATERAL (
                 SELECT s_name, s_acctbal
                 FROM supplier
                 WHERE s_nationkey = n.n_nationkey
                 ORDER BY s_acctbal DESC, s_name
                 LIMIT 2
             ) s
        ORDER BY n.n_name, s.s_acctbal DESC, s.s_name
        """
    )


_RECURSIVE_TREE_SQL = """
    WITH RECURSIVE tree(p_partkey, depth) AS (
        SELECT p_partkey, 0 AS depth FROM part WHERE p_partkey = 1
        UNION ALL
        SELECT c.p_partkey, t.depth + 1
        FROM part c JOIN tree t
          ON CAST(FLOOR(c.p_partkey / 2.0) AS BIGINT) = t.p_partkey
         AND c.p_partkey > 1
        WHERE t.depth < 10
    )
    SELECT depth,
           COUNT(*) AS n_nodes,
           MIN(p_partkey) AS min_key,
           MAX(p_partkey) AS max_key
    FROM tree
    GROUP BY depth
    ORDER BY depth
"""


@query(
    "q_recursive_tree_traversal",
    oracle=_RECURSIVE_TREE_SQL,
    tags=("extension", "recursive-cte", "sql-surface", "iterative"),
)
def q_recursive_tree_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard RECURSIVE CTE (new in Spark 4): breadth-first
    traversal of the implicit binary tree ``parent = ⌊key/2⌋`` over the
    part table, per-depth roll-up. Both engines execute the identical
    recursion (DuckDB has native WITH RECURSIVE), so the hash match
    certifies Spark's recursive-CTE execution end-to-end — the
    SQL-surface twin of the engine's driver-side iterative operators
    (connected components, k-means, BPE), which remain the 100 TB
    path: the recursive CTE re-joins the full child table per level,
    where the hand-rolled fixpoints checkpoint ids-only state per
    round and stop on convergence, not a depth literal."""
    register_all(spark, sf_dir)
    return spark.sql(_RECURSIVE_TREE_SQL)


# ---------------------------------------------------------------------------
# 1. Point-in-time join against an SCD2 dimension (feature-store as-of)
# ---------------------------------------------------------------------------
_SCD2_DIM_SQL = """
    WITH e AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type
        FROM events WHERE user_id < 20 AND ts < TIMESTAMP '2024-01-11'
    ), counts AS (
        SELECT user_id, day, event_type, COUNT(*) AS c
        FROM e GROUP BY user_id, day, event_type
    ), snap AS (
        SELECT user_id, day, event_type AS segment FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, day
                ORDER BY c DESC, event_type ASC) AS rn
            FROM counts
        ) WHERE rn = 1
    ), chg AS (
        SELECT user_id, day, segment,
               LAG(segment) OVER (PARTITION BY user_id ORDER BY day) AS prev
        FROM snap
    ), ver AS (
        SELECT user_id, day, segment FROM chg
        WHERE prev IS NULL OR segment <> prev
    )
    SELECT user_id, segment, day AS valid_from,
           LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS valid_to
    FROM ver
"""


@query(
    "q_scd2_point_in_time_join",
    oracle=f"""
    WITH dim AS ({_SCD2_DIM_SQL})
    SELECT f.user_id, d.segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(f.value), 4) AS sum_value
    FROM (SELECT user_id, ts, value FROM events
          WHERE user_id < 20 AND ts < TIMESTAMP '2024-01-11') f
    JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    GROUP BY f.user_id, d.segment
    ORDER BY f.user_id, d.segment
    """,
    tags=("merge", "scd2", "as-of-join", "feature-store", "extension"),
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join: every event joined to the dimension version
    that was valid AT ITS TIMESTAMP — the feature-store primitive that
    prevents label leakage (training rows must see yesterday's
    features, not today's).  The dimension is the SCD2 history of each
    user's daily dominant event type (closed-form window construction;
    the iterated-MERGE build of the same history is verified by
    ``q_scd2_history_build``).

    Plan shape: the dimension is key-bounded (open+closed versions of
    ≤20 users) so it BROADCASTS; the fact side streams through a
    broadcast hash join on ``user_id`` with the validity range as a
    residual filter — no shuffle of the fact table, the exact shape a
    100 TB feature backfill needs.  Every event falls in exactly one
    version interval by construction (versions start at the user's
    first observed day), so the join neither drops nor fans out."""

    e = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 20)
        & (F.col("ts") < F.lit("2024-01-11").cast("timestamp"))
    )
    counts = e.groupBy(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    snap = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "day", F.col("event_type").alias("segment"))
    )
    seq = Window.partitionBy("user_id").orderBy("day")
    ver = snap.withColumn("_prev", F.lag("segment").over(seq)).filter(
        F.col("_prev").isNull() | (F.col("segment") != F.col("_prev"))
    )
    dim = ver.select(
        "user_id",
        "segment",
        F.col("day").alias("valid_from"),
        F.lead("day").over(seq.orderBy("day")).alias("valid_to"),
    )
    facts = e.select("user_id", "ts", "value")
    joined = facts.join(
        F.broadcast(dim),
        on=[
            facts["user_id"] == dim["user_id"],
            facts["ts"] >= dim["valid_from"],
            dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"]),
        ],
    )
    return (
        joined.groupBy(facts["user_id"].alias("user_id"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("user_id", "segment")
    )


# ---------------------------------------------------------------------------
# 6. Pareto frontier (skyline) of order price vs recency
# ---------------------------------------------------------------------------
@query(
    "q_pareto_frontier",
    oracle="""
    WITH pts AS (
        SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
               MAX(o_orderdate) AS best_date
        FROM orders GROUP BY price_cents
    ), flagged AS (
        SELECT price_cents, best_date,
               MAX(best_date) OVER (
                   ORDER BY price_cents DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS better_date
        FROM pts
    )
    SELECT price_cents, best_date
    FROM flagged
    WHERE better_date IS NULL OR best_date > better_date
    ORDER BY price_cents DESC
    """,
    tags=("relational", "skyline", "extension"),
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): orders not dominated on the
    (price, recency) plane — a point survives iff no other point has
    both ≥ price and ≥ date with one strict.  The classic
    multi-criteria shortlist operator (best-price-for-freshness).

    Shape: collapse to distinct price levels map-side (cents as exact
    BIGINTs; best date per price), then ONE descending-price window
    whose running MAX(date) over strictly-higher prices decides
    domination — an O(n log n) sort instead of the naive O(n²)
    dominance join, and the window input is already price-distinct so
    the sort is over a reduced frame.  Random 2-D data yields an
    O(log n)-sized frontier, so the result is report-sized at any
    scale."""

    pts = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("price_cents")
        )
        .agg(F.max("o_orderdate").alias("best_date"))
    )
    w = Window.orderBy(F.col("price_cents").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = pts.withColumn("better_date", F.max("best_date").over(w))
    return (
        flagged.filter(
            F.col("better_date").isNull()
            | (F.col("best_date") > F.col("better_date"))
        )
        .select("price_cents", "best_date")
        .orderBy(F.col("price_cents").desc())
    )


# ---------------------------------------------------------------------------
# 13. Incremental view maintenance of an aggregated JOIN
# ---------------------------------------------------------------------------
@query(
    "q_ivm_join_maintenance",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("warehouse", "ivm", "materialized-view", "extension"),
)
def q_ivm_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregated JOIN view — the
    delta-join algebra behind every streaming materialized view:
    with base snapshots A₀ (orders before 1998) ⋈ B₀ (first 60% of
    customers) aggregated into M₀, the arrival of ΔA (remaining
    orders) and ΔB (remaining customers) folds in as

        ΔM = agg(ΔA ⋈ B₀) ⊕ agg(A₀ ⋈ ΔB) ⊕ agg(ΔA ⋈ ΔB)

    — three DELTA-sized joins, never a re-join of the full bases.  The
    oracle computes the view over the FINAL state directly, so the
    hash match proves the maintenance algebra (including the easy-to-
    drop ΔA⋈ΔB cross term) converges to the from-scratch answer.

    Determinism: the mergeable measures are counts and exact
    cent-integers.  Scale: this is the production IVM cost model —
    work ∝ |Δ| per refresh; M is segment-cardinality and the merge is
    a tiny partial agg.  At 100 TB the deltas would broadcast against
    bucketed bases."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cut_date = F.lit("1998-01-01").cast("timestamp")
    max_key = cust.agg(F.max("c_custkey")).collect()[0][0]
    key_cut = int(max_key * 6 // 10)

    a0 = orders.filter(F.col("o_orderdate") < cut_date)
    da = orders.filter(F.col("o_orderdate") >= cut_date)
    b0 = cust.filter(F.col("c_custkey") <= key_cut)
    db = cust.filter(F.col("c_custkey") > key_cut)

    def agg_join(a, b):
        return (
            a.join(b, a["o_custkey"] == b["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
        )

    m0 = agg_join(a0, b0).localCheckpoint(eager=True)  # the stored view
    deltas = (
        agg_join(da, b0)
        .unionByName(agg_join(a0, db))
        .unionByName(agg_join(da, db))
    )
    return (
        m0.unionByName(deltas)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# 14. Position-based (U-shaped) marketing attribution
# ---------------------------------------------------------------------------
@query(
    "q_position_attribution",
    oracle="""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts,
               CAST(FLOOR(value * 1e6) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase' AND user_id < 40
    ), touches AS (
        SELECT p.p_id, p.v, e.event_type, e.ts, e.event_id,
               ROW_NUMBER() OVER (PARTITION BY p.p_id
                                  ORDER BY e.ts, e.event_id) AS pos,
               COUNT(*) OVER (PARTITION BY p.p_id) AS k
        FROM purchases p
        JOIN events e
          ON e.user_id = p.user_id
         AND e.event_type IN ('click', 'view')
         AND e.ts < p.p_ts
         AND e.ts >= p.p_ts - INTERVAL 2 HOUR
    ), credited AS (
        SELECT event_type,
               CASE WHEN k = 1 THEN v
                    WHEN k = 2 AND pos = 1 THEN v // 2
                    WHEN k = 2 AND pos = 2 THEN v - v // 2
                    WHEN pos = 1 THEN (v * 2) // 5
                    WHEN pos = k THEN
                        v - (v * 2) // 5
                          - (k - 2) * ((v // 5) // (k - 2))
                    ELSE (v // 5) // (k - 2) END AS credit
        FROM touches
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit) AS BIGINT) AS credited_micros
    FROM credited GROUP BY event_type ORDER BY event_type
    """,
    tags=("analytics", "attribution", "extension"),
)
def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) attribution: each purchase's
    value is credited across its preceding 2-hour click/view
    touchpoints — 40% to the first touch, 40% to the last, the middle
    20% split evenly — the standard multi-touch model between
    last-click and linear.

    Determinism: credit allocation is INTEGER micro-unit arithmetic
    with the remainder assigned to the last touch (the
    largest-remainder discipline from llm_mixture_temperature), so
    credits sum exactly to the purchase value and every engine-side
    double-summation hazard disappears.

    Scale: one interval join keyed on user (the attribution shuffle),
    windows partitioned per purchase, then a types-sized rollup."""

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 1e6).cast("long").alias("v"),
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    joined = purchases.join(
        touches,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("interval 2 hours")),
    )
    wp = Window.partitionBy("p_id")
    pos = F.row_number().over(wp.orderBy("ts", "event_id"))
    ranked = joined.select(
        "event_type",
        "v",
        pos.alias("pos"),
        F.count(F.lit(1)).over(wp).alias("k"),
    )
    v, k, p = F.col("v"), F.col("k"), F.col("pos")
    mid = (v.cast("long") / 5).cast("long")  # v // 5 (v >= 0)
    first40 = (v * 2 / 5).cast("long")
    mid_each = (mid / (k - 2)).cast("long")
    credit = (
        F.when(k == 1, v)
        .when((k == 2) & (p == 1), (v / 2).cast("long"))
        .when((k == 2) & (p == 2), v - (v / 2).cast("long"))
        .when(p == 1, first40)
        .when(p == k, v - first40 - (k - 2) * mid_each)
        .otherwise(mid_each)
    )
    return (
        ranked.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit").cast("long").alias("credited_micros"),
        )
        .orderBy("event_type")
    )


@query(
    "q_triangle_count",
    oracle="""
    WITH pd AS (
        SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
        FROM events WHERE event_type = 'purchase' AND user_id < 60
    ), edges AS (
        SELECT DISTINCT a.u AS ua, b.u AS ub
        FROM pd a JOIN pd b ON a.h = b.h AND a.u < b.u
    ), deg AS (
        SELECT u, COUNT(*) AS deg FROM (
            SELECT ua AS u FROM edges UNION ALL SELECT ub FROM edges
        ) GROUP BY u
    ), tri AS (
        SELECT COUNT(*) AS t
        FROM edges e1
        JOIN edges e2 ON e2.ua = e1.ua AND e2.ub > e1.ub
        JOIN edges e3 ON e3.ua = e1.ub AND e3.ub = e2.ub
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           ROUND(3.0 * (SELECT t FROM tri)
                 / (SELECT SUM(deg * (deg - 1) / 2) FROM deg), 6)
               AS clustering_coef
    """,
    tags=("graph", "triangle-count", "extension"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting with DEGREE-ORDERED edge
    orientation (round-8): the co-purchase graph (users < 60 who
    purchased in the same hour) is oriented from the endpoint with the
    smaller (degree, id) to the larger, so every triangle is counted
    exactly once from its lowest-degree corner and each adjacency-list
    self-join key fans out by O(sqrt(|E|)) even on power-law graphs —
    the standard trick that keeps the wedge join from exploding on hub
    nodes (a naive undirected wedge join fans out quadratically in the
    max degree).  Global clustering coefficient = 3·triangles /
    wedges closes the audit.  The oracle counts the same triangles
    with an unoriented 3-way self-join — safe at oracle scale, wrong
    at 100 TB, which is exactly the point of pinning the oriented
    plan against it.

    Scale: the graph build is an equi join on the hour bucket; edges
    ship as (src, dst) id pairs; both triangle joins are
    broadcastable id-pair relations at any realistic edge count for a
    bounded user slice, and partition by src otherwise."""
    e = (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 60))
        .select(
            F.col("user_id").alias("u"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .distinct()
    )
    b = e.select(F.col("u").alias("v"), F.col("h").alias("h2"))
    edges = (
        e.join(b, (F.col("h") == F.col("h2")) & (F.col("u") < F.col("v")))
        .select(F.col("u").alias("ua"), F.col("v").alias("ub"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("ua").alias("u"))
        .unionByName(edges.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from the smaller (deg, id) endpoint to the larger
    da = deg.select(F.col("u").alias("ua"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("ub"), F.col("deg").alias("deg_b"))
    oriented = (
        edges.join(F.broadcast(da), "ua")
        .join(F.broadcast(db), "ub")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("ua") < F.col("ub"))),
                F.struct(F.col("ua").alias("src"), F.col("ub").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("ub").alias("src"), F.col("ua").alias("dst"))
            )
            .alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=False)
    )
    # wedges at the low-degree corner: (src, d1, d2); triangle iff the
    # closing edge (d1, d2) exists in EITHER orientation
    w1 = oriented.select("src", F.col("dst").alias("d1"))
    w2 = oriented.select(F.col("src").alias("src"), F.col("dst").alias("d2"))
    wedges = w1.join(w2, "src").filter(F.col("d1") < F.col("d2"))
    closing = oriented.select(
        F.col("src").alias("d1"), F.col("dst").alias("d2")
    ).unionByName(
        oriented.select(F.col("dst").alias("d1"), F.col("src").alias("d2"))
    )
    tri = wedges.join(closing, ["d1", "d2"]).count()
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).alias("n_wedges"),
    )
    n_edges = edges.count()
    return stats.select(
        "n_nodes",
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(tri).cast("long").alias("n_triangles"),
        F.round(F.lit(3.0) * F.lit(tri) / F.col("n_wedges"), 6).alias(
            "clustering_coef"
        ),
    )


#: Fellegi–Sunter field parameters (m = P(agree | match),
#: u = P(agree | non-match)) — fixed textbook values.  The per-field
#: log-likelihood weights ln(m/u) / ln((1−m)/(1−u)) are PRECOMPUTED in
#: Python and inlined as identical full-precision double literals into
#: BOTH engines: DuckDB would otherwise parse ``0.9/0.2`` as DECIMAL
#: division (exact 4.5) where Python divides doubles — a 1-ulp drift
#: the rounding convention shouldn't have to absorb.
_FS_FIELDS = tuple(
    (name, math.log(m / u), math.log((1 - m) / (1 - u)))
    for name, m, u in (
        ("seg_agree", 0.9, 0.2),
        ("bal_agree", 0.8, 0.05),
        ("sign_agree", 0.95, 0.55),
    )
)
_FS_SLICE = 900  # constant comparison slice (quadratic-within-block recipe)


def _fs_weight_sql() -> str:
    # each literal is CAST to DOUBLE: DuckDB otherwise parses the
    # full-precision literals as DECIMAL and sums them EXACTLY, while
    # Spark folds doubles left-to-right — the standing decimal-literal
    # trap (memory: "DuckDB decimal literals")
    terms = []
    for name, w_agree, w_dis in _FS_FIELDS:
        terms.append(
            f"CASE WHEN {name} THEN CAST({w_agree!r} AS DOUBLE)"
            f" ELSE CAST({w_dis!r} AS DOUBLE) END"
        )
    return " + ".join(terms)


@query(
    "q_fellegi_sunter_linkage",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey < {_FS_SLICE}
    ), pairs AS (
        SELECT a.c_mktsegment = b.c_mktsegment AS seg_agree,
               ABS(a.c_acctbal - b.c_acctbal) < 100 AS bal_agree,
               SIGN(a.c_acctbal) = SIGN(b.c_acctbal) AS sign_agree
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    )
    SELECT seg_agree, bal_agree, sign_agree,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND({_fs_weight_sql()}, 6) AS fs_weight,
           CASE WHEN ({_fs_weight_sql()}) > 2 THEN 'match'
                WHEN ({_fs_weight_sql()}) < -2 THEN 'non-match'
                ELSE 'review' END AS classification
    FROM pairs
    GROUP BY seg_agree, bal_agree, sign_agree
    ORDER BY seg_agree, bal_agree, sign_agree
    """,
    tags=("entity-resolution", "record-linkage", "extension"),
)
def q_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (round-8 — the
    scoring stage ``llm_blocking_quality`` stops short of): customer
    pairs within a NATION block are compared on three fields (market
    segment, balance within 100, balance sign) and scored with the
    classic sum of log-likelihood weights ln(m/u) / ln((1−m)/(1−u))
    under fixed published m/u parameters; scores bucket pairs into
    match / review / non-match.  Grouping by full agreement pattern
    makes the output the 2³-row decision table the FS model actually
    produces — every pattern's weight and classification is pinned to
    6 dp (natural log is libm-stable under the rounding convention).

    Scale: blocking bounds the pair space (nation blocks here; any
    LSH/sorted-neighborhood key at 100 TB), the comparison slice is
    constant, and the score is a map-side expression — no shuffle
    beyond the 8-row rollup."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _FS_SLICE)
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    )
    a = c.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sa"),
        F.col("c_acctbal").alias("ba"),
    )
    b = c.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sb"),
        F.col("c_acctbal").alias("bb"),
    )
    pairs = (
        a.join(b, "nk")
        .filter(F.col("ka") < F.col("kb"))
        .select(
            (F.col("sa") == F.col("sb")).alias("seg_agree"),
            (F.abs(F.col("ba") - F.col("bb")) < 100).alias("bal_agree"),
            (F.signum("ba") == F.signum("bb")).alias("sign_agree"),
        )
    )
    weight = None
    for name, w_agree, w_dis in _FS_FIELDS:
        term = F.when(F.col(name), F.lit(w_agree)).otherwise(F.lit(w_dis))
        weight = term if weight is None else weight + term
    return (
        pairs.groupBy("seg_agree", "bal_agree", "sign_agree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.max(weight), 6).alias("fs_weight"),
            F.max(
                F.when(weight > 2, F.lit("match"))
                .when(weight < -2, F.lit("non-match"))
                .otherwise(F.lit("review"))
            ).alias("classification"),
        )
        .orderBy("seg_agree", "bal_agree", "sign_agree")
    )


def coactivity_edges(e, bucket_micros: int, user_bound: int | None = None):
    """Symmetric co-activity edge list shared by the graph family
    (``q_bfs_shortest_paths``, ``q_link_prediction_jaccard``): users are adjacent
    when active in the same ``bucket_micros`` time bucket.  Returns
    the directed-both-ways (x, y) frame; callers bound/cache it."""
    if user_bound is not None:
        e = e.filter(F.col("user_id") < user_bound)
    h = e.select(
        F.col("user_id").alias("u"),
        F.expr(f"unix_micros(ts) div {bucket_micros}").alias("m"),
    ).distinct()
    co = (
        h.alias("p")
        .join(h.alias("q"), F.expr("p.m = q.m AND p.u < q.u"))
        .select(F.col("p.u").alias("x"), F.col("q.u").alias("y"))
        .distinct()
    )
    return co, co.unionByName(
        co.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )


_BFS_MAX_DEPTH = 6


@query(
    "q_bfs_shortest_paths",
    oracle=f"""
    WITH RECURSIVE h AS (
        SELECT DISTINCT user_id AS u, epoch_us(ts) // 60000000 AS m
        FROM events
    ), co AS (
        SELECT DISTINCT a.u AS x, b.u AS y
        FROM h a JOIN h b ON a.m = b.m AND a.u < b.u
    ), edges AS (
        SELECT x, y FROM co UNION ALL SELECT y AS x, x AS y FROM co
    ), src AS (
        SELECT MIN(user_id) AS s FROM events
    ), bfs AS (
        SELECT s AS node, 0 AS d FROM src
        UNION
        SELECT e.y AS node, b.d + 1 AS d
        FROM bfs b JOIN edges e ON e.x = b.node
        WHERE b.d < {_BFS_MAX_DEPTH}
    ), dist AS (
        SELECT node, MIN(d) AS dist FROM bfs GROUP BY node
    )
    SELECT CAST(dist AS BIGINT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS id_sum
    FROM dist GROUP BY dist ORDER BY dist
    """,
    tags=("graph", "bfs", "iterative", "extension"),
)
def q_bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS SHORTEST PATHS over the user co-activity graph (round-8 —
    the frontier-expansion iterative-graph operator next to the
    fixpoint family: PageRank iterates mass, hash-min CC iterates
    labels, BFS iterates a FRONTIER): users are adjacent when active
    in the same minute; distances from the minimum user id expand one
    level per iteration, each level anti-joining the known set so a
    node's first discovery IS its shortest distance.  Depth is capped
    at {_BFS_MAX_DEPTH} on both sides; the oracle is DuckDB's
    recursive CTE with the same cap (UNION-dedup recursion — the
    relational fixpoint BFS).  Output is the distance histogram with
    an id-sum witness per level.

    Scale: the frontier join shuffles on node id, each level's
    frontier is coalesced and localCheckpoint-ed (plan stays
    iteration-bounded, lineage never stacks), and the edge list is
    cached once — the standard distributed BFS loop; the anti-join
    keeps per-level work ∝ newly reached nodes."""
    e = load(spark, sf_dir, "events")
    # the loop's relations are node-id-bounded (≤ |V| rows) — pin the
    # shuffle width for the iterated stages, 200-wide exchanges per
    # level are pure scheduling overhead (same pathology the SCD2
    # fold hit; etl_pipeline.py:609)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        _co, sym = coactivity_edges(e, 60000000)
        edges = sym.coalesce(8).localCheckpoint()
        src = e.agg(F.min("user_id").alias("node")).select(
            "node", F.lit(0).alias("d")
        )
        dist = src.coalesce(1).localCheckpoint()
        frontier = dist
        for depth in range(1, _BFS_MAX_DEPTH + 1):
            nxt = (
                frontier.join(edges, frontier["node"] == edges["x"])
                .select(F.col("y").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .select("node", F.lit(depth).alias("d"))
                .coalesce(8)
                .localCheckpoint()
            )
            if nxt.rdd.isEmpty():
                break
            # union of already-checkpointed frames: no re-materialize,
            # the anti-join scans ≤ depth checkpointed legs
            dist = dist.unionByName(nxt)
            frontier = nxt
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        dist.groupBy(F.col("d").cast("long").alias("dist"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("id_sum"),
        )
        .orderBy("dist")
    )


_GRID_R = 0.05  # join radius; cell edge = radius so 3x3 cells cover it
_GRID_R2 = 0.0025  # radius squared, written as the same literal both sides


def _coord_digest(seed: str) -> F.Column:
    """The shared cross-engine coordinate recipe: first 8 hex digits of
    md5(seed|u) as a BIGINT.  Both spatial operators derive their
    coordinates from this ONE helper (grid join: dyadic rational;
    point-in-polygon: integer grid) so the
    bit-identical-in-both-engines contract has a single definition."""
    digest = F.md5(F.concat_ws("|", F.lit(seed), F.col("u").cast("string")))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")


def _unit_coord(seed: str) -> F.Column:
    """Deterministic uniform [0, 1) coordinate from md5(seed|user_id) —
    exact dyadic rational k/2^32, so both engines hold the identical
    double and the distance refine compares identical bits."""
    return _coord_digest(seed) / F.lit(4294967296.0)


def _unit_coord_sql(seed: str) -> str:
    return (
        f"('0x' || substring(md5('{seed}' || '|' || CAST(u AS VARCHAR)), 1, 8))"
        f"::BIGINT / 4294967296.0"
    )


@query(
    "q_spatial_grid_join",
    oracle=f"""
    WITH ids AS (
        SELECT DISTINCT user_id AS u FROM events
    ), pts AS (
        SELECT u, {_unit_coord_sql("sx")} AS x, {_unit_coord_sql("sy")} AS y
        FROM ids
    )
    SELECT a.u AS a, b.u AS b,
           ROUND((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 9)
               AS d2
    FROM pts a JOIN pts b ON a.u < b.u
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_GRID_R2}
    ORDER BY a, b
    """,
    tags=("spatial", "bucketed-join", "extension"),
)
def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL distance self-join via GRID-CELL bucketing (round-8 —
    the 2-D member of the bucket-then-verify family: LSH bands bucket
    similarity space, IVF buckets embedding space, this buckets
    metric space): each user gets a deterministic point in [0,1)²
    (md5-derived dyadic rationals — bit-identical in both engines),
    and the engine finds every pair within radius {_GRID_R} by
    hashing points into radius-sized cells, probing only the 3×3
    neighborhood (one side explodes its 9 neighbor cells, the other
    keeps its single home cell — each pair is generated exactly once,
    no dedup pass), then refining with the exact distance predicate.
    The oracle brute-forces all pairs, so the hash match proves the
    grid probe is lossless.

    Scale: candidate work is O(n · local density), never O(n²) — the
    brute-force oracle is the semantics, the grid join is the 100 TB
    plan; the cell join shuffles on cell id, and finer cells are the
    salt lever for dense regions."""
    e = load(spark, sf_dir, "events")
    pts = (
        e.select(F.col("user_id").alias("u"))
        .distinct()
        .select(
            "u",
            _unit_coord("sx").alias("x"),
            _unit_coord("sy").alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / _GRID_R))
        .withColumn("cy", F.floor(F.col("y") / _GRID_R))
    )
    probe = (
        pts.select(
            F.col("u").alias("a_u"),
            F.col("x").alias("a_x"),
            F.col("y").alias("a_y"),
            "cx",
            "cy",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx"),
        )
        .select(
            "a_u",
            "a_x",
            "a_y",
            (F.col("cx") + F.col("dx")).alias("pcx"),
            "cy",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"),
        )
        .select("a_u", "a_x", "a_y", "pcx", (F.col("cy") + F.col("dy")).alias("pcy"))
    )
    d2 = (F.col("a_x") - F.col("x")) * (F.col("a_x") - F.col("x")) + (
        F.col("a_y") - F.col("y")
    ) * (F.col("a_y") - F.col("y"))
    return (
        probe.join(
            pts.select("u", "x", "y", "cx", "cy"),
            (F.col("pcx") == F.col("cx"))
            & (F.col("pcy") == F.col("cy"))
            & (F.col("a_u") < F.col("u")),
        )
        .filter(d2 <= F.lit(_GRID_R2))
        .select(
            F.col("a_u").alias("a"),
            F.col("u").alias("b"),
            F.round(d2, 9).alias("d2"),
        )
        .orderBy("a", "b")
    )


@query(
    "q_skew_advisor",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ), top AS (
        SELECT user_id AS top_key FROM c
        ORDER BY cnt DESC, user_id LIMIT 1
    ), a AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
               ROUND(STDDEV_SAMP(cnt) / AVG(cnt), 6) AS load_cv,
               CAST(SUM(CASE WHEN 2 * cnt * (SELECT COUNT(*) FROM c)
                                  > 3 * (SELECT SUM(cnt) FROM c)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
        FROM c
    )
    SELECT a.n_rows, a.n_keys, a.max_key_rows, top.top_key,
           ROUND(CAST(a.max_key_rows AS DOUBLE) / a.n_rows, 6)
               AS top1_share,
           ROUND(CAST(a.n_rows AS DOUBLE) / a.n_keys, 6) AS avg_key_rows,
           a.load_cv, a.n_hot_keys,
           CAST((a.max_key_rows * a.n_keys + a.n_rows - 1) // a.n_rows
                AS BIGINT) AS salt_factor
    FROM a, top
    """,
    tags=("operational", "skew", "advisor", "extension"),
)
def q_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-KEY SKEW ADVISOR (round-8 — the diagnosis half of the
    salting pair: ``q_salted_skew_agg``/``q_salted_skew_join`` APPLY
    the mitigation, this measures whether a key column needs it):
    census of the user_id key distribution — row/key counts, the
    hottest key and its load share, the coefficient of variation of
    key loads, the hot-key count (load > 1.5× average, compared in
    exact integers: 2·cnt·keys > 3·rows), and the recommended salt
    factor = ⌈max_load / avg_load⌉ computed as the exact integer
    ceiling (max·keys + rows − 1) div rows — the fan-out that levels
    the hottest key to average.

    Scale: one partial-aggregated key census (the same pass any
    shuffle would do) + a 1-row fold; this is the query you run
    BEFORE choosing partitioning for a 100 TB join."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    top = (
        c.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("user_id"))),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("user_id").alias("top_key"))
    )
    a = c.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_key_rows"),
        F.round(F.stddev_samp("cnt") / F.avg("cnt"), 6).alias("load_cv"),
    )
    hot = (
        c.crossJoin(F.broadcast(a.select("n_rows", "n_keys")))
        .filter(2 * F.col("cnt") * F.col("n_keys") > 3 * F.col("n_rows"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hot_keys"))
    )
    return (
        a.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(hot))
        .select(
            "n_rows",
            "n_keys",
            "max_key_rows",
            "top_key",
            F.round(
                F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
            ).alias("top1_share"),
            F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6).alias(
                "avg_key_rows"
            ),
            "load_cv",
            "n_hot_keys",
            F.expr(
                "cast((max_key_rows * n_keys + n_rows - 1) div n_rows as bigint)"
            ).alias("salt_factor"),
        )
    )


_LP_USERS = 100  # candidate subgraph bound: keeps path-2 volume result-sized
_LP_TOPK = 20


@query(
    "q_link_prediction_jaccard",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT user_id AS u, epoch_us(ts) // 60000000 AS m
        FROM events WHERE user_id < {_LP_USERS}
    ), co AS (
        SELECT DISTINCT a.u AS x, b.u AS y
        FROM h a JOIN h b ON a.m = b.m AND a.u < b.u
    ), edges AS (
        SELECT x, y FROM co UNION ALL SELECT y AS x, x AS y FROM co
    ), deg AS (
        SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY x
    ), p2 AS (
        SELECT e1.x AS a, e2.y AS b, CAST(COUNT(*) AS BIGINT) AS common
        FROM edges e1 JOIN edges e2 ON e1.y = e2.x AND e1.x < e2.y
        GROUP BY e1.x, e2.y
    ), cand AS (
        SELECT p2.a, p2.b, p2.common
        FROM p2 LEFT JOIN co ON co.x = p2.a AND co.y = p2.b
        WHERE co.x IS NULL
    ), scored AS (
        SELECT c.a, c.b, c.common, da.d AS deg_a, db.d AS deg_b,
               ROUND(c.common / CAST(da.d + db.d - c.common AS DOUBLE), 6)
                   AS jaccard
        FROM cand c
        JOIN deg da ON da.node = c.a
        JOIN deg db ON db.node = c.b
    )
    SELECT a, b, common, deg_a, deg_b, jaccard FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, a, b) AS rn
        FROM scored
    ) WHERE rn <= {_LP_TOPK}
    ORDER BY a, b
    """,
    tags=("graph", "link-prediction", "extension"),
)
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by neighbor-set Jaccard (round-8 — the
    predictive member of the graph family: PageRank scores nodes,
    triangles close them, BFS measures them, this predicts the EDGES
    that aren't there yet): over the minute co-activity graph
    (users < {_LP_USERS} bound the candidate volume), every
    non-adjacent pair reachable by a 2-path is scored
    |N(a)∩N(b)| / |N(a)∪N(b)| — common neighbors from the path-2
    self-join, the union by inclusion-exclusion from exact integer
    degrees — and the top {_LP_TOPK} are returned.  The single
    division is the only float; both engines divide the same
    integers.

    Scale: the path-2 join is the triangle kernel (shuffles on the
    middle node; work ∝ Σ deg²) and the anti-join against the edge
    list removes existing edges before scoring — the standard
    candidate-generation shape for link prediction at scale."""
    e = load(spark, sf_dir, "events")
    co, edges = coactivity_edges(e, 60000000, user_bound=_LP_USERS)
    deg = edges.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    p2 = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            F.expr("e1.y = e2.x AND e1.x < e2.y"),
        )
        .groupBy(F.col("e1.x").alias("a"), F.col("e2.y").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    cand = p2.join(
        co, (co["x"] == p2["a"]) & (co["y"] == p2["b"]), "left_anti"
    )
    scored = (
        cand.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a")), "a"
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b")), "b"
        )
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
            ),
        )
        .filter(F.col("rn") <= _LP_TOPK)
        .select("a", "b", "common", "deg_a", "deg_b", "jaccard")
        .orderBy("a", "b")
    )


#: Conf the skew drill scales DOWN to the test SF (at 100 TB the
#: stock 256 MB threshold trips naturally; at sf0.001–0.1 the hot
#: partition is KBs, so the thresholds shrink proportionally — the
#: skewedPartitionFactor stays at Spark's default 5.0, which is the
#: actual skew DETECTION contract being demonstrated).
_SKEW_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
    "spark.sql.shuffle.partitions": "32",
}


def run_skewed_join_drill(spark: SparkSession, sf_dir: str):
    """Build and EXECUTE the deliberately-skewed join under scaled AQE
    thresholds; returns ``(result_row, executed_plan_text)``.

    The join: fact side keys HALF its rows onto ONE hot key
    (``user_id % 2 = 0 → k = 0`` — a scale-invariant fraction; an
    absolute user-id cut would dilute as the id range grows with SF),
    dim side is one row per third
    event_id — an inner SMJ whose hot reduce partition AQE's
    OptimizeSkewedJoin must detect (size > factor × median) and split
    along map-block boundaries.  The fact side is repartitioned to 16
    map tasks first: AQE can only split a skewed reduce partition at
    map-output granularity, and a single-file local scan is ONE map
    task — the 100 TB reality this models is thousands of scan tasks,
    where the split is always available.  Broadcast is disabled so the
    planner cannot dodge the shuffle (the dim side here is small only
    because the fixture is); coalesce stays ON — the final plan shows
    both AQE behaviors composing (``coalesced and skewed``).
    """
    e = load(spark, sf_dir, "events")
    left = e.repartition(16).select(
        F.when(F.col("user_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("event_id"))
        .cast("long")
        .alias("k"),
        "value",
    )
    right = e.filter(F.col("event_id") % 3 == 0).select(
        F.col("event_id").cast("long").alias("k"),
        (F.col("event_id") % 97).cast("long").alias("w"),
    )
    agg = (
        left.join(right, "k")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("w").cast("long").alias("sum_w"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("value_micros"),
        )
    )
    prev = {k: spark.conf.get(k, None) for k in _SKEW_CONF}
    try:
        for k, v in _SKEW_CONF.items():
            spark.conf.set(k, v)
        (row,) = agg.collect()  # 1-row result pinned under the conf toggle
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    return row, plan


@query(
    "q_aqe_skew_join",
    oracle="""
    WITH l AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE event_id END AS k,
               value
        FROM events
    ), r AS (
        SELECT event_id AS k, event_id % 97 AS w
        FROM events WHERE event_id % 3 = 0
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS value_micros,
           TRUE AS skew_split_applied
    FROM l JOIN r USING (k)
    """,
    tags=("aqe", "skew-join", "adaptive", "extension"),
)
def q_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-split (OptimizeSkewedJoin) demonstrated END TO
    END: a join with half the fact rows on one hot key executes as a
    SortMergeJoin whose hot partition Spark detects from runtime map
    statistics (size > 5× median — the stock skewedPartitionFactor)
    and splits into map-range slices, each joined against a duplicated
    copy of the dim side's matching partition.  This is the engine's
    AUTOMATIC answer to the same problem `q_salted_skew_join` solves
    by hand — no salt column, no key rewrite, correct results.

    ``skew_split_applied`` is read from the executed adaptive plan
    (``SortMergeJoin(skew=true)`` + ``AQEShuffleRead … skewed``) and
    the oracle pins it TRUE, so a regression that stops tripping the
    rule fails the gate, not just a plan test.  Thresholds are scaled
    to the fixture (see ``_SKEW_CONF``); the detection factor is
    Spark's default.  Joined values are folded to exact-integer sums
    the oracle recomputes from scratch — the split must not lose or
    duplicate a single row."""
    row, plan = run_skewed_join_drill(spark, sf_dir)
    split = "skew=true" in plan
    return spark.createDataFrame(
        [(row.n_rows, row.sum_w, row.value_micros, split)],
        "n_rows long, sum_w long, value_micros long, skew_split_applied boolean",
    )


#: Polygon vertex rings (integer grid [0, 1000]²): a convex quad, a
#: rectilinear L (concave, with horizontal edges — the ray-cast tie
#: case), and a triangle overlapping the quad.  Single source of
#: truth: the Spark edge frame AND the oracle's VALUES list are both
#: generated from this table.
_POLYGONS = {
    1: [(100, 100), (400, 150), (350, 450), (120, 380)],
    2: [(500, 500), (900, 500), (900, 700), (700, 700), (700, 900), (500, 900)],
    3: [(50, 50), (300, 80), (80, 300)],
}

_POLY_EDGES = [
    (pid, x1, y1, x2, y2)
    for pid, ring in _POLYGONS.items()
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1])
]


def pip_join(points: DataFrame, edges: DataFrame) -> DataFrame:
    """Point-in-polygon containment join — EXACT integer ray casting.

    ``points`` = (u, px, py) integer coordinates; ``edges`` =
    (poly_id, x1, y1, x2, y2) directed boundary segments.  A ray is
    cast to +x; an edge counts as crossed iff the point's y straddles
    it under the HALF-OPEN rule ``(y1 > py) != (y2 > py)`` — the lower
    endpoint is included, the upper excluded, so a ray through a
    vertex is counted exactly once and horizontal edges (y1 = y2)
    never count — and the edge's x at py lies strictly right of px,
    evaluated without division as a sign test on the integer cross
    product ``(x2-x1)(py-y1) - (px-x1)(y2-y1)`` (flipped when the edge
    descends).  All arithmetic stays in BIGINT — no float epsilon, so
    Spark and the oracle agree bit-for-bit.  Points exactly ON a
    non-horizontal edge fall right of nothing at that edge (strict
    inequality) — the boundary rule is deterministic and documented,
    not epsilon-lucky.

    Plan shape: a bbox prefilter against the broadcast per-polygon
    bounds (BroadcastNestedLoopJoin over a polygon-count build side —
    bounded by construction) cuts the candidate set, then one
    broadcast hash join on poly_id fans candidates to their edges and
    a single partial aggregation folds the crossing parity.  Work is
    O(points + candidates × ring length); at 100 TB with millions of
    polygons the bbox stage becomes the grid-cell join
    (q_spatial_grid_join) keyed on cell — same pattern, bigger dim.
    """
    bboxes = edges.groupBy("poly_id").agg(
        F.min(F.least("x1", "x2")).alias("xmin"),
        F.max(F.greatest("x1", "x2")).alias("xmax"),
        F.min(F.least("y1", "y2")).alias("ymin"),
        F.max(F.greatest("y1", "y2")).alias("ymax"),
    )
    cand = points.join(
        F.broadcast(bboxes),
        (F.col("px") >= F.col("xmin"))
        & (F.col("px") <= F.col("xmax"))
        & (F.col("py") >= F.col("ymin"))
        & (F.col("py") <= F.col("ymax")),
    ).select("u", "px", "py", "poly_id")
    j = cand.join(F.broadcast(edges), "poly_id")
    cross = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1")) - (
        F.col("px") - F.col("x1")
    ) * (F.col("y2") - F.col("y1"))
    straddles = (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    crossing = straddles & (
        ((F.col("y2") > F.col("y1")) & (cross > 0))
        | ((F.col("y2") < F.col("y1")) & (cross < 0))
    )
    return (
        j.groupBy("poly_id", "u", "px", "py")
        .agg(F.sum(crossing.cast("int")).alias("nc"))
        .filter(F.col("nc") % 2 == 1)
        .select("poly_id", "u", "px", "py")
    )


_PIP_EDGE_VALUES = ", ".join(f"({p}, {a}, {b}, {c}, {d})" for p, a, b, c, d in _POLY_EDGES)


def _int_coord_sql(seed: str) -> str:
    return (
        f"('0x' || substring(md5('{seed}' || '|' || CAST(u AS VARCHAR)), 1, 8))"
        f"::BIGINT % 1000"
    )


@query(
    "q_point_in_polygon_join",
    oracle=f"""
    WITH ids AS (
        SELECT DISTINCT user_id AS u FROM events
    ), pts AS (
        SELECT u,
               {_int_coord_sql("px")} AS px,
               {_int_coord_sql("py")} AS py
        FROM ids
    ), edges(poly_id, x1, y1, x2, y2) AS (
        VALUES {_PIP_EDGE_VALUES}
    ), bbox AS (
        SELECT poly_id,
               MIN(LEAST(x1, x2)) AS xmin, MAX(GREATEST(x1, x2)) AS xmax,
               MIN(LEAST(y1, y2)) AS ymin, MAX(GREATEST(y1, y2)) AS ymax
        FROM edges GROUP BY poly_id
    ), cand AS (
        SELECT u, px, py, poly_id
        FROM pts JOIN bbox
          ON px BETWEEN xmin AND xmax AND py BETWEEN ymin AND ymax
    ), par AS (
        SELECT cand.poly_id, u, px, py,
               SUM(CASE WHEN ((y1 > py) <> (y2 > py))
                         AND (((y2 > y1) AND
                               (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) > 0)
                           OR ((y2 < y1) AND
                               (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) < 0))
                        THEN 1 ELSE 0 END) AS nc
        FROM cand JOIN edges ON cand.poly_id = edges.poly_id
        GROUP BY cand.poly_id, u, px, py
    )
    SELECT CAST(poly_id AS BIGINT) AS poly_id, u,
           CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py
    FROM par WHERE nc % 2 = 1
    ORDER BY poly_id, u
    """,
    tags=("spatial", "point-in-polygon", "extension"),
)
def q_point_in_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-POLYGON containment join — the second spatial primitive
    next to ``q_spatial_grid_join``'s radius join: each user gets a
    deterministic integer point in the [0,1000)² grid (md5-derived, so
    both engines hold identical values), and the engine reports every
    (polygon, point) containment pair over three literal polygons — a
    convex quad, a CONCAVE rectilinear L whose horizontal edges
    exercise the ray-cast tie rule, and a triangle.  Exact integer ray
    casting (:func:`pip_join` — half-open edge rule, cross-product
    sign test, no division, no floats) makes the oracle's from-scratch
    SQL recompute agree bit-for-bit; vertex/edge/horizontal tie cases
    are additionally pinned in tests/test_point_in_polygon.py."""
    e = load(spark, sf_dir, "events")
    pts = (
        e.select(F.col("user_id").alias("u"))
        .distinct()
        .select(
            "u",
            (_coord_digest("px") % 1000).alias("px"),
            (_coord_digest("py") % 1000).alias("py"),
        )
    )
    edges = spark.createDataFrame(
        _POLY_EDGES, "poly_id int, x1 int, y1 int, x2 int, y2 int"
    )
    return (
        pip_join(pts, edges)
        .select(
            F.col("poly_id").cast("long").alias("poly_id"),
            "u",
            F.col("px").cast("long").alias("px"),
            F.col("py").cast("long").alias("py"),
        )
        .orderBy("poly_id", "u")
    )


_BLOOM_CONF = {
    # broadcast disabled so the join actually shuffles (the regime
    # where a runtime bloom filter pays); thresholds scaled to the
    # fixture the same way as _SKEW_CONF — at 100 TB the defaults
    # (10 MB creation side / 10 GB application scan) trip naturally
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
    "spark.sql.shuffle.partitions": "8",
}


def run_bloom_filter_drill(spark: SparkSession, sf_dir: str):
    """Build and EXECUTE the runtime-bloom-filtered join; returns
    ``(result_row, executed_plan_text)``.

    The optimizer's InjectRuntimeFilter sees a shuffle join whose
    creation side (orders) carries a SELECTIVE non-key predicate over
    a plain scan (o_orderpriority = '1-URGENT', ~20% of orders) and a
    large application side (lineitem), and injects a bloom-filter
    subquery: a ``bloom_filter_agg`` over the filtered build keys,
    broadcast into a ``might_contain`` predicate evaluated ON THE
    LINEITEM SCAN — pre-shuffle.  At 100 TB that converts ~80% of the
    fact side's shuffle bytes into a map-side discard; the semi-join
    reduction without a semi-join.  The creation side must be a
    filter over a scan — a filtered AGGREGATE does not qualify
    (measured: no injection), which is why the drill joins the TPC-H
    pair instead of a derived dimension."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    fact = li.select("l_orderkey", "l_extendedprice")
    agg = (
        fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONF}
    try:
        for k, v in _BLOOM_CONF.items():
            spark.conf.set(k, v)
        (row,) = agg.collect()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    return row, plan


@query(
    "q_runtime_bloom_filter_join",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents,
           TRUE AS bloom_pruned
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("runtime-filter", "bloom", "adaptive", "extension"),
)
def q_runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's INJECTED RUNTIME BLOOM FILTER demonstrated end to end —
    the optimizer sibling of ``q_aqe_skew_join`` (and the runtime twin
    of ``q_trades_dpp_join``'s static partition pruning): a selective
    dim-side predicate is converted into a ``bloom_filter_agg`` /
    ``might_contain`` pair that discards non-joining fact rows AT THE
    SCAN, before the shuffle (:func:`run_bloom_filter_drill`).

    ``bloom_pruned`` is read from the executed plan (both the
    creation aggregate and the application-side predicate must be
    present) and pinned TRUE by the oracle — losing the injection
    fails the correctness gate.  The joined measure folds to exact
    cents, so the bloom's false positives must also have been
    re-checked by the real join (they are — might_contain only
    PRUNES; the equi-join stays)."""
    row, plan = run_bloom_filter_drill(spark, sf_dir)
    pruned = "bloom_filter_agg" in plan and "might_contain" in plan
    return spark.createDataFrame(
        [(row.n_rows, row.cents, pruned)],
        "n_rows long, cents long, bloom_pruned boolean",
    )
