"""Modern-SQL engine features, each as a registered oracle-checked
query: recursive CTEs, the VARIANT semi-structured type, correlated
scalar subqueries (Catalyst decorrelation), percent_rank/cume_dist
windows, schema-evolution parquet reads, pipe syntax, SQL scripting
and SQL UDFs.

The reference exposes its query surface as Athena SQL
(sql/athena_sample_queries.sql); these are the engine capabilities a
user upgrading from that tier expects to keep — all expressed through
`spark.sql` / DataFrame built-ins so Catalyst owns the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import SCRATCH, load, register_all, sf_tag
from .registry import query

# ---------------------------------------------------------------------------
# Recursive CTE: calendar spine with zero-filled daily counts
# ---------------------------------------------------------------------------


@query(
    "q_recursive_calendar_spine",
    oracle="""
    WITH RECURSIVE cal(day) AS (
        SELECT DATE '2024-01-01'
        UNION ALL
        SELECT day + 1 FROM cal WHERE day < DATE '2024-01-31'
    ), daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
        FROM events GROUP BY d
    )
    SELECT cal.day, COALESCE(daily.n, 0) AS n_events
    FROM cal LEFT JOIN daily ON cal.day = daily.d
    ORDER BY cal.day
    """,
    tags=("sql-features", "recursive-cte"),
)
def q_recursive_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine build via a genuine ``WITH RECURSIVE`` CTE
    (Spark 4.x UnionLoop) left-joined to daily event counts, zero-
    filling days with no data — the dimension-table bootstrap pattern.

    The recursion produces 31 driver-side rows (depth ≪ the engine's
    recursion limit); the fact table still collapses map-side to one
    row per day before the join, and the spine side is broadcast, so
    the only full-data cost is the single partial-agg shuffle. A
    ``sequence()`` expression could build the same spine (and the
    gap-fill query uses it); this form exercises the recursive
    operator itself against DuckDB's recursive CTE."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE cal(day) AS (
            SELECT DATE '2024-01-01'
            UNION ALL
            SELECT date_add(day, 1) FROM cal WHERE day < DATE '2024-01-31'
        ), daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
            FROM events GROUP BY d
        )
        SELECT cal.day, COALESCE(daily.n, 0) AS n_events
        FROM cal LEFT JOIN daily ON cal.day = daily.d
        ORDER BY cal.day
        """
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured type
# ---------------------------------------------------------------------------


@query(
    "q_variant_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(CAST(props->>'$.k' AS INT)) AS n_with_k,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(props->>'$.k' AS INT)), 6) AS avg_k,
           MIN(CAST(props->>'$.k' AS INT)) AS min_k,
           MAX(CAST(props->>'$.k' AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sql-features", "variant"),
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-flexible semi-structured extraction through the VARIANT
    type: ``parse_json`` once into a binary-encoded variant, then typed
    ``variant_get`` path access — the open-schema alternative to the
    fixed-schema ``from_json`` rendering in ``q_semistructured_props``
    (absent keys surface as NULL instead of failing the schema).

    VARIANT keeps the JSON parsed-once in a compact binary form, so
    repeated path extraction doesn't re-parse the string per access —
    at 100 TB the difference between one parse and k parses per row is
    the whole game for props-heavy scans. Aggregation is a plain
    partial-agg shuffle on event_type."""
    e = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (Catalyst decorrelation)
# ---------------------------------------------------------------------------


@query(
    "q_correlated_scalar_subquery",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_above
    FROM customer c1
    WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 6)
                       FROM customer c2
                       WHERE c2.c_nationkey = c1.c_nationkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("sql-features", "correlated-subquery"),
)
def q_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their own nation's average balance, counted per
    market segment — a correlated scalar subquery in the filter.

    Catalyst decorrelates this into (per-nation aggregate) ⋈ (customer)
    — one pass over the table for the aggregate, one hash join keyed on
    the tiny aggregated side — rather than the naive per-row re-scan
    the SQL literally describes; the identical text runs on DuckDB as
    the oracle. The compared average is rounded on both sides so
    summation-order noise in the double AVG can't flip boundary rows."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_above
        FROM customer c1
        WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 6)
                           FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# percent_rank / cume_dist distribution windows
# ---------------------------------------------------------------------------


@query(
    "q_percent_rank_days",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY event_type, day
    )
    SELECT event_type, day, total_value,
           ROUND(PERCENT_RANK() OVER
                 (PARTITION BY event_type ORDER BY total_value, day), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER
                 (PARTITION BY event_type ORDER BY total_value, day), 6) AS cume
    FROM d
    ORDER BY event_type, day
    """,
    tags=("sql-features", "percent-rank"),
)
def q_percent_rank_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does each day's volume sit inside its event type's
    distribution — PERCENT_RANK and CUME_DIST over the aggregated
    daily totals.

    The distribution windows run on the |types|·|days| aggregate, never
    on raw events (the fact table pays only the one partial-agg
    shuffle). Ordering is by the ROUNDED total with a day tie-break, so
    the rank is deterministic and identical across engines even when
    two days' raw double sums differ in the last ulp."""
    e = load(spark, sf_dir, "events")
    d = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
    )
    w = Window.partitionBy("event_type").orderBy("total_value", "day")
    return d.select(
        "event_type",
        "day",
        "total_value",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Schema-evolution parquet read (mergeSchema)
# ---------------------------------------------------------------------------


@query(
    "q_schema_evolution_roundtrip",
    oracle="""
    SELECT CASE WHEN event_id % 2 = 0 THEN '__absent__' ELSE event_type END
               AS event_type_merged,
           COUNT(*) AS n_rows,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY event_type_merged
    ORDER BY event_type_merged
    """,
    tags=("sql-features", "schema-evolution"),
)
def q_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake: batch 1 lands WITHOUT the
    ``event_type`` column, batch 2 lands with it; a single
    ``mergeSchema`` + ``recursiveFileLookup`` read unions the footers
    and back-fills the missing column with NULL — the additive-column
    migration every long-lived parquet zone eventually performs.

    The merged read is aggregated and checked against recomputing the
    same split directly from the source table (batch membership is
    ``event_id % 2``, so the oracle needs no filesystem access).
    Schema merging is a footer-only operation — at scale the cost is
    one metadata pass over file footers, not a data rewrite, which is
    exactly why additive evolution is the only kind a 100 TB zone
    tolerates."""
    tag = sf_tag(sf_dir)
    root = SCRATCH / f"schema_evo_{tag}"
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    old = e.where(F.col("event_id") % 2 == 0).drop("event_type")
    new = e.where(F.col("event_id") % 2 != 0)
    old.write.mode("overwrite").parquet(str(root / "b1"))
    new.write.mode("overwrite").parquet(str(root / "b2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(str(root))
    )
    return (
        merged.groupBy(
            F.coalesce("event_type", F.lit("__absent__")).alias("event_type_merged")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type_merged")
    )


# ---------------------------------------------------------------------------
# Higher-order array functions (no explode)
# ---------------------------------------------------------------------------


@query(
    "q_array_higher_order",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(SUM(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sum_l2_norm,
           CAST(SUM(len(list_filter(embedding, x -> x > 0))) AS BIGINT)
               AS n_positive_components,
           ROUND(SUM(CAST(list_max(embedding) AS DOUBLE)
                     - CAST(list_min(embedding) AS DOUBLE)), 6) AS sum_range
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    tags=("sql-features", "higher-order"),
)
def q_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array analytics WITHOUT exploding: per-vector L2 norm via an
    ``aggregate`` fold over ``transform``, positive-component counts
    via ``filter``, and min/max range via ``array_min``/``array_max``
    — the higher-order-function surface that keeps per-row array work
    inside codegen instead of multiplying the row count 64× the way a
    posexplode rendering would.

    At 100 TB the difference is material: the explode form shuffles
    64·N rows through the aggregate, this form reduces each vector to
    three scalars in the scan stage and shuffles |labels| accumulators.
    The fold is seeded with DOUBLE zero and widens each float before
    multiplying, matching DuckDB's list_transform arithmetic exactly."""
    e = load(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n_pos = F.size(F.filter("embedding", lambda x: x > 0))
    rng = F.array_max("embedding").cast("double") - F.array_min("embedding").cast(
        "double"
    )
    return (
        e.select("label", l2.alias("l2"), n_pos.alias("np"), rng.alias("rng"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum("l2"), 6).alias("sum_l2_norm"),
            F.sum("np").cast("long").alias("n_positive_components"),
            F.round(F.sum("rng"), 6).alias("sum_range"),
        )
        .orderBy("label")
    )


@query(
    "q_pipe_syntax",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE value > 0
    GROUP BY event_type, CAST(ts AS DATE)
    HAVING COUNT(*) >= 5
    ORDER BY event_type, d
    """,
    tags=("sql-surface", "pipe-syntax", "extension"),
)
def q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (round-8 — the ``|>`` operator
    chain added in Spark 4.0): the daily event rollup expressed as
    ``FROM … |> WHERE … |> EXTEND … |> AGGREGATE … GROUP BY …
    |> WHERE … |> ORDER BY``, with the post-aggregate ``|> WHERE``
    standing in for HAVING.  The oracle is the classic ANSI rendering
    of the same query, so the hash match pins that the pipe chain
    lowers to exactly the relational plan the keyword form produces —
    pipe syntax is surface, Catalyst sees one Aggregate + Filter.

    Scale: identical plan to the ANSI form — partial aggregation,
    pushed filter, no extra exchange for the pipe stages."""
    tag = sf_tag(sf_dir)
    view = f"events_pipe_{tag}"
    load(spark, sf_dir, "events").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        FROM {view}
        |> WHERE value > 0
        |> EXTEND CAST(ts AS DATE) AS d
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 6) AS total_value,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           GROUP BY event_type, d
        |> WHERE n_events >= 5
        |> ORDER BY event_type, d
        """
    )


@query(
    "q_sql_scripting",
    oracle="""
    WITH i1 AS (
        SELECT ROUND(AVG(value) - 2 * STDDEV_SAMP(value), 6) AS lo,
               ROUND(AVG(value) + 2 * STDDEV_SAMP(value), 6) AS hi
        FROM events
    ), i2 AS (
        SELECT ROUND(AVG(e.value) - 2 * STDDEV_SAMP(e.value), 6) AS lo,
               ROUND(AVG(e.value) + 2 * STDDEV_SAMP(e.value), 6) AS hi
        FROM events e, i1 WHERE e.value BETWEEN i1.lo AND i1.hi
    ), i3 AS (
        SELECT ROUND(AVG(e.value) - 2 * STDDEV_SAMP(e.value), 6) AS lo,
               ROUND(AVG(e.value) + 2 * STDDEV_SAMP(e.value), 6) AS hi
        FROM events e, i2 WHERE e.value BETWEEN i2.lo AND i2.hi
    ), k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
               ROUND(AVG(e.value), 6) AS clipped_mean
        FROM events e, i3 WHERE e.value BETWEEN i3.lo AND i3.hi
    )
    SELECT CAST(3 AS BIGINT) AS n_iter, i3.lo, i3.hi, k.n_kept,
           k.clipped_mean
    FROM i3, k
    """,
    tags=("sql-surface", "scripting", "robust-stats", "extension"),
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (round-8 — ``BEGIN…END`` procedural
    blocks with DECLARE / multi-variable SET / WHILE, the second new
    Spark 4 SQL surface next to pipe syntax): iterative 2-sigma
    clipping of the value column — three WHILE passes each tighten
    [lo, hi] to mean ± 2·stddev of the rows inside the previous
    bounds, the textbook robust-mean loop that plain SQL cannot
    express without unrolling.  The oracle IS that unrolling (three
    chained CTEs), so the hash match pins the script's loop-carried
    variable semantics to the relational fixpoint.  Bounds are
    rounded to 6 dp at every iteration boundary on BOTH sides, so
    each pass filters on bit-identical thresholds.

    Scale: each iteration is one partial-aggregated scan (2 running
    moments), driver-side state is two doubles — the loop shape of
    any convergent refinement at 100 TB."""
    tag = sf_tag(sf_dir)
    view = f"events_script_{tag}"
    load(spark, sf_dir, "events").createOrReplaceTempView(view)
    prev = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
        f"""
        BEGIN
          DECLARE lo DOUBLE DEFAULT -1e308;
          DECLARE hi DOUBLE DEFAULT 1e308;
          DECLARE it INT DEFAULT 0;
          WHILE it < 3 DO
            SET (lo, hi) = (
              SELECT ROUND(AVG(value) - 2 * STDDEV_SAMP(value), 6),
                     ROUND(AVG(value) + 2 * STDDEV_SAMP(value), 6)
              FROM {view} WHERE value BETWEEN lo AND hi);
            SET it = it + 1;
          END WHILE;
          SELECT CAST(it AS BIGINT) AS n_iter, lo, hi,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM {view}
                  WHERE value BETWEEN lo AND hi) AS n_kept,
                 (SELECT ROUND(AVG(value), 6) FROM {view}
                  WHERE value BETWEEN lo AND hi) AS clipped_mean;
        END
        """
        )
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev)


@query(
    "q_sql_udf",
    oracle="""
    WITH hm(half, d_lo, d_hi) AS (VALUES (1, 1, 15), (2, 16, 31))
    SELECT half,
           CASE WHEN value >= 200 THEN 'high'
                WHEN value >= 50 THEN 'mid' ELSE 'low' END AS bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS value_micros
    FROM events JOIN hm ON day(ts) BETWEEN d_lo AND d_hi
    GROUP BY 1, 2
    ORDER BY half, bucket
    """,
    tags=("sql-surface", "sql-udf", "tvf", "extension"),
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-DEFINED FUNCTIONS (SPARK-46057) — the last
    SQL-surface feature next to ``q_pipe_syntax`` and
    ``q_sql_scripting``: a scalar ``CREATE FUNCTION … RETURN <expr>``
    (a value-tier bucketer) and a TABLE-VALUED ``RETURNS TABLE``
    function (a half-month calendar) declared in SQL and used in one
    query.

    The point for scale: SQL UDFs are MACRO-INLINED by the analyzer —
    the bucket CASE lands inside the scan's codegen stage and the TVF
    becomes a 2-row LocalRelation joined like any dimension, so unlike
    a Python UDF there is no serialization boundary and Catalyst
    optimizes straight through (the oracle IS the inlined form, which
    is exactly what the plan executes)."""

    register_all(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION value_bucket(v DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN v >= 200 THEN 'high' "
        "WHEN v >= 50 THEN 'mid' ELSE 'low' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION half_months() "
        "RETURNS TABLE(half INT, d_lo INT, d_hi INT) "
        "RETURN SELECT * FROM VALUES (1, 1, 15), (2, 16, 31)"
    )
    return spark.sql(
        """
        SELECT half,
               value_bucket(value) AS bucket,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
                   AS value_micros
        FROM events JOIN half_months()
          ON dayofmonth(ts) BETWEEN d_lo AND d_hi
        GROUP BY half, value_bucket(value)
        ORDER BY half, bucket
        """
    )
