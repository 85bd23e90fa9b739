"""Round-8 additions, third batch.

Four operators, each oracle-checked:

- ``q_spatial_grid_join`` — distance self-join via grid-cell bucketing
  + exact refine (the 2-D instance of the bucket-then-verify pattern
  LSH banding uses in similarity space).
- ``q_time_decay_trending`` — exponentially time-decayed counts
  (1-day half-life) vs plain counts, with the rank shift — the
  trending-topics aggregate.
- ``q_skew_advisor`` — shuffle-key skew diagnosis: hot-key census,
  load CV, top-key share, and an exact-integer recommended salt
  factor.
- ``q_link_prediction_jaccard`` — common-neighbor link prediction
  over the co-activity graph: path-2 candidates, anti-join existing
  edges, Jaccard of neighbor sets, top-k.
"""

from __future__ import annotations

import pathlib  # noqa: F401  (parity with sibling modules)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import SCRATCH, fanout_partitions, load, sf_tag
from .registry import query

_GRID_R = 0.05  # join radius; cell edge = radius so 3x3 cells cover it
_GRID_R2 = 0.0025  # radius squared, written as the same literal both sides


def _coord_digest(seed: str) -> F.Column:
    """The shared cross-engine coordinate recipe: first 8 hex digits of
    md5(seed|u) as a BIGINT.  Both spatial operators derive their
    coordinates from this ONE helper (round8c grid join: dyadic
    rational; round9 point-in-polygon: integer grid) so the
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
    "q_time_decay_trending",
    oracle="""
    WITH mx AS (
        SELECT MAX(epoch_us(ts)) AS tmax FROM events
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(POWER(0.5,
                   CAST(mx.tmax - epoch_us(ts) AS DOUBLE) / 86400000000.0)),
                   6) AS decayed
        FROM events, mx GROUP BY event_type, mx.tmax
    )
    SELECT event_type, n, decayed,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, event_type) AS BIGINT)
               AS rank_plain,
           CAST(ROW_NUMBER() OVER (ORDER BY decayed DESC, event_type)
                AS BIGINT) AS rank_decayed
    FROM s ORDER BY event_type
    """,
    tags=("analytics", "time-decay", "trending", "extension"),
)
def q_time_decay_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially TIME-DECAYED counts (round-8 — the trending-
    topics aggregate: recency-weighted popularity with a 1-day
    half-life, so an event a day old counts half): per event type,
    the decayed count Σ 2^(-age_days) next to the plain count, plus
    both rankings — the rank SHIFT between them is the trending
    signal (recently hot types outrank historically big ones).  The
    decay anchor is the corpus max timestamp (1-row broadcast); ages
    are exact integer micros so both engines feed POWER identical
    arguments, and the decayed sums round to 6 dp before ranking.

    Scale: one partial-aggregated scan — the decayed sum is an
    ordinary mergeable SUM (each partition decays locally against the
    broadcast anchor); the window ranks 5 rows."""
    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max(F.expr("unix_micros(ts)")).alias("tmax"))
    s = (
        e.select("event_type", F.expr("unix_micros(ts)").alias("tus"))
        .crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(
                    F.pow(
                        F.lit(0.5),
                        (F.col("tmax") - F.col("tus")).cast("double")
                        / F.lit(86400000000.0),
                    )
                ),
                6,
            ).alias("decayed"),
        )
    )
    return (
        s.select(
            "event_type",
            "n",
            "decayed",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("event_type")))
            .cast("long")
            .alias("rank_plain"),
            F.row_number()
            .over(Window.orderBy(F.desc("decayed"), F.asc("event_type")))
            .cast("long")
            .alias("rank_decayed"),
        )
        .orderBy("event_type")
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
    from .round8b import coactivity_edges

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


@query(
    "q_xml_source_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           ROUND(SUM(value), 6) AS value_sum,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("sources", "xml", "roundtrip", "extension"),
)
def q_xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML SOURCE roundtrip (round-8 — Spark 4 ships the
    spark-xml reader/writer built in; this completes the source-format
    matrix next to CSV/JSON/ORC/parquet/binaryFile): one day of events
    is written as XML documents (``rowTag=event``), read back with an
    EXPLICIT schema (schema-on-read — inference would double-scan at
    100 TB), and aggregated.  Timestamps travel as exact integer
    micros (XML is a text format; a BIGINT column cannot lose
    precision to a format string), doubles round-trip through Java's
    shortest-repr text form which reparses exactly.  The oracle
    aggregates the parquet zone directly, so the hash match proves
    the XML write→parse path is lossless.

    Scale: the writer shards one XML document per partition file like
    any Spark sink; the reader splits on row tags — both sides stay
    distributed, no driver funnel."""

    e = (
        load(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.expr("unix_micros(ts)").alias("tus"),
        )
    )
    tag = sf_tag(sf_dir)
    zone = SCRATCH / f"xml_zone_{tag}"
    e.write.mode("overwrite").format("xml").option("rowTag", "event").save(
        str(zone)
    )
    back = (
        spark.read.schema(e.schema)
        .format("xml")
        .option("rowTag", "event")
        .load(str(zone))
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("id_checksum"),
            F.round(F.sum("value"), 6).alias("value_sum"),
            F.min("tus").cast("long").alias("first_us"),
            F.max("tus").cast("long").alias("last_us"),
        )
        .orderBy("event_type")
    )


#: VAD fixture: 441 samples/doc, 7 blocks of 63 samples alternating
#: loud/quiet by (block + doc_id) parity, 21 frames of 21 samples,
#: frame active iff sum(|s|) > 2100 (mean |s| > 100).
_VAD_N = 441
_VAD_BLOCK = 63
_VAD_FRAME = 21
_VAD_THRESH = 2100


@query(
    "llm_audio_vad",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, UNNEST(range({_VAD_N})) AS i FROM documents
    ), samp AS (
        SELECT doc_id, i, i // {_VAD_FRAME} AS frame,
               CASE WHEN ((i // {_VAD_BLOCK}) + doc_id) % 2 = 0
                    THEN (doc_id * 29 + i * 13) % 3000 - 1500
                    ELSE (doc_id + i) % 7 - 3
               END AS s
        FROM base
    ), fr AS (
        SELECT doc_id, frame,
               SUM(ABS(s)) AS sum_abs,
               (SUM(ABS(s)) > {_VAD_THRESH}) AS active
        FROM samp GROUP BY doc_id, frame
    ), runs AS (
        SELECT doc_id, frame, sum_abs, active,
               CASE WHEN active AND NOT COALESCE(LAG(active) OVER (
                        PARTITION BY doc_id ORDER BY frame), FALSE)
                    THEN 1 ELSE 0 END AS seg_start
        FROM fr
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active,
           CAST(SUM(seg_start) AS BIGINT) AS n_segments,
           CAST(SUM(sum_abs) AS BIGINT) AS total_abs,
           TRUE AS roundtrip_ok
    FROM runs GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "audio", "vad", "extension"),
)
def llm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection through the REAL audio codec (round-8
    — the frame-level analysis step on top of ``llm_wav_decode_stats``'
    container roundtrip: decode, frame, energy-gate, segment): each
    doc synthesizes a waveform of alternating loud bursts and
    near-silence blocks, encodes it to an actual RIFF/WAVE file
    (stdlib writer), decodes it back with the engine's independent
    struct-level parser (:mod:`..llm.wav_audio`), then runs VAD on
    the DECODED samples — 21-sample frames, a frame is speech-active
    when its mean |amplitude| clears the gate, and consecutive active
    frames merge into segments.  The oracle computes identical frame
    energies and segment runs from the closed-form waveform definition
    (it never sees a WAV container), so the hash match proves both the
    codec path and the segmentation are exact.

    Scale: per-row codec + VAD CPU under one Arrow-batched
    mapInPandas after an explicit repartition (single-file scans
    otherwise land on one task); zero shuffle until the final sort."""
    import pandas as _pd

    from ..llm import wav_audio as _wav

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                samples = [
                    (did * 29 + i * 13) % 3000 - 1500
                    if ((i // _VAD_BLOCK) + did) % 2 == 0
                    else (did + i) % 7 - 3
                    for i in range(_VAD_N)
                ]
                blob = _wav.encode_wav(samples, sample_rate=44100, channels=1)
                _rate, _ch, decoded = _wav.decode_wav(blob)
                frames = [
                    sum(
                        abs(s)
                        for s in decoded[f * _VAD_FRAME : (f + 1) * _VAD_FRAME]
                    )
                    for f in range(_VAD_N // _VAD_FRAME)
                ]
                active = [fa > _VAD_THRESH for fa in frames]
                segments = sum(
                    1
                    for f, a in enumerate(active)
                    if a and (f == 0 or not active[f - 1])
                )
                rows.append(
                    (
                        did,
                        len(frames),
                        sum(active),
                        segments,
                        sum(frames),
                        decoded == samples,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "n_active",
                    "n_segments",
                    "total_abs",
                    "roundtrip_ok",
                ],
            )

    d = load(spark, sf_dir, "documents").select("doc_id").repartition(fanout_partitions(spark))
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, n_frames long, n_active long,"
            " n_segments long, total_abs long, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")
