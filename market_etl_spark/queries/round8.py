"""Round-8 additions (VERDICT r7 item 5's strongest absent candidates).

Three operators, each oracle-checked:

- ``q_streaming_ivm`` — the delta-join view-maintenance algebra of
  ``q_ivm_join_maintenance`` folded into a LIVE streaming refresh:
  foreachBatch maintains a stored aggregated-join view, work ∝ |Δ|
  per micro-batch.
- ``llm_density_dedup`` — HDBSCAN-style density clustering over the
  embedding pair graph: k-NN core distances → mutual-reachability
  metric → flat λ-cut → connected components (the existing hash-min
  CC operator).
- ``q_rowgroup_stats_audit`` — distributed parquet FOOTER
  introspection of the stats-manifested layout: per-file row-group
  stats read with pyarrow in executors, cross-checked against both
  the write-time manifest (``sinks.write_manifested``) and the data
  itself.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import SCRATCH, fresh_scratch, load, sf_tag
from .registry import query

#: Fixed slice for the exact density-clustering graph: the quadratic
#: pair recipe is bounded to a CONSTANT 400 vectors at every SF (same
#: convention as the other quadratic-oracle queries, whose brute-force
#: verification cannot scale) — the production-scale candidate path is
#: the LSH-bucketed llm_embedding_near_dup; this query pins the
#: density SEMANTICS exactly.
_DENSITY_SLICE = 400
_DENSITY_K = 4  # core distance = distance to the k-th nearest neighbor
_DENSITY_EPS = 0.68  # λ-cut on the mutual-reachability metric


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
    import shutil

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

    import uuid

    ckpt = SCRATCH / "checkpoints" / f"ivm_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # the view and every delta agg are segment-cardinality (5 keys)
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
    return spark.read.parquet(view_path).orderBy("c_mktsegment")


def _density_pair_sql() -> str:
    from ..llm.similarity import cosine_sql

    cos = cosine_sql("a.embedding", "b.embedding", 64)
    return f"""
    WITH pts AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_DENSITY_SLICE}
    ), pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               ROUND(1 - ({cos}), 6) AS d
        FROM pts a JOIN pts b ON a.vec_id < b.vec_id
    ), sym AS (
        SELECT ia AS node, ib AS other, d FROM pairs
        UNION ALL
        SELECT ib, ia, d FROM pairs
    ), cores AS (
        SELECT node, d AS core_d FROM (
            SELECT node, d, row_number() OVER (
                PARTITION BY node ORDER BY d, other
            ) AS rn FROM sym
        ) WHERE rn = {_DENSITY_K}
    ), edges AS (
        SELECT p.ia, p.ib
        FROM pairs p
        JOIN cores ca ON ca.node = p.ia
        JOIN cores cb ON cb.node = p.ib
        WHERE GREATEST(p.d, ca.core_d, cb.core_d) <= {_DENSITY_EPS}
    )
    """


@query(
    "llm_density_dedup",
    oracle=f"""
    WITH RECURSIVE {_density_pair_sql().strip().removeprefix("WITH")},
    bidir AS (
        SELECT ia AS src, ib AS dst FROM edges
        UNION
        SELECT ib, ia FROM edges
    ), r(node, lab) AS (
        SELECT src, src FROM bidir
        UNION
        SELECT e.dst, r.lab FROM r JOIN bidir e ON e.src = r.node
    ), cc AS (
        SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node
    )
    SELECT cluster_id AS cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(node) AS BIGINT) AS max_member
    FROM cc
    GROUP BY cluster_id
    ORDER BY cluster_rep
    """,
    tags=("llm", "dedup-clusters", "density", "extension"),
    max_verify_sf=0.1,
)
def llm_density_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN-style density dedup clustering (round-8): over a fixed
    400-vector slice, compute each point's CORE DISTANCE (cosine
    distance to its 4th nearest neighbor), lift pair distances to the
    MUTUAL-REACHABILITY metric ``max(d(a,b), core(a), core(b))`` —
    HDBSCAN's density correction, which disconnects sparse points that
    merely pass near a cluster — then take the flat λ-cut at
    eps = 0.68 and label components with the engine's hash-min
    connected-components operator (``llm/dedup.py``).  This is exactly
    HDBSCAN's cluster extraction at one fixed density level λ = 1/eps;
    points whose core distance exceeds eps can form no edge and drop
    out as noise.  The oracle rebuilds the same graph in SQL and
    resolves components by recursive-CTE fixpoint.

    Determinism: distances are ROUND(1−cos, 6) with the fold-ordered
    dot product both engines share; core distances take the k-th
    smallest (distance, neighbor-id) pair, so boundary ties are
    ordered identically.

    Scale: the quadratic pair graph is pinned to a constant slice (the
    brute-force oracle cannot scale); the production candidate
    generator is the LSH-bucketed ``llm_embedding_near_dup`` path —
    swap it in as the ``pairs`` input and everything downstream (cores,
    mutual reachability, CC) is unchanged and linear in candidates."""
    from ..llm.dedup import connected_components
    from ..llm.similarity import cosine

    pts = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _DENSITY_SLICE)
        .select("vec_id", "embedding")
    )
    a = pts.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")
    )
    b = pts.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(1 - cosine("ea", "eb"), 6).alias("d"),
        )
        .localCheckpoint(eager=False)
    )
    sym = pairs.select(
        F.col("ia").alias("node"), F.col("ib").alias("other"), "d"
    ).unionByName(
        pairs.select(
            F.col("ib").alias("node"), F.col("ia").alias("other"), "d"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy("d", "other")
    cores = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _DENSITY_K)
        .select("node", F.col("d").alias("core_d"))
    )
    edges = (
        pairs.join(
            F.broadcast(cores.withColumnRenamed("node", "ia")).withColumnRenamed(
                "core_d", "core_a"
            ),
            "ia",
        )
        .join(
            F.broadcast(cores.withColumnRenamed("node", "ib")).withColumnRenamed(
                "core_d", "core_b"
            ),
            "ib",
        )
        .filter(
            F.greatest("d", "core_a", "core_b") <= F.lit(_DENSITY_EPS)
        )
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    cc = connected_components(edges)
    return (
        cc.groupBy(F.col("cluster_id").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("node").cast("long").alias("max_member"),
        )
        .orderBy("cluster_rep")
    )


@query(
    "q_rowgroup_stats_audit",
    oracle="""
    SELECT CAST(16 AS INT) AS n_files,
           CAST(16 AS INT) AS n_row_groups,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           TRUE AS stats_present,
           TRUE AS manifest_consistent
    FROM events
    """,
    tags=("datalayout", "parquet-footer", "audit", "extension"),
)
def q_rowgroup_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER / row-group statistics introspection (round-8):
    the stats-manifested events layout (16 value-clustered files +
    write-time manifest, :func:`..sinks.write_manifested`) is audited
    from its physical footers — executors open each file with pyarrow
    and read ``num_row_groups``, footer row counts, and per-row-group
    min/max statistics for the cluster column — then cross-checked
    three ways: footer row counts vs the manifest, footer min/max vs
    the manifest's write-time stats, and both vs the data itself (the
    oracle recomputes COUNT/MIN/MAX from the raw table).  A hash match
    certifies that the stats every pruning path trusts
    (``read_stats_pruned``, parquet row-group skipping) agree with the
    bytes on disk.

    Scale: footer reads are KB-sized metadata I/O fanned out one file
    per task — the planning-cost model of a manifest-driven table
    format; nothing data-sized moves."""
    import pandas as _pd

    from .etl_pipeline import ensure_manifested_events

    root = ensure_manifested_events(spark, sf_dir)
    data_dir = pathlib.Path(root) / "data"
    files = sorted(str(p) for p in data_dir.glob("part-*.parquet"))
    paths = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(len(files))

    def footers(batches):
        import pyarrow.parquet as _pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = _pq.ParquetFile(p).metadata
                vidx = md.schema.names.index("value")
                mins, maxs = [], []
                ok = True
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(vidx)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        continue
                    mins.append(st.min)
                    maxs.append(st.max)
                rows.append(
                    (
                        pathlib.Path(p).name,
                        md.num_row_groups,
                        md.num_rows,
                        min(mins) if mins else None,
                        max(maxs) if maxs else None,
                        ok,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "file_name",
                    "n_row_groups",
                    "footer_rows",
                    "footer_min",
                    "footer_max",
                    "stats_present",
                ],
            )

    footer_df = paths.mapInPandas(
        footers,
        schema=(
            "file_name string, n_row_groups int, footer_rows long,"
            " footer_min double, footer_max double, stats_present boolean"
        ),
    )
    manifest = spark.read.parquet(f"{root}/manifest").select(
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        F.col("stat_min").alias("man_min"),
        F.col("stat_max").alias("man_max"),
        F.col("n_rows").alias("man_rows"),
    )
    joined = footer_df.join(F.broadcast(manifest), "file_name", "inner")
    return joined.agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("n_row_groups").cast("int").alias("n_row_groups"),
        F.sum("footer_rows").cast("long").alias("n_rows"),
        F.round(F.min("footer_min"), 6).alias("min_value"),
        F.round(F.max("footer_max"), 6).alias("max_value"),
        F.min("stats_present").alias("stats_present"),
        F.min(
            (F.col("footer_rows") == F.col("man_rows"))
            & (F.round(F.col("footer_min"), 6) == F.round(F.col("man_min"), 6))
            & (F.round(F.col("footer_max"), 6) == F.round(F.col("man_max"), 6))
        ).alias("manifest_consistent"),
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
import math as _math

_FS_FIELDS = tuple(
    (name, _math.log(m / u), _math.log((1 - m) / (1 - u)))
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
    from .. import streaming

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
    "q_compaction_plan",
    oracle="""
    SELECT CAST(16 AS INT) AS n_files,
           CAST(4 AS INT) AS n_bins,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           TRUE AS coverage_ok,
           TRUE AS disjoint_ok
    FROM events
    """,
    tags=("datalayout", "compaction", "maintenance", "extension"),
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-driven small-file COMPACTION PLANNER (round-8): the
    manifested layout's 16 value-clustered files are bin-packed into 4
    rewrite groups by a running-row-count window over the manifest —
    files ordered by their value range, bin = floor(rows-before /
    ceil(total/4)) — the planning step behind every table-maintenance
    `OPTIMIZE`/compaction job, driven entirely by KB-sized manifest
    metadata (never a data scan).  Contiguous range-ordered bins mean
    each rewrite group stays value-clustered, so compaction preserves
    the layout's pruning power.  The audited contract: the plan covers
    every row exactly once (bin totals == the oracle's full-table
    COUNT), the bins' combined range equals the data's true min/max,
    and consecutive bins are range-disjoint — all recomputed by the
    oracle from raw data the manifest never sees.

    Scale: planning cost ∝ file count (a window over manifest rows);
    at 100 TB this is the metadata pass that turns a million-file
    table into thousands of right-sized rewrite tasks."""
    from pyspark.sql import Window

    from .etl_pipeline import ensure_manifested_events

    root = ensure_manifested_events(spark, sf_dir)
    man = spark.read.parquet(f"{root}/manifest")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    worder = Window.orderBy("stat_min", "file_path").rowsBetween(
        Window.unboundedPreceding, -1
    )
    planned = (
        man.withColumn("total", F.sum("n_rows").over(wall))
        .withColumn("target", F.ceil(F.col("total") / 4))
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_rows").over(worder), F.lit(0))
        )
        .withColumn(
            "bin", F.floor(F.col("cum_before") / F.col("target")).cast("int")
        )
    )
    bins = planned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("int").alias("bin_files"),
        F.sum("n_rows").cast("long").alias("bin_rows"),
        F.min("stat_min").alias("lo"),
        F.max("stat_max").alias("hi"),
    )
    wbin = Window.orderBy("bin")
    audited = bins.withColumn(
        "disjoint", F.col("lo") >= F.coalesce(F.lag("hi").over(wbin), F.col("lo"))
    )
    total_rows = (
        load(spark, sf_dir, "events").count()
    )  # the oracle-side truth, recomputed once for the coverage bit
    return audited.agg(
        F.sum("bin_files").cast("int").alias("n_files"),
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.sum("bin_rows").cast("long").alias("total_rows"),
        F.round(F.min("lo"), 6).alias("min_value"),
        F.round(F.max("hi"), 6).alias("max_value"),
        (F.sum("bin_rows") == F.lit(total_rows)).alias("coverage_ok"),
        F.min("disjoint").alias("disjoint_ok"),
    )


@query(
    "q_time_travel_read",
    oracle="""
    WITH s1 AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS v
        FROM events WHERE day(ts) <= 15 GROUP BY user_id
    ), s2 AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS v
        FROM events GROUP BY user_id
    ), d AS (
        SELECT s1.user_id AS u1, s2.user_id AS u2,
               s1.n AS n1, s1.v AS v1, s2.n AS n2, s2.v AS v2
        FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS v1_users,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS v2_users,
           CAST(SUM(CASE WHEN u1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(SUM(CASE WHEN u1 IS NOT NULL AND u2 IS NOT NULL
                          AND (n1 <> n2 OR v1 <> v2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN u2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST((SELECT SUM(n) FROM s1) AS BIGINT) AS v1_events,
           CAST((SELECT SUM(n) FROM s2) AS BIGINT) AS v2_events
    FROM d
    """,
    tags=("datalayout", "time-travel", "versioning", "extension"),
)
def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL on the COMMIT LOG (round-8 query, storage migrated
    to the log in round 12 — VERDICT r11 item 5: the log subsumes the
    round-8 snapshot store, so one table abstraction remains): a
    per-user activity snapshot is PUBLISHED twice — v1 from the first
    half-month of events, v2 from the full table, each version one
    whole-table ``replace_where([])`` commit (INSERT OVERWRITE: the
    snapshot-per-version write pattern expressed in log commits) —
    then both versions are read back with ``VERSION AS OF``
    (:func:`..lakehouse.read_table`) and diffed with the engine's CDC
    operator (:func:`..merge.snapshot_diff`).  The output folds the
    two reads and the diff into one audit row the oracle recomputes
    from raw events alone, so a hash match proves the log stores,
    isolates, and replays historical states exactly.

    Scale: a version commit shares no files with its predecessor (a
    full snapshot rewrite — the right unit for dimension-sized
    tables); reads open only the named version's live set; the diff
    ships (key, xxhash64) pairs only."""
    from .. import lakehouse as lk
    from ..merge import snapshot_diff

    tag = sf_tag(sf_dir)
    path = fresh_scratch(f"ttravel_{tag}")

    e = load(spark, sf_dir, "events")
    snap = lambda df: df.groupBy("user_id").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1e6).cast("long"))
        .cast("long")
        .alias("value_micros"),
    )

    def publish(df) -> int:
        t = lk.Transaction(path)
        t.replace_where(spark, [], df)  # whole-table INSERT OVERWRITE
        return t.commit()

    v1 = publish(snap(e.filter(F.dayofmonth("ts") <= 15)))
    v2 = publish(snap(e))

    s1 = lk.read_table(spark, path, version=v1)
    s2 = lk.read_table(spark, path, version=v2)
    diff = snapshot_diff(s1, s2, ["user_id"]).groupBy().pivot(
        "change_type", ["added", "changed", "removed"]
    ).count()
    stats1 = s1.agg(
        F.count(F.lit(1)).cast("long").alias("v1_users"),
        F.sum("n_events").cast("long").alias("v1_events"),
    )
    stats2 = s2.agg(
        F.count(F.lit(1)).cast("long").alias("v2_users"),
        F.sum("n_events").cast("long").alias("v2_events"),
    )
    return (
        stats1.crossJoin(F.broadcast(stats2))
        .crossJoin(F.broadcast(diff))
        .select(
            "v1_users",
            "v2_users",
            F.coalesce(F.col("added"), F.lit(0)).cast("long").alias("n_added"),
            F.coalesce(F.col("changed"), F.lit(0)).cast("long").alias("n_changed"),
            F.coalesce(F.col("removed"), F.lit(0)).cast("long").alias("n_removed"),
            "v1_events",
            "v2_events",
        )
    )


def _hard_negative_oracle() -> str:
    from ..llm.similarity import cosine_sql

    cos = cosine_sql("q.qe", "e.embedding", 64)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe, label AS ql
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), scored AS (
        SELECT q.query_id, q.ql, e.vec_id AS cid, e.label AS cl,
               ROUND({cos}, 6) AS sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), pos AS (
        SELECT query_id, cid AS pos_id, sim AS pos_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim ASC, cid
            ) AS rn FROM scored WHERE cl = ql
        ) WHERE rn = 1
    ), neg AS (
        SELECT query_id, cid AS neg_id, sim AS neg_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, cid
            ) AS rn FROM scored WHERE cl <> ql
        ) WHERE rn = 1
    )
    SELECT p.query_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
           ROUND(p.pos_sim - n.neg_sim, 6) AS margin
    FROM pos p JOIN neg n ON n.query_id = p.query_id
    ORDER BY p.query_id
    """


@query(
    "llm_hard_negatives",
    oracle=_hard_negative_oracle(),
    tags=("llm", "contrastive-mining", "similarity-brute", "extension"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair HARD-NEGATIVE MINING (round-8 — the training-
    data step between embedding and contrastive fine-tuning): for each
    anchor vector, find the hardest negative (the MOST similar
    embedding with a DIFFERENT label — the pair the model most needs
    to push apart) and the hardest positive (the LEAST similar
    embedding with the SAME label — the pair it most needs to pull
    together), plus the resulting margin.  One corpus scan against 5
    broadcast anchors, the same fold-ordered dot product as the
    similarity family (bit-matched to the oracle), and two
    row_number windows — never an all-pairs graph.

    Scale: work ∝ |corpus| × |anchors|; at 100 TB anchors broadcast
    and each partition emits only its partial top-1s under the
    windows' WindowGroupLimit pushdown."""
    from ..llm.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    anchors = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("ql"),
        )
    )
    scored = (
        emb.join(anchors, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "ql",
            F.col("vec_id").alias("cid"),
            F.col("label").alias("cl"),
            F.round(cosine("qe", "embedding"), 6).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    wpos = Window.partitionBy("query_id").orderBy(F.asc("sim"), F.asc("cid"))
    wneg = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cid"))
    pos = (
        scored.filter(F.col("cl") == F.col("ql"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("cid").alias("pos_id"), F.col("sim").alias("pos_sim"))
    )
    neg = (
        scored.filter(F.col("cl") != F.col("ql"))
        .withColumn("rn", F.row_number().over(wneg))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("cid").alias("neg_id"), F.col("sim").alias("neg_sim"))
    )
    return (
        pos.join(neg, "query_id")
        .select(
            "query_id",
            "pos_id",
            "pos_sim",
            "neg_id",
            "neg_sim",
            F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
        )
        .orderBy("query_id")
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
    from .. import streaming
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
    "llm_udtf_token_runs",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), tok AS (
        SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
        FROM t
    ), flag AS (
        SELECT doc_id, i, word,
               CASE WHEN word IS DISTINCT FROM LAG(word) OVER (
                        PARTITION BY doc_id ORDER BY i
                    ) THEN 1 ELSE 0 END AS nr
        FROM tok
    ), runs AS (
        SELECT doc_id, word,
               SUM(nr) OVER (
                   PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING
               ) AS rid
        FROM flag
    ), g AS (
        SELECT doc_id, rid, COUNT(*) AS run_len FROM runs GROUP BY doc_id, rid
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_tokens,
           CAST(MAX(run_len) AS BIGINT) AS max_run
    FROM g GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "udtf", "text", "extension"),
)
def llm_udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (round-8 — Spark 4's user-defined TABLE
    function, the one Python extension API the engine had not yet
    exercised): an Arrow-optimized UDTF run-length-encodes each
    document's token sequence — ``eval`` yields one (run_start, word,
    run_len) row per maximal run of consecutive equal tokens — and a
    LATERAL join fans the rows out per document.  RLE is the shape a
    UDTF genuinely earns: a stateful sequential scan that SQL needs
    two window passes to express (the oracle does exactly that —
    LAG-flag → running-sum run ids → group), while the UDTF emits runs
    in one forward pass.  ``useArrow=True`` keeps the exchange
    Arrow-batched per the engine's no-row-at-a-time discipline;
    repetition statistics (run counts, longest run) are the
    boilerplate/repetition signal the quality suite thresholds.

    Scale: embarrassingly parallel per document; output rows ∝ runs;
    the only shuffle is the final per-doc rollup."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_start int, word string, run_len int", useArrow=True)
    class TokenRuns:
        def eval(self, text):
            toks = (text or "").split(" ")
            start = 0
            for i in range(1, len(toks) + 1):
                if i == len(toks) or toks[i] != toks[start]:
                    yield start + 1, toks[start], i - start
                    start = i

    tag = sf_tag(sf_dir)
    view = f"docs_udtf_{tag}"
    load(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(view)
    spark.udtf.register("token_runs", TokenRuns)
    runs = spark.sql(
        f"SELECT d.doc_id, r.run_len FROM {view} d, LATERAL token_runs(d.text) r"
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.sum("run_len").cast("long").alias("n_tokens"),
            F.max("run_len").cast("long").alias("max_run"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_regression_ols",
    oracle="""
    WITH d AS (
        SELECT event_type,
               date_diff('day',
                         (SELECT MIN(CAST(ts AS DATE)) FROM events),
                         CAST(ts AS DATE)) AS x,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           ROUND(regr_slope(y, x), 6) AS slope,
           ROUND(regr_intercept(y, x), 6) AS intercept,
           ROUND(regr_r2(y, x), 6) AS r2,
           CAST(regr_count(y, x) AS BIGINT) AS n_days
    FROM d GROUP BY event_type ORDER BY event_type
    """,
    tags=("analytics", "regression", "extension"),
)
def q_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares TREND fitting with the SQL-standard
    linear-regression aggregates (round-8): per event type, regress
    the daily value total on the day index and report slope,
    intercept, R² and the point count — ``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` / ``regr_count``, the one
    ANSI aggregate family the engine had not yet exercised (both
    engines implement it natively, so the oracle is the same four
    aggregates in DuckDB).  The day index is re-based to the corpus's
    first day via a 1-row broadcast min — regressing on raw epoch
    days puts the intercept ~20k days from the data and amplifies
    cross-engine last-bit covariance noise past the 6-dp hash; x∈[0,
    ~90] keeps every reported magnitude at data scale.  Daily y is
    rounded to 6 dp first so both engines regress bit-identical
    inputs.

    Scale: two partial aggregations (events→days→types); the
    regression state is six running sums per group — mergeable,
    no sort, no window."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.unix_date(F.to_date("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    day0 = daily.agg(F.min("day").alias("day0"))
    d = daily.crossJoin(F.broadcast(day0)).select(
        "event_type", (F.col("day") - F.col("day0")).alias("x"), "y"
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.round(F.expr("regr_slope(y, x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(y, x)"), 6).alias("intercept"),
            F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
            F.expr("regr_count(y, x)").cast("long").alias("n_days"),
        )
        .orderBy("event_type")
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
    "q_fourier_periodogram",
    oracle="""
    WITH h AS (
        SELECT epoch_us(ts) // 3600000000 AS h,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1
    ), t AS (
        SELECT h - (SELECT MIN(h) FROM h) AS t, cnt FROM h
    ), g AS (
        SELECT CAST(p.period AS BIGINT) AS period, t.t, t.cnt
        FROM t, (SELECT UNNEST([6, 12, 24, 48, 168]) AS period) p
    ), s AS (
        SELECT period,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               ROUND(SUM(cnt * COS(2 * PI() * (t % period) / period)), 6)
                   AS c_sum,
               ROUND(SUM(cnt * SIN(2 * PI() * (t % period) / period)), 6)
                   AS s_sum
        FROM g GROUP BY period
    ), p2 AS (
        SELECT *, ROUND(c_sum * c_sum + s_sum * s_sum, 6) AS power FROM s
    )
    SELECT period, n_hours, c_sum, s_sum, power,
           (ROW_NUMBER() OVER (ORDER BY power DESC, period) = 1) AS dominant
    FROM p2 ORDER BY period
    """,
    tags=("timeseries", "spectral", "extension"),
)
def q_fourier_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT PERIODOGRAM over the hourly event-count series (round-8 —
    spectral periodicity detection, the frequency-domain complement to
    the ACF/Ljung-Box autocorrelation query): for each candidate
    period P ∈ {6, 12, 24, 48, 168} hours, the spectral power
    |Σ_t c_t·e^{-2πi·t/P}|² of the raw hourly counts, with the
    dominant period flagged.  Missing hours contribute zero to both
    engines identically (they are simply absent rows).  Three
    portability locks: the phase is computed from ``t mod P`` (an
    exact BIGINT) so the trig argument stays in [0, 2π) — libm
    argument-reduction of ~10⁶-radian epoch-hour angles is where
    cross-engine cos() drifts; the magnitude is shift-invariant so
    re-basing t to the corpus start changes nothing but the argument
    size; and power is computed from the 6-dp-ROUNDED component sums
    so both engines square bit-identical inputs.

    Scale: hourly rollup partial-aggregates; the spectral fold is a
    5×-fanout map over (hour, count) pairs — never the raw events —
    and a second partial aggregation to 5 rows."""
    import math

    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    hourly = (
        e.select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    h0 = hourly.agg(F.min("h").alias("h0"))
    t = hourly.crossJoin(F.broadcast(h0)).select(
        (F.col("h") - F.col("h0")).alias("t"), "cnt"
    )
    g = t.select(
        "t",
        "cnt",
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in (6, 12, 24, 48, 168)])
        ).alias("period"),
    )
    ang = (
        F.lit(2 * math.pi) * (F.col("t") % F.col("period"))
        / F.col("period")
    )
    s = g.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.round(F.sum(F.col("cnt") * F.cos(ang)), 6).alias("c_sum"),
        F.round(F.sum(F.col("cnt") * F.sin(ang)), 6).alias("s_sum"),
    )
    p2 = s.withColumn(
        "power",
        F.round(F.col("c_sum") * F.col("c_sum") + F.col("s_sum") * F.col("s_sum"), 6),
    )
    w = Window.orderBy(F.desc("power"), F.asc("period"))
    return p2.withColumn("dominant", F.row_number().over(w) == 1).orderBy("period")


@query(
    "q_vacuum_retention",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS versions_before,
           CAST(2 AS BIGINT) AS versions_after,
           CAST(1 AS BIGINT) AS n_removed,
           CAST(1 AS BIGINT) AS orphans_removed,
           TRUE AS removed_unreadable,
           CAST(COUNT(DISTINCT CASE WHEN day(ts) <= 20 THEN user_id END)
                AS BIGINT) AS oldest_kept_users,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS latest_users,
           CAST(COUNT(*) AS BIGINT) AS latest_events
    FROM events
    """,
    tags=("datalayout", "time-travel", "vacuum", "extension"),
)
def q_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION + ORPHAN SWEEP on the COMMIT LOG (round-8 query,
    storage migrated to the log in round 12 — VERDICT r11 item 5; the
    lifecycle half of ``q_time_travel_read``'s versioning): three
    snapshot versions are published (users active through day 10 /
    day 20 / all — whole-table ``replace_where([])`` commits), a torn
    write is staged (a ``.stage-*`` dir with no commit referencing it
    — exactly what a crash between staging and commit leaves), then
    :func:`..lakehouse.expire_versions` retains versions ≥ 2 and
    :func:`..lakehouse.vacuum_orphans` sweeps the debris.  The audit
    row folds the protocol outcomes (version counts before/after, the
    expired count, the orphan sweep, and that time travel below the
    retention boundary now raises) with data facts the oracle
    recomputes from raw events — user counts of the oldest RETAINED
    version (day ≤ 20) and the latest.  Expired versions never show
    up as orphans: expiry deletes exactly the files only they
    referenced, so vacuum's only orphan here is the staged dir.

    Scale: expiry is O(log) driver-side metadata + one unlink per
    doomed file (no data job); the orphan sweep is a directory listing
    gated by a min-age window; reads open only the named version's
    live set."""
    from .. import lakehouse as lk

    tag = sf_tag(sf_dir)
    path = fresh_scratch(f"vacuum_{tag}")

    e = load(spark, sf_dir, "events")
    snap = lambda df: df.groupBy("user_id").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_events")
    )

    def publish(df) -> int:
        t = lk.Transaction(path)
        t.replace_where(spark, [], df)
        return t.commit()

    publish(snap(e.filter(F.dayofmonth("ts") <= 10)))
    v2 = publish(snap(e.filter(F.dayofmonth("ts") <= 20)))
    v3 = publish(snap(e))
    versions_before = lk.latest_commit(path)
    # torn write: files staged, the commit never landed
    snap(e.filter(F.dayofmonth("ts") <= 5)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/.stage-crashed")
    res = lk.expire_versions(path, keep_from=v2)
    n_removed = res["expired_through"]  # versions 1..expired_through
    # single-writer engine posture: immediate orphan sweep is safe and
    # opted into explicitly (the default is the 300 s age window)
    orphans_removed = lk.vacuum_orphans(path, min_age_sec=0.0)
    try:
        lk.read_table(spark, path, version=1)
        removed_unreadable = False
    except ValueError:
        removed_unreadable = True

    oldest = lk.read_table(spark, path, version=v2).agg(
        F.count(F.lit(1)).cast("long").alias("oldest_kept_users")
    )
    latest = lk.read_table(spark, path, version=v3).agg(
        F.count(F.lit(1)).cast("long").alias("latest_users"),
        F.sum("n_events").cast("long").alias("latest_events"),
    )
    return oldest.crossJoin(F.broadcast(latest)).select(
        F.lit(versions_before).cast("long").alias("versions_before"),
        F.lit(versions_before - n_removed).cast("long").alias(
            "versions_after"
        ),
        F.lit(n_removed).cast("long").alias("n_removed"),
        F.lit(orphans_removed).cast("long").alias("orphans_removed"),
        F.lit(removed_unreadable).alias("removed_unreadable"),
        "oldest_kept_users",
        "latest_users",
        "latest_events",
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
