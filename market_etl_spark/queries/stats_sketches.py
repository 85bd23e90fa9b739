"""Corpus statistics, mergeable sketches and robust summaries.

Every query follows the registry conventions: flat scalar output
schemas, identical column aliases on both engines, ``round6`` on
cross-engine doubles, BIGINT casts on any DuckDB integer aggregate that
would widen to HUGEINT, deterministic ORDER BY.

Contents (training-data-pipeline + graph-analytics gaps in SURVEY §2's
extension surface):

- ``llm_gopher_rules`` — per-document rule-based quality gates in the
  Gopher / RedPajama style (Rae et al., arXiv:2112.11446 §A1.1): word
  count bounds, mean word length band, distinct-word fraction,
  stopword evidence — each rule a named boolean column plus the
  conjunction, so downstream mixtures can audit WHY a document fell
  out (the composite-score variant lives in ``llm_quality_scores``).
- ``llm_zipf_fit`` — least-squares fit of log(freq) vs log(rank) over
  the top-100 vocabulary: the Zipf-law audit that flags synthetic or
  templated corpora (slope far from −1, r² near 1 on natural text).
- ``llm_tokenizer_fertility`` — tokens-per-word by language under the
  BPE-ish regex tokenizer: the standard tokenizer-efficiency metric
  (fertility ≈ how many subword tokens a word costs; SentencePiece
  reports the same ratio).
- ``llm_embedding_covariance`` — second-moment audit of the embedding
  table (trace / Frobenius norm / off-diagonal L1 of the covariance
  matrix): the whitening precondition check before PCA'd ANN or
  matryoshka truncation.
- ``q_pagerank_transitions`` — damped PageRank (3 unrolled power
  iterations, d=0.85) over the event-type transition graph mined from
  per-user event sequences; dangling nodes redistribute uniformly.
- ``llm_source_overlap`` — pairwise Jaccard overlap between SOURCES on
  their distinct 3-shingle sets: the contamination / provenance audit
  run before mixing crawls (which feeds dataset-mixture weights).
- ``q_bollinger_breakouts`` — trailing-20 Bollinger %b breakout flags
  on the minute-VWAP series (rounded-z comparison convention, shared
  with q_anomaly_zscore_days).
- ``q_hll_mergeable_rollup`` / ``q_theta_sketch_setops`` /
  ``q_kll_mergeable_quantiles`` — the DataSketches mergeable-summary
  pattern (Spark 4.1 hll/theta/kll builtins): per-day sketches merged
  to answer distinct counts, audience set algebra, and quantiles
  without rescanning raw data; accuracy contracts evaluated in-query
  (the ANN/percentile contract-boolean discipline).
- ``llm_approx_topk_terms`` — frequent-items sketch heavy hitters
  (``approx_top_k``) audited against the exact top-10 with a
  containment-and-tolerance contract.
- ``q_window_range_interval`` — trailing-10-minute time-RANGE window
  frame (value-defined frames with timestamp peers, vs the ROWS
  frames used elsewhere).
- ``q_streaming_hll_distinct`` — HLL sketches INSIDE streaming state:
  hourly windowed distinct users as a watermarked streaming sketch
  aggregation, contract-checked against batch-exact counts in the
  same job.
- ``q_grouping_sets_profile`` — explicit GROUPING SETS multi-grain
  aggregate with GROUPING_ID tags (one Expand + one aggregate, not a
  UNION of scans).
- ``q_user_value_gini`` — Gini coefficient of per-user value via the
  closed form over exact integer micro-units.
- ``q_asof_nearest`` — nearest-direction as-of join (closest match in
  EITHER direction, exact µs deltas, ties to backward) via two frames
  over one sort; brute-force min-by oracle.
- ``q_percentile_modes`` — DISCRETE vs CONTINUOUS percentile modes on
  one grouped pass (SLO-grade actual-value quantiles vs interpolated).
- ``q_median_abs_deviation`` — robust dispersion (MAD) via two exact
  percentile passes with the per-series median broadcast between them.
- ``q_bitmap_distinct_rollup`` — EXACT mergeable distinct counts via
  bucketed bitmap aggregation (OR-mergeable 4 KB bitmaps per 32k-id
  range; popcount cardinality, no estimate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.text import (
    BPE_TOKEN_COUNT_SQL,
    STOPWORDS,
    bpe_token_count,
    shingles,
    shingles_sql,
    words,
)
from ..tables import load, register_all
from .registry import query

#: DuckDB CTE shared by the document-table oracles (mirrors the
#: registry modules' ``_DOCS_SQL`` shape).
_DOCS_SQL = """
    WITH t AS (
        SELECT doc_id, lang, source, text, n_chars,
               string_split(lower(text), ' ') AS w
        FROM documents
    )
"""


# ---------------------------------------------------------------------------
# Gopher-style rule gates
# ---------------------------------------------------------------------------
def _stop_hits_spark(words_col: str) -> F.Column:
    """Max stopword-hit count across the four language lists — the
    language-agnostic 'has stopword evidence' signal."""
    scores = [
        F.expr(
            f"size(filter({words_col}, t -> array_contains("
            + "array(" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "), t)))"
        )
        for lang in STOPWORDS
    ]
    return F.greatest(*scores)


def _stop_hits_sql(words_expr: str) -> str:
    scores = [
        f"len(list_filter({words_expr}, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + "], t)))"
        for lang in STOPWORDS
    ]
    return "greatest(" + ", ".join(scores) + ")"


_GOPHER_ORACLE = f"""
    {_DOCS_SQL}, m AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               ROUND(list_sum(list_transform(w, x -> length(x)))::DOUBLE
                     / len(w), 6) AS mean_word_len,
               ROUND(len(list_distinct(w))::DOUBLE / len(w), 6) AS distinct_frac,
               CAST({_stop_hits_sql('w')} AS BIGINT) AS stop_hits
        FROM t
    )
    SELECT *,
           (n_words >= 10 AND n_words <= 1000) AS r_len,
           (mean_word_len >= 2.0 AND mean_word_len <= 8.0) AS r_wordlen,
           (distinct_frac >= 0.3) AS r_distinct,
           (stop_hits >= 1) AS r_stop,
           ((n_words >= 10 AND n_words <= 1000)
            AND (mean_word_len >= 2.0 AND mean_word_len <= 8.0)
            AND (distinct_frac >= 0.3) AND (stop_hits >= 1)) AS keep
    FROM m
    ORDER BY doc_id
"""


@query(
    "llm_gopher_rules",
    oracle=_GOPHER_ORACLE,
    tags=("llm", "quality-rules", "extension"),
)
def llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality gating, one named boolean per rule.

    All four metrics are codegen string/array expressions over one
    narrow scan — no shuffle at all until the final ORDER BY (which a
    production pipeline drops): the filter is embarrassingly map-side
    at any corpus size. Thresholds are the Gopher paper's, adapted to
    this corpus's 5-char synthetic vocabulary (mean word length band
    [2, 8] instead of [3, 10])."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    n_words = F.size("toks")
    sum_len = F.expr("aggregate(toks, 0, (a, x) -> a + length(x))")
    mean_len = F.round(sum_len.cast("double") / n_words, 6)
    distinct_frac = F.round(
        F.size(F.array_distinct("toks")).cast("double") / n_words, 6
    )
    stop_hits = _stop_hits_spark("toks")
    d = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        distinct_frac.alias("distinct_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    r_len = (F.col("n_words") >= 10) & (F.col("n_words") <= 1000)
    r_wordlen = (F.col("mean_word_len") >= 2.0) & (F.col("mean_word_len") <= 8.0)
    r_distinct = F.col("distinct_frac") >= 0.3
    r_stop = F.col("stop_hits") >= 1
    return d.select(
        "*",
        r_len.alias("r_len"),
        r_wordlen.alias("r_wordlen"),
        r_distinct.alias("r_distinct"),
        r_stop.alias("r_stop"),
        (r_len & r_wordlen & r_distinct & r_stop).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Zipf-law fit
# ---------------------------------------------------------------------------
_ZIPF_ORACLE = f"""
    {_DOCS_SQL}, freq AS (
        SELECT term, COUNT(*) AS freq FROM (
            SELECT unnest(list_filter(w, x -> x <> '')) AS term FROM t
        ) GROUP BY term
        ORDER BY freq DESC, term LIMIT 100
    ), ranked AS (
        SELECT ln(row_number() OVER (ORDER BY freq DESC, term)::DOUBLE) AS x,
               ln(freq::DOUBLE) AS y
        FROM freq
    ), s AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND(CASE WHEN ABS(n * sxx - sx * sx) > 1e-6
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
               AS slope,
           ROUND(CASE WHEN ABS(n * sxx - sx * sx) > 1e-6
                      THEN (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                           / n END, 6) AS intercept,
           ROUND(CASE WHEN ABS(n * sxx - sx * sx) > 1e-6
                       AND ABS(n * syy - sy * sy) > 1e-6
                      THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
               AS r2
    FROM s
"""


@query(
    "llm_zipf_fit",
    oracle=_ZIPF_ORACLE,
    tags=("llm", "corpus-stats", "extension"),
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares line through (ln rank, ln freq) for the top-100
    vocabulary terms (rank by freq DESC, term ASC — deterministic).

    The corpus-scale work is ONE word-count aggregate (map-side
    partial combine, vocabulary-sized shuffle); everything after the
    top-100 cut is 100 rows, so the single-partition rank window is
    constant-sized by construction, not a data-scale sort. Closed-form
    normal equations — no iteration."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    freq = (
        d.select(F.explode(F.expr("filter(toks, x -> x <> '')")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(100)
    )
    ranked = freq.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("freq"), "term"))
    ).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate guards (ANSI-safe, found by the hypothesis fuzz): a
    # single rank has no x-variance (slope undefined), and a FLAT
    # frequency profile has no y-variance (r² is 0/0 — any horizontal
    # line fits; slope is still well-defined at 0). NULL on both
    # engines for the undefined cells. The flatness test is an EPSILON
    # compare, not == 0: sequential fp summation leaves deny ≈ 1e-16
    # noise on an exactly-flat profile (review r5, confirmed by
    # execution), while any genuinely non-flat profile has
    # deny ≥ (ln 2)² ≈ 0.48 — 1e-6 separates them by 5 orders.
    flat_x = F.abs(denx) <= 1e-6
    flat_y = F.abs(deny) <= 1e-6
    slope = F.when(~flat_x, num / denx)
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.when(~flat_x & ~flat_y, num * num / (denx * deny)), 6
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility
# ---------------------------------------------------------------------------
_FERTILITY_ORACLE = f"""
    {_DOCS_SQL}
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(len(w)) AS BIGINT) AS total_words,
           CAST(SUM({BPE_TOKEN_COUNT_SQL.format(col='text')}) AS BIGINT)
               AS total_tokens,
           ROUND(SUM({BPE_TOKEN_COUNT_SQL.format(col='text')})::DOUBLE
                 / SUM(len(w)), 6) AS fertility
    FROM t
    GROUP BY lang
    ORDER BY lang
"""


@query(
    "llm_tokenizer_fertility",
    oracle=_FERTILITY_ORACLE,
    tags=("llm", "tokenizer", "extension"),
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word by language (ratio of SUMS — exact integer
    numerator/denominator, one division at the end, so no fp
    accumulation at any scale). One narrow scan + 5-group aggregate."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size("toks")).cast("long").alias("total_words"),
            F.sum(bpe_token_count("text")).cast("long").alias("total_tokens"),
        )
        .select(
            "lang",
            "docs",
            "total_words",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("total_words"), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Embedding covariance audit
# ---------------------------------------------------------------------------
_DIMS = 64


_COVARIANCE_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, i - 1 AS i, j - 1 AS j,
               CAST(embedding[i] AS DOUBLE) AS xi,
               CAST(embedding[j] AS DOUBLE) AS xj
        FROM embeddings,
             range(1, {_DIMS + 1}) r1(i), range(1, {_DIMS + 1}) r2(j)
    ), cells AS (
        SELECT i, j, COUNT(*)::DOUBLE AS n, SUM(xi) AS si, SUM(xj) AS sj,
               SUM(xi * xj) AS sij
        FROM ex GROUP BY i, j
    ), cov AS (
        SELECT i, j, n, sij / n - (si / n) * (sj / n) AS c FROM cells
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
           ROUND(SUM(CASE WHEN i = j THEN c ELSE 0.0 END), 6) AS trace,
           ROUND(SQRT(SUM(c * c)), 6) AS fro_norm,
           ROUND(SUM(CASE WHEN i <> j THEN ABS(c) ELSE 0.0 END), 6)
               AS offdiag_l1
    FROM cov
"""


@query(
    "llm_embedding_covariance",
    oracle=_COVARIANCE_ORACLE,
    tags=("llm", "embedding-stats", "extension"),
)
def llm_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance-matrix summary of the embedding table: trace,
    Frobenius norm, off-diagonal L1 — the whitening audit (an
    isotropic table has trace ≈ d·σ², tiny off-diagonal mass).

    Scale shape: the d² fan-out (4096 cells at d=64) happens MAP-SIDE
    under Spark's partial hash aggregation — each partition emits at
    most d² accumulator rows regardless of row count, so the shuffle
    is model-sized, never data-sized. The d² per-row compute is
    inherent to covariance; nothing vector-count-sized is collected.
    Population covariance (÷ n, matching the oracle)."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "xi"),
        F.col("embedding").cast("array<double>").alias("_v"),
    ).select("i", "xi", F.posexplode("_v").alias("j", "xj"))
    cells = ex.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("xi").alias("si"),
        F.sum("xj").alias("sj"),
        F.sum(F.col("xi") * F.col("xj")).alias("sij"),
    )
    cov = (F.col("sij") / F.col("n")) - (
        (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n"))
    )
    return cells.select("i", "j", cov.alias("c"), "n").agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.round(F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(0.0)), 6)
        .alias("trace"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("fro_norm"),
        F.round(
            F.sum(F.when(F.col("i") != F.col("j"), F.abs(F.col("c"))).otherwise(0.0)),
            6,
        ).alias("offdiag_l1"),
    )


# ---------------------------------------------------------------------------
# PageRank over the event-type transition graph
# ---------------------------------------------------------------------------
_PR_D = 0.85
_PR_ROUNDS = 3


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): observed consecutive event-type transitions per
    user under the (ts, event_id) order — the data-scale step (one
    user-keyed window + one small aggregate); the graph itself is
    event-type-cardinality-sized."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return nxt.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))


def _pagerank_oracle() -> str:
    rounds = []
    prev = "pr0"
    for r in range(1, _PR_ROUNDS + 1):
        rounds.append(f"""
    , dang{r} AS (
        SELECT COALESCE(SUM(pr), 0.0) AS dm FROM {prev}
        WHERE node NOT IN (SELECT src FROM outw)
    ), flow{r} AS (
        SELECT n.dst AS node, SUM(n.p * p.pr) AS inflow
        FROM norm n JOIN {prev} p ON p.node = n.src
        GROUP BY n.dst
    ), pr{r} AS (
        SELECT nd.node,
               (1.0 - {_PR_D}) / (SELECT n FROM nn)
               + {_PR_D} * (COALESCE(f.inflow, 0.0)
                            + (SELECT dm FROM dang{r}) / (SELECT n FROM nn))
                   AS pr
        FROM nodes nd LEFT JOIN flow{r} f ON f.node = nd.node
    )""")
        prev = f"pr{r}"
    return f"""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events
    ), edges AS (
        SELECT event_type AS src, dst, COUNT(*) AS w
        FROM seq WHERE dst IS NOT NULL GROUP BY event_type, dst
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ), nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    outw AS (
        SELECT src, SUM(w)::DOUBLE AS outw FROM edges GROUP BY src
    ), norm AS (
        SELECT e.src, e.dst, e.w / o.outw AS p
        FROM edges e JOIN outw o ON o.src = e.src
    ), pr0 AS (
        SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
    ){''.join(rounds)}
    SELECT node AS event_type, ROUND(pr, 6) AS pr FROM {prev}
    ORDER BY event_type
    """


@query(
    "q_pagerank_transitions",
    oracle=_pagerank_oracle(),
    tags=("analytics", "graph", "iterative", "extension"),
)
def q_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank, 3 power-iteration rounds (d = 0.85), over the
    event-type transition graph.

    The graph build is the only data-scale stage; it is materialized
    ONCE via localCheckpoint (truncated lineage — the lazy 3-round
    plan must not re-scan events per round, and nothing stays pinned
    in executor storage the way a .cache() entry would). The iteration
    runs over node-cardinality frames (≤ event-type count): per round,
    rank mass flows along out-degree-normalized edges, dangling-node
    mass (no out-edges) redistributes uniformly, then the damping mix.
    The loop is a fixed 3-round driver-side unroll producing ONE lazy
    plan — node frames are broadcast-sized, so each round is a
    broadcast join, never a shuffle of the edge-build's scale. Both
    engines compute the identical finite iteration; the oracle unrolls
    the same three rounds as chained CTEs."""
    edges = _transition_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    n_nodes = nodes.count()  # node-cardinality scalar (bounded: event types)
    out = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # normalized edge weight
    norm = edges.join(out, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("p")
    )
    pr = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(_PR_ROUNDS):
        dangling = (
            pr.join(out.withColumnRenamed("src", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm"))
        )
        flow = (
            norm.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("p") * F.col("pr")).alias("inflow"))
        )
        pr = (
            nodes.join(F.broadcast(flow), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - _PR_D) / n_nodes)
                    + F.lit(_PR_D)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("node").alias("event_type"), F.round("pr", 6).alias("pr")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Source-pair shingle overlap
# ---------------------------------------------------------------------------
_SOURCE_OVERLAP_ORACLE = f"""
    {_DOCS_SQL}, ss AS (
        SELECT DISTINCT source, unnest({shingles_sql('w', 3)}) AS sh FROM t
    ), sizes AS (
        SELECT source, COUNT(*) AS nsh FROM ss GROUP BY source
    ), common AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT c.src_a, c.src_b,
           CAST(sa.nsh AS BIGINT) AS n_a,
           CAST(sb.nsh AS BIGINT) AS n_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           ROUND(c.n_common::DOUBLE / (sa.nsh + sb.nsh - c.n_common), 6)
               AS jaccard
    FROM common c
    JOIN sizes sa ON sa.source = c.src_a
    JOIN sizes sb ON sb.source = c.src_b
    ORDER BY c.src_a, c.src_b
"""


@query(
    "llm_source_overlap",
    oracle=_SOURCE_OVERLAP_ORACLE,
    tags=("llm", "provenance", "dedup-signal", "extension"),
)
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard between sources over their distinct 3-shingle
    sets.

    One shuffle on shingle; per-shingle fan-out is bounded by the
    SOURCE count squared (provenance cardinality — tens, never
    data-scale), and the pair aggregate is |sources|²-sized. Per-source
    distinct counts ride the same shingle-keyed shuffle. Only pairs
    with at least one common shingle appear (a zero-overlap pair's
    Jaccard is 0 by definition and is omitted — documented contract,
    mirrored in the oracle)."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    ss = (
        d.select("source", F.explode(shingles("toks", 3)).alias("sh"))
        .distinct()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("nsh"))
    a = ss.select(F.col("source").alias("src_a"), "sh")
    b = ss.select(F.col("source").alias("src_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
        )
        .withColumnRenamed("nsh", "n_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")), "src_b")
        .withColumnRenamed("nsh", "n_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Bollinger-band breakouts on the minute-VWAP series
# ---------------------------------------------------------------------------
_BOLLINGER_ORACLE = """
    WITH ms AS (
        SELECT event_type,
               date_trunc('minute', ts) AS minute,
               ROUND(SUM(value * qty) / NULLIF(SUM(qty), 0), 6) AS vwap_value
        FROM (SELECT *, CAST(event_id % 7 + 1 AS DOUBLE) AS qty FROM events)
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY event_type, date_trunc('minute', ts)
    ), b AS (
        SELECT event_type, minute, vwap_value,
               COUNT(*) OVER w AS n_obs,
               AVG(vwap_value) OVER w AS mid,
               STDDEV_SAMP(vwap_value) OVER w AS sd
        FROM ms
        WINDOW w AS (PARTITION BY event_type ORDER BY minute
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), z AS (
        SELECT event_type, minute, vwap_value,
               CASE WHEN sd > 0
                    THEN ROUND((vwap_value - mid) / sd, 6) ELSE 0.0 END AS z20
        FROM b WHERE n_obs = 20
    )
    SELECT event_type, minute, vwap_value, z20,
           (z20 > 2.0) AS breakout_up,
           (z20 < -2.0) AS breakout_down
    FROM z
    ORDER BY event_type, minute
"""


@query(
    "q_bollinger_breakouts",
    oracle=_BOLLINGER_ORACLE,
    tags=("window", "financial", "extension"),
)
def q_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger %b breakout flags over the trailing 20 minutes of each
    series' minute-VWAP: z20 = (v − SMA20) / σ20, breakout when
    |z20| > 2 — the band-touch signal every charting stack computes.

    One minute-bucketed aggregate (the same partial-agg collapse as
    q2) then a single frame-bounded window per series — state is 20
    rows, never history-deep. Rows before the 20th minute are dropped
    (warm-up; both engines share the n_obs = 20 cut). The flag
    compares the ROUNDED z-score, the q_anomaly_zscore_days
    convention, so the boolean is bit-stable across engines; a
    zero-variance frame defines z20 = 0 (no breakout) instead of a
    division by zero."""
    from .windows import _minute_series

    ms = _minute_series(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(-19, 0)
    )
    n_obs = F.count(F.lit(1)).over(w)
    mid = F.avg("vwap_value").over(w)
    sd = F.stddev_samp("vwap_value").over(w)
    z = F.when(sd > 0, F.round((F.col("vwap_value") - mid) / sd, 6)).otherwise(
        0.0
    )
    return (
        ms.select(
            "event_type",
            "minute",
            "vwap_value",
            n_obs.alias("_n"),
            z.alias("z20"),
        )
        .filter(F.col("_n") == 20)
        .drop("_n")
        .select(
            "event_type",
            "minute",
            "vwap_value",
            "z20",
            (F.col("z20") > 2.0).alias("breakout_up"),
            (F.col("z20") < -2.0).alias("breakout_down"),
        )
        .orderBy("event_type", "minute")
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch roll-ups (DataSketches family, Spark 4.1)
# ---------------------------------------------------------------------------
#
# THE 100 TB serving pattern for distinct counts / quantiles: build a
# tiny mergeable sketch per partition (per day, per shard), persist it,
# and answer ANY date-range / group combination by merging sketches —
# never rescanning the raw data. These three queries prove the
# two-level shape end to end (per-day sketch → merged estimate) with
# the accuracy contract evaluated in-query against the exact answer,
# the same contract-boolean pattern the ANN/percentile queries use: the
# oracle recomputes the exact side and returns TRUE, so a drifting
# sketch flips the boolean and fails the hash.


_HLL_ORACLE = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q_hll_mergeable_rollup",
    oracle=_HLL_ORACLE,
    tags=("aggregates", "sketch", "mergeable", "extension"),
)
def q_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via PER-DAY HyperLogLog sketches
    merged with ``hll_union_agg`` — the pre-aggregated roll-up a
    dashboard serves from. At the test cardinality HLL is exact; the
    contract allows the 2% standard error of the default lgConfigK=12
    at production cardinality."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_approx")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.greatest(
                    F.round(F.col("exact_users") * 0.02, 0), F.lit(1.0)
                )
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


_THETA_ORACLE = """
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT (SELECT COUNT(*) FROM c WHERE user_id IN (SELECT user_id FROM p))
               AS both_exact,
           (SELECT COUNT(*) FROM c WHERE user_id NOT IN (SELECT user_id FROM p))
               AS only_click_exact,
           TRUE AS theta_intersect_ok,
           TRUE AS theta_diff_ok
"""


@query(
    "q_theta_sketch_setops",
    oracle=_THETA_ORACLE,
    tags=("aggregates", "sketch", "set-ops", "extension"),
)
def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-space SET ALGEBRA: distinct users who did BOTH 'click'
    and 'purchase' (theta intersection) and who clicked but NEVER
    purchased (theta difference) — the audience-overlap queries a
    join-based exact path answers only with a full shuffle; theta
    sketches answer them from two tiny pre-built summaries. Exact
    answers ride the same query as the contract."""
    e = load(spark, sf_dir, "events")
    th = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("tsk"))
    )
    pair = th.groupBy().pivot("event_type", ["click", "purchase"]).agg(
        F.first("tsk")
    )
    est = pair.select(
        F.expr("theta_sketch_estimate(theta_intersection(click, purchase))")
        .alias("_both"),
        F.expr("theta_sketch_estimate(theta_difference(click, purchase))")
        .alias("_only_click"),
    )
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    purchasers = (
        e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    exact = (
        clickers.join(purchasers, "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("both_exact"))
        .crossJoin(
            clickers.join(purchasers, "user_id", "left_anti").agg(
                F.count(F.lit(1)).alias("only_click_exact")
            )
        )
    )
    tol = lambda c: F.greatest(F.round(F.col(c) * 0.02, 0), F.lit(1.0))  # noqa: E731
    # If either event type is absent from the slice, its pivot cell is
    # NULL and the sketch estimates are NULL; the exact sets are then
    # degenerate (both = 0; click-only = all clickers), so the contract
    # coalesces to TRUE — there is nothing for the sketch to estimate.
    return est.crossJoin(F.broadcast(exact)).select(
        "both_exact",
        "only_click_exact",
        F.coalesce(
            F.abs(F.col("_both") - F.col("both_exact")) <= tol("both_exact"),
            F.col("both_exact") == 0,
        ).alias("theta_intersect_ok"),
        F.coalesce(
            F.abs(F.col("_only_click") - F.col("only_click_exact"))
            <= tol("only_click_exact"),
            F.lit(True),
        ).alias("theta_diff_ok"),
    )


_KLL_ORACLE = """
    SELECT COUNT(*) AS n, TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
    FROM events
"""


@query(
    "q_kll_mergeable_quantiles",
    oracle=_KLL_ORACLE,
    tags=("aggregates", "sketch", "quantiles", "extension"),
)
def q_kll_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from PER-DAY KLL sketches folded into one global
    summary (``aggregate`` over the day-bounded sketch array — the
    array is calendar-sized, never data-sized). KLL compaction is
    randomized, so the hashable output is the exact stream length from
    the sketch plus RANK-BOUND contracts: the merged sketch's p50/p95
    must land within ±5pp of the true rank, checked against exact
    in-query rank counts (the A8 approx-percentile discipline)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("kll_sketch_agg_double(value)").alias("k")
    )
    folded = daily.agg(F.expr("collect_list(k)").alias("ks")).select(
        F.expr(
            "aggregate(slice(ks, 2, size(ks) - 1), ks[0], "
            "(a, x) -> kll_sketch_merge_double(a, x))"
        ).alias("m")
    )
    qs = folded.select(
        F.expr("kll_sketch_get_n_double(m)").alias("n"),
        F.expr("kll_sketch_get_quantile_double(m, 0.5)").alias("_q50"),
        F.expr("kll_sketch_get_quantile_double(m, 0.95)").alias("_q95"),
    )
    ranks = e.crossJoin(F.broadcast(qs)).agg(
        F.first("n").alias("n"),
        (F.sum(F.when(F.col("value") <= F.col("_q50"), 1).otherwise(0))
         / F.count(F.lit(1))).alias("_r50"),
        (F.sum(F.when(F.col("value") <= F.col("_q95"), 1).otherwise(0))
         / F.count(F.lit(1))).alias("_r95"),
    )
    return ranks.select(
        F.col("n").cast("long").alias("n"),
        ((F.col("_r50") >= 0.45) & (F.col("_r50") <= 0.55)).alias("p50_rank_ok"),
        ((F.col("_r95") >= 0.90) & (F.col("_r95") <= 1.0)).alias("p95_rank_ok"),
    )


_APPROX_TOPK_ORACLE = f"""
    {_DOCS_SQL}, freq AS (
        SELECT term, COUNT(*) AS exact_count FROM (
            SELECT unnest(list_filter(w, x -> x <> '')) AS term FROM t
        ) GROUP BY term
        ORDER BY exact_count DESC, term LIMIT 10
    )
    SELECT CAST(row_number() OVER (ORDER BY exact_count DESC, term) AS INT)
               AS rank,
           term, exact_count, TRUE AS sketch_ok
    FROM freq
    ORDER BY rank
"""


@query(
    "llm_approx_topk_terms",
    oracle=_APPROX_TOPK_ORACLE,
    tags=("llm", "sketch", "heavy-hitters", "extension"),
)
def llm_approx_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter terms via the ``approx_top_k`` frequent-items
    sketch (Spark 4.1 DataSketches builtin) audited against the exact
    top-10 in the same job — the mergeable alternative to a full
    vocabulary aggregate when the term universe is too large to
    shuffle (the sketch tracks a bounded item set per partition and
    merges).

    Hashable output is the EXACT top-10 (count DESC, term — both
    engines' tie rule) plus a per-term contract boolean: the term must
    appear in the sketch's top-30 with an estimate within 2% (top-30,
    not top-10, so a tie at the sketch's cut boundary cannot drop a
    qualifying term)."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    terms = d.select(
        F.explode(F.expr("filter(toks, x -> x <> '')")).alias("term")
    )
    exact = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "term")
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("exact_count"), "term")),
        )
    )
    sk = terms.agg(
        F.map_from_arrays(
            F.expr("transform(approx_top_k(term, 30), x -> x.item)"),
            F.expr("transform(approx_top_k(term, 30), x -> x.count)"),
        ).alias("est")
    )
    est = F.element_at(F.col("est"), F.col("term"))
    return (
        exact.crossJoin(F.broadcast(sk))
        .select(
            "rank",
            "term",
            "exact_count",
            (
                est.isNotNull()
                & (
                    F.abs(est - F.col("exact_count"))
                    <= F.greatest(
                        F.round(F.col("exact_count") * 0.02, 0), F.lit(1.0)
                    )
                )
            ).alias("sketch_ok"),
        )
        .orderBy("rank")
    )


_RANGE_INTERVAL_ORACLE = """
    SELECT event_type, ts, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_10m,
           ROUND(SUM(value) OVER w, 6) AS sum_10m
    FROM events
    WHERE user_id < 2
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING
                 AND CURRENT ROW)
    ORDER BY event_type, ts, event_id
"""


@query(
    "q_window_range_interval",
    oracle=_RANGE_INTERVAL_ORACLE,
    tags=("window", "range-frame", "extension"),
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per event, the count and sum of the
    SAME series' events in the trailing 10 real-time minutes
    (``RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW``)
    — the frame every rolling-exposure / rate-limit computation needs,
    and semantically distinct from ROWS frames: the frame is defined
    by the ORDER-BY VALUE, peers with equal timestamps are all
    included, and gaps shrink the frame to match elapsed time, not row
    count. One hash shuffle per series + an in-partition sort; frame
    state is bounded by the 10-minute data rate, never history-deep.
    The user_id < 2 cut keeps the driver-collected output audit-sized
    (the EWMA/drawdown convention)."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, ts, event_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_10m,
               ROUND(SUM(value) OVER w, 6) AS sum_10m
        FROM events
        WHERE user_id < 2
        WINDOW w AS (PARTITION BY event_type ORDER BY ts
                     RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING
                     AND CURRENT ROW)
        ORDER BY event_type, ts, event_id
        """
    )


_STREAMING_HLL_ORACLE = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_ok
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    GROUP BY 1, 2
    ORDER BY hour, event_type
"""


@query(
    "q_streaming_hll_distinct",
    oracle=_STREAMING_HLL_ORACLE,
    tags=("streaming", "sketch", "extension"),
)
def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCHES INSIDE STREAMING STATE: hourly tumbling-window distinct
    users computed as an HLL sketch aggregation in a Structured
    Streaming query (replayed events zone → memory sink) — the shape
    for high-cardinality streaming distinct counts, where exact
    per-window sets would grow with cardinality but a sketch is a
    fixed few KB per (window, key).

    This replay drains in COMPLETE output mode (the finite source
    collapses to one batch, and append mode would withhold the final
    window because the watermark never advances past it) — so here the
    state bound comes from the bounded replay, not eviction. On an
    unbounded 24/7 stream use append mode + the watermark, where
    closed windows are evicted and the sketch keeps per-(window, key)
    state at a few KB; the aggregation expression is identical.

    The streamed estimates join the batch-exact counts in the same
    job; the hashable output is the exact side plus the 2% accuracy
    contract (exact at this corpus's cardinality)."""
    from .. import streaming

    day = (
        F.col("ts") >= F.lit("2024-01-15").cast("timestamp"),
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
    )
    stream = streaming.read_events_stream(spark, sf_dir).filter(day[0] & day[1])
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias(
                "_approx"
            )
        )
    )
    sink = streaming.run_to_memory(agg)
    est = spark.table(sink).select(
        F.col("w.start").alias("hour"), "event_type", "_approx"
    )
    exact = (
        load(spark, sf_dir, "events")
        .filter(day[0] & day[1])
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        exact.join(est, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            "exact_users",
            F.coalesce(
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.greatest(
                    F.round(F.col("exact_users") * 0.02, 0), F.lit(1.0)
                ),
                F.lit(False),
            ).alias("hll_ok"),
        )
        .orderBy("hour", "event_type")
    )


_GROUPING_SETS_ORACLE = """
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(CAST(dow AS VARCHAR), '(all)') AS dow,
           CAST(GROUPING(event_type, dow) AS INT) AS grain,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS sum_value_micros
    FROM (SELECT event_type, dayofweek(ts) + 1 AS dow, value FROM events)
    GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())
    ORDER BY grain, event_type, dow
"""


@query(
    "q_grouping_sets_profile",
    oracle=_GROUPING_SETS_ORACLE,
    tags=("aggregates", "grouping-sets", "extension"),
)
def q_grouping_sets_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with ``grouping_id`` — the multi-grain
    aggregate a reporting layer computes in ONE pass instead of a
    UNION of three GROUP BYs: (event_type, dow), (event_type), and the
    grand total, each row tagged with its grain. Distinct from the
    registry's CUBE query: the set list is explicit (no dow-only
    grain), and GROUPING() disambiguates real NULLs from roll-up
    NULLs. Spark executes one Expand + one hash aggregate — the scan
    is not repeated per grain."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(event_type, '(all)') AS event_type,
               COALESCE(CAST(dow AS STRING), '(all)') AS dow,
               CAST(GROUPING_ID(event_type, dow) AS INT) AS grain,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
                   AS sum_value_micros
        FROM (SELECT event_type, dayofweek(ts) AS dow, value FROM events)
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())
        ORDER BY grain, event_type, dow
        """
    )


_GINI_ORACLE = """
    WITH pu AS (
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY user_id
    ), r AS (
        SELECT v, row_number() OVER (ORDER BY v, user_id) AS i FROM pu
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(v) AS BIGINT) AS total_micros,
           ROUND((2.0 * SUM(i * v::DOUBLE)) / (COUNT(*) * SUM(v::DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM r
"""


@query(
    "q_user_value_gini",
    oracle=_GINI_ORACLE,
    tags=("analytics", "inequality", "extension"),
)
def q_user_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user total value — the inequality /
    concentration statistic behind whale-risk monitoring, computed by
    the closed form over the SORTED per-user aggregate:
    G = (2·Σ i·xᵢ) / (n·Σ xᵢ) − (n+1)/n with xᵢ ascending.

    The fact table collapses to one row per user (the only data-scale
    shuffle); the rank window runs over user cardinality. Per-user
    totals are exact integer micro-units; the Σ i·xᵢ moment is summed
    in DOUBLE — a BIGINT Σ i·xᵢ overflows 2⁶³ around n·total ≈ 1e19
    (ANSI Spark throws where DuckDB silently widens — review r5), while
    the double path loses only ~1e-16 relative, far inside the 6-dp
    rounding of the final O(1) ratio. Ascending (value, user_id) rank
    is the shared total order."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 1e6, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    w = Window.orderBy("v", "user_id")
    ranked = per_user.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("v").cast("long").alias("total_micros"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("v").cast("double")))
            / (F.count(F.lit(1)) * F.sum(F.col("v").cast("double")))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


_ASOF_NEAREST_ORACLE = """
    WITH p AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase' AND user_id < 30
    ), c AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'click' AND user_id < 30
    ), cand AS (
        SELECT p.user_id, p.event_id, c.event_id AS matched_click_id,
               epoch_us(c.ts) - epoch_us(p.ts) AS delta_us,
               row_number() OVER (
                   PARTITION BY p.user_id, p.event_id
                   ORDER BY ABS(epoch_us(c.ts) - epoch_us(p.ts)),
                            CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                            CASE WHEN c.ts <= p.ts THEN -c.event_id
                                 ELSE c.event_id END
               ) AS rn
        FROM p JOIN c ON c.user_id = p.user_id
    )
    SELECT p.user_id, p.event_id,
           cand.matched_click_id,
           CAST(cand.delta_us AS BIGINT) AS delta_us,
           CASE WHEN cand.matched_click_id IS NULL THEN 'none'
                WHEN cand.delta_us <= 0 THEN 'backward'
                ELSE 'forward' END AS direction
    FROM p LEFT JOIN cand
      ON cand.user_id = p.user_id AND cand.event_id = p.event_id
         AND cand.rn = 1
    ORDER BY p.user_id, p.event_id
"""


@query(
    "q_asof_nearest",
    oracle=_ASOF_NEAREST_ORACLE,
    tags=("join", "asof-nearest", "extension"),
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join: every purchase gains the closest
    click of the same user in EITHER time direction — the quote-to-
    trade matching variant the backward-only as-of (q_asof_join)
    cannot express.

    One union + one hash shuffle on the key, then TWO frames over the
    SAME (key, ts, side, id) sort — a backward carry (last right row
    at-or-before, peers resolved to the highest id) and a forward
    carry (first strictly-later right row, peers to the lowest id) —
    so Spark sorts once and never joins. The winner is the smaller
    |Δt| in exact integer microseconds, ties to backward; rows with no
    click at all surface as direction='none'. The user_id < 30 cut
    keeps the brute-force oracle (per-user cross product) feasible —
    the ENGINE shape is linear and uncut at any scale."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("r_id")
    )
    lt = left.select(
        "user_id",
        "ts",
        F.lit(1).alias("_side"),
        "event_id",
        F.lit(None).cast("long").alias("r_id"),
    )
    rt = right.select(
        "user_id",
        "ts",
        F.lit(0).alias("_side"),
        F.lit(None).cast("long").alias("event_id"),
        "r_id",
    )
    u = lt.unionByName(rt).withColumn("_t", F.unix_micros("ts"))
    order = [F.col("_t").asc(), F.col("_side").asc(), F.col("r_id").asc()]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = u.select(
        "user_id",
        "event_id",
        "_side",
        "_t",
        F.last("r_id", ignorenulls=True).over(wb).alias("b_id"),
        F.last(F.when(F.col("r_id").isNotNull(), F.col("_t")), ignorenulls=True)
        .over(wb)
        .alias("b_t"),
        F.first("r_id", ignorenulls=True).over(wf).alias("f_id"),
        F.first(F.when(F.col("r_id").isNotNull(), F.col("_t")), ignorenulls=True)
        .over(wf)
        .alias("f_t"),
    ).filter(F.col("_side") == 1)
    db = F.col("_t") - F.col("b_t")  # >= 0
    df_ = F.col("f_t") - F.col("_t")  # >= 0 (peers excluded, backward owns ties)
    pick_b = F.col("b_t").isNotNull() & (F.col("f_t").isNull() | (db <= df_))
    return carried.select(
        "user_id",
        "event_id",
        F.when(pick_b, F.col("b_id")).otherwise(F.col("f_id")).alias(
            "matched_click_id"
        ),
        F.when(pick_b, -db)
        .otherwise(F.when(F.col("f_t").isNotNull(), df_))
        .cast("long")
        .alias("delta_us"),
        F.when(pick_b, F.lit("backward"))
        .when(F.col("f_t").isNotNull(), F.lit("forward"))
        .otherwise(F.lit("none"))
        .alias("direction"),
    ).orderBy("user_id", "event_id")


_PERCENTILE_MODES_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50_cont,
           ROUND(quantile_disc(value, 0.5), 6) AS p50_disc,
           ROUND(quantile_cont(value, 0.95), 6) AS p95_cont,
           ROUND(quantile_disc(value, 0.95), 6) AS p95_disc
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q_percentile_modes",
    oracle=_PERCENTILE_MODES_ORACLE,
    tags=("aggregates", "percentile-modes", "extension"),
)
def q_percentile_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both ANSI percentile modes side by side per series: DISCRETE
    (an actual data value — the mode a latency SLO needs, since an
    interpolated p99 can be a value that never occurred) and
    CONTINUOUS (linear interpolation — the mode every BI tool
    defaults to). Pinning both on one grouped pass documents the
    engine's interpolation convention against DuckDB's; the discrete
    value is hash-stable BY CONSTRUCTION (it is one of the inputs),
    the continuous one via round6. One partial-agg shuffle per group;
    exact percentiles over the per-group sorted runs."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_cont"),
            F.round(
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"), 6
            ).alias("p50_disc"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_cont"),
            F.round(
                F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"), 6
            ).alias("p95_disc"),
        )
        .orderBy("event_type")
    )


_MAD_ORACLE = """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, ROUND(ABS(e.value - med.m), 6) AS adev
        FROM events e JOIN med USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           ROUND(quantile_cont(adev, 0.5), 6) AS mad
    FROM dev
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q_median_abs_deviation",
    oracle=_MAD_ORACLE,
    tags=("aggregates", "robust-stats", "extension"),
)
def q_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per series — the robust dispersion
    statistic (outlier-immune, unlike stddev): median(|x − median(x)|).
    Two grouped exact-percentile passes with the per-series median
    broadcast back between them (group-cardinality rows move, never
    data); deviations are rounded to the 1e-6 grid BEFORE the second
    median so both engines interpolate over identical values."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("_med")), 6).alias("adev"),
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad"),
        )
        .orderBy("event_type")
    )


_BITMAP_ORACLE = """
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q_bitmap_distinct_rollup",
    oracle=_BITMAP_ORACLE,
    tags=("aggregates", "bitmap", "mergeable", "extension"),
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via bitmap aggregation — the
    deterministic complement to the HLL roll-up for bounded integer
    domains: per-(type, day, bucket) bitmaps of user-id bit positions
    merge with OR (associative, re-aggregable at any grain, persistable
    like the sketch table) and cardinality is a popcount — no estimate,
    no contract boolean, the output IS COUNT(DISTINCT).

    Bucketing (``bitmap_bucket_number``) keys each 32k-id range to its
    own bitmap so the domain can be arbitrarily large while every
    individual bitmap stays 4 KB; the per-type total is the popcount
    sum over buckets. Two model-sized shuffles after the fact table
    collapses to (type, day, bucket) groups map-side."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    merged = daily.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias(
                "distinct_users"
            )
        )
        .orderBy("event_type")
    )
