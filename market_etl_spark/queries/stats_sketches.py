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

Statistics and experimentation follow: mergeable quantiles (DDSketch),
rank and normality tests (Mann–Whitney U, Kruskal–Wallis, Spearman,
Jarque–Bera, McNemar), multiple-testing control (Benjamini–Hochberg),
survival and retention curves (Kaplan–Meier, cohort triangles),
time-series diagnostics (Ljung–Box, periodogram, Kalman filter, linear
resampling, rolling medians), robust regression (OLS, Theil–Sen,
weighted median) and the A/B toolkit (bootstrap CIs, CUPED, SPRT,
sample-ratio mismatch, power analysis, difference-in-differences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import streaming
from ..llm.text import (
    BPE_TOKEN_COUNT_SQL,
    STOPWORDS,
    bpe_token_count,
    shingles,
    shingles_sql,
    words,
)
from ..tables import fanout_partitions, load, register_all
from .registry import query
from .windows import minute_series

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
    ms = minute_series(spark, sf_dir)
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


# ---------------------------------------------------------------------------
# 2. DDSketch-style mergeable quantiles with INTEGER-EXACT buckets
# ---------------------------------------------------------------------------
@query(
    "q_ddsketch_quantiles",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(value * 1e6) AS BIGINT) AS n FROM events
        WHERE value >= 1e-6
    ), b AS (
        SELECT n,
               CASE WHEN length(printf('%b', n)) <= 4 THEN n
                    ELSE 8 * length(printf('%b', n))
                         + CAST((n >> (length(printf('%b', n)) - 4)) AS BIGINT) - 8
               END AS bucket,
               CASE WHEN length(printf('%b', n)) <= 4 THEN n
                    ELSE (8 + CAST((n >> (length(printf('%b', n)) - 4))
                                   AS BIGINT) - 8)
                         * CAST(POWER(2, length(printf('%b', n)) - 4) AS BIGINT)
               END AS rep
        FROM v
    ), counts AS (
        SELECT bucket, MIN(rep) AS rep, COUNT(*) AS c FROM b GROUP BY bucket
    ), cum AS (
        SELECT bucket, rep, c,
               SUM(c) OVER (ORDER BY bucket) AS cum_c,
               SUM(c) OVER () AS total
        FROM counts
    )
    SELECT q,
           CAST(MIN(rep) AS BIGINT) AS est_micros,
           CAST(MIN(bucket) AS BIGINT) AS bucket
    FROM cum, (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q) qs
    WHERE cum_c >= CAST(ceil(q * total) AS BIGINT)
    GROUP BY q ORDER BY q
    """,
    tags=("sketch", "quantile", "mergeable", "extension"),
)
def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-flavored mergeable quantile sketch whose buckets are
    PURE INTEGER math, so the sketch is bit-identical across engines
    (unlike log-γ bucketing, where a libm ULP at a boundary flips a
    bucket): values go to integer micro-units, and the bucket id is
    ``8·bitwidth + top-4-mantissa-bits − 8`` — i.e. base 2^(1/8)
    log-buckets read straight off the binary representation
    (relative-error bound 2^-3 per bucket).  Counts per bucket are
    sum-mergeable — the 100 TB pattern: map-side partial bucket
    counts, one tiny shuffle, quantile lookup by cumulative rank on
    the ~100-bucket frame.  The oracle rebuilds the identical sketch
    in SQL (bit width via ``printf('%b')`` there, ``bin()`` here) and
    must land on the same bucket and representative for p50/p90/p99."""
    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("value") >= 1e-6)
        .select(F.floor(F.col("value") * 1e6).cast("long").alias("n"))
    )
    width = F.length(F.conv(F.col("n"), 10, 2))
    # shiftright's Python signature wants a literal; the SQL form takes
    # a column shift amount
    top4 = F.expr(
        "cast(shiftright(n, cast(length(conv(n, 10, 2)) as int) - 4) as bigint)"
    )
    small = width <= 4
    b = v.select(
        F.when(small, F.col("n"))
        .otherwise(F.lit(8) * width + top4 - F.lit(8))
        .cast("long")
        .alias("bucket"),
        F.when(small, F.col("n"))
        .otherwise(
            (F.lit(8) + top4 - F.lit(8))
            * F.pow(F.lit(2.0), (width - F.lit(4)).cast("double")).cast("long")
        )
        .cast("long")
        .alias("rep"),
    )
    counts = b.groupBy("bucket").agg(
        F.min("rep").alias("rep"), F.count(F.lit(1)).alias("c")
    )

    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "bucket",
        "rep",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    hit = cum.crossJoin(F.broadcast(qs)).filter(
        F.col("cum_c") >= F.ceil(F.col("q") * F.col("total")).cast("long")
    )
    return (
        hit.groupBy("q")
        .agg(
            F.min("rep").cast("long").alias("est_micros"),
            F.min("bucket").cast("long").alias("bucket"),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# 3. Mann-Whitney U (nonparametric A/B: weekend vs weekday values)
# ---------------------------------------------------------------------------
@query(
    "q_mann_whitney_u",
    oracle="""
    WITH v AS (
        SELECT CAST(FLOOR(value * 1e6) AS BIGINT) AS x,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS grp
        FROM events
    ), ranked AS (
        SELECT x, grp,
               (CAST(RANK() OVER (ORDER BY x) AS DOUBLE)
                + CAST(RANK() OVER (ORDER BY x) AS DOUBLE)
                  + COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS avg_rank
        FROM v
    ), ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum FROM (
            SELECT COUNT(*) AS t FROM v GROUP BY x
        )
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               SUM(CASE WHEN grp = 1 THEN avg_rank ELSE 0 END) AS r1
        FROM ranked
    )
    SELECT n1, n2,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 6) AS u_stat,
           ROUND(
               (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
               / SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1)
                      - CAST(tie_sum AS DOUBLE)
                        / ((n1 + n2) * (n1 + n2 - 1.0)))),
               6) AS z_score
    FROM agg, ties
    """,
    tags=("monitoring", "stats", "nonparametric", "extension"),
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U: do weekend event values stochastically dominate
    weekday ones?  The nonparametric A/B primitive (no normality
    assumption — the complement of ``q_welch_ttest``).  Ranks use the
    midrank convention for ties, built from exact integer micro-units
    so the rank sums are identical across engines; the z score carries
    the standard tie-corrected variance.

    Scale: one global rank (sort-based window — at 100 TB this is the
    one shuffle), tie sizes from a value-grouped partial agg, then a
    1-row fold.  Weekend flag via dayofweek (Sunday=1 in Spark,
    Sunday=0 in DuckDB — both expressions pin Saturday/Sunday)."""

    v = load(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 1e6).cast("long").alias("x"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("grp"),
    )
    rk = Window.orderBy("x")
    ranked = v.select(
        "x",
        "grp",
        (
            (
                F.rank().over(rk).cast("double") * 2
                + F.count(F.lit(1)).over(Window.partitionBy("x"))
                - 1
            )
            / 2.0
        ).alias("avg_rank"),
    )
    ties = (
        v.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie_sum")
        )
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("avg_rank")).otherwise(0.0)).alias(
            "r1"
        ),
    )
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u = r1 - n1 * (n1 + 1) / 2.0
    z = (u - n1 * n2 / 2.0) / F.sqrt(
        n1 * n2 / 12.0
        * (
            (n1 + n2 + 1)
            - F.col("tie_sum").cast("double") / ((n1 + n2) * (n1 + n2 - 1.0))
        )
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n1",
        "n2",
        F.round(u, 6).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# 4. Cohort retention triangle
# ---------------------------------------------------------------------------
@query(
    "q_cohort_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        FROM events
    ), cohorts AS (
        SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    ), sizes AS (
        SELECT cohort_day, COUNT(*) AS cohort_size FROM cohorts
        GROUP BY cohort_day
    ), joined AS (
        SELECT c.cohort_day,
               CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS offset_days,
               a.user_id
        FROM cohorts c JOIN activity a USING (user_id)
        WHERE date_diff('day', c.cohort_day, a.day) BETWEEN 0 AND 7
    )
    SELECT j.cohort_day,
           j.offset_days,
           CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(COUNT(DISTINCT j.user_id)
                 / CAST(s.cohort_size AS DOUBLE), 6) AS retention
    FROM joined j JOIN sizes s USING (cohort_day)
    WHERE j.cohort_day < TIMESTAMP '2024-01-08'
    GROUP BY j.cohort_day, j.offset_days, s.cohort_size
    ORDER BY j.cohort_day, j.offset_days
    """,
    tags=("behavior", "cohort", "retention", "extension"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × day-offset retention triangle: users grouped by first
    active day; for offsets 0..7, the fraction of the cohort active
    again that day — the canonical product-analytics table.

    Scale: distinct (user, day) first (partial-agg dedup), cohorts via
    min-day agg, both shuffles keyed on user_id and reusable; the
    cohort-size frame is day-cardinality and broadcasts into the
    ratio.  First week of cohorts only, so the triangle is
    fixed-size."""
    activity = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = (
        cohorts.join(activity, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("offset_days"),
            "user_id",
        )
        .filter(
            (F.col("offset_days") >= 0)
            & (F.col("offset_days") <= 7)
            & (F.col("cohort_day") < F.lit("2024-01-08").cast("timestamp"))
        )
    )
    return (
        joined.groupBy("cohort_day", "offset_days")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "offset_days",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "offset_days")
    )


# ---------------------------------------------------------------------------
# 5. Autocorrelation + Ljung-Box over daily counts
# ---------------------------------------------------------------------------
@query(
    "q_acf_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ), idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM idx
    ), lags AS (
        SELECT k.k,
               CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
               CAST(SUM(a.x) AS BIGINT) AS sa,
               CAST(SUM(b.x) AS BIGINT) AS sb,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM idx a
        JOIN (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS k) k ON TRUE
        JOIN idx b ON b.t = a.t + k.k
        GROUP BY k.k
    ), acfs AS (
        SELECT l.k AS lag, b.n,
               (l.sxy - (CAST(b.sx AS DOUBLE) / b.n) * (l.sa + l.sb)
                + l.m * (CAST(b.sx AS DOUBLE) / b.n)
                      * (CAST(b.sx AS DOUBLE) / b.n))
               / (b.sxx - CAST(b.sx AS DOUBLE) * b.sx / b.n) AS r
        FROM lags l, base b
    )
    SELECT lag,
           ROUND(r, 6) AS acf,
           ROUND(n * (n + 2.0) * SUM(r * r / (n - lag))
                 OVER (ORDER BY lag), 6) AS q_lb
    FROM acfs ORDER BY lag
    """,
    tags=("monitoring", "timeseries", "extension"),
)
def q_acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily event counts at lags 1..7 plus
    the cumulative Ljung-Box portmanteau Q — the standard "is there
    structure left in this series" audit (weekly seasonality shows as
    a lag-7 spike; Q vs χ²(k) rejects white noise).

    Cross-engine determinism: every sum entering r_k is an EXACT
    integer power sum (counts are integers; Σx, Σx², Σx_t·x_{t+k} and
    the head/tail partials are BIGINTs), so the double assembly
    ``r_k = (Σxy − x̄(sa+sb) + m·x̄²) / (Σx² − N·x̄²)`` is bit-identical
    regardless of aggregation order.

    Scale: the daily rollup is the only data-sized pass (partial-agg
    to ~30 rows); lag products are a self-join on the tiny frame."""

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    base = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    ks = spark.createDataFrame([(k,) for k in range(1, 8)], "k long")
    a = idx.alias("a")
    b = idx.alias("b")
    lags = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("b.t") == F.col("a.t") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("a.x") * F.col("b.x")).cast("long").alias("sxy"),
            F.sum("a.x").cast("long").alias("sa"),
            F.sum("b.x").cast("long").alias("sb"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
    )
    xbar = F.col("sx").cast("double") / F.col("n")
    r = (
        F.col("sxy") - xbar * (F.col("sa") + F.col("sb")) + F.col("m") * xbar * xbar
    ) / (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
    acfs = lags.crossJoin(F.broadcast(base)).select(
        F.col("k").alias("lag"), F.col("n"), r.alias("r")
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return acfs.select(
        "lag",
        F.round("r", 6).alias("acf"),
        F.round(
            F.col("n")
            * (F.col("n") + 2.0)
            * F.sum(F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))).over(
                wq
            ),
            6,
        ).alias("q_lb"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# 8. Lorenz curve deciles (distributional complement of the Gini query)
# ---------------------------------------------------------------------------
@query(
    "q_lorenz_curve",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT)
                   AS micros
        FROM events GROUP BY user_id
    ), tiled AS (
        SELECT micros,
               NTILE(10) OVER (ORDER BY micros ASC, user_id ASC) AS decile
        FROM per_user
    ), sums AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(micros) AS BIGINT) AS decile_micros
        FROM tiled GROUP BY decile
    )
    SELECT decile, n_users, decile_micros,
           ROUND(CAST(SUM(decile_micros) OVER (ORDER BY decile) AS DOUBLE)
                 / SUM(decile_micros) OVER (), 6) AS cum_share
    FROM sums ORDER BY decile
    """,
    tags=("analytics", "distribution", "extension"),
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve: users in ascending-value deciles with each
    decile's cumulative share of total value — the distribution curve
    the Gini query (``q_user_value_gini``) integrates; together they
    answer "how concentrated is usage" with both the scalar and the
    shape.

    Determinism: per-user totals in exact integer micro-units;
    NTILE's ordering carries the user_id tie-break so decile
    membership is identical across engines.

    Scale: per-user partial-agg rollup, then windows over the
    user-cardinality frame (the NTILE global sort is over users, not
    events)."""

    per_user = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 1e6).cast("long"))
            .cast("long")
            .alias("micros")
        )
    )
    tiled = per_user.select(
        "micros",
        F.ntile(10)
        .over(Window.orderBy(F.col("micros").asc(), F.col("user_id").asc()))
        .alias("decile"),
    )
    sums = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("micros").cast("long").alias("decile_micros"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return sums.select(
        "decile",
        "n_users",
        "decile_micros",
        F.round(
            F.sum("decile_micros").over(wc).cast("double")
            / F.sum("decile_micros").over(wall),
            6,
        ).alias("cum_share"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# 10. Bloom-filter membership audit with measured FPR
# ---------------------------------------------------------------------------
_BLOOM_M = 1024  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_spark(j: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"b{j}|"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


def _bloom_pos_sql(j: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('b{j}|' || CAST(c_custkey AS VARCHAR)),"
        f" 1, 8)) AS BIGINT) % {_BLOOM_M}"
    )


@query(
    "q_bloom_membership_audit",
    oracle=f"""
    WITH members AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), bits AS (
        SELECT DISTINCT pos FROM (
            {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(j)} AS pos FROM members" for j in range(_BLOOM_K))}
        )
    ), tests AS (
        SELECT c.c_custkey,
               (c.c_mktsegment = 'BUILDING') AS is_member,
               {" AND ".join(f"({_bloom_pos_sql(j)}) IN (SELECT pos FROM bits)" for j in range(_BLOOM_K))}
                   AS bloom_hit
        FROM customer c
    )
    SELECT CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negatives,
           CAST(SUM(CASE WHEN NOT is_member AND bloom_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           ROUND(SUM(CASE WHEN NOT is_member AND bloom_hit THEN 1.0
                          ELSE 0 END)
                 / SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 6)
               AS measured_fpr
    FROM tests
    """,
    tags=("sketch", "bloom", "membership", "extension"),
)
def q_bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership end to end with the property that
    matters audited: build a {_BLOOM_M}-bit / k={_BLOOM_K} filter over
    the BUILDING-segment customers from md5-derived bit positions
    (engine-portable — the same primitive as the CMS/shard queries),
    probe EVERY customer, and report bits set, the false-positive rate
    measured against ground truth, and the false-negative count, which
    a correct Bloom filter must pin at ZERO — that's the guarantee the
    structure exists to provide.

    Scale: the filter is the mergeable pre-aggregation pattern — each
    partition ORs its bit positions (distinct pos), the ≤{_BLOOM_M}-row
    bit set broadcasts into the probe side, and the probe is map-side
    (this is exactly how a 100 TB anti-join prefilter deploys; Spark's
    own runtime bloom pruning is plan-asserted in
    tests/test_runtime_filters.py, this query makes the mechanics
    first-class and measurable)."""
    cust = load(spark, sf_dir, "customer")
    members = cust.filter(F.col("c_mktsegment") == "BUILDING")
    bits = None
    for j in range(_BLOOM_K):
        part = members.select(_bloom_pos_spark(j).alias("pos"))
        bits = part if bits is None else bits.unionByName(part)
    bits = bits.distinct()
    bits_ct = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    probe = cust.select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").alias("is_member"),
        *[_bloom_pos_spark(j).alias(f"p{j}") for j in range(_BLOOM_K)],
    )
    hit = probe
    for j in range(_BLOOM_K):
        hit = hit.join(
            F.broadcast(bits.withColumnRenamed("pos", f"b{j}")),
            F.col(f"p{j}") == F.col(f"b{j}"),
            "left",
        )
    bloom_hit = None
    for j in range(_BLOOM_K):
        c = F.col(f"b{j}").isNotNull()
        bloom_hit = c if bloom_hit is None else (bloom_hit & c)
    agg = hit.select("is_member", bloom_hit.alias("bloom_hit")).agg(
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(F.col("is_member") & ~F.col("bloom_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negatives"),
        F.sum(F.when(~F.col("is_member") & F.col("bloom_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
        F.round(
            F.sum(
                F.when(~F.col("is_member") & F.col("bloom_hit"), 1.0).otherwise(
                    0.0
                )
            )
            / F.sum(F.when(~F.col("is_member"), 1).otherwise(0)),
            6,
        ).alias("measured_fpr"),
    )
    return F.broadcast(bits_ct).crossJoin(agg).select(
        "bits_set",
        "n_members",
        "n_false_negatives",
        "n_false_positives",
        "measured_fpr",
    )


# ---------------------------------------------------------------------------
# 10. Kaplan-Meier retention survival
# ---------------------------------------------------------------------------
@query(
    "q_kaplan_meier_retention",
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
               ) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, sid,
               (CAST(floor(epoch(MAX(ts))) AS BIGINT)
                - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 60 AS dur_min,
               MAX(ts) AS e
        FROM numbered GROUP BY user_id, sid
    ), spans AS (
        SELECT dur_min,
               e >= (SELECT MAX(ts) FROM events) - INTERVAL 30 MINUTE
                   AS censored
        FROM sess
    ), death_times AS (
        SELECT dur_min AS t,
               CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
                   AS d
        FROM spans GROUP BY dur_min
        HAVING SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) > 0
    ), at_risk AS (
        SELECT dt.t, dt.d,
               CAST((SELECT COUNT(*) FROM spans s WHERE s.dur_min >= dt.t)
                    AS BIGINT) AS n_risk
        FROM death_times dt
    )
    SELECT CAST(t AS BIGINT) AS t_min, n_risk, d AS n_deaths,
           CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t) = 1
                THEN 0.0
                ELSE ROUND(EXP(SUM(
                         CASE WHEN d = n_risk THEN 0.0
                              ELSE LN(1.0 - CAST(d AS DOUBLE) / n_risk) END)
                     OVER (ORDER BY t)), 6) END AS survival
    FROM at_risk ORDER BY t_min
    """,
    tags=("analytics", "survival", "extension"),
)
def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of SESSION duration (30-min-gap
    sessions, the engine's sessionizer): how long does an engagement
    session survive before ending?  Sessions still within one gap of
    the observation horizon are right-censored — they may be ongoing,
    and dropping or counting them as ended would bias the curve, which
    is the reason KM exists over a naive duration histogram.
    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over death times, censored sessions in
    the at-risk denominator through their censor time.

    Determinism: durations are integer minutes from epoch seconds
    (the sessionize-oracle arithmetic); dᵢ/nᵢ are exact integer
    ratios; the product is exp(Σ ln(·)) over a window whose ORDER BY
    fixes summation order; 6-dp round.

    Scale: sessionization is the existing lag-gap window (one shuffle
    keyed on user); every KM step then runs on the ≤|distinct
    durations| frame (37 rows here).  The at-risk counts come from a
    duration-level inequality join on that tiny frame, not the
    session table."""

    e = load(spark, sf_dir, "events")
    sess = streaming.sessionize_batch(e)
    horizon = e.agg(
        (
            F.max("ts").cast("long") - F.lit(1800)
        ).alias("censor_floor")
    )
    spans = sess.crossJoin(F.broadcast(horizon)).select(
        (
            (
                F.col("session_end").cast("long")
                - F.col("session_start").cast("long")
            )
            / 60
        )
        .cast("long")
        .alias("dur_min"),
        (F.col("session_end").cast("long") >= F.col("censor_floor")).alias(
            "censored"
        ),
    )
    deaths = (
        spans.groupBy(F.col("dur_min").alias("t"))
        .agg(
            F.sum(F.when(~F.col("censored"), 1).otherwise(0))
            .cast("long")
            .alias("d")
        )
        .filter(F.col("d") > 0)
    )
    risk = (
        deaths.join(
            spans.select("dur_min"), deaths["t"] <= F.col("dur_min"), "left"
        )
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_risk"))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # the final death time has d == n_risk (everyone still at risk
    # dies), where ln(1 - d/n) is -inf: mask those factors out of the
    # log-sum and pin survival to exactly 0.0 from that step on
    zero_hit = F.max(
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    ).over(w)
    log_term = F.when(F.col("d") == F.col("n_risk"), 0.0).otherwise(
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
    )
    return risk.select(
        F.col("t").cast("long").alias("t_min"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        F.when(zero_hit == 1, 0.0)
        .otherwise(F.round(F.exp(F.sum(log_term).over(w)), 6))
        .alias("survival"),
    ).orderBy("t_min")


# ---------------------------------------------------------------------------
# 11. Poisson-bootstrap confidence interval for the mean
# ---------------------------------------------------------------------------
_POIS_C = (
    0.36787944117144233,  # P(X=0)
    0.7357588823428847,  # + P(1)
    0.9196986029286058,  # + P(2)
    0.9810118431238462,  # + P(3); else 4
)


@query(
    "q_bootstrap_ci_poisson",
    oracle=f"""
    WITH x AS (
        SELECT event_id, CAST(FLOOR(value * 1e6) AS BIGINT) AS v FROM events
    ), draws AS (
        SELECT b.b, x.v,
               (CAST(('0x' || substring(
                    md5(CAST(b.b AS VARCHAR) || '|'
                        || CAST(x.event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                + 1.0) / 4294967297.0 AS u
        FROM x, (SELECT UNNEST(range(1, 201)) AS b) b
    ), weighted AS (
        SELECT b,
               CASE WHEN u < {_POIS_C[0]} THEN 0
                    WHEN u < {_POIS_C[1]} THEN 1
                    WHEN u < {_POIS_C[2]} THEN 2
                    WHEN u < {_POIS_C[3]} THEN 3
                    ELSE 4 END AS w,
               v
        FROM draws
    ), means AS (
        SELECT b,
               CAST(SUM(CAST(w AS BIGINT) * v) AS DOUBLE)
                   / SUM(CAST(w AS BIGINT)) AS m
        FROM weighted GROUP BY b
    ), ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM means
    )
    SELECT CAST(200 AS BIGINT) AS n_replicates,
           ROUND((SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) FROM x), 6)
               AS point_est_micros,
           ROUND((SELECT m FROM ranked WHERE r = 5), 6) AS ci_lo_micros,
           ROUND((SELECT m FROM ranked WHERE r = 196), 6) AS ci_hi_micros
    """,
    tags=("analytics", "bootstrap", "extension"),
)
def q_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: 200 deterministic resample replicates of the
    mean event value, each row weighted by a Poisson(1) draw derived
    from an md5 uniform (inverse-CDF on shared double constants), and
    the 95% percentile interval read off the ranked replicate means —
    THE distributed bootstrap (per-row independent weights, no
    resample shuffle, exactly how uncertainty is bootstrapped over
    data too big to multinomial-resample).

    Determinism: weights are integers from md5; Σw·x and Σw are exact
    BIGINTs, so every replicate mean is the same double on both
    engines; the CI picks ranked elements 5/196 of 200 — exact order
    statistics, no interpolation.

    Scale: the 200× fan-out is map-side (replicate id explodes before
    the partial agg); the shuffle carries 200 partial rows per
    partition, and everything after runs on a 200-row frame."""

    # repartition before the 200× fan-out: the single-file testdata scan
    # would otherwise push all B·N md5 evaluations through ONE task
    # (measured 15.9s single-task vs ~1.3s spread at sf0.1); width tracks
    # the cluster (fanout_partitions), not a local core-count constant
    # the long→string casts are hoisted OUT of the 200× fan-out: there are
    # only 200 distinct b and N distinct event_id strings, so they are
    # materialized once per input row (not once per (b, event) pair); the
    # md5 input — and therefore every draw — is byte-identical
    x = (
        load(spark, sf_dir, "events")
        .select(
            F.col("event_id").cast("string").alias("eid"),
            F.floor(F.col("value") * 1e6).cast("long").alias("v"),
        )
        .repartition(fanout_partitions(spark))
    )
    bs = spark.range(1, 201).select(
        F.col("id").alias("b"), F.col("id").cast("string").alias("b_str")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("b_str"), F.col("eid"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        + 1.0
    ) / 4294967297.0
    w = (
        F.when(u < _POIS_C[0], 0)
        .when(u < _POIS_C[1], 1)
        .when(u < _POIS_C[2], 2)
        .when(u < _POIS_C[3], 3)
        .otherwise(4)
        .cast("long")
    )
    means = (
        x.crossJoin(F.broadcast(bs))
        .select("b", (w * F.col("v")).alias("wv"), w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum("wv").cast("double") / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("r")
    )
    point = x.agg(
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias(
            "point_est_micros"
        )
    )
    # both CI bounds read off ONE ranked frame in ONE aggregate: the naive
    # two-filter form plants two full copies of the 200× md5 fan-out
    # subtree in the plan (scan→repartition→crossJoin→agg→window per
    # bound); min/max over the r∈{5,196} rows are exactly the same two
    # ranked values, so the result is byte-identical with half the plan
    ci = ranked.filter(F.col("r").isin(5, 196)).agg(
        F.round(F.min(F.when(F.col("r") == 5, F.col("m"))), 6).alias(
            "ci_lo_micros"
        ),
        F.round(F.max(F.when(F.col("r") == 196, F.col("m"))), 6).alias(
            "ci_hi_micros"
        ),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.lit(200).cast("long").alias("n_replicates"),
        "point_est_micros",
        "ci_lo_micros",
        "ci_hi_micros",
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
    "q_linear_interp_resample",
    oracle="""
    WITH obs AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS t,
               ROUND(AVG(value), 6) AS y
        FROM events GROUP BY 1, 2
    ), rng AS (
        SELECT event_type, MIN(t) AS t0, MAX(t) AS t1 FROM obs GROUP BY 1
    ), grid AS (
        SELECT event_type, UNNEST(range(t0, t1 + 1, 6)) AS t FROM rng
    ), u AS (
        SELECT event_type, t, CAST(NULL AS DOUBLE) AS y, 1 AS is_grid
        FROM grid
        UNION ALL
        SELECT event_type, t, y, 0 AS is_grid FROM obs
    ), f AS (
        SELECT *,
               LAST_VALUE(y IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY t, is_grid
                   ROWS UNBOUNDED PRECEDING) AS py,
               LAST_VALUE(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY t, is_grid
                         ROWS UNBOUNDED PRECEDING) AS pt,
               LAST_VALUE(y IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY t DESC, is_grid
                   ROWS UNBOUNDED PRECEDING) AS ny,
               LAST_VALUE(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY t DESC, is_grid
                         ROWS UNBOUNDED PRECEDING) AS nt
        FROM u
    )
    SELECT event_type, t AS grid_hour,
           ROUND(CASE WHEN nt = pt THEN py
                      ELSE py + (ny - py) * (t - pt) / CAST(nt - pt AS DOUBLE)
                 END, 6) AS y_interp
    FROM f
    WHERE is_grid = 1 AND py IS NOT NULL AND ny IS NOT NULL
    ORDER BY event_type, grid_hour
    """,
    tags=("timeseries", "resample", "interpolation", "extension"),
)
def q_linear_interp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-interpolation resampling onto a regular 6-hour grid
    (round-8 — the two-sided complement to ``q_gapfill_forward_vwap``'s
    LOCF: each grid point takes the line between its bracketing
    observations, not the last one carried forward).  The classic
    single-pass formulation: union grid markers with the hourly
    observations, one forward scan carries (prev_t, prev_y), one
    reverse scan carries (next_t, next_y) — both plain cumulative
    windows with IGNORE NULLS, no self-join, no per-grid-point probe.
    Observations sort BEFORE markers at the same hour on both scans,
    so a grid point that lands exactly on an observation interpolates
    to it exactly.  Hourly y is 6-dp-rounded first so both engines
    interpolate bit-identical inputs.

    Scale: two sort-once window scans per event type over
    (hours + grid points) rows — never the raw events; the grid
    explodes from a 1-row-per-type range, so the fan-out is bounded
    by the time span, not the data."""
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("t")
    ).agg(F.round(F.avg("value"), 6).alias("y"))
    rng = obs.groupBy("event_type").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    grid = (
        rng.select(
            "event_type",
            F.explode_outer(
                F.sequence(F.col("t0"), F.col("t1"), F.lit(6).cast("long"))
            ).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select(
            "event_type",
            "t",
            F.lit(None).cast("double").alias("y"),
            F.lit(1).alias("is_grid"),
        )
    )
    u = grid.unionByName(
        obs.select("event_type", "t", "y", F.lit(0).alias("is_grid"))
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("t"), F.asc("is_grid"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rev = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("t"), F.asc("is_grid"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ot = F.when(F.col("is_grid") == 0, F.col("t"))
    f = u.select(
        "event_type",
        "t",
        "is_grid",
        F.last("y", ignorenulls=True).over(fwd).alias("py"),
        F.last(ot, ignorenulls=True).over(fwd).alias("pt"),
        F.last("y", ignorenulls=True).over(rev).alias("ny"),
        F.last(ot, ignorenulls=True).over(rev).alias("nt"),
    )
    interp = F.when(F.col("nt") == F.col("pt"), F.col("py")).otherwise(
        F.col("py")
        + (F.col("ny") - F.col("py"))
        * (F.col("t") - F.col("pt"))
        / (F.col("nt") - F.col("pt")).cast("double")
    )
    return (
        f.filter(
            (F.col("is_grid") == 1)
            & F.col("py").isNotNull()
            & F.col("ny").isNotNull()
        )
        .select(
            "event_type",
            F.col("t").alias("grid_hour"),
            F.round(interp, 6).alias("y_interp"),
        )
        .orderBy("event_type", "grid_hour")
    )


#: Abramowitz & Stegun 7.1.26 erf constants — the same closed-form
#: approximation evaluated in BOTH engines, so p-values agree bitwise
#: under the 6-dp round.
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_BH_M = 20  # hypotheses: users 0..19
_BH_Q = 0.10  # target false-discovery rate


def _bh_oracle() -> str:
    a1, a2, a3, a4, a5 = _AS_A
    return f"""
    WITH g AS (
        SELECT ROUND(AVG(value), 6) AS mu,
               ROUND(STDDEV_SAMP(value), 6) AS sd
        FROM events
    ), s AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, AVG(value) AS m
        FROM events WHERE user_id < {_BH_M} GROUP BY user_id
    ), z AS (
        SELECT user_id, n,
               ROUND((m - g.mu) / (g.sd / SQRT(n)), 6) AS z
        FROM s, g
    ), p AS (
        SELECT user_id, n, z,
               ROUND((((({a5} * tt + {a4}) * tt + {a3}) * tt + {a2}) * tt
                      + {a1}) * tt * EXP(-xx * xx), 6) AS p
        FROM (SELECT *, ABS(z) / SQRT(2.0) AS xx,
                     1 / (1 + {_AS_P} * (ABS(z) / SQRT(2.0))) AS tt
              FROM z)
    ), r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p, user_id) AS BIGINT)
                      AS rank
        FROM p
    ), k AS (
        SELECT MAX(CASE WHEN p <= rank * {_BH_Q} / {_BH_M} THEN rank
                        ELSE 0 END) AS kstar
        FROM r
    )
    SELECT r.user_id, r.n, r.z, r.p, r.rank,
           (r.rank <= k.kstar) AS rejected
    FROM r, k ORDER BY r.user_id
    """


@query(
    "q_benjamini_hochberg",
    oracle=_bh_oracle(),
    tags=("statistics", "multiple-testing", "fdr", "extension"),
)
def q_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI–HOCHBERG false-discovery-rate control (round-8 — the
    multiple-testing step missing from the per-test statistics family:
    Welch/Mann-Whitney/chi-square each report ONE test; a screening
    pipeline runs thousands and must correct for it): one mean-shift
    z-test per user (is this user's mean value different from the
    corpus mean?), two-sided p-values from the Abramowitz-Stegun
    7.1.26 closed-form normal CDF (evaluated with identical constants
    and association in both engines — neither ships erf in SQL), then
    the BH step-up: rank p ascending, find the largest k with
    p_(k) ≤ k·q/m, reject ranks ≤ k.  z is rounded to 6 dp before the
    CDF so both engines transform bit-identical inputs.

    Scale: per-user moments partial-aggregate; the BH step is a rank
    + running-max over m hypothesis rows (never the events), the
    textbook two-phase screen at any m."""
    a1, a2, a3, a4, a5 = _AS_A
    e = load(spark, sf_dir, "events")
    g = e.agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
    )
    s = (
        e.filter(F.col("user_id") < _BH_M)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.avg("value").alias("m"))
    )
    z = s.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n",
        F.round(
            (F.col("m") - F.col("mu")) / (F.col("sd") / F.sqrt(F.col("n"))), 6
        ).alias("z"),
    )
    xx = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    tt = F.lit(1) / (F.lit(1) + F.lit(_AS_P) * xx)
    poly = (
        (((F.lit(a5) * tt + F.lit(a4)) * tt + F.lit(a3)) * tt + F.lit(a2)) * tt
        + F.lit(a1)
    ) * tt
    p = z.select(
        "user_id", "n", "z", F.round(poly * F.exp(-xx * xx), 6).alias("p")
    )
    r = p.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.asc("p"), F.asc("user_id"))).cast("long"),
    )
    kstar = F.max(
        F.when(F.col("p") <= F.col("rank") * _BH_Q / _BH_M, F.col("rank")).otherwise(
            F.lit(0)
        )
    ).over(Window.partitionBy())
    return (
        r.withColumn("rejected", F.col("rank") <= kstar)
        .select("user_id", "n", "z", "p", "rank", "rejected")
        .orderBy("user_id")
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
    "q_weighted_median",
    oracle="""
    WITH w AS (
        SELECT event_type,
               CAST(FLOOR(value * 1e6) AS BIGINT) AS v,
               CAST(event_id % 7 + 1 AS BIGINT) AS wt
        FROM events
    ), c AS (
        SELECT event_type, v, wt,
               SUM(wt) OVER (PARTITION BY event_type ORDER BY v, wt
                             ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(wt) OVER (PARTITION BY event_type) AS total
        FROM w
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN 2 * cumw >= total THEN v END) AS BIGINT)
               AS wmedian_micros,
           CAST(MIN(CASE WHEN 10 * cumw >= 9 * total THEN v END) AS BIGINT)
               AS wp90_micros,
           CAST(MAX(total) AS BIGINT) AS total_weight
    FROM c GROUP BY event_type ORDER BY event_type
    """,
    tags=("aggregates", "weighted-quantile", "extension"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median / p90 (round-8 — the quantile the whole
    percentile family cannot express: every existing mode weights rows
    equally, but "median trade price weighted by quantity" is the
    production question): the lower weighted quantile — the smallest
    value whose cumulative weight reaches q·W — computed by a
    per-group cumulative-weight window and a conditional MIN.  Values
    are integer micros and weights integers, so the crossing
    comparisons (2·cumw ≥ W, 10·cumw ≥ 9·W) are exact on both
    engines — no float thresholds anywhere.

    Scale: one sort-once window per group + a partial-aggregated
    fold; same shuffle shape as any grouped percentile, and the
    integer-crossing trick ports to any weighted quantile."""
    e = load(spark, sf_dir, "events")
    w = e.select(
        "event_type",
        F.floor(F.col("value") * 1e6).cast("long").alias("v"),
        (F.col("event_id") % 7 + 1).cast("long").alias("wt"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("v"), F.asc("wt"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = w.select(
        "event_type",
        "v",
        F.sum("wt").over(win).alias("cumw"),
        F.sum("wt").over(Window.partitionBy("event_type")).alias("total"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.min(F.when(2 * F.col("cumw") >= F.col("total"), F.col("v")))
            .cast("long")
            .alias("wmedian_micros"),
            F.min(F.when(10 * F.col("cumw") >= 9 * F.col("total"), F.col("v")))
            .cast("long")
            .alias("wp90_micros"),
            F.max("total").cast("long").alias("total_weight"),
        )
        .orderBy("event_type")
    )


_HAMPEL_K = 11  # frame: 11 preceding hours + current


@query(
    "q_rolling_median_window",
    oracle=f"""
    WITH h AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
               CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ), fr AS (
        SELECT event_type, hour, v,
               list_sort(list(v) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN {_HAMPEL_K} PRECEDING AND CURRENT ROW
               )) AS frame
        FROM h
    ), med AS (
        SELECT event_type, hour, v,
               CAST(len(frame) AS BIGINT) AS n_frame,
               frame[(len(frame) + 1) // 2] AS rmed
        FROM fr
    )
    SELECT event_type, hour, v, n_frame,
           CAST(rmed AS BIGINT) AS rolling_median,
           (5 * ABS(v - rmed) > 2 * ABS(rmed)) AS is_outlier
    FROM med
    WHERE n_frame > {_HAMPEL_K}
    ORDER BY event_type, hour
    """,
    tags=("windows", "rolling-median", "outlier", "extension"),
)
def q_rolling_median_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING MEDIAN outlier screen (round-8 — the Hampel-style
    robust complement to the rolling-mean family: EWMA and Bollinger
    flag against moving AVERAGES, which an outlier itself drags; the
    moving median does not): per event type, the median of the last
    {_HAMPEL_K}+1 hourly value totals, flagging hours that deviate
    from their rolling median by more than 40% (compared in exact
    integers: 5·|v − med| > 2·|med|).  Catalyst has no framed MEDIAN
    window, so the engine renders the holistic aggregate honestly:
    ``collect_list`` over the ROWS frame → ``array_sort`` →
    lower-middle element — exact, and the frame is a constant 12
    values per row.  Warm-up rows (incomplete frames) are excluded
    on both sides.

    Scale: one sort-once window per series; per-row state is the
    O(k) frame, never the series — the standard bounded-memory
    rolling-holistic shape."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hour")
    ).agg(F.sum(F.floor(F.col("value") * 1e6).cast("long")).cast("long").alias("v"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-_HAMPEL_K, 0)
    )
    fr = h.select(
        "event_type",
        "hour",
        "v",
        F.array_sort(F.collect_list("v").over(win)).alias("frame"),
    )
    med = fr.select(
        "event_type",
        "hour",
        "v",
        F.size("frame").cast("long").alias("n_frame"),
        F.expr("frame[cast((size(frame) + 1) / 2 as int) - 1]").alias("rmed"),
    )
    return (
        med.filter(F.col("n_frame") > _HAMPEL_K)
        .select(
            "event_type",
            "hour",
            "v",
            "n_frame",
            F.col("rmed").cast("long").alias("rolling_median"),
            (
                5 * F.abs(F.col("v") - F.col("rmed"))
                > 2 * F.abs(F.col("rmed"))
            ).alias("is_outlier"),
        )
        .orderBy("event_type", "hour")
    )


def _cuped_oracle() -> str:
    from ..llm.datasets import hash_bucket_sql

    arm = hash_bucket_sql("user_id", "ab-v1", 2)
    return f"""
    WITH u AS (
        SELECT user_id, {arm} AS arm,
               ROUND(SUM(CASE WHEN day(ts) <= 10 THEN value ELSE 0 END), 6)
                   AS x,
               ROUND(SUM(CASE WHEN day(ts) > 10 THEN value ELSE 0 END), 6)
                   AS y
        FROM events GROUP BY user_id
    ), th AS (
        SELECT ROUND(COVAR_SAMP(x, y) / VAR_SAMP(x), 6) AS theta,
               ROUND(AVG(x), 6) AS mx
        FROM u
    ), adj AS (
        SELECT u.arm, u.y, ROUND(u.y - th.theta * (u.x - th.mx), 6) AS yc
        FROM u, th
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(y), 6) AS mean_y,
           ROUND(AVG(yc), 6) AS mean_y_cuped,
           ROUND(VAR_SAMP(yc) / VAR_SAMP(y), 6) AS var_ratio
    FROM adj GROUP BY arm ORDER BY arm
    """


@query(
    "q_cuped_variance_reduction",
    oracle=_cuped_oracle(),
    tags=("experimentation", "cuped", "variance-reduction", "extension"),
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (round-8 — the experimentation-
    platform op the test-statistics family feeds into: Welch/MW tell
    you IF arms differ, CUPED makes the experiment SENSITIVE enough
    to tell sooner by regressing out pre-experiment behavior): each
    user's pre-period value total (days ≤ 10) is the covariate x, the
    experiment-period total the metric y, arms assigned by the
    engine-portable md5 bucket; θ = cov(x,y)/var(x) over all users,
    and the adjusted metric y − θ·(x − x̄) keeps each arm's mean
    estimate unbiased while shrinking its variance by the covariate's
    explained share — var_ratio per arm is the measured payoff.
    x, y, θ and the adjusted values are 6-dp-rounded at each stage so
    both engines fold bit-identical inputs.

    Scale: one partial-aggregated scan to per-user rows, a 1-row
    (θ, x̄) broadcast, one more partial aggregation per arm — CUPED at
    a billion users is exactly these three exchanges."""
    from ..llm.datasets import hash_bucket

    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.dayofmonth("ts") <= 10, F.col("value")).otherwise(0.0)),
            6,
        ).alias("x"),
        F.round(
            F.sum(F.when(F.dayofmonth("ts") > 10, F.col("value")).otherwise(0.0)),
            6,
        ).alias("y"),
    ).select(
        hash_bucket(F.col("user_id"), "ab-v1", 2).alias("arm"), "x", "y"
    )
    th = u.agg(
        F.round(F.covar_samp("x", "y") / F.var_samp("x"), 6).alias("theta"),
        F.round(F.avg("x"), 6).alias("mx"),
    )
    adj = u.crossJoin(F.broadcast(th)).select(
        "arm",
        "y",
        F.round(
            F.col("y") - F.col("theta") * (F.col("x") - F.col("mx")), 6
        ).alias("yc"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("y"), 6).alias("mean_y"),
            F.round(F.avg("yc"), 6).alias("mean_y_cuped"),
            F.round(F.var_samp("yc") / F.var_samp("y"), 6).alias("var_ratio"),
        )
        .orderBy("arm")
    )


#: SPRT design constants in INTEGER micro-log-likelihood units:
#: H0: p = 0.18 vs H1: p = 0.22 purchase share, alpha = beta = 0.05.
#: A = round(ln(p1/p0)*1e6), B = round(ln((1-p1)/(1-p0))*1e6),
#: U/L = Wald boundaries ln((1-b)/a), ln(b/(1-a)) in the same units —
#: pinning the test to integers makes every crossing comparison exact
#: in both engines (the walk is A*k + B*(t-k) over BIGINTs).
_SPRT_A = 200671
_SPRT_B = -50010
_SPRT_U = 2944439
_SPRT_L = -2944439


@query(
    "q_sprt_sequential_test",
    oracle=f"""
    WITH x AS (
        SELECT ts, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        FROM events
    ), c AS (
        SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id) AS t,
               SUM(x) OVER (ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS k
        FROM x
    ), l AS (
        SELECT t, k, {_SPRT_A} * k + {_SPRT_B} * (t - k) AS llr FROM c
    ), fin AS (
        SELECT *,
               CASE WHEN llr >= {_SPRT_U} THEN 'accept_h1'
                    WHEN llr <= {_SPRT_L} THEN 'accept_h0' END AS d
        FROM l
    ), first_cross AS (
        SELECT * FROM fin WHERE d IS NOT NULL ORDER BY t LIMIT 1
    ), fallback AS (
        SELECT t, k, llr, 'undecided' AS d FROM l ORDER BY t DESC LIMIT 1
    ), pick AS (
        SELECT t, k, llr, d FROM first_cross
        UNION ALL
        SELECT t, k, llr, d FROM fallback
        WHERE NOT EXISTS (SELECT 1 FROM first_cross)
    )
    SELECT d AS decision,
           CAST(t AS BIGINT) AS n_at_decision,
           CAST(k AS BIGINT) AS conversions,
           CAST(llr AS BIGINT) AS llr_micro,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS n_total
    FROM pick
    """,
    tags=("experimentation", "sequential-test", "sprt", "extension"),
)
def q_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT sequential test (round-8 — the EARLY-STOPPING member
    of the experimentation family: fixed-horizon tests (Welch, MW)
    read the whole sample, CUPED shrinks its variance, the SPRT stops
    the moment the evidence crosses a boundary): the event stream in
    time order is a Bernoulli walk (purchase or not); the
    log-likelihood ratio for H1: p=0.22 vs H0: p=0.18 advances by a
    constant per step, and the test decides at the FIRST crossing of
    the Wald boundaries (α = β = 0.05) — here after n_at_decision
    events, a tiny fraction of the corpus.  The whole walk is carried
    in INTEGER micro-log-units (constants pre-rounded once, the walk
    is A·k + B·(t−k) over BIGINTs), so the crossing row is exact on
    both engines — no float boundary anywhere.

    Scale: the cumulative walk is one ordered window per experiment
    key (global here for the single corpus-wide test; a platform
    partitions by experiment id) and the first-crossing pick is a
    top-1 sort — the sequential decision costs one scan of the
    PREFIX the test actually needed, which is the point of SPRT."""
    e = load(spark, sf_dir, "events")
    x = e.select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    w = Window.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    l = x.select(
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("t"),
        F.sum("x").over(w).alias("k"),
    ).select(
        "t",
        "k",
        (
            F.lit(_SPRT_A) * F.col("k")
            + F.lit(_SPRT_B) * (F.col("t") - F.col("k"))
        ).alias("llr"),
    )
    fin = l.withColumn(
        "d",
        F.when(F.col("llr") >= _SPRT_U, F.lit("accept_h1")).when(
            F.col("llr") <= _SPRT_L, F.lit("accept_h0")
        ),
    )
    first_cross = fin.filter(F.col("d").isNotNull()).orderBy("t").limit(1)
    fallback = (
        l.orderBy(F.desc("t")).limit(1).withColumn("d", F.lit("undecided"))
    )
    n_cross = first_cross.agg(F.count(F.lit(1)).alias("nc"))
    pick = first_cross.select("t", "k", "llr", "d").unionByName(
        fallback.select("t", "k", "llr", "d")
        .crossJoin(F.broadcast(n_cross))
        .filter(F.col("nc") == 0)
        .drop("nc")
    )
    total = x.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return pick.crossJoin(F.broadcast(total)).select(
        F.col("d").alias("decision"),
        F.col("t").cast("long").alias("n_at_decision"),
        F.col("k").cast("long").alias("conversions"),
        F.col("llr").cast("long").alias("llr_micro"),
        "n_total",
    )


_DAY_US = 86_400_000_000  # one day in microseconds (integer)

# ---------------------------------------------------------------------------
# Kruskal-Wallis H: rank-based one-way ANOVA across weekday groups
# ---------------------------------------------------------------------------
_KW_USERS = 100  # bound keeps N <= 100 users x 31 days at every SF


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH d AS (
        SELECT user_id, epoch_us(ts) // {_DAY_US} AS dd,
               CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        FROM events WHERE user_id < {_KW_USERS}
        GROUP BY user_id, dd
    ), r AS (
        SELECT dd % 7 AS wd, v,
               2 * RANK() OVER (ORDER BY v)
                   + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
        FROM d
    ), g AS (
        SELECT wd, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(r2) AS BIGINT) AS s2
        FROM r GROUP BY wd
    ), ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY v)
    ), tot AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(s2 * s2 AS DOUBLE) / CAST(ng AS DOUBLE)) AS tsq
        FROM g
    ), h AS (
        SELECT n, k, tsum,
               3.0 * tsq / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)
                   AS h_raw,
               1.0 - CAST(tsum AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n * n - n) AS c
        FROM tot, ties
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST(k AS BIGINT) AS k_groups,
           CAST(tsum AS BIGINT) AS tie_sum,
           ROUND(h_raw, 6) AS h_stat,
           ROUND(h_raw / c, 6) AS h_tie_corrected,
           ROUND(EXP(-(h_raw / c) / 2)
                 * (1 + (h_raw / c) / 2
                    + ((h_raw / c) / 2) * ((h_raw / c) / 2) / 2), 6)
               AS p_value
    FROM h
    """,
    tags=("statistics", "nonparametric", "anova", "extension"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H test (round-8e — the distribution-free sibling
    of ``q_weekday_anova``: same "is there weekday seasonality"
    question, but on RANKS, so it holds under the heavy-tailed value
    distributions where the F test's normality assumption breaks):
    per-user daily value totals grouped by weekday (``epoch_day % 7``
    — engine-neutral, unlike dayofweek whose origin differs), ranked
    globally with the doubled-average-rank trick (``2*RANK() +
    ties - 1`` keeps tied average ranks INTEGER), H from exact integer
    rank sums, the standard tie correction ``1 - sum(t^3-t)/(N^3-N)``,
    and the chi-square(6) p-value via the EXACT even-df closed form
    ``exp(-x/2)*(1 + x/2 + (x/2)^2/2)`` — 7 weekday groups means df=6,
    and even df needs no incomplete-gamma approximation at all.

    Exactness: every sum that crosses the engines is BIGINT (rank sums
    <= 2*3100^2 ~ 2e7, squared ~ 4e14 < 2^53); float appears only in
    the 7-term S_g^2/n_g fold whose worst-case association error
    (~1e-3 absolute at magnitude 5e12) is scaled by 3/(N(N+1)) ~ 3e-7
    before the 6-dp round.

    Scale: the user bound caps the ranked frame at 3.1k rows at every
    SF — the global rank window is bounded by construction (same
    contract as q_slo_burn_rate's global window); the raw-event scan
    partial-aggregates per (user, day) before anything global."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < _KW_USERS)
    d = (
        e.groupBy(
            "user_id", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("dd")
        )
        .agg(F.sum(F.floor(F.col("value") * 1e6).cast("long")).cast("long").alias("v"))
    )
    # Bounded global window: <= _KW_USERS * 31 rows by construction.
    r = d.select(
        (F.col("dd") % 7).alias("wd"),
        "v",
        (
            2 * F.rank().over(Window.orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("v"))
            - 1
        ).alias("r2"),
    )
    g = r.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("r2").cast("long").alias("s2"),
    )
    ties = (
        r.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tsum")
        )
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            (F.col("s2") * F.col("s2")).cast("double") / F.col("ng").cast("double")
        ).alias("tsq"),
    )
    h = tot.crossJoin(F.broadcast(ties)).select(
        "n",
        "k",
        "tsum",
        (
            F.lit(3.0) * F.col("tsq") / (F.col("n").cast("double") * (F.col("n") + 1))
            - F.lit(3.0) * (F.col("n") + 1)
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("tsum").cast("double")
            / (
                F.col("n").cast("double") * F.col("n") * F.col("n")
                - F.col("n")
            )
        ).alias("c"),
    )
    hc = F.col("h_raw") / F.col("c")
    return h.select(
        F.col("n").cast("long").alias("n_obs"),
        F.col("k").cast("long").alias("k_groups"),
        F.col("tsum").cast("long").alias("tie_sum"),
        F.round("h_raw", 6).alias("h_stat"),
        F.round(hc, 6).alias("h_tie_corrected"),
        F.round(
            F.exp(-hc / 2) * (1 + hc / 2 + (hc / 2) * (hc / 2) / 2), 6
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test from shifted integer power sums
# ---------------------------------------------------------------------------
@query(
    "q_jarque_bera_normality",
    oracle="""
    WITH x AS (
        SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS x FROM events
    ), c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1
        FROM x GROUP BY event_type
    ), y AS (
        SELECT x.event_type, c.n, c.s1, x.x - c.s1 // c.n AS y
        FROM x JOIN c ON x.event_type = c.event_type
    ), m AS (
        SELECT event_type, MAX(n) AS n,
               CAST(MAX(s1 - (s1 // n) * n) AS DOUBLE) / MAX(n) AS delta,
               CAST(SUM(y * y) AS DOUBLE) / MAX(n) AS e2,
               CAST(SUM(y * y * y) AS DOUBLE) / MAX(n) AS e3,
               CAST(SUM(y * y * y * y) AS DOUBLE) / MAX(n) AS e4
        FROM y GROUP BY event_type
    ), mom AS (
        SELECT event_type, n, delta,
               e2 - delta * delta AS m2,
               e3 - 3 * delta * e2 + 2 * delta * delta * delta AS m3,
               e4 - 4 * delta * e3 + 6 * delta * delta * e2
                  - 3 * delta * delta * delta * delta AS m4
        FROM m
    ), stat AS (
        SELECT event_type, n,
               m3 / (m2 * SQRT(m2)) AS g1,
               m4 / (m2 * m2) - 3 AS g2
        FROM mom
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(g1, 6) AS skewness,
           ROUND(g2, 6) AS ex_kurtosis,
           ROUND(n * (g1 * g1 / 6 + g2 * g2 / 24), 6) AS jb_stat,
           ROUND(EXP(-(n * (g1 * g1 / 6 + g2 * g2 / 24)) / 2), 6) AS p_value
    FROM stat ORDER BY event_type
    """,
    tags=("statistics", "normality", "moments", "extension"),
)
def q_jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE-BERA normality test (round-8e — the screening step the
    moment family (q_value_moments) and every z/t-test implicitly
    assume but nothing verified: ARE the per-type value distributions
    normal?): skewness g1 and excess kurtosis g2 per event_type, JB =
    n*(g1^2/6 + g2^2/24), and the EXACT chi-square(2) survival
    ``exp(-JB/2)`` — df=2 is the one chi-square whose tail needs no
    approximation.

    Exactness recipe: raw power sums of unit-quantized values around a
    PER-GROUP INTEGER pseudo-mean ``c = S1 div n`` — the shift keeps
    |y| ~ spread (not magnitude), so sum(y^4) stays exact BIGINT
    (<= 600^4 * 1e7 rows ~ 1.3e18 < 2^63) and the central-moment
    corrections run in the small residual ``delta = mean - c in
    [0,1)`` — no catastrophic cancellation of the m^4-scale terms that
    the naive raw-moment expansion hits. Both engines then evaluate
    the identical float expression on identical integers.

    Scale: two passes of partial aggregation (one for (n, S1), one for
    the shifted power sums) joined through a 5-row broadcast — no
    window, no shuffle of the fact table beyond the 5-key agg."""
    e = load(spark, sf_dir, "events")
    x = e.select("event_type", F.floor("value").cast("long").alias("x"))
    c = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
    )
    y = x.join(F.broadcast(c), "event_type").select(
        "event_type",
        "n",
        "s1",
        (F.col("x") - F.expr("s1 div n")).alias("y"),
    )
    m = y.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (
            F.max(F.col("s1") - F.expr("s1 div n") * F.col("n")).cast("double")
            / F.max("n")
        ).alias("delta"),
        (F.sum(F.col("y") * F.col("y")).cast("double") / F.max("n")).alias("e2"),
        (
            F.sum(F.col("y") * F.col("y") * F.col("y")).cast("double")
            / F.max("n")
        ).alias("e3"),
        (
            F.sum(F.col("y") * F.col("y") * F.col("y") * F.col("y")).cast("double")
            / F.max("n")
        ).alias("e4"),
    )
    d = F.col("delta")
    mom = m.select(
        "event_type",
        "n",
        (F.col("e2") - d * d).alias("m2"),
        (F.col("e3") - 3 * d * F.col("e2") + 2 * d * d * d).alias("m3"),
        (
            F.col("e4")
            - 4 * d * F.col("e3")
            + 6 * d * d * F.col("e2")
            - 3 * d * d * d * d
        ).alias("m4"),
    )
    g1 = F.col("m3") / (F.col("m2") * F.sqrt("m2"))
    g2 = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    jb = F.col("n") * (g1 * g1 / 6 + g2 * g2 / 24)
    return (
        mom.select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(g1, 6).alias("skewness"),
            F.round(g2, 6).alias("ex_kurtosis"),
            F.round(jb, 6).alias("jb_stat"),
            F.round(F.exp(-jb / 2), 6).alias("p_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation: daily volume vs daily value, per type
# ---------------------------------------------------------------------------
@query(
    "q_spearman_rank_corr",
    oracle=f"""
    WITH d AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS dd,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY event_type, dd
    ), r AS (
        SELECT event_type,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS ry
        FROM d
    ), s AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy
        FROM r GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
    FROM s ORDER BY event_type
    """,
    tags=("statistics", "correlation", "nonparametric", "extension"),
)
def q_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation (round-8e — the monotone-association
    member of the correlation family: q_event_type_correlation is
    Pearson on values; this asks "do busier days have higher value"
    robustly to outliers and nonlinearity): per event_type, the daily
    series (count, value total) is double-average-ranked (``2*RANK() +
    ties - 1`` — tied ranks stay INTEGER), then rho = Pearson on the
    integer rank pairs, computed from exact BIGINT sums (<= 62^2 * 31
    per group) with float entering only in the final ratio — both
    engines divide the identical integers.

    Scale: events fold to (type, day) cardinality in one partial agg;
    windows rank <= 31 rows per group; the correlation is a 5-row
    fold. The doubled-rank trick is the general recipe for tie-exact
    rank statistics on any engine pair."""
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("dd")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.floor(F.col("value") * 1e6).cast("long")).cast("long").alias("y"),
    )
    wt = Window.partitionBy("event_type")
    r = d.select(
        "event_type",
        (
            2 * F.rank().over(wt.orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("event_type", "x"))
            - 1
        ).alias("rx"),
        (
            2 * F.rank().over(wt.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("event_type", "y"))
            - 1
        ).alias("ry"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(num / den, 6).alias("rho"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Theil-Sen slope: median of pairwise slopes, per type
# ---------------------------------------------------------------------------
@query(
    "q_theil_sen_slope",
    oracle=f"""
    WITH d AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS dd,
               CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY event_type, dd
    ), p AS (
        SELECT a.event_type,
               CAST(b.v - a.v AS DOUBLE) / (b.dd - a.dd) AS slope,
               a.dd AS d1, b.dd AS d2
        FROM d a JOIN d b
          ON a.event_type = b.event_type AND a.dd < b.dd
    ), r AS (
        SELECT event_type, slope,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope, d1, d2) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM p
    )
    SELECT event_type, CAST(cnt AS BIGINT) AS n_pairs,
           ROUND(slope, 6) AS ts_slope_micros_per_day
    FROM r WHERE rn = (cnt + 1) // 2
    ORDER BY event_type
    """,
    tags=("statistics", "robust-regression", "extension"),
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend (round-8e — the outlier-proof sibling of
    q_regression_ols: OLS's slope moves arbitrarily far under one bad
    day, the median of pairwise slopes tolerates ~29% contamination):
    per event_type, every day pair's slope (exact BIGINT differences
    divided once — both engines produce the bit-identical double), and
    the lower-middle median by a deterministic (slope, d1, d2) order.

    Scale: the pair join is bounded by construction — the series is
    the DAILY aggregate (~31 rows/group at any SF), so the self-join
    is ~465 pairs per group regardless of event count; the raw scan
    partial-aggregates first. For longer series the same operator
    applies per bounded window (the estimator is O(T^2) by
    definition; production runs it on rollup-cardinality series)."""
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("dd")
    ).agg(
        F.sum(F.floor(F.col("value") * 1e6).cast("long")).cast("long").alias("v")
    )
    a, b = d.alias("a"), d.alias("b")
    p = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.dd") < F.col("b.dd")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.v") - F.col("a.v")).cast("double")
            / (F.col("b.dd") - F.col("a.dd"))
        ).alias("slope"),
        F.col("a.dd").alias("d1"),
        F.col("b.dd").alias("d2"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    r = p.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("cnt"),
    )
    return (
        r.filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(
            "event_type",
            F.col("cnt").cast("long").alias("n_pairs"),
            F.round("slope", 6).alias("ts_slope_micros_per_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# McNemar paired-binary test: activity in first vs second half-month
# ---------------------------------------------------------------------------
def _erfc_terms(a: tuple[float, ...], p: float) -> tuple[str, str]:
    """SQL fragments (poly, t-def) for the A&S 7.1.26 erfc evaluated at
    ``z`` (column name), shared with the Spark side via identical
    literals.  erfc(z) = poly(t) * exp(-z*z), t = 1/(1 + p*z)."""
    a1, a2, a3, a4, a5 = a
    poly = (
        f"((((({a5} * t + {a4}) * t + {a3}) * t + {a2}) * t + {a1}) * t)"
    )
    return poly, f"1 / (1 + {p} * z)"


@query(
    "q_mcnemar_test",
    oracle=f"""
    WITH anchor AS (
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
        FROM events
    ), u AS (
        SELECT user_id,
               MAX(CASE WHEN epoch_us(ts) < a.mid THEN 1 ELSE 0 END) AS f,
               MAX(CASE WHEN epoch_us(ts) >= a.mid THEN 1 ELSE 0 END) AS s
        FROM events, anchor a GROUP BY user_id, a.mid
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(f * s) AS BIGINT) AS both_active,
               CAST(SUM(f * (1 - s)) AS BIGINT) AS first_only,
               CAST(SUM((1 - f) * s) AS BIGINT) AS second_only
        FROM u
    ), stat AS (
        SELECT *,
               CASE WHEN first_only + second_only = 0 THEN 0.0
                    ELSE CAST((ABS(first_only - second_only) - 1)
                              * (ABS(first_only - second_only) - 1) AS DOUBLE)
                         / (first_only + second_only) END AS chi2
        FROM cells
    ), z AS (
        SELECT *, SQRT(chi2 / 2) AS z FROM stat
    ), t AS (
        SELECT *, {_erfc_terms(_AS_A, _AS_P)[1]} AS t FROM z
    )
    SELECT n_users, both_active, first_only, second_only,
           ROUND(chi2, 6) AS chi2_cc,
           ROUND({_erfc_terms(_AS_A, _AS_P)[0]} * EXP(-z * z), 6) AS p_value
    FROM t
    """,
    tags=("statistics", "paired-test", "extension"),
)
def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR marginal-homogeneity test (round-8e — the PAIRED member
    of the proportion-test family: Welch/SRM compare independent
    groups, but "did the same users stay active month-half over
    month-half" pairs each user with themself): per-user binary
    (active first half, active second half) from an integer micros
    midpoint, the discordant counts b (first-only) and c
    (second-only), the continuity-corrected chi-square
    ``(|b-c|-1)^2/(b+c)``, and the chi-square(1) survival via the
    shared Abramowitz-Stegun erfc (identical constants/association to
    q_benjamini_hochberg): ``P(X>x) = erfc(sqrt(x/2))``.

    Exactness: b, c are exact integers, chi2 is one integer ratio, the
    erfc polynomial runs on the identical double in both engines.

    Scale: one partial-aggregated pass to user cardinality, then a
    1-row fold; the midpoint anchor is a 1-row broadcast (allow-listed
    BNLJ, same contract as q_rfm_segments' max-day anchor)."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    u = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.expr("unix_micros(ts)") < F.col("mid"), 1).otherwise(0)
            ).alias("f"),
            F.max(
                F.when(F.expr("unix_micros(ts)") >= F.col("mid"), 1).otherwise(0)
            ).alias("s"),
        )
    )
    cells = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("f") * F.col("s")).cast("long").alias("both_active"),
        F.sum(F.col("f") * (1 - F.col("s"))).cast("long").alias("first_only"),
        F.sum((1 - F.col("f")) * F.col("s")).cast("long").alias("second_only"),
    )
    b, c = F.col("first_only"), F.col("second_only")
    chi2 = F.when(b + c == 0, F.lit(0.0)).otherwise(
        ((F.abs(b - c) - 1) * (F.abs(b - c) - 1)).cast("double") / (b + c)
    )
    stat = cells.withColumn("chi2", chi2)
    z = F.sqrt(F.col("chi2") / 2)
    a1, a2, a3, a4, a5 = _AS_A
    t = 1 / (1 + F.lit(_AS_P) * z)
    poly = (
        (((F.lit(a5) * t + F.lit(a4)) * t + F.lit(a3)) * t + F.lit(a2)) * t
        + F.lit(a1)
    ) * t
    return stat.select(
        "n_users",
        "both_active",
        "first_only",
        "second_only",
        F.round("chi2", 6).alias("chi2_cc"),
        F.round(poly * F.exp(-z * z), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch check per exposure
# ---------------------------------------------------------------------------
@query(
    "q_srm_check",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT event_type, user_id, user_id % 2 AS arm FROM events
    ), c AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM e GROUP BY event_type
    ), s AS (
        SELECT *, CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) AS chi2
        FROM c
    ), z AS (
        SELECT *, SQRT(chi2 / 2) AS z FROM s
    ), t AS (
        SELECT *, {_erfc_terms(_AS_A, _AS_P)[1]} AS t FROM z
    ), p AS (
        SELECT event_type, n0, n1, chi2,
               {_erfc_terms(_AS_A, _AS_P)[0]} * EXP(-z * z) AS p
        FROM t
    )
    SELECT event_type, n0 AS exposed_control, n1 AS exposed_treatment,
           ROUND(chi2, 6) AS chi2_stat, ROUND(p, 6) AS p_value,
           (p < 0.001) AS srm_flag
    FROM p ORDER BY event_type
    """,
    tags=("statistics", "experimentation", "guardrail", "extension"),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH guardrail (round-8e — the health check
    every experiment readout runs BEFORE the effect tests the registry
    already has (Welch/Mann-Whitney/CUPED/SPRT): if the 50/50
    assignment didn't land 50/50 among exposed users, the readout is
    invalid no matter what the metric says): per exposure surface
    (event_type), distinct exposed users per arm (user_id % 2 — the
    deterministic assignment used by the whole A/B family), the
    equal-split chi-square ``(n0-n1)^2/(n0+n1)`` (exact integer
    ratio), the chi-square(1) p-value via the shared A&S erfc, and the
    standard p < 0.001 SRM flag.

    Scale: distinct (type, user, arm) partial-aggregates then folds to
    5 rows; no global state at all."""
    e = load(spark, sf_dir, "events")
    d = e.select(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).distinct()
    c = d.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1"))
    s = c.withColumn("chi2", chi2)
    z = F.sqrt(F.col("chi2") / 2)
    a1, a2, a3, a4, a5 = _AS_A
    t = 1 / (1 + F.lit(_AS_P) * z)
    poly = (
        (((F.lit(a5) * t + F.lit(a4)) * t + F.lit(a3)) * t + F.lit(a2)) * t
        + F.lit(a1)
    ) * t
    p = s.withColumn("p", poly * F.exp(-z * z))
    return p.select(
        "event_type",
        F.col("n0").alias("exposed_control"),
        F.col("n1").alias("exposed_treatment"),
        F.round("chi2", 6).alias("chi2_stat"),
        F.round("p", 6).alias("p_value"),
        (F.col("p") < 0.001).alias("srm_flag"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Power analysis: minimum detectable effect across a power grid
# ---------------------------------------------------------------------------
#: Acklam inverse-normal rational approximation, central branch
#: (valid for p in [0.02425, 0.97575] — every grid point below).  The
#: SAME literal constants are evaluated in both engines.
_ACK_A = (
    -3.969683028665376e01,
    2.209460984245205e02,
    -2.759285104469687e02,
    1.383577518672690e02,
    -3.066479806614716e01,
    2.506628277459239e00,
)
_ACK_B = (
    -5.447609879822406e01,
    1.615858368580409e02,
    -1.556989798598866e02,
    6.680131188771972e01,
    -1.328068155288572e01,
)
_ALPHA_TWO_SIDED = 0.975  # 1 - alpha/2 at alpha = 0.05


def _acklam_sql(p_expr: str) -> str:
    a1, a2, a3, a4, a5, a6 = _ACK_A
    b1, b2, b3, b4, b5 = _ACK_B
    # CAST to DOUBLE: DuckDB types bare decimal literals as DECIMAL and
    # the Horner products overflow scale 38 without it.
    q = f"(CAST({p_expr} AS DOUBLE) - 0.5)"
    r = f"({q} * {q})"
    num = f"((((({a1} * {r} + {a2}) * {r} + {a3}) * {r} + {a4}) * {r} + {a5}) * {r} + {a6})"
    den = f"((((({b1} * {r} + {b2}) * {r} + {b3}) * {r} + {b4}) * {r} + {b5}) * {r} + 1)"
    return f"({num} * {q} / {den})"


def _acklam_col(p: F.Column) -> F.Column:
    a1, a2, a3, a4, a5, a6 = _ACK_A
    b1, b2, b3, b4, b5 = _ACK_B
    q = p - 0.5
    r = q * q
    num = (
        ((((F.lit(a1) * r + a2) * r + a3) * r + a4) * r + a5) * r + a6
    )
    den = ((((F.lit(b1) * r + b2) * r + b3) * r + b4) * r + b5) * r + 1
    return num * q / den


@query(
    "q_power_analysis_mde",
    oracle=f"""
    WITH base AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                        THEN user_id END) AS BIGINT) AS conv
        FROM events
    ), grid AS (
        SELECT CAST(x AS BIGINT) AS power_pct FROM range(50, 100, 5) t(x)
    ), g AS (
        SELECT b.users, b.conv, grid.power_pct,
               CAST(b.conv AS DOUBLE) / b.users AS p0,
               b.users // 2 AS n_arm,
               {_acklam_sql(str(_ALPHA_TWO_SIDED))} AS za,
               {_acklam_sql("CAST(grid.power_pct AS DOUBLE) / 100")} AS zp
        FROM base b, grid
    )
    SELECT power_pct, n_arm AS n_per_arm,
           ROUND(p0, 6) AS baseline_rate,
           ROUND(za, 6) AS z_alpha, ROUND(zp, 6) AS z_power,
           ROUND((za + zp) * SQRT(2 * p0 * (1 - p0) / n_arm), 6) AS mde_abs,
           ROUND((za + zp) * SQRT(2 * p0 * (1 - p0) / n_arm) / p0, 6)
               AS mde_rel
    FROM g ORDER BY power_pct
    """,
    tags=("statistics", "experimentation", "planning", "extension"),
)
def q_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER-ANALYSIS planning grid (round-8e — the question asked
    BEFORE any experiment the A/B family reads out: "with this traffic
    and baseline, what lift CAN we even detect?"): observed baseline
    conversion (distinct purchasing users / distinct users) and per-arm
    traffic feed the two-proportion MDE formula ``(z_{{1-a/2}} +
    z_{{power}}) * sqrt(2 p (1-p) / n)`` across a 50%..95% power grid,
    with BOTH normal quantiles evaluated in-engine by the Acklam
    rational approximation (central branch; identical literal
    constants and Horner association in both engines — the same
    contract as the A&S erf family, in the inverse direction).

    Exactness: grid points are exact literals (pct/100 parses to the
    identical double), the baseline is one integer ratio, and every
    downstream op is the same IEEE expression on both sides.

    Scale: one distinct-user partial agg to a 1-row frame, crossed
    with a 10-row literal grid (allow-listed 1-row broadcast)."""
    e = load(spark, sf_dir, "events")
    base = e.agg(
        F.countDistinct("user_id").cast("long").alias("users"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        )
        .cast("long")
        .alias("conv"),
    )
    grid = base.select(
        "users",
        "conv",
        F.explode(F.sequence(F.lit(50), F.lit(95), F.lit(5))).alias("power_pct"),
    ).withColumn("power_pct", F.col("power_pct").cast("long"))
    g = grid.select(
        "power_pct",
        (F.col("conv").cast("double") / F.col("users")).alias("p0"),
        F.expr("users div 2").alias("n_arm"),
        _acklam_col(F.lit(_ALPHA_TWO_SIDED)).alias("za"),
        _acklam_col(F.col("power_pct").cast("double") / 100).alias("zp"),
    )
    mde = (F.col("za") + F.col("zp")) * F.sqrt(
        2 * F.col("p0") * (1 - F.col("p0")) / F.col("n_arm")
    )
    return g.select(
        "power_pct",
        F.col("n_arm").alias("n_per_arm"),
        F.round("p0", 6).alias("baseline_rate"),
        F.round("za", 6).alias("z_alpha"),
        F.round("zp", 6).alias("z_power"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("p0"), 6).alias("mde_rel"),
    ).orderBy("power_pct")


# ---------------------------------------------------------------------------
# Difference-in-differences: 2x2 natural-experiment estimator
# ---------------------------------------------------------------------------
@query(
    "q_difference_in_differences",
    oracle=f"""
    WITH anchor AS (
        SELECT (MIN(epoch_us(ts) // {_DAY_US})
                + MAX(epoch_us(ts) // {_DAY_US}) + 1) // 2 AS midday
        FROM events
    ), y AS (
        SELECT user_id % 2 AS treat,
               CASE WHEN epoch_us(ts) // {_DAY_US} >= a.midday
                    THEN 1 ELSE 0 END AS post,
               user_id,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS yv
        FROM events, anchor a
        GROUP BY 1, 2, user_id
    ), cell AS (
        SELECT treat, post, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yv) AS BIGINT) AS s,
               CAST(SUM(yv * yv) AS BIGINT) AS ss
        FROM y GROUP BY treat, post
    ), wide AS (
        SELECT
          MAX(CASE WHEN treat=0 AND post=0 THEN n END) AS n00,
          MAX(CASE WHEN treat=0 AND post=1 THEN n END) AS n01,
          MAX(CASE WHEN treat=1 AND post=0 THEN n END) AS n10,
          MAX(CASE WHEN treat=1 AND post=1 THEN n END) AS n11,
          MAX(CASE WHEN treat=0 AND post=0 THEN s END) AS s00,
          MAX(CASE WHEN treat=0 AND post=1 THEN s END) AS s01,
          MAX(CASE WHEN treat=1 AND post=0 THEN s END) AS s10,
          MAX(CASE WHEN treat=1 AND post=1 THEN s END) AS s11,
          MAX(CASE WHEN treat=0 AND post=0 THEN ss END) AS ss00,
          MAX(CASE WHEN treat=0 AND post=1 THEN ss END) AS ss01,
          MAX(CASE WHEN treat=1 AND post=0 THEN ss END) AS ss10,
          MAX(CASE WHEN treat=1 AND post=1 THEN ss END) AS ss11
        FROM cell
    ), est AS (
        SELECT *,
          CAST(s00 AS DOUBLE)/n00 AS m00, CAST(s01 AS DOUBLE)/n01 AS m01,
          CAST(s10 AS DOUBLE)/n10 AS m10, CAST(s11 AS DOUBLE)/n11 AS m11,
          CAST(n00*ss00 - s00*s00 AS DOUBLE)/(CAST(n00 AS DOUBLE)*n00*(n00-1)) AS vm00,
          CAST(n01*ss01 - s01*s01 AS DOUBLE)/(CAST(n01 AS DOUBLE)*n01*(n01-1)) AS vm01,
          CAST(n10*ss10 - s10*s10 AS DOUBLE)/(CAST(n10 AS DOUBLE)*n10*(n10-1)) AS vm10,
          CAST(n11*ss11 - s11*s11 AS DOUBLE)/(CAST(n11 AS DOUBLE)*n11*(n11-1)) AS vm11
        FROM wide
    )
    SELECT n00, n01, n10, n11,
           ROUND(m00, 6) AS mean_c_pre, ROUND(m01, 6) AS mean_c_post,
           ROUND(m10, 6) AS mean_t_pre, ROUND(m11, 6) AS mean_t_post,
           ROUND((m11 - m10) - (m01 - m00), 6) AS did_units,
           ROUND(SQRT(((vm00 + vm01) + vm10) + vm11), 6) AS se,
           ROUND(((m11 - m10) - (m01 - m00))
                 / SQRT(((vm00 + vm01) + vm10) + vm11), 6) AS t_stat
    FROM est
    """,
    tags=("statistics", "causal", "experimentation", "extension"),
)
def q_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES (round-8e — the causal-inference
    member of the experimentation family: CUPED adjusts a randomized
    readout, DiD recovers an effect when assignment is NOT randomized
    but a pre-period exists): users split into cohorts (user_id % 2),
    periods split at the integer midpoint day, per-user period value
    totals (unit-quantized — exact BIGINT through the square sums),
    and the 2x2 estimator ``(T_post - T_pre) - (C_post - C_pre)`` with
    the pooled standard error from exact cell moments
    (``n*ss - s^2`` stays BIGINT through sf10; the docstringed bound).
    Cell terms combine with EXPLICIT left-to-right association so both
    engines hit identical doubles.

    Scale: one partial-agg to user-period cardinality, one to 4 cells,
    then a 1-row fold — the estimator itself never sees raw events."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(
        F.expr(
            f"(min(unix_micros(ts) div {_DAY_US})"
            f" + max(unix_micros(ts) div {_DAY_US}) + 1) div 2"
        ).alias("midday")
    )
    y = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy(
            (F.col("user_id") % 2).alias("treat"),
            F.when(
                F.expr(f"unix_micros(ts) div {_DAY_US}") >= F.col("midday"), 1
            )
            .otherwise(0)
            .alias("post"),
            "user_id",
        )
        .agg(F.sum(F.floor("value").cast("long")).cast("long").alias("yv"))
    )
    cell = y.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yv").cast("long").alias("s"),
        F.sum(F.col("yv") * F.col("yv")).cast("long").alias("ss"),
    )

    def pick(col: str, tr: int, po: int) -> F.Column:
        return F.max(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col(col))
        )

    wide = cell.agg(
        *[
            pick(c, tr, po).alias(f"{c}{tr}{po}")
            for c in ("n", "s", "ss")
            for tr in (0, 1)
            for po in (0, 1)
        ]
    )

    def m(tr: int, po: int) -> F.Column:
        return F.col(f"s{tr}{po}").cast("double") / F.col(f"n{tr}{po}")

    def vm(tr: int, po: int) -> F.Column:
        n = F.col(f"n{tr}{po}")
        s = F.col(f"s{tr}{po}")
        ss = F.col(f"ss{tr}{po}")
        return (n * ss - s * s).cast("double") / (
            n.cast("double") * n * (n - 1)
        )

    did = (m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))
    se = F.sqrt(((vm(0, 0) + vm(0, 1)) + vm(1, 0)) + vm(1, 1))
    return wide.select(
        F.col("n00"),
        F.col("n01"),
        F.col("n10"),
        F.col("n11"),
        F.round(m(0, 0), 6).alias("mean_c_pre"),
        F.round(m(0, 1), 6).alias("mean_c_post"),
        F.round(m(1, 0), 6).alias("mean_t_pre"),
        F.round(m(1, 1), 6).alias("mean_t_post"),
        F.round(did, 6).alias("did_units"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Kalman local-level smoother with a precomputed gain schedule
# ---------------------------------------------------------------------------
_KF_Q = 4.0  # process noise variance (literal)
_KF_R = 16.0  # observation noise variance (literal)
_KF_TMAX = 40  # gain schedule horizon (>= any SF's day count)


def _kalman_weights() -> list[tuple[int, int, float]]:
    """Deterministic (t, j, w) weight table for the local-level Kalman
    filter: the Riccati recursion is DATA-INDEPENDENT, so the gain
    schedule k_t — and therefore the filter's linear weights
    ``w[t][j] = k_j * prod_{{i=j+1..t}} (1 - k_i)`` — is computed once
    driver-side and shipped as literals to BOTH engines (the same
    move as embedding A&S/Acklam constants).  k_1 = 1 (diffuse init:
    the first estimate is the first observation)."""
    gains = []
    p = 1e12  # diffuse prior variance
    for _ in range(_KF_TMAX):
        k = p / (p + _KF_R)
        gains.append(k)
        p = (1 - k) * p + _KF_Q
    rows = []
    for t in range(1, _KF_TMAX + 1):
        prod = 1.0
        out = []
        for j in range(t, 0, -1):
            out.append((t, j, gains[j - 1] * prod))
            prod *= 1.0 - gains[j - 1]
        rows.extend(reversed(out))
    return rows


_KF_ROWS = _kalman_weights()


def _kf_values_sql() -> str:
    return ", ".join(f"({t}, {j}, {w!r})" for t, j, w in _KF_ROWS)


@query(
    "q_kalman_filter_1d",
    oracle=f"""
    WITH anchor AS (
        SELECT MIN(epoch_us(ts) // {_DAY_US}) AS d0 FROM events
    ), d AS (
        SELECT CAST(epoch_us(ts) // {_DAY_US} - a.d0 + 1 AS BIGINT) AS t,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS y
        FROM events, anchor a GROUP BY 1
    ), w(t, j, w) AS (
        VALUES {{values}}
    ), f AS (
        SELECT w.t, SUM(w.w * CAST(d.y AS DOUBLE)) AS xhat
        FROM w JOIN d ON d.t = w.j
        WHERE w.t <= (SELECT MAX(t) FROM d)
        GROUP BY w.t
    )
    SELECT d.t AS t, d.y AS y_units, ROUND(f.xhat, 3) AS kalman_units
    FROM d JOIN f ON f.t = d.t
    ORDER BY t
    """.replace("{values}", _kf_values_sql()),
    tags=("statistics", "state-space", "timeseries", "extension"),
)
def q_kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KALMAN local-level smoother (round-8f — the state-space member
    of the smoothing family: EWMA's weight decay is fixed, Holt's is
    heuristic, the Kalman filter's is OPTIMAL for a local-level model
    and converges from a diffuse start): the daily value series is
    filtered with the exact Kalman recursion rendered as a LINEAR
    OPERATOR — the Riccati gain schedule is data-independent, so the
    driver precomputes k_t once and both engines evaluate
    ``xhat_t = sum_j w[t,j] * y_j`` against the identical literal
    weight table (465 rows for a 31-day series; the same
    literal-constant contract as the A&S/Acklam families).  Output is
    rounded to 3 dp: the only cross-engine divergence is sum
    association over <= 40 weighted terms (~1e-7 relative), far inside
    the round.

    Scale: the weight join replaces sequential per-row recursion with
    one broadcast join + partial-aggregated sum — embarrassingly
    parallel across series and time, which is exactly why production
    smoothing at 100 TB precomputes gain schedules instead of folding
    row-by-row (the applyInPandas fold exists for models whose gains
    depend on the data; this query is the closed-form fast path)."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(
        F.expr(f"min(unix_micros(ts) div {_DAY_US})").alias("d0")
    )
    d = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy(
            (
                F.expr(f"unix_micros(ts) div {_DAY_US}") - F.col("d0") + 1
            ).alias("t")
        )
        .agg(F.sum(F.floor("value").cast("long")).cast("long").alias("y"))
    )
    w = spark.createDataFrame(_KF_ROWS, "t INT, j INT, w DOUBLE")
    tmax = d.agg(F.max("t").alias("tmax"))
    f = (
        F.broadcast(w)
        .join(d, w["j"] == d["t"])
        .crossJoin(F.broadcast(tmax))
        .filter(w["t"] <= F.col("tmax"))
        .groupBy(w["t"].alias("t"))
        .agg(F.sum(F.col("w") * F.col("y").cast("double")).alias("xhat"))
    )
    return (
        d.join(f, "t")
        .select(
            F.col("t").cast("long").alias("t"),
            F.col("y").alias("y_units"),
            F.round("xhat", 3).alias("kalman_units"),
        )
        .orderBy("t")
    )
