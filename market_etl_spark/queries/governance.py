"""Corpus governance & pipeline-audit queries (round 6).

The operators a large-scale training-data pipeline runs BETWEEN
curation passes — distribution drift between corpus snapshots, token
budgeting, mixture design, shard planning, and frequency sketches —
each registered with a DuckDB oracle like every other entry:

- ``llm_psi_drift`` — Population Stability Index of the length
  distribution and the language mix between two corpus snapshots
  (the refresh-gate metric: retrain/re-curate when PSI > 0.2).
- ``llm_ks_drift`` — exact two-sample Kolmogorov–Smirnov statistic
  between two sources' length distributions, with the 95% rejection
  bound evaluated in-query.
- ``llm_token_budget_select`` — quality-ranked curriculum selection
  under a token budget (keep the best documents until the budget is
  spent), reported per source.
- ``llm_mixture_temperature`` — temperature-scaled source mixture
  (τ = 0.5, the multilingual-sampling convention) with deterministic
  largest-remainder integer slot allocation.
- ``llm_quality_quantile_norm`` — per-source decile calibration of
  the composite quality score (quantile normalization, the
  source-fair ranking step before cross-source selection).
- ``llm_shard_balance`` — deterministic hash-shard assignment with
  per-shard document/token loads and an in-query balance contract.
- ``q_cms_heavy_hitters`` — count-min sketch (d=4, w=64, md5 row
  hashes) frequency estimates for the top-10 users, fully
  deterministic cross-engine, overestimate audited against exact.
- ``llm_substring_dedup`` — character-level 20-gram cross-document
  duplication per doc (the exact-substring flavor of dedup from
  Lee et al., arXiv:2107.06499, §"exact substring duplication").
- ``llm_embedding_pca_power`` — top principal component via two
  unrolled power-iteration rounds over the centered embedding table,
  with Rayleigh-quotient eigenvalue and explained-variance ratio.

No reference counterpart (the reference's surface is the trades
corpus, README.md:27-36); these extend SURVEY.md §2.12's curation
pillar the way a production corpus team would.

The privacy audits sit here too: k-anonymity over quasi-identifiers
and differentially private noisy counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.datasets import hash_bucket, hash_bucket_sql
from ..llm.text import (
    BPE_TOKEN_COUNT_SQL,
    bpe_token_count,
    quality_score,
    quality_score_sql,
    words,
)
from ..tables import load
from .registry import query

#: Shared doc prep (tokens only — no shingles; these audits never
#: need the 3-gram column, so the narrower prep keeps the scan cheap).
_DOCS_SQL = """
    WITH t AS (
        SELECT doc_id, lang, source, text, n_chars,
               string_split(lower(text), ' ') AS w
        FROM documents
    )
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").withColumn("toks", words("text"))


# ---------------------------------------------------------------------------
# PSI drift between corpus snapshots
# ---------------------------------------------------------------------------
_PSI_BINS = 6  # fixed-width 100-char bins, capped at bin 5
_PSI_ALPHA = 0.5  # Laplace smoothing so ln() never sees zero


@query(
    "llm_psi_drift",
    oracle=f"""
    WITH snap AS (
        SELECT doc_id % 2 AS snap,
               LEAST(CAST(FLOOR(n_chars / 100) AS INT), {_PSI_BINS - 1}) AS bin,
               lang
        FROM documents
    ), lb AS (
        SELECT bin,
               SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS b
        FROM snap GROUP BY bin
    ), ln_tot AS (
        SELECT SUM(a) AS na, SUM(b) AS nb FROM lb
    ), lpsi AS (
        SELECT SUM(
            ((b + {_PSI_ALPHA}) / (nb + {_PSI_ALPHA} * {_PSI_BINS})
             - (a + {_PSI_ALPHA}) / (na + {_PSI_ALPHA} * {_PSI_BINS}))
            * LN(((b + {_PSI_ALPHA}) / (nb + {_PSI_ALPHA} * {_PSI_BINS}))
                 / ((a + {_PSI_ALPHA}) / (na + {_PSI_ALPHA} * {_PSI_BINS})))
        ) AS psi
        FROM lb, ln_tot
    ), gb AS (
        SELECT lang,
               SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS b
        FROM snap GROUP BY lang
    ), gk AS (
        SELECT COUNT(*) AS k, SUM(a) AS na, SUM(b) AS nb FROM gb
    ), gpsi AS (
        SELECT SUM(
            ((b + {_PSI_ALPHA}) / (nb + {_PSI_ALPHA} * k)
             - (a + {_PSI_ALPHA}) / (na + {_PSI_ALPHA} * k))
            * LN(((b + {_PSI_ALPHA}) / (nb + {_PSI_ALPHA} * k))
                 / ((a + {_PSI_ALPHA}) / (na + {_PSI_ALPHA} * k)))
        ) AS psi
        FROM gb, gk
    )
    SELECT ROUND((SELECT psi FROM lpsi), 6) AS psi_length,
           ROUND((SELECT psi FROM gpsi), 6) AS psi_lang,
           (SELECT psi FROM lpsi) < 0.2 AND (SELECT psi FROM gpsi) < 0.2
               AS drift_ok
    """,
    tags=("llm", "governance", "drift", "extension"),
)
def llm_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots (even /
    odd doc ids stand in for consecutive crawls): length distribution
    over fixed 100-char bins and the categorical language mix, both
    Laplace-smoothed (α=0.5) so empty cells stay finite.  PSI < 0.1 is
    stable, 0.1–0.2 drifting, > 0.2 re-curate — the in-query contract
    evaluates the 0.2 gate.

    Scale: two GROUP BYs over bin/lang cardinality (≤ 6 rows each) —
    map-side partial aggregation makes the shuffle model-sized; the
    PSI fold itself is a 1-row reduction."""
    d = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("snap"),
        F.least(
            F.floor(F.col("n_chars") / 100).cast("int"), F.lit(_PSI_BINS - 1)
        ).alias("bin"),
        "lang",
    )

    def _psi(keyed, k_expr):
        g = keyed.agg(
            F.sum(F.when(F.col("snap") == 0, 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).alias("b"),
        )
        tot = g.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("a").alias("na"),
            F.sum("b").alias("nb"),
        )
        j = g.crossJoin(F.broadcast(tot))
        k = k_expr if k_expr is not None else F.col("k")
        pa = (F.col("a") + _PSI_ALPHA) / (F.col("na") + _PSI_ALPHA * k)
        pb = (F.col("b") + _PSI_ALPHA) / (F.col("nb") + _PSI_ALPHA * k)
        return j.agg(F.sum((pb - pa) * F.log(pb / pa)).alias("psi"))

    lpsi = _psi(d.groupBy("bin"), F.lit(_PSI_BINS))
    gpsi = _psi(d.groupBy("lang"), None)
    return (
        lpsi.select(F.col("psi").alias("_lp"))
        .crossJoin(F.broadcast(gpsi.select(F.col("psi").alias("_gp"))))
        .select(
            F.round("_lp", 6).alias("psi_length"),
            F.round("_gp", 6).alias("psi_lang"),
            ((F.col("_lp") < 0.2) & (F.col("_gp") < 0.2)).alias("drift_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample KS drift between sources
# ---------------------------------------------------------------------------
_KS_A, _KS_B = "src0", "src1"


@query(
    "llm_ks_drift",
    oracle=f"""
    WITH d AS (
        SELECT n_chars, source FROM documents
        WHERE source IN ('{_KS_A}', '{_KS_B}')
    ), tot AS (
        SELECT SUM(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END) AS nb
        FROM d
    ), pts AS (
        SELECT n_chars,
               SUM(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END) AS cb
        FROM d GROUP BY n_chars
    ), cum AS (
        SELECT SUM(ca) OVER (ORDER BY n_chars) AS cuma,
               SUM(cb) OVER (ORDER BY n_chars) AS cumb
        FROM pts
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(MAX(ABS(cuma::DOUBLE / na - cumb::DOUBLE / nb)), 6)
               AS ks_stat,
           MAX(ABS(cuma::DOUBLE / na - cumb::DOUBLE / nb))
               > 1.358 * SQRT((na + nb)::DOUBLE / (na * nb)) AS reject_95
    FROM cum, tot
    GROUP BY na, nb
    """,
    tags=("llm", "governance", "drift", "extension"),
)
def llm_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    sources' document-length distributions: D = max over the pooled
    support of |CDF_a − CDF_b|, plus the large-sample 95% rejection
    bound (c(0.05)=1.358) evaluated in-query.

    Scale: pre-aggregate to one row per distinct length (map-side
    combine), then ONE ordered cumulative window over support-sized
    data — the raw rows never pass through the window."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("source").isin(_KS_A, _KS_B)
    )
    pts = d.groupBy("n_chars").agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0)).alias("cb"),
    )
    tot = d.agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0)).alias("nb"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb")
    )
    diff = cum.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        F.abs(
            F.col("cuma").cast("double") / F.col("na")
            - F.col("cumb").cast("double") / F.col("nb")
        ).alias("_d"),
    )
    return diff.groupBy("na", "nb").agg(F.max("_d").alias("_ks")).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("_ks", 6).alias("ks_stat"),
        (
            F.col("_ks")
            > 1.358
            * F.sqrt(
                (F.col("na") + F.col("nb")).cast("double")
                / (F.col("na") * F.col("nb"))
            )
        ).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Token-budget curriculum selection
# ---------------------------------------------------------------------------
_BUDGET_FRAC = 0.6  # keep the best docs until 60% of corpus tokens


@query(
    "llm_token_budget_select",
    oracle=f"""
    {_DOCS_SQL}, scored AS (
        SELECT doc_id, source,
               {BPE_TOKEN_COUNT_SQL.format(col='text')} AS n_tok,
               {quality_score_sql('text', 'w')} AS q
        FROM t
    ), budget AS (
        SELECT CAST(FLOOR({_BUDGET_FRAC} * SUM(n_tok)) AS BIGINT) AS b
        FROM scored
    ), ranked AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (ORDER BY q DESC, doc_id) AS cum
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
    FROM ranked, budget
    WHERE cum <= b
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "governance", "curriculum", "extension"),
)
def llm_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum selection under a token budget: rank the corpus by
    the composite quality score (ties to the lowest id — a total
    order) and keep documents while the running token total stays
    within 60% of the corpus's tokens; report the kept set per source.
    This is the data-selection step of budgeted pre-training runs
    (choose the best B tokens, not the best N documents).

    Scale: one scan computes (tokens, quality) per doc; the global
    ranked cumulative sum is over doc-count rows (ids + two numbers,
    never text), and the final per-source rollup partially aggregates."""
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        bpe_token_count("text").cast("long").alias("n_tok"),
        quality_score("text", "toks").alias("q"),
    )
    budget = scored.agg(
        F.floor(F.lit(_BUDGET_FRAC) * F.sum("n_tok")).cast("long").alias("b")
    )
    w = Window.orderBy(F.col("q").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = scored.select(
        "doc_id", "source", "n_tok", F.sum("n_tok").over(w).alias("cum")
    )
    return (
        ranked.crossJoin(F.broadcast(budget))
        .filter(F.col("cum") <= F.col("b"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture with largest-remainder allocation
# ---------------------------------------------------------------------------
_MIX_SLOTS = 1000


@query(
    "llm_mixture_temperature",
    oracle=f"""
    {_DOCS_SQL}, srcs AS (
        SELECT source,
               SUM({BPE_TOKEN_COUNT_SQL.format(col='text')}) AS n_tok
        FROM t GROUP BY source
    ), p AS (
        SELECT source, n_tok,
               SQRT(n_tok::DOUBLE) / SUM(SQRT(n_tok::DOUBLE)) OVER () AS pt,
               n_tok::DOUBLE / SUM(n_tok) OVER () AS praw
        FROM srcs
    ), alloc AS (
        SELECT source, n_tok, praw, pt,
               CAST(FLOOR(pt * {_MIX_SLOTS}) AS BIGINT) AS base,
               ROUND(pt * {_MIX_SLOTS} - FLOOR(pt * {_MIX_SLOTS}), 9) AS rem
        FROM p
    ), short AS (
        SELECT {_MIX_SLOTS} - SUM(base) AS missing FROM alloc
    ), final AS (
        SELECT source, n_tok, praw, pt, base,
               base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                           <= (SELECT missing FROM short)
                      THEN 1 ELSE 0 END AS slots
        FROM alloc
    )
    SELECT source, CAST(n_tok AS BIGINT) AS n_tokens,
           ROUND(praw, 6) AS p_raw, ROUND(pt, 6) AS p_temp,
           CAST(slots AS BIGINT) AS slots
    FROM final ORDER BY source
    """,
    tags=("llm", "governance", "mixture", "extension"),
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture: sampling probability
    p_i ∝ tokens_i^τ with τ = 0.5 (the multilingual up-sampling
    convention — low-resource sources gain share), allocated to 1000
    integer slots by largest remainder (Hamilton's method) with a
    deterministic (remainder DESC, source) tie order.  τ = 0.5 means
    the exponent is IEEE `sqrt`, which is correctly rounded on every
    engine — the whole allocation is cross-engine exact; remainders
    are rounded to 9 dp before ranking so last-ulp summation noise
    cannot flip a rank.

    Scale: per-source token totals partial-aggregate; everything
    after is source-cardinality-sized."""
    srcs = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum(bpe_token_count("text")).alias("n_tok"))
    )
    wall = Window.partitionBy()
    p = srcs.select(
        "source",
        "n_tok",
        (
            F.sqrt(F.col("n_tok").cast("double"))
            / F.sum(F.sqrt(F.col("n_tok").cast("double"))).over(wall)
        ).alias("pt"),
        (F.col("n_tok").cast("double") / F.sum("n_tok").over(wall)).alias(
            "praw"
        ),
    )
    alloc = p.select(
        "source",
        "n_tok",
        "praw",
        "pt",
        F.floor(F.col("pt") * _MIX_SLOTS).cast("long").alias("base"),
        F.round(
            F.col("pt") * _MIX_SLOTS - F.floor(F.col("pt") * _MIX_SLOTS), 9
        ).alias("rem"),
    )
    missing = F.lit(_MIX_SLOTS) - F.sum("base").over(wall)
    rn = F.row_number().over(Window.orderBy(F.col("rem").desc(), "source"))
    return alloc.select(
        "source",
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.round("praw", 6).alias("p_raw"),
        F.round("pt", 6).alias("p_temp"),
        (F.col("base") + F.when(rn <= missing, 1).otherwise(0))
        .cast("long")
        .alias("slots"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Per-source quality quantile normalization
# ---------------------------------------------------------------------------
@query(
    "llm_quality_quantile_norm",
    oracle=f"""
    {_DOCS_SQL}, scored AS (
        SELECT doc_id, source, {quality_score_sql('text', 'w')} AS q
        FROM t
    ), dec AS (
        SELECT source, q,
               NTILE(10) OVER (PARTITION BY source ORDER BY q, doc_id)
                   AS decile
        FROM scored
    )
    SELECT source, CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(ROUND(q * 1e6) AS BIGINT)) AS BIGINT) AS sum_q_micro,
           ROUND(MIN(q), 6) AS min_q, ROUND(MAX(q), 6) AS max_q
    FROM dec GROUP BY source, decile
    ORDER BY source, decile
    """,
    tags=("llm", "governance", "calibration", "extension"),
)
def llm_quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decile calibration of the composite quality score
    (quantile normalization): NTILE(10) within each source under the
    total (score, id) order, then per-(source, decile) count/mean/
    min/max.  This is the source-fair ranking step — comparing raw
    scores across sources overselects verbose sources; comparing
    deciles does not.  The per-cell score mass rides in exact integer
    micro-units (q is already 6-dp; q·1e6 is an exact integer in
    double) — an AVG of rounded doubles can land exactly on a
    round-half boundary where Spark (HALF_UP) and DuckDB (HALF_EVEN)
    disagree, the q_user_value_gini lesson.

    Scale: the NTILE window partitions BY SOURCE (parallel across
    sources, one exchange); the decile rollup partial-aggregates."""
    scored = _docs(spark, sf_dir).select(
        "doc_id", "source", quality_score("text", "toks").alias("q")
    )
    dec = scored.select(
        "source",
        "q",
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy("q", "doc_id"))
        .alias("decile"),
    )
    return (
        dec.groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.round(F.col("q") * 1e6).cast("long"))
            .cast("long")
            .alias("sum_q_micro"),
            F.round(F.min("q"), 6).alias("min_q"),
            F.round(F.max("q"), 6).alias("max_q"),
        )
        .orderBy("source", "decile")
    )


# ---------------------------------------------------------------------------
# Shard assignment balance audit
# ---------------------------------------------------------------------------
_N_SHARDS = 8


@query(
    "llm_shard_balance",
    oracle=f"""
    {_DOCS_SQL}, sharded AS (
        SELECT {hash_bucket_sql('doc_id', 'shard-v1', _N_SHARDS)} AS shard,
               {BPE_TOKEN_COUNT_SQL.format(col='text')} AS n_tok
        FROM t
    ), loads AS (
        SELECT shard, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
        FROM sharded GROUP BY shard
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           MAX(n_tokens) OVER ()::DOUBLE / MIN(n_tokens) OVER () <= 2.0
               AS balance_ok
    FROM loads ORDER BY shard
    """,
    tags=("llm", "governance", "sharding", "extension"),
)
def llm_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-shard plan for the corpus (md5 bucket on
    doc_id — the same engine-portable primitive as the dataset
    splits) with per-shard document and token loads, plus the balance
    contract a shard planner enforces (max/min token load ≤ 2×).
    Shard assignment must be reproducible across engines and reruns —
    that is what makes resumable multi-node tokenization jobs safe.

    Scale: assignment is map-side arithmetic; loads partial-aggregate
    to shard cardinality."""
    sharded = _docs(spark, sf_dir).select(
        hash_bucket(F.col("doc_id"), "shard-v1", _N_SHARDS).alias("shard"),
        bpe_token_count("text").alias("n_tok"),
    )
    loads = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    wall = Window.partitionBy()
    return loads.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            F.max("n_tokens").over(wall).cast("double")
            / F.min("n_tokens").over(wall)
            <= 2.0
        ).alias("balance_ok"),
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 64
_CMS_SEEDS = [f"cms{s}" for s in range(_CMS_D)]


def _cms_bucket(seed_col, key_col):
    """md5-derived CMS row hash — the engine-portable hash_bucket
    primitive with a per-row seed column."""
    digest = F.md5(F.concat_ws("|", seed_col, key_col.cast("string")))
    return (F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % _CMS_W)


def _cms_bucket_sql(seed_expr: str, key_expr: str) -> str:
    return (
        f"CAST(('0x' || substring(md5({seed_expr} || '|' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W}"
    )


@query(
    "q_cms_heavy_hitters",
    oracle=f"""
    WITH keys AS (SELECT user_id FROM events),
    seeds AS (SELECT unnest({_CMS_SEEDS!r}) AS s),
    cells AS (
        SELECT s, {_cms_bucket_sql('s', 'user_id')} AS bucket,
               COUNT(*) AS cnt
        FROM keys, seeds GROUP BY s, bucket
    ), top10 AS (
        SELECT user_id, COUNT(*) AS exact_cnt FROM keys
        GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 10
    ), est AS (
        SELECT t.user_id, t.exact_cnt, MIN(c.cnt) AS cms_est
        FROM top10 t, seeds s
        JOIN cells c
          ON c.s = s.s AND c.bucket = {_cms_bucket_sql('s.s', 't.user_id')}
        GROUP BY t.user_id, t.exact_cnt
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id) AS INT)
               AS rank,
           user_id, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overestimate
    FROM est ORDER BY rank
    """,
    tags=("sketch", "cms", "mergeable", "extension"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 rows × w=64 buckets, md5 row hashes)
    frequency estimates for the top-10 users by event count, with the
    exact counts and the (structurally non-negative) overestimate in
    the same job.  Unlike library CMS implementations the hash rows
    are the engine-portable md5 bucket primitive, so the SKETCH ITSELF
    is deterministic cross-engine — the oracle rebuilds the identical
    sketch and the estimates hash-match exactly, not just within a
    tolerance.

    Scale: the sketch table is d·w = 256 mergeable counters built by
    one partial-aggregated GROUP BY (each partition emits ≤ 256 rows
    regardless of input size) — the CMS mergeability story is the HLL/
    theta/KLL pattern with exact integer cells; the probe side is
    top-k-sized."""
    e = load(spark, sf_dir, "events").select("user_id")
    seeds = F.array(*[F.lit(s) for s in _CMS_SEEDS])
    cells = (
        e.select("user_id", F.explode(seeds).alias("s"))
        .select("s", _cms_bucket(F.col("s"), F.col("user_id")).alias("bucket"))
        .groupBy("s", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top10 = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(10)
    )
    probes = top10.select(
        "user_id", "exact_cnt", F.explode(seeds).alias("s")
    ).select(
        "user_id",
        "exact_cnt",
        "s",
        _cms_bucket(F.col("s"), F.col("user_id")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["s", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        F.row_number()
        .over(Window.orderBy(F.desc("exact_cnt"), "user_id"))
        .alias("rank"),
        "user_id",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias(
            "overestimate"
        ),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Character-level exact-substring duplication (Lee et al. flavor)
# ---------------------------------------------------------------------------
_SUB_K = 20


@query(
    "llm_substring_dedup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE len(text) >= {_SUB_K}
    ), g AS (
        SELECT doc_id,
               unnest([md5(substr(text, i, {_SUB_K}))
                       FOR i IN range(1, len(text) - {_SUB_K - 2})]) AS h
        FROM d
    ), sh AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
        GROUP BY h HAVING COUNT(*) >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_positions,
           CAST(SUM(CASE WHEN h IN (SELECT h FROM sh) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_positions,
           ROUND(SUM(CASE WHEN h IN (SELECT h FROM sh) THEN 1 ELSE 0 END)
                 ::DOUBLE / COUNT(*), 6) AS dup_frac
    FROM g GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "dedup-substring", "extension"),
)
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level exact-substring duplication (the Lee et al.
    arXiv:2107.06499 dedup flavor, windowed): for every start position
    of a 20-char gram, is that exact substring present in ANY other
    document?  Per-doc output: positions, cross-doc-shared positions,
    and the shared fraction — the signal used to cut boilerplate and
    templated spam that word-n-gram Jaccard underweights.

    Scale: grams are md5-hashed at the map side (16-byte keys, never
    raw substrings, so the shuffle is position-count × 16 B); the
    shared set comes from a distinct + partial-aggregated count and
    joins back as a hash equi-join.  No pairwise comparison exists
    anywhere — cost is linear in total characters, the property that
    makes suffix-style dedup feasible at corpus scale."""
    d = load(spark, sf_dir, "documents").filter(
        F.length("text") >= _SUB_K
    )
    # explode_outer + post-filter: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, which re-inlines the whole gram
    # transform into a pushed-down guard (the tokenize-pipeline-twice
    # anti-pattern found on llm_ngram_novelty); length≥K makes the
    # null rows impossible anyway.
    grams = d.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                f"transform(sequence(1, length(text) - {_SUB_K - 1}),"
                f" i -> md5(substring(text, i, {_SUB_K})))"
            )
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    shared = (
        grams.distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("_dup"))
    )
    return (
        grams.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("long")
            .alias("n_shared_positions"),
        )
        .select(
            "doc_id",
            "n_positions",
            "n_shared_positions",
            F.round(
                F.col("n_shared_positions").cast("double")
                / F.col("n_positions"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Top principal component via unrolled power iteration
# ---------------------------------------------------------------------------
_PCA_DIMS = 64


@query(
    "llm_embedding_pca_power",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS x
        FROM embeddings
    ), ex AS (
        SELECT vec_id, i - 1 AS j, x[i] AS xj
        FROM e, range(1, {_PCA_DIMS + 1}) r(i)
    ), mean AS (
        SELECT j, AVG(xj) AS m,
               SUM(xj * xj) / COUNT(*) - AVG(xj) * AVG(xj) AS varj
        FROM ex GROUP BY j
    ), c AS (
        SELECT ex.vec_id, ex.j, ex.xj - mean.m AS cj
        FROM ex JOIN mean USING (j)
    ), t1 AS (
        SELECT vec_id, cj AS t FROM c WHERE j = 0
    ), u1 AS (
        SELECT c.j, SUM(c.cj * t1.t) AS u
        FROM c JOIN t1 USING (vec_id) GROUP BY c.j
    ), n1 AS (SELECT SQRT(SUM(u * u)) AS nrm FROM u1),
    v1 AS (SELECT j, u / nrm AS v FROM u1, n1),
    t2 AS (
        SELECT c.vec_id, SUM(c.cj * v1.v) AS t
        FROM c JOIN v1 USING (j) GROUP BY c.vec_id
    ), u2 AS (
        SELECT c.j, SUM(c.cj * t2.t) AS u
        FROM c JOIN t2 USING (vec_id) GROUP BY c.j
    ), n2 AS (SELECT SQRT(SUM(u * u)) AS nrm FROM u2),
    v2 AS (SELECT j, u / nrm AS v FROM u2, n2),
    t3 AS (
        SELECT c.vec_id, SUM(c.cj * v2.v) AS t
        FROM c JOIN v2 USING (j) GROUP BY c.vec_id
    ), lam AS (
        SELECT SUM(t * t) / (SELECT COUNT(*) FROM e) AS eigval FROM t3
    ), tr AS (SELECT SUM(varj) AS trace FROM mean),
    sgn AS (
        SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
        FROM v2 ORDER BY ABS(v) DESC, j LIMIT 1
    )
    SELECT CAST(v2.j AS INT) AS j, ROUND(v2.v * sgn.s, 6) AS loading,
           ROUND(lam.eigval, 6) AS eigval,
           ROUND(lam.eigval / tr.trace, 6) AS explained_ratio
    FROM v2, sgn, lam, tr ORDER BY j
    """,
    tags=("llm", "embeddings", "pca", "iterative", "extension"),
)
def llm_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table via TWO unrolled
    power-iteration rounds over the mean-centered data (v₀ = e₀), with
    the Rayleigh-quotient eigenvalue and the explained-variance ratio
    (λ / trace) — the dimensionality audit run before PCA'd ANN or
    matryoshka truncation, and the k-means-style pattern of an
    iterative algorithm whose oracle is the iteration unrolled into
    chained CTEs.

    Scale shape: each half-iteration is either (a) a per-row in-array
    dot product against a BROADCAST 64-element vector (zip_with +
    aggregate, no shuffle), or (b) one posexplode + GROUP BY j whose
    shuffle is dimension-sized (64 accumulators per partition,
    map-side combined).  Nothing vector-count-sized ever sits on the
    driver; the model state is two 64-element arrays."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    ex = emb.select("vec_id", F.posexplode("x").alias("j", "xj"))
    mean_rows = ex.groupBy("j").agg(
        F.avg("xj").alias("m"),
        (
            F.sum(F.col("xj") * F.col("xj")) / F.count(F.lit(1))
            - F.avg("xj") * F.avg("xj")
        ).alias("varj"),
    )
    mean_arr = mean_rows.agg(
        F.array_sort(F.collect_list(F.struct("j", "m"))).alias("sm"),
        F.sum("varj").alias("trace"),
    ).select(F.expr("transform(sm, s -> s.m)").alias("mean"), "trace")
    c = emb.crossJoin(F.broadcast(mean_arr)).select(
        "vec_id",
        F.expr("zip_with(x, mean, (a, b) -> a - b)").alias("c"),
        "trace",
    )

    def _next_v(cdf, t_expr):
        """One power half-step: u_j = Σ_i c_ij·t_i (dimension-sized
        shuffle), normalized into a 1-row broadcastable array."""
        u = (
            cdf.select(F.posexplode("c").alias("j", "cj"), t_expr.alias("t"))
            .groupBy("j")
            .agg(F.sum(F.col("cj") * F.col("t")).alias("u"))
        )
        return u.agg(
            F.array_sort(F.collect_list(F.struct("j", "u"))).alias("su")
        ).select(
            F.expr(
                "transform(transform(su, s -> s.u), e -> e / "
                "sqrt(aggregate(transform(su, s -> s.u), 0d,"
                " (acc, y) -> acc + y * y)))"
            ).alias("v")
        )

    dot_v = "aggregate(zip_with(c, v, (a, b) -> a * b), 0d, (acc, y) -> acc + y)"
    v1 = _next_v(c, F.element_at("c", 1))
    c1 = c.crossJoin(F.broadcast(v1))
    v2 = _next_v(c1, F.expr(dot_v))
    c2 = c.crossJoin(F.broadcast(v2)).select(
        "vec_id", "trace", F.expr(dot_v).alias("t")
    )
    lam = c2.agg(
        (F.sum(F.col("t") * F.col("t")) / F.count(F.lit(1))).alias("eigval"),
        F.max("trace").alias("trace"),
    )
    sign = v2.select(
        F.posexplode("v").alias("j", "vj")
    ).orderBy(F.abs(F.col("vj")).desc(), "j").limit(1).select(
        F.when(F.col("vj") < 0, -1.0).otherwise(1.0).alias("s")
    )
    return (
        v2.select(F.posexplode("v").alias("j", "vj"))
        .crossJoin(F.broadcast(sign))
        .crossJoin(F.broadcast(lam))
        .select(
            F.col("j").cast("int").alias("j"),
            F.round(F.col("vj") * F.col("s"), 6).alias("loading"),
            F.round("eigval", 6).alias("eigval"),
            F.round(F.col("eigval") / F.col("trace"), 6).alias(
                "explained_ratio"
            ),
        )
        .orderBy("j")
    )


# ---------------------------------------------------------------------------
# 16. k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------
@query(
    "q_k_anonymity_audit",
    oracle="""
    WITH rows_q AS (
        SELECT user_id // 10 AS user_band,
               event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(FLOOR(value) AS BIGINT) AS sensitive
        FROM events
    ), classes AS (
        SELECT user_band, event_type, day,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l
        FROM rows_q GROUP BY user_band, event_type, day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_classes,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           ROUND(SUM(CASE WHEN k < 5 THEN CAST(k AS DOUBLE) ELSE 0 END)
                 / SUM(k), 6) AS pct_rows_at_risk,
           CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_diversity_classes,
           CAST(MIN(k) AS BIGINT) AS min_k
    FROM classes
    """,
    tags=("governance", "privacy", "k-anonymity", "extension"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit — the privacy gate run before a
    dataset release: with quasi-identifiers (user band, event type,
    day), every equivalence class smaller than k = 5 is re-
    identifiable, and every class whose sensitive attribute (value
    bucket) takes a single value leaks it even at k ≥ 5 (that's what
    l-diversity adds).  Reports class counts, rows at risk, the
    at-risk fraction, low-diversity classes, and the dataset's actual
    min-k.

    Determinism: classes and k/l are exact integer counts over integer
    bucketings.  Scale: ONE groupBy over the quasi-identifier tuple
    with partial aggregation (count-distinct of the sensitive bucket
    inside the same shuffle); the audit fold runs on the class-
    cardinality frame."""
    rows_q = load(spark, sf_dir, "events").select(
        (F.col("user_id") / 10).cast("long").alias("user_band"),
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.floor("value").cast("long").alias("sensitive"),
    )
    classes = rows_q.groupBy("user_band", "event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.countDistinct("sensitive").cast("long").alias("l"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            F.sum(
                F.when(F.col("k") < 5, F.col("k").cast("double")).otherwise(0.0)
            )
            / F.sum("k"),
            6,
        ).alias("pct_rows_at_risk"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
        .cast("long")
        .alias("n_low_diversity_classes"),
        F.min("k").cast("long").alias("min_k"),
    )


# ---------------------------------------------------------------------------
# 17. Differentially-private noisy counts (deterministic Laplace)
# ---------------------------------------------------------------------------
@query(
    "q_dp_noisy_counts",
    oracle="""
    WITH counts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    ), noised AS (
        SELECT event_type, n,
               (CAST(('0x' || substring(md5('dp|' || event_type), 1, 8))
                     AS BIGINT) + 1.0) / 4294967297.0 AS u
        FROM counts
    )
    SELECT event_type,
           ROUND(n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                     * LN(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM noised ORDER BY event_type
    """,
    tags=("governance", "privacy", "differential-privacy", "extension"),
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (ε = 1, sensitivity 1):
    each per-type count gets Laplace(1/ε) noise via the inverse CDF —
    ``−b·sgn(u−½)·ln(1−2|u−½|)`` — with ``u`` an md5-derived uniform
    keyed on the released cell, so the mechanism is DETERMINISTIC and
    auditable across engines/runs (a seeded release, the shape DP
    deployments use for reproducible pipelines; the privacy argument
    is about the mechanism's distribution, which the hash uniform
    realizes).

    Scale: the noise attaches AFTER the partial-aggregated counts —
    per released cell, not per row; map-side cost is the count
    itself."""
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp|"), F.col("event_type"))), 1, 8),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        + 1.0
    ) / 4294967297.0
    noise = F.when(u < 0.5, 1.0).otherwise(-1.0) * F.log(
        1.0 - 2.0 * F.abs(u - 0.5)
    )
    return counts.select(
        "event_type",
        F.round(F.col("n") + noise, 6).alias("noisy_count"),
        F.lit(1.0).cast("double").alias("epsilon"),
    ).orderBy("event_type")
