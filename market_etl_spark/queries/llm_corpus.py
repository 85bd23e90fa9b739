"""LLM training-data pipeline queries over ``documents`` / ``embeddings``.

Every operator from the LLM pillar registered as a verifiable query.
Where the computation is expressible in ANSI SQL the entry carries a
DuckDB oracle (hash-checked); probabilistic/sketch-based operators
(LSH ANN, SimHash, hyperplane signatures) are registered rows-only and
get recall/quality assertions in tests/test_llm.py instead.

The codec queries (PNG/WAV/JPEG/GIF decode, audio voice-activity
detection and resampling, perceptual-hash near-dup) fan their per-row
decode out over the cluster through :func:`_doc_ids_fanned_out`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm import datasets, dedup, multimodal, similarity
from ..llm.datasets import priority_key_sql
from ..llm.text import (
    BPE_CLOSE,
    BPE_OPEN,
    BPE_TOKEN_COUNT_SQL,
    NORMALIZE_SQL,
    bigram_lm_scores,
    bm25_scores,
    bpe_merge_rounds,
    dup_ngram_fraction,
    bm25_sql,
    bpe_token_count,
    inverted_index as text_index,
    lang_score,
    lang_score_sql,
    min_shingle_fingerprint,
    normalize_text,
    predicted_lang,
    predicted_lang_sql,
    quality_score,
    quality_score_sql,
    shingles,
    shingles_sql,
    words,
)
from ..tables import SCRATCH, fanout_partitions, load, sf_tag, source_fingerprint
from .registry import query


#: (applicationId, sf_dir) → lazily-checkpointed exact-Jaccard pair graph.
#: The graph is a deterministic pure function of the corpus and feeds
#: three registered queries (clusters, simhash audit, canonical
#: selection); checkpointing the id-pairs (KBs — ids + jaccard, never
#: bodies) computes the ppjoin candidate join once per (session, sf)
#: instead of once per query. Keyed by applicationId so a driver-owned
#: session never sees a frame from a dead context.
_PAIR_GRAPH_CACHE: dict = {}


def _jaccard_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PAIR_GRAPH_CACHE:
        _PAIR_GRAPH_CACHE[key] = _materialized(
            spark,
            sf_dir,
            "jaccard_pairs",
            lambda: dedup.prefix_filter_pairs(_docs(spark, sf_dir)),
            code_fns=(dedup, words, shingles),
        )
    return _PAIR_GRAPH_CACHE[key]


def _materialized(spark, sf_dir, kind, build, code_fns) -> DataFrame:
    """Build-once-read-many scratch materialization (the IVF/MinHash
    index pattern, VERDICT r4 item 5): the frame is a deterministic
    pure function of the corpus + builder code, so it is persisted
    under a (data fingerprint, code fingerprint) key and every later
    consumer — in this session or the next — reads KB-scale parquet
    instead of re-running the candidate join / CC fixpoint.  At 100 TB
    this IS the production shape: a curation pipeline materializes the
    pair graph and cluster map once per corpus snapshot and serves all
    downstream queries (clusters, canonical selection, audits) from
    the artifact."""
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "documents.parquet")
    code_fp = _code_fingerprint(*code_fns)
    path = SCRATCH / f"{kind}_{tag}_{fp}_{code_fp}"
    if not (path / "_SUCCESS").exists():
        # Trailing "_" keeps prefix-overlapping tags apart (sf1 vs sf10).
        _prune_stale_indexes(SCRATCH, f"{kind}_{tag}_", keep=str(path))
        # KB-scale frames: a handful of files beats one per shuffle task.
        build().coalesce(8).write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def _code_fingerprint(*fns) -> str:
    """Source-hash of the functions OR MODULES whose semantics define a
    persisted index layout.  Any edit to them changes the digest, so a
    scratch index built by OLDER code can never be silently reused (the
    data fingerprint alone cannot see code changes — review finding r5).
    Callers pass whole modules (e.g. ``llm.dedup``) rather than
    individual functions so transitively-called helpers are covered too
    (review finding r6: fingerprinting only ``prefix_filter_pairs``
    missed an edit to ``verify_jaccard`` it delegates to)."""
    import hashlib
    import inspect

    h = hashlib.sha1()
    for fn in fns:
        h.update(inspect.getsource(fn).encode())
    return h.hexdigest()[:8]


def _prune_stale_indexes(scratch, prefix: str, keep: str) -> None:
    """Delete sibling index layouts under ``scratch`` that share
    ``prefix`` but are not ``keep`` — each is a full data-sized copy
    (orphaned by a testdata regeneration or a builder-code change), so
    without pruning scratch grows by O(corpus) per round."""
    import pathlib
    import shutil

    keep_name = pathlib.Path(keep).name
    for p in pathlib.Path(scratch).glob(prefix + "*"):
        if p.is_dir() and p.name != keep_name:
            shutil.rmtree(p, ignore_errors=True)


#: Same contract for the cluster-label frame (the CC fixpoint over the
#: pair graph) — shared by llm_dedup_clusters and
#: llm_canonical_selection, ids-only/tiny by construction, and since
#: round 6 persisted to scratch via _materialized (the fixpoint runs
#: once per corpus snapshot; every later consumer reads the artifact).
_CLUSTERS_CACHE: dict = {}


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CLUSTERS_CACHE:
        _CLUSTERS_CACHE[key] = _materialized(
            spark,
            sf_dir,
            "dedup_clusters",
            lambda: dedup.dedup_clusters(
                _docs(spark, sf_dir), _jaccard_pair_graph(spark, sf_dir), "doc_id"
            ),
            code_fns=(dedup, words, shingles),
        )
    return _CLUSTERS_CACHE[key]


#: Shared doc preparation: lowercase word tokens + distinct 3-shingles.
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .withColumn("toks", words("text"))
        .withColumn("sh", shingles("toks", 3))
    )


def _doc_ids_fanned_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document ids spread over the cluster's cores for a codec stage.

    The codec stage is pure per-row CPU; the single-file testdata scan
    would otherwise run it on ONE task (measured 2.9s single-task vs
    0.6s spread) — at 100 TB the repartition is how a decode stage
    rides every executor core."""
    return load(spark, sf_dir, "documents").select("doc_id").repartition(fanout_partitions(spark))


#: Matching DuckDB CTE.
_DOCS_SQL = f"""
    WITH t AS (
        SELECT doc_id, lang, source, text, n_chars,
               string_split(lower(text), ' ') AS w
        FROM documents
    ), s AS (
        SELECT *, {shingles_sql('w', 3)} AS sh FROM t
    )
"""

_PAIRS_ORACLE = f"""
    {_DOCS_SQL}
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.8
    ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "llm_exact_dedup",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20
    )
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM all_docs
    GROUP BY text
    ORDER BY doc_id
    """,
    tags=("llm", "dedup-exact"),
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a content hash. The corpus has no exact dups, so
    20 clones are planted deterministically (doc_id+1e6); the dedup
    must keep the original (min id) and count group sizes. The shuffle
    key is the sha256 digest — 64 bytes/row moves, not document bodies.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    kept = dedup.exact_dedup(d.unionAll(planted), "text", "doc_id")
    return kept.select("doc_id", "dup_count").orderBy("doc_id")


@query(
    "llm_minhash_near_dup",
    oracle=_PAIRS_ORACLE,
    tags=("llm", "dedup-minhash-lsh"),
    # Oracle is O(n²) brute force (all-pairs Jaccard): measured 18+ min
    # in DuckDB over the 5k-doc sf0.1 corpus vs seconds at sf0.01.
    max_verify_sf=0.01,
)
def llm_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)-LSH(16×4) banded candidates → exact-Jaccard verify
    ≥0.8 over 3-word shingles. The oracle brute-forces all pairs; LSH
    collision probability at J=0.8 is 1-(1-0.8⁴)^16 ≈ 0.9997 and ≈1 at
    the J≈1 planted dups, so the verified output matches the oracle on
    this (deterministic) corpus while doing no all-pairs work."""
    return dedup.minhash_near_dup_pairs(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


@query(
    "llm_ngram_jaccard_pairs",
    oracle=_PAIRS_ORACLE,
    tags=("llm", "dedup-ngram"),
    # Same O(n²) brute-force oracle as llm_minhash_near_dup.
    max_verify_sf=0.01,
)
def llm_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard self-join ≥0.8 via prefix filtering (ppjoin
    principle): index only each doc's smallest (1-t)·|S|+1 shingles
    under the md5 global order — no false negatives, no cross join.
    Same oracle as the MinHash entry, but this path is exact by
    construction at any scale (no sketch probability involved)."""
    return _jaccard_pair_graph(spark, sf_dir).orderBy("id_a", "id_b")


@query(
    "llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), s AS (
        SELECT doc_id, {shingles_sql('w', 3)} AS sh FROM t
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.8
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), r(node, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM r JOIN edges e ON e.src = r.node
    ), cc AS (
        SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node
    ), labeled AS (
        SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_kept
    FROM labeled
    ORDER BY doc_id
    """,
    tags=("llm", "dedup-clusters"),
    # Oracle: O(n²) all-pairs + recursive-CTE fixpoint — sf0.01 only.
    max_verify_sf=0.01,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    exact Jaccard≥0.8 pair graph (hash-min label propagation,
    :func:`..llm.dedup.connected_components`), one kept representative
    per cluster (min id). This is the operator a dedup pipeline
    actually ends with — pairs are evidence, the cluster partition is
    the decision. The oracle recomputes the same fixpoint with a
    recursive CTE (min reachable id). Graph state is ids only; the
    iterative rounds shuffle (node, label) pairs, never documents."""
    return _cluster_labels(spark, sf_dir).orderBy("doc_id")


@query(
    "llm_simhash_near_dup",
    oracle=f"""
    {_DOCS_SQL}
    SELECT COUNT(*) AS n_true_pairs,
           CAST(SUM(CASE WHEN jaccard >= 0.995 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exactish,
           TRUE AS locality_ok,
           TRUE AS banded_coverage_ok,
           TRUE AS exact_dups_tight_ok
    FROM (
        SELECT ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.8
    """,
    tags=("llm", "dedup-simhash"),
    # Oracle: O(n²) all-pairs Jaccard ground truth — sf0.01 only.
    max_verify_sf=0.01,
)
def llm_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dup bands audited against exact Jaccard
    ground truth in one query. The signature bits are xxhash64-based
    (engine-specific), so the hashable output is the deterministic
    truth (count of exact Jaccard≥0.8 pairs, count of exact-ish
    J≥0.995 pairs) plus SimHash's locality contracts evaluated
    in-query:

    - ``locality_ok``: median Hamming distance of banded true pairs
      ≤ 10 (independent 64-bit signatures would center on 32);
    - ``banded_coverage_ok``: ≥50% of true pairs collide in at least
      one of the 4×16-bit bands;
    - ``exact_dups_tight_ok``: every J≥0.995 pair sits at Hamming ≤ 3
      (identical token sets hash identically — a guarantee, not a
      probability).

    The oracle recomputes the truth counts and returns TRUE for the
    contracts, so a broken signature or banding flips a boolean and
    fails the hash. Candidate generation stays banded (never
    all-pairs); the exact-pair side reuses the ppjoin prefix filter."""
    docs = _docs(spark, sf_dir)
    pairs = _jaccard_pair_graph(spark, sf_dir)
    d = dedup.simhash_signatures(docs)
    cand = dedup.simhash_near_dup_pairs(d, max_hamming=64).select(
        "id_a", "id_b", "hamming"
    )
    joined = pairs.join(cand, ["id_a", "id_b"], "left")
    exactish_loose = (F.col("jaccard") >= 0.995) & ~F.coalesce(
        F.col("hamming") <= 3, F.lit(False)
    )
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.sum((F.col("jaccard") >= 0.995).cast("long")).alias("n_exactish"),
        (F.median("hamming") <= 10).alias("locality_ok"),
        (
            F.avg(F.col("hamming").isNotNull().cast("double")) >= 0.5
        ).alias("banded_coverage_ok"),
        (F.sum(exactish_loose.cast("long")) == 0).alias("exact_dups_tight_ok"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "llm_text_stats",
    oracle=f"""
    {_DOCS_SQL}
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM({BPE_TOKEN_COUNT_SQL.format(col='text')}) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(w)), 6) AS avg_words,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(AVG(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                     / NULLIF(n_chars::DOUBLE, 0.0)), 6) AS avg_alpha_ratio
    FROM s
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text-stats"),
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics: BPE-ish token totals (regex
    tokenizer), word/char averages, alpha density. All built-in string
    expressions — scales as a single narrow scan + tiny aggregate."""
    d = _docs(spark, sf_dir)
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast(
        "double"
    ) / F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(bpe_token_count("text")).cast("long").alias("total_tokens"),
            F.round(F.avg(F.size("toks")), 6).alias("avg_words"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.avg(alpha_ratio), 6).alias("avg_alpha_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "llm_lang_id",
    oracle=f"""
    {_DOCS_SQL}
    SELECT lang, {predicted_lang_sql('w')} AS predicted_lang,
           COUNT(*) AS docs,
           CAST(SUM({lang_score_sql('w', 'en')}) AS BIGINT) AS en_stopword_hits
    FROM s
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("llm", "lang-id"),
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-occurrence argmax with fixed
    en>de>es>fr precedence) cross-tabulated against the metadata lang —
    a confusion matrix as a query."""
    d = _docs(spark, sf_dir)
    return (
        d.select(
            "lang",
            predicted_lang("toks").alias("predicted_lang"),
            lang_score("toks", "en").alias("_en_hits"),
        )
        .groupBy("lang", "predicted_lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("_en_hits").cast("long").alias("en_stopword_hits"),
        )
        .orderBy("lang", "predicted_lang")
    )


@query(
    "llm_quality_scores",
    oracle=f"""
    {_DOCS_SQL}
    SELECT bucket, COUNT(*) AS docs, ROUND(AVG(score), 6) AS avg_score
    FROM (
        SELECT CASE WHEN q >= 0.75 THEN 'high'
                    WHEN q >= 0.5 THEN 'medium'
                    ELSE 'low' END AS bucket,
               q AS score
        FROM (SELECT {quality_score_sql('text', 'w')} AS q FROM s)
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("llm", "quality"),
)
def llm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / stopword-presence / alpha
    density) bucketed into high/medium/low — the filter stage of a
    training-data pipeline as an auditable aggregate."""
    d = _docs(spark, sf_dir).withColumn("score", quality_score("text", "toks"))
    bucket = (
        F.when(F.col("score") >= 0.75, "high")
        .when(F.col("score") >= 0.5, "medium")
        .otherwise("low")
    )
    return (
        d.select(bucket.alias("bucket"), "score")
        .groupBy("bucket")
        .agg(F.count("*").alias("docs"), F.round(F.avg("score"), 6).alias("avg_score"))
        .orderBy("bucket")
    )


@query(
    "llm_fingerprint",
    oracle=f"""
    {_DOCS_SQL}
    SELECT doc_id,
           list_min(list_transform(sh, x -> md5(x))) AS fingerprint,
           md5(text) AS exact_fp
    FROM s
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
    tags=("llm", "fingerprint"),
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the raw text (exact identity) and
    the lexicographic-min md5 shingle (a 1-perm MinHash — equal
    fingerprints block together near-identical docs). Portable hashes,
    verified bit-for-bit against DuckDB."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        min_shingle_fingerprint("sh").alias("fingerprint"),
        F.md5("text").alias("exact_fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_QUERY_IDS = [0, 1, 2, 3, 4]
_DIMS = 64


def _cosine_topk_oracle() -> str:
    cos = similarity.cosine_sql("q.qe", "e.embedding", _DIMS)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND({cos}, 6) AS cos_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn
        FROM scored
    ) WHERE rn <= 10
    ORDER BY query_id, cos_sim DESC, neighbor_id
    """


@query("llm_cosine_topk", oracle=_cosine_topk_oracle(), tags=("llm", "similarity-brute"))
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors: broadcast each 1-row
    query, fold the dot product in doubles left-to-right (bit-identical
    to the oracle's fixed-order sum), TakeOrderedAndProject per query —
    the brute-force ANN baseline with no all-pairs and no fat shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _QUERY_IDS, k=10).orderBy(
        "query_id", F.desc("cos_sim"), "neighbor_id"
    )


@query(
    "llm_cosine_topk_batch",
    oracle=_cosine_topk_oracle(),
    tags=("llm", "similarity-brute", "batch"),
)
def llm_cosine_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10, hundreds-of-queries path: ONE corpus scan
    (broadcast all query vectors), bounded-state partial top-k per
    (query, hash bucket), window merge over B·k rows per query — never
    over N. Same fold-based double dot product as the per-query path,
    so the result (and oracle) are identical; what changes is the plan:
    Q plan branches × Q vector scans collapse to one scan plus a
    small-row shuffle. See similarity.brute_force_topk_batch."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_batch(
        emb, _QUERY_IDS, k=10, dims=_DIMS
    ).orderBy("query_id", F.desc("cos_sim"), "neighbor_id")


@query(
    "llm_ann_lsh_topk",
    oracle="""
    SELECT CAST(v AS BIGINT) AS query_id,
           CAST(10 AS BIGINT) AS k_exact,
           TRUE AS recall_ok
    FROM (VALUES (0), (1), (2), (3), (4)) t(v)
    ORDER BY query_id
    """,
    tags=("llm", "similarity-ann"),
)
def llm_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH with MULTI-PROBE
    (auto-scaled bits from planner stats; all-single-bit-flip probes on
    the query side cut the corpus-side table count to ~1/3 of the old
    single-probe law — see similarity.ann_lsh_topk) + exact cosine
    re-rank of bucket candidates, audited per query against the exact
    brute-force top-10 in the same job.

    Bucket membership is seed/engine-specific, so the hashable output
    is per-query deterministic facts (query id, exact-neighbor count)
    plus ``recall_ok`` — ANN recall@10 ≥ 0.7 evaluated in-query
    (measured 0.8–1.0 per query on this corpus); the oracle returns
    TRUE, so a recall regression fails the hash. The audit join is
    top-k rows only (50 rows), not data-scale."""
    emb = load(spark, sf_dir, "embeddings")
    # Batch plan (one corpus scan for all 5 queries, bit-identical
    # result — see brute_force_topk_batch); checkpointed because the
    # 50-row exact set feeds both the recall numerator and the
    # denominator, and would otherwise rescore the corpus twice.
    exact = (
        similarity.brute_force_topk_batch(emb, _QUERY_IDS, k=10, dims=_DIMS)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    ann = similarity.ann_lsh_topk(emb, _QUERY_IDS, k=10).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k_exact"))
        .join(hits, "query_id", "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "k_exact",
            (
                F.coalesce(F.col("hits"), F.lit(0))
                >= F.ceil(0.7 * F.col("k_exact"))
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@query(
    "llm_ivf_topk",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_queries,
           CAST(50 AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    """,
    tags=("llm", "similarity-ivf"),
)
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: coarse cells from the corpus's label
    clustering, distributed per-dimension centroid means, queries
    probe their 3 nearest cells only (~3/10 of the corpus scanned per
    query), audited against exact brute force in the same job.

    Probe results depend on centroid geometry, so the hashable output
    is the deterministic audit frame (query count, exact-neighbor
    count) plus ``recall_ok`` — overall recall ≥ 0.3, the structural
    floor of a 3-of-10-cell probe on this weakly-clustered corpus
    (measured 0.46); the oracle returns TRUE."""
    emb = load(spark, sf_dir, "embeddings")
    # One-scan batch plan + lineage cut: the exact set feeds both the
    # recall numerator and the totals aggregate (see llm_ann_lsh_topk).
    exact = (
        similarity.brute_force_topk_batch(emb, _QUERY_IDS, k=10, dims=_DIMS)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    ivf = similarity.ivf_topk(
        emb, _QUERY_IDS, k=10, nprobe=3, cluster_col="label"
    ).select("query_id", "neighbor_id")
    hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count("*").alias("hits")
    )
    totals = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
    )
    return totals.crossJoin(hits).select(
        "n_queries",
        "n_exact",
        (F.col("hits") / F.col("n_exact") >= 0.3).alias("recall_ok"),
    )


#: Audit slice for the near-dup truth check: bounded by construction so
#: the O(slice²) exact side stays flat as the corpus grows.
_NEAR_DUP_AUDIT_IDS = 500


def _embedding_near_dup_oracle() -> str:
    cos = similarity.cosine_sql("a.embedding", "b.embedding", _DIMS)
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({cos}, 6) AS cos_sim,
           TRUE AS lsh_recall_ok
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < {_NEAR_DUP_AUDIT_IDS} AND b.vec_id < {_NEAR_DUP_AUDIT_IDS}
      AND {cos} >= 0.4
    ORDER BY id_a, id_b
    """


@query(
    "llm_embedding_near_dup",
    oracle=_embedding_near_dup_oracle(),
    tags=("llm", "dedup-embedding"),
)
def llm_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥0.4 via LSH bucket self-join +
    exact verify (the all-pairs-free scale path), audited on a bounded
    slice against brute-force ground truth in the same job.

    The hashable output is the TRUE pair set on the audit slice
    (vec_id < 500; left-to-right double fold, bit-matched to the
    oracle — same association as llm_cosine_topk) plus
    ``lsh_recall_ok`` — the LSH path recovers ≥70% of true pairs
    (measured 0.92). The audit side is O(slice²) by construction and
    never grows with the corpus; the production LSH path remains
    banded/bucketed."""
    emb = load(spark, sf_dir, "embeddings")
    audit = emb.filter(F.col("vec_id") < _NEAR_DUP_AUDIT_IDS)
    # Norms hoisted out of the O(slice²) pair loop: one fold per ROW on
    # each side, one dot fold per pair — same bits as cosine() (identical
    # per-vector folds, oracle's norm-product order preserved).
    a = audit.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_ea"),
        similarity.norm("embedding").alias("_na"),
    )
    b = audit.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_eb"),
        similarity.norm("embedding").alias("_nb"),
    )
    pair_cos = similarity.dot("_ea", "_eb") / (F.col("_na") * F.col("_nb"))
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= 0.4)
        .select(
            "id_a",
            "id_b",
            F.round(pair_cos, 6).alias("cos_sim"),
        )
        # truth feeds THREE consumers (recall numerator, denominator,
        # and the output pair set); without a lineage cut each one
        # recomputes the O(slice²) fold-based cosine join — measured
        # 3× the whole query's cost at sf0.1. The checkpoint holds a
        # few hundred 3-column rows.
        .localCheckpoint()
    )
    # n is passed explicitly: planner statistics on the FILTERED frame
    # report the whole file's size (no CBO selectivity), which at sf0.1
    # overestimated the slice 10x -> too many hyperplane bits -> recall
    # collapse. The slice size is known by construction.
    lsh = similarity.embedding_near_dup_pairs(
        audit, threshold=0.4, n=_NEAR_DUP_AUDIT_IDS
    ).select("id_a", "id_b")
    found = truth.join(lsh, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("hits")
    )
    total = truth.agg(F.count("*").alias("tot"))
    flag = found.crossJoin(total).select(
        (F.col("hits") / F.col("tot") >= 0.7).alias("lsh_recall_ok")
    )
    return truth.crossJoin(F.broadcast(flag)).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@query(
    "llm_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(octet_length(encode(text)) // 1000 + 1 AS INT) AS n_frames,
           'fake/raw' AS format
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end to end: synthesize an opaque payload,
    decode/feature-extract with Arrow-batched mapInPandas (decode body
    is a deterministic stub — no codecs in this container), return the
    portable feature columns. The oracle recomputes them from text, so
    the pandas-UDF path itself is hash-verified."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    feats = multimodal.extract_features(multimodal.with_binary_payload(d))
    return feats.select("doc_id", "byte_len", "n_frames", "format").orderBy("doc_id")


@query(
    "llm_png_decode_stats",
    oracle="""
    SELECT d.doc_id,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(256 AS INT) AS n_pixels,
           CAST(SUM((d.doc_id * 7919 + r.i * 31) % 256) AS BIGINT) AS pix_sum,
           CAST(MIN((d.doc_id * 7919 + r.i * 31) % 256) AS INT) AS pix_min,
           CAST(MAX((d.doc_id * 7919 + r.i * 31) % 256) AS INT) AS pix_max,
           TRUE AS roundtrip_ok
    FROM documents d, range(0, 256) r(i)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    tags=("llm", "multimodal", "codec", "extension"),
)
def llm_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec roundtrip inside the pipeline (round 6): each
    doc renders a deterministic 16×16 grayscale pattern
    (pixel_i = (doc_id·7919 + i·31) mod 256), encodes it to an actual
    PNG (pure-stdlib codec, ``llm/png.py`` — zlib DEFLATE, row filters
    cycling through all five types, CRC'd chunks), then DECODES the
    bytes back (independent inflate + unfilter implementation) and
    reports pixel statistics from the DECODED buffer plus an exact
    roundtrip-equality flag.  The oracle computes the same statistics
    from the pattern definition alone — it never sees a PNG — so a
    hash match proves the full encode→compress→filter→decode path is
    lossless, not merely self-consistent.  Audio/video formats remain
    stubbed (no codec libs in this sandbox); PNG is the genuine-codec
    path VERDICT r5 item 7 asked for.

    Scale: one Arrow-batched mapInPandas over doc ids — codec work is
    per-row CPU with zero shuffle; at 100 TB this is exactly the
    decode-stage shape (binary column pruned to the codec stage,
    partition-parallel, nothing driver-side)."""
    import pandas as _pd

    from ..llm import png as _png

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                pixels = bytes((did * 7919 + i * 31) % 256 for i in range(256))
                blob = _png.encode_png(pixels, 16, 16, color_type=0)
                w, h, ch, decoded = _png.decode_png(blob)
                rows.append(
                    (
                        did,
                        w,
                        h,
                        w * h * ch,
                        sum(decoded),
                        min(decoded),
                        max(decoded),
                        decoded == pixels,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_pixels",
                    "pix_sum",
                    "pix_min",
                    "pix_max",
                    "roundtrip_ok",
                ],
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, n_pixels int,"
            " pix_sum long, pix_min int, pix_max int, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")


@query(
    "llm_wav_decode_stats",
    oracle="""
    SELECT d.doc_id,
           CAST(441 AS INT) AS n_samples,
           CAST(44100 AS INT) AS sample_rate,
           CAST(SUM(ABS((d.doc_id * 37 + r.i * 11) % 4096 - 2048)) AS BIGINT)
               AS sum_abs,
           CAST(MAX(ABS((d.doc_id * 37 + r.i * 11) % 4096 - 2048)) AS INT)
               AS peak,
           TRUE AS roundtrip_ok
    FROM documents d, range(0, 441) r(i)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    tags=("llm", "multimodal", "codec", "extension"),
)
def llm_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec roundtrip (round 6, the PNG pattern applied to
    sound): each doc synthesizes a deterministic 10 ms 16-bit PCM
    waveform (sample_i = (doc_id·37 + i·11) mod 4096 − 2048, 441
    samples at 44.1 kHz), encodes it to an actual RIFF/WAVE file via
    the STDLIB ``wave`` writer, then decodes the bytes back with the
    engine's independent struct-level RIFF parser
    (:mod:`..llm.wav_audio`) and reports sample statistics from the
    DECODED stream plus exact roundtrip equality.  The oracle computes
    the same statistics from the waveform definition alone — it never
    sees a WAV container — so the hash match proves the container
    write→parse→unpack path is lossless.  Encoder (CPython stdlib) and
    decoder (ours) share no code: equality evidences RIFF conformance,
    not mutual consistency.

    Scale: identical shape to llm_png_decode_stats — per-row codec CPU
    under one Arrow-batched mapInPandas, zero shuffle, nothing
    driver-side."""
    import pandas as _pd

    from ..llm import wav_audio as _wav

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                samples = [
                    (did * 37 + i * 11) % 4096 - 2048 for i in range(441)
                ]
                blob = _wav.encode_wav(samples, sample_rate=44100, channels=1)
                rate, channels, decoded = _wav.decode_wav(blob)
                rows.append(
                    (
                        did,
                        len(decoded) // channels,
                        rate,
                        sum(abs(s) for s in decoded),
                        max(abs(s) for s in decoded),
                        decoded == samples,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_samples",
                    "sample_rate",
                    "sum_abs",
                    "peak",
                    "roundtrip_ok",
                ],
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, n_samples int, sample_rate int,"
            " sum_abs long, peak int, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")


@query(
    "llm_jpeg_decode_stats",
    oracle="""
    WITH blocks AS (
        SELECT d.doc_id,
               (d.doc_id * 31 + r.b * 67) % 256 AS v,
               LEAST(255, GREATEST(0,
                   128 + CAST(ROUND(ROUND(8 * ((d.doc_id * 31 + r.b * 67) % 256
                                              - 128) / 16.0) * 16 / 8.0) AS INT)
               )) AS dec
        FROM documents d, range(0, 4) r(b)
    )
    SELECT doc_id,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(SUM(dec) * 64 AS BIGINT) AS pix_sum,
           CAST(MIN(dec) AS INT) AS pix_min,
           CAST(MAX(dec) AS INT) AS pix_max,
           CAST(MAX(ABS(dec - v)) AS INT) AS max_abs_err,
           TRUE AS blocks_flat
    FROM blocks GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "codec", "extension"),
)
def llm_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-DCT JPEG roundtrip inside the pipeline (round 7 —
    the crawl-dominant image format, VERDICT r6 item 6): each doc
    renders a 16×16 grayscale image of four FLAT 8×8 blocks
    (block value = (doc_id·31 + b·67) mod 256), encodes it to an
    actual JFIF stream (``llm/jpeg.py`` — FDCT, Annex-K quantization
    + Huffman tables, zigzag RLE, byte stuffing), then DECODES the
    bytes back with the independent decoder (marker parse, Huffman
    decode, dequant, IDCT) and reports statistics over the DECODED
    pixels.

    Baseline JPEG is lossy, so instead of PNG's exact-roundtrip flag
    the oracle exploits a closed form: a flat block keeps ONLY the DC
    coefficient (every AC basis sums to zero), so the reconstruction
    is exactly ``clamp(128 + round(round(8(v−128)/q00)·q00/8))`` with
    q00 = 16 (Annex K.1) — computable in pure SQL with no codec.  A
    hash match therefore proves the whole DCT→quant→Huffman→decode
    chain lands on the mathematically-required value for every block,
    and ``blocks_flat`` pins that each decoded block is uniform (AC
    leakage would break it).  ``max_abs_err`` doubles as a measured
    quantization-loss audit (≤ q00/8 = 2 by construction).

    Scale: identical shape to llm_png_decode_stats — per-row codec
    CPU under one Arrow-batched mapInPandas, zero shuffle."""
    import pandas as _pd

    from ..llm import jpeg as _jpeg

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                vals = [(did * 31 + b * 67) % 256 for b in range(4)]
                px = bytearray(256)
                for b, (bx, by) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
                    for y in range(8):
                        row = (by * 8 + y) * 16 + bx * 8
                        px[row : row + 8] = bytes([vals[b]]) * 8
                blob = _jpeg.encode_jpeg(bytes(px), 16, 16)
                w, h, dec = _jpeg.decode_jpeg(blob)
                flat = True
                err = 0
                for b, (bx, by) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
                    got = {
                        dec[(by * 8 + y) * 16 + bx * 8 + x]
                        for y in range(8)
                        for x in range(8)
                    }
                    flat = flat and len(got) == 1
                    err = max(err, max(abs(g - vals[b]) for g in got))
                rows.append(
                    (did, w, h, sum(dec), min(dec), max(dec), err, flat)
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "pix_sum",
                    "pix_min",
                    "pix_max",
                    "max_abs_err",
                    "blocks_flat",
                ],
            )

    d = _doc_ids_fanned_out(spark, sf_dir)
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, pix_sum long,"
            " pix_min int, pix_max int, max_abs_err int, blocks_flat boolean"
        ),
    ).orderBy("doc_id")


@query(
    "llm_gif_decode_stats",
    oracle="""
    SELECT d.doc_id,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(SUM((d.doc_id * 13 + r.i * 7) % 256) AS BIGINT) AS pix_sum,
           CAST(MIN((d.doc_id * 13 + r.i * 7) % 256) AS INT) AS pix_min,
           CAST(MAX((d.doc_id * 13 + r.i * 7) % 256) AS INT) AS pix_max,
           TRUE AS roundtrip_ok
    FROM documents d, range(0, 256) r(i)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    tags=("llm", "multimodal", "codec", "extension"),
)
def llm_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF87a/LZW codec roundtrip (round 7 — the third
    independent compression class after PNG's DEFLATE and JPEG's
    DCT+Huffman): each doc renders a deterministic 16×16 grayscale
    pattern (pixel_i = (doc_id·13 + i·7) mod 256), encodes it to an
    actual GIF87a stream (``llm/gif.py`` — grayscale global color
    table, variable-width 9→12-bit LSB-first LZW with CLEAR/EOI and
    4096-entry dictionary reset, 255-byte sub-blocks), DECODES it back
    with the independent LZW decoder (including the KwKwK case), and
    reports pixel statistics plus exact roundtrip equality.  GIF is
    lossless, so like PNG the oracle computes the statistics from the
    pattern definition alone — a hash match proves the whole
    LZW encode→pack→frame→decode chain is identity.

    Scale: per-row codec CPU under one Arrow-batched mapInPandas over
    a repartitioned doc-id scan, zero shuffle."""
    import pandas as _pd

    from ..llm import gif as _gif

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                pixels = bytes((did * 13 + i * 7) % 256 for i in range(256))
                blob = _gif.encode_gif(pixels, 16, 16)
                w, h, decoded = _gif.decode_gif(blob)
                rows.append(
                    (
                        did,
                        w,
                        h,
                        sum(decoded),
                        min(decoded),
                        max(decoded),
                        decoded == pixels,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "pix_sum",
                    "pix_min",
                    "pix_max",
                    "roundtrip_ok",
                ],
            )

    d = _doc_ids_fanned_out(spark, sf_dir)
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int,"
            " pix_sum long, pix_min int, pix_max int, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")


@query(
    "llm_gif_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(f.i AS INT) AS frame_idx,
           CAST(SUM((d.doc_id * 13 + f.i * 31 + r.i * 7) % 256) AS BIGINT)
               AS pix_sum,
           CAST(MIN((d.doc_id * 13 + f.i * 31 + r.i * 7) % 256) AS INT)
               AS pix_min,
           CAST(MAX((d.doc_id * 13 + f.i * 31 + r.i * 7) % 256) AS INT)
               AS pix_max,
           TRUE AS frame_ok
    FROM documents d
    CROSS JOIN range(0, 4) f(i)
    CROSS JOIN range(0, 256) r(i)
    WHERE f.i < d.doc_id % 3 + 2
    GROUP BY d.doc_id, f.i
    ORDER BY d.doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "codec", "frame-sampling", "extension"),
)
def llm_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame extraction through the real codec (round-8
    verdict item 3 — closes the last synthetic multimodal path): each
    doc renders 2–4 deterministic 16×16 frames (frame f pixel i =
    (doc_id·13 + f·31 + i·7) mod 256), encodes them as ONE GIF87a
    stream with multiple image blocks (``llm/gif.py::
    encode_gif_frames``), then runs the production frame sampler
    (:func:`...llm.multimodal.sample_frames`) whose GIF path decodes
    EVERY image block with the independent LZW decoder and samples
    evenly.  Per-frame pixel statistics and exact pattern equality are
    pinned by a first-principles oracle that never sees the container
    format — a hash match proves multi-frame framing, per-frame LZW
    streams, and the sampler's ordinal/offset bookkeeping all
    compose.

    Scale: per-row codec CPU in two narrow-chained Arrow mapInPandas
    stages over a repartitioned doc-id scan, zero shuffle before the
    final presentation sort."""
    import pandas as _pd

    from ..llm import gif as _gif
    from ..llm import multimodal as _mm

    def make(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                n = did % 3 + 2
                frames = [
                    bytes((did * 13 + f * 31 + i * 7) % 256 for i in range(256))
                    for f in range(n)
                ]
                rows.append((did, _gif.encode_gif_frames(frames, 16, 16)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    def stats(batches):
        for pdf in batches:
            rows = []
            for doc_id, frame_idx, px in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame"]
            ):
                did, f = int(doc_id), int(frame_idx)
                dec = bytes(px)
                expect = bytes(
                    (did * 13 + f * 31 + i * 7) % 256 for i in range(256)
                )
                rows.append(
                    (did, f, sum(dec), min(dec), max(dec), dec == expect)
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "pix_sum",
                    "pix_min",
                    "pix_max",
                    "frame_ok",
                ],
            )

    d = _doc_ids_fanned_out(spark, sf_dir)
    payloads = d.mapInPandas(make, schema="doc_id long, payload binary")
    frames = _mm.sample_frames(payloads)
    return frames.mapInPandas(
        stats,
        schema=(
            "doc_id long, frame_idx int, pix_sum long,"
            " pix_min int, pix_max int, frame_ok boolean"
        ),
    ).orderBy("doc_id", "frame_idx")


@query(
    "llm_multimodal_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(g.i AS INT) AS frame_idx,
           CAST(g.i * 1000 AS BIGINT) AS frame_offset,
           CAST(LEAST(1000, d.len - g.i * 1000) AS BIGINT) AS frame_bytes
    FROM (SELECT doc_id, octet_length(encode(text)) AS len
          FROM documents WHERE doc_id < 50) d
    CROSS JOIN generate_series(0, 7) AS g(i)
    WHERE g.i < LEAST(8, d.len // 1000 + 1)
    ORDER BY doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "frame-sampling"),
)
def llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling as a 1→N mapInPandas fan-out: each binary payload
    emits one typed row per fixed-stride frame window (a video pipeline
    shape — ffmpeg keyframe seek stubbed with byte strides). Frame
    count/offset/size are deterministic from payload length, so the
    whole fan-out is hash-verified against SQL."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    frames = multimodal.sample_frames(multimodal.with_binary_payload(d))
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_offset",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
    ).orderBy("doc_id", "frame_idx")


@query(
    "llm_embedding_quantization",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), scaled AS (
        SELECT vec_id, label, v,
               MAX(ABS(v)) OVER (PARTITION BY vec_id) / 127.0 AS scale
        FROM ex
    ), quant AS (
        SELECT vec_id, label, v, scale,
               COALESCE(ROUND(v / NULLIF(scale, 0.0), 0), 0.0)::INT AS q
        FROM scaled
    )
    SELECT label,
           COUNT(DISTINCT vec_id) AS n_vecs,
           ROUND(AVG(scale), 6) AS avg_scale,
           ROUND(SQRT(AVG((v - q * scale) * (v - q * scale))), 6) AS rms_error,
           ROUND(MAX(ABS(v - q * scale)), 6) AS max_abs_error,
           CAST(SUM(ABS(q)) AS BIGINT) AS q_l1_checksum
    FROM quant
    GROUP BY label
    ORDER BY label
    """,
    tags=("llm", "quantization"),
)
def llm_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit over the whole embeddings
    table: per label, the average scale, RMS/max reconstruction error,
    and an L1 checksum of the quantized codes (hash-matching the
    checksum proves both engines picked IDENTICAL int8 codes for every
    component, not merely similar errors). One hash shuffle on the
    vector id (window max-abs reuses the same exchange); everything
    else is codegen arithmetic on exploded rows."""
    emb = load(spark, sf_dir, "embeddings")
    comps = similarity.quantization_components(emb, "embedding", "vec_id").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    return (
        comps.groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.sqrt(F.avg(F.col("err") * F.col("err"))), 6).alias("rms_error"),
            F.round(F.max(F.abs("err")), 6).alias("max_abs_error"),
            F.sum(F.abs("q")).cast("long").alias("q_l1_checksum"),
        )
        .orderBy("label")
    )


def _ivf_index_oracle() -> str:
    cosc = similarity.cosine_sql("q.qe", "cv.centroid", _DIMS)
    cose = similarity.cosine_sql("q.qe", "e.embedding", _DIMS)
    ids = ", ".join(map(str, _QUERY_IDS))
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id IN ({ids})
    ), cent AS (
        SELECT label AS cell, i - 1 AS dim,
               AVG(CAST(embedding[i] AS DOUBLE)) AS c
        FROM embeddings, range(1, {_DIMS + 1}) rr(i)
        GROUP BY label, i
    ), cv AS (
        SELECT cell, list(c ORDER BY dim) AS centroid FROM cent GROUP BY cell
    ), routed AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, cv.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cosc} DESC, cv.cell
                   ) AS rn
            FROM q, cv
        ) WHERE rn <= 3
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND({cose}, 6) AS cos_sim
        FROM q
        JOIN routed r ON r.query_id = q.query_id
        JOIN embeddings e ON e.label = r.cell AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn FROM scored
    ) WHERE rn <= 10
    ORDER BY query_id, cos_sim DESC, neighbor_id
    """


@query(
    "llm_ivf_index_topk",
    oracle=_ivf_index_oracle(),
    tags=("llm", "similarity-ivf", "index", "extension"),
)
def llm_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index PERSISTED as a cell-partitioned parquet layout, then
    served from disk: routing reads the tiny centroid table, the probed
    cells become a partition-pruned directory read (un-probed cells are
    never listed — tests assert the PartitionFilters), and scoring uses
    the exact double fold. Deterministic cell assignment (the label
    clustering) makes this ANN index fully oracle-checkable — the
    DuckDB side replays centroid build, routing, and in-cell scoring
    end to end."""
    import pathlib as _pl

    # Memoized build (ensure_zordered_events pattern): the INDEX is a
    # deterministic function of the embeddings source AND the builder
    # code, so the bench — and any real serving path — measures
    # routing + pruned scan, not a full corpus rewrite per query
    # batch.  The path fingerprint covers both: the data digest
    # invalidates on driver testdata regeneration, and the CODE digest
    # (source hash of the build/centroid functions) invalidates when a
    # later round changes index semantics — without it a stale layout
    # built under old code would silently serve wrong candidates.
    # Stale sibling layouts (older fingerprints) are pruned on build.
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "embeddings.parquet")
    code_fp = _code_fingerprint(similarity.ivf_write_index, similarity.cell_centroids)
    path = str(SCRATCH / f"ivf_index_{tag}_{fp}_{code_fp}")
    emb = load(spark, sf_dir, "embeddings")
    if not (_pl.Path(path) / "centroids" / "_SUCCESS").exists():
        # Trailing "_" keeps prefix-overlapping tags apart (sf1 vs sf10).
        _prune_stale_indexes(SCRATCH, f"ivf_index_{tag}_", keep=path)
        similarity.ivf_write_index(emb, path, cluster_col="label")
    queries = emb.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    return similarity.ivf_query_index(spark, path, queries, k=10, nprobe=3).orderBy(
        "query_id", F.desc("cos_sim"), "neighbor_id"
    )


@query(
    "llm_incremental_dedup",
    oracle=f"""
    {_DOCS_SQL}
    SELECT id_new, id_corpus, jaccard FROM (
        SELECT a.doc_id AS id_new, b.doc_id AS id_corpus,
               ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    ) WHERE jaccard >= 0.8
    ORDER BY id_new, id_corpus
    """,
    tags=("llm", "dedup-incremental", "index", "extension"),
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-crawl dedup shape: 80% of the corpus is INDEXED once
    (band keys + shingle sets persisted — ids and hashes, no bodies),
    then the 'new batch' (doc_id % 5 = 0) computes signatures only for
    itself and joins the stored band table for candidates + stored
    shingle sets for the exact verify. Work is proportional to the
    delta; the oracle brute-forces new × corpus, and LSH collision
    probability at J ≥ 0.8 (≈0.9997) makes the banded path match it on
    this corpus."""
    import pathlib as _pl

    # Same memoization as llm_ivf_index_topk: the corpus index is built
    # once per (source, builder-code) fingerprint; each invocation then
    # measures what the daily-crawl shape actually costs — signatures
    # for the NEW batch plus an index join, never a corpus re-index.
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "documents.parquet")
    code_fp = _code_fingerprint(dedup.write_minhash_index, dedup.minhash_band_rows)
    path = str(SCRATCH / f"minhash_index_{tag}_{fp}_{code_fp}")
    d = _docs(spark, sf_dir)
    if not (_pl.Path(path) / "shingles" / "_SUCCESS").exists():
        # Trailing "_" keeps prefix-overlapping tags apart (sf1 vs sf10).
        _prune_stale_indexes(SCRATCH, f"minhash_index_{tag}_", keep=path)
        dedup.write_minhash_index(d.filter(F.col("doc_id") % 5 != 0), path)
    return dedup.dedup_against_index(
        spark, d.filter(F.col("doc_id") % 5 == 0), path
    ).orderBy("id_new", "id_corpus")


@query(
    "llm_embedding_standardize",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) AS r(i)
    ), st AS (
        SELECT dim, AVG(v) AS mean_v, STDDEV_SAMP(v) AS sd_v
        FROM ex GROUP BY dim
    )
    SELECT label,
           COUNT(*) AS n_components,
           ROUND(SUM((v - mean_v) / sd_v), 6) AS sum_z,
           ROUND(SUM(((v - mean_v) / sd_v) * ((v - mean_v) / sd_v)), 6) AS sum_z2
    FROM ex JOIN st USING (dim)
    GROUP BY label
    ORDER BY label
    """,
    tags=("llm", "standardize"),
)
def llm_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-normalization of the embedding table
    (:func:`..llm.similarity.standardize_components`): global per-dim
    mean/stddev, broadcast back onto the exploded stream — the vectors
    themselves are NEVER shuffled, only 64 accumulator rows move, so
    the plan is a pure map-side pipeline at any corpus size. The
    audit aggregates Σz and Σz² per label: across all labels these
    must recover ≈(0, N), and per label they expose exactly the class
    structure the normalization preserves. Both engines compute the
    identical two-pass arithmetic; round6 absorbs summation-order
    noise."""
    emb = load(spark, sf_dir, "embeddings")
    comps = similarity.standardize_components(
        emb, "embedding", "vec_id", keep_cols=("label",)
    )
    return (
        comps.groupBy("label")
        .agg(
            F.count("*").alias("n_components"),
            F.round(F.sum("z"), 6).alias("sum_z"),
            F.round(F.sum(F.col("z") * F.col("z")), 6).alias("sum_z2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Inverted index + normalization (round 3)
# ---------------------------------------------------------------------------


@query(
    "llm_inverted_index",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ), postings AS (
        SELECT term, doc_id, COUNT(*) AS tf
        FROM tok
        WHERE term <> '' AND term LIKE 'p%'
        GROUP BY term, doc_id
    )
    SELECT term, doc_id, tf,
           CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
           CAST(SUM(tf) OVER (PARTITION BY term) AS BIGINT) AS cf
    FROM postings
    ORDER BY term, doc_id
    """,
    tags=("llm", "text-index", "extension"),
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists (term, doc, tf) with per-term df/cf via a window
    over the aggregated postings — two aligned shuffles, no stats-join
    round-trip (see text.inverted_index). The prefix predicate stands
    in for the stopword cut a production index applies: it sits on the
    window's partitioning key, so it prunes before either shuffle."""
    docs = _docs(spark, sf_dir)
    idx = text_index(docs, term_filter=F.col("term").startswith("p"))
    return idx.orderBy("term", "doc_id")


@query(
    "llm_pq_topk",
    oracle="""
    SELECT CAST(v AS BIGINT) AS query_id,
           CAST(10 AS BIGINT) AS k_exact,
           TRUE AS recall_ok
    FROM (VALUES (0), (1), (2)) t(v)
    ORDER BY query_id
    """,
    tags=("llm", "similarity-pq", "extension"),
)
def llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. — the FAISS
    billion-scale memory path): per-subspace Lloyd codebooks, 64-bit
    codes (32× memory cut vs raw floats), asymmetric-distance scoring
    over the COMPRESSED table, exact re-rank of the top-100 ADC
    survivors (:func:`..llm.similarity.pq_topk`).

    Codes are deterministic (seeded codebooks, argmin ties to the
    lowest centroid) but engine-specific in spirit, so the hashable
    output is the ANN-contract pattern: per-query deterministic facts
    plus ``recall_ok`` — PQ recall@10 vs the exact L2 top-10 ≥ 0.7,
    evaluated in-query (measured 0.8–0.9 per query at sf0.1). The
    audit join is top-k rows only."""
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    approx = similarity.pq_topk(emb, qids, k=10).select(
        "query_id", "neighbor_id"
    )
    # exact L2 top-10 ground truth (3 broadcast fold passes)
    qvec = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    d2 = F.expr(
        "aggregate(zip_with(embedding, _qv, (x, y) -> "
        "power(cast(x as double) - cast(y as double), 2)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )

    w = Window.partitionBy("query_id").orderBy("_d2", "neighbor_id")
    exact = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .crossJoin(F.broadcast(qvec))
        .select("query_id", "neighbor_id", d2.alias("_d2"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_exact"))
        .join(hits, "query_id", "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "k_exact",
            (
                F.coalesce(F.col("hits"), F.lit(0))
                >= F.ceil(0.7 * F.col("k_exact"))
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@query(
    "llm_token_entropy",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS t
        FROM documents
    ), cnt AS (
        SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t
    ), tot AS (
        SELECT source, SUM(c)::DOUBLE AS n FROM cnt GROUP BY source
    )
    SELECT cnt.source,
           CAST(tot.n AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           ROUND(-SUM((c / tot.n) * ln(c / tot.n)), 6) AS token_entropy
    FROM cnt JOIN tot USING (source)
    GROUP BY cnt.source, tot.n
    ORDER BY cnt.source
    """,
    tags=("llm", "corpus-stats", "diversity", "extension"),
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon token entropy — the lexical-diversity metric
    a dataset card reports (low entropy flags templated/boilerplate
    sources before they skew a training mix). Two partial-agg shuffles:
    (source, token) counts collapse map-side, per-source totals are a
    source-cardinality frame broadcast back, and the entropy sum runs
    over the vocabulary-sized count table — the corpus is scanned
    once and never reshuffled."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("t"),
    )
    cnt = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("token_entropy"),
        )
        .select(
            "source",
            F.col("n").cast("long").alias("n_tokens"),
            "n_distinct",
            "token_entropy",
        )
        .orderBy("source")
    )


@query(
    "llm_containment_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), s AS (
        SELECT doc_id, {shingles_sql('w', 3)} AS sh FROM t
    )
    SELECT id_a, id_b, containment FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(a.sh), 6) AS containment
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE len(a.sh) > 0
    ) WHERE containment >= 0.9
    ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup-containment", "extension"),
    # Brute-force directional all-pairs oracle — same O(n²) class as
    # llm_ngram_jaccard_pairs (measured 5.6s at sf0.01; quadratic
    # blowup at sf0.1).
    max_verify_sf=0.01,
)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment ≥ 0.9
    (:func:`..llm.dedup.containment_pairs`): doc-IN-doc detection —
    quoted copies and boilerplate-wrapped excerpts whose symmetric
    Jaccard stays low because the container is much longer. One-sided
    prefix filter (provably lossless, see the operator docstring), no
    all-pairs work; the oracle brute-forces the same directional
    predicate."""
    return dedup.containment_pairs(_docs(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


@query(
    "llm_importance_weights",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    tgt AS (SELECT w FROM d WHERE source = 'src0'),
    srcc AS (SELECT w FROM d WHERE source <> 'src0'),
    tuni AS (SELECT t AS w1, COUNT(*) AS c1 FROM (SELECT unnest(w) AS t FROM tgt) GROUP BY t),
    tbi AS (SELECT bg, COUNT(*) AS c12 FROM (
        SELECT unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg FROM tgt
    ) GROUP BY bg),
    tv AS (SELECT COUNT(*)::DOUBLE AS v FROM tuni),
    suni AS (SELECT t AS w1, COUNT(*) AS c1 FROM (SELECT unnest(w) AS t FROM srcc) GROUP BY t),
    sbi AS (SELECT bg, COUNT(*) AS c12 FROM (
        SELECT unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg FROM srcc
    ) GROUP BY bg),
    sv AS (SELECT COUNT(*)::DOUBLE AS v FROM suni),
    docbi AS (
        SELECT doc_id,
               unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
        FROM d WHERE len(w) >= 2
    ),
    scored AS (
        SELECT db.doc_id,
               ln((COALESCE(tb.c12, 0) + 1.0) /
                  (COALESCE(tu.c1, 0) + tv.v)) AS lpt,
               ln((COALESCE(sb.c12, 0) + 1.0) /
                  (COALESCE(su.c1, 0) + sv.v)) AS lps
        FROM docbi db
        LEFT JOIN tbi tb ON db.bg = tb.bg
        LEFT JOIN tuni tu ON string_split(db.bg, ' ')[1] = tu.w1
        LEFT JOIN sbi sb ON db.bg = sb.bg
        LEFT JOIN suni su ON string_split(db.bg, ' ')[1] = su.w1
        CROSS JOIN tv CROSS JOIN sv
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(ROUND(AVG(lpt), 6) - ROUND(AVG(lps), 6), 6) AS log_importance
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "data-selection", "lm", "extension"),
)
def llm_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al.,
    arXiv:2302.03169): per-document log importance = mean bigram
    log-prob under the TARGET LM (trained on the clean ``src0`` slice)
    minus the same under the SOURCE LM (the rest of the corpus) — the
    resampling weight that tilts a raw crawl toward a target
    distribution. Built by composing :func:`..llm.text.bigram_lm_scores`
    twice on the same token frame: both LMs are reference-sized; the
    document side explodes its bigrams once per LM and shares the scan.
    Selection itself is then a deterministic top-k by
    (log_importance, doc_id) — TakeOrderedAndProject, not done here so
    the full weight table stays inspectable."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    tgt = d.filter(F.col("source") == "src0")
    src = d.filter(F.col("source") != "src0")
    t = bigram_lm_scores(d, tgt).withColumnRenamed("avg_logp", "_lpt")
    s = bigram_lm_scores(d, src).select(
        "doc_id", F.col("avg_logp").alias("_lps")
    )
    return (
        t.join(s, "doc_id")
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("_lpt") - F.col("_lps"), 6).alias("log_importance"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_bpe_merges",
    # Delimiters are the U+001F/U+001E control pair (llm.text.BPE_OPEN/
    # BPE_CLOSE), embedded raw in the SQL literals below.
    oracle=rf"""
    WITH w AS (
        SELECT t AS word, COUNT(*) AS freq FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS t
            FROM documents
        ) GROUP BY t
    ), sym0 AS (
        SELECT regexp_replace(regexp_replace(word, '[{BPE_OPEN}{BPE_CLOSE}]', '', 'g'),
                              '(.)', '{BPE_OPEN}\1{BPE_CLOSE}', 'g') AS repr, freq FROM w
    ), pairs1 AS (
        SELECT p, SUM(freq) AS cnt FROM (
            SELECT unnest([s[i] || s[i+1] FOR i IN range(1, len(s))]) AS p, freq
            FROM (SELECT regexp_extract_all(repr, '{BPE_OPEN}[^{BPE_CLOSE}]+{BPE_CLOSE}') AS s, freq FROM sym0)
        ) GROUP BY p
    ), rule1 AS (
        SELECT p, cnt FROM pairs1 ORDER BY cnt DESC, p LIMIT 1
    ), sym1 AS (
        SELECT replace(s0.repr, r.p, replace(r.p, '{BPE_CLOSE}{BPE_OPEN}', '')) AS repr, s0.freq
        FROM sym0 s0 CROSS JOIN rule1 r
    ), pairs2 AS (
        SELECT p, SUM(freq) AS cnt FROM (
            SELECT unnest([s[i] || s[i+1] FOR i IN range(1, len(s))]) AS p, freq
            FROM (SELECT regexp_extract_all(repr, '{BPE_OPEN}[^{BPE_CLOSE}]+{BPE_CLOSE}') AS s, freq FROM sym1)
        ) GROUP BY p
    ), rule2 AS (
        SELECT p, cnt FROM pairs2 ORDER BY cnt DESC, p LIMIT 1
    )
    SELECT CAST(1 AS INT) AS round, p AS merged_pair,
           CAST(cnt AS BIGINT) AS cnt FROM rule1
    UNION ALL
    SELECT 2, p, CAST(cnt AS BIGINT) FROM rule2
    ORDER BY round
    """,
    tags=("llm", "tokenizer", "iterative", "extension"),
)
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO BPE merge rounds over the corpus vocabulary
    (:func:`..llm.text.bpe_merge_rounds`) — tokenizer training's
    vocabulary-induction loop, certified end-to-end: the hash match on
    (round, merged_pair, weighted count) proves both engines counted
    every pair, picked the same argmax under the same tie-break, AND
    applied round 1's merge identically before round 2 counted. Like
    llm_kmeans_fit, the iteration is unrolled into chained oracle
    CTEs; everything downstream of the (word, freq) collapse is
    vocabulary-sized."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    return bpe_merge_rounds(d, rounds=2)


@query(
    "llm_dup_ngram_fraction",
    oracle="""
    WITH d AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest([list_aggr(w[i:i+7], 'string_agg', ' ')
                       FOR i IN range(1, len(w) - 6)]) AS g
        FROM d WHERE len(w) >= 8
    ), gd AS (
        SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN gd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_ngrams,
           ROUND(SUM(CASE WHEN gd.ndocs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS dup_frac
    FROM grams gr JOIN gd USING (g)
    GROUP BY gr.doc_id
    ORDER BY gr.doc_id
    """,
    tags=("llm", "text-quality", "dedup-signal", "extension"),
)
def llm_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-8-gram fraction per document
    (:func:`..llm.text.dup_ngram_fraction`) — the Dolma/FineWeb
    repetition signal: exact corpus-wide n-gram statistics, no pair
    join, everything on the gram-hash shuffle. Flags the planted
    near-dup families (47 docs at sf0.01) without any similarity
    machinery."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    return dup_ngram_fraction(d, 8).orderBy("doc_id")


@query(
    "llm_lm_perplexity",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ), ref AS (SELECT w FROM d WHERE source = 'src0'),
    refuni AS (
        SELECT t AS w1, COUNT(*) AS c1
        FROM (SELECT unnest(w) AS t FROM ref) GROUP BY t
    ), refbi AS (
        SELECT bg, COUNT(*) AS c12 FROM (
            SELECT unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
            FROM ref
        ) GROUP BY bg
    ), vocab AS (SELECT COUNT(*)::DOUBLE AS v FROM refuni),
    docbi AS (
        SELECT doc_id,
               unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
        FROM d WHERE len(w) >= 2
    ), scored AS (
        SELECT db.doc_id,
               ln((COALESCE(rb.c12, 0) + 1.0) /
                  (COALESCE(ru.c1, 0) + vv.v)) AS lp
        FROM docbi db
        LEFT JOIN refbi rb ON db.bg = rb.bg
        LEFT JOIN refuni ru ON string_split(db.bg, ' ')[1] = ru.w1
        CROSS JOIN vocab vv
    )
    SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS avg_logp
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "text-quality", "lm", "extension"),
)
def llm_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM fluency scoring: add-one-smoothed bigram
    counts trained on the clean ``src0`` slice, every document scored
    by mean bigram log-probability (:func:`..llm.text.bigram_lm_scores`
    — the quality filter between lang-ID and dedup in a crawl
    pipeline). The LM is reference-corpus-sized, never corpus-sized;
    scoring is one bigram explode + two key joins + a per-doc
    aggregate."""
    d = load(spark, sf_dir, "documents").withColumn("toks", words("text"))
    ref = d.filter(F.col("source") == "src0")
    return bigram_lm_scores(d, ref).orderBy("doc_id")


#: Fixed BM25 query-term set: deterministic, present at every SF, and
#: the fixed LEFT-TO-RIGHT order is part of the float-addition contract
#: (see text.bm25_scores).
_BM25_TERMS = ("vector", "stream", "merge")


@query(
    "llm_bm25_topk",
    oracle=f"""
    WITH scored AS ({bm25_sql(_BM25_TERMS)}),
    r AS (SELECT doc_id, ROUND(score, 6) AS score FROM scored),
    top AS (SELECT doc_id, score FROM r ORDER BY score DESC, doc_id LIMIT 20)
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
           doc_id, score
    FROM top
    ORDER BY rank
    """,
    tags=("llm", "text-retrieval", "extension"),
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed 3-term query over the corpus —
    the ranked-retrieval primitive a curation pipeline uses to pull
    topical slices out of a web crawl (:func:`..llm.text.bm25_scores`;
    Lucene ``+1`` idf form).

    Only query-term occurrences ever shuffle (the term filter sits
    below the postings aggregation); the top-20 cut is a
    TakeOrderedAndProject over per-partition heaps — no global sort,
    no unpartitioned window over the corpus. Ranks are assigned AFTER
    the cut over 20 rows, on scores already rounded to 6 dp on both
    engines, so the rank column and the cut itself are
    cross-engine-deterministic."""

    d = _docs(spark, sf_dir)
    scored = bm25_scores(d, _BM25_TERMS).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(20)
    rank = F.row_number().over(
        Window.orderBy(F.col("score").desc(), "doc_id")
    )
    return top.select(rank.alias("rank"), "doc_id", "score").orderBy("rank")


@query(
    "llm_text_normalize",
    oracle=f"""
    WITH n AS (
        SELECT doc_id, lang, source,
               {NORMALIZE_SQL.format(t="text")} AS norm_text
        FROM documents
    )
    SELECT doc_id, lang, source, norm_text,
           CAST(len(string_split(norm_text, ' ')) AS INT) AS n_tokens
    FROM n
    ORDER BY doc_id
    """,
    tags=("llm", "text-normalize", "extension"),
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup for training corpora: lowercase,
    punctuation → space, whitespace collapse, trim — all codegen string
    expressions (no UDF), byte-identical to the oracle because the
    regexes stay in the RE2-compatible subset both engines share."""
    d = load(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        "lang",
        "source",
        normalize_text("text").alias("norm_text"),
    )
    return norm.withColumn(
        "n_tokens", F.size(F.split("norm_text", " "))
    ).orderBy("doc_id")


@query(
    "llm_edit_distance_pairs",
    oracle="""
    WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.text, b.text) AS edit_distance
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id AND abs(a.L - b.L) <= 4
    WHERE levenshtein(a.text, b.text) <= 4
    ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup-editdistance", "extension"),
    # Oracle is O(n²) brute force over the |ΔL|<=4 length band (2.3k
    # pair evaluations at sf0.01; the Spark side is the linear PassJoin
    # path and runs at any SF).
    max_verify_sf=0.01,
)
def llm_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Levenshtein<=4 self-join via PassJoin segment pigeonhole
    (:func:`..llm.dedup.passjoin_pairs`): every doc indexes its 5
    length-scheme segments, probes constant-count substrings of
    neighbouring lengths, and only hash-equal (length, segment,
    content) triples become candidates — provably lossless, never
    all-pairs. The string-metric sibling of the prefix-filter Jaccard
    join: it catches typo-grade near-dups whose shingle sets barely
    change. The engine's threshold levenshtein early-exits the
    verify."""
    docs = load(spark, sf_dir, "documents")
    return dedup.passjoin_pairs(docs).orderBy("id_a", "id_b")


@query(
    "llm_canonical_selection",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents
    ), s AS (
        SELECT doc_id, text, w, {shingles_sql('w', 3)} AS sh FROM t
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.8
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), r(node, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM r JOIN edges e ON e.src = r.node
    ), cc AS (
        SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node
    ), labeled AS (
        SELECT s.doc_id, COALESCE(cc.cluster_id, s.doc_id) AS cluster_id,
               {quality_score_sql('s.text', 's.w')} AS q
        FROM s LEFT JOIN cc ON s.doc_id = cc.node
    ), ranked AS (
        SELECT cluster_id, doc_id, q,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY q DESC, doc_id) AS rn
        FROM labeled
    )
    SELECT cluster_id, doc_id AS canonical_id, cluster_size,
           ROUND(q, 6) AS best_score
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
    tags=("llm", "dedup-canonical", "extension"),
    # Same O(n²)+recursive-CTE oracle class as llm_dedup_clusters.
    max_verify_sf=0.01,
)
def llm_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a dedup pipeline actually SHIPS: one canonical doc per
    near-dup cluster, chosen by the composite quality score (ties to
    the lowest id) instead of blind min-id — so the kept copy of each
    duplicated document is its best-written variant. Clusters come
    from the exact Jaccard pair graph (prefix filter → connected
    components, ids only); the quality argmax is one window over the
    cluster partitioning (:func:`..llm.dedup.canonical_docs`)."""
    docs = _docs(spark, sf_dir).withColumn(
        "q", quality_score("text", "toks")
    )
    pairs = _jaccard_pair_graph(spark, sf_dir)
    out = dedup.canonical_docs(
        docs, pairs, "q", "doc_id", clusters=_cluster_labels(spark, sf_dir)
    )
    return out.select(
        "cluster_id",
        "canonical_id",
        "cluster_size",
        F.round("best_score", 6).alias("best_score"),
    ).orderBy("cluster_id")


@query(
    "llm_weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    ORDER BY {priority_key_sql('doc_id', 'n_chars')}, doc_id
    LIMIT 100
    """,
    tags=("llm", "sampling-weighted", "extension"),
)
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: 100 docs
    drawn with probability growing in ``n_chars`` via priority keys
    ``u/w`` (md5-uniform over weight — Duffield/Lund/Thorup priority
    sampling). The selected SET is bit-reproducible across engines
    (one IEEE double division on an md5-derived integer), which is the
    property a training-mixture audit needs; the plan is a
    TakeOrderedAndProject — per-partition top-k, no global sort."""
    d = load(spark, sf_dir, "documents")
    return datasets.weighted_sample(d, "doc_id", "n_chars", 100).select(
        "doc_id", "n_chars"
    )


@query(
    "llm_stratified_weighted_sample",
    oracle=f"""
    SELECT lang, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {priority_key_sql('doc_id', 'n_chars')}, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 25
    ORDER BY lang, doc_id
    """,
    tags=("llm", "sampling-stratified-weighted", "extension"),
)
def llm_stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample: the 25 docs per ``lang`` with the
    smallest u/w priorities — 'best-weighted N per stratum', the
    reproducible mixture-construction primitive. One window over the
    lang partitioning (WindowGroupLimit prunes past the cut);
    the selected set is bit-identical across engines because the
    priority is one IEEE division on an md5 uniform."""
    d = load(spark, sf_dir, "documents")
    return (
        datasets.stratified_weighted_sample(d, "lang", "doc_id", "n_chars", 25)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


@query(
    "llm_prefix_dup_groups",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ), p AS (
        SELECT doc_id, md5(list_aggr(w[1:10], 'string_agg', ' ')) AS ph
        FROM d WHERE len(w) >= 10
    )
    SELECT ph AS prefix_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_docs
    FROM p GROUP BY ph HAVING COUNT(*) >= 2
    ORDER BY keep_id
    """,
    tags=("llm", "dedup-prefix", "extension"),
)
def llm_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-prefix detection: documents sharing their first 10
    tokens — the truncated-copy signal (same article cut at different
    lengths) that full-body exact dedup misses and pairwise similarity
    finds only at quadratic candidate cost. One groupBy on the 16-byte
    prefix digest: the shuffle carries (hash, id), never text, and the
    min-id representative follows the engine's dedup keep convention."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("_w"),
    )
    p = d.filter(F.size("_w") >= 10).select(
        "doc_id",
        F.md5(F.expr("concat_ws(' ', slice(_w, 1, 10))")).alias("prefix_hash"),
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# N-gram novelty curve (round 6)
# ---------------------------------------------------------------------------
@query(
    "llm_ngram_novelty",
    oracle=f"""
    {_DOCS_SQL}, dg AS (
        SELECT DISTINCT doc_id, unnest(sh) AS g FROM s
    ), firsts AS (
        SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g
    )
    SELECT dg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                 ::DOUBLE / COUNT(*), 6) AS novelty
    FROM dg JOIN firsts f USING (g)
    GROUP BY dg.doc_id ORDER BY dg.doc_id
    """,
    tags=("llm", "novelty", "curation", "extension"),
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY under the ingestion order (doc_id):
    the fraction of a doc's distinct 3-shingles never seen in any
    earlier document — the freshness curve a curation team watches to
    decide when additional crawl of a source stops contributing new
    content (novelty decays toward the near-dup floor as a source is
    exhausted).

    Scale: ONE pass — distinct (doc, gram) pairs flow into a window
    partitioned by gram whose partition-wide MIN tags the first-seen
    owner in the same exchange that co-locates the gram (no self-join,
    no second scan of the text-prep pipeline — a join-back formulation
    re-derived the tokenize→shingle→explode lineage twice and measured
    12.3s at sf0.1; this single-window shape runs ~4×  faster), then a
    partial-aggregated per-doc rollup.  ``explode_outer`` + post-filter
    instead of ``explode``: Catalyst's InferFiltersFromGenerate infers
    a non-empty/non-null guard for plain explode and pushes it below
    the projection, INLINING the whole tokenize→shingle pipeline ~6×
    per input row (measured 12.3s vs 2.7s at sf0.1); the outer variant
    infers nothing and the null rows are filtered after the Generate
    for the identical result."""
    d = _docs(spark, sf_dir)
    dg = (
        d.select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("g"))
    flagged = dg.select(
        "doc_id", (F.col("doc_id") == first_doc).alias("_novel")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_novel"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Dedup threshold sweep (round 6)
# ---------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (0.8, 0.9, 0.95, 0.99)


@query(
    "llm_dedup_threshold_sweep",
    oracle=f"""
    {_DOCS_SQL}, p AS (
        SELECT id_a, id_b, jaccard FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6)
                       AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.8
    ), th AS (
        SELECT CAST(unnest({list(_SWEEP_THRESHOLDS)}) AS DOUBLE) AS t
    ), counts AS (
        SELECT t, COUNT(p.id_a) AS n_pairs
        FROM th LEFT JOIN p ON p.jaccard >= th.t GROUP BY t
    ), docs AS (
        SELECT t, COUNT(DISTINCT q.d) AS n_docs
        FROM th LEFT JOIN (
            SELECT id_a AS d, jaccard FROM p
            UNION ALL SELECT id_b, jaccard FROM p
        ) q ON q.jaccard >= th.t
        GROUP BY t
    )
    SELECT th.t AS threshold,
           CAST(counts.n_pairs AS BIGINT) AS n_pairs,
           CAST(docs.n_docs AS BIGINT) AS n_docs_in_pairs
    FROM th JOIN counts USING (t) JOIN docs USING (t)
    ORDER BY threshold
    """,
    tags=("llm", "dedup-tuning", "extension"),
    # Oracle: O(n²) all-pairs Jaccard — sf0.01 only (engine side reads
    # the materialized pair graph and is linear).
    max_verify_sf=0.01,
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD TUNING in one pass: for each candidate Jaccard
    cut (0.8/0.9/0.95/0.99) report how many near-dup pairs survive and
    how many documents participate — the sweep a curation team runs to
    pick the dedup threshold before committing to a corpus-wide pass
    (the 0.8-vs-0.95 delta IS the aggressiveness/recall trade).

    Scale: the engine side never recomputes similarity — it reads the
    MATERIALIZED ≥0.8 pair graph (the build-once artifact shared with
    clusters/canonical-selection) and fans each pair out to the ≤4
    qualifying thresholds; the brute-force all-pairs cost exists only
    in the oracle, which is scale-capped."""
    pairs = _jaccard_pair_graph(spark, sf_dir)
    th = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    pe = pairs.select("id_a", "id_b", "jaccard", th).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    counts = pe.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs = (
        pe.select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("d")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_docs_in_pairs"))
    )
    base = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    return (
        base.join(counts, "threshold", "left")
        .join(docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs_in_pairs"), F.lit(0))
            .cast("long")
            .alias("n_docs_in_pairs"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# 7. Mutual information between document source and language
# ---------------------------------------------------------------------------
@query(
    "llm_mutual_information",
    oracle="""
    WITH joint AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
        FROM documents GROUP BY source, lang
    ), m AS (
        SELECT CAST(SUM(n_sl) AS BIGINT) AS n FROM joint
    ), marg_s AS (
        SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s FROM joint
        GROUP BY source
    ), marg_l AS (
        SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l FROM joint
        GROUP BY lang
    )
    SELECT ROUND(SUM((CAST(j.n_sl AS DOUBLE) / m.n)
                     * LN(CAST(j.n_sl AS DOUBLE) * m.n
                          / (CAST(s.n_s AS DOUBLE) * l.n_l))), 6) AS mi_nats,
           ROUND((SELECT -SUM((CAST(n_s AS DOUBLE) / m2.n)
                              * LN(CAST(n_s AS DOUBLE) / m2.n))
                  FROM marg_s, m m2), 6) AS h_source,
           ROUND((SELECT -SUM((CAST(n_l AS DOUBLE) / m3.n)
                              * LN(CAST(n_l AS DOUBLE) / m3.n))
                  FROM marg_l, m m3), 6) AS h_lang
    FROM joint j
    JOIN marg_s s USING (source)
    JOIN marg_l l USING (lang)
    CROSS JOIN m
    """,
    tags=("llm", "governance", "information-theory", "extension"),
)
def llm_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(source; lang) plus both marginal entropies
    — the governance number for "how much does knowing the crawl
    source tell you about language mix" (high MI = sources are
    language-siloed; the mixture sampler should stratify on both).

    Determinism: all probabilities come from exact integer counts;
    the ln/Σ assembly follows the PSI/KS convention (6-dp round on a
    |sources|×|langs|-sized frame, far from boundary sensitivity).

    Scale: one groupBy over (source, lang) with partial aggregation;
    marginals re-aggregate the joint frame (model-sized), never the
    corpus."""
    joint = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sl"))
    )
    total = joint.agg(F.sum("n_sl").cast("long").alias("n"))
    marg_s = joint.groupBy("source").agg(
        F.sum("n_sl").cast("long").alias("n_s")
    )
    marg_l = joint.groupBy("lang").agg(F.sum("n_sl").cast("long").alias("n_l"))
    n = F.col("n").cast("double")
    mi = (
        joint.join(marg_s, "source")
        .join(marg_l, "lang")
        .crossJoin(F.broadcast(total))
        .agg(
            F.round(
                F.sum(
                    (F.col("n_sl").cast("double") / n)
                    * F.log(
                        F.col("n_sl").cast("double")
                        * n
                        / (F.col("n_s").cast("double") * F.col("n_l"))
                    )
                ),
                6,
            ).alias("mi_nats")
        )
    )
    hs = (
        marg_s.crossJoin(F.broadcast(total))
        .agg(
            F.round(
                -F.sum(
                    (F.col("n_s").cast("double") / n)
                    * F.log(F.col("n_s").cast("double") / n)
                ),
                6,
            ).alias("h_source")
        )
    )
    hl = (
        marg_l.crossJoin(F.broadcast(total))
        .agg(
            F.round(
                -F.sum(
                    (F.col("n_l").cast("double") / n)
                    * F.log(F.col("n_l").cast("double") / n)
                ),
                6,
            ).alias("h_lang")
        )
    )
    return mi.crossJoin(F.broadcast(hs)).crossJoin(F.broadcast(hl))


# ---------------------------------------------------------------------------
# 12. Reciprocal-rank fusion of two keyword rankings
# ---------------------------------------------------------------------------
@query(
    "q_reciprocal_rank_fusion",
    oracle="""
    WITH tf AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x = 'join')) AS BIGINT) AS tf_a,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x = 'vector')) AS BIGINT) AS tf_b
        FROM documents
    ), ranked AS (
        SELECT doc_id, tf_a, tf_b,
               ROW_NUMBER() OVER (ORDER BY tf_a DESC, doc_id ASC) AS rank_a,
               ROW_NUMBER() OVER (ORDER BY tf_b DESC, doc_id ASC) AS rank_b
        FROM tf
    )
    SELECT doc_id, rank_a, rank_b,
           ROUND(1.0 / (60 + rank_a) + 1.0 / (60 + rank_b), 6) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id LIMIT 25
    """,
    tags=("llm", "retrieval", "rank-fusion", "extension"),
)
def q_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two retrieval rankings —
    term-frequency rankings for 'join' and 'vector' standing in for a
    lexical and a semantic ranker.  RRF is how hybrid search engines
    merge heterogeneous scorers without calibrating their score
    scales; only RANKS enter the fused score, so the fusion is
    bit-stable wherever the input rankings are (integer tf with
    doc_id tie-breaks here).

    Scale: tf columns are map-side array ops; each ranking is one
    sort (window) over the doc-cardinality frame; fusion is
    arithmetic on the already-ranked rows and a top-k."""

    tf = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda x: x == "join")
        )
        .cast("long")
        .alias("tf_a"),
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda x: x == "vector")
        )
        .cast("long")
        .alias("tf_b"),
    )
    ranked = tf.select(
        "doc_id",
        "tf_a",
        "tf_b",
        F.row_number()
        .over(Window.orderBy(F.col("tf_a").desc(), F.col("doc_id").asc()))
        .alias("rank_a"),
        F.row_number()
        .over(Window.orderBy(F.col("tf_b").desc(), F.col("doc_id").asc()))
        .alias("rank_b"),
    )
    return (
        ranked.select(
            "doc_id",
            "rank_a",
            "rank_b",
            F.round(
                1.0 / (60 + F.col("rank_a")) + 1.0 / (60 + F.col("rank_b")), 6
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# 15. Blocking-quality audit (pair completeness / reduction ratio)
# ---------------------------------------------------------------------------
@query(
    "llm_blocking_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                              FOR i IN range(1, greatest(len(w) - 1, 1))])
                   AS s,
               len(w) // 8 AS block
        FROM toks
    ), true_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.block = b.block AS blocked
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
    ), cand AS (
        SELECT CAST(SUM(cnt * (cnt - 1) / 2) AS BIGINT) AS n_candidates
        FROM (SELECT block, COUNT(*) AS cnt FROM sh GROUP BY block)
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sh)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true_pairs,
           (SELECT CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
            FROM true_pairs) AS n_true_in_block,
           ROUND((SELECT SUM(CASE WHEN blocked THEN 1.0 ELSE 0 END)
                  FROM true_pairs)
                 / (SELECT COUNT(*) FROM true_pairs), 6)
               AS pair_completeness,
           (SELECT n_candidates FROM cand) AS n_candidates,
           ROUND(1.0 - (SELECT n_candidates FROM cand)
                 / (n.n_docs * (n.n_docs - 1) / 2.0), 6) AS reduction_ratio
    FROM n
    """,
    tags=("llm", "dedup", "blocking-audit", "extension"),
    max_verify_sf=0.01,
)
def llm_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit — the two numbers every entity-resolution
    / dedup pipeline tracks for its candidate generator: PAIR
    COMPLETENESS (what fraction of true near-dup pairs land in the
    same block) and REDUCTION RATIO (what fraction of the n² pair
    space the blocker prunes), here for a token-count blocker
    (length // 8) against ground-truth Jaccard ≥ 0.8 pairs.

    The Spark side reads true pairs from the MATERIALIZED pair graph
    (`.scratch/`, shared with clusters/canonical/sweep — zero
    recompute); the oracle brute-forces all pairs, hence the
    ``max_verify_sf=0.01`` cap shared by the other pair-graph
    oracles.  Scale: candidates count from per-block tallies (never
    enumerated), completeness from a pairs-sized broadcast join."""

    d = _docs(spark, sf_dir).select(
        "doc_id", (F.size("toks") / 8).cast("long").alias("block")
    )
    n_docs = d.count()
    pairs = _jaccard_pair_graph(spark, sf_dir).select("id_a", "id_b")
    blocked = (
        pairs.join(
            d.select(F.col("doc_id").alias("id_a"), F.col("block").alias("ba")),
            "id_a",
        )
        .join(
            d.select(F.col("doc_id").alias("id_b"), F.col("block").alias("bb")),
            "id_b",
        )
        .select((F.col("ba") == F.col("bb")).alias("blocked"))
    )
    tp = blocked.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        F.sum(F.when(F.col("blocked"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_in_block"),
        F.round(
            F.sum(F.when(F.col("blocked"), 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            6,
        ).alias("pair_completeness"),
    )
    cand = (
        d.groupBy("block")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2)
            .cast("long")
            .alias("n_candidates")
        )
    )
    return (
        tp.crossJoin(F.broadcast(cand))
        .select(
            "n_true_pairs",
            "n_true_in_block",
            "pair_completeness",
            "n_candidates",
            F.round(
                1.0
                - F.col("n_candidates")
                / F.lit(n_docs * (n_docs - 1) / 2.0),
                6,
            ).alias("reduction_ratio"),
        )
    )


#: Fixed slice for the exact density-clustering graph: the quadratic
#: pair recipe is bounded to a CONSTANT 400 vectors at every SF (same
#: convention as the other quadratic-oracle queries, whose brute-force
#: verification cannot scale) — the production-scale candidate path is
#: the LSH-bucketed llm_embedding_near_dup; this query pins the
#: density SEMANTICS exactly.
_DENSITY_SLICE = 400
_DENSITY_K = 4  # core distance = distance to the k-th nearest neighbor
_DENSITY_EPS = 0.68  # λ-cut on the mutual-reachability metric


def _density_pair_sql() -> str:
    cos = similarity.cosine_sql("a.embedding", "b.embedding", 64)
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
            F.round(1 - similarity.cosine("ea", "eb"), 6).alias("d"),
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


def _hard_negative_oracle() -> str:
    cos = similarity.cosine_sql("q.qe", "e.embedding", 64)
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
            F.round(similarity.cosine("qe", "embedding"), 6).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )

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

    d = _doc_ids_fanned_out(spark, sf_dir)
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, n_frames long, n_active long,"
            " n_segments long, total_abs long, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")


def _pref_oracle() -> str:
    q = quality_score_sql("text", "w")
    return f"""
    WITH d AS (
        SELECT doc_id, lang, source, {q} AS q
        FROM (SELECT *, string_split(lower(text), ' ') AS w FROM documents)
    ), r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY q DESC, doc_id) AS rb,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY q ASC, doc_id) AS rw,
               COUNT(*) OVER (PARTITION BY lang, source) AS grp_n
        FROM d
    ), best AS (
        SELECT lang, source, grp_n, doc_id AS chosen_id, q AS chosen_q
        FROM r WHERE rb = 1
    ), worst AS (
        SELECT lang, source, doc_id AS rejected_id, q AS rejected_q
        FROM r WHERE rw = 1
    )
    SELECT b.lang, b.source, CAST(b.grp_n AS BIGINT) AS grp_n,
           b.chosen_id, b.chosen_q, w.rejected_id, w.rejected_q,
           ROUND(b.chosen_q - w.rejected_q, 6) AS margin
    FROM best b JOIN worst w ON w.lang = b.lang AND w.source = b.source
    WHERE b.chosen_id <> w.rejected_id
    ORDER BY b.lang, b.source
    """


@query(
    "llm_preference_pairs",
    oracle=_pref_oracle(),
    tags=("llm", "preference-pairs", "rlhf", "extension"),
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR mining (round-8 — the DPO/RLHF data step after
    quality scoring: alignment training consumes (chosen, rejected)
    pairs, and at corpus scale they are MINED, not hand-labeled): per
    (lang, source) group, the highest- and lowest-quality documents
    under the composite quality score become the chosen/rejected pair,
    with the score margin — exactly the margin a DPO loss trains
    against.  Ties break to the lowest doc_id (a total order);
    single-document groups cannot form a pair and are excluded on
    both sides.

    Scale: one scan computes (group, quality) per doc; the pair pick
    is two WindowGroupLimit top-1 scans over scored ids — never the
    text — and groups fan out trivially to any cardinality."""

    d = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", words("text"))
        .select("doc_id", "lang", "source", quality_score().alias("q"))
    )
    wb = Window.partitionBy("lang", "source").orderBy(F.desc("q"), F.asc("doc_id"))
    ww = Window.partitionBy("lang", "source").orderBy(F.asc("q"), F.asc("doc_id"))
    wn = Window.partitionBy("lang", "source")
    r = d.select(
        "lang",
        "source",
        "doc_id",
        "q",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
        F.count(F.lit(1)).over(wn).cast("long").alias("grp_n"),
    )
    best = r.filter(F.col("rb") == 1).select(
        "lang",
        "source",
        "grp_n",
        F.col("doc_id").alias("chosen_id"),
        F.col("q").alias("chosen_q"),
    )
    worst = r.filter(F.col("rw") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("rejected_id"),
        F.col("q").alias("rejected_q"),
    )
    return (
        best.join(worst, ["lang", "source"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "lang",
            "source",
            "grp_n",
            "chosen_id",
            "chosen_q",
            "rejected_id",
            "rejected_q",
            F.round(F.col("chosen_q") - F.col("rejected_q"), 6).alias("margin"),
        )
        .orderBy("lang", "source")
    )


#: Perceptual-hash fixture: 32x32 grayscale images of 16 flat 8x8
#: blocks; 25 base patterns (doc_id % 25) with a small per-doc
#: perturbation on the last block ((doc_id // 25) % 5) producing
#: near-duplicate variants whose aHash lands 0-1 bits from the base.
_PH_GROUPS = 25
_PH_NOISE = 5
_PH_HAM = 2  # near-bucket radius in hash bits


@query(
    "llm_phash_near_dup",
    oracle=f"""
    WITH blk AS (
        SELECT d.doc_id, r.b,
               CASE WHEN r.b = 15
                    THEN ((d.doc_id % {_PH_GROUPS}) * 53 + 15 * 67
                          + (d.doc_id // {_PH_GROUPS}) % {_PH_NOISE}) % 256
                    ELSE ((d.doc_id % {_PH_GROUPS}) * 53 + r.b * 67) % 256
               END AS v
        FROM documents d, range(0, 16) r(b)
    ), dec AS (
        SELECT doc_id, b,
               LEAST(255, GREATEST(0,
                   128 + CAST(ROUND(ROUND(8 * (v - 128) / 16.0) * 16 / 8.0)
                              AS INT))) AS dec
        FROM blk
    ), tot AS (
        SELECT doc_id, SUM(dec) AS s FROM dec GROUP BY doc_id
    ), ph AS (
        SELECT d.doc_id,
               CAST(SUM(CASE WHEN 16 * d.dec > t.s THEN 1 << d.b
                             ELSE 0 END) AS BIGINT) AS phash
        FROM dec d JOIN tot t USING (doc_id) GROUP BY d.doc_id
    ), bucket AS (
        SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM ph GROUP BY phash
    ), near AS (
        SELECT a.phash, CAST(COUNT(b.phash) AS BIGINT) AS n_near_buckets
        FROM bucket a LEFT JOIN bucket b
          ON b.phash <> a.phash
         AND bit_count(xor(a.phash, b.phash)) <= {_PH_HAM}
        GROUP BY a.phash
    )
    SELECT bucket.phash, bucket.n_docs, bucket.min_doc, bucket.max_doc,
           near.n_near_buckets, TRUE AS all_flat
    FROM bucket JOIN near USING (phash) ORDER BY phash
    """,
    tags=("llm", "multimodal", "perceptual-hash", "dedup", "extension"),
)
def llm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH image dedup through the REAL JPEG codec
    (round-8 — the multimodal member of the near-dup family: MinHash
    buckets text shingles, SimHash buckets term vectors, this buckets
    PIXELS, and unlike both it survives lossy compression because the
    hash is computed from DECODED output): each doc renders a 32×32
    grayscale image of 16 flat 8×8 blocks (25 base patterns + a small
    per-doc perturbation on one block — near-duplicate variants),
    encodes it to an actual JFIF stream and decodes it back
    (``llm/jpeg.py``), then computes the aHash — each block's mean
    against the global mean, compared in exact integers
    (16·block > Σblocks), one bit per block.  Equal hashes form dedup
    buckets; a bucket-level self-join counts neighbors within
    Hamming ≤ {_PH_HAM} (``bit_count(xor)``) — the candidate edges a
    full perceptual clustering would union.  The oracle recomputes
    every decoded block from the flat-block closed form
    (clamp(128 + round(round(8(v−128)/16)·16/8)), q00 = 16 Annex K)
    and the same integer bit rule — no codec, pure SQL — so the hash
    match proves encode→decode→hash lands exactly where the DCT math
    says it must.

    Scale: codec + hash are per-row mapInPandas CPU (zero shuffle);
    dedup shuffles 8-byte hashes, never pixels; the Hamming probe is
    bucket-cardinality quadratic, not document-quadratic — the same
    collapse MinHash banding buys text."""
    import pandas as _pd

    from ..llm import jpeg as _jpeg

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                g = did % _PH_GROUPS
                vals = [(g * 53 + b * 67) % 256 for b in range(16)]
                vals[15] = (g * 53 + 15 * 67 + (did // _PH_GROUPS) % _PH_NOISE) % 256
                px = bytearray(32 * 32)
                for b in range(16):
                    bx, by = b % 4, b // 4
                    for y in range(8):
                        row = (by * 8 + y) * 32 + bx * 8
                        px[row : row + 8] = bytes([vals[b]]) * 8
                blob = _jpeg.encode_jpeg(bytes(px), 32, 32)
                _w, _h, dec = _jpeg.decode_jpeg(blob)
                blocks = []
                flat = True
                for b in range(16):
                    bx, by = b % 4, b // 4
                    got = {
                        dec[(by * 8 + y) * 32 + bx * 8 + x]
                        for y in range(8)
                        for x in range(8)
                    }
                    flat = flat and len(got) == 1
                    blocks.append(next(iter(got)))
                s = sum(blocks)
                phash = sum(1 << b for b in range(16) if 16 * blocks[b] > s)
                rows.append((did, phash, flat))
            yield _pd.DataFrame(rows, columns=["doc_id", "phash", "all_flat"])

    d = _doc_ids_fanned_out(spark, sf_dir)
    ph = d.mapInPandas(run, schema="doc_id long, phash long, all_flat boolean")
    bucket = ph.groupBy("phash").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.min("all_flat").alias("all_flat"),
    )
    a = bucket.select(F.col("phash"))
    near = (
        a.alias("x")
        .join(
            a.alias("y"),
            F.expr(
                f"x.phash <> y.phash AND "
                f"bit_count(x.phash ^ y.phash) <= {_PH_HAM}"
            ),
            "left",
        )
        .groupBy(F.col("x.phash").alias("phash"))
        .agg(F.count(F.col("y.phash")).cast("long").alias("n_near_buckets"))
    )
    return (
        bucket.join(near, "phash")
        .select(
            "phash", "n_docs", "min_doc", "max_doc", "n_near_buckets", "all_flat"
        )
        .orderBy("phash")
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS) document fingerprints + shared-fingerprint pairs
# ---------------------------------------------------------------------------
_WIN_K = 8  # k-gram length (chars)
_WIN_W = 4  # winnowing window (k-grams)
_WIN_DOCS = 300  # doc_id bound: constant work at every SF
_POS_MOD = 16_777_216  # 2^24 position field in the composite key


@query(
    "llm_winnowing_fingerprint",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, UNNEST(range(1, length(text) - {_WIN_K - 2})) AS i,
               text
        FROM documents WHERE doc_id < {_WIN_DOCS}
    ), h AS (
        SELECT doc_id, i,
               ('0x' || substring(md5(substring(text, CAST(i AS INT), {_WIN_K})), 1, 8))::BIGINT
                   * {_POS_MOD} + ({_POS_MOD - 1} - i) AS key
        FROM g
    ), sel AS (
        SELECT doc_id,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN {_WIN_W - 1} PRECEDING
                              AND CURRENT ROW) AS mk,
               i
        FROM h
    ), fp AS (
        SELECT DISTINCT doc_id, mk // {_POS_MOD} AS fph
        FROM sel WHERE i >= {_WIN_W}
    ), nf AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM fp a JOIN fp b ON a.fph = b.fph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), top AS (
        SELECT p.d1, p.d2, p.shared, na.n AS fp1, nb.n AS fp2,
               ROW_NUMBER() OVER (ORDER BY p.shared DESC, p.d1, p.d2) AS rn
        FROM pairs p
        JOIN nf na ON na.doc_id = p.d1
        JOIN nf nb ON nb.doc_id = p.d2
    )
    SELECT d1, d2, shared, fp1, fp2,
           ROUND(CAST(shared AS DOUBLE) / (fp1 + fp2 - shared), 6) AS jaccard
    FROM top WHERE rn <= 20
    ORDER BY shared DESC, d1, d2
    """,
    tags=("llm", "fingerprint", "winnowing", "dedup"),
)
def llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprints (round-8f — the MOSS/plagiarism-detection
    selection rule the fingerprint family lacked: llm_fingerprint keeps
    ONE hash per doc, minhash keeps a fixed signature, winnowing keeps
    a GUARANTEED-coverage subset — every match of length >= w+k-1 is
    caught — at ~2/(w+1) density): 8-char k-grams hashed portably
    (md5-prefix, bit-identical in both engines), the window-of-4
    minimum selected with the RIGHTMOST-tie rule via one composite
    integer key ``h * 2^24 + (2^24-1-pos)`` (min over the key IS
    (min h, max pos) lexicographic — no nested windows needed), the
    distinct selected hashes per doc, and the shared-fingerprint top-20
    pairs with exact-integer Jaccard.

    Scale: fingerprint density is ~2/(w+1) of k-gram count regardless
    of corpus size; the pair join runs on fingerprint buckets (hash
    equality), never all pairs — the winnowing guarantee bounds recall
    while the bucket join bounds cost."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _WIN_DOCS)
    g = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (_WIN_K - 1))
        ).alias("i"),
    )
    key = (
        F.conv(
            F.substring(F.md5(F.expr(f"substring(text, i, {_WIN_K})")), 1, 8),
            16,
            10,
        ).cast("long")
        * _POS_MOD
        + (F.lit(_POS_MOD - 1) - F.col("i"))
    )
    h = g.select("doc_id", "i", key.alias("key"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(_WIN_W - 1), 0)
    )
    sel = h.select(
        "doc_id", "i", F.min("key").over(win).alias("mk")
    ).filter(F.col("i") >= _WIN_W)
    fp = sel.select(
        "doc_id", F.expr(f"mk div {_POS_MOD}").alias("fph")
    ).distinct()
    nf = fp.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = fp.alias("a"), fp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fph") == F.col("b.fph"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    top = (
        pairs.join(nf.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "fp1"), "d1")
        .join(nf.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "fp2"), "d2")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("shared"), F.asc("d1"), F.asc("d2"))
            ),
        )
        .filter(F.col("rn") <= 20)
    )
    return top.select(
        "d1",
        "d2",
        "shared",
        "fp1",
        "fp2",
        F.round(
            F.col("shared").cast("double")
            / (F.col("fp1") + F.col("fp2") - F.col("shared")),
            6,
        ).alias("jaccard"),
    ).orderBy(F.desc("shared"), "d1", "d2")


# ---------------------------------------------------------------------------
# Audio resampling (2:1 decimation) through the real WAV codec
# ---------------------------------------------------------------------------
#: Resample fixture: 400 samples/doc of integer pseudo-noise
#: s(i) = (doc_id*17 + i*11) % 4000 - 2000 (all intermediate terms
#: non-negative before the shift, so % agrees across engines), decoded
#: from a real RIFF/WAVE container and decimated 2:1 with a 2-tap
#: boxcar SUM (gain 2 — integer-exact, no division-rounding hazards).
_RS_N = 400
_RS_OUT = _RS_N // 2


@query(
    "llm_audio_resample",
    oracle=f"""
    WITH j AS (
        SELECT doc_id, UNNEST(range({_RS_OUT})) AS j FROM documents
    ), r AS (
        SELECT doc_id, j,
               ((doc_id * 17 + (2 * j) * 11) % 4000 - 2000)
             + ((doc_id * 17 + (2 * j + 1) * 11) % 4000 - 2000) AS r2
        FROM j
    ), x AS (
        SELECT doc_id, j, r2,
               LAG(r2) OVER (PARTITION BY doc_id ORDER BY j) AS prev
        FROM r
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(ABS(r2)) AS BIGINT) AS sum_abs,
           CAST(MAX(ABS(r2)) AS BIGINT) AS max_abs,
           CAST(SUM(CASE WHEN (prev > 0 AND r2 < 0)
                           OR (prev < 0 AND r2 > 0) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_cross,
           TRUE AS roundtrip_ok
    FROM x GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "audio", "resample", "extension"),
)
def llm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO sample-rate conversion through the REAL codec (round-8f —
    the rate-change step the audio family lacked: llm_wav_decode_stats
    proves the container roundtrip, llm_audio_vad gates frames, this
    DECIMATES — the preprocessing every speech model's 16 kHz intake
    runs on arbitrary-rate corpora): each doc's integer pseudo-noise
    waveform is encoded to an actual RIFF/WAVE file, decoded back with
    the engine's independent parser (:mod:`..llm.wav_audio`), then
    downsampled 2:1 with a 2-tap boxcar (anti-alias sum, gain 2 —
    SUM not average, so every value stays an exact integer and no
    engine-specific negative-division rounding can enter), with
    energy/peak/zero-crossing stats on the resampled signal.  The
    oracle computes the identical statistics from the closed-form
    waveform definition and never sees a WAV container — the hash
    match proves codec + decimation are exact.

    Scale: per-row codec CPU under one Arrow-batched mapInPandas after
    an explicit repartition (same contract as llm_audio_vad); the
    decimator is a streaming fold per row, zero shuffle until the
    final sort."""
    import pandas as _pd

    from ..llm import wav_audio as _wav

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                samples = [
                    (did * 17 + i * 11) % 4000 - 2000 for i in range(_RS_N)
                ]
                blob = _wav.encode_wav(samples, sample_rate=8000, channels=1)
                _rate, _ch, decoded = _wav.decode_wav(blob)
                r2 = [
                    decoded[2 * j] + decoded[2 * j + 1]
                    for j in range(_RS_OUT)
                ]
                crossings = sum(
                    1
                    for a, b in zip(r2, r2[1:])
                    if (a > 0 and b < 0) or (a < 0 and b > 0)
                )
                rows.append(
                    (
                        did,
                        len(r2),
                        sum(abs(v) for v in r2),
                        max(abs(v) for v in r2),
                        crossings,
                        decoded == samples,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_out",
                    "sum_abs",
                    "max_abs",
                    "n_zero_cross",
                    "roundtrip_ok",
                ],
            )

    d = _doc_ids_fanned_out(spark, sf_dir)
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, n_out long, sum_abs long, max_abs long,"
            " n_zero_cross long, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")


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
                emb, _QUERY_IDS, k=10, nprobe=3, cluster_col="label"
            )
            return _pairs(topk), scored.agg(F.max("n_scored")).collect()[0][0]

        def _exact():
            return _pairs(
                similarity.brute_force_topk_batch(
                    emb, _QUERY_IDS, k=10, dims=_DIMS
                )
            )

        def _ivf():
            return _pairs(
                similarity.ivf_topk(
                    emb, _QUERY_IDS, k=10, nprobe=3, cluster_col="label"
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
