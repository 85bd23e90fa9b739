"""Round-8 additions, sixth batch: storage-layout and state-machine
operators.

Five operators, each oracle-checked:

- ``q_bucketed_join_no_shuffle`` — pre-bucketed co-located join: both
  sides written ``bucketBy(8, custkey)``, the fact-dim join plans a
  SortMergeJoin with ZERO shuffle exchanges on the join (the bucketed
  layout IS the exchange, amortized across every downstream join).
- ``q_dynamic_partition_overwrite`` — dynamic partition-overwrite sink
  semantics: an upsert-shaped rewrite replaces ONLY the partitions the
  patch touches, untouched partitions survive byte-for-byte.
- ``q_kalman_filter_1d`` — local-level Kalman smoothing of the daily
  series with a pre-computed (data-independent) gain schedule.
- ``llm_winnowing_fingerprint`` — MOSS-style winnowing document
  fingerprints (window-min of k-gram hashes, rightmost tie) + shared-
  fingerprint pair mining.
- ``q_streaming_chained_windows`` — two CHAINED event-time window
  aggregations in one streaming query (Spark 3.4+ multiple stateful
  operators), sentinel-drained to batch equality.

Reference parity note: the reference (harshvardhanvn1/market-etl)
partitions its Athena table by year/month/day/symbol
(infra/terraform/main.tf:455-478) but has no bucketing, no
partition-overwrite semantics, and no streaming; these extend
SURVEY.md §2's layout/streaming families on the same data model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import SCRATCH, fanout_partitions, fresh_scratch, load, sf_tag, source_fingerprint
from .registry import query

_DAY_US = 86_400_000_000


# ---------------------------------------------------------------------------
# Bucketed co-located join: the shuffle paid once at write time
# ---------------------------------------------------------------------------
_N_BUCKETS = 8


def ensure_bucketed_star(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize-once accessor for the bucketed orders/customer pair:
    both sides ``bucketBy(_N_BUCKETS, custkey).sortBy(custkey)`` into
    external tables under ``.scratch``.  The in-memory catalog does not
    survive sessions, so a fresh session re-registers (rewrites) the
    pair once — the memoization is per-session, the cost bounded by the
    dim/fact projection sizes."""
    tag = sf_tag(sf_dir)
    fp = source_fingerprint(sf_dir, "orders.parquet")
    tbl_o = f"bkt_orders_{tag}_{fp}"
    tbl_c = f"bkt_customer_{tag}_{fp}"
    if not spark.catalog.tableExists(tbl_o):
        orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
        (
            orders.select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(_N_BUCKETS, "o_custkey")
            .sortBy("o_custkey")
            .option("path", str(SCRATCH / tbl_o))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl_o)
        )
    if not spark.catalog.tableExists(tbl_c):
        customer = spark.read.parquet(f"{sf_dir.rstrip('/')}/customer.parquet")
        (
            customer.select("c_custkey", "c_mktsegment")
            .write.bucketBy(_N_BUCKETS, "c_custkey")
            .sortBy("c_custkey")
            .option("path", str(SCRATCH / tbl_c))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl_c)
        )
    return tbl_o, tbl_c


@query(
    "q_bucketed_join_no_shuffle",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("datalayout", "bucketing", "join", "extension"),
)
def q_bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED co-located join (round-8f — the layout that amortizes
    the join shuffle: q_salted_skew_join pays the exchange per query,
    bucketing pays it ONCE at write time and every subsequent join on
    the bucket key plans with zero Exchange on either input): orders
    and customer are both written ``bucketBy(8, custkey).sortBy``, the
    revenue-by-segment join reads them back through the catalog, and —
    with broadcast disabled so the plan shows the layout's own merit —
    Catalyst plans a SortMergeJoin whose children are bucket-aligned
    scans (``SelectedBucketsCount`` in the scan, no
    ShuffleExchange below the join; asserted by
    tests/test_bucketed_layout.py).  The oracle joins the raw parquet,
    so the hash match proves bucketing is pure layout — never
    semantics.

    Scale: at 100 TB this is THE join strategy for repeated fact-dim
    joins on a stable key — the write-side shuffle is paid once,
    reads co-locate forever after, and the bucket count scales the
    parallelism independently of file count."""
    tbl_o, tbl_c = ensure_bucketed_star(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(tbl_o)
        c = spark.table(tbl_c)
        out = (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.countDistinct("o_custkey").cast("long").alias("n_customers"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("revenue_cents"),
            )
            .orderBy("c_mktsegment")
        )
        # Force the plan while the conf is pinned: the memory-sink rows
        # ARE the result; the eager collect keeps the no-broadcast plan.
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Dynamic partition overwrite: the partial-rewrite sink contract
# ---------------------------------------------------------------------------
_DPO_LO, _DPO_HI = "2024-01-10", "2024-01-13"  # [lo, hi) patched days


@query(
    "q_dynamic_partition_overwrite",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_DPO_LO}'
                          AND ts <  TIMESTAMP '{_DPO_HI}'
                         THEN 2 * CAST(FLOOR(value * 1e6) AS BIGINT)
                         ELSE CAST(FLOOR(value * 1e6) AS BIGINT)
                    END) AS BIGINT) AS value_micros
    FROM events
    GROUP BY day ORDER BY day
    """,
    tags=("sink", "partition-overwrite", "extension"),
)
def q_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (round-8f — the sink semantics
    between append and truncate that every partitioned lake relies on:
    a backfill job rewrites THE PARTITIONS IT PRODUCES and must leave
    every other partition untouched; static overwrite mode would
    truncate the whole table): the day-partitioned events zone is
    written, then a 3-day correction patch (value micros doubled) is
    written with ``partitionOverwriteMode=dynamic`` — only the 3
    patched day-partitions are replaced.  The final per-day aggregate
    is hashed against an oracle that recomputes the CASE-patched
    totals from raw events, so a match proves (a) the patched days
    carry exactly the patch and (b) the other 27 days survived the
    overwrite bit-for-bit.

    Scale: the overwrite moves only the patch's partitions through the
    committer — work ∝ patch size, not table size; this is the
    idempotent-backfill primitive at any scale."""
    tag = sf_tag(sf_dir)
    path = fresh_scratch(f"dpo_zone_{tag}")

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
        F.floor(F.col("value") * 1e6).cast("long").alias("micros"),
    )
    e.write.partitionBy("day").mode("overwrite").parquet(path)

    patch = e.filter(
        (F.col("day") >= F.lit(_DPO_LO).cast("date"))
        & (F.col("day") < F.lit(_DPO_HI).cast("date"))
    ).withColumn("micros", F.col("micros") * 2)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.partitionBy("day").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    return (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("micros").cast("long").alias("value_micros"),
        )
        .orderBy("day")
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

    d = load(spark, sf_dir, "documents").select("doc_id").repartition(fanout_partitions(spark))
    return d.mapInPandas(
        run,
        schema=(
            "doc_id long, n_out long, sum_abs long, max_abs long,"
            " n_zero_cross long, roundtrip_ok boolean"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Chained streaming windows: two stateful operators in one query
# ---------------------------------------------------------------------------
@query(
    "q_streaming_chained_windows",
    oracle="""
    WITH m AS (
        SELECT date_trunc('minute', ts) AS minute, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('hour', minute) AS TIMESTAMP)
               + INTERVAL (CAST(EXTRACT(minute FROM minute) AS INT) // 10 * 10) MINUTE
               AS w10_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_minutes,
           CAST(MAX(n) AS BIGINT) AS peak_minute_events,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM m GROUP BY 1, 2
    ORDER BY w10_start, event_type
    """,
    tags=("streaming", "chained-windows", "extension"),
)
def q_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED event-time windows in ONE streaming query (round-8f —
    Spark 3.4's multiple-stateful-operator support, the surface none
    of the existing streaming queries exercise: every prior query has
    exactly one stateful operator; re-aggregating a windowed aggregate
    used to require two queries and an intermediate sink): minute
    counts per event_type (stateful op #1) re-aggregated into 10-minute
    peak/total rollups keyed by ``window_time`` (stateful op #2), both
    in append mode in a single plan.  The replay is the sentinel-
    flushed zone (1 file per trigger) so the watermark crosses BOTH
    operators' windows and flushes them; sentinel windows land in 2099
    and are dropped by the year filter.  The oracle recomputes both
    window levels in batch SQL — a hash match proves the chained state
    machines compose to the relational two-level GROUP BY.

    Scale: the second operator's state is minute-cardinality (already
    1000x reduced), and the chain eliminates the intermediate sink +
    re-read that a two-query pipeline pays at any scale."""
    from .. import streaming
    from ..streaming import _convert_ts

    streaming.read_events_stream_with_flush(spark, sf_dir)  # stage zone
    tag = sf_tag(sf_dir)
    zone = SCRATCH / f"stream_src_{tag}_flush"
    schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema
    stream = _convert_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    ).filter(
        (
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        # sentinel rows must SURVIVE to advance the watermark
        | (F.col("ts") >= F.lit("2099-01-01").cast("timestamp"))
    )
    minute = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ten = (
        minute.groupBy(
            F.window(F.window_time("w1"), "10 minutes").alias("w10"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_minutes"),
            F.max("n").cast("long").alias("peak_minute_events"),
            F.sum("n").cast("long").alias("total_events"),
        )
        .select(
            F.col("w10.start").alias("w10_start"),
            "event_type",
            "n_minutes",
            "peak_minute_events",
            "total_events",
        )
    )
    sink = streaming.run_to_memory_append_available_now(ten, partitions=4)
    return (
        spark.table(sink)
        .filter(F.col("w10_start") < F.lit("2030-01-01").cast("timestamp"))
        .orderBy("w10_start", "event_type")
    )
