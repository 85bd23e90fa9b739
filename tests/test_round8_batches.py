"""Unit tests for the round-8 fifth/sixth-batch internals: the pieces
whose correctness the oracle hash can't isolate on its own —
closed-form constants, weight-table invariants, the winnowing coverage
guarantee, and the partition-overwrite isolation invariant.
"""

from __future__ import annotations

import math
import pathlib
import shutil

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from market_etl_spark.queries.llm_corpus import _WIN_W
from market_etl_spark.queries.stats_sketches import (
    _ACK_A,
    _ACK_B,
    _KF_ROWS,
    _KF_TMAX,
    _kalman_weights,
)


def _acklam(p: float) -> float:
    a1, a2, a3, a4, a5, a6 = _ACK_A
    b1, b2, b3, b4, b5 = _ACK_B
    q = p - 0.5
    r = q * q
    num = ((((a1 * r + a2) * r + a3) * r + a4) * r + a5) * r + a6
    den = ((((b1 * r + b2) * r + b3) * r + b4) * r + b5) * r + 1
    return num * q / den


def test_acklam_matches_known_normal_quantiles():
    # reference values of Phi^{-1} to 6+ dp
    for p, z in [
        (0.975, 1.959964),
        (0.95, 1.644854),
        (0.90, 1.281552),
        (0.80, 0.841621),
        (0.50, 0.0),
    ]:
        assert abs(_acklam(p) - z) < 5e-6, (p, _acklam(p), z)
    # symmetry on the central branch
    assert abs(_acklam(0.25) + _acklam(0.75)) < 1e-12


def test_kalman_weights_are_a_convex_combination():
    rows = _kalman_weights()
    assert rows == _KF_ROWS  # deterministic
    by_t: dict[int, list[tuple[int, float]]] = {}
    for t, j, w in rows:
        by_t.setdefault(t, []).append((j, w))
    assert set(by_t) == set(range(1, _KF_TMAX + 1))
    for t, pairs in by_t.items():
        assert sorted(j for j, _ in pairs) == list(range(1, t + 1))
        total = math.fsum(w for _, w in pairs)
        # k_1 = 1 (diffuse init) makes each row sum to exactly 1
        assert abs(total - 1.0) < 1e-9, (t, total)
        assert all(w > 0 for _, w in pairs)
    # gains converge: late weights decay geometrically back in time
    last = dict(by_t[_KF_TMAX])
    assert last[_KF_TMAX] > last[_KF_TMAX - 1] > last[_KF_TMAX - 5]


def test_winnowing_selects_at_least_one_per_window(spark):
    """The winnowing guarantee: every window of _WIN_W consecutive
    k-grams contributes a selected fingerprint position inside it, so
    any match of length >= w + k - 1 shares a fingerprint."""
    from market_etl_spark.queries.llm_corpus import llm_winnowing_fingerprint  # noqa: F401
    from market_etl_spark.tables import load
    from pyspark.sql import Window

    d = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 5)
    g = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    key = (
        F.conv(F.substring(F.md5(F.expr("substring(text, i, 8)")), 1, 8), 16, 10)
        .cast("long")
        * 16777216
        + (F.lit(16777215) - F.col("i"))
    )
    h = g.select("doc_id", "i", key.alias("key"))
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(_WIN_W - 1), 0)
    sel = h.select("doc_id", "i", F.min("key").over(win).alias("mk")).filter(
        F.col("i") >= _WIN_W
    )
    rows = sel.collect()
    for r in rows:
        pos = 16777215 - (r.mk % 16777216)
        # the selected position lies inside the window ending at i
        assert r.i - _WIN_W + 1 <= pos <= r.i, (r.i, pos)


def test_dynamic_overwrite_leaves_untouched_partitions_bytes_intact(spark):
    """Dynamic partition overwrite must not rewrite partitions outside
    the patch: the file inventory (names + sizes) of an untouched day
    is identical before and after the patch write."""
    from market_etl_spark.queries.etl_pipeline import SCRATCH
    from market_etl_spark.tables import load

    path = SCRATCH / "dpo_isolation_test"
    shutil.rmtree(path, ignore_errors=True)
    e = load(spark, SF_SMOKE, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.floor(F.col("value") * 1e6).cast("long").alias("micros"),
    )
    e.write.partitionBy("day").mode("overwrite").parquet(str(path))

    untouched = path / "day=2024-01-05"
    before = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in untouched.glob("*.parquet")
    )
    assert before, "expected files in the untouched partition"

    patch = e.filter(
        (F.col("day") >= F.lit("2024-01-10").cast("date"))
        & (F.col("day") < F.lit("2024-01-13").cast("date"))
    ).withColumn("micros", F.col("micros") * 2)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.partitionBy("day").mode("overwrite").parquet(str(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    after = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in untouched.glob("*.parquet")
    )
    assert after == before
    # and the patched day WAS rewritten
    patched = path / "day=2024-01-10"
    assert any(p.suffix == ".parquet" for p in patched.iterdir())
    shutil.rmtree(path, ignore_errors=True)


def test_jarque_bera_pseudo_mean_shift_is_exact(spark):
    """The shifted-power-sum recipe reproduces naive central moments on
    a small frame (float reference): guards the delta-correction
    algebra in q_jarque_bera_normality."""
    from market_etl_spark.tables import load

    rows = [
        float(r.x)
        for r in load(spark, SF_SMOKE, "events")
        .select(F.floor("value").cast("long").alias("x"))
        .limit(500)
        .collect()
    ]
    n = len(rows)
    mean = math.fsum(rows) / n
    m2 = math.fsum((x - mean) ** 2 for x in rows) / n
    m3 = math.fsum((x - mean) ** 3 for x in rows) / n
    m4 = math.fsum((x - mean) ** 4 for x in rows) / n
    c = int(math.fsum(rows)) // n
    d = mean - c
    e2 = math.fsum((x - c) ** 2 for x in rows) / n
    e3 = math.fsum((x - c) ** 3 for x in rows) / n
    e4 = math.fsum((x - c) ** 4 for x in rows) / n
    assert abs((e2 - d * d) - m2) < 1e-6 * max(1, abs(m2))
    assert abs((e3 - 3 * d * e2 + 2 * d**3) - m3) < 1e-6 * max(1, abs(m3))
    assert (
        abs((e4 - 4 * d * e3 + 6 * d * d * e2 - 3 * d**4) - m4)
        < 1e-6 * max(1, abs(m4))
    )
