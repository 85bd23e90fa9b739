"""Focused tests for the round-14 audit-fold helpers
(:mod:`market_etl_spark.queries._audit`) — the shared machinery the
optimization round routed drill audits through.  The contract under
test: each helper's verdicts are VALUE-IDENTICAL to the multi-job form
it replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_etl_spark.queries._audit import (
    concurrently,
    digest_pairs_equal,
    hashed,
)


def _digest(df):
    """The two-job form the helper folds: per-side (count, bit_xor)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("x")
    ).collect()[0]
    return None if r.n == 0 else (r.n, r.x)


def test_digest_pairs_match_and_mismatch(spark):
    a = spark.range(100).select(F.col("id").alias("k"))
    b = spark.range(100).select(F.col("id").alias("k"))  # equal multiset
    c = spark.range(99).select(F.col("id").alias("k"))  # differs
    d = spark.range(100).select((F.col("id") * 2).alias("k"))  # differs
    pairs = [
        (hashed(a, "k"), hashed(b, "k")),
        (hashed(a, "k"), hashed(c, "k")),
        (hashed(a, "k"), hashed(d, "k")),
    ]
    got = digest_pairs_equal(pairs)
    assert got == [True, False, False]
    # parity with the per-side two-job digests the fold replaced
    want = [
        _digest(hashed(a, "k")) == _digest(hashed(b, "k")),
        _digest(hashed(a, "k")) == _digest(hashed(c, "k")),
        _digest(hashed(a, "k")) == _digest(hashed(d, "k")),
    ]
    assert got == want


def test_digest_pairs_duplicate_rows_not_conflated(spark):
    # bit_xor alone would cancel an even duplicate; the count half of
    # the digest must catch it
    a = spark.range(4).select(F.col("id").alias("k"))
    dup = a.unionAll(a).unionAll(a)  # same values, 3x multiplicity
    assert digest_pairs_equal([(hashed(a, "k"), hashed(dup, "k"))]) == [
        False
    ]


def test_digest_pairs_empty_sides(spark):
    e1 = spark.range(0).select(F.col("id").alias("k"))
    e2 = spark.range(0).select(F.col("id").alias("k"))
    a = spark.range(3).select(F.col("id").alias("k"))
    got = digest_pairs_equal(
        [
            (hashed(e1, "k"), hashed(e2, "k")),  # empty == empty
            (hashed(a, "k"), hashed(e1, "k")),  # non-empty != empty
        ]
    )
    assert got == [True, False]


def test_hashed_column_order_matters(spark):
    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    assert digest_pairs_equal(
        [(hashed(df, "a", "b"), hashed(df, "b", "a"))]
    ) == [False]


def test_concurrently_results_in_order(spark):
    thunks = [
        (lambda n=n: spark.range(n + 1).count()) for n in range(5)
    ]
    assert concurrently(*thunks) == [1, 2, 3, 4, 5]


def test_digest_equal_count_even_multiplicity_not_conflated(spark):
    # ADVICE r14: with (count, bit_xor) alone, two different multisets
    # whose elements all have EVEN multiplicity digest equal at equal
    # counts ({a,a,b,b} vs {c,c,d,d}: xor cancels to 0 on both sides).
    # The decimal-sum component added to the same single-job aggregate
    # must tell them apart.
    a2 = spark.createDataFrame([(1,), (1,), (2,), (2,)], "k long")
    c2 = spark.createDataFrame([(3,), (3,), (4,), (4,)], "k long")
    assert digest_pairs_equal([(hashed(a2, "k"), hashed(c2, "k"))]) == [
        False
    ]
    # and identical even-multiplicity multisets still compare equal
    assert digest_pairs_equal([(hashed(a2, "k"), hashed(a2, "k"))]) == [
        True
    ]


def test_concurrently_threads_carry_the_job_group(spark):
    # the audit passes' jobs must be billed to the caller's job group;
    # a plain pool thread starts with no local properties
    sc = spark.sparkContext
    sc.setJobGroup("g", "concurrently job-group inheritance")
    try:
        got = concurrently(
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert got == ["g", "g"]


def test_concurrently_empty_is_noop(spark):
    # ADVICE r14: ThreadPoolExecutor(max_workers=0) raises; zero
    # thunks must return [] instead
    assert concurrently() == []


def test_left_join_fold_requires_unique_keys(spark):
    # Documents the q_lakehouse_sql_dml fold's precondition (VERDICT
    # r14): the one-job left-join classification equals the separate
    # semi/anti counts ONLY when the right side's key is unique.  A
    # duplicated live key multiplies its matching src row.
    src = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    uniq = spark.createDataFrame([(1,), (2,)], "k long").select(
        F.col("k").alias("lk"), F.lit(True).alias("_live")
    )
    dup = spark.createDataFrame([(1,), (1,), (2,)], "k long").select(
        F.col("k").alias("lk"), F.lit(True).alias("_live")
    )

    def fold_counts(keys):
        r = (
            src.join(keys, src.k == keys.lk, "left")
            .agg(
                F.count_if(F.col("_live").isNotNull()).alias("matched"),
                F.count_if(F.col("_live").isNull()).alias("unmatched"),
            )
            .collect()[0]
        )
        return r.matched, r.unmatched

    n_semi = src.join(uniq, src.k == uniq.lk, "left_semi").count()
    n_anti = src.join(uniq, src.k == uniq.lk, "left_anti").count()
    assert fold_counts(uniq) == (n_semi, n_anti) == (2, 1)
    # with a duplicate key the fold's matched count inflates — the
    # equivalence breaks, which is why the drill's comment pins the
    # uniqueness precondition
    assert fold_counts(dup) == (3, 1) != (n_semi, n_anti)
