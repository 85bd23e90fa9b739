"""Plan-shape assertions for the bucketed co-located join
(q_bucketed_join_no_shuffle): the point of the layout is that the
fact-dim join plans with ZERO shuffle exchanges below the join — the
bucket-aligned scans ARE the exchange, paid once at write time.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from market_etl_spark.queries.etl_pipeline import _N_BUCKETS, ensure_bucketed_star


def _join_plan(spark):
    tbl_o, tbl_c = ensure_bucketed_star(spark, SF_SMOKE)
    o = spark.table(tbl_o)
    c = spark.table(tbl_c)
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return j._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_plans_without_shuffle(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _join_plan(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    # bucket-pruned scans surface the bucket spec
    assert "SelectedBucketsCount" in plan, plan
    assert f"{_N_BUCKETS} out of {_N_BUCKETS}" in plan, plan
    # the ONLY exchange allowed is the post-join aggregation by
    # c_mktsegment; the join inputs must be exchange-free.
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree, plan


def test_bucketed_join_matches_raw_join(spark):
    tbl_o, tbl_c = ensure_bucketed_star(spark, SF_SMOKE)
    o = spark.table(tbl_o)
    c = spark.table(tbl_c)
    got = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .count()
        .orderBy("c_mktsegment")
        .collect()
    )
    ro = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    rc = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    want = (
        ro.join(rc, ro["o_custkey"] == rc["c_custkey"])
        .groupBy("c_mktsegment")
        .count()
        .orderBy("c_mktsegment")
        .collect()
    )
    assert got == want
