"""Session defaults that ``get_spark`` sets at build time."""

from __future__ import annotations


def test_get_spark_turns_the_console_progress_bar_off(spark):
    """Stage-progress frames would interleave with harness rows on stderr."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"


def test_warm_plans_reuse_their_generated_classes(spark):
    """More distinct whole-stage plans than Spark's default cache of 100
    compile once each; planning them again compiles nothing."""
    from market_etl_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = 120

    def compile_all() -> int:
        before = compiled.getCount()
        for i in range(2, 2 + n):
            # An inlined literal makes each plan's class distinct.  A fresh
            # plan generates its source again and looks it up in the cache;
            # execute() compiles on the driver and runs no job.
            spark.range(3).selectExpr(f"id * {i} AS v")._jdf.queryExecution().executedPlan().execute()
        return compiled.getCount() - before

    assert compile_all() >= n
    assert compile_all() == 0
