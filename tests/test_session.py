"""Session defaults that ``get_spark`` sets at build time."""

from __future__ import annotations


def test_get_spark_turns_the_console_progress_bar_off(spark):
    """Stage-progress frames would interleave with harness rows on stderr."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
