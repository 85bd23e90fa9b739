"""Python workers must be able to import the engine package whatever the
driver's working directory.

Functions shipped to executors reference engine functions (the
distributed footer-stats job runs :func:`lakehouse._file_stats`), and the
``lakehouse`` DataSource plans and commits on Python workers.  Workers
unpickle those functions by importing ``market_etl_spark``, which used to
work only when the driver ran from the repository root.  The package puts
its root on the workers' path when it is imported, before or after the
session starts."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import os
    import pathlib
    import sys
    from pyspark.sql import SparkSession

    def session():
        return (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )

    if sys.argv[3] == "session_first":
        spark = session()
    sys.path.insert(0, sys.argv[1])
    from market_etl_spark import lakehouse as lk
    from market_etl_spark import lakehouse_checkpoint as ck
    from market_etl_spark.lakehouse_datasource import register

    spark = session()
    path = sys.argv[2]
    for i in range(2):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame([(i * 10 + j,) for j in range(10)], "id long")
            .coalesce(1)
        )
        t.commit()
    live = lk.snapshot(path).adds()
    paths = [os.path.join(path, f) for f in sorted(live)]
    got = ck.stats_distributed(spark, paths)
    want = {p: lk._file_stats(pathlib.Path(p)) for p in paths}
    print("STATS", got == want, len(got))
    ck.write_parquet_checkpoint(path)  # the source then plans from it
    register(spark)
    spark.range(20, 25).write.format("lakehouse").mode("append").save(path)
    n = spark.read.format("lakehouse").load(path).filter("id < 5 or id >= 20").count()
    print("READ", n)
    spark.stop()
    """
)


@pytest.mark.parametrize("order", ["import_first", "session_first"])
def test_workers_import_the_engine_from_outside_the_repo(tmp_path, order):
    script = tmp_path / "stats.py"
    script.write_text(_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script), _REPO, str(tmp_path / "t"), order],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "STATS True 2" in out.stdout, out.stderr[-3000:]
    assert "READ 10" in out.stdout, out.stderr[-3000:]
