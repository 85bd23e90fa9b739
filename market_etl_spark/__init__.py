"""market_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference lakehouse
pipeline ``harshvardhanvn1/market-etl`` (see SURVEY.md): ingest utilities,
a schema-enforced CSV→Parquet ETL with data-quality filtering and Hive
partitioning, and a relational analytics corpus — plus large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB-scale Spark clusters.

Everything is declared through the DataFrame/SQL API so Catalyst owns the
physical plan: partition pruning, predicate pushdown, broadcast joins,
whole-stage codegen and AQE come for free.
"""

__version__ = "0.1.0"

import os

from pyspark import SparkContext

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _with_root(path: str | None) -> str:
    parts = [p for p in (path or "").split(os.pathsep) if p and p != _ROOT]
    return os.pathsep.join([_ROOT, *parts])


# Python workers (mapInPandas/applyInPandas evaluators, UDFs, the
# registered DataSources) unpickle engine functions by reference, so they
# import this package.  Put its root on their path whatever the driver's
# working directory: through the environment of a JVM started after this
# import, and through the worker environment of a context already running.
os.environ["PYTHONPATH"] = _with_root(os.environ.get("PYTHONPATH"))
if SparkContext._active_spark_context is not None:
    _env = SparkContext._active_spark_context.environment
    _env["PYTHONPATH"] = _with_root(_env.get("PYTHONPATH"))
