"""Query surface package.

Importing this package populates :data:`market_etl_spark.queries.registry.REGISTRY`
with every query the engine claims — the driver contract (``__spark_entry__.py``)
and the bench both read the registry, so registration must not depend on callers
knowing which modules to import.
"""

from __future__ import annotations

from . import behavior  # noqa: F401
from . import cluster_corpus  # noqa: F401
from . import corpus  # noqa: F401  (imports register queries)
from . import corpus_stats  # noqa: F401
from . import datasets_corpus  # noqa: F401
from . import etl_pipeline  # noqa: F401
from . import llm_corpus  # noqa: F401
from . import relational_ext  # noqa: F401
from . import sql_features  # noqa: F401
from . import streaming_corpus  # noqa: F401
from . import tpch  # noqa: F401
from . import trades  # noqa: F401
from . import windows  # noqa: F401
from . import governance  # noqa: F401
from . import monitoring  # noqa: F401
from . import round7  # noqa: F401
from . import round8  # noqa: F401
from . import round8b  # noqa: F401
from . import round8c  # noqa: F401
from . import round8d  # noqa: F401
from . import round8e  # noqa: F401
from . import round8f  # noqa: F401
from . import round9  # noqa: F401
from . import lakehouse_drills  # noqa: F401
from . import stats_sketches  # noqa: F401  (last: registration order is part of the contract)
from .registry import REGISTRY, QuerySpec, query

__all__ = ["REGISTRY", "QuerySpec", "query"]
