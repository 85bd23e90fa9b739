"""Query surface package.

Importing this package populates :data:`market_etl_spark.queries.registry.REGISTRY`
with every query the engine claims — the driver contract (``__spark_entry__.py``)
and the bench both read the registry, so registration must not depend on callers
knowing which modules to import.

Queries live in domain modules and may be imported in any order: the
registry's iteration order is part of the contract and is pinned by
``registration_order.txt`` (one name per line), applied after the imports.
A query added or removed without updating that list fails the import.
"""

from __future__ import annotations

import pathlib

from . import behavior  # noqa: F401
from . import cluster_corpus  # noqa: F401
from . import corpus  # noqa: F401  (imports register queries)
from . import corpus_stats  # noqa: F401
from . import datasets_corpus  # noqa: F401
from . import etl_pipeline  # noqa: F401
from . import governance  # noqa: F401
from . import lakehouse_drills  # noqa: F401
from . import llm_corpus  # noqa: F401
from . import monitoring  # noqa: F401
from . import relational_ext  # noqa: F401
from . import sql_features  # noqa: F401
from . import stats_sketches  # noqa: F401
from . import streaming_corpus  # noqa: F401
from . import tpch  # noqa: F401
from . import trades  # noqa: F401
from . import windows  # noqa: F401
from .registry import REGISTRY, QuerySpec, pin_order, query

pin_order(
    (pathlib.Path(__file__).parent / "registration_order.txt").read_text().split()
)

__all__ = ["REGISTRY", "QuerySpec", "query"]
