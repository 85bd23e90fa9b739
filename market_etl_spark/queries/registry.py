"""Query registry: the engine's public query surface.

Every operator/query the engine claims is registered here with
 - a Spark builder ``(spark, sf_dir) -> DataFrame`` (the real implementation),
 - optionally an ANSI-SQL oracle string DuckDB can run over the same parquet
   tables, used by the correctness harness (row count + schema +
   order-insensitive value hash).

Column names are aliased identically on both sides — the comparison sorts
columns by name before hashing.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: Largest scale factor at which the ORACLE is feasible.  The Spark
    #: side scales fine; this caps verification when the DuckDB oracle
    #: is O(n²) by design (brute-force all-pairs ground truth — measured
    #: 18+ min over the 5k-doc sf0.1 corpus vs seconds at sf0.01).
    #: ``None`` = no cap.  Harnesses (tools/check.py) skip the oracle
    #: compare above this SF instead of hanging in DuckDB.
    max_verify_sf: float | None = None


#: name -> spec; populated at import time by the query modules.
REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    max_verify_sf: float | None = None,
):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name, fn, oracle, fn.__doc__ or "", tuple(tags), max_verify_sf
        )
        return fn

    return deco


def pin_order(names: list[str]) -> None:
    """Re-sort :data:`REGISTRY` in place into ``names`` order.

    Registration order is part of the public contract (the driver and the
    bench iterate the registry), so it is pinned by an explicit list rather
    than by module import order.  Raises, naming every offender, when the
    registered set and ``names`` differ."""
    listed = set(names)
    missing = [n for n in names if n not in REGISTRY]
    extra = [n for n in REGISTRY if n not in listed]
    dup = sorted(n for n, k in Counter(names).items() if k > 1)
    if missing or extra or dup:
        raise ValueError(
            "registration order list differs from the registered queries: "
            f"listed but not registered {missing}, registered but not listed "
            f"{extra}, listed twice {dup}"
        )
    specs = dict(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update((n, specs[n]) for n in names)
