"""Registry ⇄ driver-contract invariants.

The driver canonicalizes each query's result through pandas
(``toPandas`` → sort columns by name → sort rows → hash values).
Top-level ``array``/``map``/``struct`` columns arrive as numpy arrays /
dicts, which are **unhashable** — the canonicalizer crashes with
``TypeError: unhashable type: 'numpy.ndarray'``.  Two rounds were lost
to this class (round-2 ``q_value_quartiles``, round-3
``q_session_paths``); this gate makes the third impossible: every
registered query's *declared* output schema must be flat scalars.

Complex values are still first-class inside a query — aggregate into
arrays, sort them, transform them — but the registered rendering must
serialize them (``array_join``, ``to_json``, posexplode to rows) before
returning.

Also machine-derives the COVERAGE.md headline totals from the registry
itself so the counts cannot drift (VERDICT r3 item 7).
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import types as T

from market_etl_spark.queries import REGISTRY

from conftest import SF_SMOKE

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Queries whose CALL runs jobs (stream drains, zone materialization,
#: persisted index builds).  Their outputs are schema-checked from the
#: same sweep their own tests run — here we only need the *declared*
#: schema, so we call them once at smoke scale like their tests do.
_SIDE_EFFECT_PREFIXES = ("q_streaming_",)
_SIDE_EFFECT = {
    "q_etl_pipeline_roundtrip",
    "q_sql_text_whales",
    "llm_ivf_index_topk",
    "q_trades_sanity_summary",
    "q_trades_partition_histogram",
    "q_trades_whales_approx",
    "q_trades_pruned_day_vwap",
    "q_trades_dpp_join",
    "q_merge_upsert",
    "q_snapshot_diff",
    "q_json_source_roundtrip",
    "q_orc_source_roundtrip",
    "q_schema_evolution_roundtrip",
    "q_tombstone_forget",
    "q_rollup_incremental_refresh",
    "llm_incremental_dedup",
    "q_sessionize",
    "q_scd2_apply",
    "q_zorder_pruned_scan",
}

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def _fast_names():
    for name in REGISTRY:
        if name in _SIDE_EFFECT or name.startswith(_SIDE_EFFECT_PREFIXES):
            continue
        yield name


def _assert_flat(name: str, schema: T.StructType) -> None:
    bad = [f.name for f in schema.fields if isinstance(f.dataType, _COMPLEX)]
    assert not bad, (
        f"{name} returns complex top-level column(s) {bad} — the driver "
        "canonicalizer cannot hash numpy arrays/dicts (round-2/3 failure "
        "class). Serialize with array_join/to_json or explode to rows."
    )


@pytest.mark.parametrize("name", sorted(_fast_names()))
def test_no_complex_top_level_columns(spark, name):
    _assert_flat(name, REGISTRY[name].fn(spark, SF_SMOKE).schema)


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n in REGISTRY
        if n in _SIDE_EFFECT or n.startswith(_SIDE_EFFECT_PREFIXES)
    ),
)
def test_no_complex_top_level_columns_side_effect(spark, name):
    """Side-effect queries get the same flat-schema gate; the one call
    per query at smoke scale is the price of a complete guard (this
    failure class cost two rounds)."""
    _assert_flat(name, REGISTRY[name].fn(spark, SF_SMOKE).schema)


# ---------------------------------------------------------------------------
# Oracle output-type lint (the DuckDB HUGEINT class — cost rounds 3 AND 4)
# ---------------------------------------------------------------------------
#
# DuckDB widens integer SUM (plain or windowed) to HUGEINT (int128).
# ``fetchall()`` hands HUGEINT back as a Python int, so a fetchall-based
# local check passes — but the DRIVER canonicalizes through pandas, where
# HUGEINT coerces to float64 and ``5.0`` hash-mismatches Spark's ``5``.
# ``q_variant_props`` (r3) and ``q_cumulative_distinct_users`` (r4) each
# lost a round to exactly this.  Two gates make a third impossible:
#
#  1. ``DESCRIBE`` every oracle (plans without executing — covers ALL
#     oracles, side-effect queries included) and reject any HUGEINT /
#     UHUGEINT / unknown output column.
#  2. For every fast query, compare the oracle's DESCRIBE types against
#     the Spark query's declared schema per column at the class level
#     (int / float / bool / str / date / ts) — catching the *general*
#     repr-divergence family (int-vs-float, date-vs-timestamp), not just
#     the SUM-widening instance of it.

_DUCK_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in _DUCK_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def _duck_class(t: str) -> str:
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return t  # HUGEINT, INTERVAL, LIST(...) … — never class-equal, so flagged


def _spark_class(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    return str(dt)


def test_oracle_types_no_hugeint(duck):
    """Gate 1: no oracle's output schema may contain an int128 column.
    The fix at the query site is a one-line ``CAST(... AS BIGINT)`` on
    the final projection (pattern: etl_pipeline.py z-order oracle)."""
    leaks = []
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        for col, typ, *_ in duck.execute("DESCRIBE " + spec.oracle).fetchall():
            if "HUGEINT" in typ.upper():
                leaks.append((name, col, typ))
    assert not leaks, (
        f"DuckDB int128 leak in final oracle projection: {leaks} — pandas "
        "coerces HUGEINT to float64, so the driver hash-mismatches Spark's "
        "BIGINT (r3 q_variant_props / r4 q_cumulative_distinct_users class). "
        "CAST the offending aggregate to BIGINT in the oracle."
    )


@pytest.mark.parametrize(
    "name", sorted(n for n in _fast_names() if REGISTRY[n].oracle)
)
def test_oracle_types_match_spark_classes(duck, spark, name):
    """Gate 2: per-column type-class parity between the oracle's
    DESCRIBE output and the Spark query's declared schema."""
    spec = REGISTRY[name]
    dcols = {
        c: _duck_class(t)
        for c, t, *_ in duck.execute("DESCRIBE " + spec.oracle).fetchall()
    }
    scols = {
        f.name: _spark_class(f.dataType)
        for f in spec.fn(spark, SF_SMOKE).schema.fields
    }
    mismatches = {
        c: (dcols[c], scols[c])
        for c in dcols
        if c in scols and dcols[c] != scols[c]
    }
    assert not mismatches, (
        f"{name}: oracle/Spark type-class mismatch {mismatches} (duck, spark)"
        " — values canonicalize to different reprs through pandas, so the"
        " driver hash will diverge even when the numbers agree. CAST one"
        " side so the classes line up."
    )


def test_quadratic_oracles_pinned_to_small_sf():
    """The four queries whose DuckDB oracle brute-forces all pairs
    (O(n²) ground truth; measured 18+ min at sf0.1 vs seconds at
    sf0.01) must carry a spec-level scale cap so a harness running at
    sf0.1 skips the oracle instead of hanging."""
    quadratic = {
        "llm_minhash_near_dup",
        "llm_ngram_jaccard_pairs",
        "llm_dedup_clusters",
        "llm_simhash_near_dup",
    }
    for name in quadratic:
        spec = REGISTRY[name]
        assert spec.max_verify_sf is not None and spec.max_verify_sf <= 0.01, (
            f"{name} has an O(n²) oracle but no max_verify_sf cap"
        )
    uncapped = {
        n for n, s in REGISTRY.items() if s.max_verify_sf is None and s.oracle
    }
    assert quadratic.isdisjoint(uncapped)


def test_entry_ordering_unverified_first():
    """The driver checks only the first 50 ``queries()`` entries per
    round, so the ordering IS the verification schedule.  It must be
    derived from the CORRECTNESS ledgers (no hand lists — they drifted
    two rounds running): every unverified name sorts strictly before
    every verified one, registration order within each class."""
    import __spark_entry__ as ent

    ordered = list(ent.queries())
    assert sorted(ordered) == sorted(REGISTRY), "queries() must cover REGISTRY"

    verified = ent._verified_names() & set(REGISTRY)
    flags = [n in verified for n in ordered]
    # once we hit the verified tail we must never see an unverified name
    if True in flags:
        first_verified = flags.index(True)
        assert all(flags[first_verified:]), (
            "unverified query sorted after a verified one — the 50-slot "
            "window would skip it: "
            f"{[n for n, f in zip(ordered[first_verified:], flags[first_verified:]) if not f]}"
        )
    # registration order preserved within each class
    pos = {n: i for i, n in enumerate(REGISTRY)}
    for cls in (False, True):
        sub = [pos[n] for n, f in zip(ordered, flags) if f is cls]
        assert sub == sorted(sub), f"registration order broken in class verified={cls}"
    # the hand-maintained tuples must stay deleted
    assert not hasattr(ent, "_EARLY") and not hasattr(ent, "_LATER")


def test_window_budget_not_oversubscribed():
    """The driver verifies at most 50 queries per round, so the number
    of registered-but-unverified names must NEVER exceed 50 — rounds 3
    and 4 each recreated a deferred backlog by registering past the
    window's capacity.  This makes the budget structural: registering a
    query that would overflow the next round's window fails CI."""
    import __spark_entry__ as ent

    unverified = [n for n in REGISTRY if n not in ent._verified_names()]
    assert len(unverified) <= 50, (
        f"{len(unverified)} unverified queries exceed the driver's 50-slot "
        f"verification window; the overflow would carry to the round after "
        f"next unchecked. Stop registering until the ledger catches up. "
        f"Unverified: {unverified}"
    )


def test_coverage_md_counts_match_registry():
    """COVERAGE.md's headline totals are claims about REGISTRY; derive
    them here so the doc can't drift (r3: README said 124 while the
    registry had 125)."""
    n = len(REGISTRY)
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle)
    n_rows_only = n - n_oracle

    with open(os.path.join(_REPO, "COVERAGE.md")) as f:
        cov = f.read()
    m = re.search(r"(\d+) oracle-checked, (\d+) rows-only", cov)
    assert m, "COVERAGE.md headline 'N oracle-checked, M rows-only' missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_oracle, n_rows_only), (
        f"COVERAGE.md says {m.group(0)!r} but REGISTRY has "
        f"{n_oracle} oracle-checked / {n_rows_only} rows-only"
    )

    with open(os.path.join(_REPO, "README.md")) as f:
        readme = f.read()
    for pat in (r"\((\d+) entries\)", r"All (\d+) carry an ANSI-SQL oracle"):
        for count in re.findall(pat, readme):
            assert int(count) == n, (
                f"README.md count {count} != registry size {n} (pattern {pat})"
            )


#: sha256 of the registry's (name, oracle, tags, max_verify_sf) list, in
#: registration order.  Moving or merging query modules must leave it
#: unchanged: the oracles are the reference implementation, and
#: ``__spark_entry__.queries()`` orders verified queries by registration.
_REGISTRY_SHA256 = "9aafad772957d1ef0a78e66e8b46a422bdb002c3c60b3f937b6124c403d4fe05"


def test_registry_contract_pinned():
    import hashlib
    import json

    rows = [[n, s.oracle, list(s.tags), s.max_verify_sf] for n, s in REGISTRY.items()]
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    assert digest == _REGISTRY_SHA256, (
        "registry names, oracles, tags, caps or registration order changed"
    )
