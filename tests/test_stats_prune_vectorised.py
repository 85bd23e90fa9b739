"""The checkpoint planner decides each batch of add stats with
``pyarrow.compute``; its decisions must equal ``lakehouse._stats_admit``
applied file by file (what ``lakehouse.prune_files`` does), including
the rows it hands back to that rule.  Spark-free."""

from __future__ import annotations

import datetime
import json

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from market_etl_spark import lakehouse as lk
from market_etl_spark import lakehouse_checkpoint as ck

_META = {
    "schema": [["i", "bigint"], ["f", "double"], ["s", "string"], ["d", "date"]]
}
_OPS = ("=", "<", "<=", ">", ">=", "in")
_I64 = (-(2**63), 2**63 - 1)

_ints = st.one_of(st.integers(*_I64), st.sampled_from([*_I64, -1, 0, 1, 2**53 + 1]))
_floats = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False),
    st.sampled_from([0.0, -0.0, 0.5, 2.0**53, 2.0**63, -1e300]),
)
_strings = st.one_of(
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=8),
    st.sampled_from(
        ["2024-01-05", "2024-01-05T10:00:00", "2024-01-06", "a" * 70, "é"]
    ),
)
_dates = st.dates().map(datetime.date.isoformat)
_BOUNDS = {"i": _ints, "f": _floats, "s": _strings, "d": _dates}
# any bound may come from another type: a mixed-type column
_any_bound = st.one_of(_ints, _floats, _strings)
_keys = st.one_of(
    _any_bound,
    st.booleans(),
    st.sampled_from([float("nan"), float("inf"), 2**70, None]),
    st.dates(),
    st.datetimes(),
)


@st.composite
def _file_stats(draw, col: str) -> str:
    """One add action's stats JSON string, as the checkpoint stores it."""
    if draw(st.integers(0, 9)) == 0:
        return ""  # no stats
    rows = draw(st.integers(0, 20))
    cols = {}
    shape = draw(st.sampled_from(["bounded", "bounded", "all_null", "absent"]))
    if shape == "all_null":
        cols[col] = {"min": None, "max": None, "nulls": rows}
    elif shape == "bounded":
        mixed = draw(st.integers(0, 9)) == 0
        src = _any_bound if mixed else _BOUNDS[col]
        lo, hi = draw(src), draw(src)
        try:
            lo, hi = min(lo, hi), max(lo, hi)
        except TypeError:
            pass
        cols[col] = {"min": lo, "max": hi, "nulls": draw(st.integers(0, rows))}
    body = {"rows": rows, "bytes": 100, "cols": cols}
    if draw(st.integers(0, 9)) == 0:
        del body["rows"]
    return json.dumps(body)


def _per_row(stats, predicate):
    return [
        all(
            lk._stats_admit(json.loads(s) if s else None, c, op, v)
            for c, op, v in predicate
        )
        for s in stats
    ]


def _vectorised(stats, predicate):
    keep = ck._stats_pruner(_META, predicate)
    return keep(pa.array(stats, pa.string())).tolist()


@st.composite
def _case(draw):
    col = draw(st.sampled_from(["i", "f", "s", "d"]))
    stats = draw(st.lists(_file_stats(col), min_size=1, max_size=12))
    # keys equal to some file's bounds hit the = / <= / >= edges
    bounds = [
        b
        for s in stats
        if s
        for c in json.loads(s)["cols"].values()
        for b in (c["min"], c["max"])
        if b is not None
    ]
    key = st.one_of(_keys, st.sampled_from(bounds)) if bounds else _keys
    predicate = []
    for _ in range(draw(st.integers(1, 2))):
        op = draw(st.sampled_from(_OPS))
        val = draw(st.lists(key, max_size=3)) if op == "in" else draw(key)
        predicate.append((draw(st.sampled_from([col, col, "nope"])), op, val))
    return stats, predicate


@settings(
    max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(_case())
def test_vectorised_prune_equals_stats_admit(case):
    stats, predicate = case
    assert _vectorised(stats, predicate) == _per_row(stats, predicate)


def _one(col, lo, hi, rows=10, nulls=0):
    return json.dumps(
        {"rows": rows, "cols": {col: {"min": lo, "max": hi, "nulls": nulls}}}
    )


@pytest.mark.parametrize(
    "stats, predicate, want",
    [
        # a mixed-type column: one file's int stats are strings
        ([_one("i", 0, 9), _one("i", "a", "z"), _one("i", 20, 29)],
         [("i", "<", 5)], [True, True, False]),
        # a date column against a datetime value: midnight promotion
        ([_one("d", "2024-01-01", "2024-01-05"), _one("d", "2024-01-06", "2024-01-09")],
         [("d", "<=", datetime.datetime(2024, 1, 5))], [True, False]),
        # an ambiguous date-like string: plain-str key, mixed ISO shapes
        ([_one("s", "2024-01-05", "2024-01-05T10:00:00"), _one("s", "a", "b")],
         [("s", "=", "2024-01-06")], [True, False]),
        # a value whose type differs from the column's stats
        ([_one("i", 5, 9), _one("i", 6, 9)], [("i", "<", 5.5)], [True, False]),
        # an integer stat past 2**53 in a double column
        ([_one("f", 0.5, 2**53 + 1), _one("f", 0.5, 1.5)],
         [("f", ">", 2.0**53)], [True, False]),
    ],
    ids=["mixed_type_column", "date_vs_datetime", "ambiguous_date_string",
         "fraction_vs_int_column", "int_stat_past_2_53_in_double_column"],
)
def test_fallback_rows_decide_like_stats_admit(stats, predicate, want):
    assert _per_row(stats, predicate) == want
    assert _vectorised(stats, predicate) == want


def test_plain_batches_never_reach_the_row_rule(monkeypatch):
    stats = [_one("i", 0, 9), _one("i", 10, 19, rows=0), "", _one("f", 1.5, 2.5),
             _one("s", "a", "m"), _one("i", 5, 5, rows=4, nulls=4)]
    predicate = [("i", "in", [3, 12]), ("f", ">=", 2), ("s", "<", "b")]
    want = _per_row(stats, predicate)

    def refuse(*_a):
        raise AssertionError("decided row by row")

    monkeypatch.setattr(lk, "_stats_admit", refuse)
    assert _vectorised(stats, predicate) == want
