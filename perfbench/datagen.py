"""Seeded input tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one Parquet
file each, with the schemas and value domains of the sf-scaled test data
the registry's oracles were written against: TPC-H-shaped keys and
enums, a January-2024 ``events`` stream, a 31-word ``documents`` corpus
with exact and near duplicates, and 64-d unit ``embeddings`` clustered by
``label``.  The same seed gives byte-identical tables.

Row counts scale linearly from the sf0.01 shape (60k lineitem rows).
"""

from __future__ import annotations

import datetime as dt
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at sf0.01; dimensions do not scale.
BASE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _micros(d: dt.date) -> int:
    """Naive-UTC epoch microseconds of a date's midnight."""
    return (dt.datetime(d.year, d.month, d.day) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Midnight timestamps uniformly between two dates (inclusive)."""
    day = 86_400_000_000
    d = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_micros(lo) + d * day, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(int(round(r * sf / 0.01)), 1) for t, r in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32()),
    })

    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, k), pa.int32()),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k)],
    })

    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, k), pa.int32()),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })

    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    retail = np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(k), pa.int64()),
        "p_name": [names[i] for i in rng.integers(0, len(names), k)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": retail,
    })

    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)],
    })

    k = n["lineitem"]
    partkey = rng.integers(0, n["part"], k)
    qty = rng.integers(1, 51, k).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, k)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, k)],
        "l_shipdate": _days(rng, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })

    k = n["events"]
    start = _micros(dt.date(2024, 1, 1))
    span = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span, k, replace=False)) + start
    value = np.round(rng.exponential(50.0, k), 2)
    value[rng.random(k) < 0.002] = 0.0  # DQ-droppable trades (price = 0)
    out["events"] = pa.table({
        "event_id": pa.array(range(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(k // 66, 10), k), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, k)],
        "value": value,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
    })

    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, k: int) -> pa.Table:
    """Random word sequences; 5% are near duplicates of an earlier
    document (one word changed, ``dup`` appended) and a few are exact
    copies of an earlier document, so every dedup family has work."""
    texts: list[str] = []
    for i in range(k):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    return pa.table({
        "doc_id": pa.array(range(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), k)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, k: int) -> pa.Table:
    """64-d unit vectors around one random centroid per label (10 labels)."""
    dim, labels = 64, 10
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, k)
    x = 0.08 * centroids[label] + rng.normal(0.0, 1.0, (k, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(range(k), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, k * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(dest: pathlib.Path, seed: int, sf: float) -> pathlib.Path:
    dest.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, dest / f"{name}.parquet")
    return dest
