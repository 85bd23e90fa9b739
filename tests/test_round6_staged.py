"""The 19 corpus-statistics and sketch queries of
:mod:`market_etl_spark.queries.stats_sketches`: engine-vs-DuckDB parity,
hand-computed semantics, and the type-class gates the registry enforces.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from market_etl_spark.queries import REGISTRY
from market_etl_spark.queries import stats_sketches as r6

from conftest import SF_SMOKE

_DUCK_TABLES = ("events", "documents", "embeddings")

#: The 19 queries this file covers, in registration order (the module
#: also holds other statistics queries with their own tests).
_NAMES = (
    "llm_gopher_rules",
    "llm_zipf_fit",
    "llm_tokenizer_fertility",
    "llm_embedding_covariance",
    "q_pagerank_transitions",
    "llm_source_overlap",
    "q_bollinger_breakouts",
    "q_hll_mergeable_rollup",
    "q_theta_sketch_setops",
    "q_kll_mergeable_quantiles",
    "llm_approx_topk_terms",
    "q_window_range_interval",
    "q_streaming_hll_distinct",
    "q_grouping_sets_profile",
    "q_user_value_gini",
    "q_asof_nearest",
    "q_percentile_modes",
    "q_median_abs_deviation",
    "q_bitmap_distinct_rollup",
)

#: name -> registry spec.
STAGED = {n: REGISTRY[n] for n in _NAMES}


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


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return str(v)


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_matches_oracle(spark, duck, name):
    """The driver's compare, inline: row count, column set, and
    order-insensitive canonicalized values."""
    fn, oracle = STAGED[name].fn, STAGED[name].oracle
    sdf = fn(spark, SF_SMOKE)
    srows, scols = sdf.collect(), sdf.columns
    ores = duck.execute(oracle)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert len(srows) == len(orows), (len(srows), len(orows))
    assert sorted(scols) == sorted(ocols)
    cs = sorted(scols)
    si = {c: i for i, c in enumerate(scols)}
    oi = {c: i for i, c in enumerate(ocols)}
    sk = sorted(tuple(repr(_canon(r[si[c]])) for c in cs) for r in srows)
    ok = sorted(tuple(repr(_canon(r[oi[c]])) for c in cs) for r in orows)
    assert sk == ok


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_oracle_types_clean(spark, duck, name):
    """The registry's HUGEINT + type-class gates, applied pre-activation
    (an int128 leak or an int/float class split would otherwise only
    surface as a driver red row AFTER registration)."""
    from test_registry_contract import _duck_class, _spark_class

    fn, oracle = STAGED[name].fn, STAGED[name].oracle
    dcols = {}
    for col, typ, *_ in duck.execute("DESCRIBE " + oracle).fetchall():
        assert "HUGEINT" not in typ.upper(), (name, col, typ)
        dcols[col] = _duck_class(typ)
    scols = {
        f.name: _spark_class(f.dataType) for f in fn(spark, SF_SMOKE).schema.fields
    }
    mismatches = {
        c: (dcols[c], scols[c]) for c in dcols if c in scols and dcols[c] != scols[c]
    }
    assert not mismatches, mismatches


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_plan_no_cartesian(spark, name):
    """The only nested-loop shapes allowed are 1-row broadcast
    fan-outs (pagerank's dangling-mass scalar)."""
    fn = STAGED[name].fn
    plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name


def test_staged_registered():
    """All 19 are registered with an oracle, and last: the registry's
    order is part of its contract (``__spark_entry__.queries()`` lists
    verified queries in it)."""
    assert len(STAGED) == 19
    assert list(REGISTRY)[-19:] == list(STAGED)
    assert all(spec.oracle for spec in STAGED.values())


# ---------------------------------------------------------------------------
# Hand-computed semantics
# ---------------------------------------------------------------------------
def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_gopher_rules_flags(spark, monkeypatch):
    texts = [
        "the " + " ".join(f"w{i}" for i in range(20)),  # keeps: 21 words, stopword
        "too short",  # fails r_len (2 words)
        "the " + "word " * 30,  # fails r_distinct (2 distinct / 31)
        " ".join(f"w{i}" for i in range(15)),  # fails r_stop (no stopword)
    ]
    monkeypatch.setattr(r6, "load", lambda s, d, n: _docs_df(spark, texts))
    got = {r.doc_id: r for r in r6.llm_gopher_rules(spark, "unused").collect()}
    assert got[0].keep
    assert not got[1].r_len and not got[1].keep
    assert not got[2].r_distinct and not got[2].keep
    assert got[3].r_len and not got[3].r_stop and not got[3].keep


def test_zipf_exact_power_law(spark, monkeypatch):
    # freq(rank) = 2^(10-rank) for rank 1..8 → ln f = 10ln2 - rank·ln2;
    # x = ln rank is NOT linear in rank, so build freq = C / rank
    # instead: f = 840 / rank exactly for rank 1..8 → slope -1, r2 1.
    texts = []
    for rank, term in enumerate("abcdefgh", start=1):
        texts.extend([term] * (840 // rank))
    monkeypatch.setattr(
        r6, "load", lambda s, d, n: _docs_df(spark, [" ".join(texts)])
    )
    row = r6.llm_zipf_fit(spark, "unused").collect()[0]
    assert row.n_terms == 8
    assert abs(row.slope - (-1.0)) < 1e-6
    assert abs(row.r2 - 1.0) < 1e-6


def test_fertility_counts_punct(spark, monkeypatch):
    # "ab cd" → 2 words, 2 tokens; "ab, cd!" → 2 words, 4 tokens
    monkeypatch.setattr(
        r6, "load", lambda s, d, n: _docs_df(spark, ["ab cd", "ab, cd!"])
    )
    row = r6.llm_tokenizer_fertility(spark, "unused").collect()[0]
    assert row.total_words == 4
    assert row.total_tokens == 6
    assert row.fertility == 1.5


def test_covariance_hand_computed(spark, monkeypatch):
    # Two 2-dim vectors (1,0) and (3,4): means (2,2); population cov
    # [[1, 2], [2, 4]] → trace 5, fro sqrt(1+4+4+16)=5, offdiag L1 4.
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [3.0, 4.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: emb)
    row = r6.llm_embedding_covariance(spark, "unused").collect()[0]
    assert row.n_vectors == 2
    assert abs(row.trace - 5.0) < 1e-6
    assert abs(row.fro_norm - 5.0) < 1e-6
    assert abs(row.offdiag_l1 - 4.0) < 1e-6


def test_pagerank_uniform_cycle(spark, monkeypatch):
    # a→b→c→a with equal weights: uniform PR 1/3 is the fixed point,
    # so 3 damped rounds stay exactly uniform.
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 15, 9)
    for u in range(4):
        for i, et in enumerate(["a", "b", "c", "a"]):
            rows.append((u * 10 + i, t0 + dt.timedelta(seconds=i), u, et, 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    got = {r.event_type: r.pr for r in r6.q_pagerank_transitions(spark, "unused").collect()}
    for v in got.values():
        assert abs(v - round(1 / 3, 6)) < 2e-6, got


def test_pagerank_sink_attracts_mass(spark, monkeypatch):
    # a→b only: b is dangling (mass redistributes uniformly), and b
    # must end with more rank than a.
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 15, 9)
    for u in range(3):
        rows.append((u * 10, t0, u, "a", 1.0, "{}"))
        rows.append((u * 10 + 1, t0 + dt.timedelta(seconds=1), u, "b", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    got = {r.event_type: r.pr for r in r6.q_pagerank_transitions(spark, "unused").collect()}
    assert got["b"] > got["a"]
    assert abs(sum(got.values()) - 1.0) < 1e-4  # mass conserved


def test_source_overlap_hand_computed(spark, monkeypatch):
    # srcA docs share the shingle set {x y z}; srcB has {x y z, y z w}:
    # common 1, n_a 1, n_b 2 → jaccard 0.5.
    docs = spark.createDataFrame(
        [
            (0, "x y z", "en", "srcA", 5),
            (1, "x y z", "en", "srcA", 5),
            (2, "x y z w", "en", "srcB", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: docs)
    rows = r6.llm_source_overlap(spark, "unused").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.src_a, r.src_b, r.n_a, r.n_b, r.n_common) == ("srcA", "srcB", 1, 2, 1)
    assert r.jaccard == 0.5


# ---------------------------------------------------------------------------
# Property tests vs pure-Python references
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-5, 5, allow_nan=False, width=32), min_size=3, max_size=3
        ),
        min_size=2,
        max_size=12,
    )
)
def test_covariance_matches_numpy(spark, vecs):
    import numpy as np

    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    import unittest.mock as mock

    with mock.patch.object(r6, "load", lambda s, d, n: emb):
        row = r6.llm_embedding_covariance(spark, "unused").collect()[0]
    # float32 storage: reference must see the same rounded inputs
    a = np.array(vecs, dtype=np.float32).astype(np.float64)
    cov = np.cov(a, rowvar=False, bias=True)
    assert row.n_vectors == len(vecs)
    assert abs(row.trace - round(float(np.trace(cov)), 6)) < 1e-5
    assert abs(row.fro_norm - round(float(np.sqrt((cov * cov).sum())), 6)) < 1e-5
    off = float(np.abs(cov - np.diag(np.diag(cov))).sum())
    assert abs(row.offdiag_l1 - round(off, 6)) < 1e-5


def _py_pagerank(edges, d=0.85, rounds=3):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    w = {}
    for s, t in edges:
        w[(s, t)] = w.get((s, t), 0) + 1
    outw = {}
    for (s, _t), c in w.items():
        outw[s] = outw.get(s, 0) + c
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(rounds):
        dm = sum(pr[v] for v in nodes if v not in outw)
        nxt = {}
        for v in nodes:
            inflow = sum(
                pr[s] * c / outw[s] for (s, t), c in w.items() if t == v
            )
            nxt[v] = (1 - d) / n + d * (inflow + dm / n)
        pr = nxt
    return {v: round(p, 6) for v, p in pr.items()}


@settings(**_SETTINGS)
@given(
    transitions=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=2, max_size=6),
        min_size=1,
        max_size=8,
    )
)
def test_pagerank_matches_python_reference(spark, transitions):
    """Each inner list is one user's event-type sequence; the engine
    must reproduce a dict-based damped power iteration exactly
    (same dangling handling, same 3 rounds)."""
    import datetime as dt
    import unittest.mock as mock

    rows, eid = [], 0
    t0 = dt.datetime(2024, 1, 15, 9)
    edges = []
    for u, seq in enumerate(transitions):
        for i, et in enumerate(seq):
            rows.append((eid, t0 + dt.timedelta(seconds=i), u, et, 1.0, "{}"))
            eid += 1
        edges.extend(zip(seq, seq[1:]))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with mock.patch.object(r6, "load", lambda s, d, n: ev):
        got = {
            r.event_type: r.pr
            for r in r6.q_pagerank_transitions(spark, "unused").collect()
        }
    want = _py_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 2e-6, (v, got[v], want[v])


def test_bollinger_spike_breaks_out(spark, monkeypatch):
    """25 flat minutes then one spike: the spike minute must flag
    breakout_up; the flat stretch defines z20 = 0 (zero variance)."""
    import datetime as dt

    rows, eid = [], 0
    t0 = dt.datetime(2024, 1, 15, 9)
    for m in range(26):
        val = 100.0 if m < 25 else 500.0
        rows.append((eid, t0 + dt.timedelta(minutes=m), 1, "trade", val, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import unittest.mock as mock

    import market_etl_spark.queries.windows as windows_mod

    with mock.patch.object(windows_mod, "load", lambda s, d, n: ev):
        got = {
            r.minute.minute: r
            for r in r6.q_bollinger_breakouts(spark, "unused").collect()
        }
    # warm-up drops the first 19 minutes; minutes 19..24 are flat
    assert len(got) == 7
    for m in range(19, 25):
        assert got[m].z20 == 0.0 and not got[m].breakout_up
    spike = got[25]
    assert spike.breakout_up and not spike.breakout_down
    assert spike.z20 > 2.0


def _events_df(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    return spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(minutes=i), uid, et, float(v), "{}")
            for i, (uid, et, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_theta_setops_hand_computed(spark, monkeypatch):
    # clickers {1..5}, purchasers {3..8} → both 3, click-only 2
    rows = [(u, "click", 1.0) for u in range(1, 6)]
    rows += [(u, "purchase", 1.0) for u in range(3, 9)]
    monkeypatch.setattr(r6, "load", lambda s, d, n: _events_df(spark, rows))
    r = r6.q_theta_sketch_setops(spark, "unused").collect()[0]
    assert (r.both_exact, r.only_click_exact) == (3, 2)
    assert r.theta_intersect_ok and r.theta_diff_ok


def test_hll_rollup_exact_at_small_cardinality(spark, monkeypatch):
    rows = [(u % 7, "view", 1.0) for u in range(50)]
    monkeypatch.setattr(r6, "load", lambda s, d, n: _events_df(spark, rows))
    r = r6.q_hll_mergeable_rollup(spark, "unused").collect()[0]
    assert r.exact_users == 7 and r.hll_ok


def test_kll_quantiles_rank_bounds(spark, monkeypatch):
    # values 1..200 across multiple days (minutes span >1 day? keep one
    # day — the fold handles a single sketch too)
    rows = [(1, "view", float(v)) for v in range(1, 201)]
    monkeypatch.setattr(r6, "load", lambda s, d, n: _events_df(spark, rows))
    r = r6.q_kll_mergeable_quantiles(spark, "unused").collect()[0]
    assert r.n == 200
    assert r.p50_rank_ok and r.p95_rank_ok


def test_bollinger_parity_nonvacuous_sf001(spark):
    """SF_SMOKE has no series reaching 20 observed minutes, so the
    generic parity test compares 0 == 0 rows for this query; re-run the
    compare at sf0.01 where the warm-up cut leaves real rows (review
    finding r5), and pin that rows actually exist."""
    import duckdb

    spec = STAGED["q_bollinger_breakouts"]
    fn, oracle = spec.fn, spec.oracle
    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    try:
        sdf = fn(spark, sf)
        srows, scols = sdf.collect(), sdf.columns
        ores = con.execute(oracle)
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
    finally:
        con.close()
    assert len(srows) > 0, "vacuous: no post-warm-up rows at sf0.01"
    assert len(srows) == len(orows)
    assert sorted(scols) == sorted(ocols)
    cs = sorted(scols)
    si = {c: i for i, c in enumerate(scols)}
    oi = {c: i for i, c in enumerate(ocols)}
    sk = sorted(tuple(repr(_canon(r[si[c]])) for c in cs) for r in srows)
    ok = sorted(tuple(repr(_canon(r[oi[c]])) for c in cs) for r in orows)
    assert sk == ok


def test_approx_topk_hand_computed(spark, monkeypatch):
    # 'x'*30, 'y'*20, 'z'*10 plus singleton noise → exact top-3 known
    text = " ".join(["x"] * 30 + ["y"] * 20 + ["z"] * 10 + ["n%d" % i for i in range(5)])
    monkeypatch.setattr(r6, "load", lambda s, d, n: _docs_df(spark, [text]))
    rows = r6.llm_approx_topk_terms(spark, "unused").collect()
    top = [(r.rank, r.term, r.exact_count, r.sketch_ok) for r in rows[:3]]
    assert top == [(1, "x", 30, True), (2, "y", 20, True), (3, "z", 10, True)]
    assert all(r.sketch_ok for r in rows)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["sA", "sB", "sC"]),
            st.lists(st.sampled_from("pqr"), min_size=3, max_size=6),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_source_overlap_matches_python_reference(spark, docs):
    """Pairwise source Jaccard on distinct 3-shingles vs a set-based
    Python reference (including the only-overlapping-pairs contract)."""
    import unittest.mock as mock

    rows = [
        (i, " ".join(toks), "en", src, len(" ".join(toks)))
        for i, (src, toks) in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with mock.patch.object(r6, "load", lambda s, d, n: df):
        got = {
            (r.src_a, r.src_b): (r.n_a, r.n_b, r.n_common, r.jaccard)
            for r in r6.llm_source_overlap(spark, "unused").collect()
        }
    sets: dict = {}
    for src, toks in docs:
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        sets.setdefault(src, set()).update(sh)
    want = {}
    srcs = sorted(sets)
    for i in range(len(srcs)):
        for j in range(i + 1, len(srcs)):
            a, b = srcs[i], srcs[j]
            common = len(sets[a] & sets[b])
            if common:
                want[(a, b)] = (
                    len(sets[a]),
                    len(sets[b]),
                    common,
                    round(common / len(sets[a] | sets[b]), 6),
                )
    assert got == want, (got, want)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab <>the", min_size=1, max_size=60),
        min_size=1,
        max_size=6,
    )
)
def test_gopher_rules_match_python_reference(spark, texts):
    """Metrics and keep flags vs a direct Python computation over the
    same whitespace split (single-space split semantics: empty tokens
    from doubled spaces COUNT as words, like Spark's split)."""
    import unittest.mock as mock

    from market_etl_spark.llm.text import STOPWORDS as SW

    df = _docs_df(spark, texts)
    with mock.patch.object(r6, "load", lambda s, d, n: df):
        got = {r.doc_id: r for r in r6.llm_gopher_rules(spark, "unused").collect()}
    for i, t in enumerate(texts):
        w = t.lower().split(" ")
        n = len(w)
        mean_len = round(sum(len(x) for x in w) / n, 6)
        dfrac = round(len(set(w)) / n, 6)
        hits = max(
            sum(1 for x in w if x in SW[lang]) for lang in SW
        )
        r = got[i]
        assert r.n_words == n
        assert abs(r.mean_word_len - mean_len) < 1e-9, (t, r.mean_word_len, mean_len)
        assert abs(r.distinct_frac - dfrac) < 1e-9
        assert r.stop_hits == hits
        keep = (10 <= n <= 1000) and (2.0 <= mean_len <= 8.0) and (dfrac >= 0.3) and hits >= 1
        assert r.keep == keep, (t, keep)


def test_range_interval_frame_semantics(spark, monkeypatch):
    """Hand case distinguishing RANGE from ROWS: events at t=0, 5, 9,
    20 minutes — the 9-minute event sees 3 in-frame rows, the
    20-minute event only itself (the 9-minute event is 11 min back);
    equal-timestamp peers are BOTH included in each other's frame."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    mk = lambda eid, mins, v: (  # noqa: E731
        eid, t0 + dt.timedelta(minutes=mins), 0, "trade", float(v), "{}"
    )
    rows = [mk(0, 0, 1), mk(1, 5, 2), mk(2, 9, 4), mk(3, 20, 8),
            mk(4, 20, 16)]  # eid 3 and 4 share a timestamp (peers)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        r6, "register_all", lambda s, d: ev.createOrReplaceTempView("events")
    )
    got = {r.event_id: (r.n_10m, r.sum_10m)
           for r in r6.q_window_range_interval(spark, "unused").collect()}
    assert got[0] == (1, 1.0)
    assert got[1] == (2, 3.0)        # t=5 sees t=0 and itself
    assert got[2] == (3, 7.0)        # t=9 sees 0,5,9
    assert got[3] == (2, 24.0)       # t=20 sees both timestamp peers only
    assert got[4] == (2, 24.0)       # peer symmetry: RANGE includes peers


def test_grouping_sets_grains_consistent(spark, monkeypatch):
    """Grain totals must telescope: each event_type subtotal equals the
    sum of its dow cells, the grand total equals the sum of subtotals,
    and GROUPING_ID tags the three grains 0/1/3."""
    import datetime as dt

    rows = []
    for i in range(20):
        rows.append((i, dt.datetime(2024, 1, 15 + i % 3, 9), 1,
                     "click" if i % 2 else "view", float(i), "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        r6, "register_all", lambda s, d: ev.createOrReplaceTempView("events")
    )
    out = r6.q_grouping_sets_profile(spark, "unused").collect()
    grains = {r.grain for r in out}
    assert grains == {0, 1, 3}
    cells = [r for r in out if r.grain == 0]
    subs = {r.event_type: r for r in out if r.grain == 1}
    grand = [r for r in out if r.grain == 3][0]
    for et, sub in subs.items():
        mine = [c for c in cells if c.event_type == et]
        assert sum(c.n_events for c in mine) == sub.n_events
        assert sum(c.sum_value_micros for c in mine) == sub.sum_value_micros
    assert sum(s.n_events for s in subs.values()) == grand.n_events == 20
    assert grand.event_type == "(all)" and grand.dow == "(all)"


def test_gini_known_distributions(spark, monkeypatch):
    """Perfect equality → G = 0; one user holding everything among n
    users → G = (n−1)/n."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    mk = lambda eid, uid, v: (eid, t0, uid, "view", float(v), "{}")  # noqa: E731
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    equal = spark.createDataFrame([mk(i, i, 10) for i in range(5)], schema)
    monkeypatch.setattr(r6, "load", lambda s, d, n: equal)
    r = r6.q_user_value_gini(spark, "unused").collect()[0]
    assert r.n_users == 5 and r.gini == 0.0

    skewed = spark.createDataFrame(
        [mk(i, i, 0) for i in range(4)] + [mk(4, 4, 1000)], schema
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: skewed)
    r = r6.q_user_value_gini(spark, "unused").collect()[0]
    assert r.n_users == 5
    assert abs(r.gini - 0.8) < 1e-9  # (n-1)/n = 4/5


def test_asof_nearest_directions_and_ties(spark, monkeypatch):
    """Hand case covering backward pick, forward pick, the exact-tie
    preference for backward, equal-timestamp peers, and no-match."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    mk = lambda eid, uid, et, secs: (  # noqa: E731
        eid, t0 + dt.timedelta(seconds=secs), uid, et, 1.0, "{}"
    )
    rows = [
        # user 0: clicks at 0 and 20; purchases at 5 (back), 19 (fwd),
        # 10 (exact tie 10us? seconds: |10-0|=10 vs |20-10|=10 → backward)
        mk(0, 0, "click", 0), mk(1, 0, "click", 20),
        mk(2, 0, "purchase", 5), mk(3, 0, "purchase", 19),
        mk(4, 0, "purchase", 10),
        # user 1: two clicks at the same instant (peers: ids 6,7); a
        # purchase at the same instant takes the HIGHEST backward peer
        mk(5, 1, "purchase", 50), mk(6, 1, "click", 50), mk(7, 1, "click", 50),
        # user 2: purchase with no clicks at all
        mk(8, 2, "purchase", 0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    got = {r.event_id: (r.matched_click_id, r.delta_us, r.direction)
           for r in r6.q_asof_nearest(spark, "unused").collect()}
    assert got[2] == (0, -5_000_000, "backward")
    assert got[3] == (1, 1_000_000, "forward")
    assert got[4] == (0, -10_000_000, "backward")  # tie → backward
    assert got[5] == (7, 0, "backward")            # peer tie → highest id
    assert got[8] == (None, None, "none")


@settings(**_SETTINGS)
@given(
    freqs=st.lists(st.integers(1, 50), min_size=2, max_size=15),
)
def test_zipf_matches_numpy_lstsq(spark, freqs, monkeypatch):
    """Arbitrary frequency profiles vs numpy's least-squares fit over
    the same deterministic (freq DESC, term) ranking."""
    import numpy as np

    words_ = []
    for k, f in enumerate(freqs):
        words_.extend([f"t{k:02d}"] * f)
    monkeypatch.setattr(
        r6, "load", lambda s, d, n: _docs_df(spark, [" ".join(words_)])
    )
    row = r6.llm_zipf_fit(spark, "unused").collect()[0]
    ordered = sorted(
        ((f, f"t{k:02d}") for k, f in enumerate(freqs)),
        key=lambda t: (-t[0], t[1]),
    )[:100]
    x = np.log(np.arange(1, len(ordered) + 1, dtype=float))
    y = np.log(np.array([f for f, _ in ordered], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n_terms == len(ordered)
    assert abs(row.slope - round(float(slope), 6)) < 1e-5
    assert abs(row.intercept - round(float(intercept), 6)) < 1e-5
    if np.allclose(y.var(), 0):
        assert row.r2 is None  # flat profile: r² is 0/0, NULL by contract
    else:
        assert -1e-9 <= row.r2 <= 1.0 + 1e-6


@settings(**_SETTINGS)
@given(
    offsets=st.lists(st.integers(0, 40), min_size=1, max_size=25, unique=False),
)
def test_range_interval_matches_pandas(spark, offsets, monkeypatch):
    """Trailing-10-minute RANGE frame vs a direct per-row Python scan
    (duplicate timestamps included as peers)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), 0, "trade", float(i + 1), "{}")
        for i, m in enumerate(offsets)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        r6, "register_all", lambda s, d: ev.createOrReplaceTempView("events")
    )
    got = {r.event_id: (r.n_10m, r.sum_10m)
           for r in r6.q_window_range_interval(spark, "unused").collect()}
    for i, m in enumerate(offsets):
        in_frame = [
            j for j, mj in enumerate(offsets) if 0 <= (m - mj) <= 10
        ]
        want = (len(in_frame), round(float(sum(j + 1 for j in in_frame)), 6))
        assert got[i] == want, (i, m, got[i], want)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(1, 10_000_000), min_size=1, max_size=20
    )
)
def test_gini_matches_python_reference(spark, vals, monkeypatch):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    rows = [
        (i, t0, i, "view", v / 1e6, "{}") for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    r = r6.q_user_value_gini(spark, "unused").collect()[0]
    micros = sorted(round(v / 1e6 * 1e6) for v in vals)  # the engine's grid
    n, tot = len(micros), sum(micros)
    want = round(2 * sum((i + 1) * x for i, x in enumerate(micros)) / (n * tot)
                 - (n + 1) / n, 6)
    assert r.n_users == n and r.total_micros == tot
    assert abs(r.gini - want) < 1e-9, (vals, r.gini, want)


@settings(**_SETTINGS)
@given(
    pts=st.lists(st.integers(0, 100), min_size=1, max_size=12),
    cks=st.lists(st.integers(0, 100), min_size=0, max_size=12),
)
def test_asof_nearest_matches_python_reference(spark, pts, cks, monkeypatch):
    """Arbitrary purchase/click second-offsets (duplicates included)
    vs a brute-force reference implementing the documented tie order:
    min |Δ|, backward beats forward, peers to highest id backward /
    lowest id forward."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    rows, eid = [], 0
    pids, cids = [], []
    for m in pts:
        rows.append((eid, t0 + dt.timedelta(seconds=m), 0, "purchase", 1.0, "{}"))
        pids.append((eid, m)); eid += 1
    for m in cks:
        rows.append((eid, t0 + dt.timedelta(seconds=m), 0, "click", 1.0, "{}"))
        cids.append((eid, m)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    got = {r.event_id: (r.matched_click_id, r.delta_us, r.direction)
           for r in r6.q_asof_nearest(spark, "unused").collect()}
    for peid, pm in pids:
        if not cids:
            assert got[peid] == (None, None, "none")
            continue
        best = min(
            cids,
            key=lambda c: (
                abs(c[1] - pm),
                0 if c[1] <= pm else 1,
                -c[0] if c[1] <= pm else c[0],
            ),
        )
        delta = (best[1] - pm) * 1_000_000
        direction = "backward" if best[1] <= pm else "forward"
        assert got[peid] == (best[0], delta, direction), (pts, cks, peid)


def test_percentile_modes_disc_is_data_value(spark, monkeypatch):
    """On 1..4 the continuous median interpolates (2.5) while the
    discrete median is an actual input (2 under the <=-cumulative
    convention both engines share)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    ev = spark.createDataFrame(
        [(i, t0, 1, "view", float(v), "{}") for i, v in enumerate([1, 2, 3, 4])],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    row = r6.q_percentile_modes(spark, "unused").collect()[0]
    assert row.p50_cont == 2.5
    assert row.p50_disc == 2.0
    assert row.p95_disc in (3.0, 4.0) and row.p95_disc == 4.0


def test_mad_robust_to_outlier(spark, monkeypatch):
    """Values [1..5] have median 3, MAD 1; replacing 5 with 1000 moves
    stddev by orders of magnitude but MAD stays 1 — the statistic's
    point."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    base = spark.createDataFrame(
        [(i, t0, 1, "view", float(v), "{}") for i, v in enumerate([1, 2, 3, 4, 5])],
        schema,
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: base)
    assert r6.q_median_abs_deviation(spark, "unused").collect()[0].mad == 1.0

    spiked = spark.createDataFrame(
        [(i, t0, 1, "view", float(v), "{}")
         for i, v in enumerate([1, 2, 3, 4, 1000])],
        schema,
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: spiked)
    assert r6.q_median_abs_deviation(spark, "unused").collect()[0].mad == 1.0


def test_bitmap_rollup_crosses_buckets(spark, monkeypatch):
    """User ids straddling the 32k bitmap-bucket boundary must still
    count exactly once each (the bucket key is load-bearing)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 15, 9)
    ids = [1, 2, 32767, 32768, 32769, 70000, 70000]  # dup on purpose
    ev = spark.createDataFrame(
        [(i, t0, uid, "view", 1.0, "{}") for i, uid in enumerate(ids)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(r6, "load", lambda s, d, n: ev)
    row = r6.q_bitmap_distinct_rollup(spark, "unused").collect()[0]
    assert row.distinct_users == 6
