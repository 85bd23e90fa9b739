"""Product-quantization trainer (:func:`..llm.similarity.pq_train_encode`):
its codes and codebook are pinned to the SQL Lloyd trainer it replaced
(two ``groupBy(j, code, dim)`` rounds with a driver collect each), and
its Spark job count is guarded.

The expected values below were produced by that SQL trainer; the
numpy trainer must reproduce them exactly — same seeds (the kc
lowest ids), left-to-right distance folds, argmin ties to the lowest
centroid id, empty centroids dropped with the survivors keeping their
ids, and member means."""

from __future__ import annotations

import hashlib

import pytest

from market_etl_spark.llm.similarity import pq_train_encode
from market_etl_spark.tables import load

from conftest import SF_SMOKE


def _sha(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_pq_output_pinned_at_smoke(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    codes, codebook = pq_train_encode(emb)
    assert _sha(sorted(tuple(r) for r in codes.collect())) == (
        "4eab95460434029604b0c44801084f4962e2c99215e989887d3e23f105921438"
    )
    assert _sha(sorted((r.j, r.c, tuple(r.cvec)) for r in codebook.collect())) == (
        "030705f01e38ba722204328bd91effc603af5aae43a9b65074d4b18edf012e66"
    )


#: name -> (vec_id, embedding) rows, expected (vec_id, j, code) codes,
#: expected (j, c, cvec) codebook; m=2, dsub=2, kc=4, rounds=2.  Rows
#: are listed out of id order: the seeds are the kc lowest ids, not
#: the first rows read.
_EDGE = {
    # 3 vectors < kc: three seeds, each vector its own centroid
    "fewer_than_kc": (
        [(30, [0.5, 9.0, 2.0, 2.0]), (10, [1.0, 2.0, 3.0, 4.0]), (20, [5.0, 6.0, 7.0, 8.0])],
        [(10, 0, 0), (10, 1, 0), (20, 0, 1), (20, 1, 1), (30, 0, 2), (30, 1, 2)],
        [(0, 0, [1.0, 2.0]), (0, 1, [5.0, 6.0]), (0, 2, [0.5, 9.0]),
         (1, 0, [3.0, 4.0]), (1, 1, [7.0, 8.0]), (1, 2, [2.0, 2.0])],
    ),
    # ids 0/1 and 2/3 are duplicates, so seeds 0/1 and 2/3 tie: the
    # lower id takes every member and centroids 1 and 3 drop out
    "duplicate_seeds_tie": (
        [(5, [5.0, 4.5, 0.25, 0.0]), (4, [1.5, 1.0, 4.0, 4.0]), (3, [5.0, 5.0, 0.0, 0.0]),
         (2, [5.0, 5.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0]), (0, [1.0, 1.0, 1.0, 1.0])],
        [(0, 0, 0), (0, 1, 2), (1, 0, 0), (1, 1, 2), (2, 0, 2), (2, 1, 2),
         (3, 0, 2), (3, 1, 2), (4, 0, 0), (4, 1, 0), (5, 0, 2), (5, 1, 2)],
        [(0, 0, [1.1666666666666667, 1.0]), (0, 2, [5.0, 4.833333333333333]),
         (1, 0, [4.0, 4.0]), (1, 2, [0.45, 0.4])],
    ),
    # subspace 0: centroid 2 keeps members in the first round, loses
    # them all in the second, and leaves ids {0, 1, 3}
    "centroid_emptied_in_round_two": (
        [(8, [9.0, 1.0, 7.0, 1.0]), (7, [1.0, 7.0, 7.0, 7.0]), (6, [8.0, 8.0, 6.0, 7.0]),
         (5, [8.0, 9.0, 6.0, 6.0]), (4, [0.0, 6.0, 0.0, 6.0]), (3, [6.0, 6.0, 8.0, 9.0]),
         (2, [6.0, 7.0, 8.0, 8.0]), (1, [7.0, 7.0, 1.0, 7.0]), (0, [7.0, 1.0, 9.0, 1.0])],
        [(0, 0, 0), (0, 1, 0), (1, 0, 1), (1, 1, 1), (2, 0, 1), (2, 1, 3),
         (3, 0, 1), (3, 1, 3), (4, 0, 3), (4, 1, 1), (5, 0, 1), (5, 1, 2),
         (6, 0, 1), (6, 1, 2), (7, 0, 3), (7, 1, 2), (8, 0, 0), (8, 1, 0)],
        [(0, 0, [8.0, 1.0]), (0, 1, [7.0, 7.4]), (0, 3, [0.5, 6.5]),
         (1, 0, [8.0, 1.0]), (1, 1, [0.5, 6.5]),
         (1, 2, [6.333333333333333, 6.666666666666667]), (1, 3, [8.0, 8.5])],
    ),
}


@pytest.mark.parametrize("case", sorted(_EDGE))
def test_pq_edge_cases_match_sql_trainer(spark, case):
    rows, want_codes, want_book = _EDGE[case]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes, codebook = pq_train_encode(emb, m=2, dsub=2, kc=4)
    assert sorted(tuple(r) for r in codes.collect()) == want_codes
    assert sorted((r.j, r.c, list(r.cvec)) for r in codebook.collect()) == want_book


def test_pq_train_encode_job_budget(spark):
    # training (grouped-map shuffle, then the collect) and the count
    # (partial-aggregate shuffle, then the result) run two jobs each;
    # the SQL trainer ran 16.  Counted by job group:
    # the status store keeps only the newest 1000 jobs, so a before /
    # after size difference reads 0 late in a long session.
    sc = spark.sparkContext
    emb = load(spark, SF_SMOKE, "embeddings")
    sc.setJobGroup("pq_job_budget", "pq_train_encode job budget")
    try:
        pq_train_encode(emb)[0].count()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # ms; raises on timeout
    n = len(sc.statusTracker().getJobIdsForGroup("pq_job_budget"))
    assert 0 < n <= 4, n
