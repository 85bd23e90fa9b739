"""Shared audit helpers for the protocol drills.

Event-log attribution (tools/joblog.py, guide §1/§7) shows drill
wall-clock is dominated by the NUMBER of Spark actions — each pays
analyze/optimize/AQE planning plus job-scheduling fixed cost, with a
driver-side gap between jobs that often exceeds the jobs themselves —
not by data volume.  These helpers shrink the action count without
changing any audited value:

- :func:`digest_pairs_equal` folds N independent (left, right)
  row-digest parity comparisons into ONE Spark action: every side is
  tagged with (pair, side) literals, unioned, and reduced by a single
  grouped (count, bit_xor, decimal-sum) aggregate.  The bit_xor
  component alone cancels rows of even multiplicity ({a,a,b,b} and
  {c,c,d,d} xor to the same digest at equal counts — ADVICE r14), so
  the aggregate also carries ``sum(hash cast decimal(38,0))`` — the
  digest family q_lakehouse_txn used before the fold — in the SAME
  single job; a collision now needs equal count, equal xor AND equal
  sum.  Per-side results are strictly stronger than the two-job
  (count, xor) form they replaced; a pair that compared equal before
  still compares equal (identical multisets agree on every
  component), so verdicts on correct code are unchanged.
- :func:`concurrently` runs independent driver thunks on a small
  thread pool so their jobs overlap (guide §2.6: actions are only
  sequential because driver code calls them sequentially); Spark's
  FIFO scheduler back-fills idle executors with the next job's tasks.

Two smaller helpers ride along: :func:`micros` (the drills' exact
integer quantization of doubles) and :func:`require` (a protocol check
that, unlike ``assert``, still runs under ``python -O``).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def digest_pairs_equal(pairs) -> list[bool]:
    """One-action multiset parity for N DataFrame pairs.

    Each pair is ``(left, right)`` where both sides are already
    projected to a SINGLE long hash column (conventionally
    ``xxhash64(...)`` over the drill's canonical columns).  Returns
    ``[left_i multiset== right_i, ...]`` — per side the digest is
    ``(row_count, bit_xor(hash), sum(hash as decimal(38,0)))``; the
    decimal sum (overflow-free for any realistic row count) closes
    the even-multiplicity xor cancellation without a second job.  A
    pair the old (count, xor) digest called equal on identical
    multisets still compares equal.  An empty side contributes no
    group row; empty==empty compares equal and empty vs non-empty
    compares different, as before.
    """
    tagged = []
    for i, (a, b) in enumerate(pairs):
        for s, df in ((0, a), (1, b)):
            c = df.columns[0]
            tagged.append(
                df.select(
                    F.lit(i).alias("_p"),
                    F.lit(s).alias("_s"),
                    F.col(c).cast("long").alias("_h"),
                )
            )
    u = reduce(DataFrame.unionAll, tagged)
    rows = (
        u.groupBy("_p", "_s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(_h)").alias("x"),
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
        )
        .collect()
    )
    d = {(r["_p"], r["_s"]): (r["n"], r["x"], r["s"]) for r in rows}
    return [d.get((i, 0)) == d.get((i, 1)) for i in range(len(pairs))]


def hashed(df: DataFrame, *cols) -> DataFrame:
    """Project ``df`` to the single-column xxhash64 shape
    :func:`digest_pairs_equal` consumes.  ``cols`` are Column objects
    or names; order matters (it is part of the hash)."""
    return df.select(F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols]).alias("_h"))


def concurrently(*thunks, max_workers: int | None = None):
    """Run independent argless callables on a thread pool and return
    their results in order.  Only for thunks whose Spark work is
    independent (no shared temp-view/table mutation, no session-conf
    flips inside the thunk)."""
    if not thunks:  # ThreadPoolExecutor rejects max_workers=0 (ADVICE r14)
        return []
    with ThreadPoolExecutor(max_workers=max_workers or len(thunks)) as ex:
        futs = [ex.submit(t) for t in thunks]
        return [f.result() for f in futs]


def micros(col: F.Column) -> F.Column:
    """A double quantized to integer millionths: sums of it are exact
    and engine-independent, so Spark and the DuckDB oracle agree."""
    return F.round(col * 1e6, 0).cast("long")


def require(ok: bool, msg: object = "protocol check failed") -> None:
    """Raise ``AssertionError(msg)`` unless ``ok``.  Drill steps that
    must run (commits, restores) are written inside the check, so it
    has to hold under ``python -O`` too."""
    if not ok:
        raise AssertionError(msg)
