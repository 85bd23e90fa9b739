"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at a scale factor
and compares against its ``oracle_sql()`` DuckDB result:
row count, column names/order-insensitive schema, and an
order-insensitive value comparison (columns sorted by name, rows sorted).

Usage:  python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver hashes values; rounding discipline lives in the queries
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)


def rowkey(row, cols_sorted, colidx):
    return tuple(repr(canon(row[colidx[c]])) for c in cols_sorted)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as ent

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Replicate the DRIVER's environment: a bare session (default 200
        # shuffle partitions, no engine conf at build time). Everything
        # the queries need must be applied at runtime by tables.load —
        # this mode catches conf that only works builder-time and
        # nondeterminism that appears under different partition counts
        # (summation order vs the rounding discipline).
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("check-vanilla").getOrCreate()
    else:
        from market_etl_spark.session import get_spark

        spark = get_spark("check")
    qs = ent.queries()
    oracles = ent.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # Scale factor from the dir name (sf0.01 → 0.01); None if unparseable.
    import re

    m = re.search(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else None

    from market_etl_spark.queries import REGISTRY

    n_pass = n_fail = n_rowsonly = n_skipped = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        cap = getattr(REGISTRY.get(name), "max_verify_sf", None)
        if cap is not None and sf is not None and sf > cap:
            # The ORACLE is infeasible at this scale (O(n²) ground
            # truth, spec-pinned) — skipping it is correct, hanging
            # DuckDB for 18+ min is not. The Spark side has its own
            # sf0.1 coverage through the bench.
            print(f"skip  {name}: oracle pinned to sf<={cap} (dir is sf{sf})")
            n_skipped += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = sdf.collect()
            spark_cols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            status = "ROWS " if len(spark_rows) >= 0 else "FAIL"
            print(f"{status} {name}: rows-only, {len(spark_rows)} rows ({dt:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            # DRIVER-PARITY GUARD: fetchall() returns DuckDB HUGEINT as a
            # Python int, hiding the int128→float64 coercion the driver's
            # pandas canonicalizer applies (cost rounds 3 AND 4).  DESCRIBE
            # the oracle and fail loudly instead of passing a query the
            # driver will redline.
            hug = [
                (c, t)
                for c, t, *_ in con.execute("DESCRIBE " + oracles[name]).fetchall()
                if "HUGEINT" in t.upper()
            ]
            if hug:
                print(
                    f"FAIL  {name}: oracle HUGEINT column(s) {hug} — pandas "
                    "coerces int128 to float64; CAST(... AS BIGINT) in the oracle"
                )
                n_fail += 1
                continue
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue

        problems = []
        if len(spark_rows) != len(orows):
            problems.append(f"rowcount spark={len(spark_rows)} oracle={len(orows)}")
        if sorted(spark_cols) != sorted(ocols):
            problems.append(f"schema spark={sorted(spark_cols)} oracle={sorted(ocols)}")
        if not problems:
            cs = sorted(spark_cols)
            sidx = {c: i for i, c in enumerate(spark_cols)}
            oidx = {c: i for i, c in enumerate(ocols)}
            skeys = sorted(rowkey(r, cs, sidx) for r in spark_rows)
            okeys = sorted(rowkey(r, cs, oidx) for r in orows)
            if skeys != okeys:
                ndiff = sum(1 for a, b in zip(skeys, okeys) if a != b)
                problems.append(f"values differ ({ndiff} row positions)")
                for a, b in zip(skeys, okeys):
                    if a != b:
                        print(f"   spark : {a}\n   oracle: {b}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({dt:.1f}s)")
            n_fail += 1
        else:
            print(f"pass  {name}: {len(spark_rows)} rows ({dt:.1f}s)")
            n_pass += 1

    tail = f", {n_skipped} skipped (oracle scale cap)" if n_skipped else ""
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only{tail}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
