"""The benchmark's workloads: their ops, set-up and output checks.

An op is one registry query (build with ``spec.fn``, run with
``collect``) or, on ``lake_write``, the ETL load (``etl_load``: unzip a
zipped raw zone with ``StreamingUnzipper`` and run ``run_trades_etl``
into a fresh output).  Every op's output is kept and checked against a
DuckDB oracle after the timed region.
"""

from __future__ import annotations

import dataclasses
import importlib.util
import pathlib
import shutil
import sys
import time
import zipfile
from typing import Any, Callable

import pandas as pd  # pandas_udf resolves the warm-up UDF's type hints here

ETL_LOAD = "etl_load"

#: Each workload's ops.  A run makes a warm-up pass and a timed pass
#: within its budget (about a minute, session start and set-up
#: included), so these are subsets of the registry families README.md
#: names, chosen so that every layer the traced run reports is reached.
OPS: dict[str, list[str]] = {
    "lake_write": [
        ETL_LOAD,
        "q_lakehouse_merge_evolution",  # MERGE through the SQL front end
        "q_lakehouse_update_mor",  # merge-on-read update, then a checkpoint
        "q_lakehouse_data_skipping",
        "q_streaming_cdc_upsert",
    ],
    "llm_curation": [
        "llm_substring_dedup",
        "llm_ivfpq_topk",
        "llm_incremental_dedup",
        "llm_bm25_topk",
        "llm_exact_dedup",
    ],
}

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@dataclasses.dataclass
class OpRun:
    """One executed op: timings, and what the check needs."""

    name: str
    start: float  # epoch seconds
    latency_s: float
    build_s: float = 0.0
    action_s: float = 0.0
    columns: list[str] | None = None
    rows: list[Any] | None = None
    etl: dict | None = None
    error: str | None = None
    problem: str | None = None


def load_check_helpers(root: pathlib.Path):
    """``canon`` and ``rowkey`` from the repo's oracle gate (tools/check.py)."""
    spec = importlib.util.spec_from_file_location("_oracle_gate", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved  # the gate prepends its own checkout path
    return mod.canon, mod.rowkey


def compare(spark_cols, spark_rows, oracle_cols, oracle_rows, rowkey) -> str | None:
    """The oracle gate's comparison: row count, column names, and the
    order-insensitive canonical values.  Returns the problem, or None."""
    if len(spark_rows) != len(oracle_rows):
        return f"rowcount spark={len(spark_rows)} oracle={len(oracle_rows)}"
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"schema spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    cs = sorted(spark_cols)
    sidx = {c: i for i, c in enumerate(spark_cols)}
    oidx = {c: i for i, c in enumerate(oracle_cols)}
    skeys = sorted(rowkey(r, cs, sidx) for r in spark_rows)
    okeys = sorted(rowkey(r, cs, oidx) for r in oracle_rows)
    if skeys != okeys:
        return f"values differ ({sum(a != b for a, b in zip(skeys, okeys))} row positions)"
    return None


class Workload:
    """Set-up, op execution and checks for one workload over one data dir."""

    def __init__(self, name: str, spark, sf_dir: str, work: pathlib.Path, scratch: pathlib.Path):
        self.name = name
        self.ops = OPS[name]
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.scratch = scratch
        self.tag = pathlib.Path(sf_dir).name.replace(".", "_")
        self._etl_runs = 0
        from market_etl_spark.queries import REGISTRY

        self.registry = REGISTRY

    # -- set-up ---------------------------------------------------------

    def _clear_scratch(self, *prefixes: str) -> None:
        for p in self.scratch.glob("*"):
            if p.name.startswith(prefixes):
                shutil.rmtree(p, ignore_errors=True)

    def warm_up(self) -> None:
        """Session-level first-use costs: a job and, for the workload
        whose ops use pandas UDFs, the Python worker pool."""
        self.spark.range(1).count()
        if self.name == "llm_curation":
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("long")
            def _ident(s: pd.Series) -> pd.Series:
                return s

            self.spark.range(32).select(_ident("id")).count()

    def build_fixtures(self) -> None:
        """Rebuild every ``.scratch`` fixture the workload's ops read, so
        the run measures this commit's builders, never a cached artifact."""
        if self.name == "lake_write":
            from market_etl_spark.queries.etl_pipeline import materialize_raw_zone

            csv_zone = self.work / "raw_csv"
            lake = self.work / "lake"
            shutil.rmtree(lake, ignore_errors=True)
            materialize_raw_zone(self.spark, self.sf_dir, str(csv_zone))
            for f in sorted(csv_zone.rglob("*.csv")):
                rel = f.relative_to(csv_zone)
                dest = lake / "raw" / rel.with_suffix(".zip")
                dest.parent.mkdir(parents=True, exist_ok=True)
                with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
                    zf.write(f, rel.name)
        else:
            self._clear_scratch(f"minhash_index_{self.tag}_")
            # Building the op's frame writes its MinHash index eagerly.
            self.registry["llm_incremental_dedup"].fn(self.spark, self.sf_dir)

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.warm_up()
        self.build_fixtures()
        return time.perf_counter() - t0

    # -- ops ------------------------------------------------------------

    def prepare(self, name: str) -> None:
        """Per-op housekeeping the op's latency does not include."""
        if name == ETL_LOAD:
            shutil.rmtree(self.work / "lake" / "raw_unzipped", ignore_errors=True)

    def run_op(self, name: str) -> OpRun:
        start = time.time()
        t0 = time.perf_counter()
        run = OpRun(name, start, 0.0)
        try:
            if name == ETL_LOAD:
                run.etl = self._etl_load()
            else:
                df = self.registry[name].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                run.rows = df.collect()
                run.columns = df.columns
                run.build_s = t1 - t0
                run.action_s = time.perf_counter() - t1
        except Exception as e:  # a failing op is counted, not fatal
            run.error = f"{type(e).__name__}: {str(e)[:300]}"
        run.latency_s = time.perf_counter() - t0
        return run

    def _etl_load(self) -> dict:
        from market_etl_spark.etl import run_trades_etl
        from market_etl_spark.ingest.unzipper import StreamingUnzipper
        from market_etl_spark.queries.etl_pipeline import FIXED_LOAD_DT

        lake = self.work / "lake"
        self._etl_runs += 1
        out = self.work / "etl_out" / str(self._etl_runs)
        stats = StreamingUnzipper(str(lake)).run("raw")
        if stats["failed"]:
            raise RuntimeError(f"unzip failed: {stats}")
        res = run_trades_etl(self.spark, str(lake / "raw_unzipped"), str(out), load_dt=FIXED_LOAD_DT)
        return {"out": str(out), "metrics": dict(res.metrics)}

    # -- checks ---------------------------------------------------------

    def check(self, runs: list[OpRun], rowkey: Callable) -> None:
        """Set ``problem`` on every run whose output is wrong.  Each
        oracle is computed once."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            oracles: dict[str, Any] = {}
            for run in runs:
                if run.error is not None:
                    continue
                if run.name not in oracles:
                    oracles[run.name] = self._oracle(con, run.name)
                if run.name == ETL_LOAD:
                    run.problem = self._check_etl(con, run.etl, oracles[run.name])
                else:
                    cols, rows = oracles[run.name]
                    run.problem = compare(run.columns, run.rows, cols, rows, rowkey)
        finally:
            con.close()

    def _oracle(self, con, name: str):
        if name == ETL_LOAD:
            return self.etl_oracle(con, self.work / "raw_csv")
        res = con.execute(self.registry[name].oracle)
        return [d[0] for d in res.description], res.fetchall()

    @staticmethod
    def etl_oracle(con, csv_zone: pathlib.Path) -> dict:
        """Kept and removed rows, and kept rows per (year, month, day,
        symbol), computed by DuckDB straight from the raw CSV zone with
        the ETL's validity rules."""
        con.execute(f"""
            CREATE OR REPLACE TEMP VIEW etl_raw AS
            SELECT price, quantity, make_timestamp(time * 1000) AS ts,
                   CAST(year AS INT) AS year, CAST(month AS INT) AS month, symbol
            FROM read_csv('{csv_zone}/*/*/*/*.csv', header = false, hive_partitioning = true,
                 columns = {{'trade_id': 'BIGINT', 'price': 'DOUBLE', 'quantity': 'DOUBLE',
                            'quote_qty': 'DOUBLE', 'time': 'BIGINT',
                            'is_buyer_maker': 'VARCHAR', 'is_best_match': 'VARCHAR'}})
        """)
        con.execute("""
            CREATE OR REPLACE TEMP VIEW etl_kept AS
            SELECT year, month, CAST(day(ts) AS INT) AS day, symbol FROM etl_raw
            WHERE ts IS NOT NULL AND price > 0 AND quantity > 0
              AND month BETWEEN 1 AND 12 AND day(ts) >= 1
              AND day(ts) <= day(last_day(make_date(year, month, 1)))
        """)
        total = con.execute("SELECT COUNT(*) FROM etl_raw").fetchone()[0]
        kept = con.execute("SELECT COUNT(*) FROM etl_kept").fetchone()[0]
        parts = con.execute(
            "SELECT year, month, day, symbol, COUNT(*) FROM etl_kept GROUP BY ALL"
        ).fetchall()
        return {"initial": total, "kept": kept, "parts": sorted(parts)}

    @staticmethod
    def _check_etl(con, etl: dict, oracle: dict) -> str | None:
        m = etl["metrics"]
        if (m["initial_rows"], m["kept_rows"]) != (oracle["initial"], oracle["kept"]):
            return (
                f"rows spark=({m['initial_rows']}, {m['kept_rows']}) "
                f"oracle=({oracle['initial']}, {oracle['kept']})"
            )
        parts = con.execute(f"""
            SELECT CAST(year AS INT), CAST(month AS INT), CAST(day AS INT), symbol, COUNT(*)
            FROM read_parquet('{etl['out']}/*/*/*/*/*.parquet', hive_partitioning = true)
            GROUP BY ALL
        """).fetchall()
        if sorted(parts) != oracle["parts"]:
            return f"partition counts differ ({len(parts)} vs {len(oracle['parts'])} partitions)"
        return None

    def etl_layer_metrics(self, runs: list[OpRun]) -> dict[str, float]:
        """The ETL op's throughput, DQ drop rate and Parquet-to-raw size
        ratio, and the files its sink wrote."""
        etl = [r for r in runs if r.name == ETL_LOAD and r.error is None]
        if not etl:
            return {"etl.rows_per_s": 0.0, "etl.dq_drop_frac": 0.0,
                    "etl.out_in_bytes_ratio": 0.0, "sinks.files_written": 0}
        raw_bytes = sum(f.stat().st_size for f in (self.work / "raw_csv").rglob("*.csv"))
        kept = sum(r.etl["metrics"]["kept_rows"] for r in etl)
        initial = sum(r.etl["metrics"]["initial_rows"] for r in etl)
        files = [f for r in etl for f in pathlib.Path(r.etl["out"]).rglob("*.parquet")]
        return {
            "etl.rows_per_s": kept / sum(r.latency_s for r in etl),
            "etl.dq_drop_frac": (initial - kept) / initial if initial else 0.0,
            "etl.out_in_bytes_ratio": sum(f.stat().st_size for f in files) / len(etl) / raw_bytes,
            "sinks.files_written": len(files),
        }
