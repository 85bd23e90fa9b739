"""One measurement harness for the registered queries.

    python tools/measure.py [--sf DIR] [--passes N] [--conf k=v ...]
        [--out ROWS.jsonl] [--profile] [--plans DIR] (--all | name ...)

One session (cores from ``$SPARK_GRAFT_CPUS``) and one warm-up, then
``--passes`` passes of ``fn(spark, sf_dir).count()`` under job group
``q:<name>``.  Each query's row (:func:`run_query`) goes to stderr and
to ``--out``, whose names are skipped so that a cut sweep resumes.  The
last stdout line is the ``tools/ab_summarize.py`` input: each query's
minimum over the warm passes (2..N).  ``--profile`` runs the last pass
under cProfile; ``--plans`` writes each query's normalised plan.
"""

from __future__ import annotations

import argparse
import contextlib
import cProfile
import io
import json
import os
import pathlib
import pstats
import re
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.tracing import make_stream_listener, stream_metrics, union_length  # noqa: E402

#: Plan text that differs between runs of the same code: ids, scratch
#: suffixes, RDD call sites, generated names.  Longer hex runs go first.
_PLAN_SUBS = [(re.compile(p), r) for p, r in [
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"),
    (r"[0-9a-f]{32}", "<hex>"),
    (r"\bc-[0-9a-f]{12}\b", "c-<hex>"),
    (r"_(?=[0-9a-f]*\d)[0-9a-f]{8,16}\b", "_<hex>"),
    (r"#\d+", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r" at [^\s,\]]+:\d+", " at <callsite>"),
    (r"_common_expr_\d+", "_common_expr_N"),
    (r"\bx_\d+\b", "x_N"),
    (r"part-\d+", "part-N"),
]]


def normalise_plan(text: str, root: str = str(ROOT)) -> str:
    """``explain("formatted")`` text with its run-specific parts masked and
    ``Expand`` projections sorted.  Distinct-aggregate groups ordered by
    expression-id hashes still differ downstream (columns, group ids)."""
    text = text.replace(root, "<repo>")
    for pattern, repl in _PLAN_SUBS:
        text = pattern.sub(repl, text)
    out, in_expand = [], False
    for line in text.splitlines():
        in_expand = bool(re.match(r"\(\d+\) Expand\b", line)) or (in_expand and bool(line.strip()))
        if in_expand and line.startswith("Arguments: [["):
            projections, sep, rest = line[len("Arguments: [["):].partition("]], ")
            line = "Arguments: [[" + "], [".join(sorted(projections.split("], ["))) + sep + rest
        out.append(line)
    return "\n".join(out) + "\n"


def spark_work(spark, name: str, t0: float, t1: float) -> dict:
    """Query ``name``'s Spark work over epoch seconds [t0, t1], from the
    live status stores (read after every query: they keep only the last
    1000 jobs).  A stream thread's jobs carry the stream's own group, so
    jobs outside every ``q:`` group count by their start time."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = store.jobsList(None)  # newest first
    intervals, stages = [], set()
    for j in (jobs.apply(i) for i in range(jobs.length())):
        group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
        start = j.submissionTime().get().getTime() / 1000.0
        if start < t0:
            break
        if group == f"q:{name}" or not group.startswith("q:"):
            end = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else t1
            intervals.append((start, min(end, t1)))
            stages.update(j.stageIds().apply(k) for k in range(j.stageIds().length()))
    task_ms = shuffle = spill = 0
    for sid in stages:
        attempts = store.stageData(sid, False, None, False, None)
        for sd in (attempts.apply(a) for a in range(attempts.length())):
            if not sd.submissionTime().isDefined() or sd.submissionTime().get().getTime() < t0 * 1000:
                continue  # skipped here, or a reused stage that ran for an earlier query
            task_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()  # oldest first
    n_sql = 0
    while n_sql < execs.length() and execs.apply(execs.length() - 1 - n_sql).submissionTime() >= t0 * 1000:
        n_sql += 1
    busy = union_length([iv for iv in intervals if iv[1] > iv[0]])
    return {"jobs": len(intervals), "sql_executions": n_sql, "task_s": task_ms / 1000.0,
            "shuffle_bytes": shuffle, "spill_bytes": spill, "driver_gap_s": round(t1 - t0 - busy, 3)}


def codegen_compiles(spark) -> int:
    """Classes the JVM has compiled from generated code (Janino), counting
    every cache miss of Spark's generated-code cache."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def run_query(spark, name: str, fn, p: int, sf_dir: str, records: list[dict], prof) -> tuple[dict, object]:
    """Pass ``p``'s run of query ``name`` (``fn``) and its row: wall_s, rows
    (or error), the :func:`spark_work`, the classes compiled and the stream
    figures of ``perfbench``."""
    spark.sparkContext.setJobGroup(f"q:{name}", name, False)
    row, df, n_records = {"name": name, "pass": p}, None, len(records)
    compiled = codegen_compiles(spark)
    t0, c0 = time.time(), time.perf_counter()
    try:
        with prof:
            df = fn(spark, sf_dir)
            row["rows"] = df.count()
    except Exception as e:  # a broken query must not end the run
        row["error"] = f"{type(e).__name__}: {str(e)[:200]}"
    row["wall_s"] = round(time.perf_counter() - c0, 3)
    row.update(spark_work(spark, name, t0, time.time()))
    row["codegen_compiles"] = codegen_compiles(spark) - compiled
    row.update({"stream_" + k.split(".")[1]: round(v, 3) for k, v in stream_metrics(records[n_records:]).items()})
    return row, df


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(usage=__doc__.split("\n\n")[1].strip())
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--conf", action="append", default=[])
    for flag in ("--out", "--plans"):
        ap.add_argument(flag)
    for flag in ("--all", "--profile"):
        ap.add_argument(flag, action="store_true")
    args = ap.parse_args(argv)
    from pyspark.sql.functions import pandas_udf

    from market_etl_spark.queries import REGISTRY
    from market_etl_spark.session import get_spark
    from market_etl_spark.streaming import mute_stop_noise

    names = sorted(REGISTRY) if args.all else args.names
    if not args.sf or not names or args.passes < 1 or set(names) - set(REGISTRY):
        ap.error(f"need --sf, --passes >= 1 and known names; unknown: {sorted(set(names) - set(REGISTRY))}")
    if args.out and os.path.exists(args.out):
        done = {json.loads(line)["name"] for line in pathlib.Path(args.out).read_text().splitlines() if line.strip()}
        names = [n for n in names if n not in done]
    confs = dict(c.partition("=")[::2] for c in args.conf)

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs.items():
        spark.conf.set(k, v)
    # The first job and Python worker pay one-time costs; keep them off the first query.
    spark.range(1).count()
    spark.range(32).select(pandas_udf(lambda s: s, "long")("id")).count()
    mute_stop_noise(spark)
    records: list[dict] = []
    listener = make_stream_listener(records)
    spark.streams.addListener(listener)
    walls: list[dict[str, float]] = [{} for _ in range(args.passes)]
    try:
        for p, sink in enumerate(walls, 1):
            last = p == args.passes
            for name in names:
                prof = cProfile.Profile() if args.profile and last else contextlib.nullcontext()
                row, df = run_query(spark, name, REGISTRY[name].fn, p, args.sf, records, prof)
                if "error" not in row:
                    sink[name] = row["wall_s"]
                print(json.dumps(row), file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(row) + "\n")
                if isinstance(prof, cProfile.Profile):
                    for pattern, n in ((r"market_etl_spark|__spark_entry__", 40), (r"py4j|readinto|sock_recv", 12)):
                        pstats.Stats(prof, stream=sys.stderr).sort_stats("cumulative").print_stats(pattern, n)
                if args.plans and last and df is not None:
                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        df.explain("formatted")
                    os.makedirs(args.plans, exist_ok=True)
                    pathlib.Path(args.plans, f"{name}.txt").write_text(normalise_plan(buf.getvalue()))
    finally:
        spark.streams.removeListener(listener)
        spark.sparkContext._jsc.clearJobGroup()

    warm = walls[1:] or walls
    best = {n: min(w[n] for w in warm if n in w) for n in names if any(n in w for w in warm)}
    print(json.dumps({"confs": confs, "total_min": round(sum(best.values()), 3),
                      "total_p1": round(sum(walls[0].values()), 3), "queries": best}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
