"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload lake_write --seed 1 --seconds 1 --trace 0

Run from the repository root.  The run generates seeded input tables,
starts one Spark session (``local[<cores>]`` through
``market_etl_spark.session.get_spark``), sets the workload up three
times and runs one untimed warm-up pass over its ops, then runs its ops
one at a time (a closed loop with one client), in whole passes until
``--seconds`` have elapsed.  Outputs are checked against DuckDB oracles
after the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` attaches the
per-layer tracing (``tracing.py``), runs at least two timed passes and prints
the per-layer metrics instead.  Everything the run writes goes under
``.perfbench_run/`` and ``.scratch/`` in the repository root and is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SF = 0.005
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
#: Stop starting ops after this long, so a run ends within its time limit.
MAX_TIMED_S = 120.0
#: A session start takes 5-15 s; one that has not finished by then is stuck.
SESSION_START_TIMEOUT_S = 60.0
sys.path[:0] = [str(HERE), str(ROOT)]

from workloads import OPS  # noqa: E402


def process_children() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, in MB.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): pages shared between processes are split among
    them, so a helper the JVM forks does not count the JVM twice.
    """
    children = process_children()
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended between listing and reading
    return total_kb / 1e3


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used by a process and its live
    descendants, including their reaped children.  Unlike wall time,
    this leaves out time the host gave to other machines."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    def __init__(self, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def configure_env(work: pathlib.Path, trace: bool) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``; switch
    the event log on for traced runs.  Must run before Spark starts."""
    conf_dir = work / "conf"
    tmp = work / "tmp"
    for d in (conf_dir, tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    lines = [f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}", "spark.ui.showConsoleProgress false"]
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
            f"spark.eventLog.dir file://{work / 'eventlog'}",
        ]
    (conf_dir / "spark-defaults.conf").write_text("\n".join(lines) + "\n")
    cores = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_CONF_DIR": str(conf_dir),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
    })


def start_spark(work: pathlib.Path, trace: bool):
    """``get_spark``, started again once if the JVM has not reported back
    within ``SESSION_START_TIMEOUT_S``.  PySpark waits with no limit for
    the JVM to write its connection file, and a JVM that fails to write
    it stays up, so without the limit such a run never ends."""
    from market_etl_spark.session import get_spark

    def kill_launcher() -> None:
        for pid in process_children().get(os.getpid(), []):
            os.kill(pid, signal.SIGKILL)

    for attempt in (1, 2):
        timer = threading.Timer(SESSION_START_TIMEOUT_S, kill_launcher)
        timer.start()
        try:
            return get_spark("perfbench")
        except Exception as e:
            if attempt == 2:
                raise
            print(f"# session start failed ({type(e).__name__}); starting again", file=sys.stderr)
            configure_env(work, trace)
        finally:
            timer.cancel()


def session_counts(spark) -> dict[str, int]:
    return {
        "session.leaked_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "session.active_streams": len(spark.streams.active),
        "session.temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def run_pass(wl, order: list[str], runs: list, after_op=None) -> float:
    """Run ``order`` once, appending each op's run; returns the pass time."""
    p0 = time.perf_counter()
    for name in order:
        wl.prepare(name)
        runs.append(wl.run_op(name))
        print(f"# op {name} {runs[-1].latency_s:.3f}s", file=sys.stderr)
        if after_op is not None:
            after_op(len(runs) - 1)
    return time.perf_counter() - p0


def timed_loop(wl, seed: int, seconds: float, min_passes: int, after_op=None):
    """Whole passes over the workload's ops until ``seconds`` have
    elapsed, each in an order drawn from the seed.  Returns the op runs,
    pass times and the timed wall time."""
    rng = random.Random(seed)
    runs, pass_s = [], []
    t0 = time.perf_counter()
    while len(pass_s) < min_passes or time.perf_counter() - t0 < seconds:
        order = list(wl.ops)
        rng.shuffle(order)
        pass_s.append(run_pass(wl, order, runs, after_op))
        if time.perf_counter() - t0 > MAX_TIMED_S:
            break
    return runs, pass_s, time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import datagen

    work = ROOT / ".perfbench_run"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, trace)
    scratch = ROOT / ".scratch"
    scratch.mkdir(exist_ok=True)
    scratch_before = set(os.listdir(scratch))
    sf_dir = str(datagen.write_tables(work / "data" / f"bench_sf{SF}", seed, SF))

    # Memory is a traced-run figure; untraced runs do not pay for sampling.
    sampler = RssSampler() if trace else None
    if sampler is not None:
        sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, trace)
        spark.sparkContext.setLogLevel("ERROR")
        from market_etl_spark.streaming import mute_stop_noise

        mute_stop_noise(spark)
        from workloads import Workload, load_check_helpers

        wl = Workload(workload, spark, sf_dir, work, scratch)
        session_start_s = time.perf_counter() - t0
        setups = [wl.setup() for _ in range(SETUP_REPEATS)]
        # Each op's first run pays its first-time JVM work (class loading,
        # code generation, JIT); one untimed pass in the listed order takes
        # that out of the timed passes and counts it as set-up.
        warm_runs: list = []
        warm_s = run_pass(wl, list(wl.ops), warm_runs)
        print(f"# session start {session_start_s:.3f}s, set-ups {[round(s, 3) for s in setups]}, "
              f"warm-up pass {warm_s:.3f}s", file=sys.stderr)

        tracer = listener = None
        counts: list[dict[str, int]] = []
        stream_records: list[dict] = []
        after_op = None
        if trace:
            import tracing as tr

            tracer = tr.Tracer()
            tracer.install()
            listener = tr.make_stream_listener(stream_records)
            spark.streams.addListener(listener)

            def label_op(i: int) -> None:
                tracer.op = i
                spark.sparkContext.setJobGroup(f"{tr.JOB_GROUP}{i}", "perfbench op", False)

            def after_op(i: int) -> None:
                counts.append(session_counts(spark))
                label_op(i + 1)

            label_op(0)
        cpu0 = tree_cpu_s(os.getpid())
        runs, pass_s, timed_s = timed_loop(wl, seed, seconds, 2 if trace else 1, after_op)
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        peak_rss_mb = sampler.stop() if sampler is not None else None
        if trace:
            tracer.uninstall()
            spark.streams.removeListener(listener)
            span_cost = tracer.span_cost_s()

        print(f"# timed {timed_s:.3f}s, {len(runs)} ops", file=sys.stderr)
        t_check = time.perf_counter()
        _canon, rowkey = load_check_helpers(ROOT)
        wl.check(warm_runs + runs, rowkey)
        etl_metrics = wl.etl_layer_metrics(runs) if trace else {}
        print(f"# checks {time.perf_counter() - t_check:.3f}s", file=sys.stderr)
        stop_spark(spark)
        spark = None

        for r in warm_runs + runs:
            if r.error or r.problem:
                print(f"# FAILED {r.name}: {r.error or r.problem}", file=sys.stderr)
        if not trace:
            # Wall-clock throughput is logged, not reported: on a shared
            # host it spread 0.11-0.42 over ten runs (README.md).
            print(f"# ops_per_s {len(runs) / timed_s:.4f}", file=sys.stderr)
            metrics = {
                "cpu_s_per_op": (cpu_s / len(runs), "s"),
                "setup_s": (session_start_s + statistics.median(setups) + warm_s, "s"),
            }
        else:
            metrics = layer_metrics(
                work, runs, pass_s, counts, stream_records, tracer, span_cost,
                session_start_s, etl_metrics,
            )
            metrics["session.peak_rss_mb"] = (peak_rss_mb, "MB")
            metrics["ops_failed_frac"] = (failed_count(warm_runs + runs) / len(warm_runs + runs), "ratio")
        return result_record(warm_runs + runs, metrics)
    finally:
        try:
            if sampler is not None and sampler.is_alive():
                sampler.stop()
            if spark is not None:
                stop_spark(spark)
        finally:
            for name in set(os.listdir(scratch)) - scratch_before:
                shutil.rmtree(scratch / name, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)


def failed_count(runs) -> int:
    """Ops that raised or whose output did not match their oracle."""
    return sum(1 for r in runs if r.error or r.problem)


def result_record(runs, metrics: dict[str, tuple[float, str]]) -> dict:
    """The result line: every op run (warm-up pass included) counts as
    attempted, and as failed if it raised or its output was wrong."""
    failed = failed_count(runs)
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(work, runs, pass_s, counts, stream_records, tracer, span_cost,
                  session_start_s, etl_metrics) -> dict[str, tuple[float, str]]:
    import tracing as tr

    ops = [(r.start, r.start + r.latency_s) for r in runs]
    spark_m = tr.spark_metrics(tr.read_event_log(work / "eventlog"), ops)
    span_m = tr.span_metrics(tracer.spans, set(range(len(runs))))
    stream_m = tr.stream_metrics(stream_records)
    out: dict[str, tuple[float, str]] = {}
    for k, v in {**spark_m, **span_m, **stream_m, **etl_metrics}.items():
        unit = ("1/s" if k.endswith("_per_s") else "s" if k.endswith("_s") else "ms" if k.endswith("_ms")
                else "MB" if k.endswith("_mb") else "ratio" if k.endswith(("_frac", "_ratio", "_drift"))
                else "count")
        out[k] = (v, unit)
    out["queries.build_s"] = (sum(r.build_s for r in runs), "s")
    out["queries.action_s"] = (sum(r.action_s for r in runs), "s")
    out["session.start_s"] = (session_start_s, "s")
    out["op_p50_s"] = (statistics.median(r.latency_s for r in runs), "s")
    out["ops.wall_s"] = (sum(r.latency_s for r in runs), "s")
    for k in ("session.leaked_rdds", "session.active_streams", "session.temp_views"):
        out[k] = (max((c[k] for c in counts), default=0), "count")
    out["session.pass_drift"] = (pass_s[-1] / pass_s[0], "ratio")
    # First timed pass only, so it compares with an untraced run's ops_per_s.
    out["trace.ops_per_s"] = (len(runs) // len(pass_s) / pass_s[0], "1/s")
    out["trace.span_overhead_s"] = (span_cost * len(tracer.spans), "s")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # A terminated run still stops Spark and removes what it wrote.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "market_etl_spark").is_dir() or not (ROOT / "tools" / "check.py").is_file():
        print(f"perfbench: no program to measure under {ROOT} (market_etl_spark/, tools/check.py)",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
