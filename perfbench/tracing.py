"""Per-layer tracing, attached to the program from outside.

Nothing here edits the engine.  A traced run

- wraps public functions of the engine's layers (module functions and
  class methods) in spans: name, start, end, parent span and op id.
  Module functions are replaced in every loaded ``market_etl_spark``
  module that bound them, so ``from ..tables import load`` callers are
  seen too.  Spans stay in memory until the run ends;
- listens to Structured Streaming through a Python
  ``StreamingQueryListener``;
- reads jobs, tasks, shuffle, spill and SQL executions from the Spark
  event log, which the harness switches on for traced runs only.

Self time is a span's duration minus the part of it its child spans
cover (:func:`self_times`).
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import inspect
import json
import pathlib
import sys
import threading
import time
from typing import Any, Callable

#: (module, attribute or ``Class.method``, span name).  Missing names are
#: skipped, so a later refactor that renames one drops its span rather
#: than breaking the run.
LAKEHOUSE_STAGE = (
    "append merge_into delete_where delete_where_mor update_where_mor "
    "replace_where compact compact_small optimize_zorder optimize_zorder_incremental"
).split()
TARGETS: list[tuple[str, str, str]] = [
    ("market_etl_spark.tables", "load", "tables.load"),
    ("market_etl_spark.lakehouse", "Transaction.__init__", "lakehouse.txn_open"),
    *[("market_etl_spark.lakehouse", f"Transaction.{m}", "lakehouse.stage") for m in LAKEHOUSE_STAGE],
    ("market_etl_spark.lakehouse", "Transaction.commit", "lakehouse.commit"),
    ("market_etl_spark.lakehouse", "read_table", "lakehouse.read_table"),
    ("market_etl_spark.lakehouse", "prune_files", "lakehouse.prune_files"),
    ("market_etl_spark.lakehouse", "write_checkpoint", "lakehouse.checkpoint"),
    ("market_etl_spark.lakehouse", "Transaction._maybe_advance_checkpoint", "lakehouse.checkpoint"),
    ("market_etl_spark.lakehouse_checkpoint", "write_parquet_checkpoint", "lakehouse.checkpoint"),
    ("market_etl_spark.lakehouse_checkpoint", "advance_parquet_checkpoint", "lakehouse.checkpoint"),
    ("market_etl_spark.lakehouse_checkpoint", "advance_parquet_checkpoint_arrow", "lakehouse.checkpoint"),
    ("market_etl_spark.lakehouse_sql", "run_sql", "lakehouse_sql.run_sql"),
    ("market_etl_spark.ingest.unzipper", "StreamingUnzipper.run", "ingest.unzip"),
    ("market_etl_spark.etl", "run_trades_etl", "etl.run"),
]
#: Modules whose every public function is one span name.
MODULE_SPANS = {
    "market_etl_spark.llm.dedup": "llm.build",
    "market_etl_spark.llm.similarity": "llm.build",
    "market_etl_spark.llm.text": "llm.build",
}
SINK_PREFIX = ("market_etl_spark.sinks", "write_", "sinks.write")
#: Spans whose return value the metrics read; other results are dropped
#: so the trace keeps no DataFrame alive.
RESULT_SPANS = {"lakehouse.prune_files"}
#: Job-group prefix the harness sets before each op (``<prefix><op id>``).
JOB_GROUP = "perfbench-op-"


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    error: str | None = None
    result: Any = None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals,
    clipped to the parent (a child that outlives its parent cannot count
    twice)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None and sp.end is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        end = sp.end if sp.end is not None else sp.start
        covered = union_length(
            [(max(lo, sp.start), min(hi, end)) for lo, hi in children.get(i, []) if hi > sp.start and lo < end]
        )
        out.append(max(end - sp.start - covered, 0.0))
    return out


def _plain_function(v: object) -> bool:
    """A Python function that is not a Spark UDF (wrapping a UDF object
    would hide it from Spark)."""
    return inspect.isfunction(v) and not hasattr(v, "evalType")


class Tracer:
    """Span recorder plus the patch set that feeds it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            sp = Span(name, time.perf_counter(), None, stack[-1] if stack else None, self.op)
            with self._lock:
                idx = len(self.spans)
                self.spans.append(sp)
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
                if name in RESULT_SPANS:
                    sp.result = result
                return result
            except BaseException as e:
                sp.error = type(e).__name__
                raise
            finally:
                sp.end = time.perf_counter()
                stack.pop()

        return traced

    def _patch(self, owner: object, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        wrapped = self.wrap(fn, name)
        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, fn))
        if isinstance(owner, type):
            return
        # Rebind every ``from x import fn`` copy in the engine's modules.
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith("market_etl_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if v is fn:
                    setattr(mod, k, wrapped)
                    self._undo.append((mod, k, fn))

    def install(self) -> None:
        targets = list(TARGETS)
        for mod_name, span in MODULE_SPANS.items():
            mod = importlib.import_module(mod_name)
            targets += [
                (mod_name, k, span) for k, v in vars(mod).items()
                if not k.startswith("_") and _plain_function(v) and v.__module__ == mod_name
            ]
        mod_name, prefix, span = SINK_PREFIX
        mod = importlib.import_module(mod_name)
        targets += [(mod_name, k, span) for k, v in vars(mod).items() if k.startswith(prefix) and _plain_function(v)]
        for mod_name, attr, span in targets:
            owner = importlib.import_module(mod_name)
            *cls, fn_name = attr.split(".")
            if cls:
                owner = getattr(owner, cls[0], None)
            if owner is not None and hasattr(owner, fn_name):
                self._patch(owner, fn_name, span)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of one span around a no-op call."""
        noop = self.wrap(lambda: None, "trace.calibrate")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        cost = (time.perf_counter() - t0) / n
        with self._lock:
            self.spans = [s for s in self.spans if s.name != "trace.calibrate"]
        return cost


def make_stream_listener(records: list[dict]):
    """A ``StreamingQueryListener`` that appends one dict per callback
    (kind, query id, arrival time, and for progress: input rows, batch
    id and trigger duration)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            records.append({"kind": "start", "id": str(event.id), "t": time.time()})

        def onQueryProgress(self, event):
            p = event.progress
            records.append({
                "kind": "progress", "id": str(p.id), "t": time.time(),
                "rows": p.numInputRows, "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            records.append({"kind": "end", "id": str(event.id), "t": time.time()})

    return Listener()


def stream_metrics(records: list[dict]) -> dict[str, float]:
    by_id: dict[str, dict] = {}
    for r in records:
        q = by_id.setdefault(r["id"], {"progress": []})
        if r["kind"] == "progress":
            q["progress"].append(r)
        else:
            q.setdefault(r["kind"], r["t"])
    query_s = start_s = 0.0
    batches = rows = 0
    trigger = []
    for q in by_id.values():
        prog = q["progress"]
        if "start" in q and "end" in q:
            query_s += q["end"] - q["start"]
        if "start" in q and prog:
            start_s += min(p["t"] for p in prog) - q["start"]
        batches += len(prog)
        rows += sum(p["rows"] for p in prog)
        trigger += [p["trigger_ms"] for p in prog]
    return {
        "streaming.query_s": query_s,
        "streaming.start_s": start_s,
        "streaming.trigger_ms": sum(trigger) / len(trigger) if trigger else 0.0,
        "streaming.batches": batches,
        "streaming.input_rows": rows,
    }


def read_event_log(log_dir: pathlib.Path) -> list[dict]:
    events = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def spark_metrics(events: list[dict], ops: list[tuple[float, float]]) -> dict[str, float]:
    """Spark work per timed op from event-log records.

    ``ops`` are the timed ops' (start, end) epoch seconds.  A job belongs
    to the op named by its job group; a job without one (started from
    another thread, such as a stream's) and a SQL execution belong to
    the op whose interval holds their start (ops run one at a time).
    Tasks follow their stage's job.
    """

    def op_of(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        for i, (lo, hi) in enumerate(ops):
            if lo <= t <= hi:
                return i
        return None

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql = tasks = 0
    task_ms = shuffle = spill = 0
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            op = int(group[len(JOB_GROUP):]) if group.startswith(JOB_GROUP) else op_of(e["Submission Time"])
            jobs[e["Job ID"]] = {"op": op if op is not None and op < len(ops) else None,
                                 "start": e["Submission Time"] / 1000.0}
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql += op_of(e["time"]) is not None
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            if job is None or job["op"] is None:
                continue
            m = e.get("Task Metrics") or {}
            tasks += 1
            task_ms += m.get("Executor Run Time", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
    gap = 0.0
    for i, (lo, hi) in enumerate(ops):
        ivs = [(max(j["start"], lo), min(j.get("end", hi), hi)) for j in jobs.values() if j["op"] == i]
        gap += (hi - lo) - union_length([iv for iv in ivs if iv[1] > iv[0]])
    n = max(len(ops), 1)
    n_jobs = sum(1 for j in jobs.values() if j["op"] is not None)
    return {
        "spark.driver_gap_s": gap,
        "spark.jobs_per_op": n_jobs / n,
        "spark.sql_executions_per_op": sql / n,
        "spark.task_s": task_ms / 1000.0,
        "spark.tasks_per_op": tasks / n,
        "spark.shuffle_write_mb": shuffle / 1e6,
        "spark.spill_mb": spill / 1e6,
    }


def span_metrics(spans: list[Span], timed_ops: set[int]) -> dict[str, float]:
    """Self time per span name over the timed ops, plus the counts the
    lakehouse spans carry (commits, conflicts, files kept by pruning)."""
    selfs = self_times(spans)
    out: dict[str, float] = {
        f"{n}_s": 0.0
        for n in (
            "tables.load llm.build lakehouse.txn_open lakehouse.stage lakehouse.commit "
            "lakehouse.read_table lakehouse.checkpoint lakehouse_sql.run_sql ingest.unzip "
            "etl.run sinks.write"
        ).split()
    }
    commits = conflicts = kept = total = 0
    for sp, st in zip(spans, selfs):
        if sp.op not in timed_ops:
            continue
        key = f"{sp.name}_s"
        if key in out:
            out[key] += st
        if sp.name == "lakehouse.commit":
            commits += sp.error is None
            conflicts += sp.error == "CommitConflict"
        elif sp.name == "lakehouse.prune_files" and sp.error is None:
            _version, files_kept, n_files = sp.result
            kept += len(files_kept)
            total += n_files
    out["lakehouse.commits"] = commits
    out["lakehouse.conflicts"] = conflicts
    out["lakehouse.files_kept_frac"] = kept / total if total else 0.0
    return out
