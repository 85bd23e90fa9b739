"""Tests of the benchmark's own arithmetic and output check.

Run from the repository root:  python -m pytest perfbench/tests -q
No Spark session is started; the oracle test uses DuckDB over a tiny
generated data set.
"""

from __future__ import annotations

import pathlib
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import JOB_GROUP, Span, self_times, spark_metrics, stream_metrics, union_length  # noqa: E402
from workloads import OpRun, Workload, load_check_helpers  # noqa: E402


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),  # overlaps the next child
        Span("b", 3.0, 5.0, 0, 0),
        Span("c", 2.0, 3.0, 1, 0),  # grandchild: only reduces "a"
        Span("d", 9.0, 12.0, 0, 0),  # outlives its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 4 - 1, 3 - 1, 2, 1, 3])


def test_spark_metrics_attribute_jobs_by_group_then_time():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": f"{JOB_GROUP}0"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "time": 1100},
        # no job group (another thread): attributed by its start time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2200, "Stage IDs": [1]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Disk Bytes Spilled": 2_000_000}},
        # outside every op: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 999}},
    ]
    m = spark_metrics(events, [(1.0, 2.0), (2.0, 3.0)])
    assert m == pytest.approx({
        "spark.driver_gap_s": (1.0 - 0.5) + (1.0 - 0.4),
        "spark.jobs_per_op": 1.0,
        "spark.sql_executions_per_op": 0.5,
        "spark.task_s": 0.5,
        "spark.tasks_per_op": 1.0,
        "spark.shuffle_write_mb": 1.0,
        "spark.spill_mb": 2.0,
    })


def test_stream_metrics_phases():
    records = [
        {"kind": "start", "id": "a", "t": 10.0},
        {"kind": "progress", "id": "a", "t": 12.0, "rows": 5, "trigger_ms": 100},
        {"kind": "progress", "id": "a", "t": 13.0, "rows": 7, "trigger_ms": 300},
        {"kind": "end", "id": "a", "t": 14.0},
    ]
    assert stream_metrics(records) == {
        "streaming.query_s": 4.0, "streaming.start_s": 2.0, "streaming.trigger_ms": 200.0,
        "streaming.batches": 2, "streaming.input_rows": 12,
    }


@pytest.fixture(scope="module")
def tiny_sf(tmp_path_factory) -> str:
    return str(datagen.write_tables(tmp_path_factory.mktemp("data") / "bench_sf0.001", seed=5, sf=0.001))


def test_datagen_is_seeded(tmp_path):
    a = datagen.make_tables(9, 0.001)
    b = datagen.make_tables(9, 0.001)
    c = datagen.make_tables(10, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_injected_wrong_result_counts_as_failed(tiny_sf, tmp_path):
    import duckdb

    wl = Workload("llm_curation", None, tiny_sf, tmp_path, tmp_path)
    name = "q1_pruned_multi_agg"
    con = duckdb.connect()
    for t in datagen.BASE_ROWS.keys() | {"region", "nation"}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tiny_sf}/{t}.parquet')")
    res = con.execute(wl.registry[name].oracle)
    cols, rows = [d[0] for d in res.description], res.fetchall()
    assert rows, "the oracle must return rows for the test to mean anything"
    wrong = [list(r) for r in rows]
    i = next(j for j, v in enumerate(wrong[0]) if isinstance(v, (int, float)))
    wrong[0][i] = wrong[0][i] + 1

    good_run = OpRun(name, 0.0, 1.0, columns=cols, rows=rows)
    bad_run = OpRun(name, 1.0, 1.0, columns=cols, rows=[tuple(r) for r in wrong])
    _canon, rowkey = load_check_helpers(ROOT)
    wl.check([good_run, bad_run], rowkey)

    assert good_run.problem is None
    assert bad_run.problem and "values differ" in bad_run.problem
    record = run.result_record([good_run, bad_run], {})
    assert (record["correct"], record["attempted"], record["failed"]) == (False, 2, 1)


def test_erroring_op_counts_as_failed():
    record = run.result_record([OpRun("x", 0.0, 1.0, error="boom"), OpRun("y", 0.0, 1.0, rows=[])], {})
    assert (record["correct"], record["failed"]) == (False, 1)


def test_process_tree_counters_read_proc():
    import os

    before = run.tree_cpu_s(os.getpid())
    sum(i * i for i in range(3_000_000))
    assert run.tree_cpu_s(os.getpid()) > before
    assert run.tree_rss_mb(os.getpid()) > 1.0


def test_refuses_to_run_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    assert run.main(["--workload", "lake_write", "--seed", "1"]) == 2
    assert capsys.readouterr().out == ""
