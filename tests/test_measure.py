"""tools/measure.py: the plan normaliser over literal plan text, and one
short run whose rows and summary line are checked."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import re

from conftest import SF_SMOKE

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(f"_tool_{name}", _TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


measure = _load("measure")
ab_summarize = _load("ab_summarize")

_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (5)
+- HashAggregate (4)
   +- Exchange (3)
      +- Expand (2)
         +- Scan ExistingRDD (1)


(1) Scan ExistingRDD
Output [2]: [user_id#{a}L, ws#{b}]
Arguments: [user_id#{a}L, ws#{b}], MapPartitionsRDD[{rdd}] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Expand
Input [2]: [user_id#{a}L, ws#{b}]
Arguments: {projections}, [user_id#{c}L, ws#{d}, gid#{e}]

(3) Exchange
Input [3]: [user_id#{c}L, ws#{d}, gid#{e}]
Arguments: hashpartitioning(gid#{e}, 4), ENSURE_REQUIREMENTS, [plan_id={pid}]

(4) HashAggregate
Input [4]: [filter(split(text#{b},  , -1), lambdafunction((lambda x_{x}#{a} = a), lambda x_{x}#{a}, false)), _common_expr_{x}#{b}]
Arguments: [[b#{a}, a#{b}]]
Location: InMemoryFileIndex [file:{root}/.scratch/lakehouse_cdf_sf0_01_7a2e1d51e1/_cdc/cdc-0539482236784476a446bd91c3fce547.parquet, c-053948223678, part-00003-5f0b1c2e-8d3a-4e44-9a1b-0c3f5e6d7a8b-c000.snappy.parquet]
"""


def _plan(root, projections, first):
    a, b, c, d, e = first, first + 1, first + 2, first + 3, first + 4
    return _PLAN.format(root=root, projections=projections, a=a, b=b, c=c, d=d, e=e,
                        rdd=first * 3, pid=first * 7, x=first % 50)


def test_normalise_plan_masks_run_specific_text():
    one = _plan("/src/a", "[[user_id#10L, null, 1], [null, ws#11, 2]]", 10)
    other = _plan("/src/b", "[[null, ws#91, 2], [user_id#90L, null, 1]]", 90)
    assert one != other
    got = measure.normalise_plan(one, root="/src/a")
    assert got == measure.normalise_plan(other, root="/src/b")
    assert not re.search(r"#\d|plan_id=\d|RDD\[\d|x_\d|_common_expr_\d|\.java:\d", got)
    assert "file:<repo>/.scratch/lakehouse_cdf_sf0_01_<hex>/_cdc/cdc-<hex>.parquet, c-<hex>, part-N-<uuid>-" in got
    # Expand projections sorted; its output list, and lists elsewhere, keep their order.
    assert "Arguments: [[null, ws#N, 2], [user_id#NL, null, 1]], [user_id#NL, ws#N, gid#N]" in got
    assert "Arguments: [[b#N, a#N]]" in got


def test_rows_summary_and_resume(spark, tmp_path, capsys):
    rows_path, plans = tmp_path / "rows.jsonl", tmp_path / "plans"
    names = ["q5_whales", "q_streaming_minute_candles"]
    argv = ["--sf", SF_SMOKE, "--passes", "2", "--out", str(rows_path), "--plans", str(plans), "--profile", *names]
    assert measure.main(argv) == 0
    rows = [json.loads(line) for line in rows_path.read_text().splitlines()]
    assert [(r["name"], r["pass"]) for r in rows] == [(n, p) for p in (1, 2) for n in names]
    fields = ("wall_s rows jobs sql_executions codegen_compiles task_s shuffle_bytes spill_bytes driver_gap_s "
              "stream_start_s stream_trigger_ms stream_batches").split()
    for r in rows:
        assert "error" not in r and all(f in r for f in fields), r
        assert 0 <= r["driver_gap_s"] <= r["wall_s"] + 0.01, r
    batch, stream = rows[0::2], rows[1::2]
    assert all(r["jobs"] >= 1 and r["sql_executions"] >= 1 and r["stream_batches"] == 0 for r in batch), batch
    assert all(r["jobs"] >= 1 and r["stream_start_s"] > 0 and r["stream_batches"] >= 1 for r in stream), stream
    assert sorted(p.name for p in plans.iterdir()) == [f"{n}.txt" for n in names]
    assert "TakeOrderedAndProject" in (plans / "q5_whales.txt").read_text()

    captured = capsys.readouterr()
    assert "function calls" in captured.err  # --profile's stats
    summary = tmp_path / "A1.json"
    summary.write_text(captured.out.strip().splitlines()[-1])
    side = ab_summarize.load_side([str(summary)])
    assert side == {r["name"]: [r["wall_s"]] for r in rows if r["pass"] == 2}

    # A second run over the same --out skips the names it already holds.
    assert measure.main(["--sf", SF_SMOKE, "--out", str(rows_path), *names]) == 0
    assert len(rows_path.read_text().splitlines()) == len(rows)
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["queries"] == {}
