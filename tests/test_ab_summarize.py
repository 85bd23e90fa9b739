"""tools/ab_summarize.py over small A/B result files."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

_TOOL = pathlib.Path(__file__).resolve().parent.parent / "tools" / "ab_summarize.py"


def _run(tmp_path, a_sides, b_sides):
    paths = []
    for side, runs in (("A", a_sides), ("B", b_sides)):
        for i, queries in enumerate(runs):
            p = tmp_path / f"{side}{i}.json"
            p.write_text("" if queries is None else json.dumps({"queries": queries}))
            paths.append(str(p))
        if side == "A":
            paths.append("--")
    return subprocess.run([sys.executable, str(_TOOL), *paths], capture_output=True, text=True, check=True)


def _row(stdout, name):
    (line,) = [ln for ln in stdout.splitlines() if ln.startswith(name)]
    return line.split()


def test_minima_and_ratio(tmp_path):
    out = _run(tmp_path, [{"q1": 2.0}, {"q1": 1.0}], [{"q1": 0.5}, {"q1": 0.8}])
    assert _row(out.stdout, "q1")[1:4] == ["1.000", "0.500", "0.50"]
    assert out.stderr == ""


def test_one_sided_queries_are_named(tmp_path):
    out = _run(tmp_path, [{"q1": 1.0, "only_a": 1.0}], [{"q1": 1.0, "only_b": 2.0}])
    assert "only on side A: only_a" in out.stderr
    assert "only on side B: only_b" in out.stderr
    assert "only_a" not in out.stdout and "only_b" not in out.stdout


def test_zero_minimum_prints_na(tmp_path):
    out = _run(tmp_path, [{"q1": 0.0}], [{"q1": 1.0}])
    assert _row(out.stdout, "q1")[3] == "n/a"
    assert _row(out.stdout, "TOTAL")[-1] == "n/a"


def test_empty_file_is_skipped(tmp_path):
    out = _run(tmp_path, [{"q1": 1.0}, None], [{"q1": 2.0}])
    assert "skipping empty file" in out.stderr
    assert _row(out.stdout, "q1")[1:4] == ["1.000", "2.000", "2.00"]
