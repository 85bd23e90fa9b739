"""Repository-level guards that need no Spark session.

- Engine code carries no ``assert`` statement: ``python -O`` strips
  them, and with them any commit, restore or verdict written inside
  one.  Checks that must hold raise explicitly (``_audit.require``).
- Every id in ``tests/slow_manifest.txt`` names a collected test: a
  renamed test would otherwise drop out of the slow tier silently and
  run in the default one, whose time limit it was moved out of.
- No tool names a fixed checkout path: run from a second checkout, it
  would import, check or measure the first one instead.
- Only the commit log's own two modules name its private base readers
  and fold; the rest of the engine and the tools read log state
  through ``snapshot``, ``json_replay`` and ``plan_scan``.
"""

from __future__ import annotations

import ast
import pathlib
import re
import subprocess
import sys

_REPO = pathlib.Path(__file__).resolve().parent.parent


def test_engine_has_no_assert_statements():
    found = [
        f"{path.relative_to(_REPO)}:{node.lineno}"
        for path in sorted((_REPO / "market_etl_spark").rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not found, found


def test_slow_manifest_ids_are_collected():
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q", "-m", "", "-p", "no:cacheprovider"],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    collected = {line.strip() for line in out.stdout.splitlines() if "::" in line}
    assert collected, out.stdout[-2000:] + out.stderr[-2000:]
    manifest = (_REPO / "tests" / "slow_manifest.txt").read_text().split()
    missing = [nodeid for nodeid in manifest if nodeid not in collected]
    assert not missing, missing


def test_tools_name_no_fixed_checkout_path():
    fixed = re.compile(r"""sys\.path\.insert\(0, ["']/|^cd /""", re.M)
    found = [
        str(path.relative_to(_REPO))
        for path in sorted((_REPO / "tools").iterdir())
        if path.is_file() and (str(_REPO) in path.read_text() or fixed.search(path.read_text()))
    ]
    assert not found, found


def test_log_state_is_read_only_through_its_public_readers():
    private = re.compile(r"\b(_tail_net|_resolve_base|_generation|_base_batches)\b")
    own = {"market_etl_spark/lakehouse.py", "market_etl_spark/lakehouse_checkpoint.py"}
    found = [
        f"{rel}:{n}"
        for top in ("market_etl_spark", "tools")
        for path in sorted((_REPO / top).rglob("*.py"))
        if (rel := path.relative_to(_REPO).as_posix()) not in own
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if private.search(line)
    ]
    assert not found, found
