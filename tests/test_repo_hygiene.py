"""Repository-level guards that need no Spark session.

- Engine code carries no ``assert`` statement: ``python -O`` strips
  them, and with them any commit, restore or verdict written inside
  one.  Checks that must hold raise explicitly (``_audit.require``).
- Every id in ``tests/slow_manifest.txt`` names a collected test: a
  renamed test would otherwise drop out of the slow tier silently and
  run in the default one, whose time limit it was moved out of.
"""

from __future__ import annotations

import ast
import pathlib
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
