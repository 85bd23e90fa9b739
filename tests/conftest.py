from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"

# Fast/slow tiering (VERDICT r14 item 3): the default run (`pytest
# tests/`) excludes tests listed in slow_manifest.txt via the `slow`
# marker + pytest.ini addopts, keeping it inside the verification
# window (~13 min measured) while still touching every test module.
# The manifest is GENERATED from a measured `--durations=0` log by
# tools/gen_slow_manifest.py — nothing is deleted; run the long tier
# with `pytest tests/ -m slow` (or everything with `-m ""`).
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_manifest.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_MANIFEST) as f:
            slow_ids = {line.strip() for line in f if line.strip()}
    except OSError:
        return
    for item in items:
        if item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # get_spark's 12g default lets one test JVM take half a 15 GB host;
    # the whole fast tier passes at 4g.  The env var still overrides it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from market_etl_spark.session import get_spark

    spark = get_spark("tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
