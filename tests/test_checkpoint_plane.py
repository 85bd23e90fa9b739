"""The parquet-checkpoint plane without a SparkSession.

Commits are written as literal JSON, so every action class the state
carries appears at a known version: adds with footer stats, a
copy-on-write remove, ``add_dv``/``remove_dv``, ``set_meta`` (schema,
then a rename's column map) and txn high-water marks, plus the three
restore sequences that once resurrected files through a checkpoint:

- rewrite -> RESTORE re-adds files the base already carries (the base
  rows must drop, or add rows duplicate);
- DELETE -> RESTORE -> DELETE of a base file (the final remove must
  evict the base row);
- CoW rewrite removes a file and its DV -> RESTORE re-adds both ->
  the DV is removed again (the base DV row must go).

The checkpoint is bootstrapped, then advanced; at every version the
session-less compositions and the scan planner equal JSON replay, also
when a checkpoint part cannot be read.
"""

from __future__ import annotations

import json
import pathlib

import pyarrow.parquet as pq
import pytest

from market_etl_spark import lakehouse as lk
from market_etl_spark import lakehouse_checkpoint as ck


def _st(lo: int, hi: int, rows: int = 10) -> dict:
    return {"rows": rows, "cols": {"id": {"min": lo, "max": hi, "nulls": 0}}}


def _add(f: str, stats=None) -> dict:
    return {"op": "add", "file": f, **({"stats": stats} if stats else {})}


def _rm(f: str) -> dict:
    return {"op": "remove", "file": f}


_SCHEMA = [["id", "bigint"], ["v", "double"]]
_DV = "_deletes/dv-a.parquet"

#: version -> (actions, txn); versions are 1-based and contiguous
_COMMITS = [
    ([{"op": "set_meta", "meta": {"schema": _SCHEMA}},
      _add("data/a.parquet", _st(0, 9)), _add("data/b.parquet", _st(10, 19))],
     {"app": "s", "version": 0}),
    ([_add("data/c.parquet", _st(20, 29)), _add("data/d.parquet")], None),
    ([{"op": "add_dv", "file": _DV}], None),  # v3: bootstrap here
    # v4: copy-on-write delete rewrites b
    ([_rm("data/b.parquet"), _add("data/b2.parquet", _st(10, 18, 9))], None),
    # v5: rename v -> val (a column map lands in the tail)
    ([{"op": "set_meta", "meta": {"colmap": {"id": "id", "val": "v"},
                                  "schema": [["id", "bigint"], ["val", "double"]]}}],
     None),
    # v6: RESTORE to v3 re-adds b, which the base checkpoint carries
    ([_rm("data/b2.parquet"), _add("data/b.parquet", _st(10, 19))],
     {"app": "s", "version": 1}),
    ([_rm("data/b.parquet")], None),  # v7: DELETE the restored file
    # v8: CoW delete on a drops the file and its DV
    ([_rm("data/a.parquet"), {"op": "remove_dv", "file": _DV},
      _add("data/a2.parquet", _st(0, 9, 8))], None),
    # v9: RESTORE re-adds a and its DV
    ([_rm("data/a2.parquet"), _add("data/a.parquet", _st(0, 9)),
      {"op": "add_dv", "file": _DV}], None),
    # v10: the DV is removed again by a second rewrite of a
    ([_rm("data/a.parquet"), {"op": "remove_dv", "file": _DV},
      _add("data/a3.parquet", _st(0, 9, 8))], {"app": "t", "version": 4}),
]

_PREDICATES = (
    [],
    [("id", "<", 5)],
    [("id", ">=", 15)],
    [("id", "in", (12, 25))],
    [("id", "<", 0)],
)


@pytest.fixture
def table(tmp_path) -> str:
    log = tmp_path / "t" / lk._LOG_DIR
    log.mkdir(parents=True)
    for v, (actions, txn) in enumerate(_COMMITS, start=1):
        body = {"version": v, "ts": float(v), "actions": actions}
        if txn:
            body["txn"] = txn
        (log / f"{v:08d}.json").write_text(json.dumps(body))
    return str(tmp_path / "t")


def _assert_composes_like_replay(path: str, v: int) -> None:
    jv, jlive, jdvs, _txns, jmeta, jstats = lk._state_full(path, v)
    av, alive, advs, ameta = ck.state_arrow(path, v)
    assert (av, set(alive), advs, ameta) == (jv, jlive, jdvs, jmeta), v
    assert {f: json.loads(s) if s else None for f, s in alive.items()} == {
        f: jstats.get(f) for f in jlive
    }, v
    assert ck.meta_arrow(path, v) == (jv, jmeta), v
    for plan in (ck.prune_scan_arrow, ck.plan_scan):
        _assert_plans_like_replay(path, v, plan)


def _assert_plans_like_replay(path: str, v: int | None, plan=ck.plan_scan) -> None:
    _jv, _live, jdvs, _txns, jmeta, _stats = lk._state_full(path, v)
    for pred in _PREDICATES:
        sv, kept, dvs, meta, total = plan(path, pred, v)
        assert (sv, kept, total) == lk.prune_files(path, pred, v), (v, pred)
        assert (dvs, meta) == (sorted(jdvs), jmeta), (v, pred)


def _generation_rows(path: str, v: int) -> list[tuple]:
    tbl = pq.read_table(str(ck._ckpt_dir(path, v)))
    return sorted(zip(*(tbl.column(c).to_pylist() for c in ck._COLS)))


def _replay_rows(path: str, v: int) -> list[tuple]:
    _v, live, dvs, txns, meta, stats = lk._state_full(path, v)
    adds = {f: json.dumps(stats[f]) if stats.get(f) else "" for f in live}
    return sorted(ck._state_rows(adds, dvs, meta, txns))


def test_bootstrap_and_advance_compose_like_json_replay(table):
    path = table
    tip = len(_COMMITS)
    for v in range(1, tip + 1):  # no checkpoint yet: JSON replay
        _assert_plans_like_replay(path, v)
    assert ck.write_parquet_checkpoint(path, version=3) == 3
    assert _generation_rows(path, 3) == _replay_rows(path, 3)
    for v in range(3, tip + 1):
        _assert_composes_like_replay(path, v)
    with pytest.raises(ValueError, match="no parquet checkpoint"):
        ck.state_arrow(path, 2)

    for target in (6, 7, 9, tip):
        assert ck.advance_parquet_checkpoint(path, version=target) == target
        rows = _generation_rows(path, target)
        # each generation equals a from-scratch bootstrap at its version,
        # so no restored file appears twice and no deleted one returns
        assert rows == _replay_rows(path, target), target
        oldest = ck.latest_parquet_checkpoint(path, target - 1)
        for v in range(oldest, tip + 1):
            _assert_composes_like_replay(path, v)

    log = pathlib.Path(path) / lk._LOG_DIR
    left = sorted(p.name for p in log.glob(f"{ck._CKPT_PREFIX}*"))
    assert left == [f"{ck._CKPT_PREFIX}{9:08d}", f"{ck._CKPT_PREFIX}{tip:08d}"]
    assert not list(log.glob(".*-tmp-*"))
    # idempotent at the tip
    assert ck.advance_parquet_checkpoint(path) == tip
    assert ck.latest_parquet_checkpoint(path) == tip
    # the end state every restore sequence must reach
    _v, live, dvs, _meta = ck.state_arrow(path)
    assert set(live) == {"data/a3.parquet", "data/c.parquet", "data/d.parquet"}
    assert dvs == set()


def test_advance_without_a_checkpoint_bootstraps(table):
    assert ck.advance_parquet_checkpoint(table, version=4) == 4
    assert _generation_rows(table, 4) == _replay_rows(table, 4)


def test_large_states_split_into_parts(table, monkeypatch):
    monkeypatch.setattr(ck, "_PART_ROWS", 2)
    ck.write_parquet_checkpoint(table, version=3)
    parts = sorted(ck._ckpt_dir(table, 3).glob("*.parquet"))
    assert len(parts) == 4  # 7 rows (4 adds, a dv, meta, a txn) in 2-row batches
    assert sum(pq.ParquetFile(str(p)).metadata.num_rows for p in parts) == 7
    ck.advance_parquet_checkpoint(table)
    assert _generation_rows(table, len(_COMMITS)) == _replay_rows(
        table, len(_COMMITS)
    )


@pytest.mark.parametrize("damage", ["truncate", "garbage"])
def test_unreadable_checkpoint_plans_from_json_replay(table, monkeypatch, damage):
    """A checkpoint is derived data: when a part file is truncated or
    is not parquet at all, planning replays the JSON log instead."""
    monkeypatch.setattr(ck, "_PART_ROWS", 2)
    for v in (3, len(_COMMITS)):
        ck.write_parquet_checkpoint(table, version=v)
        part = sorted(ck._ckpt_dir(table, v).glob("*.parquet"))[1]
        body = part.read_bytes()
        part.write_bytes(body[: len(body) // 2] if damage == "truncate" else b"not parquet")
    for v in (None, 5):  # the tip, and time travel onto the v3 checkpoint
        with pytest.raises(ck._Unreadable):  # the checkpoint route itself
            ck.prune_scan_arrow(table, [], v)
        _assert_plans_like_replay(table, v)
        jv, _live, _dvs, _txns, jmeta, _stats = lk._state_full(table, v)
        assert ck.table_state(table, v)[:2] == (jv, jmeta)


def test_decision_errors_are_not_masked_by_the_fallback(table, monkeypatch):
    """Only an unreadable checkpoint falls back to JSON replay: an
    Arrow error from the decision code itself propagates."""
    import pyarrow as pa

    def broken(meta, predicate):
        def keep(stats):
            raise pa.ArrowNotImplementedError("no kernel")
        return keep

    ck.write_parquet_checkpoint(table)
    monkeypatch.setattr(ck, "_stats_pruner", broken)
    with pytest.raises(pa.ArrowNotImplementedError):
        ck.plan_scan(table, [("id", "<", 5)])


@pytest.mark.parametrize("checkpointed", [False, True])
def test_batch_reader_replays_the_log_at_most_once(table, monkeypatch, checkpointed):
    """The registered source's reader resolves meta in ``__init__`` and
    plans in ``partitions()``: without a checkpoint both come from one
    JSON replay, with one from none, and the replay never rides in the
    reader Spark pickles for the executors."""
    import pickle

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from market_etl_spark import lakehouse_datasource as lds

    if checkpointed:
        ck.write_parquet_checkpoint(table)
    replays = []
    full = lk._state_full
    monkeypatch.setattr(
        lk, "_state_full", lambda *a: replays.append(a) or full(*a)
    )
    schema = StructType([StructField("id", LongType()), StructField("val", DoubleType())])
    reader = lds._LakehouseBatchReader({"path": table}, schema)
    assert pickle.loads(pickle.dumps(reader))._replay is None
    reader.pushFilters([])
    reader._conj = [("id", "<", 5)]
    files = [p.file for p in reader.partitions()]
    assert len(replays) == (0 if checkpointed else 1)
    monkeypatch.setattr(lk, "_state_full", full)
    assert (reader.version, files) == lk.prune_files(table, reader._conj)[:2]
