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
snapshot and the scan planner over it equal JSON replay (the reference
route, ``plan_scan(json_replay(...))``), also when a checkpoint part
cannot be read.

:class:`LogMachine` checks the same ground against a model: Hypothesis
writes random commits and runs the driver-side log operations in random
order, and at every retained version each read of the log must equal a
plain dict of what the state is.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import tempfile

import hypothesis.strategies as st
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, settings
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)

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


def _state_of(snap: lk.Snapshot) -> tuple:
    """A snapshot as plain values: version, adds with their stats, DV
    files, meta, txn high-water marks and COPY INTO sources."""
    s = snap.state
    return snap.version, snap.adds(), s.dv_added, s.meta, s.txns, s.copied


def _assert_composes_like_replay(path: str, v: int) -> None:
    snap = lk.snapshot(path, v)
    assert snap.base == ck.latest_parquet_checkpoint(path, v), v
    assert _state_of(snap) == _state_of(lk.json_replay(path, v)), v
    _assert_plans_like_replay(path, v)


def _assert_plans_like_replay(path: str, v: int | None) -> None:
    snap, replay = lk.snapshot(path, v), lk.json_replay(path, v)
    for pred in _PREDICATES:
        assert ck.plan_scan(snap, pred) == ck.plan_scan(replay, pred), (v, pred)


def _generation_rows(path: str, v: int) -> list[tuple]:
    tbl = pq.read_table(str(ck._ckpt_dir(path, v)))
    return sorted(zip(*(tbl.column(c).to_pylist() for c in ck._COLS)))


def _replay_rows(path: str, v: int) -> list[tuple]:
    _v, adds, dvs, meta, txns, copies = _state_of(lk.json_replay(path, v))
    return sorted(ck._state_rows(adds, dvs, meta, txns, copies))


def test_bootstrap_and_advance_compose_like_json_replay(table):
    path = table
    tip = len(_COMMITS)
    for v in range(1, tip + 1):  # no checkpoint yet: JSON replay
        _assert_plans_like_replay(path, v)
    assert ck.write_parquet_checkpoint(path, version=3) == 3
    assert _generation_rows(path, 3) == _replay_rows(path, 3)
    for v in range(3, tip + 1):
        _assert_composes_like_replay(path, v)
    assert lk.snapshot(path, 2).base == 0  # below every generation

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
    snap = lk.snapshot(path)
    assert set(snap.adds()) == {"data/a3.parquet", "data/c.parquet", "data/d.parquet"}
    assert snap.state.dv_added == set()


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
    is not parquet at all, the snapshot stands on the empty base and
    planning replays the JSON log instead."""
    monkeypatch.setattr(ck, "_PART_ROWS", 2)
    for v in (3, len(_COMMITS)):
        ck.write_parquet_checkpoint(table, version=v)
        part = sorted(ck._ckpt_dir(table, v).glob("*.parquet"))[1]
        body = part.read_bytes()
        part.write_bytes(body[: len(body) // 2] if damage == "truncate" else b"not parquet")
    for v in (None, 5):  # the tip, and time travel onto the v3 checkpoint
        with pytest.raises(ck._Unreadable):  # the generation itself
            ck._generation(table, ck.latest_parquet_checkpoint(table, v))
        snap = lk.snapshot(table, v)
        assert snap.base == 0
        assert _state_of(snap) == _state_of(lk.json_replay(table, v))
        _assert_plans_like_replay(table, v)


def test_decision_errors_are_not_masked_by_the_fallback(table, monkeypatch):
    """Only an unreadable checkpoint falls back to JSON replay: an
    Arrow error from the decision code itself propagates."""
    import pyarrow as pa

    def broken(meta, conj):
        def keep(stats):
            raise pa.ArrowNotImplementedError("no kernel")
        return keep

    ck.write_parquet_checkpoint(table)
    monkeypatch.setattr(ck, "_stats_pruner", broken)
    with pytest.raises(pa.ArrowNotImplementedError):
        ck.plan_scan(lk.snapshot(table), [("id", "<", 5)])


@pytest.mark.parametrize("checkpointed", [False, True])
def test_batch_reader_replays_the_log_at_most_once(table, monkeypatch, checkpointed):
    """The registered source's reader resolves its snapshot once, in
    ``__init__``, and ``partitions()`` plans over that same snapshot,
    with or without a checkpoint; the snapshot never rides in the
    reader Spark pickles for the executors."""
    import pickle

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from market_etl_spark import lakehouse_datasource as lds

    if checkpointed:
        ck.write_parquet_checkpoint(table)
    resolved = []
    on = lk._snapshot_on
    monkeypatch.setattr(
        lk, "_snapshot_on", lambda *a: resolved.append(a) or on(*a)
    )
    schema = StructType([StructField("id", LongType()), StructField("val", DoubleType())])
    reader = lds._LakehouseBatchReader({"path": table}, schema)
    assert pickle.loads(pickle.dumps(reader))._snap is None
    assert reader._snap.base == (len(_COMMITS) if checkpointed else 0)
    reader.pushFilters([])
    reader._conj = [("id", "<", 5)]
    files = [p.file for p in reader.partitions()]
    assert len(resolved) == 1
    monkeypatch.setattr(lk, "_snapshot_on", on)
    assert (reader.version, files) == lk.prune_files(table, reader._conj)[:2]


# -- the log against a model ----------------------------------------------

#: what a ``set_meta`` may fold in: the schema, a rename's column map
#: (logical ``val`` -> physical ``v``), and keys the planner ignores
_METAS = (
    {"schema": _SCHEMA},
    {"colmap": {"id": "id", "val": "v"},
     "schema": [["id", "bigint"], ["val", "double"]]},
    {"evolved": True},
    {"constraints": {"pos": "id >= 0"}},
)


def _empty_state() -> dict:
    return {"live": {}, "dvs": set(), "meta": {}, "txns": {}, "copies": set()}


class LogMachine(RuleBasedStateMachine):
    """A table's commit log against a plain model.

    ``states[v]`` is a dict of the live files and their stats, the DV
    files, the table meta, the txn high-water marks and the COPY INTO
    ledger at version ``v``; each commit is applied to a copy of the
    previous one.  The model also tracks which checkpoint generations
    exist and which were damaged, so it knows which reads must raise.
    Checkpoint parts hold 3 rows, so a generation has several parts to
    damage.  Once commit 1 is expired the floor generation is the only
    copy of the expired prefix's state, so it is never damaged."""

    def __init__(self):
        super().__init__()
        self.tmp = tempfile.mkdtemp(prefix="log-model-")
        self.path = str(pathlib.Path(self.tmp) / "t")
        self.log = pathlib.Path(self.path) / lk._LOG_DIR
        self.log.mkdir(parents=True)
        self.states: list[dict | None] = [None]  # index = version
        self.oldest = 1  # oldest retained version
        self.gens: set[int] = set()
        self.damaged: set[int] = set()
        # every path ever written, for re-adds and removes to pick from
        self.files: dict[str, dict | None] = {}
        self.dv_files: list[str] = []
        self.sources: list[str] = []
        self._part_rows = ck._PART_ROWS
        ck._PART_ROWS = 3

    def teardown(self):
        ck._PART_ROWS = self._part_rows
        shutil.rmtree(self.tmp, ignore_errors=True)

    @property
    def latest(self) -> int:
        return len(self.states) - 1

    # -- steps with explicit arguments (the rules draw them) --

    def do_commit(self, actions: list[dict], txn: dict | None = None) -> None:
        v = self.latest + 1
        body = {"version": v, "ts": float(v), "actions": actions}
        if txn:
            body["txn"] = txn
        (self.log / f"{v:08d}.json").write_text(json.dumps(body))
        prev = self.states[-1] or _empty_state()
        s = {k: type(x)(x) for k, x in prev.items()}
        if txn:
            s["txns"][txn["app"]] = max(s["txns"].get(txn["app"], -1), txn["version"])
        for a in actions:
            op, f = a["op"], a.get("file")
            if op == "add":
                s["live"][f] = a.get("stats")
                self.files.setdefault(f, a.get("stats"))
            elif op == "remove":
                s["live"].pop(f, None)
            elif op == "add_dv":
                s["dvs"].add(f)
                if f not in self.dv_files:
                    self.dv_files.append(f)
            elif op == "remove_dv":
                s["dvs"].discard(f)
            elif op == "set_meta":
                s["meta"].update(a["meta"])
            elif op == "copy_source":
                s["copies"].add(f)
                if f not in self.sources:
                    self.sources.append(f)
        self.states.append(s)

    @property
    def floor(self) -> int | None:
        if self.oldest == 1:
            return None
        return max((g for g in self.gens if g <= self.oldest), default=None)

    def _sweep(self, keep: int) -> None:
        floor = self.floor
        for g in sorted(self.gens)[:-keep]:
            if g != floor:
                self.gens.discard(g)
                self.damaged.discard(g)

    def do_checkpoint(self, v: int) -> None:
        assert ck.write_parquet_checkpoint(self.path, v) == v
        self.gens.add(v)  # an unreadable generation at v is replaced
        self.damaged.discard(v)

    def do_advance(self, v: int) -> None:
        """A readable generation at v stays.  Otherwise v lands from the
        newest readable generation below it, past damaged ones, or from
        the empty base, replacing a damaged generation at v."""
        assert ck.advance_parquet_checkpoint(self.path, v) == v
        if v in self.gens - self.damaged:
            return
        self.gens.add(v)
        self.damaged.discard(v)
        self._sweep(2)

    def do_expire(self, keep_from: int) -> None:
        lk.expire_versions(self.path, keep_from)
        if keep_from > self.oldest:
            self.oldest = keep_from
            self.gens = {g for g in self.gens if g > keep_from} | {keep_from}
            self.damaged &= self.gens - {keep_from}

    def do_legacy(self, n: int) -> None:
        """Leave the table as the former engine left one expired at
        ``n``: a JSON checkpoint ``ckpt-n.json``, no commit before n
        and no generation at or below n.  The first read lands it as
        generation n."""
        m = self.states[n]
        (self.log / f"ckpt-{n:08d}.json").write_text(json.dumps({
            "version": n, "files": sorted(m["live"]), "dvs": sorted(m["dvs"]),
            "txns": m["txns"], "meta": m["meta"],
            "stats": {f: s for f, s in m["live"].items() if s},
            "copy_sources": sorted(m["copies"]),
        }))
        for v in range(self.oldest, n):
            (self.log / f"{v:08d}.json").unlink()
        for g in [g for g in self.gens if g <= n]:
            shutil.rmtree(ck._ckpt_dir(self.path, g))
            self.gens.discard(g)
            self.damaged.discard(g)
        self.oldest = n
        assert lk.snapshot(self.path, n).base == n
        assert ck.latest_parquet_checkpoint(self.path, n) == n
        self.gens.add(n)

    def do_damage(self, g: int, part: int, truncate: bool) -> None:
        parts = sorted(ck._ckpt_dir(self.path, g).glob("*.parquet"))
        p = parts[part % len(parts)]
        body = p.read_bytes()
        p.write_bytes(body[: len(body) // 2] if truncate else b"not parquet")
        self.damaged.add(g)

    # -- the rules --

    def _version(self, data) -> int:
        return data.draw(st.integers(self.oldest, self.latest), label="version")

    def _action(self, data) -> dict:
        op = data.draw(st.sampled_from(
            ["add", "add", "remove", "add_dv", "remove_dv", "set_meta", "copy_source"]
        ))
        if op == "set_meta":
            return {"op": op, "meta": data.draw(st.sampled_from(_METAS))}
        if op == "remove":
            if not self.files:
                return {"op": "set_meta", "meta": _METAS[0]}
            return _rm(data.draw(st.sampled_from(sorted(self.files))))
        pool = {"add": sorted(self.files), "add_dv": self.dv_files,
                "remove_dv": self.dv_files, "copy_source": self.sources}[op]
        if op == "remove_dv" and not pool:
            op = "add_dv"
        if pool and (op == "remove_dv" or data.draw(st.booleans())):
            # a remove_dv, a RESTORE's re-add or a repeated copy
            f = data.draw(st.sampled_from(pool))
        else:
            f = {"add": "data/f{}.parquet", "add_dv": "_deletes/dv{}.parquet",
                 "copy_source": "/landing/s{}.csv"}[op].format(len(pool))
        if op != "add":
            return {"op": op, "file": f}
        if f not in self.files:
            lo = data.draw(st.integers(-5, 40))
            self.files[f] = data.draw(st.none() | st.builds(
                _st, st.just(lo), st.integers(lo, 45), st.integers(0, 10)
            ))
        return _add(f, self.files[f])

    @initialize(data=st.data())
    def first_commit(self, data):
        self.commit(data)

    @rule(data=st.data())
    def commit(self, data):
        actions = [self._action(data) for _ in range(data.draw(st.integers(1, 4)))]
        txn = data.draw(st.none() | st.fixed_dictionaries(
            {"app": st.sampled_from("st"), "version": st.integers(0, 5)}
        ))
        self.do_commit(actions, txn)

    @rule(data=st.data())
    def checkpoint(self, data):
        self.do_checkpoint(self._version(data))

    @rule(data=st.data())
    def advance(self, data):
        self.do_advance(self._version(data))

    @rule(data=st.data())
    def expire(self, data):
        self.do_expire(self._version(data))

    @precondition(lambda self: self.latest > self.oldest)
    @rule(data=st.data())
    def expire_then_advance_twice(self, data):
        """Two advances after an expiry must keep the floor generation."""
        k = data.draw(st.integers(self.oldest + 1, self.latest))
        self.do_expire(k)
        for _ in range(2):
            self.commit(data)
            self.do_advance(self.latest)
        self.check_version(k)

    @precondition(lambda self: self.latest >= 2)
    @rule(data=st.data())
    def legacy_checkpoint(self, data):
        self.do_legacy(data.draw(st.integers(max(2, self.oldest), self.latest)))

    def _damageable(self) -> list[int]:
        return sorted(self.gens - self.damaged - {self.floor})

    @precondition(lambda self: self._damageable())
    @rule(data=st.data())
    def damage(self, data):
        g = data.draw(st.sampled_from(self._damageable()))
        self.do_damage(g, data.draw(st.integers(0, 9)), data.draw(st.booleans()))

    # -- the check --

    def check_version(self, v: int) -> None:
        m, path = self.states[v], self.path
        live = m["live"]
        snap = lk.snapshot(path, v)
        # the newest readable generation at or below v, else the empty base
        assert snap.base == max((g for g in self.gens - self.damaged if g <= v), default=0)
        assert _state_of(snap) == (v, live, m["dvs"], m["meta"], m["txns"], m["copies"])
        assert lk.copy_sources(path, v) == m["copies"]
        # the reference route needs commit 1
        routes = [snap, lk.json_replay(path, v)] if self.oldest == 1 else [snap]
        cm = lk._colmap(m["meta"])
        for pred in _PREDICATES:
            conj = [(cm.get(c, c), op, val) for c, op, val in pred]
            kept = sorted(f for f, s in live.items()
                          if all(lk._stats_admit(s, *c) for c in conj))
            for s in routes:
                assert ck.plan_scan(s, pred) == (kept, len(live)), pred

    @invariant()
    def reads_equal_the_model(self):
        if self.latest == 0:
            return
        for v in range(self.oldest, self.latest + 1):
            self.check_version(v)
        if self.oldest > 1:
            with pytest.raises(ValueError, match="expired"):
                lk.snapshot(self.path, self.oldest - 1)
        assert not list(self.log.glob(".*tmp*"))


_MODEL = dict(
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)


def test_log_matches_the_model():
    run_state_machine_as_test(
        LogMachine, settings=settings(max_examples=25, stateful_step_count=12, **_MODEL)
    )


@pytest.mark.slow
def test_log_matches_the_model_long():
    run_state_machine_as_test(
        LogMachine, settings=settings(max_examples=300, stateful_step_count=30, **_MODEL)
    )


def test_fixture_commits_as_an_explicit_model_run():
    """The 10-commit fixture and its bootstrap-and-advance script, run
    through the model check as one explicit example."""
    m = LogMachine()
    try:
        for actions, txn in _COMMITS:
            m.do_commit(actions, txn)
            m.reads_equal_the_model()
        m.do_checkpoint(3)
        m.reads_equal_the_model()
        for target in (6, 7, 9, len(_COMMITS)):
            m.do_advance(target)
            m.reads_equal_the_model()
        assert m.gens == {9, len(_COMMITS)}
        m.do_expire(9)
        m.reads_equal_the_model()
    finally:
        m.teardown()
