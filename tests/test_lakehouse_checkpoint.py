"""Parquet-checkpoint metadata plane (round 12): state parity with
JSON replay, incremental advance, checkpoint-planned prune decisions
identical to the JSON-replay prune, distributed footer stats, and
reads planned from the checkpoint equal to reads taken before it
existed.  The Spark-free bootstrap/advance/compose checks are in
test_checkpoint_plane.py."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk
from market_etl_spark import lakehouse_checkpoint as ck


def _busy_table(spark, tmp_path):
    """Appends + MOR delete + CoW rewrite + evolution + rename — every
    action class the state carries."""
    path = str(tmp_path / "t")
    for i in range(3):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, float(j)) for j in range(10)],
                "id long, v double",
            ).coalesce(1)
        )
        t.commit()
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") == 5)
    t.commit()
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 12)
    t.commit()
    return path


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _on_generation(path, version=None) -> lk.Snapshot:
    """The snapshot at ``version``, which must stand on a generation,
    so a bad checkpoint cannot pass as JSON replay."""
    snap = lk.snapshot(path, version)
    assert snap.base > 0
    return snap


def _state_sets(path, version=None):
    """``(version, live files, DV files, meta)`` as the checkpoint
    route composes them; a duplicated add row would show as a repeat."""
    snap = _on_generation(path, version)
    kept, total = ck.plan_scan(snap, [])
    assert len(kept) == len(set(kept)) == total
    return snap.version, set(kept), snap.state.dv_added, snap.state.meta


def _replay_sets(path, version=None):
    """The same four from JSON replay, the reference."""
    r = lk.json_replay(path, version)
    return r.version, set(r.adds()), r.state.dv_added, r.state.meta


def test_bootstrap_state_parity(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    v = ck.write_parquet_checkpoint(path)
    assert v == lk.latest_commit(path)
    pv, live_pq, dv_pq, meta_pq = _state_sets(path)
    _v, live, dvs, meta = _replay_sets(path)
    assert (pv, live_pq, dv_pq, meta_pq) == (v, live, dvs, meta)


def test_json_tail_applied_over_checkpoint(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    ck.write_parquet_checkpoint(path, version=3)
    # the tail (3, 5] holds a MOR delete + a CoW rewrite; the planner
    # must fold them without a new checkpoint
    pv, live_pq, dv_pq, _meta = _state_sets(path)
    _v, live, dvs, _m = _replay_sets(path)
    assert pv == 5 and live_pq == live and dv_pq == dvs
    # add-then-remove INSIDE the tail cancels exactly
    t = lk.Transaction(path)
    t.append(spark.createDataFrame([(77, 0.0)], "id long, v double"))
    t.commit()
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 77)
    t.commit()
    pv, live_pq, dv_pq, _meta = _state_sets(path)
    _v, live, dvs, _m = _replay_sets(path)
    assert pv == 7 and live_pq == live and dv_pq == dvs


def test_advance_is_incremental_and_equal_to_bootstrap(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    ck.write_parquet_checkpoint(path, version=2)
    v = ck.advance_parquet_checkpoint(path)
    assert v == 5 and ck.latest_parquet_checkpoint(path) == 5
    # advanced state == a from-scratch bootstrap at the same version
    adv = spark.read.parquet(str(ck._ckpt_dir(path, 5)))
    r = lk.json_replay(path, 5)
    boot = ck._state_rows(r.adds(), r.state.dv_added, r.state.meta, r.state.txns)
    assert sorted(map(tuple, adv.collect())) == sorted(boot)
    # idempotent when already at latest
    assert ck.advance_parquet_checkpoint(path) == 5


def _planned(path, pred):
    return ck.plan_scan(_on_generation(path), pred)


def _replayed(path, pred):
    """The reference route, ``plan_scan(json_replay(...))``
    (``prune_files`` plans from the checkpoint too)."""
    return ck.plan_scan(lk.json_replay(path), pred)


def test_checkpoint_prune_matches_json_prune(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    ck.write_parquet_checkpoint(path)
    for pred in (
        [("id", "<", 5)],
        [("id", ">=", 25)],
        [("id", "=", 12)],
        [("id", "in", (1, 21))],
        [("id", "<", 5), ("id", ">", 50)],
        [("id", "<", 0)],
        [("nope", "=", 1)],
    ):
        assert _planned(path, pred) == _replayed(path, pred), pred


def test_checkpoint_prune_respects_column_mapping(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    t = lk.Transaction(path)
    t.rename_column("id", "ident")
    t.commit()
    ck.write_parquet_checkpoint(path)
    pred = [("ident", "<", 5)]
    assert _planned(path, pred) == _replayed(path, pred)


def test_distributed_stats_match_serial(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    root = pathlib.Path(path)
    _v, live, _dvs, _m = _replay_sets(path)
    paths = [str(root / f) for f in sorted(live)]
    assert ck.stats_distributed(spark, paths) == {
        p: lk._file_stats(pathlib.Path(p)) for p in paths
    }
    assert ck.stats_distributed(spark, []) == {}
    # force_cols rides through to the executors
    wide = ck.stats_distributed(spark, paths, force_cols=("v",))
    assert all("v" in st["cols"] for st in wide.values())


def test_pruned_read_on_checkpoint_decisions(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    preds = ([("id", "<", 5)], [("id", ">", 7)], [("id", "<", 0)])
    # expected rows are read before the checkpoint exists (JSON replay)
    exp = [_rows(lk.read_table(spark, path, predicate=p)) for p in preds]
    ck.write_parquet_checkpoint(path)
    for pred, want in zip(preds, exp):
        assert _rows(lk.read_table(spark, path, predicate=pred)) == want, pred


def test_time_travel_uses_older_checkpoint(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    ck.write_parquet_checkpoint(path, version=2)
    ck.write_parquet_checkpoint(path, version=4)
    # version 3 must start from ckpt 2 + tail commit 3, not ckpt 4
    pv, live_pq, dv_pq, _meta = _state_sets(path, version=3)
    _v, live, dvs, _m = _replay_sets(path, 3)
    assert pv == 3 and live_pq == live and dv_pq == dvs


def test_staging_switches_to_distributed_stats(spark, tmp_path, monkeypatch):
    """Past the part-count threshold the staging paths compute footer
    stats as one Spark job — byte-identical stats dicts to the serial
    driver reads they replace."""
    monkeypatch.setattr(lk, "_STATS_DISTRIBUTED_MIN_FILES", 4)
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(j, float(j)) for j in range(400)], "id long, v double"
        ).repartition(8)
    )
    t.commit()
    t = lk.Transaction(path)
    t.compact(spark, n_files=6)
    t.commit()
    root = pathlib.Path(path)
    for v in (1, 2):
        adds = [
            a for a in lk._read_commit(path, v)["actions"] if a["op"] == "add"
        ]
        assert len(adds) >= 4
        for a in adds:
            assert a["stats"] == lk._file_stats(root / a["file"])


def test_advance_retains_bounded_checkpoints(spark, tmp_path):
    """Every advance would otherwise strand a full O(files) metadata
    generation forever: only the `keep` newest survive (the new one
    plus its predecessor for readers racing the advance)."""
    path = _busy_table(spark, tmp_path)  # 5 commits
    ck.write_parquet_checkpoint(path, version=1)
    for v in (2, 3, 4, 5):
        ck.advance_parquet_checkpoint(path, version=v)
    log = pathlib.Path(path) / lk._LOG_DIR
    left = sorted(p.name for p in log.glob("ckptpq-*"))
    assert left == ["ckptpq-00000004", "ckptpq-00000005"]
    # the survivor still reconstructs the exact state
    pv, live_pq, dv_pq, _meta = _state_sets(path)
    _v, live, dvs, _m = _replay_sets(path)
    assert pv == 5 and live_pq == live and dv_pq == dvs


def test_expiry_drops_stale_parquet_checkpoints(spark, tmp_path):
    """A parquet checkpoint below the retention boundary references
    deleted files and its tail's commit JSONs are gone —
    expire_versions removes it and pins the boundary as the generation
    every retained read now starts from."""
    path = _busy_table(spark, tmp_path)  # 5 commits
    want = {v: _replay_sets(path, v) for v in (4, 5)}
    ck.write_parquet_checkpoint(path, version=2)
    lk.expire_versions(path, keep_from=4)
    log = pathlib.Path(path) / lk._LOG_DIR
    assert sorted(p.name for p in log.glob("ckptpq-*")) == ["ckptpq-00000004"]
    for v, (_jv, live, dvs, meta) in want.items():
        assert _state_sets(path, v) == (v, live, dvs, meta)
    with pytest.raises(ValueError, match="expired"):
        lk.json_replay(path)  # the reference needs commit 1
    # ... and a checkpoint AT/above the boundary survives expiry
    path2 = _busy_table(spark, tmp_path.joinpath("b"))
    ck.write_parquet_checkpoint(path2, version=4)
    lk.expire_versions(path2, keep_from=4)
    assert ck.latest_parquet_checkpoint(path2) == 4
    assert _on_generation(path2).version == 5


def test_orphan_sweep_removes_crashed_advance_staging(spark, tmp_path):
    path = _busy_table(spark, tmp_path)
    log = pathlib.Path(path) / lk._LOG_DIR
    debris = log / ".ckptpq-00000009-tmp-deadbeef"
    debris.mkdir()
    (debris / "part-0.parquet").write_bytes(b"x")
    removed = lk.vacuum_orphans(path, min_age_sec=0.0)
    assert removed >= 1 and not debris.exists()


def test_advance_across_rename_keeps_prune_parity(spark, tmp_path):
    """A rename landing in the advance TAIL: the checkpoint's meta row
    folds the new colmap, and checkpoint-planned pruning keeps translating
    logical predicates to the immutable physical names."""
    path = _busy_table(spark, tmp_path)
    exp = _rows(lk.read_table(spark, path, predicate=[("id", "<", 5)]))
    ck.write_parquet_checkpoint(path, version=3)
    t = lk.Transaction(path)
    t.rename_column("id", "ident")
    t.commit()
    ck.advance_parquet_checkpoint(path)
    for pred in ([("ident", "<", 5)], [("ident", ">=", 25)]):
        assert _planned(path, pred) == _replayed(path, pred), pred
    got = lk.read_table(spark, path, predicate=[("ident", "<", 5)])
    assert _rows(got) == exp


def test_format_writer_commits_feed_the_checkpoint_plane(spark, tmp_path):
    """df.write.format('lakehouse') commits advance the parquet
    checkpoint like any other commit — the two round-12 planes
    compose."""
    from market_etl_spark.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "w")
    src = spark.createDataFrame(
        [(j, float(j)) for j in range(20)], "id long, v double"
    )
    src.write.format("lakehouse").mode("append").save(path)
    ck.write_parquet_checkpoint(path)
    src.write.format("lakehouse").mode("append").save(path)
    v = ck.advance_parquet_checkpoint(path)
    assert v == 2
    pv, live_pq, dv_pq, _m = _state_sets(path)
    _v, live, dvs, _m2 = _replay_sets(path)
    assert pv == 2 and live_pq == live and dv_pq == dvs


def test_restore_in_tail_keeps_add_rows_distinct(spark, tmp_path):
    """ADVICE r12 (high): a checkpoint -> rewrite -> RESTORE sequence
    nets to a tail that RE-ADDS files the base checkpoint already
    carries — the base rows must drop, or the state frame holds
    duplicate add rows and every checkpoint-planned read doubles."""
    path = _busy_table(spark, tmp_path)
    want = _rows(lk.read_table(spark, path))  # JSON replay, pre-checkpoint
    ck.write_parquet_checkpoint(path)
    v0 = lk.latest_commit(path)
    t = lk.Transaction(path)
    t.compact(spark, n_files=1)
    t.commit()
    lk.restore_table(spark, path, v0)  # tail removes + re-adds base files
    snap = _on_generation(path)
    kept, total = ck.plan_scan(snap, [])
    dv_list = sorted(snap.state.dv_added)
    # list-based parity (sets would HIDE the duplicate; counts can't)
    assert len(kept) == len(set(kept)) == total
    _v2, live, dvs, _m = _replay_sets(path)
    assert set(kept) == live
    assert len(dv_list) == len(set(dv_list)) and set(dv_list) == dvs
    # the checkpoint-planned READ returns the restored rows
    got = lk.read_table(spark, path, predicate=[("id", ">=", 0)])
    assert _rows(got) == want
    # and the duplicates must not persist into the NEXT generation
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(900, 1.0)], "id long, v double").coalesce(1)
    )
    t.commit()
    ck.advance_parquet_checkpoint(path)
    base = spark.read.parquet(
        str(ck._ckpt_dir(path, lk.latest_commit(path)))
    ).filter("kind='add'")
    assert base.count() == base.select("file").distinct().count()


def test_state_arrow_and_meta_arrow_match_json_replay(spark, tmp_path):
    """The session-less (pyarrow) snapshot the DataSource planning
    process uses must equal JSON replay exactly — base from checkpoint
    parquet, tail applied, at the tip AND time-traveled."""
    path = _busy_table(spark, tmp_path)
    ck.write_parquet_checkpoint(path, version=3)
    # rename AFTER the checkpoint: the tail carries a set_meta fold
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    for ver in (3, 4, None):
        snap, r = _on_generation(path, ver), lk.json_replay(path, ver)
        assert (snap.version, snap.adds(), snap.state) == (r.version, r.adds(), r.state)
    assert lk.snapshot(path, 2).base == 0  # below the generation


def test_checkpoint_planned_read_table_parity(spark, tmp_path):
    """read_table planned from the checkpoint — rows, schema and prune
    decisions must equal a read taken before the checkpoint existed
    (JSON replay; VERDICT r12 #1)."""
    path = _busy_table(spark, tmp_path)
    pred = [("id", ">=", 10)]
    want = lk.read_table(spark, path, predicate=pred)  # JSON replay
    want_cols, want_rows = want.columns, _rows(want)
    ck.write_parquet_checkpoint(path)
    got = lk.read_table(spark, path, predicate=pred)
    assert got.columns == want_cols
    assert _rows(got) == want_rows
    # filterless + time-travel parity through the same route
    assert lk.read_table(spark, path).count() == lk.read_table(
        spark, path, version=lk.latest_commit(path)
    ).count()
    # empty-table error parity is preserved on the checkpoint route
    empty = str(tmp_path / "empty13")
    t = lk.Transaction(empty)
    t.append(
        spark.createDataFrame([(1,)], "id long").coalesce(1)
    )
    t.commit()
    t = lk.Transaction(empty)
    t.delete_where(spark, F.lit(True))
    t.commit()
    ck.write_parquet_checkpoint(empty)
    with pytest.raises(ValueError, match="is empty"):
        lk.read_table(spark, empty)


def test_datasource_plans_from_checkpoint_identically(spark, tmp_path):
    """The registered source planned from the checkpoint (pyarrow —
    the planning worker has no session) must produce the same rows AND
    the same pruned partition list as before the checkpoint existed
    (JSON replay)."""
    from market_etl_spark import lakehouse_datasource as lds

    lds.register(spark)
    path = _busy_table(spark, tmp_path)
    pred = [("id", ">=", 10)]

    def plan(schema):
        r = lds._LakehouseBatchReader({"path": path}, schema)
        r._conj = list(pred)
        return [(p.file, p.dv_files) for p in r.partitions()]

    via_json = spark.read.format("lakehouse").load(path)
    schema, rows, planned = via_json.schema, _rows(via_json), plan(via_json.schema)
    ck.write_parquet_checkpoint(path)
    via_ckpt = spark.read.format("lakehouse").load(path)
    assert via_ckpt.schema == schema
    assert _rows(via_ckpt) == rows
    # partition-list equality with a pushed filter, DV sidecars included
    assert plan(schema) == planned
    kept, _total = _replayed(path, pred)
    assert [f for f, _dv in planned] == kept


def test_commit_auto_advances_past_interval(spark, tmp_path):
    """Commits roll the parquet checkpoint forward once the JSON tail
    reaches the configured interval — opt-in (no bootstrap = no
    advance), and OFF at interval 0."""
    path = _busy_table(spark, tmp_path)  # 5 commits, no checkpoint

    def bump(i):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(9000 + i, 0.0)], "id long, v double"
            ).coalesce(1)
        )
        t.commit()

    bump(0)
    assert ck.latest_parquet_checkpoint(path) is None  # never bootstrapped
    v0 = ck.write_parquet_checkpoint(path)
    spark.conf.set(ck.AUTO_ADVANCE_CONF, "2")
    try:
        bump(1)
        assert ck.latest_parquet_checkpoint(path) == v0  # tail of 1 < 2
        bump(2)
        v_adv = ck.latest_parquet_checkpoint(path)
        assert v_adv == lk.latest_commit(path)  # tail hit 2: advanced
        # advanced state equals JSON replay
        _pv, live_pq, dv_pq, meta_pq = _state_sets(path)
        _v, live, dvs, meta = _replay_sets(path)
        assert (live_pq, dv_pq, meta_pq) == (live, dvs, meta)
        spark.conf.set(ck.AUTO_ADVANCE_CONF, "0")
        bump(3)
        bump(4)
        assert ck.latest_parquet_checkpoint(path) == v_adv  # disabled
    finally:
        spark.conf.unset(ck.AUTO_ADVANCE_CONF)


def test_checkpoint_routes_respect_column_mapping_and_evolution(
    spark, tmp_path
):
    """Adversarial round-13 composition: a RENAME (column mapping) and
    a schema EVOLUTION land in the JSON tail after the checkpoint —
    read_table and the registered source, both planned from the
    checkpoint, must translate LOGICAL predicate names to the physical
    footer-stats names and align evolved columns."""
    from market_etl_spark import lakehouse_datasource as lds

    lds.register(spark)
    path = str(tmp_path / "cmap13")
    for i in range(2):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, float(j)) for j in range(10)],
                "id long, v double",
            ).coalesce(1)
        )
        t.commit()
    ck.write_parquet_checkpoint(path)
    t = lk.Transaction(path)
    t.rename_column("v", "val")  # tail set_meta: colmap val->phys v
    t.commit()
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 1.5, 7)], "id long, val double, extra long"
        ),
        evolve_schema=True,
    )
    t.commit()
    pred = [("val", ">=", 1.0)]  # LOGICAL name: needs the colmap
    # the rows every route must return, evolved column NULL-aligned
    want = sorted(
        [(i * 10 + j, float(j), None) for i in range(2) for j in range(1, 10)]
        + [(100, 1.5, 7)]
    )
    # session-less route: prune decisions + kept set
    assert _planned(path, pred) == _replayed(path, pred)
    # read_table planned from the checkpoint (rows + evolved alignment)
    got = lk.read_table(spark, path, predicate=pred)
    assert got.columns == ["id", "val", "extra"]
    assert _rows(got) == want
    # registered source, same logical predicate
    df = spark.read.format("lakehouse").load(path).filter("val >= 1.0")
    assert _rows(df) == want


def test_auto_advance_survives_concurrent_commits(spark, tmp_path):
    """Two threads committing through the auto-advance window: the
    advance is derived state — whatever interleaving wins, the final
    checkpoint must compose to the same state as JSON replay and no
    commit may fail."""
    import threading

    path = str(tmp_path / "race13")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(j, float(j)) for j in range(10)], "id long, v double"
        ).coalesce(1)
    )
    t.commit()
    ck.write_parquet_checkpoint(path)
    spark.conf.set(ck.AUTO_ADVANCE_CONF, "1")  # advance every commit
    errors = []

    def worker(base):
        try:
            for i in range(3):
                t = lk.Transaction(path)
                t.append(
                    spark.createDataFrame(
                        [(base + i, 0.0)], "id long, v double"
                    ).coalesce(1)
                )
                t.commit()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    try:
        th = [threading.Thread(target=worker, args=(b,))
              for b in (1000, 2000)]
        for x in th:
            x.start()
        for x in th:
            x.join()
    finally:
        spark.conf.unset(ck.AUTO_ADVANCE_CONF)
    assert not errors
    ck.advance_parquet_checkpoint(path)  # settle to the tip
    _pv, live_pq, dv_pq, meta_pq = _state_sets(path)
    _v, live, dvs, meta = _replay_sets(path)
    assert (live_pq, dv_pq, meta_pq) == (live, dvs, meta)
    assert lk.read_table(spark, path).count() == 16


def test_format_writer_auto_advances_checkpoint(spark, tmp_path):
    """End to end through the REGISTERED WRITER (whose commit hook
    runs in Spark's session-less worker): once the table has a
    bootstrapped checkpoint, enough writer commits roll it forward
    without any session-side help."""
    from market_etl_spark import lakehouse_datasource as lds

    lds.register(spark)
    path = str(tmp_path / "wadv")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(0, 0.0)], "id long, v double").coalesce(1)
    )
    t.commit()
    v0 = ck.write_parquet_checkpoint(path)
    for i in range(ck.AUTO_ADVANCE_DEFAULT):
        spark.createDataFrame(
            [(i + 1, 1.0)], "id long, v double"
        ).coalesce(1).write.format("lakehouse").mode("append").save(path)
    v_adv = ck.latest_parquet_checkpoint(path)
    assert v_adv is not None and v_adv > v0
    # advanced state equals JSON replay at its version
    pv, live_pq, dv_pq, meta_pq = _state_sets(path, v_adv)
    _v, live, dvs, meta = _replay_sets(path, v_adv)
    assert (live_pq, dv_pq, meta_pq) == (live, dvs, meta)


def test_delete_of_restored_file_stays_deleted(spark, tmp_path):
    """ADVICE r13 (high): checkpoint -> DELETE -> RESTORE -> DELETE.
    The final remove cancels the tail's re-add in ``_tail_net``, but
    the BASE checkpoint still carries the file's add row — unless the
    remove also lands in ``removed``, the deleted file resurrects in
    every checkpoint-composed read (snapshot / plan_scan) and the
    advance persists it permanently."""
    path = str(tmp_path / "t")
    for lo in (0, 10):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(lo + j, float(j)) for j in range(10)],
                "id long, v double",
            ).coalesce(1)
        )
        t.commit()
    ck.write_parquet_checkpoint(path)
    v0 = lk.latest_commit(path)
    t = lk.Transaction(path)
    assert t.delete_where(spark, F.col("id") < 10) == 10
    t.commit()
    lk.restore_table(spark, path, v0)  # tail re-adds the deleted file
    t = lk.Transaction(path)
    assert t.delete_where(spark, F.col("id") < 10) == 10
    t.commit()
    # JSON replay is ground truth: ids 0-9 are gone
    _v, live, dvs, _m = _replay_sets(path)
    # every composed route must agree — file sets AND read rows
    pv, live_pq, dv_pq, _meta = _state_sets(path)
    assert (pv, live_pq, dv_pq) == (lk.latest_commit(path), live, dvs)
    snap = _on_generation(path)
    assert (snap.version, set(snap.adds()), snap.state.dv_added) == (pv, live, dvs)
    assert ck.plan_scan(snap, []) == (sorted(live), len(live))
    got = lk.read_table(spark, path, predicate=[("id", ">=", 0)])
    assert sorted(r.id for r in got.collect()) == list(range(10, 20))
    # the advance must not resurrect the file into the next generation
    ck.advance_parquet_checkpoint(path)
    base = spark.read.parquet(
        str(ck._ckpt_dir(path, lk.latest_commit(path)))
    ).filter("kind='add'")
    assert {r.file for r in base.collect()} == live


def test_dv_removed_after_restore_readd_stays_removed(spark, tmp_path):
    """Symmetric DV case (ADVICE r13): checkpoint carries a DV row;
    the tail removes it (CoW rewrite), re-adds it (RESTORE), then
    removes it again — the final ``remove_dv`` must evict the BASE dv
    row, or a stale vector survives and wrongly hides rows."""
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(j, float(j)) for j in range(10)], "id long, v double"
        ).coalesce(1)
    )
    t.commit()
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") == 5)  # DV in the base
    t.commit()
    # the final rows: these (JSON replay, pre-checkpoint) minus id 6
    want = [r for r in _rows(lk.read_table(spark, path)) if r[0] != 6]
    ck.write_parquet_checkpoint(path)
    v0 = lk.latest_commit(path)
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 6)  # CoW: remove file+DV
    t.commit()
    lk.restore_table(spark, path, v0)  # re-adds file AND its DV
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 6)  # removes the DV again
    t.commit()
    _v, live, dvs, _m = _replay_sets(path)
    pv, live_pq, dv_pq, _meta = _state_sets(path)
    assert (pv, live_pq, dv_pq) == (lk.latest_commit(path), live, dvs)
    snap = _on_generation(path)
    assert (snap.version, set(snap.adds()), snap.state.dv_added) == (pv, live, dvs)
    got = lk.read_table(spark, path, predicate=[("id", ">=", 0)])
    assert _rows(got) == want
    ck.advance_parquet_checkpoint(path)
    nxt = spark.read.parquet(
        str(ck._ckpt_dir(path, lk.latest_commit(path)))
    )
    assert {r.file for r in nxt.filter("kind='dv'").collect()} == dvs
    assert {r.file for r in nxt.filter("kind='add'").collect()} == live
