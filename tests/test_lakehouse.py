"""Optimistic-concurrency commit log: snapshot isolation, conflict
detection, slot-race retry, the lost-update counterfactual, vacuum."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk
from market_etl_spark import lakehouse_checkpoint as lkc


def _init(spark, tmp_path, n=30, files=3):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(n)],
            "id long, k int, v double",
        ).repartition(files)
    )
    assert t.commit() == 1
    return path


def test_append_then_read_roundtrip(spark, tmp_path):
    path = _init(spark, tmp_path)
    assert lk.read_table(spark, path).count() == 30
    snap = lk.snapshot(path)
    assert snap.version == 1 and len(snap.adds()) == 3


def test_staged_files_invisible_until_commit(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.append(spark.createDataFrame([(99, 9, 9.9)], "id long, k int, v double"))
    # staged but uncommitted: reader still sees the old snapshot
    assert lk.read_table(spark, path).count() == 30
    t.commit()
    assert lk.read_table(spark, path).count() == 31


def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    n = t.delete_where(spark, F.col("id") < 10)
    assert n == 10
    t.commit()
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == set(range(10, 30))
    # files without matches were not rewritten
    removed = {a["file"] for a in t.actions if a["op"] == "remove"}
    assert removed == t.read_files
    assert len(removed) <= 3


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "id long, v double"
        )
    )
    t.commit()
    t2 = lk.Transaction(path)
    assert t2.delete_where(spark, F.col("v") > 10.0) == 1
    t2.commit()
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == {1, 2}  # NULL-predicate row survives a DELETE


def test_append_never_conflicts_with_delete(spark, tmp_path):
    path = _init(spark, tmp_path)
    a = lk.Transaction(path)  # both begin at v1
    b = lk.Transaction(path)
    a.delete_where(spark, F.col("id") < 10)
    b.append(spark.createDataFrame([(100, 1, 1.0)], "id long, k int, v double"))
    assert b.commit() == 2  # append lands first
    assert a.commit() == 3  # delete revalidates: append removed nothing
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == set(range(10, 30)) | {100}


def test_disjoint_file_deletes_commute(spark, tmp_path):
    # one file per id-range: deletes touching different files commute
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    for lo in (0, 10, 20):
        t.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 10)], "id long, v double"
            ).coalesce(1)
        )
    t.commit()
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    assert a.delete_where(spark, F.col("id") < 10) == 10
    assert b.delete_where(spark, F.col("id") >= 20) == 10
    a.commit()
    b.commit()  # different file: no conflict
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == set(range(10, 20))


def test_overlapping_deletes_conflict_and_retry_serializes(spark, tmp_path):
    path = _init(spark, tmp_path, files=1)  # one file: every delete overlaps
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.delete_where(spark, F.col("k") == 0)
    b.delete_where(spark, F.col("k") == 1)
    a.commit()
    with pytest.raises(lk.CommitConflict):
        b.commit()
    # the caller's retry: re-run the op on a FRESH snapshot
    b2 = lk.Transaction(path)
    assert b2.delete_where(spark, F.col("k") == 1) == 10
    b2.commit()
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == {i for i in range(30) if i % 3 == 2}  # serial result


def test_blind_commit_demonstrates_lost_update(spark, tmp_path):
    """The counterfactual the protocol exists for: a second writer
    committing BLINDLY from a stale snapshot resurrects rows the first
    writer deleted (and duplicates survivors)."""
    path = _init(spark, tmp_path, files=1)
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.delete_where(spark, F.col("k") == 0)
    b.delete_where(spark, F.col("k") == 1)
    a.commit()
    b.commit(_unsafe_blind=True)  # no validation: both rewrites live
    rows = lk.read_table(spark, path).collect()
    ids = [r.id for r in rows]
    assert len(ids) != len({i for i in range(30) if i % 3 == 2})
    assert len(ids) != len(set(ids))  # k==2 rows duplicated
    assert any(i % 3 == 0 for i in ids)  # a-deleted rows resurrected


def test_compact_conflicts_with_concurrent_delete(spark, tmp_path):
    path = _init(spark, tmp_path)
    c = lk.Transaction(path)
    d = lk.Transaction(path)
    c.compact(spark, n_files=1)
    d.delete_where(spark, F.col("id") == 0)
    d.commit()
    with pytest.raises(lk.CommitConflict):
        c.commit()  # compaction would resurrect the deleted row
    c2 = lk.Transaction(path)
    before, after = c2.compact(spark, n_files=1)
    assert (before, after) == (3, 1)  # 2 untouched + the delete's rewrite
    c2.commit()
    assert lk.read_table(spark, path).count() == 29


def test_slot_race_loser_retries_without_conflict(spark, tmp_path):
    """Two appends racing the same slot: os.link exclusivity makes one
    lose; the loser must land in the next slot, not overwrite."""
    path = _init(spark, tmp_path)
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.append(spark.createDataFrame([(100, 0, 0.0)], "id long, k int, v double"))
    b.append(spark.createDataFrame([(101, 0, 0.0)], "id long, k int, v double"))
    assert {a.commit(), b.commit()} == {2, 3}
    assert lk.read_table(spark, path).count() == 32


def test_time_travel_and_vacuum(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") < 10)
    t.commit()
    assert lk.read_table(spark, path, version=1).count() == 30
    assert lk.read_table(spark, path, version=2).count() == 20
    # removed-but-referenced files survive an aged vacuum (time travel
    # still works); only truly orphaned staging debris goes
    root = pathlib.Path(path)
    (root / ".stage-dead").mkdir()
    assert lk.vacuum_orphans(path, min_age_sec=0.0) == 1
    assert lk.read_table(spark, path, version=1).count() == 30

def test_mor_delete_under_log_is_metadata_only(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    n = t.delete_where_mor(spark, F.col("k") == 0)
    assert n == 10
    # staged: invisible until commit
    assert lk.read_table(spark, path).count() == 30
    t.commit()
    assert lk.read_table(spark, path).count() == 20
    # no data file was removed or added — pure sidecar
    ops = {a["op"] for a in t.actions}
    assert ops == {"add_dv"}
    snap = lk.snapshot(path)
    assert len(snap.adds()) == 3 and len(snap.state.dv_added) == 1


def test_concurrent_mor_deletes_commute(spark, tmp_path):
    path = _init(spark, tmp_path)
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.delete_where_mor(spark, F.col("id") < 10)
    b.delete_where_mor(spark, F.col("id") < 15)  # overlaps a
    a.commit()
    b.commit()  # no conflict: DVs are idempotent position subtraction
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == set(range(15, 30))


def test_mor_delete_conflicts_with_compaction_both_orders(spark, tmp_path):
    # order 1: MOR delete commits first, compaction must conflict
    path = _init(spark, tmp_path)
    c = lk.Transaction(path)
    d = lk.Transaction(path)
    c.compact(spark, n_files=1)
    d.delete_where_mor(spark, F.col("id") == 0)
    d.commit()
    with pytest.raises(lk.CommitConflict):
        c.commit()  # c's output was staged without d's vector
    # order 2: compaction commits first, the staged DV must conflict
    path2 = _init(spark, tmp_path / "o2")
    c2 = lk.Transaction(path2)
    d2 = lk.Transaction(path2)
    c2.compact(spark, n_files=1)
    d2.delete_where_mor(spark, F.col("id") == 0)
    c2.commit()
    with pytest.raises(lk.CommitConflict):
        d2.commit()  # dv targets files the compaction removed


def test_cow_rewrite_does_not_resurrect_dv_deletes(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("k") == 0)
    t.commit()
    t2 = lk.Transaction(path)
    assert t2.delete_where(spark, F.col("k") == 1) == 10
    t2.commit()
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == {i for i in range(30) if i % 3 == 2}


def test_compact_applies_and_drops_vectors(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 10)
    t.commit()
    c = lk.Transaction(path)
    before, after = c.compact(spark, n_files=1)
    assert before == 3
    c.commit()
    snap = lk.snapshot(path)
    assert snap.state.dv_added == set() and len(snap.adds()) == after
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == set(range(10, 30))


def test_checkpoint_bounds_replay_and_preserves_time_travel(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 5)
    t.commit()  # v2
    assert lkc.write_parquet_checkpoint(path) == 2
    t2 = lk.Transaction(path)
    t2.delete_where(spark, F.col("id") >= 25)
    t2.commit()  # v3
    # replay from the checkpoint
    assert lk.read_table(spark, path).count() == 20
    # time travel BEFORE the checkpoint still replays from scratch
    assert lk.read_table(spark, path, version=1).count() == 30
    assert lk.read_table(spark, path, version=2).count() == 25
    # the generation's rows == the reference replay's
    import pyarrow.parquet as pq

    gen = pq.read_table(str(lkc._ckpt_dir(path, 2)))
    r = lk.json_replay(path, 2)
    assert sorted(zip(*(gen.column(c).to_pylist() for c in lkc._COLS))) == sorted(
        lkc._state_rows(r.adds(), r.state.dv_added, r.state.meta, r.state.txns)
    )


def test_vacuum_sweeps_orphan_dv_files(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 5)  # staged, never committed
    assert lk.vacuum_orphans(path, min_age_sec=0.0) == 1
    assert lk.read_table(spark, path).count() == 30


def test_txn_identity_dedupes_replayed_commits(spark, tmp_path):
    """Delta's txnAppId/txnVersion: a replayed batch (same app, same
    or older version) skips; a newer version applies; other apps are
    independent."""
    path = str(tmp_path / "t")
    t = lk.Transaction(path, txn_app="s", txn_version=0)
    t.append(spark.createDataFrame([(1,)], "id long"))
    assert t.commit() == 1
    # replay of version 0: skipped
    r = lk.Transaction(path, txn_app="s", txn_version=0)
    r.append(spark.createDataFrame([(99,)], "id long"))
    assert r.commit() is None
    assert lk.read_table(spark, path).count() == 1
    # next version applies
    n = lk.Transaction(path, txn_app="s", txn_version=1)
    n.append(spark.createDataFrame([(2,)], "id long"))
    assert n.commit() == 2
    # an OLDER version after a newer one: still skipped (high-water)
    o = lk.Transaction(path, txn_app="s", txn_version=0)
    o.append(spark.createDataFrame([(98,)], "id long"))
    assert o.commit() is None
    # a different app is independent
    other = lk.Transaction(path, txn_app="s2", txn_version=0)
    other.append(spark.createDataFrame([(3,)], "id long"))
    assert other.commit() == 3
    assert lk.read_table(spark, path).count() == 3
    assert lk.last_txn_version(path, "s") == 1
    assert lk.last_txn_version(path, "s2") == 0
    assert lk.last_txn_version(path, "nope") == -1


def test_txn_high_water_survives_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path, txn_app="s", txn_version=7)
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.commit()
    lkc.write_parquet_checkpoint(path)
    # replay resolved THROUGH the checkpoint, not just the log tail
    assert lk.last_txn_version(path, "s") == 7
    r = lk.Transaction(path, txn_app="s", txn_version=7)
    r.append(spark.createDataFrame([(2,)], "id long"))
    assert r.commit() is None
    assert lk.read_table(spark, path).count() == 1


def test_second_rewrite_in_one_transaction_refused(spark, tmp_path):
    """Two rewrites in one txn would stage two replacements for the
    same source files and replay would keep both (duplicated
    survivors) — refused loudly (review r10)."""
    path = _init(spark, tmp_path, files=1)
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("k") == 0)
    with pytest.raises(ValueError, match="one rewriting operation"):
        t.delete_where(spark, F.col("k") == 1)
    t2 = lk.Transaction(path)
    t2.compact(spark)
    with pytest.raises(ValueError, match="one rewriting operation"):
        t2.delete_where(spark, F.col("k") == 1)
    # MOR deletes compose: idempotent position subtraction
    t3 = lk.Transaction(path)
    t3.delete_where_mor(spark, F.col("k") == 0)
    t3.delete_where_mor(spark, F.col("k") == 1)
    t3.commit()
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == {i for i in range(30) if i % 3 == 2}


def test_txn_duplicate_landing_after_begin_is_caught(spark, tmp_path):
    """The replay race: both duplicates constructed BEFORE either
    commits — the loser must fold the winner's txn identity out of
    the commits it scans, not just its begin snapshot (review r10)."""
    path = _init(spark, tmp_path)
    t1 = lk.Transaction(path, txn_app="s", txn_version=0)
    t2 = lk.Transaction(path, txn_app="s", txn_version=0)
    t1.append(spark.createDataFrame([(100, 0, 0.0)], "id long, k int, v double"))
    t2.append(spark.createDataFrame([(100, 0, 0.0)], "id long, k int, v double"))
    assert t1.commit() == 2
    assert t2.commit() is None  # dup seen in the scanned commits
    assert lk.read_table(spark, path).count() == 31


def test_vacuum_sweeps_all_crash_debris_classes(spark, tmp_path):
    path = _init(spark, tmp_path)
    root = pathlib.Path(path)
    (root / "data" / "_tmp_deadbeef").mkdir(parents=True)
    (root / "_log" / ".tmp-deadbeef").write_text("{}")
    (root / "_log" / ".ckptpq-00000001-tmp-dead").mkdir()
    (root / ".stage-dead").mkdir()
    assert lk.vacuum_orphans(path, min_age_sec=0.0) == 4
    assert lk.read_table(spark, path).count() == 30


def test_many_threads_racing_commits_all_land(spark, tmp_path):
    """REAL slot races: 6 writer threads, 3 appends each, all against
    the same table with no external coordination — os.link exclusivity
    is the only arbiter.  Every commit must land in a unique slot, no
    appends lost, no duplicates (the sequential tests can't exercise
    the link-EEXIST retry under genuine contention)."""
    import threading

    path = _init(spark, tmp_path)  # 30-row baseline; races on top
    results: list[int] = []
    errors: list[Exception] = []
    lock = threading.Lock()

    def writer(wid: int) -> None:
        try:
            for j in range(3):
                t = lk.Transaction(path, txn_app=f"w{wid}", txn_version=j)
                t.append(
                    spark.createDataFrame(
                        [(1000 + wid * 10 + j, 0, 0.0)],
                        "id long, k int, v double",
                    )
                )
                v = t.commit()
                with lock:
                    results.append(v)
        except Exception as e:  # pragma: no cover - surfaced below
            with lock:
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # 18 commits, all unique slots 2..19, none skipped as duplicates
    assert len(results) == 18 and None not in results
    assert sorted(results) == list(range(2, 20))
    got = [r.id for r in lk.read_table(spark, path).collect()]
    added = [i for i in got if i >= 1000]
    assert len(added) == 18 and len(set(added)) == 18
    # per-app txn high-waters all reached version 2
    for w in range(6):
        assert lk.last_txn_version(path, f"w{w}") == 2


def test_schema_enforcement_on_append(spark, tmp_path):
    """Delta schema enforcement: missing columns and type changes are
    rejected atomically; new columns need evolve_schema=True and flip
    the table to footer-merged reads (old files surface typed NULLs)."""
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    with pytest.raises(lk.SchemaMismatch, match="missing table column"):
        t.append(spark.createDataFrame([(1, 0)], "id long, k int"))
    with pytest.raises(lk.SchemaMismatch, match="changes column type"):
        t.append(
            spark.createDataFrame([(1, "x", 0.0)], "id long, k string, v double")
        )
    with pytest.raises(lk.SchemaMismatch, match="evolve_schema=True"):
        t.append(
            spark.createDataFrame(
                [(1, 0, 0.0, "n")], "id long, k int, v double, note string"
            )
        )
    # nothing staged by the rejections
    assert t.actions == []
    t.append(
        spark.createDataFrame(
            [(100, 0, 0.0, "evolved")],
            "id long, k int, v double, note string",
        ),
        evolve_schema=True,
    )
    t.commit()
    got = lk.read_table(spark, path)
    assert got.count() == 31
    notes = {r.note for r in got.collect()}
    assert notes == {None, "evolved"}  # old files footer-merge to NULL


def test_check_constraints_validate_appends_and_existing(spark, tmp_path):
    path = _init(spark, tmp_path)  # v has 0..29, all v >= 0
    t = lk.Transaction(path)
    t.set_check_constraint(spark, "v_nonneg", "v >= 0")
    t.set_check_constraint(spark, "id_notnull", "id IS NOT NULL")
    t.commit()
    t2 = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="v_nonneg: 1"):
        t2.append(
            spark.createDataFrame(
                [(50, 0, 1.0), (51, 0, -5.0)], "id long, k int, v double"
            )
        )
    assert t2.actions == []  # atomic rejection
    # NULL passes a plain CHECK (SQL semantics) but not IS NOT NULL
    with pytest.raises(lk.ConstraintViolation, match="id_notnull: 1"):
        t2.append(
            spark.createDataFrame(
                [(None, 0, None)], "id long, k int, v double"
            )
        )
    t2.append(
        spark.createDataFrame([(52, 0, None)], "id long, k int, v double")
    )  # v NULL passes v >= 0
    t2.commit()
    assert lk.read_table(spark, path).count() == 31
    # ADD CONSTRAINT validates existing rows
    t3 = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="existing row"):
        t3.set_check_constraint(spark, "v_big", "v >= 100")


def test_metadata_update_conflicts_with_everything(spark, tmp_path):
    path = _init(spark, tmp_path)
    m = lk.Transaction(path)
    w = lk.Transaction(path)
    m.set_check_constraint(spark, "v_nonneg", "v >= 0")
    w.append(spark.createDataFrame([(100, 0, -1.0)], "id long, k int, v double"))
    w.commit()  # the unvalidated append lands first
    with pytest.raises(lk.CommitConflict, match="metadata"):
        m.commit()  # constraint's full-table validation is stale
    # other direction: metadata lands first, concurrent append conflicts
    m2 = lk.Transaction(path)
    w2 = lk.Transaction(path)
    m2.set_check_constraint(spark, "k_small", "k < 10")
    w2.append(spark.createDataFrame([(101, 0, 1.0)], "id long, k int, v double"))
    m2.commit()
    with pytest.raises(lk.CommitConflict, match="metadata"):
        w2.commit()


def test_compact_preserves_evolved_column_data(spark, tmp_path):
    """Rewrites on an evolved table must footer-merge: plain inference
    takes ONE footer, and if a pre-evolution file wins, compaction
    would permanently drop the evolved column's values (r10b)."""
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 0, 0.0, "keepme")],
            "id long, k int, v double, note string",
        ),
        evolve_schema=True,
    )
    t.commit()
    c = lk.Transaction(path)
    c.compact(spark, n_files=1)
    c.commit()
    rows = {r.id: r.note for r in lk.read_table(spark, path).collect()}
    assert rows[100] == "keepme"  # survived the rewrite
    assert rows[0] is None
    # CoW delete referencing the evolved column also resolves
    d = lk.Transaction(path)
    assert d.delete_where(spark, F.col("note") == "keepme") == 1
    d.commit()
    assert lk.read_table(spark, path).count() == 30


def test_rejected_append_stages_no_schema_action(spark, tmp_path):
    """A ConstraintViolation mid-append must not leave the widened (or
    first) schema staged — retries in the same txn would see a
    phantom column (r10b)."""
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.set_check_constraint(spark, "v_nonneg", "v >= 0")
    t.commit()
    t2 = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation):
        t2.append(
            spark.createDataFrame(
                [(1, 0, -1.0, "x")], "id long, k int, v double, extra string"
            ),
            evolve_schema=True,
        )
    assert t2.actions == []  # no phantom evolved schema
    t2.append(spark.createDataFrame([(1, 0, 1.0)], "id long, k int, v double"))
    t2.commit()
    assert lk.read_table(spark, path).count() == 31


def test_bootstrap_duplicate_race_skips_not_conflicts(spark, tmp_path):
    """Two replays of batch 0 on an EMPTY table both stage the
    schema-fixing set_meta; the loser must SKIP (exactly-once), not
    die on ConcurrentMetadataUpdate (r10b)."""
    path = str(tmp_path / "t")
    t1 = lk.Transaction(path, txn_app="s", txn_version=0)
    t2 = lk.Transaction(path, txn_app="s", txn_version=0)
    t1.append(spark.createDataFrame([(1,)], "id long"))
    t2.append(spark.createDataFrame([(1,)], "id long"))
    assert t1.commit() == 1
    assert t2.commit() is None
    assert lk.read_table(spark, path).count() == 1


def test_constraint_expression_validated_and_droppable(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="does not resolve"):
        t.set_check_constraint(spark, "typo", "nonexistant_col > 0")
    # empty table WITH committed schema: still resolved
    p2 = str(tmp_path / "empty")
    s0 = lk.Transaction(p2)
    s0.append(spark.createDataFrame([(1,)], "id long"))
    s0.commit()
    s1 = lk.Transaction(p2)
    s1.delete_where(spark, F.col("id") == 1)
    s1.commit()
    s2 = lk.Transaction(p2)
    with pytest.raises(ValueError, match="does not resolve"):
        s2.set_check_constraint(spark, "typo", "no_such > 0")
    # DROP unblocks a table whose constraint became unwanted
    t3 = lk.Transaction(path)
    t3.set_check_constraint(spark, "v_cap", "v < 100")  # seed max is 29
    with pytest.raises(lk.ConstraintViolation):
        t3.set_check_constraint(spark, "v_cap2", "v < 10")  # rows 10..29
    t3.commit()
    t4 = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation):
        t4.append(
            spark.createDataFrame([(99, 0, 500.0)], "id long, k int, v double")
        )
    t5 = lk.Transaction(path)
    t5.drop_check_constraint("v_cap")
    t5.commit()
    t6 = lk.Transaction(path)
    t6.append(spark.createDataFrame([(99, 0, 500.0)], "id long, k int, v double"))
    t6.commit()
    assert lk.read_table(spark, path).count() == 31


def test_append_pins_batch_before_constraint_validation(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: the constraint-violation count and the staged write
    are two evaluations of the input — a non-deterministic batch could
    pass validation yet persist violating rows.  append must pin the
    batch (localCheckpoint) before validating; this wires-the-fix spy
    asserts the pin happens exactly when constraints exist."""
    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is a
    # dispatch base; classic sessions instantiate a subclass)
    _DF = type(spark.range(1))

    path = str(tmp_path / "t")
    t0 = lk.Transaction(path)
    t0.append(
        spark.createDataFrame([(0, 0.1)], "id long, v double").coalesce(1)
    )
    t0.commit()
    t1 = lk.Transaction(path)
    t1.set_check_constraint(spark, "v_small", "v < 0.5")
    t1.commit()

    pinned = []
    orig = _DF.localCheckpoint

    def spy(self, *a, **k):
        pinned.append(True)
        return orig(self, *a, **k)

    monkeypatch.setattr(_DF, "localCheckpoint", spy)
    t2 = lk.Transaction(path)
    t2.append(
        spark.createDataFrame([(1, 0.2)], "id long, v double").coalesce(1)
    )
    assert pinned, "append with constraints must pin the batch first"
    t2.commit()
    assert lk.read_table(spark, path).count() == 2


def test_commit_refuses_when_staged_files_vanished(spark, tmp_path):
    """ADVICE r10: a vacuum sweep younger than this transaction's
    staging-to-commit latency unlinks the staged files; commit must
    fail LOUDLY instead of publishing a version that references
    missing files (unreadable table)."""
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(99, 9, 9.9)], "id long, k int, v double")
        .coalesce(1)
    )
    # an overeager sweep (min_age 0 outside a single-writer window)
    # removes the staged-but-uncommitted files
    assert lk.vacuum_orphans(path, min_age_sec=0.0) >= 1
    with pytest.raises(FileNotFoundError, match="vanished"):
        t.commit()
    # the table is untouched at its committed version
    assert lk.read_table(spark, path).count() == 30


# -- round 11: MOR updates, change feed, restore, history -------------


def test_update_where_mor_rewrites_nothing_and_composes(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    n = t.update_where_mor(spark, F.col("k") == 0, {"v": F.col("v") + 100.0})
    assert n == 10
    assert t.commit() == 2
    rows = {r.id: r.v for r in lk.read_table(spark, path).collect()}
    assert len(rows) == 30  # update never changes cardinality
    assert all(
        rows[i] == (float(i) + 100.0 if i % 3 == 0 else float(i))
        for i in range(30)
    )
    # no base data file rewritten: 3 original adds + 1 reinsert live
    assert len(lk.snapshot(path).adds()) == 4
    # a later delete lands on the reinsert's fresh addresses
    t2 = lk.Transaction(path)
    assert t2.delete_where_mor(spark, F.col("v") == 100.0) == 1  # id 0
    t2.commit()
    assert lk.read_table(spark, path).count() == 29


def test_update_conflicts_with_concurrent_mor_delete_both_orders(
    spark, tmp_path
):
    """An update's reinserts would resurrect a concurrent delete's
    rows (and vice versa misses the moved rows) — not serializable,
    must conflict whichever side commits second."""
    path = _init(spark, tmp_path, files=1)
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.update_where_mor(spark, F.col("k") == 0, {"v": F.lit(-1.0)})
    b.delete_where_mor(spark, F.col("k") == 0)
    a.commit()
    with pytest.raises(lk.CommitConflict, match="UPDATE"):
        b.commit()
    # reverse order on a fresh table
    path2 = str(tmp_path / "t2")
    t0 = lk.Transaction(path2)
    t0.append(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)],
            "id long, k int, v double",
        ).coalesce(1)
    )
    t0.commit()
    c = lk.Transaction(path2)
    d = lk.Transaction(path2)
    c.update_where_mor(spark, F.col("k") == 0, {"v": F.lit(-1.0)})
    d.delete_where_mor(spark, F.col("k") == 0)
    d.commit()
    with pytest.raises(lk.CommitConflict, match="UPDATE"):
        c.commit()


def test_concurrent_updates_same_file_conflict(spark, tmp_path):
    path = _init(spark, tmp_path, files=1)
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.update_where_mor(spark, F.col("k") == 0, {"v": F.lit(-1.0)})
    b.update_where_mor(spark, F.col("k") == 1, {"v": F.lit(-2.0)})
    a.commit()
    with pytest.raises(lk.CommitConflict, match="UPDATE"):
        b.commit()
    # the retry contract: re-run on the fresh snapshot
    b2 = lk.Transaction(path)
    b2.update_where_mor(spark, F.col("k") == 1, {"v": F.lit(-2.0)})
    b2.commit()
    got = {r.v for r in lk.read_table(spark, path).filter("k <= 1").collect()}
    assert got == {-1.0, -2.0}


def test_update_validates_contract_before_staging(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.set_check_constraint(spark, "v_bounded", "v < 1000")
    t.commit()
    t2 = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="v_bounded"):
        t2.update_where_mor(spark, F.col("k") == 0, {"v": F.lit(5000.0)})
    t3 = lk.Transaction(path)
    with pytest.raises(lk.SchemaMismatch, match="type"):
        t3.update_where_mor(spark, F.col("k") == 0, {"v": F.lit("oops")})
    assert lk.read_table(spark, path).count() == 30


def test_read_changes_derives_every_operation(spark, tmp_path):
    """The change feed derived from the log's own actions: appends ->
    inserts, MOR delete -> deletes, MOR update -> pre/postimages,
    compaction -> nothing; an IVM consumer refreshed from the feed
    alone must equal the direct final aggregate."""
    path = _init(spark, tmp_path)  # v1: 30 rows
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100 + i, 9, 1000.0 + i) for i in range(5)],
            "id long, k int, v double",
        ).coalesce(1)
    )
    t.commit()  # v2: +5 inserts
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("k") == 1)
    t.commit()  # v3: -10 deletes
    t = lk.Transaction(path)
    t.update_where_mor(spark, F.col("k") == 9, {"v": F.col("v") + 0.5})
    t.commit()  # v4: 5 updates
    t = lk.Transaction(path)
    t.compact(spark)
    t.commit()  # v5: data-neutral
    feed = lk.read_changes(spark, path, 0, 5)
    by_type = {
        r._change_type: r.n
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "insert": 35,
        "delete": 10,
        "update_preimage": 5,
        "update_postimage": 5,
    }
    assert feed.filter("_commit_version = 5").count() == 0
    # IVM: signed replay of the feed equals the direct final aggregate
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    d = feed.agg(
        F.sum(sign).alias("dn"), F.sum(sign * F.col("v")).alias("dv")
    ).collect()[0]
    final = lk.read_table(spark, path).agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    ).collect()[0]
    assert d.dn == final.n
    assert abs(d.dv - final.s) < 1e-6
    # delta-sized sub-range: just the update step
    step = lk.read_changes(spark, path, 3, 4)
    assert {
        r._change_type for r in step.select("_change_type").distinct().collect()
    } == {"update_preimage", "update_postimage"}


def test_read_changes_cow_delete_needs_cdf(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("k") == 0)
    t.commit()  # v2: CoW rewrite, CDF off
    with pytest.raises(ValueError, match="enable_cdf|change data"):
        lk.read_changes(spark, path, 1, 2)
    t = lk.Transaction(path)
    t.enable_cdf()
    t.commit()  # v3
    t = lk.Transaction(path)
    assert t.delete_where(spark, F.col("k") == 1) == 10
    t.commit()  # v4: CoW rewrite WITH recorded change data
    feed = lk.read_changes(spark, path, 3, 4)
    got = {(r.id, r._change_type) for r in feed.collect()}
    assert got == {(i, "delete") for i in range(30) if i % 3 == 1}
    # and the pre-CDF commit still refuses inside a wider range
    with pytest.raises(ValueError, match="enable_cdf|change data"):
        lk.read_changes(spark, path, 1, 4)


def test_restore_preserves_history_and_feeds_cdf(spark, tmp_path):
    path = _init(spark, tmp_path)  # v1
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 9, 100.5)], "id long, k int, v double"
        ).coalesce(1)
    )
    t.commit()  # v2
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("k") == 2)
    t.commit()  # v3: 21 live
    v4 = lk.restore_table(spark, path, 1)
    assert v4 == 4
    # the restored table equals the v1 snapshot
    assert lk.read_table(spark, path).count() == 30
    got = {r.id for r in lk.read_table(spark, path).collect()}
    assert got == set(range(30))
    # history is preserved: time travel to the pre-restore state works
    assert lk.read_table(spark, path, version=3).count() == 21
    # the restore commit is CDF-derivable as a file-level diff whose
    # signed replay moves v3's aggregate back to v1's
    feed = lk.read_changes(spark, path, 3, 4)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    dn = feed.agg(F.sum(sign)).collect()[0][0]
    assert dn == 30 - 21
    hist = lk.describe_history(spark, path)
    ops = {r.version: r.operation for r in hist.collect()}
    assert ops[4] == "restore"
    assert ops[1] == "append"
    # a restore on top of nothing-new is a no-op and says so
    with pytest.raises(ValueError, match="no-op"):
        lk.restore_table(spark, path, 4)


def test_vacuum_retains_cdc_and_sweeps_orphans(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.enable_cdf()
    t.commit()
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("k") == 0)
    t.commit()
    cdc = list((pathlib.Path(path) / "_cdc").glob("cdc-*.parquet"))
    assert cdc  # recorded change data exists
    # an orphan cdc file (crashed writer) is swept; referenced ones stay
    orphan = pathlib.Path(path) / "_cdc" / "cdc-deadbeef.parquet"
    orphan.write_bytes(b"junk")
    removed = lk.vacuum_orphans(path, min_age_sec=0.0)
    assert removed >= 1
    assert not orphan.exists()
    assert all(p.exists() for p in cdc)
    # and the feed still serves from the retained sidecars
    v = lk.latest_commit(path)
    assert lk.read_changes(spark, path, v - 1, v).count() == 10


# -- round 11b: MERGE INTO and shallow clone ---------------------------


def test_merge_into_update_delete_insert(spark, tmp_path):
    """The three-clause merge: matched+delete drops, matched+update
    rewrites, unmatched source rows insert — file-pruned (untouched
    files never rewritten) and counted exactly."""
    path = _init(spark, tmp_path)  # ids 0..29, v = float(id)
    src = spark.createDataFrame(
        [(0, "u"), (3, "u"), (6, "d"), (9, "d"), (100, "i"), (101, "i")],
        "id long, op string",
    ).select(
        "id",
        (F.col("id") % 3).cast("int").alias("k"),
        F.lit(-1.0).alias("v"),
        "op",
    )
    t = lk.Transaction(path)
    got = t.merge_into(
        spark,
        src,
        ["id"],
        when_matched_update={"v": F.col("t.v") + 1000.0},
        when_matched_delete=F.col("s.op") == "d",
        when_not_matched_insert=True,
    )
    assert got == {"updated": 2, "deleted": 2, "inserted": 2}
    t.commit()
    rows = {r.id: r.v for r in lk.read_table(spark, path).collect()}
    assert len(rows) == 30  # 30 - 2 deleted + 2 inserted
    assert rows[0] == 1000.0 and rows[3] == 1003.0
    assert 6 not in rows and 9 not in rows
    assert rows[100] == -1.0 and rows[101] == -1.0
    assert rows[12] == 12.0  # untouched
    # file-pruned: only files containing matches were removed
    removed = {a["file"] for a in t.actions if a["op"] == "remove"}
    assert removed == t.read_files and len(removed) <= 3


def test_merge_insert_only_rewrites_nothing(spark, tmp_path):
    """An insert-only merge (dedup-append) must not rewrite touched
    files — it commutes with everything, like a plain append."""
    path = _init(spark, tmp_path)
    src = spark.createDataFrame(
        [(0, 0, 0.0), (200, 2, 2.0)], "id long, k int, v double"
    )
    t = lk.Transaction(path)
    got = t.merge_into(spark, src, ["id"], when_not_matched_insert=True)
    assert got == {"updated": 0, "deleted": 0, "inserted": 1}
    assert not t.read_files  # no conflict surface
    assert not any(a["op"] == "remove" for a in t.actions)
    t.commit()
    assert lk.read_table(spark, path).count() == 31


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    path = _init(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, 1, 0.0), (1, 1, 9.0)], "id long, k int, v double"
    )
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="key-unique"):
        t.merge_into(spark, src, ["id"], when_matched_update={"v": F.lit(0.0)})


def test_merge_cdf_records_all_change_classes(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.enable_cdf()
    t.commit()
    src = spark.createDataFrame(
        [(0, "u"), (6, "d"), (100, "i")], "id long, op string"
    ).select("id", F.lit(0).alias("k"), F.lit(5.5).alias("v"), "op")
    t = lk.Transaction(path)
    t.merge_into(
        spark,
        src,
        ["id"],
        when_matched_update={"v": F.col("s.v")},
        when_matched_delete=F.col("s.op") == "d",
    )
    v = t.commit()
    feed = lk.read_changes(spark, path, v - 1, v)
    got = {(r.id, r._change_type, r.v) for r in feed.collect()}
    assert got == {
        (0, "update_preimage", 0.0),
        (0, "update_postimage", 5.5),
        (6, "delete", 6.0),
        (100, "insert", 5.5),
    }


def test_merge_respects_constraints_on_postimages(spark, tmp_path):
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.set_check_constraint(spark, "v_nonneg", "v >= 0")
    t.commit()
    src = spark.createDataFrame([(0, 0, 0.0)], "id long, k int, v double")
    t = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="v_nonneg"):
        t.merge_into(
            spark, src, ["id"], when_matched_update={"v": F.lit(-5.0)}
        )


def test_clone_is_zero_copy_and_diverges(spark, tmp_path):
    path = _init(spark, tmp_path)
    # give the source a DV so the clone pins the LOGICAL snapshot
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("k") == 2)
    t.commit()
    dst = str(tmp_path / "fork")
    assert lk.clone_table(path, dst) == 1
    # zero copy: the clone holds no data files of its own
    assert not list((pathlib.Path(dst) / "data").glob("*.parquet")) if (
        pathlib.Path(dst) / "data"
    ).exists() else True
    got = {r.id for r in lk.read_table(spark, dst).collect()}
    assert got == {i for i in range(30) if i % 3 != 2}
    # divergence: a delete on the clone rewrites INTO the clone's root
    t = lk.Transaction(dst)
    assert t.delete_where(spark, F.col("k") == 0) == 10
    t.commit()
    assert lk.read_table(spark, dst).count() == 10
    assert lk.read_table(spark, path).count() == 20  # source unchanged
    # the clone's rewrite landed under its own data/
    assert list((pathlib.Path(dst) / "data").glob("rw-*.parquet"))
    # source files untouched on disk
    assert lk.read_table(spark, path, version=1).count() == 30
    # clone CDF: v1 inserts = the logical snapshot (DV-subtracted)
    feed = lk.read_changes(spark, dst, 0, 1)
    assert feed.count() == 20
    assert {r._change_type for r in feed.select("_change_type").distinct().collect()} == {"insert"}


def test_clone_vacuum_never_touches_source_files(spark, tmp_path):
    path = _init(spark, tmp_path)
    dst = str(tmp_path / "fork")
    lk.clone_table(path, dst)
    t = lk.Transaction(dst)
    t.append(spark.createDataFrame([(99, 9, 9.9)], "id long, k int, v double"))
    t.commit()
    # vacuum the clone aggressively: source files and the clone's own
    # referenced files all survive
    lk.vacuum_orphans(dst, min_age_sec=0.0)
    assert lk.read_table(spark, dst).count() == 31
    assert lk.read_table(spark, path).count() == 30
    with pytest.raises(ValueError, match="already exists"):
        lk.clone_table(path, dst)


# -- round 11 self-review regression tests -----------------------------


def test_restored_dv_carries_targets_for_conflict_detection(spark, tmp_path):
    """Review r11 finding 1: a restore that re-adds a deletion vector
    must record the vector's real targets — with targets=[] a
    concurrent rewrite (derived without the vector) commits and
    resurrects its deletes."""
    path = _init(spark, tmp_path, files=1)  # v1
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("k") == 0)
    t.commit()  # v2: DV live
    lk.restore_table(spark, path, 1)  # v3: DV dropped
    x = lk.Transaction(path)  # snapshot v3: no DVs
    x.compact(spark, n_files=1)
    v4 = lk.restore_table(spark, path, 2)  # re-adds the DV
    acts = lk._read_commit(path, v4)["actions"]
    (dv_add,) = [a for a in acts if a["op"] == "add_dv"]
    assert dv_add["targets"], "re-added DV must carry its targets"
    with pytest.raises(lk.CommitConflict):
        x.commit()  # compaction would resurrect the restored deletes
    assert lk.read_table(spark, path).count() == 20


def test_dropping_a_read_dv_conflicts_with_derived_writers(spark, tmp_path):
    """Review r11 finding 2: an operation that derived its row view
    THROUGH a deletion vector is invalidated when a concurrent commit
    removes that vector (restore un-hiding rows the writer never
    saw)."""
    path = _init(spark, tmp_path, files=1)  # v1
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("k") == 0)
    t.commit()  # v2
    x = lk.Transaction(path)  # snapshot v2: reads THROUGH the DV
    x.delete_where_mor(spark, F.col("k") == 1)
    lk.restore_table(spark, path, 1)  # v3: drops the DV x read through
    with pytest.raises(lk.CommitConflict):
        x.commit()
    # the retry on the fresh (restored) snapshot serializes
    x2 = lk.Transaction(path)
    x2.delete_where_mor(spark, F.col("k") == 1)
    x2.commit()
    assert lk.read_table(spark, path).count() == 20


def test_merge_rejected_insert_stages_nothing(spark, tmp_path):
    """Review r11 finding 3: a merge whose INSERT branch violates the
    table contract must raise with NO actions staged — not leave the
    matched-clause half behind."""
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    t.set_check_constraint(spark, "v_nonneg", "v >= 0")
    t.commit()
    src = spark.createDataFrame(
        [(0, 0, 5.0), (500, 0, -1.0)], "id long, k int, v double"
    )  # id 0 matches (valid update), id 500 inserts (violates)
    t = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="v_nonneg"):
        t.merge_into(
            spark, src, ["id"], when_matched_update={"v": F.col("s.v")}
        )
    assert t.actions == []  # whole-merge atomicity
    assert lk.read_table(spark, path).count() == 30


def test_update_rejects_unknown_set_column(spark, tmp_path):
    """Review r11 finding 4: a typo'd SET column must raise, not
    silently no-op the update via a phantom reinsert column."""
    path = _init(spark, tmp_path)
    t = lk.Transaction(path)
    with pytest.raises(lk.SchemaMismatch, match="unknown"):
        t.update_where_mor(spark, F.col("k") == 0, {"vlaue": F.lit(0.0)})
    t2 = lk.Transaction(path)
    src = spark.createDataFrame([(0, 0, 0.0)], "id long, k int, v double")
    with pytest.raises(lk.SchemaMismatch, match="unknown"):
        t2.merge_into(
            spark, src, ["id"], when_matched_update={"vlaue": F.lit(0.0)}
        )


def test_feed_emits_overlapping_concurrent_deletes_once(spark, tmp_path):
    """Review r11 finding 5: two concurrent MOR deletes with
    overlapping positions both commit (subtraction is idempotent),
    but the change feed must emit each row's death ONCE or an IVM
    consumer double-subtracts."""
    path = _init(spark, tmp_path, files=1)
    a = lk.Transaction(path)
    b = lk.Transaction(path)
    a.delete_where_mor(spark, F.col("id") < 10)
    b.delete_where_mor(spark, F.col("id") < 15)  # overlaps 0..9
    a.commit()
    b.commit()
    assert lk.read_table(spark, path).count() == 15
    feed = lk.read_changes(spark, path, 1, 3)
    assert feed.count() == 15  # 10 at v2 + 5 NEW at v3, no doubles
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    dn = feed.agg(F.sum(sign)).collect()[0][0]
    assert 30 + dn == 15  # IVM lands exactly on the final count


def test_compaction_routes_null_cluster_keys(spark, tmp_path):
    """Review r11 finding 6: a reinsert row whose UPDATE nulled the
    cluster key fails every range comparison — it must route to bin 0
    explicitly, not vanish from the compacted generation."""
    from market_etl_spark import mor
    from market_etl_spark.sinks import compact_manifested

    from tests.test_mor import _manifested

    src = _manifested(spark, tmp_path)
    data = f"{src}/data"
    mor.write_update_vector(
        spark, data, F.col("k") == 1, {"v": F.lit(None).cast("double")}
    )
    logical = {
        (r.id, r.v) for r in mor.read_with_deletes(spark, data).collect()
    }
    dest = str(tmp_path / "gen2")
    compact_manifested(spark, src, dest, "v", n_bins=3, apply_deletes=True)
    got = {(r.id, r.v) for r in spark.read.parquet(f"{dest}/data").collect()}
    assert got == logical  # the 20 NULL-keyed updated rows survive
