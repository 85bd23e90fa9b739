"""Incremental OPTIMIZE (compact_small), in-commit timestamps /
TIMESTAMP AS OF, and version expiry over the commit log."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk


def _mixed_table(spark, tmp_path):
    """Two big files (5k rows) + four small (10 rows), pinned clocks."""
    path = str(tmp_path / "t")
    t = lk.Transaction(path, commit_ts=1000.0)
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5000)], "id long, v double"
        ).coalesce(1)
    )
    t.commit()
    t = lk.Transaction(path, commit_ts=2000.0)
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5000, 10000)], "id long, v double"
        ).coalesce(1)
    )
    t.commit()
    for k in range(4):
        t = lk.Transaction(path, commit_ts=3000.0 + k)
        t.append(
            spark.createDataFrame(
                [(20000 + k * 10 + j, 1.0) for j in range(10)],
                "id long, v double",
            ).coalesce(1)
        )
        t.commit()
    return path


# -- compact_small ----------------------------------------------------


def test_compact_small_leaves_big_files_alone(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    live_before = lk.snapshot(path).adds()
    big = {f for f in live_before if (pathlib.Path(path) / f).stat().st_size > 10_000}
    assert len(big) == 2
    t = lk.Transaction(path)
    rewritten, added = t.compact_small(spark, target_bytes=10_000)
    assert (rewritten, added) == (4, 1)
    t.commit()
    live_after = lk.snapshot(path).adds()
    # the two big files survive untouched, by name
    assert big <= set(live_after) and len(live_after) == 3
    assert lk.read_table(spark, path).count() == 10040
    # only the small files entered the read set: commutes with writes
    # touching the big files
    assert t.read_files == set(live_before) - big


def test_compact_small_noop_below_two_candidates(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    t = lk.Transaction(path)
    assert t.compact_small(spark, target_bytes=10) == (0, 0)
    assert t.actions == [] and not t._rewrote


def test_compact_small_applies_dvs_but_keeps_them(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    t = lk.Transaction(path)
    # delete rows living in small files AND big files
    t.delete_where_mor(spark, (F.col("id") >= 20000) & (F.col("id") % 2 == 0))
    t.commit()
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 100)
    t.commit()
    n_before = lk.read_table(spark, path).count()
    t = lk.Transaction(path)
    t.compact_small(spark, target_bytes=10_000)
    t.commit()
    # logical rows unchanged; vectors still live (big-file rows remain
    # subject), moved rows escaped them without resurrecting deletes
    assert lk.read_table(spark, path).count() == n_before
    assert len(lk.snapshot(path).state.dv_added) == 2


def test_compact_small_conflicts_with_concurrent_rewrite_of_candidate(
    spark, tmp_path
):
    path = _mixed_table(spark, tmp_path)
    t1 = lk.Transaction(path)
    t1.compact_small(spark, target_bytes=10_000)
    # concurrent delete rewrites one of the small files t1 read
    t2 = lk.Transaction(path)
    t2.delete_where(spark, F.col("id") == 20001)
    t2.commit()
    with pytest.raises(lk.CommitConflict):
        t1.commit()


# -- in-commit timestamps ---------------------------------------------


def test_timestamp_as_of_resolution(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    assert lk.version_at_timestamp(path, 1000.0) == 1
    assert lk.version_at_timestamp(path, 1999.9) == 1
    assert lk.version_at_timestamp(path, 2000.0) == 2
    assert lk.version_at_timestamp(path, 1e12) == 6
    assert lk.read_table(spark, path, timestamp=1500.0).count() == 5000
    with pytest.raises(ValueError, match="at or before"):
        lk.version_at_timestamp(path, 10.0)
    with pytest.raises(ValueError, match="not both"):
        lk.read_table(spark, path, version=1, timestamp=1500.0)


def test_commit_ts_clamped_monotonic(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path, commit_ts=5000.0)
    t.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    t.commit()
    # a writer with a BACKWARD clock cannot reorder history
    t = lk.Transaction(path, commit_ts=10.0)
    t.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    t.commit()
    ts1 = lk._read_commit(path, 1)["ts"]
    ts2 = lk._read_commit(path, 2)["ts"]
    assert ts1 == 5000.0 and ts2 > ts1


# -- version expiry ---------------------------------------------------


def test_expire_versions_end_to_end(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    t = lk.Transaction(path)
    t.compact_small(spark, target_bytes=10_000)
    t.commit()  # v7: the four small files become expired-only refs
    pre = {tuple(r) for r in lk.read_table(spark, path).collect()}
    res = lk.expire_versions(path, 7)
    assert res["data_files_deleted"] == 4
    assert res["log_files_deleted"] >= 6
    # latest read byte-identical
    assert {tuple(r) for r in lk.read_table(spark, path).collect()} == pre
    # expired time travel raises loudly
    with pytest.raises(ValueError, match="expired"):
        lk.read_table(spark, path, version=3)
    # retained history still describes; new commits still work
    assert lk.describe_history(spark, path).count() == 1
    t = lk.Transaction(path)
    t.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    assert t.commit() == 8
    # vacuum after expiry must NOT touch checkpoint-referenced files
    assert lk.vacuum_orphans(path, min_age_sec=0) == 0
    assert lk.read_table(spark, path).count() == 10041


def test_expire_versions_retains_shared_files(spark, tmp_path):
    # a file added in v1 and still live at the boundary must survive
    path = _mixed_table(spark, tmp_path)
    res = lk.expire_versions(path, 6)
    assert res["data_files_deleted"] == 0  # every file still live
    assert lk.read_table(spark, path).count() == 10040
    assert lk.read_table(spark, path, version=6).count() == 10040


def test_expire_clone_never_reaches_source(spark, tmp_path):
    src = _mixed_table(spark, tmp_path)
    dst = str(tmp_path / "c")
    lk.clone_table(src, dst)
    t = lk.Transaction(dst)
    t.compact(spark, n_files=1)
    t.commit()  # clone v2: source files now expired-only refs in the clone
    res = lk.expire_versions(dst, 2)
    # absolute source references are outside the clone root: skipped
    assert res["data_files_deleted"] == 0
    assert lk.read_table(spark, src).count() == 10040
    assert lk.read_table(spark, dst).count() == 10040


def test_expire_then_timestamp_travel_and_stats(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    lk.expire_versions(path, 3)
    # timestamp resolution works over the surviving suffix
    assert lk.version_at_timestamp(path, 3000.5) == 3
    with pytest.raises(ValueError):
        lk.version_at_timestamp(path, 999.0)
    # data skipping still served from the retention checkpoint's stats
    _v, kept, total = lk.prune_files(path, [("id", "<", 100)])
    assert total == 6 and len(kept) == 1


def test_change_feed_over_expired_range_raises(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    lk.expire_versions(path, 4)
    with pytest.raises(ValueError, match="re-bootstrap"):
        lk.read_changes(spark, path, 0, 6)
    # a range entirely inside the retained suffix still serves
    assert lk.read_changes(spark, path, 4, 6).count() == 20


def test_timestamp_boundary_equality_prunes_exactly(spark, tmp_path):
    # aware/naive isoformat normalization: an = probe ON the boundary
    # must admit the file; one microsecond below must prune it
    import datetime

    path = str(tmp_path / "t")
    lo = datetime.datetime(2026, 4, 1)
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, lo + datetime.timedelta(seconds=i)) for i in range(10)],
            "id long, ts timestamp",
        ).coalesce(1)
    )
    t.commit()
    assert len(lk.prune_files(path, [("ts", "=", lo)])[1]) == 1
    assert lk.prune_files(
        path, [("ts", "<", lo)]
    )[1] == []
    aware = lo.replace(tzinfo=datetime.timezone.utc)
    assert len(lk.prune_files(path, [("ts", "=", aware)])[1]) == 1


# -- replaceWhere + operation metrics ---------------------------------


def _ranged4(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(i * 100 + j, float(j)) for j in range(100)],
                "id long, v double",
            ).coalesce(1)
        )
        t.commit()
    return path


def test_replace_where_swaps_only_the_slice(spark, tmp_path):
    path = _ranged4(spark, tmp_path)
    new = spark.createDataFrame(
        [(100 + j, float(j) * 10) for j in range(100)], "id long, v double"
    ).coalesce(1)
    t = lk.Transaction(path)
    deleted, _added = t.replace_where(
        spark, [("id", ">=", 100), ("id", "<", 200)], new
    )
    assert deleted == 100
    # stats-pruned: only the one candidate file entered the read set
    assert len(t.read_files) == 1
    t.commit()
    df = lk.read_table(spark, path)
    assert df.count() == 400
    assert (
        df.filter("id >= 100 and id < 200").agg(F.sum("v")).collect()[0][0]
        == 49500.0
    )
    assert df.filter("id < 100").agg(F.sum("v")).collect()[0][0] == 4950.0


def test_replace_where_rejects_out_of_slice_rows(spark, tmp_path):
    path = _ranged4(spark, tmp_path)
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(
            spark,
            [("id", "<", 100)],
            spark.createDataFrame([(500, 1.0)], "id long, v double"),
        )
    assert t.actions == []  # nothing staged


def test_replace_where_idempotent_rerun(spark, tmp_path):
    path = _ranged4(spark, tmp_path)
    new = spark.createDataFrame(
        [(j, -1.0) for j in range(100)], "id long, v double"
    ).coalesce(1)
    for _ in range(2):
        t = lk.Transaction(path)
        t.replace_where(spark, [("id", "<", 100)], new)
        t.commit()
    df = lk.read_table(spark, path)
    assert df.count() == 400
    assert df.filter("id < 100").agg(F.sum("v")).collect()[0][0] == -100.0


def test_operation_metrics_in_history(spark, tmp_path):
    import json

    path = _ranged4(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 10)
    t.commit()
    t = lk.Transaction(path)
    t.update_where_mor(spark, F.col("id") == 50, {"v": F.lit(9.0)})
    t.commit()
    t = lk.Transaction(path)
    t.compact(spark, n_files=2)
    t.commit()
    h = {
        r.operation: json.loads(r.metrics)
        for r in lk.describe_history(spark, path).collect()
        if r.metrics
    }
    assert h["append"]["rows_appended"] == 100
    assert h["delete_where_mor"]["rows_deleted"] == 10
    assert h["update_where_mor"]["rows_updated"] == 1
    assert h["compact"]["files_rewritten"] >= 4


# -- generated columns ------------------------------------------------


def test_generated_column_lifecycle(spark, tmp_path):
    import datetime

    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.set_generated_column(spark, "day", "CAST(ts AS DATE)", "date")
    t.commit()
    base = datetime.datetime(2026, 1, 1)
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, base + datetime.timedelta(days=i // 10)) for i in range(40)],
            "id long, ts timestamp",
        ).coalesce(1)
    )
    t.commit()
    df = lk.read_table(spark, path)
    assert df.columns == ["id", "ts", "day"]
    assert df.filter("day <> CAST(ts AS DATE)").count() == 0
    # provided-and-correct passes
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, base, base.date())], "id long, ts timestamp, day date"
        )
    )
    t.commit()
    # provided-and-wrong rejects the whole batch
    t = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="generated-column"):
        t.append(
            spark.createDataFrame(
                [(101, base, datetime.date(2030, 1, 1))],
                "id long, ts timestamp, day date",
            )
        )
    # an update may not break the generation invariant
    t = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="generated-column"):
        t.update_where_mor(
            spark, F.col("id") == 0, {"day": F.lit(datetime.date(2031, 1, 1))}
        )
    # dependencies are rename/drop-guarded
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="depends on it"):
        t.rename_column("ts", "event_ts")
    t2 = lk.Transaction(path)
    with pytest.raises(ValueError, match="depends on it"):
        t2.drop_column("day")
    # declaring a NEW generated column on a non-empty table is refused
    t3 = lk.Transaction(path)
    with pytest.raises(ValueError, match="generation invariant"):
        t3.set_generated_column(spark, "month", "MONTH(ts)", "int")


def test_generated_column_validates_existing_rows_on_declare(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, float(i), float(i) * 2) for i in range(10)],
            "id long, v double, dbl double",
        ).coalesce(1)
    )
    t.commit()
    # existing column matching the expression: declaration validates
    t = lk.Transaction(path)
    t.set_generated_column(spark, "dbl", "v * 2", "double")
    t.commit()
    # from now on omitted -> computed
    t = lk.Transaction(path)
    t.append(spark.createDataFrame([(50, 5.0)], "id long, v double"))
    t.commit()
    assert (
        lk.read_table(spark, path).filter("id = 50").collect()[0].dbl == 10.0
    )
    # a mismatching existing column refuses the declaration
    t = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation, match="don't match"):
        t.set_generated_column(spark, "v", "id * 100", "double")


def test_generated_column_is_skippable(spark, tmp_path):
    import datetime

    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.set_generated_column(spark, "day", "CAST(ts AS DATE)", "date")
    t.commit()
    base = datetime.datetime(2026, 1, 1)
    for d in range(3):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(d * 100 + i, base + datetime.timedelta(days=d, minutes=i)) for i in range(20)],
                "id long, ts timestamp",
            ).coalesce(1)
        )
        t.commit()
    cut = (base + datetime.timedelta(days=1)).date()
    _v, kept, total = lk.prune_files(path, [("day", "<", cut)])
    assert (len(kept), total) == (1, 3)
    assert (
        lk.read_table(spark, path, predicate=[("day", "<", cut)]).count()
        == 20
    )


def test_replace_where_on_generated_predicate_column(spark, tmp_path):
    import datetime

    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.set_generated_column(spark, "day", "CAST(ts AS DATE)", "date")
    t.commit()
    base = datetime.datetime(2026, 1, 1)
    for d in range(3):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(d * 10 + i, base + datetime.timedelta(days=d)) for i in range(10)],
                "id long, ts timestamp",
            ).coalesce(1)
        )
        t.commit()
    # backfill day 1 with a batch that OMITS the generated column —
    # the predicate on it still validates and prunes
    day1 = (base + datetime.timedelta(days=1)).date()
    nxt = (base + datetime.timedelta(days=2)).date()
    new = spark.createDataFrame(
        [(100 + i, base + datetime.timedelta(days=1, hours=1)) for i in range(5)],
        "id long, ts timestamp",
    ).coalesce(1)
    t = lk.Transaction(path)
    deleted, _ = t.replace_where(
        spark, [("day", ">=", day1), ("day", "<", nxt)], new
    )
    assert deleted == 10 and len(t.read_files) == 1
    t.commit()
    df = lk.read_table(spark, path)
    assert df.count() == 25
    assert df.filter(F.col("day") == F.lit(day1)).count() == 5


def test_generated_column_rejects_self_reference(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="reference itself"):
        t.set_generated_column(spark, "x", "x + 1", "double")


def test_replace_where_keeps_sibling_op_tags(spark, tmp_path):
    path = _ranged4(spark, tmp_path)
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(9000, 0.0)], "id long, v double").coalesce(1)
    )
    t.replace_where(
        spark,
        [("id", ">=", 100), ("id", "<", 200)],
        spark.createDataFrame(
            [(150, 1.0)], "id long, v double"
        ).coalesce(1),
    )
    t.commit()
    op = {
        r.version: r.operation
        for r in lk.describe_history(spark, path).collect()
    }[5]
    # the standalone append keeps its tag; the backfill's two halves
    # collapse into one name
    assert op == "append+replace_where"


# -- identity columns -------------------------------------------------


def test_identity_column_lifecycle(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.set_identity_column("row_id", start=100, step=10)
    t.commit()
    for i in range(3):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(i * 50 + j, float(j)) for j in range(50)],
                "x long, v double",
            ).repartition(4)
        )
        t.commit()
    df = lk.read_table(spark, path)
    assert df.count() == df.select("row_id").distinct().count() == 150
    # every value on the start/step lattice
    assert (
        df.filter(((F.col("row_id") - 100) % 10) != 0).count() == 0
    )
    # strictly monotonic ACROSS commits
    c1max = df.filter("x < 50").agg(F.max("row_id")).collect()[0][0]
    c2min = df.filter("x >= 50 and x < 100").agg(F.min("row_id")).collect()[0][0]
    c2max = df.filter("x >= 50 and x < 100").agg(F.max("row_id")).collect()[0][0]
    c3min = df.filter("x >= 100").agg(F.min("row_id")).collect()[0][0]
    assert c1max < c2min and c2max < c3min
    # ALWAYS AS: supplying the column is refused
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="ALWAYS AS"):
        t.append(
            spark.createDataFrame(
                [(999, 1.0, 5)], "x long, v double, row_id long"
            )
        )
    # declaring on a non-empty table is refused
    t2 = lk.Transaction(path)
    with pytest.raises(ValueError, match="retro-stamped"):
        t2.set_identity_column("other")


def test_identity_concurrent_appends_serialize(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.set_identity_column("rid")
    t.commit()
    t = lk.Transaction(path)
    t.append(spark.createDataFrame([(1, 1.0)], "x long, v double"))
    t.commit()
    t1 = lk.Transaction(path)
    t1.append(spark.createDataFrame([(2, 2.0)], "x long, v double"))
    t2 = lk.Transaction(path)
    t2.append(spark.createDataFrame([(3, 3.0)], "x long, v double"))
    t2.commit()
    # identity appends carry a metadata high-water: they serialize
    with pytest.raises(lk.CommitConflict):
        t1.commit()
    t3 = lk.Transaction(path)
    t3.append(spark.createDataFrame([(2, 2.0)], "x long, v double"))
    t3.commit()
    df = lk.read_table(spark, path)
    assert df.count() == df.select("rid").distinct().count() == 3


def test_identity_negative_step(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.set_identity_column("rid", start=0, step=-3)
    t.commit()
    for _ in range(2):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(j, 0.0) for j in range(20)], "x long, v double"
            ).coalesce(2)
        )
        t.commit()
    df = lk.read_table(spark, path)
    assert df.count() == df.select("rid").distinct().count() == 40
    assert df.filter("rid > 0").count() == 0
    assert df.filter("rid % 3 != 0").count() == 0
