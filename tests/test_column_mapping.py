"""ALTER TABLE RENAME/DROP COLUMN via column mapping over the commit
log: metadata-only renames, physical-name stability, collision-safe
re-adds, and composition with skipping, CDF, rewrites and time travel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk


def _table(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, i % 5, float(i)) for i in range(100)],
            "id long, k int, v double",
        ).coalesce(1)
    )
    t.commit()
    return path


def test_rename_is_metadata_only(spark, tmp_path):
    path = _table(spark, tmp_path)
    files_before = lk.snapshot(path).adds().keys()
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    assert lk.snapshot(path).adds().keys() == files_before  # zero data movement
    df = lk.read_table(spark, path)
    assert df.columns == ["id", "k", "val"]
    assert df.agg(F.sum("val")).collect()[0][0] == 4950.0
    # time travel BEFORE the rename shows the old logical name
    assert lk.read_table(spark, path, version=1).columns == ["id", "k", "v"]


def test_append_and_skipping_after_rename(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(1000, 9, 500.0)], "id long, k int, val double")
    )
    t.commit()
    assert lk.read_table(spark, path).count() == 101
    # stats stay keyed by the PHYSICAL name; the logical predicate
    # translates — the new file (min 500) is pruned for val<10
    _v, kept, total = lk.prune_files(path, [("val", "<", 10.0)])
    assert (len(kept), total) == (1, 2)
    assert (
        lk.read_table(spark, path, predicate=[("val", "<", 10.0)]).count()
        == 10
    )


def test_drop_then_readd_does_not_resurrect_old_bytes(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.drop_column("k")
    t.commit()
    assert lk.read_table(spark, path).columns == ["id", "v"]
    # re-adding the same LOGICAL name gets an opaque physical name, so
    # the dead k-bytes in the old file stay invisible
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(1000, 1.0, "fresh")], "id long, v double, k string"),
        evolve_schema=True,
    )
    t.commit()
    vals = {r.k for r in lk.read_table(spark, path).select("k").distinct().collect()}
    assert vals == {None, "fresh"}
    cm = lk._colmap(lk.snapshot(path).state.meta)
    assert cm["k"].startswith("c-")


def test_rewrites_shed_dropped_columns_and_keep_physical_names(spark, tmp_path):
    import pyarrow.parquet as pq

    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    t.drop_column("k")
    t.commit()
    t = lk.Transaction(path)
    t.compact(spark, n_files=1)
    t.commit()
    live = sorted(lk.snapshot(path).adds())
    phys = pq.ParquetFile(f"{path}/{live[0]}").schema_arrow.names
    # renamed column keeps its ORIGINAL physical name; dropped bytes gone
    assert phys == ["id", "v"]
    assert lk.read_table(spark, path).columns == ["id", "val"]


def test_rename_guard_on_constraint_reference(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.set_check_constraint(spark, "pos", "v >= 0")
    t.commit()
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="references it"):
        t.rename_column("v", "val")
    t2 = lk.Transaction(path)
    with pytest.raises(ValueError, match="references it"):
        t2.drop_column("v")
    # unreferenced columns rename freely
    t3 = lk.Transaction(path)
    t3.rename_column("k", "kind")
    t3.commit()
    assert lk.read_table(spark, path).columns == ["id", "kind", "v"]


def test_rename_validation(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "k")
    t2 = lk.Transaction(path)
    with pytest.raises(ValueError, match="only column"):
        t2.drop_column("id") or t2.drop_column("k") or t2.drop_column("v")


def test_delete_update_merge_on_mapped_table(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    assert t.delete_where(spark, F.col("val") >= 95.0) == 5
    t.commit()
    t = lk.Transaction(path)
    t.update_where_mor(spark, F.col("id") == 0, {"val": F.lit(777.0)})
    t.commit()
    t = lk.Transaction(path)
    counts = t.merge_into(
        spark,
        spark.createDataFrame([(1, 9, -1.0), (500, 9, 5.0)], "id long, k int, val double"),
        ["id"],
        when_matched_update={"val": F.col("s.val")},
        when_not_matched_insert=True,
    )
    t.commit()
    assert counts["updated"] == 1 and counts["inserted"] == 1
    got = {
        r.id: r.val
        for r in lk.read_table(spark, path).filter(F.col("id").isin(0, 1, 500)).collect()
    }
    assert got == {0: 777.0, 1: -1.0, 500: 5.0}


def test_cdf_serves_physical_sidecars_through_the_map(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.enable_cdf()
    t.commit()
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("val") < 10.0)
    v = t.commit()
    feed = lk.read_changes(spark, path, v - 1, v)
    assert feed.columns == ["id", "k", "val", "_change_type", "_commit_version"]
    assert feed.count() == 10
    assert feed.agg(F.sum("val")).collect()[0][0] == 45.0


def test_zorder_and_detail_on_mapped_table(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    t.optimize_zorder(spark, ["id", "val"], n_files=4)
    t.commit()
    _v, kept, total = lk.prune_files(path, [("val", "<", 25.0)])
    assert len(kept) < total == 4
    assert lk.read_table(spark, path, predicate=[("val", "<", 25.0)]).count() == 25
    d = lk.table_detail(path)
    assert d["rows_exact"] and d["n_rows"] == 100


def test_replace_where_translates_mapped_predicate(spark, tmp_path):
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
    t = lk.Transaction(path)
    t.rename_column("id", "event_id")
    t.commit()
    new = spark.createDataFrame(
        [(100 + j, -1.0) for j in range(100)], "event_id long, v double"
    ).coalesce(1)
    t = lk.Transaction(path)
    deleted, _ = t.replace_where(
        spark, [("event_id", ">=", 100), ("event_id", "<", 200)], new
    )
    assert deleted == 100
    # the stats prune translated event_id -> physical id: ONE candidate
    assert len(t.read_files) == 1
    t.commit()
    df = lk.read_table(spark, path)
    assert df.count() == 400
    assert (
        df.filter("event_id >= 100 and event_id < 200")
        .agg(F.sum("v"))
        .collect()[0][0]
        == -100.0
    )
