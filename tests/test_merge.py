"""MERGE/upsert tests: SCD1 semantics, partition-scoped rewrite
(untouched partition directories survive byte-for-byte), new-partition
creation, and idempotent re-merge."""

from __future__ import annotations

import pathlib

import pyspark.sql.functions as F

from market_etl_spark.merge import merge_into_partitioned, merge_upsert


def _target(spark):
    rows = [
        # (id, day, val)
        (1, 1, 10.0),
        (2, 1, 20.0),
        (3, 2, 30.0),
        (4, 2, 40.0),
        (5, 3, 50.0),
    ]
    return spark.createDataFrame(rows, "id long, day int, val double")


def test_merge_upsert_scd1_semantics(spark):
    t = _target(spark)
    updates = spark.createDataFrame(
        [(2, 1, 99.0), (6, 4, 60.0)], "id long, day int, val double"
    )
    got = {r.id: (r.day, r.val) for r in merge_upsert(t, updates, ["id"]).collect()}
    assert got == {1: (1, 10.0), 2: (1, 99.0), 3: (2, 30.0), 4: (2, 40.0), 5: (3, 50.0), 6: (4, 60.0)}


def _partition_files(path):
    out = {}
    for p in pathlib.Path(path).glob("day=*/**/*.parquet"):
        out.setdefault(p.parent.name, set()).add((p.name, p.stat().st_mtime_ns))
    return out


def test_merge_into_partitioned_scopes_the_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark).write.partitionBy("day").parquet(path)
    before = _partition_files(path)

    updates = spark.createDataFrame(
        [(2, 1, 99.0), (7, 9, 70.0)], "id long, day int, val double"
    )
    n = merge_into_partitioned(spark, path, updates, ["id"], ["day"])
    assert n == 2  # day=1 (update) and day=9 (brand-new)

    after = _partition_files(path)
    # Untouched partitions: identical files, identical mtimes.
    for day in ("day=2", "day=3"):
        assert after[day] == before[day]
    # Affected partition rewritten, new partition created.
    assert after["day=1"] != before["day=1"]
    assert "day=9" in after

    got = {r.id: (r.day, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {1: (1, 10.0), 2: (1, 99.0), 3: (2, 30.0), 4: (2, 40.0), 5: (3, 50.0), 7: (9, 70.0)}


def test_merge_into_partitioned_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame([(2, 1, 99.0)], "id long, day int, val double")
    merge_into_partitioned(spark, path, updates, ["id"], ["day"])
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    merge_into_partitioned(spark, path, updates, ["id"], ["day"])
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == first


def test_snapshot_diff_classifies_all_change_types(spark):
    from market_etl_spark.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 99.0), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 removed, 2 unchanged (absent), 3 changed, 4 added
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_scd2_apply_semantics(spark):
    import datetime as dt

    from market_etl_spark.merge import scd2_apply

    current = spark.createDataFrame(
        [
            (1, "a", None, dt.datetime(2024, 1, 1), None, True),
            (2, None, "x", dt.datetime(2024, 1, 1), None, True),
        ],
        "k int, attr string, attr2 string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    eff = dt.datetime(2024, 2, 1)
    updates = spark.createDataFrame(
        [
            (1, "b", None, eff),   # attr changed (null-safe on attr2)
            (2, None, "x", eff),   # identical incl. NULL → no-op
        ],
        "k int, attr string, attr2 string, effective_ts timestamp",
    )
    out = scd2_apply(current, updates, ["k"], ["attr", "attr2"])
    rows = sorted(
        ((r.k, r.attr, r.is_current, r.valid_to) for r in out.collect())
    )
    # k=1: closed old + new open; k=2: untouched open. 3 rows total.
    assert rows == [
        (1, "a", False, eff),
        (1, "b", True, None),
        (2, None, True, None),
    ]

    # re-applying the same updates is a no-op (idempotent): every attr
    # now matches the open rows
    again = scd2_apply(out, updates, ["k"], ["attr", "attr2"])
    assert sorted(
        ((r.k, r.attr, r.is_current, r.valid_to) for r in again.collect())
    ) == rows


def test_scd2_apply_multi_update_per_key_takes_latest(spark):
    """A CDC batch with several changes for one key must not fan out
    the open slice (multiple closed + multiple is_current rows for the
    same key). The delta is pre-reduced to its latest row per key, so
    one apply = one version step to the batch's end state."""
    import datetime as dt

    from market_etl_spark.merge import scd2_apply

    current = spark.createDataFrame(
        [(1, "a", None, dt.datetime(2024, 1, 1), None, True)],
        "k int, attr string, attr2 string, valid_from timestamp,"
        " valid_to timestamp, is_current boolean",
    )
    t1, t2, t3 = (dt.datetime(2024, 2, d) for d in (1, 2, 3))
    updates = spark.createDataFrame(
        [(1, "b", None, t1), (1, "c", None, t3), (1, "bb", None, t2),
         (5, "n1", None, t1), (5, "n2", None, t2)],
        "k int, attr string, attr2 string, effective_ts timestamp",
    )
    out = scd2_apply(current, updates, ["k"], ["attr", "attr2"])
    rows = sorted(
        (r.k, r.attr, r.is_current, r.valid_from, r.valid_to)
        for r in out.collect()
    )
    # k=1: one closed row (valid_to = latest effective t3) + one open
    # row carrying the latest attrs; k=5 (brand-new): ONE open row from
    # its latest update. No duplicates.
    assert rows == [
        (1, "a", False, dt.datetime(2024, 1, 1), t3),
        (1, "c", True, t3, None),
        (5, "n2", True, t2, None),
    ]
    open_per_key = {}
    for r in out.collect():
        if r.is_current:
            open_per_key[r.k] = open_per_key.get(r.k, 0) + 1
    assert all(v == 1 for v in open_per_key.values())


def test_merge_tombstone_deletes_and_upserts_in_one_batch(spark):
    """op_col path: 'D' rows remove their key, other ops upsert, a
    delete for an absent key is a no-op (idempotent re-apply)."""
    t = _target(spark)
    batch = spark.createDataFrame(
        [
            (2, 1, 99.0, "U"),   # update existing
            (6, 4, 60.0, "I"),   # insert new
            (3, 2, 0.0, "D"),    # delete existing
            (42, 9, 0.0, "D"),   # delete absent key -> no-op
        ],
        "id long, day int, val double, op string",
    )
    got = {
        r.id: (r.day, r.val)
        for r in merge_upsert(t, batch, ["id"], op_col="op").collect()
    }
    assert got == {
        1: (1, 10.0),
        2: (1, 99.0),
        4: (2, 40.0),
        5: (3, 50.0),
        6: (4, 60.0),
    }


def test_merge_into_partitioned_clears_fully_deleted_partition(spark, tmp_path):
    """Dynamic overwrite never writes a zero-row partition: the merge
    must clear a directory whose every row was tombstoned, while a
    partially-deleted partition is rewritten without the victims."""
    path = str(tmp_path / "t")
    _target(spark).write.partitionBy("day").parquet(path)

    batch = spark.createDataFrame(
        # day=3 has only id=5 -> fully deleted; day=1 loses id=1 only
        [(5, 3, 0.0, "D"), (1, 1, 0.0, "D"), (2, 1, 21.0, "U")],
        "id long, day int, val double, op string",
    )
    n = merge_into_partitioned(spark, path, batch, ["id"], ["day"], op_col="op")
    assert n == 2  # day=1 and day=3 affected
    assert not pathlib.Path(path, "day=3").exists()
    got = {r.id: (r.day, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {2: (1, 21.0), 3: (2, 30.0), 4: (2, 40.0)}


def test_cdc_apply_delete_lands_in_later_batch_than_insert(spark, tmp_path):
    """Cross-batch tombstone through run_cdc_apply: batch 0 INSERTS a
    key, batch 1 DELETES it — the delete must kill the insert it never
    shared a micro-batch with (each batch merges against accumulated
    on-disk state, not against its own batch)."""
    import os

    from market_etl_spark.streaming import run_cdc_apply

    path = str(tmp_path / "t")
    _target(spark).write.partitionBy("day").parquet(path)

    zone = tmp_path / "feed"
    zone.mkdir()
    b0 = spark.createDataFrame(
        [(7, 1, 70.0, "I"), (8, 2, 80.0, "I")],
        "id long, day int, val double, op string",
    )
    b1 = spark.createDataFrame(
        [(7, 1, 0.0, "D"), (1, 1, 0.0, "D")],
        "id long, day int, val double, op string",
    )
    for i, b in enumerate((b0, b1)):
        tmp = zone / f"_tmp_{i}"
        b.coalesce(1).write.parquet(str(tmp))
        (part,) = list(tmp.glob("part-*.parquet"))
        part.rename(zone / f"batch-{i}.parquet")
        import shutil

        shutil.rmtree(tmp)
        os.utime(zone / f"batch-{i}.parquet", (1_000_000_000 + i * 1000,) * 2)

    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(zone))
    )
    applied = run_cdc_apply(stream, path, ["id"], ["day"], op_col="op")
    assert applied == 2
    got = {r.id: (r.day, r.val) for r in spark.read.parquet(path).collect()}
    # 7 inserted then deleted (cross-batch), 1 deleted, 8 survives
    assert got == {
        2: (1, 20.0),
        3: (2, 30.0),
        4: (2, 40.0),
        5: (3, 50.0),
        8: (2, 80.0),
    }


def test_merge_schema_evolution_adds_typed_null_column(spark, tmp_path):
    """evolve_schema=True: a batch carrying a NEW column rewrites the
    affected partitions with the evolved schema; untouched rows read
    back (mergeSchema) with a typed NULL; tombstones compose."""
    path = str(tmp_path / "t")
    _target(spark).write.partitionBy("day").parquet(path)
    batch = spark.createDataFrame(
        [(2, 1, 99.0, 7, "U"), (6, 4, 60.0, 9, "I"), (5, 3, 0.0, 0, "D")],
        "id long, day int, val double, score int, op string",
    )
    merge_into_partitioned(
        spark, path, batch, ["id"], ["day"], op_col="op", evolve_schema=True
    )
    got = {
        r.id: (r.day, r.val, r.score)
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got == {
        1: (1, 10.0, None),   # untouched row in a REWRITTEN partition
        2: (1, 99.0, 7),      # updated, carries the new column
        3: (2, 30.0, None),   # untouched partition, old schema on disk
        4: (2, 40.0, None),
        6: (4, 60.0, 9),      # insert with the new column
    }
    # 5 tombstoned; its day=3 partition was fully deleted
    import pathlib as _pl

    assert not _pl.Path(path, "day=3").exists()


def test_full_partition_delete_with_escaped_string_partition(spark, tmp_path):
    """Partition VALUES needing Hive path escaping (':' -> '%3A'; space
    is NOT escaped): the fully-deleted-partition cleanup must hit the
    exact directory Spark wrote, or tombstoned rows resurrect
    (review r9)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a b", 10.0), (2, "x:y", 20.0), (3, "plain", 30.0)],
        "id long, seg string, val double",
    ).write.partitionBy("seg").parquet(path)
    import pathlib as _pl

    assert _pl.Path(path, "seg=a b").exists()  # space survives unescaped
    assert _pl.Path(path, "seg=x%3Ay").exists()  # colon is %XX-escaped
    batch = spark.createDataFrame(
        [(1, "a b", 0.0, "D"), (2, "x:y", 0.0, "D")],
        "id long, seg string, val double, op string",
    )
    merge_into_partitioned(spark, path, batch, ["id"], ["seg"], op_col="op")
    assert not _pl.Path(path, "seg=a b").exists()
    assert not _pl.Path(path, "seg=x%3Ay").exists()
    got = {r.id for r in spark.read.parquet(path).collect()}
    assert got == {3}


def test_null_partition_tombstone_does_not_destroy_siblings(spark, tmp_path):
    """A delete targeting ONE key in the NULL partition
    (__HIVE_DEFAULT_PARTITION__) must merge against that partition's
    live rows (null-safe pruning predicate) — with plain `=` the
    partition read back empty, was marked fully-deleted, and rmtree
    destroyed untargeted rows (review r9b)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "a", 30.0)],
        "id long, seg string, val double",
    ).write.partitionBy("seg").parquet(path)

    batch = spark.createDataFrame(
        [(1, None, 0.0, "D")], "id long, seg string, val double, op string"
    )
    merge_into_partitioned(spark, path, batch, ["id"], ["seg"], op_col="op")
    got = {r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {2: (None, 20.0), 3: ("a", 30.0)}
    # and a FULL delete of the NULL partition clears the right dir
    batch2 = spark.createDataFrame(
        [(2, None, 0.0, "D")], "id long, seg string, val double, op string"
    )
    merge_into_partitioned(spark, path, batch2, ["id"], ["seg"], op_col="op")
    import pathlib as _pl

    assert not _pl.Path(path, "seg=__HIVE_DEFAULT_PARTITION__").exists()
    assert {r.id for r in spark.read.parquet(path).collect()} == {3}

def test_merge_tombstone_null_op_upserts_instead_of_deleting(spark):
    """A CDC row with a NULL op must UPSERT its key, not silently
    tombstone it: `op != 'D'` evaluates to NULL for NULL ops and a
    NULL predicate drops the row (ADVICE r9)."""
    t = _target(spark)
    batch = spark.createDataFrame(
        [(2, 1, 77.0, None), (7, 5, 70.0, None)],
        "id long, day int, val double, op string",
    )
    got = {
        r.id: r.val
        for r in merge_upsert(t, batch, ["id"], op_col="op").collect()
    }
    assert got[2] == 77.0   # updated, NOT deleted
    assert got[7] == 70.0   # inserted
    assert len(got) == 6


def _publish(spark, path, df):
    """One whole-table snapshot version: a ``replace_where([])`` commit."""
    from market_etl_spark import lakehouse as lk

    t = lk.Transaction(path)
    t.replace_where(spark, [], df)
    t.commit()


def test_read_changes_cdf_shape_and_ivm_refresh(spark, tmp_path):
    """CDF over commit-log snapshot versions: per-step full-row change
    records in the Delta readChangeFeed shape, and the
    incremental-consumer contract — an aggregate refreshed FROM THE
    FEED equals the direct aggregate of the final snapshot."""
    from market_etl_spark.merge import read_changes

    path = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, g string, v double",
    )
    # v2: update id=1, delete id=2, insert id=4
    v2 = spark.createDataFrame(
        [(1, "a", 15.0), (3, "b", 30.0), (4, "b", 40.0)],
        "id long, g string, v double",
    )
    # v3: update id=4, insert id=5
    v3 = spark.createDataFrame(
        [(1, "a", 15.0), (3, "b", 30.0), (4, "b", 44.0), (5, "a", 50.0)],
        "id long, g string, v double",
    )
    for df in (v1, v2, v3):
        _publish(spark, path, df)

    feed = read_changes(spark, path, 1, 3, ["id"])
    got = {
        (r.id, r._commit_version, r._change_type): (r.g, r.v)
        for r in feed.collect()
    }
    assert got == {
        (1, 2, "update_preimage"): ("a", 10.0),
        (1, 2, "update_postimage"): ("a", 15.0),
        (2, 2, "delete"): ("a", 20.0),
        (4, 2, "insert"): ("b", 40.0),
        (4, 3, "update_preimage"): ("b", 40.0),
        (4, 3, "update_postimage"): ("b", 44.0),
        (5, 3, "insert"): ("a", 50.0),
    }

    # IVM: refresh a (g, sum(v), count) aggregate of v1 from the feed
    from pyspark.sql import functions as F2

    sign = F2.when(
        F2.col("_change_type").isin("insert", "update_postimage"), F2.lit(1)
    ).otherwise(F2.lit(-1))
    delta = feed.groupBy("g").agg(
        F2.sum(sign * F2.col("v")).alias("dv"),
        F2.sum(sign).alias("dn"),
    )
    base = v1.groupBy("g").agg(
        F2.sum("v").alias("sv"), F2.count(F2.lit(1)).alias("n")
    )
    refreshed = {
        (r.g): (r.sv, r.n)
        for r in base.join(delta, "g", "full_outer")
        .select(
            "g",
            (F2.coalesce("sv", F2.lit(0.0)) + F2.coalesce("dv", F2.lit(0.0))).alias("sv"),
            (F2.coalesce("n", F2.lit(0)) + F2.coalesce("dn", F2.lit(0))).alias("n"),
        )
        .collect()
    }
    direct = {
        r.g: (r.sv, r.n)
        for r in v3.groupBy("g")
        .agg(F2.sum("v").alias("sv"), F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    assert refreshed == direct


def test_read_changes_key_only_table(spark, tmp_path):
    """A membership table (no non-key columns) yields a pure
    insert/delete feed instead of crashing on an empty hash arg list
    (review r10)."""
    from market_etl_spark.merge import read_changes

    path = str(tmp_path / "store")
    _publish(spark, path, spark.createDataFrame([(1,), (2,)], "k long"))
    _publish(spark, path, spark.createDataFrame([(2,), (3,)], "k long"))
    got = {
        (r.k, r._change_type)
        for r in read_changes(spark, path, 1, 2, ["k"]).collect()
    }
    assert got == {(1, "delete"), (3, "insert")}
