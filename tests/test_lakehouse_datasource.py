"""The lakehouse as a registered Spark Python DataSource (round 12):
batch snapshot/time-travel/pushdown parity with read_table, streaming
with commit-version offsets in Spark's own checkpoint, CDF parity
with read_changes, and the distributed Arrow writer."""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk
from market_etl_spark import lakehouse_datasource as lds


@pytest.fixture(autouse=True)
def _registered(spark):
    lds.register(spark)
    yield


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _table(spark, tmp_path, n_commits=3, chunk=10):
    path = str(tmp_path / "t")
    for i in range(n_commits):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [
                    (i * chunk + j, float(j), f"s{j % 3}")
                    for j in range(chunk)
                ],
                "id long, v double, s string",
            ).coalesce(1)
        )
        t.commit()
    return path


# --------------------------------------------------------------- batch


def test_batch_read_parity(spark, tmp_path):
    path = _table(spark, tmp_path)
    got = spark.read.format("lakehouse").load(path)
    exp = lk.read_table(spark, path)
    assert got.schema == exp.schema
    assert _rows(got) == _rows(exp)


def test_batch_version_and_timestamp(spark, tmp_path):
    path = _table(spark, tmp_path)
    for v in (1, 2, 3):
        got = spark.read.format("lakehouse").option("version", v).load(path)
        assert _rows(got) == _rows(lk.read_table(spark, path, version=v))
    import json, pathlib

    body = json.loads(
        (pathlib.Path(path) / lk._LOG_DIR / "00000002.json").read_text()
    )
    ts = float(body["ts"])
    got = spark.read.format("lakehouse").option("timestamp", ts).load(path)
    assert _rows(got) == _rows(lk.read_table(spark, path, version=2))
    with pytest.raises(Exception, match="version OR timestamp"):
        spark.read.format("lakehouse").option("version", 1).option(
            "timestamp", ts
        ).load(path).collect()


def test_batch_subtracts_deletion_vectors(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") % 7 == 0)
    t.commit()
    t = lk.Transaction(path)
    t.update_where_mor(spark, F.col("id") == 1, {"v": F.lit(99.5)})
    t.commit()
    got = spark.read.format("lakehouse").load(path)
    exp = lk.read_table(spark, path)
    assert _rows(got) == _rows(exp)
    assert got.filter("id = 1").collect()[0].v == 99.5


def test_batch_pushdown_prunes_files_not_results(spark, tmp_path):
    path = _table(spark, tmp_path)  # 3 files, disjoint id ranges
    exp = lk.read_table(spark, path)
    got = lambda: spark.read.format("lakehouse").load(path)  # noqa: E731
    for cond in ("id < 5", "id >= 25", "id = 12", "id in (1, 21)",
                 "id < 5 and v > 1.0", "s = 's1'"):
        assert _rows(got().filter(cond)) == _rows(exp.filter(cond)), cond
    # contradiction prunes EVERYTHING -> zero partitions, empty result
    assert got().filter("id < 0").count() == 0
    # the pushed plan really opens fewer files: capture partitions
    reader = lds._LakehouseBatchReader({"path": path}, got().schema)
    from pyspark.sql.datasource import LessThan

    reader.pushFilters([LessThan(("id",), 5)])
    assert len(reader.partitions()) == 1  # of 3 live files


def test_batch_column_mapped_and_evolved_table(spark, tmp_path):
    path = _table(spark, tmp_path, n_commits=2)
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 1.5, "s9", 7)], "id long, val double, s string, extra long"
        ),
        evolve_schema=True,
    )
    t.commit()
    got = spark.read.format("lakehouse").load(path)
    exp = lk.read_table(spark, path)
    assert got.columns == exp.columns == ["id", "val", "s", "extra"]
    assert _rows(got) == _rows(exp)
    # pre-evolution rows surface extra as NULL
    assert got.filter("id < 100 and extra is null").count() == 20


def test_batch_temporal_types_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tt")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [
                (dt.date(2024, 1, d), dt.datetime(2024, 1, d, 12, 30), float(d))
                for d in range(1, 6)
            ],
            "day date, ts timestamp, v double",
        ).coalesce(1)
    )
    t.commit()
    got = spark.read.format("lakehouse").load(path)
    exp = lk.read_table(spark, path)
    assert got.schema == exp.schema
    assert _rows(got) == _rows(exp)
    # datetime-vs-date pushdown stays sound (ADVICE r11 shape)
    cond = F.col("day") == F.lit(dt.datetime(2024, 1, 5))
    assert _rows(got.filter(cond)) == _rows(exp.filter(cond))


# -------------------------------------------------------------- stream


def _tail(spark, path, ck, tmp_path, **opts):
    got = []
    r = spark.readStream.format("lakehouse")
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load(path)
        .writeStream.foreachBatch(
            lambda df, bid: got.extend(map(tuple, df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return got


def test_stream_tail_resumes_from_spark_checkpoint(spark, tmp_path):
    path = _table(spark, tmp_path)
    first = _tail(spark, path, "ck", tmp_path)
    assert len(first) == 30
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(100, 0.0, "x")], "id long, v double, s string")
    )
    t.commit()
    # SAME checkpoint -> only the new commit replays; the offset lived
    # in Spark's checkpoint, not in any consumer-side state
    second = _tail(spark, path, "ck", tmp_path)
    assert [r[0] for r in second] == [100]
    # a FRESH checkpoint starts over from version 0
    assert len(_tail(spark, path, "ck_fresh", tmp_path)) == 31


def test_stream_tail_rejects_and_skips_change_commits(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 3)
    t.commit()
    with pytest.raises(Exception, match="changes existing rows"):
        _tail(spark, path, "ck_err", tmp_path)
    got = _tail(spark, path, "ck_skip", tmp_path, skipChangeCommits="true")
    assert len(got) == 30  # appends only; the delete commit skipped


def test_stream_tail_ignores_data_neutral_maintenance(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.optimize_zorder(spark, ["id"], n_files=2)
    t.commit()
    got = _tail(spark, path, "ck_z", tmp_path)
    assert len(got) == 30  # compaction emits nothing, raises nothing


def test_stream_cdf_parity_with_read_changes(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.enable_cdf()
    t.commit()
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") % 7 == 0)
    t.commit()
    t = lk.Transaction(path)
    t.update_where_mor(spark, F.col("id") == 8, {"v": F.lit(-1.0)})
    t.commit()
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 11)  # CoW under CDF
    t.commit()
    got = _tail(spark, path, "ck_cdf", tmp_path, readChangeFeed="true")
    exp = lk.read_changes(spark, path, 0, lk.latest_commit(path))
    assert _rows(spark.createDataFrame(got, exp.schema)) == _rows(exp)
    kinds = Counter(r[-2] for r in got)
    assert kinds["delete"] >= 5 and kinds["update_preimage"] == 1
    assert kinds["update_postimage"] == 1


def test_stream_cdf_rejects_unreplayable_commits(spark, tmp_path):
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 1)  # CoW, CDF never enabled
    t.commit()
    with pytest.raises(Exception, match="no recorded change data"):
        _tail(spark, path, "ck_now", tmp_path, readChangeFeed="true")
    clone = str(tmp_path / "clone")
    lk.clone_table(path, clone)
    with pytest.raises(Exception, match="clone"):
        _tail(spark, clone, "ck_cl", tmp_path, readChangeFeed="true")


def test_stream_starting_version_and_rate_bound(spark, tmp_path):
    path = _table(spark, tmp_path)  # 3 commits x 10 rows
    got = _tail(spark, path, "ck_sv", tmp_path, startingVersion="2")
    assert len(got) == 10  # only commit 3
    # maxCommitsPerBatch bounds EVERY planned batch — including the
    # FIRST of a fresh stream (Spark calls latestOffset before
    # initialOffset, so the cap base falls back to startingVersion —
    # ADVICE r13) and the first after a clean restart (Spark re-plans
    # the restored batch, seeding the base with the checkpointed
    # position).  Under availableNow's single-snapshot downgrade each
    # run therefore advances exactly one commit.
    per_run = [
        len(_tail(spark, path, "ck_rate", tmp_path, maxCommitsPerBatch="1"))
        for _ in range(3)
    ]
    assert per_run == [10, 10, 10]


def test_stream_expired_version_raises_rebootstrap(spark, tmp_path):
    path = _table(spark, tmp_path)
    lk.expire_versions(path, 3)
    with pytest.raises(Exception, match="re-bootstrap"):
        _tail(spark, path, "ck_exp", tmp_path, startingVersion="1")


# -------------------------------------------------------------- writer


def test_writer_append_parity_and_distributed_stats(spark, tmp_path):
    path = str(tmp_path / "w")
    src = spark.createDataFrame(
        [(j, float(j), f"s{j % 3}") for j in range(40)],
        "id long, v double, s string",
    ).repartition(4)
    src.write.format("lakehouse").mode("append").save(path)
    src.write.format("lakehouse").mode("append").save(path)
    got = lk.read_table(spark, path)
    assert got.count() == 80
    assert lk.latest_commit(path) == 2
    # every add action carries executor-computed footer stats
    for v in (1, 2):
        c = lk._read_commit(path, v)
        adds = [a for a in c["actions"] if a["op"] == "add"]
        assert adds and all(a.get("stats") for a in adds)
        assert {a["stats"]["rows"] for a in adds} and sum(
            a["stats"]["rows"] for a in adds
        ) == 40
    # ... and data skipping works on writer-landed files
    _v, kept, total = lk.prune_files(path, [("id", "<", 0)])
    assert kept == [] and total > 0
    # the datasource read composes with the datasource write
    assert (
        spark.read.format("lakehouse").load(path).count() == 80
    )


def test_writer_schema_gate_and_refusals(spark, tmp_path):
    path = str(tmp_path / "w")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.format(
        "lakehouse"
    ).mode("append").save(path)
    with pytest.raises(Exception, match="!= table schema"):
        spark.createDataFrame([(1, "x")], "id long, v string").write.format(
            "lakehouse"
        ).mode("append").save(path)
    with pytest.raises(Exception, match="append.*only|overwrite"):
        spark.createDataFrame([(1, 1.0)], "id long, v double").write.format(
            "lakehouse"
        ).mode("overwrite").save(path)
    assert lk.read_table(spark, path).count() == 1  # nothing leaked
    ident = str(tmp_path / "ident")
    t = lk.Transaction(ident)
    t.set_identity_column("rid")
    t.commit()
    with pytest.raises(Exception, match="identity"):
        spark.createDataFrame([(1,)], "x long").write.format(
            "lakehouse"
        ).mode("append").save(ident)


def test_writer_failed_write_leaves_no_debris_visible(spark, tmp_path):
    path = str(tmp_path / "w")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.format(
        "lakehouse"
    ).mode("append").save(path)
    try:
        spark.createDataFrame([(2, 2.0)], "a long, b double").write.format(
            "lakehouse"
        ).mode("append").save(path)
    except Exception:
        pass
    # the rejected write's staged files are never referenced by the log
    assert lk.read_table(spark, path).count() == 1
    assert lk.latest_commit(path) == 1


def test_relation_reuse_quirk_is_sparks(spark, tmp_path):
    """Spark caches a Python data source relation's planned scan on
    the loaded DataFrame OBJECT: a filterless action after a filtered
    one reuses the filter-pruned plan.  This pins the quirk (so a
    Spark fix is noticed) and the safe pattern: one load() per
    logical query always agrees with the engine read."""
    path = _table(spark, tmp_path)
    stale = spark.read.format("lakehouse").load(path)
    assert stale.count() == 30
    assert stale.filter("id < 5").count() == 5
    # the quirk: the SAME object, now filterless, replays the pruned
    # plan (one file).  If this ever returns 30, Spark fixed the
    # caching — drop the fresh-load guidance from the module docs.
    assert stale.count() in (10, 30)
    # the safe pattern is always correct
    assert spark.read.format("lakehouse").load(path).count() == 30


# -------------------------------------------------------- stream sink


def _replicate(spark, src, dst, ck):
    q = (
        spark.readStream.format("lakehouse")
        .load(src)
        .writeStream.format("lakehouse")
        .option("txnAppId", "replica")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(dst)
    )
    q.awaitTermination()


def test_stream_sink_exactly_once_replication(spark, tmp_path):
    """lakehouse -> lakehouse through the registered format on BOTH
    ends: the sink commits each epoch under (txnAppId, batchId), so a
    rewound checkpoint replays the same epoch and the log dedupes."""
    src = _table(spark, tmp_path)
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    ck_copy = str(tmp_path / "ck_copy")
    _replicate(spark, src, dst, ck)
    assert lk.read_table(spark, dst).count() == 30
    v1 = lk.latest_commit(dst)
    import shutil

    shutil.copytree(ck, ck_copy)
    t = lk.Transaction(src)
    t.append(
        spark.createDataFrame([(100, 0.0, "x")], "id long, v double, s string")
    )
    t.commit()
    _replicate(spark, src, dst, ck)
    assert lk.read_table(spark, dst).count() == 31
    v2 = lk.latest_commit(dst)
    assert v2 == v1 + 1
    # the crash: rewind to the pre-delta checkpoint and replay — the
    # epoch re-runs, its txn identity already landed, nothing doubles
    shutil.rmtree(ck)
    shutil.copytree(ck_copy, ck)
    _replicate(spark, src, dst, ck)
    assert lk.read_table(spark, dst).count() == 31
    assert lk.latest_commit(dst) == v2
    # no staging debris survived the deduped replay
    import pathlib as pl

    live = set(lk.snapshot(dst).adds())
    on_disk = {
        f"data/{p.name}" for p in (pl.Path(dst) / "data").glob("*.parquet")
    }
    assert on_disk == live
    # replica rows equal the source exactly
    assert _rows(lk.read_table(spark, dst)) == _rows(
        lk.read_table(spark, src)
    )


def test_stream_sink_refuses_validated_tables(spark, tmp_path):
    src = _table(spark, tmp_path)
    ident = str(tmp_path / "ident")
    t = lk.Transaction(ident)
    t.set_identity_column("rid")
    t.commit()
    with pytest.raises(Exception, match="identity"):
        _replicate(spark, src, ident, str(tmp_path / "ck_i"))


def test_stream_idle_run_is_clean(spark, tmp_path):
    """An availableNow run against an UP-TO-DATE table must complete
    with zero rows — the engine probes the no-advance read() result
    with next(), which a bare list broke (round-12 regression)."""
    path = _table(spark, tmp_path)
    assert len(_tail(spark, path, "ck_idle", tmp_path)) == 30
    assert _tail(spark, path, "ck_idle", tmp_path) == []
    assert _tail(spark, path, "ck_idle", tmp_path) == []


def test_file_uri_path_normalizes(spark, tmp_path):
    path = _table(spark, tmp_path)
    got = spark.read.format("lakehouse").load(f"file:{path}")
    assert got.count() == 30
    assert lds._options_path({"path": f"file://{path}"}) == path


def test_batch_cdf_read_matches_read_changes(spark, tmp_path):
    """Batch readChangeFeed (Delta's startingVersion/endingVersion
    mode): one InputPartition per commit, each derived executor-side —
    row-identical to lakehouse.read_changes on the same range."""
    path = _table(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") % 7 == 0)
    t.commit()
    got = (
        spark.read.format("lakehouse")
        .option("readChangeFeed", "true")
        .load(path)
    )
    exp = lk.read_changes(spark, path, 0, lk.latest_commit(path))
    assert got.columns == exp.columns
    assert _rows(got) == _rows(exp)
    ranged = (
        spark.read.format("lakehouse")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .option("endingVersion", "3")
        .load(path)
    )
    assert _rows(ranged) == _rows(lk.read_changes(spark, path, 2, 3))
    # empty range -> empty frame, correct schema
    empty = (
        spark.read.format("lakehouse")
        .option("readChangeFeed", "true")
        .option("startingVersion", str(lk.latest_commit(path)))
        .load(path)
    )
    assert empty.count() == 0 and empty.columns == exp.columns


def test_concurrent_datasource_writers_both_commit(spark, tmp_path):
    """Two racing format-writer appends commute (appends never
    conflict under the log) — both land, nothing lost."""
    import threading

    path = str(tmp_path / "w")
    spark.createDataFrame([(0, 0.0)], "id long, v double").write.format(
        "lakehouse"
    ).mode("append").save(path)
    errs = []

    def put(lo):
        try:
            spark.createDataFrame(
                [(lo + j, float(j)) for j in range(10)], "id long, v double"
            ).write.format("lakehouse").mode("append").save(path)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=put, args=(100,)),
          threading.Thread(target=put, args=(200,))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert lk.read_table(spark, path).count() == 21
    assert lk.latest_commit(path) == 3


def test_writer_merge_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "w")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.format(
        "lakehouse"
    ).mode("append").save(path)
    wide = spark.createDataFrame([(2, 2.0, "x")], "id long, v double, s string")
    with pytest.raises(Exception, match="mergeSchema"):
        wide.write.format("lakehouse").mode("append").save(path)
    wide.write.format("lakehouse").mode("append").option(
        "mergeSchema", "true"
    ).save(path)
    got = lk.read_table(spark, path)
    assert got.columns == ["id", "v", "s"]
    assert _rows(got) == [(1, 1.0, None), (2, 2.0, "x")]
    # the evolved table reads through the registered source too
    assert _rows(spark.read.format("lakehouse").load(path)) == _rows(got)
    # reordered/renamed existing columns still refuse, merge or not
    with pytest.raises(Exception, match="!= table schema"):
        spark.createDataFrame(
            [(1.0, 3, "y", 0)], "v double, id long, s string, n long"
        ).write.format("lakehouse").mode("append").option(
            "mergeSchema", "true"
        ).save(path)


def test_stream_aligns_pre_evolution_commits(spark, tmp_path):
    """A stream started AFTER a schema evolution replays the OLD
    commits aligned to the current schema (typed NULLs, renames via
    physical names) — read_changes' aligned-to-v_to contract."""
    path = _table(spark, tmp_path, n_commits=2)
    t = lk.Transaction(path)
    t.rename_column("v", "val")
    t.commit()
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 1.5, "s9", 7)], "id long, val double, s string, extra long"
        ),
        evolve_schema=True,
    )
    t.commit()
    got = _tail(spark, path, "ck_evo", tmp_path)
    assert len(got) == 21
    exp = lk.read_changes(spark, path, 0, lk.latest_commit(path))
    cdf = _tail(spark, path, "ck_evo2", tmp_path, readChangeFeed="true")
    assert sorted(cdf) == _rows(exp)


def test_stream_fails_on_mid_tail_evolution(spark, tmp_path):
    """An evolution landing AFTER the stream resolved its schema
    carries a column the fixed schema cannot represent — the LIVE
    reader fails with restart guidance (Delta's streaming
    schema-change behavior); a restarted stream (fresh schema
    resolution over the same checkpoint) replays it fine."""
    path = _table(spark, tmp_path)
    assert len(_tail(spark, path, "ck_mid", tmp_path)) == 30
    # a LIVE reader whose schema was fixed before the evolution
    live = lds._LakehouseStreamReader(
        {"path": path},
        spark.read.format("lakehouse").load(path).schema,
    )
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 0.0, "x", 1)], "id long, v double, s string, n long"
        ),
        evolve_schema=True,
    )
    t.commit()
    latest = lk.latest_commit(path)
    with pytest.raises(ValueError, match="cannot represent"):
        live.partitions({"v": latest - 1}, {"v": latest})
    # a restarted stream on the SAME checkpoint resolves the evolved
    # schema and replays the commit (old offsets carried forward)
    got = _tail(spark, path, "ck_mid", tmp_path)
    assert len(got) == 1 and len(got[0]) == 4
    # ... and a fresh checkpoint replays everything, null-filled
    got = _tail(spark, path, "ck_mid_new", tmp_path)
    assert len(got) == 31 and len(got[0]) == 4


def test_stream_sink_races_direct_append(spark, tmp_path):
    """The replication sink's epoch commit and a DIRECT
    Transaction.append on the destination race: appends commute under
    the log, so both land and nothing is lost."""
    import threading

    src = _table(spark, tmp_path)
    dst = str(tmp_path / "dst")
    spark.createDataFrame(
        [(1000, 0.0, "seed")], "id long, v double, s string"
    ).write.format("lakehouse").mode("append").save(dst)
    errs = []

    def direct():
        try:
            for i in range(3):
                t = lk.Transaction(dst)
                t.append(
                    spark.createDataFrame(
                        [(2000 + i, 1.0, "d")], "id long, v double, s string"
                    )
                )
                t.commit()
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = threading.Thread(target=direct)
    th.start()
    _replicate(spark, src, dst, str(tmp_path / "ck_race"))
    th.join()
    assert not errs
    got = lk.read_table(spark, dst)
    assert got.count() == 30 + 1 + 3
    assert got.filter("id >= 2000").count() == 3  # direct rows survived
    assert got.filter("id < 100").count() == 30   # replica complete


def test_batch_reader_refuses_second_plan(spark, tmp_path):
    """ADVICE r12: Spark plans a Python-source scan once per load();
    a second plan on one reader is a caller bug and must raise."""
    path = _table(spark, tmp_path)
    reader = lds._LakehouseBatchReader(
        {"path": path}, spark.read.format("lakehouse").load(path).schema
    )
    assert len(reader.partitions()) == 3
    with pytest.raises(RuntimeError, match="planned twice"):
        reader.partitions()


def test_stream_fans_out_per_file_and_yields_arrow(spark, tmp_path):
    """Round 13: the stream reader plans one InputPartition PER FILE
    of each commit (a backfill-scale commit reads with cluster
    parallelism) and read() yields Arrow record batches — rows never
    materialize as Python tuples, on the driver or anywhere."""
    import pyarrow as pa

    path = _table(spark, tmp_path)  # 3 commits x 1 file
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(200 + j, float(j), "b") for j in range(40)],
            "id long, v double, s string",
        ).repartition(4)  # the backfill-shaped commit: many files
    )
    t.commit()
    schema = spark.read.format("lakehouse").load(path).schema
    r = lds._LakehouseStreamReader({"path": path}, schema)
    parts = r.partitions({"v": 0}, {"v": lk.latest_commit(path)})
    assert len(parts) == 3 + 4  # per FILE, not per commit
    assert {p.version for p in parts} == {1, 2, 3, 4}
    batches = list(r.read(parts[-1]))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    # CDF slices carry the tag columns as Arrow arrays
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") == 201)
    t.commit()
    rc = lds._LakehouseStreamReader(
        {"path": path, "readChangeFeed": "true"},
        spark.read.format("lakehouse").option("readChangeFeed", "true")
        .option("startingVersion", 0).load(path).schema,
    )
    v = lk.latest_commit(path)
    dparts = rc.partitions({"v": v - 1}, {"v": v})
    dbatches = [b for p in dparts for b in rc.read(p)]
    assert dbatches
    cols = dbatches[0].schema.names
    assert cols[-2:] == ["_change_type", "_commit_version"]
    assert dbatches[0].column("_change_type").to_pylist() == ["delete"]
    # end-to-end: the full tail equals the table snapshot at v-1
    got = _tail(spark, path, "ck_perfile", tmp_path,
                skipChangeCommits="true")
    assert len(got) == 70


def test_cdf_batch_pushdown_prunes_commit_range(spark, tmp_path):
    """Round 13: _commit_version predicates tighten the CDF batch
    reader's commit range at plan time — same results as the residual
    filter, fewer commits derived."""
    path = _table(spark, tmp_path)  # v1-3
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") == 1)
    t.commit()  # v4
    load = lambda: (  # noqa: E731
        spark.read.format("lakehouse")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .load(path)
    )
    full = load().collect()
    for cond in ("_commit_version >= 3", "_commit_version = 2",
                 "_commit_version < 3", "_commit_version in (1, 4)",
                 "_commit_version > 2 and _change_type = 'delete'"):
        got = sorted(map(tuple, load().filter(cond).collect()))
        # expectation recomputed relationally from the FULL feed
        want = sorted(
            map(tuple, spark.createDataFrame(
                full, load().schema
            ).filter(cond).collect())
        )
        assert got == want, cond
    # the plan really shrinks: reader-level partition counts
    schema = load().schema
    from pyspark.sql.datasource import GreaterThanOrEqual

    r_all = lds._LakehouseCDFBatchReader(
        {"path": path, "startingVersion": "0"}, schema
    )
    n_all = len(r_all.partitions())
    r_cut = lds._LakehouseCDFBatchReader(
        {"path": path, "startingVersion": "0"}, schema
    )
    r_cut.pushFilters([GreaterThanOrEqual(("_commit_version",), 4)])
    assert (r_cut.start, r_cut.end) == (3, 4)
    assert 0 < len(r_cut.partitions()) < n_all


def test_stream_add_column_mid_tail_guard(spark, tmp_path):
    """A data-less ALTER TABLE ADD COLUMN landing after the stream
    fixed its schema is still a column the fixed schema cannot
    represent — partitions() must fail with restart guidance once a
    data file carries it."""
    from market_etl_spark.lakehouse_sql import run_sql

    path = _table(spark, tmp_path)
    live = lds._LakehouseStreamReader(
        {"path": path},
        spark.read.format("lakehouse").load(path).schema,
    )
    run_sql(
        spark, f"ALTER TABLE lakehouse.`{path}` ADD COLUMN (note string)"
    )
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 0.0, "x", "n")], "id long, v double, s string, "
            "note string"
        )
    )
    t.commit()
    latest = lk.latest_commit(path)
    with pytest.raises(ValueError, match="cannot represent"):
        live.partitions({"v": latest - 2}, {"v": latest})
    # a fresh stream resolves the evolved schema and reads everything
    got = _tail(spark, path, "ck_addcol", tmp_path)
    assert len(got) == 31 and len(got[0]) == 4


def test_stream_starting_timestamp(spark, tmp_path):
    """Delta's startingTimestamp: the stream emits every commit
    stamped AT or AFTER the timestamp; predating the table reads from
    the beginning; exclusive with startingVersion."""
    path = str(tmp_path / "ts")
    for i, cts in enumerate((100.0, 200.0, 300.0)):
        t = lk.Transaction(path, commit_ts=cts)
        t.append(
            spark.createDataFrame(
                [(i, float(i), "x")], "id long, v double, s string"
            )
        )
        t.commit()
    got = _tail(spark, path, "ck_ts1", tmp_path, startingTimestamp="200")
    assert sorted(r[0] for r in got) == [1, 2]  # at-or-after 200
    got = _tail(spark, path, "ck_ts2", tmp_path, startingTimestamp="50")
    assert sorted(r[0] for r in got) == [0, 1, 2]  # before history: all
    got = _tail(spark, path, "ck_ts3", tmp_path, startingTimestamp="999")
    assert got == []  # after everything: nothing yet
    with pytest.raises(Exception, match="not both"):
        _tail(
            spark, path, "ck_ts4", tmp_path,
            startingTimestamp="200", startingVersion="1",
        )
