"""File-level statistics, data skipping, Z-ORDER clustering and the
metadata-only DESCRIBE DETAIL over the commit log."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk
from market_etl_spark import lakehouse_checkpoint as lkc


def _ranged_table(spark, tmp_path, n=400, files=8):
    """One append per contiguous id range -> per-file min/max disjoint."""
    path = str(tmp_path / "t")
    chunk = n // files
    for i in range(files):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [
                    (j, j % 10, float(j), f"s{j % 5}")
                    for j in range(i * chunk, (i + 1) * chunk)
                ],
                "id long, k int, v double, s string",
            ).coalesce(1)
        )
        t.commit()
    return path


def test_add_actions_carry_footer_stats(spark, tmp_path):
    path = _ranged_table(spark, tmp_path, n=100, files=2)
    c = lk._read_commit(path, 1)
    adds = [a for a in c["actions"] if a["op"] == "add"]
    assert adds and all(a.get("stats") for a in adds)
    st = adds[0]["stats"]
    assert st["rows"] == 50 and st["bytes"] > 0
    assert st["cols"]["id"] == {"min": 0, "max": 49, "nulls": 0}
    assert st["cols"]["s"]["min"] == "s0"


def test_prune_is_metadata_only_and_sound(spark, tmp_path):
    path = _ranged_table(spark, tmp_path)
    v, kept, total = lk.prune_files(path, [("id", "<", 50)])
    assert total == 8 and len(kept) == 1
    # every op proves the right bound
    assert len(lk.prune_files(path, [("id", ">=", 350)])[1]) == 1
    assert len(lk.prune_files(path, [("id", "=", 199)])[1]) == 1
    assert len(lk.prune_files(path, [("id", "in", (10, 390))])[1]) == 2
    # conjunction: contradictory bounds prune everything
    assert lk.prune_files(path, [("id", "<", 50), ("id", ">", 350)])[1] == []
    # unknown column admits every file (errs open, never wrong)
    assert len(lk.prune_files(path, [("nope", "=", 1)])[1]) == 8


def test_pruned_read_equals_filtered_read(spark, tmp_path):
    path = _ranged_table(spark, tmp_path)
    full = lk.read_table(spark, path)
    for pred, col in [
        ([("id", "<", 50)], F.col("id") < 50),
        ([("id", ">=", 350)], F.col("id") >= 350),
        ([("v", "<=", 99.0)], F.col("v") <= 99.0),
        ([("id", ">", 100), ("id", "<=", 150)], (F.col("id") > 100) & (F.col("id") <= 150)),
    ]:
        got = {r.id for r in lk.read_table(spark, path, predicate=pred).collect()}
        want = {r.id for r in full.filter(col).collect()}
        assert got == want, pred


def test_pruned_read_all_files_skipped_yields_typed_empty(spark, tmp_path):
    path = _ranged_table(spark, tmp_path)
    df = lk.read_table(spark, path, predicate=[("id", ">", 10_000)])
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "k", "v", "s"]


def test_skipping_sound_under_deletion_vectors(spark, tmp_path):
    # a DV only shrinks a file's rows: stats stay a superset bound
    path = _ranged_table(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") % 2 == 0)
    t.commit()
    got = {r.id for r in lk.read_table(spark, path, predicate=[("id", "<", 50)]).collect()}
    assert got == {i for i in range(50) if i % 2 == 1}


def test_all_null_column_stats_prune_comparisons(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, None) for i in range(10)], "id long, x double"
        ).coalesce(1)
    )
    t.commit()
    # x is entirely NULL: no comparison can match -> file provably empty
    assert lk.prune_files(path, [("x", "=", 1.0)])[1] == []
    assert lk.read_table(spark, path, predicate=[("x", ">", 0.0)]).count() == 0


def test_timestamp_stats_prune(spark, tmp_path):
    path = str(tmp_path / "t")
    base = datetime.datetime(2026, 3, 1)
    for d in range(3):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(i, base + datetime.timedelta(days=d, minutes=i)) for i in range(20)],
                "id long, ts timestamp",
            ).coalesce(1)
        )
        t.commit()
    cut = base + datetime.timedelta(days=1)
    v, kept, total = lk.prune_files(path, [("ts", "<", cut)])
    assert (len(kept), total) == (1, 3)
    assert lk.read_table(spark, path, predicate=[("ts", "<", cut)]).count() == 20


def test_stats_survive_checkpoint_and_restore_and_clone(spark, tmp_path):
    path = _ranged_table(spark, tmp_path, n=100, files=4)
    lkc.write_parquet_checkpoint(path)
    t = lk.Transaction(path)
    t.append(spark.createDataFrame([(1000, 1, 1.0, "x")], "id long, k int, v double, s string"))
    t.commit()  # v5, replayed from the checkpoint
    assert len(lk.prune_files(path, [("id", "<", 25)])[1]) == 1
    # restore: stats carried from the historical add actions
    lk.restore_table(spark, path, 2)
    _v, kept, total = lk.prune_files(path, [("id", "<", 25)])
    assert (len(kept), total) == (1, 2)
    # clone: stats carried across roots (absolute file keys)
    dst = str(tmp_path / "c")
    lk.clone_table(path, dst)
    _v, kept, total = lk.prune_files(dst, [("id", "<", 25)])
    assert (len(kept), total) == (1, 2)
    assert lk.read_table(spark, dst, predicate=[("id", "<", 25)]).count() == 25


def test_table_detail_metadata_count(spark, tmp_path):
    path = _ranged_table(spark, tmp_path, n=200, files=4)
    d = lk.table_detail(path)
    assert d["rows_exact"] and d["n_rows"] == 200 and d["n_files"] == 4
    # a live DV demotes the count to an upper bound
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") < 10)
    t.commit()
    d2 = lk.table_detail(path)
    assert not d2["rows_exact"] and d2["n_rows"] == 200
    # compaction settles the vectors: exact again
    t = lk.Transaction(path)
    t.compact(spark, n_files=2)
    t.commit()
    d3 = lk.table_detail(path)
    assert d3["rows_exact"] and d3["n_rows"] == 190


def test_zorder_multi_column_skipping(spark, tmp_path):
    # id contiguous per file, u uniform everywhere: before zorder a u
    # predicate prunes nothing; after, BOTH columns prune
    path = str(tmp_path / "t")
    n, files = 4096, 8
    chunk = n // files
    for i in range(files):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(j, (j * 2654435761) % 1024, float(j)) for j in range(i * chunk, (i + 1) * chunk)],
                "id long, u long, v double",
            ).coalesce(1)
        )
        t.commit()
    assert len(lk.prune_files(path, [("u", "<", 256)])[1]) == files
    t = lk.Transaction(path)
    before, after = t.optimize_zorder(spark, ["id", "u"], n_files=16)
    t.commit()
    assert (before, after) == (8, 16)
    _, k_id, total = lk.prune_files(path, [("id", "<", n // 8)])
    _, k_u, _ = lk.prune_files(path, [("u", "<", 128)])
    assert len(k_id) < total and len(k_u) < total
    # results identical to the unclustered filter
    assert lk.read_table(spark, path, predicate=[("u", "<", 128)]).count() == \
        sum(1 for j in range(n) if (j * 2654435761) % 1024 < 128)
    assert lk.read_table(spark, path, predicate=[("id", "<", n // 8)]).count() == n // 8


def test_zorder_applies_deletion_vectors_and_feed_silent(spark, tmp_path):
    path = _ranged_table(spark, tmp_path, n=100, files=4)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id") >= 90)
    t.commit()
    t = lk.Transaction(path)
    t.optimize_zorder(spark, ["id", "k"], n_files=4)
    v = t.commit()
    assert lk.read_table(spark, path).count() == 90
    assert lk.snapshot(path).state.dv_added == set()  # vectors settled
    # dataChange=false: the feed emits nothing for the zorder commit
    assert lk.read_changes(spark, path, v - 1, v).count() == 0


def test_zorder_rejects_unknown_and_oversized(spark, tmp_path):
    path = _ranged_table(spark, tmp_path, n=40, files=2)
    t = lk.Transaction(path)
    with pytest.raises(ValueError, match="not in table schema"):
        t.optimize_zorder(spark, ["nope"])
    t2 = lk.Transaction(path)
    with pytest.raises(ValueError, match="bits"):
        t2.optimize_zorder(spark, ["id", "k"], bits=31)


def test_long_string_stats_dropped_not_wrong(spark, tmp_path):
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, "x" * 200) for i in range(5)], "id long, s string"
        ).coalesce(1)
    )
    t.commit()
    # over-long string: no stat for s (a truncated max is not a bound)
    c = lk._read_commit(path, 1)
    st = [a for a in c["actions"] if a["op"] == "add"][0]["stats"]
    assert "s" not in st["cols"] and "id" in st["cols"]
    # and skipping on s admits the file (errs open)
    assert len(lk.prune_files(path, [("s", "=", "x")])[1]) == 1


def test_stats_indexed_column_cap(spark, tmp_path):
    # only the first 32 schema-order columns are indexed (Delta's
    # dataSkippingNumIndexedCols): trailing columns carry no stats but
    # stay queryable — skipping just admits every file for them
    path = str(tmp_path / "t")
    cols = ", ".join(f"c{i} long" for i in range(40))
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [tuple(range(j, j + 40)) for j in range(10)], cols
        ).coalesce(1)
    )
    t.commit()
    st = [a for a in lk._read_commit(path, 1)["actions"] if a["op"] == "add"][0][
        "stats"
    ]
    assert len(st["cols"]) == 32
    assert "c0" in st["cols"] and "c39" not in st["cols"]
    # indexed column prunes; unindexed column admits (errs open)
    assert lk.prune_files(path, [("c0", ">", 1000)])[1] == []
    assert len(lk.prune_files(path, [("c39", ">", 10**9)])[1]) == 1
    assert (
        lk.read_table(spark, path, predicate=[("c39", ">", 10**9)]).count()
        == 0
    )


# --- incremental ZORDER (round 12, liquid-clustering posture) ---------


def _clustered_plus_debt(spark, tmp_path):
    """One big well-clustered generation + several small appends."""
    path = str(tmp_path / "lc")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(j, j % 50, float(j)) for j in range(20000)],
            "id long, k long, v double",
        ).repartition(4)
    )
    t.commit()
    t = lk.Transaction(path)
    t.optimize_zorder(spark, ["id", "k"], n_files=4)
    t.commit()
    for i in range(3):  # the small-file clustering debt
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(20000 + i * 100 + j, j % 50, float(j)) for j in range(100)],
                "id long, k long, v double",
            ).coalesce(1)
        )
        t.commit()
    return path


def test_incremental_zorder_spares_clustered_files(spark, tmp_path):
    path = _clustered_plus_debt(spark, tmp_path)
    live_before = set(lk.snapshot(path).adds())
    big = {f for f in live_before if f.startswith("data/zo-")}
    small = live_before - big
    assert len(big) == 4 and len(small) == 3
    t = lk.Transaction(path)
    rewritten, added = t.optimize_zorder_incremental(
        spark, ["id", "k"], target_bytes=16 << 10
    )
    t.commit()
    assert rewritten == 3 and added >= 1
    live_after = set(lk.snapshot(path).adds())
    assert big <= live_after            # clustered files SURVIVE BY NAME
    assert not (small & live_after)     # the debt is gone
    # the logical row set is unchanged
    assert lk.read_table(spark, path).count() == 20300
    # the change feed stays silent for the maintenance commit
    v = lk.latest_commit(path)
    assert lk.read_changes(spark, path, v - 1, v).count() == 0


def test_incremental_zorder_skipping_contract(spark, tmp_path):
    path = _clustered_plus_debt(spark, tmp_path)
    t = lk.Transaction(path)
    t.optimize_zorder_incremental(spark, ["id", "k"], target_bytes=16 << 10)
    t.commit()
    # new-generation rows live in zi- files with TIGHT id bounds:
    # a predicate inside the debt's id range opens no zo- file
    pred = [("id", ">=", 20000)]
    _v, kept, total = lk.prune_files(path, pred)
    assert kept and all(f.startswith("data/zi-") for f in kept)
    got = lk.read_table(spark, path, predicate=pred)
    assert got.count() == 300
    # ... and a pruned read equals the full filtered read
    exp = lk.read_table(spark, path).filter("id >= 20000")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_incremental_zorder_applies_dvs_and_noops(spark, tmp_path):
    path = _clustered_plus_debt(spark, tmp_path)
    t = lk.Transaction(path)
    t.delete_where_mor(spark, F.col("id").between(20000, 20049))
    t.commit()
    t = lk.Transaction(path)
    rewritten, _added = t.optimize_zorder_incremental(
        spark, ["id", "k"], target_bytes=16 << 10
    )
    t.commit()
    assert rewritten == 3
    # moved rows escaped their position-keyed vector without
    # resurrecting the delete
    assert lk.read_table(spark, path).count() == 20250
    # nothing small left: the next incremental pass is a no-op
    t = lk.Transaction(path)
    assert t.optimize_zorder_incremental(
        spark, ["id", "k"], target_bytes=1 << 10
    ) == (0, 0)


# --- property: skipping soundness under arbitrary typed bounds --------


def test_stats_admit_never_prunes_a_matching_file_property(spark, tmp_path):
    """THE skipping soundness invariant, property-tested: for a file
    with REAL footer stats and any supported predicate, if some row
    matches under Spark comparison semantics (incl. date->timestamp
    midnight promotion), the file must be admitted.  Pruning a
    matching file silently drops rows; admitting a non-matching one
    only costs I/O."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings, strategies as st

    def dtv(y, m, d, h):
        return dt.datetime(2020 + y, 1 + m, 1 + d, h)

    values = st.one_of(
        st.integers(-50, 50),
        st.builds(lambda a, b, c: dt.date(2020 + a, 1 + b, 1 + c),
                  st.integers(0, 3), st.integers(0, 11), st.integers(0, 27)),
        st.builds(dtv, st.integers(0, 3), st.integers(0, 11),
                  st.integers(0, 27), st.integers(0, 23)),
    )

    @settings(max_examples=60, deadline=None)
    @given(
        col_kind=st.sampled_from(["int", "date", "ts"]),
        rows=st.lists(st.integers(-40, 40), min_size=1, max_size=6),
        op=st.sampled_from(["=", "<", "<=", ">", ">=", "in"]),
        probe=values,
    )
    def check(col_kind, rows, op, probe):
        if col_kind == "int":
            data = rows
            typ, pytyp = pa.int64(), int
        elif col_kind == "date":
            data = [dt.date(2021, 6, 15) + dt.timedelta(days=r) for r in rows]
            typ, pytyp = pa.date32(), dt.date
        else:
            data = [
                dt.datetime(2021, 6, 15, 12) + dt.timedelta(hours=r)
                for r in rows
            ]
            typ, pytyp = pa.timestamp("us"), dt.datetime
        f = tmp_path / "prop.parquet"
        pq.write_table(pa.table({"x": pa.array(data, typ)}), str(f))
        st_ = lk._file_stats(f)
        value = [probe] if op == "in" else probe

        def promote(v):
            # Spark comparison semantics: date vs datetime promotes the
            # date to that day's midnight timestamp
            if isinstance(v, dt.datetime):
                return v
            if isinstance(v, dt.date):
                return dt.datetime(v.year, v.month, v.day)
            return v

        def matches(cell, v):
            if isinstance(cell, (dt.date, dt.datetime)) != isinstance(
                v, (dt.date, dt.datetime)
            ):
                return False  # int vs temporal never compares
            if isinstance(cell, (dt.date, dt.datetime)):
                cell, v = promote(cell), promote(v)
            if op == "=":
                return cell == v
            if op == "<":
                return cell < v
            if op == "<=":
                return cell <= v
            if op == ">":
                return cell > v
            if op == ">=":
                return cell >= v
            return cell == v  # "in" with one key

        if any(matches(c, probe) for c in data):
            assert lk._stats_admit(st_, "x", op, value), (
                col_kind, rows, op, probe,
            )

    check()


def test_string_column_with_date_shaped_values_never_promoted(spark, tmp_path):
    """ADVICE r12 (medium): date->midnight promotion must key on the
    PREDICATE value's Python type, never on string shape — a genuine
    STRING column whose footer bounds look like dates compares
    lexicographically in Spark, and promoting its bounds would prune
    files whose raw strings satisfy the predicate."""
    import datetime as dt

    path = str(tmp_path / "strdates")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(1, "2024-01-02"), (2, "2024-01-05")], "id long, s string"
        ).coalesce(1)
    )
    t.commit()
    # the advice's exact reproduction: a datetime-SHAPED string value
    # against date-shaped string bounds — lexicographically the rows
    # match ('2024-01-02' < '2024-01-02T00'); promotion pruned them
    assert lk._stats_admit(
        {"rows": 1, "cols": {"s": {"min": "2024-01-02",
                                   "max": "2024-01-02", "nulls": 0}}},
        "s", "<", "2024-01-02T00",
    )
    _v, kept, total = lk.prune_files(path, [("s", "<", "2024-01-02T00")])
    assert len(kept) == total == 1
    got = lk.read_table(
        spark, path, predicate=[("s", "<", "2024-01-02T00")]
    ).collect()
    assert [r.id for r in got] == [1]
    # real temporal predicates still promote (the r11 soundness fix):
    # a date column's bounds vs a datetime probe on the boundary day
    assert lk._stats_admit(
        {"rows": 1, "cols": {"d": {"min": "2024-01-02",
                                   "max": "2024-01-02", "nulls": 0}}},
        "d", "<=", dt.datetime(2024, 1, 2, 0, 0, 0),
    )
    # and 'in' membership follows the same per-key rule
    assert lk._stats_admit(
        {"rows": 1, "cols": {"s": {"min": "2024-01-02",
                                   "max": "2024-01-02", "nulls": 0}}},
        "s", "in", ["2024-01-01T23", "zzz"],
    )
    assert not lk._stats_admit(
        {"rows": 1, "cols": {"x": {"min": 5, "max": 9, "nulls": 0}}},
        "x", "in", [1, 2],
    )


def test_string_skipping_soundness_property(spark, tmp_path):
    """Property twin of the typed-column soundness test for STRING
    columns (ADVICE r12): for arbitrary strings — including ISO-
    date/datetime-SHAPED ones — _stats_admit must never prune a file
    that contains a row matching the predicate under Spark's
    lexicographic string comparison."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings, strategies as st

    iso_ish = st.one_of(
        st.sampled_from(
            ["2024-01-02", "2024-01-02T00", "2024-01-02T00:00:00",
             "2024-12-31", "1999-05-05T23:59:59", ""]
        ),
        st.text(
            alphabet="0123456789-T:abz", min_size=0, max_size=24
        ),
    )

    @settings(max_examples=80, deadline=None)
    @given(
        rows=st.lists(iso_ish, min_size=1, max_size=5),
        op=st.sampled_from(["=", "<", "<=", ">", ">=", "in"]),
        probe=iso_ish,
    )
    def check(rows, op, probe):
        f = tmp_path / "strprop.parquet"
        pq.write_table(pa.table({"x": pa.array(rows, pa.string())}), str(f))
        st_ = lk._file_stats(f)
        value = [probe] if op == "in" else probe
        py_op = {
            "=": lambda a, b: a == b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
            "in": lambda a, b: a in b,
        }[op]
        if any(py_op(r, probe if op != "in" else value) for r in rows):
            assert lk._stats_admit(st_, "x", op, value), (
                rows, op, probe, st_,
            )

    check()
