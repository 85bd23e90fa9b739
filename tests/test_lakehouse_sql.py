"""SQL-text DML router (round 12): every statement shape routed to
the transaction API, equivalence with the Python-API twin, and loud
rejection of anything outside the grammar."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from market_etl_spark import lakehouse as lk
from market_etl_spark.lakehouse_sql import run_sql


def _table(spark, tmp_path, name="t"):
    path = str(tmp_path / name)
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(j, float(j), f"s{j % 3}") for j in range(30)],
            "id long, v double, s string",
        ).coalesce(2)
    )
    t.commit()
    return path


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_delete_matches_python_twin(spark, tmp_path):
    sql_path = _table(spark, tmp_path, "a")
    py_path = _table(spark, tmp_path, "b")
    out = run_sql(
        spark, f"DELETE FROM lakehouse.`{sql_path}` WHERE id % 7 = 0"
    )
    assert out.collect()[0].num_affected_rows == 5
    t = lk.Transaction(py_path)
    t.delete_where(spark, F.expr("id % 7 = 0"))
    t.commit()
    assert _rows(lk.read_table(spark, sql_path)) == _rows(
        lk.read_table(spark, py_path)
    )


def test_update_matches_python_twin(spark, tmp_path):
    sql_path = _table(spark, tmp_path, "a")
    py_path = _table(spark, tmp_path, "b")
    out = run_sql(
        spark,
        f"UPDATE lakehouse.`{sql_path}` SET v = v * 2 + 1, s = upper(s) "
        f"WHERE id < 5",
    )
    assert out.collect()[0].num_affected_rows == 5
    t = lk.Transaction(py_path)
    t.update_where_mor(
        spark,
        F.expr("id < 5"),
        {"v": F.expr("v * 2 + 1"), "s": F.expr("upper(s)")},
    )
    t.commit()
    assert _rows(lk.read_table(spark, sql_path)) == _rows(
        lk.read_table(spark, py_path)
    )


def test_merge_full_clause_set(spark, tmp_path):
    path = _table(spark, tmp_path)
    spark.createDataFrame(
        [(3, -1.0, "x"), (5, 50.0, "y"), (99, 9.0, "z")],
        "id long, v double, s string",
    ).createOrReplaceTempView("updates")
    out = run_sql(
        spark,
        f"""
        MERGE INTO lakehouse.`{path}` AS tgt USING updates AS src
        ON tgt.id = src.id
        WHEN MATCHED AND src.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = src.v + tgt.v
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    r = out.collect()[0]
    assert (r.num_updated_rows, r.num_deleted_rows, r.num_inserted_rows) == (
        1, 1, 1,
    )
    got = lk.read_table(spark, path)
    assert got.filter("id = 3").count() == 0
    assert got.filter("id = 5").collect()[0].v == 55.0
    assert got.filter("id = 99").count() == 1


def test_merge_using_subquery(spark, tmp_path):
    path = _table(spark, tmp_path)
    out = run_sql(
        spark,
        f"""
        MERGE INTO lakehouse.`{path}` t
        USING (SELECT 1 AS id, 0.0 AS v, 'q' AS s) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        """,
    )
    assert out.collect()[0].num_updated_rows == 1
    assert lk.read_table(spark, path).filter("id = 1").collect()[0].v == 0.0


def test_select_time_travel_and_join(spark, tmp_path):
    path = _table(spark, tmp_path)
    run_sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE id >= 10")
    now = run_sql(
        spark, f"SELECT count(*) AS n FROM lakehouse.`{path}`"
    ).collect()[0].n
    old = run_sql(
        spark,
        f"SELECT count(*) AS n FROM lakehouse.`{path}` VERSION AS OF 1",
    ).collect()[0].n
    assert (now, old) == (10, 30)
    # two references (time-traveled + current) in ONE statement
    diff = run_sql(
        spark,
        f"""
        SELECT count(*) AS gone FROM lakehouse.`{path}` VERSION AS OF 1 a
        LEFT ANTI JOIN lakehouse.`{path}` b ON a.id = b.id
        """,
    ).collect()[0].gone
    assert diff == 20


def test_describe_history_and_restore(spark, tmp_path):
    path = _table(spark, tmp_path)
    run_sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE id >= 10")
    hist = run_sql(spark, f"DESCRIBE HISTORY lakehouse.`{path}`")
    assert hist.count() == 2 and "operation" in hist.columns
    out = run_sql(
        spark, f"RESTORE TABLE lakehouse.`{path}` TO VERSION AS OF 1"
    ).collect()[0]
    assert out.restored_to_version == 1 and out.new_version == 3
    assert lk.read_table(spark, path).count() == 30


def test_grammar_rejections_are_loud(spark, tmp_path):
    path = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="grammar"):
        run_sql(spark, f"TRUNCATE TABLE lakehouse.`{path}`")
    with pytest.raises(ValueError, match="names no lakehouse"):
        run_sql(spark, "SELECT 1 FROM somewhere")
    with pytest.raises(ValueError, match="equalities"):
        run_sql(
            spark,
            f"MERGE INTO lakehouse.`{path}` t USING (SELECT 1 AS id) s "
            f"ON t.id < s.id WHEN MATCHED THEN DELETE",
        )
    # DML errors come from the SAME methods as the Python API — the
    # identity-SET refusal fires through SQL too
    ident = str(tmp_path / "ident")
    t = lk.Transaction(ident)
    t.set_identity_column("rid")
    t.commit()
    t = lk.Transaction(ident)
    t.append(spark.createDataFrame([(1.0,)], "v double"))
    t.commit()
    with pytest.raises(ValueError, match="engine-assigned"):
        run_sql(spark, f"UPDATE lakehouse.`{ident}` SET rid = 9 WHERE v = 1.0")


def test_maintenance_statements(spark, tmp_path):
    path = _table(spark, tmp_path)
    d = run_sql(spark, f"DESCRIBE DETAIL lakehouse.`{path}`").collect()[0]
    assert d.n_files == 2 and d.n_rows == 30 and bool(d.rows_exact)
    # OPTIMIZE = compact_small: two small files bin-pack into one
    o = run_sql(spark, f"OPTIMIZE lakehouse.`{path}`").collect()[0]
    assert (o.files_rewritten, o.files_added) == (2, 1)
    assert lk.read_table(spark, path).count() == 30
    # idempotent: nothing small left -> no commit burned
    v = lk.latest_commit(path)
    o2 = run_sql(spark, f"OPTIMIZE lakehouse.`{path}`").collect()[0]
    assert o2.files_rewritten == 0 and lk.latest_commit(path) == v
    # OPTIMIZE ZORDER BY = incremental zorder over the small set
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100 + j, float(j), "x") for j in range(5)],
            "id long, v double, s string",
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(200 + j, float(j), "y") for j in range(5)],
            "id long, v double, s string",
        ).coalesce(1)
    )
    t.commit()
    z = run_sql(
        spark, f"OPTIMIZE lakehouse.`{path}` ZORDER BY (id, v)"
    ).collect()[0]
    assert z.files_rewritten >= 2 and z.files_added >= 1
    assert lk.read_table(spark, path).count() == 40
    # VACUUM sweeps staged debris under an explicit zero retention
    import pathlib as pl

    debris = pl.Path(path) / ".stage-crashed"
    debris.mkdir()
    (debris / "junk.parquet").write_bytes(b"x")
    n = run_sql(
        spark, f"VACUUM lakehouse.`{path}` RETAIN 0 SECONDS"
    ).collect()[0].orphans_removed
    assert n >= 1 and not debris.exists()


def test_dml_edge_shapes(spark, tmp_path):
    path = _table(spark, tmp_path)
    # UPDATE without WHERE touches every row
    n = run_sql(
        spark, f"UPDATE lakehouse.`{path}` SET v = v + 1"
    ).collect()[0].num_affected_rows
    assert n == 30
    # MERGE with ONLY the insert clause = idempotent upsert-new
    out = run_sql(
        spark,
        f"MERGE INTO lakehouse.`{path}` t "
        f"USING (SELECT CAST(5 AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS v, "
        f"       'q' AS s UNION ALL SELECT 999, 1.0, 'q') s "
        f"ON t.id = s.id WHEN NOT MATCHED THEN INSERT *",
    ).collect()[0]
    assert (out.num_inserted_rows, out.num_updated_rows) == (1, 0)
    # DELETE everything: zero rows survive.  The file set stays
    # non-empty (the MOR update left base files fully DV-dead but
    # live), so the read returns an EMPTY frame, not the empty-table
    # error — the correct MOR posture
    n = run_sql(
        spark, f"DELETE FROM lakehouse.`{path}` WHERE true"
    ).collect()[0].num_affected_rows
    assert n == 31
    assert run_sql(spark, f"SELECT * FROM lakehouse.`{path}`").count() == 0
    # compound boolean predicates parse through F.expr untouched
    p2 = _table(spark, tmp_path, "b")
    n = run_sql(
        spark,
        f"DELETE FROM lakehouse.`{p2}` "
        f"WHERE (id % 2 = 0 AND v > 3.0) OR s = 's2'",
    ).collect()[0].num_affected_rows
    exp = 30 - lk.read_table(spark, p2).count()
    assert n == exp > 0


def test_merge_conditioned_update_clause(spark, tmp_path):
    """WHEN MATCHED AND <cond> THEN UPDATE (round 13): matched rows
    failing the condition pass through unchanged and are not counted;
    equivalence against the Python twin with the same gate."""
    sql_path = _table(spark, tmp_path, "a")
    py_path = _table(spark, tmp_path, "b")
    src = spark.createDataFrame(
        [(3, 100.0, "x"), (4, -1.0, "y"), (99, 9.0, "z")],
        "id long, v double, s string",
    )
    src.createOrReplaceTempView("cond_updates")
    out = run_sql(
        spark,
        f"""
        MERGE INTO lakehouse.`{sql_path}` AS tgt USING cond_updates AS src
        ON tgt.id = src.id
        WHEN MATCHED AND src.v > 0 THEN UPDATE SET v = src.v
        WHEN NOT MATCHED THEN INSERT *
        """,
    ).collect()[0]
    assert (out.num_updated_rows, out.num_deleted_rows,
            out.num_inserted_rows) == (1, 0, 1)
    t = lk.Transaction(py_path)
    t.merge_into(
        spark, src, ["id"],
        when_matched_update={"v": F.col("s.v")},
        when_matched_update_cond=F.col("s.v") > 0,
        when_not_matched_insert=True,
    )
    t.commit()
    assert _rows(lk.read_table(spark, sql_path)) == _rows(
        lk.read_table(spark, py_path)
    )
    # id=4 matched but failed the gate: unchanged
    r4 = lk.read_table(spark, sql_path).filter("id = 4").collect()[0]
    assert r4.v == 4.0


def test_merge_update_before_delete_rejected(spark, tmp_path):
    path = _table(spark, tmp_path)
    spark.createDataFrame([(1, 1.0, "x")], "id long, v double, s string") \
        .createOrReplaceTempView("ud_src")
    with pytest.raises(ValueError, match="DELETE before"):
        run_sql(
            spark,
            f"""
            MERGE INTO lakehouse.`{path}` AS t2 USING ud_src AS s2
            ON t2.id = s2.id
            WHEN MATCHED THEN UPDATE SET v = s2.v
            WHEN MATCHED AND s2.v < 0 THEN DELETE
            """,
        )


def test_insert_into_values_and_select(spark, tmp_path):
    path = _table(spark, tmp_path)
    out = run_sql(
        spark,
        f"INSERT INTO lakehouse.`{path}` VALUES (100, 1.5, 'q'), "
        f"(101, 2.5, 'r')",
    )
    assert out.collect()[0].num_inserted_rows == 2
    # positional cast: ints cast to the declared double column
    out = run_sql(
        spark,
        f"INSERT INTO lakehouse.`{path}` SELECT id + 200, v, s "
        f"FROM lakehouse.`{path}` WHERE id >= 100",
    )
    assert out.collect()[0].num_inserted_rows == 2
    got = lk.read_table(spark, path).filter("id >= 100")
    assert got.count() == 4
    with pytest.raises(ValueError, match="arity"):
        run_sql(spark, f"INSERT INTO lakehouse.`{path}` VALUES (1, 2.0)")
    with pytest.raises(ValueError, match="no committed schema"):
        run_sql(
            spark,
            f"INSERT INTO lakehouse.`{tmp_path / 'fresh'}` VALUES (1)",
        )


def test_create_named_table_and_dml_by_name(spark, tmp_path):
    path = _table(spark, tmp_path)
    run_sql(
        spark,
        f"CREATE TABLE named_t13 USING lakehouse LOCATION '{path}'",
    )
    assert run_sql(
        spark, "SELECT count(*) AS n FROM lakehouse.named_t13"
    ).collect()[0].n == 30
    out = run_sql(spark, "DELETE FROM lakehouse.named_t13 WHERE id < 10")
    assert out.collect()[0].num_affected_rows == 10
    run_sql(spark, "DESCRIBE HISTORY lakehouse.named_t13")
    run_sql(spark, "DROP TABLE named_t13")
    with pytest.raises(ValueError, match="unknown lakehouse table"):
        run_sql(spark, "SELECT * FROM lakehouse.named_t13")
    # data survives the unregister (external-table semantics)
    assert lk.read_table(spark, path).count() == 20


def test_ctas_bootstraps_and_refuses_existing(spark, tmp_path):
    src = _table(spark, tmp_path, "src")
    dst = str(tmp_path / "agg")
    out = run_sql(
        spark,
        f"CREATE TABLE agg_t13 USING lakehouse LOCATION '{dst}' AS "
        f"SELECT s, count(*) AS n FROM lakehouse.`{src}` GROUP BY s",
    )
    assert out.collect()[0].num_inserted_rows == 3
    assert run_sql(
        spark, "SELECT sum(n) AS total FROM lakehouse.agg_t13"
    ).collect()[0].total == 30
    with pytest.raises(ValueError, match="already has commits"):
        run_sql(
            spark,
            f"CREATE TABLE agg2 USING lakehouse LOCATION '{dst}' AS "
            f"SELECT 1 AS one",
        )
    run_sql(spark, "DROP TABLE agg_t13")


def test_optimize_zorder_full_rewrites_whole_table(spark, tmp_path):
    path = _table(spark, tmp_path)
    for i in range(2):  # extra commits -> multiple live files
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(1000 + i, 0.0, "z")], "id long, v double, s string"
            ).coalesce(1)
        )
        t.commit()
    live_before = len(lk.snapshot(path).adds())
    out = run_sql(
        spark, f"OPTIMIZE lakehouse.`{path}` ZORDER BY (id, v) FULL"
    ).collect()[0]
    # FULL = Delta's whole-table OPTIMIZE ZORDER: every live file in
    assert out.files_rewritten == live_before


def test_select_drops_snapshot_views_and_ignores_literals(spark, tmp_path):
    path = _table(spark, tmp_path)
    before = {v.name for v in spark.catalog.listTables()}
    df = run_sql(
        spark,
        f"SELECT s, 'lakehouse.`/not/a/table`' AS lit, count(*) AS n "
        f"FROM lakehouse.`{path}` GROUP BY s",
    )
    after = {v.name for v in spark.catalog.listTables()}
    assert after == before  # no leaked lakehouse_snap_* views
    rows = df.collect()  # plan resolved eagerly: still executable
    assert len(rows) == 3
    assert all(r.lit == "lakehouse.`/not/a/table`" for r in rows)


def test_optimize_where_scopes_candidates(spark, tmp_path):
    """OPTIMIZE ... WHERE compacts only files whose footer stats admit
    the predicate — stats-scoped file selection, the layoutless analog
    of Delta's partition-scoped OPTIMIZE WHERE."""
    path = str(tmp_path / "ow")
    # 4 tiny files with disjoint id ranges (10 ids each)
    for i in range(4):
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, float(j)) for j in range(10)],
                "id long, v double",
            ).coalesce(1)
        )
        t.commit()
    out = run_sql(
        spark, f"OPTIMIZE lakehouse.`{path}` WHERE id < 20"
    ).collect()[0]
    assert (out.files_rewritten, out.files_added) == (2, 1)
    assert lk.read_table(spark, path).count() == 40  # rows untouched
    # an unscopable WHERE raises rather than silently scoping nothing
    with pytest.raises(ValueError, match="not"):
        run_sql(spark, f"OPTIMIZE lakehouse.`{path}` WHERE id + 1 < 20")
    with pytest.raises(ValueError, match="two statements"):
        run_sql(
            spark,
            f"OPTIMIZE lakehouse.`{path}` WHERE id < 20 ZORDER BY (id)",
        )


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    path = _table(spark, tmp_path)
    orphan = pathlib.Path(path) / lk._DATA_DIR / "orphan.parquet"
    orphan.write_bytes(b"junk")
    out = run_sql(
        spark, f"VACUUM lakehouse.`{path}` RETAIN 0 SECONDS DRY RUN"
    ).collect()[0]
    assert (out.orphans_found, out.orphans_removed) == (1, 0)
    assert orphan.exists()  # dry run touched nothing
    out = run_sql(
        spark, f"VACUUM lakehouse.`{path}` RETAIN 0 SECONDS"
    ).collect()[0]
    assert out.orphans_removed == 1 and not orphan.exists()


def test_restore_to_timestamp(spark, tmp_path):
    import json as _json

    path = _table(spark, tmp_path)  # v1
    for i in range(2):  # v2, v3
        t = lk.Transaction(path)
        t.append(
            spark.createDataFrame(
                [(500 + i, 0.0, "t")], "id long, v double, s string"
            ).coalesce(1)
        )
        t.commit()
    body = _json.loads(
        (pathlib.Path(path) / lk._LOG_DIR / "00000002.json").read_text()
    )
    out = run_sql(
        spark,
        f"RESTORE TABLE lakehouse.`{path}` TO TIMESTAMP AS OF "
        f"'{body['ts']}'",
    ).collect()[0]
    assert out.restored_to_version == 2
    assert _rows(lk.read_table(spark, path)) == _rows(
        lk.read_table(spark, path, version=2)
    )


def test_show_tables_lists_registry(spark, tmp_path):
    from market_etl_spark.lakehouse_sql import _NAMES

    path = _table(spark, tmp_path)
    snap = dict(_NAMES)
    try:
        _NAMES.clear()
        assert run_sql(spark, "SHOW TABLES").count() == 0
        run_sql(
            spark, f"CREATE TABLE show_t13 USING lakehouse LOCATION '{path}'"
        )
        got = run_sql(spark, "SHOW TABLES").collect()
        assert [(r.table_name, r.location) for r in got] == [
            ("show_t13", path)
        ]
    finally:
        _NAMES.clear()
        _NAMES.update(snap)


def test_alter_table_statements(spark, tmp_path):
    """ALTER TABLE family (round 13): data-less ADD COLUMN aligns in
    as typed NULLs everywhere, RENAME/DROP route to the column-mapping
    methods, ADD/DROP CONSTRAINT to the CHECK machinery."""
    path = _table(spark, tmp_path)
    run_sql(
        spark, f"ALTER TABLE lakehouse.`{path}` ADD COLUMN (note string)"
    )
    got = lk.read_table(spark, path)
    assert got.columns == ["id", "v", "s", "note"]
    assert got.filter("note is null").count() == 30
    # appends must now carry it; the registered source aligns too
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(100, 1.0, "x", "hello")], "id long, v double, s string, "
            "note string"
        )
    )
    t.commit()
    from market_etl_spark import lakehouse_datasource as lds

    lds.register(spark)
    src = spark.read.format("lakehouse").load(path)
    assert src.filter("note = 'hello'").count() == 1
    assert src.count() == 31
    run_sql(
        spark, f"ALTER TABLE lakehouse.`{path}` RENAME COLUMN v TO val"
    )
    run_sql(spark, f"ALTER TABLE lakehouse.`{path}` DROP COLUMN note")
    assert lk.read_table(spark, path).columns == ["id", "val", "s"]
    run_sql(
        spark,
        f"ALTER TABLE lakehouse.`{path}` ADD CONSTRAINT nonneg "
        f"CHECK (val >= 0)",
    )
    t = lk.Transaction(path)
    with pytest.raises(lk.ConstraintViolation):
        t.append(
            spark.createDataFrame(
                [(7, -1.0, "bad")], "id long, val double, s string"
            )
        )
    run_sql(
        spark, f"ALTER TABLE lakehouse.`{path}` DROP CONSTRAINT nonneg"
    )
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(7, -1.0, "ok")], "id long, val double, s string"
        )
    )
    t.commit()
    with pytest.raises(ValueError, match="already exists"):
        run_sql(
            spark, f"ALTER TABLE lakehouse.`{path}` ADD COLUMN (id long)"
        )


def test_convert_to_lakehouse_in_place(spark, tmp_path):
    """CONVERT TO LAKEHOUSE stamps a log over plain parquet in place:
    no data moves, reads/DML/time travel work from commit 1."""
    plain = str(tmp_path / "plain")
    spark.createDataFrame(
        [(j, float(j), f"s{j % 3}") for j in range(40)],
        "id long, v double, s string",
    ).repartition(4).write.parquet(plain)
    out = run_sql(
        spark, f"CONVERT TO LAKEHOUSE parquet.`{plain}`"
    ).collect()[0]
    assert (out.converted_version, out.n_files, out.n_rows) == (1, 4, 40)
    got = lk.read_table(spark, plain)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.read.parquet(plain).collect())
    )
    # stats rode in: skipping works immediately
    _v, kept, total = lk.prune_files(plain, [("id", "<", 0)])
    assert kept == [] and total == 4
    # and it is a full table now: DML + time travel
    n = run_sql(
        spark, f"DELETE FROM lakehouse.`{plain}` WHERE id % 2 = 0"
    ).collect()[0].num_affected_rows
    assert n == 20
    assert lk.read_table(spark, plain).count() == 20
    assert lk.read_table(spark, plain, version=1).count() == 40
    with pytest.raises(ValueError, match="already a lakehouse"):
        run_sql(spark, f"CONVERT TO LAKEHOUSE parquet.`{plain}`")
    # Hive-partitioned layouts refuse loudly
    hive = str(tmp_path / "hive")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, part string"
    ).write.partitionBy("part").parquet(hive)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        run_sql(spark, f"CONVERT TO LAKEHOUSE parquet.`{hive}`")


def test_review_r13_router_edge_cases(spark, tmp_path):
    """Round-13 review findings, pinned: qualified identifiers that
    merely CONTAIN 'lakehouse.' never rewrite; backticked relative
    paths bypass the registry; re-registering a name to a different
    location refuses; quoted literals survive OPTIMIZE-WHERE
    splitting; INSERT maps unaliased expression columns positionally."""
    from market_etl_spark.lakehouse_sql import (
        _NAMES, _parse_pred, register_table,
    )

    path = _table(spark, tmp_path)
    # 1. prod_lakehouse.trades must NOT be parsed as a table reference
    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView(
        "trades"
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS prod_lakehouse")
    try:
        n = run_sql(
            spark,
            f"SELECT count(*) AS n FROM trades t "
            f"JOIN lakehouse.`{path}` l ON t.id = l.id",
        ).collect()[0].n
        assert n == 1
        # an identifier PREFIXED with lakehouse.-like text stays SQL
        got = run_sql(
            spark,
            f"SELECT 'prod_lakehouse.trades' AS lit, count(*) AS n "
            f"FROM lakehouse.`{path}`",
        ).collect()[0]
        assert got.lit == "prod_lakehouse.trades" and got.n == 30
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_lakehouse")
    # 2. backtick contents are a LOCATION verbatim — never a registry
    # lookup (a slash-less path must fail as a missing table, not as
    # an unknown registered name)
    with pytest.raises(Exception) as ei:
        run_sql(spark, "SELECT count(*) AS n FROM lakehouse.`no_such_dir`")
    assert "unknown lakehouse table name" not in str(ei.value)
    # 3. re-registering a name elsewhere refuses; same place is a no-op
    snap = dict(_NAMES)
    try:
        _NAMES.clear()
        register_table("edge_t13", path)
        register_table("edge_t13", path)  # idempotent
        with pytest.raises(ValueError, match="already registered"):
            register_table("edge_t13", str(tmp_path / "elsewhere"))
    finally:
        _NAMES.clear()
        _NAMES.update(snap)
    # 4. quoted literals survive predicate splitting
    assert _parse_pred("s = 'black AND white' AND k < 3") == [
        ("s", "=", "black AND white"), ("k", "<", 3)
    ]
    assert _parse_pred("s IN ('a,b', 'c')") == [("s", "in", ("a,b", "c"))]
    # 5. INSERT of an unaliased dotted expression maps positionally
    out = run_sql(
        spark,
        f"INSERT INTO lakehouse.`{path}` "
        f"SELECT id + 500, round(v, 1), concat(s, '!') "
        f"FROM lakehouse.`{path}` WHERE id = 0",
    )
    assert out.collect()[0].num_inserted_rows == 1
    assert lk.read_table(spark, path).filter("id = 500").count() == 1


def test_delete_without_where_clears_table(spark, tmp_path):
    path = _table(spark, tmp_path)
    out = run_sql(spark, f"DELETE FROM lakehouse.`{path}`")
    assert out.collect()[0].num_affected_rows == 30
    with pytest.raises(ValueError, match="is empty"):
        lk.read_table(spark, path)
    assert lk.read_table(spark, path, version=1).count() == 30


def test_shallow_clone_statement(spark, tmp_path):
    from market_etl_spark.lakehouse_sql import _NAMES

    path = _table(spark, tmp_path)
    dev = str(tmp_path / "dev")
    _NAMES.pop("dev13", None)
    out = run_sql(
        spark,
        f"CREATE TABLE dev13 SHALLOW CLONE lakehouse.`{path}` "
        f"LOCATION '{dev}'",
    ).collect()[0]
    assert (out.cloned_version, out.n_rows) == (1, 30)
    # the clone diverges; the source never observes it
    run_sql(spark, "DELETE FROM lakehouse.dev13 WHERE id < 20")
    assert run_sql(
        spark, "SELECT count(*) AS n FROM lakehouse.dev13"
    ).collect()[0].n == 10
    assert lk.read_table(spark, path).count() == 30
    run_sql(spark, "DROP TABLE dev13")


def test_table_changes_tvf(spark, tmp_path):
    from market_etl_spark.lakehouse_sql import _NAMES

    path = _table(spark, tmp_path)  # v1: 30 inserts
    t = lk.Transaction(path)
    t.enable_cdf()
    t.commit()  # v2
    run_sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE id = 3")  # v3
    run_sql(
        spark, f"UPDATE lakehouse.`{path}` SET v = v + 100 WHERE id = 4"
    )  # v4
    # inclusive bounds (Delta's contract): [3, 4] = delete + update
    got = run_sql(
        spark,
        f"SELECT _change_type, count(*) AS n FROM "
        f"table_changes('{path}', 3, 4) GROUP BY _change_type "
        f"ORDER BY _change_type",
    ).collect()
    assert [(r._change_type, r.n) for r in got] == [
        ("delete", 1), ("update_postimage", 1), ("update_preimage", 1),
    ]
    # one-arg form reads to the latest version; named form resolves
    _NAMES.pop("tc13", None)
    run_sql(spark, f"CREATE TABLE tc13 USING lakehouse LOCATION '{path}'")
    n = run_sql(
        spark,
        "SELECT count(*) AS n FROM table_changes('tc13', 1)",
    ).collect()[0].n
    assert n == 33  # 30 inserts + delete + update pre/post
    run_sql(spark, "DROP TABLE tc13")
    # TVF composes with a plain lakehouse reference in one statement
    both = run_sql(
        spark,
        f"SELECT count(*) AS n FROM table_changes('{path}', 3, 3) c "
        f"JOIN lakehouse.`{path}` VERSION AS OF 1 s ON c.id = s.id",
    ).collect()[0].n
    assert both == 1


def test_insert_into_identity_table_stamps_engine_columns(spark, tmp_path):
    """INSERT INTO maps positionally to the NON-engine columns only:
    identity values are stamped by the append, and supplying one
    positionally is impossible by construction (arity mismatch)."""
    path = str(tmp_path / "ins_ident")
    t = lk.Transaction(path)
    t.set_identity_column("rid")
    t.commit()
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame([(1.0, "a")], "v double, s string")
    )
    t.commit()
    out = run_sql(
        spark,
        f"INSERT INTO lakehouse.`{path}` VALUES (2.5, 'b'), (3.5, 'c')",
    )
    assert out.collect()[0].num_inserted_rows == 2
    got = lk.read_table(spark, path)
    assert got.count() == 3
    rids = [r.rid for r in got.collect()]
    assert len(set(rids)) == 3  # engine-stamped, unique
    with pytest.raises(ValueError, match="arity"):
        run_sql(
            spark,
            f"INSERT INTO lakehouse.`{path}` VALUES (9, 4.5, 'd')",
        )


def test_convert_then_checkpoint_then_source_composition(spark, tmp_path):
    """Round-13 planes composed end to end: CONVERT a plain directory,
    bootstrap a parquet checkpoint over the converted log, and read
    through the registered source, now planned from the checkpoint,
    with a pushed filter — rows equal the read taken before the
    checkpoint existed, decisions equal JSON replay."""
    from market_etl_spark import lakehouse_checkpoint as ck
    from market_etl_spark import lakehouse_datasource as lds

    lds.register(spark)
    plain = str(tmp_path / "plain")
    spark.createDataFrame(
        [(j, float(j)) for j in range(40)], "id long, v double"
    ).repartition(4).write.parquet(plain)
    run_sql(spark, f"CONVERT TO LAKEHOUSE parquet.`{plain}`")
    run_sql(spark, f"DELETE FROM lakehouse.`{plain}` WHERE id = 1")
    via_json = spark.read.format("lakehouse").load(plain).filter("id < 20")
    want = sorted(map(tuple, via_json.collect()))
    ck.write_parquet_checkpoint(plain)
    via_ckpt = spark.read.format("lakehouse").load(plain).filter("id < 20")
    assert sorted(map(tuple, via_ckpt.collect())) == want
    # prune decisions identical on converted (absolute-stat) files
    pred = [("id", "<", 20)]
    snap = lk.snapshot(plain)
    assert snap.base > 0
    assert ck.plan_scan(snap, pred) == (lk.prune_files(plain, pred)[1], 4)


def test_convert_handles_nested_plain_subdirs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "nested"
    (root / "sub").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}),
        str(root / "a.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64())}),
        str(root / "sub" / "b.parquet"),
    )
    out = run_sql(
        spark, f"CONVERT TO LAKEHOUSE parquet.`{root}`"
    ).collect()[0]
    assert (out.n_files, out.n_rows) == (2, 3)
    assert lk.read_table(spark, str(root)).count() == 3


def test_table_changes_text_inside_literal_stays_literal(spark, tmp_path):
    """ADVICE r13: the TVF rewrite must not fire on table_changes(...)
    text that lives INSIDE a quoted string literal."""
    path = _table(spark, tmp_path)
    got = run_sql(
        spark,
        f"SELECT 'see table_changes(''x'', 1) docs' AS doc, count(*) AS n "
        f"FROM lakehouse.`{path}`",
    ).collect()[0]
    assert got.doc == "see table_changes('x', 1) docs" and got.n == 30
    # a literal mentioning the TVF must not satisfy the
    # names-a-lakehouse-table requirement either
    with pytest.raises(ValueError, match="names no lakehouse"):
        from market_etl_spark.lakehouse_sql import _run_select

        _run_select(
            spark, "SELECT 'table_changes(''x'', 1)' AS doc", require_ref=True
        )


def test_table_changes_from_version_zero(spark, tmp_path):
    """table_changes('t', 0) is legal in Delta — with 1-based commits
    here it means everything since creation (exclusive start 0)."""
    path = _table(spark, tmp_path)
    n = run_sql(
        spark,
        f"SELECT count(*) AS n FROM table_changes('{path}', 0)",
    ).collect()[0].n
    assert n == 30


def test_ctas_and_clone_refuse_conflicting_name_before_any_data(
    spark, tmp_path
):
    """ADVICE r13: a CTAS/CLONE whose name is already registered
    elsewhere must fail BEFORE materializing data — not leave a
    committed-but-unregistered table at the target."""
    from market_etl_spark.lakehouse_sql import _NAMES

    src = _table(spark, tmp_path, "src")
    _NAMES.pop("taken13", None)
    run_sql(
        spark, f"CREATE TABLE taken13 USING lakehouse LOCATION '{src}'"
    )
    dst = str(tmp_path / "dst")
    with pytest.raises(ValueError, match="already registered"):
        run_sql(
            spark,
            f"CREATE TABLE taken13 USING lakehouse LOCATION '{dst}' AS "
            f"SELECT * FROM lakehouse.`{src}`",
        )
    assert lk.latest_commit(dst) == 0  # nothing materialized
    with pytest.raises(ValueError, match="already registered"):
        run_sql(
            spark,
            f"CREATE TABLE taken13 SHALLOW CLONE lakehouse.`{src}` "
            f"LOCATION '{dst}'",
        )
    assert lk.latest_commit(dst) == 0
    run_sql(spark, "DROP TABLE taken13")


def test_convert_partitioned_recovers_values_and_prunes(spark, tmp_path):
    """CONVERT ... PARTITIONED BY (VERDICT r13 #1): partition values
    recover from key=value paths into stats (exact pruning) and into
    reads (JVM + pyarrow routes); DML and appends materialize them;
    colliding basenames (Spark's own partitioned-output naming)
    rename in place so row addressing stays sound."""
    from market_etl_spark.lakehouse_datasource import register

    register(spark)
    hive = str(tmp_path / "hive")
    src = spark.createDataFrame(
        [(i, float(i), 2023 + i % 2, f"s{i % 3}") for i in range(60)],
        "id long, v double, yr int, sym string",
    )
    src.write.partitionBy("yr", "sym").parquet(hive)
    out = run_sql(
        spark,
        f"CONVERT TO LAKEHOUSE parquet.`{hive}` "
        f"PARTITIONED BY (yr int, sym string)",
    ).collect()[0]
    assert (out.converted_version, out.n_rows) == (1, 60)
    exp = sorted(map(tuple, src.collect()))
    got = lk.read_table(spark, hive)
    assert [f.name for f in got.schema] == ["id", "v", "yr", "sym"]
    assert sorted(map(tuple, got.collect())) == exp
    # the registered format's pyarrow route agrees
    assert sorted(
        map(tuple, spark.read.format("lakehouse").load(hive).collect())
    ) == exp
    # basenames are unique after convert (Spark reuses one task's
    # name across partition dirs; _dv_file keys by basename)
    live = lk.snapshot(hive).adds()
    names = [pathlib.PurePosixPath(f).name for f in live]
    assert len(names) == len(set(names))
    # partition predicate prunes to EXACTLY the matching directories
    _v, kept, total = lk.prune_files(hive, [("yr", "=", 2023)])
    assert set(kept) == {f for f in live if f.startswith("yr=2023/")}
    assert 0 < len(kept) < total
    # CoW DELETE crossing partitions; rewritten rows keep values
    n = run_sql(
        spark, f"DELETE FROM lakehouse.`{hive}` WHERE yr = 2024 AND id < 10"
    ).collect()[0].num_affected_rows
    assert n == 5
    after = lk.read_table(spark, hive)
    assert after.count() == 55
    chk = after.filter("id = 11").collect()[0]
    assert (chk.yr, chk.sym) == (2024, "s2")
    # MOR delete + append with materialized columns
    t = lk.Transaction(hive)
    t.delete_where_mor(spark, F.col("id") == 20)
    t.commit()
    t = lk.Transaction(hive)
    t.append(spark.createDataFrame([(100, 1.0, 2030, "zz")], got.schema))
    t.commit()
    assert lk.read_table(
        spark, hive, predicate=[("yr", ">=", 2030)]
    ).collect()[0].sym == "zz"
    assert lk.read_table(spark, hive).filter("id=20").count() == 0


def test_convert_partitioned_spec_mismatch_and_null_partitions(
    spark, tmp_path
):
    hive = str(tmp_path / "hive")
    spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "x")],
        "id long, s string, p string",
    ).write.partitionBy("p").parquet(hive)
    # wrong column name in the spec refuses
    with pytest.raises(ValueError, match="partition spec mismatch"):
        run_sql(
            spark,
            f"CONVERT TO LAKEHOUSE parquet.`{hive}` "
            f"PARTITIONED BY (nope string)",
        )
    # NULL partition (__HIVE_DEFAULT_PARTITION__) recovers as NULL
    run_sql(
        spark,
        f"CONVERT TO LAKEHOUSE parquet.`{hive}` "
        f"PARTITIONED BY (p string)",
    )
    got = sorted(
        (r.id, r.p) for r in lk.read_table(spark, hive).collect()
    )
    assert got == [(1, None), (2, "x"), (3, "x")]
    # a predicate on the partition col never admits the NULL file
    _v, kept, _tot = lk.prune_files(hive, [("p", "=", "x")])
    assert all("__HIVE_DEFAULT_PARTITION__" not in f for f in kept)


def test_merge_when_not_matched_by_source(spark, tmp_path):
    """VERDICT r13 #3: the by-source clauses — full-sync in one
    MERGE, DELETE-before-UPDATE clause order, no source references,
    and the whole-table-read conflict posture (even a pure append
    refuses to serialize)."""
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, "active") for i in range(6)], "id long, st string"
        ).coalesce(2)
    )
    t.commit()
    spark.createDataFrame(
        [(1, "seen"), (99, "seen")], "id long, st string"
    ).createOrReplaceTempView("bs_updates_v")
    out = run_sql(spark, f"""
        MERGE INTO lakehouse.`{path}` t USING bs_updates_v s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET st = s.st
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.id % 2 = 0
            THEN UPDATE SET st = 'stale'
    """).collect()[0]
    # Delta folds by-source rows into the same counters
    assert (out.num_updated_rows, out.num_inserted_rows) == (4, 1)
    got = sorted((r.id, r.st) for r in lk.read_table(spark, path).collect())
    assert got == sorted(
        [(0, "stale"), (1, "seen"), (2, "stale"), (3, "active"),
         (4, "stale"), (5, "active"), (99, "seen")]
    )
    # source references in a by-source clause refuse up front
    with pytest.raises(ValueError, match="cannot reference the source"):
        run_sql(spark, f"""
            MERGE INTO lakehouse.`{path}` t USING bs_updates_v s
            ON t.id = s.id
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET st = s.st
        """)
    # clause order is enforced (DELETE evaluates first)
    with pytest.raises(ValueError, match="DELETE before UPDATE"):
        run_sql(spark, f"""
            MERGE INTO lakehouse.`{path}` t USING bs_updates_v s
            ON t.id = s.id
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET st = 'x'
            WHEN NOT MATCHED BY SOURCE THEN DELETE
        """)
    # by-source DELETE full-sync
    out2 = run_sql(spark, f"""
        MERGE INTO lakehouse.`{path}` t USING bs_updates_v s ON t.id = s.id
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """).collect()[0]
    assert out2.num_deleted_rows == 5
    assert sorted(r.id for r in lk.read_table(spark, path).collect()) == [
        1, 99,
    ]
    # conflict posture: a concurrent APPEND (no file overlap with the
    # probe's read set) must still refuse to serialize
    t2 = lk.Transaction(path)
    t2.merge_into(
        spark,
        spark.createDataFrame([(1, "seen")], "id long, st string"),
        ["id"],
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"st": F.lit("gone")},
    )
    late = lk.Transaction(path)
    late.append(spark.createDataFrame([(7, "late")], "id long, st string"))
    late.commit()
    with pytest.raises(lk.CommitConflict, match="WHOLE table"):
        t2.commit()
    # the aborted merge left nothing; the append landed
    assert sorted(
        (r.id, r.st) for r in lk.read_table(spark, path).collect()
    ) == [(1, "seen"), (7, "late"), (99, "seen")]


def test_name_registry_persists_across_sessions(spark, tmp_path, monkeypatch):
    """VERDICT r13 #5: with MARKET_ETL_NAME_REGISTRY set, the router's
    name registry survives a restart — registrations, the re-point
    refusal, and drops all round-trip through the JSON file."""
    import market_etl_spark.lakehouse_sql as lsql

    reg = str(tmp_path / "names.json")
    monkeypatch.setenv(lsql._REGISTRY_ENV, reg)

    def restart():
        monkeypatch.setattr(lsql, "_NAMES", {})
        monkeypatch.setattr(lsql, "_names_loaded_from", None)

    restart()
    path = _table(spark, tmp_path)
    run_sql(
        spark, f"CREATE TABLE persist14 USING lakehouse LOCATION '{path}'"
    )
    restart()  # fresh "session": in-memory registry gone
    assert run_sql(
        spark, "SELECT count(*) AS n FROM lakehouse.persist14"
    ).collect()[0].n == 30
    rows = run_sql(spark, "SHOW TABLES").collect()
    assert ("persist14", path) in [
        (r.table_name, r.location) for r in rows
    ]
    with pytest.raises(ValueError, match="already registered"):
        run_sql(
            spark,
            f"CREATE TABLE persist14 USING lakehouse LOCATION "
            f"'{tmp_path / 'other'}'",
        )
    run_sql(spark, "DROP TABLE persist14")
    restart()
    with pytest.raises(ValueError, match="unknown lakehouse table"):
        run_sql(spark, "SELECT * FROM lakehouse.persist14")
    # without the env var the registry stays session-only (the safe
    # default: a global file would leak names between unrelated runs)
    monkeypatch.delenv(lsql._REGISTRY_ENV)
    restart()
    run_sql(
        spark, f"CREATE TABLE ephem14 USING lakehouse LOCATION '{path}'"
    )
    restart()
    with pytest.raises(ValueError, match="unknown lakehouse table"):
        run_sql(spark, "SELECT * FROM lakehouse.ephem14")


def test_copy_into_idempotent_ingestion(spark, tmp_path):
    """COPY INTO (round 14): file-level exactly-once via copy_source
    ledger actions in the data commit — retries skip, the ledger
    survives retention, overlapping concurrent copies conflict, and
    csv reads against the committed schema."""
    base = tmp_path
    path = str(base / "t")
    land = base / "landing"
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    )
    df.filter("id < 10").coalesce(1).write.parquet(str(land / "d1"))
    df.filter("id >= 10").coalesce(1).write.parquet(str(land / "d2"))
    r1 = lk.copy_into(spark, path, str(land / "d1"))
    assert (r1["files_loaded"], r1["rows_loaded"]) == (1, 10)
    # retry: everything skips, no new version
    r2 = lk.copy_into(spark, path, str(land / "d1"))
    assert r2 == {
        "files_loaded": 0, "files_skipped": 1,
        "rows_loaded": 0, "version": None,
    }
    # wider source through SQL: only the new file loads
    out = run_sql(
        spark, f"COPY INTO lakehouse.`{path}` FROM '{land}'"
    ).collect()[0]
    assert (out.num_files_loaded, out.num_files_skipped) == (1, 1)
    assert lk.read_table(spark, path).count() == 20
    # PATTERN scopes the listing
    df.limit(1).coalesce(1).write.parquet(str(land / "d3"))
    out2 = run_sql(
        spark,
        f"COPY INTO lakehouse.`{path}` FROM '{land}' PATTERN = 'd2/*'",
    ).collect()[0]
    assert (out2.num_files_loaded, out2.num_files_skipped) == (0, 1)
    # the ledger survives retention
    t = lk.Transaction(path)
    t.delete_where(spark, F.col("id") == 0)
    t.commit()
    lk.expire_versions(path, lk.latest_commit(path))
    r3 = lk.copy_into(spark, path, str(land), pattern="d[12]/*")
    assert r3["files_loaded"] == 0 and r3["files_skipped"] == 2
    # csv reads against the committed schema
    (base / "csvland").mkdir()
    (base / "csvland" / "x.csv").write_text("100,1.5\n101,2.5\n")
    r4 = lk.copy_into(
        spark, path, str(base / "csvland"), file_format="csv"
    )
    assert r4["rows_loaded"] == 2
    # overlapping CONCURRENT copies conflict instead of double-loading
    srcs = sorted(
        str(p.resolve()) for p in (land / "d3").rglob("*.parquet")
        if not p.name.startswith(("_", "."))
    )
    a, b = lk.Transaction(path), lk.Transaction(path)
    for tx in (a, b):
        tx.append(spark.read.parquet(*srcs))
        for p in srcs:
            tx.actions.append(
                {"op": "copy_source", "file": p, "etag": "x"}
            )
    a.commit()
    with pytest.raises(lk.CommitConflict, match="COPY-loaded"):
        b.commit()


def test_deep_clone(spark, tmp_path):
    """DEEP CLONE (round 14): a self-contained physical copy — DV
    semantics preserved, source retention cannot break it, CDF derives
    its v1 as the initial snapshot, and deep-cloning a SHALLOW clone
    makes it durable (absolute refs land under the clone's own dirs,
    basenames kept so row addressing stays sound)."""
    src = _table(spark, tmp_path)
    t = lk.Transaction(src)
    t.delete_where_mor(spark, F.col("id") % 7 == 0)  # live DV
    t.commit()
    exp = sorted(map(tuple, lk.read_table(spark, src).collect()))
    deep = str(tmp_path / "deep")
    out = run_sql(
        spark,
        f"CREATE TABLE deep14 DEEP CLONE lakehouse.`{src}` "
        f"LOCATION '{deep}'",
    ).collect()[0]
    assert out.cloned_version == 1
    assert sorted(map(tuple, lk.read_table(spark, deep).collect())) == exp
    # self-contained: truncate the SOURCE's whole history + vacuum it
    t = lk.Transaction(src)
    t.delete_where(spark, F.col("id") >= 0)  # drop everything
    t.commit()
    lk.expire_versions(src, lk.latest_commit(src))
    lk.vacuum_orphans(src, min_age_sec=0)
    assert sorted(map(tuple, lk.read_table(spark, deep).collect())) == exp
    # CDF: the clone's v1 derives as inserts (snapshot, DV applied)
    ch = lk.read_changes(spark, deep, 0, 1)
    assert ch.filter("_change_type = 'insert'").count() == len(exp)
    # the clone diverges freely (DML works on the copy)
    run_sql(spark, "DELETE FROM lakehouse.deep14 WHERE id < 3")
    # ids 1 and 2 — id 0 was already DV-deleted before the clone
    assert lk.read_table(spark, deep).count() == len(exp) - 2
    run_sql(spark, "DROP TABLE deep14")
    # deep clone OF a shallow clone = making the fork durable
    src2 = _table(spark, tmp_path, name="src2")
    shallow = str(tmp_path / "shallow")
    lk.clone_table(src2, shallow)
    deep2 = str(tmp_path / "deep2")
    lk.clone_table_deep(spark, shallow, deep2)
    exp2 = sorted(map(tuple, lk.read_table(spark, src2).collect()))
    # kill the ORIGINAL source entirely; the deep clone survives
    t = lk.Transaction(src2)
    t.delete_where(spark, F.col("id") >= 0)
    t.commit()
    lk.expire_versions(src2, lk.latest_commit(src2))
    lk.vacuum_orphans(src2, min_age_sec=0)
    assert sorted(map(tuple, lk.read_table(spark, deep2).collect())) == exp2
    # and MOR deletes still address rows correctly (basenames kept)
    t = lk.Transaction(deep2)
    t.delete_where_mor(spark, F.col("id") == 5)
    t.commit()
    assert lk.read_table(spark, deep2).filter("id = 5").count() == 0


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (round 14): source columns the
    table lacks widen the schema in the same commit — existing rows
    align as typed NULLs, inserts land them, update clauses may SET
    them; without the keyword the extra column still rejects."""
    path = str(tmp_path / "t")
    t = lk.Transaction(path)
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id long, v double"
        ).coalesce(2)
    )
    t.commit()
    spark.createDataFrame(
        [(1, 10.0, "eu"), (99, 9.0, "us")], "id long, v double, region string"
    ).createOrReplaceTempView("evo_src_v")
    # without the keyword extra source columns DROP (they are clause
    # inputs — the documented merge contract), the schema stays put
    run_sql(spark, f"""
        MERGE INTO lakehouse.`{path}` t USING evo_src_v s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v - 1
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert lk.read_table(spark, path).columns == ["id", "v"]
    run_sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE id = 99")
    t = lk.Transaction(path)
    t.update_where_mor(spark, F.col("id") == 1, {"v": F.lit(1.0)})
    t.commit()
    out = run_sql(spark, f"""
        MERGE WITH SCHEMA EVOLUTION INTO lakehouse.`{path}` t
        USING evo_src_v s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v, region = s.region
        WHEN NOT MATCHED THEN INSERT *
    """).collect()[0]
    assert (out.num_updated_rows, out.num_inserted_rows) == (1, 1)
    got = lk.read_table(spark, path)
    assert got.columns == ["id", "v", "region"]
    rows = {r.id: (r.v, r.region) for r in got.collect()}
    assert rows[1] == (10.0, "eu") and rows[99] == (9.0, "us")
    assert rows[0] == (0.0, None)  # pre-evolution row: typed NULL
    # the widened column is first-class: skippable predicate + DML
    assert got.filter("region = 'eu'").count() == 1
    run_sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE region = 'us'")
    assert lk.read_table(spark, path).count() == 6


def test_deep_clone_of_shallow_clone_of_converted_table(spark, tmp_path):
    """The composition corner: a converted table's partition values
    live in PATHS; a shallow clone references them absolutely; a deep
    clone of that must keep the key=value segments, or the recovered
    columns silently go NULL."""
    hive = str(tmp_path / "hive")
    spark.createDataFrame(
        [(i, 2023 + i % 2) for i in range(12)], "id long, yr int"
    ).write.partitionBy("yr").parquet(hive)
    lk.convert_to_lakehouse(spark, hive, partitioned_by=[("yr", "int")])
    exp = sorted(
        (r.id, r.yr) for r in lk.read_table(spark, hive).collect()
    )
    shallow = str(tmp_path / "sh")
    lk.clone_table(hive, shallow)
    deep = str(tmp_path / "dp")
    lk.clone_table_deep(spark, shallow, deep)
    got = sorted((r.id, r.yr) for r in lk.read_table(spark, deep).collect())
    assert got == exp
    # and partition pruning still works on the deep clone's stats
    _v, kept, total = lk.prune_files(deep, [("yr", "=", 2023)])
    assert 0 < len(kept) < total


def test_set_tblproperties(spark, tmp_path):
    """ALTER TABLE ... SET/UNSET TBLPROPERTIES (round 14): the Delta
    CDF property key routes to the real feature switch; free-form
    properties persist in table metadata and unset removes them."""
    path = _table(spark, tmp_path)
    # CDF via SQL: a CoW delete BEFORE enablement is not derivable...
    run_sql(spark, f"""
        ALTER TABLE lakehouse.`{path}` SET TBLPROPERTIES
        ('delta.enableChangeDataFeed' = 'true', 'team' = 'etl')
    """)
    meta = lk.snapshot(path).state.meta
    assert meta.get("cdf") is True
    assert meta.get("properties") == {"team": "etl"}
    # ...and a CoW delete AFTER it records change data: the feed serves
    run_sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE id = 3")
    ch = lk.read_changes(spark, path, lk.latest_commit(path) - 1,
                         lk.latest_commit(path))
    assert [(r._change_type, r.id) for r in ch.collect()] == [
        ("delete", 3)
    ]
    run_sql(spark, f"""
        ALTER TABLE lakehouse.`{path}` UNSET TBLPROPERTIES ('team')
    """)
    meta = lk.snapshot(path).state.meta
    assert meta.get("properties") == {}
    # disabling flips the switch back off
    run_sql(spark, f"""
        ALTER TABLE lakehouse.`{path}` SET TBLPROPERTIES
        ('delta.enableChangeDataFeed' = 'false')
    """)
    meta = lk.snapshot(path).state.meta
    assert meta.get("cdf") is False
    with pytest.raises(ValueError, match="key.*value"):
        run_sql(
            spark,
            f"ALTER TABLE lakehouse.`{path}` SET TBLPROPERTIES (team = x)",
        )
