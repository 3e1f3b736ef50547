"""SQL DML dispatch (S8): MERGE INTO / DELETE FROM / UPDATE strings
route onto the catalog API, and FOR TIMESTAMP|VERSION AS OF rewrites
onto time travel — the SQL forms the reference's dbt incremental models
(``daily_order_metrics.sql:9``, ``incremental_strategy='merge'``) and
GDPR docs (``docs/architecture/lakehouse.md:108``) rely on."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from konohadataplatform_spark.catalog import SnapshotCatalog
from konohadataplatform_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def seed(engine):
    engine.save_table(
        "metrics",
        engine.spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, tag string, v double",
        ),
    )


def src_df(engine):
    return engine.spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0)], "id long, tag string, v double"
    )


def test_merge_sql_matches_api(engine, spark, tmp_path):
    """The SQL MERGE upsert form produces byte-identical table state to
    the catalog.merge API call."""
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    engine.sql(
        """
        MERGE INTO metrics t USING src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    via_sql = rows(engine.table("metrics"))

    api = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh2")))
    seed(api)
    api.catalog.merge("metrics", src_df(api), ["id"])
    assert via_sql == rows(api.catalog.read("metrics"))
    assert via_sql == [
        (1, "a", 10.0),
        (2, "B", 200.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
    ]
    # history records the SQL route distinctly
    assert engine.history("metrics")[-1].operation == "merge(sql)"


def test_merge_explicit_assignments_and_guards(engine):
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    engine.sql(
        """
        MERGE INTO metrics t USING src s ON t.id = s.id
        WHEN MATCHED AND s.v > 1000 THEN UPDATE SET v = s.v, tag = upper(s.tag)
        WHEN NOT MATCHED AND s.id < 100 THEN INSERT (id, tag) VALUES (s.id, s.tag)
        """
    )
    # guard fails for id=2 (200 < 1000): row untouched; id=4 inserted
    # with only (id, tag), v NULL-filled
    assert rows(engine.table("metrics")) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
        (4, "d", None),
    ]


def test_merge_matched_delete(engine):
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    engine.sql("MERGE INTO metrics t USING src s ON t.id = s.id "
               "WHEN MATCHED THEN DELETE")
    assert rows(engine.table("metrics")) == [(1, "a", 10.0), (3, "c", 30.0)]


def test_merge_subquery_source(engine):
    seed(engine)
    engine.register(
        "raw", engine.spark.createDataFrame([(2, 99.0), (2, 1.0)], "id long, v double")
    )
    engine.sql(
        """
        MERGE INTO metrics USING (SELECT id, max(v) AS v FROM raw GROUP BY id) s
        ON metrics.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        """
    )
    assert rows(engine.table("metrics")) == [
        (1, "a", 10.0),
        (2, "b", 99.0),
        (3, "c", 30.0),
    ]


def test_delete_from_matches_api(engine, spark, tmp_path):
    seed(engine)
    engine.sql("DELETE FROM metrics WHERE v >= 20.0")
    via_sql = rows(engine.table("metrics"))
    api = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh2")))
    seed(api)
    api.catalog.delete_where("metrics", "v >= 20.0")
    assert via_sql == rows(api.catalog.read("metrics"))
    assert via_sql == [(1, "a", 10.0)]


def test_update_where(engine):
    seed(engine)
    engine.sql("UPDATE metrics SET v = v * 2, tag = concat(tag, '!') WHERE id <= 2")
    assert rows(engine.table("metrics")) == [
        (1, "a!", 20.0),
        (2, "b!", 40.0),
        (3, "c", 30.0),
    ]


def test_update_unknown_column_rejected(engine):
    seed(engine)
    with pytest.raises(ValueError, match="unknown column"):
        engine.sql("UPDATE metrics SET nope = 1")


def test_time_travel_sql_matches_table_at(engine):
    seed(engine)  # v1
    engine.sql("DELETE FROM metrics WHERE id = 1")  # v2
    v1_sql = engine.sql("SELECT * FROM metrics FOR VERSION AS OF 1 ORDER BY id")
    assert rows(v1_sql) == rows(engine.table_at("metrics", version=1))
    assert len(rows(v1_sql)) == 3
    # qualified references keep resolving (view is aliased to the table)
    out = engine.sql(
        "SELECT metrics.id FROM metrics FOR VERSION AS OF 2 WHERE metrics.id > 1"
    )
    assert rows(out) == [(2,), (3,)]
    # timestamp form: as-of the v2 commit time sees v2
    ts = engine.history("metrics")[-1].timestamp_ms
    got = engine.sql(f"SELECT count(*) AS n FROM metrics FOR TIMESTAMP AS OF {ts}")
    assert got.collect()[0].n == 2


def test_dml_without_catalog_rejected(spark):
    eng = Engine(spark, None)
    with pytest.raises(Exception):
        eng.sql("DELETE FROM metrics WHERE id = 1")


def test_insert_into_and_overwrite(engine):
    seed(engine)
    engine.sql("INSERT INTO metrics VALUES (9, 'z', 90.0), (10, 'y', 100.0)")
    assert len(rows(engine.table("metrics"))) == 5
    assert engine.history("metrics")[-1].operation == "insert-into"
    engine.sql("INSERT INTO metrics (id, tag, v) SELECT 11, 'w', 110.0")
    assert (11, "w", 110.0) in rows(engine.table("metrics"))
    engine.sql("INSERT OVERWRITE metrics SELECT 1 AS id, 'only' AS tag, 1.0 AS v")
    assert rows(engine.table("metrics")) == [(1, "only", 1.0)]
    assert engine.history("metrics")[-1].operation == "insert-overwrite"


def test_ctas_and_drop(engine):
    seed(engine)
    engine.sql("CREATE TABLE top_metrics AS SELECT * FROM metrics WHERE v >= 20.0")
    assert len(rows(engine.table("top_metrics"))) == 2
    assert engine.catalog.exists("top_metrics")
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE top_metrics AS SELECT 1 AS a")
    engine.sql("CREATE OR REPLACE TABLE top_metrics AS SELECT 1 AS a")
    assert rows(engine.table("top_metrics")) == [(1,)]
    # IF NOT EXISTS on an existing table is a no-op
    engine.sql("CREATE TABLE IF NOT EXISTS top_metrics AS SELECT 2 AS b")
    assert rows(engine.table("top_metrics")) == [(1,)]
    engine.sql("DROP TABLE top_metrics")
    assert not engine.catalog.exists("top_metrics")


def test_truncate_table(engine):
    seed(engine)
    engine.sql("TRUNCATE TABLE metrics")
    assert rows(engine.table("metrics")) == []
    assert engine.catalog.exists("metrics")  # table survives, empty


def test_create_view_passes_through(engine):
    seed(engine)
    engine.sql("CREATE OR REPLACE TEMP VIEW mv AS SELECT id FROM metrics WHERE id = 1")
    assert rows(engine.sql("SELECT * FROM mv")) == [(1,)]
    engine.sql("DROP VIEW mv")


def test_update_string_literal_with_equals_and_keywords(engine):
    """Quoted literals containing '=' or SQL keywords must not confuse
    the statement parser (assignment split is on the FIRST '=' and
    predicates pass through verbatim)."""
    seed(engine)
    engine.sql("UPDATE metrics SET tag = 'a=b WHERE x' WHERE id = 1")
    assert (1, "a=b WHERE x", 10.0) in rows(engine.table("metrics"))


def test_delete_predicate_with_quoted_keyword(engine):
    seed(engine)
    engine.sql("UPDATE metrics SET tag = 'DELETE FROM' WHERE id = 2")
    engine.sql("DELETE FROM metrics WHERE tag = 'DELETE FROM'")
    assert [t for _, t, _ in rows(engine.table("metrics"))] == ["a", "c"]


def test_merge_quoted_using_in_source(engine):
    seed(engine)
    engine.sql(
        """
        MERGE INTO metrics t
        USING (SELECT 1 AS id, 'USING ON WHEN' AS tag) s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET tag = s.tag
        """
    )
    assert (1, "USING ON WHEN", 10.0) in rows(engine.table("metrics"))


def test_merge_not_matched_by_source_delete(engine):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE drops target rows with no
    source match — previously this clause was silently ignored."""
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    engine.sql(
        """
        MERGE INTO metrics t USING src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """
    )
    assert rows(engine.table("metrics")) == [(2, "B", 200.0), (4, "d", 40.0)]


def test_merge_not_matched_by_source_guarded_update(engine):
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    engine.sql(
        """
        MERGE INTO metrics t USING src s ON t.id = s.id
        WHEN NOT MATCHED BY SOURCE AND t.id = 3 THEN UPDATE SET tag = 'stale'
        """
    )
    assert rows(engine.table("metrics")) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "stale", 30.0),
    ]


def test_merge_unparseable_when_clause_raises(engine):
    """A WHEN clause the parser cannot handle must fail loudly, never be
    silently dropped while the rest of the statement executes."""
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    with pytest.raises(ValueError, match="MERGE"):
        engine.sql(
            """
            MERGE INTO metrics t USING src s ON t.id = s.id
            WHEN MATCHED THEN FROBNICATE
            WHEN NOT MATCHED THEN INSERT *
            """
        )
    # statement rejected: table unchanged
    assert rows(engine.table("metrics")) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
    ]


def test_merge_matched_by_source_rejected(engine):
    seed(engine)
    src_df(engine).createOrReplaceTempView("src")
    with pytest.raises(ValueError, match="BY SOURCE"):
        engine.sql(
            "MERGE INTO metrics t USING src s ON t.id = s.id "
            "WHEN MATCHED BY SOURCE THEN DELETE"
        )


def test_merge_cardinality_violation_raises(engine):
    """Multiple source rows matching one target row is an error (the
    Spark/Delta/Iceberg contract), not silent row duplication."""
    seed(engine)
    engine.spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id long, tag string, v double"
    ).createOrReplaceTempView("src")
    with pytest.raises(ValueError, match="cardinality"):
        engine.sql(
            "MERGE INTO metrics t USING src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET *"
        )


def test_merge_insert_only_with_duplicate_source_matches(engine):
    """With no MATCHED clause, duplicate source matches must not
    duplicate surviving target rows (semi-join semantics)."""
    seed(engine)
    engine.spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0), (5, "e", 50.0)],
        "id long, tag string, v double",
    ).createOrReplaceTempView("src")
    engine.sql(
        "MERGE INTO metrics t USING src s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert rows(engine.table("metrics")) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
        (5, "e", 50.0),
    ]


def test_call_procedures_and_optimize(engine, spark):
    seed(engine)
    for i in range(3):
        engine.sql(f"INSERT INTO metrics VALUES ({10 + i}, 'x{i}', {float(i)})")
    assert len(engine.history("metrics")) == 4

    out = engine.sql("CALL system.expire_snapshots('metrics', 2)").collect()[0]
    assert out.procedure == "expire_snapshots" and out.removed == 2

    out = engine.sql("CALL system.rewrite_data_files('metrics', 2)").collect()[0]
    assert "compact" in out.operation
    assert engine.table("metrics").count() == 6

    v = engine.catalog.current_snapshot("metrics").version
    engine.sql("INSERT INTO metrics VALUES (99, 'z', 0.0)")
    engine.sql(f"CALL system.rollback('metrics', {v})")
    assert engine.table("metrics").filter("id = 99").count() == 0

    # OPTIMIZE ... ZORDER BY
    out = engine.sql("OPTIMIZE metrics ZORDER BY (id, v)").collect()[0]
    assert "zorder" in out.operation
    assert engine.table("metrics").count() == 6

    with pytest.raises(ValueError, match="unknown procedure"):
        engine.sql("CALL system.no_such_proc('metrics')")


def test_qualify_clause(engine, spark):
    seed(engine)
    # alias-free window predicate
    got = sorted(
        (r.id, r.tag)
        for r in engine.sql(
            "SELECT id, tag FROM metrics "
            "QUALIFY ROW_NUMBER() OVER (ORDER BY v DESC) <= 2"
        ).collect()
    )
    assert got == [(2, "b"), (3, "c")]

    # with ORDER BY / LIMIT after the predicate
    rows = engine.sql(
        "SELECT id, v FROM metrics "
        "QUALIFY RANK() OVER (ORDER BY v) >= 2 ORDER BY id LIMIT 1"
    ).collect()
    assert [(r.id, r.v) for r in rows] == [(2, 20.0)]

    with pytest.raises(ValueError, match="set-operation"):
        engine.sql(
            "SELECT id FROM metrics QUALIFY ROW_NUMBER() OVER (ORDER BY id) = 1 "
            "UNION ALL SELECT id FROM metrics"
        )


def test_describe_history(engine):
    seed(engine)
    engine.sql("INSERT INTO metrics VALUES (9, 'z', 1.0)")
    hist = engine.sql("DESCRIBE HISTORY metrics").collect()
    assert [r.version for r in hist] == [1, 2]
    assert hist[1].operation.startswith("insert")


def test_call_named_arguments_any_order(engine):
    seed(engine)
    engine.sql("INSERT INTO metrics VALUES (7, 'g', 5.0)")
    engine.sql("INSERT INTO metrics VALUES (8, 'h', 6.0)")
    out = engine.sql(
        "CALL system.expire_snapshots(retain_last => 2, table => 'metrics')"
    ).collect()[0]
    assert out.table == "metrics" and out.removed == 1


def test_call_expire_rejects_ambiguous_older_than(engine):
    """Advisor regression: Iceberg's `older_than` is an absolute
    timestamp but ours is an age window — an epoch-ms value silently
    read as a ~54-year window would expire nothing. Reject the name."""
    seed(engine)
    with pytest.raises(ValueError, match="older_than_ms"):
        engine.sql(
            "CALL system.expire_snapshots('metrics', 1,"
            " older_than => 1755000000000)"
        )


def test_branch_procedures_via_sql(engine, spark):
    seed(engine)
    out = engine.sql("CALL system.create_branch('metrics', 'dev')").collect()[0]
    assert out.branch_table == "metrics@dev"
    # commit to the branch through the catalog API, then fast-forward
    engine.catalog.merge(
        "metrics@dev",
        spark.createDataFrame([(42, "dev", 9.0)], "id long, tag string, v double"),
        ["id"],
    )
    assert engine.table("metrics").count() == 3  # main untouched
    engine.sql("CALL system.fast_forward('metrics', 'dev')")
    assert engine.table("metrics").filter("id = 42").count() == 1
    engine.sql("CALL system.drop_branch('metrics', 'dev')")
    assert engine.catalog.branches("metrics") == {}


def test_version_as_of_named_refs(engine, spark):
    """VERSION AS OF 'ref' resolves tags (pinned version) and branches
    (branch head) — the Iceberg named-ref SQL form."""
    seed(engine)
    engine.catalog.create_tag("metrics", "launch")
    engine.sql("INSERT INTO metrics VALUES (9, 'z', 1.0)")
    engine.sql("CALL system.create_branch('metrics', 'dev')")
    engine.catalog.merge(
        "metrics@dev",
        spark.createDataFrame([(50, 'd', 5.0)], "id long, tag string, v double"),
        ["id"],
    )
    assert engine.sql(
        "SELECT count(*) AS n FROM metrics FOR VERSION AS OF 'launch'"
    ).first().n == 3
    assert engine.sql(
        "SELECT count(*) AS n FROM metrics FOR VERSION AS OF 'dev'"
    ).first().n == 5
    with pytest.raises(ValueError, match="unknown tag/branch"):
        engine.sql("SELECT * FROM metrics FOR VERSION AS OF 'nope'")


def test_alter_table_set_tblproperties_bloom(engine):
    """Iceberg-style writer properties through SQL: bloom-filter columns
    round-trip into catalog table properties and apply to future writes."""
    seed(engine)
    out = engine.sql(
        "ALTER TABLE metrics SET TBLPROPERTIES ("
        "'write.parquet.bloom-filter-enabled.column.tag'='true', "
        "'write.parquet.bloom-filter-expected-ndv.column.tag'='5000', "
        "'commit.retry.num-retries'='3')"
    ).collect()
    props = engine.catalog.table_properties("metrics")
    assert props["bloom_filters"] == {"tag": 5000}
    assert props["commit.retry.num-retries"] == "3"
    assert out[0].table == "metrics"

    # SHOW TBLPROPERTIES flattens back to the Iceberg key form
    shown = {r.key: r.value for r in engine.sql("SHOW TBLPROPERTIES metrics").collect()}
    assert shown["write.parquet.bloom-filter-enabled.column.tag"] == "true"
    assert shown["write.parquet.bloom-filter-expected-ndv.column.tag"] == "5000"
    assert shown["commit.retry.num-retries"] == "3"

    # disable drops the column from the bloom set
    engine.sql(
        "ALTER TABLE metrics SET TBLPROPERTIES ("
        "'write.parquet.bloom-filter-enabled.column.tag'='false')"
    )
    assert "bloom_filters" not in engine.catalog.table_properties("metrics")


def test_call_table_changes(engine):
    seed(engine)
    engine.sql("UPDATE metrics SET v = 99.0 WHERE id = 2")
    out = engine.sql(
        "CALL system.table_changes('metrics', 1, 2, key_cols => 'id')"
    )
    got = sorted((r.id, r._change_type, r.v) for r in out.collect())
    assert got == [(2, "update_postimage", 99.0), (2, "update_preimage", 20.0)]


def test_metadata_tables_sql(engine):
    """Iceberg metadata-table surface: t$snapshots / t$files /
    t$partitions / t$refs resolve through Engine.sql."""
    engine.save_table(
        "mt",
        engine.spark.createDataFrame(
            [(i, f"g{i % 2}") for i in range(100)], "id long, g string"
        ),
        partition_by=["g"],
    )
    engine.sql("DELETE FROM mt WHERE id = 0")
    snaps = engine.sql(
        "SELECT version, operation FROM mt$snapshots ORDER BY version"
    ).collect()
    assert [r.version for r in snaps] == [1, 2]
    assert snaps[1].operation.startswith("delete-where")

    files = engine.sql("SELECT * FROM mt$files").collect()
    assert all(f.row_count > 0 and f.file_bytes > 0 for f in files)
    assert {f.partition for f in files} == {'{"g": "g0"}', '{"g": "g1"}'}

    parts = engine.sql(
        "SELECT partition, row_count FROM mt$partitions ORDER BY partition"
    ).collect()
    assert [p.row_count for p in parts] == [49, 50]  # id=0 deleted from g0

    engine.catalog.create_tag("mt", "audit", 1)
    refs = {(r.name, r.type): r.version
            for r in engine.sql("SELECT * FROM mt$refs").collect()}
    assert refs[("main", "branch")] == 2 and refs[("audit", "tag")] == 1

    # metadata joins with data in one statement
    joined = engine.sql(
        "SELECT count(*) AS n FROM mt$files f JOIN mt$partitions p "
        "ON f.partition = p.partition"
    ).collect()
    assert joined[0].n == len(files)


def test_ctas_partitioned_by(engine):
    engine.sql(
        "CREATE TABLE pt USING parquet PARTITIONED BY (g) AS "
        "SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS g "
        "FROM range(20)"
    )
    snap = engine.catalog.current_snapshot("pt")
    assert snap.partition_by == ["g"]
    parts = {r.partition for r in engine.sql("SELECT * FROM pt$files").collect()}
    assert parts == {'{"g": "even"}', '{"g": "odd"}'}
    # CREATE OR REPLACE without the clause resets to unpartitioned
    engine.sql("CREATE OR REPLACE TABLE pt AS SELECT 1 AS id")
    assert engine.catalog.current_snapshot("pt").partition_by is None


def test_metadata_rewrite_skips_string_literals(engine):
    seed(engine)
    out = engine.sql("SELECT 'report$files' AS label").collect()
    assert out[0].label == "report$files"
    # mixed: literal untouched, real reference rewritten
    out = engine.sql(
        "SELECT 'metrics$files' AS lit, count(*) AS n FROM metrics$files"
    ).collect()
    assert out[0].lit == "metrics$files" and out[0].n >= 1


def test_show_tblproperties_malformed_and_key_selector(engine):
    seed(engine)
    engine.sql(
        "ALTER TABLE metrics SET TBLPROPERTIES ('owner'='team-data')"
    )
    import pytest

    with pytest.raises(ValueError, match="SHOW TBLPROPERTIES"):
        engine.sql("SHOW TBLPROPERTIES")
    got = engine.sql("SHOW TBLPROPERTIES metrics ('owner')").collect()
    assert [(r.key, r.value) for r in got] == [("owner", "team-data")]


def test_analyze_table_sql(engine):
    seed(engine)
    out = {r.column: r for r in engine.sql(
        "ANALYZE TABLE metrics COMPUTE STATISTICS FOR COLUMNS id, v"
    ).collect()}
    assert set(out) == {"id", "v"}
    assert out["id"].min == "1" and out["id"].max == "3"
    assert out["v"].null_count == 0 and out["v"].approx_ndv == 3
    # stats persisted for later retrieval
    assert engine.catalog.stats("metrics")["columns"]["id"]["max"] == "3"
    with pytest.raises(ValueError, match="ANALYZE"):
        engine.sql("ANALYZE TABLE metrics")


def test_export_table_sql_surface(engine, spark):
    """r13: EXPORT TABLE name [VERSION AS OF n] [TO DUCKDB] on the S8
    surface returns (table, version, duckdb_ddl); the DDL replays in
    an out-of-process DuckDB at the pinned version."""
    import json
    import subprocess
    import sys

    engine.save_table("exp_t", spark.createDataFrame([(1,), (2,)], "v long"))
    engine.save_table("exp_t", spark.createDataFrame([(3,)], "v long"))
    cur = engine.sql("EXPORT TABLE exp_t").collect()[0]
    assert (cur.table, cur.version) == ("exp_t", 2)
    pinned = engine.sql(
        "EXPORT TABLE exp_t VERSION AS OF 1 TO DUCKDB"
    ).collect()[0]
    assert pinned.version == 1
    script = (
        "import duckdb, json, sys\n"
        "con = duckdb.connect()\n"
        "con.execute(sys.argv[1])\n"
        "print(json.dumps(con.execute("
        "'SELECT v FROM exp_t ORDER BY v').fetchall()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, pinned.duckdb_ddl],
        capture_output=True, text=True, check=True,
    )
    assert json.loads(out.stdout) == [[1], [2]]
    import pytest

    with pytest.raises(ValueError, match="EXPORT TABLE"):
        engine.sql("EXPORT TABLE exp_t INTO SOMEWHERE")


def test_dml_target_keeps_syncing_with_other_writers(engine, spark, tmp_path):
    """After DELETE FROM / MERGE INTO through Engine.sql the target
    stays sync-managed: a later commit to it by another writer is what
    this engine's next SELECT reads, not the view the DML left behind."""
    seed(engine)
    other = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))

    engine.sql("DELETE FROM metrics WHERE id = 1")
    other.catalog.write(
        "metrics",
        spark.createDataFrame([(7, "x", 70.0)], "id long, tag string, v double"),
    )
    assert rows(engine.sql("SELECT * FROM metrics")) == [(7, "x", 70.0)]

    src_df(engine).createOrReplaceTempView("src")
    engine.sql(
        "MERGE INTO metrics t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    other.catalog.delete_where("metrics", "id = 4")
    assert rows(engine.sql("SELECT * FROM metrics")) == [
        (2, "B", 200.0),
        (7, "x", 70.0),
    ]
