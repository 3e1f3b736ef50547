"""Engine.sql — the S8 ad-hoc SQL surface. The reference exposes the
full Spark SQL grammar through Kyuubi (docs/components/kyuubi.md:61-67);
SURVEY §2 marks set ops, grouping sets, approx aggregates, and the full
join matrix as "free at S8" — these tests prove the engine actually
serves them, plus the §2.11 UDF registration surface.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from konohadataplatform_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark)
    eng.register_star_schema(SF_DIR)
    return eng


def test_adhoc_join_agg(engine):
    rows = engine.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment ORDER BY n DESC
        """
    ).collect()
    assert len(rows) == 5 and rows[0].n >= rows[-1].n


def test_intersect_except(engine):
    both = engine.sql(
        """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        """
    ).count()
    only_f = engine.sql(
        """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        """
    ).count()
    f_total = engine.sql(
        "SELECT COUNT(DISTINCT o_custkey) AS n FROM orders WHERE o_orderstatus='F'"
    ).first().n
    assert both + only_f == f_total


def test_grouping_sets_cube(engine):
    gs = engine.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
    assert gs.count() == 3 + 5 + 1
    cube = engine.sql(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) n FROM orders "
        "GROUP BY CUBE(o_orderstatus, o_orderpriority)"
    )
    assert cube.count() == (3 + 1) * (5 + 1)


def test_full_join_matrix(engine):
    for jt in ["INNER", "LEFT", "RIGHT", "FULL", "LEFT SEMI", "CROSS"]:
        if jt == "CROSS":
            q = "SELECT * FROM region CROSS JOIN nation"
        else:
            q = (
                f"SELECT r.* FROM region r {jt} JOIN nation n "
                "ON r.r_regionkey = n.n_regionkey"
            )
        assert engine.sql(q).count() > 0, jt
    # every region has nations, so the anti join is exactly empty
    anti = engine.sql(
        "SELECT r.* FROM region r LEFT ANTI JOIN nation n "
        "ON r.r_regionkey = n.n_regionkey"
    ).count()
    assert anti == 0


def test_approx_count_distinct(engine):
    exact = engine.sql("SELECT COUNT(DISTINCT o_custkey) n FROM orders").first().n
    approx = engine.sql(
        "SELECT approx_count_distinct(o_custkey) n FROM orders"
    ).first().n
    assert abs(approx - exact) / exact < 0.1


def test_time_travel_sql_surface(engine, spark, tmp_path):
    """M3 via SQL: catalog tables registered as views are queryable at a
    historical version."""
    from konohadataplatform_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.write("tt", spark.range(5).toDF("id"))
    cat.write("tt", spark.range(50).toDF("id"))
    cat.read("tt", version=1).createOrReplaceTempView("tt_v1")
    cat.read("tt").createOrReplaceTempView("tt_now")
    assert engine.sql("SELECT COUNT(*) n FROM tt_v1").first().n == 5
    assert engine.sql("SELECT COUNT(*) n FROM tt_now").first().n == 50


def test_python_udf_registration(engine):
    engine.udf_register("kdp_add_one", lambda x: x + 1, T.LongType())
    out = engine.sql("SELECT kdp_add_one(o_orderkey) AS k FROM orders LIMIT 1").first()
    assert out.k is not None


def test_pandas_udf_registration(engine, spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def kdp_double(v):
        return v * 2.0

    spark.udf.register("kdp_double", kdp_double)
    row = engine.sql(
        "SELECT kdp_double(o_totalprice) d, o_totalprice t FROM orders LIMIT 1"
    ).first()
    assert row.d == row.t * 2.0


def test_csv_seed_roundtrip(engine, spark, tmp_path):
    from konohadataplatform_spark.sources.readers import read_csv

    p = tmp_path / "seed.csv"
    p.write_text("id,name\n1,alpha\n2,beta\n")
    df = read_csv(spark, str(p))
    assert [(r.id, r.name) for r in df.orderBy("id").collect()] == [
        (1, "alpha"),
        (2, "beta"),
    ]


def test_jdbc_reader_construction(spark):
    """No database ships in this container: assert the reader is built
    with partitioned-snapshot options and fails only at connect time."""
    from konohadataplatform_spark.sources.readers import read_jdbc

    with pytest.raises(Exception) as ei:
        read_jdbc(
            spark,
            "jdbc:postgresql://localhost:1/none",
            "public.customers",
            partition_column="customer_id",
            lower_bound=0,
            upper_bound=100,
            num_partitions=4,
        ).count()
    assert "connect" in str(ei.value).lower() or "driver" in str(ei.value).lower()


def test_archive_stream_raw_zone(spark, tmp_path):
    """S4: append-only raw-zone archive via Structured Streaming."""
    import json as _json
    import os

    from konohadataplatform_spark.streaming.cdc import ENVELOPE_SCHEMA
    from konohadataplatform_spark.sources.readers import archive_stream

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "f1.json", "w") as f:
        for i in range(10):
            f.write(
                _json.dumps(
                    {"op": "c", "before": None, "after": "{}", "ts_ms": i,
                     "lsn": i, "table": "t"}
                )
                + "\n"
            )
    raw = spark.readStream.schema(ENVELOPE_SCHEMA).json(str(src))
    # default format is now REAL Avro (pure-stdlib OCF writer, since the
    # spark-avro jar is absent) — read the files back with the codec
    q = archive_stream(raw, str(tmp_path / "zone"), str(tmp_path / "ck"))
    q.awaitTermination(60)
    from konohadataplatform_spark.sources import avro_py

    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(tmp_path / "zone")
        for f in fs
        if f.endswith(".avro")
    ]
    assert files, "no OCF files written"
    rows = [row for p in files for row in avro_py.read_ocf(p)[1]]
    assert len(rows) == 10
    assert {r["op"] for r in rows} == {"c"}
    assert sorted(r["lsn"] for r in rows) == list(range(10))
    # arrival-date partition dirs present (C6)
    assert any("_arrival_date=" in p for p in files)

    # json landing still available explicitly
    q2 = archive_stream(
        raw, str(tmp_path / "zone_json"), str(tmp_path / "ck2"), fmt="json"
    )
    q2.awaitTermination(60)
    back = spark.read.json(str(tmp_path / "zone_json"))
    assert back.count() == 10


def test_explain_surface(engine):
    plan = engine.explain(
        "SELECT c_mktsegment, COUNT(*) FROM customer "
        "WHERE c_acctbal > 0 GROUP BY c_mktsegment"
    )
    assert "HashAggregate" in plan
    assert "PushedFilters" in plan and "c_acctbal" in plan


def test_engine_catalog_facade(spark, tmp_path):
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    eng = Engine(spark, catalog=SnapshotCatalog(spark, str(tmp_path / "wh")))
    eng.save_table("facade_t", spark.range(5).toDF("id"))
    eng.save_table("facade_t", spark.range(50).toDF("id"))
    assert eng.sql("SELECT COUNT(*) n FROM facade_t").first().n == 50
    assert eng.table_at("facade_t", version=1).count() == 5
    assert [s.version for s in eng.history("facade_t")] == [1, 2]


def test_engine_without_catalog_raises(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.table_at("anything")


def test_operator_namespace_exports():
    import konohadataplatform_spark.operators as ops

    for name in ops.__all__:
        assert callable(getattr(ops, name)), name


def test_engine_mor_surface(spark, tmp_path):
    """upsert/delete_keys/optimize through the facade keep the SQL view
    fresh at every step."""
    from pyspark.sql import Row
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    eng = Engine(spark, catalog=SnapshotCatalog(spark, str(tmp_path / "wh")))
    eng.save_table("acc", spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    eng.upsert("acc", spark.createDataFrame([Row(id=2, v="B2"), Row(id=3, v="c")]), ["id"])
    got = {r.id: r.v for r in eng.sql("SELECT * FROM acc").collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    eng.delete_keys("acc", spark.createDataFrame([Row(id=1)]), ["id"])
    assert {r.id for r in eng.sql("SELECT * FROM acc").collect()} == {2, 3}
    snap = eng.optimize("acc", target_files=1)
    assert not snap.upsert_layers and not snap.delete_path
    assert {r.id for r in eng.sql("SELECT * FROM acc").collect()} == {2, 3}


def test_python_udtf_registration(spark):
    """Spark 4 Python UDTF through the Engine facade: direct FROM call
    and a LATERAL join exploding each row of a real table."""
    from pyspark.sql.functions import udtf
    from konohadataplatform_spark.engine import Engine

    eng = Engine(spark)

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    eng.udtf_register("split_words", SplitWords)
    assert [r.word for r in eng.sql(
        "SELECT * FROM split_words('a b c')"
    ).collect()] == ["a", "b", "c"]

    eng.register(
        "docs_mini",
        spark.createDataFrame([(1, "x y"), (2, "z")], "id long, text string"),
    )
    out = eng.sql(
        """
        SELECT d.id, w.word, w.pos
        FROM docs_mini d, LATERAL split_words(d.text) w
        ORDER BY d.id, w.pos
        """
    ).collect()
    assert [(r.id, r.word, r.pos) for r in out] == [
        (1, "x", 0), (1, "y", 1), (2, "z", 0)
    ]


def test_avro_ocf_roundtrip(spark):
    """Pure-stdlib Avro OCF: schema mapping, zigzag varints, null
    unions, sync-marked blocks — write distributed, read back exact."""
    from pyspark.sql import types as T

    from konohadataplatform_spark.sources import avro_py

    schema = T.StructType([
        T.StructField("s", T.StringType(), True),
        T.StructField("n", T.LongType(), False),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("b", T.BooleanType(), True),
        T.StructField("raw", T.BinaryType(), True),
    ])
    rows = [
        {"s": "héllo", "n": -1, "d": 2.5, "b": True, "raw": b"\x00\xff"},
        {"s": None, "n": 2**40, "d": None, "b": None, "raw": None},
        {"s": "", "n": 0, "d": -0.0, "b": False, "raw": b""},
    ]
    import tempfile, os as _os

    d = tempfile.mkdtemp()
    path = _os.path.join(d, "t.avro")
    avro = avro_py.schema_to_avro(schema, "t")
    assert avro_py.write_ocf(path, avro, rows) == 3
    got_schema, got = avro_py.read_ocf(path)
    assert got_schema["name"] == "t"
    assert got == rows

    # distributed write path: one file per partition, all rows land
    df = spark.createDataFrame([("a", i, None, True, None) for i in range(20)],
                               schema).repartition(4)
    out = _os.path.join(d, "dist")
    avro_py.write_avro_partitions(df, out, "t")
    files = [f for f in _os.listdir(out) if f.endswith(".avro")]
    assert 1 <= len(files) <= 4
    total = sum(len(avro_py.read_ocf(_os.path.join(out, f))[1]) for f in files)
    assert total == 20


def test_avro_ocf_negative_metadata_block_count():
    """Avro spec: a negative map-block count is followed by the block's
    byte size. Files from writers using that form must parse clean."""
    import io, os as _os, tempfile

    from konohadataplatform_spark.sources import avro_py

    avro = {"type": "record", "name": "t",
            "fields": [{"name": "n", "type": "long"}]}
    import json as _json
    sync = b"\x01" * 16
    kv = io.BytesIO()
    avro_py._write_value(kv, "string", "avro.schema")
    avro_py._write_value(kv, "bytes", _json.dumps(avro).encode())
    avro_py._write_value(kv, "string", "avro.codec")
    avro_py._write_value(kv, "bytes", b"null")
    payload = kv.getvalue()

    buf = io.BytesIO()
    buf.write(avro_py.MAGIC)
    avro_py._write_long(buf, -2)            # negative count ...
    avro_py._write_long(buf, len(payload))  # ... then byte size (spec)
    buf.write(payload)
    avro_py._write_long(buf, 0)             # end of metadata map
    buf.write(sync)
    body = io.BytesIO()
    avro_py._write_value(body, "long", 7)
    avro_py._write_long(buf, 1)
    avro_py._write_long(buf, len(body.getvalue()))
    buf.write(body.getvalue())
    buf.write(sync)

    d = tempfile.mkdtemp()
    path = _os.path.join(d, "neg.avro")
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())
    schema, rows = avro_py.read_ocf(path)
    assert schema["name"] == "t"
    assert rows == [{"n": 7}]


def test_archive_stream_fallback_honors_partition_cols(spark, tmp_path):
    """The avro_py fallback must lay out Hive-style dirs for the caller's
    partition_cols (it used to ignore them and always stamp the driver's
    local arrival date)."""
    import json as _json
    import os

    from konohadataplatform_spark.streaming.cdc import ENVELOPE_SCHEMA
    from konohadataplatform_spark.sources.readers import archive_stream
    from konohadataplatform_spark.sources import avro_py

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "f1.json", "w") as f:
        for i in range(6):
            f.write(_json.dumps(
                {"op": "c", "before": None, "after": "{}", "ts_ms": i,
                 "lsn": i, "table": "t_a" if i % 2 else "t_b"}) + "\n")
    raw = spark.readStream.schema(ENVELOPE_SCHEMA).json(str(src))
    q = archive_stream(raw, str(tmp_path / "zone"), str(tmp_path / "ck"),
                       partition_cols=["table"])
    q.awaitTermination(60)
    files = [os.path.join(r, f)
             for r, _d, fs in os.walk(tmp_path / "zone")
             for f in fs if f.endswith(".avro")]
    assert files
    assert any("table=t_a" in p for p in files)
    assert any("table=t_b" in p for p in files)
    rows = [row for p in files for row in avro_py.read_ocf(p)[1]]
    assert len(rows) == 6
    # partition column is carried by the directory, not the payload
    assert all("table" not in r for r in rows)


def test_read_duckdb_federated(spark, tmp_path):
    """S9 federation (Trino-connector analog): gateway mode for dims,
    executor-partitioned range mode for bigger tables — identical rows,
    range predicates pushed into DuckDB per task."""
    import duckdb

    from konohadataplatform_spark.sources.readers import read_duckdb

    db = str(tmp_path / "fed.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE ext AS SELECT i AS id, i % 7 AS grp, 'v' || i AS val "
        "FROM range(0, 1000) t(i)"
    )
    con.close()

    dim = read_duckdb(spark, db, "SELECT * FROM ext WHERE id < 10")
    assert dim.count() == 10

    part = read_duckdb(
        spark, db, "SELECT * FROM ext", partition_col="id", num_partitions=4
    )
    assert part.rdd.getNumPartitions() == 5  # 4 ranges + the IS NULL task
    got = sorted((r.id, r.grp, r.val) for r in part.collect())
    assert len(got) == 1000 and got[0] == (0, 0, "v0") and got[-1] == (999, 5, "v999")

    empty = read_duckdb(
        spark, db, "SELECT * FROM ext WHERE id < 0", partition_col="id"
    )
    assert empty.count() == 0


def test_register_duckdb_tables_federated_join(spark, tmp_path):
    """Federated DuckDB views join against Spark-side tables in one
    SQL statement (the Trino-catalog ergonomics)."""
    import duckdb

    from konohadataplatform_spark.sources.readers import register_duckdb_tables

    db = str(tmp_path / "cat.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE tiers AS SELECT * FROM (VALUES (0, 'low'), (1, 'high')) t(grp, label)")
    con.close()
    register_duckdb_tables(spark, db, ["tiers"], prefix="fed_")
    spark.createDataFrame([(1, 0), (2, 1), (3, 1)], "id long, grp long") \
        .createOrReplaceTempView("local_rows")
    got = sorted(
        tuple(r) for r in spark.sql(
            "SELECT l.id, f.label FROM local_rows l JOIN fed_tiers f USING (grp)"
        ).collect()
    )
    assert got == [(1, "low"), (2, "high"), (3, "high")]


def test_read_duckdb_null_partition_rows_kept(spark, tmp_path):
    """Rows with NULL in the partition column must not be dropped by
    the partitioned fetch (review finding)."""
    import duckdb

    from konohadataplatform_spark.sources.readers import read_duckdb

    db = str(tmp_path / "nulls.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE t AS SELECT CASE WHEN i % 10 = 0 THEN NULL ELSE i END "
        "AS id, i AS v FROM range(0, 100) r(i)"
    )
    con.close()
    part = read_duckdb(spark, db, "SELECT * FROM t", partition_col="id")
    assert part.count() == 100
    assert part.filter("id IS NULL").count() == 10


def test_read_avro_distributed_roundtrip(spark, tmp_path):
    """read_avro closes the raw-zone loop: OCF files written by the
    stdlib codec (incl. partition dirs) come back as a DataFrame with
    partition columns, decoding on executors."""
    import os

    from konohadataplatform_spark.sources import avro_py
    from konohadataplatform_spark.sources.readers import read_avro

    df = spark.createDataFrame(
        [(i, f"name_{i}", float(i) / 2, i % 2 == 0) for i in range(50)],
        "id long, name string, score double, flag boolean",
    )
    root = tmp_path / "zone"
    for day in ("2024-01-01", "2024-01-02"):
        avro_py.write_avro_partitions(
            df.repartition(3), str(root / f"_arrival_date={day}")
        )
    out = read_avro(spark, str(root))
    assert out.count() == 100
    assert set(out.columns) == {"id", "name", "score", "flag", "_arrival_date"}
    assert out.filter("_arrival_date = '2024-01-01'").count() == 50
    got = {
        (r.id, r.name, r.score, r.flag)
        for r in out.filter("_arrival_date = '2024-01-02'").collect()
    }
    assert got == {(i, f"name_{i}", i / 2, i % 2 == 0) for i in range(50)}
    # header-only schema inference matched the writer schema
    some = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".avro")
    ][0]
    assert avro_py.read_ocf_schema(some)["fields"][0]["name"] == "id"


def test_read_avro_single_file(spark, tmp_path):
    from konohadataplatform_spark.sources import avro_py
    from konohadataplatform_spark.sources.readers import read_avro

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    avro_py.write_avro_partitions(df.coalesce(1), str(tmp_path / "one"))
    import os

    f = [
        os.path.join(str(tmp_path / "one"), n)
        for n in os.listdir(tmp_path / "one")
        if n.endswith(".avro")
    ][0]
    out = read_avro(spark, f)
    assert {(r.id, r.v) for r in out.collect()} == {(1, "a"), (2, "b")}


def test_user_registered_view_not_clobbered_by_catalog_sync(spark, tmp_path):
    """r12 review fix: a user view pinned via engine.register() keeps
    shadowing a same-named catalog table across version bumps; tables
    the user never pinned keep syncing to the latest commit."""
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    eng = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))
    eng.save_table("docs", spark.createDataFrame([(1,)], "v long"))
    eng.register("docs", spark.createDataFrame([(99,)], "v long"))
    # a second writer bumps the table version behind this engine's back
    other = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))
    other.catalog.write("docs", spark.createDataFrame([(2,)], "v long"))
    # the pin survives the sync that runs inside sql()
    assert [r.v for r in eng.sql("SELECT v FROM docs").collect()] == [99]
    # an unpinned table still syncs to the external commit
    other.catalog.write("plain", spark.createDataFrame([(7,)], "v long"))
    assert [r.v for r in eng.sql("SELECT v FROM plain").collect()] == [7]


def test_save_table_drops_user_pin_resumes_sync(spark, tmp_path):
    """r12 ADVICE: save_table to a register()-pinned name hands the
    name back to sync management — commits from other sessions are
    reflected again instead of being silently shadowed forever."""
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    eng = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))
    eng.save_table("pint", spark.createDataFrame([(1,)], "v long"))
    eng.register("pint", spark.createDataFrame([(99,)], "v long"))
    assert [r.v for r in eng.sql("SELECT v FROM pint").collect()] == [99]
    # save_table through the pin: the pin is dropped...
    eng.save_table("pint", spark.createDataFrame([(2,)], "v long"))
    assert [r.v for r in eng.sql("SELECT v FROM pint").collect()] == [2]
    # ...and external commits are reflected again
    other = Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))
    other.catalog.write("pint", spark.createDataFrame([(3,)], "v long"))
    assert [r.v for r in eng.sql("SELECT v FROM pint").collect()] == [3]


def test_session_temp_view_user_owned_on_first_sync(spark, tmp_path):
    """r12 ADVICE: a temp view created directly on the SparkSession
    (or via sql('CREATE TEMP VIEW')) that shares a catalog table's
    name is user-owned — the first sync pins it instead of clobbering.
    Views registered by ANOTHER Engine's sync on the same session are
    engine-owned and keep refreshing."""
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    wh = str(tmp_path / "wh")
    writer = Engine(spark, SnapshotCatalog(spark, wh))
    writer.catalog.write("shadowed", spark.createDataFrame([(1,)], "v long"))
    writer.catalog.write("fresh", spark.createDataFrame([(10,)], "v long"))
    # user view created directly on the session BEFORE the engine syncs
    spark.createDataFrame([(99,)], "v long").createOrReplaceTempView(
        "shadowed"
    )
    eng = Engine(spark, SnapshotCatalog(spark, wh))
    assert [r.v for r in eng.sql("SELECT v FROM shadowed").collect()] == [99]
    # unshadowed tables sync normally on the same engine
    assert [r.v for r in eng.sql("SELECT v FROM fresh").collect()] == [10]
    # a SECOND engine on the same session must not mistake the first
    # engine's sync-registered view ("fresh") for a user view: after an
    # external commit it refreshes to the latest version
    writer.catalog.write("fresh", spark.createDataFrame([(11,)], "v long"))
    eng2 = Engine(spark, SnapshotCatalog(spark, wh))
    assert [r.v for r in eng2.sql("SELECT v FROM fresh").collect()] == [11]
    spark.catalog.dropTempView("shadowed")
    spark.catalog.dropTempView("fresh")


def test_recreated_user_view_after_drop_is_not_clobbered(spark, tmp_path):
    """r13 ADVICE: the session-wide engine-ownership set is pruned at
    sync time — a user who DROPs an engine-synced view and recreates
    the name owns the new view; a later sync (even one triggered by a
    new catalog commit) must not clobber it. Also: a GLOBAL temp view
    sharing a catalog table's name must not be mistaken for a local
    user view (tableExists would match it; the local-temp probe
    must not)."""
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, SnapshotCatalog(spark, wh))
    eng.catalog.write("reused", spark.createDataFrame([(1,)], "v long"))
    assert [r.v for r in eng.sql("SELECT v FROM reused").collect()] == [1]
    # user drops the engine-synced view and recreates the name
    spark.catalog.dropTempView("reused")
    spark.createDataFrame([(99,)], "v long").createOrReplaceTempView("reused")
    # an external commit bumps the catalog version; a fresh engine's
    # sync sees an unseen version but must pin the user's view
    other = Engine(spark, SnapshotCatalog(spark, wh))
    other.catalog.write("reused", spark.createDataFrame([(2,)], "v long"))
    eng2 = Engine(spark, SnapshotCatalog(spark, wh))
    assert [r.v for r in eng2.sql("SELECT v FROM reused").collect()] == [99]
    spark.catalog.dropTempView("reused")

    # global temp view does NOT shadow a catalog table
    eng3 = Engine(spark, SnapshotCatalog(spark, wh))
    eng3.catalog.write("gshadow", spark.createDataFrame([(5,)], "v long"))
    spark.createDataFrame([(77,)], "v long").createOrReplaceGlobalTempView(
        "gshadow"
    )
    eng4 = Engine(spark, SnapshotCatalog(spark, wh))
    assert [r.v for r in eng4.sql("SELECT v FROM gshadow").collect()] == [5]
    spark.catalog.dropTempView("gshadow")
    spark.catalog.dropGlobalTempView("gshadow")


def test_case_insensitive_user_view_shadowing(spark, tmp_path):
    """r14 review: Spark stores temp view names lowercased — a catalog
    table 'Events' must treat the user's 'events' view as the same
    name (pin it), not clobber it via an exact-case miss."""
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine

    wh = str(tmp_path / "wh")
    writer = Engine(spark, SnapshotCatalog(spark, wh))
    writer.catalog.write("Shadowed", spark.createDataFrame([(1,)], "v long"))
    spark.createDataFrame([(99,)], "v long").createOrReplaceTempView(
        "shadowed"
    )
    eng = Engine(spark, SnapshotCatalog(spark, wh))
    assert [r.v for r in eng.sql("SELECT v FROM shadowed").collect()] == [99]
    spark.catalog.dropTempView("shadowed")


def _jobs_launched(spark, fn):
    """Run ``fn`` and count the Spark jobs it launched on this thread,
    through a job group and the status tracker — a count, so host
    speed cannot move it."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_statement_launches_no_job_before_its_action(spark, tmp_path):
    """With a catalog attached and its tables already synced, building
    a point lookup through Engine.sql launches no Spark job: the
    temp-view listing and the version checks stay on the driver."""
    from konohadataplatform_spark.catalog import SnapshotCatalog

    s = spark.newSession()
    eng = Engine(s, SnapshotCatalog(s, str(tmp_path / "wh")))
    eng.register_star_schema(SF_DIR)
    eng.save_table("picked", s.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    eng.sql("SELECT 1").collect()  # syncs the catalog tables

    lookup, jobs = _jobs_launched(
        s, lambda: eng.sql("SELECT o_custkey FROM orders WHERE o_orderkey = 1")
    )
    assert jobs == 0
    assert len(lookup.collect()) == 1
    picked, jobs = _jobs_launched(s, lambda: eng.sql("SELECT v FROM picked WHERE k = 2"))
    assert jobs == 0
    assert [r.v for r in picked.collect()] == ["b"]


def test_session_open_launches_no_job_and_keeps_base_schemas(spark, tmp_path):
    """SessionEngine(base) replays the base's star-schema views with
    the parquet schemas the base resolved: no inference job, and every
    clone view has exactly the base view's schema (events.ts
    normalized to TIMESTAMP in both)."""
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import SessionEngine

    s = spark.newSession()
    base = Engine(s, SnapshotCatalog(s, str(tmp_path / "wh")))
    names = list(base.register_star_schema(SF_DIR))

    clone, jobs = _jobs_launched(s, lambda: SessionEngine(base))
    assert jobs == 0
    # a clone of a clone replays the same schemas, still without a job
    _, jobs = _jobs_launched(s, lambda: SessionEngine(clone))
    assert jobs == 0

    assert "events" in names
    for name in names:
        assert clone.table(name).schema == base.table(name).schema, name
    assert isinstance(clone.table("events").schema["ts"].dataType, T.TimestampType)
    q = "SELECT count(*) AS n, min(ts) AS lo, max(ts) AS hi FROM events"
    assert clone.sql(q).collect() == base.sql(q).collect()
