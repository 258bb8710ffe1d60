"""End-to-end engine tests: DuckDB-dialect statements through DuckSparkSession.

Statement shapes mirror the reference gold queries
(/root/reference/eval/data/dev.json, cited per test)."""

import os

import pytest


def test_simple_select(loaded_engine):
    # dev.json:28 shape
    df = loaded_engine.execute("SELECT n_name FROM nation WHERE n_regionkey = 0")
    assert df.count() == 5


def test_join_group_topk(loaded_engine):
    # dev.json:12 shape: join + group + order/limit
    df = loaded_engine.execute(
        """
        SELECT c.c_name, count(*) AS n
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_name ORDER BY n DESC, c.c_name LIMIT 5
        """
    )
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["n"] >= rows[-1]["n"]


def test_group_by_all_order_by_all(loaded_engine):
    # dev.json:268,588
    df = loaded_engine.execute(
        "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem "
        "GROUP BY ALL ORDER BY ALL"
    )
    assert df.count() >= 3


def test_star_exclude(loaded_engine):
    # dev.json:180
    df = loaded_engine.execute("SELECT * EXCLUDE (r_name) FROM region")
    assert df.columns == ["r_regionkey"]


def test_star_replace(loaded_engine):
    # dev.json:404
    df = loaded_engine.execute(
        "SELECT * REPLACE (upper(r_name) AS r_name) FROM region"
    )
    assert df.columns == ["r_regionkey", "r_name"]
    assert all(r["r_name"] == r["r_name"].upper() for r in df.collect())


def test_columns_regex(loaded_engine):
    # dev.json:164
    df = loaded_engine.execute("SELECT COLUMNS('^l_ship') FROM lineitem LIMIT 1")
    assert df.columns == ["l_shipdate"]


def test_columns_regex_wrapped(loaded_engine):
    # dev.json:396
    df = loaded_engine.execute("SELECT length(COLUMNS('name$')) FROM nation LIMIT 1")
    # dev.json:396 shape — per-column expansion aliased to the column name
    assert df.columns == ["n_name"]
    assert df.collect()[0][0] > 0


def test_from_first(loaded_engine):
    # dev.json:284 terminal statement
    df = loaded_engine.execute("FROM region")
    assert df.count() == 5


def test_cte_scalar_subquery(loaded_engine):
    # dev.json:284 shape
    df = loaded_engine.execute(
        """
        WITH per_nation AS (
            SELECT n_nationkey, count(*) AS cnt
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_nationkey
        )
        SELECT * FROM per_nation WHERE cnt = (SELECT max(cnt) FROM per_nation)
        """
    )
    assert df.count() >= 1


def test_string_slice_and_index(loaded_engine):
    # dev.json:292,460
    df = loaded_engine.execute(
        "SELECT c_name, c_name[1] AS first_ch, c_name[:8] AS prefix "
        "FROM customer LIMIT 3"
    )
    for r in df.collect():
        assert r["first_ch"] == r["c_name"][0]
        assert r["prefix"] == r["c_name"][:8]


def test_array_index_one_based(loaded_engine):
    # dev.json:436 — embedding is ARRAY<FLOAT>
    df = loaded_engine.execute(
        "SELECT vec_id, embedding[1] AS e1 FROM embeddings LIMIT 2"
    )
    import math

    rows = df.collect()
    full = loaded_engine.execute("SELECT embedding FROM embeddings LIMIT 2").collect()
    for r, f in zip(rows, full):
        assert math.isclose(r["e1"], f["embedding"][0], rel_tol=1e-6)


def test_struct_and_list_literals(engine):
    # dev.json:476,484
    df = engine.execute("SELECT {'a':1, 'b':2, 'c':3} AS s, [1,2,3] AS l")
    row = df.collect()[0]
    assert row["s"]["a"] == 1 and row["l"] == [1, 2, 3]


def test_json_arrow(engine):
    # dev.json:540
    df = engine.execute("""SELECT '{"from":"pavel@toledo.com"}'->>'from' AS f""")
    assert df.collect()[0]["f"] == "pavel@toledo.com"


def test_datediff_minute(engine):
    # dev.json:276 — boundary counting
    df = engine.execute(
        "SELECT datediff('minute', TIMESTAMP '2020-01-01 00:00:59', "
        "TIMESTAMP '2020-01-01 00:01:01') AS m"
    )
    assert df.collect()[0]["m"] == 1


def test_using_sample(loaded_engine):
    # dev.json:172 — count-ratio check like the reference evaluator;
    # bounds scale with the table so the test is sf-independent (system
    # sampling keeps whole blocks, so variance around 10% is wide)
    total = loaded_engine.execute("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    df = loaded_engine.execute("SELECT * FROM lineitem USING SAMPLE 10%")
    n = df.count()
    assert 0.02 * total < n < 0.3 * total, (n, total)


def test_ddl_dml_roundtrip(engine):
    # dev.json:228,236,252 shapes
    engine.execute(
        "CREATE TABLE IF NOT EXISTS products (maker varchar(10), "
        "model varchar(10), type varchar(10))"
    )
    engine.execute("INSERT INTO products VALUES ('A', '1001', 'pc')")
    engine.execute("INSERT INTO products VALUES ('B', '1002', 'laptop')")
    df = engine.execute("SELECT * FROM products ORDER BY model")
    assert [r["maker"] for r in df.collect()] == ["A", "B"]
    info = engine.execute("PRAGMA table_info('products')")
    assert [r["name"] for r in info.collect()] == ["maker", "model", "type"]


def test_insert_runs_no_eager_job(engine):
    # the inserted-row Count is lazy: an INSERT whose result is ignored —
    # the bulk-load loop shape — must launch zero Spark jobs
    sc = engine.spark.sparkContext
    engine.execute("CREATE TABLE t_lazyins (x INTEGER, y VARCHAR)")
    sc.setJobGroup("ins_probe", "insert probe")
    try:
        res = engine.execute("INSERT INTO t_lazyins VALUES (1,'a'), (2,'b')")
        jobs = sc.statusTracker().getJobIdsForGroup("ins_probe")
        assert list(jobs) == [], f"INSERT launched jobs: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # collecting the result still reports DuckDB's inserted-row count
    assert res.collect()[0]["Count"] == 2
    n = engine.execute("SELECT count(*) AS n FROM t_lazyins").collect()[0]["n"]
    assert n == 2


def test_dml_lineage_truncation(engine):
    # 20 INSERTs cross the localCheckpoint cadence (16): results stay
    # correct and the registered plan no longer stacks 20 unions
    engine.execute("CREATE TABLE t_chain (x INTEGER)")
    for i in range(20):
        engine.execute(f"INSERT INTO t_chain VALUES ({i})")
    rows = engine.execute(
        "SELECT count(*) AS n, sum(x) AS s FROM t_chain"
    ).collect()
    assert rows[0]["n"] == 20 and rows[0]["s"] == sum(range(20))
    plan = engine.table("t_chain")._jdf.queryExecution().analyzed().toString()
    assert "Union" not in plan.split("LogicalRDD")[0] or plan.count("Union") < 8


def test_update_delete(engine):
    engine.execute("CREATE TABLE t_upd (id INTEGER, v VARCHAR)")
    engine.execute("INSERT INTO t_upd VALUES (1,'a'), (2,'b')")
    engine.execute("UPDATE t_upd SET v = NULL WHERE id = 2")
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT * FROM t_upd").collect()}
    assert rows == {1: "a", 2: None}
    engine.execute("DELETE FROM t_upd WHERE id = 1")
    assert engine.execute("SELECT count(*) AS n FROM t_upd").collect()[0]["n"] == 1


def test_alter_add_column_list(engine):
    # dev.json:452 — ADD COLUMN phone_numbers VARCHAR[]
    engine.execute("CREATE TABLE t_alt (id INTEGER)")
    engine.execute("INSERT INTO t_alt VALUES (1)")
    engine.execute("ALTER TABLE t_alt ADD COLUMN phone_numbers VARCHAR[]")
    engine.execute("INSERT INTO t_alt VALUES (2, ['12312323', '23123344'])")
    desc = {r["column_name"]: r["column_type"]
            for r in engine.execute("DESCRIBE t_alt").collect()}
    assert desc["phone_numbers"] == "VARCHAR[]"
    rows = engine.execute(
        "SELECT phone_numbers[1] AS p1 FROM t_alt WHERE id = 2"
    ).collect()
    assert rows[0]["p1"] == "12312323"


def test_alter_column_type(engine):
    # dev.json:524
    engine.execute("CREATE TABLE t_ty (email VARCHAR)")
    engine.execute("ALTER TABLE t_ty ALTER COLUMN email SET DATA TYPE VARCHAR")
    desc = engine.execute("DESCRIBE t_ty").collect()
    assert desc[0]["column_type"] == "VARCHAR"


def test_fixed_array_create(engine):
    # dev.json:492 — CREATE TABLE test (embeddings FLOAT[100])
    engine.execute("CREATE TABLE t_fix (embeddings FLOAT[100])")
    desc = engine.execute("DESCRIBE t_fix").collect()
    assert desc[0]["column_type"] == "FLOAT[100]"  # DuckDB keeps the length
    with pytest.raises(Exception):
        engine.execute("INSERT INTO t_fix VALUES ([1.0, 2.0])")


def test_struct_column_ddl(engine):
    # dev.json:500,508
    engine.execute(
        "CREATE TABLE t_struct (person STRUCT(name VARCHAR, id INTEGER))"
    )
    engine.execute("INSERT INTO t_struct VALUES ({'name':'Alice', 'id': 1})")
    row = engine.execute("SELECT person.name AS n FROM t_struct").collect()[0]
    assert row["n"] == "Alice"


def test_copy_roundtrip_csv(engine, tmp_path):
    # dev.json:324-333
    engine.execute("CREATE TABLE c_csv (id INTEGER, name VARCHAR)")
    engine.execute("INSERT INTO c_csv VALUES (1,'x'), (2,'y')")
    p = str(tmp_path / "out.csv")
    engine.execute(f"COPY c_csv TO '{p}'")
    assert os.path.exists(p)
    engine.execute(f"COPY c_csv FROM '{p}'")
    assert engine.execute("SELECT count(*) AS n FROM c_csv").collect()[0]["n"] == 4


def test_copy_query_to_parquet(engine, tmp_path):
    # dev.json:204
    engine.execute("CREATE TABLE c_pq (id INTEGER)")
    engine.execute("INSERT INTO c_pq VALUES (1), (2), (3)")
    p = str(tmp_path / "out.parquet")
    engine.execute(f"COPY (SELECT * FROM c_pq WHERE id > 1) TO '{p}' (FORMAT 'parquet')")
    df = engine.execute(f"SELECT * FROM read_parquet('{p}')")
    assert df.count() == 2


def test_copy_partitioned_parquet(engine, tmp_path):
    # dev.json:340-341
    engine.execute("CREATE TABLE c_part (id INTEGER, city VARCHAR)")
    engine.execute(
        "INSERT INTO c_part VALUES (1,'Amsterdam'), (2,'Rotterdam'), (3,'Amsterdam')"
    )
    root = str(tmp_path / "part_out")
    engine.execute(
        f"COPY c_part TO '{root}' (FORMAT PARQUET, PARTITION_BY (city), OVERWRITE_OR_IGNORE)"
    )
    df = engine.execute(f"SELECT * FROM read_parquet('{root}/city=Amsterdam/*.parquet')")
    rows = df.collect()
    assert len(rows) == 2
    assert all(r["city"] == "Amsterdam" for r in rows)


def test_read_csv_auto_with_columns(engine, tmp_path):
    # dev.json:372
    p = str(tmp_path / "test.csv")
    with open(p, "w") as f:
        f.write("customer_id,firstname\n10,jo\n11,mary\n")
    df = engine.execute(
        f"SELECT * FROM read_csv_auto('{p}', columns={{'customer_id': 'VARCHAR', 'firstname': 'VARCHAR'}})"
    )
    rows = df.collect()
    assert rows[0]["customer_id"] == "10"  # VARCHAR, not INT


def test_read_csv_auto_http_staging(engine, tmp_path):
    # dev.json:196 — read_csv_auto('https://…') via httpfs. No network in
    # CI, so serve the fixture from an in-process loopback http.server;
    # the staging path (io_utils.stage_if_remote) is byte-identical for a
    # real remote URL.
    import http.server
    import threading

    (tmp_path / "fixture.csv").write_text("id,name\n1,ada\n2,grace\n")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/fixture.csv"
        df = engine.execute(f"SELECT * FROM read_csv_auto('{url}') ORDER BY id")
        rows = df.collect()
        assert [r["name"] for r in rows] == ["ada", "grace"]
        assert rows[0]["id"] == 1  # schema inferred, not all-VARCHAR
        # staging is cached per-URL: a second read must not re-download
        from duckdb_nsql_spark import io_utils

        staged = io_utils._STAGING[url]
        assert engine.execute(
            f"SELECT count(*) AS n FROM read_csv_auto('{url}')"
        ).collect()[0]["n"] == 2
        assert io_utils._STAGING[url] == staged
        # enable_external_access=false must refuse remote sources
        engine.execute("SET enable_external_access = false")
        import pytest as _pytest

        with _pytest.raises(Exception, match="external"):
            engine.execute(f"SELECT * FROM read_csv_auto('{url}')")
        engine.execute("SET enable_external_access = true")
    finally:
        srv.shutdown()
        srv.server_close()


def test_ctas_from_file(engine, tmp_path):
    # dev.json:212
    p = str(tmp_path / "titanic.csv")
    with open(p, "w") as f:
        f.write("id,age\n1,22\n2,38\n")
    engine.execute(f"CREATE TABLE titanic AS (SELECT * FROM read_csv_auto('{p}'))")
    assert engine.execute("SELECT count(*) AS n FROM titanic").collect()[0]["n"] == 2


def test_pragma_set_current_setting(engine):
    # dev.json:564-574,220
    engine.execute("SET threads = 10")
    df = engine.execute("SELECT current_setting('threads') AS threads")
    assert df.collect()[0]["threads"] == 10
    engine.execute("SET memory_limit='20G'")
    df = engine.execute("SELECT current_setting('memory_limit') AS m")
    assert df.collect()[0]["m"] == "18.6 GiB"  # DuckDB's own normalization
    engine.execute("PRAGMA default_null_order='NULLS LAST'")
    assert engine.settings["default_null_order"] == "nulls_last"


def test_null_order_default(engine):
    engine.execute("CREATE TABLE t_null (v INTEGER)")
    engine.execute("INSERT INTO t_null VALUES (2), (NULL), (1)")
    rows = engine.execute("SELECT v FROM t_null ORDER BY v").collect()
    assert [r["v"] for r in rows] == [1, 2, None]  # DuckDB default NULLS LAST


def test_version(engine):
    # dev.json:244
    df = engine.execute("CALL pragma_version()")
    assert df.columns == ["library_version", "source_id"]


def test_show_tables_and_databases(engine):
    engine.execute("CREATE TABLE show_me (x INTEGER)")
    names = [r["name"] for r in engine.execute("PRAGMA show_tables").collect()]
    assert "show_me" in names
    dbs = [r["database_name"] for r in engine.execute("SHOW DATABASES").collect()]
    assert "memory" in dbs


def test_summarize(loaded_engine):
    # dev.json:188,548
    df = loaded_engine.execute("SUMMARIZE orders")
    rows = {r["column_name"]: r for r in df.collect()}
    assert set(rows) == {"o_orderkey", "o_custkey", "o_orderstatus",
                         "o_totalprice", "o_orderdate", "o_orderpriority"}
    assert rows["o_totalprice"]["avg"] is not None
    assert rows["o_orderstatus"]["avg"] is None


def test_explain(loaded_engine):
    # dev.json:412
    df = loaded_engine.execute("EXPLAIN SELECT count(*) FROM lineitem")
    assert df.count() >= 1


def test_attach_duckdb_file(engine, tmp_path):
    # dev.json:596
    import duckdb

    p = str(tmp_path / "who.ddb")
    con = duckdb.connect(p)
    con.execute("CREATE TABLE ambient AS SELECT 1 AS x, 'a' AS y")
    con.close()
    engine.execute(f"ATTACH '{p}'")
    dbs = [r["database_name"] for r in engine.execute("SHOW DATABASES").collect()]
    assert "who" in dbs
    df = engine.execute("SELECT * FROM who.ambient")
    assert df.collect()[0]["x"] == 1
    # DuckDB's catalog search path: unambiguous bare names resolve across
    # attached databases too
    df2 = engine.execute("SELECT y FROM ambient WHERE x = 1")
    assert df2.collect()[0]["y"] == "a"


def test_pragma_storage_info(loaded_engine):
    # parquet-backed table: one row per (row_group, column) with footer
    # min/max stats; job-free (VALUES relation)
    rows = loaded_engine.execute("PRAGMA storage_info('orders')").collect()
    assert len(rows) >= 6
    cols = {r["column_name"] for r in rows}
    assert "o_orderkey" in cols and "o_totalprice" in cols
    ok = next(r for r in rows if r["column_name"] == "o_orderkey")
    assert ok["count"] and ok["stats_min"] is not None
    # in-memory table: schema-only pseudo-group
    loaded_engine.execute("CREATE TABLE t_si (x INTEGER)")
    mem = loaded_engine.execute("PRAGMA storage_info('t_si')").collect()
    assert [r["column_name"] for r in mem] == ["x"]
    assert mem[0]["count"] is None


def test_cursor_style_chaining(loaded_engine):
    # the reference consumes DuckDB as connection.execute(sql).fetchdf()
    # (examples/utils.py:16-22); the chain must work verbatim here
    res = loaded_engine.execute("SELECT n_name FROM nation ORDER BY n_name")
    pdf = res.fetchdf()
    assert len(pdf) == 25 and list(pdf.columns) == ["n_name"]
    rows = loaded_engine.execute("SELECT 1 AS a, 'x' AS b").fetchall()
    assert rows == [(1, "x")]
    one = loaded_engine.execute("SELECT 42 AS v").fetchone()
    assert one == (42,)
    # still a plain Spark DataFrame
    assert res.columns == ["n_name"]


def test_map_column_type(engine):
    # MAP(K, V) columns: declared type parses, literals insert, and
    # bracket access reads back (map expressions are covered by q72)
    engine.execute("CREATE TABLE kv (id INTEGER, m MAP(VARCHAR, INTEGER))")
    engine.execute("INSERT INTO kv VALUES (1, MAP {'a': 1, 'b': 2})")
    # DuckDB map extraction yields a LIST ([2]); [1] unwraps the value
    row = engine.execute(
        "SELECT m['b'] AS b, m['b'][1] AS v FROM kv WHERE id = 1"
    ).collect()[0]
    assert list(row["b"]) == [2] and row["v"] == 2
    desc = {r["column_name"]: r["column_type"]
            for r in engine.execute("DESCRIBE kv").collect()}
    assert desc["m"] == "MAP(VARCHAR, INTEGER)"


def test_enum_types(engine):
    import pytest as _pytest

    engine.execute("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    engine.execute(
        "CREATE TABLE person (name VARCHAR, current_mood mood, "
        "tag ENUM('a', 'b'))"
    )
    engine.execute("INSERT INTO person VALUES ('alice', 'happy', 'a')")
    engine.execute("INSERT INTO person VALUES ('bob', NULL, 'b')")
    rows = {r["name"]: r["current_mood"]
            for r in engine.execute("SELECT * FROM person").collect()}
    assert rows == {"alice": "happy", "bob": None}
    # DESCRIBE renders the member list, DuckDB-style
    desc = {r["column_name"]: r["column_type"]
            for r in engine.execute("DESCRIBE person").collect()}
    assert desc["current_mood"] == "ENUM('sad', 'ok', 'happy')"
    assert desc["tag"] == "ENUM('a', 'b')"
    # out-of-members value refuses, DuckDB Conversion Error style
    with _pytest.raises(Exception, match="Conversion Error"):
        engine.execute("INSERT INTO person VALUES ('eve', 'angry', 'a')")
    # enum compares as its string value
    n = engine.execute(
        "SELECT count(*) AS n FROM person WHERE current_mood = 'happy'"
    ).collect()[0]["n"]
    assert n == 1
    with _pytest.raises(Exception, match="already exists"):
        engine.execute("CREATE TYPE mood AS ENUM ('x')")
    engine.execute("DROP TYPE mood")
    engine.execute("DROP TYPE IF EXISTS mood")
    with _pytest.raises(Exception):
        engine.execute("DROP TYPE mood")


def test_enum_resolution_scoped_to_referenced_tables(engine):
    """A same-named VARCHAR column in an UNRELATED table must keep plain
    lexicographic min/max/ORDER BY — enum member-code mapping applies
    only when the statement references the enum table (r6 ADVICE:
    enum_values resolved bare names globally, so max(m) on other_t was
    rewritten through the enum's member list and element_at(...,0)
    raised on non-members)."""
    engine.execute("CREATE TYPE mood7 AS ENUM ('sad', 'ok', 'happy')")
    engine.execute("CREATE TABLE et7 (m mood7)")
    engine.execute("INSERT INTO et7 VALUES ('ok'), ('happy'), ('sad')")
    engine.execute("CREATE TABLE other7 (m VARCHAR)")
    engine.execute("INSERT INTO other7 VALUES ('zebra'), ('apple')")
    # unrelated table: lexicographic, and no runtime error on non-members
    row = engine.execute(
        "SELECT min(m) AS lo, max(m) AS hi FROM other7"
    ).collect()[0]
    assert (row["lo"], row["hi"]) == ("apple", "zebra")
    vals = [r["m"] for r in
            engine.execute("SELECT m FROM other7 ORDER BY m").collect()]
    assert vals == ["apple", "zebra"]
    # enum table: member-code order (min='sad' code 0, max='happy' code 2)
    row = engine.execute(
        "SELECT min(m) AS lo, max(m) AS hi FROM et7"
    ).collect()[0]
    assert (row["lo"], row["hi"]) == ("sad", "happy")
    vals = [r["m"] for r in
            engine.execute("SELECT m FROM et7 ORDER BY m").collect()]
    assert vals == ["sad", "ok", "happy"]
    # enum_code of NULL renders NULL (nullif guard), never -1
    row = engine.execute(
        "SELECT enum_code(NULL::mood7) AS c"
    ).collect()[0]
    assert row["c"] is None
    engine.execute("DROP TABLE et7")
    engine.execute("DROP TABLE other7")
    engine.execute("DROP TYPE mood7")


def test_enum_resolution_through_views(engine):
    """An enum column read THROUGH a view must still resolve to member-
    code ordering (r7 ADVICE: statement-scoped resolution only matched
    base-table names, so SELECT max(m) FROM v silently fell back to
    lexicographic order). Views expand transitively (view over view)."""
    engine.execute("CREATE TYPE mood8 AS ENUM ('sad', 'ok', 'happy')")
    engine.execute("CREATE TABLE et8 (m mood8, v INT)")
    engine.execute(
        "INSERT INTO et8 VALUES ('happy', 1), ('sad', 2), ('ok', 3)"
    )
    engine.execute("CREATE VIEW ev8 AS SELECT m, v FROM et8")
    engine.execute("CREATE VIEW evv8 AS SELECT * FROM ev8")
    row = engine.execute(
        "SELECT min(m) AS lo, max(m) AS hi FROM ev8"
    ).collect()[0]
    assert (row["lo"], row["hi"]) == ("sad", "happy")
    vals = [r["m"] for r in
            engine.execute("SELECT m FROM ev8 ORDER BY m").collect()]
    assert vals == ["sad", "ok", "happy"]
    # transitively through a view over the view
    row = engine.execute("SELECT min(m) AS lo FROM evv8").collect()[0]
    assert row["lo"] == "sad"
    engine.execute("DROP VIEW evv8")
    engine.execute("DROP VIEW ev8")
    engine.execute("DROP TABLE et8")
    engine.execute("DROP TYPE mood8")


def test_create_macro_scalar(loaded_engine):
    import pytest as _pytest

    loaded_engine.execute("CREATE MACRO one() AS 1")
    loaded_engine.execute(
        "CREATE MACRO disc_price(p, d) AS p * (1 - d)"
    )
    # macro-calls-macro, argument is an expression (parenthesized safely)
    loaded_engine.execute(
        "CREATE OR REPLACE MACRO disc_plus(p, d) AS disc_price(p, d) + one()"
    )
    df = loaded_engine.execute(
        "SELECT round(sum(disc_price(l_extendedprice, l_discount)), 2) AS rev, "
        "       max(disc_plus(l_extendedprice, l_discount / 2 + 0)) AS m "
        "FROM lineitem"
    )
    row = df.collect()[0]
    oracle = loaded_engine.execute(
        "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev, "
        "       max(l_extendedprice * (1 - (l_discount / 2 + 0)) + 1) AS m "
        "FROM lineitem"
    ).collect()[0]
    assert row["rev"] == oracle["rev"] and row["m"] == oracle["m"]
    # wrong arity is a loud error
    with _pytest.raises(Exception, match="expects 2"):
        loaded_engine.execute("SELECT disc_price(1) AS x")
    # duplicate without OR REPLACE refuses; DROP MACRO removes
    with _pytest.raises(Exception, match="already exists"):
        loaded_engine.execute("CREATE MACRO one() AS 2")
    loaded_engine.execute("DROP MACRO one")
    with _pytest.raises(Exception):
        loaded_engine.execute("SELECT one() AS x").collect()
    loaded_engine.execute("DROP MACRO IF EXISTS one")  # idempotent
    loaded_engine.execute("DROP MACRO disc_price; DROP MACRO disc_plus")


def test_multi_statement(engine):
    df = engine.execute(
        "CREATE TABLE ms (x INTEGER); INSERT INTO ms VALUES (1); SELECT * FROM ms"
    )
    assert df.collect()[0]["x"] == 1


def test_quoted_alias_with_space(loaded_engine):
    # dev.json:76
    df = loaded_engine.execute(
        "SELECT o_totalprice/0.85 AS 'price (USD)' FROM orders LIMIT 1"
    )
    assert df.columns == ["price (USD)"]


def test_runtime_confs_restored_on_attach(spark):
    # the driver hands the engine a foreign session — semantics-critical
    # confs must be (re)applied on attach
    from duckdb_nsql_spark import DuckSparkSession

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    DuckSparkSession(spark=spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_having_on_alias(loaded_engine):
    # dev.json:20
    df = loaded_engine.execute(
        "SELECT o_custkey, sum(o_totalprice) AS balance FROM orders "
        "GROUP BY o_custkey HAVING balance > 0 LIMIT 5"
    )
    assert df.count() == 5


def test_create_schema_if_not_exists(engine):
    # ADVICE r1: name index landed on EXISTS instead of the schema name
    engine.execute("CREATE SCHEMA IF NOT EXISTS s2")
    dbs = [r["database_name"] for r in engine.execute("SHOW DATABASES").collect()]
    assert "s2" in dbs and "EXISTS" not in dbs
    engine.execute("CREATE SCHEMA plain_schema")
    dbs = [r["database_name"] for r in engine.execute("SHOW DATABASES").collect()]
    assert "plain_schema" in dbs


def test_union_by_name(loaded_engine):
    df = loaded_engine.execute(
        "SELECT n_regionkey AS k, count(*) AS n FROM nation GROUP BY n_regionkey "
        "UNION ALL BY NAME "
        "SELECT r_regionkey AS k, r_name FROM region ORDER BY k, n NULLS FIRST"
    )
    assert df.columns == ["k", "n", "r_name"]
    rows = df.collect()
    assert len(rows) == 10
    # region rows NULL-fill n; nation rows NULL-fill r_name
    assert sum(1 for r in rows if r["n"] is None) == 5
    assert sum(1 for r in rows if r["r_name"] is None) == 5
    # non-ALL variant dedups
    df2 = loaded_engine.execute(
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS a"
    )
    assert sorted(r["a"] for r in df2.collect()) == [1, 2]


def test_cte_materialization_repeated_ref(loaded_engine):
    # DuckDB materializes a CTE referenced 2+ times; mirror via persisted
    # temp view routing (session._materialize_repeated_ctes). `agg` is
    # output-REDUCING (GROUP BY at the top level): it materializes
    # regardless of input size — the aggregation barrier blocks pushdown
    # anyway, so inlining would only recompute it 3x. `base` (scan+filter,
    # non-reducing, small input) stays inline where filters can push.
    df = loaded_engine.execute(
        """
        WITH base AS (
            SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 0
        ),
        agg (k, tot) AS (
            SELECT o_custkey, sum(o_totalprice) FROM base GROUP BY o_custkey
        )
        SELECT a.k, a.tot FROM agg a JOIN agg b ON a.k = b.k
        WHERE a.tot > (SELECT avg(tot) FROM agg)
        ORDER BY a.tot DESC, a.k LIMIT 5
        """
    )
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["tot"] >= rows[-1]["tot"]
    # `agg`'s result is small (≤ LOCAL_RELATION_MAX_ROWS custkeys at test
    # SF), so the materialized CTE collapses to one LocalRelation:
    # LocalTableScan in the plan, nothing left persisted
    assert len(loaded_engine._cte_persisted) == 0
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    # `agg` must not leak into the catalog either way
    import pytest as _pytest

    with _pytest.raises(Exception):
        loaded_engine.execute("SELECT * FROM agg").collect()
    # forced AS MATERIALIZED bypasses the size gate, even single-ref
    # (and its 1-row result then localizes)
    df2 = loaded_engine.execute(
        "WITH m AS MATERIALIZED (SELECT count(*) AS n FROM nation) "
        "SELECT n + 0 AS n FROM m"
    )
    assert df2.collect()[0]["n"] == 25
    assert len(loaded_engine._cte_persisted) == 0


def test_cte_materialization_fires_above_size_gate(loaded_engine, monkeypatch):
    # With the gate lowered to zero the repeated-ref CTE persists — the
    # path a fact-table CTE takes at cluster scale.
    from duckdb_nsql_spark import session as sess

    monkeypatch.setattr(sess, "CTE_MATERIALIZE_MIN_INPUT_BYTES", 0)
    # results over the row cap keep the distributed persisted view — the
    # path a fact-table CTE takes at cluster scale
    monkeypatch.setattr(sess, "LOCAL_RELATION_MAX_ROWS", 0)
    df = loaded_engine.execute(
        """
        WITH agg (k, tot) AS (
            SELECT o_custkey, sum(o_totalprice) FROM orders GROUP BY o_custkey
        )
        SELECT a.k, a.tot FROM agg a JOIN agg b ON a.k = b.k
        ORDER BY a.tot DESC, a.k LIMIT 5
        """
    )
    assert len(df.collect()) == 5
    assert len(loaded_engine._cte_persisted) == 1


def test_respool_preserves_nanos_timestamp_cast(spark, tmp_path):
    """A >2MB single-row-group parquet with TIMESTAMP(NANOS) columns gets
    respooled into a directory; nanos detection must still fire on the
    directory so ts surfaces as TIMESTAMP, not epoch-nanos BIGINT
    (regression: sf0.1 events.parquet)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from duckdb_nsql_spark import io_utils

    n = 400_000
    tbl = pa.table(
        {
            "ts": pa.array(
                [1_700_000_000_000_000_000 + i * 1_000_000_000 for i in range(n)],
                type=pa.timestamp("ns"),
            ),
            "pad": pa.array([f"row-{i:020d}" for i in range(n)]),
        }
    )
    p = str(tmp_path / "ev.parquet")
    pq.write_table(tbl, p, row_group_size=n)
    scan = io_utils.parallel_scan_path(p)
    assert scan != p and os.path.isdir(scan)  # actually respooled
    df = io_utils.read_parquet_table(spark, scan)
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    first = df.orderBy("ts").first()
    assert first.ts.year == 2023


def test_drop_table_clears_enum_and_type_state(spark):
    """DROP TABLE / recreate must not inherit the old table's ENUM
    constraints: valid INSERTs into the new table raised a false
    'Conversion Error' and DESCRIBE rendered the stale ENUM type
    (round-3 advisory)."""
    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark)
    eng.execute("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    eng.execute("CREATE TABLE moods (m mood)")
    eng.execute("DROP TABLE moods")
    eng.execute("CREATE TABLE moods (m VARCHAR)")
    eng.execute("INSERT INTO moods VALUES ('not_a_mood')")  # must not raise
    desc = {r["column_name"]: r["column_type"] for r in eng.execute("DESCRIBE moods").collect()}
    assert desc["m"] == "VARCHAR"
    # CREATE OR REPLACE takes the same path
    eng.execute("CREATE TABLE m2 (m mood)")
    eng.execute("CREATE OR REPLACE TABLE m2 (m VARCHAR)")
    eng.execute("INSERT INTO m2 VALUES ('whatever')")


def test_bare_name_does_not_capture_schema_qualified(spark):
    """A bare name resolves across attached dbs' TOP-LEVEL tables only —
    a schema-qualified registration must not be silently captured."""
    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark)
    eng.register("myschema.people", spark.range(3).toDF("x"))
    try:
        eng.execute("SELECT * FROM people")
        raised = False
    except Exception:
        raised = True
    assert raised, "bare name silently resolved a schema-qualified table"


def test_attach_spools_cleaned_on_detach(spark, tmp_path):
    """ATTACH spool dirs are tracked per alias and deleted on DETACH
    (round-3 advisory: they leaked for the process lifetime)."""
    import duckdb

    from duckdb_nsql_spark import DuckSparkSession

    p = str(tmp_path / "leakcheck.ddb")
    con = duckdb.connect(p)
    con.execute("CREATE TABLE t1 AS SELECT 42 AS x")
    con.close()
    eng = DuckSparkSession(spark=spark)
    eng.execute(f"ATTACH '{p}' AS leakdb")
    spools = list(eng._attach_spools.get("leakdb", []))
    assert spools and all(os.path.isdir(d) for d in spools)
    assert eng.execute("SELECT x FROM leakdb.t1").collect()[0]["x"] == 42
    eng.execute("DETACH leakdb")
    assert not eng._attach_spools.get("leakdb")
    assert all(not os.path.isdir(d) for d in spools)


def test_write_bucketed_append_preserves_data(spark):
    """write_bucketed(mode='append') must not drop the existing table or
    delete its files (round-3 advisory: unconditional rmtree)."""
    from duckdb_nsql_spark.sources import bucketed

    df1 = spark.range(0, 100).toDF("k")
    df2 = spark.range(100, 150).toDF("k")
    bucketed.write_bucketed(df1, "bkt_append_t", ["k"], 4)
    out = bucketed.write_bucketed(df2, "bkt_append_t", ["k"], 4, mode="append")
    assert out.count() == 150
    spark.sql("DROP TABLE IF EXISTS bkt_append_t")


def test_durable_tables_survive_session_restart(spark, tmp_path):
    """connect(database=dir): managed tables persist across sessions via
    the copy-on-write parquet warehouse — data, DML results, ENUM
    constraint metadata, and DESCRIBE rendering all survive a restart."""
    from duckdb_nsql_spark import connect

    wh = str(tmp_path / "wh")
    eng = connect(spark=spark, database=wh)
    eng.execute("CREATE TYPE mood AS ENUM ('sad', 'happy')")
    eng.execute("CREATE TABLE people (name VARCHAR, m mood)")
    eng.execute("INSERT INTO people VALUES ('ada', 'happy'), ('bob', 'sad')")
    eng.execute("UPDATE people SET m = 'happy' WHERE name = 'bob'")
    eng.execute("ALTER TABLE people ADD COLUMN age INTEGER")
    eng.execute("CREATE TABLE empty_t (x INTEGER)")  # empty-table edge
    eng.close()

    eng2 = connect(spark=spark, database=wh)  # fresh session, same dir
    rows = sorted(tuple(r) for r in eng2.execute("SELECT * FROM people").collect())
    assert rows == [("ada", "happy", None), ("bob", "happy", None)]
    desc = {r["column_name"]: r["column_type"]
            for r in eng2.execute("DESCRIBE people").collect()}
    assert desc["m"].startswith("ENUM(")  # constraint metadata survived
    assert eng2.execute("SELECT count(*) AS n FROM empty_t").collect()[0]["n"] == 0
    # the restored ENUM still enforces on INSERT
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng2.execute("INSERT INTO people VALUES ('eve', 'not_a_mood', 1)")
    # DML in the second session persists to a third
    eng2.execute("INSERT INTO people VALUES ('eve', 'sad', 30)")
    eng2.close()
    eng3 = connect(spark=spark, database=wh)
    assert eng3.execute("SELECT count(*) AS n FROM people").collect()[0]["n"] == 3
    # DROP removes durably
    eng3.execute("DROP TABLE empty_t")
    eng3.close()
    eng4 = connect(spark=spark, database=wh)
    with _pytest.raises(Exception):
        eng4.execute("SELECT * FROM empty_t")


def test_temp_tables_comments_indexes(spark, tmp_path):
    """CREATE TEMP TABLE (never reaches the durable warehouse), COMMENT
    ON TABLE/COLUMN (surfaced via duckdb_tables()/duckdb_columns(), NULL
    clears), and CREATE/DROP INDEX (catalogued no-op with DuckDB's
    duplicate/missing error shapes)."""
    import pytest as _pytest

    from duckdb_nsql_spark import connect

    wh = str(tmp_path / "wh2")
    eng = connect(spark=spark, database=wh)
    eng.execute("CREATE TABLE base (a INTEGER, b VARCHAR)")
    eng.execute("CREATE TEMP TABLE scratch AS SELECT 42 AS x")
    assert eng.execute("SELECT * FROM scratch").fetchall() == [(42,)]
    # temp table is flagged and never persisted
    tmp_flag = eng.execute(
        "SELECT temporary FROM duckdb_tables() WHERE table_name='scratch'"
    ).fetchall()
    assert tmp_flag == [(True,)]
    eng.execute("COMMENT ON TABLE base IS 'fact table'")
    eng.execute("COMMENT ON COLUMN base.a IS 'the key'")
    assert eng.execute(
        "SELECT comment FROM duckdb_tables() WHERE table_name='base'"
    ).fetchall() == [("fact table",)]
    assert eng.execute(
        "SELECT comment FROM duckdb_columns() "
        "WHERE table_name='base' AND column_name='a'"
    ).fetchall() == [("the key",)]
    eng.execute("COMMENT ON TABLE base IS NULL")
    assert eng.execute(
        "SELECT comment FROM duckdb_tables() WHERE table_name='base'"
    ).fetchall() == [(None,)]
    eng.execute("CREATE INDEX i1 ON base(a)")
    with _pytest.raises(Exception, match="already exists"):
        eng.execute("CREATE INDEX i1 ON base(a)")
    eng.execute("CREATE INDEX IF NOT EXISTS i1 ON base(a)")
    eng.execute("DROP INDEX i1")
    with _pytest.raises(Exception, match="does not exist"):
        eng.execute("DROP INDEX i1")
    eng.execute("DROP INDEX IF EXISTS i1")
    eng.close()
    # restart: durable table came back, temp table did not
    eng2 = connect(spark=spark, database=wh)
    assert eng2.execute(
        "SELECT count(*) AS n FROM base"
    ).fetchall() == [(0,)]
    with _pytest.raises(Exception):
        eng2.execute("SELECT * FROM scratch")
    eng2.close()


def test_cte_shadows_catalog_only_in_scope(loaded_engine):
    """A CTE named like a catalog table shadows it only inside the paren
    group that declares it (DuckDB subquery scoping) — an outer reference
    in the same statement still reads the real table."""
    sql = (
        "SELECT (SELECT n FROM (WITH nation AS (SELECT 1 AS x) "
        "SELECT count(*) AS n FROM nation) s) AS cte_rows, "
        "(SELECT count(*) FROM nation) AS real_rows"
    )
    row = loaded_engine.execute(sql).collect()[0]
    assert row["cte_rows"] == 1
    assert row["real_rows"] == 25
    # top-level WITH still shadows the whole statement
    row = loaded_engine.execute(
        "WITH nation AS (SELECT 1 AS x) SELECT count(*) AS n FROM nation"
    ).collect()[0]
    assert row["n"] == 1


def test_durable_warehouse_multi_writer(spark, tmp_path):
    """Two warehouse handles on the same directory: commits serialize
    through the O_EXCL commit log; disjoint-table writers rebase and both
    land, same-table writers get a CommitConflict (Delta-style optimistic
    concurrency), and the loser's staged data directory is cleaned up."""
    import os

    from duckdb_nsql_spark.sources.warehouse import CommitConflict, DurableWarehouse

    root = str(tmp_path / "mw")
    w1 = DurableWarehouse(root, gc_grace_s=0.0)
    w2 = DurableWarehouse(root, gc_grace_s=0.0)

    df_a = spark.range(0, 10).toDF("x")
    df_b = spark.range(0, 5).toDF("y")

    # disjoint tables from two writers: both commits land, log has 0 and 1
    w1.save_table(spark, "ta", df_a, {})
    w2.save_table(spark, "tb", df_b, {})
    assert set(w1.tables()) == {"ta", "tb"}
    assert set(w2.tables()) == {"ta", "tb"}
    nums = sorted(
        int(f[:-5]) for f in os.listdir(os.path.join(root, "_commits"))
    )
    assert nums == [0, 1]

    # same-table race: w2 bases on the current entry, w1 commits first ->
    # w2's commit must raise CommitConflict and leave w1's version live
    base = w1.tables()["ta"]
    w1.save_table(spark, "ta", spark.range(0, 20).toDF("x"), {})
    import pytest as _pytest

    with _pytest.raises(CommitConflict):
        w2._commit_entry("ta", {"dir": base["dir"], "version": "v9-zz", "meta": {}}, base)
    assert w1.load_df(spark, "ta").count() == 20

    # rebase path: a stale-but-disjoint writer retries internally — commit
    # numbers stay dense and the catalog reflects every winner
    w2.save_table(spark, "tb", spark.range(0, 7).toDF("y"), {})
    assert w1.load_df(spark, "tb").count() == 7

    # GC: old versions of ta beyond the referenced window are reaped once
    # out of grace (grace=0 here), current version survives
    for i in range(10):
        w1.save_table(spark, "ta", spark.range(0, 30 + i).toDF("x"), {})
    ent = w1.tables()["ta"]
    vdirs = [
        v for v in os.listdir(os.path.join(root, ent["dir"])) if v.startswith("v")
    ]
    assert ent["version"] in vdirs
    assert len(vdirs) <= 9  # _KEEP_COMMITS window bounds retained versions
    assert w1.load_df(spark, "ta").count() == 39

    # legacy single-pointer warehouse (catalog.json only, no commit log)
    # still opens: snapshot the catalog, wipe the log, read again
    legacy_cat = w1._read_catalog()
    import shutil as _sh

    _sh.rmtree(os.path.join(root, "_commits"))
    w1._write_checkpoint(legacy_cat)
    w3 = DurableWarehouse(root, gc_grace_s=0.0)
    assert set(w3.tables()) == {"ta", "tb"}
    assert w3.load_df(spark, "ta").count() == 39


def test_union_column_type(spark):
    """UNION(tag TYPE, ...) tagged-union columns: struct<__utag,...>
    encoding, union_value/union_tag/union_extract, dotted access, INSERT
    widening of single-member values, and DuckDB DESCRIBE rendering."""
    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark)
    eng.execute("CREATE TABLE ut (id INTEGER, u UNION(num INTEGER, s VARCHAR))")
    eng.execute(
        "INSERT INTO ut VALUES (1, union_value(num := 42)), "
        "(2, union_value(s := 'hello'))"
    )
    rows = eng.execute(
        "SELECT id, union_tag(u) AS tag, union_extract(u, 'num') AS n, "
        "union_extract(u, 's') AS sv, u.num AS dot_n FROM ut ORDER BY id"
    ).fetchall()
    assert rows == [(1, "num", 42, None, 42), (2, "s", None, "hello", None)]
    desc = {r["column_name"]: r["column_type"] for r in eng.execute("DESCRIBE ut").collect()}
    assert desc["u"] == "UNION(num INTEGER, s VARCHAR)"
    # inactive-member extraction guards even ad-hoc values
    one = eng.execute(
        "SELECT union_extract(union_value(num := 5), 'num') AS v"
    ).fetchall()
    assert one == [(5,)]


def test_asof_join_sql(loaded_engine):
    """DuckDB ASOF [LEFT] JOIN SQL through the engine: backward match,
    qualified right-side refs remap to matched values, and unsupported
    shapes fail loudly instead of mis-executing."""
    df = loaded_engine.execute(
        """
        SELECT o.o_orderkey, round(e.value, 4) AS ev, e.ts AS mts
        FROM orders o ASOF LEFT JOIN events e
          ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
        WHERE o.o_custkey <= 100 ORDER BY o.o_orderkey LIMIT 20
        """
    )
    rows = df.collect()
    assert len(rows) == 20
    assert df.columns == ["o_orderkey", "ev", "mts"]
    # unsupported shapes raise loudly (never silently wrong)
    import pytest as _pytest

    for bad in [
        # strict inequality
        "SELECT 1 FROM orders o ASOF JOIN events e "
        "ON o.o_custkey = e.user_id AND e.ts < o.o_orderdate",
        # two inequalities
        "SELECT 1 FROM orders o ASOF JOIN events e "
        "ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate "
        "AND e.ts >= o.o_orderdate",
    ]:
        with _pytest.raises(ValueError, match="ASOF"):
            loaded_engine.execute(bad)


def test_table_functions_after_from_list_comma(engine):
    """range / generate_series / repeat are table functions after FROM,
    JOIN or a comma of a FROM list, and range(n) in the select list stays
    the scalar list function — compared with DuckDB."""
    import duckdb

    con = duckdb.connect()
    for q in (
        "SELECT count(*) FROM (VALUES (1), (2)) v(x), range(3)",
        "SELECT count(*) FROM range(3), (VALUES (1), (2)) v(x)",
        "SELECT sum(x * i) FROM (VALUES (1), (2)) v(x), range(3) t(i)",
        "SELECT sum(x * generate_series) FROM (VALUES (1), (2)) v(x),"
        " generate_series(1, 3)",
        "SELECT count(*) FROM (VALUES (1), (2)) v(x) JOIN range(2) r"
        " ON true, generate_series(1, 3), repeat('a', 2)",
        "SELECT x, range(x) AS l, i FROM (VALUES (1), (2)) v(x),"
        " range(2) t(i) ORDER BY x, i",
        "SELECT x, range(x) AS l FROM (VALUES (2), (3)) v(x)"
        " WHERE x IN (1, 3)",
    ):
        mine = [tuple(r) for r in engine.execute(q).collect()]
        assert mine == con.execute(q).fetchall(), q
    con.close()


def test_table_refs_follow_the_from_list(engine):
    """A table name is mapped only where a FROM item starts: after a
    derived table whose inner query has a WHERE, after a CROSS JOIN item,
    and not in the select list after a scalar subquery, where it is a
    column — compared with DuckDB."""
    import duckdb

    con = duckdb.connect()
    for s in (
        "CREATE TABLE fl1 (x INTEGER)",
        "INSERT INTO fl1 VALUES (1), (2)",
        "CREATE TABLE fl2 (fl1 INTEGER)",
        "INSERT INTO fl2 VALUES (10), (20), (30)",
    ):
        engine.execute(s)
        con.execute(s)
    for q in (
        "SELECT count(*) FROM (SELECT x FROM fl1 WHERE x > 1) s, fl2",
        "SELECT count(*) FROM fl1 a CROSS JOIN fl1 b, fl2",
        "SELECT (SELECT max(x) FROM fl1) AS m, fl1 FROM fl2 ORDER BY fl1",
    ):
        mine = [tuple(r) for r in engine.execute(q).collect()]
        assert mine == con.execute(q).fetchall(), q
    con.close()


def test_introspection_table_functions_match_duckdb(loaded_engine, sf_dir):
    """glob / parquet_schema / parquet_metadata replicate DuckDB's table
    functions from the same footers (driver-side, zero Spark jobs)."""
    import duckdb

    con = duckdb.connect()
    p = f"{sf_dir}/region.parquet"
    g = f"{sf_dir}/r*.parquet"
    for q in (
        f"SELECT * FROM glob('{g}') ORDER BY file",
        f"SELECT name, type, num_children FROM parquet_schema('{p}')",
        f"SELECT path_in_schema, type, row_group_num_rows, num_values, "
        f"stats_min_value, stats_max_value, stats_null_count "
        f"FROM parquet_metadata('{p}') ORDER BY path_in_schema",
    ):
        mine = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert mine == con.execute(q).fetchall(), q
    con.close()


def test_duckdb_tables_and_settings_functions(loaded_engine):
    tbls = {
        r["table_name"]
        for r in loaded_engine.execute(
            "SELECT table_name FROM duckdb_tables()"
        ).collect()
    }
    assert {"region", "nation", "orders"} <= tbls
    val = loaded_engine.execute(
        "SELECT value FROM duckdb_settings() WHERE name = 'default_null_order'"
    ).collect()
    assert val[0][0] == "nulls_last"


def test_duckdb_columns_function(engine):
    engine.execute("CREATE TABLE dc_t(a INT, b VARCHAR)")
    rows = engine.execute(
        "SELECT column_name, column_index, data_type, is_nullable "
        "FROM duckdb_columns() WHERE table_name = 'dc_t' "
        "ORDER BY column_index"
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("a", 1, "INTEGER", True), ("b", 2, "VARCHAR", True),
    ]


def test_read_csv_options_match_duckdb(engine, tmp_path):
    """read_csv_auto named options: skip, delim, quote, nullstr, names,
    all_varchar, header — explicit options match DuckDB (its quote/
    dialect SNIFFING is not replicated; pass options explicitly)."""
    import duckdb

    p = str(tmp_path / "opt.csv")
    with open(p, "w") as fh:
        fh.write("junk line 1\njunk line 2\na;b;c\n1;'x;y';N/A\n2;'z';7\n")
    con = duckdb.connect()
    q = (
        f"SELECT * FROM read_csv_auto('{p}', skip=2, delim=';', "
        f"quote='''', nullstr='N/A', header=true) ORDER BY a"
    )
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        con.execute(q).fetchall()
    )
    q2 = (
        f"SELECT * FROM read_csv_auto('{p}', skip=3, header=false, "
        f"delim=';', quote='''', nullstr='N/A', "
        f"names=['x','y','z'], all_varchar=true) ORDER BY x"
    )
    assert [tuple(r) for r in engine.execute(q2).collect()] == (
        con.execute(q2).fetchall()
    )
    con.close()


def test_pivot_extensions_match_duckdb(engine, tmp_path):
    """PIVOT/UNPIVOT with trailing ORDER BY, multi-agg USING with
    aliases, subquery sources, plus year-month interval results and
    4-arg regexp_extract flags — all DuckDB cross-checked."""
    import duckdb

    con = duckdb.connect()
    for s in (
        "CREATE TABLE sales(yr INT, region VARCHAR, amt INT)",
        "INSERT INTO sales VALUES (2023,'east',10),(2023,'west',20),"
        "(2024,'east',30),(2024,'west',5)",
    ):
        engine.execute(s)
        con.execute(s)
    for q in (
        "PIVOT sales ON region USING sum(amt) ORDER BY yr",
        "PIVOT sales ON region USING sum(amt) AS total, count(*) AS n "
        "ORDER BY yr",
        "UNPIVOT (PIVOT sales ON region USING sum(amt)) ON east, west "
        "INTO NAME region VALUE amt ORDER BY yr, region",
        "SELECT INTERVAL '1 year 2 months' AS iv",
        "SELECT regexp_extract('ABC', 'abc', 0, 'i') AS f",
        "SELECT regexp_extract('a\nb', 'a.b', 0, 's') AS s",
        # round 7: PIVOT/UNPIVOT in FROM/CTE position (eager view
        # inlining), default INTO NAME name VALUE value, and the
        # single-aliased-agg column suffix (east_s, west_s)
        "SELECT * FROM (PIVOT sales ON region USING sum(amt)"
        " GROUP BY yr) ORDER BY yr",
        "WITH p AS (PIVOT sales ON region USING sum(amt) AS s"
        " GROUP BY yr) SELECT yr, east_s + west_s AS tot FROM p"
        " ORDER BY yr",
        "SELECT name, value FROM (UNPIVOT (SELECT 1 AS a, 2 AS b)"
        " ON a, b) ORDER BY name",
    ):
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            con.execute(q).fetchall()
        ), q
    con.close()


def test_ordered_array_agg_filter_exists_from(engine):
    """array_agg(ORDER BY), FILTER without WHERE, EXISTS (FROM ...) —
    DuckDB cross-checked."""
    import duckdb

    con = duckdb.connect()
    for s in (
        "CREATE TABLE fx(g VARCHAR, x INT)",
        "INSERT INTO fx VALUES ('a',1),('a',2),('b',3)",
    ):
        engine.execute(s)
        con.execute(s)
    for q in (
        "SELECT array_agg(x ORDER BY x DESC) AS l FROM fx",
        "SELECT g, array_agg(x ORDER BY x) AS l FROM fx GROUP BY g ORDER BY g",
        "SELECT sum(x) FILTER (x > 1) AS s FROM fx",
        "SELECT EXISTS (FROM fx WHERE x > 2) AS e",
    ):
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            con.execute(q).fetchall()
        ), q
    con.close()


def test_unnest_in_expression_matches_duckdb(engine):
    import duckdb

    con = duckdb.connect()
    for s in ("CREATE TABLE ul(l INT[])",
              "INSERT INTO ul VALUES ([1,2]), ([3])"):
        engine.execute(s)
        con.execute(s)
    for q in (
        "SELECT unnest([1,2]) + 10 AS u",
        "SELECT unnest(l) * 2 AS d FROM ul ORDER BY d",
        "SELECT upper(unnest(['a','b'])) AS s",
        "SELECT 5 AS k, unnest([1,2]) + 1 AS u",
    ):
        mine = sorted(tuple(r) for r in engine.execute(q).collect())
        assert mine == sorted(con.execute(q).fetchall()), q
    con.close()


def test_views_are_live_and_durable(spark, tmp_path):
    """Views are DEFINITIONS, not snapshots: base-table DML is visible
    through them (re-planned on catalog changes), CREATE OR REPLACE
    swaps the definition, and durable warehouses persist view SQL across
    restarts."""
    from duckdb_nsql_spark import connect

    eng = connect(spark=spark)
    eng.execute("CREATE TABLE vb (a INTEGER)")
    eng.execute("INSERT INTO vb VALUES (1)")
    eng.execute("CREATE VIEW vv AS SELECT a * 2 AS d FROM vb")
    assert eng.execute("SELECT * FROM vv").fetchall() == [(2,)]
    eng.execute("INSERT INTO vb VALUES (5)")
    assert sorted(eng.execute("SELECT * FROM vv").fetchall()) == [(2,), (10,)]
    eng.execute("UPDATE vb SET a = 10 WHERE a = 1")
    assert sorted(eng.execute("SELECT * FROM vv").fetchall()) == [(10,), (20,)]
    eng.execute("CREATE OR REPLACE VIEW vv AS SELECT a + 1 AS d FROM vb")
    assert sorted(eng.execute("SELECT * FROM vv").fetchall()) == [(6,), (11,)]
    eng.execute("DROP VIEW vv")

    wh = str(tmp_path / "whv")
    e1 = connect(spark=spark, database=wh)
    e1.execute("CREATE TABLE base (x INTEGER)")
    e1.execute("INSERT INTO base VALUES (3)")
    e1.execute("CREATE VIEW dv AS SELECT x * 10 AS y FROM base")
    e1.close()
    e2 = connect(spark=spark, database=wh)
    assert e2.execute("SELECT * FROM dv").fetchall() == [(30,)]
    e2.execute("INSERT INTO base VALUES (4)")
    assert sorted(e2.execute("SELECT * FROM dv").fetchall()) == [(30,), (40,)]
    e2.close()


def test_csv_interop_matches_duckdb(engine, tmp_path):
    """Cross-engine CSV files: doubled-quote escaping (standard CSV, not
    Spark's backslash), delimiter + header sniffing in read_csv_auto,
    NULL '<str>' and COMPRESSION gzip COPY options — each file written
    by one engine reads back identically in both."""
    import duckdb as _duck

    ddb = _duck.connect()
    for s in (
        "CREATE TABLE cp (a INTEGER, b VARCHAR, c DOUBLE)",
        "INSERT INTO cp VALUES (1, 'x,y', 1.5), (2, NULL, 2.5), "
        "(3, 'q\"z', NULL)",
    ):
        engine.execute(s)
        ddb.execute(s)
    d = str(tmp_path)
    cases = [
        ("h0", "(FORMAT CSV, HEADER false)"),
        ("h1", "(FORMAT CSV, HEADER true, DELIMITER '|')"),
        ("n1", "(FORMAT CSV, NULL 'NIL', HEADER true)"),
    ]
    for tag, opts in cases:
        dd, sp = f"{d}/duck_{tag}.csv", f"{d}/spark_{tag}.csv"
        ddb.execute(f"COPY cp TO '{dd}' {opts}")
        engine.execute(f"COPY cp TO '{sp}' {opts}")
        expect = ddb.execute(
            f"SELECT * FROM read_csv_auto('{dd}') ORDER BY 1"
        ).fetchall()
        for f in (dd, sp):
            got = [
                tuple(r)
                for r in engine.execute(
                    f"SELECT * FROM read_csv_auto('{f}') ORDER BY 1"
                ).collect()
            ]
            assert got == expect, (tag, f)
        # duck reads OUR file identically too
        assert ddb.execute(
            f"SELECT * FROM read_csv_auto('{sp}') ORDER BY 1"
        ).fetchall() == expect, tag
    engine.execute(
        f"COPY cp TO '{d}/g.csv.gz' (FORMAT CSV, COMPRESSION gzip, "
        "HEADER true)"
    )
    rows = engine.execute(
        f"SELECT * FROM read_csv_auto('{d}/g.csv.gz') ORDER BY 1"
    ).collect()
    assert len(rows) == 3
    assert ddb.execute(
        f"SELECT count(*) FROM read_csv_auto('{d}/g.csv.gz')"
    ).fetchall() == [(3,)]


def test_limit_percent(engine):
    """DuckDB LIMIT p%: floor(p/100 * n) rows of the ordered result."""
    engine.execute("CREATE TABLE lp (a INTEGER)")
    engine.execute(
        "INSERT INTO lp VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)"
    )
    assert engine.execute(
        "SELECT a FROM lp ORDER BY a LIMIT 10%"
    ).fetchall() == [(1,)]
    assert engine.execute(
        "SELECT a FROM lp ORDER BY a DESC LIMIT 25%"
    ).fetchall() == [(10,), (9,)]
    assert len(engine.execute(
        "SELECT a FROM lp ORDER BY a LIMIT 50%"
    ).fetchall()) == 5


def test_system_sample_prunes_files(spark, tmp_path):
    """USING SAMPLE n% (default = DuckDB's system method) on a pristine
    multi-file parquet table prunes at the FILE level — the executed scan
    reads ~n% of the files, not 100% — with a residual Bernoulli thinning
    so the expected fraction stays n%. Seeded (system, k) is repeatable.
    DML invalidates the pristine-table fast path (falls back to a full
    Bernoulli scan) so modified rows are never missed."""
    from duckdb_nsql_spark import DuckSparkSession

    tdir = tmp_path / "sysdata"
    tdir.mkdir()
    df = spark.range(10_000).selectExpr("id AS a", "id % 7 AS b")
    df.repartition(10).write.parquet(str(tdir / "st.parquet"))
    eng = DuckSparkSession(spark=spark)
    eng.register_parquet_dir(str(tdir))

    out = eng.execute("SELECT * FROM st USING SAMPLE 20%")
    # file pruning: the sampled plan reads a strict subset of the files
    assert 0 < len(out.inputFiles()) <= 3
    n = out.count()
    assert 1000 <= n <= 3200, n  # expected 2000 of 10k

    a = eng.execute(
        "SELECT count(*) AS n FROM st USING SAMPLE 30% (system, 7)"
    ).collect()[0][0]
    b = eng.execute(
        "SELECT count(*) AS n FROM st USING SAMPLE 30% (system, 7)"
    ).collect()[0][0]
    assert a == b and 1800 <= a <= 4500

    # explicit bernoulli keeps the full-scan proportional path
    bern = eng.execute("SELECT * FROM st USING SAMPLE 20% (bernoulli)")
    assert len(bern.inputFiles()) == 10

    # DML makes the table non-pristine: fast path off, rows still sampled
    eng.execute("INSERT INTO st VALUES (999999, 0)")
    out2 = eng.execute("SELECT * FROM st USING SAMPLE 50%")
    n2 = out2.count()
    assert 3500 <= n2 <= 6500, n2


def test_groups_window_frames(spark):
    """GROUPS window frames (SQL:2011; DuckDB 1.0 itself rejects them,
    so this is beyond-reference surface): a GROUPS frame counts peer
    groups = a RANGE frame over the dense_rank of the ORDER BY key,
    which the session injects via an inner subquery. Expected values
    hand-computed over the peer groups."""
    import pytest as _pytest

    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark)
    eng.execute("CREATE TABLE gw(p VARCHAR, o INTEGER, x INTEGER)")
    eng.execute(
        "INSERT INTO gw VALUES ('a',1,10),('a',1,20),('a',2,30),"
        "('a',4,40),('a',4,50),('a',7,60),"
        "('b',1,1),('b',3,2),('b',3,3),('b',5,4)"
    )
    rows = eng.execute(
        "SELECT p, o, x, sum(x) OVER (PARTITION BY p ORDER BY o"
        " GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v"
        " FROM gw ORDER BY p, o, x"
    ).fetchall()
    assert rows == [
        ("a", 1, 10, 60), ("a", 1, 20, 60), ("a", 2, 30, 150),
        ("a", 4, 40, 180), ("a", 4, 50, 180), ("a", 7, 60, 150),
        ("b", 1, 1, 6), ("b", 3, 2, 10), ("b", 3, 3, 10),
        ("b", 5, 4, 9),
    ]
    rows2 = eng.execute(
        "SELECT p, o, x, sum(x) OVER (PARTITION BY p ORDER BY o"
        " GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v"
        " FROM gw WHERE p = 'a' ORDER BY o, x"
    ).fetchall()
    assert [r[-1] for r in rows2] == [30, 30, 60, 150, 150, 210]
    # two different GROUPS specs in one select share the plan
    rows3 = eng.execute(
        "SELECT o, count(*) OVER (ORDER BY o"
        " GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c,"
        " sum(x) OVER (ORDER BY o"
        " GROUPS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS s"
        " FROM gw WHERE p = 'b' ORDER BY o, x"
    ).fetchall()
    assert rows3 == [(1, 1, 6), (3, 3, 9), (3, 3, 9), (5, 3, 4)]
    with _pytest.raises(NotImplementedError):
        eng.execute(
            "SELECT * FROM (SELECT 1 AS a) t WHERE a IN (SELECT sum(a)"
            " OVER (ORDER BY a GROUPS BETWEEN 1 PRECEDING AND"
            " CURRENT ROW) FROM t)"
        )


def test_catalog_introspection_extras(spark):
    """duckdb_views() / duckdb_databases() / duckdb_constraints() /
    pragma_database_size() / current_schemas() / in_search_path() —
    driver-built relations matching DuckDB's rows for the user-facing
    columns (cross-checked live against DuckDB in development; pinned
    here without a DuckDB dependency in the fixture session)."""
    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark)
    eng.execute("CREATE TABLE ci(x INTEGER PRIMARY KEY, s VARCHAR NOT NULL)")
    eng.execute("CREATE VIEW civ AS SELECT x + 1 AS y FROM ci")
    v = eng.execute(
        "SELECT view_name, temporary, sql FROM duckdb_views()"
        " WHERE view_name = 'civ'"
    ).fetchall()
    assert len(v) == 1 and v[0][1] is False and "SELECT" in v[0][2]
    dbs = dict(
        (r[0], r[1]) for r in eng.execute(
            "SELECT database_name, internal FROM duckdb_databases()"
        ).fetchall()
    )
    assert dbs == {"memory": False, "system": True, "temp": True}
    cons = eng.execute(
        "SELECT constraint_type, constraint_column_names"
        " FROM duckdb_constraints() WHERE table_name = 'ci'"
        " ORDER BY constraint_type"
    ).fetchall()
    assert [(c[0], list(c[1])) for c in cons] == [
        ("NOT NULL", ["s"]), ("NOT NULL", ["x"]),
        ("PRIMARY KEY", ["x"]),
    ]
    sz = eng.execute(
        "SELECT database_name, wal_size FROM pragma_database_size()"
    ).fetchall()
    assert sz == [("memory", "0 bytes")]
    sch = eng.execute(
        "SELECT current_schemas(true) AS a, current_schemas(false) AS b"
    ).fetchall()[0]
    assert list(sch[0]) == ["main", "main", "main", "pg_catalog"]
    assert list(sch[1]) == []
    isp = eng.execute(
        "SELECT in_search_path('memory', 'main') AS a,"
        " in_search_path('memory', 'nope') AS b"
    ).fetchall()[0]
    assert (isp[0], isp[1]) == (True, False)


def test_time_functions_never_plan_cached(engine):
    # Spark's ComputeCurrentTime folds now()/current_date to literals in
    # the optimized plan, which is memoized per DataFrame — if the
    # statement-plan cache served a cached DataFrame for a repeated
    # byte-identical SELECT now(), the timestamp would be frozen at first
    # execution. DuckDB re-evaluates per statement; so must we.
    import time

    for fn in ("now()", "current_timestamp", "today()", "transaction_timestamp()"):
        a = engine.execute(f"SELECT {fn} AS t").fetchall()[0][0]
        time.sleep(0.02)
        b = engine.execute(f"SELECT {fn} AS t").fetchall()[0][0]
        if fn == "today()":
            # date granularity: just assert the plan wasn't cached
            assert engine._NONDET_RE.search(f"SELECT {fn} AS t") is not None
        else:
            assert b > a, fn


def test_csv_sniff_matches_duckdb(engine, tmp_path):
    # header sniffing parity, including the all-string corner: DuckDB
    # v1.0 consumes row 1 of a headerless all-string CSV as a header —
    # advisory round-4 suggested contrasting row-2 types instead, but
    # that would DIVERGE from the parity target (verified empirically).
    # Headerless files name columns column0..columnN like DuckDB.
    import duckdb

    d = duckdb.connect()
    cases = {
        "h1": "name,city\nalice,nyc\nbob,sf\n",    # header, all-string
        "h2": "alice,nyc\nbob,sf\n",               # headerless all-string
        "h3": "name,age\nalice,3\nbob,4\n",        # header over numerics
        "h4": "alice,3\nbob,4\n",                  # headerless numerics
    }
    for name, text in cases.items():
        p = tmp_path / f"{name}.csv"
        p.write_text(text)
        q = f"select * from read_csv_auto('{p}')"
        sdf = engine.execute(q)
        r = d.execute(q)
        assert sdf.columns == [x[0] for x in r.description], name
        assert sorted(map(str, [tuple(x) for x in sdf.collect()])) == sorted(
            map(str, r.fetchall())
        ), name


def test_durable_dml_battery_survives_restart(spark, tmp_path):
    """The judge-prescribed E-test for the warehouse seam: the full DML
    battery (D4 INSERT, D5 UPDATE, D6/D7 ALTER, MERGE INTO, DELETE) on a
    durable warehouse, with a session restart between every mutation
    group — every effect must be visible from the fresh session. Runs on
    the zero-dependency copy-on-write format; the same seam stores Delta
    tables when delta-spark is on the classpath (see
    test_warehouse_format_seam)."""
    from duckdb_nsql_spark import connect

    wh = str(tmp_path / "wh_dml")
    eng = connect(spark=spark, database=wh)
    eng.execute("CREATE TABLE acct (id INTEGER, bal DOUBLE)")
    eng.execute("INSERT INTO acct VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    eng.close()

    eng = connect(spark=spark, database=wh)
    eng.execute("UPDATE acct SET bal = bal + 5 WHERE id = 2")
    eng.execute("ALTER TABLE acct ADD COLUMN tag VARCHAR")
    eng.close()

    eng = connect(spark=spark, database=wh)
    eng.execute("ALTER TABLE acct ALTER COLUMN id SET DATA TYPE BIGINT")
    eng.execute("CREATE TABLE delta_src (id BIGINT, bal DOUBLE)")
    eng.execute("INSERT INTO delta_src VALUES (2, 100.0), (4, 40.0)")
    eng.execute(
        "MERGE INTO acct USING delta_src ON acct.id = delta_src.id "
        "WHEN MATCHED THEN UPDATE SET bal = delta_src.bal "
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES "
        "(delta_src.id, delta_src.bal)"
    )
    eng.close()

    eng = connect(spark=spark, database=wh)
    eng.execute("DELETE FROM acct WHERE id = 3")
    rows = sorted(
        (r["id"], r["bal"], r["tag"])
        for r in eng.execute("SELECT * FROM acct").collect()
    )
    assert rows == [(1, 10.0, None), (2, 100.0, None), (4, 40.0, None)]
    desc = {r["column_name"]: r["column_type"]
            for r in eng.execute("DESCRIBE acct").collect()}
    assert desc["id"] == "BIGINT"
    eng.close()


def test_warehouse_format_seam(spark, tmp_path):
    """Format seam: a warehouse records its format at first commit and
    refuses to reopen under another; requesting delta without the
    runtime fails with a clear, typed error (this container ships no
    delta jars — on a cluster with them the same calls store Delta
    tables)."""
    import pytest as _pytest

    from duckdb_nsql_spark.sources.warehouse import (
        DurableWarehouse, delta_available,
    )

    root = str(tmp_path / "wh_fmt")
    w = DurableWarehouse(root)
    assert w.fmt == "parquet"
    df = spark.range(3).toDF("x")
    w.save_table(spark, "t", df, {})
    # recorded format survives and pins reopen
    assert DurableWarehouse(root).fmt == "parquet"
    with _pytest.raises(ValueError, match="cannot reopen"):
        DurableWarehouse(root, fmt="delta")
    with _pytest.raises(ValueError, match="unsupported table format"):
        DurableWarehouse(str(tmp_path / "wh_bad"), fmt="iceberg2")
    # delta mode: constructing is fine (catalog ops need no jars); the
    # first data operation probes the classpath
    wd = DurableWarehouse(str(tmp_path / "wh_delta"), fmt="delta")
    if not delta_available(spark):
        with _pytest.raises(RuntimeError, match="delta-spark"):
            wd.save_table(spark, "t", df, {})
    else:  # pragma: no cover - cluster with delta installed
        wd.save_table(spark, "t", df, {})
        assert wd.load_df(spark, "t").count() == 3


def test_summarize_hll_estimator_accuracy():
    # the SUMMARIZE fast path's HLL (p=14) must stay within ~2% on
    # high-cardinality inputs and exact-ish via linear counting on low
    import numpy as np

    from duckdb_nsql_spark.introspect import _hll_estimate_u64

    rng = np.random.default_rng(7)
    big = rng.integers(0, 2**63, 1_500_000, dtype=np.int64).view(np.uint64)
    est = _hll_estimate_u64(big)
    true = len(np.unique(big))
    assert abs(est - true) / true < 0.02, (est, true)
    small = np.arange(500, dtype=np.uint64)
    est2 = _hll_estimate_u64(small)
    assert abs(est2 - 500) / 500 < 0.02, est2


def test_order_by_column_named_last_keeps_default_null_order(engine):
    """A column literally named ``last`` (or ``first``) in an ORDER BY
    item is NOT a NULLS modifier — the session default (nulls_last, like
    DuckDB) must still be appended, or Spark's ASC NULLS FIRST default
    silently diverges."""
    engine.execute('CREATE TABLE lt (id INTEGER, "last" VARCHAR)')
    engine.execute(
        "INSERT INTO lt VALUES (1, 'b'), (2, NULL), (3, 'a')"
    )
    vals = [r["id"] for r in
            engine.execute('SELECT id FROM lt ORDER BY "last"').collect()]
    assert vals == [3, 1, 2]  # NULL sorts LAST (DuckDB default)
    vals = [r["id"] for r in
            engine.execute("SELECT id FROM lt ORDER BY last").collect()]
    assert vals == [3, 1, 2]
    # explicit NULLS FIRST still honored
    vals = [r["id"] for r in engine.execute(
        "SELECT id FROM lt ORDER BY last NULLS FIRST"
    ).collect()]
    assert vals == [2, 3, 1]
    engine.execute("DROP TABLE lt")


def test_statement_parallelism_tuner(engine, spark, sf_dir):
    """Size-adaptive parallelism: small file-backed statements flip the
    session to small mode; unknown-size relations (views, in-memory
    tables) and explicit SET threads keep/restore the big-mode confs."""
    engine.register_parquet_dir(sf_dir)
    # small file-backed statement -> small mode
    engine.execute("SELECT count(*) FROM nation").collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # a view reference is unknown-size -> big mode restored
    engine.execute("CREATE VIEW nv AS SELECT * FROM nation")
    engine.execute("SELECT count(*) FROM nv").collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # back to small on the next file-backed statement
    engine.execute("SELECT count(*) FROM region").collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # a statement calling a macro is unknown-size (the body expands
    # AFTER sizing and may reference any table) -> big mode
    engine.execute("CREATE MACRO nkeys() AS (SELECT count(*) FROM nation)")
    engine.execute("SELECT nkeys() AS n").collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    engine.execute("DROP MACRO nkeys")
    # and small again once the macro is out of the picture
    engine.execute("SELECT count(*) FROM region WHERE r_regionkey > 0")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # explicit SET threads pins the knob (tuner stands down) AND
    # restores the other small-mode confs to cluster defaults
    engine.execute("SET threads = 4")
    engine.execute("SELECT count(*) FROM nation").collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # restore for other tests in this session
    engine._threads_overridden = False
    engine._parallelism_mode = "big"
    for k, v in (engine._big_stmt_confs or {}).items():
        spark.conf.set(k, v)


def test_time_type_end_to_end(engine):
    """Spark 4.1 TIME (timeType.enabled, round 8): DDL, INSERT with TIME
    literals and bare strings, DESCRIBE rendering, ordering/aggregation,
    the TIMESTAMP->TIME cast rewrite (both spellings), make_time
    fractional seconds, and the zero-arg current-time aliases."""
    import datetime

    engine.execute("CREATE TABLE t_times (id INTEGER, t TIME)")
    engine.execute(
        "INSERT INTO t_times VALUES (1, TIME '01:02:03'), "
        "(2, TIME '23:59:59.5')"
    )
    engine.execute("INSERT INTO t_times VALUES (3, '12:00:00')")
    desc = {r[0]: r[1] for r in engine.execute("DESCRIBE t_times").collect()}
    assert desc["t"] == "TIME"
    rows = engine.execute(
        "SELECT id, CAST(t AS VARCHAR) AS s FROM t_times ORDER BY t"
    ).collect()
    assert [(r["id"], r["s"]) for r in rows] == [
        (1, "01:02:03"), (3, "12:00:00"), (2, "23:59:59.5"),
    ]
    assert engine.execute(
        "SELECT CAST(max(t) AS VARCHAR) AS m, CAST(min(t) AS VARCHAR) AS n "
        "FROM t_times"
    ).collect()[0][0:2] == ("23:59:59.5", "01:02:03")
    # TIMESTAMP -> TIME (CAST and :: spellings; µs preserved)
    assert engine.execute(
        "SELECT CAST(CAST(TIMESTAMP '2024-01-02 03:04:05.25' AS TIME) "
        "AS VARCHAR) AS a, "
        "CAST(TIMESTAMP '2024-01-02 03:04:05.25'::TIME AS VARCHAR) AS b"
    ).collect()[0][0:2] == ("03:04:05.25", "03:04:05.25")
    # make_time with fractional seconds; string->TIME cast stays native
    assert engine.execute(
        "SELECT make_time(12, 30, 45.5) AS t, CAST('13:01:02' AS TIME) AS u"
    ).collect()[0][0:2] == (
        datetime.time(12, 30, 45, 500000), datetime.time(13, 1, 2),
    )
    # zero-arg aliases resolve and return TIME
    r = engine.execute(
        "SELECT get_current_time() AS a, current_localtime() AS b"
    ).collect()[0]
    assert isinstance(r["a"], datetime.time)
    assert isinstance(r["b"], datetime.time)
    engine.execute("DROP TABLE t_times")


def test_time_grid_matches_duckdb(engine):
    """Cross-engine TIME value grid: literal rendering (trailing-zero
    trim), make_time fraction, timestamp extraction, extract fields,
    comparisons — one wide row per engine."""
    import duckdb

    ddb = duckdb.connect()
    exprs = [
        "CAST(TIME '12:30:45' AS VARCHAR)",
        "CAST(TIME '12:30:45.500000' AS VARCHAR)",
        "CAST(TIME '12:30:45.123456' AS VARCHAR)",
        "CAST(make_time(1, 2, 3.25) AS VARCHAR)",
        "CAST(CAST(TIMESTAMP '2024-01-02 03:04:05.25' AS TIME) AS VARCHAR)",
        "CAST(CAST('07:08:09' AS TIME) AS VARCHAR)",
        "CAST(extract(hour FROM TIME '12:30:45') AS BIGINT)",
        "CAST(extract(minute FROM TIME '12:30:45') AS BIGINT)",
        "TIME '01:00:00' < TIME '02:00:00'",
        "TIME '12:30:45' = TIME '12:30:45'",
        "greatest(TIME '01:00:00', TIME '23:00:00') = TIME '23:00:00'",
        # compound timestamp expressions in TIME-cast position
        # (_span_is_ts_typed: ts ± interval chains, ts-returning heads)
        "CAST((TIMESTAMP '2024-01-02 03:00:00' + INTERVAL 90 MINUTE)"
        " AS TIME)::VARCHAR",
        "CAST(date_trunc('hour', TIMESTAMP '2024-01-02 03:44:55') AS TIME)"
        "::VARCHAR",
        "CAST((INTERVAL 30 MINUTE + TIMESTAMP '2024-01-02 03:00:00')"
        " AS TIME)::VARCHAR",
        "((TIMESTAMP '2024-01-02 03:00:00' - INTERVAL 1 HOUR)::TIME)"
        "::VARCHAR",
    ]
    sql = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(exprs)
    )
    srow = tuple(engine.execute(sql).collect()[0])
    orow = ddb.sql(sql).fetchall()[0]
    assert srow == tuple(orow)


def test_time_cast_interval_not_rewritten(engine):
    """ts - ts is an INTERVAL, not a timestamp: the TIME-cast rewrite
    must NOT fire on it (to_time over a formatted interval would
    mis-execute). The native CAST errors loudly — same outcome as
    DuckDB's own 'Unimplemented type for cast (INTERVAL -> TIME)'."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    with pytest.raises((AnalysisException, Py4JJavaError, ValueError)):
        engine.execute(
            "SELECT CAST(TIMESTAMP '2024-01-02 03:00:00'"
            " - TIMESTAMP '2024-01-02 01:30:00' AS TIME) AS x"
        ).collect()
    # the subtracted-interval form (ts - interval = ts) still rewrites
    assert engine.execute(
        "SELECT CAST(CAST(TIMESTAMP '2024-01-02 03:00:00'"
        " - INTERVAL 90 MINUTE AS TIME) AS VARCHAR) AS x"
    ).collect()[0][0] == "01:30:00"


def test_warehouse_time_travel(spark, tmp_path):
    """Commit-log time travel: each DML commit stays readable at its
    number until GC retention prunes the data; a missing commit and a
    non-durable session raise clear errors."""
    import pytest as _pytest

    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark, database=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE tt (x INTEGER)")
    eng.execute("INSERT INTO tt VALUES (1)")
    c1 = eng.warehouse_commits()[-1]
    eng.execute("INSERT INTO tt VALUES (2), (3)")
    c2 = eng.warehouse_commits()[-1]
    eng.execute("UPDATE tt SET x = 99 WHERE x = 1")
    assert sorted(r[0] for r in eng.table_at("tt", c1).collect()) == [1]
    assert sorted(r[0] for r in eng.table_at("tt", c2).collect()) == [1, 2, 3]
    assert sorted(r[0] for r in eng.table("tt").collect()) == [2, 3, 99]
    with _pytest.raises(ValueError, match="no commit"):
        eng.table_at("tt", 10_000)
    with _pytest.raises(ValueError, match="does not exist at commit"):
        eng.table_at("nope", c1)

    eng2 = DuckSparkSession(spark=spark)
    with _pytest.raises(RuntimeError, match="durable warehouse"):
        eng2.table_at("tt", 0)
    assert eng2.warehouse_commits() == []


def test_schema_text_matches_reference_protocol(engine):
    """schema_text() renders the catalog exactly the way the reference's
    prompt pipeline does (examples/utils.py:13-31 get_schema -> one
    CREATE TABLE block per table joined by blank lines; utils.py:36-50
    generate_prompt -> lowercased types). Expected text is produced by
    replaying THAT protocol on a DuckDB database built from the same
    DDL, so the comparison is against the reference's own rendering."""
    import duckdb

    ddls = [
        "CREATE TABLE laptop (id INTEGER, model VARCHAR, price DOUBLE,"
        " released DATE)",
        "CREATE TABLE vendor (v_id BIGINT, name VARCHAR, rating FLOAT)",
    ]
    con = duckdb.connect()
    for d in ddls:
        engine.execute(d)
        con.execute(d)

    # reference get_schema, verbatim protocol (information_schema walk)
    blocks = []
    info = con.execute("SELECT * FROM information_schema.tables").fetchdf()
    for tname in info["table_name"].unique():
        tdf = con.execute(
            "SELECT * FROM information_schema.columns"
            f" WHERE table_name = '{tname}'"
        ).fetchdf()
        cols = [
            f"{r['column_name']} {r['data_type']}" for _, r in tdf.iterrows()
        ]
        blocks.append(
            f"CREATE TABLE {tname} (\n    " + ",\n    ".join(cols) + "\n);"
        )
    expected_raw = "\n\n".join(sorted(blocks))

    got_raw = "\n\n".join(
        sorted(engine.schema_text(lowercase_types=False).split("\n\n"))
    )
    assert got_raw == expected_raw
    # the default (prompt-ready) form is the same text with lowered types
    lowered = engine.schema_text()
    assert "id integer" in lowered and "price double" in lowered
    assert "model varchar" in lowered and "rating float" in lowered
    assert "CREATE TABLE laptop (" in lowered  # names keep their case
    engine.execute("DROP TABLE laptop")
    engine.execute("DROP TABLE vendor")


def test_reservoir_percent_count_matches_duckdb_llround(engine):
    """Reservoir sampling draws an EXACT count; on non-integral percent
    sizes DuckDB rounds half away from zero (llround: 3% of 607 =
    18.21 -> 18; 10% of 607 = 60.7 -> 61; 5% of 50 = 2.5 -> 3). The
    engine's sizing must agree on every shape — ceil would over-draw by
    one on any non-half fraction."""
    import duckdb

    ddb = duckdb.connect()
    engine.execute(
        "CREATE TABLE t_res AS SELECT * FROM range(0, 607) AS r(i)"
    )
    ddb.execute("CREATE TABLE t_res AS SELECT * FROM range(0, 607) AS r(i)")
    engine.execute("CREATE TABLE t_half AS SELECT * FROM range(0, 50) AS r(i)")
    ddb.execute("CREATE TABLE t_half AS SELECT * FROM range(0, 50) AS r(i)")
    for tbl, pcts in [("t_res", ["10%", "3%", "0.5%"]), ("t_half", ["5%", "1%"])]:
        for p in pcts:
            q = (f"SELECT count(*) AS n FROM "
                 f"(SELECT * FROM {tbl} USING SAMPLE {p} (reservoir)) s")
            ours = engine.execute(q).collect()[0]["n"]
            theirs = ddb.execute(q).fetchone()[0]
            assert ours == theirs, (tbl, p, ours, theirs)
    engine.execute("DROP TABLE t_res")
    engine.execute("DROP TABLE t_half")


def test_positional_join_alias_qualified_refs(loaded_engine):
    """POSITIONAL JOIN with alias-qualified columns and b.* expansion —
    the zipped view must remap a.col / b.col / b.* onto its output
    (right-side collisions carry the _1 suffix)."""
    q = (
        "SELECT a.n_name, b.r_name FROM "
        "(SELECT n_name FROM nation ORDER BY n_name LIMIT 3) a "
        "POSITIONAL JOIN "
        "(SELECT r_name FROM region ORDER BY r_name LIMIT 3) b "
        "ORDER BY a.n_name"
    )
    rows = loaded_engine.execute(q).collect()
    assert len(rows) == 3 and rows[0]["r_name"] is not None

    q2 = (
        "SELECT b.*, a.n_name FROM "
        "(SELECT n_name FROM nation ORDER BY n_name LIMIT 2) a "
        "POSITIONAL JOIN "
        "(SELECT r_name, r_regionkey FROM region ORDER BY r_name LIMIT 2) b"
    )
    out = loaded_engine.execute(q2)
    assert out.columns == ["r_name", "r_regionkey", "n_name"]


def test_tablesample_spellings(loaded_engine):
    """DuckDB TABLESAMPLE spellings normalize onto the USING SAMPLE
    machinery: method-first reservoir forms draw EXACT counts; bare
    percent forms stay proportional; Spark-form (N PERCENT) untouched."""
    n = loaded_engine.fetchdf(
        "SELECT count(*) AS n FROM "
        "(SELECT * FROM nation TABLESAMPLE reservoir(5 ROWS))"
    ).n[0]
    assert n == 5
    total = loaded_engine.fetchdf(
        "SELECT count(*) AS n FROM lineitem"
    ).n[0]
    import math

    exact = loaded_engine.fetchdf(
        "SELECT count(*) AS n FROM "
        "(SELECT * FROM lineitem TABLESAMPLE reservoir(10%))"
    ).n[0]
    assert exact == int(math.floor(0.10 * total + 0.5))
    prop = loaded_engine.fetchdf(
        "SELECT count(*) AS n FROM (SELECT * FROM lineitem TABLESAMPLE 10%)"
    ).n[0]
    assert 0.04 * total < prop < 0.16 * total


def test_table_macro_shapes(engine, sf_dir):
    """CREATE MACRO ... AS TABLE: bare FROM use (auto-aliased with the
    macro name), user alias, trailing WHERE, self-join with two aliases,
    and DROP MACRO removal."""
    engine.register_parquet_dir(sf_dir)
    engine.execute(
        "CREATE MACRO topn(k) AS TABLE "
        "SELECT n_name FROM nation ORDER BY n_name LIMIT k"
    )
    assert engine.execute("SELECT * FROM topn(3)").count() == 3
    assert engine.execute("SELECT t.n_name FROM topn(2) t").count() == 2
    assert (
        engine.execute(
            "SELECT count(*) AS c FROM topn(4) WHERE n_name LIKE 'NATION%'"
        ).collect()[0]["c"]
        == 4
    )
    rows = engine.execute(
        "SELECT a.n_name, b.n_name AS bn FROM topn(3) a "
        "JOIN topn(3) b ON a.n_name < b.n_name"
    ).count()
    assert rows == 3
    engine.execute("DROP MACRO topn")
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.execute("SELECT * FROM topn(3)").collect()


def test_pivot_in_value_list(loaded_engine):
    """PIVOT ON col IN (values): explicit value list restricts (and
    names) the pivot columns, including DuckDB's alias suffixing and
    count-cell zero-fill."""
    out = loaded_engine.execute(
        "PIVOT nation ON n_regionkey IN (0, 1) USING count(*) AS n "
        "GROUP BY n_name ORDER BY n_name LIMIT 3"
    )
    assert out.columns == ["n_name", "0_n", "1_n"]
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["0_n"] is not None and r["1_n"] is not None


def test_cte_subquery_folding_semantics(loaded_engine):
    """Build-time subquery folding over localized CTEs (q22's shape):
    the scalar max and the IN-subquery fold to literals, the cascade
    localizes the all-local middle CTE, and the final plan is pure
    LocalTableScan — zero scheduled jobs for the post-collect phase.
    Values must stay identical to DuckDB semantics (pinned by the
    oracle parity entry; here: exact expected rows + plan shape)."""
    eng = loaded_engine
    df = eng.execute(
        """
        WITH per_nation AS (
            SELECT n.n_name, round(avg(c.c_acctbal), 4) AS avg_bal
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ),
        max_nation AS (
            SELECT n_name FROM per_nation
            WHERE avg_bal = (SELECT max(avg_bal) FROM per_nation)
        )
        SELECT * FROM per_nation WHERE n_name IN (FROM max_nation)
        """
    )
    rows = df.collect()
    assert len(rows) >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    # after folding + cascade the main statement reads ONLY local data
    assert "LocalTableScan" in plan
    assert "Scan parquet" not in plan

    # NULL/empty guards: empty localized CTE -> IN fold keeps validity
    # (no empty IN-list emitted; subquery retained or empty result)
    df2 = eng.execute(
        """
        WITH hot AS (
            SELECT o_custkey AS k, count(*) AS n FROM orders
            GROUP BY o_custkey HAVING count(*) > 1000000
        ),
        hot2 AS (SELECT k FROM hot WHERE n > (SELECT max(n) FROM hot))
        SELECT count(*) AS c FROM orders WHERE o_custkey IN (FROM hot2)
        """
    )
    assert df2.collect()[0]["c"] == 0

    # DISTINCT + count folding agrees with the engine's own evaluation
    df3 = eng.execute(
        """
        WITH per_flag AS (
            SELECT l_returnflag AS f, count(*) AS n FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT (SELECT count(DISTINCT f) FROM per_flag) AS nf,
               (SELECT sum(n) FROM per_flag) AS total
        FROM per_flag LIMIT 1
        """
    )
    r = df3.collect()[0]
    plain = eng.execute(
        "SELECT count(DISTINCT l_returnflag) AS nf, count(*) AS total"
        " FROM lineitem"
    ).collect()[0]
    assert (r["nf"], r["total"]) == (plain["nf"], plain["total"])


def test_read_parquet_filename_column(loaded_engine, tmp_path):
    """read_parquet(..., filename = true): DuckDB appends the source
    path as a `filename` column; the engine maps it onto Spark's
    input_file_name() with the file: scheme stripped so values match
    DuckDB byte-for-byte (round-10 probe find)."""
    p = str(tmp_path / "fn.parquet")
    loaded_engine.execute(
        f"COPY (SELECT n_nationkey, n_name FROM nation) TO '{p}'"
        " (FORMAT PARQUET)"
    )
    rows = loaded_engine.execute(
        f"SELECT filename, count(*) AS n FROM"
        f" read_parquet('{p}', filename = true) GROUP BY filename"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["filename"] == p
    assert rows[0]["n"] == 25


def test_asof_join_null_keys_never_match(spark):
    """DuckDB ASOF ON l.k = r.k: a NULL key matches nothing (SQL
    equality) — NULL-keyed left rows keep a NULL payload. The
    union-window formulation must not carry NULL-keyed right values
    into NULL-keyed left rows (round-11 find: the prefilter_right=False
    path did exactly that), under BOTH prefilter modes."""
    import duckdb

    from duckdb_nsql_spark.operators import asof

    left = spark.createDataFrame(
        [(None, 10, "L1"), (1, 10, "L2"), (None, 20, "L3")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(None, 5, 1.5), (1, 5, 2.5), (None, 15, 3.5)],
        "k int, ts int, v double",
    )
    d = duckdb.connect()
    d.execute("CREATE TABLE l (k int, ts int, tag varchar)")
    d.execute("INSERT INTO l VALUES (NULL,10,'L1'),(1,10,'L2'),(NULL,20,'L3')")
    d.execute("CREATE TABLE r (k int, ts int, v double)")
    d.execute("INSERT INTO r VALUES (NULL,5,1.5),(1,5,2.5),(NULL,15,3.5)")
    want = sorted(
        d.execute(
            "SELECT l.k, l.ts, l.tag, r.v FROM l ASOF LEFT JOIN r"
            " ON l.k = r.k AND r.ts <= l.ts"
        ).fetchall(),
        key=str,
    )
    for pf in (True, False):
        out = asof.asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            prefilter_right=pf,
        )
        got = sorted(
            [tuple(r) for r in out.select("k", "ts", "tag", "v").collect()],
            key=str,
        )
        assert got == want, (pf, got, want)


def test_macro_default_parameters(engine):
    """DuckDB `p := default` macro parameters (round-11 probe find):
    defaults fill when omitted, named overrides apply, positional
    params stay positional-only and defaulted ones named-only — the
    exact binder rules DuckDB 1.0 enforces (probed)."""
    import pytest

    engine.execute("CREATE MACRO fxd(a, b := 10) AS a + b")
    assert engine.execute("SELECT fxd(1) AS v").collect()[0][0] == 11
    assert engine.execute("SELECT fxd(1, b := 2) AS v").collect()[0][0] == 3
    for bad in ("SELECT fxd(1, 2)", "SELECT fxd(a := 1)", "SELECT fxd()"):
        with pytest.raises(ValueError):
            engine.execute(bad)
    engine.execute(
        "CREATE MACRO ftd(n := 2) AS TABLE SELECT range AS v FROM range(n)"
    )
    assert engine.execute("SELECT count(*) AS c FROM ftd()").collect()[0][0] == 2
    assert (
        engine.execute("SELECT count(*) AS c FROM ftd(n := 4)").collect()[0][0]
        == 4
    )
    # DROP clears the defaults namespace too (no stale defaults on
    # re-creation with a different signature)
    engine.execute("DROP MACRO fxd")
    engine.execute("CREATE MACRO fxd(a) AS a * 100")
    assert engine.execute("SELECT fxd(2) AS v").collect()[0][0] == 200


def test_describe_and_summarize_as_relations(loaded_engine):
    """DuckDB DESCRIBE/SUMMARIZE in FROM position (round-11 probe find):
    the introspection result is an ordinary derived table."""
    cols = [
        r[0]
        for r in loaded_engine.execute(
            "SELECT column_name FROM (DESCRIBE SELECT o_orderkey,"
            " o_totalprice FROM orders) ORDER BY column_name"
        ).collect()
    ]
    assert cols == ["o_orderkey", "o_totalprice"]
    n = loaded_engine.execute(
        "SELECT CAST(count(*) AS BIGINT) AS n FROM (SUMMARIZE nation)"
    ).collect()[0][0]
    assert n == 3  # one row per nation column
    # ORDER BY (expr) DESC is untouched by the relation expansion
    rows = loaded_engine.execute(
        "SELECT n_nationkey FROM nation ORDER BY (n_nationkey) DESC LIMIT 2"
    ).collect()
    assert [r[0] for r in rows] == [24, 23]


def test_macro_or_replace_crosses_kinds(engine):
    """Wave-15 fuzz find: macros live in ONE namespace — CREATE OR
    REPLACE must evict a same-named macro of the other kind, and plain
    CREATE must refuse it."""
    import pytest

    engine.execute("CREATE MACRO mk1(x) AS x + 1")
    engine.execute(
        "CREATE OR REPLACE MACRO mk1(r := 1) AS TABLE"
        " SELECT range AS v FROM range(r)"
    )
    assert (
        engine.execute("SELECT count(*) AS c FROM mk1(r := 3)").collect()[0][0]
        == 3
    )
    with pytest.raises(ValueError, match="already exists"):
        engine.execute("CREATE MACRO mk1(y) AS y * 2")
    engine.execute("CREATE OR REPLACE MACRO mk1(y) AS y * 2")
    assert engine.execute("SELECT mk1(4) AS v").collect()[0][0] == 8


def test_percent_limit_everywhere(loaded_engine):
    """LIMIT p% / p PERCENT in subquery position and the PERCENT
    keyword at top level (round-11 probe find); the modulo operator
    stays untouched."""
    n = loaded_engine.execute(
        "SELECT CAST(count(*) AS BIGINT) AS n FROM"
        " (SELECT * FROM orders LIMIT 10%) t"
    ).collect()[0][0]
    total = loaded_engine.execute(
        "SELECT CAST(count(*) AS BIGINT) AS n FROM orders"
    ).collect()[0][0]
    assert n == int(total * 0.10)
    n2 = loaded_engine.execute(
        "SELECT CAST(count(*) AS BIGINT) AS n FROM"
        " (SELECT * FROM orders LIMIT 5 PERCENT) t"
    ).collect()[0][0]
    assert n2 == int(total * 0.05)
    m = loaded_engine.execute(
        "SELECT CAST(count(*) AS BIGINT) AS n FROM orders"
        " WHERE CAST(o_orderkey AS INTEGER) % 7 = 0"
    ).collect()[0][0]
    assert 0 < m < total


def test_asof_join_derived_tables(loaded_engine):
    """ASOF JOIN over derived tables on either side (round-12 probe
    find: the SQL handler required plain table names) — values pinned
    vs DuckDB for inner/LEFT and both-sides-derived forms."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    qs = [
        "SELECT count(*) AS n FROM events e ASOF LEFT JOIN"
        " (SELECT user_id AS u, ts AS t, value FROM events"
        " WHERE event_id % 7 = 0) s ON e.user_id = s.u AND e.ts >= s.t",
        "SELECT count(*) AS n, round(sum(s.value), 2) AS v FROM events"
        " e ASOF JOIN (SELECT user_id AS u, ts AS t, value FROM events"
        " WHERE event_id % 7 = 0) s ON e.user_id = s.u AND e.ts >= s.t",
        "SELECT count(*) AS n FROM (SELECT user_id, ts FROM events"
        " WHERE event_id % 3 = 0) a ASOF JOIN (SELECT user_id AS u,"
        " ts AS t FROM events WHERE event_id % 7 = 0) b"
        " ON a.user_id = b.u AND a.ts >= b.t",
    ]
    for q in qs:
        d = [tuple(map(str, r)) for r in dk.sql(q).fetchall()]
        s = [
            tuple(map(str, r))
            for r in loaded_engine.execute(q).collect()
        ]
        assert d == s, q


def test_describe_nullability_and_key_markers(engine):
    """DESCRIBE / PRAGMA table_info constraint rendering matches DuckDB
    (round-12 probe finds): nullability reflects DECLARED NOT NULL /
    PRIMARY KEY only (parquet-backed tables and views are all 'YES'
    regardless of the parquet required flag); PRIMARY KEY columns carry
    key='PRI' / pk=true, UNIQUE members (incl. composite) 'UNI'."""
    import duckdb

    dk = duckdb.connect()
    stmts = [
        "CREATE TABLE dk1 (a INTEGER NOT NULL, b VARCHAR,"
        " c INTEGER PRIMARY KEY)",
        "CREATE TABLE dk2 (a INTEGER, b INTEGER, UNIQUE (a, b))",
        "CREATE TABLE dk3 (a INTEGER PRIMARY KEY, b INTEGER UNIQUE)",
        "CREATE TABLE dk4 (a INTEGER, b VARCHAR, PRIMARY KEY (a, b))",
    ]
    for st in stmts:
        engine.execute(st)
        dk.execute(st)
    for q in [
        "DESCRIBE dk1", "DESCRIBE dk2", "DESCRIBE dk3", "DESCRIBE dk4",
        "PRAGMA table_info('dk1')", "PRAGMA table_info('dk3')",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_prepare_named_parameters(engine):
    """EXECUTE p(k := expr) binds $k placeholders (round-12 probe
    find); order-independent, expressions evaluate, positional $N keeps
    working, and a missing parameter raises DuckDB's binder error."""
    import duckdb
    import pytest

    dk = duckdb.connect()
    for st in ["PREPARE pn AS SELECT $low + $high AS s"]:
        engine.execute(st)
        dk.execute(st)
    for q in [
        "EXECUTE pn(low := 1, high := 2)",
        "EXECUTE pn(high := 10, low := 5 + 1)",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert d == s, q
    with pytest.raises(Exception):
        engine.execute("EXECUTE pn(low := 1)").collect()


def test_recursive_union_cte_matches_duckdb(loaded_engine):
    """WITH RECURSIVE ... UNION (deduplicating) — round-12: Spark 4.1's
    native UnionLoop only supports UNION ALL, so the engine runs the
    standard fixpoint loop itself (frontier = previous iteration's NEW
    rows, set-minus against everything seen, localCheckpoint per round
    to keep the plan from doubling). Grid pinned against DuckDB over
    counters, cycles (non-termination under UNION ALL), graph
    reachability, column lists, strings, dates, trailing CTEs, and
    base-table joins; UNION ALL recursion stays native."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{SF_DIR}/nation.parquet'"
    )
    grid = [
        # multi-step counter
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n + 1 FROM t"
        " WHERE n < 10) SELECT * FROM t ORDER BY n",
        # cycle: terminates ONLY because UNION deduplicates
        "WITH RECURSIVE r(x) AS (SELECT 0 UNION SELECT (x + 3) % 7"
        " FROM r) SELECT * FROM r ORDER BY x",
        # graph reachability over an edge list with a cycle
        "WITH RECURSIVE reach(node) AS (SELECT 1 UNION SELECT e.dst"
        " FROM reach JOIN (SELECT 1 AS src, 2 AS dst UNION ALL"
        " SELECT 2, 3 UNION ALL SELECT 3, 1 UNION ALL SELECT 3, 4) e"
        " ON e.src = reach.node) SELECT * FROM reach ORDER BY node",
        # column list renames both branches
        "WITH RECURSIVE f(a, b) AS (SELECT 0, 1 UNION SELECT b, a + b"
        " FROM f WHERE b < 100) SELECT a, b FROM f ORDER BY a",
        # strings grow until the guard
        "WITH RECURSIVE r AS (SELECT 'a' AS x UNION SELECT x || 'b'"
        " FROM r WHERE length(x) < 4) SELECT * FROM r ORDER BY x",
        # trailing CTE sees the fixpoint as a table
        "WITH RECURSIVE seq(n) AS (SELECT 1 UNION SELECT n + 1 FROM"
        " seq WHERE n < 5), doubled AS (SELECT n * 2 AS d FROM seq)"
        " SELECT * FROM doubled ORDER BY d",
        # UNION ALL recursion: Spark-native UnionLoop path
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1"
        " FROM t WHERE n < 6) SELECT CAST(sum(n) AS BIGINT) AS s FROM t",
        # WITH RECURSIVE spelled but not self-referencing
        "WITH RECURSIVE t AS (SELECT 42 AS v UNION SELECT 43)"
        " SELECT * FROM t ORDER BY v",
        # aggregate over the fixpoint
        "WITH RECURSIVE seq(n) AS (SELECT 1 UNION SELECT n + 1 FROM"
        " seq WHERE n < 12) SELECT CAST(count(*) AS BIGINT) AS c,"
        " CAST(sum(n) AS BIGINT) AS s FROM seq",
        # join a registered base table in the final query
        "WITH RECURSIVE seq(k) AS (SELECT 0 UNION SELECT k + 1 FROM"
        " seq WHERE k < 4) SELECT s.k, n.n_name FROM seq s JOIN nation"
        " n ON n.n_regionkey = s.k ORDER BY s.k, n.n_name",
        # date spine
        "WITH RECURSIVE d(dt) AS (SELECT DATE '2024-01-01' UNION"
        " SELECT dt + INTERVAL 7 DAY FROM d WHERE dt <"
        " DATE '2024-02-15') SELECT CAST(dt AS DATE) AS dt FROM d"
        " ORDER BY dt",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q
    # the CTE name shadows a registered table DURING the statement and
    # the table comes back after
    q = (
        "WITH RECURSIVE nation(n) AS (SELECT 1 UNION SELECT n + 1"
        " FROM nation WHERE n < 3) SELECT * FROM nation ORDER BY n"
    )
    assert [tuple(r) for r in loaded_engine.execute(q).collect()] == [
        (1,), (2,), (3,)
    ]
    n_after = loaded_engine.execute(
        "SELECT CAST(count(*) AS BIGINT) AS c FROM nation"
    ).collect()[0][0]
    assert n_after == 25


def test_timestamptz_spellings_match_duckdb(engine):
    """TIMESTAMPTZ / TIMESTAMP WITH TIME ZONE (round-12 probe find):
    literals, casts, coldefs. The session zone is pinned UTC and
    Spark's TIMESTAMP literal/cast absorbs +hh[:mm] offsets into the
    instant — exactly DuckDB's TIMESTAMPTZ semantics — so the spelling
    normalizes to TIMESTAMP (pass_tz_type_spellings); DESCRIBE keeps
    the declared 'TIMESTAMP WITH TIME ZONE' text."""
    import duckdb

    dk = duckdb.connect()

    def norm(rows):
        return sorted(
            str(tuple(
                v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v
                for v in r
            ))
            for r in rows
        )

    for st in [
        "CREATE TABLE tz (id INTEGER, ts TIMESTAMPTZ,"
        " t2 TIMESTAMP WITH TIME ZONE)",
        "INSERT INTO tz VALUES (1, TIMESTAMPTZ '2024-06-01 10:00:00+02',"
        " TIMESTAMP '2024-01-01 00:00:00')",
    ]:
        dk.execute(st)
        engine.execute(st)
    for q in [
        "SELECT TIMESTAMPTZ '2024-06-01 10:00:00+02' AS t",
        "SELECT '2024-06-01 10:00:00+02'::TIMESTAMPTZ AS t",
        "SELECT TIMESTAMP WITH TIME ZONE '2024-06-01 10:00:00+02' AS t",
        "SELECT CAST('2024-06-01 10:00:00+02' AS TIMESTAMP WITH TIME"
        " ZONE) AS t",
        "SELECT timezone('America/New_York', TIMESTAMP"
        " '2024-01-01 10:00:00') = TIMESTAMPTZ '2024-01-01 15:00:00+00'"
        " AS eq",
        "SELECT TIMESTAMPTZ '2024-06-01 10:00:00+02' AT TIME ZONE"
        " 'America/New_York' AS wall",
        "SELECT id, ts, t2 FROM tz",
        "DESCRIBE tz",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert norm(d) == norm(s), q


def test_csv_types_and_catalog_fns(engine):
    """Round-12 probe-batch-14 finds: read_csv(types={'col': 'TYPE'} |
    [...]) per-column overrides (re-read with an explicit schema so a
    VARCHAR override keeps the file's lexical form), plus the
    duckdb_schemas() / duckdb_functions() / parquet_file_metadata()
    table functions."""
    import duckdb

    from tests.conftest import SF_DIR

    with open("/tmp/csv_types_t.csv", "w") as f:
        f.write("01,x\n2,y\n")
    dk = duckdb.connect()
    grid = [
        "SELECT typeof(a) AS t, a FROM read_csv('/tmp/csv_types_t.csv',"
        " header=false, names=['a','b'], types={'a': 'VARCHAR'})"
        " ORDER BY a",
        "SELECT typeof(b) AS t FROM read_csv('/tmp/csv_types_t.csv',"
        " header=false, names=['a','b'], types=['VARCHAR','VARCHAR'])"
        " LIMIT 1",
        "SELECT num_rows, num_row_groups, format_version FROM"
        f" parquet_file_metadata('{SF_DIR}/nation.parquet')",
        "SELECT schema_name FROM duckdb_schemas() WHERE database_name"
        " = 'memory' ORDER BY schema_name",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q
    # duckdb_functions(): engine's own callable surface — shape checks
    engine.execute("CREATE MACRO _cat_fn_probe(x) AS x + 1")
    rows = engine.execute(
        "SELECT function_name, function_type, macro_definition FROM"
        " duckdb_functions() WHERE function_name = '_cat_fn_probe'"
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("_cat_fn_probe", "macro", "x + 1")
    ]
    n = engine.execute(
        "SELECT count(*) AS c FROM duckdb_functions()"
    ).collect()[0][0]
    assert n > 100
