"""Extended DML/API surface: prepared-statement parameters, sequences,
TRUNCATE, INSERT OR REPLACE/IGNORE + ON CONFLICT, MERGE INTO, real
transactions, EXPORT/IMPORT DATABASE.

Where the construct is deterministic SQL, DuckDB itself is the oracle
(same statements run on an in-process duckdb connection, results
compared) — the reference's execution-match methodology
(/root/reference/eval/evaluate.py:116-170) applied to the new surface.
"""

import datetime

import duckdb
import pytest


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


@pytest.fixture()
def duck():
    con = duckdb.connect()
    yield con
    con.close()


# ------------------------------------------------------------- parameters


def test_positional_qmark_params(loaded_engine):
    df = loaded_engine.execute(
        "SELECT n_name FROM nation WHERE n_regionkey = ? AND n_name > ? "
        "ORDER BY n_name",
        [0, "A"],
    )
    ref = loaded_engine.execute(
        "SELECT n_name FROM nation WHERE n_regionkey = 0 AND n_name > 'A' "
        "ORDER BY n_name"
    )
    assert _rows(df) == _rows(ref)


def test_numbered_dollar_params(loaded_engine):
    df = loaded_engine.execute(
        "SELECT $2 AS a, $1 AS b, $1 AS c", ["x", 7]
    )
    assert df.collect()[0].asDict() == {"a": 7, "b": "x", "c": "x"}


def test_named_params(loaded_engine):
    df = loaded_engine.execute(
        "SELECT $name AS n, $val + 1 AS v", {"name": "bob", "val": 41}
    )
    assert tuple(df.collect()[0]) == ("bob", 42)


def test_param_types_roundtrip(loaded_engine):
    df = loaded_engine.execute(
        "SELECT ? AS i, ? AS f, ? AS s, ? AS b, ? AS d, ? AS ts, ? AS l, "
        "? AS n",
        [
            3,
            2.5,
            "it's",
            True,
            datetime.date(2024, 2, 29),
            datetime.datetime(2024, 2, 29, 12, 30, 15),
            [1, 2, 3],
            None,
        ],
    )
    row = df.collect()[0]
    assert row["i"] == 3 and row["f"] == 2.5 and row["s"] == "it's"
    assert row["b"] is True
    assert row["d"] == datetime.date(2024, 2, 29)
    assert row["ts"] == datetime.datetime(2024, 2, 29, 12, 30, 15)
    assert row["l"] == [1, 2, 3]
    assert row["n"] is None


def test_params_not_bound_inside_strings(loaded_engine):
    df = loaded_engine.execute("SELECT '?' AS q, ? AS v", [5])
    assert tuple(df.collect()[0]) == ("?", 5)


def test_param_count_mismatch_errors(loaded_engine):
    with pytest.raises(Exception, match="parameter"):
        loaded_engine.execute("SELECT ? AS a", [])
    with pytest.raises(Exception, match="parameter"):
        loaded_engine.execute("SELECT ? AS a", [1, 2])


def test_executemany(engine):
    engine.execute("CREATE TABLE t(a INT, b VARCHAR)")
    engine.executemany(
        "INSERT INTO t VALUES (?, ?)", [[1, "x"], [2, "y"], [3, "z"]]
    )
    assert _rows(engine.execute("SELECT * FROM t")) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]


# -------------------------------------------------------------- sequences


def test_sequence_basic_matches_duckdb(engine, duck):
    engine.execute("CREATE SEQUENCE seq")
    duck.execute("CREATE SEQUENCE seq")
    for s in (
        "SELECT nextval('seq') AS v",
        "SELECT nextval('seq') AS v",
        "SELECT currval('seq') AS v",
    ):
        mine = [tuple(r) for r in engine.execute(s).collect()]
        assert mine == duck.execute(s).fetchall()


def test_sequence_start_increment(engine, duck):
    for s in ("CREATE SEQUENCE s2 START 100 INCREMENT 5",):
        engine.execute(s)
        duck.execute(s)
    for _ in range(3):
        q = "SELECT nextval('s2') AS v"
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            duck.execute(q).fetchall()
        )


def test_sequence_over_from_rowset(engine):
    engine.execute("CREATE SEQUENCE ids START 10")
    engine.execute("CREATE TABLE src(x VARCHAR)")
    engine.execute("INSERT INTO src VALUES ('a'), ('b'), ('c')")
    df = engine.execute("SELECT nextval('ids') AS id, x FROM src")
    got = sorted(tuple(r) for r in df.collect())
    assert [g[0] for g in got] == [10, 11, 12]
    # counter advanced by the row count
    assert tuple(engine.execute("SELECT nextval('ids') AS v").collect()[0]) == (13,)


def test_sequence_insert_from_select(engine):
    engine.execute("CREATE SEQUENCE k START 1")
    engine.execute("CREATE TABLE src2(x VARCHAR)")
    engine.execute("INSERT INTO src2 VALUES ('a'), ('b')")
    engine.execute("CREATE TABLE dst(id BIGINT, x VARCHAR)")
    engine.execute("INSERT INTO dst SELECT nextval('k'), x FROM src2")
    assert sorted(r["id"] for r in engine.execute("SELECT * FROM dst").collect()) == [1, 2]
    assert tuple(engine.execute("SELECT currval('k') AS v").collect()[0]) == (2,)


def test_sequence_errors(engine):
    with pytest.raises(Exception, match="does not exist"):
        engine.execute("SELECT nextval('nope')")
    engine.execute("CREATE SEQUENCE lim START 1 MAXVALUE 2")
    engine.execute("SELECT nextval('lim')")
    engine.execute("SELECT nextval('lim')")
    with pytest.raises(Exception, match="maximum"):
        engine.execute("SELECT nextval('lim')")
    engine.execute("DROP SEQUENCE lim")
    with pytest.raises(Exception, match="does not exist"):
        engine.execute("SELECT nextval('lim')")


# --------------------------------------------------------------- truncate


def test_truncate(engine):
    engine.execute("CREATE TABLE tt(a INT)")
    engine.execute("INSERT INTO tt VALUES (1), (2)")
    engine.execute("TRUNCATE tt")
    assert engine.execute("SELECT count(*) AS n FROM tt").collect()[0][0] == 0
    # schema survives
    engine.execute("INSERT INTO tt VALUES (9)")
    assert _rows(engine.execute("SELECT * FROM tt")) == [(9,)]


# ------------------------------------------------- conflict-aware INSERTs


def _mk_conflict_pair(engine, duck, name="ct"):
    ddl = f"CREATE TABLE {name}(id INT PRIMARY KEY, v VARCHAR)"
    seed = f"INSERT INTO {name} VALUES (1, 'one'), (2, 'two')"
    for s in (ddl, seed):
        engine.execute(s)
        duck.execute(s)


def test_insert_or_ignore_matches_duckdb(engine, duck):
    _mk_conflict_pair(engine, duck)
    stmt = "INSERT OR IGNORE INTO ct VALUES (2, 'TWO'), (3, 'three')"
    engine.execute(stmt)
    duck.execute(stmt)
    q = "SELECT * FROM ct ORDER BY id"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_insert_or_replace_matches_duckdb(engine, duck):
    _mk_conflict_pair(engine, duck, "cr")
    stmt = "INSERT OR REPLACE INTO cr VALUES (2, 'TWO'), (3, 'three')"
    engine.execute(stmt)
    duck.execute(stmt)
    q = "SELECT * FROM cr ORDER BY id"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_on_conflict_do_nothing_matches_duckdb(engine, duck):
    _mk_conflict_pair(engine, duck, "cn")
    stmt = "INSERT INTO cn VALUES (1, 'uno'), (4, 'four') ON CONFLICT DO NOTHING"
    engine.execute(stmt)
    duck.execute(stmt)
    q = "SELECT * FROM cn ORDER BY id"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_on_conflict_do_update_matches_duckdb(engine, duck):
    _mk_conflict_pair(engine, duck, "cu")
    stmt = (
        "INSERT INTO cu VALUES (2, 'DOS'), (5, 'five') "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v || '!' "
    )
    engine.execute(stmt)
    duck.execute(stmt)
    q = "SELECT * FROM cu ORDER BY id"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_on_conflict_update_references_old_row(engine, duck):
    ddl = "CREATE TABLE acc(id INT PRIMARY KEY, total INT)"
    seed = "INSERT INTO acc VALUES (1, 10)"
    stmt = (
        "INSERT INTO acc VALUES (1, 32), (2, 5) "
        "ON CONFLICT (id) DO UPDATE SET total = total + excluded.total"
    )
    q = "SELECT * FROM acc ORDER BY id"
    for s in (ddl, seed, stmt):
        engine.execute(s)
        duck.execute(s)
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_insert_conflict_without_key_errors(engine):
    engine.execute("CREATE TABLE nk(a INT)")
    with pytest.raises(Exception, match="(?i)conflict"):
        engine.execute("INSERT OR IGNORE INTO nk VALUES (1)")


# ------------------------------------------------------------------ MERGE
#
# The container's duckdb (1.0.0) predates MERGE INTO (added in DuckDB
# 1.4), so the oracle here is the DuckDB-DOCUMENTED semantics computed as
# explicit expected rows on deterministic fixtures (clause order,
# first-match-wins), rather than an executable cross-check.


def _mk_merge(engine):
    for s in (
        "CREATE TABLE tgt(id INT, v VARCHAR, n INT)",
        "INSERT INTO tgt VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)",
        "CREATE TABLE src(id INT, v VARCHAR, n INT)",
        "INSERT INTO src VALUES (2, 'B', 200), (3, 'C', 300), (4, 'D', 400)",
    ):
        engine.execute(s)


def test_merge_upsert(engine):
    _mk_merge(engine)
    engine.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED THEN UPDATE SET v = src.v, n = src.n "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v, src.n)"
    )
    assert _rows(engine.execute("SELECT * FROM tgt")) == [
        (1, "a", 10), (2, "B", 200), (3, "C", 300), (4, "D", 400),
    ]


def test_merge_conditional_delete_first_match_wins(engine):
    _mk_merge(engine)
    engine.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED AND src.n > 250 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET n = tgt.n + src.n "
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (src.id, src.v, 0)"
    )
    # id=3 deleted (n=300>250); id=2 updated 20+200; id=4 inserted with 0
    assert _rows(engine.execute("SELECT * FROM tgt")) == [
        (1, "a", 10), (2, "b", 220), (4, "D", 0),
    ]


def test_merge_set_star_and_subquery_source(engine):
    _mk_merge(engine)
    engine.execute(
        "MERGE INTO tgt USING (SELECT id, v, n FROM src WHERE n < 350) s "
        "ON tgt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(engine.execute("SELECT * FROM tgt")) == [
        (1, "a", 10), (2, "B", 200), (3, "C", 300),
    ]


def test_merge_not_matched_by_source_delete(engine):
    _mk_merge(engine)
    engine.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED THEN UPDATE SET n = src.n "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v, src.n)"
    )
    # id=1 has no source partner -> deleted; 2,3 updated; 4 inserted
    assert _rows(engine.execute("SELECT * FROM tgt")) == [
        (2, "b", 200), (3, "c", 300), (4, "D", 400),
    ]


# -------------------------------------------------------------- RETURNING


def test_insert_returning_matches_duckdb(engine, duck):
    for s in ("CREATE TABLE r1(a INT, b VARCHAR)",):
        engine.execute(s)
        duck.execute(s)
    stmt = "INSERT INTO r1 VALUES (1, 'x'), (2, 'y') RETURNING b, a * 10 AS a10"
    mine = sorted(tuple(r) for r in engine.execute(stmt).collect())
    assert mine == sorted(duck.execute(stmt).fetchall())


def test_update_returning_matches_duckdb(engine, duck):
    for s in (
        "CREATE TABLE r2(a INT, b VARCHAR)",
        "INSERT INTO r2 VALUES (1, 'x'), (2, 'y'), (3, 'z')",
    ):
        engine.execute(s)
        duck.execute(s)
    stmt = "UPDATE r2 SET a = a + 100 WHERE a >= 2 RETURNING *"
    mine = sorted(tuple(r) for r in engine.execute(stmt).collect())
    assert mine == sorted(duck.execute(stmt).fetchall())
    # post-update values, only touched rows
    assert mine == [(102, "y"), (103, "z")]


def test_delete_returning_matches_duckdb(engine, duck):
    for s in (
        "CREATE TABLE r3(a INT)",
        "INSERT INTO r3 VALUES (1), (2), (3)",
    ):
        engine.execute(s)
        duck.execute(s)
    stmt = "DELETE FROM r3 WHERE a <> 2 RETURNING a"
    mine = sorted(tuple(r) for r in engine.execute(stmt).collect())
    assert mine == sorted(duck.execute(stmt).fetchall())
    assert sorted(tuple(r) for r in engine.execute("SELECT * FROM r3").collect()) == [
        (2,)
    ]


# ----------------------------------------------------------- transactions


def test_rollback_restores_table_state(engine):
    engine.execute("CREATE TABLE tx(a INT)")
    engine.execute("INSERT INTO tx VALUES (1)")
    engine.execute("BEGIN TRANSACTION")
    engine.execute("INSERT INTO tx VALUES (2)")
    engine.execute("UPDATE tx SET a = a * 10")
    assert _rows(engine.execute("SELECT * FROM tx")) == [(10,), (20,)]
    engine.execute("ROLLBACK")
    assert _rows(engine.execute("SELECT * FROM tx")) == [(1,)]


def test_rollback_undoes_create_and_drop(engine):
    engine.execute("CREATE TABLE keepme(a INT)")
    engine.execute("BEGIN")
    engine.execute("CREATE TABLE ephemeral(b INT)")
    engine.execute("DROP TABLE keepme")
    engine.execute("ROLLBACK")
    # keepme restored, ephemeral gone
    assert engine.execute("SELECT count(*) AS n FROM keepme").collect()[0][0] == 0
    with pytest.raises(
        Exception, match="(?i)does not exist|cannot be found|not found"
    ):
        engine.execute("SELECT * FROM ephemeral")


def test_commit_keeps_changes(engine):
    engine.execute("CREATE TABLE cm(a INT)")
    engine.execute("BEGIN; INSERT INTO cm VALUES (7); COMMIT")
    assert _rows(engine.execute("SELECT * FROM cm")) == [(7,)]


def test_transaction_errors_match_duckdb_shape(engine):
    with pytest.raises(Exception, match="no transaction is active"):
        engine.execute("COMMIT")
    with pytest.raises(Exception, match="no transaction is active"):
        engine.execute("ROLLBACK")
    engine.execute("BEGIN")
    with pytest.raises(Exception, match="within a transaction"):
        engine.execute("BEGIN")
    engine.execute("ROLLBACK")


# --------------------------------------------------------- export/import


def test_export_import_roundtrip(engine, tmp_path):
    engine.execute("CREATE TABLE exp1(a INT, b VARCHAR)")
    engine.execute("INSERT INTO exp1 VALUES (1, 'x'), (2, 'y')")
    engine.execute("CREATE TABLE exp2(d DATE)")
    engine.execute("INSERT INTO exp2 VALUES (DATE '2024-01-15')")
    target = str(tmp_path / "exported")
    engine.execute(f"EXPORT DATABASE '{target}' (FORMAT parquet)")
    import os

    assert os.path.exists(os.path.join(target, "schema.sql"))
    assert os.path.exists(os.path.join(target, "load.sql"))
    # a FRESH session imports the manifest
    from duckdb_nsql_spark import DuckSparkSession

    eng2 = DuckSparkSession(spark=engine.spark)
    eng2.execute(f"IMPORT DATABASE '{target}'")
    assert _rows(eng2.execute("SELECT * FROM exp1")) == [(1, "x"), (2, "y")]
    assert _rows(eng2.execute("SELECT * FROM exp2")) == [
        (datetime.date(2024, 1, 15),)
    ]


def test_export_is_duckdb_importable(engine, duck, tmp_path):
    """The exported manifest must replay in REAL DuckDB."""
    engine.execute("CREATE TABLE ed(a INT, s VARCHAR)")
    engine.execute("INSERT INTO ed VALUES (1, 'hello'), (2, 'world')")
    target = str(tmp_path / "for_duck")
    engine.execute(f"EXPORT DATABASE '{target}' (FORMAT parquet)")
    duck.execute(f"IMPORT DATABASE '{target}'")
    assert _duck_rows(duck, "SELECT * FROM ed") == [(1, "hello"), (2, "world")]


def test_checkpoint_noop(engine):
    engine.execute("CHECKPOINT")
    engine.execute("VACUUM")


# ------------------------------------------------- PREPARE / EXECUTE


def test_prepare_execute_matches_duckdb(loaded_engine, duck):
    import os as _os

    _sfdir = _os.environ.get(
        "SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01"
    )  # must match conftest SF_DIR (loaded_engine's data)
    duck.execute(
        "CREATE VIEW nation AS SELECT * FROM "
        f"read_parquet('{_sfdir}/nation.parquet')"
    )
    stmts = [
        "PREPARE nat AS SELECT n_name FROM nation WHERE n_regionkey = ? "
        "ORDER BY n_name",
    ]
    for s in stmts:
        loaded_engine.execute(s)
        duck.execute(s)
    q = "EXECUTE nat(2)"
    assert [tuple(r) for r in loaded_engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )
    # numbered + expression arguments
    loaded_engine.execute(
        "PREPARE two AS SELECT $2 AS a, $1 AS b"
    )
    duck.execute("PREPARE two AS SELECT $2 AS a, $1 AS b")
    q2 = "EXECUTE two(1 + 1, 'x')"
    assert [tuple(r) for r in loaded_engine.execute(q2).collect()] == (
        duck.execute(q2).fetchall()
    )
    loaded_engine.execute("DEALLOCATE two")
    import pytest as _pytest

    with _pytest.raises(Exception, match="does not exist"):
        loaded_engine.execute("EXECUTE two(1, 'x')")


def test_insert_by_name_matches_duckdb(engine, duck):
    for s in (
        "CREATE TABLE bn(a INT, b VARCHAR, c DOUBLE)",
        "INSERT INTO bn BY NAME SELECT 'x' AS b, 1 AS a",
        "INSERT INTO bn BY NAME SELECT 2.5 AS c, 7 AS a",
    ):
        engine.execute(s)
        duck.execute(s)
    q = "SELECT * FROM bn ORDER BY a"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_update_from_delete_using_defaults_matches_duckdb(engine, duck):
    """UPDATE..FROM (join update), DELETE..USING (anti-join delete),
    scalar-subquery SET/WHERE, column DEFAULTs on partial INSERT, and
    INSERT..DEFAULT VALUES — every statement replayed on DuckDB, every
    intermediate table state compared."""
    setup = [
        "CREATE TABLE t1 (id INTEGER, v VARCHAR)",
        "INSERT INTO t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')",
        "CREATE TABLE t2 (id INTEGER, v VARCHAR)",
        "INSERT INTO t2 VALUES (2, 'B'), (3, 'C')",
    ]
    checks = [
        "UPDATE t1 SET v = t2.v FROM t2 WHERE t1.id = t2.id",
        "UPDATE t1 SET v = upper(v) WHERE id = (SELECT min(id) FROM t2)",
        "UPDATE t1 SET v = (SELECT max(v) FROM t2) WHERE id = 1",
        "DELETE FROM t1 USING t2 WHERE t1.id = t2.id AND t1.v = 'B'",
        "UPDATE t1 SET v = 'z' || id",
        "DELETE FROM t1 USING t2 WHERE t1.id = t2.id",
    ]
    for s in setup:
        engine.execute(s)
        duck.execute(s)
    for s in checks:
        engine.execute(s)
        duck.execute(s)
        q = "SELECT * FROM t1 ORDER BY id"
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            duck.execute(q).fetchall()
        ), s
    for s in (
        "CREATE TABLE t3 (id INTEGER DEFAULT 9, v VARCHAR DEFAULT 'dv', "
        "w DOUBLE)",
        "INSERT INTO t3 (v) VALUES ('x')",
        "INSERT INTO t3 DEFAULT VALUES",
        "INSERT INTO t3 (w) VALUES (1.5)",
    ):
        engine.execute(s)
        duck.execute(s)
    q = "SELECT * FROM t3 ORDER BY v NULLS LAST, w NULLS LAST"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_constraint_enforcement_matches_duckdb(engine, duck):
    """NOT NULL / CHECK / PRIMARY KEY / UNIQUE enforcement on INSERT and
    UPDATE — DuckDB's Constraint Error shapes, failed statements leave
    the table untouched, NULL passes CHECK (SQL three-valued logic)."""
    import pytest as _pytest

    for s in (
        "CREATE TABLE ct (id INTEGER PRIMARY KEY, v VARCHAR NOT NULL, "
        "n INTEGER CHECK (n > 0))",
        "INSERT INTO ct VALUES (1, 'a', 5)",
    ):
        engine.execute(s)
        duck.execute(s)
    bad = [
        "INSERT INTO ct VALUES (1, 'b', 5)",        # PK dup vs table
        "INSERT INTO ct VALUES (2, NULL, 5)",       # NOT NULL
        "INSERT INTO ct VALUES (3, 'c', -1)",       # CHECK
        "INSERT INTO ct VALUES (4, 'd', 2), (4, 'e', 3)",  # dup in batch
        "UPDATE ct SET n = -5 WHERE id = 1",        # CHECK on update
        "UPDATE ct SET v = NULL WHERE id = 1",      # NOT NULL on update
    ]
    for s in bad:
        with _pytest.raises(Exception, match="Constraint Error"):
            engine.execute(s)
        with _pytest.raises(Exception):
            duck.execute(s)
        q = "SELECT * FROM ct ORDER BY id"
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            duck.execute(q).fetchall()
        ), s
    # NULL passes CHECK; PK implies NOT NULL
    engine.execute("INSERT INTO ct VALUES (2, 'ok', NULL)")
    duck.execute("INSERT INTO ct VALUES (2, 'ok', NULL)")
    with _pytest.raises(Exception, match="Constraint Error"):
        engine.execute("INSERT INTO ct VALUES (NULL, 'x', 1)")
    # table-level CHECK + multi-column UNIQUE
    for s in (
        "CREATE TABLE tc2 (a INTEGER, b INTEGER, CHECK (a < b), "
        "UNIQUE (a, b))",
        "INSERT INTO tc2 VALUES (1, 2)",
    ):
        engine.execute(s)
        duck.execute(s)
    with _pytest.raises(Exception, match="CHECK constraint failed"):
        engine.execute("INSERT INTO tc2 VALUES (3, 2)")
    with _pytest.raises(Exception, match="Duplicate key"):
        engine.execute("INSERT INTO tc2 VALUES (1, 2)")


def test_foreign_key_enforcement_matches_duckdb(engine, duck):
    """FOREIGN KEY: child INSERTs must reference existing parent keys
    (NULLs pass), parent DELETEs of still-referenced keys fail — both
    column-level REFERENCES and table-level FOREIGN KEY forms."""
    import pytest as _pytest

    for s in (
        "CREATE TABLE p (pid INTEGER PRIMARY KEY, nm VARCHAR)",
        "CREATE TABLE ch (cid INTEGER, pid INTEGER REFERENCES p(pid))",
        "INSERT INTO p VALUES (1, 'a'), (2, 'b')",
        "INSERT INTO ch VALUES (10, 1)",
    ):
        engine.execute(s)
        duck.execute(s)
    with _pytest.raises(Exception, match="foreign key"):
        engine.execute("INSERT INTO ch VALUES (11, 9)")
    with _pytest.raises(Exception, match="foreign key"):
        engine.execute("DELETE FROM p WHERE pid = 1")
    engine.execute("DELETE FROM p WHERE pid = 2")      # unreferenced: ok
    duck.execute("DELETE FROM p WHERE pid = 2")
    engine.execute("INSERT INTO ch VALUES (12, NULL)")  # NULL FK passes
    duck.execute("INSERT INTO ch VALUES (12, NULL)")
    for t in ("p", "ch"):
        q = f"SELECT * FROM {t} ORDER BY 1"
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            duck.execute(q).fetchall()
        )
    engine.execute(
        "CREATE TABLE ch2 (a INTEGER, b INTEGER, "
        "FOREIGN KEY (a) REFERENCES p(pid))"
    )
    engine.execute("INSERT INTO ch2 VALUES (1, 0)")
    with _pytest.raises(Exception, match="foreign key"):
        engine.execute("INSERT INTO ch2 VALUES (7, 0)")


def test_update_pk_column_duckdb_index_semantics(engine, duck):
    """DuckDB's UPDATE on an indexed column is delete+insert with the
    inserted key checked against the PRE-update index: ``SET pk = pk + 1``
    errors even when the final state would be unique, and ``SET pk = pk``
    errors too (probed live on duckdb 1.0). Runs the same grid on both
    engines and demands error/result parity statement by statement."""
    grid = [
        ("UPDATE ug SET a = a + 10", None),
        ("UPDATE ug SET a = a + 1", None),
        ("UPDATE ug SET a = a", None),
        ("UPDATE ug SET a = a + 1 WHERE a >= 2", None),
        ("UPDATE ug SET a = 2 WHERE a = 1", None),
        ("UPDATE ug SET a = 55", None),
        ("UPDATE ug SET a = NULL WHERE a = 1", None),
        ("UPDATE ug SET b = b + 1", None),
        ("UPDATE ug SET a = 2 WHERE a > 100", None),
        # two sequential statements: a swap through a free key is legal
        ("UPDATE ug SET a = 99 WHERE a = 1", "UPDATE ug SET a = 1 WHERE a = 2"),
    ]
    for first, second in grid:
        engine.execute("DROP TABLE IF EXISTS ug")
        duck.execute("DROP TABLE IF EXISTS ug")
        for con in (engine, duck):
            con.execute("CREATE TABLE ug(a INT PRIMARY KEY, b INT)")
            con.execute("INSERT INTO ug VALUES (1,1),(2,2),(3,3)")
        for stmt in filter(None, (first, second)):
            derr = serr = None
            try:
                duck.execute(stmt)
            except Exception as ex:  # noqa: BLE001
                derr = str(ex)
            try:
                engine.execute(stmt)
            except Exception as ex:  # noqa: BLE001
                serr = str(ex)
            assert (derr is None) == (serr is None), (
                f"{stmt}: duck={derr} engine={serr}"
            )
            if derr is not None:
                assert "Constraint Error" in serr
        assert _rows(engine.execute("SELECT * FROM ug")) == _duck_rows(
            duck, "SELECT * FROM ug"
        )


def test_insert_column_list_binder_checks(engine):
    """fuzz_dml seed 31 finding: INSERT column-list errors must match
    DuckDB's binder — unknown column, duplicate column, list/value width,
    and bare width mismatch all raise; a reordered valid list works."""
    import pytest as _pytest

    engine.execute("CREATE TABLE bind_t (a INT, b VARCHAR)")
    cases = [
        ("INSERT INTO bind_t (a, zzz) VALUES (1, 'x')",
         "does not have a column with name"),
        ("INSERT INTO bind_t (a) VALUES (1, 'x')",
         "Column name/value mismatch"),
        ("INSERT INTO bind_t VALUES (1, 'x', 2)",
         "2 columns but 3 values"),
        ("INSERT INTO bind_t (a, a) VALUES (1, 2)",
         "Duplicate column name"),
    ]
    for q, msg in cases:
        with _pytest.raises(Exception, match=msg):
            engine.execute(q)
    engine.execute("INSERT INTO bind_t (b, a) VALUES ('x', 1)")
    assert engine.execute("SELECT * FROM bind_t").collect()[0][0] == 1


def test_or_replace_after_in_txn_delete(engine):
    """Documented cross-engine DIVERGENCE BY DESIGN: DuckDB 1.0's ART
    indexes are not updated by in-transaction DELETEs, so INSERT OR
    REPLACE of a key deleted earlier in the same open transaction
    silently loses the row (and plain INSERT raises a phantom duplicate
    key). Verified live against duckdb 1.0.0. This engine keeps the
    semantically correct behavior — the re-inserted row survives — so
    the DML fuzzer's generator avoids emitting that statement shape
    rather than replicating a storage-engine artifact."""
    engine.execute("CREATE TABLE txq (k INTEGER PRIMARY KEY, v INT)")
    engine.execute("INSERT INTO txq VALUES (12, 1)")
    engine.execute("BEGIN TRANSACTION")
    engine.execute("DELETE FROM txq WHERE k = 12")
    engine.execute("INSERT OR REPLACE INTO txq VALUES (12, 2)")
    engine.execute("COMMIT")
    rows = [tuple(r) for r in engine.execute("SELECT * FROM txq").collect()]
    assert rows == [(12, 2)]


def test_export_csv_mixed_manifest_real_duckdb_import(engine, sf_dir, tmp_path):
    """Default (CSV) EXPORT DATABASE with a complex-typed table: the
    array table falls back to parquet INSIDE the same manifest, and a
    real DuckDB imports the mixed export unchanged."""
    import duckdb

    engine.register_parquet_dir(sf_dir)
    target = str(tmp_path / "export_mixed")
    engine.execute(f"EXPORT DATABASE '{target}'")
    import os

    files = set(os.listdir(target))
    assert "embeddings.parquet" in files  # array col -> parquet fallback
    assert "nation.csv" in files
    con = duckdb.connect()
    con.execute(f"IMPORT DATABASE '{target}'")
    n = con.execute("SELECT count(*) FROM nation").fetchone()[0]
    assert n == engine.execute("SELECT count(*) FROM nation").collect()[0][0]
    dim = con.execute("SELECT len(embedding) FROM embeddings LIMIT 1").fetchone()[0]
    assert dim == 64


def test_insert_default_keyword_in_values(engine):
    """Per-cell DEFAULT in VALUES rows (round-11 probe find): takes the
    declared column default, NULL when none; works positionally, with
    column subsets, and mixed across rows — DuckDB-identical."""
    import duckdb

    d = duckdb.connect()
    stmts = [
        "CREATE TABLE dvk (a INTEGER DEFAULT 5, b INTEGER,"
        " c VARCHAR DEFAULT 'x')",
        "INSERT INTO dvk VALUES (DEFAULT, 1, DEFAULT)",
        "INSERT INTO dvk VALUES (9, 2, DEFAULT), (DEFAULT, 3, 'y')",
        "INSERT INTO dvk (c, b) VALUES (DEFAULT, 4)",
        "INSERT INTO dvk (b) VALUES (5)",
    ]
    for q in stmts:
        d.execute(q)
        engine.execute(q)
    want = d.execute("SELECT * FROM dvk ORDER BY b").fetchall()
    got = [
        tuple(r)
        for r in engine.execute("SELECT * FROM dvk ORDER BY b").collect()
    ]
    assert list(map(str, want)) == list(map(str, got))


def test_on_conflict_do_update_where(engine):
    """Conditional upsert (round-12 probe find): the DO UPDATE WHERE
    predicate gates the update per conflicting row — failures keep the
    existing row and drop the incoming one, DuckDB-pinned. Scoping:
    unqualified / tablename. = target row, excluded. = incoming."""
    import duckdb

    dk = duckdb.connect()
    stmts = [
        "CREATE TABLE ocw (k INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO ocw VALUES (1, 10), (2, 80)",
        "INSERT INTO ocw VALUES (1, 99), (2, 99), (3, 3) ON CONFLICT"
        " (k) DO UPDATE SET v = excluded.v WHERE ocw.v < 50",
        "INSERT INTO ocw VALUES (1, 5) ON CONFLICT (k) DO UPDATE SET"
        " v = excluded.v WHERE v > excluded.v",
    ]
    for st in stmts:
        engine.execute(st)
        dk.execute(st)
    q = "SELECT k, v FROM ocw ORDER BY k"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        dk.sql(q).fetchall()
    )


def test_qualified_returning_matches_duckdb(engine):
    """RETURNING clauses bind the target table's bare name for
    qualified references (round-12 probe find via DELETE..USING:
    ``RETURNING t.k`` died unresolved because the touched-rows view
    lost the alias)."""
    import duckdb

    dk = duckdb.connect()
    for st in [
        "CREATE TABLE t4 (k INTEGER, v INTEGER)",
        "CREATE TABLE t5 (k INTEGER)",
        "INSERT INTO t4 VALUES (1, 10), (2, 20), (3, 30)",
        "INSERT INTO t5 VALUES (2)",
    ]:
        dk.execute(st)
        engine.execute(st)
    for q in [
        "DELETE FROM t4 USING t5 WHERE t4.k = t5.k RETURNING t4.k, t4.v",
        "UPDATE t4 SET v = v + 1 WHERE k = 1 RETURNING t4.k, t4.v",
        "INSERT INTO t4 VALUES (9, 90) RETURNING t4.k, t4.v * 2 AS d",
        "UPDATE t4 SET v = t5.k FROM t5 WHERE t4.k = 3"
        " RETURNING t4.k, t4.v",
        "DELETE FROM t4 WHERE k = 9 RETURNING t4.v",
        "SELECT * FROM t4 ORDER BY k",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_tuple_assignment_and_unknown_column(engine):
    """UPDATE SET (a, b) = (e1, e2) tuple assignment expands per
    column (round-12 probe find: the unexpanded key silently no-opped
    the UPDATE), and an unknown/qualified SET column raises DuckDB's
    binder error instead of silently dropping the assignment."""
    import duckdb

    import pytest

    dk = duckdb.connect()
    for st in [
        "CREATE TABLE tu (a INTEGER, b INTEGER, c VARCHAR)",
        "INSERT INTO tu VALUES (1, 2, 'x')",
    ]:
        dk.execute(st)
        engine.execute(st)
    for q in [
        "UPDATE tu SET (a, b) = (10, 20) RETURNING a, b, c",
        "UPDATE tu SET (b, c) = (b + 1, 'y') WHERE a = 10"
        " RETURNING a, b, c",
        "SELECT * FROM tu",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q
    with pytest.raises(KeyError, match="Referenced update column"):
        engine.execute("UPDATE tu SET zz = 1")
    with pytest.raises(KeyError, match="Referenced update column"):
        engine.execute("UPDATE tu SET tu.a = 5")


def test_any_over_unnest_subquery(loaded_engine):
    """x = ANY (SELECT unnest(...)) — the unnest-in-expr rewrite must
    skip parenthesized subqueries (round-12: the IN-rewritten item was
    itself turned into a generator, a silent misparse)."""
    import duckdb

    dk = duckdb.connect()
    for q in [
        "SELECT 3 = ANY (SELECT unnest([1,2,3])) AS a,"
        " 5 > ALL (SELECT unnest([1,2,3])) AS b",
        "SELECT 0 = ANY (SELECT unnest([1,2])) AS no",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert d == s, q


# ---------------------------------------- one SET-list parser, one SELECT path

_DML_SETUP = [
    "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, b VARCHAR)",
    "INSERT INTO t VALUES (1, 10, 'x'), (2, 20, 'y'), (3, 30, 'z')",
    "CREATE TABLE u (id INTEGER, v INTEGER)",
    "INSERT INTO u VALUES (2, 200), (3, 300)",
]

# every UPDATE/DELETE/upsert shape the single SET-list parser and the
# SELECT-built image serve; each one diverged from DuckDB 1.0 before
# (catalog errors on subqueries, silent no-ops, a subquery WHERE split
# inside the SET list, truncating instead of rounding an int assignment)
_DML_CASES = [
    "DELETE FROM t WHERE id IN (SELECT id FROM u WHERE v > 250)",
    "DELETE FROM t WHERE EXISTS (SELECT 1 FROM u WHERE u.id = t.id"
    " AND u.v = 200)",
    "UPDATE t SET (a, b) = ((SELECT max(v) FROM u), 'q') WHERE id = 1",
    "UPDATE t SET nosuch = (SELECT max(v) FROM u)",
    "UPDATE t SET (a, b) = (u.v, 'w') FROM u WHERE u.id = t.id",
    "UPDATE t SET nosuch = u.v FROM u WHERE u.id = t.id",
    "INSERT INTO t VALUES (1, 5, 'n') ON CONFLICT (id) DO UPDATE"
    " SET nosuch = excluded.a",
    "INSERT INTO t VALUES (1, 5, 'n') ON CONFLICT (id) DO UPDATE"
    " SET (a, b) = (excluded.a, excluded.b)",
    "INSERT INTO t VALUES (1, 5, 'n') ON CONFLICT (id) DO UPDATE"
    " SET a = excluded.a * 1.1",
    "UPDATE t SET a = (SELECT max(v) FROM u WHERE v < 250) WHERE id = 1",
    "UPDATE t SET (a, b) = (1)",
    "UPDATE t SET a = 2.7 WHERE id = 1",
    "UPDATE u SET (v, id) = (v + 1, id * 10) WHERE id IN"
    " (SELECT id FROM t WHERE a > 25) RETURNING id, v",
    "DELETE FROM t WHERE id NOT IN (SELECT id FROM u) RETURNING b",
]


def _dml_session(spark, durable, tmp_path):
    from duckdb_nsql_spark import connect

    return connect(
        spark=spark, database=str(tmp_path / "wh") if durable else None
    )


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "database"])
@pytest.mark.parametrize("stmt", _DML_CASES)
def test_dml_select_path_matches_duckdb(spark, tmp_path, durable, stmt):
    eng = _dml_session(spark, durable, tmp_path)
    dk = duckdb.connect()
    for s in _DML_SETUP:
        eng.execute(s)
        dk.execute(s)
    try:
        want = sorted(map(str, dk.execute(stmt).fetchall()))
    except duckdb.Error as ex:
        with pytest.raises(Exception, match=str(ex).split(":")[0]):
            eng.execute(stmt)
    else:
        got = sorted(map(str, (tuple(r) for r in eng.execute(stmt).collect())))
        if "RETURNING" in stmt:
            assert got == want
    for q in ("SELECT * FROM t ORDER BY id", "SELECT * FROM u ORDER BY id"):
        assert [tuple(r) for r in eng.execute(q).collect()] == (
            dk.execute(q).fetchall()
        ), stmt


def test_merge_update_uses_shared_set_parser(engine):
    """MERGE ... THEN UPDATE SET goes through the same parser: a tuple
    target expands, column spelling is case-insensitive, the value is
    cast to the column's type, and an unknown column is DuckDB's binder
    error rather than a dropped assignment."""
    for s in (
        "CREATE TABLE mt (k INTEGER, v INTEGER, w VARCHAR)",
        "INSERT INTO mt VALUES (1, 10, 'a'), (2, 20, 'b')",
        "CREATE TABLE ms (k INTEGER, v INTEGER)",
        "INSERT INTO ms VALUES (2, 99), (3, 30)",
        "MERGE INTO mt USING ms ON mt.k = ms.k WHEN MATCHED THEN UPDATE"
        " SET (V, w) = (ms.v * 1.1, 'm') WHEN NOT MATCHED THEN INSERT"
        " VALUES (ms.k, ms.v, 'new, one')",
    ):
        engine.execute(s)
    assert [tuple(r) for r in engine.execute(
        "SELECT * FROM mt ORDER BY k").collect()] == [
        (1, 10, "a"), (2, 109, "m"), (3, 30, "new, one")]
    assert engine.table("mt").schema.simpleString() == (
        "struct<k:int,v:int,w:string>"
    )
    with pytest.raises(KeyError, match="Referenced update column zz"):
        engine.execute(
            "MERGE INTO mt USING ms ON mt.k = ms.k WHEN MATCHED THEN"
            " UPDATE SET zz = 1"
        )


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "database"])
def test_insert_select_unaliased_computed_columns(spark, tmp_path, durable):
    """INSERT..SELECT aligns source columns by position: an unaliased
    ``round(sum(x), 2)`` (whose generated name does not resolve back by
    name) and a repeated source column both insert like DuckDB."""
    eng = _dml_session(spark, durable, tmp_path)
    dk = duckdb.connect()
    for s in (
        "CREATE TABLE s (k INTEGER, x DOUBLE)",
        "INSERT INTO s VALUES (1, 1.234), (1, 2.5), (2, 3.75)",
        "CREATE TABLE agg (k INTEGER, n BIGINT, total DOUBLE)",
        "INSERT INTO agg SELECT k, count(*), round(sum(x), 2) FROM s"
        " GROUP BY k",
        "INSERT INTO agg SELECT k, k, x FROM s WHERE x > 3",
    ):
        eng.execute(s)
        dk.execute(s)
    q = "SELECT * FROM agg ORDER BY k, n"
    assert [tuple(r) for r in eng.execute(q).collect()] == (
        dk.execute(q).fetchall()
    )


def test_join_over_dml_built_union(engine, duck):
    """A table built by upserts is a UNION of shuffled joins; a later
    subquery DELETE over it must not trip Spark's union output
    partitioning ("Can't zip RDDs with unequal numbers of partitions",
    harness/fuzz_dml.py seed 4)."""
    for s in (
        "CREATE TABLE t8 (c0 INTEGER PRIMARY KEY, c1 VARCHAR, c2 DOUBLE)",
        "CREATE TABLE u8 (c0 INTEGER, c1 VARCHAR)",
        "INSERT INTO u8 VALUES (23, ''), (4, 'd'), (28, 'g'), (13, 'b')",
        "UPDATE t8 SET c2 = 1.94 WHERE c2 < 59.5",
        "INSERT OR IGNORE INTO t8 VALUES (3, 'x', 81.17)",
        "INSERT INTO t8 VALUES (1, 'g', 88.24) ON CONFLICT (c0) DO UPDATE"
        " SET c2 = excluded.c2",
        "INSERT OR REPLACE INTO t8 VALUES (8, NULL, 37.01), (12, 'a', 1.36),"
        " (23, 'y', 88.78)",
        "DELETE FROM t8 WHERE c0 IN (SELECT c0 FROM u8 WHERE c0 > 18)",
    ):
        engine.execute(s)
        duck.execute(s)
    q = "SELECT * FROM t8 ORDER BY c0"
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


# ------------------------------------------------- tiny in-session tables


def _jobs_started(spark, fn):
    """Run ``fn`` under a job group of its own; return it and the ids of
    the Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"tiny-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_tiny_table_image_is_one_local_relation(engine):
    """CREATE TABLE, INSERT VALUES, UPDATE and DELETE on an in-memory
    table leave ONE LocalRelation (not a Union per INSERT over an
    ExistingRDD scan) and start no Spark job, and a filtered read of it
    runs on the driver."""
    for s in (
        "CREATE TABLE tl (id INTEGER, v VARCHAR)",
        "INSERT INTO tl VALUES (1, 'a'), (2, 'b')",
        "INSERT INTO tl VALUES (3, 'c')",
        "INSERT INTO tl VALUES (4, 'd'), (5, 'e')",
        "UPDATE tl SET v = upper(v) WHERE id > 3",
        "DELETE FROM tl WHERE id = 2",
    ):
        _, jobs = _jobs_started(engine.spark, lambda: engine.execute(s))
        assert jobs == [], f"{s} started jobs {jobs}"
    plan = _optimized_plan(engine.table("tl"))
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    rows, jobs = _jobs_started(
        engine.spark,
        lambda: engine.execute("SELECT id, v FROM tl WHERE id >= 3").collect(),
    )
    assert sorted(tuple(r) for r in rows) == [(3, "c"), (4, "D"), (5, "E")]
    assert jobs == [], f"read of a tiny table started jobs {jobs}"


def test_catalog_views_are_local_relations(engine):
    """information_schema.tables / .columns and duckdb_constraints() are
    built on the driver as LocalRelations, not ExistingRDD scans."""
    engine.execute(
        "CREATE TABLE cv (id INTEGER PRIMARY KEY, s VARCHAR NOT NULL)"
    )
    for q, want in (
        ("SELECT table_name, table_type FROM information_schema.tables"
         " WHERE table_name = 'cv'", [("cv", "BASE TABLE")]),
        ("SELECT column_name, data_type FROM information_schema.columns"
         " WHERE table_name = 'cv' ORDER BY ordinal_position",
         [("id", "INTEGER"), ("s", "VARCHAR")]),
        ("SELECT constraint_type, constraint_text, expression,"
         " constraint_column_names FROM duckdb_constraints()"
         " WHERE table_name = 'cv' ORDER BY constraint_index",
         [("PRIMARY KEY", "PRIMARY KEY(id)", None, ["id"]),
          ("NOT NULL", "NOT NULL(id)", None, ["id"]),
          ("NOT NULL", "NOT NULL(s)", None, ["s"])]),
    ):
        df = engine.execute(q)
        leaves = _optimized_plan(df).collectLeaves()
        kinds = {
            leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())
        }
        assert kinds == {"LocalRelation"}, (q, kinds)
        assert [tuple(r) for r in df.collect()] == want, q


_TINY_TYPED = [
    "CREATE TYPE tmood AS ENUM ('sad', 'ok', 'happy')",
    "CREATE TABLE tt (id INTEGER NOT NULL, d DECIMAL(18,3), s VARCHAR,"
    " e tmood, l INTEGER[], st STRUCT(a INTEGER, b VARCHAR),"
    " m MAP(VARCHAR, INTEGER), ts TIMESTAMP, dt DATE, z INTEGER)",
    "INSERT INTO tt VALUES (1, 1.125, 'a', 'ok', [1, 2], {'a': 1, 'b': 'x'},"
    " MAP {'k': 1}, TIMESTAMP '2024-01-01 10:00:00', DATE '2024-01-01',"
    " NULL)",
    "INSERT INTO tt VALUES (2, -2.5, 'b''q', 'happy', [],"
    " {'a': 2, 'b': NULL}, MAP {'k': 2, 'j': 3},"
    " TIMESTAMP '2024-02-29 23:59:59.123456', DATE '2024-02-29', NULL)",
    "INSERT INTO tt VALUES (3, 1234567.891, NULL, 'sad', NULL, NULL, NULL,"
    " NULL, NULL, NULL), (4, 0.001, 'd', NULL, [NULL, 7],"
    " {'a': NULL, 'b': 'y'}, MAP {'j': 5}, TIMESTAMP '1999-12-31 00:00:00',"
    " DATE '1999-12-31', NULL)",
    "UPDATE tt SET d = d * 2, s = s || '!' WHERE id <> 3",
    "DELETE FROM tt WHERE id = 3",
]


def test_tiny_table_types_survive_collapse(engine, duck):
    """Every column type comes back from the collapsed image exactly:
    values match DuckDB through the same DML sequence, and DESCRIBE and
    information_schema.columns read as DuckDB's (declared ENUM spelling,
    'NO' for the NOT NULL column)."""
    for s in _TINY_TYPED:
        engine.execute(s)
        duck.execute(s)
    assert _optimized_plan(engine.table("tt")).getClass().getSimpleName() == (
        "LocalRelation"
    )
    q = (
        "SELECT id, d, s, e, l, st.a, st.b, m['k'], m['j'], ts, dt, z"
        " FROM tt ORDER BY id"
    )
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )
    assert [tuple(r) for r in engine.execute("DESCRIBE tt").collect()] == (
        duck.execute("DESCRIBE tt").fetchall()
    )
    q = (
        "SELECT column_name, ordinal_position, data_type, is_nullable"
        " FROM information_schema.columns WHERE table_name = 'tt'"
        " ORDER BY ordinal_position"
    )
    assert [tuple(r) for r in engine.execute(q).collect()] == (
        duck.execute(q).fetchall()
    )


def test_tiny_table_cap_keeps_lazy_path(engine, duck):
    """An image above LOCAL_RELATION_MAX_ROWS rows keeps the lazy plan
    and its every-16th-write checkpoint, also when all of its leaves are
    driver-local, and stays correct across 16+ writes."""
    from duckdb_nsql_spark.session import LOCAL_RELATION_MAX_ROWS

    n = LOCAL_RELATION_MAX_ROWS + 1
    stmts = [
        "CREATE TABLE tbig (i BIGINT)",
        f"INSERT INTO tbig SELECT * FROM range({n})",
        # one-row-relation leaf only: all-local, but over the cap
        f"CREATE TABLE tgen AS SELECT unnest(generate_series(1, {n})) AS i",
    ]
    for k in range(17):
        stmts.append(f"INSERT INTO tbig VALUES ({k * 7})")
        stmts.append(f"INSERT INTO tgen VALUES ({k * 11})")
    stmts.append("UPDATE tgen SET i = i + 1 WHERE i % 3 = 0")
    stmts.append("DELETE FROM tbig WHERE i % 5 = 0")
    for s in stmts:
        engine.execute(s)
        duck.execute(s)
    for t in ("tbig", "tgen"):
        plan = _optimized_plan(engine.table(t))
        assert plan.getClass().getSimpleName() != "LocalRelation", t
        q = f"SELECT count(*), sum(i), min(i), max(i) FROM {t}"
        assert [tuple(r) for r in engine.execute(q).collect()] == (
            duck.execute(q).fetchall()
        ), t


def _leaf_kinds(df):
    leaves = _optimized_plan(df).collectLeaves()
    return sorted(
        leaves.apply(i).getClass().getSimpleName()
        for i in range(leaves.size())
    )


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "database"])
def test_information_schema_columns_match_duckdb(spark, tmp_path, durable):
    """information_schema.columns spells types and nullability as
    DuckDB does: fixed-size arrays, declared ENUMs, and 'NO' for NOT NULL
    and PRIMARY KEY columns."""
    eng = _dml_session(spark, durable, tmp_path)
    dk = duckdb.connect()
    for s in (
        "CREATE TYPE imood AS ENUM ('sad', 'ok', 'happy')",
        "CREATE TABLE isc (id INTEGER PRIMARY KEY, f FLOAT[3],"
        " s VARCHAR NOT NULL, e imood, l INTEGER[], d DECIMAL(9,2))",
    ):
        eng.execute(s)
        dk.execute(s)
    q = (
        "SELECT column_name, ordinal_position, data_type, is_nullable"
        " FROM information_schema.columns WHERE table_name = 'isc'"
        " ORDER BY ordinal_position"
    )
    assert [tuple(r) for r in eng.execute(q).collect()] == (
        dk.execute(q).fetchall()
    )


def test_nested_type_cte_localizes(engine, duck):
    """A materialized CTE with ARRAY, STRUCT and MAP columns collapses to
    one LocalRelation like a scalar one. An IN-subquery over its STRUCT
    column is kept as a subquery, not folded to literals, while a scalar
    subquery over its INTEGER column still folds."""
    s = "CREATE TABLE cn AS SELECT range AS id FROM range(4)"
    engine.execute(s)
    duck.execute(s)
    q = (
        "WITH c AS MATERIALIZED (SELECT id, [id, id + 1] AS arr,"
        " {'a': id, 'b': 'x'} AS st, MAP {'k': id * 10} AS m FROM cn)"
        " SELECT x.id, x.arr, y.st.a, y.st.b, map_extract(y.m, 'k')"
        " FROM c x JOIN c y USING (id)"
        " WHERE x.st IN (SELECT st FROM c) AND x.id > 0"
        " AND x.id < (SELECT max(id) FROM c) ORDER BY x.id"
    )
    df = engine.execute(q)
    assert [tuple(r) for r in df.collect()] == duck.execute(q).fetchall()
    assert engine._cte_persisted == []
    assert set(_leaf_kinds(df)) == {"LocalRelation"}
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # a folded struct literal would read CAST('Row(a=1, ..)' AS struct<..>)
    assert "Row(" not in analyzed
    assert "scalar-subquery" not in analyzed


def test_recursive_cte_result_uses_tiny_relation_cap(engine, duck):
    """A recursive-CTE result over LOCAL_RELATION_MAX_ROWS rows keeps its
    lazy plan (it is not pulled to the driver); one at or below the cap
    is ONE LocalRelation. Both match DuckDB."""
    s = "CREATE TABLE rbig AS SELECT range AS id FROM range(1000)"
    engine.execute(s)
    duck.execute(s)
    rec = (
        "WITH RECURSIVE r(x) AS (SELECT 0 UNION SELECT x + 1 FROM r"
        " WHERE x < 3) "
    )
    big = engine.execute(rec + "SELECT x, id FROM r, rbig")
    assert "LogicalRDD" in _leaf_kinds(big)
    assert sorted(tuple(r) for r in big.collect()) == sorted(
        duck.execute(rec + "SELECT x, id FROM r, rbig").fetchall()
    )
    q = rec + (
        "SELECT x, id, [x, id] AS l FROM r, rbig WHERE id < 5 ORDER BY x, id"
    )
    small = engine.execute(q)
    assert _optimized_plan(small).getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in small.collect()] == duck.execute(q).fetchall()


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "database"])
def test_join_dml_keeps_tiny_tables_local(spark, tmp_path, durable):
    """UPDATE..FROM and DELETE..USING pin their rowids without leaving the
    tiny-table path: in memory the table they write is ONE LocalRelation
    and the next INSERT VALUES starts no Spark job. Results match DuckDB
    in memory and with ``database=``."""
    eng = _dml_session(spark, durable, tmp_path)
    dk = duckdb.connect()
    for s in (
        "CREATE TABLE ja (id INTEGER, v INTEGER)",
        "INSERT INTO ja VALUES (1, 10), (2, 20), (3, 30)",
        "CREATE TABLE jb (id INTEGER, v INTEGER)",
        "INSERT INTO jb VALUES (1, 100), (3, 300), (4, 400)",
    ):
        eng.execute(s)
        dk.execute(s)
    for dml, table, insert in (
        ("UPDATE ja SET v = jb.v + ja.v FROM jb WHERE ja.id = jb.id", "ja",
         "INSERT INTO ja VALUES (5, 50)"),
        ("DELETE FROM jb USING ja WHERE ja.id = jb.id AND ja.v > 200", "jb",
         "INSERT INTO jb VALUES (6, 600)"),
    ):
        eng.execute(dml)
        dk.execute(dml)
        if not durable:
            plan = _optimized_plan(eng.table(table))
            assert plan.getClass().getSimpleName() == "LocalRelation", (
                dml, plan.toString()
            )
        _, jobs = _jobs_started(eng.spark, lambda: eng.execute(insert))
        dk.execute(insert)
        if not durable:
            assert jobs == [], f"{insert} after {dml} started jobs {jobs}"
        for t in ("ja", "jb"):
            q = f"SELECT * FROM {t}"
            assert _rows(eng.execute(q)) == _duck_rows(dk, q), (dml, t)


def test_cte_localization_job_counts(loaded_engine):
    """Each way a CTE result is localized keeps its job count: 0 for a
    body that folded to local relations (_capped_rows' driver-side copy),
    1 for the capped probe and 1 for the uncapped collect of a reducing
    body. Reading the rows back from the LocalRelation, whole or one
    column as subquery folding does, starts none."""
    from duckdb_nsql_spark.session import (
        _capped_rows,
        _column_values,
        _local_relation,
        _plan_input_bytes,
    )

    eng = loaded_engine
    for sql, reducing, want in (
        ("SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(x, y)", None, 0),
        ("SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey < 100",
         False, 1),
        ("SELECT o_custkey, sum(o_totalprice) AS s FROM orders"
         " GROUP BY o_custkey", True, 1),
    ):
        df = eng.execute(sql)
        nbytes = _plan_input_bytes(df)
        local, jobs = _jobs_started(
            eng.spark,
            lambda: _local_relation(eng.spark, df, _capped_rows(eng.spark, df))
            if reducing is None
            else eng._try_localize_cte(df, nbytes, reducing=reducing),
        )
        assert len(jobs) == want, sql
        assert _optimized_plan(local).getClass().getSimpleName() == (
            "LocalRelation"
        )
        rows, jobs = _jobs_started(eng.spark, local.collect)
        assert jobs == [], sql
        assert sorted(map(tuple, rows)) == sorted(map(tuple, df.collect()))
        vals, jobs = _jobs_started(
            eng.spark, lambda: _column_values(local, local.schema.fields[0])
        )
        assert jobs == [], sql
        assert vals == [r[0] for r in rows]


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "database"])
def test_int_cast_rounding_matches_duckdb(spark, tmp_path, durable):
    """An integer cast rounds a DECIMAL half away from zero and a DOUBLE
    half-even, as DuckDB does — also where the cast is the column-type
    cast of an upsert or UPDATE assignment."""
    eng = _dml_session(spark, durable, tmp_path)
    dk = duckdb.connect()
    for s in (
        "CREATE TABLE ic (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO ic VALUES (1, 3), (2, 5), (3, -3)",
        "INSERT INTO ic VALUES (1, 3), (2, 7) ON CONFLICT (id) DO UPDATE"
        " SET v = excluded.v * 1.5",
        "UPDATE ic SET v = v * 2.5 WHERE id = 3",
    ):
        eng.execute(s)
        dk.execute(s)
    for q in (
        "SELECT * FROM ic ORDER BY id",
        "SELECT CAST(3 * 1.5 AS INTEGER), CAST(4.5::DOUBLE AS INTEGER),"
        " (-2.5)::INT, 2.5::BIGINT, CAST(-4.5 AS SMALLINT)",
        "SELECT id, CAST(v * 1.5 AS INTEGER), (v * 0.5)::INT,"
        " CAST(v * 1.5::DOUBLE AS BIGINT), CAST(avg(v * 1.5) AS INTEGER)"
        " FROM ic GROUP BY id, v ORDER BY id",
    ):
        assert [tuple(r) for r in eng.execute(q).collect()] == (
            dk.execute(q).fetchall()
        ), q
