"""Seeded differential fuzz: 60 template-grammar queries per run,
engine vs DuckDB row-set equality. The same generator is available as
a standalone tool (harness/fuzz_diff.py) for longer hunts; this pinned
seed replays the grammar that caught the round-4 rounding/typing bugs
(HALF-EVEN int casts, DOUBLE-typed integer round(), decimal-span
division, dynamic intervals, fractional //)."""

import importlib.util
import os

import duckdb
import pytest

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")  # must match conftest SF_DIR (loaded_engine)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "events", "embeddings"]


@pytest.fixture(scope="module")
def fuzz_duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet(\'{SF}/{t}.parquet\')"
        )
    return con


@pytest.fixture(scope="module")
def fuzz_mod():
    path = os.path.join(
        os.path.dirname(__file__), "..", "harness", "fuzz_diff.py"
    )
    spec = importlib.util.spec_from_file_location("fuzz_diff", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fuzz_seed_42(loaded_engine, fuzz_duck, fuzz_mod):
    fuzz_mod.reseed(42)
    for _ in range(60):
        q = fuzz_mod.gen_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_order_family_in_order(loaded_engine, fuzz_duck, fuzz_mod):
    """The trailing-ORDER-BY family over NULL-bearing columns matches
    DuckDB row by row, in order, not just as a row multiset."""
    fuzz_mod.reseed(42)
    for stmt in fuzz_mod.ORDER_SETUP:
        loaded_engine.execute(stmt)
        fuzz_duck.execute(stmt)
    try:
        for _ in range(30):
            q = fuzz_mod.gen_order_query()
            d = fuzz_duck.execute(q).fetchall()
            s = [tuple(r) for r in loaded_engine.execute(q).collect()]
            assert fuzz_mod.rows_match(d, s, ordered=True), q
    finally:
        loaded_engine.execute("DROP TABLE ord_c")
        fuzz_duck.execute("DROP TABLE ord_c")


def test_sixth_wave_regressions(loaded_engine, fuzz_duck):
    """Pins the three bugs the sixth-wave fuzz grammar caught:
    1. plan-cache collision — two statements with byte-identical main
       text over DIFFERENT materialized-CTE bodies must not share a
       cached plan (the override bindings are part of the cache key);
    2. GROUPING SETS/CUBE over an EMPTY input must emit the empty-set
       global row (Spark natively returns zero rows);
    3. ORDER BY ALL takes DuckDB's NULLS LAST like any other item, so
       grouping-set NULL rows sort like DuckDB even on the native
       (LIMIT-bearing) path."""
    qs = [
        "WITH a AS (SELECT p_brand AS g, round(sum(p_retailprice), 1) AS sm"
        " FROM part GROUP BY p_brand), b AS (SELECT g, sm FROM a WHERE sm >"
        " (SELECT round(avg(sm), 1) / 2 FROM a))"
        " SELECT g, sm FROM b ORDER BY g LIMIT 30",
        "WITH a AS (SELECT s_name AS g, round(sum(s_acctbal), 1) AS sm"
        " FROM supplier GROUP BY s_name), b AS (SELECT g, sm FROM a WHERE"
        " sm > (SELECT round(avg(sm), 1) / 2 FROM a))"
        " SELECT g, sm FROM b ORDER BY g LIMIT 30",
        "SELECT p_type AS g, count(*) AS n, round(sum(p_size), 1) AS sm"
        " FROM part WHERE p_size > 95"
        " GROUP BY GROUPING SETS ((p_type), ()) ORDER BY ALL LIMIT 40",
        "SELECT l_linestatus AS g1, count(*) AS n FROM lineitem"
        " WHERE l_linestatus LIKE '%S%'"
        " GROUP BY CUBE (l_linestatus) ORDER BY ALL LIMIT 60",
        "SELECT c_mktsegment AS g1, c_name AS g2, count(*) AS n,"
        " round(sum(c_acctbal), 1) AS sm FROM customer"
        " WHERE substr(c_mktsegment, 1, 1) IN ('A', 'B', 'R', 'M')"
        " GROUP BY CUBE (c_mktsegment, c_name) ORDER BY ALL LIMIT 60",
    ]
    for q in qs:
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        d = fuzz_duck.execute(q).fetchall()
        assert len(s) == len(d), q
        assert sorted(map(str, s)) == sorted(map(str, d)), q


def test_dml_fuzz_seed_7(spark, fuzz_duck):
    """Pinned DML differential fuzz: random CREATE/INSERT/UPDATE/DELETE/
    ALTER/INSERT-SELECT sequences replayed through both engines with a
    full-table compare after every mutation (harness/fuzz_dml.py; longer
    hunts run standalone)."""
    import importlib.util

    path = os.path.join(
        os.path.dirname(__file__), "..", "harness", "fuzz_dml.py"
    )
    spec = importlib.util.spec_from_file_location("fuzz_dml", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    import random as _random

    import duckdb as _duckdb

    from duckdb_nsql_spark import DuckSparkSession

    mod.rng = _random.Random(7)
    eng = DuckSparkSession(spark=spark)
    ddb = _duckdb.connect()
    finds = []
    for i in range(4):
        finds += mod.run_sequence(i, eng, ddb)
    assert not finds, finds[:3]


def test_constant_items_in_empty_grouping_row(engine, fuzz_duck):
    """The synthesized empty-input grouping row must emit constant select
    items verbatim (DuckDB keeps 'x' in the global row) and NULL only
    for column-referencing items."""
    ddb = fuzz_duck.cursor()
    for con in (engine, ddb):
        con.execute("CREATE TABLE gfix_t (a INT, b INT)")
    qs = [
        "SELECT 'x' AS tag, count(*) AS n, sum(b) AS s FROM gfix_t GROUP BY CUBE(a)",
        "SELECT a, 'x' AS tag, count(*) AS n FROM gfix_t GROUP BY CUBE(a)",
        "SELECT round(1.25, 1) AS c, count(*) AS n FROM gfix_t"
        " GROUP BY GROUPING SETS ((a), ())",
    ]
    for q in qs:
        s = [tuple(r) for r in engine.execute(q).collect()]
        d = ddb.execute(q).fetchall()
        assert sorted(map(str, s)) == sorted(map(str, d)), q


def test_fuzz_wave11_dialect(loaded_engine, fuzz_duck, fuzz_mod):
    """Round-9 dialect pocket: CUBE+grouping(), VALUES relations,
    POSITIONAL JOIN (padding + qualified refs), reservoir TABLESAMPLE
    exact counts — 40 seeded queries, engine vs DuckDB row sets."""
    fuzz_mod.reseed(11000)
    for _ in range(40):
        q = fuzz_mod.gen_wave11_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave12_dialect(loaded_engine, fuzz_duck, fuzz_mod):
    """Round-10 dialect pocket over the q128-q134 grammar: PIVOT ON ...
    IN value lists, table MACRO create+call, POSITIONAL JOIN padded
    qualified stars, the TABLESAMPLE/USING SAMPLE spelling family
    (exact counts), and date_trunc GROUPING SETS lattices — 40 seeded
    queries, engine vs DuckDB row sets."""
    fuzz_mod.reseed(12000)
    for _ in range(40):
        q = fuzz_mod.gen_wave12_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave13_agg_modifiers(loaded_engine, fuzz_duck, fuzz_mod):
    """Round-10 aggregate-modifier pocket: FILTER (WHERE ...) clauses,
    DISTINCT ON first-rows, ordered string_agg over unique-key tables,
    arg_max/arg_min over the unique key (tie arbitration is unspecified
    in BOTH engines, so the grammar keeps ties impossible), and
    multi-column count(DISTINCT) — 40 seeded queries, engine vs DuckDB
    row sets."""
    fuzz_mod.reseed(13000)
    for _ in range(40):
        q = fuzz_mod.gen_wave13_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave14_round10_grammar(loaded_engine, fuzz_duck, fuzz_mod):
    """Round-11 wave over the round-10 grammar additions: combined
    * EXCLUDE(...) REPLACE(...) star options, in-parens IGNORE/RESPECT
    NULLS across lag/lead/first/last/nth_value, read_parquet(...,
    filename=true) path grouping/extraction, json() minify lexeme
    preservation, and the q136-q138 TPC-H join/correlation shapes —
    40 seeded queries, engine vs DuckDB row sets (hunt: 200 more over
    seeds 14101-14102, clean; every query DuckDB-valid, so no silent
    double-error skips)."""
    fuzz_mod.reseed(14000)
    for _ in range(40):
        q = fuzz_mod.gen_wave14_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave15_round11_grammar(loaded_engine, fuzz_duck, fuzz_mod):
    """Same-round insurance over the round-11 probe finds: trailing
    commas across clause positions, mixed-family INTERVAL arithmetic,
    macro := defaults (scalar + table create/call, named overrides),
    DESCRIBE-as-relation — 40 seeded queries (hunt: 300 more over
    seeds 15101-15103; the FIRST pass caught a real bug — CREATE OR
    REPLACE MACRO did not replace across the scalar/table kind
    boundary, so a stale scalar entry shadowed its table replacement —
    fixed in _create_macro, clean after)."""
    fuzz_mod.reseed(15000)
    for _ in range(40):
        q = fuzz_mod.gen_wave15_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave16_round12_grammar(loaded_engine, fuzz_duck, fuzz_mod):
    """Same-round insurance over the round-12 grammar: dollar-quoted
    strings through macros / $$-payloads / tagged forms, percent-LIMIT
    under CTEs and set ops (q146 landed after the round-11 soak),
    correlated LATERAL + LIMIT/OFFSET via the row_number rewrite
    (q147), and scaled mixed-family INTERVAL literals (q148) — 40
    seeded queries (hunt: 200 more over seeds 16101-16102)."""
    fuzz_mod.reseed(16000)
    for _ in range(40):
        q = fuzz_mod.gen_wave16_query()
        d = fuzz_duck.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave17_round12_probe_grammar(loaded_engine, fuzz_mod):
    """Same-round insurance over the round-12 probe-session grammar:
    unnest(recursive :=/max_depth :=), AT TIME ZONE chains,
    COLUMNS(t.*) over joins, ASOF JOIN with derived sides, CREATE TYPE
    aliases through coldef/cast — 40 seeded queries (hunt: 200 more
    over seeds 17101-17102; clean on the first pass, zero double-error
    skips)."""
    con = duckdb.connect()
    con.execute("SET timezone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF}/{t}.parquet')"
        )

    def canon(v):
        return dict(v.asDict()) if hasattr(v, "asDict") else v

    fuzz_mod.reseed(17000)
    for _ in range(40):
        q = fuzz_mod.gen_wave17_query()
        d = con.execute(q).fetchall()
        s = [
            tuple(canon(v) for v in r)
            for r in loaded_engine.execute(q).collect()
        ]
        # rows_match: float tolerance for distributed partial-sum
        # rounding flips (round(sum(double), 1) half-digit boundaries)
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave18_round12_sixth_sitting(loaded_engine, fuzz_mod):
    """Same-sitting insurance over the sixth-sitting grammar:
    deduplicating WITH RECURSIVE fixpoints, multi-unnest zip, SIMILAR
    TO / postfix factorial, TIME + INTERVAL / DATE + TIME /
    TIMESTAMPTZ spellings, JSON-parsing composite casts, orderless
    rank windows, FILTER on list() (empty -> NULL) — 40 seeded
    queries (hunt: 200 more over seeds 18101-18102, clean, zero
    duck-rejects; the pinned pass caught len(from_json(...)) routing
    to length() instead of size())."""
    con = duckdb.connect()
    con.execute("SET timezone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF}/{t}.parquet')"
        )

    def canon(v):
        return dict(v.asDict()) if hasattr(v, "asDict") else v

    fuzz_mod.reseed(18000)
    for _ in range(40):
        q = fuzz_mod.gen_wave18_query()
        d = con.execute(q).fetchall()
        s = [
            tuple(canon(v) for v in r)
            for r in loaded_engine.execute(q).collect()
        ]
        assert fuzz_mod.rows_match(d, s), q


def test_fuzz_wave19_round12_late_grammar(loaded_engine, fuzz_mod):
    """Insurance over the seventh-stretch grammar: windowed DISTINCT
    aggregates / list() OVER / mode ties, TIME wrap arithmetic,
    DECIMAL-cast division, JSON path/pointer arrows, fractional
    interval truncation, derived list-alias subscripts, zip unnests
    under windows — 40 seeded queries (hunt: 200 more over seeds
    19201-19202, clean, zero duck-rejects; grammar authoring pinned
    two oracle facts — DuckDB 1.0 rejects ordered aggregates as
    window functions, and windowed mode() ties are history-dependent
    incumbent state, excluded by design)."""
    con = duckdb.connect()
    con.execute("SET timezone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF}/{t}.parquet')"
        )

    def canon(v):
        return dict(v.asDict()) if hasattr(v, "asDict") else v

    fuzz_mod.reseed(19100)
    for _ in range(40):
        q = fuzz_mod.gen_wave19_query()
        d = con.execute(q).fetchall()
        s = [
            tuple(canon(v) for v in r)
            for r in loaded_engine.execute(q).collect()
        ]
        assert fuzz_mod.rows_match(d, s), q
