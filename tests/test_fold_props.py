"""Property tests for the localized-CTE subquery fold (session.py
`_fold_local_subqueries` / `_match_scalar_agg` / `_match_in_list`):
the DRIVER-side aggregate evaluation must agree with SQL semantics
(DuckDB as the spec oracle) for every value mix it accepts, and the
emitted literal must round-trip through Spark to the identical value.
The fold only ever sees localization-capped row sets, so small random
lists are the honest input distribution."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from duckdb_nsql_spark import introspect
from duckdb_nsql_spark import session as sess
from duckdb_nsql_spark.frontend.tokenizer import tokenize


def _fold(spark, sql: str, rows, dtype) -> str:
    """Fold ``sql`` over a localized CTE ``t(c)`` holding ``rows``."""
    schema = T.StructType([T.StructField("c", dtype)])
    local = introspect.local_df(spark, [(v,) for v in rows], schema)
    return sess._fold_local_subqueries(sql, {"t": local})


_ints = st.lists(
    st.one_of(st.integers(min_value=-(10**9), max_value=10**9), st.none()),
    max_size=12,
)
_strs = st.lists(
    st.one_of(st.text(alphabet="abcxyz01", max_size=6), st.none()),
    max_size=12,
)


@pytest.mark.parametrize("agg", ["min", "max", "sum", "avg", "count"])
@given(vals=_ints)
@settings(max_examples=25, deadline=None)
def test_scalar_fold_matches_duckdb_ints(spark, agg, vals):
    sql = f"SELECT (SELECT {agg}(c) FROM t) AS v"
    folded = _fold(spark, sql, vals, T.LongType())
    d = duckdb.connect()
    d.execute("CREATE TABLE t (c BIGINT)")
    d.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals]) if vals \
        else None
    expected = d.execute(f"SELECT {agg}(c) FROM t").fetchone()[0]
    assert "FROM t" not in folded  # the subquery actually folded
    got = spark.sql(folded).collect()[0]["v"]
    if expected is None or got is None:
        assert expected is None and got is None
    elif agg == "avg":
        assert abs(float(got) - float(expected)) < 1e-9
    else:
        assert int(got) == int(expected)


@given(vals=_strs)
@settings(max_examples=25, deadline=None)
def test_in_fold_matches_duckdb_strings(spark, vals):
    sql = "SELECT 'abc' IN (SELECT c FROM t) AS v"
    folded = _fold(spark, sql, vals, T.StringType())
    d = duckdb.connect()
    d.execute("CREATE TABLE t (c VARCHAR)")
    for v in vals:
        d.execute("INSERT INTO t VALUES (?)", [v])
    expected = d.execute("SELECT 'abc' IN (SELECT c FROM t)").fetchone()[0]
    if not [v for v in vals if v is not None] and not vals:
        # empty table: fold is skipped (empty IN-list is invalid SQL);
        # the subquery stays and native evaluation owns it
        assert "FROM t" in folded
        return
    got = spark.sql(folded).collect()[0]["v"]
    # three-valued logic: NULL-bearing lists yield NULL unless matched
    assert got == expected


@given(vals=_ints)
@settings(max_examples=15, deadline=None)
def test_distinct_count_fold_matches_duckdb(spark, vals):
    sql = "SELECT (SELECT count(DISTINCT c) FROM t) AS v"
    folded = _fold(spark, sql, vals, T.LongType())
    d = duckdb.connect()
    d.execute("CREATE TABLE t (c BIGINT)")
    for v in vals:
        d.execute("INSERT INTO t VALUES (?)", [v])
    expected = d.execute("SELECT count(DISTINCT c) FROM t").fetchone()[0]
    assert "FROM t" not in folded
    assert spark.sql(folded).collect()[0]["v"] == expected
