"""The function sweep (``harness/fnsweep.py``) as a gate: every DuckDB
function expression it lists must match DuckDB, and every recorded
known difference must still differ."""
from harness import fnsweep


def test_function_sweep_matches_duckdb(spark):
    from duckdb_nsql_spark import DuckSparkSession

    eng = DuckSparkSession(spark=spark)
    eng.register_parquet_dir(fnsweep.SF)
    res = fnsweep.run_sweep(eng, fnsweep.oracle_connection())
    assert res["failures"] == []
    assert (res["mismatch"], res["engine_err"], res["oracle_err"]) == (0, 0, 0)
    assert res["stale_known"] == []
    for expr in fnsweep.KNOWN_DIFFS:
        assert any(expr in sql for sql in res["known"]), expr
