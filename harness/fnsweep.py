"""Function-surface parity sweep: evaluate a battery of DuckDB-dialect
expressions through the engine AND through DuckDB on the same tables and
report mismatches and errors. ``tests/test_fnsweep.py`` runs it as a
gate through ``run_sweep``; run it directly to print every failing case.

Usage: PYTHONPATH=. python harness/fnsweep.py [group ...]
"""
from __future__ import annotations

import math
import sys

import duckdb

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "orders", "lineitem", "documents"]

# Each entry: (group, expression) evaluated as
#   SELECT <expr> AS v FROM nation ORDER BY n_nationkey LIMIT 5
# with n_nationkey aliased k available.
EXPRS: list[tuple[str, str]] = [
    # --- string ---
    ("str", "trim('  x  ')"),
    ("str", "trim('xxabcxx', 'x')"),
    ("str", "ltrim('xxabc', 'x')"),
    ("str", "rtrim('abcxx', 'x')"),
    ("str", "replace(n_name, 'A', '_')"),
    ("str", "translate(n_name, 'AE', 'ae')"),
    ("str", "instr(n_name, 'AN')"),
    ("str", "strpos(n_name, 'AN')"),
    ("str", "position('AN' IN n_name)"),
    ("str", "starts_with(n_name, 'A')"),
    ("str", "ends_with(n_name, 'A')"),
    ("str", "suffix(n_name, 'IA')"),
    ("str", "prefix(n_name, 'AL')"),
    ("str", "contains(n_name, 'RA')"),
    ("str", "concat_ws('-', n_name, 'x')"),
    ("str", "md5(n_name)"),
    ("str", "levenshtein(n_name, 'ALGERIA')"),
    ("str", "damerau_levenshtein(n_name, 'ALGERIA')"),
    ("str", "jaccard(n_name, 'ALGERIA')"),
    ("str", "jaro_similarity(n_name, 'ALGERIA')"),
    ("str", "jaro_winkler_similarity(n_name, 'ALGERIA')"),
    ("str", "hamming('abc', 'abd')"),
    ("str", "regexp_matches(n_name, 'A.G')"),
    ("str", "regexp_split_to_array(n_name, '[AEIOU]+')"),
    ("str", "string_split_regex(n_name, '[AEIOU]+')"),
    ("str", "string_split(n_name, substring(n_name, 2, 1))"),
    ("str", "string_split(n_name, NULL)"),
    ("str", "to_hex(255)"),
    ("str", "from_hex('ff')"),
    ("str", "unicode(n_name)"),
    ("str", "ord(n_name)"),
    ("str", "ascii(n_name)"),
    ("str", "nfc_normalize(n_name)"),
    ("str", "strip_accents('café')"),
    ("str", "reverse(n_name)"),
    ("str", "format('{} has {}', n_name, n_nationkey)"),
    ("str", "bar(n_nationkey, 0, 24, 10)"),
    ("str", "to_base(n_nationkey + 1, 2)"),
    ("str", "left(n_name, 3)"),
    ("str", "right(n_name, 3)"),
    ("str", "substr(n_name, 2, 3)"),
    ("str", "substring(n_name FROM 2 FOR 3)"),
    ("str", "bit_length(n_name)"),
    # --- numeric ---
    ("num", "gcd(n_nationkey + 4, 6)"),
    ("num", "lcm(n_nationkey + 1, 3)"),
    ("num", "factorial(5)"),
    ("num", "even(2.5)"),
    ("num", "cbrt(27.0)"),
    ("num", "exp(1.0)"),
    ("num", "ln(2.718281828)"),
    ("num", "log2(8.0)"),
    ("num", "log10(100.0)"),
    ("num", "log(100.0)"),
    ("num", "log(2, 8.0)"),
    ("num", "degrees(pi())"),
    ("num", "radians(180.0)"),
    ("num", "isnan(0.0/0.0)"),
    ("num", "isinf(1.0/0.0)"),
    ("num", "isfinite(1.0)"),
    ("num", "trunc(2.7)"),
    ("num", "round(1234.5678, -2)"),
    ("num", "fdiv(7.0, 2.0)"),
    ("num", "fmod(7.0, 2.5)"),
    ("num", "7 // 2"),
    ("num", "7 % 3"),
    ("num", "power(2, 10)"),
    ("num", "pow(2, 10)"),
    ("num", "sign(-3.5)"),
    ("num", "signbit(-0.0)"),
    ("num", "atan2(1.0, 1.0)"),
    ("num", "cot(1.0)"),
    ("num", "gamma(5.0)"),
    ("num", "lgamma(5.0)"),
    ("num", "nextafter(1.0, 2.0)"),
    ("num", "bit_count(7)"),
    ("num", "greatest(1, n_nationkey, 3)"),
    ("num", "least(1, n_nationkey, 3)"),
    # --- date/time ---
    ("dt", "make_date(2024, 2, 29)"),
    ("dt", "make_timestamp(2024, 2, 29, 12, 30, 15.5)"),
    ("dt", "last_day(DATE '2024-02-03')"),
    ("dt", "date_add(DATE '2024-01-31', INTERVAL 1 MONTH)"),
    ("dt", "DATE '2024-01-31' + INTERVAL 1 MONTH"),
    ("dt", "DATE '2024-03-01' - DATE '2024-02-01'"),
    ("dt", "age(TIMESTAMP '2024-03-01', TIMESTAMP '2023-01-15')"),
    ("dt", "time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-01-01 12:34:56')"),
    ("dt", "time_bucket(INTERVAL 1 WEEK, DATE '2024-01-10')"),
    ("dt", "strftime(DATE '2024-02-03', '%Y/%m/%d')"),
    ("dt", "strftime(TIMESTAMP '2024-02-03 04:05:06', '%H:%M:%S')"),
    ("dt", "dayofweek(DATE '2024-02-04')"),
    ("dt", "weekofyear(DATE '2024-02-04')"),
    ("dt", "yearweek(DATE '2024-02-04')"),
    ("dt", "quarter(DATE '2024-05-04')"),
    ("dt", "epoch(TIMESTAMP '2024-01-01 00:00:01')"),
    ("dt", "to_timestamp(1704067201)"),
    ("dt", "century(DATE '2024-01-01')"),
    ("dt", "timezone(TIMESTAMP '2024-01-01 00:00:01')"),
    ("dt", "monthname(DATE '2024-05-04')"),
    ("dt", "dayname(DATE '2024-05-04')"),
    ("dt", "greatest(DATE '2024-01-01', DATE '2023-01-01')"),
    # --- list ---
    ("list", "list_contains([1,2,3], 2)"),
    ("list", "array_contains([1,2,3], 2)"),
    ("list", "list_position([1,2,3], 3)"),
    ("list", "list_indexof([1,2,3], 3)"),
    ("list", "list_sort([3,1,2])"),
    ("list", "list_sort([3,1,2], 'DESC')"),
    ("list", "list_reverse_sort([3,1,2])"),
    ("list", "list_reverse([3,1,2])"),
    ("list", "list_distinct([1,2,2,3])"),
    ("list", "list_concat([1,2],[3])"),
    ("list", "[1,2] || [3]"),
    ("list", "flatten([[1,2],[3]])"),
    ("list", "range(5)"),
    ("list", "range(1, 5)"),
    ("list", "range(1, 10, 2)"),
    ("list", "list_zip([1,2],[3,4])"),
    ("list", "list_min([3,1,2])"),
    ("list", "list_max([3,1,2])"),
    ("list", "list_sum([1,2,3])"),
    ("list", "list_avg([1.0,2.0,3.0])"),
    ("list", "list_aggregate([1,2,3], 'sum')"),
    ("list", "list_slice([1,2,3,4], 2, 3)"),
    ("list", "array_slice([1,2,3,4], 2, 3)"),
    ("list", "[1,2,3][-1]"),
    ("list", "list_transform([1,2,3], x -> x * 2)"),
    ("list", "list_filter([1,2,3,4], x -> x % 2 = 0)"),
    ("list", "list_reduce([1,2,3], (a,b) -> a + b)"),
    ("list", "list_any_value([NULL, 2, 3])"),
    ("list", "array_to_string([1,2,3], '-')"),
    ("list", "list_grade_up([30,10,20])"),
    ("list", "list_unique([1,2,2])"),
    ("list", "len([1,2,3])"),
    # --- misc / conditional ---
    ("misc", "typeof(1)"),
    ("misc", "typeof('a')"),
    ("misc", "ifnull(NULL, 'x')"),
    ("misc", "if(n_nationkey > 10, 'hi', 'lo')"),
    ("misc", "nullif(1, 1)"),
    ("misc", "coalesce(NULL, NULL, 3)"),
    ("misc", "hash('abc')"),
    ("misc", "CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END"),
    ("misc", "n_nationkey BETWEEN 3 AND 7"),
    ("misc", "n_nationkey IS DISTINCT FROM 3"),
    ("misc", "bin(10)"),
    ("misc", "hex(255)"),
    # --- wave 3: NULL propagation / sign / edge semantics ---
    ("str", "concat('a', NULL, 'b')"),
    ("str", "concat_ws('-', 'a', NULL, 'b')"),
    ("str", "'a' || NULL"),
    ("str", "repeat('ab', 3)"),
    ("str", "repeat('ab', -1)"),
    ("str", "lpad('x', -2, '.')"),
    ("str", "substr('hello', 0, 3)"),
    ("str", "substr('hello', -3, 2)"),
    ("str", "substring('hello', 2)"),
    ("str", "n_name ILIKE '%an%'"),
    ("str", "n_name NOT ILIKE '%an%'"),
    ("str", "n_name LIKE '%!_%' ESCAPE '!'"),
    ("str", "n_name SIMILAR TO '[A-C].*'"),
    ("str", "'file_12.csv' GLOB 'file_*.csv'"),
    ("str", "regexp_extract('ab12cd34', '([a-z]+)([0-9]+)', 2)"),
    ("str", "regexp_extract_all('a1b2', '[a-z]([0-9])', 1)"),
    ("str", "length('👍🏽')"),
    ("str", "strlen('héllo')"),
    ("str", "printf('%05.2f|%x', 3.14159, 255)"),
    ("str", "format('{:.2f}|{}', 2.5, 'x')"),
    ("str", "chr(9731)"),
    ("str", "split_part('a,b,c', ',', -1)"),
    ("str", "split_part('a,b,c', ',', 9)"),
    ("num", "round(2.5)"),
    ("num", "round(-2.5)"),
    ("num", "round(1234.5678, -2)"),
    ("num", "round(n_nationkey + 0.5, 0)"),
    ("num", "trunc(-2.7)"),
    ("num", "mod(-7, 3)"),
    ("num", "mod(7, -3)"),
    ("num", "(-7) % 3"),
    ("num", "7 // 2"),
    ("num", "(-7) // 2"),
    ("num", "fmod(7.5, 2.0)"),
    ("num", "fdiv(7.5, 2.0)"),
    ("num", "factorial(5)"),
    ("num", "gamma(5.5)"),
    ("num", "lgamma(10)"),
    ("num", "even(2.5)"),
    ("num", "even(-2.5)"),
    ("num", "bit_count(255)"),
    ("num", "log2(8)"),
    ("num", "cbrt(27)"),
    ("num", "exp(1)"),
    ("num", "isnan('nan'::DOUBLE)"),
    ("num", "isinf('inf'::DOUBLE)"),
    ("num", "isfinite(1.5)"),
    ("num", "greatest(1, NULL, 3)"),
    ("num", "least(1, NULL, 3)"),
    ("num", "power(-8.0, 2.0)"),
    ("num", "@(-5)"),
    ("num", "2 ** 10"),
    ("num", "xor(5, 3)"),
    ("list", "[1,2,3,4,5][1:5:2]"),
    ("list", "list_contains([1,2,3], 2)"),
    ("list", "list_position([10,20], 20)"),
    ("list", "list_indexof([10,20], 30)"),
    ("list", "array_position([10,20], 20)"),
    ("list", "list_reverse([1,2,3])"),
    ("list", "list_sort([3,1,NULL,2])"),
    ("list", "list_sort([3,1,NULL,2], 'DESC')"),
    ("list", "list_sort([3,1,NULL,2], 'ASC', 'NULLS FIRST')"),
    ("list", "flatten([[1],[2,3],[]])"),
    ("list", "list_concat([1], NULL)"),
    ("list", "array_cat([1], [2,3])"),
    ("list", "list_zip([1,2,3], ['a','b'])"),
    ("list", "list_filter([1,2,3,4], x -> x % 2 = 0)"),
    ("list", "list_reduce([1,2,3,4], (a, b) -> a + b)"),
    ("list", "list_any_value([NULL, 7, 8])"),
    ("list", "len([])"),
    ("list", "range(5, 5)"),
    ("list", "list_select([10,20,30], [3,1])"),
    ("list", "list_where([10,20,30], [true,false,true])"),
    ("list", "list_grade_up([30,10,20])"),
    ("list", "list_has_all([1,2,3], [2,3])"),
    ("list", "array_to_string([1,NULL,3], ';')"),
    ("misc", "map {'a': 1, 'b': 2}['b']"),
    ("misc", "cardinality(map {'a': 1})"),
    ("misc", "map_keys(map {'a': 1, 'b': 2})"),
    ("misc", "map_values(map {'a': 1, 'b': 2})"),
    ("misc", "map_from_entries([{'k': 'a', 'v': 1}])"),
    ("misc", "struct_insert({'a': 1}, b := 2)"),
    ("misc", "struct_extract({'a': 1, 'b': 2}, 'b')"),
    ("misc", "struct_pack(a := 1, b := 'x')"),
    ("misc", "TRY_CAST('3.7' AS INTEGER)"),
    ("misc", "TRY_CAST('abc' AS DOUBLE)"),
    ("misc", "CAST('  42  ' AS INTEGER)"),
    ("misc", "CAST('true' AS BOOLEAN)"),
    ("misc", "CAST(TRUE AS INTEGER)"),
    ("misc", "CAST(3.99 AS BOOLEAN)"),
    ("misc", "1 = '1'"),
    ("misc", "NULL = NULL"),
    ("misc", "TRUE AND NULL"),
    ("misc", "FALSE AND NULL"),
    ("misc", "TRUE OR NULL"),
    ("dt", "date_trunc('quarter', DATE '2024-05-04')"),
    ("dt", "date_trunc('week', DATE '2024-05-04')"),
    ("dt", "date_trunc('decade', DATE '2024-05-04')"),
    ("dt", "date_diff('week', DATE '2024-01-01', DATE '2024-03-05')"),
    ("dt", "date_diff('quarter', DATE '2024-01-31', DATE '2024-07-01')"),
    ("dt", "DATE '2024-01-31' + 1"),
    ("dt", "TIMESTAMP '2024-01-01 23:59:30' + INTERVAL 90 SECOND"),
    ("dt", "INTERVAL 1 DAY * 3"),
    ("dt", "extract(epoch FROM TIMESTAMP '2024-01-01 00:00:01')"),
    ("dt", "extract(week FROM DATE '2024-01-04')"),
    ("dt", "extract(isoyear FROM DATE '2021-01-01')"),
    ("dt", "extract(microseconds FROM TIMESTAMP '2024-01-01 00:00:01.5')"),
    ("dt", "dayofyear(DATE '2024-03-01')"),
    ("dt", "julian(DATE '2024-01-01')"),
    ("dt", "timezone_hour(TIMESTAMP '2024-01-01 00:00:01')"),
    ("dt", "make_time(12, 30, 15.5)"),
    ("dt", "TIME '12:34:56' < TIME '13:00:00'"),
    ("dt", "date_part(['year', 'month'], DATE '2024-05-04')"),
    ("dt", "datepart('doy', DATE '2024-03-01')"),
    ("dt", "DATE '2024-02-29' + INTERVAL 1 YEAR"),
    # round-10 probe additions: pinned so future rewrites can't regress
    ("dt", "epoch_ms(TIMESTAMP '2020-01-01 00:00:00')"),
    ("dt", "make_date(2021, 3, 4)"),
    ("dt", "last_day(DATE '2021-02-03')"),
    ("dt", "strftime(DATE '2020-03-04', '%Y/%m')"),
    ("list", "list_reduce([1, 2, 3, 4], (a, b) -> a + b)"),
    ("list", "list_aggregate([2, 4, 6], 'avg')"),
    ("list", "list_aggregate([2, 4, 6], 'min')"),
    ("json", "to_json({'a': 1})"),
    ("json", "json_extract('{\"a\": {\"b\": 7}}', '$.a.b')"),
    ("str", "'abc' GLOB 'a*'"),
    ("str", "'abc' SIMILAR TO 'a.c'"),
    # one call per rewritten function name that nothing else exercised
    ("list", "array_aggr([1,2,3], 'sum')"),
    ("list", "array_aggregate([3,1,2], 'max')"),
    ("list", "array_append([1,2], n_nationkey)"),
    ("list", "array_distance([1.0, 2.0]::DOUBLE[2], [4.0, 6.0]::DOUBLE[2])"),
    ("list", "array_dot_product([1.0, 2.0]::DOUBLE[2], [3.0, 4.0]::DOUBLE[2])"),
    ("list", "array_grade_up([30,10,20])"),
    ("list", "array_reduce([1,2,3], (a, b) -> a + b)"),
    ("list", "array_transform([1,2,3], x -> x + n_nationkey)"),
    ("list", "list_apply([1,2,3], x -> x * 3)"),
    ("list", "list_has_any([1,2], [2,3])"),
    ("list", "list_histogram([1,1,2])"),
    ("list", "list_inner_product([1.0,2.0], [3.0,4.0])"),
    ("list", "list_value(1, n_nationkey)"),
    ("list", "array_length([1,2,3])"),
    ("list", "array_length([1,2,3], 1)"),
    ("str", "editdist3(n_name, 'ALGERIA')"),
    ("str", "not_ilike_escape(n_name, '%a!_%', '!')"),
    ("str", "not_like_escape(n_name, '%!_%', '!')"),
    ("str", "right_grapheme(n_name, 2)"),
    ("str", "substring_grapheme(n_name, 2, 3)"),
    ("str", "unhex('414243')"),
    ("dt", "datesub('month', DATE '2024-01-31', DATE '2024-05-01')"),
    ("dt", "isoyear(DATE '2021-01-01')"),
    ("dt", "millennium(DATE '2024-01-01')"),
    ("dt", "timezone_minute(TIMESTAMP '2024-01-01 00:00:01')"),
    ("dt", "TIMESTAMP '2000-01-01 00:00:00' + to_centuries(1)"),
    ("dt", "TIMESTAMP '2000-01-01 00:00:00' + to_decades(2)"),
    ("dt", "TIMESTAMP '2000-01-01 00:00:00' + to_millennia(1)"),
    ("dt", "TIMESTAMP '2000-01-31 00:00:00' + to_months(1)"),
    ("dt", "TIMESTAMP '2000-02-29 00:00:00' + to_years(1)"),
    ("json", "json_transform_strict('{\"a\": 1}', '{\"a\": \"INTEGER\"}')"),
]

# aggregates: SELECT <expr> AS v FROM orders (single row result)
AGG_EXPRS: list[tuple[str, str]] = [
    ("agg", "product(CASE WHEN o_orderkey <= 12 THEN 2 ELSE 1 END)"),
    ("agg", "mode(o_orderstatus)"),
    ("agg", "round(entropy(o_orderstatus), 4)"),
    ("agg", "round(skewness(o_totalprice), 4)"),
    ("agg", "round(kurtosis(o_totalprice), 4)"),
    ("agg", "bit_xor(CAST(o_orderkey % 8 AS INTEGER))"),
    ("agg", "arg_max(o_orderstatus, o_orderkey)"),
    ("agg", "round(geomean(o_totalprice), 2)"),
    ("agg", "fsum(o_totalprice)"),
    ("agg", "favg(o_totalprice)"),
    ("agg", "skewness(o_totalprice)"),
    ("agg", "kurtosis(o_totalprice)"),
    ("agg", "entropy(o_orderstatus)"),
    ("agg", "corr(o_totalprice, o_custkey)"),
    ("agg", "covar_pop(o_totalprice, o_custkey)"),
    ("agg", "covar_samp(o_totalprice, o_custkey)"),
    ("agg", "regr_slope(o_totalprice, o_custkey)"),
    ("agg", "regr_intercept(o_totalprice, o_custkey)"),
    ("agg", "regr_r2(o_totalprice, o_custkey)"),
    ("agg", "regr_count(o_totalprice, o_custkey)"),
    ("agg", "any_value(o_orderstatus)"),
    ("agg", "first(o_orderstatus ORDER BY o_orderkey)"),
    ("agg", "last(o_orderstatus ORDER BY o_orderkey)"),
    ("agg", "count_if(o_totalprice > 100000)"),
    ("agg", "sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F')"),
    ("agg", "approx_count_distinct(o_custkey)"),
    ("agg", "approx_quantile(o_totalprice, 0.5)"),
    ("agg", "reservoir_quantile(o_totalprice, 0.5)"),
    ("agg", "histogram(o_orderstatus)"),
    ("agg", "bool_and(o_totalprice > 0)"),
    ("agg", "bool_or(o_totalprice > 500000)"),
    ("agg", "variance(o_totalprice)"),
    ("agg", "var_pop(o_totalprice)"),
    ("agg", "stddev(o_totalprice)"),
    ("agg", "stddev_pop(o_totalprice)"),
    ("agg", "median(o_totalprice)"),
    ("agg", "mad(o_totalprice)"),
    ("agg", "geomean(o_totalprice)"),
    ("agg", "kahan_sum(o_totalprice)"),
    ("agg", "arbitrary(o_orderstatus)"),
    ("agg", "min(o_orderstatus || 'x')"),
    ("agg", "quantile_cont(o_totalprice, [0.25, 0.75])"),
    # --- wave 3 ---
    ("agg", "quantile_disc(o_totalprice, [0.25, 0.75])"),
    ("agg", "avg(DISTINCT o_custkey % 10)"),
    ("agg", "sum(DISTINCT o_custkey % 10)"),
    ("agg", "count(DISTINCT o_orderstatus)"),
    ("agg", "regr_avgx(o_totalprice, o_custkey)"),
    ("agg", "regr_avgy(o_totalprice, o_custkey)"),
    ("agg", "regr_sxx(o_totalprice, o_custkey)"),
    ("agg", "regr_syy(o_totalprice, o_custkey)"),
    ("agg", "regr_sxy(o_totalprice, o_custkey)"),
    ("agg", "arg_max(o_orderkey, o_totalprice)"),
    ("agg", "arg_min(o_orderkey, o_totalprice)"),
    ("agg", "bit_xor(o_custkey)"),
    # DISTINCT order is unspecified in both engines: compare the sorted parts
    ("agg", "list_sort(string_split(string_agg(DISTINCT o_orderstatus, '|'), '|'))"),
    ("agg", "list_sort(list(DISTINCT o_orderstatus))"),
    ("agg", "max(o_orderdate)"),
    ("agg", "count(*) FILTER (o_totalprice > 200000)"),
    ("agg", "sum(o_totalprice ORDER BY o_orderkey)"),
    ("agg", "histogram(o_custkey % 4)"),
    ("agg", "round(geometric_mean(o_totalprice), 2)"),
    ("agg", "round(kurtosis_pop(o_totalprice), 4)"),
    ("agg", "listagg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)"),
]


def canon(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "asDict"):  # pyspark Row (struct) -> named-field dict
        return "{" + ",".join(
            f"{k}:{canon(x)}" for k, x in sorted(v.asDict().items())
        ) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict) and set(v) == {"key", "value"} and \
            isinstance(v.get("key"), list):
        # duckdb's python client renders MAP as {'key': [...], 'value': [...]}
        v = dict(zip(v["key"], v["value"]))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


# Expressions whose engine/oracle outputs legitimately differ — checked
# by eye once, excluded from the mismatch count with the reason recorded.
KNOWN_DIFFS: dict[str, str] = {
    "to_timestamp(1704067201)": "DuckDB returns TIMESTAMPTZ (+00 rendering); engine is TZ-naive by design",
    "list_distinct([1,2,2,3])": "element order unspecified in DuckDB (reverse-seen) vs Spark (first-seen)",
    "hash('abc')": "engine-specific hash function (both deterministic within their engine)",
    "approx_count_distinct(o_custkey)": "approximate sketch; estimates differ by design",
    "approx_quantile(o_totalprice, 0.5)": "approximate sketch; estimates differ by design",
    "list_zip([1,2],[3,4])": "zip struct field names differ (list_1/list_2 vs 0/1); values equal",
    "list_zip([1,2,3], ['a','b'])": "zip struct field names differ; values equal",
}


def run_sweep(eng, con, groups=()) -> dict:
    """Run every case (or only those in ``groups``) through the engine
    ``eng`` and the DuckDB connection ``con``, both holding TABLES.
    Returns the counts and the failing cases: ``failures`` lists
    (kind, sql, detail) for each mismatch and error, ``known`` the
    KNOWN_DIFFS cases that still differ and ``stale_known`` those that
    now match DuckDB."""
    cases = [
        (g, f"SELECT {e} AS v FROM nation ORDER BY n_nationkey LIMIT 5")
        for g, e in EXPRS
    ] + [(g, f"SELECT {e} AS v FROM orders") for g, e in AGG_EXPRS]
    res = {"ok": 0, "mismatch": 0, "engine_err": 0, "oracle_err": 0,
           "known_diff": 0, "failures": [], "known": [], "stale_known": []}
    for g, sql in cases:
        if groups and g not in groups:
            continue
        known = any(x in sql for x in KNOWN_DIFFS)
        try:
            want = [canon(r[0]) for r in con.execute(sql).fetchall()]
        except Exception as e:  # noqa: BLE001
            res["oracle_err"] += 1
            res["failures"].append(("oracle_err", sql,
                                    f"{type(e).__name__}: {str(e).splitlines()[0][:100]}"))
            continue
        try:
            got = [canon(r[0]) for r in eng.execute(sql).collect()]
        except Exception as e:  # noqa: BLE001
            if known:
                res["known_diff"] += 1
                res["known"].append(sql)
                continue
            res["engine_err"] += 1
            res["failures"].append(("engine_err", sql,
                                    f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"))
            continue
        if got == want:
            res["ok"] += 1
            if known:
                res["stale_known"].append(sql)
        elif known:
            res["known_diff"] += 1
            res["known"].append(sql)
        else:
            res["mismatch"] += 1
            res["failures"].append(("mismatch", sql,
                                    f"duckdb={want[:3]} engine={got[:3]}"))
    return res


def oracle_connection():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def main() -> None:
    from duckdb_nsql_spark.session import DuckSparkSession, build_spark

    spark = build_spark(app_name="fnsweep", cpus=8)
    eng = DuckSparkSession(spark=spark)
    eng.register_parquet_dir(SF)
    res = run_sweep(eng, oracle_connection(), set(sys.argv[1:]))
    for kind, sql, detail in res["failures"]:
        print(f"[{kind}] {sql!r}: {detail}")
    for sql in res["stale_known"]:
        print(f"[stale-known] {sql!r} now matches DuckDB")
    print(
        f"\nok={res['ok']} mismatch={res['mismatch']} "
        f"engine_err={res['engine_err']} oracle_err={res['oracle_err']} "
        f"known_diff={res['known_diff']}"
    )


if __name__ == "__main__":
    main()
