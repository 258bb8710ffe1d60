"""Unit tests for the DuckDB->Spark SQL rewrite passes (no Spark session)."""

import re

import pytest

from duckdb_nsql_spark.frontend.rewrites import NullResolver, rewrite_sql

# what an integer cast of {0} rounds through (DECIMAL half away from zero,
# anything else half-even)
_INT_ROUND = (
    "CASE WHEN `typeof`({0}) LIKE 'decimal%' THEN round({0})"
    " ELSE bround({0}) END"
)


class FakeResolver(NullResolver):
    def __init__(self, kinds=None, tables=None, settings=None):
        self.kinds = kinds or {}
        self.tables = tables or {}
        self.settings = settings or {}

    def column_kind(self, name):
        return self.kinds.get(name)

    def table_columns(self, name):
        return self.tables.get(name)

    def setting(self, name):
        return self.settings.get(name)


def norm(s):
    return re.sub(r"\s+", " ", s).strip()


def test_exclude_to_except():
    out = rewrite_sql("SELECT * EXCLUDE (customer_id) FROM customers")
    assert norm(out) == "SELECT * EXCEPT (customer_id) FROM customers"


def test_struct_literal():
    out = rewrite_sql("SELECT {'a': 1, 'b': 2, 'c': 3} AS s")
    assert norm(out) == "SELECT named_struct('a', 1, 'b', 2, 'c', 3) AS s"


def test_struct_literal_nested():
    out = rewrite_sql("SELECT {'a': {'x': 1}, 'b': [1,2]}")
    assert "named_struct('a', named_struct('x', 1), 'b', array(1,2))" in out


def test_array_literal():
    out = rewrite_sql("SELECT [1, 2, 3]")
    assert norm(out) == "SELECT array(1, 2, 3)"


def test_array_literal_in_insert():
    out = rewrite_sql("INSERT INTO t VALUES ('a', ['1','2'])")
    assert "array('1','2')" in out


def test_string_index():
    r = FakeResolver(kinds={"firstname": "string"})
    out = rewrite_sql("SELECT firstname[1] FROM customers", r)
    assert norm(out) == "SELECT substring(firstname, 1, 1) FROM customers"


def test_string_slice_open_start():
    r = FakeResolver(kinds={"email": "string"})
    out = rewrite_sql("SELECT * FROM t WHERE email[:4] = 'test'", r)
    # literal bounds fold to a constant length at rewrite time
    assert "substring(email, 1, 4)" in out


def test_array_index_one_based():
    r = FakeResolver(kinds={"phone_numbers": "array"})
    out = rewrite_sql("SELECT phone_numbers[1] FROM customers", r)
    assert norm(out) == "SELECT element_at(phone_numbers, 1) FROM customers"


def test_array_slice():
    r = FakeResolver(kinds={"phone_numbers": "array"})
    out = rewrite_sql("SELECT phone_numbers[:2] FROM customers", r)
    assert "slice(phone_numbers, 1, 2)" in out


def test_qualified_array_index():
    r = FakeResolver(kinds={"embedding": "array"})
    out = rewrite_sql("SELECT e.embedding[3] FROM embeddings e", r)
    assert "element_at(e.embedding, 3)" in out


def test_index_on_cast():
    # DuckDB ::INT rounds doubles (dev.json:428) with banker HALF-EVEN
    # ties (904.5 -> 904) and decimals half away from zero: the cast
    # dispatches on typeof(..), which Catalyst folds
    r = FakeResolver(kinds={"who_region": "string"})
    out = rewrite_sql("SELECT who_region[1]::INT FROM t", r)
    assert "CAST(%s AS INT)" % _INT_ROUND.format(
        "substring(who_region, 1, 1)") in out


def test_int_cast_rounds():
    out = rewrite_sql("SELECT speed::INTEGER AS s FROM laptops")
    assert "CAST(%s AS INTEGER)" % _INT_ROUND.format("speed") in out


def test_non_int_cast_untouched():
    # VARCHAR normalizes to STRING (Spark needs a length for VARCHAR);
    # DOUBLE passes through with no round() wrapping
    out = rewrite_sql("SELECT x::VARCHAR, y::DOUBLE FROM t")
    assert "x::STRING" in out and "y::DOUBLE" in out


def test_len_on_array_literal():
    out = rewrite_sql("SELECT len([1,2,3])")
    assert "size(array(1,2,3))" in out


def test_len_on_string():
    out = rewrite_sql("SELECT len(name) FROM t")
    assert "length(name)" in out


def test_json_arrow():
    out = rewrite_sql("SELECT email->>'from' FROM customers")
    assert norm(out) == "SELECT get_json_object(email, '$.from') FROM customers"


def test_json_arrow_on_literal():
    out = rewrite_sql("""SELECT '{"a":1}'->>'a'""")
    assert "get_json_object('{\"a\":1}', '$.a')" in out


def test_datediff_minute():
    out = rewrite_sql("SELECT datediff('minute', t1, t2) FROM taxi")
    assert (
        "timestampdiff(MINUTE, date_trunc('MINUTE', t1), date_trunc('MINUTE', t2))"
        in out
    )


def test_datediff_plain_two_arg_untouched():
    out = rewrite_sql("SELECT datediff(d1, d2) FROM t")
    assert "datediff(d1, d2)" in out


def test_columns_regex_bare():
    r = FakeResolver(tables={"rideshare": ["trip_miles", "trip_time", "tips"]})
    out = rewrite_sql("SELECT COLUMNS('^trip_') FROM rideshare", r)
    assert norm(out) == "SELECT trip_miles, trip_time FROM rideshare"


def test_columns_regex_wrapped():
    r = FakeResolver(tables={"customers": ["firstname", "lastname", "city"]})
    out = rewrite_sql("SELECT LENGTH(COLUMNS('name$')) FROM customers", r)
    assert norm(out) == (
        "SELECT LENGTH(firstname) AS firstname, LENGTH(lastname) AS lastname"
        " FROM customers"
    )


def test_star_replace():
    r = FakeResolver(tables={"customers": ["customer_id", "city"]})
    out = rewrite_sql(
        "SELECT * REPLACE (upper(city) AS city) FROM customers", r
    )
    assert norm(out) == "SELECT customer_id, upper(city) AS city FROM customers"


def test_using_sample_percent():
    out = rewrite_sql("SELECT * FROM rideshare USING SAMPLE 1%")
    assert norm(out) == "SELECT * FROM rideshare TABLESAMPLE (1 PERCENT)"


def test_using_sample_reservoir():
    out = rewrite_sql("SELECT * FROM t USING SAMPLE 10% (reservoir)")
    assert norm(out) == "SELECT * FROM t TABLESAMPLE (10 PERCENT)"


def test_current_setting():
    r = FakeResolver(settings={"threads": "10"})
    out = rewrite_sql("SELECT current_setting('threads') AS threads", r)
    assert norm(out) == "SELECT 10 AS threads"


def test_quoted_alias():
    out = rewrite_sql("SELECT price/0.85 AS 'price (USD)' FROM laptops")
    assert "AS `price (USD)`" in out


def test_double_quoted_ident():
    out = rewrite_sql('SELECT "my col" FROM t')
    assert "`my col`" in out


def test_string_split():
    out = rewrite_sql("SELECT string_split(text, ' ') FROM documents")
    # the regex escape arrives DOUBLED so Spark's literal unescape
    # leaves a real '\ ' regex behind (single-backslash output was a
    # latent bug: '\.' unescaped to bare '.' and split on everything)
    assert "split(text" in out and "'\\\\ '" in out
    out2 = rewrite_sql("SELECT string_split(text, '.') FROM documents")
    assert "'\\\\.'" in out2


def test_regexp_matches():
    out = rewrite_sql("SELECT * FROM t WHERE regexp_matches(s, 'ab+')")
    assert "(s RLIKE 'ab+')" in out


def test_trailing_semicolon_stripped():
    out = rewrite_sql("SELECT 1;")
    assert not out.rstrip().endswith(";")


def test_keywords_not_mangled():
    sql = "SELECT a FROM t WHERE x IN (SELECT y FROM u) AND b BETWEEN 1 AND 2"
    assert norm(rewrite_sql(sql)) == norm(sql)


def test_qualify_rewrite():
    out = rewrite_sql(
        "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t QUALIFY rn = 1"
    )
    assert "EXCEPT (__q)" in out and "WHERE __q" in out
    assert "QUALIFY" not in out.upper().replace("__Q", "")


def test_qualify_with_tail():
    out = rewrite_sql("SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) <= 2 ORDER BY a LIMIT 5")
    assert out.strip().endswith("LIMIT 5")
    assert "WHERE __q" in out


def test_list_cosine_macro():
    out = rewrite_sql("SELECT list_cosine_similarity(a, b) FROM t")
    assert "zip_with(a, b" in out and "sqrt" in out


def test_list_fn_renames():
    out = rewrite_sql("SELECT list_transform(l, x -> x+1), list_min(l) FROM t")
    assert "transform(l" in out and "array_min(l)" in out


def test_backslash_doubling():
    out = rewrite_sql(r"SELECT regexp_extract(s, 'a\.b', 0) FROM t")
    assert r"'a\\.b'" in out


def test_strftime_conversion():
    out = rewrite_sql("SELECT strftime(d, '%Y-%m-%d %H:%M:%S') FROM t")
    assert "date_format" in out and "'yyyy-MM-dd HH:mm:ss'" in out


def test_strftime_literal_letters_quoted():
    # java patterns need literal letters quoted; the SQL literal doubles them
    out = rewrite_sql("SELECT strftime(d, '%YT%m') FROM t")
    assert "'yyyy''T''MM'" in out


def test_escape_string_prefix_dropped():
    out = rewrite_sql(r"SELECT E'a\tb'")
    assert r"'a\tb'" in out and "E'" not in out


def test_case_expression_passthrough():
    sql = "SELECT CASE WHEN a > 1 THEN 'x' ELSE 'y' END AS c FROM t"
    assert norm(rewrite_sql(sql)) == norm(sql)


def test_strptime_conversion():
    # parsing uses single-letter Java fields (accept unpadded numbers)
    out = rewrite_sql("SELECT strptime(s, '%Y-%m-%d %H:%M:%S') FROM t")
    assert "to_timestamp" in out and "'yyyy-M-d H:m:s'" in out


def test_date_part_dow_conventions():
    out = rewrite_sql("SELECT date_part('dow', d) FROM t")
    assert "dayofweek" in out and "- 1" in out
    out = rewrite_sql("SELECT date_part('isodow', d) FROM t")
    assert "weekday" in out and "+ 1" in out
    # non-convention fields pass through to Spark's own date_part
    out = rewrite_sql("SELECT date_part('year', d) FROM t")
    assert "date_part" in out


def test_dayname_monthname_expand():
    out = rewrite_sql("SELECT dayname(d), monthname(d) FROM t")
    assert "'EEEE'" in out and "'MMMM'" in out and "dayname" not in out.lower()


def test_arg_max_rename():
    out = rewrite_sql("SELECT arg_max(a, b) FROM t")
    assert "max_by" in out


def test_string_agg_order_by_within_group():
    out = rewrite_sql("SELECT string_agg(x, '|' ORDER BY x) FROM t")
    assert "listagg" in out and "WITHIN GROUP" in out
    # plain form: simple rename, no WITHIN GROUP
    out = rewrite_sql("SELECT string_agg(x, ',') FROM t")
    assert "listagg" in out and "WITHIN GROUP" not in out


def test_list_prepend_arg_swap():
    out = rewrite_sql("SELECT list_prepend(0, [1,2]) FROM t")
    assert "array_prepend(array(1,2), 0)" in out


def test_list_unique_is_count():
    # count of distinct NON-NULL elements (round-4b sweep fix)
    out = rewrite_sql("SELECT list_unique(a) FROM t")
    # filter lambda body wears the DuckDB int-truthiness BOOLEAN cast
    assert (
        "size(filter(array_distinct(a), x ->"
        " CAST((x IS NOT NULL) AS BOOLEAN)))" in out
    )


def test_lambda_arrow_not_json_mangled():
    # lambda bodies that BEGIN with a literal must keep their arrow
    # (ADVICE r1: these were rewritten to get_json_object — wrong results)
    out = rewrite_sql("SELECT list_filter(l, x -> 5 < x) FROM t")
    assert "get_json_object" not in out
    assert "x -> CAST((5 < x) AS BOOLEAN)" in out.replace("  ", " ")
    out = rewrite_sql("SELECT list_transform(l, x -> 'N/A') FROM t")
    assert "get_json_object" not in out
    out = rewrite_sql("SELECT aggregate(l, 0, (s, x) -> 1 + s) FROM t")
    assert "get_json_object" not in out


def test_json_arrow_still_rewrites():
    out = rewrite_sql("SELECT j ->> 'k' FROM t")
    assert "get_json_object(j, '$.k')" in out
    out = rewrite_sql("SELECT j -> 2 FROM t")
    assert "get_json_object(j, '$[2]')" in out
    # json extract on a lambda *parameter* inside a HOF body still works:
    # the inner arrow's left side is not in argument position
    out = rewrite_sql("SELECT list_transform(l, x -> x ->> 'k') FROM t")
    assert "get_json_object(x, '$.k')" in out


def test_cast_as_integer_rounds():
    # ADVICE r1: CAST(x AS INTEGER) must round like ::INTEGER does
    out = rewrite_sql("SELECT CAST(speed AS INTEGER) FROM t")
    assert "CAST(%s AS INTEGER)" % _INT_ROUND.format("speed") in out
    out = rewrite_sql("SELECT cast(a + b AS BIGINT) FROM t")
    assert "round" in out
    # no double-wrap of the generated shape / of user round(x)
    out = rewrite_sql("SELECT CAST(round(x) AS INT) FROM t")
    assert out.count("round") == 1
    # round(x, 2) can still be fractional -> must get wrapped
    out = rewrite_sql("SELECT CAST(round(x, 2) AS INT) FROM t")
    assert "CAST(%s AS INT)" % _INT_ROUND.format("round(x, 2)") in out
    # non-int CAST untouched
    out = rewrite_sql("SELECT CAST(x AS DOUBLE) FROM t")
    assert "round" not in out


def test_lambda_single_param_parens_stripped():
    # DuckDB allows (x) -> body; Spark's parser requires bare x for one param
    out = rewrite_sql("SELECT list_transform(l, (x) -> 'N/A') FROM t")
    assert "(x) ->" not in out and "x -> 'N/A'" in out
    # multi-param parens stay
    out = rewrite_sql("SELECT aggregate(l, 0, (s, x) -> s + x) FROM t")
    assert "(s, x) -> s + x" in out.replace("( ", "(").replace(" ,", ",")


def test_distinct_on_rewrite():
    out = rewrite_sql(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC"
    )
    assert "DISTINCT ON" not in out.upper()
    assert "row_number() OVER (PARTITION BY k ORDER BY k, v DESC)" in out
    assert "__don_rn = 1" in out
    assert out.rstrip().endswith("ORDER BY k, v DESC")
    # star select excludes the helper column
    out = rewrite_sql("SELECT DISTINCT ON (k) * FROM t")
    assert "* EXCEPT (__don_rn)" in out
    # LIMIT survives after the filter
    out = rewrite_sql("SELECT DISTINCT ON (k) k FROM t ORDER BY k LIMIT 5")
    assert out.rstrip().endswith("LIMIT 5")
    # plain DISTINCT untouched
    out = rewrite_sql("SELECT DISTINCT k FROM t")
    assert "row_number" not in out


def test_regexp_replace_first_match():
    out = rewrite_sql("SELECT regexp_replace(s, 'a', 'b') FROM t")
    assert "regexp_instr" in out and "CASE WHEN" in out
    # 'g' flag -> plain Spark regexp_replace (replace-all), flag dropped
    out = rewrite_sql("SELECT regexp_replace(s, 'a', 'b', 'g') FROM t")
    assert out == "SELECT regexp_replace(s, 'a', 'b') FROM t"
    # backrefs \N -> $N
    out = rewrite_sql(r"SELECT regexp_replace(s, '(\w+)', '\1!', 'g') FROM t")
    assert "'$1!'" in out
    # 'i' folds into the pattern
    out = rewrite_sql("SELECT regexp_replace(s, 'x', 'y', 'gi') FROM t")
    assert "(?i)x" in out


def test_round2_function_renames():
    out = rewrite_sql("SELECT log(x), log(2, x) FROM t")
    assert "log10(x)" in out and "log(2, x)" in out
    out = rewrite_sql("SELECT chr(65), printf('%d', x), random() FROM t")
    # chr goes through %c so codepoints beyond 255 survive (Spark's
    # char()/chr() wrap at 256)
    assert "format_string('%c', CAST(65 AS INT))" in out
    assert "format_string" in out and "rand()" in out
    out = rewrite_sql("SELECT quantile_cont(x, 0.5), quantile_disc(x, 0.5) FROM t")
    assert "percentile(x, 0.5)" in out
    # discrete quantile is the type-preserving sorted-collect pick
    # (Spark's percentile_disc always returns DOUBLE)
    assert "element_at(array_sort(collect_list(x))" in out
    out = rewrite_sql("SELECT array_agg(x), list(x) FROM t")
    # each list agg renders collect_list twice: the round-12 empty->NULL
    # CASE wrap repeats the collect expression (Catalyst dedupes the
    # aggregate itself)
    assert out.count("collect_list") == 4 and out.count("CASE WHEN") == 2
    out = rewrite_sql("SELECT epoch(ts), epoch_ms(ts) FROM t")
    # epoch casts through TIMESTAMP so TIMESTAMP_NTZ parquet columns work
    assert "unix_micros(CAST(ts AS TIMESTAMP)) / 1e6" in out
    assert "unix_millis(CAST(ts AS TIMESTAMP))" in out
    out = rewrite_sql("SELECT to_base64(b), x::BLOB FROM t")
    assert "base64(b)" in out and "::BINARY" in out


def test_range_series_rewrites():
    # range is end-exclusive; Spark sequence is inclusive AND infers a
    # negative step for start > stop, so both need guards
    out = rewrite_sql("SELECT range(1, 5) FROM t")
    assert "sequence" in out and "CASE WHEN" in out
    out = rewrite_sql("SELECT generate_series(3) FROM t")
    # BIGINT-cast bounds: DuckDB's series elements are BIGINT regardless
    # of literal width
    assert "sequence(CAST(0 AS BIGINT), CAST((3) AS BIGINT)" in out.replace(
        "  ", " "
    )
    out = rewrite_sql("SELECT range(5, 1, -2) FROM t")
    assert "-2" in out and "CASE WHEN" in out


def test_time_bucket_rewrite():
    out = rewrite_sql("SELECT time_bucket(INTERVAL '15 minutes', ts) FROM t")
    assert "unix_seconds" in out and "946857600" in out and "900" in out
    out = rewrite_sql("SELECT time_bucket(INTERVAL '1 month', ts) FROM t")
    assert "add_months" in out and "months_between" in out
    out = rewrite_sql("SELECT time_bucket(INTERVAL 2 HOUR, ts) FROM t")
    assert "7200" in out


def test_caret_is_power():
    # DuckDB ^ / ** are exponentiation; Spark's ^ is XOR (2^3 = 8.0 vs 1)
    assert rewrite_sql("SELECT 2 ^ 3") == "SELECT power(2, 3)"
    assert rewrite_sql("SELECT 2 ** 3") == "SELECT power(2, 3)"
    out = rewrite_sql("SELECT (x + 1) ^ f(y) FROM t")
    assert "power((x + 1), f(y))" in out
    # left-assoc chain: 2 ^ 3 ^ 2 = power(power(2,3),2)
    assert rewrite_sql("SELECT 2 ^ 3 ^ 2") == "SELECT power(power(2, 3), 2)"
    # carets inside regex strings are untouched
    out = rewrite_sql("SELECT regexp_extract(s, '^ab', 0) FROM t")
    assert "'^ab'" in out


def test_xor_function_maps_to_operator():
    assert rewrite_sql("SELECT xor(5, 3)") == "SELECT (5 ^ 3)"


def test_struct_pack_extract():
    out = rewrite_sql("SELECT struct_pack(a := 1, b := x + 1) FROM t")
    assert "named_struct('a', 1, 'b', x + 1)" in out
    out = rewrite_sql("SELECT struct_extract(s, 'f1') FROM t")
    assert "(s).`f1`" in out.replace("( s", "(s")


def test_sha256_maps_to_sha2():
    assert rewrite_sql("SELECT sha256(x) FROM t") == "SELECT sha2(x, 256) FROM t"


def test_map_literal_and_extract():
    out = rewrite_sql("SELECT MAP {'a': 1, 'b': 2} AS m")
    assert "map('a', 1, 'b', 2)" in out and "MAP" not in out
    out = rewrite_sql("SELECT map_extract(m, 'a') FROM t")
    # DuckDB map_extract returns the LIST of values for the key
    assert "map_contains_key" in out and "array((m)['a'])" in out.replace(
        "( m", "(m"
    )
    out = rewrite_sql("SELECT element_at(m, 'a') FROM t")
    assert "map_contains_key" in out
    # numeric second arg (our own array form) is left alone
    out = rewrite_sql("SELECT element_at(arr, 2) FROM t")
    assert out == "SELECT element_at(arr, 2) FROM t"


def test_regex_match_operators():
    # DuckDB ~ / !~ / SIMILAR TO are FULL-match regex (verified live:
    # 'abc' ~ '^ab' is false, 'abc' ~ 'ab.' is true)
    out = rewrite_sql("SELECT x FROM t WHERE s ~ 'p'")
    assert "RLIKE ('^(?:' || 'p' || ')$')" in out
    out = rewrite_sql("SELECT x FROM t WHERE s !~ 'p'")
    assert "NOT RLIKE ('^(?:'" in out.replace("NOT  RLIKE", "NOT RLIKE")
    out = rewrite_sql("SELECT s SIMILAR TO 'ab.' FROM t")
    assert "RLIKE ('^(?:' || 'ab.' || ')$')" in out
    out = rewrite_sql("SELECT s GLOB 'a?[!0-9]*' FROM t")
    assert "RLIKE '^(?:a.[^0-9].*)$'" in out
    # unary bitwise NOT untouched
    assert rewrite_sql("SELECT ~5") == "SELECT ~5"


def test_trim_char_set_forms():
    out = rewrite_sql("SELECT trim(s, 'x') FROM t")
    assert "TRIM(BOTH 'x' FROM s)" in out
    out = rewrite_sql("SELECT ltrim(s, 'x'), rtrim(s, 'y') FROM t")
    assert "TRIM(LEADING 'x' FROM s)" in out
    assert "TRIM(TRAILING 'y' FROM s)" in out
    # 1-arg forms pass through to Spark's own trim family
    assert rewrite_sql("SELECT trim(s) FROM t") == "SELECT trim(s) FROM t"


def test_floor_division_operator():
    out = rewrite_sql("SELECT 7//2, a // b FROM t")
    assert "7 div 2" in out and "a  div  b" in out.replace("a   div", "a  div")


def test_first_last_order_by():
    out = rewrite_sql("SELECT first(x ORDER BY k) FROM t")
    assert "min_by(x, k)" in out
    out = rewrite_sql("SELECT first(x ORDER BY k DESC) FROM t")
    assert "max_by(x, k)" in out
    out = rewrite_sql("SELECT last(x ORDER BY k) FROM t")
    assert "max_by(x, k)" in out
    out = rewrite_sql("SELECT last(p + 1 ORDER BY k1, k2 DESC) FROM t")
    # mixed directions are left alone (errs loudly downstream)
    assert "last(" in out
    out = rewrite_sql("SELECT first(v ORDER BY a, b) FROM t")
    assert "min_by(v, struct(a, b))" in out
    # orderless first/last stay native
    assert rewrite_sql("SELECT first(x) FROM t") == "SELECT first(x) FROM t"


def test_date_interval_promotes_to_timestamp():
    out = rewrite_sql("SELECT d + INTERVAL 1 MONTH FROM t")
    assert "CAST(d AS TIMESTAMP) + INTERVAL 1 MONTH" in out
    out = rewrite_sql("SELECT DATE '2024-01-31' + INTERVAL 1 DAY")
    assert "CAST(DATE '2024-01-31' AS TIMESTAMP)" in out
    out = rewrite_sql("SELECT d::DATE - INTERVAL 3 DAY FROM t")
    assert "CAST(CAST(round(d) AS" not in out  # DATE is not an int cast
    assert "- INTERVAL 3 DAY" in out and "AS TIMESTAMP)" in out
    # interval + interval untouched
    out = rewrite_sql("SELECT INTERVAL 1 DAY + INTERVAL 2 DAY")
    assert "CAST(INTERVAL" not in out
    # unary minus (no left operand) untouched
    out = rewrite_sql("SELECT - INTERVAL 1 DAY")
    assert "CAST" not in out
    # date_add with an interval second arg
    out = rewrite_sql("SELECT date_add(d, INTERVAL 1 MONTH) FROM t")
    assert "(CAST(d AS TIMESTAMP) + INTERVAL 1 MONTH)" in out
    # date_add(d, int) stays native (same day-add semantics both engines)
    assert rewrite_sql("SELECT date_add(d, 3)") == "SELECT date_add(d, 3)"


def test_dow_convention_functions():
    out = rewrite_sql("SELECT dayofweek(d), isodow(d) FROM t")
    assert "(dayofweek(d) - 1)" in out and "(weekday(d) + 1)" in out
    out = rewrite_sql("SELECT extract(dow FROM d) FROM t")
    assert "(dayofweek(d) - 1)" in out
    out = rewrite_sql("SELECT yearweek(d) FROM t")
    assert "YEAROFWEEK" in out and "* 100 + weekofyear(d)" in out


def test_list_sort_null_order():
    # DuckDB list_sort: nulls LAST both directions
    out = rewrite_sql("SELECT list_sort(l) FROM t")
    assert "array_sort(l)" in out
    out = rewrite_sql("SELECT list_sort(l, 'DESC') FROM t")
    assert "sort_array(l, false)" in out
    out = rewrite_sql("SELECT list_reverse_sort(l) FROM t")
    assert "sort_array(l, false)" in out


def test_list_macro_batch():
    out = rewrite_sql("SELECT list_slice(l, 2, 3) FROM t")
    assert "slice(l, 2, greatest((3) - (2) + 1, 0))" in out
    out = rewrite_sql("SELECT list_reduce(l, (a, b) -> a + b) FROM t")
    assert "aggregate(slice(l, 2," in out and "try_element_at(l, 1)" in out
    out = rewrite_sql("SELECT list_aggregate(l, 'sum') FROM t")
    assert "aggregate(l, CAST(0 AS DOUBLE)" in out  # via list_sum fold
    out = rewrite_sql("SELECT list_any_value(l) FROM t")
    assert "filter(l, x -> x IS NOT NULL)" in out
    out = rewrite_sql("SELECT list_position(l, 3) FROM t")
    assert "array_position(l, 3)" in out


def test_moment_agg_corrections():
    out = rewrite_sql("SELECT skewness(x) FROM t")
    assert "skewness(x) * sqrt(count(x)" in out
    out = rewrite_sql("SELECT kurtosis(x) FROM t")
    assert "kurtosis(x) + 6" in out and "count(x) - 3" in out
    out = rewrite_sql("SELECT geomean(x) FROM t")
    assert "exp(avg(ln(x)))" in out


def test_format_to_format_string():
    out = rewrite_sql("SELECT format('{} x {}', a, b) FROM t")
    # %s args cast to STRING (round-12: Spark format_string renders a
    # DATE's internal day count under %s otherwise)
    assert (
        "format_string('%1$s x %2$s', CAST(a AS STRING),"
        " CAST(b AS STRING))" in out
    )
    out = rewrite_sql("SELECT format('{1}/{0}', a, b) FROM t")
    assert (
        "format_string('%2$s/%1$s', CAST(a AS STRING),"
        " CAST(b AS STRING))" in out
    )
    # fmt specs convert to printf directives with numeric casts
    out = rewrite_sql("SELECT format('{:.2f}', a) FROM t")
    assert "format_string('%1$.2f', CAST(a AS DOUBLE))" in out


def test_typeof_and_nan_macros():
    out = rewrite_sql("SELECT typeof(x) FROM t")
    assert "duckdb_typename(typeof(x))" in out
    out = rewrite_sql("SELECT isnan(x), isinf(y), isfinite(z) FROM t")
    assert "(x) = double('NaN')" in out
    assert "abs(CAST((y) AS DOUBLE)) = double('Infinity')" in out


def test_list_comprehension_rewrite():
    from duckdb_nsql_spark.frontend.rewrites import (
        pass_list_comprehensions,
        render,
    )
    from duckdb_nsql_spark.frontend.tokenizer import tokenize

    out = render(pass_list_comprehensions(tokenize(
        "SELECT [x * 2 FOR x IN [1,2,3] IF x > 1] AS l"
    )))
    assert "transform(filter([1,2,3], x -> (x > 1)), x -> (x * 2))" in out
    out2 = render(pass_list_comprehensions(tokenize(
        "SELECT [upper(s) FOR s IN names] FROM t"
    )))
    assert "transform(names, s -> (upper(s)))" in out2
    # nested comprehensions resolve inside-out on the re-scan
    out3 = render(pass_list_comprehensions(tokenize(
        "SELECT [[y FOR y IN x] FOR x IN m]"
    )))
    assert out3.count("transform(") == 2
    # plain literals and subscripts are untouched
    out4 = render(pass_list_comprehensions(tokenize(
        "SELECT [1,2,3], arr[2], s[1:4] FROM t"
    )))
    assert "[1,2,3]" in out4 and "arr[2]" in out4


def test_strip_agg_order_commutative_only():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql("SELECT sum(x ORDER BY y), min(a ORDER BY b) FROM t")
    assert "ORDER BY" not in out.upper()
    # order-SENSITIVE aggregates keep (and re-route) their ordering
    out2 = rewrite_sql("SELECT string_agg(x, ',' ORDER BY y) FROM t")
    assert "WITHIN GROUP" in out2
    # a window frame's ORDER BY is untouched
    out3 = rewrite_sql("SELECT sum(x) OVER (ORDER BY y) FROM t")
    assert "ORDER BY" in out3.upper()


def test_try_cast_int_rounds():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql("SELECT TRY_CAST('3.7' AS INTEGER)")
    assert "bround(TRY_CAST" in out and "AS DOUBLE" in out
    # boolean literals skip the round wrap entirely (round(bool) errors)
    out2 = rewrite_sql("SELECT CAST(TRUE AS INTEGER), TRY_CAST(FALSE AS INT)")
    assert "round" not in out2.lower()


def test_step_slice_rewrites_to_list_slice_macro():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql("SELECT [1,2,3,4,5][2:5:2]")
    assert "sequence(" in out and "element_at(" in out
    # omitted begin follows the step direction
    out2 = rewrite_sql("SELECT [1,2,3,4,5][:3:-1]")
    assert "CASE WHEN" in out2
    # plain 2-bound slices keep the tight slice template
    out3 = rewrite_sql("SELECT ([1,2,3])[1:2]")
    assert "sequence(" not in out3


def test_date_trunc_coarse_fields_expand():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql("SELECT date_trunc('decade', d) FROM t")
    assert "floor(year(d) / 10) * 10" in out
    # known-to-Spark coarse fields keep native date_trunc + DATE cast
    out2 = rewrite_sql("SELECT date_trunc('month', d) FROM t")
    assert "date_trunc('month', d)" in out2 and "AS DATE" in out2


def test_chr_strlen_listconcat_substr_zero():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    assert "format_string('%c'" in rewrite_sql("SELECT chr(9731)")
    assert "octet_length" in rewrite_sql("SELECT strlen(s) FROM t")
    out = rewrite_sql("SELECT list_concat(a, b) FROM t")
    assert "flatten(filter(array(a, b)" in out
    # start-0 / negative-start / negative-length substr expands to the
    # clamped number-line form; plain positive literals stay CASE-free
    out2 = rewrite_sql("SELECT substr(s, 0, 3) FROM t")
    assert "greatest(" in out2 and "length(s)" in out2
    out3 = rewrite_sql("SELECT substr(s, 2, 3) FROM t")
    assert "CASE" not in out3


def test_age_component_borrow_semantics():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql("SELECT age(a, b) FROM t")
    # component arithmetic with the earlier-month day borrow, not exact
    # elapsed time (DuckDB: age('2024-03-01','2023-01-15') = 1y 1m 17d)
    assert "last_day" in out and "make_dt_interval" in out


def test_date_part_list_form_expands_to_struct():
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql("SELECT date_part(['year','month'], d) FROM t")
    assert "named_struct('year'" in out and "'month'" in out


def test_lateral_generator_after_derived_table():
    # a parenthesized derived table's inner FROM must not clobber the
    # enclosing FROM list's state: the comma-generator after it still
    # needs LATERAL prepended (paren-depth state is a stack)
    from duckdb_nsql_spark.frontend.rewrites import rewrite_sql

    out = rewrite_sql(
        "SELECT t.a, u.e FROM (SELECT 1 AS a) t, unnest([t.a]) AS u(e)"
    )
    assert "LATERAL" in out.upper()
    # uncorrelated simple case still works
    out2 = rewrite_sql("SELECT e FROM g, unnest([1, 2]) AS u(e)")
    assert "LATERAL" in out2.upper()


def test_from_item_starts():
    """The one FROM-list scanner that table refs, table functions, file
    paths and implicit-lateral generators share: an item starts after
    FROM, JOIN or a depth-0 comma of a FROM list, each bracket group keeps
    its own state, a clause keyword ends the list, and IS DISTINCT FROM is
    an operator."""
    from duckdb_nsql_spark.frontend.tokenizer import from_item_starts, tokenize

    def items(sql):
        toks = tokenize(sql)
        return [toks[i].text for i in from_item_starts(toks)]

    assert items("SELECT 1 FROM a, b CROSS JOIN c, d") == ["a", "b", "c", "d"]
    assert items("SELECT 1 FROM (SELECT x FROM e WHERE x > 0) s, f") == [
        "(", "e", "f"
    ]
    assert items("SELECT (SELECT max(x) FROM g), y FROM h") == ["g", "h"]
    assert items("SELECT * FROM t(a, b), u") == ["t", "u"]
    assert items("SELECT 1 FROM a JOIN b ON a.x = b.x, c ORDER BY 1, 2") == [
        "a", "b", "c"
    ]
    assert items("SELECT x IS DISTINCT FROM y, z FROM w") == ["w"]
    assert items("UPDATE t SET a = 1, b = 2 FROM u, v") == ["u", "v"]
    assert items("DELETE FROM t WHERE a = 1 RETURNING a, b") == ["t"]


class NumericResolver(NullResolver):
    """FakeResolver with column_numeric typing for the round/median tests."""

    def __init__(self, numeric=None, kinds=None):
        self.numeric = numeric or {}
        self.kinds = kinds or {}

    def column_numeric(self, name):
        return self.numeric.get(name)

    def column_kind(self, name):
        return self.kinds.get(name)


def test_case_operand_still_gets_int_cast_rounding():
    # round-5 advice (high): comparison keywords inside a depth-0
    # CASE...END must not mark the operand boolean — DuckDB rounds
    # CAST(CASE WHEN a > b THEN 2.7 ELSE 1.2 END AS INTEGER) to 3.
    out = rewrite_sql(
        "SELECT CAST(CASE WHEN a > b THEN 2.7 ELSE 1.2 END AS INTEGER)"
    )
    assert "round" in out.lower(), out


def test_boolean_branch_case_cast_left_alone():
    # a CASE whose branches are TRUE/FALSE literals IS boolean-valued:
    # wrapping it in [b]round would make Spark error on a boolean arg
    out = rewrite_sql(
        "SELECT CAST(CASE WHEN a > b THEN TRUE ELSE FALSE END AS INTEGER)"
    )
    assert "round" not in out.lower(), out


def test_alias_parenthesizes_operator_expressions():
    # DuckDB's default output name for an operator expression is the
    # PARENTHESIZED rendering: alias(a + b) = '(a + b)', alias(-a) =
    # '-(a)'; literals and function calls stay bare (probed on 1.0)
    assert "'(a + b)'" in rewrite_sql("SELECT alias(a + b)")
    assert "'-(a)'" in rewrite_sql("SELECT alias(-a)")
    assert "'42'" in rewrite_sql("SELECT alias(42)")
    assert "'upper(n)'" in rewrite_sql("SELECT alias(upper(n))")
    assert "'a'" in rewrite_sql("SELECT alias(t.a)")


def test_list_product_null_seed():
    # DuckDB list_product([]) and list_product([NULL]) are NULL: the
    # fold must seed with NULL, not 1.0 (round-5 advice)
    out = rewrite_sql("SELECT list_product(l) FROM t")
    assert "CAST(NULL AS DOUBLE)" in out, out


def test_regexp_extract_group_count_exact():
    # '([(])(x)' has exactly 2 capture groups — '(' inside the character
    # class must not be counted, so group 2 is VALID (no ''-substitution)
    out = rewrite_sql("SELECT regexp_extract(s, '([(])(x)', 2) FROM t")
    assert "regexp_extract" in out, out
    # group index beyond the true count still folds to ''
    out2 = rewrite_sql("SELECT regexp_extract(s, '(a)', 2) FROM t")
    assert "regexp_extract" not in out2, out2


def test_windowed_median_typed_by_catalog():
    # double/int columns: interpolated midpoint, wrapped in an explicit
    # CAST(... AS DOUBLE) so the ROUND macro's DuckDB-boundary emulation
    # recognizes the expression (q91 root cause)
    r = NumericResolver(numeric={"price": "float", "d": "decimal"})
    out = rewrite_sql(
        "SELECT median(price) OVER (ORDER BY k) FROM t", resolver=r
    )
    assert "AS DOUBLE)" in out and "collect_list" in out, out
    # DECIMAL columns: DuckDB median is DISCRETE (lower-middle element,
    # type preserved — probed: median of (1.00, 2.00) DECIMAL = 1.00)
    out2 = rewrite_sql("SELECT median(d) OVER (ORDER BY k) FROM t", resolver=r)
    assert "/ 2" not in out2 and "collect_list" in out2, out2


def test_round_median_window_uses_double_boundary_emulation():
    # round(median(x) OVER w, 2) must go through the std::round(x*100)/100
    # emulation — BigDecimal-repr rounding flips boundary doubles (q91:
    # 324245.725 rounds to .73 via BigDecimal, .72 via DuckDB)
    r = NumericResolver(numeric={"price": "float"})
    out = rewrite_sql(
        "SELECT round(median(price) OVER (ORDER BY k), 2) FROM t", resolver=r
    )
    assert "floor(abs(" in out and "signum" in out, out


def test_pg_operator_spellings():
    # PostgreSQL operator spellings DuckDB accepts (probed on 1.0):
    # ~~ LIKE, !~~ NOT LIKE, ~~* ILIKE, !~~* NOT ILIKE, ^@ starts_with,
    # << >> bit shifts, ~~~ GLOB
    assert "LIKE" in rewrite_sql("SELECT 'abc' ~~ 'a%'")
    out = rewrite_sql("SELECT 'abc' !~~ 'a%'")
    assert "NOT" in out and "LIKE" in out
    assert "ILIKE" in rewrite_sql("SELECT 'ABC' ~~* 'a%'")
    assert "startswith" in rewrite_sql("SELECT s ^@ 'ab' FROM t")
    assert "shiftleft(5, 2)" in rewrite_sql("SELECT 5 << 2")
    assert "shiftright(20, 2)" in rewrite_sql("SELECT 20 >> 2")
    assert "rlike" in rewrite_sql("SELECT s ~~~ 'a*' FROM t").lower()


def test_array_function_aliases():
    # fixed-size ARRAY spellings map to the list twins
    assert "array(1, 2, 3)" in rewrite_sql("SELECT array_value(1, 2, 3)")
    assert "transform" in rewrite_sql("SELECT array_apply([1], x -> x*2)")
    assert "arrays_zip" in rewrite_sql("SELECT array_zip([1],[2])")
    assert "to_json" in rewrite_sql("SELECT array_to_json([1,2])")
    out = rewrite_sql("SELECT array_cosine_similarity(a, b) FROM t")
    assert "aggregate(zip_with" in out and "sqrt" in out
    assert "aggregate(zip_with" in rewrite_sql(
        "SELECT array_inner_product(a, b) FROM t"
    )
    assert "zip_with" in rewrite_sql(
        "SELECT array_where([1,2],[true,false])"
    )
    assert "sequence(1, greatest" in rewrite_sql(
        "SELECT array_resize([1,2], 4)"
    )


def test_alias_of_aliased_item_returns_item_alias():
    # fuzz seed 777 #6: DuckDB alias(expr) AS c0 returns 'c0' (the item's
    # OWN alias), not the expression's default rendering; nested
    # occurrences keep the default-name form
    out = rewrite_sql("SELECT alias(o_totalprice + 1) AS c0 FROM orders")
    assert "'c0'" in out and "o_totalprice + 1" not in out.split("AS")[0]
    out2 = rewrite_sql("SELECT alias(a + 1) c0 FROM t")
    assert "'c0'" in out2
    # nested: default rendering survives
    out3 = rewrite_sql("SELECT concat(alias(a), alias(a + 1)) AS z FROM t")
    assert "'a'" in out3 and "'(a + 1)'" in out3


def test_alias_cse_first_alias_wins():
    # DuckDB CSEs identical expressions: two items alias(x+1) AS c0 /
    # AS c2 BOTH return 'c0' (fuzz seed 777 q253, probed on 1.0)
    out = rewrite_sql(
        "SELECT alias(x + 1) AS c0, alias(x + 1) AS c2 FROM t"
    )
    assert out.count("'c0'") == 2 and "'c2'" not in out


def test_from_json_structure_literal():
    # DuckDB structure-by-example -> parse with STRING leaves, cast to
    # the target type (quoted "7" coerces, "oops" -> NULL, both probed)
    out = rewrite_sql(
        "SELECT from_json(j, '{\"a\":\"INTEGER\",\"b\":\"VARCHAR\"}') FROM t"
    )
    assert "from_json(j, 'STRUCT<`a`: STRING, `b`: STRING>')" in out
    assert "AS STRUCT<`a`: INT, `b`: STRING>" in out
    out2 = rewrite_sql("SELECT json_transform(j, '[\"DOUBLE\"]') FROM t")
    assert "ARRAY<DOUBLE>" in out2 and "ARRAY<STRING>" in out2
    # non-literal structure: left for Spark's own from_json
    out3 = rewrite_sql("SELECT from_json(j, s) FROM t")
    assert "from_json(j, s)" in out3


def test_enum_functions_and_ordering():
    class EnumResolver(NullResolver):
        def enum_values(self, name):
            return ["sad", "ok", "happy"] if name in ("mood", "m") else None

    r = EnumResolver()
    out = rewrite_sql("SELECT enum_first(NULL::mood)", resolver=r)
    assert "'sad'" in out
    out = rewrite_sql("SELECT enum_last(NULL::mood)", resolver=r)
    assert "'happy'" in out
    out = rewrite_sql("SELECT enum_range(NULL::mood)", resolver=r)
    assert "array('sad', 'ok', 'happy')" in out
    out = rewrite_sql("SELECT enum_code(m) FROM mt", resolver=r)
    assert "array_position" in out and "- 1" in out
    # ORDER BY on a bare enum column sorts by MEMBER CODE, not text
    out = rewrite_sql("SELECT m FROM mt ORDER BY m DESC", resolver=r)
    assert "array_position(array('sad', 'ok', 'happy'), m)" in out
    assert out.rstrip().endswith("DESC")
    # non-enum items untouched
    out = rewrite_sql("SELECT x FROM mt ORDER BY x", resolver=r)
    assert "array_position" not in out


def test_enum_min_max_code_order():
    # DuckDB min/max over an enum column picks by MEMBER CODE
    # (min('ok','happy') = 'ok'); mixed enum/varchar comparisons coerce
    # to VARCHAR (already the backing's behavior) — probed on 1.0
    class EnumResolver(NullResolver):
        def enum_values(self, name):
            return ["sad", "ok", "happy"] if name == "m" else None

    out = rewrite_sql("SELECT min(m), max(m) FROM mt", resolver=EnumResolver())
    assert out.count("array_position") == 2 and "element_at" in out
    # plain columns untouched
    out2 = rewrite_sql("SELECT min(x) FROM mt", resolver=EnumResolver())
    assert "array_position" not in out2


def test_shift_operator_precedence():
    # DuckDB binds << >> BELOW arithmetic and above comparisons, with a
    # leading unary sign in the operand and left-assoc chains (probed:
    # 20 - 4 >> 1 = 8, 1 << 2 + 3 = 32, -5 >> 1 = -3, -2 ^ 2 = 4)
    assert "shiftright(20 - 4, 1)" in rewrite_sql("SELECT 20 - 4 >> 1")
    assert "shiftleft(1, 2 + 3)" in rewrite_sql("SELECT 1 << 2 + 3")
    assert "shiftright(-5, 1)" in rewrite_sql("SELECT -5 >> 1")
    assert "shiftleft(shiftleft(1, 1), 2)" in rewrite_sql(
        "SELECT 1 << 1 << 2"
    )
    assert "shiftleft(1, 2) = 4" in rewrite_sql("SELECT 1 << 2 = 4")
    assert "power(-2, 2)" in rewrite_sql("SELECT -2 ^ 2")
    assert "3 - power(2, 2)" in rewrite_sql("SELECT 3 - 2 ^ 2")


def test_json_minify_function(loaded_engine):
    """DuckDB ``json(x)`` parses and re-renders compact (round-10 probe
    find); NULL passes through, invalid input errors like DuckDB."""
    rows = loaded_engine.execute(
        "SELECT json('{ \"a\" :  1, \"b\": [1, 2] }') AS j,"
        " json(NULL) AS n"
    ).collect()
    assert rows[0]["j"] == '{"a":1,"b":[1,2]}'
    assert rows[0]["n"] is None


def test_trailing_commas_dropped():
    """DuckDB friendly-SQL trailing commas (round-11 probe find): a
    dangling comma before a clause keyword or closing bracket is
    dropped; a comma at end-of-input stays (DuckDB rejects it too)."""
    out = rewrite_sql("SELECT a, b, FROM t WHERE x IN (1, 2,)")
    assert ", FROM" not in out and "b FROM" in out
    assert "(1, 2)" in out.replace(" ", "").replace("(1,2)", "(1, 2)") or "2)" in out
    out = rewrite_sql("SELECT g, count(*) AS n, FROM t GROUP BY g, ORDER BY g,")
    assert ", FROM" not in out and ", ORDER" not in out
    assert out.rstrip().endswith(",")  # end-of-input comma preserved
    # list/struct literals: comma before the closer goes away
    out = rewrite_sql("SELECT [1, 2, ] AS l")
    assert "2, ]" not in out and "2,]" not in out


def test_mixed_interval_literal_split():
    """DuckDB mixed-family INTERVAL literal in +/- context splits into
    family-pure literals with the operator distributed (round-11 probe
    find); pure-family literals stay untouched."""
    out = rewrite_sql("SELECT d + INTERVAL '1 month 2 days' AS x FROM t")
    assert "INTERVAL '1 month' + INTERVAL '2 days'" in out
    out = rewrite_sql("SELECT d - INTERVAL '2 months 3 days 4 hours' AS x FROM t")
    assert "INTERVAL '2 months' - INTERVAL '3 days 4 hours'" in out
    out = rewrite_sql("SELECT d + INTERVAL '3 days' AS x FROM t")
    assert "INTERVAL '3 days'" in out and "+ INTERVAL '3 days' +" not in out
    # bare mixed literal (no +/- context): untouched — Spark has no
    # type for it, and erroring is the honest behavior
    out = rewrite_sql("SELECT INTERVAL '1 month 2 days' AS i")
    assert "INTERVAL '1 month 2 days'" in out


def test_mixed_interval_scaled_literal():
    """A scaled mixed literal ``x + INTERVAL '...' * n`` must distribute
    the integer scale chain to BOTH halves (interval scaling is linear),
    never split around it (round-12 advice: the old split applied the
    ``* n`` to only the day-time half — silent wrong result). Fractional,
    division, and column scales stay untouched (Spark's honest error)."""
    out = rewrite_sql("SELECT d + INTERVAL '1 month 2 days' * 2 AS x FROM t")
    assert "INTERVAL '1 month' * 2 + INTERVAL '2 days' * 2" in out
    out = rewrite_sql("SELECT d - INTERVAL '1 month 2 days' * 2 * 3 AS x FROM t")
    assert "INTERVAL '1 month' * 2 * 3 - INTERVAL '2 days' * 2 * 3" in out
    # disqualifying scales: literal left whole (no partial distribution)
    for tail in ("* 2.5", "/ 2", "* n", "* 2 / 3"):
        out = rewrite_sql(
            f"SELECT d + INTERVAL '1 month 2 days' {tail} AS x FROM t"
        )
        assert "INTERVAL '1 month 2 days'" in out, tail


def test_mixed_interval_scaled_matches_duckdb(loaded_engine):
    """The round-12 advice repro: DuckDB 2024-03-19, the old rewrite
    2024-02-19."""
    import duckdb

    sql = (
        "SELECT CAST(DATE '2024-01-15' + INTERVAL '1 month 2 days' * 2"
        " AS DATE) AS d"
    )
    got = loaded_engine.execute(sql).collect()[0]["d"]
    want = duckdb.sql(sql).fetchone()[0]
    assert str(got) == str(want) == "2024-03-19"


def test_columns_star_wrapped_expands_per_column(loaded_engine):
    """min(COLUMNS(*)) / min(COLUMNS(* EXCLUDE ...)) expand to one
    aggregate per column like DuckDB (round-11 probe find)."""
    row = loaded_engine.execute(
        "SELECT min(COLUMNS(* EXCLUDE (n_name))) FROM nation"
    ).collect()[0]
    assert len(row) == 2  # n_nationkey, n_regionkey
    row = loaded_engine.execute("SELECT max(COLUMNS(*)) FROM nation").collect()[0]
    assert len(row) == 3


def test_lateral_limit_row_number_rewrite(loaded_engine):
    """Correlated LATERAL + LIMIT silently returns EMPTY on Spark 4.1's
    decorrelate-limit path (round-11 probe find); round 12 implements
    the row_number() rewrite the old guard prescribed — values pinned
    against DuckDB for plain / OFFSET / alias-ORDER-BY / LEFT JOIN /
    uncorrelated forms."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    for t in ("nation", "orders", "customer"):
        dk.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    cases = [
        "SELECT n.n_name, o.o_orderkey FROM nation n, LATERAL"
        " (SELECT o_orderkey FROM orders WHERE o_custkey ="
        " n.n_nationkey ORDER BY o_orderkey LIMIT 2) o ORDER BY 1, 2",
        "SELECT n.n_name, o.o_orderkey FROM nation n, LATERAL"
        " (SELECT o_orderkey FROM orders WHERE o_custkey ="
        " n.n_nationkey ORDER BY o_orderkey DESC LIMIT 2 OFFSET 1) o"
        " ORDER BY 1, 2",
        "SELECT n.n_name, o.k FROM nation n, LATERAL (SELECT o_orderkey"
        " AS k FROM orders WHERE o_custkey = n.n_nationkey ORDER BY k"
        " DESC LIMIT 1) o ORDER BY 1, 2",
        "SELECT c.c_custkey, o.o_orderkey FROM customer c LEFT JOIN"
        " LATERAL (SELECT o_orderkey FROM orders WHERE o_custkey ="
        " c.c_custkey ORDER BY o_totalprice DESC LIMIT 1) o ON true"
        " WHERE c.c_custkey < 40 ORDER BY 1, 2",
        "SELECT n.n_name, o.o_orderkey FROM nation n, LATERAL"
        " (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 2) o"
        " ORDER BY 1, 2",  # uncorrelated
    ]
    for q in cases:
        s = [tuple(map(str, r)) for r in loaded_engine.execute(q).collect()]
        d = [tuple(map(str, r)) for r in dk.sql(q).fetchall()]
        assert s == d, q


def test_lateral_limit_guard_still_loud_for_inexpressible(loaded_engine):
    """Shapes the row_number rewrite cannot express keep the loud
    guard; LATERAL without LIMIT and scalar-position correlated LIMIT
    keep working natively."""
    import pytest

    with pytest.raises(NotImplementedError, match="LATERAL.*LIMIT"):
        loaded_engine.execute(
            "SELECT * FROM nation n, LATERAL (SELECT DISTINCT o_custkey"
            " FROM orders WHERE o_custkey = n.n_nationkey LIMIT 2) o"
        )
    with pytest.raises(NotImplementedError, match="LATERAL.*LIMIT"):
        loaded_engine.execute(
            "SELECT * FROM nation n, LATERAL (SELECT o_orderkey FROM"
            " orders WHERE o_custkey = n.n_nationkey LIMIT"
            " n.n_regionkey) o"
        )
    n = loaded_engine.execute(
        "SELECT count(*) AS n FROM nation n, LATERAL (SELECT o_orderkey"
        " FROM orders WHERE o_custkey = n.n_nationkey) o"
    ).collect()[0][0]
    assert n > 0
    first = loaded_engine.execute(
        "SELECT c_custkey, (SELECT o_orderkey FROM orders WHERE"
        " o_custkey = c_custkey ORDER BY o_orderdate, o_orderkey LIMIT 1)"
        " AS fo FROM customer WHERE c_custkey <= 3 ORDER BY c_custkey"
    ).collect()
    assert len(first) == 4 and all(r[1] is not None for r in first)


def test_lexical_forms_round11():
    """Dollar-quoted strings normalize to single-quoted literals (tag
    and tagless; quotes doubled), numeric underscores strip, and
    OFFSET-before-LIMIT swaps to Spark's order. $1 params unaffected."""
    out = rewrite_sql("SELECT $$it's x$$ AS s")
    assert "'it''s x'" in out
    out = rewrite_sql("SELECT $t$a $$ b; c$t$ AS s")
    assert "'a $$ b; c'" in out
    out = rewrite_sql("SELECT 1_000_000 + 1.000_5 AS n")
    assert "1000000" in out and "1.0005" in out
    out = rewrite_sql("SELECT a FROM t ORDER BY a OFFSET 3 LIMIT 2")
    assert "LIMIT 2 OFFSET 3" in out
    out = rewrite_sql("SELECT a FROM t WHERE x = $1")
    assert "$1" in out  # prepared-statement params keep their spelling


def test_unnest_named_args_grid(loaded_engine):
    """unnest(recursive := / max_depth :=) — the round-11 logged probe
    gap, implemented round 12 as a type-driven flatten
    (pass_unnest_named_args). Grid pinned against DuckDB over 2-3-level
    lists, struct leaves (incl. nested structs — DuckDB names output
    columns by LEAF key), budget clamping, recursive := false, scalar
    columns, and depth-1 list functions."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    for t in ("documents", "embeddings"):
        dk.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    def canon(v):
        return str(dict(v.asDict())) if hasattr(v, "asDict") else str(v)

    def rows(rs):
        return sorted(str(tuple(canon(v) for v in r)) for r in rs)

    grid = [
        "SELECT unnest([[1,2],[3]], recursive := true) AS u",
        "SELECT unnest([[1,2],[3]], recursive := false) AS u",
        "SELECT unnest([[1,2],[3]], max_depth := 2) AS u",
        "SELECT unnest([[[1,2],[3]],[[4]]], max_depth := 2) AS u",
        "SELECT unnest([[[1,2],[3]],[[4]]], max_depth := 3) AS u",
        "SELECT unnest([[[1,2],[3]],[[4]]], recursive := true) AS u",
        "SELECT unnest([[1,2],[3]], max_depth := 3) AS u",  # clamps
        "SELECT unnest([1,2], max_depth := 5) AS u",
        "SELECT unnest([{'a': 1, 'b': 'x'}, {'a': 2, 'b': 'y'}],"
        " recursive := true)",
        "SELECT unnest([[{'a':1},{'a':2}]], max_depth := 2) AS u",
        "SELECT unnest([[{'a':1},{'a':2}]], max_depth := 3)",
        "SELECT unnest([[{'a':1},{'a':2}]], recursive := true)",
        "SELECT unnest([{'a':1,'b':{'c':5}}], recursive := true)",
        "SELECT unnest({'a': 1, 'b': {'c': 2}}, recursive := true)",
        "SELECT unnest({'a': 1}, max_depth := 2)",
        "SELECT unnest(string_split('a b c', ' '), recursive := true)"
        " AS u",
        "SELECT doc_id, unnest(string_split(text, ' '),"
        " recursive := true) AS w FROM documents WHERE doc_id < 3"
        " ORDER BY doc_id, w LIMIT 20",
        "SELECT vec_id, round(unnest(embedding, recursive := true), 3)"
        " AS e FROM embeddings WHERE vec_id = 1 ORDER BY e LIMIT 5",
    ]
    for q in grid:
        d = dk.sql(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert rows(d) == rows(s), q
    # DuckDB's own binder error spelling for depth 0
    with pytest.raises(ValueError, match="max depth of 0"):
        loaded_engine.execute("SELECT unnest([[1]], max_depth := 0)")
    # untypeable shapes stay loud, never silently mis-flattened
    with pytest.raises(NotImplementedError, match="derivable shape"):
        loaded_engine.execute(
            "SELECT unnest((SELECT [1]), recursive := true)"
        )


def test_at_time_zone_and_regex_group_names(loaded_engine):
    """Round-12 probe finds: x AT TIME ZONE 'z' (naive -> instant via
    to_utc_timestamp; aware/chained -> wall time via
    from_utc_timestamp, alternating left-to-right like DuckDB) and
    regexp_extract(s, re, ['names']) -> struct of captures ('' on no
    match, both engines)."""
    import duckdb

    out = rewrite_sql("SELECT ts AT TIME ZONE 'Asia/Tokyo' AS t FROM e")
    assert "to_utc_timestamp(ts, 'Asia/Tokyo')" in out
    out = rewrite_sql(
        "SELECT (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'"
        " AS t FROM e"
    )
    assert (
        "from_utc_timestamp((to_utc_timestamp(ts, 'UTC')),"
        " 'America/New_York')" in out
        or "from_utc_timestamp( (to_utc_timestamp(ts, 'UTC')) ,"
        " 'America/New_York')" in out
    )
    dk = duckdb.connect()
    dk.execute("SET timezone='UTC'")
    for q in [
        "SELECT CAST((TIMESTAMP '2024-01-15 10:00:00' AT TIME ZONE"
        " 'UTC') AT TIME ZONE 'America/New_York' AS VARCHAR) AS t",
        "SELECT CAST(TIMESTAMP '2024-01-15 10:00:00' AT TIME ZONE"
        " 'Asia/Tokyo' AS TIMESTAMP) AS t",
        "SELECT regexp_extract('2023-05-04', '(\\d+)-(\\d+)',"
        " ['y', 'm']).y AS y",
        "SELECT regexp_extract('nomatch', '(\\d+)-(\\d+)',"
        " ['y', 'm']).m AS m",
    ]:
        d = [tuple(map(str, r)) for r in dk.sql(q).fetchall()]
        s = [
            tuple(map(str, r))
            for r in loaded_engine.execute(q).collect()
        ]
        assert d == s, q


def test_columns_qualified_star(loaded_engine):
    """COLUMNS(t.* [EXCLUDE ...]) over a join (round-12 probe find):
    expands to the aliased table's columns qualified; fn-wrapped form
    aliases each expansion to the BARE column name; EXCLUDE of an
    unknown column reproduces DuckDB's binder error."""
    row = loaded_engine.execute(
        "SELECT COLUMNS(n.*) FROM nation n JOIN orders o ON"
        " n.n_nationkey = o.o_custkey LIMIT 1"
    )
    assert row.columns == ["n_nationkey", "n_name", "n_regionkey"]
    row = loaded_engine.execute(
        "SELECT min(COLUMNS(n.* EXCLUDE (n_regionkey))) FROM nation n"
        " JOIN orders o ON n.n_nationkey = o.o_custkey"
    )
    assert row.columns == ["n_nationkey", "n_name"]
    with pytest.raises(ValueError, match="EXCLUDE list not found"):
        loaded_engine.execute(
            "SELECT COLUMNS(n.* EXCLUDE (nope)) FROM nation n JOIN"
            " orders o ON n.n_nationkey = o.o_custkey"
        )


def test_window_exclude_rows_frames(loaded_engine):
    """EXCLUDE GROUP/TIES over ROWS frames (round-12): peers may lie
    outside a ROWS frame, so the RANGE subtraction form over-corrects —
    these fold a collected frame list JVM-side instead. Also pinned:
    DuckDB retains the current row under TIES even when the frame does
    not contain it, and EXCLUDE CURRENT ROW over a frame that does not
    contain the current row is a no-op (the old subtraction silently
    over-subtracted — round-12 fix). Deterministic fixtures: values
    constant within each peer group."""
    import duckdb

    dk = duckdb.connect()
    V = (
        "(VALUES (1, 10.0), (1, 10.0), (1, 10.0), (2, 20.0), (2, 20.0),"
        " (3, 30.0), (3, 30.0), (3, 30.0), (3, 30.0)) t(g, v)"
    )
    U = "(VALUES (1, 1, 10.0), (1, 2, 11.0), (2, 3, 20.0), (2, 4, 21.0)) t(g, u, v)"
    qs = [
        f"SELECT g, CAST(round(sum(v) OVER (ORDER BY g ROWS BETWEEN 1"
        f" PRECEDING AND 1 FOLLOWING EXCLUDE GROUP), 1) AS DOUBLE) AS s"
        f" FROM {V} ORDER BY g, s NULLS FIRST",
        f"SELECT g, CAST(round(sum(v) OVER (ORDER BY g ROWS BETWEEN 2"
        f" PRECEDING AND 2 FOLLOWING EXCLUDE TIES), 1) AS DOUBLE) AS s"
        f" FROM {V} ORDER BY g, s NULLS FIRST",
        f"SELECT g, CAST(count(*) OVER (ORDER BY g ROWS BETWEEN 2"
        f" PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS c"
        f" FROM {V} ORDER BY g, c",
        f"SELECT g, CAST(max(v) OVER (ORDER BY g ROWS BETWEEN 2"
        f" PRECEDING AND 2 FOLLOWING EXCLUDE TIES) AS DOUBLE) AS m"
        f" FROM {V} ORDER BY g, m NULLS FIRST",
        f"SELECT g, CAST(round(avg(v) OVER (ORDER BY g ROWS BETWEEN 1"
        f" PRECEDING AND 2 FOLLOWING EXCLUDE GROUP), 2) AS DOUBLE) AS a"
        f" FROM {V} ORDER BY g, a NULLS FIRST",
        # TIES retains the current row even outside the frame
        f"SELECT g, CAST(round(sum(v) OVER (ORDER BY g ROWS BETWEEN 3"
        f" PRECEDING AND 1 PRECEDING EXCLUDE TIES), 1) AS DOUBLE) AS s"
        f" FROM {V} ORDER BY g, s NULLS FIRST",
        # EXCLUDE CURRENT ROW no-op when the frame excludes the row
        f"SELECT g, CAST(round(sum(v) OVER (ORDER BY g, u ROWS BETWEEN"
        f" 3 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW), 1)"
        f" AS DOUBLE) AS s FROM {U} ORDER BY g, s NULLS FIRST",
        # min/max over RANGE frames route through the list path too
        f"SELECT g, CAST(min(v) OVER (ORDER BY g RANGE BETWEEN"
        f" UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)"
        f" AS DOUBLE) AS m FROM {V} ORDER BY g, m NULLS FIRST",
        f"SELECT g, CAST(max(v) OVER (ORDER BY g RANGE BETWEEN CURRENT"
        f" ROW AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS DOUBLE) AS m"
        f" FROM {V} ORDER BY g, m NULLS FIRST",
    ]
    for q in qs:
        d = [
            tuple(
                float(x) if x is not None and not isinstance(x, int)
                else x
                for x in r
            )
            for r in dk.sql(q).fetchall()
        ]
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q
    # DuckDB 1.0 extends an EXCLUDE-bearing frame ROW-WISE to the
    # current row when the frame does not contain it (nonstandard).
    # For ROWS frames the clamp is emulated exactly (cases above); for
    # RANGE frames the extension mixes value bounds with row bounds —
    # the engine raises loudly rather than silently diverging
    # (200-combo hunt: 0 silent mismatches).
    with pytest.raises(NotImplementedError, match="row-wise"):
        loaded_engine.execute(
            f"SELECT sum(v) OVER (ORDER BY g RANGE BETWEEN 2 PRECEDING"
            f" AND 1 PRECEDING EXCLUDE GROUP) FROM {V}"
        )


def test_grouping_alias_scoping(loaded_engine):
    """pass_grouping_alias_args scopes alias maps per query block: a
    nested subquery's CUBE must use ITS OWN select aliases, not the
    outer block's; an alias shadowing a catalog column never
    substitutes (GROUP BY prefers the input column)."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'"
    )
    qs = [
        # nested block: inner CUBE(a) uses the INNER alias
        "SELECT CAST(count(*) AS BIGINT) AS n FROM ("
        " SELECT upper(o_orderstatus) AS a, grouping(a) AS g,"
        " CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY CUBE(a))",
    ]
    for q in qs:
        d = [tuple(map(str, r)) for r in dk.sql(q).fetchall()]
        s = [
            tuple(map(str, r))
            for r in loaded_engine.execute(q).collect()
        ]
        assert sorted(d) == sorted(s), q
    # alias shadowing a real column: the COLUMN binds (DuckDB rule) —
    # both engines then reject the ungrouped select item, and the pass
    # must NOT have substituted the alias (which would silently make
    # the query valid with different semantics)
    shadow = (
        "SELECT upper(o_orderpriority) AS o_orderstatus,"
        " CAST(count(*) AS BIGINT) AS n FROM orders"
        " GROUP BY ROLLUP(o_orderstatus)"
    )
    with pytest.raises(Exception):
        dk.sql(shadow)
    with pytest.raises(Exception):
        loaded_engine.execute(shadow).collect()


def test_array_agg_distinct_ordered_and_null_keys(loaded_engine):
    """array_agg/list(DISTINCT x ORDER BY x [DESC]) (round-12 probe
    find — the ordered path choked on the DISTINCT keyword), plus
    NULL ORDER keys sorting LAST in both directions like DuckDB
    (Spark's struct sort put a null field first ascending — latent
    divergence, fixed with the filter-sort-concat form)."""
    import duckdb

    dk = duckdb.connect()
    qs = [
        "SELECT array_agg(DISTINCT x ORDER BY x) AS l FROM"
        " (VALUES (2),(1),(2),(NULL)) t(x)",
        "SELECT array_agg(DISTINCT x ORDER BY x DESC) AS l FROM"
        " (VALUES (2),(1),(2),(NULL)) t(x)",
        "SELECT array_agg(v ORDER BY k) AS l FROM"
        " (VALUES (NULL, 'a'), (2, 'b'), (1, 'c')) t(k, v)",
        "SELECT array_agg(v ORDER BY k DESC) AS l FROM"
        " (VALUES (NULL, 'a'), (2, 'b'), (1, 'c')) t(k, v)",
        "SELECT list(DISTINCT x ORDER BY x) AS l FROM"
        " (VALUES (2),(1),(2)) t(x)",
    ]
    for q in qs:
        d = dk.sql(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_format_alignment_and_types(loaded_engine):
    """fmt alignment semantics (round-12 probe finds): width without
    explicit alignment left-aligns STRINGS and right-aligns numbers
    (the old '%6s' emission right-aligned strings); explicit < / >
    translate to the printf '-' flag; %s args cast to STRING (Spark
    rendered a DATE's internal day count otherwise)."""
    import duckdb

    dk = duckdb.connect()
    qs = [
        "SELECT '[' || format('{:6}', 'ab') || ']' AS s",
        "SELECT '[' || format('{:6}', 42) || ']' AS s",
        "SELECT '[' || format('{:>6}', 'ab') || ']' AS s",
        "SELECT '[' || format('{:<6}', 42) || ']' AS s",
        "SELECT format('{}', DATE '2024-01-15') AS d",
    ]
    for q in qs:
        d = dk.sql(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert d == s, q


def test_unnest_zip_matches_duckdb(loaded_engine):
    """Multiple unnest() items in one select list ZIP positionally with
    NULL padding in DuckDB; Spark 4.1 silently cross-products its
    generators (round-12 probe find — a silent wrong result). The zip
    pass folds them into one inline(arrays_zip(...)) generator, with a
    transform-struct when items wrap the unnest in an expression.
    Column-order-changing shapes raise instead of silently moving."""
    import duckdb

    import pytest

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    grid = [
        "SELECT unnest([1,2,3]) AS a, unnest(['x','y']) AS b",
        "SELECT unnest([1,2]) AS a, unnest([10,20,30]) AS b,"
        " unnest(['p','q','r','s']) AS c",
        "SELECT 7 AS s, unnest([1,2]) AS u1, unnest([10,20,30]) AS u2",
        "SELECT unnest([1,2]) AS u1, unnest([10,20,30]) AS u2, 't' AS t",
        "SELECT unnest([1,2]) + 1 AS a, unnest([10,20,30]) AS b",
        "SELECT unnest([1,2]) AS a, length(unnest(['xx','yyy'])) AS b",
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w,"
        " unnest(string_split(text, ' ')) AS w2 FROM documents"
        " WHERE doc_id = 1",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q
    with pytest.raises(NotImplementedError, match="column order"):
        loaded_engine.execute(
            "SELECT unnest([1,2]) AS a, 5 AS mid, unnest([3,4]) AS b"
        )
    with pytest.raises(NotImplementedError, match="ONE select item"):
        loaded_engine.execute(
            "SELECT unnest([1,2]) + unnest([3,4]) AS a, unnest([5,6]) AS b"
        )


def test_probe9_operator_fixes_match_duckdb(loaded_engine):
    """Round-12 probe-batch-9 finds: NOT SIMILAR TO (the NOT defeated
    the binary-left check), postfix factorial x!, FILTER clauses on the
    list/array_agg null-keeping rewrite (must ride the inner
    collect_list — Spark rejects FILTER on the transform wrap), and
    MAP {...} brace-literal subscripts returning the value LIST."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{SF_DIR}/nation.parquet'"
    )
    grid = [
        "SELECT 'abc' SIMILAR TO 'a.c' AS m,"
        " 'abc' NOT SIMILAR TO 'z.*' AS n",
        "SELECT n_name FROM nation WHERE n_name NOT SIMILAR TO"
        " '.*[13579]' ORDER BY n_name",
        "SELECT 5! AS f, (3 + 2)! AS g, 5 != 4 AS ne",
        "SELECT list(x) FILTER (x > 1) AS l"
        " FROM (SELECT unnest([1,2,3]) AS x)",
        "SELECT array_agg(x) FILTER (WHERE x <> 2) AS l"
        " FROM (SELECT unnest([1,2,3]) AS x)",
        "SELECT array_agg(x ORDER BY x DESC) FILTER (x > 0) AS l"
        " FROM (SELECT unnest([3,1,2,-5]) AS x)",
        "SELECT (MAP {'k1': 5})['k1'] AS hit,"
        " (MAP {'k1': 5})['zz'] AS miss",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_unnest_zip_in_subqueries_and_time_arith(loaded_engine):
    """Round-12 follow-up finds: the unnest-zip fold applies to EVERY
    select block (a subquery with two unnests cross-producted before —
    silent wrong row count), TIME + INTERVAL stays on Spark's native
    TIME arithmetic (the TIMESTAMP cast in the date-arith pass fails
    loudly on TIME, and the native path wraps midnight like DuckDB),
    and DATE + TIME composes a TIMESTAMP via a midnight-offset
    interval."""
    import duckdb

    dk = duckdb.connect()
    grid = [
        "SELECT x, f FROM (SELECT unnest([1,2,3,4]) AS x,"
        " unnest(['a','b']) AS f) t ORDER BY x",
        "SELECT x, first_value(y IGNORE NULLS) OVER (ORDER BY x ROWS"
        " BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f FROM"
        " (SELECT unnest([1,2,3,4]) AS x, unnest([NULL, 'a', NULL,"
        " 'b']) AS y) ORDER BY x",
        "SELECT TIME '10:30:00' + INTERVAL 90 MINUTE AS t",
        "SELECT TIME '23:00:00' + INTERVAL 30 MINUTE AS t",
        # midnight WRAP cases — DuckDB wraps, Spark's native TIME op
        # raises; the epoch-anchor rewrite reproduces the wrap
        "SELECT TIME '23:00:00' + INTERVAL 90 MINUTE AS t",
        "SELECT TIME '00:30:00' - INTERVAL 60 MINUTE AS t",
        "SELECT TIME '23:00:00' + INTERVAL '1 hour 45 minutes' AS t",
        "SELECT TIME '22:00:00' + INTERVAL 1 HOUR + INTERVAL 90 MINUTE"
        " AS t",
        "SELECT TIME '23:00:00' + INTERVAL 30 MINUTE * 4 AS t",
        "SELECT TIME '12:00:00.123456' + INTERVAL 1 MICROSECOND AS t",
        "SELECT DATE '2024-01-01' + TIME '10:30:00' AS dt",
        "SELECT make_time(10, 30, 0) + INTERVAL 1 HOUR AS t",
        "SELECT '11:00:00'::TIME + INTERVAL 15 MINUTE AS t",
        "SELECT DATE '2024-01-01' + INTERVAL 1 DAY AS d",  # still ts
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_empty_list_agg_is_null_like_duckdb(loaded_engine):
    """list()/array_agg() over ZERO rows is NULL in DuckDB, [] from
    Spark's collect_list (round-12 probe find — reachable via FILTER
    clauses and empty scans; plain GROUP BY groups are never empty)."""
    import duckdb

    dk = duckdb.connect()
    grid = [
        "SELECT list(x) FILTER (x > 99) AS l"
        " FROM (SELECT unnest([1,2]) AS x)",
        "SELECT array_agg(x ORDER BY x) FILTER (x > 99) AS l"
        " FROM (SELECT unnest([1,2]) AS x)",
        "SELECT list(x) AS l FROM (SELECT 1 AS x WHERE false)",
        # non-empty stays non-null, NULL elements kept
        "SELECT list(x) AS l FROM (SELECT unnest([1, NULL, 2]) AS x)",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_json_casts_and_orderless_rank_windows(loaded_engine):
    """Round-12 probe-batch-12 finds: CAST of a STRING literal to
    STRUCT(...)/T[] parses the text as JSON in DuckDB (Spark's
    string->struct cast has no JSON semantics -> from_json), and
    rank-family window functions run over ORDER-BY-less windows
    (arbitrary order; Spark requires an ordering -> inject
    monotonically_increasing_id())."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{SF_DIR}/nation.parquet'"
    )

    def canon(rows):
        def cv(v):
            if hasattr(v, "asDict"):
                return str(dict(v.asDict()))
            return str(v)
        return sorted(str(tuple(cv(x) for x in r)) for r in rows)

    grid = [
        'SELECT CAST(\'{"a": 1, "b": "x"}\' AS STRUCT(a INTEGER,'
        " b VARCHAR)) AS s",
        "SELECT CAST('[1,2,3]' AS INTEGER[]) AS a",
        'SELECT \'{"a": [1,2]}\'::STRUCT(a INTEGER[]) AS s',
        "SELECT ([1,2])::BIGINT[] AS a",  # non-literal casts unchanged
        "SELECT count(*) AS c FROM (SELECT row_number() OVER () AS rn"
        " FROM nation) WHERE rn <= 5",
        "SELECT count(*) AS c FROM (SELECT row_number() OVER"
        " (PARTITION BY n_regionkey) AS rn FROM nation) WHERE rn = 1",
        "SELECT count(*) OVER () AS c FROM nation LIMIT 1",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert canon(d) == canon(s), q


def test_windowed_list_count_distinct_mode(loaded_engine):
    """Round-12 probe-batch-15 finds over windowed aggregates:
    list()/array_agg() OVER rides the inner collect_list (the
    transform/CASE wrap is not a window function), count(DISTINCT x)
    OVER emulates Spark's unsupported DISTINCT window via the frame's
    array_distinct'd collect, and mode() OVER breaks ties by FIRST
    frame position like DuckDB (Spark's native pick is arbitrary)."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{SF_DIR}/nation.parquet'"
    )
    grid = [
        "SELECT n_nationkey, to_json(list(n_regionkey) OVER (ORDER BY"
        " n_nationkey ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)) AS l"
        " FROM nation ORDER BY n_nationkey LIMIT 5",
        "SELECT n_nationkey, to_json(array_agg(n_name) OVER w) AS l"
        " FROM nation WINDOW w AS (PARTITION BY n_regionkey ORDER BY"
        " n_nationkey) ORDER BY n_nationkey LIMIT 5",
        "SELECT n_nationkey, CAST(count(DISTINCT n_regionkey) OVER"
        " (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " CURRENT ROW) AS BIGINT) AS d FROM nation ORDER BY"
        " n_nationkey LIMIT 6",
        "SELECT n_nationkey, CAST(count(DISTINCT n_name) OVER w AS"
        " BIGINT) AS d FROM nation WINDOW w AS (PARTITION BY"
        " n_regionkey) ORDER BY n_nationkey LIMIT 6",
        "SELECT n_nationkey, mode(n_regionkey) OVER (ORDER BY"
        " n_nationkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m"
        " FROM nation ORDER BY n_nationkey",
        "SELECT CAST(count(DISTINCT n_regionkey) AS BIGINT) AS c"
        " FROM nation",  # plain aggregate unaffected
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_distinct_window_aggs_and_format_center(loaded_engine):
    """Round-12 probe-batch-16 finds: sum/avg(DISTINCT) OVER emulate
    Spark's unsupported DISTINCT window via an aggregate() fold over
    the frame's array_distinct'd collect (BIGINT accumulator for
    int-typed columns, DOUBLE otherwise; empty -> NULL), min/max just
    drop the redundant DISTINCT, and fmt '^' center alignment pads via
    a clamped lpad/rpad expression (extra space on the right, like
    fmt)."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{SF_DIR}/nation.parquet'"
    )
    grid = [
        "SELECT n_nationkey, CAST(sum(DISTINCT n_regionkey) OVER"
        " (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " CURRENT ROW) AS BIGINT) AS sd FROM nation ORDER BY"
        " n_nationkey LIMIT 6",
        "SELECT n_nationkey, round(avg(DISTINCT n_regionkey) OVER"
        " (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " CURRENT ROW), 4) AS ad FROM nation ORDER BY n_nationkey"
        " LIMIT 6",
        "SELECT n_nationkey, min(DISTINCT n_regionkey) OVER (ORDER BY"
        " n_nationkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mn,"
        " max(DISTINCT n_name) OVER w AS mx FROM nation WINDOW w AS"
        " (PARTITION BY n_regionkey) ORDER BY n_nationkey LIMIT 6",
        "SELECT round(sum(DISTINCT n_regionkey / 2.0) OVER (ORDER BY"
        " n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT"
        " ROW), 3) AS sd FROM nation ORDER BY sd NULLS FIRST LIMIT 4",
        "SELECT CAST(sum(DISTINCT n_regionkey) AS BIGINT) AS s,"
        " round(avg(DISTINCT n_regionkey), 3) AS a FROM nation",
        "SELECT format('{:>8}', 'ab') || '|' AS r, format('{:<8}',"
        " 'ab') || '|' AS l, format('{:^8}', 'ab') || '|' AS c",
        "SELECT format('{:^7}', 'abc') || '|' AS odd, format('{:^7d}',"
        " 42) || '|' AS num, format('{:^3}', 'abcdef') AS clamp",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_json_arrow_path_forms(engine):
    """JSON arrows with path-form keys (round-12 probe find: a
    '$....' key was double-prefixed to '$.$....' and silently returned
    NULL). JSONPath keys pass through verbatim; JSON Pointer keys
    ('/a/b/0') convert with numeric segments as array indices."""
    import duckdb

    dk = duckdb.connect()
    for st in [
        "CREATE TABLE ja (j JSON)",
        'INSERT INTO ja VALUES (\'{"a": {"b": [1, 2]}}\'),'
        ' (\'{"a": {"b": [3]}}\')',
    ]:
        dk.execute(st)
        engine.execute(st)
    for q in [
        "SELECT j->'a'->'b'->>0 AS f, j->>'$.a.b[1]' AS snd FROM ja",
        "SELECT j->'$.a.b' AS arr FROM ja",
        "SELECT j->>'/a/b/0' AS ptr FROM ja",
        "SELECT j->>'a' IS NULL AS missing_ok FROM ja",
    ]:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_decimal_cast_division_and_fractional_intervals(loaded_engine):
    """Round-12 probe-batch-19 finds: '/' over an EXPLICIT DECIMAL cast
    goes DOUBLE like DuckDB (the span check only knew literals and
    catalog columns; :: chains now extend the operand span), and
    fractional interval literals above SECOND truncate toward zero
    ('1.5' DAY = 1 day — probed; Spark raised INVALID_FRACTION)."""
    import duckdb

    dk = duckdb.connect()
    grid = [
        "SELECT CAST(1 AS DECIMAL(10,2)) / 3 AS d",
        "SELECT '1.5'::DECIMAL(3,1) / 2 AS d",
        "SELECT 2 / '1.5'::DECIMAL(3,1) AS rdiv",
        "SELECT TIMESTAMP '2024-03-01 00:00:00' + INTERVAL '1.5' DAY"
        " AS i",
        "SELECT INTERVAL '2.25' HOUR AS i",
        "SELECT INTERVAL '-1.7' MINUTE AS i",
        "SELECT INTERVAL '0.5' SECOND AS i",
        "SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1.5' HOUR"
        " AS t",
    ]
    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert sorted(map(str, d)) == sorted(map(str, s)), q


def test_alias_list_subscripts_and_named_groups(loaded_engine):
    """Round-12 probe-batch-20 finds: a derived-table LIST alias
    subscripted in the outer query fell back to STRING substring (the
    resolver only knew catalog columns — a statement-local alias-kind
    scan now types '<array-expr> AS l' select aliases), and Python
    (?P<name>...) named groups in regexp literals convert to Java's
    (?<name>...) spelling."""
    import duckdb

    from tests.conftest import SF_DIR

    dk = duckdb.connect()
    dk.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{SF_DIR}/nation.parquet'"
    )
    grid = [
        "SELECT l, CAST(count(*) AS BIGINT) AS c FROM (SELECT"
        " [n_regionkey % 2] AS l FROM nation) GROUP BY l ORDER BY l[1]",
        "SELECT DISTINCT [n_regionkey % 2, 1] AS l FROM nation"
        " ORDER BY l[1]",
        "SELECT CAST(sum(l[1]) AS BIGINT) AS s FROM (SELECT"
        " [n_regionkey] AS l FROM nation)",
        "SELECT CAST(sum(ll[2]) AS BIGINT) AS s FROM (SELECT"
        " list_append([n_regionkey], 9) AS ll FROM nation)",
        "SELECT regexp_extract('2024-08-16',"
        " '(?P<y>\\d+)-(?P<m>\\d+)', ['y', 'm']) AS s",
        "SELECT regexp_extract('x42', '(?P<n>\\d+)', 1) AS g",
        "SELECT n_name[2] AS c2, n_name[2:4] AS sl FROM nation"
        " ORDER BY n_nationkey LIMIT 2",
    ]

    def canon(rows):
        return sorted(
            str(tuple(
                dict(v.asDict()) if hasattr(v, "asDict") else v
                for v in r
            ))
            for r in rows
        )

    for q in grid:
        d = dk.execute(q).fetchall()
        s = [tuple(r) for r in loaded_engine.execute(q).collect()]
        assert canon(d) == canon(s), q


def test_round_double_template_caseless_and_null(loaded_engine):
    """Round-12 optimization: the DuckDB-exact double round() emulation
    dropped its NULL CASE guard (every factor — signum, abs, floor —
    already propagates NULL), shrinking the analyzed tree from three
    copies of the argument to two. Pin the rewrite shape and the NULL
    behavior the guard used to provide."""
    text = loaded_engine._rewrite_query(
        "SELECT round(sum(o_totalprice), 2) AS r FROM orders"
    )
    assert "signum" in text and "CASE" not in text.upper()
    row = loaded_engine.execute(
        "SELECT round(CAST(NULL AS DOUBLE), 2) AS a,"
        " round(sum(o_totalprice), 2) AS b"
        " FROM orders WHERE o_orderkey < 0"
    ).collect()[0]
    assert row["a"] is None and row["b"] is None
