"""The benchmark workload: named queries over the driver's testdata tables,
each paired with DuckDB oracle SQL for the correctness gate
(CORRECTNESS_r{N}.json — row-count + schema + order-insensitive value hash).

Two families:

- ENGINE_SQL: DuckDB-dialect statements executed through the engine's own
  frontend (DuckSparkSession.execute). For these the *same SQL text* is the
  oracle — the strongest possible parity statement: the engine accepts
  DuckDB's dialect and produces DuckDB's answers. Shapes mirror the
  reference gold queries (/root/reference/eval/data/dev.json, cited).

- DataFrame operators (dedup/similarity/text/asof/streaming): Spark-first
  pipelines from duckdb_nsql_spark.operators, with hand-matched oracle SQL
  built on cross-engine-identical primitives (md5, regexp_*, concat_ws,
  1-based list ops). The only rows-only entry left is q34 USING SAMPLE
  (nondeterministic by design); multimodal earns a hard oracle by
  exporting its asset bytes to parquet and letting DuckDB recompute the
  digests, and unit tests pin the pixel/RMS feature semantics.

Float discipline for hash-matching: every floating-point output column is
round()ed (2-6 digits) on BOTH sides, and Spark-side float arrays are cast
to double before arithmetic so the sequential fold matches DuckDB's
double-precision evaluation.
"""

from __future__ import annotations

import os
import re
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .introspect import local_df
from .operators import asof as asof_ops
from .operators import dedup, multimodal, packing, sampling, similarity
from .operators import sketches
from .operators import skew as skew_ops
from .operators import text as text_ops
from .session import DuckSparkSession

_ENGINES: dict = {}


def engine_for(spark: SparkSession, sf_dir: str) -> DuckSparkSession:
    key = (id(spark), os.path.abspath(sf_dir))
    eng = _ENGINES.get(key)
    if eng is None:
        eng = DuckSparkSession(spark=spark)
        eng.register_parquet_dir(sf_dir)
        _ENGINES[key] = eng
    return eng


# ---------------------------------------------------------------------------
# family 1: DuckDB-dialect SQL through the engine (oracle = same text)
# ---------------------------------------------------------------------------

# name -> (engine_sql, oracle_sql_override or None meaning "same text")
ENGINE_SQL: dict[str, tuple[str, Optional[str]]] = {}


def _sql(name: str, sql: str, oracle: Optional[str] = "same") -> None:
    ENGINE_SQL[name] = (sql, sql if oracle == "same" else oracle)


# --- scan / filter / project (dev.json:28,36,44 shapes; TPC-H Q1/Q6) ------
_sql(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY ALL
    ORDER BY ALL
    """,
)

_sql(
    "q02_filter_predicates",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity >= 49 AND l_discount > 0.05 AND l_returnflag <> 'N'
          AND l_shipdate IS NOT NULL
    ORDER BY l_orderkey, l_linenumber
    """,
)

_sql(
    "q03_like_filter",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_orderpriority LIKE '%URGENT%'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

_sql(
    "q04_arithmetic_alias",
    """
    SELECT o_orderkey, round(o_totalprice / 0.85, 2) AS price_usd
    FROM orders WHERE o_totalprice > 400000 ORDER BY o_orderkey
    """,
)

# --- joins (dev.json:12,316 shapes) ---------------------------------------
_sql(
    "q05_join_group_topk",
    """
    SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 2) AS total_spent
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spent DESC, c.c_custkey LIMIT 10
    """,
)

_sql(
    "q06_multiway_join",
    """
    SELECT r.r_name, n.n_name, count(*) AS n_orders,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)

_sql(
    "q07_self_join_alias",
    """
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    ORDER BY nation_a, nation_b
    """,
)

# --- aggregation (dev.json:20,84,268,580) ---------------------------------
_sql(
    "q08_having_on_alias",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS balance
    FROM orders GROUP BY o_custkey
    HAVING balance > 1500000 ORDER BY o_custkey
    """,
)

_sql(
    "q09_group_by_all_exclude",
    """
    SELECT * EXCLUDE (n_nationkey, n_name), count(*) AS n
    FROM nation GROUP BY ALL ORDER BY ALL
    """,
)

_sql(
    "q10_scalar_aggs",
    """
    SELECT round(avg(p_retailprice), 4) AS avg_price,
           round(max(p_retailprice), 2) AS max_price,
           round(min(p_retailprice), 2) AS min_price,
           count(*) AS n, count(DISTINCT p_brand) AS n_brands
    FROM part
    """,
)

_sql(
    "q11_distinct_order",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY ALL",
)

# --- DuckDB-isms (dev.json:164,396,404,460,292,308,436,468,476,484) -------
_sql(
    "q12_columns_regex",
    "SELECT COLUMNS('^l_(order|line)') FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 50",
    oracle="SELECT l_orderkey, l_linenumber, l_linestatus FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 50",
)

_sql(
    "q13_columns_fn_wrap",
    "SELECT length(COLUMNS('_name$')) FROM nation ORDER BY n_nationkey LIMIT 5",
    oracle="SELECT length(n_name) AS n_name FROM nation ORDER BY n_nationkey LIMIT 5",
)

_sql(
    "q14_star_replace",
    "SELECT * REPLACE (upper(r_name) AS r_name) FROM region ORDER BY r_regionkey",
    oracle="SELECT r_regionkey, upper(r_name) AS r_name FROM region ORDER BY r_regionkey",
)

_sql(
    "q15_string_index_slice",
    """
    SELECT c_custkey, c_name[1] AS first_ch, c_name[:9] AS prefix,
           upper(c_mktsegment) AS seg
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
    oracle="""
    SELECT c_custkey, c_name[1] AS first_ch, c_name[:9] AS prefix,
           upper(c_mktsegment) AS seg
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)

_sql(
    "q16_list_ops",
    """
    SELECT vec_id, round(embedding[1], 4) AS e1,
           round(embedding[64], 4) AS e_last,
           len(embedding) AS dim
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    oracle="""
    SELECT vec_id, round(embedding[1], 4) AS e1,
           round(embedding[64], 4) AS e_last,
           CAST(len(embedding) AS INTEGER) AS dim
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)

_sql(
    "q17_cast_ops",
    """
    SELECT l_orderkey, l_quantity::INTEGER AS qty_int,
           (l_extendedprice / 100)::BIGINT AS price_h,
           l_returnflag || l_linestatus AS flags
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
)

_sql(
    "q18_struct_list_literals",
    """
    SELECT {'name': 'duckdb-nsql-spark', 'major': 1}.name AS engine_name,
           [10, 20, 30][2] AS second,
           len([1, 2, 3, 4]) AS list_len
    """,
    oracle="""
    SELECT {'name': 'duckdb-nsql-spark', 'major': 1}.name AS engine_name,
           [10, 20, 30][2] AS second,
           CAST(len([1, 2, 3, 4]) AS INTEGER) AS list_len
    """,
)

_sql(
    "q19_json_extract",
    """
    SELECT CAST(props->>'k' AS INTEGER) AS k, count(*) AS n
    FROM events GROUP BY k ORDER BY k LIMIT 50
    """,
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n
    FROM events GROUP BY k ORDER BY k LIMIT 50
    """,
)

_sql(
    "q20_datediff_minute",
    """
    SELECT user_id,
           datediff('minute', min(ts), max(ts)) AS active_minutes,
           count(*) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id LIMIT 200
    """,
    oracle="""
    SELECT user_id,
           date_diff('minute', min(ts), max(ts)) AS active_minutes,
           count(*) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id LIMIT 200
    """,
)

_sql(
    "q21_regexp_extract",
    """
    SELECT doc_id, regexp_extract(text, '[A-Za-z]+', 0) AS first_word
    FROM documents ORDER BY doc_id LIMIT 200
    """,
)

# --- subqueries / CTEs / set ops (dev.json:284; SURVEY §2.6-2.7) ----------
_sql(
    "q22_cte_scalar_subquery",
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
    """,
    oracle="""
    WITH per_nation AS (
        SELECT n.n_name, round(avg(c.c_acctbal), 4) AS avg_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    max_nation AS (
        SELECT n_name FROM per_nation
        WHERE avg_bal = (SELECT max(avg_bal) FROM per_nation)
    )
    SELECT * FROM per_nation WHERE n_name IN (SELECT n_name FROM max_nation)
    """,
)

_sql(
    "q23_exists_subquery",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM nation n
                  WHERE n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1)
    ORDER BY s_suppkey
    """,
)

_sql(
    "q24_in_subquery",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    ORDER BY c_custkey LIMIT 100
    """,
)

_sql(
    "q25_union",
    """
    SELECT n_name AS name FROM nation WHERE n_regionkey = 0
    UNION
    SELECT r_name AS name FROM region
    ORDER BY name
    """,
)

_sql(
    "q26_intersect_except",
    """
    SELECT x FROM (
        SELECT n_regionkey AS x FROM nation INTERSECT SELECT r_regionkey AS x FROM region
    ) ORDER BY x
    """,
)

# --- window functions (SURVEY §2.5 — free extension) ----------------------
_sql(
    "q27_window_topk_per_group",
    """
    SELECT n_nationkey, c_custkey, c_acctbal FROM (
        SELECT n.n_nationkey, c.c_custkey, c.c_acctbal,
               row_number() OVER (PARTITION BY n.n_nationkey
                                  ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rn <= 3 ORDER BY n_nationkey, c_custkey
    """,
)

_sql(
    "q28_window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
    FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, o_orderkey
    """,
)

_sql(
    "q29_window_lag_lead",
    """
    SELECT user_id, event_id,
           lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
    FROM events WHERE user_id < 20 ORDER BY user_id, event_id
    """,
)

# --- grouping sets / rollup / cube (SURVEY §2.4 — free extension) ---------
_sql(
    "q30_rollup",
    """
    SELECT r_name, n_name, count(*) AS n
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)

_sql(
    "q31_conditional_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

_sql(
    "q32_case_buckets",
    """
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)

# --- date/time ------------------------------------------------------------
_sql(
    "q33_date_trunc_extract",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
           count(*) AS n
    FROM orders GROUP BY ALL ORDER BY month
    """,
)

# --- sampling (dev.json:172,556 — nondeterministic, rows-only check) ------
_sql("q34_sample_percent", "SELECT * FROM lineitem USING SAMPLE 5%", oracle=None)

# Reservoir sampling draws an EXACT number of rows (dev.json:556's own
# count-based validation), so wrapping it in count(*) IS deterministic —
# the hash-level oracle for the sampling operator family. Which rows are
# drawn stays nondeterministic (q34 pins that, rows-only); how MANY rows
# are drawn is the contract both engines must agree on exactly.
_sql(
    "q34b_sample_reservoir_count",
    "SELECT count(*) AS n FROM "
    "(SELECT * FROM lineitem USING SAMPLE 10% (reservoir)) t",
)

# --- QUALIFY (DuckDB clause; rewritten to hidden-column subquery) ----------
_sql(
    "q35_qualify",
    """
    SELECT n_nationkey, s_suppkey, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    QUALIFY row_number() OVER (PARTITION BY n_nationkey
                               ORDER BY s_acctbal DESC, s_suppkey) <= 2
    ORDER BY n_nationkey, s_suppkey
    """,
)

# --- list_cosine_similarity macro through the engine frontend --------------
_sql(
    "q36_list_cosine_sql",
    """
    SELECT vec_id,
           round(list_cosine_similarity(embedding, embedding), 4) AS self_sim,
           round(list_dot_product(embedding, embedding), 2) AS self_dot
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)

# --- ILIKE / string functions ---------------------------------------------
_sql(
    "q37_ilike_concat",
    """
    SELECT o_orderkey, concat(o_orderstatus, '-', o_orderpriority) AS tag
    FROM orders WHERE o_orderpriority ILIKE '%urgent%'
    ORDER BY o_orderkey LIMIT 100
    """,
)

_sql(
    "q38_window_rank_family",
    """
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey LIMIT 200
    """,
)

_sql(
    "q39_grouping_sets",
    """
    SELECT r_name, n_name, count(*) AS n
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)

_sql(
    "q40_string_function_batch",
    """
    SELECT c_custkey,
           lower(c_name) AS lname,
           reverse(c_name) AS rname,
           replace(c_name, 'Customer', 'Cust') AS shortname,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           trim('  x  ') AS trimmed,
           repeat('ab', 3) AS rep,
           left(c_name, 4) AS l4, right(c_name, 4) AS r4,
           contains(c_name, '1') AS has1,
           starts_with(c_name, 'Customer') AS sw
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)

_sql(
    "q41_date_function_batch",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS d,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
           date_format(o_orderdate, 'yyyy-MM') AS ym
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           dayofmonth(o_orderdate) AS d,
           quarter(o_orderdate) AS q,
           weekofyear(o_orderdate) AS woy,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
)

# approx_count_distinct sketches differ across engines, so the sketch is
# asserted as a bounded deviation from each engine's OWN exact distinct
# count (both engines' HLL variants sit within ~5% rsd; the 15% bound
# is ~3 sigma) — same pattern as the ANN recall
# oracles: a sketch regression flips approx_ok and the driver row goes red
_sql(
    "q42_approx_and_stats",
    """
    SELECT l_returnflag,
           CAST(abs(approx_count_distinct(l_orderkey)
                    - count(DISTINCT l_orderkey))
                <= 0.15 * count(DISTINCT l_orderkey) AS BOOLEAN) AS approx_ok,
           round(stddev(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           round(covar_samp(l_quantity, l_discount), 6) AS cov_qd
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

_sql(
    "q43_exact_stats",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           round(stddev(l_quantity), 4) AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           round(median(l_quantity), 1) AS med_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

# --- arg_max/arg_min (DuckDB) -> max_by/min_by; tie-free via unique key ---
_sql(
    "q45_arg_max_min",
    """
    SELECT o_orderpriority,
           arg_max(o_custkey, o_orderkey) AS last_cust,
           arg_min(o_custkey, o_orderkey) AS first_cust,
           bool_or(o_totalprice > 300000) AS has_big,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

# --- ordered string_agg -> listagg WITHIN GROUP ---------------------------
_sql(
    "q49_string_agg_ordered",
    """
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)

# --- date_part convention fields + dayname (CAST: duck bigint vs int) -----
_sql(
    "q48_date_part_dayname",
    """
    SELECT CAST(date_part('isodow', o_orderdate) AS INT) AS dw,
           dayname(o_orderdate) AS dn,
           count(*) AS n
    FROM orders GROUP BY ALL ORDER BY dw
    """,
)

# --- generate_series spine + anti-join gap detection ----------------------
# (CAST: DuckDB's series is BIGINT, Spark's sequence(int,int) is INT)
_sql(
    "q47_series_gaps",
    """
    SELECT CAST(s.generate_series AS BIGINT) AS k
    FROM generate_series(1, 200) s
    LEFT JOIN orders o ON o.o_orderkey = s.generate_series * 97
    WHERE o.o_orderkey IS NULL
    ORDER BY k
    """,
)

# --- UNNEST (DuckDB list flatten -> Spark explode generator) --------------
_sql(
    "q46_unnest_words",
    """
    SELECT w, count(*) AS n
    FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents WHERE doc_id <= 50
    )
    WHERE length(w) >= 5
    GROUP BY w ORDER BY n DESC, w LIMIT 20
    """,
)

# --- recursive CTE (DuckDB WITH RECURSIVE; Spark 4 UnionLoop) -------------
_sql(
    "q44_recursive_cte",
    """
    WITH RECURSIVE seq(n) AS (
        SELECT 1
        UNION ALL
        SELECT n + 1 FROM seq WHERE n < 10
    )
    SELECT s.n AS bucket, count(*) AS cnt,
           round(sum(o.o_totalprice), 2) AS total
    FROM seq s JOIN orders o ON (o.o_orderkey % 10) + 1 = s.n
    GROUP BY s.n ORDER BY s.n
    """,
)

# --- DISTINCT ON -> row_number window (pass_distinct_on, round 2) ---------
_sql(
    "q50_distinct_on",
    """
    SELECT DISTINCT ON (o_custkey % 10)
           CAST(o_custkey % 10 AS BIGINT) AS bucket, o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_custkey % 10, o_totalprice DESC, o_orderkey
    """,
)

# --- regexp_replace: DuckDB replaces FIRST match by default; 'g'/'i' flags
# and \N backrefs (-> Spark $N) ---------------------------------------------
_sql(
    "q51_regexp_replace_first",
    r"""
    SELECT doc_id,
           regexp_replace(text, 'the', '#') AS first_rep,
           regexp_replace(text, 'the', '#', 'g') AS all_rep,
           regexp_replace(lang, '^(\w)(\w*)$', '\2\1') AS swapped,
           regexp_replace(source, 'WEB', '<w>', 'i') AS ci_rep
    FROM documents WHERE doc_id <= 200 ORDER BY doc_id
    """,
)

# --- exact quantiles: quantile_cont -> percentile, quantile_disc ->
# percentile_disc WITHIN GROUP, median (exact, interpolated in both) -------
_sql(
    "q52_quantiles_exact",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           quantile_disc(l_extendedprice, 0.25) AS q25d,
           round(median(l_extendedprice), 4) AS med,
           round(quantile_cont(l_quantity, 0.9), 4) AS q90
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

# --- scalar math/string batch: log is base-10 in DuckDB (ln in Spark),
# chr/printf/epoch ----------------------------------------------------------
_sql(
    "q53_math_string_batch",
    """
    SELECT o_orderkey,
           round(log(o_totalprice), 6) AS lg10,
           round(log(2, o_totalprice), 6) AS lg2,
           chr(65 + CAST(o_orderkey % 26 AS INT)) AS letter,
           printf('%s/%04d', o_orderpriority, CAST(o_orderkey % 1000 AS INT)) AS tag,
           epoch(CAST(o_orderdate AS TIMESTAMP)) AS ep
    FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey
    """,
)

# --- bit/bool aggregates + mode (all native Spark names) ------------------
_sql(
    "q54_bit_bool_aggs",
    """
    SELECT bit_and(o_orderkey) AS ba, bit_or(o_orderkey) AS bo,
           bit_xor(o_orderkey) AS bx,
           bool_and(o_totalprice > 0) AS all_pos,
           bool_or(o_totalprice > 400000) AS any_big,
           mode(o_orderstatus) AS status_mode
    FROM orders
    """,
)

# --- array_agg / list -> collect_list (order pinned via list_sort).
# Outputs stringified (array_to_string / to_json) so the driver's
# canonicalizer can sort+hash them — raw-array variants stay pinned in
# pytest (test_oracle_parity handles array columns locally). ------------
_sql(
    "q55_array_agg",
    """
    SELECT n_regionkey,
           array_to_string(list_sort(array_agg(n_name)), ',') AS names,
           to_json(list_sort(list(n_nationkey))) AS keys
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)

# --- range (end-exclusive) / generate_series: FROM-position table fn and
# select-position list forms, incl. descending step and empty bounds ------
_sql(
    "q56_range_series",
    """
    SELECT CAST(r.range AS BIGINT) AS k, count(*) AS n,
           len(range(5, 1)) AS empty_n,
           list_sum(generate_series(5, 1, -2)) AS desc_sum
    FROM range(0, 50) r JOIN orders o ON o.o_orderkey % 50 = r.range
    GROUP BY 1 ORDER BY k
    """,
)

# --- time_bucket: epoch-aligned fixed buckets anchored at 2000-01-03
# (ISO-week alignment for '7 days'), month multiples on month arithmetic --
_sql(
    "q57_time_bucket",
    """
    SELECT time_bucket(INTERVAL '1 day', ts) AS d,
           min(time_bucket(INTERVAL '15 minutes', ts)) AS q15,
           min(time_bucket(INTERVAL '7 days', ts)) AS wk,
           min(time_bucket(INTERVAL '1 month', ts)) AS mo,
           count(*) AS n
    FROM events GROUP BY ALL ORDER BY d
    """,
)

# --- UNION ALL BY NAME: match by column name, NULL-fill missing ----------
_sql(
    "q58_union_by_name",
    """
    SELECT n_regionkey AS k, count(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    UNION ALL BY NAME
    SELECT r_regionkey AS k, r_name FROM region
    ORDER BY k, n_nations NULLS FIRST, r_name
    """,
)

# --- round-2 breadth: join family, null semantics, windows frames, -------
# --- scalar batches (dev.json exercises none of these beyond inner join; -
# --- free Spark extensions per SURVEY §2.3/§2.5 notes) -------------------

_sql(
    "q59_outer_joins",
    """
    SELECT n.n_name, count(c.c_custkey) AS n_cust
    FROM nation n LEFT JOIN customer c
      ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
    GROUP BY n.n_name ORDER BY n_cust DESC, n.n_name LIMIT 10
    """,
)

_sql(
    "q60_semi_anti_joins",
    """
    SELECT
      (SELECT count(*) FROM part p WHERE EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
          AND l.l_quantity > 45)) AS with_bulk,
      (SELECT count(*) FROM part p WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
          AND l.l_quantity > 45)) AS without_bulk
    """,
)

_sql(
    "q61_full_outer",
    """
    SELECT a.k AS k_left, b.k AS k_right, a.n AS n_a, b.n AS n_b
    FROM (SELECT n_regionkey AS k, count(*) AS n FROM nation
          WHERE n_nationkey < 20 GROUP BY n_regionkey) a
    FULL OUTER JOIN (SELECT n_regionkey + 2 AS k, count(*) AS n FROM nation
          GROUP BY n_regionkey) b
      ON a.k = b.k
    ORDER BY k_left NULLS LAST, k_right NULLS LAST
    """,
)

_sql(
    "q62_try_cast_nullif",
    """
    SELECT c_custkey,
           TRY_CAST(c_name[3:7] AS INTEGER) AS cast_fail,
           TRY_CAST(c_custkey::VARCHAR AS INTEGER) AS cast_ok,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'redacted') AS seg,
           GREATEST(c_acctbal, 0) AS pos_bal,
           LEAST(c_custkey, 100) AS capped,
           IFNULL(NULL, c_custkey) AS fallback
    FROM customer ORDER BY c_custkey LIMIT 50
    """,
)

_sql(
    "q63_interval_arith",
    """
    SELECT o_orderkey,
           o_orderdate + INTERVAL 30 DAY AS due,
           o_orderdate - INTERVAL 1 MONTH AS prior_month,
           CAST(o_orderdate + INTERVAL 1 YEAR AS DATE) AS next_year
    FROM orders ORDER BY o_orderkey LIMIT 50
    """,
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 30 DAY AS due,
           o_orderdate - INTERVAL 1 MONTH AS prior_month,
           CAST(o_orderdate + INTERVAL 1 YEAR AS DATE) AS next_year
    FROM orders ORDER BY o_orderkey LIMIT 50
    """,
)

_sql(
    "q64_struct_functions",
    """
    SELECT c_custkey,
           struct_pack(name := c_name, seg := c_mktsegment).name AS nm,
           struct_extract(struct_pack(name := c_name, seg := c_mktsegment),
                          'seg') AS seg2
    FROM customer ORDER BY c_custkey LIMIT 20
    """,
)

# Frame sums accumulate over DECIMAL(12,2), not DOUBLE: double sliding-frame
# sums diverge between Spark's frame re-evaluation and DuckDB's segment tree
# (accumulation order flips round(x,2) at half-cent boundaries — the r3
# wrong-answer). Decimal window sums are exact in both engines; casting the
# exact sum to DOUBLE is deterministic, and the avg is expressed as
# exact-sum / count so no engine's decimal-division or round-on-double
# semantics are in play.
_sql(
    "q65_window_frames",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll3,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS DOUBLE)
             / count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS lead_avg
    FROM orders WHERE o_custkey < 50
    ORDER BY o_custkey, o_orderkey
    """,
)

_sql(
    "q66_lateral_where_alias",
    """
    SELECT c_custkey, upper(c_mktsegment[1:4]) AS seg4
    FROM customer
    WHERE seg4 = 'AUTO' ORDER BY c_custkey LIMIT 30
    """,
)

_sql(
    "q67_is_distinct_from",
    """
    SELECT count(*) AS n_distinct_pairs
    FROM (SELECT n_regionkey AS a FROM nation) x,
         (SELECT r_regionkey AS b FROM region) y
    WHERE x.a IS DISTINCT FROM y.b
    """,
)

_sql(
    "q68_rank_distribution",
    """
    SELECT n_nationkey,
           ntile(4) OVER (ORDER BY n_nationkey) AS quartile,
           round(percent_rank() OVER (ORDER BY n_nationkey), 4) AS pr,
           round(cume_dist() OVER (ORDER BY n_nationkey), 4) AS cd
    FROM nation ORDER BY n_nationkey
    """,
)

_sql(
    "q69_string_pad_repeat",
    """
    SELECT s_suppkey,
           lpad(s_suppkey::VARCHAR, 8, '0') AS padded,
           rpad(s_name, 30, '.') AS dotted,
           repeat('ab', 3) AS rep,
           reverse(s_name) AS rev,
           left(s_name, 4) AS l4,
           right(s_name, 4) AS r4
    FROM supplier ORDER BY s_suppkey LIMIT 40
    """,
)

_sql(
    "q70_bitwise",
    """
    SELECT n_nationkey,
           n_nationkey & 3 AS band,
           n_nationkey | 8 AS bor,
           xor(n_nationkey, 5) AS bxor,
           n_nationkey << 2 AS shl,
           n_nationkey >> 1 AS shr
    FROM nation ORDER BY n_nationkey
    """,
)

_sql(
    "q71_hash_digests",
    """
    SELECT r_regionkey, md5(r_name) AS h_md5, sha256(r_name) AS h_sha
    FROM region ORDER BY r_regionkey
    """,
)

# map outputs stringified for the driver canonicalizer (to_json keeps the
# empty-list case: DuckDB array_to_string('[]') is NULL, Spark's is '')
_sql(
    "q72_map_ops",
    """
    SELECT r_regionkey,
           map_extract(MAP {'k': r_name, 'n': 'x'}, 'k')[1] AS v,
           to_json(map_extract(MAP {'k': r_name}, 'missing')) AS empty_list,
           CAST(cardinality(MAP {'a': 1, 'b': 2}) AS INTEGER) AS n,
           array_to_string(map_keys(MAP {'a': 1, 'b': 2}), ',') AS ks
    FROM region ORDER BY r_regionkey
    """,
)

_sql(
    "q73_regex_operators",
    """
    SELECT c_custkey,
           c_name ~ '0{3}1[0-9]$' AS m1,
           c_name !~ '9$' AS m2,
           c_mktsegment SIMILAR TO '[A-Z]+' AS m3,
           c_name GLOB 'Customer#*1' AS m4
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)

_sql(
    "q74_power_operator",
    """
    SELECT n_nationkey, n_nationkey ^ 2 AS sq, 2 ** n_regionkey AS p2
    FROM nation ORDER BY n_nationkey
    """,
)

_sql(
    "q75_trim_char_sets",
    """
    SELECT c_custkey,
           trim(c_name, 'Custoemr#0') AS t,
           ltrim(c_name, 'Custome') AS lt,
           rtrim(c_name, '0123456789') AS rt,
           trim('  pad  ') AS plain
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)

_sql(
    "q76_math_edge_functions",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(even(l_quantity / 7) AS DOUBLE) AS ev,
           CAST(trunc(l_extendedprice / 1000) AS BIGINT) AS tr,
           CAST(fdiv(l_extendedprice, l_quantity + 1) AS BIGINT) AS fd,
           round(fmod(l_extendedprice, l_quantity + 1), 6) AS fm,
           l_orderkey // 3 AS intdiv,
           to_base(CAST(l_orderkey AS INTEGER), 2) AS b2,
           to_hex(CAST(l_orderkey AS INTEGER)) AS hx,
           isnan(CAST('NaN' AS DOUBLE)) AS nan_t,
           isinf(CAST('Infinity' AS DOUBLE)) AS inf_t,
           isfinite(l_extendedprice) AS fin_t,
           signbit(0.0 - l_extendedprice) AS sb
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
    """,
)

_sql(
    "q77_first_last_ordered",
    """
    SELECT o_orderpriority,
           first(o_orderstatus ORDER BY o_orderdate, o_orderkey) AS first_clerk,
           last(o_orderstatus ORDER BY o_orderdate, o_orderkey) AS last_clerk,
           first(o_totalprice ORDER BY o_orderkey DESC) AS newest_price,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

_sql(
    "q78_moment_aggs",
    """
    SELECT o_orderpriority,
           round(skewness(o_totalprice), 6) AS skew,
           round(kurtosis(o_totalprice), 6) AS kurt,
           round(geomean(o_totalprice), 4) AS geo,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

# Arrow-batched python aggregates (Spark can't nest aggregation in one
# level: entropy/mad need the group's full value distribution). Grouped-agg
# pandas UDFs can't mix with JVM aggregates in one GROUP BY, hence the
# separate query.
_sql(
    "q83_python_aggs",
    """
    SELECT o_orderpriority,
           round(entropy(o_orderstatus), 6) AS ent,
           round(mad(o_totalprice), 4) AS mad_v,
           CAST(product(CASE WHEN o_orderkey % 500 = 0 THEN 2 ELSE 1 END)
                AS DOUBLE) AS prod
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

# list outputs stringified for the driver canonicalizer (sl can be empty
# -> to_json, not array_to_string; see q72 note)
_sql(
    "q79_list_function_batch",
    """
    SELECT n_nationkey,
           array_to_string(list_sort(string_split(n_name, 'A'), 'DESC'), ',')
               AS parts_desc,
           to_json(list_slice([1, 2, 3, 4, 5], 2, n_nationkey % 5 + 1)) AS sl,
           list_reduce([1, 2, 3, n_nationkey], (a, b) -> a + b) AS red,
           list_any_value([NULL, n_nationkey, 99]) AS anyv,
           to_json(list_grade_up([n_nationkey % 3, 10 - n_nationkey % 4, 5]))
               AS gup,
           CAST(list_aggregate([n_nationkey, 2, 3], 'sum') AS DOUBLE) AS lsum,
           list_position([5, n_nationkey, 7], 7) AS pos,
           list_has_all([1, 2, 3, 4], [2, n_nationkey % 4]) AS hasall
    FROM nation ORDER BY n_nationkey
    """,
)

_sql(
    "q80_string_distances",
    """
    SELECT c_custkey,
           levenshtein(c_name, 'Customer#000000001') AS lev,
           damerau_levenshtein(substr(c_name, 10), '000000001') AS dlev,
           round(jaccard(c_name, c_mktsegment), 6) AS jac,
           round(jaro_similarity(c_name, c_mktsegment), 6) AS jaro,
           round(jaro_winkler_similarity(c_name, c_mktsegment), 6) AS jw,
           hamming(substr(c_name, 1, 8), 'Customer') AS ham,
           nfc_normalize(c_name) AS nfc,
           strip_accents(c_mktsegment || 'é') AS sa
    FROM customer ORDER BY c_custkey LIMIT 200
    """,
)

_sql(
    "q81_date_conventions",
    """
    SELECT o_orderkey,
           CAST(yearweek(o_orderdate) AS BIGINT) AS yw,
           CAST(century(o_orderdate) AS BIGINT) AS cen,
           CAST(decade(o_orderdate) AS BIGINT) AS dcd,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS dw,
           CAST(isodow(o_orderdate) AS BIGINT) AS idw,
           CAST(extract(dow FROM o_orderdate) AS BIGINT) AS dw2,
           CAST(date_part('isoyear', o_orderdate) AS BIGINT) AS iy,
           o_orderdate + INTERVAL 10 DAY AS plus10,
           o_orderdate - DATE '1995-01-01' AS days_since,
           CAST(time_bucket(INTERVAL 1 WEEK, CAST(o_orderdate AS TIMESTAMP))
                AS DATE) AS wk
    FROM orders ORDER BY o_orderkey LIMIT 200
    """,
)

_sql(
    "q82_format_typeof_bar",
    """
    SELECT r_regionkey,
           format('{} -> {}', r_name, r_regionkey) AS f1,
           format('{1}/{0}', r_name, r_regionkey) AS f2,
           typeof(r_name) AS t1,
           typeof(r_regionkey) AS t2,
           typeof([1, 2]) AS t3,
           bar(r_regionkey, 0, 4, 10) AS b
    FROM region ORDER BY r_regionkey
    """,
)

# UNION column type (tagged union): struct<__utag, members...> encoding
# Spark-side (types.py), union_value/union_tag/union_extract rewrites,
# INSERT widens single-member values to the declared shape. The oracle is
# the same multi-statement text run natively by DuckDB (union_tag cast to
# VARCHAR: DuckDB returns an ENUM, Spark a plain string).
_sql(
    "q85_union_type",
    """
    CREATE OR REPLACE TABLE u_demo (id INTEGER, u UNION(num INTEGER, s VARCHAR));
    INSERT INTO u_demo VALUES (1, union_value(num := 42)),
                              (2, union_value(s := 'hello')),
                              (3, union_value(num := 7));
    SELECT id, CAST(union_tag(u) AS VARCHAR) AS tag,
           union_extract(u, 'num') AS num_val,
           union_extract(u, 's') AS str_val,
           u.num AS dot_num
    FROM u_demo ORDER BY id
    """,
)

# ASOF JOIN as SQL (session._asof_rewrite -> operators/asof.py union+window
# plan): DuckDB runs the identical text natively as the oracle.
_sql(
    "q86_asof_join_sql",
    """
    SELECT o.o_orderkey, o.o_custkey, round(e.value, 4) AS ev,
           e.ts AS matched_ts
    FROM orders o ASOF LEFT JOIN events e
      ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
    WHERE o.o_custkey <= 500
    ORDER BY o.o_orderkey
    """,
)

# DuckDB list comprehensions -> transform/filter higher-order functions
# (rewrites.pass_list_comprehensions); DuckDB runs the same text natively.
_sql(
    "q87_list_comprehension",
    """
    SELECT n_nationkey,
           to_json([x * 2 FOR x IN [1, 2, n_nationkey] IF x > 1]) AS dbl,
           array_to_string([upper(p) FOR p IN string_split(n_name, '_')], '|')
               AS parts_up
    FROM nation ORDER BY n_nationkey
    """,
)

# CREATE MACRO: stored expression templates, inline-expanded (DuckDB docs
# "macros"; not used by dev.json but part of the everyday dialect). Same
# multi-statement text runs verbatim on the DuckDB oracle.
_sql(
    "q84_create_macro",
    """
    CREATE OR REPLACE MACRO disc_price(p, d) AS p * (1 - d);
    CREATE OR REPLACE MACRO taxed(p, d, t) AS disc_price(p, d) * (1 + t);
    SELECT l_returnflag,
           round(sum(disc_price(l_extendedprice, l_discount)), 2) AS revenue,
           round(sum(taxed(l_extendedprice, l_discount, l_tax)), 2) AS taxed_rev
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

# INSERT ... ON CONFLICT DO UPDATE (upsert) keyed on a declared PRIMARY
# KEY — session._apply_conflict_insert runs it as one shuffled join pass.
# DuckDB executes the identical multi-statement text natively.
_sql(
    "q88_upsert_on_conflict",
    """
    CREATE OR REPLACE TABLE upsert_t (
        k INTEGER PRIMARY KEY, cnt BIGINT, total DECIMAL(18,2));
    INSERT INTO upsert_t
      SELECT o_custkey, count(*), CAST(sum(o_totalprice) AS DECIMAL(18,2))
      FROM orders WHERE o_custkey <= 100 GROUP BY o_custkey;
    INSERT INTO upsert_t
      SELECT o_custkey, count(*), CAST(sum(o_totalprice) AS DECIMAL(18,2))
      FROM orders WHERE o_custkey BETWEEN 51 AND 150 GROUP BY o_custkey
      ON CONFLICT (k) DO UPDATE
      SET cnt = cnt + excluded.cnt, total = total + excluded.total;
    SELECT k, cnt, CAST(total AS DOUBLE) AS total
    FROM upsert_t ORDER BY k
    """,
)

# Sequences: serial counter objects; scalar nextval/currval occurrences
# advance per call (session._expand_sequence_calls). Identical text on
# DuckDB; the INSERT row count then drives the FROM-rowset advance.
_sql(
    "q89_sequence_ids",
    """
    DROP SEQUENCE IF EXISTS reg_seq;
    CREATE SEQUENCE reg_seq START 100 INCREMENT 3;
    CREATE OR REPLACE TABLE seq_t (a BIGINT, b BIGINT);
    INSERT INTO seq_t VALUES (nextval('reg_seq'), nextval('reg_seq')),
                             (nextval('reg_seq'), nextval('reg_seq'));
    INSERT INTO seq_t VALUES (nextval('reg_seq'), currval('reg_seq'));
    SELECT a, b FROM seq_t ORDER BY a
    """,
)

# MERGE INTO (DuckDB 1.4 statement; operators/merge.py single-pass plan).
# The container's DuckDB predates MERGE, so the oracle states the same
# semantics as pure relational algebra: matched-update ∪ kept ∪ inserts.
_sql(
    "q90_merge_upsert",
    """
    CREATE OR REPLACE TABLE m_tgt AS
      SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer WHERE c_custkey <= 200;
    MERGE INTO m_tgt USING (
        SELECT o_custkey AS k, CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS spend
        FROM orders WHERE o_custkey <= 300 GROUP BY o_custkey) s
      ON m_tgt.k = s.k
      WHEN MATCHED THEN UPDATE SET bal = m_tgt.bal + s.spend
      WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.k, s.spend);
    SELECT k, CAST(bal AS DOUBLE) AS bal FROM m_tgt ORDER BY k
    """,
    oracle="""
    WITH t AS (SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
               FROM customer WHERE c_custkey <= 200),
         s AS (SELECT o_custkey AS k,
                      CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS spend
               FROM orders WHERE o_custkey <= 300 GROUP BY o_custkey)
    SELECT k, CAST(bal AS DOUBLE) AS bal FROM (
        SELECT t.k AS k, t.bal + s.spend AS bal FROM t JOIN s ON t.k = s.k
        UNION ALL
        SELECT t.k, t.bal FROM t
        WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = t.k)
        UNION ALL
        SELECT s.k, CAST(s.spend AS DECIMAL(19,2)) FROM s
        WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.k = s.k)
    ) ORDER BY k
    """,
)


# Window-frame EXCLUDE CURRENT ROW (rewrites.pass_window_exclude: framed
# aggregate minus the current row, one window pass) and windowed median
# (pass_windowed_median: sorted frame collect). Identical text on DuckDB.
_sql(
    "q91_window_exclude_median",
    """
    SELECT o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               EXCLUDE CURRENT ROW), 2) AS neighbor_sum,
           count(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               EXCLUDE CURRENT ROW) AS neighbor_n,
           round(median(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS med3
    FROM orders
    WHERE o_custkey <= 200
    ORDER BY o_orderkey
    """,
)


# Nested-struct battery: struct_insert (struct(s.*, ..) expansion),
# struct_extract by name and by position, struct unnest (inline), and a
# COLUMNS(lambda) projection. Identical text runs on DuckDB.
_sql(
    "q92_struct_battery",
    """
    SELECT n_nationkey,
           struct_extract(s, 'key') AS k1,
           struct_insert(s, extra := n_regionkey).extra AS k2,
           struct_extract(row(n_nationkey, n_name), 2) AS k3
    FROM (
        SELECT n_nationkey, n_regionkey, n_name,
               {'key': n_nationkey, 'name': n_name} AS s
        FROM nation
    ) t
    ORDER BY n_nationkey
    """,
)

# COLUMNS with a lambda predicate (rewrite-time evaluation against the
# resolved column list); DuckDB evaluates the same lambda natively.
_sql(
    "q93_columns_lambda",
    """
    SELECT COLUMNS(c -> c LIKE 'l_ship%') FROM lineitem
    ORDER BY ALL LIMIT 50
    """,
)

# sweep-wave-3 dialect edges: unicode chr, byte strlen, substr position 0,
# NULL-identity list_concat, step slices (both directions, negative
# bounds), floor-semantics date_trunc fields, seconds-inclusive
# milliseconds, rounding TRY_CAST, zero timezone parts. Array outputs are
# stringified so the driver canonicalizer can sort+hash.
_sql(
    "q94_dialect_edges",
    """
    SELECT n_nationkey,
           chr(65 + n_nationkey % 26) AS ch,
           strlen(n_name) AS nbytes,
           substr(n_name, 0, 4) AS s0,
           array_to_string(list_concat([n_nationkey], NULL), ',') AS lc,
           array_to_string([1,2,3,4,5][-4:-1:2], ',') AS sl_fwd,
           array_to_string([1,2,3,4,5][5:0:-2], ',') AS sl_rev,
           date_trunc('decade', DATE '2004-05-04') AS dec_start,
           date_trunc('century', DATE '2024-05-04') AS cen_start,
           extract(milliseconds FROM TIMESTAMP '2024-01-01 00:00:01.5')
             AS ms_in_min,
           TRY_CAST('3.7' AS INTEGER) AS tc_round,
           timezone_hour(TIMESTAMP '2024-01-01 00:00:01') AS tzh,
           (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))
                ORDER BY o_orderkey) AS DOUBLE) FROM orders) AS ordered_sum
    FROM nation ORDER BY n_nationkey
    """,
)

# sweep-wave-6: GROUPING SETS with multi-arg grouping() bitmasks
_sql(
    "q95_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag, l_linestatus) AS gmask,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus), ())
    ORDER BY ALL
    """,
)

# FILTER on window aggregates + correlated FROM-list unnest (implicit
# lateral); the unnest fans each order into its two price buckets
_sql(
    "q96_window_filter_lateral",
    """
    SELECT o_orderkey, e AS bucket_price,
           count(*) FILTER (WHERE o_totalprice > 100000)
               OVER (PARTITION BY o_orderpriority) AS n_big,
           sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F')
               OVER (PARTITION BY o_orderpriority
                     ORDER BY o_orderkey, e
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS run_f
    FROM orders, unnest([round(o_totalprice, 0),
                         round(o_totalprice / 2, 0)]) AS u(e)
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey, bucket_price
    """,
)

# type-preserving discrete quantiles: INTEGER stays INTEGER (scalar,
# list form, WITHIN GROUP), plus ordered any_value
_sql(
    "q97_quantile_types",
    """
    SELECT l_linenumber,
           quantile_disc(CAST(l_quantity AS INTEGER), 0.25) AS q25,
           percentile_disc(0.5) WITHIN GROUP (
               ORDER BY CAST(l_quantity AS INTEGER)) AS med,
           array_to_string(quantile(CAST(l_quantity AS INTEGER),
                                    [0.1, 0.9]), ',') AS deciles,
           any_value(l_returnflag ORDER BY l_orderkey, l_returnflag) AS first_mode
    FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
    """,
)


# --- classic TPC-H query block (q98-q105) ---------------------------------
# The canonical decision-support workload, adapted to the driver's table
# subset (no partsupp/l_commitdate/c_phone; see each query's note).
# Float discipline: every double aggregate is round()ed on both sides;
# Q14's ratio uses rounded intermediate sums so distributed accumulation
# order cannot flip the final rounding.

_sql(
    "q98_tpch_q3",  # shipping priority (o_shippriority column absent)
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1997-03-15'
      AND l_shipdate > DATE '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
    """,
)

_sql(
    "q99_tpch_q5",  # local supplier volume
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1998-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)

_sql(
    "q100_tpch_q6",  # forecast revenue change
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)

_sql(
    "q101_tpch_q10",  # returned item reporting
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-10-01'
      AND o_orderdate < DATE '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)

_sql(
    "q102_tpch_q13",  # customer distribution (o_comment filter absent)
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey) c_orders
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)

_sql(
    "q103_tpch_q14",  # promotion effect (p_type is the bare family name)
    """
    SELECT round(100.00 * round(sum(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount)
                     ELSE 0 END), 2)
                 / round(sum(l_extendedprice * (1 - l_discount)), 2),
                 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01'
      AND l_shipdate < DATE '1996-10-01'
    """,
)

_sql(
    "q104_tpch_q18",  # large volume customers
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total,
           round(sum(l_quantity), 2) AS qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY total DESC, o_orderdate, o_orderkey LIMIT 20
    """,
)

_sql(
    "q105_tpch_q22",  # global sales opportunity (cntrycode from custkey,
    """
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (SELECT CAST(c_custkey % 7 AS VARCHAR) AS cntrycode, c_acctbal
          FROM customer
          WHERE c_custkey % 7 IN (1, 3, 5)
            AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                             WHERE c_acctbal > 0.00)
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_totalprice > 450000)) custsale
    GROUP BY cntrycode ORDER BY cntrycode
    """,
)

_sql(
    "q106_tpch_q4",  # order priority checking (l_commitdate absent:
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01'
      AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

_sql(
    "q108_tpch_q7",  # volume shipping between two nations
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                 OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

_sql(
    "q109_tpch_q8",  # national market share
    """
    SELECT o_year,
           round(round(sum(CASE WHEN nation = 'NATION_5' THEN volume
                               ELSE 0 END), 2)
                 / round(sum(volume), 2), 4) AS mkt_share
    FROM (SELECT year(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
            AND o_orderdate BETWEEN DATE '1996-01-01'
                                AND DATE '1997-12-31'
         ) all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)

_sql(
    "q110_tpch_q15",  # top supplier (view expressed as a CTE)
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)

_sql(
    "q111_tpch_q17",  # small-quantity-order revenue (correlated avg)
    """
    SELECT round(round(sum(l_extendedprice), 2) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)

_sql(
    "q112_tpch_q19",  # discounted revenue (OR'd multi-predicate join;
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)

_sql(
    "q107_tpch_q12",  # shipping modes (l_shipmode absent: returnflag
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           OR o_orderpriority = '2-HIGH'
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                          AND o_orderpriority <> '2-HIGH'
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)


# PostgreSQL operator spellings DuckDB accepts (probed on 1.0): ~~ LIKE,
# !~~ NOT LIKE, ~~* ILIKE, ^@ starts_with, << >> bit shifts; plus cot/
# factorial (factorial returns HUGEINT -> cast for the driver's
# fetchdf float64 rendering). Identical text runs on the DuckDB oracle.
_sql(
    "q113_pg_operators",
    """
    SELECT n_nationkey,
           n_name ~~ 'NATION_1%' AS like_op,
           n_name !~~ 'NATION_1%' AS nlike_op,
           n_name ~~* 'nation_1%' AS ilike_op,
           n_name ^@ 'NATION_1' AS sw_op,
           n_nationkey << 2 AS shl,
           n_nationkey >> 1 AS shr,
           round(cot(n_nationkey + 1.5), 6) AS cot_v,
           CAST(factorial(n_nationkey % 6) AS BIGINT) AS fact
    FROM nation ORDER BY n_nationkey
    """,
)

# fixed-size ARRAY function spellings -> the list twins (the engine types
# DuckDB ARRAY(T, n) as array<T>). array_zip is unit-tested only (struct
# rendering differs between the two fetch layers). ap/aw/ar are projected
# through array_to_json: the driver canonicalizer pandas-sorts the fetched
# frame and raw LIST cells crash it with "unhashable type: numpy.ndarray"
# (r6's one red row) — JSON text hashes identically on both engines.
_sql(
    "q114_array_spellings",
    """
    SELECT n_nationkey,
           array_to_json([n_nationkey, n_regionkey]) AS aj,
           array_to_json(array_apply([n_nationkey, 2], x -> x * 2)) AS ap,
           array_to_json(array_where([n_nationkey, 7, 9],
                                     [true, false, true])) AS aw,
           array_to_json(array_resize([n_nationkey, 1], 4)) AS ar,
           round(array_cosine_similarity(
               array_value(1.0, 2.0, CAST(n_nationkey AS DOUBLE)),
               array_value(2.0, 1.0, 3.0)), 4) AS acs,
           array_inner_product(
               array_value(1.0, CAST(n_regionkey AS DOUBLE)),
               array_value(3.0, 4.0)) AS aip
    FROM nation ORDER BY n_nationkey
    """,
)


# DuckDB from_json/json_transform: structure-by-example literals ->
# parse-then-cast (rewrites._from_json_template; quoted scalars coerce,
# bad casts NULL — DuckDB's lax rule). Identical text on the oracle.
_sql(
    "q115_from_json",
    """
    SELECT n_nationkey,
           from_json('{"a":' || n_nationkey || ',"b":"x"}',
                     '{"a":"INTEGER","b":"VARCHAR"}').a AS a,
           json_transform('{"v":"' || n_nationkey || '7"}',
                          '{"v":"BIGINT"}').v AS v,
           json_transform('{"v":"oops"}', '{"v":"INTEGER"}').v AS bad
    FROM nation ORDER BY n_nationkey
    """,
)


# ENUM battery: enum_first/last/range/code introspection + the member-
# CODE ordering rule (DuckDB sorts enums by declaration order, not text
# — pass_enum_functions rewrites bare enum ORDER BY items). Identical
# multi-statement text runs on the DuckDB oracle.
_sql(
    "q116_enum_battery",
    """
    DROP TABLE IF EXISTS enum_t;
    DROP TYPE IF EXISTS mood6;
    CREATE TYPE mood6 AS ENUM ('sad', 'ok', 'happy');
    CREATE TABLE enum_t (m mood6, x INTEGER);
    INSERT INTO enum_t VALUES ('ok', 1), ('sad', 2), ('happy', 3), ('ok', 4);
    SELECT m, enum_code(m) AS code, enum_first(m) AS f,
           enum_last(NULL::mood6) AS l,
           array_to_string(enum_range(NULL::mood6), '|') AS rng, x
    FROM enum_t ORDER BY m DESC, x
    """,
)


# ---------------------------------------------------------------------------
# TPC-H breadth (round 7): the driver testdata ships no partsupp table and
# lineitem lacks l_commitdate/l_receiptdate/l_shipmode — the canonical
# Q2/Q9/Q11/Q16/Q20/Q21 shapes (and Q12's full predicate) need them. Rather
# than generating new files (the driver dirs are READ-ONLY), each query
# derives the missing data DETERMINISTICALLY from the existing tables with
# pure integer/date arithmetic that evaluates bit-identically on Spark and
# DuckDB (verified: +,*,% on BIGINT; date+INT day add; CASE). The same
# derivation text runs on both engines, so the driver's value-hash compare
# is exact, and it works at every scale factor including sf1/sf10 perf
# runs — no generator change needed.
# ---------------------------------------------------------------------------

# partsupp: the distinct (partkey, suppkey) pairs observed in lineitem —
# referential integrity with lineitem by construction, exactly like real
# TPC-H partsupp (every lineitem pair exists in partsupp), so Q9/Q20's
# lineitem⋈partsupp joins are non-degenerate. supplycost/availqty are
# modular arithmetic on the pair keys: deterministic, engine-identical,
# valid at every scale factor.
_PARTSUPP_CTE = """partsupp AS (
    SELECT DISTINCT
           l_partkey AS ps_partkey,
           l_suppkey AS ps_suppkey,
           (l_partkey * 37 + l_suppkey * 41) % 9999 + 1 AS ps_availqty,
           CAST((l_partkey * 31 + l_suppkey * 7) % 100000 AS DOUBLE)
               / 100.0 + 1.0 AS ps_supplycost
    FROM lineitem
)"""

# lineitem extension: commit/receipt dates offset from l_shipdate by a
# key-derived day count; ship mode from a 7-way key hash.
_LINEITEM_EXT_CTE = """lx AS (
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount,
           CAST(l_shipdate AS DATE) AS l_shipdate_d,
           CAST(l_shipdate AS DATE)
               + CAST((l_orderkey * 7 + l_linenumber * 11) % 61 - 30 AS INT)
               AS l_commitdate,
           CAST(l_shipdate AS DATE)
               + CAST((l_orderkey * 3 + l_linenumber * 5) % 28 + 1 AS INT)
               AS l_receiptdate,
           CASE CAST((l_orderkey * 3 + l_linenumber) % 7 AS INT)
               WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
               WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
               ELSE 'REG AIR' END AS l_shipmode
    FROM lineitem
)"""


# TPC-H Q2: min-cost supplier per part in a region — correlated scalar
# subquery over the shared partsupp CTE (reference protocol exercises the
# same shape class; eval/evaluate.py runs arbitrary SELECTs).
_sql(
    "q117_tpch_q2_min_cost_supplier",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           round(ps_supplycost, 2) AS ps_cost
    FROM part, partsupp, supplier, nation, region
    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      AND p_size IN (3, 14, 23) AND p_type = 'ECONOMY'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
          SELECT min(ps2.ps_supplycost)
          FROM partsupp ps2, supplier s2, nation n2, region r2
          WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 10
    """,
)

# TPC-H Q9: product-type profit by nation and year.
_sql(
    "q118_tpch_q9_profit",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - ps_supplycost * l_quantity AS amount
        FROM part, supplier, lineitem, partsupp, orders, nation
        WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
          AND ps_partkey = l_partkey AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

# TPC-H Q11: important stock — HAVING against a scalar-subquery fraction
# of the national total.
_sql(
    "q119_tpch_q11_important_stock",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT ps_partkey,
           round(sum(ps_supplycost * ps_availqty), 2) AS stock_value
    FROM partsupp, supplier, nation
    WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name = 'NATION_7'
    GROUP BY ps_partkey
    HAVING sum(ps_supplycost * ps_availqty) > (
        SELECT avg(ps_supplycost * ps_availqty) * 1.5
        FROM partsupp, supplier, nation
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_7')
    ORDER BY stock_value DESC, ps_partkey
    """,
)

# TPC-H Q16: parts/supplier relationship — count(DISTINCT) with a NOT IN
# anti-join on a LIKE-filtered supplier set.
_sql(
    "q120_tpch_q16_parts_supplier",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#3' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_name LIKE '%009%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

# TPC-H Q20: potential part promotion — nested IN subqueries, the inner
# one a correlated scalar half-sum over lineitem.
_sql(
    "q121_tpch_q20_promotion",
    f"""
    WITH {_PARTSUPP_CTE}
    SELECT s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND ps_availqty > (
            SELECT 0.5 * sum(l_quantity) FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'))
      AND s_nationkey = n_nationkey
      AND n_regionkey = (SELECT r_regionkey FROM region
                         WHERE r_name = 'ASIA')
    ORDER BY s_name
    """,
)

# TPC-H Q21: suppliers who kept orders waiting — EXISTS/NOT EXISTS
# self-joins over the derived commit/receipt dates.
_sql(
    "q122_tpch_q21_waiting_orders",
    f"""
    WITH {_LINEITEM_EXT_CTE}
    SELECT s_name, count(*) AS numwait
    FROM supplier, lx l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (
          SELECT 1 FROM lx l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lx l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_receiptdate > l3.l_commitdate)
      AND s_nationkey = n_nationkey
      AND n_regionkey = (SELECT r_regionkey FROM region
                         WHERE r_name = 'AMERICA')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)

# TPC-H Q12 with the FULL canonical predicate (q107 carries only the
# priority split): ship-mode filter + the commit<receipt<ship sandwich
# over the derived columns.
_sql(
    "q123_tpch_q12_full_predicate",
    f"""
    WITH {_LINEITEM_EXT_CTE}
    SELECT l_shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lx
    WHERE o_orderkey = l_orderkey
      AND l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND l_shipdate_d < l_commitdate
      AND l_receiptdate >= DATE '1996-01-01'
      AND l_receiptdate < DATE '1997-01-01'
    GROUP BY l_shipmode
    ORDER BY l_shipmode
    """,
)


# PIVOT statement form as a CTE source (round 7: _inline_pivot_subqueries
# materializes (PIVOT ...) bodies eagerly, like DuckDB's dynamic-PIVOT
# bind pass). Counts cast to BIGINT in both texts for the render-kind
# match. Identical text runs on the DuckDB oracle.
_sql(
    "q124_pivot_statement",
    """
    WITH p AS (PIVOT orders ON o_orderstatus USING count(*)
               GROUP BY o_orderpriority)
    SELECT o_orderpriority, CAST(F AS BIGINT) AS f_cnt,
           CAST(O AS BIGINT) AS o_cnt, CAST(P AS BIGINT) AS p_cnt
    FROM p ORDER BY o_orderpriority
    """,
)

# UNPIVOT over a derived table, default INTO NAME name VALUE value.
_sql(
    "q125_unpivot_statement",
    """
    SELECT name, CAST(value AS BIGINT) AS v
    FROM (UNPIVOT (
            SELECT CAST(sum(CASE WHEN o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS f,
                   CAST(sum(CASE WHEN o_orderstatus = 'O'
                             THEN 1 ELSE 0 END) AS BIGINT) AS o,
                   CAST(sum(CASE WHEN o_orderstatus = 'P'
                             THEN 1 ELSE 0 END) AS BIGINT) AS p
            FROM orders) ON f, o, p)
    ORDER BY name
    """,
)

# Temporal series with a COMPOSITE interval step (round-7 ADVICE: step
# direction must be decided at runtime, not off '-' in the rendered
# text — INTERVAL '2' DAY - INTERVAL '1' DAY is positive). Identical
# text runs on the DuckDB oracle.
_sql(
    "q126_series_step_arith",
    """
    SELECT CAST(s.generate_series AS DATE) AS day,
           count(e.event_id) AS n_events
    FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                         TIMESTAMP '2024-01-15 00:00:00',
                         INTERVAL '2' DAY - INTERVAL '1' DAY) s
    LEFT JOIN events e
      ON CAST(e.ts AS DATE) = CAST(s.generate_series AS DATE)
    GROUP BY day
    ORDER BY day
    """,
)

# TIME type battery (Spark 4.1 TIME behind timeType.enabled — round 8
# closes the last documented type-family gap): literals, make_time with
# fractional seconds, TIMESTAMP->TIME extraction, extract over TIME,
# TIME comparison, min/max ordering. Everything TIME-valued is projected
# through VARCHAR (both engines trim trailing fraction zeros
# identically); identical text runs on the DuckDB oracle.
_sql(
    "q127_time_type",
    """
    SELECT CAST(CAST(ts AS TIME) AS VARCHAR) AS t_str,
           CAST(make_time(CAST(event_id % 24 AS BIGINT),
                          CAST(event_id % 60 AS BIGINT),
                          CAST(event_id % 60 AS BIGINT) + 0.25)
                AS VARCHAR) AS mt_str,
           extract(hour FROM CAST(ts AS TIME)) AS h,
           CAST(ts AS TIME) < TIME '12:00:00' AS am
    FROM events
    ORDER BY event_id
    LIMIT 100
    """,
)

# --- POSITIONAL JOIN with alias-qualified refs + b.* expansion (DuckDB
# row-zip; both sides ordered subqueries so the zip is deterministic in
# both engines). The left side is one row longer, so the NULL padding of
# the full-positional semantics is exercised too.
_sql(
    "q128_positional_join",
    """
    SELECT a.n_name, b.r_name,
           coalesce(b.r_regionkey, -1) AS rk
    FROM (SELECT n_name FROM nation ORDER BY n_name LIMIT 4) a
    POSITIONAL JOIN
         (SELECT r_name, r_regionkey FROM region
          ORDER BY r_name LIMIT 3) b
    ORDER BY a.n_name
    """,
)

# --- GROUP BY CUBE + GROUPING() (DuckDB cube lattice; native Spark) ------
_sql(
    "q129_cube_grouping",
    """
    SELECT n_regionkey, n_nationkey % 2 AS parity,
           grouping(n_regionkey) AS g_r, grouping(n_nationkey % 2) AS g_p,
           CAST(count(*) AS BIGINT) AS n
    FROM nation
    GROUP BY CUBE(n_regionkey, n_nationkey % 2)
    ORDER BY ALL
    """,
)

# --- VALUES as a FROM-clause relation with column aliases ----------------
_sql(
    "q130_values_relation",
    """
    SELECT t.s, t.i * 10 AS i10, n.n_name
    FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma')) t(i, s)
    JOIN nation n ON n.n_nationkey = t.i
    ORDER BY t.i
    """,
)

# --- TABLESAMPLE spelling of reservoir sampling (same clause family as
# USING SAMPLE; reservoir draws an EXACT llround(p*n) count in both
# engines, so count(*) over it is a hard oracle like q34b) -----------------
_sql(
    "q131_tablesample_reservoir",
    "SELECT count(*) AS n FROM "
    "(SELECT * FROM lineitem TABLESAMPLE reservoir(10%)) t",
)

# --- PIVOT with an explicit IN value list + multiple AS-aliased
# aggregates + GROUP BY (DuckDB suffixes pivot columns with the alias;
# DECIMAL sums keep the cells order-independent for the hash gate) -----
# engine text casts the exact DECIMAL sum to DOUBLE inside USING (Spark
# allows a cast around the aggregate); DuckDB's binder requires a BARE
# aggregate there, so the oracle wraps the pivot and casts outside —
# same exact-decimal -> double value either way
_sql(
    "q133_pivot_in_values",
    """
    PIVOT orders ON o_orderstatus IN ('F', 'O')
    USING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
          count(*) AS n
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    oracle="""
    SELECT o_orderpriority,
           CAST("F_s" AS DOUBLE) AS F_s, "F_n" AS F_n,
           CAST("O_s" AS DOUBLE) AS O_s, "O_n" AS O_n
    FROM (PIVOT orders ON o_orderstatus IN ('F', 'O')
          USING sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                count(*) AS n
          GROUP BY o_orderpriority)
    ORDER BY o_orderpriority
    """,
)

# --- time-rollup lattice: week -> (week, day) -> grand total in ONE
# GROUPING SETS pass over event time (the multi-granularity dashboard
# rollup; DECIMAL-exact value sums emitted as DOUBLE) ----------------------
_sql(
    "q134_time_rollup_lattice",
    """
    SELECT date_trunc('week', ts) AS wk,
           date_trunc('day', ts) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value, 4) AS DECIMAL(14,4))) AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('week', ts)),
                            (date_trunc('week', ts), date_trunc('day', ts)),
                            ())
    ORDER BY ALL
    """,
)

# --- table macros (CREATE MACRO ... AS TABLE): a stored query template
# expanded inline in FROM position, DuckDB's parameterized-view form ----
_sql(
    "q132_table_macro",
    """
    CREATE OR REPLACE MACRO nation_of(rk) AS TABLE
        SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = rk;
    SELECT a.n_name, CAST(count(*) AS BIGINT) AS n_cust
    FROM nation_of(1) a JOIN customer c ON c.c_nationkey = a.n_nationkey
    GROUP BY a.n_name ORDER BY a.n_name
    """,
)

_sql(
    "q135_exclude_replace",
    # combined star options on ONE star (DuckDB allows EXCLUDE then
    # REPLACE; round-10 probe found the combo unhandled — each clause
    # alone worked). Expanded via catalog resolution in
    # pass_star_replace with the excluded columns dropped.
    """
    SELECT * EXCLUDE (o_orderdate)
           REPLACE (round(o_totalprice / 1000, 2) AS o_totalprice)
    FROM orders ORDER BY o_orderkey LIMIT 20
    """,
)

_sql(
    "q140_trailing_commas",
    # DuckDB friendly-SQL trailing commas (select list before FROM,
    # GROUP BY before ORDER, IN lists, list literals) — round-11 probe
    # find; pass_trailing_commas drops the dangling comma wherever the
    # next significant token is a closer or clause keyword.
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS s,
           [10, 20, ][2] AS mark2,
    FROM orders
    WHERE o_orderstatus IN ('F', 'O',)
    GROUP BY o_orderstatus,
    ORDER BY o_orderstatus
    """,
)

_sql(
    "q141_mixed_interval",
    # DuckDB's single INTERVAL type mixes month and day components in
    # one literal; Spark's ANSI intervals are ym XOR dt. Round-11 probe
    # find: pass_mixed_interval_literal splits the literal at the
    # family boundary and distributes the +/- operator (value-preserving
    # left-assoc order; month applied before day like DuckDB).
    """
    SELECT o_orderkey,
           o_orderdate + INTERVAL '1 month 10 days' AS due,
           o_orderdate - INTERVAL '2 months 3 days' AS lookback
    FROM orders WHERE o_custkey <= 100
    ORDER BY o_orderkey LIMIT 50
    """,
)

_sql(
    "q142_macro_defaults",
    # DuckDB macro `p := default` parameters (round-11 probe find):
    # positional params stay positional-only, defaulted params are
    # named-only — both pinned to DuckDB's binder behavior. Table-macro
    # form covered by the same machinery (one defaults namespace).
    """
    CREATE OR REPLACE MACRO price_band(p, width := 50000) AS
        CAST(p / width AS INTEGER);
    SELECT price_band(o_totalprice) AS band,
           price_band(o_totalprice, width := 100000) AS wide_band,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY band, wide_band ORDER BY band, wide_band
    """,
)

_sql(
    "q143_describe_relation",
    # DuckDB treats DESCRIBE as a relation usable in FROM (round-11
    # probe find): _expand_describe_relations executes the
    # introspection and substitutes its (bounded, one-row-per-column)
    # result as a derived table.
    """
    SELECT column_name, column_type
    FROM (DESCRIBE SELECT o_orderkey, o_totalprice, o_orderdate
          FROM orders)
    ORDER BY column_name
    """,
)

_sql(
    "q144_columns_star_agg",
    # Function-wrapped COLUMNS(* [EXCLUDE ...]) expands to one call PER
    # column (round-11 probe find: the old unconditional star unwrap
    # produced min(a, b, c) arity errors). EXCLUDE arrives as EXCEPT
    # from the earlier star pass; both spellings accepted.
    """
    SELECT min(COLUMNS(* EXCLUDE (o_orderstatus, o_orderpriority,
                                  o_orderdate)))
    FROM orders
    """,
)

_sql(
    "q145_lexical_forms",
    # Round-11 lexical probe finds in one statement: dollar-quoted
    # strings (lossless single token through statement splitting, then
    # normalized), digit-group underscores in numeric literals, and
    # OFFSET-before-LIMIT clause order.
    """
    SELECT o_orderkey,
           $$priority: 'high'$$ AS tag,
           o_totalprice < 1_000_000 AS affordable
    FROM orders
    ORDER BY o_orderkey OFFSET 5 LIMIT 20
    """,
)

_sql(
    "q146_percent_limit_subquery",
    # LIMIT p% / LIMIT p PERCENT inside a subquery (round-11 probe
    # find: only the statement-tail % spelling was handled). The body
    # count is computed at plan time — build-time data, never cached.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM (SELECT o_totalprice FROM orders
          ORDER BY o_orderkey LIMIT 20 PERCENT) t
    """,
)

_sql(
    "q147_lateral_limit",
    # Correlated LATERAL + top-level LIMIT (round-12: the row_number()
    # rewrite the round-11 guard prescribed — Spark's decorrelate-limit
    # silently returns empty for the raw shape; pass_lateral_limit
    # rewrites the body to a rank filter Spark decorrelates correctly,
    # adding the correlation key to the window partition). Covers both
    # directions (top-2 ascending, top-1 by price descending w/ OFFSET).
    """
    SELECT n.n_name, top2.o_orderkey, nxt.o_orderkey AS second_priciest
    FROM nation n,
         LATERAL (SELECT o_orderkey FROM orders
                  WHERE o_custkey = n.n_nationkey
                  ORDER BY o_orderkey LIMIT 2) top2,
         LATERAL (SELECT o_orderkey FROM orders
                  WHERE o_custkey = n.n_nationkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 1 OFFSET 1) nxt
    ORDER BY n.n_name, top2.o_orderkey
    """,
)

_sql(
    "q157_array_agg_distinct",
    # array_agg/list(DISTINCT x ORDER BY x [DESC]) + NULL ORDER keys
    # sorting LAST in both directions (round-12 probe finds: the
    # ordered collect path choked on DISTINCT, and Spark's struct sort
    # put null keys FIRST ascending — both fixed).
    """
    SELECT o_orderstatus AS st,
           to_json(array_agg(DISTINCT o_orderpriority
                             ORDER BY o_orderpriority)) AS pris,
           to_json(array_agg(DISTINCT o_orderpriority
                             ORDER BY o_orderpriority DESC))
               AS pris_desc,
           string_agg(DISTINCT o_orderpriority, '|'
                      ORDER BY o_orderpriority) AS joined
    FROM orders WHERE o_orderkey < 500
    GROUP BY o_orderstatus ORDER BY st
    """,
)

_sql(
    "q158_recursive_union",
    # WITH RECURSIVE ... UNION (deduplicating) — round-12: Spark 4.1's
    # native UnionLoop only supports UNION ALL, so the engine runs the
    # fixpoint loop itself (frontier = previous iteration's new rows,
    # set-minus against the accumulator, localCheckpoint per round so
    # the plan never doubles). The step cycles k -> (2k+1) mod 21 until
    # dedup closes the orbit — non-terminating under UNION ALL — and a
    # trailing CTE + base-table join consume the fixpoint.
    """
    WITH RECURSIVE reach(k) AS (
        SELECT 0
        UNION
        SELECT (k * 2 + 1) % 21 FROM reach
    ), sz AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM reach
    )
    SELECT r.k AS k, n.n_name AS n_name, s.n_nodes AS n_nodes
    FROM reach r JOIN nation n ON n.n_nationkey = r.k CROSS JOIN sz s
    ORDER BY k
    """,
)

_sql(
    "q159_unnest_zip",
    # Multiple select-list unnests ZIP positionally with NULL padding
    # (round-12: Spark cross-products its generators — the zip pass
    # folds them into one inline(arrays_zip(...)) per select block).
    """
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
    FROM documents WHERE doc_id < 5
    ORDER BY doc_id, pos
    """,
)

_sql(
    "q160_timestamptz_time_arith",
    # TIMESTAMPTZ literal/cast spellings (normalize to TIMESTAMP under
    # the UTC-pinned session), DATE + TIME composition, and native
    # TIME + INTERVAL incl. the midnight WRAP via the epoch-anchor
    # rewrite (round-12; was a documented loud divergence).
    """
    SELECT o_orderkey,
           CAST(TIMESTAMPTZ '2024-06-01 10:00:00+02' AS TIMESTAMP)
               AS tz_instant,
           CAST(o_orderdate + INTERVAL 1 DAY AS TIMESTAMP) AS next_day,
           CAST(DATE '2024-01-01' + TIME '10:30:00' AS TIMESTAMP)
               AS composed,
           CAST(TIME '10:00:00' + INTERVAL 90 MINUTE AS VARCHAR)
               AS plus90,
           CAST(TIME '23:00:00' + INTERVAL 90 MINUTE AS VARCHAR)
               AS wrapped
    FROM orders WHERE o_orderkey < 10 ORDER BY o_orderkey
    """,
)

_sql(
    "q161_scalar_surface_r12",
    # Round-12 probe-batch scalar surface: postfix factorial, SIMILAR
    # TO / NOT SIMILAR TO (full-match regex), and FILTER on the
    # null-keeping list() rewrite incl. DuckDB's NULL (not []) result
    # for an empty filtered group.
    """
    SELECT n_name,
           CAST((n_nationkey % 6)! AS BIGINT) AS fact,
           n_name SIMILAR TO 'NATION_[0-9]+' AS sim,
           n_name NOT SIMILAR TO '.*[02468]' AS odd_tail,
           to_json(list(n_regionkey ORDER BY n_regionkey)
                   FILTER (n_regionkey > 1)) AS big_regions
    FROM nation GROUP BY n_name, n_nationkey ORDER BY n_name
    """,
)

_sql(
    "q156_window_exclude_rows",
    # EXCLUDE GROUP/TIES over ROWS frames (round-12: collected-frame
    # fold — peers may lie outside a ROWS frame, so the RANGE
    # subtraction form over-corrects) + the TIES retain-current rule
    # and the CURRENT ROW no-op on non-containing frames. Deterministic:
    # o_orderpriority is constant within each peer group of itself.
    """
    SELECT o_orderpriority AS pri,
           CAST(count(*) OVER (ORDER BY o_orderpriority
                ROWS BETWEEN 40 PRECEDING AND 40 FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS others_near,
           CAST(count(*) OVER (ORDER BY o_orderpriority
                ROWS BETWEEN 40 PRECEDING AND 10 PRECEDING
                EXCLUDE TIES) AS BIGINT) AS trailing_plus_self
    FROM orders WHERE o_orderkey < 400
    ORDER BY pri, others_near, trailing_plus_self
    """,
)

_sql(
    "q155_conflict_where",
    # Conditional upsert — ON CONFLICT ... DO UPDATE SET ... WHERE
    # (round-12 probe find): conflicting rows failing the predicate
    # keep the EXISTING row and drop the incoming one, like DuckDB.
    # Scoping: unqualified / tablename. = target row, excluded. =
    # incoming row.
    """
    CREATE OR REPLACE TABLE upsert12 (k INTEGER PRIMARY KEY,
                                      v INTEGER);
    INSERT INTO upsert12 VALUES (1, 10), (2, 80), (3, 30);
    INSERT INTO upsert12 VALUES (1, 99), (2, 99), (4, 40)
        ON CONFLICT (k) DO UPDATE SET v = excluded.v
        WHERE upsert12.v < 50;
    SELECT k, v FROM upsert12 ORDER BY k
    """,
)

_sql(
    "q154_grouping_alias",
    # Select-list aliases inside CUBE/GROUPING SETS arg lists and
    # grouping()/grouping_id() calls (round-12 probe find): DuckDB
    # binds them; Spark's grouping_id needs the EXACT grouping
    # expressions, so pass_grouping_alias_args substitutes the alias
    # definitions (skipping aliases that shadow catalog columns —
    # GROUP BY prefers the input column, the Postgres/DuckDB rule).
    """
    SELECT upper(o_orderstatus) AS st, o_orderpriority AS pri,
           grouping(st, pri) AS g, CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE(st, pri)
    ORDER BY st NULLS FIRST, pri NULLS FIRST, g
    LIMIT 40
    """,
)

_sql(
    "q153_type_alias",
    # CREATE TYPE name AS <type> — non-ENUM type ALIASES (round-12
    # probe find: only ENUM was supported). Definitions expand at
    # coldef and CAST sites (::alias and CAST(x AS alias)), matching
    # DuckDB's own expansion in DESCRIBE; a select-item alias sharing
    # the name stays untouched.
    """
    DROP TYPE IF EXISTS point12;
    CREATE TYPE point12 AS STRUCT(x INTEGER, y INTEGER);
    CREATE OR REPLACE TABLE pts12 (id INTEGER, p point12);
    INSERT INTO pts12 VALUES (1, {'x': 3, 'y': 4}),
                             (2, {'x': -1, 'y': 7});
    SELECT id, p.x AS px, CAST({'x': id, 'y': 0} AS point12).x AS cx,
           ({'x': 5, 'y': 6}::point12).y AS cy
    FROM pts12 ORDER BY id
    """,
)

_sql(
    "q152_asof_derived",
    # ASOF JOIN over DERIVED tables on both sides (round-12 probe
    # find: the SQL handler required plain table names). Each side's
    # subquery runs through the normal query path; the asof plan
    # (semi-filtered union window) is unchanged.
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(s.value), 2) AS matched_value
    FROM (SELECT user_id, ts FROM events WHERE user_id < 40) e
         ASOF JOIN (SELECT user_id AS u, ts AS t, value
                    FROM events WHERE event_id % 7 = 0) s
         ON e.user_id = s.u AND e.ts >= s.t
    """,
)

_sql(
    "q151_columns_qualified_star",
    # COLUMNS(t.* [EXCLUDE ...]) — qualified dynamic projection over a
    # join (round-12 probe find): expands to the aliased table's
    # columns; fn-wrapped form aliases each expansion to the BARE
    # column name like DuckDB; EXCLUDE of an unknown column reproduces
    # DuckDB's binder error.
    """
    SELECT COLUMNS(n.* EXCLUDE (n_regionkey)),
           min(COLUMNS(o.*))
    FROM nation n JOIN orders o ON o.o_custkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    ORDER BY n.n_nationkey
    """,
)

_sql(
    "q150_at_time_zone",
    # AT TIME ZONE (round-12 probe find): naive -> instant in zone
    # (to_utc_timestamp), aware -> wall time in zone
    # (from_utc_timestamp); chains alternate left-to-right
    # (pass_at_time_zone). Plus regexp_extract with a group-NAME list
    # -> struct of captures (same probe batch). Values cast back to
    # naive TIMESTAMP so both engines hash wall-clock instants (the
    # TIMESTAMPTZ '+00' VARCHAR-render suffix is a documented seam).
    """
    SELECT event_id,
           CAST(ts AT TIME ZONE 'Asia/Tokyo' AS TIMESTAMP) AS tokyo_i,
           (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'
               AS ny_wall,
           regexp_extract(event_type, '([a-z]+)_([a-z]+)',
                          ['head', 'tail']).tail AS etype_tail
    FROM events WHERE user_id < 5 ORDER BY event_id LIMIT 40
    """,
)

_sql(
    "q149_unnest_recursive",
    # unnest(recursive := true / max_depth := N) — type-driven flatten
    # (round-12; pass_unnest_named_args). Nested-list flatten over the
    # documents word lists plus a struct-leaf expansion, all DuckDB-
    # oracled verbatim.
    """
    SELECT w AS word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest([string_split(text, ' '),
                         string_split(upper(text), ' ')],
                        recursive := true) AS w
          FROM documents WHERE doc_id < 300)
    WHERE length(w) >= 6
    GROUP BY w ORDER BY n DESC, w LIMIT 25
    """,
)

_sql(
    "q148_scaled_mixed_interval",
    # Scaled mixed-family INTERVAL literal (round-12 advice fix): the
    # integer '* n' chain distributes to BOTH family halves (interval
    # scaling is linear); the old split applied the scale to only the
    # day-time half — a silent wrong result.
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL '1 month 2 days' * 2 AS DATE)
               AS due,
           CAST(o_orderdate - INTERVAL '2 months 1 day' * 3 AS DATE)
               AS lookback
    FROM orders
    ORDER BY o_orderkey
    LIMIT 50
    """,
)

# TPC-H shapes q9/q12/q21 adapted to the driver schema (no partsupp /
# shipmode / receiptdate columns in the testdata; the join/correlation
# structure — the part the optimizer sees — is preserved exactly).
_sql(
    "q139_ignore_nulls_locf",
    # last-observation-carried-forward: DuckDB's IN-PARENS IGNORE NULLS
    # (last_value(x IGNORE NULLS)) — Spark only parses the outside form;
    # pass_ignore_nulls_inside moves the modifier out. Round-10 probe
    # find. NULLIF manufactures gaps so the carry-forward is exercised.
    """
    SELECT user_id, event_id,
           last_value(nullif(value, 0) IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS carried
    FROM events
    WHERE user_id < 20
    ORDER BY user_id, event_id
    """,
)

_sql(
    "q136_tpch_q12",
    # TPC-H Q12 (shipping priority split by lateness class): lineitem ⋈
    # orders, CASE-split counts per group — l_returnflag stands in for
    # l_shipmode, "late" = shipped more than 60 days after the order
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

_sql(
    "q137_tpch_q9",
    # TPC-H Q9 (product-type profit by nation and year): 5-way
    # part ⋈ lineitem ⋈ supplier ⋈ nation ⋈ orders with a LIKE probe on
    # part and a year() extraction — amount omits ps_supplycost (no
    # partsupp table in the driver schema)
    """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)

_sql(
    "q138_tpch_q21",
    # TPC-H Q21 (suppliers who kept orders waiting): correlated EXISTS
    # (another supplier contributed to the order) + NOT EXISTS (nobody
    # shipped later) — l_shipdate is the lateness proxy for
    # receiptdate/commitdate. The decorrelation shape (two correlated
    # semi/anti joins on the fact table) is the point of the entry.
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)


# ---------------------------------------------------------------------------
# family 2: operator pipelines (DataFrame API) with matched oracles
# ---------------------------------------------------------------------------

# shared oracle fragments mirroring operators/text.py + operators/dedup.py
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_SHINGLES = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])
           )) AS shingles
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
"""

ORACLE_DEDUP_EXACT = f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
g AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY fp HAVING count(*) > 1)
SELECT g.canonical_id, fp.doc_id
FROM fp JOIN g ON fp.fp = g.fp
WHERE fp.doc_id <> g.canonical_id
"""

ORACLE_MINHASH_LSH = f"""
WITH sh AS ({_SHINGLES}),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, 16),
               p -> list_min(list_transform(shingles, s -> md5(p || ':' || s)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '|')) AS bandsig
    FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id
"""

def op_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: 'old' = doc_id % 5 != 4,
    'new' = doc_id % 5 != 0 — per-language added/removed/kept counts by
    CONTENT fingerprint (an id-rotated but byte-identical page counts
    as kept) plus character drift. The refresh report of a rolling
    ingest pipeline."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 != 0)
    return text_ops.corpus_diff(old, new)


# corpus diff twin: same normalized fingerprints, same per-fp min(g)/
# min(chars) collapse, same full-outer membership classification
ORACLE_CORPUS_DIFF = f"""
WITH o AS (
    SELECT md5({_NORM}) AS fp, min(lang) AS old_g,
           min(length(text)) AS old_chars
    FROM documents WHERE doc_id % 5 <> 4 GROUP BY fp
), n AS (
    SELECT md5({_NORM}) AS fp, min(lang) AS new_g,
           min(length(text)) AS new_chars
    FROM documents WHERE doc_id % 5 <> 0 GROUP BY fp
), j AS (
    SELECT coalesce(n.new_g, o.old_g) AS lang,
           CASE WHEN o.old_g IS NULL THEN 'added'
                WHEN n.new_g IS NULL THEN 'removed'
                ELSE 'kept' END AS status,
           coalesce(n.new_chars, 0) AS nc,
           coalesce(o.old_chars, 0) AS oc
    FROM o FULL OUTER JOIN n ON o.fp = n.fp
)
SELECT lang, status,
       CAST(count(*) AS INTEGER) AS n_docs,
       CAST(sum(nc) - sum(oc) AS BIGINT) AS char_drift
FROM j GROUP BY lang, status
"""


def op_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_accuracy(_docs(spark, sf_dir))


# sketch-accuracy audit: the DuckDB twin rebuilds the full 16-slot
# signature, the LSH candidate pairs, the slot-agreement estimate and
# the exact shingle Jaccard — integers plus two single divisions
ORACLE_MINHASH_ACCURACY = f"""
WITH sh AS ({{_SH}}),
sigs AS (
    SELECT doc_id, shingles,
           list_transform(range(0, 16),
               p -> list_min(list_transform(shingles, s -> md5(p || ':' || s)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '|')) AS bandsig
    FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i]))
            AS INTEGER) AS n_agree,
       round(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i]))
             / 16.0, 4) AS est_j,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER)
           AS n_inter,
       CAST(len(sa.shingles) + len(sb.shingles)
            - len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER)
           AS n_union,
       round(len(list_intersect(sa.shingles, sb.shingles))
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 4)
           AS exact_j
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_a
JOIN sigs sb ON sb.doc_id = p.id_b
"""
ORACLE_MINHASH_ACCURACY = ORACLE_MINHASH_ACCURACY.replace(
    "{_SH}", _SHINGLES
)


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS ({_SHINGLES}),
flat AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM flat GROUP BY doc_id),
-- default-on stop-shingle guard (max_df=1000), mirrored from
-- dedup.ngram_jaccard_pairs: sizes stay pre-drop, the join is guarded
cool AS (
    SELECT f.doc_id, f.shingle FROM flat f
    WHERE f.shingle NOT IN (
        SELECT shingle FROM flat GROUP BY shingle HAVING count(*) > 1000)
),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM cool a JOIN cool b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.8
"""

ORACLE_DEDUP_APPLY = f"""
WITH sh AS ({_SHINGLES}),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, 16),
               p -> list_min(list_transform(shingles, s -> md5(p || ':' || s)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '|')) AS bandsig
    FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
),
losers AS (
    SELECT DISTINCT b.doc_id AS doc_id
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""

ORACLE_TEXT_PROFILE = f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_words,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_tokens,
       round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) /
             greatest(length(text), 1), 4) AS punct_ratio,
       md5({_NORM}) AS fingerprint
FROM documents
"""

# DuckDB twin of operators/text.py quality_score + lang_id +
# stopword_ratio — the heuristics are pure deterministic arithmetic over
# regexp counts, so the SQL mirrors every intermediate round() exactly.
ORACLE_TEXT_QUALITY = r"""
WITH base AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split_regex(trim(text), '\s+')) AS wc,
           round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) /
                 greatest(length(text), 1), 4) AS punct_ratio,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS n_en,
           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS n_de,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS n_fr
    FROM documents
), ratios AS (
    SELECT doc_id, n_chars, punct_ratio, n_en, n_de, n_fr,
           round(n_en / greatest(wc, 1), 4) AS stopword_ratio
    FROM base
)
SELECT doc_id,
       round((least(n_chars / 500.0, 1.0)
              + (1.0 - least(punct_ratio * 5, 1.0))
              + least(stopword_ratio * 4, 1.0)) / 3.0, 4) AS quality,
       CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
            WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
            WHEN n_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       stopword_ratio
FROM ratios
"""

# DuckDB twin of the md5-mode SimHash pipeline (operators/dedup.py
# with_simhash/simhash_candidates): per-shingle 64-bit hash = first 16 hex
# chars of md5 (big-endian; bit b lives in hex char 16 - b//4, bit b%4 of
# that nibble), per-bit majority vote, 16-bit-chunk blocking, hamming via
# bitvector disagreement count. Hash-agnostic algebra identical to the
# Spark side; md5 makes the hashes byte-identical across engines.
ORACLE_SIMHASH = f"""
WITH sh AS ({_SHINGLES}),
h AS (
    SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs FROM sh
),
bits AS (
    SELECT doc_id,
           list_transform(range(0, 64), b ->
               CASE WHEN 2 * list_sum(list_transform(hs, x ->
                        ((strpos('0123456789abcdef',
                                 substr(x, 16 - b // 4, 1)) - 1)
                         >> (b % 4)) & 1)) > len(hs)
                    THEN 1 ELSE 0 END) AS bv
    FROM h
),
chunked AS (
    SELECT doc_id, bv, c.chunk AS chunk,
           list_sum(list_transform(range(0, 16),
               j -> bv[c.chunk * 16 + j + 1] << j)) AS val
    FROM bits, (SELECT unnest(range(0, 4)) AS chunk) c
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.bv AS bv_a, b.bv AS bv_b
    FROM chunked a JOIN chunked b
      ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(list_sum(list_transform(range(1, 65),
           i -> CASE WHEN bv_a[i] <> bv_b[i] THEN 1 ELSE 0 END))
           AS INTEGER) AS hamming
FROM pairs
"""

ORACLE_EMBED_COSINE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.9
"""

ORACLE_SIM_TOPK = """
SELECT vec_id,
       round(list_cosine_similarity(
           embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine
FROM embeddings
ORDER BY list_cosine_similarity(
           embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
         vec_id
LIMIT 10
"""

# k-min fingerprint sketch twin (operators/text.py fingerprint_sketch):
# same shingle set as _SHINGLES, same md5, same lexicographic min-k —
# byte-identical across engines
ORACLE_TEXT_FINGERPRINT = f"""
WITH sh AS ({_SHINGLES})
SELECT doc_id,
       array_to_string(list_sort(list_transform(shingles, s -> md5(s)))[1:5],
                       ',') AS fp_sketch,
       CAST(len(shingles) AS INTEGER) AS n_shingles
FROM sh
"""

# Salted-operator oracles: salting must be RESULT-IDENTICAL to the plain
# shapes, so the oracle is simply the unsalted SQL — the driver row
# proves the two-stage/replicated plans change nothing but the shuffle.
ORACLE_SKEW_AGG = """
SELECT l_returnflag, count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS qty,
       CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(max(l_extendedprice) AS DOUBLE) AS max_price
FROM lineitem GROUP BY l_returnflag
"""

ORACLE_SKEW_JOIN = """
SELECT o.o_orderpriority, count(*) AS n, CAST(sum(l.l_quantity) AS DOUBLE) AS qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""

# Recall oracle for the approximate-NN entries: DuckDB recomputes the
# EXACT cosine top-k (the ground truth) and pins recall_ok=true. The
# Spark side computes the same exact top-k (brute force), joins the ANN
# candidates against it, and emits recall_ok = (|ANN ∩ exact| >= ceil).
# exact_ids is genuinely cross-checked value-by-value; recall_ok turns
# the pinned-threshold recall assertion into a hash-comparable cell (an
# ANN regression flips it to false -> driver red).
ORACLE_SIM_RECALL = """
WITH exact AS (
    SELECT vec_id
    FROM embeddings
    ORDER BY list_cosine_similarity(
                 embedding,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
             vec_id
    LIMIT 10
)
SELECT count(*) AS n_exact,
       array_to_string(list_sort(list(vec_id)), ',') AS exact_ids,
       TRUE AS recall_ok
FROM exact
"""

ORACLE_STREAM_TUMBLING = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY window_start, event_type
"""

# sliding windows: each event lands in window starts {trunc30(ts) - k*30m}
ORACLE_STREAM_SLIDING = """
SELECT time_bucket(INTERVAL '30 minutes', ts) - (o.k * INTERVAL '30 minutes')
           AS window_start,
       event_type, count(*) AS n
FROM events, (SELECT unnest([0, 1]) AS k) o
GROUP BY window_start, event_type
"""

# batch twin of the watermarked stream-stream inner join: append-mode
# emits each matched pair exactly once over finite input, so the plain
# time-bounded join is row-identical
ORACLE_STREAM_JOIN = """
SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id,
       a.ts AS left_ts, b.ts AS right_ts
FROM events a JOIN events b
  ON a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.user_id = a.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
"""

ORACLE_STREAM_STATEFUL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total
FROM events GROUP BY user_id
"""

# batch gaps-and-islands equivalent of Spark's session_window(ts, gap):
# a session breaks only when the next event is STRICTLY more than gap
# after the previous one — an event landing exactly on prev_ts + gap
# still merges (pinned by tests/test_streaming_semantics.py's boundary
# test), and session_end = last event ts + gap.
ORACLE_STREAM_SESSION = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       user_id, count(*) AS n_events, round(sum(value), 4) AS total
FROM numbered GROUP BY user_id, sid
"""

ORACLE_BUCKETED_JOIN = """
SELECT o_custkey, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o_custkey HAVING count(*) > 20
"""

ORACLE_RANGE_JOIN = """
SELECT a.p_partkey AS left_part, b.p_partkey AS right_part
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND b.p_retailprice >= a.p_retailprice - 10
 AND b.p_retailprice <= a.p_retailprice + 10
 AND a.p_partkey <> b.p_partkey
"""

ORACLE_ASOF = """
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
       round(e.value, 4) AS event_value, e.ts AS event_ts
FROM orders o
ASOF LEFT JOIN events e
  ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
WHERE o.o_custkey <= 500
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return engine_for(spark, sf_dir).table("documents")


_DOC_SPREAD_CACHE: dict[tuple[str, int], bool] = {}


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table repartitioned for JVM-regex-heavy map ops.

    The driver parquet is single-file / single-row-group, so doc scans
    run as 1-2 tasks regardless of core count and codegen'd regex
    batteries use 2 of 32 cores. A round-robin repartition(cores) buys
    full map parallelism (measured at sf1: redact_pii 0.96s -> 0.21s,
    quality+langid 0.85s -> 0.24s; the FIXED partition number keeps AQE
    from coalescing the small byte size back to 2 partitions). Opt-in
    per op rather than in _docs because it HURTS Arrow/pandas-UDF
    pipelines (minhash 0.59s -> 1.5s: 32 python-worker round-trips with
    tiny batches beat 2 big ones only on the JVM side). At real scale
    the gate (partitions*4 <= cores, cached per dir) makes this a no-op
    — no shuffle is added on a properly partitioned corpus."""
    df = _docs(spark, sf_dir)
    cores = spark.sparkContext.defaultParallelism
    key = (sf_dir, cores)
    spread = _DOC_SPREAD_CACHE.get(key)
    if spread is None:
        spread = df.rdd.getNumPartitions() * 4 <= cores
        _DOC_SPREAD_CACHE[key] = spread
    return df.repartition(cores) if spread else df


def _embeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return engine_for(spark, sf_dir).table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )


def op_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def op_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(_docs(spark, sf_dir))


def op_dedup_minhash_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-JVM minhash banding (hash_mode='xxhash64') — the 100 TB throughput
    mode of op_dedup_minhash_lsh. Deterministic, but xxhash64 has no
    DuckDB twin, so the driver records the weaker rows-only check; the
    md5 entry stays the hash-exact cross-engine witness, and the two
    modes are pinned pair-identical on clear duplicate structure by
    tests/test_pipeline_ops.py."""
    return dedup.minhash_lsh_candidates(
        _docs(spark, sf_dir), hash_mode="xxhash64"
    ).orderBy("id_a", "id_b")


def op_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)


def op_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5-mode hash so the DuckDB oracle can reproduce the pipeline
    # byte-for-byte; the xxhash64 fast path stays default for users and
    # is pinned result-identical-in-shape by unit tests.
    return dedup.simhash_candidates(_docs(spark, sf_dir), hash_fn="md5")


def op_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.apply_dedup(_docs(spark, sf_dir))
    return out.select("doc_id", "lang", "n_chars")


def op_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_cosine_pairs(_embeds(spark, sf_dir), threshold=0.9)


def op_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _docs_wide: the profile is a pure JVM-regex map battery — on the
    # single-row-group driver parquet it otherwise runs as 1-2 scan
    # tasks at any SF (measured sf10: 4.1s single-task)
    prof = text_ops.text_profile(_docs_wide(spark, sf_dir))
    return prof.select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "punct_ratio",
        "fingerprint",
    )


def op_text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = text_ops.text_profile(_docs_wide(spark, sf_dir))
    return prof.select("doc_id", "quality", "lang_pred", "stopword_ratio")


# chunking: chunk i of stride s covers words [(i-1)s+1, (i-1)s+64];
# DuckDB twin spells the same windows with range + list_slice
ORACLE_TEXT_CHUNK = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
  FROM documents
), n AS (
  SELECT doc_id, words,
         greatest(CAST(ceil((len(words) - 16) / 48.0) AS INTEGER), 1)
             AS n_chunks
  FROM w
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       array_to_string(words[(i - 1) * 48 + 1 : (i - 1) * 48 + 64], ' ')
           AS chunk_text,
       CAST(len(words[(i - 1) * 48 + 1 : (i - 1) * 48 + 64]) AS INTEGER)
           AS chunk_words
FROM n, unnest(range(1, n_chunks + 1)) AS t(i)
"""


# end-to-end corpus preparation: quality gate -> minhash-LSH dedup ->
# overlapping chunking; every stage reuses an already-oracled operator,
# and the composite oracle chains the same CTE algebra over the filtered
# subsets
ORACLE_CORPUS_PREP = rf"""
WITH base AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split_regex(trim(text), '\s+')) AS wc,
           round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) /
                 greatest(length(text), 1), 4) AS punct_ratio,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS n_en
    FROM documents
), q AS (
    SELECT doc_id,
           round((least(n_chars / 500.0, 1.0)
                  + (1.0 - least(punct_ratio * 5, 1.0))
                  + least(round(n_en / greatest(wc, 1), 4) * 4, 1.0)) / 3.0,
                 4) AS quality
    FROM base
), good AS (
    SELECT d.* FROM documents d JOIN q ON d.doc_id = q.doc_id
    WHERE q.quality >= 0.5
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])
           )) AS shingles
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM good)
), sigs AS (
    SELECT doc_id,
           list_transform(range(0, 16),
               p -> list_min(list_transform(shingles, s -> md5(p || ':' || s)))) AS sig
    FROM sh
), banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '|')) AS bandsig
    FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
), losers AS (
    SELECT DISTINCT b.doc_id AS doc_id
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id
), uniq AS (
    SELECT g.* FROM good g LEFT JOIN losers l ON g.doc_id = l.doc_id
    WHERE l.doc_id IS NULL
), w2 AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM uniq
), n2 AS (
    SELECT doc_id, words,
           greatest(CAST(ceil((len(words) - 16) / 48.0) AS INTEGER), 1)
               AS n_chunks
    FROM w2
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       md5(array_to_string(words[(i - 1) * 48 + 1 : (i - 1) * 48 + 64], ' '))
           AS chunk_fp,
       CAST(len(words[(i - 1) * 48 + 1 : (i - 1) * 48 + 64]) AS INTEGER)
           AS chunk_words
FROM n2, unnest(range(1, n_chunks + 1)) AS t(i)
"""


# benchmark decontamination: the DuckDB twin reproduces the same
# normalized-word 8-gram md5 hashes, the eval-set distinct-gram build,
# and the per-training-doc distinct hit count (docs shorter than 8 words
# contribute no grams and report n_hits = 0)
ORACLE_DECONTAMINATE = f"""
WITH norm AS (
    SELECT doc_id, string_split_regex({_NORM}, '\\s+') AS w
    FROM documents
), grams AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 8 THEN
               list_distinct(list_transform(range(1, len(w) - 6),
                   i -> md5(array_to_string(w[i:i+7], ' '))))
           ELSE [] END AS gs
    FROM norm
), eg AS (
    SELECT DISTINCT t.g
    FROM grams, unnest(gs) AS t(g)
    WHERE doc_id % 17 = 3
), tg AS (
    SELECT gr.doc_id, t.g
    FROM grams gr, unnest(gr.gs) AS t(g)
    WHERE gr.doc_id % 17 <> 3
), hits AS (
    SELECT tg.doc_id, count(DISTINCT tg.g) AS n_hits
    FROM tg JOIN eg ON eg.g = tg.g
    GROUP BY tg.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS INTEGER) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 17 <> 3
"""


def op_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-overlap decontamination of the training split against a
    deterministic 'benchmark' subset (doc_id % 17 = 3) — the standard
    LLM-corpus hygiene step. Eval grams broadcast; one shuffle total.
    _docs_wide: the gram battery is JVM built-ins — map-spread took the
    sf1 run 22.9s -> 1.6s (scan parallelism, not the join)."""
    docs = _docs_wide(spark, sf_dir)
    eval_set = docs.filter(F.col("doc_id") % 17 == 3)
    train = docs.filter(F.col("doc_id") % 17 != 3)
    return text_ops.decontaminate(train, eval_set, n=8)


def op_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter n-gram decontamination (same eval split as
    op_decontaminate): the eval grams reduce to a 4096-bit filter
    broadcast as one sorted-int-array row — fixed memory no matter how
    large the benchmark suite grows. Deterministic false positives are
    part of the contract and replayed bit-exactly by the oracle.
    _docs_wide: map-spread took the sf1 run 11.3s -> 2.1s."""
    docs = _docs_wide(spark, sf_dir)
    eval_set = docs.filter(F.col("doc_id") % 17 == 3)
    train = docs.filter(F.col("doc_id") % 17 != 3)
    return text_ops.bloom_decontaminate(train, eval_set, n=8)


# Bloom decontamination: the DuckDB twin replays the bit positions
# (grams are md5 hex already — position j is the j-th disjoint
# 8-hex-char slice as an integer % 4096), the distinct set-bit build, and
# the all-k-positions-present hit rule (count over the per-(g,j) rows
# joined to the distinct bit set = k, identical to the engine's AND of
# array_contains). False positives reproduce exactly on both engines.
ORACLE_BLOOM_DECONTAMINATE = f"""
WITH norm AS (
    SELECT doc_id, string_split_regex({_NORM}, '\\s+') AS w
    FROM documents
), grams AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 8 THEN
               list_distinct(list_transform(range(1, len(w) - 6),
                   i -> md5(array_to_string(w[i:i+7], ' '))))
           ELSE [] END AS gs
    FROM norm
), eg AS (
    SELECT DISTINCT t.g
    FROM grams, unnest(gs) AS t(g)
    WHERE doc_id % 17 = 3
), bits AS (
    SELECT DISTINCT
           CAST(('0x' || substr(g, j*8 + 1, 8)) AS BIGINT) % 4096 AS p
    FROM eg, unnest([0, 1, 2]) AS t(j)
), tg AS (
    SELECT gr.doc_id, t.g
    FROM grams gr, unnest(gr.gs) AS t(g)
    WHERE gr.doc_id % 17 <> 3
), pos AS (
    SELECT tg.doc_id, tg.g,
           CAST(('0x' || substr(tg.g, j*8 + 1, 8)) AS BIGINT) % 4096 AS p
    FROM tg, unnest([0, 1, 2]) AS t(j)
), hitg AS (
    SELECT doc_id, g
    FROM pos JOIN bits USING (p)
    GROUP BY doc_id, g
    HAVING count(*) = 3
), hits AS (
    SELECT doc_id, count(*) AS n FROM hitg GROUP BY doc_id
)
SELECT g2.doc_id,
       CAST(len(g2.gs) AS INTEGER) AS n_grams,
       CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,
       coalesce(h.n, 0) > 0 AS flagged
FROM grams g2 LEFT JOIN hits h USING (doc_id)
WHERE g2.doc_id % 17 <> 3
"""


_PII_INJECT = """
    CASE WHEN doc_id % 5 = 0
             THEN ' contact user' || doc_id || '@example.com now'
         WHEN doc_id % 5 = 1 THEN ' call 555-123-4567 today'
         WHEN doc_id % 5 = 2 THEN ' ssn 123-45-6789 on file'
         WHEN doc_id % 5 = 3 THEN ' from 192.168.1.42 logged'
         ELSE '' END
"""

ORACLE_PII_REDACT = rf"""
WITH injected AS (
    SELECT doc_id, text || {_PII_INJECT} AS text
    FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
           '\b\d{{3}}-\d{{2}}-\d{{4}}\b', '[SSN]', 'g'),
           '\b\d{{3}}[- ]\d{{3}}[- ]\d{{4}}\b', '[PHONE]', 'g'),
           '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b', '[IP]', 'g'))
           AS clean_md5,
       CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS INTEGER)
           AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{{3}}-\d{{2}}-\d{{4}}\b'))
           AS INTEGER) AS n_ssn,
       CAST(len(regexp_extract_all(text, '\b\d{{3}}[- ]\d{{3}}[- ]\d{{4}}\b'))
           AS INTEGER) AS n_phone,
       CAST(len(regexp_extract_all(text,
           '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b')) AS INTEGER)
           AS n_ipv4
FROM injected
"""


def op_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the documents table with deterministic PII
    injected per doc_id class (so the redactor provably fires). Map-only;
    the cleaned text rides as md5 to keep the compared relation narrow."""
    docs = _docs_wide(spark, sf_dir)
    inject = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(F.col("doc_id") % 5 == 1, F.lit(" call 555-123-4567 today"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" ssn 123-45-6789 on file"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" from 192.168.1.42 logged"))
        .otherwise(F.lit(""))
    )
    injected = docs.select(
        "doc_id", F.concat(F.col("text"), inject).alias("text")
    )
    out = text_ops.redact_pii(injected)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_md5"),
        "n_email", "n_ssn", "n_phone", "n_ipv4",
    )


def op_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus preparation pipeline: quality gate → minhash-LSH
    dedup → overlapping chunks, all composed from the individually
    oracled operators; chunk text travels as an md5 fingerprint so the
    compared relation stays narrow."""
    docs = _docs(spark, sf_dir)
    prof = text_ops.text_profile(docs)
    good = docs.join(
        prof.filter(F.col("quality") >= 0.5).select("doc_id"), "doc_id"
    )
    uniq = dedup.apply_dedup(good)
    chunks = text_ops.chunk_documents(uniq, chunk_words=64, overlap=16)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.md5("chunk_text").alias("chunk_fp"),
        F.col("chunk_words").cast("int").alias("chunk_words"),
    )


def op_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.chunk_documents(
        _docs(spark, sf_dir), chunk_words=64, overlap=16
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "chunk_text",
        F.col("chunk_words").cast("int").alias("chunk_words"),
    )


def op_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint_sketch(_docs(spark, sf_dir))


def op_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import skew

    li = engine_for(spark, sf_dir).table("lineitem")
    out = skew.salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": ("l_quantity", "count"),
            "qty": ("l_quantity", "sum"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.col("qty").cast("double").alias("qty"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


def op_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import skew

    eng = engine_for(spark, sf_dir)
    li = eng.table("lineitem").select("l_orderkey", "l_quantity")
    orders = eng.table("orders").select("o_orderkey", "o_orderpriority")
    joined = skew.salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        orders.withColumnRenamed("o_orderkey", "k"),
        key="k",
        hot_keys=[1, 2, 3, 4, 5, 6, 7],
        salt_buckets=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").cast("double").alias("qty"),
    )


_QUERY_VEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The query point (vec_id=0) is a plan literal, not data — fetch it
    driver-side from the parquet footer's first rows instead of spending a
    full Spark job on a one-row filter."""
    key = os.path.abspath(sf_dir)
    if key not in _QUERY_VEC_CACHE:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding"],
        )
        idx = tbl.column("vec_id").to_pylist().index(0)
        _QUERY_VEC_CACHE[key] = [
            float(x) for x in tbl.column("embedding")[idx].as_py()
        ]
    return _QUERY_VEC_CACHE[key]


def op_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vec(spark, sf_dir)
    out = similarity.brute_force_topk(_embeds(spark, sf_dir), vec, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


# batch top-k: 5 query vectors (vec_id < 5) against the whole corpus in
# one scan; DuckDB twin: cross join + QUALIFY row_number per query
ORACLE_SIM_BATCH = """
SELECT q.vec_id AS query_id, e.vec_id,
       round(list_cosine_similarity(e.embedding, q.embedding), 4) AS cosine
FROM embeddings e, (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < 5) q
QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
             e.vec_id) <= 10
"""


def op_similarity_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeds(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk_batch(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine")
    )


def _recall_relation(ann: DataFrame, exact: DataFrame, min_hits: int) -> DataFrame:
    """1-row relation binding an ANN result to the exact top-k ground
    truth: exact_ids cross-checks the brute-force set against DuckDB,
    recall_ok asserts |ANN ∩ exact| >= min_hits."""
    ann_ids = ann.select(F.col("vec_id").alias("ann_id"))
    joined = exact.join(ann_ids, exact["vec_id"] == ann_ids["ann_id"], "left")
    return joined.agg(
        F.count("*").alias("n_exact"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("vec_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("exact_ids"),
        (F.count("ann_id") >= F.lit(min_hits)).alias("recall_ok"),
    )


def op_similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeds(spark, sf_dir)
    vec = _query_vec(spark, sf_dir)
    ann = similarity.lsh_topk(emb, vec, k=10)
    exact = similarity.brute_force_topk(emb, vec, k=10).select("vec_id")
    # multi-table LSH hits 8/10 on this data (wide-angle neighbors,
    # cosine≈0.3 — see lsh_topk docstring); pin >=7 with margin 1
    return _recall_relation(ann, exact, min_hits=7)


# Asset-table export path for the multimodal oracle: the Spark op writes
# the synthesized (asset_id, kind, payload) rows here, then the DuckDB
# oracle independently recomputes n_bytes and the hex-payload sha256 over
# the SAME parquet bytes — a hard cross-engine check on the mapInPandas
# decode pipeline's byte plumbing. Constant path (not sf-keyed) because
# oracle_sql() strings are static; each run overwrites it.
_MM_ASSETS_EXPORT = "/root/repo/spark-warehouse/mm_assets_export"

ORACLE_MULTIMODAL = f"""
SELECT asset_id, kind,
       octet_length(payload)::INTEGER AS n_bytes,
       sha256(hex(payload)) AS sha256_hex,
       TRUE AS decode_ok
FROM read_parquet('{_MM_ASSETS_EXPORT}/*.parquet')
"""


def op_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.synth_assets(spark, _docs(spark, sf_dir))
    assets.select("asset_id", "kind", "payload").write.mode("overwrite").parquet(
        _MM_ASSETS_EXPORT
    )
    persisted = spark.read.parquet(_MM_ASSETS_EXPORT)
    feats = multimodal.extract_features(persisted)
    # decode_ok comes from the real pure-Python decoders; every synthetic
    # payload is a supported format, so the oracle pins it TRUE — a decode
    # regression on any row flips it and fails the hash compare. Pixel/RMS
    # features stay pinned in tests/test_multimodal.py (not SQL-expressible).
    return feats.select("asset_id", "kind", "n_bytes", "sha256_hex", "decode_ok")


_PHASH_EXPORT = "/root/repo/spark-warehouse/phash_assets_export"


def op_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over DECODED image pixels (the image-side
    near-dup fingerprint). The op exports the synthesized binary-PPM
    payloads to parquet; the Spark side decodes them through the real
    pure-Python PPM parser (mapInPandas), while the DuckDB oracle
    recomputes luma and the threshold bits STRAIGHT FROM THE PAYLOAD
    BYTES (BLOB substring + hex->int; the P6 header of these
    single-digit-dim fixtures is always 11 bytes, w=4, h=2+id%5) — an
    independent pixel-level check on the decode path, the aHash
    analogue of op_multimodal_features' sha256-over-bytes."""
    assets = multimodal.synth_assets(spark, _docs(spark, sf_dir)).filter(
        F.col("mime") == "image/x-portable-pixmap"
    )
    assets.select("asset_id", "payload").write.mode("overwrite").parquet(
        _PHASH_EXPORT
    )
    persisted = spark.read.parquet(_PHASH_EXPORT)
    return multimodal.image_ahash(persisted)


ORACLE_IMAGE_PHASH = f"""
WITH a AS (
    SELECT asset_id, hex(payload) AS hx
    FROM read_parquet('{_PHASH_EXPORT}/*.parquet')
), px AS (
    SELECT asset_id,
           CAST(4 AS INTEGER) AS w,
           CAST(2 + asset_id % 5 AS INTEGER) AS h,
           k,
           -- pixel k's RGB bytes live at 1-based byte offsets
           -- 12+3k..14+3k (11-byte P6 header); byte o = hex chars
           -- (o-1)*2+1..(o-1)*2+2
           (('0x' || substr(hx, 23 + k*6, 2))::INT
            + ('0x' || substr(hx, 25 + k*6, 2))::INT
            + ('0x' || substr(hx, 27 + k*6, 2))::INT) // 3 AS luma
    FROM a, unnest(range(0, 4 * (2 + asset_id % 5))) AS t(k)
), s AS (
    SELECT asset_id, count(*) AS n_px, sum(luma) AS sum_luma
    FROM px GROUP BY asset_id
)
SELECT px.asset_id,
       any_value(px.w) AS w,
       any_value(px.h) AS h,
       CAST(s.n_px AS INTEGER) AS n_px,
       CAST(s.sum_luma AS BIGINT) AS sum_luma,
       string_agg(CASE WHEN px.luma * s.n_px > s.sum_luma
                       THEN '1' ELSE '0' END, '' ORDER BY px.k)
           AS ahash_bits
FROM px JOIN s USING (asset_id)
GROUP BY px.asset_id, s.n_px, s.sum_luma
"""


_NEARDUP_EXPORT = "/root/repo/spark-warehouse/imgdup_assets_export"


def op_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: aHash over REAL-decoded pixels ->
    banded hamming-LSH blocking -> exact hamming confirm (<= 2) — the
    image analogue of minhash-LSH dedup, never all-pairs. The oracle
    recomputes the hash bits from the exported payload BYTES and
    replays the identical band join."""
    assets = multimodal.synth_assets(spark, _docs(spark, sf_dir)).filter(
        F.col("mime") == "image/x-portable-pixmap"
    )
    assets.select("asset_id", "payload").write.mode("overwrite").parquet(
        _NEARDUP_EXPORT
    )
    persisted = spark.read.parquet(_NEARDUP_EXPORT)
    return multimodal.image_neardup_pairs(
        multimodal.image_ahash(persisted), max_hamming=2
    )


ORACLE_IMAGE_NEARDUP = f"""
WITH a AS (
    SELECT asset_id, hex(payload) AS hx
    FROM read_parquet('{_NEARDUP_EXPORT}/*.parquet')
), px AS (
    SELECT asset_id, k,
           (('0x' || substr(hx, 23 + k*6, 2))::INT
            + ('0x' || substr(hx, 25 + k*6, 2))::INT
            + ('0x' || substr(hx, 27 + k*6, 2))::INT) // 3 AS luma
    FROM a, unnest(range(0, 4 * (2 + asset_id % 5))) AS t(k)
), s AS (
    SELECT asset_id, count(*) AS n_px, sum(luma) AS sum_luma
    FROM px GROUP BY asset_id
), hashes AS (
    SELECT px.asset_id, CAST(s.n_px AS INTEGER) AS n_px,
           string_agg(CASE WHEN px.luma * s.n_px > s.sum_luma
                           THEN '1' ELSE '0' END, '' ORDER BY px.k)
               AS bits
    FROM px JOIN s USING (asset_id)
    GROUP BY px.asset_id, s.n_px
), banded AS (
    SELECT asset_id, n_px, bits, b.b AS b,
           CASE WHEN b.b = 0 THEN substr(bits, 1, n_px // 2)
                ELSE substr(bits, n_px // 2 + 1, n_px - n_px // 2)
           END AS bandsig
    FROM hashes, (SELECT unnest(range(0, 2)) AS b) b
), hotband AS (
    -- default-on hot-band guard (max_band=1000), mirrored from
    -- multimodal.image_neardup_pairs
    SELECT n_px, b, bandsig FROM banded
    GROUP BY n_px, b, bandsig HAVING count(*) > 1000
), guarded AS (
    SELECT bd.* FROM banded bd ANTI JOIN hotband h
      ON bd.n_px = h.n_px AND bd.b = h.b AND bd.bandsig = h.bandsig
), pairs AS (
    SELECT DISTINCT x.asset_id AS id_a, y.asset_id AS id_b,
           x.n_px, x.bits AS ba, y.bits AS bb
    FROM guarded x JOIN guarded y
      ON x.n_px = y.n_px AND x.b = y.b AND x.bandsig = y.bandsig
         AND x.asset_id < y.asset_id
)
SELECT id_a, id_b, n_px,
       CAST(len(list_filter(range(1, n_px + 1), i -> ba[i] <> bb[i]))
            AS INTEGER) AS hamming
FROM pairs
WHERE len(list_filter(range(1, n_px + 1), i -> ba[i] <> bb[i])) <= 2
"""


def op_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side contamination report (reverse of op_decontaminate):
    per benchmark doc, leaked-gram count / share and the number of
    distinct train docs carrying them — which eval items are compromised
    when the corpus can't change. Gram-keyed inverted-index join, no
    broadcast assumed."""
    docs = _docs_wide(spark, sf_dir)
    eval_set = docs.filter(F.col("doc_id") % 17 == 3)
    train = docs.filter(F.col("doc_id") % 17 != 3)
    return text_ops.contamination_report(train, eval_set, n=8)


ORACLE_CONTAMINATION_REPORT = rf"""
WITH norm AS (
    SELECT doc_id, string_split_regex({_NORM}, '\s+') AS w
    FROM documents
), grams AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 8 THEN
               list_distinct(list_transform(range(1, len(w) - 6),
                   i -> md5(array_to_string(w[i:i+7], ' '))))
           ELSE [] END AS gs
    FROM norm
), eg AS (
    SELECT g.doc_id AS eval_id, t.g
    FROM grams g LEFT JOIN unnest(g.gs) AS t(g) ON true
    WHERE g.doc_id % 17 = 3
), tg AS (
    SELECT DISTINCT grams.doc_id AS train_id, t.g
    FROM grams, unnest(gs) AS t(g)
    WHERE doc_id % 17 <> 3
), joined AS (
    SELECT e.eval_id, e.g, t.train_id
    FROM eg e LEFT JOIN tg t ON e.g = t.g
)
SELECT eval_id,
       CAST(count(DISTINCT g) AS INTEGER) AS n_grams,
       CAST(count(DISTINCT CASE WHEN train_id IS NOT NULL THEN g END)
            AS INTEGER) AS n_hit_grams,
       CAST(count(DISTINCT train_id) AS INTEGER) AS n_train_docs,
       round(count(DISTINCT CASE WHEN train_id IS NOT NULL THEN g END)
             / CAST(greatest(count(DISTINCT g), 1) AS DOUBLE), 4)
           AS leak_share
FROM joined GROUP BY eval_id
"""


def op_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (|A∩B|/|A| per direction) over the
    shingle inverted index — the subset/quote detector resemblance
    misses (banded LSH would suppress exactly these low-Jaccard
    pairs)."""
    return dedup.shingle_containment(_docs(spark, sf_dir), threshold=0.8)


ORACLE_SHINGLE_CONTAINMENT = f"""
WITH sh AS ({_SHINGLES}),
ex AS (
    SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle
    FROM sh
),
-- default-on stop-shingle guard (max_df=1000), mirrored from
-- dedup.shingle_containment: sz stays pre-drop, the join is guarded
cool AS (
    SELECT e.doc_id, e.sz, e.shingle FROM ex e
    WHERE e.shingle NOT IN (
        SELECT shingle FROM ex GROUP BY shingle HAVING count(*) > 1000)
),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS INTEGER) AS n_inter,
           CAST(any_value(a.sz) AS INTEGER) AS n_a,
           CAST(any_value(b.sz) AS INTEGER) AS n_b
    FROM cool a JOIN cool b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_a, n_b, n_inter,
       round(n_inter / CAST(greatest(n_a, 1) AS DOUBLE), 4) AS c_ab,
       round(n_inter / CAST(greatest(n_b, 1) AS DOUBLE), 4) AS c_ba
FROM inter
WHERE greatest(round(n_inter / CAST(greatest(n_a, 1) AS DOUBLE), 4),
               round(n_inter / CAST(greatest(n_b, 1) AS DOUBLE), 4)) >= 0.8
"""


ORACLE_THRESHOLD_SWEEP = """
WITH th AS (SELECT CAST(unnest([0.5, 0.7, 0.8, 0.9]) AS DOUBLE) AS t),
acc AS (SELECT * FROM ({ACC}) q)
SELECT t,
       CAST(sum(CASE WHEN est_j >= t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_est,
       CAST(sum(CASE WHEN exact_j >= t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact,
       CAST(sum(CASE WHEN est_j >= t AND exact_j >= t THEN 1 ELSE 0 END)
            AS BIGINT) AS n_both,
       round(sum(CASE WHEN est_j >= t AND exact_j >= t THEN 1 ELSE 0 END)
             / CAST(greatest(sum(CASE WHEN est_j >= t THEN 1 ELSE 0 END),
                             1) AS DOUBLE), 4) AS precision,
       round(sum(CASE WHEN est_j >= t AND exact_j >= t THEN 1 ELSE 0 END)
             / CAST(greatest(sum(CASE WHEN exact_j >= t THEN 1 ELSE 0 END),
                             1) AS DOUBLE), 4) AS recall
FROM th CROSS JOIN acc
GROUP BY t
""".replace("{ACC}", ORACLE_MINHASH_ACCURACY)


def op_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-index matching (the MOSS usage): pairs sharing >= 2
    selected fingerprints with per-side matched shares — local
    plagiarism detection at winnowed density; coverage guarantee
    inherited from the window-min construction."""
    return text_ops.winnow_matches(_docs_wide(spark, sf_dir), min_shared=2)


ORACLE_WINNOW_MATCHES = r"""
WITH toks AS (
  SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, toks FROM toks WHERE len(toks) >= 8
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i : i + 4], ' ')) AS h
  FROM base, unnest(range(1, len(toks) - 3)) AS t(i)
), sel AS (
  SELECT DISTINCT doc_id, winmin AS fp FROM (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS winmin
    FROM grams
  ) WHERE pos >= 3
), sized AS (
  SELECT s.doc_id, s.fp, z.sz
  FROM sel s JOIN (SELECT doc_id, count(*) AS sz FROM sel GROUP BY doc_id) z
    ON s.doc_id = z.doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS INTEGER) AS n_shared,
         CAST(any_value(a.sz) AS INTEGER) AS n_a,
         CAST(any_value(b.sz) AS INTEGER) AS n_b
  FROM sized a JOIN sized b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_shared, n_a, n_b,
       round(n_shared / CAST(n_a AS DOUBLE), 4) AS share_a,
       round(n_shared / CAST(n_b AS DOUBLE), 4) AS share_b
FROM pairs WHERE n_shared >= 2
"""


def op_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly scan: each day's count vs its trailing
    7-day average (current day excluded), spike-flagged at 1.5x — the
    ingest-observability alarm a pipeline runs on its own feed. Exact
    integer counts; the trailing average is one sum/count division;
    the daily rollup is the only data-sized shuffle (|days| rows after)."""
    from pyspark.sql import Window as W

    events = engine_for(spark, sf_dir).table("events")
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("n"))
    w = W.orderBy("d").rowsBetween(-7, -1)
    trailing = daily.select(
        "d",
        "n",
        F.round(F.avg("n").over(w), 4).alias("trailing_avg"),
    )
    return trailing.select(
        "d",
        "n",
        "trailing_avg",
        F.when(
            F.col("trailing_avg").isNotNull()
            & (F.col("n") > 1.5 * F.col("trailing_avg")),
            True,
        )
        .otherwise(False)
        .alias("is_spike"),
    )


ORACLE_ANOMALY_DAYS = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), t AS (
  SELECT d, n,
         round(avg(n) OVER (ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 4)
             AS trailing_avg
  FROM daily
)
SELECT d, n, trailing_avg,
       CASE WHEN trailing_avg IS NOT NULL AND n > 1.5 * trailing_avg
            THEN true ELSE false END AS is_spike
FROM t
"""


def op_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report over the fact tables' join keys: distinct
    keys, hottest-key share, top-10 share — the concentration audit
    behind the salt-or-not decision (op_skew_salted_* are the
    mitigations; this is the diagnosis). One aggregate per key; the
    top-10 sum is tie-insensitive (equal counts sum equally)."""
    eng = engine_for(spark, sf_dir)

    def report(tbl: str, key: str) -> DataFrame:
        return skew_ops.join_key_report(eng.table(tbl), key, tbl)

    return (
        report("lineitem", "l_orderkey")
        .unionAll(report("lineitem", "l_partkey"))
        .unionAll(report("orders", "o_custkey"))
        .unionAll(report("events", "user_id"))
    )


def op_layout_recommendation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable layout decision derived from the join-key skew report:
    'salt' (hot key ≥8x its uniform share AND ≥0.1% of the table),
    'cluster' (uniform fact-scale key — the q13 CLUSTER BY mitigation),
    or 'none' (small table: broadcast). The decision procedure for the
    100 TB layout, pinned cross-engine as a pure projection over the
    report."""
    return skew_ops.recommend_layout(op_join_skew_report(spark, sf_dir))


def _skew_oracle_one(tbl: str, key: str) -> str:
    return f"""
SELECT '{tbl}' AS table_name, '{key}' AS key_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top1_share,
       round((SELECT sum(c) FROM (
                 SELECT c FROM (SELECT {key}, count(*) AS c FROM {tbl}
                                GROUP BY {key})
                 ORDER BY c DESC, {key} LIMIT 10))
             / CAST(sum(c) AS DOUBLE), 6) AS top10_share
FROM (SELECT {key}, count(*) AS c FROM {tbl} GROUP BY {key})
"""


ORACLE_JOIN_SKEW = " UNION ALL ".join(
    _skew_oracle_one(t, k)
    for t, k in [
        ("lineitem", "l_orderkey"),
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ]
)

# layout decision mirrors skew.recommend_layout exactly: skew_ratio from
# the report's ROUNDED top1_share (6dp), thresholds 8x / 0.1% / 10M rows
# (the measured CLUSTER BY crossover, BASELINE §8)
ORACLE_LAYOUT_RECOMMENDATION = f"""
SELECT table_name, key_name, n_rows, n_keys, top1_share, top10_share,
       round(top1_share * n_keys, 3) AS skew_ratio,
       CASE WHEN round(top1_share * n_keys, 3) >= 8.0
                 AND top1_share >= 0.001 THEN 'salt'
            WHEN n_rows >= 10000000 THEN 'cluster'
            ELSE 'none' END AS recommendation
FROM ({ORACLE_JOIN_SKEW}) r
"""


def op_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (value split evenly across all
    window touches) via a day-bucketed range join — the second standard
    attribution model next to op_attribution's last-touch."""
    from .operators import behavior

    return behavior.linear_attribution(
        engine_for(spark, sf_dir).table("events")
    )


ORACLE_LINEAR_ATTRIBUTION = """
WITH convs AS (
  SELECT event_id AS conv_id, user_id AS u,
         epoch_us(ts) AS c_us, value AS val
  FROM events WHERE event_type = 'purchase'
), touches AS (
  SELECT user_id AS u, epoch_us(ts) AS t_us, event_type AS channel
  FROM events WHERE event_type IN ('view', 'click')
), paired AS (
  SELECT c.conv_id, c.val, t.channel
  FROM convs c JOIN touches t
    ON c.u = t.u AND t.t_us < c.c_us
       AND c.c_us - t.t_us <= 7::BIGINT * 86400 * 1000000
), npc AS (
  SELECT conv_id, count(*) AS n_touches FROM paired GROUP BY conv_id
), credited AS (
  SELECT p.channel,
         (CAST(round(p.val, 4) AS DECIMAL(14,4)) * 10000)::BIGINT
             // n.n_touches AS credit_s
  FROM paired p JOIN npc n ON p.conv_id = n.conv_id
), unattributed AS (
  SELECT 'unattributed' AS channel,
         (CAST(round(val, 4) AS DECIMAL(14,4)) * 10000)::BIGINT AS credit_s
  FROM convs c WHERE NOT EXISTS (
      SELECT 1 FROM npc n WHERE n.conv_id = c.conv_id)
), allc AS (
  SELECT * FROM credited UNION ALL SELECT * FROM unattributed
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
       CAST(sum(credit_s) / 10000.0 AS DOUBLE) AS revenue
FROM allc GROUP BY channel
"""


def op_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness audit: events a streaming job would drop at
    each candidate watermark delay — the pick-your-watermark planning
    tool; running event-time max via a DISTRIBUTED two-level prefix
    scan (per-bucket maxima -> tiny prefix table -> within-bucket
    windows), never a single global window."""
    from .operators import behavior

    return behavior.lateness_audit(engine_for(spark, sf_dir).table("events"))


ORACLE_LATENESS_AUDIT = """
WITH run AS (
  SELECT epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS run_max
  FROM events
), late AS (
  SELECT run_max - us AS late_us FROM run
), wm AS (
  SELECT CAST(unnest([0, 300, 1800, 7200]) AS INTEGER) AS watermark_s
)
SELECT watermark_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_us > watermark_s::BIGINT * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       round(sum(CASE WHEN late_us > watermark_s::BIGINT * 1000000
                      THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
           AS drop_share
FROM wm CROSS JOIN late
GROUP BY watermark_s
"""


def op_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law log-log regression over the top-1000 word frequencies —
    the corpus-health slope (~-1 for natural text); ln() rounded 6dp +
    exact-DECIMAL moments keep the fit bit-reproducible."""
    return text_ops.zipf_fit(_docs_wide(spark, sf_dir), top_k=1000)


ORACLE_ZIPF_FIT = """
WITH words AS (
  SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS w
  FROM documents
), freqs AS (
  SELECT w, count(*) AS freq FROM words GROUP BY w
  ORDER BY freq DESC, w LIMIT 1000
), ranked AS (
  SELECT row_number() OVER (ORDER BY freq DESC, w) AS rank, freq
  FROM freqs
), pts AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
  FROM ranked
), m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
           AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4)
           AS intercept
FROM m
"""


def op_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct words at 5
    ingest-order corpus prefixes — the does-more-data-still-buy-vocab
    saturation audit."""
    return text_ops.heaps_curve(_docs_wide(spark, sf_dir), steps=5)


ORACLE_HEAPS_CURVE = """
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
thr AS (
  SELECT i AS step, (m * i) // 5 AS max_id
  FROM mx, unnest(range(1, 6)) AS t(i)
), words AS (
  SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS w
  FROM documents
)
SELECT CAST(t.step AS INTEGER) AS step,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT w.w) AS BIGINT) AS vocab
FROM words w JOIN thr t ON w.doc_id <= t.max_id
GROUP BY t.step
"""


def op_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration curve: for each candidate threshold,
    how many LSH pairs the minhash ESTIMATE would keep vs the EXACT
    Jaccard, with precision/recall of the sketch decision — the
    pre-flight sweep before committing a destructive dedup threshold on
    a new corpus. The per-pair audit is the already-oracled
    minhash_accuracy table; the sweep is a 4-row broadcast cross join +
    one aggregate."""
    acc = dedup.minhash_accuracy(_docs(spark, sf_dir))
    th = local_df(spark, [(0.5,), (0.7,), (0.8,), (0.9,)],
                  T.StructType().add("t", T.DoubleType()))
    j = acc.crossJoin(F.broadcast(th))
    est = F.when(F.col("est_j") >= F.col("t"), 1).otherwise(0)
    exact = F.when(F.col("exact_j") >= F.col("t"), 1).otherwise(0)
    both = F.when(
        (F.col("est_j") >= F.col("t")) & (F.col("exact_j") >= F.col("t")), 1
    ).otherwise(0)
    return j.groupBy("t").agg(
        F.sum(est).cast("long").alias("n_est"),
        F.sum(exact).cast("long").alias("n_exact"),
        F.sum(both).cast("long").alias("n_both"),
        F.round(
            F.sum(both) / F.greatest(F.sum(est), F.lit(1)), 4
        ).alias("precision"),
        F.round(
            F.sum(both) / F.greatest(F.sum(exact), F.lit(1)), 4
        ).alias("recall"),
    )


def op_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (labeled lang x heuristic
    prediction) — where the cheap classifier is trustworthy before
    gating ingest on it."""
    return text_ops.langid_confusion(_docs_wide(spark, sf_dir))


ORACLE_LANGID_CONFUSION = r"""
WITH p AS (
    SELECT lang AS true_lang,
           CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
                WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
                WHEN n_fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
    FROM (
        SELECT lang,
               len(regexp_extract_all(lower(text),
                   '\b(the|and|of|to|is)\b')) AS n_en,
               len(regexp_extract_all(lower(text),
                   '\b(der|die|das|und|ist)\b')) AS n_de,
               len(regexp_extract_all(lower(text),
                   '\b(le|la|les|et|est)\b')) AS n_fr
        FROM documents
    )
), c AS (
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY true_lang, pred_lang
)
SELECT true_lang, pred_lang, n,
       round(n / CAST(sum(n) OVER (PARTITION BY true_lang) AS DOUBLE), 4)
           AS share
FROM c
"""


_AUDIOND_EXPORT = "/root/repo/spark-warehouse/audiodup_assets_export"


def op_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs: loudness-profile fingerprints over
    REAL-decoded PCM -> the SAME banded hamming-LSH blocking as the
    image path (modality symmetry; one pair machinery serves both) ->
    exact hamming confirm (<= 1, guaranteed recall by pigeonhole)."""
    assets = multimodal.synth_assets(spark, _docs(spark, sf_dir)).filter(
        F.col("mime") == "audio/wav"
    )
    assets.select("asset_id", "payload").write.mode("overwrite").parquet(
        _AUDIOND_EXPORT
    )
    persisted = spark.read.parquet(_AUDIOND_EXPORT)
    fps = multimodal.audio_fingerprint(persisted)
    hashes = fps.select(
        "asset_id",
        F.length("energy_bits").cast("int").alias("n_px"),
        F.col("energy_bits").alias("ahash_bits"),
    )
    return multimodal.image_neardup_pairs(hashes, max_hamming=1)


ORACLE_AUDIO_NEARDUP = f"""
WITH a AS (
    SELECT asset_id, hex(payload) AS hx,
           CAST(64 + asset_id % 64 AS INTEGER) AS n
    FROM read_parquet('{_AUDIOND_EXPORT}/*.parquet')
), smp AS (
    SELECT asset_id, n, s,
           ('0x' || substr(hx, 91 + s*4, 2))::INT * 256
             + ('0x' || substr(hx, 89 + s*4, 2))::INT AS u
    FROM a, unnest(range(0, n)) AS t(s)
), ab AS (
    SELECT asset_id, n, (s * 8) // n AS w,
           CASE WHEN u > 32767 THEN 65536 - u ELSE u END AS av
    FROM smp
), wins AS (
    SELECT asset_id, w, sum(av) AS wa
    FROM ab GROUP BY asset_id, w
), tot AS (
    SELECT asset_id, sum(wa) AS ta FROM wins GROUP BY asset_id
), hashes AS (
    SELECT w.asset_id, CAST(8 AS INTEGER) AS n_px,
           string_agg(CASE WHEN w.wa * 8 > t.ta THEN '1' ELSE '0' END,
                      '' ORDER BY w.w) AS bits
    FROM wins w JOIN tot t USING (asset_id)
    GROUP BY w.asset_id, t.ta
), banded AS (
    SELECT asset_id, n_px, bits, b.b AS b,
           CASE WHEN b.b = 0 THEN substr(bits, 1, n_px // 2)
                ELSE substr(bits, n_px // 2 + 1, n_px - n_px // 2)
           END AS bandsig
    FROM hashes, (SELECT unnest(range(0, 2)) AS b) b
), hotband AS (
    -- default-on hot-band guard (max_band=1000), mirrored from
    -- multimodal.image_neardup_pairs
    SELECT n_px, b, bandsig FROM banded
    GROUP BY n_px, b, bandsig HAVING count(*) > 1000
), guarded AS (
    SELECT bd.* FROM banded bd ANTI JOIN hotband h
      ON bd.n_px = h.n_px AND bd.b = h.b AND bd.bandsig = h.bandsig
), pairs AS (
    SELECT DISTINCT x.asset_id AS id_a, y.asset_id AS id_b,
           x.n_px, x.bits AS ba, y.bits AS bb
    FROM guarded x JOIN guarded y
      ON x.n_px = y.n_px AND x.b = y.b AND x.bandsig = y.bandsig
         AND x.asset_id < y.asset_id
)
SELECT id_a, id_b, n_px,
       CAST(len(list_filter(range(1, n_px + 1), i -> ba[i] <> bb[i]))
            AS INTEGER) AS hamming
FROM pairs
WHERE len(list_filter(range(1, n_px + 1), i -> ba[i] <> bb[i])) <= 1
"""


_AUDIO_EXPORT = "/root/repo/spark-warehouse/audiofp_assets_export"


def op_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio loudness-profile fingerprint over REAL stdlib-wave-decoded
    PCM; the DuckDB oracle recomputes the identical integer bits from
    the exported payload bytes (int16 little-endian at the fixed
    44-byte RIFF offset; n_samples = 64 + id % 64 by construction) —
    the audio counterpart of op_image_phash's pixel-level check."""
    assets = multimodal.synth_assets(spark, _docs(spark, sf_dir)).filter(
        F.col("mime") == "audio/wav"
    )
    assets.select("asset_id", "payload").write.mode("overwrite").parquet(
        _AUDIO_EXPORT
    )
    persisted = spark.read.parquet(_AUDIO_EXPORT)
    return multimodal.audio_fingerprint(persisted)


ORACLE_AUDIO_FINGERPRINT = f"""
WITH a AS (
    SELECT asset_id, hex(payload) AS hx,
           CAST(64 + asset_id % 64 AS INTEGER) AS n
    FROM read_parquet('{_AUDIO_EXPORT}/*.parquet')
), smp AS (
    SELECT asset_id, n, s,
           ('0x' || substr(hx, 91 + s*4, 2))::INT * 256
             + ('0x' || substr(hx, 89 + s*4, 2))::INT AS u
    FROM a, unnest(range(0, n)) AS t(s)
), ab AS (
    SELECT asset_id, n, (s * 8) // n AS w,
           CASE WHEN u > 32767 THEN 65536 - u ELSE u END AS av
    FROM smp
), wins AS (
    SELECT asset_id, any_value(n) AS n, w, sum(av) AS wa
    FROM ab GROUP BY asset_id, w
), tot AS (
    SELECT asset_id, sum(wa) AS ta FROM wins GROUP BY asset_id
)
SELECT w.asset_id,
       CAST(any_value(w.n) AS INTEGER) AS n_samples,
       CAST(t.ta AS BIGINT) AS total_abs,
       string_agg(CASE WHEN w.wa * 8 > t.ta THEN '1' ELSE '0' END,
                  '' ORDER BY w.w) AS energy_bits
FROM wins w JOIN tot t USING (asset_id)
GROUP BY w.asset_id, t.ta
"""


def op_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = engine_for(spark, sf_dir)
    orders = eng.table("orders").filter(F.col("o_custkey") <= 500).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    events = eng.table("events").select("user_id", "ts", "value")
    joined = asof_ops.asof_join(
        orders.withColumnRenamed("o_custkey", "user_id"),
        events,
        key="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
    )
    return joined.select(
        "o_orderkey",
        F.col("user_id").alias("o_custkey"),
        "o_orderdate",
        F.round("value", 4).alias("event_value"),
        F.col("ts_matched").alias("event_ts"),
    )


def op_similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeds(spark, sf_dir)
    dim = len(_query_vec(spark, sf_dir))
    vec = _query_vec(spark, sf_dir)
    cents = similarity.ivf_centroids(emb, dim, k=8, iters=1)
    ann = similarity.ivf_topk(emb, vec, cents, k=10)
    exact = similarity.brute_force_topk(emb, vec, k=10).select("vec_id")
    return _recall_relation(ann, exact, min_hits=9)


def op_similarity_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the 'filtered ANN' problem):
    top-k cosine among vectors whose joined document is English. The
    PRE-filter strategy — the predicate lands on the metadata table and
    prunes candidates BEFORE any distance math — which at scale beats
    post-filtering an ANN result that can come back with fewer than k
    survivors when the filter is selective. Exact value oracle."""
    eng = engine_for(spark, sf_dir)
    emb = eng.table("embeddings")
    en_ids = (
        eng.table("documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    cand = emb.join(en_ids, "vec_id")
    vec = _query_vec(spark, sf_dir)
    out = similarity.brute_force_topk(cand, vec, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


ORACLE_SIM_FILTERED = """
SELECT e.vec_id,
       round(list_cosine_similarity(
           e.embedding,
           (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4)
           AS cosine
FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
WHERE d.lang = 'en'
ORDER BY list_cosine_similarity(
           e.embedding,
           (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
         e.vec_id
LIMIT 10
"""


def op_similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (coarse-cell pruning -> PQ asymmetric-distance
    table lookups -> exact re-rank of the 60-candidate shortlist) bound
    to the exact top-10: measured 8/10 at sf0.001 AND sf0.01 (the PQ
    shortlist drops 2 wide-angle neighbors — cosine≈0.3 on this
    fixture, see lsh_topk), pinned >=7 with margin 1."""
    emb = _embeds(spark, sf_dir)
    vec = _query_vec(spark, sf_dir)
    dim = len(vec)
    cents = similarity.ivf_centroids(emb, dim, k=8, iters=1)
    books = similarity.pq_codebooks(emb, dim, m_sub=4, k=8, iters=1)
    ann = similarity.ivfpq_topk(
        emb, vec, cents, books, k=10, nprobe=4, refine=60
    )
    exact = similarity.brute_force_topk(emb, vec, k=10).select("vec_id")
    return _recall_relation(ann, exact, min_hits=7)


def op_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = engine_for(spark, sf_dir)
    part = eng.table("part")
    left = part.select(
        F.col("p_partkey").alias("left_part"),
        "p_brand",
        (F.col("p_retailprice") - 10).alias("lo"),
        (F.col("p_retailprice") + 10).alias("hi"),
    )
    right = part.select(
        F.col("p_partkey").alias("right_part"),
        F.col("p_brand").alias("r_brand"),
        F.col("p_retailprice").alias("price"),
    ).withColumnRenamed("r_brand", "p_brand")
    joined = asof_ops.range_join(
        left, right, key="p_brand", left_lo="lo", left_hi="hi",
        right_val="price", bucket_width=10.0,
    )
    return joined.filter(F.col("left_part") != F.col("right_part")).select(
        "left_part", "right_part"
    ).distinct()


def op_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join over bucketed-at-rest tables (zero
    exchanges on the join — asserted by tests/test_plans.py). The bucket
    write itself shuffles once; every subsequent join on the key is free."""
    from .sources import bucketed

    eng = engine_for(spark, sf_dir)
    orders = eng.table("orders").select(
        F.col("o_orderkey").alias("k"), "o_custkey"
    )
    li = eng.table("lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    bo = bucketed.write_bucketed(orders, "wl_bkt_orders", ["k"], 8)
    bl = bucketed.write_bucketed(li, "wl_bkt_lineitem", ["k"], 8)
    j = bucketed.colocated_join(bo, bl, on=["k"])
    return (
        j.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.col("n_items") > 20)
    )


def op_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import stateful as st
    from .streaming import windows as sw

    stream = sw.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    out = st.running_user_stats(stream)
    name = f"stream_stateful_{abs(hash(sf_dir)) % 10_000}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # single availableNow pass over a finite source -> one row per user;
    # drop the ema column for the oracle compare (EMA is order-dependent
    # within a batch and has no SQL equivalent)
    return spark.table(name).select("user_id", "n_events", "total")


def op_stream_warehouse_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest E2E: the events backlog streams (bounded
    micro-batches) through the exactly-once foreachBatch sink into a
    durable warehouse table — appends commit one immutable segment + the
    batch watermark atomically per micro-batch. The checkpointed query
    is then RESTARTED over the same (fully consumed) source: the replay
    protection means zero new rows, so the final table equals one clean
    pass — which is exactly the DuckDB oracle's batch view."""
    import tempfile

    from .sources.warehouse import DurableWarehouse
    from .streaming import sink as sk
    from .streaming import windows as sw

    root = tempfile.mkdtemp(prefix="ddbspark_sinkwh_")
    wh = DurableWarehouse(root)
    ckpt = os.path.join(root, "_ckpt")

    def run_once() -> None:
        stream = sw.read_events_stream(
            spark,
            os.path.join(sf_dir, "events.parquet"),
            max_files_per_trigger=1,
        )
        proj = stream.select("event_id", "event_type", "value")
        q = sk.stream_to_table(spark, wh, proj, "events_ingest", ckpt)
        q.awaitTermination(300)

    run_once()
    run_once()  # restart: source fully consumed + idempotent sink -> no-op
    df = wh.load_df(spark, "events_ingest")
    return df.groupBy("event_type").agg(
        F.count("*").cast("int").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.count_distinct(F.col("event_id")).cast("int").alias("n_ids"),
    )


ORACLE_STREAM_SINK = """
SELECT event_type, CAST(count(*) AS INTEGER) AS n,
       round(sum(value), 4) AS total_value,
       CAST(count(DISTINCT event_id) AS INTEGER) AS n_ids
FROM events GROUP BY event_type
"""


def op_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-row-per-key ingest: the events backlog streams
    through the exactly-once UPSERT sink keyed by user_id (latest ts,
    event_id tiebreak); a checkpointed restart over the consumed source
    is a no-op, and the final table equals the batch latest-per-key
    query — the DuckDB oracle."""
    import tempfile

    from .sources.warehouse import DurableWarehouse
    from .streaming import sink as sk
    from .streaming import windows as sw

    root = tempfile.mkdtemp(prefix="ddbspark_cdcwh_")
    wh = DurableWarehouse(root)
    ckpt = os.path.join(root, "_ckpt")

    def run_once() -> None:
        stream = sw.read_events_stream(
            spark,
            os.path.join(sf_dir, "events.parquet"),
            max_files_per_trigger=1,
        )
        proj = stream.select("user_id", "ts", "event_type", "value", "event_id")
        q = sk.stream_upsert_to_table(
            spark, wh, proj, "user_latest", ["user_id"], "ts", ckpt,
            tiebreak_cols=["event_id"],
        )
        q.awaitTermination(300)

    run_once()
    run_once()  # restart: consumed source + idempotent sink -> no-op
    df = wh.load_df(spark, "user_latest")
    return df.select(
        "user_id", "ts", "event_type",
        F.round("value", 4).alias("value_r"),
        F.col("event_id").cast("long").alias("event_id"),
    )


ORACLE_STREAM_UPSERT = """
SELECT user_id, ts, event_type, round(value, 4) AS value_r, event_id
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def op_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as sw

    stream = sw.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = sw.tumbling_agg(stream, window="1 hour", watermark="2 hours")
    name = f"stream_tumbling_{abs(hash(sf_dir)) % 10_000}"
    return sw.run_stream_to_memory(agg, name, mode="complete")


def op_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as sw

    stream = sw.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = sw.sliding_agg(stream, window="1 hour", slide="30 minutes",
                         watermark="2 hours")
    name = f"stream_sliding_{abs(hash(sf_dir)) % 10_000}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def op_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as sw

    path = os.path.join(sf_dir, "events.parquet")
    stream = sw.read_events_stream(spark, path)
    joined = sw.stream_stream_join(stream, within="30 minutes")
    name = f"stream_join_{abs(hash(sf_dir)) % 10_000}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def op_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as sw

    stream = sw.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = sw.session_agg(stream, gap="30 minutes", watermark="2 hours")
    name = f"stream_session_{abs(hash(sf_dir)) % 10_000}"
    return sw.run_stream_to_memory(agg, name, mode="complete")


ORACLE_STREAM_DEDUP = """
SELECT event_id, user_id, event_type FROM events
"""


def op_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming exact dedup: the SAME backlog read
    twice (two file-source streams unioned — every event arrives exactly
    twice) must emit each key once. Oracle: the distinct key set, i.e.
    the events table itself."""
    from .streaming import dedup as sd
    from .streaming import windows as sw

    path = os.path.join(sf_dir, "events.parquet")
    doubled = sw.read_events_stream(spark, path).union(
        sw.read_events_stream(spark, path)
    )
    out = sd.dedup_exact_stream(
        doubled, key_cols=("event_id",), watermark="2 hours"
    ).select("event_id", "user_id", "event_type")
    name = f"stream_dedup_{abs(hash(sf_dir)) % 10_000}"
    return sd.run_available_now(out, spark, name)


def op_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming NEAR-dup: the SAME document backlog
    read twice (every doc arrives exactly twice) deduped on the full
    16-slot minhash signature — each distinct signature emits once.
    Event time is synthesized deterministically from doc_id (the
    documents table carries no timestamp). Oracle: the distinct
    signature set computed by DuckDB's replay of the md5 minhash."""
    from .streaming import dedup as sd

    path = os.path.join(sf_dir, "documents.parquet")
    doubled = sd.read_documents_stream(spark, path).union(
        sd.read_documents_stream(spark, path)
    )
    # +1e6s keeps every synthesized event time strictly above the
    # initial watermark (epoch 0) — doc_id 0 at exactly epoch 0 is
    # treated as late by dropDuplicatesWithinWatermark and silently
    # dropped before it ever emits. doc_id % 3600 folds ALL event times
    # into half the 2-hour watermark horizon: parity with the oracle (a
    # global DISTINCT) must not depend on corpus size — raw doc_id
    # seconds would let two same-signature docs >7200 ids apart land in
    # different micro-batches and re-emit after state eviction.
    doubled = doubled.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 3600 + 1_000_000)
    )
    out = sd.neardup_stream(doubled).select("sig")
    name = f"stream_neardup_{abs(hash(sf_dir)) % 10_000}"
    return sd.run_available_now(out, spark, name)


# the distinct full-signature set: same shingles, same 16 md5-min slots,
# same one-band md5 over the '|'-joined signature as minhash_bands_udf
ORACLE_STREAM_NEARDUP = f"""
WITH sh AS ({_SHINGLES}),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, 16),
               p -> list_min(list_transform(shingles, s -> md5(p || ':' || s)))) AS sig
    FROM sh
)
SELECT DISTINCT md5(array_to_string(sig, '|')) AS sig FROM sigs
"""


def op_stream_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming text profiling — identical expressions to the
    batch op_text_profile, so the SAME oracle pins both; proves the text
    pipeline runs unchanged over continuous ingest."""
    from .streaming import dedup as sd

    docs = sd.read_documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    prof = sd.profile_stream(docs).select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "punct_ratio",
        "fingerprint",
    )
    name = f"stream_doc_profile_{abs(hash(sf_dir)) % 10_000}"
    return sd.run_available_now(prof, spark, name)


def op_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming n-gram decontamination over continuous document ingest
    — the batch op_decontaminate hygiene gate applied at ingest time.
    Eval grams collapse to one broadcast array row; per-doc hits are a
    stateless map-only array_intersect, so no watermark/state store is
    needed and the finite backlog emits row-identical to batch: the
    SAME oracle (ORACLE_DECONTAMINATE) pins both."""
    from .streaming import dedup as sd

    docs_stream = sd.read_documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    train_stream = docs_stream.filter(F.col("doc_id") % 17 != 3)
    eval_set = _docs(spark, sf_dir).filter(F.col("doc_id") % 17 == 3)
    out = sd.decontaminate_stream(train_stream, eval_set, n=8)
    name = f"stream_decontaminate_{abs(hash(sf_dir)) % 10_000}"
    return sd.run_available_now(out, spark, name)


def op_stream_bloom_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Bloom-filter decontamination at ingest time: the batch
    op_bloom_decontaminate gate with the 4096-bit filter broadcast into
    every micro-batch — constant-size state however large the eval
    suite. Stateless map-only; finite backlog emits row-identical to
    batch, so the SAME oracle (ORACLE_BLOOM_DECONTAMINATE) pins both,
    deterministic false positives included."""
    from .streaming import dedup as sd

    docs_stream = sd.read_documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    train_stream = docs_stream.filter(F.col("doc_id") % 17 != 3)
    eval_set = _docs(spark, sf_dir).filter(F.col("doc_id") % 17 == 3)
    out = sd.bloom_decontaminate_stream(train_stream, eval_set, n=8)
    name = f"stream_bloom_decon_{abs(hash(sf_dir)) % 10_000}"
    return sd.run_available_now(out, spark, name)


# --- duplicate-cluster assignment: minhash-LSH pairs -> connected
# components (iterative min-label propagation on Spark; min reachable id
# via recursive CTE in DuckDB — same algebra, full convergence) ----------
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({ORACLE_MINHASH_LSH}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, lab) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
"""

# md5-bucket construction shared by sampling/packing oracles: identical
# to operators.sampling.hash_bucket (15 hex digits -> BIGINT, exact in
# both engines)
def _DDB_BUCKET(seed: str) -> str:
    return (
        f"('0x' || substr(md5('{seed}' || CAST(doc_id AS VARCHAR)), 1, 15))"
        "::BIGINT % 10000"
    )


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang FROM documents
WHERE {_DDB_BUCKET('strat')} < CAST(round(
    CASE lang WHEN 'de' THEN 0.8 WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0
              ELSE 0.25 END * 10000) AS BIGINT)
"""

ORACLE_TRAIN_VAL_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_DDB_BUCKET('split')} < 1000
            THEN 'val' ELSE 'train' END AS split
FROM documents
"""

ORACLE_SHUFFLE_SHARDS = """
WITH h AS (
    SELECT doc_id, md5('shuf' || CAST(doc_id AS VARCHAR)) AS hk
    FROM documents
),
s AS (
    SELECT doc_id, hk,
           CAST(('0x' || substr(hk, 1, 15))::BIGINT % 8 AS INTEGER) AS shard
    FROM h
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hk) AS INTEGER)
         AS pos
FROM s
"""

_DDB_PACK_BASE = f"""
    SELECT doc_id,
           CAST({_DDB_BUCKET('pack')} % 8 AS INTEGER) AS shard,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
             AS n_tokens
    FROM documents
"""

ORACLE_PACK_CHUNKS = f"""
WITH t AS ({_DDB_PACK_BASE}),
c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens AS strt
    FROM t
)
SELECT doc_id, shard, n_tokens,
       CAST(strt // 512 AS INTEGER) AS chunk,
       CAST(strt % 512 AS INTEGER) AS "offset"
FROM c
"""

ORACLE_PACK_FIRST_FIT = f"""
WITH RECURSIVE t AS ({_DDB_PACK_BASE}),
o AS (
    SELECT doc_id, shard, n_tokens,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                AS INTEGER) AS rn
    FROM t
),
packed AS (
    SELECT shard, doc_id, n_tokens, rn, 0 AS bin, n_tokens AS fill
    FROM o WHERE rn = 1
    UNION ALL
    SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
           CASE WHEN p.fill + o.n_tokens <= 512 THEN p.bin
                ELSE p.bin + 1 END,
           CASE WHEN p.fill + o.n_tokens <= 512 THEN p.fill + o.n_tokens
                ELSE o.n_tokens END
    FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens,
       CAST(bin AS INTEGER) AS bin, CAST(fill AS INTEGER) AS fill
FROM packed
"""


def op_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_clusters(_docs(spark, sf_dir))


def op_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sampling: weight is a
    content-derived integer so the DuckDB twin replays the exact draw."""
    docs = _docs(spark, sf_dir)
    w = (F.length("text") % 97 + 1).cast("double")
    return sampling.weighted_sample(docs, w, k=25, seed="ws1")


ORACLE_SAMPLE_WEIGHTED = r"""
SELECT doc_id, weight, skey FROM (
  SELECT doc_id,
         round(CAST(length(text) % 97 + 1 AS DOUBLE), 4) AS weight,
         round(ln((('0x' || substr(md5('ws1' || CAST(doc_id AS VARCHAR)),
                                   1, 15))::BIGINT + 1)
                  / 1152921504606846977.0)
               / CAST(length(text) % 97 + 1 AS DOUBLE), 8) AS skey
  FROM documents) t
ORDER BY skey DESC, doc_id LIMIT 25
"""


_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.1, "src3": 0.5}


def op_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted corpus mixing: ~60 docs at the target source
    mixture, availability-capped (src3's 0.5 weight wants more docs
    than exist -> rate caps at 1.0). Map-only filter + one broadcast
    counts row per domain; oracle replays the float arithmetic."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return sampling.domain_mix(
        docs, "source", _MIX_WEIGHTS, total=60, key_col="doc_id",
        default_weight=0.02,
    )


ORACLE_DOMAIN_MIX = f"""
WITH cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY source)
SELECT d.doc_id, d.source
FROM documents d JOIN cnt ON cnt.source = d.source
WHERE {_DDB_BUCKET('mix')}
      < CAST(floor(least(1.0, 60.0 * CASE d.source
              WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
              WHEN 'src2' THEN 0.1 WHEN 'src3' THEN 0.5
              ELSE 0.02 END / c) * 10000) AS BIGINT)
"""


def op_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling over the documents table
    (τ=0.7, ~200 docs): en's natural majority is down-weighted and the
    tail languages up-weighted, the standard multilingual mixing step.
    Map-only filter; the oracle replays pow -> round(6) -> DECIMAL
    normalization in the identical order."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return sampling.temperature_mix(
        docs, "lang", temperature=0.7, total=200, key_col="doc_id",
    )


ORACLE_TEMPERATURE_MIX = f"""
WITH cnt AS (
    SELECT lang, count(*) AS c FROM documents GROUP BY lang
), n AS (
    SELECT sum(c) AS nn FROM cnt
), q AS (
    SELECT lang, c,
           CAST(round(pow(CAST(c AS DOUBLE) / nn, 0.7), 6)
                AS DECIMAL(10,6)) AS q
    FROM cnt, n
), z AS (
    SELECT sum(q) AS zz FROM q
), rates AS (
    SELECT lang,
           least(1.0, round(200.0 * (CAST(q AS DOUBLE) / CAST(zz AS DOUBLE))
                            / c, 6)) AS rate
    FROM q, z
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON r.lang = d.lang
WHERE ('0x' || substr(md5('tmix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 10000
      < CAST(floor(r.rate * 10000) AS BIGINT)
"""


def op_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        "lang",
        {"de": 0.8, "en": 0.5, "zh": 1.0},
        "doc_id",
        default_rate=0.25,
    )


def op_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.train_val_split(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", 0.1
    )


def op_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.shuffle_shards(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", 8
    )


def op_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_concat_chunks(_docs(spark, sf_dir), 512)


def op_pack_first_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_first_fit(_docs(spark, sf_dir), 512)


# video frame sampling: the decode-free half of the video pipeline — one
# output row per sampled frame timestamp (sequence+explode plan surgery,
# multimodal.frame_sample_plan). Payload decode stays behind the codec
# seam; the PLAN (which frames a cluster would decode) is fully testable
# and oracle-checkable via DuckDB's lateral generate_series.
ORACLE_MM_FRAME_SAMPLE = """
SELECT doc_id AS asset_id,
       unnest(generate_series(0, ((doc_id % 7 + 1) * 1000)::BIGINT, 500))
           ::INTEGER AS frame_ms
FROM documents
"""


def op_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    vids = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        ((F.col("doc_id") % 7 + 1) * 1000).cast("int").alias("duration_ms"),
    )
    plan = multimodal.frame_sample_plan(vids, every_ms=500)
    return plan.select("asset_id", F.col("frame_ms").cast("int").alias("frame_ms"))


# BM25 keyword search: corpus scanned twice, zero shuffles (per-term tf
# is a map-side array expression; (N, avgdl, df_t) reduce to ONE broadcast
# row); ranking on round(score, 6) + doc-id tiebreak makes the k-boundary
# deterministic across engines. Oracle mirrors the formula text exactly.
_BM25_TERMS = ["window", "merge", "scan"]


def op_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=10)


ORACLE_TEXT_BM25 = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents
), base AS (
  SELECT doc_id, len(tokens) AS dl,
         len(list_filter(tokens, x -> x = 'window')) AS tf0,
         len(list_filter(tokens, x -> x = 'merge')) AS tf1,
         len(list_filter(tokens, x -> x = 'scan')) AS tf2
  FROM toks
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
)
SELECT doc_id,
  round(
      ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * tf0 * 2.2
        / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * 2.2
        / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * 2.2
        / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
  , 6) AS bm25
FROM base, stats
WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
ORDER BY bm25 DESC, doc_id LIMIT 10
"""


def op_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # map-spread: 3.8s -> 1.1s at sf1 (JVM gram battery)
    return text_ops.repetition_profile(_docs_wide(spark, sf_dir))


def op_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # map-spread: 6.8s -> 1.9s at sf1 (JVM chunk battery)
    return text_ops.dup_chunk_profile(_docs_wide(spark, sf_dir))


def op_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # target distribution = the English subset; score every corpus doc
    # by how English-bigram-like its hashed feature profile is
    return sampling.dsir_weights(
        _docs(spark, sf_dir), target_filter=F.col("lang") == "en"
    )


# DSIR importance weights: the DuckDB twin replays the hashed-bigram
# bucketing (same md5->BIGINT path the sampling oracles pin), add-one
# smoothing, and the DECIMAL(14,6) log-ratio fold
ORACLE_DSIR_SELECT = r"""
WITH w AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
), g AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15))
              AS BIGINT) % 256 AS b
  FROM w, unnest(range(1, len(ws))) AS t(i)
), db AS (
  SELECT doc_id, b, count(*) AS c, any_value(is_t) AS t
  FROM g GROUP BY doc_id, b
), bk AS (
  SELECT b, sum(c) AS cc, sum(CASE WHEN t THEN c ELSE 0 END) AS tc
  FROM db GROUP BY b
), tot AS (
  SELECT sum(cc) AS cn, sum(tc) AS tn FROM bk
), r AS (
  SELECT b, CAST(round(ln((tc + 1) / (tn + 256))
                     - ln((cc + 1) / (cn + 256)), 6)
                 AS DECIMAL(14,6)) AS lr
  FROM bk, tot
)
SELECT doc_id,
       round(CAST(sum(c * lr) AS DOUBLE), 4) AS log_weight,
       CAST(sum(c) AS INTEGER) AS n_grams
FROM db JOIN r USING (b)
GROUP BY doc_id
ORDER BY log_weight DESC, doc_id
LIMIT 50
"""


def op_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_histogram(_docs_wide(spark, sf_dir))


def op_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_int8(
        engine_for(spark, sf_dir).table("embeddings")
    )


# paragraph(chunk)-level cross-document duplication: same 10-word
# non-overlapping windows, same md5 fingerprints, same two-level
# (doc,hash)->(hash) counting — the DuckDB twin replays the algebra
ORACLE_DEDUP_PARAGRAPH = r"""
WITH w AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS words
  FROM documents
), c AS (
  SELECT doc_id,
         md5(array_to_string(words[(i-1)*10+1 : (i-1)*10+10], ' ')) AS h
  FROM w, unnest(range(1,
        greatest(CAST(ceil(len(words) / 10.0) AS INTEGER), 1) + 1)) AS t(i)
), dh AS (
  SELECT doc_id, h, count(*) AS occ FROM c GROUP BY doc_id, h
), hh AS (
  SELECT h, count(*) AS nd FROM dh GROUP BY h
)
SELECT doc_id,
       CAST(sum(occ) AS INTEGER) AS n_chunks,
       CAST(sum(CASE WHEN nd > 1 THEN occ ELSE 0 END) AS INTEGER)
           AS dup_chunks,
       round(sum(CASE WHEN nd > 1 THEN occ ELSE 0 END) / sum(occ), 4)
           AS dup_ratio
FROM dh JOIN hh USING (h)
GROUP BY doc_id
"""


# exact discrete quantiles from the bounded (lang, word_count) histogram —
# the same two-level aggregate the Spark operator runs (NOT quantile_disc:
# both engines replay the identical ceil(q*n) running-count rule)
ORACLE_TOKEN_HISTOGRAM = r"""
WITH wc AS (
  SELECT lang, len(string_split_regex(trim(text), '\s+')) AS wc
  FROM documents
), cnt AS (
  SELECT lang, wc, count(*) AS c FROM wc GROUP BY lang, wc
), cum AS (
  SELECT lang, wc, c,
         sum(c) OVER (PARTITION BY lang ORDER BY wc) AS cum,
         sum(c) OVER (PARTITION BY lang) AS tot
  FROM cnt
)
SELECT lang,
       CAST(max(tot) AS INTEGER) AS n_docs,
       CAST(min(CASE WHEN cum >= ceil(0.25 * tot) THEN wc END) AS INTEGER) AS p25,
       CAST(min(CASE WHEN cum >= ceil(0.5 * tot) THEN wc END) AS INTEGER) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.75 * tot) THEN wc END) AS INTEGER) AS p75,
       CAST(min(CASE WHEN cum >= ceil(0.9 * tot) THEN wc END) AS INTEGER) AS p90,
       round(sum(wc * c) / max(tot), 4) AS avg_words
FROM cum
GROUP BY lang
"""


# int8 quantization audit: integer aggregates are exact in both engines;
# the error fold repeats the same left-to-right double arithmetic
# (multiplication instead of pow() — libm pow differs between JVM and C)
ORACLE_EMBED_QUANTIZE = r"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                  1e-12) AS scale
  FROM v
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) AS q
  FROM s
)
SELECT vec_id,
       round(scale, 8) AS scale_r,
       CAST(list_sum(q) AS INTEGER) AS q_sum,
       CAST(list_min(q) AS INTEGER) AS q_min,
       CAST(list_max(q) AS INTEGER) AS q_max,
       round(sqrt(list_sum(list_transform(range(len(v)),
                 i -> (v[i+1] - q[i+1]*scale) * (v[i+1] - q[i+1]*scale)))
             / len(v)), 8) AS err_rms
FROM q
"""


def op_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-crawl incremental dedup: docs with doc_id % 3 = 0 play
    the previously-ingested snapshot, the rest the new batch."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup.incremental_dedup(new, ref)


# incremental dedup: the DuckDB twin replays the normalized-text md5
# fingerprints, the reference-membership join, and the within-batch
# keep-first window (same (fp, doc_id) order)
ORACLE_INCREMENTAL_DEDUP = f"""
WITH ref AS (
    SELECT DISTINCT md5({_NORM}) AS fp
    FROM documents WHERE doc_id % 3 = 0
), nb AS (
    SELECT doc_id, md5({_NORM}) AS fp
    FROM documents WHERE doc_id % 3 <> 0
), r AS (
    SELECT nb.doc_id, nb.fp, (ref.fp IS NOT NULL) AS in_ref,
           row_number() OVER (PARTITION BY nb.fp ORDER BY nb.doc_id) AS rn
    FROM nb LEFT JOIN ref ON ref.fp = nb.fp
)
SELECT doc_id, fp,
       CASE WHEN in_ref THEN 'dup_of_reference'
            WHEN rn = 1 THEN 'kept'
            ELSE 'dup_in_batch' END AS status
FROM r
"""


def op_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_quantize(
        _embeds(spark, sf_dir), m_sub=4, k=8, iters=2
    )


# product quantization replay: the DuckDB twin runs the IDENTICAL
# per-subspace deterministic k-means (seeds = first 8 ids by md5 order,
# each sliced into four 16-dim subvectors; 2 fixed Lloyd iterations;
# exact-DECIMAL distances over 6-dp-quantized vectors; ties -> lower
# code) and emits the same '-'-joined code word and the exact-DECIMAL
# reconstruction error cast to DOUBLE (no intermediate float rounding
# on either engine).
ORACLE_PQ_QUANTIZE = r"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6))) AS vq
  FROM embeddings
), sr AS (
  SELECT vec_id,
         row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM e
), c0 AS (
  SELECT s, sr.rn - 1 AS cid, e.vq[s*16+1 : s*16+16] AS cv
  FROM sr JOIN e USING (vec_id), unnest(range(0, 4)) AS t(s)
  WHERE sr.rn <= 8
), d1 AS (
  SELECT e.vec_id, c.s, c.cid,
         sum((e.vq[c.s*16+i] - c.cv[i]) * (e.vq[c.s*16+i] - c.cv[i]))
             AS dist
  FROM e CROSS JOIN c0 c, unnest(range(1, 17)) AS t(i)
  GROUP BY e.vec_id, c.s, c.cid
), a1 AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, cid) AS rn
    FROM d1) t WHERE rn = 1
), m1 AS (
  SELECT a1.s, a1.cid, i AS ld,
         CAST(CAST(sum(e.vq[a1.s*16+i]) AS DOUBLE) / count(*)
              AS DECIMAL(12,6)) AS m
  FROM a1 JOIN e USING (vec_id), unnest(range(1, 17)) AS t(i)
  GROUP BY a1.s, a1.cid, i
), c1 AS (
  SELECT s, cid, array_agg(m ORDER BY ld) AS cv FROM m1 GROUP BY s, cid
), d2 AS (
  SELECT e.vec_id, c.s, c.cid,
         sum((e.vq[c.s*16+i] - c.cv[i]) * (e.vq[c.s*16+i] - c.cv[i]))
             AS dist
  FROM e CROSS JOIN c1 c, unnest(range(1, 17)) AS t(i)
  GROUP BY e.vec_id, c.s, c.cid
), a2 AS (
  SELECT vec_id, s, cid, dist FROM (
    SELECT vec_id, s, cid, dist,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, cid) AS rn
    FROM d2) t WHERE rn = 1
)
SELECT vec_id,
       array_to_string(array_agg(CAST(cid AS VARCHAR) ORDER BY s), '-')
           AS code_str,
       CAST(sum(dist) AS DOUBLE) AS err
FROM a2 GROUP BY vec_id
"""


def op_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.semantic_dedup(
        _embeds(spark, sf_dir), k=8, iters=2, threshold=0.9
    )


# SemDeDup replay: the DuckDB twin runs the IDENTICAL deterministic
# k-means (seeds = first 8 ids by md5 order; 2 fixed Lloyd iterations;
# exact-DECIMAL distances over 6-dp-quantized vectors so assignment can
# never diverge on a float ulp; ties -> lower centroid id) and the same
# intra-cluster cosine pass (round 4, threshold 0.9). Distances sum via
# unnest+GROUP BY (DECIMAL aggregation is exact and order-independent
# in both engines).
ORACLE_SEMANTIC_DEDUP = r"""
WITH e AS (
  SELECT vec_id, embedding AS v,
         list_transform(embedding,
             x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6))) AS vq
  FROM embeddings
), sr AS (
  SELECT vec_id,
         row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM e
), c0 AS (
  SELECT sr.rn - 1 AS cid, e.vq AS cv
  FROM sr JOIN e USING (vec_id) WHERE sr.rn <= 8
), d1 AS (
  SELECT e.vec_id, c.cid,
         sum((e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i])) AS dist
  FROM e CROSS JOIN c0 c, unnest(range(1, 65)) AS t(i)
  GROUP BY e.vec_id, c.cid
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM d1) t WHERE rn = 1
), m1 AS (
  SELECT a1.cid, i AS dim,
         CAST(CAST(sum(e.vq[i]) AS DOUBLE) / count(*) AS DECIMAL(12,6))
             AS m
  FROM a1 JOIN e USING (vec_id), unnest(range(1, 65)) AS t(i)
  GROUP BY a1.cid, i
), c1 AS (
  SELECT cid, array_agg(m ORDER BY dim) AS cv FROM m1 GROUP BY cid
), d2 AS (
  SELECT e.vec_id, c.cid,
         sum((e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i])) AS dist
  FROM e CROSS JOIN c1 c, unnest(range(1, 65)) AS t(i)
  GROUP BY e.vec_id, c.cid
), a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM d2) t WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.9
), dup AS (
  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM pairs GROUP BY id_b
)
SELECT a2.vec_id, CAST(a2.cid AS INTEGER) AS cluster_id,
       dup.dup_of, dup.dup_of IS NOT NULL AS is_dup
FROM a2 LEFT JOIN dup USING (vec_id)
"""


def op_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.quality_classifier(_docs_wide(spark, sf_dir))


# fixed-weight linear quality classifier: every feature is RATIONAL
# arithmetic (no exp/ln — libm last-ulp behavior differs between the
# JVM and DuckDB), so with identical operand order both engines produce
# bit-identical doubles; the CASE chain's first-match rule mirrors the
# engine's when() chain for the weakest-feature reason
ORACLE_QUALITY_CLASSIFIER = r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS nc,
         len(string_split_regex(trim(text), '\s+')) AS wc,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b'))
             AS stops,
         len(regexp_extract_all(text, '[0-9]')) AS digits,
         round((length(text) -
                length(regexp_replace(text, '[^\w\s]', '', 'g'))) /
               greatest(length(text), 1), 4) AS punct_ratio
  FROM documents
), c AS (
  SELECT doc_id,
         0.20 * least(nc / 2000.0, 1.0) AS c_len,
         0.15 * least(wc / 300.0, 1.0) AS c_words,
         0.15 * (1.0 - least(abs(nc / greatest(wc, 1) - 5.5) / 5.5, 1.0))
             AS c_word_len,
         0.25 * least(stops * 3.0 / greatest(wc, 1), 1.0) AS c_stopwords,
         0.10 * (1.0 - least(digits * 4.0 / greatest(nc, 1), 1.0))
             AS c_digits,
         0.15 * (1.0 - least(punct_ratio * 5, 1.0)) AS c_punct
  FROM f
)
SELECT doc_id,
       round(c_len + c_words + c_word_len + c_stopwords + c_digits
             + c_punct, 4) AS score,
       round(c_len + c_words + c_word_len + c_stopwords + c_digits
             + c_punct, 4) >= 0.55 AS keep,
       CASE
         WHEN c_len <= least(c_words, c_word_len, c_stopwords, c_digits,
                             c_punct) THEN 'len'
         WHEN c_words <= least(c_word_len, c_stopwords, c_digits,
                               c_punct) THEN 'words'
         WHEN c_word_len <= least(c_stopwords, c_digits, c_punct)
             THEN 'word_len'
         WHEN c_stopwords <= least(c_digits, c_punct) THEN 'stopwords'
         WHEN c_digits <= c_punct THEN 'digits'
         ELSE 'punct'
       END AS reason
FROM c
"""


def op_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # map-spread: 2.9s -> 2.2s at sf1
    return text_ops.unigram_logprob(_docs_wide(spark, sf_dir))


# CCNet-style unigram LM scoring: logprobs round to 6 digits and sum as
# DECIMAL(12,6) — exact order-independent addition, so Spark's
# distributed partials hash-match DuckDB's sequential fold
ORACLE_TEXT_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents
), words AS (
  SELECT doc_id, unnest(tokens) AS w FROM toks
), vocab AS (
  SELECT w, count(*) AS c FROM words GROUP BY w
), tot AS (
  SELECT sum(c) AS t FROM vocab
), lp AS (
  SELECT w, CAST(round(ln(c / t), 6) AS DECIMAL(12,6)) AS lp
  FROM vocab, tot
)
SELECT doc_id,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob,
       CAST(count(*) AS INTEGER) AS n_words
FROM words JOIN lp USING (w)
GROUP BY doc_id
"""


ORACLE_TEXT_REPETITION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents
), base AS (
  SELECT doc_id, tokens, len(tokens) AS n_words,
         len(list_distinct(tokens)) AS n_distinct
  FROM toks WHERE len(tokens) > 0
), grams AS (
  SELECT doc_id, '1:' || g AS gram FROM base, unnest(tokens) AS t(g)
  UNION ALL
  SELECT doc_id, '2:' || tokens[i] || ' ' || tokens[i + 1] AS gram
  FROM base, unnest(range(1, len(tokens))) AS r(i)
), counts AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
), tops AS (
  SELECT doc_id,
         max(CASE WHEN gram LIKE '1:%' THEN c END) AS top1,
         max(CASE WHEN gram LIKE '2:%' THEN c END) AS top2
  FROM counts GROUP BY doc_id
)
SELECT b.doc_id,
       round(n_distinct / n_words, 4) AS distinct_ratio,
       round(top1 / n_words, 4) AS top_unigram_share,
       round(coalesce(top2, 0) / greatest(n_words - 1, 1), 4)
           AS top_bigram_share
FROM base b JOIN tops USING (doc_id)
"""


def op_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule-based line cleaning with deterministic noise
    injected per (doc_id, line) class — the driver corpus is a clean
    word stream, so the filters would never fire on it raw; the
    injection makes every rule (terminal punct, short line, brace,
    boilerplate) provably exercised. Construction is replayed by the
    oracle SQL text for text-identical inputs on both engines."""
    docs = _docs_wide(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.greatest(
        F.ceil(F.size(words) / F.lit(8.0)).cast("int"), F.lit(1)
    )
    d = F.col("doc_id")
    lines = F.transform(
        F.sequence(F.lit(1), F.col("__nl")),
        lambda i: F.concat(
            F.array_join(F.slice(F.col("__w"), (i - 1) * 8 + 1, 8), " "),
            F.when((d + i) % 6 == 1, F.lit(" { code }"))
            .when((d + i) % 6 == 2, F.lit(" lorem ipsum."))
            .when((d + i) % 6 == 3, F.lit(" enable javascript."))
            .when((d + i) % 6 == 0, F.lit(""))
            .otherwise(F.lit(".")),
        ),
    )
    noisy = (
        docs.withColumn("__w", words)
        .withColumn("__nl", n_lines)
        .select("doc_id", F.array_join(lines, "\n").alias("text"))
    )
    return text_ops.c4_clean(noisy)


# C4 line filters: the DuckDB twin replays the identical noisy-line
# construction (8-word windows + per-(doc_id,line)-class suffix) and the
# identical four rules over the rebuilt line list; failure counts are
# per-rule independent, exactly as the operator counts them
ORACLE_C4_CLEAN = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
  FROM documents
), ln AS (
  SELECT doc_id, i,
         array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ') ||
         CASE (doc_id + i) % 6
           WHEN 1 THEN ' { code }'
           WHEN 2 THEN ' lorem ipsum.'
           WHEN 3 THEN ' enable javascript.'
           WHEN 0 THEN ''
           ELSE '.' END AS line
  FROM w, unnest(range(1,
        greatest(CAST(ceil(len(ws) / 8.0) AS INTEGER), 1) + 1)) AS t(i)
), d AS (
  SELECT doc_id,
         string_split(string_agg(line, chr(10) ORDER BY i), chr(10))
             AS lines
  FROM ln GROUP BY doc_id
), k AS (
  SELECT doc_id, lines,
         list_filter(lines, x ->
             regexp_matches(x, '[.!?]"?$')
             AND len(string_split_regex(trim(x), '\s+')) >= 5
             AND NOT contains(x, '{')
             AND NOT regexp_matches(lower(x), 'lorem ipsum|javascript'))
             AS keptl
  FROM d
)
SELECT doc_id,
  CAST(len(lines) AS INTEGER) AS n_lines,
  CAST(len(list_filter(lines,
       x -> NOT regexp_matches(x, '[.!?]"?$'))) AS INTEGER) AS fail_punct,
  CAST(len(list_filter(lines,
       x -> NOT (len(string_split_regex(trim(x), '\s+')) >= 5)))
       AS INTEGER) AS fail_short,
  CAST(len(list_filter(lines,
       x -> contains(x, '{'))) AS INTEGER) AS fail_brace,
  CAST(len(list_filter(lines,
       x -> regexp_matches(lower(x), 'lorem ipsum|javascript')))
       AS INTEGER) AS fail_boiler,
  CAST(len(keptl) AS INTEGER) AS kept_lines,
  len(keptl) >= 3 AS keep_doc,
  md5(coalesce(array_to_string(keptl, chr(10)), '')) AS clean_md5
FROM k
"""


def op_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + fetch-dedup with deterministic per-doc_id
    URL synthesis (the corpus has no URL column): spellings vary in
    scheme/host case, default ports, www prefix, trailing slash,
    tracking params, param order, and fragments — every rule of the
    canonicalizer provably fires, and distinct spellings collide on the
    canonical form. Construction replayed by the oracle SQL. Uses
    _docs (not _docs_wide): the op never touches the text column, so
    the regex-battery map-spread would only add a shuffle."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    hostv = (
        F.when(d % 3 == 0, F.lit("WWW.News-Site.COM"))
        .when(
            d % 3 == 1,
            F.when(d % 2 == 0, F.lit("news-site.com:80")).otherwise(
                F.lit("news-site.com:443")
            ),
        )
        .otherwise(F.lit("www.news-site.com"))
    )
    path = F.concat(
        F.lit("/"),
        F.col("source"),
        F.lit("/item-"),
        (d % 12).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    q = (
        F.when(d % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&utm_campaign=x&b=2"))
        .when(d % 4 == 2, F.lit("?b=2&a=1&ref=home"))
        .otherwise(F.lit("?a=1&b=2"))
    )
    frag = F.when(d % 7 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    urls = docs.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), hostv, path, q, frag).alias("url"),
    )
    return text_ops.url_dedup(urls)


# URL dedup: the DuckDB twin replays the identical URL synthesis and the
# identical canonicalization algebra (regexp_extract returns '' on no
# match in both engines; list_sort over ASCII params is order-identical)
ORACLE_URL_DEDUP = r"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
    (CASE doc_id % 3
       WHEN 0 THEN 'WWW.News-Site.COM'
       WHEN 1 THEN CASE WHEN doc_id % 2 = 0
                        THEN 'news-site.com:80'
                        ELSE 'news-site.com:443' END
       ELSE 'www.news-site.com' END) ||
    '/' || source || '/item-' || CAST(doc_id % 12 AS VARCHAR) ||
    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
    (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
                     WHEN 1 THEN '?a=1&utm_campaign=x&b=2'
                     WHEN 2 THEN '?b=2&a=1&ref=home'
                     ELSE '?a=1&b=2' END) ||
    (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
  FROM documents
), c AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
        AS hostport,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        AS path0,
    regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u
), c2 AS (
  SELECT doc_id, url, scheme,
    regexp_replace(
      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
           ELSE hostport END,
      '^www\.', '') AS host,
    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path0, '/+$', '') END AS path,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT starts_with(p, 'utm_')
           AND NOT starts_with(p, 'ref=')
           AND NOT starts_with(p, 'fbclid=')
           AND NOT starts_with(p, 'gclid='))), '&') AS cq
  FROM c
), canon AS (
  SELECT doc_id, url,
    scheme || '://' || host || path ||
    (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canon_url
  FROM c2
)
SELECT canon_url,
       CAST(count(*) AS INTEGER) AS n_urls,
       CAST(count(DISTINCT url) AS INTEGER) AS n_variants,
       min(doc_id) AS keep_doc
FROM canon GROUP BY canon_url
"""


def op_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _docs_wide: chunking is a JVM slice/join battery — map-spread wins
    # 6x at sf1 (5.1s -> 0.9s); the shuffles after are hash-keyed anyway
    return dedup.remove_duplicate_spans(_docs_wide(spark, sf_dir))


# duplicated-span removal: the DuckDB twin replays the identical chunking
# (10-word windows, the dup_chunk_profile construction), the identical
# global keep-first rule (row_number over md5(chunk) ordered by
# (doc_id, idx)), and the identical in-order rebuild (string_agg ORDER BY
# idx skips removed-chunk NULLs exactly as collect_list skips them)
ORACLE_DEDUP_SPANS = r"""
WITH w AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS words
  FROM documents
), c AS (
  SELECT doc_id, i AS idx,
         array_to_string(words[(i-1)*10+1 : (i-1)*10+10], ' ') AS chunk
  FROM w, unnest(range(1,
        greatest(CAST(ceil(len(words) / 10.0) AS INTEGER), 1) + 1)) AS t(i)
), r AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, idx) AS rn
  FROM c
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INTEGER)
           AS removed_chunks,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END,
                               ' ' ORDER BY idx), '')) AS clean_md5
FROM r GROUP BY doc_id
"""


_DF_MEMO: dict = {}


def _memo_plan(fn: Callable) -> Callable:
    """Memoize an operator's BUILT DataFrame per (spark, sf_dir) — the
    DataFrame-API analogue of the session's statement-plan cache:
    building these column pipelines costs 0.1-0.2s of py4j Column
    construction that DuckDB's ~1ms planner does not pay, while every
    execution still runs the full distributed plan. Applied ONLY to pure
    plan builders: no persist()/localCheckpoint()/collect() at build
    time (op_dedup_minhash persists its signature table, streaming ops
    write checkpoints — those always rebuild)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (fn.__name__, id(spark), os.path.abspath(sf_dir))
        df = _DF_MEMO.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _DF_MEMO[key] = df
        return df

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


# --- round-9 operators ------------------------------------------------------


def op_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph over the embedding table (k=3) — the graph-based
    curation building block; at scale the same algebra runs blocked by a
    k-means cell / LSH bucket (similarity.knn_graph block_col)."""
    return similarity.knn_graph(_embeds(spark, sf_dir), k=3)


# exact-DECIMAL cosine (the semantic_dedup discipline): elements
# quantize to DECIMAL(12,6); dot and squared norms are EXACT decimal
# sums, so round(dot/(sqrt*sqrt), 4) is computed from bit-identical
# doubles on both engines — a half-way rounding boundary (hit at
# sf0.01: one pair at 0.32575) can never split them.
ORACLE_KNN_GRAPH = """
WITH e AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)))
               AS vq
    FROM embeddings
), p AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           round(
               CAST(list_sum(list_transform(range(1, len(a.vq) + 1),
                                            i -> a.vq[i] * b.vq[i]))
                    AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.vq, x -> x * x))
                            AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.vq, x -> x * x))
                              AS DOUBLE))), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, cosine, rank FROM (
    SELECT vec_id, neighbor_id, cosine,
           CAST(row_number() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS rank
    FROM p
) t WHERE rank <= 3
"""


def op_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table quality audit: L2 norm + cosine-to-centroid with
    fixed outlier gates; centroid = one dim-bounded aggregate."""
    return similarity.embedding_outliers(_embeds(spark, sf_dir))


ORACLE_EMBEDDING_OUTLIERS = """
WITH dims AS (
    SELECT i, round(avg(embedding[i]), 6) AS m
    FROM embeddings,
         unnest(range(1, len(embedding) + 1)) AS r(i)
    GROUP BY i
), cent AS (
    SELECT list(m ORDER BY i) AS c FROM dims
)
SELECT vec_id,
       round(sqrt(list_dot_product(embedding, embedding)), 4) AS l2_norm,
       round(list_cosine_similarity(embedding, c), 4) AS cos_centroid,
       (round(sqrt(list_dot_product(embedding, embedding)), 4) < 0.25
        OR round(sqrt(list_dot_product(embedding, embedding)), 4) > 4.0
        OR round(list_cosine_similarity(embedding, c), 4) < -0.25)
           AS is_outlier
FROM embeddings, cent
"""


def op_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with add-one smoothing scoring every document — the
    KenLM/CCNet perplexity-filter shape one rung above op_text_logprob's
    unigram model (catches word-salad with plausible unigrams)."""
    return text_ops.bigram_logprob(_docs_wide(spark, sf_dir))


ORACLE_BIGRAM_LM = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS t
    FROM documents
), tt AS (
    SELECT doc_id, t FROM toks WHERE len(t) >= 2
), bi AS (
    SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
    FROM tt, unnest(range(1, len(t))) AS r(i)
), c2 AS (
    SELECT bg, any_value(w1) AS w1, count(*) AS c2 FROM bi GROUP BY bg
), c1 AS (
    SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
), v AS (
    SELECT count(DISTINCT w) AS v
    FROM (SELECT unnest(t) AS w FROM toks)
), model AS (
    SELECT bg,
           CAST(round(ln((c2.c2 + 1) / (c1.c1 + v.v)), 6)
                AS DECIMAL(12,6)) AS lp
    FROM c2 JOIN c1 USING (w1), v
)
SELECT bi.doc_id,
       round(CAST(sum(m.lp) AS DOUBLE) / count(*), 4) AS avg_bigram_logprob,
       CAST(count(*) AS INTEGER) AS n_bigrams
FROM bi JOIN model m USING (bg)
GROUP BY bi.doc_id
"""


def op_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-interleaved curriculum order: rank docs by n_chars within
    language, round-robin languages; training order = (round, slot) —
    two keyed windows, no global sort."""
    return sampling.curriculum_interleave(
        _docs(spark, sf_dir), score_col="n_chars", domain_col="lang"
    )


ORACLE_CURRICULUM = """
WITH ranked AS (
    SELECT doc_id, lang AS domain,
           CAST(row_number() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id
           ) AS INTEGER) AS round
    FROM documents
)
SELECT doc_id, domain, round,
       CAST(row_number() OVER (
           PARTITION BY round ORDER BY domain, doc_id
       ) AS INTEGER) AS slot
FROM ranked
"""


def op_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality report over orders (o_custkey x o_orderkey):
    per z-bucket row count and min/max extent on BOTH quantized axes —
    the pruning evidence the OPTIMIZE ZORDER layout decision rests on.
    Pure integer shift/mask algebra, replayed exactly by DuckDB."""
    from .operators import layout

    return layout.zorder_stats(
        engine_for(spark, sf_dir).table("orders"), "o_custkey", "o_orderkey"
    )


_Z_INTERLEAVE = " + ".join(
    f"(((xa >> {i}) & 1) << {2 * i}) + (((xb >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)

ORACLE_ZORDER = f"""
WITH m AS (
    SELECT max(o_custkey) AS ma, max(o_orderkey) AS mb FROM orders
), q AS (
    SELECT CAST(floor(o_custkey * 256 / (ma + 1)) AS INTEGER) AS xa,
           CAST(floor(o_orderkey * 256 / (mb + 1)) AS INTEGER) AS xb
    FROM orders, m
), z AS (
    SELECT xa, xb, CAST({_Z_INTERLEAVE} AS INTEGER) AS zv FROM q
)
SELECT CAST(zv >> 10 AS INTEGER) AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       min(xa) AS min_a, max(xa) AS max_a,
       min(xb) AS min_b, max(xb) AS max_b
FROM z GROUP BY zbucket
"""


def op_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document rule battery (word count, mean word length,
    symbol ratio, alphabetic-word ratio, stopword presence) — the third
    filter family next to c4_clean and the linear classifier."""
    return text_ops.gopher_rules(_docs_wide(spark, sf_dir))


ORACLE_GOPHER_RULES = r"""
WITH m AS (
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
               AS n_words,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               AS n_alpha_chars,
           CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS INTEGER)
               AS n_symbols,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                w -> regexp_matches(w, '[A-Za-z]')))
                AS INTEGER) AS n_alpha_words,
           CAST((CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END)
               AS INTEGER) AS stop_hits
    FROM documents
), r AS (
    SELECT doc_id, n_words,
           round(n_alpha_chars / CAST(greatest(n_words, 1) AS DOUBLE), 4)
               AS mean_word_len,
           round(n_symbols / CAST(greatest(n_words, 1) AS DOUBLE), 4)
               AS symbol_ratio,
           round(n_alpha_words / CAST(greatest(n_words, 1) AS DOUBLE), 4)
               AS alpha_word_ratio,
           stop_hits
    FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
       stop_hits,
       (n_words >= 10 AND n_words <= 100000) AS pass_words,
       (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS pass_word_len,
       (symbol_ratio < 0.1) AS pass_symbols,
       (alpha_word_ratio > 0.8) AS pass_alpha,
       (stop_hits >= 2) AS pass_stops,
       ((n_words >= 10 AND n_words <= 100000)
        AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
        AND (symbol_ratio < 0.1)
        AND (alpha_word_ratio > 0.8)
        AND (stop_hits >= 2)) AS keep
FROM r
"""


def op_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (tokens/word, chars/token under
    the BPE-ish pre-tokenizer) — the multilingual pricing check run
    before fixing a domain mix."""
    return text_ops.tokenizer_fertility(_docs_wide(spark, sf_dir))


ORACLE_TOKENIZER_FERTILITY = r"""
WITH d AS (
    SELECT lang,
           length(text) AS nc,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
               AS nw,
           CAST(len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS nt
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       round(sum(nt) / CAST(greatest(sum(nw), 1) AS DOUBLE), 4)
           AS fertility,
       round(sum(nc) / CAST(greatest(sum(nt), 1) AS DOUBLE), 4)
           AS chars_per_token
FROM d GROUP BY lang
"""


def op_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-shard manifest with order-independent content
    checksums — the ingest-integrity record of a training pipeline."""
    return sampling.shard_manifest(_docs(spark, sf_dir), n_shards=8)


ORACLE_SHARD_MANIFEST = f"""
WITH per_doc AS (
    SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                           1, 15))::BIGINT % 8 AS shard,
           doc_id,
           length(text) AS nc,
           md5({_NORM}) AS fp
    FROM documents
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       md5(array_to_string(list_sort(list(fp)), '')) AS content_md5
FROM per_doc GROUP BY shard
"""


_COMPACT_DIR = "/root/repo/spark-warehouse/compact_audit_export"


def op_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction audit: spray the documents table across 64
    tiny shards (the streaming-ingest pathology), run
    sources.maintenance.compact_parquet (coalesce — a NARROW rewrite,
    no shuffle), and emit per-language row counts + an
    order-independent full-content checksum from the COMPACTED files,
    plus the file-reduction fact. The oracle recomputes the identical
    digest from the source table, so a green row proves the compaction
    rewrite is value-lossless — the maintenance guarantee a 100 TB
    lakehouse runs nightly. File counts stay out of the hashed columns
    (engine-internal); the reduction is emitted as a boolean pinned
    true by construction (64 shards -> ceil(bytes/128MB) files)."""
    import shutil

    from .sources import maintenance as mt

    shutil.rmtree(_COMPACT_DIR, ignore_errors=True)
    _docs(spark, sf_dir).repartition(64).write.mode("overwrite").parquet(
        _COMPACT_DIR
    )
    stats = mt.compact_parquet(spark, _COMPACT_DIR)
    back = spark.read.parquet(_COMPACT_DIR)
    rh = F.md5(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("")),
            F.col("n_chars").cast("string"),
        )
    )
    return (
        back.select("lang", rh.alias("rh"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("rh")), "")
            ).alias("content_md5"),
        )
        .withColumn(
            "files_reduced",
            F.lit(bool(stats["files_after"] < stats["files_before"])),
        )
        .orderBy("lang")
    )


ORACLE_COMPACTION_AUDIT = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       md5(array_to_string(list_sort(list(
           md5(CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')
               || '|' || CAST(n_chars AS VARCHAR)))), '')) AS content_md5,
       true AS files_reduced
FROM documents GROUP BY lang ORDER BY lang
"""


def op_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dedup gate: minhash-LSH lexical candidates confirmed (or
    refuted) by exact embedding cosine — the two-modality check before
    destructive dedup. doc_id and vec_id share the id space in the
    synthetic corpus, standing in for a doc->embedding join key."""
    return dedup.crossmodal_dedup(
        _docs(spark, sf_dir), _embeds(spark, sf_dir), threshold=0.9
    )


ORACLE_CROSSMODAL = f"""
WITH sh AS ({_SHINGLES}),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, 16),
               p -> list_min(list_transform(shingles, s -> md5(p || ':' || s)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '|')) AS bandsig
    FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id
),
eq AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)))
               AS vq
    FROM embeddings
),
scored AS (
    SELECT p.id_a, p.id_b,
           round(
               CAST(list_sum(list_transform(range(1, len(a.vq) + 1),
                                            i -> a.vq[i] * b.vq[i]))
                    AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.vq, x -> x * x))
                            AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.vq, x -> x * x))
                              AS DOUBLE))), 4) AS cosine
    FROM pairs p
    JOIN eq a ON a.vec_id = p.id_a
    JOIN eq b ON b.vec_id = p.id_b
)
SELECT id_a, id_b, cosine, (cosine >= 0.9) AS confirmed FROM scored
"""


def op_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords — metadata enrichment; exact
    integer×DECIMAL scores so ranking is engine-identical."""
    return text_ops.tfidf_keywords(_docs_wide(spark, sf_dir), k=3)


ORACLE_TFIDF = r"""
WITH words AS (
    SELECT doc_id AS id, unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS w
    FROM documents
), tf AS (
    SELECT id, w, count(*) AS tf FROM words GROUP BY id, w
), dfreq AS (
    SELECT w, count(*) AS df FROM tf GROUP BY w
), n AS (
    SELECT count(*) AS n FROM documents
), idf AS (
    SELECT w, CAST(round(ln(n.n / dfreq.df), 6) AS DECIMAL(12,6)) AS idf
    FROM dfreq, n
), scored AS (
    SELECT tf.id, tf.w, tf.tf * idf.idf AS score
    FROM tf JOIN idf USING (w)
), ranked AS (
    SELECT id, w, score,
           CAST(row_number() OVER (
               PARTITION BY id ORDER BY score DESC, w
           ) AS INTEGER) AS rank
    FROM scored
)
SELECT id AS doc_id, w AS term,
       round(CAST(score AS DOUBLE), 4) AS tfidf, rank
FROM ranked WHERE rank <= 3
"""


def op_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty vs ingest order (keep-first) — the
    dedup-aware curation signal below pairwise thresholds."""
    return text_ops.ngram_novelty(_docs_wide(spark, sf_dir))


ORACLE_NGRAM_NOVELTY = f"""
WITH sh AS ({_SHINGLES}),
grams AS (
    SELECT doc_id AS id, unnest(shingles) AS g FROM sh
), first_owner AS (
    SELECT g, min(id) AS first_id FROM grams GROUP BY g
)
SELECT grams.id AS doc_id,
       CAST(count(*) AS INTEGER) AS n_grams,
       CAST(sum(CASE WHEN grams.id = f.first_id THEN 1 ELSE 0 END)
            AS INTEGER) AS novel_grams,
       round(sum(CASE WHEN grams.id = f.first_id THEN 1 ELSE 0 END)
             / CAST(greatest(count(*), 1) AS DOUBLE), 4) AS novelty
FROM grams JOIN first_owner f USING (g)
GROUP BY grams.id
"""


def op_kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate over (lang, source) quasi-identifiers
    (k=5): every row with its group size and release verdict."""
    return text_ops.kanon_release(_docs(spark, sf_dir), k=5)


ORACLE_KANON = """
WITH sizes AS (
    SELECT lang, source, CAST(count(*) AS INTEGER) AS group_n
    FROM documents GROUP BY lang, source
)
SELECT d.doc_id, d.lang, d.source, s.group_n,
       (s.group_n >= 5) AS released
FROM documents d JOIN sizes s USING (lang, source)
"""


def op_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic replay-stable Bernoulli sampling on a stream (20%
    by md5 hash-bucket of the key) — retries and backfills keep exactly
    the same rows; the finite backlog is row-identical to the batch
    filter, so one oracle pins both. Twelfth streaming operator."""
    from .streaming import dedup as sd

    docs = sd.read_documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    out = sd.sample_stream(docs, rate=0.2).select("doc_id", "lang")
    name = f"stream_sample_{abs(hash(sf_dir)) % 10_000}"
    return sd.run_available_now(out, spark, name)


ORACLE_STREAM_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('ssample:' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::BIGINT % 10000 < 2000
"""


def op_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization of the events table (30-min
    gap) — the batch twin of the streaming session window; two
    user-keyed windows + one aggregate."""
    return asof_ops.sessionize(
        engine_for(spark, sf_dir).table("events"), gap_minutes=30
    )


ORACLE_SESSIONIZE = """
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS INTEGER) AS session_seq
    FROM marked
)
SELECT user_id, session_seq,
       CAST(count(*) AS INTEGER) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
FROM numbered GROUP BY user_id, session_seq
"""


def op_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP per-language counts (Laplace 1/ε via inverse CDF over a
    deterministic md5 uniform — replayable mechanism algebra; a real
    release swaps in a true RNG)."""
    return sampling.dp_histogram(_docs(spark, sf_dir), epsilon=1.0)


ORACLE_DP_HISTOGRAM = """
WITH c AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
), u AS (
    SELECT lang, n,
           (('0x' || substr(md5('dp:' || lang), 1, 13))::BIGINT + 0.5)
               / 4503599627370496.0 AS u
    FROM c
)
SELECT lang, n,
       round(CASE WHEN u < 0.5 THEN 1.0 * round(ln(2.0 * u), 6)
                  ELSE -1.0 * round(ln(2.0 - 2.0 * u), 6) END, 4) AS noise,
       round(n + CASE WHEN u < 0.5 THEN 1.0 * round(ln(2.0 * u), 6)
                      ELSE -1.0 * round(ln(2.0 - 2.0 * u), 6) END, 4)
           AS noisy_n
FROM u
"""


def op_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thirteenth streaming operator: HyperLogLog distinct-counting over
    continuous ingest — fixed state (langs x 64 registers) where exact
    streaming count-distinct grows without bound. The backlog is read
    TWICE (two file streams unioned), so a green row also proves the
    sketch's duplication-insensitivity on a real stream; the oracle is
    the batch register algebra on the single corpus."""
    from .streaming import dedup as sd

    path = os.path.join(sf_dir, "documents.parquet")
    doubled = sd.read_documents_stream(spark, path).unionAll(
        sd.read_documents_stream(spark, path)
    )
    regs = sd.hll_register_stream(doubled)
    name = f"stream_hll_{abs(hash(sf_dir)) % 10_000}"
    reg_table = sd.run_available_now(regs, spark, name, output_mode="complete")
    return sketches.hll_finalize(reg_table, "lang")


ORACLE_STREAM_HLL = f"""
WITH words AS (
  SELECT lang, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS w
  FROM documents
), h AS (
  SELECT lang, w, md5(w) AS h FROM words
), reg AS (
  SELECT lang,
         ('0x' || substr(h, 1, 2))::BIGINT % 64 AS idx,
         max(CASE WHEN ('0x' || substr(h, 3, 8))::BIGINT = 0 THEN 33
                  ELSE 33 - length(bin(('0x' || substr(h, 3, 8))::BIGINT))
             END) AS m
  FROM h GROUP BY lang, idx
), s AS (
  SELECT lang, CAST(count(*) AS INTEGER) AS registers_hit,
         sum((1::BIGINT << (33 - m))) AS s_num
  FROM reg GROUP BY lang
)
SELECT lang, registers_hit,
       CASE WHEN ({sketches.HLL_NUMERATOR}
                  / (s_num + (64 - registers_hit) * (1::BIGINT << 33)))
                 <= 160.0
                 AND (64 - registers_hit) > 0
            THEN round(64.0 * ln(64.0 / (64 - registers_hit)), 4)
            ELSE round({sketches.HLL_NUMERATOR}
                       / (s_num + (64 - registers_hit)
                          * (1::BIGINT << 33)), 4)
       END AS hll_estimate
FROM s
"""


def op_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel with first-touch semantics
    (each step strictly after the user's previous-step conversion) —
    per-step survivor counts and conversion vs the first step."""
    from .operators import behavior

    return behavior.funnel_steps(engine_for(spark, sf_dir).table("events"))


ORACLE_FUNNEL = """
WITH s0 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s1 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), counts AS (
  SELECT 0 AS step, 'view' AS step_name,
         CAST(count(*) AS BIGINT) AS n_users FROM s0
  UNION ALL
  SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2
), f AS (
  SELECT n_users AS n0 FROM counts WHERE step = 0
)
SELECT step, step_name, n_users,
       round(n_users / CAST(n0 AS DOUBLE), 4) AS conversion
FROM counts, f
"""


def op_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over the events table: cohort = Monday
    week of first activity; exact integer week offsets; retention rate
    per (cohort, offset)."""
    from .operators import behavior

    return behavior.retention_cohorts(
        engine_for(spark, sf_dir).table("events")
    )


ORACLE_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
), sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n
  FROM cohort GROUP BY cohort_week
), joined AS (
  SELECT c.cohort_week,
         CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INTEGER)
             AS week_offset,
         a.user_id
  FROM activity a JOIN cohort c ON a.user_id = c.user_id
), active AS (
  SELECT cohort_week, week_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM joined GROUP BY cohort_week, week_offset
)
SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_n,
       round(a.n_active / CAST(s.cohort_n AS DOUBLE), 4) AS retention
FROM active a JOIN sizes s ON a.cohort_week = s.cohort_week
"""


def op_sample_fixed_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE stratified sample: exactly min(20, |group|) docs per
    language by deterministic md5 draw order — the equal-representation
    shape (eval sets / few-shot pools) next to rate-based
    op_sample_stratified."""
    return sampling.fixed_size_stratified(_docs(spark, sf_dir), k=20)


ORACLE_SAMPLE_FIXED = """
SELECT doc_id, lang, CAST(rn AS INTEGER) AS draw_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
             PARTITION BY lang
             ORDER BY md5('fks:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 20
"""


def op_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language dataset-card summary (docs, chars, average words,
    exact-duplicate share) — the datasheet table of a corpus release;
    integer sums + one division per ratio, fully oracle-replayable."""
    return text_ops.dataset_card(_docs(spark, sf_dir))


ORACLE_DATASET_CARD = rf"""
WITH per_doc AS (
  SELECT lang, md5({_NORM}) AS fp,
         length(text) AS nc,
         len(string_split_regex(trim(text), '\s+')) AS wc
  FROM documents
), dup AS (
  SELECT fp, count(*) AS n FROM per_doc GROUP BY fp
), tagged AS (
  SELECT p.lang, p.nc, p.wc,
         CASE WHEN d.n > 1 THEN 1 ELSE 0 END AS is_dup
  FROM per_doc p JOIN dup d ON p.fp = d.fp
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS total_chars,
       round(sum(wc) / CAST(count(*) AS DOUBLE), 2) AS avg_words,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       round(sum(is_dup) / CAST(count(*) AS DOUBLE), 4) AS dup_rate
FROM tagged GROUP BY lang
"""


def op_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component projection of the embedding corpus by
    deterministic power iteration (exact-DECIMAL sums, one double op +
    requantize per step) — dimensionality reduction joins PQ/IVF/
    SemDeDup in the embedding family; the oracle replays the whole
    iteration with unrolled CTEs."""
    from .operators import pca

    return pca.embedding_pca(_embeds_raw(spark, sf_dir))


def _embeds_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # float embedding column untouched (pca quantizes itself)
    return engine_for(spark, sf_dir).table("embeddings")


def _pca_oracle(iters: int = 3) -> str:
    steps = []
    prev = "v0"
    for t in range(1, iters + 1):
        steps.append(
            f"r{t} AS (SELECT i, sum(cij * {prev}.vv) AS raw "
            f"FROM cov JOIN {prev} ON {prev}.d = cov.j GROUP BY i), "
            f"m{t} AS (SELECT max(abs(CAST(raw AS DOUBLE))) AS mx FROM r{t}), "
            f"v{t} AS (SELECT i AS d, CAST(round(CAST(raw AS DOUBLE) / mx, 6) "
            f"AS DECIMAL(12,6)) AS vv FROM r{t}, m{t})"
        )
        prev = f"v{t}"
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding,
             x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6))) AS v
  FROM embeddings
), cells AS (
  SELECT vec_id, i AS d, v[i] AS x
  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
), mean AS (
  SELECT d, CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6)
                 AS DECIMAL(12,6)) AS m
  FROM cells GROUP BY d
), cx AS (
  SELECT c.vec_id, c.d, CAST(c.x - m.m AS DECIMAL(13,6)) AS cx
  FROM cells c JOIN mean m ON c.d = m.d
), cov AS (
  SELECT a.d AS i, b.d AS j,
         CAST(round(CAST(sum(a.cx * b.cx) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS cij
  FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY a.d, b.d
), v0 AS (
  SELECT d, CAST(1 AS DECIMAL(12,6)) AS vv FROM mean
), {', '.join(steps)}
SELECT cx.vec_id, round(CAST(sum(cx.cx * {prev}.vv) AS DOUBLE), 4) AS pc1
FROM cx JOIN {prev} ON {prev}.d = cx.d GROUP BY cx.vec_id
"""


ORACLE_EMBEDDING_PCA = _pca_oracle()


def op_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language vs the corpus top-1000
    vocabulary — the coverage check before fixing a tokenizer/embedding
    vocab on a new corpus slice; vocab broadcasts at any corpus size."""
    return text_ops.oov_rate(_docs_wide(spark, sf_dir), vocab_size=1000)


ORACLE_OOV_RATE = """
WITH words AS (
  SELECT lang, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS n FROM words GROUP BY w
    ORDER BY n DESC, w LIMIT 1000
  )
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS oov_rate
FROM words LEFT JOIN vocab v ON words.w = v.w
GROUP BY lang
"""


def op_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution of purchases to the most recent view/click
    within 7 days — union+carry-forward window (ONE user-keyed shuffle),
    DECIMAL revenue so the per-channel sums are order-independent."""
    from .operators import behavior

    return behavior.last_touch_attribution(
        engine_for(spark, sf_dir).table("events")
    )


ORACLE_ATTRIBUTION = """
WITH rows_ AS (
  SELECT user_id, ts, event_id AS ord,
         CASE WHEN event_type IN ('view', 'click') THEN event_type
         END AS touch,
         CASE WHEN event_type = 'purchase' THEN value END AS val,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), carried AS (
  SELECT user_id, ts, val, is_conv,
         last_value(touch IGNORE NULLS) OVER w AS last_touch,
         last_value(CASE WHEN touch IS NOT NULL THEN ts END IGNORE NULLS)
             OVER w AS last_ts
  FROM rows_
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, ord, is_conv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), attributed AS (
  SELECT CASE WHEN last_touch IS NOT NULL
                   AND epoch_us(ts) - epoch_us(last_ts)
                       <= 7::BIGINT * 86400 * 1000000
              THEN last_touch ELSE 'unattributed' END AS channel,
         CAST(round(val, 4) AS DECIMAL(14,4)) AS rev
  FROM carried WHERE is_conv = 1
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(rev) AS DOUBLE) AS revenue
FROM attributed GROUP BY channel
"""


def op_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourteenth streaming operator: Count-Min counter maintenance over
    continuous ingest (3x512 additive counters, fixed state forever).
    The streamed counter table is probed with the batch top-20 exactly
    like the batch sketch, so the SAME oracle pins both paths."""
    from .streaming import dedup as sd

    path = os.path.join(sf_dir, "documents.parquet")
    stream = sd.read_documents_stream(spark, path)
    counters = sd.cms_counter_stream(stream)
    name = f"stream_cms_{abs(hash(sf_dir)) % 10_000}"
    counter_table = sd.run_available_now(
        counters, spark, name, output_mode="complete"
    ).withColumnRenamed("count", "c")

    words = _docs(spark, sf_dir).select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: x != "",
            )
        ).alias("w")
    )
    topk = (
        words.groupBy("w")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("w"))
        .limit(20)
    )
    probes = topk.select(
        "w",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        sketches.cms_bucket(j, F.col("w")).alias("bucket"),
                    )
                    for j in range(sketches.CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    )
    est = (
        probes.join(
            F.broadcast(counter_table),
            (probes["cell.j"] == counter_table["j"])
            & (probes["cell.bucket"] == counter_table["bucket"]),
        )
        .groupBy("w", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return est.select(
        F.col("w").alias("word"),
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_n").cast("long").alias("cms_n"),
        (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overestimate"),
    )


def op_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language HyperLogLog distinct-word estimate next to the exact
    count — a replayable sketch (md5 registers, exact-integer harmonic
    sum), unlike Spark's engine-private approx_count_distinct."""
    return sketches.hll_distinct(_docs_wide(spark, sf_dir))


ORACLE_HLL_DISTINCT = f"""
WITH words AS (
  SELECT lang, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS w
  FROM documents
), h AS (
  SELECT lang, w, md5(w) AS h FROM words
), reg AS (
  SELECT lang,
         ('0x' || substr(h, 1, 2))::BIGINT % 64 AS idx,
         max(CASE WHEN ('0x' || substr(h, 3, 8))::BIGINT = 0 THEN 33
                  ELSE 33 - length(bin(('0x' || substr(h, 3, 8))::BIGINT))
             END) AS m
  FROM h GROUP BY lang, idx
), s AS (
  SELECT lang, CAST(count(*) AS INTEGER) AS registers_hit,
         sum((1::BIGINT << (33 - m))) AS s_num
  FROM reg GROUP BY lang
), ex AS (
  SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct,
         CAST(count(*) AS BIGINT) AS n_words
  FROM words GROUP BY lang
), est AS (
  SELECT ex.lang, n_words, exact_distinct, registers_hit,
         CASE WHEN ({sketches.HLL_NUMERATOR}
                    / (s_num + (64 - registers_hit) * (1::BIGINT << 33)))
                   <= 160.0
                   AND (64 - registers_hit) > 0
              THEN round(64.0 * ln(64.0 / (64 - registers_hit)), 4)
              ELSE round({sketches.HLL_NUMERATOR}
                         / (s_num + (64 - registers_hit)
                            * (1::BIGINT << 33)), 4)
         END AS hll_estimate
  FROM ex JOIN s ON ex.lang = s.lang
)
SELECT lang, n_words, exact_distinct, registers_hit, hll_estimate,
       round((hll_estimate - exact_distinct) / exact_distinct, 4)
           AS rel_error
FROM est
"""


def op_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heavy-hitter words with Count-Min estimates (3x512
    md5-hashed counters) — one-sided-error frequency audit, sketch
    state 1,536 rows at any corpus size."""
    return sketches.cms_heavy_hitters(_docs_wide(spark, sf_dir))


ORACLE_CMS_HEAVY_HITTERS = """
WITH words AS (
  SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS w
  FROM documents
), cells AS (
  SELECT j, ('0x' || substr(md5(j || ':' || w), 1, 8))::BIGINT % 512
             AS bucket
  FROM words, (SELECT unnest(range(0, 3)) AS j)
), counters AS (
  SELECT j, bucket, count(*) AS c FROM cells GROUP BY j, bucket
), topk AS (
  SELECT w, CAST(count(*) AS BIGINT) AS exact_n FROM words GROUP BY w
  ORDER BY exact_n DESC, w LIMIT 20
), probes AS (
  SELECT w, exact_n, j,
         ('0x' || substr(md5(j || ':' || w), 1, 8))::BIGINT % 512 AS bucket
  FROM topk, (SELECT unnest(range(0, 3)) AS j)
)
SELECT p.w AS word, p.exact_n,
       CAST(min(c.c) AS BIGINT) AS cms_n,
       CAST(min(c.c) - p.exact_n AS BIGINT) AS overestimate
FROM probes p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
GROUP BY p.w, p.exact_n
"""


def op_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 64-bin histogram median estimate next to the exact
    inverted-CDF quantile — the fixed-memory percentile path."""
    return sketches.quantile_sketch(_docs(spark, sf_dir))


ORACLE_QUANTILE_SKETCH = """
WITH bounds AS (
  SELECT lang, min(CAST(n_chars AS DOUBLE)) AS lo,
         max(CAST(n_chars AS DOUBLE)) AS hi,
         CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang
), binned AS (
  SELECT d.lang, b.lo, b.hi, b.n,
         least(CAST(floor((CAST(n_chars AS DOUBLE) - b.lo) * 64
                          / (b.hi - b.lo + 1)) AS INTEGER), 63) AS bin,
         count(*) AS bin_n
  FROM documents d JOIN bounds b ON d.lang = b.lang
  GROUP BY d.lang, b.lo, b.hi, b.n, bin
), cum AS (
  SELECT lang, lo, hi, n, bin, bin_n,
         sum(bin_n) OVER (PARTITION BY lang ORDER BY bin) AS cum
  FROM binned
), hit AS (
  SELECT lang, n,
         round(lo + ((hi - lo + 1) / 64)
                    * (bin + (CAST(ceil(0.5 * n) AS BIGINT)
                              - (cum - bin_n)) / bin_n), 4) AS est_q
  FROM cum
  WHERE cum >= CAST(ceil(0.5 * n) AS BIGINT)
    AND cum - bin_n < CAST(ceil(0.5 * n) AS BIGINT)
), ranked AS (
  SELECT d.lang, CAST(n_chars AS DOUBLE) AS val,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY CAST(n_chars AS DOUBLE)) AS rn,
         b.n
  FROM documents d JOIN bounds b ON d.lang = b.lang
), exact AS (
  SELECT lang, val AS exact_q FROM ranked
  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
)
SELECT h.lang, h.n, CAST(e.exact_q AS DOUBLE) AS exact_q, h.est_q,
       round(abs(h.est_q - e.exact_q) / greatest(e.exact_q, 1.0), 4)
           AS rel_error
FROM hit h JOIN exact e ON h.lang = e.lang
"""


def op_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints: k=5-word shingle hashes,
    window-of-4 minima — guaranteed-coverage local fingerprinting at
    ~2/(w+1) the density of the full shingle set."""
    return text_ops.winnow_fingerprints(_docs_wide(spark, sf_dir))


ORACLE_WINNOW = r"""
WITH toks AS (
  SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, toks FROM toks WHERE len(toks) >= 8
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i : i + 4], ' ')) AS h
  FROM base, unnest(range(1, len(toks) - 3)) AS t(i)
), sel AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS winmin
  FROM grams
), ng AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams
  FROM grams GROUP BY doc_id
), fp AS (
  SELECT doc_id,
         CAST(count(DISTINCT winmin) AS INTEGER) AS n_fingerprints,
         md5(array_to_string(list_sort(list(DISTINCT winmin)), ''))
             AS fingerprint_md5
  FROM sel WHERE pos >= 3 GROUP BY doc_id
)
SELECT ng.doc_id, n_grams, n_fingerprints,
       round(n_fingerprints / CAST(n_grams AS DOUBLE), 4) AS density,
       fingerprint_md5
FROM ng JOIN fp ON ng.doc_id = fp.doc_id
"""


def op_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: normalized 24-char key prefixes
    compared by levenshtein within 6-char blocking groups — the
    blocking+compare entity-resolution shape; edit distance runs only
    inside blocks, never all-pairs."""
    return dedup.record_linkage(_docs(spark, sf_dir))


ORACLE_RECORD_LINKAGE = rf"""
WITH keys AS (
  SELECT doc_id AS rid, substr({_NORM}, 1, 24) AS key
  FROM documents
), blocked AS (
  SELECT rid, key, substr(key, 1, 6) AS block FROM keys
)
SELECT a.rid AS id_a, b.rid AS id_b, a.block,
       CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
FROM blocked a JOIN blocked b ON a.block = b.block AND a.rid < b.rid
WHERE levenshtein(a.key, b.key) <= 6
"""


def op_linkage_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocked levenshtein linkage pairs
    -> connected components -> canonical entity id + entity size for
    every linked record (transitive chains A~B~C collapse to one entity
    even when A and C never paired directly). Reuses the iterative
    min-label CC of the dedup family; the oracle replays it with a
    recursive CTE."""
    pairs = dedup.record_linkage(_docs(spark, sf_dir)).select("id_a", "id_b")
    cc = dedup.connected_components(pairs)
    from pyspark.sql import Window as W

    return cc.select(
        "doc_id",
        F.col("cluster_id").alias("entity_id"),
        F.count("*")
        .over(W.partitionBy("cluster_id"))
        .cast("int")
        .alias("n_members"),
    )


ORACLE_LINKAGE_ENTITIES = f"""
WITH RECURSIVE pairs AS ({ORACLE_RECORD_LINKAGE}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, lab) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
ent AS (
    SELECT id AS doc_id, min(lab) AS entity_id FROM reach GROUP BY id
)
SELECT doc_id, entity_id,
       CAST(count(*) OVER (PARTITION BY entity_id) AS INTEGER) AS n_members
FROM ent
"""


def op_column_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column NDV statistics over lineitem (exact NDV
    + replayable HLL estimate per column) — the optimizer-statistics
    collection pass, one scan for all profiled columns."""
    cols = ["l_returnflag", "l_linestatus", "l_partkey", "l_orderkey",
            "l_suppkey"]
    return sketches.column_ndv_profile(
        engine_for(spark, sf_dir).table("lineitem"), cols
    )


_NDV_COLS_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS w "
    f"FROM lineitem WHERE {c} IS NOT NULL"
    for c in ["l_returnflag", "l_linestatus", "l_partkey", "l_orderkey",
              "l_suppkey"]
)

ORACLE_COLUMN_NDV = f"""
WITH words AS ({_NDV_COLS_SQL}),
h AS (
  SELECT col_name, w, md5(w) AS h FROM words
), reg AS (
  SELECT col_name,
         ('0x' || substr(h, 1, 2))::BIGINT % 64 AS idx,
         max(CASE WHEN ('0x' || substr(h, 3, 8))::BIGINT = 0 THEN 33
                  ELSE 33 - length(bin(('0x' || substr(h, 3, 8))::BIGINT))
             END) AS m
  FROM h GROUP BY col_name, idx
), s AS (
  SELECT col_name, CAST(count(*) AS INTEGER) AS registers_hit,
         sum((1::BIGINT << (33 - m))) AS s_num
  FROM reg GROUP BY col_name
), ex AS (
  SELECT col_name, CAST(count(DISTINCT w) AS BIGINT) AS exact_ndv,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM words GROUP BY col_name
), est AS (
  SELECT ex.col_name, n_rows, exact_ndv, registers_hit,
         CASE WHEN ({sketches.HLL_NUMERATOR}
                    / (s_num + (64 - registers_hit) * (1::BIGINT << 33)))
                   <= 160.0
                   AND (64 - registers_hit) > 0
              THEN round(64.0 * ln(64.0 / (64 - registers_hit)), 4)
              ELSE round({sketches.HLL_NUMERATOR}
                         / (s_num + (64 - registers_hit)
                            * (1::BIGINT << 33)), 4)
         END AS hll_estimate
  FROM ex JOIN s ON ex.col_name = s.col_name
)
SELECT col_name, n_rows, exact_ndv, registers_hit, hll_estimate,
       round((hll_estimate - exact_ndv) / exact_ndv, 4) AS rel_error
FROM est
"""


def op_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PageRank (damping 0.85, 3 unrolled rounds) over the
    symmetrized record-linkage graph — the iterative-algorithm showcase:
    no convergence collect, one join + one dst-keyed aggregate per
    round, ALL rank math in scaled integers (x10^12, floor div) so the
    oracle replays the iteration bit-exactly with unrolled CTEs."""
    from .operators import graph

    pairs = dedup.record_linkage(_docs(spark, sf_dir)).select("id_a", "id_b")
    return graph.pagerank(pairs)


ORACLE_PAGERANK = f"""
WITH pairs AS ({ORACLE_RECORD_LINKAGE}),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
  )
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS id FROM edges
), nn AS (
  SELECT count(*) AS n FROM nodes
), b AS (
  SELECT 15000000000000::BIGINT // (100 * n) AS base FROM nn
), r0 AS (
  SELECT id, 1000000000000::BIGINT // n AS r FROM nodes, nn
), r1 AS (
  SELECT e.dst AS id, b.base + (85 * sum(r0.r // d.deg)) // 100 AS r
  FROM edges e JOIN r0 ON r0.id = e.src JOIN deg d ON d.src = e.src, b
  GROUP BY e.dst, b.base
), r2 AS (
  SELECT e.dst AS id, b.base + (85 * sum(r1.r // d.deg)) // 100 AS r
  FROM edges e JOIN r1 ON r1.id = e.src JOIN deg d ON d.src = e.src, b
  GROUP BY e.dst, b.base
), r3 AS (
  SELECT e.dst AS id, b.base + (85 * sum(r2.r // d.deg)) // 100 AS r
  FROM edges e JOIN r2 ON r2.id = e.src JOIN deg d ON d.src = e.src, b
  GROUP BY e.dst, b.base
)
SELECT id AS doc_id, CAST(r AS BIGINT) AS pr_scaled,
       round(r / 1000000000000.0, 8) AS pagerank
FROM r3
"""


def op_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed retrieval: overlapping 64-word chunks BM25-ranked
    against the query, top-5 chunks returned with text — the
    chunk->rank->return pipeline of the reference's doc retriever
    (eval/doc_retriever.py:39-94), composed from two oracled ops."""
    return text_ops.doc_retrieval(
        _docs(spark, sf_dir), ["window", "merge", "scan"], k=5
    )


ORACLE_DOC_RETRIEVAL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
  FROM documents
), n AS (
  SELECT doc_id, words,
         greatest(CAST(ceil((len(words) - 16) / 48.0) AS INTEGER), 1)
             AS n_chunks
  FROM w
), chunks AS (
  SELECT doc_id * 100000 + i AS ckey,
         array_to_string(words[(i - 1) * 48 + 1 : (i - 1) * 48 + 64], ' ')
             AS chunk_text
  FROM n, unnest(range(1, n_chunks + 1)) AS t(i)
), toks AS (
  SELECT ckey, chunk_text,
         list_filter(string_split_regex(lower(chunk_text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM chunks
), base AS (
  SELECT ckey, chunk_text, len(tokens) AS dl,
         len(list_filter(tokens, x -> x = 'window')) AS tf0,
         len(list_filter(tokens, x -> x = 'merge')) AS tf1,
         len(list_filter(tokens, x -> x = 'scan')) AS tf2
  FROM toks
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
), scored AS (
  SELECT ckey, chunk_text,
    round(
        ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * tf0 * 2.2
          / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
      + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * 2.2
          / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
      + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * 2.2
          / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    , 6) AS bm25
  FROM base, stats
  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
  ORDER BY bm25 DESC, ckey LIMIT 5
)
SELECT CAST(floor(ckey / 100000) AS BIGINT) AS doc_id,
       CAST(ckey % 100000 AS INTEGER) AS chunk_id, bm25, chunk_text
FROM scored
"""


def op_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange round-trip: write the documents table to ORC
    (Spark's second built-in columnar format), read it back, and emit
    per-language row counts + an order-independent full-row content
    checksum. The oracle computes the same digest straight from the
    parquet source, so a green row proves the ORC write/read path is
    value-lossless — the format-interchange guarantee a mixed-format
    lakehouse ingest needs. The write is a distributed columnar sink
    (one file per partition at scale); the audit is one aggregate."""
    import tempfile

    df = _docs(spark, sf_dir)
    out = os.path.join(
        tempfile.gettempdir(), f"ddbspark_orc_rt_{abs(hash(sf_dir)) % 10**8}"
    )
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    rh = F.md5(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("")),
            F.coalesce(F.col("source"), F.lit("")),
            F.col("n_chars").cast("string"),
        )
    )
    return (
        back.select("lang", rh.alias("rh"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.md5(F.array_join(F.array_sort(F.collect_list("rh")), "")).alias(
                "content_md5"
            ),
        )
    )


ORACLE_ORC_ROUNDTRIP = """
WITH h AS (
  SELECT lang,
         md5(concat_ws('|', CAST(doc_id AS VARCHAR), coalesce(text, ''),
                       coalesce(source, ''), CAST(n_chars AS VARCHAR)))
             AS rh,
         n_chars
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       md5(array_to_string(list_sort(list(rh)), '')) AS content_md5
FROM h GROUP BY lang
"""


for _name in [
    "op_text_profile", "op_text_quality_lang", "op_text_fingerprint",
    "op_text_chunk", "op_text_bm25", "op_text_repetition",
    "op_asof_join", "op_range_join", "op_similarity_topk",
    "op_pii_redact",
]:
    globals()[_name] = _memo_plan(globals()[_name])


def op_doc_retrieval_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-ranked retrieval: overlapping 64-word chunks ranked by
    cosine against the query's hashed bag-of-words embedding, top-5
    with text — the reference doc retriever's ACTUAL ranking model
    (eval/doc_retriever.py:60-94 ranks chunks by embedding dot product;
    the BM25 sibling op_doc_retrieval covers the lexical variant)."""
    return text_ops.doc_retrieval_embed(
        _docs(spark, sf_dir), ["window", "merge", "scan"], k=5
    )


# query ["window","merge","scan"] hashes to buckets 6/8/14 of 16
# (md5 first-4-hex mod 16) -> 1-indexed DuckDB list slots 7/9/15;
# |q| = sqrt(3). Counts are small integers, so every dot/norm is exact
# in IEEE double on both engines and the 4-dp round cannot diverge.
ORACLE_DOC_RETRIEVAL_EMBED = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
  FROM documents
), n AS (
  SELECT doc_id, words,
         greatest(CAST(ceil((len(words) - 16) / 48.0) AS INTEGER), 1)
             AS n_chunks
  FROM w
), chunks AS (
  SELECT doc_id * 100000 + i AS ckey,
         array_to_string(words[(i - 1) * 48 + 1 : (i - 1) * 48 + 64], ' ')
             AS chunk_text
  FROM n, unnest(range(1, n_chunks + 1)) AS t(i)
), toks AS (
  SELECT ckey, chunk_text,
         list_filter(string_split_regex(lower(chunk_text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM chunks
), vecs AS (
  SELECT ckey, chunk_text,
         list_transform(range(0, 16),
             b -> CAST(len(list_filter(tokens,
                 t -> ('0x' || substr(md5(t), 1, 4))::INT % 16 = b))
               AS DOUBLE)) AS vec
  FROM toks
), scored AS (
  SELECT ckey, chunk_text,
         vec[7] + vec[9] + vec[15] AS dq,
         round((vec[7] + vec[9] + vec[15])
               / (sqrt(list_sum(list_transform(vec, x -> x * x)))
                  * sqrt(3.0)), 4) AS cos_sim
  FROM vecs
  WHERE vec[7] + vec[9] + vec[15] > 0
  ORDER BY cos_sim DESC, ckey LIMIT 5
)
SELECT CAST(floor(ckey / 100000) AS BIGINT) AS doc_id,
       CAST(ckey % 100000 AS INTEGER) AS chunk_id, cos_sim, chunk_text
FROM scored
"""


OPERATORS: dict[str, tuple[Callable, Optional[str]]] = {
    "op_dedup_exact": (op_dedup_exact, ORACLE_DEDUP_EXACT),
    "op_dedup_minhash_lsh": (op_dedup_minhash_lsh, ORACLE_MINHASH_LSH),
    "op_minhash_accuracy": (op_minhash_accuracy, ORACLE_MINHASH_ACCURACY),
    "op_corpus_diff": (op_corpus_diff, ORACLE_CORPUS_DIFF),
    "op_dedup_ngram_jaccard": (op_dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "op_dedup_simhash": (op_dedup_simhash, ORACLE_SIMHASH),
    "op_dedup_apply": (op_dedup_apply, ORACLE_DEDUP_APPLY),
    "op_dedup_embedding": (op_dedup_embedding, ORACLE_EMBED_COSINE),
    "op_text_profile": (op_text_profile, ORACLE_TEXT_PROFILE),
    "op_text_quality_lang": (op_text_quality_lang, ORACLE_TEXT_QUALITY),
    "op_text_fingerprint": (op_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
    "op_text_chunk": (op_text_chunk, ORACLE_TEXT_CHUNK),
    "op_text_bm25": (op_text_bm25, ORACLE_TEXT_BM25),
    "op_text_repetition": (op_text_repetition, ORACLE_TEXT_REPETITION),
    "op_text_logprob": (op_text_logprob, ORACLE_TEXT_LOGPROB),
    "op_corpus_prep": (op_corpus_prep, ORACLE_CORPUS_PREP),
    "op_decontaminate": (op_decontaminate, ORACLE_DECONTAMINATE),
    "op_pii_redact": (op_pii_redact, ORACLE_PII_REDACT),
    "op_skew_salted_agg": (op_skew_salted_agg, ORACLE_SKEW_AGG),
    "op_skew_salted_join": (op_skew_salted_join, ORACLE_SKEW_JOIN),
    "op_similarity_topk": (op_similarity_topk, ORACLE_SIM_TOPK),
    "op_similarity_batch": (op_similarity_batch, ORACLE_SIM_BATCH),
    "op_similarity_lsh_recall": (op_similarity_lsh_recall, ORACLE_SIM_RECALL),
    "op_similarity_ivf_recall": (op_similarity_ivf_recall, ORACLE_SIM_RECALL),
    "op_similarity_ivfpq_recall": (
        op_similarity_ivfpq_recall, ORACLE_SIM_RECALL,
    ),
    "op_similarity_filtered": (op_similarity_filtered, ORACLE_SIM_FILTERED),
    "op_multimodal_features": (op_multimodal_features, ORACLE_MULTIMODAL),
    "op_image_phash": (op_image_phash, ORACLE_IMAGE_PHASH),
    "op_audio_fingerprint": (
        op_audio_fingerprint, ORACLE_AUDIO_FINGERPRINT,
    ),
    "op_multimodal_frame_sample": (
        op_multimodal_frame_sample,
        ORACLE_MM_FRAME_SAMPLE,
    ),
    "op_asof_join": (op_asof_join, ORACLE_ASOF),
    "op_range_join": (op_range_join, ORACLE_RANGE_JOIN),
    "op_bucketed_join": (op_bucketed_join, ORACLE_BUCKETED_JOIN),
    "op_stream_tumbling": (op_stream_tumbling, ORACLE_STREAM_TUMBLING),
    "op_stream_sliding": (op_stream_sliding, ORACLE_STREAM_SLIDING),
    "op_stream_session": (op_stream_session, ORACLE_STREAM_SESSION),
    "op_stream_join": (op_stream_join, ORACLE_STREAM_JOIN),
    "op_stream_stateful": (op_stream_stateful, ORACLE_STREAM_STATEFUL),
    "op_stream_dedup": (op_stream_dedup, ORACLE_STREAM_DEDUP),
    "op_stream_neardup": (op_stream_neardup, ORACLE_STREAM_NEARDUP),
    "op_stream_doc_profile": (op_stream_doc_profile, ORACLE_TEXT_PROFILE),
    "op_stream_decontaminate": (op_stream_decontaminate, ORACLE_DECONTAMINATE),
    "op_stream_bloom_decontaminate": (
        op_stream_bloom_decontaminate, ORACLE_BLOOM_DECONTAMINATE,
    ),
    "op_dedup_clusters": (op_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "op_domain_mix": (op_domain_mix, ORACLE_DOMAIN_MIX),
    "op_temperature_mix": (op_temperature_mix, ORACLE_TEMPERATURE_MIX),
    "op_sample_stratified": (op_sample_stratified, ORACLE_SAMPLE_STRATIFIED),
    "op_sample_weighted": (op_sample_weighted, ORACLE_SAMPLE_WEIGHTED),
    "op_train_val_split": (op_train_val_split, ORACLE_TRAIN_VAL_SPLIT),
    "op_shuffle_shards": (op_shuffle_shards, ORACLE_SHUFFLE_SHARDS),
    "op_pack_chunks": (op_pack_chunks, ORACLE_PACK_CHUNKS),
    "op_pack_first_fit": (op_pack_first_fit, ORACLE_PACK_FIRST_FIT),
    "op_dedup_paragraph": (op_dedup_paragraph, ORACLE_DEDUP_PARAGRAPH),
    "op_dsir_select": (op_dsir_select, ORACLE_DSIR_SELECT),
    "op_stream_warehouse_sink": (op_stream_warehouse_sink, ORACLE_STREAM_SINK),
    "op_stream_upsert": (op_stream_upsert, ORACLE_STREAM_UPSERT),
    "op_token_histogram": (op_token_histogram, ORACLE_TOKEN_HISTOGRAM),
    "op_embedding_quantize": (op_embedding_quantize, ORACLE_EMBED_QUANTIZE),
    "op_semantic_dedup": (op_semantic_dedup, ORACLE_SEMANTIC_DEDUP),
    "op_quality_classifier": (
        op_quality_classifier, ORACLE_QUALITY_CLASSIFIER,
    ),
    "op_c4_clean": (op_c4_clean, ORACLE_C4_CLEAN),
    "op_bloom_decontaminate": (
        op_bloom_decontaminate, ORACLE_BLOOM_DECONTAMINATE,
    ),
    "op_pq_quantize": (op_pq_quantize, ORACLE_PQ_QUANTIZE),
    "op_incremental_dedup": (
        op_incremental_dedup, ORACLE_INCREMENTAL_DEDUP,
    ),
    "op_url_dedup": (op_url_dedup, ORACLE_URL_DEDUP),
    "op_dedup_spans": (op_dedup_spans, ORACLE_DEDUP_SPANS),
    # round 9
    "op_knn_graph": (op_knn_graph, ORACLE_KNN_GRAPH),
    "op_embedding_outliers": (
        op_embedding_outliers, ORACLE_EMBEDDING_OUTLIERS,
    ),
    "op_bigram_lm_score": (op_bigram_lm_score, ORACLE_BIGRAM_LM),
    "op_curriculum_order": (op_curriculum_order, ORACLE_CURRICULUM),
    "op_zorder_layout": (op_zorder_layout, ORACLE_ZORDER),
    "op_gopher_rules": (op_gopher_rules, ORACLE_GOPHER_RULES),
    "op_tokenizer_fertility": (
        op_tokenizer_fertility, ORACLE_TOKENIZER_FERTILITY,
    ),
    "op_shard_manifest": (op_shard_manifest, ORACLE_SHARD_MANIFEST),
    "op_crossmodal_dedup": (op_crossmodal_dedup, ORACLE_CROSSMODAL),
    "op_tfidf_keywords": (op_tfidf_keywords, ORACLE_TFIDF),
    "op_ngram_novelty": (op_ngram_novelty, ORACLE_NGRAM_NOVELTY),
    "op_kanon_release": (op_kanon_release, ORACLE_KANON),
    "op_stream_sample": (op_stream_sample, ORACLE_STREAM_SAMPLE),
    "op_sessionize": (op_sessionize, ORACLE_SESSIONIZE),
    "op_dp_histogram": (op_dp_histogram, ORACLE_DP_HISTOGRAM),
    "op_hll_distinct": (op_hll_distinct, ORACLE_HLL_DISTINCT),
    "op_cms_heavy_hitters": (op_cms_heavy_hitters, ORACLE_CMS_HEAVY_HITTERS),
    "op_quantile_sketch": (op_quantile_sketch, ORACLE_QUANTILE_SKETCH),
    "op_winnow_fingerprint": (op_winnow_fingerprint, ORACLE_WINNOW),
    "op_record_linkage": (op_record_linkage, ORACLE_RECORD_LINKAGE),
    "op_doc_retrieval": (op_doc_retrieval, ORACLE_DOC_RETRIEVAL),
    "op_orc_roundtrip": (op_orc_roundtrip, ORACLE_ORC_ROUNDTRIP),
    "op_stream_hll": (op_stream_hll, ORACLE_STREAM_HLL),
    "op_linkage_entities": (op_linkage_entities, ORACLE_LINKAGE_ENTITIES),
    "op_column_ndv_profile": (op_column_ndv_profile, ORACLE_COLUMN_NDV),
    "op_funnel_analysis": (op_funnel_analysis, ORACLE_FUNNEL),
    "op_retention_cohorts": (op_retention_cohorts, ORACLE_RETENTION),
    "op_oov_rate": (op_oov_rate, ORACLE_OOV_RATE),
    "op_attribution": (op_attribution, ORACLE_ATTRIBUTION),
    "op_pagerank": (op_pagerank, ORACLE_PAGERANK),
    "op_stream_cms": (op_stream_cms, ORACLE_CMS_HEAVY_HITTERS),
    "op_sample_fixed_stratified": (
        op_sample_fixed_stratified, ORACLE_SAMPLE_FIXED,
    ),
    "op_dataset_card": (op_dataset_card, ORACLE_DATASET_CARD),
    "op_embedding_pca": (op_embedding_pca, ORACLE_EMBEDDING_PCA),
    "op_image_neardup": (op_image_neardup, ORACLE_IMAGE_NEARDUP),
    "op_audio_neardup": (op_audio_neardup, ORACLE_AUDIO_NEARDUP),
    "op_contamination_report": (
        op_contamination_report, ORACLE_CONTAMINATION_REPORT,
    ),
    "op_langid_confusion": (op_langid_confusion, ORACLE_LANGID_CONFUSION),
    "op_dedup_threshold_sweep": (
        op_dedup_threshold_sweep, ORACLE_THRESHOLD_SWEEP,
    ),
    "op_shingle_containment": (
        op_shingle_containment, ORACLE_SHINGLE_CONTAINMENT,
    ),
    "op_winnow_matches": (op_winnow_matches, ORACLE_WINNOW_MATCHES),
    "op_zipf_fit": (op_zipf_fit, ORACLE_ZIPF_FIT),
    "op_heaps_curve": (op_heaps_curve, ORACLE_HEAPS_CURVE),
    "op_lateness_audit": (op_lateness_audit, ORACLE_LATENESS_AUDIT),
    "op_linear_attribution": (
        op_linear_attribution, ORACLE_LINEAR_ATTRIBUTION,
    ),
    "op_join_skew_report": (op_join_skew_report, ORACLE_JOIN_SKEW),
    "op_anomaly_days": (op_anomaly_days, ORACLE_ANOMALY_DAYS),
    "op_doc_retrieval_embed": (
        op_doc_retrieval_embed, ORACLE_DOC_RETRIEVAL_EMBED,
    ),
    "op_layout_recommendation": (
        op_layout_recommendation, ORACLE_LAYOUT_RECOMMENDATION,
    ),
    "op_compaction_audit": (op_compaction_audit, ORACLE_COMPACTION_AUDIT),
    # rows-only (no DuckDB xxhash64): the JVM-hash scale seam
    "op_dedup_minhash_xxhash": (op_dedup_minhash_xxhash, None),
}



# ---------------------------------------------------------------------------
# public registry
# ---------------------------------------------------------------------------


# Round-13 driver window (the frozen literal the round-13 driver runs;
# tests/test_window_ledger.py CURRENT_ROUND = 13). Composition, in
# priority order mandated by the round-12 verdict and the staleness
# ledger:
#   1. The two rows whose internals round 12's optimizer changed but
#      which were NOT in the r12 driver sample (hash-exact re-witness):
#      op_dedup_minhash_lsh (store slimmed r12, PRE-GROUPED r13) and
#      op_stream_neardup (boundary re-hex r12).
#   2. The 15 never-driver-witnessed round-12 registrations (q147-q161,
#      registered after the round-12 window froze) — first-witness priority.
#   3. The 18 round-6-witnessed entries (they would breach the 6-round
#      staleness bound after round 13).
#   4. The 12 round-7-witnessed entries (at the bound after round 13).
#   5. Three rows this round's optimizer touches, stalest first:
#      op_bucketed_join (r8 row; one-file-per-bucket writer),
#      op_dedup_clusters and op_dedup_threshold_sweep (r9/r10 rows;
#      consume the pre-grouped minhash candidate store).
# 2 + 15 + 18 + 12 + 3 = 50. Verified against CORRECTNESS_r01..r12:
# no dupes, and no entry outside this window is >6 rounds stale after
# round 13 lands.
_WINDOW_R13: tuple[str, ...] = (
    "op_dedup_minhash_lsh",
    "op_stream_neardup",
    "q147_lateral_limit",
    "q148_scaled_mixed_interval",
    "q149_unnest_recursive",
    "q150_at_time_zone",
    "q151_columns_qualified_star",
    "q152_asof_derived",
    "q153_type_alias",
    "q154_grouping_alias",
    "q155_conflict_where",
    "q156_window_exclude_rows",
    "q157_array_agg_distinct",
    "q158_recursive_union",
    "q159_unnest_zip",
    "q160_timestamptz_time_arith",
    "q161_scalar_surface_r12",
    "op_dedup_paragraph",
    "op_dsir_select",
    "op_embedding_quantize",
    "op_multimodal_frame_sample",
    "op_similarity_batch",
    "op_skew_salted_join",
    "op_stream_decontaminate",
    "op_stream_doc_profile",
    "op_stream_upsert",
    "op_stream_warehouse_sink",
    "op_token_histogram",
    "q107_tpch_q12",
    "q113_pg_operators",
    "q115_from_json",
    "q116_enum_battery",
    "q88_upsert_on_conflict",
    "q90_merge_upsert",
    "q91_window_exclude_median",
    "op_dedup_simhash",
    "op_text_quality_lang",
    "q114_array_spellings",
    "q117_tpch_q2_min_cost_supplier",
    "q118_tpch_q9_profit",
    "q119_tpch_q11_important_stock",
    "q120_tpch_q16_parts_supplier",
    "q121_tpch_q20_promotion",
    "q122_tpch_q21_waiting_orders",
    "q123_tpch_q12_full_predicate",
    "q124_pivot_statement",
    "q125_unpivot_statement",
    "op_bucketed_join",
    "op_dedup_clusters",
    "op_dedup_threshold_sweep",
)

# First numeric query id of the re-witness rotation (see _registry_order):
# the stalest SQL outside the round-13 window is the round-8-witnessed
# q126/q127 pair — the tail runs in numeric order from there and wraps.
_REWITNESS_START = 126

# Round-14 draft (if a further round happens): nothing is post-freeze
# and nothing would be >6 rounds stale until round 15 (the round-8
# block q126/q127 + op rows). Lead with whatever rows round 14's
# changes touch, then re-witness q126 onward by staleness.


def _registry_order() -> list[str]:
    """Registry emission order: FIXED and fully deterministic.

    Earlier rounds rotated this list against the driver's first-50
    correctness window; round-3 review correctly flagged that scheme as
    nondeterministic (it sniffed evaluator artifacts) and self-defeating
    (verified entries rotated out of the window, so a regression could
    hide for a round). The order is now a hand-maintained static literal:
    the driver's 50-entry window (`_WINDOW_R13`) leads with the entries
    that have never earned a driver correctness row, then re-witnesses
    by staleness (oldest driver row first); the remainder is every
    other entry in numeric registration order ROTATED to start at
    _REWITNESS_START (q126: the oldest SQL block left after the r13
    window is the round-8-witnessed pair, which starts there). Entries
    outside the window are re-proven every round by
    tests/test_oracle_parity.py, which runs the SAME engine-vs-DuckDB
    compare at the driver's sf0.01.
    """
    head = list(_WINDOW_R13)
    head_set = set(head)

    def qnum(n: str) -> int:
        # numeric query index ("q100_..." is NOT < "q51_..." here)
        return int(re.match(r"q(\d+)", n).group(1))

    sql_rest = [n for n in ENGINE_SQL if n not in head_set]
    sql_rest.sort(key=qnum)
    tail = [n for n in sql_rest if qnum(n) < _REWITNESS_START]
    sql_rest = [n for n in sql_rest if qnum(n) >= _REWITNESS_START] + tail
    op_rest = [n for n in OPERATORS if n not in head_set]
    return head + sql_rest + op_rest


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _registry_order():
        if name in OPERATORS:
            out[name] = OPERATORS[name][0]
        else:
            sql = ENGINE_SQL[name][0]

            def run(spark: SparkSession, sf_dir: str, _sql=sql) -> DataFrame:
                return engine_for(spark, sf_dir).execute(_sql)

            out[name] = run
    return out


def build_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, (_sql, oracle) in ENGINE_SQL.items():
        if oracle is not None:
            out[name] = oracle
    for name, (_fn, oracle) in OPERATORS.items():
        if oracle is not None:
            out[name] = oracle
    return out
