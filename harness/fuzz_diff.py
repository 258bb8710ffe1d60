"""Randomized cross-engine differential FUZZER: template-grammar
analytic queries (agg/scalar/window/join shapes over the TPC-H
fixtures) run on the engine AND DuckDB; any row-set difference is a
finding. Usage: python harness/fuzz_diff.py [seed] [n_queries].
About one draw in four is followed by a gen_order_query() statement (a
trailing ORDER BY without LIMIT), whose rows are compared in order.

Round-4 findings it already caught (all fixed + pinned):
 - CAST(double AS INTEGER) used HALF-UP rounding; DuckDB's cast is
   banker's HALF-EVEN (904.5 -> 904) — now bround().
 - round(<integer expr>, n) kept INT typing; DuckDB returns DOUBLE.
 - sum(int * 0.5) / count(*): Spark kept DECIMAL typing; DuckDB's
   division is always DOUBLE (decimal-bearing spans now cast).
 - INTERVAL (expr) DAY dynamic intervals unsupported.
 - s_acctbal // 3: Spark div rejects DOUBLE operands; DuckDB divides
   plainly on non-integers (typed dispatch via the schema resolver).
"""
import random
import sys

import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import duckdb_nsql_spark as dns

rng = random.Random(42)
# the in-order ORDER BY family draws from its own stream, so adding it
# left every seed's gen_query() sequence unchanged
order_rng = random.Random("order:42")


def reseed(seed: int) -> None:
    global rng, order_rng
    rng = random.Random(seed)
    order_rng = random.Random(f"order:{seed}")

NUM_COLS = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "part": ["p_retailprice", "p_size"],
    "supplier": ["s_acctbal"],
}
STR_COLS = {
    "lineitem": ["l_returnflag", "l_linestatus"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_name"],
    "part": ["p_brand", "p_type"],
    "supplier": ["s_name"],
}
KEY_COLS = {
    "lineitem": "l_orderkey", "orders": "o_orderkey",
    "customer": "c_custkey", "part": "p_partkey", "supplier": "s_suppkey",
}
DATE_COLS = {"lineitem": "l_shipdate", "orders": "o_orderdate"}

def scalar_expr(t):
    n = rng.choice(NUM_COLS[t]); s = rng.choice(STR_COLS[t])
    return rng.choice([
        f"round({n} * 2.5, 3)",
        f"round(abs({n} - 10), 2)",
        f"upper(substr({s}, 2, 4))",
        f"length({s}) + {rng.randint(0,5)}",
        f"coalesce(nullif({s}, 'x'), 'y')",
        f"CASE WHEN {n} > {rng.randint(1, 50)} THEN 'hi' ELSE 'lo' END",
        f"concat({s}, '#', CAST({rng.randint(1,9)} AS VARCHAR))",
        f"round(ln(abs({n}) + 1), 4)",
        f"least({n}, {rng.randint(1,40)})",
        f"list_contains(string_split({s}, ' '), 'BOX')",
        f"hash_eq_md5({s})".replace("hash_eq_md5", "md5"),
        f"regexp_extract({s}, '[A-Z]+', 0)",
        f"date_part('month', DATE '2024-01-15' + INTERVAL ({n}::INTEGER % 28) DAY)",
        f"{n} // 3",
        f"CAST({n} AS INTEGER) % 7",
        # round-6 surface: CASE operand int-cast rounding, pg-operator
        # spellings, list_product NULL seed, fixed-ARRAY spellings
        f"CAST(CASE WHEN {n} > {rng.randint(1, 40)} THEN {n} * 1.5 "
        f"ELSE {n} / 3 END AS INTEGER)",
        f"alias({n} + 1)",
        f"list_product([CAST({n} AS DOUBLE), 2.0])",
        f"array_inner_product(array_value(CAST({n} AS DOUBLE), 1.0),"
        f" array_value(2.0, 3.0))",
        # abs() on the left-shift value: DuckDB ERRORS on left-shifting
        # a negative number (we stay permissive — documented divergence)
        f"CAST(abs({n}) AS INTEGER) << {rng.randint(0, 3)}",
        f"CAST({n} AS INTEGER) >> {rng.randint(0, 2)}",
        # precedence shapes: shifts bind below arithmetic, left-assoc
        f"CAST(abs({n}) AS INTEGER) + 2 << {rng.randint(0, 2)}",
        f"CAST(abs({n}) AS INTEGER) >> 1 >> {rng.randint(0, 2)}",
    ])

def agg_expr(t):
    n = rng.choice(NUM_COLS[t]); s = rng.choice(STR_COLS[t])
    return rng.choice([
        f"round(sum({n}), 2)",
        f"round(avg({n}), 2)",  # 2dp: ulp-level FP reorder noise
        f"count(DISTINCT {s})",
        f"min({s})", f"max({n})",
        f"round(stddev_pop({n}), 2)",
        f"count(*) FILTER (WHERE {n} > {rng.randint(1,30)})",
        f"round(sum({n} * 0.5) / greatest(count(*), 1), 2)",
        f"bool_or(length({s}) > {rng.randint(4, 12)})",
        f"max({s})",
    ])

def predicate(t):
    n = rng.choice(NUM_COLS[t]); s = rng.choice(STR_COLS[t])
    return rng.choice([
        f"{n} > {rng.randint(0, 100)}",
        f"{n} BETWEEN {rng.randint(0,20)} AND {rng.randint(21,99)}",
        f"{s} LIKE '%{rng.choice('AERST')}%'",
        f"length({s}) % 2 = {rng.randint(0,1)}",
        f"{s} IS NOT NULL AND {n} IS NOT NULL",
        f"substr({s}, 1, 1) IN ('A', 'B', 'R', 'M')",
        f"{n} < (SELECT avg({n}) FROM {t})",
        f"{s} ~~ '%{rng.choice('AERST')}%'",
        f"{s} !~~ '{rng.choice('ABR')}%'",
        f"{s} ^@ '{rng.choice('ABRM')}'",
    ])

def date_expr(t):
    d = DATE_COLS.get(t)
    if d is None:
        return None
    return rng.choice([
        f"date_part('month', {d})",
        f"date_trunc('month', {d})",
        f"strftime({d}, '%Y-%m')",
        f"datediff('day', DATE '1995-01-01', {d})",
        f"{d} + INTERVAL {rng.randint(1, 40)} DAY",
        f"last_day({d})",
        f"extract(dow FROM {d})",
        f"CASE WHEN {d} >= DATE '1996-01-01' THEN 'late' ELSE 'early' END",
        f"year({d}) * 100 + month({d})",
        f"date_part('quarter', {d})",
    ])


TEXT_FN_POOL = [
    "length(text)",
    "len(string_split_regex(trim(text), '\\s+'))",
    "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))",
    "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b'))",
    "round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / greatest(length(text), 1), 4)",
    "substr(text, 5, 12)",
    "upper(split_part(text, ' ', 2))",
    "contains(text, 'the')",
    "levenshtein(substr(text, 1, 8), 'training')",
    "regexp_extract(text, '[A-Za-z]{5,}', 0)",
    "strlen(text)",
    "ascii(text)",
    "left(text, 6) || '...' || right(text, 4)",
    "position('a' IN text)",
]


def gen_doc_query():
    exprs = ", ".join(
        f"{rng.choice(TEXT_FN_POOL)} AS c{i}" for i in range(rng.randint(2, 4))
    )
    return (f"SELECT doc_id, {exprs} FROM documents "
            f"WHERE doc_id % {rng.randint(2, 9)} = {rng.randint(0, 1)} "
            f"ORDER BY doc_id LIMIT 80")


EVENT_TS_POOL = [
    "time_bucket(INTERVAL '1 hour', ts)",
    "time_bucket(INTERVAL '15 minutes', ts)",
    "date_trunc('day', ts)",
    "date_part('hour', ts)",
    "strftime(ts, '%Y-%m-%d %H')",
    "epoch_ms(ts)",
    "extract(minute FROM ts)",
    "ts + INTERVAL 90 MINUTE",
    "datediff('hour', TIMESTAMP '2024-01-01 00:00:00', ts)",
    # dynamic day-time interval -> VARCHAR rendering (round-5 surface):
    # positive/negative spans, sub-day and multi-day, both cast forms
    "CAST(ts - TIMESTAMP '2024-01-05 06:30:00' AS VARCHAR)",
    "(TIMESTAMP '2024-02-01 00:00:00' - ts)::VARCHAR",
    "CAST(INTERVAL (extract(minute FROM ts)) MINUTE AS VARCHAR)",
    "CAST(ts - ts AS VARCHAR)",
    # TIME type surface (round-8): TIMESTAMP->TIME cast (both
    # spellings), extraction and ordering over the extracted TIME,
    # make_time round-trips, rendering
    "CAST(CAST(ts AS TIME) AS VARCHAR)",
    "CAST(ts::TIME AS VARCHAR)",
    "extract(hour FROM CAST(ts AS TIME))",
    "CAST(ts AS TIME) < TIME '12:00:00'",
    "CAST(make_time(CAST(extract(hour FROM ts) AS BIGINT), "
    "CAST(extract(minute FROM ts) AS BIGINT), 1.5) AS VARCHAR)",
    "CAST(greatest(CAST(ts AS TIME), TIME '06:30:00') AS VARCHAR)",
    # round-9: ± chains in TIME-cast position (_span_is_ts_typed's
    # rightmost-operator rule — ts - interval stays ts; interval + ts
    # is ts from the right side; ts - ts is INTERVAL and must NOT
    # rewrite, covered by the loud-error engine test, not fuzz)
    "CAST(CAST(ts - INTERVAL 2 HOUR AS TIME) AS VARCHAR)",
    "CAST(CAST(INTERVAL 30 MINUTE + ts AS TIME) AS VARCHAR)",
    "CAST((ts + INTERVAL 1 HOUR - INTERVAL 15 MINUTE)::TIME AS VARCHAR)",
]


def gen_event_query():
    te = rng.choice(EVENT_TS_POOL)
    shape = rng.random()
    if shape < 0.5:
        return (f"SELECT {te} AS b, event_type, count(*) AS n, "
                f"round(sum(value), 4) AS s FROM events "
                f"WHERE user_id % {rng.randint(2, 7)} = 0 "
                f"GROUP BY ALL ORDER BY ALL LIMIT 60")
    if shape < 0.8:
        return (f"SELECT event_id, {te} AS b, "
                f"round(value * {rng.randint(2, 9)}, 4) AS v FROM events "
                f"WHERE event_type = 'click' AND event_id % 5 = 0 "
                f"ORDER BY event_id LIMIT 60")
    return (f"SELECT event_id, user_id, "
            f"lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t, "
            f"round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run "
            f"FROM events WHERE user_id % 11 = 3 ORDER BY user_id, ts, event_id LIMIT 60")


EMB_POOL = [
    "round(embedding[1], 4)",
    "round(list_sum(embedding[1:4]), 3)",
    "len(embedding)",
    "round(list_cosine_similarity(embedding, list_reverse(embedding)), 3)",
    "round(list_max(embedding) - list_min(embedding), 3)",
    "round(list_aggregate(embedding[:8], 'sum'), 3)",
    "list_count(list_filter(embedding, x -> x > 0))",
    "round(embedding[-1], 4)",
    # round-5 list_<agg> macro family
    "round(list_median(embedding[:6]), 4)",
    "round(list_product(list_transform(embedding[:3], x -> abs(x) + 1.0)), 4)",
    "round(list_any_value(embedding), 4)",
    "round(list_first(embedding), 4) = round(list_last(list_reverse(embedding)), 4)",
    "list_bool_or(list_transform(embedding[:5], x -> x > 0))",
    "round(list_entropy(list_transform(embedding[:6], x -> CAST(x > 0 AS INTEGER))), 6)",
    "array_pop_back(list_transform(embedding[:3], x -> round(x, 2)))",
]


def gen_emb_query():
    exprs = ", ".join(
        f"{rng.choice(EMB_POOL)} AS c{i}" for i in range(rng.randint(2, 3))
    )
    return (f"SELECT vec_id, {exprs} FROM embeddings "
            f"WHERE vec_id % {rng.randint(2, 7)} = 0 "
            f"ORDER BY vec_id LIMIT 80")


def gen_advanced_query():
    """Round-4 sixth-wave shapes: correlated scalar subqueries (equality
    AND inequality correlation), ROLLUP/CUBE/GROUPING SETS, QUALIFY,
    DISTINCT ON, IS DISTINCT FROM chains, composite->VARCHAR casts,
    decimal-ish column division, nested CTE chains.

    Unique-key tables only (not lineitem): several shapes ORDER BY the
    key with LIMIT, and duplicate keys make the cut nondeterministic in
    both engines — a fuzz flake, not a bug."""
    t = rng.choice(["orders", "customer", "part", "supplier"])
    n = rng.choice(NUM_COLS[t])
    s = rng.choice(STR_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.14:
        op = rng.choice(["<=", "=", "<"])
        return (
            f"SELECT {k}, (SELECT count(*) FROM {t} i WHERE i.{k} {op} o.{k}"
            f" AND i.{n} > {rng.randint(1, 30)}) AS c"
            f" FROM {t} o WHERE o.{k} % {rng.randint(7, 19)} = 0"
            f" ORDER BY {k} LIMIT 40"
        )
    if r < 0.28:
        gs = rng.choice(["ROLLUP", "CUBE"])
        g2 = rng.choice(STR_COLS[t])
        return (
            f"SELECT {s} AS g1, {g2} AS g2, count(*) AS n,"
            f" round(sum({n}), 1) AS sm"
            f" FROM {t} WHERE {predicate(t)}"
            f" GROUP BY {gs} ({s}, {g2}) ORDER BY ALL LIMIT 60"
        )
    if r < 0.40:
        return (
            f"SELECT {k}, {s}, {n} FROM {t} WHERE {predicate(t)}"
            f" QUALIFY row_number() OVER (PARTITION BY {s}"
            f" ORDER BY {n} DESC, {k}) <= {rng.randint(1, 3)}"
            f" ORDER BY ALL LIMIT 50"
        )
    if r < 0.52:
        return (
            f"SELECT DISTINCT ON ({s}) {s}, {k}, {n} FROM {t}"
            f" WHERE {predicate(t)} ORDER BY {s}, {k} LIMIT 40"
        )
    if r < 0.64:
        return (
            f"SELECT {k}, {s} IS DISTINCT FROM 'x' AS d1,"
            f" nullif({s}, {s}) IS NOT DISTINCT FROM NULL AS d2,"
            f" CAST([{n}, {n} * 2] AS VARCHAR) AS lv"
            f" FROM {t} WHERE {k} % {rng.randint(5, 11)} = 1"
            f" ORDER BY {k} LIMIT 40"
        )
    if r < 0.76:
        return (
            f"SELECT {k}, round({n} / {rng.randint(2, 7)}, 3) AS d1,"
            f" {n} // {rng.randint(2, 5)} AS d2,"
            f" CAST({{'k': {n}}} AS VARCHAR) AS sv"
            f" FROM {t} WHERE {predicate(t)} ORDER BY {k} LIMIT 40"
        )
    if r < 0.88:
        return (
            f"WITH a AS (SELECT {s} AS g, round(sum({n}), 1) AS sm"
            f" FROM {t} GROUP BY {s}),"
            f" b AS (SELECT g, sm FROM a WHERE sm >"
            f" (SELECT round(avg(sm), 1) / 2 FROM a))"
            f" SELECT g, sm FROM b ORDER BY g LIMIT 30"
        )
    return (
        f"SELECT {s} AS g, count(*) AS n, round(sum({n}), 1) AS sm"
        f" FROM {t} WHERE {predicate(t)}"
        f" GROUP BY GROUPING SETS (({s}), ()) ORDER BY ALL LIMIT 40"
    )


def gen_window_join_query():
    """Wave-7 shapes: explicit window frames (ROWS/RANGE variants,
    EXCLUDE CURRENT ROW), ranked windows (ntile / nth_value / dense),
    USING-clause joins, FULL OUTER on keys, INTERSECT/EXCEPT ALL,
    VALUES row-sets joined to tables.

    Window shapes draw only from tables whose KEY_COLS entry is a
    unique key (not lineitem: l_orderkey repeats, and a ROWS frame or
    last_value() over a tied ORDER BY is legitimately nondeterministic
    in both engines — a fuzz flake, not a bug)."""
    t = rng.choice(["orders", "customer", "part", "supplier"])
    n = rng.choice(NUM_COLS[t])
    s = rng.choice(STR_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.18:
        lo = rng.randint(1, 3)
        hi = rng.randint(0, 2)
        frame = rng.choice([
            f"ROWS BETWEEN {lo} PRECEDING AND {hi} FOLLOWING",
            f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW",
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        ])
        # round-6 surface: windowed median rides the same frames (the
        # q91 class — round() of the interpolated midpoint must follow
        # DuckDB's std::round(x*10^n)/10^n double-boundary semantics)
        wagg = rng.choice([f"sum({n})", f"sum({n})", f"median({n})"])
        return (
            f"SELECT {k}, round({wagg} OVER (PARTITION BY {s}"
            f" ORDER BY {k} {frame}), 2) AS w,"
            f" count(*) OVER (PARTITION BY {s} ORDER BY {k} {frame}) AS c"
            f" FROM {t} WHERE {k} % {rng.randint(3, 9)} = 0"
            f" ORDER BY {k} LIMIT 50"
        )
    if r < 0.36:
        fn = rng.choice([
            f"ntile({rng.randint(2, 5)})",
            "dense_rank()", "percent_rank()", "cume_dist()",
            f"nth_value({n}, {rng.randint(1, 3)})",
            f"first_value({n})", f"last_value({n})",
        ])
        return (
            f"SELECT {k}, {s}, round(CAST({fn} OVER (PARTITION BY {s}"
            f" ORDER BY {k}) AS DOUBLE), 4) AS w"
            f" FROM {t} WHERE {predicate(t)} ORDER BY {k}, {s} LIMIT 50"
        )
    if r < 0.52:
        # simple ON predicate only: DuckDB rejects subqueries inside a
        # non-inner join condition ("Not implemented Error")
        ln = rng.choice(NUM_COLS["lineitem"])
        return (
            f"SELECT o_orderkey, count(l_orderkey) AS n"
            f" FROM orders FULL OUTER JOIN lineitem"
            f" ON l_orderkey = o_orderkey AND {ln} > {rng.randint(0, 40)}"
            f" GROUP BY o_orderkey ORDER BY o_orderkey NULLS LAST"
            f" LIMIT 50"
        )
    if r < 0.68:
        op = rng.choice(["INTERSECT ALL", "EXCEPT ALL"])
        return (
            f"SELECT x FROM (SELECT {s} AS x FROM {t}"
            f" WHERE {predicate(t)} {op} SELECT {s} AS x FROM {t}"
            f" WHERE {predicate(t)}) u"
            f" ORDER BY x LIMIT 40"
        )
    if r < 0.84:
        vals = ", ".join(
            f"({rng.randint(0, 5)}, '{rng.choice('ABRM')}')"
            for _ in range(3)
        )
        return (
            f"SELECT v.a, v.b, count(*) AS n FROM (VALUES {vals})"
            f" v(a, b) JOIN nation ON n_regionkey = v.a"
            f" GROUP BY ALL ORDER BY ALL LIMIT 30"
        )
    return (
        f"SELECT c_custkey, o_orderkey FROM customer"
        f" JOIN orders ON o_custkey = c_custkey"
        f" WHERE c_custkey % {rng.randint(17, 41)} = 0"
        f" QUALIFY rank() OVER (PARTITION BY c_custkey"
        f" ORDER BY o_orderkey) <= 2 ORDER BY ALL LIMIT 40"
    )


def gen_wave8_query():
    """Wave-8 shapes: three-valued-logic traps (NOT IN over a subquery
    with NULLs), quantified comparisons (ANY/ALL), nested aggregates in
    window functions (share-of-total), GROUP BY/ORDER BY ordinals,
    LIMIT..OFFSET pagination, USING/NATURAL joins, HAVING without GROUP
    BY, multiple DISTINCT aggregates, empty scalar subqueries."""
    t = rng.choice(["orders", "customer", "part", "supplier"])
    n = rng.choice(NUM_COLS[t])
    s = rng.choice(STR_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.12:
        # NOT IN whose subquery may contain NULLs -> empty result in SQL
        inner = rng.choice([
            f"SELECT nullif({s}, '{rng.choice('ABRM')}') FROM {t}",
            f"SELECT {s} FROM {t} WHERE {n} > {rng.randint(0, 40)}",
        ])
        neg = "" if rng.random() < 0.5 else "NOT "
        return (
            f"SELECT count(*) AS n FROM {t}"
            f" WHERE {s} {neg}IN ({inner})"
        )
    if r < 0.24:
        op = rng.choice(["> ANY", "= ANY", "< ALL", ">= ALL", "<> ALL"])
        return (
            f"SELECT count(*) AS n FROM {t} WHERE {n} {op}"
            f" (SELECT {n} FROM {t} WHERE {k} % {rng.randint(13, 29)} = 1)"
        )
    if r < 0.36:
        # nested aggregate inside a window: per-group share of total
        return (
            f"SELECT {s} AS g, count(*) AS n,"
            f" round(count(*) * 1.0 / sum(count(*)) OVER (), 4) AS share,"
            f" round(sum({n}) - avg(sum({n})) OVER (), 2) AS dev"
            f" FROM {t} GROUP BY {s} ORDER BY g LIMIT 40"
        )
    if r < 0.48:
        # ordinals in GROUP BY and ORDER BY, mixed direction
        return (
            f"SELECT {s}, count(*) AS n, round(sum({n}), 1) AS sm"
            f" FROM {t} WHERE {predicate(t)}"
            f" GROUP BY 1 ORDER BY 3 DESC, 1 LIMIT 30"
        )
    if r < 0.58:
        off = rng.randint(1, 25)
        return (
            f"SELECT {k}, {s} FROM {t} WHERE {predicate(t)}"
            f" ORDER BY {k} LIMIT {rng.randint(5, 20)} OFFSET {off}"
        )
    if r < 0.68:
        join = rng.choice(
            ["JOIN nation USING (n_nationkey)", "NATURAL JOIN nation"]
        )
        side = {"customer": "c_nationkey", "supplier": "s_nationkey"}
        t2 = rng.choice(["customer", "supplier"])
        return (
            f"SELECT n_name, count(*) AS n FROM"
            f" (SELECT {side[t2]} AS n_nationkey FROM {t2}) x"
            f" {join} GROUP BY n_name ORDER BY n_name LIMIT 30"
        )
    if r < 0.78:
        # HAVING without GROUP BY: global aggregate gate
        return (
            f"SELECT count(*) AS n, round(sum({n}), 1) AS sm FROM {t}"
            f" WHERE {predicate(t)}"
            f" HAVING count(*) > {rng.randint(0, 5)}"
        )
    if r < 0.9:
        s2 = rng.choice(STR_COLS[t])
        return (
            f"SELECT count(DISTINCT {s}) AS d1,"
            f" count(DISTINCT {s2}) AS d2,"
            f" round(sum(DISTINCT CAST({n} AS INTEGER) % 50), 1) AS d3"
            f" FROM {t} WHERE {predicate(t)}"
        )
    # scalar subquery over an empty selection -> NULL, fed into coalesce
    return (
        f"SELECT {k}, coalesce((SELECT max({n}) FROM {t} i"
        f" WHERE i.{k} = o.{k} AND i.{n} > 1e12), -1) AS fallback"
        f" FROM {t} o WHERE o.{k} % {rng.randint(11, 23)} = 0"
        f" ORDER BY {k} LIMIT 30"
    )


def gen_wave9_query():
    """Wave-9 shapes (round 6): repeated-reference CTEs (the
    materialize-once path), GROUPING SETS/ROLLUP/CUBE with grouping(),
    chained set operations, struct literal + field access + list slices
    in one projection, string-function zoo, from_json structure
    literals."""
    t = rng.choice(["orders", "customer", "part", "supplier"])
    n = rng.choice(NUM_COLS[t])
    s = rng.choice(STR_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.2:
        # CTE referenced twice: engine materializes once (DuckDB-style)
        return (
            f"WITH agg AS (SELECT {s} AS g, round(sum({n}), 2) AS v"
            f" FROM {t} GROUP BY {s})"
            f" SELECT a.g, a.v, round(a.v / NULLIF(tot.t, 0), 4) AS share"
            f" FROM agg a, (SELECT round(sum(v), 2) AS t FROM agg) tot"
            f" ORDER BY a.g"
        )
    if r < 0.4:
        sets = rng.choice([
            f"GROUPING SETS (({s}), ())",
            f"ROLLUP ({s})",
            f"CUBE ({s})",
        ])
        return (
            f"SELECT coalesce({s}, '(all)') AS g, grouping({s}) AS gr,"
            f" count(*) AS c, round(sum({n}), 2) AS v"
            f" FROM {t} WHERE {n} > {rng.randint(0, 30)}"
            f" GROUP BY {sets} ORDER BY ALL"
        )
    if r < 0.55:
        op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
        return (
            f"SELECT substr({s}, 1, 2) AS g FROM {t} WHERE {n} > 50"
            f" {op} "
            f"SELECT substr({s}, 1, 2) FROM {t} WHERE {n} <= 50"
            f" ORDER BY g LIMIT 40"
        )
    if r < 0.75:
        return (
            f"SELECT {k},"
            f" {{'a': {n}, 'b': upper({s})}}.b AS f1,"
            f" struct_extract({{'x': {n} * 2}}, 'x') AS f2,"
            f" [{n}, 1, 2][2] AS e2,"
            f" ([{n}, 3, 4])[1:2] AS sl"
            f" FROM {t} ORDER BY {k} LIMIT 50"
        )
    zoo = rng.choice([
        f"translate({s}, 'AEIOU', 'aeiou')",
        f"repeat(substr({s}, 1, 2), 3)",
        f"reverse({s})",
        f"lpad({s}, 12, '.')",
        f"replace({s}, 'A', '@')",
        f"""from_json('{{"v":' || CAST({n} AS INTEGER) || '}}',"""
        f""" '{{"v":"BIGINT"}}').v""",
    ])
    return (
        f"SELECT {k}, {zoo} AS z FROM {t}"
        f" WHERE {predicate(t)} ORDER BY {k} LIMIT 60"
    )


def gen_wave10_query():
    """Wave-10 shapes (round 7): dynamic year-month interval VARCHAR
    renderings (pass_ym_interval_varchar), dynamic ym intervals in
    date arithmetic, NOT IN / correlated EXISTS anti-join shapes, and
    the derived-CTE join-back pattern the TPC-H breadth queries use
    (distinct pairs + modular arithmetic — engine-identical on DuckDB)."""
    t = rng.choice(["orders", "customer", "part", "supplier"])
    n = rng.choice(NUM_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.25:
        unit = rng.choice(["MONTH", "QUARTER", "YEAR", "DECADE"])
        spell = rng.choice([
            f"CAST(INTERVAL (CAST({n} AS INTEGER) % 40) {unit} AS VARCHAR)",
            f"INTERVAL (CAST({n} AS INTEGER) % 40) {unit} :: VARCHAR",
        ])
        return (
            f"SELECT {k}, {spell} AS ym FROM {t}"
            f" WHERE {predicate(t)} ORDER BY {k} LIMIT 50"
        )
    if r < 0.45:
        unit = rng.choice(["MONTH", "YEAR"])
        return (
            "SELECT o_orderkey,"
            f" CAST(o_orderdate + INTERVAL (CAST(o_totalprice AS INTEGER)"
            f" % 25) {unit} AS DATE) AS d"
            " FROM orders WHERE o_totalprice >"
            f" {rng.randint(0, 100000)} ORDER BY o_orderkey LIMIT 60"
        )
    if r < 0.65:
        t2 = rng.choice(["orders", "customer"])
        sub = (
            "SELECT o_custkey FROM orders WHERE o_totalprice >"
            f" {rng.randint(100000, 400000)}"
        )
        neg = rng.choice(["IN", "NOT IN"])
        return (
            "SELECT c_custkey, c_acctbal FROM customer"
            f" WHERE c_custkey {neg} ({sub})"
            f" AND c_acctbal > {rng.randint(0, 5000)}"
            " ORDER BY c_custkey LIMIT 50"
        )
    if r < 0.8:
        cmp_op = rng.choice(["EXISTS", "NOT EXISTS"])
        return (
            "SELECT s_suppkey, s_name FROM supplier s WHERE"
            f" {cmp_op} (SELECT 1 FROM lineitem l WHERE l.l_suppkey ="
            f" s.s_suppkey AND l.l_quantity > {rng.randint(30, 49)})"
            " ORDER BY s_suppkey LIMIT 40"
        )
    agg = rng.choice(["count(*)", "CAST(sum(aq) AS BIGINT)",
                      "CAST(min(aq) AS BIGINT)"])
    return (
        "WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk,"
        " (l_partkey * 37 + l_suppkey * 41) % 9999 + 1 AS aq"
        " FROM lineitem)"
        f" SELECT p_brand, {agg} AS v FROM ps JOIN part ON pk = p_partkey"
        f" WHERE sk % {rng.randint(2, 9)} = 0"
        " GROUP BY p_brand ORDER BY p_brand LIMIT 30"
    )


def gen_wave11_query():
    """Wave-11 shapes (round 9): GROUP BY CUBE + grouping(), VALUES
    relations joined to tables, POSITIONAL JOIN over ordered subqueries
    (incl. NULL padding + alias-qualified refs), and exact-count
    reservoir TABLESAMPLE."""
    t = rng.choice(list(STR_COLS))
    g = rng.choice(STR_COLS[t])
    n = rng.choice(NUM_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.3:
        m = rng.randint(2, 5)
        return (
            f"SELECT {g} AS g1, CAST({k} AS INTEGER) % {m} AS g2,"
            f" CAST(grouping({g}) AS INTEGER) AS gg,"
            f" CAST(count(*) AS BIGINT) AS cnt"
            f" FROM {t} WHERE {predicate(t)}"
            f" GROUP BY CUBE({g}, CAST({k} AS INTEGER) % {m})"
            f" ORDER BY ALL LIMIT 80"
        )
    if r < 0.55:
        m = rng.randint(3, 6)
        vals = ", ".join(f"({i}, 'lbl{i}')" for i in range(m))
        return (
            f"SELECT v.lbl AS lbl, CAST(count(*) AS BIGINT) AS cnt"
            f" FROM (VALUES {vals}) v(vk, lbl)"
            f" JOIN {t} ON CAST({k} AS INTEGER) % {m} = v.vk"
            f" GROUP BY v.lbl ORDER BY v.lbl"
        )
    if r < 0.8:
        la, lb = rng.randint(2, 6), rng.randint(2, 6)
        return (
            f"SELECT a.{k} AS ka, coalesce(CAST(b.s_suppkey AS BIGINT), -1)"
            " AS kb FROM"
            f" (SELECT {k} FROM {t} ORDER BY {k} LIMIT {la}) a"
            " POSITIONAL JOIN"
            f" (SELECT s_suppkey FROM supplier ORDER BY s_suppkey"
            f" LIMIT {lb}) b"
            " ORDER BY ka NULLS LAST, kb"
        )
    rows = rng.randint(1, 20)
    return (
        "SELECT CAST(count(*) AS BIGINT) AS cnt FROM"
        f" (SELECT * FROM {t} TABLESAMPLE reservoir({rows} ROWS)) s"
    )


_W12_PIVOTS = [
    ("orders", "o_orderstatus", ["F", "O", "P"], "o_orderpriority"),
    ("orders", "o_orderpriority",
     ["1-URGENT", "3-MEDIUM", "5-LOW"], "o_orderstatus"),
    ("lineitem", "l_returnflag", ["A", "N", "R"], "l_linestatus"),
    ("customer", "c_mktsegment",
     ["AUTOMOBILE", "BUILDING", "MACHINERY"], "c_nationkey"),
]


def gen_wave12_query():
    """Wave-12 shapes (round 10): the q128-q134 grammar — PIVOT ON ...
    IN with explicit value lists, table MACROs (create + call in one
    statement), POSITIONAL JOIN padding with qualified stars and
    arithmetic over padded NULLs, the TABLESAMPLE / USING SAMPLE
    spelling family (exact counts), and date_trunc GROUPING SETS
    rollup lattices."""
    r = rng.random()
    if r < 0.25:
        t, pcol, vals, gcol = rng.choice(_W12_PIVOTS)
        chosen = sorted(rng.sample(vals, rng.randint(1, len(vals))))
        aggs = ["count(*) AS n"]
        if rng.random() < 0.6:
            n = rng.choice(NUM_COLS[t])
            # bare aggregate only: DuckDB rejects casts AROUND the agg
            # in PIVOT USING (the q133 trap); casts inside the arg are
            # fine and keep the sum DECIMAL-exact on both engines
            aggs.append(f"sum(CAST({n} AS DECIMAL(18,2))) AS s")
        in_list = ", ".join(f"'{v}'" for v in chosen)
        return (
            f"PIVOT {t} ON {pcol} IN ({in_list})"
            f" USING {', '.join(aggs)}"
            f" GROUP BY {gcol} ORDER BY {gcol}"
        )
    if r < 0.47:
        m = rng.randint(2, 5)
        t = rng.choice(list(NUM_COLS))
        k, g, n = KEY_COLS[t], rng.choice(STR_COLS[t]), rng.choice(NUM_COLS[t])
        return (
            f"CREATE OR REPLACE MACRO fz12_m(r) AS TABLE"
            f" SELECT {g} AS g, CAST({n} AS DECIMAL(18,2)) AS v"
            f" FROM {t} WHERE CAST({k} AS INTEGER) % {m} = r;"
            f" SELECT g, CAST(count(*) AS BIGINT) AS cnt,"
            f" CAST(sum(v) AS DOUBLE) AS sv"
            f" FROM fz12_m({rng.randint(0, m - 1)})"
            f" GROUP BY g ORDER BY g"
        )
    if r < 0.68:
        la, lb = rng.randint(2, 7), rng.randint(2, 7)
        t = rng.choice(list(KEY_COLS))
        k = KEY_COLS[t]
        return (
            f"SELECT a.*, round(coalesce(b.s_acctbal, -1.0) + 0.5, 2)"
            " AS pad FROM"
            f" (SELECT {k} AS ka FROM {t} ORDER BY ka LIMIT {la}) a"
            " POSITIONAL JOIN"
            f" (SELECT s_acctbal FROM supplier ORDER BY s_suppkey"
            f" LIMIT {lb}) b"
            " ORDER BY ka NULLS LAST, pad"
        )
    if r < 0.86:
        t = rng.choice(list(KEY_COLS))
        rows = rng.randint(1, 25)
        p = rng.choice([1, 5, 10, 20])
        return rng.choice([
            f"SELECT CAST(count(*) AS BIGINT) AS cnt FROM"
            f" (SELECT * FROM {t} USING SAMPLE {rows} ROWS) s",
            f"SELECT CAST(count(*) AS BIGINT) AS cnt FROM"
            f" (SELECT * FROM {t} USING SAMPLE reservoir({p}%)) s",
            f"SELECT CAST(count(*) AS BIGINT) AS cnt FROM"
            f" (SELECT * FROM {t} TABLESAMPLE reservoir({rows} ROWS)) s",
        ])
    u1, u2 = rng.choice([("week", "day"), ("month", "week"), ("day", "hour")])
    agg = "CAST(count(*) AS BIGINT) AS n"
    if rng.random() < 0.5:
        agg += (", CAST(sum(CAST(round(value, 4) AS DECIMAL(14,4)))"
                " AS DOUBLE) AS tv")
    return (
        f"SELECT date_trunc('{u1}', ts) AS b1, date_trunc('{u2}', ts) AS b2,"
        f" {agg} FROM events"
        f" GROUP BY GROUPING SETS ((date_trunc('{u1}', ts)),"
        f" (date_trunc('{u1}', ts), date_trunc('{u2}', ts)), ())"
        " ORDER BY ALL LIMIT 120"
    )


def gen_wave13_query():
    """Wave-13 shapes (round 10): aggregate-modifier surface — FILTER
    (WHERE ...) clauses, DISTINCT ON keyed first-rows, ordered
    string_agg / list() aggregation, arg_max/arg_min, and multi-column
    count(DISTINCT) — each probe-passed in round 10 but previously
    unfuzzed."""
    t = rng.choice(list(NUM_COLS))
    g = rng.choice(STR_COLS[t])
    n = rng.choice(NUM_COLS[t])
    k = KEY_COLS[t]
    r = rng.random()
    if r < 0.25:
        thr = rng.randint(1, 40)
        return (
            f"SELECT {g} AS g,"
            f" CAST(count(*) FILTER (WHERE {n} > {thr}) AS BIGINT) AS hi,"
            f" CAST(count(*) FILTER (WHERE {n} <= {thr}) AS BIGINT) AS lo,"
            f" round(sum({n}) FILTER (WHERE CAST({k} AS INTEGER) % 2 = 0),"
            f" 1) AS ev"
            f" FROM {t} WHERE {predicate(t)} GROUP BY {g} ORDER BY g"
        )
    if r < 0.45:
        return (
            f"SELECT DISTINCT ON ({g}) {g} AS g, {k} AS k, {n} AS v"
            f" FROM {t} ORDER BY {g}, {k}"
        )
    if r < 0.65:
        # unique-key tables only: a LIMIT boundary tie on lineitem's
        # non-unique l_orderkey made the inner row set nondeterministic
        ut = rng.choice(["orders", "customer", "part", "supplier"])
        ug, uk = rng.choice(STR_COLS[ut]), KEY_COLS[ut]
        lim = rng.randint(3, 8)
        return (
            f"SELECT {ug} AS g,"
            f" string_agg(CAST({uk} AS VARCHAR), ',' ORDER BY {uk}) AS ks"
            f" FROM (SELECT {ug}, {uk} FROM {ut} ORDER BY {uk}"
            f" LIMIT {lim}) s"
            f" GROUP BY {ug} ORDER BY g"
        )
    if r < 0.85:
        # arg over the UNIQUE key so ties cannot arbitrate differently
        # across engines (arg_max ties are unspecified in both)
        ut = rng.choice(["orders", "customer", "part", "supplier"])
        ug, uk, un = (
            rng.choice(STR_COLS[ut]), KEY_COLS[ut], rng.choice(NUM_COLS[ut])
        )
        return (
            f"SELECT {ug} AS g, round(arg_max({un}, {uk}), 2) AS am,"
            f" round(arg_min({un}, {uk}), 2) AS an"
            f" FROM {ut} WHERE {predicate(ut)} GROUP BY {ug} ORDER BY g"
        )
    return (
        f"SELECT CAST(count(DISTINCT {g}) AS BIGINT) AS ng,"
        f" CAST(count(DISTINCT CAST({k} AS INTEGER) % 7) AS BIGINT) AS nk"
        f" FROM {t} WHERE {predicate(t)}"
    )


def _fuzz_sf() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")


_W14_JSON_VALUES = [
    '1', 'true', 'false', 'null', '"plain"', '[1, 2, 3]',
    '{"k": "v"}', '[{"a": 1}, {"b": [2, 3]}]',
    '{"s": "with space", "n": 7, "l": [true, null]}',
]


def gen_wave14_query():
    """Wave-14 shapes (round 11): the round-10 grammar additions —
    combined ``* EXCLUDE(...) REPLACE(...)`` star options (q135,
    65802bd), in-parens IGNORE/RESPECT NULLS on every navigable window
    function (q139, af27d6a), ``read_parquet(..., filename=true)``
    (1106fb0), ``json()`` minify (cd462d0), and the q136-q138 TPC-H
    join/correlation shapes (CASE-sum over join, correlated EXISTS /
    NOT EXISTS). Unique-key ORDER BY everywhere a row set could
    otherwise tie-arbitrate differently across engines."""
    r = rng.random()
    if r < 0.22:
        # star options: EXCLUDE / REPLACE / both, bare and qualified
        t = rng.choice(["orders", "customer", "part", "supplier"])
        k = KEY_COLS[t]
        n = rng.choice(NUM_COLS[t])
        s = rng.choice(STR_COLS[t])
        ex = rng.choice([s, n, f"{s}, {n}"])
        rep = f"round({n} * {rng.choice(['0.5', '2.5', '1.1'])}, 2) AS {n}"
        star = rng.choice(["*", f"{t}.*", "a.*"])
        frm = f"{t} a" if star == "a.*" else t
        opts = rng.choice(
            [f"EXCLUDE ({ex})", f"REPLACE ({rep})"]
            + ([f"EXCLUDE ({s}) REPLACE ({rep})"] if s not in ex else [])
        )
        return (
            f"SELECT {star} {opts} FROM {frm}"
            f" ORDER BY {k} LIMIT {rng.randint(5, 30)}"
        )
    if r < 0.45:
        # in-parens IGNORE/RESPECT NULLS over a NULL-injected series
        t = rng.choice(["orders", "customer", "part", "supplier"])
        k, g, n = KEY_COLS[t], rng.choice(STR_COLS[t]), rng.choice(NUM_COLS[t])
        m = rng.randint(2, 5)
        v = f"CASE WHEN CAST({k} AS INTEGER) % {m} = 0 THEN NULL" \
            f" ELSE round({n}, 2) END"
        mod = rng.choice(["IGNORE NULLS", "IGNORE NULLS", "RESPECT NULLS"])
        fn = rng.choice([
            f"lag({v}, 1 {mod})",
            f"lead({v}, 1 {mod})",
            f"first_value({v} {mod})",
            f"last_value({v} {mod})",
            f"nth_value({v}, 2 {mod})",
        ])
        return (
            f"SELECT {k} AS k, {fn} OVER"
            f" (PARTITION BY {g} ORDER BY {k}) AS w"
            f" FROM {t} ORDER BY k LIMIT {rng.randint(20, 80)}"
        )
    if r < 0.60:
        # filename=true: the path column must group/extract identically
        t = rng.choice(["orders", "part", "supplier", "customer"])
        k = KEY_COLS[t]
        base = f"regexp_extract(filename, '[^/]+$', 0)"
        return rng.choice([
            f"SELECT {base} AS f, CAST(count(*) AS BIGINT) AS n"
            f" FROM read_parquet('{_fuzz_sf()}/{t}.parquet',"
            f" filename=true) GROUP BY f ORDER BY f",
            f"SELECT {k} AS k, {base} AS f"
            f" FROM read_parquet('{_fuzz_sf()}/{t}.parquet',"
            f" filename=true) ORDER BY k LIMIT {rng.randint(3, 12)}",
        ])
    if r < 0.74:
        # json() minify: constants and built strings; key order and
        # value lexemes must survive the round-trip on both engines
        vals = rng.sample(_W14_JSON_VALUES, rng.randint(1, 3))
        items = ", ".join(
            f"json('  {{ \"k{i}\" :  {v} }}  ') AS j{i}"
            for i, v in enumerate(vals)
        )
        if rng.random() < 0.4:
            t = rng.choice(["orders", "supplier"])
            k = KEY_COLS[t]
            return (
                f"SELECT {k} AS k, json('{{\" id \": ' ||"
                f" CAST({k} AS VARCHAR) || ', \"t\" : [ 1 ,2 ] }}') AS j"
                f" FROM {t} ORDER BY {k} LIMIT {rng.randint(3, 10)}"
            )
        return f"SELECT {items}"
    # TPC-H q136-q138 family: CASE-sum over join / correlated
    # (NOT) EXISTS, varied predicates
    kind = rng.random()
    if kind < 0.4:
        days = rng.choice([30, 60, 90])
        pri = rng.choice(["'1-URGENT', '2-HIGH'", "'5-LOW'"])
        return (
            "SELECT l_returnflag,"
            f" CAST(sum(CASE WHEN o_orderpriority IN ({pri})"
            " THEN 1 ELSE 0 END) AS BIGINT) AS hi,"
            f" CAST(sum(CASE WHEN o_orderpriority NOT IN ({pri})"
            " THEN 1 ELSE 0 END) AS BIGINT) AS lo"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            f" WHERE l_shipdate > o_orderdate + INTERVAL {days} DAY"
            " GROUP BY l_returnflag ORDER BY l_returnflag"
        )
    if kind < 0.7:
        q = rng.randint(20, 45)
        neg = rng.choice(["", "NOT "])
        return (
            "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n"
            f" FROM orders WHERE {neg}EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey"
            f" AND l_quantity > {q})"
            " GROUP BY o_orderpriority ORDER BY o_orderpriority"
        )
    st = rng.choice(["'F'", "'O'"])
    return (
        "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait"
        " FROM supplier"
        " JOIN lineitem l1 ON s_suppkey = l1.l_suppkey"
        " JOIN orders ON o_orderkey = l1.l_orderkey"
        f" WHERE o_orderstatus = {st}"
        " AND EXISTS (SELECT 1 FROM lineitem l2"
        " WHERE l2.l_orderkey = l1.l_orderkey"
        " AND l2.l_suppkey <> l1.l_suppkey)"
        " AND NOT EXISTS (SELECT 1 FROM lineitem l3"
        " WHERE l3.l_orderkey = l1.l_orderkey"
        " AND l3.l_suppkey <> l1.l_suppkey"
        " AND l3.l_shipdate > l1.l_shipdate)"
        " GROUP BY s_name ORDER BY s_name"
    )


def gen_wave15_query():
    """Wave-15 shapes (round 11, same-round insurance over the probe
    finds): trailing commas sprinkled across clause positions, mixed-
    family INTERVAL arithmetic (+/-, SELECT and WHERE), macro
    ``p := default`` create+call (scalar and table forms, named
    overrides), and DESCRIBE-as-relation with downstream filters."""
    r = rng.random()
    if r < 0.28:
        t = rng.choice(["orders", "customer", "part", "supplier"])
        k, g, n = KEY_COLS[t], rng.choice(STR_COLS[t]), rng.choice(NUM_COLS[t])
        tc = lambda: rng.choice([",", ""])  # noqa: E731
        return (
            f"SELECT {g} AS g, CAST(count(*) AS BIGINT) AS cnt,"
            f" round(sum({n}), 1) AS s{tc()}"
            f" FROM {t} WHERE substr({g}, 1, 1) IN ('A', 'B', 'C', 'M',"
            f" 'P'{tc()}) GROUP BY {g}{tc()} ORDER BY g"
        )
    if r < 0.55:
        months = rng.randint(1, 11)
        days = rng.randint(1, 27)
        hours = rng.choice(["", f" {rng.randint(1, 23)} hours"])
        op = rng.choice(["+", "-"])
        iv = f"INTERVAL '{months} months {days} days{hours}'"
        if rng.random() < 0.5:
            return (
                f"SELECT o_orderkey, o_orderdate {op} {iv} AS d"
                f" FROM orders ORDER BY o_orderkey"
                f" LIMIT {rng.randint(5, 40)}"
            )
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS n FROM orders"
            f" WHERE o_orderdate {op} {iv} >"
            f" DATE '1995-{rng.randint(1, 12):02d}-15'"
        )
    if r < 0.80:
        t = rng.choice(["orders", "supplier", "part"])
        k, n = KEY_COLS[t], rng.choice(NUM_COLS[t])
        w = rng.choice([10, 100, 1000])
        ov = rng.choice(["", f", w := {rng.choice([7, 50, 500])}"])
        mname = f"fz15m{rng.randint(0, 9)}"
        if rng.random() < 0.5:
            return (
                f"CREATE OR REPLACE MACRO {mname}(x, w := {w}) AS"
                f" CAST(x / w AS INTEGER);"
                f" SELECT {mname}({n}{ov}) AS b,"
                f" CAST(count(*) AS BIGINT) AS cnt"
                f" FROM {t} GROUP BY b ORDER BY b"
            )
        m = rng.randint(2, 5)
        return (
            f"CREATE OR REPLACE MACRO {mname}(r := 0) AS TABLE"
            f" SELECT {k} AS kk, {n} AS vv FROM {t}"
            f" WHERE CAST({k} AS INTEGER) % {m} = r;"
            f" SELECT CAST(count(*) AS BIGINT) AS cnt,"
            f" round(sum(vv), 1) AS sv"
            f" FROM {mname}(r := {rng.randint(0, m - 1)})"
        )
    t = rng.choice(["orders", "customer", "part", "supplier", "lineitem"])
    inner = rng.choice([
        t,
        f"SELECT {KEY_COLS[t]}, {rng.choice(NUM_COLS[t])} FROM {t}",
    ])
    return (
        f"SELECT column_name, column_type FROM (DESCRIBE {inner})"
        f" WHERE column_type LIKE '%I%' OR column_name LIKE '%_%'"
        f" ORDER BY column_name"
    )


def gen_wave16_query():
    """Wave-16 shapes (round 12): dollar-quoted strings interacting
    with macros and $$-containing payloads, percent-LIMIT under CTEs
    and set operations (q146 landed after the round-11 soak), plus the
    round-12 grammar — correlated LATERAL + LIMIT/OFFSET (q147's
    row_number rewrite) and scaled mixed-family INTERVAL literals
    (q148's distribution fix). Deterministic: every percent-LIMIT /
    lateral-LIMIT orders by a unique key before cutting."""
    r = rng.random()
    if r < 0.22:
        # dollar quoting: macros built from $$ strings, payloads
        # containing $$ / quotes, tagged forms
        t = rng.choice(["orders", "customer", "supplier", "part"])
        s = rng.choice(STR_COLS[t])
        mname = f"fz16m{rng.randint(0, 9)}"
        pick = rng.random()
        if pick < 0.4:
            tag = rng.choice(["$$it's $1 fine$$", "$q$a $$ b; 'c'$q$"])
            return (
                f"CREATE OR REPLACE MACRO {mname}(x) AS"
                f" concat(x, {tag});"
                f" SELECT {mname}({s}) AS m, CAST(count(*) AS BIGINT)"
                f" AS n FROM {t} GROUP BY m ORDER BY m"
            )
        if pick < 0.7:
            return (
                f"SELECT {s} AS g, CAST(count(*) AS BIGINT) AS n"
                f" FROM {t} WHERE {s} <> $x${rng.randint(0, 99)}$$;$x$"
                f" GROUP BY g ORDER BY g"
            )
        return (
            f"SELECT concat($$<$$, {s}, $tag$>'$$'<$tag$) AS w"
            f" FROM {t} ORDER BY {KEY_COLS[t]}"
            f" OFFSET {rng.randint(0, 5)} LIMIT {rng.randint(3, 20)}"
        )
    if r < 0.45:
        # percent LIMIT under CTEs / set ops / subqueries
        t = rng.choice(["orders", "customer", "part", "supplier"])
        k, n = KEY_COLS[t], rng.choice(NUM_COLS[t])
        p = rng.choice([5, 10, 20, 35])
        spell = rng.choice([f"{p}%", f"{p} PERCENT"])
        pick = rng.random()
        if pick < 0.4:
            return (
                f"WITH c AS (SELECT {k} AS kk, {n} AS v FROM {t}"
                f" ORDER BY {k} LIMIT {spell})"
                f" SELECT CAST(count(*) AS BIGINT) AS cnt,"
                f" round(sum(v), 1) AS s FROM c"
            )
        if pick < 0.7:
            q = rng.choice([25, 50])
            return (
                f"SELECT kk FROM (SELECT {k} AS kk FROM {t}"
                f" ORDER BY {k} LIMIT {spell})"
                f" UNION ALL"
                f" SELECT {k} AS kk FROM {t} ORDER BY kk DESC"
                f" LIMIT {q}"
            )
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS cnt FROM"
            f" (SELECT {k} FROM {t} ORDER BY {k} DESC LIMIT {spell})"
        )
    if r < 0.75:
        # correlated LATERAL + LIMIT/OFFSET through the row_number
        # rewrite; small outer domains keep it cheap
        t = rng.choice(["orders", "customer"])
        k, g = KEY_COLS[t], rng.choice(STR_COLS[t])
        lim = rng.randint(1, 3)
        off = rng.choice(["", f" OFFSET {rng.randint(1, 2)}"])
        direction = rng.choice(["", " DESC"])
        if rng.random() < 0.5:
            return (
                f"SELECT d.g, l.v FROM"
                f" (SELECT DISTINCT {g} AS g FROM {t}) d,"
                f" LATERAL (SELECT {k} AS v FROM {t}"
                f" WHERE {g} = d.g ORDER BY {k}{direction}"
                f" LIMIT {lim}{off}) l ORDER BY 1, 2"
            )
        return (
            f"SELECT d.g, l.v FROM"
            f" (SELECT DISTINCT {g} AS g FROM {t}) d"
            f" LEFT JOIN LATERAL (SELECT {k} AS v FROM {t}"
            f" WHERE {g} = d.g AND {k} % {rng.randint(2, 9)} = 0"
            f" ORDER BY {k}{direction} LIMIT {lim}) l ON true"
            f" ORDER BY 1, 2"
        )
    # scaled mixed-family INTERVAL literals (integer chains distribute;
    # the engine must match DuckDB's months-then-days application)
    months = rng.randint(1, 11)
    days = rng.randint(1, 27)
    hours = rng.choice(["", f" {rng.randint(1, 23)} hours"])
    op = rng.choice(["+", "-"])
    scale = rng.choice(["* 2", "* 3", "* 2 * 2", f"* {rng.randint(1, 5)}"])
    iv = f"INTERVAL '{months} months {days} days{hours}' {scale}"
    if rng.random() < 0.5:
        return (
            f"SELECT o_orderkey, o_orderdate {op} {iv} AS d"
            f" FROM orders ORDER BY o_orderkey LIMIT {rng.randint(5, 40)}"
        )
    return (
        f"SELECT CAST(count(*) AS BIGINT) AS n FROM orders"
        f" WHERE o_orderdate {op} {iv} >"
        f" DATE '199{rng.randint(5, 8)}-{rng.randint(1, 12):02d}-15'"
    )


def gen_wave17_query():
    """Wave-17 shapes (round 12, second sitting): the probe-session
    grammar — unnest(recursive := / max_depth :=) over literal and
    column shapes, AT TIME ZONE chains, COLUMNS(t.*) over joins, ASOF
    JOIN with derived sides, CREATE TYPE aliases through
    coldef/cast/insert, TABLE statements, ::JSON arrow chains."""
    r = rng.random()
    if r < 0.2:
        # unnest named args over literals / split columns
        d1 = rng.randint(1, 4)
        d2 = rng.randint(1, 3)
        inner = ", ".join(str(rng.randint(0, 9)) for _ in range(d1))
        inner2 = ", ".join(str(rng.randint(0, 9)) for _ in range(d2))
        lit = f"[[{inner}], [{inner2}]]"
        pick = rng.random()
        if pick < 0.4:
            arg = rng.choice(["recursive := true", "max_depth := 2",
                              "max_depth := 3", "recursive := false"])
            return f"SELECT unnest({lit}, {arg}) AS u ORDER BY 1 NULLS FIRST"
        if pick < 0.7:
            t = rng.choice(["documents"])
            return (
                f"SELECT w AS u, CAST(count(*) AS BIGINT) AS n FROM"
                f" (SELECT unnest(string_split(text, ' '),"
                f" recursive := true) AS w FROM {t}"
                f" WHERE doc_id < {rng.randint(5, 30)})"
                f" WHERE length(w) > {rng.randint(2, 6)}"
                f" GROUP BY w ORDER BY n DESC, w LIMIT 20"
            )
        ks = rng.sample(["a", "b", "c"], k=2)
        return (
            f"SELECT unnest([{{'{ks[0]}': {rng.randint(0, 9)},"
            f" '{ks[1]}': {{'z': {rng.randint(0, 9)}}}}}],"
            f" recursive := true)"
        )
    if r < 0.4:
        # AT TIME ZONE chains over event timestamps
        z1 = rng.choice(["UTC", "Asia/Tokyo", "America/New_York",
                         "Europe/Paris"])
        z2 = rng.choice(["UTC", "Australia/Sydney", "America/Chicago"])
        form = rng.random()
        if form < 0.5:
            return (
                f"SELECT event_id, CAST(ts AT TIME ZONE '{z1}' AS"
                f" TIMESTAMP) AS t FROM events WHERE user_id ="
                f" {rng.randint(0, 40)} ORDER BY event_id LIMIT 20"
            )
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS n FROM events"
            f" WHERE (ts AT TIME ZONE '{z1}') AT TIME ZONE '{z2}'"
            f" > TIMESTAMP '2024-0{rng.randint(1, 6)}-15 00:00:00'"
        )
    if r < 0.6:
        # COLUMNS(t.*) over joins, bare + fn-wrapped + EXCLUDE
        excl = rng.choice(["", " EXCLUDE (n_regionkey)",
                           " EXCLUDE (n_name)"])
        if rng.random() < 0.5:
            return (
                f"SELECT COLUMNS(n.*{excl}) FROM nation n JOIN orders o"
                f" ON n.n_nationkey = o.o_custkey"
                f" ORDER BY ALL LIMIT {rng.randint(5, 25)}"
            )
        fn = rng.choice(["min", "max", "count"])
        return (
            f"SELECT {fn}(COLUMNS(n.*{excl})) FROM nation n JOIN"
            f" orders o ON n.n_nationkey = o.o_custkey"
        )
    if r < 0.8:
        # ASOF with derived sides
        m = rng.randint(3, 9)
        how = rng.choice(["", " LEFT"])
        direction = rng.choice([">=", "<="])
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS n,"
            f" CAST(sum(s.value) AS DOUBLE) AS v FROM"
            f" (SELECT user_id, ts FROM events WHERE user_id <"
            f" {rng.randint(10, 60)}) e ASOF{how} JOIN"
            f" (SELECT user_id AS u, ts AS t, value FROM events"
            f" WHERE event_id % {m} = 0) s"
            f" ON e.user_id = s.u AND e.ts {direction} s.t"
        )
    # type aliases through DDL/DML/cast
    tn = f"fz17t{rng.randint(0, 9)}"
    x, y = rng.randint(0, 99), rng.randint(0, 99)
    return (
        f"DROP TYPE IF EXISTS {tn};"
        f" CREATE TYPE {tn} AS STRUCT(x INTEGER, y INTEGER);"
        f" SELECT ({{'x': {x}, 'y': {y}}}::{tn}).x + "
        f" CAST({{'x': 1, 'y': 2}} AS {tn}).y AS v"
    )


def gen_query():
    r0 = rng.random()
    if r0 < 0.13:
        return gen_doc_query()
    if r0 < 0.22:
        return gen_event_query()
    if r0 < 0.30:
        return gen_emb_query()
    if r0 < 0.39:
        return gen_advanced_query()
    if r0 < 0.48:
        return gen_window_join_query()
    if r0 < 0.56:
        return gen_wave8_query()
    if r0 < 0.63:
        return gen_wave9_query()
    if r0 < 0.70:
        return gen_wave10_query()
    t = rng.choice(list(NUM_COLS))
    kind = rng.random()
    if kind < 0.45:
        g = rng.choice(STR_COLS[t])
        aggs = ", ".join(f"{agg_expr(t)} AS a{i}" for i in range(rng.randint(1, 3)))
        return (f"SELECT {g} AS g, {aggs} FROM {t} WHERE {predicate(t)} "
                f"GROUP BY {g} ORDER BY ALL LIMIT 40")
    if kind < 0.62:
        exprs = ", ".join(f"{scalar_expr(t)} AS c{i}" for i in range(rng.randint(2, 4)))
        k = KEY_COLS[t]
        return (f"SELECT {k}, {exprs} FROM {t} WHERE {predicate(t)} "
                f"ORDER BY ALL LIMIT 60")  # keys can tie: ALL is total
    if kind < 0.7:
        t = rng.choice(["lineitem", "orders"])
        de = date_expr(t)
        g = rng.choice(STR_COLS[t])
        return (f"SELECT {g} AS g, {de} AS d, {agg_expr(t)} AS a FROM {t} "
                f"WHERE {predicate(t)} GROUP BY ALL "
                f"HAVING count(*) > {rng.randint(0, 3)} "
                f"ORDER BY ALL LIMIT 50")
    if kind < 0.85:
        g = rng.choice(STR_COLS[t]); n = rng.choice(NUM_COLS[t]); k = KEY_COLS[t]
        return (f"SELECT {k}, {g}, round(sum({n}) OVER (PARTITION BY {g} "
                f"ORDER BY {k} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS w "
                f"FROM {t} WHERE {predicate(t)} ORDER BY ALL LIMIT 50")
    if kind < 0.93:
        # join shapes: inner / left / semi / anti / 3-way
        g = rng.choice(STR_COLS["orders"])
        j = rng.random()
        if j < 0.4:
            return (f"SELECT {g} AS g, {agg_expr('lineitem')} AS a "
                    f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                    f"WHERE {predicate('lineitem')} GROUP BY {g} ORDER BY ALL LIMIT 40")
        if j < 0.6:
            return (f"SELECT o_orderstatus AS g, count(*) AS n, "
                    f"count(l_orderkey) AS matched FROM orders "
                    f"LEFT JOIN lineitem ON l_orderkey = o_orderkey "
                    f"AND {predicate('lineitem')} "
                    f"GROUP BY o_orderstatus ORDER BY ALL LIMIT 40")
        if j < 0.75:
            return (f"SELECT count(*) AS n FROM orders WHERE "
                    f"{'' if rng.random() < 0.5 else 'NOT '}EXISTS "
                    f"(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
                    f"AND {predicate('lineitem')})")
        if j < 0.9:
            cg = rng.choice(STR_COLS["customer"])
            return (f"SELECT n_name, {cg} AS g2, count(*) AS n "
                    f"FROM customer JOIN nation ON c_nationkey = n_nationkey "
                    f"JOIN orders ON o_custkey = c_custkey "
                    f"WHERE {predicate('customer')} "
                    f"GROUP BY ALL ORDER BY ALL LIMIT 50")
        return (f"SELECT o_orderpriority AS g, count(*) AS n FROM orders "
                f"WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
                f"WHERE {predicate('lineitem')}) "
                f"GROUP BY ALL ORDER BY ALL LIMIT 40")
    # set-op / nested shape
    t = rng.choice(["lineitem", "orders"])
    g = rng.choice(STR_COLS[t])
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    inner = (f"SELECT {g} AS g FROM {t} WHERE {predicate(t)} "
             f"{op} SELECT {g} AS g FROM {t} WHERE {predicate(t)}")
    return (f"SELECT g, count(*) AS n FROM ({inner}) u GROUP BY g "
            f"ORDER BY ALL LIMIT 40")

# NULL-bearing relations for gen_order_query: an in-session table (its
# size comes from plan statistics) and a derived table over parquet (its
# size comes from the file bytes). k is unique in both.
ORDER_SETUP = [
    "CREATE TABLE ord_c AS SELECT c_custkey AS k,"
    " CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_mktsegment END AS seg,"
    " CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_nationkey % 6 END AS nat,"
    " CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal"
    " FROM customer WHERE c_custkey <= 120",
]
ORDER_SOURCES = [
    "ord_c",
    "(SELECT c_custkey AS k, nullif(c_mktsegment, 'BUILDING') AS seg,"
    " nullif(c_nationkey % 6, 0) AS nat,"
    " CASE WHEN c_custkey % 3 = 1 THEN NULL ELSE c_acctbal END AS bal"
    " FROM customer WHERE c_custkey <= 120)",
]


def gen_order_query():
    """A trailing ORDER BY without LIMIT over NULL-bearing columns, whose
    rows are compared IN ORDER (rows_match(..., ordered=True)). Every
    order is total: the unique key k sorts last, or is in the ``*`` that
    ORDER BY ALL sorts. Shapes: ORDER BY ALL over ``*``, ASC/DESC keys
    with and without NULLS markers, keys that are not selected, and
    table-qualified keys."""
    r = order_rng
    src = r.choice(ORDER_SOURCES)
    where = r.choice(["", f" WHERE t.k % {r.randint(2, 4)} = {r.randint(0, 1)}"])
    cols = ["seg", "nat", "bal"]
    keys = r.sample(cols, r.randint(1, 2))

    def mods():
        return r.choice(["", " ASC", " DESC"]) + r.choice(
            ["", "", " NULLS FIRST", " NULLS LAST"]
        )

    shape = r.random()
    if shape < 0.25:
        return f"SELECT * FROM {src} t{where} ORDER BY ALL{mods()}"
    last = r.choice(["k", "k DESC"])
    if shape < 0.5:
        order = ", ".join(k + mods() for k in keys)
        return (f"SELECT {', '.join(['k'] + keys)} FROM {src} t{where}"
                f" ORDER BY {order}, {last}")
    if shape < 0.75:
        # sort keys that are not in the select list
        out = ", ".join(c for c in cols if c not in keys)
        order = ", ".join(k + mods() for k in keys)
        return f"SELECT {out} FROM {src} t{where} ORDER BY {order}, {last}"
    order = ", ".join(f"t.{k}{mods()}" for k in keys)
    return (f"SELECT t.seg, t.nat, t.bal FROM {src} t{where}"
            f" ORDER BY {order}, t.{last}")


def _canon_zero(v):
    """Normalize IEEE negative zero anywhere in a value tree: SQL says
    -0.0 = 0.0, and the engines disagree on the SIGN a rounded tiny
    negative keeps (DuckDB round -> -0.0, Spark's BigDecimal -> 0.0)."""
    if isinstance(v, float) and v == 0.0:
        return 0.0
    if isinstance(v, tuple):
        return tuple(_canon_zero(x) for x in v)
    if isinstance(v, list):
        return [_canon_zero(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon_zero(x) for k, x in v.items()}
    return v


def rows_match(d_rows, s_rows, tol=0.02, ordered=False) -> bool:
    """Row-multiset compare with float tolerance (row by row, in order,
    when ``ordered``): distributed partial sums reorder double
    accumulation, so a round(sum(double), 2) can flip a half-cent
    boundary — ulp noise, not an engine bug. Strings and ints stay
    exact."""
    if len(d_rows) != len(s_rows):
        return False
    d_rows = [_canon_zero(r) for r in d_rows]
    s_rows = [_canon_zero(r) for r in s_rows]
    if not ordered:
        d_rows = sorted(d_rows, key=str)
        s_rows = sorted(s_rows, key=str)
    if list(map(str, d_rows)) == list(map(str, s_rows)):
        return True
    for r1, r2 in zip(d_rows, s_rows):
        if len(r1) != len(r2):
            return False
        for x, y in zip(r1, r2):
            if isinstance(x, float) and isinstance(y, (int, float)):
                if abs(x - float(y)) > tol:
                    return False
            elif str(x) != str(y):
                return False
    return True


def main() -> None:
    SEED = int(sys.argv[1]) if len(sys.argv) > 1 else 42
    N = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    SF = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
    reseed(SEED)
    con = dns.connect(cpus=8)
    con.register_parquet_dir(SF)
    ddb = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "events", "embeddings"]:
        ddb.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    for stmt in ORDER_SETUP:
        con.execute(stmt)
        ddb.execute(stmt)
    stream = []
    for _ in range(N):
        stream.append((gen_query(), False))
        if order_rng.random() < 0.25:
            stream.append((gen_order_query(), True))
    fails = 0
    for qi, (q, ordered) in enumerate(stream):
        try:
            d = ddb.execute(q).fetchall()
            derr = None
        except Exception as ex:
            d, derr = None, str(ex).strip().splitlines()[0][:90] if str(ex).strip() else type(ex).__name__
        try:
            s = [tuple(r) for r in con.execute(q).collect()]
            serr = None
        except Exception as ex:
            s, serr = None, str(ex).strip().splitlines()[0][:130] if str(ex).strip() else type(ex).__name__
        if derr and serr:
            continue
        if derr or serr or not rows_match(d, s, ordered=ordered):
            fails += 1
            print(f"=== MISMATCH #{fails} (query {qi}"
                  f"{', in order' if ordered else ''}) ===")
            print("QRY:", q)
            if derr or serr:
                print(" duckerr:", derr, "\n sparkerr:", serr)
            elif d is not None and s is not None:
                diffs = [(a, b) for a, b in zip(d, s) if a != b][:3]
                print(f" rows duck={len(d)} spark={len(s)} first-diffs={diffs}")
    n_ordered = sum(ordered for _, ordered in stream)
    print(f"FUZZ DONE: {N} queries + {n_ordered} in-order ORDER BY queries,"
          f" {fails} mismatches (seed {SEED})")


if __name__ == "__main__":
    main()


def gen_wave18_query():
    """Wave-18 shapes (round 12, sixth sitting): deduplicating
    WITH RECURSIVE fixpoints, multi-unnest zip (bare + expression
    items), SIMILAR TO / postfix factorial, TIME + INTERVAL and
    DATE + TIME arithmetic, TIMESTAMPTZ literal spellings, JSON-parsing
    string->composite casts, orderless rank windows, and FILTER on the
    null-keeping list() rewrite (empty -> NULL)."""
    r = rng.random()
    if r < 0.15:
        # recursive UNION fixpoint: counter or modular cycle
        if rng.random() < 0.5:
            a, s, b = rng.randint(0, 3), rng.randint(1, 3), rng.randint(8, 25)
            return (
                f"WITH RECURSIVE t(n) AS (SELECT {a} UNION SELECT"
                f" n + {s} FROM t WHERE n < {b})"
                f" SELECT CAST(count(*) AS BIGINT) AS c,"
                f" CAST(sum(n) AS BIGINT) AS s FROM t"
            )
        m = rng.choice([7, 11, 13, 21])
        k = rng.randint(2, 5)
        return (
            f"WITH RECURSIVE r(x) AS (SELECT 0 UNION SELECT"
            f" (x * {k} + 1) % {m} FROM r)"
            f" SELECT * FROM r ORDER BY x"
        )
    if r < 0.3:
        # multi-unnest zip, lengths differ -> NULL padding
        n1, n2 = rng.randint(1, 5), rng.randint(1, 5)
        l1 = ", ".join(str(rng.randint(0, 9)) for _ in range(n1))
        l2 = ", ".join(f"'{rng.choice('abcde')}'" for _ in range(n2))
        if rng.random() < 0.5:
            return (
                f"SELECT unnest([{l1}]) AS a, unnest([{l2}]) AS b"
                f" ORDER BY ALL NULLS FIRST"
            )
        k = rng.randint(1, 9)
        return (
            f"SELECT unnest([{l1}]) + {k} AS a, unnest([{l2}]) AS b"
            f" ORDER BY ALL NULLS FIRST"
        )
    if r < 0.45:
        # SIMILAR TO / factorial over orders
        pat = rng.choice(
            ["[0-9]-URGENT", ".*URGENT.*", "[1-3].*", ".*H", "NOT.*"]
        )
        neg = rng.choice(["", "NOT "])
        m = rng.randint(3, 7)
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS c,"
            f" CAST(sum(((o_orderkey % {m})::INTEGER)!) AS BIGINT) AS f"
            f" FROM orders WHERE o_orderpriority {neg}SIMILAR TO '{pat}'"
        )
    if r < 0.6:
        # TIME / TIMESTAMPTZ arithmetic (wrap-free minutes)
        h = rng.randint(0, 20)
        mi = rng.randint(0, 59)
        add = rng.randint(1, (22 - h) * 60)
        form = rng.random()
        if form < 0.4:
            return (
                f"SELECT CAST(TIME '{h:02d}:{mi:02d}:00' +"
                f" INTERVAL {add} MINUTE AS VARCHAR) AS t"
            )
        if form < 0.7:
            d = rng.randint(1, 28)
            return (
                f"SELECT CAST(DATE '2024-03-{d:02d}' +"
                f" TIME '{h:02d}:{mi:02d}:00' AS TIMESTAMP) AS dt"
            )
        off = rng.choice(["+02", "-05", "+00", "+09:30"])
        return (
            f"SELECT CAST(TIMESTAMPTZ '2024-06-01 {h:02d}:{mi:02d}:00"
            f"{off}' AS TIMESTAMP) AS t"
        )
    if r < 0.75:
        # JSON-parsing composite casts
        x, y = rng.randint(0, 99), rng.randint(0, 99)
        if rng.random() < 0.5:
            return (
                f"SELECT CAST('{{\"a\": {x}, \"b\": \"s{y}\"}}' AS"
                f" STRUCT(a INTEGER, b VARCHAR)) AS s,"
                f" ('{{\"a\": {y}}}'::STRUCT(a INTEGER)).a + {x} AS v"
            )
        vals = ", ".join(str(rng.randint(0, 9)) for _ in range(rng.randint(1, 5)))
        return (
            f"SELECT CAST('[{vals}]' AS INTEGER[]) AS a,"
            f" len(CAST('[{vals}]' AS INTEGER[])) AS n"
        )
    if r < 0.9:
        # orderless rank windows: deterministic counts only
        t, part = rng.choice([
            ("nation", "n_regionkey"), ("orders", "o_orderstatus"),
            ("orders", "o_orderpriority"),
        ])
        k = rng.randint(1, 4)
        fn = rng.choice(["row_number()", "rank() "])
        # rank() without ORDER BY ties everything at 1; row_number is a
        # per-partition counter — both deterministic under count()
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS c FROM"
            f" (SELECT row_number() OVER (PARTITION BY {part}) AS rn"
            f" FROM {t}) WHERE rn <= {k}"
        )
    # FILTER on list()/array_agg (empty group -> NULL)
    m = rng.randint(2, 9)
    rr = rng.randint(0, m - 1)
    n = rng.randint(5, 60)
    return (
        f"SELECT o_orderstatus AS g,"
        f" to_json(list(o_orderkey ORDER BY o_orderkey)"
        f" FILTER (o_orderkey % {m} = {rr})) AS l"
        f" FROM orders WHERE o_orderkey < {n}"
        f" GROUP BY g ORDER BY g"
    )


def gen_wave19_query():
    """Wave-19 shapes (round 12, seventh stretch): windowed DISTINCT
    aggregates and list() OVER, TIME midnight-wrap arithmetic,
    DECIMAL-cast division, JSON path/pointer arrows, fractional
    interval truncation, derived list-alias subscripts, qualified
    RETURNING is DML-tested elsewhere."""
    r = rng.random()
    if r < 0.2:
        # windowed DISTINCT / list collect over orders
        fn = rng.choice([
            "CAST(count(DISTINCT o_orderpriority) OVER w AS BIGINT)",
            "CAST(sum(DISTINCT o_custkey % 50) OVER w AS BIGINT)",
            "round(avg(DISTINCT o_custkey % 50) OVER w, 4)",
            "to_json(list(o_orderkey) OVER w)",  # frame order
            # mode() excluded: ties are history-dependent in DuckDB's
            # sliding incremental state (incumbent retention) and
            # unmatched by design — see the mode branch docstring
        ])
        n = rng.randint(10, 80)
        pre = rng.randint(2, 6)
        return (
            f"SELECT o_orderkey, {fn} AS v FROM orders"
            f" WHERE o_orderkey < {n}"
            f" WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN {pre}"
            f" PRECEDING AND CURRENT ROW) ORDER BY o_orderkey"
        )
    if r < 0.4:
        # TIME arithmetic incl. wraps
        h, mi = rng.randint(0, 23), rng.randint(0, 59)
        add = rng.randint(1, 5000)
        op = rng.choice(["+", "-"])
        return (
            f"SELECT CAST(TIME '{h:02d}:{mi:02d}:00' {op}"
            f" INTERVAL {add} MINUTE AS VARCHAR) AS t"
        )
    if r < 0.55:
        # DECIMAL-cast division / fractional intervals
        if rng.random() < 0.5:
            a = rng.randint(1, 99)
            p, sc = rng.randint(6, 12), rng.randint(1, 3)
            d = rng.randint(2, 9)
            return (
                f"SELECT round(CAST({a} AS DECIMAL({p},{sc})) / {d}, 6)"
                f" AS q"
            )
        v = f"{rng.randint(1, 5)}.{rng.randint(1, 9)}"
        unit = rng.choice(["DAY", "HOUR", "MINUTE"])
        dd = rng.randint(1, 28)
        return (
            f"SELECT TIMESTAMP '2024-03-{dd:02d} 06:00:00' +"
            f" INTERVAL '{v}' {unit} AS t"
        )
    if r < 0.7:
        # JSON arrows in path and pointer form
        x, y = rng.randint(0, 99), rng.randint(0, 99)
        j = f'{{"a": {{"b": [{x}, {y}]}}}}'
        form = rng.choice([
            "j->>'$.a.b[1]'", "j->>'/a/b/0'", "j->'a'->'b'->>0",
            "j->>'$.a.b[0]'",
        ])
        return f"SELECT {form} AS v FROM (SELECT '{j}'::JSON AS j)"
    if r < 0.85:
        # derived list-alias subscripts through aggregation
        m = rng.randint(2, 9)
        return (
            f"SELECT CAST(sum(l[1]) AS BIGINT) AS s,"
            f" CAST(count(l[2]) AS BIGINT) AS c FROM"
            f" (SELECT [o_custkey % {m}, o_orderkey % {m}] AS l"
            f" FROM orders WHERE o_orderkey < {rng.randint(20, 90)})"
        )
    # zip unnests inside subqueries feeding windows
    n1, n2 = rng.randint(2, 5), rng.randint(2, 5)
    l1 = ", ".join(str(rng.randint(0, 9)) for _ in range(n1))
    l2 = ", ".join(str(rng.randint(0, 9)) for _ in range(n2))
    return (
        f"SELECT x, y, CAST(count(*) OVER (PARTITION BY y) AS BIGINT)"
        f" AS c FROM (SELECT unnest([{l1}]) AS x, unnest([{l2}]) AS y)"
        f" ORDER BY ALL NULLS FIRST"
    )
