"""The benchmark's three workloads.

Each workload builds its catalog on a fresh engine session (``setup``),
warms it up, and hands the loop one round of ops at a time. A round is
the workload's whole op pool in a seed-shuffled order, with literals drawn
from the same seeded generator, so the seed fixes the entire op sequence
and every run of a seed replays the same sequence and the same state
evolution. Every workload has read ops and write ops, and whole rounds
keep their mix the same on every run.

Outputs are checked against DuckDB after the timed loop (``Oracle``).
"""

from __future__ import annotations

import decimal
import math
import os
import random
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import types as T

import bench
from duckdb_nsql_spark import connect, workload
from harness import fixtures
from harness.oracle import canon_rows

READ, WRITE = "read", "write"

# generated tables the workloads read (harness/gen_sf.py writes these)
SF_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Op:
    kind: str  # READ or WRITE
    label: str  # template or registry row name
    sql: str | None = None  # engine SQL; None for registry operator rows


# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------

def _norm(v, integral: bool = False):
    """One cell of either engine's result as a plain Python value, so that
    ``canon_rows`` sees the same thing for the same SQL value: pandas NaN
    and NaT are NULL, numpy scalars and arrays become Python values, a
    DECIMAL compares as a float, and an integer column that pandas widened
    to float (because it holds a NULL) is an integer again."""
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return [_norm(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if integral else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.to_pydatetime()
    if isinstance(v, pd.Timedelta):
        return None if pd.isna(v) else v.to_pytimedelta()
    if v is pd.NaT:
        return None
    if hasattr(v, "asDict"):  # Spark Row (a struct value)
        return {k: _norm(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def engine_rows(pdf: pd.DataFrame, schema: T.StructType) -> list[tuple]:
    integral = [isinstance(f.dataType, T.IntegralType) for f in schema.fields]
    return [
        tuple(_norm(v, integral[i]) for i, v in enumerate(row))
        for row in pdf.itertuples(index=False, name=None)
    ]


def duck_rows(rows) -> list[tuple]:
    return [tuple(_norm(v) for v in r) for r in rows]


def canon(rows: list[tuple]) -> list[tuple]:
    """Order-insensitive multiset of rows, compared by column position."""
    width = len(rows[0]) if rows else 0
    return canon_rows(rows, [f"c{i:03d}" for i in range(width)])


class Oracle:
    """DuckDB replay of a run's op sequence. ``check`` returns the indices
    of read ops whose engine result differs from DuckDB's."""

    def __init__(self, ddb: duckdb.DuckDBPyConnection):
        self.ddb = ddb

    def apply(self, op: Op) -> None:
        self.ddb.execute(op.sql)

    def matches(self, op: Op, rows: list[tuple]) -> bool:
        want = duck_rows(self.ddb.execute(op.sql).fetchall())
        return canon(rows) == canon(want)

    def check(self, ops: list[Op], outcomes: list) -> list[int]:
        bad = []
        for i, (op, out) in enumerate(zip(ops, outcomes)):
            if not out.ok:
                continue  # a failed write changed nothing on the engine
            if op.kind == WRITE:
                self.apply(op)
                continue
            try:
                ok = self.matches(op, out.rows)
            except duckdb.Error:
                ok = False
            if not ok:
                bad.append(i)
        return bad


def _duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    ddb = duckdb.connect()
    for t in SF_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return ddb


# ---------------------------------------------------------------------------
# nsql_loop: the paper's text-to-SQL traffic over the NSQL fixture databases
# ---------------------------------------------------------------------------

MAKERS = "ABCDE"
PAYMENTS = ("visa", "mastercard", "cash", "credit", "debit")
EMAIL_RE = "([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})"

# dev.json-shaped statement templates modelled on harness/cases.py. Every
# template draws at least one literal from a wide range, so statement
# texts almost never repeat and the plan cache is not what is measured.
NSQL_READS = {
    "filter_eq": lambda r: (
        f"SELECT model FROM products WHERE maker = '{r.choice(MAKERS)}' "
        f"AND model >= '{r.randint(1000, 3007)}'"),
    "filter_neq": lambda r: (
        f"SELECT model, type FROM products WHERE maker <> '{r.choice(MAKERS)}' "
        f"AND model < '{r.randint(1000, 3007)}'"),
    "scalar_avg": lambda r: (
        "SELECT AVG(speed) AS avg_speed FROM laptops "
        f"WHERE speed >= {r.uniform(1.5, 2.2):.3f}"),
    "agg_max_bool_str": lambda r: (
        "SELECT MAX(price) AS max_price FROM printers "
        f"WHERE color = '{r.choice(['TRUE', 'FALSE'])}' "
        f"AND type = '{r.choice(['laser', 'ink-jet'])}' "
        f"AND price < {r.randint(100, 1000)}"),
    "like_filter": lambda r: (
        "SELECT MIN(paid) AS min_paid FROM sales "
        f"WHERE type_of_payment LIKE '%{r.choice(PAYMENTS)}%' "
        f"AND paid > {r.randint(0, 2500)}"),
    "quoted_alias_arith": lambda r: (
        f"SELECT model, price/{r.uniform(0.5, 1.5):.4f} AS 'price (USD)' "
        f"FROM laptops WHERE ram >= {r.choice([512, 1024, 2048])} "
        "ORDER BY model"),
    "group_having_count": lambda r: (
        "SELECT maker FROM products "
        f"WHERE model > '{r.randint(1000, 2000)}' GROUP BY maker "
        f"HAVING COUNT(maker) > {r.randint(1, 4)}"),
    "order_desc": lambda r: (
        "SELECT model, speed FROM laptops "
        f"WHERE price < {r.randint(600, 4000)} ORDER BY speed DESC, model"),
    "join_group_order_count": lambda r: (
        "SELECT c.city, COUNT(s.model) AS n FROM customers c "
        "JOIN sales s ON c.customer_id = s.customer_id "
        f"WHERE s.paid > {r.randint(0, 2000)} "
        "GROUP BY c.city ORDER BY n DESC, c.city"),
    "join_distinct": lambda r: (
        "SELECT DISTINCT p.maker FROM products p "
        f"JOIN sales s ON p.model = s.model WHERE s.paid >= {r.randint(0, 2500)}"),
    "join_group_avg": lambda r: (
        "SELECT c.city, AVG(s.paid) AS avg_paid FROM customers c "
        "JOIN sales s ON c.customer_id = s.customer_id "
        f"WHERE s.paid < {r.randint(500, 4000)} GROUP BY c.city"),
    "group_max_per_color": lambda r: (
        "SELECT color, MAX(price) AS max_price FROM printers "
        f"WHERE price > {r.randint(50, 300)} GROUP BY color"),
    "topk_order_limit": lambda r: (
        f"SELECT model, price FROM laptops WHERE hd >= {r.randint(60, 200)} "
        f"ORDER BY price DESC, model LIMIT {r.randint(1, 5)}"),
    "three_way_join_topk": lambda r: (
        "SELECT c.customer_id, c.firstname, c.lastname, COUNT(*) AS cnt "
        "FROM customers c JOIN sales s ON c.customer_id = s.customer_id "
        "JOIN products p ON s.model = p.model "
        f"WHERE s.paid > {r.randint(0, 1500)} "
        "GROUP BY c.customer_id, c.firstname, c.lastname "
        f"ORDER BY cnt DESC, c.customer_id LIMIT {r.randint(1, 3)}"),
    "star_exclude": lambda r: (
        "SELECT * EXCLUDE (address, email) FROM customers "
        f"ORDER BY customer_id LIMIT {r.randint(10, 100000)}"),
    "star_replace_upper": lambda r: (
        "SELECT * REPLACE (upper(city) AS city) FROM customers "
        f"ORDER BY customer_id LIMIT {r.randint(10, 100000)}"),
    "columns_regex_len": lambda r: (
        "SELECT LENGTH(COLUMNS('name$')) FROM customers "
        f"ORDER BY firstname LIMIT {r.randint(10, 100000)}"),
    "string_index": lambda r: (
        f"SELECT firstname[{r.randint(1, 3)}] AS initial FROM customers "
        f"ORDER BY customer_id LIMIT {r.randint(10, 100000)}"),
    "string_slice_filter": lambda r: (
        f"SELECT customer_id FROM customers WHERE email[:{r.randint(2, 6)}] "
        f"= substring('test1234', 1, {r.randint(2, 6)}) "
        f"LIMIT {r.randint(10, 100000)}"),
    "group_by_all": lambda r: (
        "SELECT customer_id, model, sum(paid) AS total_paid FROM sales "
        f"WHERE paid > {r.randint(0, 2000)} GROUP BY ALL ORDER BY ALL"),
    "order_by_all_exclude": lambda r: (
        "SELECT * EXCLUDE (screen) FROM laptops "
        f"WHERE price > {r.randint(500, 3000)} ORDER BY ALL"),
    "cast_coloncolon_round": lambda r: (
        f"SELECT model, (speed * {r.uniform(0.5, 3.0):.3f})::INTEGER "
        "AS speed_int FROM laptops ORDER BY model"),
    "having_on_alias": lambda r: (
        "SELECT u.name, sum(t.amount) AS balance FROM users u "
        "JOIN transactions t ON u.id = t.user_id "
        f"WHERE t.amount > {r.randint(-20, 0)} "
        f"GROUP BY u.name HAVING balance >= {r.randint(-10, 20)}"),
    "null_filter": lambda r: (
        "SELECT title FROM hacker_news WHERE url IS NOT NULL "
        f"AND score >= {r.randint(0, 130)} ORDER BY title"),
    "domain_extract_topk": lambda r: (
        "SELECT SUBSTRING(SPLIT_PART(url, '//', 2), 1, "
        "POSITION('/' IN SPLIT_PART(url, '//', 2)) - 1) AS domain, "
        "COUNT(*) AS count FROM hacker_news WHERE url IS NOT NULL "
        f"AND score >= {r.randint(0, 130)} "
        "GROUP BY domain ORDER BY count DESC, domain LIMIT 10"),
    "regexp_email": lambda r: (
        f"SELECT regexp_extract(text, '{EMAIL_RE}', 0) AS email "
        f"FROM hacker_news WHERE text LIKE '%@%' AND score > {r.randint(0, 80)} "
        "ORDER BY email"),
    "list_index": lambda r: (
        f"SELECT phone_numbers[{r.randint(1, 2)}] AS phone FROM customers "
        f"WHERE phone_numbers IS NOT NULL LIMIT {r.randint(10, 100000)}"),
    "struct_field": lambda r: (
        f"SELECT person.name AS name, person.id + {r.randint(0, 10000)} AS id "
        "FROM test"),
    "json_arrow_extract": lambda r: (
        f"SELECT email->>'{r.choice(['from', 'to'])}' AS addr "
        f"FROM customers_json ORDER BY customer_id LIMIT {r.randint(10, 100000)}"),
    "in_list_between": lambda r: (
        f"SELECT model FROM pcs WHERE speed BETWEEN {r.uniform(1.4, 2.4):.2f} "
        f"AND {r.uniform(2.4, 3.3):.2f} AND ram IN (512, 1024) ORDER BY model"),
    "case_with_null": lambda r: (
        "SELECT customer_id, CASE WHEN email IS NULL THEN 'missing' "
        f"ELSE substring(email, 1, {r.randint(1, 12)}) END AS e "
        "FROM customers ORDER BY customer_id"),
    "strftime_format": lambda r: (
        "SELECT model, strftime(day, '%Y/%m/%d') AS ymd FROM sales "
        f"WHERE paid > {r.randint(0, 2500)} ORDER BY model, ymd"),
}

NSQL_WRITES = {
    "insert_sale": lambda r: (
        "INSERT INTO sales VALUES "
        f"('{r.randint(1, 6)}', '{r.choice(['1001', '2005', '3003', '1010'])}', "
        f"{r.randint(1, 4)}, DATE '2024-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}', "
        f"{r.randint(100, 3000)}.0, "
        f"'{r.choice(PAYMENTS)} {r.choice(['credit', 'debit'])}')"),
    "delete_sales": lambda r: (
        "DELETE FROM sales WHERE day >= DATE '2024-01-01' "
        f"AND paid < {r.randint(500, 3000)}"),
    "update_price": lambda r: (
        f"UPDATE laptops SET price = {r.randint(500, 4000)}.0 "
        f"WHERE model = '{r.randint(2001, 2010)}'"),
    "update_address": lambda r: (
        f"UPDATE customers SET address = 'Straat {r.randint(1, 99999)}' "
        f"WHERE customer_id = '{r.randint(1, 6)}'"),
    "ctas_maker_stats": lambda r: (
        "CREATE OR REPLACE TABLE maker_stats AS SELECT maker, count(*) AS n "
        f"FROM products WHERE model > '{r.randint(1000, 3000)}' GROUP BY maker"),
    "insert_printer": lambda r: (
        f"INSERT INTO printers VALUES ('{r.randint(4000, 9999)}', "
        f"'{r.choice(['TRUE', 'FALSE'])}', '{r.choice(['laser', 'ink-jet'])}', "
        f"{r.randint(50, 900)}.0)"),
    "delete_printers": lambda r: (
        f"DELETE FROM printers WHERE model >= '4000' AND price > {r.randint(50, 900)}"),
    "update_sales_paid": lambda r: (
        f"UPDATE sales SET paid = paid + {r.randint(-50, 50)}.0 "
        f"WHERE customer_id = '{r.randint(1, 6)}'"),
    "insert_hn": lambda r: (
        f"INSERT INTO hacker_news VALUES ('Post {r.randint(1, 99999)}', "
        f"'https://site{r.randint(1, 9)}.example.com/p/{r.randint(1, 999)}', "
        f"'reach me at u{r.randint(1, 999)}@mail.example.com', "
        f"{r.randint(0, 150)}, 'user{r.randint(1, 99)}')"),
    "delete_hn": lambda r: (
        "DELETE FROM hacker_news WHERE by LIKE 'user%' "
        f"AND score < {r.randint(0, 150)}"),
}


def nsql_catalog() -> list[str]:
    """Every NSQL fixture database in one catalog. The laptop variants are
    the laptop database plus a few statements each, so each distinct
    statement runs once, in order."""
    seen: set[str] = set()
    out = []
    for stmts in fixtures.DATABASES.values():
        for s in stmts:
            if s not in seen:
                seen.add(s)
                out.append(s)
    return out


def _templated_round(rng: random.Random, reads: dict, writes: dict) -> list[Op]:
    pool = [(READ, k, f) for k, f in reads.items()]
    pool += [(WRITE, k, f) for k, f in writes.items()]
    rng.shuffle(pool)
    return [Op(kind, label, fn(rng)) for kind, label, fn in pool]


class NsqlLoop:
    """schema_text -> validate_sql -> execute -> fetch per op, on the NSQL
    fixture catalog (laptop, laptop_array/struct/json, transactions, hn)."""

    name = "nsql_loop"
    nsql_pipeline = True
    setups = 3
    warmup_ops = 5
    round_s = 22.0  # one round's duration on a 4-core box

    def __init__(self, data_dir: str, run_dir: str, sf: float):
        pass  # the fixture catalog is built from SQL statements alone

    def setup(self, spark, k: int):
        con = connect(spark=spark)
        for stmt in nsql_catalog():
            con.execute(stmt)
        return con

    def warmup(self, con) -> list[Op]:
        rng = random.Random("warmup")
        ops = _templated_round(rng, NSQL_READS, {})
        return ops[: self.warmup_ops]

    def round(self, rng: random.Random, r: int) -> list[Op]:
        return _templated_round(rng, NSQL_READS, NSQL_WRITES)

    def build(self, con, op: Op):
        return con.execute(op.sql)

    def oracle(self) -> Oracle:
        ddb = duckdb.connect()
        for stmt in nsql_catalog():
            ddb.execute(stmt)
        return Oracle(ddb)


# ---------------------------------------------------------------------------
# olap_sf01: bench.py's 19 rows at sf0.1
# ---------------------------------------------------------------------------

CLUSTERED_TABLES = {"customer_c": "customer", "orders_c": "orders",
                    "lineitem_c": "lineitem", "orders_g": "orders"}


def _unclustered(sql: str) -> str:
    for c, base in CLUSTERED_TABLES.items():
        sql = sql.replace(c, base)
    return sql


class OlapOracle(Oracle):
    """Registry oracle SQL per row, computed once: the data never changes."""

    def __init__(self, ddb, oracle_sql: dict[str, str]):
        super().__init__(ddb)
        self.oracle_sql = oracle_sql
        self._cache: dict[str, list[tuple]] = {}

    def apply(self, op: Op) -> None:
        pass  # the CLUSTER BY CTAS lays out tables only the reads observe

    def matches(self, op: Op, rows: list[tuple]) -> bool:
        if op.label in SAMPLED:
            return self.sample_ok(op, rows)
        if op.label == bench.SUMMARIZE_KEY:
            rows = [_summarize_exact(r) for r in rows]
        if op.label not in self._cache:
            want = self.ddb.execute(self.oracle_sql[op.label]).fetchall()
            self._cache[op.label] = canon(duck_rows(want))
        return canon(rows) == self._cache[op.label]

    def sample_ok(self, op: Op, rows: list[tuple]) -> bool:
        """A row without oracle SQL is a USING SAMPLE n% row, whose rows are
        drawn at random: check the width and that the size is near n%."""
        table, pct = SAMPLED[op.label]
        width = len(self.ddb.execute(f"SELECT * FROM {table} LIMIT 0").description)
        total = self.ddb.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        return (bool(rows) and len(rows[0]) == width
                and 0.5 * pct * total <= len(rows) <= 2 * pct * total)


# bench rows without registry oracle SQL: row -> (table, sampled share)
SAMPLED = {"q9_sample": ("lineitem", 0.05)}

# SUMMARIZE columns whose values are defined exactly; approx_unique and
# the quantiles are sketch outputs that differ by algorithm between engines
SUMMARIZE_EXACT = "column_name, min, max, count, null_percentage"


def _summarize_exact(row: tuple) -> tuple:
    # engine SUMMARIZE column order: column_name, column_type, min, max,
    # approx_unique, avg, std, q25, q50, q75, count, null_percentage
    return (row[0], row[2], row[3], row[10], row[11])


class OlapSf01:
    """The 19 rows of bench.py per sweep (the 12 BENCH_QUERIES SQL rows, the
    4 operator rows, SUMMARIZE and the two CLUSTER BY rows), each after
    clear_statement_cache() as bench.py does, plus one write per sweep:
    the CLUSTER BY CTAS that lays out the two clustered rows' tables."""

    name = "olap_sf01"
    nsql_pipeline = False
    setups = 2
    round_s = 10.0

    def __init__(self, data_dir: str, run_dir: str, sf: float):
        self.data_dir = data_dir
        self.queries = workload.build_queries()

    def setup(self, spark, k: int):
        self.spark = spark
        if k == self.setups - 1:
            # the engine the registry rows run on (workload.engine_for)
            con = workload.engine_for(spark, self.data_dir)
        else:
            con = connect(spark=spark)
            con.register_parquet_dir(self.data_dir)
        bench._setup_clustered(con)
        return con

    def _sweep(self) -> list[Op]:
        ops = [Op(READ, key) for key in bench.BENCH_QUERIES]
        ops.append(Op(READ, bench.SUMMARIZE_KEY, "SUMMARIZE orders"))
        ops.append(Op(READ, bench.CLUSTERED_KEY, bench.CLUSTERED_SQL))
        ops.append(Op(READ, bench.AGG_CLUSTERED_KEY, bench.AGG_CLUSTERED_SQL))
        ops.append(Op(WRITE, "cluster_by_ctas"))
        return ops

    def warmup(self, con) -> list[Op]:
        return self._sweep()

    def round(self, rng: random.Random, r: int) -> list[Op]:
        ops = self._sweep()
        rng.shuffle(ops)
        return ops

    def build(self, con, op: Op):
        con.clear_statement_cache()
        if op.label == "cluster_by_ctas":
            bench._setup_clustered(con)
            return None
        if op.sql is not None:
            return con.execute(op.sql)
        # registry rows resolve their own engine (workload.engine_for)
        return self.queries[bench.BENCH_QUERIES[op.label]](self.spark, self.data_dir)

    def oracle(self) -> Oracle:
        oracles = workload.build_oracles()
        sql = {key: oracles[q] for key, q in bench.BENCH_QUERIES.items()
               if key not in SAMPLED}
        sql[bench.CLUSTERED_KEY] = _unclustered(bench.CLUSTERED_SQL)
        sql[bench.AGG_CLUSTERED_KEY] = _unclustered(bench.AGG_CLUSTERED_SQL)
        sql[bench.SUMMARIZE_KEY] = (
            f"SELECT {SUMMARIZE_EXACT} FROM (SUMMARIZE orders)")
        return OlapOracle(_duck_views(self.data_dir), sql)


# ---------------------------------------------------------------------------
# dml_warehouse: writes beside reads on a durable catalog
# ---------------------------------------------------------------------------

# keys of inserted order batches start here, above every generated key
NEW_KEY_BASE = 10_000_000


class DmlWarehouse:
    """INSERT...SELECT batches, UPDATE, DELETE and ON CONFLICT upserts
    interleaved with read-after-write aggregates, on connect(database=...)
    tables created by CTAS from the generated orders/lineitem. Each round
    inserts one batch of new orders and deletes the oldest live one, so the
    live row count stays bounded."""

    name = "dml_warehouse"
    nsql_pipeline = False
    setups = 3
    round_s = 4.0

    def __init__(self, data_dir: str, run_dir: str, sf: float):
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.n_orders = max(100, int(30000 * sf / 0.1))
        self.batch = max(5, int(500 * sf / 0.1))
        self.warehouse_dir = None

    def catalog(self) -> list[str]:
        n = self.n_orders
        return [
            "CREATE TABLE orders_w AS SELECT o_orderkey, o_custkey, "
            "o_orderstatus, o_totalprice, o_orderdate FROM orders "
            f"WHERE o_orderkey < {n}",
            "CREATE TABLE lineitem_w AS SELECT l_orderkey, l_linenumber, "
            "l_quantity, l_extendedprice, l_discount FROM lineitem "
            f"WHERE l_orderkey < {n}",
            "CREATE TABLE cust_w (custkey BIGINT PRIMARY KEY, "
            "n_orders BIGINT, spend DOUBLE)",
            "INSERT INTO cust_w SELECT o_custkey AS custkey, count(*) AS n_orders, "
            "round(sum(o_totalprice), 2) AS spend FROM orders_w GROUP BY o_custkey",
        ]

    def setup(self, spark, k: int):
        self.warehouse_dir = os.path.join(self.run_dir, f"warehouse{k}")
        con = connect(spark=spark, database=self.warehouse_dir)
        con.register_parquet_dir(self.data_dir)
        for stmt in self.catalog():
            con.execute(stmt)
        return con

    def _writes(self, rng: random.Random, r: int) -> list[Op]:
        # round r inserts batch r+1 under keys [base, base + n_orders) and
        # deletes batch r, so at most two batches are ever live
        lo = rng.randint(0, self.n_orders - self.batch)
        base = NEW_KEY_BASE * (r + 2)
        ins = Op(WRITE, "insert_select",
                 f"INSERT INTO orders_w SELECT o_orderkey + {base}, o_custkey, "
                 f"o_orderstatus, round(o_totalprice * {rng.uniform(0.5, 1.5):.4f}, 2) "
                 f"AS o_totalprice, o_orderdate FROM orders WHERE o_orderkey >= {lo} "
                 f"AND o_orderkey < {lo + self.batch}")
        dele = Op(WRITE, "delete_batch",
                  f"DELETE FROM orders_w WHERE o_orderkey >= {base - NEW_KEY_BASE} "
                  f"AND o_orderkey < {base}")
        upd = Op(WRITE, "update",
                 f"UPDATE orders_w SET o_totalprice = round(o_totalprice + "
                 f"{rng.uniform(-50, 50):.2f}, 2) WHERE o_custkey % 97 = "
                 f"{rng.randint(0, 96)}")
        ups = Op(WRITE, "upsert",
                 "INSERT INTO cust_w SELECT o_custkey AS custkey, count(*) AS n_orders, "
                 "round(sum(o_totalprice), 2) AS spend FROM orders_w "
                 f"WHERE o_custkey % 89 = {rng.randint(0, 88)} GROUP BY o_custkey "
                 "ON CONFLICT (custkey) DO UPDATE SET "
                 "n_orders = excluded.n_orders, spend = excluded.spend")
        return [ins, dele, upd, ups]

    def _reads(self, rng: random.Random) -> list[Op]:
        # The whole-table aggregate runs three times a round. Ops sort by
        # latency into blocks of one kind each, and this puts the median of
        # all ops inside the status_totals block instead of at the edge
        # between two kinds (README.md, end-to-end metrics).
        totals = [
            Op(READ, "status_totals",
               "SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) "
               f"AS total FROM orders_w WHERE o_totalprice > {rng.randint(0, 2000)} "
               "GROUP BY ALL ORDER BY ALL")
            for _ in range(3)
        ]
        return totals + [
            Op(READ, "new_keys",
               "SELECT count(*) AS n, min(o_orderkey) AS lo, max(o_orderkey) AS hi, "
               "round(sum(o_totalprice), 2) AS total FROM orders_w "
               f"WHERE o_orderkey >= {NEW_KEY_BASE} AND o_totalprice > {rng.randint(0, 1000)}"),
            Op(READ, "cust_slice",
               "SELECT count(*) AS n, round(sum(spend), 2) AS s, max(n_orders) AS m "
               f"FROM cust_w WHERE custkey % 89 = {rng.randint(0, 88)}"),
            Op(READ, "join_revenue",
               "SELECT o.o_orderstatus, round(sum(l.l_extendedprice * "
               "(1 - l.l_discount)), 2) AS rev FROM orders_w o "
               "JOIN lineitem_w l ON l.l_orderkey = o.o_orderkey "
               f"WHERE o.o_custkey % 97 = {rng.randint(0, 96)} GROUP BY ALL ORDER BY ALL"),
            Op(READ, "point_lookup",
               "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_w "
               f"WHERE o_orderkey = {rng.randint(0, self.n_orders - 1)}"),
            Op(READ, "top_spenders",
               "SELECT custkey, spend FROM cust_w "
               f"WHERE n_orders >= {rng.randint(1, 3)} "
               "ORDER BY spend DESC, custkey LIMIT 5"),
        ]

    def warmup(self, con) -> list[Op]:
        return self._reads(random.Random("warmup"))

    def round(self, rng: random.Random, r: int) -> list[Op]:
        ops = self._writes(rng, r) + self._reads(rng)
        rng.shuffle(ops)
        return ops

    def build(self, con, op: Op):
        return con.execute(op.sql)

    def oracle(self) -> Oracle:
        ddb = _duck_views(self.data_dir)
        for stmt in self.catalog():
            ddb.execute(stmt)
        return Oracle(ddb)


WORKLOADS = {w.name: w for w in (NsqlLoop, OlapSf01, DmlWarehouse)}
