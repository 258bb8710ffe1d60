"""DuckSparkSession — the engine's connection object.

API parity with how the reference consumes DuckDB (``duckdb.connect`` /
``con.execute(sql)`` / ``.fetchdf()``, /root/reference/examples/utils.py:16-22
and examples/local_demo.ipynb): ``connect() -> DuckSparkSession`` with
``execute(sql) -> DataFrame`` and ``fetchdf(sql) -> pandas.DataFrame``.

Statements are routed: queries go through the dialect rewrite passes into
``spark.sql`` (declarative — Catalyst optimizes); session statements
(SET/PRAGMA/ATTACH/COPY/DDL/DML/SUMMARIZE/DESCRIBE/SHOW) are handled here.

Mutable-table semantics (CREATE/INSERT/UPDATE/ALTER, dev.json:228-252,
444-532) are provided by an in-session catalog of DataFrames re-registered
as temp views after each mutation. On a production cluster the same router
would target Delta/Iceberg tables; the query surface is unchanged.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections import OrderedDict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import introspect, io_utils
from .frontend import rewrites
from .frontend.tokenizer import (
    COMMENT,
    IDENT,
    NUMBER,
    OP,
    PUNCT,
    QIDENT,
    STRING,
    WS,
    Token,
    from_item_starts,
    match_forward,
    next_sig,
    prev_sig,
    render,
    split_args,
    tokenize,
)
from .types import fixed_array_length, parse_duckdb_type

_TABLE_FUNCS = {
    "READ_CSV_AUTO": "csv",
    "READ_CSV": "csv",
    "READ_JSON_AUTO": "json",
    "READ_JSON": "json",
    "READ_NDJSON_AUTO": "json",
    "READ_PARQUET": "parquet",
    "PARQUET_SCAN": "parquet",
}

_FILE_EXT_RE = re.compile(
    r"\.(csv|tsv|parquet|json|ndjson|jsonl)(\.gz)?$", re.IGNORECASE
)

DEFAULT_SETTINGS = {
    "threads": str(os.cpu_count() or 8),
    "memory_limit": "128GB",
    "max_memory": "128GB",
    "default_null_order": "nulls_last",
    "null_order": "nulls_last",
    "enable_external_access": "true",
    "enable_progress_bar": "false",
    "preserve_insertion_order": "true",
}


RUNTIME_CONFS = {
    # Everything the engine's semantics depend on that is runtime-settable —
    # applied defensively to FOREIGN SparkSessions too (the verification
    # driver constructs its own bare session and hands it to us).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",  # events.parquet TIMESTAMP(NANOS)
    "spark.sql.ansi.enabled": "false",
    # Spark 4.1 ships the SQL-standard TIME type behind this flag
    # (TIME literals, make_time, to_time, EXTRACT, comparisons). DuckDB
    # TIME columns/functions map onto it (see types.py, rewrites).
    "spark.sql.timeType.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 64MB advisory post-shuffle partitions at scale; minPartitionSize
    # stays at Spark's 1MB default so parallelismFirst keeps small
    # shuffles wide locally (16MB collapsed sub-16MB reduces to 1 task)
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1MB",
    # 8MB keeps every dimension table on the build side while the fact
    # tables (lineitem is 10.8MB at sf0.1, and only grows with SF) stay on
    # the stream side. The previous 64MB made Catalyst broadcast the
    # *largest* table of a star join — fatal at cluster scale. AQE can
    # still upgrade a shuffle join whose runtime size comes in under this.
    "spark.sql.autoBroadcastJoinThreshold": "8MB",
    # Measured (interleaved A/B on q06, 2024 fixture): raising ONLY the
    # AQE runtime-conversion threshold to 32MB made the orders⋈lineitem
    # join SLOWER locally (broadcast build serializes what 32 SMJ tasks
    # did in parallel) — keep AQE's conversion at the same 8MB.
    # Spark estimates a scan as file_size x column fraction, but parquet
    # compresses ~4x, so a 600k-row pruned fact scan "fits" under the
    # broadcast threshold and Catalyst builds a single-threaded hash
    # relation of the FACT table. Correcting the estimate keeps dims on
    # the build side and facts (orders JOIN lineitem) on a shuffled
    # sort-merge join — the plan that survives a 1000-executor scale-up.
    # AQE can still downgrade to broadcast from *runtime* sizes.
    "spark.sql.sources.fileCompressionFactor": "4.0",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fetchdf() materializes the WHOLE result in pandas, so tiny Arrow
    # batches only add per-batch handoff + concat overhead (Spark's 10k
    # default is tuned for incremental consumers). Measured at sf10
    # (round 9, interleaved best-of-3): a 3M-row x 16-col fetch drops
    # 2.70 s -> 1.25 s and a 1.3M-row sorted fetch 1.28 s -> 1.16 s at
    # 1M rows/batch. Peak memory stays ~= result size + one batch — the
    # result is fully materialized either way.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1000000",
    # Prefer shuffled HASH join over sort-merge when the planner already
    # knows the build side fits a per-partition map (build estimate <
    # autoBroadcastJoinThreshold x shuffle partitions — with the 4x
    # compression factor above that is ~64MB of real data). Hash probe
    # beats sort+merge for the orders⋈lineitem shape (measured q06 at
    # sf1: 2.4-9.4s SMJ -> 1.3-2.1s SHJ; the two 6M/1.5M-row sorts were
    # the cost, and they also amplified host-contention variance). Large
    # builds still plan as SMJ, so the 100TB fact⋈fact case keeps the
    # spill-safe sort-merge path.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Same conversion from RUNTIME sizes: AQE rewrites a planned SMJ to
    # SHJ when the measured per-partition build map is under this bound
    # (default 0 = never). 128MB/partition is executor-memory-safe and
    # decided from actual shuffle bytes, not estimates.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128MB",
    # A Union whose children are hash-partitioned alike claims that
    # partitioning, but on DML-built tables (kept rows UNION new rows,
    # each side a shuffled join) the claim is wrong and a later join over
    # the union fails with "Can't zip RDDs with unequal numbers of
    # partitions: List(8, 16)" (harness/fuzz_dml.py seed 4, sequence 8).
    "spark.sql.unionOutputPartitioning": "false",
}


def _attach_cursor_api(df: DataFrame) -> None:
    """Instance-attach DuckDB's cursor-style fetch methods to a result
    DataFrame so ``execute(...).fetchdf()`` chains work verbatim."""
    df.fetchdf = df.toPandas  # type: ignore[attr-defined]
    df.df = df.toPandas  # type: ignore[attr-defined]
    df.fetchall = lambda: [tuple(r) for r in df.collect()]  # type: ignore[attr-defined]
    df.fetchone = lambda: next(  # type: ignore[attr-defined]
        (tuple(r) for r in df.limit(1).collect()), None
    )
    df.fetch_arrow_table = lambda: __import__("pyarrow").Table.from_pandas(  # type: ignore[attr-defined]
        df.toPandas()
    )


def _substitute_macro_params(body: str, params: list[str], args: list[str]) -> str:
    """Token-wise positional substitution of macro parameters; each
    argument is parenthesized so ``a + b`` expands safely into arbitrary
    expression context. Dotted references (``t.a``) never substitute."""
    toks = tokenize(body)
    pmap = dict(zip(params, args))
    out: list[str] = []
    for idx, tk in enumerate(toks):
        if tk.kind == IDENT and tk.text.lower() in pmap:
            p = prev_sig(toks, idx)
            n = next_sig(toks, idx)
            # `t.x` keeps its qualifier; `x(...)` is a function, not a param;
            # `x.field` DOES substitute — (arg).field stays valid
            qualified = p >= 0 and toks[p].kind == PUNCT and toks[p].text == "."
            fncall = n < len(toks) and toks[n].kind == PUNCT and toks[n].text == "("
            if not qualified and not fncall:
                out.append(f"({pmap[tk.text.lower()]})")
                continue
        out.append(tk.text)
    return "".join(out)


# Persisting a repeated CTE only pays once its body re-scans this much
# input; below it the recompute is cheaper than the persist round-trip.
# (~256MB ≈ a few seconds of single-stage scan — the break-even against a
# persist's extra stage, serialization, and lost pushdown.)
CTE_MATERIALIZE_MIN_INPUT_BYTES = 256 << 20

# Localization probes (single-task final merge) only run when the CTE
# body scans at most this much estimated input; larger bodies keep the
# fully-distributed lazy persist + AQE path.
CTE_LOCALIZE_PROBE_MAX_INPUT_BYTES = 1 << 30

# Fast-path probe gate: a REDUCING body (top-level aggregate) over at most
# this much input evaluates with a plain parallel collect() instead of the
# capped take() probe — measured 0.26s -> 0.05s on a 25-row aggregate at
# sf0.1, because take() runs the incremental-limit scale-up (multiple
# scheduler round-trips) where collect() is one fully-parallel AQE job.
# Reducing-only + small-input keeps the uncapped collect bounded: the
# result is at most one row per group over a few MB of input.
CTE_LOCALIZE_COLLECT_MAX_INPUT_BYTES = 64 << 20

# A trailing ORDER BY (no LIMIT) over at most this much input runs as the
# analyzed Sort over a non-shuffling Repartition(1): a sort of one
# partition needs no range-sampling job and no exchange (DuckDB sorts a
# small result in-process). The input is the statement's
# file bytes x4 (parquet compresses ~4x) or, when any relation is not a
# known file, the analyzed plan's leaf statistics. Bigger inputs keep
# Spark's distributed range sort, the only shape that scales. See
# DuckSparkSession._single_partition_sort.
SMALL_SORT_MAX_INPUT_BYTES = 64 << 20

# The one tiny-relation cap: a relation Spark computed that holds at most
# this many rows becomes ONE driver-local LocalRelation (_local_relation).
# Catalyst then has exact stats (joins broadcast it without AQE guesswork)
# and folds reads of it on the driver with zero tasks, as DuckDB evaluates
# tiny relations in-process; the bound keeps each copy to a few MB of
# driver memory. A base table whose parquet FOOTER reports at most this
# many rows (TPC-H's region/nation at ANY scale factor) also keeps a
# trailing .coalesce(1): SinglePartition satisfies the distribution every
# hash aggregate / sort requires, so a GROUP BY over it plans NO exchange.
LOCAL_RELATION_MAX_ROWS = 2000

# Statement-size-adaptive parallelism (DuckDB sizes its pipeline's task
# count to the data; Spark's static confs are sized for the big case).
# When EVERY relation a statement references is a known on-disk file and
# their bytes total at most this, the statement runs in "small mode":
# AQE off (its per-stage re-plan round-trips dominate sub-100ms jobs),
# 8 post-shuffle partitions (32 shuffle tasks of ~1k rows each cost more
# scheduling than work), and a 2MB scan split so Spark's file bin-packing
# (openCostInBytes folds the respooled 8x1.4MB files back into 1-2 scan
# tasks) keeps the scan parallel. Any unknown-size relation (view,
# in-memory table) or a larger input keeps the session's cluster-scale
# defaults — AQE skew/SMJ->SHJ conversion stays on exactly where it wins
# (measured: sf1 q06). Measured at sf0.1: 13-row bench 3.04s -> ~2.0s.
# 16MB threshold (not 32): parquet compresses ~4x, so a 27MB orders file
# at sf1 is ~100MB of data — measured SLOWER under the small confs; the
# gate must only catch the truly small scale (sf0.1 tables sum to 14MB).
SMALL_STMT_MAX_FILE_BYTES = 16 << 20
_SMALL_STMT_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": str(2 << 20),
}


def _plan_input_bytes(df: DataFrame) -> int:
    """Catalyst's estimate of the bytes the plan's leaf relations scan
    (plan-time statistics — no job). Unknown ⇒ assume huge so DuckDB's
    materialize-repeated-CTEs semantics win at scale."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        # py4j maps scala.math.BigInt to a Python int
        return sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:  # noqa: BLE001 — py4j surface varies across builds
        return 1 << 62


def _all_leaves_local(df: DataFrame) -> bool:
    """True when every leaf of the optimized plan is a driver-local
    relation (LocalRelation / OneRowRelation) — i.e. evaluating the plan
    touches no files and no distributed state, so collecting it is a
    constant-cost driver operation regardless of cluster scale."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return all(
            leaves.apply(i).getClass().getSimpleName()
            in ("LocalRelation", "OneRowRelation")
            for i in range(leaves.size())
        )
    except Exception:  # noqa: BLE001 — py4j surface varies across builds
        return False


def _capped_rows(spark: SparkSession, df: DataFrame):
    """At most LOCAL_RELATION_MAX_ROWS + 1 of ``df``'s rows, collected in
    the JVM (a java.util.List of Spark rows). Over an all-local plan this
    is a driver-side copy with zero jobs; a Union is copied branch by
    branch, because collecting it whole schedules a job."""
    jdf = df._jdf
    plan = jdf.queryExecution().optimizedPlan()
    parts = [jdf]
    if plan.getClass().getSimpleName() == "Union":
        kids = plan.children()
        of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
        parts = [of_rows(spark._jsparkSession, kids.apply(i))
                 for i in range(kids.size())]
    jrows = spark._jvm.java.util.ArrayList()
    for part in parts:
        jrows.addAll(part.limit(
            LOCAL_RELATION_MAX_ROWS + 1 - jrows.size()).collectAsList())
        if jrows.size() > LOCAL_RELATION_MAX_ROWS:
            break
    return jrows


def _local_relation(
    spark: SparkSession, df: DataFrame, jrows
) -> Optional[DataFrame]:
    """``df``'s rows ``jrows`` (collected from it in the JVM) as ONE
    LocalRelation, or None when they are more than LOCAL_RELATION_MAX_ROWS
    — the only way a relation Spark computed becomes driver-local.

    The rows are rebuilt in the JVM against the plan's schema, so every
    type (DECIMAL, nested, INTERVAL, TIMESTAMP) comes back exactly, with
    no Python conversion and no SQL literal rendering."""
    if jrows.size() > LOCAL_RELATION_MAX_ROWS:
        return None
    return DataFrame(
        spark._jsparkSession.createDataFrame(jrows, df._jdf.schema()), spark
    )


# Scalar aggregates _fold_local_subqueries evaluates driver-side. Kept to
# functions whose Python evaluation is bit-identical to Spark's over the
# already-collected values: order statistics and integer counting. sum/avg
# fold only for int/float inputs (Decimal sum changes Spark's result TYPE
# — decimal(p+10,s) — which a literal can't reproduce faithfully).
_FOLD_AGGS = {"min", "max", "sum", "avg", "count"}

# Column types whose values _fold_local_subqueries renders as SQL literals
# (introspect._sql_literal round-trips them exactly). A nested value would
# render as its Python repr (a STRUCT as 'Row(a=1)'), so a subquery over a
# nested column is kept.
_LITERAL_TYPES = introspect._NUMERIC + (
    T.StringType, T.BooleanType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)


def _fold_local_subqueries(sql: str, local_ctes: dict[str, DataFrame]) -> str:
    """Fold subqueries over LOCALIZED CTEs into literals at build time.

    A localized CTE's result already sits in driver memory (≤
    LOCAL_RELATION_MAX_ROWS rows), yet Spark still schedules one job per
    scalar subquery and a broadcast-build + probe pair per IN-subquery
    over it — ~50-80 ms of scheduler floor each on a 25-row relation
    (q22's shape: 4 of its 6 jobs). DuckDB evaluates these in-process
    for free; the Spark-side equivalent is constant-folding them into
    the statement text, after which Catalyst's ConvertToLocalRelation
    collapses the remaining project/filter chain — zero jobs. Two
    patterns, both strictly token-matched so anything more complex
    (WHERE, GROUP BY, joins, expressions) keeps the subquery:

    - ``(SELECT agg(col) FROM name)`` → typed literal
      (introspect._sql_literal, exact for _LITERAL_TYPES).
    - ``x IN (SELECT col FROM name)`` / ``x IN (FROM name)`` → literal
      IN-list (distinct values; a NULL keeps SQL's three-valued IN).

    Only fires on names in ``local_ctes`` (each CTE's LocalRelation, whose
    rows a matched pattern reads with zero jobs), so the fold is bounded
    by the tiny-relation row cap at any data scale."""
    if not local_ctes:
        return sql
    tokens = tokenize(sql)
    out: list[Token] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        # pattern: ( SELECT agg ( [DISTINCT] col|* ) FROM name )
        if t.kind == PUNCT and t.text == "(":
            close = match_forward(tokens, i, "(", ")")
            repl = None
            if close < len(tokens):
                repl = _match_scalar_agg(tokens, i, close, local_ctes)
            if repl is not None:
                out.extend(tokenize(repl))
                i = close + 1
                continue
        # pattern: IN ( FROM name ) / IN ( SELECT col FROM name )
        if t.kind == IDENT and t.upper == "IN":
            j = next_sig(tokens, i)
            if (
                j < len(tokens)
                and tokens[j].kind == PUNCT
                and tokens[j].text == "("
            ):
                close = match_forward(tokens, j, "(", ")")
                repl = None
                if close < len(tokens):
                    repl = _match_in_list(tokens, j, close, local_ctes)
                if repl is not None:
                    out.append(t)
                    out.extend(tokenize(" " + repl))
                    i = close + 1
                    continue
        out.append(t)
        i += 1
    return render(out)


_lit = introspect._sql_literal


def _field(schema: T.StructType, col: str) -> Optional[T.StructField]:
    for f in schema.fields:
        if f.name.lower() == col.lower():
            return f
    return None


def _column_values(local: DataFrame, fld: Optional[T.StructField]):
    """The Python values of ``local``'s column ``fld``, or None when there
    is no such column or its type has no exact SQL literal. Only that
    column is converted; projecting a LocalRelation starts no job."""
    if fld is None or not isinstance(fld.dataType, _LITERAL_TYPES):
        return None
    col = F.col("`" + fld.name.replace("`", "``") + "`")
    return [r[0] for r in local.select(col).collect()]


def _match_scalar_agg(tokens, i, close, local_ctes):
    """Return the literal replacement for a ``(SELECT agg(col) FROM
    name)`` span, or None when the span is anything else."""
    j = next_sig(tokens, i)
    if j >= close or not tokens[j].is_kw("SELECT"):
        return None
    k = next_sig(tokens, j)
    if k >= close or tokens[k].kind != IDENT:
        return None
    agg = tokens[k].text.lower()
    if agg not in _FOLD_AGGS:
        return None
    p = next_sig(tokens, k)
    if p >= close or tokens[p].kind != PUNCT or tokens[p].text != "(":
        return None
    pc = match_forward(tokens, p, "(", ")")
    if pc >= close:
        return None
    inner = [
        t for t in tokens[p + 1 : pc] if t.kind not in (WS, COMMENT)
    ]
    distinct = False
    if inner and inner[0].is_kw("DISTINCT"):
        distinct = True
        inner = inner[1:]
    star = len(inner) == 1 and inner[0].text == "*"  # "*" tokenizes as OP
    if not star and not (
        len(inner) == 1 and inner[0].kind in (IDENT, QIDENT)
    ):
        return None
    if star and agg != "count":
        return None
    f = next_sig(tokens, pc)
    if f >= close or not tokens[f].is_kw("FROM"):
        return None
    n = next_sig(tokens, f)
    if n >= close or tokens[n].kind not in (IDENT, QIDENT):
        return None
    name = tokens[n].text.strip('"').lower()
    if name not in local_ctes or next_sig(tokens, n) != close:
        return None
    local = local_ctes[name]
    if star:
        return _lit(local._jdf.collectAsList().size(), T.LongType())
    fld = _field(local.schema, inner[0].text.strip('"'))
    vals = _column_values(local, fld)
    if vals is None:
        return None
    nn = [v for v in vals if v is not None]
    import math as _math

    # NaN bail-out: Python's min/max/set over NaN are order-dependent
    # while both engines treat NaN as a single largest value — keep the
    # subquery rather than risk a divergent fold
    if any(isinstance(v, float) and _math.isnan(v) for v in nn):
        return None
    if distinct:
        try:
            nn = list(dict.fromkeys(nn))
        except TypeError:
            return None
    if agg == "count":
        return _lit(len(nn), T.LongType())
    if not nn:
        # NULL must carry the AGGREGATE's result type, not the column's:
        # both engines type avg(int) DOUBLE and sum(int) BIGINT, and the
        # folded literal participates in downstream type coercion
        if agg == "avg":
            return "CAST(NULL AS double)"
        if agg == "sum":
            inner_t = fld.dataType.simpleString()
            return (
                "CAST(NULL AS double)"
                if inner_t in ("float", "double")
                else "CAST(NULL AS bigint)"
            )
        return f"CAST(NULL AS {fld.dataType.simpleString()})"
    if agg in ("min", "max"):
        if not all(
            isinstance(v, (int, float, str)) and not isinstance(v, bool)
            or hasattr(v, "isoformat")
            for v in nn
        ):
            return None
        return _lit(min(nn) if agg == "min" else max(nn), fld.dataType)
    # sum / avg: int/float only (Decimal sum widens Spark's result type)
    if not all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in nn
    ):
        return None
    s = sum(nn)
    if agg == "sum":
        if isinstance(s, int) and abs(s) > (1 << 63) - 1:
            return None  # Spark's BIGINT sum would overflow, Python's won't
        dt = T.DoubleType() if isinstance(s, float) else T.LongType()
        return _lit(s, dt)
    return _lit(s / len(nn), T.DoubleType())


def _match_in_list(tokens, j, close, local_ctes):
    """Return the literal IN-list replacement for an ``( FROM name )`` /
    ``( SELECT col FROM name )`` span, or None."""
    k = next_sig(tokens, j)
    col = None
    if k < close and tokens[k].is_kw("SELECT"):
        c = next_sig(tokens, k)
        if c >= close:
            return None
        if tokens[c].text == "*":  # "*" tokenizes as OP, not PUNCT
            pass
        elif tokens[c].kind in (IDENT, QIDENT):
            col = tokens[c].text.strip('"')
        else:
            return None
        k = next_sig(tokens, c)
    if k >= close or not tokens[k].is_kw("FROM"):
        return None
    n = next_sig(tokens, k)
    if n >= close or tokens[n].kind not in (IDENT, QIDENT):
        return None
    name = tokens[n].text.strip('"').lower()
    if name not in local_ctes or next_sig(tokens, n) != close:
        return None
    local = local_ctes[name]
    fields = local.schema.fields
    if col is None and len(fields) != 1:
        return None
    fld = fields[0] if col is None else _field(local.schema, col)
    vals = _column_values(local, fld)
    if vals is None:
        return None
    import math as _math

    if any(
        isinstance(v, float) and _math.isnan(v) for v in vals if v is not None
    ):
        return None  # NaN-in-IN semantics differ subtly — keep the subquery
    has_null = any(v is None for v in vals)
    try:
        uniq = list(dict.fromkeys(v for v in vals if v is not None))
    except TypeError:
        return None
    if not uniq and not has_null:
        return None  # empty IN-list is not valid SQL — keep the subquery
    lits = [_lit(v, fld.dataType) for v in uniq]
    if has_null:
        lits.append(f"CAST(NULL AS {fld.dataType.simpleString()})")
    return "(" + ", ".join(lits) + ")"


def apply_runtime_confs(spark: SparkSession) -> None:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — non-settable conf on this build
            pass


def _local_scratch_dir() -> str:
    """tmpfs scratch for local-mode shuffle/broadcast files when /dev/shm
    is present with headroom (>=8GB free); /tmp otherwise."""
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 8 << 30:
            d = "/dev/shm/ddbspark-local"
            os.makedirs(d, exist_ok=True)
            return d
    except Exception:  # noqa: BLE001 — no /dev/shm on this platform
        pass
    return tempfile.gettempdir()


def _default_driver_memory() -> str:
    """Half of physical RAM, in whole GiB (at least 1): a local-mode JVM
    sized past the box gets OOM-killed instead of collecting garbage."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # no sysconf names here
        return "4g"
    return f"{max(1, phys // 2 // 2**30)}g"


def build_spark(
    app_name: str = "duckdb-nsql-spark",
    cpus: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Tuned local-mode session. On a real cluster only master/memory change;
    the SQL-level conf (AQE, broadcast, partitions) is the scale design."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local-mode scratch on tmpfs when available: shuffle/broadcast
        # spill files hit RAM instead of the VM's virtual disk (a real
        # cluster provisions NVMe scratch via SPARK_LOCAL_DIRS; this is
        # the single-box equivalent). Static conf — ignored if a session
        # already exists, never applied to foreign cluster sessions.
        .config("spark.local.dir", _local_scratch_dir())
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class _CatalogResolver:
    """Schema/settings callbacks for the rewrite passes."""

    def __init__(self, session: "DuckSparkSession"):
        self.session = session

    def column_kind(self, name: str) -> Optional[str]:
        k = self.session._column_kinds().get(name.lower())
        return k if k in ("array", "string", "map", "struct") else None

    def column_numeric(self, name: str) -> Optional[str]:
        k = self.session._column_kinds().get(name.lower())
        return k if k in ("int", "float", "decimal") else None

    def column_timestamp(self, name: str) -> bool:
        return self.session._column_kinds().get(name.lower()) == "timestamp"

    def column_nesting(self, name: str):
        """(list_depth, leaf) for unnest(recursive:=/max_depth:=) —
        walks the full Spark DataType, unlike the coarse column_kind."""
        dt = self.session._column_datatype(name)
        if dt is None:
            return None
        d = 0
        while isinstance(dt, T.ArrayType):
            d += 1
            dt = dt.elementType
        leaf = "struct" if isinstance(dt, T.StructType) else "scalar"
        return (d, leaf)

    def column_struct_leaves(self, name: str):
        dt = self.session._column_datatype(name)
        if dt is None:
            return None
        while isinstance(dt, T.ArrayType):
            dt = dt.elementType
        if not isinstance(dt, T.StructType):
            return None

        leaves: list[tuple[str, str]] = []

        def walk(st: T.StructType, prefix: str) -> None:
            for f in st.fields:
                p = f"{prefix}.{f.name}" if prefix else f.name
                if isinstance(f.dataType, T.StructType):
                    walk(f.dataType, p)
                else:
                    leaves.append((p, f.name))

        walk(dt, "")
        return leaves

    def enum_values(self, name: str) -> Optional[list[str]]:
        """ENUM member list by TYPE name first, then by enum-typed
        COLUMN name (pass_enum_functions resolves either spelling).
        Unscoped fallback: column-name resolution bails when two tables
        disagree on the member list (ambiguous)."""
        return self.enum_values_in(name, None)

    def enum_values_in(
        self, name: str, tables: Optional[set]
    ) -> Optional[list[str]]:
        """Statement-scoped ENUM resolution. TYPE names are catalog-
        global (CREATE TYPE); COLUMN names resolve only against the
        statement's referenced ``tables`` — a same-named non-enum column
        in an unrelated table must not trigger the member-code mapping
        (min/max/ORDER BY would otherwise rewrite to array_position over
        the WRONG table's members and raise or mis-sort at runtime).
        Ambiguous column matches (two referenced tables, different
        member lists) bail to None — plain lexicographic semantics.

        Referenced VIEWS are expanded to the base tables their bodies
        mention (transitively, cycle-guarded) — an enum column read
        through ``SELECT max(m) FROM v`` must resolve against the view's
        underlying table, not silently fall back to lexicographic
        ordering."""
        n = name.lower()
        vals = self.session._enum_types.get(n)
        if vals:
            return vals
        if tables is not None:
            tables = self._expand_view_tables(tables)
        found: Optional[list[str]] = None
        for tname, cols in self.session._enum_cols.items():
            if n not in cols:
                continue
            if tables is not None and tname.lower() not in tables:
                continue
            if found is not None and found != cols[n]:
                return None  # ambiguous across referenced tables
            found = cols[n]
        if found is None:
            return None
        if tables is not None:
            # the name must not ALSO be a non-enum column of another
            # referenced table — that reference would be ambiguous and
            # the member mapping could bind the wrong column. Views are
            # skipped: their columns are projections of the base tables
            # already expanded into `tables`, so the view re-exposing
            # the enum column is not a conflict.
            view_names = {
                k.lower() for k in getattr(self.session, "_view_defs", {})
            }
            for tname in tables:
                if tname.lower() in view_names:
                    continue
                cols = self.session._enum_cols.get(tname.lower(), {})
                if n in cols:
                    continue
                tcols = self.table_columns(tname)
                if tcols and n in (c.lower() for c in tcols):
                    return None
        return found

    def _expand_view_tables(self, tables: set) -> set:
        """Union ``tables`` with the base tables referenced by any VIEW
        in the set, transitively (views over views), cycle-guarded."""
        raw_defs = getattr(self.session, "_view_defs", {})
        if not raw_defs:
            return tables
        view_defs = {k.lower(): v for k, v in raw_defs.items()}
        out = {t.lower() for t in tables}
        queue = [t for t in out if t in view_defs]
        seen: set = set()
        while queue:
            v = queue.pop()
            if v in seen:
                continue
            seen.add(v)
            body = view_defs.get(v)
            if not body:
                continue
            try:
                refs = rewrites._referenced_tables(tokenize(body))
            except Exception:  # noqa: BLE001 — unparsable body: skip
                continue
            for r in refs:
                if r not in out:
                    out.add(r)
                    if r in view_defs:
                        queue.append(r)
        return out

    def table_columns(self, name: str) -> Optional[list[str]]:
        try:
            return self.session.table(name).columns
        except Exception:
            return None

    def setting(self, name: str) -> Optional[str]:
        return self.session.settings.get(name.lower())


_SESSION_COUNTER = iter(range(1, 10**9))


def _cleanup_spools_weak(ref) -> None:
    """atexit fallback: delete ATTACH spool dirs of a session that was
    never close()d. Weakref so registration doesn't pin the session."""
    sess = ref()
    if sess is not None:
        try:
            sess.close()
        except Exception:  # noqa: BLE001 — exit path, best effort
            pass


class DuckSparkSession:
    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        database: Optional[str] = None,
        table_format: Optional[str] = None,
        **spark_kwargs,
    ):
        self.spark = spark or build_spark(**spark_kwargs)
        apply_runtime_confs(self.spark)
        from .functions import register_python_functions

        register_python_functions(self.spark)
        # Sessions are isolated catalogs (like duckdb.connect()): every
        # registered table's temp view is prefixed with the session id and
        # query-time table references are rewritten to the prefixed names,
        # so two DuckSparkSessions on one SparkSession never collide.
        self._sid = next(_SESSION_COUNTER)
        self.settings: dict[str, str] = dict(DEFAULT_SETTINGS)
        self._tables: dict[str, DataFrame] = {}
        # base tables registered straight from a single parquet file keep
        # their path here — enables footer-stats fast paths (SUMMARIZE)
        self._table_files: dict[str, str] = {}
        self._fixed_arrays: dict[str, dict[str, int]] = {}
        self._databases: set[str] = {"memory", "main", "information_schema"}
        self._primary_db_name: str = "memory"
        self._current_db = "memory"
        self._resolver = _CatalogResolver(self)
        self._kind_cache: Optional[dict[str, str]] = None
        self._infoschema_dirty = True
        self._tf_counter = 0
        # when validate_sql is active this is a list collecting temp views
        # registered during analysis so they can be dropped afterwards
        self._created_views_log: Optional[list] = None
        # CTE-materialization state: name -> temp view routing for the
        # statement being planned, plus persisted DataFrames to release
        # when the next statement starts
        self._cte_overrides: dict[str, str] = {}
        self._cte_persisted: list[DataFrame] = []
        # per-table DML re-registration depth (lineage-truncation cadence)
        self._dml_depth: dict[str, int] = {}
        # statement-size-adaptive parallelism state: current mode and the
        # session's captured big-mode conf values (lazily read once)
        self._parallelism_mode = "big"
        self._big_stmt_confs: Optional[dict[str, str]] = None
        self._threads_overridden = False
        # CREATE MACRO name -> (positional params, body expression text)
        self._macros: dict[str, tuple[list[str], str]] = {}
        # CREATE MACRO name(...) AS TABLE <query> -> (params, body query)
        self._table_macros: dict[str, tuple[list[str], str]] = {}
        # name -> {param: default expr text} for `p := default` params
        # (DuckDB: positional params are positional-only, defaulted
        # params are NAMED-only — one namespace across both macro kinds)
        self._macro_defaults: dict[str, dict[str, str]] = {}
        self._macro_epoch: int = 0
        # statement-plan cache: (sql, catalog_epoch, settings, macro_epoch)
        # -> analyzed DataFrame. The Spark analogue of DuckDB's ~1ms
        # planner: repeated identical SELECT text skips tokenize/rewrite/
        # analysis (~100ms of fixed local[*] latency) and re-EXECUTES the
        # same immutable plan. Only pure plans are cached — statements
        # that materialize data at build (repeated-CTE persist/localize,
        # percent-LIMIT count) or contain plan-frozen nondeterminism
        # (rand/sample/uuid/sequences) always rebuild.
        self._plan_cache: "OrderedDict" = OrderedDict()
        # incremented whenever a statement references a FROM-position name
        # outside this session's catalog (raw SparkSession temp views can
        # mutate without an epoch bump — such statements are never cached)
        self._unmanaged_ref_count: int = 0
        # CREATE TYPE name AS ENUM(...) -> allowed values (lowercase keys)
        self._enum_types: dict[str, list[str]] = {}
        # CREATE TYPE name AS <any other type> -> definition text
        # (round-12: DuckDB type aliases; expanded at coldef/cast sites,
        # like DuckDB's own DESCRIBE rendering)
        self._alias_types: dict[str, str] = {}
        # table -> column -> allowed enum values (INSERT-time enforcement)
        self._enum_cols: dict[str, dict[str, list[str]]] = {}
        # table -> column -> declared type text (ENUM rendering in
        # DESCRIBE / table_info, which Spark's StringType cannot carry)
        self._type_overrides: dict[str, dict[str, str]] = {}
        # CREATE SEQUENCE name -> mutable counter state (DuckDB sequences
        # are serial objects; state lives on the connection, like DuckDB's
        # catalog entry)
        self._sequences: dict[str, dict] = {}
        self._seq_result: Optional[DataFrame] = None
        self._seq_pending: Optional[str] = None
        # PREPARE name AS <sql> -> statement text (EXECUTE binds args)
        self._prepared: dict[str, str] = {}
        # CREATE INDEX name -> table (accepted, catalogued, physical no-op)
        self._indexes: dict[str, str] = {}
        # table -> column -> DEFAULT expression text (DuckDB dialect)
        self._defaults: dict[str, dict[str, str]] = {}
        # table -> NOT NULL column set / CHECK expression texts
        self._notnull_cols: dict[str, set] = {}
        # table -> declared PRIMARY KEY column list (DESCRIBE 'PRI' /
        # table_info pk; _unique_keys[0] alone can't distinguish a PK
        # from a UNIQUE-only table)
        self._primary_keys: dict[str, list] = {}
        self._checks: dict[str, list] = {}
        # table -> [(local_cols, parent_table, parent_cols)] FOREIGN KEYs
        self._foreign_keys: dict[str, list] = {}
        # LIVE views: name -> DuckDB-dialect body SQL, re-planned whenever
        # the catalog changes so base-table DML is visible (DuckDB views
        # are definitions, not snapshots)
        self._view_defs: dict[str, str] = {}
        self._view_fresh: dict[str, int] = {}
        self._catalog_epoch: int = 0
        self._view_refreshing: set = set()
        # CREATE TEMP TABLE names: never written to the durable warehouse
        self._temp_tables: set[str] = set()
        # COMMENT ON: ("table"|"column", key[, col]) -> comment text
        self._comments: dict[tuple, str] = {}
        # table -> PRIMARY KEY / UNIQUE column lists (conflict targets for
        # INSERT OR REPLACE / ON CONFLICT); first entry is the primary key
        self._unique_keys: dict[str, list[list[str]]] = {}
        # open-transaction snapshot: None when autocommitting, else the
        # catalog + metadata state captured at BEGIN (restored on ROLLBACK)
        self._txn_snapshot: Optional[dict] = None
        self._txn_aborted = False
        # attached-db alias -> parquet spool dirs backing its DataFrames;
        # released on DETACH/close, with a process-exit fallback so
        # abandoned sessions don't leak disk for the process lifetime
        self._attach_spools: dict[str, list[str]] = {}
        import atexit
        import weakref

        atexit.register(_cleanup_spools_weak, weakref.ref(self))
        # durable managed tables: connect(database='/path/dir') mirrors
        # duckdb.connect('file.duckdb') — tables persist across sessions
        # via a copy-on-write parquet warehouse (sources/warehouse.py)
        self._warehouse = None
        if database and database != ":memory:":
            from .sources.warehouse import DurableWarehouse

            self._warehouse = DurableWarehouse(database, fmt=table_format)
            db_name = os.path.splitext(os.path.basename(database.rstrip("/")))[0]
            if db_name:
                self._databases.add(db_name)
            for tname, ent in self._warehouse.tables().items():
                self.register(tname, self._warehouse.load_df(self.spark, tname))
                meta = ent.get("meta") or {}
                if meta.get("enum_cols"):
                    self._enum_cols[tname] = meta["enum_cols"]
                if meta.get("type_overrides"):
                    self._type_overrides[tname] = meta["type_overrides"]
                if meta.get("fixed_arrays"):
                    self._fixed_arrays[tname] = meta["fixed_arrays"]
                if meta.get("defaults"):
                    self._defaults[tname] = meta["defaults"]
                if meta.get("notnull"):
                    self._notnull_cols[tname] = set(meta["notnull"])
                if meta.get("checks"):
                    self._checks[tname] = meta["checks"]
                if meta.get("unique_keys"):
                    self._unique_keys[tname] = meta["unique_keys"]
                if meta.get("foreign_keys"):
                    self._foreign_keys[tname] = [
                        (list(a), b, list(c))
                        for a, b, c in meta["foreign_keys"]
                    ]
            for vname, body in self._warehouse.views().items():
                try:
                    self.register(vname, self._query(body))
                    self._view_defs[vname] = body
                    self._view_fresh[vname] = self._catalog_epoch
                except Exception:
                    pass  # base table gone: view dangles, like DuckDB

    # ------------------------------------------------------------------ API

    def execute(
        self, sql: str, parameters: Optional[object] = None
    ) -> Optional[DataFrame]:
        """Execute one or more ``;``-separated statements; returns the last
        statement's result DataFrame (or None for pure session statements).

        ``parameters`` binds DuckDB-style prepared-statement placeholders —
        ``?`` positional (list/tuple), ``$1`` numbered (list/tuple), or
        ``$name`` named (dict) — exactly the ``con.execute(sql, params)``
        signature of duckdb.Connection. Binding is literal splicing through
        the dialect tokenizer (frontend/params.py), so placeholders inside
        strings/comments are never touched.

        The returned DataFrame additionally answers DuckDB's cursor-style
        chain — ``con.execute(sql).fetchdf()`` / ``.fetchall()`` /
        ``.fetchone()`` / ``.df()`` (the exact shape the reference's
        harness uses, examples/utils.py:16-22) — while remaining a plain
        Spark DataFrame for everything else."""
        if parameters is not None:
            from .frontend.params import bind_parameters

            sql = bind_parameters(sql, parameters)
        result = None
        for stmt in self._split_statements(sql):
            out = self._execute_one(stmt)
            if out is not None:
                result = out
        if result is not None:
            _attach_cursor_api(result)
        return result

    # duckdb.Connection API split: execute() is the cursor style (used by
    # the reference harness), sql()/query()/from_query() return a lazy
    # DuckDBPyRelation-compatible relation (relation.py) with chainable
    # project/filter/aggregate/order/join and terminal df()/fetchall()
    def sql(self, sql: str, parameters: Optional[object] = None):
        from .relation import DuckRelation

        df = self.execute(sql, parameters)
        return DuckRelation(self, df) if df is not None else None

    query = sql
    from_query = sql

    def executemany(
        self, sql: str, parameter_sets: "list[object]"
    ) -> Optional[DataFrame]:
        """duckdb.Connection.executemany: run ``sql`` once per parameter
        set. Returns the last statement's result (DuckDB keeps only the
        final cursor state too)."""
        result = None
        for params in parameter_sets:
            result = self.execute(sql, params)
        return result

    def fetchdf(self, sql: Optional[str] = None):
        df = self.execute(sql) if sql is not None else self._last
        return df.toPandas() if df is not None else None

    def fetchall(self, sql: Optional[str] = None) -> list[tuple]:
        df = self.execute(sql) if sql is not None else self._last
        return [tuple(r) for r in df.collect()] if df is not None else []

    def fetchone(self, sql: Optional[str] = None) -> Optional[tuple]:
        df = self.execute(sql) if sql is not None else self._last
        if df is None:
            return None
        rows = df.limit(1).collect()
        return tuple(rows[0]) if rows else None

    def table(self, name: str) -> DataFrame:
        key = self._resolve_table_key(name)
        if key is None:
            raise KeyError(f"Catalog Error: Table with name {name} does not exist!")
        return self._tables[key]

    def table_at(self, name: str, commit: int) -> DataFrame:
        """Time-travel read of a durable table as of warehouse commit
        ``commit`` (see ``warehouse_commits()`` for the available
        numbers). The copy-on-write commit log keeps each commit's
        version dirs immutable, so this is a plain parquet read of the
        historical snapshot — readable as far back as GC retention."""
        if self._warehouse is None:
            raise RuntimeError(
                "time travel requires a durable warehouse "
                "(connect(database=...))"
            )
        return self._warehouse.load_df_at(self.spark, name, commit)

    def warehouse_commits(self) -> list[int]:
        """Commit numbers available for time travel (durable warehouses)."""
        if self._warehouse is None:
            return []
        return self._warehouse.commits()

    def schema_text(self, lowercase_types: bool = True) -> str:
        """CREATE TABLE DDL text for every catalog table — the schema
        string the reference feeds its prompt builder (``get_schema``,
        examples/utils.py:13-31: one ``CREATE TABLE name (\\n    col
        TYPE,\\n    ...\\n);`` block per table, blocks joined by a blank
        line; ``generate_prompt``, utils.py:36-50, then lowercases the
        types). ``lowercase_types=True`` (default) returns the
        prompt-ready lowercased form; ``False`` returns get_schema's raw
        uppercase rendering. Types render through the same helper
        DESCRIBE uses, so declared ENUM/fixed-array/UNION text is kept.
        """
        parts = []
        for name, df in self._tables.items():
            fixed = self._fixed_arrays.get(name)
            overrides = self._type_overrides.get(name)
            cols = []
            for f in df.schema.fields:
                ty = introspect._type_name(f, fixed, overrides)
                if lowercase_types:
                    ty = ty.lower()
                cols.append(f"{f.name} {ty}")
            body = ",\n    ".join(cols)
            parts.append(f"CREATE TABLE {name} (\n    {body}\n);")
        return "\n\n".join(parts)

    def register(self, name: str, df: DataFrame) -> None:
        """Register a DataFrame as a table (also as a Spark temp view)."""
        self._tables[name] = df
        self._table_files.pop(name, None)
        df.createOrReplaceTempView(self._view_name(name))
        self._kind_cache = None
        self._infoschema_dirty = True
        self._catalog_epoch += 1

    def _refresh_view(self, name: str) -> None:
        """Re-plan a live view whose definition predates the latest
        catalog change (base-table DML re-registers the base plan; the
        view must follow). No-op for non-views and current views."""
        vn = name if name in self._view_defs else name.lower()
        body = self._view_defs.get(vn)
        if body is None or vn in self._view_refreshing:
            return
        if self._view_fresh.get(vn) == self._catalog_epoch:
            return
        self._view_refreshing.add(vn)
        try:
            df = self._query(body)
            self.register(vn, df)
            self._view_fresh[vn] = self._catalog_epoch
        finally:
            self._view_refreshing.discard(vn)

    def name_primary_database(self, name: str) -> None:
        """Give the primary catalog a database name, mirroring DuckDB where
        ``connect('nyc.duckdb')`` names the catalog ``nyc`` — then both
        ``taxi`` and ``nyc.taxi`` resolve, and SHOW DATABASES lists it."""
        self._databases.add(name)
        self._primary_db_name = name

    def register_parquet_dir(self, sf_dir: str) -> None:
        """Register every ``<dir>/<table>.parquet`` as a base table."""
        import glob

        for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.splitext(os.path.basename(f))[0]
            scan = io_utils.parallel_scan_path(f)
            df = io_utils.read_parquet_table(self.spark, scan)
            df = self._maybe_localize_base_table(f, df)
            self.register(name, df)
            # original single file: SUMMARIZE's footer fast path keys off it
            self._table_files[name] = f

    def _maybe_localize_base_table(
        self, path: str, df: DataFrame
    ) -> DataFrame:
        """Tiny-dimension localization (see LOCAL_RELATION_MAX_ROWS).

        Gate on the parquet footer's row count (a driver-side metadata
        read, no job) so large tables never pay a probe; values are
        collected through Spark's OWN parquet read and rebuilt in the JVM
        (_local_relation), so the LocalRelation is bit-identical to what
        the scan would produce for every column type — no Python-side
        re-interpretation of parquet types.

        SNAPSHOT SEMANTICS (round-12 advice note): unlike the lazy scan
        it replaces, the LocalRelation is collected ONCE at
        registration — later external changes to the backing parquet
        file are not seen until the table is re-registered (calling
        register_parquet_dir again re-collects). That is correct for
        the immutable bench/test data this engine reads; in-session
        DML never goes through this path (INSERT/UPDATE/ALTER replace
        the registered DataFrame itself, so mutations stay visible)."""
        try:
            import pyarrow.parquet as pq

            nrows = pq.ParquetFile(path).metadata.num_rows
        except Exception:  # noqa: BLE001 — unreadable footer: keep the scan
            return df
        if nrows > LOCAL_RELATION_MAX_ROWS:
            return df
        local = _local_relation(self.spark, df, _capped_rows(self.spark, df))
        return df if local is None else local.coalesce(1)

    def close(self) -> None:
        # session lifetime is owned by the caller; release what WE own:
        # the parquet spool dirs backing ATTACHed duckdb databases
        for db in list(self._attach_spools):
            self._drop_attach_spools(db)

    def _drop_attach_spools(self, db: str) -> None:
        import shutil

        for d in self._attach_spools.pop(db, []):
            shutil.rmtree(d, ignore_errors=True)

    # --------------------------------------------------------------- routing

    def _split_statements(self, sql: str) -> list[str]:
        tokens = tokenize(sql)
        stmts: list[str] = []
        depth = 0
        start = 0
        for i, t in enumerate(tokens):
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif t.kind == PUNCT and t.text == ";" and depth == 0:
                frag = render(tokens[start:i]).strip()
                if frag:
                    stmts.append(frag)
                start = i + 1
        frag = render(tokens[start:]).strip()
        if frag:
            stmts.append(frag)
        return stmts

    def _execute_one(self, sql: str) -> Optional[DataFrame]:
        if re.search(r"\b(?:nextval|currval)\s*\(", sql, re.IGNORECASE):
            expanded = self._expand_sequence_calls(sql)
            if expanded is None:  # FROM-driven nextval: already executed
                out, self._seq_result = self._seq_result, None
                self._last = out
                return out
            sql = expanded
        tokens = tokenize(sql)
        i = next_sig(tokens, -1)
        if i >= len(tokens):
            return None
        kw = tokens[i].upper if tokens[i].kind == IDENT else ""
        if kw == "TABLE":
            # DuckDB `TABLE name` = SELECT * FROM name (round-12 probe
            # find: the bare form bypassed the FROM-reference
            # substitution, so registered tables went unresolved)
            sql = re.sub(r"(?is)^\s*TABLE\b", "SELECT * FROM", sql, count=1)
            tokens = tokenize(sql)
            i = next_sig(tokens, -1)
            kw = "SELECT"
        handler = {
            "SELECT": self._query,
            "WITH": self._query,
            "VALUES": self._query,
            "FROM": self._query,
            "TABLE": self._query,
            "EXPLAIN": self._explain,
            "CREATE": self._create,
            "INSERT": self._insert,
            "UPDATE": self._update,
            "DELETE": self._delete,
            "ALTER": self._alter,
            "DROP": self._drop,
            "COPY": self._copy,
            "ATTACH": self._attach,
            "DETACH": self._detach,
            "USE": self._use,
            "PRAGMA": self._pragma,
            "CALL": self._call,
            "SET": self._set,
            "RESET": self._reset,
            "COMMENT": self._comment,
            "PIVOT": self._pivot,
            "UNPIVOT": self._unpivot,
            "SUMMARIZE": self._summarize,
            "DESCRIBE": self._describe,
            "DESC": self._describe,
            "SHOW": self._show,
            "BEGIN": self._begin,
            "START": self._begin,  # START TRANSACTION
            "COMMIT": self._commit,
            "END": self._commit,
            "ROLLBACK": self._rollback,
            "ABORT": self._rollback,
            "TRUNCATE": self._truncate,
            "PREPARE": self._prepare,
            "EXECUTE": self._execute_prepared,
            "DEALLOCATE": self._deallocate,
            "MERGE": self._merge,
            "EXPORT": self._export_database,
            "IMPORT": self._import_database,
            # CHECKPOINT compacts: streaming appends accumulate immutable
            # segment dirs per table; CHECKPOINT collapses each segmented
            # table back to ONE version dir (DuckDB's WAL->storage merge
            # analogue). Writes are already durably committed either way,
            # so VACUUM/ANALYZE stay well-defined no-ops, as in DuckDB
            # for an in-memory database.
            "CHECKPOINT": self._checkpoint,
            "FORCE": self._checkpoint,  # FORCE CHECKPOINT
            "VACUUM": lambda s: None,
            "ANALYZE": lambda s: None,
        }.get(kw)
        if handler is None:
            # fall through to the query path (e.g. parenthesized query)
            handler = self._query
        if self._txn_aborted and kw not in ("ROLLBACK", "ABORT", "COMMIT", "END"):
            # DuckDB: a runtime failure inside an explicit transaction
            # aborts it — every later statement errors until ROLLBACK
            # (or COMMIT, which ends the transaction committing nothing)
            raise RuntimeError(
                "TransactionContext Error: Current transaction is aborted "
                "(please ROLLBACK)"
            )
        # release the previous statement's materialized CTEs (their views
        # stay resolvable; an unpersisted view just recomputes on reuse)
        for df in self._cte_persisted:
            try:
                df.unpersist(blocking=False)
            except Exception:  # noqa: BLE001
                pass
        self._cte_persisted.clear()
        try:
            out = handler(sql)
        except Exception as ex:
            # runtime/constraint failures abort the transaction (binder,
            # parser and catalog errors do NOT — probed live on duckdb:
            # SELECT nosuchcol inside a txn leaves it usable)
            if self._txn_snapshot is not None and "Constraint Error" in str(ex):
                self._txn_aborted = True
            raise
        if self._seq_pending is not None:
            nm, self._seq_pending = self._seq_pending, None
            rows = out.collect() if out is not None else []
            self._seq_advance_by(nm, rows[0][0] if rows else 0)
        self._last = out
        return out

    # ---------------------------------------------------------------- query

    _PLAN_CACHE_MAX = 256
    # never cache: plan-frozen randomness (Spark seeds rand()/TABLESAMPLE/
    # uuid() at analysis), sequence state, filesystem-reading table
    # functions (glob/read_*/parquet_* see files written after caching),
    # and driver-built introspection relations (content baked at build;
    # cheap to rebuild, hard to invalidate exhaustively)
    # Time functions must also never be cached: Spark's ComputeCurrentTime
    # rule folds now()/current_date etc. to literals in the optimized plan,
    # which is memoized per DataFrame — a cached SELECT now() would return
    # the first execution's frozen timestamp forever, where DuckDB
    # re-evaluates per statement. Matched AFTER macro expansion, so the
    # TODAY()/TRANSACTION_TIMESTAMP() spellings (which expand to
    # current_date()/current_timestamp()) are covered by these names.
    _NONDET_RE = re.compile(
        r"\b(rand|random|sample|tablesample|uuid|gen_random_uuid|nextval"
        r"|currval|setseed|shuffle|glob|read_\w+|parquet_schema"
        r"|parquet_metadata|duckdb_\w+|pragma_\w+|information_schema"
        r"|summarize|describe"
        r"|now|current_timestamp|current_date|current_time|current_localtime"
        r"|current_localtimestamp|localtimestamp|today|transaction_timestamp"
        r"|get_current_timestamp|get_current_time)\b",
        re.IGNORECASE,
    )

    def _statement_file_bytes(self, sql: str) -> Optional[int]:
        """Total on-disk bytes of the statement's referenced file-backed
        tables; None when any referenced relation's size is unknown (an
        in-memory table, a view, an attached-db table) — unknown always
        resolves to the conservative big mode."""
        names = set(re.findall(r"[a-z_][a-z0-9_$]*", sql.lower()))
        # a macro body expands AFTER this sizing pass, so tables it
        # references are invisible to the identifier scan — any macro
        # call means the true input size is unknown (big mode), same as
        # the view/in-memory bailouts below
        for name in (*self._macros, *self._table_macros):
            if name.lower() in names:
                return None
        total = 0
        seen = False
        for name, path in self._table_files.items():
            if name.lower() in names:
                try:
                    total += os.path.getsize(path)
                except OSError:
                    return None
                seen = True
        for name in self._tables:
            if name not in self._table_files and name.lower() in names:
                return None
        for name in self._view_defs:
            if name.lower() in names:
                return None
        return total if seen else None

    def _tune_statement_parallelism(self, sql: str) -> None:
        """Size the session's parallelism confs to THIS statement's input
        (see _SMALL_STMT_CONFS). Explicit ``SET threads`` wins; redundant
        transitions are skipped so back-to-back same-mode statements pay
        zero py4j round-trips."""
        if self._threads_overridden:
            return  # explicit SET threads wins over auto-sizing
        n = self._statement_file_bytes(sql)
        mode = (
            "small"
            if n is not None and n <= SMALL_STMT_MAX_FILE_BYTES
            else "big"
        )
        if mode == self._parallelism_mode:
            return
        conf = self.spark.conf
        if self._big_stmt_confs is None:
            caught = {}
            for k in _SMALL_STMT_CONFS:
                try:
                    caught[k] = conf.get(k)
                except Exception:  # noqa: BLE001 — unreadable conf
                    pass
            self._big_stmt_confs = caught
        src = _SMALL_STMT_CONFS if mode == "small" else self._big_stmt_confs
        for k, v in src.items():
            try:
                conf.set(k, v)
            except Exception:  # noqa: BLE001 — non-settable on this build
                pass
        self._parallelism_mode = mode

    def _query(self, sql: str) -> DataFrame:
        """Statement-plan cache wrapper around :meth:`_query_impl`.

        Spark's analysis pass costs ~60-100ms of py4j/Catalyst latency per
        statement on local[*] where DuckDB plans in ~1ms; caching the
        analyzed DataFrame for byte-identical statement text (invalidated
        by any catalog change, setting, or macro definition) removes that
        fixed tax from repeated statements while every execution still
        runs the full distributed plan against live table state. Plans
        with build-time data (repeated-CTE materialization, percent
        LIMIT) or plan-frozen randomness (Spark seeds rand()/TABLESAMPLE/
        uuid() at analysis time; sequences advance per occurrence) are
        never cached."""
        self._tune_statement_parallelism(sql)
        key = None
        if self._NONDET_RE.search(sql) is None:
            key = (
                sql,
                self._catalog_epoch,
                frozenset(self.settings.items()),
                self._macro_epoch,
                # module-level planner tunables (tests/users may tweak)
                SMALL_SORT_MAX_INPUT_BYTES,
                CTE_MATERIALIZE_MIN_INPUT_BYTES,
                # active materialized-CTE overrides: byte-identical text
                # resolves DIFFERENTLY under different override bindings
                # (e.g. two statements whose main query is the same
                # "SELECT g FROM b ..." over different CTE bodies) —
                # fresh per-materialization view names make such keys
                # unique, so override-dependent plans never falsely hit
                tuple(sorted(self._cte_overrides.items())),
            )
            hit = self._plan_cache.get(key)
            if hit is not None:
                self._plan_cache.move_to_end(key)
                return hit
        refs_before = self._unmanaged_ref_count
        df, cacheable = self._query_impl(sql)
        if (
            key is not None
            and cacheable
            and self._unmanaged_ref_count == refs_before
        ):
            self._plan_cache[key] = df
            if len(self._plan_cache) > self._PLAN_CACHE_MAX:
                self._plan_cache.popitem(last=False)
        return df

    def clear_statement_cache(self) -> None:
        """Drop all cached statement plans.

        IMPORTANT SEMANTICS NOTE: a statement-cache hit returns the SAME
        Dataset object, and AQE memoizes materialized query stages per
        Dataset — so re-executing a cache-hit statement reuses its
        already-materialized shuffle map outputs (like a warmed buffer
        cache) and re-runs only the stages after them. Results are
        always correct (any catalog/setting/macro change invalidates the
        key), and the reuse is a feature interactively — but it is NOT
        the full-re-execution protocol DuckDB follows for repeated
        statements. Benchmarks must call this between timed iterations
        so every run pays the whole plan (bench.py does)."""
        self._plan_cache.clear()

    # hard ceiling on fixpoint rounds — a non-converging recursion dies
    # loudly, like DuckDB's own max_recursive_cte_depth style guards
    RECURSIVE_UNION_MAX_ITERS = 1000

    def _recursive_union_cte(self, sql: str) -> Optional[DataFrame]:
        """``WITH RECURSIVE name AS (<base> UNION <step>) <final>`` with
        DEDUPLICATING semantics (round-12: Spark's native UnionLoop only
        supports UNION ALL). Standard fixpoint evaluation: the working
        table is the PREVIOUS iteration's NEW rows; each step's output
        subtracts everything seen so far (set-minus, null-safe); stop
        when no new rows. Each iteration is one distributed job over the
        frontier — the shape every distributed transitive-closure /
        graph-reachability computation takes; the driver only
        orchestrates. UNION ALL recursion stays on Spark's native
        UnionLoop (this returns None for it)."""
        if not re.match(r"(?is)^\s*WITH\s+RECURSIVE\b", sql):
            return None
        tokens = tokenize(sql)
        sig = [k for k, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        # WITH RECURSIVE name [(cols)] AS ( body ) final
        p = 2  # past WITH RECURSIVE
        if len(sig) <= p or tokens[sig[p]].kind not in (IDENT, QIDENT):
            return None
        name = tokens[sig[p]].text.strip('"`')
        p += 1
        cols: Optional[list[str]] = None
        if (
            len(sig) > p
            and tokens[sig[p]].kind == PUNCT
            and tokens[sig[p]].text == "("
        ):
            c = match_forward(tokens, sig[p], "(", ")")
            cols = [
                t.text.strip('"`')
                for t in tokens[sig[p] + 1 : c]
                if t.kind in (IDENT, QIDENT)
            ]
            while p < len(sig) and sig[p] <= c:
                p += 1
        if len(sig) <= p or not tokens[sig[p]].is_kw("AS"):
            return None
        p += 1
        if (
            len(sig) <= p
            or tokens[sig[p]].kind != PUNCT
            or tokens[sig[p]].text != "("
        ):
            return None
        bo = sig[p]
        bc = match_forward(tokens, bo, "(", ")")
        body = tokens[bo + 1 : bc]
        final_toks = tokens[bc + 1 :]
        final_sql = render(final_toks).strip()
        # trailing CTEs after the recursive one: they see the fixpoint
        # as a bound table, so re-head them with their own WITH (a later
        # UNION-recursive CTE falls to Spark's loud native error)
        if final_sql.startswith(","):
            final_sql = "WITH RECURSIVE " + final_sql[1:].lstrip()
        # find the top-level UNION (not ALL/BY NAME) whose RIGHT side
        # references the cte name — the base/step split
        depth = 0
        split = None
        for k, t in enumerate(body):
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper == "UNION":
                n2 = next_sig(body, k)
                if (
                    n2 < len(body)
                    and body[n2].kind == IDENT
                    and body[n2].upper in ("ALL", "BY")
                ):
                    continue
                right = body[k + 1 :]
                if any(
                    tk.kind in (IDENT, QIDENT)
                    and tk.text.strip('"`').lower() == name.lower()
                    for tk in right
                ):
                    split = k
                    break
        if split is None:
            return None  # UNION ALL (or non-self-referencing): native
        base_sql = render(body[:split]).strip()
        step_sql = render(body[split + 1 :]).strip()

        key = name.lower()
        had = key in self._tables
        saved = self._tables.get(key)
        saved_files = self._table_files.get(key)

        def bind(df: DataFrame) -> None:
            # full registration (temp view + catalog epoch): spark.sql
            # resolves the name through the view at analysis time, and
            # the epoch bump keeps the statement-plan cache from
            # replaying iteration 1's analyzed step plan every round
            self.register(key, df)

        try:
            # localCheckpoint per iteration: acc/new reference each
            # other (union + set-minus), so without lineage truncation
            # the logical plan DOUBLES every round — Catalyst analysis
            # goes exponential by ~iteration 15. Eager checkpoint keeps
            # each plan a flat scan of materialized partitions (the
            # standard Spark iterative-algorithm pattern; on a real
            # cluster swap for checkpoint() on reliable storage).
            acc = self._query(base_sql).distinct()
            if cols:
                acc = acc.toDF(*cols)
            acc = acc.localCheckpoint()
            frontier = acc
            for _ in range(self.RECURSIVE_UNION_MAX_ITERS):
                bind(frontier)
                new = self._query(step_sql)
                if cols:
                    new = new.toDF(*cols)
                else:
                    new = new.toDF(*acc.columns)
                new = new.distinct().subtract(acc).localCheckpoint()
                if not new.take(1):
                    break
                acc = acc.unionByName(new).localCheckpoint()
                frontier = new
            else:
                raise RuntimeError(
                    "recursive CTE did not converge within "
                    f"{self.RECURSIVE_UNION_MAX_ITERS} iterations"
                )
            bind(acc)
            out = self._query(final_sql)
            # a tiny result collapses to a LocalRelation the way a
            # materialized CTE does, so the checkpoint blocks can be
            # GC-reclaimed (ContextCleaner) immediately; a larger one
            # keeps its lazy plan
            local = self._try_localize_cte(out, _plan_input_bytes(out))
            return out if local is None else local
        finally:
            if had:
                self.register(key, saved)
                if saved_files is not None:
                    self._table_files[key] = saved_files
            else:
                self._tables.pop(key, None)
                self.spark.catalog.dropTempView(self._view_name(key))
                self._kind_cache = None
                self._infoschema_dirty = True
                self._catalog_epoch += 1

    def _query_impl(self, sql: str) -> tuple[DataFrame, bool]:
        if re.search(
            r"\bcurrent_(?:database|catalog)\s*\(\s*\)", sql, re.IGNORECASE
        ):
            # DuckDB: the primary catalog's name ('memory' for in-memory
            # sessions, the file's base name for connect('x.duckdb'))
            sql = re.sub(
                r"\bcurrent_(?:database|catalog)\s*\(\s*\)",
                "'" + self._primary_db_name.replace("'", "''") + "'",
                sql,
                flags=re.IGNORECASE,
            )
        if re.search(r"\bcurrent_query\s*\(\s*\)", sql, re.IGNORECASE):
            # DuckDB current_query() = the ORIGINAL statement text
            # (self-referencing, quotes included) — substitute before any
            # rewrite touches the text
            lit = "'" + sql.replace("'", "''") + "'"
            sql = re.sub(
                r"\bcurrent_query\s*\(\s*\)", lit.replace("\\", "\\\\"), sql,
                flags=re.IGNORECASE,
            )
        sql = self._expand_macros(sql)
        rec = self._recursive_union_cte(sql)
        if rec is not None:
            return rec, False  # fixpoint loop is build-time data
        # DuckDB percentage limit: LIMIT p% keeps floor(p/100 * n) rows
        # of the (ordered) result — needs the total, so one count job;
        # the sorted limit(k) is then Spark's top-k
        pm = re.match(
            r"^(.*?)\bLIMIT\s+(\d+(?:\.\d+)?)\s*%\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if pm:
            base = self._query(pm.group(1))
            k = int(base.count() * float(pm.group(2)) / 100.0)
            return base.limit(k), False  # count is build-time data
        if re.search(r"\bLIMIT\s+\d+(?:\.\d+)?\s*(?:%|PERCENT\b)", sql, re.IGNORECASE):
            expanded, changed = self._expand_percent_limits(sql)
            if changed:
                df, _ = self._query_impl(expanded)
                return df, False  # embedded count is build-time data
        piv = self._inline_pivot_subqueries(sql)
        if piv != sql:
            # pivot-value discovery ran at plan time (build-time data,
            # like DuckDB's dynamic PIVOT bind pass) — never cache
            df, _ = self._query_impl(piv)
            return df, False
        asof = self._asof_rewrite(sql)
        if asof is not None:
            sql = asof
        pos = self._positional_rewrite(sql)
        if pos is not None:
            sql = pos
        grf = self._groups_frame_fix(sql)
        if grf is not None:
            sql = grf
        gfix = self._grouping_empty_fix(sql)
        if gfix is not None:
            sql = gfix
        mat = self._materialize_repeated_ctes(sql)
        if mat is not None:
            return mat, False  # persisted/localized CTE is build-time data
        ubn = self._union_by_name(sql)
        if ubn is not None:
            return ubn, True
        wrapped = self._where_alias_wrap(sql)
        if wrapped is not None:
            sql = wrapped
        text = self._rewrite_query(sql)
        df = self._single_partition_sort(self.spark.sql(text), text)
        return self._coerce_day_intervals(df), True

    def _single_partition_sort(self, df: DataFrame, text: str) -> DataFrame:
        """``df`` with its trailing global ORDER BY sorted in one
        partition when the statement's input is at most
        SMALL_SORT_MAX_INPUT_BYTES.

        The step walks the analyzed plan from the root through Project
        and WithCTE's main plan to a global Sort, and puts a non-shuffling
        Repartition(1) under it. The sort keys stay Catalyst's own, so
        every key Spark resolves (ORDER BY ALL, ordinals, aliases,
        qualified or unselected columns) sorts exactly as on the native
        path. A plan of any other shape (a LIMIT or OFFSET over the Sort,
        no ORDER BY) or a bigger input returns ``df`` unchanged."""
        plan = df._jdf.queryExecution().analyzed()
        path = []
        node = plan
        while node.getClass().getSimpleName() in ("Project", "WithCTE"):
            path.append(node)
            node = node.children().last()  # WithCTE: defs :+ main plan
        if not (
            node.getClass().getSimpleName() == "Sort"
            and getattr(node, "global")()
        ):
            return df
        size = self._statement_file_bytes(text)
        if size is not None:
            # parquet compresses ~4x: gating on raw file bytes let a
            # 1.9M-row sf1 aggregate through, whose final stage the
            # narrow coalesce then ran as one task (2x slower on q3)
            size *= 4
        else:
            leaves = plan.collectLeaves()
            size = sum(
                int(leaf.stats().sizeInBytes())
                for leaf in map(leaves.apply, range(leaves.size()))
                # a CTE reference's input is counted at its definition
                if leaf.getClass().getSimpleName() != "CTERelationRef"
            )
        if size > SMALL_SORT_MAX_INPUT_BYTES:
            return df
        jvm = self.spark._jvm
        logical = jvm.org.apache.spark.sql.catalyst.plans.logical
        # the same keys sorted within the one partition are the total
        # order; a global Sort would only add its OrderedDistribution
        # requirement, which alone makes Spark wrap the plan in AQE
        new = logical.Sort(
            node.order(), False,
            logical.Repartition(1, False, node.child()), node.hint(),
        )
        for parent in reversed(path):
            kids = parent.children()
            new = parent.withNewChildren(jvm.PythonUtils.toSeq(
                [kids.apply(i) for i in range(kids.size() - 1)] + [new]
            ))
        return DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                self.spark._jsparkSession, new
            ),
            self.spark,
        )

    @staticmethod
    def _coerce_day_intervals(df: DataFrame) -> DataFrame:
        """DuckDB ``DATE - DATE`` is a BIGINT day count; Spark produces
        ``INTERVAL DAY``. A day-to-day interval column arises exactly from
        date subtraction, so cast those result columns to their day count.
        (Sub-day intervals — timestamp arithmetic — stay intervals, as in
        DuckDB.) Schema-only inspection: no job is triggered."""
        try:
            from pyspark.sql.types import DayTimeIntervalType
        except ImportError:  # pragma: no cover
            return df
        hits = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, DayTimeIntervalType)
            and f.dataType.startField == DayTimeIntervalType.DAY
            and f.dataType.endField == DayTimeIntervalType.DAY
        ]
        for name in hits:
            df = df.withColumn(name, df[name].cast("bigint"))
        # year-month interval RESULTS: pyspark cannot even convert them to
        # Python (YearMonthIntervalType.fromInternal raises). Convert to a
        # day-time interval using DuckDB's own Python rendering (months x
        # 30 days) — result-boundary only, query-internal month arithmetic
        # is unaffected.
        try:
            from pyspark.sql.types import YearMonthIntervalType
        except ImportError:  # pragma: no cover
            return df
        ym = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, YearMonthIntervalType)
        ]
        for name in ym:
            df = df.withColumn(
                name,
                F.expr(
                    f"make_dt_interval(CAST(`{name}` AS INT) * 30, 0, 0, 0)"
                ),
            )
        return df

    def _where_alias_wrap(self, sql: str) -> Optional[str]:
        """DuckDB lets WHERE reference a SELECT-list alias (``SELECT *,
        regexp_extract(..) email FROM hn WHERE email[:4]='test'``,
        dev.json:292/:4); Spark resolves lateral aliases in the select list
        only. When a simple top-level SELECT's WHERE references an alias
        that is not a column of any registered table, hoist the filter over
        a subquery. Catalyst pushes the predicate back down beneath the
        projection where legal, so the plan is unchanged at scale."""
        tokens = tokenize(sql)
        i = next_sig(tokens, -1)
        if i >= len(tokens) or not tokens[i].is_kw("SELECT"):
            return None
        # top-level clause boundaries (bail on shapes where alias-in-WHERE
        # can't occur or grouping changes the semantics)
        bounds: dict[str, int] = {}
        j = i
        while j < len(tokens):
            t = tokens[j]
            if t.kind == PUNCT and t.text == "(":
                j = match_forward(tokens, j, "(", ")") + 1
                continue
            if t.kind == IDENT and t.upper in (
                "FROM", "WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW",
                "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
            ):
                if t.upper in ("GROUP", "HAVING", "QUALIFY", "WINDOW",
                               "UNION", "INTERSECT", "EXCEPT"):
                    return None
                bounds.setdefault(t.upper, j)
            j += 1
        if "FROM" not in bounds or "WHERE" not in bounds:
            return None
        if bounds["WHERE"] < bounds["FROM"]:
            return None
        # aliases defined in the select list
        sel_items = split_args(tokens, i + 1, bounds["FROM"])
        aliases: set[str] = set()
        for lo, hi in sel_items:
            sig = [k for k in range(lo, hi)
                   if tokens[k].kind not in (WS, COMMENT)]
            if len(sig) < 2:
                continue
            last = tokens[sig[-1]]
            if last.kind not in (IDENT, QIDENT):
                continue
            before = tokens[sig[-2]]
            if before.is_kw("AS") or (
                before.kind in (IDENT, QIDENT, STRING, NUMBER)
                or (before.kind == PUNCT and before.text in (")", "]"))
            ):
                if not last.is_kw("AS"):
                    aliases.add(last.text.strip('"').lower())
        if not aliases:
            return None
        # real columns shadow aliases in WHERE (DuckDB binds base columns
        # first) — only aliases with no base column force the wrap
        base_cols = {
            f.name.lower()
            for df in self._tables.values()
            for f in df.schema.fields
        }
        aliases -= base_cols
        if not aliases:
            return None
        tail_start = min(
            (bounds[k] for k in ("ORDER", "LIMIT", "OFFSET") if k in bounds),
            default=len(tokens),
        )
        where_lo, where_hi = bounds["WHERE"], tail_start
        used = False
        k = where_lo
        while k < where_hi:
            t = tokens[k]
            if t.kind == IDENT and t.text.lower() in aliases:
                p, n = prev_sig(tokens, k), next_sig(tokens, k)
                dotted = (p >= 0 and tokens[p].kind == PUNCT
                          and tokens[p].text == ".") or (
                    n < len(tokens) and tokens[n].kind == PUNCT
                    and tokens[n].text in (".", "(")
                )
                if not dotted:
                    used = True
                    break
            k += 1
        if not used:
            return None
        inner = render(tokens[i:where_lo])
        pred = render(tokens[where_lo + 1 : where_hi])
        tail = render(tokens[tail_start:]) if tail_start < len(tokens) else ""
        return (
            f"SELECT * FROM ({inner}) AS __lateral_where "
            f"WHERE {pred} {tail}"
        ).rstrip().rstrip(";")

    def _materialize_repeated_ctes(self, sql: str) -> Optional[DataFrame]:
        """DuckDB materializes a WITH-clause CTE referenced more than once;
        Spark inlines every reference, recomputing the subplan N times
        (the dev.json:284 shape recomputes a join+agg three times). Mirror
        DuckDB: evaluate such CTEs once into a persisted temp view
        (MEMORY_AND_DISK — spills, never OOMs) and route the remaining
        references there. Single-reference or scan-only CTEs stay inline
        where Catalyst can push filters/pruning into them.

        Output-REDUCING bodies (GROUP BY / DISTINCT / set ops at the top
        level) always materialize: the barrier blocks predicate pushdown
        regardless, so inlining buys nothing and recomputes the
        aggregation N times (q22's shape: 3 evaluations → 1, measured
        0.58s → 0.36s at sf0.1). Non-reducing bodies are gated on the
        body's estimated *input* size (sum of leaf-relation plan stats):
        there, materialization genuinely trades lost pushdown for saved
        recomputes, which only pays when the subtree scans real data
        (>= CTE_MATERIALIZE_MIN_INPUT_BYTES; at cluster scale any
        fact-table CTE clears the bar). ``AS MATERIALIZED`` forces the
        behavior regardless of size; ``WITH RECURSIVE`` is left to
        Spark's native UnionLoop untouched."""
        tokens = tokenize(sql)
        i = next_sig(tokens, -1)
        if i >= len(tokens) or not tokens[i].is_kw("WITH"):
            return None
        j = next_sig(tokens, i)
        if j >= len(tokens) or tokens[j].is_kw("RECURSIVE"):
            return None
        ctes: list[dict] = []
        k = j
        main_start = None
        while k < len(tokens):
            if tokens[k].kind not in (IDENT, QIDENT):
                return None
            name = tokens[k].text.strip('"')
            def_lo = k
            m = next_sig(tokens, k)
            cols = None
            if m < len(tokens) and tokens[m].kind == PUNCT and tokens[m].text == "(":
                c = match_forward(tokens, m, "(", ")")
                cols = [
                    t.text.strip('"')
                    for t in tokens[m + 1 : c]
                    if t.kind in (IDENT, QIDENT)
                ]
                m = next_sig(tokens, c)
            if m >= len(tokens) or not tokens[m].is_kw("AS"):
                return None
            m = next_sig(tokens, m)
            forced = False
            if m < len(tokens) and tokens[m].is_kw("NOT"):
                m2 = next_sig(tokens, m)
                if m2 < len(tokens) and tokens[m2].is_kw("MATERIALIZED"):
                    m = next_sig(tokens, m2)
            elif m < len(tokens) and tokens[m].is_kw("MATERIALIZED"):
                forced = True
                m = next_sig(tokens, m)
            if m >= len(tokens) or tokens[m].kind != PUNCT or tokens[m].text != "(":
                return None
            c = match_forward(tokens, m, "(", ")")
            ctes.append(
                {
                    "name": name,
                    "cols": cols,
                    "body": (m + 1, c),
                    "span": (def_lo, c),
                    "forced": forced,
                }
            )
            nx = next_sig(tokens, c)
            if nx < len(tokens) and tokens[nx].kind == PUNCT and tokens[nx].text == ",":
                k = next_sig(tokens, nx)
                continue
            main_start = nx
            break
        if main_start is None:
            return None

        def ref_count(name: str, self_span: tuple[int, int]) -> int:
            low = name.lower()
            lo, hi = self_span
            cnt = 0
            for idx, t in enumerate(tokens):
                if lo <= idx <= hi or t.kind not in (IDENT, QIDENT):
                    continue
                if t.text.strip('"').lower() != low:
                    continue
                p = prev_sig(tokens, idx)
                if p >= 0 and tokens[p].kind == PUNCT and tokens[p].text == ".":
                    continue
                n = next_sig(tokens, idx)
                if (
                    n < len(tokens)
                    and tokens[n].kind == PUNCT
                    and tokens[n].text in (".", "(")
                ):
                    continue
                cnt += 1
            return cnt

        work_kws = {
            "JOIN", "GROUP", "DISTINCT", "OVER", "UNION", "INTERSECT",
            "EXCEPT", "QUALIFY", "ORDER",
        }
        # output-reducing barriers at the body's TOP paren level: an
        # aggregated/deduplicated CTE blocks predicate pushdown anyway, so
        # inlining buys nothing and recomputes the barrier N times — these
        # materialize regardless of input size (persist is lazy: all
        # references share one evaluation inside the same action)
        reduce_kws = {"GROUP", "DISTINCT", "UNION", "INTERSECT", "EXCEPT"}

        def reduces_at_top(lo: int, hi: int) -> bool:
            depth = 0
            for t in tokens[lo:hi]:
                if t.kind == PUNCT and t.text == "(":
                    depth += 1
                elif t.kind == PUNCT and t.text == ")":
                    depth -= 1
                elif depth == 0 and t.kind == IDENT and t.upper in reduce_kws:
                    return True
            return False

        mat_names: set[str] = set()
        reducing: set[str] = set()
        for cte in ctes:
            lo, hi = cte["body"]
            nontrivial = bool(
                {t.upper for t in tokens[lo:hi] if t.kind == IDENT} & work_kws
            )
            if cte["forced"] or (
                nontrivial and ref_count(cte["name"], cte["span"]) >= 2
            ):
                mat_names.add(cte["name"].lower())
                if reduces_at_top(lo, hi):
                    reducing.add(cte["name"].lower())
        if not mat_names:
            return None

        def render_def(c2: dict) -> str:
            cols = f" ({', '.join(c2['cols'])})" if c2["cols"] else ""
            body = render(tokens[c2["body"][0] : c2["body"][1]])
            return f"{c2['name']}{cols} AS ({body})"

        from pyspark import StorageLevel

        added: list[str] = []
        local_ctes: dict[str, DataFrame] = {}
        try:
            for idx, cte in enumerate(ctes):
                name_l = cte["name"].lower()
                is_mat = name_l in mat_names
                if not is_mat:
                    # cascade candidate: a single-reference CTE whose body
                    # reads an already-LOCALIZED CTE may itself collapse to
                    # a LocalRelation after subquery folding — localizing
                    # it too lets the MAIN statement's IN/scalar subqueries
                    # over it fold to literals (q22's max_nation shape:
                    # without this, each such subquery costs a scheduled
                    # Spark job over 25 driver-local rows)
                    if not local_ctes:
                        continue
                    lo, hi = cte["body"]
                    body_names = {
                        t.text.strip('"').lower()
                        for t in tokens[lo:hi]
                        if t.kind in (IDENT, QIDENT)
                    }
                    if not (body_names & set(local_ctes)):
                        continue
                body_sql = render(tokens[cte["body"][0] : cte["body"][1]])
                earlier = [
                    render_def(c2)
                    for c2 in ctes[:idx]
                    if c2["name"].lower() not in mat_names
                ]
                if earlier:
                    body_sql = "WITH " + ", ".join(earlier) + " " + body_sql
                body_sql = _fold_local_subqueries(body_sql, local_ctes)
                df = self._query(body_sql)
                if cte["cols"]:
                    df = df.toDF(*cte["cols"])
                if not is_mat:
                    if not _all_leaves_local(df):
                        continue
                    # the body folded to local relations: the capped copy
                    # starts no job, and the cap applies BEFORE the copy,
                    # so a join of two row-capped local CTEs (2000² rows
                    # worst case) never lands in driver memory whole
                    local = _local_relation(
                        self.spark, df, _capped_rows(self.spark, df)
                    )
                    if local is None:
                        continue
                    mat_names.add(name_l)
                elif (
                    not cte["forced"]
                    and name_l not in reducing
                    and _plan_input_bytes(df) < CTE_MATERIALIZE_MIN_INPUT_BYTES
                ):
                    # small-input NON-reducing body: references stay inline
                    # where Catalyst can still push filters/pruning into
                    # them; recomputing a few MB beats the lost pushdown
                    mat_names.discard(name_l)
                    continue
                else:
                    # input estimate must come from the raw plan: after
                    # persist() the leaf is the not-yet-materialized
                    # InMemoryRelation, whose stats read as unknown/huge
                    local = self._try_localize_cte(
                        df, _plan_input_bytes(df), reducing=name_l in reducing
                    )
                if local is not None:
                    df = local_ctes[name_l] = local
                else:
                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                    self._cte_persisted.append(df)
                self._cte_overrides[name_l] = self._fresh_view(df)
                added.append(name_l)
            if not added:
                return None
            keep = [
                render_def(c2)
                for c2 in ctes
                if c2["name"].lower() not in mat_names
            ]
            main_sql = render(tokens[main_start:])
            new_sql = (
                "WITH " + ", ".join(keep) + " " + main_sql if keep else main_sql
            )
            return self._query(_fold_local_subqueries(new_sql, local_ctes))
        finally:
            for n in added:
                self._cte_overrides.pop(n, None)

    def _try_localize_cte(
        self,
        df: DataFrame,
        input_bytes: int,
        reducing: bool = False,
    ) -> Optional[DataFrame]:
        """Collapse a small materialized-CTE result (or a recursive CTE's
        final result) to ONE LocalRelation (_local_relation), or None when
        it is over the row cap or its input over the probe gate.

        A persisted view hides its cardinality from the planner until AQE
        observes the exchange at runtime, so a 25-row aggregate CTE flows
        into sort-merge joins and per-subquery shuffle jobs — 8 jobs for
        dev.json:284's shape on local[*]. Once the result is known small
        (≤ LOCAL_RELATION_MAX_ROWS after one evaluation that also primes
        the cache for the fallback path), a LocalTableScan gives Catalyst
        exact stats: semi/inner joins broadcast it, scalar subqueries
        over it run exchange-free. A body that already folded to local
        relations takes _capped_rows' driver-side copy instead (no job)."""
        # Probe cost control: the coalesced take evaluates the whole body
        # in ONE job (map side stays parallel; only the final merge is a
        # single task) — take() alone runs a 4-job incremental limit
        # scale-up, count()-then-take pays two jobs plus AQE stage jobs.
        # A single-task final merge is only safe when the body's input is
        # modest; above the gate skip localization entirely and let the
        # lazy plan + AQE runtime stats pick join strategies.
        if input_bytes > CTE_LOCALIZE_PROBE_MAX_INPUT_BYTES:
            return None
        if reducing and input_bytes <= CTE_LOCALIZE_COLLECT_MAX_INPUT_BYTES:
            # reducing body over small input: one fully-parallel collect
            # beats take()'s incremental-limit scheduler round-trips by
            # ~5x; the uncapped fetch is bounded by one-row-per-group
            jrows = df._jdf.collectAsList()
        else:
            jrows = df._jdf.coalesce(1).limit(
                LOCAL_RELATION_MAX_ROWS + 1).collectAsList()
        return _local_relation(self.spark, df, jrows)

    def _union_by_name(self, sql: str) -> Optional[DataFrame]:
        """DuckDB ``A UNION [ALL] BY NAME B``: match columns by name, NULL-
        filling ones missing from either side (result = left's columns then
        right's extras). Spark SQL has no BY NAME — run the sides and
        combine with DataFrame.unionByName. Splits at the LAST top-level
        occurrence so chained unions stay left-associative via recursion;
        a trailing ORDER BY/LIMIT applies to the whole union (DuckDB
        scoping) and is re-run through the dialect pipeline on a temp view.
        """
        tokens = tokenize(sql)
        depth = 0
        occ = None
        for i, t in enumerate(tokens):
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper == "UNION":
                j = next_sig(tokens, i)
                is_all = False
                k = j
                if j < len(tokens) and tokens[j].is_kw("ALL"):
                    is_all = True
                    k = next_sig(tokens, j)
                m = next_sig(tokens, k) if k < len(tokens) else len(tokens)
                if (
                    k < len(tokens) and tokens[k].is_kw("BY")
                    and m < len(tokens) and tokens[m].is_kw("NAME")
                ):
                    occ = (i, m, is_all)
        if occ is None:
            return None
        i, m, is_all = occ
        left_sql = render(tokens[:i]).strip()
        right_tokens = tokens[m + 1 :]
        depth = 0
        tail_start = None
        for j, t in enumerate(right_tokens):
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif (
                depth == 0
                and t.kind == IDENT
                and t.upper in ("ORDER", "LIMIT", "OFFSET")
            ):
                tail_start = j
                break
        tail = ""
        if tail_start is not None:
            tail = render(right_tokens[tail_start:]).strip()
            right_tokens = right_tokens[:tail_start]
        right_sql = render(right_tokens).strip()
        out = self._query(left_sql).unionByName(
            self._query(right_sql), allowMissingColumns=True
        )
        if not is_all:
            out = out.dropDuplicates()
        if tail:
            view = self._fresh_view(out)
            out = self._query(f"SELECT * FROM {view} {tail}")
        return out

    def _tablesample_to_using(self, tokens: list[Token]) -> list[Token]:
        """DuckDB ``TABLESAMPLE`` spellings -> ``USING SAMPLE`` form, so
        the exact-reservoir, file-pruned-system, and proportional passes
        apply identically to either spelling (DuckDB treats them as the
        same clause): ``TABLESAMPLE reservoir(5 ROWS)`` ->
        ``USING SAMPLE 5 ROWS (reservoir)``; ``TABLESAMPLE 10%`` ->
        ``USING SAMPLE 10%``. Spark-form ``TABLESAMPLE (N ...)`` without
        a method name is left for the native parser."""
        i = 0
        out = tokens
        while i < len(out):
            t = out[i]
            if t.kind == IDENT and t.upper == "USING":
                # method-first USING form: ``USING SAMPLE reservoir(20%)``
                # -> ``USING SAMPLE 20% (reservoir)`` (DuckDB accepts the
                # method before the size in BOTH spellings; wave-12 fuzz
                # caught the USING variant unhandled)
                sm = next_sig(out, i)
                if sm < len(out) and out[sm].is_kw("SAMPLE"):
                    s = next_sig(out, sm)
                    if (
                        s < len(out)
                        and out[s].kind == IDENT
                        and out[s].upper in ("RESERVOIR", "BERNOULLI", "SYSTEM")
                    ):
                        m = next_sig(out, s)
                        if (
                            m < len(out)
                            and out[m].kind == PUNCT
                            and out[m].text == "("
                        ):
                            c = match_forward(out, m, "(", ")")
                            size = render(out[m + 1 : c]).strip()
                            repl = tokenize(
                                f"USING SAMPLE {size} ({out[s].text.lower()})"
                            )
                            out = out[:i] + repl + out[c + 1 :]
                            i += len(repl)
                            continue
                i += 1
                continue
            if not (t.kind == IDENT and t.upper == "TABLESAMPLE"):
                i += 1
                continue
            s = next_sig(out, i)
            if s >= len(out):
                break
            if out[s].kind == IDENT and out[s].upper in (
                "RESERVOIR", "BERNOULLI", "SYSTEM",
            ):
                m = next_sig(out, s)
                if (
                    m < len(out)
                    and out[m].kind == PUNCT
                    and out[m].text == "("
                ):
                    c = match_forward(out, m, "(", ")")
                    size = render(out[m + 1 : c]).strip()
                    repl = tokenize(
                        f"USING SAMPLE {size} ({out[s].text.lower()})"
                    )
                    out = out[:i] + repl + out[c + 1 :]
                    i += len(repl)
                    continue
            if out[s].kind == NUMBER:
                end = s
                k = next_sig(out, s)
                if k < len(out) and (
                    (out[k].kind == OP and out[k].text == "%")
                    or out[k].is_kw("PERCENT")
                    or out[k].is_kw("ROWS")
                ):
                    end = k
                repl = tokenize(
                    "USING SAMPLE " + render(out[s : end + 1]).strip()
                )
                out = out[:i] + repl + out[end + 1 :]
                i += len(repl)
                continue
            i += 1
        return out

    def _expand_percent_limits(self, sql: str) -> tuple[str, bool]:
        """``LIMIT p%`` / ``LIMIT p PERCENT`` in SUBQUERY position (the
        top-level tail form has its own fast path): compute the body's
        row count at plan time — the same information DuckDB's ordered
        materialization has for free — and substitute the literal k.
        Round-11 probe find (only the statement-tail % spelling was
        handled)."""
        changed = False
        while True:
            toks = tokenize(sql)
            found = None
            for i, t in enumerate(toks):
                if t.kind == IDENT and t.upper == "LIMIT":
                    a = next_sig(toks, i)
                    if a < len(toks) and toks[a].kind == NUMBER:
                        b = next_sig(toks, a)
                        if b < len(toks) and (
                            (toks[b].kind == OP and toks[b].text == "%")
                            or toks[b].is_kw("PERCENT")
                        ):
                            found = (i, a, b)
                            break
            if found is None:
                return sql, changed
            i, a, b = found
            # enclosing subquery opener (whole statement when top-level)
            depth = 0
            open_idx = None
            for j in range(i - 1, -1, -1):
                tk = toks[j]
                if tk.kind == PUNCT and tk.text in ")]}":
                    depth += 1
                elif tk.kind == PUNCT and tk.text in "([{":
                    if depth == 0:
                        open_idx = j
                        break
                    depth -= 1
            body = render(
                toks[(open_idx + 1 if open_idx is not None else 0) : i]
            )
            n = self._query(body).count()
            k = int(n * float(toks[a].text) / 100.0)
            sql = render(toks[:i]) + f"LIMIT {k}" + render(toks[b + 1 :])
            changed = True

    def _rewrite_query(self, sql: str, validate_only: bool = False) -> str:
        tokens = tokenize(sql)
        tokens = self._expand_describe_relations(tokens)
        tokens = self._expand_table_functions(tokens)
        tokens = self._tablesample_to_using(tokens)
        if not validate_only:
            # exact-reservoir rewrite runs a count() for percent forms;
            # validation must not launch jobs — the later USING SAMPLE
            # pass still produces an analyzable (proportional) TABLESAMPLE
            # with the identical schema, so binder checks are unaffected
            tokens = self._exact_reservoir(tokens)
            # file-pruned SYSTEM sampling (DuckDB's default method): reads
            # ~n% of the table instead of scanning 100% and discarding
            tokens = self._system_sample_files(tokens)
        tokens = self._expand_alias_type_casts(tokens)
        # dialect passes see the user's table names (COLUMNS / * REPLACE
        # resolve via the catalog); view-name flattening happens after
        text = rewrites.rewrite_sql(render(tokens), self._resolver)
        tokens = self._flatten_qualified_names(tokenize(text))
        text = self._apply_null_order(render(tokens))
        return text

    def _apply_null_order(self, text: str) -> str:
        order = self.settings.get("default_null_order", "nulls_last").lower()
        tokens = tokenize(text)
        out = _pass_order_by_nulls(tokens, order)
        return render(out)

    def _expand_describe_relations(
        self, tokens: list[Token]
    ) -> list[Token]:
        """DuckDB treats DESCRIBE / SUMMARIZE as relations — ``SELECT
        column_name FROM (DESCRIBE SELECT ...)`` is a normal derived
        table (round-11 probe find). Execute the introspection
        statement through its own handler and substitute a registered
        view of its result; the rest of the statement sees an ordinary
        relation. Both produce small bounded outputs (one row per
        column), so the materialization is driver-trivial at any data
        scale."""
        i = 0
        while i < len(tokens):
            t = tokens[i]
            if t.kind == PUNCT and t.text == "(":
                j = next_sig(tokens, i)
                if (
                    j < len(tokens)
                    and tokens[j].kind == IDENT
                    and tokens[j].upper in ("DESCRIBE", "DESC", "SUMMARIZE")
                ):
                    # DESC could be ORDER BY's keyword — only in an
                    # opening-paren + statement position is it DESCRIBE
                    c = match_forward(tokens, i, "(", ")")
                    if c < len(tokens):
                        inner = render(tokens[i + 1 : c]).strip()
                        df = self._execute_one(inner)
                        if df is not None:
                            view = self._fresh_view(df)
                            repl = tokenize(f"(SELECT * FROM {view})")
                            tokens = tokens[:i] + repl + tokens[c + 1 :]
                            i += len(repl)
                            continue
            i += 1
        return tokens

    def _expand_table_functions(self, tokens: list[Token]) -> list[Token]:
        """read_csv_auto('p', columns={..}) / read_parquet / 'file.csv' as a
        FROM target -> registered temp view (S3-S6, dev.json:196-372)."""
        allow_ext = self.settings.get("enable_external_access", "true") == "true"
        i = 0
        scanned = None
        while i < len(tokens):
            t = tokens[i]
            if scanned is not tokens:
                # every expansion builds a new list: rescan FROM items then
                from_items, scanned = set(from_item_starts(tokens)), tokens
            if t.kind == IDENT and t.upper in ("GENERATE_SERIES", "RANGE"):
                # FROM generate_series(a, b[, step]) / FROM range(...) ->
                # derived table of exploded guarded sequence (range is
                # end-exclusive; both empty when bounds face away from the
                # step — see rewrites._series_sequence_sql). Select-position
                # occurrences are handled by the rename pass instead.
                o = next_sig(tokens, i)
                if (
                    i in from_items
                    and o < len(tokens)
                    and tokens[o].text == "("
                ):
                    c = match_forward(tokens, o, "(", ")")
                    spans = split_args(tokens, o + 1, c)
                    args = [
                        render(tokens[lo:hi]).strip() for lo, hi in spans
                    ]
                    colname = t.text.lower()
                    seq = rewrites._series_sequence_sql(
                        args, inclusive=(t.upper == "GENERATE_SERIES")
                    )
                    repl = tokenize(
                        f"(SELECT explode({seq}) AS {colname})"
                    )
                    tokens = tokens[:i] + repl + tokens[c + 1 :]
                    i += len(repl)
                    continue
            if t.kind == IDENT and t.upper == "REPEAT":
                # FROM repeat(v, n): n copies of the scalar; DuckDB names
                # the column after the rendered value expression. Only in
                # FROM position — scalar repeat(s, n) stays a string
                # function.
                o = next_sig(tokens, i)
                if (
                    i in from_items
                    and o < len(tokens)
                    and tokens[o].text == "("
                ):
                    c = match_forward(tokens, o, "(", ")")
                    spans = split_args(tokens, o + 1, c)
                    if len(spans) == 2:
                        v = render(tokens[spans[0][0]:spans[0][1]]).strip()
                        n = render(tokens[spans[1][0]:spans[1][1]]).strip()
                        col = v[1:-1].replace("''", "'") if (
                            v.startswith("'") and v.endswith("'")
                        ) else v
                        col = "`" + col.replace("`", "``") + "`"
                        repl = tokenize(
                            f"(SELECT explode(array_repeat({v},"
                            f" CAST({n} AS INT))) AS {col})"
                        )
                        tokens = tokens[:i] + repl + tokens[c + 1 :]
                        i += len(repl)
                        continue
            if t.kind == IDENT and t.upper in _TABLE_FUNCS:
                o = next_sig(tokens, i)
                if o < len(tokens) and tokens[o].text == "(":
                    c = match_forward(tokens, o, "(", ")")
                    view = self._load_table_function(
                        _TABLE_FUNCS[t.upper], tokens[o + 1 : c], allow_ext
                    )
                    tokens = tokens[:i] + [Token(IDENT, view)] + tokens[c + 1 :]
                    i += 1
                    continue
            if t.kind == IDENT and t.upper in (
                "GLOB", "PARQUET_SCHEMA", "PARQUET_METADATA",
                "PARQUET_FILE_METADATA",
                "DUCKDB_SETTINGS", "DUCKDB_TABLES", "DUCKDB_COLUMNS",
                "DUCKDB_VIEWS", "DUCKDB_DATABASES", "DUCKDB_CONSTRAINTS",
                "DUCKDB_SCHEMAS", "DUCKDB_FUNCTIONS",
                "PRAGMA_DATABASE_SIZE",
            ):
                # introspection table functions: driver-built relations
                # (footer/catalog reads — zero Spark jobs). GLOB only in
                # FROM position: as an operator it stays a pattern match
                # (rewrites.pass_regex_operators).
                o = next_sig(tokens, i)
                if (
                    o < len(tokens)
                    and tokens[o].text == "("
                    and (t.upper != "GLOB" or i in from_items)
                ):
                    c = match_forward(tokens, o, "(", ")")
                    arg_sig = [
                        tk for tk in tokens[o + 1 : c]
                        if tk.kind == STRING
                    ]
                    arg = (
                        arg_sig[0].text[1:-1].replace("''", "'")
                        if arg_sig else None
                    )
                    fn = t.upper
                    if fn in ("GLOB", "PARQUET_SCHEMA", "PARQUET_METADATA",
                              "PARQUET_FILE_METADATA"):
                        if arg is None:
                            raise ValueError(f"{fn} requires a path argument")
                        if not allow_ext:
                            raise PermissionError(
                                "external access is disabled "
                                "(enable_external_access=false)"
                            )
                        arg = io_utils.localize_path(arg)
                    if fn == "GLOB":
                        df = introspect.glob_df(self.spark, arg)
                    elif fn == "PARQUET_SCHEMA":
                        df = introspect.parquet_schema_df(self.spark, arg)
                    elif fn == "PARQUET_METADATA":
                        df = introspect.parquet_metadata_df(self.spark, arg)
                    elif fn == "PARQUET_FILE_METADATA":
                        df = introspect.parquet_file_metadata_df(
                            self.spark, arg
                        )
                    elif fn == "DUCKDB_SCHEMAS":
                        df = introspect.duckdb_schemas_df(self.spark, self)
                    elif fn == "DUCKDB_FUNCTIONS":
                        df = introspect.duckdb_functions_df(self.spark, self)
                    elif fn == "DUCKDB_SETTINGS":
                        df = introspect.duckdb_settings_df(
                            self.spark, self.settings
                        )
                    elif fn == "DUCKDB_COLUMNS":
                        df = introspect.duckdb_columns_df(self.spark, self)
                    elif fn == "DUCKDB_VIEWS":
                        df = introspect.duckdb_views_df(self.spark, self)
                    elif fn == "DUCKDB_DATABASES":
                        df = introspect.duckdb_databases_df(self.spark, self)
                    elif fn == "DUCKDB_CONSTRAINTS":
                        df = introspect.duckdb_constraints_df(
                            self.spark, self
                        )
                    elif fn == "PRAGMA_DATABASE_SIZE":
                        df = introspect.pragma_database_size_df(
                            self.spark, self
                        )
                    else:
                        df = introspect.duckdb_tables_df(self.spark, self)
                    view = self._fresh_view(df)
                    tokens = (
                        tokens[:i] + [Token(IDENT, view)] + tokens[c + 1 :]
                    )
                    i += 1
                    continue
            if t.kind == STRING and i in from_items:
                path = t.text[1:-1].replace("''", "'")
                if _FILE_EXT_RE.search(path.rstrip("*/")) or "*" in path:
                    df = io_utils.read_file_table(
                        self.spark, path, allow_external=allow_ext
                    )
                    view = self._fresh_view(df)
                    tokens = tokens[:i] + [Token(IDENT, view)] + tokens[i + 1 :]
                    i += 1
                    continue
            i += 1
        return tokens

    def _load_table_function(
        self, fmt: str, arg_tokens: list[Token], allow_ext: bool
    ) -> str:
        spans = split_args(arg_tokens, 0, len(arg_tokens))
        paths: list[str] = []
        schema: Optional[T.StructType] = None
        header = None  # None = sniff (read_csv_auto auto-detects)
        delimiter = None
        filename_col = False
        csv_opts: dict = {}
        for lo, hi in spans:
            sig = [tk for tk in arg_tokens[lo:hi] if tk.kind not in (WS, COMMENT)]
            if not sig:
                continue
            if len(sig) >= 3 and sig[0].kind == IDENT and sig[1].kind == OP and sig[1].text == "=":
                key = sig[0].upper

                def _sval(tk):
                    return tk.text[1:-1].replace("''", "'") if (
                        tk.kind == STRING
                    ) else tk.text

                if key == "COLUMNS":
                    schema = self._parse_columns_arg(sig[2:])
                elif key in ("HEADER",):
                    header = sig[2].upper not in ("FALSE", "0")
                elif key in ("DELIM", "SEP", "DELIMITER"):
                    delimiter = _sval(sig[2])
                elif key == "FILENAME":
                    # DuckDB adds the source path as a `filename` column;
                    # Spark's input_file_name() is the same fact as a URI
                    filename_col = sig[2].upper in ("TRUE", "1")
                elif key == "SKIP":
                    csv_opts["skip"] = int(sig[2].text)
                elif key == "QUOTE":
                    csv_opts["quote"] = _sval(sig[2])
                elif key == "ESCAPE":
                    csv_opts["escape"] = _sval(sig[2])
                elif key == "NULLSTR":
                    # string or list; Spark takes one nullValue -> first
                    strs = [
                        tk.text[1:-1].replace("''", "'")
                        for tk in sig[2:]
                        if tk.kind == STRING
                    ]
                    if strs:
                        csv_opts["nullValue"] = strs[0]
                elif key == "ALL_VARCHAR":
                    csv_opts["all_varchar"] = sig[2].upper in ("TRUE", "1")
                elif key in ("TYPES", "DTYPES", "COLUMN_TYPES"):
                    # {'col': 'TYPE', ...} dict or ['TYPE', ...] list of
                    # per-column overrides (round-12 probe find: the
                    # dict form was silently ignored)
                    body = sig[2:]
                    if body and body[0].text == "{":
                        strs = [
                            tk.text[1:-1].replace("''", "'")
                            for tk in body
                            if tk.kind == STRING
                        ]
                        csv_opts["types"] = dict(
                            zip(strs[0::2], strs[1::2])
                        )
                    elif body and body[0].text == "[":
                        csv_opts["types"] = [
                            tk.text[1:-1].replace("''", "'")
                            for tk in body
                            if tk.kind == STRING
                        ]
                elif key == "NAMES":
                    csv_opts["names"] = [
                        tk.text[1:-1].replace("''", "'")
                        for tk in sig[2:]
                        if tk.kind == STRING
                    ]
                elif key == "DATEFORMAT":
                    from .frontend.rewrites import _convert_strftime

                    csv_opts["dateFormat"] = _convert_strftime(
                        _sval(sig[2])
                    ).replace("'", "")
                elif key == "TIMESTAMPFORMAT":
                    from .frontend.rewrites import _convert_strftime

                    csv_opts["timestampFormat"] = _convert_strftime(
                        _sval(sig[2])
                    ).replace("'", "")
                # other named args (auto_detect, sample_size, ...) are hints
                continue
            if sig[0].kind == STRING:
                paths.append(sig[0].text[1:-1].replace("''", "'"))
            elif sig[0].kind == PUNCT and sig[0].text == "[":
                for tk in sig:
                    if tk.kind == STRING:
                        paths.append(tk.text[1:-1].replace("''", "'"))
        if not paths:
            raise ValueError("table function requires a path argument")
        dfs = []
        for p in paths:
            io_utils.expand_local_glob(p if not p.startswith("http") else p)
            df = io_utils.read_file_table(
                self.spark,
                p,
                fmt=fmt,
                schema_ddl=None if schema is None else schema,
                header=header,
                delimiter=delimiter,
                allow_external=allow_ext,
                csv_opts=csv_opts or None,
            )
            if filename_col:
                # input_file_name() is a percent-encoded URI; DuckDB's
                # filename column is the raw path. Protect literal '+'
                # (valid in a URI path, but url_decode would turn it
                # into a space) before decoding the %XX escapes.
                uri = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
                df = df.withColumn(
                    "filename",
                    F.url_decode(F.regexp_replace(uri, r"\+", "%2B")),
                )
            dfs.append(df)
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        return self._fresh_view(df)

    def _parse_columns_arg(self, sig: list[Token]) -> T.StructType:
        """columns={'name': 'TYPE', ...} (dev.json:372)."""
        if not (sig and sig[0].kind == PUNCT and sig[0].text == "{"):
            raise ValueError("columns= expects a {{'name':'TYPE'}} struct")
        fields = []
        items = split_args(sig, 1, len(sig) - 1)
        for lo, hi in items:
            kv = [tk for tk in sig[lo:hi] if tk.kind not in (WS, COMMENT)]
            if len(kv) >= 3 and kv[1].kind == PUNCT and kv[1].text == ":":
                name = kv[0].text[1:-1] if kv[0].kind == STRING else kv[0].text
                ty = kv[2].text[1:-1] if kv[2].kind == STRING else kv[2].text
                fields.append(T.StructField(name, parse_duckdb_type(ty), True))
        return T.StructType(fields)

    def _positional_rewrite(self, sql: str) -> Optional[str]:
        """DuckDB ``FROM a POSITIONAL JOIN b`` — zip two relations row by
        row, NULL-padding the shorter side (DuckDB pads like a FULL
        join on row position). Spelled as row_number-keyed full-outer
        join into a temp view; positional semantics are inherently
        order-dependent, so the row numbering runs over
        monotonically_increasing_id (source order for deterministic
        scans). The single-partition window this costs is intrinsic to
        the operator — positional zip has no shuffle-free distributed
        form unless both sides are co-partitioned by construction."""
        low = sql.lower()
        if "positional" not in low:
            return None
        tokens = tokenize(sql)
        depth = 0
        at = None
        for i, t in enumerate(tokens):
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper == "POSITIONAL":
                at = i
                break
        if at is None:
            return None
        jn = next_sig(tokens, at)
        if jn >= len(tokens) or not tokens[jn].is_kw("JOIN"):
            return None
        # FROM span boundaries
        sig = [i for i, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        from_i = None
        depth = 0
        for i in sig:
            t = tokens[i]
            if t.text in "([{":
                depth += 1
            elif t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper == "FROM" and i < at:
                from_i = i
        if from_i is None:
            raise ValueError("POSITIONAL JOIN requires a FROM clause")
        end = len(tokens)
        depth = 0
        for i in range(jn + 1, len(tokens)):
            t = tokens[i]
            if t.text in "([{":
                depth += 1
            elif t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper in (
                "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "WINDOW",
                "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER",
                "LEFT", "RIGHT", "FULL", "CROSS", "POSITIONAL",
            ):
                end = i
                break

        def rel_df(span_text: str):
            """Relation span -> (DataFrame, alias-or-None). The alias is
            captured so qualified references (``a.col``, ``b.*``) in the
            surrounding statement can be remapped onto the zipped view's
            output columns."""
            txt = span_text.strip().rstrip(";").strip()
            toks = tokenize(txt)
            s = [k for k, tk in enumerate(toks) if tk.kind not in (WS, COMMENT)]

            def trailing_alias(after: int) -> Optional[str]:
                rest = [k for k in s if k > after]
                if rest and toks[rest[0]].is_kw("AS"):
                    rest = rest[1:]
                if rest and toks[rest[0]].kind == IDENT:
                    return toks[rest[0]].text.strip('"`')
                return None

            if toks[s[0]].text == "(":
                c = match_forward(toks, s[0], "(", ")")
                return (
                    self._query(render(toks[s[0] + 1 : c])),
                    trailing_alias(c),
                )
            # [db.]name [AS] [alias]
            k = 0
            while k + 2 < len(s) and toks[s[k + 1]].text == ".":
                k += 2
            name = render(toks[: s[k] + 1]).strip().strip('"`')
            return self.table(name), trailing_alias(s[k])

        left_df, left_alias = rel_df(render(tokens[from_i + 1 : at]))
        right_df, right_alias = rel_df(render(tokens[jn + 1 : end]))
        rn = "__pos_rn__"
        win = Window.orderBy(F.monotonically_increasing_id())
        lcols = list(left_df.columns)
        rcols = []
        taken = {c.lower() for c in lcols}
        rsel = []
        for c in right_df.columns:
            out_name = c
            while out_name.lower() in taken:
                out_name = out_name + "_1"
            taken.add(out_name.lower())
            rcols.append(out_name)
            rsel.append(F.col(c).alias(out_name))
        ldf = left_df.withColumn(rn, F.row_number().over(win))
        rdf = right_df.select(*rsel).withColumn(rn, F.row_number().over(win))
        joined = ldf.join(rdf, rn, "full_outer").orderBy(rn).select(
            *lcols, *rcols
        )
        view = self._fresh_view(joined)

        # remap alias-qualified references in the surrounding statement
        # onto the zipped view's output columns (right-side collisions
        # carry the _1 suffix): a.col -> col, b.* -> its column list
        qual: dict[str, dict[str, str]] = {}
        if left_alias:
            qual[left_alias.lower()] = {c.lower(): c for c in lcols}
        if right_alias:
            qual[right_alias.lower()] = {
                o.lower(): n for o, n in zip(right_df.columns, rcols)
            }
        star: dict[str, list[str]] = {}
        if left_alias:
            star[left_alias.lower()] = lcols
        if right_alias:
            star[right_alias.lower()] = rcols

        def remap(seg: list) -> str:
            out: list[str] = []
            i = 0
            n = len(seg)
            while i < n:
                t = seg[i]
                if t.kind == IDENT and t.text.strip('"`').lower() in qual:
                    j = i + 1
                    while j < n and seg[j].kind in (WS, COMMENT):
                        j += 1
                    if j < n and seg[j].kind == PUNCT and seg[j].text == ".":
                        k = j + 1
                        while k < n and seg[k].kind in (WS, COMMENT):
                            k += 1
                        a = t.text.strip('"`').lower()
                        if k < n and seg[k].text == "*":
                            out.append(", ".join(star[a]))
                            i = k + 1
                            continue
                        if k < n and seg[k].kind in (IDENT,):
                            col = seg[k].text.strip('"`')
                            mapped = qual[a].get(col.lower())
                            if mapped is not None:
                                out.append(mapped)
                                i = k + 1
                                continue
                out.append(t.text)
                i += 1
            return "".join(out)

        return (
            remap(tokens[:from_i])
            + f"FROM {view} "
            + remap(tokens[end:])
        )

    def _asof_rewrite(self, sql: str) -> Optional[str]:
        """DuckDB ``ASOF [LEFT] JOIN`` SQL -> operators/asof.py plan.

        Supported shape (raises loudly on anything else so ASOF never
        silently mis-executes): top-level
        ``FROM t1 [alias] ASOF [LEFT] JOIN t2 [alias] ON a.k = b.k AND
        b.ts <= a.ts`` — exactly one equality key and one non-strict
        inequality; the inequality direction picks backward/forward. The
        join itself runs through asof_ops.asof_join (union + running
        window — one shuffle, the DuckDB-oracled formulation) into a temp
        view, and the remaining statement text is remapped onto the
        view's columns (right-side payload collisions carry the
        ``_right`` suffix; ``b.<ts>`` reads the matched timestamp;
        ``b.<key>`` NULLs out on unmatched LEFT rows, as DuckDB).
        """
        if "asof" not in sql.lower():  # free fast path for every other query
            return None
        from .operators import asof as asof_ops

        tokens = tokenize(sql)
        depth = 0
        at = None
        for i, t in enumerate(tokens):
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper == "ASOF":
                at = i
                break
        if at is None:
            return None

        def bad(msg: str):
            raise ValueError(f"unsupported ASOF JOIN shape: {msg}")

        sig = [k for k, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        pos = {k: n for n, k in enumerate(sig)}
        subq_dfs: dict[str, DataFrame] = {}

        def table_ref(span: list[int]):
            """[name_parts..., optional AS, optional alias] -> (name, alias).

            A parenthesized side — ``(subquery) [AS] alias`` — executes
            the subquery through the normal query path and stashes the
            DataFrame under its alias (round-12: ASOF JOIN over derived
            tables; DuckDB allows any table expression on either side).
            Returns (None, alias) for those."""
            if not span:
                bad("expected a table reference")
            first = span[0]
            if tokens[first].kind == PUNCT and tokens[first].text == "(":
                close = match_forward(tokens, first, "(", ")")
                sub_sql = render(tokens[first + 1 : close]).strip()
                rest = [tokens[k] for k in span if k > close]
                if rest and rest[0].kind == IDENT and rest[0].upper == "AS":
                    rest = rest[1:]
                if len(rest) != 1 or rest[0].kind not in (IDENT, QIDENT):
                    bad("a derived ASOF side needs `(subquery) [AS] alias`")
                alias = rest[0].text.strip('"`')
                subq_dfs[alias.lower()] = self._query(sub_sql)
                return None, alias
            toks = [tokens[k] for k in span]
            j = 0
            parts = []
            if j >= len(toks) or toks[j].kind not in (IDENT, QIDENT):
                bad("expected a plain table name")
            parts.append(toks[j].text.strip('"`'))
            j += 1
            while j + 1 < len(toks) and toks[j].kind == PUNCT and toks[j].text == ".":
                parts.append(toks[j + 1].text.strip('"`'))
                j += 2
            alias = None
            if j < len(toks) and toks[j].kind == IDENT and toks[j].upper == "AS":
                j += 1
            if j < len(toks):
                if toks[j].kind not in (IDENT, QIDENT) or j != len(toks) - 1:
                    bad("expected `name [AS] alias`")
                alias = toks[j].text.strip('"`')
            name = ".".join(parts)
            return name, (alias or name)

        # left side: tokens between depth-0 FROM and ASOF
        from_i = None
        d2 = 0
        for k in range(at):
            t = tokens[k]
            if t.kind == PUNCT and t.text in "([{":
                d2 += 1
            elif t.kind == PUNCT and t.text in ")]}":
                d2 -= 1
            elif d2 == 0 and t.kind == IDENT and t.upper == "FROM":
                from_i = k
        if from_i is None:
            bad("no FROM before ASOF")
        left_span = [k for k in sig if from_i < k < at]
        lname, lalias = table_ref(left_span)

        # JOIN kind + right side
        j = pos[at] + 1
        how_left = False
        if tokens[sig[j]].kind == IDENT and tokens[sig[j]].upper == "LEFT":
            how_left = True
            j += 1
        if not (tokens[sig[j]].kind == IDENT and tokens[sig[j]].upper == "JOIN"):
            bad("expected JOIN after ASOF")
        j += 1
        r_start = j
        while j < len(sig) and not (
            tokens[sig[j]].kind == IDENT and tokens[sig[j]].upper == "ON"
        ):
            j += 1
        if j >= len(sig):
            bad("missing ON")
        rname, ralias = table_ref(sig[r_start:j])
        on_i = sig[j]

        # condition tokens: up to the next depth-0 clause keyword
        end_kws = {"WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING",
                   "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "WINDOW"}
        d2 = 0
        cond_end = len(tokens)
        for k in range(on_i + 1, len(tokens)):
            t = tokens[k]
            if t.kind == PUNCT and t.text in "([{":
                d2 += 1
            elif t.kind == PUNCT and t.text in ")]}":
                d2 -= 1
            elif d2 == 0 and t.kind == IDENT and t.upper in end_kws:
                cond_end = k
                break
            elif d2 == 0 and t.kind == IDENT and t.upper in ("JOIN", "ASOF"):
                bad("only a single ASOF join is supported")
        cond = [t for t in tokens[on_i + 1 : cond_end] if t.kind not in (WS, COMMENT)]

        # split on AND; each conjunct must be `ref OP ref`
        conjs: list[list[Token]] = [[]]
        d2 = 0
        for t in cond:
            if t.kind == PUNCT and t.text in "([{":
                d2 += 1
            elif t.kind == PUNCT and t.text in ")]}":
                d2 -= 1
            if d2 == 0 and t.kind == IDENT and t.upper == "AND":
                conjs.append([])
            else:
                conjs[-1].append(t)

        left_df = (
            subq_dfs[lalias.lower()] if lname is None else self.table(lname)
        )
        right_df = (
            subq_dfs[ralias.lower()] if rname is None else self.table(rname)
        )

        def ref(ts: list[Token]):
            """(side, col) for `alias.col` or a bare unique column name."""
            if len(ts) == 3 and ts[1].text == ".":
                al, col = ts[0].text.strip('"`'), ts[2].text.strip('"`')
                if al.lower() == lalias.lower():
                    return "l", col
                if al.lower() == ralias.lower():
                    return "r", col
                bad(f"unknown alias {al!r}")
            if len(ts) == 1 and ts[0].kind in (IDENT, QIDENT):
                col = ts[0].text.strip('"`')
                inl = col in left_df.columns
                inr = col in right_df.columns
                if inl == inr:
                    bad(f"ambiguous or unknown column {col!r}")
                return ("l" if inl else "r"), col
            bad("join condition operands must be column references")

        eqs, ineq = [], None
        for c in conjs:
            ops = [n for n, t in enumerate(c) if t.kind == OP and t.text in
                   ("=", "<=", ">=", "<", ">")]
            if len(ops) != 1:
                bad("each conjunct must be `col OP col`")
            n = ops[0]
            a, b = ref(c[:n]), ref(c[n + 1 :])
            op = c[n].text
            if op == "=":
                eqs.append((a, b))
            else:
                if ineq is not None:
                    bad("exactly one inequality allowed")
                ineq = (a, op, b)
        if len(eqs) != 1 or ineq is None:
            bad("need exactly one equality key and one inequality")
        (s1, k1), (s2, k2) = eqs[0]
        if {s1, s2} != {"l", "r"}:
            bad("equality must relate the two tables")
        lkey = k1 if s1 == "l" else k2
        rkey = k2 if s1 == "l" else k1
        (sa, ca), op, (sb, cb) = ineq
        if {sa, sb} != {"l", "r"}:
            bad("inequality must relate the two tables")
        if op in ("<", ">"):
            bad("strict inequalities are not supported (use <= / >=)")
        # normalize to `right_ts OP left_ts`
        if sa == "r":
            rts, lts, rop = ca, cb, op
        else:
            rts, lts, rop = cb, ca, {"<=": ">=", ">=": "<="}[op]
        direction = "backward" if rop == "<=" else "forward"

        if rkey != lkey:
            right_df = right_df.withColumnRenamed(rkey, lkey)
        joined = asof_ops.asof_join(
            left_df, right_df, key=lkey, left_ts=lts, right_ts=rts,
            direction=direction,
        )
        matched = f"{rts}_matched"
        if not how_left:  # DuckDB plain ASOF JOIN is inner
            joined = joined.filter(F.col(matched).isNotNull())
        view = self._fresh_view(joined)

        payload = [c for c in right_df.columns if c not in (lkey, rts)]
        rmap = {c: (f"{c}_right" if c in left_df.columns else c) for c in payload}
        rmap[rts] = matched

        # splice: keep everything before FROM, swap the join span for the
        # view, keep everything from the clause keyword on
        out: list[str] = []
        k = 0
        while k < len(tokens):
            out.append(tokens[k].text)
            if k == from_i:  # just emitted FROM
                out.append(f" {view} ")
                k = cond_end
                continue
            k += 1
        text = "".join(out)
        # remap alias-qualified references in the remaining text
        toks2 = tokenize(text)
        out2: list[str] = []
        k = 0
        while k < len(toks2):
            t = toks2[k]
            if (
                t.kind in (IDENT, QIDENT)
                and k + 2 < len(toks2)
                and toks2[k + 1].kind == PUNCT
                and toks2[k + 1].text == "."
                and toks2[k + 2].kind in (IDENT, QIDENT)
            ):
                al = t.text.strip('"`').lower()
                col = toks2[k + 2].text.strip('"`')
                if al == lalias.lower() and col in left_df.columns:
                    out2.append(col)
                    k += 3
                    continue
                if al == ralias.lower():
                    if col == rkey:
                        out2.append(
                            f"(CASE WHEN {matched} IS NULL THEN NULL "
                            f"ELSE {lkey} END)"
                        )
                    elif col in rmap:
                        out2.append(rmap[col])
                    else:
                        bad(f"unknown right column {col!r}")
                    k += 3
                    continue
            out2.append(t.text)
            k += 1
        return "".join(out2)

    def _fresh_view(self, df: DataFrame) -> str:
        self._tf_counter += 1
        name = f"ddbs{self._sid}_tf_{self._tf_counter}"
        df.createOrReplaceTempView(name)
        if self._created_views_log is not None:
            self._created_views_log.append(name)
        return name

    def _exact_reservoir(self, tokens: list[Token]) -> list[Token]:
        """DuckDB reservoir sampling returns an EXACT row count
        (``USING SAMPLE 10% (reservoir)``, dev.json:556 — validated by
        count(*)), and ``USING SAMPLE n ROWS`` is exact too. Bernoulli
        TABLESAMPLE is proportional-only, so exact forms on a plain table
        become ``(SELECT * FROM t ORDER BY rand() LIMIT k) AS t``. The
        LIMIT needs |t| for percent forms — one count() at plan time
        (cheap: count is metadata-pruned). A global rand() sort is the
        honest cost of exact reservoir semantics; proportional sampling
        (the scale path) stays the default TABLESAMPLE rewrite."""
        import math

        i = 0
        while i < len(tokens):
            t = tokens[i]
            if not t.is_kw("USING"):
                i += 1
                continue
            s = next_sig(tokens, i)
            if s >= len(tokens) or not tokens[s].is_kw("SAMPLE"):
                i += 1
                continue
            j = next_sig(tokens, s)
            if j >= len(tokens) or tokens[j].kind != NUMBER:
                i += 1
                continue
            num = float(tokens[j].text)
            k_next = next_sig(tokens, j)
            unit = "rows"
            end = j
            if k_next < len(tokens) and (
                (tokens[k_next].kind == OP and tokens[k_next].text == "%")
                or tokens[k_next].is_kw("PERCENT")
            ):
                unit = "percent"
                end = k_next
            elif k_next < len(tokens) and tokens[k_next].is_kw("ROWS"):
                end = k_next
            method = None
            m = next_sig(tokens, end)
            if m < len(tokens) and tokens[m].kind == PUNCT and tokens[m].text == "(":
                c = match_forward(tokens, m, "(", ")")
                inner = [tk for tk in tokens[m + 1 : c] if tk.kind == IDENT]
                if inner:
                    method = inner[0].text.lower()
                m_end = c
            else:
                m_end = end
            exact = method == "reservoir" or (unit == "rows" and method in (None, "reservoir"))
            if not exact:
                i += 1
                continue
            # preceding plain table ref
            p = prev_sig(tokens, i)
            chain_end = p
            parts = []
            while p >= 0 and tokens[p].kind in (IDENT, QIDENT):
                parts.insert(0, tokens[p].text.strip('"'))
                q = prev_sig(tokens, p)
                if q >= 0 and tokens[q].kind == PUNCT and tokens[q].text == ".":
                    p = prev_sig(tokens, q)
                else:
                    break
            tname = ".".join(parts)
            if not parts or self._resolve_table_key(tname) is None:
                i += 1
                continue
            if unit == "percent":
                total = self.table(tname).count()
                # DuckDB sizes percent reservoirs with llround (half
                # away from zero: 2.5%→of 50 rows→3, 3% of 60007→1800),
                # measured against duckdb 1.x; ceil would over-draw by
                # one row on any non-half fractional size.
                k = int(math.floor(num / 100.0 * total + 0.5))
            else:
                k = int(num)
            alias = parts[-1]
            repl = tokenize(
                f"(SELECT * FROM {self._view_name(self._resolve_table_key(tname))} "
                f"ORDER BY rand() LIMIT {k}) AS {alias}"
            )
            tokens = tokens[:p] + repl + tokens[m_end + 1 :]
            i = p + len(repl)
        return tokens

    _GS_NULL_AGGS = frozenset(
        "SUM AVG MIN MAX STDDEV STDDEV_POP STDDEV_SAMP VAR_POP VAR_SAMP "
        "VARIANCE BOOL_AND BOOL_OR EVERY STRING_AGG GROUP_CONCAT LISTAGG "
        "ARRAY_AGG LIST FIRST LAST ANY_VALUE ARBITRARY MEDIAN MODE PRODUCT "
        "ENTROPY MAD BIT_AND BIT_OR BIT_XOR QUANTILE QUANTILE_CONT "
        "QUANTILE_DISC PERCENTILE PERCENTILE_CONT PERCENTILE_DISC COVAR_POP "
        "COVAR_SAMP CORR GEOMEAN FAVG FSUM KURTOSIS SKEWNESS".split()
    )
    _GS_CONST_WHITELIST = frozenset(
        "NULL TRUE FALSE CASE WHEN THEN ELSE END AND OR NOT IS AS CAST "
        "ROUND COALESCE NULLIF GREATEST LEAST ABS LN LOG CEIL CEILING "
        "FLOOR CONCAT INTEGER BIGINT SMALLINT TINYINT DOUBLE FLOAT REAL "
        "VARCHAR TEXT STRING BOOLEAN DECIMAL NUMERIC DATE TIMESTAMP".split()
    )

    def _groups_frame_fix(self, sql: str) -> Optional[str]:
        """``GROUPS BETWEEN a PRECEDING AND b FOLLOWING`` window frames
        (DuckDB surface; Spark has no GROUPS mode): a GROUPS frame counts
        PEER GROUPS, which equals a RANGE frame over the dense_rank of
        the ORDER BY key. Rewrite the statement to compute that rank in
        an inner subquery and re-point each GROUPS window at
        ``ORDER BY __dr<i> RANGE BETWEEN a AND b`` — the ranks share the
        window shuffle, so the plan costs one extra window pass, no
        extra exchange.

        Applies to the common shape: single top-level SELECT with an
        explicit select list (no ``*``), no top-level GROUP BY/HAVING
        (windows would then run post-aggregation and the inner subquery
        would change semantics). Anything else raises loudly rather than
        mis-executing."""
        _groups_re = re.compile(
            r"\bGROUPS\s+(BETWEEN|UNBOUNDED|CURRENT|\d)", re.IGNORECASE
        )
        if not _groups_re.search(sql):
            return None
        tokens = tokenize(sql)
        sig0 = next_sig(tokens, -1)
        if sig0 >= len(tokens) or not tokens[sig0].is_kw("SELECT"):
            raise NotImplementedError(
                "GROUPS window frames are supported only in a plain "
                "top-level SELECT"
            )
        depth = 0
        from_i = None
        for idx, tk in enumerate(tokens):
            if tk.kind == PUNCT and tk.text in "([{":
                depth += 1
            elif tk.kind == PUNCT and tk.text in ")]}":
                depth -= 1
            elif depth == 0 and tk.kind == IDENT:
                if tk.upper == "FROM" and from_i is None:
                    from_i = idx
                elif tk.upper in ("GROUP", "HAVING", "QUALIFY"):
                    raise NotImplementedError(
                        "GROUPS window frames cannot be combined with "
                        "GROUP BY/HAVING/QUALIFY in this engine"
                    )
        if from_i is None:
            raise NotImplementedError(
                "GROUPS window frames need a FROM clause"
            )
        select_list = render(tokens[next_sig(tokens, sig0) : from_i])
        for item in _split_top_commas(select_list):
            it = item.strip()
            if it == "*" or it.endswith(".*"):
                raise NotImplementedError(
                    "GROUPS window frames cannot be combined with SELECT *"
                )
        if _groups_re.search(render(tokens[from_i:])):
            raise NotImplementedError(
                "GROUPS window frames are supported in the outer select "
                "list only"
            )
        # split FROM..[WHERE..] from trailing ORDER BY/LIMIT
        tail_m = re.search(
            r"(?is)\b(ORDER\s+BY|LIMIT|OFFSET)\b",
            render(tokens[from_i:]),
        )
        from_txt = render(tokens[from_i:])
        if tail_m:
            src, tail = from_txt[: tail_m.start()], from_txt[tail_m.start():]
        else:
            src, tail = from_txt, ""
        # rewrite each OVER (...) containing a GROUPS frame
        dr_cols: list[str] = []

        def fix_over(span: list[Token]) -> list[Token]:
            res: list[Token] = []
            j = 0
            while j < len(span):
                tk = span[j]
                if tk.kind == IDENT and tk.upper == "OVER":
                    op2 = next_sig(span, j)
                    if op2 < len(span) and span[op2].text == "(":
                        cl2 = match_forward(span, op2, "(", ")")
                        inner = render(span[op2 + 1 : cl2])
                        gm = re.search(
                            r"(?is)^(.*?)\bGROUPS\s+(.+)$", inner
                        )
                        if gm:
                            base = gm.group(1).strip()
                            frame = gm.group(2).strip()
                            om = re.search(
                                r"(?is)^(.*?)\bORDER\s+BY\b(.*)$", base
                            )
                            if not om:
                                raise NotImplementedError(
                                    "GROUPS frame requires ORDER BY"
                                )
                            part = om.group(1).strip()
                            okeys = om.group(2).strip()
                            dr_expr = (
                                f"dense_rank() OVER ({part} ORDER BY"
                                f" {okeys})"
                            )
                            try:
                                n = dr_cols.index(dr_expr)
                            except ValueError:
                                dr_cols.append(dr_expr)
                                n = len(dr_cols) - 1
                            new_over = (
                                f"OVER ({part} ORDER BY __dr{n}"
                                f" RANGE {frame})"
                            )
                            res.extend(tokenize(new_over))
                            j = cl2 + 1
                            continue
                res.append(tk)
                j += 1
            return res

        out = fix_over(list(tokens))
        # find FROM again in the fixed list (indices may have shifted)
        depth = 0
        f2 = None
        for idx, tk in enumerate(out):
            if tk.kind == PUNCT and tk.text in "([{":
                depth += 1
            elif tk.kind == PUNCT and tk.text in ")]}":
                depth -= 1
            elif depth == 0 and tk.kind == IDENT and tk.upper == "FROM":
                f2 = idx
                break
        fixed_list = render(out[next_sig(out, sig0) : f2])
        drs = ", ".join(
            f"{e} AS __dr{n}" for n, e in enumerate(dr_cols)
        )
        return (
            f"SELECT {fixed_list} FROM (SELECT *, {drs} {src}) __grp"
            f" {tail}"
        ).strip()

    def _grouping_empty_fix(self, sql: str) -> Optional[str]:
        """Spark's GROUPING SETS / CUBE / ROLLUP emit ZERO rows over an
        empty input; DuckDB (and the SQL standard) emit the empty
        grouping set's global-aggregate row (count()=0, sum()=NULL...).
        When the top-level query's grouping includes the empty set,
        append ``UNION ALL SELECT <constant-folded empty-input row>
        WHERE NOT EXISTS (SELECT 1 <src>)`` — the guard is an EXISTS
        probe that short-circuits on the first row of a non-empty
        source, not a second aggregation scan. Returns rewritten
        DuckDB-dialect text, or None when the shape doesn't apply
        (then Spark's native behavior stands)."""
        up = sql.upper()
        if "GROUP" not in up or not (
            "CUBE" in up or "ROLLUP" in up or "GROUPING" in up
        ):
            return None
        tokens = tokenize(sql)
        sig0 = next_sig(tokens, -1)
        if sig0 >= len(tokens) or not tokens[sig0].is_kw("SELECT"):
            return None
        depth = 0
        from_i = group_i = None
        for idx, tk in enumerate(tokens):
            if tk.kind == PUNCT and tk.text in "([{":
                depth += 1
            elif tk.kind == PUNCT and tk.text in ")]}":
                depth -= 1
            elif depth == 0 and tk.kind == IDENT:
                u = tk.upper
                if u == "FROM" and from_i is None:
                    from_i = idx
                elif u == "GROUP" and from_i is not None and group_i is None:
                    b = next_sig(tokens, idx)
                    if b < len(tokens) and tokens[b].is_kw("BY"):
                        group_i = idx
                elif u in ("HAVING", "QUALIFY", "WINDOW"):
                    return None
        if from_i is None or group_i is None:
            return None
        gkind = next_sig(tokens, next_sig(tokens, group_i))
        if gkind >= len(tokens) or tokens[gkind].kind != IDENT:
            return None
        kind = tokens[gkind].upper
        if kind == "GROUPING":
            s2 = next_sig(tokens, gkind)
            if s2 >= len(tokens) or not (
                tokens[s2].kind == IDENT and tokens[s2].upper == "SETS"
            ):
                return None
            o = next_sig(tokens, s2)
        elif kind in ("CUBE", "ROLLUP"):
            o = next_sig(tokens, gkind)
        else:
            return None
        if o >= len(tokens) or tokens[o].text != "(":
            return None
        c = match_forward(tokens, o, "(", ")")
        if kind == "GROUPING":
            # need an explicit empty () among the sets
            has_empty = False
            d2 = 0
            for k in range(o + 1, c):
                tk = tokens[k]
                if tk.kind == PUNCT and tk.text == "(":
                    n2 = next_sig(tokens, k)
                    if d2 == 0 and n2 < c and tokens[n2].text == ")":
                        has_empty = True
                    d2 += 1
                elif tk.kind == PUNCT and tk.text == ")":
                    d2 -= 1
            if not has_empty:
                return None
        tail = render(tokens[c + 1 :]).strip()
        if tail and not re.match(r"(?is)^(ORDER|LIMIT|OFFSET)\b", tail):
            return None
        select_list = render(tokens[next_sig(tokens, sig0) : from_i])
        if re.search(r"(?is)\bFILTER\b", select_list):
            return None
        src = render(tokens[from_i:group_i]).strip()
        branch1 = render(tokens[: c + 1]).strip()
        null_items: list[str] = []
        for item in _split_top_commas(select_list):
            itoks = tokenize(item)
            # strip a trailing "AS alias" (positional union needs no name)
            sig = [x for x in itoks if x.kind not in (WS, COMMENT)]
            if len(sig) >= 2 and sig[-2].kind == IDENT and sig[-2].upper == "AS":
                last = len(itoks) - 1
                while itoks[last].kind in (WS, COMMENT):
                    last -= 1
                prev = prev_sig(itoks, last)
                itoks = itoks[:prev]
            replaced = False
            j2 = 0
            while j2 < len(itoks):
                tk = itoks[j2]
                n2 = next_sig(itoks, j2)
                if (
                    tk.kind == IDENT
                    and n2 < len(itoks)
                    and itoks[n2].text == "("
                ):
                    cc = match_forward(itoks, n2, "(", ")")
                    if tk.upper == "COUNT":
                        itoks[j2 : cc + 1] = tokenize("0")
                        replaced = True
                        continue
                    if tk.upper in self._GS_NULL_AGGS:
                        itoks[j2 : cc + 1] = tokenize("NULL")
                        replaced = True
                        continue
                    if tk.upper in ("GROUPING", "GROUPING_ID"):
                        # on the empty grouping set every argument is
                        # grouped away: grouping(x)=1, grouping_id = all
                        # ones over its argument count
                        n_args = len(
                            _split_top_commas(render(itoks[n2 + 1 : cc]))
                        )
                        val = (
                            "1"
                            if tk.upper == "GROUPING"
                            else str((1 << max(n_args, 1)) - 1)
                        )
                        itoks[j2 : cc + 1] = tokenize(val)
                        replaced = True
                        continue
                j2 += 1
            if not replaced:
                # DuckDB's empty-set row NULLs group columns but emits
                # constant items verbatim (SELECT 'x' AS tag, count(*) ...
                # GROUP BY CUBE(...) keeps 'x' in the global row) — only
                # column-referencing items become NULL.
                if all(
                    tk.kind not in (IDENT, QIDENT)
                    or tk.upper in self._GS_CONST_WHITELIST
                    for tk in itoks
                ):
                    null_items.append(render(itoks).strip())
                else:
                    null_items.append("NULL")
                continue
            for tk in itoks:
                if tk.kind in (IDENT, QIDENT) and (
                    tk.upper not in self._GS_CONST_WHITELIST
                ):
                    return None  # stray column ref in a mixed item: bail
            null_items.append(render(itoks).strip())
        guard = f"WHERE NOT EXISTS (SELECT 1 {src})"
        return (
            f"{branch1} UNION ALL SELECT "
            + ", ".join(null_items)
            + f" {guard} {tail}"
        ).strip()

    def _system_sample_files(self, tokens: list[Token]) -> list[Token]:
        """DuckDB's default ``USING SAMPLE n%`` is SYSTEM sampling: whole
        storage blocks are kept or dropped, so only ~n% of the table is
        ever READ (reference behavior: duckdb sample clause, system
        method). A Bernoulli TABLESAMPLE scans 100% of the data and
        discards rows — proportionally correct, but the I/O does not
        shrink, which at 100 TB is the difference between reading 5 TB
        and reading 100 TB. For a pristine parquet-backed table (no DML
        since register — ``_table_files`` still holds its source) this
        prunes at the FILE level: keep ~n% of the table's parquet files,
        then thin inside the kept files with a residual Bernoulli rate so
        the expected overall fraction stays n%. Same block-correlation
        caveat as DuckDB's system sampling. Explicit bernoulli/reservoir
        methods and non-file-backed tables keep their existing paths."""
        import random as _random

        i = 0
        while i < len(tokens):
            t = tokens[i]
            if not t.is_kw("USING"):
                i += 1
                continue
            s = next_sig(tokens, i)
            if s >= len(tokens) or not tokens[s].is_kw("SAMPLE"):
                i += 1
                continue
            j = next_sig(tokens, s)
            if j >= len(tokens) or tokens[j].kind != NUMBER:
                i += 1
                continue
            num = float(tokens[j].text)
            k_next = next_sig(tokens, j)
            end = j
            if k_next < len(tokens) and (
                (tokens[k_next].kind == OP and tokens[k_next].text == "%")
                or tokens[k_next].is_kw("PERCENT")
            ):
                end = k_next
            else:
                i += 1
                continue  # ROWS forms: exact-reservoir path owns them
            method = None
            seed = None
            m = next_sig(tokens, end)
            if m < len(tokens) and tokens[m].kind == PUNCT and tokens[m].text == "(":
                c = match_forward(tokens, m, "(", ")")
                inner_ids = [tk for tk in tokens[m + 1 : c] if tk.kind == IDENT]
                inner_nums = [tk for tk in tokens[m + 1 : c] if tk.kind == NUMBER]
                if inner_ids:
                    method = inner_ids[0].text.lower()
                if inner_nums:
                    try:
                        seed = int(inner_nums[0].text)
                    except ValueError:
                        seed = None
                m_end = c
            else:
                m_end = end
            if method not in (None, "system") or not (0 < num < 100):
                i += 1
                continue
            p = prev_sig(tokens, i)
            parts: list[str] = []
            while p >= 0 and tokens[p].kind in (IDENT, QIDENT):
                parts.insert(0, tokens[p].text.strip('"'))
                q = prev_sig(tokens, p)
                if q >= 0 and tokens[q].kind == PUNCT and tokens[q].text == ".":
                    p = prev_sig(tokens, q)
                else:
                    break
            tname = ".".join(parts)
            key = self._resolve_table_key(tname) if parts else None
            if key is None or key not in self._table_files:
                i += 1
                continue
            cache = getattr(self, "_input_files_cache", None)
            if cache is None:
                cache = self._input_files_cache = {}
            ck = (key, self._catalog_epoch)
            files = cache.get(ck)
            if files is None:
                try:
                    files = list(self.table(tname).inputFiles())
                except Exception:  # noqa: BLE001 — non-scan plan: fall back
                    files = []
                cache[ck] = files
            n = len(files)
            kfiles = max(1, int(n * num / 100.0 + 0.5))
            if n < 4 or kfiles >= n:
                i += 1
                continue  # too coarse to prune: Bernoulli path is better
            rng = _random.Random(seed) if seed is not None else _random
            chosen = rng.sample(files, kfiles)
            sub = io_utils.read_parquet_files(
                self.spark, chosen, schema=self.table(tname).schema
            )
            view = self._fresh_view(sub)
            achieved = 100.0 * kfiles / n
            alias = parts[-1]
            if achieved > num + 1e-9:
                r = 100.0 * num / achieved
                rep = f" REPEATABLE ({seed})" if seed is not None else ""
                inner = f"{view} TABLESAMPLE ({r:.6f} PERCENT){rep}"
            else:
                inner = view
            repl = tokenize(f"(SELECT * FROM {inner}) AS {alias}")
            tokens = tokens[:p] + repl + tokens[m_end + 1 :]
            i = p + len(repl)
        return tokens

    def _flatten_qualified_names(self, tokens: list[Token]) -> list[Token]:
        """Rewrite table references to this session's prefixed temp views.

        Covers bare names (``FROM sales``) and qualified ``db.table``
        (S2, dev.json:276,308; ATTACH at :596). References are only
        rewritten in table-ref position (after FROM/JOIN/comma in a FROM
        list), so CTE names and aliases shadow naturally. A mapped ref
        without an explicit alias gains ``AS <original-name>`` so
        ``table.column`` qualifiers keep resolving.
        """
        out = list(tokens)
        self._cte_scopes = _collect_cte_scopes(out)
        self._cte_names = {n for n, _s, _e in self._cte_scopes}
        # right to left: a mapped ref leaves the earlier starts in place
        for j in reversed(from_item_starts(out)):
            out, _ = self._map_table_ref(out, j)
        return out

    def _map_table_ref(self, out: list[Token], j: int) -> tuple[list[Token], int]:
        """Try to map the identifier chain starting at j; returns (tokens,
        index-to-continue-from)."""
        if j >= len(out) or out[j].kind not in (IDENT, QIDENT):
            return out, j
        if out[j].kind == IDENT and out[j].upper in ("LATERAL", "UNNEST", "VALUES"):
            return out, j
        parts = [out[j].text.strip('"')]
        end = j
        k = next_sig(out, j)
        while (
            k < len(out)
            and out[k].kind == PUNCT
            and out[k].text == "."
        ):
            n = next_sig(out, k)
            if n < len(out) and out[n].kind in (IDENT, QIDENT):
                parts.append(out[n].text.strip('"'))
                end = n
                k = next_sig(out, n)
            else:
                break
        name = ".".join(parts)
        mangled = None
        if len(parts) == 1 and name.lower() in self._cte_overrides:
            # reference to a CTE this statement materialized to a view
            mangled = self._cte_overrides[name.lower()]
        elif len(parts) == 1 and name.lower() in self._cte_names:
            # CTE shadows the catalog table only WITHIN its scope (the
            # paren group holding the WITH — DuckDB subquery scoping).
            # Scopes are recomputed on the live token list because earlier
            # rewrites in this walk shift indices.
            for nm, s, e in _collect_cte_scopes(out):
                if nm == name.lower() and s <= j < e:
                    return out, j
            # same name is a CTE in a sibling scope -> catalog table here
        if mangled is None:
            key = self._resolve_table_key(name)
            if key is None and parts[0].lower() == "information_schema":
                self._ensure_information_schema()
                key = name
            if key is None:
                nxt0 = next_sig(out, end)
                if not (
                    nxt0 < len(out)
                    and out[nxt0].kind == PUNCT
                    and out[nxt0].text == "("
                ):
                    # FROM-position name outside this session's catalog
                    # (e.g. a temp view the caller made directly on the
                    # SparkSession): its content can change without any
                    # epoch bump, so the statement must not be plan-cached
                    self._unmanaged_ref_count += 1
                return out, j
        # a call like fn(...) is not a table ref
        nxt = next_sig(out, end)
        if nxt < len(out) and out[nxt].kind == PUNCT and out[nxt].text == "(":
            return out, j
        if mangled is None:
            mangled = self._view_name(key)
        alias_follows = nxt < len(out) and (
            out[nxt].is_kw("AS")
            or (
                out[nxt].kind in (IDENT, QIDENT)
                and out[nxt].upper not in (
                    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "JOIN",
                    "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "SEMI", "ANTI",
                    "ON", "USING", "UNION", "INTERSECT", "EXCEPT", "QUALIFY",
                    "WINDOW", "TABLESAMPLE", "NATURAL", "ASOF", "OFFSET",
                )
            )
        )
        sample_follows = nxt < len(out) and (
            out[nxt].is_kw("USING") or out[nxt].is_kw("TABLESAMPLE")
        )
        repl: list[Token] = [Token(IDENT, mangled)]
        if not alias_follows and not sample_follows:
            repl += [Token(WS, " "), Token(IDENT, "AS"), Token(WS, " "),
                     Token(IDENT, parts[-1])]
        out[j : end + 1] = repl
        return out, j + len(repl)

    def _ensure_information_schema(self) -> None:
        """U9: information_schema.tables / .columns views
        (/root/reference/examples/utils.py:16-27).

        Rebuilt lazily: only by a statement that names one of them, and
        only when the table map changed since the last build. A rebuild
        costs ~100 ms, and every DML statement changes the table map."""
        if not self._infoschema_dirty:
            return
        rows_t, rows_c = [], []
        for name, df in self._tables.items():
            tbl = name.rpartition(".")[2]
            rows_t.append(("memory", "main", tbl, "BASE TABLE"))
            # type text and nullability as DESCRIBE gives them: declared
            # ENUM / fixed-size array spellings, 'NO' only for declared
            # NOT NULL and PRIMARY KEY columns
            fixed = self._fixed_arrays.get(name)
            overrides = self._type_overrides.get(name)
            notnull = self._notnull_cols.get(name, set()) | self._pk_cols(name)
            for pos, f in enumerate(df.schema.fields, start=1):
                rows_c.append(
                    ("memory", "main", tbl, f.name, pos,
                     introspect._type_name(f, fixed, overrides),
                     "NO" if f.name.lower() in notnull else "YES")
                )
        st = T.StructType([
            T.StructField("table_catalog", T.StringType()),
            T.StructField("table_schema", T.StringType()),
            T.StructField("table_name", T.StringType()),
            T.StructField("table_type", T.StringType()),
        ])
        sc = T.StructType([
            T.StructField("table_catalog", T.StringType()),
            T.StructField("table_schema", T.StringType()),
            T.StructField("table_name", T.StringType()),
            T.StructField("column_name", T.StringType()),
            T.StructField("ordinal_position", T.IntegerType()),
            T.StructField("data_type", T.StringType()),
            T.StructField("is_nullable", T.StringType()),
        ])
        introspect.local_df(self.spark, rows_t, st).createOrReplaceTempView(
            self._view_name("information_schema.tables")
        )
        introspect.local_df(self.spark, rows_c, sc).createOrReplaceTempView(
            self._view_name("information_schema.columns")
        )
        self._infoschema_dirty = False

    # ------------------------------------------------------------- catalog

    def _view_name(self, name: str) -> str:
        return f"ddbs{self._sid}__" + name.replace(".", "__")

    def _resolve_table_key(self, name: str) -> Optional[str]:
        name = name.strip('"`')
        self._refresh_view(name)
        if name in self._tables:
            return name
        lowered = {k.lower(): k for k in self._tables}
        if name.lower() in lowered:
            return lowered[name.lower()]
        qual = f"{self._current_db}.{name}"
        if qual.lower() in lowered:
            return lowered[qual.lower()]
        # DuckDB resolves catalog-qualified names for ANY attached database,
        # including the primary one (connect('nyc.duckdb') makes both `taxi`
        # and `nyc.taxi` valid, dev.json:276). Strip a known database
        # qualifier and retry against the plain registrations.
        parts = name.split(".")
        if len(parts) >= 2 and parts[0].lower() in {
            d.lower() for d in self._databases
        }:
            return self._resolve_table_key(".".join(parts[1:]))
        # DuckDB's catalog search path also resolves a bare name against
        # every attached database when unambiguous (ATTACH 'ext.duckdb';
        # SELECT * FROM people → ext.people). Only TOP-LEVEL tables of
        # attached databases participate (key shape db.table with a known
        # db) — a bare name must not silently capture schema-qualified
        # tables DuckDB would reject without a search_path entry.
        # Ambiguous stays unresolved, as DuckDB errors there too.
        if len(parts) == 1:
            dbs = {d.lower() for d in self._databases}
            target = name.lower()
            hits = [
                k
                for k in self._tables
                if (kp := k.lower().split("."))
                and len(kp) == 2
                and kp[0] in dbs
                and kp[1] == target
            ]
            if len(hits) == 1:
                return hits[0]
        return None

    def _column_datatype(self, name: str):
        """Full Spark DataType of an unqualified column name (first
        table wins on cross-table collisions — same best-effort rule as
        _column_kinds). Uncached: only the unnest named-arg rewrite
        asks, and registrations would invalidate a cache anyway."""
        n = name.lower()
        for df in self._tables.values():
            for f in df.schema.fields:
                if f.name.lower() == n:
                    return f.dataType
        return None

    def _column_kinds(self) -> dict[str, str]:
        if self._kind_cache is not None:
            return self._kind_cache
        kinds: dict[str, str] = {}
        for df in self._tables.values():
            for f in df.schema.fields:
                k = (
                    "array"
                    if isinstance(f.dataType, T.ArrayType)
                    else "string"
                    if isinstance(f.dataType, T.StringType)
                    else "map"
                    if isinstance(f.dataType, T.MapType)
                    else "struct"
                    if isinstance(f.dataType, T.StructType)
                    else "float"
                    if isinstance(f.dataType, (T.DoubleType, T.FloatType))
                    else "decimal"
                    if isinstance(f.dataType, T.DecimalType)
                    else "int"
                    if isinstance(
                        f.dataType,
                        (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
                    )
                    else "timestamp"
                    if isinstance(
                        f.dataType, (T.TimestampType, T.TimestampNTZType)
                    )
                    else "other"
                )
                prev = kinds.get(f.name.lower())
                if prev is None or prev == k:
                    kinds[f.name.lower()] = k
                # conflicting kinds across tables: keep first (best effort)
        self._kind_cache = kinds
        return self._kind_cache

    def _register_managed(
        self, name: str, df: DataFrame, durable: bool = True
    ) -> None:
        if not durable:
            self._temp_tables.add(name)
        if name in self._temp_tables:
            durable = False  # DML on a temp table stays in-session
        if self._warehouse is not None and durable:
            # durable mode: copy-on-write parquet commit; the re-read scan
            # also truncates lineage, so no checkpoint cadence is needed
            meta = {
                "enum_cols": self._enum_cols.get(name),
                "type_overrides": self._type_overrides.get(name),
                "fixed_arrays": self._fixed_arrays.get(name),
                "defaults": self._defaults.get(name),
                "notnull": sorted(self._notnull_cols.get(name, ())),
                "checks": self._checks.get(name),
                "unique_keys": self._unique_keys.get(name),
                "foreign_keys": self._foreign_keys.get(name),
            }
            self.register(name, self._warehouse.save_table(
                self.spark, name, df, meta
            ))
            return
        # A tiny image whose every leaf is driver-local (CREATE TABLE,
        # INSERT VALUES and any DML over those) is stored as ONE
        # LocalRelation: reads run on the driver with zero tasks and the
        # next write starts from a single leaf, not a growing Union.
        if _all_leaves_local(df):
            local = _local_relation(self.spark, df, _capped_rows(self.spark, df))
            if local is not None:
                self.register(name, local)
                return
        # Otherwise each DML re-registration stacks a union/projection on
        # the table's plan; unbounded, the analyzer cost grows linearly per
        # statement (quadratic over a bulk-load loop). Every 16th write
        # truncates the lineage with an eager localCheckpoint — the
        # executor-block equivalent of a table rewrite.
        depth = self._dml_depth.get(name, 0) + 1
        self._dml_depth[name] = depth
        if depth % 16 == 0:
            try:
                df = df.localCheckpoint(eager=True)
            except Exception:  # noqa: BLE001 — keep the lazy plan on failure
                pass
        self.register(name, df)

    # ------------------------------------------------------------------ DDL

    def _create(self, sql: str) -> Optional[DataFrame]:
        tokens = tokenize(sql)
        sig = [i for i, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        words = [tokens[i].upper if tokens[i].kind == IDENT else tokens[i].text for i in sig]
        # CREATE [OR REPLACE] TABLE|VIEW [IF NOT EXISTS] name ...
        j = 1
        or_replace = False
        if words[j] == "OR" and words[j + 1] == "REPLACE":
            or_replace = True
            j += 2
        temp = False
        if words[j] in ("TEMP", "TEMPORARY"):
            # the in-session catalog IS temporary storage; a temp table
            # additionally never reaches the durable warehouse
            temp = True
            j += 1
        kind = words[j]  # TABLE | VIEW | DATABASE | SCHEMA | MACRO | INDEX
        j += 1
        if kind == "UNIQUE" and words[j] == "INDEX":
            kind = "INDEX"
            j += 1
        if kind == "INDEX":
            # CREATE [UNIQUE] INDEX [IF NOT EXISTS] name ON table (cols):
            # accepted and catalogued; physically a no-op (Spark's scan
            # pruning plays the role of secondary indexes)
            if words[j] == "IF":  # IF NOT EXISTS
                j += 3
                idx_ine = True
            else:
                idx_ine = False
            idx_name = tokens[sig[j]].text.strip('"`')
            j += 1
            if words[j] != "ON":
                raise ValueError(f"unsupported CREATE INDEX: {sql[:80]}")
            tbl_name = tokens[sig[j + 1]].text.strip('"`')
            if self._resolve_table_key(tbl_name) is None:
                raise KeyError(
                    f"Catalog Error: Table with name {tbl_name} does not exist!"
                )
            if idx_name in self._indexes and not idx_ine and not or_replace:
                raise ValueError(
                    f"Catalog Error: Index with name \"{idx_name}\" "
                    "already exists!"
                )
            self._indexes[idx_name] = tbl_name
            self._catalog_epoch += 1
            return None
        if kind in ("MACRO", "FUNCTION"):  # CREATE FUNCTION is DuckDB's alias
            return self._create_macro(tokens, sig, j, or_replace)
        if kind == "TYPE":  # CREATE TYPE mood AS ENUM ('sad', ...)
            return self._create_type(tokens, sig, j, or_replace)
        if kind == "SEQUENCE":
            return self._create_sequence(tokens, sig, j, or_replace)
        if kind in ("DATABASE", "SCHEMA"):
            # name follows IF NOT EXISTS (3 tokens) when present
            j2 = j + 3 if words[j] == "IF" else j
            self._databases.add(tokens[sig[j2]].text.strip('"`'))
            return None
        if words[j] == "IF":  # IF NOT EXISTS
            j += 3
            if_not_exists = True
        else:
            if_not_exists = False
        # qualified name
        name_parts = [tokens[sig[j]].text.strip('"`')]
        while j + 2 < len(sig) and tokens[sig[j + 1]].text == ".":
            name_parts.append(tokens[sig[j + 2]].text.strip('"`'))
            j += 2
        name = ".".join(name_parts)
        j += 1
        existing = self._resolve_table_key(name)
        if existing and if_not_exists:
            return None
        # fresh table definition: drop any constraint state left by a
        # previous same-name table (CREATE OR REPLACE / recreate-after-DROP)
        self._clear_table_meta(name, *( [existing] if existing else [] ))
        nxt = words[j] if j < len(sig) else ""
        cluster_keys: Optional[list[str]] = None
        n_buckets = 64
        if nxt == "CLUSTER" and j + 1 < len(sig) and words[j + 1] == "BY":
            # CLUSTER BY (k, ...) [INTO n BUCKETS] — engine extension
            # (SURVEY §2 has no DuckDB equivalent; single-node DuckDB
            # never needs an at-rest co-location property). CTAS through
            # this seam lands as a BUCKETED parquet table: joins between
            # two tables clustered on the same keys with the same bucket
            # count need NO exchange on either side — the fact⋈fact
            # shuffle eliminated at rest (sources/bucketed.py).
            j += 2
            if j >= len(sig) or tokens[sig[j]].text != "(":
                raise ValueError("CLUSTER BY requires a (column list)")
            c = match_forward(tokens, sig[j], "(", ")")
            cluster_keys = [
                t.text.strip('"`')
                for t in tokens[sig[j] + 1 : c]
                if t.kind in (IDENT, QIDENT)
            ]
            # advance j past the closing paren
            while j < len(sig) and sig[j] <= c:
                j += 1
            if (
                j + 2 < len(sig)
                and words[j] == "INTO"
                and words[j + 2] == "BUCKETS"
            ):
                n_buckets = int(tokens[sig[j + 1]].text)
                j += 3
            nxt = words[j] if j < len(sig) else ""
            if nxt != "AS" or kind != "TABLE" or not cluster_keys:
                raise ValueError(
                    "CLUSTER BY is supported on CREATE TABLE ... AS only"
                )
        if nxt == "AS":
            inner = render(tokens[sig[j] + 1 :]).strip()
            if inner.startswith("(") and inner.endswith(")"):
                inner = inner[1:-1]
            if cluster_keys is not None:
                from .sources import bucketed

                df = self._query(inner)
                cat_name = f"ddbs_bkt_{self._sid}_{name.replace('.', '_')}"
                out = bucketed.write_bucketed(
                    df, cat_name, cluster_keys, n_buckets
                )
                # registered as a live engine table backed by the bucketed
                # catalog table; its scans carry the bucket spec, so the
                # small-statement tuner's unknown-size big-mode default is
                # exactly right here (bucketing IS the at-scale path)
                self.register(name.lower(), out)
                return None
            if kind == "VIEW":
                # LIVE view: keep the DEFINITION and re-plan on catalog
                # changes (DuckDB views see base-table DML); a CTAS
                # table below stays a snapshot, as in DuckDB
                df = self._query(inner)
                self._view_defs[name.lower()] = inner
                self.register(name.lower(), df)
                self._view_fresh[name.lower()] = self._catalog_epoch
                if self._warehouse is not None and not temp:
                    self._warehouse.save_view(name.lower(), inner)
                return None
            df = self._query(inner)
            # CTAS materializes in DuckDB; _register_managed stores a tiny
            # all-local result as one LocalRelation and keeps anything over
            # files lazy — recomputed from columnar parquet by Catalyst.
            self._register_managed(name, df, durable=not temp)
            return None
        if nxt == "(":
            c = match_forward(tokens, sig[j], "(", ")")
            coldefs = self._parse_coldefs(tokens[sig[j] + 1 : c], name)
            empty = introspect.local_df(self.spark, [], coldefs)
            self._register_managed(name, empty, durable=not temp)
            return None
        raise ValueError(f"unsupported CREATE statement: {sql[:80]}")

    def _create_macro(
        self, tokens: list[Token], sig: list[int], j: int, or_replace: bool
    ) -> None:
        """CREATE [OR REPLACE] MACRO name(params) AS <expr> — DuckDB scalar
        macros, expanded inline at parse time (exactly DuckDB's own model:
        a macro is a stored expression template, not a runtime function).
        ``p := <default>`` parameters follow DuckDB's rules: they must
        come after the positional ones and can only be supplied BY NAME
        at the call site (tests/test_engine.py pins the call grammar)."""
        name = tokens[sig[j]].text.strip('"`').lower()
        j += 1
        if j >= len(sig) or tokens[sig[j]].text != "(":
            raise ValueError("CREATE MACRO requires a parameter list")
        c = match_forward(tokens, sig[j], "(", ")")
        params: list[str] = []
        defaults: dict[str, str] = {}
        for lo, hi in split_args(tokens, sig[j] + 1, c):
            ps = [
                (k, tokens[k])
                for k in range(lo, hi)
                if tokens[k].kind not in (WS, COMMENT)
            ]
            if not ps:
                continue
            if len(ps) == 1 and ps[0][1].kind in (IDENT, QIDENT):
                if defaults:
                    raise ValueError(
                        "positional macro parameters must precede "
                        ":= defaulted ones"
                    )
                params.append(ps[0][1].text.strip('"').lower())
                continue
            if (
                len(ps) >= 3
                and ps[0][1].kind in (IDENT, QIDENT)
                and ps[1][1].kind == PUNCT and ps[1][1].text == ":"
                and ps[2][1].kind == OP and ps[2][1].text == "="
            ):
                dtext = render(tokens[ps[2][0] + 1 : hi]).strip()
                if dtext:
                    defaults[ps[0][1].text.strip('"').lower()] = dtext
                    continue
            raise ValueError(
                "macro parameters must be simple names or "
                "name := <default expression>"
            )
        k = next_sig(tokens, c)
        if k >= len(tokens) or not tokens[k].is_kw("AS"):
            raise ValueError("CREATE MACRO ... AS <expression>")
        b = next_sig(tokens, k)
        if b < len(tokens) and tokens[b].is_kw("TABLE"):
            # DuckDB table macro: a stored QUERY template used in FROM
            # position (``FROM topn(3)``), expanded inline like scalar
            # macros but wrapped as a derived relation
            body = render(tokens[b + 1 :]).strip().rstrip(";").strip()
            # ONE macro namespace across scalar and table forms (DuckDB):
            # OR REPLACE must evict a same-named macro of the OTHER kind
            # too, or the stale entry keeps winning expansion (wave-15
            # fuzz find: a scalar fz15m4 shadowed its table replacement)
            if (
                name in self._table_macros or name in self._macros
            ) and not or_replace:
                raise ValueError(
                    f"Catalog Error: macro {name!r} already exists"
                )
            self._macros.pop(name, None)
            self._table_macros[name] = (params, body)
            self._macro_defaults[name] = defaults
            self._macro_epoch += 1
            return None
        body = render(tokens[k + 1 :]).strip().rstrip(";").strip()
        if (
            name in self._macros or name in self._table_macros
        ) and not or_replace:
            raise ValueError(f"Catalog Error: macro {name!r} already exists")
        self._table_macros.pop(name, None)
        self._macros[name] = (params, body)
        self._macro_defaults[name] = defaults
        self._macro_epoch += 1
        return None

    def _create_type(
        self, tokens: list[Token], sig: list[int], j: int, or_replace: bool
    ) -> None:
        """CREATE TYPE name AS ENUM ('v1', 'v2', ...). Enum columns store
        as VARCHAR with the member list enforced at INSERT and the
        declared rendering preserved for DESCRIBE/table_info."""
        name = tokens[sig[j]].text.strip('"`').lower()
        k = next_sig(tokens, sig[j])
        if k >= len(tokens) or not tokens[k].is_kw("AS"):
            raise ValueError("CREATE TYPE ... AS ENUM (...)")
        k = next_sig(tokens, k)
        if k >= len(tokens) or not (
            tokens[k].kind == IDENT and tokens[k].upper == "ENUM"
        ):
            # CREATE TYPE name AS <type> — a type ALIAS (round-12):
            # store the definition text; coldef/cast sites expand it,
            # matching DuckDB's own expansion in DESCRIBE
            ty_txt = render(tokens[k:]).strip().rstrip(";").strip()
            ty_txt = self._expand_alias_types_text(ty_txt)
            parse_duckdb_type(ty_txt)  # loud on garbage
            if (
                name in self._alias_types or name in self._enum_types
            ) and not or_replace:
                raise ValueError(
                    f"Catalog Error: type {name!r} already exists"
                )
            self._alias_types[name] = ty_txt
            return None
        k = next_sig(tokens, k)
        if k >= len(tokens) or tokens[k].text != "(":
            raise ValueError("ENUM requires a value list")
        c = match_forward(tokens, k, "(", ")")
        vals = [
            tk.text[1:-1].replace("''", "'")
            for tk in tokens[k + 1 : c]
            if tk.kind == STRING
        ]
        if not vals:
            raise ValueError("ENUM requires at least one value")
        if name in self._enum_types and not or_replace:
            raise ValueError(f"Catalog Error: type {name!r} already exists")
        self._enum_types[name] = vals
        return None

    def _drop_macro(self, name: str, if_exists: bool) -> None:
        found = self._macros.pop(name.lower(), None) is not None
        found = self._table_macros.pop(name.lower(), None) is not None or found
        self._macro_defaults.pop(name.lower(), None)
        if not found and not if_exists:
            raise KeyError(f"Catalog Error: Macro with name {name} does not exist!")
        self._macro_epoch += 1
        return None

    _MACRO_CLAUSE_KWS = frozenset(
        "WHERE GROUP ORDER LIMIT OFFSET HAVING QUALIFY WINDOW UNION "
        "INTERSECT EXCEPT JOIN INNER LEFT RIGHT FULL CROSS POSITIONAL "
        "ASOF SEMI ANTI ON USING NATURAL".split()
    )

    def _macro_alias_follows(self, tokens: list[Token], c: int) -> bool:
        """True when the table-macro call at ``)`` index ``c`` is already
        followed by a user alias ([AS] ident), so the expansion must not
        append its own."""
        k = next_sig(tokens, c)
        if k >= len(tokens):
            return False
        t = tokens[k]
        if t.is_kw("AS"):
            return True
        return t.kind in (IDENT, QIDENT) and t.upper not in self._MACRO_CLAUSE_KWS

    def _expand_macros(self, sql: str) -> str:
        """Inline-substitute macro calls (bounded rounds: macros may call
        macros, cycles terminate with the original text plus an eventual
        Spark parse error naming the unresolved function)."""
        if not self._macros and not self._table_macros:
            return sql
        for _ in range(8):
            tokens = tokenize(sql)
            out: list[Token] = []
            changed = False
            i = 0
            while i < len(tokens):
                t = tokens[i]
                is_scalar = t.kind == IDENT and t.text.lower() in self._macros
                is_table = (
                    t.kind == IDENT and t.text.lower() in self._table_macros
                )
                if is_scalar or is_table:
                    p = prev_sig(tokens, i)
                    dotted = p >= 0 and tokens[p].kind == PUNCT and tokens[p].text == "."
                    jx = next_sig(tokens, i)
                    if (
                        not dotted
                        and jx < len(tokens)
                        and tokens[jx].kind == PUNCT
                        and tokens[jx].text == "("
                    ):
                        c = match_forward(tokens, jx, "(", ")")
                        mname = t.text.lower()
                        params, body = (
                            self._macros[mname]
                            if is_scalar
                            else self._table_macros[mname]
                        )
                        defaults = self._macro_defaults.get(mname, {})
                        args: list[str] = []
                        named: dict[str, str] = {}
                        for lo, hi in split_args(tokens, jx + 1, c):
                            ks = [
                                k
                                for k in range(lo, hi)
                                if tokens[k].kind not in (WS, COMMENT)
                            ]
                            if (
                                len(ks) >= 3
                                and tokens[ks[0]].kind in (IDENT, QIDENT)
                                and tokens[ks[1]].kind == PUNCT
                                and tokens[ks[1]].text == ":"
                                and tokens[ks[2]].kind == OP
                                and tokens[ks[2]].text == "="
                            ):
                                named[
                                    tokens[ks[0]].text.strip('"').lower()
                                ] = render(tokens[ks[2] + 1 : hi]).strip()
                                continue
                            txt = render(tokens[lo:hi]).strip()
                            if txt:
                                args.append(txt)
                        # DuckDB rules: positional params are positional-
                        # only (exact count), defaulted params named-only
                        if len(args) != len(params):
                            raise ValueError(
                                f"macro {t.text} expects {len(params)} "
                                f"positional argument(s), got {len(args)}"
                            )
                        bad = set(named) - set(defaults)
                        if bad:
                            raise ValueError(
                                f"Binder Error: Macro {t.text} does not "
                                f"have default parameter "
                                f"{sorted(bad)[0]}!"
                            )
                        full_params = params + list(defaults)
                        full_args = args + [
                            named.get(p, defaults[p]) for p in defaults
                        ]
                        sub = _substitute_macro_params(
                            body, full_params, full_args
                        )
                        out.append(Token(PUNCT, "("))
                        out.extend(tokenize(sub))
                        out.append(Token(PUNCT, ")"))
                        if is_table and not self._macro_alias_follows(
                            tokens, c
                        ):
                            # derived relations need an alias in Spark;
                            # DuckDB exposes the macro's name
                            out.append(Token(WS, " "))
                            out.append(Token(IDENT, "AS"))
                            out.append(Token(WS, " "))
                            out.append(Token(IDENT, t.text.lower()))
                        i = c + 1
                        changed = True
                        continue
                out.append(t)
                i += 1
            if not changed:
                return sql
            sql = render(out)
        return sql

    def _parse_coldefs(self, tokens: list[Token], table: str) -> T.StructType:
        fields = []
        fixed: dict[str, int] = {}
        for lo, hi in split_args(tokens, 0, len(tokens)):
            sig = [tk for tk in tokens[lo:hi] if tk.kind not in (WS, COMMENT)]
            if not sig:
                continue
            head = sig[0]
            if head.kind == IDENT and head.upper in (
                "PRIMARY", "FOREIGN", "UNIQUE", "CHECK", "CONSTRAINT",
            ):
                # table-level constraint: record PRIMARY KEY / UNIQUE
                # column sets (conflict targets for INSERT OR REPLACE /
                # ON CONFLICT); FK/CHECK stay informational
                text = " ".join(tk.text for tk in sig)
                cm = re.match(
                    r"(?:CONSTRAINT\s+\S+\s+)?CHECK\s*\((.*)\)\s*$",
                    text,
                    re.IGNORECASE | re.DOTALL,
                )
                if cm:
                    self._checks.setdefault(table, []).append(cm.group(1))
                fm = re.match(
                    r"(?:CONSTRAINT\s+\S+\s+)?FOREIGN\s+KEY\s*\(([^)]*)\)\s*"
                    r"REFERENCES\s+([\w.\"]+)\s*\(([^)]*)\)",
                    text,
                    re.IGNORECASE,
                )
                if fm:
                    self._foreign_keys.setdefault(table, []).append((
                        [c.strip().strip('"`') for c in fm.group(1).split(",")],
                        fm.group(2).strip('"`'),
                        [c.strip().strip('"`') for c in fm.group(3).split(",")],
                    ))
                km = re.match(
                    r"(?:CONSTRAINT\s+\S+\s+)?(PRIMARY\s+KEY|UNIQUE)\s*\("
                    r"([^)]*)\)",
                    text,
                    re.IGNORECASE,
                )
                if km:
                    keycols = [
                        c.strip().strip('"`')
                        for c in km.group(2).split(",") if c.strip()
                    ]
                    keys = self._unique_keys.setdefault(table, [])
                    if km.group(1).upper().startswith("PRIMARY"):
                        keys.insert(0, keycols)
                        self._primary_keys[table] = keycols
                    else:
                        keys.append(keycols)
                continue
            col = head.text.strip('"`')
            # type tokens: until a constraint keyword
            ty_tokens = []
            for tk in sig[1:]:
                if tk.kind == IDENT and tk.upper in (
                    "PRIMARY", "NOT", "NULL", "UNIQUE", "DEFAULT",
                    "REFERENCES", "CHECK", "COLLATE",
                ):
                    break
                ty_tokens.append(tk)
            tail = sig[1 + len(ty_tokens):]
            tail_kws = {tk.upper for tk in tail if tk.kind == IDENT}
            if "DEFAULT" in tail_kws:
                # DEFAULT <expr>: tokens up to the next top-level
                # constraint keyword (expr may be parenthesized or a call)
                d = next(
                    k for k, tk in enumerate(tail)
                    if tk.kind == IDENT and tk.upper == "DEFAULT"
                )
                depth = 0
                expr_toks = []
                for tk in tail[d + 1:]:
                    if tk.kind == PUNCT and tk.text in "([{":
                        depth += 1
                    elif tk.kind == PUNCT and tk.text in ")]}":
                        depth -= 1
                    elif depth == 0 and tk.kind == IDENT and tk.upper in (
                        "PRIMARY", "NOT", "NULL", "UNIQUE", "REFERENCES",
                        "CHECK", "COLLATE",
                    ) and expr_toks:
                        break
                    expr_toks.append(tk)
                if expr_toks:
                    self._defaults.setdefault(table, {})[col.lower()] = (
                        " ".join(tk.text for tk in expr_toks)
                    )
            if "PRIMARY" in tail_kws:
                self._unique_keys.setdefault(table, []).insert(0, [col])
                self._primary_keys[table] = [col]
                # a PRIMARY KEY column is implicitly NOT NULL (DuckDB)
                self._notnull_cols.setdefault(table, set()).add(col.lower())
            elif "UNIQUE" in tail_kws:
                self._unique_keys.setdefault(table, []).append([col])
            if "NOT" in tail_kws and "NULL" in tail_kws:
                self._notnull_cols.setdefault(table, set()).add(col.lower())
            if "REFERENCES" in tail_kws:
                # column-level REFERENCES parent(pcol)
                rtext = " ".join(tk.text for tk in tail)
                rm = re.search(
                    r"REFERENCES\s+([\w.\"]+)\s*\(\s*([\w\"]+)\s*\)",
                    rtext,
                    re.IGNORECASE,
                )
                if rm:
                    self._foreign_keys.setdefault(table, []).append(
                        ([col], rm.group(1).strip('"`'),
                         [rm.group(2).strip('"`')])
                    )
            if "CHECK" in tail_kws:
                # column-level CHECK ( expr )
                d = next(
                    k for k, tk in enumerate(tail)
                    if tk.kind == IDENT and tk.upper == "CHECK"
                )
                o2 = next_sig(tail, d)
                if o2 < len(tail) and tail[o2].text == "(":
                    c2 = match_forward(tail, o2, "(", ")")
                    self._checks.setdefault(table, []).append(
                        render(tail[o2 + 1 : c2])
                    )
            ty_str = "".join(
                (" " + tk.text + " ") if tk.kind == IDENT else tk.text
                for tk in ty_tokens
            ).strip()
            ty_str = re.sub(r"\s+", " ", ty_str).replace("( ", "(").replace(" )", ")")
            enum_vals = self._enum_values_for_type(ty_str)
            if enum_vals is not None:
                dt: T.DataType = T.StringType()
                self._enum_cols.setdefault(table, {})[col] = enum_vals
                rendered = "ENUM(" + ", ".join(
                    "'" + v.replace("'", "''") + "'" for v in enum_vals
                ) + ")"
                self._type_overrides.setdefault(table, {})[col] = rendered
            else:
                ty_str = self._expand_alias_types_text(ty_str)
                dt = parse_duckdb_type(ty_str)
                if re.match(r"^UNION\s*\(", ty_str, re.IGNORECASE):
                    # keep the declared UNION(...) text for DESCRIBE /
                    # table_info — the Spark struct encoding can't carry it
                    rendered = re.sub(r"^UNION\s*\(", "UNION(", ty_str,
                                      flags=re.IGNORECASE)
                    rendered = re.sub(r"\s*,\s*", ", ", rendered)
                    self._type_overrides.setdefault(table, {})[col] = rendered
                elif re.fullmatch(
                    r"TIMESTAMPTZ|TIMESTAMP\s+WITH\s+TIME\s+ZONE",
                    ty_str, re.IGNORECASE,
                ):
                    # stored as a plain (UTC-pinned) TIMESTAMP; DESCRIBE
                    # keeps DuckDB's declared spelling
                    self._type_overrides.setdefault(table, {})[col] = (
                        "TIMESTAMP WITH TIME ZONE"
                    )
            fl = fixed_array_length(ty_str)
            if fl:
                fixed[col] = fl
            fields.append(T.StructField(col, dt, True))
        if fixed:
            self._fixed_arrays[table] = fixed
        return T.StructType(fields)

    def _expand_alias_types_text(self, ty: str) -> str:
        """Substitute CREATE TYPE aliases (standalone words, case-
        insensitive) with their definitions, recursively (bounded)."""
        if not self._alias_types:
            return ty
        for _ in range(10):
            new = ty
            for name, defn in self._alias_types.items():
                new = re.sub(
                    rf"(?i)\b{re.escape(name)}\b", defn, new
                )
            if new == ty:
                break
            ty = new
        return ty

    def _expand_alias_type_casts(self, tokens: list[Token]) -> list[Token]:
        """Expand alias-type names in CAST positions (after ``::`` or as
        the type word of CAST/TRY_CAST) before the rewrite pipeline."""
        if not self._alias_types:
            return tokens
        out = list(tokens)
        i = 0
        while i < len(out):
            t = out[i]
            if (
                t.kind == IDENT
                and t.text.lower() in self._alias_types
            ):
                p = prev_sig(out, i)
                cast_pos = p >= 0 and out[p].kind == OP and out[p].text == "::"
                if not cast_pos and p >= 0 and (
                    out[p].kind == IDENT and out[p].upper == "AS"
                ):
                    # CAST(x AS <alias>) — require a CAST/TRY_CAST call
                    # enclosing this AS (a select-item alias that merely
                    # shares the name must stay untouched)
                    depth = 0
                    for k in range(p - 1, -1, -1):
                        tk = out[k]
                        if tk.kind == PUNCT and tk.text in ")]}":
                            depth += 1
                        elif tk.kind == PUNCT and tk.text in "([{":
                            if depth == 0:
                                f = prev_sig(out, k)
                                cast_pos = (
                                    f >= 0
                                    and out[f].kind == IDENT
                                    and out[f].upper in ("CAST", "TRY_CAST")
                                )
                                break
                            depth -= 1
                if cast_pos:
                    new = tokenize(self._alias_types[t.text.lower()])
                    out = out[:i] + new + out[i + 1 :]
                    i += len(new)
                    continue
            i += 1
        return out

    def _enum_values_for_type(self, ty_str: str) -> Optional[list[str]]:
        """Member list when ty_str is an inline ENUM(...) or a CREATE TYPE
        enum alias; None for every ordinary type."""
        m = re.match(r"^ENUM\s*\((.*)\)$", ty_str, re.IGNORECASE | re.DOTALL)
        if m:
            return [
                v.strip()[1:-1].replace("''", "'")
                for v in _split_top_commas(m.group(1))
                if v.strip().startswith("'")
            ]
        return self._enum_types.get(ty_str.strip().lower())

    def _comment(self, sql: str) -> None:
        """COMMENT ON TABLE|VIEW|COLUMN target IS 'text' — stored in the
        session catalog and surfaced by duckdb_tables()/duckdb_columns();
        IS NULL clears the comment (DuckDB semantics)."""
        m = re.match(
            r"\s*COMMENT\s+ON\s+(TABLE|VIEW|COLUMN)\s+(.+?)\s+IS\s+"
            r"(NULL|'(?:[^']|'')*')\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported COMMENT statement: {sql[:80]}")
        kind, target, lit = m.group(1).upper(), m.group(2).strip(), m.group(3)
        text = None if lit.upper() == "NULL" else lit[1:-1].replace("''", "'")
        self._catalog_epoch += 1  # duckdb_tables()/columns() reflect this
        if kind == "COLUMN":
            tbl, _, col = target.rpartition(".")
            key = self._resolve_table_key(tbl.strip('"`'))
            if key is None:
                raise KeyError(
                    f"Catalog Error: Table with name {tbl} does not exist!"
                )
            ckey = ("column", key, col.strip('"`').lower())
            if text is None:
                self._comments.pop(ckey, None)
            else:
                self._comments[ckey] = text
            return None
        key = self._resolve_table_key(target.strip('"`'))
        if key is None:
            raise KeyError(
                f"Catalog Error: Table with name {target} does not exist!"
            )
        tkey = ("table", key)
        if text is None:
            self._comments.pop(tkey, None)
        else:
            self._comments[tkey] = text
        return None

    def _drop(self, sql: str) -> None:
        m = re.match(
            r"\s*DROP\s+(TABLE|VIEW|MACRO|FUNCTION|TYPE|SEQUENCE|INDEX)\s+(IF\s+EXISTS\s+)?(.+?)\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported DROP: {sql[:80]}")
        name = m.group(3).strip().strip('"`')
        if m.group(1).upper() in ("MACRO", "FUNCTION"):
            return self._drop_macro(name, bool(m.group(2)))
        if m.group(1).upper() == "TYPE":
            if self._alias_types.pop(name.lower(), None) is not None:
                return None
            if self._enum_types.pop(name.lower(), None) is None and not m.group(2):
                raise KeyError(
                    f"Catalog Error: Type with name {name} does not exist!"
                )
            return None
        if m.group(1).upper() == "SEQUENCE":
            if self._sequences.pop(name.lower(), None) is None and not m.group(2):
                raise KeyError(
                    f"Catalog Error: Sequence with name {name} does not exist!"
                )
            return None
        if m.group(1).upper() == "INDEX":
            if self._indexes.pop(name, None) is None and not m.group(2):
                raise KeyError(
                    f"Catalog Error: Index with name {name} does not exist!"
                )
            self._catalog_epoch += 1
            return None
        key = self._resolve_table_key(name)
        if key is None:
            if m.group(2):
                return None
            raise KeyError(f"Catalog Error: Table with name {name} does not exist!")
        del self._tables[key]
        self._table_files.pop(key, None)
        self._catalog_epoch += 1
        self._clear_table_meta(key, name)
        self._temp_tables.discard(key)
        self._temp_tables.discard(name)
        for v in (key, name, key.lower(), name.lower()):
            if self._view_defs.pop(v, None) is not None:
                self._view_fresh.pop(v, None)
                if self._warehouse is not None:
                    self._warehouse.drop_view(v)
        self._indexes = {
            k: v for k, v in self._indexes.items() if v not in (key, name)
        }
        self._comments = {
            k: v for k, v in self._comments.items() if k[1] not in (key, name)
        }
        if self._warehouse is not None:
            self._warehouse.drop_table(key)
        self.spark.catalog.dropTempView(self._view_name(key))
        self._kind_cache = None
        self._infoschema_dirty = True
        return None

    def _clear_table_meta(self, *names: str) -> None:
        """Forget per-table constraint/type state (ENUM members, rendered
        type overrides, fixed-array lengths, DML lineage depth) so a
        recreated same-name table doesn't inherit the old table's
        constraints (false 'Conversion Error' on valid INSERTs, stale
        DESCRIBE rendering)."""
        for n in names:
            self._enum_cols.pop(n, None)
            self._type_overrides.pop(n, None)
            self._fixed_arrays.pop(n, None)
            self._dml_depth.pop(n, None)
            self._unique_keys.pop(n, None)
            self._defaults.pop(n, None)
            self._notnull_cols.pop(n, None)
            self._checks.pop(n, None)
            self._foreign_keys.pop(n, None)

    # ------------------------------------------------------------------ DML

    def _insert(self, sql: str) -> DataFrame:
        sql, returning = self._split_returning(sql)
        tokens = tokenize(sql)
        sig = [i for i, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        # INSERT [OR REPLACE|OR IGNORE] INTO name [(cols)] <query>
        # [ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET ...]
        conflict_mode: Optional[str] = None  # "replace" | "ignore" | "update"
        conflict_cols: Optional[list[str]] = None
        conflict_set: Optional[str] = None
        conflict_where: Optional[str] = None
        j = 1
        if tokens[sig[j]].is_kw("OR"):
            word = tokens[sig[j + 1]].upper
            conflict_mode = {"REPLACE": "replace", "IGNORE": "ignore"}.get(word)
            if conflict_mode is None:
                raise ValueError(f"unsupported INSERT OR {word}")
            j += 2
        if not tokens[sig[j]].is_kw("INTO"):
            raise ValueError(f"unsupported INSERT: {sql[:80]}")
        # trailing ON CONFLICT clause: split it off the source query text
        depth = 0
        for p, i in enumerate(sig):
            t = tokens[i]
            if t.text in "([{":
                depth += 1
            elif t.text in ")]}":
                depth -= 1
            elif (
                depth == 0
                and t.is_kw("ON")
                and p + 1 < len(sig)
                and tokens[sig[p + 1]].is_kw("CONFLICT")
            ):
                clause = render(tokens[i:]).strip().rstrip(";")
                (conflict_mode, conflict_cols, conflict_set,
                 conflict_where) = self._parse_on_conflict(clause)
                tokens = tokens[:i]
                sig = sig[:p]
                break
        j += 1  # past INTO
        name_parts = [tokens[sig[j]].text.strip('"`')]
        while j + 2 < len(sig) and tokens[sig[j + 1]].text == ".":
            name_parts.append(tokens[sig[j + 2]].text.strip('"`'))
            j += 2
        name = ".".join(name_parts)
        j += 1
        cols: Optional[list[str]] = None
        by_name = False
        if (
            j + 1 < len(sig)
            and tokens[sig[j]].is_kw("BY")
            and tokens[sig[j + 1]].is_kw("NAME")
        ):
            # INSERT INTO t BY NAME <query>: align the source's columns
            # by NAME (missing target columns fill NULL), DuckDB's
            # by-name insert
            by_name = True
            j += 2
        if j < len(sig) and tokens[sig[j]].text == "(":
            c = match_forward(tokens, sig[j], "(", ")")
            # a column list only if next significant after ')' starts a query
            after = next_sig(tokens, c)
            if after < len(tokens) and tokens[after].is_kw("VALUES", "SELECT", "WITH", "FROM"):
                cols = [
                    tk.text.strip('"`')
                    for tk in tokens[sig[j] + 1 : c]
                    if tk.kind == IDENT or tk.kind == STRING
                ]
                j_pos = after
            else:
                j_pos = sig[j]
        else:
            j_pos = sig[j]
        target = self.table(name)
        key = self._resolve_table_key(name)
        defaults = self._defaults.get(key) or self._defaults.get(name)
        src_text = render(tokens[j_pos:]).strip().rstrip(";").strip()
        if re.fullmatch(r"DEFAULT\s+VALUES", src_text, re.IGNORECASE):
            # INSERT INTO t DEFAULT VALUES: one row of declared defaults
            # (NULL where no default is declared)
            parts = []
            for f in target.schema.fields:
                d = (defaults or {}).get(f.name.lower())
                parts.append(
                    f"({d}) AS \"{f.name}\"" if d else f"NULL AS \"{f.name}\""
                )
            src = self._query("SELECT " + ", ".join(parts))
            cols = None
        else:
            if re.search(r"\bDEFAULT\b", src_text, re.IGNORECASE):
                src_text = self._replace_default_keywords(
                    src_text, target, cols, defaults
                )
            src_sql = self._expand_union_values_for_insert(
                src_text, target, cols
            )
            src = self._query(src_sql)
        if by_name:
            cols = list(src.columns)
        aligned = self._align_insert(src, target, cols, defaults, table_name=name)
        self._check_fixed_arrays(key, aligned)
        self._check_enums(key, aligned)
        self._enforce_constraints(
            key, aligned,
            whole=target.unionByName(aligned),
            skip_unique=conflict_mode is not None,
        )
        self._enforce_fk_insert(key, aligned)
        if conflict_mode is not None:
            if returning is not None:
                raise NotImplementedError(
                    "RETURNING with ON CONFLICT / OR REPLACE / OR IGNORE "
                    "is not supported"
                )
            return self._apply_conflict_insert(
                key, target, aligned, conflict_mode, conflict_cols,
                conflict_set, conflict_where,
            )
        self._register_managed(key, target.unionByName(aligned))
        if returning is not None:
            return self._returning_result(
                aligned, returning, name.split(".")[-1]
            )
        # DuckDB reports the inserted row count; keep it lazy — a count job
        # per INSERT serializes bulk-load loops, and callers that ignore the
        # result (the common case) should pay zero jobs
        return aligned.agg(F.count(F.lit(1)).alias("Count"))

    def _split_returning(self, sql: str) -> tuple[str, Optional[str]]:
        """Strip a trailing depth-0 ``RETURNING <exprs>`` clause (DuckDB
        DML statements report the affected rows through it)."""
        cl = _dml_clauses(sql, ("RETURNING",))
        if "RETURNING" not in cl:
            return sql, None
        return cl[""], cl["RETURNING"] or "*"

    def _returning_result(
        self, rows: DataFrame, clause: str, alias: Optional[str] = None
    ) -> DataFrame:
        """Evaluate a RETURNING clause over the touched rows. ``alias``
        re-binds the target table's bare name so qualified references
        (``RETURNING t.k``) resolve like DuckDB's (round-12 probe
        find via DELETE..USING)."""
        view = self._fresh_view(rows)
        tail = f' AS "{alias}"' if alias else ""
        return self._query(f"SELECT {clause} FROM {view}{tail}")

    def _parse_on_conflict(
        self, clause: str
    ) -> tuple[str, Optional[list[str]], Optional[str], Optional[str]]:
        """``ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET <list>
        [WHERE <cond>]`` — the WHERE makes the upsert conditional
        (round-12 probe find): conflicting rows that fail it keep the
        EXISTING row, and the incoming row is dropped, like DuckDB."""
        m = re.match(
            r"ON\s+CONFLICT\s*(\(([^)]*)\))?\s*DO\s+(NOTHING|UPDATE\s+SET\s+"
            r"(.*))\s*$",
            clause,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported ON CONFLICT clause: {clause[:80]}")
        cols = (
            [c.strip().strip('"`') for c in m.group(2).split(",") if c.strip()]
            if m.group(2)
            else None
        )
        if m.group(3).upper() == "NOTHING":
            return "ignore", cols, None, None
        cl = _dml_clauses(m.group(4), ("WHERE",))
        return "update", cols, cl[""], cl.get("WHERE")

    def _apply_conflict_insert(
        self,
        key: str,
        target: DataFrame,
        aligned: DataFrame,
        mode: str,
        conflict_cols: Optional[list[str]],
        set_sql: Optional[str],
        where_sql: Optional[str] = None,
    ) -> DataFrame:
        """INSERT OR REPLACE / OR IGNORE / ON CONFLICT semantics as ONE
        shuffled join pass (no per-row lookups): the conflict key drives a
        hash join between the incoming batch and the table — at cluster
        scale both sides shuffle on the key, the same plan a MERGE takes.

        Incoming rows that conflict with EACH OTHER keep one winner via
        ``dropDuplicates(keys)`` (DuckDB raises on that case for DO
        UPDATE; the looser behavior is documented rather than hidden)."""
        keys = conflict_cols or (
            self._unique_keys.get(key, [None]) or [None]
        )[0]
        if not keys:
            raise ValueError(
                "Binder Error: ON CONFLICT requires a PRIMARY KEY / UNIQUE "
                "constraint or an explicit conflict target"
            )
        incoming = aligned.dropDuplicates(keys)
        if mode == "ignore":
            fresh = incoming.join(
                target.select(*keys).distinct(), keys, "left_anti"
            )
            self._register_managed(key, target.unionByName(fresh))
            return self._count_df(-1)
        if mode == "replace":
            kept = target.join(
                incoming.select(*keys).distinct(), keys, "left_anti"
            )
            self._register_managed(key, kept.unionByName(incoming))
            return self._count_df(-1)
        # DO UPDATE SET: evaluate set expressions with Postgres/DuckDB
        # scoping — unqualified names are the TARGET row, ``excluded.c``
        # is the incoming row
        marker = "__conflict_marker__"
        exc = incoming.withColumn(marker, F.lit(1))
        exc_view = self._fresh_view(exc)
        tgt_view = self._view_name(key)
        tcols = [f.name for f in target.schema.fields]
        table = key.rpartition(".")[2]
        set_map = {
            c: _qualify_conflict_refs(e, tcols, table)
            for c, e in parse_set_list(set_sql, tcols).items()
        }
        on = " AND ".join(f"__tgt.{k} <=> excluded.{k}" for k in keys)
        upd_cond = f"excluded.{marker} IS NOT NULL"
        if where_sql:
            # conditional upsert: target refs qualify like SET's
            upd_cond += f" AND ({_qualify_conflict_refs(where_sql, tcols, table)})"
        proj = []
        for f in target.schema.fields:
            c = f.name
            if c in set_map:
                # cast like UPDATE: the column keeps its declared type
                proj.append(
                    f"CAST(CASE WHEN {upd_cond} THEN ({set_map[c]}) ELSE "
                    f"__tgt.{c} END AS {f.dataType.simpleString()}) AS {c}"
                )
            else:
                proj.append(f"__tgt.{c} AS {c}")
        kept_sql = (
            f"SELECT {', '.join(proj)} FROM {tgt_view} AS __tgt "
            f"LEFT JOIN {exc_view} AS excluded ON {on}"
        )
        kept = self._query(kept_sql)
        fresh = incoming.join(
            target.select(*keys).distinct(), keys, "left_anti"
        )
        self._register_managed(
            key, kept.unionByName(fresh, allowMissingColumns=False)
        )
        return self._count_df(-1)

    def _replace_default_keywords(
        self,
        src_text: str,
        target: DataFrame,
        cols: Optional[list[str]],
        defaults: Optional[dict[str, str]],
    ) -> str:
        """``INSERT INTO t VALUES (DEFAULT, 2)`` — a bare DEFAULT keyword
        in a VALUES cell takes the column's declared default (NULL when
        none is declared), exactly DuckDB's per-cell form of the
        DEFAULT VALUES statement (round-11 probe find). Only the VALUES
        source form supports it; anything else passes through."""
        toks = tokenize(src_text)
        sig0 = next_sig(toks, -1)
        if sig0 >= len(toks) or not toks[sig0].is_kw("VALUES"):
            return src_text
        tfields = target.schema.fields
        if cols is not None:
            by_name = {f.name.lower(): f for f in tfields}
            pos_fields = [by_name.get(c.lower()) for c in cols]
        else:
            pos_fields = list(tfields)
        out = list(toks)
        k = next_sig(out, sig0)
        while k < len(out) and out[k].kind == PUNCT and out[k].text == "(":
            # replace DEFAULT cells one at a time, re-splitting after
            # each replacement (token spans shift)
            while True:
                c = match_forward(out, k, "(", ")")
                hit = None
                for idx, (lo, hi) in enumerate(split_args(out, k + 1, c)):
                    cell = [
                        tk
                        for tk in out[lo:hi]
                        if tk.kind not in (WS, COMMENT)
                    ]
                    if (
                        len(cell) == 1
                        and cell[0].kind == IDENT
                        and cell[0].upper == "DEFAULT"
                    ):
                        hit = (idx, lo, hi)
                        break
                if hit is None:
                    break
                idx, lo, hi = hit
                f = pos_fields[idx] if idx < len(pos_fields) else None
                d = (
                    (defaults or {}).get(f.name.lower())
                    if f is not None
                    else None
                )
                repl = (
                    f"({d})"
                    if d
                    else (
                        f"CAST(NULL AS {f.dataType.simpleString()})"
                        if f is not None
                        else "NULL"
                    )
                )
                out = out[:lo] + tokenize(repl) + out[hi:]
            c = match_forward(out, k, "(", ")")
            k = next_sig(out, c)
            if k < len(out) and out[k].kind == PUNCT and out[k].text == ",":
                k = next_sig(out, k)
            else:
                break
        return render(out)

    def _expand_union_values_for_insert(
        self, src_sql: str, target: DataFrame, cols: Optional[list[str]]
    ) -> str:
        """Widen ``union_value(tag := v)`` calls inside an INSERT's VALUES
        rows to the target union column's FULL struct shape.

        Each union_value alone encodes only its active member, so two rows
        activating different members produce differently-shaped structs and
        Spark's inline-table resolution rejects them (DuckDB unifies via
        the declared column type). The insert path knows that type, so the
        call expands to named_struct over every member with typed NULLs."""
        if "union_value" not in src_sql.lower():
            return src_sql
        tfields = target.schema.fields
        if cols is not None:
            by_name = {f.name.lower(): f for f in tfields}
            pos_fields = [by_name.get(c.lower()) for c in cols]
        else:
            pos_fields = list(tfields)
        toks = tokenize(src_sql)
        sig = [i for i, t in enumerate(toks) if t.kind not in (WS, COMMENT)]
        if not sig or not toks[sig[0]].is_kw("VALUES"):
            return src_sql
        out_rows: list[str] = []
        k = next_sig(toks, sig[0])
        while k < len(toks) and toks[k].kind == PUNCT and toks[k].text == "(":
            c = match_forward(toks, k, "(", ")")
            exprs = []
            for idx, (lo, hi) in enumerate(split_args(toks, k + 1, c)):
                txt = render(toks[lo:hi]).strip()
                f = pos_fields[idx] if idx < len(pos_fields) else None
                m = re.match(
                    r"^union_value\s*\(\s*(\w+)\s*:=\s*(.*)\)\s*$",
                    txt,
                    re.IGNORECASE | re.DOTALL,
                )
                if (
                    m
                    and f is not None
                    and isinstance(f.dataType, T.StructType)
                    and f.dataType.fields
                    and f.dataType.fields[0].name == "__utag"
                ):
                    tag, val = m.group(1), m.group(2).strip()
                    parts = [f"'__utag', '{tag}'"]
                    for mf in f.dataType.fields[1:]:
                        if mf.name.lower() == tag.lower():
                            parts.append(f"'{mf.name}', {val}")
                        else:
                            parts.append(
                                f"'{mf.name}', CAST(NULL AS {mf.dataType.simpleString()})"
                            )
                    txt = "named_struct(" + ", ".join(parts) + ")"
                exprs.append(txt)
            out_rows.append("(" + ", ".join(exprs) + ")")
            k = next_sig(toks, c)
            if k < len(toks) and toks[k].kind == PUNCT and toks[k].text == ",":
                k = next_sig(toks, k)
            else:
                break
        if not out_rows:
            return src_sql
        return "VALUES " + ", ".join(out_rows)

    def _align_insert(
        self,
        src: DataFrame,
        target: DataFrame,
        cols: Optional[list[str]],
        defaults: Optional[dict[str, str]] = None,
        table_name: str = "?",
        enforce_width: bool = True,
    ) -> DataFrame:
        tfields = target.schema.fields
        if cols is not None:
            # DuckDB binder checks, in its order: unknown column, dup
            # column, then column-list/value width (fuzz_dml seed 31
            # caught the silent accept of all three)
            tnames = {f.name.lower() for f in tfields}
            seen: set[str] = set()
            for c in cols:
                if c.lower() not in tnames:
                    raise ValueError(
                        f'Binder Error: Table "{table_name}" does not have '
                        f'a column with name "{c}"'
                    )
                if c.lower() in seen:
                    raise ValueError(
                        f'Binder Error: Duplicate column name "{c}" in INSERT'
                    )
                seen.add(c.lower())
            if enforce_width and len(cols) != len(src.columns):
                raise ValueError(
                    f"Binder Error: Column name/value mismatch for insert "
                    f"on {table_name}: expected {len(cols)} columns but "
                    f"{len(src.columns)} values were supplied"
                )
        # source columns align by POSITION: a generated name such as
        # ``round(sum(x), 2)`` (or a repeated one) does not resolve back
        # through F.col
        src = src.toDF(*[f"__src{i}" for i in range(len(src.columns))])
        src_types = {f.name: f.dataType for f in src.schema.fields}

        def coerce(src_col: str, tgt: T.StructField):
            col = F.col(src_col)
            st = src_types.get(src_col)
            # struct widening: a value struct whose fields are a subset of
            # the target's (e.g. union_value's single-member encoding into
            # a UNION column) NULL-fills the missing members — Spark's
            # struct cast requires equal field counts
            if (
                isinstance(tgt.dataType, T.StructType)
                and isinstance(st, T.StructType)
                and len(st.fields) < len(tgt.dataType.fields)
            ):
                have = {f.name.lower(): f.name for f in st.fields}
                if set(have) <= {f.name.lower() for f in tgt.dataType.fields}:
                    parts = []
                    for f in tgt.dataType.fields:
                        if f.name.lower() in have:
                            parts.append(
                                col.getField(have[f.name.lower()])
                                .cast(f.dataType)
                                .alias(f.name)
                            )
                        else:
                            parts.append(
                                F.lit(None).cast(f.dataType).alias(f.name)
                            )
                    return F.when(col.isNotNull(), F.struct(*parts)).alias(
                        tgt.name
                    )
            return col.cast(tgt.dataType).alias(tgt.name)

        if cols is None:
            if len(src.columns) != len(tfields):
                raise ValueError(
                    f"Binder Error: table {table_name} has {len(tfields)} "
                    f"columns but {len(src.columns)} values were supplied"
                )
            return src.select(
                *[coerce(s, f) for s, f in zip(src.columns, tfields)]
            )
        by_name = dict(zip([c.lower() for c in cols], src.columns))
        exprs = []
        for f in tfields:
            if f.name.lower() in by_name:
                exprs.append(coerce(by_name[f.name.lower()], f))
            elif defaults and f.name.lower() in defaults:
                dexpr = rewrites.rewrite_sql(
                    defaults[f.name.lower()], self._resolver
                )
                exprs.append(F.expr(dexpr).cast(f.dataType).alias(f.name))
            else:
                exprs.append(F.lit(None).cast(f.dataType).alias(f.name))
        return src.select(*exprs)

    def _enforce_constraints(
        self,
        key: str,
        new_rows: DataFrame,
        whole: Optional[DataFrame] = None,
        skip_unique: bool = False,
    ) -> None:
        """DuckDB-style constraint enforcement: NOT NULL and CHECK over
        the rows being added/changed, PRIMARY KEY/UNIQUE over the
        resulting table (``whole``). Tables without declared constraints
        pay ZERO jobs — each violated class raises DuckDB's
        'Constraint Error' shape."""
        nn = self._notnull_cols.get(key) or set()
        cols_lower = {c.lower(): c for c in new_rows.columns}
        hit = [cols_lower[c] for c in nn if c in cols_lower]
        if hit:
            cond = F.col(hit[0]).isNull()
            for c in hit[1:]:
                cond = cond | F.col(c).isNull()
            bad = new_rows.filter(cond).limit(1).collect()
            if bad:
                col = next(c for c in hit if bad[0][c] is None)
                raise ValueError(
                    f"Constraint Error: NOT NULL constraint failed: "
                    f"{key}.{col}"
                )
        for expr in self._checks.get(key, []):
            rewritten = rewrites.rewrite_sql(expr, self._resolver)
            if new_rows.filter(
                f"NOT coalesce(({rewritten}), true)"
            ).limit(1).count():
                raise ValueError(
                    f"Constraint Error: CHECK constraint failed: {key}"
                )
        if skip_unique:
            return
        for keycols in self._unique_keys.get(key, []):
            t = whole if whole is not None else new_rows
            have = [cols_lower.get(c.lower(), c) for c in keycols]
            if not all(c in t.columns for c in have):
                continue
            dup = (
                t.na.drop(subset=have)
                .groupBy(*have)
                .count()
                .filter("count > 1")
                .limit(1)
                .collect()
            )
            if dup:
                kv = ", ".join(
                    f"{c}: {dup[0][c]}" for c in have
                )
                raise ValueError(
                    f'Constraint Error: Duplicate key "{kv}" violates '
                    "primary key or unique constraint"
                )

    def _keys_assigned(self, key: str, assigned: set) -> bool:
        """True when any UPDATE-assigned column participates in a
        declared PRIMARY KEY/UNIQUE key of ``key``."""
        return any(
            any(c.lower() in assigned for c in keycols)
            for keycols in self._unique_keys.get(key, [])
        )

    def _enforce_unique_update(
        self,
        key: str,
        old_df: DataFrame,
        touched_new: DataFrame,
        assigned: set,
    ) -> None:
        """DuckDB's UPDATE-on-indexed-column semantics: the update is a
        delete+insert, and the inserted key is checked against the index
        BEFORE the deletes are reconciled — so an updated row's new key
        conflicts with ANY pre-update key in the table (including its own
        old key: ``SET pk = pk`` errors in DuckDB), and with other
        updated rows' new keys. Stricter than checking the final table
        state (``UPDATE t SET pk = pk + 1`` errors even when the result
        would be unique). Zero jobs unless an assigned column is part of
        a declared key."""
        for keycols in self._unique_keys.get(key, []):
            lc = [c.lower() for c in keycols]
            if not any(c in assigned for c in lc):
                continue
            new_lower = {c.lower(): c for c in touched_new.columns}
            old_lower = {c.lower(): c for c in old_df.columns}
            if not all(c in new_lower and c in old_lower for c in lc):
                continue
            have = [new_lower[c] for c in lc]
            newk = touched_new.na.drop(subset=have).select(*have)
            oldk = old_df.na.drop(
                subset=[old_lower[c] for c in lc]
            ).select(
                *[F.col(old_lower[c]).alias(new_lower[c]) for c in lc]
            )
            hit = newk.join(oldk, on=have, how="left_semi").limit(1).collect()
            if not hit:
                hit = (
                    newk.groupBy(*have)
                    .count()
                    .filter("count > 1")
                    .limit(1)
                    .collect()
                )
            if hit:
                kv = ", ".join(f"{c}: {hit[0][c]}" for c in have)
                raise ValueError(
                    f'Constraint Error: Duplicate key "{kv}" violates '
                    "primary key or unique constraint. If this is an "
                    "unexpected constraint violation please double "
                    "check with the known index limitations"
                )

    def _enforce_fk_insert(self, key: str, new_rows: DataFrame) -> None:
        """Child-side FOREIGN KEY check: every non-NULL FK tuple in the
        inserted rows must exist in the referenced table (NULLs pass,
        SQL MATCH SIMPLE). Zero jobs when the table declares no FKs."""
        for local_cols, ptable, pcols in self._foreign_keys.get(key, []):
            pkey = self._resolve_table_key(ptable)
            if pkey is None:
                continue
            parent = self.table(ptable).select(
                *[F.col(pc).alias(f"__p_{i}") for i, pc in enumerate(pcols)]
            ).dropDuplicates()
            probe = new_rows.na.drop(subset=local_cols)
            cond = None
            for i, lc in enumerate(local_cols):
                c = probe[lc] == parent[f"__p_{i}"]
                cond = c if cond is None else (cond & c)
            missing = probe.join(parent, cond, "left_anti").limit(1).collect()
            if missing:
                kv = ", ".join(
                    f"{pc}: {missing[0][lc]}"
                    for lc, pc in zip(local_cols, pcols)
                )
                raise ValueError(
                    f'Constraint Error: Violates foreign key constraint '
                    f'because key "{kv}" does not exist in the referenced '
                    f"table"
                )

    def _enforce_fk_delete(self, key: str, removed: DataFrame) -> None:
        """Parent-side FOREIGN KEY check: a removed parent key still
        referenced by any child row is a violation. Scans only tables
        that DECLARE an FK onto this one."""
        for child_key, fks in list(self._foreign_keys.items()):
            for local_cols, ptable, pcols in fks:
                pk = self._resolve_table_key(ptable)
                if pk != key or self._resolve_table_key(child_key) is None:
                    continue
                child = self.table(child_key).na.drop(subset=local_cols)
                gone = removed.select(
                    *[F.col(pc).alias(f"__r_{i}") for i, pc in enumerate(pcols)]
                ).dropDuplicates()
                cond = None
                for i, lc in enumerate(local_cols):
                    c = child[lc] == gone[f"__r_{i}"]
                    cond = c if cond is None else (cond & c)
                hit = child.join(gone, cond, "left_semi").limit(1).collect()
                if hit:
                    kv = ", ".join(
                        f"{pc}: {hit[0][lc]}"
                        for lc, pc in zip(local_cols, pcols)
                    )
                    raise ValueError(
                        f'Constraint Error: Violates foreign key constraint '
                        f'because key "{kv}" is still referenced by a '
                        f"foreign key in a different table"
                    )

    def _fk_referenced_cols(self, key: str) -> set:
        """Lower-cased columns of ``key`` that some table's FOREIGN KEY
        references (empty: deleting or rewriting rows needs no check)."""
        return {
            c.lower()
            for fks in self._foreign_keys.values()
            for _lc, pt, pcols in fks
            if self._resolve_table_key(pt) == key
            for c in pcols
        }

    def _enforce_fk_update(
        self, key: str, old: DataFrame, new: DataFrame
    ) -> None:
        """Parent-side FK check for UPDATE: a referenced key VALUE that
        disappears from the parent while still referenced by a child is
        a violation (same rule as delete). Zero work unless some table
        declares an FK onto this one."""
        referenced = self._fk_referenced_cols(key)
        cols = [c for c in old.columns if c.lower() in referenced]
        if not cols:
            return
        removed = old.select(*cols).exceptAll(new.select(*cols))
        self._enforce_fk_delete(key, removed)

    def _check_fixed_arrays(self, table: str, df: DataFrame) -> None:
        """Enforce FLOAT[100]-style fixed lengths (dev.json:492) at insert."""
        fixed = self._fixed_arrays.get(table)
        if not fixed:
            return
        conds = [
            (F.col(c).isNotNull() & (F.size(F.col(c)) != n))
            for c, n in fixed.items()
            if c in df.columns
        ]
        if not conds:
            return
        bad = df.filter(conds[0] if len(conds) == 1 else F.greatest(*[c.cast("int") for c in conds]) > 0)
        if bad.limit(1).count() > 0:
            lens = ", ".join(f"{c}={n}" for c, n in fixed.items())
            raise ValueError(f"fixed-size array length violation (expected {lens})")

    def _check_enums(self, table: str, df: DataFrame) -> None:
        """Enforce ENUM membership at insert (DuckDB raises a Conversion
        Error on values outside the member list)."""
        enums = self._enum_cols.get(table)
        if not enums:
            return
        conds = [
            (F.col(c).isNotNull() & ~F.col(c).isin(vals))
            for c, vals in enums.items()
            if c in df.columns
        ]
        if not conds:
            return
        bad = conds[0]
        for c in conds[1:]:
            bad = bad | c
        if df.filter(bad).limit(1).count() > 0:
            allowed = "; ".join(f"{c} in {v}" for c, v in enums.items())
            raise ValueError(
                f"Conversion Error: value not a member of ENUM ({allowed})"
            )

    def _dml_target(self, name: str) -> tuple[str, DataFrame]:
        key = self._resolve_table_key(name)
        if key is None:
            raise KeyError(f"Catalog Error: Table with name {name} does not exist!")
        return key, self._tables[key]

    def _update(self, sql: str) -> DataFrame:
        """``UPDATE t SET ... [FROM ...] [WHERE ...]``. The new table
        image is ONE SELECT over the target's view — each assigned column
        becomes ``CASE WHEN <where> THEN (<expr>) ELSE col END`` cast to
        the column type — so subqueries in SET or WHERE resolve through
        the session catalog like any query. UPDATE..FROM takes the rowid
        join in _update_from."""
        sql, returning = self._split_returning(sql)
        cl = _dml_clauses(sql, ("SET", "FROM", "WHERE"))
        if "SET" not in cl:
            raise ValueError(f"unsupported UPDATE: {sql[:80]}")
        name = re.sub(r"(?is)^\s*UPDATE\s+", "", cl[""]).strip().strip('"`')
        where = cl.get("WHERE")
        if "FROM" in cl:
            return self._update_from(name, cl["SET"], cl["FROM"], where, returning)
        key, df = self._dml_target(name)
        assigns = parse_set_list(cl["SET"], df.columns)
        items = []
        for f in df.schema.fields:
            e = assigns.get(f.name)
            if e is None:
                items.append(f'"{f.name}"')
                continue
            if where:
                e = f'CASE WHEN ({where}) THEN ({e}) ELSE "{f.name}" END'
            items.append(
                f'CAST(({e}) AS {f.dataType.simpleString()}) AS "{f.name}"'
            )
        alias = name.split(".")[-1]
        select = (
            f"SELECT {', '.join(items)} FROM {self._view_name(key)} "
            f'AS "{alias}"'
        )
        new = self._query(select)
        assigned = {c.lower() for c in assigns}
        keys_assigned = self._keys_assigned(key, assigned)
        touched = None
        if keys_assigned or returning is not None:
            # the POST-update values of the rows the PRE-update predicate
            # selected (DuckDB's UPDATE..RETURNING rows)
            touched = (
                self._query(f"{select} WHERE coalesce(({where}), false)")
                if where
                else new
            )
        if keys_assigned:
            self._enforce_unique_update(key, df, touched, assigned)
        self._enforce_constraints(key, new, whole=new, skip_unique=True)
        self._enforce_fk_update(key, df, new)
        self._register_managed(key, new)
        if returning is not None:
            return self._returning_result(touched, returning, alias)
        return self._count_df(-1)

    def _pin_rowids(self, df: DataFrame) -> DataFrame:
        """``df`` with a frozen ``__rid`` tag for the rowid join of
        UPDATE..FROM / DELETE..USING: the plan is scanned more than once,
        and a re-evaluated monotonically_increasing_id can re-number rows
        and corrupt the join-back. A tiny all-local target is pinned as
        one LocalRelation, so the table written from it collapses again;
        any other takes an eager localCheckpoint."""
        tagged = df.withColumn("__rid", F.monotonically_increasing_id())
        if _all_leaves_local(df):
            local = _local_relation(
                self.spark, tagged, _capped_rows(self.spark, tagged)
            )
            if local is not None:
                return local
        return tagged.localCheckpoint(eager=True)

    def _update_from(
        self,
        name: str,
        set_text: str,
        from_text: str,
        where_text: Optional[str],
        returning: Optional[str],
    ) -> DataFrame:
        """``UPDATE t SET ... FROM u [WHERE ...]`` (Postgres/DuckDB
        join-update): target rows matching the FROM/WHERE join take the
        assignment values (which may reference FROM columns); unmatched
        rows are unchanged; a row with several matches takes one
        arbitrary match (DuckDB picks one too).

        Plan shape: rowid-tagged target JOIN from-list -> first match per
        rowid -> LEFT join back -> per-column CASE. Two shuffles on the
        synthetic rowid; the from-list side broadcasts when small."""
        key, df = self._dml_target(name)
        assigns = parse_set_list(set_text, df.columns)
        tagged = self._pin_rowids(df)
        view = self._fresh_view(tagged)
        alias = name.split(".")[-1]
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        sel = [f'"{alias}".__rid AS __rid'] + [
            f'CAST(({e}) AS {types[c]}) AS "__new_{c}"'
            for c, e in assigns.items()
        ]
        match_sql = (
            f"SELECT {', '.join(sel)} FROM {view} AS \"{alias}\", {from_text}"
            + (f" WHERE {where_text}" if where_text else "")
        )
        matches = self._query(match_sql).dropDuplicates(["__rid"])
        joined = tagged.join(
            matches.withColumn("__matched", F.lit(True)), "__rid", "left"
        )
        exprs = [
            F.when(F.col("__matched").isNotNull(), F.col(f"__new_{f.name}"))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in assigns
            else F.col(f.name)
            for f in df.schema.fields
        ]
        new = joined.select(*exprs)
        assigned = {c.lower() for c in assigns}
        keys_assigned = self._keys_assigned(key, assigned)
        touched = None
        if keys_assigned or returning is not None:
            touched = joined.filter(F.col("__matched").isNotNull()).select(*exprs)
        if keys_assigned:
            self._enforce_unique_update(key, df, touched, assigned)
        self._enforce_constraints(key, new, whole=new, skip_unique=True)
        self._enforce_fk_update(key, df, new)
        self._register_managed(key, new)
        if returning is not None:
            return self._returning_result(touched, returning, alias)
        return self._count_df(-1)

    def _delete(self, sql: str) -> DataFrame:
        """``DELETE FROM t [USING ...] [WHERE ...]``. The kept rows are ONE
        SELECT over the target's view, so subqueries in WHERE resolve
        through the session catalog; DELETE..USING anti-joins on a pinned
        rowid instead. The deleted rows are built only when RETURNING or
        a referencing FOREIGN KEY needs them."""
        sql, returning = self._split_returning(sql)
        cl = _dml_clauses(sql, ("FROM", "USING", "WHERE"))
        if "FROM" not in cl:
            raise ValueError(f"unsupported DELETE: {sql[:80]}")
        name = cl["FROM"].strip('"`')
        key, df = self._dml_target(name)
        alias = name.split(".")[-1]
        where = cl.get("WHERE")
        want_gone = returning is not None or bool(self._fk_referenced_cols(key))
        gone = None
        if "USING" in cl:
            # drop target rows with ANY match in the using-list under the
            # predicate (anti-join on a synthetic rowid — never multiplies
            # the kept rows)
            tagged = self._pin_rowids(df)
            view = self._fresh_view(tagged)
            rids = self._query(
                f"SELECT DISTINCT \"{alias}\".__rid AS __rid "
                f"FROM {view} AS \"{alias}\", {cl['USING']}"
                + (f" WHERE {where}" if where else "")
            )
            new = tagged.join(rids, "__rid", "left_anti").drop("__rid")
            if want_gone:
                gone = tagged.join(rids, "__rid", "left_semi").drop("__rid")
        elif where:
            select = f'SELECT * FROM {self._view_name(key)} AS "{alias}" WHERE '
            new = self._query(f"{select}NOT coalesce(({where}), false)")
            if want_gone:
                gone = self._query(f"{select}coalesce(({where}), false)")
        else:
            new, gone = df.limit(0), df
        if gone is not None:
            self._enforce_fk_delete(key, gone)
        self._register_managed(key, new)
        if returning is not None:
            return self._returning_result(gone, returning, alias)
        return self._count_df(-1)

    def _prepare(self, sql: str) -> None:
        """PREPARE name AS <statement with ?/$1/$name placeholders> —
        DuckDB prepared statements at the SQL level; EXECUTE name(args)
        binds through the same frontend/params.py literal splicer as
        ``execute(sql, parameters)``."""
        m = re.match(
            r"\s*PREPARE\s+([\w\"`]+)\s+AS\s+(.+?)\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported PREPARE: {sql[:80]}")
        self._prepared[m.group(1).strip('"`').lower()] = m.group(2)
        return None

    def _execute_prepared(self, sql: str) -> Optional[DataFrame]:
        m = re.match(
            r"\s*EXECUTE\s+([\w\"`]+)\s*(?:\((.*)\))?\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported EXECUTE: {sql[:80]}")
        name = m.group(1).strip('"`').lower()
        body = self._prepared.get(name)
        if body is None:
            raise KeyError(
                f"Catalog Error: Prepared statement \"{name}\" does not exist"
            )
        params: list = []
        named: dict[str, str] = {}
        if m.group(2) and m.group(2).strip():
            # literal arguments; evaluate each through a 1-row select so
            # expressions (DATE '..', 1+2) work, not just bare literals
            from .frontend.tokenizer import tokenize as _tok

            toks = _tok(m.group(2))
            for lo, hi in split_args(toks, 0, len(toks)):
                txt = render(toks[lo:hi]).strip()
                nm = re.match(r"(?s)^\s*(\w+)\s*:=\s*(.+)$", txt)
                if nm:
                    # named argument (round-12): EXECUTE p(k := expr)
                    # binds $k in the prepared body — evaluate the
                    # expression and splice it back as a typed literal
                    sdf = self._query(f"SELECT {nm.group(2)} AS v")
                    row = sdf.collect()[0]
                    named[nm.group(1).lower()] = introspect._sql_literal(
                        row[0], sdf.schema.fields[0].dataType
                    )
                else:
                    row = self._query(f"SELECT {txt} AS v").collect()[0]
                    params.append(row[0])
        if named:
            if params:
                raise ValueError(
                    "Binder Error: EXECUTE cannot mix positional and"
                    " named arguments"
                )
            toks = tokenize(body)
            out2: list[str] = []
            k = 0
            while k < len(toks):
                if (
                    toks[k].kind == PUNCT
                    and toks[k].text == "$"
                    and k + 1 < len(toks)
                    and toks[k + 1].kind == IDENT
                ):
                    key = toks[k + 1].text.lower()
                    if key not in named:
                        raise ValueError(
                            f"Binder Error: parameter ${key} was not"
                            " provided"
                        )
                    out2.append(named[key])
                    k += 2
                    continue
                out2.append(toks[k].text)
                k += 1
            return self.execute("".join(out2))
        return self.execute(body, params or None)

    def _deallocate(self, sql: str) -> None:
        m = re.match(
            r"\s*DEALLOCATE\s+(?:PREPARE\s+)?([\w\"`]+)\s*;?\s*$",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"unsupported DEALLOCATE: {sql[:80]}")
        self._prepared.pop(m.group(1).strip('"`').lower(), None)
        return None

    def _truncate(self, sql: str) -> None:
        """TRUNCATE [TABLE] name — DuckDB's alias for unqualified DELETE."""
        m = re.match(
            r"\s*TRUNCATE\s+(?:TABLE\s+)?([\w.\"`]+)\s*;?\s*$", sql, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"unsupported TRUNCATE: {sql[:80]}")
        name = m.group(1).strip('"`')
        key = self._resolve_table_key(name)
        if key is None:
            raise KeyError(f"Catalog Error: Table with name {name} does not exist!")
        self._register_managed(key, self._tables[key].limit(0))
        return None

    def _checkpoint(self, sql: str) -> None:
        """CHECKPOINT / FORCE CHECKPOINT: collapse each durable table
        that has accumulated streaming-append SEGMENTS back into one
        version dir (the WAL->storage merge analogue; small-file
        compaction for continuous ingest). No-op without a durable
        warehouse or when no table is segmented."""
        if self._warehouse is None:
            return None
        for name, ent in list(self._warehouse.tables().items()):
            v = ent.get("version")
            if isinstance(v, list) and len(v) > 1:
                df = self._warehouse.load_df(self.spark, name)
                reread = self._warehouse.save_table(
                    self.spark, name, df, ent.get("meta") or {}
                )
                if name in self._tables:
                    self.register(name, reread)
        return None

    # --------------------------------------------------------- transactions

    _TXN_STATE = (
        "_table_files", "_fixed_arrays", "_enum_cols", "_type_overrides",
        "_macros", "_enum_types", "_alias_types", "_unique_keys",
        "_sequences", "_databases",
        "_indexes", "_comments", "_defaults", "_notnull_cols",
        "_primary_keys", "_checks",
        "_foreign_keys", "_view_defs",
    )

    def _begin(self, sql: str) -> None:
        """BEGIN [TRANSACTION] — snapshot the catalog so ROLLBACK can
        restore it. DataFrames are immutable plans, so a shallow copy of
        the table map IS a consistent snapshot (DuckDB MVCC's equivalent
        here: the old plan objects simply keep existing). Durable-warehouse
        state snapshots the catalog pointer; rolled-back table versions
        become unreferenced directories, exactly like aborted copy-on-write
        commits."""
        import copy

        if self._txn_snapshot is not None:
            raise RuntimeError(
                "TransactionContext Error: cannot start a transaction "
                "within a transaction"
            )
        snap: dict = {"_tables": dict(self._tables),
                      "_current_db": self._current_db}
        for attr in self._TXN_STATE:
            snap[attr] = copy.deepcopy(getattr(self, attr))
        if self._warehouse is not None:
            snap["_warehouse_catalog"] = self._warehouse._read_catalog()
            # delta logs are per-table and survive a catalog restore —
            # snapshot their versions so ROLLBACK can rewind them too
            snap["_warehouse_delta_versions"] = (
                self._warehouse.delta_table_versions(self.spark)
            )
        self._txn_snapshot = snap
        return None

    def _commit(self, sql: str) -> None:
        if self._txn_snapshot is None:
            raise RuntimeError(
                "TransactionContext Error: cannot commit - no transaction "
                "is active"
            )
        if self._txn_aborted:
            # DuckDB: COMMIT on an aborted transaction succeeds but
            # commits NOTHING — it ends the transaction like a rollback
            return self._rollback(sql)
        self._txn_snapshot = None
        return None

    def _rollback(self, sql: str) -> None:
        if self._txn_snapshot is None:
            raise RuntimeError(
                "TransactionContext Error: cannot rollback - no "
                "transaction is active"
            )
        snap = self._txn_snapshot
        self._txn_snapshot = None
        self._txn_aborted = False
        created = set(self._tables) - set(snap["_tables"])
        self._tables = snap["_tables"]
        self._catalog_epoch += 1
        self._current_db = snap["_current_db"]
        for attr in self._TXN_STATE:
            setattr(self, attr, snap[attr])
        if self._warehouse is not None and "_warehouse_catalog" in snap:
            self._warehouse._write_catalog(snap["_warehouse_catalog"])
            self._warehouse.restore_delta_versions(
                self.spark, snap.get("_warehouse_delta_versions") or {}
            )
        # re-point every temp view at the snapshot plan and unregister
        # views for tables created inside the transaction
        for name, df in self._tables.items():
            df.createOrReplaceTempView(self._view_name(name))
        for name in created:
            try:
                self.spark.catalog.dropTempView(self._view_name(name))
            except Exception:  # noqa: BLE001
                pass
        self._kind_cache = None
        self._infoschema_dirty = True
        return None

    # --------------------------------------------------------------- merge

    def _merge(self, sql: str) -> DataFrame:
        from .operators.merge import run_merge

        return run_merge(self, sql)

    # ------------------------------------------------------- export/import

    def _export_database(self, sql: str) -> None:
        """EXPORT DATABASE 'dir' [(FORMAT parquet|csv)] — writes every
        managed table plus DuckDB's three manifest files (schema.sql,
        load.sql, and the data files), so a real DuckDB can IMPORT the
        result and vice versa."""
        m = re.match(
            r"\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+'?(\w+)'?"
            r"[^)]*\))?\s*;?\s*$",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"unsupported EXPORT DATABASE: {sql[:80]}")
        from .types import spark_type_to_duckdb

        target, fmt = m.group(1), (m.group(2) or "csv").lower()
        os.makedirs(target, exist_ok=True)
        schema_lines: list[str] = []
        load_lines: list[str] = []
        for name in sorted(self._tables):
            df = self._tables[name]
            fname = name.replace(".", "_")
            # CSV cannot carry array/struct/map columns (Spark's writer
            # rejects them); those tables fall back to parquet within the
            # same manifest — load.sql names each file's format per
            # table, so a real DuckDB imports the mixed export unchanged
            tfmt = fmt
            if fmt == "csv" and any(
                f.dataType.typeName() in ("array", "struct", "map")
                for f in df.schema.fields
            ):
                tfmt = "parquet"
            ext = "parquet" if tfmt == "parquet" else "csv"
            path = os.path.join(target, f"{fname}.{ext}")
            io_utils.write_copy_to(df, path, fmt=tfmt)
            cols = ", ".join(
                f'"{f.name}" '
                + self._type_overrides.get(name, {}).get(
                    f.name, spark_type_to_duckdb(f.dataType)
                )
                for f in df.schema.fields
            )
            schema_lines.append(f"CREATE TABLE {name}({cols});")
            if tfmt == "parquet":
                load_lines.append(
                    f"COPY {name} FROM '{path}' (FORMAT 'parquet');"
                )
            else:
                load_lines.append(
                    f"COPY {name} FROM '{path}' (FORMAT 'csv', header 1);"
                )
        with open(os.path.join(target, "schema.sql"), "w") as fh:
            fh.write("\n".join(schema_lines) + "\n")
        with open(os.path.join(target, "load.sql"), "w") as fh:
            fh.write("\n".join(load_lines) + "\n")
        return None

    def _import_database(self, sql: str) -> None:
        """IMPORT DATABASE 'dir' — replays schema.sql + load.sql, i.e.
        the exact manifest protocol DuckDB itself writes."""
        m = re.match(
            r"\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$", sql, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"unsupported IMPORT DATABASE: {sql[:80]}")
        src = m.group(1)
        for script in ("schema.sql", "load.sql"):
            path = os.path.join(src, script)
            if os.path.exists(path):
                with open(path) as fh:
                    text = fh.read()
                if text.strip():
                    self.execute(text)
        return None

    # ----------------------------------------------------------- sequences

    def _create_sequence(
        self, tokens: list[Token], sig: list[int], j: int, or_replace: bool
    ) -> None:
        """CREATE SEQUENCE name [START [WITH] n] [INCREMENT [BY] n]
        [MINVALUE n] [MAXVALUE n] [CYCLE|NO CYCLE]. A sequence is a serial
        connection-scoped counter, as in DuckDB — it intentionally does
        NOT distribute (each ``nextval`` advances one shared state)."""
        sig_toks = [t for t in tokens[sig[j]:] if t.kind not in (WS, COMMENT)]
        k = 0
        if sig_toks and sig_toks[k].upper == "IF":  # IF NOT EXISTS
            k += 3
            if_not_exists = True
        else:
            if_not_exists = False
        name = sig_toks[k].text.strip('"`').lower()
        k += 1
        start = None
        inc = 1
        minv = None
        maxv = None
        cycle = False
        while k < len(sig_toks):
            w = sig_toks[k].upper
            if w == "START":
                k += 1
                if k < len(sig_toks) and sig_toks[k].upper == "WITH":
                    k += 1
                start = self._seq_int(sig_toks, k); k += self._seq_width(sig_toks, k)
            elif w == "INCREMENT":
                k += 1
                if k < len(sig_toks) and sig_toks[k].upper == "BY":
                    k += 1
                inc = self._seq_int(sig_toks, k); k += self._seq_width(sig_toks, k)
            elif w == "MINVALUE":
                k += 1
                minv = self._seq_int(sig_toks, k); k += self._seq_width(sig_toks, k)
            elif w == "MAXVALUE":
                k += 1
                maxv = self._seq_int(sig_toks, k); k += self._seq_width(sig_toks, k)
            elif w == "NO":
                k += 2  # NO CYCLE / NO MINVALUE / NO MAXVALUE
            elif w == "CYCLE":
                cycle = True
                k += 1
            else:
                k += 1
        if inc == 0:
            raise ValueError("Catalog Error: increment must not be zero")
        if minv is None:
            minv = 1 if inc > 0 else -(2**63) + 1
        if maxv is None:
            maxv = 2**63 - 1 if inc > 0 else -1
        if start is None:
            start = minv if inc > 0 else maxv
        if name in self._sequences and not (or_replace or if_not_exists):
            raise RuntimeError(
                f"Catalog Error: Sequence with name \"{name}\" already exists!"
            )
        if name in self._sequences and if_not_exists and not or_replace:
            return None
        self._sequences[name] = {
            "next": start, "inc": inc, "min": minv, "max": maxv,
            "cycle": cycle, "last": None,
        }
        return None

    @staticmethod
    def _seq_int(toks: list[Token], k: int) -> int:
        if toks[k].text == "-":
            return -int(toks[k + 1].text)
        return int(toks[k].text)

    @staticmethod
    def _seq_width(toks: list[Token], k: int) -> int:
        return 2 if toks[k].text == "-" else 1

    def _seq_nextval(self, name: str) -> int:
        seq = self._sequences.get(name.lower())
        if seq is None:
            raise KeyError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        v = seq["next"]
        if v > seq["max"] or v < seq["min"]:
            if not seq["cycle"]:
                raise RuntimeError(
                    f"Sequence Error: nextval: reached maximum value of "
                    f"sequence \"{name}\" ({seq['max']})"
                )
            v = seq["min"] if seq["inc"] > 0 else seq["max"]
        seq["next"] = v + seq["inc"]
        seq["last"] = v
        return v

    def _seq_advance_by(self, name: str, n: int) -> None:
        seq = self._sequences[name.lower()]
        if n:
            seq["last"] = seq["next"] + seq["inc"] * (n - 1)
            seq["next"] = seq["next"] + seq["inc"] * n

    def _seq_currval(self, name: str) -> int:
        seq = self._sequences.get(name.lower())
        if seq is None:
            raise KeyError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        if seq["last"] is None:
            raise RuntimeError(
                f"Sequence Error: currval: sequence \"{name}\" is not yet "
                "defined in this session"
            )
        return seq["last"]

    def _expand_sequence_calls(self, sql: str) -> str:
        """Replace each ``nextval('s')`` / ``currval('s')`` occurrence with
        its value. Each textual occurrence advances once per VALUES row it
        appears in (DuckDB's own semantics for multi-row VALUES: the
        sequence advances per emitted row). For ``nextval`` applied across
        a FROM-driven row set, the single-occurrence case rewrites to
        ``base + row_number()`` and advances by the (eagerly counted)
        result size — the serial object is the one deliberate
        non-distributed piece, exactly as in DuckDB."""
        tokens = tokenize(sql)
        sig = [i for i, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        has_from = any(
            tokens[i].kind == IDENT and tokens[i].upper == "FROM" for i in sig
        )
        calls: list[tuple[int, int, str, str]] = []  # (lo, hi, fn, seqname)
        for pos, i in enumerate(sig):
            t = tokens[i]
            if t.kind == IDENT and t.upper in ("NEXTVAL", "CURRVAL"):
                if pos + 1 < len(sig) and tokens[sig[pos + 1]].text == "(":
                    c = match_forward(tokens, sig[pos + 1], "(", ")")
                    inner = [tk for tk in tokens[sig[pos + 1] + 1 : c]
                             if tk.kind not in (WS, COMMENT)]
                    if (
                        len(inner) == 1 and inner[0].kind == IDENT
                        and inner[0].upper == "NULL"
                    ):
                        # DuckDB: nextval(NULL)/currval(NULL) is NULL —
                        # no sequence advances
                        tokens[i : c + 1] = [Token(IDENT, "NULL")]
                        return self._expand_sequence_calls(render(tokens))
                    arg = [tk for tk in tokens[sig[pos + 1] + 1 : c]
                           if tk.kind == STRING]
                    if len(arg) != 1:
                        raise ValueError(
                            "nextval/currval expects a sequence-name string"
                        )
                    calls.append(
                        (i, c, t.upper, arg[0].text[1:-1].replace("''", "'"))
                    )
        if not calls:
            return sql
        if has_from and any(fn == "NEXTVAL" for _lo, _hi, fn, _nm in calls):
            if len(calls) != 1:
                raise NotImplementedError(
                    "multiple nextval() calls over a FROM row set are not "
                    "supported; use one call per statement"
                )
            lo, hi, _fn, nm = calls[0]
            base = self._sequences.get(nm.lower())
            if base is None:
                raise KeyError(
                    f"Catalog Error: Sequence with name {nm} does not exist!"
                )
            start, inc = base["next"], base["inc"]
            expr = (
                f"({start} + ({inc}) * (row_number() OVER "
                f"(ORDER BY monotonically_increasing_id()) - 1))"
            )
            new_sql = render(tokens[:lo]) + expr + render(tokens[hi + 1 :])
            head = tokens[sig[0]].upper if tokens[sig[0]].kind == IDENT else ""
            if head in ("SELECT", "WITH", "FROM"):
                df = self._query(new_sql)
                # advancing the counter requires the result size: one eager
                # count job — the serial sequence object is DuckDB's own
                # bottleneck here, not a distributed-plan regression
                n = df.count()
                self._seq_advance_by(nm, n)
                self._seq_result = df
                return None  # caller picks up self._seq_result
            # INSERT ... SELECT nextval(...) FROM ...: run the rewritten
            # statement, then advance by the reported inserted-row count
            self._seq_pending = nm
            return new_sql
        # scalar / VALUES context: substitute per occurrence, advancing state
        out: list[str] = []
        prev = 0
        for lo, hi, fn, nm in calls:
            out.append(render(tokens[prev:lo]))
            val = self._seq_nextval(nm) if fn == "NEXTVAL" else (
                self._seq_currval(nm)
            )
            out.append(str(val))
            prev = hi + 1
        out.append(render(tokens[prev:]))
        return "".join(out)

    def _alter(self, sql: str) -> None:
        s = re.sub(r"\s+", " ", sql).strip().rstrip(";")
        m = re.match(
            r"ALTER TABLE (\S+) ADD COLUMN (?:IF NOT EXISTS )?(\S+) (.+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            df = self.table(m.group(1))
            col = m.group(2).strip('"`')
            ty_txt = m.group(3)
            # optional DEFAULT <expr> suffix: existing rows take the
            # default immediately (DuckDB), and later partial INSERTs use it
            dm = re.match(
                r"(.+?)\s+DEFAULT\s+(.+)$", ty_txt, re.IGNORECASE
            )
            fill = F.lit(None)
            if dm:
                ty_txt = dm.group(1)
                dexpr = rewrites.rewrite_sql(dm.group(2), self._resolver)
                self._defaults.setdefault(key, {})[col.lower()] = dm.group(2)
                fill = F.expr(dexpr)
            dt = parse_duckdb_type(ty_txt)
            self._register_managed(key, df.withColumn(col, fill.cast(dt)))
            return None
        m = re.match(
            r"ALTER TABLE (\S+) ALTER (?:COLUMN )?(\S+) SET DEFAULT (.+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            if key is None:
                raise KeyError(
                    f"Catalog Error: Table with name {m.group(1)} does not exist!"
                )
            self._defaults.setdefault(key, {})[
                m.group(2).strip('"`').lower()
            ] = m.group(3)
            return None
        m = re.match(
            r"ALTER TABLE (\S+) ALTER (?:COLUMN )?(\S+) DROP DEFAULT$",
            s,
            re.IGNORECASE,
        )
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            if key is not None:
                self._defaults.get(key, {}).pop(
                    m.group(2).strip('"`').lower(), None
                )
            return None
        m = re.match(
            r"ALTER TABLE (\S+) ALTER (?:COLUMN )?(\S+) (?:SET DATA )?TYPE (.+?)(?: USING (.+))?$",
            s,
            re.IGNORECASE,
        )
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            df = self.table(m.group(1))
            col = m.group(2).strip('"`')
            dt = parse_duckdb_type(m.group(3))
            if m.group(4):
                expr = rewrites.rewrite_sql(m.group(4), self._resolver)
                new = df.withColumn(col, F.expr(expr).cast(dt))
            else:
                new = df.withColumn(col, F.col(col).cast(dt))
            self._register_managed(key, new)
            return None
        m = re.match(
            r"ALTER TABLE (\S+) RENAME COLUMN (\S+) TO (\S+)$", s, re.IGNORECASE
        )
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            df = self.table(m.group(1))
            self._register_managed(
                key, df.withColumnRenamed(m.group(2).strip('"`'), m.group(3).strip('"`'))
            )
            return None
        m = re.match(r"ALTER TABLE (\S+) RENAME TO (\S+)$", s, re.IGNORECASE)
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            df = self._tables.pop(key)
            self._table_files.pop(key, None)
            self._catalog_epoch += 1
            self.spark.catalog.dropTempView(self._view_name(key))
            self._register_managed(m.group(2).strip('"`'), df)
            return None
        m = re.match(r"ALTER TABLE (\S+) DROP (?:COLUMN )?(\S+)$", s, re.IGNORECASE)
        if m:
            key = self._resolve_table_key(m.group(1).strip('"`'))
            df = self.table(m.group(1))
            self._register_managed(key, df.drop(m.group(2).strip('"`')))
            return None
        raise ValueError(f"unsupported ALTER: {sql[:80]}")

    # ----------------------------------------------------------------- COPY

    def _copy(self, sql: str) -> Optional[DataFrame]:
        tokens = tokenize(sql)
        sig_idx = [i for i, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]
        j = 1  # after COPY
        target_cols: Optional[list[str]] = None
        if tokens[sig_idx[j]].text == "(":
            c = match_forward(tokens, sig_idx[j], "(", ")")
            inner = render(tokens[sig_idx[j] + 1 : c]).strip()
            src_df = self._query(inner)
            name = None
            j = sig_idx.index(c) + 1
        else:
            name_parts = [tokens[sig_idx[j]].text.strip('"`')]
            while (
                j + 2 < len(sig_idx)
                and tokens[sig_idx[j + 1]].text == "."
                and tokens[sig_idx[j + 2]].kind == IDENT
            ):
                name_parts.append(tokens[sig_idx[j + 2]].text.strip('"`'))
                j += 2
            name = ".".join(name_parts)
            j += 1
            src_df = None
            if tokens[sig_idx[j]].text == "(":
                c = match_forward(tokens, sig_idx[j], "(", ")")
                target_cols = [
                    tk.text.strip('"`')
                    for tk in tokens[sig_idx[j] + 1 : c]
                    if tk.kind == IDENT
                ]
                j = sig_idx.index(c) + 1
        direction = tokens[sig_idx[j]].upper  # TO | FROM
        j += 1
        path_tok = tokens[sig_idx[j]]
        path = path_tok.text[1:-1].replace("''", "'")
        j += 1
        opts = {}
        if j < len(sig_idx) and tokens[sig_idx[j]].text == "(":
            c = match_forward(tokens, sig_idx[j], "(", ")")
            opts = _parse_copy_options(tokens[sig_idx[j] + 1 : c])
        if direction == "TO":
            df = src_df if src_df is not None else self.table(name)
            n = io_utils.write_copy_to(
                df,
                path,
                fmt=opts.get("format"),
                delimiter=opts.get("delimiter"),
                header=opts.get("header", True),
                partition_by=opts.get("partition_by"),
                overwrite=opts.get("overwrite", False),
                null_str=opts.get("null_str"),
                quote=opts.get("quote"),
                escape=opts.get("escape"),
                compression=opts.get("compression"),
            )
            return self._count_df(n)
        # COPY ... FROM
        allow_ext = self.settings.get("enable_external_access", "true") == "true"
        csv_opts = {}
        if opts.get("null_str") is not None:
            csv_opts["nullValue"] = opts["null_str"]
        if opts.get("quote") is not None:
            csv_opts["quote"] = opts["quote"]
        if opts.get("escape") is not None:
            csv_opts["escape"] = opts["escape"]
        df = io_utils.read_file_table(
            self.spark,
            path,
            fmt=opts.get("format"),
            header=opts.get("header", True),
            delimiter=opts.get("delimiter"),
            allow_external=allow_ext,
            csv_opts=csv_opts or None,
        )
        key = self._resolve_table_key(name)
        target = self.table(name)
        if target_cols is not None:
            # column-subset COPY (dev.json:348): named cols from file, rest NULL
            src = df.toDF(*target_cols) if len(df.columns) == len(target_cols) else df
            # COPY t (cols) FROM file: a wider file maps its leading
            # columns onto the named subset — width is NOT an error here
            aligned = self._align_insert(
                src, target, target_cols, table_name=name,
                enforce_width=False,
            )
        else:
            # by-name when header matches, else positional
            if set(c.lower() for c in df.columns) == set(
                f.name.lower() for f in target.schema.fields
            ):
                aligned = self._align_insert(
                    df, target, [c for c in df.columns]
                )
            else:
                aligned = self._align_insert(df, target, None)
        count = aligned.count()
        self._register_managed(key, target.unionByName(aligned))
        return self._count_df(count)

    # -------------------------------------------------------------- session

    def _attach(self, sql: str) -> None:
        m = re.match(
            r"\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'(?:\s+AS\s+(\w+))?",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"unsupported ATTACH: {sql[:80]}")
        path, alias = m.group(1), m.group(2)
        db = alias or os.path.splitext(os.path.basename(path))[0]
        tables, spools = io_utils.attach_duckdb_file(self.spark, path)
        # re-ATTACH under the same alias: release the old spool dirs
        self._drop_attach_spools(db)
        self._attach_spools[db] = spools
        for t, df in tables.items():
            self.register(f"{db}.{t}", df)
            df.createOrReplaceTempView(self._view_name(f"{db}.{t}"))
        self._databases.add(db)
        return None

    def _detach(self, sql: str) -> None:
        m = re.match(r"\s*DETACH\s+(?:DATABASE\s+)?(\w+)", sql, re.IGNORECASE)
        if m:
            db = m.group(1)
            self._databases.discard(db)
            for k in [k for k in self._tables if k.startswith(db + ".")]:
                del self._tables[k]
                self._table_files.pop(k, None)
            self._catalog_epoch += 1
            self._drop_attach_spools(db)
            self._kind_cache = None
            self._infoschema_dirty = True
        return None

    def _use(self, sql: str) -> None:
        m = re.match(r"\s*USE\s+(\w+)", sql, re.IGNORECASE)
        if m:
            self._current_db = m.group(1)
        return None

    def _pragma(self, sql: str) -> Optional[DataFrame]:
        s = sql.strip().rstrip(";")
        m = re.match(r"\s*PRAGMA\s+(\w+)\s*$", s, re.IGNORECASE)
        if m:
            name = m.group(1).lower()
            if name == "version":
                return introspect.version_df(self.spark)
            if name == "show_tables":
                return self._tables_df()
            if name == "database_list":
                return self._databases_df()
            val = self.settings.get(name)
            if val is not None:
                return introspect.local_df(
                    self.spark, [(val,)],
                    T.StructType([T.StructField(name, T.StringType())]),
                )
            return None
        m = re.match(r"\s*PRAGMA\s+(\w+)\s*\(\s*'?([^')]*)'?\s*\)\s*$", s, re.IGNORECASE)
        if m:
            name, arg = m.group(1).lower(), m.group(2)
            if name == "table_info":
                return introspect.table_info_df(
                    self.spark,
                    self.table(arg),
                    fixed=self._fixed_arrays.get(self._resolve_table_key(arg) or ""),
                    overrides=self._type_overrides.get(
                        self._resolve_table_key(arg) or ""
                    ),
                    notnull=self._notnull_cols.get(
                        self._resolve_table_key(arg) or ""
                    ),
                    pk=self._pk_cols(self._resolve_table_key(arg) or ""),
                )
            if name == "storage_info":
                key = self._resolve_table_key(arg)
                return introspect.storage_info_df(
                    self.spark,
                    self.table(arg),
                    file_hint=self._table_files.get(key) if key else None,
                    fixed=self._fixed_arrays.get(key or ""),
                )
            raise ValueError(f"unsupported PRAGMA function: {name}")
        m = re.match(r"\s*PRAGMA\s+(\w+)\s*=\s*(.+)$", s, re.IGNORECASE)
        if m:
            self._assign_setting(m.group(1), m.group(2))
            return None
        raise ValueError(f"unsupported PRAGMA: {sql[:80]}")

    def _call(self, sql: str) -> Optional[DataFrame]:
        m = re.match(
            r"\s*CALL\s+(\w+)\s*\((.*)\)\s*;?\s*$", sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported CALL: {sql[:80]}")
        fn, arg = m.group(1).lower(), m.group(2).strip().strip("'\"")
        if fn == "pragma_version":
            return introspect.version_df(self.spark)
        if fn == "pragma_table_info":
            return introspect.table_info_df(
                self.spark,
                self.table(arg),
                fixed=self._fixed_arrays.get(self._resolve_table_key(arg) or ""),
                overrides=self._type_overrides.get(
                    self._resolve_table_key(arg) or ""
                ),
                notnull=self._notnull_cols.get(
                    self._resolve_table_key(arg) or ""
                ),
                pk=self._pk_cols(self._resolve_table_key(arg) or ""),
            )
        if fn == "pragma_show_tables":
            return self._tables_df()
        if fn in ("compact", "cluster", "zorder"):
            # layout maintenance (sources/maintenance.py): CALL
            # compact('dir') / CALL cluster('dir', 'col1,col2') /
            # CALL zorder('dir', 'a', 'b')
            from .sources import maintenance as mt

            parts = [a.strip().strip("'\" ") for a in arg.split(",")]
            if fn == "zorder":
                if len(parts) != 3:
                    raise ValueError(
                        "CALL zorder expects ('dir', 'col_a', 'col_b')"
                    )
                stats = mt.zorder_parquet(
                    self.spark, parts[0], parts[1], parts[2]
                )
                rows = [(parts[0], stats["files"], ",".join(stats["cols"]))]
                return introspect.local_df(
                    self.spark, rows,
                    T.StructType([
                        T.StructField("path", T.StringType()),
                        T.StructField("files", T.LongType()),
                        T.StructField("zorder_cols", T.StringType()),
                    ]),
                )
            if fn == "compact":
                stats = mt.compact_parquet(self.spark, parts[0])
                rows = [(parts[0], stats["files_before"],
                         stats["files_after"], stats["bytes"])]
                return introspect.local_df(
                    self.spark, rows,
                    T.StructType([
                        T.StructField("path", T.StringType()),
                        T.StructField("files_before", T.LongType()),
                        T.StructField("files_after", T.LongType()),
                        T.StructField("bytes", T.LongType()),
                    ]),
                )
            stats = mt.cluster_parquet(self.spark, parts[0], parts[1:])
            rows = [(parts[0], stats["files"], ",".join(parts[1:]))]
            return introspect.local_df(
                self.spark, rows,
                T.StructType([
                    T.StructField("path", T.StringType()),
                    T.StructField("files", T.LongType()),
                    T.StructField("cluster_cols", T.StringType()),
                ]),
            )
        raise ValueError(f"unsupported CALL: {fn}")

    def _set(self, sql: str) -> None:
        m = re.match(
            r"\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(\w+)\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported SET: {sql[:80]}")
        self._assign_setting(m.group(1), m.group(2))
        return None

    def _reset(self, sql: str) -> None:
        m = re.match(r"\s*RESET\s+(\w+)", sql, re.IGNORECASE)
        if m:
            k = m.group(1).lower()
            if k in DEFAULT_SETTINGS:
                self.settings[k] = DEFAULT_SETTINGS[k]
            else:
                self.settings.pop(k, None)
        return None

    def _assign_setting(self, key: str, value: str) -> None:
        v = value.strip().strip("'\"")
        k = key.lower()
        self.settings[k] = v
        if k == "default_null_order":
            self.settings[k] = v.lower().replace(" ", "_")
        if k == "threads":
            # map onto Spark's parallelism knob (session-level); an
            # explicit SET threads also pins it against the statement-
            # size auto-tuner — and restores the tuner's OTHER small-mode
            # confs (AQE, scan split) so only the user's knob differs
            # from cluster defaults from here on
            try:
                n_threads = int(v)
            except (ValueError, TypeError):
                n_threads = None
            if n_threads is not None:
                if self._parallelism_mode == "small":
                    for ck, cv in (self._big_stmt_confs or {}).items():
                        if ck != "spark.sql.shuffle.partitions":
                            try:
                                self.spark.conf.set(ck, cv)
                            except Exception:  # noqa: BLE001
                                pass
                    self._parallelism_mode = "big"
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions", str(n_threads)
                )
                self._threads_overridden = True
        if k in ("memory_limit", "max_memory"):
            norm = _format_memory(v)
            self.settings["memory_limit"] = norm
            self.settings["max_memory"] = norm

    def _split_trailing_clauses(self, sql: str) -> tuple[str, str]:
        """Split a trailing depth-0 ``ORDER BY ... [LIMIT ...]`` /
        ``LIMIT ...`` tail off a statement (PIVOT/UNPIVOT accept them)."""
        tokens = tokenize(sql)
        depth = 0
        at = None
        for i, t in enumerate(tokens):
            if t.text in "([{":
                depth += 1
            elif t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == IDENT and t.upper in (
                "ORDER", "LIMIT",
            ):
                at = i
                break
        if at is None:
            return sql, ""
        return render(tokens[:at]), render(tokens[at:]).rstrip(";").strip()

    def _inline_pivot_subqueries(self, sql: str) -> str:
        """``(PIVOT ...)`` / ``(UNPIVOT ...)`` as a FROM source or CTE
        body: materialize eagerly to a temp view and splice ``SELECT *
        FROM <view>`` in its place (valid in both positions). DuckDB's
        dynamic PIVOT also runs a discovery pass at bind time, so the
        eager plan job matches its execution model."""
        if not re.search(r"\b(?:UN)?PIVOT\b", sql, re.IGNORECASE):
            return sql
        tokens = tokenize(sql)
        i = 0
        while i < len(tokens):
            t = tokens[i]
            if t.kind == PUNCT and t.text == "(":
                n = next_sig(tokens, i)
                if (
                    n < len(tokens) and tokens[n].kind == IDENT
                    and tokens[n].upper in ("PIVOT", "UNPIVOT")
                ):
                    c = match_forward(tokens, i, "(", ")")
                    inner = render(tokens[i + 1 : c]).strip()
                    df = (
                        self._pivot(inner)
                        if tokens[n].upper == "PIVOT"
                        else self._unpivot(inner)
                    )
                    view = self._fresh_view(df)
                    repl = tokenize(f"(SELECT * FROM {view})")
                    tokens = tokens[:i] + repl + tokens[c + 1 :]
                    i += len(repl)
                    continue
            i += 1
        return render(tokens)

    def _pivot_source(self, text: str) -> DataFrame:
        """PIVOT/UNPIVOT source: a table name or a parenthesized query
        (possibly itself a PIVOT)."""
        text = text.strip()
        if text.startswith("("):
            inner = text[1:-1].strip()
            head = inner.split(None, 1)[0].upper() if inner else ""
            if head == "PIVOT":
                return self._pivot(inner)
            if head == "UNPIVOT":
                return self._unpivot(inner)
            return self._query(inner)
        return self.table(text.strip('"`'))

    def _pivot(self, sql: str) -> DataFrame:
        """DuckDB ``PIVOT tbl ON col [USING agg [AS a], ...] [GROUP BY g]
        [ORDER BY ...] [LIMIT ...]``.

        Maps onto DataFrame ``groupBy(g).pivot(col).agg(...)`` — the
        distinct pivot values are discovered by Spark (one extra pass),
        same as DuckDB's dynamic PIVOT.
        """
        sql, tail = self._split_trailing_clauses(sql)
        m = re.match(
            r"\s*PIVOT\s+([\w.\"`]+|\(.*\))\s+ON\s+([\w.\"`]+)"
            r"(?:\s+IN\s+\(([^)]*)\))?"
            r"(?:\s+USING\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported PIVOT: {sql[:80]}")
        on_col = m.group(2).strip('"`')
        df = self._pivot_source(m.group(1))
        if tail:
            out = self._pivot_body(df, on_col, m)
            view = self._fresh_view(out)
            return self._query(f"SELECT * FROM {view} {tail}")
        return self._pivot_body(df, on_col, m)

    def _pivot_body(self, df: DataFrame, on_col: str, m) -> DataFrame:
        # groups: 3 = explicit IN value list, 4 = USING aggs, 5 = GROUP BY
        in_values = None
        if m.group(3):
            in_values = []
            for frag in _split_top_commas(m.group(3).strip()):
                v = frag.strip()
                if len(v) >= 2 and v[0] == "'" and v[-1] == "'":
                    in_values.append(v[1:-1].replace("''", "'"))
                else:
                    try:
                        in_values.append(int(v))
                    except ValueError:
                        in_values.append(float(v))
        group_cols = (
            [c.strip().strip('"`') for c in m.group(5).split(",")]
            if m.group(5)
            else [c for c in df.columns if c != on_col]
        )
        if m.group(4):
            # USING supports a LIST of aggregates, each optionally
            # AS-aliased (DuckDB suffixes pivot values with the alias)
            agg_exprs = []
            for frag in _split_top_commas(m.group(4).strip()):
                am = re.match(
                    r"^(.*?)\s+AS\s+([\w\"`]+)\s*$", frag,
                    re.IGNORECASE | re.DOTALL,
                )
                body = am.group(1) if am else frag
                agg_sql = rewrites.rewrite_sql(body.strip(), self._resolver)
                e = F.expr(agg_sql)
                if am:
                    e = e.alias(am.group(2).strip('"`'))
                agg_exprs.append(e)
            # when USING is given without GROUP BY, group on the remaining
            # non-aggregated columns (DuckDB's default)
            if not m.group(5):
                agg_cols = set(re.findall(r"\w+", m.group(4)))
                group_cols = [
                    c for c in df.columns
                    if c != on_col and c not in agg_cols
                ]
        else:
            agg_exprs = [F.count(F.lit(1))]
        pivot = (df.groupBy(*group_cols).pivot(on_col, in_values)
                 if in_values is not None
                 else df.groupBy(*group_cols).pivot(on_col))
        out = pivot.agg(*agg_exprs)
        if m.group(4):
            # single ALIASED aggregate: DuckDB still suffixes the pivot
            # columns with the alias (F_s, O_s ...); Spark only suffixes
            # when there are MULTIPLE aggregates
            frags = _split_top_commas(m.group(4).strip())
            am1 = re.match(
                r"^(.*?)\s+AS\s+([\w\"`]+)\s*$", frags[0],
                re.IGNORECASE | re.DOTALL,
            ) if len(frags) == 1 else None
            if am1:
                suffix = am1.group(2).strip('"`')
                for c in [c for c in out.columns if c not in group_cols]:
                    out = out.withColumnRenamed(c, f"{c}_{suffix}")
        # DuckDB renders absent count() cells as 0, not NULL
        is_count = m.group(4) is None or re.match(
            r"\s*count\s*\(", m.group(4), re.IGNORECASE
        )
        if is_count:
            value_cols = [c for c in out.columns if c not in group_cols]
            out = out.na.fill(0, subset=value_cols)
        return out

    def _unpivot(self, sql: str) -> DataFrame:
        """``UNPIVOT tbl|(<query>) ON c1, c2 INTO NAME n VALUE v
        [ORDER BY ...] [LIMIT ...]``."""
        sql, tail = self._split_trailing_clauses(sql)
        m = re.match(
            r"\s*UNPIVOT\s+([\w.\"`]+|\(.*\))\s+ON\s+(.+?)"
            r"(?:\s+INTO\s+NAME\s+([\w\"`]+)\s+VALUE\s+([\w\"`]+))?"
            r"\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported UNPIVOT: {sql[:80]}")
        on_cols = [c.strip().strip('"`') for c in m.group(2).split(",")]
        # INTO NAME/VALUE is optional: DuckDB defaults to name/value
        name_col = m.group(3).strip('"`') if m.group(3) else "name"
        value_col = m.group(4).strip('"`') if m.group(4) else "value"
        df = self._pivot_source(m.group(1))
        ids = [c for c in df.columns if c not in on_cols]
        out = df.unpivot(ids, on_cols, name_col, value_col)
        if tail:
            view = self._fresh_view(out)
            return self._query(f"SELECT * FROM {view} {tail}")
        return out

    def _summarize(self, sql: str) -> DataFrame:
        body = re.sub(r"^\s*SUMMARIZE\s+", "", sql, flags=re.IGNORECASE).strip().rstrip(";")
        file_hint = None
        if re.match(r"^[\w.\"`]+$", body):
            df = self.table(body)
            key = self._resolve_table_key(body)
            file_hint = self._table_files.get(key) if key else None
        else:
            df = self._query(body)
        return introspect.summarize_df(self.spark, df, file_hint=file_hint)

    def _explain(self, sql: str) -> DataFrame:
        """EXPLAIN passes through to Spark; EXPLAIN ANALYZE (DuckDB
        profiling form) executes the query and returns the executed plan
        in DuckDB's (explain_key, explain_value) shape."""
        m = re.match(r"\s*EXPLAIN\s+ANALYZE\s+(.*)$", sql,
                     re.IGNORECASE | re.DOTALL)
        if not m:
            return self._query(sql)
        df = self._query(m.group(1))
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        schema = T.StructType(
            [
                T.StructField("explain_key", T.StringType(), False),
                T.StructField("explain_value", T.StringType(), False),
            ]
        )
        return introspect.local_df(
            self.spark, [("analyzed_plan", plan)], schema
        )

    def _describe(self, sql: str) -> DataFrame:
        body = re.sub(r"^\s*DESC(RIBE)?\s+(TABLE\s+)?", "", sql, flags=re.IGNORECASE).strip().rstrip(";")
        fixed = overrides = None
        if re.match(r"^[\w.\"`]+$", body):
            df = self.table(body)
            key = self._resolve_table_key(body)
            fixed = self._fixed_arrays.get(key) if key else None
            overrides = self._type_overrides.get(key) if key else None
        else:
            df = self._query(body)
        notnull = pk = None
        if re.match(r"^[\w.\"`]+$", body):
            k2 = self._resolve_table_key(body)
            notnull = self._notnull_cols.get(k2) if k2 else None
            pk = self._pk_cols(k2) if k2 else None
            uni = self._uni_cols(k2) if k2 else None
        else:
            uni = None
        return introspect.describe_df(
            self.spark, df, fixed=fixed, overrides=overrides,
            notnull=notnull, pk=pk, uni=uni,
        )

    def _show(self, sql: str) -> DataFrame:
        s = re.sub(r"\s+", " ", sql).strip().rstrip(";").upper()
        if s == "SHOW TABLES":
            return self._tables_df()
        if s == "SHOW ALL TABLES":
            return self._all_tables_df()
        if s == "SHOW DATABASES":
            return self._databases_df()
        body = sql.strip().rstrip(";")
        body = re.sub(r"^\s*SHOW\s+", "", body, flags=re.IGNORECASE)
        return self._describe(f"DESCRIBE {body}")

    def _tables_df(self) -> DataFrame:
        names = sorted({k.rpartition(".")[2] for k in self._tables})
        return introspect.local_df(
            self.spark, [(n,) for n in names],
            T.StructType([T.StructField("name", T.StringType())]),
        )

    def _uni_cols(self, key: str) -> set:
        """Columns of UNIQUE constraints outside the PK (DESCRIBE
        'UNI' marker — DuckDB marks every member of a composite
        UNIQUE too)."""
        pk = self._pk_cols(key)
        pkl = self._primary_keys.get(key)
        out = set()
        for ks in self._unique_keys.get(key) or []:
            if pkl is not None and [c.lower() for c in ks] == [
                c.lower() for c in pkl
            ]:
                continue  # the PK entry itself
            for c in ks:
                if c.lower() not in pk:
                    out.add(c.lower())
        return out

    def _pk_cols(self, key: str) -> set:
        """Columns of the table's PRIMARY KEY (first _unique_keys entry
        is the PK by construction; UNIQUE-only sets do not count)."""
        return {c.lower() for c in self._primary_keys.get(key, ())}

    def _all_tables_df(self) -> DataFrame:
        """DuckDB ``SHOW ALL TABLES`` shape (round-12 probe find):
        database, schema, name, column_names, column_types, temporary."""
        rows = []
        for key in sorted(self._tables):
            db, _, name = key.rpartition(".")
            df = self._tables[key]
            fixed = self._fixed_arrays.get(key)
            overrides = self._type_overrides.get(key)
            rows.append((
                "memory",
                db or "main",
                name,
                [f.name for f in df.schema.fields],
                [
                    introspect._type_name(f, fixed, overrides)
                    for f in df.schema.fields
                ],
                key in self._temp_tables,
            ))
        schema = T.StructType([
            T.StructField("database", T.StringType(), False),
            T.StructField("schema", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField(
                "column_names", T.ArrayType(T.StringType()), False
            ),
            T.StructField(
                "column_types", T.ArrayType(T.StringType()), False
            ),
            T.StructField("temporary", T.BooleanType(), False),
        ])
        return introspect.local_df(self.spark, rows, schema)

    def _databases_df(self) -> DataFrame:
        dbs = sorted(self._databases - {"information_schema", "main"})
        return introspect.local_df(
            self.spark, [(d,) for d in dbs],
            T.StructType([T.StructField("database_name", T.StringType())]),
        )

    def _count_df(self, n: int) -> DataFrame:
        return introspect.local_df(
            self.spark, [(n,)],
            T.StructType([T.StructField("Count", T.LongType())]),
        )


_MEM_UNITS = {
    "": 1, "B": 1,
    "K": 10**3, "KB": 10**3, "M": 10**6, "MB": 10**6,
    "G": 10**9, "GB": 10**9, "T": 10**12, "TB": 10**12,
    "KIB": 2**10, "MIB": 2**20, "GIB": 2**30, "TIB": 2**40,
}


def _format_memory(v: str) -> str:
    """Normalize a memory setting the way DuckDB renders it back from
    ``current_setting`` ('20G' -> '18.6 GiB'; dev.json:572-574)."""
    m = re.match(r"^\s*([0-9]*\.?[0-9]+)\s*([A-Za-z]*)\s*$", v)
    if not m:
        return v
    mult = _MEM_UNITS.get(m.group(2).upper())
    if mult is None:
        return v
    nbytes = float(m.group(1)) * mult
    for unit, size in (("TiB", 2**40), ("GiB", 2**30), ("MiB", 2**20), ("KiB", 2**10)):
        if nbytes >= size:
            return f"{round(nbytes / size, 1):.1f} {unit}"
    return f"{nbytes:.0f} bytes"


def _dml_clauses(sql: str, words: tuple[str, ...]) -> dict[str, str]:
    """Split a DML statement on DEPTH-0 clause keywords taken in the
    order of ``words`` (a FROM or WHERE inside a subquery is not a
    clause boundary). Returns keyword -> clause text for the keywords
    present, plus ``""`` -> the text before the first one."""
    tokens = tokenize(sql.strip().rstrip(";"))
    cuts: list[tuple[str, int]] = [("", -1)]
    depth = nxt = 0
    for i, t in enumerate(tokens):
        if t.kind == PUNCT and t.text in "([{":
            depth += 1
        elif t.kind == PUNCT and t.text in ")]}":
            depth -= 1
        elif depth == 0 and t.kind == IDENT and t.upper in words[nxt:]:
            nxt = words.index(t.upper) + 1
            cuts.append((t.upper, i))
    ends = [i for _, i in cuts[1:]] + [len(tokens)]
    return {
        w: render(tokens[i + 1 : end]).strip()
        for (w, i), end in zip(cuts, ends)
    }


def parse_set_list(text: str, columns: list[str]) -> dict[str, str]:
    """The one SET-list parser (UPDATE, UPDATE..FROM, ON CONFLICT DO
    UPDATE, MERGE): ``a = e1, (b, c) = (e2, e3)`` -> {column: expression
    text}, keyed by the table's own column spelling. A tuple target takes
    its values pairwise, or one value for every column (DuckDB's
    ``(a, b) = (1)``). An unknown target raises DuckDB's binder error —
    a dropped assignment would be a silent no-op UPDATE."""
    by_lower = {c.lower(): c for c in columns}
    toks = tokenize(text)
    out: dict[str, str] = {}
    for lo, hi in split_args(toks, 0, len(toks)):
        depth = 0
        eq = None
        for j in range(lo, hi):
            t = toks[j]
            if t.kind == PUNCT and t.text in "([{":
                depth += 1
            elif t.kind == PUNCT and t.text in ")]}":
                depth -= 1
            elif depth == 0 and t.kind == OP and t.text == "=":
                eq = j
                break
        if eq is None:
            raise ValueError(
                "Parser Error: syntax error in SET item "
                f"{render(toks[lo:hi]).strip()[:60]!r}"
            )
        targets = _paren_items(toks, lo, eq)
        values = [render(toks[eq + 1 : hi])]
        if targets is None:
            targets = [render(toks[lo:eq])]
        else:
            values = _paren_items(toks, eq + 1, hi) or values
        if len(values) == 1:
            values = values * len(targets)
        elif len(values) != len(targets):
            raise ValueError(
                "Parser Error: Could not perform multiple assignment, target "
                f"only expects {len(targets)} values, {len(values)} were "
                "provided"
            )
        for target, value in zip(targets, values):
            name = target.strip().strip('"`')
            col = by_lower.get(name.lower())
            if col is None:
                raise KeyError(
                    "Binder Error: Referenced update column "
                    f"{name.split('.')[0]} not found in table!"
                )
            out[col] = value.strip()
    return out


def _paren_items(toks: list[Token], lo: int, hi: int) -> Optional[list[str]]:
    """The comma-separated items of ``toks[lo:hi]`` when that span is one
    parenthesized list ``( ... )``; None otherwise."""
    a = next_sig(toks, lo - 1)
    b = prev_sig(toks, hi)
    if a >= hi or toks[a].kind != PUNCT or toks[a].text != "(":
        return None
    if match_forward(toks, a, "(", ")") != b:
        return None
    if toks[next_sig(toks, a)].is_kw("SELECT", "WITH", "FROM", "VALUES"):
        return None  # a subquery is one value, not a list
    return [render(toks[x:y]) for x, y in split_args(toks, a + 1, b)]


def _qualify_conflict_refs(expr: str, columns: list[str], table: str) -> str:
    """ON CONFLICT DO UPDATE scoping (Postgres/DuckDB): an unqualified
    target-column name or a ``<table>.`` prefix means the EXISTING row
    (alias ``__tgt``); ``excluded.c`` stays the incoming row."""
    lowered = {c.lower() for c in columns}
    toks = tokenize(expr)
    pieces: list[str] = []
    for i, t in enumerate(toks):
        p, n = prev_sig(toks, i), next_sig(toks, i)
        after_dot = p >= 0 and toks[p].text == "."
        nxt = toks[n].text if n < len(toks) else ""
        name = t.text.lower()
        if t.kind != IDENT or after_dot or name == "excluded":
            pieces.append(t.text)
        elif nxt == "." and name == table.lower():
            pieces.append("__tgt")
        elif nxt not in (".", "(") and name in lowered:
            pieces.append(f"__tgt.{t.text}")
        else:
            pieces.append(t.text)
    return "".join(pieces)


def _collect_cte_scopes(tokens: list[Token]) -> list[tuple[str, int, int]]:
    """``(name, scope_start, scope_end)`` for every CTE bound by
    ``WITH name [(cols)] AS (...)``.

    The scope is the innermost parenthesized group enclosing the WITH
    (the whole statement for a top-level WITH) — DuckDB scoping: a CTE
    declared inside a subquery shadows a same-named catalog table only
    within that subquery, so an outer reference still reads the real
    table."""
    # paren structure: innermost enclosing '(' for each position
    close_of: dict[int, int] = {}
    stack: list[int] = []
    encl: list[int] = [-1] * len(tokens)
    for i, t in enumerate(tokens):
        encl[i] = stack[-1] if stack else -1
        if t.kind == PUNCT and t.text == "(":
            stack.append(i)
        elif t.kind == PUNCT and t.text == ")" and stack:
            close_of[stack.pop()] = i

    scopes: list[tuple[str, int, int]] = []
    for i, t in enumerate(tokens):
        if t.kind != IDENT or t.upper in ("AS", "WITH"):
            continue
        p = prev_sig(tokens, i)
        if p < 0 or not (
            tokens[p].is_kw("WITH", "RECURSIVE")
            or (tokens[p].kind == PUNCT and tokens[p].text == ",")
        ):
            continue
        j = next_sig(tokens, i)
        if j < len(tokens) and tokens[j].kind == PUNCT and tokens[j].text == "(":
            # optional column list: name (c1, c2) AS (
            c = match_forward(tokens, j, "(", ")")
            j = next_sig(tokens, c)
        if j < len(tokens) and tokens[j].is_kw("AS"):
            k = next_sig(tokens, j)
            if k < len(tokens) and tokens[k].kind == PUNCT and tokens[k].text == "(":
                o = encl[i]
                start = o + 1 if o >= 0 else 0
                end = close_of.get(o, len(tokens)) if o >= 0 else len(tokens)
                scopes.append((t.text.lower(), start, end))
    return scopes


def _split_top_commas(s: str) -> list[str]:
    out, depth, start, i = [], 0, 0, 0
    in_str = False
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
        i += 1
    out.append(s[start:])
    return [x for x in out if x.strip()]


def _parse_copy_options(tokens: list[Token]) -> dict:
    opts: dict = {}
    for lo, hi in split_args(tokens, 0, len(tokens)):
        sig = [tk for tk in tokens[lo:hi] if tk.kind not in (WS, COMMENT)]
        if not sig:
            continue
        key = sig[0].upper if sig[0].kind == IDENT else sig[0].text.upper()
        vals = sig[1:]
        if key == "FORMAT":
            opts["format"] = vals[0].text.strip("'\"") if vals else None
        elif key in ("DELIMITER", "DELIM", "SEP"):
            raw = vals[0].text.strip("'") if vals else ","
            opts["delimiter"] = raw.encode().decode("unicode_escape")
        elif key == "HEADER":
            opts["header"] = not vals or vals[0].upper not in ("FALSE", "0")
        elif key == "PARTITION_BY":
            cols = [tk.text.strip('"`') for tk in vals if tk.kind == IDENT]
            opts["partition_by"] = cols
        elif key in ("OVERWRITE_OR_IGNORE", "OVERWRITE"):
            opts["overwrite"] = True
        elif key == "COMPRESSION":
            opts["compression"] = vals[0].text.strip("'\"") if vals else None
        elif key in ("NULL", "NULLSTR"):
            opts["null_str"] = vals[0].text.strip("'") if vals else ""
        elif key == "QUOTE":
            opts["quote"] = (
                vals[0].text[1:-1].replace("''", "'") if vals else '"'
            )
        elif key == "ESCAPE":
            opts["escape"] = (
                vals[0].text[1:-1].replace("''", "'") if vals else '"'
            )
    return opts


def _pass_order_by_nulls(tokens: list[Token], order: str) -> list[Token]:
    """DuckDB's default null order is NULLS LAST for both directions
    (configurable via PRAGMA default_null_order, dev.json:220); Spark
    defaults to NULLS FIRST on ASC. Append explicit NULLS markers to
    ORDER BY items that don't specify one; ``ORDER BY ALL [ASC|DESC]``
    takes one like any other item, and Spark applies it to every output
    column."""
    if order not in ("nulls_last", "nulls_first"):
        return tokens
    out = list(tokens)
    i = 0
    while i < len(out):
        t = out[i]
        if t.kind == IDENT and t.upper == "ORDER":
            b = next_sig(out, i)
            if b < len(out) and out[b].is_kw("BY"):
                # collect items until LIMIT/OFFSET/closing paren/end at depth 0
                j = b + 1
                depth = 0
                item_start = next_sig(out, b)
                items: list[tuple[int, int]] = []
                end = len(out)
                k = item_start
                while k < len(out):
                    tk = out[k]
                    if tk.kind == PUNCT and tk.text in "([{":
                        depth += 1
                    elif tk.kind == PUNCT and tk.text in ")]}":
                        if depth == 0:
                            end = k
                            break
                        depth -= 1
                    elif depth == 0 and tk.kind == IDENT and tk.upper in (
                        "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
                        "FETCH", "WINDOW", "ROWS", "RANGE",
                    ):
                        end = k
                        break
                    elif depth == 0 and tk.kind == PUNCT and tk.text == ",":
                        items.append((item_start, k))
                        item_start = next_sig(out, k)
                    k += 1
                items.append((item_start, end))
                # annotate items lacking NULLS, back to front
                for lo, hi in reversed(items):
                    span = [x for x in out[lo:hi] if x.kind not in (WS, COMMENT)]
                    if not span:
                        continue
                    if any(x.kind == IDENT and x.upper == "NULLS" for x in span):
                        continue
                    is_desc = span[-1].kind == IDENT and span[-1].upper == "DESC"
                    needs = (
                        ["NULLS", "LAST"]
                        if order == "nulls_last" and not is_desc
                        else ["NULLS", "FIRST"]
                        if order == "nulls_first" and is_desc
                        else None
                    )
                    if needs:
                        # insert after the item's last significant token
                        last = hi - 1
                        while last >= lo and out[last].kind in (WS, COMMENT):
                            last -= 1
                        ins = [Token(WS, " "), Token(IDENT, needs[0]), Token(WS, " "), Token(IDENT, needs[1])]
                        out[last + 1 : last + 1] = ins
                i = end
        i += 1
    return out


def connect(
    spark: Optional[SparkSession] = None,
    database: Optional[str] = None,
    table_format: Optional[str] = None,
    **spark_kwargs,
) -> DuckSparkSession:
    """Engine entry point, mirroring ``duckdb.connect()``.

    ``database=':memory:'`` (or None) keeps the catalog in-session;
    ``database='/path/dir'`` makes managed tables durable across
    sessions, mirroring ``duckdb.connect('file.duckdb')``.
    ``table_format`` picks the durable storage: ``'parquet'`` (default,
    the zero-dependency copy-on-write warehouse) or ``'delta'`` (Delta
    Lake tables; needs delta-spark on the cluster classpath — see
    sources/warehouse.py). A warehouse dir remembers its format.
    """
    return DuckSparkSession(
        spark=spark, database=database, table_format=table_format,
        **spark_kwargs,
    )
