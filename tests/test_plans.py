"""Physical-plan regression tests: the properties that make these queries
scale (pushdown, pruning, broadcast, partial aggregation) must survive
refactors. Each assertion reads the formatted plan the way a human
would after `.explain("formatted")`.

At 100 TB the plan IS the product: a dropped PushedFilters or a
broadcast that degrades to sort-merge-join is a silent 100× regression
that sf0.001 row-count tests cannot see.
"""

from duckdb_nsql_spark import workload


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushed_to_scan(loaded_engine):
    df = loaded_engine.execute(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 40"
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    # column pruning: the parquet scan reads exactly the 2 referenced cols
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_multiway_join_broadcasts_all_dimensions(loaded_engine):
    df = loaded_engine.execute(workload.ENGINE_SQL["q06_multiway_join"][0])
    plan = plan_of(df)
    # region/nation/customer/orders all broadcast against streamed lineitem
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_aggregate_is_two_phase(loaded_engine):
    df = loaded_engine.execute(workload.ENGINE_SQL["q01_pricing_summary"][0])
    plan = plan_of(df)
    # partial (map-side) + final HashAggregate around a single key exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_uses_take_ordered(loaded_engine):
    df = loaded_engine.execute(
        "SELECT l_orderkey, l_extendedprice FROM lineitem "
        "ORDER BY l_extendedprice DESC LIMIT 5"
    )
    plan = plan_of(df)
    # global sort of the whole table would be a full shuffle; top-k must
    # stay a TakeOrderedAndProject
    assert "TakeOrderedAndProject" in plan


def test_ngram_jaccard_shuffle_budget(loaded_engine, spark):
    # r2 spent 11 exchanges on this pipeline; the rewrite budgets 2
    # without max_df (self-join exchange [reused on the other side] +
    # pair-count agg) and 3 with it (+ doc-frequency agg, hot set
    # broadcast into the anti-join). Count Exchange operators in the
    # formatted plan — ReusedExchange must not count. max_df defaults ON
    # since round 10, so the unguarded budget needs max_df=None.
    from duckdb_nsql_spark.operators import dedup

    docs = loaded_engine.table("documents")
    plan = plan_of(dedup.ngram_jaccard_pairs(docs, max_df=None))
    n_ex = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and " Exchange" in line
        and "ReusedExchange" not in line
    )
    assert n_ex <= 2, f"ngram_jaccard shuffles regressed: {n_ex}\n{plan}"
    plan_hot = plan_of(dedup.ngram_jaccard_pairs(docs, max_df=50))
    n_ex_hot = sum(
        1
        for line in plan_hot.splitlines()
        if line.strip().startswith("(")
        and " Exchange" in line
        and "ReusedExchange" not in line
    )
    assert n_ex_hot <= 3, f"max_df path shuffles regressed: {n_ex_hot}"
    assert "BroadcastHashJoin" in plan_hot  # hot set must broadcast


def test_bucketed_join_has_no_exchange(loaded_engine, spark):
    # two tables bucketed on the join key with the same bucket count join
    # with ZERO exchanges — the co-located fact-to-fact join layout
    from duckdb_nsql_spark.sources import bucketed

    orders = loaded_engine.table("orders").select("o_orderkey", "o_custkey")
    li = loaded_engine.table("lineitem").select("l_orderkey", "l_quantity")
    bo = bucketed.write_bucketed(
        orders.withColumnRenamed("o_orderkey", "k"), "t_bkt_orders", ["k"], 8
    )
    bl = bucketed.write_bucketed(
        li.withColumnRenamed("l_orderkey", "k"), "t_bkt_lineitem", ["k"], 8
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed.colocated_join(bo, bl, on=["k"])
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # per-bucket sortBy lets the join skip its Sort too
        assert "Bucketed: true" in plan
        n = joined.count()
        assert n == loaded_engine.execute(
            "SELECT count(*) AS n FROM orders o JOIN lineitem l "
            "ON o.o_orderkey = l.l_orderkey"
        ).collect()[0]["n"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_orders")
        spark.sql("DROP TABLE IF EXISTS t_bkt_lineitem")


def test_small_sort_skips_range_exchange(loaded_engine, spark):
    # a trailing ORDER BY over a small input runs as coalesce(1) +
    # local sort — no rangepartitioning exchange, no sampling pass
    df = loaded_engine.execute(
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "GROUP BY ALL ORDER BY ALL"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert "Coalesce" in plan
    # with the gate forced to zero the distributed range sort returns —
    # the shape every big input keeps
    from duckdb_nsql_spark import session as sess

    old = sess.SMALL_SORT_MAX_INPUT_BYTES
    sess.SMALL_SORT_MAX_INPUT_BYTES = 0
    try:
        df2 = loaded_engine.execute(
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "GROUP BY ALL ORDER BY ALL"
        )
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan2
    finally:
        sess.SMALL_SORT_MAX_INPUT_BYTES = old


_SORT_TABLES = [
    "CREATE TABLE os_t (a INTEGER, b VARCHAR, c INTEGER)",
    "INSERT INTO os_t VALUES (2, 'x', 1), (NULL, 'y', 2), (1, NULL, 3),"
    " (3, 'z', 4), (NULL, NULL, 5), (2, 'w', 6)",
    "CREATE TABLE os_u (a INTEGER, b VARCHAR)",
    "INSERT INTO os_u VALUES (5, 'q'), (NULL, 'r'), (2, NULL)",
]

# every shape sorts totally (os_t.c is unique), so DuckDB's row order is
# the only right one
_SORT_SHAPES = [
    "SELECT * FROM os_t ORDER BY ALL",
    "SELECT * FROM os_t ORDER BY ALL LIMIT 2",
    "SELECT * FROM os_t ORDER BY ALL DESC",
    "SELECT * FROM os_t ORDER BY ALL DESC LIMIT 3",
    "SELECT b FROM os_t ORDER BY c DESC",
    "SELECT t.b, t.c FROM os_t t ORDER BY t.b, t.c",
    "WITH w AS (SELECT a, b, c FROM os_t WHERE c > 1)"
    " SELECT b, c FROM w ORDER BY a DESC, c",
    "SELECT a, b FROM os_t UNION SELECT a, b FROM os_u ORDER BY a, b",
    "SELECT DISTINCT a FROM os_t ORDER BY a",
    "SELECT DISTINCT ON (a) a, b, c FROM os_t ORDER BY a, c DESC",
    "SELECT c, sum(a) OVER (ORDER BY c) AS s FROM os_t ORDER BY 1",
]


def test_trailing_sort_matches_duckdb_in_order(engine, monkeypatch):
    """A trailing ORDER BY returns DuckDB's rows in DuckDB's order, over
    NULL-bearing in-session tables, at the default small-sort gate (the
    analyzed Sort over one partition: no range exchange) and with the
    gate at zero (Spark's range sort)."""
    import duckdb

    from duckdb_nsql_spark import session as sess

    from .test_dml_ext import _jobs_started

    ddb = duckdb.connect()
    for s in _SORT_TABLES:
        engine.execute(s)
        ddb.execute(s)
    for gate in (sess.SMALL_SORT_MAX_INPUT_BYTES, 0):
        monkeypatch.setattr(sess, "SMALL_SORT_MAX_INPUT_BYTES", gate)
        for q in _SORT_SHAPES:
            df = engine.execute(q)
            assert [tuple(r) for r in df.collect()] == ddb.execute(
                q
            ).fetchall(), (gate, q)
            if gate:
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "rangepartitioning" not in plan, (q, plan)
    monkeypatch.undo()
    # an unselected sort key stays one sorted stage: one Spark job
    rows, jobs = _jobs_started(
        engine.spark,
        lambda: engine.execute("SELECT b FROM os_t ORDER BY c").collect(),
    )
    assert [r[0] for r in rows] == ["x", "y", None, "z", None, "w"]
    assert len(jobs) == 1, jobs


def test_whole_stage_codegen_covers_filter_agg(loaded_engine):
    df = loaded_engine.execute(
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "WHERE l_quantity > 10 GROUP BY l_returnflag"
    )
    df.collect()  # AQE only annotates codegen spans in the final plan
    plan = plan_of(df)
    # formatted mode marks codegen'd operators "* Op" / "[codegen id : N]"
    assert "codegen id" in plan
    assert "* Filter" in plan and "* HashAggregate" in plan


def test_lsh_index_partition_prunes(loaded_engine, spark, tmp_path):
    """The at-rest LSH forest (write_lsh_index) must answer probes via
    TRUE partition pruning — each per-table scan reads only its probe
    bucket directories, never the full copy — and return the same
    candidates as the in-memory multi-table scan (same hyperplanes)."""
    import shutil
    import tempfile

    from duckdb_nsql_spark.operators import similarity as S
    from duckdb_nsql_spark.workload import _embeds, _query_vec

    sf = "/root/testdata/sf0.001"
    emb = _embeds(spark, sf)
    vec = _query_vec(spark, sf)
    # short path: Spark truncates long Location strings in plan text,
    # which would hide the index dirs from the assertions below
    root = tempfile.mkdtemp(prefix="lshix_")
    idx = root + "/lsh_idx"
    S.write_lsh_index(emb, idx, dim=len(vec), n_tables=3)

    out = S.lsh_topk_indexed(spark, idx, vec, k=10, n_tables=3)
    mem_rows = sorted(
        (r["vec_id"], r["cosine"])
        for r in S.lsh_topk(emb, vec, k=10, n_tables=3).collect()
    )
    idx_rows = sorted((r["vec_id"], r["cosine"]) for r in out.collect())
    assert idx_rows == mem_rows

    # plan check: every parquet scan carries a bucket partition filter
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = [seg for seg in plan.split("FileScan parquet") if "lsh_idx" in seg]
        assert len(scans) >= 3, plan[:500]
        for seg in scans:
            head = seg.split("ReadSchema")[0]
            assert "PartitionFilters: [" in head
            pf = head.split("PartitionFilters: [", 1)[1]
            assert "bucket" in pf.split("]")[0], pf[:120]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_index_partition_prunes(loaded_engine, spark, tmp_path):
    """write_ivf_index + ivf_topk_indexed: the probe reads only the
    nprobe nearest-centroid partitions (PartitionFilters on cent) and
    matches the in-memory ivf_topk exactly (same centroids)."""
    import shutil
    import tempfile

    from duckdb_nsql_spark.operators import similarity as S
    from duckdb_nsql_spark.workload import _embeds, _query_vec

    sf = "/root/testdata/sf0.001"
    emb = _embeds(spark, sf)
    vec = _query_vec(spark, sf)
    cents = S.ivf_centroids(emb, dim=len(vec), k=8, iters=1)
    root = tempfile.mkdtemp(prefix="ivfix_")
    idx = root + "/ivf_idx"
    try:
        S.write_ivf_index(emb, idx, cents)
        out = S.ivf_topk_indexed(spark, idx, vec, cents, k=10)
        mem = sorted(
            (r["vec_id"], r["cosine"])
            for r in S.ivf_topk(emb, vec, cents, k=10).collect()
        )
        got = sorted((r["vec_id"], r["cosine"]) for r in out.collect())
        assert got == mem
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = [s_ for s_ in plan.split("FileScan parquet") if "ivf_idx" in s_]
        assert len(scans) >= 1, plan[:500]
        for seg in scans:
            head = seg.split("ReadSchema")[0]
            assert "PartitionFilters: [" in head
            assert "cent" in head.split("PartitionFilters: [", 1)[1].split("]")[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_q22_cte_localizes_and_job_budget(spark):
    # q22's repeated reducing CTE (per_nation) must collapse to a
    # LocalTableScan (one LocalRelation), and a full execution
    # must stay within a fixed job budget: 1 parallel collect() for the
    # CTE body + the final statement's scalar-subquery and fetch jobs.
    # Regression guard for the r4->r5 driver-bench regression (0.42s ->
    # 0.57s) caused by the take()-based probe's incremental-limit jobs.
    sf = "/root/testdata/sf0.01"
    q = workload.build_queries()["q22_cte_scalar_subquery"]
    q(spark, sf).collect()  # warm: codegen + view setup outside the count
    sc = spark.sparkContext
    sc.setJobGroup("q22_budget", "q22 job count probe")
    try:
        df = q(spark, sf)
        plan = plan_of(df)
        assert "LocalTableScan" in plan, plan
        assert "Scan parquet" not in plan  # all base data localized
        df.collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("q22_budget")
    assert len(jobs) <= 5, f"q22 ran {len(jobs)} jobs: {jobs}"


def test_oversized_build_falls_back_to_sort_merge(loaded_engine, spark):
    """The shuffled-hash-join preference is SIZE-GATED: when the build
    side cannot fit a per-partition map (simulated by shrinking the
    thresholds), planning falls back to spill-safe SortMergeJoin — the
    100 TB fact-join safety property behind preferSortMergeJoin=false."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0"
        )
        loaded_engine.clear_statement_cache()
        df = loaded_engine.execute(
            workload.ENGINE_SQL["q06_multiway_join"][0]
        )
        plan = plan_of(df)
        assert "SortMergeJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        loaded_engine.clear_statement_cache()


def test_cluster_by_ctas_seam(engine, spark, sf_dir):
    # CREATE TABLE ... CLUSTER BY (k) INTO n BUCKETS AS <query> routes
    # through the bucketed-at-rest layout: a join between two tables
    # clustered on the join key needs no shuffle exchange on either side,
    # and results match the plain-parquet join exactly.
    engine.register_parquet_dir(sf_dir)
    engine.execute(
        "CREATE OR REPLACE TABLE ob CLUSTER BY (o_orderkey) INTO 8 BUCKETS"
        " AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
    )
    engine.execute(
        "CREATE OR REPLACE TABLE lb CLUSTER BY (l_orderkey) INTO 8 BUCKETS"
        " AS SELECT l_orderkey, l_quantity FROM lineitem"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = engine.execute(
            "SELECT count(*) AS n, round(sum(l_quantity), 2) AS q"
            " FROM ob JOIN lb ON o_orderkey = l_orderkey"
        )
        plan = plan_of(df)
        join_section = plan.split("HashAggregate")[-1]
        assert "Exchange" not in join_section, plan
        assert "Bucketed: true" in plan
        exp = engine.execute(
            "SELECT count(*) AS n, round(sum(l_quantity), 2) AS q"
            " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        ).collect()
        assert df.collect() == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in list(spark.catalog.listTables()):
            if t.name.startswith("ddbs_bkt_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_bucketed_ctas_writes_one_file_per_bucket(engine, spark, sf_dir):
    """Round 13: the CLUSTER BY CTAS writer repartitions on the bucket
    keys so every bucket lands as EXACTLY one file. Without it, each of
    the W upstream write tasks emits its own file per bucket (W x
    n_buckets files): per-file open cost on every downstream scan
    (measured at sf10 on q3_clustered: the 1024-file orders_g store's
    scan+agg ran 0.46 s vs 0.20 s from the 32-file layout), and
    Spark drops the sortBy metadata when a bucket has >1 file."""
    import glob as _glob
    import os

    engine.register_parquet_dir(sf_dir)
    engine.execute(
        "CREATE OR REPLACE TABLE ofb CLUSTER BY (o_custkey) INTO 8 BUCKETS"
        " AS SELECT o_custkey, o_totalprice FROM orders"
    )
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    local = wh[len("file:"):] if wh.startswith("file:") else wh
    tbl = next(
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("ddbs_bkt_") and t.name.endswith("_ofb")
    )
    files = _glob.glob(os.path.join(local, tbl, "*.parquet"))
    assert len(files) == 8, sorted(os.path.basename(f) for f in files)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bloom_decontaminate_plan_shape(spark):
    """The corpus side of Bloom decontamination must stay map-only up to
    the single per-doc aggregate: the bit set arrives via
    BroadcastNestedLoopJoin (1-row build), and exactly TWO exchanges
    exist in the whole plan — the eval-side 1-row bit-set aggregate and
    the per-doc hit aggregate. No shuffle ever carries corpus text."""
    df = workload.op_bloom_decontaminate(spark, workload_sf_dir())
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    # count only DATA-REDISTRIBUTING exchanges (hash/single-partition
    # Arguments lines in the formatted detail); the _docs_wide
    # map-spread adds RoundRobinPartitioning repartitions that are a
    # gated no-op on a properly partitioned corpus
    n_exchanges = sum(
        1 for l in plan.splitlines()
        if l.startswith("Arguments: ")
        and ("hashpartitioning" in l or "SinglePartition" in l)
    )
    # exactly: the eval-side 1-row bit-set aggregate + the per-doc agg
    assert n_exchanges == 2, plan


def test_pq_quantize_assignment_is_map_only(spark):
    """PQ's final assignment pass: codes + error are computed against
    literal centroids — the output stage reads the persisted quantized
    vectors with NO join and NO exchange after the cache scan."""
    df = workload.op_pq_quantize(spark, workload_sf_dir())
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def workload_sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", SF_DIR_DEFAULT)


SF_DIR_DEFAULT = "/root/testdata/sf0.001"


def test_image_phash_read_is_map_only(spark):
    """After the export write, the returned phash plan is Scan ->
    MapInPandas: no join, no exchange — the decode fingerprint never
    shuffles pixels."""
    df = workload.op_image_phash(spark, workload_sf_dir())
    plan = plan_of(df)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_cms_counters_broadcast_to_probes(spark, sf_dir):
    """The Count-Min counter table is 1,536 rows at any corpus size —
    it must broadcast to the top-k probe set, never shuffle-join."""
    from duckdb_nsql_spark.operators import sketches

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(sketches.cms_heavy_hitters(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quantile_sketch_bounds_broadcast(spark, sf_dir):
    """Per-group min/max/n bounds are |groups| rows — both joins back
    to the data must broadcast."""
    from duckdb_nsql_spark.operators import sketches

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(sketches.quantile_sketch(docs))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_winnow_shuffle_budget(spark, sf_dir):
    """Winnowing = one doc-keyed window + one doc-keyed aggregate pair;
    the shingle explode itself must stay map-only. Budget: <= 4
    non-broadcast exchanges (window, two aggregates, final join)."""
    from duckdb_nsql_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(text_ops.winnow_fingerprints(docs))
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if l.strip().startswith("(")
        and "Exchange" in l
        and "Broadcast" not in l
    )
    assert n_exchanges <= 4, plan


def test_funnel_steps_reuse_user_partitioning(spark, sf_dir):
    """Every funnel shuffle keys on user_id; the final 3-row report may
    broadcast but must not shuffle the event table more than once per
    step (3 steps => <= 6 non-broadcast exchanges incl. count rollups)."""
    from duckdb_nsql_spark.operators import behavior

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    import re

    plan = plan_of(behavior.funnel_steps(events))
    assert "CartesianProduct" not in plan
    # data-sized shuffles are the hashpartitioning ones (all user_id-
    # keyed); SinglePartition exchanges carry only the 1-row per-step
    # count rollups and are free
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash <= 6, plan


def test_minhash_lsh_pregrouped_store_single_scan(spark, sf_dir):
    """Round 13: the persisted minhash store is PRE-GROUPED by LSH
    bucket key (band, bandsig -> sorted id array), so a candidate query
    reads the cached store exactly ONCE, contains NO join at all, and
    its only data exchange above the cached scan is the candidate-pair
    distinct. (Round 12's bucketed store was read twice per query
    through a self-join.)"""
    from duckdb_nsql_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_candidates(docs)
    try:
        plan = plan_of(pairs)
        # plan-TREE section above the cached relation: the candidate
        # query's own operators (the cached child plan below the
        # InMemoryRelation is the build-once, untimed store)
        executed = plan.split("InMemoryRelation", 1)[0]
        assert executed.count("InMemoryTableScan") == 1, plan
        assert "Join" not in executed, plan
        # exactly one exchange: the candidate-pair distinct
        assert executed.count("Exchange") == 1, plan
    finally:
        # drop the cached store so later tests see a cold CacheManager
        spark.catalog.clearCache()
