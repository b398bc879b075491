"""Physical-plan quality gates: the properties that decide whether a
query survives a 100 TB scale-up — predicate pushdown to the parquet
scan, column pruning, broadcast of small dimensions, top-k instead of
global sort, whole-stage codegen coverage. Correctness tests can't see
these; a correct-but-full-scan plan fails here."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataframe_sql_spark.engine import plan_string


def test_filter_pushed_to_parquet_scan(engine):
    plan = plan_string(
        engine.query("select l_orderkey from lineitem where l_quantity > 45")
    )
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan, plan


def test_column_pruning_reaches_scan(engine):
    plan = plan_string(engine.query("select l_orderkey, l_quantity from lineitem"))
    # ReadSchema must carry only the projected columns, not all 16
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_shipdate" not in read, read


def test_small_dim_join_broadcasts(engine):
    plan = plan_string(
        engine.query(
            "select n_name, count(*) as n from customer "
            "join nation on c_nationkey = n_nationkey group by n_name"
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_orderby_limit_is_topk(engine):
    plan = plan_string(
        engine.query("select o_orderkey from orders order by o_totalprice desc limit 5")
    )
    assert "TakeOrderedAndProject" in plan, plan
    # no global sort shuffle for a top-k
    assert "Exchange rangepartitioning" not in plan


def test_groupby_has_partial_aggregation(engine):
    plan = plan_string(
        engine.query(
            "select l_returnflag, sum(l_quantity) as s from lineitem group by l_returnflag"
        )
    )
    # map-side combine: partial agg below the hash-partition exchange
    assert "partial_sum" in plan, plan
    assert "hashpartitioning(l_returnflag" in plan, plan


def test_scalar_pipeline_stays_in_codegen(engine):
    df = engine.query(
        "select l_orderkey, l_quantity * l_extendedprice as v "
        "from lineitem where l_discount between 0.02 and 0.06"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # scan→filter→project fuses into one whole-stage-codegen span ("*(1)"),
    # and nothing drops out to Python row evaluation
    assert "*(1)" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_groups_on_hash_not_text(engine):
    from dataframe_sql_spark.operators.dedup import exact_dedup

    plan = plan_string(exact_dedup(engine.spark.table("documents"), ["text"], "doc_id"))
    # the shuffle key is the fixed-width hash, so no exchange partitions on raw text
    exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert exchanges and all("hashpartitioning(text" not in l for l in exchanges), plan


def test_prefix_filter_pairs_never_broadcasts(engine):
    """Every join side in prefix_filter_pairs scales with the corpus,
    and Catalyst's estimator cannot see the explode/groupBy fan-out —
    at a 100× corpus it still chose corpus-sized broadcasts whose
    driver collection died under memory pressure (round-10
    memory_stress finding, SCALE.md). The operator pins sort-merge on
    all four joins; this gate asserts the pin holds even at the tiny
    test SF where the planner would otherwise broadcast everything.

    Since the r14 lineage cuts, the token-frequency rank join executes
    inside the eager materialization of the prefix table (it carries
    the same merge hint — asserted below on a reconstruction of that
    subtree), so the final visible plan holds the remaining three."""
    from dataframe_sql_spark.operators.dedup import (
        prefix_filter_pairs,
        shingle_frame,
    )

    df = prefix_filter_pairs(
        engine.spark.table("documents"), "doc_id", "text", t_num=7, t_den=10
    )
    plan = plan_string(df, "simple")
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SortMergeJoin") >= 3, plan

    # the token-frequency rank (inside the materialized prefix subtree)
    # is a window count over the token partition since r15 — no join at
    # all, so there is nothing the estimator could mis-broadcast there.
    # Rebuild the same shape the operator builds and pin it: one Window
    # over one token exchange, zero joins of any strategy.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sh = shingle_frame(engine.spark.table("documents"), "doc_id", "text", 3)
    toks = sh.select("doc_id", F.explode(F.array_distinct("__sh")).alias("tok"))
    ranked = toks.withColumn(
        "freq", F.count("*").over(Window.partitionBy("tok"))
    )
    rplan = plan_string(ranked, "simple")
    assert "Window" in rplan and "Join" not in rplan, rplan
    assert rplan.count("Exchange hashpartitioning(tok") == 1, rplan


def test_constant_folding(engine):
    plan = plan_string(engine.query("select 1 + 2 * 3 as x from nation"))
    assert "7 AS x" in plan  # Catalyst folded the literal math


def test_partition_pruning_on_partitioned_write(engine, tmp_path):
    """Static partition pruning: a filter on the partition column must
    appear as a PartitionFilter (directory-level skip), not a data
    filter — at 100 TB this is reading 1/N directories vs everything."""
    path = str(tmp_path / "ev_part")
    engine.spark.table("events").write.partitionBy("event_type").parquet(path)
    df = engine.spark.read.parquet(path).filter("event_type = 'click'")
    plan = plan_string(df)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf, plan
    assert df.count() == engine.spark.table("events").filter("event_type = 'click'").count()


def test_dynamic_partition_pruning_from_join(engine, tmp_path):
    """Dynamic partition pruning: a selective dim-side filter prunes
    fact partitions at runtime through the join key."""
    path = str(tmp_path / "li_part")
    engine.spark.table("lineitem").withColumn(
        "flag", F.col("l_returnflag")
    ).write.partitionBy("flag").parquet(path)
    fact = engine.spark.read.parquet(path)
    # dim filtered on a NON-join column: the surviving join keys are
    # only known at runtime, so pruning must be dynamic (a filter on
    # the join key itself would be propagated statically instead)
    dim = (
        engine.spark.table("lineitem")
        .select(F.col("l_returnflag").alias("flag"), "l_linestatus")
        .distinct()
        .filter("l_linestatus = 'F'")
        .select("flag")
        .distinct()
    )
    j = fact.join(dim, "flag")
    # formatted mode elides the pruning subquery; the raw plan string shows it
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join splitting — the runtime half of the skew story
    (salted_join covers what AQE can't). Thresholds forced low so the
    local data qualifies; the final adaptive plan must show the skewed
    partition was split."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        # pinned: with few shuffle partitions (4 at local[4]) the hot
        # partition never reaches 2x the median and nothing is split
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        skewed = (
            spark.range(200000)
            .withColumn(
                "k", F.when(F.col("id") % 10 == 0, 0).otherwise(F.col("id") % 1000)
            )
            .withColumn("pad", F.lpad(F.lit("x"), 64, "y"))
        )
        dim = spark.range(1000).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
        j = skewed.join(dim, "k")
        # collect() drives THIS dataframe's query execution to its final
        # adaptive plan (count() would plan a separate query)
        assert len(j.collect()) == 200000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _tpch(engine, name: str):
    from dataframe_sql_spark.registry import CATALOG
    from dataframe_sql_spark import registry_tpch  # noqa: F401

    return engine.query(CATALOG[name].engine_sql)


def test_exists_decorrelates_to_semi_join(engine):
    """tpch_q4: correlated EXISTS must plan as one LeftSemi join, never a
    per-row subquery or nested loop — at 100 TB the semi-join is a single
    (broadcastable) pass over orders."""
    plan = plan_string(_tpch(engine, "tpch_q4_priority"))
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan


def test_not_exists_decorrelates_to_anti_join(engine):
    """tpch_q22: NOT EXISTS -> LeftAnti, and the uncorrelated scalar
    threshold is pushed all the way into the parquet scan as a filter."""
    plan = plan_string(_tpch(engine, "tpch_q22_idle_custs"))
    assert "LeftAnti" in plan, plan
    assert "GreaterThan(c_acctbal,ScalarSubquery" in plan, plan


def test_correlated_agg_subquery_decorrelates(engine):
    """tpch_q17: the per-part AVG threshold must decorrelate to one
    aggregate over lineitem joined back on l_partkey (two scans total),
    not a subquery per outer row."""
    plan = plan_string(_tpch(engine, "tpch_q17_small_qty"))
    assert "NestedLoop" not in plan, plan
    # the decorrelated aggregate computes sum/count of l_quantity
    assert "sum(l_quantity" in plan, plan


def test_disjunctive_predicate_splits_and_pushes(engine):
    """tpch_q19: from the OR-of-ANDs, Catalyst must derive per-side
    residuals and push them into BOTH parquet scans — the lineitem scan
    skips row groups on l_quantity, the part scan on brand/size."""
    plan = plan_string(_tpch(engine, "tpch_q19_disjunctive"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), plan
    assert any("p_brand" in l and "Or(" in l for l in pushed), plan


def test_persist_reuses_inmemory_scan(engine):
    """An explicitly cached intermediate must be served from
    InMemoryTableScan on reuse — the mechanism that keeps a reused CTE
    from re-reading 100 TB twice."""
    df = engine.query(
        "select l_returnflag, sum(l_quantity) as s from lineitem group by l_returnflag"
    )
    df.persist()
    try:
        df.count()  # materialize the cache
        plan = plan_string(df.filter("s > 0"))
        assert "InMemoryTableScan" in plan, plan
    finally:
        df.unpersist()


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """With broadcast off (the 100 TB big-dim case), a selective dim
    filter must inject a runtime bloom filter (might_contain) on the
    fact side so the shuffle carries only plausible join keys."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
            "o_totalprice > 400000"
        )
        j = li.join(od, li.l_orderkey == od.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rebalance_hint_plumbs_through(engine):
    """The REBALANCE hint must survive the dialect shim and reach
    Catalyst — it's the explicit knob for writing evenly-sized output
    files after a skewed transform (AQE splits/merges to target size)."""
    df = engine.query(
        "select /*+ REBALANCE(l_returnflag) */ l_returnflag, l_quantity from lineitem"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in plan, plan[:800]


def test_dataset_mix_filter_is_map_side(engine):
    # The mixture selection itself must be a scan+filter projection —
    # one bounded count aggregate builds the thresholds driver-side,
    # after which the returned plan contains no exchange at all.
    from dataframe_sql_spark.operators.sampling import dataset_mix

    docs = engine.spark.table("documents")
    out = dataset_mix(
        docs, "doc_id", "lang",
        {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
    )
    plan = plan_string(out)
    # no KEYED exchange: the selection stays a map-side filter. The
    # r14 adaptive scan fan-out may insert one round-robin repartition
    # of the raw scan (no-op at scale) — deliberately permitted, and
    # the filter must still sit DIRECTLY on the scan (pushed below the
    # repartition). Under an AdaptiveSparkPlan wrapper the initial
    # formatted plan carries no codegen '*' markers, so the pin checks
    # the tree shape instead.
    assert "hashpartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    import re as _re

    assert _re.search(
        r"(\* )?Filter \(\d+\)\s*\n\s*\+- (\* )?(ColumnarToRow \(\d+\)\s*\n\s*\+- )?Scan parquet",
        plan,
    ), plan


def test_winnow_fingerprint_single_exchange(engine):
    # Explode fan-out stays partition-local; the only shuffle is the
    # window partition on doc_id (distinct folds into the same keys).
    df = engine.query(
        "select distinct doc_id, fp from ("
        "select doc_id, pos, m, "
        "min(kh) over (partition by doc_id order by pos "
        "rows between 15 preceding and current row) as fp "
        "from (select doc_id, pos, m, "
        "substr(md5(substr(text, pos, 8)), 1, 8) as kh "
        "from (select doc_id, text, greatest(1, n_chars - 7) as m, "
        "posexplode(sequence(1, greatest(1, n_chars - 7))) as (i, pos) "
        "from documents) g) h) w "
        "where pos >= least(16, m)"
    )
    plan = plan_string(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Generate" in plan  # explode is a Generate, not a join


def test_quantize_is_single_projection(engine):
    from dataframe_sql_spark import registry_ext  # noqa: F401 (extends CATALOG)
    from dataframe_sql_spark.registry import CATALOG

    df = engine.query(CATALOG["emb_quantize_int8"].engine_sql)
    plan = plan_string(df)
    # projection-only apart from the adaptive scan fan-out's possible
    # round-robin repartition (no-op at scale): no keyed exchange.
    assert "hashpartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_global_shuffle_avoids_global_sort(engine):
    # The permutation must come from the parallel bucket decomposition:
    # the fact branch shuffles hash-partitioned on the bucket key; the
    # only SinglePartition exchange allowed is the tiny post-aggregate
    # bucket-offset table (which is then broadcast back).
    from dataframe_sql_spark.operators.sampling import global_shuffle

    docs = engine.spark.table("documents").select("doc_id")
    out = global_shuffle(docs, "doc_id")
    plan = plan_string(out)
    assert "hashpartitioning(_gs_b" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # The fact-side window partitions by bucket; the only global
    # (un-partitioned) window is the 4096-row offset table, which sits
    # between the bucket-count HashAggregate and a BroadcastExchange —
    # i.e. every SinglePartition shuffle moves aggregate output, not
    # scan output.
    for idx in range(len(plan)):
        if plan.startswith("Exchange SinglePartition", idx):
            assert "HashAggregate" in plan[:idx], plan


def test_global_rank_has_no_single_partition_window(engine):
    # W1-W3 global rank used to be the one remaining single-partition
    # plan (Exchange SinglePartition + whole-table Window). The
    # two-pass operator must keep every stage distributed: ranking
    # windows partition on the range-partition id, and the partition
    # offsets enter as a literal array (bounded driver collect), so
    # NO SinglePartition exchange may appear anywhere in the plan.
    from dataframe_sql_spark.operators.rank import global_rank

    li = engine.spark.table("lineitem")
    out = global_rank(li, [("l_quantity", False)], out_col="rnk")
    plan = plan_string(out)
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan, plan

    dense = global_rank(li, [("l_quantity", False)], dense=True, out_col="drnk")
    plan_d = plan_string(dense)
    assert "SinglePartition" not in plan_d, plan_d


# Hand-built degenerate inputs for the global rank: (rows, DDL schema,
# order). Each row's first field is its unique ``id``.
_NAN, _INF = float("nan"), float("inf")
_RANK_EDGE_CASES = {
    "nulls_asc_and_desc": (
        [(i, None if i % 3 == 0 else float(i % 5), None if i % 4 == 0 else f"s{i % 3}")
         for i in range(40)],
        "id int, a double, b string",
        [("a", True), ("b", False)],
    ),
    "nan_and_signed_zero_asc": (
        [(i, v) for i, v in enumerate([_NAN, -0.0, 0.0, 1.0, -1.0, _INF, -_INF, None] * 5)],
        "id int, a double",
        [("a", True)],
    ),
    "nan_and_signed_zero_desc": (
        [(i, v) for i, v in enumerate([0.0, _NAN, -0.0, None, 2.5, -_INF] * 6)],
        "id int, a double",
        [("a", False)],
    ),
    "one_hot_key": (
        [(i, 7 if i % 10 else i) for i in range(60)],
        "id int, a int",
        [("a", True)],
    ),
    "string_keys": (
        [(i, s) for i, s in enumerate(["", "a", "B", "b", "ä", "z", "é", "aa", "日本", "A"] * 3)],
        "id int, a string",
        [("a", False)],
    ),
    "single_row": ([(0, 1.5)], "id int, a double", [("a", True)]),
    "empty": ([], "id int, a double", [("a", True)]),
}


def test_global_rank_matches_sql_window(engine):
    # Differential: the distributed rank must equal the naive
    # single-partition SQL window bit-for-bit, ties included — on
    # lineitem and on hand-built degenerate inputs (nulls either way,
    # NaN and signed zeros, a hot key, strings, one row, no rows), for
    # rank and dense_rank. The hand-built cases run at 8 shuffle
    # partitions so small inputs still span several buckets.
    from pyspark.sql import Window

    from dataframe_sql_spark.operators.rank import global_rank

    spark = engine.spark

    def check(df, order, ids, label):
        sort = [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]
        for dense, fn in ((False, F.rank), (True, F.dense_rank)):
            got = {
                tuple(r)
                for r in global_rank(df, order, dense=dense, out_col="r")
                .select(*ids, "r")
                .collect()
            }
            want = {
                tuple(r)
                for r in df.select(*ids, fn().over(Window.orderBy(*sort)).alias("r")).collect()
            }
            assert got == want, (label, dense)

    check(
        spark.table("lineitem"),
        [("l_quantity", False), ("l_extendedprice", True), ("l_orderkey", True)],
        ["l_orderkey", "l_linenumber"],
        "lineitem",
    )
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        for label, (rows, schema, order) in _RANK_EDGE_CASES.items():
            check(spark.createDataFrame(rows, schema), order, ["id"], label)
    finally:
        spark.conf.set(key, before)


def test_relevance_family_vocab_joins_broadcast(spark):
    """TF-IDF/BM25 vocab-statistics joins must be BroadcastHashJoin
    (the post-agg UNIGRAM vocab tables are Zipf-bounded), never
    SortMergeJoin — a sort-merge here would shuffle the exploded token
    stream a second time at 100 TB. txt_lm_score is the split case
    (round-11 broadcast audit): its unigram table stays broadcast, but
    the UNPRUNED bigram-count table has near-corpus cardinality with a
    post-explode-blind estimate, so that join is pinned SortMergeJoin
    — a dropped merge hint would revert it to the estimator-blind
    broadcast class."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    qs = entrymod.queries()
    for name in ("txt_tfidf", "txt_bm25", "dd_lines"):
        df = qs[name](spark, SF_DIR)
        plan = plan_string(df)
        assert "SortMergeJoin" not in plan, f"{name} fell back to SMJ"
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcasts"
    df = qs["txt_lm_score"](spark, SF_DIR)
    plan = plan_string(df)
    assert "SortMergeJoin" in plan, "lm_score bigram join lost its merge hint"
    assert "BroadcastHashJoin" in plan, "lm_score unigram join lost broadcast"


def test_range_and_linkage_joins_are_hash_joins(spark):
    """The bucketed range-join rewrite and the blocked record-linkage
    join must plan as hash equi-joins with residual predicates — a
    BroadcastNestedLoopJoin or CartesianProduct here would be the
    all-pairs plan the rewrites exist to avoid (fatal at 100 TB)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    qs = entrymod.queries()
    for name in ("j_range_incidents", "j_interval_overlap", "x_record_linkage"):
        df = qs[name](spark, SF_DIR)
        plan = plan_string(df)
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} planned BNLJ"
        assert "CartesianProduct" not in plan, f"{name} planned cartesian"


def test_bloom_prefilter_filters_before_exchange(spark):
    """The Bloom prefilter's whole point is killing probe rows BEFORE
    the shuffle: the bit-test Filter (shiftright expression) must
    appear below the probe-side Exchange in the formatted plan, and at
    sf it must actually reject the vast majority of probe rows."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    df = entrymod.queries()["j_bloom_prefilter"](spark, SF_DIR)
    plan = plan_string(df, "simple")
    lines = plan.splitlines()
    # the bit-test (shiftright over the broadcast word array) must sit
    # directly on the probe scan path: between the operator evaluating
    # it and the lineitem scan there may be projections/filters/the
    # 1-row bitset broadcast, but NO shuffle — that's the entire point
    bloom_i = next(i for i, l in enumerate(lines) if "shiftright" in l)
    scan_i = next(
        i
        for i, l in enumerate(lines[bloom_i:], start=bloom_i)
        if "FileScan parquet" in l and "lineitem" in l
    )
    between = lines[bloom_i + 1 : scan_i]
    assert not any("Exchange hashpartitioning" in l for l in between), (
        "probe rows are shuffled before the bloom bit-test"
    )

    from dataframe_sql_spark.operators.joins import bloom_prefilter_join
    from dataframe_sql_spark.sources.io import read_table

    li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    od = (
        read_table(spark, SF_DIR, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    n_all = li.count()
    # no-false-negative check at operator level: joined rows == plain join
    plain = li.join(od, "l_orderkey").count()
    assert bloom_prefilter_join(li, od, "l_orderkey").count() == plain
    # selectivity: the filtered probe side must be far below the full
    # scan (matches + ~1e-5 false positives)
    filtered_probe = bloom_prefilter_join(
        li, od, "l_orderkey", prefilter_only=True
    ).count()
    assert plain <= filtered_probe < max(plain * 1.05, n_all * 0.2), (
        filtered_probe,
        plain,
        n_all,
    )


def test_minhash_est_cert_within_tolerance(spark):
    """Every J>=0.5 pair's OPH lane-agreement estimate must sit within
    the documented 0.25 tolerance (measured max 0.2014 at sf0.001) —
    the deterministic guarantee the dd_minhash_est_cert oracle pins."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["dd_minhash_est_cert"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r.within_tol for r in rows)


def test_simhash_probed_window_rides_join_sort(spark):
    """dd_simhash_probed's bucket-cap window must ride the candidate
    self-join's own (chunk, piece) sort (r14 claim, r15 plan pin): the
    materialized key frame feeds BOTH join sides, the cap is computed
    by ONE Window whose Exchange+Sort directly satisfies the
    sort-merge join's right-side requirement — no extra Sort between
    the Window and the join, no re-featurization from the raw scan.
    A broken sort-reuse shows up as a 5th Sort; a broken lineage cut
    shows up as extra parquet scans."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    df = entrymod.queries()["dd_simhash_probed"](spark, SF_DIR)
    plan = plan_string(df)
    tree = plan.split("\n\n(", 1)[0]

    import re

    def n(op: str) -> int:
        # match the bare operator (e.g. "Sort (13)", "Scan parquet
        # (1)"), not prefixes of longer names ("SortMergeJoin")
        return sum(
            1
            for line in tree.splitlines()
            if re.match(rf"^[\s:+-]*{re.escape(op)}\s+\(\d+\)", line)
        )

    # one corpus parquet scan (the anti-join base); the key frame is a
    # materialized RDD read twice (both self-join sides)
    assert n("Scan parquet") == 1, tree
    assert n("Scan ExistingRDD") == 2, tree
    # exactly one bucket-cap Window
    assert n("Window") == 1, tree
    # sorts: anti-join left, join left (key frame), the window's sort
    # (shared with the join's right side), anti-join right = 4 total;
    # a 5th means the join re-sorted what the window already ordered
    assert n("Sort") == 4, tree
    # exchanges: anti-join left, join left, window/join right, the
    # candidate distinct, and the final output exchange = 5
    assert n("Exchange") == 5, tree
