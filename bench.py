"""Benchmark harness (driver contract).

Runs the BASELINE.md query set on the engine at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), local[$SPARK_GRAFT_CPUS], and prints
ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology matches BASELINE.md: each query's result is fully
materialized into Python (Arrow-accelerated toPandas, the fair
counterpart of DuckDB's fetchall), timed warm (best of N_RUNS after
one untimed warm-up of the whole session).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dataframe_sql_spark.registry import engine_for  # noqa: E402
from dataframe_sql_spark.session import get_spark  # noqa: E402

N_RUNS = 3
# The BASELINE.md DuckDB numbers are a 5-run sample; give the
# sub-second baseline queries the same sample depth (JVM timing noise
# at 0.1-0.7 s per action is a large relative error at 3 samples).
# The heavier tpch/pipeline sets stay at 3 — their runtimes dwarf the
# noise floor and total bench time stays bounded.
N_RUNS_BASELINE = 5

# Same queries as BASELINE.md (ANSI; valid in both dialects).
QUERIES = {
    "q_select_star": "SELECT * FROM lineitem",
    "q_project_alias": "SELECT l_quantity, l_extendedprice AS price, l_discount FROM lineitem",
    "q_filter_bool": "SELECT * FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30 "
    "AND l_discount <= 0.05 AND l_tax != 0",
    "q_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_agg_global": "SELECT min(l_quantity), max(l_quantity), avg(l_extendedprice), "
    "sum(l_quantity), count(*) FROM lineitem",
    "q_groupby_having": "SELECT l_returnflag, l_linestatus, sum(l_quantity) qty, "
    "avg(l_extendedprice) ap FROM lineitem GROUP BY l_returnflag, l_linestatus "
    "HAVING sum(l_quantity) > 100",
    "q_join_inner": "SELECT o_orderpriority, count(*) c FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority",
    "q_join_multi": "SELECT n_name, sum(l_extendedprice*(1-l_discount)) rev FROM customer "
    "JOIN orders ON c_custkey=o_custkey JOIN lineitem ON l_orderkey=o_orderkey "
    "JOIN nation ON c_nationkey=n_nationkey GROUP BY n_name",
    "q_orderby_limit": "SELECT * FROM lineitem ORDER BY l_extendedprice DESC, "
    "l_quantity ASC LIMIT 10",
    "q_case_when": "SELECT l_quantity, CASE WHEN l_quantity > 30 THEN 'big' "
    "WHEN l_quantity = 30 THEN 'mid' ELSE 'small' END AS bucket FROM lineitem",
    "q_union_setops": "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 "
    "UNION SELECT o_orderkey FROM orders WHERE o_totalprice > 400000",
    "q_in_between": "SELECT * FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH') "
    "AND o_totalprice BETWEEN 100000 AND 200000",
    "q_cast_math": "SELECT CAST(l_quantity AS BIGINT) q, "
    "l_extendedprice * l_quantity + l_tax / 2 + 37 AS m FROM lineitem",
    "q_rank_window": "SELECT l_orderkey, l_quantity, rank() OVER "
    "(PARTITION BY l_returnflag ORDER BY l_quantity DESC) r FROM lineitem",
}


# Join/agg/subquery-heavy shapes tracked round-over-round (separate
# from the BASELINE.md set so "value" stays comparable to BASELINE.md;
# these exercise the plans that matter at 100 TB: multi-way broadcast
# joins, semi-join pushdown, decorrelated subqueries, top-k).
TPCH_SHAPES = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_revenue",
    "tpch_q9_profit",
    "tpch_q13_custdist",
    "tpch_q17_small_qty",
    "tpch_q18_big_orders",
    "tpch_q21_waiting",
]


# LLM-data-pipeline north-star ops, tracked round-over-round.
PIPELINE_OPS = [
    "dd_minhash_pairs",
    # simhash twice: the default one-key-per-doc config (its actual
    # memory-constrained niche, hamming<=3 complete) and the ×17-key
    # multi-probed high-recall config — separate keys so the
    # recall/cost trade is tracked explicitly round-over-round
    "dd_simhash",
    "dd_simhash_probed",
    "dd_substring_spans",
    "dd_decontaminate",
    "sim_topk",
    "sim_ann_ivf",
    "sim_ann_pq",
    "txt_winnow_fingerprint",
    "txt_word_rarity",
    "a_hll_sketch_rollup",
    "x_dataset_mix",
    "x_sessionize",
    "txt_bpe_tokens",
    "txt_repetition",
    "w_rank",  # bucketed global rank (operators/rank.py)
    # round-3 additions: boilerplate/line dedup, completeness-certified
    # similarity join, k-means clustering, corpus-LM scoring,
    # mergeable sketches, IVF-PQ
    "dd_lines",
    "dd_prefix_pairs",
    "emb_kmeans",
    "txt_lm_score",
    "a_hist_quantile_rollup",
    "a_cms_heavy_hitters",
    # (sim_ann_ivfpq inline — build+scan conflated — replaced in round 6
    # by the explicit sim_ann_ivfpq_build / sim_ann_ivfpq_probe pair
    # below: production is build-once/probe-many, so the headline number
    # should track the servable path, not codebook retraining.)
    # round-3c additions: range join, sorted-neighborhood linkage,
    # stream-static enrichment, EWMA smoothing
    "j_range_incidents",
    "x_sorted_neighborhood",
    "st_static_join",
    "ts_ewma",
    # round-4 additions: map-side Bloom-prefiltered shuffle join and
    # the partial-probe cell-keyed kNN join (the at-scale ANN join)
    "j_bloom_prefilter",
    "sim_knn_join_probed",
    # round-9 addition: DSIR importance weighting (domain-targeted
    # data selection — one bucket-bounded shuffle + doc-keyed sum)
    "x_dsir_weights",
    # round-15 additions (r14 verdict item 7): the blocked-cosine
    # embedding dedup pair optimized in r14 (2-5× claimed) sat outside
    # both the bench and the rotated correctness window — adding the
    # keys puts driver ground truth on them. Additive only: nothing
    # removed or renamed.
    "dd_embedding",
    "dd_semantic",
]


def _bench_callables(fns: dict, spark, sf_dir: str) -> dict[str, float]:
    results: dict[str, float] = {}
    for name, fn in fns.items():
        best = float("inf")
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 4)
    return results


# The five most expensive pipeline ops (round-8 bench ranking) — the
# set the --scale mode re-measures on 10× parquet-backed inputs.
SCALE_OPS = [
    "dd_simhash_probed",
    "dd_minhash_pairs",
    "dd_prefix_pairs",
    "dd_simhash",
    "dd_lines",
]


# TPC-H shapes re-measured by --scale-tpch (join fan-out + agg state
# scale differently from the document/dedup family: lineitem/orders
# keys are remapped so per-key fan-out is preserved while the
# unexpanded dims' per-customer order count grows R× — the honest
# "bigger fact tables, same dimensions" shape).
SCALE_TPCH_OPS = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_revenue",
    "tpch_q9_profit",
    "tpch_q18_big_orders",
    "tpch_q21_waiting",
]


def _write_scaled_dir(spark, sf_dir: str, r: int, kind: str = "docs") -> str:
    """Materialize an R×-expanded copy of the sf_dir as REAL parquet
    under /tmp (never /root/testdata) so the scaled ops pay genuine
    scan/shuffle I/O at R× partition payloads — the memory-pressure
    axis the in-memory scale_stress replication (whose expansion
    logic this reuses: replica-salted vocab so replicas are not
    near-dups, perturbed vectors) cannot exercise because Catalyst
    fuses the explode into the measured query. Non-expanded tables
    are symlinked so the whole catalog keeps resolving."""
    import shutil as _sh
    import tempfile

    from tools.scale_stress import scaled_documents, scaled_embeddings

    from dataframe_sql_spark.sources.io import TESTDATA_TABLES

    # pid suffix: a fixed path would collide across concurrent runs
    # (two bench/stress processes rmtree-ing each other's live dir).
    out = os.path.join(
        tempfile.gettempdir(), f"bench_scale_{kind}_{r}x_{os.getpid()}"
    )
    _sh.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    import tools.scale_stress as _ss

    _ss.SF_DIR = sf_dir  # the expanders read module-level SF_DIR
    if kind == "docs":
        scaled_documents(spark, r).repartition(32).write.parquet(
            f"{out}/documents.parquet"
        )
        scaled_embeddings(spark, r).repartition(8).write.parquet(
            f"{out}/embeddings.parquet"
        )
    elif kind == "tpch":
        from tools.scale_stress import scaled_lineitem_orders

        li, od = scaled_lineitem_orders(spark, r)
        li.repartition(32).write.parquet(f"{out}/lineitem.parquet")
        od.repartition(32).write.parquet(f"{out}/orders.parquet")
    else:
        raise ValueError(f"unknown scale kind {kind!r}")
    for t in TESTDATA_TABLES:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{sf_dir}/{t}.parquet", dst)
    return out


def _duckdb_ab(metric: str, kind: str, factor: int, jobs, **extra) -> None:
    """Shared body of the `--duckdb-ab` modes: same-host Spark-vs-DuckDB
    A/B over a FACTOR× expansion of sf0.1 (factor=1 reads sf0.1 in
    place).

    Methodology: both engines read the SAME Spark-written parquet dir
    (multi-file; DuckDB views glob it), both materialize the full
    result into a pandas DataFrame (`toPandas()` vs `.df()` — the
    driver's own hash path), one untimed warm-up per query per engine
    then the median of n runs. ``jobs(spark, d, sf)`` returns
    (name, spark_run, oracle_sql, n) tuples. Prints one JSON line with
    per-query spark/duckdb/ratio, ``extra`` and the env stamp."""
    import shutil as _sh
    import statistics

    import duckdb

    from dataframe_sql_spark.sources.io import TESTDATA_TABLES

    env_start = _env_stamp()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_" + metric.removeprefix("duckdb_"))
    d = _write_scaled_dir(spark, sf_dir, factor, kind) if factor > 1 else sf_dir
    try:
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            p = Path(d) / f"{t}.parquet"
            src = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

        def _timeit(run) -> float:
            t0 = time.perf_counter()
            run()
            return time.perf_counter() - t0

        def med(run, n: int) -> float:
            run()  # warm-up: page cache, plan, JVM/codegen or duckdb JIT
            return round(statistics.median(_timeit(run) for _ in range(n)), 4)

        sf = round(0.1 * factor, 4)
        per: dict[str, dict] = {}
        for name, spark_run, oracle_sql, n in jobs(spark, d, sf):
            s = med(spark_run, n)
            k = med(lambda: con.execute(oracle_sql).df(), n)
            per[name] = {
                "spark": s,
                "duckdb": k,
                "ratio": round(s / k, 2) if k > 0 else None,
            }
            print(
                f"# {name}: spark={s}s duckdb={k}s ratio={per[name]['ratio']}",
                file=sys.stderr,
                flush=True,
            )
        over = [n for n, v in per.items() if v["ratio"] and v["ratio"] > 2.0]
        print(
            json.dumps(
                {
                    "metric": metric,
                    "unit": "sec",
                    "sf": sf,
                    "factor": factor,
                    "n_runs": N_RUNS,
                    **extra,
                    "queries": per,
                    "spark_total": round(sum(v["spark"] for v in per.values()), 4),
                    "duckdb_total": round(sum(v["duckdb"] for v in per.values()), 4),
                    "over_2x": over,
                    "env": {"start": env_start, "end": _env_stamp()},
                }
            ),
            flush=True,
        )
    finally:
        if d != sf_dir:
            _sh.rmtree(d, ignore_errors=True)


def _duckdb_ab_mode(factor: int = 10) -> None:
    """`bench.py --duckdb-ab[=FACTOR]`: the A/B at a FACTOR× expansion
    of sf0.1 (default 10 → sf1-equivalent: 6M lineitem / 1.5M orders)
    for the 14 BASELINE.md queries + the 8 TPC-H shapes (r11 verdict
    item 4). Converts the standing "the sub-second sf0.1 queries are
    fixed-overhead-dominated and invert at scale" adjudication from a
    slope argument into a recorded same-host measurement —
    BASELINE.md's second scale point."""
    from dataframe_sql_spark.registry import CATALOG, spark_queries

    def jobs(spark, d: str, sf: float) -> list:
        eng = engine_for(spark, d)
        qs = spark_queries()
        # the BASELINE set's actions are 0.1-0.7 s — exactly the range
        # the module's N_RUNS_BASELINE rationale says needs 5 samples
        # for a stable median (r12 advisor note); the heavier TPC-H
        # shapes keep N_RUNS
        return [
            (name, (lambda s=sql: eng.query(s).toPandas()), sql, N_RUNS_BASELINE)
            for name, sql in QUERIES.items()
        ] + [
            (name, (lambda n=name: qs[n](spark, d).toPandas()), CATALOG[name].oracle, N_RUNS)
            for name in TPCH_SHAPES
        ]

    # n_runs stays a scalar for cross-round consumers (r13 advisor: the
    # r13 type change int -> object breaks diffing against earlier
    # rounds); per-set detail alongside
    _duckdb_ab(
        "duckdb_ab", "tpch", factor, jobs,
        n_runs_per_set={"baseline_set": N_RUNS_BASELINE, "tpch_shapes": N_RUNS},
    )


# Docs-axis A/B keys (r12 brief item 5, executed r14): the
# linear-oracle subset of the pipeline/north-star ops — the dedup/ANN/
# text keys are ~80% of bench wall but had no same-host oracle-relative
# ratio at any scale. Keys whose oracle is quadratic-by-design
# (envelope ledger) are structurally excluded: an A/B against an
# oracle that does ASYMPTOTICALLY less (or more) work measures the
# algorithm gap, not the engine gap.
DOCS_AB_KEYS = [
    "dd_exact",
    "dd_fingerprint",
    "dd_url_dedup",
    "sim_topk",
    "sim_ann_ivf",
    "txt_stats",
    "txt_quality",
    "txt_tfidf",
    "x_dsir_weights",
    "a_cms_heavy_hitters",
]


def _duckdb_ab_docs_mode(factor: int = 10) -> None:
    """`bench.py --duckdb-ab-docs[=FACTOR]`: the A/B for the
    linear-oracle docs/pipeline keys, N_RUNS per side."""
    from dataframe_sql_spark.registry import CATALOG, spark_queries

    def jobs(spark, d: str, sf: float) -> list:
        qs = spark_queries()
        out = []
        for name in DOCS_AB_KEYS:
            spec = CATALOG[name]
            assert spec.oracle is not None, f"{name} has no oracle"
            assert spec.oracle_max_sf is None or spec.oracle_max_sf >= sf, (
                f"{name} oracle envelope ({spec.oracle_max_sf}) below sf{sf}"
            )
            out.append((name, (lambda n=name: qs[n](spark, d).toPandas()), spec.oracle, N_RUNS))
        return out

    _duckdb_ab("duckdb_ab_docs", "docs", factor, jobs)


def _scale_mode(r: int, kind: str = "docs") -> None:
    """`bench.py --scale=R`: measured scaling point for the most
    expensive pipeline ops (SCALE.md roadmap #1). BOTH endpoints are
    written through the same parquet writer at the same partition
    count (a first cut timed the R× dir against the raw single-file
    sf0.1 parquet and got slopes < 0: the 1× leg was cold-start- and
    input-parallelism-handicapped, not a fair denominator), each op is
    warmed once per dir (fresh plan per timed run — same-object reruns
    reuse shuffle output), and one JSON line reports per-op times plus
    the effective log-log slope. At these absolute sizes constant
    driver/JVM overhead still rides inside each timing, so slopes are
    an UPPER bound on the data-term exponent; the gate is "nothing
    superlinear", not "exactly 1.0". This mode is additive — the
    no-arg driver contract (one baseline JSON line) is untouched."""
    import math
    import shutil as _sh

    if r <= 1:
        raise SystemExit(
            f"--scale={r}: the slope is log(t_R/t_1)/log(R), undefined "
            "for R<=1 — pass a ratio of 2 or more"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_scale")
    from dataframe_sql_spark.registry import spark_queries

    qs = spark_queries()
    ops = SCALE_OPS if kind == "docs" else SCALE_TPCH_OPS

    def _timed(names, d: str) -> dict[str, float]:
        engine_for(spark, d).query("SELECT count(*) FROM lineitem").collect()
        out: dict[str, float] = {}
        for name in names:
            qs[name](spark, d).toPandas()  # warm-up, untimed
            t0 = time.perf_counter()
            qs[name](spark, d).toPandas()  # fresh plan object, timed
            out[name] = round(time.perf_counter() - t0, 4)
        if kind == "docs":
            # the most expensive pipeline bench key is the IVF-PQ index
            # BUILD (run-once; k-means coarse training + residual PQ).
            # It is not a catalog entry, so it gets its own timed block
            # here: single timed run per endpoint (the run-once
            # convention from the main bench), both endpoints equally
            # warm since the catalog ops above already ran on this dir.
            import shutil
            import tempfile

            from dataframe_sql_spark.operators.similarity import (
                ivfpq_index_write,
            )
            from dataframe_sql_spark.registry_ext import _emb

            idx = tempfile.mkdtemp(prefix=f"bench_scale_ivfpq_{os.getpid()}_")
            try:
                t0 = time.perf_counter()
                ivfpq_index_write(
                    _emb(spark, d), idx, n_cells=8, n_sub=4, n_codes=16, dim=64
                )
                out["sim_ann_ivfpq_build"] = round(time.perf_counter() - t0, 4)
            finally:
                shutil.rmtree(idx, ignore_errors=True)
        return out

    base_dir = _write_scaled_dir(spark, sf_dir, 1, kind)
    scaled_dir = _write_scaled_dir(spark, sf_dir, r, kind)
    try:
        base = _timed(ops, base_dir)
        scaled = _timed(ops, scaled_dir)
    finally:
        _sh.rmtree(base_dir, ignore_errors=True)
        _sh.rmtree(scaled_dir, ignore_errors=True)
    slopes = {
        n: round(math.log(max(scaled[n], 1e-9) / max(base[n], 1e-9)) / math.log(r), 3)
        for n in base
    }
    print(
        json.dumps(
            {
                "metric": f"{'pipeline' if kind == 'docs' else 'tpch'}_scale_point",
                "scale": r,
                "unit": "sec",
                "ops_1x": base,
                "ops_scaled": scaled,
                "slopes": slopes,
            }
        )
    )


def main() -> None:
    for a in sys.argv[1:]:
        if a.startswith("--scale="):
            _scale_mode(int(a.split("=", 1)[1]))
            return
        if a.startswith("--scale-tpch="):
            _scale_mode(int(a.split("=", 1)[1]), kind="tpch")
            return
        if a == "--duckdb-ab-docs" or a.startswith("--duckdb-ab-docs="):
            _duckdb_ab_docs_mode(
                int(a.split("=", 1)[1]) if "=" in a else 10
            )
            return
        if a == "--duckdb-ab" or a.startswith("--duckdb-ab="):
            _duckdb_ab_mode(
                int(a.split("=", 1)[1]) if "=" in a else 10
            )
            return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_match = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(sf_match.group(1)) if sf_match else -1.0
    env_start = _env_stamp()
    spark = get_spark("bench")
    eng = engine_for(spark, sf_dir)

    # warm-up: JVM, parquet footers, code cache (untimed)
    eng.query("SELECT count(*) FROM lineitem").collect()

    results: dict[str, float] = {}
    for name, sql in QUERIES.items():
        # one untimed warm-up of the SAME query shape before timing:
        # matches the warm-cache DuckDB methodology and takes the
        # first-plan compilation / code-cache tail out of the sample
        # (SCALE.md round-5: q_orderby_limit's best-of-9 sat in the
        # 0.24 s band once the warm-up tail was excluded).
        eng.query(sql).toPandas()
        best = float("inf")
        for _ in range(N_RUNS_BASELINE):
            t0 = time.perf_counter()
            eng.query(sql).toPandas()
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 4)
    total = round(sum(results.values()), 4)

    from dataframe_sql_spark.registry import spark_queries

    qs = spark_queries()
    tpch = _bench_callables({n: qs[n] for n in TPCH_SHAPES if n in qs}, spark, sf_dir)
    pipeline = _bench_callables(
        {n: qs[n] for n in PIPELINE_OPS if n in qs}, spark, sf_dir
    )

    # Persisted-index ANN probe path: the inline sim_ann_ivfpq number
    # above retrains codebooks on every call (build cost); production
    # is build-once/probe-many, so the index is built ONCE untimed and
    # only the partition-pruned probe is timed — same parameters as
    # the inline entry so the two keys decompose build vs probe.
    import shutil
    import tempfile

    from dataframe_sql_spark.operators.similarity import (
        ivfpq_index_write,
        ivfpq_topk_indexed,
    )
    from dataframe_sql_spark.registry_ext import _QUERY_VEC, _emb

    idx_dir = tempfile.mkdtemp(prefix="bench_ivfpq_")
    try:
        # the one-time build cost, reported as its own key (it amortizes
        # over every probe in production; a single timed run is the
        # honest sample for a run-once operation)
        t0 = time.perf_counter()
        ivfpq_index_write(
            _emb(spark, sf_dir), idx_dir, n_cells=8, n_sub=4, n_codes=16, dim=64
        )
        pipeline["sim_ann_ivfpq_build"] = round(time.perf_counter() - t0, 4)
        best = float("inf")
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            ivfpq_topk_indexed(
                spark, idx_dir, _QUERY_VEC, k=10, n_probe=4, rerank=100
            ).toPandas()
            best = min(best, time.perf_counter() - t0)
        pipeline["sim_ann_ivfpq_probe"] = round(best, 4)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # Persisted-index kNN JOIN probe path — the amortization story for
    # the kNN join's centroid-assignment build cost (slope 1.62 in
    # SCALE.md): the IVF index (heuristic cell count) is built ONCE
    # untimed; only the probe-side ranking + cell equi-join + top-k is
    # timed. Pairs with sim_knn_join_probed (same left side, same
    # n_probe) so the two keys decompose build vs probe.
    from dataframe_sql_spark.operators.similarity import (
        ivf_index_write,
        knn_join_indexed,
    )
    from pyspark.sql import functions as F

    idx_dir = tempfile.mkdtemp(prefix="bench_ivfknn_")
    try:
        # the build is timed as its own key (mirrors sim_ann_ivfpq_build):
        # a 100 TB user pays it once and amortizes it over every probe,
        # so the two keys must stay decomposed rather than the build
        # hiding untimed (or worse, inside the probe loop)
        t0 = time.perf_counter()
        ivf_index_write(
            _emb(spark, sf_dir).filter(F.col("label") != 0), idx_dir
        )
        pipeline["sim_knn_join_indexed_build"] = round(
            time.perf_counter() - t0, 4
        )
        left = _emb(spark, sf_dir).filter(F.col("label") == 0).select(
            F.col("vec_id").alias("id_a"), "embedding"
        )
        best = float("inf")
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            knn_join_indexed(spark, idx_dir, left, k=3, n_probe=4).toPandas()
            best = min(best, time.perf_counter() - t0)
        pipeline["sim_knn_join_indexed"] = round(best, 4)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "baseline_query_set_total",
                "value": total,
                "unit": "sec",
                "queries": results,
                "sf": sf,
                "tpch_shapes_total": round(sum(tpch.values()), 4),
                "tpch_shapes": tpch,
                "pipeline_ops_total": round(sum(pipeline.values()), 4),
                "pipeline_ops": pipeline,
                # parallelism stamp (r14 verdict item 3): the effective
                # master / core count / shuffle partitions the run
                # actually used, so the driver's scaling probe can
                # verify $SPARK_GRAFT_CPUS was honored from the JSON
                # line itself rather than inferring it from timings.
                "cpus": int(
                    os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
                ),
                "master": spark.conf.get("spark.master", "?"),
                "shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions", "?"
                ),
                # environment stamp (r11 verdict item 8): load and
                # page-cache state at bench start + end, so a
                # driver-vs-builder timing disagreement can be
                # adjudicated from data (contended box / cold cache)
                # instead of narrative
                "env": {"start": env_start, "end": _env_stamp()},
            }
        )
    )


def _env_stamp() -> dict:
    """One-line machine-state snapshot: 1/5/15-min load averages and
    page-cache / available memory in GiB (Linux /proc; best-effort
    empty elsewhere). A bench run on a loaded box (load1 >> ncpu used
    by Spark) or with a cold page cache (cached_gib small relative to
    the sf dir) is NOT comparable to a quiet warm run."""
    stamp: dict = {}
    try:
        stamp["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        mem = {}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemAvailable", "Cached", "Dirty"):
                    mem[k] = int(v.strip().split()[0])
        stamp["mem_available_gib"] = round(mem.get("MemAvailable", 0) / 2**20, 1)
        stamp["page_cache_gib"] = round(mem.get("Cached", 0) / 2**20, 1)
        stamp["dirty_mib"] = round(mem.get("Dirty", 0) / 2**10, 1)
    except OSError:
        pass
    return stamp


if __name__ == "__main__":
    main()
