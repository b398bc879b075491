"""Per-entry plan-shape pins for the 8 rotation anchors (SCALE.md
round-9 frontier item 3, delivered round 10).

The anchors are the only catalog entries scored EVERY round, so they
are where a silent plan regression (a lost pushdown, a join that stops
broadcasting, a window that collapses to SinglePartition) would do the
most damage while staying invisible to correctness gates. Each test
pins the positive plan properties the entry was designed around — not
just "no anti-pattern" (the catalog-wide lint already proves no
cartesian / no BNLJ / no row-Python across all 236 entries) but "the
shape that makes it scale is still there".

Pins are asserted at the tests' sf0.001 fixture; every pinned property
is SF-invariant by construction (pushdown, partial aggregation, top-k
operator choice, window partitioning, hash-based joins) — broadcast
presence is only pinned where the broadcast side is bounded by design
(dimension tables, centroid lists), never where it merely reflects
small test data.
"""

from __future__ import annotations

import re

import pytest

from dataframe_sql_spark.engine import plan_string
from dataframe_sql_spark.registry import spark_queries

SF_DIR = "/root/testdata/sf0.001"

ANCHORS = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_revenue",
    "dd_exact",
    "dd_minhash_verified",
    "sim_knn_join",
    "pipe_curation",
    "w_rank",
]


@pytest.fixture(scope="module")
def plans(spark):
    qs = spark_queries()
    out = {}
    for name in ANCHORS:
        df = qs[name](spark, SF_DIR)
        # "simple" mode inlines operator arguments (e.g. `Exchange
        # hashpartitioning(doc_hash#12, 32)`), which the key-level
        # assertions below need; "formatted" hoists them into a
        # separate Arguments section
        out[name] = plan_string(df, "simple")
    return out


def _exchange_keys(plan: str) -> list[str]:
    return re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)


def test_anchors_free_of_scale_antipatterns(plans):
    # belt-and-braces duplicate of the catalog lint, scoped to the
    # always-scored entries so a lint whitelist edit can't exempt them
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name  # row-at-a-time Python


def test_q1_scan_agg_shape(plans):
    plan = plans["tpch_q1_pricing"]
    # the shipdate filter must reach the parquet scan, not run post-scan
    assert "LessThanOrEqual(l_shipdate" in plan, plan
    # map-side combine: more HashAggregate nodes than exchanges feeding
    # them means partial+final, the shape that caps shuffle volume by
    # group-count instead of row-count
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortMergeJoin" not in plan  # scan+agg, no join should appear


def test_q3_topk_and_pushdowns(plans):
    plan = plans["tpch_q3_shipping"]
    # ORDER BY revenue LIMIT must be top-k, never a global sort
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # selective dimension predicates reach their scans
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan
    assert "GreaterThan(l_shipdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    # joins stay hash-based (SHJ allowed since the r13 preference flip)
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )
    assert plan.count("HashAggregate") >= 2, plan


def test_q5_join_chain_shape(plans):
    plan = plans["tpch_q5_revenue"]
    # bounded dims (region/nation) must broadcast — that is a design
    # property (dimension tables stay small at any fact scale), not a
    # small-test-data artifact
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_dd_exact_groups_on_hash_not_text(plans):
    plan = plans["dd_exact"]
    assert plan.count("HashAggregate") >= 2, plan
    for keys in _exchange_keys(plan):
        assert "text#" not in keys, (
            "dedup exchange partitions on raw text — must key on the "
            f"fixed-width hash: {keys}"
        )


def test_minhash_exchanges_are_fixed_width(plans):
    plan = plans["dd_minhash_verified"]
    # signature build is a collect-based aggregate
    assert "ObjectHashAggregate" in plan, plan
    # candidate generation must exchange band/bucket keys, never the
    # raw document text (the 100-TB shuffle-volume rule; simhash's
    # zero-spill-at-100x result in SCALE.md is this property at work)
    for keys in _exchange_keys(plan):
        assert "text#" not in keys, keys


def test_knn_join_is_cell_partitioned_window(plans):
    plan = plans["sim_knn_join"]
    # per-cell top-k via window — partitioned, never a global sort of
    # all candidate pairs
    assert "Window" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_curation_pipeline_shape(plans):
    plan = plans["pipe_curation"]
    assert plan.count("HashAggregate") >= 2, plan
    for keys in _exchange_keys(plan):
        assert "text#" not in keys, keys


def test_w_rank_no_single_partition_window(plans):
    plan = plans["w_rank"]
    # the bucketed global rank (operators/rank.py): the Window is fed by
    # a hash exchange on the key's bucket; a regression to Spark's
    # default global-ORDER window would show up as an Exchange
    # SinglePartition feeding the Window
    assert "Window" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning" in plan, plan


# ---------------------------------------------------------------------------
# Top-bench-key pins (round-10 frontier item 5): the ops where a plan
# regression costs the most wall time. Same philosophy as the anchor
# pins — positive shapes, SF-invariant by construction — plus pins on
# the round-10 merge-hint fixes (a silently dropped hint would revert
# an op to the estimator-blind broadcast class).
# ---------------------------------------------------------------------------

BENCH_KEYS = [
    "dd_simhash",
    "dd_simhash_probed",
    "dd_minhash_pairs",
    "sim_knn_join_probed",
    "x_dsir_weights",
    "a_cms_heavy_hitters",
    "txt_winnow_fingerprint",
    "txt_winnow_maponly",
]


@pytest.fixture(scope="module")
def bench_plans(spark):
    qs = spark_queries()
    out = {}
    for name in BENCH_KEYS:
        df = qs[name](spark, SF_DIR)
        out[name] = plan_string(df, "simple")
    return out


def test_simhash_probe_join_stays_sort_merge(bench_plans):
    # probe↔exact candidate join: both sides post-explode (count AND
    # width blind to the estimator) — must never broadcast
    plan = bench_plans["dd_simhash_probed"]
    assert "SortMergeJoin" in plan, plan


def test_simhash_default_band_shuffle_shape(bench_plans):
    # r11 verdict item 6: positive per-stage pins for the RAW simhash
    # pipeline (the probed sibling had them; this one had only lints).
    # Design contract: exactly two hash exchanges, both on fixed-width
    # keys — the (chunk, piece) bucket groupBy (fed by a map-side
    # partial collect) and the loser-id distinct — and the hamming
    # radius verify runs BELOW the distinct exchange, so only verified
    # near-pairs ever shuffle (plan text is outermost-first).
    plan = bench_plans["dd_simhash"]
    assert plan.count("Exchange hashpartitioning") == 2, plan
    keys = _exchange_keys(plan)
    assert any("chunk#" in k and "piece#" in k for k in keys), plan
    assert "partial_collect_list" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    doc_ex = plan.find("Exchange hashpartitioning(doc_id")
    verify = plan.find("bit_count(")
    assert 0 <= doc_ex < verify, plan
    # the only broadcast side is the deduped loser-id set feeding the
    # survivor anti-join (HashAggregate-bounded), never the corpus
    assert plan.count("BroadcastExchange") <= 1, plan


def test_minhash_pairs_band_pipeline_shape(bench_plans):
    # r11 verdict item 6: positive pins for the full banded minhash
    # pipeline, beyond the verify-SMJ pin below. Candidate generation
    # exchanges on the fixed-width (band, bucket) key with a map-side
    # partial collect; NOTHING broadcasts (both verify sides carry
    # corpus-scaled shingle arrays — width-blind to the estimator);
    # and the exact-Jaccard verify evaluates INSIDE the SMJ as its
    # join condition, so candidates are verified before any
    # downstream operator sees them.
    plan = bench_plans["dd_minhash_pairs"]
    keys = _exchange_keys(plan)
    assert any("band#" in k and "bucket#" in k for k in keys), plan
    assert "partial_collect_list" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert re.search(r"SortMergeJoin.*array_intersect", plan), plan


def test_minhash_verify_joins_stay_sort_merge(bench_plans):
    # the two shingle-set verification joins carry corpus-scaled array
    # sides (width-blind) — merge-hinted in round 10
    plan = bench_plans["dd_minhash_pairs"]
    assert plan.count("SortMergeJoin") >= 2, plan


def test_knn_probed_cell_join_stays_sort_merge(bench_plans):
    # r14: candidate generation is the cell-COGROUPED numpy scorer
    # (knn_join_cells_cogrouped) — both sides still exchange on the
    # bounded cell key (never broadcast: the index side carries
    # embedding arrays the estimator cannot size), pair scores are
    # computed per cell so vectors cross the Arrow boundary once per
    # cell instead of once per candidate, and the per-left top-k stays
    # a partitioned window. A regression to a broadcast of either
    # corpus-scaled side, or to a single-partition stage, fails here.
    plan = bench_plans["sim_knn_join_probed"]
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Window" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_cms_heavy_hitters_partials_and_bounded_topk(bench_plans):
    # per-segment CMS partials merge map-side (partial+final aggregate
    # pairs), the exact top-10 is a TakeOrderedAndProject (bounded k,
    # never a global sort), and the only broadcast sides are the
    # 10-row probe list / counter table — no corpus-sized exchange
    # beyond the word-keyed count, and no single-partition stage
    plan = bench_plans["a_cms_heavy_hitters"]
    assert "TakeOrderedAndProject(limit=10" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_winnow_window_form_single_bounded_exchange(bench_plans):
    # the window formulation's design contract: ONE corpus exchange,
    # keyed on doc_id (the distinct's (doc_id, fp) requirement is
    # satisfied by the window's doc_id partitioning, so no second
    # shuffle appears) — a regression adding a KEYED exchange would
    # erase its advantage over the map-only twin. The r14 adaptive
    # scan fan-out (sources/io.py::scan_fan_out) may add one
    # round-robin repartition of the RAW documents rows right after
    # the scan — pre-explode bytes, and a no-op whenever the input
    # scans at cluster parallelism — which this pin deliberately
    # permits.
    plan = bench_plans["txt_winnow_fingerprint"]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    keys = _exchange_keys(plan)
    assert len(keys) == 1 and "doc_id#" in keys[0], plan
    assert "Window" in plan, plan


def test_winnow_maponly_form_has_zero_exchanges(bench_plans):
    # the map-only twin exists PRECISELY to have no corpus-keyed
    # exchange at all — the formulation for when the corpus-wide
    # post-explode shuffle, not CPU, is the bottleneck. The adaptive
    # scan fan-out's round-robin repartition of the raw rows is
    # allowed (no-op at scale, pre-explode bytes locally); any KEYED
    # or sorting exchange in this plan defeats its purpose.
    plan = bench_plans["txt_winnow_maponly"]
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Sort " not in plan, plan


def test_ivfpq_build_collects_are_bounded(spark, tmp_path):
    # "bounded sample → driver codebooks, no full-corpus collect": every
    # DataFrame.collect() the IVF-PQ index build performs must carry a
    # bounding operator in its physical plan (top-k sample / limit /
    # bounded-key aggregate output) — the property that keeps the build
    # at sample·dim floats on the driver at ANY corpus size. Intercept
    # collect() and inspect the executed plan of each collected frame.
    # pyspark 4: pyspark.sql.DataFrame is the abstract facade; live
    # sessions hand out the classic subclass — patch the class whose
    # collect actually runs
    from pyspark.sql.classic.dataframe import DataFrame

    from dataframe_sql_spark.operators.similarity import ivfpq_index_write
    from dataframe_sql_spark.registry_ext import _emb

    collected_plans: list[str] = []
    orig = DataFrame.collect

    def spy(self):
        collected_plans.append(
            self._jdf.queryExecution().executedPlan().toString()
        )
        return orig(self)

    DataFrame.collect = spy
    try:
        ivfpq_index_write(
            _emb(spark, SF_DIR), str(tmp_path / "idx"),
            n_cells=8, n_sub=4, n_codes=16, dim=64,
        )
    finally:
        DataFrame.collect = orig
    assert collected_plans, "build performed no collects?"
    for plan in collected_plans:
        assert re.search(
            r"TakeOrderedAndProject|GlobalLimit|CollectLimit", plan
        ), f"unbounded collect during IVF-PQ build:\n{plan[:1500]}"


def test_dsir_single_bucket_shuffle_shape(bench_plans):
    # design contract: ONE B-bounded bucket groupBy + the final
    # doc-keyed sum; score/total tables attach via broadcast — so the
    # plan carries few hash exchanges and at least one broadcast join,
    # and nothing exchanges on raw text (global lint) or runs
    # row-at-a-time Python
    plan = bench_plans["x_dsir_weights"]
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan
