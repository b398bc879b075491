"""Driver-side constants and repeated probes pay only for their data:

- ``operators/scalars.py::const_array`` puts a (nested) list into a plan
  as one node that folds to one array literal, bit-exact, and rejects
  values ``from_json`` would silently turn into NULL;
- an indexed IVF-PQ probe builds its plan without a Spark job (the
  index's read schema is recorded, not inferred), and an index builder
  rejects an unknown option before its first job;
- a repeated probe compiles no new code (the session's codegen cache
  holds it);
- a global rank builds the same plan every time, with at most three
  bounded jobs, and a MinHash entry with the jobs of one featurization;
- the per-element literal idiom does not come back into the package;
- session confs that do not take are reported, not swallowed.
"""

from __future__ import annotations

import logging
import math
import struct
import uuid
from functools import reduce
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

from dataframe_sql_spark.engine import plan_string
from dataframe_sql_spark.operators.scalars import const_array
from tests.conftest import SF_DIR
from tools.dump_plans import dump_round, normalize_plan

_PKG = Path(__file__).resolve().parent.parent / "dataframe_sql_spark"

_DOUBLES = [
    0.0,
    -0.0,
    5e-324,  # smallest subnormal
    2.225073858507201e-308,  # largest subnormal
    2.2250738585072014e-308,  # smallest normal
    1e308,
    -1e308,
    1.7976931348623157e308,
    0.1 + 0.2,  # 17 significant digits
    1 / 3,
    -123456789.12345678,
    float("nan"),
    float("inf"),
    -float("inf"),
]
_INTS = [-(2**31), -1, 0, 2**31 - 1]
_BIGINTS = [-(2**63), -(2**31) - 1, 2**31, 2**63 - 1]
_STRINGS = ['say "hi"', "it's", "back\\slash", "tab\tnew\nline", "ünï☃", "😀", ""]
_NESTED = [[[1.5, -0.0], []], [[5e-324]], []]


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "values, elem",
    [
        (_DOUBLES, "double"),
        (_INTS, "int"),
        (_BIGINTS, "bigint"),
        (_STRINGS, "string"),
        (_NESTED, "array<array<double>>"),
    ],
    ids=["double", "int", "bigint", "string", "nested3"],
)
def test_const_array_round_trips_and_folds(spark, values, elem):
    df = spark.range(1).select(const_array(values, elem).alias("a"))
    plan = _optimized(df)
    assert "from_json" not in plan and "JsonToStructs" not in plan, plan
    got = df.collect()[0].a
    if elem == "double":
        assert [_bits(x) for x in got] == [_bits(x) for x in values]
    elif elem.startswith("array"):
        flat = lambda a: [_bits(x) for b in a for c in b for x in c]  # noqa: E731
        assert flat(got) == flat(values)
        assert [[len(c) for c in b] for b in got] == [[len(c) for c in b] for b in values]
    else:
        assert got == values


def test_const_array_matches_per_element_literal_plan(spark):
    """Same folded literal as the per-element form it replaced."""
    from pyspark.sql import functions as F

    vals = [0.5, -0.0, 1 / 3]
    old = spark.range(1).select(F.array(*[F.lit(x) for x in vals]).alias("a"))
    new = spark.range(1).select(const_array(vals, "double").alias("a"))
    assert _optimized(old).split("#")[0] == _optimized(new).split("#")[0]


@pytest.mark.parametrize(
    "values, elem",
    [
        ([2**31], "int"),
        ([-(2**31) - 1], "int"),
        ([2**63], "bigint"),
        ([1.5], "int"),
        ([True], "int"),
        (["1.0"], "double"),
        ([None], "double"),
        ([1], "string"),
        ([10**400], "double"),
        ([1.0, 2.0], "array<double>"),
        (["ab"], "array<string>"),
        ([[[1]]], "array<int>"),
    ],
)
def test_const_array_rejects_values_outside_the_type(values, elem):
    with pytest.raises((TypeError, ValueError, OverflowError)):
        const_array(values, elem)


@pytest.fixture(scope="module")
def ivfpq_index(spark, tmp_path_factory):
    from dataframe_sql_spark.operators.similarity import ivfpq_index_write

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("plan_constants") / "ivfpq_idx")
    ivfpq_index_write(emb, path, n_cells=8, n_sub=4, n_codes=16, dim=64)
    return path


def test_index_read_schema_is_the_inferred_one(spark, ivfpq_index):
    from dataframe_sql_spark.operators.similarity import _read_index

    inferred = spark.read.parquet(ivfpq_index)
    assert _read_index(spark, ivfpq_index).schema == inferred.schema


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"plan-constants-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_indexed_probe_builds_without_jobs(spark, ivfpq_index):
    from dataframe_sql_spark.operators.similarity import ivfpq_topk_indexed

    q = [math.sin(i) for i in range(64)]
    df, jobs = _jobs_during(
        spark, lambda: ivfpq_topk_indexed(spark, ivfpq_index, q, k=10, n_probe=4)
    )
    assert jobs == []
    # the probe itself does run (the check above is not vacuous)
    rows, jobs = _jobs_during(spark, df.collect)
    assert len(rows) == 10 and jobs


def _normalized_plan(df) -> str:
    """``plan_string`` through the plan dumps' normalizer."""
    return normalize_plan(plan_string(df))


def test_plan_dumps_of_a_cut_bearing_entry_reproduce(spark, tmp_path):
    # dd_minhash reads an eager lineage cut, whose RDD id and py4j call
    # site differ between builds: two round dumps in one session must
    # still write the same text.
    for run in ("a", "b"):
        dump_round(spark, tmp_path / run, "after", {"dd_minhash"}, SF_DIR)
    first, second = ((tmp_path / run / "dd_minhash_after.txt").read_text() for run in "ab")
    assert "RDD[#]" in first
    assert first == second


def test_w_rank_entries_build_the_same_plan_twice(spark):
    # Row placement is a pure function of the sort key and the offsets
    # come from a deterministic sample, so two builds of one entry in one
    # session plan identically, and no plan reads a checkpoint RDD.
    from dataframe_sql_spark.registry import spark_queries

    qs = spark_queries()
    for name in ("w_rank", "w_rank_multi", "w_dense_rank"):
        first, second = (qs[name](spark, SF_DIR) for _ in range(2))
        assert _normalized_plan(first) == _normalized_plan(second), name
        extended = plan_string(first, "extended")
        assert "LogicalRDD" not in extended and "ExistingRDD" not in extended, name


def test_global_rank_builds_with_at_most_three_jobs(spark):
    # One sample collect and one per-bucket count collect (a shuffle-map
    # job plus its result job under AQE): no checkpoint and no
    # range-partitioner sampling job.
    from dataframe_sql_spark.operators.rank import global_rank
    from dataframe_sql_spark.registry import engine_for

    li = engine_for(spark, SF_DIR).spark.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    _, jobs = _jobs_during(spark, lambda: global_rank(li, [("l_quantity", False)]))
    assert 0 < len(jobs) <= 3, jobs


@pytest.mark.parametrize("entry, most", [("dd_minhash", 3), ("dd_incremental", 2)])
def test_minhash_entries_build_with_one_featurization(spark, entry, most):
    # The only construction work is the one cut of the batch's gram
    # frame (one scan and gram-hash pass, a job or three under AQE):
    # candidates, verification and the index delta all read it. Two
    # cuts (signature and verify set) took 5 jobs for dd_minhash, and
    # 14 for dd_incremental, whose cuts re-ran the history semi-join.
    from dataframe_sql_spark.registry import spark_queries

    build = spark_queries()[entry]
    build(spark, SF_DIR)
    _, jobs = _jobs_during(spark, lambda: build(spark, SF_DIR))
    assert 0 < len(jobs) <= most, jobs


@pytest.mark.parametrize("option", ["assign", "centroids"])
@pytest.mark.parametrize("builder", ["ivf_index_write", "ivfpq_index_write"])
def test_index_builder_rejects_unknown_option_before_any_job(spark, tmp_path, builder, option):
    from pyspark.sql import functions as F

    from dataframe_sql_spark.operators import similarity

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") + i) for i in range(64)]).alias("embedding"),
    )
    allowed = {"assign": "flat|2level", "centroids": "sample|kmeans"}[option]

    def build():
        with pytest.raises(ValueError, match=f"'bogus' \\({allowed}\\)"):
            getattr(similarity, builder)(emb, str(tmp_path / "idx"), **{option: "bogus"})

    _, jobs = _jobs_during(spark, build)
    assert jobs == []


def test_repeated_probe_compiles_nothing(spark, ivfpq_index):
    """Between the two probes the session compiles more distinct classes
    than Spark's default codegen cache (100 entries) holds, as the other
    ops of a pipeline pass do; the session's cache still holds the
    probe's."""
    from dataframe_sql_spark.operators.similarity import ivfpq_topk_indexed

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    q = [math.cos(i) for i in range(64)]
    first = ivfpq_topk_indexed(spark, ivfpq_index, q, k=10, n_probe=4).collect()
    before = compiles.getCount()
    # each union branch is its own codegen stage with its own constants
    reduce(
        DataFrame.unionAll,
        [spark.range(0, 1, 1, 1).selectExpr(f"id * {i + 2} + {i} AS x") for i in range(150)],
    ).collect()
    assert compiles.getCount() - before > 200
    before = compiles.getCount()
    second = ivfpq_topk_indexed(spark, ivfpq_index, q, k=10, n_probe=4).collect()
    assert compiles.getCount() - before == 0
    assert first == second


def test_no_per_element_literal_idiom():
    """``F.lit(list)`` is one py4j call and one plan node per element;
    driver-side lists go through ``const_array``."""
    banned = ("F.lit([", "F.lit(luts", "F.array(*[F.lit(")
    hits = [
        f"{p.relative_to(_PKG.parent)}:{n}: {line.strip()}"
        for p in sorted(_PKG.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if any(b in line for b in banned)
    ]
    assert hits == [], "\n".join(hits)


def test_session_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_session_progress_bar_off_when_stderr_is_not_a_terminal(spark):
    """Spark's console progress bar redraws with a carriage return, so in
    redirected output it glues onto result lines; the test session's
    stderr is captured, not a terminal, so the bar is off."""
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_tune_session_reports_confs_it_cannot_set(caplog):
    from dataframe_sql_spark.session import tune_session

    class _Conf:
        def get(self, key, default=None):
            return "local[2]" if key == "spark.master" else default

        def set(self, key, value):
            if key in ("spark.sql.caseSensitive", "spark.sql.shuffle.partitions"):
                raise RuntimeError("not settable here")

    class _Session:
        conf = _Conf()

    with caplog.at_level(logging.WARNING, logger="dataframe_sql_spark.session"):
        failed = tune_session(_Session())
    assert failed == ["spark.sql.caseSensitive", "spark.sql.shuffle.partitions"]
    assert all(k in caplog.text for k in failed)


def test_tune_session_on_tuned_session_fails_nothing(spark):
    from dataframe_sql_spark.session import tune_session

    assert tune_session(spark) == []


def test_get_spark_warns_when_existing_session_keeps_a_builder_conf(spark, monkeypatch, caplog):
    """A second get_spark with a different builder-only value gets the
    existing session; the conf that did not take is logged."""
    from dataframe_sql_spark.session import get_spark

    key = "spark.driver.memory"
    started = spark.sparkContext.getConf().get(key)
    shown = spark.conf.get(key, None)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "7g")
    try:
        with caplog.at_level(logging.WARNING, logger="dataframe_sql_spark.session"):
            assert get_spark("tests") is spark
        assert key in caplog.text and "7g" in caplog.text
    finally:
        # getOrCreate copied the unused value into the session conf
        spark._jsparkSession.sessionState().conf().setConfString(key, shown or started)
