"""Scaling-exponent measurement for the headline operators.

The correctness gates run at sf0.01 and bench at sf0.1; this tool
answers the 100 TB question the small SFs can't: does each operator's
runtime grow ~linearly with input, or is something superlinear hiding
(quadratic pair expansion, driver-side accumulation, single-partition
stages)? It replicates the sf0.1 tables in-memory to Rx the rows
(R in --scales, default 1,4,16), runs each op fully materialized, and
prints one JSON line per (op, R) plus a fitted log-log slope per op.

Replication details (chosen so semantics scale the way a bigger corpus
actually would):
- documents: every replica's words get a replica-specific prefix
  (regexp_replace with a column replacement), so replicas are NOT
  near-duplicates of each other — corpus grows with disjoint
  vocabulary, the honest dedup workload. Without the salt, R replicas
  of every doc would make LSH candidate pairs grow as R², which tests
  the (documented) dup-heavy blowup, not scaling.
- lineitem/orders: keys remapped (key*R + rep) so join fan-out per key
  is preserved; group-by cardinality unchanged, partial aggregation
  keeps map-side combine effective.
- embeddings: vec_id remapped; vectors perturbed by rep so ANN work
  doesn't collapse to duplicate distance computations.

A slope near 1.0 = linear scaling; >1.3 flags superlinear growth worth
a design look (expected for ops with inherently quadratic parts).
Usage: python tools/scale_stress.py [--scales 1,4,16] [op_filter ...]
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dataframe_sql_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def _replicate(df: DataFrame, r: int) -> DataFrame:
    if r == 1:
        return df.withColumn("__rep", F.lit(0))
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("__rep")
    )


def scaled_documents(spark: SparkSession, r: int) -> DataFrame:
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rep = _replicate(docs, r)
    # salt every word with the replica id -> replicas share no shingles
    salted = F.regexp_replace(
        F.col("text"), r"(^|\s)", F.concat(F.lit("$1r"), F.col("__rep"), F.lit("x"))
    )
    return rep.select(
        (F.col("doc_id") * r + F.col("__rep")).alias("doc_id"),
        salted.alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def scaled_lineitem_orders(spark: SparkSession, r: int):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li_r = _replicate(li, r).withColumn(
        "l_orderkey", F.col("l_orderkey") * r + F.col("__rep")
    ).drop("__rep")
    od_r = _replicate(od, r).withColumn(
        "o_orderkey", F.col("o_orderkey") * r + F.col("__rep")
    ).drop("__rep")
    return li_r, od_r


def scaled_embeddings(spark: SparkSession, r: int) -> DataFrame:
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rep = _replicate(emb, r)
    perturbed = F.transform(
        F.col("embedding"), lambda x: x + F.col("__rep") * F.lit(0.001)
    )
    return rep.select(
        (F.col("vec_id") * r + F.col("__rep")).alias("vec_id"),
        perturbed.alias("embedding"),
        "label",
    )



def _force(df: DataFrame) -> int:
    """Materialize EVERY column (checksum aggregate) — .count() lets
    Catalyst prune expensive projections, flattening the measurement."""
    from pyspark.sql import functions as FF

    n = df.select(
        FF.count(FF.lit(1)).alias("n"),
        FF.sum(FF.hash(*[FF.col(c) for c in df.columns])).alias("chk"),
    ).collect()[0]
    return int(n["n"])


def op_minhash_pairs(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.dedup import minhash_pairs

    docs = scaled_documents(spark, r)
    return _force(minhash_pairs(docs, "doc_id", "text", threshold=0.5))


def op_simhash(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.dedup import simhash_dedup

    return _force(simhash_dedup(scaled_documents(spark, r), "doc_id", "text"))


def op_global_rank(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.rank import global_rank

    li, _ = scaled_lineitem_orders(spark, r)
    ranked = global_rank(
        li.select("l_orderkey", "l_extendedprice"),
        [("l_extendedprice", False), ("l_orderkey", True)],
        out_col="rnk",
    )
    return ranked.agg(F.max("rnk")).collect()[0][0]


def op_tpch_q5_shape(spark: SparkSession, r: int) -> int:
    li, od = scaled_lineitem_orders(spark, r)
    cu = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    na = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    rev = (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, li.l_orderkey == od.o_orderkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("revenue")
        )
    )
    return _force(rev)


def op_topk_cosine(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.similarity import cosine_topk

    emb = scaled_embeddings(spark, r)
    return _force(cosine_topk(emb, "embedding", [1.0] * 64, k=10))


def op_substring_spans(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.dedup import substring_span_stats

    return _force(substring_span_stats(scaled_documents(spark, r), "doc_id", "text"))


def op_prefix_filter(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.dedup import prefix_filter_pairs

    # high threshold = small candidate space; the scaling question is
    # whether the frequency pass + prefix-token join stay ~linear when
    # replicas share no vocabulary (disjoint token spaces)
    return _force(
        prefix_filter_pairs(scaled_documents(spark, r), "doc_id", "text", 8, 10)
    )


def op_line_dedup(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.dedup import line_dedup

    docs = scaled_documents(spark, r)
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    nl = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size(ws) / F.lit(10)).cast("int") - 1),
                lambda i: F.array_join(F.slice(ws, i * F.lit(10) + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return _force(line_dedup(nl, "doc_id", "text", "\n", min_df=2))


def op_kmeans(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.similarity import kmeans_assign

    emb = scaled_embeddings(spark, r)
    return _force(
        kmeans_assign(emb, "vec_id", "embedding", k=8, n_iters=2).select(
            "vec_id", "cluster"
        )
    )


def op_ivf_kmeans_build(spark: SparkSession, r: int) -> int:
    """The k-means-trained IVF index build (round 8): centroid count
    grows with the corpus via ivf_default_cells, so linear scaling here
    certifies the whole build path — md5 init, n_iters assignment
    passes, posexplode mean reduce — at growing n_cells, not just
    growing rows. Materializes the assignment (the part that is
    written at scale) rather than parquet I/O."""
    from dataframe_sql_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_default_cells,
        ivf_kmeans_centroids,
    )

    emb = scaled_embeddings(spark, r)
    n_cells = ivf_default_cells(emb.count())
    cents = ivf_kmeans_centroids(emb, "embedding", "vec_id", n_cells)
    return _force(
        ivf_assign_cells(emb, "embedding", cents, cell_col="cell").select(
            "vec_id", "cell"
        )
    )


def op_ivf_build_2level(spark: SparkSession, r: int) -> int:
    """Flat-IVF assignment is rows·n_cells (slope 1.77 measured when
    cells track corpus size); the two-level coarse quantizer is
    rows·~2√cells — this op pins the improvement empirically. Same
    md5 centroid pick as op_ivf_kmeans_build minus the Lloyd passes,
    so the delta vs that op is (training + flat-vs-2level assign)."""
    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells_2level,
        ivf_default_cells,
    )

    emb = scaled_embeddings(spark, r)
    n_cells = ivf_default_cells(emb.count())
    cents = _ivf_centroids(emb, "embedding", "vec_id", n_cells)
    return _force(
        ivf_assign_cells_2level(emb, "embedding", cents, cell_col="cell").select(
            "vec_id", "cell"
        )
    )


def op_lm_score(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.relevance import bigram_lm_scores

    return _force(bigram_lm_scores(scaled_documents(spark, r), "doc_id", "text"))


def scaled_events(spark: SparkSession, r: int) -> DataFrame:
    """Events replicated with each replica shifted to a disjoint month:
    a longer STREAM, not a denser one — intervals per corpus grow R×
    while events per interval stay constant (the honest range-join
    workload; un-shifted replicas would grow join output as R²)."""
    from dataframe_sql_spark.sources.io import read_table

    ev = read_table(spark, SF_DIR, "events")
    rep = _replicate(ev, r)
    return rep.select(
        (F.col("event_id") * r + F.col("__rep")).alias("event_id"),
        (
            F.col("ts")
            + F.make_interval(days=F.col("__rep") * F.lit(31))
        ).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def scaled_customers(spark: SparkSession, r: int) -> DataFrame:
    """Customers replicated with replica-salted nation keys: block
    COUNT grows R×, block SIZE stays constant — modeling a properly
    configured blocking key (the operator docstrings require block keys
    that bound group size; an un-salted replica would instead grow each
    block R× and the per-block quadratic as R²)."""
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    rep = _replicate(cust, r)
    return rep.select(
        (F.col("c_custkey") * r + F.col("__rep")).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("__rep")).alias("c_name"),
        (F.col("c_nationkey") + F.col("__rep") * 25).alias("c_nationkey"),
    )


def op_range_join(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.joins import range_join

    ev = scaled_events(spark, r)
    inc = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 20 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("end_ts"),
    )
    hits = range_join(
        ev.select("event_id", "ts", "value"),
        inc,
        "ts",
        "start_ts",
        "end_ts",
        bucket_granularity="hour",
    )
    return _force(
        hits.groupBy("incident_id").agg(F.count("*").alias("n_events"))
    )


def op_record_linkage(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.joins import best_match_linkage

    cust = scaled_customers(spark, r)
    dirty = cust.filter(F.col("c_custkey") % 7 == 3).select(
        F.col("c_custkey").alias("d_id"),
        F.expr("substring(c_name, 1, length(c_name) - 1)").alias("d_name"),
        "c_nationkey",
    )
    return _force(
        best_match_linkage(
            dirty, cust, ["c_nationkey"], "d_id", "c_custkey", "d_name", "c_name"
        )
    )


def op_sorted_neighborhood(spark: SparkSession, r: int) -> int:
    from dataframe_sql_spark.operators.joins import sorted_neighborhood_pairs

    cust = scaled_customers(spark, r)
    pairs = sorted_neighborhood_pairs(cust, ["c_name"], "c_custkey", window=3)
    names = cust.select("c_custkey", "c_name")
    scored = (
        pairs.join(
            names.select(
                F.col("c_custkey").alias("id_a"), F.col("c_name").alias("n_a")
            ),
            "id_a",
        )
        .join(
            names.select(
                F.col("c_custkey").alias("id_b"), F.col("c_name").alias("n_b")
            ),
            "id_b",
        )
        .select("id_a", "id_b", F.levenshtein("n_a", "n_b").alias("d"))
    )
    return _force(scored.filter(F.col("d") <= 2))


def op_containment(spark: SparkSession, r: int) -> int:
    """Blocked containment with replica-salted block keys: block count
    grows R×, block size constant — the configured-blocking contract
    (un-salted, the fixed 100-block (lang, source) space would grow
    each block R× and the in-block quadratic as R²)."""
    from dataframe_sql_spark.operators.dedup import shingle_frame

    # replica id recovered from the remapped key (doc_id = orig*r + rep)
    docs = scaled_documents(spark, r).withColumn(
        "lang", F.concat(F.col("lang"), F.lit("#"), F.col("doc_id") % r)
    )
    sh = shingle_frame(docs, "doc_id", "text", extra_cols=("lang", "source"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    smaller = F.least(F.size(F.col("a.__sh")), F.size(F.col("b.__sh")))
    return _force(
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            inter.alias("inter"),
            smaller.alias("smaller"),
        )
    )


def op_ewma(spark: SparkSession, r: int) -> int:
    """Per-user bounded-window EWMA over the time-shifted replicated
    stream: rows per user grow R×; one user_id shuffle + per-user
    sort. Query text is the SAME builder the catalog entry uses."""
    from dataframe_sql_spark.registry_ext import _ewma_sql

    scaled_events(spark, r).createOrReplaceTempView("__ewma_src")
    return _force(
        spark.sql(_ewma_sql(table="__ewma_src", round4=False, with_ts=False))
    )


def op_negative_pairs(spark: SparkSession, r: int) -> int:
    """md5-mod-N negative draws over a replicated doc index — the SAME
    operator the catalog entry runs (shared via operators/sampling)."""
    from dataframe_sql_spark.operators.sampling import negative_pairs

    return _force(
        negative_pairs(scaled_documents(spark, r).select("doc_id"), "doc_id", k=4)
    )


def op_triangles(spark: SparkSession, r: int) -> int:
    """Production composition: LSH candidates → exact-verified edges →
    degree-oriented triangle listing (the certificate entry's complete
    shingle-sharing generator is certificate-only — quadratic in shingle
    document frequency, infeasible and unnecessary at stress scale)."""
    from dataframe_sql_spark.operators.dedup import minhash_pairs
    from dataframe_sql_spark.operators.graph import triangle_list

    docs = scaled_documents(spark, r)
    edges = minhash_pairs(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b")
    return _force(triangle_list(edges, "id_a", "id_b"))


def op_knn_join_ivf(spark: SparkSession, r: int) -> int:
    """Cell-keyed kNN join at the scale-correct configuration:
    ``n_cells`` grows with the corpus (cells ∝ N keeps per-cell
    occupancy CONSTANT) and ``n_probe`` stays FIXED, so candidate
    volume is |L|·n_probe·occupancy ∝ N — linear. Two traps this
    configuration dodges, both measured here before being documented:
    holding the n_probe/n_cells RATIO fixed keeps the probed FRACTION
    constant, i.e. candidates = |L|·|R|·fraction — quadratic no matter
    how many cells (measured slope 2.0); holding n_cells fixed makes
    occupancy ∝ N — also quadratic. The residual superlinear term in
    the linear config is the probe-side cell RANKING (each row scores
    all n_cells centroids, ∝ N·cells), which is the tiny-constant
    coarse-quantizer cost — real billion-scale systems cap it with a
    hierarchical/indexed coarse quantizer; at these sizes it is noise
    and the measured slope reflects the candidate term.

    Since round 5 this scenario passes NO n_cells at all: the operator's
    own ``ivf_default_cells`` heuristic (cells ∝ count at occupancy 128)
    must produce the linear configuration without manual tuning — the
    measured slope ≈1 here is the heuristic's regression gate."""
    from dataframe_sql_spark.operators.similarity import knn_join_ivf

    emb = scaled_embeddings(spark, r)
    left = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("id_a"), "embedding"
    )
    right = emb.filter(F.col("label") != 0).select(
        F.col("vec_id").alias("id_b"), "embedding"
    )
    return _force(knn_join_ivf(left, right, k=3, n_probe=4))


def op_bloom_prefilter_join(spark: SparkSession, r: int) -> int:
    """Map-side Bloom-prefiltered join at growing probe scale: lineitem
    (probe, 600k·r rows) against the selective high-value orders set.
    Expected ~linear — the per-row cost is k bit tests against the
    broadcast bitset plus the (shrunken) shuffle; the build side is one
    bounded aggregate per call."""
    from dataframe_sql_spark.operators.joins import bloom_prefilter_join

    li, od = scaled_lineitem_orders(spark, r)
    probe = li.select("l_orderkey", "l_extendedprice")
    build = od.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return _force(
        bloom_prefilter_join(probe, build, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice").alias("s"))
    )


_KNN_PREPARED: dict[int, tuple] = {}


def _knn_prepare(spark: SparkSession, r: int):
    """Untimed index-build proxy for the join-stage measurement: cell
    assignment + probe explosion materialized via localCheckpoint —
    exactly what ivf_index_write persists once at scale."""
    if r in _KNN_PREPARED:
        return _KNN_PREPARED[r]
    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells,
        ivf_default_cells,
        ivf_probe_cells,
    )

    emb = scaled_embeddings(spark, r)
    left = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("__lv"),
    )
    right = emb.filter(F.col("label") != 0).select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("__rv"),
    )
    centroids = _ivf_centroids(
        right, "__rv", "id_b", ivf_default_cells(right.count())
    )
    rv = ivf_assign_cells(right, "__rv", centroids).localCheckpoint()
    lv = ivf_probe_cells(left, "__lv", centroids, n_probe=4).localCheckpoint()
    _KNN_PREPARED[r] = (lv, rv)
    return _KNN_PREPARED[r]


def op_knn_join_ivf_joinstage(spark: SparkSession, r: int) -> int:
    """The cell-cogrouped pair scoring + per-query top-k ONLY, over
    prebuilt assignments (`knn_join_cells_cogrouped`, the join stage
    knn_join_indexed runs) — the probe-time cost of the persisted-index
    deployment, isolated from the per-call centroid scoring that
    dominates op_knn_join_ivf's end-to-end number."""
    lv, rv = _knn_prepare(spark, r)
    from dataframe_sql_spark.operators.similarity import knn_join_cells_cogrouped

    return _force(knn_join_cells_cogrouped(lv, rv, k=3))


op_knn_join_ivf_joinstage.prepare = _knn_prepare


# ---------------------------------------------------------------------------
# Zipf-skewed join: salted vs AQE vs unmitigated
# ---------------------------------------------------------------------------

_SKEW_KEYS = 100_000


def _skew_frames(spark: SparkSession, r: int):
    """Zipf(≈2)-distributed join key via inverse-CDF over an xxhash64
    uniform draw: key = min(floor(1/u), 100k), so key 1 owns ~50% of
    probe rows, key 2 ~17%, … — the viral-document / whale-customer
    shape. Probe 2M·r rows; build one row per key (kept off the
    broadcast path by the scenario's conf so the shuffle-join skew is
    actually exercised, as it would be when the build side is TBs)."""
    n = 2_000_000 * r
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 1) / 1_000_000.0
    probe = spark.range(n).select(
        F.least(F.floor(F.lit(1.0) / u), F.lit(_SKEW_KEYS)).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    build = spark.range(_SKEW_KEYS + 1).select(
        F.col("id").alias("k"), (F.col("id") % 31).cast("double").alias("w")
    )
    return probe, build


def _skew_join_run(spark: SparkSession, r: int, salted: bool, skew_aqe: bool) -> int:
    """One variant of the skewed join, joined then globally aggregated
    (partial agg is map-side, so the join task IS the bottleneck).

    Conf, restored after: broadcast disabled (locally the build side
    would broadcast and hide the skew; at 100 TB it wouldn't fit) and
    AQE's skew thresholds scaled down to the local data size (the
    defaults — 256 MB partitions, 5× median — are tuned for real
    cluster shuffles; a 30 MB local hot partition must still count as
    'skewed' for the comparison to mean anything)."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_aqe).lower())
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
        probe, build = _skew_frames(spark, r)
        if salted:
            from dataframe_sql_spark.operators.skew import salted_join

            joined = salted_join(probe, build, on=["k"], buckets=16)
        else:
            joined = probe.join(build, "k")
        return _force(joined.agg(F.sum(F.col("v") * F.col("w")).alias("s")))
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def op_skew_join_unmitigated(spark: SparkSession, r: int) -> int:
    return _skew_join_run(spark, r, salted=False, skew_aqe=False)


def op_skew_join_aqe(spark: SparkSession, r: int) -> int:
    return _skew_join_run(spark, r, salted=False, skew_aqe=True)


def op_skew_join_salted(spark: SparkSession, r: int) -> int:
    return _skew_join_run(spark, r, salted=True, skew_aqe=False)


def op_connected_components(spark: SparkSession, r: int) -> int:
    """Label propagation (the dedup-cluster closure) at the realistic
    graph shape: 5-node star clusters, so cluster COUNT grows with the
    corpus while diameter stays 2 — matching near-dup graphs (dense
    shallow clusters, module doc operators/graph.py). Convergence
    rounds are therefore constant in R and per-round work is one join
    + one groupBy over ~N edges: expect slope ≈ 1. The per-round
    eager checkpoint (lineage truncation) is part of what's timed —
    it's the operator's real cost structure."""
    from dataframe_sql_spark.operators.graph import connected_components

    ids = scaled_documents(spark, r).select(F.col("doc_id").alias("id"))
    edges = ids.select(
        F.col("id").alias("id_a"),
        (F.col("id") - F.col("id") % 5).alias("id_b"),
    ).filter("id_a != id_b")
    return _force(connected_components(edges, max_iter=8))


def op_connected_components_reliable(spark: SparkSession, r: int) -> int:
    """The SAME workload as dd_clusters but through the reliable
    ``checkpoint()`` path (operators/lineage.py): every round's labels
    are written to the configured checkpoint dir instead of executor
    memory. The delta vs dd_clusters at equal R is the measured price
    of durability — what a 1000-executor cluster pays so a lost
    executor doesn't kill a multi-round job. Expect the same slope
    with a larger per-round constant (one parquet-ish write + read of
    ~N labels per round against an object store; local disk here)."""
    import tempfile

    from dataframe_sql_spark.operators.graph import connected_components

    ids = scaled_documents(spark, r).select(F.col("doc_id").alias("id"))
    edges = ids.select(
        F.col("id").alias("id_a"),
        (F.col("id") - F.col("id") % 5).alias("id_b"),
    ).filter("id_a != id_b")
    # the checkpoint mode follows the session's checkpoint dir: reset it
    # afterwards so a later dd_clusters run stays on the local mode
    sc = spark.sparkContext
    sc.setCheckpointDir(tempfile.mkdtemp(prefix="stress_reliable_ckpt_"))
    try:
        return _force(connected_components(edges, max_iter=8))
    finally:
        sc.setCheckpointDir(None)


def op_pipe_curation(spark: SparkSession, r: int) -> int:
    """The end-to-end curation funnel (quality gate → fingerprint dedup
    → hash split — registry_pipeline._curation_pipeline's exact stage
    composition) over a disjoint-vocabulary corpus. The quality gate
    and split are map-side codegen; the fingerprint groupBy is the ONE
    shuffle — expect slope ≈ 1 with a small constant, the property that
    makes the funnel embarrassingly parallel at 100 TB."""
    from dataframe_sql_spark.functions.text import fingerprint, token_count
    from dataframe_sql_spark.operators.sampling import hash_split

    docs = scaled_documents(spark, r)
    quality = docs.filter(
        (token_count(F.col("text")) >= 30)
        & (
            F.length(F.regexp_replace(F.trim(F.col("text")), r"[A-Za-z0-9\s]", ""))
            / F.length(F.trim(F.col("text")))
            < 0.2
        )
    )
    keyed = quality.withColumn("__fp", fingerprint(F.col("text")))
    winners = (
        keyed.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    deduped = keyed.join(winners, "doc_id", "inner").drop("__fp")
    return _force(
        hash_split(deduped, "doc_id", {"train": 0.9, "val": 0.1}, seed=42).select(
            "doc_id", "lang", "split"
        )
    )


def op_hll_rollup(spark: SparkSession, r: int) -> int:
    """Mergeable-HLL distinct-user rollup over an R×-longer event
    stream with R×-more distinct users (user_id remapped per replica —
    the registers see genuinely new values, not repeats). Per-sketch
    state is fixed-size (lgk=12 → 4 KiB) regardless of R, so cost is
    the linear scan + one segment-keyed partial agg + one tiny merge:
    expect slope ≈ 1. This is the persisted-pre-aggregate pattern that
    replaces fact rescans for distinct counts at 100 TB."""
    from dataframe_sql_spark.functions.sketches import hll_partials, hll_rollup

    ev = scaled_events(spark, r)
    # recover the replica id (event_id = orig*r + rep) so distinct
    # users grow with the corpus instead of repeating R times
    ev = ev.withColumn(
        "user_id", F.col("user_id") * r + F.col("event_id") % F.lit(r)
    ).withColumn("day", F.date_trunc("day", "ts"))
    partials = hll_partials(ev, ["event_type"], "day", "user_id", lgk=12)
    return _force(hll_rollup(partials, ["event_type"]))


OPS = {
    "dd_minhash_pairs": op_minhash_pairs,
    "pipe_curation": op_pipe_curation,
    "a_hll_rollup": op_hll_rollup,
    "dd_clusters": op_connected_components,
    "dd_clusters_reliable": op_connected_components_reliable,
    "dd_simhash": op_simhash,
    "w_rank_global": op_global_rank,
    "tpch_q5_shape": op_tpch_q5_shape,
    "sim_topk": op_topk_cosine,
    "dd_substring_spans": op_substring_spans,
    "dd_prefix_pairs": op_prefix_filter,
    "dd_lines": op_line_dedup,
    "emb_kmeans": op_kmeans,
    "ivf_kmeans_build": op_ivf_kmeans_build,
    "ivf_build_2level": op_ivf_build_2level,
    "txt_lm_score": op_lm_score,
    "j_range_incidents": op_range_join,
    "x_record_linkage": op_record_linkage,
    "x_sorted_neighborhood": op_sorted_neighborhood,
    "g_triangles": op_triangles,
    "dd_containment": op_containment,
    "ts_ewma": op_ewma,
    "x_negative_pairs": op_negative_pairs,
    "sim_knn_join_ivf": op_knn_join_ivf,
    "sim_knn_join_ivf_joinstage": op_knn_join_ivf_joinstage,
    "j_bloom_prefilter": op_bloom_prefilter_join,
    "skew_join_unmitigated": op_skew_join_unmitigated,
    "skew_join_aqe": op_skew_join_aqe,
    "skew_join_salted": op_skew_join_salted,
}


def main() -> None:
    args = sys.argv[1:]
    scales = [1, 4, 16]
    if args and args[0].startswith("--scales"):
        scales = [int(s) for s in args[0].split("=", 1)[1].split(",")]
        args = args[1:]
    spark = get_spark("scale_stress")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()  # warm
    slopes = {}
    for name, fn in OPS.items():
        if args and not any(a in name for a in args):
            continue
        fn(spark, scales[0])  # untimed warm-up: codegen + parquet footers
        times = []
        for r in scales:
            prepare = getattr(fn, "prepare", None)
            if prepare is not None:
                prepare(spark, r)  # untimed index-build proxy
            t0 = time.perf_counter()
            n = fn(spark, r)
            dt = time.perf_counter() - t0
            times.append((r, dt))
            print(json.dumps({"op": name, "scale": r, "sec": round(dt, 2), "rows": n}))
        if len(times) >= 2:
            # fit on the two LARGEST scales: fixed per-action overhead
            # (~0.1-1 s scheduling/collect) pollutes the small points
            (r0, t0_), (r1, t1_) = times[-2], times[-1]
            slope = math.log(t1_ / t0_) / math.log(r1 / r0)
            slopes[name] = round(slope, 2)
            print(json.dumps({"op": name, "loglog_slope": slopes[name]}))
    print(json.dumps({"metric": "scale_stress_slopes", "slopes": slopes}))


if __name__ == "__main__":
    main()
