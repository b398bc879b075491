"""Iterative graph operators on DataFrames — connected components for
near-duplicate clustering.

Pairwise dedup (minhash/simhash/Jaccard) yields EDGES; what a corpus
run needs is CLUSTERS (A~B and B~C must collapse to one survivor even
when A~C was never emitted as a pair). That closure is transitive
connectivity — not expressible in one SQL query, so this is the
repo's genuinely iterative operator, built the Spark way:

- label propagation to the minimum reachable id, one join + one
  groupBy per round — label state stays a DataFrame, nothing
  driver-sized;
- rounds ≤ graph diameter (near-dup graphs are shallow: big
  components are dense clusters, so typical diameter ≲ 5);
- every round ends in an eager checkpoint — MANDATORY for iterative
  DataFrames: each round references the previous labels twice, so
  without lineage truncation the logical plan doubles per round and
  the driver OOMs building it (persist caches data but NOT the plan).
  The checkpoint is local by default and reliable ``checkpoint()``
  (HDFS/object-store, survives executor loss) when a checkpoint dir is
  configured — see :mod:`.lineage`.

GraphX/GraphFrames ship the same algorithm; doing it with stock joins
keeps the dependency surface at zero and the plan visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import truncate_lineage
from .scalars import broadcast_attach

__all__ = [
    "connected_components",
    "cluster_representatives",
    "pagerank",
    "triangle_list",
]


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, comp) for every node in ``edges``, where ``comp`` is the
    minimum id reachable from the node. Converges when no label
    changes; raises if ``max_iter`` rounds weren't enough (diameter
    larger than expected — raise the cap, don't trust partial labels).

    The per-round checkpoint is reliable iff a checkpoint dir is
    configured — the cluster mode.
    """
    sym = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    sym = truncate_lineage(sym)
    labels = truncate_lineage(
        sym.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        cur = truncate_lineage(  # per-round — see module doc
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("old_comp"),
            )
        )
        changed = cur.filter("comp != old_comp").count()
        labels = cur.drop("old_comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into transitive clusters and keep one
    survivor (the min id) per cluster: rows of ``df`` that are either
    untouched by any pair or are their cluster's representative.

    This is the correct closure of pairwise dedup — a greedy pair
    filter can keep both A and C of an A~B~C chain; clustering can't.
    """
    comps = connected_components(pairs, max_iter=max_iter)
    losers = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    d: float = 0.85,
    n_iters: int = 2,
    round_digits: int = 6,
    checkpoint_every: int = 0,
) -> DataFrame:
    """PageRank by unrolled power iteration — fully lazy, no driver
    state at all (contrast :func:`~..similarity.kmeans_assign`, whose
    centroid literals must round-trip the driver).

    The pretraining-data use: centrality over a document similarity /
    link graph is a quality-weighting signal (authority-weighted
    sampling). Dangling mass is redistributed uniformly (the standard
    stochastic-matrix fix), so ranks sum to 1 every iteration.

    Per iteration: one join of the rank vector onto the edge list
    (shuffle on ``src``), one ``groupBy(dst)`` contribution sum, one
    1-row dangling-mass aggregate attached via
    :func:`~.scalars.broadcast_attach` (constant-key broadcast hash
    join — one broadcast row, no nested loop).
    Ranks round to ``round_digits`` each iteration, which pins the
    trajectory across engines/reruns exactly like the k-means
    centroid rounding — a SQL oracle can replay it verbatim. With
    ``n_iters`` small the unrolled lazy plan is fine; at 100 TB pass
    ``checkpoint_every`` (e.g. 3) to truncate lineage that often —
    reliable ``checkpoint()`` when a checkpoint dir is configured, else
    ``localCheckpoint`` (see :mod:`.lineage`).
    Rounding pins the trajectory, so checkpointing cannot change the
    result — only the plan size and fault-tolerance story.

    Returns (id, rank).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_tot = nodes.agg(F.count("*").alias("__n"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    pr = broadcast_attach(nodes, n_tot).select(
        "id", F.round(F.lit(1.0) / F.col("__n"), round_digits).alias("rank")
    )
    for it in range(n_iters):
        if checkpoint_every and it and it % checkpoint_every == 0:
            pr = truncate_lineage(pr)
        ranked = pr.join(out_deg, pr["id"] == out_deg["src"], "left").select(
            pr["id"], "rank", "__deg"
        )
        # mass parked on dangling nodes (no out-edges) this iteration.
        # Both sums below run in EXACT INTEGER space: ranks sit on a
        # 6dp grid, so `floor(rank·1e6 + 0.5)` recovers the integer
        # rank6 bit-identically on every engine (the +0.5 lands ~0.5
        # away from any integer boundary — no rounding-mode hazard),
        # and the per-edge contribution is the floor division
        # `rank6·1e12 div deg` — pure int64 ops with one final
        # int→double conversion (the same integer converts to the
        # same double everywhere). A plain double sum's accumulation
        # ORDER differs across engines/partitionings, and a
        # `round(x, 12)` pre-round is itself engine-divergent at
        # grid boundaries (Spark rounds the exact BigDecimal
        # expansion, DuckDB multiply-round-divides in doubles) — both
        # forked the 6dp trajectory at sf0.1 before this pin. Bounds:
        # rank6 ≤ 1e6, rank6·1e12 ≤ 1e18 < int64 max; 1e6/1e12/1e18
        # are exactly representable doubles.
        rank6 = F.floor(F.col("rank") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        dangling = ranked.agg(
            (
                F.coalesce(
                    F.sum(F.when(F.col("__deg").isNull(), rank6)), F.lit(0)
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("__dang")
        )
        contrib = (
            e.join(ranked.withColumnRenamed("id", "src"), "src")
            .withColumn(
                "__c18",
                F.expr(
                    "(cast(floor(rank * 1000000.0 + 0.5) as bigint)"
                    " * 1000000000000L) div __deg"
                ),
            )
            .groupBy("dst")
            .agg(
                (F.sum("__c18").cast("double") / F.lit(1.0e18)).alias("__in")
            )
        )
        pr = (
            broadcast_attach(
                broadcast_attach(
                    nodes.join(contrib, nodes["id"] == contrib["dst"], "left"),
                    n_tot,
                ),
                dangling,
            )
            .select(
                "id",
                F.round(
                    (F.lit(1.0) - F.lit(d) + F.lit(d) * F.col("__dang"))
                    / F.col("__n")
                    + F.lit(d) * F.coalesce(F.col("__in"), F.lit(0.0)),
                    round_digits,
                ).alias("rank"),
            )
        )
    return pr


def triangle_list(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Enumerate triangles with degree-oriented wedge joins.

    The pretraining-data use: triangle density over a document
    similarity graph separates tight near-duplicate cliques from
    chains of borderline pairs (a clique of s docs has C(s,3)
    triangles; a chain has none) — a stronger dedup-cluster quality
    signal than edge count alone.

    The node-iterator-with-orientation formulation (Suri &
    Vassilvitskii 2011): normalize edges undirected, orient each from
    the lower- to the higher-(degree, id) endpoint, build wedges by
    self-joining oriented edges on their source, and close each wedge
    with one more join. Orientation is the scale trick — out-degree
    is bounded by O(sqrt(m)) regardless of hub skew, so the wedge
    self-join cannot explode on a celebrity node the way a naive
    neighbor join does. Three shuffles total (degree groupBy, wedge
    join on the pivot vertex, closing join on the (v, w) pair); each
    triangle is produced exactly once, from its minimum-(degree, id)
    corner.

    Returns one row per triangle: (a, b, c) sorted by id ascending.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        e.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    # orient from lower-(deg, id) to higher-(deg, id)
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select(
        F.array_sort(F.array("u", "v1", "v2")).alias("t")
    )
    return tri.select(
        F.col("t")[0].alias("a"), F.col("t")[1].alias("b"), F.col("t")[2].alias("c")
    )
