"""Connected components / cluster dedup: transitive closure semantics
a pairwise filter can't provide."""

from __future__ import annotations

import pytest

from dataframe_sql_spark.operators.graph import (
    cluster_representatives,
    connected_components,
    triangle_list,
)


def test_connected_components_chains_and_singletons(spark):
    # two components: {1,2,3,4} (a chain) and {10,11}; 2-4 never paired directly
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comps = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converges_on_long_chain(spark):
    n = 8  # diameter >> 1: propagation takes one hop per round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    comps = {r.id: r.comp for r in connected_components(edges, max_iter=12).collect()}
    assert set(comps.values()) == {0} and len(comps) == n + 1


def test_connected_components_raises_without_convergence(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_cluster_representatives_transitive_closure(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 4, 10, 11, 99)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    kept = sorted(
        r.doc_id for r in cluster_representatives(df, pairs, "doc_id").collect()
    )
    # one survivor per cluster (min id), untouched row 99 kept
    assert kept == [1, 10, 99]


def test_pagerank_hand_computed_chain(spark):
    from dataframe_sql_spark.operators.graph import pagerank

    # 1 -> 2 -> 3 (3 dangling); N=3, d=0.85, 1 iteration
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = {r.id: r.rank for r in pagerank(edges, n_iters=1).collect()}
    # init 1/3 rounded = 0.333333; dangling mass = rank(3) = 0.333333
    base = (1 - 0.85 + 0.85 * 0.333333) / 3
    assert out[1] == round(base, 6)
    assert out[2] == round(base + 0.85 * 0.333333, 6)
    assert out[3] == round(base + 0.85 * 0.333333, 6)


def test_pagerank_mass_conserved_and_authority_wins(spark):
    from pyspark.sql import functions as F

    from dataframe_sql_spark.operators.graph import pagerank

    # star: everyone points at node 0; node 0 points at node 1
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    pr = pagerank(df, n_iters=3)
    rows = {r.id: r.rank for r in pr.collect()}
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-4  # stochastic fix conserves mass
    assert rows[0] == max(rows.values())  # the hub outranks everyone
    assert rows[1] > rows[2]  # hub's endorsement beats leaf status


def test_triangle_list_k4_chain_and_star(spark):
    # K4 on {1,2,3,4} -> C(4,3)=4 triangles; chain 10-11-12 -> none;
    # star 20-(21,22,23) -> none (no closing edges)
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(10, 11), (11, 12), (20, 21), (20, 22), (20, 23)],
        ["id_a", "id_b"],
    )
    got = {(r.a, r.b, r.c) for r in triangle_list(edges, "id_a", "id_b").collect()}
    assert got == {(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)}


def test_triangle_list_ignores_direction_dupes_and_self_loops(spark):
    # triangle given with mixed directions, a duplicate edge, and a
    # self-loop: still exactly one triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2), (1, 3), (2, 2)], ["s", "d"]
    )
    got = [(r.a, r.b, r.c) for r in triangle_list(edges, "s", "d").collect()]
    assert got == [(1, 2, 3)]


# --- reliable checkpointing (lineage.py) ----------------------------------


def test_reliable_checkpoint_components_and_rank(spark, tmp_path):
    """With a checkpoint dir configured, iterative operators switch to
    reliable checkpoint() (state survives executor loss on a cluster)
    and produce identical results; the dir actually receives state. The
    global rank takes no checkpoint and ranks the same under the dir."""
    import os

    from dataframe_sql_spark.operators.rank import global_rank

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
        )
        comps = {r.id: r.comp for r in connected_components(edges).collect()}
        assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

        df = spark.createDataFrame(
            [(i, float(i % 7)) for i in range(100)], ["id", "v"]
        )
        ranked = {
            r.id: r.rnk
            for r in global_rank(df, [("v", True), ("id", True)]).collect()
        }
        assert len(ranked) == 100 and ranked[0] == 1
        # v cycles 0..6: ids with v=0 (0,7,...,98 -> 15 rows) rank first
        assert ranked[7] == 2 and ranked[1] == 16

        # reliable state was actually written under the configured dir
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert files, "no reliable checkpoint files written"
    finally:
        sc.setCheckpointDir(None)


def test_pagerank_checkpoint_every_preserves_trajectory(spark):
    from dataframe_sql_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], ["src", "dst"]
    )
    plain = {r.id: r.rank for r in pagerank(edges, n_iters=4).collect()}
    ck = {
        r.id: r.rank
        for r in pagerank(edges, n_iters=4, checkpoint_every=2).collect()
    }
    assert plain == ck  # rounding pins the trajectory; truncation is a no-op on values
