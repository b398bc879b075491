"""Persisted IVF index: build-once / probe-many with partition pruning.

The at-scale ANN deployment shape — the expensive cell-assignment pass
runs once and lands as parquet partitioned by cell; a probe reads only
its n_probe cell directories. These tests pin (1) result parity with
the inline ivf_topk on the same deterministic centroids, and (2) that
the probe's scan actually PRUNES: the cell filter must appear as a
partition filter, not a post-scan row filter.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataframe_sql_spark.engine import plan_string
from dataframe_sql_spark.operators.similarity import (
    ivf_index_write,
    ivf_topk,
    ivf_topk_indexed,
)
from tests.conftest import SF_DIR

QUERY = [1.0] * 64


def test_indexed_probe_matches_inline(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, path, "embedding", "vec_id", n_cells=16)
    inline = ivf_topk(emb, "embedding", QUERY, k=10, n_cells=16, n_probe=4)
    indexed = ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=4)
    a = [(r.vec_id, round(r.score, 9)) for r in inline.collect()]
    b = [(r.vec_id, round(r.score, 9)) for r in indexed.collect()]
    assert a == b


def test_indexed_probe_prunes_partitions(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, path, "embedding", "vec_id", n_cells=16)
    probe = ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=4)
    plan = plan_string(probe)
    # the cell predicate must be a PartitionFilters entry on the scan
    # (file-listing-level pruning), not a pushed/post-scan data filter
    assert "PartitionFilters" in plan
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "cell" in pf_line


def test_knn_join_indexed_matches_inline(spark, tmp_path):
    """The batch kNN join served from the persisted index must equal
    knn_join_ivf pair-for-pair at the same centroids/probe count —
    both at full probe (== brute force) and at partial probe — since
    the index stores exactly the assignment knn_join_ivf computes
    per call."""
    from dataframe_sql_spark.operators.similarity import (
        knn_join_indexed,
        knn_join_ivf,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    left = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("id_a"), "embedding"
    )
    right = emb.filter(F.col("label") != 0)
    path = str(tmp_path / "ivf_index_join")
    ivf_index_write(right, path, "embedding", "vec_id", n_cells=16)
    for n_probe in (16, 4):
        inline = {
            (r.id_a, r.id_b, round(r.score, 9))
            for r in knn_join_ivf(
                left,
                right.select(F.col("vec_id").alias("id_b"), "embedding"),
                k=3,
                n_cells=16,
                n_probe=n_probe,
            ).collect()
        }
        indexed = {
            (r.id_a, r.vec_id, round(r.score, 9))
            for r in knn_join_indexed(
                spark, path, left, k=3, n_probe=n_probe
            ).collect()
        }
        assert indexed == inline, f"n_probe={n_probe}"


def test_incremental_append_against_same_centroids(spark, tmp_path):
    from dataframe_sql_spark.operators.similarity import ivf_assign_cells

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    hist = emb.filter("vec_id < 400")
    new = emb.filter("vec_id >= 400")
    path = str(tmp_path / "ivf_index")
    centroids = ivf_index_write(hist, path, "embedding", "vec_id", n_cells=8)
    # ingest: assign the new batch against the PERSISTED centroids
    # (history is never re-assigned) and append
    ivf_assign_cells(new, "embedding", centroids, cell_col="cell").write.mode(
        "append"
    ).partitionBy("cell").parquet(path)
    got = spark.read.parquet(path)
    assert got.count() == emb.count()
    # appended rows carry the same cell a full rebuild would give them
    full = ivf_assign_cells(emb, "embedding", centroids, cell_col="cell")
    diff = (
        got.select("vec_id", "cell")
        .exceptAll(full.select("vec_id", "cell"))
        .count()
    )
    assert diff == 0


# --------------------------------------------------------------------------
# k-means (Lloyd's) — operators/similarity.py::kmeans_assign
# --------------------------------------------------------------------------


def test_kmeans_separates_obvious_clusters(spark):
    import itertools

    rows = []
    vid = 0
    for cx in (0.0, 100.0):
        for dx, dy in itertools.product((-1.0, 0.0, 1.0), repeat=2):
            rows.append((vid, [cx + dx, cx + dy]))
            vid += 1
    from dataframe_sql_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_assign(df, "vec_id", "embedding", k=2, n_iters=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
    assert len(by_cluster) == 2
    groups = sorted(by_cluster.values(), key=min)
    assert groups[0] == set(range(9)) and groups[1] == set(range(9, 18))


def test_kmeans_deterministic_rerun(spark):
    from dataframe_sql_spark.operators.similarity import kmeans_assign
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {(r.vec_id, r.cluster) for r in kmeans_assign(emb, "vec_id", "embedding").collect()}
    b = {(r.vec_id, r.cluster) for r in kmeans_assign(emb, "vec_id", "embedding").collect()}
    assert a == b


def test_kmeans_iterations_reduce_inertia(spark):
    from pyspark.sql import functions as F

    from dataframe_sql_spark.operators.similarity import kmeans_assign
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def inertia(n_iters: int) -> float:
        assigned = kmeans_assign(emb, "vec_id", "embedding", k=8, n_iters=n_iters)
        v = F.col("embedding").cast("array<double>")
        # recompute exact (unrounded) centroids of the final assignment,
        # then sum of squared distances to them
        cents = (
            assigned.select("cluster", F.posexplode(v).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_c = {}
        for r in cents:
            by_c.setdefault(r.cluster, {})[r.dim] = r.m
        lit = {c: [by_c[c][d] for d in range(64)] for c in by_c}
        total = 0.0
        for c, vecs in (
            (r.cluster, r.v)
            for r in assigned.select("cluster", v.alias("v")).collect()
        ):
            total += sum((a - b) ** 2 for a, b in zip(vecs, lit[c]))
        return total

    assert inertia(3) <= inertia(1) + 1e-9


# --------------------------------------------------------------------------
# IVF-PQ composition
# --------------------------------------------------------------------------


def test_ivfpq_full_probe_recall(spark):
    from dataframe_sql_spark.operators.similarity import cosine_topk, ivfpq_topk
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [1.0] * 64
    exact = [r.vec_id for r in cosine_topk(emb, "embedding", q, k=10).collect()]
    # full probe + generous rerank: only PQ quantization error remains,
    # and the exact-cosine rerank over 200 candidates absorbs it
    approx = [
        r.vec_id
        for r in ivfpq_topk(
            emb, "embedding", q, k=10, n_cells=8, n_probe=8, rerank=200
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"full-probe IVF-PQ recall {recall}"


def test_ivfpq_partial_probe_recall_floor(spark):
    from dataframe_sql_spark.operators.similarity import cosine_topk, ivfpq_topk
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [1.0] * 64
    exact = [r.vec_id for r in cosine_topk(emb, "embedding", q, k=10).collect()]
    approx = [
        r.vec_id
        for r in ivfpq_topk(
            emb, "embedding", q, k=10, n_cells=8, n_probe=4, rerank=100
        ).collect()
    ]
    # the synthetic embeddings are near-uniform (max pairwise cosine
    # ~0.5), so cell pruning loses genuinely-spread neighbors and
    # expected recall ~ probe fraction (4/8); the floor guards against
    # a broken ADC/probe path, not against the data's geometry
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"4/8-probe IVF-PQ recall {recall}"


def test_ivfpq_indexed_parity_and_partition_pruning(spark, tmp_path):
    from dataframe_sql_spark.operators.similarity import (
        ivfpq_index_write,
        ivfpq_topk,
        ivfpq_topk_indexed,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_idx")
    ivfpq_index_write(emb, path, n_cells=8, n_sub=4, n_codes=16, dim=64)
    q = [1.0] * 64
    inline = [
        (r.vec_id, r.score)
        for r in ivfpq_topk(
            emb, "embedding", q, k=10, n_cells=8, n_probe=4, rerank=100
        ).collect()
    ]
    indexed_df = ivfpq_topk_indexed(spark, path, q, k=10, n_probe=4, rerank=100)
    indexed = [(r.vec_id, r.score) for r in indexed_df.collect()]
    # same centroids/codebooks (deterministic build) -> identical result
    assert [i for i, _ in inline] == [i for i, _ in indexed]
    # probe must prune partitions at the file listing level
    plan = plan_string(indexed_df)
    assert "PartitionFilters" in plan
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "cell" in pf_line


# --------------------------------------------------------------------------
# k-means-trained IVF build (ivf_index_write(..., centroids="kmeans"))
# --------------------------------------------------------------------------


def test_kmeans_built_index_full_probe_matches_bruteforce(spark, tmp_path):
    """Correctness must be centroid-independent: an index built with
    the distributed-k-means coarse quantizer, probed at n_probe ==
    n_cells, must return exactly the brute-force top-k (full probe
    scans every cell; the exact-cosine rerank does the rest)."""
    from dataframe_sql_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_kmeans_idx")
    ivf_index_write(emb, path, "embedding", "vec_id", n_cells=8, centroids="kmeans")
    exact = [
        (r.vec_id, round(r.score, 9))
        for r in cosine_topk(emb, "embedding", QUERY, k=10).collect()
    ]
    indexed = [
        (r.vec_id, round(r.score, 9))
        for r in ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=8).collect()
    ]
    assert exact == indexed


def test_kmeans_centroids_deterministic_and_tighter(spark):
    """The Lloyd refinement must (a) be rerun-deterministic (seedless
    md5 init + rounded means) and (b) not WORSEN the coarse quantizer:
    mean cosine of each vector to its assigned centroid is >= the
    md5-sample init's, measured on the same corpus (on clustered data
    it is strictly better; the near-uniform synthetic corpus still
    must never regress)."""
    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells,
        ivf_kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    km1 = ivf_kmeans_centroids(emb, "embedding", "vec_id", n_cells=8)
    km2 = ivf_kmeans_centroids(emb, "embedding", "vec_id", n_cells=8)
    assert km1 == km2
    sample = _ivf_centroids(emb, "embedding", "vec_id", n_cells=8)
    assert km1 != sample  # the refinement actually moved the centers

    def mean_assigned_cos(cents):
        import math

        assigned = ivf_assign_cells(emb, "embedding", cents, cell_col="__cell")
        normed = []
        for c in cents:
            n = math.sqrt(sum(x * x for x in c)) or 1.0
            normed.append([x / n for x in c])
        cl = F.lit(normed)
        v = F.col("embedding")
        vn = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        dot = F.aggregate(
            F.zip_with(v, F.element_at(cl, F.col("__cell") + 1), lambda a, b: a * b),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return assigned.select(F.avg(dot / vn).alias("m")).collect()[0].m

    assert mean_assigned_cos(km1) >= mean_assigned_cos(sample) - 1e-9


def test_kmeans_built_index_obvious_clusters(spark, tmp_path):
    """On genuinely clustered data the k-means build must put each
    blob in its own cell, so a 1-probe query only touches the right
    blob — the qualitative win the md5 sample can't guarantee."""
    import itertools

    # directionally distinct blobs (cosine assignment is scale-blind):
    # blob 0 points along e1, blob 1 along e2, each jittered +-0.1
    rows = []
    vid = 0
    for axis in (0, 1):
        for dx, dy in itertools.product((-0.1, 0.0, 0.1), repeat=2):
            base = [0.0, 0.0, dx, dy]
            base[axis] = 10.0
            rows.append((vid, base))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivf_blob_idx")
    ivf_index_write(df, path, "embedding", "vec_id", n_cells=2, centroids="kmeans")
    hit = ivf_topk_indexed(
        spark, path, [0.0, 10.0, 0.0, 0.0], k=9, n_probe=1
    ).collect()
    assert {r.vec_id for r in hit} == set(range(9, 18))


# --------------------------------------------------------------------------
# two-level (hierarchical) coarse quantizer (ivf_assign_cells_2level)
# --------------------------------------------------------------------------


def test_2level_built_index_full_probe_matches_bruteforce(spark, tmp_path):
    """Correctness never depends on the assignment: an index whose
    corpus assignment ran through the O(rows*sqrt(cells)) hierarchical
    quantizer, probed at n_probe == n_cells, must equal brute force
    exactly (every cell is scanned; the exact-cosine rerank decides)."""
    from dataframe_sql_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_2level_idx")
    ivf_index_write(emb, path, "embedding", "vec_id", n_cells=16, assign="2level")
    exact = [
        (r.vec_id, round(r.score, 9))
        for r in cosine_topk(emb, "embedding", QUERY, k=10).collect()
    ]
    indexed = [
        (r.vec_id, round(r.score, 9))
        for r in ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=16).collect()
    ]
    assert exact == indexed


def test_2level_assignment_deterministic_valid_and_mostly_flat(spark):
    """The hierarchical assignment must (a) be rerun-deterministic,
    (b) produce only valid 0-based cell ids with no nulls, and
    (c) agree with flat argmax assignment for the bulk of rows — only
    cell-boundary rows whose true cell hangs under a different
    super-cell may diverge (the documented recall trade)."""
    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells,
        ivf_assign_cells_2level,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = _ivf_centroids(emb, "embedding", "vec_id", n_cells=16)
    two = ivf_assign_cells_2level(emb, "embedding", cents, cell_col="c")
    a = {(r.vec_id, r.c) for r in two.collect()}
    b = {(r.vec_id, r.c) for r in two.collect()}
    assert a == b
    cells = {c for _, c in a}
    assert all(c is not None and 0 <= c < 16 for c in cells)
    flat = {
        (r.vec_id, r.c)
        for r in ivf_assign_cells(emb, "embedding", cents, cell_col="c").collect()
    }
    agree = len(a & flat) / len(flat)
    assert agree >= 0.5, f"2-level agreement with flat argmax only {agree:.2f}"


def test_2level_numpy_matches_expressions(spark):
    """ivf_assign_cells_2level (one numpy kernel over _score_blocks)
    must give EXACTLY the expression reference's cell, row for row, at
    16, 64 and 256 md5-sample cells, and on 4 hand-built cells whose
    second super-centroid (cell 2) is a near-copy of the first: cell 2
    scores 1.0 against both after rounding, routes to the lower super,
    and leaves its own super-cell with no routed child — so a row
    nearest that super (e2) can only reach a cell through the
    seed-cell fallback."""
    import math

    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells_2level,
    )
    from tests.sim_reference import ivf_assign_cells_2level_expr

    def cells(fn, df, cents):
        return {
            r["vec_id"]: r["__cell"]
            for r in fn(df, "v", cents).select("vec_id", "__cell").collect()
        }

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    for n_cells in (16, 64, 256):
        cents = _ivf_centroids(emb, "v", "vec_id", n_cells)
        a, b = (cells(fn, emb, cents) for fn in (ivf_assign_cells_2level_expr, ivf_assign_cells_2level))
        assert len(a) == 500 and a == b, n_cells
        assert len(set(b.values())) > 1, n_cells

    t = 5e-5
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0], [math.cos(t), math.sin(t), 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    rows = [
        (0, [0.0, 1.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 1.0, 0.0]),
        (2, [0.2, 0.9, 0.1, 0.0]),
        (3, [0.5, 0.0, 0.1, 0.9]),
        (4, [1.0, 0.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
    ]
    tiny = spark.createDataFrame(rows, "vec_id int, v array<double>")
    a, b = (cells(fn, tiny, cents) for fn in (ivf_assign_cells_2level_expr, ivf_assign_cells_2level))
    assert a == b
    assert b == {0: 2, 1: 1, 2: 2, 3: 3, 4: 0, 5: 0}


def test_ivfpq_2level_build_full_probe_recall(spark, tmp_path):
    """IVF-PQ built with the hierarchical assignment: unlike plain
    IVF (where full probe is exact regardless of assignment), PQ
    encodes RESIDUALS vs the assigned cell's centroid — a 2-level
    near-best assignment means larger residuals, so ADC ranks degrade
    slightly and a fixed rerank cut can drop a true neighbor. The
    honest contract is high-but-not-perfect recall at the same
    rerank the flat build needs for 1.0."""
    from dataframe_sql_spark.operators.similarity import (
        cosine_topk,
        ivfpq_index_write,
        ivfpq_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_2level_idx")
    ivfpq_index_write(
        emb, path, n_cells=8, n_sub=4, n_codes=16, dim=64, assign="2level"
    )
    q = [1.0] * 64
    exact = [r.vec_id for r in cosine_topk(emb, "embedding", q, k=10).collect()]
    def recall(rerank: int) -> float:
        approx = [
            r.vec_id
            for r in ivfpq_topk_indexed(
                spark, path, q, k=10, n_probe=8, rerank=rerank
            ).collect()
        ]
        return len(set(exact) & set(approx)) / 10

    # measured 0.8 at the flat build's rerank=200 on this corpus (two
    # supers over near-uniform vectors is the roughest possible
    # routing); the contract is the floor plus that the rerank knob
    # recovers exactness — at rerank=corpus the ADC cut is gone and
    # the exact-cosine rerank decides everything
    assert recall(200) >= 0.7
    assert recall(500) == 1.0


def test_kmeans_2level_recommended_combo(spark, tmp_path):
    """The documented at-scale build (SCALE.md: centroids="kmeans" +
    assign="2level" once the corpus pushes past the flat-quantizer cap)
    must hold the same correctness contract as each knob alone:
    full-probe results equal brute force EXACTLY (plain IVF reranks
    with exact cosine, so assignment quality can never change the
    full-probe answer — if this fails, the combo broke assignment
    validity, not recall), and the half-probe recall floor is pinned
    (deterministic corpus + deterministic build ⇒ this is an exact
    regression pin, not a statistical bound; measured 0.6 on the
    near-uniform sf0.001 synthetic corpus, the roughest routing case)."""
    from dataframe_sql_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_km2l_idx")
    ivf_index_write(
        emb, path, "embedding", "vec_id", n_cells=16,
        centroids="kmeans", assign="2level",
    )
    exact = [
        (r.vec_id, round(r.score, 9))
        for r in cosine_topk(emb, "embedding", QUERY, k=10).collect()
    ]
    full = [
        (r.vec_id, round(r.score, 9))
        for r in ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=16).collect()
    ]
    assert full == exact
    half_ids = {
        r.vec_id
        for r in ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=8).collect()
    }
    recall = len({v for v, _ in exact} & half_ids) / 10
    assert recall >= 0.6, f"kmeans+2level half-probe recall {recall}"


def test_ivf_ingest_soak_and_drift_trigger(spark, tmp_path):
    """Index lifecycle under ingest (SCALE.md roadmap #4): ten
    append batches interleaved with probes, each probe compared to a
    from-scratch assignment of everything ingested so far against the
    SAME frozen centroids — append-path results must be identical to a
    rebuild at every step, not just at the end. Then the drift metric:
    a batch whose distribution the centroids were never trained on
    (negated vectors — cosine is direction-based, so these are
    maximally far from every trained cell) must score a materially
    lower pre-ingest assigned cosine than an in-distribution batch,
    i.e. ivf_batch_drift actually SURFACES drift instead of recall
    decaying silently."""
    from dataframe_sql_spark.operators.similarity import (
        cosine_col,
        ivf_assign_cells,
        ivf_batch_drift,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter("vec_id < 100")
    path = str(tmp_path / "soak_idx")
    centroids = ivf_index_write(base, path, "embedding", "vec_id", n_cells=8)
    for i in range(10):
        batch = emb.filter(
            (F.col("vec_id") >= 100 + 40 * i) & (F.col("vec_id") < 140 + 40 * i)
        )
        ivf_assign_cells(batch, "embedding", centroids, cell_col="cell").write.mode(
            "append"
        ).partitionBy("cell").parquet(path)
        ingested = emb.filter(F.col("vec_id") < 140 + 40 * i)
        probe = [
            (r.vec_id, round(r.score, 9))
            for r in ivf_topk_indexed(spark, path, QUERY, k=10, n_probe=4).collect()
        ]
        # from-scratch reference: same frozen centroids, same probe
        rebuilt = ivf_assign_cells(ingested, "embedding", centroids, cell_col="cell")
        from dataframe_sql_spark.operators.similarity import _cos_py

        cells = sorted(
            range(len(centroids)), key=lambda j: (-_cos_py(QUERY, centroids[j]), j)
        )[:4]
        ref = [
            (r.vec_id, round(r.score, 9))
            for r in rebuilt.filter(F.col("cell").isin(cells))
            .select("vec_id", cosine_col(F.col("embedding"), QUERY).alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(10)
            .collect()
        ]
        assert probe == ref, f"append path diverged from rebuild at batch {i}"
    # drift metric: in-distribution batch vs negated (out-of-dist) batch
    indist = emb.filter("vec_id < 100")
    neg = indist.withColumn(
        "embedding", F.transform(F.col("embedding").cast("array<double>"), lambda x: -x)
    )
    # index-wide health surface on the fully-ingested index: occupancy
    # must account for every ingested row and the per-cell mean
    # assigned cosine must be a finite in-band number (the index-side
    # counterpart of the batch drift probe below)
    import math

    from dataframe_sql_spark.operators.similarity import ivf_index_health

    health = ivf_index_health(spark, path).collect()
    assert sum(r.n for r in health) == ingested.count()
    assert all(math.isfinite(r.mean_cos) and -1 <= r.mean_cos <= 1 for r in health)
    d_in = ivf_batch_drift(indist, "embedding", centroids)
    d_out = ivf_batch_drift(neg, "embedding", centroids)
    # near-uniform synthetic corpus -> the assigned cosine is low even
    # in-distribution (~0.24) and a negated batch still finds SOME
    # positive-ish cell among 8 near-random directions (~0.17); the
    # honest deterministic pin is the RELATIVE drop (27% measured),
    # which is exactly what a re-train trigger thresholds on
    assert d_out < 0.8 * d_in, f"drift not surfaced: in={d_in:.3f} out={d_out:.3f}"


def test_knn_join_cogrouped_matches_join_form(spark):
    """knn_join_cells_cogrouped (the kNN-join form knn_join_ivf and
    knn_join_indexed use: per-cell numpy pair scoring, vectors cross
    the Arrow boundary once per cell) must be BIT-identical — ids AND
    score doubles — to the cell equi-join + interpreted-fold reference,
    including the exclude_self path."""
    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells,
        ivf_probe_cells,
        knn_join_cells_cogrouped,
    )
    from tests.sim_reference import knn_join_cells_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = _ivf_centroids(emb, "embedding", "vec_id", 8)
    rv = ivf_assign_cells(
        emb.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").cast("array<double>").alias("__rv"),
        ),
        "__rv",
        cents,
    )
    lv = ivf_probe_cells(
        emb.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").cast("array<double>").alias("__lv"),
        ),
        "__lv",
        cents,
        3,
    )
    for excl in (False, True):
        a = (
            knn_join_cells_expr(lv, rv, 3, exclude_self=excl)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        b = (
            knn_join_cells_cogrouped(lv, rv, 3, exclude_self=excl)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        assert a.equals(b), f"exclude_self={excl}"


def test_ivfpq_numpy_build_matches_expressions(spark):
    """The numpy IVF-PQ build (_ivfpq_build) and pq_encode must be
    BIT-identical to the expression references in tests/sim_reference.py
    — centroids, codebooks, and every cell/code/unit-vector value —
    including the HALF_UP cell-score rounding, the argmax tie
    semantics and the replay pins: the default build, the pinned
    configuration sim_ann_ivfpq_verified replays (pq_round_digits=4,
    score_digits=8), k-means centroids (the reference runs its own
    Lloyd loop on the expression assigner) and 2-level assignment
    (against its expression twin, ivf_assign_cells_2level_expr)."""
    import numpy as np

    from dataframe_sql_spark.operators.similarity import (
        _ivfpq_build,
        pq_encode,
        pq_train,
    )
    from tests.sim_reference import ivfpq_build_expr, pq_encode_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for cfg in (
        {},
        {"pq_round_digits": 4, "score_digits": 8},
        {"centroid_method": "kmeans"},
        {"assign": "2level"},
    ):
        e1, c1, b1 = ivfpq_build_expr(emb, "embedding", "vec_id", 8, 4, 16, 64, **cfg)
        e2, c2, b2 = _ivfpq_build(emb, "embedding", "vec_id", 8, 4, 16, 64, **cfg)
        assert [list(map(float, c)) for c in c1] == [
            list(map(float, c)) for c in c2
        ], cfg
        assert b1 == b2, cfg
        p1 = e1.toPandas().sort_values("vec_id").reset_index(drop=True)
        p2 = e2.toPandas().sort_values("vec_id").reset_index(drop=True)
        assert list(p1.columns) == list(p2.columns), cfg
        for col in p1.columns:
            if p1[col].dtype == object:
                for x, y in zip(p1[col], p2[col]):
                    ax, ay = np.asarray(x), np.asarray(y)
                    assert ax.tobytes() == ay.tobytes(), (cfg, col)
            else:
                assert (p1[col].to_numpy() == p2[col].to_numpy()).all(), (cfg, col)

    # production (unrounded) and sim_ann_pq_verified's pinned config,
    # then books whose code 1 is code 0 shifted by 1e-12: the two score
    # within ~1e-12 of each other, so only an applied 8dp pin turns
    # them into ties that resolve to the lower code
    raw = pq_train(emb, "embedding", "vec_id", dim=64, n_sub=4, n_codes=16)
    pinned = pq_train(
        emb, "embedding", "vec_id", dim=64, n_sub=4, n_codes=16, round_digits=4
    )
    near_tie = [[b[0], [x + 1e-12 for x in b[0]], *b[2:]] for b in pinned]
    for books, digits in ((raw, None), (pinned, 8), (near_tie, 8)):
        a, b = (
            enc(emb, "embedding", books, score_digits=digits)
            .select("vec_id", "__pq")
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
            for enc in (pq_encode_expr, pq_encode)
        )
        assert (a["vec_id"] == b["vec_id"]).all()
        for x, y in zip(a["__pq"], b["__pq"]):
            assert (np.asarray(x) == np.asarray(y)).all(), digits


def test_ivf_assign_probe_numpy_match_expressions(spark):
    """ivf_assign_cells / ivf_probe_cells must produce EXACTLY the
    expression references' cell assignments and probe sets (same
    rounded scores, same tie semantics) — these feed the
    oracle-replayed probed-ANN entries, so any divergence is a
    correctness break."""
    from dataframe_sql_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_cells,
        ivf_probe_cells,
    )
    from tests.sim_reference import ivf_assign_cells_expr, ivf_probe_cells_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _ivf_centroids(emb, "v", "vec_id", 16)
    a, b = (
        {
            r["vec_id"]: r["__cell"]
            for r in fn(emb, "v", cents).select("vec_id", "__cell").collect()
        }
        for fn in (ivf_assign_cells_expr, ivf_assign_cells)
    )
    assert a == b
    pa, pb = (
        sorted(
            (r["vec_id"], r["__cell"])
            for r in fn(emb, "v", cents, 4).select("vec_id", "__cell").collect()
        )
        for fn in (ivf_probe_cells_expr, ivf_probe_cells)
    )
    assert pa == pb
