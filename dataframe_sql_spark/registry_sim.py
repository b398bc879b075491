"""Catalog entries: similarity search (brute-force/IVF/LSH/PQ top-k, kNN joins, probed-replay certificates) and embedding transforms.

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .operators.similarity import cosine_topk, ivf_topk, knn_join_ivf, lsh_topk

from .registry_common import (  # noqa: F401
    _KM_CTE,
    _QUERY_VEC,
    _QUERY_VEC_SQL,
    _emb,
    _reg,
    _sql,
)


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

_reg(
    "sim_topk",
    lambda spark, sf_dir: cosine_topk(
        _emb(spark, sf_dir), "embedding", _QUERY_VEC, k=10
    ).select("vec_id", F.round("score", 8).alias("score")),
    "SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], "
    f"{_QUERY_VEC_SQL}), 8) AS score "
    "FROM embeddings ORDER BY score DESC, vec_id LIMIT 10",
    "exact brute-force cosine top-k (TakeOrderedAndProject, no shuffle)",
)


def _knn_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two sides of the kNN-join entries: queries (``label == 0``,
    as ``id_a``) and corpus (``label != 0``, as ``id_b``)."""
    emb = _emb(spark, sf_dir)
    return (
        emb.filter(F.col("label") == 0).select(F.col("vec_id").alias("id_a"), "embedding"),
        emb.filter(F.col("label") != 0).select(F.col("vec_id").alias("id_b"), "embedding"),
    )


_reg(
    "sim_knn_join",
    # cell-keyed kNN join (knn_join_ivf): candidates come from an IVF
    # cell EQUI-join, never a cartesian product — the plan here is the
    # 100-TB plan (the brute-force all-pairs form is the pytest
    # baseline in tests/sim_reference.py::knn_join_bruteforce). Full
    # probe (n_probe == n_cells) is provably exact, so the brute-force
    # DuckDB oracle below certifies it; partial-probe recall is
    # pytest-gated (test_operators.py::test_knn_join_ivf_partial_probe).
    lambda spark, sf_dir: knn_join_ivf(
        *_knn_sides(spark, sf_dir),
        k=3,
        n_cells=16,
    ).select("id_a", "id_b", F.round("score", 8).alias("score")),
    "SELECT id_a, id_b, score FROM ("
    " SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
    "  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 8)"
    "   AS score,"
    "  row_number() OVER (PARTITION BY a.vec_id ORDER BY"
    "   list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,"
    "   b.vec_id) AS rn"
    " FROM embeddings a JOIN embeddings b ON b.label != 0"
    " WHERE a.label = 0) t WHERE rn <= 3",
    "k-NN join: 3 nearest corpus vectors per query vector via the IVF "
    "cell-keyed equi-join (exact at full probe; no cartesian product)",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "BOTH sides quadratic at this replay config: full probe over 16 "
        "fixed cells makes the ENGINE candidate volume all-pairs (exact "
        "by construction) and the brute-force oracle matches it; the "
        "100-TB form is sim_knn_join_indexed/ivf_index_write"
    ),
    scale_path=(
        "sim_knn_join_indexed / ivf_index_write (cells proportional to rows "
        "with the 4096 cap, codegen flat assignment, partition-pruned "
        "probes) — bench- and pytest-covered"
    ),
)


_reg(
    "sim_knn_join_probed",
    # PARTIAL-probe IVF kNN join, fully oracle-replayed: because the
    # centroid pick is deterministic (the 16 right vectors with
    # smallest md5(id) — _ivf_centroids), the ENTIRE approximate
    # algorithm is SQL-expressible: DuckDB re-derives the same
    # centroids, the same nearest-cell assignment (argmax cosine ==
    # argmax dot-with-normalized-centroid for a fixed vector; ties →
    # lowest cell), the same 4-of-16 probed cells per query, the same
    # cell equi-join candidates, and the same top-3 — so the hash
    # match certifies the approximate path ITSELF, not just its
    # full-probe degenerate. This closes the gap where partial-probe
    # behavior was only pytest-gated. Since round 5 both engines rank
    # cells by the normalized-centroid DOT ROUNDED to 8dp
    # (CELL_SCORE_DECIMALS; DuckDB: round(list_inner_product(v, vn), 8)
    # over SQL-normalized centroids) with a lowest-cell tiebreak, so a
    # few-ulp gap between the two engines' float folds cannot flip the
    # probe set.
    lambda spark, sf_dir: knn_join_ivf(
        *_knn_sides(spark, sf_dir),
        k=3,
        n_cells=16,
        n_probe=4,
    ).select("id_a", "id_b", F.round("score", 8).alias("score")),
    "WITH r AS (SELECT vec_id AS id_b, embedding::DOUBLE[] AS v"
    " FROM embeddings WHERE label != 0), "
    "l AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS v"
    " FROM embeddings WHERE label = 0), "
    "cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(id_b AS VARCHAR)))"
    " - 1 AS cell, v FROM (SELECT id_b, v FROM r"
    " ORDER BY md5(CAST(id_b AS VARCHAR)) LIMIT 16)), "
    "cn AS (SELECT cell, list_transform(v, x -> x / n) AS vn FROM (SELECT cell, v, CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 1 ELSE sqrt(list_inner_product(v, v)) END AS n FROM cents)), "
    "rs AS (SELECT id_b, v, cell FROM ("
    " SELECT r.id_b, r.v, c.cell, row_number() OVER (PARTITION BY r.id_b"
    "  ORDER BY round(list_inner_product(r.v, c.vn), 8) DESC, c.cell) AS rn"
    " FROM r CROSS JOIN cn c) WHERE rn = 1), "
    "lp AS (SELECT id_a, v, cell FROM ("
    " SELECT l.id_a, l.v, c.cell, row_number() OVER (PARTITION BY l.id_a"
    "  ORDER BY round(list_inner_product(l.v, c.vn), 8) DESC, c.cell) AS rn"
    " FROM l CROSS JOIN cn c) WHERE rn <= 4), "
    "cand AS (SELECT lp.id_a, rs.id_b, list_cosine_similarity(lp.v, rs.v) AS s"
    " FROM lp JOIN rs ON lp.cell = rs.cell) "
    "SELECT id_a, id_b, round(s, 8) AS score FROM ("
    " SELECT id_a, id_b, s, row_number() OVER (PARTITION BY id_a"
    "  ORDER BY s DESC, id_b) AS rn FROM cand) WHERE rn <= 3",
    "partial-probe (4/16 cells) IVF kNN join with the FULL approximate "
    "algorithm replayed in the oracle (deterministic centroids make "
    "assignment/probe/candidates SQL-expressible) — certifies the "
    "approximate path itself",
    # sf1-proven envelope (r12 100×-docs sweep catch): with 16 FIXED
    # cells, candidate volume is left_rows × n_probe × (right_rows/16)
    # — quadratic in corpus growth. At 100× (2.5M right rows) the
    # interpreted zip_with/aggregate cosine filter ran 8 cores for
    # 2h+ before the sweep was stopped (root-caused via jstack). The
    # cell count CANNOT simply scale here: the replay contract derives
    # centroids by `ORDER BY md5(id) LIMIT n`, so assignment costs
    # rows × n_cells interpreted cosines and becomes the quadratic
    # term itself beyond ~1-2k cells. This entry certifies the
    # partial-probe ALGORITHM at up to sf1 (500k vectors — proven
    # green in the r12 factor=10 sweep); the 100-TB form is
    # sim_knn_join_indexed / ivf_index_write (cells ∝ rows with the
    # 4096 cap, codegen flat assignment, partition-pruned probes),
    # bench- and pytest-covered.
    oracle_max_sf=1.0,
    max_sf_reason=(
        "ENGINE-side envelope, not oracle infeasibility: the replay "
        "contract pins 16 fixed cells, so the ENGINE pipeline's "
        "candidate volume is corpus-quadratic (interpreted-HOF cosines; "
        "8 cores for 2h+ at 100x) — the entry would hang, not just the "
        "oracle; algorithm certified through sf1/500k vectors, the "
        "100-TB path is sim_knn_join_indexed/ivf_index_write. "
        "OPTIMIZATION-FROZEN (r15 disposition): the construction IS the "
        "certificate — rounded scores, expression-path cosines, fixed "
        "cells — so changing it would re-mint the certificate, not "
        "speed it up; optimization rounds should not re-examine it"
    ),
    scale_path=(
        "sim_knn_join_indexed / ivf_index_write (cells proportional to rows "
        "with the 4096 cap, codegen flat assignment, partition-pruned "
        "probes) — bench- and pytest-covered"
    ),
)


_reg(
    "sim_ann_ivf",
    lambda spark, sf_dir: ivf_topk(
        _emb(spark, sf_dir), "embedding", _QUERY_VEC, k=10, n_cells=16, n_probe=16
    ).select("vec_id", F.round("score", 8).alias("score")),
    # full probe (n_probe == n_cells) is provably exact ⇒ same oracle as sim_topk;
    # partial-probe recall is pytest-gated (test_operators.py)
    "SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], "
    f"{_QUERY_VEC_SQL}), 8) AS score "
    "FROM embeddings ORDER BY score DESC, vec_id LIMIT 10",
    "IVF coarse-quantized ANN: probe nearest centroid cells, exact rerank inside",
)


_reg(
    "sim_ann_ivf_probed",
    # Partial-probe IVF top-k with the approximate algorithm replayed
    # in the oracle (same construction as sim_knn_join_probed: the
    # md5-deterministic centroid pick makes assignment + probe
    # SQL-expressible). The probe-cell ranking for a CONSTANT query is
    # computed driver-side in Python (ivf_topk) and in SQL by DuckDB —
    # both argmax cosine with lowest-cell tiebreak.
    lambda spark, sf_dir: ivf_topk(
        _emb(spark, sf_dir), "embedding", _QUERY_VEC, k=10, n_cells=16, n_probe=4
    ).select("vec_id", F.round("score", 8).alias("score")),
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))"
    " - 1 AS cell, v FROM (SELECT vec_id, v FROM e"
    " ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)), "
    "cn AS (SELECT cell, list_transform(v, x -> x / n) AS vn FROM (SELECT cell, v, CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 1 ELSE sqrt(list_inner_product(v, v)) END AS n FROM cents)), "
    "assigned AS (SELECT vec_id, v, cell FROM ("
    " SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id"
    "  ORDER BY round(list_inner_product(e.v, c.vn), 8) DESC, c.cell) AS rn"
    " FROM e CROSS JOIN cn c) WHERE rn = 1), "
    "probe AS (SELECT cell FROM ("
    f" SELECT cell, row_number() OVER (ORDER BY"
    f"  round(list_cosine_similarity(v, {_QUERY_VEC_SQL}), 8) DESC, cell) AS rn"
    " FROM cents) WHERE rn <= 4) "
    "SELECT vec_id, round(list_cosine_similarity(v, "
    f"{_QUERY_VEC_SQL}), 8) AS score "
    "FROM assigned WHERE cell IN (SELECT cell FROM probe) "
    "ORDER BY list_cosine_similarity(v, "
    f"{_QUERY_VEC_SQL}) DESC, vec_id LIMIT 10",
    "partial-probe (4/16) IVF ANN top-k with the approximate algorithm "
    "replayed in the oracle — certifies cell pick, assignment, and "
    "in-cell rerank, not just the full-probe degenerate",
)


def _sim_2level_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-probe IVF top-k with the corpus assigned through the
    two-level hierarchical coarse quantizer (round 8,
    `operators/similarity.py::ivf_assign_cells_2level` — the
    O(rows·√cells) build path). The oracle replays EVERY stage in
    SQL: md5 centroid pick, md5 super-centroid pick, driver-side
    cell→super routing (rounded unit-vector dots, lowest-super ties),
    per-row super argmax then child-cell argmax (rounded dots, ties
    to lowest list position ≡ lowest cell id), probe-cell ranking,
    and the exact-cosine rerank — so a hash match certifies the
    hierarchical assignment bit-for-bit, not just its full-probe
    degenerate."""
    from .operators.similarity import _ivf_centroids, _probe_topk, ivf_assign_cells_2level

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = _ivf_centroids(emb, "embedding", "vec_id", 16)
    assigned = ivf_assign_cells_2level(emb, "embedding", cents)
    return _probe_topk(
        assigned, "__cell", cents, "embedding", _QUERY_VEC, 10, "vec_id", 4
    ).select("vec_id", F.round("score", 8).alias("score"))


_reg(
    "sim_ann_ivf_2level_probed",
    _sim_2level_probed,
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))"
    " - 1 AS cell, v FROM (SELECT vec_id, v FROM e"
    " ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)), "
    "cn AS (SELECT cell, list_transform(v, x -> x / n) AS vn FROM (SELECT cell, v,"
    " CASE WHEN sqrt(list_inner_product(v,v))=0 THEN 1"
    " ELSE sqrt(list_inner_product(v,v)) END AS n FROM cents)), "
    "sup AS (SELECT cell AS super_cell, vn AS svn,"
    " row_number() OVER (ORDER BY cell) AS spos"
    " FROM (SELECT cell, vn FROM cn"
    " ORDER BY md5('s:' || CAST(cell AS VARCHAR)) LIMIT 4)), "
    "routed AS (SELECT cell, spos FROM ("
    " SELECT c.cell, s.spos, row_number() OVER (PARTITION BY c.cell"
    "  ORDER BY round(list_inner_product(c.vn, s.svn), 8) DESC, s.spos) AS rn"
    " FROM cn c CROSS JOIN sup s) WHERE rn = 1), "
    "children AS (SELECT spos, cell FROM routed UNION ALL"
    " SELECT s.spos, s.super_cell FROM sup s"
    " WHERE s.spos NOT IN (SELECT DISTINCT spos FROM routed)), "
    "rowsuper AS (SELECT vec_id, v, spos FROM ("
    " SELECT e.vec_id, e.v, s.spos, row_number() OVER (PARTITION BY e.vec_id"
    "  ORDER BY round(list_inner_product(e.v, s.svn), 8) DESC, s.spos) AS rn"
    " FROM e CROSS JOIN sup s) WHERE rn = 1), "
    "assigned AS (SELECT vec_id, v, cell FROM ("
    " SELECT r.vec_id, r.v, ch.cell, row_number() OVER (PARTITION BY r.vec_id"
    "  ORDER BY round(list_inner_product(r.v, c.vn), 8) DESC, ch.cell) AS rn"
    " FROM rowsuper r JOIN children ch ON ch.spos = r.spos"
    " JOIN cn c ON c.cell = ch.cell) WHERE rn = 1), "
    "probe AS (SELECT cell FROM ("
    f" SELECT cell, row_number() OVER (ORDER BY"
    f"  round(list_cosine_similarity(v, {_QUERY_VEC_SQL}),8) DESC, cell) AS rn"
    " FROM cents) WHERE rn <= 4) "
    f"SELECT vec_id, round(list_cosine_similarity(v, {_QUERY_VEC_SQL}), 8) AS score "
    "FROM assigned WHERE cell IN (SELECT cell FROM probe) "
    f"ORDER BY list_cosine_similarity(v, {_QUERY_VEC_SQL}) DESC, vec_id LIMIT 10",
    "partial-probe IVF top-k over a two-level-quantizer-assigned corpus "
    "with the full hierarchical assignment replayed in the oracle — the "
    "replay certificate for the O(rows·√cells) build path",
)


def _lsh_oracle_sql() -> str:
    """Full SQL replay of the production LSH entry (round 8 — this
    family was rows-only until the literal-plane trick): the
    hyperplanes are a seedless Park–Miller LCG (`_planes`), i.e. a
    deterministic 16×64 float matrix, so the oracle simply EMBEDS the
    same matrix as a literal and recomputes signature bits
    (sign of ⟨v, plane_i⟩, same left-fold summation order as Spark's
    `F.aggregate` via `list_inner_product`), hamming ranking against
    the driver-computed query signature, the rerank-100 cut
    (vec_id-tiebroken both sides), and the exact-cosine top-10.
    Residual FP risk: a dot product within ~1 ulp of 0 flipping a
    signature bit — same measure-zero class as the documented
    CELL_SCORE_DECIMALS note."""
    from .operators.similarity import _planes

    planes = _planes(64, 16, 42)
    planes_sql = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in p) + "]" for p in planes)
        + "]::DOUBLE[][]"
    )
    q_sig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(_QUERY_VEC, p)) > 0:
            q_sig |= 1 << i
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pl AS (SELECT {planes_sql} AS planes, {q_sig} AS qsig),
sig AS (
  SELECT e.vec_id, e.v,
    (SELECT sum(CASE WHEN list_inner_product(e.v, pl.planes[i]) > 0
                THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)::BIGINT
     FROM generate_series(1, 16) AS t(i)) AS s
  FROM e CROSS JOIN pl
),
cand AS (
  SELECT vec_id, v FROM (
    SELECT vec_id, v, row_number() OVER (
      ORDER BY bit_count(xor(s, (SELECT qsig FROM pl))), vec_id) AS rn
    FROM sig) WHERE rn <= 100
)
SELECT vec_id, round(list_cosine_similarity(v, {_QUERY_VEC_SQL}), 8) AS score
FROM cand
ORDER BY list_cosine_similarity(v, {_QUERY_VEC_SQL}) DESC, vec_id LIMIT 10
"""


_reg(
    "sim_ann_lsh",
    lambda spark, sf_dir: lsh_topk(
        _emb(spark, sf_dir), "embedding", _QUERY_VEC, k=10, num_bits=16, rerank=100
    ).select("vec_id", F.round("score", 8).alias("score")),
    _lsh_oracle_sql(),
    "approximate top-k via random-hyperplane LSH + exact rerank, with "
    "the LCG plane matrix embedded in the oracle so signatures, hamming "
    "ranking, rerank cut and exact rerank are all SQL-replayed "
    "(upgraded from rows-only in round 8)",
)



def _sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivfpq_topk, pq_topk

    return pq_topk(
        _emb(spark, sf_dir), "embedding", _QUERY_VEC, k=10, n_sub=8, n_codes=16,
        rerank=100,
    ).select("vec_id", F.round("score", 8).alias("score"))



def _pq_verified_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay certificate for the PQ family (round 8): the ONE piece
    that kept PQ rows-only was codebook training — solved with the
    kmeans_assign discipline (`pq_train(round_digits=4)` pins every
    Lloyd update to a 4-dp grid, so the md5-sampled numpy trajectory
    and a SQL re-execution stay bit-identical). The oracle then
    replays ALL of it: md5 sample, 5 k-means iterations per subspace
    (assignment by squared-L2 with lowest-code ties, per-dimension
    rounded means, empty codes keep their centroid), corpus encoding
    (argmax of <x,c> − ||c||²/2, first-match ties), the ADC scan
    against the query LUT, the rerank-100 cut, and the exact-cosine
    top-10. Production `sim_ann_pq` stays on unrounded books (nothing
    downstream needs replayable production books); this entry
    certifies the mechanics.

    Round-9 hardening (ADVICE r8): (a) the INIT codebook is rounded on
    both engines — an empty cluster carries its centroid forward
    through every iteration, so an unrounded init would diverge from
    the oracle's coalesce-over-rounded-cb0 the moment any init code
    captures no members; (b) the encode argmax and the ADC rerank cut
    rank on 8dp-rounded scores on both engines (score_digits=8 ↔
    round(..., 8) in the SQL), closing the two unrounded float rank
    points. Residual FP risk is the usual measure-zero grid-boundary
    class (np.round half-even vs DuckDB half-away on a value exactly
    at a 1e-4/1e-8 boundary), same as CELL_SCORE_DECIMALS."""
    from .operators.similarity import pq_topk, pq_train

    emb = _emb(spark, sf_dir)
    books = pq_train(
        emb, "embedding", "vec_id", dim=64, n_sub=4, n_codes=16, round_digits=4
    )
    return pq_topk(
        emb, "embedding", _QUERY_VEC, k=10, n_sub=4, n_codes=16,
        rerank=100, codebooks=books, score_digits=8,
    ).select("vec_id", F.round("score", 8).alias("score"))


def _pq_train_ctes(src: str, n_sub: int, n_codes: int, sub: int,
                   iters: int, sample: int = 2048) -> str:
    """CTE chain replaying ``pq_train(round_digits=4)`` over a CTE
    ``{src}(vec_id, v)``: md5 sample, per-subspace slicing, rounded
    init (``cb0`` — symmetric with the numpy side's rounded init so
    empty-code carry-forward is engine-identical), and one
    assignment/update/coalesce CTE triple per Lloyd iteration. Emits
    CTE text WITHOUT a leading WITH; the final codebook CTE is
    ``cb{iters}``. Shared by the standalone PQ certificate and the
    composed IVF-PQ certificate (which trains on residuals)."""
    parts = [f"""smp AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn, v
        FROM (SELECT vec_id, v FROM {src} ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {sample})),
subs AS (SELECT unnest(generate_series(0, {n_sub-1})) AS s),
sx AS (SELECT rn, s, v[s*{sub}+1 : s*{sub}+{sub}] AS xs FROM smp CROSS JOIN subs),
cb0 AS (SELECT s, rn - 1 AS c, list_transform(xs, x -> round(x, 4)) AS cs
        FROM sx WHERE rn <= {n_codes})"""]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(f""",
a{k} AS (SELECT rn, s, xs, c FROM (
  SELECT sx.rn, sx.s, sx.xs, cb.c, row_number() OVER (PARTITION BY sx.rn, sx.s
    ORDER BY list_inner_product(sx.xs, sx.xs) - 2*list_inner_product(sx.xs, cb.cs)
             + list_inner_product(cb.cs, cb.cs), cb.c) AS w
  FROM sx JOIN cb{p} cb ON cb.s = sx.s) WHERE w = 1),
ul{k} AS (SELECT s, c, list(m ORDER BY d) AS cs FROM (
  SELECT s, c, gs.d, round(avg(xs[gs.d]), 4) AS m
  FROM a{k} CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS d) gs
  GROUP BY s, c, gs.d) GROUP BY s, c),
cb{k} AS (SELECT p.s, p.c, coalesce(u.cs, p.cs) AS cs FROM cb{p} p
          LEFT JOIN ul{k} u ON u.s = p.s AND u.c = p.c)""")
    return "".join(parts)


def _pq_oracle_sql(n_sub: int = 4, n_codes: int = 16, sub: int = 16,
                   iters: int = 5, rerank: int = 100) -> str:
    """SQL text for the PQ replay: one CTE pair per Lloyd iteration,
    generated programmatically so the iteration count stays a
    parameter."""
    qsub_rows = ", ".join(
        f"({s}, [{', '.join(repr(float(x)) for x in _QUERY_VEC[s*sub:(s+1)*sub])}]::DOUBLE[])"
        for s in range(n_sub)
    )
    parts = ["WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"]
    parts.append(_pq_train_ctes("e", n_sub, n_codes, sub, iters))
    parts.append(f""",
qsub AS (SELECT * FROM (VALUES {qsub_rows}) AS t(s, qs)),
ex AS (SELECT vec_id, s, v[s*{sub}+1 : s*{sub}+{sub}] AS xs FROM e CROSS JOIN subs),
enc AS (SELECT vec_id, s, c FROM (
  SELECT ex.vec_id, ex.s, cb.c, row_number() OVER (PARTITION BY ex.vec_id, ex.s
    ORDER BY round(list_inner_product(ex.xs, cb.cs) - list_inner_product(cb.cs, cb.cs)/2, 8) DESC, cb.c) AS w
  FROM ex JOIN cb{iters} cb ON cb.s = ex.s) WHERE w = 1),
adc AS (SELECT enc.vec_id, sum(list_inner_product(qsub.qs, cb.cs)) AS a
        FROM enc JOIN cb{iters} cb ON cb.s = enc.s AND cb.c = enc.c
        JOIN qsub ON qsub.s = enc.s GROUP BY enc.vec_id),
cand AS (SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY round(a, 8) DESC, vec_id) AS rn2 FROM adc)
  WHERE rn2 <= {rerank})
SELECT e.vec_id, round(list_cosine_similarity(e.v, {_QUERY_VEC_SQL}), 8) AS score
FROM e WHERE e.vec_id IN (SELECT vec_id FROM cand)
ORDER BY list_cosine_similarity(e.v, {_QUERY_VEC_SQL}) DESC, e.vec_id LIMIT 10""")
    return "".join(parts)


_reg(
    "sim_ann_pq_verified",
    _pq_verified_fn,
    _pq_oracle_sql(),
    "replay certificate: PQ top-k with 4dp-pinned codebook training — "
    "md5 sample, 5 Lloyd iterations, encoding, ADC scan and exact "
    "rerank all re-executed by the SQL oracle",
)


_reg(
    "sim_ann_pq",
    _sim_pq,
    None,  # production books are unrounded (not replayable); the PQ
    # mechanics are hash-certified by sim_ann_pq_verified above and
    # recall is pytest-gated
    "product-quantization ANN: 8x16 codebooks (k-means on a bounded "
    "deterministic sample), ADC scan over literal lookup tables, exact "
    "rerank - the compressed-index scale path (n_sub bytes/vector)",
)



def _sim_recall_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall CERTIFICATE — driver-scoreable property check for the
    approximate methods whose internals aren't SQL-expressible. Each
    method's full pipeline (signatures/cells/codebooks → prune →
    rerank) runs for real; recall@10 against the exact brute-force
    top-k is computed Spark-side and compared to a per-method floor.
    The DuckDB oracle pins every flag to true, so a driver hash match
    certifies the bounds actually held — upgrading what used to be
    pytest-only gates into scored rows.

    Every configuration is DERIVED from the corpus size, never pinned
    (the round-5 cert pinned n_cells=16/n_probe=4 and its floor broke
    at sf0.1 when the corpus quadrupled under constant probe coverage):

    - IVF cells come from :func:`ivf_default_cells` (constant per-cell
      occupancy); probes are half the cells, so probe COVERAGE — the
      quantity recall tracks on a near-uniform corpus — is
      scale-invariant. Full-probe recall is 1.0 by theorem (every cell
      probed + exact rerank ⇒ the true top-k is always in the
      candidate set), so that row certifies the machinery itself,
      corpus-free.
    - LSH / PQ / IVF-PQ rerank budgets are fixed FRACTIONS of the
      corpus (n/2, n/8, n/2, with the sf≤0.01 values as floors), since
      a constant rerank over a growing corpus is a shrinking fraction
      — the exact failure mode of the old cert.

    The certificate corpus is CAPPED at a deterministic md5-ordered
    subsample of 65 536 vectors (r13 one-JVM 100× measurement: with
    corpus-derived cells the flat-assignment term is rows × cells —
    rows²/128 below the 4096-cell cap, rows × 4096 above it — and at
    200k vectors each of the five pipelines ran ~9 min uncontended, so
    the uncapped cert blows any per-entry wall while measuring nothing
    new: recall is a property of algorithm + config-DERIVATION, and the
    derivation is exercised identically on the capped corpus, where
    cells/rerank budgets re-derive from the sample size. A bounded
    evaluation set is also how recall is certified in practice — the
    property being certified does not grow with the corpus, unlike the
    operators themselves, which are covered by the indexed/2-level
    paths at scale.)

    Floors hold with margin at every shipped sf (measured recall@10,
    deterministic — no RNG anywhere): ivf_halfprobe 0.9/0.7/0.8 at
    sf0.001/0.01/0.1, ivf_fullprobe 1.0 everywhere, lsh 0.9/0.9/1.0,
    pq 0.9/0.7/1.0, ivfpq 0.9/0.9/0.8. The cap binds only above sf1
    (sf1 is 20k vectors); at 100× (200k → 64k sample) the cert is
    driver-hash GREEN in 489 s one-JVM (r13 measurement — the uncapped
    form blew an 1800 s wall on the same quiet box).
    """
    from .operators.similarity import ivf_default_cells, ivfpq_topk, pq_topk

    CERT_CAP = 65536
    # one pass, no pre-count (r13 advisor: a full corpus scan solely
    # to decide whether to subsample): the ordered limit is applied
    # unconditionally — at or below the cap it is the identity set
    # (recall aggregates are order-insensitive), above it the
    # deterministic md5-ordered subsample, and the count of the CAPPED
    # persisted frame is exactly min(n_total, CERT_CAP), which is all
    # the budget derivation below ever needed. repartition after the
    # limit: a global limit lands all CAP rows in ONE partition, which
    # would serialize every pipeline below onto one core (measured:
    # 180 s/pipeline single-task vs seconds at full width).
    emb = (
        _emb(spark, sf_dir)
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(CERT_CAP)
        .repartition("vec_id")
        .persist()
    )
    try:
        n = emb.count()
        cells = ivf_default_cells(n)
        half = max(4, cells // 2)
        rr_half = max(300, n // 2)
        rr_eighth = max(100, n // 8)
        exact = cosine_topk(emb, "embedding", _QUERY_VEC, k=10).select("vec_id")
        exact = exact.persist()

        def recall(approx: DataFrame) -> float:
            return approx.select("vec_id").join(exact, "vec_id").count() / 10.0

        rows = [
            (
                "ivf_halfprobe",
                recall(
                    ivf_topk(
                        emb, "embedding", _QUERY_VEC, k=10,
                        n_cells=cells, n_probe=half,
                    )
                ),
                0.4,
            ),
            (
                "ivf_fullprobe_exact",
                recall(
                    ivf_topk(
                        emb, "embedding", _QUERY_VEC, k=10,
                        n_cells=cells, n_probe=cells,
                    )
                ),
                1.0,
            ),
            (
                "lsh_32bit_rerank_half",
                recall(
                    lsh_topk(
                        emb, "embedding", _QUERY_VEC, k=10, num_bits=32,
                        rerank=rr_half,
                    )
                ),
                0.7,
            ),
            (
                "pq_8x16_rerank_eighth",
                recall(
                    pq_topk(
                        emb, "embedding", _QUERY_VEC, k=10, n_sub=8, n_codes=16,
                        rerank=rr_eighth,
                    )
                ),
                0.5,
            ),
            (
                "ivfpq_fullprobe_rerank_half",
                recall(
                    ivfpq_topk(
                        emb, "embedding", _QUERY_VEC, k=10, n_cells=cells,
                        n_probe=cells, rerank=rr_half,
                    )
                ),
                0.7,
            ),
        ]
        exact.unpersist()
    finally:
        emb.unpersist()
    return spark.createDataFrame(
        [(m, r >= t) for m, r, t in rows], "method string, recall_ok boolean"
    )



_reg(
    "sim_ann_recall_cert",
    _sim_recall_cert,
    "SELECT * FROM (VALUES ('ivf_halfprobe', true), ('ivf_fullprobe_exact', true), "
    "('lsh_32bit_rerank_half', true), ('pq_8x16_rerank_eighth', true), "
    "('ivfpq_fullprobe_rerank_half', true)) t(method, recall_ok)",
    "recall certificates for IVF/LSH/PQ/IVF-PQ ANN: measured recall@10 vs exact "
    "brute force must clear per-method floors (oracle pins the flags); all "
    "configs derived from corpus size — valid at any sf, no oracle_max_sf",
)



_sql(
    "emb_quantize_int8",
    # Symmetric per-vector int8 quantization: scale = max |x| (double),
    # q_i = floor(x_i / scale * 127). 4x storage reduction for ANN
    # indexes; dequantize as q * scale / 127. floor (not round) keeps
    # the op bit-identical across engines (no rounding-mode edge), and
    # float32 -> double casts are exact so the arithmetic matches.
    # Everything is a higher-order JVM expression over the array column
    # - one map-side projection, no shuffle, no UDF. The code vector is
    # serialized to a CSV string (order-preserving, not sorted - dim
    # order IS the payload): the driver's canonicalizer sorts raw
    # pandas columns and ndarray cells are unhashable (the
    # f_array_setops CORRECTNESS_r08 failure class). Embeddings are
    # 64-dim, so the string is bounded (~256 bytes).
    "select vec_id, label, scale, "
    "array_join(transform(emb_d, x -> "
    "cast(cast(floor(x / scale * 127.0) as int) as string)), ',') as q "
    "from (select vec_id, label, "
    "transform(embedding, x -> cast(x as double)) as emb_d, "
    "aggregate(embedding, cast(0.0 as double), "
    "(a, x) -> greatest(a, abs(cast(x as double)))) as scale "
    "from embeddings) t where scale > 0",
    "SELECT vec_id, label, scale, "
    "coalesce(array_to_string(list_transform(emb_d, "
    "x -> CAST(floor(x / scale * 127.0) AS INT)), ','), '') AS q "
    "FROM (SELECT vec_id, label, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d, "
    "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale "
    "FROM embeddings) t WHERE scale > 0",
    "per-vector symmetric int8 embedding quantization (scale = max "
    "abs); the storage-compression step before building a 100 TB ANN "
    "index - map-side higher-order expressions, no UDF",
)


_sql(
    "emb_standardize",
    # Per-dimension z-score whitening of the embedding corpus — the
    # feature-normalization pass before clustering / ANN training.
    # Exploded output (vec_id, dim, z) so both engines express the
    # same computation without array reconstruction; the window over
    # dim is one 64-partition shuffle. round(4) absorbs the engines'
    # different float summation orders (relative error ~1e-13 on 500
    # values). At 100 TB compute the 64 (mean, std) pairs with a
    # single agg + broadcast instead of a window: same math, and the
    # stats table is 64 rows regardless of corpus size.
    # "+ 0" canonicalizes IEEE negative zero (round can yield -0.0,
    # which hashes differently from 0.0 on the driver's value path)
    "select vec_id, dim, "
    "round((x - avg(x) over (partition by dim)) / "
    "nullif(stddev_pop(x) over (partition by dim), 0), 4) + 0 as z "
    "from (select vec_id, dim, cast(xf as double) as x "
    "from (select vec_id, posexplode(embedding) as (dim, xf) "
    "from embeddings) g) e",
    "WITH e AS (SELECT vec_id, r.range AS dim, "
    "CAST(embedding[r.range + 1] AS DOUBLE) AS x "
    "FROM embeddings, range(64) r) "
    "SELECT vec_id, dim, "
    "round((x - avg(x) OVER (PARTITION BY dim)) / "
    "nullif(stddev_pop(x) OVER (PARTITION BY dim), 0), 4) + 0 AS z FROM e",
    "per-dimension z-score standardization of embeddings (whitening "
    "before clustering/quantization); exploded (vec_id, dim, z) shape "
    "keeps the oracle exact",
)



def _emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import kmeans_assign

    return kmeans_assign(
        # pruned to the two used columns: mapInPandas ships every
        # column it is handed across the Arrow boundary (guide §4.1)
        _emb(spark, sf_dir).select("vec_id", "embedding"),
        "vec_id",
        "embedding",
        k=8,
        n_iters=2,
    ).select("vec_id", "cluster")



_reg(
    "emb_kmeans",
    _emb_kmeans,
    "WITH " + _KM_CTE + " SELECT vec_id, c AS cluster FROM a2",
    "Lloyd's k-means (k=8, 2 iterations, deterministic min-id init, "
    "4dp-rounded centroids) — the oracle replays the exact trajectory "
    "in SQL, certifying every assignment",
)



_reg(
    "sim_ann_ivfpq",
    # Production configuration stays rows-only (unrounded books/scores
    # are not replayable); the composition's mechanics are hash-
    # certified end-to-end by sim_ann_ivfpq_verified below, and recall
    # floors are pytest-gated (tests/test_ann_index.py::test_ivfpq_*;
    # full probe held to >= 0.9 recall vs exact).
    lambda spark, sf_dir: __import__(
        "dataframe_sql_spark.operators.similarity", fromlist=["ivfpq_topk"]
    ).ivfpq_topk(
        _emb(spark, sf_dir), "embedding", _QUERY_VEC, k=10,
        n_cells=8, n_probe=4, rerank=100,
    ),
    None,
    "IVF-PQ ANN (coarse cells + residual product quantization, "
    "per-cell ADC LUTs, exact-cosine rerank) — the billion-scale "
    "index composition; recall pytest-gated",
)


def _ivfpq_verified_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed replay certificate for IVF-PQ (round 9, VERDICT r8 #5):
    every mechanism in the composition now has its own bit-exact
    replay cert (IVF assignment — sim_knn_join_probed/sim_ann_ivf_
    probed; PQ training/encode/ADC — sim_ann_pq_verified), so this
    entry certifies the COMPOSITION itself: L2-normalize, md5 centroid
    pick, pinned coarse assignment (8dp dots, lowest-cell ties),
    residual computation v̂ − centroid[cell], 4dp-pinned residual
    codebook training, 8dp-pinned residual encode, per-probed-cell
    query-residual LUTs, 8dp-pinned ADC rerank cut, exact-cosine
    top-10. The oracle replays the whole pipeline in generated SQL
    (the PQ Lloyd chain is shared with sim_ann_pq_verified via
    _pq_train_ctes, retargeted at the residual CTE). Production
    sim_ann_ivfpq stays unrounded/rows-only."""
    from .operators.similarity import _ivfpq_build, _ivfpq_scan

    emb = _emb(spark, sf_dir)
    encoded, cents, books = _ivfpq_build(
        emb, "embedding", "vec_id", n_cells=16, n_sub=4, n_codes=16,
        dim=64, pq_round_digits=4, score_digits=8,
    )
    return _ivfpq_scan(
        encoded, cents, books, _QUERY_VEC, 10, "vec_id", "embedding",
        n_probe=4, rerank=100, score_digits=8,
    ).select("vec_id", F.round("score", 8).alias("score"))


def _ivfpq_oracle_sql(n_cells: int = 16, n_probe: int = 4, n_sub: int = 4,
                      n_codes: int = 16, dim: int = 64, iters: int = 5,
                      rerank: int = 100, k: int = 10) -> str:
    """Generated SQL replaying the full pinned IVF-PQ pipeline: the
    normalize/pick/assign CTEs mirror sim_ann_ivf_probed, the Lloyd
    chain is _pq_train_ctes over the residual CTE, and the scan
    expands each LUT entry |q_s − c_s|² as |q_s|² − 2⟨q_s,c_s⟩ +
    |c_s|² (FP association differs from the Python direct sum; the 8dp
    round on the ADC total absorbs it, same accepted grid-boundary
    class as CELL_SCORE_DECIMALS)."""
    from .operators.similarity import _normed

    sub = dim // n_sub
    # the query normalizes exactly: 64 ones -> norm 8.0 -> 0.125/dim
    qn_sql = "[" + ", ".join(repr(x) for x in _normed(_QUERY_VEC)) + "]::DOUBLE[]"
    head = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vn AS (SELECT vec_id, v, list_transform(v, x -> x / n) AS u
       FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS n FROM e)),
cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell, u AS cv
          FROM (SELECT vec_id, u FROM vn ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_cells})),
cn AS (SELECT cell, cv, list_transform(cv, x -> x / n) AS cnn
       FROM (SELECT cell, cv, CASE WHEN sqrt(list_inner_product(cv, cv)) = 0 THEN 1
             ELSE sqrt(list_inner_product(cv, cv)) END AS n FROM cents)),
assigned AS (SELECT vec_id, v, u, cell FROM (
  SELECT t.vec_id, t.v, t.u, c.cell, row_number() OVER (PARTITION BY t.vec_id
    ORDER BY round(list_inner_product(t.u, c.cnn), 8) DESC, c.cell) AS rnw
  FROM vn t CROSS JOIN cn c) WHERE rnw = 1),
res AS (SELECT a.vec_id, a.v, a.cell,
        list_transform(range(1, {dim + 1}), i -> a.u[i] - c.cv[i]) AS r
        FROM assigned a JOIN cents c ON c.cell = a.cell),
pqsrc AS (SELECT vec_id, r AS v FROM res),
"""
    train = _pq_train_ctes("pqsrc", n_sub, n_codes, sub, iters)
    tail = f""",
ex AS (SELECT vec_id, cell, s, r[s*{sub}+1 : s*{sub}+{sub}] AS xs FROM res CROSS JOIN subs),
enc AS (SELECT vec_id, cell, s, c FROM (
  SELECT ex.vec_id, ex.cell, ex.s, cb.c, row_number() OVER (PARTITION BY ex.vec_id, ex.s
    ORDER BY round(list_inner_product(ex.xs, cb.cs) - list_inner_product(cb.cs, cb.cs)/2, 8) DESC, cb.c) AS rnw
  FROM ex JOIN cb{iters} cb ON cb.s = ex.s) WHERE rnw = 1),
probe AS (SELECT cell FROM (
  SELECT cell, row_number() OVER (ORDER BY
    round(list_cosine_similarity(cv, {_QUERY_VEC_SQL}), 8) DESC, cell) AS rnw
  FROM cents) WHERE rnw <= {n_probe}),
qr AS (SELECT cell, list_transform(range(1, {dim + 1}), i -> ({qn_sql})[i] - cv[i]) AS qres
       FROM cents WHERE cell IN (SELECT cell FROM probe)),
qrs AS (SELECT cell, s, qres[s*{sub}+1 : s*{sub}+{sub}] AS qs FROM qr CROSS JOIN subs),
adc AS (SELECT enc.vec_id, sum(list_inner_product(qrs.qs, qrs.qs)
         - 2*list_inner_product(qrs.qs, cb.cs)
         + list_inner_product(cb.cs, cb.cs)) AS a
        FROM enc JOIN cb{iters} cb ON cb.s = enc.s AND cb.c = enc.c
        JOIN qrs ON qrs.cell = enc.cell AND qrs.s = enc.s
        GROUP BY enc.vec_id),
cand AS (SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY round(a, 8) ASC, vec_id) AS rn2 FROM adc)
  WHERE rn2 <= {rerank})
SELECT e.vec_id, round(list_cosine_similarity(e.v, {_QUERY_VEC_SQL}), 8) AS score
FROM e WHERE e.vec_id IN (SELECT vec_id FROM cand)
ORDER BY list_cosine_similarity(e.v, {_QUERY_VEC_SQL}) DESC, e.vec_id LIMIT {k}"""
    return head + train + tail


_reg(
    "sim_ann_ivfpq_verified",
    _ivfpq_verified_fn,
    _ivfpq_oracle_sql(),
    "composed replay certificate: the full IVF-PQ pipeline — "
    "normalize, coarse assign, residual PQ training/encode, per-cell "
    "ADC, rerank — re-executed end-to-end by the SQL oracle with "
    "every rank key pinned to a fixed decimal grid",
    # r13 one-JVM 100× measurement: the DuckDB replay materializes
    # several corpus×dim CTEs (residuals, per-subvector slices, encode
    # joins) and at 200k vectors spilled past 79 GB of free disk before
    # dying ENOSPC at wall 1055 s — the oracle is the bounded side.
    # The ENGINE pipeline is 100×-clean (sim_ann_ivfpq, same plan
    # unrounded, 96 s rows-only in the r12 bisect).
    oracle_max_sf=1.0,
    max_sf_reason=(
        "oracle-side: the end-to-end DuckDB replay spills corpus-by-dim "
        "residual/encode CTEs (>79 GB, ENOSPC at 200k vectors / 100x); "
        "the engine pipeline itself ran 100x-clean (sim_ann_ivfpq 96 s)"
    ),
    scale_path=(
        "sim_ann_ivfpq raw pipeline (same plan unrounded) — rows-only, "
        "100x-clean in 96 s (SCALE.md r12 bisect)"
    ),
)
