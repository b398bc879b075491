"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json): brute-force cosine top-k as the
exact baseline, and a random-hyperplane LSH variant as the scale path.

Scale design:
- brute-force: one map-side projection per row (zip_with dot product
  in codegen) + TakeOrderedAndProject top-k — no shuffle of vectors,
  only k rows reach the driver. Exact, O(n·d); right up to ~10^8 rows
  per query batch.
- LSH: signatures are computed map-side from a broadcast plane matrix;
  candidates come from hamming-ranked buckets so only a small rerank
  set pays the exact-cosine cost. Approximate, sublinear candidate
  cost; the 100 TB path (also the basis of an IVF-style variant:
  partition by signature prefix = coarse cell).
- knn join: an equi-join on IVF cells (never a cartesian product),
  each cell's pairs scored in one numpy kernel; per-row top-k via
  window. The brute-force cross join is the pytest reference in
  tests/sim_reference.py.

Every numpy kernel here replicates the interpreted expression fold
bit-for-bit through one helper per idiom: :func:`_fold_dots` (dot
products), :func:`_fold_norms` (row norms), :func:`_row_blocks`
(~32 MB product blocks), :func:`_cosine_blocks` (blocked pairwise
cosines), :func:`_md5_sample` (the seedless build sample) and
:func:`_lloyd_means` (one distributed Lloyd update); the expression
side is :func:`_dot_col` / :func:`_norm_col` / :func:`_cosine_cols`.
``operators/dedup.py``'s pair kernel reuses them. Row-batch kernels
cross Arrow through ``scalars.map_batches``.

ANN queries share one helper per step: the exact rerank
:func:`cosine_topk`, the probe set :func:`_rank_cells`, the kNN probe
side :func:`_probe_side`, and an index's side files
(:func:`_write_index` / :func:`_read_meta`).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F, types as T

from ..functions.npsig import round_half_up_np
from .scalars import _fan_out, _stack_vectors, const_array, map_batches

__all__ = [
    "cosine_col",
    "cosine_topk",
    "lsh_signature_col",
    "lsh_topk",
    "ivf_default_cells",
    "ivf_assign_cells",
    "ivf_assign_cells_2level",
    "ivf_topk",
    "ivf_index_write",
    "ivf_kmeans_centroids",
    "ivf_topk_indexed",
    "ivf_probe_cells",
    "knn_join_ivf",
    "knn_join_indexed",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
    "ivfpq_index_write",
    "ivfpq_topk_indexed",
    "kmeans_assign",
]

# PQ training sample size: pq_train's default and the row count of the
# IVF-PQ build's fused centroid+sample collect (_ivfpq_build). The SQL
# replay certificates (_pq_train_ctes) sample the same count.
PQ_TRAIN_SAMPLE = 2048


def cosine_col(vec: Column, query: list[float]) -> Column:
    """Cosine similarity of an array column against a constant query
    vector, as a single codegen'd expression (no UDF). The query enters
    as ONE plan node (:func:`~.scalars.const_array`), not ``dim``
    literal children: per-query cost is dominated by driver-side plan
    analysis (same pattern throughout this module)."""
    q_norm = math.sqrt(sum(x * x for x in query)) or 1.0
    q = const_array(query, "double")
    v = vec.cast("array<double>")
    return _dot_col(v, q) / (_norm_col(v) * F.lit(q_norm))


def _dot_col(v: Column, c: Column) -> Column:
    """Interpreted sequential-fold dot: ``aggregate(zip_with(v, c, *), 0.0, +)``."""
    return F.aggregate(F.zip_with(v, c, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)


def _norm_col(v: Column) -> Column:
    """L2 norm of an array<double> column as the sequential fold of
    squares (the expression :func:`_fold_norms` replicates)."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine_cols(a: Column, b: Column) -> Column:
    """Cosine between two array<double> COLUMNS (e.g. each row's own
    cell centroid): the fold dot over the two fold norms."""
    return _dot_col(a, b) / (_norm_col(a) * _norm_col(b))


def cosine_topk(
    df: DataFrame, vec_col: str, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine: ORDER BY score LIMIT k compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of k·p
    rows — no global sort shuffle). id tiebreak keeps it deterministic."""
    return (
        df.select(F.col(id_col), cosine_col(F.col(vec_col), query).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _planes(dim: int, num_bits: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes (LCG, no numpy dependency in
    the hot path; generated once on the driver, broadcast as literals)."""
    state = seed & 0x7FFFFFFF
    out: list[list[float]] = []
    for _ in range(num_bits):
        row = []
        for _ in range(dim):
            # Park–Miller LCG → uniform(-1, 1)
            state = (state * 48271) % 2147483647
            row.append(state / 2147483647.0 * 2.0 - 1.0)
        out.append(row)
    return out


def lsh_signature_col(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature as a BIGINT (≤63 bits): bit i = sign
    of <vec, plane_i>. Pure expression — the plane matrix enters as one
    nested-array literal zipped against a power-of-two weight array
    (plan stays ~constant-size in num_bits; same dot products in the
    same order as the per-plane unrolled form, bit-identical output)."""
    v = vec.cast("array<double>")
    planes_lit = const_array(planes, "array<double>")
    pow2_lit = const_array([1 << i for i in range(len(planes))], "bigint")
    bits = F.zip_with(
        planes_lit,
        pow2_lit,
        lambda plane, p2: F.when(_dot_col(v, plane) > 0, p2.cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    num_bits: int = 16,
    rerank: int = 200,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: rank by hamming(signature, query_signature),
    keep ``rerank`` nearest buckets' members, then exact-cosine rerank.

    At 100 TB the signature column is precomputed/persisted and the
    hamming filter prunes partitions; here it's computed inline.
    """
    dim = len(query)
    planes = _planes(dim, num_bits, seed)
    q_sig = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query, plane)) > 0:
            q_sig |= 1 << i
    sig = lsh_signature_col(F.col(vec_col), planes)
    candidates = (
        df.withColumn("__sig", sig)
        .withColumn("__ham", F.bit_count(F.col("__sig").bitwiseXOR(F.lit(q_sig))))
        .orderBy(F.asc("__ham"), F.asc(id_col))
        .limit(rerank)
    )
    return cosine_topk(candidates, vec_col, query, k, id_col)


# Rows per cell the default sizing aims for. 128 balances the two cost
# terms at their round-4-calibrated ratio: per-call assignment/probe
# ranking costs N·cells (fewer cells = cheaper build; this constant
# reproduces the measured build curve in SCALE.md), while candidate
# volume per probe row is n_probe·occupancy (bounded at 4·128 = 512
# scored candidates per query at the default probe). An occupancy-32
# variant measured 2.7× slower end-to-end at stress scale 4 for no
# recall gain on this corpus.
IVF_TARGET_OCCUPANCY = 128

# Cell-score precision pin: both engines rank cells by the
# normalized-centroid dot product ROUNDED to this many decimals (with
# a deterministic lowest-cell tiebreak), so a few-ulp float divergence
# between Spark's fold and the oracle's list_inner_product cannot flip
# a near-tie and cascade into a different probe set / assignment.
# (Driver-side CONSTANT-query rankings use the rounded cosine instead
# — for one fixed query the two orders agree, and the oracle side
# mirrors whichever expression each path uses.) Residual risk: a true
# score within ~1e-8 of a rounding boundary (and the engines' half-way
# rounding modes differ: Spark/DuckDB round half away from zero,
# Python round() half-to-even) — measure-zero for real-valued scores.
CELL_SCORE_DECIMALS = 8


def ivf_default_cells(n_rows: int, occupancy: int = IVF_TARGET_OCCUPANCY) -> int:
    """Scale-correct IVF cell count: cells ∝ corpus size at a fixed
    per-cell occupancy target, so candidate volume per probe row
    (n_probe · occupancy) stays CONSTANT as the corpus grows — the
    linear configuration measured in tools/scale_stress.py::
    op_knn_join_ivf (a fixed n_cells silently degrades to quadratic
    occupancy, slope ≈2; a fixed n_probe/n_cells RATIO keeps the
    probed FRACTION constant, also quadratic).

    Integer ceiling math (``(n + occ - 1) // occ``) so a SQL oracle
    replays the exact same count. Clamped to [16, 4096]: the floor
    keeps tiny corpora meaningfully partitioned, the cap bounds the
    centroid literal / driver collect (4096·dim floats) — beyond that
    a hierarchical coarse quantizer is the right tool, not more flat
    cells."""
    return max(16, min(4096, (n_rows + occupancy - 1) // occupancy))


def _cos_py(q: list[float], c: list[float]) -> float:
    """Driver-side cosine, rounded to the same pinned precision the
    in-plan cell scoring uses (cross-engine near-tie stability)."""
    dot = sum(a * b for a, b in zip(q, c))
    nq = math.sqrt(sum(a * a for a in q)) or 1.0
    nc = math.sqrt(sum(b * b for b in c)) or 1.0
    return round(dot / (nq * nc), CELL_SCORE_DECIMALS)


def _rank_cells(query: list[float], centroids: list[list[float]], n_probe: int) -> list[int]:
    """The ``n_probe`` cells nearest a constant query: driver-side
    ranking by the pinned rounded cosine (:func:`_cos_py`), ties to
    the lowest cell. The probe set of every IVF query."""
    return sorted(
        range(len(centroids)), key=lambda i: (-_cos_py(query, centroids[i]), i)
    )[:n_probe]


def _probe_topk(cells, cell_col, centroids, vec_col, query, k, id_col, n_probe) -> DataFrame:
    """IVF top-k over a frame whose rows carry their cell in
    ``cell_col`` (assigned in the plan or read from an index): keep the
    :func:`_rank_cells` probe set — a codegen predicate, and a
    partition filter on an index — then the exact :func:`cosine_topk`."""
    probe = _rank_cells(query, centroids, n_probe)
    return cosine_topk(cells.filter(F.col(cell_col).isin(probe)), vec_col, query, k, id_col)


def _ivf_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int
) -> list[list[float]]:
    """Deterministic centroid pick: the ``n_cells`` vectors with the
    smallest ``md5(id)`` — a seedless uniform sample that every rerun
    (and every engine) reproduces. Only n_cells·dim floats ever reach
    the driver; at 100 TB this is the precomputed index-build step
    (replace with distributed k-means there; the probe path is
    unchanged)."""
    return [list(r.v) for r in _md5_sample(df, vec_col, id_col, n_cells)]


def _md5_sample(df: DataFrame, vec_col: str, id_col: str, n: int, *extra: str) -> list:
    """The ``n`` rows with the smallest ``md5(id)`` as (id, ``v`` =
    the vector as array<double>, ``extra`` columns): the seedless
    sample every index build draws, one bounded TakeOrdered collect."""
    return (
        df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("v"),
            *[F.col(c) for c in extra],
        )
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n)
        .collect()
    )


def ivf_kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    n_iters: int = 3,
    round_digits: int = 4,
    train_occupancy: int = 256,
) -> list[list[float]]:
    """Distributed spherical-k-means refinement of the md5-sample
    centroid init — the 100 TB index-build path the md5 sample's own
    docstring promises (this closes that gap; the probe path is
    untouched).

    Each Lloyd iteration is fully distributed: one numpy assignment
    pass (:func:`ivf_assign_cells` — max rounded dot against the
    centroid matrix) followed by a ``posexplode`` +
    partial-aggregated per-(cell, dim) mean — the shuffle carries only
    n_cells·dim keys after map-side combine, and the ONLY driver
    materialization per iteration is the n_cells·dim updated means
    (same bound as the init itself). Determinism discipline matches
    :func:`kmeans_assign`: seedless md5 init, means rounded to
    ``round_digits`` so the centroid literals are bit-stable across
    reruns and engines, assignment ties break to the lowest cell.

    Cells that go empty in an iteration KEEP their previous centroid,
    so the list length — and therefore the persisted index's 0-based
    cell-id space and partition layout — is invariant across
    iterations.

    Training is SAMPLE-BOUNDED: each refinement pass assigns
    ~``train_occupancy`` rows per cell (a deterministic md5-coin
    sample, the repo's engine-portable RNG), not the whole corpus.
    Full-corpus refinement would cost rows·n_cells dot products per
    iteration, and with ``ivf_default_cells`` growing cells ∝ rows
    that is quadratic below the cell cap — measured log-log slope
    1.79 at 1×/4×/16× (SCALE.md). The sample pins training cost at
    ~train_occupancy·n_cells² regardless of corpus size (the standard
    coarse-quantizer discipline, cf. FAISS's per-centroid training
    caps), leaving the single unavoidable rows·n_cells assignment to
    the index writer. Small corpora (≤ the cap) train on everything —
    unchanged behavior, so small-data tests and replay fixtures are
    unaffected.
    """
    cents = _ivf_centroids(df, vec_col, id_col, n_cells)
    n_rows = df.count()
    cap = train_occupancy * n_cells
    if n_rows > cap:
        coin = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":ivfkm"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(4294967296.0)
        )
        train = df.filter(coin < F.lit(cap / n_rows))
    else:
        train = df
    for _ in range(max(0, n_iters - 1)):
        # input pruned to the vector column: mapInPandas ships every
        # column it is handed
        means = _lloyd_means(
            ivf_assign_cells(train.select(F.col(vec_col)), vec_col, cents),
            "__cell",
            vec_col,
            round_digits,
        )
        cents = [means.get(c, cents[c]) for c in range(len(cents))]
    return cents


def _lloyd_means(
    assigned: DataFrame, cell_col: str, vec_col: str, round_digits: int
) -> dict[int, list[float]]:
    """One Lloyd update: ``{cell: mean vector}`` over the rows of
    ``assigned`` (a vector column plus its ``cell_col``), each
    coordinate the ``posexplode`` + per-(cell, dim) ``avg`` rounded to
    ``round_digits``. The shuffle carries only cells·dim keys after
    map-side combine, and the cells·dim means are the only driver
    collect. Cells without rows are absent: the caller decides whether
    an empty cell keeps its old centroid or drops out."""
    upd = (
        assigned.select(
            F.col(cell_col),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("__dim", "__x"),
        )
        .groupBy(cell_col, "__dim")
        .agg(F.round(F.avg("__x"), round_digits).alias("__m"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in upd:
        by_cell.setdefault(r[0], {})[r[1]] = r[2]
    return {c: [m[d] for d in range(len(m))] for c, m in by_cell.items()}


def _normed(c: list[float]) -> list[float]:
    """``c / |c|`` (a zero vector stays zero): driver-side centroid
    normalization, so each cell score is one dot product."""
    n = math.sqrt(sum(x * x for x in c)) or 1.0
    return [x / n for x in c]


def _f64_order_key(x):
    """Monotone int64 key replicating java.lang.Double.compare ordering
    (including -0.0 < 0.0 and NaN greatest) so numpy arg-reductions
    order doubles exactly as the JVM does."""
    b = np.ascontiguousarray(x, np.float64).view(np.int64)
    return np.where(b < 0, b ^ np.int64(0x7FFFFFFFFFFFFFFF), b)


def _argmax(S):
    """Row-wise ``array_position(s, array_max(s)) - 1``: Spark's double
    ordering (NaN greatest; ``+ 0.0`` folds -0.0 into 0.0, which the
    SQL ordering treats as equal), ties to the lowest index."""
    return np.argmax(_f64_order_key(S + 0.0), axis=1)


def _fold_dots(V, M, seed=None):
    """(len(V), len(M)) dot products of every row of ``V`` with every
    row of ``M``, replicating ``aggregate(zip_with(v, m, *), seed, +)``
    bit-for-bit: elementwise products, then a strictly sequential left
    fold (numpy ``cumsum``). Without ``seed`` the fold starts at 0.0,
    which the trailing ``+ 0.0`` mirrors (zero sign); a ``seed`` (one
    start value per row of ``M``) is prepended to the fold."""
    prods = V[:, None, :] * M[None, :, :]
    if seed is None:
        return np.cumsum(prods, axis=2)[:, :, -1] + 0.0
    start = np.broadcast_to(seed[None, :, None], (len(V), len(M), 1))
    return np.cumsum(np.concatenate([start, prods], axis=2), axis=2)[:, :, -1]


def _fold_norms(V):
    """Row L2 norms replicating ``sqrt(aggregate(v, 0.0, acc + x*x))``
    (:func:`_norm_col`) bit-for-bit: a sequential fold of squares (the
    squares are +0.0 or positive, so no zero-sign edge)."""
    return np.sqrt(np.cumsum(V * V, axis=1)[:, -1] + 0.0)


def _row_blocks(n: int, M):
    """Row slices of an ``n``-row matrix scored against every row of
    ``M``: each block's (rows, len(M), dim) float64 products stay
    ~32 MB at any batch size."""
    step = max(1, (4 << 20) // max(1, M.size))
    for s in range(0, n, step):
        yield slice(s, s + step)


def _cosine_blocks(A, B):
    """``(rows, cos)`` per :func:`_row_blocks` slice of ``A``: the
    cosines of those rows with every row of ``B``, replicating the
    interpreted cosine fold bit-for-bit — :func:`_fold_dots` divided
    by the product of the :func:`_fold_norms` of both sides."""
    an = _fold_norms(A)
    bn = _fold_norms(B)
    for rows in _row_blocks(len(A), B):
        yield rows, _fold_dots(A[rows], B) / (an[rows, None] * bn[None, :])


def _score_blocks(V, M, reduce, digits: int | None = None, seed=None):
    """The one rule by which a vector is scored against a centroid or
    codebook matrix: :func:`_fold_dots`, HALF_UP-rounded to ``digits``
    when given (Spark's ``round`` — npsig.round_half_up_np), then
    ``reduce`` (an argmax or top-n over each row's scores), over
    :func:`_row_blocks`; returns the reduced blocks concatenated."""
    out = []
    for rows in _row_blocks(len(V), M):
        S = _fold_dots(V[rows], M, seed)
        out.append(reduce(S if digits is None else round_half_up_np(S, digits)))
    return np.concatenate(out)


def _flat_cells(centroids: list[list[float]]):
    """The flat quantizer as a row-batch kernel: ``V`` → each row's
    best cell by the rounded normalized-centroid dot
    (:func:`_score_blocks`), ties to the lowest cell."""
    cn = np.array([_normed(c) for c in centroids], np.float64)
    return lambda V: _score_blocks(V, cn, _argmax, CELL_SCORE_DECIMALS)


def _two_level_cells(centroids: list[list[float]]):
    """The two-level quantizer as a row-batch kernel (see
    :func:`ivf_assign_cells_2level`): ``V`` → each row's best child
    cell of its best super-cell, every level scored by
    :func:`_score_blocks`."""
    n_cells = len(centroids)
    n_super = max(1, math.isqrt(n_cells))
    # deterministic super-centroid pick: smallest md5("s:<cell idx>")
    order = sorted(
        range(n_cells), key=lambda i: hashlib.md5(f"s:{i}".encode()).hexdigest()
    )
    super_ids = sorted(order[:n_super])
    cn = np.array([_normed(c) for c in centroids], np.float64)
    supers = cn[super_ids]
    route = _score_blocks(cn, supers, _argmax, CELL_SCORE_DECIMALS)
    # a super-cell no cell routes to keeps its own seed cell as its one
    # child, so every super-cell resolves (the seed stays reachable via
    # its true super too — duplicate membership only widens the search)
    children = [np.flatnonzero(route == s) for s in range(n_super)]
    children = [k if len(k) else np.array([super_ids[s]]) for s, k in enumerate(children)]

    def cells(V):
        sup = _score_blocks(V, supers, _argmax, CELL_SCORE_DECIMALS)
        out = np.empty(len(V), np.int64)
        for s, kids in enumerate(children):
            rows = np.flatnonzero(sup == s)
            if len(rows):
                out[rows] = kids[_score_blocks(V[rows], cn[kids], _argmax, CELL_SCORE_DECIMALS)]
        return out

    return cells


def _with_cells(df: DataFrame, vec_col: str, cells, cell_col: str) -> DataFrame:
    """``df`` plus ``cell_col``: the cell kernel ``cells``
    (:func:`_flat_cells` / :func:`_two_level_cells`) over each Arrow
    batch of ``vec_col`` — one numpy pass, no shuffle."""

    def assign(pdf, V):
        return pdf.assign(**{cell_col: cells(V).astype(np.int32)})

    return map_batches(df, f"`{cell_col}` int", assign, vec_col)


def ivf_assign_cells(
    df: DataFrame, vec_col: str, centroids: list[list[float]], cell_col: str = "__cell"
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) in one
    numpy ``mapInPandas`` pass — no shuffle. At scale the result is
    persisted partitioned by cell so probes prune partitions.

    argmax_c cos(v, c) == argmax_c dot(v, c / |c|): the row norm is a
    positive constant across cells, so centroids are normalized
    driver-side and each cell costs one dot product — no per-row norm
    or sqrt at all (~2× less arithmetic than cosine per cell; an
    earlier round-5 variant scored the full cosine per cell and
    measured 2.2× slower end-to-end on the IVF-PQ build). Each cell's
    score is that dot ROUNDED to :data:`CELL_SCORE_DECIMALS` — the
    pinned precision a SQL oracle reproduces exactly with
    ``round(list_inner_product(v, c_normalized), 8)`` (normalizing the
    centroid in SQL), so near-ulp float divergence between the two
    engines cannot flip a near-tie assignment; rounded ties break to
    the lowest cell on both sides (scoring rule: :func:`_score_blocks`)."""
    return _with_cells(df, vec_col, _flat_cells(centroids), cell_col)


def ivf_probe_cells(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int,
    cell_col: str = "__cell",
) -> DataFrame:
    """Per-row top-``n_probe`` nearest centroid cells, EXPLODED to one
    row per (row, probed cell) — the query-side assignment of the
    cell-keyed kNN join (:func:`knn_join_ivf`).

    Cell scores are the same rounded normalized-centroid dots
    :func:`ivf_assign_cells` uses, so an oracle's
    ``round(list_inner_product(v, c_normalized), 8)`` ranking replays
    the probe set exactly (near-ties cannot flip across engines);
    higher score first, lower cell id on ties."""
    cn = np.array([_normed(c) for c in centroids], np.float64)
    keep = min(n_probe, len(cn))

    def top_cells(S):
        # stable argsort of -S == score desc, lower cell on ties
        # (-0.0 and 0.0 compare equal, as in Spark's double ordering)
        return np.argsort(-S, axis=1, kind="stable")[:, :keep]

    def probe(pdf, V):
        cells = _score_blocks(V, cn, top_cells, CELL_SCORE_DECIMALS)
        rep, _ = _fan_out(pdf, keep)
        return rep.assign(**{cell_col: cells.reshape(-1).astype(np.int32)})

    return map_batches(df, f"`{cell_col}` int", probe, vec_col)


def ivf_assign_cells_2level(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    cell_col: str = "__cell",
) -> DataFrame:
    """Two-level (hierarchical) coarse-quantizer assignment: the
    O(rows·√cells) answer to flat assignment's O(rows·cells) — the
    "next rung" SCALE.md's round-8 slope analysis names. Flat
    assignment with `ivf_default_cells` growing cells ∝ rows costs
    rows²/occupancy below the 4096-cell cap (measured log-log slope
    1.77) and rows·4096 above it; this path costs rows·~2√cells
    everywhere (slope ~1.5 pre-cap, 32× fewer dot products per row at
    the cap).

    Construction (driver-side over the ≤4096·dim centroid matrix, then
    one numpy pass per row batch — no shuffle):

    - √C super-centroids picked deterministically from the cell
      centroids (smallest md5 of the cell index — the same seedless
      discipline as `_ivf_centroids`), then each CELL is routed to its
      nearest super-centroid, giving a children table
      ``super → [cell ids]``;
    - per row: argmax rounded-dot over the √C super-centroids, then
      argmax rounded-dot over that super-cell's children only, ties to
      the lowest index at both levels.

    Every level, the routing included, is scored by
    :func:`_score_blocks` — the HALF_UP rule of the oracle's
    ``round(list_inner_product(...), 8)``, as flat assignment is.

    The assignment is APPROXIMATE at cell boundaries (a row whose true
    nearest cell hangs under a different super-cell lands in its best
    reachable cell instead) — the standard hierarchical-IVF trade:
    partial-probe recall can dip slightly, while full probe remains
    exact because correctness never depended on assignment (the probe
    scans every cell and the exact-cosine rerank decides; pytest-gated
    like the k-means build). Deterministic: pure function of the
    centroid matrix, so reruns and incremental appends agree.
    """
    return _with_cells(df, vec_col, _two_level_cells(centroids), cell_col)


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_cells: int | None = None,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    ``n_cells`` centroid cells, probe only the ``n_probe`` cells whose
    centroids are most similar to the query, exact-cosine rerank inside
    them.

    ``n_cells`` defaults to :func:`ivf_default_cells` over a cheap
    ``count()`` — cells ∝ corpus at fixed occupancy, the configuration
    whose scan cost stays ~n_probe·occupancy per query at any scale
    (a hand-fixed cell count silently degrades toward a full scan as
    the corpus grows). With ``n_probe == n_cells`` this degenerates to
    exact brute force (the pytest recall gate exploits that). The probe
    and rerank are :func:`_probe_topk` over the assigned frame, the
    same query :func:`ivf_topk_indexed` runs over a persisted index.
    """
    if n_cells is None:
        n_cells = ivf_default_cells(df.count())
    centroids = _ivf_centroids(df, vec_col, id_col, n_cells)
    assigned = ivf_assign_cells(df, vec_col, centroids)
    return _probe_topk(assigned, "__cell", centroids, vec_col, query, k, id_col, n_probe)


def knn_join_ivf(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "id_a",
    right_id: str = "id_b",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    n_probe: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Cell-keyed kNN join: for every left row, its ``k`` nearest
    right rows by cosine, computed as an EQUI-join on IVF cells —
    never a cartesian product.

    The 100-TB shape of the kNN join: right rows are assigned to their
    nearest of ``n_cells`` centroids (one cell each), left rows
    explode onto their ``n_probe`` nearest cells, and candidates are
    the cell-key equi-join of the two — a hash join whose shuffle
    moves (id, vector, cell) rows keyed by cell, with per-left top-k
    by window. Candidate volume is ~``n_probe/n_cells`` of all pairs;
    at scale, cells also serve as the partition key for the persisted
    index (:func:`ivf_index_write`), so the probe side prunes
    partitions.

    With ``n_probe == n_cells`` (the default) every query probes every
    cell, the candidate set is EXACTLY all pairs (each right row lives
    in exactly one cell, so no pair duplicates either), and the result
    is provably identical to the brute-force cross join — while the
    plan is still the hash equi-join. The differential oracle
    certifies the full-probe config; partial-probe recall is
    pytest-gated like :func:`ivf_topk`'s.

    ``exclude_self`` drops ``left_id == right_id`` candidate pairs
    before ranking (the self-join kNN-graph build).

    ``n_cells`` defaults to :func:`ivf_default_cells` over a cheap
    ``right.count()`` — the cells-∝-N / fixed-n_probe policy as code,
    not advice: a hand-fixed cell count makes occupancy (and so
    candidate volume) grow with the corpus, the measured slope-2.0
    trap in tools/scale_stress.py. Pass ``n_cells`` explicitly only
    when replaying a pinned configuration (e.g. an oracle).
    """
    if n_cells is None:
        n_cells = ivf_default_cells(right.count())
    n_probe = n_cells if n_probe is None else n_probe
    centroids = _ivf_centroids(right, vec_col, right_id, n_cells)
    rv = ivf_assign_cells(
        right.select(
            F.col(right_id), F.col(vec_col).cast("array<double>").alias("__rv")
        ),
        "__rv",
        centroids,
    )
    lv = _probe_side(left, left_id, vec_col, centroids, n_probe)
    return knn_join_cells_cogrouped(
        lv, rv, k, left_id, right_id, exclude_self=exclude_self
    )


def _probe_side(
    left: DataFrame, left_id: str, vec_col: str, centroids: list[list[float]], n_probe: int
) -> DataFrame:
    """The probe side of a cell-keyed kNN join: ``left`` projected to
    (``left_id``, ``__lv`` = the vector as array<double>) and exploded
    onto its ``n_probe`` nearest cells (:func:`ivf_probe_cells`)."""
    return ivf_probe_cells(
        left.select(F.col(left_id), F.col(vec_col).cast("array<double>").alias("__lv")),
        "__lv",
        centroids,
        n_probe,
    )


def knn_join_cells_cogrouped(
    lv: DataFrame,
    rv: DataFrame,
    k: int,
    left_id: str = "id_a",
    right_id: str = "id_b",
    exclude_self: bool = False,
) -> DataFrame:
    """JOIN stage of the cell-keyed kNN join over PRE-ASSIGNED frames:
    ``lv`` = probe rows exploded onto cells (``__cell`` + ``__lv``
    vector, :func:`ivf_probe_cells`), ``rv`` = corpus rows with their
    cell (``__cell`` + ``__rv``, :func:`ivf_assign_cells` — or a
    persisted index, which stores exactly that shape partitioned by
    cell). Cost is candidate volume (|lv|·occupancy) + one window per
    left id: linear in corpus size when cells ∝ N and n_probe is fixed
    (see tools/scale_stress.py::op_knn_join_ivf for the measured
    decomposition and the two quadratic mis-configurations).

    The two sides are cogrouped on the cell key and each cell's pair
    scores are computed in one numpy kernel, instead of a cell
    equi-join whose output carries BOTH 64-dim vectors on every
    candidate row (candidates = probes × occupancy — at sf0.1 already
    1M pairs ≈ 1 GB through any downstream operator): every vector
    crosses the boundary ONCE per cell (nl + nr rows, not nl × nr),
    the "move heavy bytes once" shape. Scores replicate the
    interpreted cosine fold BIT-FOR-BIT (:func:`_cosine_blocks` —
    pytest-asserted against the expression join form kept in
    tests/), so ranking and the oracle hash match the SQL
    replay. Both sides exchange on the bounded cell key; the per-left
    top-k window shuffles (id, id, score) rows. Memory is bounded by
    chunking the probe side so each products block stays ~32 MB
    regardless of occupancy.

    Used by :func:`knn_join_ivf` (assignments computed in-plan) and
    :func:`knn_join_indexed` (corpus side read from the persisted
    index, unprobed cells pruned at planning time).
    """
    import pandas as pd

    a_type = lv.schema[left_id].dataType.simpleString()
    b_type = rv.schema[right_id].dataType.simpleString()
    schema = f"`{left_id}` {a_type}, `{right_id}` {b_type}, score double"

    def score_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame({left_id: [], right_id: [], "score": []})
        A = _stack_vectors(left["__lv"])
        B = _stack_vectors(right["__rv"])
        ids_a = left[left_id].to_numpy()
        ids_b = right[right_id].to_numpy()
        # r14: pre-truncate to the k best per (left row, cell) INSIDE
        # the kernel (guide §2.3, aggregate-before-shuffle): a candidate
        # dropped here has ≥ k better candidates in its own cell under
        # the window's exact total order (score desc, id_b asc), hence
        # ≥ k better globally — the per-left top-k window downstream
        # returns the identical rows from nl·n_probe·k inputs instead
        # of the full nl×nr candidate stream. Order replication: right
        # side sorted by id_b once, so within a row equal scores
        # tie-break by column index; a stable argsort on ~okey (okey =
        # the Double.compare-monotone int64 key; bitwise NOT reverses
        # it without overflow) is exactly (score desc, id_b asc).
        border = np.argsort(ids_b, kind="stable")
        B, ids_b = B[border], ids_b[border]
        kk = min(k, len(B))
        outs = []
        for rows, score in _cosine_blocks(A, B):
            okey = _f64_order_key(score)
            if exclude_self:
                # self rows sink below every real candidate and are
                # dropped after selection (scores are finite, so
                # int64 min never collides with a real key)
                okey = np.where(
                    ids_b[None, :] == ids_a[rows, None],
                    np.int64(-(2**63)),
                    okey,
                )
            sel = np.argsort(~okey, axis=1, kind="stable")[:, :kk]
            srows = np.arange(len(score))[:, None]
            ia = np.repeat(ids_a[rows], kk)
            ib = ids_b[sel].ravel()
            sc = score[srows, sel].ravel()
            if exclude_self:
                keep = ia != ib
                ia, ib, sc = ia[keep], ib[keep], sc[keep]
            outs.append(pd.DataFrame({left_id: ia, right_id: ib, "score": sc}))
        return pd.concat(outs, ignore_index=True)

    scored = (
        lv.groupBy("__cell")
        .cogroup(rv.groupBy("__cell"))
        .applyInPandas(score_cell, schema=schema)
    )
    w = Window.partitionBy(left_id).orderBy(F.desc("score"), F.asc(right_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# product quantization (PQ)
# --------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_sub: int = 4,
    n_codes: int = 16,
    sample: int = PQ_TRAIN_SAMPLE,
    iters: int = 5,
    round_digits: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``n_sub`` subspaces × ``n_codes`` centroids
    each, k-means on a deterministic bounded sample.

    ``round_digits`` rounds every centroid coordinate after each
    update — the same trajectory-pinning discipline as
    :func:`kmeans_assign`, letting a SQL oracle replay the training
    bit-for-bit (`sim_ann_pq_verified`). Production default is None
    (unrounded; nothing downstream depends on cross-engine replay of
    the production books).

    This is the index-BUILD step: only ``sample``·dim floats reach the
    driver (seedless md5-ordered sample, reproducible across runs and
    engines), and the k-means runs on that sample in numpy. At 100 TB
    the build stays exactly this shape — training on a few thousand
    vectors is standard PQ practice (codebooks converge long before
    the corpus is exhausted); encode/scan never collect anything.

    Returns ``codebooks[s][c] = centroid vector`` (len dim/n_sub).
    """
    assert dim % n_sub == 0, "dim must divide evenly into n_sub subspaces"
    X = np.array([r.v for r in _md5_sample(df, vec_col, id_col, sample)])  # (n, dim)
    return _pq_train_np(X, dim, n_sub, n_codes, iters, round_digits)


def _pq_train_np(
    X,
    dim: int,
    n_sub: int,
    n_codes: int,
    iters: int = 5,
    round_digits: int | None = None,
) -> list[list[list[float]]]:
    """The numpy k-means loop behind :func:`pq_train`, factored out so
    a caller that already holds the (md5-ordered) sample matrix can
    train without a second Spark job. Bit-identical to training on the
    collected sample: same init, same update order, same rounding."""
    sub = dim // n_sub
    books: list[list[list[float]]] = []
    for s in range(n_sub):
        Xs = X[:, s * sub : (s + 1) * sub]
        # deterministic init: first n_codes sample rows (md5 order).
        # When pinning, round the INIT too — an empty cluster keeps its
        # centroid through every iteration, so an unrounded init would
        # leak an unrounded row into the final book while the SQL
        # oracle's carry-forward (coalesce over rounded cb0) stays on
        # the grid; rounding both makes empty-code carry-forward
        # engine-identical instead of relying on every init code
        # capturing a member.
        C = Xs[:n_codes].copy()
        if round_digits is not None:
            C = np.round(C, round_digits)
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = Xs[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
            if round_digits is not None:
                C = np.round(C, round_digits)
        books.append([[float(x) for x in row] for row in C])
    return books


def _pq_coder(codebooks: list[list[list[float]]], score_digits: int | None = None):
    """Vectorized PQ encoder: maps an (n, dim) matrix to its (n, n_sub)
    int32 codes. Per subspace, argmin over squared L2: ||x-c||² =
    ||x||² - 2<x,c> + ||c||², and ||x||² is constant across codes, so
    the argmax of <x,c> - ||c||²/2 — the fold seeded at -||c||²/2 (a
    driver-python sequential sum), lowest code on ties.

    ``score_digits`` pins that argmax the way CELL_SCORE_DECIMALS pins
    IVF cell scores: the seeded fold and the oracle's
    list_inner_product−norm/2 associate differently, so a last-ulp gap
    between two CODES' scores could flip the assignment; on the 1e-8
    grid both engines agree and ties break to the LOWEST code on both
    sides (ORDER BY score DESC, c in SQL). Production default stays
    None (unrounded)."""
    sub = len(codebooks[0][0])
    books = [np.array(book, np.float64) for book in codebooks]
    seeds = [
        -np.array([float(sum(x * x for x in c)) / 2.0 for c in book], np.float64)
        for book in codebooks
    ]

    def encode(X):
        return np.stack(
            [
                _score_blocks(X[:, s * sub : (s + 1) * sub], B, _argmax, score_digits, seed)
                for s, (B, seed) in enumerate(zip(books, seeds))
            ],
            axis=1,
        ).astype(np.int32)

    return encode


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    code_col: str = "__pq",
    score_digits: int | None = None,
) -> DataFrame:
    """Attach the PQ code (array<int>, one code per subspace,
    :func:`_pq_coder`) in one numpy ``mapInPandas`` pass — no shuffle.

    The encoded column is what gets persisted at scale: n_sub bytes a
    row instead of dim·4, a 64× compression at (64-dim float32,
    4×16 PQ), and every later query scans codes, not vectors.
    """
    encode = _pq_coder(codebooks, score_digits)

    def add_codes(pdf, V):
        return pdf.assign(**{code_col: list(encode(V))})

    return map_batches(df, f"`{code_col}` array<int>", add_codes, vec_col)


def pq_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_sub: int = 4,
    n_codes: int = 16,
    rerank: int = 100,
    codebooks: list[list[list[float]]] | None = None,
    score_digits: int | None = None,
) -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation (ADC)
    and exact rerank.

    ``score_digits`` pins the encode argmax and the ADC rerank cut to
    a fixed decimal grid on this side (the replay oracle rounds the
    same two rank keys), so a cross-engine last-ulp difference cannot
    flip a code assignment or the rerank boundary — the same
    discipline as CELL_SCORE_DECIMALS for IVF cell scores. Production
    default is None (nothing downstream replays production scans).

    The query is never quantized: the driver precomputes a lookup
    table LUT[s][c] = <query_s, centroid_{s,c}> (n_sub·n_codes floats)
    and the scan scores each row as Σ_s LUT[s][code_s] — n_sub
    element_at calls per row against literal arrays, the cheapest
    possible scan over a compressed index. The ``rerank`` best
    candidates then pay the exact cosine.
    """
    if codebooks is None:
        codebooks = pq_train(df, vec_col, id_col, dim=len(query), n_sub=n_sub, n_codes=n_codes)
    sub = len(codebooks[0][0])
    encoded = pq_encode(df, vec_col, codebooks, score_digits=score_digits)
    approx = F.lit(0.0)
    for s in range(len(codebooks)):
        qs = query[s * sub : (s + 1) * sub]
        lut = const_array(
            [sum(a * b for a, b in zip(qs, c)) for c in codebooks[s]], "double"
        )
        approx = approx + F.element_at(lut, F.element_at(F.col("__pq"), s + 1) + 1)
    if score_digits is not None:
        # the oracle's ADC total is a SQL SUM over a join (unspecified
        # addition order) of its own LUT dot products — round the rank
        # key on both sides so the rerank-100 boundary is grid-stable
        approx = F.round(approx, score_digits)
    candidates = (
        encoded.withColumn("__adc", approx)
        .orderBy(F.desc("__adc"), F.asc(id_col))
        .limit(rerank)
    )
    return cosine_topk(candidates, vec_col, query, k, id_col)


def ivf_index_write(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | None = None,
    centroids: str = "sample",
    assign: str = "flat",
) -> list[list[float]]:
    """Build and persist the IVF index: assign every vector to its
    nearest centroid cell and write parquet PARTITIONED BY cell, with
    the centroid matrix stored alongside (``_centroids.json`` — the
    leading underscore keeps Spark's reader from treating it as data)
    and the read schema in ``_schema.json``, so probes skip schema
    inference (both written by :func:`_write_index`, read back by
    :func:`_read_meta`). ``centroids`` and ``assign`` are checked
    before the first job (:func:`_check_build_options`).

    This is the deployment shape for ANN at scale: the expensive
    assignment pass runs once, and every probe afterwards reads only
    ``n_probe`` of ``n_cells`` partition directories — partition
    pruning at the file listing level, before a single byte of the
    skipped cells is opened (gated by
    ``test_ann_index.py::test_indexed_probe_prunes_partitions``).
    Incremental ingest appends new vectors assigned against the SAME
    persisted centroids, mirroring dd_incremental's
    never-re-signature-history rule.

    ``centroids="kmeans"`` trains the cell centers with the
    distributed Lloyd refinement (:func:`ivf_kmeans_centroids`)
    instead of the raw md5 sample (``"sample"``, the default) —
    tighter, better-balanced cells at the cost of ``n_iters - 1``
    extra assignment+reduce passes at build time. Probe-side code is
    identical either way (the trained matrix is what lands in
    ``_centroids.json``), and full-probe results are
    centroid-independent (pytest-gated).

    ``assign="2level"`` routes the corpus assignment pass through the
    hierarchical coarse quantizer (:func:`ivf_assign_cells_2level`) —
    O(rows·√cells) instead of O(rows·cells), the build-cost answer
    when cells track corpus size (SCALE.md round-8 slope analysis).
    Cell-boundary rows may land in a near-best cell (partial-probe
    recall trade); full probe stays exact.
    """
    _check_build_options(centroids, assign)
    if n_cells is None:
        n_cells = ivf_default_cells(df.count())
    cents = _CENTROID_TRAINERS[centroids](df, vec_col, id_col, n_cells)
    _write_index(
        _with_cells(df, vec_col, _ASSIGNERS[assign](cents), "cell"), path, _CENTROIDS, cents
    )
    return cents


# The index builders' ``centroids`` and ``assign`` options: "sample"
# is the deterministic md5 pick (the default every replay certificate
# pins), "kmeans" the Lloyd refinement; "flat" scores every cell,
# "2level" the hierarchical quantizer (each a centroids → cell-kernel
# factory, shared by the IVF and IVF-PQ builds).
_CENTROID_TRAINERS = {"sample": _ivf_centroids, "kmeans": ivf_kmeans_centroids}
_ASSIGNERS = {"flat": _flat_cells, "2level": _two_level_cells}


def _check_build_options(centroids: str, assign: str) -> None:
    """Reject an unknown ``centroids`` or ``assign`` value before the
    build runs its first job."""
    for name, value, table in (
        ("centroid method", centroids, _CENTROID_TRAINERS),
        ("assign", assign, _ASSIGNERS),
    ):
        if value not in table:
            raise ValueError(f"unknown {name} {value!r} ({'|'.join(table)})")


# Side files of an index directory (the leading underscore keeps
# Spark's reader off them): the read schema, and the IVF centroids or
# the IVF-PQ centroids + codebooks.
_INDEX_SCHEMA = "_schema.json"
_CENTROIDS = "_centroids.json"
_IVFPQ_META = "_ivfpq_meta.json"


def _write_index(out: DataFrame, path: str, meta_name: str, meta) -> None:
    """Write ``out`` as a parquet index PARTITIONED BY its ``cell``
    column, then its side files: the read schema in ``_schema.json``
    and ``meta`` as JSON in ``meta_name`` (read back by
    :func:`_read_meta`).

    r14: shuffle by cell BEFORE the partitioned write (guide §6).
    Without it every map task writes a file into every cell directory
    it touches — M·cells files (measured: 1004 files for 1801 rows/16
    cells at sf0.1, and M·4096 at the cell cap). One exchange of the
    payload for a run-once build buys exactly one occupancy-sized file
    per cell, and every partition-pruned probe afterwards lists/opens
    one file per probed cell instead of M. The shuffle partition count
    follows the session's shuffle parallelism (AQE-coalesced), not a
    local constant.

    The recorded schema is what inference returns for the directory
    (the data columns, then the partition column as ``cell int``),
    derived from ``out.schema`` without a job."""
    out.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    schema = T.StructType(
        [f for f in out.schema.fields if f.name != "cell"]
        + [T.StructField("cell", T.IntegerType())]
    )
    for name, text in ((_INDEX_SCHEMA, schema.json()), (meta_name, json.dumps(meta))):
        with open(os.path.join(path, name), "w") as f:
            f.write(text)


def _read_meta(path: str, name: str):
    """The JSON side file ``name`` of the index at ``path``."""
    with open(os.path.join(path, name)) as f:
        return json.load(f)


def _read_index(spark, path: str) -> DataFrame:
    """The index at ``path`` (:func:`_write_index`) read with its
    recorded schema: no schema-inference job, which a plain
    ``spark.read.parquet`` runs on every call. The ``cell`` partition
    filters of the probes still prune directories at planning time."""
    schema = T.StructType.fromJson(_read_meta(path, _INDEX_SCHEMA))
    return spark.read.schema(schema).parquet(path)


def knn_join_indexed(
    spark,
    path: str,
    left: DataFrame,
    k: int,
    left_id: str = "id_a",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Batch kNN join served from the persisted IVF index
    (:func:`ivf_index_write`): left rows rank the STORED centroids
    (:func:`ivf_probe_cells`), explode onto their ``n_probe`` nearest
    cells, and only the probed ``cell`` partitions of the index are
    read and cogrouped with them (:func:`knn_join_cells_cogrouped`) —
    the only per-call cost is probe-side (the corpus assignment was
    paid once at index build). This is the production form of
    :func:`knn_join_ivf` — identical results for the same centroids
    and probe count (pytest-gated in test_ann_index.py)."""
    from .lineage import truncate_lineage

    centroids = _read_meta(path, _CENTROIDS)
    # probe assignment materialized once — it feeds both the
    # probed-cell listing and the scoring cogroup below.
    lv = truncate_lineage(_probe_side(left, left_id, vec_col, centroids, n_probe))
    # r14: STATIC partition pruning + cogrouped scoring, replacing the
    # cell equi-join + per-candidate Arrow dot. The join form relied on
    # runtime DPP to skip unprobed cell directories, but its scoring
    # shipped BOTH vectors across the Python boundary on every
    # candidate row (probes × occupancy — ~1 KB × |left|·occ·n_probe).
    # The probed-cell set is bounded by the index's cell count (≤ the
    # 4096 cap), so collecting it is a bounded driver materialization,
    # and a literal IN filter prunes the same partitions at PLANNING
    # time (PartitionFilters on the scan — stronger than DPP, no
    # runtime subquery). Scoring then cogroups on the cell key: every
    # vector crosses the Arrow boundary ONCE per cell (nl + nr rows,
    # not nl × nr — guide §8 "move heavy bytes once"), through the
    # kernel that replicates the expression fold bit-for-bit.
    cells = sorted(
        r["__cell"] for r in lv.select("__cell").distinct().collect()
    )
    idx = (
        _read_index(spark, path)
        .filter(F.col("cell").isin([int(c) for c in cells]))
        .select(
            F.col(right_id),
            F.col(vec_col).cast("array<double>").alias("__rv"),
            F.col("cell").cast("int").alias("__cell"),
        )
    )
    return knn_join_cells_cogrouped(lv, idx, k, left_id, right_id)


def ivf_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index: rank cells by centroid similarity
    driver-side (n_cells dot products), scan ONLY the probed cell
    partitions, exact-cosine rerank (:func:`_probe_topk` over the
    index). The ``cell`` filter is a partition filter, so unprobed
    cells never leave the file listing."""
    centroids = _read_meta(path, _CENTROIDS)
    return _probe_topk(
        _read_index(spark, path), "cell", centroids, vec_col, query, k, id_col, n_probe
    )


def ivf_index_health(spark, path: str, vec_col: str = "embedding") -> DataFrame:
    """Operational health of a persisted IVF index: per-cell occupancy
    and the mean cosine of each vector to its OWN cell centroid.

    This is the monitoring surface for incremental ingest
    (test_ann_index.py::test_ivf_ingest_soak_and_drift_trigger): the
    frozen centroids stay correct forever for RESULTS (probes rerank
    with exact cosine), but recall decays silently if the incoming
    distribution drifts away from the trained cells — rows land in
    far cells, and the true neighbors of a query stop being
    concentrated in its probed cells. A falling mean assigned cosine
    (index-wide, or per appended batch via :func:`ivf_batch_drift`)
    is the re-train trigger; occupancy skew is the partition-size
    alarm. One scan of the index, one n_cells-row aggregate."""
    own_cos = _own_cell_cosine(vec_col, "cell", _read_meta(path, _CENTROIDS))
    return (
        _read_index(spark, path)
        .groupBy("cell")
        .agg(F.count("*").alias("n"), F.avg(own_cos).alias("mean_cos"))
        .orderBy("cell")
    )


def ivf_batch_drift(
    batch_df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> float:
    """Mean best-cell cosine of an INCOMING batch against the frozen
    centroids, BEFORE appending it — the cheap pre-ingest drift probe
    (one assignment projection + a 1-row aggregate; nothing persisted).
    Compare against the index's own mean (:func:`ivf_index_health`):
    a material drop means the batch's distribution is not the one the
    cells were trained on, so schedule a centroid re-train
    (``centroids="kmeans"`` rebuild) rather than letting partial-probe
    recall decay silently."""
    assigned = ivf_assign_cells(batch_df.select(vec_col), vec_col, centroids)
    own_cos = _own_cell_cosine(vec_col, "__cell", centroids)
    return float(assigned.agg(F.avg(own_cos).alias("m")).collect()[0].m)


def _own_cell_cosine(vec_col: str, cell_col: str, centroids: list[list[float]]) -> Column:
    """Cosine of each row's vector to the centroid of its own cell."""
    own = F.element_at(const_array(centroids, "array<double>"), F.col(cell_col).cast("int") + 1)
    return _cosine_cols(F.col(vec_col).cast("array<double>"), own)


# --------------------------------------------------------------------------
# k-means (Lloyd's) over embedding columns
# --------------------------------------------------------------------------


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iters: int = 2,
    round_digits: int = 4,
    out_col: str = "cluster",
) -> DataFrame:
    """Lloyd's k-means cluster assignment, deterministic and
    cross-engine reproducible.

    - init: centroids are the ``k`` vectors with the smallest ids
      (seedless, rerun- and engine-stable — same discipline as
      :func:`_ivf_centroids`);
    - assignment: argmin squared-L2 against the centroid matrix, one
      numpy ``mapInPandas`` pass (sequential-fold sum of squared
      differences), ties to the lowest cluster id;
    - update: per-(cluster, dim) means via ``posexplode`` + partial
      aggregation — the shuffle carries only k·dim rows per map
      partition, the classic distributed-k-means reduce; the k·dim
      result is the ONLY driver materialization per iteration;
    - centroid coordinates are rounded to ``round_digits`` after every
      update, which pins the literal matrices bit-identically across
      engines/reruns so a differential oracle can replay the exact
      trajectory (FP noise in a mean is ~1e-13, far inside the grid).

    Returns the input frame + ``out_col`` (cluster id of the LAST
    assignment pass; ``n_iters`` assignment passes run in total, with
    ``n_iters - 1`` centroid updates between them). Empty clusters
    drop out of the trajectory naturally (no members → no updated
    centroid), matching the SQL formulation.

    At 100 TB: each iteration is one map-side projection + one
    bounded-key shuffle; the driver holds k·dim floats. This is the
    index-build step for semantic dedup (SemDeDup) and IVF — build
    once, persist the assignment partitioned by cluster.
    """
    v = F.col(vec_col).cast("array<double>")
    init = (
        df.select(F.col(id_col), v.alias("__v")).orderBy(id_col).limit(k).collect()
    )
    cents: list[list[float]] = [list(map(float, r["__v"])) for r in init]
    cluster_ids: list[int] = list(range(len(cents)))

    def _assigned(frame: DataFrame) -> DataFrame:
        # r14 (guide §4.2): numpy mapInPandas kernel in place of the
        # interpreted HOF projection, which evaluated the k·dim
        # distance array TWICE per row (array_position + array_min are
        # separate evaluations of the same transform(...) tree) with
        # per-element lambda dispatch — the "interpreted-HOF ×
        # scale-pinned-config" cost class. Bit-exact by construction:
        # the expression's aggregate(zip_with(v, c, (a-b)²), 0.0, +)
        # is a sequential left fold over dims, reproduced here as a
        # float64 cumsum over axis 2 (same op order, each op IEEE
        # double); np.argmin takes the FIRST minimum, exactly
        # array_position(d2, array_min(d2)); cluster ids map through
        # the same surviving-id list as element_at(ids_lit, pos).
        cn = np.array([[float(x) for x in c] for c in cents], np.float64)
        ids = np.array(cluster_ids, np.int64)

        def nearest(pdf, V):
            cl = np.empty(len(V), np.int64)
            for rows in _row_blocks(len(V), cn):
                diff = V[rows, None, :] - cn[None, :, :]
                d2 = np.cumsum(diff * diff, axis=2)[:, :, -1]
                cl[rows] = ids[np.argmin(d2, axis=1)]
            return pdf.assign(**{out_col: cl})

        return map_batches(frame, f"`{out_col}` int", nearest, vec_col)

    for _ in range(n_iters - 1):
        # the update pass needs only (cluster, vec): pruning the
        # kernel's input to the vector column keeps every other column
        # off the Arrow boundary (guide §4.1)
        means = _lloyd_means(
            _assigned(df.select(F.col(vec_col))), out_col, vec_col, round_digits
        )
        cluster_ids = sorted(means)
        cents = [means[c] for c in cluster_ids]
    return _assigned(df)


def _ivfpq_build(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    n_sub: int,
    n_codes: int,
    dim: int,
    centroid_method: str = "sample",
    assign: str = "flat",
    pq_round_digits: int | None = None,
    score_digits: int | None = None,
):
    """Shared IVF-PQ build: L2-normalize, assign coarse cells, train
    residual codebooks, PQ-encode. Returns (encoded_df, centroids,
    codebooks); ``encoded_df`` keeps the original columns plus
    ``__vn`` (unit vector), ``__cell``, ``__pq``.

    Normalization matters: on unit vectors squared-L2 ADC ordering IS
    cosine ordering (||q̂−v̂||² = 2−2cos) — without it L2-ranked
    candidates drop cosine-top rows (measured recall 0.8 → 1.0 at
    full probe on the bench corpus).

    With sample centroids the build is ONE bounded collect and ONE
    corpus pass: a single md5-ordered TakeOrdered returns
    max(n_cells, PQ_TRAIN_SAMPLE) rows — the first n_cells are the
    :func:`_ivf_centroids` pick, the first PQ_TRAIN_SAMPLE are
    :func:`pq_train`'s sample. The sample's cells, residuals and the
    codebooks are computed driver-side with the same per-row numpy
    math the executor kernel applies (chunking and batching cannot
    change any value), and normalize + assign + residual + encode fuse
    into one ``mapInPandas`` crossing, flat or ``assign="2level"``
    alike (:data:`_ASSIGNERS`). Residual = unit vector minus the RAW
    centroid.

    ``centroid_method="kmeans"`` trains the centroids with
    :func:`ivf_kmeans_centroids` on the unit vectors (see
    :func:`ivf_index_write`) before the sample collect.
    ``pq_round_digits`` / ``score_digits`` are the replay pins of
    :func:`pq_train` / :func:`pq_encode`.
    """
    _check_build_options(centroid_method, assign)
    cents = None
    if centroid_method != "sample":
        # k-means training reads the unit vectors as a column
        v = F.col(vec_col).cast("array<double>")
        nrm = _norm_col(v)
        df_n = df.withColumn("__vn", F.transform(v, lambda x: x / nrm))
        cents = _CENTROID_TRAINERS[centroid_method](df_n, "__vn", id_col, n_cells)
    rows = _md5_sample(
        df, vec_col, id_col, max(n_cells, PQ_TRAIN_SAMPLE) if cents is None else PQ_TRAIN_SAMPLE
    )

    def unit(V):
        return V / _fold_norms(V)[:, None]

    X = np.array([r.v for r in rows], np.float64)
    if cents is None:
        cents = unit(X[:n_cells]).tolist()
    cells = _ASSIGNERS[assign](cents)
    craw = np.array(cents, np.float64)

    def residuals(V):
        """unit vectors, cells, residuals — the per-row math shared by
        the kernel and the sample."""
        VN = unit(V)
        cell = cells(VN)
        return VN, cell, VN - craw[cell]

    _, _, res = residuals(X[:PQ_TRAIN_SAMPLE])
    books = _pq_train_np(res, dim, n_sub, n_codes, round_digits=pq_round_digits)
    encode = _pq_coder(books, score_digits)

    def assign_encode(pdf, V):
        VN, cell, res = residuals(V)
        return pdf.assign(
            __vn=list(VN), __cell=cell.astype(np.int32), __pq=list(encode(res))
        )

    added = "`__vn` array<double>,`__cell` int,`__pq` array<int>"
    return map_batches(df, added, assign_encode, vec_col), cents, books


def _ivfpq_scan(
    encoded: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    query: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    n_probe: int,
    rerank: int,
    cell_col: str = "__cell",
    code_col: str = "__pq",
    score_digits: int | None = None,
) -> DataFrame:
    """Shared IVF-PQ probe: rank cells driver-side for the normalized
    query (:func:`_rank_cells`), ADC-score the probed cells against
    per-cell residual LUTs (one nested literal), exact-cosine rerank
    of the best ``rerank`` candidates (:func:`cosine_topk`).

    ``score_digits`` pins the ADC rerank cut to a fixed decimal grid
    (replay-certificate discipline, see :func:`pq_topk`); production
    default None."""
    dim = len(query)
    n_sub = len(books)
    sub = dim // n_sub
    qn = _normed(query)
    probe = _rank_cells(qn, centroids, n_probe)
    luts = []
    for c in probe:
        qr = [q - cc for q, cc in zip(qn, centroids[c])]
        lut_c = []
        for s in range(n_sub):
            qs = qr[s * sub : (s + 1) * sub]
            lut_c.append(
                [
                    float(sum((a - b) ** 2 for a, b in zip(qs, code)))
                    for code in books[s]
                ]
            )
        luts.append(lut_c)
    probe_lit = const_array(probe, "int")
    luts_lit = const_array(luts, "array<array<double>>")
    cell_lut = F.element_at(
        luts_lit, F.array_position(probe_lit, F.col(cell_col)).cast("int")
    )
    approx = F.lit(0.0)
    for s in range(n_sub):
        approx = approx + F.element_at(
            F.element_at(cell_lut, s + 1),
            F.element_at(F.col(code_col), s + 1) + 1,
        )
    if score_digits is not None:
        approx = F.round(approx, score_digits)
    candidates = (
        encoded.filter(F.col(cell_col).isin(probe))
        .withColumn("__adc", approx)
        .orderBy(F.asc("__adc"), F.asc(id_col))
        .limit(rerank)
    )
    return cosine_topk(candidates, vec_col, query, k, id_col)


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    n_sub: int = 4,
    n_codes: int = 16,
    rerank: int = 100,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN composition (coarse
    inverted file + residual product quantization), as one lazy plan.

    - coarse: vectors assign to ``n_cells`` centroid cells
      (:func:`ivf_assign_cells`); a query probes the ``n_probe``
      nearest cells — at scale the encoded column is persisted
      partitioned by cell (:func:`ivfpq_index_write`), so the probe
      is partition pruning;
    - residual PQ: codebooks train on ``v − centroid[cell]``
      (residuals are what PQ quantizes well — centered,
      low-variance); assignment and encoding are one numpy pass
      (:func:`_ivfpq_build`);
    - ADC per probed cell: the LUT depends on the cell (the query
      residual differs per cell), so the scan carries ``n_probe``
      LUTs as ONE nested literal indexed by the row's cell rank;
      approximate distance = Σ_s LUT[cell][s][code_s], then
      ``rerank`` best candidates pay the exact cosine.

    The build's only driver materialization is the bounded centroid +
    training sample (see :func:`pq_train`); nothing corpus-sized is
    collected or shuffled.
    """
    encoded, centroids, books = _ivfpq_build(
        df, vec_col, id_col, n_cells, n_sub, n_codes, dim=len(query)
    )
    return _ivfpq_scan(
        encoded, centroids, books, query, k, id_col, vec_col, n_probe, rerank
    )


def ivfpq_index_write(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    n_sub: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    centroids: str = "sample",
    assign: str = "flat",
):
    """Build and persist the IVF-PQ index: PQ codes + unit vectors
    written parquet PARTITIONED BY cell, centroids and codebooks in
    ``_ivfpq_meta.json`` alongside (underscore-prefixed so Spark's
    reader skips it), the read schema in ``_schema.json`` (both
    written by :func:`_write_index`). ``centroids`` and ``assign``
    are :func:`ivf_index_write`'s, checked before the first job.

    Build-once/probe-many: the expensive parts (assignment pass,
    codebook training, encode) run once; every later query is a
    partition-pruned scan of ``n_probe`` cell directories scoring
    n_sub-byte codes. The vector column rides in the same row groups
    for the rerank — at extreme scale store it in a separate
    co-partitioned table and join the ``rerank`` candidates only.
    Returns (centroids, codebooks).
    """
    encoded, cents, books = _ivfpq_build(
        df, vec_col, id_col, n_cells, n_sub, n_codes, dim,
        centroid_method=centroids, assign=assign,
    )
    # the cell shuffle before the write measured 514→~cells files and
    # −1.7 s on the build at sf0.1 (r14)
    _write_index(
        encoded.withColumnRenamed("__cell", "cell").withColumnRenamed("__pq", "pq"),
        path,
        _IVFPQ_META,
        {"centroids": cents, "codebooks": books},
    )
    return cents, books


def ivfpq_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """Query a persisted IVF-PQ index: cells ranked driver-side from
    the stored centroids, ONLY the probed cell partitions scanned
    (partition filter — unprobed cells never leave the file listing),
    ADC over stored codes, exact rerank over the stored vectors."""
    meta = _read_meta(path, _IVFPQ_META)
    return _ivfpq_scan(
        _read_index(spark, path),
        meta["centroids"],
        meta["codebooks"],
        query,
        k,
        id_col,
        vec_col,
        n_probe,
        rerank,
        cell_col="cell",
        code_col="pq",
    )
