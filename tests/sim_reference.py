"""Expression-form references for the numpy kernels in
``operators/similarity.py``, ``operators/dedup.py`` and
``functions/npsig.py``.

Each function here is the pure Spark-expression formulation of a
library kernel — the same math the DuckDB replay certificates mirror
in SQL (``round(list_inner_product(...), 8)`` cell scores for the flat
and the two-level quantizer, first-match argmax, seeded PQ folds,
self-join cosine, OPH lanes with rotation densify, majority-bit
SimHash). The parity tests in
``test_ann_index.py``, ``test_dedup.py`` and ``test_operators.py``
compare the library's output against these bit-for-bit; nothing in
the library calls them.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataframe_sql_spark.operators.scalars import const_array
from dataframe_sql_spark.operators.similarity import (
    CELL_SCORE_DECIMALS,
    _cosine_cols,
    _dot_col,
    _ivf_centroids,
    _lloyd_means,
    _norm_col,
    _normed,
    pq_train,
)


def _cell_sims(vec_col: str, centroids: list[list[float]]) -> Column:
    """Per-cell scores: normalized-centroid dot rounded to
    CELL_SCORE_DECIMALS, the centroid matrix as ONE nested literal."""
    v = F.col(vec_col).cast("array<double>")
    cents_lit = F.lit([_normed(c) for c in centroids])
    return F.transform(cents_lit, lambda c: F.round(_dot_col(v, c), CELL_SCORE_DECIMALS))


def ivf_assign_cells_expr(
    df: DataFrame, vec_col: str, centroids: list[list[float]], cell_col: str = "__cell"
) -> DataFrame:
    """Reference for ``ivf_assign_cells``: argmax of the rounded cell
    scores, lowest cell on ties (``array_position``'s first match)."""
    sims = _cell_sims(vec_col, centroids)
    return df.withColumn(
        cell_col, (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    )


def ivf_assign_cells_2level_expr(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    cell_col: str = "__cell",
) -> DataFrame:
    """Reference for ``ivf_assign_cells_2level``: the same md5
    super-centroid pick, each cell routed driver-side to its best
    super-centroid by a Python rounded dot (lowest super on ties), an
    unrouted super-cell given its own seed cell, then per row two
    nested-literal argmaxes of rounded dots — super-cell, then that
    super-cell's children (lowest list position, i.e. lowest cell, on
    ties)."""
    n_cells = len(centroids)
    n_super = max(1, math.isqrt(n_cells))
    order = sorted(
        range(n_cells), key=lambda i: hashlib.md5(f"s:{i}".encode()).hexdigest()
    )
    super_ids = sorted(order[:n_super])
    normed = [_normed(c) for c in centroids]
    supers = [normed[i] for i in super_ids]

    def _dot(a: list[float], b: list[float]) -> float:
        return round(sum(x * y for x, y in zip(a, b)), CELL_SCORE_DECIMALS)

    children: list[list[int]] = [[] for _ in range(n_super)]
    for cell in range(n_cells):
        best = max(
            range(n_super), key=lambda s: (_dot(normed[cell], supers[s]), -s)
        )
        children[best].append(cell)
    for s, kids in enumerate(children):
        if not kids:
            kids.append(super_ids[s])

    v = F.col(vec_col).cast("array<double>")
    supers_lit = const_array(supers, "array<double>")
    kids_ids_lit = const_array(children, "array<int>")
    kids_cents_lit = const_array(
        [[normed[c] for c in kids] for kids in children], "array<array<double>>"
    )

    def scores(cands: Column) -> Column:
        return F.transform(cands, lambda c: F.round(_dot_col(v, c), CELL_SCORE_DECIMALS))

    s_scores = scores(supers_lit)
    s_pos = F.array_position(s_scores, F.array_max(s_scores)).cast("int")
    kid_cents = F.element_at(kids_cents_lit, s_pos)
    k_scores = scores(kid_cents)
    k_pos = F.array_position(k_scores, F.array_max(k_scores)).cast("int")
    return df.withColumn(
        cell_col, F.element_at(F.element_at(kids_ids_lit, s_pos), k_pos).cast("int")
    )


def ivf_probe_cells_expr(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int,
    cell_col: str = "__cell",
) -> DataFrame:
    """Reference for ``ivf_probe_cells``: top-``n_probe`` cells by an
    ``array_sort`` over (sim, cell) structs (higher sim first, lower
    cell on ties), exploded to one row per probed cell. The similarity
    array is materialized in its own projection first — lambda-bearing
    expressions are excluded from subexpression elimination."""
    idxed = F.transform(
        F.col("__sims"), lambda s, i: F.struct(s.alias("s"), i.alias("i"))
    )
    comp = lambda a, b: (  # noqa: E731
        F.when(a["s"] > b["s"], F.lit(-1))
        .when(a["s"] < b["s"], F.lit(1))
        .otherwise(
            F.signum(a["i"].cast("double") - b["i"].cast("double")).cast("int")
        )
    )
    top = F.slice(F.array_sort(idxed, comp), 1, n_probe)
    return (
        df.withColumn("__sims", _cell_sims(vec_col, centroids))
        .withColumn("__probe", top)
        .withColumn(
            cell_col,
            F.explode(F.transform("__probe", lambda st: st["i"].cast("int"))),
        )
        .drop("__sims", "__probe")
    )


def ivf_kmeans_centroids_expr(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    n_iters: int = 3,
    round_digits: int = 4,
    train_occupancy: int = 256,
) -> list[list[float]]:
    """Reference for ``ivf_kmeans_centroids``: the same md5 init,
    md5-coin training sample and rounded per-(cell, dim) means, with
    every Lloyd assignment done by :func:`ivf_assign_cells_expr`."""
    cents = _ivf_centroids(df, vec_col, id_col, n_cells)
    n_rows = df.count()
    cap = train_occupancy * n_cells
    train = df
    if n_rows > cap:
        h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":ivfkm")))
        coin = F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(
            4294967296.0
        )
        train = df.filter(coin < F.lit(cap / n_rows))
    for _ in range(max(0, n_iters - 1)):
        means = _lloyd_means(
            ivf_assign_cells_expr(train, vec_col, cents), "__cell", vec_col, round_digits
        )
        cents = [means.get(c, cents[c]) for c in range(len(cents))]
    return cents


def pq_encode_expr(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    code_col: str = "__pq",
    score_digits: int | None = None,
) -> DataFrame:
    """Reference for ``pq_encode``: per subspace, argmax of the fold
    seeded at -||c||²/2 over <x_s, c>, optionally rounded to
    ``score_digits``, lowest code on ties."""
    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    # materialize each subvector once; a lambda-bearing F.slice would
    # otherwise be re-evaluated by every code's dot product
    sliced = df.withColumns(
        {f"__sv{s}": F.slice(v, s * sub + 1, sub) for s in range(n_sub)}
    )
    codes = []
    for s in range(n_sub):
        vs = F.col(f"__sv{s}")
        books_lit = F.lit([[float(x) for x in c] for c in codebooks[s]])
        norms_lit = F.lit(
            [float(sum(x * x for x in c)) / 2.0 for c in codebooks[s]]
        )
        scores = F.zip_with(
            books_lit,
            norms_lit,
            lambda c, nrm: F.aggregate(
                F.zip_with(vs, c, lambda a, b: a * b), -nrm, lambda acc, x: acc + x
            ),
        )
        if score_digits is not None:
            scores = F.transform(scores, lambda x: F.round(x, score_digits))
        codes.append((F.array_position(scores, F.array_max(scores)) - 1).cast("int"))
    return sliced.withColumn(code_col, F.array(*codes)).drop(
        *[f"__sv{s}" for s in range(n_sub)]
    )


def ivfpq_build_expr(
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
    """Reference for ``_ivfpq_build``: expression normalize, centroid
    training (:func:`ivf_kmeans_centroids_expr` for ``"kmeans"``),
    assignment, residual, ``pq_train`` over the residual column and
    :func:`pq_encode_expr`. Returns (encoded_df, centroids, codebooks)
    with the same columns in the same order. The md5 sample pick and
    ``pq_train`` have no numpy twin and are the library's own."""
    v_raw = F.col(vec_col).cast("array<double>")
    nrm = _norm_col(v_raw)
    df_n = df.withColumn("__vn", F.transform(v_raw, lambda x: x / nrm))
    trainer = {"sample": _ivf_centroids, "kmeans": ivf_kmeans_centroids_expr}[
        centroid_method
    ]
    centroids = trainer(df_n, "__vn", id_col, n_cells)
    assigner = {"flat": ivf_assign_cells_expr, "2level": ivf_assign_cells_2level_expr}[
        assign
    ]
    assigned = assigner(df_n, "__vn", centroids)
    cents_lit = F.lit([[float(x) for x in c] for c in centroids])
    r_df = assigned.withColumn(
        "__res",
        F.zip_with(
            F.col("__vn"),
            F.element_at(cents_lit, F.col("__cell") + 1),
            lambda a, b: a - b,
        ),
    )
    books = pq_train(
        r_df, "__res", id_col, dim=dim, n_sub=n_sub, n_codes=n_codes,
        round_digits=pq_round_digits,
    )
    encoded = pq_encode_expr(r_df, "__res", books, score_digits=score_digits).drop(
        "__res"
    )
    return encoded, centroids, books


def knn_join_cells_expr(
    lv: DataFrame,
    rv: DataFrame,
    k: int,
    left_id: str = "id_a",
    right_id: str = "id_b",
    exclude_self: bool = False,
) -> DataFrame:
    """Reference for ``knn_join_cells_cogrouped``: the cell equi-join
    with per-pair cosine as the interpreted fold (norms hoisted below
    the join — same expression over the same array, same doubles) and
    a per-left top-k window."""
    lvn = lv.withColumn("__ln", _norm_col(F.col("__lv")))
    rvn = rv.withColumn("__rn", _norm_col(F.col("__rv")))
    pairs = lvn.join(rvn.hint("merge"), "__cell")
    if exclude_self:
        pairs = pairs.filter(F.col(left_id) != F.col(right_id))
    scored = pairs.withColumn(
        "score", _dot_col(F.col("__lv"), F.col("__rv")) / (F.col("__ln") * F.col("__rn"))
    ).select(left_id, right_id, "score")
    w = Window.partitionBy(left_id).orderBy(F.desc("score"), F.asc(right_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_join_bruteforce(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "id_a",
    right_id: str = "id_b",
    vec_col: str = "embedding",
) -> DataFrame:
    """For every left row, its k nearest right rows by cosine over the
    full cross product, top-k per left id by window: the exact answer
    a full-probe ``knn_join_ivf`` must equal."""
    lv = left.select(F.col(left_id), F.col(vec_col).cast("array<double>").alias("__lv"))
    rv = right.select(F.col(right_id), F.col(vec_col).cast("array<double>").alias("__rv"))
    pairs = (
        lv.join(rv, F.lit(True))
        .withColumn("score", _cosine_cols(F.col("__lv"), F.col("__rv")))
        .select(left_id, right_id, "score")
    )
    w = Window.partitionBy(left_id).orderBy(F.desc("score"), F.asc(right_id))
    return pairs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def embedding_cosine_pairs_expr(
    df: DataFrame, id_col: str, vec_col: str, block_col: str, threshold: float = 0.95
) -> DataFrame:
    """Reference for ``dedup.embedding_cosine_pairs``: the blocked
    self-join (``a.id < b.id`` within a block) with the interpreted
    cosine fold, after the same null-id / null-block / empty-vector
    exclusion. A pair with a zero-norm vector is kept with a null
    cosine, as the kernel keeps it: its NaN passes ``~(cos < t)`` and
    Arrow carries NaN out of pandas as null. (A bare ``dot / norms``
    would raise DIVIDE_BY_ZERO under ANSI, or give null and drop the
    pair without it.)"""
    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.col(block_col).alias("__blk"),
    ).filter(
        F.col(id_col).isNotNull() & (F.size("__v") > 0) & F.col("__blk").isNotNull()
    )
    a, b = base.alias("a"), base.hint("merge").alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.__blk") == F.col("b.__blk")
    )
    va, vb = F.col("a.__v"), F.col("b.__v")
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.when(_norm_col(va) * _norm_col(vb) != 0, _cosine_cols(va, vb)).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine").isNull() | (F.col("cosine") >= threshold))
    )


def oph_raw_lanes(hashes: Column, num_hashes: int = 64, value_bits: int = 64) -> Column:
    """Reference for the lane step of ``npsig.oph_densified_np``: OPH
    lane minima (array<long>, NULL for an empty lane). The top
    ``log2(num_hashes)`` of the ``value_bits``-wide hash pick the lane
    (60 for the md5 feature hash, whose top 4 bits are always zero),
    and each lane keeps its minimum — one ``filter`` + ``array_min``
    per lane."""
    assert num_hashes & (num_hashes - 1) == 0 and num_hashes > 0, (
        f"num_hashes must be a power of two, got {num_hashes}"
    )
    shift = value_bits - (num_hashes - 1).bit_length()  # top bits → lane index
    return F.array(
        *[
            F.array_min(
                F.filter(hashes, lambda h: F.shiftrightunsigned(h, shift) == F.lit(i))
            )
            for i in range(num_hashes)
        ]
    )


def oph_densify_rotation(lanes: Column, num_hashes: int = 64) -> Column:
    """Reference for the densify step of ``npsig.oph_densified_np``:
    an empty lane borrows the nearest occupied lane to the right
    (circular). ``lanes`` should be a materialized column (select
    :func:`oph_raw_lanes` in a prior projection): it is referenced
    several times here, and lambda-bearing expressions are excluded
    from subexpression elimination. All-null input yields an all-null
    signature."""
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    occ = F.filter(idx, lambda i: F.element_at(lanes, i + 1).isNotNull())
    return F.transform(
        idx,
        lambda i: F.coalesce(
            F.element_at(lanes, i + 1),
            F.element_at(
                lanes,
                F.element_at(F.concat(F.filter(occ, lambda j: j >= i), occ), 1) + 1,
            ),
        ),
    )


def simhash_bits(hashes_col: str, bits: int = 64) -> Column:
    """Reference for ``npsig.simhash_np`` over a materialized
    array<long> column: signature bit b is 1 iff more features have
    bit b set than unset — one ``aggregate`` per bit plus a packing
    sum."""
    n = F.size(F.col(hashes_col))

    def bit_count(b: int) -> Column:
        return F.aggregate(
            F.col(hashes_col),
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int"),
        )

    packed: Column | None = None
    for b in range(bits):
        term = F.when(
            bit_count(b) * 2 > n, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    assert packed is not None
    return packed
