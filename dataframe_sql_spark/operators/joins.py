"""Join operators beyond the reference surface (SURVEY.md §2.4 J8:
theta/range/as-of/semi/anti — "Spark has them — extension surface").

The as-of join is the one Spark lacks as a built-in; implemented here
with the scalable union-window pattern: ONE shuffle on the by-key,
then a per-key ordered window carries the most recent right-side row
forward — no range explosion, no per-row lookups, works at any skew
AQE can split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "asof_join",
    "range_join",
    "interval_overlap_join",
    "bloom_prefilter_join",
    "symmetric_difference",
    "best_match_linkage",
    "sorted_neighborhood_pairs",
]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.on <= left.on`` within the same ``by`` group (backward
    as-of join, pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics).

    Implementation: tag and union both sides, window per ``by`` ordered
    by (on, side) with ``last(..., ignorenulls=True)`` carrying right
    values forward onto left rows. Cost: one shuffle + one sort —
    same as a single sort-merge join, with no range-condition blowup.

    ``tolerance``: optional max staleness (SQL interval string, e.g.
    ``'10 minutes'``); matches older than that are nulled out.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]
    lhs = left.withColumn("__side", F.lit(1))
    rhs = right.select(
        F.col(by),
        F.col(on),
        *[F.col(c) for c in right_cols],
    ).withColumn("__side", F.lit(0))
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None))
    for c in right_cols:
        if c not in lhs.columns:
            lhs = lhs.withColumn(c, F.lit(None))
        else:
            raise ValueError(f"column collision on {c!r}; rename before asof_join")
    rhs = rhs.select(*lhs.columns)
    unioned = lhs.unionByName(rhs)

    # right rows sort before left rows at the same timestamp → a left row
    # can match a right row with the identical 'on' value
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(F.when(F.col("__side") == 0, F.col(c)), ignorenulls=True)
        .over(w)
        .alias(f"__r_{c}")
        for c in right_cols
    ]
    match_ts = F.last(F.when(F.col("__side") == 0, F.col(on)), ignorenulls=True).over(w)
    out = unioned.select("*", *carried, match_ts.alias("__match_ts")).filter(
        F.col("__side") == 1
    )
    if tolerance is not None:
        stale = F.col("__match_ts") < F.col(on) - F.expr(f"INTERVAL {tolerance}")
        for c in right_cols:
            out = out.withColumn(f"__r_{c}", F.when(stale, F.lit(None)).otherwise(F.col(f"__r_{c}")))
    keep = [c for c in left.columns] + [
        F.col(f"__r_{c}").alias(c) for c in right_cols
    ]
    return out.select(*keep)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_granularity: str | None = None,
) -> DataFrame:
    """Point-in-interval join: left.point ∈ [right.start, right.end).

    A naive range condition forces a broadcast-nested-loop join;
    passing ``bucket_granularity`` ('minute'/'hour'/'day') rewrites it
    as an equi-join on coarse time buckets — each right interval is
    exploded onto every bucket it overlaps, the join keys on the
    bucket, and the residual range predicate filters inside the
    bucket. That's the standard scalable rewrite (works when interval
    width ≲ a few buckets).
    """
    range_cond = (F.col(left_point) >= F.col(right_start)) & (
        F.col(left_point) < F.col(right_end)
    )
    if bucket_granularity is None:
        return left.join(right, range_cond)
    g = bucket_granularity
    lb = left.withColumn("__b", F.date_trunc(g, F.col(left_point)))
    rb = (
        right.withColumn(
            "__bs",
            F.sequence(
                F.date_trunc(g, F.col(right_start)),
                F.date_trunc(g, F.col(right_end)),
                F.expr(f"INTERVAL 1 {g}"),
            ),
        )
        .withColumn("__b", F.explode("__bs"))
        .drop("__bs")
    )
    return lb.join(rb, (lb["__b"] == rb["__b"]) & range_cond).drop("__b")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_granularity: str | None = None,
) -> DataFrame:
    """Interval-overlap join: pairs where ``[ls, le) ∩ [rs, re) ≠ ∅``
    (the condition ``ls < re AND rs < le``) — the second classic
    temporal-join shape next to :func:`range_join`'s point-in-interval.

    A naive overlap condition plans as a nested-loop join; with
    ``bucket_granularity`` both sides explode onto the coarse time
    buckets they span and the join becomes a bucket equi-join with the
    residual overlap predicate — same rewrite (and same interval-width
    ≲ few-buckets applicability note) as :func:`range_join`. A pair
    overlapping several buckets would match in each, so the join keeps
    only the pair's CANONICAL bucket — ``greatest(trunc(ls),
    trunc(rs))``, the later start's bucket, which lies in both spans
    whenever the intervals overlap (``rs < le ⇒ trunc(rs) ≤
    trunc(le)`` and symmetrically) — yielding exactly one output row
    per matching pair with input multiplicity preserved (duplicate
    input rows produce duplicate matches, same as the naive path) and
    no post-join dedup shuffle.

    Malformed intervals (``end < start``, i.e. empty) are dropped
    before the explode on the bucketed path: ``sequence`` with a +1
    step raises when start > stop, and an empty interval overlaps
    nothing under any sane reading. The naive path's raw predicate can
    vacuously match such rows — callers with dirty data should filter
    first on either path.
    """
    cond = (F.col(left_start) < F.col(right_end)) & (
        F.col(right_start) < F.col(left_end)
    )
    if bucket_granularity is None:
        return left.join(right, cond)
    g = bucket_granularity

    def spanned(df: DataFrame, start: str, end: str) -> DataFrame:
        return (
            df.filter(F.col(start) <= F.col(end))
            .withColumn(
                "__bs",
                F.sequence(
                    F.date_trunc(g, F.col(start)),
                    F.date_trunc(g, F.col(end)),
                    F.expr(f"INTERVAL 1 {g}"),
                ),
            )
            .withColumn("__b", F.explode("__bs"))
            .drop("__bs")
        )

    lb = spanned(left, left_start, left_end)
    rb = spanned(right, right_start, right_end)
    canonical = lb["__b"] == F.greatest(
        F.date_trunc(g, lb[left_start]), F.date_trunc(g, rb[right_start])
    )
    return lb.join(rb, (lb["__b"] == rb["__b"]) & cond & canonical).drop("__b")


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    how: str = "inner",
    prefilter_only: bool = False,
) -> DataFrame:
    """Shuffle join with a map-side Bloom pre-filter on the probe side
    — the standard 100-TB trick for joining a huge fact stream against
    a selective build set: probe rows whose key cannot possibly match
    are dropped BEFORE the exchange, so the shuffle moves only
    (matches + false positives) instead of the whole probe side.

    Build: the build side's keys hash to ``num_hashes`` positions
    (xxhash64 seeded per hash, mod ``num_bits``), one distinct-position
    aggregate packs them into a DENSE int64-word array — a BOUNDED
    ``num_bits/64``-long (16K longs / 128 KB at the default 1M bits)
    single-row frame that attaches to the probe side via constant-key
    broadcast (:func:`~.scalars.broadcast_attach`). The whole plan is
    LAZY: no driver collect, no literal (an early version collected
    the words into an ``F.lit(list)`` — per-element py4j conversion
    made literal CREATION cost ~0.5 ms/element, 8+ s at 16K words,
    dwarfing the job itself; driver-side constants now go through
    :func:`~.scalars.const_array`, one plan node, but a collect would
    still be an eager job). Probe: each row tests its k bit
    positions against the broadcast array with shift/mask expressions
    in whole-stage codegen, before the join's exchange.

    No false negatives by construction (every build key set all its
    bits), so for ``how`` in ``{'inner', 'left_semi'}`` the join
    RESULT is provably identical to the plain join — only the
    shuffled volume changes; false positives just ride the shuffle as
    they always did. Other modes are REJECTED: dropping probe rows
    before a left/full outer join would delete the null-extended rows
    the mode exists to keep (or keep only Bloom false positives), and
    a left_anti would be nearly inverted. With ~1M bits / 5 hashes the FP rate
    at 50k build keys is ~1e-5. At larger build sides, size num_bits
    at ~10 bits/key (Spark's own runtime row-level bloom filtering
    applies the same idea adaptively; this operator is the explicit,
    plan-visible form with a documented memory bound).
    """
    from .scalars import broadcast_attach

    if how not in ("inner", "left_semi"):
        raise ValueError(
            "bloom_prefilter_join preserves semantics only for "
            f"how in {{'inner', 'left_semi'}}; got {how!r}. Outer/anti "
            "modes need the unfiltered probe side — use a plain join."
        )
    m = num_bits
    n_words = (m + 63) // 64
    pos_cols = [
        F.pmod(F.xxhash64(F.col(on), F.lit(i)), F.lit(m)) for i in range(num_hashes)
    ]
    packed = (
        build.select(F.explode(F.array(*pos_cols)).alias("__pos"))
        .distinct()
        .groupBy((F.col("__pos") / 64).cast("int").alias("__w"))
        .agg(
            # SQL shiftleft accepts a column shift amount (the PySpark
            # wrapper's numBits is Python-int-only, hence call_function)
            F.bit_or(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(F.col("__pos"), F.lit(64)).cast("int"),
                )
            ).alias("__bits")
        )
    )
    # densify (absent words = 0) and fold into ONE array row, in-plan
    bits_row = (
        probe.sparkSession.range(n_words)
        .select(F.col("id").cast("int").alias("__wd"))
        .join(packed, F.col("__wd") == F.col("__w"), "left")
        .select("__wd", F.coalesce("__bits", F.lit(0).cast("long")).alias("__b"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__wd", "__b"))),
                lambda s: s["__b"],
            ).alias("__bloom")
        )
    )

    def _test(pos):
        word = F.element_at(F.col("__bloom"), (pos / 64).cast("int") + 1)
        return (
            F.call_function(
                "shiftright", word, F.pmod(pos, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1
        )

    cond = _test(pos_cols[0])
    for p in pos_cols[1:]:
        cond = cond & _test(p)
    filtered = broadcast_attach(probe, bits_row).filter(cond).drop("__bloom")
    if prefilter_only:  # the filtered probe side, for FP-rate inspection
        return filtered
    return filtered.join(build, on, how)


def symmetric_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """Rows in exactly one of the two inputs (distinct semantics).

    This is what the *reference's own test oracle* computes for EXCEPT
    (full-outer merge keeping ``_merge != 'both'`` —
    pandas_sql_functionality_test.py:602-614), which diverges from
    ANSI EXCEPT. The engine's ``EXCEPT`` follows ANSI (SURVEY.md §2.8
    note); this operator preserves reference-compatible behavior for
    migrating users. A value present on both sides is dropped entirely
    (distinct semantics, matching the pandas merge-indicator oracle).
    """
    return a.subtract(b).union(b.subtract(a))


def best_match_linkage(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    max_distance: int = 2,
) -> DataFrame:
    """Record linkage: best fuzzy match per left record, blocked.

    The classic entity-resolution shape (Fellegi–Sunter blocking +
    string comparison): candidate pairs come from an equi-join on
    ``block_cols`` (a cheap, high-recall key — nation, zip prefix,
    phonetic code), candidates are scored with built-in JVM
    ``levenshtein`` (no UDF), pairs beyond ``max_distance`` are
    dropped, and a per-left-record window keeps exactly one best
    match (min distance, then min ``right_id`` — deterministic).

    Scale: the only shuffles are the block-key equi-join and the
    per-``left_id`` window; cost is quadratic per block, so at 100 TB
    the block key must bound group size (compose several — e.g.
    (zip3, name_initial) — exactly as the dedup family bounds LSH
    buckets). The levenshtein filter runs inside whole-stage codegen
    before the window shuffle, so only surviving candidates move.
    """
    lhs = left.select(
        *[F.col(c) for c in block_cols],
        F.col(left_id).alias("__lid"),
        F.col(left_text).alias("__ltext"),
    )
    rhs = right.select(
        *[F.col(c) for c in block_cols],
        F.col(right_id).alias("__rid"),
        F.col(right_text).alias("__rtext"),
    )
    scored = (
        lhs.join(rhs, on=block_cols)
        .withColumn("__dist", F.levenshtein(F.col("__ltext"), F.col("__rtext")))
        .filter(F.col("__dist") <= max_distance)
    )
    w = Window.partitionBy("__lid").orderBy(F.col("__dist"), F.col("__rid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias("matched_id"),
            F.col("__dist").alias("distance"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str,
    window: int = 3,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): rank all
    records by ``sort_cols`` and emit every pair within ``window``
    positions of each other.

    The complement to equality blocking (:func:`best_match_linkage`):
    records that should match but disagree on every blocking attribute
    still sort near each other under a well-chosen key, and candidate
    volume is exactly ``n * window`` — linear by construction, immune
    to the oversized-block blowup equality blocking risks.

    Scale: the global order comes from the bucketed rank
    (``operators/rank.py::global_rank`` — no single-partition window,
    no checkpoint), each record explodes onto its next ``window``
    positions, and the pairing is a plain equi-join on the position —
    hash joins end to end. Both join sides read one rank exchange (AQE
    reuses it), so the source is scanned once. ``id_col`` is appended
    to the sort key as a tiebreak so positions are unique (rank ==
    row_number) and the neighborhood is deterministic.

    Returns (id_a, id_b, pos_a, pos_b) with pos_a < pos_b; each column
    ``c`` in ``carry_cols`` is carried through the rank table and comes
    back as ``<c>_a`` / ``<c>_b`` — callers that verify pairs on an
    attribute (e.g. edit distance on the sort key itself) get both
    sides' values without re-joining the source table per side. A
    carry column must not be ``id_col``, start with ``__`` (the
    operator's own columns), or alias onto an output column
    (``id``/``pos`` would become ``id_a``…); such names raise
    ``ValueError`` naming the column.
    """
    from .rank import global_rank

    for c in carry_cols:
        if c == id_col or c.startswith("__") or c in ("id", "pos"):
            raise ValueError(
                f"sorted_neighborhood_pairs: carry column {c!r} collides with "
                f"id_col {id_col!r}, an internal __ column, or the "
                "id_a/id_b/pos_a/pos_b outputs"
            )

    order = [(c, True) for c in sort_cols] + [(id_col, True)]
    ranked = global_rank(df, order, out_col="__pos").select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("__pos"),
    )
    probes = ranked.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry_cols],
        F.col("__pos").alias("pos_a"),
        F.explode(
            F.sequence(F.col("__pos") + 1, F.col("__pos") + window)
        ).alias("__nbr"),
    )
    return probes.join(
        ranked.select(
            F.col(id_col).alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in carry_cols],
            F.col("__pos").alias("__nbr"),
        ),
        "__nbr",
    ).select(
        "id_a",
        "id_b",
        "pos_a",
        F.col("__nbr").alias("pos_b"),
        *[f"{c}_a" for c in carry_cols],
        *[f"{c}_b" for c in carry_cols],
    )
