"""Deterministic sampling / splitting operators for training-data
pipelines.

The reference has no sampling surface (SURVEY §2 — SELECT-only
grammar); these are north-star extensions. Everything here is
**hash-based, not RNG-based**: assignment depends only on the row's id
and an explicit seed, so results are

- reproducible across reruns, partitionings, and cluster sizes
  (``DataFrame.sample`` is none of these — its output depends on
  partition layout);
- map-side only — no shuffle, no driver state, no RNG
  synchronization, which is the only sane design at 100 TB;
- cross-engine checkable: the hash is ``md5("{id}:{seed}")`` and the
  bucket decision compares the first 8 hex chars as *strings*, which
  DuckDB reproduces bit-for-bit (see the registry oracles).

The 8-hex-char prefix gives 16^8 ≈ 4.3e9 buckets — fraction
granularity ~2.3e-10, far below any practical split ratio.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket_hex",
    "hash_split",
    "hash_sample",
    "stratified_hash_sample",
    "dataset_mix",
    "temperature_mix",
    "global_shuffle",
    "negative_pairs",
]

_HEX_SPACE = 16**8


def hash_bucket_hex(id_col: str, seed: int) -> Column:
    """First 8 hex chars of ``md5("{id}:{seed}")`` — a uniform draw in
    [0, 16^8) encoded as a lexicographically ordered hex string."""
    return F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 8
    )


def hex_threshold(fraction: float) -> str:
    """Hex-string threshold t such that P[bucket < t] == fraction
    (up to 1/16^8). Shared by operators and their SQL oracles.

    fraction ≥ 1.0 returns "g" — lexicographically above every hex
    string — so "keep everything" keeps the rows whose bucket is
    exactly ffffffff too (clamping to ffffffff would silently drop
    ~1 row per 4.3e9 at 100 TB scale).
    """
    if fraction >= 1.0:
        return "g"
    return format(max(int(fraction * _HEX_SPACE), 0), "08x")


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (e.g. train/val/test) by id
    hash. Weights must sum to ~1; the last split absorbs rounding.

    Map-side projection only — the plan is a single whole-stage-codegen
    scan+project, no exchange.
    """
    names = list(weights)
    bucket = hash_bucket_hex(id_col, seed)
    expr: Column | None = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < F.lit(hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    out = expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])
    return df.withColumn(split_col, out)


def hash_sample(df: DataFrame, id_col: str, fraction: float, seed: int = 42) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by id hash."""
    return df.filter(hash_bucket_hex(id_col, seed) < F.lit(hex_threshold(fraction)))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all of rare ones). Strata absent from ``fractions``
    get ``default_fraction``.

    Still map-side only: the per-stratum threshold is a CASE over
    literals, not a join against a fractions table.
    """
    bucket = hash_bucket_hex(id_col, seed)
    thr: Column | None = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == F.lit(value)
        t = F.lit(hex_threshold(frac))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = (
        thr.otherwise(F.lit(hex_threshold(default_fraction)))
        if thr is not None
        else F.lit(hex_threshold(default_fraction))
    )
    return df.filter(bucket < thr)


def global_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 42,
    bucket_hex_chars: int = 3,
    rank_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    dense rank 1..N in ``md5("{id}:{seed}")`` order — the "shuffle the
    corpus once, stream it in rank order" step before sequence packing.

    The naive ``row_number() OVER (ORDER BY hash)`` is a
    single-partition global sort — the one plan shape that cannot
    survive 100 TB. This computes the same permutation in parallel:

    1. bucket = first ``bucket_hex_chars`` hex chars of the hash
       (4096 buckets at 3 chars; md5 makes them uniform, no skew);
    2. within-bucket ``row_number()`` ordered by (hash, id) — one
       ordinary hash-partitioned shuffle+sort, fully parallel;
    3. global offset of each bucket = running sum over the tiny
       bucket-count table (4096 rows — the only single-partition step),
       broadcast-joined back.

    Because the bucket is a *prefix* of the hash, (bucket, hash, id)
    order equals (hash, id) order, so offset + local rank reproduces
    the exact global row_number — verified against the naive
    formulation by the DuckDB oracle.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    with_h = df.withColumn("_gs_h", h).withColumn(
        "_gs_b", F.substring(F.col("_gs_h"), 1, bucket_hex_chars)
    )
    counts = with_h.groupBy("_gs_b").count()
    w_off = Window.orderBy("_gs_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_gs_b", F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("_gs_off")
    )
    w_local = Window.partitionBy("_gs_b").orderBy("_gs_h", F.col(id_col))
    return (
        with_h.join(F.broadcast(offsets), "_gs_b")
        .withColumn(rank_col, (F.col("_gs_off") + F.row_number().over(w_local)).cast("bigint"))
        .drop("_gs_h", "_gs_b", "_gs_off")
    )


def dataset_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target_weights: dict[str, float],
    seed: int = 42,
    max_sources: int = 100_000,
) -> DataFrame:
    """Downsample each source so the output matches a target mixture
    (e.g. ``{"web": 0.5, "code": 0.3, "books": 0.2}``) at the maximum
    feasible volume — the "data mixing" step of a training pipeline.

    The feasible total is ``T = min_s(count_s / w_s)`` (the binding
    source is kept whole); every other source gets acceptance fraction
    ``T * w_s / count_s``. Selection is the same hash-based, map-side
    mechanism as :func:`stratified_hash_sample`, so the result is
    deterministic across reruns and partitionings, and sources NOT in
    ``target_weights`` are dropped (a mixture is a whitelist).

    The only non-map-side step is one groupBy(source).count() whose
    result is collected — bounded by source cardinality, guarded by
    ``max_sources`` (same driver-OOM guard as the dynamic pivot).
    """
    rows = (
        df.groupBy(source_col).count().limit(max_sources + 1).collect()
    )
    if len(rows) > max_sources:
        raise ValueError(
            f"source cardinality exceeds max_sources={max_sources}; "
            "mixing needs a bounded source dimension"
        )
    counts = {r[0]: r[1] for r in rows}
    present = {s: w for s, w in target_weights.items() if s in counts and w > 0}
    if not present:
        raise ValueError("no target_weights source present in the data")
    t = min(counts[s] / w for s, w in present.items())
    fractions = {s: min(1.0, t * w / counts[s]) for s, w in present.items()}
    return stratified_hash_sample(
        df, id_col, source_col, fractions, seed=seed, default_fraction=0.0
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    tau: float = 0.5,
    seed: int = 42,
    max_sources: int = 100_000,
) -> DataFrame:
    """Temperature-based source rebalancing — the multilingual-
    pretraining recipe (sample source s with probability ∝ n_s^τ,
    τ < 1 upweighting low-resource sources; τ=1 is natural
    proportions, τ→0 is uniform).

    Unlike :func:`dataset_mix` (explicit target weights), the weights
    derive from the data itself, and the acceptance fraction reduces
    in closed form: with w_s ∝ n_s^τ the feasible-volume binding
    source is the SMALLEST one, and ``frac_s = (n_min / n_s)^(1-τ)``
    — the normalization constant cancels algebraically, so no
    summation-order float hazard exists. The smallest source is kept
    whole; larger sources downsample toward balance.

    For τ = 0.5 (the common setting) the fraction is computed as
    ``sqrt(n_min) / sqrt(n_s)``: both sqrt and the division are
    correctly-rounded IEEE ops, so a SQL oracle writing the same two
    ops reproduces the thresholds bit-identically (the engine-portable
    determinism contract; other τ values work but carry last-ulp
    ``pow`` risk across engines). Selection is the shared md5
    hex-threshold mechanism (:func:`stratified_hash_sample`) — map-
    side after one bounded source-count aggregate.
    """
    import math

    rows = df.groupBy(source_col).count().limit(max_sources + 1).collect()
    if len(rows) > max_sources:
        raise ValueError(
            f"source cardinality exceeds max_sources={max_sources}; "
            "mixing needs a bounded source dimension"
        )
    counts = {r[0]: r[1] for r in rows}
    if not counts:
        raise ValueError("no rows to mix")
    n_min = min(counts.values())
    if tau == 0.5:
        fractions = {
            s: min(1.0, math.sqrt(n_min) / math.sqrt(c)) for s, c in counts.items()
        }
    else:
        fractions = {
            s: min(1.0, (n_min ** (1.0 - tau)) / (c ** (1.0 - tau)))
            for s, c in counts.items()
        }
    return stratified_hash_sample(
        df, id_col, source_col, fractions, seed=seed, default_fraction=0.0
    )


def negative_pairs(df: DataFrame, id_col: str, k: int = 4) -> DataFrame:
    """Deterministic negative sampling for contrastive training.

    Every row draws ``k`` pseudo-random partners via the repo's
    engine-portable md5 coin (no RNG — reruns, retries, and a SQL
    oracle agree exactly): partner position = md5(id:neg:j) mod N,
    mapped back to a row through a dense position index built by the
    bucketed global rank (no SinglePartition window). Self-draws are
    dropped rather than redrawn, so the expected negatives per row is
    k·(N-1)/N — the standard accept-reject simplification.

    Plan: rank (one bucket-keyed window) + 1-row count broadcast +
    one position equi-join. At 100 TB the index build amortizes across
    every epoch's sampling pass.

    Returns (id_col, j, neg_id) with j in 1..k (bigint).
    """
    from .rank import global_rank

    idx = global_rank(df.select(id_col), [(id_col, True)], out_col="pos")
    n1 = idx.agg(F.count("*").alias("__n"))
    from .scalars import broadcast_attach, const_array

    probes = broadcast_attach(idx, n1).select(
        id_col,
        "pos",
        "__n",
        F.explode(const_array(range(1, k + 1), "int")).alias("j"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":neg:"),
                    F.col("j").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    probes = probes.withColumn("tpos", (h % F.col("__n")) + 1).filter(
        F.col("tpos") != F.col("pos")
    )
    return probes.join(
        idx.select(F.col("pos").alias("tpos"), F.col(id_col).alias("neg_id")),
        "tpos",
    ).select(id_col, F.col("j").cast("bigint").alias("j"), "neg_id")
