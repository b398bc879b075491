"""Skew-mitigation helpers for hot-key aggregations and joins.

At 100 TB a handful of hot keys (one viral document source, one huge
customer) can pin a whole stage on one task. AQE's skew-join splitting
(enabled in session.py) handles sort-merge join skew at runtime; these
helpers cover the two cases AQE doesn't:

- ``salted_agg``: two-phase aggregation for hot GROUP BY keys —
  partial-aggregate on (key, salt), then final-aggregate on key. Only
  algebraic aggregates (sum/count/min/max and anything composed from
  them, e.g. avg = sum/count) can split this way.
- ``salted_join``: replicate-and-salt equi-join — hot probe keys are
  split across salt buckets while the build side is replicated
  buckets×, so no single task owns a hot key's entire row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scalars import const_array

__all__ = ["with_salt", "salted_agg", "salted_join"]


def with_salt(df: DataFrame, buckets: int = 16, col_name: str = "__salt") -> DataFrame:
    """Add a uniform salt column in [0, buckets). Deterministic per
    row content is NOT required — salt only has to distribute load, so
    a cheap per-row uniform draw (codegen'd rand) is correct."""
    return df.withColumn(col_name, (F.rand(seed=42) * buckets).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max}. Phase 1 aggregates on (keys + salt) — hot
    keys split across ``buckets`` tasks; phase 2 merges the partials
    on the true keys (sum of counts, min of mins, …). Result is
    exactly equal to the unsalted groupBy.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for _, (_, fn) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted")
    salted = with_salt(df, buckets)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[first_fn[fn](c).alias(out) for out, (c, fn) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[merge_fn[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the probe side gets a random salt, the
    build side is replicated once per salt value (explode of a literal
    range — build grows buckets×, so keep build the smaller side), and
    the join runs on (keys + salt). A key owning 30% of the probe rows
    now spreads over ``buckets`` tasks instead of pinning one.

    Result is exactly the plain join (each probe row matches exactly
    one replica of each matching build row). Prefer AQE skew-join
    splitting when it applies; this covers plans AQE can't rewrite
    (e.g. a shuffle reused by a later stage, or non-sort-merge joins).

    Only probe-preserving join types are allowed: right/full outer
    would emit every unmatched *build* row once per replica.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports probe-preserving joins only, not {how!r} "
            "(build-side replication would duplicate unmatched build rows)"
        )
    p = with_salt(probe, buckets)
    b = build.withColumn(
        "__salt", F.explode(const_array(range(buckets), "int"))
    )
    return p.join(b, on=[*on, "__salt"], how=how).drop("__salt")
