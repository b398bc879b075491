"""Scale-safe global ranking: a deterministic, lazy bucketed rank.

Spark plans the reference's un-partitioned ``rank() OVER (ORDER BY
...)`` (its tests :772-863) as one Window task over the WHOLE table.
:func:`global_rank` gives the identical result with no single-partition
stage and no checkpoint:

1. One bounded TakeOrdered collect of the rows with the smallest
   per-row hash, sorted by the ORDER BY, gives at most n − 1 boundaries
   (n = ``spark.sql.shuffle.partitions``).
2. A row's bucket is how many boundaries its key sorts at or after: a
   balanced CASE on the key in Spark's own compare (asc nulls first,
   desc nulls last; NaN, ±0.0), O(log n) per row. It is monotone for
   ANY boundaries, so equal keys share a bucket.
3. Rank within ``Window.partitionBy(bucket)``, plus the rows (rank) or
   distinct keys (dense_rank) of all earlier buckets: one collect of
   ≤ n counts, re-entering as a constant array.

The same input gives the same plan. One hot key is one heavy bucket.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from .scalars import const_array

__all__ = ["global_rank"]

_SAMPLE_PER_BUCKET = 20  # as Spark's RangePartitioner


def _at_or_after(order_cols: list[tuple[str, bool]], bound) -> Column:
    """The key sorts at or after the constant key ``bound``."""
    acc = F.lit(True)
    for (c, asc), v in reversed(list(zip(order_cols, bound))):
        col = F.col(c)
        if v is None:
            after, equal = (col.isNotNull() if asc else F.lit(False)), col.isNull()
        else:
            after = F.coalesce(col > v, F.lit(False)) if asc else F.coalesce(col < v, col.isNull())
            equal = col.eqNullSafe(v)
        acc = after | (equal & acc)
    return acc


def _bucket(order_cols: list[tuple[str, bool]], bounds: list, lo: int, hi: int) -> Column:
    """How many sorted ``bounds`` the key sorts at or after, known to be in [lo, hi]."""
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi + 1) // 2
    return F.when(
        _at_or_after(order_cols, bounds[mid - 1]), _bucket(order_cols, bounds, mid, hi)
    ).otherwise(_bucket(order_cols, bounds, lo, mid - 1))


def global_rank(
    df: DataFrame,
    order_cols: list[tuple[str, bool]],
    dense: bool = False,
    out_col: str = "rnk",
) -> DataFrame:
    """Rank (or dense-rank) every row of ``df`` by a TOTAL order
    without a single-partition window.

    ``order_cols`` is [(column_name, ascending), ...] — the global sort
    order. Returns ``df``'s columns plus ``out_col`` (bigint), equal to
    ``rank()/dense_rank() OVER (ORDER BY ...)``.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    sort_exprs = [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order_cols]
    keys = [F.col(c) for c, _ in order_cols]
    hashable = [f.name for f in df.schema if not isinstance(f.dataType, MapType)]
    sample = (
        df.select(*keys, F.xxhash64(*hashable).alias("__h"))
        .orderBy("__h", *sort_exprs)
        .limit(_SAMPLE_PER_BUCKET * n)
        .orderBy(*sort_exprs)
        .drop("__h")
        .collect()
    )
    picks = [sample[i * len(sample) // n] for i in range(1, n)] if sample else []
    # a repeated boundary (NaN != NaN in Python) only leaves a bucket empty
    bounds = [b for j, b in enumerate(picks) if j == 0 or b != picks[j - 1]]
    part = df.withColumn("__bucket", _bucket(order_cols, bounds, 0, len(bounds)))

    agg = F.count_distinct(F.struct(*keys)) if dense else F.count(F.lit(1))
    per = dict(part.groupBy("__bucket").agg(agg).collect())
    # bucket j starts after buckets 0..j-1 (bigint: may pass 2^31)
    before = accumulate((per.get(b, 0) for b in range(len(bounds))), initial=0)
    offsets = const_array(list(before), "bigint")
    w = Window.partitionBy("__bucket").orderBy(*sort_exprs)
    local = F.dense_rank().over(w) if dense else F.rank().over(w)
    return part.withColumn(
        out_col, local.cast("bigint") + F.element_at(offsets, F.col("__bucket") + 1)
    ).drop("__bucket")
