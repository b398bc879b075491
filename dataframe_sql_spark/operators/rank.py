"""Scale-safe global ranking — two-pass range-partitioned rank.

The reference's un-partitioned ``rank() OVER (ORDER BY ...)`` (its
tests :772-863; xfail there, native here) has no direct parallel form:
Spark plans it as ``Exchange SinglePartition`` + one Window task that
sorts and ranks the WHOLE table — the one remaining scale killer
SCALE.md documented for ``w_rank``/``w_rank_multi``/``w_dense_rank``.

This operator computes the identical result in two distributed passes:

1. ``repartitionByRange`` on the sort keys (a sampled range exchange —
   the same machinery a global ``ORDER BY`` uses), annotate each row
   with its range-partition id, and pin the placement with an eager
   checkpoint (the range partitioner SAMPLES boundaries, so two
   separate jobs over the same lineage could otherwise disagree on row
   placement). The checkpoint is ``localCheckpoint`` by default and
   reliable ``checkpoint()`` when a checkpoint dir is configured /
   ``reliable=True`` is passed — see :mod:`.lineage`.
2. Rank within each partition (``Window.partitionBy(pid)`` — parallel,
   no global exchange) and add the partition's global offset: the
   number of rows (rank) or distinct keys (dense_rank) in all
   preceding partitions. Offsets are one tiny aggregate collected to
   the driver — ≤ ``num_partitions`` longs, the same bounded-collect
   class as IVF centroids — and re-enter the plan as a literal array
   lookup, so the final plan has NO single-partition stage at all.

Correctness hinges on a RangePartitioner invariant: equal keys land in
the same partition, so no tie group ever spans a partition boundary
and local rank + preceding-row offset equals the global rank (same
argument with distinct-key counts for dense_rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lineage import truncate_lineage
from .scalars import const_array

__all__ = ["global_rank"]


def global_rank(
    df: DataFrame,
    order_cols: list[tuple[str, bool]],
    dense: bool = False,
    out_col: str = "rnk",
    num_partitions: int | None = None,
    reliable: bool | None = None,
) -> DataFrame:
    """Rank (or dense-rank) every row of ``df`` by a TOTAL order
    without a single-partition window.

    ``order_cols`` is [(column_name, ascending), ...] — the global sort
    order. Returns ``df``'s columns plus ``out_col`` (bigint), equal to
    ``rank()/dense_rank() OVER (ORDER BY ...)``.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sort_exprs = [
        F.col(c).asc() if asc else F.col(c).desc() for c, asc in order_cols
    ]
    part = truncate_lineage(
        df.repartitionByRange(n, *sort_exprs).withColumn(
            "__pid", F.spark_partition_id()
        ),
        reliable=reliable,
    )
    keys = [F.col(c) for c, _ in order_cols]
    agg = (F.count_distinct(*keys) if dense else F.count(F.lit(1))).alias("__n")
    per = {
        r["__pid"]: r["__n"] for r in part.groupBy("__pid").agg(agg).collect()
    }
    offsets, acc = [], 0
    for pid in range(n):
        offsets.append(acc)
        acc += per.get(pid, 0)
    # bigint: the offsets are row counts, which may pass 2^31
    off_arr = const_array(offsets, "bigint")

    w = Window.partitionBy("__pid").orderBy(*sort_exprs)
    local = F.dense_rank().over(w) if dense else F.rank().over(w)
    return part.withColumn(
        out_col,
        local.cast("bigint") + F.element_at(off_arr, F.col("__pid") + 1),
    ).drop("__pid")
