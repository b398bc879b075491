"""Lineage truncation for iterative operators — local or reliable.

Iterative DataFrame algorithms (label propagation, PageRank) must
break lineage every round: each round references the
previous state more than once, so the un-truncated logical plan doubles
per round and the driver OOMs building it (persist caches data but NOT
the plan). Two truncation modes:

- ``localCheckpoint`` (default): executor-memory/disk backed. Fast, no
  configuration, but blocks lost with an executor must be recomputed
  from nothing — on a single-JVM local run that's fine; on a large
  cluster a lost executor kills the job.
- reliable ``checkpoint()``: writes state to the configured
  ``sparkContext.setCheckpointDir(...)`` (HDFS / object store). The
  100 TB mode — state survives executor loss and the job resumes from
  the last round.

:func:`truncate_lineage` auto-selects: reliable when a checkpoint dir
is configured, local otherwise; callers can force either with the
``reliable`` flag (forcing ``True`` without a dir raises rather than
silently degrading the durability contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["truncate_lineage", "checkpoint_dir_configured"]


def checkpoint_dir_configured(df: DataFrame) -> bool:
    """True iff ``sparkContext.setCheckpointDir(...)`` was called."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def truncate_lineage(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage.

    ``reliable=None`` (default) picks reliable ``checkpoint()`` when a
    checkpoint directory is configured on the SparkContext, else
    ``localCheckpoint()``. ``reliable=True`` requires the directory and
    raises if it is missing; ``reliable=False`` forces the local form.
    """
    if reliable is None:
        reliable = checkpoint_dir_configured(df)
    if reliable:
        if not checkpoint_dir_configured(df):
            raise ValueError(
                "reliable checkpoint requested but no checkpoint directory is "
                "configured — call spark.sparkContext.setCheckpointDir(path) "
                "(HDFS/object-store on a cluster) first"
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
