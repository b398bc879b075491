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

:func:`truncate_lineage` selects the mode from the session alone:
reliable when a checkpoint dir is configured, local otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["truncate_lineage", "checkpoint_dir_configured"]


def checkpoint_dir_configured(df: DataFrame) -> bool:
    """True iff ``sparkContext.setCheckpointDir(...)`` was called."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: reliable
    ``checkpoint()`` when a checkpoint directory is configured on the
    SparkContext, else ``localCheckpoint()``."""
    if checkpoint_dir_configured(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
