"""SparkSession construction with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM), but every config here is
chosen so the same code is correct on a 1000-executor cluster reading
~100 TB:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats).
- Shuffle partitions sized for the local core count via env override;
  on a real cluster AQE's coalescing makes the initial number forgiving.
- Arrow enabled so any ``toPandas``/Pandas-UDF boundary is vectorized.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import logging
import os
import sys

from pyspark.sql import SparkSession

__all__ = ["get_spark", "tune_session"]

log = logging.getLogger(__name__)

# Runtime-settable confs the engine depends on for CORRECTNESS (not just
# speed) on *any* session, including one built elsewhere and passed in
# (the driver's contract: entry(spark) / queries()[name](spark, sf_dir)).
# Every key here is settable via spark.conf.set after session start —
# verified against pyspark 4.1 (none is marked static/spark.core).
_RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); without this the parquet
    # reader throws PARQUET_TYPE_ILLEGAL at registration. read_table
    # converts the resulting long to a microsecond timestamp JVM-side.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Timestamp semantics must match the DuckDB oracle (UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Reference dialect is case-insensitive (SURVEY.md §1).
    "spark.sql.caseSensitive": "false",
    # Arrow for any toPandas/Pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime coalescing / skew splitting / broadcast conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at its default (true): measured A/B at
    # sf0.1 — false shaves ~50 ms off shuffle-light queries but
    # serializes CPU-bound post-shuffle stages (window sort 0.52 s →
    # 0.87 s when the exchange coalesces to one advisory-size task).
    # Post-filter small shuffles feeding heavy compute exist at any
    # data scale, so parallelism wins the tie.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dims like region/nation/supplier stay broadcast at fact scale.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Honest scan-size estimates (r12 sf1 A/B catch): Spark's
    # file-size-based sizeInBytes treats compressed+encoded parquet
    # bytes as in-memory bytes, so a column-pruned FACT scan (6M-row
    # lineitem, 3 cols) estimated under the 64MB threshold and Catalyst
    # BROADCAST THE FACT TABLE — ~2× wall on every multi-join shape at
    # sf1 (q_join_multi 3.98→1.97 s, tpch_q5 4.00→1.97 s) and an
    # OOM-class plan at 100 TB. 3× is the conservative end of parquet's
    # measured 3-10× decode expansion; with honest sizes the static
    # planner keeps big sides on SMJ and AQE still builds the genuinely
    # small side from REAL post-shuffle bytes at runtime.
    "spark.sql.sources.fileCompressionFactor": "3.0",
    # Shuffled hash join over sort-merge when a side's honest estimate
    # fits a per-partition hash map (canBuildLocalHashMap: size <
    # broadcast threshold × shuffle partitions, so the per-partition
    # build stays ~64 MB at ANY cluster width — the bound scales with
    # partition count). Skips both sort passes: measured 10-20% on
    # every sf1 join shape (q_join_multi 2.52→1.94 s, tpch_q21
    # 2.38→1.91 s; SCALE.md r12). Corpus-array joins whose width the
    # estimator can't see keep their explicit merge hints — hints
    # outrank this preference, so the no-broadcast pins are unaffected.
    # AQE skew splitting covers SHJ (Spark 3.2+), and sizes are honest
    # post-fileCompressionFactor, so the no-spill build side is bounded.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Belt-and-braces runtime form: even when static estimates are too
    # big, AQE converts SMJ→SHJ from OBSERVED per-partition shuffle
    # bytes when every partition fits the local map (≥ advisory size,
    # 64MB, so coalescing doesn't disarm it).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
}


def _cpus() -> str:
    """Local core count: ``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def tune_session(spark: SparkSession) -> list[str]:
    """Apply the engine's required runtime-settable confs to an
    externally-built session (idempotent, best-effort per key).

    This is the guard against the works-locally/dies-in-driver class of
    bug: get_spark() bakes these into the builder, but a session handed
    to entry()/engine_for() has whatever confs its owner chose.

    Returns the keys that could not be applied; each is also logged as
    a warning.
    """
    failed = []
    for key, value in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception as exc:
            log.warning("tune_session: could not set %s=%s: %s", key, value, exc)
            failed.append(key)
    # Local-mode sessions default to 200 shuffle partitions — a 6×
    # slowdown on a 32-core box. Match the core count; real clusters
    # are handled by AQE coalescing instead.
    try:
        if spark.conf.get("spark.master", "").startswith("local"):
            spark.conf.set("spark.sql.shuffle.partitions", _cpus())
    except Exception as exc:
        log.warning("tune_session: could not set spark.sql.shuffle.partitions: %s", exc)
        failed.append("spark.sql.shuffle.partitions")
    return failed


def get_spark(app_name: str = "dataframe_sql_spark") -> SparkSession:
    """Return (building if needed) the tuned SparkSession: the
    ``_RUNTIME_CONFS`` plus the builder-only confs below."""
    cpus = _cpus()
    builder_only = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.default.parallelism": cpus,
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # the "\r" progress bar glues onto redirected output lines
        "spark.ui.showConsoleProgress": str(sys.stderr.isatty()).lower(),
        # The lineage-truncation operators (operators/lineage.py) eagerly
        # localCheckpoint intermediate frames; their blocks are freed by
        # the ContextCleaner only after a JVM GC collects the RDD object
        # behind its weak reference. The default periodic-GC safety net
        # (30 min) lets a session that builds many short-lived
        # checkpointed frames (repeated queries, the bench, any
        # long-running service) accumulate gigabytes of dead storage
        # blocks: measured at sf0.1, bench keys running LATE in one
        # session degraded 3-10x (sim_ann_ivfpq_build 1.5 -> 14.7 s)
        # purely from this buildup. One forced GC a minute bounds the
        # dead-block window at negligible cost; the same hygiene is the
        # standard recommendation for iterative/streaming apps at any
        # cluster size. Builder-time only: ContextCleaner reads it at
        # SparkContext start, so tune_session cannot retrofit it onto a
        # foreign session.
        "spark.cleaner.periodicGC.interval": "1min",
        # Generated-class cache. The session's working set is larger
        # than Spark's default 100 entries: one pipeline_curation pass
        # (six curation ops, an IVF-PQ index write, eight probes; sf0.1,
        # local[2] on a 4-core host) compiles ~225 distinct classes, so
        # at 100 every later pass recompiled all of them, and the JIT
        # work behind those compiles took 3.5-6 CPU s of a 17-19 s pass.
        # At 1000 a later pass compiles none. Memory bound in SCALE.md.
        # Static conf: CodeGenerator sizes its cache once per JVM, so it
        # is builder-only and tune_session cannot retrofit it.
        "spark.sql.codegen.cache.maxEntries": "1000",
    }
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map={**_RUNTIME_CONFS, **builder_only})
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # If the session already existed, only its runtime SQL confs took
    # the values above; the rest kept what the SparkContext started
    # with (getOrCreate still copies them into the session conf, so read
    # those from the context).
    started = spark.sparkContext.getConf()
    for key, value in builder_only.items():
        if spark.conf.isModifiable(key):
            got = spark.conf.get(key, None)
        else:
            got = started.get(key, None)
        if got != value:
            log.warning("get_spark: %s is %s on this session, not %s", key, got, value)
    return spark

