"""Sources/sinks (SURVEY.md §2.1).

The reference ingests via ``pandas.read_csv`` at registration time
(/root/reference/dataframe_sql/tests/utils.py:15-19) and has no file
sinks. Here every reader returns a lazy DataFrame whose scan supports
predicate pushdown + column pruning (parquet/csv data sources), and
writers are thin wrappers that keep partitioning explicit — both are
what make the same call scale to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

__all__ = [
    "TESTDATA_TABLES",
    "FAN_OUT_TABLES",
    "read_table",
    "read_csv",
    "read_json",
    "scan_fan_out",
    "write_parquet",
    "rewrite_parquet",
    "merge_upsert",
]


# Corpus-axis tables whose pipelines do heavy per-row CPU work
# (featurization, signature math, vector scoring) BEFORE their first
# exchange. events is deliberately excluded: its consumers shuffle by
# user_id immediately, so a post-read exchange is pure overhead
# (measured r14: x_sessionize 0.20 s -> 0.54 s, ts_ewma 0.31 -> 0.52).
# r15 (verdict item 4): embeddings removed — with the r14 Arrow
# kernels, every measured embeddings consumer is HURT by the fan-out
# exchange (interleaved sf0.1 A/B, /tmp/fanout_ab2.jsonl: dd_semantic
# 1.55→3.25 s, emb_kmeans 0.80→1.53, sim_ann_ivf 0.70→1.05, sim_ann_pq
# 0.88→1.30, sim_topk 0.29→0.42, dd_embedding 0.78→1.32): the vector
# payload costs more to shuffle than the vectorized kernels save.
# documents stays: the win lives in the md5/explode-heavy SQL scans
# (txt_winnow_fingerprint 3.17→1.03, txt_repetition 1.10→0.68,
# txt_word_rarity 1.26→0.96, dd_substring_spans 1.61→1.28); fn entries
# whose first exchange arrives immediately opt out per consumer via
# `_docs(..., fan_out=False)` (registry_common).
FAN_OUT_TABLES = ("documents",)
# scan_fan_out leaves inputs above this size alone: a full-table
# shuffle would cost more than the under-split scan it fixes
FAN_OUT_MAX_BYTES = 4 * 1024**3


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-valued conf ("134217728b", "128MB", "1g")."""
    import re

    raw = str(spark.conf.get(key, str(default))).strip().lower()
    m = re.match(r"^(\d+)\s*([kmgt]?i?b?)$", raw)
    if not m:
        return default
    mult = {
        "": 1, "b": 1,
        "k": 1024, "kb": 1024, "kib": 1024,
        "m": 1024**2, "mb": 1024**2, "mib": 1024**2,
        "g": 1024**3, "gb": 1024**3, "gib": 1024**3,
        "t": 1024**4, "tb": 1024**4, "tib": 1024**4,
    }[m.group(2)]
    return int(m.group(1)) * mult


def scan_fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive post-read fan-out (optimization guide §2.5,
    "input skew": a small or unsplittable input produces fewer scan
    tasks than the cluster has cores, so any CPU-heavy per-row work
    before the first exchange runs near-serially).

    The testdata tables are single-file single-row-group parquet —
    every scan is ONE task, and at sf0.1 the tokenize/shingle/signature
    projections of the dedup/text pipelines were measured running on 1
    of 32 cores (txt_winnow_fingerprint 2.6 s -> 0.6 s from this change
    alone). When the input's file bytes cannot fill the session's
    default parallelism at maxPartitionBytes granularity — i.e. the
    scan is guaranteed to under-parallelize — repartition (round-robin)
    to defaultParallelism right after the read. The shuffled bytes are
    bounded by cores x maxPartitionBytes for the triggering case and a
    hard byte cap guards the cluster edge (a wide-but-under-split table
    should widen splits, not pay a full-table shuffle).

    At production scale (enough splits, or too many bytes) this is a
    no-op — nothing here is tuned to local mode; the decision derives
    from input size and session parallelism.
    """
    import os

    try:
        if os.path.isdir(path):
            n_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        else:
            n_bytes = os.path.getsize(path)
    except OSError:  # non-local / vanished path: leave the scan alone
        return df
    target = spark.sparkContext.defaultParallelism
    mpb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    if n_bytes // mpb >= target or n_bytes > FAN_OUT_MAX_BYTES:
        return df
    return df.repartition(target)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table (TESTDATA.md layout).

    ``events.ts`` is stored as TIMESTAMP(NANOS); normalize it to a
    microsecond TIMESTAMP (LTZ) whatever the Spark version hands back:
    older Sparks read it as a nanosecond long under
    ``spark.sql.legacy.parquet.nanosAsLong`` (convert via JVM-side
    ``timestamp_micros``); Spark ≥ 4.1 reads it natively as
    TIMESTAMP_NTZ (cast — value-preserving because the session timezone
    is pinned to UTC by ``tune_session``). Micros truncation matches
    DuckDB's internal precision, so oracles agree either way.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() in ("long", "bigint"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """CSV with header+inference by default — mirrors the reference's
    ``read_csv`` ingestion semantics (utils.py:15-19)."""
    opts = {"header": "true", "inferSchema": "true", **options}
    return spark.read.options(**opts).csv(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).json(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) managed table.

    Bucketing pre-shuffles data by the join/agg key at write time: two
    tables bucketed the same way join with ZERO exchange, and
    aggregations on the bucket key skip the shuffle — the single
    biggest lever for repeated joins at 100 TB. Requires the session
    catalog (``saveAsTable``); bucket metadata lives in the metastore.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. ``partition_by`` low-cardinality columns (e.g.
    date) so downstream scans get partition pruning at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def rewrite_parquet(spark: SparkSession, target_path: str, merge) -> None:
    """Replace the parquet directory ``target_path`` with
    ``merge(current)`` (``current``: its DataFrame, or None if absent).

    Spark cannot safely overwrite a path it is still reading, so the
    result is written to ``.__staging__`` and swapped in with two
    renames (target→``.__old__``, staging→target), then ``.__old__``
    is removed. The swap is NOT atomic: concurrent readers can hit
    ENOENT. A crash between the renames leaves the previous data at
    ``.__old__`` and no target; the next call moves it back first.
    """
    import os
    import shutil

    target = target_path.rstrip("/")
    staging, old = target + ".__staging__", target + ".__old__"
    if not os.path.exists(target) and os.path.exists(old):
        os.rename(old, target)
    current = spark.read.parquet(target) if os.path.exists(target) else None
    merge(current).write.mode("overwrite").parquet(staging)
    if os.path.exists(old):
        shutil.rmtree(old)
    had_target = os.path.exists(target)
    if had_target:
        os.rename(target, old)
    os.rename(staging, target)
    if had_target:
        shutil.rmtree(old)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """Key-based upsert into a parquet directory: rows whose keys
    appear in ``updates`` are replaced, everything else is kept.

    One left-anti join (current minus updated keys) + union, swapped
    in by :func:`rewrite_parquet` — the plain-parquet stand-in for a
    table format's atomic MERGE (Delta/Iceberg) at 100 TB. The anti
    join broadcasts when the update batch is small, the common CDC
    shape. ``updates`` must hold one row per key (dedup upstream —
    e.g. keep max-version per key); duplicate update keys are written
    as-is.
    """

    def merged(current: DataFrame | None) -> DataFrame:
        if current is None:
            return updates
        return current.join(
            updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        ).unionByName(updates)

    rewrite_parquet(spark, target_path, merged)
