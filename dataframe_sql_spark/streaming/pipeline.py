"""Structured Streaming operators over the events stream
(/root/testdata/sf*/events.parquet: event_id, ts, user_id, event_type,
value, props).

The reference has no streaming at all (SURVEY.md §2.10); this module
is the extension surface, built on watermarks + event-time windows so
the same code handles late data on an unbounded cluster-scale stream.

Every windowed transform below is defined against a plain DataFrame,
so it works identically in batch mode (for the DuckDB oracle gate) and
on a ``readStream`` source — that's the Structured Streaming model:
one declarative query, micro-batched or continuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "read_events_stream",
    "tumbling_counts",
    "dimension_enriched_counts",
    "sliding_counts",
    "session_counts",
    "dedup_events",
    "purchase_attribution",
    "run_stream_to_memory",
    "run_stream_to_parquet",
    "run_stream_foreach_batch",
    "idempotent_parquet_batch_sink",
]


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet.

    Streaming file sources require a *directory*; testdata ships a
    single file, so it is exposed through a symlink in a temp dir
    (zero copy — in production this is simply the landing directory
    new files arrive in). Schema comes from a batch read of the same
    path; the nanosecond ts is normalized exactly like the batch
    reader."""
    import os
    import tempfile

    stream_dir = os.path.join(
        tempfile.gettempdir(), "dfsql_stream_" + sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Spark >= 4.1 reads TIMESTAMP(NANOS) natively as NTZ;
        # withWatermark wants TIMESTAMP (LTZ). Cast is value-preserving
        # under the session's pinned UTC timezone.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(events: DataFrame, size: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time window counts per event_type.

    Watermark bounds state: windows older than max(event time) −
    watermark are finalized and evicted, which is what keeps state
    finite on an unbounded stream."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dimension_enriched_counts(
    events: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    seg_col: str = "c_mktsegment",
    watermark: str = "1 hour",
    time_col: str = "ts",
) -> DataFrame:
    """Stream-static join: enrich the event stream with a slowly-
    changing dimension, then aggregate per segment.

    The static side is broadcast and re-resolved each micro-batch
    (stateless — the only streaming state is the aggregation's), which
    is THE pattern for enriching a high-volume stream with dimension
    attributes at scale: no stream-side repartition, no join state, and
    a dimension update is picked up by the next micro-batch without
    restarting the query. Aggregate sums go through DECIMAL(18,2) so
    batch and stream (and the DuckDB oracle) agree bit-for-bit.
    """
    src = (
        events.withWatermark(time_col, watermark) if events.isStreaming else events
    )
    d = F.broadcast(
        dim.select(
            F.col(dim_key).alias(key_col), F.col(seg_col).alias("segment")
        )
    )
    return (
        src.join(d, key_col)
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def sliding_counts(
    events: DataFrame, size: str = "1 hour", slide: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Sliding windows: each event lands in size/slide windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. State size is bounded by watermark + gap."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once by event_id within the watermark horizon —
    streaming-safe dedup (state evicted past the watermark)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def running_user_totals(
    events: DataFrame, timeout_minutes: int | None = None
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the escape hatch for semantics no built-in stateful op covers):
    per-user running event count + value total, emitted per batch.

    ``timeout_minutes`` is a REQUIRED choice for streaming input,
    because neither default is safe for both deployment styles:

    - ``timeout_minutes=N`` (> 0) evicts a user's state after N minutes
      of processing-time inactivity — what a continuous 24/7 stream
      needs, or state grows with lifetime key cardinality. BUT a
      processing-time timeout makes ``trigger(availableNow=True)``
      drains NEVER TERMINATE: after the source is exhausted the
      micro-batch engine keeps scheduling empty batches forever to give
      pending timeouts a chance to fire (observed: 80+ empty batches,
      ``isActive`` still true 3 min after the last data batch — the
      round-10 streaming soak surfaced it).
    - ``timeout_minutes=0`` (``NoTimeout``) is what drain-style jobs
      (backfills, tests, exactly-once gates) need to reach termination
      — BUT on a continuous stream it accumulates state unboundedly.

    A silent default would change production semantics at call sites
    (round-10 flipped 60 → 0 and the advisor rightly flagged it), so
    streaming callers must pass it explicitly. Batch input ignores it.

    In batch mode, falls back to the equivalent groupBy aggregate
    (same output schema) — mirroring how the windowed transforms stay
    batch/stream dual.
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"), F.sum("value").alias("total_value")
        )
    if timeout_minutes is None:
        raise ValueError(
            "running_user_totals on a streaming DataFrame requires an "
            "explicit timeout_minutes: 0 (NoTimeout) for drain-style "
            "jobs that must terminate under trigger(availableNow), or "
            "> 0 (processing-time eviction) for continuous streams so "
            "state stays bounded. See the docstring for why there is "
            "no safe default."
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if timeout_minutes > 0:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_minutes > 0
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def purchase_attribution(
    events: DataFrame, horizon: str = "2 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: every click paired with the same
    user's purchases within ``horizon`` after the click.

    In streaming mode both sides carry watermarks and the join
    condition bounds event-time distance, which is exactly what lets
    Spark discard join state older than watermark+horizon — without
    the time bound a stream-stream join would buffer forever. In batch
    mode the identical join runs as a plain range join (DuckDB-oracle
    checkable).
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    cond = (
        (clicks["user_id"] == purchases["p_user"])
        & (purchases["purchase_ts"] >= clicks["click_ts"])
        & (purchases["purchase_ts"] <= clicks["click_ts"] + F.expr(f"INTERVAL {horizon}"))
    )
    return clicks.join(purchases, cond).select(
        "click_id", "user_id", "purchase_ts", "purchase_value"
    )


def _drain(query) -> None:
    """Block, unbounded, until an availableNow query has drained and
    stopped (a bound would return partial output); failures raise."""
    query.awaitTermination()


def run_stream_to_memory(
    df: DataFrame, name: str, spark: SparkSession, output_mode: str = "complete"
):
    """Drive a streaming DataFrame into an in-memory table with the
    availableNow trigger (process-everything-then-stop) and block until
    done. Returns the materialized batch DataFrame."""
    _drain(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    return spark.table(name)


def run_stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
) -> None:
    """Durable file sink with a checkpoint: the write-ahead log in
    ``checkpoint`` records which source files each committed batch
    consumed, so a restart with the same checkpoint resumes after the
    last commit instead of reprocessing — end-to-end exactly-once for
    file→file pipelines. Blocks until the availableNow run drains."""
    _drain(
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_foreach_batch(
    df: DataFrame, batch_fn, checkpoint: str
) -> None:
    """foreachBatch escape hatch: each micro-batch is handed to
    ``batch_fn(batch_df, batch_id)`` as a *batch* DataFrame, so any
    batch-only sink (merge/upsert into a table, JDBC, multi-sink
    fan-out) works from a stream. batch_fn must be idempotent per
    batch_id — Spark may re-run a batch after failure; the
    (checkpoint, batch_id) pair is the dedup key."""
    _drain(
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def idempotent_parquet_batch_sink(out_path: str):
    """Return a ``foreachBatch`` function that writes each micro-batch
    to ``{out_path}/b{batch_id}`` with mode=overwrite — idempotent per
    batch_id, which is exactly the contract foreachBatch requires for
    end-to-end exactly-once: after a failure Spark re-runs the last
    uncommitted batch with the SAME batch_id and (for replayable
    sources like the file source) the same rows, and the overwrite
    replaces any partial/duplicate output from the failed attempt
    instead of appending next to it. The union of the b*/ dirs is then
    exactly the source, no matter how many times batches were retried
    (gated by test_streaming.py::test_restart_after_midstream_failure_
    exactly_once)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")

    return _sink


def streaming_near_dedup(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> None:
    """Streaming corpus curation: near-dup dedup of an unbounded
    document stream against a persisted MinHash band index.

    Each micro-batch (a) signatures only its own documents, (b)
    semi-joins the on-disk band index to drop docs near-duplicating
    *history*, (c) LSH-dedups within itself, then (d) appends kept
    docs to ``out_path`` and their band rows to ``index_path`` — so
    state grows by exactly the kept docs and no historical text is
    ever re-shingled. The band rows are the incremental call's delta,
    read off the batch's one cut gram frame; each sink evaluates the
    kept verdict from that frame, so no text is tokenized twice. The
    first batch runs the same path against an empty index. This is
    the streaming face of
    :func:`...operators.dedup.incremental_minhash_dedup`; watermark
    state stays empty because the "state" lives in the index files,
    which survive restarts with the checkpoint.

    Retry caveat: the two appends are not atomic per batch — a crash
    between them can re-append on the batch replay. At scale both
    sinks should be a transactional table format (the foreachBatch
    shape is exactly the MERGE pattern those formats support);
    duplicate index rows only cost extra candidates, never wrong
    results.
    """
    import os

    from ..operators.dedup import incremental_minhash_dedup

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # the first batch dedups against an empty index
        index = (
            spark.read.parquet(index_path)
            if os.path.exists(index_path)
            else spark.createDataFrame([], "band int, bucket bigint")
        )
        kept, delta = incremental_minhash_dedup(
            batch, index, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        )
        kept.write.mode("append").parquet(out_path)
        delta.write.mode("append").parquet(index_path)

    run_stream_foreach_batch(docs_stream, batch_fn, checkpoint)


def streaming_cms_heavy_hitters(
    words_stream: DataFrame,
    counters_path: str,
    checkpoint: str,
    key_col: str = "word",
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Streaming heavy-hitter tracking: fold an unbounded key stream
    into a persisted Count-Min counter table.

    Each micro-batch computes its OWN CMS partials (sketch-sized:
    ≤ depth × width rows regardless of batch volume), merges them with
    the on-disk counters, and rewrites the counter table — the
    mergeable-sketch property is exactly what makes the state bounded
    and restart-safe (the table plus the checkpoint recover the
    stream position; re-merging a replayed batch is the only retry
    hazard, same caveat as :func:`streaming_near_dedup` — at scale
    both live in a transactional table and the merge is a MERGE).

    Contrast with stateful aggregation: ``groupBy(key).count()`` with
    watermarks keeps per-key state that grows with distinct keys; the
    CMS table NEVER grows past the counter grid, which is the whole
    point at web vocabulary sizes. Point queries / top-k probes read
    the table with :func:`...functions.sketches.cms_estimate`.
    """
    from ..functions.sketches import cms_merge, cms_partials
    from ..sources.io import rewrite_parquet

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        part = cms_partials(
            batch.withColumn("__seg", F.lit(batch_id)),
            "__seg",
            key_col,
            depth=depth,
            width=width,
        )

        def merged(prior: DataFrame | None) -> DataFrame:
            if prior is None:
                return cms_merge(part)
            return cms_merge(cms_merge(part).unionByName(prior.select("d", "idx", "n")))

        rewrite_parquet(batch.sparkSession, counters_path, merged)

    run_stream_foreach_batch(words_stream, batch_fn, checkpoint)
