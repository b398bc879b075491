"""Real Structured Streaming path: readStream over the events parquet,
watermarked windowed aggregation, memory sink — proving the same
declarative transforms run in both batch (oracle-checked in the
catalog) and streaming mode."""

from __future__ import annotations

import os

import pytest

from dataframe_sql_spark.streaming.pipeline import (
    dedup_events,
    read_events_stream,
    run_stream_to_memory,
    session_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream(spark):
    return read_events_stream(spark, SF_DIR)


def test_stream_is_streaming(events_stream):
    assert events_stream.isStreaming


def test_tumbling_stream_matches_batch(spark, engine, events_stream):
    batch = tumbling_counts(engine.spark.table("events"), "1 hour")
    streamed = run_stream_to_memory(
        tumbling_counts(events_stream, "1 hour"), "t_tumbling", spark
    )
    b = {(r.wstart, r.event_type): (r.n, round(r.sum_value, 4)) for r in batch.collect()}
    s = {(r.wstart, r.event_type): (r.n, round(r.sum_value, 4)) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_session_stream_runs(spark, events_stream):
    out = run_stream_to_memory(
        session_counts(events_stream, "30 minutes"), "t_session", spark
    )
    rows = out.collect()
    assert len(rows) > 0 and all(r.n_events >= 1 for r in rows)


def test_stateful_requires_explicit_timeout_on_stream(events_stream):
    # No safe default exists: NoTimeout never evicts on a 24/7 stream,
    # ProcessingTimeTimeout never terminates under availableNow drains.
    # Streaming callers must choose; batch callers need not.
    from dataframe_sql_spark.streaming.pipeline import running_user_totals

    with pytest.raises(ValueError, match="timeout_minutes"):
        running_user_totals(events_stream)


def test_stateful_running_totals_stream(spark, engine, events_stream):
    from dataframe_sql_spark.streaming.pipeline import running_user_totals

    streamed = run_stream_to_memory(
        running_user_totals(events_stream, timeout_minutes=0), "t_stateful", spark, output_mode="update"
    )
    # single-batch availableNow run → final state equals the batch aggregate
    batch = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in running_user_totals(engine.spark.table("events")).collect()
    }
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6)) for r in streamed.collect()
    }
    assert got == batch and len(got) > 0


def test_stream_stream_join_matches_batch(spark, engine, events_stream):
    from dataframe_sql_spark.streaming.pipeline import purchase_attribution

    batch = {
        (r.click_id, round(r.purchase_value, 4))
        for r in purchase_attribution(engine.spark.table("events")).collect()
    }
    streamed = run_stream_to_memory(
        purchase_attribution(events_stream), "t_ssjoin", spark, output_mode="append"
    )
    got = {(r.click_id, round(r.purchase_value, 4)) for r in streamed.collect()}
    assert got == batch and len(got) > 0


def test_parquet_sink_checkpoint_exactly_once(spark, engine, events_stream, tmp_path):
    from dataframe_sql_spark.streaming.pipeline import run_stream_to_parquet

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_stream_to_parquet(events_stream.select("event_id", "user_id"), out, ckpt)
    n_events = engine.spark.table("events").count()
    assert spark.read.parquet(out).count() == n_events
    # restart with the same checkpoint: source exhausted → no duplicates
    run_stream_to_parquet(events_stream.select("event_id", "user_id"), out, ckpt)
    assert spark.read.parquet(out).count() == n_events


def test_foreach_batch_sink(spark, events_stream, tmp_path):
    from dataframe_sql_spark.streaming.pipeline import run_stream_foreach_batch

    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    run_stream_foreach_batch(
        events_stream.select("event_id"), sink, str(tmp_path / "fb_ckpt")
    )
    assert seen and sum(n for _, n in seen) > 0


def test_stream_dedup_runs(spark, events_stream):
    out = run_stream_to_memory(
        dedup_events(events_stream), "t_dedup", spark, output_mode="append"
    )
    n = out.count()
    assert n > 0


def test_watermark_drops_late_event(spark, tmp_path):
    """Late-data semantics: an event older than (max event time seen -
    watermark) arriving in a LATER micro-batch must be dropped from an
    append-mode windowed aggregation — this eviction is what bounds
    state at 100 TB/day stream volume. Two availableNow runs over one
    checkpoint give deterministic batch order AND prove the watermark
    itself is restored from the checkpoint across restarts."""
    import datetime as dt

    from pyspark.sql import Row, functions as F

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")

    def mk(*rows):
        return spark.createDataFrame(
            [Row(ts=t, k=k) for t, k in rows], "ts timestamp, k string"
        )

    out = str(tmp_path / "late_out")

    def run_once():
        agg = (
            spark.readStream.schema("ts timestamp, k string")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "k")
            .count()
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)
    # run 1: events up to 12:00 → checkpointed watermark 11:50
    mk((t0, "a"), (t0 + dt.timedelta(hours=2), "a")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    # run 2 (restart from checkpoint): a 10:05 event, window end 11:00
    # is far behind the restored 11:50 watermark → dropped
    mk((t0 + dt.timedelta(minutes=5), "late")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    keys = {r.k for r in spark.read.parquet(out).collect()}
    assert "late" not in keys, keys
    assert "a" in keys


def test_stream_cdc_upsert_into_parquet(spark, events_stream, tmp_path):
    # CDC shape: stream batches merge-upserted into a parquet "table"
    # keyed by event_id; re-delivered keys replace, new keys append.
    # Exercises foreachBatch + merge_upsert's rename-swap under
    # repeated batches (target must exist and stay readable between).
    from pyspark.sql import functions as F

    from dataframe_sql_spark.sources.io import merge_upsert
    from dataframe_sql_spark.streaming.pipeline import run_stream_foreach_batch

    target = str(tmp_path / "cdc_target")

    def apply_batch(batch_df, batch_id):
        updates = (
            batch_df.select("event_id", "user_id", "value")
            .withColumn("batch_id", F.lit(batch_id))
        )
        merge_upsert(spark, target, updates, ["event_id"])

    run_stream_foreach_batch(
        events_stream, apply_batch, str(tmp_path / "ckpt")
    )
    result = spark.read.parquet(target)
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    # one row per key, all keys present
    assert result.count() == n_events
    assert result.select("event_id").distinct().count() == n_events

    # re-upsert a slice with changed values: count stable, values swap
    sample = result.limit(10).withColumn("value", F.lit(-1.0))
    merge_upsert(spark, target, sample, ["event_id"])
    after = spark.read.parquet(target)
    assert after.count() == n_events
    assert after.filter(F.col("value") == -1.0).count() == 10


def test_streaming_near_dedup_across_batches(spark, tmp_path):
    """Batch 2 arrives after batch 1 was indexed: its cross-batch
    near-dups are dropped via the persisted band index, novel docs
    survive, and the index grows by exactly the kept docs."""
    import pandas as pd

    from dataframe_sql_spark.streaming.pipeline import streaming_near_dedup

    src = tmp_path / "src"
    src.mkdir()
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about distributed query engines at scale"
    third = "a third topic entirely concerning maritime navigation and tides"

    schema = "doc_id LONG, text STRING"

    def run_batch(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        streaming_near_dedup(stream, index_path, out_path, ckpt)

    run_batch([(1, base), (2, base + " ok"), (3, other)])  # 2 near-dups 1
    kept1 = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert kept1 == [1, 3]

    run_batch([(10, base + " yes"), (11, third)])  # 10 dups history, 11 novel
    kept2 = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert kept2 == [1, 3, 11]

    # index covers exactly the kept docs
    idx_ids = sorted(
        r.doc_id for r in spark.read.parquet(index_path).select("doc_id").distinct().collect()
    )
    assert idx_ids == [1, 3, 11]


def test_streaming_cms_accumulates_across_batches(spark, tmp_path):
    """The persisted CMS counter table must equal a batch-built CMS
    over the union of all streamed batches — the mergeable-sketch
    invariant under incremental folding — and estimates from it must
    never underestimate true stream counts."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dataframe_sql_spark.functions.sketches import (
        cms_estimate,
        cms_merge,
        cms_partials,
    )
    from dataframe_sql_spark.streaming.pipeline import (
        streaming_cms_heavy_hitters,
    )

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    counters_path = str(tmp_path / "cms_counters")
    checkpoint = str(tmp_path / "ckpt")

    all_rows = []
    for b in range(3):
        rows = [("hot",)] * 50 + [(f"b{b}_k{i}",) for i in range(30)]
        all_rows += rows
        pd.DataFrame(rows, columns=["word"]).to_parquet(
            src_dir / f"batch_{b}.parquet"
        )
        stream = (
            spark.readStream.schema("word string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src_dir))
        )
        streaming_cms_heavy_hitters(
            stream, counters_path, checkpoint, key_col="word"
        )

    got = {
        (r.d, r.idx): r.n
        for r in spark.read.parquet(counters_path).collect()
    }
    ref_df = spark.createDataFrame(all_rows, ["word"]).withColumn(
        "seg", F.lit("x")
    )
    want = {
        (r.d, r.idx): r.n
        for r in cms_merge(cms_partials(ref_df, "seg", "word")).collect()
    }
    assert got == want
    # the swap removes the previous counter table after each batch
    assert not os.path.exists(counters_path + ".__old__")
    est = {
        r.word: r.cms_est
        for r in cms_estimate(
            spark.createDataFrame([("hot",), ("b1_k3",)], ["word"]),
            spark.read.parquet(counters_path),
            "word",
        ).collect()
    }
    assert est["hot"] >= 150
    assert est["b1_k3"] >= 1


def test_stream_static_join_matches_batch(spark, engine, events_stream):
    from dataframe_sql_spark.streaming.pipeline import dimension_enriched_counts

    dim = engine.spark.table("customer")
    batch = dimension_enriched_counts(engine.spark.table("events"), dim)
    streamed = run_stream_to_memory(
        dimension_enriched_counts(events_stream, dim),
        "t_static_join",
        spark,
        output_mode="complete",
    )
    b = {(r.segment, r.event_type): (r.n, r.sum_value) for r in batch.collect()}
    s = {(r.segment, r.event_type): (r.n, r.sum_value) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_restart_after_midstream_failure_exactly_once(spark, tmp_path):
    """Restart-under-FAILURE durability (SCALE.md roadmap #2): the
    clean-stop checkpoint test proves resume after a graceful drain;
    this proves exactly-once across a batch that FAILS AFTER its sink
    side effect landed but before the commit — the worst-case failure
    point. A 6-file source streams one file per trigger; the sink
    writes each batch to its own dir (idempotent overwrite per
    batch_id, pipeline.idempotent_parquet_batch_sink) and an injected
    RuntimeError kills the query after batch 2's write. The restart
    with the same checkpoint must re-run the uncommitted batch (same
    batch_id, same offsets -> overwrite, not append-duplicate) and
    drain; the union of batch dirs must equal the source exactly."""
    import os

    from pyspark.sql.streaming import StreamingQueryException

    from dataframe_sql_spark.sources.io import read_table
    from dataframe_sql_spark.streaming.pipeline import (
        idempotent_parquet_batch_sink,
    )

    events = read_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = str(tmp_path / "src")
    events.repartition(6).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    flag = str(tmp_path / "already_failed")
    sink = idempotent_parquet_batch_sink(out)

    def failing_sink(batch_df, batch_id):
        sink(batch_df, batch_id)  # side effect lands BEFORE the failure
        if batch_id == 2 and not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("injected mid-stream failure")

    def run() -> None:
        q = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(failing_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    try:
        run()
        raise AssertionError("injected failure did not surface")
    except StreamingQueryException as e:
        assert "injected" in str(e)
    assert os.path.exists(flag), "failure was never injected"
    # restart with the SAME checkpoint: must re-run the failed batch
    # (its write landed but its commit did not) and drain the rest
    run()
    got = spark.read.parquet(f"{out}/b*")
    n = events.count()
    assert got.count() == n, "lost or duplicated rows across the failure"
    assert got.select("event_id").distinct().count() == n


def test_stateful_restart_after_failure_state_exactly_once(spark, tmp_path):
    """Stateful depth of the failure protocol (SCALE.md next-frontier
    #4): running_user_totals keeps per-user state in the checkpoint's
    state store, which commits atomically WITH the batch — so a batch
    that fails after emitting must, on resume, re-apply its
    contribution exactly once (discarded uncommitted state + re-run),
    never zero or twice. Same injected-failure protocol as the
    foreachBatch gate, but the assertion is on the STATE: the latest
    emitted total per user across all batches must equal the batch
    aggregate over the whole source."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryException

    from dataframe_sql_spark.sources.io import read_table
    from dataframe_sql_spark.streaming.pipeline import running_user_totals

    events = read_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    src = str(tmp_path / "src")
    events.repartition(6).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    flag = str(tmp_path / "already_failed")

    def failing_sink(batch_df, batch_id):
        batch_df.withColumn("__bid", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(f"{out}/b{batch_id}")
        if batch_id == 2 and not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("injected stateful failure")

    def run() -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_totals(stream, timeout_minutes=0)
            .writeStream.foreachBatch(failing_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    try:
        run()
        raise AssertionError("injected failure did not surface")
    except StreamingQueryException as e:
        assert "injected" in str(e)
    run()
    emitted = spark.read.parquet(f"{out}/b*")
    from pyspark.sql import Window

    latest = (
        emitted.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("__bid"))
            ),
        )
        .filter("__rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6)) for r in latest.collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in running_user_totals(events).collect()
    }
    assert got == want and len(got) > 0
