"""Sources/sinks (SURVEY.md §2.1 S4/S5) and the UDF extension surface."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest

from dataframe_sql_spark.sources.io import read_csv, read_table, write_parquet


def test_csv_ingestion_roundtrip(spark, engine):
    # S4: reference loads fixtures via pandas.read_csv (utils.py:15-19)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "fires.csv")
        pd.DataFrame(
            {"temp": [20.1, 30.5, 25.0], "wind": [3, 5, 4], "month": ["mar", "aug", "sep"]}
        ).to_csv(path, index=False)
        df = read_csv(spark, path)
        assert dict(df.dtypes)["temp"] == "double"  # inferSchema on
        engine.register_temp_table(df, "fires_csv")
        out = engine.query_pandas("select month from fires_csv where wind > 3")
        assert sorted(out["month"]) == ["aug", "sep"]
        engine.remove_temp_table("fires_csv")


def test_parquet_sink_partitioned(spark, engine):
    # S5 extension: partitioned parquet sink → partition-pruned scan
    with tempfile.TemporaryDirectory() as d:
        src = engine.spark.table("orders").limit(1000)
        write_parquet(src, f"{d}/orders_out", partition_by=["o_orderpriority"])
        back = spark.read.parquet(f"{d}/orders_out")
        assert back.count() == 1000
        # partition dirs exist → pruning-capable layout
        assert any(p.startswith("o_orderpriority=") for p in os.listdir(f"{d}/orders_out"))


def test_events_nanos_ts_normalized(spark):
    df = read_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.selectExpr("min(ts)").first()[0].year == 2024


def test_register_vectorized_udf(spark, engine):
    # §2.11 extension: pandas UDF through the SQL surface
    import pandas as pd

    def double_it(s: pd.Series) -> pd.Series:
        return s * 2

    engine.register_function("double_it", double_it, "double")
    out = engine.query_pandas(
        "select double_it(l_quantity) as dq, l_quantity from lineitem limit 5"
    )
    assert (out["dq"] == out["l_quantity"] * 2).all()


def test_register_scalar_udf(spark, engine):
    engine.register_function("shout", lambda s: (s or "") + "!", "string", vectorized=False)
    out = engine.query_pandas("select shout(n_name) as sn from nation limit 3")
    assert all(v.endswith("!") for v in out["sn"])


def test_merge_upsert_latest_wins(spark, tmp_path):
    from dataframe_sql_spark.sources.io import merge_upsert

    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], ["k", "v", "ver"]
    )
    merge_upsert(spark, path, base, ["k"])
    updates = spark.createDataFrame([(2, "B", 2), (4, "d", 2)], ["k", "v", "ver"])
    merge_upsert(spark, path, updates, ["k"])
    got = {(r.k, r.v, r.ver) for r in spark.read.parquet(path).collect()}
    # key 2 replaced, keys 1/3 kept, key 4 inserted
    assert got == {(1, "a", 1), (2, "B", 2), (3, "c", 1), (4, "d", 2)}


def test_merge_upsert_recovers_from_crash_between_renames(spark, tmp_path):
    # a crash after target→.__old__ but before staging→target leaves
    # only .__old__; the next upsert must merge into that copy, not
    # write the updates alone and delete the only surviving data
    from dataframe_sql_spark.sources.io import merge_upsert

    path = str(tmp_path / "target")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    merge_upsert(spark, path, base, ["k"])
    os.rename(path, path + ".__old__")
    merge_upsert(spark, path, spark.createDataFrame([(2, "B")], ["k", "v"]), ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.exists(path + ".__old__")


def test_synthetic_source_partition_parallel_and_deterministic(spark):
    """Custom Python DataSource (Spark 4 API): generated partitions are
    executor-side (no driver materialization), count is exact, and the
    same (seed, partition) always yields identical data."""
    from dataframe_sql_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)

    def load():
        return (
            spark.read.format("synthetic_events")
            .option("rows", 10_000)
            .option("partitions", 8)
            .option("seed", 7)
            .load()
        )

    df = load()
    assert df.columns == ["event_id", "ts", "user_id", "event_type", "value"]
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 10_000
    # determinism: a second independent read is row-identical
    a = sorted(map(tuple, load().collect()))
    b = sorted(map(tuple, load().collect()))
    assert a == b
    # event_ids are globally unique across partitions (disjoint ranges)
    assert df.select("event_id").distinct().count() == 10_000


def test_synthetic_source_streams_deterministic_batches(spark, tmp_path):
    """The same generator as an unbounded streaming source: offsets are
    row positions, so replaying an offset range after failure yields
    bit-identical data (exactly-once without a durable log)."""
    from dataframe_sql_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 500)
        .option("partitions", 4)
        .option("seed", 11)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("t_syn_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.table("t_syn_stream").count()
            if n >= 1000:
                break
            time.sleep(1)
    finally:
        q.stop()  # freeze the sink before asserting (no append race)
    rows = spark.table("t_syn_stream")
    assert rows.count() >= 1000  # ≥2 micro-batches landed
    # event_ids unique across batches: offset ranges are disjoint
    assert rows.select("event_id").distinct().count() == rows.count()


def test_register_table_function_udtf(engine):
    """Python UDTF surface (§2.11 ext): one row in, many rows out,
    callable from SQL as a table function with a correlated LATERAL."""

    class SplitWords:
        def eval(self, text: str, doc_id: int):
            for i, w in enumerate(str(text).split()):
                yield (doc_id, i, w)

    engine.register_table_function(
        "split_words", SplitWords, "doc_id bigint, idx int, word string"
    )
    out = engine.spark.sql(
        "SELECT t.doc_id, t.idx, t.word FROM documents d, "
        "LATERAL split_words(d.text, d.doc_id) t WHERE d.doc_id < 3"
    ).collect()
    docs = {
        r.doc_id: r.text
        for r in engine.spark.sql(
            "SELECT doc_id, text FROM documents WHERE doc_id < 3"
        ).collect()
    }
    got = {}
    for r in out:
        got.setdefault(r.doc_id, []).append((r.idx, r.word))
    for did, text in docs.items():
        words = text.split()
        assert [w for _, w in sorted(got[did])] == words


def test_scan_fan_out_widens_small_single_file_scan(spark, monkeypatch):
    """r14 scale-adaptive fan-out: a small single-row-group parquet
    scans as one task; scan_fan_out must widen it to the session's
    default parallelism WITHOUT changing the rows, and must leave the
    frame alone when the input is estimated to scan wide enough or is
    too big to shuffle cheaply."""
    from dataframe_sql_spark.sources import io as sources_io
    from dataframe_sql_spark.sources.io import scan_fan_out

    sf_dir = "/root/testdata/sf0.001"
    path = f"{sf_dir}/documents.parquet"
    base = read_table(spark, sf_dir, "documents")
    assert base.rdd.getNumPartitions() == 1  # the premise: 1-task scan

    wide = scan_fan_out(spark, base, path)
    assert (
        wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # row-identical (the fan-out is pure layout, never semantics)
    a = sorted(r.doc_id for r in base.select("doc_id").collect())
    b = sorted(r.doc_id for r in wide.select("doc_id").collect())
    assert a == b

    # no-op when the byte cap says the shuffle would be too expensive
    monkeypatch.setattr(sources_io, "FAN_OUT_MAX_BYTES", 1)
    assert scan_fan_out(spark, base, path) is base
    # no-op on a path that cannot be stat'ed (remote / vanished)
    assert scan_fan_out(spark, base, "/no/such/path.parquet") is base
