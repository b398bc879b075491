"""Semantic tests for the extension operators (dedup, similarity,
text, multimodal) — covers what the rows-only driver check can't:
that near-dup detection actually finds planted duplicates, LSH recall
tracks brute force, stubs plumb batches correctly, etc."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataframe_sql_spark.engine import plan_string
from dataframe_sql_spark.functions.text import annotate_documents, lang_id, token_count
from dataframe_sql_spark.multimodal.binary import (
    attach_blob_metadata,
    decode_image_batch,
    extract_image_features,
    sample_video_frames,
)
from dataframe_sql_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    simhash_candidate_pairs,
)
from dataframe_sql_spark.operators.similarity import cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def doc_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra"),  # near dup of 1
        (4, "completely different content about spark query engines at scale"),
        (5, "another unrelated document mentioning benchmarks and parquet files"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(doc_df):
    out = exact_dedup(doc_df, ["text"], "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 (exact dup, higher id) dropped


def test_minhash_dedup_drops_near_dup(doc_df):
    out = minhash_dedup(doc_df, "doc_id", "text", threshold=0.5, shingle_k=2)
    ids = sorted(r.doc_id for r in out.collect())
    assert 1 in ids and 4 in ids and 5 in ids
    assert 2 not in ids  # exact dup caught
    assert 3 not in ids  # near dup caught


def test_blocked_ngram_jaccard(spark):
    from dataframe_sql_spark.operators.dedup import blocked_ngram_jaccard

    rows = [
        (1, "a", "the quick brown fox jumps"),
        (2, "a", "the quick brown fox leaps"),  # shares 2 of its 3 shingles with 1
        (3, "a", "totally different words here"),
        (4, "b", "the quick brown fox jumps"),  # other block: never paired with 1-3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "blk", "text"])
    out = {
        (r.id_a, r.id_b): (r.inter, r.uni, round(r.jaccard, 4))
        for r in blocked_ngram_jaccard(df, "doc_id", "text", ["blk"]).collect()
    }
    # k=3 over 5 words → 3 shingles each; docs 1,2 share the first 2
    assert out[(1, 2)] == (2, 4, 0.5)
    assert out[(1, 3)][0] == 0
    assert all(a != 4 and b != 4 for a, b in out)  # blocking respected
    assert len(out) == 3  # all in-block pairs, threshold 0 keeps everything


def test_simhash_pairs_find_near_dup(doc_df):
    pairs = simhash_candidate_pairs(doc_df, "doc_id", "text", max_hamming=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # identical texts → hamming 0


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk(df, "embedding", [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].score == pytest.approx(1.0)


def test_lsh_topk_matches_bruteforce_on_testdata(spark, engine):
    emb = engine.spark.table("embeddings")
    query = [1.0] * 64
    exact = [r.vec_id for r in cosine_topk(emb, "embedding", query, k=10).collect()]
    approx = [
        r.vec_id
        for r in lsh_topk(emb, "embedding", query, k=10, num_bits=16, rerank=150).collect()
    ]
    # recall@10 ≥ 0.5 for 16-bit signatures on 500 vectors
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_topk_full_probe_exact_partial_probe_recall(spark, engine):
    from dataframe_sql_spark.operators.similarity import ivf_topk

    emb = engine.spark.table("embeddings")
    query = [1.0] * 64
    exact = [r.vec_id for r in cosine_topk(emb, "embedding", query, k=10).collect()]
    # probing every cell must reproduce brute force exactly
    full = [
        r.vec_id
        for r in ivf_topk(emb, "embedding", query, k=10, n_cells=16, n_probe=16).collect()
    ]
    assert full == exact
    # probing 4/16 cells: recall@10 ≥ 0.5 on 500 sampled-centroid vectors
    part = [
        r.vec_id
        for r in ivf_topk(emb, "embedding", query, k=10, n_cells=16, n_probe=4).collect()
    ]
    assert len(set(exact) & set(part)) >= 5


def test_knn_join_ivf_partial_probe(spark, engine):
    """Cell-keyed kNN join: full probe must equal brute force pair-for-
    pair (the exactness the oracle relies on); partial probe keeps
    majority recall; the plan must contain no cartesian/BNLJ."""
    from dataframe_sql_spark.operators.similarity import knn_join_ivf
    from tests.sim_reference import knn_join_bruteforce

    emb = engine.spark.table("embeddings")
    left = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("id_a"), "embedding"
    )
    right = emb.filter(F.col("label") != 0).select(
        F.col("vec_id").alias("id_b"), "embedding"
    )
    brute = {
        (r.id_a, r.id_b) for r in knn_join_bruteforce(left, right, k=3).collect()
    }
    full_df = knn_join_ivf(left, right, k=3, n_cells=16)
    plan = plan_string(full_df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    full = {(r.id_a, r.id_b) for r in full_df.collect()}
    assert full == brute
    part = {
        (r.id_a, r.id_b)
        for r in knn_join_ivf(left, right, k=3, n_cells=16, n_probe=4).collect()
    }
    assert len(part & brute) >= len(brute) // 2


def test_approx_agg_relative_error(engine):
    li = engine.spark.table("lineitem")
    exact = {
        r.l_returnflag: (r.d, r.m)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("d"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("m"),
        )
        .collect()
    }
    approx = {
        r.l_returnflag: (r.apx_orders, r.apx_med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.01).alias("apx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("apx_med"),
        )
        .collect()
    }
    for flag, (d, m) in exact.items():
        ad, am = approx[flag]
        assert abs(ad - d) / d < 0.05  # HLL++ default rsd ≈ 2.3%
        assert abs(am - m) / m < 0.05


def test_token_count_edges(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "one"), (4, "a b  c")], ["i", "t"])
    out = {r.i: r.n for r in df.select("i", token_count(F.col("t")).alias("n")).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 3}


def test_lang_id_heuristic(spark):
    rows = [
        (1, "the cat and the dog of a house is that it for"),
        (2, "der hund und die katze ist nicht ein tier mit"),
        (3, "le chat et la maison est pour un dans les"),
        (4, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    out = {r.i: r.lang for r in df.select("i", lang_id(F.col("t")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_repetition_features_hand_computed(spark):
    from dataframe_sql_spark.functions.text import repetition_features

    rows = [
        (1, "a b c d"),  # no repetition
        (2, "go go go stop go"),  # 'go' x4 of 5, run of 3, bigram 'go go' x2 of 4
        (3, "x"),  # single word: no bigrams
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    feats = repetition_features(F.col("t"))
    out = {
        r.i: r
        for r in df.select(
            "i", *[c.alias(n) for n, c in feats.items()]
        ).collect()
    }
    assert out[1].dup_word_ratio == 0.0 and out[1].max_run == 1
    assert out[2].n_words == 5
    assert out[2].dup_word_ratio == pytest.approx(3 / 5)
    assert out[2].top_word_ratio == pytest.approx(4 / 5)
    assert out[2].top_bigram_ratio == pytest.approx(2 / 4)
    assert out[2].max_run == 3
    assert out[3].top_bigram_ratio == 0.0 and out[3].max_run == 1


def test_annotate_documents_shape(engine):
    docs = engine.spark.table("documents").limit(20)
    out = annotate_documents(docs)
    cols = set(out.columns)
    for c in ("n_tokens", "n_bpe_tokens", "quality", "fingerprint", "lang_pred", "punct_ratio"):
        assert c in cols
    row = out.first()
    assert 0.0 <= row.quality <= 1.0 and len(row.fingerprint) == 32


def test_blob_metadata(spark):
    df = spark.createDataFrame([(1, b"\x89PNG\r\n"), (2, b"\xff\xd8\xff\xe0")], ["i", "blob"])
    out = attach_blob_metadata(df, "blob").select("i", "blob_meta.*").collect()
    got = {r.i: (r.media_type, r.byte_length) for r in out}
    assert got[1] == ("image/png", 6) and got[2] == ("image/jpeg", 4)


def test_decode_real_path_header_parse(spark):
    # Real path without Pillow: pure-Python header parse. PNG and GIF
    # are exact header crafts; JPEG is a minimal SOF0 marker sequence;
    # garbage yields NULL dims instead of failing the batch.
    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # bit depth 8, color type 2 (RGB)
    )
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00\x00\x00"
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"\x00" * 14  # APP0
        + b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + bytes([3])
    )
    df = spark.createDataFrame(
        [(1, png), (2, gif), (3, jpeg), (4, b"not an image")], ["i", "blob"]
    )
    out = {
        r.i: (r.width, r.height, r.channels)
        for r in decode_image_batch(df, "blob", fake=False).collect()
    }
    assert out[1] == (640, 480, 3)
    assert out[2] == (320, 200, 3)
    assert out[3] == (640, 480, 3)
    assert out[4] == (None, None, None)


def test_decode_stub_fake_deterministic(spark):
    df = spark.createDataFrame([(1, b"abc"), (2, b"")], ["i", "blob"])
    out = {r.i: (r.width, r.height, r.channels) for r in decode_image_batch(df, "blob", fake=True).collect()}
    assert out[1] == (1 + ord("a") % 64, 1 + ord("b") % 64, 3)
    assert out[2] == (0, 0, 0)


def test_feature_extract_stub(spark):
    df = spark.createDataFrame([(1, b"abcabc")], ["i", "blob"])
    row = extract_image_features(df, "blob", dim=8, fake=True).first()
    assert len(row.features) == 8 and abs(sum(row.features) - 1.0) < 1e-6


def test_audio_chunking_stub(spark):
    from dataframe_sql_spark.multimodal.binary import chunk_audio

    df = spark.createDataFrame(
        [(1, b"x" * 70000), (2, b"y" * 10), (3, None)], ["i", "blob"]
    )
    out = chunk_audio(df, "blob", chunk_seconds=1.0, bytes_per_second=32000, fake=True)
    rows = sorted((r.i, r.chunk_idx, r.chunk_start_s, len(r.chunk_blob)) for r in out.collect())
    # 70000 bytes @32k/s → 3 chunks (32000, 32000, 6000); short/null rows keep 1 chunk
    assert rows == [
        (1, 0, 0.0, 32000),
        (1, 1, 1.0, 32000),
        (1, 2, 2.0, 6000),
        (2, 0, 0.0, 10),
        (3, 0, 0.0, 0),
    ]

def test_audio_chunking_real_wav(spark):
    # Real path: stdlib-wave chunking on true frame boundaries at the
    # header's sample rate; non-WAV blobs yield one NULL-chunk row.
    import io
    import wave

    from dataframe_sql_spark.multimodal.binary import chunk_audio

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x01\x00" * 20000)  # 2.5 s of 8 kHz mono PCM
    df = spark.createDataFrame([(1, buf.getvalue()), (2, b"mp3??")], ["i", "blob"])
    rows = sorted(
        (r.i, r.chunk_idx, r.chunk_start_s, None if r.chunk_blob is None else len(r.chunk_blob))
        for r in chunk_audio(df, "blob", chunk_seconds=1.0, fake=False).collect()
    )
    # 2.5 s @ 1 s chunks, 16000 B/s PCM → 16000, 16000, 8000 bytes
    assert rows == [
        (1, 0, 0.0, 16000),
        (1, 1, 1.0, 16000),
        (1, 2, 2.0, 8000),
        (2, None, None, None),
    ]


def test_video_frame_sampling_stub(spark):
    df = spark.createDataFrame([(1, bytes(range(256)) * 20)], ["i", "blob"])
    out = sample_video_frames(df, "blob", every_n_bytes=1024, max_frames=4, fake=True).collect()
    assert len(out) == 4
    assert out[0].frame_blob == bytes(range(256)) * 4


@pytest.mark.parametrize("stub", [extract_image_features, sample_video_frames])
def test_stub_only_media_paths_raise_at_call_time(spark, stub):
    # no real path exists: the call itself raises, before any plan is
    # built, even on an empty frame (no batch would ever reach a worker)
    empty = spark.createDataFrame([], "i int, blob binary")
    with pytest.raises(NotImplementedError, match="pass fake=True"):
        stub(empty, "blob", fake=False)


def test_map_batches_takes_nested_names_that_need_quoting(spark):
    from dataframe_sql_spark.operators.scalars import map_batches

    df = spark.createDataFrame(
        [(1, (2, [3]), {"k": (4,)})],
        "id bigint, s struct<`a b`:bigint,`c``d`:array<int>>, m map<string,struct<`x y`:int>>",
    )
    out = map_batches(df, "x int", lambda pdf: pdf.assign(x=7))
    assert out.schema.simpleString() == (
        "struct<id:bigint,s:struct<a b:bigint,c`d:array<int>>,"
        "m:map<string,struct<x y:int>>,x:int>"
    )
    assert all(f.nullable for f in out.schema.fields + out.schema["s"].dataType.fields)
    row = out.collect()[0]
    assert (row.id, row.s["a b"], row.s["c`d"], row.m["k"]["x y"], row.x) == (1, 2, [3], 4, 7)


def test_winnowing_guarantee_shared_substring(engine):
    # Winnowing guarantee: two documents sharing a substring of length
    # >= w + k - 1 (= 16 + 8 - 1 = 23 chars) must share at least one
    # fingerprint; disjoint random-ish strings should not.
    import pandas as pd

    shared = "the quick brown fox jumps over it"  # 33 chars shared block
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "AAAA " + shared + " tail one",
                "completely different prefix " + shared,
                "zzzz entirely unrelated content qqqq xyzw",
            ],
        }
    )
    docs["n_chars"] = docs["text"].str.len()
    engine.register_temp_table(docs, "winnow_docs")
    out = engine.query_pandas(
        "select distinct doc_id, fp from ("
        "select doc_id, pos, m, "
        "min(kh) over (partition by doc_id order by pos "
        "rows between 15 preceding and current row) as fp "
        "from (select doc_id, pos, m, "
        "substr(text, pos, 8) as kg, "
        "substr(md5(substr(text, pos, 8)), 1, 8) as kh "
        "from (select doc_id, text, greatest(1, n_chars - 7) as m, "
        "posexplode(sequence(1, greatest(1, n_chars - 7))) as (i, pos) "
        "from winnow_docs) g) h) w "
        "where pos >= least(16, m)"
    )
    fps = {d: set(out[out.doc_id == d].fp) for d in (1, 2, 3)}
    assert fps[1] & fps[2], "docs sharing a 33-char block must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])
    engine.remove_temp_table("winnow_docs")


def test_pq_topk_recall_and_code_shape(spark, engine):
    from dataframe_sql_spark.operators.similarity import pq_encode, pq_topk, pq_train

    emb = engine.spark.table("embeddings")
    query = [1.0] * 64
    exact = [r.vec_id for r in cosine_topk(emb, "embedding", query, k=10).collect()]
    approx = [
        r.vec_id
        for r in pq_topk(emb, "embedding", query, k=10, n_sub=8, n_codes=16, rerank=100).collect()
    ]
    # ADC + 100-candidate rerank: recall@10 >= 0.7 on 500 vectors
    assert len(set(exact) & set(approx)) >= 7
    # codes are n_sub small ints in [0, n_codes)
    books = pq_train(emb, "embedding", "vec_id", dim=64, n_sub=8, n_codes=16)
    codes = pq_encode(emb, "embedding", books).select("__pq").limit(50).collect()
    for r in codes:
        assert len(r["__pq"]) == 8 and all(0 <= c < 16 for c in r["__pq"])
    # determinism: retrain gives identical codebooks (bounded md5 sample)
    assert books == pq_train(emb, "embedding", "vec_id", dim=64, n_sub=8, n_codes=16)


def test_profile_frame_single_scan_and_values(spark):
    from dataframe_sql_spark.operators.profile import profile_frame

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (2, None, 7.0)],
        ["id", "s", "x"],
    )
    out = {r.col_name: r for r in profile_frame(df).collect()}
    assert out["id"].n_rows == 3 and out["id"].n_distinct == 2
    assert out["s"].n_null == 1 and out["s"].min_val == "a"
    assert out["x"].n_null == 1 and out["x"].max_val == "7.0"
    # single scan: exactly one parquet/LocalTableScan feeding one
    # aggregate — no union of per-column subplans
    plan = profile_frame(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 2  # partial+final agg over ONE scan


def test_ivf_default_cells_policy():
    """cells ∝ N at fixed occupancy, integer-exact (oracle-replayable),
    clamped to [16, 4096]."""
    from dataframe_sql_spark.operators.similarity import ivf_default_cells

    assert ivf_default_cells(0) == 16
    assert ivf_default_cells(500) == 16            # floor
    assert ivf_default_cells(10000) == 79          # (10000+127)//128
    assert ivf_default_cells(128 * 4096) == 4096   # cap
    assert ivf_default_cells(10**9) == 4096        # cap holds at any N
    # linearity between the clamps: doubling N doubles cells (±1)
    assert abs(ivf_default_cells(64000) * 2 - ivf_default_cells(128000)) <= 2


def test_broadcast_attach_skips_unhashable_first_column(spark):
    """hash() is an analysis error on MapType; broadcast_attach must
    pick the first atomic column (or a to_json fallback) instead of
    blindly hashing columns[0] (round-5 ADVICE fix)."""
    from pyspark.sql import functions as F

    from dataframe_sql_spark.operators.scalars import broadcast_attach

    df = spark.range(5).select(
        F.create_map(F.lit("k"), F.col("id")).alias("m"), F.col("id")
    )
    small = spark.range(1).select(F.lit(42).alias("c"))
    out = broadcast_attach(df, small)
    assert out.count() == 5 and out.select("c").distinct().collect()[0][0] == 42
    # all-complex frame: to_json fallback path
    df2 = spark.range(3).select(F.create_map(F.lit("k"), F.col("id")).alias("m"))
    assert broadcast_attach(df2, small).count() == 3


def test_file_metadata_fname_is_layout_invariant(spark, tmp_path):
    """x_file_metadata must report the DATASET path segment, not the
    physical part-file basename: tables are single files at test SFs
    but directories of part files in every rewritten/scaled layout
    (the r11 sf1 sweep caught the old basename form diverging from
    the oracle there)."""
    from dataframe_sql_spark.registry_analytics import _file_metadata

    src = spark.range(10).selectExpr("id as doc_id", "'t' as text")
    # multi-file layout: documents.parquet is a DIRECTORY of parts
    src.repartition(3).write.parquet(str(tmp_path / "documents.parquet"))
    out = _file_metadata(spark, str(tmp_path))
    names = {r.fname for r in out.select("fname").distinct().collect()}
    assert names == {"documents.parquet"}
    assert out.count() == 10
    # ancestor dir itself named *.parquet (lake layout,
    # r11 advisor catch): the sf_dir-anchored split must still
    # report the dataset segment, not the ancestor
    lake = tmp_path / "corpus.parquet" / "sf0.1"
    src.repartition(2).write.parquet(str(lake / "documents.parquet"))
    out2 = _file_metadata(spark, str(lake))
    names2 = {r.fname for r in out2.select("fname").distinct().collect()}
    assert names2 == {"documents.parquet"}
    # symlinked sf_dir (r12 advisor catch): the file listing resolves
    # to the real path, so an abspath-only anchor never matches and the
    # split silently reverts to the ancestor-named-*.parquet bug above;
    # the realpath alternate anchor must keep the dataset segment
    link = tmp_path / "link_sf"
    link.symlink_to(lake, target_is_directory=True)
    out3 = _file_metadata(spark, str(link))
    names3 = {r.fname for r in out3.select("fname").distinct().collect()}
    assert names3 == {"documents.parquet"}
