import pytest


def test_incremental_dedup_against_index(spark, engine):
    # History: docs 1-2. New batch: 10 (dup of 1), 11 (dup of itself
    # and 12), 12, 13 (novel). Expect kept = {11 or 12 min-id -> 11, 13},
    # 10 dropped via the index, 12 dropped within-batch.
    import pandas as pd

    from dataframe_sql_spark.engine import plan_string
    from dataframe_sql_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about distributed query engines at scale"
    third = "a third topic entirely concerning maritime navigation and tides"
    hist = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [base, other]})
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [base + " ok", third, third + " yes", "unrelated short novel text here entirely"],
            }
        )
    )
    for fh in ("xx", "md5"):
        index = minhash_band_index(hist, "doc_id", "text", feature_hash=fh)
        kept, delta = incremental_minhash_dedup(new, index, "doc_id", "text", feature_hash=fh)
        kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        assert 10 not in kept_ids, fh  # caught by the historical index
        assert 11 in kept_ids and 12 not in kept_ids, fh  # within-batch min-id survives
        assert 13 in kept_ids, fh
        # the delta is the kept docs' band index, row for row, read off
        # the batch's one featurization: its plan tokenizes no text
        assert "split(" not in plan_string(delta, "simple"), fh
        want = minhash_band_index(kept, "doc_id", "text", feature_hash=fh)
        assert delta.schema == want.schema, fh
        assert sorted(delta.collect()) == sorted(want.collect()), fh
        assert len(want.collect()) == 16 * len(kept_ids), fh


def test_substring_span_stats_planted_duplicates(spark):
    import pandas as pd

    from dataframe_sql_spark.operators.dedup import substring_span_stats

    boiler = "subscribe to our newsletter for updates every single day thanks"  # 10 words
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "alpha beta gamma delta epsilon zeta eta theta " + boiler,
                "one two three four five six seven eight nine " + boiler,
                "totally unique words without any repeated gram content at all",
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in substring_span_stats(
            spark.createDataFrame(rows), "doc_id", "text", k=5
        ).collect()
    }
    # the 10-word boilerplate is shared: 6 duplicated 5-grams covering
    # its 10 tokens in docs 1 and 2
    assert out[1]["dup_grams"] == 6 and out[2]["dup_grams"] == 6
    assert out[1]["covered_tokens"] == 10 and out[2]["covered_tokens"] == 10
    assert abs(out[1]["dup_ratio"] - 10 / 18) < 1e-9
    # doc 3 shares nothing
    assert out[3]["dup_grams"] == 0 and out[3]["dup_ratio"] == 0.0
    # every doc gets a row
    assert set(out) == {1, 2, 3}


def test_decontamination_semi_join_shape(spark):
    """Planted case: a train doc embedding an exact benchmark 8-gram is
    dropped; paraphrases survive."""
    import pandas as pd

    from dataframe_sql_spark.operators.dedup import kgram_positions

    bench_text = "which ocean is the largest body of water on the planet earth"
    rows = pd.DataFrame(
        {
            "doc_id": [1, 100, 101],
            "text": [
                bench_text,
                "quiz answer: which ocean is the largest body of water on the planet earth today",
                "the biggest sea on earth is discussed in many geography classes",
            ],
        }
    )
    df = spark.createDataFrame(rows)
    bench_grams = (
        kgram_positions(df.filter("doc_id < 50"), "doc_id", "text", k=8)
        .select("gh")
        .distinct()
    )
    hit = (
        kgram_positions(df.filter("doc_id >= 50"), "doc_id", "text", k=8)
        .join(bench_grams, "gh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    assert [r.doc_id for r in hit.collect()] == [100]


def test_simhash_multiprobe_radius_complete(spark):
    """probe_bits=1 guarantee: EVERY pair within hamming <= 2*chunks-1
    surfaces as a candidate (pigeonhole + 1-bit probe), verified
    against brute-force hamming over all pairs."""
    from pyspark.sql import functions as F

    from dataframe_sql_spark.operators.dedup import (
        hashed_shingle_frame,
        simhash_candidate_pairs,
    )
    from tests.conftest import SF_DIR
    from tests.sim_reference import simhash_bits

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    got = {
        (r.id_a, r.id_b)
        for r in simhash_candidate_pairs(
            docs, "doc_id", "text", max_hamming=7, probe_bits=1
        ).collect()
    }
    sig = (
        hashed_shingle_frame(docs, "doc_id", "text", 2)
        .withColumnRenamed("__h", "__th")
        .select("doc_id", simhash_bits("__th").alias("sim"))
    )
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sim").alias("sa"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sim").alias("sb"))
    want = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter("h <= 7")
        .collect()
    }
    assert want <= got or want == got  # completeness (no missed pair)
    assert got == want  # and no pair beyond the radius


def test_simhash_multiprobe_improves_recall_vs_default(spark):
    """The measured motivation: on the sf0.001 corpus the probed radius
    finds a superset of the default radius-3 candidates."""
    from dataframe_sql_spark.operators.dedup import simhash_candidate_pairs
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {
        (r.id_a, r.id_b)
        for r in simhash_candidate_pairs(docs, "doc_id", "text").collect()
    }
    probed = {
        (r.id_a, r.id_b)
        for r in simhash_candidate_pairs(
            docs, "doc_id", "text", max_hamming=7, probe_bits=1
        ).collect()
    }
    assert base <= probed
    assert len(probed) > len(base)


def test_substring_span_remove_keep_one_policy(spark):
    import pandas as pd

    from dataframe_sql_spark.operators.dedup import substring_span_remove

    boiler = "subscribe to our newsletter for updates every single day thanks"  # 10 words
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "alpha beta gamma delta epsilon zeta eta theta " + boiler,
                "one two three four five six seven eight nine " + boiler,
                "totally unique words without any repeated gram content at all",
                boiler,  # exact copy of the boilerplate only
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in substring_span_remove(
            spark.createDataFrame(rows), "doc_id", "text", k=5
        ).collect()
    }
    # doc 1 holds the globally first occurrence of every boiler gram ->
    # keeps ALL its tokens (18); docs 2 and 4 lose the covered span
    assert out[1]["kept_tokens"] == 18 and boiler in out[1]["clean_text"]
    assert out[2]["kept_tokens"] == 9  # own prefix survives, boiler cut
    assert boiler not in out[2]["clean_text"]
    assert out[2]["clean_text"] == "one two three four five six seven eight nine"
    # doc 3 untouched; doc 4 fully covered -> empty but still a row
    assert out[3]["kept_tokens"] == 10
    assert out[4]["kept_tokens"] == 0 and out[4]["clean_text"] == ""


def test_vectorized_signatures_match_expressions(spark):
    """The Arrow-vectorized signature kernels (functions/npsig.py) must
    be BIT-EXACT vs the pure-expression formulations they replaced in
    the hot paths — for both the xxhash64 (64-bit) and md5 (60-bit)
    feature-hash spaces, including the short-doc/degenerate rows. This
    is what lets the oracle-replayed certificates keep hash-matching
    through the vectorized path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dataframe_sql_spark.functions.npsig import (
        oph_signature_vec,
        simhash_bits_vec,
    )
    from dataframe_sql_spark.operators.dedup import (
        hashed_shingle_frame,
        md5_shingle_frame,
    )
    from tests.conftest import SF_DIR
    from tests.sim_reference import (
        oph_densify_rotation,
        oph_raw_lanes,
        simhash_bits,
    )

    # bounded doc set, and the expression/vectorized sides are collected
    # as SEPARATE plans (one combined compare plan makes the optimizer
    # chew on the interpreted signature trees for minutes)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(400)
    # degenerate inputs: blank, one word, one repeated word, unicode-only
    # (few grams, so most lanes are densified), NULL, and a long document
    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(7)),
                "text": [
                    "",
                    "   ",
                    "a",
                    "a a a",
                    "ü ö ä ß 日本 語 ∑ π",
                    None,
                    " ".join(f"w{i * 7919 % 211}" for i in range(500)),
                ],
            }
        ),
        "doc_id long, text string",
    )
    # (frame, (simhash k, OPH k, OPH lane count) combinations)
    cases = (
        (docs, [(2, 3, 64)]),
        (edge, [(k, k, lanes) for k in (2, 3) for lanes in (16, 64)]),
    )
    for frame, combos in cases:
        for hasher, value_bits in ((hashed_shingle_frame, 64), (md5_shingle_frame, 60)):
            for sim_k, oph_k, lanes in combos:
                h2 = hasher(frame, "doc_id", "text", sim_k).withColumnRenamed(
                    "__h", "__th"
                )
                ref = {
                    r.doc_id: r.s
                    for r in h2.select(
                        "doc_id", simhash_bits("__th").alias("s")
                    ).collect()
                }
                vec = {
                    r.doc_id: r.s
                    for r in h2.select(
                        "doc_id", simhash_bits_vec(F.col("__th")).alias("s")
                    ).collect()
                }
                assert ref == vec, (value_bits, sim_k)
                h3 = hasher(frame, "doc_id", "text", oph_k)
                oref = {
                    r.doc_id: tuple(r.s)
                    for r in h3.select(
                        "doc_id",
                        oph_raw_lanes(F.col("__h"), lanes, value_bits).alias("__lanes"),
                    )
                    .select(
                        "doc_id",
                        oph_densify_rotation(F.col("__lanes"), lanes).alias("s"),
                    )
                    .collect()
                }
                ovec = {
                    r.doc_id: tuple(r.s)
                    for r in h3.select(
                        "doc_id",
                        oph_signature_vec(F.col("__h"), lanes, value_bits).alias("s"),
                    ).collect()
                }
                assert oref == ovec, (value_bits, oph_k, lanes)


def _pair_bits(df) -> list[tuple]:
    """(id_a, id_b, cosine as its float64 bit pattern or None), sorted."""
    import struct

    def bits(x):
        return None if x is None else struct.unpack("<q", struct.pack("<d", x))[0]

    return sorted(
        ((r.id_a, r.id_b, bits(r.cosine)) for r in df.collect()),
        key=lambda t: (t[0], t[1]),
    )


def test_embedding_cosine_pairs_kernel_matches_self_join_semantic_blocks(spark):
    """The numpy pair kernel equals the blocked self-join reference bit
    for bit on dd_semantic's shape: sf0.001 embeddings blocked by
    k-means clusters, threshold 0.4."""
    from tests.conftest import SF_DIR

    from dataframe_sql_spark.operators.dedup import embedding_cosine_pairs
    from dataframe_sql_spark.operators.similarity import kmeans_assign
    from dataframe_sql_spark.sources.io import read_table
    from tests.sim_reference import embedding_cosine_pairs_expr

    emb = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    clustered = kmeans_assign(emb, "vec_id", "embedding", k=8, n_iters=2)
    args = (clustered, "vec_id", "embedding", "cluster", 0.4)
    kernel = _pair_bits(embedding_cosine_pairs(*args))
    assert len(kernel) > 0
    assert kernel == _pair_bits(embedding_cosine_pairs_expr(*args))


def test_embedding_cosine_pairs_kernel_matches_self_join_edge_cases(spark):
    """Zero vector (its NaN passes and leaves the kernel as a null
    cosine), duplicate vectors, a near-identical pair split across
    blocks (never paired), and null id / null block / empty vector rows
    (excluded). 512 dims of full-precision doubles: wide enough that a
    BLAS dot (blocked summation) differs from the sequential fold."""
    import numpy as np

    from dataframe_sql_spark.operators.dedup import embedding_cosine_pairs
    from tests.sim_reference import embedding_cosine_pairs_expr

    rng = np.random.default_rng(7)
    x, y, z = (rng.standard_normal(512).tolist() for _ in range(3))
    near = (np.array(x) + 0.05 * rng.standard_normal(512)).tolist()
    rows = [
        (1, 0, [0.0] * 512),
        (2, 0, x),
        (3, 0, x),
        (4, 0, y),
        (10, 0, near),
        (5, 1, x),
        (6, 1, z),
        (7, 2, near),
        (None, 0, x),
        (8, None, x),
        (9, 0, []),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, blk int, embedding array<double>")
    args = (df, "vec_id", "embedding", "blk", 0.9)
    kernel = _pair_bits(embedding_cosine_pairs(*args))
    assert kernel == _pair_bits(embedding_cosine_pairs_expr(*args))
    got = {(a, b): c for a, b, c in kernel}
    assert [got.get(p, 0) for p in [(1, 2), (1, 3), (1, 4), (1, 10)]] == [None] * 4
    assert {(2, 3), (2, 10), (3, 10)} <= set(got)  # duplicates, near-dups
    assert not any(b in (5, 7) for _, b in got)  # cross-block
    assert not {8, 9} & {i for p in got for i in p}


def test_embedding_cosine_pairs_rejects_non_integral_ids(spark):
    import pytest

    from dataframe_sql_spark.operators.dedup import embedding_cosine_pairs

    df = spark.createDataFrame(
        [("a", 0, [1.0, 0.0])], "doc_key string, blk int, embedding array<double>"
    )
    with pytest.raises(TypeError, match="doc_key"):
        embedding_cosine_pairs(df, "doc_key", "embedding", "blk")


@pytest.mark.parametrize(
    "entry",
    [
        "minhash_candidate_pairs",
        "minhash_band_index",
        "minhash_pairs",
        "simhash_candidate_pairs",
        "dsir_weights",
        "simhash_probe_bits",
    ],
)
def test_unknown_feature_hash_raises(spark, entry):
    """A ``feature_hash`` outside {"xx", "md5"} (here a case typo) is a
    ValueError naming the value and the accepted set, never a silent
    fall-back to the xxhash64 path; so is a simhash ``probe_bits``
    other than 0 or 1, which a bare assert let through under
    ``python -O`` to the 1-bit path."""
    import pandas as pd

    from dataframe_sql_spark.operators import dedup, relevance

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["a b c d", "a b c e"], "tgt": [True, False]}
        )
    )
    typo = r"feature_hash must be one of \['md5', 'xx'\], got 'MD5'"
    calls = {
        "minhash_candidate_pairs": lambda: dedup.minhash_candidate_pairs(
            df, "doc_id", "text", feature_hash="MD5"
        ),
        "minhash_band_index": lambda: dedup.minhash_band_index(
            df, "doc_id", "text", feature_hash="MD5"
        ),
        "minhash_pairs": lambda: dedup.minhash_pairs(df, "doc_id", "text", feature_hash="MD5"),
        "simhash_candidate_pairs": lambda: dedup.simhash_candidate_pairs(
            df, "doc_id", "text", feature_hash="MD5"
        ),
        "dsir_weights": lambda: relevance.dsir_weights(
            df, "doc_id", "text", "tgt", feature_hash="MD5"
        ),
        "simhash_probe_bits": lambda: dedup.simhash_candidate_pairs(
            df, "doc_id", "text", probe_bits=2
        ),
    }
    match = r"probe_bits must be 0 or 1, got 2" if entry == "simhash_probe_bits" else typo
    with pytest.raises(ValueError, match=match):
        calls[entry]()


def test_ngram_jaccard_pairs_returns_set_sizes(spark):
    """The verifier returns |A∩B| and |A∪B| of each pair's 3-gram sets
    as integers beside the ratio it filters on: hand-built documents
    with repeated, shared, disjoint and too-short texts, checked
    against Python set arithmetic over the same shingle sets: the
    string verifier, and :func:`_verify` over a hashed gram frame."""
    import pandas as pd

    from dataframe_sql_spark.operators.dedup import (
        _verify,
        hashed_shingle_frame,
        ngram_jaccard_pairs,
        shingle_frame,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the mat today",
        3: "a dog ran and a dog ran and a dog ran",
        4: "the cat sat on a dog ran",
        5: "nothing shared here at all",
        6: "two words",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    cand = [(1, 2), (1, 4), (3, 4), (1, 5), (2, 6), (3, 5)]
    pairs = spark.createDataFrame(pd.DataFrame(cand, columns=["id_a", "id_b"]))
    sets = {r["doc_id"]: set(r["__sh"]) for r in shingle_frame(docs, "doc_id", "text").collect()}
    want = {(a, b): (len(sets[a] & sets[b]), len(sets[a] | sets[b])) for a, b in cand}
    grams = hashed_shingle_frame(docs, "doc_id", "text")
    for hashed, got in (
        (False, ngram_jaccard_pairs(docs, pairs, "doc_id", "text", threshold=0.0)),
        (True, _verify(pairs, grams, "doc_id", "__h", 0.0)),
    ):
        assert dict(got.dtypes)["inter"] == "bigint" and dict(got.dtypes)["uni"] == "bigint"
        rows = {(r.id_a, r.id_b): r for r in got.collect()}
        assert {p: (r.inter, r.uni) for p, r in rows.items()} == want, hashed
        assert all(r.jaccard == r.inter / r.uni for r in rows.values()), hashed
