"""Deduplication operators for large-scale corpus curation.

The reference has no dedup surface (its only related op is SELECT
DISTINCT, pandas_sql_functionality_test.py:108-118); these are the
north-star extensions from BASELINE.json, designed Spark-first for
100 TB:

- signatures (minhash / simhash) are computed map-side: gram hashes
  with built-in JVM expressions, the signature math in one
  Arrow-batched numpy kernel per batch (``functions/npsig.py``) — no
  shuffle, no driver involvement;
- candidate generation shuffles on *fixed-width hash keys* (band
  buckets), never on raw text;
- pair verification happens only within buckets (LSH guarantees the
  candidate set is tiny relative to the cross product), over the same
  gram frame the signatures came from: a MinHash pipeline featurizes
  once and cuts lineage once (:func:`minhash_pairs`);
- survivors are chosen deterministically (min id per group) so reruns
  and oracle comparisons are stable.

All functions return lazy DataFrames; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.npsig import oph_signature_vec, simhash_bits_vec
from ..functions.text import words
from .lineage import truncate_lineage

__all__ = [
    "exact_dedup",
    "shingle_frame",
    "hashed_shingle_frame",
    "md5_shingle_frame",
    "minhash_candidate_pairs",
    "minhash_pairs",
    "minhash_dedup",
    "minhash_band_index",
    "incremental_minhash_dedup",
    "simhash_candidate_pairs",
    "simhash_dedup",
    "kgram_positions",
    "substring_span_stats",
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "embedding_dedup",
    "line_dedup",
    "prefix_filter_pairs",
]


# Largest LSH bucket (MinHash band bucket, simhash chunk bucket) that
# pairs are generated from. Boilerplate at web scale produces
# million-doc buckets with quadratic pair expansion; capped buckets are
# near-identical and exact dedup already catches them.
MAX_BUCKET = 1000


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (the min ``id_col``) per distinct ``cols``.

    Scale notes: groups on ``xxhash64(cols)`` — a fixed 8-byte shuffle
    key — instead of potentially-multi-KB raw values, then rejoins the
    winner ids. Collision probability at 100 TB (~2^40 docs) against a
    64-bit space is ~2^-24 per pair-bucket; acceptable for corpus
    dedup (use ``cols`` + length guard if not).
    """
    key = F.xxhash64(*[F.col(c) for c in cols])
    winners = (
        df.select(F.col(id_col), key.alias("__k"))
        .groupBy("__k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, on=id_col, how="inner")


# --------------------------------------------------------------------------
# minhash LSH
# --------------------------------------------------------------------------


def _gram_starts(n: Column, k: int) -> Column:
    """1-based start positions of the k-grams over ``n`` tokens — at
    least one, so a document shorter than k words still yields one
    (clamped) gram and participates."""
    return F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))


def _gram_window(ws: Column, k: int, combine) -> Column:
    """``combine(*tokens)`` per gram start over a materialized token
    array: the k tokens from the start on, positions past the end
    clamped to the last token."""
    n = F.size(ws)
    return F.transform(
        _gram_starts(n, k),
        lambda i: combine(*[F.element_at(ws, F.least(i + off, n)) for off in range(k)]),
    )


def _shingles_of_words(ws: Column, k: int) -> Column:
    """Shingle array from an already-materialized words array.

    ``ws`` must be an attribute reference (a column produced by a
    previous projection) or a lambda variable — NOT the raw
    ``split(...)`` expression. Lambda-bearing expressions are excluded
    from Catalyst's common-subexpression elimination, so referencing a
    split expression inside the transform lambda re-tokenizes the text
    once per shingle position — O(words²) per document (measured 6×
    on sf0.1 documents).
    """
    return F.array_distinct(
        F.transform(
            _gram_starts(F.size(ws), k),
            lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
        )
    )


def shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *extra_cols, ``__sh`` shingle-array) frame via two projections.

    The two-step shape matters for throughput: tokenization (regex
    split) runs in a codegen'd projection, and the interpreted shingle
    transform references the words array as a per-row attribute —
    measured 6× faster than shingling straight off the text column
    at sf0.1.
    """
    keep = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    tokens = df.select(*keep, words(F.col(text_col)).alias("__words"))
    return tokens.select(
        *keep, _shingles_of_words(F.col("__words"), k).alias("__sh")
    )


def _xx_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, Column]:
    """(id, ``__hw`` word-hash array) frame, and the per-position
    gram-hash column over it: ``xxhash64`` of the k word hashes at each
    gram start. The word hashes are their own projection so the gram
    lambda reads a materialized attribute (see
    :func:`_shingles_of_words`)."""
    hashed = df.select(F.col(id_col), words(F.col(text_col)).alias("__words")).select(
        F.col(id_col), F.transform(F.col("__words"), lambda w: F.xxhash64(w)).alias("__hw")
    )
    return hashed, _gram_window(F.col("__hw"), k, F.xxhash64)


def hashed_shingle_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, ``__h`` k-gram-hash array<long>) frame — the
    string-free shingle path for signature algorithms.

    Instead of materializing k-word shingle *strings* (concat_ws per
    position → new byte arrays per shingle), each word is hashed to a
    long once and a shingle's identity is ``xxhash64`` of its k word
    hashes — fixed-width integer ops after one tokenization pass.
    Measured ~5× faster than the string path on sf0.1 documents; use
    it whenever downstream only needs shingle *identity* (minhash,
    simhash, winnowing), and :func:`shingle_frame` when the actual
    strings matter (exact Jaccard oracles, explainability).

    Short documents (< k words) clamp trailing positions to the last
    word, yielding one degenerate shingle — every doc participates.
    Known divergence from the string path: the clamp hashes the word
    REPEATED to k positions, so a 1-word doc "w" and a doc of k
    repeated "w"s produce the same gram hash — degenerate docs collapse
    into one candidate class here, while :func:`shingle_frame` keeps
    them distinct. Harmless for candidate generation (verify with exact
    Jaccard downstream, as :func:`minhash_pairs` does); use the
    string path when sub-k-word docs must stay distinguishable.
    """
    hashed, grams = _xx_grams(df, id_col, text_col, k)
    return hashed.select(F.col(id_col), F.array_distinct(grams).alias("__h"))


def md5_shingle_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Engine-portable sibling of :func:`hashed_shingle_frame`: gram
    hash = the top 60 bits of ``md5`` over the k words joined with
    ``\\x1f`` — ``conv(substring(md5(...), 1, 15), 16, 10)`` here,
    ``('0x' || substr(md5(...), 1, 15))::BIGINT`` in DuckDB — so a SQL
    oracle can replay signature algorithms end-to-end (the same trick
    that made the IVF centroid pick replayable). 15 hex chars = 60
    bits keeps the value inside a signed long on both engines; the
    four missing top bits only mean signature bits 60–63 are always
    0, which both engines agree on.

    Same tokenization and short-doc clamp semantics as the xxhash64
    path (positions past the end repeat the last word; grams
    de-duplicated per doc). Production stays on xxhash64 — one 64-bit
    mix per gram beats an md5 digest + hex decode — this exists for
    replay certificates (`dd_simhash_probed_verified`).
    """
    tokens = df.select(F.col(id_col), words(F.col(text_col)).alias("__words"))
    gram = _gram_window(
        F.col("__words"),
        k,
        lambda *ws: F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", *ws)), 1, 15), 16, 10
        ).cast("long"),
    )
    return tokens.select(F.col(id_col), F.array_distinct(gram).alias("__h"))


# feature_hash → (gram-hash frame builder, hash width in bits, band-bucket
# hash). "xx" is production; "md5" is the engine-portable form a SQL
# oracle replays — same signature, banding and verify code either way.
_FEATURE_HASHES = {
    "xx": (hashed_shingle_frame, 64, F.xxhash64),
    "md5": (md5_shingle_frame, 60, F.md5),
}


def _feature_hash(name: str) -> tuple:
    """The :data:`_FEATURE_HASHES` row for a ``feature_hash`` option;
    ``ValueError`` naming the value for anything else."""
    if name not in _FEATURE_HASHES:
        raise ValueError(
            f"feature_hash must be one of {sorted(_FEATURE_HASHES)}, got {name!r}"
        )
    return _FEATURE_HASHES[name]


def _band_rows(
    grams: DataFrame, id_col: str, num_hashes: int, bands: int, feature_hash: str
) -> DataFrame:
    """(id, band, bucket) rows of a gram-hash frame built with
    ``feature_hash``.

    The densified-OPH signature of the frame's ``__h`` column comes
    from the Arrow-vectorized numpy kernel (functions/npsig.py) that
    replaced the interpreted 64-lane-filter + densify projections
    (~2 s of the sf0.1 pipeline; guide §4.2, OPTIMIZATION_r14.md).
    Each band is keyed by its comma-joined slot string through the
    :data:`_FEATURE_HASHES` bucket hash: xxhash64, or md5 hex for the
    banding replay certificate — identical grouping semantics (both
    are injective-modulo-collision over the slot tuple)."""
    _, value_bits, bucket_hash = _feature_hash(feature_hash)
    rows = num_hashes // bands
    sig = grams.select(
        F.col(id_col),
        oph_signature_vec(F.col("__h"), num_hashes, value_bits).alias("__sig"),
    )

    def _bucket(b: int) -> Column:
        return bucket_hash(
            F.concat_ws(",", *[F.col("__sig")[b * rows + r] for r in range(rows)])
        )

    band_cols = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_cols).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _lsh_candidates(banded: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs (id_a < id_b) of docs sharing a (band, bucket).

    A single shuffle (groupBy band+bucket → collect_list → quadratic
    explode within the bucket) instead of a self-join, so the band
    rows are computed exactly once. Buckets over :data:`MAX_BUCKET`
    docs are dropped."""
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= MAX_BUCKET))
    )
    return (
        buckets.select(F.explode("__ids").alias("id_a"), F.col("__ids"))
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def _verify(
    pairs: DataFrame, sets: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate (id_a, id_b) pairs: ``sets`` (one
    distinct gram or shingle set per id, in ``set_col``) joined onto
    both pair sides. Returns (id_a, id_b, jaccard, inter, uni) for
    ``jaccard >= threshold``, the last two the integer set sizes the
    ratio is taken of."""
    # merge hints: the set sides carry a per-doc array column, which
    # Catalyst's width estimator counts as ONE element
    # (ArrayType.defaultSize) — so a corpus-scaled multi-GB side can sit
    # under the broadcast threshold in the mid-scale window and die at
    # the driver collect under memory pressure (the round-10
    # prefix_filter_pairs class; tools/broadcast_audit.py flagged this
    # join at 10× estimates). Sort-merge is the spill-safe shape and
    # the candidate table is already id-keyed, so the exchange is the
    # honest cost.
    # r14 (guide §2.3): no array_union — every set frame is DISTINCT,
    # so |A∪B| = |A| + |B| − |A∩B| exactly (inclusion-exclusion;
    # F.size is O(1) on the carried arrays). Same int/int division,
    # bit-identical jaccard, half the per-pair array CPU of computing
    # intersect AND union.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    j = (
        pairs.join(
            sets.withColumnRenamed(id_col, "id_a")
            .withColumnRenamed(set_col, "sh_a")
            .hint("merge"),
            "id_a",
        )
        .join(
            sets.withColumnRenamed(id_col, "id_b")
            .withColumnRenamed(set_col, "sh_b")
            .hint("merge"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (inter / uni).alias("jaccard"),
            inter.cast("bigint").alias("inter"),
            uni.cast("bigint").alias("uni"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    feature_hash: str = "xx",
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) from banded minhash, for
    callers that verify over something other than the gram hashes (the
    string-shingle certificates). :func:`minhash_pairs` is the pipeline
    that verifies over the same gram frame it signs.

    Pipeline: gram hashes → OPH signature → explode bands → groupBy
    bucket → explode pairs. The gram hashes are their own projection
    because lambda-bearing expressions are excluded from Catalyst's
    subexpression elimination: a gram lambda over the raw
    ``split(text)`` would re-tokenize per reference.

    Signatures go through the string-free hashed-shingle + OPH path
    (:func:`hashed_shingle_frame`, :func:`_band_rows`) — ~2× the
    throughput of per-lane hashing of shingle strings.

    ``feature_hash="md5"`` swaps shingle hashing to the 60-bit
    engine-portable md5 form and the band-bucket hash to md5, so a
    SQL oracle replays lanes, densification, banding, and bucketing
    verbatim (the `dd_minhash_banded_verified` certificate); the OPH
    lane math, rotation fill, caps, and pair generation are the same
    production code either way.
    """
    # No lineage cut: the gram frame and the signature each have one
    # consumer chain here. Measured on dd_minhash_verified (sf0.1,
    # local[2], construct+execute CPU of the process tree, 5
    # interleaved fresh-JVM rounds, same rows): signature cut 26.0 s
    # median, gram cut 24.3 s, no cut 25.2 s, no variant ahead of
    # another in more than 3 of 5 rounds; without a cut the build runs
    # 2 fewer jobs.
    grams = _feature_hash(feature_hash)[0](df, id_col, text_col, shingle_k)
    return _lsh_candidates(_band_rows(grams, id_col, num_hashes, bands, feature_hash), id_col)


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    feature_hash: str = "xx",
) -> DataFrame:
    """Near-duplicate pairs: banded-minhash LSH candidates verified by
    exact gram-set Jaccard. Returns (id_a, id_b, jaccard, inter, uni)
    for ``jaccard >= threshold`` (the filter-then-verify design, ICDE
    2022 in PAPERS.md).

    The corpus is featurized once: one gram-hash frame
    (:data:`_FEATURE_HASHES`) is signed, banded and bucketed
    (:func:`_lsh_candidates`) and joined onto both sides of the
    candidates (:func:`_verify`). Verifying over the 8-byte gram hashes
    instead of shingle strings gives the string Jaccard up to an
    in-document hash collision (~n²/2⁶⁴ ≈ 1e-13).

    The gram frame is the one lineage cut: it feeds the signature and
    both verify sides, and without it each re-runs tokenize → gram
    hash; the signature needs none, as it has one consumer chain.
    Measured (sf0.1, local[2], median construct+execute CPU of the
    process tree, interleaved fresh-JVM runs, same rows):
    dd_minhash_pairs 5.0 s with the cut, 5.1 s without; dd_minhash,
    which cut the signature AND a second gram frame for the verify
    before, 23.2 s → 21.0 s over 5 rounds (ahead in 4), its build
    5 → 3 jobs.
    """
    grams = truncate_lineage(_feature_hash(feature_hash)[0](df, id_col, text_col, shingle_k))
    cands = _lsh_candidates(_band_rows(grams, id_col, num_hashes, bands, feature_hash), id_col)
    return _verify(cands, grams, id_col, "__h", threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Verify candidate (id_a, id_b) pairs with exact word-shingle
    STRING Jaccard — the verifier of the certificates whose oracle
    recomputes shingle strings (``dd_minhash_verified``,
    ``dd_fuzzy_decontaminate``, the graph certificates), where
    bit-exact parity with a string-based oracle matters. Returns
    (id_a, id_b, jaccard, inter, uni) for ``jaccard >= threshold``
    (:func:`_verify`); LSH pipelines verify over their gram hashes
    through :func:`minhash_pairs` instead.
    """
    # r14: materialize the shingle-set frame once — it feeds BOTH join
    # sides, and without the cut the corpus is tokenized for each
    sh = truncate_lineage(shingle_frame(df, id_col, text_col, shingle_k))
    return _verify(pairs, sh, id_col, "__sh", threshold)


def blocked_ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs within a blocking key.

    The non-LSH member of the dedup family (reference has no dedup at
    all — SURVEY §2.12): candidate pairs come from equality blocking
    (``block_cols``, e.g. (lang, source) or a cluster id) rather than
    minhash bands, and similarity is the *exact* shingle-set Jaccard.
    Returns (id_a, id_b, inter, uni, jaccard) for pairs with
    ``jaccard >= threshold``; ``inter``/``uni`` are integer set sizes
    so cross-engine comparisons don't hinge on float rounding.

    Scale notes: the self-join shuffles on the blocking key only; cost
    is quadratic per block, so block keys must bound group size (at
    100 TB: block on LSH buckets or cluster ids, not coarse labels).
    Shingle arrays are materialized before the join so each side
    tokenizes once.
    """
    # merge hint: both self-join sides carry the shingle array, whose
    # width the estimator cannot see (see ngram_jaccard_pairs) — never
    # broadcast a corpus-scaled array side
    sh = shingle_frame(df, id_col, text_col, shingle_k, extra_cols=tuple(block_cols))
    a, b = sh.alias("a"), sh.hint("merge").alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # r14 (guide §2.3): uni by inclusion-exclusion over the distinct
    # gram sets instead of array_union — identical integers (the
    # shingle arrays are distinct at build), half the per-pair CPU
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    uni = F.size(F.col("a.__sh")) + F.size(F.col("b.__sh")) - inter
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            inter.alias("inter"),
            uni.alias("uni"),
            (inter.cast("double") / uni).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    feature_hash: str = "xx",
) -> DataFrame:
    """Near-duplicate removal: keep a row unless it duplicates a
    smaller-id row (greedy, deterministic).

    :func:`minhash_pairs` then a min-id anti-join. Greedy min-id
    survivorship (not transitive closure): a doc is dropped iff some
    verified duplicate has a smaller id — the standard single-pass
    policy for corpus dedup; full connected-components would need an
    iterative job.
    """
    dups = minhash_pairs(
        df, id_col, text_col, threshold, num_hashes, bands, shingle_k, feature_hash
    )
    losers = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# exact substring-span dedup (Lee et al. 2022-style measurement)
# --------------------------------------------------------------------------


def kgram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Positional k-word-gram hashes: one row per (id, pos, gram hash).

    Unlike :func:`hashed_shingle_frame` this keeps *positions* and
    duplicates — the raw material for exact substring analysis. Grams
    are ``xxhash64`` of the k word hashes starting at ``pos`` (trailing
    positions clamp to the last word). The explode fans out to
    ~n_words rows per doc but stays partition-local (no shuffle until
    the caller aggregates).
    """
    hashed, grams = _xx_grams(df, id_col, text_col, k)
    return hashed.select(
        F.col(id_col), F.posexplode(grams).alias("__p0", "gh")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "gh")


def substring_span_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Per-document duplicated-substring coverage — the measurement
    behind exact substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): any word k-gram that
    occurs more than once in the corpus marks its k-token span as
    duplicated; a document's ``dup_ratio`` is the fraction of its
    tokens covered by the union of those spans. Curation then drops or
    trims docs above a threshold.

    Plan shape (all fixed-width keys, no strings past tokenization):
    explode to (id, pos, gram-hash) → groupBy gram-hash (8-byte
    shuffle, map-side partial counts) → semi-join duplicated grams
    back onto positions → per-doc interval-union length via one window
    over (id, pos). At 100 TB the gram-count aggregate is the only
    corpus-wide shuffle and it carries 16 bytes/row.

    Returns (id, n_tokens, dup_grams, covered_tokens, dup_ratio),
    one row per input document (zero-filled when nothing repeats).
    """
    from pyspark.sql import Window

    grams = kgram_positions(df, id_col, text_col, k)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("gh")
    )
    dup_pos = grams.join(dup, on="gh", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    # union length of fixed-length-k intervals sorted by start:
    # every gap to the next start contributes min(k, gap); the last
    # interval contributes k.
    covered = (
        dup_pos.withColumn("__next", F.lead("pos").over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_grams"),
            F.sum(
                F.when(F.col("__next").isNull(), F.lit(k)).otherwise(
                    F.least(F.lit(k), F.col("__next") - F.col("pos"))
                )
            ).alias("covered_tokens"),
        )
    )
    n_tok = df.select(
        F.col(id_col),
        F.size(words(F.col(text_col))).alias("n_tokens"),
    )
    return n_tok.join(covered, on=id_col, how="left").select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("dup_grams", F.lit(0)).cast("bigint").alias("dup_grams"),
        # clamp: a shorter-than-k doc's single degenerate gram spans k
        # tokens on paper but the doc only has n_tokens
        F.least(F.coalesce("covered_tokens", F.lit(0)), F.col("n_tokens"))
        .cast("bigint")
        .alias("covered_tokens"),
        (
            F.least(F.coalesce("covered_tokens", F.lit(0)), F.col("n_tokens")).cast(
                "double"
            )
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("dup_ratio"),
    )


def substring_span_remove(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Exact substring-span REMOVAL (the action behind
    :func:`substring_span_stats`'s measurement): rewrite every document
    with corpus-duplicated k-gram spans cut out, keeping the globally
    first occurrence of each gram (Lee et al. 2022 keep-one policy —
    deterministic: first = min (id, pos) over the corpus).

    Plan shape: positional gram hashes (map-side) → one row_number
    window on the 8-byte gram hash (THE corpus-wide shuffle — same key
    and volume as the stats aggregate) → non-first occurrences explode
    to their k covered token positions (bounded ×k fan-out) → tokens
    anti-join coverage → per-doc ordered rebuild (collect_list +
    array_sort, deterministic because positions are unique). Documents
    whose every token is covered survive with empty text, so row count
    is input-stable.

    The text is deliberately tokenized TWICE (once per scan: gram
    branch and rebuild branch). The alternative — one positional
    explode feeding both branches — would need either a materialized
    intermediate larger than the input or a lead(k-1) window adding a
    second per-doc shuffle; at scale a repeated codegen split in an
    extra scan is cheaper than an extra exchange.

    Returns (id, clean_text, kept_tokens).
    """
    from pyspark.sql import Window

    grams = kgram_positions(df, id_col, text_col, k)
    w = Window.partitionBy("gh").orderBy(F.col(id_col), F.col("pos"))
    dup_occ = grams.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") > 1
    )
    covered = dup_occ.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"),
    ).distinct()
    tokens = df.select(
        F.col(id_col),
        F.posexplode(words(F.col(text_col))).alias("__p0", "__w"),
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("p"), "__w")
    kept = tokens.join(covered, on=[id_col, "p"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "__w"))),
                lambda x: x["__w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n"),
    )
    return df.select(F.col(id_col)).join(rebuilt, on=id_col, how="left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("__n", F.lit(0)).cast("bigint").alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    feature_k: int = 2,
    probe_bits: int = 0,
    feature_hash: str = "xx",
) -> DataFrame:
    """Candidate pairs with hamming(simhash) ≤ ``max_hamming``.

    Features are ``feature_k``-word shingles (k=2 default: unigram
    sets are too coarse on small-vocabulary corpora). Pigeonhole
    blocking: split the 64-bit signature into ``chunks`` 16-bit
    pieces; any pair within distance ``chunks - 1`` must agree on ≥1
    piece, so join on (chunk_idx, chunk_value) — fixed-width shuffle
    keys — then verify with ``bit_count(xor)``.

    ``probe_bits=1`` multi-probes each chunk (the exact piece plus
    every 1-bit flip), extending the COMPLETE radius from
    ``chunks - 1`` to ``2·chunks - 1``: a pair at distance ≤ 2c−1 has
    (pigeonhole) some chunk differing by ≤ 1 bit, which a flipped
    probe hits. This is the scale-correct radius knob — the
    alternative (narrower chunks, e.g. 8×8-bit) multiplies expected
    bucket occupancy by 256 on random corpora (quadratic candidate
    blowup), while probing multiplies *keys* by width+1 (linear) and
    keeps the 16-bit low-collision pieces. Measured at sf0.01: default
    finds 19/25 of exact-Jaccard≥0.8 pairs (radius 3 binds);
    probe_bits=1 + max_hamming=7 finds 22/25, and the remaining 3 sit
    at hamming 8–10 — outside any practical simhash radius, the
    featurization limit (use minhash when recall at high J must be
    guaranteed; see COVERAGE.md).

    Bucket note: on low-entropy corpora (shared boilerplate/vocabulary)
    the bit majorities converge and single (chunk, piece) buckets can
    hold a large share of the corpus — quadratic candidates.
    :data:`MAX_BUCKET` caps those; a pair only needs ONE uncapped
    shared chunk to surface, so moderate caps cost little recall.

    ``feature_hash="md5"`` swaps the per-gram hash to the
    engine-portable 60-bit md5 form (:func:`md5_shingle_frame`) so a
    SQL oracle can replay the whole pipeline; every other line of this
    function — signature, chunking, probing, caps, verify — runs
    unchanged, which is exactly what the replay certificate certifies.
    """
    if probe_bits not in (0, 1):
        raise ValueError(f"probe_bits must be 0 or 1, got {probe_bits!r}")
    width = 64 // chunks
    mask = (1 << width) - 1
    build = _feature_hash(feature_hash)[0]
    hashed = build(df, id_col, text_col, feature_k).withColumnRenamed(
        "__h", "__th"
    )
    # signature via the Arrow-vectorized kernel (functions/npsig.py) at
    # ~1/25th the CPU of the interpreted 64-aggregate projection, which
    # was the pipeline's dominant cost (guide §4.2; OPTIMIZATION_r14.md).
    # The isNotNull pair is a runtime no-op (ids and signatures are
    # never null) but load-bearing for the probed self-join's exchange
    # reuse: the `a.id < b.id` predicate infers the same constraints and
    # pushes them below the UDF on the probe side only (the bucket-cap
    # window blocks the pushdown on the other side), making the two
    # exchange subtrees canonically unequal. Present from the start,
    # the constraint already holds on both sides and nothing is cloned.
    sig = hashed.select(
        F.col(id_col), simhash_bits_vec(F.col("__th")).alias("__sim")
    ).filter(F.col(id_col).isNotNull() & F.col("__sim").isNotNull())

    def piece_struct(c: int, flip: int) -> Column:
        base = F.shiftright("__sim", c * width).bitwiseAND(F.lit(mask))
        if flip:
            base = base.bitwiseXOR(F.lit(flip))
        return F.struct(F.lit(c).alias("chunk"), base.alias("piece"))

    exact = sig.select(
        F.struct(F.col(id_col).alias("id"), F.col("__sim").alias("sim")).alias("item"),
        F.explode(
            F.array(*[piece_struct(c, 0) for c in range(chunks)])
        ).alias("p"),
    ).select("item", F.col("p.chunk").alias("chunk"), F.col("p.piece").alias("piece"))

    if probe_bits == 0:
        buckets = (
            exact.groupBy("chunk", "piece")
            .agg(F.collect_list("item").alias("__items"))
            .filter((F.size("__items") >= 2) & (F.size("__items") <= MAX_BUCKET))
        )
        pairs = (
            buckets.select(F.explode("__items").alias("a"), F.col("__items"))
            .select("a", F.explode("__items").alias("b"))
            .filter(F.col("a.id") < F.col("b.id"))
        )
    else:
        # r14 single-signature shape: BOTH join sides derive from ONE
        # exploded key frame (probe keys = exact keys ∪ 1-bit flips),
        # projected to the same (item, chunk, piece) columns, so the
        # candidate self-join plans one Exchange + a ReusedExchange and
        # the featurization+signature subtree runs ONCE. The previous
        # three-branch form (probes / exact / ok) recomputed the
        # signature pass per branch — 3 corpus scans at any scale
        # (plans/r14/dd_simhash_probed_{before,after}.txt).
        #
        # A row is an EXACT key (flip == 0) iff its piece equals the
        # piece recomputed from its own signature — checked
        # post-exchange so no flip column rides the shuffle (a flip tag
        # would be pruned off the probe side only, making the two
        # exchange subtrees canonically unequal and defeating reuse).
        allk = sig.select(
            F.struct(
                F.col(id_col).alias("id"), F.col("__sim").alias("sim")
            ).alias("item"),
            F.explode(
                F.array(
                    *[
                        piece_struct(c, flip)
                        for c in range(chunks)
                        for flip in [0] + [1 << j for j in range(width)]
                    ]
                )
            ).alias("p"),
        ).select("item", F.col("p.chunk").alias("chunk"), F.col("p.piece").alias("piece"))
        # r14: materialize the exploded key frame once: both join
        # sides and the bucket-cap window scan it, and without the cut
        # each re-runs featurize→sign→explode. Measured (dd_simhash,
        # sf0.1, local[2], median construct+execute CPU of the process
        # tree): 2.2 s with the cut, 2.6 s without, same rows. The key
        # frame is small fixed-width rows ((id, sim) struct + chunk +
        # piece).
        allk = truncate_lineage(allk)
        is_exact = F.expr(
            f"piece = (shiftright(item.sim, chunk * {width}) & {mask})"
        )
        # cap on EXACT bucket size (the probe side only multiplies
        # keys): a window count over the already-partitioned keys —
        # the (chunk, piece) sort it needs is the one the sort-merge
        # join performs anyway, so the cap costs no extra pass.
        from pyspark.sql import Window

        wb = Window.partitionBy("chunk", "piece")
        ex = (
            allk.withColumn(
                "__exn",
                F.sum(F.when(is_exact, 1).otherwise(0)).over(wb),
            )
            .filter(is_exact & (F.col("__exn") <= MAX_BUCKET))
            .select(F.col("item").alias("b"), "chunk", "piece")
        )
        # merge hint: both probe and exact sides are post-explode
        # streams (rows × probes-per-signature) — count AND width blind
        # to the estimator; never broadcast (broadcast_audit finding)
        pairs = (
            allk.select(
                F.col("item").alias("a"), "chunk", "piece"
            )
            .join(ex.hint("merge"), ["chunk", "piece"])
            .filter(F.col("a.id") < F.col("b.id"))
        )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        # hamming BEFORE distinct: the verify predicate is a per-row
        # projection, so filtering first is semantically identical but
        # the dedup exchange now carries only verified near-pairs —
        # on random corpora the vast majority of bucket candidates
        # (and their up-to-4·(probes+1)-fold key duplicates) fail the
        # radius and never shuffle
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    probe_bits: int = 0,
    feature_hash: str = "xx",
) -> DataFrame:
    """Greedy min-id survivorship over simhash near-duplicate pairs."""
    pairs = simhash_candidate_pairs(
        df, id_col, text_col, max_hamming, probe_bits=probe_bits,
        feature_hash=feature_hash,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs (id_a, id_b, cosine), id_a < id_b in the same
    ``block_col`` block (e.g. a cluster/LSH bucket id), with
    cosine ≥ threshold. ``id_col`` must be integral: the kernel orders
    pairs by numpy int comparison, identical to Spark's; any other id
    type raises ``TypeError``.

    Input invariants (r15, advisor note): rows with a null id, a null
    block key, or an empty vector are EXCLUDED up front (a self-join
    never pairs them, and empty vectors crash ``np.stack``). Vectors
    must share one dimensionality; ragged inputs raise inside the
    kernel rather than silently dropping. A zero-norm vector's NaN
    cosine PASSES the threshold (the kernel keeps
    ``~(cos < threshold)``) and leaves the kernel as a null
    ``cosine``: Arrow carries pandas NaN as null.

    r14 (guide §4.2/§8): per-block pairs through ONE numpy
    applyInPandas kernel instead of a self-join whose output carries
    BOTH dim-wide vectors on every candidate row and evaluates the
    interpreted cosine fold per pair (measured 11-12 s of the sf0.1
    funnel wall; the kernel form is ~1 s). Vectors cross the Arrow
    boundary once per block (n rows, not n² pairs); scores replicate
    the expression fold BIT-FOR-BIT (:func:`~.similarity._cosine_blocks`
    — pytest-asserted against the self-join form kept in tests/), and
    only pairs that pass the threshold leave the kernel.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegralType

    from .scalars import _stack_vectors
    from .similarity import _cosine_blocks

    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.col(block_col).alias("__blk"),
    ).filter(
        F.col(id_col).isNotNull() & (F.size("__v") > 0) & F.col("__blk").isNotNull()
    )
    id_type = base.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"embedding_cosine_pairs: id column {id_col!r} is "
            f"{id_type.simpleString()}, not an integral type"
        )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = _stack_vectors(pdf["__v"].to_numpy()[order])
        pos = np.arange(n)
        outs = []
        for rows, cos in _cosine_blocks(V, V):
            # upper triangle by id order: row r pairs with every column
            # c > r — id uniqueness makes sorted index order the id
            # order. ~(cos < t), not (cos >= t): NaN (zero-norm
            # vectors) must PASS (advisor note, r15)
            r_idx, c_idx = np.nonzero(
                (pos[None, :] > pos[rows, None]) & ~(cos < threshold)
            )
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": ids[rows][r_idx],
                        "id_b": ids[c_idx],
                        "cosine": cos[r_idx, c_idx],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    t = id_type.simpleString()
    return base.groupBy("__blk").applyInPandas(
        block_pairs, schema=f"`id_a` {t}, `id_b` {t}, `cosine` double"
    )


def embedding_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Greedy min-id survivorship over cosine near-duplicate pairs."""
    pairs = embedding_cosine_pairs(df, id_col, vec_col, block_col, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    feature_hash: str = "xx",
) -> DataFrame:
    """(id, band, bucket) MinHash band index for a corpus — the
    persistable artifact incremental dedup joins new batches against.

    Write it partitioned/bucketed by (band, bucket) so the incremental
    join is a pruned scan, not a full-index shuffle:
    ``write_bucketed(index, "minhash_index", ["band", "bucket"])``.
    """
    grams = _feature_hash(feature_hash)[0](df, id_col, text_col, shingle_k)
    return _band_rows(grams, id_col, num_hashes, bands, feature_hash)


def incremental_minhash_dedup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    feature_hash: str = "xx",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing corpus band index, without
    re-signaturing the corpus — the production shape at 100 TB, where
    the historical index is written once (see
    :func:`minhash_band_index`) and each ingest batch only signatures
    its own documents.

    Returns ``(kept, index_delta)``: ``kept`` is the new rows that
    collide with neither the historical index nor an earlier
    (smaller-id) row of their own batch at Jaccard >= 0.7;
    ``index_delta`` is the band rows of the kept docs (row for row
    :func:`minhash_band_index` of ``kept``), to be appended to the
    index for the next batch.

    The batch is featurized once, into one cut gram frame (as in
    :func:`minhash_pairs`): its band rows feed the (band, bucket)
    semi-join against the index (AQE broadcasts the batch side when
    small — the common case); the survivors' band rows, filtered
    before bucketing so the bucket cap counts survivors only, feed the
    within-batch LSH; the verify joins the same gram frame; and the
    delta is the kept docs' band rows. No corpus-sized shuffle anywhere.
    """
    grams = truncate_lineage(_feature_hash(feature_hash)[0](new_df, id_col, text_col, shingle_k))
    banded = _band_rows(grams, id_col, num_hashes, bands, feature_hash)
    # Collide against history on fixed-width (band, bucket) keys.
    hit_ids = (
        banded.join(index, on=["band", "bucket"], how="left_semi")
        .select(id_col)
        .distinct()
    )
    # Batch-internal near-dups among the remaining rows.
    survivors = banded.join(hit_ids, on=id_col, how="left_anti")
    dups = _verify(_lsh_candidates(survivors, id_col), grams, id_col, "__h", 0.7)
    losers = dups.select(F.col("id_b").alias(id_col)).distinct()
    kept = new_df.join(hit_ids, on=id_col, how="left_anti").join(
        losers, on=id_col, how="left_anti"
    )
    return kept, banded.join(kept.select(id_col), on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# line-level boilerplate removal (RefinedWeb-style)
# --------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    min_df: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """Strip lines that repeat across >= ``min_df`` documents.

    The RefinedWeb / CCNet line-level dedup shape (Penedo et al.,
    "The RefinedWeb Dataset for Falcon LLM"): navigation chrome,
    cookie banners and boilerplate repeat across pages verbatim, so a
    line whose *document frequency* crosses a threshold is dropped
    from every document while unique prose survives. ``delim`` is the
    line separator (``"\\n"`` for real text; tests also use it for
    paragraph mode with ``"\\n\\n"``). Lines shorter than
    ``min_chars`` after trimming are always kept — too short to be
    meaningful boilerplate.

    Output: (id, clean_text, n_kept, n_removed) with the surviving
    lines re-joined by ``delim`` in original order.

    Scale notes: lines explode map-side; the document-frequency
    aggregation shuffles on ``xxhash64(line)`` — a fixed 8-byte key,
    never raw line text; the boilerplate verdict comes back via a
    (line-hash) join that AQE broadcasts when the frequent-line table
    is small (it is: it's the set of lines repeated across documents,
    Zipf-bounded); the rebuild groups on doc id with
    ``sort_array(collect_list(struct(pos, line)))`` — no window, one
    shuffle. Three exchanges total, all on fixed-width or doc-id keys.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias("pos", "line"),
    ).withColumn("__lh", F.xxhash64(F.trim(F.col("line"))))
    eligible = lines.filter(F.length(F.trim(F.col("line"))) >= min_chars)
    boiler = (
        eligible.groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("__lh")
    )
    flagged = lines.join(
        boiler.withColumn("__drop", F.lit(True)), "__lh", "left"
    ).withColumn(
        "__drop",
        F.col("__drop").isNotNull()
        & (F.length(F.trim(F.col("line"))) >= min_chars),
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            delim,
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            ~F.col("__drop"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(~F.col("__drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("__drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
    )


# --------------------------------------------------------------------------
# prefix-filtering set-similarity join (AllPairs / PPJoin family)
# --------------------------------------------------------------------------


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int,
    t_den: int,
    shingle_k: int = 3,
) -> DataFrame:
    """ALL document pairs with exact shingle Jaccard >= t_num/t_den —
    no blocking columns, no LSH approximation — via prefix filtering
    (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    WWW'07; Xiao et al., PPJoin, WWW'08).

    The theorem: order every document's distinct token set by a global
    token order (rarest-first by corpus frequency). If
    ``J(a, b) >= t`` then ``|a ∩ b| >= ceil(t·|a|)``, so the first
    ``|a| - ceil(t·|a|) + 1`` tokens of ``a`` (its *prefix*) must
    contain at least one shared token. Emitting only prefix tokens as
    join keys therefore loses no qualifying pair, while the frequent
    tokens that make naive token-joins quadratic never leave the
    suffix.  This is the exact counterpart of minhash-LSH: complete
    (recall 1.0 guaranteed, not probabilistic) at the cost of a
    corpus-frequency pass.

    The threshold is the integer fraction ``t_num/t_den`` and the
    verification compares ``inter * t_den >= t_num * uni`` in exact
    integer arithmetic — no float rounding anywhere in the decision.

    Output: (id_a, id_b, inter, uni) BIGINT columns for qualifying
    pairs.

    Scale notes: token frequencies shuffle once on token; per-doc
    prefix extraction is one doc-id ``groupBy`` with
    ``sort_array`` + ``slice`` (no window); candidate generation
    shuffles prefix tokens only — by construction the rarest in each
    document, so join buckets stay small where a naive token join
    explodes; verification joins shingle sets onto the (distinct)
    candidate pairs.

    EVERY join side in this operator scales with the corpus — the
    frequency table is the distinct-shingle vocabulary, the prefix
    table is ~(1−t)·tokens, and the verification sides carry the full
    shingle sets — so none is ever broadcast-able at real scale, and
    each join carries an explicit sort-merge hint. This is deliberate,
    measured, and NOT hand-scheduling what Catalyst gets right:
    Catalyst's size estimator cannot see the explode/groupBy fan-out,
    still estimates these intermediates under the broadcast threshold
    at a 100× corpus, and the resulting corpus-sized broadcast-collect
    dies with TaskResultLost once the heap is pressured (reproduced
    under tools/memory_stress.py: 2 GiB heap, 500k docs — the
    unhinted plan fails at the broadcast stage materialization; the
    hinted plan completes by degrading to sort-spill, the contract a
    1000-executor job needs). Sort-merge rather than shuffle-hash
    because only SMJ is unconditionally spill-safe on the build side.
    """
    # r14: materialize the shingle frame once — it feeds the token
    # stream (frequency + ranked branches) AND both verification sides,
    # which ask for different exchanges, so without the cut each
    # re-runs the tokenize+shingle featurization. Measured with this
    # cut and the prefix-table cut below (dd_prefix_pairs, sf0.1,
    # local[2], median construct+execute CPU of the process tree):
    # 11.2 s with the cuts, 12.1 s without, and 6 → 10 execute jobs,
    # same rows.
    sh = truncate_lineage(shingle_frame(df, id_col, text_col, shingle_k))
    toks = sh.select(
        F.col(id_col), F.explode(F.array_distinct(F.col("__sh"))).alias("tok")
    )
    # r15 (guide §2.4): corpus frequency attached via a window count
    # over the token partition instead of a separate aggregate pass +
    # merge join — the join's SMJ sorted the token stream by tok anyway,
    # so the window rides the same exchange+sort while the second
    # explode pass over the shingle RDD and the vocab-count exchange
    # disappear. Same bigint count, same (freq, tok) ordering struct —
    # output bit-identical (verified at sf0.01/sf0.1; interleaved
    # fresh-JVM A/B both orders: 2.93 → 2.76 s median at sf0.1).
    from pyspark.sql import Window

    ranked = toks.withColumn(
        "freq", F.count("*").over(Window.partitionBy("tok"))
    )
    per_doc = ranked.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("freq"), F.col("tok")))
        ).alias("ordered"),
        F.count("*").alias("sz"),
    )
    # prefix length = sz - ceil(t*sz) + 1 ; ceil(a*b/c) = -floordiv(-a*b, c)
    ceil_t_sz = -F.floor((-F.lit(t_num) * F.col("sz")) / F.lit(t_den)).cast("int")
    # r15 (guide §2.3 "shuffle keys, not payloads"): the candidate
    # self-join keys on xxhash64 of the prefix token instead of the
    # token string — fixed 8-byte shuffle keys through the prefix
    # checkpoint and both join exchanges. Output PROVABLY identical,
    # not just collision-unlikely: a hash collision can only ADD a
    # candidate pair (two docs "sharing" a prefix key they don't share
    # as strings), never remove one, and the verification below is the
    # unchanged exact string-shingle arithmetic — a spurious candidate
    # either fails `inter·t_den >= t_num·uni` or is a genuine J >= t
    # pair, which by the prefix theorem already shares a REAL prefix
    # token and was a candidate anyway. Completeness and the emitted
    # integers are untouched. (Interleaved fresh-JVM A/B both orders:
    # 2.75 → 2.59 s median at sf0.1.)
    prefix = per_doc.select(
        F.col(id_col),
        F.col("sz"),
        F.explode(
            F.slice(
                "ordered", 1, (F.col("sz") - ceil_t_sz + F.lit(1)).cast("int")
            )
        ).alias("p"),
    ).select(id_col, "sz", F.xxhash64(F.col("p.tok")).alias("tok"))
    # r14: materialize the prefix table before the self-join — the two
    # sides otherwise each recompute the whole freq+rank+prefix subtree
    # (two more shuffles and a collect_list groupBy EACH; cost measured
    # with the shingle cut above). (id, sz, tok) rows only; both sides
    # then scan the same RDD.
    prefix = truncate_lineage(prefix)
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "tok"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "tok"
    )
    cand = (
        a.join(b.hint("merge"), "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        # AllPairs length filter (Bayardo et al. §3): J(a,b) ≤
        # min(|a|,|b|)/max(|a|,|b|), so any pair whose distinct-set
        # sizes differ by more than t_den/t_num can never verify —
        # prune it BEFORE the corpus-side verification joins.
        # Exact integer arithmetic; provably result-identical (only
        # pairs that must fail `inter·t_den >= t_num·uni` are cut).
        .filter(
            F.lit(t_num) * F.greatest("sz_a", "sz_b")
            <= F.lit(t_den) * F.least("sz_a", "sz_b")
        )
        # sz_a/sz_b ride along (functions of the ids — the distinct's
        # pair cardinality is unchanged): the count-based verification
        # below derives uni from them without re-reading the corpus
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    # r14 verification refinement (guide §2.3): array_union is gone —
    # __sh is already a DISTINCT set (shingle_frame dedups at build),
    # so uni = sz_a + sz_b − inter by inclusion-exclusion
    # (sz IS the distinct-token count), bit-identical integers at half
    # the per-pair array CPU. (A row-exploded count-based verification
    # was measured and REJECTED: same underlying bytes exploded to one
    # row per token cost +46% at sf0.1 — the set arrays are the
    # compact transport.)
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    uni = (F.col("sz_a") + F.col("sz_b") - inter).cast("bigint")
    return (
        cand.join(sh_a.hint("merge"), "id_a")
        .join(sh_b.hint("merge"), "id_b")
        .select("id_a", "id_b", inter.alias("inter"), uni.alias("uni"))
        .filter(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("uni"))
    )
