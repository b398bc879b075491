"""Corpus-statistics relevance & quality scoring operators.

The reference has no retrieval/quality surface (its grammar stops at
SQL aggregates — SURVEY §2.5); these are LLM-data-pipeline extensions:
TF-IDF term weighting, BM25 retrieval scoring, PMI collocation mining,
and a corpus bigram-LM document scorer (the CCNet-style "perplexity
bucket" quality signal, with the corpus itself standing in for the
external LM).

All four share one scale discipline:

- the only corpus-wide exchanges are word/bigram ``groupBy`` shuffles
  on short string keys (at 100 TB these keys are Zipf-bounded: the
  distinct-vocab table is millions of rows while the corpus is
  trillions of tokens, so the post-agg tables are broadcast-able);
- corpus scalars (N docs, total tokens, avg doc length) are computed
  as 1-row aggregates and attached via ``scalars.broadcast_attach``
  (constant-key broadcast hash join, BNLJ-free) — never
  ``collect()``, so the whole plan stays lazy and restartable;
- per-document scores join the (small) vocab-statistics tables back
  onto exploded tokens; Catalyst broadcasts them, so the per-doc pass
  is map-side;
- floating-point outputs are ``round(x, 6)`` so differential oracles
  compare stable digits, and every count survives as an exact BIGINT
  column alongside the float.

No Python UDFs, no driver materialization, whole-stage codegen
throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import words
from .dedup import _feature_hash
from .lineage import truncate_lineage
from .scalars import broadcast_attach

__all__ = [
    "doc_words",
    "tfidf_top_terms",
    "bm25_scores",
    "pmi_bigrams",
    "bigram_lm_scores",
]


def doc_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode ``text_col`` into (id, pos, word) rows, lowercase.

    Tokenization is the same ``split(trim(lower(text)), '\\s+')``
    convention as the shingle/dedup family so corpus statistics are
    consistent across operators (and across the DuckDB oracles).
    """
    return df.select(
        F.col(id_col),
        F.posexplode(words(F.col(text_col))).alias("pos", "word"),
    ).filter(F.col("word") != "")


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` terms per document by smoothed TF-IDF.

    ``idf = ln((N + 1) / (df + 1)) + 1`` (the sklearn smooth-idf
    formulation, which never zeroes out corpus-wide terms), score
    ``tf * idf``. Output: (id, word, tf, df, score, rn) with ``tf``/
    ``df`` as exact BIGINTs; ranking ties break on the word so the
    top-k set is deterministic.

    Scale: one shuffle for (doc, word) tf, one for word df (both on
    short keys with partial aggregation), a broadcast join of the df
    vocab back onto the tf table, and a per-doc window for top-k. The
    window partitions by doc id — millions of small groups, no skew.
    """
    words = doc_words(df, id_col, text_col)
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    # tf already has one row per (doc, word): counting rows per word IS
    # the document frequency.
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        broadcast_attach(tf.join(F.broadcast(dfreq), "word"), n_docs)
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "word", "tf", "df", "score", "rn")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every matching document for ``query_terms``.

    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``;
    ``w(t, d) = idf_t * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl))``.

    Output: (id, n_terms_hit, score) for documents matching at least
    one term, scores rounded to 6 digits, exact hit-count BIGINT.

    Scale: doc lengths are a map-side projection; ``avgdl``/``N`` are
    1-row broadcast aggregates; per-term document frequencies shuffle
    once on the (tiny) query-term-filtered token stream; the final
    per-doc sum shuffles on doc id. The query-term filter is pushed
    below the tf aggregation, so the corpus-wide exchange only carries
    tokens matching the query — at 100 TB this is the classic "scatter
    only what you score" sparse retrieval shape.
    """
    terms = [t.lower() for t in query_terms]
    words = doc_words(df, id_col, text_col)
    dl = words.groupBy(id_col).agg(F.count("*").alias("dl"))
    corpus = dl.select(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = words.filter(F.col("word").isin(terms))
    tf = hits.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    per_term = (
        broadcast_attach(
            tf.join(F.broadcast(dfreq), "word").join(dl, id_col), corpus
        )
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_terms_hit"),
        F.round(F.sum("w"), 6).alias("score"),
    )


def _bigram_frame(
    df: DataFrame, id_col: str, text_col: str, extra_cols: list[str] | None = None
) -> DataFrame:
    """(id, [extra_cols...,] w1, w2) adjacent-word pairs, map-side only.

    Built by zipping the word array against itself shifted by one via
    a ``transform`` over a generated index — no explode-then-self-join
    (which would shuffle the corpus on (doc, pos)). ``extra_cols``
    (round 9, for :func:`dsir_weights`) carries additional per-doc
    columns through without a post-hoc doc-keyed join."""
    extra = list(extra_cols or [])
    tokens = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        words(F.col(text_col)).alias("ws"),
    )
    bigrams = tokens.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("ws") - F.lit(1), F.lit(1)),
                ),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("w1"),
                    F.element_at("ws", i + F.lit(1)).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, *extra, "bg.w1", "bg.w2")
    # 1-word documents produce a single (word, NULL) pair; drop it.
    return bigrams.filter(F.col("w2").isNotNull() & (F.col("w1") != ""))


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    n_buckets: int = 4096,
    feature_hash: str = "xx",
    ln_digits: int = 4,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling" — public method): score every document by the
    log-likelihood ratio of its hashed-bigram features under a
    Laplace-smoothed TARGET unigram model vs the RAW-corpus model,

        weight(d) = Σ_b∈d [ ln (ct_b+1)/(N_t+B) − ln (cr_b+1)/(N_r+B) ]

    where b ranges over the doc's bigram hash buckets (B =
    ``n_buckets``), ct/cr are target/raw bucket counts. High-weight
    docs look like the target domain; resample ∝ exp(weight) (or take
    the top quantile) to build a domain-focused corpus. ``target_col``
    is a boolean column on ``df`` marking the target-domain docs.

    Scale shape: the flag rides through the bigram projection
    (map-side), so target and raw counts come out of ONE groupBy on
    the B-bounded bucket key (conditional sum, map-side combine);
    corpus totals attach via constant-key BroadcastHashJoin
    (:func:`..scalars.broadcast_attach` — no BNLJ); the ≤B-row score
    table broadcast-joins back to the feature stream; the only other
    corpus shuffle is the final doc-keyed sum. Nothing is ever keyed
    on raw text and no state exceeds B rows.

    Determinism: per-bucket scores are pinned as INTEGER 1e-8 units
    (``round(lr·10⁸)`` → BIGINT), the per-doc total is an exact int64
    sum (order-independent — a double sum is not), and the final
    ``ln_digits`` rounding is integer floor-div half-up, so neither
    the oracle's different ln()/summation-order ulps NOR an
    engine-divergent ``round()`` at a grid boundary can flip a hash.
    The boundary case is not theoretical: per-doc sums of exact-8dp
    scores land exactly on the 4dp half-grid about once per 10⁴ docs,
    and the round-10 sf1 sweep (50k docs) caught Spark and DuckDB
    rounding those docs apart (−0.37125 → −0.3713 vs −0.3712) when
    this step was a double ``round(sum(s), 4)``. ``feature_hash="md5"``
    is the oracle-replayable bucket hash (conv of the md5 prefix, the
    repo's engine-portable convention); production default "xx" is
    one xxhash64 mix per bigram. Docs with zero bigrams (empty/1-word)
    have no features and are absent from the output by definition.
    """
    # the option's accepted set is the dedup family's; DSIR keeps its
    # own 32-bit bigram hash for "md5", so this only validates
    _feature_hash(feature_hash)
    bg = _bigram_frame(
        df.select(id_col, text_col, F.col(target_col).alias("__tf")),
        id_col,
        text_col,
        extra_cols=["__tf"],
    )
    if feature_hash == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat_ws(" ", "w1", "w2")), 1, 8), 16, 10
        ).cast("bigint")
    else:
        h = F.xxhash64("w1", "w2")
    feats = bg.select(F.col(id_col), F.col("__tf"), F.pmod(h, F.lit(n_buckets)).alias("b"))
    # r14: materialize the feature stream once (truncate_lineage) —
    # it feeds BOTH the bucket-count aggregation and the final
    # doc-keyed score join, and without the cut each branch re-runs
    # tokenize→bigram→hash from the raw scan. Measured (x_dsir_weights,
    # sf0.1, local[2], median construct+execute CPU of the process
    # tree): 2.3 s with the cut, 4.5 s without, same rows. Rows are
    # (id, bool, int) — far smaller than the text they derive from.
    feats = truncate_lineage(feats)
    counts = feats.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("__tf"), 1).otherwise(0)).alias("ct"),
    )
    totals = counts.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    scored = broadcast_attach(counts, totals).select(
        "b",
        F.round(
            (
                F.log((F.col("ct") + 1).cast("double") / (F.col("nt") + n_buckets).cast("double"))
                - F.log((F.col("cr") + 1).cast("double") / (F.col("nr") + n_buckets).cast("double"))
            )
            * F.lit(1e8),
            0,
        )
        .cast("bigint")
        .alias("s8"),
    )
    # integer half-up: q is in 1e-8 units; (q + half) // shift lands on
    # the 10^-ln_digits grid with no engine round() in the path (the
    # floor-division is done as floor() of an exact small-double ratio)
    shift = 10 ** (8 - ln_digits)
    return (
        feats.join(F.broadcast(scored), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            (
                F.floor(
                    (F.sum("s8") + F.lit(shift // 2)) / F.lit(float(shift))
                ).cast("bigint")
                / F.lit(float(10**ln_digits))
            ).alias("weight"),
        )
    )


def pmi_bigrams(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 5, top: int = 50
) -> DataFrame:
    """Top collocations by pointwise mutual information.

    ``pmi(x, y) = ln( (c_xy / B) / ((c_x / U) * (c_y / U)) )`` where
    ``B`` is total bigram count and ``U`` total unigram count. Output:
    (w1, w2, c_xy, c_x, c_y, pmi) — exact BIGINT counts beside the
    rounded float — ordered by (pmi desc, w1, w2), limited to ``top``.

    Scale: two corpus shuffles (bigram counts, unigram counts), both
    with map-side partial aggregation onto Zipf-bounded key spaces;
    unigram table re-joined twice broadcast; scalars via 1-row
    broadcast aggregates. ``min_count`` prunes the long tail before
    the join, which is what keeps the vocab table broadcast-able at
    100 TB.
    """
    bg = _bigram_frame(df, id_col, text_col)
    # r14: aggregate FIRST, then materialize the vocab-sized count
    # tables once (truncate_lineage) — c_xy feeds the join and the
    # b_total scalar (sum of all bigram counts == bg.count()), and uni
    # feeds u_total plus TWO broadcast joins; without the cuts each
    # consumer re-runs the tokenize/bigram featurization. Measured
    # (txt_pmi, sf0.1, local[2], construct+execute CPU of the process
    # tree, 5 interleaved fresh-JVM pairs): 7.36 s median with the
    # cuts, 8.47 s without, the cuts ahead in 5 of 5, same rows. The
    # corpus-scale bg stream itself is never materialized — only its
    # Zipf-bounded aggregate.
    c_xy = truncate_lineage(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    )
    uni = truncate_lineage(
        doc_words(df, id_col, text_col).groupBy("word").agg(
            F.count("*").alias("c")
        )
    )
    totals = broadcast_attach(
        c_xy.select(F.sum("c_xy").alias("b_total")),
        uni.select(F.sum("c").alias("u_total")),
    )
    out = (
        broadcast_attach(
            c_xy.filter(F.col("c_xy") >= min_count)
            .join(F.broadcast(uni.withColumnRenamed("word", "w1").withColumnRenamed("c", "c_x")), "w1")
            .join(F.broadcast(uni.withColumnRenamed("word", "w2").withColumnRenamed("c", "c_y")), "w2"),
            totals,
        )
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("b_total"))
                    / (
                        (F.col("c_x") / F.col("u_total"))
                        * (F.col("c_y") / F.col("u_total"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return out.orderBy(F.col("pmi").desc(), "w1", "w2").limit(top)


def bigram_lm_scores(
    df: DataFrame, id_col: str, text_col: str, alpha: float = 0.5
) -> DataFrame:
    """Score documents with an add-α-smoothed corpus bigram LM.

    The CCNet quality-bucketing shape (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): train an LM on the corpus, score each document by mean
    log-probability, and let the pipeline keep/drop/bucket on the
    score. Here the LM is the corpus's own bigram model —
    ``P(w2 | w1) = (c12 + α) / (c1 + α·V)`` — so the operator is
    self-contained and exactly reproducible cross-engine.

    Output: (id, n_bigrams, avg_logp) — higher (less negative) means
    the document looks like the corpus; exact BIGINT bigram count
    beside the rounded score.

    Scale: bigram/unigram count shuffles as in :func:`pmi_bigrams`;
    scoring joins the doc bigram stream against the count tables
    (broadcast after tail pruning at real scale — here unpruned since
    the oracle needs exact mass); per-doc mean shuffles on doc id.
    """
    # r15 (r14 verdict item 2: the r14 truncate_lineage cut on `uni`
    # regressed the driver's cold-JVM bench +77% — the eager
    # materialization job's fixed cost exceeded the corpus pass it
    # saved at this scale). The unigram table has TWO consumers (the
    # v vocab scalar and the per-bigram c1 join) and without sharing
    # each re-ran a full tokenize pass; instead of materializing, the
    # vocab count now rides ON the aggregate itself as a
    # single-partition window over the vocab-sized (Heaps-bounded)
    # post-agg rows — one unigram corpus pass, ZERO eager jobs, no
    # checkpoint I/O. The window's single task touches only the
    # aggregated vocab table (millions of short rows at 100 TB), not
    # the corpus. The corpus-scale bigram stream stays unmaterialized:
    # its two consumers (c12 aggregation, scoring join) each recompute
    # it map-side — two embarrassingly-parallel passes beat
    # serializing a stream wider than the corpus (measured r14: the bg
    # cut regressed 0.98→1.33 s at sf0.1). Guide §8 + §1.2.
    from pyspark.sql import Window

    bg = _bigram_frame(df, id_col, text_col)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = (
        doc_words(df, id_col, text_col)
        .groupBy("word")
        .agg(F.count("*").alias("c1"))
        .withColumn("v", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    # c12 joins via SMJ, not broadcast: the UNPRUNED bigram-count table
    # has near-corpus cardinality at build time (most bigram types are
    # rare) and its size estimate is post-explode-blind — the round-11
    # broadcast_audit flagged it as a corpus-scaled broadcast. The
    # (w1, w2) keys are fixed-width, and the c12 aggregate already
    # partitions by them, so the merge join adds only the bg-side
    # shuffle. The UNIGRAM table stays broadcast: vocab grows
    # sublinearly (Heaps), and shuffling the exploded word stream to
    # avoid it would be strictly worse — the standard map-side-join
    # call. A production LM with tail pruning (min-count cap) should
    # flip c12 back to broadcast.
    scored = (
        bg.join(c12.hint("merge"), ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("word", "w1")), "w1")
        .withColumn(
            "logp",
            F.log(
                (F.col("c12") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha) * F.col("v"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
    )
