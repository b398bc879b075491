"""Text analysis for corpus curation (north-star extension,
BASELINE.json): language ID, quality scoring, token counting, document
fingerprinting.

Everything is built-in-function expressions (whole-stage codegen, no
Python in the hot path); the operators are plain column factories so
they compose with any DataFrame pipeline and scale map-side — none of
them shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.scalars import const_array

__all__ = [
    "words",
    "token_count",
    "bpe_token_estimate",
    "quality_features",
    "quality_score",
    "repetition_features",
    "repetition_features_frame",
    "fingerprint",
    "lang_id",
    "annotate_documents",
]

# tiny per-language stopword lists for the n-gram/stopword heuristic;
# enough to separate the major Latin-script languages
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es", "para", "en"],
}


def words(text: Column) -> Column:
    """Lowercased whitespace tokens of ``text``: the one word
    tokenization every text and dedup operator shares, so corpus
    statistics, shingles and the DuckDB oracles' ``string_split_regex``
    agree. A blank string gives ``[""]``."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish token estimate without a tokenizer model: word pieces of
    ~4 chars plus punctuation/digit runs counted separately. Tracks
    real BPE counts within ~15% on English text."""
    words = F.size(F.split(F.trim(text), r"\s+"))
    chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return (
        F.when(F.length(F.trim(text)) == 0, F.lit(0))
        .otherwise(
            F.greatest(words, F.ceil(chars / F.lit(4.0)).cast("int")) + punct
        )
        .cast("bigint")
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Raw quality signals as named columns."""
    t = F.trim(text)
    chars = F.length(t).cast("double")
    ws = words(t)
    n_words = F.size(ws).cast("double")
    stop_arr = const_array(_STOPWORDS["en"], "string")
    return {
        "n_chars": F.length(t).cast("bigint"),
        "n_words": F.size(ws).cast("bigint"),
        "mean_word_len": F.when(n_words > 0, chars / n_words).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            chars > 0,
            F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", "")).cast("double") / chars,
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_words > 0,
            F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))).cast("double")
            / n_words,
        ).otherwise(F.lit(0.0)),
        "upper_ratio": F.when(
            chars > 0,
            F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double") / chars,
        ).otherwise(F.lit(0.0)),
    }


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality score: length in a sane band, moderate
    punctuation, some stopwords (fluent prose), not shouty."""
    f = quality_features(text)
    length_ok = F.when((f["n_words"] >= 5) & (f["n_words"] <= 100000), 1.0).otherwise(0.2)
    punct_ok = F.when(f["punct_ratio"] <= 0.2, 1.0).otherwise(0.4)
    stop_ok = F.when(f["stopword_ratio"] >= 0.01, 1.0).otherwise(0.6)
    upper_ok = F.when(f["upper_ratio"] <= 0.3, 1.0).otherwise(0.5)
    return (length_ok * 0.4 + punct_ok * 0.2 + stop_ok * 0.2 + upper_ok * 0.2).alias(
        "quality"
    )


def _max_run(arr: Column, elem_type: str = "string") -> Column:
    """Longest run of equal consecutive elements, as one single-pass
    aggregate with a (prev, run, best) struct accumulator. On a sorted
    array this is the count of the most frequent element — which is how
    ``repetition_features`` gets per-doc mode counts without exploding
    tokens into a shuffle."""
    zero = F.struct(
        F.lit(None).cast(elem_type).alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(arr, zero, merge, lambda acc: acc["best"])


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style in-document repetition signals: duplicate-word
    fraction, most-frequent-word share, most-frequent-bigram share,
    and longest consecutive same-word run.

    The standard formulation explodes tokens and aggregates per
    (doc, word) — a token-level shuffle that at 100 TB moves ~20× the
    document bytes. This one never leaves the row: sort the word array
    and take the longest equal-run (= mode count) with a single-pass
    struct-accumulator aggregate, all JVM higher-order expressions.
    Zero shuffle, prunes to (doc_id, text) at the scan. The DuckDB
    oracle intentionally uses the explode/window formulation so the two
    independent shapes check each other.

    Ratios are IEEE divisions of exact integer counts, so they hash
    identically cross-engine.
    """
    ws = words(text)
    n = F.size(ws)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i + 1), F.element_at(ws, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    nd = n.cast("double")
    return {
        "n_words": n.cast("bigint"),
        "dup_word_ratio": (nd - F.size(F.array_distinct(ws))) / nd,
        "top_word_ratio": _max_run(F.array_sort(ws)).cast("double") / nd,
        "top_bigram_ratio": F.when(
            n >= 2, _max_run(F.array_sort(bigrams)).cast("double") / (nd - 1)
        ).otherwise(F.lit(0.0)),
        "max_run": _max_run(ws).cast("bigint"),
    }


def repetition_features_frame(
    df: "DataFrame", id_cols: list[str], text_col: str = "text"
) -> "DataFrame":
    """Staged, hashed formulation of :func:`repetition_features` — the
    hot-path variant (measured ~5× the column-expression form at sf0.1).

    Two things make the column-expression form slow: (1) every output
    column embeds the tokenization sub-tree, and lambda-bearing
    expressions are excluded from Catalyst's subexpression elimination,
    so the text is re-split/re-lowered per signal; (2) the sorts and
    run-length aggregates operate on STRINGS (and the bigram path
    builds a concat string per position). Here each stage materializes
    its arrays so downstream reads are attribute references, and words
    are hashed to longs once — sorts, distincts and run-lengths become
    fixed-width integer ops. Mode counts over hashes equal mode counts
    over words up to an in-document xxhash64 collision (~n²/2⁶⁴ per
    doc ≈ 1e-13 — the oracle would catch one). Still zero shuffle.
    """
    tokens = df.select(*id_cols, words(F.col(text_col)).alias("__w"))
    hashed = tokens.select(
        *id_cols,
        F.size("__w").alias("__n"),
        F.transform("__w", lambda w: F.xxhash64(w)).alias("__h"),
    )
    n, h = F.col("__n"), F.col("__h")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.xxhash64(F.element_at(h, i + 1), F.element_at(h, i + 2)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = hashed.select(
        *id_cols,
        "__n",
        "__h",
        F.array_sort(h).alias("__hs"),
        bigrams.alias("__bg"),
    )
    nd = n.cast("double")
    return staged.select(
        *id_cols,
        n.cast("bigint").alias("n_words"),
        ((nd - F.size(F.array_distinct(h))) / nd).alias("dup_word_ratio"),
        (_max_run(F.col("__hs"), "bigint").cast("double") / nd).alias(
            "top_word_ratio"
        ),
        F.when(
            n >= 2,
            _max_run(F.array_sort(F.col("__bg")), "bigint").cast("double") / (nd - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_ratio"),
        _max_run(h, "bigint").cast("bigint").alias("max_run"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace/case-normalized text. Identical across engines (used as
    the exact-dedup key and the DuckDB-oracle-able fingerprint)."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


def lang_id(text: Column) -> Column:
    """Stopword-hit language ID over {en,de,fr,es}; 'und' (undetermined)
    when nothing matches. One projection, no shuffle."""
    ws = words(text)
    def hit_counter(sw: list[str]):
        arr = const_array(sw, "string")
        return lambda w: F.array_contains(arr, w)

    hits = {
        lang: F.size(F.filter(ws, hit_counter(sw))) for lang, sw in _STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # iterate in reverse so earlier languages win ties deterministically
    for lang in reversed(list(hits)):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def annotate_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass annotation: all text metrics as extra columns."""
    t = F.col(text_col)
    feats = quality_features(t)
    out = df
    for name, col in feats.items():
        if name in ("n_chars",) and name in df.columns:
            continue  # keep the source's existing column
        out = out.withColumn(name, col)
    return (
        out.withColumn("n_tokens", token_count(t))
        .withColumn("n_bpe_tokens", bpe_token_estimate(t))
        .withColumn("quality", quality_score(t))
        .withColumn("fingerprint", fingerprint(t))
        .withColumn("lang_pred", lang_id(t))
    )
