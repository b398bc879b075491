"""Learned byte-pair-encoding: distributed training counts, driver
merge loop, Arrow-batched application.

`bpe_token_estimate` (text.py) is the model-free heuristic; this is
the real thing, shaped the way production tokenizer training is:

- the ONLY corpus-sized pass is a word-frequency aggregation (one
  shuffle on word strings; at 100 TB the combiner collapses it to
  vocab size ~1e5-1e6 rows map-side);
- merge learning runs on the *word-frequency table*, which is
  vocab-bounded, not corpus-bounded — the standard formulation every
  BPE trainer uses (counting pair frequencies weighted by word
  counts). It collects that bounded table to the driver, capped by
  ``max_vocab`` (assert, not silent truncation);
- applying the merges is per-row Python by nature (a data-dependent
  merge loop has no Catalyst expression), so it runs as an
  Arrow-batched pandas UDF — the sanctioned slow path.
"""

from __future__ import annotations

from itertools import chain

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import words

__all__ = ["learn_bpe", "bpe_tokenize_col", "bpe_token_count_col"]


def learn_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int = 200,
    max_vocab: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus.

    Distributed word count → bounded driver-side merge loop. Words are
    lowercased whitespace tokens with an end-of-word marker (``</w>``)
    so merges never cross word boundaries. Deterministic: ties on pair
    frequency break lexicographically.
    """
    counts = (
        df.select(
            F.explode(words(F.col(text_col))).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # limit(max_vocab+1) + length check instead of count()+collect():
    # one corpus aggregation pass, not two, and the driver-side fetch
    # stays bounded either way (same guard shape as sampling.py's
    # dataset_mix max_sources check)
    rows = counts.limit(max_vocab + 1).collect()
    assert len(rows) <= max_vocab, (
        f"vocab exceeds max_vocab={max_vocab}; raise the cap "
        "or pre-filter (driver collect must stay bounded)"
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r.w) + ("</w>",): r.c for r in rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        if not pair_counts:
            break
        best = max(pair_counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        pair = best[0]
        merges.append(pair)
        merged = pair[0] + pair[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + ["</w>"]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


# Per-task word→encoding memo cap: BPE output is a pure function of
# the word, and corpora repeat words (Zipf), so each distinct word is
# encoded once per task instead of once per occurrence — the standard
# tokenizer-cache optimization (r14: 270k occurrences / 31 distinct
# words at sf0.1 meant ~9000× redundant merge loops). The cap bounds
# executor memory on adversarial vocabularies; past it, words are
# encoded uncached (identical output, just slower).
_BPE_CACHE_MAX = 1 << 20


def _bpe_words(merges: list[tuple[str, str]]):
    """The one learned-BPE encoder: maps a batch's text Series to each
    row's list of per-word token lists, with one word cache per batch
    (capped at :data:`_BPE_CACHE_MAX` words)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode(s: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(t: str) -> list[list[str]]:
            out: list[list[str]] = []
            for w in (t or "").strip().lower().split():
                v = cache.get(w)
                if v is None:
                    v = _encode_word(w, ranks)
                    if len(cache) < _BPE_CACHE_MAX:
                        cache[w] = v
                out.append(v)
            return out

        return s.map(enc)

    return encode


def bpe_tokenize_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """array<string> of BPE tokens — Arrow-batched pandas UDF applying
    the learned merges (broadcast as a closure constant)."""
    encode = _bpe_words(merges)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(s: pd.Series) -> pd.Series:
        return encode(s).map(lambda ws: list(chain.from_iterable(ws)))

    return tok(text)


def bpe_token_count_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """BIGINT learned-BPE token count per row (same encoder, count only —
    cheaper to transfer than the token arrays)."""
    encode = _bpe_words(merges)

    @F.pandas_udf(T.LongType())
    def cnt(s: pd.Series) -> pd.Series:
        return encode(s).map(lambda ws: sum(map(len, ws)))

    return cnt(text)
