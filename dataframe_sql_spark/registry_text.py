"""Catalog entries: text analysis (stats, quality, langid, repetition, BPE, winnowing, relevance scoring).

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import (
    bpe_token_estimate,
    lang_id,
    token_count,
    words,
)

from .registry_common import (  # noqa: F401
    _W_CTE,
    _docs,
    _reg,
    _sql,
)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

_reg(
    "txt_stats",
    lambda spark, sf_dir: _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_estimate(F.col("text")).alias("n_bpe"),
        F.length(F.trim(F.col("text"))).cast("bigint").alias("n_chars2"),
    ),
    r"SELECT doc_id, "
    r"CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE length(string_split_regex(trim(text), '\s+')) END AS n_tokens, "
    r"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
    r"greatest(length(string_split_regex(trim(text), '\s+')), "
    r"ceil(length(text) / 4.0)::INT) "
    r"+ length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) END::BIGINT AS n_bpe, "
    r"length(trim(text))::BIGINT AS n_chars2 FROM documents",
    "token counting: whitespace tokens + BPE-ish estimate",
)


_reg(
    "txt_langid",
    lambda spark, sf_dir: _docs(spark, sf_dir).select(
        "doc_id", "lang", lang_id(F.col("text")).alias("lang_pred")
    ),
    None,  # per-language stopword-hit argmax: expressible but brittle in SQL;
    # pytest checks accuracy on crafted sentences, txt_langid_golden is the
    # driver-scoreable version. (The synthetic corpus's lang column is a
    # decorative label — all its text is English-ish word salad — so a
    # label-accuracy certificate would be meaningless here.)
    "n-gram/stopword-heuristic language ID over {en,de,fr,es}",
)


_LANGID_GOLDEN = [
    (1, "the cat and the dog is in a house for it", "en"),
    (2, "der hund und die katze ist nicht ein tier mit einem haus auf dem weg zu dir", "de"),
    (3, "le chien et la vache est dans une maison pour un garcon de paris", "fr"),
    (4, "el perro y los gatos es una casa para el hombre en madrid", "es"),
    (5, "zzz qqq xxx yyy", "und"),
]


_reg(
    "txt_langid_golden",
    # Golden-text CERTIFICATE: fixed multilingual sentences constructed
    # inline (the sf tables can't serve — see txt_langid note), predicted
    # by the real stopword-argmax expression; the DuckDB oracle pins the
    # expected labels, making language-ID behavior a driver-scored row.
    lambda spark, sf_dir: spark.createDataFrame(
        [(i, t) for i, t, _ in _LANGID_GOLDEN], "sid int, text string"
    ).select("sid", lang_id(F.col("text")).alias("lang_pred")),
    "SELECT * FROM (VALUES "
    + ", ".join(f"({i}, '{lang}')" for i, _, lang in _LANGID_GOLDEN)
    + ") t(sid, lang_pred)",
    "language-ID golden certificate: known en/de/fr/es/und sentences "
    "must classify correctly (oracle pins the expected labels)",
)


_reg(
    "txt_quality",
    lambda spark, sf_dir: _docs(spark, sf_dir).select(
        "doc_id",
        F.round(
            F.length(F.regexp_replace(F.trim(F.col("text")), r"[A-Za-z0-9\s]", "")).cast(
                "double"
            )
            / F.length(F.trim(F.col("text"))),
            6,
        ).alias("punct_ratio"),
        F.round(
            F.length(F.trim(F.col("text"))).cast("double")
            / F.size(F.split(F.trim(F.col("text")), r"\s+")),
            6,
        ).alias("mean_word_len"),
    ),
    r"SELECT doc_id, "
    r"round(length(regexp_replace(trim(text), '[A-Za-z0-9\s]', '', 'g'))::DOUBLE "
    r"/ length(trim(text)), 6) AS punct_ratio, "
    r"round(length(trim(text))::DOUBLE "
    r"/ length(string_split_regex(trim(text), '\s+')), 6) AS mean_word_len "
    r"FROM documents",
    "quality signals: punctuation ratio, mean word length",
)


def _txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import repetition_features_frame

    return repetition_features_frame(_docs(spark, sf_dir), ["doc_id"], "text")



_reg(
    "txt_repetition",
    _txt_repetition,
    # Independent formulation on purpose: Spark computes the signals
    # map-side over per-row arrays; the oracle explodes tokens and uses
    # grouped counts + gaps-and-islands windows. Agreement checks both.
    r"WITH lists AS (SELECT doc_id, "
    r"string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), "
    r"toks AS (SELECT doc_id, unnest(ws) AS w, "
    r"unnest(generate_series(1, len(ws))) AS pos FROM lists), "
    r"wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w), "
    r"perdoc AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct, "
    r"max(c) AS top_word FROM wc GROUP BY doc_id), "
    r"big AS (SELECT doc_id, w || ' ' || lead(w) OVER "
    r"(PARTITION BY doc_id ORDER BY pos) AS bg FROM toks), "
    r"bgc AS (SELECT doc_id, bg, count(*) AS c FROM big "
    r"WHERE bg IS NOT NULL GROUP BY doc_id, bg), "
    r"bgd AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram "
    r"FROM bgc GROUP BY doc_id), "
    r"runs AS (SELECT doc_id, pos, CASE WHEN lag(w) OVER "
    r"(PARTITION BY doc_id ORDER BY pos) = w THEN 0 ELSE 1 END AS brk FROM toks), "
    r"runs2 AS (SELECT doc_id, sum(brk) OVER "
    r"(PARTITION BY doc_id ORDER BY pos) AS rid FROM runs), "
    r"runlen AS (SELECT doc_id, rid, count(*) AS c FROM runs2 "
    r"GROUP BY doc_id, rid), "
    r"mr AS (SELECT doc_id, max(c) AS max_run FROM runlen GROUP BY doc_id) "
    r"SELECT p.doc_id, p.n_words::BIGINT AS n_words, "
    r"(p.n_words - p.n_distinct)::DOUBLE / p.n_words AS dup_word_ratio, "
    r"p.top_word::DOUBLE / p.n_words AS top_word_ratio, "
    r"coalesce(b.top_bigram::DOUBLE / b.n_bigrams, 0.0) AS top_bigram_ratio, "
    r"m.max_run::BIGINT AS max_run "
    r"FROM perdoc p LEFT JOIN bgd b USING (doc_id) JOIN mr m USING (doc_id)",
    "Gopher-style repetition filters: dup-word / top-word / top-bigram "
    "shares and longest same-word run, all map-side array aggregates "
    "(zero shuffle; oracle uses the explode/window shape)",
)

_sql(
    "txt_pii_scrub",
    "select doc_id, "
    "regexp_replace(regexp_replace("
    "concat(text, ' contact user', cast(doc_id as string), "
    "'@example.com or 555-123-4567'), "
    "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[a-zA-Z]', '<EMAIL>'), "
    "'[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>') as clean "
    "from documents",
    "SELECT doc_id, "
    "regexp_replace(regexp_replace("
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), "
    "'@example.com or 555-123-4567'), "
    "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[a-zA-Z]', '<EMAIL>', 'g'), "
    "'[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean "
    "FROM documents",
    "PII redaction (emails/phones) for training-data curation; pure "
    "JVM regexp_replace, no Python in the hot path. Synthetic PII is "
    "appended first because the corpus contains none (portable "
    "[0-9]-class patterns — no \\d/\\b dialect divergence)",
)


_sql(
    "txt_char_entropy",
    # Character-level Shannon entropy per doc — the gibberish /
    # base64-blob detector quality signal (natural text sits ~4 bits,
    # uniform noise near log2(alphabet)). Positional explode differs
    # by dialect; round(4) absorbs the summation-order last-ulp of
    # the ~30-term -sum(p log2 p).
    # length(text) > 0 guard: Spark's sequence(1, 0) steps DOWN and
    # yields [1, 0] (two bogus positions) where DuckDB's
    # generate_series(1, 0) is empty — empty docs must be excluded
    # identically on both sides or they hash-diverge.
    "with ch as (select doc_id, substr(text, p, 1) as c from ("
    "select doc_id, text, explode(sequence(1, length(text))) as p "
    "from documents where length(text) > 0)), "
    "counts as (select doc_id, c, count(*) as cnt from ch "
    "group by doc_id, c), "
    "tot as (select doc_id, cast(sum(cnt) as double) as nn from counts "
    "group by doc_id) "
    "select t.doc_id, round(-sum((cnt / nn) * log2(cnt / nn)), 4) "
    "as entropy from counts c join tot t on c.doc_id = t.doc_id "
    "group by t.doc_id order by t.doc_id",
    "WITH ch AS (SELECT doc_id, substr(text, p, 1) AS c FROM ("
    "SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p "
    "FROM documents WHERE length(text) > 0)), "
    "counts AS (SELECT doc_id, c, count(*) AS cnt FROM ch "
    "GROUP BY doc_id, c), "
    "tot AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS nn FROM counts "
    "GROUP BY doc_id) "
    "SELECT t.doc_id, round(-sum((cnt / nn) * log2(cnt / nn)), 4) "
    "AS entropy FROM counts c JOIN tot t ON c.doc_id = t.doc_id "
    "GROUP BY t.doc_id ORDER BY t.doc_id",
    "character-level Shannon entropy per doc (gibberish/base64 "
    "detector; ~4 bits for natural text)",
)



def _txt_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE token counts: distributed word-count -> driver merge
    loop on the vocab-bounded frequency table -> Arrow-batched
    tokenizer. The corpus pass is one shuffle; the UDF is the
    sanctioned slow path (data-dependent merge loop has no Catalyst
    expression)."""
    from .functions.bpe import bpe_token_count_col, learn_bpe

    # fan_out=False (r15): learn_bpe's word count parallelizes at its
    # own shuffle, and the iterator-form encode UDF with the per-task
    # cache is fast per row — the fan-out exchange measured 1.6-1.8x
    # slower at sf0.1 (interleaved A/B)
    docs = _docs(spark, sf_dir, fan_out=False)
    merges = learn_bpe(docs, "text", n_merges=50)
    return docs.select(
        "doc_id", bpe_token_count_col(F.col("text"), merges).alias("n_bpe_learned")
    )



_reg(
    "txt_bpe_tokens",
    _txt_bpe,
    None,  # learned merges + UDF application not SQL-expressible;
    # tests/test_bpe.py gates learning determinism and encode parity;
    # txt_bpe_roundtrip is the driver-scoreable certificate
    "learned BPE token counts (distributed counts, driver merges on "
    "the bounded vocab table, Arrow-batched apply)",
)



def _txt_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE lossless-roundtrip CERTIFICATE: for every document, the
    concatenation of its learned-BPE tokens with ``</w>`` end-of-word
    markers restored to spaces must equal the normalized (lowercased,
    whitespace-collapsed) text. BPE merges only ever concatenate
    adjacent symbols, so this invariant holding over the whole corpus
    certifies the full learn → broadcast-merges → Arrow-apply machinery
    preserved every byte. The oracle pins (n_docs, all_roundtrip=true):
    the count is data-derived, the flag is the property."""
    from .functions.bpe import bpe_tokenize_col, learn_bpe

    docs = _docs(spark, sf_dir)
    merges = learn_bpe(docs, "text", n_merges=100)
    toks = docs.select(
        "doc_id",
        "text",
        bpe_tokenize_col(F.col("text"), merges).alias("toks"),
    )
    detok = F.trim(F.regexp_replace(F.concat_ws("", "toks"), "</w>", " "))
    norm = F.concat_ws(" ", words(F.col("text")))
    return toks.select((detok == norm).alias("ok")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("ok").alias("all_roundtrip"),
    )



_reg(
    "txt_bpe_roundtrip",
    _txt_bpe_roundtrip,
    "SELECT count(*)::BIGINT AS n_docs, true AS all_roundtrip FROM documents",
    "learned-BPE roundtrip certificate: detokenized output must equal "
    "normalized input for every document (oracle pins the flag + count)",
)



_sql(
    "txt_chunks",
    "select doc_id, chunk_idx, substr(text, chunk_idx * 80 + 1, 100) as chunk "
    "from (select doc_id, text, "
    "posexplode(sequence(0, greatest(0, "
    "cast(ceil((n_chars - 100) / 80.0) as int)))) as (pos, chunk_idx) "
    "from documents) t where doc_id < 100",
    "SELECT doc_id, chunk_idx, substr(text, chunk_idx * 80 + 1, 100) AS chunk "
    "FROM (SELECT doc_id, text, "
    "unnest(generate_series(0, greatest(0, "
    "cast(ceil((n_chars - 100) / 80.0) as int)))) AS chunk_idx "
    "FROM documents) t WHERE doc_id < 100",
    "overlapping document chunking (window 100 chars, stride 80) — the "
    "RAG / context-window prep op; fan-out is explode over a generated "
    "index, fully JVM-side, parallelism follows the documents scan",
)



# DuckDB oracle shared by both winnowing formulations (window shape).
_WINNOW_ORACLE = (
    "SELECT DISTINCT doc_id, fp FROM ("
    "SELECT doc_id, pos, m, "
    "min(kh) OVER (PARTITION BY doc_id ORDER BY pos "
    "ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS fp "
    "FROM (SELECT doc_id, pos, m, "
    "substr(md5(substr(text, pos, 8)), 1, 8) AS kh "
    "FROM (SELECT doc_id, text, greatest(1, n_chars - 7) AS m, "
    "unnest(generate_series(1, greatest(1, n_chars - 7))) AS pos "
    "FROM documents) g) h) w "
    "WHERE pos >= least(16, m)"
)


_sql(
    "txt_winnow_fingerprint",
    # Winnowing (MOSS-style) document fingerprinting — the rolling-hash
    # fingerprint op: hash every k-gram (k=8; md5-hex prefix so both
    # engines agree bit-for-bit), then keep the minimum hash of each
    # sliding window of w=16 consecutive k-grams; the distinct minima
    # are the document's fingerprints. Guarantees any shared substring
    # of length >= w+k-1 between two documents yields a shared
    # fingerprint, robust to position shifts (unlike fixed chunking).
    # All JVM-side: explode over a generated position index (fan-out is
    # n_chars rows/doc, partition-local), one window shuffle on doc_id.
    # Idle-host A/B at sf0.1: this shape 3.2 s vs 4.6 s for the
    # map-only array formulation below — codegen'd window MIN beats
    # interpreted slice+array_min lambdas while shuffles are local.
    # txt_winnow_maponly is the same op with zero exchanges for the
    # cluster case where the corpus-wide window shuffle dominates.
    "select distinct doc_id, fp from ("
    "select doc_id, pos, m, "
    "min(kh) over (partition by doc_id order by pos "
    "rows between 15 preceding and current row) as fp "
    "from (select doc_id, pos, m, "
    "substr(md5(substr(text, pos, 8)), 1, 8) as kh "
    "from (select doc_id, text, greatest(1, n_chars - 7) as m, "
    "posexplode(sequence(1, greatest(1, n_chars - 7))) as (i, pos) "
    "from documents) g) h) w "
    "where pos >= least(16, m)",
    _WINNOW_ORACLE,
    "winnowing fingerprint (k-gram rolling hash + sliding-window min): "
    "shared substrings of length >= 23 chars always share a "
    "fingerprint; the plagiarism/near-dup detection primitive "
    "complementing MinHash (set-overlap) and SimHash (vector distance)",
)


_sql(
    "txt_winnow_maponly",
    # ZERO-SHUFFLE winnowing: identical output to
    # txt_winnow_fingerprint (same oracle), different plan. The k-gram
    # hash array is built once per document, window minima come from
    # transform+slice+array_min over that array, and array_distinct
    # collapses repeats before the only explode — which fans out just
    # the surviving fingerprints (~n/w rows) instead of n_chars rows,
    # and NOTHING is exchanged: a pure map pass. Locally this is ~1.4×
    # slower than the window form (4.6 s vs 3.2 s at sf0.1 — codegen'd
    # window MIN vs interpreted lambdas; both rescan each frame since
    # MIN admits no decremental update), but it removes the only
    # corpus-wide shuffle, which is the term that grows with cluster
    # size — the formulation to pick when the exchange, not CPU, is
    # the bottleneck. Word shingles instead of chars cut the per-doc
    # fan-out a further ~5×.
    "select doc_id, fp from ("
    "select doc_id, explode(array_distinct(transform("
    "sequence(least(16, m), m), "
    "p -> array_min(slice(khs, greatest(1, p - 15), least(16, p)))))) as fp "
    "from (select doc_id, m, "
    "transform(sequence(1, m), "
    "q -> substr(md5(substr(text, q, 8)), 1, 8)) as khs "
    "from (select doc_id, text, greatest(1, n_chars - 7) as m "
    "from documents) g) h) w",
    _WINNOW_ORACLE,
    "zero-exchange winnowing (array-side sliding minima, map-only "
    "plan) — same fingerprints as txt_winnow_fingerprint, traded for "
    "the corpus-wide window shuffle",
)



def _txt_word_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scoring (CCNet-style, integer-exact):
    per-doc mean corpus frequency of its words + share of rare
    (freq<=2) words. Both outputs are ratios of exact integer
    aggregates, so the cross-engine hash matches bit-for-bit without
    any float-sum ordering concerns.

    r15: converted from the SQL form (identical expressions, oracle
    unchanged) so the documents read can opt OUT of the scan fan-out —
    the words stream shuffles at its own groupBy immediately, and the
    fan-out exchange measured 1.44x slower in a clean single-key A/B
    at sf0.1 (driver r14 concurred: 0.37->0.60 s)."""
    tokens = _docs(spark, sf_dir, fan_out=False).select(
        "doc_id", F.explode(words(F.col("text"))).alias("w")
    )
    freq = tokens.groupBy("w").agg(F.count("*").alias("c"))
    return tokens.join(freq, "w").groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        # BIGINT cast on freq_sum: DuckDB sum(BIGINT) widens to
        # HUGEINT -> pandas float64 -> driver value-hash mismatch
        # (q12 class)
        F.sum("c").cast("bigint").alias("freq_sum"),
        (F.sum("c").cast("double") / F.count("*")).alias("avg_word_freq"),
        (
            F.sum(F.when(F.col("c") <= 2, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("rare_ratio"),
    )


_reg(
    "txt_word_rarity",
    _txt_word_rarity,
    r"WITH words AS (SELECT doc_id, "
    r"unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents), "
    r"freq AS (SELECT w, count(*) AS c FROM words GROUP BY w) "
    r"SELECT doc_id, count(*) AS n_words, sum(c)::BIGINT AS freq_sum, "
    r"sum(c)::DOUBLE / count(*) AS avg_word_freq, "
    r"sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*) "
    r"AS rare_ratio "
    r"FROM words JOIN freq USING (w) GROUP BY doc_id",
    "corpus-statistics quality score: per-doc mean word frequency and "
    "rare-word share; the freq table is vocab-sized so the join "
    "broadcasts - the unigram half of a CCNet-style quality filter",
)


_sql(
    "txt_len_histogram",
    # Token-length histogram with cumulative share — the
    # sequence-packing / batch-shape planning pass (how much of the
    # corpus fits a given context length). Two tiny aggregations; the
    # cumulative window runs over the bucket table (bounded rows:
    # max_len/10), not the corpus.
    r"with w as (select cast(floor(size(split(trim(text), '\\s+')) / 10.0) "
    r"* 10 as bigint) as bucket from documents), "
    r"b as (select bucket, count(*) as n_docs from w group by bucket) "
    r"select bucket, n_docs, "
    r"round(cast(sum(n_docs) over (order by bucket) as double) / "
    r"sum(n_docs) over (), 6) as cum_share from b",
    r"WITH w AS (SELECT CAST(floor(length(string_split_regex(trim(text), "
    r"'\s+')) / 10.0) * 10 AS BIGINT) AS bucket FROM documents), "
    r"b AS (SELECT bucket, count(*) AS n_docs FROM w GROUP BY bucket) "
    r"SELECT bucket, n_docs, "
    r"round(CAST(sum(n_docs) OVER (ORDER BY bucket) AS DOUBLE) / "
    r"sum(n_docs) OVER (), 6) AS cum_share FROM b",
    "token-length histogram (width-10 buckets) with cumulative corpus "
    "share — context-window fit planning for sequence packing",
)


# Bigram CTE: adjacent-word pairs via index transform (1-word docs
# yield a (word, NULL) pair, filtered — mirrors _bigram_frame).
_BG_CTE = (
    r"wsx AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') "
    r"AS ws FROM documents), "
    r"bg0 AS (SELECT doc_id, unnest(list_transform("
    r"range(1, greatest(len(ws) - 1, 1) + 1), "
    r"i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u FROM wsx), "
    r"bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM bg0 "
    r"WHERE u.w2 IS NOT NULL AND u.w1 <> '')"
)



def _txt_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relevance import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), "doc_id", "text", k=3)



_reg(
    "txt_tfidf",
    _txt_tfidf,
    "WITH "
    + _W_CTE
    + r", tf AS (SELECT doc_id, word, cast(count(*) AS BIGINT) AS tf "
    r"FROM wds GROUP BY doc_id, word), "
    r"dfq AS (SELECT word, cast(count(*) AS BIGINT) AS df FROM tf GROUP BY word), "
    r"nd AS (SELECT count(*) AS n_docs FROM documents), "
    r"s AS (SELECT doc_id, word, tf, df, "
    r"round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score "
    r"FROM tf JOIN dfq USING (word) CROSS JOIN nd), "
    r"r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
    r"ORDER BY score DESC, word) AS rn FROM s) "
    r"SELECT doc_id, word, tf, df, score, rn FROM r WHERE rn <= 3",
    "top-3 TF-IDF terms per document (smooth idf, deterministic "
    "word tiebreak); exact BIGINT tf/df beside the rounded score",
)



def _txt_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relevance import bm25_scores

    return bm25_scores(
        _docs(spark, sf_dir), "doc_id", "text", ["table", "query", "spark"]
    )



_reg(
    "txt_bm25",
    _txt_bm25,
    "WITH "
    + _W_CTE
    + r", dl AS (SELECT doc_id, cast(count(*) AS BIGINT) AS dl "
    r"FROM wds GROUP BY doc_id), "
    r"c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl), "
    r"tf AS (SELECT doc_id, word, cast(count(*) AS BIGINT) AS tf FROM wds "
    r"WHERE word IN ('table', 'query', 'spark') GROUP BY doc_id, word), "
    r"dfq AS (SELECT word, cast(count(*) AS BIGINT) AS df FROM tf GROUP BY word), "
    r"pt AS (SELECT tf.doc_id, "
    r"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 / "
    r"(tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS wgt "
    r"FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN c) "
    r"SELECT doc_id, cast(count(*) AS BIGINT) AS n_terms_hit, "
    r"round(sum(wgt), 6) AS score FROM pt GROUP BY doc_id",
    "Okapi BM25 (k1=1.2, b=0.75) over a 3-term query; sparse 'scatter "
    "only what you score' retrieval shape",
)



def _txt_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relevance import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), "doc_id", "text", min_count=5, top=50)



_reg(
    "txt_pmi",
    _txt_pmi,
    "WITH "
    + _W_CTE
    + ", "
    + _BG_CTE
    + r", bgf AS (SELECT w1, w2, cast(count(*) AS BIGINT) AS c_xy "
    r"FROM bg GROUP BY w1, w2), "
    r"uni AS (SELECT word, cast(count(*) AS BIGINT) AS c FROM wds GROUP BY word), "
    r"tot AS (SELECT (SELECT count(*) FROM bg) AS b_total, "
    r"(SELECT cast(sum(c) AS BIGINT) FROM uni) AS u_total) "
    r"SELECT w1, w2, c_xy, cx.c AS c_x, cy.c AS c_y, "
    r"round(ln((c_xy / b_total) / ((cx.c / u_total) * (cy.c / u_total))), 6) "
    r"AS pmi FROM bgf "
    r"JOIN uni cx ON bgf.w1 = cx.word JOIN uni cy ON bgf.w2 = cy.word "
    r"CROSS JOIN tot WHERE c_xy >= 5 "
    r"ORDER BY pmi DESC, w1, w2 LIMIT 50",
    "top-50 PMI collocations (min bigram count 5); exact BIGINT counts "
    "beside the rounded score",
)



def _txt_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relevance import bigram_lm_scores

    # fan_out=False (r15): both corpus passes are tokenize->groupBy
    # shapes whose own exchanges parallelize downstream work; the
    # fan-out exchange measured 1.15-1.36x slower at sf0.1 (and the
    # driver's r14 bench had flagged this key +77%)
    return bigram_lm_scores(
        _docs(spark, sf_dir, fan_out=False), "doc_id", "text"
    )



_reg(
    "txt_lm_score",
    _txt_lm_score,
    "WITH "
    + _W_CTE
    + ", "
    + _BG_CTE
    + r", c12 AS (SELECT w1, w2, cast(count(*) AS BIGINT) AS c12 "
    r"FROM bg GROUP BY w1, w2), "
    r"uni AS (SELECT word, cast(count(*) AS BIGINT) AS c1 FROM wds GROUP BY word), "
    r"vc AS (SELECT cast(count(*) AS BIGINT) AS v FROM uni) "
    r"SELECT bg.doc_id, cast(count(*) AS BIGINT) AS n_bigrams, "
    r"round(avg(ln((c12 + 0.5) / (c1 + 0.5 * v))), 6) AS avg_logp "
    r"FROM bg JOIN c12 USING (w1, w2) JOIN uni ON bg.w1 = uni.word "
    r"CROSS JOIN vc GROUP BY bg.doc_id",
    "CCNet-style corpus bigram-LM document scoring (add-0.5 smoothing): "
    "mean log-probability per doc — the quality-bucketing signal",
)



def _txt_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> sorted posting list of doc ids.

    The retrieval-index construction pass (the BM25/TF-IDF entries
    score against corpus statistics; this materializes the index
    itself). One corpus shuffle on the term; postings are exact and
    sorted so the oracle compares bit-for-bit. At 100 TB the posting
    lists of head terms are the skew risk: the production layout
    writes this frame bucketed by term with per-term posting-block
    chunking (write_bucketed + fixed-size array slices) and
    delta-encoded ids; the build plan — explode, distinct, one
    groupBy — is unchanged.
    """
    from .operators.relevance import doc_words

    words = doc_words(_docs(spark, sf_dir), "doc_id", "text")
    return (
        words.select("word", "doc_id")
        .distinct()
        .groupBy("word")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            # serialized (not a raw array column): the driver's pandas
            # canonicalizer cannot sort/hash ndarray cells — the
            # f_array_setops CORRECTNESS_r08 class, caught here by the
            # catalog lint before this entry's r10 attestation window
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )



_reg(
    "txt_inverted_index",
    _txt_inverted_index,
    "WITH "
    + _W_CTE
    + r" SELECT word, cast(count(DISTINCT doc_id) AS BIGINT) AS df, "
    r"coalesce(array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ','), '')"
    r" AS postings "
    r"FROM wds GROUP BY word",
    "inverted index build: term -> exact sorted posting list + "
    "document frequency, one term-keyed shuffle",
)
