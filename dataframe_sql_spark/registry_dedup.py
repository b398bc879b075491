"""Catalog entries: deduplication (exact/fingerprint/minhash/simhash/embedding/substring/decontamination) and their certificates.

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.npsig import oph_signature_vec
from .functions.text import fingerprint, words
from .operators.dedup import (
    blocked_ngram_jaccard,
    embedding_dedup,
    exact_dedup,
    hashed_shingle_frame,
    minhash_candidate_pairs,
    minhash_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    shingle_frame,
    simhash_dedup,
)
from .registry import engine_for

from .registry_common import (  # noqa: F401
    _KM_CTE,
    _SH_CTE,
    _docs,
    _emb,
    _reg,
    _sql,
    _shingle_sharing_candidates,
    _verified_edges,
)



# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

_reg(
    "dd_exact",
    lambda spark, sf_dir: exact_dedup(_docs(spark, sf_dir), ["text"], "doc_id"),
    "SELECT * FROM documents WHERE doc_id IN "
    "(SELECT min(doc_id) FROM documents GROUP BY text)",
    "exact dedup: one survivor (min id) per distinct text, hash-keyed shuffle",
)


_reg(
    "dd_exact_normalized",
    # Normalize-then-dedup: survivors keyed on the NORMALIZED-text
    # fingerprint (lower + trim + whitespace collapse, md5'd to a
    # fixed-width shuffle key) — catches the case/whitespace variants
    # raw exact dedup misses, the standard first pass before near-dup.
    # Same min-id survivor policy as dd_exact.
    lambda spark, sf_dir: exact_dedup(
        _docs(spark, sf_dir).withColumn("__fp", fingerprint(F.col("text"))),
        ["__fp"],
        "doc_id",
    ).select("doc_id", "lang", "source"),
    r"SELECT doc_id, lang, source FROM documents WHERE doc_id IN "
    r"(SELECT min(doc_id) FROM documents GROUP BY "
    r"md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))",
    "normalize-then-dedup: min-id survivor per normalized-text "
    "fingerprint (case/whitespace variants collapse; fixed-width "
    "md5 shuffle key)",
)


_reg(
    "dd_fingerprint",
    lambda spark, sf_dir: _docs(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    ),
    r"SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp "
    "FROM documents",
    "md5 fingerprint of normalized text — cross-engine-stable dedup key",
)


_reg(
    "dd_minhash",
    lambda spark, sf_dir: minhash_dedup(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.7
    ).select("doc_id", "lang", "source", "n_chars"),
    None,  # LSH internals (xxhash band buckets) aren't SQL-expressible
    "minhash-LSH near-dup removal, greedy min-id survivors; pytest checks semantics",
)


_reg(
    "dd_minhash_pairs",
    lambda spark, sf_dir: minhash_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")),
    None,
    "LSH candidate pairs verified by exact shingle Jaccard ≥ 0.5",
)


_reg(
    "dd_ngram_jaccard",
    lambda spark, sf_dir: blocked_ngram_jaccard(
        _docs(spark, sf_dir), "doc_id", "text", ["lang", "source"]
    ).select(
        "id_a",
        "id_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("uni").cast("bigint").alias("uni"),
    ),
    r"WITH w AS ("
    r" SELECT doc_id, lang, source,"
    r"  string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), "
    r"sh AS ("
    r" SELECT doc_id, lang, source,"
    r"  list_transform(range(1, greatest(len(ws) - 2, 1) + 1),"
    r"   i -> array_to_string(ws[i:i+2], ' ')) AS s FROM w) "
    r"SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    r" len(list_intersect(a.s, b.s))::BIGINT AS inter,"
    r" len(list_distinct(list_cat(a.s, b.s)))::BIGINT AS uni "
    r"FROM sh a JOIN sh b"
    r" ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id",
    "exact blocked n-gram Jaccard (integer set sizes — rounding-proof "
    "differential check over every in-block pair)",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "own blocked pipeline (block-key equi-join candidates, per-block "
        "quadratic only); the banded MinHash counterparts "
        "dd_minhash/dd_minhash_pairs ran rows-only green at the 100x docs "
        "axis (SCALE.md r13)"
    ),
)


def _dd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import cluster_representatives

    docs = _docs(spark, sf_dir)
    pairs = minhash_pairs(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b")
    return cluster_representatives(docs, pairs, "doc_id").select(
        "doc_id", "lang", "source"
    )



_reg(
    "dd_clusters",
    _dd_clusters,
    None,  # iterative connected components — not SQL-expressible; pytest-gated
    "transitive near-dup clustering: minhash pairs → connected components → "
    "min-id survivor per cluster (closes A~B~C chains pairwise dedup misses)",
)


_reg(
    "dd_minhash_verified",
    # LSH-family CERTIFICATE (hash-checkable, unlike dd_minhash itself):
    # the claim "banded OPH minhash finds every pair with exact Jaccard
    # >= 0.8" is checked end-to-end — Spark runs the real LSH pipeline
    # (signatures -> bands -> buckets -> candidate pairs) then verifies
    # candidates with exact shingle Jaccard; DuckDB independently computes
    # exact Jaccard over the complete shingle-sharing candidate superset
    # (a pair with J > 0 must share a shingle, so the superset is lossless).
    # A hash match therefore proves LSH recall = 1.0 at J >= 0.8 on this
    # corpus (16 bands x 4 rows: miss probability (1-0.8^4)^16 ~ 2e-4 per
    # pair). Integer inter/uni sizes keep the check rounding-proof;
    # the verifier returns them beside the ratio it filtered on.
    lambda spark, sf_dir: ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        minhash_candidate_pairs(_docs(spark, sf_dir), "doc_id", "text"),
        "doc_id",
        "text",
        threshold=0.8,
    ).select("id_a", "id_b", "inter", "uni"),
    f"WITH {_SH_CTE}, "
    r"ex AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh), "
    r"cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    r" FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id) "
    r"SELECT c.id_a, c.id_b,"
    r" len(list_intersect(x.s, y.s))::BIGINT AS inter,"
    r" len(list_distinct(list_cat(x.s, y.s)))::BIGINT AS uni "
    r"FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b "
    r"WHERE len(list_intersect(x.s, y.s))::DOUBLE"
    r" / len(list_distinct(list_cat(x.s, y.s))) >= 0.8",
    "minhash-LSH recall certificate: LSH candidates verified by exact "
    "Jaccard >= 0.8 must equal ALL such pairs (DuckDB recomputes over the "
    "shingle-sharing superset)",
    oracle_max_sf=0.01,
    max_sf_reason=(
        "oracle-side: the complete pair-set oracle is quadratic by design — "
        "certificate bounded at sf0.01"
    ),
    scale_path=(
        "dd_minhash / dd_minhash_pairs (banded OPH pipeline, plan-pinned "
        "band exchanges) — rows-only green at the 100x docs axis (SCALE.md "
        "r13)"
    ),
)



def _dd_clusters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components CERTIFICATE: run the real iterative label
    propagation (operators/graph.py) over an oracle-able edge set — the
    exact n-gram Jaccard >= 0.5 pairs from the complete shingle-sharing
    candidate superset — and emit every touched node with its cluster
    label (min reachable id). DuckDB independently computes the same
    closure with a recursive transitive-closure CTE, so a hash match
    certifies the iterative algorithm's fixpoint, which dd_clusters
    (LSH-edged, rows-only) cannot get.

    The shingle-sharing self-join is the certificate-only candidate
    generator (exact, but quadratic in shingle document frequency); the
    production path at scale is LSH banding (``dd_clusters``), whose
    recall this entry plus ``dd_minhash_verified`` pin down.
    """
    from .operators.graph import connected_components

    edges = _verified_edges(_docs(spark, sf_dir), threshold=0.5)
    return connected_components(edges).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    )



_reg(
    "dd_clusters_verified",
    _dd_clusters_verified,
    f"WITH RECURSIVE {_SH_CTE}, "
    r"ex AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh), "
    r"cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    r" FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id), "
    r"e AS (SELECT c.id_a, c.id_b"
    r" FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b"
    r" WHERE len(list_intersect(x.s, y.s))::DOUBLE"
    r"  / len(list_distinct(list_cat(x.s, y.s))) >= 0.5), "
    r"sym AS (SELECT id_a AS s, id_b AS d FROM e"
    r" UNION SELECT id_b, id_a FROM e), "
    r"reach(s, d) AS ("
    r" SELECT DISTINCT s, s FROM sym"
    r" UNION"
    r" SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s) "
    r"SELECT s AS doc_id, min(d) AS cluster_id FROM reach GROUP BY s",
    "transitive-closure certificate: iterative min-label propagation over "
    "exact Jaccard >= 0.5 edges (complete shingle-sharing candidates) vs "
    "a DuckDB recursive-CTE closure",
    oracle_max_sf=0.01,
    max_sf_reason=(
        "oracle-side: the recursive transitive-closure oracle is infeasible "
        "beyond sf0.01"
    ),
    scale_path=(
        "dd_clusters (iterated min-id label propagation over banded "
        "candidate edges) — certificate clean at 100x (SCALE.md r13)"
    ),
)


_reg(
    "dd_simhash",
    # Default config: probe_bits=0, one 4-chunk pigeonhole key set per
    # doc, complete for hamming <= 3. This is simhash's actual niche —
    # the memory-/shuffle-constrained regime where one 8-byte
    # signature per doc must suffice (banded minhash beats it on both
    # recall and cost when signatures can be wider; see SCALE.md).
    lambda spark, sf_dir: simhash_dedup(
        # fan_out=False (r15): probe_bits=0 has no materialized key
        # frame — the (chunk, piece) groupBy is the first exchange and
        # parallelizes everything downstream, so the fan-out exchange
        # is pure overhead (interleaved sf0.1 A/B: 0.90->1.49 s). The
        # probed entry keeps fan-out (its eager key-frame featurize
        # job IS the scan stage; measured flat-to-helpful there).
        _docs(spark, sf_dir, fan_out=False), "doc_id", "text", max_hamming=3
    ).select("doc_id", "lang", "source"),
    None,
    "simhash near-dup removal (64-bit, pigeonhole chunk blocking, "
    "complete for hamming ≤ 3 — the one-key-per-doc niche config)",
)


_reg(
    "dd_simhash_probed",
    # probe_bits=1 extends the complete radius from 3 to 7 (1-bit
    # multi-probe per 16-bit chunk) at ×17 bucket-key volume —
    # measured 19/25 -> 22/25 of exact J>=0.8 pairs on this corpus;
    # the last 3 sit at hamming 8-10, beyond any practical simhash
    # radius (featurization limit). Tracked as a separate bench key so
    # the recall/cost trade is explicit round-over-round.
    lambda spark, sf_dir: simhash_dedup(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=7, probe_bits=1
    ).select("doc_id", "lang", "source"),
    None,
    "simhash near-dup removal (64-bit, 1-bit multi-probed pigeonhole "
    "blocking, complete for hamming ≤ 7 — the high-recall config)",
)


_reg(
    "dd_simhash_probed_verified",
    # Replay certificate for the probed simhash pipeline (the last
    # expensive rows-only family without one): same production code
    # path — majority-bit simhash signature, 4x16-bit pigeonhole
    # chunks, 1-bit multi-probe, exact-bucket cap 1000, hamming<=7
    # verify, min-id survivorship — with ONLY the per-gram feature
    # hash swapped to the engine-portable 60-bit md5 form
    # (md5_shingle_frame), exactly how the IVF replay oracles swapped
    # the centroid pick. The DuckDB oracle recomputes every stage from
    # raw text, so a hash match certifies signature bits, chunking,
    # probing, caps, verify, and survivorship end-to-end. Parity
    # measured bit-exact at sf0.001/0.01/0.1 (477/478/4776 survivors).
    lambda spark, sf_dir: simhash_dedup(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=7, probe_bits=1,
        feature_hash="md5",
    ).select("doc_id", "lang", "source"),
    r"""WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
    CAST(('0x' || substr(md5(w[i] || chr(31) || w[least(i+1, n)]), 1, 15)) AS BIGINT) AS h
  FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(n - 1, 1))) AS i) pos
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN sum((h >> b) & 1) * 2 > count(*) THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS term
  FROM grams, LATERAL (SELECT unnest(generate_series(0, 59)) AS b) bb
  GROUP BY doc_id, b
),
sig AS (SELECT doc_id, CAST(sum(term) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
pieces AS (
  SELECT doc_id, sim, c, (sim >> (c * 16)) & 65535 AS piece
  FROM sig, LATERAL (SELECT unnest([0,1,2,3]) AS c) cc
),
ok AS (SELECT c, piece FROM pieces GROUP BY c, piece HAVING count(*) <= 1000),
probes AS (
  SELECT doc_id, sim, c, xor(piece, flip) AS piece
  FROM pieces, LATERAL (SELECT unnest([0,1,2,4,8,16,32,64,128,256,512,1024,2048,4096,8192,16384,32768]) AS flip) ff
),
pairs AS (
  SELECT DISTINCT p.doc_id AS id_a, e.doc_id AS id_b,
         bit_count(xor(p.sim, e.sim)) AS hamming
  FROM probes p
  JOIN pieces e ON p.c = e.c AND p.piece = e.piece
  JOIN ok ON ok.c = e.c AND ok.piece = e.piece
  WHERE p.doc_id < e.doc_id
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE hamming <= 7)""",
    "replay certificate: probed simhash dedup with md5 feature hashes, "
    "the full pipeline re-executed by the SQL oracle from raw text",
)


_reg(
    "dd_minhash_banded_verified",
    # Replay certificate for the banded OPH-minhash pipeline — the
    # complement of dd_minhash_verified (which certifies RECALL against
    # exact complete pairs but not the banding mechanics). Same
    # production code path — OPH lane minima (top-6-bit lanes),
    # rotation densification, 16x4 banding, bucket cap, in-bucket pair
    # generation, exact-Jaccard >= 0.7 verify, min-id survivorship —
    # with the per-shingle hash swapped to the engine-portable 60-bit
    # md5 form and the band-bucket hash to md5 (md5_shingle_frame /
    # _band_rows(feature_hash="md5")). The DuckDB oracle recomputes every
    # stage from raw text: lanes via GROUP BY (doc, h >> 54),
    # densification via arg_min over circular lane distance, buckets
    # via md5 of the comma-joined slot string, the 2..1000 bucket cap,
    # candidate self-join, integer intersect/union Jaccard, and
    # survivorship. Parity bit-exact at sf0.001/0.01/0.1
    # (476/476/4756 survivors).
    lambda spark, sf_dir: minhash_dedup(
        _docs(spark, sf_dir), "doc_id", "text", feature_hash="md5"
    ).select("doc_id", "lang", "source"),
    r"""WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
    CAST(('0x' || substr(md5(w[i] || chr(31) || w[least(i+1, n)] || chr(31) || w[least(i+2, n)]), 1, 15)) AS BIGINT) AS h
  FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(n - 2, 1))) AS i) pos
),
lanes AS (
  SELECT doc_id, h >> 54 AS lane, min(h) AS v FROM grams GROUP BY doc_id, lane
),
dense AS (
  SELECT l.doc_id, gs.j, arg_min(l.v, ((l.lane - gs.j) + 64) % 64) AS v
  FROM lanes l CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) gs
  GROUP BY l.doc_id, gs.j
),
bands AS (
  SELECT doc_id, CAST(j // 4 AS INT) AS band,
         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS bucket
  FROM dense GROUP BY doc_id, j // 4
),
ok AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket
  HAVING count(*) BETWEEN 2 AND 1000
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.h = ga.h
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT x.id_b FROM inter x
  JOIN sizes sa ON sa.doc_id = x.id_a
  JOIN sizes sb ON sb.doc_id = x.id_b
  WHERE CAST(x.i AS DOUBLE) / (sa.sz + sb.sz - x.i) >= 0.7
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM dups)""",
    "replay certificate: banded OPH-minhash dedup with md5 hashes — "
    "lanes, rotation densification, banding, bucket caps, Jaccard "
    "verify and survivorship all re-executed by the SQL oracle",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "dd_minhash_pairs raw banded pipeline — rows-only green at the 100x "
        "docs axis (SCALE.md r13)"
    ),
)


_reg(
    "dd_embedding",
    lambda spark, sf_dir: embedding_dedup(
        _emb(spark, sf_dir), "vec_id", "embedding", block_col="label", threshold=0.99
    ).select("vec_id", "label"),
    "SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN ("
    " SELECT b.vec_id FROM embeddings a JOIN embeddings b"
    "  ON a.label = b.label AND a.vec_id < b.vec_id"
    " WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.99)",
    "embedding cosine near-dup (≥0.99) blocked by label, greedy min-id survivors",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "own label-blocked cosine pipeline (block-key equi-join "
        "candidates); the oracle's brute-force pair set is the quadratic "
        "side"
    ),
)


_sql(
    "dd_url_dedup",
    # Dedup-by-URL: group on the canonicalized URL (tracking params and
    # fragments collapse URL variants of one page) and keep the min-id
    # doc — composes f_url_canonicalize's recipe with the dd_exact
    # survivor policy. At crawl scale the group key is md5(canonical)
    # (fixed-width shuffle), same discipline as dd_exact; the synthetic
    # URLs make ~1 variant per doc here, so survivors == docs — the
    # differential still pins the whole canonicalize+group+survive
    # pipeline per row.
    "with u as (select doc_id, concat('https://', upper(source), "
    "'.Example.COM/Docs/', cast(doc_id as string), "
    "'?utm_source=x&lang=', lang, '&utm_campaign=y#frag') as url "
    "from documents), "
    "s as (select doc_id, regexp_replace(regexp_replace("
    "regexp_replace(url, '#.*$', ''), '[?&]utm_[^&]*', ''), "
    r"'^([^?&]+)&', '$1?') as noq from u), "
    "c as (select doc_id, concat('https://', "
    "lower(regexp_extract(noq, 'https://([^/]+)', 1)), "
    "regexp_replace(noq, '^https://[^/]+', '')) as curl from s) "
    "select min(doc_id) as doc_id, md5(curl) as url_key, "
    "cast(count(*) as bigint) as n_variants "
    "from c group by md5(curl) order by doc_id",
    "WITH u AS (SELECT doc_id, 'https://' || upper(source) || "
    "'.Example.COM/Docs/' || CAST(doc_id AS VARCHAR) || "
    "'?utm_source=x&lang=' || lang || '&utm_campaign=y#frag' AS url "
    "FROM documents), "
    "s AS (SELECT doc_id, regexp_replace(regexp_replace("
    "regexp_replace(url, '#.*$', ''), '[?&]utm_[^&]*', '', 'g'), "
    r"'^([^?&]+)&', '\1?') AS noq FROM u), "
    "c AS (SELECT doc_id, 'https://' || "
    "lower(regexp_extract(noq, 'https://([^/]+)', 1)) || "
    "regexp_replace(noq, '^https://[^/]+', '') AS curl FROM s) "
    "SELECT min(doc_id) AS doc_id, md5(curl) AS url_key, "
    "CAST(count(*) AS BIGINT) AS n_variants "
    "FROM c GROUP BY md5(curl) ORDER BY doc_id",
    "dedup-by-canonical-URL (min-id survivor per canonicalized URL, "
    "md5 fixed-width group key) — crawl URL-level dedup",
)



def _dd_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span duplication measurement (Lee et al. 2022
    shape): corpus-duplicated word 5-grams mark spans; per-doc coverage
    ratio of the span union. Spark grams are hashes of word-hash
    windows; the oracle re-derives the same equivalence classes from
    the literal word strings (whitespace-split words make the ' '
    join unambiguous)."""
    from .operators.dedup import substring_span_stats

    docs = engine_for(spark, sf_dir).spark.table("documents")
    return substring_span_stats(docs, "doc_id", "text", k=5)



_reg(
    "dd_substring_spans",
    _dd_substring,
    r"WITH words AS (SELECT doc_id, "
    r"string_split_regex(trim(lower(text)), '\s+') AS w FROM documents), "
    r"pos AS (SELECT doc_id, w, "
    r"unnest(generate_series(1, greatest(len(w) - 4, 1))) AS pos FROM words), "
    r"grams AS (SELECT doc_id, pos, "
    r"w[pos] || ' ' || w[least(pos+1, len(w))] || ' ' || "
    r"w[least(pos+2, len(w))] || ' ' || w[least(pos+3, len(w))] || ' ' || "
    r"w[least(pos+4, len(w))] AS g FROM pos), "
    r"dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2), "
    r"dpos AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)), "
    r"cov AS (SELECT doc_id, count(*) AS dup_grams, "
    r"sum(CASE WHEN nxt IS NULL THEN 5 ELSE least(5, nxt - pos) END) AS covered "
    r"FROM (SELECT doc_id, pos, lead(pos) OVER "
    r"(PARTITION BY doc_id ORDER BY pos) AS nxt FROM dpos) t GROUP BY doc_id), "
    r"nt AS (SELECT doc_id, "
    r"len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT AS n_tokens "
    r"FROM documents) "
    r"SELECT nt.doc_id, n_tokens, "
    r"coalesce(dup_grams, 0)::BIGINT AS dup_grams, "
    r"least(coalesce(covered, 0), n_tokens)::BIGINT AS covered_tokens, "
    r"least(coalesce(covered, 0), n_tokens)::DOUBLE / greatest(n_tokens, 1) "
    r"AS dup_ratio FROM nt LEFT JOIN cov ON nt.doc_id = cov.doc_id",
    "exact substring-span dedup measurement: corpus-duplicated 5-grams "
    "-> per-doc covered-span ratio (interval union via one window); "
    "the only corpus-wide shuffle is a 16-byte/row gram count",
)



def _dd_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import substring_span_remove

    return substring_span_remove(_docs(spark, sf_dir), "doc_id", "text").orderBy(
        "doc_id"
    )



_reg(
    "dd_substring_remove",
    _dd_substring_remove,
    # Same gram construction as the dd_substring_spans oracle; keep-one
    # = global first occurrence per gram by (doc_id, pos). LIST-FREE
    # formulation (r13): the original carried the per-doc word LIST on
    # every exploded position row, which OOM'd DuckDB (non-spillable
    # allocation failure) at the 100× corpus — tok carries only
    # scalars and the 5-gram is assembled with lead() windows; the
    # end-clamp w[least(pos+k, len)] becomes coalesce(lead(k), last
    # word), identical because lead(k) is NULL exactly when pos+k
    # exceeds the doc length.
    r"WITH words AS (SELECT doc_id, "
    r"string_split_regex(trim(lower(text)), '\s+') AS w FROM documents), "
    r"tok AS (SELECT doc_id, unnest(w) AS word, "
    r"unnest(generate_series(1, len(w))) AS p, len(w) AS n, "
    r"w[len(w)] AS lw FROM words), "
    r"grams AS (SELECT doc_id, pos, g FROM ("
    r"SELECT doc_id, p AS pos, n, "
    r"word || ' ' || coalesce(lead(word, 1) OVER win, lw) || ' ' || "
    r"coalesce(lead(word, 2) OVER win, lw) || ' ' || "
    r"coalesce(lead(word, 3) OVER win, lw) || ' ' || "
    r"coalesce(lead(word, 4) OVER win, lw) AS g "
    r"FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY p)) t "
    r"WHERE pos <= greatest(n - 4, 1)), "
    r"occ AS (SELECT doc_id, pos, row_number() OVER "
    r"(PARTITION BY g ORDER BY doc_id, pos) AS rn FROM grams), "
    r"cov AS (SELECT DISTINCT doc_id, pos + o.o AS p FROM occ "
    r"CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS o) o "
    r"WHERE rn > 1), "
    r"kept AS (SELECT t.doc_id, t.p, t.word FROM tok t "
    r"LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p "
    r"WHERE c.p IS NULL), "
    r"reb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS clean_text, "
    r"count(*) AS n FROM kept GROUP BY doc_id) "
    r"SELECT d.doc_id, coalesce(reb.clean_text, '') AS clean_text, "
    r"coalesce(reb.n, 0)::BIGINT AS kept_tokens "
    r"FROM documents d LEFT JOIN reb ON reb.doc_id = d.doc_id "
    r"ORDER BY d.doc_id",
    "exact substring-span REMOVAL (keep-one policy: globally first "
    "occurrence per duplicated 5-gram survives; covered spans cut, "
    "text rebuilt) — the action behind dd_substring_spans' measurement",
)



def _dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: drop training docs sharing any exact
    word 8-gram with the benchmark set (docs < 50 stand in for the
    eval suite). The overlap check is a semi-join on fixed-width gram
    hashes; the benchmark gram set is tiny so AQE broadcasts it — at
    100 TB the scan side streams, nothing corpus-sized shuffles."""
    from .operators.dedup import kgram_positions

    # fan_out=False via _docs (r15): both gram streams shuffle (distinct
    # / semi-join) right after the per-row hashing; fan-out measured
    # flat-to-slower locally (0.95-1.01x) and the driver's r14 bench
    # had it 0.79->1.03 s — the direct parquet relation also restores
    # subtree canonicalization that the temp-view wrapper defeats
    docs = _docs(spark, sf_dir, fan_out=False)
    bench = docs.filter("doc_id < 50")
    train = docs.filter("doc_id >= 50")
    bench_grams = kgram_positions(bench, "doc_id", "text", k=8).select("gh").distinct()
    hit = (
        kgram_positions(train, "doc_id", "text", k=8)
        .join(bench_grams, on="gh", how="left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.join(hit, on="doc_id", how="left_anti").select(
        "doc_id", "lang", "source"
    )



_reg(
    "dd_decontaminate",
    _dd_decontaminate,
    r"WITH words AS (SELECT doc_id, "
    r"string_split_regex(trim(lower(text)), '\s+') AS w FROM documents), "
    r"grams AS (SELECT doc_id, "
    r"w[pos] || ' ' || w[least(pos+1, len(w))] || ' ' || "
    r"w[least(pos+2, len(w))] || ' ' || w[least(pos+3, len(w))] || ' ' || "
    r"w[least(pos+4, len(w))] || ' ' || w[least(pos+5, len(w))] || ' ' || "
    r"w[least(pos+6, len(w))] || ' ' || w[least(pos+7, len(w))] AS g "
    r"FROM (SELECT doc_id, w, "
    r"unnest(generate_series(1, greatest(len(w) - 7, 1))) AS pos FROM words) p), "
    r"bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50), "
    r"hit AS (SELECT DISTINCT doc_id FROM grams "
    r"WHERE doc_id >= 50 AND g IN (SELECT g FROM bench)) "
    r"SELECT doc_id, lang, source FROM documents "
    r"WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM hit)",
    "test-set decontamination: drop training docs sharing any exact "
    "8-gram with the benchmark table (GPT-3-style n-gram overlap); "
    "gram-hash semi-join, benchmark side broadcast",
)



def _dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: docs < 250 are the already-indexed corpus;
    the 250+ batch is deduped against their band index + itself."""
    from .operators.dedup import incremental_minhash_dedup, minhash_band_index

    docs = engine_for(spark, sf_dir).spark.table("documents")
    hist = docs.filter("doc_id < 250")
    new = docs.filter("doc_id >= 250")
    index = minhash_band_index(hist, "doc_id", "text")
    kept, _delta = incremental_minhash_dedup(new, index, "doc_id", "text")
    return kept.select("doc_id", "lang", "source")



_reg(
    "dd_incremental",
    _dd_incremental,
    None,  # rows-only: production xxhash64 banding is not SQL-
    # expressible; the mechanics are hash-certified by
    # dd_incremental_verified below and semantics gated by
    # tests/test_dedup.py::test_incremental_dedup_against_index
    "incremental near-dup: new batch vs persisted MinHash band index "
    "(the 100 TB ingest shape - history is never re-signatured)",
)


def _dd_incremental_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay certificate for the incremental path: the SAME
    composition as dd_incremental (history band index, batch semi-join
    collision, within-batch LSH dedup of the survivors) run with the
    md5 feature/bucket hashes, so the DuckDB oracle replays EVERY
    stage from raw text — banding (shared CTEs with
    dd_minhash_banded_verified), the history (band, bucket) collision
    semi-join, the survivors-only bucket cap, in-batch pair
    generation, Jaccard verify, and min-id survivorship. Bit-exact at
    sf0.001/0.01/0.1 (227/220/4337 kept)."""
    from .operators.dedup import incremental_minhash_dedup, minhash_band_index

    docs = engine_for(spark, sf_dir).spark.table("documents")
    hist = docs.filter("doc_id < 250")
    new = docs.filter("doc_id >= 250")
    index = minhash_band_index(hist, "doc_id", "text", feature_hash="md5")
    kept, _delta = incremental_minhash_dedup(
        new, index, "doc_id", "text", feature_hash="md5"
    )
    return kept.select("doc_id", "lang", "source")


_reg(
    "dd_incremental_verified",
    _dd_incremental_verified,
    r"""WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
    CAST(('0x' || substr(md5(w[i] || chr(31) || w[least(i+1, n)] || chr(31) || w[least(i+2, n)]), 1, 15)) AS BIGINT) AS h
  FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(n - 2, 1))) AS i) pos
),
lanes AS (SELECT doc_id, h >> 54 AS lane, min(h) AS v FROM grams GROUP BY doc_id, lane),
dense AS (
  SELECT l.doc_id, gs.j, arg_min(l.v, ((l.lane - gs.j) + 64) % 64) AS v
  FROM lanes l CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) gs
  GROUP BY l.doc_id, gs.j
),
bands AS (
  SELECT doc_id, CAST(j // 4 AS INT) AS band,
         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS bucket
  FROM dense GROUP BY doc_id, j // 4
),
hist_bands AS (SELECT * FROM bands WHERE doc_id < 250),
new_bands  AS (SELECT * FROM bands WHERE doc_id >= 250),
hits AS (
  SELECT DISTINCT nb.doc_id FROM new_bands nb
  JOIN hist_bands hb ON hb.band = nb.band AND hb.bucket = nb.bucket
),
survivors AS (
  SELECT doc_id FROM documents WHERE doc_id >= 250
  AND doc_id NOT IN (SELECT doc_id FROM hits)
),
surv_bands AS (SELECT * FROM new_bands WHERE doc_id IN (SELECT doc_id FROM survivors)),
ok2 AS (
  SELECT band, bucket FROM surv_bands GROUP BY band, bucket
  HAVING count(*) BETWEEN 2 AND 1000
),
cand2 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM surv_bands a
  JOIN surv_bands b ON a.band = b.band AND a.bucket = b.bucket
  JOIN ok2 ON ok2.band = a.band AND ok2.bucket = a.bucket
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter2 AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand2 c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.h = ga.h
  GROUP BY c.id_a, c.id_b
),
dups2 AS (
  SELECT x.id_b FROM inter2 x
  JOIN sizes sa ON sa.doc_id = x.id_a
  JOIN sizes sb ON sb.doc_id = x.id_b
  WHERE CAST(x.i AS DOUBLE) / (sa.sz + sb.sz - x.i) >= 0.7
)
SELECT d.doc_id, d.lang, d.source FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM survivors)
  AND d.doc_id NOT IN (SELECT id_b FROM dups2)""",
    "replay certificate: incremental minhash dedup (history index "
    "collision + within-batch LSH) with every stage re-executed by "
    "the SQL oracle from raw text",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "dd_incremental (streaming near-dup vs the persisted band index) — "
        "replay certificate r10, clean at 100x (SCALE.md r13)"
    ),
)



# --------------------------------------------------------------------------
# line-level boilerplate dedup + prefix-filter similarity join
# --------------------------------------------------------------------------


def _dd_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal over a pseudo-line corpus.

    The synthetic documents are single-line, so the entry derives
    lines deterministically (10-word chunks joined by newline) with
    the same expression in both engines, then runs the REAL operator
    (:func:`~dataframe_sql_spark.operators.dedup.line_dedup`) over it.
    """
    from .operators.dedup import line_dedup

    docs = _docs(spark, sf_dir)
    ws = words(F.col("text"))
    nl = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(ws) / F.lit(10)).cast("int") - 1
                ),
                lambda i: F.array_join(F.slice(ws, i * F.lit(10) + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(nl, "doc_id", "text", "\n", min_df=2)



_reg(
    "dd_lines",
    _dd_lines,
    r"WITH ws AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') "
    r"AS ws FROM documents), "
    r"ch AS (SELECT doc_id, list_transform(range(0, "
    r"cast(ceil(len(ws) / 10.0) AS INT)), "
    r"i -> array_to_string(ws[i*10+1:i*10+10], ' ')) AS chunks FROM ws), "
    r"lu AS (SELECT doc_id, unnest(list_transform(range(0, len(chunks)), "
    r"i -> {'pos': i, 'line': trim(chunks[i+1])})) AS u FROM ch), "
    r"l3 AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lu), "
    r"boiler AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS dfq "
    r"FROM l3 WHERE len(line) >= 1 GROUP BY line) WHERE dfq >= 2), "
    r"flags AS (SELECT l3.doc_id, pos, l3.line, "
    r"(b.line IS NOT NULL AND len(l3.line) >= 1) AS is_boiler "
    r"FROM l3 LEFT JOIN boiler b ON l3.line = b.line) "
    r"SELECT doc_id, "
    r"coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END, chr(10) "
    r"ORDER BY pos), '') AS clean_text, "
    r"cast(sum(CASE WHEN NOT is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    r"cast(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed "
    r"FROM flags GROUP BY doc_id",
    "RefinedWeb-style line-level boilerplate removal: lines repeating "
    "across >= 2 docs dropped, survivors re-joined in order; exact "
    "kept/removed BIGINT counts",
)



def _dd_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        _docs(spark, sf_dir), "doc_id", "text", t_num=7, t_den=10
    )



_reg(
    "dd_prefix_pairs",
    # COMPLETENESS-certified similarity join: unlike LSH (probabilistic
    # recall) the prefix-filter theorem guarantees every J >= 0.7 pair
    # is found, so DuckDB's brute-force over ALL pairs is an exact
    # oracle for the whole output — a hash match proves both the
    # verification arithmetic AND the candidate completeness.
    _dd_prefix_pairs,
    "WITH "
    + "w AS (SELECT doc_id,"
    r" string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), "
    r"sh AS (SELECT doc_id,"
    r" list_transform(range(1, greatest(len(ws) - 2, 1) + 1),"
    r" i -> array_to_string(ws[i:i+2], ' ')) AS s FROM w) "
    r"SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    r"cast(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter, "
    r"cast(len(list_distinct(list_cat(a.s, b.s))) AS BIGINT) AS uni "
    r"FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    r"WHERE len(list_intersect(a.s, b.s)) * 10 >= "
    r"7 * len(list_distinct(list_cat(a.s, b.s)))",
    "prefix-filtering set-similarity join (AllPairs/PPJoin): ALL pairs "
    "with exact 3-shingle Jaccard >= 0.7, recall 1.0 by theorem — "
    "oracle brute-forces every pair, certifying completeness",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+; the engine's AllPairs/PPJoin verify set is also worst-case "
        "quadratic at full recall by theorem"
    ),
    scale_path=(
        "prefix-filter pruning bounds the verify set at the similarity "
        "threshold; measured completing at 100x under a verified 2 GiB heap "
        "with disk spill (SCALE.md r12 memory-pressure ledger, 286 s)"
    ),
)



def _dd_bloom_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter no-false-negative certificate.

    Build the filter from even-doc_id head-grams (first 5 words — the
    repeated-head dedup key), probe the odd half, and emit one summary
    row: probe count, exact duplicate count, and the number of exact
    duplicates the filter MISSED (provably 0 — Bloom filters have no
    false negatives). The oracle recomputes the first two exactly and
    pins the third at 0: a broken filter (missed dup) breaks the hash.
    """
    from .functions.sketches import bloom_build, bloom_probe

    docs = _docs(spark, sf_dir)
    key = F.array_join(F.slice(words(F.col("text")), 1, 5), " ")
    keyed = docs.select("doc_id", key.alias("k"))
    ref = keyed.filter(F.col("doc_id") % 2 == 0)
    probe = keyed.filter(F.col("doc_id") % 2 == 1)
    bits = bloom_build(ref, "k")
    flagged = bloom_probe(probe, bits, "doc_id", "k")
    exact = probe.join(
        ref.select("k").distinct().withColumn("__seen", F.lit(True)),
        "k",
        "left",
    ).select("doc_id", F.col("__seen").isNotNull().alias("is_dup"))
    both = flagged.join(exact, "doc_id")
    return both.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_dup"),
        F.sum(F.when(F.col("is_dup") & ~F.col("maybe_seen"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_neg"),
    )



_reg(
    "dd_bloom_cert",
    _dd_bloom_cert,
    r"WITH d AS (SELECT doc_id, array_to_string("
    r"(string_split_regex(trim(lower(text)), '\s+'))[1:5], ' ') AS k "
    r"FROM documents), "
    r"p AS (SELECT doc_id, k FROM d WHERE doc_id % 2 = 1), "
    r"r AS (SELECT DISTINCT k FROM d WHERE doc_id % 2 = 0) "
    r"SELECT cast(count(*) AS BIGINT) AS n_probe, "
    r"cast(sum(CASE WHEN r.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    r"AS n_exact_dup, cast(0 AS BIGINT) AS n_false_neg "
    r"FROM p LEFT JOIN r ON p.k = r.k",
    "distributed Bloom filter (bit-position table form) certificate: "
    "build on even half's 5-word head-grams, probe odd half — zero "
    "false negatives, exact dup count oracle-checked",
)



def _dd_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 'SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication'): cluster embeddings
    with k-means, then near-dup pairs are found ONLY within clusters —
    the quadratic pair cost is bounded per cluster instead of
    corpus-wide. Reuses kmeans_assign for the blocking key and
    embedding_cosine_pairs for the within-block exact cosine."""
    from .operators.dedup import embedding_cosine_pairs
    from .operators.similarity import kmeans_assign

    # r15: project to the two columns the pipeline reads before the
    # assignment kernel — mapInPandas ships every input column across
    # Arrow (guide §4.1), and `label` is dead weight here
    clustered = kmeans_assign(
        _emb(spark, sf_dir).select("vec_id", "embedding"),
        "vec_id",
        "embedding",
        k=8,
        n_iters=2,
    )
    pairs = embedding_cosine_pairs(
        clustered, "vec_id", "embedding", "cluster", threshold=0.4
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine"), 6).alias("cos")
    )



_reg(
    "dd_semantic",
    _dd_semantic,
    "WITH "
    + _KM_CTE
    + r" SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    r"round(list_cosine_similarity(a.v, b.v), 6) AS cos "
    r"FROM (SELECT ev.*, a2.c FROM ev JOIN a2 USING (vec_id)) a "
    r"JOIN (SELECT ev.*, a2.c FROM ev JOIN a2 USING (vec_id)) b "
    r"ON a.c = b.c AND a.vec_id < b.vec_id "
    r"WHERE list_cosine_similarity(a.v, b.v) >= 0.4",
    "SemDeDup: k-means-blocked embedding near-dup pairs (cos >= 0.4) "
    "— quadratic cost bounded per cluster, not corpus-wide",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "own SemDeDup pipeline: k-means cluster blocking bounds the "
        "quadratic term per cluster, not corpus-wide; clusters scale with "
        "corpus size"
    ),
)



def _dd_minhash_est_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash ESTIMATION-ACCURACY certificate (hash-checkable).

    ``dd_minhash_verified`` certifies LSH *recall*; this entry certifies
    the other half of the minhash contract — that lane agreement of the
    production OPH signature (the ``oph_signature_vec`` numpy kernel
    the LSH pipelines run) estimates Jaccard. Over every pair with
    exact word-shingle Jaccard >= 0.5 (the complete shingle-sharing
    candidate superset, same certificate-only generator as
    dd_clusters_verified), the 64-lane agreement fraction must sit
    within ``tol`` of the exact Jaccard. DuckDB recomputes the same
    pair set and pins ``within_tol = TRUE``; a single out-of-tolerance
    pair hash-mismatches the entry.

    tol = 0.25 against a 64-lane binomial std of sqrt(J(1-J)/64) <=
    0.0625 in this J-range (4 sigma per pair) plus OPH densification
    bias on short docs; the pipeline is fully deterministic, so the
    margin is verified empirically rather than probabilistic at driver
    time: measured max |est - exact| is 0.2014 at sf0.001 (28 pairs;
    one short-doc outlier) and 0.0543 at sf0.01 (25 pairs).
    """
    docs = _docs(spark, sf_dir)
    exact = ngram_jaccard_pairs(
        docs, _shingle_sharing_candidates(docs), "doc_id", "text", threshold=0.5
    )
    sig = hashed_shingle_frame(docs, "doc_id", "text").select(
        "doc_id", oph_signature_vec(F.col("__h"), 64).alias("sig")
    )
    # merge hints: the signature sides carry 64-slot arrays whose width
    # the estimator can't see (broadcast_audit class — never broadcast
    # a corpus-scaled array side)
    est = (
        exact.join(
            sig.select(
                F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
            ).hint("merge"),
            "id_a",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
            ).hint("merge"),
            "id_b",
        )
        .withColumn(
            "est_j",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda v: v,
                )
            )
            / F.lit(64),
        )
    )
    return est.select(
        "id_a",
        "id_b",
        (F.abs(F.col("est_j") - F.col("jaccard")) <= 0.25).alias("within_tol"),
    )



_reg(
    "dd_minhash_est_cert",
    _dd_minhash_est_cert,
    f"WITH {_SH_CTE}, "
    r"ex AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh), "
    r"cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    r" FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id) "
    r"SELECT c.id_a, c.id_b, TRUE AS within_tol "
    r"FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b "
    r"WHERE len(list_intersect(x.s, y.s))::DOUBLE"
    r" / len(list_distinct(list_cat(x.s, y.s))) >= 0.5",
    "minhash estimation-accuracy certificate: 64-lane OPH agreement "
    "fraction within 0.25 of exact Jaccard on every J>=0.5 pair",
    oracle_max_sf=0.01,
    max_sf_reason=(
        "oracle-side: the complete pair-set oracle is quadratic by design — "
        "certificate bounded at sf0.01"
    ),
    scale_path=(
        "dd_minhash banded pipeline; the estimation-accuracy property "
        "itself does not grow with the corpus"
    ),
)



def _dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (overlap-coefficient) near-dup pairs.

    Containment |A∩B| / min(|A|, |B|) catches near-SUBSET duplication
    — a short doc embedded in a longer one — which symmetric Jaccard
    dilutes below threshold (|A∩B|/|A∪B| shrinks as the size gap
    grows). Same (lang, source) blocking and integer set-size
    discipline as ``dd_ngram_jaccard``; the two entries together cover
    both duplication geometries. Emits every in-block pair's integer
    stats plus the ``is_dup`` (>= 0.8) flag, so the differential check
    pins the full computation AND the decision boundary.
    """
    docs = _docs(spark, sf_dir)
    sh = shingle_frame(docs, "doc_id", "text", extra_cols=("lang", "source"))
    # merge hint: shingle-array sides are width-blind to the estimator
    # (broadcast_audit class) — never broadcast a corpus-scaled side
    a, b = sh.alias("a"), sh.hint("merge").alias("b")
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    smaller = F.least(F.size(F.col("a.__sh")), F.size(F.col("b.__sh")))
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        inter.cast("bigint").alias("inter"),
        smaller.cast("bigint").alias("smaller"),
        (inter.cast("double") / smaller >= 0.8).alias("is_dup"),
    )



_reg(
    "dd_containment",
    _dd_containment,
    r"WITH w AS (SELECT doc_id, lang, source,"
    r" string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), "
    r"sh AS (SELECT doc_id, lang, source,"
    r" list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),"
    r"  i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w) "
    r"SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    r" len(list_intersect(a.s, b.s))::BIGINT AS inter,"
    r" least(len(a.s), len(b.s))::BIGINT AS smaller,"
    r" len(list_intersect(a.s, b.s))::DOUBLE"
    r"  / least(len(a.s), len(b.s)) >= 0.8 AS is_dup "
    r"FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source"
    r" AND a.doc_id < b.doc_id",
    "containment (overlap-coefficient) stats per blocked pair with the "
    ">= 0.8 near-subset-dup flag: the duplication geometry symmetric "
    "Jaccard misses",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "own blocked candidates + containment verify (block-key equi-join; "
        "per-block bounded)"
    ),
)



def _dd_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix — the corpus diagnostic
    behind mixture design and leakage audits: two sources sharing a
    large fraction of their 3-gram vocabulary double-count under naive
    mixing weights. Shuffles on the 8-byte shingle identity (distinct
    (source, gram) first, so the join input is vocabulary-sized, not
    corpus-sized); least/greatest is unnecessary because the a < b
    join direction already folds each pair once.
    """
    docs = _docs(spark, sf_dir)
    sh = shingle_frame(docs, "doc_id", "text", extra_cols=("source",))
    sg = sh.select("source", F.explode("__sh").alias("g")).distinct()
    return (
        sg.alias("a")
        .join(
            sg.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
        .orderBy("src_a", "src_b")
    )



_reg(
    "dd_overlap_matrix",
    _dd_overlap_matrix,
    r"WITH w AS (SELECT doc_id, source,"
    r" string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), "
    r"sh AS (SELECT doc_id, source,"
    r" list_transform(range(1, greatest(len(ws) - 2, 1) + 1),"
    r"  i -> array_to_string(ws[i:i+2], ' ')) AS s FROM w), "
    r"sg AS (SELECT DISTINCT source, unnest(s) AS g FROM sh) "
    r"SELECT a.source AS src_a, b.source AS src_b,"
    r" count(*)::BIGINT AS n_shared_grams "
    r"FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source "
    r"GROUP BY a.source, b.source ORDER BY src_a, src_b",
    "cross-source 3-gram vocabulary overlap matrix (distinct-first "
    "join is vocabulary-sized) — mixture/leakage diagnostic",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "own distinct-first vocabulary join (matrix is sources-squared, "
        "vocabulary-sized inputs — sources, not documents, are the "
        "quadratic dimension)"
    ),
)



_BENCH_SOURCES = ("src0", "src1", "src2", "src3", "src4")

_BENCH_SQL = ", ".join(f"'{s}'" for s in _BENCH_SOURCES)



def _dd_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (paraphrase-robust) test-set decontamination certificate.

    ``dd_decontaminate`` flags training docs sharing an exact 8-gram
    with the benchmark; light paraphrase defeats it. The fuzzy variant
    flags corpus docs with minhash-LSH-found, exact-Jaccard-verified
    similarity >= 0.8 to any benchmark doc (sources src0-src4 stand in
    for the held-out benchmark). The production candidate path is the
    real banded-OPH pipeline; DuckDB independently recomputes ALL
    cross-side J >= 0.8 pairs over the shingle-sharing superset, so a
    hash match certifies cross-table LSH recall 1.0 at J >= 0.8 —
    the same guarantee ``dd_minhash_verified`` gives in-table.

    Returns flagged corpus docs with their benchmark-match counts.
    """
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs,
        minhash_candidate_pairs(docs, "doc_id", "text"),
        "doc_id",
        "text",
        threshold=0.8,
    )
    side = docs.select(
        "doc_id", F.col("source").isin(*_BENCH_SOURCES).alias("is_bench")
    )
    tagged = (
        pairs.join(
            side.select(F.col("doc_id").alias("id_a"), F.col("is_bench").alias("ba")),
            "id_a",
        )
        .join(
            side.select(F.col("doc_id").alias("id_b"), F.col("is_bench").alias("bb")),
            "id_b",
        )
        .filter(F.col("ba") != F.col("bb"))
    )
    corpus_id = F.when(F.col("ba"), F.col("id_b")).otherwise(F.col("id_a"))
    return (
        tagged.select(corpus_id.alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_matches"))
        .orderBy("doc_id")
    )



_reg(
    "dd_fuzzy_decontaminate",
    _dd_fuzzy_decontaminate,
    f"WITH {_SH_CTE}, "
    r"ex AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh), "
    r"cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    r" FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id), "
    f"p AS (SELECT CASE WHEN x.source IN ({_BENCH_SQL})"
    r" THEN c.id_b ELSE c.id_a END AS corpus_id"
    r" FROM cand c JOIN sh x ON x.doc_id = c.id_a"
    r" JOIN sh y ON y.doc_id = c.id_b"
    r" WHERE len(list_intersect(x.s, y.s))::DOUBLE"
    r"  / len(list_distinct(list_cat(x.s, y.s))) >= 0.8"
    f" AND ((x.source IN ({_BENCH_SQL})) <> (y.source IN ({_BENCH_SQL})))) "
    r"SELECT corpus_id AS doc_id, count(*)::BIGINT AS n_matches"
    r" FROM p GROUP BY corpus_id ORDER BY doc_id",
    "fuzzy decontamination certificate: corpus docs with verified "
    "J >= 0.8 to any benchmark doc (LSH candidates vs complete DuckDB "
    "recompute — cross-table recall 1.0)",
    oracle_max_sf=0.01,
    max_sf_reason=(
        "oracle-side: the complete corpus-x-benchmark cross-recompute is "
        "quadratic by design"
    ),
    scale_path=(
        "LSH-banded doc-vs-benchmark candidates (band-key equi-join, linear "
        "in corpus)"
    ),
)
