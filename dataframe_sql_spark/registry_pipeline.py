"""Catalog entries: multimodal plumbing and end-to-end curation pipeline composites.

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import (
    fingerprint,
    token_count,
)
from .multimodal.binary import (
    attach_blob_metadata,
    chunk_audio,
    decode_image_batch,
    sample_video_frames,
)
from .operators.dedup import exact_dedup
from .operators.sampling import (
    hash_split,
    hex_threshold,
)

from .registry_common import (  # noqa: F401
    _BUCKET_SQL,
    _docs,
    _emb,
    _reg,
)



# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def _mm_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text encoded to binary stands in for media blobs."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )



_reg(
    "mm_blob_meta",
    lambda spark, sf_dir: attach_blob_metadata(_mm_blobs(spark, sf_dir), "blob").select(
        "doc_id",
        F.col("blob_meta.byte_length").alias("byte_length"),
        F.col("blob_meta.content_hash").alias("content_hash"),
        F.col("blob_meta.media_type").alias("media_type"),
    ),
    "SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_length, "
    "md5(text) AS content_hash, 'application/octet-stream' AS media_type "
    "FROM documents",
    "binary-column metadata: length, content hash, magic-byte type sniff",
)


_reg(
    "mm_audio_chunks",
    lambda spark, sf_dir: chunk_audio(
        _mm_blobs(spark, sf_dir), "blob", chunk_seconds=1.0, bytes_per_second=256, fake=True
    ).select("doc_id", "chunk_idx", "chunk_start_s", F.length("chunk_blob").alias("n_bytes")),
    "WITH c AS (SELECT doc_id, octet_length(encode(text)) AS n, "
    " greatest((octet_length(encode(text)) + 255) // 256, 1) AS nchunks FROM documents), "
    "u AS (SELECT doc_id, n, unnest(generate_series(1, nchunks)) AS i FROM c) "
    "SELECT doc_id, (i - 1)::INT AS chunk_idx, ((i - 1) * 1.0)::DOUBLE AS chunk_start_s, "
    " least(256, n - (i - 1) * 256)::INT AS n_bytes FROM u",
    "audio chunking fan-out (mapInPandas explode; stub PCM slicing) — "
    "chunk boundaries oracle-checked",
)


_reg(
    "mm_video_frames",
    lambda spark, sf_dir: sample_video_frames(
        _mm_blobs(spark, sf_dir), "blob", every_n_bytes=1024, max_frames=8, fake=True
    ).select("doc_id", "frame_idx", F.length("frame_blob").alias("n_bytes")),
    "WITH c AS (SELECT doc_id, octet_length(encode(text)) AS n, "
    "least(greatest(octet_length(encode(text)) // 1024, 1), 8) AS nframes "
    "FROM documents), "
    "u AS (SELECT doc_id, n, unnest(generate_series(1, nframes)) AS i FROM c) "
    "SELECT doc_id, (i - 1)::INT AS frame_idx, "
    "least(1024, greatest(n - (i - 1) * 1024, 0))::INT AS n_bytes FROM u",
    "video frame-sampling fan-out (mapInPandas explode, <=8 frames/blob; "
    "stub byte-window sampling) - frame boundaries oracle-checked",
)


_reg(
    "mm_decode_stub",
    lambda spark, sf_dir: decode_image_batch(
        _mm_blobs(spark, sf_dir), "blob", fake=True
    ).select("doc_id", "width", "height", "channels"),
    None,  # mapInPandas stub; decode is deterministic-fake (no codecs in container)
    "Arrow-batched mapInPandas decode pipeline (deterministic stub decode)",
)


# --------------------------------------------------------------------------
# end-to-end curation pipeline (the whole training-data story, one query)
# --------------------------------------------------------------------------


def _curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pipeline: quality gate → exact dedup (min-id per
    normalized-text fingerprint) → deterministic train/val/test split.
    Every stage is individually oracle-checked elsewhere; this entry
    checks their composition — the shape an actual 100 TB corpus run
    takes (filter pushes to scan; dedup is the only shuffle; split is
    map-side).
    """
    docs = _docs(spark, sf_dir)
    quality = docs.filter(
        (token_count(F.col("text")) >= 30)
        & (
            F.length(F.regexp_replace(F.trim(F.col("text")), r"[A-Za-z0-9\s]", ""))
            / F.length(F.trim(F.col("text")))
            < 0.2
        )
    )
    keyed = quality.withColumn("__fp", fingerprint(F.col("text")))
    winners = keyed.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    deduped = keyed.join(winners, "doc_id", "inner").drop("__fp")
    return hash_split(
        deduped, "doc_id", {"train": 0.9, "val": 0.1}, seed=42
    ).select("doc_id", "lang", "split")



_reg(
    "pipe_curation",
    _curation_pipeline,
    r"WITH q AS ("
    r" SELECT doc_id, lang, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp"
    r" FROM documents"
    r" WHERE CASE WHEN length(trim(text)) = 0 THEN 0"
    r"  ELSE length(string_split_regex(trim(text), '\s+')) END >= 30"
    r" AND length(regexp_replace(trim(text), '[A-Za-z0-9\s]', '', 'g'))::DOUBLE"
    r"  / length(trim(text)) < 0.2), "
    r"w AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY fp) "
    r"SELECT q.doc_id, q.lang, CASE"
    f" WHEN {_BUCKET_SQL.replace('doc_id', 'q.doc_id')} < '{hex_threshold(0.9)}'"
    r" THEN 'train' ELSE 'val' END AS split "
    r"FROM q JOIN w ON q.doc_id = w.doc_id",
    "end-to-end curation: quality gate → fingerprint dedup → hash split, "
    "composed stages oracle-checked as one query",
)



def _pipe_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-tier dedup funnel — the production corpus-dedup stack,
    composed from certified parts, reporting oracle-checkable funnel
    counts per stage:

    1. exact (hash-keyed min-id survivors),
    2. near-dup via the prefix-filter similarity join (recall 1.0 BY
       THEOREM, so the SQL oracle's brute-force pair set is identical
       — a probabilistic LSH stage here would not be oracle-able),
    3. semantic (SemDeDup: k-means-blocked embedding cosine).

    Every stage's survivor rule is greedy min-id (drop every id_b of a
    qualifying pair), so the whole funnel is deterministic and the
    DuckDB oracle replays it end-to-end: exact grouping, complete
    Jaccard pairs, the 2-iteration k-means trajectory, and the
    cosine pair set. Output: (stage, method, n_in, n_removed, n_out).

    Scale: stages share no state; each is the already-audited operator
    (see SCALE.md). The funnel ordering is the cost-correct one —
    cheapest filter first, the quadratic-per-block semantic stage last
    when the corpus is smallest.

    r14 (guide §8): each stage boundary is pinned as a MATERIALIZED
    id set (doc_id only — the funnel's decisions are id sets; no stage
    downstream of the text needs it re-derived). Without the cuts,
    every internal consumer of a stage re-ran the whole upstream
    funnel: the prefix stage's featurization tables each re-ran the
    exact-dedup shuffle, and every k-means Lloyd collect re-ran the
    ENTIRE prefix pipeline (measured: stage-3 standalone 22 s at
    sf0.1, whole funnel 19-21 s; with the id-set cuts the funnel is
    one exact shuffle + one prefix pipeline + one k-means, ~7 s;
    re-measured at sf0.1, local[2], as median construct+execute CPU of
    the process tree: 15.6 s with the cuts, 45.7 s without, same rows).
    Survivor text re-attaches with a semi-join against the bounded id
    set — scan + broadcast, no repeated shuffle.
    """
    from .operators.dedup import (
        exact_dedup,
        embedding_cosine_pairs,
        prefix_filter_pairs,
    )
    from .operators.lineage import truncate_lineage
    from .operators.similarity import kmeans_assign

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    emb = _emb(spark, sf_dir)
    ids1 = truncate_lineage(
        exact_dedup(docs, ["text"], "doc_id").select("doc_id")
    )
    s1 = docs.join(ids1, "doc_id", "left_semi")
    losers2 = truncate_lineage(
        prefix_filter_pairs(s1, "doc_id", "text", t_num=7, t_den=10)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    ids2 = ids1.join(losers2, "doc_id", "left_anti")
    emb2 = emb.join(
        ids2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    clustered = kmeans_assign(emb2, "vec_id", "embedding", k=8, n_iters=2)
    losers3 = truncate_lineage(
        embedding_cosine_pairs(
            clustered, "vec_id", "embedding", "cluster", threshold=0.4
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    ids3 = ids2.join(losers3, "doc_id", "left_anti")

    c0 = docs.agg(F.count("*").cast("bigint").alias("c0"))
    c1 = ids1.agg(F.count("*").cast("bigint").alias("c1"))
    c2 = ids2.agg(F.count("*").cast("bigint").alias("c2"))
    c3 = ids3.agg(F.count("*").cast("bigint").alias("c3"))
    from .operators.scalars import broadcast_attach

    row = broadcast_attach(broadcast_attach(broadcast_attach(c0, c1), c2), c3)
    stages = F.array(
        F.struct(
            F.lit(1).cast("bigint").alias("stage"),
            F.lit("exact").alias("method"),
            F.col("c0").alias("n_in"),
            (F.col("c0") - F.col("c1")).alias("n_removed"),
            F.col("c1").alias("n_out"),
        ),
        F.struct(
            F.lit(2).cast("bigint").alias("stage"),
            F.lit("near_dup").alias("method"),
            F.col("c1").alias("n_in"),
            (F.col("c1") - F.col("c2")).alias("n_removed"),
            F.col("c2").alias("n_out"),
        ),
        F.struct(
            F.lit(3).cast("bigint").alias("stage"),
            F.lit("semantic").alias("method"),
            F.col("c2").alias("n_in"),
            (F.col("c2") - F.col("c3")).alias("n_removed"),
            F.col("c3").alias("n_out"),
        ),
    )
    return row.select(F.explode(stages).alias("p")).select("p.*")



_reg(
    "pipe_dedup_funnel",
    _pipe_dedup_funnel,
    r"WITH d AS (SELECT doc_id, text FROM documents), "
    r"s1 AS (SELECT d.* FROM d WHERE doc_id IN "
    r"(SELECT min(doc_id) FROM d GROUP BY text)), "
    r"w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') "
    r"AS ws FROM s1), "
    r"sh AS (SELECT doc_id, list_transform(range(1, greatest(len(ws) - 2, 1) "
    r"+ 1), i -> array_to_string(ws[i:i+2], ' ')) AS s FROM w), "
    r"p2 AS (SELECT DISTINCT b.doc_id AS id_b FROM sh a JOIN sh b "
    r"ON a.doc_id < b.doc_id "
    r"WHERE len(list_intersect(a.s, b.s)) * 10 >= "
    r"7 * len(list_distinct(list_cat(a.s, b.s)))), "
    r"s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT id_b FROM p2)), "
    r"ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
    r"JOIN s2 ON vec_id = s2.doc_id), "
    r"init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v "
    r"FROM ev ORDER BY vec_id LIMIT 8), "
    r"a1 AS (SELECT ev.vec_id, (SELECT c FROM init "
    r"ORDER BY list_distance(init.v, ev.v), c LIMIT 1) AS c FROM ev), "
    r"cd AS (SELECT a1.c, r.i AS dim, round(avg(ev.v[r.i + 1]), 4) AS m "
    r"FROM a1 JOIN ev USING (vec_id), range(64) r(i) GROUP BY a1.c, r.i), "
    r"cent2 AS (SELECT c, list(m ORDER BY dim) AS v FROM cd GROUP BY c), "
    r"a2 AS (SELECT ev.vec_id, (SELECT c FROM cent2 "
    r"ORDER BY list_distance(cent2.v, ev.v), c LIMIT 1) AS c FROM ev), "
    r"p3 AS (SELECT DISTINCT bb.vec_id AS id_b FROM "
    r"(SELECT ev.vec_id, ev.v, a2.c FROM ev JOIN a2 USING (vec_id)) aa JOIN "
    r"(SELECT ev.vec_id, ev.v, a2.c FROM ev JOIN a2 USING (vec_id)) bb "
    r"ON aa.c = bb.c AND aa.vec_id < bb.vec_id "
    r"WHERE list_cosine_similarity(aa.v, bb.v) >= 0.4), "
    r"s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT id_b FROM p3)), "
    r"n AS (SELECT (SELECT count(*) FROM d) AS c0, "
    r"(SELECT count(*) FROM s1) AS c1, (SELECT count(*) FROM s2) AS c2, "
    r"(SELECT count(*) FROM s3) AS c3) "
    r"SELECT cast(1 AS BIGINT) AS stage, 'exact' AS method, "
    r"cast(c0 AS BIGINT) AS n_in, cast(c0 - c1 AS BIGINT) AS n_removed, "
    r"cast(c1 AS BIGINT) AS n_out FROM n "
    r"UNION ALL SELECT 2, 'near_dup', cast(c1 AS BIGINT), "
    r"cast(c1 - c2 AS BIGINT), cast(c2 AS BIGINT) FROM n "
    r"UNION ALL SELECT 3, 'semantic', cast(c2 AS BIGINT), "
    r"cast(c2 - c3 AS BIGINT), cast(c3 AS BIGINT) FROM n",
    "three-tier dedup funnel (exact -> complete-recall near-dup -> "
    "SemDeDup), per-stage counts oracle-replayed end-to-end",
    oracle_max_sf=0.1,
    max_sf_reason=(
        "oracle-side: the complete pair set / brute-force recompute is "
        "corpus-quadratic by construction — sf0.1-proven, infeasible at "
        "sf1+"
    ),
    scale_path=(
        "the funnel's own three tiers are each hash/banded/cluster-blocked "
        "equi-joins; driver-r13 green and ran in the 100x docs axis "
        "(SCALE.md r13)"
    ),
)
