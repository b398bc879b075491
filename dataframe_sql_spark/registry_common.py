"""Shared helpers for the domain registry modules: table readers, the _reg registrar (SQL entries use registry._sql, re-exported here), the constant ANN query vector, and SQL/py support used by more than one domain.

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .operators.dedup import (
    ngram_jaccard_pairs,
    shingle_frame,
)
from .registry import CATALOG, QuerySpec, _sql, engine_for  # noqa: F401  (_sql re-exported)


__all__: list[str] = []


_QUERY_VEC = [1.0] * 64  # constant ANN query (embeddings are 64-dim)

_QUERY_VEC_SQL = "[" + ", ".join("1.0" for _ in range(64)) + "]::DOUBLE[]"



# r14: the table helpers return the parquet relation DIRECTLY instead
# of `spark.table(view)`. A temp-view reference wraps the plan in a
# per-occurrence View/SubqueryAlias that defeats physical-plan
# canonicalization, so two branches consuming the same intermediate
# NEVER produce a ReusedExchange — measured: identical
# groupBy-then-self-join shapes reuse their exchange from
# `spark.read.parquet` and recompute everything from `spark.table`
# (OPTIMIZATION_r14.md). engine_for() is still called for its
# registration side effect (the SQL entries resolve views).


def _docs(
    spark: SparkSession, sf_dir: str, fan_out: bool = True
) -> DataFrame:
    from .sources.io import read_table, scan_fan_out

    engine_for(spark, sf_dir)
    df = read_table(spark, sf_dir, "documents")
    # r14: scale-adaptive fan-out — the single-row-group testdata file
    # scans as ONE task, serializing the featurization projections that
    # precede the first exchange (guide §2.5; OPTIMIZATION_r14.md).
    # r15 (verdict item 4): gated PER CONSUMER — entries that shuffle
    # or aggregate immediately after the read (no heavy scan-stage
    # kernel to feed) pass fan_out=False, because for them the
    # round-robin exchange is pure overhead (driver-measured r14:
    # x_dataset_mix 0.20→0.36 s, dd_decontaminate 0.79→1.03 s).
    if not fan_out:
        return df
    return scan_fan_out(spark, df, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.io import read_table

    engine_for(spark, sf_dir)
    # r15: no fan-out on embeddings — every measured consumer is HURT
    # by the post-read exchange (the vector payload costs more to
    # shuffle than the Arrow kernels save; see FAN_OUT_TABLES note in
    # sources/io.py and OPTIMIZATION_r15.md).
    return read_table(spark, sf_dir, "embeddings")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.io import read_table

    engine_for(spark, sf_dir)
    return read_table(spark, sf_dir, "events")



def _reg(
    name: str,
    fn,
    oracle: str | None,
    doc: str,
    oracle_max_sf: float | None = None,
    max_sf_reason: str | None = None,
    scale_path: str | None = None,
) -> None:
    CATALOG[name] = QuerySpec(
        engine_sql=None,
        oracle=oracle,
        fn=fn,
        doc=doc,
        oracle_max_sf=oracle_max_sf,
        max_sf_reason=max_sf_reason,
        scale_path=scale_path,
    )


def _shingle_sharing_candidates(docs: DataFrame) -> DataFrame:
    """Complete shingle-sharing candidate superset (id_a < id_b): a
    pair with any word-shingle Jaccard > 0 must share a shingle, so
    every positive pair is a candidate. CERTIFICATE-ONLY generator —
    quadratic in shingle document frequency; the production path is
    LSH banding. Shared by the clusters/estimation/triangle/fuzzy
    certificates so the construction cannot drift between them.
    """
    ex = (
        shingle_frame(docs, "doc_id", "text")
        .select("doc_id", F.explode("__sh").alias("g"))
        .distinct()
    )
    # merge hint: both sides are the post-explode (doc_id, shingle)
    # stream — corpus-scaled with a fan-out the size estimator cannot
    # see (round-11 broadcast_audit hit: the right side was broadcast
    # at 10× stats). SMJ on the fixed-width shingle key is the scale
    # plan; the id_a < id_b predicate applies post-match.
    return (
        ex.alias("a")
        .join(
            ex.alias("b").hint("merge"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )



def _verified_edges(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard >= threshold edges over the complete candidate
    superset — the oracle-able edge set for the graph certificates."""
    return ngram_jaccard_pairs(
        docs, _shingle_sharing_candidates(docs), "doc_id", "text", threshold=threshold
    ).select("id_a", "id_b")



# Shared DuckDB CTE text: word-shingle (k=3) lists per doc, identical to
# the dd_ngram_jaccard oracle's formulation (which hash-matches the Spark
# shingle_frame path).
_SH_CTE = (
    r"w AS (SELECT doc_id, lang, source,"
    r" string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents), "
    r"sh AS (SELECT doc_id, lang, source,"
    r" list_transform(range(1, greatest(len(ws) - 2, 1) + 1),"
    r"  i -> array_to_string(ws[i:i+2], ' ')) AS s FROM w)"
)



# --------------------------------------------------------------------------
# deterministic sampling / splits (training-pipeline surface)
# --------------------------------------------------------------------------

_BUCKET_SQL = "substr(md5(doc_id || ':42'), 1, 8)"



# --------------------------------------------------------------------------
# relevance & corpus-LM quality scoring (operators/relevance.py)
# --------------------------------------------------------------------------

# Shared tokenization CTE for the relevance oracles — same
# split(trim(lower)) convention as _SH_CTE so corpus statistics agree
# across the dedup and relevance families.
_W_CTE = (
    r"w0 AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), "
    r"'\s+')) AS word FROM documents), "
    r"wds AS (SELECT doc_id, word FROM w0 WHERE word <> '')"
)



# --------------------------------------------------------------------------
# k-means clustering + semantic dedup (SemDeDup)
# --------------------------------------------------------------------------

# Shared 2-iteration Lloyd trajectory in SQL (mirrors kmeans_assign
# with k=8, n_iters=2, centroid rounding 4dp): init = the 8 smallest
# vec_ids, one assignment, one rounded-mean update, final assignment.
_KM_CTE = (
    r"ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    r"init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v "
    r"FROM ev ORDER BY vec_id LIMIT 8), "
    r"a1 AS (SELECT ev.vec_id, (SELECT c FROM init "
    r"ORDER BY list_distance(init.v, ev.v), c LIMIT 1) AS c FROM ev), "
    r"cd AS (SELECT a1.c, r.i AS dim, round(avg(ev.v[r.i + 1]), 4) AS m "
    r"FROM a1 JOIN ev USING (vec_id), range(64) r(i) GROUP BY a1.c, r.i), "
    r"cent2 AS (SELECT c, list(m ORDER BY dim) AS v FROM cd GROUP BY c), "
    r"a2 AS (SELECT ev.vec_id, (SELECT c FROM cent2 "
    r"ORDER BY list_distance(cent2.v, ev.v), c LIMIT 1) AS c FROM ev)"
)
