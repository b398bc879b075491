"""Catalog entries: event/session/funnel analytics, linkage, graph (triangles/PageRank/components), profiling, curation mixes.

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import token_count
from .operators.joins import (
    best_match_linkage,
    sorted_neighborhood_pairs,
)
from .operators.packing import pack_sequences
from .operators.sampling import (
    dataset_mix,
    global_shuffle,
    hash_sample,
    hash_split,
    hex_threshold,
    stratified_hash_sample,
)
from .operators.similarity import knn_join_ivf
from .registry import engine_for

from .registry_common import (  # noqa: F401
    _BUCKET_SQL,
    _SH_CTE,
    _docs,
    _emb,
    _events,
    _reg,
    _sql,
    _verified_edges,
)


# --------------------------------------------------------------------------
# pivot / unpivot
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


_reg(
    "x_pivot",
    lambda spark, sf_dir: _events(spark, sf_dir)
    .groupBy("user_id")
    .pivot("event_type", _EVENT_TYPES)
    .count()
    .na.fill(0, _EVENT_TYPES),
    "SELECT user_id, "
    + ", ".join(
        f"count(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
    "pivot: per-user event_type counts (explicit value list → stable schema)",
)


_reg(
    "x_unpivot",
    lambda spark, sf_dir: engine_for(spark, sf_dir)
    .spark.table("lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    .unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice"],
        "metric",
        "val",
    ),
    "SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val "
    "FROM lineitem UNION ALL "
    "SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric, l_extendedprice "
    "FROM lineitem",
    "unpivot/melt to long format",
)



def _grouped_map_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (UDTF-like surface, SURVEY §2.11):
    per-group pandas computation whose result a SQL oracle can verify."""
    import pandas as pd

    def median_of(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "med": [round(float(pdf["l_quantity"].median()), 4)],
                "n": [len(pdf)],
            }
        )

    return (
        engine_for(spark, sf_dir)
        .spark.table("lineitem")
        .select("l_returnflag", "l_quantity")
        .groupBy("l_returnflag")
        .applyInPandas(median_of, schema="l_returnflag string, med double, n long")
    )



def _grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF surface, SURVEY §2.11): a
    quantity-weighted mean price per returnflag, computed as one Arrow
    batch per group — partial aggregation doesn't apply to opaque
    UDAFs, so at 100 TB prefer expressing algebraic aggregates as
    built-ins; this is the escape hatch for genuinely custom math."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    return (
        engine_for(spark, sf_dir)
        .spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(wmean("l_extendedprice", "l_quantity"), 4).alias("wmean_price"))
    )



_reg(
    "x_grouped_agg_udaf",
    _grouped_agg_udaf,
    "SELECT l_returnflag, "
    "round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wmean_price "
    "FROM lineitem GROUP BY l_returnflag",
    "grouped-agg pandas UDF (Arrow-batched UDAF) with SQL-verifiable output",
)


_reg(
    "x_grouped_map",
    _grouped_map_median,
    "SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS med, "
    "count(*) AS n FROM lineitem GROUP BY l_returnflag",
    "Arrow grouped-map applyInPandas with SQL-verifiable output",
)


_reg(
    "x_hash_split",
    lambda spark, sf_dir: hash_split(
        _docs(spark, sf_dir),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=42,
    ).select("doc_id", "lang", "split"),
    f"SELECT doc_id, lang, CASE"
    f" WHEN {_BUCKET_SQL} < '{hex_threshold(0.8)}' THEN 'train'"
    f" WHEN {_BUCKET_SQL} < '{hex_threshold(0.9)}' THEN 'val'"
    f" ELSE 'test' END AS split FROM documents",
    "deterministic hash-based train/val/test split (map-side, RNG-free, "
    "partitioning-independent)",
)


_reg(
    "x_hash_sample",
    lambda spark, sf_dir: hash_sample(
        _docs(spark, sf_dir), "doc_id", 0.25, seed=42
    ).select("doc_id", "lang", "source"),
    f"SELECT doc_id, lang, source FROM documents"
    f" WHERE {_BUCKET_SQL} < '{hex_threshold(0.25)}'",
    "deterministic 25% sample by id hash",
)


_reg(
    "x_stratified_sample",
    lambda spark, sf_dir: stratified_hash_sample(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        {"en": 0.5, "de": 1.0},
        seed=42,
        default_fraction=0.25,
    ).select("doc_id", "lang"),
    f"SELECT doc_id, lang FROM documents WHERE {_BUCKET_SQL} < CASE lang"
    f" WHEN 'en' THEN '{hex_threshold(0.5)}'"
    f" WHEN 'de' THEN '{hex_threshold(1.0)}'"
    f" ELSE '{hex_threshold(0.25)}' END",
    "per-stratum deterministic sampling (downsample dominant strata)",
)


# --------------------------------------------------------------------------
# sequence packing (token-budget bin assignment for training batches)
# --------------------------------------------------------------------------

_reg(
    "x_pack_sequences",
    lambda spark, sf_dir: pack_sequences(
        _docs(spark, sf_dir).select(
            "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
        ),
        group_col="lang",
        order_col="doc_id",
        tokens_col="n_tokens",
        capacity=512,
    ).select("doc_id", "lang", "n_tokens", "bin", "bin_offset"),
    r"WITH t AS (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN 0"
    r" ELSE length(string_split_regex(trim(text), '\s+')) END AS n_tokens"
    r" FROM documents), "
    r"c AS (SELECT doc_id, lang, n_tokens,"
    r" coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id"
    r"  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t) "
    r"SELECT doc_id, lang, n_tokens, floor(cb / 512)::INT AS bin,"
    r" (cb % 512)::BIGINT AS bin_offset FROM c",
    "sequence packing: contiguous-fill token-budget bins per lang "
    "(one window cumsum, engine-portable determinism)",
)

_sql(
    "x_topk_per_group",
    "select o_orderpriority, o_orderkey, o_totalprice from ("
    "select o_orderpriority, o_orderkey, o_totalprice, "
    "row_number() over (partition by o_orderpriority "
    "order by o_totalprice desc, o_orderkey) as rn "
    "from orders) ranked where rn <= 3",
    None,  # identical SQL runs on DuckDB
    "per-group top-k via ranked window + filter: one shuffle on the "
    "group key, each partition keeps k rows — the scalable form of "
    "'N largest per category' (vs a self-join on max)",
)



def _file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden _metadata struct: at 100 TB,
    tracing a corrupt row back to its source file is the difference
    between reprocessing one file and reprocessing a day.

    The exposed ``fname`` is the DATASET path segment, not the
    physical file basename: a table is one file at the test SFs but a
    directory of part files once anything rewrites it (every scaled/
    production layout), and the r11 sf1 sweep caught the old
    ``element_at(split(...), -1)`` form returning ``part-*.parquet``
    there while the oracle said ``documents.parquet``. Anchoring: the
    path remainder AFTER the known ``sf_dir`` prefix is split and its
    first ``.parquet``-suffixed segment taken, so an ancestor
    directory that itself ends in ``.parquet`` (a lake layout like
    ``/data/corpus.parquet/sf0.1``) can't shadow the dataset segment
    (r11 advisor catch). Several anchors are tried and the first that
    actually strips wins (r12 advisor catch: abspath alone never
    matches a symlink-resolved listing or a URI store, silently
    reverting to the ancestor-dir-named-*.parquet bug): the raw
    ``sf_dir`` string, its scheme-stripped form for URI stores
    (``s3://…`` listings come back ``s3a://…``-spelled), and for
    local paths abspath + realpath (symlinked dirs resolve in the
    listing). If none occurs in ``_metadata.file_path``, the split
    degrades to the whole path and the first ``.parquet`` segment —
    the pre-r12 behavior. The full physical path stays available to
    callers via ``_metadata.file_path`` itself."""
    import os
    import re

    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")

    raw = sf_dir.rstrip("/")
    candidates = [raw]
    scheme = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", raw)
    if scheme:
        candidates.append(raw[scheme.end():])  # path part, any scheme spelling
    else:
        candidates.append(os.path.abspath(raw))
        candidates.append(os.path.realpath(raw))
    anchors: list[str] = []
    for c in candidates:
        c = c.rstrip("/") + "/"
        if c not in anchors:
            anchors.append(c)

    fp = F.col("_metadata.file_path")
    # first anchor that occurs in the path wins, split at its FIRST
    # occurrence (r13 advisor: substring_index(..., -1) split at the
    # LAST, so a physical path repeating the sf_dir string — e.g.
    # /data/sf0.1/backup/data/sf0.1/… — stripped past the dataset root)
    suffix = fp
    for a in reversed(anchors):
        pos = F.locate(a, fp)  # 1-based; 0 when the anchor is absent
        stripped = fp.substr(pos + F.lit(len(a)), F.length(fp))
        suffix = F.when(pos > 0, stripped).otherwise(suffix)
    return df.select(
        "doc_id",
        F.element_at(
            F.filter(
                F.split(suffix, "/"),
                lambda s: s.endswith(".parquet"),
            ),
            1,
        ).alias("fname"),
    )



_reg(
    "x_file_metadata",
    _file_metadata,
    "SELECT doc_id, 'documents.parquet' AS fname FROM documents",
    "hidden _metadata.file_path column exposed as dataset-level row "
    "lineage (layout-invariant: same value whether the table is a "
    "single parquet file or a directory of part files)",
)


_sql(
    "x_topk_with_ties",
    # Per-group top-k WITH TIES (rank, not row_number): the "keep
    # every row tied with the k-th" semantics ANSI spells FETCH FIRST
    # k ROWS WITH TIES — subtly different output cardinality from
    # x_topk_per_group's exactly-k policy; both live in the catalog so
    # the distinction is pinned. Same single group-key shuffle.
    "select l_returnflag, l_orderkey, l_linenumber, l_quantity from ("
    "select l_returnflag, l_orderkey, l_linenumber, l_quantity, "
    "rank() over (partition by l_returnflag "
    "order by l_quantity desc) as rk from lineitem) t "
    "where rk <= 2 order by l_returnflag, l_orderkey, l_linenumber",
    None,  # identical SQL runs on DuckDB
    "per-group top-k WITH TIES (rank <= k keeps every row tied at the "
    "boundary — the FETCH FIRST ... WITH TIES semantics)",
)


_sql(
    "x_scd2_intervals",
    "select user_id, event_type, event_id, ts as valid_from, "
    "lead(ts) over (partition by user_id order by ts, event_id) as valid_to, "
    "lead(ts) over (partition by user_id order by ts, event_id) is null as is_current "
    "from events",
    "SELECT user_id, event_type, event_id, ts AS valid_from, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current "
    "FROM events",
    "SCD2 validity intervals from an event log (lead() closes each "
    "row's interval; NULL valid_to marks the current version) — one "
    "shuffle on user_id, the standard dimension-history build",
)



_sql(
    "x_sessionize",
    # gap-based sessionization: a >30-min silence starts a new session.
    # One shuffle on user_id shared by both windows; session ids are
    # (user, cumulative-new-session-count) - deterministic, engine-
    # portable, and the canonical pre-aggregation for behavioral
    # analytics at scale (st_session is the streaming twin).
    "with gaps as (select user_id, event_id, ts, "
    "case when lag(ts) over (partition by user_id order by ts, event_id) is null "
    "or ts - lag(ts) over (partition by user_id order by ts, event_id) "
    "> interval 30 minutes then 1 else 0 end as is_new from events) "
    "select user_id, cast(sum(is_new) over (partition by user_id "
    "order by ts, event_id rows unbounded preceding) as bigint) as session_seq, "
    "event_id, ts from gaps",
    "WITH gaps AS (SELECT user_id, event_id, ts, "
    "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "> INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new FROM events) "
    "SELECT user_id, CAST(sum(is_new) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq, "
    "event_id, ts FROM gaps",
    "gap-based sessionization (30-min inactivity closes a session): "
    "lag + running sum over one user_id shuffle",
)


_sql(
    "x_cohort_retention",
    # Classic cohort-retention matrix: users grouped by first-seen
    # week, distinct-active counts at each week offset. Both engines
    # Monday-truncate weeks, and the offset is an exact multiple of 7
    # days, so `days/7.0 -> int` is bit-safe. Two user_id-keyed
    # shuffles (first-seen, activity) + one grouped count-distinct;
    # at 100 TB the cohort table persists and each new week appends
    # one activity slice — the incremental analytics shape.
    "with f as (select user_id, cast(date_trunc('week', min(ts)) as date) "
    "as cohort_week from events group by user_id), "
    "a as (select distinct user_id, cast(date_trunc('week', ts) as date) "
    "as active_week from events) "
    "select f.cohort_week, "
    "cast(datediff(a.active_week, f.cohort_week) / 7.0 as int) as week_offset, "
    "cast(count(distinct a.user_id) as bigint) as n_active "
    "from a join f on a.user_id = f.user_id "
    "group by f.cohort_week, week_offset "
    "order by cohort_week, week_offset",
    "WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) "
    "AS cohort_week FROM events GROUP BY user_id), "
    "a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) "
    "AS active_week FROM events) "
    "SELECT f.cohort_week, "
    "CAST(date_diff('day', f.cohort_week, a.active_week) / 7.0 AS INT) "
    "AS week_offset, "
    "CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active "
    "FROM a JOIN f ON a.user_id = f.user_id "
    "GROUP BY f.cohort_week, week_offset "
    "ORDER BY cohort_week, week_offset",
    "cohort retention matrix: first-seen-week cohorts x distinct "
    "active users per week offset — the incremental event-analytics "
    "shape",
)


_sql(
    "x_funnel",
    # ordered-funnel analysis: earliest view -> first later click ->
    # first later purchase per user. Each stage is a grouped min over
    # a semi-filtered self-join; all joins key on user_id (one
    # partitioning reused), stage tables shrink monotonically so AQE
    # broadcasts them against the event scan.
    "with v as (select user_id, min(ts) as t_view from events "
    "where event_type = 'view' group by user_id), "
    "c as (select e.user_id, min(e.ts) as t_click from events e "
    "join v on e.user_id = v.user_id and e.ts > v.t_view "
    "where e.event_type = 'click' group by e.user_id), "
    "p as (select e.user_id, min(e.ts) as t_purchase from events e "
    "join c on e.user_id = c.user_id and e.ts > c.t_click "
    "where e.event_type = 'purchase' group by e.user_id) "
    "select v.user_id, v.t_view, c.t_click, p.t_purchase "
    "from v left join c on v.user_id = c.user_id "
    "left join p on v.user_id = p.user_id",
    "WITH v AS (SELECT user_id, min(ts) AS t_view FROM events "
    "WHERE event_type = 'view' GROUP BY user_id), "
    "c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e "
    "JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view "
    "WHERE e.event_type = 'click' GROUP BY e.user_id), "
    "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e "
    "JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click "
    "WHERE e.event_type = 'purchase' GROUP BY e.user_id) "
    "SELECT v.user_id, v.t_view, c.t_click, p.t_purchase "
    "FROM v LEFT JOIN c ON v.user_id = c.user_id "
    "LEFT JOIN p ON v.user_id = p.user_id",
    "ordered funnel (view -> click -> purchase): stage-wise grouped "
    "minima over user_id-keyed joins, NULLs mark drop-off",
)



def _pivot_dynamic(
    spark: SparkSession, sf_dir: str, max_columns: int = 10_000
) -> DataFrame:
    """Dynamic pivot: the column set is discovered from the data (a
    bounded dimension — the distinct() collect is ≤ cardinality rows,
    never fact-sized), then one shuffle pivots. Passing the explicit
    value list lets Spark skip its own discovery pass.

    ``max_columns`` guards the driver: pivoting on an unbounded-
    cardinality column would both OOM the collect and produce an
    unusable million-column frame, so fail fast instead. The limit+1
    fetch means the driver never holds more than max_columns+1 rows
    regardless of the true cardinality.
    """
    from pyspark.sql import functions as F

    ev = engine_for(spark, sf_dir).spark.table("events")
    distinct_types = ev.select("event_type").distinct().limit(max_columns + 1).collect()
    if len(distinct_types) > max_columns:
        raise ValueError(
            f"pivot column cardinality exceeds max_columns={max_columns}; "
            "pivot on a bounded dimension or raise the limit explicitly"
        )
    types = sorted(r[0] for r in distinct_types)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
        )
    )



_reg(
    "x_pivot_dynamic",
    _pivot_dynamic,
    "SELECT user_id, "
    + ", ".join(
        f"cast(sum(cast(CASE WHEN event_type = '{t}' THEN value END "
        f"as decimal(18,2))) as double) AS {t}"
        for t in ["click", "error", "purchase", "signup", "view"]
    )
    + " FROM events GROUP BY user_id",
    "dynamic pivot (column set discovered from data, then explicit-list "
    "pivot; x_pivot is the static-list form)",
)



_reg(
    "x_temperature_mix",
    # Temperature-based source rebalancing (p_s ∝ n_s^τ, the XLM-R
    # multilingual-sampling recipe) at τ=0.5: acceptance reduces in
    # closed form to sqrt(n_min)/sqrt(n_s) — smallest source kept
    # whole, normalization cancels algebraically. sqrt and division
    # are correctly-rounded IEEE ops, so the oracle writing the SAME
    # two ops reproduces the md5 hex thresholds bit-identically.
    lambda spark, sf_dir: __import__(
        "dataframe_sql_spark.operators.sampling", fromlist=["temperature_mix"]
    ).temperature_mix(
        # fan_out=False (r15): one groupBy(lang).count + map-side hash
        # filter — the fan-out exchange is pure overhead (same class as
        # x_dataset_mix, measured 1.58x at sf0.1)
        _docs(spark, sf_dir, fan_out=False), "doc_id", "lang", tau=0.5, seed=42)
    .select("doc_id", "lang", "source"),
    "WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang), "
    "m AS (SELECT min(cnt) AS mn FROM c), "
    "f AS (SELECT lang, least(1.0, sqrt(mn) / sqrt(cnt)) AS frac "
    "FROM c CROSS JOIN m), "
    "t AS (SELECT lang, CASE WHEN frac >= 1.0 THEN 'g' "
    "ELSE printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS thr "
    "FROM f) "
    "SELECT d.doc_id, d.lang, d.source FROM documents d JOIN t ON d.lang = t.lang "
    "WHERE substr(md5(d.doc_id || ':42'), 1, 8) < t.thr",
    "temperature-based source rebalancing (p ∝ n^τ, τ=0.5): smallest "
    "source kept whole, larger sources downsampled toward balance — "
    "closed-form sqrt fractions, bit-identical cross-engine",
)


_MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


_reg(
    "x_dataset_mix",
    lambda spark, sf_dir: dataset_mix(
        # fan_out=False (r15): groupBy(source).count + map-side hash
        # filter shuffle/aggregate immediately — fan-out measured 1.58x
        # slower at sf0.1 (driver r14: 0.20->0.36 s)
        _docs(spark, sf_dir, fan_out=False), "doc_id", "lang", _MIX_WEIGHTS, seed=42
    ).select("doc_id", "lang", "source"),
    # Oracle recomputes the feasible total T = min(count/weight), the
    # per-source acceptance fractions, and the same md5 hex-threshold
    # decision — every float op written in the same order as the Python
    # driver code so the doubles (and hence the thresholds) are
    # bit-identical. printf('%08x', floor(frac * 16^8)) reproduces
    # hex_threshold for frac < 1; the binding source gets 'g' (above
    # all hex) exactly like hex_threshold(1.0).
    "WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang), "
    "w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15), "
    "('fr', 0.15), ('zh', 0.15)), "
    "f AS (SELECT c.lang, least(1.0, "
    "(SELECT min(c2.cnt / w2.wt) FROM c c2 JOIN w w2 ON c2.lang = w2.lang) "
    "* w.wt / c.cnt) AS frac FROM c JOIN w ON c.lang = w.lang), "
    "t AS (SELECT lang, CASE WHEN frac >= 1.0 THEN 'g' "
    "ELSE printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS thr "
    "FROM f) "
    "SELECT d.doc_id, d.lang, d.source FROM documents d JOIN t ON d.lang = t.lang "
    "WHERE substr(md5(d.doc_id || ':42'), 1, 8) < t.thr",
    "dataset mixing: downsample each source to hit a target mixture at "
    "max feasible volume (binding source kept whole); hash-based and "
    "map-side after one bounded source-count aggregate",
)


_reg(
    "x_global_shuffle",
    lambda spark, sf_dir: global_shuffle(
        _docs(spark, sf_dir).select("doc_id", "source"), "doc_id", seed=42
    ),
    # The oracle is the naive single-sort formulation; the Spark side
    # computes the identical permutation with the parallel
    # bucket-rank + offset decomposition (see sampling.global_shuffle).
    "SELECT doc_id, source, row_number() OVER "
    "(ORDER BY md5(doc_id || ':42'), doc_id) AS shuffle_pos FROM documents",
    "deterministic global training-order shuffle rank, computed as "
    "parallel within-bucket row_number + tiny broadcast bucket offsets "
    "instead of a single-partition global sort",
)



# --------------------------------------------------------------------------
# corpus-curation round 3 additions: per-source quality quantiles,
# embedding whitening, length histograms, curriculum ordering
# --------------------------------------------------------------------------

_sql(
    "x_quality_topq",
    # FineWeb-style per-domain quality-quantile filter: rank documents
    # within each source by a quality proxy (token count here; swap in
    # quality_score for production) and keep the top half. percent_rank
    # is (rank-1)/(n-1) — exact small rationals, so the 0.5 cutoff is
    # engine-stable; the doc_id tiebreak makes the ordering total. One
    # shuffle on source (the window), no global sort.
    r"select doc_id, source, n_words from ("
    r"select doc_id, source, n_words, "
    r"percent_rank() over (partition by source "
    r"order by n_words desc, doc_id) as pr "
    r"from (select doc_id, source, "
    r"size(split(trim(text), '\\s+')) as n_words from documents) t) r "
    r"where pr <= 0.5",
    r"SELECT doc_id, source, n_words FROM ("
    r"SELECT doc_id, source, n_words, "
    r"percent_rank() OVER (PARTITION BY source "
    r"ORDER BY n_words DESC, doc_id) AS pr "
    r"FROM (SELECT doc_id, source, "
    r"length(string_split_regex(trim(text), '\s+')) AS n_words "
    r"FROM documents) t) r "
    r"WHERE pr <= 0.5",
    "per-source quality-quantile filter (keep top 50% per domain) — "
    "the FineWeb/DCLM curation shape: quantiles computed within each "
    "domain so no single domain's distribution dominates the cut",
)



def _x_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering: every document gets a global
    training-sequence position (longest first, doc_id tiebreak) via the
    scale-safe bucketed rank (operators/rank.py) — a total order over
    the corpus with NO single-partition sort stage, which is how a
    curriculum schedule stays computable at 100 TB."""
    from .operators.rank import global_rank

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words")
    )
    return global_rank(
        docs, [("n_words", False), ("doc_id", True)], out_col="seq"
    )



_reg(
    "x_curriculum_order",
    _x_curriculum,
    r"SELECT doc_id, "
    r"length(string_split_regex(trim(text), '\s+')) AS n_words, "
    r"row_number() OVER (ORDER BY "
    r"length(string_split_regex(trim(text), '\s+')) DESC, doc_id) AS seq "
    r"FROM documents",
    "global curriculum ordering (longest-first, unique tiebreak) via "
    "the bucketed global rank — no SinglePartition stage",
)



def _x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding kNN graph (top-3 cosine neighbors
    per vector, self excluded) — centrality as a quality-weighting
    signal. The graph build is the IVF cell-keyed kNN join
    (:func:`~dataframe_sql_spark.operators.similarity.knn_join_ivf`)
    at the SCALE configuration: ``n_cells`` from the corpus-size
    heuristic (cells ∝ N, occupancy 128) and PARTIAL probe
    (``n_probe=4``) — candidate volume is n_probe·occupancy per
    source, linear in the corpus, never all pairs. The oracle replays
    the whole approximate edge build in SQL (same construction as
    ``sim_knn_join_probed``: md5-deterministic centroids, pinned
    rounded cell ranking, the same integer n_cells formula), then the
    exact 2-step power iteration — so the hash certifies the
    approximate graph AND the rank trajectory. Rank iteration is the
    fully lazy :func:`~dataframe_sql_spark.operators.graph.pagerank`."""
    from .operators.graph import pagerank
    from .operators.similarity import knn_join_ivf

    emb = _emb(spark, sf_dir)
    edges = knn_join_ivf(
        emb.select(F.col("vec_id").alias("src"), "embedding"),
        emb.select(F.col("vec_id").alias("dst"), "embedding"),
        k=3,
        left_id="src",
        right_id="dst",
        n_probe=4,
        exclude_self=True,
    ).select("src", "dst")
    return pagerank(edges, n_iters=2)



_reg(
    "x_pagerank",
    _x_pagerank,
    r"WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    # replayed approximate edge build: heuristic cell count (exact
    # integer formula of ivf_default_cells), md5-deterministic
    # centroids, pinned rounded cell ranking (CELL_SCORE_DECIMALS),
    # nearest-cell assignment, 4-cell probe, cell equi-join candidates
    r"ncell AS (SELECT greatest(16, least(4096, (count(*) + 127) // 128)) AS n "
    r"FROM ev), "
    r"cents AS (SELECT cell, v FROM ("
    r"SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 "
    r"AS cell, v FROM ev) CROSS JOIN ncell WHERE cell < ncell.n), "
    "cn AS (SELECT cell, list_transform(v, x -> x / n) AS vn FROM (SELECT cell, v, CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN 1 ELSE sqrt(list_inner_product(v, v)) END AS n FROM cents)), "
    r"rs AS (SELECT vec_id AS dst, v, cell FROM ("
    r"SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id "
    r"ORDER BY round(list_inner_product(e.v, c.vn), 8) DESC, c.cell) AS rn "
    r"FROM ev e CROSS JOIN cn c) WHERE rn = 1), "
    r"lp AS (SELECT vec_id AS src, v, cell FROM ("
    r"SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id "
    r"ORDER BY round(list_inner_product(e.v, c.vn), 8) DESC, c.cell) AS rn "
    r"FROM ev e CROSS JOIN cn c) WHERE rn <= 4), "
    r"cand AS (SELECT lp.src, lp.v AS lv, rs.dst, rs.v AS rv "
    r"FROM lp JOIN rs ON lp.cell = rs.cell AND lp.src <> rs.dst), "
    # MATERIALIZED: the pagerank chain references edges 4+ times
    # (nodes/deg/c1/c2); DuckDB would otherwise re-inline the whole
    # windowed candidate build per reference — measured 80 GB of temp
    # spill at sf0.1 vs 2 s materialized (the round-4 "oracle OOM" was
    # this inlining, not just candidate volume)
    r"edges AS MATERIALIZED (SELECT src, dst FROM ("
    r"SELECT src, dst, row_number() OVER (PARTITION BY src "
    r"ORDER BY list_cosine_similarity(lv, rv) DESC, dst) AS rn "
    r"FROM cand) WHERE rn <= 3), "
    r"nodes AS (SELECT DISTINCT id FROM "
    r"(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)), "
    r"nt AS (SELECT count(*) AS n FROM nodes), "
    r"deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), "
    r"p0 AS (SELECT id, round(CAST(1.0 AS DOUBLE) / n, 6) AS rank "
    r"FROM nodes CROSS JOIN nt), "
    r"d1 AS (SELECT coalesce(CAST(sum(CASE WHEN deg.deg IS NULL THEN "
    r"CAST(floor(rank * 1000000.0 + 0.5) AS BIGINT) END) AS DOUBLE), 0) "
    r"/ 1000000.0 AS dang FROM p0 LEFT JOIN deg ON p0.id = deg.src), "
    r"c1 AS (SELECT e.dst, CAST(sum((CAST(floor(p0.rank * 1000000.0 + 0.5) "
    r"AS BIGINT) * 1000000000000) // deg.deg) AS DOUBLE) / 1e18 AS cin "
    r"FROM edges e "
    r"JOIN p0 ON e.src = p0.id JOIN deg ON e.src = deg.src GROUP BY e.dst), "
    r"p1 AS (SELECT id, round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE) + "
    r"CAST(0.85 AS DOUBLE) * dang) / n + "
    r"CAST(0.85 AS DOUBLE) * coalesce(cin, 0), 6) AS rank FROM nodes "
    r"LEFT JOIN c1 ON nodes.id = c1.dst CROSS JOIN nt CROSS JOIN d1), "
    r"d2 AS (SELECT coalesce(CAST(sum(CASE WHEN deg.deg IS NULL THEN "
    r"CAST(floor(rank * 1000000.0 + 0.5) AS BIGINT) END) AS DOUBLE), 0) "
    r"/ 1000000.0 AS dang FROM p1 LEFT JOIN deg ON p1.id = deg.src), "
    r"c2 AS (SELECT e.dst, CAST(sum((CAST(floor(p1.rank * 1000000.0 + 0.5) "
    r"AS BIGINT) * 1000000000000) // deg.deg) AS DOUBLE) / 1e18 AS cin "
    r"FROM edges e "
    r"JOIN p1 ON e.src = p1.id JOIN deg ON e.src = deg.src GROUP BY e.dst) "
    r"SELECT id, round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE) + "
    r"CAST(0.85 AS DOUBLE) * dang) / n + "
    r"CAST(0.85 AS DOUBLE) * coalesce(cin, 0), 6) AS rank FROM nodes "
    r"LEFT JOIN c2 ON nodes.id = c2.dst CROSS JOIN nt CROSS JOIN d2",
    "PageRank (d=0.85, 2 iterations, dangling-mass redistribution, "
    "6dp-rounded trajectory) over the partial-probe IVF kNN graph "
    "(heuristic cell count, 4-cell probe) — the oracle replays the "
    "approximate edge build AND the exact power iteration in SQL",
)



def _x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import profile_frame

    return profile_frame(
        _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
    )



_reg(
    "x_profile",
    _x_profile,
    # one UNION ALL arm per column; DuckDB may scan per arm — the
    # Spark side is the single-scan formulation being certified
    " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, cast(count(*) AS BIGINT) AS n_rows, "
        f"cast(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_null, cast(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"min(cast({c} AS VARCHAR)) AS min_val, "
        f"max(cast({c} AS VARCHAR)) AS max_val FROM documents"
        for c in ["doc_id", "text", "lang", "source", "n_chars"]
    ),
    "single-scan per-column profile (rows/nulls/distincts/min/max) — "
    "the ANALYZE TABLE shape; N columns, one read",
)



_sql(
    "x_weighted_sample",
    # Quality-weighted deterministic sampling: each doc keeps with
    # probability proportional to its length share (stand-in for any
    # quality weight, e.g. the x_pagerank centrality or txt_lm_score).
    # The coin is the repo's engine-portable md5 fraction — no RNG, so
    # reruns and the oracle agree bit-for-bit; the max-weight scalar
    # attaches via a subquery (1-row broadcast). Map-side except the
    # 1-row aggregate: the 100 TB shape for importance sampling.
    "select doc_id, n_chars from documents "
    "where cast(conv(substring(md5(concat(cast(doc_id as string), ':ws42')), "
    "1, 8), 16, 10) as double) / 4294967296.0 "
    "< cast(n_chars as double) / (select max(n_chars) from documents)",
    "SELECT doc_id, n_chars FROM documents "
    "WHERE ('0x' || substr(md5(doc_id || ':ws42'), 1, 8))::BIGINT "
    "/ 4294967296.0 "
    "< cast(n_chars AS DOUBLE) / (SELECT max(n_chars) FROM documents)",
    "deterministic importance sampling (keep-probability proportional "
    "to a per-row weight, md5 coin) — authority/quality-weighted "
    "corpus subsetting with a bit-exact oracle",
)



def _x_split_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: after the engine's own deterministic
    train/val hash split, flag every val document sharing an exact
    word 8-gram with ANY train document — the thing you must measure
    before trusting a held-out set built from a near-dup-ridden
    corpus. Composes x_hash_split and the dd_decontaminate semi-join;
    the only corpus-wide exchange is the gram-hash semi-join."""
    from .operators.dedup import kgram_positions
    from .operators.sampling import hash_split

    docs = _docs(spark, sf_dir)
    split = hash_split(docs, "doc_id", {"train": 0.9, "val": 0.1}, seed=42)
    train = split.filter(F.col("split") == "train")
    val = split.filter(F.col("split") == "val")
    train_grams = (
        kgram_positions(train, "doc_id", "text", k=8).select("gh").distinct()
    )
    val_hits = (
        kgram_positions(val, "doc_id", "text", k=8)
        .join(train_grams, on="gh", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        val.select("doc_id")
        .join(val_hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated")
        )
    )



_reg(
    "x_split_decontaminate",
    _x_split_decontaminate,
    f"WITH s AS (SELECT doc_id, text, CASE WHEN {_BUCKET_SQL} < "
    f"'{hex_threshold(0.9)}' THEN 'train' ELSE 'val' END AS split "
    "FROM documents), "
    r"words AS (SELECT doc_id, split, "
    r"string_split_regex(trim(lower(text)), '\s+') AS w FROM s), "
    r"grams AS (SELECT doc_id, split, "
    r"w[pos] || ' ' || w[least(pos+1, len(w))] || ' ' || "
    r"w[least(pos+2, len(w))] || ' ' || w[least(pos+3, len(w))] || ' ' || "
    r"w[least(pos+4, len(w))] || ' ' || w[least(pos+5, len(w))] || ' ' || "
    r"w[least(pos+6, len(w))] || ' ' || w[least(pos+7, len(w))] AS g "
    r"FROM (SELECT doc_id, split, w, "
    r"unnest(generate_series(1, greatest(len(w) - 7, 1))) AS pos "
    r"FROM words) p), "
    r"tg AS (SELECT DISTINCT g FROM grams WHERE split = 'train'), "
    r"hit AS (SELECT DISTINCT doc_id FROM grams "
    r"WHERE split = 'val' AND g IN (SELECT g FROM tg)) "
    r"SELECT doc_id, doc_id IN (SELECT doc_id FROM hit) AS contaminated "
    r"FROM s WHERE split = 'val'",
    "cross-split leakage audit: val docs sharing an exact 8-gram with "
    "the train split (hash split + gram semi-join composed), the "
    "held-out-set trust check",
)



_sql(
    "x_bottomk_sample",
    # Bottom-k sketch: the k smallest md5(fingerprint) values form a
    # uniform sample of DISTINCT texts that is MERGEABLE (union two
    # sketches, keep the k smallest again) and consistent (the same
    # text always carries the same hash, so re-ingestion can't inflate
    # its chance). The mergeable-distinct-sample primitive behind
    # KMV/theta cardinality sketches; TakeOrderedAndProject, no global
    # sort.
    "select doc_id, h from (select doc_id, "
    "md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')) as h "
    "from documents) t order by h, doc_id limit 20",
    r"SELECT doc_id, h FROM (SELECT doc_id, "
    r"md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h "
    r"FROM documents) t ORDER BY h, doc_id LIMIT 20",
    "bottom-k (KMV-style) mergeable distinct sample: k smallest "
    "fingerprint hashes, consistent under re-ingestion",
)


def _x_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quartile bucketing WITHOUT a single-partition window:
    a naive ``ntile(4) OVER (ORDER BY ...)`` funnels the whole corpus
    through one task (the pre-round-3 global-rank trap), so this
    computes the identical tiles from the bucketed
    :func:`~dataframe_sql_spark.operators.rank.global_rank` plus the
    closed-form ntile formula (the first ``N mod n`` tiles take
    ``ceil(N/n)`` rows, the rest ``floor(N/n)``) — pure arithmetic on
    (rank, N), differential-tested against the oracle's native ntile.
    """
    from .operators.rank import global_rank

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    ranked = global_rank(
        docs, [("n_chars", True), ("doc_id", True)], out_col="__r"
    )
    n_total = ranked.agg(F.count("*").alias("__n"))
    n_tiles = F.lit(4)
    big = F.ceil(F.col("__n") / n_tiles).cast("bigint")  # rows in big tiles
    small = F.floor(F.col("__n") / n_tiles).cast("bigint")
    n_big = (F.col("__n") % n_tiles).cast("bigint")  # how many big tiles
    cut = n_big * big  # ranks <= cut live in big tiles
    tile = F.when(
        F.col("__r") <= cut, F.ceil(F.col("__r") / big)
    ).otherwise(n_big + F.ceil((F.col("__r") - cut) / small))
    from .operators.scalars import broadcast_attach

    return broadcast_attach(ranked, n_total).select(
        "doc_id",
        "n_chars",
        tile.cast("int").alias("quality_q"),
    )



_reg(
    "x_quality_buckets",
    _x_quality_buckets,
    "SELECT doc_id, n_chars, "
    "ntile(4) OVER (ORDER BY n_chars, doc_id) AS quality_q "
    "FROM documents",
    "quality-quartile assignment (deterministic tiebreak) via the "
    "bucketed global rank + closed-form ntile arithmetic "
    "- no SinglePartition window; oracle uses native ntile",
)


_sql(
    "x_score_calibration",
    # Cross-source score calibration: replace a raw quality score with
    # its within-source quantile (percent_rank) so a global threshold
    # means the same thing for every source — the step before mixing
    # when sources have incomparable score scales (a FineWeb-style
    # classifier score on web text vs code). One shuffle on source;
    # deterministic tiebreak by doc_id. percent_rank = (rank-1)/(n-1)
    # is a ratio of small ints — bit-identical across engines.
    "select doc_id, source, n_chars, "
    "percent_rank() over (partition by source "
    "order by n_chars, doc_id) as q "
    "from documents order by doc_id",
    None,  # identical SQL runs on DuckDB
    "cross-source score calibration: within-source percent_rank "
    "quantile replaces the raw score (comparable thresholds across "
    "heterogeneous sources)",
)


_sql(
    "x_source_cap",
    # Per-source volume cap: keep at most N docs per source,
    # deterministically chosen by the md5 coin (not arrival order, so
    # reruns and engines agree and no partition-order bias). The
    # anti-skew guard for dominant domains before mixing: one shuffle
    # on source, per-group top-N via ranked window.
    "select doc_id, source from ("
    "select doc_id, source, row_number() over (partition by source "
    "order by md5(concat(cast(doc_id as string), ':cap42')), doc_id) as rn "
    "from documents) t where rn <= 20 order by doc_id",
    "SELECT doc_id, source FROM ("
    "SELECT doc_id, source, row_number() OVER (PARTITION BY source "
    "ORDER BY md5(doc_id || ':cap42'), doc_id) AS rn "
    "FROM documents) t WHERE rn <= 20 ORDER BY doc_id",
    "per-source volume cap (keep <= N per source, md5-deterministic "
    "choice) — dominant-domain anti-skew before mixing",
)



def _x_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: link dirty records back to a master table.

    The dirty side is derived deterministically (customers with
    ``c_custkey % 7 = 3``, last character of the name dropped) so both
    engines build the identical input. Blocking on ``c_nationkey``
    bounds the candidate quadratic; scoring is built-in JVM
    ``levenshtein``; one best match per dirty record (min distance,
    then min key).
    """
    cust = engine_for(spark, sf_dir).spark.table("customer")
    dirty = cust.filter(F.col("c_custkey") % 7 == 3).select(
        F.col("c_custkey").alias("d_id"),
        F.expr("substring(c_name, 1, length(c_name) - 1)").alias("d_name"),
        "c_nationkey",
    )
    return (
        best_match_linkage(
            dirty,
            cust,
            ["c_nationkey"],
            "d_id",
            "c_custkey",
            "d_name",
            "c_name",
            max_distance=2,
        )
        .select(
            "d_id",
            "matched_id",
            F.col("distance").cast("bigint").alias("distance"),
        )
        .orderBy("d_id")
    )



_reg(
    "x_record_linkage",
    _x_record_linkage,
    "WITH dirty AS (SELECT c_custkey AS d_id,"
    " substring(c_name, 1, length(c_name) - 1) AS d_name, c_nationkey"
    " FROM customer WHERE c_custkey % 7 = 3), "
    "scored AS (SELECT d.d_id, c.c_custkey AS matched_id,"
    " levenshtein(d.d_name, c.c_name) AS distance"
    " FROM dirty d JOIN customer c ON d.c_nationkey = c.c_nationkey"
    " WHERE levenshtein(d.d_name, c.c_name) <= 2) "
    "SELECT d_id, matched_id, distance::BIGINT AS distance FROM ("
    " SELECT *, row_number() OVER (PARTITION BY d_id"
    "  ORDER BY distance, matched_id) AS rn FROM scored) t "
    "WHERE rn = 1 ORDER BY d_id",
    "record linkage: nation-blocked levenshtein best-match per dirty "
    "record (deterministic truncated-name dirty side)",
)


def _x_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation + levenshtein verify.

    Rank customers by name (bucketed global rank — no single-partition
    window), pair every record with its next 3 neighbors in sort order,
    keep pairs within edit distance 2. The DuckDB oracle replays the
    same neighborhood with a native row_number window and a position
    band join.
    """
    cust = engine_for(spark, sf_dir).spark.table("customer")
    # the verify attribute (c_name) rides THROUGH the rank table
    # (carry_cols), so customer is not re-joined once per pair side;
    # the rank exchange carries only the two columns used.
    pairs = sorted_neighborhood_pairs(
        cust.select("c_custkey", "c_name"),
        ["c_name"],
        "c_custkey",
        window=3,
        carry_cols=("c_name",),
    )
    return (
        pairs.withColumn("distance", F.levenshtein("c_name_a", "c_name_b"))
        .filter(F.col("distance") <= 2)
        .select("id_a", "id_b", F.col("distance").cast("bigint").alias("distance"))
        .orderBy("id_a", "id_b")
    )



_reg(
    "x_sorted_neighborhood",
    _x_sorted_neighborhood,
    "WITH ranked AS (SELECT c_custkey, c_name,"
    " row_number() OVER (ORDER BY c_name, c_custkey) AS pos FROM customer) "
    "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,"
    " levenshtein(a.c_name, b.c_name)::BIGINT AS distance "
    "FROM ranked a JOIN ranked b"
    " ON b.pos > a.pos AND b.pos <= a.pos + 3 "
    "WHERE levenshtein(a.c_name, b.c_name) <= 2 "
    "ORDER BY id_a, id_b",
    "sorted-neighborhood blocking (rank by name, pair within 3 "
    "positions, verify by edit distance) — linear candidate volume",
)



def _x_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog wrapper for :func:`operators.sampling.negative_pairs`
    (the md5-mod-N contrastive negative sampler; see its docstring for
    the plan shape and determinism argument)."""
    from .operators.sampling import negative_pairs

    return negative_pairs(_docs(spark, sf_dir), "doc_id", k=4).orderBy(
        "doc_id", "j"
    )



_reg(
    "x_negative_pairs",
    _x_negative_pairs,
    "WITH idx AS (SELECT doc_id,"
    " row_number() OVER (ORDER BY doc_id) AS pos FROM documents), "
    "probes AS (SELECT doc_id, pos, j,"
    " (('0x' || substr(md5(doc_id || ':neg:' || j), 1, 8))::BIGINT"
    "  % (SELECT count(*) FROM documents)) + 1 AS tpos"
    " FROM idx, (VALUES (1), (2), (3), (4)) AS js(j)) "
    "SELECT p.doc_id, p.j::BIGINT AS j, t.doc_id AS neg_id "
    "FROM probes p JOIN idx t ON t.pos = p.tpos "
    "WHERE p.tpos <> p.pos ORDER BY p.doc_id, p.j",
    "deterministic contrastive negative sampling (md5 coin mod N onto "
    "a dense position index; ~4 negatives per doc, bit-exact oracle)",
)


_sql(
    "x_snapshot_diff",
    # CDC snapshot diff: classify every key as added / removed /
    # changed / unchanged between two table versions via one full
    # outer join on the key — the incremental-sync primitive (feeds
    # merge_upsert and the SCD2 builder). v2 is derived
    # deterministically from v1 so both engines see identical inputs:
    # doc_id % 11 == 0 rows are dropped (deletes), % 7 == 0 rows get
    # re-sourced (updates), and fresh keys are appended (inserts —
    # mapped to -doc_id - 1, disjoint from the non-negative base key
    # space at ANY row count; an additive offset would collide once
    # the table outgrows it).
    # Comparing a content hash (md5 of the row's business columns)
    # instead of column-by-column equality is the 100 TB form: one
    # fixed-width comparison regardless of schema width.
    "with v1 as (select doc_id, md5(concat(text, '|', source)) as h "
    "from documents), "
    "v2 as (select doc_id, md5(concat(text, '|', "
    "case when doc_id % 7 = 0 then 'moved' else source end)) as h "
    "from documents where doc_id % 11 <> 0 "
    "union all select -doc_id - 1 as doc_id, md5(concat(text, '|new')) "
    "as h from documents where doc_id % 13 = 0), "
    "j as (select coalesce(v1.doc_id, v2.doc_id) as doc_id, "
    "v1.h as h1, v2.h as h2 from v1 full outer join v2 "
    "on v1.doc_id = v2.doc_id) "
    "select doc_id, case when h1 is null then 'added' "
    "when h2 is null then 'removed' "
    "when h1 <> h2 then 'changed' else 'unchanged' end as change "
    "from j order by doc_id",
    None,  # identical SQL runs on DuckDB
    "CDC snapshot diff: added/removed/changed/unchanged per key via "
    "one full outer join on content hashes (fixed-width compare, "
    "schema-independent)",
)


_sql(
    "x_winsorize",
    # Winsorization (outlier clamping to per-group percentile fences) —
    # the standard pre-normalization step before quality/length features
    # feed a sampler. Exact interpolated percentiles per source (one
    # groupBy), broadcast-joined back (the fence table is
    # group-cardinality-sized), clamp via least/greatest in codegen.
    # round(.,4) absorbs interpolation last-ulp noise (a_percentile
    # convention).
    "select d.doc_id, d.n_chars, "
    "cast(greatest(least(cast(d.n_chars as double), q.hi), q.lo) as double) "
    "as clamped from documents d join ("
    "select source, round(percentile(n_chars, 0.05), 4) as lo, "
    "round(percentile(n_chars, 0.95), 4) as hi "
    "from documents group by source) q on d.source = q.source "
    "order by d.doc_id",
    "SELECT d.doc_id, d.n_chars, "
    "greatest(least(CAST(d.n_chars AS DOUBLE), q.hi), q.lo) AS clamped "
    "FROM documents d JOIN ("
    "SELECT source, round(quantile_cont(n_chars, 0.05), 4) AS lo, "
    "round(quantile_cont(n_chars, 0.95), 4) AS hi "
    "FROM documents GROUP BY source) q ON d.source = q.source "
    "ORDER BY d.doc_id",
    "per-source winsorization: clamp to exact 5th/95th percentile "
    "fences (outlier-robust length feature)",
)



def _g_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the exact-Jaccard similarity graph.

    Edges are the oracle-able J >= 0.5 pairs from the complete
    shingle-sharing candidate superset (same edge set as
    ``dd_clusters_verified``); the operator is the degree-oriented
    wedge join (``operators/graph.py::triangle_list``). DuckDB closes
    the loop with a 3-way self-join on the same edge CTE — each
    triangle a < b < c appears exactly once on both sides.
    """
    from .operators.graph import triangle_list

    edges = _verified_edges(_docs(spark, sf_dir), threshold=0.5)
    return triangle_list(edges, "id_a", "id_b").orderBy("a", "b", "c")



_reg(
    "g_triangles",
    _g_triangles,
    f"WITH {_SH_CTE}, "
    r"ex AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh), "
    r"cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    r" FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id), "
    r"e AS (SELECT c.id_a, c.id_b"
    r" FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b"
    r" WHERE len(list_intersect(x.s, y.s))::DOUBLE"
    r"  / len(list_distinct(list_cat(x.s, y.s))) >= 0.5) "
    r"SELECT t1.id_a AS a, t1.id_b AS b, t2.id_b AS c "
    r"FROM e t1 JOIN e t2 ON t2.id_a = t1.id_b"
    r" JOIN e t3 ON t3.id_a = t1.id_a AND t3.id_b = t2.id_b "
    r"ORDER BY a, b, c",
    "triangle enumeration over exact-Jaccard >= 0.5 similarity edges "
    "(degree-oriented wedge joins vs a DuckDB 3-way self-join)",
    oracle_max_sf=0.01,
    max_sf_reason=(
        "oracle-side: the DuckDB 3-way self-join over the similarity edge "
        "CTE (itself built from the complete pair set) is infeasible "
        "beyond sf0.01"
    ),
    scale_path=(
        "degree-oriented wedge join (operators/graph.py::triangle_list) "
        "over banded candidate edges — wedge fan-out bounded by orienting "
        "edges toward higher degree"
    ),
)


_sql(
    "x_skew_report",
    # Key-skew diagnostics: the distribution of per-key group sizes as a
    # log2 histogram (bucket = bit length of the count — integer-exact in
    # both engines via bin(), no float log). This is the profile you run
    # BEFORE choosing join/agg strategies at 100 TB: a long-tailed report
    # says salt-or-AQE, a flat one says hash-partition and move on. Two
    # shuffles total (key grouping, then 8-ish histogram rows).
    "select length(bin(c)) as bucket_bits, count(*) as n_keys, "
    "min(c) as min_count, max(c) as max_count, "
    "cast(sum(c) as bigint) as n_rows "
    "from (select user_id, count(*) as c from events group by user_id) t "
    "group by length(bin(c)) order by bucket_bits",
    "SELECT length(bin(c)) AS bucket_bits, count(*) AS n_keys, "
    "min(c) AS min_count, max(c) AS max_count, "
    "CAST(sum(c) AS BIGINT) AS n_rows "
    "FROM (SELECT user_id, count(*) AS c FROM events GROUP BY user_id) t "
    "GROUP BY length(bin(c)) ORDER BY bucket_bits",
    "key-skew report: log2 histogram of per-key group sizes "
    "(integer-exact buckets via binary bit length)",
)


def _x_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relevance import dsir_weights

    docs = _docs(spark, sf_dir).withColumn("is_en", F.col("lang") == "en")
    return dsir_weights(
        docs, "doc_id", "text", "is_en", n_buckets=4096, feature_hash="md5"
    )


_reg(
    "x_dsir_weights",
    # DSIR importance weights (Xie et al. 2023): hashed-bigram
    # log-likelihood ratio of the English-doc target model vs the raw
    # corpus — the data-selection scoring pass of a training-data
    # pipeline (resample ∝ exp(weight) downstream). The oracle replays
    # the identical pipeline: same lower/trim/\s+ bigrams (out-of-range
    # list index -> NULL reproduces Spark's shifted-zip tail pair, both
    # filtered), same md5-prefix bucket hash, same Laplace-smoothed
    # counts. Per-bucket scores are pinned as BIGINT 1e-8 units, the
    # per-doc total is an exact integer sum, and the 4dp rounding is
    # integer floor-div half-up — a double round(sum, 4) here is
    # engine-divergent whenever the 8dp-grid sum lands on the 4dp
    # half-grid (~1 doc per 10^4 — the round-10 sf1 sweep caught it at
    # 50k docs). Docs with zero bigrams have no features and are
    # absent on both sides.
    _x_dsir,
    "WITH ws AS (SELECT doc_id, lang = 'en' AS tf, "
    r"string_split_regex(trim(lower(text)), '\s+') AS w FROM documents), "
    "bgi AS (SELECT doc_id, tf, w, "
    "unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i FROM ws), "
    "bg AS (SELECT doc_id, tf, w[i] AS w1, w[i + 1] AS w2 FROM bgi), "
    "fe AS (SELECT doc_id, tf, "
    "(('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::BIGINT % 4096) AS b "
    "FROM bg WHERE w2 IS NOT NULL AND w1 <> ''), "
    "cnt AS (SELECT b, count(*) AS cr, "
    "sum(CASE WHEN tf THEN 1 ELSE 0 END) AS ct FROM fe GROUP BY b), "
    "tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt), "
    "sc AS (SELECT b, CAST(round((ln((ct + 1)::DOUBLE / (nt + 4096)::DOUBLE) "
    "- ln((cr + 1)::DOUBLE / (nr + 4096)::DOUBLE)) * 100000000) AS BIGINT) AS s8 "
    "FROM cnt CROSS JOIN tot) "
    "SELECT fe.doc_id, count(*) AS n_feats, "
    "CAST(floor((sum(sc.s8) + 5000) / 10000.0) AS BIGINT) / 10000.0 AS weight "
    "FROM fe JOIN sc ON sc.b = fe.b GROUP BY fe.doc_id",
    "DSIR importance weights: hashed-bigram target-vs-raw "
    "log-likelihood ratio per document — one B-bounded bucket "
    "shuffle + broadcast score join + one doc-keyed sum; the "
    "data-selection pass before importance resampling",
)
