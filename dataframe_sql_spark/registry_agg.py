"""Catalog entries: aggregation surface (sketches, rollups, grouping sets, skew-safe aggregation, modern-dialect aggregates).

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .functions.text import words
from .registry import engine_for

from .registry_common import (  # noqa: F401
    _W_CTE,
    _docs,
    _events,
    _reg,
    _sql,
)


# --------------------------------------------------------------------------
# grouped aggregates: SQL percentile + applyInPandas grouped-map
# --------------------------------------------------------------------------

_sql(
    "a_percentile",
    "select l_returnflag, round(percentile(l_quantity, 0.5), 4) as med, "
    "round(percentile(l_quantity, 0.9), 4) as p90 from lineitem "
    "group by l_returnflag",
    "SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS med, "
    "round(quantile_cont(l_quantity, 0.9), 4) AS p90 FROM lineitem "
    "GROUP BY l_returnflag",
    "exact interpolated percentiles (A11 extension)",
)


# --------------------------------------------------------------------------
# skew-safe aggregation (exactness check vs plain GROUP BY oracle)
# --------------------------------------------------------------------------


def _salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_agg

    li = engine_for(spark, sf_dir).spark.table("lineitem")
    return salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("l_quantity", "sum"),
            "cnt": ("l_quantity", "count"),
            "max_q": ("l_quantity", "max"),
            "min_q": ("l_quantity", "min"),
        },
        buckets=16,
    )


_reg(
    "a_salted_agg",
    _salted,
    "SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(l_quantity) AS cnt, "
    "max(l_quantity) AS max_q, min(l_quantity) AS min_q "
    "FROM lineitem GROUP BY l_returnflag",
    "two-phase salted aggregation == plain GROUP BY (hot-key mitigation)",
)


_sql(
    "a_stats_agg",
    "select l_returnflag, round(stddev_samp(l_quantity), 6) as sd, "
    "round(var_samp(l_quantity), 6) as vr, "
    "round(corr(l_quantity, l_extendedprice), 6) as cor, "
    "round(covar_samp(l_quantity, l_extendedprice), 4) as cov "
    "from lineitem group by l_returnflag",
    "SELECT l_returnflag, round(stddev_samp(l_quantity), 6) AS sd, "
    "round(var_samp(l_quantity), 6) AS vr, "
    "round(corr(l_quantity, l_extendedprice), 6) AS cor, "
    "round(covar_samp(l_quantity, l_extendedprice), 4) AS cov "
    "FROM lineitem GROUP BY l_returnflag",
    "statistical aggregates: stddev / variance / correlation / covariance",
)


_sql(
    "a_groupby_all",
    "select l_returnflag, l_linestatus, sum(l_quantity) as s from lineitem "
    "group by all",
    None,  # identical SQL runs on DuckDB
    "GROUP BY ALL (infer grouping keys from the select list)",
)


_sql(
    "a_listagg",
    "select l_returnflag, listagg(l_linestatus, ',') "
    "within group (order by l_linestatus) as statuses "
    "from lineitem group by l_returnflag",
    "SELECT l_returnflag, string_agg(l_linestatus, ',' ORDER BY l_linestatus) "
    "AS statuses FROM lineitem GROUP BY l_returnflag",
    "ordered string aggregation (listagg WITHIN GROUP ≡ DuckDB string_agg)",
)


def _approx_agg_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certificate shape (same pattern as a_hll_sketch_rollup): the
    sketch estimates themselves are implementation-defined, so the
    oracle-checkable output is (exact value, within-tolerance flag) —
    the booleans certify the HLL++/GK error bounds held while staying
    deterministic cross-engine.

    The exact-median side deliberately does NOT use Spark's
    ``percentile()``: its aggregation buffer is a counts-map keyed by
    distinct VALUE, so over a high-cardinality column like
    l_extendedprice the partial state grows with the data (it OOMs a
    default-heap session at sf0.1 and would be unrunnable at 100 TB).
    Instead the exact median is the sort-based k-th element — one
    spill-safe sort shuffle partitioned by group, row_number vs the
    group count, average of the middle one/two values. Memory is
    O(1) per task regardless of value cardinality; percentile(0.5)'s
    linear interpolation at the midpoint equals that two-middle
    average exactly, so the result is bit-identical to the buffered
    form (and to DuckDB's quantile_cont).

    The DISTINCT aggregate is likewise kept OUT of the sketch
    aggregate: mixing count_distinct with non-distinct aggregates in
    one groupBy makes Spark's phase-1 aggregate key on
    (group, distinct-value) and carry every non-distinct buffer —
    here a QuantileSummaries sketch — PER DISTINCT ORDER KEY, state
    that grows with the data (measured: OOMs a default-heap session
    at sf0.1's 600k rows; unrunnable at 100 TB). As two aggregates
    joined on the group key, the sketches key on 3 flags and the
    distinct count keys on (flag, orderkey) with constant per-key
    state — both spill-safe at any scale, and the 3-row join
    broadcasts."""
    from pyspark.sql import Window

    li = engine_for(spark, sf_dir).spark.table("lineitem")
    sketch_nd = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("apx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("apx_med"),
    )
    sketch_d = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders")
    )
    sketch = sketch_nd.join(sketch_d, "l_returnflag")
    grp = Window.partitionBy("l_returnflag")
    pos = F.col("__n") + F.lit(1)  # percentile position h = (n+1)/2
    med = (
        li.select("l_returnflag", "l_extendedprice")
        .withColumn(
            "__rn", F.row_number().over(grp.orderBy("l_extendedprice"))
        )
        .withColumn("__n", F.count(F.lit(1)).over(grp))
        .where(
            (F.col("__rn") == F.floor(pos / 2))
            | (F.col("__rn") == F.ceil(pos / 2))
        )
        .groupBy("l_returnflag")
        .agg(F.avg("l_extendedprice").alias("__exact_med"))
    )
    return (
        sketch.join(med, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("apx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("ok_orders"),
            F.round("__exact_med", 4).alias("exact_med"),
            (
                F.abs(F.col("apx_med") - F.col("__exact_med"))
                <= 0.02 * F.col("__exact_med")
            ).alias("ok_med"),
        )
        .orderBy("l_returnflag")
    )


_reg(
    "a_approx_agg",
    _approx_agg_fn,
    "SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders, "
    "true AS ok_orders, "
    "round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_med, "
    "true AS ok_med "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "sketch aggregates with exactness certificate: HLL++ count-distinct "
    "+ approximate percentile vs their exact counterparts — single-pass, "
    "fixed-size state (the 100 TB substitute for exact distinct)",
)



def _hll_rollup_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL mergeable rollup: daily per-event_type sketch
    partials unioned to a per-event_type distinct-user estimate. The
    oracle-checkable output is (exact count, within-tolerance flag):
    the estimate itself is implementation-defined, but its 3%-of-exact
    certificate (lgk=14 → 0.8% RSE, so ~3.7σ) is deterministic."""
    from .functions.sketches import hll_estimate_exactish

    ev = engine_for(spark, sf_dir).spark.table("events")
    ev = ev.withColumn("day", F.date_trunc("day", "ts"))
    return (
        hll_estimate_exactish(
            ev, ["event_type"], "day", "user_id", lgk=14, rel_tol=0.03
        )
        # drop the implementation-defined estimate; the oracle compares
        # the deterministic (exact, certificate) pair only
        .select("event_type", "exact_distinct", "within_tol")
        .orderBy("event_type")
    )



_reg(
    "a_hll_sketch_rollup",
    _hll_rollup_entry,
    "SELECT event_type, count(DISTINCT user_id) AS exact_distinct, "
    "true AS within_tol FROM events GROUP BY event_type ORDER BY event_type",
    "mergeable HLL sketch rollup: per-day binary partials -> union-agg "
    "estimate; the persisted-pre-aggregate pattern that replaces "
    "fact-table rescans for distinct counts at 100 TB",
)


def _hll_intersect_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-ALGEBRA certificate: |A ∩ B| estimated by inclusion-
    exclusion over two MERGED sketches (est_a + est_b − est_union,
    union via hll_union — no rescan of either input), checked against
    the exact intersection. A = users who clicked, B = users who
    purchased; the overlap is a large fraction of the union, the
    regime where inclusion-exclusion is trustworthy. Oracle output is
    the deterministic (exact sizes, certificate flag) tuple; the
    estimates themselves are implementation-defined and dropped."""
    from .functions.sketches import hll_intersect_estimate
    from .operators.scalars import broadcast_attach

    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    est = hll_intersect_estimate(a, b, "user_id", lgk=14)
    exact = broadcast_attach(
        a.agg(F.count_distinct("user_id").alias("exact_a")),
        b.agg(F.count_distinct("user_id").alias("exact_b")),
    )
    exact = broadcast_attach(
        exact,
        a.select("user_id")
        .intersect(b.select("user_id"))
        .agg(F.count("*").cast("bigint").alias("exact_intersect")),
    )
    return broadcast_attach(est, exact).select(
        "exact_a",
        "exact_b",
        "exact_intersect",
        (
            F.abs(F.col("est_intersect") - F.col("exact_intersect"))
            <= 0.05 * F.col("exact_intersect")
        ).alias("within_tol"),
    )



_reg(
    "a_hll_intersect_cert",
    _hll_intersect_entry,
    "SELECT (SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type = 'click')::BIGINT AS exact_a, "
    "(SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type = 'purchase')::BIGINT AS exact_b, "
    "(SELECT count(*) FROM (SELECT DISTINCT user_id FROM events "
    "WHERE event_type = 'click' INTERSECT SELECT DISTINCT user_id "
    "FROM events WHERE event_type = 'purchase'))::BIGINT "
    "AS exact_intersect, "
    "true AS within_tol",
    "HLL set algebra: |A∩B| by inclusion-exclusion over MERGED "
    "sketches (hll_union, no input rescan) with an exactness "
    "certificate — answers cross-source overlap questions from "
    "persisted per-source sketches alone",
)

_sql(
    "a_maxby_minby",
    "select event_type, "
    "max_by(user_id, event_id) as last_user, "
    "min_by(user_id, event_id) as first_user, "
    "any_value(event_type) as sample_type "
    "from events group by event_type order by event_type",
    "SELECT event_type, "
    "max_by(user_id, event_id) AS last_user, "
    "min_by(user_id, event_id) AS first_user, "
    "any_value(event_type) AS sample_type "
    "FROM events GROUP BY event_type ORDER BY event_type",
    "argmax/argmin aggregates keyed on the unique event_id (single-pass "
    "substitutes for self-join-on-max); any_value is deterministic here "
    "because it equals the group key",
)



# --------------------------------------------------------------------------
# analytics patterns: grouping-id, per-group top-k, gap-fill, PII scrub
# --------------------------------------------------------------------------

_sql(
    "a_grouping_fn",
    "select l_returnflag, l_linestatus, "
    "grouping(l_returnflag) as g_rf, grouping(l_linestatus) as g_ls, "
    "sum(l_quantity) as sum_qty "
    "from lineitem group by rollup(l_returnflag, l_linestatus)",
    "SELECT l_returnflag, l_linestatus, "
    "GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls, "
    "sum(l_quantity) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
    "GROUPING() disambiguates rollup-generated NULLs from data NULLs "
    "(A11 extension; without it subtotal rows are unidentifiable)",
)



_sql(
    "a_percentile_within",
    "select l_returnflag, "
    "percentile_cont(0.25) within group (order by l_quantity) as q1, "
    "percentile_cont(0.75) within group (order by l_quantity) as q3, "
    "percentile_disc(0.5) within group (order by l_quantity) as med_disc "
    "from lineitem group by l_returnflag",
    None,  # identical ordered-set aggregate syntax runs on DuckDB
    "ANSI ordered-set aggregates (percentile_cont interpolates, "
    "percentile_disc picks an actual row value) — exact but "
    "sort-per-group; at 100 TB prefer approx_percentile sketches "
    "(a_approx_agg) unless exactness is contractual",
)


_sql(
    "a_benford_digits",
    # Benford first-digit audit — the classic tamper/synthetic-data
    # screen: natural multi-scale magnitudes follow log10(1+1/d);
    # uniform or fabricated values don't. First digit extracted
    # integer-exactly (floor + string head, no float log), expected
    # share as an exact-literal CASE so the comparison is
    # rounding-free; one tiny 9-row aggregate.
    "select digit, cast(count(*) as bigint) as n, "
    "round(count(*) / cast((select count(*) from events where value >= 1)"
    " as double), 4) as share, "
    "cast(case digit when '1' then 0.3010 when '2' then 0.1761 "
    "when '3' then 0.1249 when '4' then 0.0969 when '5' then 0.0792 "
    "when '6' then 0.0669 when '7' then 0.0580 when '8' then 0.0512 "
    "else 0.0458 end as double) as expected_share "
    "from (select substring(cast(cast(floor(value) as bigint) as string),"
    " 1, 1) as digit from events where value >= 1) t "
    "group by digit order by digit",
    "SELECT digit, CAST(count(*) AS BIGINT) AS n, "
    "round(count(*) / CAST((SELECT count(*) FROM events WHERE value >= 1)"
    " AS DOUBLE), 4) AS share, "
    "CAST(CASE digit WHEN '1' THEN 0.3010 WHEN '2' THEN 0.1761 "
    "WHEN '3' THEN 0.1249 WHEN '4' THEN 0.0969 WHEN '5' THEN 0.0792 "
    "WHEN '6' THEN 0.0669 WHEN '7' THEN 0.0580 WHEN '8' THEN 0.0512 "
    "ELSE 0.0458 END AS DOUBLE) AS expected_share "
    "FROM (SELECT substring(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR),"
    " 1, 1) AS digit FROM events WHERE value >= 1) t "
    "GROUP BY digit ORDER BY digit",
    "Benford first-digit distribution audit (integer-exact digit "
    "extraction; tamper/synthetic-data screen)",
)



_sql(
    "a_bool_aggs",
    "select l_returnflag, "
    # BIGINT cast: DuckDB's count_if widens to HUGEINT, which pandas
    # materializes as float64 (1041.0 vs Spark's 1041) — same driver
    # value-hash divergence class as tpch_q12's sum(case ...)
    "cast(count_if(l_quantity > 25) as bigint) as n_big, "
    "bool_and(l_quantity > 0) as all_pos, "
    "bool_or(l_discount > 0.09) as any_deep_disc "
    "from lineitem group by l_returnflag",
    None,  # identical SQL runs on DuckDB
    "boolean/conditional aggregates (count_if, bool_and, bool_or) — "
    "single-pass data-quality assertions over a group",
)



def _a_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-quantile certificate: build per-(returnflag,
    linestatus) l_quantity histogram partials (the persistable
    pre-aggregate), merge across linestatus segments, estimate
    p50/p90, and set within_tol iff the estimate is within 2 bin
    widths of the exact interpolated percentile. The whole estimate
    path is integer arithmetic on fixed bin edges, so the oracle
    replays it EXACTLY (bin counts, crossing bin, right edge) — unlike
    the HLL certificate, the estimate itself hash-matches."""
    from .functions.sketches import hist_partials, hist_quantile_rollup

    li = engine_for(spark, sf_dir).spark.table("lineitem")
    parts = hist_partials(
        li, ["l_returnflag"], "l_linestatus", "l_quantity", 0.0, 51.0, 50
    )
    est = hist_quantile_rollup(
        parts, ["l_returnflag"], [0.5, 0.9], 0.0, 51.0, 50
    )
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("ex50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("ex90"),
    )
    width = 51.0 / 50
    joined = est.join(exact, "l_returnflag").select(
        "l_returnflag",
        "q",
        "est_q",
        F.when(F.col("q") == 0.5, F.col("ex50"))
        .otherwise(F.col("ex90"))
        .alias("exact_q"),
    )
    return joined.withColumn(
        "within_tol",
        F.abs(F.col("est_q") - F.col("exact_q")) <= F.lit(2 * width),
    )



_reg(
    "a_hist_quantile_rollup",
    _a_hist_quantile,
    r"WITH p AS (SELECT l_returnflag, l_linestatus, "
    r"least(49, greatest(0, cast(floor((l_quantity - 0.0) / 1.02) AS INT))) "
    r"AS bin, cast(count(*) AS BIGINT) AS n FROM lineitem "
    r"GROUP BY l_returnflag, l_linestatus, bin), "
    r"m AS (SELECT l_returnflag, bin, cast(sum(n) AS BIGINT) AS n FROM p "
    r"GROUP BY l_returnflag, bin), "
    r"c AS (SELECT l_returnflag, bin, "
    r"sum(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum, "
    r"sum(n) OVER (PARTITION BY l_returnflag) AS tot FROM m), "
    r"qs AS (SELECT unnest([0.5, 0.9]) AS q), "
    r"hit AS (SELECT l_returnflag, q, min(bin) AS bin FROM c CROSS JOIN qs "
    r"WHERE cum >= q * tot GROUP BY l_returnflag, q), "
    r"est AS (SELECT l_returnflag, q, "
    r"round(0.0 + (bin + 1) * 1.02, 4) AS est_q FROM hit), "
    r"ex AS (SELECT l_returnflag, "
    r"round(quantile_cont(l_quantity, 0.5), 4) AS ex50, "
    r"round(quantile_cont(l_quantity, 0.9), 4) AS ex90 FROM lineitem "
    r"GROUP BY l_returnflag) "
    r"SELECT est.l_returnflag, q, est_q, "
    r"CASE WHEN q = 0.5 THEN ex50 ELSE ex90 END AS exact_q, "
    r"abs(est_q - CASE WHEN q = 0.5 THEN ex50 ELSE ex90 END) <= 2.04 "
    r"AS within_tol "
    r"FROM est JOIN ex ON est.l_returnflag = ex.l_returnflag",
    "mergeable histogram-quantile rollup (per-segment partials -> "
    "merged p50/p90): estimate replayed EXACTLY by the oracle, "
    "tolerance vs exact interpolated percentile certified",
)



def _a_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter certificate: build per-source CMS
    partials over the word stream, merge, probe the exact top-10 words
    (count desc, word tiebreak — deterministic), and certify the
    no-underestimate property. Both the estimate and the property are
    oracle-replayed exactly (md5 bucket hash is engine-portable).

    r14 shape: one (source, word) count pass over the word stream feeds
    BOTH the per-source partials (standard weighted CMS update — md5
    per distinct (source, word), not per occurrence; counters are
    bit-identical) and, summed over sources, the exact counts. The
    occurrence-stream build hashed every word occurrence ×depth
    (~2.2 s of the 2.6 s sf0.1 wall) and tokenized the corpus twice;
    this hashes each of the ~620 distinct (source, word) pairs once and
    the shared exchange is reused across both consumers
    (OPTIMIZATION_r14.md)."""
    from pyspark.sql import Window

    from .functions.sketches import cms_estimate, cms_merge, cms_partials

    # fan_out=False (r15): the corpus pass goes straight into the
    # vocab table's groupBy exchange, which parallelizes downstream;
    # the fan-out exchange measured 1.3-1.6x slower at sf0.1
    # (interleaved A/B)
    docs = _docs(spark, sf_dir, fan_out=False)
    # The vocab-sized (source, word, n) table is NOT materialized: its
    # consumers re-run the corpus tokenize+count, yet an eager cut
    # cost more than it saved — construct+execute CPU of the process
    # tree at sf0.1, local[2], 5 interleaved fresh-JVM pairs: 7.45 s
    # median with the cut, 7.31 s without (no-cut ahead in 4 of 5),
    # same rows.
    base = (
        docs.select(
            "source",
            F.explode(words(F.col("text"))).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").cast("bigint").alias("__n"))
    )
    counters = cms_merge(cms_partials(base, "source", "word", weight_col="__n"))
    exact = base.groupBy("word").agg(
        F.sum("__n").cast("bigint").alias("exact_n")
    )
    w = Window.orderBy(F.col("exact_n").desc(), F.col("word"))
    top = (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .drop("__rn")
    )
    est = cms_estimate(top.select("word"), counters, "word")
    return top.join(est, "word").select(
        "word",
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("no_underestimate"),
    )



_reg(
    "a_cms_heavy_hitters",
    _a_cms_heavy_hitters,
    "WITH "
    + _W_CTE
    + r", wsrc AS (SELECT wds.doc_id, word, source FROM wds "
    r"JOIN documents USING (doc_id)), "
    r"buck AS (SELECT word, j, "
    r"('0x' || substr(md5(word || ':' || j), 1, 8))::BIGINT % 1024 AS idx "
    r"FROM wsrc CROSS JOIN range(4) t(j)), "
    r"counters AS (SELECT j, idx, cast(count(*) AS BIGINT) AS n "
    r"FROM buck GROUP BY j, idx), "
    r"exact AS (SELECT word, cast(count(*) AS BIGINT) AS exact_n "
    r"FROM wsrc GROUP BY word), "
    r"top AS (SELECT word, exact_n FROM ("
    r"SELECT word, exact_n, row_number() OVER ("
    r"ORDER BY exact_n DESC, word) AS rn FROM exact) WHERE rn <= 10), "
    r"probe AS (SELECT word, j, "
    r"('0x' || substr(md5(word || ':' || j), 1, 8))::BIGINT % 1024 AS idx "
    r"FROM top CROSS JOIN range(4) t(j)), "
    r"est AS (SELECT probe.word, cast(min(coalesce(n, 0)) AS BIGINT) "
    r"AS cms_est FROM probe LEFT JOIN counters "
    r"ON probe.j = counters.j AND probe.idx = counters.idx "
    r"GROUP BY probe.word) "
    r"SELECT top.word, exact_n, cms_est, cms_est >= exact_n "
    r"AS no_underestimate FROM top JOIN est ON top.word = est.word",
    "Count-Min heavy hitters (4x1024 md5 counters, per-source "
    "partials merged): exact top-10 probed, estimate AND "
    "no-underestimate property oracle-replayed exactly",
)


_sql(
    "a_partial_rollup_merge",
    # Mergeable-partial certificate for PLAIN aggregates — the
    # incremental-ETL shape at 100 TB: per-partition partials
    # (count/sum/min/max) are computed independently (here: two halves
    # split by event_id parity, standing in for yesterday's persisted
    # rollup + today's new partition) and MERGED (counts and sums add,
    # min/max re-minimize, avg re-derives as merged-sum/merged-count).
    # The oracle aggregates the raw table directly in one pass — a hash
    # match certifies merge algebra == direct computation, the property
    # that lets a continuous rollup never rescan history. Companion to
    # the sketch-partial certificates (a_hll_sketch_rollup,
    # a_hist_quantile_rollup, a_cms_heavy_hitters) for exact aggregates.
    "select event_type, cast(sum(n) as bigint) as n_events, "
    "cast(sum(s) as double) as total_value, "
    "min(mn) as min_value, max(mx) as max_value, "
    "cast(sum(s) as double) / sum(n) as avg_value "
    "from (select event_type, event_id % 2 as half, count(*) as n, "
    "sum(cast(value as decimal(18,2))) as s, "
    "min(value) as mn, max(value) as mx "
    "from events group by event_type, event_id % 2) partials "
    "group by event_type order by event_type",
    "SELECT event_type, count(*)::BIGINT AS n_events, "
    "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value, "
    "min(value) AS min_value, max(value) AS max_value, "
    "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) "
    "AS avg_value "
    "FROM events GROUP BY event_type ORDER BY event_type",
    "mergeable-partial rollup certificate: per-half count/sum/min/max "
    "partials merged == one-pass direct aggregation",
)


_sql(
    "a_mode",
    # MODE aggregate with a deterministic tiebreak (max count, then
    # min value) via ranked counting - engines disagree on native
    # mode() tie behavior, so the portable formulation IS the ranked
    # window; one (group, value) count shuffle + a per-group top-1.
    "select lang, word as mode_word, c as n from ("
    "select lang, word, c, row_number() over ("
    "partition by lang order by c desc, word) as rn from ("
    "select lang, word, count(*) as c from ("
    "select lang, explode(split(trim(lower(text)), '\\\\s+')) as word "
    "from documents) w group by lang, word) counted"
    ") ranked where rn = 1",
    r"SELECT lang, word AS mode_word, c AS n FROM ("
    r"SELECT lang, word, c, row_number() OVER ("
    r"PARTITION BY lang ORDER BY c DESC, word) AS rn FROM ("
    r"SELECT lang, word, count(*) AS c FROM ("
    r"SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) "
    r"AS word FROM documents) w GROUP BY lang, word) counted"
    r") ranked WHERE rn = 1",
    "per-group MODE (most frequent word per language, deterministic "
    "max-count/min-value tiebreak)",
)
