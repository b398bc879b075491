"""Catalog entries: join surface beyond the reference (semi/anti/asof/range/interval/bloom), set-op compat, pivot/unpivot, window frames.

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .operators.joins import (
    asof_join,
    range_join,
    symmetric_difference,
)
from .registry import engine_for

from .registry_common import (  # noqa: F401
    _events,
    _reg,
    _sql,
)


# --------------------------------------------------------------------------
# joins beyond the reference (SURVEY §2.4 J8) + reference-compat setop
# --------------------------------------------------------------------------


def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(clicks, purchases, on="ts", by="user_id").select(
        "event_id", "user_id", "purchase_value"
    )



_reg(
    "j_asof",
    _asof,
    "SELECT l.event_id, l.user_id, r.value AS purchase_value "
    "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l "
    "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events "
    "WHERE event_type = 'purchase') r "
    "ON l.user_id = r.user_id AND l.ts >= r.ts",
    "J8 as-of join (union-window pattern, one shuffle) vs DuckDB ASOF JOIN",
)



_sql(
    "q_recursive_cte",
    "WITH RECURSIVE m(n) AS ("
    " SELECT 1 UNION ALL SELECT n + 1 FROM m WHERE n < 12) "
    "SELECT n, count(o_orderkey) AS n_orders "
    "FROM m LEFT JOIN orders ON month(o_orderdate) = n GROUP BY n",
    None,  # identical SQL runs on DuckDB
    "recursive CTE (iterative expansion joined against a table; "
    "Q3 extension beyond the reference grammar)",
)


_sql(
    "j_semi",
    "select c_custkey, c_name from customer left semi join orders "
    "on c_custkey = o_custkey",
    "SELECT c_custkey, c_name FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "J8 semi join (extension; absent from reference grammar)",
)

_sql(
    "j_anti",
    # anti-join vs HIGH-VALUE orders, not all orders: in the synthetic
    # corpus every customer has at least one order, so the plain form
    # returned 0 rows at sf0.01 — a green row that would also pass for
    # a broken anti-join. This selects ~0.2% of customers at any sf.
    "select c_custkey, c_name from customer left anti join "
    "(select o_custkey from orders where o_totalprice > 300000) big "
    "on c_custkey = o_custkey",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_totalprice > 300000)",
    "J8 anti join (extension; complement of q_exists_correlated)",
)



def _symdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = engine_for(spark, sf_dir)
    a = eng.query("select l_orderkey as k from lineitem where l_quantity > 49")
    b = eng.query("select o_orderkey as k from orders where o_totalprice > 300000")
    return symmetric_difference(a, b)



_reg(
    "u_symdiff",
    _symdiff,
    "SELECT k FROM ((SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 49 "
    "EXCEPT SELECT o_orderkey FROM orders WHERE o_totalprice > 300000) "
    "UNION "
    "(SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 300000 "
    "EXCEPT SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)) t",
    "reference-compat EXCEPT (symmetric difference — the reference oracle's "
    "actual semantics, tests :602-614); engine EXCEPT stays ANSI",
)



def _salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_join

    eng = engine_for(spark, sf_dir)
    li = eng.spark.table("lineitem").select("l_orderkey", "l_quantity")
    orders = eng.spark.table("orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    return salted_join(li, orders, on=["l_orderkey"], buckets=8).select(
        "l_orderkey", "l_quantity", F.round("o_totalprice", 4).alias("o_totalprice")
    )



_reg(
    "j_salted",
    _salted_join,
    "SELECT l_orderkey, l_quantity, round(o_totalprice, 4) AS o_totalprice "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "replicate-and-salt skew join == plain equi-join (hot-key mitigation)",
)


# --------------------------------------------------------------------------
# modern-dialect aggregation surface (GROUP BY ALL, ordered string/array agg)
# --------------------------------------------------------------------------

_sql(
    "p_null_semantics",
    "select l_orderkey, l_linenumber, nullif(l_tax, 0.0) as t, "
    "coalesce(nullif(l_tax, 0.0), -1.0) as t_filled, "
    "(nullif(l_tax, 0.0) is distinct from nullif(l_discount, 0.0)) as dist "
    "from lineitem "
    "order by t nulls first, l_orderkey, l_linenumber limit 100",
    "SELECT l_orderkey, l_linenumber, nullif(l_tax, 0.0) AS t, "
    "coalesce(nullif(l_tax, 0.0), -1.0) AS t_filled, "
    "(nullif(l_tax, 0.0) IS DISTINCT FROM nullif(l_discount, 0.0)) AS dist "
    "FROM lineitem "
    "ORDER BY t NULLS FIRST, l_orderkey, l_linenumber LIMIT 100",
    "NULL semantics: nullif/coalesce, IS DISTINCT FROM (null-safe compare), "
    "NULLS FIRST ordering",
)


_sql(
    "w_time_range",
    "select event_id, user_id, "
    "round(sum(value) over (partition by user_id order by ts "
    "range between interval 1 hour preceding and current row), 4) as rolling_1h "
    "from events",
    "SELECT event_id, user_id, "
    "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts "
    "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4) AS rolling_1h "
    "FROM events",
    "event-time RANGE frame: per-user rolling 1h sum (the batch twin of a "
    "sliding stream window)",
)


_sql(
    "j_hint_broadcast",
    "select /*+ BROADCAST(nation) */ n_name, count(*) as n "
    "from customer join nation on c_nationkey = n_nationkey group by n_name",
    "SELECT n_name, count(*) AS n FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
    "explicit BROADCAST hint (pin the strategy when stats would mislead)",
)



def _union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-independent union: columns align by NAME, so upstream
    schema reordering (common across 100 TB of heterogeneous parquet
    batches) cannot silently mis-zip columns like positional UNION."""
    eng = engine_for(spark, sf_dir)
    a = eng.spark.table("nation").select("n_nationkey", "n_name")
    b = (
        eng.spark.table("nation")
        .filter("n_regionkey = 0")
        .select("n_name", "n_nationkey")  # deliberately reversed order
    )
    return a.unionByName(b)



_reg(
    "u_union_byname",
    _union_byname,
    "SELECT n_nationkey, n_name FROM nation "
    "UNION ALL SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0",
    "unionByName (by-name column alignment; U1-U6 extension — Spark "
    "DataFrame API, no ANSI SQL spelling)",
)



# --------------------------------------------------------------------------
# forward fill + file-metadata lineage
# --------------------------------------------------------------------------

_sql(
    "w_ffill",
    "select event_id, user_id, ts, "
    "last_value(case when event_type <> 'error' then value end) ignore nulls "
    "over (partition by user_id order by ts, event_id "
    "rows between unbounded preceding and current row) as v_ffill "
    "from events",
    "SELECT event_id, user_id, ts, "
    "last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS) "
    "OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill "
    "FROM events",
    "forward fill (last observation carried forward) per user: error "
    "events' values are nulled then filled from the last good reading — "
    "the standard sensor/time-series repair; one shuffle on user_id "
    "(note the engines spell IGNORE NULLS differently)",
)


# --------------------------------------------------------------------------
# round-3c: range-join entry, record linkage, minhash-estimate certificate,
# skew diagnostics
# --------------------------------------------------------------------------


def _j_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side Bloom-prefiltered shuffle join
    (:func:`~dataframe_sql_spark.operators.joins.bloom_prefilter_join`):
    the huge probe side (lineitem) is filtered by a packed-bitset
    literal built from the selective build side's keys (high-value
    orders) BEFORE any exchange — the shuffle moves matches + ~1e-5
    false positives instead of every probe row. The oracle runs the
    PLAIN join: a hash match certifies the filter's no-false-negative
    contract (identical join result), which is the entire correctness
    surface of a Bloom prefilter."""
    from .operators.joins import bloom_prefilter_join

    eng = engine_for(spark, sf_dir)
    li = eng.spark.table("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = (
        eng.spark.table("orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    return (
        bloom_prefilter_join(li, od, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )



_reg(
    "j_bloom_prefilter",
    _j_bloom_prefilter,
    "SELECT o_orderpriority, count(*)::BIGINT AS n_items,"
    " CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"
    " AS DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_totalprice > 400000 "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "map-side Bloom-prefiltered shuffle join (packed-bitset literal "
    "from the selective build side; no false negatives — oracle runs "
    "the plain join)",
)



def _j_range_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join through the bucketed rewrite.

    Incidents are 15-minute windows opened by a deterministic subset of
    error events; the query counts events (and sums their value) inside
    each window. ``range_join(..., bucket_granularity='hour')`` rewrites
    the inequality join as an equi-join on hour buckets (each interval
    explodes onto ≤ 2 buckets) with the residual range predicate
    filtering inside the bucket — no BroadcastNestedLoopJoin, plan-gated
    in test_plan_quality. The DuckDB oracle runs the naive inequality
    join, pinning the rewrite's semantics.
    """
    ev = _events(spark, sf_dir).select("event_id", "ts", "value")
    inc = (
        _events(spark, sf_dir)
        .filter((F.col("event_type") == "error") & (F.col("event_id") % 20 == 0))
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("end_ts"),
        )
    )
    hits = range_join(ev, inc, "ts", "start_ts", "end_ts", bucket_granularity="hour")
    return (
        hits.groupBy("incident_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("incident_id")
    )



_reg(
    "j_range_incidents",
    _j_range_incidents,
    "WITH inc AS (SELECT event_id AS incident_id, ts AS start_ts,"
    " ts + INTERVAL 15 MINUTE AS end_ts FROM events"
    " WHERE event_type = 'error' AND event_id % 20 = 0) "
    "SELECT incident_id, count(*)::BIGINT AS n_events,"
    " CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
    "FROM events e JOIN inc ON e.ts >= inc.start_ts AND e.ts < inc.end_ts "
    "GROUP BY incident_id ORDER BY incident_id",
    "range join (point-in-interval) via the scalable bucketed rewrite; "
    "oracle runs the naive inequality join",
)



def _j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via the bucketed rewrite: which incident
    windows (240 min after every-5th error event) overlap which
    maintenance windows (240 min after every-5th signup event) — the
    %5 sampling + width are deliberate: 60-min windows produced ZERO
    overlaps at sf0.001 (a trivial empty pass the round-9 sf0.001
    sweep flagged); 240 min is the smallest hour-aligned width that is
    non-trivial at every shipped SF (21 rows at sf0.001, 1782 at the
    driver's sf0.01). The DuckDB oracle runs the naive overlap
    inequality join; each interval spans ≤ 5 hour buckets, so the
    bucketed-rewrite explode stays bounded."""
    from .operators.joins import interval_overlap_join

    ev = _events(spark, sf_dir)
    inc = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 5 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 240 MINUTES")).alias("i_end"),
    )
    mnt = ev.filter(
        (F.col("event_type") == "signup") & (F.col("event_id") % 5 == 0)
    ).select(
        F.col("event_id").alias("maint_id"),
        F.col("ts").alias("m_start"),
        (F.col("ts") + F.expr("INTERVAL 240 MINUTES")).alias("m_end"),
    )
    out = interval_overlap_join(
        inc, mnt, "i_start", "i_end", "m_start", "m_end", bucket_granularity="hour"
    )
    return out.select("incident_id", "maint_id").orderBy("incident_id", "maint_id")



_reg(
    "j_interval_overlap",
    _j_interval_overlap,
    "WITH inc AS (SELECT event_id AS incident_id, ts AS i_start,"
    " ts + INTERVAL 240 MINUTE AS i_end FROM events"
    " WHERE event_type = 'error' AND event_id % 5 = 0), "
    "mnt AS (SELECT event_id AS maint_id, ts AS m_start,"
    " ts + INTERVAL 240 MINUTE AS m_end FROM events"
    " WHERE event_type = 'signup' AND event_id % 5 = 0) "
    "SELECT incident_id, maint_id FROM inc JOIN mnt"
    " ON i_start < m_end AND m_start < i_end "
    "ORDER BY incident_id, maint_id",
    "interval-overlap join (the second temporal-join shape) via the "
    "bucketed equi-join rewrite; oracle runs the naive inequality join",
)
