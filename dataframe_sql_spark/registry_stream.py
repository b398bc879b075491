"""Catalog entries: streaming-semantics windows, stream joins, dedup, and time-series smoothing (batch-checkable; readStream paths in tests).

Split from the former single-file registry_ext.py (round 5); entries
register into dataframe_sql_spark.registry.CATALOG on import via the
aggregator dataframe_sql_spark/registry_ext.py. Scale/design notes live
in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .registry import engine_for
from .streaming.pipeline import (
    dimension_enriched_counts,
    purchase_attribution,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

from .registry_common import (  # noqa: F401
    _events,
    _reg,
    _sql,
)


# --------------------------------------------------------------------------
# streaming-semantics windows (batch-checkable; readStream path in tests)
# --------------------------------------------------------------------------


def _tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tumbling_counts(_events(spark, sf_dir), "1 hour")
    return out.select(
        "wstart",
        "event_type",
        "n",
        F.round(F.col("sum_value"), 4).alias("sum_value"),
    )



_reg(
    "st_tumbling",
    _tumbling,
    "SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type, "
    "count(*) AS n, round(sum(value), 4) AS sum_value "
    "FROM events GROUP BY 1, 2",
    "tumbling 1h event-time windows (streaming-identical semantics, batch-checked)",
)


_reg(
    "st_sliding",
    lambda spark, sf_dir: sliding_counts(_events(spark, sf_dir), "1 hour", "30 minutes"),
    "WITH s AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, event_type "
    "FROM events), w AS ("
    "SELECT b AS wstart, event_type FROM s UNION ALL "
    "SELECT b - INTERVAL '30 minutes' AS wstart, event_type FROM s) "
    "SELECT wstart, event_type, count(*) AS n FROM w GROUP BY 1, 2",
    "sliding 1h/30m windows (each event in 2 windows)",
)


_reg(
    "st_session",
    lambda spark, sf_dir: session_counts(_events(spark, sf_dir), "30 minutes"),
    "WITH o AS (SELECT user_id, ts, lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts) AS prev FROM events), "
    "m AS (SELECT user_id, ts, CASE WHEN prev IS NULL "
    "OR ts - prev >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s FROM o), "
    "g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
    "SELECT min(ts) AS session_start, user_id, count(*) AS n_events "
    "FROM g GROUP BY user_id, sid",
    "session windows (30 min gap) — gaps-and-islands oracle",
)



def _st_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = engine_for(spark, sf_dir)
    return dimension_enriched_counts(
        eng.spark.table("events"), eng.spark.table("customer")
    ).orderBy("segment", "event_type")



_reg(
    "st_static_join",
    _st_static_join,
    "SELECT c_mktsegment AS segment, event_type, count(*) AS n, "
    "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM events JOIN customer ON user_id = c_custkey "
    "GROUP BY 1, 2 ORDER BY 1, 2",
    "stream-static dimension enrichment (broadcast dim join + per-"
    "segment aggregate; identical code runs on readStream — batch≡"
    "stream gate in test_streaming)",
)


# --------------------------------------------------------------------------
# streaming dedup
# --------------------------------------------------------------------------

_sql(
    "st_rollup_multires",
    "select date_trunc('hour', ts) as b_hour, date_trunc('day', ts) as b_day, "
    "event_type, count(*) as n, round(sum(value), 4) as sum_value "
    "from events group by grouping sets "
    "((date_trunc('hour', ts), event_type), (date_trunc('day', ts), event_type))",
    "SELECT date_trunc('hour', ts)::TIMESTAMP AS b_hour, "  # DuckDB day-trunc yields DATE
    "date_trunc('day', ts)::TIMESTAMP AS b_day, "
    "event_type, count(*) AS n, round(sum(value), 4) AS sum_value "
    "FROM events GROUP BY GROUPING SETS "
    "((date_trunc('hour', ts), event_type), (date_trunc('day', ts), event_type))",
    "hypertable-style multi-resolution rollup: hourly + daily aggregates in "
    "ONE pass / one shuffle via GROUPING SETS (vs two scans at 100 TB)",
)


_reg(
    "st_stream_join",
    lambda spark, sf_dir: purchase_attribution(_events(spark, sf_dir), "2 hours").select(
        "click_id", "user_id", F.round("purchase_value", 4).alias("purchase_value")
    ),
    "SELECT c.event_id AS click_id, c.user_id, round(p.value, 4) AS purchase_value "
    "FROM events c JOIN events p ON c.event_type = 'click' "
    "AND p.event_type = 'purchase' AND p.user_id = c.user_id "
    "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR",
    "stream-stream interval join (watermark-bounded state in stream mode; "
    "batch path oracle-checked)",
)


_reg(
    "st_dedup",
    lambda spark, sf_dir: _events(spark, sf_dir)
    .dropDuplicates(["event_id"])
    .select("event_id", "user_id", "event_type"),
    "SELECT event_id, user_id, event_type FROM ("
    "SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn "
    "FROM events) t WHERE rn = 1",
    "exactly-once event dedup (streaming: dropDuplicatesWithinWatermark)",
)

_sql(
    "ts_gapfill",
    "with days as (select explode(sequence(cast('2024-01-01' as timestamp), "
    "cast('2024-02-10' as timestamp), interval 1 day)) as day), "
    "counts as (select date_trunc('day', ts) as day, count(*) as n_events "
    "from events group by date_trunc('day', ts)) "
    "select d.day, coalesce(c.n_events, 0) as n_events "
    "from days d left join counts c on d.day = c.day",
    "WITH days AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', "
    "TIMESTAMP '2024-02-10', INTERVAL 1 DAY)) AS day), "
    "counts AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
    "count(*) AS n_events FROM events GROUP BY 1) "
    "SELECT d.day, coalesce(c.n_events, 0) AS n_events "
    "FROM days d LEFT JOIN counts c ON d.day = c.day",
    "time-series gap filling: generated calendar spine LEFT JOIN "
    "aggregated facts, missing buckets -> 0. The spine is tiny so "
    "Catalyst broadcasts it; the fact agg is the only shuffle",
)


_sql(
    "ts_anomaly_mad",
    # Robust (median/MAD) outlier flags — the companion to ts_anomaly's
    # mean/std z-score: median and MAD ignore the outliers themselves,
    # so heavy-tailed value columns don't inflate their own threshold
    # (the 1.4826 factor scales MAD to sigma under normality). Exact
    # interpolated percentiles rounded to 4 decimals are the
    # cross-engine contract (a_percentile convention); the flag
    # comparison then evaluates identical doubles in both engines.
    "with med as (select user_id, "
    "round(percentile(value, 0.5), 4) as m from events group by user_id), "
    "mad as (select e.user_id, "
    "round(percentile(abs(e.value - med.m), 0.5), 4) as d "
    "from events e join med on e.user_id = med.user_id "
    "group by e.user_id) "
    "select e.event_id, e.user_id, e.value, "
    "abs(e.value - med.m) > 3 * 1.4826 * mad.d as is_outlier "
    "from events e join med on e.user_id = med.user_id "
    "join mad on e.user_id = mad.user_id order by e.event_id",
    "WITH med AS (SELECT user_id, "
    "round(quantile_cont(value, 0.5), 4) AS m FROM events GROUP BY user_id), "
    "mad AS (SELECT e.user_id, "
    "round(quantile_cont(abs(e.value - med.m), 0.5), 4) AS d "
    "FROM events e JOIN med ON e.user_id = med.user_id "
    "GROUP BY e.user_id) "
    "SELECT e.event_id, e.user_id, e.value, "
    "abs(e.value - med.m) > 3 * 1.4826 * mad.d AS is_outlier "
    "FROM events e JOIN med ON e.user_id = med.user_id "
    "JOIN mad ON e.user_id = mad.user_id ORDER BY e.event_id",
    "robust per-user outlier flags (median/MAD, 3-sigma-equivalent "
    "threshold) — heavy-tail-safe companion to ts_anomaly",
)


_sql(
    "ts_anomaly",
    # Per-user z-score anomaly flags with EXACT cross-engine bits: the
    # mean/variance come from DECIMAL-exact sums (sum v and sum v²),
    # so mu, sd, and the |v - mu| > 2sd comparison evaluate the same
    # IEEE expression tree in both engines — no rounding, no tolerance.
    # Two shuffles (per-user moments, broadcast-sized stats join back).
    # The streaming twin would keep (n, sv, sv2) as mergeable state.
    "with s as (select user_id, count(*) as n, "
    "cast(sum(cast(value as decimal(18,2))) as double) as sv, "
    "cast(sum(cast(value as decimal(18,2)) * cast(value as decimal(18,2)))"
    " as double) as sv2 from events group by user_id), "
    "m as (select user_id, n, sv / n as mu, "
    "sqrt(greatest((sv2 - sv * sv / n) / (n - 1), 0)) as sd "
    "from s where n >= 2) "
    "select e.event_id, e.user_id, e.value, "
    "abs(e.value - m.mu) > 2 * m.sd as is_anomaly "
    "from events e join m on e.user_id = m.user_id order by e.event_id",
    None,  # identical SQL runs on DuckDB
    "per-user z-score anomaly flags (mean/std from decimal-exact "
    "moment sums — bit-identical across engines, no tolerance)",
)



_sql(
    "ts_ohlc_resample",
    # hypertable-style rollup: downsample the raw event stream to
    # hourly OHLC bars per event type. open/close pick the earliest/
    # latest row with a (ts, event_id) tiebreak so the result is
    # deterministic under concurrent timestamps; one shuffle on
    # (event_type, hour) shared by the windows and the aggregate —
    # the continuous-aggregate shape persisted per segment at scale
    # (st_rollup_multires is the streaming twin).
    "with e as (select event_type, date_trunc('hour', ts) as h, "
    "ts, event_id, value from events), "
    "rn as (select *, "
    "row_number() over (partition by event_type, h "
    "order by ts, event_id) as rno, "
    "row_number() over (partition by event_type, h "
    "order by ts desc, event_id desc) as rnc from e) "
    "select event_type, h, "
    "max(case when rno = 1 then value end) as open, "
    "max(value) as high, min(value) as low, "
    "max(case when rnc = 1 then value end) as close, "
    "cast(count(*) as bigint) as n_events "
    "from rn group by event_type, h",
    None,  # identical ANSI text runs on DuckDB
    "hourly OHLC downsampling (hypertable continuous-aggregate "
    "shape): deterministic open/close via tie-broken row_number, "
    "raw-value doubles so the compare is bit-exact",
)



def _ewma_sql(table: str = "events", round4: bool = True, with_ts: bool = True) -> str:
    """Shared EWMA text for both engines AND the scale-stress harness
    (alpha=1/2, current row + 7 lags = an 8-term bounded window).

    Powers of 1/2 are EXACT doubles, and both engines parse the +
    chain left-associated, so numerator/denominator bits agree without
    any decimal detour; round(.,4) guards the division's last ulp.
    The bounded window keeps it a fixed-width window function — the
    streaming/window-function form of smoothing, not the recursive
    full-history EWMA (which needs a stateful scan and is run through
    applyInPandasWithState at 100 TB).
    """
    w = "over (partition by user_id order by ts, event_id)"
    num = ["value"]
    den = ["1.0"]
    for j in range(1, 8):
        c = 0.5**j
        num.append(f"coalesce(lag(value, {j}) {w}, 0) * {c!r}")
        den.append(f"case when lag(value, {j}) {w} is null then 0 else {c!r} end")
    expr = "(" + " + ".join(num) + ") / (" + " + ".join(den) + ")"
    if round4:
        expr = f"round({expr}, 4)"
    cols = "event_id, user_id, ts, " if with_ts else "event_id, user_id, "
    return f"select {cols}{expr} as ewma from {table}"



_sql(
    "ts_ewma",
    _ewma_sql(),
    None,  # identical SQL runs on DuckDB
    "per-user exponentially-weighted moving average (alpha=1/2, "
    "current row + 7 lags: 8-term bounded window): exact power-of-two "
    "weights, one user_id shuffle",
)
