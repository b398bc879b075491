"""Query catalog: one entry per operator from SURVEY.md §2.

Each entry pairs
  - an *engine* query — reference-dialect SQL executed through
    :class:`SparkSqlEngine` (exercising the dialect shim + Catalyst),
    or a DataFrame-API callable for non-SQL operators — with
  - a DuckDB *oracle* — ANSI SQL over the same parquet tables —
and the driver hash-compares the two at sf0.01 (see __spark_entry__.py).

Determinism conventions (so value-hashes match across engines):
  - Non-integral double sums go through DECIMAL(18,2) then back to
    DOUBLE: exact arithmetic in both engines, identical bits out.
    (Integral-valued doubles like l_quantity sum exactly in binary
    floating point already.)
  - Averages are written sum/count with the same decimal trick.
  - Every ORDER BY ... LIMIT carries a unique-key tiebreak.
  - Column names are aliased identically on both sides.
  - Numeric literals in oracle SQL that feed double arithmetic are
    CAST(... AS DOUBLE): DuckDB parses `0.85` as DECIMAL and folds
    `1.0 - 0.85` exactly (→ the double nearest 0.15), while Spark
    subtracts doubles (0.15000000000000002) — one ulp apart, enough
    to flip a value sitting on a rounding boundary (bit us in
    x_pagerank at sf0.1).
  - Iterative trajectories (k-means, PageRank) pin each step: k-means
    rounds centroid coordinates; PageRank keeps ranks on a 6dp grid
    and sums contributions in exact INTEGER space (floor(rank·1e6+.5),
    int64 floor-div by degree) — never a bare double sum, whose
    accumulation order is engine-/partitioning-dependent.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .engine import SparkSqlEngine
from .session import tune_session

__all__ = ["QuerySpec", "CATALOG", "spark_queries", "oracle_sqls", "engine_for"]


@dataclass(frozen=True)
class QuerySpec:
    engine_sql: str | None = None  # reference-dialect SQL via SparkSqlEngine
    oracle: str | None = None  # DuckDB ANSI SQL (None → rows-only check)
    fn: Callable[[SparkSession, str], DataFrame] | None = None  # DataFrame-API impl
    doc: str = ""
    # Largest sf at which the ORACLE is feasible (None = any). Some
    # certificates are quadratic-by-design on the DuckDB side only
    # (complete pair sets, recursive closures) — the Spark side scales;
    # the oracle is the bounded part. tools/check_oracle.py reads this
    # and auto-skips (with the reason printed) instead of relying on a
    # hand-maintained --exclude list for beyond-driver-SF runs.
    oracle_max_sf: float | None = None
    # Why the entry stops at oracle_max_sf — printed verbatim in the
    # gate's SKIP line so the sweep output attributes the bound to the
    # right side. Most envelopes are oracle-side (the default message
    # covers them); a few are ENGINE-side (e.g. a replay certificate
    # whose pinned configuration is corpus-quadratic in the engine
    # pipeline itself) and a generic "oracle infeasible" line would
    # misreport a green sweep as having executed an entry that would
    # hang (r12 advisor note).
    max_sf_reason: str | None = None
    # The scale-safe production path for the bounded semantics — the
    # entry (or mechanism) a 100-TB user runs instead, and the gate
    # that covers it. Required whenever oracle_max_sf is set
    # (tools/envelope_ledger.py renders the table and the test suite
    # asserts completeness + non-staleness).
    scale_path: str | None = None


# --------------------------------------------------------------------------
# per-session view registration
# --------------------------------------------------------------------------

# Keyed on the session object itself (weakly): id() of a collected
# session can be reused by a new one, which would silently return an
# engine bound to a dead JVM. WeakKeyDictionary drops entries when the
# session is garbage-collected.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()
_ENGINES: "weakref.WeakKeyDictionary[SparkSession, SparkSqlEngine]" = (
    weakref.WeakKeyDictionary()
)


def engine_for(spark: SparkSession, sf_dir: str) -> SparkSqlEngine:
    """Engine bound to ``spark`` with the sf_dir tables registered.

    ``spark`` may be ANY session — in particular the driver's vanilla
    one, not the tuned ``session.get_spark()`` — so the runtime-settable
    confs the engine needs (nanosAsLong, UTC, case-insensitivity, AQE)
    are applied here, every call. Round 1 shipped without this and every
    driver query died reading events.parquet (TIMESTAMP_NANOS).
    """
    tune_session(spark)
    eng = _ENGINES.get(spark)
    if eng is None:
        eng = _ENGINES[spark] = SparkSqlEngine(spark)
    if _REGISTERED.get(spark) != sf_dir:
        eng.register_parquet_dir(sf_dir)
        _REGISTERED[spark] = sf_dir
    return eng


# --------------------------------------------------------------------------
# SQL snippet helpers (identical text is valid in both dialects)
# --------------------------------------------------------------------------


def dsum(col: str, alias: str) -> str:
    """Exact double sum via decimal: identical bits in Spark & DuckDB."""
    return f"cast(sum(cast({col} as decimal(18,2))) as double) as {alias}"


def davg(col: str, alias: str) -> str:
    return f"cast(sum(cast({col} as decimal(18,2))) as double) / count({col}) as {alias}"


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

CATALOG: dict[str, QuerySpec] = {}


def _sql(name: str, engine_sql: str, oracle: str | None = None, doc: str = "") -> None:
    CATALOG[name] = QuerySpec(engine_sql=engine_sql, oracle=oracle or engine_sql, doc=doc)


# --- §2.2 projection / filter / scalar expressions ------------------------

_sql(
    "p_select_star",
    "select * from nation",
    doc="P1 select-star passthrough (ref tests :33-40)",
)
_sql(
    "p_project_alias",
    "select l_orderkey, l_linenumber, l_extendedprice as price, "
    "l_extendedprice as price2, l_quantity from lineitem",
    doc="P2/P3 projection, AS alias, multiple aliases of one column (:53-62, :1040-1058)",
)
_sql(
    "p_autonaming",
    "select avg(l_quantity), sum(l_quantity), count(*) from lineitem",
    oracle="SELECT avg(l_quantity) AS _col0, sum(l_quantity) AS _col1, count(*) AS _col2 "
    "FROM lineitem",
    doc="P4 unnamed expressions become _colN by position (:206-213, :262-279)",
)
_sql(
    "p_arith",
    "select l_orderkey, l_linenumber, "
    "l_quantity * l_extendedprice + l_tax / 2 - 1 as m, "
    "1 + 2 * 3 as lit, (l_quantity + 1) * 2 as paren from lineitem",
    doc="P5 arithmetic precedence + parentheses (:97-105, :418-431, :1114-1147)",
)
_sql(
    "p_string_literal",
    "select n_name, 'yes' as flag from nation",
    doc="P6 string literal column (:970-982)",
)
_sql(
    "p_cast",
    "select cast(l_quantity as int64) as q_int, cast(l_orderkey as object) as o_str, "
    "cast(l_linenumber as float64) as ln_f, cast(l_quantity as int16) as q_small, "
    "cast('1995-03-15' as datetime64) as d from lineitem",
    oracle="SELECT CAST(l_quantity AS BIGINT) AS q_int, CAST(l_orderkey AS VARCHAR) AS o_str, "
    "CAST(l_linenumber AS DOUBLE) AS ln_f, CAST(l_quantity AS SMALLINT) AS q_small, "
    "CAST('1995-03-15' AS TIMESTAMP) AS d FROM lineitem",
    doc="P7 pandas type vocabulary in CAST (:65-94, :1062-1111); D4 date literal cast (:985-997)",
)
_sql(
    "p_filter_predicates",
    "select l_orderkey, l_linenumber, l_quantity, l_discount from lineitem "
    "where (l_returnflag = 'R' and l_quantity > 30) "
    "or (l_discount <= 0.02 and l_tax != 0.0 and l_quantity >= 48) "
    "or l_quantity < 2",
    doc="P8-P10 comparison + boolean predicates with parens (:301-332, :1150-1167)",
)
_sql(
    "p_between_in",
    "select o_orderkey, o_totalprice from orders "
    "where o_totalprice between 1000 and 100000 "
    "and o_orderpriority in ('1-URGENT', '2-HIGH') "
    "and o_orderstatus not in ('X', 'Y')",
    doc="P11 BETWEEN (:641-656), P12 IN/NOT IN (:659-705)",
)
_sql(
    "p_case",
    "select l_orderkey, l_linenumber, "
    "case when l_quantity > 30 then 'big' when l_quantity = 30 then 'mid' "
    "else 'small' end as bucket, "
    "case when l_quantity > 30 then l_quantity else l_discount end as colval "
    "from lineitem",
    doc="P13 CASE WHEN first-match-wins, literal + column branches (:708-769, :1022-1037)",
)
_sql(
    "p_distinct",
    "select distinct l_returnflag, l_linestatus from lineitem",
    doc="P14 DISTINCT projection (:108-118)",
)


def _p_mixed_case_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forest_fires-style schema stress with a DuckDB-checkable oracle.

    The reference's test corpus (pandas_sql_functionality_test.py, mixed
    case ``RH``, tables resolved case-insensitively) is mirrored here on
    a fixture derived deterministically from ``customer``, so the
    dialect edge cases get hash attestation, not just pytest.
    """
    eng = engine_for(spark, sf_dir)
    fixture = eng.spark.table("customer").selectExpr(
        "c_custkey as Number",
        "c_name as `Customer Name`",
        "c_acctbal as RH",
        "c_mktsegment as Segment",
    )
    eng.register_temp_table(fixture, "fixture_mixed")
    # lowercase refs to mixed-case columns; case-insensitive table name;
    # double-quoted spaced identifier — all through the shim.
    return eng.query(
        'select number as num, "Customer Name" as cust_name, rh as acct '
        "from FIXTURE_mixed where rh > 1000.0 and segment = 'BUILDING'"
    )


CATALOG["p_mixed_case_schema"] = QuerySpec(
    fn=_p_mixed_case_fn,
    oracle=(
        'WITH fixture_mixed AS (SELECT c_custkey AS "Number", '
        'c_name AS "Customer Name", c_acctbal AS "RH", '
        'c_mktsegment AS "Segment" FROM customer) '
        'SELECT "Number" AS num, "Customer Name" AS cust_name, "RH" AS acct '
        'FROM fixture_mixed WHERE "RH" > 1000.0 AND "Segment" = \'BUILDING\''
    ),
    doc="mixed-case column resolution (ref tests' RH pattern, :53-62) + "
    "case-insensitive table lookup, oracled on a customer-derived fixture",
)


def _p_spaced_columns_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spaced identifiers ('Equip Slots' pattern, ref tests :487-494)
    inside filters and aggregates, on a part-derived fixture."""
    eng = engine_for(spark, sf_dir)
    fixture = eng.spark.table("part").selectExpr(
        "p_partkey as `Part Key`",
        "p_brand as Brand",
        "p_retailprice as `Retail Price`",
        "p_size as `Size Class`",
    )
    eng.register_temp_table(fixture, "fixture_spaced")
    return eng.query(
        'select brand, count(*) as cnt, '
        'cast(sum(cast("Retail Price" as decimal(18,2))) as double) as sum_price, '
        'max("Part Key") as max_key from fixture_spaced '
        'where "Size Class" in (1, 5, 10, 23) group by brand'
    )


CATALOG["p_spaced_columns"] = QuerySpec(
    fn=_p_spaced_columns_fn,
    oracle=(
        'WITH fixture_spaced AS (SELECT p_partkey AS "Part Key", '
        'p_brand AS "Brand", p_retailprice AS "Retail Price", '
        'p_size AS "Size Class" FROM part) '
        'SELECT "Brand" AS brand, count(*) AS cnt, '
        'CAST(sum(CAST("Retail Price" AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, '
        'max("Part Key") AS max_key FROM fixture_spaced '
        'WHERE "Size Class" IN (1, 5, 10, 23) GROUP BY "Brand"'
    ),
    doc="spaced column names in projection/filter/aggregate "
    "(ref tests :487-494 'Equip Slots'), decimal-exact double sum",
)

# --- §2.3 date/time -------------------------------------------------------

_sql(
    "d_timestamp_fn",
    "select o_orderkey, timestamp('1995-03-15', '10:30:00') as ts0 from orders "
    "where o_orderdate > cast('1995-06-01' as datetime64)",
    oracle="SELECT o_orderkey, TIMESTAMP '1995-03-15 10:30:00' AS ts0 FROM orders "
    "WHERE o_orderdate > CAST('1995-06-01' AS TIMESTAMP)",
    doc="D3 timestamp(date,time) builder (:1008,:1014); D4 cast datetime64 (:985-997). "
    "now()/today() (D1/D2) are wall-clock-dependent → covered in tests/, not oracled.",
)

# --- §2.4 joins -----------------------------------------------------------

_sql(
    "j_inner",
    "select o_orderpriority, count(*) as c from lineitem "
    "join orders on l_orderkey = o_orderkey group by o_orderpriority",
    doc="J1 bare join ≡ inner (utils:93-105); qualified/bare ON columns (:131-167)",
)
_sql(
    "j_left",
    "select c_custkey, c_name, o_orderkey from customer "
    "left join (select * from orders where o_totalprice > 150000) big_orders "
    "on c_custkey = o_custkey",
    doc="J2 left outer join, null-extension verified (utils:99-100)",
)
_sql(
    "j_right",
    "select o_orderkey, c_custkey from "
    "(select * from orders where o_totalprice > 150000) big_orders "
    "right outer join customer on c_custkey = o_custkey",
    doc="J3 right outer join (utils:101-102)",
)
_sql(
    "j_full",
    "select c_custkey, s_suppkey from customer "
    "full outer join supplier on c_nationkey = s_nationkey",
    doc="J4 full outer join (utils:97-98)",
)
_sql(
    "j_cross",
    "select r_name, n_name from region cross join nation",
    doc="J5 explicit CROSS JOIN (:170-186)",
)
_sql(
    "j_comma_implicit",
    "select r_name, n_name from region, nation where r_regionkey = n_regionkey",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation "
    "WHERE r_regionkey = n_regionkey",
    doc="J6 implicit comma-FROM cross join (:434-453); shim rewrites to CROSS JOIN",
)
_sql(
    "j_self_alias",
    "select t1.n_name as n1, t2.n_name as n2 from nation t1, nation t2 "
    "where t1.n_regionkey = t2.n_regionkey and t1.n_nationkey < t2.n_nationkey",
    oracle="SELECT t1.n_name AS n1, t2.n_name AS n2 FROM nation t1 CROSS JOIN nation t2 "
    "WHERE t1.n_regionkey = t2.n_regionkey AND t1.n_nationkey < t2.n_nationkey",
    doc="J7 self cross join with table aliases — xfail in reference (:456-484), native here",
)

# --- §2.5 aggregation -----------------------------------------------------

_sql(
    "a_global",
    "select min(l_quantity) as min_q, max(l_quantity) as max_q, "
    "sum(l_quantity) as sum_q, count(l_quantity) as cnt_q, count(*) as cnt, "
    f"{dsum('l_extendedprice', 'sum_price')}, {davg('l_discount', 'avg_disc')} "
    "from lineitem",
    doc="A1-A6 global aggregates, several in one SELECT (:201-279, :1170-1193)",
)
_sql(
    "a_groupby_bare",
    "select l_returnflag, l_linestatus from lineitem "
    "group by l_returnflag, l_linestatus",
    doc="A7 bare GROUP BY acts as DISTINCT (:189-198)",
)
_sql(
    "a_groupby_having",
    "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
    f"{dsum('l_extendedprice', 'sum_price')}, count(*) as cnt "
    "from lineitem group by l_returnflag, l_linestatus "
    "having sum(l_quantity) > 100",
    doc="A8 GROUP BY + aggregates (:282-298); A9 HAVING (:401-415)",
)
_sql(
    "a_having_no_groupby",
    "select sum(l_quantity) as s from lineitem having sum(l_quantity) > 0",
    doc="A10 HAVING without GROUP BY — xfail in reference (:361-398), native in Spark",
)
_sql(
    "a_count_distinct",
    "select count(distinct l_orderkey) as d_orders, "
    "count(distinct l_returnflag) as d_flags from lineitem",
    doc="A11 distinct aggregates (extension beyond reference)",
)
_sql(
    "a_rollup",
    "select l_returnflag, l_linestatus, sum(l_quantity) as sq from lineitem "
    "group by rollup(l_returnflag, l_linestatus)",
    doc="A11 ROLLUP (extension)",
)
_sql(
    "a_cube",
    "select l_returnflag, l_linestatus, count(*) as c from lineitem "
    "group by cube(l_returnflag, l_linestatus)",
    doc="A11 CUBE (extension)",
)
_sql(
    "a_grouping_sets",
    "select l_returnflag, l_linestatus, sum(l_quantity) as sq from lineitem "
    "group by grouping sets ((l_returnflag), (l_linestatus))",
    doc="A11 GROUPING SETS (extension)",
)

# --- §2.6 window functions ------------------------------------------------

# W1-W3: global (un-partitioned) rank. The naive plan ranks the whole
# table in one task; these entries run operators/rank.py instead (same
# DuckDB oracles, no single-partition stage, gated in
# test_plan_quality.py).


def _w_rank_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rank import global_rank

    # project BEFORE the rank: its boundary sample hashes whole rows,
    # and ranks depend on the order columns only
    li = engine_for(spark, sf_dir).spark.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return global_rank(li, [("l_quantity", False)], out_col="rnk").select(
        "l_orderkey", "l_linenumber", "l_quantity", "rnk"
    )


def _w_rank_multi_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rank import global_rank

    li = engine_for(spark, sf_dir).spark.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    return global_rank(
        li,
        [("l_quantity", False), ("l_extendedprice", True), ("l_orderkey", True)],
        out_col="rnk",
    ).select("l_orderkey", "l_linenumber", "rnk")


def _w_dense_rank_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rank import global_rank

    li = engine_for(spark, sf_dir).spark.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return global_rank(li, [("l_quantity", False)], dense=True, out_col="drnk").select(
        "l_orderkey", "l_linenumber", "drnk"
    )


CATALOG["w_rank"] = QuerySpec(
    fn=_w_rank_fn,
    oracle="select l_orderkey, l_linenumber, l_quantity, "
    "rank() over (order by l_quantity desc) as rnk from lineitem",
    doc="W1 rank over order by (:772-786) — xfail in reference; bucketed "
    "here (no single-partition window)",
)
CATALOG["w_rank_multi"] = QuerySpec(
    fn=_w_rank_multi_fn,
    oracle="select l_orderkey, l_linenumber, "
    "rank() over (order by l_quantity desc, l_extendedprice asc, l_orderkey) as rnk "
    "from lineitem",
    doc="W2 multi-key ordered rank (:789-825), bucketed global rank",
)
CATALOG["w_dense_rank"] = QuerySpec(
    fn=_w_dense_rank_fn,
    oracle="select l_orderkey, l_linenumber, "
    "dense_rank() over (order by l_quantity desc) as drnk from lineitem",
    doc="W3 dense_rank (:828-863), bucketed global rank",
)
_sql(
    "w_rank_partition",
    "select l_orderkey, l_linenumber, l_returnflag, "
    "rank() over (partition by l_returnflag order by l_quantity desc) as rnk, "
    "dense_rank() over (partition by l_returnflag order by l_quantity desc) as drnk "
    "from lineitem",
    doc="W4/W5 partitioned (dense_)rank (:866-967)",
)
# (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata;
# the full 5-key order below is — required for a deterministic frame
_W_ORD = "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax"
_sql(
    "w_frames",
    "select l_orderkey, l_linenumber, "
    f"sum(l_quantity) over (partition by l_orderkey order by {_W_ORD} "
    "rows between unbounded preceding and current row) as running_qty "
    "from lineitem",
    doc="W6 frame specs (extension; absent from reference)",
)
_sql(
    "w_lag_lead",
    "select l_orderkey, l_linenumber, "
    f"lag(l_quantity) over (partition by l_orderkey order by {_W_ORD}) as prev_q, "
    f"lead(l_quantity) over (partition by l_orderkey order by {_W_ORD}) as next_q, "
    f"row_number() over (partition by l_orderkey order by {_W_ORD}) as rn "
    "from lineitem",
    doc="W6 lag/lead/row_number (extension)",
)
_sql(
    "w_analytics",
    "select l_orderkey, l_linenumber, "
    f"ntile(4) over (partition by l_returnflag order by {_W_ORD}, l_orderkey) as quartile, "
    f"round(percent_rank() over (partition by l_returnflag order by {_W_ORD}, l_orderkey), 8) as pr, "
    f"round(cume_dist() over (partition by l_returnflag order by {_W_ORD}, l_orderkey), 8) as cd, "
    f"first_value(l_quantity) over (partition by l_orderkey order by {_W_ORD}) as first_q, "
    f"last_value(l_quantity) over (partition by l_orderkey order by {_W_ORD} "
    "rows between unbounded preceding and unbounded following) as last_q "
    "from lineitem",
    doc="W6 analytic functions: ntile / percent_rank / cume_dist / "
    "first_value / last_value with explicit full frame (extension)",
)

# --- §2.7 sort / limit ----------------------------------------------------

_sql(
    "o_orderby_limit",
    "select l_orderkey, l_linenumber, l_extendedprice from lineitem "
    "order by l_extendedprice desc, l_orderkey asc, l_linenumber limit 10",
    doc="O1-O3 multi-key ORDER BY + LIMIT top-k (:335-358, :537-540); "
    "unique-key tiebreak keeps the result set deterministic",
)
_sql(
    "o_limit_offset",
    "select o_orderkey, o_totalprice from orders "
    "order by o_totalprice desc, o_orderkey limit 20 offset 10",
    doc="O4 LIMIT/OFFSET (grammar sql_select_query.py:78)",
)
_sql(
    "o_orderby_ordinal",
    "select o_orderpriority, count(*) as c from orders "
    "group by o_orderpriority order by 2 desc, 1",
    doc="O5 positional ORDER BY (grammar :76-77)",
)

# --- §2.8 set operations --------------------------------------------------

_SET_LEFT = "select l_orderkey as k from lineitem where l_quantity > 49"
_SET_RIGHT = "select o_orderkey as k from orders where o_totalprice > 300000"
_sql(
    "u_union",
    f"{_SET_LEFT} union {_SET_RIGHT}",
    doc="U1 UNION dedups (:529-548)",
)
_sql(
    "u_union_all",
    f"{_SET_LEFT} union all {_SET_RIGHT}",
    doc="U2 UNION ALL keeps duplicates (:551-566)",
)
_sql(
    "u_intersect",
    f"{_SET_LEFT} intersect {_SET_RIGHT}",
    doc="U3 INTERSECT DISTINCT (:569-587)",
)
_sql(
    "u_except",
    f"{_SET_LEFT} except {_SET_RIGHT}",
    doc="U4 EXCEPT — ANSI left-minus-right; the reference's own oracle computes "
    "symmetric difference (:602-614), a documented divergence (SURVEY §2.8 note)",
)
_sql(
    "u_intersect_all",
    f"{_SET_LEFT} intersect all {_SET_RIGHT}",
    doc="U6 INTERSECT ALL (grammar :79-80)",
)
_sql(
    "u_except_all",
    f"{_SET_LEFT} except all {_SET_RIGHT}",
    doc="U5 EXCEPT ALL, ANSI semantics (:617-638 divergence documented)",
)

# --- §2.9 subqueries / composition ---------------------------------------

_sql(
    "q_subquery_nested",
    "select k, cnt from (select l_orderkey as k, count(*) as cnt from "
    "(select * from lineitem where l_quantity > 20) big group by l_orderkey) g "
    "where cnt > 3",
    doc="Q1/Q2 derived tables, 2 levels (:121-128, :497-508)",
)
_sql(
    "q_cte",
    "with big as (select * from orders where o_totalprice > 200000) "
    "select o_orderpriority, count(*) as c from big group by o_orderpriority",
    doc="Q3 CTE (extension; absent from reference grammar)",
)
_sql(
    "q_scalar_subquery",
    # price > 1.8·avg(price), stated in exact integer cents: the naive
    # `> 1.8 * (select avg(...))` form returned 0 rows at sf>=0.01
    # (trivially-green attestation) and a double avg threshold is the
    # cross-engine accumulation-order trap x_pagerank documented. Cents
    # via round(x*100) are engine-identical (one IEEE multiply), and
    # price_cents·10·n > 18·sum_cents is pure int64 on both engines.
    "select o_orderkey, o_totalprice from orders "
    "where cast(round(o_totalprice * 100) as bigint) "
    "* (select count(*) * 10 from orders) "
    "> (select sum(cast(round(o_totalprice * 100) as bigint)) * 18 "
    "from orders)",
    doc="Q3 scalar subquery (extension; selects ~1% of orders at any sf)",
)
_sql(
    "q_in_subquery",
    "select c_custkey from customer where c_custkey in "
    "(select o_custkey from orders where o_totalprice > 300000)",
    doc="Q3 IN-subquery (extension)",
)
_sql(
    "q_exists_correlated",
    "select c_custkey from customer where exists "
    "(select 1 from orders where o_custkey = c_custkey and o_totalprice > 300000)",
    doc="Q3 correlated EXISTS (extension); Catalyst decorrelates to a semi-join",
)

# --- headline TPC-H-shaped queries (multi-operator integration) -----------

_sql(
    "tpch_q1_pricing",
    "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
    f"{dsum('l_extendedprice', 'sum_base_price')}, "
    "count(*) as count_order from lineitem "
    "where l_shipdate <= cast('1998-09-02' as datetime64) "
    "group by l_returnflag, l_linestatus "
    "order by l_returnflag, l_linestatus",
    oracle="SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
    "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price, "
    "count(*) AS count_order FROM lineitem "
    "WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP) "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    doc="TPC-H Q1 shape: scan-filter-agg-sort integration",
)
_sql(
    "tpch_q3_shipping",
    "select l_orderkey, "
    "cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) "
    "as revenue, o_orderdate "
    "from customer join orders on c_custkey = o_custkey "
    "join lineitem on l_orderkey = o_orderkey "
    "where c_mktsegment = 'BUILDING' "
    "and o_orderdate < cast('1998-03-15' as datetime64) "
    "and l_shipdate > cast('1998-03-15' as datetime64) "
    "group by l_orderkey, o_orderdate "
    "order by revenue desc, l_orderkey limit 10",
    oracle="SELECT l_orderkey, "
    "cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) "
    "AS revenue, o_orderdate "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < CAST('1998-03-15' AS TIMESTAMP) "
    "AND l_shipdate > CAST('1998-03-15' AS TIMESTAMP) "
    "GROUP BY l_orderkey, o_orderdate "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    doc="TPC-H Q3 shape: selective 3-way join + top-k revenue "
    "(TakeOrderedAndProject over grouped join)",
)
_sql(
    "tpch_q10_returns",
    "select c_custkey, c_name, "
    "cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) "
    "as revenue, n_name "
    "from customer join orders on c_custkey = o_custkey "
    "join lineitem on l_orderkey = o_orderkey "
    "join nation on c_nationkey = n_nationkey "
    "where l_returnflag = 'R' "
    "group by c_custkey, c_name, n_name "
    "order by revenue desc, c_custkey limit 20",
    oracle="SELECT c_custkey, c_name, "
    "cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) "
    "AS revenue, n_name "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
    doc="TPC-H Q10 shape: returned-item ranking, fact join + broadcast dims",
)
_sql(
    "tpch_q18_big_orders",
    "select c_custkey, o_orderkey, o_totalprice, sum(l_quantity) as total_qty "
    "from customer join orders on c_custkey = o_custkey "
    "join lineitem on o_orderkey = l_orderkey "
    "where o_orderkey in (select l_orderkey from lineitem "
    "group by l_orderkey having sum(l_quantity) > 150) "
    "group by c_custkey, o_orderkey, o_totalprice "
    "order by o_totalprice desc, o_orderkey limit 20",
    oracle="SELECT c_custkey, o_orderkey, o_totalprice, sum(l_quantity) AS total_qty "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
    "GROUP BY l_orderkey HAVING sum(l_quantity) > 150) "
    "GROUP BY c_custkey, o_orderkey, o_totalprice "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    doc="TPC-H Q18 shape: IN-subquery with HAVING feeding a 3-way join "
    "(semi-join pushdown + top-k)",
)
_sql(
    "tpch_q5_revenue",
    "select n_name, "
    "cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) "
    "as revenue "
    "from customer join orders on c_custkey = o_custkey "
    "join lineitem on l_orderkey = o_orderkey "
    "join nation on c_nationkey = n_nationkey "
    "group by n_name",
    doc="TPC-H Q5 shape: 4-way join + grouped revenue; nation/region broadcast at scale",
)


# --------------------------------------------------------------------------
# exports for __spark_entry__.py
# --------------------------------------------------------------------------


def _make_runner(spec: QuerySpec) -> Callable[[SparkSession, str], DataFrame]:
    if spec.fn is not None:
        return spec.fn

    def run(spark: SparkSession, sf_dir: str, _sql: str = spec.engine_sql) -> DataFrame:
        return engine_for(spark, sf_dir).query(_sql)

    return run


# Export order for queries()/oracle_sql(). The driver evaluates entries
# in dict order and scores only the first 50, so the head of PRIORITY is
# the scored window; every CATALOG entry not listed follows in
# definition order and still ships. Per-entry driver-green history is
# the attestation ledger in COVERAGE.md (tools/attestation_ledger.py).

# Anchors: driver-green r2-r8 continuously; every window keeps them so
# it always contains known-good entries spanning TPC-H, dedup,
# similarity, windows, and curation.
_ANCHORS: list[str] = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_revenue",
    "dd_exact",
    "dd_minhash_verified",
    "sim_knn_join",
    "pipe_curation",
    "w_rank",
]

# Rotate the next window in by replacing this literal with the output of
#   python tools/attestation_ledger.py --propose-window
# (the anchors, the 42 stalest attestations, then the rest in the current
# order). tests/test_driver_contract.py pins the window.
PRIORITY: list[str] = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_revenue",
    "dd_exact",
    "dd_minhash_verified",
    "sim_knn_join",
    "pipe_curation",
    "w_rank",
    "a_cube",
    "a_grouping_sets",
    "w_rank_multi",
    "w_dense_rank",
    "w_frames",
    "w_lag_lead",
    "w_analytics",
    "o_limit_offset",
    "o_orderby_ordinal",
    "u_union_all",
    "u_intersect",
    "u_except",
    "u_intersect_all",
    "u_except_all",
    "q_subquery_nested",
    "q_scalar_subquery",
    "q_in_subquery",
    "q_exists_correlated",
    "p_mixed_case_schema",
    "p_spaced_columns",
    "dd_substring_remove",
    "st_tumbling",
    "st_sliding",
    "st_session",
    "st_static_join",
    "st_rollup_multires",
    "st_stream_join",
    "st_dedup",
    "ts_gapfill",
    "ts_anomaly_mad",
    "ts_anomaly",
    "ts_ohlc_resample",
    "ts_ewma",
    "j_asof",
    "q_recursive_cte",
    "j_semi",
    "j_anti",
    "u_symdiff",
    "j_salted",
    "p_null_semantics",
    "w_time_range",
    "j_hint_broadcast",
    "j_bloom_prefilter",
    "j_interval_overlap",
    "a_hll_sketch_rollup",
    "a_hll_intersect_cert",
    "a_cms_heavy_hitters",
    "x_cohort_retention",
    "x_temperature_mix",
    "x_record_linkage",
    "g_triangles",
    "mm_audio_chunks",
    "mm_video_frames",
    "pipe_dedup_funnel",
    "tpch_q7_volume",
    "tpch_q9_profit",
    "tpch_q13_custdist",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty",
    "tpch_q19_disjunctive",
    "tpch_q21_waiting",
    "tpch_q20_share_suppliers",
    "p_project_alias",
    "p_autonaming",
    "p_arith",
    "p_string_literal",
    "p_cast",
    "p_filter_predicates",
    "p_between_in",
    "p_distinct",
    "d_timestamp_fn",
    "j_inner",
    "j_left",
    "j_right",
    "j_full",
    "j_cross",
    "j_comma_implicit",
    "j_self_alias",
    "a_global",
    "a_groupby_bare",
    "a_groupby_having",
    "a_having_no_groupby",
    "a_count_distinct",
    "a_rollup",
    "o_orderby_limit",
    "p_select_star",
    "p_case",
    "w_rank_partition",
    "u_union",
    "q_cte",
    "tpch_q6_forecast",
    "tpch_q12_priority_counts",
    "tpch_q14_promo",
    "tpch_q10_returns",
    "x_sessionize",
    "x_funnel",
    "mm_blob_meta",
    "tpch_q2_min_supplier",
    "tpch_q4_priority",
    "tpch_q8_mktshare",
    "tpch_q11_value_parts",
    "tpch_q16_supplier_cnt",
    "tpch_q22_idle_custs",
    "tpch_q18_big_orders",
    "dd_exact_normalized",
    "dd_fingerprint",
    "dd_ngram_jaccard",
    "dd_clusters_verified",
    "dd_embedding",
    "dd_substring_spans",
    "dd_decontaminate",
    "dd_prefix_pairs",
    "dd_bloom_cert",
    "dd_minhash_est_cert",
    "dd_fuzzy_decontaminate",
    "sim_topk",
    "sim_knn_join_probed",
    "sim_ann_ivf",
    "sim_ann_ivf_probed",
    "sim_ann_recall_cert",
    "txt_stats",
    "txt_quality",
    "txt_pii_scrub",
    "txt_bpe_roundtrip",
    "txt_chunks",
    "txt_word_rarity",
    "x_pagerank",
    "x_profile",
    "x_snapshot_diff",
    "dd_minhash_banded_verified",
    "dd_simhash_probed_verified",
    "dd_incremental_verified",
    "dd_url_dedup",
    "dd_lines",
    "dd_containment",
    "dd_overlap_matrix",
    "dd_incremental",
    "dd_minhash",
    "dd_minhash_pairs",
    "dd_clusters",
    "dd_simhash",
    "dd_simhash_probed",
    "dd_semantic",
    "sim_ann_pq_verified",
    "sim_ann_ivf_2level_probed",
    "sim_ann_lsh",
    "sim_ann_pq",
    "sim_ann_ivfpq",
    "sim_ann_ivfpq_verified",
    "emb_quantize_int8",
    "emb_standardize",
    "emb_kmeans",
    "txt_tfidf",
    "txt_bm25",
    "txt_pmi",
    "txt_lm_score",
    "txt_inverted_index",
    "txt_repetition",
    "txt_char_entropy",
    "txt_len_histogram",
    "txt_langid",
    "txt_langid_golden",
    "txt_winnow_fingerprint",
    "txt_winnow_maponly",
    "txt_bpe_tokens",
    "mm_decode_stub",
    "x_dsir_weights",
    "f_array_setops",
    "a_percentile",
    "a_salted_agg",
    "a_stats_agg",
    "a_groupby_all",
    "a_listagg",
    "a_approx_agg",
    "a_maxby_minby",
    "a_grouping_fn",
    "a_percentile_within",
    "a_benford_digits",
    "a_bool_aggs",
    "a_hist_quantile_rollup",
    "a_partial_rollup_merge",
    "a_mode",
    "x_pivot",
    "x_unpivot",
    "x_pivot_dynamic",
    "x_grouped_agg_udaf",
    "x_grouped_map",
    "x_hash_split",
    "x_hash_sample",
    "x_stratified_sample",
    "x_weighted_sample",
    "x_bottomk_sample",
    "x_global_shuffle",
    "x_pack_sequences",
    "x_topk_per_group",
    "x_topk_with_ties",
    "x_file_metadata",
    "x_scd2_intervals",
    "x_dataset_mix",
    "x_quality_topq",
    "x_quality_buckets",
    "x_curriculum_order",
    "x_split_decontaminate",
    "x_score_calibration",
    "x_source_cap",
    "x_sorted_neighborhood",
    "x_negative_pairs",
    "x_winsorize",
    "x_skew_report",
]


def _ordered_names() -> list[str]:
    from . import registry_ext, registry_tpch  # noqa: F401  (extend CATALOG on import)

    missing = [n for n in PRIORITY if n not in CATALOG]
    assert not missing, f"PRIORITY names not in CATALOG: {missing}"
    assert len(set(PRIORITY)) == len(PRIORITY), "PRIORITY repeats a name"
    listed = set(PRIORITY)
    return PRIORITY + [n for n in CATALOG if n not in listed]


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _make_runner(CATALOG[name]) for name in _ordered_names()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: CATALOG[name].oracle
        for name in _ordered_names()
        if CATALOG[name].oracle is not None
    }
