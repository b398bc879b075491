"""Full TPC-H query-shape coverage (adapted to the driver's testdata schema).

Q1/Q3/Q5/Q10/Q18 live in registry.py; this module adds the remaining
shapes. The testdata omits ``partsupp`` and some TPC-H columns
(``l_commitdate``/``l_receiptdate``/``l_shipmode``/``p_container``/
``c_phone``), so each query keeps its defining *plan shape* —
correlated subqueries, EXISTS/NOT EXISTS pairs, conditional
aggregation, scalar-subquery thresholds, disjunctive pushdown — while
substituting available columns. Reference capability surface:
subqueries/composition per SURVEY.md §2.9 (reference tests
``pandas_sql_functionality_test.py:121-128,497-508``); everything
beyond Q1/Q2 derived tables is declared extension surface.

Determinism across Spark/DuckDB (see registry.py header): non-integral
double sums go through DECIMAL, every ORDER BY...LIMIT carries a
unique-key tiebreak, averages are written sum/count.

Each entry's SQL text is valid in BOTH the engine dialect (the shim
passes ANSI through to Spark SQL untouched) and DuckDB, so the oracle
is the identical string — the strongest cross-engine check.
"""

from __future__ import annotations

from .registry import _sql


def _dsum(expr: str, alias: str, scale: int = 4) -> str:
    return f"cast(sum(cast({expr} as decimal(18,{scale}))) as double) as {alias}"


_REV = "l_extendedprice * (1 - l_discount)"


_sql(
    "tpch_q2_min_supplier",
    "select distinct p_partkey, p_name, s_name, s_acctbal "
    "from part join lineitem on p_partkey = l_partkey "
    "join supplier on s_suppkey = l_suppkey "
    "where p_size = 30 and s_acctbal = "
    "(select min(s2.s_acctbal) from supplier s2 "
    " join lineitem l2 on s2.s_suppkey = l2.l_suppkey "
    " where l2.l_partkey = p_partkey) "
    "order by p_partkey, s_name limit 25",
    doc="TPC-H Q2 shape: correlated MIN scalar subquery over a join "
    "(lineitem stands in for partsupp); Catalyst decorrelates to an "
    "aggregate + join, dims broadcast at scale",
)
_sql(
    "tpch_q4_priority",
    "select o_orderpriority, count(*) as order_count from orders "
    "where o_orderdate >= cast('1995-01-01' as timestamp) "
    "and o_orderdate < cast('1995-07-01' as timestamp) "
    "and exists (select 1 from lineitem "
    " where l_orderkey = o_orderkey and l_shipdate > o_orderdate) "
    "group by o_orderpriority order by o_orderpriority",
    doc="TPC-H Q4 shape: correlated EXISTS -> left-semi join "
    "(ship-after-order stands in for commit<receipt)",
)
_sql(
    "tpch_q6_forecast",
    f"select {_dsum('l_extendedprice * l_discount', 'revenue')} from lineitem "
    "where l_shipdate >= cast('1996-01-01' as timestamp) "
    "and l_shipdate < cast('1997-01-01' as timestamp) "
    "and l_discount between 0.02 and 0.05 and l_quantity < 24",
    doc="TPC-H Q6 shape: single-table selective scan-agg; all three "
    "predicates push to the parquet reader",
)
_sql(
    "tpch_q7_volume",
    "select supp_nation, cust_nation, l_year, revenue from ("
    "select n1.n_name as supp_nation, n2.n_name as cust_nation, "
    "year(l_shipdate) as l_year, "
    f"{_dsum(_REV, 'revenue')} "
    "from supplier join lineitem on s_suppkey = l_suppkey "
    "join orders on o_orderkey = l_orderkey "
    "join customer on c_custkey = o_custkey "
    "join nation n1 on s_nationkey = n1.n_nationkey "
    "join nation n2 on c_nationkey = n2.n_nationkey "
    "where (n1.n_name = 'NATION_3' and n2.n_name = 'NATION_7') "
    "or (n1.n_name = 'NATION_7' and n2.n_name = 'NATION_3') "
    "group by n1.n_name, n2.n_name, year(l_shipdate)) shipping "
    "order by supp_nation, cust_nation, l_year",
    doc="TPC-H Q7 shape: two roles of the same dim (nation n1/n2), "
    "5-way join, year() bucketing",
)
_sql(
    "tpch_q8_mktshare",
    "select o_year, "
    "cast(sum(cast(case when nation = 'NATION_5' then volume else 0 end "
    "as decimal(18,4))) as double) / "
    "cast(sum(cast(volume as decimal(18,4))) as double) as mkt_share "
    "from (select year(o_orderdate) as o_year, "
    f"{_REV} as volume, n2.n_name as nation "
    "from part join lineitem on p_partkey = l_partkey "
    "join supplier on s_suppkey = l_suppkey "
    "join orders on l_orderkey = o_orderkey "
    "join customer on o_custkey = c_custkey "
    "join nation n1 on c_nationkey = n1.n_nationkey "
    "join region on n1.n_regionkey = r_regionkey "
    "join nation n2 on s_nationkey = n2.n_nationkey "
    "where r_name = 'ASIA' and p_type = 'ECONOMY') all_nations "
    "group by o_year order by o_year",
    doc="TPC-H Q8 shape: 7-way snowflake join, conditional-aggregation "
    "ratio (market share) per year",
)
_sql(
    "tpch_q9_profit",
    "select nation, o_year, profit from ("
    "select n_name as nation, year(o_orderdate) as o_year, "
    f"{_dsum(_REV, 'profit')} "
    "from part join lineitem on p_partkey = l_partkey "
    "join supplier on s_suppkey = l_suppkey "
    "join orders on o_orderkey = l_orderkey "
    "join nation on s_nationkey = n_nationkey "
    "where p_name like '%red%' "
    "group by n_name, year(o_orderdate)) profit "
    "order by nation, o_year desc",
    doc="TPC-H Q9 shape: LIKE-filtered part drives a 5-way join "
    "(no partsupp -> profit is revenue), nation x year rollup",
)
_sql(
    "tpch_q11_value_parts",
    "with v as (select l_partkey, "
    "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as value "
    "from lineitem join supplier on s_suppkey = l_suppkey "
    "where s_acctbal > 0 group by l_partkey) "
    "select l_partkey, value from v "
    "where value > (select 1.2 * "
    "cast(sum(cast(value as decimal(18,2))) as double) / count(*) from v) "
    "order by value desc, l_partkey",
    doc="TPC-H Q11 shape: grouped value vs an uncorrelated scalar-subquery "
    "threshold (above 1.2x the mean part value — scale-free, unlike the "
    "original fixed fraction, because the synthetic data is uniform); the "
    "subquery plans as a one-row broadcast, the outer agg shuffles once "
    "on l_partkey",
)
_sql(
    "tpch_q12_priority_counts",
    "select l_linestatus, "
    "cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH') "
    "then 1 else 0 end) as bigint) as high_line_count, "
    "cast(sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH') "
    "then 1 else 0 end) as bigint) as low_line_count "
    "from orders join lineitem on o_orderkey = l_orderkey "
    "where l_shipdate >= cast('1997-01-01' as timestamp) "
    "and l_shipdate < cast('1998-01-01' as timestamp) "
    "group by l_linestatus order by l_linestatus",
    doc="TPC-H Q12 shape: conditional aggregation (CASE-in-SUM pivot) "
    "over a fact-fact join (linestatus stands in for shipmode). The "
    "counters are cast to BIGINT because DuckDB's sum(INTEGER) widens "
    "to HUGEINT, which pandas materializes as float64 (1764.0) while "
    "Spark emits BIGINT (1764) — a value-hash divergence on otherwise "
    "identical results",
)
_sql(
    "tpch_q13_custdist",
    "select c_count, count(*) as custdist from ("
    "select c_custkey, count(o_orderkey) as c_count "
    "from customer left join orders on c_custkey = o_custkey "
    "and o_orderpriority <> '1-URGENT' "
    "group by c_custkey) c_orders "
    "group by c_count order by custdist desc, c_count desc",
    doc="TPC-H Q13 shape: left join with extra ON-predicate, zero-count "
    "customers preserved, two-level aggregation (count distribution)",
)
_sql(
    "tpch_q14_promo",
    "select 100.00 * "
    "cast(sum(cast(case when p_type like 'PROMO%' "
    f"then {_REV} else 0 end as decimal(18,4))) as double) / "
    f"cast(sum(cast({_REV} as decimal(18,4))) as double) as promo_revenue "
    "from lineitem join part on l_partkey = p_partkey "
    "where l_shipdate >= cast('1996-03-01' as timestamp) "
    "and l_shipdate < cast('1996-04-01' as timestamp)",
    doc="TPC-H Q14 shape: promo-share ratio via conditional aggregation "
    "over a month-selective fact scan",
)
_sql(
    "tpch_q15_top_supplier",
    "with revenue as (select l_suppkey as supplier_no, "
    f"{_dsum(_REV, 'total_revenue')} "
    "from lineitem "
    "where l_shipdate >= cast('1996-01-01' as timestamp) "
    "and l_shipdate < cast('1996-04-01' as timestamp) "
    "group by l_suppkey) "
    "select s_suppkey, s_name, total_revenue "
    "from supplier join revenue on s_suppkey = supplier_no "
    "where total_revenue = (select max(total_revenue) from revenue) "
    "order by s_suppkey",
    doc="TPC-H Q15 shape: CTE reused twice (revenue + its MAX as scalar "
    "subquery); exact-double equality is safe because both engines sum "
    "through the same decimal path",
)
_sql(
    "tpch_q16_supplier_cnt",
    "select p_brand, p_type, p_size, "
    "count(distinct l_suppkey) as supplier_cnt "
    "from lineitem join part on p_partkey = l_partkey "
    "where p_brand <> 'Brand#4' "
    "and p_size in (1, 5, 10, 15, 20, 25, 30, 35) "
    "and l_suppkey not in "
    "(select s_suppkey from supplier where s_acctbal < 0) "
    "group by p_brand, p_type, p_size "
    "order by supplier_cnt desc, p_brand, p_type, p_size limit 30",
    doc="TPC-H Q16 shape: NOT IN anti-join + count(distinct) per group "
    "(lineitem stands in for partsupp)",
)
_sql(
    "tpch_q17_small_qty",
    "select cast(sum(cast(l_extendedprice as decimal(18,2))) as double) "
    "/ 7.0 as avg_yearly "
    "from lineitem join part on p_partkey = l_partkey "
    "where p_brand = 'Brand#3' and l_quantity < "
    "(select 0.2 * (sum(l2.l_quantity) / count(*)) from lineitem l2 "
    " where l2.l_partkey = p_partkey)",
    doc="TPC-H Q17 shape: correlated per-part AVG threshold "
    "(decorrelates to agg + join on l_partkey); avg written sum/count "
    "so both engines produce identical bits",
)
_sql(
    "tpch_q19_disjunctive",
    f"select {_dsum(_REV, 'revenue')} "
    "from lineitem join part on p_partkey = l_partkey "
    "where (p_brand = 'Brand#12' and l_quantity between 1 and 11 "
    "and p_size between 1 and 5) "
    "or (p_brand = 'Brand#23' and l_quantity between 10 and 20 "
    "and p_size between 1 and 10) "
    "or (p_brand = 'Brand#34' and l_quantity between 20 and 30 "
    "and p_size between 1 and 15)",
    doc="TPC-H Q19 shape: OR-of-ANDs disjunction; Catalyst extracts "
    "common join keys and pushes the per-side residuals below the join",
)
_sql(
    "tpch_q21_waiting",
    "select s_name, count(*) as numwait "
    "from supplier join lineitem l1 on s_suppkey = l1.l_suppkey "
    "join orders on o_orderkey = l1.l_orderkey "
    "where o_orderstatus = 'F' and l1.l_shipdate > o_orderdate "
    "and exists (select 1 from lineitem l2 "
    " where l2.l_orderkey = l1.l_orderkey "
    " and l2.l_suppkey <> l1.l_suppkey) "
    "and not exists (select 1 from lineitem l3 "
    " where l3.l_orderkey = l1.l_orderkey "
    " and l3.l_suppkey <> l1.l_suppkey "
    " and l3.l_shipdate > o_orderdate) "
    "group by s_name order by numwait desc, s_name limit 20",
    doc="TPC-H Q21 shape: stacked correlated EXISTS + NOT EXISTS "
    "(semi- and anti-join against the same fact, correlated through "
    "two levels); ship-after-order stands in for receipt>commit",
)
_sql(
    "tpch_q22_idle_custs",
    "select c_mktsegment, count(*) as numcust, "
    "cast(sum(cast(c_acctbal as decimal(18,2))) as double) as totacctbal "
    "from customer "
    "where c_acctbal > "
    "(select cast(sum(cast(c_acctbal as decimal(18,2))) as double) / count(*) "
    " from customer where c_acctbal > 0.0) "
    "and not exists (select 1 from orders "
    " where o_custkey = c_custkey and o_orderstatus = 'O') "
    "group by c_mktsegment order by c_mktsegment",
    doc="TPC-H Q22 shape: above-average balance (uncorrelated scalar "
    "subquery, sum/count avg) + NOT EXISTS anti-join; mktsegment stands "
    "in for phone country code",
)
_sql(
    "tpch_q20_share_suppliers",
    "select s_suppkey, s_name from supplier "
    "where s_suppkey in ("
    "select l_suppkey from lineitem "
    "group by l_partkey, l_suppkey "
    "having sum(l_quantity) > 2 * "
    "(select sum(l2.l_quantity) / count(distinct l2.l_suppkey) "
    " from lineitem l2 where l2.l_partkey = lineitem.l_partkey)) "
    "order by s_suppkey",
    doc="TPC-H Q20 shape: IN-subquery whose HAVING compares a group "
    "aggregate to a correlated scalar aggregate (supplier ships >2x "
    "the per-supplier average of a part — scale-free threshold; "
    "lineitem stands in for partsupp availability); decorrelates to "
    "two aggregates joined on l_partkey",
)
