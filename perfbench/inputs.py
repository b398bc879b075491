"""Seeded workload inputs: which ops run, in which order, with which
literals and which pandas frames.

Everything here is a pure function of ``(workload, seed, pass index)``,
so the benchmark process and the oracle process build the same inputs
independently, and the library only ever sees what these functions
return. Pass 0 is the untimed warm-up; timed passes are 1, 2, ...
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import bench
from dataframe_sql_spark.registry import CATALOG, spark_queries

WORKLOADS = ("sql_interactive", "pandas_roundtrip", "pipeline_curation")
# seconds of op time one timed pass takes on a quiet 4-core host
# (local[2]); a run times round(--seconds / PASS_S) passes, at least one
PASS_S = {"sql_interactive": 16.0, "pandas_roundtrip": 5.0, "pipeline_curation": 20.0}

# Literal variants per query: (text as it appears in the SQL, four
# alternatives). Variant v of a query replaces every listed text with
# its v-th alternative, in both the engine SQL and the oracle SQL. Four
# variants keep the set of distinct statements small enough for the
# oracle cache to fill after a few runs.
SQL_LITERALS: dict[str, list[tuple[str, list[str]]]] = {
    "q_filter_bool": [
        ("l_returnflag = 'R'", ["l_returnflag = 'R'", "l_returnflag = 'A'", "l_returnflag = 'N'", "l_returnflag = 'R'"]),
        ("l_quantity > 30", ["l_quantity > 30", "l_quantity > 25", "l_quantity > 35", "l_quantity > 40"]),
        ("l_discount <= 0.05", ["l_discount <= 0.05", "l_discount <= 0.04", "l_discount <= 0.06", "l_discount <= 0.03"]),
    ],
    "q_groupby_having": [
        ("sum(l_quantity) > 100", ["sum(l_quantity) > 100", "sum(l_quantity) > 2540000", "sum(l_quantity) > 2550000", "sum(l_quantity) > 2545000"]),
    ],
    "q_orderby_limit": [("LIMIT 10", ["LIMIT 10", "LIMIT 5", "LIMIT 20", "LIMIT 15"])],
    "q_case_when": [
        ("l_quantity > 30", ["l_quantity > 30", "l_quantity > 20", "l_quantity > 40", "l_quantity > 25"]),
        ("l_quantity = 30", ["l_quantity = 30", "l_quantity = 20", "l_quantity = 40", "l_quantity = 25"]),
    ],
    "q_union_setops": [
        ("l_quantity > 45", ["l_quantity > 45", "l_quantity > 40", "l_quantity > 48", "l_quantity > 42"]),
        ("o_totalprice > 400000", ["o_totalprice > 400000", "o_totalprice > 450000", "o_totalprice > 350000", "o_totalprice > 480000"]),
    ],
    "q_in_between": [
        ("IN ('1-URGENT','2-HIGH')", ["IN ('1-URGENT','2-HIGH')", "IN ('3-MEDIUM','5-LOW')", "IN ('2-HIGH','4-NOT SPECIFIED')", "IN ('1-URGENT','5-LOW')"]),
        ("BETWEEN 100000 AND 200000", ["BETWEEN 100000 AND 200000", "BETWEEN 50000 AND 150000", "BETWEEN 200000 AND 300000", "BETWEEN 300000 AND 400000"]),
    ],
    "q_cast_math": [("+ 37", ["+ 37", "+ 11", "+ 73", "+ 5"])],
    "tpch_q1_pricing": [("'1998-09-02'", ["'1998-09-02'", "'1997-06-30'", "'1999-12-01'", "'2000-03-15'"])],
    "tpch_q3_shipping": [
        ("'BUILDING'", ["'BUILDING'", "'MACHINERY'", "'AUTOMOBILE'", "'HOUSEHOLD'"]),
        ("'1998-03-15'", ["'1998-03-15'", "'1997-07-01'", "'1999-01-20'", "'1998-11-11'"]),
    ],
    "tpch_q9_profit": [("'%red%'", ["'%red%'", "'%blue%'", "'%hot%'", "'%green%'"])],
    "tpch_q13_custdist": [("'1-URGENT'", ["'1-URGENT'", "'2-HIGH'", "'3-MEDIUM'", "'5-LOW'"])],
    "tpch_q17_small_qty": [("'Brand#3'", ["'Brand#3'", "'Brand#7'", "'Brand#12'", "'Brand#21'"])],
    "tpch_q18_big_orders": [("> 150", ["> 150", "> 140", "> 160", "> 170"])],
    "tpch_q21_waiting": [("o_orderstatus = 'F'", ["o_orderstatus = 'F'", "o_orderstatus = 'O'", "o_orderstatus = 'P'", "o_orderstatus = 'F'"])],
}
N_VARIANTS = 4

# DataFrame-API curation ops, called as spark_queries()[name](spark, dir)
PIPELINE_OPS = [
    "dd_prefix_pairs",
    "dd_minhash_pairs",
    "dd_semantic",
    "w_rank",
    "x_sorted_neighborhood",
    "dd_lines",
]
# IVF-PQ probes per pass, after that pass's index write: a curation
# session builds an index once and probes it many times (the warm-up
# pass probes once; a traced run's pass twice, to stay in its time)
N_PROBES = 8
TRACED_PROBES = 2
N_PROBE_VECTORS = 8  # fixed query vectors the seed picks from
# the bench's persisted-index parameters (bench.py, sim_ann_ivfpq_*)
IVFPQ_WRITE = dict(n_cells=8, n_sub=4, n_codes=16, dim=64)
IVFPQ_PROBE = dict(k=10, n_probe=4, rerank=100)

# pandas_roundtrip: frame sizes on both sides of Arrow's 10k-row batch,
# the same in every pass (the warm-up too), so that every op template
# at every size repeats once a pass
SIZES = [5_000, 20_000, 100_000]
DIM_ROWS = 1_000
N_GROUPS = 50


@dataclass
class Op:
    """One call into the library, as the benchmark will make it."""

    key: str  # unique within the run: pass, position and name
    name: str  # template / catalog name
    kind: str  # sql | register | pandas_sql | remove | catalog | index_write | probe
    sql: str | None = None  # reference-dialect SQL sent to the engine
    oracle: str | None = None  # ANSI SQL for DuckDB (None: repeat-hash check)
    table: str | None = None  # register / remove target
    frame: str | None = None  # which generated frame to register
    size: int = 0  # rows of the registered frame
    probe: int = 0  # probe vector index
    args: dict = field(default_factory=dict)


def _rng(workload: str, seed: int, pass_no: int) -> np.random.Generator:
    tag = hashlib.sha256(f"{workload}:{seed}:{pass_no}".encode()).digest()
    return np.random.default_rng(int.from_bytes(tag[:8], "little"))


def _with_variant(name: str, text: str, v: int) -> str:
    for old, alts in SQL_LITERALS.get(name, []):
        if old not in text:
            raise ValueError(f"{name}: literal {old!r} not found; update SQL_LITERALS")
        text = text.replace(old, alts[v])
    return text


def sql_templates() -> dict[str, tuple[str, str]]:
    """name -> (engine SQL, oracle SQL): the 14 bench.QUERIES, which are
    ANSI and run unchanged on DuckDB, plus the SQL-backed TPC-H shapes
    with their catalog oracles."""
    spark_queries()  # imports the extension modules that fill CATALOG
    out = {name: (sql, sql) for name, sql in bench.QUERIES.items()}
    for name in bench.TPCH_SHAPES:
        spec = CATALOG[name]
        if spec.engine_sql and spec.oracle:
            out[name] = (spec.engine_sql, spec.oracle)
    return out


def sql_pass(seed: int, pass_no: int) -> list[Op]:
    rng = _rng("sql_interactive", seed, pass_no)
    templates = sql_templates()
    names = sorted(templates)
    ops = []
    for i in rng.permutation(len(names)):
        name = names[i]
        v = int(rng.integers(0, N_VARIANTS)) if name in SQL_LITERALS else 0
        eng_sql, ora_sql = templates[name]
        ops.append(
            Op(
                key=f"p{pass_no}.{len(ops)}.{name}.v{v}",
                name=name,
                kind="sql",
                sql=_with_variant(name, eng_sql, v),
                oracle=_with_variant(name, ora_sql, v),
            )
        )
    return ops


# reference-dialect template, ANSI twin; {f} fact frame, {d} dim frame,
# {lit} a seeded literal
PANDAS_QUERIES: dict[str, tuple[str, str]] = {
    "groupby": (
        "select grp, count(*) as n, sum(qty) as sq, avg(qty) as aq, max(score) as ms "
        "from {f} where qty > {lit} group by grp",
        "SELECT grp, count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq, avg(qty) AS aq, max(score) AS ms "
        "FROM {f} WHERE qty > {lit} GROUP BY grp",
    ),
    "join": (
        "select label, count(*) as n, sum(qty * weight) as w from {f} "
        "join {d} on {f}.k = {d}.k where weight > {lit} group by label",
        "SELECT label, count(*) AS n, CAST(sum(qty * weight) AS BIGINT) AS w FROM {f} "
        "JOIN {d} ON {f}.k = {d}.k WHERE weight > {lit} GROUP BY label",
    ),
    "window": (
        "select grp, id, qty, r from (select grp, id, qty, row_number() over "
        "(partition by grp order by qty desc, id) as r from {f}) w where r <= 3",
        "SELECT grp, id, qty, r FROM (SELECT grp, id, qty, row_number() OVER "
        "(PARTITION BY grp ORDER BY qty DESC, id) AS r FROM {f}) w WHERE r <= 3",
    ),
    "cast": (
        "select cast(id as object) as sid, cast(score as int64) as si from {f} "
        "where qty = {lit}",
        "SELECT CAST(id AS VARCHAR) AS sid, CAST(score AS BIGINT) AS si FROM {f} "
        "WHERE qty = {lit}",
    ),
    "colN": (
        "select grp, max(qty) - min(qty), count(distinct k) from {f} group by grp",
        "SELECT grp, max(qty) - min(qty) AS _col1, count(DISTINCT k) AS _col2 "
        "FROM {f} GROUP BY grp",
    ),
    "roundtrip": ("select * from {f}", "SELECT * FROM {f}"),
}


def pandas_frames(seed: int, pass_no: int, step: int, size: int) -> dict[str, pd.DataFrame]:
    """The fact and dimension frames of one pandas_roundtrip step."""
    rng = _rng(f"pandas_roundtrip.frames.{step}", seed, pass_no)
    fact = pd.DataFrame(
        {
            "id": np.arange(size, dtype=np.int64),
            "grp": np.array([f"g{i:02d}" for i in range(N_GROUPS)], dtype=object)[
                rng.integers(0, N_GROUPS, size)
            ],
            "k": rng.integers(0, DIM_ROWS, size, dtype=np.int64),
            "qty": rng.integers(1, 101, size, dtype=np.int64),
            "score": rng.integers(0, 1000, size).astype(np.float64),
        }
    )
    dim = pd.DataFrame(
        {
            "k": np.arange(DIM_ROWS, dtype=np.int64),
            "label": np.array([f"L{i % 20}" for i in range(DIM_ROWS)], dtype=object),
            "weight": rng.integers(0, 100, DIM_ROWS, dtype=np.int64),
        }
    )
    return {"fact": fact, "dim": dim}


def pandas_pass(seed: int, pass_no: int) -> list[Op]:
    rng = _rng("pandas_roundtrip", seed, pass_no)
    ops: list[Op] = []

    def add(**kw) -> None:
        ops.append(Op(key=f"p{pass_no}.{len(ops)}.{kw['name']}", **kw))

    for step, i in enumerate(rng.permutation(len(SIZES))):
        size = SIZES[i]
        f, d = f"pr_fact_{pass_no}_{step}", f"pr_dim_{pass_no}_{step}"
        frames = dict(frame=f"{step}", size=size)
        add(name="register_fact", kind="register", table=f, args={"role": "fact"}, **frames)
        add(name="register_dim", kind="register", table=d, args={"role": "dim"}, **frames)
        names = sorted(PANDAS_QUERIES)
        for j in rng.permutation(len(names)):
            q = names[j]
            lit = {"groupby": int(rng.integers(0, 90)), "join": int(rng.integers(0, 90)),
                   "cast": int(rng.integers(1, 101))}.get(q, 0)
            eng, ora = PANDAS_QUERIES[q]
            add(
                name=q,
                kind="pandas_sql",
                sql=eng.format(f=f, d=d, lit=lit),
                oracle=ora.format(f=f, d=d, lit=lit),
                **frames,
            )
        add(name="remove_fact", kind="remove", table=f, **frames)
        add(name="remove_dim", kind="remove", table=d, **frames)
    return ops


def probe_vector(i: int) -> list[float]:
    """One of N_PROBE_VECTORS fixed unit query vectors (seed-independent,
    so a probe's result hash can repeat across runs)."""
    if i == 0:
        return [1.0] * 64  # registry_common._QUERY_VEC, the bench's query
    v = np.random.default_rng(1000 + i).standard_normal(64)
    return [float(x) for x in v / np.linalg.norm(v)]


def pipeline_pass(seed: int, pass_no: int, traced: bool = False) -> list[Op]:
    rng = _rng("pipeline_curation", seed, pass_no)
    spark_queries()
    items = [("catalog", n) for n in PIPELINE_OPS]
    items += [("index_write", "ivfpq_index_write")]
    n_probes = 1 if pass_no <= 0 else TRACED_PROBES if traced else N_PROBES
    items += [("probe", "ivfpq_topk_indexed")] * n_probes
    order = [items[i] for i in rng.permutation(len(items))]
    # the pass's index must exist before its first probe
    w = order.index(("index_write", "ivfpq_index_write"))
    p = next(i for i, it in enumerate(order) if it[0] == "probe")
    if w > p:
        order[w], order[p] = order[p], order[w]
    ops = []
    for kind, name in order:
        op = Op(key=f"p{pass_no}.{len(ops)}.{name}", name=name, kind=kind)
        if kind == "catalog":
            spec = CATALOG[name]
            if spec.oracle and (spec.oracle_max_sf is None or spec.oracle_max_sf >= 0.1):
                op.oracle = spec.oracle
        elif kind == "probe":
            op.probe = int(rng.integers(0, N_PROBE_VECTORS))
            op.key += f".q{op.probe}"
        ops.append(op)
    return ops


def workload_pass(workload: str, seed: int, pass_no: int, traced: bool = False) -> list[Op]:
    """The ops of one pass; ``traced`` gives the shape of a traced run's
    passes."""
    if workload == "pipeline_curation":
        return pipeline_pass(seed, pass_no, traced)
    return {"sql_interactive": sql_pass, "pandas_roundtrip": pandas_pass}[workload](seed, pass_no)
