"""Result checks: digests of result frames and the DuckDB side.

A digest is the row count, the column names (or their number) and one
order-insensitive hash of the rows: ``tools.check_oracle.row_hashes``,
sorted, then SHA-1. A result matches its oracle when the digests are
equal.

Run as a program, this computes the expected digest of every checked op
of a run on DuckDB, in its own process so that DuckDB's memory never
counts toward the benchmark's peak RSS:

    python3 perfbench/oracle.py --workload W --seed S --passes N --data DIR \
        --cache DIR

It prints one JSON object, op key -> digest. Digests of statements
over the fixed tables are cached under ``--cache`` keyed by the SQL
text, so later runs skip DuckDB for statements already seen.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataframe_sql_spark.sources.io import TESTDATA_TABLES  # noqa: E402
from tools.check_oracle import row_hashes  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def digest(pdf: pd.DataFrame, by_name: bool) -> dict:
    """Row count, column names and one order-insensitive row hash, with
    the columns taken in name order (``by_name``) or select-list order."""
    names = [str(c).lower() for c in pdf.columns]
    order = list(range(len(names)))
    if by_name:
        order = [i for _, i in sorted((n, i) for i, n in enumerate(names))]
    rows = np.sort(row_hashes(pdf, order))
    return {
        "rows": int(len(pdf)),
        "names": sorted(names) if by_name else len(names),
        "hash": hashlib.sha1(rows.tobytes()).hexdigest(),
    }


def by_name(op) -> bool:
    """DataFrame-API ops name their columns like their oracles but may
    order them differently; SQL ops keep the select-list order but the
    engines name unaliased expressions differently."""
    return op.kind in ("catalog", "probe")


def _golden() -> dict:
    from data import DATA_VERSION

    try:
        with open(GOLDEN) as fh:
            g = json.load(fh)
    except (OSError, ValueError):
        return {}
    return g["digests"] if g.get("data_version") == DATA_VERSION else {}


def cache_path(cache_dir: str) -> str:
    from data import DATA_VERSION

    return os.path.join(cache_dir, f"expected-{DATA_VERSION}.json")


def load_cache(cache_dir: str) -> dict:
    """Expected digests: the committed golden set, then this checkout's
    cache of statements computed since."""
    cache = _golden()
    try:
        with open(cache_path(cache_dir)) as fh:
            cache.update(json.load(fh))
    except (OSError, ValueError):
        pass
    return cache


def save_cache(cache_dir: str, cache: dict) -> None:
    path = cache_path(cache_dir)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh, sort_keys=True)
    os.replace(tmp, path)


def sql_key(sql: str) -> str:
    return "sql:" + hashlib.sha256(sql.encode()).hexdigest()


def repeat_key(op) -> str:
    """Ops without an oracle: their result must repeat across runs."""
    return f"repeat:{op.name}" + (f".q{op.probe}" if op.kind == "probe" else "")


def expected_digests(
    workload: str, seed: int, passes: int, data_dir: str, cache_dir: str
) -> dict:
    import duckdb

    from inputs import pandas_frames, workload_pass

    cache = load_cache(cache_dir)
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    out: dict[str, dict] = {}
    dirty = False
    for pass_no in range(1, passes + 1):
        frames: dict[str, pd.DataFrame] = {}
        for op in workload_pass(workload, seed, pass_no):
            if op.kind == "register":
                if op.args["role"] == "fact":
                    frames = pandas_frames(seed, pass_no, int(op.frame), op.size)
                con.register(op.table, frames[op.args["role"]])
                continue
            if op.kind == "remove":
                con.unregister(op.table)
                continue
            if not op.oracle:
                continue
            if op.kind == "pandas_sql":  # frames differ per seed: no cache
                out[op.key] = digest(con.execute(op.oracle).df(), by_name(op))
                continue
            k = sql_key(op.oracle)
            if k not in cache:
                cache[k] = digest(con.execute(op.oracle).df(), by_name(op))
                dirty = True
            out[op.key] = cache[k]
    con.close()
    if dirty:
        save_cache(cache_dir, cache)
    return out


def write_golden(data_dir: str, cache_dir: str) -> int:
    """Compute the digest of every statement over the fixed tables (all
    literal variants, the pipeline oracles) and keep the ``repeat:``
    digests this checkout has recorded; write them to ``expected.json``.
    Needed once whenever ``data.py`` changes the tables. The
    ``dd_prefix_pairs`` oracle alone takes several minutes."""
    import duckdb

    from data import DATA_VERSION
    from inputs import N_VARIANTS, PIPELINE_OPS, Op, _with_variant, sql_templates
    from dataframe_sql_spark.registry import CATALOG

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    ops = [
        Op(key="", name=n, kind="sql", oracle=_with_variant(n, ora, v))
        for n, (_, ora) in sql_templates().items()
        for v in range(N_VARIANTS)
    ]
    ops += [Op(key="", name=n, kind="catalog", oracle=CATALOG[n].oracle) for n in PIPELINE_OPS]
    cache = load_cache(cache_dir)
    out = {k: v for k, v in cache.items() if k.startswith("repeat:")}
    for op in ops:
        if op.oracle is None:
            continue
        k = sql_key(op.oracle)
        if k not in out:
            out[k] = cache.get(k) or digest(con.execute(op.oracle).df(), by_name(op))
            print(f"{op.name}: {out[k]['rows']} rows", file=sys.stderr, flush=True)
    with open(GOLDEN, "w") as fh:
        json.dump({"data_version": DATA_VERSION, "digests": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--passes", type=int)
    ap.add_argument("--data", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--golden", action="store_true", help="rewrite expected.json")
    a = ap.parse_args()
    if a.golden:
        return write_golden(a.data, a.cache)
    print(json.dumps(expected_digests(a.workload, a.seed, a.passes, a.data, a.cache)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
