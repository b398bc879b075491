"""Interactive per-key measurement helpers for the optimization rounds.

Run inside a live Python session (tmux):

    python -i tools/bench_repl.py

Provides:
    t(name, n=5)     warm best-of-n toPandas seconds for a catalog key
    tq(sql, n=5)     same for a raw BASELINE-dialect SQL string
    noop(name, n=5)  warm best-of-n noop-sink seconds (computation only)
    e(name)          print .explain("formatted") for a catalog key
    h(name)          unordered result hash (row-sorted pandas repr md5)
    df(name)         the DataFrame itself

All helpers build a FRESH plan object per run (same-object reruns reuse
shuffle output) and label jobs for the UI.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dataframe_sql_spark.engine import plan_string  # noqa: E402
from dataframe_sql_spark.registry import engine_for, spark_queries  # noqa: E402
from dataframe_sql_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
spark = get_spark("bench_repl")
eng = engine_for(spark, SF_DIR)
qs = spark_queries()


def df(name: str):
    return qs[name](spark, SF_DIR)


def _best(mk, n: int, action) -> float:
    action(mk())  # warm-up, untimed
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        action(mk())
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def t(name: str, n: int = 5) -> float:
    spark.sparkContext.setJobDescription(f"bench:{name}")
    return _best(lambda: df(name), n, lambda d: d.toPandas())


def tq(sql: str, n: int = 5) -> float:
    spark.sparkContext.setJobDescription("bench:sql")
    return _best(lambda: eng.query(sql), n, lambda d: d.toPandas())


def noop(name: str, n: int = 5) -> float:
    spark.sparkContext.setJobDescription(f"noop:{name}")
    return _best(
        lambda: df(name),
        n,
        lambda d: d.write.format("noop").mode("overwrite").save(),
    )


def e(name: str) -> None:
    print(plan_string(df(name)))


def h(name: str) -> str:
    pdf = df(name).toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(map(tuple, pdf.astype(str).values.tolist()))
    return hashlib.md5(repr(rows).encode()).hexdigest()


if __name__ == "__main__":
    print("bench_repl ready:", SF_DIR)
