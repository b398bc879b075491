"""Driver-environment contract test.

Round 1 shipped a bug this file exists to catch: everything was green
on the tuned ``session.get_spark()`` session, but the driver passes its
OWN vanilla SparkSession into ``entry(spark)`` / ``queries()[name]``
and that session could not read events.parquet (TIMESTAMP_NANOS) —
0/50 driver correctness despite 145/145 locally.

The simulation must be faithful: a fresh subprocess (fresh JVM), a
``SparkSession.builder`` with NO engine confs, and the exact call
sequence the driver uses. Running in-process would silently reuse the
tuned session via getOrCreate() and hide the bug class again.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_DRIVER_SIM = """
import sys
sys.path.insert(0, {repo!r})

from pyspark.sql import SparkSession

# Vanilla session — exactly what the driver builds: no nanosAsLong, no
# UTC timezone, no AQE confs, default 200 shuffle partitions.
spark = (
    SparkSession.builder.master("local[2]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

import __spark_entry__ as e

sf = {repo!r} and "/root/testdata/sf0.001"

# 1. entry() smoke: runs and returns rows with a stable schema.
df = e.entry(spark)
rows = df.collect()
assert len(rows) > 0, "entry() returned no rows"
assert set(df.columns) == {{"n_name", "revenue", "n_lineitems"}}, df.columns

# 2. Representative queries(), including one on events (the table whose
#    TIMESTAMP_NANOS encoding sank round 1) and a DataFrame-API one.
qs = e.queries()
for name in [
    "p_select_star",
    "tpch_q1_pricing",
    "dd_exact",
    "sim_topk",
    "f_date_funcs" if "f_date_funcs" in qs else "p_cast",
]:
    out = qs[name](spark, sf)
    n = out.count()
    assert n >= 0, name
    print(f"OK {{name}}: {{n}} rows")

# 3. Events-table query must work on this session too.
ev = [k for k in qs if k.startswith(("ts_", "st_")) or "event" in k]
from dataframe_sql_spark.registry import engine_for
ecount = engine_for(spark, sf).spark.table("events").count()
assert ecount > 0, "events table not registered on vanilla session"
print(f"OK events: {{ecount}} rows")

# 4. oracle_sql() keys are a subset of queries() keys.
os_ = e.oracle_sql()
missing = set(os_) - set(qs)
assert not missing, f"oracle keys without queries: {{missing}}"
print("DRIVER-SIM-PASS")
"""


def test_entry_and_queries_on_vanilla_session():
    script = _DRIVER_SIM.format(repo=str(REPO))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "DRIVER-SIM-PASS" in proc.stdout


def test_export_order_is_priority_then_catalog():
    """queries()/oracle_sql() order: no name twice, every CATALOG entry
    present, and the scored window opens with the anchors."""
    from dataframe_sql_spark.registry import _ANCHORS, CATALOG, _ordered_names

    names = _ordered_names()
    assert len(names) == len(set(names))
    assert set(names) == set(CATALOG)
    assert names[: len(_ANCHORS)] == _ANCHORS
