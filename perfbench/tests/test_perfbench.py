"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The input tests are fast. The smoke tests run each workload once for
one second of op time (about a minute each) and check the output
contract against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
from data import build_tables  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _ops(workload: str, seed: int, pass_no: int) -> list[tuple]:
    return [
        (op.key, op.kind, op.sql, op.oracle, op.table, op.size, op.probe)
        for op in inputs.workload_pass(workload, seed, pass_no)
    ]


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_same_inputs_other_seed_other_inputs(workload):
    for pass_no in (0, 1, 2):
        assert _ops(workload, 7, pass_no) == _ops(workload, 7, pass_no)
    assert _ops(workload, 7, 1) != _ops(workload, 8, 1)
    assert _ops(workload, 7, 1) != _ops(workload, 7, 2)


def test_pandas_frames_follow_the_seed():
    a = inputs.pandas_frames(7, 1, 0, 5_000)
    b = inputs.pandas_frames(7, 1, 0, 5_000)
    c = inputs.pandas_frames(8, 1, 0, 5_000)
    for role in ("fact", "dim"):
        pd.testing.assert_frame_equal(a[role], b[role])
    assert not a["fact"].equals(c["fact"])


def test_tables_do_not_depend_on_the_workload_seed():
    t1, t2 = build_tables(), build_tables()
    assert set(t1) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in t1:
        assert t1[name].equals(t2[name]), name
    assert t1["lineitem"].num_rows == 600_000


def test_every_sql_template_takes_its_literal_variants():
    templates = inputs.sql_templates()
    assert len(templates) == 22
    for name in inputs.SQL_LITERALS:
        eng, ora = templates[name]
        e = {inputs._with_variant(name, eng, v) for v in range(inputs.N_VARIANTS)}
        o = {inputs._with_variant(name, ora, v) for v in range(inputs.N_VARIANTS)}
        assert len(e) >= 3 and len(e) == len(o), name


def test_a_stall_in_one_repeat_does_not_move_the_latency_figures():
    from run import typical_latencies

    def op(p, name, size):
        return inputs.Op(key=f"p{p}.{name}.{size}", name=name, kind="pandas_sql", size=size)

    lat = []
    for p, stall in ((1, 0.0), (2, 5.0), (3, 0.0)):
        lat += [(p, op(p, "join", 5_000), 0.1 + stall), (p, op(p, "join", 100_000), 0.4 + p / 100)]
    assert typical_latencies(lat) == pytest.approx([0.1, 0.42] * 3)


def test_cpu_time_counts_child_processes():
    from layers import tree_cpu_s

    before = tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s() - before >= 0.25


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_contract(result: dict, metric_specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1  # error_rate 0
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in metric_specs
    }


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric(workload):
    result = _run(workload, 0)
    _assert_contract(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    _assert_contract(_run("pipeline_curation", 1), SPEC["per_layer"])
