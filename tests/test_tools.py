"""Gate-machinery self-tests (round-11 oracle-red probe).

Every correctness gate in this repo had only ever CONFIRMED green —
the failure direction was untested, so a broken comparator could have
been silently passing everything. Round 11 probed the live path by
deliberately flipping a rounding mode (6 → 5 digits in
bigram_lm_scores) and observing `check_oracle --vanilla --strict` go
red with a values-differ sample (recorded in SCALE.md), then reverted.
These tests pin the pure parsing/ranking pieces of that machinery so
the red path stays covered without re-breaking an operator.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.sf1_sweep import parse_check_output  # noqa: E402


GREEN_OUT = "PASS a_one (5 rows)\nSKIP b_two (oracle_max_sf)\nPASS c_three (9 rows)\nALL GREEN\n"
RED_OUT = (
    "PASS a_one (5 rows)\n"
    "FAIL c_three: values differ; sample diff: [(('-3.3', '1'), 1)]\n"
    "1 FAILURES\n"
)


def test_sweep_parse_green():
    res = parse_check_output(GREEN_OUT, 0)
    assert res["all_green"] and res["pass"] == 2 and res["fail"] == 0
    assert res["skipped_infeasible_oracle"] == 1


def test_sweep_parse_red_fails_the_axis():
    res = parse_check_output(RED_OUT, 1)
    assert not res["all_green"]
    assert res["fail"] == 1 and res["fail_names"] == ["c_three"]


def test_sweep_parse_zero_pass_is_not_green():
    # an axis that ran nothing (bad filter, crashed subprocess) must
    # not read as green — the round-10 substring-filter bug would have
    # been caught by this had filters filtered everything out
    res = parse_check_output("", 0)
    assert not res["all_green"]


def test_sweep_parse_crash_before_compare_is_red():
    # subprocess died mid-run (e.g. OOM): some PASSes then nonzero exit
    res = parse_check_output("PASS a_one (5 rows)\n", 137)
    assert not res["all_green"]


def test_sweep_axes_disjoint_and_total():
    from tools.sf1_sweep import axis_entries

    t, d = axis_entries("tpch"), axis_entries("docs")
    assert not set(t) & set(d)
    assert len(t) > 100 and len(d) > 50


def test_ledger_certificate_coverage_closed_under_growth():
    # Same-commit certificate policy as a SUITE gate: build_table()
    # asserts every rows-only catalog entry maps to a certificate that
    # is itself an oracled (hash-checkable) catalog entry. Running it
    # here means a commit that adds a rows-only entry without its
    # certificate (or removes/downgrades a cited certificate) fails the
    # suite in that same commit — the ledger tool no longer has to be
    # invoked manually for the policy to bind.
    from tools.attestation_ledger import build_table

    table = build_table()
    assert "| `dd_minhash` | rows-only |" in table


def test_ledger_rows_only_rows_count_green():
    # the round-10 advisor bug: rows-only driver rows (err='no_oracle',
    # real spark_rows) must count as attestations or they would be
    # pinned into every proposed window forever
    from tools.attestation_ledger import _row_green

    assert _row_green(
        {"err": "no_oracle", "spark_rows": 476, "rows_match": None}
    )
    assert not _row_green({"err": "no_oracle", "spark_rows": None})
    assert _row_green(
        {
            "err": None,
            "rows_match": True,
            "hash_match": True,
            "schema_match": True,
        }
    )
    assert not _row_green(
        {"err": None, "rows_match": True, "hash_match": False}
    )
    assert not _row_green({"err": "boom", "rows_match": None})


def test_vectorized_norm_matches_norm_cell():
    """r14: check_oracle's factorize-vectorized compare must produce
    EXACTLY the per-cell ``norm_cell`` strings — the gate's strictness
    is the correctness currency, so the speedup (25 min → minutes per
    60M-row entry at the 100x tpch decade) must be semantics-free.
    Covers the two hand-vectorized dtype paths (shortest-repr floats,
    per-element-trimmed datetimes) plus the fallback paths."""
    import numpy as np
    import pandas as pd

    import tools.check_oracle as co

    rng = np.random.default_rng(42)
    adversarial = np.array(
        [0.0, -0.0, 1e16, 1e-5, 1e-4, 123456789.123456789, 2.0**53 + 2,
         np.inf, -np.inf, np.nan, 5e-324, 1.7976931348623157e308,
         0.1, 1 / 3, 1e100, -1e-100, 3.0, 1e15]
    )
    floats = np.concatenate(
        [rng.random(20000), rng.normal(0, 1e10, 20000),
         rng.random(10000) * 1e-10, adversarial]
    )
    for strict in (True, False):
        old = co.STRICT
        co.STRICT = strict
        try:
            vec = co._norm_float_uniques(floats.copy())
            ref = [co.norm_cell(float(x)) for x in floats]
            assert list(vec) == ref, f"strict={strict}"
        finally:
            co.STRICT = old

    old = co.STRICT
    co.STRICT = True
    try:
        n = 30000
        ts = pd.Series(
            pd.to_datetime("2020-01-01")
            + pd.to_timedelta(rng.integers(0, 10**15, n), unit="ns")
        )
        ts.iloc[::1000] = pd.NaT
        ts.iloc[::777] = ts.iloc[::777].dt.normalize()  # midnight → date
        ts.iloc[::333] = ts.iloc[::333].dt.floor("us")  # 6-digit fraction
        ts.iloc[::111] = ts.iloc[::111].dt.floor("s")  # no fraction
        assert list(co._norm_datetime_uniques(ts)) == [
            co.norm_cell(v) for v in ts
        ]

        pdf = pd.DataFrame(
            {
                "i": rng.integers(0, 100, 5000),
                "f": np.where(rng.random(5000) < 0.1, np.nan, rng.random(5000)),
                "s": pd.Series(rng.integers(0, 50, 5000)).map("s{}".format),
                "b": rng.random(5000) < 0.5,
                "o": [None if k % 7 == 0 else f"v{k % 3}" for k in range(5000)],
                "arr": [[k % 3, k % 5] for k in range(5000)],  # unhashable
            }
        )
        pdf.loc[0, "f"] = -0.0
        pdf.loc[1, "f"] = 0.0
        for c in range(len(pdf.columns)):
            vec = co.norm_series(pdf.iloc[:, c])
            assert list(vec) == [co.norm_cell(v) for v in pdf.iloc[:, c]], c

        # row_hashes: permutation-invariant, perturbation-sensitive,
        # and distinguishes -0.0 from 0.0 (repr-distinct in strict)
        order = list(range(len(pdf.columns)))
        h = co.row_hashes(pdf, order)
        perm = pdf.sample(frac=1.0, random_state=1).reset_index(drop=True)
        assert np.array_equal(np.sort(h), np.sort(co.row_hashes(perm, order)))
        pert = pdf.copy()
        pert.loc[5, "i"] = 10**6
        assert not np.array_equal(
            np.sort(h), np.sort(co.row_hashes(pert, order))
        )
        assert not np.array_equal(
            co.row_hashes(pd.DataFrame({"f": [-0.0]}), [0]),
            co.row_hashes(pd.DataFrame({"f": [0.0]}), [0]),
        )
    finally:
        co.STRICT = old


def test_rows_digest_ignores_row_order_and_sees_one_cell():
    """The digest printed for entries without an oracle: the same for
    any row order (and column order), different after one cell
    changes."""
    import pandas as pd

    import tools.check_oracle as co

    pdf = pd.DataFrame({"b": [1, 2, 3], "A": ["x", "y", None], "f": [0.5, -0.0, 2.0]})
    d = co.rows_digest(pdf)
    assert co.rows_digest(pdf.iloc[[2, 0, 1]].reset_index(drop=True)) == d
    assert co.rows_digest(pdf[["f", "A", "b"]]) == d
    pert = pdf.copy()
    pert.loc[1, "f"] = 0.25
    assert co.rows_digest(pert) != d


def test_envelope_ledger_current():
    """r14: every oracle_max_sf declaration must carry a structured
    reason AND a scale path, and COVERAGE.md's generated envelope
    ledger must be exactly what the registry produces today — a new or
    edited envelope without a regenerated table fails here."""
    from dataframe_sql_spark.registry import CATALOG, _ordered_names
    from tools.envelope_ledger import BEGIN, END, REPO_ROOT, build_table

    _ordered_names()
    for n, spec in CATALOG.items():
        if spec.oracle_max_sf is not None:
            assert spec.max_sf_reason, f"{n}: oracle_max_sf without max_sf_reason"
            assert spec.scale_path, f"{n}: oracle_max_sf without scale_path"
        else:
            assert spec.scale_path is None, (
                f"{n}: scale_path without oracle_max_sf — the field "
                "documents envelopes, not general notes"
            )
    text = (REPO_ROOT / "COVERAGE.md").read_text()
    assert BEGIN in text and END in text, "envelope ledger missing from COVERAGE.md"
    current = text.split(BEGIN, 1)[1].split(END, 1)[0]
    fresh = build_table().split(BEGIN, 1)[1].split(END, 1)[0]
    assert current == fresh, (
        "COVERAGE.md envelope ledger is stale — run "
        "`python tools/envelope_ledger.py --write`"
    )
