"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given sf dir, then compares row count, column names, and
an order-insensitive value multiset (strings, with float rounding to
absorb last-ulp formatting differences — stricter than needed, the
driver hashes; any mismatch here is a real risk there).

Both sides are fetched THROUGH PANDAS (`DataFrame.toPandas()` /
duckdb `.df()`), matching the driver's hash path. Round 2 shipped a
wrong answer (tpch_q12) because this gate used `collect()`/`fetchall()`:
DuckDB's sum(INTEGER) widens to HUGEINT, which `fetchall()` returns as
a Python int (matches Spark) but `.df()` materializes as float64
(1764.0 != 1764 under a value hash). Fetching via pandas here makes
dtype-coercion divergences visible locally before the driver sees them.
Use ``--strict`` for the driver-faithful gate: loose mode's ``.10g``
formatting collapses int 1764 and float 1764.0 into the same string, so
only strict mode (repr of the float) catches an int-vs-float column
divergence like q12's.

Usage: python tools/check_oracle.py [--vanilla] [--strict]
           [--driver-memory=8g] [--duckdb-mem=MB] [--exclude=a,b,c | --exclude a,b,c]
           [sf_dir] [name_filter ...]

Entries whose QuerySpec declares ``oracle_max_sf`` below the sf parsed
from ``sf_dir``'s name are auto-skipped with the reason printed — no
hand-maintained exclusion list for beyond-driver-SF runs.

``--vanilla`` builds a plain ``SparkSession.builder`` session (no
engine confs) instead of the tuned ``get_spark()`` — the same session
shape the driver passes in. Round 1 shipped a driver-only failure
(nanosAsLong missing) precisely because this gate always used the
tuned session; run the vanilla mode before calling a round done.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import re
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from dataframe_sql_spark.registry import CATALOG  # noqa: E402
from dataframe_sql_spark.session import get_spark  # noqa: E402
from dataframe_sql_spark.sources.io import TESTDATA_TABLES  # noqa: E402


STRICT = False  # --strict: exact float bits (the driver hashes values;
# last-ulp differences that .10g absorbs WOULD mismatch there)


def norm_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        ts = pd.Timestamp(v)
        if ts != ts:  # NaT smuggled through an object column
            return "<null>"
        # Spark DateType -> datetime.date objects; DuckDB DATE ->
        # datetime64 at midnight. Collapse midnight timestamps to the
        # date so the two representations of the same value agree.
        if ts == ts.normalize():
            return ts.strftime("%Y-%m-%d")
        return str(ts)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "<nan>"
        return repr(f) if STRICT else f"{f:.10g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    try:  # scalar NaN of an unanticipated type
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def driver_canon_error(pdf: pd.DataFrame) -> str | None:
    """Replay the DRIVER's canonicalization on the raw pandas frame.

    The driver sorts the raw columns (pandas ``sort_values`` over every
    column, name order) before hashing — with NO cell normalization.
    This file's ``norm_cell`` converts list/ndarray cells to strings,
    which is MORE permissive than the driver: round 8's
    ``f_array_setops`` passed every local gate and then crashed the
    driver's canonicalizer (``TypeError: unhashable type:
    'numpy.ndarray'`` inside ``sort_values``/``factorize``). Running
    the driver's exact sort here (always on — it is cheap at gate
    scale) makes that class fail locally first. Returns the error
    string, or None when the driver path would succeed.
    """
    if pdf.empty:
        return None
    try:
        # head slice (r14): the crash class this replays is TYPE-level
        # (unhashable cells inside sort_values/factorize), which any
        # slice containing the dtypes reproduces — while a full-frame
        # lexsort of a 60M-row 100×-gate result costs minutes per side
        # for no extra signal. The driver itself only ever canonicalizes
        # sf0.01-sized results.
        pdf.head(100_000).sort_values(by=sorted(pdf.columns), kind="quicksort")
    except Exception as e:  # noqa: BLE001 — any crash here is a driver crash
        return f"{type(e).__name__}: {str(e)[:160]}"
    return None


def _norm_float_uniques(uvals: np.ndarray) -> np.ndarray:
    """Vectorized ``norm_cell`` for a float64 array (the uniques).

    STRICT: numpy's elementwise str is the same shortest-roundtrip
    algorithm as Python's ``repr(float)`` (Ryū/Grisu-style since
    numpy 1.14) — equivalence is asserted cell-for-cell in
    tests/test_tools.py over random and adversarial values. Loose:
    C printf ``%.10g`` via ``np.char.mod`` matches Python's
    ``f"{f:.10g}"`` for IEEE doubles (same round-half-even shortening;
    also asserted in the test).
    """
    strs = (
        uvals.astype(str) if STRICT else np.char.mod("%.10g", uvals)
    ).astype(object)
    strs[np.isnan(uvals)] = "<nan>"
    return strs


def _norm_datetime_uniques(s: pd.Series) -> np.ndarray:
    """Vectorized ``norm_cell`` for naive datetime64 uniques.

    Reproduces ``str(pd.Timestamp)``'s PER-ELEMENT fraction trimming
    (no fraction when zero, 6 digits when microsecond-resolution, 9
    when sub-microsecond) — ``Series.astype(str)`` is NOT equivalent:
    it picks one uniform precision for the whole series, so a mixed-
    resolution column would render '...20' as '...20.000000000'.
    """
    out = s.dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy(dtype=object)
    micro = np.nan_to_num(s.dt.microsecond.to_numpy(dtype=np.float64)).astype(
        np.int64
    )
    nano = np.nan_to_num(s.dt.nanosecond.to_numpy(dtype=np.float64)).astype(
        np.int64
    )
    sub_us = nano != 0
    us_only = (micro != 0) & ~sub_us
    if sub_us.any():
        out[sub_us] = out[sub_us] + np.char.mod(
            ".%09d", micro[sub_us] * 1000 + nano[sub_us]
        ).astype(object)
    if us_only.any():
        out[us_only] = out[us_only] + np.char.mod(".%06d", micro[us_only]).astype(
            object
        )
    midnight = (s.dt.normalize() == s).to_numpy()  # NaT compares False
    if midnight.any():
        out[midnight] = s.dt.strftime("%Y-%m-%d").to_numpy(dtype=object)[midnight]
    out[s.isna().to_numpy()] = "<null>"
    return out


def norm_series(s: pd.Series) -> np.ndarray:
    """Vectorized ``norm_cell`` over a column: object ndarray of str.

    Semantics-preserving speedup (r14): factorize the column, apply
    ``norm_cell`` to the UNIQUES only, then broadcast with a take. The
    per-cell strings are bit-identical to the row-at-a-time path, so
    the gate's strictness is unchanged; the cost drops from O(rows)
    python calls to O(uniques) — the python-side Counter compare was
    ~25 min per 60M-row entry at the 100x tpch decade (SCALE.md r13,
    j_salted) and is the binding constraint on that axis.

    Float columns factorize on the BIT PATTERN (int64 view), not the
    value: value-equality would collapse -0.0 with 0.0 (repr-distinct,
    so the row path distinguishes them) and would need NaN special
    cases. Distinct NaN payloads make extra uniques that all normalize
    to "<nan>" — harmless. Object columns that contain floats fall
    back to the row path for the same -0.0 reason; unhashable cells
    (lists/ndarrays) fall back because factorize raises.
    """
    codes, unorm = _factorized_norm(s)
    return unorm if codes is None else unorm[codes]


def _factorized_norm(s: pd.Series) -> tuple[np.ndarray | None, np.ndarray]:
    """(codes, normalized-uniques) — or (None, full normalized array)
    when the column had to take the per-cell fallback path."""
    if pd.api.types.is_float_dtype(s.dtype):
        a = s.to_numpy(dtype=np.float64, copy=True)
        codes, ubits = pd.factorize(a.view(np.int64))
        uvals = np.asarray(ubits, dtype=np.int64).view(np.float64)
        return codes, _norm_float_uniques(uvals)
    if pd.api.types.is_datetime64_any_dtype(s.dtype) and getattr(
        s.dtype, "tz", None
    ) is None:
        codes, uniques = pd.factorize(s, use_na_sentinel=False)
        return codes, _norm_datetime_uniques(pd.Series(uniques))
    try:
        codes, uniques = pd.factorize(s, use_na_sentinel=False)
    except TypeError:  # unhashable cells (lists / ndarrays)
        return None, np.array([norm_cell(v) for v in s], dtype=object)
    uniq_list = list(uniques)
    if any(isinstance(u, (float, np.floating)) for u in uniq_list):
        # object column holding floats: factorize's value-equality
        # would merge -0.0 into 0.0 — take the exact row path instead
        return None, np.array([norm_cell(v) for v in s], dtype=object)
    unorm = np.array([norm_cell(u) for u in uniq_list] or [""], dtype=object)
    return codes, unorm


def row_hashes(pdf: pd.DataFrame, col_order: list[int]) -> np.ndarray:
    """Order-insensitive row identity: uint64 hash per normalized row.

    Per column: factorize, normalize the UNIQUES to ``norm_cell``
    strings, hash those with ``pandas.util.hash_array``, broadcast by
    take, then mix columns positionally (FNV-style) — no separator
    joining (a cell containing a would-be separator byte cannot alias
    across column boundaries) and no n-sized string array is ever
    materialized. Two frames are multiset-equal iff their sorted hash
    arrays are equal (64-bit; a masking collision needs two distinct
    rows hashing equal AND exactly offsetting counts across sides —
    negligible against the driver's own hash compare).
    """
    if pdf.empty:
        return np.empty(0, dtype=np.uint64)
    out = np.zeros(len(pdf), dtype=np.uint64)
    prime = np.uint64(0x100000001B3)  # FNV-1a prime; uint64 mul wraps
    for i in col_order:
        codes, unorm = _factorized_norm(pdf.iloc[:, i])
        if codes is None:
            ch = pd.util.hash_array(unorm)
        else:
            # hash only the UNIQUES' strings, broadcast with a take —
            # no n-sized string array is ever materialized
            ch = pd.util.hash_array(unorm)[codes]
        out = out * prime + ch
    return out


def col_order(cols) -> list[int]:
    """Column positions in lower-case name order: the order in which
    both sides of a compare mix their columns into ``row_hashes``."""
    return [i for _, i in sorted((c.lower(), i) for i, c in enumerate(cols))]


def rows_digest(pdf: pd.DataFrame) -> str:
    """Short order-insensitive digest of a result's values: sha256 of
    its sorted ``row_hashes`` (columns in :func:`col_order`). Printed
    for the entries without an oracle, so two runs can be diffed."""
    h = np.sort(row_hashes(pdf, col_order(pdf.columns)))
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


def hash_diff_sample(
    s_hash: np.ndarray,
    d_hash: np.ndarray,
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
    n: int = 3,
) -> list:
    """Example rows behind the first few hash-count mismatches."""
    s_vc = pd.Series(s_hash).value_counts()
    d_vc = pd.Series(d_hash).value_counts()
    delta = s_vc.sub(d_vc, fill_value=0)
    bad = delta[delta != 0]
    out = []
    for h, d in bad.head(2 * n).items():
        side, pdf, hashes = (
            ("spark", spark_pdf, s_hash) if d > 0 else ("duck", duck_pdf, d_hash)
        )
        idx = np.nonzero(hashes == h)[0]
        row = tuple(norm_cell(v) for v in pdf.iloc[idx[0]])
        out.append((side, row, int(abs(d))))
        if len(out) >= 2 * n:
            break
    return out


def main() -> int:
    global STRICT
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    if "--strict" in args:
        STRICT = True
        args.remove("--strict")
    # --exclude=a,b,c (or --exclude a,b,c): ad-hoc skip of entries
    # whose name contains any of these. The oracle-side-infeasible
    # entries need no hand-typed list — each carries a declarative
    # ``oracle_max_sf`` on its QuerySpec and is auto-skipped below.
    excluded: list[str] = []
    driver_memory: str | None = None
    duckdb_mem_mb: int | None = None
    first_n: int | None = None
    exact_names: set[str] | None = None
    i = 0
    while i < len(args):
        if args[i].startswith("--driver-memory="):
            driver_memory = args.pop(i).split("=", 1)[1]
        elif args[i].startswith("--duckdb-mem="):
            # per-run oracle memory budget in MB (r13 advisor: expose
            # the limit as a flag) — lets concurrent gate lanes share
            # the box without over-committing the adaptive default
            duckdb_mem_mb = int(args.pop(i).split("=", 1)[1])
        elif args[i].startswith("--first="):
            # driver-faithful window: score exactly the first N
            # queries() entries (the driver scores the first 50)
            first_n = int(args.pop(i).split("=", 1)[1])
        elif args[i].startswith("--names="):
            # EXACT entry names (comma-separated) — unlike positional
            # name filters, which substring-match ('d_' matches every
            # dd_* entry), this selects precisely the listed entries.
            # tools/sf1_sweep.py uses it to keep its axes disjoint.
            exact_names = set(args.pop(i).split("=", 1)[1].split(","))
        elif args[i].startswith("--exclude="):
            excluded = args.pop(i).split("=", 1)[1].split(",")
        elif args[i] == "--exclude":
            args.pop(i)
            if i >= len(args):
                print("--exclude needs a comma-separated value", file=sys.stderr)
                return 2
            excluded = args.pop(i).split(",")
        else:
            i += 1
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    sf_match = re.search(r"sf(\d+(?:\.\d+)?)", Path(sf_dir).name)
    sf = float(sf_match.group(1)) if sf_match else None
    name_filter = args[1:]
    if vanilla:
        from pyspark.sql import SparkSession

        builder = (
            SparkSession.builder.master("local[*]")
            .appName("check_oracle_vanilla")
            .config("spark.ui.enabled", "false")
        )
        # --driver-memory sizes the heap for beyond-driver-SF runs
        # (tools/sf1_sweep.py passes 8g: a 6M-row axis on 32 local
        # threads OOMs the 1g default regardless of plan shape — see
        # SCALE.md round 10). It is an ENVIRONMENT axis, not an engine
        # conf, so the session stays vanilla in the sense that matters:
        # every conf the engine needs for correctness must still be
        # applied by the engine itself.
        if driver_memory:
            builder = builder.config("spark.driver.memory", driver_memory)
        # The gate MATERIALIZES full results by design (differential
        # compare), so the collect ceiling should track the driver heap,
        # not the 1g maxResultSize default — at the 100× tpch axis a
        # full-lineitem projection (60M rows) trips the default while
        # the heap holds it fine (r13: p_arith/p_cast failed on
        # maxResultSize, not memory). r14 (advisor): derive it as ~80%
        # of the requested heap instead of lifting it entirely ("0"),
        # so an over-heap result still dies with the CLEAN maxResultSize
        # diagnostic rather than an opaque driver JVM OOM/GC stall.
        if driver_memory:
            m = re.fullmatch(r"(\d+)([gGmM])", driver_memory)
            if m:
                mb = int(m.group(1)) * (1024 if m.group(2).lower() == "g" else 1)
                builder = builder.config(
                    "spark.driver.maxResultSize", f"{int(mb * 0.8)}m"
                )
        spark = builder.getOrCreate()
    else:
        spark = get_spark("check_oracle")
    con = duckdb.connect()
    # Bound the oracle's memory and give it a spill path (r13): the
    # default limit is 80% of TOTAL RAM computed at connect, so on a
    # box whose memory is partly held by the Spark JVM / page cache a
    # transient working-set spike dies with "Failed to allocate block"
    # instead of spilling — the same entry then passes or fails with
    # the BOX STATE, not the code (observed on dd_substring_remove at
    # the 100× corpus: FAIL twice after an hour-long axis run, PASS
    # minutes later on the idle box). A fixed budget + temp_directory
    # makes every blocking operator spill deterministically. r14
    # (advisor): cap at ~65% of PHYSICAL RAM too — a hardcoded 24GB on
    # a smaller box would over-commit and get OS-OOM-killed instead of
    # spilling, reinstating the environment-dependent verdicts the
    # fixed budget was meant to eliminate.
    try:
        phys_mb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
        )
    except (ValueError, OSError, AttributeError):
        phys_mb = 24 * 1024  # unknown: keep the old fixed budget
    oracle_mb = duckdb_mem_mb or min(24 * 1024, int(phys_mb * 0.65))
    con.execute(f"SET memory_limit='{oracle_mb}MB'")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}/duckdb_oracle_spill'")
    for t in TESTDATA_TABLES:
        # /root/testdata tables are single files, but Spark-written
        # expansions (tools/sf1_sweep.py) are directories of part
        # files — glob those so DuckDB reads the same rows Spark does
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    qs = entrymod.queries()
    if first_n is not None:
        qs = dict(list(qs.items())[:first_n])
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if exact_names is not None and name not in exact_names:
            continue
        if name_filter and not any(f in name for f in name_filter):
            continue
        if excluded and any(e and e in name for e in excluded):
            print(f"SKIP {name} (excluded)")
            continue
        t_entry = time.perf_counter()
        spec = CATALOG.get(name)
        if (
            sf is not None
            and spec is not None
            and spec.oracle_max_sf is not None
            and sf > spec.oracle_max_sf
        ):
            reason = spec.max_sf_reason or (
                "the oracle is declared infeasible or corpus-pinned beyond "
                "that sf; see the entry's registration comment"
            )
            print(
                f"SKIP {name} (oracle_max_sf={spec.oracle_max_sf:g} < sf{sf:g} "
                f"— {reason})"
            )
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            spark_cols = list(spark_pdf.columns)
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(
                f"ok?  {name}: rows-only ({len(spark_pdf)} rows, no oracle, "
                f"digest {rows_digest(spark_pdf)}) "
                f"[{time.perf_counter() - t_entry:.1f}s]"
            )
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
            duck_cols = list(duck_pdf.columns)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        for side, pdf in (("spark", spark_pdf), ("duck", duck_pdf)):
            canon_err = driver_canon_error(pdf)
            if canon_err:
                problems.append(
                    f"driver canonicalizer would crash on {side} output "
                    f"({canon_err}) — serialize composite cells"
                )
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
        if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
            problems.append(f"columns spark={spark_cols} duck={duck_cols}")
        else:
            sh = row_hashes(spark_pdf, col_order(spark_cols))
            dh = row_hashes(duck_pdf, col_order(duck_cols))
            if not np.array_equal(np.sort(sh), np.sort(dh)):
                diff = hash_diff_sample(sh, dh, spark_pdf, duck_pdf)
                problems.append(f"values differ; sample diff: {diff}")
        elapsed = f"[{time.perf_counter() - t_entry:.1f}s]"
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems) + f" {elapsed}")
            failures += 1
        elif spark_pdf.empty:
            # agreement on EMPTY certifies nothing — a broken operator
            # that returns no rows would also "pass". Round 6 found two
            # such entries (q_scalar_subquery, j_anti); keep them visible.
            print(
                f"PASS {name} (0 rows — TRIVIAL: empty result attests "
                f"nothing) {elapsed}"
            )
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows) {elapsed}")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
