"""Dump `.explain("formatted")` physical plans.

Per-round before/after dumps: writes ``<round_dir>/<name>_<tag>.txt``
for every bench-tracked query (the BASELINE set + TPCH_SHAPES +
PIPELINE_OPS, at sf0.1) or only the names given — which may also be
catalog-only entries — so before/after plan claims are checkable
without running Spark:

    python tools/dump_plans.py plans/r16 before [names...]
    python tools/dump_plans.py plans/r16 after  [names...]

Ledger guard (a `_before` dump captured at a HEAD that already
contained the change was once committed as evidence):

- every plan file starts with a provenance header recording the git
  HEAD (and dirty state) it was dumped at, so before/after pairs are
  auditable against the commit history;
- an existing `_before` file is never overwritten (re-running the tool
  after the optimization landed would silently replace the genuine
  before-plan with an after-plan under the wrong name). Delete the
  file explicitly if a re-capture at the right commit is intended.

Round dumps go through :func:`normalize_plan`, which blanks the ids
and call sites that change from one build to the next, so two dumps of
an unchanged plan are byte-identical and a before/after diff shows
only real plan changes.

Headline plans: ``--headliners OUT.md`` writes the curated set below
(at sf0.001) as one markdown file with a reading guide per plan — the
form of the committed PLANS.md:

    python tools/dump_plans.py --headliners PLANS.md
"""

from __future__ import annotations

import argparse
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import PIPELINE_OPS, QUERIES, TPCH_SHAPES  # noqa: E402
from dataframe_sql_spark.engine import plan_string  # noqa: E402
from dataframe_sql_spark.registry import engine_for, spark_queries  # noqa: E402
from dataframe_sql_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
# per-round dumps: the bench scale factor
ROUND_SF_DIR = str(Path(SF_DIR).with_name("sf0.1"))

# entry -> one-line reading guide (what to look for in the plan)
HEADLINERS: dict[str, str] = {
    "tpch_q5_revenue": "4-way join: dims broadcast (BroadcastHashJoin), "
    "partial+final HashAggregate, filters pushed to the parquet scan",
    "tpch_q21_waiting": "EXISTS / NOT EXISTS decorrelated to "
    "LeftSemi/LeftAnti joins — no per-row subquery re-execution",
    "dd_minhash_pairs": "map-side OPH signatures, one (band, bucket) "
    "fixed-width shuffle, within-bucket pair expansion only",
    "dd_prefix_pairs": "prefix-filter join: token-frequency pass, per-doc "
    "sort_array prefix (no window), candidate join on rare tokens only",
    "dd_lines": "line-hash df shuffle + AQE-broadcast boilerplate verdict "
    "+ one doc-keyed rebuild groupBy; three exchanges total",
    "txt_tfidf": "two Zipf-keyed count shuffles; vocab df table re-enters "
    "as BroadcastHashJoin; 1-row n_docs via constant-key "
    "BroadcastHashJoin (broadcast_attach) — zero BNLJ",
    "emb_kmeans": "argmin over a literal centroid matrix — one codegen "
    "projection, zero joins in the assignment pass",
    "x_pagerank": "kNN edge build as the IVF cell equi-join (no "
    "cartesian); rank iterations as src-keyed joins + dst-keyed "
    "contribution sums; 1-row scalars via constant-key broadcast hash "
    "join; fully lazy",
    "sim_knn_join_probed": "partial-probe cell-keyed kNN join: probe "
    "explode + cell equi-join + per-query window — no cartesian, no "
    "BNLJ; candidates ~ n_probe/n_cells of all pairs",
    "a_hist_quantile_rollup": "bounded (group, bin) merge + cumulative "
    "window over <= bins rows per group; quantile list broadcast",
    "a_cms_heavy_hitters": "counter-grid shuffle bounded by "
    "segments x depth x width; probe joins broadcast the sketch",
    "w_rank": "bucketed global rank: hashpartitioning on a CASE bucket "
    "of the sort key, per-bucket Window, literal offsets; NO "
    "SinglePartition window over scan output, no checkpoint",
    "x_profile": "ALL per-column aggregates in ONE scan + one "
    "partial/final HashAggregate; constant-width explode",
    "j_range_incidents": "bucketed range-join rewrite: interval explode "
    "onto hour buckets, BroadcastHashJoin with residual range predicate "
    "— no BroadcastNestedLoopJoin",
    "x_record_linkage": "nation-blocked equi-join with codegen "
    "levenshtein filter BEFORE the per-record best-match window shuffle",
    "g_triangles": "degree-oriented wedge join: degree groupBy, pivot-"
    "vertex self-join, (v,w) closing join — three bounded exchanges",
    "st_static_join": "stream-static enrichment: dimension enters as "
    "BroadcastHashJoin, partial+final HashAggregate above it",
    "x_dsir_weights": "DSIR importance weights: ONE bucket-bounded "
    "groupBy (map-side combine; target+raw counts in one pass), "
    "corpus totals via constant-key BroadcastHashJoin, score table "
    "re-enters broadcast, one doc-keyed final sum — no BNLJ, no text "
    "keys on any exchange",
}


def normalize_plan(plan: str) -> str:
    """``plan`` with what differs between two builds of one plan
    blanked: expression ids (``#12``), ``plan_id=``, operator and
    codegen ids (``(3)``, ``*(2)``), RDD ids (a lineage cut's
    ``MapPartitionsRDD[163]``) and its call site, which py4j reports as
    ``NativeMethodAccessorImpl.java:0`` or ``<unknown>:0``."""
    plan = re.sub(r"#\d+|plan_id=\d+|\(\d+\)", "#", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[#]", plan)
    return re.sub(r"\bat [\w$.<>]+:\d+", "at <call site>", plan)


def _git_provenance() -> str:
    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", str(REPO), *args], capture_output=True, text=True
        ).stdout.strip()

    dirty = " (dirty tree)" if git("status", "--porcelain") else ""
    return f"-- dumped at git {git('rev-parse', '--short', 'HEAD')}{dirty}\n"


def dump_round(
    spark, out_dir: Path, tag: str, only: set[str], sf_dir: str = ROUND_SF_DIR
) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    provenance = _git_provenance()
    eng = engine_for(spark, sf_dir)
    qs = spark_queries()

    def dump(name: str, df) -> None:
        target = out_dir / f"{name}_{tag}.txt"
        if tag == "before" and target.exists():
            print(f"REFUSING to overwrite existing before-plan {target}")
            return
        target.write_text(provenance + normalize_plan(plan_string(df)))

    for name, sql in QUERIES.items():
        if not only or name in only:
            dump(name, eng.query(sql))
    for name in TPCH_SHAPES + PIPELINE_OPS:
        if not only or name in only:
            dump(name, qs[name](spark, sf_dir))
    # names outside the bench dicts (catalog-only entries) are accepted
    # explicitly
    for name in sorted(only - set(QUERIES) - set(TPCH_SHAPES) - set(PIPELINE_OPS)):
        if name in qs:
            dump(name, qs[name](spark, sf_dir))
        else:
            print(f"unknown query name {name!r}", file=sys.stderr)
    print(f"wrote {out_dir}/*_{tag}.txt")


def dump_headliners(spark, out: Path) -> None:
    qs = spark_queries()
    lines = [
        "# PLANS — formatted physical plans for the headline operators",
        "",
        "Generated by `tools/dump_plans.py` at sf0.001 (plan shapes are",
        "scale-invariant; AQE may re-plan exchanges at runtime). Each",
        "section leads with what the plan is supposed to show — the same",
        "properties `tests/test_plan_quality.py` and",
        "`tests/test_catalog_plan_lint.py` enforce mechanically.",
        "",
    ]
    for name, note in HEADLINERS.items():
        plan = plan_string(qs[name](spark, SF_DIR))
        lines += [f"## {name}", "", f"*{note}*", "", "```", plan.rstrip(), "```", ""]
    out.write_text("\n".join(lines))
    print(f"wrote {out} ({len(HEADLINERS)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("round_dir", nargs="?", type=Path)
    ap.add_argument("tag", nargs="?", choices=("before", "after"))
    ap.add_argument("names", nargs="*")
    ap.add_argument("--headliners", type=Path, metavar="OUT.md")
    args = ap.parse_args()
    if (args.headliners is None) == (args.tag is None):
        ap.error("give either ROUND_DIR {before,after} [names...] or --headliners OUT.md")
    spark = get_spark("dump_plans")
    if args.headliners is not None:
        dump_headliners(spark, args.headliners)
    else:
        dump_round(spark, args.round_dir, args.tag, set(args.names))
    spark.stop()


if __name__ == "__main__":
    main()
