"""Catalog-wide physical-plan lint: every entry in the driver catalog
is built (not executed) and its formatted plan is screened for the
anti-patterns that kill a 100 TB scale-up, with explicit whitelists
for the entries whose semantics genuinely require the pattern.

This is the breadth counterpart of test_plan_quality.py's depth gates:
a new catalog entry with a row-at-a-time Python UDF, an accidental
cartesian product, or a whole-table single-partition stage fails CI
here even if its sf0.01 oracle row is green.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from dataframe_sql_spark.engine import plan_string
from tests.conftest import SF_DIR

# Entries whose construction itself runs Spark jobs (bounded: offset
# collects, codebook/merge training, recall joins). They still get
# linted — building them is just slower. Documentation-only (no
# assertion reads this set); keep it current so a slow lint build has
# a named explanation.
_RUNS_JOBS = {
    "x_sorted_neighborhood",  # global_rank: sample + per-bucket count collects
    "w_rank",
    "w_rank_multi",
    "w_dense_rank",
    "sim_ann_pq",
    "sim_ann_pq_verified",
    "sim_ann_ivfpq",
    "sim_ann_ivfpq_verified",  # round 9: composed-cert build trains at plan time
    "sim_ann_recall_cert",
    "txt_bpe_tokens",
    "txt_bpe_roundtrip",
    "dd_clusters",
    "dd_clusters_verified",
    "dd_incremental",
    "x_dataset_mix",
    "x_global_shuffle",
    "pipe_curation",
    "x_negative_pairs",
    # round 4: IVF centroid pick (bounded n_cells·dim collect) runs at
    # plan-build time for the cell-keyed kNN join family
    "sim_knn_join",
    "sim_knn_join_probed",
    "sim_ann_ivf_probed",
    "x_pagerank",
}

# CROSS JOIN is these entries' DECLARED SEMANTICS (reference grammar
# J5-J7 / comma-FROM) — nothing else in the catalog is allowed to plan
# a BroadcastNestedLoopJoin or CartesianProduct. The former whitelist
# of benign 1-row scalar attachments (relevance family, pagerank
# iteration, funnel counts, quantile lists, ntile/negative-sampling
# corpus counts) is gone: those now go through
# operators/scalars.py::broadcast_attach, which plans the same
# broadcast as a constant-key BroadcastHashJoin, and the two formerly
# all-pairs entries (sim_knn_join, x_pagerank's edge build) now run
# the IVF cell-keyed equi-join (similarity.py::knn_join_ivf). A BNLJ
# anywhere outside the three grammar entries is therefore an actual
# accidental cartesian product.
_CARTESIAN_OK = {
    "j_cross",
    "j_comma_implicit",
    "j_self_alias",
}

# BatchEvalPython = row-at-a-time Python UDF — never acceptable in this
# repo (Arrow-batched ArrowEvalPython / MapInPandas are the sanctioned
# Python boundaries).
_ROW_PYTHON_OK: set[str] = set()


@pytest.fixture(scope="module")
def _built(spark):
    fmt: dict[str, str] = {}
    tree: dict[str, str] = {}
    schemas: dict[str, object] = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, SF_DIR)
            fmt[name] = plan_string(df)
            tree[name] = df._jdf.queryExecution().executedPlan().toString()
            schemas[name] = df.schema
        except Exception as e:  # surface build breakage as lint failure
            fmt[name] = f"__BUILD_ERROR__ {type(e).__name__}: {e}"
            tree[name] = fmt[name]
    return fmt, tree, schemas


@pytest.fixture(scope="module")
def plans(_built):
    return _built[0]


@pytest.fixture(scope="module")
def trees(_built):
    return _built[1]


@pytest.fixture(scope="module")
def schemas(_built):
    return _built[2]


def test_all_entries_build(plans):
    broken = {n: p for n, p in plans.items() if p.startswith("__BUILD_ERROR__")}
    assert not broken, f"{len(broken)} entries failed to build: {broken}"


def test_no_row_at_a_time_python(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BatchEvalPython" in p and n not in _ROW_PYTHON_OK
    ]
    assert not bad, (
        f"row-at-a-time Python UDF (BatchEvalPython) in: {bad} — use "
        "built-in expressions or Arrow-batched pandas UDFs"
    )


def test_no_unexpected_cartesian(plans):
    bad = [
        n
        for n, p in plans.items()
        if ("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p)
        and n not in _CARTESIAN_OK
    ]
    assert not bad, f"cartesian/nested-loop join outside whitelist: {bad}"


def test_single_partition_only_moves_aggregates(trees):
    # Exchange SinglePartition is fine when its IMMEDIATE input is an
    # aggregate: a global partial+final aggregate's final exchange
    # carries one row per upstream partition (bounded by partition
    # count, never data volume), and a keyed aggregate feeding a tiny
    # global step (x_global_shuffle's 4096-row bucket-offset sum) is
    # one row per key. It is a scale bug when the exchange moves scan/
    # join/window output — the pre-round-3 global-rank shape, where the
    # whole table lands on one task. The round-6 census of all 229
    # entries found exactly the aggregate-fed kind (29 entries, every
    # occurrence partial_*-fed); this pins that census as a gate.
    op_re = re.compile(r"(?:\+- |^)(\*?\(\d+\) )?([A-Za-z]+)")
    # row-preserving wrappers between the exchange and the aggregate
    # keep the volume bound intact; walk through them.
    passthrough = {"Project", "Filter", "Sort", "WholeStageCodegen"}
    bad = []
    for n, p in trees.items():
        lines = p.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            verdict = None
            for x in lines[i + 1 : i + 12]:
                body = x.strip().strip(":+- ")
                if not body:  # tree-structure-only line
                    continue
                m = op_re.search(x.replace(":", " "))
                op = m.group(2) if m else body.split("(")[0]
                if op in passthrough:
                    continue
                verdict = op
                break
            if verdict not in ("HashAggregate", "ObjectHashAggregate",
                               "SortAggregate"):
                bad.append((n, verdict, line.strip()[:60]))
                break  # one finding per entry is enough
    assert not bad, (
        f"SinglePartition exchange whose input is not an aggregate: {bad}"
    )


def test_no_composite_output_columns(schemas):
    # The DRIVER's correctness gate canonicalizes results by sorting
    # raw pandas columns before hashing; an ArrayType/MapType output
    # column materializes as numpy.ndarray / dict cells, which pandas
    # sort_values cannot factorize (TypeError: unhashable type) — the
    # CORRECTNESS_r08 `f_array_setops` failure. tools/check_oracle.py
    # tuple-normalizes cells for its value compare, so this lint (plus
    # check_oracle's always-on driver_canon_error replay of the raw
    # sort) is what catches the class locally. Any entry exporting an
    # oracle must serialize composite values (array_join / to_json /
    # explode) before returning them.
    from pyspark.sql.types import ArrayType, MapType

    oracled = set(entrymod.oracle_sql())
    bad = [
        (n, f.name, f.dataType.simpleString())
        for n, schema in schemas.items()
        if n in oracled
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"oracled entries with top-level array/map output columns {bad} — "
        "the driver's pandas canonicalizer crashes on these; serialize "
        "(array_join/to_json) or explode before returning"
    )


# Entries allowed to hash-exchange on the raw `text` column. Keep this
# empty: a shuffle keyed on full document text moves the whole corpus
# as keys (the 100-TB shuffle-volume rule is "exchange fixed-width
# hashes/signatures, never raw text" — see SCALE.md dedup section and
# the round-10 memory-pressure ledger where exactly this property is
# what lets simhash run 100x under a 2 GiB heap with zero spill).
# Anything that needs text-equality semantics must key on
# xxhash64/md5(text) instead.
_TEXT_EXCHANGE_OK: set[str] = set()


def test_no_exchange_keyed_on_raw_text(trees):
    bad = []
    for n, p in trees.items():
        if n in _TEXT_EXCHANGE_OK:
            continue
        for line in p.splitlines():
            if "hashpartitioning(" not in line:
                continue
            keys = line.split("hashpartitioning(", 1)[1]
            if re.search(r"(?<![\w.])text#\d+", keys.split(")")[0] + ")"):
                bad.append((n, line.strip()[:90]))
                break
    assert not bad, (
        f"exchange keyed on raw document text (shuffle volume scales "
        f"with corpus bytes, not row count): {bad}"
    )


def test_no_unused_imports():
    """Source lint: every import in the library is used, listed in its
    module's ``__all__``, or marked ``# noqa`` (a deliberate re-export
    or import side effect)."""
    pkg = Path(__file__).resolve().parent.parent / "dataframe_sql_spark"
    hits = []
    for p in sorted(pkg.rglob("*.py")):
        src = p.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in tree.body:
            if isinstance(n, ast.Assign) and "__all__" in [
                getattr(t, "id", None) for t in n.targets
            ]:
                used |= {e.value for e in n.value.elts}
        for n in ast.walk(tree):
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(n, "module", None) == "__future__" or any(
                "noqa" in line for line in lines[n.lineno - 1 : n.end_lineno]
            ):
                continue
            hits += [
                f"{p.relative_to(pkg.parent)}:{n.lineno}: {a.asname or a.name}"
                for a in n.names
                if (a.asname or a.name).split(".")[0] not in used
            ]
    assert hits == [], "\n".join(hits)


def test_word_tokenizer_spelled_once():
    """Source lint: the lowercased whitespace tokenization
    ``F.split(F.trim(F.lower(...)), ...)`` is spelled only in
    ``functions/text.py`` (``words``); every other operator calls it,
    so all text operators and their oracles share one tokenizer."""
    pkg = Path(__file__).resolve().parent.parent / "dataframe_sql_spark"
    hits = [
        f"{p.relative_to(pkg.parent)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "functions" / "text.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "F.split(F.trim(F.lower(" in line
    ]
    assert hits == [], "\n".join(hits)


_PKG = Path(__file__).resolve().parent.parent / "dataframe_sql_spark"


def _sites(paths, hit) -> list[tuple[str, str | None]]:
    """``(file:line, innermost enclosing function)`` of every AST node
    in ``paths`` that ``hit`` accepts, in source order."""
    out = []

    def visit(node, fn, p):
        if hit(node):
            out.append((f"{p.relative_to(_PKG.parent)}:{node.lineno}", fn))
        for child in ast.iter_child_nodes(node):
            visit(child, child.name if isinstance(child, ast.FunctionDef) else fn, p)

    for p in paths:
        visit(ast.parse(p.read_text()), None, p)
    return out


def _call_to(node, name: str) -> bool:
    """``node`` calls ``name`` (a bare name or an attribute)."""
    return isinstance(node, ast.Call) and name in (
        getattr(node.func, "id", None),
        getattr(node.func, "attr", None),
    )


def test_map_in_pandas_spelled_once():
    """Source lint: ``.mapInPandas(`` appears in the package only
    inside ``operators/scalars.py``'s ``map_batches``, so every
    row-batch kernel crosses Arrow through one scaffold."""
    sites = _sites(
        sorted(_PKG.rglob("*.py")),
        lambda n: isinstance(n, ast.Attribute) and n.attr == "mapInPandas",
    )
    assert [fn for _, fn in sites] == ["map_batches"], sites


def test_ann_query_steps_spelled_once():
    """Source lint: each step of an ANN query has one home in the
    package. The exact rerank score (``cosine_col(...).alias("score")``)
    is built only in ``cosine_topk``; driver-side cell ranking calls
    ``_cos_py`` only in ``_rank_cells``; and ``operators/similarity.py``
    opens files only in the index side-file writer (``_write_index``)
    and reader (``_read_meta``)."""
    files = sorted(_PKG.rglob("*.py"))
    reranks = _sites(
        files,
        lambda n: _call_to(n, "alias")
        and _call_to(getattr(n.func, "value", None), "cosine_col")
        and [getattr(a, "value", None) for a in n.args] == ["score"],
    )
    assert [fn for _, fn in reranks] == ["cosine_topk"], reranks
    rankings = _sites(files, lambda n: _call_to(n, "_cos_py"))
    assert [fn for _, fn in rankings] == ["_rank_cells"], rankings
    opens = _sites([_PKG / "operators" / "similarity.py"], lambda n: _call_to(n, "open"))
    assert [fn for _, fn in opens] == ["_write_index", "_read_meta"], opens


# Functions allowed an eager lineage cut (``truncate_lineage``): the
# iterative graph operators, whose plan would otherwise double every
# round, and the featurize-once cuts of the dedup, relevance, ANN and
# pipeline operators (the MinHash family's gram frame is cut only in
# ``minhash_pairs`` and ``incremental_minhash_dedup``). A global rank
# places rows by a pure function of the sort key, so neither it nor
# its callers need a cut.
_LINEAGE_CUT_OK = {
    "connected_components",
    "pagerank",
    "minhash_pairs",
    "incremental_minhash_dedup",
    "simhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "prefix_filter_pairs",
    "dsir_weights",
    "pmi_bigrams",
    "knn_join_indexed",
    "_pipe_dedup_funnel",
}


def test_row_placement_is_not_sampled_and_lineage_cuts_are_named():
    """Source lint: no operator places rows by Spark's sampled range
    partitioner or reads ``spark_partition_id`` (both change from one
    run to the next), except the parquet layout writers, which only
    choose file boundaries; and ``truncate_lineage`` is called only
    from ``_LINEAGE_CUT_OK``, and Spark's checkpoints only inside it
    (``operators/lineage.py``), so a configured checkpoint directory
    makes every cut reliable."""
    files = sorted(_PKG.rglob("*.py"))
    ranged = _sites(files, lambda n: _call_to(n, "repartitionByRange"))
    assert {fn for _, fn in ranged} <= {"write_clustered", "compact_small_files"}, ranged
    assert _sites(files, lambda n: _call_to(n, "spark_partition_id")) == []
    cuts = _sites(files, lambda n: _call_to(n, "truncate_lineage"))
    assert {fn for _, fn in cuts} <= _LINEAGE_CUT_OK, cuts
    direct = _sites(
        [p for p in files if p != _PKG / "operators" / "lineage.py"],
        lambda n: _call_to(n, "localCheckpoint") or _call_to(n, "checkpoint"),
    )
    assert direct == [], direct


def test_cell_scores_only_in_score_blocks():
    """Source lint: IVF cell scores are computed only by
    ``_score_blocks``. No ``round(…, CELL_SCORE_DECIMALS)`` outside
    ``_cos_py``'s constant-query ranking, and no Python ``_dot``."""
    sites = _sites(
        sorted(_PKG.rglob("*.py")),
        lambda n: (isinstance(n, ast.FunctionDef) and n.name == "_dot")
        or (
            _call_to(n, "round")
            and any(getattr(a, "id", None) == "CELL_SCORE_DECIMALS" for a in n.args)
        ),
    )
    assert [fn for _, fn in sites] == ["_cos_py"], sites
