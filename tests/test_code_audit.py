"""Static source audit — pins the engine's driver-memory discipline so a
future edit cannot silently reintroduce a corpus-sized materialization
or a forced broadcast of a data-dependent relation.

These are grep-level assertions over the package source (not the tests),
referenced by DEPLOY.md's memory-budget section.
"""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "flink_bm25_spark")

# Modules allowed to call .collect()/.first() on DataFrames, with the
# invariant that justifies each (all k-row / argmax / centroid-sized).
COLLECT_ALLOWED = {
    "operators/kmeans.py",      # k init rows + k×d centroid stats
    "operators/text_analysis.py",  # BPE argmax: limit(1) per merge round
    "operators/similarity.py",  # IVF centroid table (n_cells × d)
    "operators/multimodal.py",  # total-byte scalar for repartition sizing
    "api.py",                   # save(): n_docs scalar for metadata
    "operators/pipeline.py",    # corpus_size scalar (count)
    "operators/ml.py",          # power iteration: d rows (one per dim) per round
    "operators/decontam.py",    # Bloom filter rows: bits/64 (16) rows
    "__main__.py",              # CLI search: prints the k-row top-k result
    "operators/sinks.py",       # shard manifest: n_shards rows (counts+checksum)
    "operators/serving.py",     # read state: one stats row per batch, <= HOT_CACHE_CAP hot words; batch-serve: <= ISIN_TERM_CAP+1 terms
    "streaming/index_maintenance.py",  # CDC control aggregate: one collect of ≤3 (op-kind, count) rows per micro-batch
    "operators/graph.py",  # CC fast path: ONE bounded limit(cap+1) probe; above the cap the distributed loop runs
}


def _pkg_sources():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG), open(path).read()


def test_collect_only_in_scalar_sized_modules():
    offenders = []
    for rel, src in _pkg_sources():
        if re.search(r"\.collect\(\)", src) and rel not in COLLECT_ALLOWED:
            offenders.append(rel)
    assert not offenders, (
        f"new .collect() in {offenders} — driver-side materialization must "
        "be k-row-sized and allow-listed here with its invariant"
    )


def test_no_topandas_in_package():
    offenders = [rel for rel, src in _pkg_sources() if ".toPandas()" in src]
    assert not offenders, offenders


def test_no_row_at_a_time_python_udf():
    # F.udf / @udf (row-at-a-time) is banned; Arrow paths (pandas_udf,
    # mapInPandas, applyInPandas) are the only Python escape hatches.
    offenders = []
    for rel, src in _pkg_sources():
        if re.search(r"\bF\.udf\(|@udf\b|functions\.udf\(", src):
            offenders.append(rel)
    assert not offenders, offenders


def test_forced_broadcasts_are_annotated_bounded():
    """Every F.broadcast( in the package must sit in a module that also
    documents the boundedness rule — and the known data-dependent sites
    (candidate sets, drop sets, snapshots) must NOT carry hints."""
    for rel in ("operators/cleaning.py", "streaming/wordcount.py"):
        src = open(os.path.join(PKG, rel)).read()
        # these modules were de-hinted deliberately; keep them that way
        if rel == "operators/cleaning.py":
            assert "F.broadcast" not in src, f"{rel} regained a forced hint"
    dedup = open(os.path.join(PKG, "operators/dedup.py")).read()
    # the only dedup hints left are bounded by construction: the hot-gram
    # set (df > cap, tiny), the 4-row band-id literal (spark.range), and
    # dedup_stats' 1-row clustered-count scalar
    hints = re.findall(r"F\.broadcast\(\s*(\w+)", dedup)
    assert set(hints) <= {"hot", "spark", "n_clustered"}, hints


# f / f_by pairs in operators/ that keep two implementations, each a
# different physical plan (every other grouped statistic takes
# ``group_cols``: ungrouped is grouped over zero keys).
GROUPED_TWINS_ALLOWED = {
    # dense 64-register contract (absent buckets as rank-0 rows) vs the
    # sparse grouped registers
    "operators/sketches.py::hll_buckets",
    # TakeOrderedAndProject vs WindowGroupLimit: an ungrouped row_number
    # window would be an unpartitioned WindowExec (a one-task sort)
    "operators/sketches.py::kmv_sketch",
}


def test_no_grouped_twins():
    """No operator module defines both ``f`` and a grouped twin
    ``f_by`` (or ``f_approx`` and ``f_by_approx``) at top level."""
    twins = []
    for rel, src in _pkg_sources():
        if not rel.startswith("operators" + os.sep):
            continue
        names = {
            n.name
            for n in ast.parse(src).body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        for n in sorted(names):
            base = re.sub(r"_by(?=_|$)", "", n)
            if base != n and base in names:
                twins.append(f"{rel}::{base}")
    assert set(twins) <= GROUPED_TWINS_ALLOWED, sorted(
        set(twins) - GROUPED_TWINS_ALLOWED
    )


# ``*incremental*`` functions in operators/ kept beside their batch form
# (every other family takes ``store=``: a batch is the first delta
# against an empty store).
INCREMENTAL_TWINS_ALLOWED = {
    # shares every helper with ``line_dedup`` and returns the store
    # delta (the unseen lines), which the batch form has no use for
    "operators/dedup.py::line_dedup_incremental",
}


def test_no_incremental_twins():
    """No module under ``operators/`` defines a top-level function whose
    name contains ``incremental``, except the allow-listed ones."""
    found = set()
    for rel, src in _pkg_sources():
        if not rel.startswith("operators" + os.sep):
            continue
        found |= {
            f"{rel}::{n.name}"
            for n in ast.parse(src).body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and "incremental" in n.name
        }
    assert found <= INCREMENTAL_TWINS_ALLOWED, sorted(
        found - INCREMENTAL_TWINS_ALLOWED
    )


def _calls(tree, name: str):
    """Every call of ``name`` (bare or as an attribute) in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            called = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None
            )
            if called == name:
                yield node


def test_one_bm25_core():
    """The BM25 contribution is written once (``bm25_score_expr`` has
    one call site, the scoring core), and the per-key ``row_number() <=
    k`` cut lives only in ``bm25.rank_topk``."""
    score_sites, rk_sites = [], []
    for rel, src in _pkg_sources():
        tree = ast.parse(src)
        score_sites += [
            f"{rel}:{c.lineno}" for c in _calls(tree, "bm25_score_expr")
        ]
        owners = {
            id(call): fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            for call in ast.walk(fn)
        }
        for c in _calls(tree, "withColumn"):
            if (
                len(c.args) == 2
                and isinstance(c.args[0], ast.Constant)
                and c.args[0].value == "rk"
                and any(_calls(c.args[1], "row_number"))
            ):
                where = f"{rel}::{owners.get(id(c))}"
                if where != os.path.join("operators", "bm25.py") + "::rank_topk":
                    rk_sites.append(f"{where}:{c.lineno}")
    assert len(score_sites) == 1, score_sites
    assert not rk_sites, rk_sites
