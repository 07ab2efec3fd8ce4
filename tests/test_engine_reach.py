"""No engine code that only a test calls.

Every top-level def in ``kubenetmon_spark/`` (except ``gate.py``, the
oracle harness) must be referenced by code a user or a workload runs:
another engine file, its own module outside its body, ``tools/``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/`` (not its tests).
A reference is what ``ast`` finds: a ``Name``, an ``Attribute`` or an
``import``/``from ... import`` name. Comments, docstrings and other
strings do not count, so two defs that name each other only in prose
are both unreached. MIGRATION.md, the one document that promises an API
to users, still counts by text. A name only ``tests/`` reach is dead
weight that is loaded, documented and maintained for nothing. No Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kubenetmon_spark"

# name -> why it stays although no code outside tests references it
EXEMPT = {
    "fx_ln_int": "reference implementation the fixed-point log is tested against",
    "decode_observation_summary": "client-side inverse of the gRPC servicer's reply",
    "send_frames": "client half of the bridge tools/ingest_bridge.py serves",
    "read_bridge_stream": "reader half of the bridge tools/ingest_bridge.py serves",
    "start_topk_stream": "rank-and-upsert half of MIGRATION's sliding-window top-k",
    "read_topk": "reader of MIGRATION's sliding-window top-k table",
    "normalized_query_hash": "MIGRATION documents it as normalizedQueryHash",
    "cross_az_traffic": "perfbench's dashboard mix calls it by name (getattr)",
    "connection_posture": "perfbench's dashboard mix calls it by name (getattr)",
    "node_throughput": "perfbench's dashboard mix calls it by name (getattr)",
}

# Defs that were reached only through prose when the guard moved from
# text to code references. Each is to be deleted or given a caller
# (ROADMAP); the list may only shrink.
PROSE_ONLY = {
    "BatchMetricsListener",
    "append_metrics_parquet",
    "reference_counters",
    "kmeans_fit",
    "decontaminate",
    "temperature_rates_bp",
    "dsir_log_weights",
    "gumbel_topk",
    "lpm_lookup_disjoint",
    "sample_frames",
    "bm25_topk",
    "ivf_index_stats",
    "signlsh_topk",
    "salted_join",
    "salted_sum",
    "candidate_files",
    "morton_decode2",
    "scan_flows",
    "start_incremental_dedup_stream",
}


def _references(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every name ``tree`` references in code, outside ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                out.update(alias.name.split("."))
        stack.extend(ast.iter_child_nodes(node))
    return out


def _outside_references() -> set[str]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    bench = ROOT / "perfbench"
    files += [p for p in sorted(bench.rglob("*.py")) if "tests" not in p.relative_to(bench).parts]
    out: set[str] = set()
    for p in files:
        if p.exists():
            out |= _references(ast.parse(p.read_text()))
    return out


def unreached_defs() -> list[str]:
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    refs = {p: _references(t) for p, t in trees.items()}
    outside = _outside_references()
    migration = (ROOT / "MIGRATION.md").read_text()
    found = []
    for path, tree in trees.items():
        if path.name == "gate.py":
            continue
        others = outside.union(*(r for p, r in refs.items() if p != path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            # decorated defs are registered, dunders are called by Python
            if node.decorator_list or node.name.startswith("__"):
                continue
            if node.name in others or node.name in _references(tree, skip=node):
                continue
            if re.search(rf"\b{re.escape(node.name)}\b", migration):
                continue
            found.append(f"{path.relative_to(ROOT)}::{node.name}")
    return found


def test_every_engine_def_is_reached_outside_tests():
    allowed = set(EXEMPT) | PROSE_ONLY
    unreached = [d for d in unreached_defs() if d.split("::")[1] not in allowed]
    # give each a caller, a MIGRATION entry, or delete it
    assert unreached == [], f"engine defs only tests reach: {unreached}"


def test_exemptions_are_all_still_needed():
    names = {d.split("::")[1] for d in unreached_defs()}
    stale = (set(EXEMPT) | PROSE_ONLY) - names
    assert not stale, f"listed but reached (drop from EXEMPT/PROSE_ONLY): {stale}"


def test_prose_does_not_count_as_a_reference():
    tree = ast.parse(
        'def a():\n    """calls b"""\n    # and b again\n    return "b"\n'
        "def b():\n    return a()\n"
    )
    a, b = tree.body
    assert "b" not in _references(tree, skip=b)
    assert "a" in _references(tree, skip=a)
