"""No engine code that only a test calls.

Every top-level def in ``kubenetmon_spark/`` (except ``gate.py``, the
oracle harness) must be named somewhere a user or a workload reaches it:
another engine file, its own module outside its body, ``tools/``,
``bench.py``, ``__spark_entry__.py``, ``perfbench/`` (not its tests) or
MIGRATION.md. A name that appears only in ``tests/`` is dead weight that
is loaded, documented and maintained for nothing. Pure ``ast`` and text
matching; no Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kubenetmon_spark"

# name -> why it stays although nothing outside tests names it
EXEMPT = {
    "fx_ln_int": "reference implementation the fixed-point log is tested against",
    "decode_observation_summary": "client-side inverse of the gRPC servicer's reply",
    "send_frames": "client half of the bridge tools/ingest_bridge.py serves",
    "read_bridge_stream": "reader half of the bridge tools/ingest_bridge.py serves",
    "start_topk_stream": "rank-and-upsert half of MIGRATION's sliding-window top-k",
    "read_topk": "reader of MIGRATION's sliding-window top-k table",
    "normalized_query_hash": "MIGRATION documents it as normalizedQueryHash",
}


def _outside_texts() -> list[str]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / "MIGRATION.md"]
    files += sorted((ROOT / "tools").glob("*.py"))
    bench = ROOT / "perfbench"
    files += [p for p in sorted(bench.rglob("*.py")) if "tests" not in p.relative_to(bench).parts]
    return [p.read_text() for p in files if p.exists()]


def unreached_defs() -> list[str]:
    modules = {p: p.read_text() for p in sorted(PKG.rglob("*.py"))}
    outside = _outside_texts()
    found = []
    for path, text in modules.items():
        if path.name == "gate.py":
            continue
        lines = text.splitlines()
        others = [t for p, t in modules.items() if p != path] + outside
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            # decorated defs are registered, dunders are called by Python
            if node.decorator_list or node.name.startswith("__"):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            own = "\n".join(lines[: node.lineno - 1] + lines[node.end_lineno :])
            if word.search(own) or any(word.search(t) for t in others):
                continue
            found.append(f"{path.relative_to(ROOT)}::{node.name}")
    return found


def test_every_engine_def_is_reached_outside_tests():
    unreached = [d for d in unreached_defs() if d.split("::")[1] not in EXEMPT]
    # give each a caller, a MIGRATION entry, or delete it
    assert unreached == [], f"engine defs only tests reach: {unreached}"


def test_exemptions_are_all_still_needed():
    names = {d.split("::")[1] for d in unreached_defs()}
    assert names >= set(EXEMPT), f"exempt but reached (drop from EXEMPT): {set(EXEMPT) - names}"
