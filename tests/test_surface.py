"""The library surface is drawn by reachability (README "Package layout").

A top-level package name is in the surface if and only if a root reaches
it through name references in the code:

(a) a registered query (``@query``, with its oracle) and the registry
    module ``queries/__init__.py`` (``WARMUPS``, ``ALL_QUERIES``);
(b) the paper path: ``sources/``, ``plans/kmeans.py``, the n-dim fit and
    its step, ``operators/assign.py``, the centroid update and members,
    ``operators/silhouette.py``, ``sinks/text_kv.py`` and
    ``plans/mllib_backend.py``;
(c) the measurement code: ``bench.py``, ``__spark_entry__.py``,
    ``perfbench/`` and ``tools/``;
(d) the identifiers DEPLOY.md cites in backticks (its runbook).

Names reachable from tests alone fall outside the surface, except the
short list of test-oracle twins below. The walk is by name, not by
module, so a shared name keeps every def that carries it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "mapreduce_kmeans_clustering_spark"

# (b) the paper path, as (module relative to the package, names or None
# for the whole module).
PAPER_PATH = {
    "sources/points.py": None,
    "sources/seeds.py": None,
    "sources/documents.py": None,
    "plans/kmeans.py": None,
    "plans/kmeans_nd.py": {
        "fit_nd", "lloyd_partials_nd", "init_farthest_nd",
        "farthest_trace_nd", "assign_nd",
    },
    "plans/mllib_backend.py": None,
    "operators/assign.py": None,
    "operators/aggregate.py": {"update_centroids", "members"},
    "operators/silhouette.py": None,
    "sinks/text_kv.py": None,
}

# Kept only as the oracle a test checks a kept path against: each is the
# plain, slow form of the path named beside it.
TEST_ORACLE_TWINS = {
    "update_centroids_nd",  # lloyd_partials_nd's per-step centroids
    "simhash_pairs_brute",  # simhash_pairs' banded candidates
    "embedding_near_dup_brute",  # embedding_near_dup_pairs' LSH pairs
    "extend_dsir_profile",  # merge_dsir_profiles' folded profile
    "extend_passage_index",  # merge_passage_indexes' folded index
    "bloom_screen_from_filter",  # merge_bloom_filters' folded filter
}


def _refs(node: ast.AST, strings: bool = False) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _is_query(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", []):
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def package_graph():
    """Top-level package defs as ``{(module, name): refs}``, plus the
    references made by module-level statements that run on import."""
    defs: dict[tuple[str, str], set[str]] = {}
    queries: set[str] = set()
    import_time: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(mod, stmt.name)] = _refs(stmt)
                if _is_query(stmt):
                    queries.add(stmt.name)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                refs = _refs(stmt.value) if stmt.value is not None else set()
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs[(mod, n.id)] = refs
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # an import (or __init__ re-export) is not a use
            elif isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
                continue  # docstring
            else:
                import_time |= _refs(stmt)
    return defs, queries, import_time


def roots(defs, queries, import_time) -> set[str]:
    out = set(queries) | import_time | TEST_ORACLE_TWINS
    # (a) the registry module itself
    out |= {name for (mod, name) in defs if mod == "queries/__init__.py"}
    # (b)
    for mod, names in PAPER_PATH.items():
        out |= {n for (m, n) in defs if m == mod and (names is None or n in names)}
    # (c)
    for path in [REPO / "bench.py", REPO / "__spark_entry__.py",
                 *sorted((REPO / "perfbench").glob("*.py")),
                 *sorted((REPO / "tools").glob("*.py"))]:
        out |= _refs(ast.parse(path.read_text()), strings=True)
    # (d)
    for span in re.findall(r"`([^`\n]+)`", (REPO / "DEPLOY.md").read_text()):
        out |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", span.split("(")[0]))
    return out


def reachable(defs, start: set[str]) -> set[str]:
    by_name: dict[str, list[set[str]]] = {}
    for (_, name), refs in defs.items():
        by_name.setdefault(name, []).append(refs)
    seen, todo = set(), list(start)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for refs in by_name.get(name, []):
            todo.extend(refs - seen)
    return seen


def test_every_package_name_is_reachable_from_a_root():
    defs, queries, import_time = package_graph()
    seen = reachable(defs, roots(defs, queries, import_time))
    outside = sorted(
        f"{mod}::{name}"
        for (mod, name) in defs
        if name not in seen and not mod.endswith("__init__.py")
        and not (name.startswith("__") and name.endswith("__"))
    )
    assert outside == [], f"{len(outside)} names outside the surface: {outside}"
