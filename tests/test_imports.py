"""No module imports a name it never uses.

An imported name counts as used when the scope that imports it loads it:
the whole module for a top-level import, the enclosing function for an
import inside one. Names inside string annotations (``"pd.DataFrame"``)
count as loads. The package's ``__init__.py`` files are left out: their
imports are re-exports.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "mapreduce_kmeans_clustering_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _sources() -> list[Path]:
    return [
        *(p for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"),
        *sorted((REPO / "tests").glob("*.py")),
        REPO / "bench.py",
        *sorted((REPO / "tools").glob("*.py")),
    ]


def _annotation(n: ast.AST) -> ast.AST | None:
    if isinstance(n, (ast.arg, ast.AnnAssign)):
        return n.annotation
    if isinstance(n, DEFS):
        return n.returns
    return None


def _loads(scope: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(scope):
        if isinstance(n, ast.Name):
            out.add(n.id)
        for s in ast.walk(_annotation(n) or ast.Pass()):
            if isinstance(s, ast.Constant) and isinstance(s.value, str):
                out |= _loads(ast.parse(s.value, mode="eval"))
    return out


def _own_imports(scope: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """The imports a scope makes itself, not those of a nested function."""
    owned, todo = [], list(scope.body)
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            owned.append(n)
        elif not isinstance(n, (*DEFS, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(n))
    return owned


def _bound_names(stmt: ast.Import | ast.ImportFrom) -> list[str]:
    if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
        return []
    return [a.asname or a.name.split(".")[0] for a in stmt.names if a.name != "*"]


def unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    out = []
    for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, DEFS))]:
        owned = _own_imports(scope)
        if not owned:
            continue
        loads = _loads(scope)
        out += [
            f"{path.relative_to(REPO)}:{stmt.lineno} {name}"
            for stmt in owned
            for name in _bound_names(stmt)
            if name not in loads
        ]
    return sorted(out)


def test_no_unused_imports():
    found = [u for path in _sources() for u in unused_imports(path)]
    assert found == [], f"{len(found)} unused imports: {found}"
