"""Pairwise cosine has one kernel module, and it stays one module.

Every pairwise score runs the numpy fold of ``operators/cosine.py``.
The Spark higher-order-function dot product,
``aggregate(zip_with(a, b, x*y), 0.0, acc + v)``, may appear only where
one row is scored against one vector and there is no pair table to
avoid: semdedup's cosine-to-centroid column (``operators/semdedup.py``)
and ``similarity.hyperplane_signature``, the executable spec of the LSH
signature. This test walks ``downloader_spark/`` with ``ast`` and fails
naming every other ``aggregate`` whose array argument is a
``zip_with``. Static only: no Spark session, nothing is imported.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "downloader_spark"
#: module (relative to the package) -> functions allowed the HOF dot;
#: None allows the whole module
ALLOWED = {
    "operators/semdedup.py": None,
    "operators/similarity.py": {"hyperplane_signature"},
}


def _called(node: ast.AST, name: str) -> bool:
    """``node`` is a call of ``name`` (``name(...)`` or ``X.name(...)``)."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == name) or (
        isinstance(f, ast.Attribute) and f.attr == name
    )


def violations(package: Path) -> list[str]:
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        allowed = ALLOWED.get(rel, set())
        if allowed is None:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        scopes = [(None, tree)] + [
            (n.name, n) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for fn, scope in scopes:
            if fn in allowed:
                continue
            assigned: dict[str, list[ast.AST]] = {}
            calls = []
            # this scope's own statements only: nested functions are
            # scopes of their own (lambdas are not)
            todo = list(ast.iter_child_nodes(scope))
            while todo:
                n = todo.pop()
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if isinstance(n, ast.Assign):
                    for t in n.targets:
                        if isinstance(t, ast.Name):
                            assigned.setdefault(t.id, []).append(n.value)
                if _called(n, "aggregate") and n.args:
                    calls.append(n)
                todo += ast.iter_child_nodes(n)
            for call in calls:
                arr = call.args[0]
                sources = [arr]
                if isinstance(arr, ast.Name):  # one level of local names
                    sources += assigned.get(arr.id, [])
                if any(_called(s, "zip_with") for s in sources):
                    found.append(
                        f"{rel}:{call.lineno} ({fn or '<module>'}): "
                        "aggregate(zip_with(...)) dot product"
                    )
    return sorted(found)


def test_one_cosine_kernel():
    bad = violations(PACKAGE)
    assert not bad, "HOF dot product outside the allowed sites:\n" + "\n".join(bad)


def test_guard_sees_both_forms(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "operators" / "semdedup.py").write_text(
        "def _dot(a, b):\n"
        "    return F.aggregate(F.zip_with(a, b, f), F.lit(0.0), g)\n"
    )
    (pkg / "operators" / "similarity.py").write_text(
        "def hyperplane_signature(v, w):\n"
        "    return F.aggregate(F.zip_with(v, w, f), F.lit(0.0), g)\n"
        "def _dot(a, b):\n"
        "    return F.aggregate(F.zip_with(a, b, f), F.lit(0.0), g)\n"
    )
    (pkg / "q.py").write_text(
        "def named(a, b):\n"
        "    prods = F.zip_with(a, b, f)\n"
        "    return F.aggregate(prods, F.lit(0.0), g)\n"
        "def norm(a):\n"
        "    return F.aggregate(F.transform(a, f), F.lit(0.0), g)\n"
        "def pairs(a):\n"
        "    return F.explode(F.zip_with(a, a, f))\n"
    )
    assert violations(pkg) == [
        "operators/similarity.py:4 (_dot): aggregate(zip_with(...)) dot product",
        "q.py:3 (named): aggregate(zip_with(...)) dot product",
    ]
