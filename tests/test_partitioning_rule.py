"""The engine has one partitioning rule, and it stays one rule.

``session.spread`` is the only place that sizes a repartition from the
session parallelism: it spreads a scan only when the input has fewer
files than ``defaultParallelism``. Snapshot layouts are keyed by the
column itself (``url``), never by ``pmod(xxhash64(col), P)``, whose at
most P distinct values cap the file count of the write however wide
the shuffle is. This test walks ``downloader_spark/`` with ``ast`` and
fails naming every ``.repartition(`` call that breaks either rule.
Static only: no Spark session, nothing is imported.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "downloader_spark"
#: (module path relative to the package, function) allowed to size a
#: repartition from the session parallelism
SPREAD = ("session.py", "spread")


def _names(node: ast.AST) -> set[str]:
    """Every Name id and Attribute attr in ``node``'s subtree."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _resolve(expr: ast.AST, assigned: dict[str, list[ast.AST]]) -> list[ast.AST]:
    """``expr`` plus, for each local name it reads, the expressions
    assigned to that name in the same function (one level)."""
    out = [expr]
    for name in _names(expr):
        out += assigned.get(name, [])
    return out


def _reads_parallelism(expr: ast.AST, assigned) -> bool:
    return any("defaultParallelism" in _names(e) for e in _resolve(expr, assigned))


def _is_pmod_hash(expr: ast.AST, assigned) -> bool:
    for e in _resolve(expr, assigned):
        for n in ast.walk(e):
            if isinstance(n, ast.Call) and "pmod" in _names(n.func):
                if any("xxhash64" in _names(a) for a in n.args):
                    return True
    return False


def violations(package: Path) -> list[str]:
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        scopes = [(None, tree)] + [
            (n.name, n) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for fn, scope in scopes:
            assigned: dict[str, list[ast.AST]] = {}
            calls = []
            # this scope's own statements only: nested functions are
            # scopes of their own
            todo = list(ast.iter_child_nodes(scope))
            while todo:
                n = todo.pop()
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                    continue
                if isinstance(n, ast.Assign):
                    for t in n.targets:
                        if isinstance(t, ast.Name):
                            assigned.setdefault(t.id, []).append(n.value)
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "repartition"
                ):
                    calls.append(n)
                todo += ast.iter_child_nodes(n)
            for call in calls:
                where = f"{rel}:{call.lineno} ({fn or '<module>'})"
                args = call.args + [k.value for k in call.keywords]
                if (
                    call.args
                    and _reads_parallelism(call.args[0], assigned)
                    and (rel, fn) != SPREAD
                ):
                    found.append(f"{where}: repartition sized by defaultParallelism")
                if any(_is_pmod_hash(a, assigned) for a in args):
                    found.append(f"{where}: repartition keyed by pmod(xxhash64(...))")
    return sorted(found)


def test_one_partitioning_rule():
    bad = violations(PACKAGE)
    assert not bad, "partitioning outside session.spread:\n" + "\n".join(bad)


def test_guard_sees_both_forms(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "session.py").write_text(
        "def spread(df, *cols):\n"
        "    par = df.sparkSession.sparkContext.defaultParallelism\n"
        "    return df.repartition(par, *cols)\n"
    )
    (pkg / "q.py").write_text(
        "def a(spark, df):\n"
        "    return df.repartition(spark.sparkContext.defaultParallelism)\n"
        "def b(df, n):\n"
        "    key = F.pmod(F.xxhash64('host'), F.lit(64))\n"
        "    return df.repartition(n, key)\n"
        "def c(df, n):\n"
        "    return df.repartition(n, 'url')\n"
    )
    assert violations(pkg) == [
        "q.py:2 (a): repartition sized by defaultParallelism",
        "q.py:5 (b): repartition keyed by pmod(xxhash64(...))",
    ]
