"""Every module of the package is reached from an entry point.

The engine is run from four places: the crawl scripts
(``scripts/*.py``), the driver contract (``__spark_entry__.py``), and
the benchmarks (``bench.py``, ``bench_extra.py``, ``perfbench/*.py``).
This test walks the ``import`` / ``from ... import`` nodes of those
roots and then of every package module they reach, including
function-local and relative imports, and fails naming each
``downloader_spark`` module that no root reaches. A module that only
tests import is dead code. Static only: no Spark session, nothing is
imported.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "downloader_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted((REPO / PACKAGE).rglob("*.py"))}


def _imported(path: Path, name: str | None, modules: dict[str, Path]) -> set[str]:
    """Package modules that the file at ``path`` imports anywhere in its
    body. ``name`` is its dotted module name (None for a root script,
    which has no package for relative imports to resolve against)."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                assert name is not None, f"relative import in root {path}"
                parts = name.split(".")
                base = parts if is_pkg else parts[:-1]
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules:
                    found.add(prefix)
    return found


def _roots() -> list[Path]:
    return (
        [REPO / "__spark_entry__.py", REPO / "bench.py", REPO / "bench_extra.py"]
        + sorted((REPO / "scripts").glob("*.py"))
        + sorted((REPO / "perfbench").glob("*.py"))
    )


def unreached_modules() -> list[str]:
    modules = _package_modules()
    todo: list[str] = []
    for root in _roots():
        todo.extend(_imported(root, None, modules))
    reached: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in reached:
            continue
        reached.add(mod)
        todo.extend(_imported(modules[mod], mod, modules) - reached)
    return sorted(set(modules) - reached)


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = unreached_modules()
    assert not unreached, f"no entry point imports: {unreached}"
