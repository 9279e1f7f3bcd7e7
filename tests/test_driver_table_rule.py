"""The engine has one driver-table rule, and it stays one rule.

Every table built from rows held on the driver enters Spark through
``session.local_frame``, an Arrow-built ``LocalRelation`` read with no
Python worker. ``spark.createDataFrame(list)`` would be a ``LogicalRDD``
over a ``PythonRDD``: every job that reads it runs Python-worker tasks
that only unpickle the rows again. This test walks ``downloader_spark/``
with ``ast`` and fails naming every ``createDataFrame(`` call outside
``local_frame``. Static only: no Spark session, nothing is imported.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "downloader_spark"
#: (module path relative to the package, function) allowed to call
#: createDataFrame
LOCAL_FRAME = ("session.py", "local_frame")


def violations(package: Path) -> list[str]:
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        # (node, innermost enclosing function name)
        todo = [(tree, None)]
        while todo:
            n, fn = todo.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = n.name
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
                and (rel, fn) != LOCAL_FRAME
            ):
                found.append(f"{rel}:{n.lineno} ({fn or '<module>'}): createDataFrame")
            todo += [(c, fn) for c in ast.iter_child_nodes(n)]
    return sorted(found)


def test_one_driver_table_rule():
    bad = violations(PACKAGE)
    assert not bad, "driver tables outside session.local_frame:\n" + "\n".join(bad)


def test_guard_sees_every_call(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "ops").mkdir(parents=True)
    (pkg / "session.py").write_text(
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
    )
    (pkg / "ops" / "q.py").write_text(
        "def a(spark):\n"
        "    return spark.createDataFrame([(1,)], 'x long')\n"
        "def b(df):\n"
        "    def inner(rows):\n"
        "        return df.sparkSession.createDataFrame(rows)\n"
        "    return inner\n"
        "SEEDS = spark.createDataFrame([], 'url string')\n"
    )
    assert violations(pkg) == [
        "ops/q.py:2 (a): createDataFrame",
        "ops/q.py:5 (inner): createDataFrame",
        "ops/q.py:7 (<module>): createDataFrame",
    ]
