"""Package hygiene, checked on the source AST: the package reports
through ``logging`` (only the CLI entry point prints, and nothing
calls ``warnings.warn``), and it guards
with exceptions, never with ``assert`` — asserts vanish under
``python -O`` and, inside an Arrow worker closure, fail as an opaque
worker crash far from the cause.  The ingest modules build each table
in one projection: no ``withColumn``/``withColumnRenamed`` inside a
loop, where each call re-analyzes the growing plan on the driver.
No module creates a ``SparkContext`` broadcast: its blocks outlive the
query unless someone unpersists them, while a value in a kernel's
closure ships with the stage's tasks and goes with the stage
(``F.broadcast`` join hints are plan hints, not broadcast variables,
and stay allowed)."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).parents[1] / "healthkit_to_sqlite_spark"


def _offences():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE.parent)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Assert):
                yield f"{rel}:{node.lineno}: assert statement"
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Name)
                  and node.func.id == "print"
                  and path.name != "__main__.py"):
                yield f"{rel}:{node.lineno}: print() call"
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and isinstance(node.func.value, ast.Name)
                  and (node.func.value.id, node.func.attr) == ("warnings", "warn")):
                yield f"{rel}:{node.lineno}: warnings.warn() call"


def test_package_has_no_print_or_assert():
    assert list(_offences()) == []


#: modules whose output tables are built by one select each
ONE_SELECT_MODULES = ("sources/healthkit.py", "operators/schema_infer.py",
                      "streaming/ingest.py")


def _column_loops():
    for name in ONE_SELECT_MODULES:
        path = PACKAGE / name
        for loop in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                continue
            for stmt in loop.body + loop.orelse:
                for node in ast.walk(stmt):
                    if (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr in ("withColumn",
                                                   "withColumnRenamed")):
                        yield f"{name}:{node.lineno}: {node.func.attr} in a loop"


def test_ingest_has_no_column_by_column_loops():
    assert list(_column_loops()) == []


def _context_broadcasts():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE.parent)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            # any ``<x>.broadcast(`` but the ``F.broadcast`` join hint:
            # ``spark.sparkContext.broadcast`` and ``sc.broadcast`` alike
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and not (isinstance(node.func.value, ast.Name)
                             and node.func.value.id == "F")):
                yield f"{rel}:{node.lineno}: {ast.unparse(node.func)}()"


def test_package_creates_no_context_broadcasts():
    assert list(_context_broadcasts()) == []
