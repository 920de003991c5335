"""Static check that ``sparc/`` builds driver-side DataFrames one way.

``spark.createDataFrame`` on a Python list (and ``parallelize``) makes a
Python RDD, which plans as ``Scan ExistingRDD``: every task of every job
that reads it first runs a hidden Python stage in a second worker pool.
``partition.local_frame`` builds an Arrow LocalTableScan instead, so it
must be the only place in ``sparc/`` that calls either."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BANNED = {"createDataFrame", "parallelize"}
HELPER = (os.path.join("sparc", "job", "partition.py"), "local_frame")


class _Calls(ast.NodeVisitor):
    """(line, enclosing function, attribute) of every banned call."""

    def __init__(self) -> None:
        self.scope: list[str] = []
        self.found: list[tuple[int, str, str]] = []

    def visit_FunctionDef(self, node) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node: ast.Call) -> None:
        if isinstance(node.func, ast.Attribute) and node.func.attr in BANNED:
            self.found.append((node.lineno, ".".join(self.scope), node.func.attr))
        self.generic_visit(node)


def test_only_local_frame_builds_driver_frames():
    allowed, bad = 0, []
    for path in sorted(glob.glob(os.path.join(REPO, "sparc", "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, REPO)
        calls = _Calls()
        calls.visit(ast.parse(open(path).read(), filename=path))
        for line, scope, attr in calls.found:
            if (rel, scope) == HELPER and attr == "createDataFrame":
                allowed += 1
            else:
                bad.append(f"{rel}:{line} {attr} in {scope or '<module>'}")
    assert allowed == 1, "partition.local_frame no longer calls createDataFrame"
    assert not bad, "build driver-side DataFrames with partition.local_frame:\n" + "\n".join(bad)
