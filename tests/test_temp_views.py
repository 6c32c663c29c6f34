"""Temp views are session-global, and ``tools/parity.py`` builds queries on
several threads of one session: two builders that register the same
literal view name can replace each other's view between registration and
analysis. Every literal ``createOrReplaceTempView`` name therefore
belongs to exactly one function."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "etl_poor_main_pipeline_spark"


class _ViewNames(ast.NodeVisitor):
    """Literal view name -> the functions (``module:qualname``) that
    register it."""

    def __init__(self, owners: dict[str, set[str]], module: str):
        self.owners, self.module, self.stack = owners, module, []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "createOrReplaceTempView"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            self.owners[node.args[0].value].add(f"{self.module}:{'.'.join(self.stack)}")
        self.generic_visit(node)


def test_each_literal_temp_view_has_one_builder():
    owners: dict[str, set[str]] = defaultdict(set)
    for path in sorted(PKG.rglob("*.py")):
        module = path.relative_to(PKG).with_suffix("").as_posix().replace("/", ".")
        _ViewNames(owners, module).visit(ast.parse(path.read_text()))
    assert owners, "the scan found no literal view names"
    shared = {name: sorted(fns) for name, fns in owners.items() if len(fns) > 1}
    assert shared == {}
