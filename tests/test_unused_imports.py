"""No unused imports in the package, ``tools/``, ``bench.py`` or ``tests/``.

An import is used when its bound name appears as a name anywhere in the
same file (attribute chains count through their root name), in a string
annotation, or in ``__all__``. ``from __future__`` imports and lines
carrying ``# noqa`` (re-exports, imports kept for a side effect) are
exempt. Module-wide rather than scope-aware, so it can miss an import
that a same-named local shadows, but it never flags a used one.

AST only, no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    files = [REPO / "bench.py"]
    for d in ("etl_poor_main_pipeline_spark", "tools", "tests"):
        files += (REPO / d).rglob("*.py")
    return sorted(files)


def _used_names(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    annotations: list[ast.expr] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.arg) and node.annotation is not None:
            annotations.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.returns:
            annotations.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(
                c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)
            )
    for ann in annotations:
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                try:
                    parsed = ast.parse(c.value, mode="eval")
                except SyntaxError:
                    continue
                used.update(n.id for n in ast.walk(parsed) if isinstance(n, ast.Name))
    return used


def unused_imports(path: Path) -> list[tuple[int, str]]:
    """``(line, name)`` for every import in ``path`` whose bound name is
    never used."""
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src, filename=str(path))
    used = _used_names(tree)
    out: list[tuple[int, str]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if "# noqa" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            if alias.name == "*" or "# noqa" in lines[alias.lineno - 1]:
                continue
            bound = alias.asname or alias.name.split(".")[0]
            if bound not in used:
                out.append((alias.lineno, bound))
    return out


def test_no_unused_imports():
    dead = [
        f"{path.relative_to(REPO)}:{line} {name}"
        for path in _sources()
        for line, name in unused_imports(path)
    ]
    assert not dead, f"{len(dead)} unused imports: " + ", ".join(dead)


def test_detector_flags_and_exempts(tmp_path):
    # the scan is vacuous if it flags nothing it should
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from __future__ import annotations\n"
        "import os\n"
        "import sys  # noqa: F401\n"
        "import json as j\n"
        "from typing import Any, Optional\n"
        "def f(x: 'Optional[int]') -> None:\n"
        "    return j.dumps(x)\n"
    )
    assert [name for _, name in unused_imports(probe)] == ["os", "Any"]

