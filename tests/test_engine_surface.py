"""Every public engine function or class has a user outside the tests.

A public top-level ``def``/``class`` of the package (outside the query
modules ``registry*.py`` and the plan-inspection library ``plans/``) must
either be referenced by name somewhere in non-test code — the package,
``bench.py``, ``tools/``, ``perfbench/``, ``__spark_entry__.py`` — or be
named in backticks in a MIGRATION.md / README.md table row, i.e. be the
engine's answer to a reference call or a coverage-map claim. A helper that
only its own test calls fails here: delete it, or name the row it serves.

AST only, no Spark session.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "etl_poor_main_pipeline_spark"


def _non_test_sources() -> list[Path]:
    files = list(PKG.rglob("*.py"))
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += [p for p in (REPO / d).rglob("*.py") if not p.name.startswith("test_")]
    return files


def _in_scope(path: Path) -> bool:
    rel = path.relative_to(PKG)
    return not (rel.parts[0] == "plans" or (len(rel.parts) == 1 and rel.name.startswith("registry")))


def _public_defs() -> dict[str, str]:
    """name -> defining module (relative path) for every in-scope public
    top-level function and class."""
    out: dict[str, str] = {}
    for path in sorted(PKG.rglob("*.py")):
        if not _in_scope(path):
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    out[node.name] = str(path.relative_to(REPO))
    return out


def _referenced_names() -> set[str]:
    """Names used as a bare name or an attribute anywhere in non-test code.
    Neither the ``def`` line nor an import is a use: a package
    ``__init__.py`` re-export would otherwise keep alive a helper that
    nothing calls (tests/test_unused_imports.py makes every other import
    a use of its own)."""
    names: set[str] = set()
    for path in _non_test_sources():
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
    return names


def _doc_table_names() -> set[str]:
    """Identifiers inside backtick spans of MIGRATION.md / README.md table
    rows (``sources.api.fetch_batch`` names ``fetch_batch``)."""
    names: set[str] = set()
    for doc in ("MIGRATION.md", "README.md"):
        for line in (REPO / doc).read_text().splitlines():
            if not line.lstrip().startswith("|"):
                continue
            for span in re.findall(r"`([^`]+)`", line):
                names.update(re.findall(r"[A-Za-z_]\w*", span))
    return names


def test_every_public_engine_name_has_a_user():
    used = _referenced_names() | _doc_table_names()
    dead = sorted(
        f"{mod}::{name}" for name, mod in _public_defs().items() if name not in used
    )
    assert not dead, (
        f"{len(dead)} public engine names have no caller outside tests and "
        "no MIGRATION/README table row: " + ", ".join(dead)
    )


def test_scan_sees_the_engine():
    # the guard is vacuous if the scan finds nothing to check
    defs = _public_defs()
    assert "write_partition_overwrite" in defs and "get_spark" in defs
    assert "queries" not in defs  # registry modules are out of scope
    assert "load_table" in _referenced_names()
