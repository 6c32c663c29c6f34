"""``session.barrier`` is the engine's one lineage-truncation primitive:
no module may checkpoint on its own (a raw ``localCheckpoint`` would
ignore a deployment's reliable ``spark.checkpoint.dir``), and no query
may take a per-call checkpoint knob."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "etl_poor_main_pipeline_spark"
CHECKPOINT_CALLS = {"localCheckpoint", "checkpoint", "setCheckpointDir"}


def _checkpoint_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in CHECKPOINT_CALLS
    ]


def test_barrier_is_the_only_checkpoint_call():
    offenders = []
    inside_barrier = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed: set[int] = set()
        if path.name == "session.py" and path.parent == PKG:
            (fn,) = [
                n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "barrier"
            ]
            inside_barrier = _checkpoint_calls(fn)
            allowed = {id(n) for n in inside_barrier}
        offenders += [
            f"{path.relative_to(PKG)}:{n.lineno} .{n.func.attr}()"
            for n in _checkpoint_calls(tree)
            if id(n) not in allowed
        ]
    assert offenders == []
    assert {n.func.attr for n in inside_barrier} == {"localCheckpoint", "checkpoint"}


def test_no_query_takes_checkpoint_dir():
    from etl_poor_main_pipeline_spark.registry import queries

    knobs = [
        name
        for name, fn in queries().items()
        if "checkpoint_dir" in inspect.signature(fn).parameters
    ]
    assert knobs == []
