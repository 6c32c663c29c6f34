"""tools/harness.py: the run order, timing rule, timed build+count and
section writer that bench.py and the measuring tools share, plus an
import smoke of every tool so a refactor that breaks one fails here."""

from __future__ import annotations

import hashlib
import importlib.util

import pytest

from tests.conftest import REPO, SF_DIR
from tools import harness

TOOLS = sorted((REPO / "tools").glob("*.py"))


def test_bench_order_is_pinned():
    """HEAVY_FIRST then registry order, identical to the order bench.py
    ran before the harness existed."""
    from etl_poor_main_pipeline_spark.registry import queries

    order = harness.bench_order(queries())
    assert len(order) == 702
    assert order[0] == "pagerank_docs"
    assert (
        hashlib.sha256("\n".join(order).encode()).hexdigest()
        == "662992c9ea89b411ff8595d3138d8fbc51fd99bfa0d3d400bb95e5e57e8ca442"
    )


def _runs(*walls):
    """A fake timed run returning the given walls in turn (an Exception
    instance raises), and the list of calls made."""
    calls = []

    def run():
        w = walls[len(calls)]
        calls.append(w)
        if isinstance(w, Exception):
            raise w
        return w, 7

    return run, calls


@pytest.mark.parametrize(
    "walls,best,n_runs",
    [
        ((0.2,), 0.2, 1),  # under 0.3 s: one run
        ((0.5, 0.4), 0.4, 2),  # min of 2 above 0.3 s
        ((3.0, 2.5, 2.2), 2.2, 3),  # a third run while the best is above 2 s
        ((3.0, 1.5), 1.5, 2),  # best of 2 under 2 s: no third run
        ((0.5, RuntimeError("drain")), 0.5, 2),  # failing re-run keeps run 1
        ((3.0, RuntimeError("drain"), 2.4), 2.4, 3),  # and the third run still runs
    ],
)
def test_best_of_rerun_rule(walls, best, n_runs):
    run, calls = _runs(*walls)
    assert harness.best_of(run) == (best, 7)
    assert len(calls) == n_runs


def test_best_of_first_failure_raises():
    run, _ = _runs(RuntimeError("boom"))
    with pytest.raises(RuntimeError):
        harness.best_of(run)


def test_timed_count_matches_oracle_and_restores_confs(spark):
    from etl_poor_main_pipeline_spark.registry import oracle_sql, queries

    from tools.parity import duck_con

    name = "tpch_q3_shipping_priority"
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    wall, n = harness.timed_count(spark, SF_DIR, queries()[name], name)
    assert {k: spark.conf.get(k) for k in keys} == before
    con = duck_con(SF_DIR)
    try:
        assert n == len(con.execute(oracle_sql()[name]).fetchall())
    finally:
        con.close()
    assert wall > 0


def test_replace_section(tmp_path):
    md = tmp_path / "doc.md"
    md.write_text("# T\n\n## A\nold a\n\n## B\nkeep b\n")
    harness.replace_section(str(md), "## A", "## A new\nrow \\g<0> \\1\n")
    assert md.read_text() == "# T\n\n## A new\nrow \\g<0> \\1\n\n## B\nkeep b\n"
    harness.replace_section(str(md), "## C", "## C\nc\n")
    assert md.read_text().endswith("keep b\n\n## C\nc\n")


@pytest.mark.parametrize(
    "path", [REPO / "bench.py", *TOOLS], ids=lambda p: p.name
)
def test_tool_imports_and_exposes_main(path):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if path.name != "harness.py":  # the shared library, not a tool
        assert callable(getattr(mod, "main", None))


@pytest.mark.parametrize(
    "tool,files,argv",
    [
        ("scaling", ("SCALING.json", "SCALING.md"), ("--factors", "1", "--sf-dir", "SF")),
        ("ab_fastpath", ("AB_FASTPATH.json", "RATIO.md"), ("SF", "filter_eq")),
    ],
)
def test_tool_refuses_run_on_another_corpus(tool, files, argv, tmp_path, monkeypatch):
    """Measuring tools merge a run into their stored table, so a run on a
    corpus other than the stored one exits non-zero before Spark starts
    and leaves both files as they were; a run on the stored corpus gets
    past the check (to the session start, stubbed here)."""
    import json
    import shutil
    import sys

    mod = importlib.import_module(f"tools.{tool}")
    for f in files:
        shutil.copy(REPO / f, tmp_path / f)
    before = {f: (tmp_path / f).read_bytes() for f in files}
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    if hasattr(mod, "JSON_PATH"):
        monkeypatch.setattr(mod, "JSON_PATH", str(tmp_path / files[0]))

    def no_spark(*_a, **_k):
        raise AssertionError("Spark started")

    monkeypatch.setattr(harness, "session", no_spark)
    stored = json.loads(before[files[0]])["sf_dir"]
    other = stored.rstrip("/") + "_other"

    def run_at(sf_dir):
        monkeypatch.setattr(sys, "argv", [tool] + [sf_dir if a == "SF" else a for a in argv])
        mod.main()

    with pytest.raises(SystemExit) as refused:
        run_at(other)
    assert refused.value.code not in (0, None)
    assert {f: (tmp_path / f).read_bytes() for f in files} == before

    with pytest.raises(AssertionError, match="Spark started"):
        run_at(stored)
    assert {f: (tmp_path / f).read_bytes() for f in files} == before
