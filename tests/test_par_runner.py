"""Self-test of the subprocess shard runner (tests/_par_runner.py): a
worker that silently runs fewer tests than it was assigned must fail the
run, naming the missing test."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

CONFTEST = """
import importlib.util

_spec = importlib.util.spec_from_file_location("_etl_conftest", {conftest!r})
_conftest = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_conftest)
# force the parallel path for a 3-test project on any host
_conftest._par_runner.MIN_PAR_ITEMS = 1
_conftest._par_runner.n_workers = lambda: 2

pytest_runtestloop = _conftest.pytest_runtestloop
pytest_configure = _conftest.pytest_configure
"""

TEST_B = """
import os


def test_b_ok():
    pass


if {defined_in_worker} or not os.environ.get("ETL_TEST_WORKER"):

    def test_b_parent_only():
        pass
"""


def _run(tmp_path: Path, defined_in_worker: bool) -> subprocess.CompletedProcess:
    (tmp_path / "pytest.ini").write_text("[pytest]\n")
    conftest = Path(__file__).with_name("conftest.py")
    (tmp_path / "conftest.py").write_text(CONFTEST.format(conftest=str(conftest)))
    (tmp_path / "test_a.py").write_text("def test_a_ok():\n    pass\n")
    (tmp_path / "test_b.py").write_text(TEST_B.format(defined_in_worker=defined_in_worker))
    # this test may itself run inside a shard worker: the nested run must
    # not inherit that worker's role or its report stream
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("ETL_TEST_WORKER", "ETL_TEST_REPORT_FILE", "ETL_TEST_PAR")
    }
    return subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_all_reported_passes(tmp_path):
    r = _run(tmp_path, defined_in_worker=True)
    assert "across 2 workers" in r.stdout, r.stdout
    assert r.returncode == 0, r.stdout
    assert "3 passed" in r.stdout


def test_worker_skipping_an_item_fails_the_run(tmp_path):
    r = _run(tmp_path, defined_in_worker=False)
    assert "across 2 workers" in r.stdout, r.stdout
    assert r.returncode == 1, r.stdout
    assert "FAILED test_b.py::test_b_parent_only" in r.stdout
    assert "1 failed, 2 passed" in r.stdout


def test_durations_cover_every_test_file():
    """The shard packer weighs files by tests/.test_durations.json: every
    test file needs an entry, and a deleted file's entry must go."""
    here = Path(__file__).parent
    files = {p.name for p in here.glob("test_*.py")}
    recorded = set(json.loads((here / ".test_durations.json").read_text()))
    assert not files - recorded, f"no duration entry: {sorted(files - recorded)}"
    assert not recorded - files, f"stale duration entry: {sorted(recorded - files)}"
