"""File-shard parallel test runner (conftest plugin backend).

The suite has grown past the driver's verify window (~35 min sequential;
VERDICT r13 "What's wrong" #1: `tests_ok: false` by TIMEOUT at ~97% dots,
not by failure). The sanctioned fix is pytest-xdist, but this sandbox has
no network and xdist/execnet are not installed — so this module implements
the same worker model in-repo with stdlib only:

- the parent pytest process collects normally, then (in
  ``pytest_runtestloop``) partitions the collected test FILES across N
  subprocess workers (LPT bin-packing on committed per-file durations,
  ``tests/.test_durations.json``);
- each worker is a plain ``python -m pytest <files>`` run with
  ``ETL_TEST_WORKER=1`` (recursion guard) and a smaller per-worker Spark
  core count (``ETL_TEST_SPARK_CORES``) so N local sessions don't
  oversubscribe the host;
- workers serialize every TestReport through pytest's OWN
  ``pytest_report_to_serializable`` hook (the mechanism xdist uses) into a
  JSONL file; the parent tails those files live and replays each report
  through ``pytest_runtest_logreport`` — so the parent's progress dots,
  failure output, summary line and exit status are the REAL aggregated
  results, not a wrapper's approximation;
- after the final drain, every collected item must have been reported by
  the worker it was assigned to: an unreported one is replayed as a
  failure by name, so a worker that silently runs fewer tests fails the
  run.

Every test still runs on every invocation — nothing is skipped or marked
out of the default lane. Set ``ETL_TEST_PAR=0`` to force the sequential
path (or pass fewer than MIN_PAR_ITEMS tests, e.g. a single file, which
runs sequentially by construction).

File granularity keeps within-file ordering and module-scoped state
intact; tests across files were already independent (each worker builds
its own session-scoped SparkSession; Spark UI is disabled so there is no
port contention; warehouses live under per-process tmp dirs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

import pytest

WORKER_ENV = "ETL_TEST_WORKER"
REPORT_FILE_ENV = "ETL_TEST_REPORT_FILE"
DISABLE_ENV = "ETL_TEST_PAR"
SPARK_CORES_ENV = "ETL_TEST_SPARK_CORES"

DURATIONS_FILE = Path(__file__).parent / ".test_durations.json"

#: Below this many collected items the parallel machinery is pure
#: overhead (worker JVM spin-up is ~10 s) — run sequentially.
MIN_PAR_ITEMS = 64

#: Spark cores per worker: N workers x this should ~= the host cores.
WORKER_SPARK_CORES = 4


def n_workers() -> int:
    cpus = os.cpu_count() or 1
    return max(1, min(8, cpus // WORKER_SPARK_CORES))


def should_parallelize(session) -> bool:
    if os.environ.get(WORKER_ENV):
        return False
    if os.environ.get(DISABLE_ENV, "").lower() in ("0", "off", "false", "no"):
        return False
    cfg = session.config
    if cfg.getoption("collectonly", False):
        return False
    if cfg.getoption("numprocesses", None):  # real xdist present and active
        return False
    if len(session.items) < MIN_PAR_ITEMS:
        return False
    return n_workers() >= 2


def _partition_files(session) -> list[list[str]]:
    """LPT bin-packing of test files into worker bins, weighted by the
    committed per-file duration profile (unknown files get a per-item
    estimate so new waves still spread)."""
    per_file_items: dict[str, int] = defaultdict(int)
    for item in session.items:
        per_file_items[item.nodeid.split("::", 1)[0]] += 1

    durations: dict[str, float] = {}
    try:
        durations = json.loads(DURATIONS_FILE.read_text())
    except Exception:
        pass

    def weight(f: str) -> float:
        known = durations.get(os.path.basename(f), 0.0)
        return max(known, 0.3 * per_file_items[f])

    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n_workers())]
    for f in sorted(per_file_items, key=lambda f: (-weight(f), f)):
        i = min(range(len(bins)), key=lambda i: bins[i][0])
        bins[i] = (bins[i][0] + weight(f), bins[i][1] + [f])
    return [files for _, files in bins if files]


class _Tail:
    """Incremental reader of a line-oriented file that tolerates a
    partially flushed trailing line (kept buffered until its newline
    arrives)."""

    def __init__(self, path):
        self.fh = open(path, "rb")
        self.buf = b""

    def lines(self) -> list[bytes]:
        chunk = self.fh.read()
        if chunk:
            self.buf += chunk
        out = []
        while b"\n" in self.buf:
            line, self.buf = self.buf.split(b"\n", 1)
            if line.strip():
                out.append(line)
        return out

    def close(self) -> None:
        self.fh.close()


def _drain(tail: _Tail, config, reported: set[str]) -> None:
    """Replay newly appended serialized reports, adding each test
    report's nodeid to ``reported``."""
    for line in tail.lines():
        try:
            data = json.loads(line)
        except json.JSONDecodeError:
            continue
        rep = config.hook.pytest_report_from_serializable(
            config=config, data=data
        )
        if data.get("$report_type") == "CollectReport":
            config.hook.pytest_collectreport(report=rep)
        else:
            config.hook.pytest_runtest_logreport(report=rep)
            reported.add(rep.nodeid)


def _fail_unreported(session, reported: set[str]) -> None:
    """Every collected item was assigned to a worker (by its file); one
    that no worker reported — e.g. the worker's own collection dropped
    it — fails the run by name instead of silently shrinking the suite."""
    for item in session.items:
        if item.nodeid not in reported:
            session.config.hook.pytest_runtest_logreport(
                report=pytest.TestReport(
                    item.nodeid,
                    item.location,
                    keywords={},
                    outcome="failed",
                    longrepr="assigned to a worker that never reported it",
                    when="call",
                )
            )


def run_parallel(session) -> bool:
    """The pytest_runtestloop body: spawn workers, stream their reports
    into this session, honor -x/--maxfail semantics. Returns True (loop
    handled). Raises session.Failed afterwards exactly like the stock
    loop would."""
    config = session.config
    shards = _partition_files(session)
    tmp = Path(tempfile.mkdtemp(prefix="etl_par_tests_"))
    tr = config.pluginmanager.getplugin("terminalreporter")
    if tr is not None:
        tr.write_line(
            f"parallel: {len(session.items)} tests across "
            f"{len(shards)} workers (file shards; ETL_TEST_PAR=0 for "
            f"sequential)"
        )

    procs: list[subprocess.Popen] = []
    readers = []
    reported: set[str] = set()
    env_base = dict(os.environ)
    env_base[WORKER_ENV] = "1"
    env_base[SPARK_CORES_ENV] = str(WORKER_SPARK_CORES)
    # keep worker JVMs lean: N drivers at the default 8g would be 64g
    env_base.setdefault("ENGINE_DRIVER_MEMORY", "6g")
    # Python worker/daemon socket connect-back can exceed the 15 s
    # default while N saturated JVMs start up (observed: a streaming
    # source poll dying with CANNOT_OPEN_SOCKET under the 8-way run)
    env_base.setdefault("SPARK_AUTH_SOCKET_TIMEOUT", "120")

    markexpr = config.getoption("markexpr", "")
    keyword = config.getoption("keyword", "")

    for i, files in enumerate(shards):
        report_path = tmp / f"worker{i}.jsonl"
        report_path.touch()
        out_path = tmp / f"worker{i}.out"
        env = dict(env_base)
        env[REPORT_FILE_ENV] = str(report_path)
        cmd = [
            sys.executable,
            "-m",
            "pytest",
            "-q",
            "--no-header",
            "-p",
            "no:cacheprovider",
        ]
        if markexpr:
            cmd += ["-m", str(markexpr)]
        if keyword:
            cmd += ["-k", str(keyword)]
        cmd += files
        procs.append(
            subprocess.Popen(
                cmd,
                cwd=str(config.rootpath),
                env=env,
                stdout=open(out_path, "wb"),
                stderr=subprocess.STDOUT,
            )
        )
        readers.append(_Tail(report_path))

    try:
        while True:
            alive = [p for p in procs if p.poll() is None]
            for t in readers:
                _drain(t, config, reported)
            if session.shouldfail or session.shouldstop:
                # -x / --maxfail tripped by a replayed failure: stop the
                # remaining workers, drain what they already reported
                for p in procs:
                    if p.poll() is None:
                        p.terminate()
                for p in procs:
                    try:
                        p.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        p.kill()
                for t in readers:
                    _drain(t, config, reported)
                break
            if not alive:
                break
            time.sleep(0.3)
        # final drain after normal completion
        for t in readers:
            _drain(t, config, reported)
    finally:
        for t in readers:
            t.close()
        for p in procs:
            if p.poll() is None:
                p.kill()

    # a worker that died without reporting (crash/OOM) must not read as
    # green: surface it as an error the summary shows
    for i, p in enumerate(procs):
        if p.returncode not in (0, 1) and not (
            session.shouldfail or session.shouldstop
        ):
            out_tail = ""
            try:
                out_tail = (tmp / f"worker{i}.out").read_text()[-2000:]
            except Exception:
                pass
            if tr is not None:
                tr.write_line(
                    f"parallel: worker {i} exited {p.returncode}; tail:\n"
                    f"{out_tail}",
                    red=True,
                )
            session.testsfailed += 1

    if not (session.shouldfail or session.shouldstop):
        _fail_unreported(session, reported)
    if session.shouldfail:
        raise session.Failed(session.shouldfail)
    if session.shouldstop:
        raise session.Interrupted(session.shouldstop)
    return True
