"""Spans around calls into the engine's layers, and the Spark event log
that attributes jobs, stages, tasks and task metrics to them.

A span records its name, parent, perf-counter and wall-clock extents.
While tracing, every Spark call made inside a span runs under a job group
named after the span, so the event log's ``spark.jobGroup.id`` ties each
job back to it. Jobs whose group the benchmark does not own (streaming
micro-batches set their own) fall back to the innermost span open at
their submission time. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


def event_log_confs(log_dir: str) -> dict[str, str]:
    """Session confs of a traced run: a plain-JSON, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._index: dict[str, dict] = {}
        self._stack: list[dict] = []
        self.sc = None  # SparkContext whose job groups follow the spans
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{name}#{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._index[rec["id"]] = rec
        self._stack.append(rec)
        self._set_group(rec)
        rec["w0"] = time.time() * 1000.0
        rec["t0"] = t1 = time.perf_counter()
        self.self_s += t1 - t0
        try:
            yield rec
        finally:
            rec["t1"] = t2 = time.perf_counter()
            rec["w1"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)
            self.self_s += time.perf_counter() - t2

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span.
        Patch the module that makes the call, since it holds its own
        reference to an imported function."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def duration(self, rec: dict) -> float:
        return rec["t1"] - rec["t0"]

    def ancestors(self, rec: dict):
        while rec is not None:
            yield rec
            rec = self._index.get(rec["parent"])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- event log --------------------------------------------------------------

STATS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "plan_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
)


def _innermost(spans: list[dict], wall_ms: float) -> str | None:
    best = None
    for s in spans:
        if s.get("w0", 0) <= wall_ms <= s.get("w1", -1):
            if best is None or s["w0"] >= best["w0"]:
                best = s
    return best["id"] if best else None


def attribute(log_dir: str, app_id: str, spans: list[dict]) -> dict[str, dict]:
    """Per-span Spark counters from the application's event log: jobs,
    completed stages, finished tasks, task run/CPU/GC time, shuffle and
    input bytes, and Catalyst time (SQL execution start to its first job)."""
    path = next(iter(glob.glob(os.path.join(log_dir, f"{app_id}*"))))
    known = {s["id"] for s in spans}
    stats: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STATS, 0))
    stage_span: dict[int, str] = {}
    sql_start: dict[str, float] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sid = props.get("spark.jobGroup.id")
                if sid not in known:
                    sid = _innermost(spans, ev["Submission Time"])
                if sid is None:
                    continue
                st = stats[sid]
                st["jobs"] += 1
                for stage in ev["Stage IDs"]:
                    stage_span.setdefault(stage, sid)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id in sql_start:
                    st["plan_s"] += (ev["Submission Time"] - sql_start.pop(exec_id)) / 1e3
            elif kind.endswith("SQLExecutionStart"):
                sql_start[str(ev["executionId"])] = ev["time"]
            elif kind == "SparkListenerStageCompleted":
                sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                if sid:
                    stats[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if not sid or not m:
                    continue
                st = stats[sid]
                rd = m["Shuffle Read Metrics"]
                st["tasks"] += 1
                st["run_s"] += m["Executor Run Time"] / 1e3
                st["cpu_s"] += m["Executor CPU Time"] / 1e9
                st["gc_s"] += m["JVM GC Time"] / 1e3
                st["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                st["spill_bytes"] += m["Disk Bytes Spilled"]
                st["input_bytes"] += m["Input Metrics"]["Bytes Read"]
    return dict(stats)


def rollup(tracer: Tracer, stats: dict[str, dict], under: dict) -> dict:
    """Sum the counters of ``under`` and every span below it."""
    total = dict.fromkeys(STATS, 0)
    for s in tracer.spans:
        if s["id"] in stats and any(a is under for a in tracer.ancestors(s)):
            for k, v in stats[s["id"]].items():
                total[k] += v
    return total
