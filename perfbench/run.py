"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload mix_small --seed 1 --seconds 10 --trace 0

Runs from the repository root (the engine is imported from there) and
keeps every file it writes under ``perfbench/.work``. Set-up runs
``SETUP_ROUNDS`` times and reports the median; the timed passes then run
closed-loop, one client, until ``--seconds`` are spent. Outputs are
checked (mix queries against their DuckDB oracle twins, medallion
partitions against the generator's counts). The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. A traced run also writes its counter ledger (jobs, stages,
tasks, shuffle and input bytes per query or DAG task, of the first timed
pass) to ``perfbench/.work/ledger-<workload>-<seed>.json``, and its spans
beside it. ``--smoke`` shrinks every input for the benchmark's tests.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_s_tail": "s",
    "query_s_geomean": "s",
    "rows_per_s": "rows/s",
    "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "similarity.ivf_index_s": "s",
    "layouts.build_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "catalyst.plan_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "family.warehouse_s": "s",
    "family.curation_s": "s",
    "family.iterative_s": "s",
    "family.streaming_s": "s",
    "sources.api.ingest_s": "s",
    "pipelines.bronze_s": "s",
    "pipelines.silver_s": "s",
    "pipelines.gold_s": "s",
    "orchestration.overhead_s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.jdbc_s": "s",
    "host.floor_s": "s",
    "tracing.overhead_s": "s",
}
LEDGER_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
               "input_bytes")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion_daily", "mix_small", "mix_scaled"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (benchmark self-tests)")
    return ap.parse_args(argv)


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    with contextlib.suppress(Exception):
        gw.shutdown()
    with contextlib.suppress(Exception):
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(wl, stats: dict) -> tuple[dict, dict]:
    """Per-layer metrics common to every workload, plus the counter
    ledger of the first timed pass."""
    from spans import rollup

    tr = wl.tracer
    med = statistics.median

    def span_median(name: str) -> float:
        walls = [tr.duration(s) for s in tr.spans if s["name"] == name and "t1" in s]
        return med(walls) if walls else 0.0

    per_pass = [rollup(tr, stats, p) for p in wl.pass_spans]
    first = per_pass[0]
    first_pass = wl.pass_spans[0]

    def under_first(name: str):
        return [s for s in tr.spans if s["name"] == name
                and any(a is first_pass for a in tr.ancestors(s))]

    ledger = {}
    for op in under_first("query"):
        row = rollup(tr, stats, op)
        ledger[op["attrs"]["query"]] = {k: row[k] for k in LEDGER_KEYS}
        ledger[op["attrs"]["query"]]["build_jobs"] = sum(
            rollup(tr, stats, b)["jobs"] for b in tr.spans
            if b["name"] == "registry.build" and b["parent"] == op["id"]
        )
    for layer in ("bronze", "silver", "gold"):
        for task in under_first(f"pipelines.{layer}"):
            row = rollup(tr, stats, task)
            ledger[task["attrs"]["task"]] = {k: row[k] for k in LEDGER_KEYS}
    out = {
        "session.start_s": span_median("session.start"),
        "similarity.ivf_index_s": span_median("similarity.ivf_index"),
        "layouts.build_s": span_median("layouts.build"),
        "registry.build_jobs": sum(v.get("build_jobs", 0) for v in ledger.values()),
        "scheduler.jobs": first["jobs"],
        "scheduler.stages": first["stages"],
        "scheduler.tasks": first["tasks"],
        "catalyst.plan_s": med(p["plan_s"] for p in per_pass),
        "executor.run_s": med(p["run_s"] for p in per_pass),
        "executor.cpu_s": med(p["cpu_s"] for p in per_pass),
        "executor.gc_s": med(p["gc_s"] for p in per_pass),
        "shuffle.write_bytes": first["shuffle_write_bytes"],
        "shuffle.read_bytes": first["shuffle_read_bytes"],
        "shuffle.spill_bytes": first["spill_bytes"],
        "sources.input_bytes": first["input_bytes"],
        "host.floor_s": wl.floor_s,
        "tracing.overhead_s": med(wl.trace_walls) if wl.trace_walls else 0.0,
    }
    return out, ledger


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import etl_poor_main_pipeline_spark  # noqa: F401
        import tools.parity  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    from spans import Tracer, attribute
    from workloads import WORKLOADS

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp
    # every JVM Spark starts, its launcher included, keeps its files here too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.chdir(work)  # anything written to the working directory stays here too

    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, tracer, args.smoke)
    try:
        wl.run()
        metrics = wl.end_to_end()
        layers = wl.per_layer() if args.trace else {}
        app_id = wl.spark.sparkContext.applicationId
        shutdown(wl.spark)
        summary = {
            "workload": args.workload, "seed": args.seed, "passes": len(wl.pass_walls),
            "ops": sum(map(len, wl.op_walls.values())),
            "op_medians": {k: statistics.median(v) for k, v in wl.op_walls.items()},
            "failed_ratio": wl.failed / max(1, wl.attempted),
            "host.floor_s": wl.floor_s, "setup_walls": wl.setup_walls,
            "pass_walls": wl.pass_walls, "phase_s": wl.phases,
        }
        if args.trace:
            t0 = time.perf_counter()
            common, ledger = layer_metrics(wl, attribute(wl.event_dir, app_id, tracer.spans))
            layers.update(common)
            summary["event_log_parse_s"] = time.perf_counter() - t0
            ledger_path = os.path.join(base, f"ledger-{args.workload}-{args.seed}.json")
            with open(ledger_path, "w") as fh:
                json.dump(ledger, fh, indent=1, sort_keys=True)
            tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
            summary["ledger"] = os.path.relpath(ledger_path, ROOT)
    finally:
        shutdown(wl.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for p in wl.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print("perfbench " + json.dumps(summary), flush=True)
    names = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else metrics
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": values.get(n, 0), "unit": u} for n, u in names.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
