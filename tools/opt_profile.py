"""Round-13 optimization profiler: per-query decomposition of where the
wall goes, plus plan capture for plans/r13/.

For each named query (default: the heaviest committed-ledger rows) this
measures, in one warm session under the same execution posture bench.py
uses:

  - build_s:   Python-side DataFrame construction (py4j / expression
               emission) — driver cost before Spark sees the plan
  - explain_s: one `.explain("formatted")` (analysis+optimization+
               physical planning; cached for the subsequent runs)
  - count_s:   min-of-3 build+`count()` — the bench-comparable action,
               timed by tools/harness.timed_count as bench.py times it
  - noop_s:    min-of-3 noop-sink write (guide §1.4: computes every
               column, no count-path pruning)

Usage:
    python tools/opt_profile.py [sf_dir] [query ...]
    python tools/opt_profile.py /root/testdata/sf0.1 --top 30
    PLAN_DIR=plans/r13 SUFFIX=_before python tools/opt_profile.py ... q

Writes the formatted plan to $PLAN_DIR/<query>$SUFFIX.txt when PLAN_DIR
is set. Prints one aligned row per query and a JSON line at the end.
Set PLANS_ONLY=1 to capture plans without the count/noop timing runs
(explain is driver-side only, so this mode never executes a job).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    top_n = 0
    if "--top" in args:
        i = args.index("--top")
        top_n = int(args[i + 1])
        del args[i : i + 2]

    from etl_poor_main_pipeline_spark.fastpath import execution_posture
    from etl_poor_main_pipeline_spark.registry import queries

    from tools import harness

    spark = harness.session("opt_profile")
    qs = queries()
    names = args
    if top_n:
        with open(os.path.join(harness.REPO, "BENCH_QUERIES.json")) as fh:
            ledger = json.load(fh)
        names = [
            k
            for k, _ in sorted(ledger.items(), key=lambda kv: -kv[1])[:top_n]
            if k in qs
        ] + [n for n in names if n not in ledger]
    plan_dir = os.environ.get("PLAN_DIR", "")
    suffix = os.environ.get("SUFFIX", "")
    plans_only = os.environ.get("PLANS_ONLY")
    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)

    harness.warm_up(spark, sf_dir, qs)  # same warm-up as bench.py

    out: dict[str, dict[str, float]] = {}
    hdr = f"{'query':36s} {'build_s':>8s} {'explain_s':>9s} {'count_s':>8s} {'noop_s':>8s}"
    print(hdr, file=sys.stderr)
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"opt_profile: {name}")
        try:
            with execution_posture(spark, sf_dir, name):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                build_s = time.perf_counter() - t0

                buf = io.StringIO()
                t0 = time.perf_counter()
                with redirect_stdout(buf):
                    df.explain("formatted")
                explain_s = time.perf_counter() - t0
                if plan_dir:
                    with open(
                        os.path.join(plan_dir, f"{name}{suffix}.txt"), "w"
                    ) as fh:
                        fh.write(buf.getvalue())
                row = {"build_s": round(build_s, 3), "explain_s": round(explain_s, 3)}
                noops = []
                for _ in range(0 if plans_only else 3):
                    df2 = fn(spark, sf_dir)
                    t0 = time.perf_counter()
                    df2.write.format("noop").mode("overwrite").save()
                    noops.append(time.perf_counter() - t0)
            if not plans_only:
                count_s, _ = harness.best_of(
                    lambda: harness.timed_count(spark, sf_dir, fn, name), (0.0, 0.0)
                )
                row.update(count_s=round(count_s, 3), noop_s=round(min(noops), 3))
        except Exception as exc:
            print(f"{name:36s} FAILED: {exc}", file=sys.stderr)
            continue
        out[name] = row
        print(
            f"{name:36s} {row['build_s']:8.3f} {row['explain_s']:9.3f}"
            f" {row.get('count_s', '-'):>8} {row.get('noop_s', '-'):>8}",
            file=sys.stderr,
        )
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
