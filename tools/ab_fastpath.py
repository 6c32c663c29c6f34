"""Per-query A/B of the small-input posture (fastpath.execution_posture at
a small corpus: AQE off + right-sized shuffle fan-out) vs default session
confs, over the FULL registry at sf0.1 on an idle host.

This table is the committed evidence behind fastpath.AQE_KEEP_QUERIES.
Round 7 shipped the posture process-wide with an unsubstantiated "no query
regresses" docstring claim; this measurement replaced the claim: the
posture wins or ties on 497/499 queries (including the iterative
graph/dedup pipelines) and hurts exactly two tiny-frame join loops, which
the harnesses now opt out. tests/test_fastpath.py enforces two-way
consistency between the opt-out list and this file's output.

Usage (idle host — any concurrent Spark/pytest makes timings garbage):

    python tools/ab_fastpath.py [sf_dir] [query ...]   # measure (subset ok)
    python tools/ab_fastpath.py --rewrite              # re-emit outputs only

Per query: wall = build + execute + count, OFF first then ON back-to-back
(matched host conditions), min-of-2 above 0.3s, bench.py's warm-up
(tools/harness.py). The ON leg is execution_posture with no query name,
so the AQE_KEEP_QUERIES opt-outs are measured postured too; it uses
process-wide posture semantics (posture active during build AND action,
so eager checkpoint loops feel it). A subset run merges
into the existing AB_FASTPATH.json so per-wave top-ups don't clobber the
full table. The file records its corpus (``sf_dir``); a run on a
different corpus is refused before Spark starts, so no row carries
another corpus' label. `gate` records the harness policy for the row:
'aqe' if the name is in fastpath.AQE_KEEP_QUERIES, else 'posture'.

Writes AB_FASTPATH.json and rewrites the '## fastpath A/B' section at the
end of RATIO.md.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import harness  # noqa: E402

JSON_PATH = os.path.join(REPO, "AB_FASTPATH.json")


def write_outputs(rows: dict, sf_dir: str) -> None:
    from etl_poor_main_pipeline_spark.fastpath import AQE_KEEP_QUERIES

    for name, r in rows.items():
        r["gate"] = "aqe" if name in AQE_KEEP_QUERIES else "posture"

    with open(JSON_PATH, "w") as fh:
        json.dump({"sf_dir": sf_dir, "rows": rows}, fh, sort_keys=True)

    regressed = {
        n: r
        for n, r in rows.items()
        if r["ratio"] and r["ratio"] > 1.5 and r["off"] > 0.3
    }
    missed = {n: r for n, r in regressed.items() if r["gate"] == "posture"}
    off_total = sum(r["off"] for r in rows.values())
    on_total = sum(r["on"] for r in rows.values())
    policy_total = sum(
        r["off"] if r["gate"] == "aqe" else r["on"] for r in rows.values()
    )
    lines = [
        "## fastpath A/B — small-input posture ON vs OFF, full registry, idle",
        "",
        f"Source: tools/ab_fastpath.py at {sf_dir} (min-of-2 above 0.3s, "
        "OFF/ON back-to-back per query; ON = process-wide semantics, "
        "posture during build AND action). `gate` is the shipped harness "
        "policy: posture everywhere except the measured regressions in "
        "fastpath.AQE_KEEP_QUERIES.",
        "",
        f"- queries measured: {len(rows)}",
        f"- total wall: OFF {off_total:.1f}s, ON {on_total:.1f}s, "
        f"shipped policy {policy_total:.1f}s",
        f"- regressed >1.5x under ON (and >0.3s OFF): {len(regressed)} "
        f"({sorted(regressed)})"
        + (
            f" — NOT opted out: {sorted(missed)} (fix AQE_KEEP_QUERIES)"
            if missed
            else " — all opted out to AQE"
        ),
        "",
        "| query | off_s | on_s | on/off | gate |",
        "|---|---|---|---|---|",
    ]
    for n in sorted(rows, key=lambda n: -(rows[n]["ratio"] or 0)):
        r = rows[n]
        lines.append(
            f"| {n} | {r['off']} | {r['on']} | {r['ratio']} | {r['gate']} |"
        )
    section = "\n".join(lines) + "\n"

    harness.replace_section(os.path.join(REPO, "RATIO.md"), "## fastpath A/B", section)
    print(
        f"ab: wrote AB_FASTPATH.json + RATIO.md section "
        f"({len(rows)} queries, {len(regressed)} regressed, "
        f"{len(missed)} not opted out)",
        file=sys.stderr,
    )


def main() -> None:
    args = sys.argv[1:]
    store = {"sf_dir": None, "rows": {}}
    if os.path.exists(JSON_PATH):
        with open(JSON_PATH) as fh:
            store = json.load(fh)
    if args and args[0] == "--rewrite":
        write_outputs(store["rows"], store["sf_dir"])
        return

    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    only = set(args[1:])
    if store["rows"] and store["sf_dir"] != sf_dir:
        sys.exit(
            f"ab: AB_FASTPATH.json holds {store['sf_dir']} rows; refusing a "
            f"{sf_dir} run (move AB_FASTPATH.json aside to start a new table)"
        )

    from etl_poor_main_pipeline_spark.registry import queries

    spark = harness.session("ab_fastpath")
    qs = queries()
    harness.warm_up(spark, sf_dir, qs)

    def timed(fn, posture: bool) -> float:
        e, _ = harness.best_of(
            lambda: harness.timed_count(spark, sf_dir, fn, posture=posture),
            (harness.MIN2_THRESHOLD_SEC,),
        )
        return round(e, 3)

    # a subset top-up merges into the stored table; a full run replaces it
    rows: dict[str, dict] = store["rows"] if only else {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            off = timed(fn, posture=False)
            on = timed(fn, posture=True)
        except Exception as exc:
            print(f"ab: {name} FAILED: {exc}", file=sys.stderr)
            continue
        rows[name] = {
            "off": off,
            "on": on,
            "ratio": round(on / off, 2) if off > 0 else None,
        }
        print(f"ab: {name}: off {off}s on {on}s ({rows[name]['ratio']}x)", file=sys.stderr)

    write_outputs(rows, sf_dir)


if __name__ == "__main__":
    main()
