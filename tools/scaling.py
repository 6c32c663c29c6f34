"""Measure the floor-inversion claim instead of arguing it (VERDICT r6 #2).

RATIO.md's story for every >2x row is: Spark's wall is a fixed
scheduling/codegen floor while the DuckDB oracle's milliseconds grow with
the data, so the ratios invert at scale. This tool MEASURES that: it
replicates the sf0.1 corpus x4 and x16 into a temp dir (key-offset
replication, so joins stay linear — every key column is shifted by
``replica * (max_key + 1)`` and fact/dim references stay consistent), runs
the headline queries plus the worst floor-dominated offenders on BOTH
engines at each scale, and writes the measured table to SCALING.md.

Replication semantics:
- nation/region are enumeration dims — single copy (TPC-H scaling rules).
- All other tables replicate with consistent key offsets; row counts,
  join outputs, grouped aggregates all scale exactly linearly.
- ``documents.text`` is replicated verbatim, so CROSS-replica near-dup
  structure is quadratic in the factor BY CONSTRUCTION — near-dup pair
  queries (dedup_minhash_lsh etc.) are excluded here; their scale story
  is the LSH band-bucket argument in RATIO.md, not corpus replication.
- ``events.ts`` is replicated verbatim: per-hour/user volumes grow
  linearly, calendar spines stay calendar-bounded — exactly the regime
  the bounded-frame window adjudications assume.

Spark runs under fastpath.execution_posture(scaled_dir, name): at x1/x4
the small-input posture applies (minus the measured AQE_KEEP_QUERIES
opt-outs); at x16/x64 the corpus crosses the threshold and the MEDIUM
posture self-selects (AQE on, scan split + advisory partition size derived
from corpus/(3*cores) — few-file replicated corpora otherwise starve the
cores at the default 128 MB split); at real cluster scale both derivations
self-disable. The printed table records which posture ran.

Usage (idle host only — same contention caveat as bench.py):

    python tools/scaling.py [--factors 1,4,16] [--sf-dir /root/testdata/sf0.1]
    python tools/scaling.py --regen     # rewrite the table from SCALING.json

Results merge into SCALING.json; the tool rewrites only SCALING.md's
"Measured walls" section, and the readings below it are hand-written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import harness  # noqa: E402

# key columns to offset per table: {table: {column: keyspace_table}}
# (keyspace_table names whose max key defines the offset stride, so
# fact->dim references stay consistent across replicas)
KEYED = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
SINGLE_COPY = ("nation", "region")
# the SCALING.md section this tool rewrites; the readings below it are prose
TABLE_HEADING = "## Measured walls"
KEY_OF = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "events": "event_id",
    "events_user": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# headliners (minus near-dup pair queries, see module docstring) + the
# worst floor-dominated ratios from RATIO.md
QUERIES = [
    "flagship_silver_shape",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_star_join",
    "text_tf_idf",
    "sessionization_gap30m",
    "similarity_topk_cosine",
    "iv_wald_estimator",
    "woe_iv_binning",
    "acf_lags",
    "t_closeness_emd",
    "kmv_set_ops",
    "join_cross",
    "case_bucket_totality",
    "filter_eq",
    "union_all",
    "window_lag_lead",
    "agg_stats",
    # round-11 (VERDICT r10 Next #3): representatives of the wave-127-140
    # cell-walk / IRLS shapes whose docstrings argue constant-size cell
    # frames at any corpus — measure that the Spark walls are flat
    "cox_ph_newton_1cov",
    "rmst_survival",
    "huber_m_location",
    "distance_correlation",
    "cluster_robust_se",
    "raking_ipf",
]


def make_scaled(sf_dir: str, factor: int, out_dir: str) -> None:
    con = duckdb.connect()
    strides = {}
    for ks, key in KEY_OF.items():
        src = "events" if ks == "events_user" else ks
        strides[ks] = (
            con.execute(
                f"SELECT max({key}) + 1 FROM read_parquet('{sf_dir}/{src}.parquet')"
            ).fetchone()[0]
            or 1
        )
    for t in SINGLE_COPY:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")
    for t, keycols in KEYED.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            ).fetchall()
        ]
        sel = ", ".join(
            f"{c} + r.i * {strides[keycols[c]]} AS {c}" if c in keycols else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{sf_dir}/{t}.parquet'), "
            f"range({factor}) r(i)) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,4,16")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=None, help="comma list override")
    ap.add_argument(
        "--regen",
        action="store_true",
        help="skip measuring; rewrite SCALING.md's table from the stored "
        "SCALING.json",
    )
    args = ap.parse_args()
    if args.regen:
        _write_outputs(args.sf_dir, {}, {})
        return
    factors = [int(f) for f in args.factors.split(",")]
    qnames = args.queries.split(",") if args.queries else QUERIES

    from etl_poor_main_pipeline_spark.fastpath import corpus_bytes, execution_posture
    from etl_poor_main_pipeline_spark.registry import oracle_sql, queries

    from tools.parity import duck_con

    qs, oracles = queries(), oracle_sql()
    spark = harness.session("scaling")

    root = tempfile.mkdtemp(prefix="scaling_")
    dirs: dict[int, str] = {}
    for f in factors:
        if f == 1:
            dirs[f] = args.sf_dir
            continue
        d = os.path.join(root, f"x{f}")
        os.makedirs(d)
        print(f"replicating x{f} -> {d}", file=sys.stderr)
        make_scaled(args.sf_dir, f, d)
        dirs[f] = d

    # warm the session once so x-scale walls measure work, not startup
    harness.warm_up(spark, args.sf_dir, qs)

    results: dict[str, dict] = {}
    postures: dict[int, str] = {}
    for f in factors:
        d = dirs[f]
        mb = corpus_bytes(d) / 1e6
        with execution_posture(spark, d) as label:
            postures[f] = label
        print(f"--- x{f} ({mb:.0f} MB, {postures[f]} posture)", file=sys.stderr)
        con = duck_con(d)
        for name in qnames:
            if name not in qs or name not in oracles:
                continue
            # same policy as bench.py: size-derived posture with the
            # measured small-posture opt-outs; min of 2 on both engines
            s_wall, _ = harness.best_of(
                lambda: harness.timed_count(spark, d, qs[name], name), (0.0,)
            )
            d_wall, _ = harness.best_of(
                lambda: harness.timed_oracle(con, oracles[name]), (0.0,)
            )
            results.setdefault(name, {})[f] = {
                "spark": round(s_wall, 3),
                "duckdb": round(d_wall, 3),
            }
            print(
                f"{name} x{f}: spark {s_wall:.3f}s duckdb {d_wall:.3f}s",
                file=sys.stderr,
            )
        con.close()

    _write_outputs(args.sf_dir, results, postures)
    shutil.rmtree(root, ignore_errors=True)


def _write_outputs(sf_dir: str, results: dict, postures: dict) -> None:
    """Merge this run into SCALING.json (so x64 extension runs don't
    clobber the x1/x4/x16 table), then rewrite SCALING.md's table section
    from the merged store; the hand-written readings below it stay."""
    json_path = os.path.join(REPO, "SCALING.json")
    store = {"factors": [], "postures": {}, "results": {}}
    if os.path.exists(json_path):
        with open(json_path) as fh:
            store = json.load(fh)
    all_factors = sorted(set(int(f) for f in store["factors"]) | set(postures))
    store["factors"] = all_factors
    store["postures"].update({str(f): p for f, p in postures.items()})
    for name, row in results.items():
        dst = store["results"].setdefault(name, {})
        dst.update({str(f): v for f, v in row.items()})
    with open(json_path, "w") as fh:
        json.dump(store, fh)

    lines = [
        f"{TABLE_HEADING} (tools/scaling.py)",
        "",
        f"Corpus: {sf_dir} key-offset-replicated x{all_factors} "
        "(postures: "
        + ", ".join(
            f"x{f}={store['postures'].get(str(f), '?')}" for f in all_factors
        )
        + "; see tools/scaling.py docstring for replication semantics).",
        "Walls are min-of-2, idle host, count()-timed Spark vs fetchall DuckDB.",
        "",
        "| query | "
        + " | ".join(f"x{f} spark | x{f} duck | ratio" for f in all_factors)
        + " | crossover |",
        "|---|" + "---|" * (3 * len(all_factors) + 1),
    ]
    for name, row in store["results"].items():
        cells = []
        crossed = "no"
        for f in all_factors:
            v = row.get(str(f))
            if v is None:
                cells.append("- | - | -")
                continue
            s, dk = v["spark"], v["duckdb"]
            r = s / dk if dk > 0 else float("inf")
            cells.append(f"{s:.2f}s | {dk:.2f}s | {r:.1f}x")
            if r <= 1.0 and crossed == "no":
                crossed = f"<=x{f}"
        lines.append(f"| {name} | " + " | ".join(cells) + f" | {crossed} |")
    out_md = os.path.join(REPO, "SCALING.md")
    harness.replace_section(out_md, TABLE_HEADING, "\n".join(lines) + "\n")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
