"""Local replica of the driver's correctness gate (BASELINE.md):
runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/parity.py [sf_dir] [query ...]

Module discovery (registry._full_registry) registers every
``registry_ext*`` file, so a new wave module's queries are checked by
name the moment the file exists.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_poor_main_pipeline_spark.sources.read import TESTDATA_TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # engines disagree on NULL spelling in object columns (None vs NaN)
            out[c] = s.map(
                lambda v: None
                if v is None or (isinstance(v, float) and pd.isna(v))
                else str(v)
            )
        elif str(s.dtype).startswith("datetime"):
            out[c] = s.astype("datetime64[us]").map(lambda v: None if pd.isna(v) else v.isoformat())
        elif s.dtype.kind in "if":
            # one engine may widen int->float (e.g. DuckDB HUGEINT sums,
            # NULL-bearing columns): compare all numerics as rounded floats
            out[c] = s.astype("float64").round(9)
        else:
            out[c] = s
    return pd.DataFrame(out)


def value_hash(df: pd.DataFrame) -> str:
    norm = normalize(df)
    rows = ["\x01".join("" if v is None or (isinstance(v, float) and pd.isna(v)) else repr(v) for v in row) for row in norm.itertuples(index=False)]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from etl_poor_main_pipeline_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duck_con(sf_dir)
    qs, oracles = ent.queries(), ent.oracle_sql()
    n_pass = n_fail = 0

    # Spark side threaded for batch queries (concurrent job submission is
    # supported; builders mutate no conf): the sweep is gateway/oracle
    # bound, not compute bound, so 8 threads ~3x the wall. Streaming
    # drains run serially — stream start/registration must not race.
    # ETL_PARITY_THREADS=1 restores the fully serial sweep.
    from concurrent.futures import ThreadPoolExecutor

    names = [n for n in qs if not only or n in only]
    threads = int(os.environ.get("ETL_PARITY_THREADS", "8"))

    def run_spark(name):
        t0 = time.time()
        try:
            return qs[name](spark, sf_dir).toPandas(), None, time.time() - t0
        except Exception as e:
            return None, str(e)[:300], time.time() - t0

    spark_res: dict[str, tuple] = {}
    batch = [n for n in names if not n.startswith(("streaming_", "stream_"))]
    serial = [n for n in names if n.startswith(("streaming_", "stream_"))]
    if threads > 1:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            for n, r in zip(batch, pool.map(run_spark, batch)):
                spark_res[n] = r
    else:
        for n in batch:
            spark_res[n] = run_spark(n)
    for n in serial:
        spark_res[n] = run_spark(n)

    for name in names:
        sdf, err, t_spark = spark_res[name]
        if err is not None:
            print(f"FAIL {name}: spark error: {err}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {t_spark:.1f}s)")
            n_pass += 1
            continue
        try:
            rel = con.sql(sql)
            bad_types = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, rel.types)
                if str(t).upper() in ("HUGEINT", "UHUGEINT")
                or str(t).upper().startswith("DECIMAL")
            ]
            odf = rel.fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if bad_types:
            # pandas widens int128/decimal to float64, masking the exact-int
            # representation difference the driver's hash is sensitive to
            problems.append(f"oracle output type(s) {bad_types} — cast to ::BIGINT/double")
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems and len(sdf) == len(odf):
                a, b = normalize(sdf), normalize(odf)
                key = sorted(a.columns)
                a = a.sort_values(key).reset_index(drop=True)
                b = b.sort_values(key).reset_index(drop=True)
                diff = (a != b) & ~(a.isna() & b.isna())
                bad = diff.any(axis=1)
                print(a[bad].head(3).to_string())
                print(b[bad].head(3).to_string())
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows, spark {t_spark:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
