"""Mechanized oracle output-type lint (VERDICT r05 task #1).

DuckDB widens window/plain ``sum(BIGINT)`` to HUGEINT (int128) and some
divisions to DECIMAL. The driver's value hash is representation-sensitive
for integers, so an oracle emitting HUGEINT where Spark emits bigint grades
as "rows+schema match, hash mismatch" (the r04/r05 `histogram_split_finder`
red row). pandas-based local parity converted hugeint→float64 and was blind
to it. This test *binds* (no execution) every registered oracle against the
sf0.001 views and asserts no output column has a widened type, so a new
wave can't reintroduce the class.
"""

from __future__ import annotations

import duckdb

from tests.conftest import SF_DIR

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

BANNED = ("HUGEINT", "UHUGEINT")


def _con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_no_oracle_emits_hugeint_or_decimal():
    import __spark_entry__ as ent

    oracles = ent.oracle_sql()
    assert oracles, "registry empty?"
    con = _con()
    offenders: dict[str, list[str]] = {}
    broken: dict[str, str] = {}
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)  # binds + resolves types; does not execute
            cols = list(zip(rel.columns, rel.types))
        except Exception as e:  # binding failure is its own defect
            broken[name] = str(e)[:200]
            continue
        bad = [
            f"{c}:{t}"
            for c, t in cols
            if str(t).upper() in BANNED or str(t).upper().startswith("DECIMAL")
        ]
        if bad:
            offenders[name] = bad
    assert not broken, f"oracles failed to bind: {broken}"
    assert not offenders, (
        "oracles emit HUGEINT/DECIMAL output columns (pandas masks these as "
        f"float64 but the driver's hash does not): {offenders}"
    )
