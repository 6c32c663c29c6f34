"""W3 JDBC delete+append protocol against sqlite (DB-API stand-in for
Postgres — no JDBC jar in this environment; the protocol is identical)."""

import sqlite3

import pytest

from etl_poor_main_pipeline_spark.sinks.jdbc import JdbcTarget, load_serving_table


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "serving.db")
    conn = sqlite3.connect(path)
    conn.execute(
        "CREATE TABLE north_america_weather (city TEXT, temperature REAL, date_id TEXT)"
    )
    conn.commit()
    conn.close()
    return path


def _connect(path):
    return lambda: sqlite3.connect(path)


def _df(spark, date_id, cities=("a", "b")):
    return spark.createDataFrame(
        [(c, 20.0, date_id) for c in cities], ["city", "temperature", "date_id"]
    )


def test_delete_then_append(spark, db):
    target = JdbcTarget(url="", table="north_america_weather")
    n = load_serving_table(_df(spark, "2026-01-01"), target, "2026-01-01", connect=_connect(db))
    assert n == 2
    # rerun with different rows: delete-first makes the day idempotent
    n2 = load_serving_table(
        _df(spark, "2026-01-01", cities=("x", "y", "z")), target, "2026-01-01", connect=_connect(db)
    )
    assert n2 == 3
    with sqlite3.connect(db) as c:
        rows = c.execute(
            "SELECT city FROM north_america_weather WHERE date_id='2026-01-01' ORDER BY city"
        ).fetchall()
    assert [r[0] for r in rows] == ["x", "y", "z"]


def test_other_partitions_untouched(spark, db):
    target = JdbcTarget(url="", table="north_america_weather")
    load_serving_table(_df(spark, "2026-01-01"), target, "2026-01-01", connect=_connect(db))
    load_serving_table(_df(spark, "2026-01-02"), target, "2026-01-02", connect=_connect(db))
    load_serving_table(_df(spark, "2026-01-01", cities=("q",)), target, "2026-01-01", connect=_connect(db))
    with sqlite3.connect(db) as c:
        assert c.execute(
            "SELECT count(*) FROM north_america_weather WHERE date_id='2026-01-02'"
        ).fetchone()[0] == 2


def test_empty_guard(spark, db):
    from pyspark.sql import functions as F

    target = JdbcTarget(url="", table="north_america_weather")
    empty = _df(spark, "2026-01-01").filter(F.lit(False))
    assert load_serving_table(empty, target, "2026-01-01", connect=_connect(db)) == 0
    with sqlite3.connect(db) as c:
        assert c.execute("SELECT count(*) FROM north_america_weather").fetchone()[0] == 0


def test_date_id_truncated_to_10_chars(spark, db):
    # P6 (utils/postgres_utils.py:23-24)
    target = JdbcTarget(url="", table="north_america_weather")
    df = spark.createDataFrame([("a", 1.0, "2026-01-01T12:00:00")], ["city", "temperature", "date_id"])
    load_serving_table(df, target, "2026-01-01T12:00:00", connect=_connect(db))
    with sqlite3.connect(db) as c:
        assert c.execute("SELECT date_id FROM north_america_weather").fetchone()[0] == "2026-01-01"


def test_empty_guard_runs_before_delete(spark, db):
    # W2: an empty day must leave the serving table's existing rows for
    # that date in place — the guard fires before the DELETE
    from pyspark.sql import functions as F

    target = JdbcTarget(url="", table="north_america_weather")
    load_serving_table(_df(spark, "2026-01-01"), target, "2026-01-01", connect=_connect(db))
    empty = _df(spark, "2026-01-01").filter(F.lit(False))
    assert load_serving_table(empty, target, "2026-01-01", connect=_connect(db)) == 0
    with sqlite3.connect(db) as c:
        assert c.execute("SELECT count(*) FROM north_america_weather").fetchone()[0] == 2


def test_jdbc_writer_path_empty_guard(spark):
    # without a DB-API factory the JDBC writer path keeps its own guard:
    # an empty frame never reaches the JVM connection (this URL has no
    # driver, so any connection attempt would raise)
    from pyspark.sql import functions as F

    target = JdbcTarget(url="jdbc:nodriver://nowhere/db", table="north_america_weather")
    empty = _df(spark, "2026-01-01").filter(F.lit(False))
    assert load_serving_table(empty, target, "2026-01-01") == 0
