"""End-to-end bronze -> silver -> gold on weather-shaped fixtures
(FIXTURES.md §2), local filesystem lake + sqlite serving store."""

import sqlite3

import pytest

from etl_poor_main_pipeline_spark.pipelines import bronze, gold, silver
from etl_poor_main_pipeline_spark.pipelines.bronze import BRONZE_TABLE
from etl_poor_main_pipeline_spark.pipelines.silver import silver_table
from tests.test_api_source import canned_payload


CITY_COUNTRY = {
    "NYC": "US", "LA": "US", "Toronto": "CA", "Vancouver": "CA", "London": "GB",
}
TEMPS = {"NYC": -5.0, "LA": 25.0, "Toronto": 5.0, "Vancouver": 15.0, "London": 10.0}


def fetch(city: str) -> str:
    return canned_payload(city=city, country=CITY_COUNTRY[city], temp=TEMPS[city])


@pytest.fixture()
def serving_db(tmp_path):
    path = str(tmp_path / "serving.db")
    with sqlite3.connect(path) as c:
        c.execute(
            """CREATE TABLE north_america_weather (
                 city TEXT, country TEXT, temperature REAL, feels_like REAL,
                 weather TEXT, weather_code INTEGER, wind_speed REAL,
                 timestamp TEXT, temperature_category TEXT, date_id TEXT,
                 region TEXT)"""
        )
    return path


def test_full_medallion_flow(spark, lake, serving_db):
    date_id = "2026-01-01"
    n = bronze.run(spark, lake, date_id, list(CITY_COUNTRY), fetch)
    assert n == 5

    b = spark.read.parquet(BRONZE_TABLE.path(lake))
    assert b.count() == 5
    assert dict(b.dtypes)["temperature"] == "double"

    assert silver.run(spark, lake, date_id, "US") == 2
    assert silver.run(spark, lake, date_id, "CA") == 2

    us = spark.read.parquet(silver_table("US").path(lake))
    assert "humidity" not in us.columns  # column pruning (P1)
    cats = {r.city: r.temperature_category for r in us.collect()}
    assert cats == {"NYC": "Freezing", "LA": "Warm"}

    n_gold = gold.run(
        spark, lake, date_id,
        connect=lambda: sqlite3.connect(serving_db),
        table="north_america_weather",  # sqlite has no schemas
    )
    assert n_gold == 4  # 2 US + 2 CA; GB never reaches gold
    with sqlite3.connect(serving_db) as c:
        rows = c.execute(
            "SELECT city, region, temperature_category FROM north_america_weather ORDER BY city"
        ).fetchall()
    assert all(r[1] == "North America" for r in rows)
    assert ("Toronto", "North America", "Cold") in rows


def test_daily_rerun_idempotent_end_to_end(spark, lake, serving_db):
    date_id = "2026-01-01"
    connect = lambda: sqlite3.connect(serving_db)
    for _ in range(2):
        bronze.run(spark, lake, date_id, list(CITY_COUNTRY), fetch)
        silver.run(spark, lake, date_id, "US")
        silver.run(spark, lake, date_id, "CA")
        gold.run(spark, lake, date_id, connect=connect, table="north_america_weather")
    with sqlite3.connect(serving_db) as c:
        assert c.execute("SELECT count(*) FROM north_america_weather").fetchone()[0] == 4
    assert spark.read.parquet(BRONZE_TABLE.path(lake)).count() == 5


def test_silver_empty_country_guard(spark, lake):
    bronze.run(spark, lake, "2026-01-01", ["London"], fetch)
    assert silver.run(spark, lake, "2026-01-01", "US") == 0


def test_bronze_all_fetches_failed_writes_nothing(spark, lake):
    import os

    def failing(city: str) -> str:
        raise RuntimeError("HTTP 500")

    assert bronze.run(spark, lake, "2026-01-01", list(CITY_COUNTRY), failing) == 0
    assert not os.path.exists(BRONZE_TABLE.path(lake))


def test_silver_prunes_partition(spark, lake):
    from etl_poor_main_pipeline_spark.plans.explain import has_partition_filter
    from etl_poor_main_pipeline_spark.sources.read import read_partition

    bronze.run(spark, lake, "2026-01-01", list(CITY_COUNTRY), fetch)
    bronze.run(spark, lake, "2026-01-02", list(CITY_COUNTRY), fetch)
    df = read_partition(spark, BRONZE_TABLE.path(lake), "2026-01-01")
    assert has_partition_filter(df, "date_id")
    assert df.count() == 5


def test_runnable_main_bronze_silver(spark, tmp_path):
    """E4 parity: the `python -m …pipelines` entry point runs a layer with
    the offline fetch and a today's-date default (here pinned)."""
    from etl_poor_main_pipeline_spark.pipelines.__main__ import main

    lake = str(tmp_path / "lake")
    assert main(["bronze", "--lake-root", lake, "--date-id", "2026-01-05"]) == 0
    assert main(
        ["silver", "--lake-root", lake, "--date-id", "2026-01-05", "--country", "CA"]
    ) == 0
    out = spark.read.parquet(f"{lake}/analytics/canada_weather")
    assert out.count() > 0
    assert set(out.select("country").distinct().toPandas().country) == {"CA"}
