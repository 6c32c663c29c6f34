"""Spark job budget of one medallion day, plus the types its reads declare.

One small day (30 keys over US/CA/GB) runs through ``run_medallion`` with
a runner that calls ``bronze.run`` / ``silver.run`` / ``gold.run`` against
a sqlite serving table, each task under its own job group. Every job the
day launches is bookkeeping unless it writes or collects data, so the
budget is: bronze 1 (the write; the Arrow-built frame's empty guard and
the observed row count cost none), each silver 2 (empty guard + write)
and gold 1 (the DB-API sink's single Arrow collect, which is also its
empty guard). Schema inference, recounts and per-partition iteration
would each show up here as extra jobs.
"""

import json
import sqlite3
import uuid

import pytest
from pyspark.sql import types as T

from etl_poor_main_pipeline_spark.orchestration.run_dag import run_medallion
from etl_poor_main_pipeline_spark.pipelines import bronze, gold, silver
from etl_poor_main_pipeline_spark.pipelines.schemas import GOLD_WEATHER_COLUMNS

DATE_ID = "2026-03-04"
KEYS = [f"{('US', 'CA', 'GB')[i % 3]}-{i:03d}" for i in range(30)]
JOB_BUDGET = {"bronze": 1, "silver_US": 2, "silver_CA": 2, "gold": 1}


def fetch(key: str) -> str:
    i = int(key[3:])
    return json.dumps(
        {
            "name": key,
            "sys": {"country": key[:2]},
            "main": {"temp": i - 10.0, "feels_like": i - 12.0, "humidity": 50, "pressure": 1000},
            "weather": [{"description": "clear sky", "id": 800}],
            "wind": {"speed": 2.5},
            "retrieved_at": f"{DATE_ID}T06:00:00",
        }
    )


@pytest.fixture(scope="module")
def day(spark, tmp_path_factory):
    """Runs the day once; returns jobs per task, the schemas silver and
    gold read, and the serving rows."""
    tmp = tmp_path_factory.mktemp("medallion_jobs")
    lake, db = str(tmp / "lake"), str(tmp / "serving.db")
    types = {"temperature": "REAL", "feels_like": "REAL", "wind_speed": "REAL",
             "weather_code": "INTEGER"}
    cols = ", ".join(f"{c} {types.get(c, 'TEXT')}" for c in GOLD_WEATHER_COLUMNS)
    with sqlite3.connect(db) as conn:
        conn.execute(f"CREATE TABLE north_america_weather ({cols})")

    sc = spark.sparkContext
    run_id = uuid.uuid4().hex
    groups: dict[str, str] = {}
    read_schemas: dict[str, list[T.StructType]] = {"silver": [], "gold": []}

    def recording(mod, layer):
        real = mod.read_partition

        def read_partition(*args, **kwargs):
            df = real(*args, **kwargs)
            read_schemas[layer].append(df.schema)
            return df

        return read_partition

    def runner(argv: list[str]) -> int:
        layer, opts = argv[0], dict(zip(argv[1::2], argv[2::2]))
        task = f"{layer}_{opts['--country']}" if layer == "silver" else layer
        groups[task] = f"medallion-jobs-{run_id}-{task}"
        sc.setJobGroup(groups[task], task)
        try:
            if layer == "bronze":
                assert bronze.run(spark, lake, DATE_ID, KEYS, fetch) == len(KEYS)
            elif layer == "silver":
                silver.run(spark, lake, DATE_ID, opts["--country"])
            else:
                gold.run(spark, lake, DATE_ID, connect=lambda: sqlite3.connect(db),
                         table="north_america_weather")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return 0

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(silver, "read_partition", recording(silver, "silver"))
        mp.setattr(gold, "read_partition", recording(gold, "gold"))
        run_medallion(lake, DATE_ID, runner=runner)

    tracker = sc.statusTracker()
    jobs = {task: len(tracker.getJobIdsForGroup(g)) for task, g in groups.items()}
    with sqlite3.connect(db) as conn:
        rows = conn.execute(
            "SELECT country, date_id, typeof(date_id) FROM north_america_weather"
        ).fetchall()
    return {"jobs": jobs, "read_schemas": read_schemas, "rows": rows}


def test_medallion_day_job_budget(day):
    assert set(day["jobs"]) == set(JOB_BUDGET)
    over = {t: n for t, n in day["jobs"].items() if n > JOB_BUDGET[t]}
    assert not over, f"jobs per task {day['jobs']} exceed budget {JOB_BUDGET}"


def test_serving_rows_are_us_plus_ca(day):
    countries = sorted(r[0] for r in day["rows"])
    assert countries == sorted(k[:2] for k in KEYS if k[:2] in ("US", "CA"))


def test_reads_declare_date_id_as_written_string(day):
    """The lake writes date_id as VARCHAR; inference from the hive path
    would read it back as a DATE."""
    schemas = day["read_schemas"]
    assert len(schemas["silver"]) == 2 and len(schemas["gold"]) == 2
    for st in schemas["silver"] + schemas["gold"]:
        assert st["date_id"].dataType == T.StringType()
    assert {(d, t) for _, d, t in day["rows"]} == {(DATE_ID, "text")}
