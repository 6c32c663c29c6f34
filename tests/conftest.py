from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"

# tests/ is not a package (no __init__.py): load the runner by path, the
# same way pytest itself imports conftest modules
import importlib.util as _ilu  # noqa: E402

_spec = _ilu.spec_from_file_location(
    "_etl_par_runner", Path(__file__).resolve().parent / "_par_runner.py"
)
_par_runner = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_par_runner)


def pytest_runtestloop(session):
    """Full-suite runs fan out across subprocess workers (file shards) so
    the whole suite fits the driver's verify window; see
    tests/_par_runner.py. Single-file / narrowed runs, worker processes,
    and ETL_TEST_PAR=0 take the stock sequential loop (return None)."""
    if not _par_runner.should_parallelize(session):
        return None
    return _par_runner.run_parallel(session)


class _ReportWriter:
    """Worker-side mirror of every test/collect report into the JSONL
    stream the parent runner replays (pytest's own report serialization,
    the xdist mechanism)."""

    def __init__(self, config, path: str):
        self.config = config
        self.fh = open(path, "a", buffering=1)

    def _write(self, report) -> None:
        data = self.config.hook.pytest_report_to_serializable(
            config=self.config, report=report
        )
        self.fh.write(json.dumps(data) + "\n")

    def pytest_runtest_logreport(self, report):
        self._write(report)

    def pytest_collectreport(self, report):
        if report.failed:
            self._write(report)


def pytest_configure(config):
    report_file = os.environ.get(_par_runner.REPORT_FILE_ENV)
    if report_file and os.environ.get(_par_runner.WORKER_ENV):
        config.pluginmanager.register(
            _ReportWriter(config, report_file), "etl-par-report-writer"
        )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from etl_poor_main_pipeline_spark.session import get_spark

    wh = str(tmp_path_factory.mktemp("warehouse"))
    cores = os.environ.get(_par_runner.SPARK_CORES_ENV, "8")
    spark = get_spark(
        app_name="tests",
        master=f"local[{cores}]",
        extra_confs={
            "spark.sql.warehouse.dir": wh,
            # both sides of the Python worker connect-back handshake can
            # exceed the 15s defaults while 8 shard workers saturate the
            # host (JVM side here; the Python side's
            # SPARK_AUTH_SOCKET_TIMEOUT is set by tests/_par_runner.py)
            "spark.python.authenticate.socketTimeout": "120s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def jobs_run(spark, fn):
    """Calls ``fn()`` under a fresh job group; returns its result and the
    number of Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_run")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def lake(tmp_path):
    return str(tmp_path / "lake")


def make_weather_rows(date_id: str, countries=("US", "CA", "GB")):
    """Weather-shaped fixture rows (FIXTURES.md §2): every CASE branch,
    boundary values 0/10/20, NULL temperature, and duplicates."""
    rows = []
    temps = [-5.0, 0.0, 9.9, 10.0, 19.9, 20.0, 25.0, None]
    for country in countries:
        for i, t in enumerate(temps):
            rows.append(
                {
                    "city": f"{country}_city_{i}",
                    "country": country,
                    "temperature": t,
                    "feels_like": (t - 2.0) if t is not None else None,
                    "humidity": 50 + i,
                    "pressure": 1000 + i,
                    "weather": "clear sky",
                    "weather_code": 800,
                    "wind_speed": 3.5,
                    "timestamp": f"{date_id}T12:00:00",
                    "date_id": date_id,
                }
            )
    # duplicate row (U1 must preserve; dedup tests rely on it)
    rows.append(dict(rows[0]))
    return rows


@pytest.fixture()
def bronze_df(spark):
    from etl_poor_main_pipeline_spark.pipelines.schemas import WORLD_WEATHER_SCHEMA
    from etl_poor_main_pipeline_spark.schema import enforce_schema, schema_from_dict

    rows = make_weather_rows("2026-01-01")
    df = spark.createDataFrame(rows, schema=schema_from_dict(WORLD_WEATHER_SCHEMA))
    return enforce_schema(df, WORLD_WEATHER_SCHEMA)
