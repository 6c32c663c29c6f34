"""Airflow DAG artifact for the medallion chain (E4 parity).

The reference ships an Airflow deployment where each layer runs as a
DockerOperator task (README.md:143-172; docker-compose.yml builds one
image, the DAG launches ``python -m`` mains inside it). This file is the
Spark-first analogue: drop it into an Airflow ``dags/`` folder on a
machine with this package installed (or swap BashOperator for
DockerOperator/KubernetesPodOperator pointing at the same image) and the
scheduler runs the identical graph the local runner
(``orchestration.run_dag``) executes in tests.

Import-gated: Airflow is not installed in this environment, so importing
this module without Airflow raises the same clear capability error the
optional readers use — the graph itself lives in ``run_dag.medallion_dag``
and stays fully tested either way.
"""

from __future__ import annotations

import datetime as _dt

from .run_dag import medallion_dag

try:  # capability gate — mirrors sources.read.read_iceberg
    from airflow import DAG
    from airflow.operators.bash import BashOperator
except ImportError as _exc:  # pragma: no cover - airflow absent here
    DAG = None
    _AIRFLOW_IMPORT_ERROR = _exc


def build_dag(
    lake_root: str = "{{ var.value.get('lake_root', '/tmp/lake') }}",
    schedule: str = "@daily",
):
    """Construct the Airflow DAG: bronze >> [silver_US, silver_CA] >> gold.

    Each task invokes the per-layer runnable module — the same entry
    point the reference's containers call — with the DAG logical date as
    ``--date-id`` (the reference's daily-partition contract)."""
    if DAG is None:
        raise NotImplementedError(
            "Airflow is not installed; pip install apache-airflow and place "
            "this file in the scheduler's dags/ folder. The DAG shape is "
            f"testable without it via orchestration.run_dag ({_AIRFLOW_IMPORT_ERROR})"
        )
    tasks = medallion_dag(lake_root, "{{ ds }}")
    with DAG(
        dag_id="weather_medallion",
        start_date=_dt.datetime(2026, 1, 1),
        schedule=schedule,
        catchup=False,
        tags=["medallion", "etl-poor-main-pipeline-spark"],
    ) as dag:
        ops = {
            name: BashOperator(
                task_id=name,
                bash_command=(
                    "python -m etl_poor_main_pipeline_spark.pipelines "
                    + " ".join(t.argv)
                ),
            )
            for name, t in tasks.items()
        }
        for name, t in tasks.items():
            for up in t.upstream:
                ops[up] >> ops[name]
    return dag


if DAG is not None:  # pragma: no cover - scheduler-only path
    dag = build_dag()
