"""``read_parquet``: one schema inference per corpus file and conf set.

A plain ``spark.read.parquet`` runs a footer-reading Spark job to infer
the schema on every call. ``read_parquet`` keeps the inferred schema keyed
by the file's identity and the confs that shape parquet schema conversion,
so a repeated read plans without a job, a rewritten file or a changed conf
infers afresh, and a path it cannot stat behaves exactly like the plain
reader.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_poor_main_pipeline_spark.sources.read import (
    TESTDATA_TABLES,
    load_table,
    read_events,
    read_parquet,
)
from tests.conftest import SF_DIR, jobs_run

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_second_load_runs_no_job_and_keeps_the_schema(spark, name):
    load_table(spark, SF_DIR, name)
    df, jobs = jobs_run(spark, lambda: load_table(spark, SF_DIR, name))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_ntz_inference_conf_is_part_of_the_key(spark):
    path = f"{SF_DIR}/events.parquet"
    truth = sorted(pq.read_table(path).column("ts").cast("int64").to_pylist())
    old = spark.conf.get(NTZ_CONF)
    read_events(spark, SF_DIR)  # cache the schema under the tuned posture
    spark.conf.set(NTZ_CONF, "true")
    try:
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType,
                          T.TimestampNTZType)
        df = read_events(spark, SF_DIR)
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        got = sorted(r.u for r in df.select(F.unix_micros("ts").alias("u")).collect())
        assert got == truth
    finally:
        spark.conf.set(NTZ_CONF, old)
    assert isinstance(read_parquet(spark, path).schema["ts"].dataType, T.TimestampType)


def test_missing_path_raises_like_the_plain_reader(spark, tmp_path):
    missing = str(tmp_path / "absent.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as memo:
        read_parquet(spark, missing)
    assert type(memo.value) is type(plain.value)
    with pytest.raises(Exception) as table:
        load_table(spark, str(tmp_path), "absent")
    assert type(table.value) is type(plain.value)
