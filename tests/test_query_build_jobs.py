"""Spark job budget of a warm query build.

Building a query should plan it, not run it. Each query below is built
as the harnesses build it, under ``execution_posture``: once to warm the
process, then again under its own job group. Its corpus reads reuse the
schema ``read_parquet`` inferred on the first read of each file, so the
second build of a relational query runs no job. The IVF top-k keeps only
its nprobe probe ``collect``, because the index schema is read once at
index time.
"""

import pytest

from etl_poor_main_pipeline_spark.fastpath import execution_posture
from etl_poor_main_pipeline_spark.registry import queries
from tests.conftest import SF_DIR, jobs_run

JOB_BUDGET = {
    "tpch_q1_pricing_summary": 0,
    "tpch_q3_shipping_priority": 0,
    "flagship_silver_shape": 0,
    "json_flatten": 0,
    "dedup_exact": 0,
    "window_lag_lead": 0,
    "text_tf_idf": 0,
    "bradley_terry_strengths": 0,
    "similarity_ivf_topk": 2,
}


@pytest.mark.parametrize("name", list(JOB_BUDGET))
def test_warm_build_job_budget(spark, name):
    def build():
        with execution_posture(spark, SF_DIR, name):
            return queries()[name](spark, SF_DIR)

    build()
    _, jobs = jobs_run(spark, build)
    assert jobs <= JOB_BUDGET[name], f"{name}: {jobs} jobs in a warm build"
