"""Wave 21: recursive CTE spine; scan read-schema report."""

from etl_poor_main_pipeline_spark.registry_ext20 import q_recursive_month_spine

SF = "/root/testdata/sf0.001"


def test_recursive_spine_covers_every_month(spark):
    rows = q_recursive_month_spine(spark, SF).collect()
    assert len(rows) == 80  # 1995-01 .. 2001-08 inclusive
    months = [r.month for r in rows]
    assert months == sorted(months)
    assert months[0] == "1995-01" and months[-1] == "2001-08"
    # gapfill: zero-order months surface explicitly, with zero revenue
    for r in rows:
        if r.n_orders == 0:
            assert r.revenue == 0.0


def test_read_schema_report_shows_pruned_columns(spark):
    from pyspark.sql import functions as F

    from etl_poor_main_pipeline_spark.plans.explain import read_schema_report
    from etl_poor_main_pipeline_spark.sources.read import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    df = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    report = read_schema_report(df)
    assert report, "no parquet scan found in plan"
    cols = next(iter(report.values()))
    # the scan reads only the projected + filtered columns, not all ~16
    assert set(cols) == {"l_orderkey", "l_quantity", "l_returnflag"}
