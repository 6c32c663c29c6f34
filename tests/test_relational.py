import pytest

from etl_poor_main_pipeline_spark.operators.relational import (
    case_bucket,
    filter_eq,
    temperature_category,
    truncate_str,
    union_all,
)


def _bucket(spark, value):
    df = spark.createDataFrame([(value,)], "temperature: double")
    return df.select(temperature_category().alias("b")).head().b


@pytest.mark.parametrize(
    "temp,expected",
    [
        (-0.1, "Freezing"),
        (0.0, "Cold"),  # boundary: < 0 is Freezing, 0 itself is Cold
        (9.9, "Cold"),
        (10.0, "Mild"),  # boundary
        (19.9, "Mild"),
        (20.0, "Warm"),  # boundary
        (35.0, "Warm"),
        (None, "Warm"),  # NULL falls to ELSE in Spark and DuckDB alike
    ],
)
def test_temperature_bucket_boundaries(spark, temp, expected):
    # pins the reference CASE semantics (analytics__us_weather.py:45-50)
    assert _bucket(spark, temp) == expected


def test_case_bucket_generic_ordering(spark):
    df = spark.createDataFrame([(5.0,), (15.0,), (50.0,)], "x: double")
    out = df.select(case_bucket("x", [(10.0, "lo"), (20.0, "mid")], "hi").alias("b"))
    assert [r.b for r in out.collect()] == ["lo", "mid", "hi"]


def test_truncate_str_ten_chars(spark):
    # P6: the defensive date_id[:10] (utils/postgres_utils.py:23-24)
    df = spark.createDataFrame([("2026-01-01T12:00:00",), ("2026-01-02",)], "d: string")
    out = [r.t for r in df.select(truncate_str("d").alias("t")).collect()]
    assert out == ["2026-01-01", "2026-01-02"]


def test_truncate_idempotent(spark):
    df = spark.createDataFrame([("2026-01-01T12:00:00",)], "d: string")
    once = df.select(truncate_str("d").alias("d"))
    twice = once.select(truncate_str("d").alias("d"))
    assert once.head().d == twice.head().d


def test_union_all_preserves_duplicates(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    assert union_all(a, b).count() == 3  # bag semantics (U1)


def test_union_all_by_name_not_position(spark):
    # unionByName fixes column order; positional union would misalign
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "id"])
    out = union_all(a, b).collect()
    assert {(r.id, r.v) for r in out} == {(1, "x"), (2, "y")}


def test_union_all_schema_drift_fails(spark):
    a = spark.createDataFrame([(1,)], ["id"])
    b = spark.createDataFrame([(1, "x")], ["id", "extra"])
    with pytest.raises(Exception):
        union_all(a, b).collect()


def test_filter_eq_pushdown_reaches_scan(spark, tmp_path):
    from etl_poor_main_pipeline_spark.plans.explain import pushed_filters

    p = str(tmp_path / "t")
    spark.createDataFrame([("US", 1), ("CA", 2)], ["country", "v"]).write.parquet(p)
    df = filter_eq(spark.read.parquet(p), "country", "US")
    assert "country" in pushed_filters(df)
    assert df.count() == 1
