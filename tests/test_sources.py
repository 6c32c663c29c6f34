from etl_poor_main_pipeline_spark.sources.read import load_table, read_table


def test_load_table_events_ts_is_timestamp(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_read_table_with_declared_schema_subset(spark):
    # declared-schema read prunes to the declared columns (S2)
    df = read_table(
        spark,
        "/root/testdata/sf0.001/orders.parquet",
        {"o_orderkey": "BIGINT", "o_orderstatus": "VARCHAR"},
    )
    assert df.columns == ["o_orderkey", "o_orderstatus"]
    assert df.count() == 1500


def test_avro_delta_capability_gate(spark):
    """The capability probe resolves built-in formats and reports external
    modules (Avro, Delta, Iceberg) absent when their jars are not
    deployed; an absent Iceberg surfaces as a clear NotImplementedError.
    A bare pyspark install has none of the three jars."""
    import pytest

    from etl_poor_main_pipeline_spark.sources.read import (
        _format_available,
        read_iceberg,
    )

    assert _format_available(spark, "parquet")
    if any(_format_available(spark, f) for f in ("avro", "delta", "iceberg")):
        pytest.skip("an external format module is deployed here; gate inapplicable")
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        read_iceberg(spark, "lake.db.events")
