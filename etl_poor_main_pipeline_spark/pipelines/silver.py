"""Silver pipeline: country slice + CASE bucketing of the bronze table.

Recreates ``process_us_weather`` / ``process_canada_weather``
(analytics__us_weather.py:13-97, analytics__canada_weather.py same shape):
partition-pruned read of bronze -> equality filter on country -> column
pruning (drops humidity/pressure) -> temperature CASE bucket -> literal
date_id -> partition delete-and-insert.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.relational import temperature_category
from ..sinks.write import write_partition_overwrite
from ..sources.read import read_partition
from ..table import TableRef
from .bronze import BRONZE_TABLE
from .schemas import SILVER_WEATHER_SCHEMA, WORLD_WEATHER_SCHEMA


def silver_table(country: str) -> TableRef:
    name = {"US": "us_weather", "CA": "canada_weather"}.get(country, f"{country.lower()}_weather")
    return TableRef("analytics", name)


def run(
    spark: SparkSession,
    lake_root: str,
    date_id: str,
    country: str,
    single_file: bool = False,
) -> int:
    bronze = read_partition(
        spark, BRONZE_TABLE.path(lake_root), date_id, schema=WORLD_WEATHER_SCHEMA
    )
    out = (
        bronze.filter(F.col("country") == country)
        .select(
            "city",
            "country",
            "temperature",
            "feels_like",
            "weather",
            "weather_code",
            "wind_speed",
            "timestamp",
            temperature_category("temperature").alias("temperature_category"),
            F.lit(date_id).alias("date_id"),
        )
    )
    # observe() collects the row count (the reference's post-write log,
    # analytics__us_weather.py:92-96) plus data-quality null counters
    # during the write itself — no second pass over bronze. The W2 empty
    # guard (ref analytics__us_weather.py:60-62) is the writer's own: it
    # returns False instead of the metrics.
    metrics = write_partition_overwrite(
        out,
        silver_table(country),
        lake_root,
        schema=SILVER_WEATHER_SCHEMA,
        single_file=single_file,
        quality_cols=["temperature", "city"],
    )
    return int(metrics["n_rows"]) if metrics else 0
