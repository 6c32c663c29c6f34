"""Bronze pipeline: API extract -> schema-enforced partitioned lake write.

Recreates ``insert_world_weather_daily`` (analytics__world_weather.py:125-186):
fetch a batch of city payloads, flatten the nested JSON, stamp the
``date_id`` partition value, enforce the declared schema, and
delete-and-insert the partition. The fetch function is injected so tests
run on canned JSON (no live API, SURVEY §7.5).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import SparkSession

from ..sinks.write import write_partition_overwrite
from ..sources.api import FetchFn, ingest_batch
from ..table import TableRef
from .schemas import WORLD_WEATHER_SCHEMA

BRONZE_TABLE = TableRef("analytics", "world_weather")


def run(
    spark: SparkSession,
    lake_root: str,
    date_id: str,
    keys: Iterable[str],
    fetch_fn: FetchFn,
    single_file: bool = False,
) -> int:
    """Returns the number of rows written (0 when the empty guard fired)."""
    # the row count is observed during the write (as in silver), so the
    # frame is never recounted; False is the writer's empty guard (it also
    # covers a day on which every fetch failed)
    metrics = write_partition_overwrite(
        ingest_batch(spark, keys, fetch_fn, date_id),
        BRONZE_TABLE,
        lake_root,
        schema=WORLD_WEATHER_SCHEMA,
        single_file=single_file,
        quality_cols=["temperature", "city"],
    )
    return int(metrics["n_rows"]) if metrics else 0
