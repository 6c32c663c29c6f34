"""Gold pipeline: UNION ALL of the silver tables -> serving-store load.

Recreates ``process_north_america_weather``
(dashboard__north_america_weather.py:16-105): read both silver partitions,
UNION ALL (duplicates preserved), stamp the literal region, then the W3
JDBC delete+append protocol (sinks.jdbc). The delete and append remain
separate transactions, faithfully documenting the reference's non-atomic
window (SURVEY §3.3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.relational import union_all
from ..sinks.jdbc import JdbcTarget, load_serving_table
from ..sources.read import read_partition
from ..table import TableRef
from .schemas import SILVER_WEATHER_SCHEMA
from .silver import silver_table

GOLD_TABLE = "dashboard.north_america_weather"


def run(
    spark: SparkSession,
    lake_root: str,
    date_id: str,
    connect: Callable | None = None,
    jdbc_url: str = "",
    table: str = GOLD_TABLE,
) -> int:
    us, ca = (
        read_partition(
            spark, silver_table(c).path(lake_root), date_id, schema=SILVER_WEATHER_SCHEMA
        )
        for c in ("US", "CA")
    )
    # W2 empty-day guard (ref dashboard__north_america_weather.py:75-77)
    # lives in the sinks below, so it is not repeated here: the lake
    # writer's and the JDBC writer's is an isEmpty() job, the DB-API
    # sink's is its one collect
    combined = union_all(ca, us).withColumn("region", F.lit("North America"))
    if not jdbc_url and connect is None:
        # offline serving path: no JDBC target configured -> publish the
        # gold table to the lake instead (same idempotent partition
        # overwrite as every lake write). Keeps the full medallion CLI
        # runnable without a database; point --jdbc-url at a real serving
        # store to get the reference's W3 delete+append protocol.
        from ..sinks.write import write_partition_overwrite

        ref = TableRef("dashboard", "north_america_weather", partition_col="date_id")
        out = combined.withColumn("date_id", F.lit(date_id))
        metrics = write_partition_overwrite(out, ref, lake_root, quality_cols=["temperature"])
        return int(metrics["n_rows"]) if isinstance(metrics, dict) else 0
    target = JdbcTarget(url=jdbc_url, table=table)
    return load_serving_table(combined, target, date_id, connect=connect)
