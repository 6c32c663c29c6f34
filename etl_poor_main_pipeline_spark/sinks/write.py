"""Lake sinks: idempotent partition delete-and-insert + layout policy.

Reference behavior being recreated (W1/W2/W4/W5):
- W1 delete-and-insert partition overwrite (utils/duckdb_utils.py:61-190,
  README.md:17,27): the reference lists+deletes S3 objects under
  ``date_id={d}`` and the Glue partition, then COPYs new parquet. Spark-
  native: ``mode("overwrite").partitionBy(...)`` with
  ``partitionOverwriteMode=dynamic`` — only the partitions present in the
  incoming DataFrame are replaced, sibling partitions untouched. One conf,
  no hand-rolled S3 deletes, safe under concurrent daily runs.
- W2 empty-input guard (utils/duckdb_utils.py:144-146): skip the write when
  the DataFrame is empty, identical short-circuit.
- W4 catalog registration (utils/duckdb_utils.py:192-284): idempotent
  database/table creation against the session catalog (Glue via the
  catalog impl in a real deployment); ``MSCK``-equivalent partition sync.
- W5 single-file-per-partition (utils/duckdb_utils.py:154,186): preserved
  as an *opt-in* policy knob — correct for 30-row reference partitions,
  an anti-pattern at 100 TB (SURVEY §7.5), hence default off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import enforce_schema
from ..table import TableRef


def write_partition_overwrite(
    df: DataFrame,
    ref: TableRef,
    lake_root: str,
    schema: dict[str, str] | None = None,
    single_file: bool = False,
    quality_cols: list[str] | None = None,
) -> bool | dict:
    """W1+W2+W5: schema-enforced dynamic partition overwrite.

    Returns False when the empty-input guard short-circuited, True when a
    write happened — mirrors the reference's skip-log behavior.

    ``quality_cols`` turns on write-time data-quality metrics via
    ``df.observe`` — row count plus a null count per listed column,
    collected DURING the write (no second pass over the data, unlike a
    post-write validation query; at 100 TB a revalidation scan is a real
    cost). When set, returns the metrics dict instead of True.
    """
    if df.isEmpty():
        return False
    out = enforce_schema(df, schema) if schema else df
    observation = None
    if quality_cols:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        observation = Observation()
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.col(c).isNull().cast("long")).alias(f"n_null_{c}")
                for c in quality_cols
            ],
        )
    if single_file:
        # reference layout parity: exactly one file per partition. Fine for
        # small daily partitions; never use at scale.
        out = out.repartition(1)
    # per-write option, NOT session conf: setting the session-wide
    # partitionOverwriteMode would silently turn every later plain
    # mode('overwrite') partitioned write in the same session dynamic
    # (ADVICE r1) — scope the delete-and-insert semantics to this write
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(ref.partition_col)
        .parquet(ref.path(lake_root))
    )
    if observation is not None:
        return observation.get
    return True


def register_table(
    spark: SparkSession,
    ref: TableRef,
    lake_root: str,
    partition_value: str | None = None,
) -> None:
    """W4 idempotent catalog registration: CREATE DATABASE/TABLE IF NOT
    EXISTS over the external location, then partition registration.

    Against a Glue-backed catalog this issues the same idempotent calls the
    reference makes with boto3 (duckdb_utils.py:198-207,216-262); locally it
    lands in the Derby/in-memory catalog. Failures warn-and-continue like
    the reference (:281-282).

    ``partition_value``: when the caller knows which partition this run
    wrote (the reference always does — it registers the run's ``date_id``,
    duckdb_utils.py:264-280), issue ``ALTER TABLE ... ADD IF NOT EXISTS
    PARTITION`` for just that value: O(1) catalog work per run. Without
    it, fall back to ``MSCK REPAIR TABLE`` full discovery — equivalent
    locally but O(all partitions) per run, which at years of daily
    partitions x thousands of tables is real catalog load at scale.
    """
    try:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {ref.database}")
        # external partitioned tables need an explicit column list — infer
        # it from the data files (the write path already enforced types)
        schema = spark.read.parquet(ref.path(lake_root)).schema
        cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {ref.qualified_name} ({cols_ddl}) "
            f"USING PARQUET PARTITIONED BY ({ref.partition_col}) "
            f"LOCATION '{ref.path(lake_root)}'"
        )
        if partition_value is not None:
            safe = str(partition_value).replace("'", "''")
            spark.sql(
                f"ALTER TABLE {ref.qualified_name} ADD IF NOT EXISTS "
                f"PARTITION ({ref.partition_col}='{safe}')"
            )
        else:
            spark.sql(f"MSCK REPAIR TABLE {ref.qualified_name}")
    except Exception as exc:  # warn-and-continue, ref duckdb_utils.py:281-282
        import warnings

        warnings.warn(f"catalog registration failed for {ref.qualified_name}: {exc}")
