"""Sources: partition-pruned, schema-declared parquet scans (S1/S2/S6).

Reference behavior being recreated:
- S1 partition scan: the reference interpolates ``date_id={d}`` into the S3
  path (analytics__us_weather.py:51). Spark-native: read the partitioned
  root and filter on the partition column — Catalyst's
  PruneFileSourcePartitions turns that into the same single-directory scan
  (verified in tests via the explain PartitionFilters).
- S2 schema-declared scan: declared tables pass their schema to the
  reader (silver schemas at analytics__us_weather.py:71-82). Corpus files
  carry no declared schema; ``read_parquet`` infers each one once per file
  identity and schema-conversion conf set, and later reads pass that
  schema, so a query build runs no footer-inference job.
- S6 pandas handoff (the analogue of DuckDB ``con.register``,
  utils/duckdb_utils.py:162) is ``sources.api.ingest_batch``'s Arrow
  ``createDataFrame``.

Plus the driver-corpus loaders (TESTDATA.md): one parquet per table at
``{sf_dir}/{name}.parquet``. ``events.ts`` is parquet
``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — naive micros (asserted in
tests/test_read_events.py so this story can't drift from the data again).
``read_events`` guarantees ``unix_micros(ts)`` equals the stored naive
micros under every hosting session (NTZ inference on or off, any session
timezone), which is what every oracle twin's ``epoch_us(ts)`` sees.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import schema_from_dict

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(
    spark: SparkSession,
    path: str,
    schema: dict[str, str] | T.StructType | None = None,
) -> DataFrame:
    """Schema-declared parquet scan (S2). ``schema=None`` -> engine inference
    (only for ad-hoc exploration; declared tables always pass a schema)."""
    reader = spark.read
    if schema is not None:
        st = schema if isinstance(schema, T.StructType) else schema_from_dict(schema)
        reader = reader.schema(st)
    return reader.parquet(path)


#: Session confs that change how Spark converts a parquet footer to a schema.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: Inferred parquet schemas, keyed by file identity (absolute path, size,
#: mtime, inode) plus the values of ``_PARQUET_SCHEMA_CONFS``. Schemas only,
#: never DataFrames: every read must get its own relation (fresh attribute
#: ids for self-joins). Concurrent builders can only store the same value
#: under one key, so no lock.
_PARQUET_SCHEMAS: dict[tuple, T.StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that infers a file's schema once: Spark's inference
    runs a footer-reading job on every plain ``spark.read.parquet``. The
    first read of a file under a conf set infers as usual and keeps the
    schema; later reads pass it to the reader. A path ``os.stat`` cannot
    see (object store, missing file) is a plain ``spark.read.parquet``, and
    so is a dataset directory, whose own stat misses rewrites below it."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ino,
        *(spark.conf.get(c) for c in _PARQUET_SCHEMA_CONFS),
    )
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def read_partition(
    spark: SparkSession,
    root_path: str,
    partition_value: str,
    partition_col: str = "date_id",
    schema: dict[str, str] | T.StructType | None = None,
) -> DataFrame:
    """Partition-pruned scan (S1): read the partitioned root, filter on the
    partition column; Catalyst prunes to the one directory (SURVEY §4)."""
    df = read_table(spark, root_path, schema)
    return df.where(F.col(partition_col) == F.lit(partition_value))


#: Zone-free reinterpretation of a TIMESTAMP_NTZ column as the instant whose
#: unix_micros equal the naive micros: pure calendar arithmetic on the NTZ
#: value (days-since-epoch * 86400e6 + microsecond-of-day). No session-zone
#: wall-clock cast anywhere — a cast-based path ("shift wall clock into the
#: session zone, then cast") is lossy during DST fall-back in non-UTC
#: hosting sessions, where the shifted wall clock is ambiguous and the cast
#: resolves both occurrences to one offset (~1 h/year of events shifted).
_NTZ_AS_UTC_INSTANT = (
    "timestamp_micros("
    "unix_date(cast({c} as date)) * 86400000000"
    " + hour({c}) * 3600000000"
    " + cast(minute({c}) as bigint) * 60000000"
    " + cast(extract(second from {c}) * 1000000 as bigint))"
)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with ``ts`` as a µs-instant timestamp.

    The corpus stores ``ts`` as TIMESTAMP(MICROS, isAdjustedToUTC=false) —
    naive int64 micros. Two live paths, both guaranteeing
    ``unix_micros(ts) == stored micros`` under any session timezone:

    - NTZ inference on (Spark 4 default): the column arrives TIMESTAMP_NTZ;
      reinterpret with zone-free calendar arithmetic (``_NTZ_AS_UTC_INSTANT``,
      DST-safe — see comment there).
    - NTZ inference off: Spark's parquet reader takes the naive micros as
      UTC instants directly — pass through unchanged.

    Arrow fallback only if the hosting session's parquet read itself errors.
    """
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    try:
        df = read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.expr(_NTZ_AS_UTC_INSTANT.format(c="ts")))
        elif isinstance(df.schema["ts"].dataType, T.LongType):
            # nanosAsLong path: a TIMESTAMP(NANOS) corpus arrives as raw
            # int64 nanos (session.py sets the legacy conf for exactly this
            # case); rebuild the µs instant so downstream event queries see
            # a timestamp, not a bigint. FLOOR division (not `div`, which
            # truncates toward zero): pre-epoch nanos are negative, and the
            # native timestamp paths floor sub-µs fractions toward -inf —
            # truncation would shift pre-1970 instants up by 1µs.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr("(ts - ((ts % 1000) + 1000) % 1000) div 1000").cast(
                        "bigint"
                    )
                ),
            )
        return df
    except Exception:
        return _read_events_arrow(spark, path)


def _read_events_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Driver-side Arrow fallback for read_events (hosting session rejected
    the parquet-read confs). Ships the timestamp as raw int64 micros and
    rebuilds it JVM-side with timestamp_micros (an instant constructor): the
    pandas->Spark timestamp conversion localizes naive values in the session
    zone, which would shift the instant on non-UTC hosting sessions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    ts_idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        ts_idx, "ts", tbl.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
    )
    df = spark.createDataFrame(tbl.to_pandas())
    return df.withColumn("ts", F.timestamp_micros(F.col("ts")))


def hour_of_day(colname: str = "ts"):
    """Session-independent hour-of-day for an events timestamp: pure integer
    arithmetic on unix_micros, ``(unix_micros(ts) div 3600e6) mod 24`` — no
    calendar extraction, so the result is identical under every session
    timezone and read path (read_events guarantees unix_micros == the stored
    naive micros on all three of its paths). DuckDB twin:
    ``(epoch_us(ts) // 3600000000) % 24``."""
    return F.expr(f"pmod(unix_micros({colname}) div 3600000000, 24)").cast("bigint")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-corpus table by name (TESTDATA.md)."""
    if name == "events":
        return read_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")


def _format_available(spark: SparkSession, fmt: str) -> bool:
    """True when a pluggable DataSource format can be resolved by this
    deployment (Iceberg ships as an external module — present on a real
    cluster via --packages, absent in a bare pyspark install)."""
    try:
        jvm = spark._jvm  # noqa: SLF001 - capability probe, not a data path
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            fmt, spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_iceberg(spark: SparkSession, table_or_path: str) -> DataFrame:
    """Apache Iceberg table scan — the at-rest format the reference names
    for its bronze/silver layers (README.md:7,16,26,179,191: parquet files
    managed as Iceberg tables in the lake).

    Capability-gated: Iceberg needs the iceberg-spark-runtime jar plus a
    catalog config (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog);
    absent those, raise an actionable error instead of Spark's opaque
    ClassNotFound/NoSuchCatalog chain. With the jar present, accepts a
    catalog table name (``lake.db.table``) or a path-based table
    (``iceberg.`/path```), and Catalyst gets Iceberg's native partition
    pruning + metadata-file skipping — the scan behavior the reference's
    Athena/Glue setup relies on."""
    if not _format_available(spark, "iceberg"):
        raise NotImplementedError(
            "Iceberg support needs iceberg-spark-runtime on the classpath "
            "(spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>) "
            "plus a spark.sql.catalog.* SparkCatalog config; "
            "not deployed in this environment"
        )
    return spark.read.format("iceberg").load(table_or_path)
