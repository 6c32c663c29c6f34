"""Serving-layer sink: JDBC delete + append (W3).

Reference behavior (gold layer): a transactional parameterized
``DELETE FROM dashboard.north_america_weather WHERE date_id = :date_id``
(dashboard__north_america_weather.py:85-89) followed by a batched append
(utils/postgres_utils.py:26-41, ``to_sql(if_exists='append',
method='multi')``). The two steps run in separate transactions in the
reference; we keep the same delete+append semantics and document the same
non-atomic window (SURVEY §3.3) — callers needing atomicity use the
staging-table variant below.

Spark-native: the pre-delete is a single driver-side JDBC statement (it
touches one partition's rows); the append is ``df.write.format("jdbc")``,
which executors perform in parallel batches.

No JDBC driver jar nor live database exists in this container, so the
connection factory is injectable; tests exercise the protocol against an
in-memory fake and the sqlite3 stdlib (DB-API), proving ordering, SQL text,
and the empty-input guard (W2, utils/postgres_utils.py:16-18).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from ..operators.relational import truncate_str

if TYPE_CHECKING:
    import pyarrow as pa


@dataclass
class JdbcTarget:
    url: str
    table: str  # schema-qualified, e.g. "dashboard.north_america_weather"
    properties: dict | None = None


def delete_partition_rows(
    connect: Callable,
    table: str,
    date_id: str,
    partition_col: str = "date_id",
    placeholder: str = "?",
) -> int:
    """Driver-side parameterized pre-delete (one transaction).

    ``connect`` is any DB-API connection factory. Returns rowcount when the
    driver reports it (-1 otherwise). ``placeholder`` follows the driver's
    paramstyle: ``?`` (qmark: sqlite) or ``%s`` (format: pg8000/psycopg2).
    """
    conn = connect()
    try:
        cur = conn.cursor()
        # parameterized — never interpolate the value (the reference also
        # binds :date_id, dashboard__north_america_weather.py:87)
        cur.execute(
            f"DELETE FROM {table} WHERE {partition_col} = {placeholder}",
            (date_id,),
        )
        rc = cur.rowcount
        conn.commit()
        return rc
    finally:
        conn.close()


def append_via_dbapi(
    data: pa.Table,
    connect: Callable,
    table: str,
    batch_size: int = 1000,
    placeholder: str = "?",
) -> int:
    """Batched multi-row INSERT append through DB-API (the reference's
    ``method='multi'`` analogue) for environments without a JDBC jar.

    ``data`` is the serving frame collected once as an Arrow table
    (``df.toArrow()``, one Spark job); each ``batch_size``-row record
    batch becomes one ``executemany``. A driver-side collect suits a
    dashboard-sized serving load (the reference loads 60 rows/day); the
    JDBC writer below is the scale path. The empty-input guard is the
    caller's (``load_serving_table``); an empty table inserts nothing.
    """
    cols = data.column_names
    placeholders = ",".join([placeholder] * len(cols))
    sql = f"INSERT INTO {table} ({','.join(cols)}) VALUES ({placeholders})"
    conn = connect()
    try:
        cur = conn.cursor()
        for batch in data.to_batches(max_chunksize=batch_size):
            cur.executemany(sql, list(zip(*(c.to_pylist() for c in batch.columns))))
        conn.commit()
        return data.num_rows
    finally:
        conn.close()


#: Env var holding a live PostgreSQL DSN (e.g.
#: ``postgresql://user:pw@host:5432/db``). When set AND a pure-Python
#: driver (pg8000 or psycopg2) is importable, ``connect_from_env`` returns
#: a DB-API connection factory and the live round-trip smoke in
#: tests/test_jdbc_live.py runs; otherwise both gate off cleanly — the
#: same capability-gate pattern as the Avro/Pillow optional deps.
LIVE_DSN_ENV = "SPARK_GRAFT_PG_DSN"


def connect_from_env() -> Callable | None:
    """DB-API connection factory for the live-database smoke, or None.

    Gated twice: the DSN must be present in ``$SPARK_GRAFT_PG_DSN`` and a
    driver must be importable (pg8000 preferred — pure Python; psycopg2
    fallback). Returns None rather than raising so callers/tests can skip.
    """
    import os
    import urllib.parse

    dsn = os.environ.get(LIVE_DSN_ENV)
    if not dsn:
        return None
    try:
        import pg8000.dbapi as _drv  # type: ignore[import-not-found]

        parts = urllib.parse.urlsplit(dsn)
        kwargs = {
            "user": urllib.parse.unquote(parts.username or ""),
            "password": urllib.parse.unquote(parts.password or ""),
            "host": parts.hostname or "localhost",
            "port": parts.port or 5432,
            "database": parts.path.lstrip("/") or "postgres",
        }
        return lambda: _drv.connect(**kwargs)
    except ImportError:
        pass
    try:
        import psycopg2  # type: ignore[import-not-found]

        return lambda: psycopg2.connect(dsn)
    except ImportError:
        return None


def load_serving_table(
    df: DataFrame,
    target: JdbcTarget,
    date_id: str,
    connect: Callable | None = None,
    partition_col: str = "date_id",
    placeholder: str = "?",
) -> int:
    """W3 end-to-end: truncate date_id to 10 chars (P6, ref
    utils/postgres_utils.py:23-24) -> empty guard -> pre-delete -> append.

    With ``connect`` given, uses DB-API both for delete and append (test &
    no-jar path). Otherwise uses Spark's JDBC writer for the append — the
    parallel executor path for real Postgres.
    """
    df = df.withColumn(partition_col, truncate_str(partition_col, 10))
    if connect is not None:
        # one collect is the whole Spark side of the DB-API load; the W2
        # guard (ref utils/postgres_utils.py:16-18) tests its row count
        # before the DELETE, so an empty day touches nothing
        data = df.toArrow()
        if data.num_rows == 0:
            return 0
        delete_partition_rows(
            connect, target.table, date_id, partition_col, placeholder
        )
        return append_via_dbapi(
            data, connect, target.table, placeholder=placeholder
        )
    if df.isEmpty():  # W2 guard, ref utils/postgres_utils.py:16-18
        return 0
    # JDBC path: pre-delete still needs a driver-side connection; use py4j
    # java.sql through the active JVM so no Python driver is required.
    _jdbc_delete_via_jvm(df.sparkSession, target, date_id, partition_col)
    (
        df.write.format("jdbc")
        .option("url", target.url)
        .option("dbtable", target.table)
        .options(**(target.properties or {}))
        .mode("append")
        .save()
    )
    return df.count()


def _jdbc_delete_via_jvm(spark, target: JdbcTarget, date_id: str, partition_col: str) -> None:
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(target.url)
    try:
        stmt = conn.prepareStatement(
            f"DELETE FROM {target.table} WHERE {partition_col} = ?"
        )
        stmt.setString(1, date_id)
        stmt.executeUpdate()
        stmt.close()
    finally:
        conn.close()
