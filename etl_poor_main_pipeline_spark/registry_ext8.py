"""Operator registry, wave 9: Structured Streaming pipelines run to
completion and oracle-checked. Each query builds a real stream
(``readStream`` over the events parquet), drains it with
``trigger(availableNow)`` into a memory sink, and returns the drained
table — over a finite input the result must equal the equivalent batch
query, so the streaming path gets the same full-parity DuckDB gate as
every batch operator (instead of the weaker rows-only check).

The streaming module (streaming/events.py) documents the unbounded-input
posture (watermarks bound state); these oracle twins deliberately omit
watermarks because over a replayed finite file a watermark that advances
between micro-batches could drop legitimate rows as late and make the
result depend on batch boundaries — the twin pins semantics, the
watermarked variants handle scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _dsum, _dsum_sql
from .sources.read import load_table
from .streaming.events import (
    drain_to_table,
    enrich_stream,
    read_event_stream_parquet,
    sessionize_stream,
)


def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate drained in ``complete`` mode:
    hourly counts + exact decimal-path value sums per event type. The
    final emission of a complete-mode aggregation over a finite stream is
    exactly the batch groupBy — hence the full-parity oracle."""
    ev = read_event_stream_parquet(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum(F.col("value"), "sum_value"))
    )
    out = drain_to_table(agg, "complete", state_partitions=8)
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


_ORACLE_STREAM_TUMBLING = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       {_dsum_sql('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


def q_streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping-window aggregate (1h windows sliding every 30m)
    drained in ``complete`` mode: each event lands in two overlapping
    windows — the streaming twin of the batch ``hopping_window_agg``."""
    ev = read_event_stream_parquet(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = drain_to_table(agg, "complete", state_partitions=8)
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events",
    )


_ORACLE_STREAM_HOPPING = """
WITH starts AS (
  SELECT ts, time_bucket(INTERVAL '30 minutes', ts) - off AS ws
  FROM events, (VALUES (INTERVAL '0 minutes'), (INTERVAL '30 minutes')) t(off)
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events
FROM starts
WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
GROUP BY ws
"""


def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup drained in ``append`` mode. Projecting only
    the dedup keys makes the result order-independent (whichever row wins
    the first-seen race carries the same key values), so the drained
    table is exactly the batch DISTINCT."""
    ev = read_event_stream_parquet(spark, sf_dir)
    ded = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return drain_to_table(ded, "append", state_partitions=8)


_ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment drained in ``append`` mode: each event
    micro-batch left-joins the (broadcast) customer dimension — the
    streaming analogue of the silver-layer enrichment join, row-level and
    deterministic, so the drained table equals the batch join."""
    ev = read_event_stream_parquet(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment"))
    )
    joined = enrich_stream(ev, dim, on="user_id").select(
        "event_id", "user_id", "event_type", "c_mktsegment"
    )
    return drain_to_table(joined, "append")


_ORACLE_STREAM_ENRICH = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the full gate: gap-based
    sessionization via ``applyInPandasWithState``, drained in ``update``
    mode. The single-file source drains in one micro-batch, so each user
    emits exactly one (final) row and the result equals the batch
    gap-island computation — the strongest check a stateful streaming
    operator can get. Timestamps are µs both sides (stream reader divides
    ns by 1000; oracle compares epoch_us), so gap comparisons agree."""
    ev = read_event_stream_parquet(spark, sf_dir)
    sess = sessionize_stream(ev, gap_minutes=30)
    out = drain_to_table(sess, "update", state_partitions=8)
    return out.select("user_id", "n_sessions", "n_events")


_ORACLE_STREAM_SESSION = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id,
       cast(sum(new_sess) AS bigint) AS n_sessions,
       cast(count(*) AS bigint) AS n_events
FROM flagged GROUP BY user_id
"""


REGISTRY_EXT8: dict[str, QuerySpec] = {
    "streaming_tumbling_counts": QuerySpec(
        q_streaming_tumbling_counts, _ORACLE_STREAM_TUMBLING, "W4 streaming"
    ),
    "streaming_hopping_counts": QuerySpec(
        q_streaming_hopping_counts, _ORACLE_STREAM_HOPPING, "W4 streaming"
    ),
    "streaming_dedup_keys": QuerySpec(
        q_streaming_dedup_keys, _ORACLE_STREAM_DEDUP, "W4 streaming/X1"
    ),
    "streaming_static_enrich": QuerySpec(
        q_streaming_static_enrich, _ORACLE_STREAM_ENRICH, "W4 streaming"
    ),
    "streaming_sessionize_totals": QuerySpec(
        q_streaming_sessionize, _ORACLE_STREAM_SESSION, "W4 streaming stateful"
    ),
}
