"""Operator registry, wave 35: pre-aggregation pyramids, null-safe
joins, share-of-total reporting, foreachBatch upsert streaming, and
table profiling.

Scale stances:
- rollup reuse: the day level aggregates the HOUR level's partials, not
  the raw facts — the pre-agg pyramid that turns a 100 TB fact scan
  into an O(buckets) rollup; decimal partial sums stay mergeable.
- null-safe join: eqNullSafe compiles to a hash join on a null-safe
  key (no fallback to nested-loop); NULL keys co-locate like values.
- share of total: the global denominator is ONE row broadcast back —
  never a global window over the fact table.
- streaming upsert: foreachBatch keyed merge (latest-per-key) into a
  parquet target across micro-batches — the production CDC-apply
  pattern; final state is batch-boundary-independent because
  latest-per-key carries a total (ts, event_id) order.
- table profile: every per-column statistic is one pass of mergeable
  aggregates; the unpivot to (column, stat) rows is O(columns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier, scratch_dir

# --------------------------------------------------------------------------
# Hierarchical rollup reuse (agg [EXT])
# --------------------------------------------------------------------------


def q_hierarchical_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] pre-aggregation pyramid: hour-level event aggregates are
    computed ONCE, and the day level rolls up the hour partials —
    count/sum merge exactly (decimal sums), so the day scan touches
    O(hours) rows instead of O(events). This is the hypertable
    continuous-aggregate shape: at 100 TB the raw facts are read once
    per level-1 refresh, every coarser level reads the level below.
    Output interleaves both levels, tagged by grain."""
    e = _t(spark, sf_dir, "events")
    hour = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("dsum"),
        )
    )
    day = (
        hour.groupBy(F.date_trunc("day", "bucket").alias("bucket"))
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("dsum").alias("dsum"),
        )
    )
    unify = lambda df, grain: df.select(  # noqa: E731
        F.lit(grain).alias("grain"),
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n",
        F.round(F.col("dsum").cast("double"), 2).alias("sum_value"),
    )
    return (
        unify(hour, "hour")
        .unionAll(unify(day, "day"))
        .orderBy("grain", "bucket")
    )


_ORACLE_ROLLUP_REUSE = """
WITH hour AS (
  SELECT date_trunc('hour', ts) AS bucket,
         count(*)::BIGINT AS n,
         sum(value::DECIMAL(18,6)) AS dsum
  FROM events GROUP BY 1
),
day AS (
  SELECT date_trunc('day', bucket) AS bucket,
         sum(n)::BIGINT AS n, sum(dsum) AS dsum
  FROM hour GROUP BY 1
)
SELECT 'hour' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       n, round(dsum::DOUBLE, 2) AS sum_value FROM hour
UNION ALL
SELECT 'day' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       n, round(dsum::DOUBLE, 2) AS sum_value FROM day
ORDER BY grain, bucket
"""


# --------------------------------------------------------------------------
# Null-safe join (join [EXT])
# --------------------------------------------------------------------------


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] null-safe equality join (``<=>`` / IS NOT DISTINCT FROM):
    the urgent-priority bucket is nulled out on both sides (the corpus
    has no natural NULLs), and the join must match NULL keys to each
    other — plain equality would silently drop that whole bucket.
    ``eqNullSafe`` stays a HASH join (NULLs hash like values, no
    nested-loop fallback); the dim side is 5 rows, broadcast."""
    key = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.lit(None).cast("string")
    ).otherwise(F.col("o_orderpriority"))
    o = _t(spark, sf_dir, "orders").select(
        key.alias("prio_key"), "o_totalprice"
    )
    # derived from the same frame: materialize to break the self-join
    # lineage (5 rows) rather than rely on alias disambiguation
    dim = barrier(
        o.select(F.col("prio_key").alias("dim_key"))
        .distinct()
        .withColumn("dim_label", F.coalesce("dim_key", F.lit("URGENT-NULL"))),
        eager=True,
    )
    return (
        o.join(F.broadcast(dim), F.col("prio_key").eqNullSafe(F.col("dim_key")))
        .groupBy("dim_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_price"),
        )
        .orderBy("dim_label")
    )


_ORACLE_NULL_SAFE = """
WITH o AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
              ELSE o_orderpriority END AS prio_key,
         o_totalprice
  FROM orders
),
dim AS (
  SELECT DISTINCT prio_key,
         coalesce(prio_key, 'URGENT-NULL') AS dim_label
  FROM o
)
SELECT dim.dim_label,
       count(*)::BIGINT AS n,
       round(sum(o.o_totalprice::DECIMAL(18,6))::DOUBLE, 2) AS sum_price
FROM o JOIN dim ON o.prio_key IS NOT DISTINCT FROM dim.prio_key
GROUP BY dim.dim_label ORDER BY dim.dim_label
"""


# --------------------------------------------------------------------------
# Share-of-total reporting (agg [EXT])
# --------------------------------------------------------------------------


def q_share_of_total_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ratio-to-report: per-nation revenue and its share of the
    GLOBAL total, in parts-per-million. The denominator is a one-row
    aggregate broadcast back onto the 25-row group frame — the
    scale-safe spelling of ``sum() OVER ()`` (which would plan a global
    window). Exact decimal sums on both numerator and denominator; the
    ppm ratio divides the two exact doubles identically cross-engine."""
    from .fastpath import broadcast_if_small

    # customer grows with the corpus: size-gated pin; nation is a true enum
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    per = (
        o.join(broadcast_if_small(c, sf_dir, ["customer"]), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("dsum"))
    )
    total = per.agg(F.sum("dsum").alias("dtot"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("dsum").cast("double"), 2).alias("revenue"),
            F.floor(
                F.lit(1000000.0)
                * F.col("dsum").cast("double")
                / F.col("dtot").cast("double")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("nation")
    )


_ORACLE_SHARE = """
WITH per AS (
  SELECT n.n_name AS nation,
         sum(o.o_totalprice::DECIMAL(18,6)) AS dsum
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
tot AS (SELECT sum(dsum) AS dtot FROM per)
SELECT nation,
       round(dsum::DOUBLE, 2) AS revenue,
       cast(floor(1000000.0 * dsum::DOUBLE / (SELECT dtot FROM tot)::DOUBLE + 0.5)
            AS bigint) AS share_ppm
FROM per ORDER BY nation
"""


# --------------------------------------------------------------------------
# Streaming foreachBatch keyed upsert (X10 [EXT])
# --------------------------------------------------------------------------


def q_streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X10 the CDC-apply pattern: stream events in MULTIPLE
    micro-batches (source re-split into 4 files, maxFilesPerTrigger=1)
    and foreachBatch-MERGE each batch into a keyed parquet target,
    keeping the latest row per user (total order ts, event_id). Each
    merge unions the current target with the batch and re-resolves
    latest-per-key — the loop-free emulation of MERGE INTO on plain
    parquet. The final state is batch-boundary-INDEPENDENT (argmax over
    a total order), which is exactly what makes it oracle-checkable;
    the read-back aggregates latest event_type frequencies."""

    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    base = scratch_dir(spark, "upsert", os.path.basename(sf_dir.rstrip("/")))
    src, tgt = os.path.join(base, "src"), os.path.join(base, "tgt")
    # re-split the single-file source so availableNow yields 4 batches
    e.repartition(4).write.mode("overwrite").parquet(src)
    # fresh target AND checkpoint per run (the query is the whole
    # pipeline): a leftover checkpoint from a killed prior run would make
    # the new stream consider all source files already processed — zero
    # batches, no target written, and the read-back would fail
    tgt_path = os.path.join(tgt, "state.parquet")
    import shutil

    for stale in (tgt, os.path.join(base, "ckpt")):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if os.path.exists(tgt_path):
            cur = sp.read.parquet(tgt_path)
            unioned = cur.unionByName(batch_df)
        else:
            unioned = batch_df
        latest = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # stage-then-swap: never read and overwrite the same files
        staged = tgt_path + f".batch{batch_id}"
        latest.write.mode("overwrite").parquet(staged)
        import shutil

        if os.path.exists(tgt_path):
            shutil.rmtree(tgt_path)
        os.rename(staged, tgt_path)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option(
            "checkpointLocation",
            os.path.join(base, "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(600)
    finally:
        if q.isActive:
            q.stop()
    if q.exception() is not None:
        raise q.exception()
    shutil.rmtree(os.path.join(base, "ckpt"))  # fresh stream next call
    final = spark.read.parquet(tgt_path)
    return (
        final.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_latest"))
        .orderBy("event_type")
    )


_ORACLE_UPSERT = """
WITH latest AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n_users_latest
FROM latest WHERE rn = 1
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Table profiling (dq [EXT])
# --------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]


def q_table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the ANALYZE-style column profile a catalog collects before
    CBO can reorder joins: per column, row count, EXACT distinct count,
    null count, and lexicographic min/max (values rendered as strings so
    one schema fits every column). One aggregate pass per column over
    mergeable partials, unpivoted to O(columns) rows. Exact NDV keeps
    the oracle exact; production would swap in approx_count_distinct
    (see approx_count_distinct / sketch_hll_mergeable for that path)."""
    o = _t(spark, sf_dir, "orders")
    parts = []
    for col in _PROFILE_COLS:
        c = F.col(col).cast("string")
        parts.append(
            o.agg(
                F.lit(col).alias("column"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.sum(F.when(c.isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_null"),
                F.min(c).alias("min_str"),
                F.max(c).alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("column")


def _oracle_profile() -> str:
    selects = []
    for col in _PROFILE_COLS:
        selects.append(
            f"""SELECT '{col}' AS "column",
       count(*)::BIGINT AS n_rows,
       count(DISTINCT {col}::VARCHAR)::BIGINT AS n_distinct,
       sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       min({col}::VARCHAR) AS min_str,
       max({col}::VARCHAR) AS max_str
FROM orders"""
        )
    return "\nUNION ALL\n".join(selects) + '\nORDER BY "column"'


REGISTRY_EXT34: dict[str, QuerySpec] = {
    "hierarchical_rollup_reuse": QuerySpec(
        q_hierarchical_rollup_reuse, _ORACLE_ROLLUP_REUSE, "agg [EXT] pre-agg pyramid"
    ),
    "null_safe_join": QuerySpec(
        q_null_safe_join, _ORACLE_NULL_SAFE, "join [EXT] IS NOT DISTINCT FROM"
    ),
    "share_of_total_agg": QuerySpec(
        q_share_of_total_agg, _ORACLE_SHARE, "agg [EXT] ratio-to-report"
    ),
    "streaming_upsert_latest": QuerySpec(
        q_streaming_upsert_latest, _ORACLE_UPSERT, "X10 [EXT] foreachBatch CDC apply"
    ),
    "table_stats_profile": QuerySpec(
        q_table_stats_profile, _oracle_profile(), "dq [EXT] ANALYZE profile"
    ),
}
