"""Distributed exclusive prefix sums — the scale-safe replacement for
``Window.orderBy(...)`` global scans.

A global ordered cumulative sum is the classic single-partition trap: Spark
warns ``WindowExec: No Partition Defined ... Moving all data to a single
partition`` and at 100 TB one task serializes the whole table. But the
*work-efficient parallel scan* (Blelloch 1990) needs only:

1. a PARTITIONED window inside fixed-width key groups (embarrassingly
   parallel — each group is one task), and
2. an exclusive prefix over the per-group totals, which is smaller than the
   input by the group width (4096x here).

Step 2's totals frame is tiny by construction, so we close the recursion
with a TRIANGULAR BROADCAST JOIN (``b.key < a.key`` then sum) instead of a
window: no unpartitioned window anywhere in the plan, every stage
partition-parallel, and the O(G^2) pair count is bounded by
(n_keys / 4096)^2 — at a billion distinct keys that is ~60k totals and
~3.6e9 cheap long-pairs across the whole cluster, still shuffle-light; add
one more level if that ever bites.

Used by ``equi_depth_histogram`` (per-range-partition row counts ->
global rank offsets) and ``context_window_pack`` / ``training_pack_*``
(per-bucket token totals -> global token offsets).  Reference parity: the
reference engine has no distributed scan at all (single-node DuckDB,
``analytics__us_weather.py``); this is the Spark-first construction of the
same SQL ``SUM() OVER (ORDER BY ...)`` semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Keys per level-1 scan group. Totals shrink by this factor before the
# triangular close, so G groups cover GROUP_WIDTH * G keys.
GROUP_WIDTH = 4096


def exclusive_prefix_sum(
    df: DataFrame,
    key: str,
    value: str,
    out: str = "offset",
    group_width: int = GROUP_WIDTH,
) -> DataFrame:
    """Return ``df(key, value)`` + column ``out`` = sum of ``value`` over all
    rows with a strictly smaller ``key`` (exclusive prefix sum in key order).

    ``key`` must be unique per row and integer-comparable (bigint).  The
    plan contains no unpartitioned window: within-group scans run as
    partitioned windows, and the cross-group offsets come from a triangular
    join over the (input/group_width)-sized totals frame.
    """
    grp = (F.col(key) / F.lit(group_width)).cast("bigint")
    with_grp = df.withColumn("_psum_grp", grp)

    w_in = (
        Window.partitionBy("_psum_grp")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_grp.withColumn(
        "_psum_local", F.coalesce(F.sum(value).over(w_in), F.lit(0).cast("bigint"))
    )

    totals = with_grp.groupBy("_psum_grp").agg(F.sum(value).alias("_psum_total"))
    # Triangular close over the tiny totals frame: offset(g) = sum of totals
    # of all strictly earlier groups. LEFT join keeps group 0 (no earlier
    # groups -> offset 0). Broadcast: totals is input/group_width rows.
    a = totals.select(F.col("_psum_grp").alias("_g"))
    b = totals.select(
        F.col("_psum_grp").alias("_g_prev"), F.col("_psum_total").alias("_t_prev")
    )
    grp_offs = (
        a.join(F.broadcast(b), F.col("_g_prev") < F.col("_g"), "left")
        .groupBy("_g")
        .agg(F.coalesce(F.sum("_t_prev"), F.lit(0).cast("bigint")).alias("_psum_grp_off"))
    )

    return (
        local.join(F.broadcast(grp_offs), local["_psum_grp"] == grp_offs["_g"])
        .withColumn(out, F.col("_psum_grp_off") + F.col("_psum_local"))
        .drop("_psum_grp", "_psum_local", "_psum_grp_off", "_g")
    )


def exclusive_prefix_sums(
    df: DataFrame,
    key: str,
    values: dict[str, str],
    group_width: int = GROUP_WIDTH,
) -> DataFrame:
    """Multi-column :func:`exclusive_prefix_sum`: one Blelloch scan pass
    carrying ``values`` = {value_col: out_col, ...} simultaneously.
    Identical plan shape (one partitioned window stage, one triangular
    broadcast close), but N cumulative columns for the price of one —
    callers that previously invoked the single-column scan N times paid
    N window shuffles and N-1 re-joins to reassemble the rows."""
    grp = (F.col(key) / F.lit(group_width)).cast("bigint")
    with_grp = df.withColumn("_psum_grp", grp)

    w_in = (
        Window.partitionBy("_psum_grp")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_grp
    for i, v in enumerate(values):
        local = local.withColumn(
            f"_psum_local_{i}",
            F.coalesce(F.sum(v).over(w_in), F.lit(0).cast("bigint")),
        )

    totals = with_grp.groupBy("_psum_grp").agg(
        *[F.sum(v).alias(f"_psum_total_{i}") for i, v in enumerate(values)]
    )
    a = totals.select(F.col("_psum_grp").alias("_g"))
    b = totals.select(
        F.col("_psum_grp").alias("_g_prev"),
        *[
            F.col(f"_psum_total_{i}").alias(f"_t_prev_{i}")
            for i in range(len(values))
        ],
    )
    grp_offs = (
        a.join(F.broadcast(b), F.col("_g_prev") < F.col("_g"), "left")
        .groupBy("_g")
        .agg(
            *[
                F.coalesce(F.sum(f"_t_prev_{i}"), F.lit(0).cast("bigint"))
                .alias(f"_psum_grp_off_{i}")
                for i in range(len(values))
            ]
        )
    )

    res = local.join(
        F.broadcast(grp_offs), local["_psum_grp"] == grp_offs["_g"]
    )
    drop = ["_psum_grp", "_g"]
    for i, (v, out) in enumerate(values.items()):
        res = res.withColumn(
            out, F.col(f"_psum_grp_off_{i}") + F.col(f"_psum_local_{i}")
        )
        drop += [f"_psum_local_{i}", f"_psum_grp_off_{i}"]
    return res.drop(*drop)


def exclusive_prefix_max(
    df: DataFrame,
    key: str,
    value: str,
    out: str = "prior_max",
    group_width: int = GROUP_WIDTH,
) -> DataFrame:
    """Return ``df`` + column ``out`` = MAX of ``value`` over all rows with
    a strictly smaller ``key`` (exclusive prefix max; NULL when no prior
    row exists). Same two-level Blelloch construction as
    :func:`exclusive_prefix_sum` — partitioned in-group windows plus a
    triangular broadcast join over per-group maxima — so no unpartitioned
    window appears in the plan. ``key`` may be negative (descending orders
    encode as negated keys): grouping uses floor division, which stays
    monotone below zero. Used by ``pareto_skyline_2d``."""
    grp = F.floor(F.col(key) / F.lit(group_width)).cast("bigint")
    with_grp = df.withColumn("_pmax_grp", grp)

    w_in = (
        Window.partitionBy("_pmax_grp")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_grp.withColumn("_pmax_local", F.max(value).over(w_in))

    totals = with_grp.groupBy("_pmax_grp").agg(F.max(value).alias("_pmax_total"))
    a = totals.select(F.col("_pmax_grp").alias("_g"))
    b = totals.select(
        F.col("_pmax_grp").alias("_g_prev"), F.col("_pmax_total").alias("_t_prev")
    )
    grp_offs = (
        a.join(F.broadcast(b), F.col("_g_prev") < F.col("_g"), "left")
        .groupBy("_g")
        .agg(F.max("_t_prev").alias("_pmax_grp_off"))
    )

    return (
        local.join(F.broadcast(grp_offs), local["_pmax_grp"] == grp_offs["_g"])
        # greatest() skips NULLs (NULL only when both are NULL) — exactly
        # the identity-less max semantics wanted for "no prior row"
        .withColumn(out, F.greatest("_pmax_grp_off", "_pmax_local"))
        .drop("_pmax_grp", "_pmax_local", "_pmax_grp_off", "_g")
    )


def global_rank_zero(
    df: DataFrame,
    order_cols: list[str],
    n_partitions: int,
    out: str = "r0",
) -> DataFrame:
    """Exact global 0-indexed rank of each row under ``order_cols`` (which
    must form a TOTAL order — include a unique tiebreak column), computed
    without any global window:

    range-repartition on the order columns (ordered, disjoint ranges in
    ascending partition-id order) -> sortWithinPartitions ->
    ``monotonically_increasing_id`` encodes (pid << 33 | local_rank) in a
    single pass with no further shuffle -> per-partition counts (one row
    per PARTITION, not per input row) -> exclusive prefix sum of those
    counts gives each partition's global offset -> r0 = offset(pid) +
    local_rank.  The offsets frame is cluster-sized (thousands of rows at
    most), broadcast back onto the data.
    """
    ranged = (
        df.repartitionByRange(n_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33))
        .withColumn("_lr", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
    )
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offs = exclusive_prefix_sum(counts, "_pid", "_cnt", out="_off").select(
        "_pid", "_off"
    )
    return (
        ranged.join(F.broadcast(offs), "_pid")
        .withColumn(out, F.col("_off") + F.col("_lr"))
        .drop("_mid", "_pid", "_lr", "_off")
    )
