"""Operator registry, wave 47: storage/layout II — ORC interchange,
small-file compaction planning, and a grid-bucketed spatial join.

Scale stances:
- ORC round trip: executor-parallel write + schema-explicit read (no
  inference pass), the same contract as the CSV/JSONL interchange ops;
  ORC is the one mainstream columnar format the S-tier hadn't
  exercised (Avro/Delta/Iceberg stay behind jar capability gates,
  sources/read.py:198-240).
- Compaction planner: the frame the planner reasons over is
  FILE-count-bounded, not row-bounded — per-file stats aggregate
  map-side, the running total that assigns output bins is the Blelloch
  exclusive prefix sum (operators/scan_prefix.py), and bin assignment
  is floor(cum_before / capacity), the first-fit layout every
  lakehouse table-maintenance service (OPTIMIZE/rewrite_data_files)
  computes before rewriting small files.
- Spatial grid join: point pairs within radius R found by bucketing
  onto an R-sized grid and joining each point's cell against the 3x3
  neighborhood — candidate count is density-bounded per cell instead
  of O(n^2); the cell size >= R guarantee makes the 9-cell probe
  EXACT (every qualifying pair shares adjacent cells). All distance
  math is integer (squared metres), so the oracle — a brute-force
  all-pairs check — must agree bit for bit; at 100 TB the brute force
  dies and the grid join is the plan that survives.

Reference parity: none of this exists in the reference (single
Parquet file per partition, utils/duckdb_utils.py:154); [EXT] tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _dsum, _t
from .session import scratch_dir

# --------------------------------------------------------------------------
# ORC round trip (S [EXT])
# --------------------------------------------------------------------------


def q_orc_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] S-tier ORC interchange: project lineitem pricing columns,
    write ORC (executor-parallel, zlib default), read back with an
    explicit schema, and aggregate — equality with the parquet-side
    oracle proves the format round-trips doubles and strings
    losslessly. Decimal-path sums (registry._dsum) keep the aggregate
    order-insensitive."""
    d = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    path = scratch_dir(spark, "orc_rt", os.path.basename(sf_dir.rstrip("/")))
    d.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "l_returnflag string, l_linestatus string, l_quantity double, "
        "l_extendedprice double"
    ).orc(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_ORC = """
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT AS n_rows,
       round(cast(sum(cast(l_quantity AS decimal(18,6))) AS double), 2) AS sum_qty,
       round(cast(sum(cast(l_extendedprice AS decimal(18,6))) AS double), 2)
         AS sum_price
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Small-file compaction planner (W [EXT])
# --------------------------------------------------------------------------

_COMPACT_CAPACITY = 5_000  # rows per output file (proxy for target bytes)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W-tier small-file compaction planner: treat each
    l_shipdate month of lineitem as one data file (its row count the
    proxy for bytes) and assign files, in layout order, to output bins
    of capacity {cap} rows: bin = floor(cumulative_rows_before / cap)
    — the plan an OPTIMIZE/rewrite-small-files maintenance job
    executes. The cumulative total is the Blelloch exclusive prefix
    sum over the FILE-count-bounded stats frame (never the row-bounded
    fact table), so the planner itself is a few-KB job no matter how
    big the table is. Reports per output bin: files merged, rows, and
    the month span it covers."""
    files = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.year("l_shipdate") * F.lit(12) + (F.month("l_shipdate") - F.lit(1)))
            .cast("bigint")
            .alias("mkey")
        )
        .groupBy("mkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    planned = exclusive_prefix_sum(files, "mkey", "n_rows", out="cum_before").select(
        "mkey",
        "n_rows",
        F.floor(F.col("cum_before") / F.lit(_COMPACT_CAPACITY))
        .cast("bigint")
        .alias("bin"),
    )
    return (
        planned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.min("mkey").cast("bigint").alias("first_month"),
            F.max("mkey").cast("bigint").alias("last_month"),
        )
        .orderBy("bin")
    )


_ORACLE_COMPACT = f"""
WITH files AS (
  SELECT cast(year(l_shipdate) * 12 + (month(l_shipdate) - 1) AS bigint) AS mkey,
         count(*)::BIGINT AS n_rows
  FROM lineitem GROUP BY 1
),
planned AS (
  SELECT mkey, n_rows,
         cast(floor(coalesce(sum(n_rows) OVER (ORDER BY mkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {_COMPACT_CAPACITY}) AS bigint) AS bin
  FROM files
)
SELECT bin, count(*)::BIGINT AS n_files, sum(n_rows)::BIGINT AS total_rows,
       min(mkey)::BIGINT AS first_month, max(mkey)::BIGINT AS last_month
FROM planned GROUP BY bin ORDER BY bin
"""


# --------------------------------------------------------------------------
# Spatial grid join (X9 [EXT])
# --------------------------------------------------------------------------

_GEO_M = 100_000  # 100 km square, metre units
_GEO_P = 1_000_000_007  # prime modulus for the quadratic mixing hash
_GEO_AX = 2_654_435_761  # Knuth multiplicative constants — deterministic
_GEO_AY = 2_246_822_519  # pseudo-coordinates both engines derive identically
_GEO_AZ = 3_266_489_917
_GEO_R = 5_000  # pairing radius, metres (== grid cell size)


def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 spatial radius self-join: users get deterministic
    planar coordinates (multiplicative-hash metres on a 100 km
    square), and the op reports every pair within {r} m with its
    integer squared-distance-derived separation. The grid-bucket join
    (cell size == radius, 3x3 neighborhood probe) is EXACT — a
    qualifying pair can never be farther than one cell apart — and
    candidate volume is density-bounded per cell, the shape that
    survives when the oracle's all-pairs cross join is quadratically
    impossible. Pure integer metres: no trig, no floating boundary."""
    # quadratic mixing hash — a LINEAR map would put every point on one
    # lattice line of the torus (three-distance theorem: anomalously
    # large minimum gaps); the j^2 term breaks the orbit. All terms stay
    # below 2^63: j,q < P ~ 1e9, q*A ~ 2.7e18.
    j = F.col("user_id") % F.lit(_GEO_P)
    q = (j * j) % F.lit(_GEO_P)
    pts = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            ((q * F.lit(_GEO_AX) + j * F.lit(_GEO_AY)) % F.lit(_GEO_P) % F.lit(_GEO_M)).alias("x"),
            ((q * F.lit(_GEO_AY) + j * F.lit(_GEO_AZ)) % F.lit(_GEO_P) % F.lit(_GEO_M)).alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / F.lit(_GEO_R)).cast("bigint"))
        .withColumn("cy", F.floor(F.col("y") / F.lit(_GEO_R)).cast("bigint"))
    )
    neigh = ", ".join(
        f"struct({dx} as dx, {dy} as dy)" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    offsets = F.expr(f"explode(array({neigh}))")
    a = pts.select(
        F.col("user_id").alias("u1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        "cx",
        "cy",
        offsets.alias("o"),
    ).select(
        "u1",
        "x1",
        "y1",
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        (F.col("cy") + F.col("o.dy")).alias("jy"),
    )
    b = pts.select(
        F.col("user_id").alias("u2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2")) + (
        F.col("y1") - F.col("y2")
    ) * (F.col("y1") - F.col("y2"))
    return (
        a.join(b, ["jx", "jy"])
        .where((F.col("u1") < F.col("u2")) & (d2 <= F.lit(_GEO_R * _GEO_R)))
        .select(
            "u1",
            "u2",
            F.floor(F.sqrt(d2.cast("double"))).cast("bigint").alias("dist_m"),
        )
        .orderBy("u1", "u2")
    )


_ORACLE_GEO = f"""
WITH j AS (
  SELECT user_id, user_id % {_GEO_P} AS jj,
         (user_id % {_GEO_P}) * (user_id % {_GEO_P}) % {_GEO_P} AS q
  FROM (SELECT DISTINCT user_id FROM events)
),
pts AS (
  SELECT user_id,
         (q * {_GEO_AX} + jj * {_GEO_AY}) % {_GEO_P} % {_GEO_M} AS x,
         (q * {_GEO_AY} + jj * {_GEO_AZ}) % {_GEO_P} % {_GEO_M} AS y
  FROM j
)
SELECT a.user_id AS u1, b.user_id AS u2,
       cast(floor(sqrt(cast((a.x - b.x) * (a.x - b.x)
                            + (a.y - b.y) * (a.y - b.y) AS double))) AS bigint)
         AS dist_m
FROM pts a JOIN pts b
  ON a.user_id < b.user_id
 AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_GEO_R * _GEO_R}
ORDER BY u1, u2
"""


REGISTRY_EXT46: dict[str, QuerySpec] = {
    "orc_round_trip": QuerySpec(q_orc_round_trip, _ORACLE_ORC, "S [EXT] ORC interchange"),
    "compaction_plan": QuerySpec(
        q_compaction_plan, _ORACLE_COMPACT, "W [EXT] small-file compaction"
    ),
    "spatial_grid_join": QuerySpec(
        q_spatial_grid_join, _ORACLE_GEO, "X9 [EXT] spatial radius join"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_compaction_plan.__doc__ = q_compaction_plan.__doc__.format(cap=_COMPACT_CAPACITY)  # noqa: E501
q_spatial_grid_join.__doc__ = q_spatial_grid_join.__doc__.format(r=_GEO_R)  # noqa: E501
