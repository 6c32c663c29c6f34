"""Operator registry, wave 75: density clustering, FIFO lot matching,
and robust trimmed means.

Scale stances:
- Grid-DBSCAN: points hash to fixed-eps grid cells (one aggregate);
  core cells (count >= minPts) connect through an 8-neighborhood
  EQUI-join (each cell explodes its 9 neighbor offsets — no non-equi
  join); cluster ids converge by K synchronous min-label rounds over
  the CELL graph (orders of magnitude smaller than the point set).
  Both engines unroll the same K rounds, so labels are identical
  even where a longer chain has not fully converged (documented).
- FIFO matching: classic lot accounting — per-key cumulative
  intervals from partitioned window sums of exact micro ints, then a
  key-partitioned interval-overlap join; matched quantity is pure
  min/max arithmetic on identical ints.
- Trimmed mean: per-group rank windows (partitioned) drop the top
  and bottom decile; kept-sum stays in exact micro bigints.

Reference parity: none; [EXT] X3/X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Grid-DBSCAN clustering (X3 [EXT])
# --------------------------------------------------------------------------

_DB_EPS_MICRO = 80_000  # cell edge = 0.08 in embedding units
_DB_MINPTS = 6
_DB_ROUNDS = 6  # min-label propagation rounds over the cell graph


def _cell_expr(coord: str) -> str:
    """Fixed-eps grid cell index — floor division via double floor so
    negative coordinates bucket identically in both engines (integer
    div truncates toward zero on Spark but floors on DuckDB)."""
    return (
        f"cast(floor(cast(floor({coord} * 1000000.0 + 0.5) as double)"
        f" / {_DB_EPS_MICRO}.0) as bigint)"
    )


def q_dbscan_grid_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 grid-DBSCAN over the first two embedding dims: points
    bucket to eps={e} grid cells; cells with >= {m} points are CORE;
    core cells sharing an 8-neighborhood edge merge into one cluster
    (id = min encoded cell id, {r} synchronous min-propagation rounds
    over the cell graph — identical unrolling in both engines);
    points in non-core cells report cluster -1 (noise/border). The
    cell graph is orders of magnitude smaller than the point set, so
    the iterative part is cheap at any scale; neighbor discovery is
    an EQUI-join on exploded cell offsets, never a non-equi
    join."""
    e = _t(spark, sf_dir, "embeddings")
    pts = e.selectExpr(
        "vec_id",
        f"{_cell_expr('cast(element_at(embedding, 1) as double)')} as cx",
        f"{_cell_expr('cast(element_at(embedding, 2) as double)')} as cy",
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("bigint").alias("npts"))
    core = cells.where(F.col("npts") >= _DB_MINPTS).selectExpr(
        "cx", "cy", "(cx + 100000) * 1000000 + (cy + 100000) as lbl"
    )
    # 8-neighborhood adjacency: explode 9 offsets, equi-join on the cell
    offs = "array(-1, 0, 1)"
    nbr = core.selectExpr(
        "cx", "cy", "lbl",
        f"explode(flatten(transform({offs}, dx -> transform({offs}, dy -> "
        "named_struct('nx', cx + dx, 'ny', cy + dy))))) as o",
    ).selectExpr("cx", "cy", "lbl", "o.nx as nx", "o.ny as ny")
    labels = core
    for _ in range(_DB_ROUNDS):
        neigh = (
            nbr.join(
                labels.selectExpr("cx as nx", "cy as ny", "lbl as nlbl"),
                ["nx", "ny"],
            )
            .groupBy("cx", "cy")
            .agg(F.min("nlbl").alias("minn"))
        )
        labels = barrier(
            labels.join(neigh, ["cx", "cy"], "left")
            .selectExpr("cx", "cy", "least(lbl, coalesce(minn, lbl)) as lbl"),
            eager=True,
        )
    return (
        pts.join(labels.selectExpr("cx", "cy", "lbl as cluster"), ["cx", "cy"], "left")
        .selectExpr("vec_id", "cx", "cy", "coalesce(cluster, -1) as cluster")
        .orderBy("vec_id")
    )


def _oracle_dbscan() -> str:
    cell_x = _cell_expr("cast(embedding[1] AS double)")
    cell_y = _cell_expr("cast(embedding[2] AS double)")
    head = f"""
WITH pts AS (
  SELECT vec_id, {cell_x} AS cx, {cell_y} AS cy FROM embeddings
),
cells AS (SELECT cx, cy, count(*)::BIGINT AS npts FROM pts GROUP BY cx, cy),
core AS (
  SELECT cx, cy, (cx + 100000) * 1000000 + (cy + 100000) AS lbl
  FROM cells WHERE npts >= {_DB_MINPTS}
),
nbr AS MATERIALIZED (
  SELECT c.cx, c.cy, c.lbl, c.cx + dx.d AS nx, c.cy + dy.d AS ny
  FROM core c, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
),
l0 AS (SELECT cx, cy, lbl FROM core)"""
    its = []
    for i in range(_DB_ROUNDS):
        its.append(
            f""",
l{i + 1} AS MATERIALIZED (
  SELECT l.cx, l.cy, least(l.lbl, coalesce(m.minn, l.lbl)) AS lbl
  FROM l{i} l LEFT JOIN (
    SELECT n.cx, n.cy, min(p.lbl) AS minn
    FROM nbr n JOIN l{i} p ON p.cx = n.nx AND p.cy = n.ny
    GROUP BY n.cx, n.cy
  ) m ON m.cx = l.cx AND m.cy = l.cy
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT p.vec_id, p.cx, p.cy, coalesce(l.lbl, -1) AS cluster
FROM pts p LEFT JOIN l{_DB_ROUNDS} l ON l.cx = p.cx AND l.cy = p.cy
ORDER BY p.vec_id
"""
    )


# --------------------------------------------------------------------------
# FIFO lot matching (X9 [EXT])
# --------------------------------------------------------------------------

_FIFO_IN = "purchase"  # lot acquisitions
_FIFO_OUT = "view"  # consumption


def q_fifo_lot_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 FIFO lot matching (inventory/cost-basis accounting):
    per user, '{i}' events acquire quantity (value micros) and '{o}'
    events consume it first-in-first-out. Each side becomes cumulative
    [lo, hi) intervals via user-PARTITIONED window sums of exact
    bigint micros; a lot funds a consumption iff their intervals
    overlap, and the matched quantity is min(hi) - max(lo) on
    identical ints. One partitioned window per side + one
    key-partitioned overlap join — no global ordering
    anywhere."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin(_FIFO_IN, _FIFO_OUT)).select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5)).cast("bigint").alias("qty"),
        F.col("ts"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    iv = base.select(
        "user_id",
        "event_id",
        "event_type",
        "qty",
        (F.sum("qty").over(w) - F.col("qty")).cast("bigint").alias("lo"),
        F.sum("qty").over(w).cast("bigint").alias("hi"),
    )
    buys = iv.where(F.col("event_type") == _FIFO_IN).selectExpr(
        "user_id", "event_id as buy_id", "lo as blo", "hi as bhi"
    )
    sells = iv.where(F.col("event_type") == _FIFO_OUT).selectExpr(
        "user_id", "event_id as use_id", "lo as slo", "hi as shi"
    )
    return (
        buys.join(sells, "user_id")
        .where((F.col("blo") < F.col("shi")) & (F.col("slo") < F.col("bhi")))
        .selectExpr(
            "user_id",
            "buy_id",
            "use_id",
            "least(bhi, shi) - greatest(blo, slo) as matched_micro",
        )
        .orderBy("user_id", "buy_id", "use_id")
    )


_ORACLE_FIFO = f"""
WITH base AS (
  SELECT user_id, event_id, event_type,
         cast(floor(1000000.0 * value + 0.5) AS bigint) AS qty, ts
  FROM events WHERE event_type IN ('{_FIFO_IN}', '{_FIFO_OUT}')
),
iv AS (
  SELECT user_id, event_id, event_type, qty,
         (sum(qty) OVER w - qty)::BIGINT AS lo,
         sum(qty) OVER w ::BIGINT AS hi
  FROM base
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT b.user_id, b.event_id AS buy_id, s.event_id AS use_id,
       least(b.hi, s.hi) - greatest(b.lo, s.lo) AS matched_micro
FROM iv b JOIN iv s
  ON b.user_id = s.user_id
 AND b.event_type = '{_FIFO_IN}' AND s.event_type = '{_FIFO_OUT}'
 AND b.lo < s.hi AND s.lo < b.hi
ORDER BY b.user_id, buy_id, use_id
"""


# --------------------------------------------------------------------------
# Trimmed mean (X7 [EXT])
# --------------------------------------------------------------------------

_TRIM_PCT = 10  # drop lowest and highest 10% by rank


def q_trimmed_mean_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 {p}%-trimmed mean of event value per event_type: rank
    rows within each type (value micros, event_id tie-break — a
    PARTITIONED window), drop floor(n/10) rows from each end, and
    average the kept exact micro ints. Reports raw vs trimmed mean
    and the shift — the robust location estimate that survives
    heavy-tailed telemetry."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5)).cast("bigint").alias("vm"),
    )
    w = Window.partitionBy("event_type").orderBy("vm", "event_id")
    ranked = base.select(
        "event_type",
        "vm",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).cast("bigint").alias("n"),
    )
    g = ranked.withColumn("cut", F.floor(F.col("n") * _TRIM_PCT / F.lit(100.0)).cast("bigint")).groupBy(
        "event_type"
    ).agg(
        F.max("n").alias("n"),
        F.max("cut").alias("cut"),
        F.sum("vm").cast("bigint").alias("sum_all"),
        F.sum(
            F.when(
                (F.col("rk") > F.col("cut")) & (F.col("rk") <= F.col("n") - F.col("cut")),
                F.col("vm"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("sum_kept"),
    )
    kept = F.col("n") - 2 * F.col("cut")
    raw_mean = F.col("sum_all").cast("double") / F.col("n").cast("double")
    trim_mean = F.col("sum_kept").cast("double") / kept.cast("double")
    return g.select(
        "event_type",
        "n",
        kept.alias("kept"),
        F.floor(raw_mean + F.lit(0.5)).cast("bigint").alias("raw_mean_micro"),
        F.floor(trim_mean + F.lit(0.5)).cast("bigint").alias("trimmed_mean_micro"),
        F.floor(trim_mean - raw_mean + F.lit(0.5)).cast("bigint").alias("shift_micro"),
    ).orderBy("event_type")


_ORACLE_TRIM = f"""
WITH base AS (
  SELECT event_type, event_id,
         cast(floor(1000000.0 * value + 0.5) AS bigint) AS vm
  FROM events
),
ranked AS (
  SELECT event_type, vm,
         row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id)::BIGINT AS rk,
         count(*) OVER (PARTITION BY event_type)::BIGINT AS n
  FROM base
),
g AS (
  SELECT event_type, max(n)::BIGINT AS n,
         max(cast(floor(n * {_TRIM_PCT} / 100.0) AS bigint))::BIGINT AS cut,
         sum(vm)::BIGINT AS sum_all,
         sum(CASE WHEN rk > cast(floor(n * {_TRIM_PCT} / 100.0) AS bigint)
                   AND rk <= n - cast(floor(n * {_TRIM_PCT} / 100.0) AS bigint)
                  THEN vm ELSE 0 END)::BIGINT AS sum_kept
  FROM ranked GROUP BY event_type
)
SELECT event_type, n, (n - 2 * cut)::BIGINT AS kept,
       cast(floor(cast(sum_all AS double) / cast(n AS double) + 0.5) AS bigint) AS raw_mean_micro,
       cast(floor(cast(sum_kept AS double) / cast(n - 2 * cut AS double) + 0.5) AS bigint) AS trimmed_mean_micro,
       cast(floor(cast(sum_kept AS double) / cast(n - 2 * cut AS double)
                  - cast(sum_all AS double) / cast(n AS double) + 0.5) AS bigint) AS shift_micro
FROM g ORDER BY event_type
"""


REGISTRY_EXT74: dict[str, QuerySpec] = {
    "dbscan_grid_clustering": QuerySpec(
        q_dbscan_grid_clustering, _oracle_dbscan(), "X3 [EXT] density clustering"
    ),
    "fifo_lot_matching": QuerySpec(
        q_fifo_lot_matching, _ORACLE_FIFO, "X9 [EXT] FIFO lot accounting"
    ),
    "trimmed_mean_robust": QuerySpec(
        q_trimmed_mean_robust, _ORACLE_TRIM, "X7 [EXT] robust location"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_dbscan_grid_clustering.__doc__ = q_dbscan_grid_clustering.__doc__.format(e=_DB_EPS_MICRO / 1e6, m=_DB_MINPTS, r=_DB_ROUNDS)  # noqa: E501
q_fifo_lot_matching.__doc__ = q_fifo_lot_matching.__doc__.format(i=_FIFO_IN, o=_FIFO_OUT)  # noqa: E501
q_trimmed_mean_robust.__doc__ = q_trimmed_mean_robust.__doc__.format(p=_TRIM_PCT)  # noqa: E501
