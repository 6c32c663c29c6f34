"""Operator registry, wave 63: deterministic RANSAC line fitting,
Grubbs' outlier test, and month-over-month growth.

Scale stances:
- RANSAC: the robust-fit shape that parallelizes — candidate lines
  come from DETERMINISTIC anchor pairs (decile order statistics via
  the domain-binned CDF, no RNG), broadcast against one scan that
  scores inliers with a PURE INTEGER point-line distance test
  (|dy*(x-x1) - dx*(y-y1)| <= eps*|dx|, fractions cleared), so trial
  scoring is a single map-side aggregate per (series, trial).
- Grubbs: the single-outlier significance test; the studentized
  deviation folds to G = |n*v - S| / sqrt(n*sum(v^2) - S^2) — exact
  integers under one sqrt (decimal(38,0) accumulation), argmax with
  deterministic tie-breaks.
- MoM growth: integer cent sums; growth is one cross-multiplied
  ratio; month frames are calendar-bounded, the lag join is an
  equi-join on month+1.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Deterministic RANSAC line fit (X7 [EXT])
# --------------------------------------------------------------------------

# anchor decile pairs forming candidate lines (ordinal positions 1..9)
_RANSAC_TRIALS = ((1, 9), (2, 8), (3, 7), (1, 5), (5, 9), (2, 6), (4, 8), (1, 7), (3, 9))
_RANSAC_EPS_C = 5_000  # inlier tolerance in value cents


def q_ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 RANSAC-style robust line fit of value-vs-time per
    event_type: {t} candidate lines anchored at DETERMINISTIC decile
    order statistics (no RNG — the distributed-reproducible variant),
    each scored by its inlier count under a pure-integer point-line
    distance test with {e}-cent tolerance; the winning line's inlier
    count and slope are reported. Anchors come from the domain-binned
    CDF; candidate lines broadcast onto one scoring scan — robust
    fitting as a single aggregate, immune to the outliers that wreck
    least squares."""
    e = barrier(_t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros("ts") / F.lit(1_000_000)).cast("bigint").alias("x"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("y"),
        "event_id",
    ))
    # decile anchors: value at rank ceil(d*n/10) in (x, event_id) order,
    # via the domain-binned CDF over x (seconds are near-unique; bins =
    # distinct x values, domain-bounded by the time range)
    n_t = e.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wx = Window.partitionBy("event_type").orderBy("x", "event_id")
    ranked = e.withColumn("rk", F.row_number().over(wx)).join(
        F.broadcast(n_t), "event_type"
    )
    anchors = ranked.select(
        "event_type",
        "x",
        "y",
        F.ceil(F.col("rk") * F.lit(10) / F.col("n")).cast("int").alias("dec"),
        "rk",
    )
    pick = Window.partitionBy("event_type", "dec").orderBy("rk")
    dec_pts = (
        anchors.withColumn("p", F.row_number().over(pick))
        .where(F.col("p") == 1)
        .select("event_type", "dec", F.col("x").alias("ax"), F.col("y").alias("ay"))
    )
    trials = ", ".join(
        f"named_struct('trial', {i}, 'd1', {a}, 'd2', {b})"
        for i, (a, b) in enumerate(_RANSAC_TRIALS)
    )
    tlines = (
        dec_pts.selectExpr("event_type", "dec", "ax", "ay", f"explode(array({trials})) as t")
        .where((F.col("dec") == F.col("t.d1")) | (F.col("dec") == F.col("t.d2")))
        .groupBy("event_type", F.col("t.trial").alias("trial"))
        .agg(
            F.max(F.when(F.col("dec") == F.col("t.d1"), F.col("ax"))).alias("x1"),
            F.max(F.when(F.col("dec") == F.col("t.d1"), F.col("ay"))).alias("y1"),
            F.max(F.when(F.col("dec") == F.col("t.d2"), F.col("ax"))).alias("x2"),
            F.max(F.when(F.col("dec") == F.col("t.d2"), F.col("ay"))).alias("y2"),
        )
        .where(F.col("x2") != F.col("x1"))
        .select(
            "event_type",
            "trial",
            "x1",
            "y1",
            (F.col("y2") - F.col("y1")).alias("dy"),
            (F.col("x2") - F.col("x1")).alias("dx"),
        )
    )
    scored = (
        e.join(F.broadcast(tlines), "event_type")
        .where(
            F.abs(
                F.col("dy") * (F.col("x") - F.col("x1"))
                - F.col("dx") * (F.col("y") - F.col("y1"))
            )
            <= F.lit(_RANSAC_EPS_C) * F.abs(F.col("dx"))
        )
        .groupBy("event_type", "trial", "dy", "dx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inliers"))
    )
    best = Window.partitionBy("event_type").orderBy(
        F.desc("n_inliers"), F.asc("trial")
    )
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("trial").cast("bigint").alias("best_trial"),
            "n_inliers",
            F.floor(
                F.lit(1e6) * F.col("dy").cast("double") / F.col("dx") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("slope_micro"),
        )
        .orderBy("event_type")
    )


def _oracle_ransac() -> str:
    trial_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_RANSAC_TRIALS)
    )
    return f"""
WITH e AS (
  SELECT event_type,
         cast(epoch_us(ts) // 1000000 AS bigint) AS x,
         cast(floor(value * 100.0 + 0.5) AS bigint) AS y,
         event_id
  FROM events
),
n_t AS (SELECT event_type, count(*)::BIGINT AS n FROM e GROUP BY 1),
ranked AS (
  SELECT e.*, n_t.n,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY e.x, e.event_id) AS rk
  FROM e JOIN n_t USING (event_type)
),
anchors AS (
  SELECT event_type, x, y,
         cast(ceil(rk * 10.0 / n) AS int) AS dec, rk
  FROM ranked
),
dec_pts AS (
  SELECT event_type, dec, x AS ax, y AS ay FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, dec ORDER BY rk) AS p
    FROM anchors
  ) WHERE p = 1
),
trials(trial, d1, d2) AS (VALUES {trial_rows}),
tlines AS (
  SELECT d.event_type, t.trial,
         max(CASE WHEN d.dec = t.d1 THEN d.ax END) AS x1,
         max(CASE WHEN d.dec = t.d1 THEN d.ay END) AS y1,
         max(CASE WHEN d.dec = t.d2 THEN d.ax END) - max(CASE WHEN d.dec = t.d1 THEN d.ax END) AS dx_shift,
         max(CASE WHEN d.dec = t.d2 THEN d.ay END) - max(CASE WHEN d.dec = t.d1 THEN d.ay END) AS dy_shift
  FROM dec_pts d JOIN trials t ON d.dec = t.d1 OR d.dec = t.d2
  GROUP BY 1, 2
  HAVING max(CASE WHEN d.dec = t.d2 THEN d.ax END)
           <> max(CASE WHEN d.dec = t.d1 THEN d.ax END)
),
scored AS (
  SELECT e.event_type, l.trial, l.dy_shift AS dy, l.dx_shift AS dx,
         count(*)::BIGINT AS n_inliers
  FROM e JOIN tlines l USING (event_type)
  WHERE abs(l.dy_shift * (e.x - l.x1) - l.dx_shift * (e.y - l.y1))
          <= {_RANSAC_EPS_C} * abs(l.dx_shift)
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, cast(trial AS bigint) AS best_trial, n_inliers,
       cast(floor(1e6 * dy * 1.0 / dx + 0.5) AS bigint) AS slope_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n_inliers DESC, trial ASC) AS rk
  FROM scored
) WHERE rk = 1 ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Grubbs' outlier test (X7 [EXT])
# --------------------------------------------------------------------------


def q_grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Grubbs' single-outlier test per event_type: the
    maximum studentized deviation folds to the EXACT integer form
    G = |n*v - S| / sqrt(n*sum(v^2) - S^2) (decimal accumulation), so
    the argmax, its event, and the statistic are all deterministic.
    Complements the z-score/MAD screens with the formal test a data
    steward quotes when rejecting a point."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("v"),
        "event_id",
    )
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("v").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)"))).alias("ss"),
    )
    num = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)") - F.col("s")
    )
    d = e.join(F.broadcast(agg), "event_type").select(
        "event_type", "v", "event_id", "n", "s", "ss", num.alias("dev_num")
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc("dev_num"), F.asc("event_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(pick))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            "n",
            F.col("event_id").cast("bigint").alias("outlier_event_id"),
            F.col("v").alias("outlier_v_c"),
            F.floor(
                F.lit(1e6)
                * F.col("dev_num").cast("double")
                / (
                    F.sqrt(
                        (
                            F.col("n").cast("decimal(38,0)") * F.col("ss")
                            - F.col("s") * F.col("s")
                        ).cast("double")
                    )
                )
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("g_micro"),
        )
        .orderBy("event_type")
    )


_ORACLE_GRUBBS = """
WITH e AS (
  SELECT event_type,
         cast(floor(value * 100.0 + 0.5) AS bigint) AS v, event_id
  FROM events
),
agg AS (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(cast(v AS hugeint)) AS s,
         sum(cast(v AS hugeint) * cast(v AS hugeint)) AS ss
  FROM e GROUP BY 1
),
d AS (
  SELECT e.event_type, e.v, e.event_id, a.n, a.s, a.ss,
         abs(a.n * cast(e.v AS hugeint) - a.s) AS dev_num
  FROM e JOIN agg a USING (event_type)
),
p AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dev_num DESC, event_id ASC) AS rk
  FROM d
)
SELECT event_type, n,
       cast(event_id AS bigint) AS outlier_event_id,
       v AS outlier_v_c,
       cast(floor(1e6 * cast(dev_num AS double)
                  / sqrt(cast(n * ss - s * s AS double)) + 0.5) AS bigint)
         AS g_micro
FROM p WHERE rk = 1 ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Month-over-month growth (X7 [EXT])
# --------------------------------------------------------------------------


def q_month_over_month_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 month-over-month revenue growth per order priority
    over the 7-year orders history: growth vs the previous month as a
    cross-multiplied exact ratio (rev_m * 1e6 / rev_prev) on integer
    cents; month frames are calendar-bounded and the lag is an
    equi-join on month+1 — the growth-accounting rollup every mart
    publishes."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") * F.lit(12) + (F.month("o_orderdate") - F.lit(1)))
        .cast("bigint")
        .alias("m"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
    )
    rev = o.groupBy("o_orderpriority", "m").agg(
        F.sum("v").cast("bigint").alias("rev_c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    prv = rev.select(
        "o_orderpriority",
        (F.col("m") + 1).alias("m"),
        F.col("rev_c").alias("prev_rev_c"),
    )
    return (
        rev.join(prv, ["o_orderpriority", "m"])
        .select(
            "o_orderpriority",
            "m",
            "rev_c",
            "prev_rev_c",
            F.floor(F.lit(1e6) * F.col("rev_c") / F.col("prev_rev_c") + F.lit(0.5))
            .cast("bigint")
            .alias("growth_ratio_micro"),
        )
        .orderBy("o_orderpriority", "m")
    )


_ORACLE_MOM = """
WITH o AS (
  SELECT o_orderpriority,
         cast(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS bigint) AS m,
         cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS v
  FROM orders
),
rev AS (
  SELECT o_orderpriority, m, sum(v)::BIGINT AS rev_c, count(*)::BIGINT AS n
  FROM o GROUP BY 1, 2
)
SELECT r.o_orderpriority, r.m, r.rev_c, p.rev_c AS prev_rev_c,
       cast(floor(1e6 * r.rev_c / p.rev_c + 0.5) AS bigint)
         AS growth_ratio_micro
FROM rev r JOIN rev p
  ON p.o_orderpriority = r.o_orderpriority AND p.m = r.m - 1
ORDER BY r.o_orderpriority, r.m
"""


REGISTRY_EXT62: dict[str, QuerySpec] = {
    "ransac_line_fit": QuerySpec(
        q_ransac_line_fit, _oracle_ransac(), "X7 [EXT] robust regression"
    ),
    "grubbs_outlier_test": QuerySpec(
        q_grubbs_outlier_test, _ORACLE_GRUBBS, "X7 [EXT] formal outlier test"
    ),
    "month_over_month_growth": QuerySpec(
        q_month_over_month_growth, _ORACLE_MOM, "X7 [EXT] growth accounting"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_ransac_line_fit.__doc__ = q_ransac_line_fit.__doc__.format(t=len(_RANSAC_TRIALS), e=_RANSAC_EPS_C)  # noqa: E501
