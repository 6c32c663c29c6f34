"""Wave 143 [EXT]: statistical process control — the Shewhart X̄-R
chart over fixed-n rational subgroups (user-day cells with exactly
5 measurements, see _SUB_N), the p-chart with per-day variable-n 3-sigma limits,
process capability Cp/Cpk from the within-subgroup R̄/d2 sigma, and
the four Western Electric run rules on the daily-mean series.
Companions of the shipped cusum_changepoint / ewma_trailing /
page_hinkley_drift / pettitt_changepoint (change detection) — these
are the CONTROL-CHART formalizations a data-quality monitor runs.

Control-chart constants for subgroup size n=5 (Montgomery, Introduction
to Statistical Quality Control, Appendix VI): A2=0.577, d2=2.326,
D3=0, D4=2.114 — pinned in tests/test_ext143.py.

Scale notes (the 100x question, per query):
- xbar_r_chart / cp_cpk: subgroups are (user_id, day) cells — a
  map-side groupBy on a key whose cardinality grows with the corpus
  but whose CELLS stay O(events per user-day); the chart frame then
  reduces to one row. No window anywhere.
- p_chart_limits: the corpus reduces to the calendar-bounded daily
  frame; limits are per-day closed forms.
- western_electric_rules: lag windows run over the CHECKPOINTED
  calendar-bounded daily spine (≤ a few thousand rows at any corpus
  age) — never over raw events.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_SUB_N = 5
_A2 = 0.577
_D2 = 2.326
_D4 = 2.114  # D3 = 0 at n=5
_USL = 150_000_000  # spec limits in micro value units: [0, 150]
_LSL = 0


def _subgroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day) cells with exactly _SUB_N events: subgroup mean
    (micro, floor+0.5) and range (exact int)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("vm").cast("bigint").alias("svm"),
            F.max("vm").cast("bigint").alias("mx"),
            F.min("vm").cast("bigint").alias("mn"),
        )
        .filter(f"cnt = {_SUB_N}")
        .selectExpr(
            "user_id",
            "d",
            f"cast(floor(cast(svm as double) / {_SUB_N}.0 + 0.5) as bigint)"
            " AS xm",
            "mx - mn AS rng",
        )
    )


_SQL_SUBGROUPS = f"""
  SELECT user_id, d,
         cast(floor(cast(svm AS DOUBLE) / {_SUB_N}.0 + 0.5) AS BIGINT) AS xm,
         mx - mn AS rng
  FROM (
    SELECT user_id, epoch_us(ts) // {_DAY_US} AS d,
           count(*)::BIGINT AS cnt,
           sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS svm,
           max(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS mx,
           min(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS mn
    FROM events GROUP BY 1, 2
  ) WHERE cnt = {_SUB_N}
"""


def _chart_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcastable 1-row chart frame: g, xbb (grand mean of subgroup
    means, micro), rbar (mean range, micro), and the snapped X̄/R
    control limits."""
    sub = _subgroups(spark, sf_dir)
    sub = barrier(sub)  # stats pass + flag pass
    stats = sub.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("xm").cast("bigint").alias("sxm"),
        F.sum("rng").cast("bigint").alias("srng"),
    ).selectExpr(
        "g",
        "cast(floor(cast(sxm as double) / cast(g as double) + 0.5) as bigint)"
        " AS xbb",
        "cast(floor(cast(srng as double) / cast(g as double) + 0.5)"
        " as bigint) AS rbar",
    ).selectExpr(
        "g",
        "xbb",
        "rbar",
        f"cast(floor(cast(xbb as double) + {_A2!r} * cast(rbar as double)"
        " + 0.5) as bigint) AS ucl_x",
        f"cast(floor(cast(xbb as double) - {_A2!r} * cast(rbar as double)"
        " + 0.5) as bigint) AS lcl_x",
        f"cast(floor({_D4!r} * cast(rbar as double) + 0.5) as bigint)"
        " AS ucl_r",
    )
    return sub, stats


_SQL_CHART_STATS = f"""
sub AS ({_SQL_SUBGROUPS}),
stats AS (
  SELECT g, xbb, rbar,
         cast(floor(cast(xbb AS DOUBLE) + {_A2!r} * cast(rbar AS DOUBLE)
           + 0.5) AS BIGINT) AS ucl_x,
         cast(floor(cast(xbb AS DOUBLE) - {_A2!r} * cast(rbar AS DOUBLE)
           + 0.5) AS BIGINT) AS lcl_x,
         cast(floor({_D4!r} * cast(rbar AS DOUBLE) + 0.5) AS BIGINT) AS ucl_r
  FROM (
    SELECT count(*)::BIGINT AS g,
           cast(floor(cast(sum(xm) AS DOUBLE) / cast(count(*) AS DOUBLE)
             + 0.5) AS BIGINT) AS xbb,
           cast(floor(cast(sum(rng) AS DOUBLE) / cast(count(*) AS DOUBLE)
             + 0.5) AS BIGINT) AS rbar
    FROM sub
  )
)
"""


# --------------------------------------------------------------------------
# X̄-R control chart (X7 [EXT])
# --------------------------------------------------------------------------


def q_xbar_r_chart_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Shewhart X̄-R chart (n=5 user-day subgroups): grand
    mean, mean range, the A2/D4 control limits, and the count of
    subgroups whose mean (or range) plots outside them — the classic
    'is the process in statistical control' summary. Output one row:
    g, xbarbar_micro, rbar_micro, ucl_x_micro, lcl_x_micro,
    ucl_r_micro, beyond_x, beyond_r."""
    sub, stats = _chart_stats(spark, sf_dir)
    return (
        sub.crossJoin(F.broadcast(stats))
        .groupBy("g", "xbb", "rbar", "ucl_x", "lcl_x", "ucl_r")
        .agg(
            F.sum(F.expr("cast(xm > ucl_x OR xm < lcl_x as int)"))
            .cast("bigint")
            .alias("beyond_x"),
            F.sum(F.expr("cast(rng > ucl_r as int)"))
            .cast("bigint")
            .alias("beyond_r"),
        )
        .selectExpr(
            "g",
            "xbb AS xbarbar_micro",
            "rbar AS rbar_micro",
            "ucl_x AS ucl_x_micro",
            "lcl_x AS lcl_x_micro",
            "ucl_r AS ucl_r_micro",
            "beyond_x",
            "beyond_r",
        )
    )


_ORACLE_XBAR_R = f"""
WITH {_SQL_CHART_STATS}
SELECT s.g, s.xbb AS xbarbar_micro, s.rbar AS rbar_micro,
       s.ucl_x AS ucl_x_micro, s.lcl_x AS lcl_x_micro,
       s.ucl_r AS ucl_r_micro,
       sum(CASE WHEN b.xm > s.ucl_x OR b.xm < s.lcl_x THEN 1 ELSE 0
           END)::BIGINT AS beyond_x,
       sum(CASE WHEN b.rng > s.ucl_r THEN 1 ELSE 0 END)::BIGINT AS beyond_r
FROM sub b, stats s
GROUP BY 1, 2, 3, 4, 5, 6
"""


# --------------------------------------------------------------------------
# p-chart with variable-n daily limits (X7 [EXT])
# --------------------------------------------------------------------------


def q_p_chart_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 p-chart: the daily 'error'-event proportion against
    3-sigma binomial limits around the pooled p̄, with the per-day
    variable-n limit width sqrt(p̄(1-p̄)/n_i) — the attribute chart
    for defect-rate monitoring. LCL clamps at 0. Output per day:
    d, n, n_err, p_micro, ucl_micro, lcl_micro, out_of_control."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(event_type = 'error' as bigint)").alias("is_err"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("is_err").cast("bigint").alias("n_err"),
        )
    )
    daily = barrier(daily)  # pooled pass + limit pass
    pooled = daily.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("n_err").cast("bigint").alias("et"),
    ).selectExpr(
        "cast(floor(1e6 * cast(et as double) / cast(nt as double) + 0.5)"
        " as bigint) AS pbar_m"
    )
    pb = "(cast(pbar_m as double) / 1e6)"
    w = f"(3.0D * sqrt({pb} * (1.0D - {pb}) / cast(n as double)))"
    return (
        daily.crossJoin(F.broadcast(pooled))
        .selectExpr(
            "d",
            "n",
            "n_err",
            "cast(floor(1e6 * cast(n_err as double) / cast(n as double)"
            " + 0.5) as bigint) AS p_micro",
            f"cast(floor(1e6 * ({pb} + {w}) + 0.5) as bigint) AS ucl_micro",
            f"greatest(cast(floor(1e6 * ({pb} - {w}) + 0.5) as bigint),"
            " cast(0 as bigint)) AS lcl_micro",
        )
        .selectExpr(
            "d",
            "n",
            "n_err",
            "p_micro",
            "ucl_micro",
            "lcl_micro",
            "p_micro > ucl_micro OR p_micro < lcl_micro AS out_of_control",
        )
        .orderBy("d")
    )


def _oracle_p_chart() -> str:
    pb = "(cast(pbar_m AS DOUBLE) / 1e6)"
    w = f"(3.0 * sqrt({pb} * (1.0 - {pb}) / cast(n AS DOUBLE)))"
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d, count(*)::BIGINT AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
           AS n_err
  FROM events GROUP BY 1
),
pooled AS (
  SELECT cast(floor(1e6 * cast(sum(n_err) AS DOUBLE)
    / cast(sum(n) AS DOUBLE) + 0.5) AS BIGINT) AS pbar_m
  FROM daily
),
lim AS (
  SELECT d, n, n_err,
         cast(floor(1e6 * cast(n_err AS DOUBLE) / cast(n AS DOUBLE) + 0.5)
           AS BIGINT) AS p_micro,
         cast(floor(1e6 * ({pb} + {w}) + 0.5) AS BIGINT) AS ucl_micro,
         greatest(cast(floor(1e6 * ({pb} - {w}) + 0.5) AS BIGINT),
           0::BIGINT) AS lcl_micro
  FROM daily, pooled
)
SELECT d, n, n_err, p_micro, ucl_micro, lcl_micro,
       p_micro > ucl_micro OR p_micro < lcl_micro AS out_of_control
FROM lim ORDER BY d
"""


# --------------------------------------------------------------------------
# Process capability Cp / Cpk (X7 [EXT])
# --------------------------------------------------------------------------


def q_cp_cpk_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 process capability against spec limits [0, 150] value
    units: sigma-within = R̄/d2 (the control-chart estimate, immune to
    between-subgroup drift), Cp = (USL-LSL)/6σ, Cpk = min(USL-μ,
    μ-LSL)/3σ with μ = the X̄-R grand mean. Output one row: g,
    sigma_micro, cp_milli, cpk_milli."""
    _, stats = _chart_stats(spark, sf_dir)
    sig = f"(cast(rbar as double) / {_D2!r})"
    cp = f"(cast({_USL} - {_LSL} as double) / (6.0D * {sig}))"
    cpk = (
        f"(least(cast({_USL} as double) - cast(xbb as double),"
        f" cast(xbb as double) - cast({_LSL} as double)) / (3.0D * {sig}))"
    )
    return stats.selectExpr(
        "g",
        f"cast(floor({sig} + 0.5) as bigint) AS sigma_micro",
        f"cast(floor(1e3 * {cp} + 0.5) as bigint) AS cp_milli",
        f"cast(floor(1e3 * {cpk} + 0.5) as bigint) AS cpk_milli",
    )


def _oracle_cp_cpk() -> str:
    sig = f"(cast(rbar AS DOUBLE) / {_D2!r})"
    cp = f"(cast({_USL} - {_LSL} AS DOUBLE) / (6.0 * {sig}))"
    cpk = (
        f"(least(cast({_USL} AS DOUBLE) - cast(xbb AS DOUBLE),"
        f" cast(xbb AS DOUBLE) - cast({_LSL} AS DOUBLE)) / (3.0 * {sig}))"
    )
    return f"""
WITH {_SQL_CHART_STATS}
SELECT g,
       cast(floor({sig} + 0.5) AS BIGINT) AS sigma_micro,
       cast(floor(1e3 * {cp} + 0.5) AS BIGINT) AS cp_milli,
       cast(floor(1e3 * {cpk} + 0.5) AS BIGINT) AS cpk_milli
FROM stats
"""


# --------------------------------------------------------------------------
# Western Electric run rules (X7 [EXT])
# --------------------------------------------------------------------------


def q_western_electric_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the four Western Electric run rules on the daily-mean
    series (center = grand daily mean, sigma = population SD of daily
    means, both snapped micro): R1 = points beyond 3σ; R2 = ≥2 of the
    last 3 beyond 2σ same side; R3 = ≥4 of the last 5 beyond 1σ same
    side; R4 = all of the last 8 on one side of center. Rules 2-4
    count only full windows. Lag windows run over the checkpointed
    calendar-bounded day spine. Output one row: n_days, r1, r2, r3,
    r4."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("xm")
        )
    )
    daily = barrier(daily)  # stats pass + rules pass
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("xm").cast("bigint").alias("sx"),
        F.sum(F.expr(f"{_DEC.format(x='xm')} * xm")).alias("sxx"),
    ).selectExpr(
        "nd",
        "cast(floor(cast(sx as double) / cast(nd as double) + 0.5)"
        " as bigint) AS cm",
        "cast(floor(sqrt((cast(sxx as double) - cast(sx as double)"
        " * cast(sx as double) / cast(nd as double)) / cast(nd as double))"
        " + 0.5) as bigint) AS sm",
    )
    w = Window.orderBy("d")
    flagged = (
        daily.crossJoin(F.broadcast(stats))
        .selectExpr(
            "d",
            "nd",
            "cast(xm > cm + 3 * sm OR xm < cm - 3 * sm as int) AS b3",
            "cast(xm > cm + 2 * sm as int) AS a2",
            "cast(xm < cm - 2 * sm as int) AS u2",
            "cast(xm > cm + sm as int) AS a1",
            "cast(xm < cm - sm as int) AS u1",
            "cast(xm > cm as int) AS a0",
            "cast(xm < cm as int) AS u0",
        )
        .select(
            "d",
            "nd",
            "b3",
            F.row_number().over(w).alias("rn"),
            F.sum("a2").over(w.rowsBetween(-2, 0)).alias("sa2"),
            F.sum("u2").over(w.rowsBetween(-2, 0)).alias("su2"),
            F.sum("a1").over(w.rowsBetween(-4, 0)).alias("sa1"),
            F.sum("u1").over(w.rowsBetween(-4, 0)).alias("su1"),
            F.sum("a0").over(w.rowsBetween(-7, 0)).alias("sa0"),
            F.sum("u0").over(w.rowsBetween(-7, 0)).alias("su0"),
        )
    )
    return flagged.groupBy("nd").agg(
        F.sum("b3").cast("bigint").alias("r1"),
        F.sum(F.expr("cast(rn >= 3 AND (sa2 >= 2 OR su2 >= 2) as int)"))
        .cast("bigint")
        .alias("r2"),
        F.sum(F.expr("cast(rn >= 5 AND (sa1 >= 4 OR su1 >= 4) as int)"))
        .cast("bigint")
        .alias("r3"),
        F.sum(F.expr("cast(rn >= 8 AND (sa0 = 8 OR su0 = 8) as int)"))
        .cast("bigint")
        .alias("r4"),
    ).selectExpr("nd AS n_days", "r1", "r2", "r3", "r4")


_ORACLE_WE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
           AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS xm
  FROM events GROUP BY 1
),
stats AS (
  SELECT count(*)::BIGINT AS nd,
         cast(floor(cast(sum(xm) AS DOUBLE) / cast(count(*) AS DOUBLE)
           + 0.5) AS BIGINT) AS cm,
         cast(floor(sqrt((cast(sum(xm::HUGEINT * xm) AS DOUBLE)
           - cast(sum(xm) AS DOUBLE) * cast(sum(xm) AS DOUBLE)
             / cast(count(*) AS DOUBLE)) / cast(count(*) AS DOUBLE))
           + 0.5) AS BIGINT) AS sm
  FROM daily
),
flags AS (
  SELECT d, nd,
         CASE WHEN xm > cm + 3 * sm OR xm < cm - 3 * sm THEN 1 ELSE 0
           END AS b3,
         CASE WHEN xm > cm + 2 * sm THEN 1 ELSE 0 END AS a2,
         CASE WHEN xm < cm - 2 * sm THEN 1 ELSE 0 END AS u2,
         CASE WHEN xm > cm + sm THEN 1 ELSE 0 END AS a1,
         CASE WHEN xm < cm - sm THEN 1 ELSE 0 END AS u1,
         CASE WHEN xm > cm THEN 1 ELSE 0 END AS a0,
         CASE WHEN xm < cm THEN 1 ELSE 0 END AS u0
  FROM daily, stats
),
roll AS (
  SELECT d, nd, b3,
         row_number() OVER (ORDER BY d) AS rn,
         sum(a2) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS sa2,
         sum(u2) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS su2,
         sum(a1) OVER (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           AS sa1,
         sum(u1) OVER (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           AS su1,
         sum(a0) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
           AS sa0,
         sum(u0) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
           AS su0
  FROM flags
)
SELECT nd AS n_days,
       sum(b3)::BIGINT AS r1,
       sum(CASE WHEN rn >= 3 AND (sa2 >= 2 OR su2 >= 2) THEN 1 ELSE 0
           END)::BIGINT AS r2,
       sum(CASE WHEN rn >= 5 AND (sa1 >= 4 OR su1 >= 4) THEN 1 ELSE 0
           END)::BIGINT AS r3,
       sum(CASE WHEN rn >= 8 AND (sa0 = 8 OR su0 = 8) THEN 1 ELSE 0
           END)::BIGINT AS r4
FROM roll GROUP BY 1
"""


REGISTRY_EXT143: dict[str, QuerySpec] = {
    "xbar_r_chart_limits": QuerySpec(
        q_xbar_r_chart_limits, _ORACLE_XBAR_R, "X7 [EXT] X-bar/R chart"
    ),
    "p_chart_limits": QuerySpec(
        q_p_chart_limits, _oracle_p_chart(), "X7 [EXT] p-chart"
    ),
    "cp_cpk_capability": QuerySpec(
        q_cp_cpk_capability, _oracle_cp_cpk(), "X7 [EXT] Cp/Cpk"
    ),
    "western_electric_rules": QuerySpec(
        q_western_electric_rules, _ORACLE_WE, "X7 [EXT] WE run rules"
    ),
}
