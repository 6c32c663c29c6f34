"""Wave 151 [EXT]: circular statistics + AR(2) — the time-of-day mean
direction and resultant length (Fisher, Statistical Analysis of
Circular Data §2.3), the Rayleigh uniformity test with its
small-sample p approximation, the von Mises concentration κ via the
Best-Fisher three-branch inversion, and the AR(2) Yule-Walker fit
with two-step forecasts on the daily series. Hour-of-day histograms
(weekday_seasonality_index, hourly patterns) treat time as LINEAR and
break at midnight; the circular family is the correct geometry for
diurnal load.

Scale notes (the 100x question, per query):
- circular queries reduce the corpus to MINUTE-OF-DAY cells (1440,
  domain-bounded); cos/sin snap nano per cell (the platt
  transcendental rule — libm trig differs in the last ulp across
  engines) and the resultant sums ride exact integers; atan2/exp
  outputs snap before reuse;
- ar2_yule_walker: lag products run over the checkpointed
  calendar-bounded daily spine (the pettitt/dickey_fuller sanction
  category).

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_MIN_US = 60_000_000
_TWO_PI = 2.0 * math.pi


def _resultant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row frame (n, c_nano, s_nano): exact sums of nano-snapped
    cos/sin of the minute-of-day angle over the 1440-cell frame."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr(f"cast((unix_micros(ts) div {_MIN_US}) % 1440 as bigint)")
            .alias("m")
        )
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    theta = f"({_TWO_PI!r} * cast(m as double) / 1440.0D)"
    return (
        cells.selectExpr(
            "w",
            f"cast(floor(1e9 * cos({theta}) + 0.5) as bigint) AS cn",
            f"cast(floor(1e9 * sin({theta}) + 0.5) as bigint) AS sn",
        )
        .agg(
            F.sum("w").cast("bigint").alias("n"),
            F.sum(F.expr("w * cn")).cast("bigint").alias("c_nano"),
            F.sum(F.expr("w * sn")).cast("bigint").alias("s_nano"),
        )
    )


def _sql_resultant() -> str:
    theta = f"({_TWO_PI!r} * cast(m AS DOUBLE) / 1440.0)"
    return f"""
cells AS (
  SELECT cast((epoch_us(ts) // {_MIN_US}) % 1440 AS BIGINT) AS m,
         count(*)::BIGINT AS w
  FROM events GROUP BY 1
),
res AS (
  SELECT sum(w)::BIGINT AS n,
         sum(w * cast(floor(1e9 * cos({theta}) + 0.5) AS BIGINT))::BIGINT
           AS c_nano,
         sum(w * cast(floor(1e9 * sin({theta}) + 0.5) AS BIGINT))::BIGINT
           AS s_nano
  FROM cells
)
"""


_RBAR = (
    "(sqrt(cast(c_nano as double) * cast(c_nano as double)"
    " + cast(s_nano as double) * cast(s_nano as double))"
    " / (cast(n as double) * 1e9))"
)
_RBAR_SQL = (
    "(sqrt(cast(c_nano AS DOUBLE) * cast(c_nano AS DOUBLE)"
    " + cast(s_nano AS DOUBLE) * cast(s_nano AS DOUBLE))"
    " / (cast(n AS DOUBLE) * 1e9))"
)


# --------------------------------------------------------------------------
# Circular mean direction (X7 [EXT])
# --------------------------------------------------------------------------


def q_circular_mean_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 circular mean time-of-day: θ̄ = atan2(S, C) mapped back
    to minutes (mod 1440) and the resultant length R̄ = |​(C,S)|/n —
    the correct 'average hour' when activity wraps midnight (a linear
    mean of 23:30 and 00:30 says noon; the circular mean says
    midnight). atan2 snaps nano before the minute conversion.
    Output one row: n, mean_minute_milli, rbar_micro."""
    res = _resultant(spark, sf_dir)
    at = (
        "cast(floor(1e9 * atan2(cast(s_nano as double),"
        " cast(c_nano as double)) + 0.5) as bigint)"
    )
    minutes = (
        f"(pmod(cast({at} as double) / 1e9, {_TWO_PI!r})"
        f" * 1440.0D / {_TWO_PI!r})"
    )
    return res.selectExpr(
        "n",
        f"cast(floor(1e3 * {minutes} + 0.5) as bigint) AS mean_minute_milli",
        f"cast(floor(1e6 * {_RBAR} + 0.5) as bigint) AS rbar_micro",
    )


def _oracle_circ_mean() -> str:
    at = (
        "cast(floor(1e9 * atan2(cast(s_nano AS DOUBLE),"
        " cast(c_nano AS DOUBLE)) + 0.5) AS BIGINT)"
    )
    # DuckDB has no pmod; fmod can be negative -> add-and-wrap
    minutes = (
        f"(fmod(fmod(cast({at} AS DOUBLE) / 1e9, {_TWO_PI!r})"
        f" + {_TWO_PI!r}, {_TWO_PI!r}) * 1440.0 / {_TWO_PI!r})"
    )
    return f"""
WITH {_sql_resultant()}
SELECT n,
       cast(floor(1e3 * {minutes} + 0.5) AS BIGINT) AS mean_minute_milli,
       cast(floor(1e6 * {_RBAR_SQL} + 0.5) AS BIGINT) AS rbar_micro
FROM res
"""


# --------------------------------------------------------------------------
# Rayleigh uniformity test (X7 [EXT])
# --------------------------------------------------------------------------


def q_rayleigh_uniformity_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Rayleigh test: is time-of-day uniform on the circle?
    z = n·R̄² with the small-sample p ≈ exp(-z)·(1 + (2z - z²)/(4n))
    (Fisher §4.3; clamped to [0,1]) — the first question before any
    diurnal model. exp snaps nano. Output one row: n, z_milli,
    p_micro, reject_05."""
    res = _resultant(spark, sf_dir)
    z = f"(cast(n as double) * {_RBAR} * {_RBAR})"
    ex = f"(cast(floor(1e9 * exp(-{z}) + 0.5) as bigint))"
    p = (
        f"least(greatest(cast({ex} as double) / 1e9 * (1.0D"
        f" + (2.0D * {z} - {z} * {z}) / (4.0D * cast(n as double))),"
        f" 0.0D), 1.0D)"
    )
    return res.selectExpr(
        "n",
        f"cast(floor(1e3 * {z} + 0.5) as bigint) AS z_milli",
        f"cast(floor(1e6 * {p} + 0.5) as bigint) AS p_micro",
        f"{p} < 0.05D AS reject_05",
    )


def _oracle_rayleigh() -> str:
    z = f"(cast(n AS DOUBLE) * {_RBAR_SQL} * {_RBAR_SQL})"
    ex = f"(cast(floor(1e9 * exp(-{z}) + 0.5) AS BIGINT))"
    p = (
        f"least(greatest(cast({ex} AS DOUBLE) / 1e9 * (1.0"
        f" + (2.0 * {z} - {z} * {z}) / (4.0 * cast(n AS DOUBLE))),"
        f" 0.0), 1.0)"
    )
    return f"""
WITH {_sql_resultant()}
SELECT n,
       cast(floor(1e3 * {z} + 0.5) AS BIGINT) AS z_milli,
       cast(floor(1e6 * {p} + 0.5) AS BIGINT) AS p_micro,
       {p} < 0.05 AS reject_05
FROM res
"""


# --------------------------------------------------------------------------
# von Mises concentration (X7 [EXT])
# --------------------------------------------------------------------------


def q_vonmises_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 von Mises κ by the Best-Fisher inversion of
    A(κ) = R̄ (Fisher §4.5.5): κ = 2R̄ + R̄³ + 5R̄⁵/6 for R̄ < 0.53;
    -0.4 + 1.39R̄ + 0.43/(1-R̄) for R̄ < 0.85; 1/(R̄³ - 4R̄² + 3R̄)
    above — how peaked the diurnal pattern is, in one parameter.
    Output one row: n, rbar_micro, kappa_milli, branch."""
    res = _resultant(spark, sf_dir)
    r = _RBAR
    kappa = (
        f"CASE WHEN {r} < 0.53D"
        f" THEN 2.0D * {r} + {r} * {r} * {r}"
        f" + 5.0D * {r} * {r} * {r} * {r} * {r} / 6.0D"
        f" WHEN {r} < 0.85D"
        f" THEN -0.4D + 1.39D * {r} + 0.43D / (1.0D - {r})"
        f" ELSE 1.0D / ({r} * {r} * {r} - 4.0D * {r} * {r}"
        f" + 3.0D * {r}) END"
    )
    branch = (
        f"CASE WHEN {r} < 0.53D THEN 1 WHEN {r} < 0.85D THEN 2"
        " ELSE 3 END"
    )
    return res.selectExpr(
        "n",
        f"cast(floor(1e6 * {r} + 0.5) as bigint) AS rbar_micro",
        f"cast(floor(1e3 * ({kappa}) + 0.5) as bigint) AS kappa_milli",
        f"cast({branch} as bigint) AS branch",
    )


def _oracle_vonmises() -> str:
    r = _RBAR_SQL
    kappa = (
        f"CASE WHEN {r} < 0.53"
        f" THEN 2.0 * {r} + {r} * {r} * {r}"
        f" + 5.0 * {r} * {r} * {r} * {r} * {r} / 6.0"
        f" WHEN {r} < 0.85"
        f" THEN -0.4 + 1.39 * {r} + 0.43 / (1.0 - {r})"
        f" ELSE 1.0 / ({r} * {r} * {r} - 4.0 * {r} * {r}"
        f" + 3.0 * {r}) END"
    )
    branch = (
        f"CASE WHEN {r} < 0.53 THEN 1 WHEN {r} < 0.85 THEN 2 ELSE 3 END"
    )
    return f"""
WITH {_sql_resultant()}
SELECT n,
       cast(floor(1e6 * {r} + 0.5) AS BIGINT) AS rbar_micro,
       cast(floor(1e3 * ({kappa}) + 0.5) AS BIGINT) AS kappa_milli,
       cast({branch} AS BIGINT) AS branch
FROM res
"""


# --------------------------------------------------------------------------
# AR(2) Yule-Walker fit + forecast (X7 [EXT])
# --------------------------------------------------------------------------


def q_ar2_yule_walker_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 AR(2) by Yule-Walker on the daily mean series:
    φ₁ = r₁(1-r₂)/(1-r₁²), φ₂ = (r₂-r₁²)/(1-r₁²) from the lag-1/2
    autocorrelations (biased-n denominator, the acf_lags convention),
    then ŷ_{n+1} = μ + φ₁(y_n-μ) + φ₂(y_{n-1}-μ) and the chained
    two-step forecast. Lag products run over the checkpointed daily
    spine; r's snap micro before the φ algebra. Output one row:
    n_days, phi1_micro, phi2_micro, fc1_micro, fc2_micro."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.col("value"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(1e6 * cast(sum(cast(value as decimal(18,6)))"
                " as double) / count(1) + 0.5) as bigint)"
            ).alias("y")
        )
    )
    daily = barrier(daily)  # lag pass + tail pass
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
    )
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("syy"),
        F.sum(
            F.expr(
                f"if(y1 is null, cast(0 as decimal(38,0)),"
                f" {_DEC.format(x='y')} * y1)"
            )
        ).alias("p1"),
        F.sum(
            F.expr(
                f"if(y2 is null, cast(0 as decimal(38,0)),"
                f" {_DEC.format(x='y')} * y2)"
            )
        ).alias("p2"),
        F.sum(F.expr("if(y1 is null, cast(0 as bigint), y1)"))
        .cast("bigint")
        .alias("sl1a"),
        F.sum(F.expr("if(y1 is null, cast(0 as bigint), y)"))
        .cast("bigint")
        .alias("sl1b"),
        F.sum(F.expr("if(y2 is null, cast(0 as bigint), y2)"))
        .cast("bigint")
        .alias("sl2a"),
        F.sum(F.expr("if(y2 is null, cast(0 as bigint), y)"))
        .cast("bigint")
        .alias("sl2b"),
        F.max(F.expr("struct(d, y)")).alias("last1"),
        F.max(F.expr("if(y1 is null, null, struct(d, y1))")).alias("last2"),
    )
    nn = "cast(n as double)"
    mu = f"(cast(sy as double) / {nn})"
    c0 = f"(cast(syy as double) / {nn} - {mu} * {mu})"
    # biased-n ACF with mean-centered lag products (acf_lags convention):
    # r_k = (sum y_t y_{t-k} - mu*(suffix+prefix sums) + (n-k) mu^2)/(n c0)
    r1 = (
        f"((cast(p1 as double) - {mu} * (cast(sl1a as double)"
        f" + cast(sl1b as double)) + ({nn} - 1.0D) * {mu} * {mu})"
        f" / ({nn} * {c0}))"
    )
    r2 = (
        f"((cast(p2 as double) - {mu} * (cast(sl2a as double)"
        f" + cast(sl2b as double)) + ({nn} - 2.0D) * {mu} * {mu})"
        f" / ({nn} * {c0}))"
    )
    snapped = m.selectExpr(
        "n",
        "sy",
        f"cast(floor(1e6 * {r1} + 0.5) as bigint) AS r1m",
        f"cast(floor(1e6 * {r2} + 0.5) as bigint) AS r2m",
        "last1.y AS yn",
        "last2.y1 AS yn1",
    )
    rr1 = "(cast(r1m as double) / 1e6)"
    rr2 = "(cast(r2m as double) / 1e6)"
    phi1 = f"({rr1} * (1.0D - {rr2}) / (1.0D - {rr1} * {rr1}))"
    phi2 = f"(({rr2} - {rr1} * {rr1}) / (1.0D - {rr1} * {rr1}))"
    mu2 = "(cast(sy as double) / cast(n as double) / 1e6)"
    f1 = (
        f"({mu2} + {phi1} * (cast(yn as double) / 1e6 - {mu2})"
        f" + {phi2} * (cast(yn1 as double) / 1e6 - {mu2}))"
    )
    f2 = (
        f"({mu2} + {phi1} * ({f1} - {mu2})"
        f" + {phi2} * (cast(yn as double) / 1e6 - {mu2}))"
    )
    return snapped.selectExpr(
        "n AS n_days",
        f"cast(floor(1e6 * {phi1} + 0.5) as bigint) AS phi1_micro",
        f"cast(floor(1e6 * {phi2} + 0.5) as bigint) AS phi2_micro",
        f"cast(floor(1e6 * {f1} + 0.5) as bigint) AS fc1_micro",
        f"cast(floor(1e6 * {f2} + 0.5) as bigint) AS fc2_micro",
    )


def _oracle_ar2() -> str:
    nn = "cast(n AS DOUBLE)"
    mu = f"(cast(sy AS DOUBLE) / {nn})"
    c0 = f"(cast(syy AS DOUBLE) / {nn} - {mu} * {mu})"
    r1 = (
        f"((cast(p1 AS DOUBLE) - {mu} * (cast(sl1a AS DOUBLE)"
        f" + cast(sl1b AS DOUBLE)) + ({nn} - 1.0) * {mu} * {mu})"
        f" / ({nn} * {c0}))"
    )
    r2 = (
        f"((cast(p2 AS DOUBLE) - {mu} * (cast(sl2a AS DOUBLE)"
        f" + cast(sl2b AS DOUBLE)) + ({nn} - 2.0) * {mu} * {mu})"
        f" / ({nn} * {c0}))"
    )
    rr1 = "(cast(r1m AS DOUBLE) / 1e6)"
    rr2 = "(cast(r2m AS DOUBLE) / 1e6)"
    phi1 = f"({rr1} * (1.0 - {rr2}) / (1.0 - {rr1} * {rr1}))"
    phi2 = f"(({rr2} - {rr1} * {rr1}) / (1.0 - {rr1} * {rr1}))"
    mu2 = "(cast(sy AS DOUBLE) / cast(n AS DOUBLE) / 1e6)"
    f1 = (
        f"({mu2} + {phi1} * (cast(yn AS DOUBLE) / 1e6 - {mu2})"
        f" + {phi2} * (cast(yn1 AS DOUBLE) / 1e6 - {mu2}))"
    )
    f2 = (
        f"({mu2} + {phi1} * ({f1} - {mu2})"
        f" + {phi2} * (cast(yn AS DOUBLE) / 1e6 - {mu2}))"
    )
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(1e6 * cast(sum(cast(value AS DECIMAL(18,6)))
              AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
),
lagged AS (
  SELECT d, y, lag(y, 1) OVER (ORDER BY d) AS y1,
         lag(y, 2) OVER (ORDER BY d) AS y2
  FROM daily
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
         sum(y::HUGEINT * y) AS syy,
         sum(CASE WHEN y1 IS NULL THEN 0::HUGEINT
             ELSE y::HUGEINT * y1 END) AS p1,
         sum(CASE WHEN y2 IS NULL THEN 0::HUGEINT
             ELSE y::HUGEINT * y2 END) AS p2,
         sum(CASE WHEN y1 IS NULL THEN 0 ELSE y1 END)::BIGINT AS sl1a,
         sum(CASE WHEN y1 IS NULL THEN 0 ELSE y END)::BIGINT AS sl1b,
         sum(CASE WHEN y2 IS NULL THEN 0 ELSE y2 END)::BIGINT AS sl2a,
         sum(CASE WHEN y2 IS NULL THEN 0 ELSE y END)::BIGINT AS sl2b,
         max_by(y, d) AS yn,
         max_by(y1, CASE WHEN y1 IS NULL THEN NULL ELSE d END) AS yn1
  FROM lagged
),
snapped AS (
  SELECT n, sy,
         cast(floor(1e6 * {r1} + 0.5) AS BIGINT) AS r1m,
         cast(floor(1e6 * {r2} + 0.5) AS BIGINT) AS r2m,
         yn, yn1
  FROM m
)
SELECT n AS n_days,
       cast(floor(1e6 * {phi1} + 0.5) AS BIGINT) AS phi1_micro,
       cast(floor(1e6 * {phi2} + 0.5) AS BIGINT) AS phi2_micro,
       cast(floor(1e6 * {f1} + 0.5) AS BIGINT) AS fc1_micro,
       cast(floor(1e6 * {f2} + 0.5) AS BIGINT) AS fc2_micro
FROM snapped
"""


REGISTRY_EXT151: dict[str, QuerySpec] = {
    "circular_mean_hour": QuerySpec(
        q_circular_mean_hour, _oracle_circ_mean(), "X7 [EXT] circular mean"
    ),
    "rayleigh_uniformity_test": QuerySpec(
        q_rayleigh_uniformity_test, _oracle_rayleigh(), "X7 [EXT] Rayleigh"
    ),
    "vonmises_concentration": QuerySpec(
        q_vonmises_concentration, _oracle_vonmises(), "X7 [EXT] von Mises k"
    ),
    "ar2_yule_walker_forecast": QuerySpec(
        q_ar2_yule_walker_forecast, _oracle_ar2(), "X7 [EXT] AR(2) YW"
    ),
}
