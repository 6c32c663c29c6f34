"""Wave 146 [EXT]: forecasting completers — Holt-Winters ADDITIVE
seasonal smoothing (day-of-week, m=7), the theta method
(Assimakopoulos & Nikolopoulos 2000, the M3-competition winner) as
0.5·(trend line + SES of the theta=2 line), Croston's (1972) method
for intermittent demand (separate SES on demand sizes and inter-demand
intervals), and Trigg's (1964) smoothed-error tracking signal over
naive-1 forecast errors. Companions of the shipped
holt_linear_forecast / seasonal_naive_mase / theil_u2_forecast /
ewma_trailing (registry_ext111 and peers).

All four fold a recurrence ONCE over the calendar-bounded daily spine:
Spark side as a functional F.aggregate over the sorted collected array
(the holt_linear_forecast idiom — bounded collect, sanctioned), DuckDB
side as a recursive CTE with OLD-state references QUALIFIED (f.lv) to
dodge both the list_reduce in-place-update bug and the lateral-alias
capture documented at registry_ext111's _ORACLE_HOLT. Smoothing
constants are DYADIC (1/2, 1/4, 1/8) so every update is one
correctly-rounded IEEE op in both engines; repeated subexpressions are
spelled with identical text on both sides.

Scale notes (the 100x question): the corpus reduces map-side to the
daily frame first; the collected fold array is calendar-bounded
(≤ a few thousand elements at any corpus age) — the same boundedness
sanction as holt_linear_forecast's hourly spine.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_TS_LIMIT = 0.51  # Trigg's tracking-signal action limit for alpha=1/4


def _daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily MEAN value in micro units (the holt_linear convention,
    one day per row)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.col("value"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(1e6 * cast(sum(cast(value as decimal(18,6)))"
                " as double) / count(1) + 0.5) as bigint)"
            ).alias("ymic")
        )
    )


_SQL_DAILY_MEAN = f"""
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(1e6 * cast(sum(cast(value AS DECIMAL(18,6)))
              AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS ymic
  FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal (X7 [EXT])
# --------------------------------------------------------------------------


def q_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Holt-Winters additive with weekly seasonality (m=7,
    alpha=1/2, beta=1/4, gamma=1/2): l_t = α(y_t - s_{t-7}) +
    (1-α)(l+b); b_t = β(l_t - l) + (1-β)b; s_t = γ(y_t - l_t) +
    (1-γ)s_{t-7}. Seeds: l = mean(y_1..7), b = (y_8 - y_1)/7,
    s_i = y_i - l; fold from day 8. Forecast h ahead adds the rotated
    season. Output one row: n_days, level_micro, trend_micro,
    fc1_micro, fc7_micro."""
    daily = _daily_mean(spark, sf_dir)
    arr = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("array_sort(collect_list(struct(d, ymic)))").alias("dy"),
    ).selectExpr("n_days", "transform(dy, x -> x.ymic) AS ys")
    seeded = arr.selectExpr(
        "n_days",
        "ys",
        "cast(element_at(ys, 1) + element_at(ys, 2) + element_at(ys, 3)"
        " + element_at(ys, 4) + element_at(ys, 5) + element_at(ys, 6)"
        " + element_at(ys, 7) as double) / 7e6 AS l0",
        "cast(element_at(ys, 8) - element_at(ys, 1) as double) / 7e6 AS b0",
    ).selectExpr(
        "n_days",
        "ys",
        "l0",
        "b0",
        "transform(slice(ys, 1, 7), x -> cast(x as double) / 1e6 - l0)"
        " AS s0",
    )
    lnew = (
        "(0.5D * (cast(x as double) / 1e6 - element_at(acc.sv, 1))"
        " + 0.5D * (acc.lv + acc.tr))"
    )
    fold = (
        "aggregate("
        "  slice(ys, 8, 100000000),"
        "  struct(l0 as lv, b0 as tr, s0 as sv),"
        f" (acc, x) -> struct("
        f"   {lnew} as lv,"
        f"   0.25D * ({lnew} - acc.lv) + 0.75D * acc.tr as tr,"
        f"   concat(slice(acc.sv, 2, 6),"
        f"     array(0.5D * (cast(x as double) / 1e6 - {lnew})"
        f"       + 0.5D * element_at(acc.sv, 1))) as sv),"
        "  acc -> struct("
        "    cast(floor(1e6 * acc.lv + 0.5) as bigint) as lv,"
        "    cast(floor(1e6 * acc.tr + 0.5) as bigint) as tr,"
        "    cast(floor(1e6 * (acc.lv + acc.tr + element_at(acc.sv, 1))"
        "      + 0.5) as bigint) as f1,"
        "    cast(floor(1e6 * (acc.lv + 7.0D * acc.tr"
        "      + element_at(acc.sv, 7)) + 0.5) as bigint) as f7))"
    )
    return seeded.selectExpr("n_days", f"{fold} AS hw").selectExpr(
        "n_days",
        "hw.lv AS level_micro",
        "hw.tr AS trend_micro",
        "hw.f1 AS fc1_micro",
        "hw.f7 AS fc7_micro",
    )


_HW_LNEW = (
    "(0.5 * (cast(a.ys[f.i + 1] AS DOUBLE) / 1e6 - f.sv[1])"
    " + 0.5 * (f.lv + f.tr))"
)
_ORACLE_HW = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_MEAN}),
arr AS (
  SELECT count(*)::BIGINT AS n_days, list(ymic ORDER BY d) AS ys
  FROM daily
),
seed AS (
  SELECT n_days, ys,
         cast(ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6] + ys[7]
           AS DOUBLE) / 7e6 AS l0,
         cast(ys[8] - ys[1] AS DOUBLE) / 7e6 AS b0
  FROM arr
),
fold AS (
  SELECT 7 AS i, l0 AS lv, b0 AS tr,
         list_transform(ys[1:7],
           x -> cast(x AS DOUBLE) / 1e6 - l0) AS sv
  FROM seed
  UNION ALL
  SELECT f.i + 1,
         {_HW_LNEW},
         0.25 * ({_HW_LNEW} - f.lv) + 0.75 * f.tr,
         f.sv[2:7] || [0.5 * (cast(a.ys[f.i + 1] AS DOUBLE) / 1e6
           - {_HW_LNEW}) + 0.5 * f.sv[1]]
  FROM fold f, arr a WHERE f.i < a.n_days
)
SELECT a.n_days,
       cast(floor(1e6 * f.lv + 0.5) AS BIGINT) AS level_micro,
       cast(floor(1e6 * f.tr + 0.5) AS BIGINT) AS trend_micro,
       cast(floor(1e6 * (f.lv + f.tr + f.sv[1]) + 0.5) AS BIGINT)
         AS fc1_micro,
       cast(floor(1e6 * (f.lv + 7.0 * f.tr + f.sv[7]) + 0.5) AS BIGINT)
         AS fc7_micro
FROM fold f, arr a WHERE f.i = a.n_days
"""


# --------------------------------------------------------------------------
# Theta method (X7 [EXT])
# --------------------------------------------------------------------------


def q_theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 theta method: decompose the daily series into the
    theta=0 line (the OLS trend, extrapolated) and the theta=2 line
    z_t = 2y_t - (a + b·t) (double-curvature residual series, SES'd
    with alpha=1/2, flat forecast), then fc_h = (theta0_h + SES)/2.
    The trend snaps (a, b) to micro ints so z_t is EXACT integer
    arithmetic before the fold. t = d - d0 (calendar index, gap-
    robust). Output one row: n_days, slope_micro, ses_micro,
    fc1_micro, fc7_micro."""
    daily = _daily_mean(spark, sf_dir)
    daily = barrier(daily)  # moment pass + fold pass
    mom = daily.selectExpr("d", "ymic").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d").cast("bigint").alias("d0"),
        F.max("d").cast("bigint").alias("d1"),
        F.sum(F.expr("d")).cast("bigint").alias("sd"),
        F.sum(F.expr("d * d")).cast("bigint").alias("sdd"),
        F.sum("ymic").cast("bigint").alias("sy"),
        F.sum(F.expr("cast(d as decimal(38,0)) * ymic")).alias("sdy"),
    )
    nn = "cast(n as double)"
    # OLS on raw d (shift-invariant slope), then re-anchor at d0
    cxx = f"({nn} * cast(sdd as double) - cast(sd as double) * cast(sd as double))"
    cxy = f"({nn} * cast(sdy as double) - cast(sd as double) * cast(sy as double))"
    b = f"({cxy} / {cxx})"
    a_at_d0 = (
        f"((cast(sy as double) - {b} * cast(sd as double)) / {nn}"
        f" + {b} * cast(d0 as double))"
    )
    coef = mom.selectExpr(
        "n",
        "d0",
        "d1",
        f"cast(floor({a_at_d0} + 0.5) as bigint) AS am",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
    )
    arr = daily.agg(
        F.expr("array_sort(collect_list(struct(d, ymic)))").alias("dy")
    )
    fold = (
        "aggregate("
        "  slice(zs, 2, 100000000),"
        "  cast(element_at(zs, 1) as double) / 1e6,"
        "  (acc, z) -> 0.5D * (cast(z as double) / 1e6) + 0.5D * acc)"
    )
    return (
        arr.crossJoin(F.broadcast(coef))
        .selectExpr(
            "n",
            "d0",
            "d1",
            "am",
            "bm",
            "transform(dy, x -> 2 * x.ymic - (am + bm * (x.d - d0)))"
            " AS zs",
        )
        .selectExpr("n", "d0", "d1", "am", "bm", f"{fold} AS ses")
        .selectExpr(
            "n AS n_days",
            "bm AS slope_micro",
            "cast(floor(1e6 * ses + 0.5) as bigint) AS ses_micro",
            "cast(floor(0.5D * (cast(am + bm * (d1 - d0 + 1) as double)"
            " / 1e6 + ses) * 1e6 + 0.5) as bigint) AS fc1_micro",
            "cast(floor(0.5D * (cast(am + bm * (d1 - d0 + 7) as double)"
            " / 1e6 + ses) * 1e6 + 0.5) as bigint) AS fc7_micro",
        )
    )


_ORACLE_THETA = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_MEAN}),
mom AS (
  SELECT count(*)::BIGINT AS n, min(d)::BIGINT AS d0, max(d)::BIGINT AS d1,
         sum(d)::BIGINT AS sd, sum(d * d)::BIGINT AS sdd,
         sum(ymic)::BIGINT AS sy, sum(d::HUGEINT * ymic) AS sdy
  FROM daily
),
coef AS (
  SELECT n, d0, d1,
         cast(floor(((cast(sy AS DOUBLE) - ((cast(n AS DOUBLE)
             * cast(sdy AS DOUBLE) - cast(sd AS DOUBLE)
             * cast(sy AS DOUBLE)) / (cast(n AS DOUBLE)
             * cast(sdd AS DOUBLE) - cast(sd AS DOUBLE)
             * cast(sd AS DOUBLE))) * cast(sd AS DOUBLE))
           / cast(n AS DOUBLE)
           + ((cast(n AS DOUBLE) * cast(sdy AS DOUBLE)
             - cast(sd AS DOUBLE) * cast(sy AS DOUBLE))
             / (cast(n AS DOUBLE) * cast(sdd AS DOUBLE)
             - cast(sd AS DOUBLE) * cast(sd AS DOUBLE)))
             * cast(d0 AS DOUBLE)) + 0.5) AS BIGINT) AS am,
         cast(floor(((cast(n AS DOUBLE) * cast(sdy AS DOUBLE)
           - cast(sd AS DOUBLE) * cast(sy AS DOUBLE))
           / (cast(n AS DOUBLE) * cast(sdd AS DOUBLE)
           - cast(sd AS DOUBLE) * cast(sd AS DOUBLE))) + 0.5) AS BIGINT)
           AS bm
  FROM mom
),
arr AS (
  SELECT c.n, c.d0, c.d1, c.am, c.bm,
         list(2 * d.ymic - (c.am + c.bm * (d.d - c.d0)) ORDER BY d.d)
           AS zs
  FROM daily d, coef c GROUP BY 1, 2, 3, 4, 5
),
fold AS (
  SELECT 1 AS i, cast(zs[1] AS DOUBLE) / 1e6 AS acc FROM arr
  UNION ALL
  SELECT f.i + 1,
         0.5 * (cast(a.zs[f.i + 1] AS DOUBLE) / 1e6) + 0.5 * f.acc
  FROM fold f, arr a WHERE f.i < a.n
)
SELECT a.n AS n_days, a.bm AS slope_micro,
       cast(floor(1e6 * f.acc + 0.5) AS BIGINT) AS ses_micro,
       cast(floor(0.5 * (cast(a.am + a.bm * (a.d1 - a.d0 + 1) AS DOUBLE)
         / 1e6 + f.acc) * 1e6 + 0.5) AS BIGINT) AS fc1_micro,
       cast(floor(0.5 * (cast(a.am + a.bm * (a.d1 - a.d0 + 7) AS DOUBLE)
         / 1e6 + f.acc) * 1e6 + 0.5) AS BIGINT) AS fc7_micro
FROM fold f, arr a WHERE f.i = a.n
"""


# --------------------------------------------------------------------------
# Croston's intermittent-demand method (X7 [EXT])
# --------------------------------------------------------------------------


def q_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Croston (1972): on the daily 'purchase'-count series,
    run separate SES (alpha=1/8) over the nonzero demand SIZES and the
    INTER-DEMAND intervals (day gaps, so zero-demand days need never
    materialize); the per-period forecast is z/p. Seeds: z = first
    demand size, p = 1. Output one row: n_demand_days, z_milli,
    p_milli, fc_milli."""
    e = _t(spark, sf_dir, "events")
    dem = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    arr = dem.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.expr("array_sort(collect_list(struct(d, c)))").alias("dc"),
    )
    fold = (
        "aggregate("
        "  slice(dc, 2, 100000000),"
        "  struct(cast(element_at(dc, 1).c as double) as z,"
        "    cast(1 as double) as p,"
        "    element_at(dc, 1).d as pd),"
        "  (acc, x) -> struct("
        "    0.125D * cast(x.c as double) + 0.875D * acc.z as z,"
        "    0.125D * cast(x.d - acc.pd as double) + 0.875D * acc.p as p,"
        "    x.d as pd),"
        "  acc -> struct("
        "    cast(floor(1e3 * acc.z + 0.5) as bigint) as z,"
        "    cast(floor(1e3 * acc.p + 0.5) as bigint) as p,"
        "    cast(floor(1e3 * acc.z / acc.p + 0.5) as bigint) as fc))"
    )
    return arr.selectExpr("k", f"{fold} AS cr").selectExpr(
        "k AS n_demand_days",
        "cr.z AS z_milli",
        "cr.p AS p_milli",
        "cr.fc AS fc_milli",
    )


_ORACLE_CROSTON = f"""
WITH RECURSIVE dem AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d, count(*)::BIGINT AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
arr AS (
  SELECT count(*)::BIGINT AS k, list(d ORDER BY d) AS ds,
         list(c ORDER BY d) AS cs
  FROM dem
),
fold AS (
  SELECT 1 AS i, cast(cs[1] AS DOUBLE) AS z, cast(1 AS DOUBLE) AS p
  FROM arr
  UNION ALL
  SELECT f.i + 1,
         0.125 * cast(a.cs[f.i + 1] AS DOUBLE) + 0.875 * f.z,
         0.125 * cast(a.ds[f.i + 1] - a.ds[f.i] AS DOUBLE) + 0.875 * f.p
  FROM fold f, arr a WHERE f.i < a.k
)
SELECT a.k AS n_demand_days,
       cast(floor(1e3 * f.z + 0.5) AS BIGINT) AS z_milli,
       cast(floor(1e3 * f.p + 0.5) AS BIGINT) AS p_milli,
       cast(floor(1e3 * f.z / f.p + 0.5) AS BIGINT) AS fc_milli
FROM fold f, arr a WHERE f.i = a.k
"""


# --------------------------------------------------------------------------
# Trigg tracking signal (X7 [EXT])
# --------------------------------------------------------------------------


def q_tracking_signal_trigg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Trigg (1964) tracking signal over naive-1 forecast
    errors e_t = y_t - y_{t-1} on the daily mean series: smoothed
    error E = αe + (1-α)E and smoothed MAD M = α|e| + (1-α)M with
    α=1/4; the signal E/M alarms when |E/M| > 0.51 (Trigg's action
    limit) — the classic 'has the forecast gone biased' monitor.
    Output one row: n_days, e_smooth_micro, mad_micro, ts_milli,
    n_alarms."""
    daily = _daily_mean(spark, sf_dir)
    arr = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("array_sort(collect_list(struct(d, ymic)))").alias("dy"),
    ).selectExpr("n_days", "transform(dy, x -> x.ymic) AS ys")
    enew = "(cast(x - acc.pv as double) / 1e6)"
    fold = (
        "aggregate("
        "  slice(ys, 2, 100000000),"
        "  struct(cast(0 as double) as e, cast(0 as double) as m,"
        "    element_at(ys, 1) as pv, cast(0 as bigint) as al),"
        f" (acc, x) -> struct("
        f"   0.25D * {enew} + 0.75D * acc.e as e,"
        f"   0.25D * abs({enew}) + 0.75D * acc.m as m,"
        f"   x as pv,"
        f"   acc.al + if(0.25D * abs({enew}) + 0.75D * acc.m > 0.0D"
        f"     AND abs((0.25D * {enew} + 0.75D * acc.e)"
        f"       / (0.25D * abs({enew}) + 0.75D * acc.m)) > {_TS_LIMIT!r},"
        f"     cast(1 as bigint), cast(0 as bigint)) as al),"
        "  acc -> struct("
        "    cast(floor(1e6 * acc.e + 0.5) as bigint) as e,"
        "    cast(floor(1e6 * acc.m + 0.5) as bigint) as m,"
        "    cast(floor(1e3 * acc.e / acc.m + 0.5) as bigint) as ts,"
        "    acc.al as al))"
    )
    return arr.selectExpr("n_days", f"{fold} AS tg").selectExpr(
        "n_days",
        "tg.e AS e_smooth_micro",
        "tg.m AS mad_micro",
        "tg.ts AS ts_milli",
        "tg.al AS n_alarms",
    )


_TG_ENEW = "(cast(a.ys[f.i + 1] - a.ys[f.i] AS DOUBLE) / 1e6)"
_ORACLE_TRIGG = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_MEAN}),
arr AS (
  SELECT count(*)::BIGINT AS n_days, list(ymic ORDER BY d) AS ys
  FROM daily
),
fold AS (
  SELECT 1 AS i, cast(0 AS DOUBLE) AS e, cast(0 AS DOUBLE) AS m,
         0::BIGINT AS al
  FROM arr
  UNION ALL
  SELECT f.i + 1,
         0.25 * {_TG_ENEW} + 0.75 * f.e,
         0.25 * abs({_TG_ENEW}) + 0.75 * f.m,
         f.al + CASE WHEN 0.25 * abs({_TG_ENEW}) + 0.75 * f.m > 0.0
           AND abs((0.25 * {_TG_ENEW} + 0.75 * f.e)
             / (0.25 * abs({_TG_ENEW}) + 0.75 * f.m)) > {_TS_LIMIT!r}
           THEN 1 ELSE 0 END
  FROM fold f, arr a WHERE f.i < a.n_days
)
SELECT a.n_days,
       cast(floor(1e6 * f.e + 0.5) AS BIGINT) AS e_smooth_micro,
       cast(floor(1e6 * f.m + 0.5) AS BIGINT) AS mad_micro,
       cast(floor(1e3 * f.e / f.m + 0.5) AS BIGINT) AS ts_milli,
       f.al AS n_alarms
FROM fold f, arr a WHERE f.i = a.n_days
"""


REGISTRY_EXT146: dict[str, QuerySpec] = {
    "holt_winters_additive": QuerySpec(
        q_holt_winters_additive, _ORACLE_HW, "X7 [EXT] Holt-Winters"
    ),
    "theta_method_forecast": QuerySpec(
        q_theta_method_forecast, _ORACLE_THETA, "X7 [EXT] theta method"
    ),
    "croston_intermittent": QuerySpec(
        q_croston_intermittent, _ORACLE_CROSTON, "X7 [EXT] Croston"
    ),
    "tracking_signal_trigg": QuerySpec(
        q_tracking_signal_trigg, _ORACLE_TRIGG, "X7 [EXT] tracking signal"
    ),
}
