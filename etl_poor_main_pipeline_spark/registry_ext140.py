"""Wave 140 [EXT]: panel-econometrics and robust-standard-error
completers — cluster-robust (Liang-Zeger) standard errors for the
treatment effect, a two-way fixed-effects within estimator, a daily
trend OLS with Newey-West HAC standard errors, and the Breusch-Pagan
heteroskedasticity test. Companions of the shipped
difference_in_differences / did_effect_estimator / rolling_ols_slope /
durbin_watson_autocorr / post_stratified_ate / diebold_mariano.

Scale notes (the 100x question, per query):
- cluster_robust_se: pooled OLS closed form from one exact-moment
  reduce; the CRVE meat needs only PER-CLUSTER residual sums — a
  per-user reduce with the snapped (a, b) broadcast back, then a
  keyless sandwich. Residuals never materialize row-wise twice.
- fe_within_estimator: user means, day means and the grand mean are
  three reduces (means micro-snapped); the within slope is one more
  exact-moment pass over the joined frame (user-keyed join + a
  broadcast day frame, calendar-bounded).
- trend_ols_newey_west: the daily spine carries everything; the HAC
  lag sums are two lag windows over the calendar-bounded frame.
- breusch_pagan_test: e^2 expands into raw (y, h) moments up to order
  (2,2) with the snapped coefficients, so the auxiliary R^2 assembles
  from ONE exact-moment reduce — the squared-residual regression never
  runs as a second pass.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000
_DEC = "cast({x} as decimal(38,0))"
_NW_LAGS = 2
_Z_95 = 1.959964
_CHI1_95 = 3.841459


# --------------------------------------------------------------------------
# Cluster-robust standard errors (X7 [EXT])
# --------------------------------------------------------------------------


def q_cluster_robust_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 cluster-robust (Liang & Zeger 1986; CR1) standard error
    for the odd-user treatment effect on event value: events within a
    user correlate, so the i.i.d. OLS SE is too small — the sandwich
    meat sums PER-CLUSTER score vectors (s_g, t_g) = (sum e, sum x*e)
    and the CR1 factor G/(G-1)*(N-1)/(N-2) applies. (a, b) come from
    the pooled closed form, micro-snapped before the residual pass so
    both engines subtract identical coefficients. Output one row: n,
    g_clusters, b_micro, se_ols_micro, se_cluster_micro,
    design_effect_milli."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.expr("cast(user_id % 2 = 1 as int)").alias("x"),
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("y"),
    )
    base = barrier(base)  # coef pass + residual pass
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    nn = "cast(n as double)"
    # binary x: sxx = sx, b = cov/var closed form
    b = (
        f"(({nn} * cast(sxy as double) - cast(sx as double)"
        f" * cast(sy as double)) / ({nn} * cast(sx as double)"
        f" - cast(sx as double) * cast(sx as double)))"
    )
    a = f"((cast(sy as double) - {b} * cast(sx as double)) / {nn})"
    coef = m.selectExpr(
        "n",
        "sx",
        f"cast(floor({a} + 0.5) as bigint) AS am",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
    )
    per_g = (
        base.crossJoin(F.broadcast(coef))
        .selectExpr(
            "user_id",
            "n",
            "sx",
            "am",
            "bm",
            "y - am - bm * x AS ev",
            "x",
        )
        .groupBy("user_id", "n", "sx", "am", "bm")
        .agg(
            F.sum("ev").cast("bigint").alias("sg"),
            F.sum(F.expr("x * ev")).cast("bigint").alias("tg"),
            F.sum(F.expr(f"{_DEC.format(x='ev')} * ev")).alias("qe"),
        )
    )
    red = per_g.groupBy("n", "sx", "am", "bm").agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum(F.expr(f"{_DEC.format(x='sg')} * sg")).alias("mss"),
        F.sum(F.expr(f"{_DEC.format(x='sg')} * tg")).alias("mst"),
        F.sum(F.expr(f"{_DEC.format(x='tg')} * tg")).alias("mtt"),
        F.sum("qe").alias("sse"),
    )
    # bread = (X'X)^-1; for X = [1, x] with binary x:
    # X'X = [[n, sx], [sx, sx]], det = sx*(n - sx)
    det = f"(cast(sx as double) * ({nn} - cast(sx as double)))"
    # (X'X)^-1 row 2 = [-sx, n]/det; var_b = r2 * meat * r2'
    var_b_cl = (
        f"((cast(sx as double) * cast(sx as double) * cast(mss as double)"
        f" - 2.0 * cast(sx as double) * {nn} * cast(mst as double)"
        f" + {nn} * {nn} * cast(mtt as double)) / ({det} * {det}))"
    )
    cr1 = (
        "(cast(g as double) / (cast(g as double) - 1.0)"
        f" * ({nn} - 1.0) / ({nn} - 2.0))"
    )
    var_b_ols = (
        f"(cast(sse as double) / ({nn} - 2.0) * {nn} / {det})"
    )
    se_cl = f"sqrt({cr1} * {var_b_cl})"
    se_ols = f"sqrt({var_b_ols})"
    return red.selectExpr(
        "n",
        "g AS g_clusters",
        "bm AS b_micro",
        f"cast(floor({se_ols} + 0.5) as bigint) AS se_ols_micro",
        f"cast(floor({se_cl} + 0.5) as bigint) AS se_cluster_micro",
        f"cast(floor(1e3 * {se_cl} / {se_ols} + 0.5) as bigint)"
        " AS design_effect_milli",
    )


def _oracle_crse() -> str:
    nn = "cast(n AS DOUBLE)"
    b = (
        f"(({nn} * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE)"
        f" * cast(sy AS DOUBLE)) / ({nn} * cast(sx AS DOUBLE)"
        f" - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)))"
    )
    a = f"((cast(sy AS DOUBLE) - {b} * cast(sx AS DOUBLE)) / {nn})"
    det = f"(cast(sx AS DOUBLE) * ({nn} - cast(sx AS DOUBLE)))"
    var_b_cl = (
        f"((cast(sx AS DOUBLE) * cast(sx AS DOUBLE) * cast(mss AS DOUBLE)"
        f" - 2.0 * cast(sx AS DOUBLE) * {nn} * cast(mst AS DOUBLE)"
        f" + {nn} * {nn} * cast(mtt AS DOUBLE)) / ({det} * {det}))"
    )
    cr1 = (
        "(cast(g AS DOUBLE) / (cast(g AS DOUBLE) - 1.0)"
        f" * ({nn} - 1.0) / ({nn} - 2.0))"
    )
    var_b_ols = f"(cast(sse AS DOUBLE) / ({nn} - 2.0) * {nn} / {det})"
    se_cl = f"sqrt({cr1} * {var_b_cl})"
    se_ols = f"sqrt({var_b_ols})"
    return f"""
WITH base AS (
  SELECT user_id, CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS x,
         cast(floor(value * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy
  FROM base
),
coef AS (
  SELECT n, sx, cast(floor({a} + 0.5) AS BIGINT) AS am,
         cast(floor({b} + 0.5) AS BIGINT) AS bm
  FROM m
),
per_g AS (
  SELECT b.user_id, c.n, c.sx, c.am, c.bm,
         sum(b.y - c.am - c.bm * b.x)::BIGINT AS sg,
         sum(b.x * (b.y - c.am - c.bm * b.x))::BIGINT AS tg,
         sum((b.y - c.am - c.bm * b.x)::HUGEINT
             * (b.y - c.am - c.bm * b.x)) AS qe
  FROM base b, coef c GROUP BY 1, 2, 3, 4, 5
),
red AS (
  SELECT n, sx, am, bm, count(*)::BIGINT AS g,
         sum(sg::HUGEINT * sg) AS mss, sum(sg::HUGEINT * tg) AS mst,
         sum(tg::HUGEINT * tg) AS mtt, sum(qe) AS sse
  FROM per_g GROUP BY 1, 2, 3, 4
)
SELECT n, g AS g_clusters, bm AS b_micro,
       cast(floor({se_ols} + 0.5) AS BIGINT) AS se_ols_micro,
       cast(floor({se_cl} + 0.5) AS BIGINT) AS se_cluster_micro,
       cast(floor(1e3 * {se_cl} / {se_ols} + 0.5) AS BIGINT)
         AS design_effect_milli
FROM red
"""


# --------------------------------------------------------------------------
# Two-way fixed-effects within estimator (X7 [EXT])
# --------------------------------------------------------------------------


def q_fe_within_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 two-way fixed-effects within estimator: the effect of
    HOUR-OF-DAY on event value net of user AND calendar-day fixed
    effects — the within transform y_it - ybar_i - ybar_t + ybar (same
    for x) kills both additive heterogeneities, then
    b = sum x~*y~ / sum x~^2 (the workhorse panel regression;
    difference_in_differences is its 2x2 special case). User/day/grand
    means micro-snap before the demeaned pass. Output one row: n,
    n_users, n_days, b_micro_per_hour, se_micro, t_milli."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
        F.expr(f"cast((unix_micros(ts) div {_HOUR_US}) % 24 as bigint)")
        .alias("h"),
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("y"),
    )
    base = barrier(base)  # 3 mean passes + final pass
    snap = (
        "cast(floor(cast(sum({c}) as double) / count(*) + 0.5) as bigint)"
    )
    um = base.groupBy("user_id").agg(
        F.expr(snap.format(c="y")).alias("yu"),
        F.expr(snap.format(c="h")).alias("hu"),
    )
    dm = base.groupBy("d").agg(
        F.expr(snap.format(c="y")).alias("yd"),
        F.expr(snap.format(c="h")).alias("hd"),
    )
    gm = base.agg(
        F.expr(snap.format(c="y")).alias("yg"),
        F.expr(snap.format(c="h")).alias("hg"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("nu"),
        F.countDistinct("d").cast("bigint").alias("nd"),
    )
    within = (
        base.join(um, "user_id")
        .join(F.broadcast(dm), "d")
        .crossJoin(F.broadcast(gm))
        .selectExpr(
            "n",
            "nu",
            "nd",
            "y - yu - yd + yg AS yt",
            "h - hu - hd + hg AS xt",
        )
    )
    red = within.groupBy("n", "nu", "nd").agg(
        F.sum(F.expr(f"{_DEC.format(x='xt')} * yt")).alias("sxy"),
        F.sum(F.expr(f"{_DEC.format(x='xt')} * xt")).alias("sxx"),
        F.sum(F.expr(f"{_DEC.format(x='yt')} * yt")).alias("syy"),
    )
    b = "(cast(sxy as double) / cast(sxx as double))"
    # dof = n - nu - nd + 1 - 1 (two-way FE + 1 slope)
    dof = "(cast(n as double) - cast(nu as double) - cast(nd as double))"
    sse = f"(cast(syy as double) - {b} * cast(sxy as double))"
    se = f"sqrt({sse} / {dof} / cast(sxx as double))"
    return red.selectExpr(
        "n",
        "nu AS n_users",
        "nd AS n_days",
        f"cast(floor({b} + 0.5) as bigint) AS b_micro_per_hour",
        f"cast(floor({se} + 0.5) as bigint) AS se_micro",
        f"cast(floor(1e3 * {b} / {se} + 0.5) as bigint) AS t_milli",
    )


def _oracle_fe() -> str:
    b = "(cast(sxy AS DOUBLE) / cast(sxx AS DOUBLE))"
    dof = "(cast(n AS DOUBLE) - cast(nu AS DOUBLE) - cast(nd AS DOUBLE))"
    sse = f"(cast(syy AS DOUBLE) - {b} * cast(sxy AS DOUBLE))"
    se = f"sqrt({sse} / {dof} / cast(sxx AS DOUBLE))"
    return f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS d,
         (epoch_us(ts) // {_HOUR_US}) % 24 AS h,
         cast(floor(value * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
um AS (
  SELECT user_id,
         cast(floor(cast(sum(y) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS yu,
         cast(floor(cast(sum(h) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS hu
  FROM base GROUP BY 1
),
dm AS (
  SELECT d,
         cast(floor(cast(sum(y) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS yd,
         cast(floor(cast(sum(h) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS hd
  FROM base GROUP BY 1
),
gm AS (
  SELECT cast(floor(cast(sum(y) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS yg,
         cast(floor(cast(sum(h) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS hg,
         count(*)::BIGINT AS n, count(DISTINCT user_id)::BIGINT AS nu,
         count(DISTINCT d)::BIGINT AS nd
  FROM base
),
red AS (
  SELECT g.n, g.nu, g.nd,
         sum((b.h - u.hu - t.hd + g.hg)::HUGEINT
             * (b.y - u.yu - t.yd + g.yg)) AS sxy,
         sum((b.h - u.hu - t.hd + g.hg)::HUGEINT
             * (b.h - u.hu - t.hd + g.hg)) AS sxx,
         sum((b.y - u.yu - t.yd + g.yg)::HUGEINT
             * (b.y - u.yu - t.yd + g.yg)) AS syy
  FROM base b JOIN um u ON b.user_id = u.user_id
  JOIN dm t ON b.d = t.d, gm g
  GROUP BY 1, 2, 3
)
SELECT n, nu AS n_users, nd AS n_days,
       cast(floor({b} + 0.5) AS BIGINT) AS b_micro_per_hour,
       cast(floor({se} + 0.5) AS BIGINT) AS se_micro,
       cast(floor(1e3 * {b} / {se} + 0.5) AS BIGINT) AS t_milli
FROM red
"""


# --------------------------------------------------------------------------
# Daily trend OLS with Newey-West HAC SE (X7 [EXT])
# --------------------------------------------------------------------------


def q_trend_ols_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 daily-trend OLS with Newey-West (1987) HAC standard
    errors (Bartlett weights, 2 lags — see _NW_LAGS): the slope of the
    daily total value on the day index is serially correlated, so the
    i.i.d. SE understates uncertainty; the HAC long-run variance
    sum_l w_l * gamma_l of the score v_t = x~_t * e_t fixes it (lag
    sums are windows over the calendar-bounded spine). Coefficients
    micro-snap before the residual pass. Output one row: n_days,
    slope_milli_per_day, se_ols_milli, se_nw_milli, z_milli."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / 1e3 + 0.5) as bigint)"
            ).alias("y")  # daily total in MILLI value units
        )
    )
    daily = barrier(daily)
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d").cast("bigint").alias("d0"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    base = daily.crossJoin(F.broadcast(m)).selectExpr(
        "n", "d - d0 AS t", "y"
    )
    mom = base.groupBy("n").agg(
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.expr("t * t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='t')} * y")).alias("sty"),
    )
    nn = "cast(n as double)"
    sxx = f"({nn} * cast(stt as double) - cast(st as double) * cast(st as double))"
    sxy = f"({nn} * cast(sty as double) - cast(st as double) * cast(sy as double))"
    b = f"({sxy} / {sxx})"
    a = f"((cast(sy as double) - {b} * cast(st as double)) / {nn})"
    coef = mom.selectExpr(
        "n",
        "st",
        "stt",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
        f"cast(floor({a} + 0.5) as bigint) AS am",
    )
    # v_t = (t - tbar) * e_t, milli units; tbar snapped micro
    scored = (
        base.join(F.broadcast(coef), "n")
        .selectExpr(
            "n",
            "st",
            "stt",
            "t",
            "y - am - bm * t AS ev",
        )
        .selectExpr(
            "n",
            "st",
            "stt",
            "t",
            "cast(floor((cast(t as double) - cast(st as double)"
            " / cast(n as double)) * ev + 0.5) as bigint) AS v",
            "ev",
        )
    )
    w = Window.orderBy("t")
    lagged = scored.select(
        "n",
        "st",
        "stt",
        "v",
        "ev",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
    )
    red = lagged.groupBy("n", "st", "stt").agg(
        F.sum(F.expr(f"{_DEC.format(x='v')} * v")).alias("g0"),
        F.sum(
            F.expr(
                f"if(v1 is null, cast(0 as decimal(38,0)),"
                f" {_DEC.format(x='v')} * v1)"
            )
        ).alias("g1"),
        F.sum(
            F.expr(
                f"if(v2 is null, cast(0 as decimal(38,0)),"
                f" {_DEC.format(x='v')} * v2)"
            )
        ).alias("g2"),
        F.sum(F.expr(f"{_DEC.format(x='ev')} * ev")).alias("sse"),
    )
    sxx_c = (
        f"(cast(stt as double) - cast(st as double) * cast(st as double)"
        f" / {nn})"
    )
    # Bartlett weights for L=2: w1 = 2/3, w2 = 1/3; doubled for cross terms
    lrv = (
        "(cast(g0 as double) + 2.0 * (2.0 / 3.0) * cast(g1 as double)"
        " + 2.0 * (1.0 / 3.0) * cast(g2 as double))"
    )
    se_nw = f"(sqrt({lrv}) / {sxx_c})"
    se_ols = (
        f"sqrt(cast(sse as double) / ({nn} - 2.0) / {sxx_c})"
    )
    return (
        red.crossJoin(F.broadcast(coef.selectExpr("bm AS bm_out")))
        .selectExpr(
            "n AS n_days",
            "bm_out AS slope_milli_per_day",
            f"cast(floor({se_ols} + 0.5) as bigint) AS se_ols_milli",
            f"cast(floor({se_nw} + 0.5) as bigint) AS se_nw_milli",
            f"cast(floor(1e3 * cast(bm_out as double) / {se_nw} + 0.5)"
            " as bigint) AS z_milli",
        )
    )


def _oracle_nw() -> str:
    nn = "cast(n AS DOUBLE)"
    sxx = f"({nn} * cast(stt AS DOUBLE) - cast(st AS DOUBLE) * cast(st AS DOUBLE))"
    sxy = f"({nn} * cast(sty AS DOUBLE) - cast(st AS DOUBLE) * cast(sy AS DOUBLE))"
    b = f"({sxy} / {sxx})"
    a = f"((cast(sy AS DOUBLE) - {b} * cast(st AS DOUBLE)) / {nn})"
    sxx_c = (
        f"(cast(stt AS DOUBLE) - cast(st AS DOUBLE) * cast(st AS DOUBLE)"
        f" / {nn})"
    )
    lrv = (
        "(cast(g0 AS DOUBLE) + 2.0 * (2.0 / 3.0) * cast(g1 AS DOUBLE)"
        " + 2.0 * (1.0 / 3.0) * cast(g2 AS DOUBLE))"
    )
    se_nw = f"(sqrt({lrv}) / {sxx_c})"
    se_ols = f"sqrt(cast(sse AS DOUBLE) / ({nn} - 2.0) / {sxx_c})"
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e3 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS n, min(d)::BIGINT AS d0 FROM daily
),
base AS (SELECT n, d - d0 AS t, y FROM daily, m),
mom AS (
  SELECT n, sum(t)::BIGINT AS st, sum(t * t)::BIGINT AS stt,
         sum(y)::BIGINT AS sy, sum(t::HUGEINT * y) AS sty
  FROM base GROUP BY 1
),
coef AS (
  SELECT n, st, stt, cast(floor({b} + 0.5) AS BIGINT) AS bm,
         cast(floor({a} + 0.5) AS BIGINT) AS am
  FROM mom
),
scored AS (
  SELECT b.n, c.st, c.stt, b.t, b.y - c.am - c.bm * b.t AS ev,
         cast(floor((cast(b.t AS DOUBLE) - cast(c.st AS DOUBLE)
              / cast(b.n AS DOUBLE)) * (b.y - c.am - c.bm * b.t) + 0.5)
              AS BIGINT) AS v
  FROM base b JOIN coef c ON b.n = c.n
),
lagged AS (
  SELECT n, st, stt, v, ev, lag(v, 1) OVER (ORDER BY t) AS v1,
         lag(v, 2) OVER (ORDER BY t) AS v2
  FROM scored
),
red AS (
  SELECT n, st, stt, sum(v::HUGEINT * v) AS g0,
         sum(CASE WHEN v1 IS NULL THEN 0::HUGEINT
             ELSE v::HUGEINT * v1 END) AS g1,
         sum(CASE WHEN v2 IS NULL THEN 0::HUGEINT
             ELSE v::HUGEINT * v2 END) AS g2,
         sum(ev::HUGEINT * ev) AS sse
  FROM lagged GROUP BY 1, 2, 3
)
SELECT n AS n_days, bm2 AS slope_milli_per_day,
       cast(floor({se_ols} + 0.5) AS BIGINT) AS se_ols_milli,
       cast(floor({se_nw} + 0.5) AS BIGINT) AS se_nw_milli,
       cast(floor(1e3 * cast(bm2 AS DOUBLE) / {se_nw} + 0.5) AS BIGINT)
         AS z_milli
FROM (SELECT r.*, c.bm AS bm2 FROM red r JOIN coef c ON r.n = c.n)
"""


# --------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity test (X7 [EXT])
# --------------------------------------------------------------------------


def q_breusch_pagan_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Breusch & Pagan (1979) / Koenker studentized form: after
    the pooled OLS of event value on hour-of-day, does the SQUARED
    residual still depend on the hour (heteroskedasticity — the
    condition that invalidates the i.i.d. SEs and motivates
    cluster_robust_se)? BP = n * R^2 of e^2 on h; e^2 expands into raw
    (y, h) moments up to order (2,2) with the snapped (a, b), so ONE
    exact-moment reduce carries the auxiliary regression. Output one
    row: n, b_micro, bp_milli, reject_05 (chi2(1))."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr(f"cast((unix_micros(ts) div {_HOUR_US}) % 24 as bigint)")
        .alias("h"),
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("y"),
    )
    base = barrier(base)
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("h").cast("bigint").alias("sh"),
        F.sum(F.expr("h * h")).cast("bigint").alias("shh"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("h * y")).cast("bigint").alias("shy"),
    )
    nn = "cast(n as double)"
    sxx = f"({nn} * cast(shh as double) - cast(sh as double) * cast(sh as double))"
    sxy = f"({nn} * cast(shy as double) - cast(sh as double) * cast(sy as double))"
    b = f"({sxy} / {sxx})"
    a = f"((cast(sy as double) - {b} * cast(sh as double)) / {nn})"
    coef = m.selectExpr(
        "n",
        f"cast(floor({a} + 0.5) as bigint) AS am",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
    )
    # u = e^2 in VALUE-UNITS^2 (micro^2/1e12, floored) keeps moments in
    # bigint/decimal range; the BP statistic is scale-invariant
    red = (
        base.crossJoin(F.broadcast(coef))
        .selectExpr(
            "n",
            "h",
            "cast(floor(cast((y - am - bm * h) as double)"
            " * (y - am - bm * h) / 1e12 + 0.5) as bigint) AS u",
        )
        .groupBy("n")
        .agg(
            F.sum("h").cast("bigint").alias("sh"),
            F.sum(F.expr("h * h")).cast("bigint").alias("shh"),
            F.sum("u").cast("bigint").alias("su"),
            F.sum(F.expr(f"{_DEC.format(x='u')} * u")).alias("suu"),
            F.sum(F.expr(f"{_DEC.format(x='h')} * u")).alias("shu"),
        )
    )
    sxx2 = f"({nn} * cast(shh as double) - cast(sh as double) * cast(sh as double))"
    suu_c = f"({nn} * cast(suu as double) - cast(su as double) * cast(su as double))"
    shu_c = f"({nn} * cast(shu as double) - cast(sh as double) * cast(su as double))"
    r2 = f"({shu_c} * {shu_c} / ({sxx2} * {suu_c}))"
    return (
        red.crossJoin(F.broadcast(coef.selectExpr("bm AS b_out")))
        .selectExpr(
            "n",
            "b_out AS b_micro",
            f"cast(floor(1e3 * {nn} * {r2} + 0.5) as bigint) AS bp_milli",
            f"{nn} * {r2} > {_CHI1_95!r} AS reject_05",
        )
    )


def _oracle_bp() -> str:
    nn = "cast(n AS DOUBLE)"
    sxx = f"({nn} * cast(shh AS DOUBLE) - cast(sh AS DOUBLE) * cast(sh AS DOUBLE))"
    sxy = f"({nn} * cast(shy AS DOUBLE) - cast(sh AS DOUBLE) * cast(sy AS DOUBLE))"
    b = f"({sxy} / {sxx})"
    a = f"((cast(sy AS DOUBLE) - {b} * cast(sh AS DOUBLE)) / {nn})"
    sxx2 = f"({nn} * cast(shh AS DOUBLE) - cast(sh AS DOUBLE) * cast(sh AS DOUBLE))"
    suu_c = f"({nn} * cast(suu AS DOUBLE) - cast(su AS DOUBLE) * cast(su AS DOUBLE))"
    shu_c = f"({nn} * cast(shu AS DOUBLE) - cast(sh AS DOUBLE) * cast(su AS DOUBLE))"
    r2 = f"({shu_c} * {shu_c} / ({sxx2} * {suu_c}))"
    return f"""
WITH base AS (
  SELECT (epoch_us(ts) // {_HOUR_US}) % 24 AS h,
         cast(floor(value * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(h)::BIGINT AS sh,
         sum(h * h)::BIGINT AS shh, sum(y)::BIGINT AS sy,
         sum(h * y)::BIGINT AS shy
  FROM base
),
coef AS (
  SELECT n, cast(floor({a} + 0.5) AS BIGINT) AS am,
         cast(floor({b} + 0.5) AS BIGINT) AS bm
  FROM m
),
red AS (
  SELECT b.n, sum(b.h)::BIGINT AS sh, sum(b.h * b.h)::BIGINT AS shh,
         sum(u)::BIGINT AS su, sum(u::HUGEINT * u) AS suu,
         sum(b.h::HUGEINT * u) AS shu
  FROM (
    SELECT n, h,
           cast(floor(cast((y - c.am - c.bm * h) AS DOUBLE)
                * (y - c.am - c.bm * h) / 1e12 + 0.5) AS BIGINT) AS u
    FROM base, coef c
  ) b
  GROUP BY 1
)
SELECT n, bm2 AS b_micro,
       cast(floor(1e3 * {nn} * {r2} + 0.5) AS BIGINT) AS bp_milli,
       {nn} * {r2} > {_CHI1_95!r} AS reject_05
FROM (SELECT r.*, c.bm AS bm2 FROM red r JOIN coef c ON r.n = c.n)
"""


REGISTRY_EXT140: dict[str, QuerySpec] = {
    "cluster_robust_se": QuerySpec(
        q_cluster_robust_se, _oracle_crse(), "X7 [EXT] cluster-robust SE"
    ),
    "fe_within_estimator": QuerySpec(
        q_fe_within_estimator, _oracle_fe(), "X7 [EXT] two-way FE"
    ),
    "trend_ols_newey_west": QuerySpec(
        q_trend_ols_newey_west, _oracle_nw(), "X7 [EXT] NW trend OLS"
    ),
    "breusch_pagan_test": QuerySpec(
        q_breusch_pagan_test, _oracle_bp(), "X7 [EXT] Breusch-Pagan"
    ),
}
