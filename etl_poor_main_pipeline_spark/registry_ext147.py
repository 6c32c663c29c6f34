"""Wave 147 [EXT]: GLM and panel-estimator completers — Poisson
log-linear trend by unrolled IRLS/Newton with deviance + Pearson GoF,
grouped-binomial logistic regression on the value-cell frame by IRLS,
the panel BETWEEN estimator (OLS on user means), and the
FIRST-DIFFERENCE estimator over consecutive observed user-days.
Companions of the shipped platt_calibration_newton / cox_ph_newton /
fe_within_estimator / cluster_robust_se /
negative_binomial_overdispersion (registry_ext130/140 and peers).

Scale notes (the 100x question, per query):
- poisson_irls_trend: the corpus reduces to the calendar-bounded daily
  count frame; each of the K unrolled Newton steps evaluates exp(z)
  ONCE PER DAY (micro-snapped, the platt rule) and reduces five
  weighted sums — constant work per step at any corpus;
- logistic_irls_value: same structure over the value-DOMAIN-bounded
  centi cell frame (grouped-binomial IRLS — cells carry (trials,
  successes), so the corpus never re-enters the loop);
- between_estimator_panel: one map-side per-user reduce to snapped
  user means, then a single exact-moment OLS — the user frame is
  corpus-sized but visited once, map-side;
- first_difference_estimator: the lag runs inside a PARTITIONED
  window (per user, bounded by the user's observed days) — no global
  window; the through-origin FD slope is one moment reduce.

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
_HOUR_US = 3_600_000_000
_IRLS_STEPS = 4


# --------------------------------------------------------------------------
# Poisson log-linear trend by IRLS (X7 [EXT])
# --------------------------------------------------------------------------


def q_poisson_irls_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Poisson regression of the daily 'error' count on the
    day index, y_t ~ Poisson(exp(a + b·t)): 4 unrolled Newton/IRLS
    steps from a = ln(ȳ) (micro-snapped), b = 0; each step solves the
    2×2 information system from exact integer sums of the micro-
    snapped mu = exp(a + b·t). Reports the deviance
    2Σ[y·ln(y/μ) - (y-μ)] and Pearson X² = Σ(y-μ)²/μ — the GoF pair
    that flags overdispersion (see
    negative_binomial_overdispersion). Output one row: n_days,
    a_micro, b_micro, deviance_milli, pearson_milli."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.filter("event_type = 'error'")
        .select(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    daily = barrier(daily)  # K+2 passes
    sp = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d").cast("bigint").alias("d0"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    base = daily.crossJoin(F.broadcast(sp)).selectExpr(
        "n", "d - d0 AS t", "y",
        # a0 = ln(mean y) micro-snapped; b0 = 0
        "cast(floor(1e6 * ln(cast(sy as double) / cast(n as double))"
        " + 0.5) as bigint) AS am",
        "cast(0 as bigint) AS bm",
    )
    cur = base
    for _ in range(_IRLS_STEPS):
        red = (
            cur.selectExpr(
                "n", "t", "y", "am", "bm",
                "cast(floor(1e6 * exp(cast(am + bm * t as double) / 1e6)"
                " + 0.5) as bigint) AS mu",
            )
            .groupBy("n", "am", "bm")
            .agg(
                F.sum(F.expr("y * 1000000 - mu")).cast("bigint").alias("ua"),
                F.sum(F.expr(f"{_DEC.format(x='t')} * (y * 1000000 - mu)"))
                .alias("ub"),
                F.sum("mu").cast("bigint").alias("iaa"),
                F.sum(F.expr(f"{_DEC.format(x='t')} * mu")).alias("iab"),
                F.sum(F.expr(f"{_DEC.format(x='t * t')} * mu")).alias("ibb"),
            )
        )
        det = (
            "(cast(iaa as double) * cast(ibb as double)"
            " - cast(iab as double) * cast(iab as double))"
        )
        da = (
            f"((cast(ibb as double) * cast(ua as double)"
            f" - cast(iab as double) * cast(ub as double)) / {det})"
        )
        db = (
            f"((cast(iaa as double) * cast(ub as double)"
            f" - cast(iab as double) * cast(ua as double)) / {det})"
        )
        coef = red.selectExpr(
            "n",
            f"cast(floor(cast(am as double) + {da} + 0.5) as bigint) AS am",
            f"cast(floor(cast(bm as double) + {db} + 0.5) as bigint) AS bm",
        )
        cur = base.selectExpr("n", "t", "y").join(F.broadcast(coef), "n")
    gof = (
        cur.selectExpr(
            "n", "am", "bm", "y",
            "cast(floor(1e6 * exp(cast(am + bm * t as double) / 1e6)"
            " + 0.5) as bigint) AS mu",
        )
        .selectExpr(
            "n", "am", "bm", "y", "mu",
            "if(y > 0, cast(floor(1e9 * cast(y as double)"
            " * ln(cast(y as double) * 1e6 / cast(mu as double)) + 0.5)"
            " as bigint), cast(0 as bigint)) AS dv",
            "cast(floor(1e9 * (cast(y as double)"
            " - cast(mu as double) / 1e6) * (cast(y as double)"
            " - cast(mu as double) / 1e6) / (cast(mu as double) / 1e6)"
            " + 0.5) as bigint) AS px",
        )
        .groupBy("n", "am", "bm")
        .agg(
            F.sum("y").cast("bigint").alias("ty"),
            F.sum("mu").cast("bigint").alias("tmu"),
            F.sum("dv").cast("bigint").alias("tdv"),
            F.sum("px").cast("bigint").alias("tpx"),
        )
    )
    dev = (
        "(2.0D * (cast(tdv as double) / 1e9 - (cast(ty as double)"
        " - cast(tmu as double) / 1e6)))"
    )
    return gof.selectExpr(
        "n AS n_days",
        "am AS a_micro",
        "bm AS b_micro",
        f"cast(floor(1e3 * {dev} + 0.5) as bigint) AS deviance_milli",
        "cast(floor(1e3 * cast(tpx as double) / 1e9 + 0.5) as bigint)"
        " AS pearson_milli",
    )


def _oracle_poisson() -> str:
    det = (
        "(cast(iaa AS DOUBLE) * cast(ibb AS DOUBLE)"
        " - cast(iab AS DOUBLE) * cast(iab AS DOUBLE))"
    )
    da = (
        f"((cast(ibb AS DOUBLE) * cast(ua AS DOUBLE)"
        f" - cast(iab AS DOUBLE) * cast(ub AS DOUBLE)) / {det})"
    )
    db = (
        f"((cast(iaa AS DOUBLE) * cast(ub AS DOUBLE)"
        f" - cast(iab AS DOUBLE) * cast(ua AS DOUBLE)) / {det})"
    )
    steps = """
base AS (
  SELECT s.n, d.d - s.d0 AS t, d.y,
         cast(floor(1e6 * ln(cast(s.sy AS DOUBLE) / cast(s.n AS DOUBLE))
           + 0.5) AS BIGINT) AS am,
         0::BIGINT AS bm
  FROM daily d, sp s
)"""
    prev = "base"
    for i in range(_IRLS_STEPS):
        steps += f""",
red{i} AS (
  SELECT n, am, bm,
         sum(y * 1000000 - mu)::BIGINT AS ua,
         sum(t::HUGEINT * (y * 1000000 - mu)) AS ub,
         sum(mu)::BIGINT AS iaa, sum(t::HUGEINT * mu) AS iab,
         sum((t * t)::HUGEINT * mu) AS ibb
  FROM (SELECT n, t, y, am, bm,
          cast(floor(1e6 * exp(cast(am + bm * t AS DOUBLE) / 1e6) + 0.5)
            AS BIGINT) AS mu
        FROM {prev}) GROUP BY 1, 2, 3
),
coef{i} AS (
  SELECT n,
         cast(floor(cast(am AS DOUBLE) + {da} + 0.5) AS BIGINT) AS am,
         cast(floor(cast(bm AS DOUBLE) + {db} + 0.5) AS BIGINT) AS bm
  FROM red{i}
),
it{i} AS (
  SELECT b.n, b.t, b.y, c.am, c.bm
  FROM base b JOIN coef{i} c ON b.n = c.n
)"""
        prev = f"it{i}"
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d, count(*)::BIGINT AS y
  FROM events WHERE event_type = 'error' GROUP BY 1
),
sp AS (
  SELECT count(*)::BIGINT AS n, min(d)::BIGINT AS d0, sum(y)::BIGINT AS sy
  FROM daily
),{steps},
gof AS (
  SELECT n, am, bm, sum(y)::BIGINT AS ty, sum(mu)::BIGINT AS tmu,
         sum(CASE WHEN y > 0 THEN cast(floor(1e9 * cast(y AS DOUBLE)
             * ln(cast(y AS DOUBLE) * 1e6 / cast(mu AS DOUBLE)) + 0.5)
             AS BIGINT) ELSE 0 END)::BIGINT AS tdv,
         sum(cast(floor(1e9 * (cast(y AS DOUBLE) - cast(mu AS DOUBLE)
             / 1e6) * (cast(y AS DOUBLE) - cast(mu AS DOUBLE) / 1e6)
             / (cast(mu AS DOUBLE) / 1e6) + 0.5) AS BIGINT))::BIGINT
           AS tpx
  FROM (SELECT n, am, bm, y,
          cast(floor(1e6 * exp(cast(am + bm * t AS DOUBLE) / 1e6) + 0.5)
            AS BIGINT) AS mu
        FROM {prev}) GROUP BY 1, 2, 3
)
SELECT n AS n_days, am AS a_micro, bm AS b_micro,
       cast(floor(1e3 * (2.0 * (cast(tdv AS DOUBLE) / 1e9
         - (cast(ty AS DOUBLE) - cast(tmu AS DOUBLE) / 1e6))) + 0.5)
         AS BIGINT) AS deviance_milli,
       cast(floor(1e3 * cast(tpx AS DOUBLE) / 1e9 + 0.5) AS BIGINT)
         AS pearson_milli
FROM gof
"""


# --------------------------------------------------------------------------
# Grouped-binomial logistic regression by IRLS (X7 [EXT])
# --------------------------------------------------------------------------


def q_logistic_irls_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 logistic regression of the 'purchase' indicator on the
    value covariate, GROUPED to the centi cell frame (cells carry
    (trials n_c, successes y_c) — the standard grouped-binomial IRLS,
    so the corpus never re-enters the Newton loop): p = σ(a + b·x)
    with x = vc/100 value units; 4 unrolled steps from
    a = ln(p̄/(1-p̄)), b = 0; σ snapped micro per cell per step.
    Output one row: n, n_pos, a_micro, b_milli (slope per value
    unit, milli)."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
            F.expr("cast(event_type = 'purchase' as bigint)").alias("yy"),
        )
        .groupBy("vc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nc"),
            F.sum("yy").cast("bigint").alias("yc"),
        )
    )
    cells = barrier(cells)  # K+1 passes
    tot = cells.agg(
        F.sum("nc").cast("bigint").alias("n"),
        F.sum("yc").cast("bigint").alias("n_pos"),
    )
    base = cells.crossJoin(F.broadcast(tot)).selectExpr(
        "n", "n_pos", "vc", "nc", "yc",
        "cast(floor(1e6 * ln(cast(n_pos as double)"
        " / cast(n - n_pos as double)) + 0.5) as bigint) AS am",
        "cast(0 as bigint) AS bqm",  # b in micro per value unit
    )
    # z = a + b*x with x = vc/100: z_micro = am + bqm*vc div 100 is
    # inexact; instead carry z in double: (am + bqm * vc / 100) / 1e6
    zexp = "(cast(am as double) + cast(bqm as double) * cast(vc as double) / 100.0D) / 1e6"
    cur = base
    for _ in range(_IRLS_STEPS):
        red = (
            cur.selectExpr(
                "n", "n_pos", "vc", "nc", "yc", "am", "bqm",
                f"cast(floor(1e6 / (1.0D + exp(-({zexp}))) + 0.5)"
                " as bigint) AS pm",
            )
            .selectExpr(
                "n", "n_pos", "am", "bqm", "vc", "nc", "yc", "pm",
                # x in CENTI units to keep integer moments exact:
                # x = vc/100 -> carry vc and divide at solve time
                "yc * 1000000 - nc * pm AS u",  # micro score per cell
                "cast(floor(cast(nc as double) * cast(pm as double)"
                " * (1e6 - cast(pm as double)) / 1e6 + 0.5) as bigint)"
                " AS w",  # micro weight n p (1-p)
            )
            .groupBy("n", "n_pos", "am", "bqm")
            .agg(
                F.sum("u").cast("bigint").alias("ua"),
                F.sum(F.expr(f"{_DEC.format(x='vc')} * u")).alias("ubc"),
                F.sum("w").cast("bigint").alias("iaa"),
                F.sum(F.expr(f"{_DEC.format(x='vc')} * w")).alias("iabc"),
                F.sum(F.expr(f"{_DEC.format(x='vc * vc')} * w")).alias(
                    "ibbc"
                ),
            )
        )
        # scale centi moments to value units: ub = ubc/100, iab = iabc/100,
        # ibb = ibbc/10000
        det = (
            "(cast(iaa as double) * (cast(ibbc as double) / 1e4)"
            " - (cast(iabc as double) / 1e2)"
            " * (cast(iabc as double) / 1e2))"
        )
        da = (
            f"(((cast(ibbc as double) / 1e4) * cast(ua as double)"
            f" - (cast(iabc as double) / 1e2)"
            f" * (cast(ubc as double) / 1e2)) / {det})"
        )
        db = (
            f"((cast(iaa as double) * (cast(ubc as double) / 1e2)"
            f" - (cast(iabc as double) / 1e2) * cast(ua as double))"
            f" / {det})"
        )
        coef = red.selectExpr(
            "n",
            "n_pos",
            f"cast(floor(cast(am as double) + {da} + 0.5) as bigint) AS am",
            f"cast(floor(cast(bqm as double) + {db} + 0.5) as bigint)"
            " AS bqm",
        )
        cur = base.selectExpr("vc", "nc", "yc", "n AS nk").join(
            F.broadcast(coef.withColumnRenamed("n", "nk")), "nk"
        ).selectExpr("nk AS n", "n_pos", "vc", "nc", "yc", "am", "bqm")
    return (
        cur.groupBy("n", "n_pos", "am", "bqm")
        .agg(F.count(F.lit(1)).alias("_k"))
        .selectExpr(
            "n",
            "n_pos",
            "am AS a_micro",
            "cast(floor(cast(bqm as double) / 1e3 + 0.5) as bigint)"
            " AS b_milli",
        )
    )


def _oracle_logistic() -> str:
    zexp = (
        "(cast(am AS DOUBLE) + cast(bqm AS DOUBLE) * cast(vc AS DOUBLE)"
        " / 100.0) / 1e6"
    )
    det = (
        "(cast(iaa AS DOUBLE) * (cast(ibbc AS DOUBLE) / 1e4)"
        " - (cast(iabc AS DOUBLE) / 1e2) * (cast(iabc AS DOUBLE) / 1e2))"
    )
    da = (
        f"(((cast(ibbc AS DOUBLE) / 1e4) * cast(ua AS DOUBLE)"
        f" - (cast(iabc AS DOUBLE) / 1e2) * (cast(ubc AS DOUBLE) / 1e2))"
        f" / {det})"
    )
    db = (
        f"((cast(iaa AS DOUBLE) * (cast(ubc AS DOUBLE) / 1e2)"
        f" - (cast(iabc AS DOUBLE) / 1e2) * cast(ua AS DOUBLE)) / {det})"
    )
    steps = """
base AS (
  SELECT t.n, t.n_pos, c.vc, c.nc, c.yc,
         cast(floor(1e6 * ln(cast(t.n_pos AS DOUBLE)
           / cast(t.n - t.n_pos AS DOUBLE)) + 0.5) AS BIGINT) AS am,
         0::BIGINT AS bqm
  FROM cells c, tot t
)"""
    prev = "base"
    for i in range(_IRLS_STEPS):
        steps += f""",
red{i} AS (
  SELECT n, n_pos, am, bqm,
         sum(u)::BIGINT AS ua, sum(vc::HUGEINT * u) AS ubc,
         sum(w)::BIGINT AS iaa, sum(vc::HUGEINT * w) AS iabc,
         sum((vc * vc)::HUGEINT * w) AS ibbc
  FROM (SELECT n, n_pos, am, bqm, vc,
          yc * 1000000 - nc * pm AS u,
          cast(floor(cast(nc AS DOUBLE) * cast(pm AS DOUBLE)
            * (1e6 - cast(pm AS DOUBLE)) / 1e6 + 0.5) AS BIGINT) AS w
        FROM (SELECT n, n_pos, vc, nc, yc, am, bqm,
                cast(floor(1e6 / (1.0 + exp(-({zexp}))) + 0.5) AS BIGINT)
                  AS pm
              FROM {prev})) GROUP BY 1, 2, 3, 4
),
coef{i} AS (
  SELECT n, n_pos,
         cast(floor(cast(am AS DOUBLE) + {da} + 0.5) AS BIGINT) AS am,
         cast(floor(cast(bqm AS DOUBLE) + {db} + 0.5) AS BIGINT) AS bqm
  FROM red{i}
),
it{i} AS (
  SELECT b.n, b.n_pos, b.vc, b.nc, b.yc, c.am, c.bqm
  FROM base b JOIN coef{i} c ON b.n = c.n
)"""
        prev = f"it{i}"
    return f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS nc,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             END)::BIGINT AS yc
  FROM events GROUP BY 1
),
tot AS (
  SELECT sum(nc)::BIGINT AS n, sum(yc)::BIGINT AS n_pos FROM cells
),{steps}
SELECT n, n_pos, am AS a_micro,
       cast(floor(cast(bqm AS DOUBLE) / 1e3 + 0.5) AS BIGINT) AS b_milli
FROM {prev} GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# Panel between estimator (X7 [EXT])
# --------------------------------------------------------------------------


def q_between_estimator_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the panel BETWEEN estimator: OLS of the per-user MEAN
    value (micro-snapped) on the per-user MEAN hour-of-day
    (micro-snapped) — the cross-sectional complement of
    fe_within_estimator (registry_ext140); together they bracket the
    pooled OLS. Exact integer moments on the snapped user means.
    Output one row: k_users, b_micro_per_hour, se_micro, t_milli."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select(
            "user_id",
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("y"),
            F.expr(f"cast((unix_micros(ts) div {_HOUR_US}) % 24 as bigint)")
            .alias("h"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "cast(floor(cast(sum(y) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("ym"),
            F.expr(
                "cast(floor(1e6 * cast(sum(h) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("xm"),  # mean hour in micro-hours
        )
    )
    m = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("xm").cast("bigint").alias("sx"),
        F.sum(F.expr(f"{_DEC.format(x='xm')} * xm")).alias("sxx"),
        F.sum("ym").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='xm')} * ym")).alias("sxy"),
        F.sum(F.expr(f"{_DEC.format(x='ym')} * ym")).alias("syy"),
    )
    kk = "cast(k as double)"
    cxx = f"({kk} * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    cxy = f"({kk} * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
    cyy = f"({kk} * cast(syy as double) - cast(sy as double) * cast(sy as double))"
    # x in micro-hours, y in micro-value: slope per hour = cxy/cxx * 1e6
    b = f"({cxy} / {cxx} * 1e6)"
    sse = f"(({cyy} - {cxy} * {cxy} / {cxx}) / {kk})"
    se = f"(sqrt({sse} / ({kk} - 2.0D) / ({cxx} / {kk})) * 1e6)"
    return m.selectExpr(
        "k AS k_users",
        f"cast(floor({b} + 0.5) as bigint) AS b_micro_per_hour",
        f"cast(floor({se} + 0.5) as bigint) AS se_micro",
        f"cast(floor(1e3 * {b} / {se} + 0.5) as bigint) AS t_milli",
    )


_ORACLE_BETWEEN = f"""
WITH per AS (
  SELECT user_id,
         cast(floor(cast(sum(y) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS ym,
         cast(floor(1e6 * cast(sum(h) AS DOUBLE) / count(*) + 0.5)
           AS BIGINT) AS xm
  FROM (SELECT user_id,
          cast(floor(value * 1e6 + 0.5) AS BIGINT) AS y,
          cast((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS h
        FROM events) GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS k, sum(xm)::BIGINT AS sx,
         sum(xm::HUGEINT * xm) AS sxx, sum(ym)::BIGINT AS sy,
         sum(xm::HUGEINT * ym) AS sxy, sum(ym::HUGEINT * ym) AS syy
  FROM per
)
SELECT k AS k_users,
       cast(floor(((cast(k AS DOUBLE) * cast(sxy AS DOUBLE)
         - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
         / (cast(k AS DOUBLE) * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
         * cast(sx AS DOUBLE)) * 1e6) + 0.5) AS BIGINT)
         AS b_micro_per_hour,
       cast(floor((sqrt((((cast(k AS DOUBLE) * cast(syy AS DOUBLE)
           - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))
           - (cast(k AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sy AS DOUBLE)) * (cast(k AS DOUBLE)
             * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sy AS DOUBLE)) / (cast(k AS DOUBLE)
             * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sx AS DOUBLE))) / cast(k AS DOUBLE))
           / (cast(k AS DOUBLE) - 2.0) / ((cast(k AS DOUBLE)
           * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
           * cast(sx AS DOUBLE)) / cast(k AS DOUBLE))) * 1e6) + 0.5)
         AS BIGINT) AS se_micro,
       cast(floor(1e3 * ((cast(k AS DOUBLE) * cast(sxy AS DOUBLE)
         - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
         / (cast(k AS DOUBLE) * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
         * cast(sx AS DOUBLE)) * 1e6)
         / (sqrt((((cast(k AS DOUBLE) * cast(syy AS DOUBLE)
           - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))
           - (cast(k AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sy AS DOUBLE)) * (cast(k AS DOUBLE)
             * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sy AS DOUBLE)) / (cast(k AS DOUBLE)
             * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sx AS DOUBLE))) / cast(k AS DOUBLE))
           / (cast(k AS DOUBLE) - 2.0) / ((cast(k AS DOUBLE)
           * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
           * cast(sx AS DOUBLE)) / cast(k AS DOUBLE))) * 1e6) + 0.5)
         AS BIGINT) AS t_milli
FROM m
"""


# --------------------------------------------------------------------------
# First-difference estimator (X7 [EXT])
# --------------------------------------------------------------------------


def q_first_difference_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the first-difference panel estimator: within each user,
    difference consecutive OBSERVED days' (mean value, mean hour)
    cells and fit the through-origin OLS Δy = b·Δx — differences kill
    the user fixed effect exactly, the FD alternative to the within
    transform (fe_within_estimator). The lag is a per-user partitioned
    window. Output one row: n_pairs, b_micro_per_hour, se_micro."""
    e = _t(spark, sf_dir, "events")
    cell = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("y"),
            F.expr(f"cast((unix_micros(ts) div {_HOUR_US}) % 24 as bigint)")
            .alias("h"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(y) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("ym"),
            F.expr(
                "cast(floor(1e6 * cast(sum(h) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("xm"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    fd = (
        cell.select(
            "user_id",
            (F.col("ym") - F.lag("ym", 1).over(w)).alias("dy"),
            (F.col("xm") - F.lag("xm", 1).over(w)).alias("dx"),
        )
        .filter("dy IS NOT NULL")
    )
    m = fd.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.expr(f"{_DEC.format(x='dx')} * dx")).alias("sxx"),
        F.sum(F.expr(f"{_DEC.format(x='dx')} * dy")).alias("sxy"),
        F.sum(F.expr(f"{_DEC.format(x='dy')} * dy")).alias("syy"),
    )
    b = "(cast(sxy as double) / cast(sxx as double) * 1e6)"
    sse = (
        "((cast(syy as double) - cast(sxy as double) * cast(sxy as double)"
        " / cast(sxx as double)))"
    )
    se = (
        f"(sqrt({sse} / (cast(np as double) - 1.0D)"
        f" / cast(sxx as double)) * 1e6)"
    )
    return m.selectExpr(
        "np AS n_pairs",
        f"cast(floor({b} + 0.5) as bigint) AS b_micro_per_hour",
        f"cast(floor({se} + 0.5) as bigint) AS se_micro",
    )


_ORACLE_FD = f"""
WITH cell AS (
  SELECT user_id, d,
         cast(floor(cast(sum(y) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS ym,
         cast(floor(1e6 * cast(sum(h) AS DOUBLE) / count(*) + 0.5)
           AS BIGINT) AS xm
  FROM (SELECT user_id, epoch_us(ts) // {_DAY_US} AS d,
          cast(floor(value * 1e6 + 0.5) AS BIGINT) AS y,
          cast((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS h
        FROM events) GROUP BY 1, 2
),
fd AS (
  SELECT user_id, ym - lag(ym) OVER (PARTITION BY user_id ORDER BY d)
           AS dy,
         xm - lag(xm) OVER (PARTITION BY user_id ORDER BY d) AS dx
  FROM cell
),
m AS (
  SELECT count(*)::BIGINT AS np, sum(dx::HUGEINT * dx) AS sxx,
         sum(dx::HUGEINT * dy) AS sxy, sum(dy::HUGEINT * dy) AS syy
  FROM fd WHERE dy IS NOT NULL
)
SELECT np AS n_pairs,
       cast(floor((cast(sxy AS DOUBLE) / cast(sxx AS DOUBLE) * 1e6) + 0.5)
         AS BIGINT) AS b_micro_per_hour,
       cast(floor((sqrt(((cast(syy AS DOUBLE) - cast(sxy AS DOUBLE)
         * cast(sxy AS DOUBLE) / cast(sxx AS DOUBLE)))
         / (cast(np AS DOUBLE) - 1.0) / cast(sxx AS DOUBLE)) * 1e6) + 0.5)
         AS BIGINT) AS se_micro
FROM m
"""


REGISTRY_EXT147: dict[str, QuerySpec] = {
    "poisson_irls_trend": QuerySpec(
        q_poisson_irls_trend, _oracle_poisson(), "X7 [EXT] Poisson IRLS"
    ),
    "logistic_irls_value": QuerySpec(
        q_logistic_irls_value, _oracle_logistic(), "X7 [EXT] logistic IRLS"
    ),
    "between_estimator_panel": QuerySpec(
        q_between_estimator_panel, _ORACLE_BETWEEN, "X7 [EXT] between est."
    ),
    "first_difference_estimator": QuerySpec(
        q_first_difference_estimator, _ORACLE_FD, "X7 [EXT] first diff"
    ),
}
