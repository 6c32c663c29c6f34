"""Wave 130 [EXT]: survival-analysis completers — restricted mean
survival time (RMST) per cohort, a one-covariate Cox proportional-hazards
fit by unrolled Newton-Raphson on the partial likelihood, the
Aalen-Johansen cumulative incidence function under competing risks, and a
Schoenfeld-style proportional-hazards trend check. Together with the
shipped kaplan_meier_curve / nelson_aalen_hazard / log_rank_survival /
gehan_breslow_wilcoxon these complete the standard survival toolkit.

Scale notes (the 100x question, per query):
- All four reduce the corpus map-side to one row per USER (first event /
  first cause event / last event), then to one row per DURATION DAY — a
  calendar-bounded frame. Risk sets are suffix walks over that day spine
  (the sanctioned log_rank_survival cell-walk category).
- rmst_survival: KM survival comes from a prefix sum of micro-snapped
  ln(1 - d/n) terms (exp applied once per day cell, snapped immediately
  per the platt_calibration_newton rule); RMST is the interval-width
  weighted sum of the step function — one more windowed projection over
  the same bounded spine, grouped per cohort (partitioned windows).
- cox_ph_newton_1cov: with a BINARY covariate the partial-likelihood
  score and information collapse to per-day (n0, n1, d1, dt) cells:
  S0 = n0 + n1*e^b, S1 = S2 = n1*e^b. Each of the {k} Newton steps is
  one aggregate over the checkpointed day-cell frame (~tens of rows at
  ANY corpus size); e^b and b micro-snap after every step so both
  engines walk the identical parameter sequence. log_rank_survival is
  exactly this model's score test at b=0.
- aalen_johansen_cif: the all-cause KM prefix product (exclusive walk
  gives S(t-)) times the per-cause hazard d_k/n per day; the 3-point tau
  grid is a literal cross join against the bounded day frame.
- schoenfeld_ph_check: day-level mean Schoenfeld residuals at b=0
  correlated with time — exact integer moment sums over event days; the
  z uses the normal approximation (documented, day count >> 2).

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_EVENT = "purchase"  # same time-to-first-purchase framing as log_rank
_CIF_EVENT2 = "signup"  # competing cause for Aalen-Johansen
_RMST_TAU = 30  # restriction horizon (days)
_CIF_TAUS = (7, 14, 30)
_COX_ITERS = 4
#: ln term for a day that empties the risk set: exp(-1e6) underflows to
#: exactly 0.0 in IEEE double on both engines (the Kaplan-Meier ln(0)
#: special case from the KM gotcha).
_LN_DEAD = -1_000_000_000_000


def _per_user_tte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per user: cohort g1 (even user_id), duration t (days from
    first event to first '{ev}', censored at last event), event flag —
    the exact log_rank_survival framing (registry_ext118.py:60)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.when(
                F.col("event_type") == _EVENT,
                F.expr(f"unix_micros(ts) div {_DAY_US}"),
            ).alias("pd"),
        )
        .groupBy("user_id")
        .agg(
            F.min("d").alias("d0"),
            F.min("pd").alias("dp"),
            F.max("d").alias("dl"),
        )
        .select(
            (F.col("user_id") % 2 == 0).cast("int").alias("g1"),
            F.when(F.col("dp").isNotNull(), F.col("dp") - F.col("d0"))
            .otherwise(F.col("dl") - F.col("d0"))
            .cast("bigint")
            .alias("t"),
            F.col("dp").isNotNull().cast("int").alias("ev"),
        )
    )


_SQL_PER_USER = f"""
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
         (CASE WHEN min(CASE WHEN event_type = '{_EVENT}'
                  THEN epoch_us(ts) // {_DAY_US} END) IS NOT NULL
           THEN min(CASE WHEN event_type = '{_EVENT}'
                    THEN epoch_us(ts) // {_DAY_US} END)
                - min(epoch_us(ts) // {_DAY_US})
           ELSE max(epoch_us(ts) // {_DAY_US})
                - min(epoch_us(ts) // {_DAY_US}) END)::BIGINT AS t,
         CASE WHEN min(CASE WHEN event_type = '{_EVENT}'
                  THEN epoch_us(ts) // {_DAY_US} END) IS NOT NULL
           THEN 1 ELSE 0 END AS ev
  FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Restricted mean survival time per cohort (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 restricted mean survival time (Royston & Parmar 2013;
    Uno et al. 2014): RMST(tau={tau}) = integral of the Kaplan-Meier
    curve over [0, tau] per cohort — the "days of {ev}-free time in the
    first {tau}" summary recommended when proportional hazards fails
    (the assumption schoenfeld_ph_check tests). The KM step function
    integrates exactly: sum over event days of (interval width clamped
    to tau) * S(t), plus the head interval [0, t_min) at S=1. ln terms
    are micro-snapped before the prefix sum, exp is snapped immediately
    (platt rule), and a day that empties the risk set gets ln-term
    {dead} (exp underflows to exactly 0.0 in both engines — the KM
    ln(0) case). Output per cohort: g1, n_users, events, km_tau_micro,
    rmst_micro (micro-days)."""
    per_user = _per_user_tte(spark, sf_dir)
    cells = per_user.groupBy("g1", "t").agg(
        F.sum("ev").cast("bigint").alias("dt"),
        F.count(F.lit(1)).cast("bigint").alias("at"),
    )
    wd = Window.partitionBy("g1").orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = cells.select(
        "g1", "t", "dt", F.sum("at").over(wd).cast("bigint").alias("nt")
    )
    lnm = (
        "if(dt = 0, 0L, if(dt >= nt, {dead}L,"
        " cast(floor(1e6 * ln(1.0 - cast(dt as double) / cast(nt as double))"
        " + 0.5) as bigint)))"
    ).format(dead=_LN_DEAD)
    wa = Window.partitionBy("g1").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wlead = Window.partitionBy("g1").orderBy("t")
    walked = (
        risk.withColumn("ln_t", F.expr(lnm))
        .select(
            "g1",
            "t",
            "dt",
            "nt",
            F.sum("ln_t").over(wa).cast("bigint").alias("lns"),
            F.lead("t", 1, _RMST_TAU).over(wlead).alias("tn"),
            F.lag("t").over(wlead).alias("tp"),
        )
        .select(
            "g1",
            "dt",
            "nt",
            "t",
            F.expr(
                "cast(floor(1e6 * exp(cast(lns as double) / 1e6) + 0.5)"
                " as bigint)"
            ).alias("sm"),
            F.expr(
                f"greatest(least(tn, {_RMST_TAU}L) - least(t, {_RMST_TAU}L), 0L)"
            ).alias("width"),
            F.expr(
                f"if(tp is null, least(t, {_RMST_TAU}L), 0L)"
            ).alias("head"),
        )
    )
    return (
        walked.groupBy("g1")
        .agg(
            F.max("nt").cast("bigint").alias("n_users"),
            F.sum("dt").cast("bigint").alias("events"),
            F.min(F.expr(f"if(t <= {_RMST_TAU}L, sm, 1000000L)"))
            .cast("bigint")
            .alias("km_tau_micro"),
            (
                F.sum(F.expr("head * 1000000L + width * sm"))
            )
            .cast("bigint")
            .alias("rmst_micro"),
        )
        .selectExpr(
            "cast(g1 as int) AS g1",
            "n_users",
            "events",
            "km_tau_micro",
            "rmst_micro",
        )
        .orderBy("g1")
    )


_ORACLE_RMST = f"""
WITH per_user AS ({_SQL_PER_USER}),
cells AS (
  SELECT g1, t, sum(ev)::BIGINT AS dt, count(*)::BIGINT AS at
  FROM per_user GROUP BY 1, 2
),
risk AS (
  SELECT g1, t, dt,
         sum(at) OVER (PARTITION BY g1 ORDER BY t DESC)::BIGINT AS nt
  FROM cells
),
walked AS (
  SELECT g1, dt, nt, t,
         cast(floor(1e6 * exp(cast(sum(CASE WHEN dt = 0 THEN 0
               WHEN dt >= nt THEN {_LN_DEAD}
               ELSE cast(floor(1e6 * ln(1.0 - cast(dt AS DOUBLE)
                    / cast(nt AS DOUBLE)) + 0.5) AS BIGINT) END)
               OVER (PARTITION BY g1 ORDER BY t) AS DOUBLE) / 1e6) + 0.5)
           AS BIGINT) AS sm,
         greatest(least(coalesce(lead(t) OVER (PARTITION BY g1 ORDER BY t),
                                 {_RMST_TAU}), {_RMST_TAU})
                  - least(t, {_RMST_TAU}), 0)::BIGINT AS width,
         CASE WHEN lag(t) OVER (PARTITION BY g1 ORDER BY t) IS NULL
              THEN least(t, {_RMST_TAU}) ELSE 0 END::BIGINT AS head
  FROM risk
)
SELECT cast(g1 AS INT) AS g1, max(nt)::BIGINT AS n_users,
       sum(dt)::BIGINT AS events,
       min(CASE WHEN t <= {_RMST_TAU} THEN sm ELSE 1000000 END)::BIGINT
         AS km_tau_micro,
       sum(head * 1000000 + width * sm)::BIGINT AS rmst_micro
FROM walked GROUP BY g1 ORDER BY g1
"""


# --------------------------------------------------------------------------
# Cox proportional hazards, one binary covariate, Newton (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_cox_ph_newton_1cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Cox (1972) proportional-hazards fit for the binary
    cohort covariate x = (user_id even), Breslow tie handling, by {k}
    unrolled Newton-Raphson steps on the partial likelihood. With a
    binary covariate the risk-set sums collapse per duration day to
    S0 = n0 + n1*e^b, S1 = S2 = n1*e^b, so the score
    U = sum_t (d1t - dt*S1/S0) and information
    I = sum_t dt*(S1/S0)*(1 - S1/S0) are aggregates over the bounded
    day-cell frame; e^b micro-snaps each step (platt rule) and b
    micro-snaps after each update, so both engines walk the identical
    parameter sequence. log_rank_survival is this model's score test at
    b=0; the fitted hazard ratio e^b is the effect size it only signs.
    Output one row: n_users, events, beta_micro, hr_micro, se_milli,
    z_milli."""
    per_user = _per_user_tte(spark, sf_dir)
    cells = per_user.groupBy("t").agg(
        F.sum(F.expr("ev * g1")).cast("bigint").alias("d1"),
        F.sum("ev").cast("bigint").alias("dt"),
        F.sum("g1").cast("bigint").alias("a1"),
        F.count(F.lit(1)).cast("bigint").alias("at"),
    )
    wd = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = (
        cells.select(
            "d1",
            "dt",
            F.sum("a1").over(wd).cast("bigint").alias("n1"),
            F.sum("at").over(wd).cast("bigint").alias("nt"),
        )
        .filter("dt > 0 and nt > 1")
        .select("d1", "dt", "n1", F.expr("nt - n1").alias("n0"), "nt")
    )
    risk = barrier(risk)  # K+1 passes over ~60 rows
    # p = S1/S0 with e^b snapped micro; per-day U/I terms snapped micro
    p = (
        "(cast(n1 as double) * eb / (cast(n0 as double)"
        " + cast(n1 as double) * eb))"
    )
    beta = risk.sparkSession.range(1).selectExpr("0.0 as b")
    for _ in range(_COX_ITERS):
        agg = (
            risk.crossJoin(F.broadcast(beta))
            .selectExpr(
                "*",
                "cast(cast(floor(1e6 * exp(b) + 0.5) as bigint) as double)"
                " / 1e6 as eb",
            )
            .selectExpr(
                "b",
                f"cast(floor(1e6 * (cast(d1 as double) - dt * {p}) + 0.5)"
                " as bigint) as u_t",
                f"cast(floor(1e6 * dt * {p} * (1.0 - {p}) + 0.5)"
                " as bigint) as i_t",
            )
            .groupBy("b")
            .agg(
                F.sum("u_t").cast("bigint").alias("u"),
                F.sum("i_t").cast("bigint").alias("i"),
            )
        )
        beta = agg.selectExpr(
            "cast(cast(floor(1e6 * (b + cast(u as double) / cast(i as double))"
            " + 0.5) as bigint) as double) / 1e6 as b"
        )
    fit = (
        risk.crossJoin(F.broadcast(beta))
        .selectExpr(
            "*",
            "cast(cast(floor(1e6 * exp(b) + 0.5) as bigint) as double)"
            " / 1e6 as eb",
        )
        .selectExpr(
            "b",
            "nt",
            "dt",
            f"cast(floor(1e6 * dt * {p} * (1.0 - {p}) + 0.5)"
            " as bigint) as i_t",
        )
        .groupBy("b")
        .agg(
            F.max("nt").cast("bigint").alias("n_users"),
            F.sum("dt").cast("bigint").alias("events"),
            F.sum("i_t").cast("bigint").alias("i"),
        )
    )
    se = "(1.0 / sqrt(cast(i as double) / 1e6))"
    return fit.selectExpr(
        "n_users",
        "events",
        "cast(floor(1e6 * b + 0.5) as bigint) AS beta_micro",
        "cast(floor(1e6 * exp(b) + 0.5) as bigint) AS hr_micro",
        f"cast(floor(1e3 * {se} + 0.5) as bigint) AS se_milli",
        f"cast(floor(1e3 * b / {se} + 0.5) as bigint) AS z_milli",
    )


def _oracle_cox() -> str:
    p = (
        "(cast(n1 AS DOUBLE) * eb / (cast(n0 AS DOUBLE)"
        " + cast(n1 AS DOUBLE) * eb))"
    )
    step = f"""
,agg{{k}} AS (
  SELECT b, sum(cast(floor(1e6 * (cast(d1 AS DOUBLE) - dt * {p}) + 0.5)
             AS BIGINT)) AS u,
         sum(cast(floor(1e6 * dt * {p} * (1.0 - {p}) + 0.5) AS BIGINT)) AS i
  FROM (SELECT r.*, p0.b,
               cast(cast(floor(1e6 * exp(p0.b) + 0.5) AS BIGINT) AS DOUBLE)
                 / 1e6 AS eb
        FROM risk r CROSS JOIN p{{k0}} p0)
  GROUP BY b
),
p{{k}} AS (
  SELECT cast(cast(floor(1e6 * (b + cast(u AS DOUBLE) / cast(i AS DOUBLE))
               + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS b
  FROM agg{{k}}
)"""
    steps = "".join(
        step.format(k=k, k0=k - 1) for k in range(1, _COX_ITERS + 1)
    )
    return f"""
WITH per_user AS ({_SQL_PER_USER}),
cells AS (
  SELECT t, sum(ev * g1)::BIGINT AS d1, sum(ev)::BIGINT AS dt,
         sum(g1)::BIGINT AS a1, count(*)::BIGINT AS at
  FROM per_user GROUP BY 1
),
risk AS (
  SELECT d1, dt, n1, nt - n1 AS n0, nt
  FROM (SELECT d1, dt,
               sum(a1) OVER (ORDER BY t DESC)::BIGINT AS n1,
               sum(at) OVER (ORDER BY t DESC)::BIGINT AS nt
        FROM cells)
  WHERE dt > 0 AND nt > 1
),
p0 AS (SELECT 0.0 AS b){steps}
SELECT max(nt)::BIGINT AS n_users, sum(dt)::BIGINT AS events,
       cast(floor(1e6 * b + 0.5) AS BIGINT) AS beta_micro,
       cast(floor(1e6 * exp(b) + 0.5) AS BIGINT) AS hr_micro,
       cast(floor(1e3 * (1.0 / sqrt(cast(sum(cast(floor(1e6 * dt * {p}
            * (1.0 - {p}) + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)) + 0.5)
            AS BIGINT) AS se_milli,
       cast(floor(1e3 * b / (1.0 / sqrt(cast(sum(cast(floor(1e6 * dt * {p}
            * (1.0 - {p}) + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)) + 0.5)
            AS BIGINT) AS z_milli
FROM (SELECT r.*, pf.b,
             cast(cast(floor(1e6 * exp(pf.b) + 0.5) AS BIGINT) AS DOUBLE)
               / 1e6 AS eb
      FROM risk r CROSS JOIN p{_COX_ITERS} pf)
GROUP BY b
"""


# --------------------------------------------------------------------------
# Aalen-Johansen cumulative incidence under competing risks (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_aalen_johansen_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Aalen-Johansen (1978) cumulative incidence: users
    exit into the FIRST of two competing causes ('{e1}' vs '{e2}',
    day ties to '{e1}'), or are right-censored at their last event.
    CIF_k(tau) = sum over days t <= tau of S(t-) * d_kt / n_t with S
    the ALL-cause KM — 1 - KM of the combined event OVERSTATES each
    cause's risk, which is the error this estimator fixes. S(t-) is an
    EXCLUSIVE prefix sum of micro-snapped ln terms (exp snapped
    immediately). Output per tau: tau, n_users, cif_{e1}_micro,
    cif_{e2}_micro (the two CIFs sum to at most 1 - S(tau))."""
    e = _t(spark, sf_dir, "events")
    per_user = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.when(
                F.col("event_type") == _EVENT,
                F.expr(f"unix_micros(ts) div {_DAY_US}"),
            ).alias("p1"),
            F.when(
                F.col("event_type") == _CIF_EVENT2,
                F.expr(f"unix_micros(ts) div {_DAY_US}"),
            ).alias("p2"),
        )
        .groupBy("user_id")
        .agg(
            F.min("d").alias("d0"),
            F.min("p1").alias("dp1"),
            F.min("p2").alias("dp2"),
            F.max("d").alias("dl"),
        )
        .selectExpr(
            "CASE WHEN dp1 IS NOT NULL AND (dp2 IS NULL OR dp1 <= dp2)"
            " THEN 1 WHEN dp2 IS NOT NULL THEN 2 ELSE 0 END AS cause",
            "cast(CASE WHEN dp1 IS NOT NULL AND (dp2 IS NULL OR dp1 <= dp2)"
            " THEN dp1 - d0 WHEN dp2 IS NOT NULL THEN dp2 - d0"
            " ELSE dl - d0 END as bigint) AS t",
        )
    )
    cells = per_user.groupBy("t").agg(
        F.sum(F.expr("cast(cause = 1 as int)")).cast("bigint").alias("dc1"),
        F.sum(F.expr("cast(cause = 2 as int)")).cast("bigint").alias("dc2"),
        F.count(F.lit(1)).cast("bigint").alias("at"),
    )
    wd = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = cells.select(
        "t",
        "dc1",
        "dc2",
        F.expr("dc1 + dc2").alias("dt"),
        F.sum("at").over(wd).cast("bigint").alias("nt"),
    )
    lnm = (
        "if(dt = 0, 0L, if(dt >= nt, {dead}L,"
        " cast(floor(1e6 * ln(1.0 - cast(dt as double) / cast(nt as double))"
        " + 0.5) as bigint)))"
    ).format(dead=_LN_DEAD)
    wexcl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    walked = (
        risk.withColumn("ln_t", F.expr(lnm))
        .select(
            "t",
            "dc1",
            "dc2",
            "nt",
            F.coalesce(F.sum("ln_t").over(wexcl), F.lit(0))
            .cast("bigint")
            .alias("lns_prev"),
        )
        .select(
            "t",
            "nt",
            F.expr(
                "cast(floor(1e6 * exp(cast(lns_prev as double) / 1e6) + 0.5)"
                " as bigint)"
            ).alias("sp"),
            "dc1",
            "dc2",
        )
        .select(
            "t",
            "nt",
            F.expr(
                "cast(floor(cast(sp as double) * dc1 / nt + 0.5) as bigint)"
            ).alias("t1"),
            F.expr(
                "cast(floor(cast(sp as double) * dc2 / nt + 0.5) as bigint)"
            ).alias("t2"),
        )
    )
    taus = ",".join(str(x) for x in _CIF_TAUS)
    grid = walked.select(
        "t", "nt", "t1", "t2", F.explode(F.expr(f"array({taus})")).alias("tau")
    )
    return (
        grid.groupBy("tau")
        .agg(
            F.max("nt").cast("bigint").alias("n_users"),
            F.sum(F.expr("if(t <= tau, t1, 0L)")).cast("bigint").alias("c1"),
            F.sum(F.expr("if(t <= tau, t2, 0L)")).cast("bigint").alias("c2"),
        )
        .selectExpr(
            "cast(tau as bigint) AS tau",
            "n_users",
            f"c1 AS cif_{_EVENT}_micro",
            f"c2 AS cif_{_CIF_EVENT2}_micro",
        )
        .orderBy("tau")
    )


_ORACLE_AJ = f"""
WITH per_user AS (
  SELECT CASE WHEN dp1 IS NOT NULL AND (dp2 IS NULL OR dp1 <= dp2) THEN 1
              WHEN dp2 IS NOT NULL THEN 2 ELSE 0 END AS cause,
         (CASE WHEN dp1 IS NOT NULL AND (dp2 IS NULL OR dp1 <= dp2)
               THEN dp1 - d0
               WHEN dp2 IS NOT NULL THEN dp2 - d0
               ELSE dl - d0 END)::BIGINT AS t
  FROM (
    SELECT min(epoch_us(ts) // {_DAY_US}) AS d0,
           min(CASE WHEN event_type = '{_EVENT}'
               THEN epoch_us(ts) // {_DAY_US} END) AS dp1,
           min(CASE WHEN event_type = '{_CIF_EVENT2}'
               THEN epoch_us(ts) // {_DAY_US} END) AS dp2,
           max(epoch_us(ts) // {_DAY_US}) AS dl
    FROM events GROUP BY user_id
  )
),
cells AS (
  SELECT t, sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)::BIGINT AS dc1,
         sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END)::BIGINT AS dc2,
         count(*)::BIGINT AS at
  FROM per_user GROUP BY 1
),
risk AS (
  SELECT t, dc1, dc2, dc1 + dc2 AS dt,
         sum(at) OVER (ORDER BY t DESC)::BIGINT AS nt
  FROM cells
),
walked AS (
  SELECT t, nt,
         cast(floor(cast(cast(floor(1e6 * exp(cast(coalesce(
               sum(CASE WHEN dt = 0 THEN 0 WHEN dt >= nt THEN {_LN_DEAD}
                   ELSE cast(floor(1e6 * ln(1.0 - cast(dt AS DOUBLE)
                        / cast(nt AS DOUBLE)) + 0.5) AS BIGINT) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS DOUBLE) / 1e6) + 0.5)
             AS BIGINT) AS DOUBLE) * dc1 / nt + 0.5) AS BIGINT) AS t1,
         cast(floor(cast(cast(floor(1e6 * exp(cast(coalesce(
               sum(CASE WHEN dt = 0 THEN 0 WHEN dt >= nt THEN {_LN_DEAD}
                   ELSE cast(floor(1e6 * ln(1.0 - cast(dt AS DOUBLE)
                        / cast(nt AS DOUBLE)) + 0.5) AS BIGINT) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS DOUBLE) / 1e6) + 0.5)
             AS BIGINT) AS DOUBLE) * dc2 / nt + 0.5) AS BIGINT) AS t2
  FROM risk
),
grid AS (
  SELECT w.t, w.nt, w.t1, w.t2, u.tau
  FROM walked w, unnest([{", ".join(str(x) for x in _CIF_TAUS)}]) AS u(tau)
)
SELECT cast(tau AS BIGINT) AS tau, max(nt)::BIGINT AS n_users,
       sum(CASE WHEN t <= tau THEN t1 ELSE 0 END)::BIGINT
         AS cif_{_EVENT}_micro,
       sum(CASE WHEN t <= tau THEN t2 ELSE 0 END)::BIGINT
         AS cif_{_CIF_EVENT2}_micro
FROM grid GROUP BY tau ORDER BY tau
"""


# --------------------------------------------------------------------------
# Schoenfeld-style proportional-hazards trend check (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_schoenfeld_ph_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 proportional-hazards check (Schoenfeld 1982; Grambsch
    & Therneau 1994 idea at b=0): the day-level mean Schoenfeld residual
    m_t = (d1t - dt*n1t/nt)/dt correlated with time. Under PH the
    cohort effect is constant, so residuals show NO time trend; a
    significant correlation says the hazard ratio drifts (and that
    rmst_survival, not the Cox HR, is the right summary). Residuals are
    micro-snapped; the Pearson moments over event days are exact
    integers; z = r*sqrt(D-3) Fisher normal approximation (day count
    >> 3 documented). Output one row: n_days, corr_milli, z_milli,
    reject_05."""
    per_user = _per_user_tte(spark, sf_dir)
    cells = per_user.groupBy("t").agg(
        F.sum(F.expr("ev * g1")).cast("bigint").alias("d1"),
        F.sum("ev").cast("bigint").alias("dt"),
        F.sum("g1").cast("bigint").alias("a1"),
        F.count(F.lit(1)).cast("bigint").alias("at"),
    )
    wd = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    resid = (
        cells.select(
            "t",
            "d1",
            "dt",
            F.sum("a1").over(wd).cast("bigint").alias("n1"),
            F.sum("at").over(wd).cast("bigint").alias("nt"),
        )
        .filter("dt > 0 and nt > 1")
        .select(
            "t",
            F.expr(
                "cast(floor(1e6 * (cast(d1 as double) / dt"
                " - cast(n1 as double) / nt) + 0.5) as bigint)"
            ).alias("m"),
        )
    )
    agg = resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.expr("t * t")).cast("bigint").alias("stt"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum(F.expr("cast(m as decimal(38,0)) * m")).alias("smm"),
        F.sum(F.expr("t * m")).cast("bigint").alias("stm"),
    )
    r = (
        "((cast(n as double) * stm - cast(st as double) * sm)"
        " / (sqrt(cast(n as double) * stt - cast(st as double) * st)"
        " * sqrt(cast(n as double) * cast(smm as double)"
        " - cast(sm as double) * sm)))"
    )
    z = f"({r} * sqrt(cast(n as double) - 3.0))"
    return agg.selectExpr(
        "n AS n_days",
        f"cast(floor(1e3 * {r} + 0.5) as bigint) AS corr_milli",
        f"cast(floor(1e3 * {z} + 0.5) as bigint) AS z_milli",
        f"abs({z}) > 1.959964 AS reject_05",
    )


_ORACLE_SCHOENFELD = f"""
WITH per_user AS ({_SQL_PER_USER}),
cells AS (
  SELECT t, sum(ev * g1)::BIGINT AS d1, sum(ev)::BIGINT AS dt,
         sum(g1)::BIGINT AS a1, count(*)::BIGINT AS at
  FROM per_user GROUP BY 1
),
resid AS (
  SELECT t, cast(floor(1e6 * (cast(d1 AS DOUBLE) / dt
              - cast(n1 AS DOUBLE) / nt) + 0.5) AS BIGINT) AS m
  FROM (SELECT t, d1, dt,
               sum(a1) OVER (ORDER BY t DESC)::BIGINT AS n1,
               sum(at) OVER (ORDER BY t DESC)::BIGINT AS nt
        FROM cells)
  WHERE dt > 0 AND nt > 1
),
agg AS (
  SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
         sum(t * t)::BIGINT AS stt, sum(m)::BIGINT AS sm,
         sum(m::HUGEINT * m) AS smm, sum(t * m)::BIGINT AS stm
  FROM resid
)
SELECT n AS n_days,
       cast(floor(1e3 * ((cast(n AS DOUBLE) * stm
            - cast(st AS DOUBLE) * sm)
            / (sqrt(cast(n AS DOUBLE) * stt - cast(st AS DOUBLE) * st)
               * sqrt(cast(n AS DOUBLE) * cast(smm AS DOUBLE)
                      - cast(sm AS DOUBLE) * sm))) + 0.5) AS BIGINT)
         AS corr_milli,
       cast(floor(1e3 * (((cast(n AS DOUBLE) * stm
            - cast(st AS DOUBLE) * sm)
            / (sqrt(cast(n AS DOUBLE) * stt - cast(st AS DOUBLE) * st)
               * sqrt(cast(n AS DOUBLE) * cast(smm AS DOUBLE)
                      - cast(sm AS DOUBLE) * sm)))
            * sqrt(cast(n AS DOUBLE) - 3.0)) + 0.5) AS BIGINT) AS z_milli,
       abs(((cast(n AS DOUBLE) * stm - cast(st AS DOUBLE) * sm)
            / (sqrt(cast(n AS DOUBLE) * stt - cast(st AS DOUBLE) * st)
               * sqrt(cast(n AS DOUBLE) * cast(smm AS DOUBLE)
                      - cast(sm AS DOUBLE) * sm)))
           * sqrt(cast(n AS DOUBLE) - 3.0)) > 1.959964 AS reject_05
FROM agg
"""


REGISTRY_EXT130: dict[str, QuerySpec] = {
    "rmst_survival": QuerySpec(
        q_rmst_survival, _ORACLE_RMST, "X7/X9 [EXT] RMST"
    ),
    "cox_ph_newton_1cov": QuerySpec(
        q_cox_ph_newton_1cov, _oracle_cox(), "X7/X9 [EXT] Cox PH Newton"
    ),
    "aalen_johansen_cif": QuerySpec(
        q_aalen_johansen_cif, _ORACLE_AJ, "X7/X9 [EXT] Aalen-Johansen CIF"
    ),
    "schoenfeld_ph_check": QuerySpec(
        q_schoenfeld_ph_check, _ORACLE_SCHOENFELD, "X7/X9 [EXT] PH check"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_rmst_survival.__doc__ = q_rmst_survival.__doc__.format(tau=_RMST_TAU, ev=_EVENT, dead=_LN_DEAD)  # noqa: E501
q_cox_ph_newton_1cov.__doc__ = q_cox_ph_newton_1cov.__doc__.format(k=_COX_ITERS)  # noqa: E501
q_aalen_johansen_cif.__doc__ = q_aalen_johansen_cif.__doc__.format(e1=_EVENT, e2=_CIF_EVENT2)  # noqa: E501
