"""Wave 144 [EXT]: survival-analysis completers — the Tarone-Ware
(1977) sqrt(n)-weighted log-rank, the Peto-Peto-Prentice survival-
weighted log-rank (the censoring-robust member of the family), the
classic actuarial (abridged) life table with half-interval censoring
exposure, and the Kaplan-Meier curve with Greenwood (1926) variance
and linear 95% CI. Companions of the shipped kaplan_meier_curve /
nelson_aalen_hazard / log_rank_survival / gehan_breslow_wilcoxon /
rmst_survival / aalen_johansen_cif (registry_ext63/118/127/130).

Cohort/duration convention (identical to log_rank_survival,
registry_ext118): duration = days from a user's first event to their
first 'purchase' (observed) or last event (right-censored); cohorts =
even/odd user key.

Scale notes (the 100x question, per query):
- every query reduces the corpus to per-user durations (map-side
  groupBy) and then to the calendar-bounded duration-DAY cell frame;
  risk sets are suffix walks and survival products are ln-prefix walks
  over that constant-size frame (the log_rank_survival sanction
  category) — nothing downstream of the first reduce scales with the
  corpus;
- sqrt weights are exact IEEE; ln terms snap nano before summation
  (the platt transcendental rule) so both engines add identical
  integers.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_EVENT = "purchase"
_WEEK_DAYS = 7


def _durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (g1 = even-key cohort, t = duration days, ev = observed)
    — the log_rank_survival frame (registry_ext118:60)."""
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


_SQL_DURATIONS = f"""
  SELECT cast(user_id % 2 = 0 AS INT) AS g1,
         cast(coalesce(dp - d0, dl - d0) AS BIGINT) AS t,
         cast(dp IS NOT NULL AS INT) AS ev
  FROM (
    SELECT user_id, min(epoch_us(ts) // {_DAY_US}) AS d0,
           min(CASE WHEN event_type = '{_EVENT}'
               THEN epoch_us(ts) // {_DAY_US} END) AS dp,
           max(epoch_us(ts) // {_DAY_US}) AS dl
    FROM events GROUP BY user_id
  )
"""


def _risk_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-day cell frame with suffix-sum risk sets:
    (t, d1, dt, n1, nt). Checkpointed (calendar-bounded)."""
    cells = (
        _durations(spark, sf_dir)
        .groupBy("t")
        .agg(
            F.sum(F.expr("ev * g1")).cast("bigint").alias("d1"),
            F.sum("ev").cast("bigint").alias("dt"),
            F.sum("g1").cast("bigint").alias("a1"),
            F.count(F.lit(1)).cast("bigint").alias("at"),
        )
    )
    cells = barrier(cells)  # bounded day-cell frame
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cells.select(
        "t",
        "d1",
        "dt",
        F.sum("a1").over(w).cast("bigint").alias("n1"),
        F.sum("at").over(w).cast("bigint").alias("nt"),
    )


_SQL_RISK_CELLS = f"""
durs AS ({_SQL_DURATIONS}),
cells AS (
  SELECT t, sum(ev * g1)::BIGINT AS d1, sum(ev)::BIGINT AS dt,
         sum(g1)::BIGINT AS a1, count(*)::BIGINT AS at
  FROM durs GROUP BY 1
),
risk AS (
  SELECT t, d1, dt,
         sum(a1) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n1,
         sum(at) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS nt
  FROM cells
)
"""


def _weighted_logrank(risk: DataFrame, w_expr: str, w2_expr: str) -> DataFrame:
    """Weighted log-rank z from per-day micro-snapped O-E and variance
    terms; w_expr/w2_expr are SQL over (t, d1, dt, n1, nt)."""
    live = "(dt > 0 AND nt > 1)"
    oe = (
        "(cast(d1 as double) - cast(dt as double) * cast(n1 as double)"
        " / cast(nt as double))"
    )
    v = (
        "(cast(dt as double) * (cast(n1 as double) / cast(nt as double))"
        " * (1.0D - cast(n1 as double) / cast(nt as double))"
        " * (cast(nt as double) - cast(dt as double))"
        " / (cast(nt as double) - 1.0D))"
    )
    terms = risk.selectExpr(
        f"if({live}, cast(floor(1e6 * ({w_expr}) * {oe} + 0.5) as bigint),"
        " cast(0 as bigint)) AS oem",
        f"if({live}, cast(floor(1e6 * ({w2_expr}) * {v} + 0.5) as bigint),"
        " cast(0 as bigint)) AS vm",
        "nt",
    )
    red = terms.agg(
        F.max("nt").cast("bigint").alias("n_users"),
        F.sum("oem").cast("bigint").alias("so"),
        F.sum("vm").cast("bigint").alias("sv"),
    )
    return red.selectExpr(
        "n_users",
        "so AS oe_micro",
        "sv AS v_micro",
        "cast(floor(1e3 * (cast(so as double) / 1e6)"
        " / sqrt(cast(sv as double) / 1e6) + 0.5) as bigint) AS z_milli",
    )


def _sql_weighted_logrank(w_expr: str, w2_expr: str, pre: str = "") -> str:
    live = "(dt > 0 AND nt > 1)"
    oe = (
        "(cast(d1 AS DOUBLE) - cast(dt AS DOUBLE) * cast(n1 AS DOUBLE)"
        " / cast(nt AS DOUBLE))"
    )
    v = (
        "(cast(dt AS DOUBLE) * (cast(n1 AS DOUBLE) / cast(nt AS DOUBLE))"
        " * (1.0 - cast(n1 AS DOUBLE) / cast(nt AS DOUBLE))"
        " * (cast(nt AS DOUBLE) - cast(dt AS DOUBLE))"
        " / (cast(nt AS DOUBLE) - 1.0))"
    )
    return f"""
WITH {_SQL_RISK_CELLS}{pre},
terms AS (
  SELECT CASE WHEN {live}
           THEN cast(floor(1e6 * ({w_expr}) * {oe} + 0.5) AS BIGINT)
           ELSE 0 END AS oem,
         CASE WHEN {live}
           THEN cast(floor(1e6 * ({w2_expr}) * {v} + 0.5) AS BIGINT)
           ELSE 0 END AS vm,
         nt
  FROM wrisk
)
SELECT max(nt)::BIGINT AS n_users, sum(oem)::BIGINT AS oe_micro,
       sum(vm)::BIGINT AS v_micro,
       cast(floor(1e3 * (cast(sum(oem) AS DOUBLE) / 1e6)
         / sqrt(cast(sum(vm) AS DOUBLE) / 1e6) + 0.5) AS BIGINT) AS z_milli
FROM terms
"""


# --------------------------------------------------------------------------
# Tarone-Ware weighted log-rank (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_tarone_ware_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Tarone & Ware (1977): the weighted log-rank with
    w_t = sqrt(n_t) — intermediate between the unweighted Mantel-Cox
    (log_rank_survival) and Gehan-Breslow's w = n_t, so it hedges
    between early- and late-difference alternatives. Output one row:
    n_users, oe_micro, v_micro, z_milli."""
    risk = _risk_cells(spark, sf_dir)
    return _weighted_logrank(
        risk,
        "sqrt(cast(nt as double))",
        "cast(nt as double)",
    )


_ORACLE_TW = _sql_weighted_logrank(
    "sqrt(cast(nt AS DOUBLE))", "cast(nt AS DOUBLE)",
    pre=",\nwrisk AS (SELECT * FROM risk)",
)


# --------------------------------------------------------------------------
# Peto-Peto-Prentice weighted log-rank (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_peto_peto_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Peto-Peto-Prentice: weighted log-rank with
    w_t = S̃(t), the modified survival estimate
    Π_{s ≤ t} (1 - d_s/(n_s + 1)) (Klein & Moeschberger §7.3) —
    unlike Gehan's n_t weight it is robust to censoring-pattern
    differences between cohorts. The S̃ prefix product is a cumulative
    nano-ln walk over the checkpointed day-cell frame, exponentiated
    and micro-snapped per day. Output one row: n_users, oe_micro,
    v_micro, z_milli."""
    risk = _risk_cells(spark, sf_dir)
    risk = barrier(risk)  # ln-prefix + terms passes
    wln = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wrisk = risk.select(
        "t",
        "d1",
        "dt",
        "n1",
        "nt",
        F.sum(
            F.expr(
                "if(dt > 0, cast(floor(1e9 * ln(1.0D - cast(dt as double)"
                " / (cast(nt as double) + 1.0D)) + 0.5) as bigint),"
                " cast(0 as bigint))"
            )
        )
        .over(wln)
        .alias("lnp"),
    ).selectExpr(
        "t",
        "d1",
        "dt",
        "n1",
        "nt",
        "cast(floor(1e6 * exp(cast(lnp as double) / 1e9) + 0.5) as bigint)"
        " AS stm",
    )
    return _weighted_logrank(
        wrisk,
        "(cast(stm as double) / 1e6)",
        "(cast(stm as double) / 1e6) * (cast(stm as double) / 1e6)",
    )


_ORACLE_PP = _sql_weighted_logrank(
    "(cast(stm AS DOUBLE) / 1e6)",
    "(cast(stm AS DOUBLE) / 1e6) * (cast(stm AS DOUBLE) / 1e6)",
    pre=""",
lnw AS (
  SELECT t, d1, dt, n1, nt,
         sum(CASE WHEN dt > 0
             THEN cast(floor(1e9 * ln(1.0 - cast(dt AS DOUBLE)
                  / (cast(nt AS DOUBLE) + 1.0)) + 0.5) AS BIGINT)
             ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                 ROW) AS lnp
  FROM risk
),
wrisk AS (
  SELECT t, d1, dt, n1, nt,
         cast(floor(1e6 * exp(cast(lnp AS DOUBLE) / 1e9) + 0.5) AS BIGINT)
           AS stm
  FROM lnw
)""",
)


# --------------------------------------------------------------------------
# Actuarial (abridged) life table (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_actuarial_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 actuarial life table on 7-day intervals: effective
    exposure n' = n_enter - c/2 (censored count half-weighted, the
    classic actuarial correction), conditional q = d/n', and the
    cumulative survival S entering each interval as an exclusive
    nano-ln prefix product. Intervals where n' = d drop S to 0
    afterwards (the KM empty-risk-set rule). Output per interval:
    week, n_enter, d, c, n_eff_milli, q_micro, s_enter_micro."""
    durs = _durations(spark, sf_dir)
    iv = (
        durs.selectExpr(
            f"t div {_WEEK_DAYS} AS week",
            "ev",
        )
        .groupBy("week")
        .agg(
            F.sum("ev").cast("bigint").alias("d"),
            F.sum(F.expr("1 - ev")).cast("bigint").alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("leave"),
        )
    )
    iv = barrier(iv)  # bounded week frame; 2 walks
    tot = iv.agg(F.sum("leave").cast("bigint").alias("n_all"))
    wpre = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frame = (
        iv.crossJoin(F.broadcast(tot))
        .select(
            "week",
            "d",
            "c",
            (
                F.col("n_all")
                - F.coalesce(F.sum("leave").over(wpre), F.lit(0))
            )
            .cast("bigint")
            .alias("n_enter"),
        )
        .selectExpr(
            "week",
            "d",
            "c",
            "n_enter",
            "cast(floor(1e3 * (cast(n_enter as double)"
            " - cast(c as double) / 2.0D) + 0.5) as bigint) AS n_eff_milli",
            "CASE WHEN cast(n_enter as double) - cast(c as double) / 2.0D"
            " > 0 THEN cast(floor(1e6 * cast(d as double)"
            " / (cast(n_enter as double) - cast(c as double) / 2.0D)"
            " + 0.5) as bigint) ELSE cast(1000000 as bigint) END AS q_micro",
            # nano ln(1-q) term for the NEXT interval's survival; q >= 1
            # (exhausted exposure) zeroes survival downstream
            "CASE WHEN d = 0 THEN cast(0 as bigint)"
            " WHEN cast(d as double) < cast(n_enter as double)"
            "   - cast(c as double) / 2.0D"
            " THEN cast(floor(1e9 * ln(1.0D - cast(d as double)"
            "   / (cast(n_enter as double) - cast(c as double) / 2.0D))"
            "   + 0.5) as bigint)"
            " ELSE cast(-99000000000 as bigint) END AS lnq",
        )
    )
    return frame.select(
        "week",
        "n_enter",
        "d",
        "c",
        "n_eff_milli",
        "q_micro",
        F.coalesce(F.sum("lnq").over(wpre), F.lit(0)).alias("ln_enter"),
    ).selectExpr(
        "week",
        "n_enter",
        "d",
        "c",
        "n_eff_milli",
        "q_micro",
        "CASE WHEN ln_enter <= -99000000000 THEN cast(0 as bigint)"
        " ELSE cast(floor(1e6 * exp(cast(ln_enter as double) / 1e9) + 0.5)"
        " as bigint) END AS s_enter_micro",
    ).orderBy("week")


_ORACLE_LIFE = f"""
WITH durs AS ({_SQL_DURATIONS}),
iv AS (
  SELECT t // {_WEEK_DAYS} AS week, sum(ev)::BIGINT AS d,
         sum(1 - ev)::BIGINT AS c, count(*)::BIGINT AS leave
  FROM durs GROUP BY 1
),
tot AS (SELECT sum(leave)::BIGINT AS n_all FROM iv),
fr AS (
  SELECT week, d, c,
         (n_all - coalesce(sum(leave) OVER (ORDER BY week
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
           AS n_enter
  FROM iv, tot
),
fr2 AS (
  SELECT week, d, c, n_enter,
         cast(floor(1e3 * (cast(n_enter AS DOUBLE)
           - cast(c AS DOUBLE) / 2.0) + 0.5) AS BIGINT) AS n_eff_milli,
         CASE WHEN cast(n_enter AS DOUBLE) - cast(c AS DOUBLE) / 2.0 > 0
           THEN cast(floor(1e6 * cast(d AS DOUBLE)
             / (cast(n_enter AS DOUBLE) - cast(c AS DOUBLE) / 2.0)
             + 0.5) AS BIGINT)
           ELSE 1000000::BIGINT END AS q_micro,
         CASE WHEN d = 0 THEN 0::BIGINT
           WHEN cast(d AS DOUBLE) < cast(n_enter AS DOUBLE)
             - cast(c AS DOUBLE) / 2.0
           THEN cast(floor(1e9 * ln(1.0 - cast(d AS DOUBLE)
             / (cast(n_enter AS DOUBLE) - cast(c AS DOUBLE) / 2.0))
             + 0.5) AS BIGINT)
           ELSE (-99000000000)::BIGINT END AS lnq
  FROM fr
)
SELECT week, n_enter, d, c, n_eff_milli, q_micro,
       CASE WHEN coalesce(sum(lnq) OVER (ORDER BY week
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              <= -99000000000 THEN 0::BIGINT
         ELSE cast(floor(1e6 * exp(cast(coalesce(sum(lnq) OVER (ORDER BY
              week ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS DOUBLE) / 1e9) + 0.5) AS BIGINT) END AS s_enter_micro
FROM fr2 ORDER BY week
"""


# --------------------------------------------------------------------------
# Kaplan-Meier with Greenwood 95% CI (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_km_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Greenwood (1926) pointwise variance for the KM
    curve: Var[S(t)] = S(t)² Σ_{s≤t} d/(n(n-d)), with the linear 95%
    band S ± 1.96·SE clamped to [0,1] — the standard error bars every
    survival plot needs. S and the Greenwood sum are two nano prefix
    walks over the same checkpointed event-day frame. Days where
    d = n (risk set empties) pin S and both bands to 0. Output per
    event day: day, d, n_risk, s_micro, se_micro, lo_micro,
    hi_micro."""
    risk = _risk_cells(spark, sf_dir)
    ev = risk.filter("dt > 0").selectExpr(
        "t",
        "dt",
        "nt",
        "CASE WHEN dt < nt THEN cast(floor(1e9 * ln(1.0D"
        " - cast(dt as double) / cast(nt as double)) + 0.5) as bigint)"
        " ELSE cast(-99000000000 as bigint) END AS lns",
        "CASE WHEN dt < nt THEN cast(floor(1e9 * cast(dt as double)"
        " / (cast(nt as double) * cast(nt - dt as double)) + 0.5)"
        " as bigint) ELSE cast(0 as bigint) END AS gw",
    )
    ev = barrier(ev)  # bounded event-day frame
    win = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = ev.select(
        "t",
        "dt",
        "nt",
        F.sum("lns").over(win).alias("lnc"),
        F.sum("gw").over(win).alias("gwc"),
    )
    s = "exp(cast(lnc as double) / 1e9)"
    se = f"({s} * sqrt(cast(gwc as double) / 1e9))"
    return cum.selectExpr(
        "t AS day",
        "dt AS d",
        "nt AS n_risk",
        f"CASE WHEN lnc <= -99000000000 THEN cast(0 as bigint)"
        f" ELSE cast(floor(1e6 * {s} + 0.5) as bigint) END AS s_micro",
        f"CASE WHEN lnc <= -99000000000 THEN cast(0 as bigint)"
        f" ELSE cast(floor(1e6 * {se} + 0.5) as bigint) END AS se_micro",
        f"CASE WHEN lnc <= -99000000000 THEN cast(0 as bigint)"
        f" ELSE greatest(cast(floor(1e6 * ({s} - 1.96D * {se}) + 0.5)"
        f" as bigint), cast(0 as bigint)) END AS lo_micro",
        f"CASE WHEN lnc <= -99000000000 THEN cast(0 as bigint)"
        f" ELSE least(cast(floor(1e6 * ({s} + 1.96D * {se}) + 0.5)"
        f" as bigint), cast(1000000 as bigint)) END AS hi_micro",
    ).orderBy("day")


_ORACLE_KM_GW = f"""
WITH {_SQL_RISK_CELLS},
ev AS (
  SELECT t, dt, nt,
         CASE WHEN dt < nt THEN cast(floor(1e9 * ln(1.0
           - cast(dt AS DOUBLE) / cast(nt AS DOUBLE)) + 0.5) AS BIGINT)
           ELSE (-99000000000)::BIGINT END AS lns,
         CASE WHEN dt < nt THEN cast(floor(1e9 * cast(dt AS DOUBLE)
           / (cast(nt AS DOUBLE) * cast(nt - dt AS DOUBLE)) + 0.5)
           AS BIGINT) ELSE 0::BIGINT END AS gw
  FROM risk WHERE dt > 0
),
cum AS (
  SELECT t, dt, nt,
         sum(lns) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS lnc,
         sum(gw) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS gwc
  FROM ev
)
SELECT t AS day, dt AS d, nt AS n_risk,
       CASE WHEN lnc <= -99000000000 THEN 0::BIGINT
         ELSE cast(floor(1e6 * exp(cast(lnc AS DOUBLE) / 1e9) + 0.5)
           AS BIGINT) END AS s_micro,
       CASE WHEN lnc <= -99000000000 THEN 0::BIGINT
         ELSE cast(floor(1e6 * (exp(cast(lnc AS DOUBLE) / 1e9)
           * sqrt(cast(gwc AS DOUBLE) / 1e9)) + 0.5) AS BIGINT)
         END AS se_micro,
       CASE WHEN lnc <= -99000000000 THEN 0::BIGINT
         ELSE greatest(cast(floor(1e6 * (exp(cast(lnc AS DOUBLE) / 1e9)
           - 1.96 * exp(cast(lnc AS DOUBLE) / 1e9)
           * sqrt(cast(gwc AS DOUBLE) / 1e9)) + 0.5) AS BIGINT),
           0::BIGINT) END AS lo_micro,
       CASE WHEN lnc <= -99000000000 THEN 0::BIGINT
         ELSE least(cast(floor(1e6 * (exp(cast(lnc AS DOUBLE) / 1e9)
           + 1.96 * exp(cast(lnc AS DOUBLE) / 1e9)
           * sqrt(cast(gwc AS DOUBLE) / 1e9)) + 0.5) AS BIGINT),
           1000000::BIGINT) END AS hi_micro
FROM cum ORDER BY day
"""


REGISTRY_EXT144: dict[str, QuerySpec] = {
    "tarone_ware_test": QuerySpec(
        q_tarone_ware_test, _ORACLE_TW, "X7/X9 [EXT] Tarone-Ware"
    ),
    "peto_peto_test": QuerySpec(
        q_peto_peto_test, _ORACLE_PP, "X7/X9 [EXT] Peto-Peto"
    ),
    "actuarial_life_table": QuerySpec(
        q_actuarial_life_table, _ORACLE_LIFE, "X7/X9 [EXT] life table"
    ),
    "km_greenwood_ci": QuerySpec(
        q_km_greenwood_ci, _ORACLE_KM_GW, "X7/X9 [EXT] Greenwood CI"
    ),
}
