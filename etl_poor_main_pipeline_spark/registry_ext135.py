"""Wave 135 [EXT]: causal-audit completers — the VanderWeele-Ding
E-value for unmeasured confounding, iterative proportional fitting
(raking) of the activity table to target margins, a standardized-mean-
difference covariate-balance audit, and Cohen's h effect size for two
proportions. Companions of the shipped propensity_match_att /
did_effect_estimator / iv_wald_estimator / mantel_haenszel_or.

Scale notes (the 100x question, per query):
- e_value_sensitivity: one 2x2 reduce (exposure x outcome), closed-form
  RR and E-value arithmetic on the 1-row totals.
- raking_ipf: the observed (event_type x weekday) table is a 35-cell
  ENUM frame; each of the {k} IPF sweeps is two margin aggregates plus
  a rescale over that bounded frame, weights micro-snapped per sweep so
  both engines walk identical sequences (the platt rule).
- smd_balance_audit: per-covariate exact moment sums in one grouped
  reduce; the 3-row output is a literal covariate grid.
- cohen_h_proportions: one 2x2 reduce; asin is applied to snapped
  square roots and the result snaps immediately.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_DEC = "cast({x} as decimal(38,0))"
_EV_OUT = "purchase"
_IPF_SWEEPS = 3


# --------------------------------------------------------------------------
# E-value for unmeasured confounding (X7 [EXT])
# --------------------------------------------------------------------------


def q_e_value_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 E-value (VanderWeele & Ding 2017): the minimum strength
    of association an UNMEASURED confounder would need with both the
    exposure (odd user_id) and the outcome ('{ev}') to explain away the
    observed risk ratio: E = RR + sqrt(RR*(RR-1)) (RR inverted first if
    protective). Also the E-value for the confidence-interval limit
    closer to the null (Wald log-RR interval). Micro-snapped RR feeds
    the closed form. Output one row: n, rr_milli, ci_lo_milli,
    ci_hi_milli, evalue_milli, evalue_ci_milli."""
    e = _t(spark, sf_dir, "events")
    red = e.select(
        F.expr("cast(user_id % 2 = 1 as int)").alias("x"),
        F.expr(f"cast(event_type = '{_EV_OUT}' as int)").alias("y"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("x * y")).cast("bigint").alias("a"),
        F.sum(F.expr("x * (1 - y)")).cast("bigint").alias("b"),
        F.sum(F.expr("(1 - x) * y")).cast("bigint").alias("c"),
        F.sum(F.expr("(1 - x) * (1 - y)")).cast("bigint").alias("d"),
    )
    rr = (
        "(cast(a as double) * (cast(c as double) + cast(d as double))"
        " / (cast(c as double) * (cast(a as double) + cast(b as double))))"
    )
    se = (
        "sqrt(1.0/cast(a as double) - 1.0/(cast(a as double)"
        " + cast(b as double)) + 1.0/cast(c as double)"
        " - 1.0/(cast(c as double) + cast(d as double)))"
    )
    lo = f"exp(ln({rr}) - 1.959964 * {se})"
    hi = f"exp(ln({rr}) + 1.959964 * {se})"
    # snap RR and the CI limit, invert if protective, then the closed form
    snap = "cast(cast(floor(1e6 * {x} + 0.5) as bigint) as double) / 1e6"
    rr_s = snap.format(x=rr)
    flip = f"if({rr_s} < 1.0, 1.0 / {rr_s}, {rr_s})"
    ev = f"({flip} + sqrt({flip} * ({flip} - 1.0)))"
    # CI limit closer to the null (1): if RR>1 use lo, else use hi; the
    # E-value is 1 when the interval crosses the null
    lim = f"if({rr_s} >= 1.0, {snap.format(x=lo)}, {snap.format(x=hi)})"
    lim_f = f"if({rr_s} >= 1.0, {lim}, 1.0 / {lim})"
    ev_ci = f"if({lim_f} <= 1.0, 1.0, ({lim_f} + sqrt({lim_f} * ({lim_f} - 1.0))))"
    return red.selectExpr(
        "n",
        f"cast(floor(1e3 * {rr_s} + 0.5) as bigint) AS rr_milli",
        f"cast(floor(1e3 * {lo} + 0.5) as bigint) AS ci_lo_milli",
        f"cast(floor(1e3 * {hi} + 0.5) as bigint) AS ci_hi_milli",
        f"cast(floor(1e3 * {ev} + 0.5) as bigint) AS evalue_milli",
        f"cast(floor(1e3 * {ev_ci} + 0.5) as bigint) AS evalue_ci_milli",
    )


def _oracle_evalue() -> str:
    rr = (
        "(cast(a AS DOUBLE) * (cast(c AS DOUBLE) + cast(d AS DOUBLE))"
        " / (cast(c AS DOUBLE) * (cast(a AS DOUBLE) + cast(b AS DOUBLE))))"
    )
    se = (
        "sqrt(1.0/cast(a AS DOUBLE) - 1.0/(cast(a AS DOUBLE)"
        " + cast(b AS DOUBLE)) + 1.0/cast(c AS DOUBLE)"
        " - 1.0/(cast(c AS DOUBLE) + cast(d AS DOUBLE)))"
    )
    lo = f"exp(ln({rr}) - 1.959964 * {se})"
    hi = f"exp(ln({rr}) + 1.959964 * {se})"
    snap = "cast(cast(floor(1e6 * {x} + 0.5) AS BIGINT) AS DOUBLE) / 1e6"
    rr_s = snap.format(x=rr)
    flip = f"CASE WHEN {rr_s} < 1.0 THEN 1.0 / {rr_s} ELSE {rr_s} END"
    ev = f"(({flip}) + sqrt(({flip}) * (({flip}) - 1.0)))"
    lim = (
        f"CASE WHEN {rr_s} >= 1.0 THEN {snap.format(x=lo)}"
        f" ELSE {snap.format(x=hi)} END"
    )
    lim_f = f"CASE WHEN {rr_s} >= 1.0 THEN ({lim}) ELSE 1.0 / ({lim}) END"
    ev_ci = (
        f"CASE WHEN ({lim_f}) <= 1.0 THEN 1.0"
        f" ELSE (({lim_f}) + sqrt(({lim_f}) * (({lim_f}) - 1.0))) END"
    )
    return f"""
WITH red AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN user_id % 2 = 1 AND event_type = '{_EV_OUT}'
             THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN user_id % 2 = 1 AND event_type <> '{_EV_OUT}'
             THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN user_id % 2 = 0 AND event_type = '{_EV_OUT}'
             THEN 1 ELSE 0 END)::BIGINT AS c,
         sum(CASE WHEN user_id % 2 = 0 AND event_type <> '{_EV_OUT}'
             THEN 1 ELSE 0 END)::BIGINT AS d
  FROM events
)
SELECT n,
       cast(floor(1e3 * {rr_s} + 0.5) AS BIGINT) AS rr_milli,
       cast(floor(1e3 * {lo} + 0.5) AS BIGINT) AS ci_lo_milli,
       cast(floor(1e3 * {hi} + 0.5) AS BIGINT) AS ci_hi_milli,
       cast(floor(1e3 * {ev} + 0.5) AS BIGINT) AS evalue_milli,
       cast(floor(1e3 * {ev_ci} + 0.5) AS BIGINT) AS evalue_ci_milli
FROM red
"""


# --------------------------------------------------------------------------
# Iterative proportional fitting / raking (X7 [EXT])
# --------------------------------------------------------------------------


def q_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 raking / IPF (Deming & Stephan 1940): reweight the
    observed (event_type x weekday) count table so the WEEKDAY margin
    is uniform (1/7 each) while the event-type margin keeps its
    observed share — the survey-calibration move a pipeline uses to
    de-bias day-of-week collection skew. {k} unrolled IPF sweeps (rows
    then columns), weights micro-snapped after every rescale so both
    engines walk identical sequences. Output per cell: event_type, w
    (weekday), n, weight_micro — with sum(weight*n) preserved and the
    weekday margin within snap error of uniform."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            F.expr(f"(unix_micros(ts) div {_DAY_US} + 3) % 7").alias("w"),
        )
        .groupBy("event_type", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("wt", F.expr("cast(1000000 as bigint)"))
    )
    cells = barrier(cells)  # K sweeps re-aggregate it
    tot = cells.agg(F.sum("n").cast("bigint").alias("nt"))
    for _ in range(_IPF_SWEEPS):
        # row sweep: scale each event_type row so its weighted share
        # matches its OBSERVED share (n_row / nt)
        rows_ = cells.groupBy("event_type").agg(
            F.sum("n").cast("bigint").alias("n_row"),
            F.sum(F.expr(f"{_DEC.format(x='wt')} * n")).alias("wn_row"),
        )
        cells = (
            cells.join(F.broadcast(rows_), "event_type")
            .crossJoin(F.broadcast(tot))
            .selectExpr(
                "event_type",
                "w",
                "n",
                # target row mass = n_row/nt * nt = n_row (in count
                # units); current mass = wn_row/1e6
                "cast(floor(cast(wt as double) * cast(n_row as double)"
                " / (cast(wn_row as double) / 1e6) + 0.5) as bigint) AS wt",
            )
        )
        # column sweep: scale each weekday column to the UNIFORM target
        # nt/7
        cols_ = cells.groupBy("w").agg(
            F.sum(F.expr(f"{_DEC.format(x='wt')} * n")).alias("wn_col")
        )
        cells = (
            cells.join(F.broadcast(cols_), "w")
            .crossJoin(F.broadcast(tot))
            .selectExpr(
                "event_type",
                "w",
                "n",
                "cast(floor(cast(wt as double) * (cast(nt as double) / 7.0)"
                " / (cast(wn_col as double) / 1e6) + 0.5) as bigint) AS wt",
            )
        )
    return cells.selectExpr(
        "event_type", "cast(w as bigint) AS w", "n", "wt AS weight_micro"
    ).orderBy("event_type", "w")


def _oracle_ipf() -> str:
    sweeps = ""
    prev = "c0"
    for k in range(1, _IPF_SWEEPS + 1):
        sweeps += f""",
r{k} AS (
  SELECT event_type, sum(n)::BIGINT AS n_row,
         sum(wt::HUGEINT * n) AS wn_row
  FROM {prev} GROUP BY 1
),
cr{k} AS (
  SELECT c.event_type, c.w, c.n,
         cast(floor(cast(c.wt AS DOUBLE) * cast(r.n_row AS DOUBLE)
              / (cast(r.wn_row AS DOUBLE) / 1e6) + 0.5) AS BIGINT) AS wt
  FROM {prev} c JOIN r{k} r ON c.event_type = r.event_type
),
k{k} AS (
  SELECT w, sum(wt::HUGEINT * n) AS wn_col FROM cr{k} GROUP BY 1
),
c{k} AS (
  SELECT c.event_type, c.w, c.n,
         cast(floor(cast(c.wt AS DOUBLE) * (cast(t.nt AS DOUBLE) / 7.0)
              / (cast(k.wn_col AS DOUBLE) / 1e6) + 0.5) AS BIGINT) AS wt
  FROM cr{k} c JOIN k{k} k ON c.w = k.w, tot t
)"""
        prev = f"c{k}"
    return f"""
WITH c0 AS (
  SELECT event_type, (epoch_us(ts) // {_DAY_US} + 3) % 7 AS w,
         count(*)::BIGINT AS n, 1000000::BIGINT AS wt
  FROM events GROUP BY 1, 2
),
tot AS (SELECT sum(n)::BIGINT AS nt FROM c0){sweeps}
SELECT event_type, cast(w AS BIGINT) AS w, n, wt AS weight_micro
FROM {prev} ORDER BY event_type, w
"""


# --------------------------------------------------------------------------
# Standardized-mean-difference covariate balance audit (X7 [EXT])
# --------------------------------------------------------------------------


def q_smd_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 covariate-balance audit (Austin 2009): the standardized
    mean difference SMD = (mean1 - mean0)/sqrt((v1 + v0)/2) of each
    covariate (micro value, hour-of-day, weekend flag) between the odd-
    and even-user exposure groups; |SMD| < 0.1 is the conventional
    balance bar a propensity analysis (propensity_match_att) must pass.
    One grouped exact-moment reduce; the covariate axis is a literal
    3-row grid. Output per covariate: covariate, mean1_milli,
    mean0_milli, smd_milli, balanced."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr("cast(user_id % 2 = 1 as int)").alias("x"),
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("c_value"),
        F.expr("cast((unix_micros(ts) div 3600000000) % 24 as bigint)")
        .alias("c_hour"),
        F.expr(
            f"cast((unix_micros(ts) div {_DAY_US} + 3) % 7 >= 5 as bigint)"
        ).alias("c_wknd"),
    )
    long = base.selectExpr(
        "x",
        "stack(3, 'value', c_value, 'hour', c_hour, 'weekend', c_wknd)"
        " AS (covariate, v)",
    )
    m = long.groupBy("covariate").agg(
        F.sum("x").cast("bigint").alias("n1"),
        F.sum(F.expr("1 - x")).cast("bigint").alias("n0"),
        F.sum(F.expr("x * v")).cast("bigint").alias("s1"),
        F.sum(F.expr("(1 - x) * v")).cast("bigint").alias("s0"),
        F.sum(F.expr(f"x * {_DEC.format(x='v')} * v")).alias("q1"),
        F.sum(F.expr(f"(1 - x) * {_DEC.format(x='v')} * v")).alias("q0"),
    )
    m1 = "(cast(s1 as double) / cast(n1 as double))"
    m0 = "(cast(s0 as double) / cast(n0 as double))"
    v1 = f"(cast(q1 as double) / cast(n1 as double) - {m1} * {m1})"
    v0 = f"(cast(q0 as double) / cast(n0 as double) - {m0} * {m0})"
    smd = f"(({m1} - {m0}) / sqrt(({v1} + {v0}) / 2.0))"
    return m.selectExpr(
        "covariate",
        f"cast(floor(1e3 * {m1} + 0.5) as bigint) AS mean1_milli",
        f"cast(floor(1e3 * {m0} + 0.5) as bigint) AS mean0_milli",
        f"cast(floor(1e3 * {smd} + 0.5) as bigint) AS smd_milli",
        f"abs({smd}) < 0.1 AS balanced",
    ).orderBy("covariate")


def _oracle_smd() -> str:
    m1 = "(cast(s1 AS DOUBLE) / cast(n1 AS DOUBLE))"
    m0 = "(cast(s0 AS DOUBLE) / cast(n0 AS DOUBLE))"
    v1 = f"(cast(q1 AS DOUBLE) / cast(n1 AS DOUBLE) - {m1} * {m1})"
    v0 = f"(cast(q0 AS DOUBLE) / cast(n0 AS DOUBLE) - {m0} * {m0})"
    smd = f"(({m1} - {m0}) / sqrt(({v1} + {v0}) / 2.0))"
    return f"""
WITH base AS (
  SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS x,
         cast(floor(value * 1e6 + 0.5) AS BIGINT) AS c_value,
         (epoch_us(ts) // 3600000000) % 24 AS c_hour,
         CASE WHEN (epoch_us(ts) // {_DAY_US} + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS c_wknd
  FROM events
),
long AS (
  SELECT x, 'value' AS covariate, c_value AS v FROM base
  UNION ALL SELECT x, 'hour', c_hour FROM base
  UNION ALL SELECT x, 'weekend', c_wknd FROM base
),
m AS (
  SELECT covariate, sum(x)::BIGINT AS n1, sum(1 - x)::BIGINT AS n0,
         sum(x * v)::BIGINT AS s1, sum((1 - x) * v)::BIGINT AS s0,
         sum(x * v::HUGEINT * v) AS q1,
         sum((1 - x) * v::HUGEINT * v) AS q0
  FROM long GROUP BY 1
)
SELECT covariate,
       cast(floor(1e3 * {m1} + 0.5) AS BIGINT) AS mean1_milli,
       cast(floor(1e3 * {m0} + 0.5) AS BIGINT) AS mean0_milli,
       cast(floor(1e3 * {smd} + 0.5) AS BIGINT) AS smd_milli,
       abs({smd}) < 0.1 AS balanced
FROM m ORDER BY covariate
"""


# --------------------------------------------------------------------------
# Cohen's h for two proportions (X7 [EXT])
# --------------------------------------------------------------------------


def q_cohen_h_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Cohen's h: the arcsine-stabilized effect size for the
    difference between the odd- and even-user '{ev}' rates,
    h = 2*asin(sqrt(p1)) - 2*asin(sqrt(p0)) — the effect size
    two_proportion_ztest only signs. sqrt(p) micro-snaps before asin
    and h snaps immediately after (the platt transcendental rule).
    Conventional small/medium/large bands at 0.2/0.5/0.8. Output one
    row: n1, n0, p1_milli, p0_milli, h_milli, magnitude."""
    e = _t(spark, sf_dir, "events")
    red = e.select(
        F.expr("cast(user_id % 2 = 1 as int)").alias("x"),
        F.expr(f"cast(event_type = '{_EV_OUT}' as int)").alias("y"),
    ).agg(
        F.sum("x").cast("bigint").alias("n1"),
        F.sum(F.expr("1 - x")).cast("bigint").alias("n0"),
        F.sum(F.expr("x * y")).cast("bigint").alias("k1"),
        F.sum(F.expr("(1 - x) * y")).cast("bigint").alias("k0"),
    )
    sq = (
        "cast(cast(floor(1e6 * sqrt(cast({k} as double)"
        " / cast({n} as double)) + 0.5) as bigint) as double) / 1e6"
    )
    h = (
        f"(2.0 * asin({sq.format(k='k1', n='n1')})"
        f" - 2.0 * asin({sq.format(k='k0', n='n0')}))"
    )
    hm = f"cast(floor(1e3 * {h} + 0.5) as bigint)"
    return red.selectExpr(
        "n1",
        "n0",
        "cast(floor(1e3 * cast(k1 as double) / cast(n1 as double) + 0.5)"
        " as bigint) AS p1_milli",
        "cast(floor(1e3 * cast(k0 as double) / cast(n0 as double) + 0.5)"
        " as bigint) AS p0_milli",
        f"{hm} AS h_milli",
        f"CASE WHEN abs({hm}) >= 800 THEN 'large'"
        f" WHEN abs({hm}) >= 500 THEN 'medium'"
        f" WHEN abs({hm}) >= 200 THEN 'small'"
        " ELSE 'negligible' END AS magnitude",
    )


def _oracle_cohen_h() -> str:
    sq = (
        "cast(cast(floor(1e6 * sqrt(cast({k} AS DOUBLE)"
        " / cast({n} AS DOUBLE)) + 0.5) AS BIGINT) AS DOUBLE) / 1e6"
    )
    h = (
        f"(2.0 * asin({sq.format(k='k1', n='n1')})"
        f" - 2.0 * asin({sq.format(k='k0', n='n0')}))"
    )
    hm = f"cast(floor(1e3 * {h} + 0.5) AS BIGINT)"
    return f"""
WITH red AS (
  SELECT sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN user_id % 2 = 1 AND event_type = '{_EV_OUT}'
             THEN 1 ELSE 0 END)::BIGINT AS k1,
         sum(CASE WHEN user_id % 2 = 0 AND event_type = '{_EV_OUT}'
             THEN 1 ELSE 0 END)::BIGINT AS k0
  FROM events
)
SELECT n1, n0,
       cast(floor(1e3 * cast(k1 AS DOUBLE) / cast(n1 AS DOUBLE) + 0.5)
            AS BIGINT) AS p1_milli,
       cast(floor(1e3 * cast(k0 AS DOUBLE) / cast(n0 AS DOUBLE) + 0.5)
            AS BIGINT) AS p0_milli,
       {hm} AS h_milli,
       CASE WHEN abs({hm}) >= 800 THEN 'large'
            WHEN abs({hm}) >= 500 THEN 'medium'
            WHEN abs({hm}) >= 200 THEN 'small'
            ELSE 'negligible' END AS magnitude
FROM red
"""


REGISTRY_EXT135: dict[str, QuerySpec] = {
    "e_value_sensitivity": QuerySpec(
        q_e_value_sensitivity, _oracle_evalue(), "X7 [EXT] E-value"
    ),
    "raking_ipf": QuerySpec(q_raking_ipf, _oracle_ipf(), "X7 [EXT] IPF"),
    "smd_balance_audit": QuerySpec(
        q_smd_balance_audit, _oracle_smd(), "X7 [EXT] SMD balance"
    ),
    "cohen_h_proportions": QuerySpec(
        q_cohen_h_proportions, _oracle_cohen_h(), "X7 [EXT] Cohen's h"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_e_value_sensitivity.__doc__ = q_e_value_sensitivity.__doc__.format(ev=_EV_OUT)  # noqa: E501
q_raking_ipf.__doc__ = q_raking_ipf.__doc__.format(k=_IPF_SWEEPS)  # noqa: E501
q_cohen_h_proportions.__doc__ = q_cohen_h_proportions.__doc__.format(ev=_EV_OUT)  # noqa: E501
