"""Wave 139 [EXT]: distribution-fitting completers — two-parameter
Weibull MLE by unrolled Newton on the shape profile equation, the
sample L-moment profile (L-scale, L-skewness, L-kurtosis) via exact
hockey-stick binomial sums over the value-cell CDF, the 0.9-expectile
by IRLS (asymmetric least squares), and the gamma method-of-moments
fit. Companions of the shipped gumbel_daily_maxima / powerlaw_alpha_mle
/ hill_tail_estimator / pot_mean_excess / moments_skew_kurtosis.

Scale notes (the 100x question, per query):
- weibull_fit_newton: the corpus reduces to CENTI VALUE CELLS; each of
  the {k} Newton steps evaluates pow(x, k) ONCE PER CELL (snapped
  micro, the platt rule) and reduces three weighted sums — bounded
  work per step at any corpus size.
- lmoments_profile: sample L-moments need rank-weighted sums
  sum_i C(i-1, r) * x_(i); within a value cell the ranks are a
  contiguous run, so the binomial sums collapse by the hockey-stick
  identity sum_(i=a..b) C(i-1, r) = C(b, r+1) - C(a-1, r+1) — EXACT
  decimal arithmetic over one cell-CDF walk, no per-row sort.
- expectile_90_irls: {k} reweighted-mean steps over the cell frame
  with weights tau / (1-tau) by the sign of (x - mu) — each step one
  aggregate, mu micro-snapped per step.
- gamma_mom_fit: one keyless exact-moment reduce; alpha = mean^2/var,
  theta = var/mean are closed-form.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_NEWTON_STEPS = 3
_EXPECTILE_TAU = 0.9
_EXPECTILE_STEPS = 4


def _centi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .filter("vc > 0")
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


_SQL_CENTI = """
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS w
  FROM events
  WHERE cast(floor(value * 100.0 + 0.5) AS BIGINT) > 0
  GROUP BY 1
"""


# --------------------------------------------------------------------------
# Weibull two-parameter MLE (X7 [EXT])
# --------------------------------------------------------------------------


def q_weibull_fit_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Weibull(k, lambda) MLE: the shape k solves the profile
    equation g(k) = S1(k)/S0(k) - 1/k - mean(ln x) = 0 with
    S0 = sum x^k, S1 = sum x^k ln x; _NEWTON_STEPS unrolled Newton steps from
    k=1 using g'(k) = (S2*S0 - S1^2)/S0^2 + 1/k^2 (S2 = sum x^k ln^2 x),
    then lambda = (S0(k)/n)^(1/k). x^k and ln x snap micro per CELL per
    step (the platt transcendental rule; cells in value units so x^k
    stays finite). The parametric tail model next to the nonparametric
    pot_mean_excess. Output one row: n, k_milli, lambda_milli."""
    cells = _centi_cells(spark, sf_dir)
    cells = barrier(cells)  # K Newton passes
    # x in VALUE units; ln x snapped to a micro BIGINT per cell so every
    # weighted sum below is EXACT integer/decimal (double sums would
    # depend on partition order and desync the Newton walk)
    base = cells.selectExpr(
        "w",
        "cast(vc as double) / 100.0 AS x",
        "cast(floor(1e6 * ln(cast(vc as double) / 100.0) + 0.5)"
        " as bigint) AS lxm",
    )
    # exact integer moment sums at the given k: s0 = sum w*xkm (micro),
    # s1 = sum w*xkm*lxm (1e12), s2 = sum w*xkm*lxm^2 (1e18), sl (1e6)
    def moments(kdf):
        return (
            base.crossJoin(F.broadcast(kdf))
            .selectExpr(
                "k",
                "w",
                "lxm",
                "cast(floor(1e6 * pow(x, k) + 0.5) as bigint) AS xkm",
            )
            .groupBy("k")
            .agg(
                F.sum("w").cast("bigint").alias("n"),
                F.sum(F.expr(f"{_DEC.format(x='w')} * xkm")).alias("s0"),
                F.sum(
                    F.expr(f"{_DEC.format(x='w')} * xkm * lxm")
                ).alias("s1"),
                F.sum(
                    F.expr(
                        f"{_DEC.format(x='(w * xkm)')} * lxm"
                        f" * {_DEC.format(x='lxm')}"
                    )
                ).alias("s2"),
                F.sum(F.expr(f"{_DEC.format(x='w')} * lxm")).alias("sl"),
            )
        )

    k = cells.sparkSession.range(1).selectExpr("1.0 as k")
    for _ in range(_NEWTON_STEPS):
        sums = moments(k)
        # scales: s0 ~1e6, s1 ~1e12, s2 ~1e18, sl ~1e6
        g = (
            "(cast(s1 as double) / (cast(s0 as double) * 1e6) - 1.0 / k"
            " - cast(sl as double) / (cast(n as double) * 1e6))"
        )
        gp = (
            "((cast(s2 as double) * cast(s0 as double)"
            " - cast(s1 as double) * cast(s1 as double))"
            " / (cast(s0 as double) * cast(s0 as double) * 1e12)"
            " + 1.0 / (k * k))"
        )
        k = sums.selectExpr(
            "cast(cast(floor(1e6 * (k - {g} / {gp}) + 0.5) as bigint)"
            " as double) / 1e6 AS k".format(g=g, gp=gp)
        )
    final = moments(k)
    return final.selectExpr(
        "n",
        "cast(floor(1e3 * k + 0.5) as bigint) AS k_milli",
        "cast(floor(1e3 * pow(cast(s0 as double)"
        " / (cast(n as double) * 1e6), 1.0 / k) + 0.5)"
        " as bigint) AS lambda_milli",
    )


def _oracle_weibull() -> str:
    g = (
        "(cast(s1 AS DOUBLE) / (cast(s0 AS DOUBLE) * 1e6) - 1.0 / k"
        " - cast(sl AS DOUBLE) / (cast(n AS DOUBLE) * 1e6))"
    )
    gp = (
        "((cast(s2 AS DOUBLE) * cast(s0 AS DOUBLE)"
        " - cast(s1 AS DOUBLE) * cast(s1 AS DOUBLE))"
        " / (cast(s0 AS DOUBLE) * cast(s0 AS DOUBLE) * 1e12)"
        " + 1.0 / (k * k))"
    )
    mom = """
  SELECT k, sum(w)::BIGINT AS n, sum(w::HUGEINT * xkm) AS s0,
         sum(w::HUGEINT * xkm * lxm) AS s1,
         sum((w::HUGEINT * xkm) * lxm * lxm::HUGEINT) AS s2,
         sum(w::HUGEINT * lxm) AS sl
  FROM (
    SELECT b.w, b.lxm, p.k,
           cast(floor(1e6 * pow(b.x, p.k) + 0.5) AS BIGINT) AS xkm
    FROM base b, {prev} p
  )
  GROUP BY k
"""
    steps = ""
    prev = "k0"
    for s in range(1, _NEWTON_STEPS + 1):
        steps += f""",
m{s} AS ({mom.format(prev=prev)}),
k{s} AS (
  SELECT cast(cast(floor(1e6 * (k - {g} / {gp}) + 0.5) AS BIGINT)
           AS DOUBLE) / 1e6 AS k
  FROM m{s}
)"""
        prev = f"k{s}"
    return f"""
WITH cells AS ({_SQL_CENTI}),
base AS (
  SELECT w, cast(vc AS DOUBLE) / 100.0 AS x,
         cast(floor(1e6 * ln(cast(vc AS DOUBLE) / 100.0) + 0.5)
           AS BIGINT) AS lxm
  FROM cells
),
k0 AS (SELECT 1.0 AS k){steps},
final AS ({mom.format(prev=prev)})
SELECT n, cast(floor(1e3 * k + 0.5) AS BIGINT) AS k_milli,
       cast(floor(1e3 * pow(cast(s0 AS DOUBLE)
            / (cast(n AS DOUBLE) * 1e6), 1.0 / k) + 0.5)
            AS BIGINT) AS lambda_milli
FROM final
"""


# --------------------------------------------------------------------------
# Sample L-moment profile (X7 [EXT])
# --------------------------------------------------------------------------


def q_lmoments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 sample L-moments (Hosking 1990): l1 (mean), l2
    (L-scale), t3 = l3/l2 (L-skewness), t4 = l4/l2 (L-kurtosis) — the
    order-statistic moments that exist for ANY distribution with a
    finite mean and resist outliers where classical skew/kurtosis blow
    up (moments_skew_kurtosis's robust twin). Needs the rank-weighted
    sums b_r = sum_i C(i-1, r) x_(i); within a value cell ranks run
    contiguously a..b, so sum C(i-1, r) = C(b, r+1) - C(a-1, r+1) (the
    hockey-stick identity) — EXACT decimal sums over one cell-CDF walk,
    never a per-row sort. Output one row: n, l1_micro, l2_micro,
    t3_milli, t4_milli."""
    cells = _centi_cells(spark, sf_dir)
    w = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    walk = cells.select(
        "vc",
        "w",
        F.sum("w").over(w).cast("bigint").alias("b"),
    ).selectExpr("vc", "w", "b", "b - w AS a0")  # ranks a0+1 .. b
    # hockey-stick sums: S_r(cell) = C(b, r+1) - C(a0, r+1), exact in
    # decimal(38,0); C(x, m) staged as x*(x-1)*.../m!
    c1 = "({x})"
    c2 = f"({_DEC.format(x='{x}')} * ({{x}} - 1) / 2)"
    c3 = f"({_DEC.format(x='{x}')} * ({{x}} - 1) * ({{x}} - 2) / 6)"
    c4 = (
        f"({_DEC.format(x='{x}')} * ({{x}} - 1) * ({{x}} - 2) * ({{x}} - 3)"
        " / 24)"
    )
    red = walk.selectExpr(
        "vc",
        "w",
        f"{c1.format(x='b')} - {c1.format(x='a0')} AS s0",
        f"{c2.format(x='b')} - {c2.format(x='a0')} AS s1",
        f"{c3.format(x='b')} - {c3.format(x='a0')} AS s2",
        f"{c4.format(x='b')} - {c4.format(x='a0')} AS s3",
    ).agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr(f"{_DEC.format(x='vc')} * s0")).alias("b0x"),
        F.sum(F.expr("cast(vc as decimal(38,0)) * s1")).alias("b1x"),
        F.sum(F.expr("cast(vc as decimal(38,0)) * s2")).alias("b2x"),
        F.sum(F.expr("cast(vc as decimal(38,0)) * s3")).alias("b3x"),
    )
    # b_r = (1/n) * sum / C(n-1, r), in centi value units
    nn = "cast(n as double)"
    b0 = f"(cast(b0x as double) / {nn})"
    b1 = f"(cast(b1x as double) / ({nn} * (({nn} - 1.0) / 1.0)) * 1.0)"
    # careful: b1 = sum C(i-1,1) x / (n * C(n-1,1))
    b1 = f"(cast(b1x as double) / ({nn} * ({nn} - 1.0)))"
    b2 = (
        f"(cast(b2x as double) * 2.0 / ({nn} * ({nn} - 1.0) * ({nn} - 2.0)))"
    )
    b3 = (
        f"(cast(b3x as double) * 6.0"
        f" / ({nn} * ({nn} - 1.0) * ({nn} - 2.0) * ({nn} - 3.0)))"
    )
    l1 = f"({b0})"
    l2 = f"(2.0 * {b1} - {b0})"
    l3 = f"(6.0 * {b2} - 6.0 * {b1} + {b0})"
    l4 = f"(20.0 * {b3} - 30.0 * {b2} + 12.0 * {b1} - {b0})"
    return red.selectExpr(
        "n",
        f"cast(floor(1e4 * {l1} + 0.5) as bigint) AS l1_micro",
        f"cast(floor(1e4 * {l2} + 0.5) as bigint) AS l2_micro",
        f"cast(floor(1e3 * {l3} / {l2} + 0.5) as bigint) AS t3_milli",
        f"cast(floor(1e3 * {l4} / {l2} + 0.5) as bigint) AS t4_milli",
    )


def _oracle_lmom() -> str:
    nn = "cast(n AS DOUBLE)"
    b0 = f"(cast(b0x AS DOUBLE) / {nn})"
    b1 = f"(cast(b1x AS DOUBLE) / ({nn} * ({nn} - 1.0)))"
    b2 = (
        f"(cast(b2x AS DOUBLE) * 2.0 / ({nn} * ({nn} - 1.0) * ({nn} - 2.0)))"
    )
    b3 = (
        f"(cast(b3x AS DOUBLE) * 6.0"
        f" / ({nn} * ({nn} - 1.0) * ({nn} - 2.0) * ({nn} - 3.0)))"
    )
    l1 = f"({b0})"
    l2 = f"(2.0 * {b1} - {b0})"
    l3 = f"(6.0 * {b2} - 6.0 * {b1} + {b0})"
    l4 = f"(20.0 * {b3} - 30.0 * {b2} + 12.0 * {b1} - {b0})"
    return f"""
WITH cells AS ({_SQL_CENTI}),
walk AS (
  SELECT vc, w, b, b - w AS a0
  FROM (SELECT vc, w, sum(w) OVER (ORDER BY vc)::BIGINT AS b FROM cells)
),
red AS (
  SELECT sum(w)::BIGINT AS n,
         sum(vc::HUGEINT * (b - a0)) AS b0x,
         sum(vc::HUGEINT * (b::HUGEINT * (b - 1) / 2
             - a0::HUGEINT * (a0 - 1) / 2)) AS b1x,
         sum(vc::HUGEINT * (b::HUGEINT * (b - 1) * (b - 2) / 6
             - a0::HUGEINT * (a0 - 1) * (a0 - 2) / 6)) AS b2x,
         sum(vc::HUGEINT * (b::HUGEINT * (b - 1) * (b - 2) * (b - 3) / 24
             - a0::HUGEINT * (a0 - 1) * (a0 - 2) * (a0 - 3) / 24)) AS b3x
  FROM walk
)
SELECT n,
       cast(floor(1e4 * {l1} + 0.5) AS BIGINT) AS l1_micro,
       cast(floor(1e4 * {l2} + 0.5) AS BIGINT) AS l2_micro,
       cast(floor(1e3 * {l3} / {l2} + 0.5) AS BIGINT) AS t3_milli,
       cast(floor(1e3 * {l4} / {l2} + 0.5) AS BIGINT) AS t4_milli
FROM red
"""


# --------------------------------------------------------------------------
# 0.9-expectile by IRLS (X7 [EXT])
# --------------------------------------------------------------------------


def q_expectile_90_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the tau={t} expectile (Newey & Powell 1987): the
    asymmetric-least-squares location where undershoots weigh (1-tau)
    and overshoots weigh tau — the EVaR building block, smoother than
    the quantile and sensitive to tail MAGNITUDE (percentiles_exact
    gives the quantile twin). {s} IRLS steps from the mean over the
    value-cell frame; mu micro-snaps per step. Output one row: n,
    mean_micro, expectile_micro."""
    cells = _centi_cells(spark, sf_dir)
    cells = barrier(cells)
    base = cells.selectExpr("w", "vc * 10000 AS x")
    mu = base.agg(
        F.expr(
            "cast(floor(cast(sum(w * x) as double) / cast(sum(w) as double)"
            " + 0.5) as bigint)"
        ).alias("mu")
    )
    mean0 = mu
    # integer tenth-weights (9 vs 1 for tau=0.9): the tau scaling
    # cancels in the ratio and keeps every sum exact
    wt = "if(x > mu, 9L, 1L)"
    for _ in range(_EXPECTILE_STEPS):
        mu = (
            base.crossJoin(F.broadcast(mu))
            .selectExpr("w", "x", f"{wt} AS ww")
            .agg(
                F.expr(
                    "cast(floor(cast(sum(cast(w as decimal(38,0)) * ww * x)"
                    " as double) / cast(sum(w * ww) as double) + 0.5)"
                    " as bigint)"
                ).alias("mu")
            )
        )
    out = (
        base.agg(F.sum("w").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(mean0.selectExpr("mu as mean_micro")))
        .crossJoin(F.broadcast(mu.selectExpr("mu as expectile_micro")))
    )
    return out.selectExpr("n", "mean_micro", "expectile_micro")


def _oracle_expectile() -> str:
    wt = "CASE WHEN b.x > p.mu THEN 9 ELSE 1 END"
    steps = ""
    prev = "m0"
    for s in range(1, _EXPECTILE_STEPS + 1):
        steps += f""",
m{s} AS (
  SELECT cast(floor(cast(sum(b.w::HUGEINT * ({wt}) * b.x) AS DOUBLE)
           / cast(sum(b.w * ({wt})) AS DOUBLE) + 0.5) AS BIGINT) AS mu
  FROM base b, {prev} p
)"""
        prev = f"m{s}"
    return f"""
WITH cells AS ({_SQL_CENTI}),
base AS (SELECT w, vc * 10000 AS x FROM cells),
m0 AS (
  SELECT cast(floor(cast(sum(w * x) AS DOUBLE) / cast(sum(w) AS DOUBLE)
           + 0.5) AS BIGINT) AS mu
  FROM base
){steps}
SELECT (SELECT sum(w) FROM base)::BIGINT AS n,
       (SELECT mu FROM m0)::BIGINT AS mean_micro,
       (SELECT mu FROM {prev})::BIGINT AS expectile_micro
"""


# --------------------------------------------------------------------------
# Gamma method-of-moments fit (X7 [EXT])
# --------------------------------------------------------------------------


def q_gamma_mom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 gamma(alpha, theta) method-of-moments fit of the value
    distribution: alpha = mean^2/var, theta = var/mean (population
    moments, exact integer sums) — the quick-look parametric summary
    next to weibull_fit_newton's MLE; alpha < 1 signals a
    heavier-than-exponential head. Output one row: n, mean_micro,
    var_micro2, alpha_milli, theta_milli."""
    e = _t(spark, sf_dir, "events")
    m = e.select(
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vm").cast("bigint").alias("s"),
        F.sum(F.expr(f"{_DEC.format(x='vm')} * vm")).alias("q"),
    )
    nn = "cast(n as double)"
    mean = f"(cast(s as double) / {nn})"
    var = f"(cast(q as double) / {nn} - {mean} * {mean})"
    return m.selectExpr(
        "n",
        f"cast(floor({mean} + 0.5) as bigint) AS mean_micro",
        f"cast(floor({var} / 1e6 + 0.5) as bigint) AS var_micro2",
        f"cast(floor(1e3 * {mean} * {mean} / {var} + 0.5) as bigint)"
        " AS alpha_milli",
        f"cast(floor(1e3 * {var} / ({mean} * 1e6) + 0.5) as bigint)"
        " AS theta_milli",
    )


_ORACLE_GAMMA = """
WITH m AS (
  SELECT count(*)::BIGINT AS n,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS s,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT)::HUGEINT
             * cast(floor(value * 1e6 + 0.5) AS BIGINT)) AS q
  FROM events
)
SELECT n,
       cast(floor((cast(s AS DOUBLE) / cast(n AS DOUBLE)) + 0.5) AS BIGINT)
         AS mean_micro,
       cast(floor((cast(q AS DOUBLE) / cast(n AS DOUBLE)
            - (cast(s AS DOUBLE) / cast(n AS DOUBLE))
            * (cast(s AS DOUBLE) / cast(n AS DOUBLE))) / 1e6 + 0.5)
            AS BIGINT) AS var_micro2,
       cast(floor(1e3 * (cast(s AS DOUBLE) / cast(n AS DOUBLE))
            * (cast(s AS DOUBLE) / cast(n AS DOUBLE))
            / (cast(q AS DOUBLE) / cast(n AS DOUBLE)
               - (cast(s AS DOUBLE) / cast(n AS DOUBLE))
               * (cast(s AS DOUBLE) / cast(n AS DOUBLE))) + 0.5) AS BIGINT)
         AS alpha_milli,
       cast(floor(1e3 * (cast(q AS DOUBLE) / cast(n AS DOUBLE)
            - (cast(s AS DOUBLE) / cast(n AS DOUBLE))
            * (cast(s AS DOUBLE) / cast(n AS DOUBLE)))
            / ((cast(s AS DOUBLE) / cast(n AS DOUBLE)) * 1e6) + 0.5)
            AS BIGINT) AS theta_milli
FROM m
"""


REGISTRY_EXT139: dict[str, QuerySpec] = {
    "weibull_fit_newton": QuerySpec(
        q_weibull_fit_newton, _oracle_weibull(), "X7 [EXT] Weibull MLE"
    ),
    "lmoments_profile": QuerySpec(
        q_lmoments_profile, _oracle_lmom(), "X7 [EXT] L-moments"
    ),
    "expectile_90_irls": QuerySpec(
        q_expectile_90_irls, _oracle_expectile(), "X7 [EXT] expectile"
    ),
    "gamma_mom_fit": QuerySpec(
        q_gamma_mom_fit, _ORACLE_GAMMA, "X7 [EXT] gamma MoM"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_expectile_90_irls.__doc__ = q_expectile_90_irls.__doc__.format(t=_EXPECTILE_TAU, s=_EXPECTILE_STEPS)  # noqa: E501
