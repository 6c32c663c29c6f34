"""Wave 149 [EXT]: distribution-fit completers — lognormal MLE with
predicted quantiles, beta method-of-moments on the (rescaled) discount
column, zero-inflated Poisson MoM on the user-day purchase grid
(explicit zeros from the calendar×user universe), and the D'Agostino
K² omnibus normality test (the finite-sample skew/kurtosis z
transforms, D'Agostino, Belanger & D'Agostino 1990). Companions of the
shipped weibull_fit_newton / gamma_mom_fit / gumbel_daily_maxima /
powerlaw_alpha_mle / jarque_bera_normality / lmoments_profile.

Scale notes (the 100x question, per query):
- lognormal / dagostino: the corpus reduces to CENTI value cells;
  ln(x) snaps micro per cell (the platt rule) and all higher moments
  ride exact integer/decimal sums — constant downstream work;
- beta_mom_discount: l_discount is already a ≤ dozen-cell enum;
- zip_mom: the zero mass comes from |users| × |days| minus the
  nonzero cell count — two exact distinct-counts, never a
  materialized zero grid;
- every ln/exp/cbrt output snaps (nano/micro) before further
  arithmetic — JVM and DuckDB libm disagree in the last ulp; sqrt is
  IEEE-exact and needs no snap.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_Z90 = 1.2815515655446004  # standard normal 90th percentile
_CHI2_95 = 5.991464547107979  # chi-square(2) upper-5%


# --------------------------------------------------------------------------
# Lognormal fit with predicted quantiles (X7 [EXT])
# --------------------------------------------------------------------------


def q_lognormal_fit_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 lognormal MLE: μ̂, σ̂ are the mean/SD of ln(x) (the
    closed-form MLE), with the fitted median exp(μ) and P90
    exp(μ + z₀.₉σ) — the parametric right-tail model next to the
    nonparametric percentile queries. ln snaps micro per CENTI cell;
    moments ride exact sums; σ uses the population (N) denominator.
    Output one row: n, mu_micro, sigma_micro, median_micro,
    p90_micro."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .filter("vc > 0")
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .selectExpr(
            "w",
            "cast(floor(1e6 * ln(cast(vc as double) / 100.0D) + 0.5)"
            " as bigint) AS lm",
        )
    )
    m = cells.agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr("w * lm")).cast("bigint").alias("slm"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * lm * lm")).alias("slm2"),
    )
    mu = "(cast(slm as double) / cast(n as double) / 1e6)"
    var = (
        f"((cast(slm2 as double) / cast(n as double)"
        f" - (cast(slm as double) / cast(n as double))"
        f" * (cast(slm as double) / cast(n as double))) / 1e12)"
    )
    sig = f"sqrt({var})"
    return m.selectExpr(
        "n",
        f"cast(floor(1e6 * {mu} + 0.5) as bigint) AS mu_micro",
        f"cast(floor(1e6 * {sig} + 0.5) as bigint) AS sigma_micro",
        f"cast(floor(1e6 * exp({mu}) + 0.5) as bigint) AS median_micro",
        f"cast(floor(1e6 * exp({mu} + {_Z90!r} * {sig}) + 0.5) as bigint)"
        " AS p90_micro",
    )


_ORACLE_LOGNORM = f"""
WITH cells AS (
  SELECT w,
         cast(floor(1e6 * ln(cast(vc AS DOUBLE) / 100.0) + 0.5) AS BIGINT)
           AS lm
  FROM (
    SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
           count(*)::BIGINT AS w
    FROM events
    WHERE cast(floor(value * 100.0 + 0.5) AS BIGINT) > 0
    GROUP BY 1
  )
),
m AS (
  SELECT sum(w)::BIGINT AS n, sum(w * lm)::BIGINT AS slm,
         sum(w::HUGEINT * lm * lm) AS slm2
  FROM cells
)
SELECT n,
       cast(floor(1e6 * (cast(slm AS DOUBLE) / cast(n AS DOUBLE) / 1e6)
         + 0.5) AS BIGINT) AS mu_micro,
       cast(floor(1e6 * sqrt((cast(slm2 AS DOUBLE) / cast(n AS DOUBLE)
         - (cast(slm AS DOUBLE) / cast(n AS DOUBLE))
         * (cast(slm AS DOUBLE) / cast(n AS DOUBLE))) / 1e12) + 0.5)
         AS BIGINT) AS sigma_micro,
       cast(floor(1e6 * exp(cast(slm AS DOUBLE) / cast(n AS DOUBLE) / 1e6)
         + 0.5) AS BIGINT) AS median_micro,
       cast(floor(1e6 * exp(cast(slm AS DOUBLE) / cast(n AS DOUBLE) / 1e6
         + {_Z90!r} * sqrt((cast(slm2 AS DOUBLE) / cast(n AS DOUBLE)
         - (cast(slm AS DOUBLE) / cast(n AS DOUBLE))
         * (cast(slm AS DOUBLE) / cast(n AS DOUBLE))) / 1e12)) + 0.5)
         AS BIGINT) AS p90_micro
FROM m
"""


# --------------------------------------------------------------------------
# Beta method-of-moments on discount (X7 [EXT])
# --------------------------------------------------------------------------


def q_beta_mom_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 beta(α, β) method of moments on the rescaled lineitem
    discount x = 10·l_discount ∈ [0,1]: α = x̄(x̄(1-x̄)/s² - 1),
    β = (1-x̄)(x̄(1-x̄)/s² - 1) — the standard bounded-support model
    for a rate column. The discount domain is an 11-cell enum (centi
    steps), so moments are exact integers; s² uses the sample (n-1)
    denominator. Output one row: n, mean_milli, var_micro,
    alpha_milli, beta_milli."""
    li = _t(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.expr("cast(floor(l_discount * 1000.0 + 0.5) as bigint)")
            .alias("xm")  # x in MILLI units of the rescaled [0,1] variable
        )
        .groupBy("xm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    m = cells.agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr("w * xm")).cast("bigint").alias("sx"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * xm * xm")).alias("sxx"),
    )
    nn = "cast(n as double)"
    mean = f"(cast(sx as double) / {nn} / 1e3)"
    var = (
        f"((cast(sxx as double) - cast(sx as double) * cast(sx as double)"
        f" / {nn}) / ({nn} - 1.0D) / 1e6)"
    )
    t = f"({mean} * (1.0D - {mean}) / {var} - 1.0D)"
    return m.selectExpr(
        "n",
        f"cast(floor(1e3 * {mean} + 0.5) as bigint) AS mean_milli",
        f"cast(floor(1e6 * {var} + 0.5) as bigint) AS var_micro",
        f"cast(floor(1e3 * {mean} * {t} + 0.5) as bigint) AS alpha_milli",
        f"cast(floor(1e3 * (1.0D - {mean}) * {t} + 0.5) as bigint)"
        " AS beta_milli",
    )


_ORACLE_BETA = """
WITH cells AS (
  SELECT cast(floor(l_discount * 1000.0 + 0.5) AS BIGINT) AS xm,
         count(*)::BIGINT AS w
  FROM lineitem GROUP BY 1
),
m AS (
  SELECT sum(w)::BIGINT AS n, sum(w * xm)::BIGINT AS sx,
         sum(w::HUGEINT * xm * xm) AS sxx
  FROM cells
)
SELECT n,
       cast(floor(1e3 * (cast(sx AS DOUBLE) / cast(n AS DOUBLE) / 1e3)
         + 0.5) AS BIGINT) AS mean_milli,
       cast(floor(1e6 * ((cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
         * cast(sx AS DOUBLE) / cast(n AS DOUBLE))
         / (cast(n AS DOUBLE) - 1.0) / 1e6) + 0.5) AS BIGINT)
         AS var_micro,
       cast(floor(1e3 * (cast(sx AS DOUBLE) / cast(n AS DOUBLE) / 1e3)
         * ((cast(sx AS DOUBLE) / cast(n AS DOUBLE) / 1e3)
           * (1.0 - (cast(sx AS DOUBLE) / cast(n AS DOUBLE) / 1e3))
           / ((cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sx AS DOUBLE) / cast(n AS DOUBLE))
             / (cast(n AS DOUBLE) - 1.0) / 1e6) - 1.0) + 0.5) AS BIGINT)
         AS alpha_milli,
       cast(floor(1e3 * (1.0 - (cast(sx AS DOUBLE) / cast(n AS DOUBLE)
           / 1e3))
         * ((cast(sx AS DOUBLE) / cast(n AS DOUBLE) / 1e3)
           * (1.0 - (cast(sx AS DOUBLE) / cast(n AS DOUBLE) / 1e3))
           / ((cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)
             * cast(sx AS DOUBLE) / cast(n AS DOUBLE))
             / (cast(n AS DOUBLE) - 1.0) / 1e6) - 1.0) + 0.5) AS BIGINT)
         AS beta_milli
FROM m
"""


# --------------------------------------------------------------------------
# Zero-inflated Poisson MoM (X7 [EXT])
# --------------------------------------------------------------------------


def q_zip_mom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 zero-inflated Poisson on per-user-day purchase counts
    with EXPLICIT zeros: the universe is |users| × |calendar days|
    (two exact distinct-counts — the zero grid never materializes).
    MoM: λ = m₂/m₁ - 1, π = 1 - m₁/λ from the raw moments over the
    full grid (zeros contribute only to N). Output one row: n_cells,
    n_nonzero, lambda_milli, pi_milli."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
        F.expr("cast(event_type = 'purchase' as bigint)").alias("p"),
    )
    base = barrier(base)  # universe + nonzero passes
    uni = base.agg(
        F.countDistinct("user_id").cast("bigint").alias("u"),
        F.countDistinct("d").cast("bigint").alias("dd"),
    )
    nz = (
        base.filter("p = 1")
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("c").cast("bigint").alias("s1"),
            F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
        )
    )
    m1 = "(cast(s1 as double) / cast(u * dd as double))"
    m2 = "(cast(s2 as double) / cast(u * dd as double))"
    lam = f"({m2} / {m1} - 1.0D)"
    pi = f"(1.0D - {m1} / {lam})"
    return (
        uni.crossJoin(F.broadcast(nz))
        .selectExpr(
            "u * dd AS n_cells",
            "k AS n_nonzero",
            f"cast(floor(1e3 * {lam} + 0.5) as bigint) AS lambda_milli",
            f"cast(floor(1e3 * {pi} + 0.5) as bigint) AS pi_milli",
        )
    )


_ORACLE_ZIP = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS d,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
),
uni AS (
  SELECT count(DISTINCT user_id)::BIGINT AS u,
         count(DISTINCT d)::BIGINT AS dd
  FROM base
),
nz AS (
  SELECT count(*)::BIGINT AS k, sum(c)::BIGINT AS s1,
         sum(c * c)::BIGINT AS s2
  FROM (SELECT user_id, d, count(*)::BIGINT AS c
        FROM base WHERE p = 1 GROUP BY 1, 2)
)
SELECT u * dd AS n_cells, k AS n_nonzero,
       cast(floor(1e3 * ((cast(s2 AS DOUBLE) / cast(u * dd AS DOUBLE))
         / (cast(s1 AS DOUBLE) / cast(u * dd AS DOUBLE)) - 1.0) + 0.5)
         AS BIGINT) AS lambda_milli,
       cast(floor(1e3 * (1.0 - (cast(s1 AS DOUBLE)
         / cast(u * dd AS DOUBLE))
         / ((cast(s2 AS DOUBLE) / cast(u * dd AS DOUBLE))
           / (cast(s1 AS DOUBLE) / cast(u * dd AS DOUBLE)) - 1.0)) + 0.5)
         AS BIGINT) AS pi_milli
FROM uni, nz
"""


# --------------------------------------------------------------------------
# D'Agostino K² omnibus normality (X7 [EXT])
# --------------------------------------------------------------------------


def q_dagostino_k2_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 D'Agostino-Belanger-D'Agostino (1990) K² omnibus: the
    finite-sample z transforms of sample skewness (Z₁ via the
    Johnson SU fit) and kurtosis (Z₂ via the Anscombe-Glynn cube
    root), K² = Z₁² + Z₂² ~ χ²(2) — the small-sample-honest upgrade
    of jarque_bera_normality. Central moments ride exact CENTI-cell
    sums; every ln and cbrt snaps nano before reuse (sqrt is
    IEEE-exact). Output one row: n, z_skew_milli, z_kurt_milli,
    k2_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    m = cells.agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr("w * vc")).cast("bigint").alias("s1"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * vc * vc")).alias("s2"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * vc * vc * vc")).alias("s3"),
        F.sum(
            F.expr(
                f"{_DEC.format(x='w')} * {_DEC.format(x='vc * vc')}"
                " * vc * vc"
            )
        ).alias("s4"),
    )
    nn = "cast(n as double)"
    mu = f"(cast(s1 as double) / {nn})"
    m2 = f"(cast(s2 as double) / {nn} - {mu} * {mu})"
    m3 = (
        f"(cast(s3 as double) / {nn} - 3.0D * {mu}"
        f" * (cast(s2 as double) / {nn}) + 2.0D * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(cast(s4 as double) / {nn} - 4.0D * {mu}"
        f" * (cast(s3 as double) / {nn}) + 6.0D * {mu} * {mu}"
        f" * (cast(s2 as double) / {nn})"
        f" - 3.0D * {mu} * {mu} * {mu} * {mu})"
    )
    g1 = f"({m3} / ({m2} * sqrt({m2})))"
    g2 = f"({m4} / ({m2} * {m2}))"
    # --- Z1 (skewness), D'Agostino 1970 / Johnson SU ---
    y = (
        f"({g1} * sqrt(({nn} + 1.0D) * ({nn} + 3.0D)"
        f" / (6.0D * ({nn} - 2.0D))))"
    )
    b2 = (
        f"(3.0D * ({nn} * {nn} + 27.0D * {nn} - 70.0D) * ({nn} + 1.0D)"
        f" * ({nn} + 3.0D) / (({nn} - 2.0D) * ({nn} + 5.0D)"
        f" * ({nn} + 7.0D) * ({nn} + 9.0D)))"
    )
    w2 = f"(-1.0D + sqrt(2.0D * ({b2} - 1.0D)))"
    # delta = 1/sqrt(ln W): ln snaps nano (0.5*ln(w2) = ln W)
    lnw = f"(cast(floor(1e9 * (0.5D * ln({w2})) + 0.5) as bigint))"
    alpha = f"sqrt(2.0D / ({w2} - 1.0D))"
    lnarg = (
        f"({y} / {alpha} + sqrt(({y} / {alpha}) * ({y} / {alpha})"
        f" + 1.0D))"
    )
    lnz = f"(cast(floor(1e9 * ln({lnarg}) + 0.5) as bigint))"
    z1 = (
        f"((1.0D / sqrt(cast({lnw} as double) / 1e9))"
        f" * cast({lnz} as double) / 1e9)"
    )
    # --- Z2 (kurtosis), Anscombe & Glynn 1983 ---
    eb2 = f"(3.0D * ({nn} - 1.0D) / ({nn} + 1.0D))"
    vb2 = (
        f"(24.0D * {nn} * ({nn} - 2.0D) * ({nn} - 3.0D)"
        f" / (({nn} + 1.0D) * ({nn} + 1.0D) * ({nn} + 3.0D)"
        f" * ({nn} + 5.0D)))"
    )
    x = f"(({g2} - {eb2}) / sqrt({vb2}))"
    sb1 = (
        f"((6.0D * ({nn} * {nn} - 5.0D * {nn} + 2.0D) / (({nn} + 7.0D)"
        f" * ({nn} + 9.0D))) * sqrt(6.0D * ({nn} + 3.0D) * ({nn} + 5.0D)"
        f" / ({nn} * ({nn} - 2.0D) * ({nn} - 3.0D))))"
    )
    a = (
        f"(6.0D + 8.0D / {sb1} * (2.0D / {sb1}"
        f" + sqrt(1.0D + 4.0D / ({sb1} * {sb1}))))"
    )
    cb_arg = (
        f"((1.0D - 2.0D / {a}) / (1.0D + {x}"
        f" * sqrt(2.0D / ({a} - 4.0D))))"
    )
    cbr = f"(cast(floor(1e9 * cbrt({cb_arg}) + 0.5) as bigint))"
    z2 = (
        f"((1.0D - 2.0D / (9.0D * {a}) - cast({cbr} as double) / 1e9)"
        f" / sqrt(2.0D / (9.0D * {a})))"
    )
    k2 = f"({z1} * {z1} + {z2} * {z2})"
    return m.selectExpr(
        "n",
        f"cast(floor(1e3 * {z1} + 0.5) as bigint) AS z_skew_milli",
        f"cast(floor(1e3 * {z2} + 0.5) as bigint) AS z_kurt_milli",
        f"cast(floor(1e3 * {k2} + 0.5) as bigint) AS k2_milli",
        f"{k2} > {_CHI2_95!r} AS reject_05",
    )


def _oracle_dagostino() -> str:
    nn = "cast(n AS DOUBLE)"
    mu = f"(cast(s1 AS DOUBLE) / {nn})"
    m2 = f"(cast(s2 AS DOUBLE) / {nn} - {mu} * {mu})"
    m3 = (
        f"(cast(s3 AS DOUBLE) / {nn} - 3.0 * {mu}"
        f" * (cast(s2 AS DOUBLE) / {nn}) + 2.0 * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(cast(s4 AS DOUBLE) / {nn} - 4.0 * {mu}"
        f" * (cast(s3 AS DOUBLE) / {nn}) + 6.0 * {mu} * {mu}"
        f" * (cast(s2 AS DOUBLE) / {nn})"
        f" - 3.0 * {mu} * {mu} * {mu} * {mu})"
    )
    g1 = f"({m3} / ({m2} * sqrt({m2})))"
    g2 = f"({m4} / ({m2} * {m2}))"
    y = (
        f"({g1} * sqrt(({nn} + 1.0) * ({nn} + 3.0)"
        f" / (6.0 * ({nn} - 2.0))))"
    )
    b2 = (
        f"(3.0 * ({nn} * {nn} + 27.0 * {nn} - 70.0) * ({nn} + 1.0)"
        f" * ({nn} + 3.0) / (({nn} - 2.0) * ({nn} + 5.0)"
        f" * ({nn} + 7.0) * ({nn} + 9.0)))"
    )
    w2 = f"(-1.0 + sqrt(2.0 * ({b2} - 1.0)))"
    lnw = f"(cast(floor(1e9 * (0.5 * ln({w2})) + 0.5) AS BIGINT))"
    alpha = f"sqrt(2.0 / ({w2} - 1.0))"
    lnarg = (
        f"({y} / {alpha} + sqrt(({y} / {alpha}) * ({y} / {alpha})"
        f" + 1.0))"
    )
    lnz = f"(cast(floor(1e9 * ln({lnarg}) + 0.5) AS BIGINT))"
    z1 = (
        f"((1.0 / sqrt(cast({lnw} AS DOUBLE) / 1e9))"
        f" * cast({lnz} AS DOUBLE) / 1e9)"
    )
    eb2 = f"(3.0 * ({nn} - 1.0) / ({nn} + 1.0))"
    vb2 = (
        f"(24.0 * {nn} * ({nn} - 2.0) * ({nn} - 3.0)"
        f" / (({nn} + 1.0) * ({nn} + 1.0) * ({nn} + 3.0)"
        f" * ({nn} + 5.0)))"
    )
    x = f"(({g2} - {eb2}) / sqrt({vb2}))"
    sb1 = (
        f"((6.0 * ({nn} * {nn} - 5.0 * {nn} + 2.0) / (({nn} + 7.0)"
        f" * ({nn} + 9.0))) * sqrt(6.0 * ({nn} + 3.0) * ({nn} + 5.0)"
        f" / ({nn} * ({nn} - 2.0) * ({nn} - 3.0))))"
    )
    a = (
        f"(6.0 + 8.0 / {sb1} * (2.0 / {sb1}"
        f" + sqrt(1.0 + 4.0 / ({sb1} * {sb1}))))"
    )
    cb_arg = (
        f"((1.0 - 2.0 / {a}) / (1.0 + {x}"
        f" * sqrt(2.0 / ({a} - 4.0))))"
    )
    cbr = f"(cast(floor(1e9 * cbrt({cb_arg}) + 0.5) AS BIGINT))"
    z2 = (
        f"((1.0 - 2.0 / (9.0 * {a}) - cast({cbr} AS DOUBLE) / 1e9)"
        f" / sqrt(2.0 / (9.0 * {a})))"
    )
    k2 = f"({z1} * {z1} + {z2} * {z2})"
    return f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS w
  FROM events GROUP BY 1
),
m AS (
  SELECT sum(w)::BIGINT AS n, sum(w * vc)::BIGINT AS s1,
         sum(w::HUGEINT * vc * vc) AS s2,
         sum(w::HUGEINT * vc * vc * vc) AS s3,
         sum(w::HUGEINT * (vc * vc)::HUGEINT * vc * vc) AS s4
  FROM cells
)
SELECT n,
       cast(floor(1e3 * {z1} + 0.5) AS BIGINT) AS z_skew_milli,
       cast(floor(1e3 * {z2} + 0.5) AS BIGINT) AS z_kurt_milli,
       cast(floor(1e3 * {k2} + 0.5) AS BIGINT) AS k2_milli,
       {k2} > {_CHI2_95!r} AS reject_05
FROM m
"""


REGISTRY_EXT149: dict[str, QuerySpec] = {
    "lognormal_fit_quantiles": QuerySpec(
        q_lognormal_fit_quantiles, _ORACLE_LOGNORM, "X7 [EXT] lognormal"
    ),
    "beta_mom_discount": QuerySpec(
        q_beta_mom_discount, _ORACLE_BETA, "X7 [EXT] beta MoM"
    ),
    "zip_mom_fit": QuerySpec(
        q_zip_mom_fit, _ORACLE_ZIP, "X7 [EXT] ZIP MoM"
    ),
    "dagostino_k2_normality": QuerySpec(
        q_dagostino_k2_normality, _oracle_dagostino(), "X7 [EXT] K2 omnibus"
    ),
}
