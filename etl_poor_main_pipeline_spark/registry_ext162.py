"""Wave 162 [EXT]: method-comparison, k-sample-mean, outlier-screen,
periodicity, and marginal-homogeneity completers — Passing-Bablok
(1983) regression (the rank-slope method-comparison line clinical labs
use where Deming needs a variance-ratio guess; sibling of the shipped
deming_regression / theil_sen_slope), the Alexander-Govern (1994) test
(k-group mean comparison under variance heterogeneity via Hill's
normalizing transformation — the welch_anova replacement with better
small-sample behavior), Chauvenet's criterion (1863; the classic
n-dependent outlier screen, z* = Φ⁻¹(1 - 1/(4n)) through the Acklam
probit the wave-155 normal-scores tests already carry), Fisher's
(1929) g-test for a hidden periodicity (max periodogram ordinate over
its total across the full Fourier grid — the proper test behind the
shipped periodogram_fixed_periods), and the Bhapkar (1966) marginal-
homogeneity test (the asymptotically-more-powerful Stuart-Maxwell
variant, derived through the exact identity W = χ²_SM/(1 - χ²_SM/n)).

Conventions (documented, since implementations differ):
- passing_bablok_regression: pairs are the CALENDAR-DAY (AM mean, PM
  mean) centi frame (the ext160 agreement setting, day-level); all
  i<j day pairs with x_i ≠ x_j form slopes (micro-snapped); slopes
  exactly -1 are excluded and K = #slopes < -1 shifts the median rank
  (the PB offset); even N takes the MEAN of the two middle shifted
  order statistics (carried ×2 as an exact integer), odd N doubles
  the single middle one. Intercept = LOWER median of the exact
  integers 2e6·y - b_x2·x (order-statistic convention, ties kept).
- alexander_govern_test: weights w_j ∝ 1/SE_j² (each 1/SE² snapped
  nano before the 5-row sum — partition-order discipline), t_j from
  the weighted grand mean, Hill's z via a = n-1.5, b = 48a²,
  c = sqrt(a·ln(1+t²/(n-1))) (ln nano-snapped), z = c + (c³+3c)/b -
  (4c⁷+33c⁵+240c³+855c)/(10b²+8bc⁴+1000b); A = Σz² ~ χ²(k-1) with the
  k-derived critical lookup (registry_ext155).
- chauvenet_criterion: daily means (micro), SAMPLE sd (n-1); flag
  |z| > Φ⁻¹(1 - 1/(4n)) — the N·P(|Z|>z) < 1/2 rule rearranged so the
  forward normal CDF is never needed. Worst day by max |z_milli| then
  min day (the two-step argmax).
- fisher_g_periodicity: daily means in CENTI cells (decimal-width
  headroom for the squared Fourier sums), frequencies k = 1..⌊(T-1)/2⌋,
  angle 2π·((k·d_rank) mod T)/T so the cos argument stays < 2π,
  cos/sin snapped micro; I'_k = C'² + S'² kept as exact decimal
  integers (scale cancels in g = max I'/ΣI'); argmax by max-I' + min-k
  two-step; reject via the first-term Fisher bound p ≈ N(1-g)^(N-1)
  (documented approximation, exact for the top ordinate's tail).
- bhapkar_test: derived from the stuart_maxwell_test pipeline's
  snapped chi2_milli through W = χ²/(1 - χ²/n) on BOTH engines (the
  identity is exact for the statistic; deriving from the snapped value
  keeps the two tests' published tables consistent); df = 2, same
  bands and halves as ext127.

Scale notes (the 100x question, per query):
- passing_bablok: the slope pair space is the CALENDAR-DAY dense pair
  grid (≤ |days|²/2 pairs at any corpus size — the mann_kendall /
  hoeffding boundedness class), then slope cells + one Blelloch
  prefix for the offset order statistics.
- alexander_govern / bhapkar: 5-row / 3x3 moment frames off one scan.
- chauvenet / fisher_g: calendar-bounded daily cells; fisher_g's
  (day × frequency) grid is ≤ |days|²/2 rows, calendar-bounded.
- Nothing collects a corpus-sized frame; every sum stages through
  decimal(38,0)/HUGEINT with micro/nano-snapped transcendentals.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .registry_ext155 import _chi2_crit_micro, _probit_sql
from .registry_ext127 import _ORACLE_SM, q_stuart_maxwell_test
from .session import barrier

_DAY_US = 86_400_000_000
_HALF_US = 43_200_000_000
_TWO_PI = "6.283185307179586"
#: chi2(2) upper-5% critical (milli) for bhapkar (df = bands-1 = 2)
_CHI2_2_95_MILLI = 5_991


# --------------------------------------------------------------------------
# Passing-Bablok method-comparison regression (X7 [EXT])
# --------------------------------------------------------------------------


def _pb_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day (x = AM mean, y = PM mean) centi pairs, both halves
    present (the ext160 agreement setting at day grain)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.selectExpr(
            f"unix_micros(ts) div {_DAY_US} AS d",
            f"cast((unix_micros(ts) % {_DAY_US}) >= {_HALF_US} as int)"
            " AS pm",
            "cast(floor(value * 100.0 + 0.5) as bigint) AS vc",
        )
        .groupBy("d")
        .agg(
            F.sum(F.expr("1 - pm")).cast("bigint").alias("ca"),
            F.sum("pm").cast("bigint").alias("cb"),
            F.sum(F.expr("vc * (1 - pm)")).cast("bigint").alias("sa"),
            F.sum(F.expr("vc * pm")).cast("bigint").alias("sb"),
        )
        .filter("ca > 0 and cb > 0")
        .selectExpr(
            "d",
            "cast(floor(cast(sa as double) / ca + 0.5) as bigint) AS x",
            "cast(floor(cast(sb as double) / cb + 0.5) as bigint) AS y",
        )
    )


_PB_DAILY_SQL = f"""
  SELECT d,
         cast(floor(cast(sa AS DOUBLE) / ca + 0.5) AS BIGINT) AS x,
         cast(floor(cast(sb AS DOUBLE) / cb + 0.5) AS BIGINT) AS y
  FROM (
    SELECT epoch_us(ts) // {_DAY_US} AS d,
           sum(CASE WHEN (epoch_us(ts) % {_DAY_US}) >= {_HALF_US}
               THEN 0 ELSE 1 END)::BIGINT AS ca,
           sum(CASE WHEN (epoch_us(ts) % {_DAY_US}) >= {_HALF_US}
               THEN 1 ELSE 0 END)::BIGINT AS cb,
           sum(CASE WHEN (epoch_us(ts) % {_DAY_US}) >= {_HALF_US}
               THEN 0 ELSE cast(floor(value * 100.0 + 0.5) AS BIGINT)
               END)::BIGINT AS sa,
           sum(CASE WHEN (epoch_us(ts) % {_DAY_US}) >= {_HALF_US}
               THEN cast(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0
               END)::BIGINT AS sb
    FROM events GROUP BY 1
  ) WHERE ca > 0 AND cb > 0
"""

#: micro slope; x_i = x_j pairs excluded (the if() keeps the division
#: total — ANSI mode evaluates the projection alongside the join
#: condition, so an unguarded /0 errors before the condition filters),
#: slope exactly -1e6 excluded downstream
_PB_SLOPE = (
    "if(x2 = x1, cast(null as bigint),"
    " cast(floor(1e6 * cast(y2 - y1 as double)"
    " / cast(x2 - x1 as double) + 0.5) as bigint))"
)


def q_passing_bablok_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X7 Passing-Bablok (1983) regression between the AM and PM
    daily means: slope = the K-shifted median of all pairwise slopes
    (K = #slopes < -1; slopes = -1 excluded), intercept = lower median
    of y - b·x — the method-comparison line with no error-variance
    assumption. Pair space = the calendar-day dense grid; offset order
    statistics picked from slope cells via one Blelloch prefix. Output
    one row: n_days, n_slopes, k_offset, slope_micro_x2,
    intercept_micro."""
    daily = barrier(_pb_daily(spark, sf_dir))
    a = daily.selectExpr("d AS d1", "x AS x1", "y AS y1")
    b = daily.selectExpr("d AS d2", "x AS x2", "y AS y2")
    slopes = (
        a.join(b, F.expr("d1 < d2 and x1 <> x2"))
        .selectExpr(f"{_PB_SLOPE} AS s")
        .filter("s is not null and s <> -1000000")
    )
    cells = slopes.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # lazy plan-split barriers after each Blelloch pass (round 14): this
    # query's single tree cost ~0.84s of Catalyst + AQE re-planning on
    # every run; two LogicalRDD barriers cut the re-planned tree to a
    # third (measured med 3.35 -> 2.36s interleaved, identical row)
    pref = barrier(exclusive_prefix_sum(cells, "s", "c", out="nb"))
    tot = pref.agg(
        F.max(F.expr("nb + c")).cast("bigint").alias("n"),
        F.sum(F.expr("if(s < -1000000, c, 0L)")).cast("bigint").alias("k"),
    )
    # shifted median ranks: odd -> {m, m}, even -> {m, m+1} with
    # m = (n + 1) div 2 + k (odd) / n div 2 + k (even); carried x2
    picks = pref.crossJoin(F.broadcast(tot)).selectExpr(
        "n",
        "k",
        "if(pmod(n, 2) = 1,"
        " if(nb < (n + 1) div 2 + k and (n + 1) div 2 + k <= nb + c,"
        "    2 * s, 0L),"
        " if(nb < n div 2 + k and n div 2 + k <= nb + c, s, 0L)"
        " + if(nb < n div 2 + k + 1 and n div 2 + k + 1 <= nb + c, s, 0L))"
        " AS pick2",
    )
    bsel = picks.groupBy("n", "k").agg(
        F.sum("pick2").cast("bigint").alias("b_x2")
    )
    # intercept: lower median of the exact integers 2e6*y - b_x2*x
    resid = (
        daily.crossJoin(F.broadcast(bsel))
        .selectExpr(
            "n", "k", "b_x2",
            "2000000 * y - b_x2 * x AS a2",
        )
    )
    rcells = resid.groupBy("n", "k", "b_x2", "a2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rpref = barrier(exclusive_prefix_sum(
        rcells.selectExpr("a2", "c", "n", "k", "b_x2"), "a2", "c", out="nb"
    ))
    rtot = rpref.agg(F.max(F.expr("nb + c")).cast("bigint").alias("m"))
    return (
        rpref.crossJoin(F.broadcast(rtot))
        .selectExpr(
            "n", "k", "b_x2", "m",
            "if(nb < (m + 1) div 2 and (m + 1) div 2 <= nb + c, a2, 0L)"
            " AS amed",
        )
        .groupBy("n", "k", "b_x2", "m")
        .agg(F.sum("amed").cast("bigint").alias("a2med"))
        .selectExpr(
            "m AS n_days",
            "n AS n_slopes",
            "k AS k_offset",
            "b_x2 AS slope_micro_x2",
            # a2 = 2e6*y_centi - b_x2*x_centi = 2e8*(y - b*x) in value
            # units -> micro = a2/200
            "cast(floor(cast(a2med as double) / 200.0 + 0.5) as bigint)"
            " AS intercept_micro",
        )
    )


_ORACLE_PB = f"""
WITH daily AS ({_PB_DAILY_SQL}),
slopes AS (
  SELECT cast(floor(1e6 * cast(b.y - a.y AS DOUBLE)
           / cast(b.x - a.x AS DOUBLE) + 0.5) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.d < b.d AND a.x <> b.x
),
sl AS (SELECT s FROM slopes WHERE s <> -1000000),
cells AS (
  SELECT s, count(*)::BIGINT AS c,
         coalesce(sum(count(*)) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM sl GROUP BY s
),
tot AS (
  SELECT sum(c)::BIGINT AS n,
         sum(CASE WHEN s < -1000000 THEN c ELSE 0 END)::BIGINT AS k
  FROM cells
),
bsel AS (
  SELECT n, k,
         sum(CASE WHEN mod(n, 2) = 1 THEN
               CASE WHEN nb < (n + 1) // 2 + k AND (n + 1) // 2 + k <= nb + c
                    THEN 2 * s ELSE 0 END
             ELSE
               CASE WHEN nb < n // 2 + k AND n // 2 + k <= nb + c
                    THEN s ELSE 0 END
               + CASE WHEN nb < n // 2 + k + 1 AND n // 2 + k + 1 <= nb + c
                      THEN s ELSE 0 END
             END)::BIGINT AS b_x2
  FROM cells, tot GROUP BY 1, 2
),
resid AS (
  SELECT n, k, b_x2, 2000000 * y - b_x2 * x AS a2
  FROM daily, bsel
),
rcells AS (
  SELECT n, k, b_x2, a2, count(*)::BIGINT AS c,
         coalesce(sum(count(*)) OVER (ORDER BY a2
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM resid GROUP BY 1, 2, 3, 4
),
rtot AS (SELECT max(nb + c)::BIGINT AS m FROM rcells)
SELECT m AS n_days, n AS n_slopes, k AS k_offset,
       b_x2 AS slope_micro_x2,
       cast(floor(cast(sum(CASE WHEN nb < (m + 1) // 2
             AND (m + 1) // 2 <= nb + c THEN a2 ELSE 0 END) AS DOUBLE)
         / 200.0 + 0.5) AS BIGINT) AS intercept_micro
FROM rcells, rtot
GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# Alexander-Govern k-sample mean test (X7 [EXT])
# --------------------------------------------------------------------------

_AG_SLN = "(cast(floor(1e9 * ln({u}) + 0.5) as double) / 1e9)"


def q_alexander_govern_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Alexander-Govern (1994) test: do the five event types
    share a mean when variances differ? w_j ∝ 1/SE_j² (nano-snapped
    before the k-row sum), t_j against the weighted grand mean, Hill's
    normalizing transformation z_j, A = Σz_j² ~ χ²(k-1) — the
    heteroscedastic one-way test scipy ships as alexandergovern.
    Output one row: k, n, a_stat_micro, reject_05."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum(F.expr("cast(floor(value * 1e6 + 0.5) as bigint)"))
        .cast("bigint")
        .alias("sv"),
        F.sum(
            F.expr(
                "cast(cast(floor(value * 1e6 + 0.5) as bigint)"
                " as decimal(38,0))"
                " * cast(floor(value * 1e6 + 0.5) as bigint)"
            )
        ).alias("svv"),
    )
    # se2_j = s²/n in VALUE² units; iw = 1/se2 snapped nano
    se2 = (
        "((cast(svv as double) / 1e12"
        " - (cast(sv as double) / 1e6) * (cast(sv as double) / 1e6) / nj)"
        " / (cast(nj as double) - 1.0) / cast(nj as double))"
    )
    base = g.selectExpr(
        "event_type",
        "nj",
        "cast(sv as double) / 1e6 / nj AS mj",
        f"{se2} AS se2",
        f"cast(floor(1e9 / {se2} + 0.5) as bigint) AS iw9",
    )
    glob = base.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("iw9").cast("bigint").alias("siw9"),
        F.sum(
            F.expr("cast(floor(cast(iw9 as double) * mj + 0.5) as bigint)")
        )
        .cast("bigint")
        .alias("swm9"),
    )
    # t_j = (mj - grand)/sqrt(se2); Hill transformation
    t = (
        "((mj - cast(swm9 as double) / cast(siw9 as double))"
        " / sqrt(se2))"
    )
    av = "(cast(nj as double) - 1.5)"
    bv = f"(48.0 * {av} * {av})"
    cv = (
        f"sqrt({av} * "
        + _AG_SLN.format(u=f"(1.0 + {t} * {t} / (cast(nj as double) - 1.0))")
        + ")"
    )
    z = (
        f"({cv} + ({cv} * {cv} * {cv} + 3.0 * {cv}) / {bv}"
        f" - (4.0 * power({cv}, 7.0) + 33.0 * power({cv}, 5.0)"
        f" + 240.0 * {cv} * {cv} * {cv} + 855.0 * {cv})"
        f" / (10.0 * {bv} * {bv} + 8.0 * {bv} * power({cv}, 4.0)"
        f" + 1000.0 * {bv}))"
    )
    zs = (
        base.crossJoin(F.broadcast(glob))
        .selectExpr(
            "k",
            "n",
            f"cast(floor(1e6 * {z} * {z} + 0.5) as bigint) AS z2_micro",
        )
        .groupBy("k", "n")
        .agg(F.sum("z2_micro").cast("bigint").alias("a_stat_micro"))
    )
    return zs.selectExpr(
        "k",
        "n",
        "a_stat_micro",
        f"a_stat_micro > {_chi2_crit_micro('k')} AS reject_05",
    )


def _oracle_ag() -> str:
    se2 = (
        "((cast(svv AS DOUBLE) / 1e12"
        " - (cast(sv AS DOUBLE) / 1e6) * (cast(sv AS DOUBLE) / 1e6) / nj)"
        " / (cast(nj AS DOUBLE) - 1.0) / cast(nj AS DOUBLE))"
    )
    sln = "(cast(floor(1e9 * ln({u}) + 0.5) AS DOUBLE) / 1e9)"
    t = (
        "((mj - cast(swm9 AS DOUBLE) / cast(siw9 AS DOUBLE))"
        " / sqrt(se2))"
    )
    av = "(cast(nj AS DOUBLE) - 1.5)"
    bv = f"(48.0 * {av} * {av})"
    cv = (
        f"sqrt({av} * "
        + sln.format(u=f"(1.0 + {t} * {t} / (cast(nj AS DOUBLE) - 1.0))")
        + ")"
    )
    z = (
        f"({cv} + ({cv} * {cv} * {cv} + 3.0 * {cv}) / {bv}"
        f" - (4.0 * pow({cv}, 7.0) + 33.0 * pow({cv}, 5.0)"
        f" + 240.0 * {cv} * {cv} * {cv} + 855.0 * {cv})"
        f" / (10.0 * {bv} * {bv} + 8.0 * {bv} * pow({cv}, 4.0)"
        f" + 1000.0 * {bv}))"
    )
    return f"""
WITH g AS (
  SELECT event_type, count(*)::BIGINT AS nj,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS sv,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT)::HUGEINT
             * cast(floor(value * 1e6 + 0.5) AS BIGINT)) AS svv
  FROM events GROUP BY 1
),
base AS (
  SELECT event_type, nj,
         cast(sv AS DOUBLE) / 1e6 / nj AS mj,
         {se2} AS se2,
         cast(floor(1e9 / {se2} + 0.5) AS BIGINT) AS iw9
  FROM g
),
gl AS (
  SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
         sum(iw9)::BIGINT AS siw9,
         sum(cast(floor(cast(iw9 AS DOUBLE) * mj + 0.5)
             AS BIGINT))::BIGINT AS swm9
  FROM base
)
SELECT k, n,
       sum(cast(floor(1e6 * {z} * {z} + 0.5) AS BIGINT))::BIGINT
         AS a_stat_micro,
       sum(cast(floor(1e6 * {z} * {z} + 0.5) AS BIGINT))::BIGINT
         > {_chi2_crit_micro('k')} AS reject_05
FROM base, gl
GROUP BY 1, 2
"""


_ORACLE_AG = _oracle_ag()


# --------------------------------------------------------------------------
# Chauvenet's criterion (X7 [EXT])
# --------------------------------------------------------------------------


def q_chauvenet_criterion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Chauvenet's criterion on the daily mean series: flag
    day d when n·P(|Z| > z_d) < 1/2 ⟺ |z_d| > Φ⁻¹(1 - 1/(4n)) — the
    probit form needs no forward normal CDF (Acklam Φ⁻¹, the wave-155
    emitter). Sample sd (n-1); worst day by max |z| then min day.
    Output one row: n_days, z_crit_milli, n_outliers, worst_day,
    worst_z_milli."""
    e = _t(spark, sf_dir, "events")
    daily = barrier(  # mom pass + z pass
        e.selectExpr(
            f"unix_micros(ts) div {_DAY_US} AS d",
            "cast(floor(value * 1e6 + 0.5) as bigint) AS vm",
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
    )
    sd = (
        "sqrt((cast(sxx as double) / 1e12"
        " - (cast(sx as double) / 1e6) * (cast(sx as double) / 1e6) / n)"
        " / (cast(n as double) - 1.0))"
    )
    zm = (
        f"cast(floor(1e3 * (cast(x as double) / 1e6"
        f" - cast(sx as double) / 1e6 / n) / ({sd}) + 0.5) as bigint)"
    )
    crit = (
        "cast(floor(1e3 * "
        + _probit_sql("(1.0 - 1.0 / (4.0 * cast(n as double)))")
        + " + 0.5) as bigint)"
    )
    zs = daily.crossJoin(F.broadcast(mom)).selectExpr(
        "d", "n", f"{zm} AS z_milli", f"{crit} AS zc"
    )
    red = zs.groupBy("n", "zc").agg(
        F.sum(F.expr("cast(abs(z_milli) > zc as bigint)"))
        .cast("bigint")
        .alias("n_outliers"),
        F.max(F.abs(F.col("z_milli"))).cast("bigint").alias("wz"),
    )
    worst = (
        zs.join(
            F.broadcast(red.selectExpr("n AS n2", "wz")),
            F.expr("abs(z_milli) = wz"),
        )
        .groupBy("wz")
        .agg(
            F.min("d").cast("bigint").alias("worst_day"),
            F.min(F.expr("if(abs(z_milli) = wz, z_milli, null)"))
            .cast("bigint")
            .alias("worst_z_milli"),
        )
    )
    return red.join(F.broadcast(worst), "wz").selectExpr(
        "n AS n_days",
        "zc AS z_crit_milli",
        "n_outliers",
        "worst_day",
        "worst_z_milli",
    )


def _oracle_chauvenet() -> str:
    sd = (
        "sqrt((cast(sxx AS DOUBLE) / 1e12"
        " - (cast(sx AS DOUBLE) / 1e6) * (cast(sx AS DOUBLE) / 1e6) / n)"
        " / (cast(n AS DOUBLE) - 1.0))"
    )
    # duck dialect probit: same Acklam text with // and ln spelled alike
    probit = _probit_sql("(1.0 - 1.0 / (4.0 * cast(n AS DOUBLE)))")
    zm = (
        f"cast(floor(1e3 * (cast(x AS DOUBLE) / 1e6"
        f" - cast(sx AS DOUBLE) / 1e6 / n) / ({sd}) + 0.5) AS BIGINT)"
    )
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS x
  FROM events GROUP BY 1
),
mom AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         sum(x::HUGEINT * x) AS sxx
  FROM daily
),
zs AS (
  SELECT d, n, {zm} AS z_milli,
         cast(floor(1e3 * {probit} + 0.5) AS BIGINT) AS zc
  FROM daily, mom
),
red AS (
  SELECT n, zc,
         sum(CASE WHEN abs(z_milli) > zc THEN 1 ELSE 0 END)::BIGINT
           AS n_outliers,
         max(abs(z_milli))::BIGINT AS wz
  FROM zs GROUP BY 1, 2
)
SELECT n AS n_days, zc AS z_crit_milli, n_outliers,
       (SELECT min(d) FROM zs WHERE abs(z_milli) = wz)::BIGINT
         AS worst_day,
       (SELECT min(z_milli) FROM zs WHERE abs(z_milli) = wz)::BIGINT
         AS worst_z_milli
FROM red
"""


_ORACLE_CHAUVENET = _oracle_chauvenet()


# --------------------------------------------------------------------------
# Fisher's g-test for hidden periodicity (X7 [EXT])
# --------------------------------------------------------------------------


def q_fisher_g_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Fisher's (1929) g: is the largest periodogram ordinate
    of the daily mean series too big for white noise? Daily CENTI
    means, day rank r (Blelloch prefix), full Fourier grid
    k = 1..⌊(T-1)/2⌋; C'_k = Σ(T·x - SX)·cos_micro(2π(kr mod T)/T)
    (exact integers, scale cancels), I'_k = C'² + S'² as decimal;
    g = max I'/ΣI', argmax by max-I' + min-k; first-term Fisher bound
    p ≈ N(1-g)^(N-1). Output one row: n_days, n_freqs, k_star,
    g_micro, reject_05."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.selectExpr(
            f"unix_micros(ts) div {_DAY_US} AS d",
            "cast(floor(value * 100.0 + 0.5) as bigint) AS vc",
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vc) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )
    ranked = barrier(exclusive_prefix_sum(
        daily.withColumn("one", F.lit(1).cast("bigint")), "d", "one",
        out="r",
    ))
    mom = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    grid = (
        ranked.crossJoin(F.broadcast(mom))
        .selectExpr(
            "t", "sx", "r", "cast(t as bigint) * x - sx AS xc",
            "explode(sequence(1, (t - 1) div 2)) AS kf",
        )
        .selectExpr(
            "t",
            "kf",
            "cast(xc as decimal(38,0))"
            f" * cast(floor(1e6 * cos({_TWO_PI} * pmod(kf * r, t) / t)"
            " + 0.5) as bigint) AS ct",
            "cast(xc as decimal(38,0))"
            f" * cast(floor(1e6 * sin({_TWO_PI} * pmod(kf * r, t) / t)"
            " + 0.5) as bigint) AS st",
        )
    )
    per_k = grid.groupBy("t", "kf").agg(
        F.expr("sum(ct)").alias("c2"), F.expr("sum(st)").alias("s2")
    ).selectExpr("t", "kf", "c2 * c2 + s2 * s2 AS ik")
    red = per_k.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("nf"),
        F.max("ik").alias("imax"),
        F.sum("ik").alias("isum"),
    )
    kstar = (
        per_k.join(
            F.broadcast(red.selectExpr("t AS t2", "imax")),
            F.expr("ik = imax"),
        )
        .groupBy("imax")
        .agg(F.min("kf").cast("bigint").alias("k_star"))
    )
    g = "cast(floor(1e6 * cast(imax as double) / cast(isum as double) + 0.5) as bigint)"
    rej = (
        f"cast(nf as double) * power(1.0 - {g} / 1e6,"
        " cast(nf as double) - 1.0) < 0.05"
    )
    return red.join(F.broadcast(kstar), "imax").selectExpr(
        "t AS n_days",
        "nf AS n_freqs",
        "k_star",
        f"{g} AS g_micro",
        f"{rej} AS reject_05",
    )


_ORACLE_FISHER_G = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS x
  FROM events GROUP BY 1
),
ranked AS (
  SELECT x, (row_number() OVER (ORDER BY d) - 1)::BIGINT AS r FROM daily
),
mom AS (SELECT count(*)::BIGINT AS t, sum(x)::BIGINT AS sx FROM ranked),
grid AS (
  SELECT t, kf,
         xc::HUGEINT * cast(floor(1e6 * cos({_TWO_PI} * mod(kf * r, t) / t)
           + 0.5) AS BIGINT) AS ct,
         xc::HUGEINT * cast(floor(1e6 * sin({_TWO_PI} * mod(kf * r, t) / t)
           + 0.5) AS BIGINT) AS st
  FROM (
    SELECT t, sx, r, t * x - sx AS xc,
           unnest(range(1, (t - 1) // 2 + 1)) AS kf
    FROM ranked, mom
  )
),
per_k AS (
  SELECT t, kf, sum(ct) * sum(ct) + sum(st) * sum(st) AS ik
  FROM grid GROUP BY 1, 2
),
red AS (
  SELECT t, count(*)::BIGINT AS nf, max(ik) AS imax, sum(ik) AS isum
  FROM per_k GROUP BY 1
)
SELECT t AS n_days, nf AS n_freqs,
       (SELECT min(kf) FROM per_k WHERE ik = imax)::BIGINT AS k_star,
       cast(floor(1e6 * cast(imax AS DOUBLE) / cast(isum AS DOUBLE) + 0.5)
         AS BIGINT) AS g_micro,
       cast(nf AS DOUBLE) * pow(1.0 - cast(floor(1e6 * cast(imax AS DOUBLE)
           / cast(isum AS DOUBLE) + 0.5) AS BIGINT) / 1e6,
         cast(nf AS DOUBLE) - 1.0) < 0.05 AS reject_05
FROM red
"""


# --------------------------------------------------------------------------
# Bhapkar marginal-homogeneity test (X7 [EXT])
# --------------------------------------------------------------------------


def q_bhapkar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Bhapkar (1966) marginal homogeneity: the Wald-variance
    variant of Stuart-Maxwell, exactly W = χ²_SM / (1 - χ²_SM/n) for
    any table — derived here from the ext127 stuart_maxwell_test
    pipeline's published (snapped) chi2_milli so the two tests' tables
    stay consistent; W >= χ²_SM always, df = 2. Output one row:
    n_users, chi2_sm_milli, w_milli, reject_05."""
    sm = q_stuart_maxwell_test(spark, sf_dir)
    return sm.selectExpr(
        "n_users",
        "chi2_milli AS chi2_sm_milli",
        "cast(floor((cast(chi2_milli as double) / 1e3)"
        " / (1.0 - cast(chi2_milli as double) / 1e3"
        " / cast(n_users as double)) * 1e3 + 0.5) as bigint) AS w_milli",
        "cast(floor((cast(chi2_milli as double) / 1e3)"
        " / (1.0 - cast(chi2_milli as double) / 1e3"
        " / cast(n_users as double)) * 1e3 + 0.5) as bigint)"
        f" > {_CHI2_2_95_MILLI} AS reject_05",
    )


_ORACLE_BHAPKAR = f"""
WITH sm AS ({_ORACLE_SM})
SELECT n_users, chi2_milli AS chi2_sm_milli,
       cast(floor((cast(chi2_milli AS DOUBLE) / 1e3)
         / (1.0 - cast(chi2_milli AS DOUBLE) / 1e3
            / cast(n_users AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS w_milli,
       cast(floor((cast(chi2_milli AS DOUBLE) / 1e3)
         / (1.0 - cast(chi2_milli AS DOUBLE) / 1e3
            / cast(n_users AS DOUBLE)) * 1e3 + 0.5) AS BIGINT)
         > {_CHI2_2_95_MILLI} AS reject_05
FROM sm
"""


REGISTRY_EXT162: dict[str, QuerySpec] = {
    "passing_bablok_regression": QuerySpec(
        q_passing_bablok_regression, _ORACLE_PB,
        "X7 [EXT] Passing-Bablok",
    ),
    "alexander_govern_test": QuerySpec(
        q_alexander_govern_test, _ORACLE_AG, "X7 [EXT] Alexander-Govern"
    ),
    "chauvenet_criterion": QuerySpec(
        q_chauvenet_criterion, _ORACLE_CHAUVENET, "X7 [EXT] Chauvenet"
    ),
    "fisher_g_periodicity": QuerySpec(
        q_fisher_g_periodicity, _ORACLE_FISHER_G, "X7 [EXT] Fisher g"
    ),
    "bhapkar_test": QuerySpec(
        q_bhapkar_test, _ORACLE_BHAPKAR, "X7 [EXT] Bhapkar"
    ),
}
