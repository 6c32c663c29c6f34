"""Wave 158 [EXT]: dependence and effect-size completers — Hoeffding's
(1948) D test of general bivariate dependence (the rank test that
detects NON-monotone association Kendall/Spearman miss) with the
Hollander-Wolfe/Hmisc tie conventions, the Gini mean difference plus
the classic Gini concentration index off one tie-run prefix walk,
Bowley's (1920) quartile skewness + Moors' (1988) octile kurtosis
(the robust moment pair), and Cohen's d with Hedges' small-sample g.
Companions of the shipped kendall_tau_exact_cells /
goodman_kruskal_gamma / blomqvist_beta (rank dependence),
theil_index_decomposition (inequality), jarque_bera_normality (moment
shape), and cliffs_delta_effect / cohens_f2_effect (effect sizes).

hoeffding_d is the wave's centerpiece: per (user, day) the pair is
(x = activity count, y = centi-snapped mean value). Both marginals
reduce to value-domain cells; the joint frame J(a,b) is DENSIFIED to
the observed-level grid (|x-levels| × |y-levels| — bounded by the two
VALUE DOMAINS, not the corpus; the hodges_lehmann bounded-cross
category) so the 2-D dominance counts come from TWO PARTITIONED
windows (within-column y-prefix, then within-row x-prefix of it) — no
global window, no per-observation work:
  4·Q(a,b) = 4 + 4·G + 2·B + 2·C + (J - 1)
  (G strictly-below-both, B ties-x-below-y, C below-x-ties-y,
   quarter weights per Hmisc's c-function convention),
midranks carried as integers 2R = 2·prefix + f + 1. The D1/D2/D3
sums are per-cell SAME-TEXT doubles of the n-SCALED factors
((Q-1)/n etc., each ≤ 1), nano-snapped before the exact integer sum —
scale-safe staging at any n, unlike raw D2 ~ n⁴ integers.

Scale notes (the 100x question, per query):
- hoeffding_d: corpus → (user, day) map-side aggregate → joint
  value-cell frame; the dense grid and both windows are bounded by
  |x-domain| × |y-domain|.
- gini_mean_difference: centi value cells + one Blelloch prefix; the
  sorted-sample identity Δ = 2·Σ(2i-n-1)x_(i)/(n(n-1)) collapses per
  tie run to v·l·(2·nb + l - n) — exact integers end to end.
- bowley_moors_robust_moments: all seven octiles come off ONE prefix
  walk (order statistic at rank ceil(k·n/8), exact integer ranks).
- cohens_d_hedges_g: two conditional moment aggregates; Hedges'
  J = 1 - 3/(4·df - 1) (the standard approximation to the exact
  gamma-ratio correction, documented).

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_CD_A, _CD_B = "click", "purchase"


# --------------------------------------------------------------------------
# Hoeffding's D (X7 [EXT])
# --------------------------------------------------------------------------


def q_hoeffding_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Hoeffding (1948) D between daily activity and daily
    mean value, tie conventions per Hollander-Wolfe / Hmisc::hoeffd:
    with midranks R_i, S_i and Q_i = 1 + #(both strictly below) +
    ½·#(one tied, other below) + ¼·#(both tied, excluding self),

      D = 30·((n-2)(n-3)·D1 + D2 - 2(n-2)·D3)
            / (n(n-1)(n-2)(n-3)(n-4)),
      D1 = Σ(Q_i-1)(Q_i-2),  D2 = Σ(R_i-1)(R_i-2)(S_i-1)(S_i-2),
      D3 = Σ(R_i-2)(S_i-2)(Q_i-1)

    — D ∈ [-0.5, 1], > 0 under ANY dependence (not just monotone).
    Output one row: n, d_micro, d1_nano/d2_nano/d3_nano (the n-scaled
    component sums D1/n², D2/n⁴, D3/n³ for transparency)."""
    e = _t(spark, sf_dir, "events")
    pairs = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(1) / 1e4 + 0.5)"
                " as bigint)"
            ).alias("y"),
        )
    )
    joint = barrier(  # marginals + dense grid passes
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    xm = joint.groupBy("x").agg(F.sum("w").cast("bigint").alias("fx"))
    xm = exclusive_prefix_sum(xm, "x", "fx", out="xb").selectExpr(
        "x", "2 * xb + fx + 1 AS r2"
    )
    ym = joint.groupBy("y").agg(F.sum("w").cast("bigint").alias("fy"))
    ym = exclusive_prefix_sum(ym, "y", "fy", out="yb").selectExpr(
        "y", "2 * yb + fy + 1 AS s2"
    )
    tot = joint.agg(F.sum("w").cast("bigint").alias("n"))
    # dense observed-level grid: |x-levels| x |y-levels| (value-domain
    # bounded cross — the hodges_lehmann sanctioned category)
    dense = (
        xm.select("x")
        .crossJoin(ym.select("y"))
        .join(joint, ["x", "y"], "left")
        .withColumn("w", F.coalesce(F.col("w"), F.lit(0).cast("bigint")))
    )
    w_col = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_row = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dense = dense.withColumn(
        "b", F.coalesce(F.sum("w").over(w_col), F.lit(0).cast("bigint"))
    )
    dense = dense.withColumn(
        "g", F.coalesce(F.sum("b").over(w_row), F.lit(0).cast("bigint"))
    ).withColumn(
        "c", F.coalesce(F.sum("w").over(w_row), F.lit(0).cast("bigint"))
    )
    obs = (
        dense.filter(F.col("w") > 0)
        .join(xm, "x")
        .join(ym, "y")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "n",
            "w",
            "r2",
            "s2",
            "4 + 4 * g + 2 * b + 2 * c + (w - 1) AS q4",
        )
    )
    nn = "cast(n as double)"
    q1 = f"(cast(q4 - 4 as double) / (4.0 * {nn}))"  # (Q-1)/n
    q2 = f"(cast(q4 - 8 as double) / (4.0 * {nn}))"  # (Q-2)/n
    r1 = f"(cast(r2 - 2 as double) / (2.0 * {nn}))"  # (R-1)/n
    r2_ = f"(cast(r2 - 4 as double) / (2.0 * {nn}))"  # (R-2)/n
    s1 = f"(cast(s2 - 2 as double) / (2.0 * {nn}))"
    s2_ = f"(cast(s2 - 4 as double) / (2.0 * {nn}))"
    red = (
        obs.selectExpr(
            "n",
            f"cast(floor(1e9 * cast(w as double) * {q1} * {q2} + 0.5)"
            " as bigint) AS t1",
            f"cast(floor(1e9 * cast(w as double) * {r1} * {r2_} * {s1}"
            f" * {s2_} + 0.5) as bigint) AS t2",
            f"cast(floor(1e9 * cast(w as double) * {r2_} * {s2_} * {q1}"
            " + 0.5) as bigint) AS t3",
        )
        .groupBy("n")
        .agg(
            F.sum("t1").cast("bigint").alias("d1n"),
            F.sum("t2").cast("bigint").alias("d2n"),
            F.sum("t3").cast("bigint").alias("d3n"),
        )
    )
    dd = (
        f"(30.0 * (({nn} - 2.0) * ({nn} - 3.0) * (cast(d1n as double) / 1e9)"
        f" * {nn} * {nn}"
        f" + (cast(d2n as double) / 1e9) * {nn} * {nn} * {nn} * {nn}"
        f" - 2.0 * ({nn} - 2.0) * (cast(d3n as double) / 1e9)"
        f" * {nn} * {nn} * {nn})"
        f" / ({nn} * ({nn} - 1.0) * ({nn} - 2.0) * ({nn} - 3.0)"
        f" * ({nn} - 4.0)))"
    )
    return red.selectExpr(
        "n",
        f"cast(floor(1e6 * {dd} + 0.5) as bigint) AS d_micro",
        "d1n AS d1_nano",
        "d2n AS d2_nano",
        "d3n AS d3_nano",
    )


_HOEF_Q1 = "(cast(q4 - 4 AS DOUBLE) / (4.0 * cast(n AS DOUBLE)))"
_HOEF_Q2 = "(cast(q4 - 8 AS DOUBLE) / (4.0 * cast(n AS DOUBLE)))"
_HOEF_R1 = "(cast(r2 - 2 AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))"
_HOEF_R2 = "(cast(r2 - 4 AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))"
_HOEF_S1 = "(cast(s2 - 2 AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))"
_HOEF_S2 = "(cast(s2 - 4 AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))"
_HOEF_D = """
(30.0 * ((cast(n AS DOUBLE) - 2.0) * (cast(n AS DOUBLE) - 3.0)
   * (cast(d1n AS DOUBLE) / 1e9) * cast(n AS DOUBLE) * cast(n AS DOUBLE)
 + (cast(d2n AS DOUBLE) / 1e9) * cast(n AS DOUBLE) * cast(n AS DOUBLE)
   * cast(n AS DOUBLE) * cast(n AS DOUBLE)
 - 2.0 * (cast(n AS DOUBLE) - 2.0) * (cast(d3n AS DOUBLE) / 1e9)
   * cast(n AS DOUBLE) * cast(n AS DOUBLE) * cast(n AS DOUBLE))
 / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0)
    * (cast(n AS DOUBLE) - 2.0) * (cast(n AS DOUBLE) - 3.0)
    * (cast(n AS DOUBLE) - 4.0)))
"""

_ORACLE_HOEFFDING = f"""
WITH pairs AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS d,
         count(*)::BIGINT AS x,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) / 1e4 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
joint AS (SELECT x, y, count(*)::BIGINT AS w FROM pairs GROUP BY 1, 2),
xm AS (
  SELECT x,
         2 * (sum(fx) OVER (ORDER BY x) - fx) + fx + 1 AS r2
  FROM (SELECT x, sum(w)::BIGINT AS fx FROM joint GROUP BY 1)
),
ym AS (
  SELECT y,
         2 * (sum(fy) OVER (ORDER BY y) - fy) + fy + 1 AS s2
  FROM (SELECT y, sum(w)::BIGINT AS fy FROM joint GROUP BY 1)
),
tot AS (SELECT sum(w)::BIGINT AS n FROM joint),
dense AS (
  SELECT xl.x, yl.y, coalesce(w, 0)::BIGINT AS w
  FROM (SELECT x FROM xm) xl
  CROSS JOIN (SELECT y FROM ym) yl
  LEFT JOIN joint ON joint.x = xl.x AND joint.y = yl.y
),
pref AS (
  SELECT x, y, w,
         coalesce(sum(w) OVER (PARTITION BY x ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS b
  FROM dense
),
pref2 AS (
  SELECT x, y, w, b,
         coalesce(sum(b) OVER (PARTITION BY y ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS g,
         coalesce(sum(w) OVER (PARTITION BY y ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS c
  FROM pref
),
obs AS (
  SELECT n, w, r2, s2,
         4 + 4 * g + 2 * b + 2 * c + (w - 1) AS q4
  FROM pref2 JOIN xm USING (x) JOIN ym USING (y), tot
  WHERE w > 0
),
red AS (
  SELECT n,
         sum(cast(floor(1e9 * cast(w AS DOUBLE) * {_HOEF_Q1} * {_HOEF_Q2}
             + 0.5) AS BIGINT))::BIGINT AS d1n,
         sum(cast(floor(1e9 * cast(w AS DOUBLE) * {_HOEF_R1} * {_HOEF_R2}
             * {_HOEF_S1} * {_HOEF_S2} + 0.5) AS BIGINT))::BIGINT AS d2n,
         sum(cast(floor(1e9 * cast(w AS DOUBLE) * {_HOEF_R2} * {_HOEF_S2}
             * {_HOEF_Q1} + 0.5) AS BIGINT))::BIGINT AS d3n
  FROM obs GROUP BY 1
)
SELECT n,
       cast(floor(1e6 * {_HOEF_D} + 0.5) AS BIGINT) AS d_micro,
       d1n AS d1_nano, d2n AS d2_nano, d3n AS d3_nano
FROM red
"""


# --------------------------------------------------------------------------
# Gini mean difference + Gini index (X7 [EXT])
# --------------------------------------------------------------------------


def q_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Gini mean difference Δ = Σ_{i≠j}|x_i-x_j|/(n(n-1)) of
    the event-value distribution, via the sorted-sample identity
    Δ = 2·Σ_i (2i-n-1)·x_(i)/(n(n-1)): per tie run [a..b] at centi
    value v the inner sum collapses to v·l·(2·nb + l - n) — exact
    integers end to end. Also the Gini concentration index
    G = Δ/(2·mean) ∈ [0,1]. Output one row: n, gmd_micro,
    gini_micro."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    pref = exclusive_prefix_sum(cells, "vc", "f", out="nb")
    tot = pref.agg(
        F.max(F.expr("nb + f")).cast("bigint").alias("n"),
        F.sum(F.expr(f"{_DEC.format(x='f')} * vc")).alias("sv"),
    )
    red = (
        pref.crossJoin(F.broadcast(tot))
        .groupBy("n", "sv")
        .agg(
            F.sum(
                F.expr(f"{_DEC.format(x='vc')} * f * (2 * nb + f - n)")
            ).alias("t")
        )
    )
    nn = "cast(n as double)"
    gmd = f"(2.0 * cast(t as double) / ({nn} * ({nn} - 1.0)) / 100.0)"
    mean = f"(cast(sv as double) / {nn} / 100.0)"
    return red.selectExpr(
        "n",
        f"cast(floor(1e6 * {gmd} + 0.5) as bigint) AS gmd_micro",
        f"cast(floor(1e6 * {gmd} / (2.0 * {mean}) + 0.5) as bigint)"
        " AS gini_micro",
    )


_ORACLE_GMD = """
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1
),
pref AS (
  SELECT vc, f,
         coalesce(sum(f) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (
  SELECT max(nb + f)::BIGINT AS n, sum(f::HUGEINT * vc) AS sv FROM pref
),
red AS (
  SELECT n, sv,
         sum(vc::HUGEINT * f * (2 * nb + f - n)) AS t
  FROM pref, tot GROUP BY 1, 2
)
SELECT n,
       cast(floor(1e6 * (2.0 * cast(t AS DOUBLE)
         / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0)) / 100.0)
         + 0.5) AS BIGINT) AS gmd_micro,
       cast(floor(1e6 * (2.0 * cast(t AS DOUBLE)
         / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0)) / 100.0)
         / (2.0 * (cast(sv AS DOUBLE) / cast(n AS DOUBLE) / 100.0))
         + 0.5) AS BIGINT) AS gini_micro
FROM red
"""


# --------------------------------------------------------------------------
# Bowley skewness + Moors kurtosis (X7 [EXT])
# --------------------------------------------------------------------------


def q_bowley_moors_robust_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X7 robust quantile-based shape moments of the event-value
    distribution, all seven octiles E1..E7 (order statistic at rank
    ceil(k·n/8), exact integer ranks) off ONE prefix walk:
    Bowley (1920) skewness (E6 + E2 - 2·E4)/(E6 - E2) and Moors (1988)
    kurtosis ((E7-E5) + (E3-E1))/(E6-E2) (≈ 1.233 for the normal).
    Output one row: n, e1..e7 (centi), bowley_micro, moors_micro."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    pref = exclusive_prefix_sum(cells, "vc", "f", out="nb")
    tot = pref.agg(F.max(F.expr("nb + f")).cast("bigint").alias("n"))
    octs = [
        F.min(
            F.expr(f"if(nb + f >= (({k} * n + 7) div 8), vc, null)")
        ).cast("bigint").alias(f"e{k}")
        for k in range(1, 8)
    ]
    red = pref.crossJoin(F.broadcast(tot)).groupBy("n").agg(*octs)
    bow = (
        "(cast(e6 + e2 - 2 * e4 as double) / cast(e6 - e2 as double))"
    )
    moors = (
        "(cast((e7 - e5) + (e3 - e1) as double) / cast(e6 - e2 as double))"
    )
    return red.selectExpr(
        "n",
        "e1", "e2", "e3", "e4", "e5", "e6", "e7",
        f"cast(floor(1e6 * {bow} + 0.5) as bigint) AS bowley_micro",
        f"cast(floor(1e6 * {moors} + 0.5) as bigint) AS moors_micro",
    )


_ORACLE_BOWLEY = """
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1
),
pref AS (
  SELECT vc, f,
         coalesce(sum(f) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (SELECT max(nb + f)::BIGINT AS n FROM pref),
red AS (
  SELECT n,
         min(CASE WHEN nb + f >= (1 * n + 7) // 8 THEN vc END)::BIGINT AS e1,
         min(CASE WHEN nb + f >= (2 * n + 7) // 8 THEN vc END)::BIGINT AS e2,
         min(CASE WHEN nb + f >= (3 * n + 7) // 8 THEN vc END)::BIGINT AS e3,
         min(CASE WHEN nb + f >= (4 * n + 7) // 8 THEN vc END)::BIGINT AS e4,
         min(CASE WHEN nb + f >= (5 * n + 7) // 8 THEN vc END)::BIGINT AS e5,
         min(CASE WHEN nb + f >= (6 * n + 7) // 8 THEN vc END)::BIGINT AS e6,
         min(CASE WHEN nb + f >= (7 * n + 7) // 8 THEN vc END)::BIGINT AS e7
  FROM pref, tot GROUP BY 1
)
SELECT n, e1, e2, e3, e4, e5, e6, e7,
       cast(floor(1e6 * (cast(e6 + e2 - 2 * e4 AS DOUBLE)
         / cast(e6 - e2 AS DOUBLE)) + 0.5) AS BIGINT) AS bowley_micro,
       cast(floor(1e6 * (cast((e7 - e5) + (e3 - e1) AS DOUBLE)
         / cast(e6 - e2 AS DOUBLE)) + 0.5) AS BIGINT) AS moors_micro
FROM red
"""


# --------------------------------------------------------------------------
# Cohen's d + Hedges' g (X7 [EXT])
# --------------------------------------------------------------------------


def q_cohens_d_hedges_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 standardized mean difference of '{a}' minus '{b}'
    event values: Cohen's d = (m̄_a - m̄_b)/s_p with the pooled
    s_p² = ((n_a-1)s_a² + (n_b-1)s_b²)/(n_a+n_b-2), and Hedges'
    g = J·d with the standard small-sample correction
    J = 1 - 3/(4·df - 1) (Hedges 1981's approximation to the exact
    gamma ratio, error O(df⁻²)). Moments stage exact integer micro
    sums. Output one row: n_a, n_b, d_micro, g_micro, sp_micro."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    g = (
        e.select(
            F.expr(f"cast(event_type = '{_CD_A}' as int)").alias("isa"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("isa")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("vm").cast("bigint").alias("s1"),
            F.sum(F.expr(f"{_DEC.format(x='vm')} * vm")).alias("s2"),
        )
    )
    wide = g.groupBy().agg(
        F.max(F.expr("if(isa = 1, n, null)")).alias("na"),
        F.max(F.expr("if(isa = 1, s1, null)")).alias("sa1"),
        F.max(F.expr("if(isa = 1, s2, null)")).alias("sa2"),
        F.max(F.expr("if(isa = 0, n, null)")).alias("nb"),
        F.max(F.expr("if(isa = 0, s1, null)")).alias("sb1"),
        F.max(F.expr("if(isa = 0, s2, null)")).alias("sb2"),
    )
    ssq = (
        "((cast({s2} as double) - cast({s1} as double)"
        " * (cast({s1} as double) / cast({n} as double))))"
    )
    sp = (
        f"sqrt(({ssq.format(s2='sa2', s1='sa1', n='na')}"
        f" + {ssq.format(s2='sb2', s1='sb1', n='nb')})"
        " / (cast(na + nb as double) - 2.0)) / 1e6"
    )
    d = (
        "((cast(sa1 as double) / cast(na as double)"
        " - cast(sb1 as double) / cast(nb as double)) / 1e6"
        f" / ({sp}))"
    )
    j = "(1.0 - 3.0 / (4.0 * (cast(na + nb as double) - 2.0) - 1.0))"
    return wide.selectExpr(
        "na AS n_a",
        "nb AS n_b",
        f"cast(floor(1e6 * {d} + 0.5) as bigint) AS d_micro",
        f"cast(floor(1e6 * {j} * {d} + 0.5) as bigint) AS g_micro",
        f"cast(floor(1e6 * {sp} + 0.5) as bigint) AS sp_micro",
    )


_CD_SSQ = (
    "((cast({s2} AS DOUBLE) - cast({s1} AS DOUBLE)"
    " * (cast({s1} AS DOUBLE) / cast({n} AS DOUBLE))))"
)
_CD_SP = (
    f"sqrt(({_CD_SSQ.format(s2='sa2', s1='sa1', n='na')}"
    f" + {_CD_SSQ.format(s2='sb2', s1='sb1', n='nb')})"
    " / (cast(na + nb AS DOUBLE) - 2.0)) / 1e6"
)
_CD_D = (
    "((cast(sa1 AS DOUBLE) / cast(na AS DOUBLE)"
    " - cast(sb1 AS DOUBLE) / cast(nb AS DOUBLE)) / 1e6"
    f" / ({_CD_SP}))"
)
_CD_J = "(1.0 - 3.0 / (4.0 * (cast(na + nb AS DOUBLE) - 2.0) - 1.0))"

_ORACLE_COHENS_D = f"""
WITH g AS (
  SELECT CASE WHEN event_type = '{_CD_A}' THEN 1 ELSE 0 END AS isa,
         count(*)::BIGINT AS n,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS s1,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT)::HUGEINT
             * cast(floor(value * 1e6 + 0.5) AS BIGINT)) AS s2
  FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
  GROUP BY 1
),
wide AS (
  SELECT max(CASE WHEN isa = 1 THEN n END) AS na,
         max(CASE WHEN isa = 1 THEN s1 END) AS sa1,
         max(CASE WHEN isa = 1 THEN s2 END) AS sa2,
         max(CASE WHEN isa = 0 THEN n END) AS nb,
         max(CASE WHEN isa = 0 THEN s1 END) AS sb1,
         max(CASE WHEN isa = 0 THEN s2 END) AS sb2
  FROM g
)
SELECT na AS n_a, nb AS n_b,
       cast(floor(1e6 * {_CD_D} + 0.5) AS BIGINT) AS d_micro,
       cast(floor(1e6 * {_CD_J} * {_CD_D} + 0.5) AS BIGINT) AS g_micro,
       cast(floor(1e6 * {_CD_SP} + 0.5) AS BIGINT) AS sp_micro
FROM wide
"""


REGISTRY_EXT158: dict[str, QuerySpec] = {
    "hoeffding_d": QuerySpec(
        q_hoeffding_d, _ORACLE_HOEFFDING, "X7 [EXT] Hoeffding D"
    ),
    "gini_mean_difference": QuerySpec(
        q_gini_mean_difference, _ORACLE_GMD, "X7 [EXT] GMD + Gini index"
    ),
    "bowley_moors_robust_moments": QuerySpec(
        q_bowley_moors_robust_moments, _ORACLE_BOWLEY,
        "X7 [EXT] Bowley/Moors",
    ),
    "cohens_d_hedges_g": QuerySpec(
        q_cohens_d_hedges_g, _ORACLE_COHENS_D, "X7 [EXT] Cohen d/Hedges g"
    ),
}

q_cohens_d_hedges_g.__doc__ = q_cohens_d_hedges_g.__doc__.format(
    a=_CD_A, b=_CD_B
)
