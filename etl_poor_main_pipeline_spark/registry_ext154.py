"""Wave 154 [EXT]: one-sample normality GoF completers — Lilliefors
(1967) KS against the FITTED normal, the Anderson-Darling (1954) A²
with exact tie-run coefficient algebra, and the one-sample
Cramér-von Mises W² — plus the Gini-impurity split finder (the CART
classification twin of the shipped variance-split
histogram_split_finder). Companions of jarque_bera_normality /
dagostino_k2_normality (moment tests — these three are the EDF
tests), ks_two_sample_drift, cramer_von_mises_2samp.

The EDF statistics are per-OBSERVATION sums, but within a tie run
[a..b] (one centi value cell) the fitted CDF Φ(z) is constant, so the
rank sums collapse exactly:
  Σ_{i=a..b} (2i-1)           = (b-a+1)(a+b-1)
  Σ_{i=a..b} (2(n+1-i)-1)     = (b-a+1)(2n+1-a-b)
  Σ_{i=a..b} (2i-1)²          = f(b) - f(a-1),  f(m) = m(2m-1)(2m+1)/3
— all exact integers off the cell-CDF prefix walk (the sanctioned
cramer_von_mises_2samp category). Φ uses the Bowling logistic
approximation (registry_ext69 _PHI, identical text both engines),
snapped micro and clamped to [1, 999999] before ln; per-cell terms
snap nano before the cross-cell sum so both engines add identical
integers.

Scale notes (the 100x question): every query reduces the corpus to
CENTI value cells first; the prefix walk and term sums are bounded by
the value domain, not the corpus.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_PHI = "(1.0 / (1.0 + exp(-1.5976 * {z} - 0.070566 * {z} * {z} * {z})))"


def _cells_with_ranks(spark: SparkSession, sf_dir: str):
    """(cells with [a..b] tie-run ranks + snapped Φ micro, broadcast
    moments) over the centi value-cell frame."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    cells = barrier(cells)  # moments + prefix passes
    m = cells.agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr("w * vc")).cast("bigint").alias("s1"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * vc * vc")).alias("s2"),
    )
    pref = exclusive_prefix_sum(cells, "vc", "w", out="nb")
    nn = "cast(n as double)"
    mean = f"(cast(s1 as double) / {nn})"
    sd = (
        f"sqrt((cast(s2 as double) - cast(s1 as double) * {mean})"
        f" / ({nn} - 1.0D))"
    )
    z = f"((cast(vc as double) - {mean}) / {sd})"
    phi = _PHI.format(z=z)
    frame = pref.crossJoin(F.broadcast(m)).selectExpr(
        "vc",
        "n",
        "nb + 1 AS ra",  # run start rank a
        "nb + w AS rb",  # run end rank b
        # snapped, clamped Φ micro (ln needs (0,1) strictly)
        f"greatest(least(cast(floor(1e6 * {phi} + 0.5) as bigint),"
        " cast(999999 as bigint)), cast(1 as bigint)) AS pm",
    )
    return frame, m


_SQL_CELL_FRAME = f"""
cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS w
  FROM events GROUP BY 1
),
m AS (
  SELECT sum(w)::BIGINT AS n, sum(w * vc)::BIGINT AS s1,
         sum(w::HUGEINT * vc * vc) AS s2
  FROM cells
),
pref AS (
  SELECT vc, w,
         coalesce(sum(w) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
frame AS (
  SELECT vc, n, nb + 1 AS ra, nb + w AS rb,
         greatest(least(cast(floor(1e6 * {_PHI.format(z="((cast(vc AS DOUBLE) - (cast(s1 AS DOUBLE) / cast(n AS DOUBLE))) / sqrt((cast(s2 AS DOUBLE) - cast(s1 AS DOUBLE) * (cast(s1 AS DOUBLE) / cast(n AS DOUBLE))) / (cast(n AS DOUBLE) - 1.0)))")}
           + 0.5) AS BIGINT), 999999), 1) AS pm
  FROM pref, m
)
"""


# --------------------------------------------------------------------------
# Lilliefors KS vs fitted normal (X7 [EXT])
# --------------------------------------------------------------------------


def q_lilliefors_ks_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Lilliefors (1967): the KS distance between the ECDF and
    the normal FITTED from the same sample (estimated μ, σ shrink the
    null distribution — plain KS tables are wrong here, which is
    Lilliefors' point). D = max(D+, D-) with D+ = max_c(b/n - Φ_c),
    D- = max_c(Φ_c - (a-1)/n) over the tie-run frame. Output one row:
    n, mean_micro, sd_micro, d_plus_micro, d_minus_micro, d_micro."""
    frame, m = _cells_with_ranks(spark, sf_dir)
    red = frame.groupBy("n").agg(
        F.max(
            F.expr(
                "cast(rb as double) / cast(n as double)"
                " - cast(pm as double) / 1e6"
            )
        ).alias("dp"),
        F.max(
            F.expr(
                "cast(pm as double) / 1e6"
                " - cast(ra - 1 as double) / cast(n as double)"
            )
        ).alias("dm"),
    )
    nn = "cast(n as double)"
    mean = f"(cast(s1 as double) / {nn})"
    sd = (
        f"sqrt((cast(s2 as double) - cast(s1 as double) * {mean})"
        f" / ({nn} - 1.0D))"
    )
    return (
        red.crossJoin(
            F.broadcast(
                m.selectExpr(
                    f"cast(floor({mean} + 0.5) as bigint) AS mean_c",
                    f"cast(floor(1e6 * {sd} + 0.5) as bigint) AS sd_m",
                )
            )
        )
        .selectExpr(
            "n",
            "mean_c AS mean_centi",
            "sd_m AS sd_centi_micro",
            "cast(floor(1e6 * dp + 0.5) as bigint) AS d_plus_micro",
            "cast(floor(1e6 * dm + 0.5) as bigint) AS d_minus_micro",
            "cast(floor(1e6 * greatest(dp, dm) + 0.5) as bigint)"
            " AS d_micro",
        )
    )


_ORACLE_LILLIEFORS = f"""
WITH {_SQL_CELL_FRAME},
red AS (
  SELECT n,
         max(cast(rb AS DOUBLE) / cast(n AS DOUBLE)
           - cast(pm AS DOUBLE) / 1e6) AS dp,
         max(cast(pm AS DOUBLE) / 1e6
           - cast(ra - 1 AS DOUBLE) / cast(n AS DOUBLE)) AS dm
  FROM frame GROUP BY 1
)
SELECT r.n,
       cast(floor((cast(s1 AS DOUBLE) / cast(m.n AS DOUBLE)) + 0.5)
         AS BIGINT) AS mean_centi,
       cast(floor(1e6 * sqrt((cast(s2 AS DOUBLE) - cast(s1 AS DOUBLE)
         * (cast(s1 AS DOUBLE) / cast(m.n AS DOUBLE)))
         / (cast(m.n AS DOUBLE) - 1.0)) + 0.5) AS BIGINT)
         AS sd_centi_micro,
       cast(floor(1e6 * dp + 0.5) AS BIGINT) AS d_plus_micro,
       cast(floor(1e6 * dm + 0.5) AS BIGINT) AS d_minus_micro,
       cast(floor(1e6 * greatest(dp, dm) + 0.5) AS BIGINT) AS d_micro
FROM red r, m
"""


# --------------------------------------------------------------------------
# Anderson-Darling vs fitted normal (X7 [EXT])
# --------------------------------------------------------------------------


def q_anderson_darling_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 one-sample Anderson-Darling A² against the fitted
    normal: A² = -n - (1/n)·Σ_i (2i-1)[ln Φ(z_(i)) + ln(1-Φ(z_(n+1-i)))]
    — the tail-weighted EDF test (the two-sample twin
    anderson_darling_2samp shipped in wave 117). Tie runs collapse to
    (b-a+1)(a+b-1)·lnΦ + (b-a+1)(2n+1-a-b)·ln(1-Φ); ln snaps nano off
    the clamped snapped Φ so the weighted sum is exact integers.
    Output one row: n, a2_milli."""
    frame, _ = _cells_with_ranks(spark, sf_dir)
    terms = frame.selectExpr(
        "n",
        "cast(rb - ra + 1 as decimal(38,0)) * (ra + rb - 1) AS c1",
        "cast(rb - ra + 1 as decimal(38,0)) * (2 * n + 1 - ra - rb) AS c2",
        "cast(floor(1e9 * ln(cast(pm as double) / 1e6) + 0.5) as bigint)"
        " AS lnp",
        "cast(floor(1e9 * ln(1.0D - cast(pm as double) / 1e6) + 0.5)"
        " as bigint) AS lnq",
    )
    red = terms.groupBy("n").agg(
        F.sum(F.expr("c1 * lnp + c2 * lnq")).alias("s")
    )
    a2 = (
        "(-cast(n as double) - cast(s as double) / 1e9"
        " / cast(n as double))"
    )
    return red.selectExpr(
        "n",
        f"cast(floor(1e3 * {a2} + 0.5) as bigint) AS a2_milli",
    )


_ORACLE_AD = f"""
WITH {_SQL_CELL_FRAME},
terms AS (
  SELECT n,
         (rb - ra + 1)::HUGEINT * (ra + rb - 1) AS c1,
         (rb - ra + 1)::HUGEINT * (2 * n + 1 - ra - rb) AS c2,
         cast(floor(1e9 * ln(cast(pm AS DOUBLE) / 1e6) + 0.5) AS BIGINT)
           AS lnp,
         cast(floor(1e9 * ln(1.0 - cast(pm AS DOUBLE) / 1e6) + 0.5)
           AS BIGINT) AS lnq
  FROM frame
),
red AS (
  SELECT n, sum(c1 * lnp + c2 * lnq) AS s
  FROM terms GROUP BY 1
)
SELECT n,
       cast(floor(1e3 * (-cast(n AS DOUBLE) - cast(s AS DOUBLE) / 1e9
         / cast(n AS DOUBLE)) + 0.5) AS BIGINT) AS a2_milli
FROM red
"""


# --------------------------------------------------------------------------
# One-sample Cramér-von Mises vs fitted normal (X7 [EXT])
# --------------------------------------------------------------------------


def q_cvm_normal_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 one-sample Cramér-von Mises W² = 1/(12n) +
    Σ_i (Φ(z_(i)) - (2i-1)/(2n))² against the fitted normal — the
    body-weighted EDF companion of the tail-weighted A². Per tie run
    the square expands into the exact rank power sums Σ(2i-1) and
    Σ(2i-1)² = (f(b)-f(a-1))/3, f(m)=m(2m-1)(2m+1) staged decimal\n    (the rank cube overflows bigint at extreme corpus); each cell's term
    snaps nano before the cross-cell sum. Output one row: n,
    w2_micro."""
    frame, _ = _cells_with_ranks(spark, sf_dir)
    # 3·f(m) = m(2m-1)(2m+1) staged through decimal (the cube
    # overflows bigint at extreme rank); the /3 happens in double
    fm3 = "(cast({m} as decimal(38,0)) * (2 * {m} - 1) * (2 * {m} + 1))"
    terms = frame.selectExpr(
        "n",
        "cast(pm as double) / 1e6 AS p",
        "rb - ra + 1 AS runw",
        "cast(rb - ra + 1 as decimal(38,0)) * (ra + rb - 1) AS s1r",
        f"{fm3.format(m='rb')} - {fm3.format(m='(ra - 1)')} AS s2r3",
    ).selectExpr(
        "n",
        # run·p² - (p/n)·Σ(2i-1) + Σ(2i-1)²/(4n²), snapped nano
        "cast(floor(1e9 * (cast(runw as double) * p * p"
        " - p / cast(n as double) * cast(s1r as double)"
        " + cast(s2r3 as double) / 3.0D / (4.0D * cast(n as double)"
        " * cast(n as double))) + 0.5) as bigint) AS tn",
    )
    red = terms.groupBy("n").agg(F.sum("tn").cast("bigint").alias("s"))
    return red.selectExpr(
        "n",
        "cast(floor(1e6 * (1.0D / (12.0D * cast(n as double))"
        " + cast(s as double) / 1e9) + 0.5) as bigint) AS w2_micro",
    )


_ORACLE_CVM1 = f"""
WITH {_SQL_CELL_FRAME},
terms AS (
  SELECT n,
         cast(floor(1e9 * (cast(rb - ra + 1 AS DOUBLE)
           * (cast(pm AS DOUBLE) / 1e6) * (cast(pm AS DOUBLE) / 1e6)
           - (cast(pm AS DOUBLE) / 1e6) / cast(n AS DOUBLE)
             * cast((rb - ra + 1)::HUGEINT * (ra + rb - 1) AS DOUBLE)
           + cast(rb::HUGEINT * (2 * rb - 1) * (2 * rb + 1)
             - (ra - 1)::HUGEINT * (2 * (ra - 1) - 1)
               * (2 * (ra - 1) + 1) AS DOUBLE) / 3.0
             / (4.0 * cast(n AS DOUBLE) * cast(n AS DOUBLE)))
           + 0.5) AS BIGINT) AS tn
  FROM frame
)
SELECT n,
       cast(floor(1e6 * (1.0 / (12.0 * cast(n AS DOUBLE))
         + cast(sum(tn) AS DOUBLE) / 1e9) + 0.5) AS BIGINT) AS w2_micro
FROM terms GROUP BY n
"""


# --------------------------------------------------------------------------
# Gini-impurity split finder (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_gini_gain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 the CART classification split: the value threshold
    maximizing the Gini-impurity gain for the 'purchase' label —
    parent 2p(1-p) minus the size-weighted child impurities, maximized
    over the cell-CDF prefix walk (tie to the smallest cell). The
    classification twin of histogram_split_finder's variance split.
    Output one row: n, n_pos, thr_vc, gini_parent_micro,
    gain_micro."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
            F.expr("cast(event_type = 'purchase' as bigint)").alias("y"),
        )
        .groupBy("vc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("w"),
            F.sum("y").cast("bigint").alias("p"),
        )
    )
    cells = barrier(cells)  # totals + prefix + argmax
    tot = cells.agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("n_pos"),
    )
    c1 = exclusive_prefix_sum(cells, "vc", "w", out="wb")
    c2 = exclusive_prefix_sum(c1, "vc", "p", out="pb")
    # split: left = rows with cell <= vc (inclusive), right = rest
    nl = "cast(wb + w as double)"
    pl = "cast(pb + p as double)"
    nn = "cast(n as double)"
    npos = "cast(n_pos as double)"
    nr = f"({nn} - {nl})"
    pr = f"({npos} - {pl})"
    gl = f"(2.0D * ({pl} / {nl}) * (1.0D - {pl} / {nl}))"
    gr = f"(2.0D * ({pr} / {nr}) * (1.0D - {pr} / {nr}))"
    gp = f"(2.0D * ({npos} / {nn}) * (1.0D - {npos} / {nn}))"
    gain = f"({gp} - ({nl} / {nn}) * {gl} - ({nr} / {nn}) * {gr})"
    scored = (
        c2.crossJoin(F.broadcast(tot))
        .filter(f"{nr} > 0")  # a split must leave a right child
        .selectExpr(
            "vc",
            "n",
            "n_pos",
            f"cast(floor(1e6 * {gp} + 0.5) as bigint) AS gp_m",
            f"cast(floor(1e6 * {gain} + 0.5) as bigint) AS gain_m",
        )
    )
    return (
        scored.agg(
            F.expr("max(struct(gain_m, -vc AS nvc, n, n_pos, gp_m))").alias(
                "mx"
            )
        )
        .selectExpr(
            "mx.n AS n",
            "mx.n_pos AS n_pos",
            "cast(-mx.nvc as bigint) AS thr_vc",
            "mx.gp_m AS gini_parent_micro",
            "mx.gain_m AS gain_micro",
        )
    )


_ORACLE_GINI = """
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS w,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             END)::BIGINT AS p
  FROM events GROUP BY 1
),
tot AS (SELECT sum(w)::BIGINT AS n, sum(p)::BIGINT AS n_pos FROM cells),
pref AS (
  SELECT vc, w, p,
         coalesce(sum(w) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS wb,
         coalesce(sum(p) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS pb
  FROM cells
),
scored AS (
  SELECT vc, n, n_pos,
         cast(floor(1e6 * (2.0 * (cast(n_pos AS DOUBLE)
           / cast(n AS DOUBLE)) * (1.0 - cast(n_pos AS DOUBLE)
           / cast(n AS DOUBLE))) + 0.5) AS BIGINT) AS gp_m,
         cast(floor(1e6 * ((2.0 * (cast(n_pos AS DOUBLE)
             / cast(n AS DOUBLE)) * (1.0 - cast(n_pos AS DOUBLE)
             / cast(n AS DOUBLE)))
           - (cast(wb + w AS DOUBLE) / cast(n AS DOUBLE))
             * (2.0 * (cast(pb + p AS DOUBLE) / cast(wb + w AS DOUBLE))
               * (1.0 - cast(pb + p AS DOUBLE) / cast(wb + w AS DOUBLE)))
           - ((cast(n AS DOUBLE) - cast(wb + w AS DOUBLE))
             / cast(n AS DOUBLE))
             * (2.0 * ((cast(n_pos AS DOUBLE) - cast(pb + p AS DOUBLE))
               / (cast(n AS DOUBLE) - cast(wb + w AS DOUBLE)))
               * (1.0 - (cast(n_pos AS DOUBLE) - cast(pb + p AS DOUBLE))
                 / (cast(n AS DOUBLE) - cast(wb + w AS DOUBLE)))))
           + 0.5) AS BIGINT) AS gain_m
  FROM pref, tot
  WHERE cast(n AS DOUBLE) - cast(wb + w AS DOUBLE) > 0
)
SELECT n, n_pos,
       min(vc) FILTER (WHERE gain_m = mg)::BIGINT AS thr_vc,
       any_value(gp_m) AS gini_parent_micro,
       mg AS gain_micro
FROM scored, (SELECT max(gain_m) AS mg FROM scored)
GROUP BY n, n_pos, mg
"""


REGISTRY_EXT154: dict[str, QuerySpec] = {
    "lilliefors_ks_normal": QuerySpec(
        q_lilliefors_ks_normal, _ORACLE_LILLIEFORS, "X7 [EXT] Lilliefors"
    ),
    "anderson_darling_normal": QuerySpec(
        q_anderson_darling_normal, _ORACLE_AD, "X7 [EXT] AD one-sample"
    ),
    "cvm_normal_gof": QuerySpec(
        q_cvm_normal_gof, _ORACLE_CVM1, "X7 [EXT] CvM one-sample"
    ),
    "gini_gain_split": QuerySpec(
        q_gini_gain_split, _ORACLE_GINI, "X6/X7 [EXT] Gini split"
    ),
}
