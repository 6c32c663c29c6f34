"""Wave 156 [EXT]: series-homogeneity and quadrant/circular completers —
Buishand's (1982) rescaled adjusted range R/s/√n on the daily mean
series, Alexandersson's (1986) standard normal homogeneity test (SNHT)
with its argmax break day, Watson's (1961) U² one-sample circular
uniformity test on minute-of-day (the rotation-invariant CvM), and
Blomqvist's (1950) medial correlation β on (daily activity, daily mean
value) pairs. Companions of the shipped pettitt_changepoint /
cusum_changepoint / chow_break_daily (break tests),
rayleigh_uniformity_test / kuiper_two_sample (circular / rotation-
invariant EDF), and kendall_tau_exact_cells / goodman_kruskal_gamma
(rank dependence).

Exactness: the daily series carries micro-snapped day means; Buishand's
S_k and SNHT's D_k = Σ_{i≤k}(x_i - x̄) are staged as the EXACT integer
numerator n·P_k - k·T (micro units) so the max/min/argmax are decided
on integers, with one double division at the end. Watson's U² has NO
transcendentals at all: F0 = (2·mc + 1)/2880 is an exact rational and
the tie-run CvM sums collapse to the ext154 closed forms
(Σ(2i-1) = (b-a+1)(a+b-1), Σ(2i-1)² = g(b) - g(a-1)); per-cell terms
snap nano before the exact cross-cell sum. Blomqvist drops points ON
either median (the standard treatment), so β is a ratio of exact
quadrant counts.

Scale notes (the 100x question, per query):
- buishand_range_test / snht_homogeneity: one cumulative walk over the
  CALENDAR-BOUNDED daily spine (the sanctioned pettitt_changepoint
  category); everything upstream is a map-side (day) aggregate.
- watson_u2_uniformity: minute-of-day cells (≤ 1440 at any corpus) and
  one Blelloch prefix — no unpartitioned window in the plan.
- blomqvist_beta: (user, day) pair frame reduces to activity-count and
  centi-value cells; the two lower-medians come off Blelloch prefix
  walks; quadrant counts are one conditional aggregate.

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
#: Watson U² asymptotic upper-5% critical value (Stephens 1970), micro
_U2_95_MICRO = 186_766


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per day: micro-snapped mean event value."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(1) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )


_SQL_DAILY = f"""
daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS x
  FROM events GROUP BY 1
)
"""


def _dk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily spine + exact deviation numerators: per day k (1-indexed in
    day order), dknum = n·P_k - k·T (micro units, exact bigint), plus
    broadcast totals (n, T, and the exact centered sum of squares
    numerator css2 = n·Σx² - T² so s² = css2/n²/(n or n-1))."""
    daily = barrier(_daily(spark, sf_dir))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
        F.sum(F.expr(f"{_DEC.format(x='x')} * x")).alias("sxx"),
    ).selectExpr(
        "n",
        "t",
        f"cast({_DEC.format(x='n')} * sxx - {_DEC.format(x='t')} * t"
        " as decimal(38,0)) AS css2",
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            "t",
            "css2",
            F.sum("x").over(wcum).cast("bigint").alias("pk"),
            F.row_number().over(Window.orderBy("d")).cast("bigint").alias("k"),
        )
        .selectExpr(
            "d",
            "n",
            "t",
            "css2",
            "k",
            f"cast({_DEC.format(x='n')} * pk - {_DEC.format(x='k')} * t"
            " as decimal(38,0)) AS dknum",
        )
    )


_SQL_DK = f"""
{_SQL_DAILY.strip().rstrip(')').rstrip()}
),
tot AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS t,
         count(*)::HUGEINT * sum(x::HUGEINT * x)
           - sum(x)::HUGEINT * sum(x) AS css2
  FROM daily
),
dk AS (
  SELECT d, n, t, css2, k,
         n::HUGEINT * pk - k::HUGEINT * t AS dknum
  FROM (
    SELECT d, n, t, css2,
           sum(x) OVER (ORDER BY d)::BIGINT AS pk,
           row_number() OVER (ORDER BY d)::BIGINT AS k
    FROM daily, tot
  )
)
"""


# --------------------------------------------------------------------------
# Buishand rescaled adjusted range (X7 [EXT])
# --------------------------------------------------------------------------


def q_buishand_range_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Buishand (1982) range test for series homogeneity on the
    daily mean-value series: S_k = Σ_{i≤k}(x_i - x̄) (S_0 = 0 included),
    R = max S - min S, statistic R/(s·√n) with the POPULATION sd
    s = √(Σ(x-x̄)²/n) (Buishand's D_x). S_k is decided on the exact
    integer numerator n·P_k - k·T. Output one row: n_days,
    r_micro (= R in value units), stat_milli (= R/s/√n)."""
    dk = _dk_frame(spark, sf_dir)
    red = dk.groupBy("n", "css2").agg(
        F.greatest(F.max("dknum"), F.lit(0).cast("decimal(38,0)")).alias("mx"),
        F.least(F.min("dknum"), F.lit(0).cast("decimal(38,0)")).alias("mn"),
    )
    nn = "cast(n as double)"
    # R = (mx - mn) / (n * 1e6);  s = sqrt(css2 / n²) / 1e6
    r = f"(cast(mx - mn as double) / ({nn} * 1e6))"
    s = f"(sqrt(cast(css2 as double) / ({nn} * {nn})) / 1e6)"
    return red.selectExpr(
        "n AS n_days",
        f"cast(floor(1e6 * {r} + 0.5) as bigint) AS r_micro",
        f"cast(floor(1e3 * {r} / {s} / sqrt({nn}) + 0.5) as bigint)"
        " AS stat_milli",
    )


_ORACLE_BUISHAND = f"""
WITH {_SQL_DK.strip()},
red AS (
  SELECT n, css2,
         greatest(max(dknum), 0::HUGEINT) AS mx,
         least(min(dknum), 0::HUGEINT) AS mn
  FROM dk GROUP BY 1, 2
)
SELECT n AS n_days,
       cast(floor(1e6 * (cast(mx - mn AS DOUBLE)
         / (cast(n AS DOUBLE) * 1e6)) + 0.5) AS BIGINT) AS r_micro,
       cast(floor(1e3 * (cast(mx - mn AS DOUBLE) / (cast(n AS DOUBLE) * 1e6))
         / (sqrt(cast(css2 AS DOUBLE) / (cast(n AS DOUBLE) * cast(n AS DOUBLE))) / 1e6)
         / sqrt(cast(n AS DOUBLE)) + 0.5) AS BIGINT) AS stat_milli
FROM red
"""


# --------------------------------------------------------------------------
# SNHT — standard normal homogeneity test (X7 [EXT])
# --------------------------------------------------------------------------


def q_snht_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Alexandersson (1986) SNHT on the daily mean-value
    series: T_k = k·z̄₁² + (n-k)·z̄₂², k = 1..n-1, which folds to
    T_k = n·D_k² / (k(n-k)s²) with D_k = Σ_{i≤k}(x_i - x̄) and the
    POPULATION s². The argmax is decided on the SAME-TEXT double score
    cast(dknum)²/(k(n-k)) (dknum is an exact integer, so both engines
    round it to the identical double and every IEEE op after matches)
    with the earliest-k tiebreak. Output one row: n_days, break_day
    (d of k*), t_max_milli."""
    dk = _dk_frame(spark, sf_dir).filter(F.expr("k < n"))
    scored = dk.selectExpr(
        "d",
        "n",
        "css2",
        "k",
        "cast(dknum as double) * cast(dknum as double)"
        " / cast(k * (n - k) as double) AS score",
        "dknum",
    )
    red = scored.groupBy("n", "css2").agg(
        F.max(F.expr("struct(score, -k AS nk, d, dknum, k)")).alias("top")
    )
    nn = "cast(n as double)"
    tmax = (
        f"({nn} * cast(top.dknum as double) * cast(top.dknum as double)"
        f" / (cast(top.k as double) * ({nn} - cast(top.k as double)))"
        f" / ({nn} * {nn})"  # dknum carries n·(...) — undo n²
        f" / (cast(css2 as double) / ({nn} * {nn})))"  # / s² (micro² cancels)
    )
    return red.selectExpr(
        "n AS n_days",
        "top.d AS break_day",
        f"cast(floor(1e3 * {tmax} + 0.5) as bigint) AS t_max_milli",
    )


_ORACLE_SNHT = f"""
WITH {_SQL_DK.strip()},
scored AS (
  SELECT d, n, css2, k,
         cast(dknum AS DOUBLE) * cast(dknum AS DOUBLE)
           / cast(k * (n - k) AS DOUBLE) AS score,
         dknum
  FROM dk WHERE k < n
),
top AS (
  SELECT n, css2, d, dknum, k
  FROM scored
  WHERE score = (SELECT max(score) FROM scored)
    AND k = (SELECT min(k) FROM scored
             WHERE score = (SELECT max(score) FROM scored))
)
SELECT n AS n_days,
       d AS break_day,
       cast(floor(1e3 * (cast(n AS DOUBLE)
           * cast(dknum AS DOUBLE) * cast(dknum AS DOUBLE)
           / (cast(k AS DOUBLE)
              * (cast(n AS DOUBLE) - cast(k AS DOUBLE)))
           / (cast(n AS DOUBLE) * cast(n AS DOUBLE))
           / (cast(css2 AS DOUBLE)
              / (cast(n AS DOUBLE) * cast(n AS DOUBLE))))
         + 0.5) AS BIGINT) AS t_max_milli
FROM top
"""


# --------------------------------------------------------------------------
# Watson U² circular uniformity (X7 [EXT])
# --------------------------------------------------------------------------


def q_watson_u2_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Watson (1961) U² test of minute-of-day uniformity — the
    rotation-invariant Cramér-von Mises: U² = W² - n(z̄ - 1/2)² with
    W² = Σ_i (F0_(i) - (2i-1)/(2n))² + 1/(12n) and F0 the uniform CDF
    at the minute MIDPOINT, F0 = (2·mc + 1)/2880 (exact rational — no
    transcendentals anywhere). Tie runs [a..b] collapse via
    Σ(2i-1) = (b-a+1)(a+b-1) and Σ(2i-1)² = g(b)-g(a-1),
    g(m) = m(2m-1)(2m+1)/3 (the ext154 forms); per-cell terms snap
    nano. Reject at the asymptotic 5% point 0.186766 (Stephens 1970).
    Output one row: n, u2_micro, reject_05."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr(
                f"(unix_micros(ts) % {_DAY_US}) div 60000000"
            ).alias("mc")
        )
        .groupBy("mc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    pref = exclusive_prefix_sum(cells, "mc", "f", out="nb")
    tot = pref.agg(
        F.max(F.expr("nb + f")).cast("bigint").alias("n"),
        # z2n = Σ f·(2mc+1):  z̄ = z2n / (2880 n)
        F.sum(F.expr(f"{_DEC.format(x='f')} * (2 * mc + 1)")).alias("z2n"),
    )
    # run [a..b] = [nb+1 .. nb+f], u = (2mc+1)/2880:
    #   term = f·u² - (u/n)·Σ(2i-1) + Σ(2i-1)²/(4n²)
    u = "(cast(2 * mc + 1 as double) / 2880.0)"
    sc1 = f"{_DEC.format(x='f')} * (2 * nb + f)"  # (b-a+1)(a+b-1)
    g = (
        "({m} * (2 * {m} - 1) * (2 * {m} + 1))"  # 3·g(m) staged decimal
    )
    sc2 = (
        f"({g.format(m=_DEC.format(x='(nb + f)'))}"
        f" - {g.format(m=_DEC.format(x='nb'))})"
    )
    nn = "cast(n as double)"
    term = (
        f"cast(f as double) * {u} * {u}"
        f" - {u} / {nn} * cast({sc1} as double)"
        f" + cast({sc2} as double) / 3.0 / (4.0 * {nn} * {nn})"
    )
    red = (
        pref.crossJoin(F.broadcast(tot))
        .selectExpr(
            "n",
            "z2n",
            f"cast(floor(1e9 * ({term}) + 0.5) as bigint) AS t_nano",
        )
        .groupBy("n", "z2n")
        .agg(F.sum("t_nano").cast("bigint").alias("w_nano"))
    )
    u2 = (
        f"(cast(w_nano as double) / 1e9 + 1.0 / (12.0 * {nn})"
        f" - (cast(z2n as double) - 1440.0 * {nn})"
        f" * (cast(z2n as double) - 1440.0 * {nn})"
        f" / (2880.0 * 2880.0 * {nn}))"
    )
    return red.selectExpr(
        "n",
        f"cast(floor(1e6 * {u2} + 0.5) as bigint) AS u2_micro",
        f"cast(floor(1e6 * {u2} + 0.5) as bigint) > {_U2_95_MICRO}"
        " AS reject_05",
    )


_ORACLE_WATSON = f"""
WITH cells AS (
  SELECT (epoch_us(ts) % {_DAY_US}) // 60000000 AS mc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1
),
pref AS (
  SELECT mc, f,
         coalesce(sum(f) OVER (ORDER BY mc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (
  SELECT max(nb + f)::BIGINT AS n,
         sum(f::HUGEINT * (2 * mc + 1)) AS z2n
  FROM pref
),
red AS (
  SELECT n, z2n,
         sum(cast(floor(1e9 * (
           cast(f AS DOUBLE) * (cast(2 * mc + 1 AS DOUBLE) / 2880.0)
             * (cast(2 * mc + 1 AS DOUBLE) / 2880.0)
           - (cast(2 * mc + 1 AS DOUBLE) / 2880.0) / cast(n AS DOUBLE)
             * cast(f::HUGEINT * (2 * nb + f) AS DOUBLE)
           + cast(((nb + f)::HUGEINT * (2 * (nb + f) - 1) * (2 * (nb + f) + 1))
                  - (nb::HUGEINT * (2 * nb - 1) * (2 * nb + 1)) AS DOUBLE)
             / 3.0 / (4.0 * cast(n AS DOUBLE) * cast(n AS DOUBLE))
         ) + 0.5) AS BIGINT))::BIGINT AS w_nano
  FROM pref, tot
  GROUP BY 1, 2
)
SELECT n,
       cast(floor(1e6 * (cast(w_nano AS DOUBLE) / 1e9
         + 1.0 / (12.0 * cast(n AS DOUBLE))
         - (cast(z2n AS DOUBLE) - 1440.0 * cast(n AS DOUBLE))
           * (cast(z2n AS DOUBLE) - 1440.0 * cast(n AS DOUBLE))
           / (2880.0 * 2880.0 * cast(n AS DOUBLE))) + 0.5) AS BIGINT)
         AS u2_micro,
       cast(floor(1e6 * (cast(w_nano AS DOUBLE) / 1e9
         + 1.0 / (12.0 * cast(n AS DOUBLE))
         - (cast(z2n AS DOUBLE) - 1440.0 * cast(n AS DOUBLE))
           * (cast(z2n AS DOUBLE) - 1440.0 * cast(n AS DOUBLE))
           / (2880.0 * 2880.0 * cast(n AS DOUBLE))) + 0.5) AS BIGINT)
         > {_U2_95_MICRO} AS reject_05
FROM red
"""


# --------------------------------------------------------------------------
# Blomqvist medial correlation (X7 [EXT])
# --------------------------------------------------------------------------


def q_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Blomqvist (1950) medial correlation β between daily
    activity (events per user-day) and engagement (micro-snapped mean
    value per user-day): split at the LOWER medians (ext153
    convention), drop points ON either median (the standard
    treatment), β = (n11 + n00 - n10 - n01)/m ∈ [-1, 1] with
    z = β·√m asymptotically standard normal. Output one row: n_pairs,
    n_dropped, n11, n00, n10, n01, beta_micro, z_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    pairs = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("xa"),
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(1) + 0.5)"
                " as bigint)"
            ).alias("yv"),
        )
    )
    pairs = barrier(pairs)  # two median walks + quadrants

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        cells = df.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        pref = exclusive_prefix_sum(cells, col, "f", out="nb")
        tot = pref.agg(F.max(F.expr("nb + f")).cast("bigint").alias("n"))
        return (
            pref.crossJoin(F.broadcast(tot))
            .filter(F.expr("nb + f >= (n + 1) div 2"))
            .agg(F.min(col).cast("bigint").alias(f"med_{col}"))
        )
    medx = lower_median(pairs, "xa")
    medy = lower_median(pairs, "yv")
    return (
        pairs.crossJoin(F.broadcast(medx))
        .crossJoin(F.broadcast(medy))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.expr("if(xa = med_xa OR yv = med_yv, 1, 0)")
            ).cast("bigint").alias("n_dropped"),
            F.sum(
                F.expr("if(xa > med_xa AND yv > med_yv, 1, 0)")
            ).cast("bigint").alias("n11"),
            F.sum(
                F.expr("if(xa < med_xa AND yv < med_yv, 1, 0)")
            ).cast("bigint").alias("n00"),
            F.sum(
                F.expr("if(xa > med_xa AND yv < med_yv, 1, 0)")
            ).cast("bigint").alias("n10"),
            F.sum(
                F.expr("if(xa < med_xa AND yv > med_yv, 1, 0)")
            ).cast("bigint").alias("n01"),
        )
        .selectExpr(
            "n_pairs",
            "n_dropped",
            "n11",
            "n00",
            "n10",
            "n01",
            "cast(floor(1e6 * cast(n11 + n00 - n10 - n01 as double)"
            " / cast(n11 + n00 + n10 + n01 as double) + 0.5) as bigint)"
            " AS beta_micro",
            "cast(floor(1e3 * cast(n11 + n00 - n10 - n01 as double)"
            " / cast(n11 + n00 + n10 + n01 as double)"
            " * sqrt(cast(n11 + n00 + n10 + n01 as double)) + 0.5)"
            " as bigint) AS z_milli",
            "abs(cast(floor(1e3 * cast(n11 + n00 - n10 - n01 as double)"
            " / cast(n11 + n00 + n10 + n01 as double)"
            " * sqrt(cast(n11 + n00 + n10 + n01 as double)) + 0.5)"
            " as bigint)) > 1960 AS reject_05",
        )
    )


_ORACLE_BLOMQVIST = f"""
WITH pairs AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS d,
         count(*)::BIGINT AS xa,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS yv
  FROM events GROUP BY 1, 2
),
medx AS (
  SELECT min(xa)::BIGINT AS med_xa
  FROM (
    SELECT xa, sum(count(*)) OVER (ORDER BY xa)::BIGINT AS cum,
           sum(count(*)) OVER ()::BIGINT AS n
    FROM pairs GROUP BY xa
  )
  WHERE cum >= (n + 1) // 2
),
medy AS (
  SELECT min(yv)::BIGINT AS med_yv
  FROM (
    SELECT yv, sum(count(*)) OVER (ORDER BY yv)::BIGINT AS cum,
           sum(count(*)) OVER ()::BIGINT AS n
    FROM pairs GROUP BY yv
  )
  WHERE cum >= (n + 1) // 2
),
agg AS (
  SELECT count(*)::BIGINT AS n_pairs,
         sum(CASE WHEN xa = med_xa OR yv = med_yv THEN 1 ELSE 0 END)::BIGINT
           AS n_dropped,
         sum(CASE WHEN xa > med_xa AND yv > med_yv THEN 1 ELSE 0 END)::BIGINT
           AS n11,
         sum(CASE WHEN xa < med_xa AND yv < med_yv THEN 1 ELSE 0 END)::BIGINT
           AS n00,
         sum(CASE WHEN xa > med_xa AND yv < med_yv THEN 1 ELSE 0 END)::BIGINT
           AS n10,
         sum(CASE WHEN xa < med_xa AND yv > med_yv THEN 1 ELSE 0 END)::BIGINT
           AS n01
  FROM pairs, medx, medy
)
SELECT n_pairs, n_dropped, n11, n00, n10, n01,
       cast(floor(1e6 * cast(n11 + n00 - n10 - n01 AS DOUBLE)
         / cast(n11 + n00 + n10 + n01 AS DOUBLE) + 0.5) AS BIGINT)
         AS beta_micro,
       cast(floor(1e3 * cast(n11 + n00 - n10 - n01 AS DOUBLE)
         / cast(n11 + n00 + n10 + n01 AS DOUBLE)
         * sqrt(cast(n11 + n00 + n10 + n01 AS DOUBLE)) + 0.5) AS BIGINT)
         AS z_milli,
       abs(cast(floor(1e3 * cast(n11 + n00 - n10 - n01 AS DOUBLE)
         / cast(n11 + n00 + n10 + n01 AS DOUBLE)
         * sqrt(cast(n11 + n00 + n10 + n01 AS DOUBLE)) + 0.5) AS BIGINT))
         > 1960 AS reject_05
FROM agg
"""


REGISTRY_EXT156: dict[str, QuerySpec] = {
    "buishand_range_test": QuerySpec(
        q_buishand_range_test, _ORACLE_BUISHAND, "X7 [EXT] Buishand range"
    ),
    "snht_homogeneity": QuerySpec(
        q_snht_homogeneity, _ORACLE_SNHT, "X7 [EXT] SNHT break test"
    ),
    "watson_u2_uniformity": QuerySpec(
        q_watson_u2_uniformity, _ORACLE_WATSON, "X7 [EXT] Watson U2"
    ),
    "blomqvist_beta": QuerySpec(
        q_blomqvist_beta, _ORACLE_BLOMQVIST, "X7 [EXT] Blomqvist beta"
    ),
}
