"""Operator registry, wave 110: spectral seasonality, rank
changepoints, random-walk testing, and ranking evaluation — a fixed-
period periodogram, the Pettitt changepoint test, the Lo-MacKinlay
variance-ratio test, and grouped AUC (gAUC).

Scale stances:
- periodogram_fixed_periods: the Fourier projections use PYTHON-
  precomputed micro-snapped cos/sin literal tables per candidate
  period (210 rows total, broadcast equi-join on (period, phase)) — no
  runtime trig on either engine, so the per-period power folds from
  EXACT integer dot products over the time-bounded hourly frame.
- pettitt_changepoint: global ranks via the value-cell double-rank
  reduction (no row sort); U_t = 2*S_t - t(n+1) is an exact bigint
  cumulative over the hourly frame; the argmax packs (|U|, -t) into
  one scalar max_by key so both engines break ties identically; the
  only transcendental is the final significance exp(), snapped micro.
- variance_ratio_random_walk: lag-1 diffs and overlapping q-sums are
  windows over the hourly frame; all four moments are exact bigints
  and the VR/z fold is IEEE-only.
- gauc_grouped_auc: per-user AUC from per-user value-cell double
  ranks — and the POS-WEIGHTED group AUC telescopes: w_u * AUC_u =
  Nu/2 with Nu = R2p - np(np+1), so gAUC = sum(Nu) / (2*sum(w)) is an
  exact integer ratio with NO per-user floating division; the windows
  partition by user_id, so parallelism scales with users.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_HOUR_US = 3_600_000_000
_PG_PERIODS = (6, 12, 24, 168)
_VR_Q = 4
_GAUC_POS = "purchase"


# --------------------------------------------------------------------------
# Periodogram at fixed candidate periods (X7 [EXT])
# --------------------------------------------------------------------------


def _trig_table() -> list[tuple[int, int, int, int]]:
    """(period, phase, cos_micro, sin_micro) literals; exact on both
    engines because no runtime trig ever runs."""
    rows = []
    for p in _PG_PERIODS:
        for ph in range(p):
            ang = 2.0 * math.pi * ph / p
            rows.append(
                (
                    p,
                    ph,
                    int(math.floor(1e6 * math.cos(ang) + 0.5)),
                    int(math.floor(1e6 * math.sin(ang) + 0.5)),
                )
            )
    return rows


def q_periodogram_fixed_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 periodogram power of the global hourly mean-value
    series at candidate periods {periods} hours: the variance fraction
    2*(a_p^2+b_p^2)/(n^2*sigma^2) with a_p, b_p the Fourier projections
    at period p — "which seasonality actually dominates this metric?".
    Phases come from the ABSOLUTE hour number (hr mod p), so gaps in
    the series do not shear the basis; cos/sin are micro-snapped
    literal tables (see module docstring), making a_p and b_p exact
    bigint dot products. Output per period: p, n_hours, power_micro,
    dominant flag."""
    e = _t(spark, sf_dir, "events")
    hourly = barrier(
        e.select(
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vcv"),
        )
        .groupBy("hr")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vcv) as double) / cast(count(1) as double)"
                " + 0.5) as bigint)"
            ).alias("x")
        )
    )
    mu = hourly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("cast(sum(x) as double) / count(1)").alias("mu"),
    )
    dx = hourly.crossJoin(F.broadcast(mu)).select(
        "hr",
        "n",
        F.expr("cast(floor((cast(x as double) - mu) * 10.0 + 0.5) as bigint)").alias(
            "dxm"
        ),
    )
    entries = ", ".join(
        f"struct({p}L as p, {ph}L as ph, {c}L as c, {s}L as s)"
        for p, ph, c, s in _trig_table()
    )
    trig = (
        spark.range(1)
        .select(F.explode(F.expr(f"array({entries})")).alias("t"))
        .select("t.p", "t.ph", "t.c", "t.s")
    )
    phased = dx.select(
        "hr",
        "n",
        "dxm",
        F.explode(F.array(*[F.lit(p).cast("bigint") for p in _PG_PERIODS])).alias("p"),
    ).withColumn("ph", F.expr("hr % p"))
    sums = (
        phased.join(F.broadcast(trig), ["p", "ph"])
        .groupBy("p")
        .agg(
            F.max("n").cast("bigint").alias("n_hours"),
            F.sum(F.col("dxm") * F.col("c")).cast("bigint").alias("a"),
            F.sum(F.col("dxm") * F.col("s")).cast("bigint").alias("b"),
            F.sum(F.col("dxm") * F.col("dxm")).cast("bigint").alias("sdd"),
        )
    )
    pw = sums.select(
        "p",
        "n_hours",
        F.expr(
            "case when sdd = 0 then cast(0 as bigint) else cast(floor(1e6 * 2.0"
            " * (cast(a as double) * a + cast(b as double) * b)"
            " / (1e12 * cast(n_hours as double) * sdd) + 0.5) as bigint) end"
        ).alias("power_micro"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        pw.select(
            "p",
            "n_hours",
            "power_micro",
            (F.col("power_micro") == F.max("power_micro").over(wall)).alias(
                "dominant"
            ),
        )
        .orderBy("p")
    )


def _trig_values_sql() -> str:
    return ", ".join(f"({p}, {ph}, {c}, {s})" for p, ph, c, s in _trig_table())


_ORACLE_PG = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hr,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1
),
mu AS (
  SELECT cast(count(*) AS bigint) AS n, cast(sum(x) AS double) / count(*) AS mu
  FROM hourly
),
dx AS (
  SELECT hr, n,
         cast(floor((cast(x AS double) - mu) * 10.0 + 0.5) AS bigint) AS dxm
  FROM hourly, mu
),
trig(p, ph, c, s) AS (SELECT * FROM (VALUES {_trig_values_sql()})),
phased AS (
  SELECT d.hr, d.n, d.dxm, pp.p, d.hr % pp.p AS ph
  FROM dx d, (VALUES ({_PG_PERIODS[0]}::BIGINT), ({_PG_PERIODS[1]}),
              ({_PG_PERIODS[2]}), ({_PG_PERIODS[3]})) pp(p)
),
sums AS (
  SELECT t.p, max(n)::BIGINT AS n_hours,
         sum(dxm * c)::BIGINT AS a, sum(dxm * s)::BIGINT AS b,
         sum(dxm * dxm)::BIGINT AS sdd
  FROM phased f JOIN trig t ON t.p = f.p AND t.ph = f.ph
  GROUP BY 1
),
pw AS (
  SELECT p, n_hours,
         CASE WHEN sdd = 0 THEN 0::BIGINT ELSE cast(floor(1e6 * 2.0
           * (cast(a AS double) * a + cast(b AS double) * b)
           / (1e12 * cast(n_hours AS double) * sdd) + 0.5) AS bigint) END
           AS power_micro
  FROM sums
)
SELECT p, n_hours, power_micro,
       power_micro = max(power_micro) OVER () AS dominant
FROM pw ORDER BY p
"""


# --------------------------------------------------------------------------
# Pettitt rank changepoint test (X7 [EXT])
# --------------------------------------------------------------------------


def q_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Pettitt changepoint test on the global hourly mean-
    value series: U_t = 2*S_t - t(n+1) with S_t the cumulative sum of
    global ranks through time t; K = max|U_t| locates the single most
    likely level shift, with approx significance p = 2 exp(-6K^2 /
    (n^3+n^2)) — the nonparametric "WHEN did this metric move?" twin
    of the shipped CUSUM (which assumes a known mean). Ranks come from
    the value-cell double-rank reduction (exact under ties, no row
    sort); U_t is an exact bigint cumulative; the argmax packs
    (|U|, -t) into one scalar key so both engines pick the earliest
    maximizing hour. Output one row: n_hours, k_stat, cp_hr, p_micro,
    significant_05."""
    e = _t(spark, sf_dir, "events")
    hourly = barrier(
        e.select(
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vcv"),
        )
        .groupBy("hr")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vcv) as double) / cast(count(1) as double)"
                " + 0.5) as bigint)"
            ).alias("x")
        )
    )
    cells = hourly.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    wpre = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    dr = cells.select(
        "x",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(wpre), F.lit(0)).cast("bigint")
            + F.col("t")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("drank"),
    )
    n1 = hourly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wcum = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    u = (
        hourly.join(dr, "x")
        .crossJoin(F.broadcast(n1))
        .select(
            "hr",
            "n",
            F.sum("drank").over(wcum).cast("bigint").alias("s2"),
            F.row_number().over(Window.orderBy("hr")).cast("bigint").alias("ti"),
        )
        .select(
            "hr",
            "n",
            "ti",
            (F.col("s2") - F.col("ti") * (F.col("n") + F.lit(1)))
            .cast("bigint")
            .alias("ut"),
        )
    )
    return u.groupBy("n").agg(
        F.max(F.abs(F.col("ut"))).cast("bigint").alias("k_stat"),
        F.max_by(
            F.col("hr"),
            # earliest maximizing hour at ANY series length: the (n+1)
            # multiplier keeps the -ti tie-break strictly inside one |U| step
            F.abs(F.col("ut")) * (F.col("n") + F.lit(1)) - F.col("ti"),
        ).alias("cp_hr"),
    ).select(
        F.col("n").alias("n_hours"),
        "k_stat",
        "cp_hr",
        F.expr(
            "cast(floor(1e6 * 2.0 * exp(-6.0 * cast(k_stat as double) * k_stat"
            " / (cast(n as double) * n * n + cast(n as double) * n)) + 0.5)"
            " as bigint)"
        ).alias("p_micro"),
    ).select("*", (F.col("p_micro") < 50_000).alias("significant_05"))


_ORACLE_PETTITT = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hr,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1
),
cells AS (SELECT x, cast(count(*) AS bigint) AS t FROM hourly GROUP BY 1),
dr AS (
  SELECT x,
         (2 * coalesce(sum(t) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + t + 1)::BIGINT AS drank
  FROM cells
),
n1 AS (SELECT cast(count(*) AS bigint) AS n FROM hourly),
u AS (
  SELECT hr, n, ti, (s2 - ti * (n + 1))::BIGINT AS ut
  FROM (
    SELECT h.hr, n1.n,
           sum(drank) OVER (ORDER BY h.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS s2,
           row_number() OVER (ORDER BY h.hr)::BIGINT AS ti
    FROM hourly h JOIN dr USING (x), n1
  )
)
SELECT n AS n_hours,
       max(abs(ut))::BIGINT AS k_stat,
       max_by(hr, abs(ut) * (n + 1) - ti) AS cp_hr,
       cast(floor(1e6 * 2.0 * exp(-6.0 * cast(max(abs(ut))::BIGINT AS double)
            * max(abs(ut))::BIGINT
            / (cast(n AS double) * n * n + cast(n AS double) * n)) + 0.5)
            AS bigint) AS p_micro,
       cast(floor(1e6 * 2.0 * exp(-6.0 * cast(max(abs(ut))::BIGINT AS double)
            * max(abs(ut))::BIGINT
            / (cast(n AS double) * n * n + cast(n AS double) * n)) + 0.5)
            AS bigint) < 50000 AS significant_05
FROM u GROUP BY n
"""


# --------------------------------------------------------------------------
# Lo-MacKinlay variance-ratio random-walk test (X7 [EXT])
# --------------------------------------------------------------------------

# shared text: VR and homoscedastic z from exact diff/q-sum moments
_VR_EXPR = (
    "((cast(sss as double) - 2.0 * q * (cast(sd1 as double) / n) * ss"
    "  + m * q * q * pow(cast(sd1 as double) / n, 2))"
    " / (q * (n - q + 1.0) * (1.0 - cast(q as double) / n)))"
    " / ((cast(sdd as double) - n * pow(cast(sd1 as double) / n, 2)) / (n - 1.0))"
)


def q_variance_ratio_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Lo-MacKinlay variance-ratio test (q={q}) on the
    hourly mean-value series: VR(q) = Var(q-period change)/(q *
    Var(1-period change)); VR=1 under a random walk, <1 mean
    reversion, >1 momentum — the econometric sibling of the Hurst
    exponent with an actual z-test. Diffs and overlapping q-sums are
    lag/rolling windows over the time-bounded hourly frame; the four
    moments are exact bigints and the VR/z fold is IEEE-only. Output
    one row: n_diffs, q, vr_micro, z_milli, reject_rw_05."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.select(
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vcv"),
        )
        .groupBy("hr")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vcv) as double) / cast(count(1) as double)"
                " + 0.5) as bigint)"
            ).alias("x")
        )
    )
    whr = Window.orderBy("hr")
    diffs = barrier(
        hourly.select("hr", "x", (F.col("x") - F.lag("x").over(whr)).alias("d"))
        .filter(F.col("d").isNotNull())
    )
    wq = Window.orderBy("hr").rowsBetween(-(_VR_Q - 1), 0)
    qsums = diffs.select(
        "hr",
        "d",
        F.sum("d").over(wq).cast("bigint").alias("s"),
        F.row_number().over(Window.orderBy("hr")).cast("bigint").alias("ti"),
    )
    mom = qsums.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd1"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
        F.sum(F.when(F.col("ti") >= _VR_Q, F.col("s"))).cast("bigint").alias("ss"),
        F.sum(F.when(F.col("ti") >= _VR_Q, F.col("s") * F.col("s")))
        .cast("bigint")
        .alias("sss"),
        F.sum(F.when(F.col("ti") >= _VR_Q, 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
    ).withColumn("q", F.lit(_VR_Q).cast("bigint"))
    return mom.select(
        F.col("n").alias("n_diffs"),
        "q",
        F.expr(f"cast(floor(1e6 * ({_VR_EXPR}) + 0.5) as bigint)").alias("vr_micro"),
        F.expr(
            f"cast(floor(1000 * (({_VR_EXPR}) - 1.0)"
            " * sqrt(3.0 * q * n / (2.0 * (2 * q - 1) * (q - 1))) + 0.5) as bigint)"
        ).alias("z_milli"),
    ).select("*", (F.abs(F.col("z_milli")) > 1960).alias("reject_rw_05"))


_ORACLE_VR = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hr,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1
),
diffs AS (
  SELECT hr, d FROM (
    SELECT hr, x - lag(x) OVER (ORDER BY hr) AS d FROM hourly
  ) WHERE d IS NOT NULL
),
qsums AS (
  SELECT hr, d,
         sum(d) OVER (ORDER BY hr
             ROWS BETWEEN {_VR_Q - 1} PRECEDING AND CURRENT ROW)::BIGINT AS s,
         row_number() OVER (ORDER BY hr)::BIGINT AS ti
  FROM diffs
),
mom AS (
  SELECT cast(count(*) AS bigint) AS n,
         sum(d)::BIGINT AS sd1, sum(d * d)::BIGINT AS sdd,
         sum(CASE WHEN ti >= {_VR_Q} THEN s END)::BIGINT AS ss,
         sum(CASE WHEN ti >= {_VR_Q} THEN s * s END)::BIGINT AS sss,
         sum(CASE WHEN ti >= {_VR_Q} THEN 1 ELSE 0 END)::BIGINT AS m,
         {_VR_Q}::BIGINT AS q
  FROM qsums
)
SELECT n AS n_diffs, q,
       cast(floor(1e6 * ({_VR_EXPR}) + 0.5) AS bigint) AS vr_micro,
       cast(floor(1000 * (({_VR_EXPR}) - 1.0)
            * sqrt(3.0 * q * n / (2.0 * (2 * q - 1) * (q - 1))) + 0.5) AS bigint)
         AS z_milli,
       abs(cast(floor(1000 * (({_VR_EXPR}) - 1.0)
            * sqrt(3.0 * q * n / (2.0 * (2 * q - 1) * (q - 1))) + 0.5) AS bigint))
         > 1960 AS reject_rw_05
FROM mom
"""


# --------------------------------------------------------------------------
# Grouped AUC (gAUC) ranking evaluation (X7 [EXT])
# --------------------------------------------------------------------------


def q_gauc_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 grouped AUC of value as a per-user ranking score for
    the '{p}' label: AUC_u per user from within-user rank sums
    (Mann-Whitney form, exact under ties via value-cell double ranks),
    then the positive*negative-weighted mean across users — the recsys
    evaluation that global ROC-AUC silently gets wrong by mixing
    users' score scales. The pos-weighted numerator TELESCOPES:
    w_u*AUC_u = Nu/2 with Nu = R2p - np(np+1), so gAUC =
    sum(Nu)/(2*sum(w_u)) is one exact integer ratio; the unweighted
    per-user mean snaps each AUC micro first. Windows partition by
    user_id — parallelism scales with users. Output one row:
    n_users_scored, w_total, gauc_micro, mean_user_auc_micro."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            "user_id",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vc"),
            F.when(F.col("event_type") == _GAUC_POS, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("y"),
        )
        .groupBy("user_id", "vc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    wpre = (
        Window.partitionBy("user_id")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cells.select(
        "user_id",
        "cnt",
        "pos",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wpre), F.lit(0)).cast("bigint")
            + F.col("cnt")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("drank"),
    )
    per_user = (
        ranked.groupBy("user_id")
        .agg(
            F.sum("pos").cast("bigint").alias("np"),
            (F.sum("cnt") - F.sum("pos")).cast("bigint").alias("nn"),
            F.sum(F.col("pos") * F.col("drank")).cast("bigint").alias("r2p"),
        )
        .filter((F.col("np") > 0) & (F.col("nn") > 0))
        .select(
            "user_id",
            "np",
            "nn",
            (F.col("r2p") - F.col("np") * (F.col("np") + F.lit(1)))
            .cast("bigint")
            .alias("nu"),
            (F.col("np") * F.col("nn")).cast("bigint").alias("w"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_scored"),
        F.sum("w").cast("bigint").alias("w_total"),
        F.expr(
            "cast(floor(1e6 * cast(sum(nu) as double) / (2.0 * sum(w)) + 0.5)"
            " as bigint)"
        ).alias("gauc_micro"),
        F.expr(
            "cast(floor(cast(sum(cast(floor(1e6 * cast(nu as double) / (2.0 * w)"
            " + 0.5) as bigint)) as double) / count(1) + 0.5) as bigint)"
        ).alias("mean_user_auc_micro"),
    )


_ORACLE_GAUC = f"""
WITH cells AS (
  SELECT user_id, cast(floor(value * 100.0 + 0.5) AS bigint) AS vc,
         cast(count(*) AS bigint) AS cnt,
         sum(CASE WHEN event_type = '{_GAUC_POS}' THEN 1 ELSE 0 END)::BIGINT AS pos
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, cnt, pos,
         (2 * coalesce(sum(cnt) OVER (PARTITION BY user_id ORDER BY vc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + cnt + 1)::BIGINT AS drank
  FROM cells
),
per_user AS (
  SELECT user_id, np, nn,
         (r2p - np * (np + 1))::BIGINT AS nu, (np * nn)::BIGINT AS w
  FROM (
    SELECT user_id, sum(pos)::BIGINT AS np,
           (sum(cnt) - sum(pos))::BIGINT AS nn,
           sum(pos * drank)::BIGINT AS r2p
    FROM ranked GROUP BY 1
  ) WHERE np > 0 AND nn > 0
)
SELECT cast(count(*) AS bigint) AS n_users_scored,
       sum(w)::BIGINT AS w_total,
       cast(floor(1e6 * cast(sum(nu)::BIGINT AS double) / (2.0 * sum(w)::BIGINT)
            + 0.5) AS bigint) AS gauc_micro,
       cast(floor(cast(sum(cast(floor(1e6 * cast(nu AS double) / (2.0 * w) + 0.5)
            AS bigint))::BIGINT AS double) / count(*) + 0.5) AS bigint)
         AS mean_user_auc_micro
FROM per_user
"""


REGISTRY_EXT109: dict[str, QuerySpec] = {
    "periodogram_fixed_periods": QuerySpec(
        q_periodogram_fixed_periods, _ORACLE_PG, "X7 [EXT] fixed-period periodogram"
    ),
    "pettitt_changepoint": QuerySpec(
        q_pettitt_changepoint, _ORACLE_PETTITT, "X7 [EXT] Pettitt rank changepoint"
    ),
    "variance_ratio_random_walk": QuerySpec(
        q_variance_ratio_random_walk, _ORACLE_VR, "X7 [EXT] Lo-MacKinlay VR test"
    ),
    "gauc_grouped_auc": QuerySpec(
        q_gauc_grouped_auc, _ORACLE_GAUC, "X7 [EXT] grouped AUC (gAUC)"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_periodogram_fixed_periods.__doc__ = q_periodogram_fixed_periods.__doc__.format(periods=_PG_PERIODS)  # noqa: E501
q_variance_ratio_random_walk.__doc__ = q_variance_ratio_random_walk.__doc__.format(q=_VR_Q)  # noqa: E501
q_gauc_grouped_auc.__doc__ = q_gauc_grouped_auc.__doc__.format(p=_GAUC_POS)  # noqa: E501
