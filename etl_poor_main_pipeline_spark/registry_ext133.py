"""Wave 133 [EXT]: forecast-accuracy and time-series-structure
completers — the Diebold-Mariano predictive-accuracy test (naive vs
seasonal-naive), Theil's U2 forecast-quality ratio, spectral entropy of
the fixed-period periodogram, sample entropy (SampEn) of the daily
series, Taylor's power-law slope across activity cells, and the
Cochran-Mantel-Haenszel stratified chi-square. Companions of the
shipped seasonal_naive_mase / periodogram_fixed_periods /
permutation_entropy_daily / mantel_haenszel_or / breslow_day_homogeneity.

Scale notes (the 100x question, per query):
- diebold_mariano / theil_u2_forecast: the corpus reduces map-side to
  the calendar-bounded DAILY total spine; forecasts are lag windows
  over that spine (the pettitt/dickey_fuller sanction category), loss
  differentials micro-snap per day, and the lag-1 HAC variance is two
  more exact moment sums.
- spectral_entropy: cos/sin at each literal period micro-snap once per
  day cell (the ecf_distance_2samp convention); the periodogram is a
  K-point literal grid crossed with the bounded day frame.
- sample_entropy_daily: the (y_t, y_t+1, y_t+2) template frame is one
  lead window over the day spine; template matching is a bounded
  self-join (days^2 pairs — constant at any corpus size; sanctioned
  nested-loop category).
- taylors_law_slope: per-(event_type, weekday) ENUM cells carry exact
  value moments; the ln-ln OLS runs over <= 35 cells with snapped lns.
- cmh_chi2_strata: per-weekday 2x2 strata reduce map-side; E and Var
  are constant-time per stratum, micro-snapped before the final sums.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_DEC = "cast({x} as decimal(38,0))"
_SEASON = 7  # seasonal-naive lag (days)
_SE_PERIODS = (2, 3, 4, 5, 6, 7, 10, 14)  # literal periodogram grid
_CMH_EVENT = "purchase"
_Z_95 = 1.959964
_CHI1_95 = 3.841459  # chi2(1) at 0.95


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bounded daily total-value spine (micro-snapped)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(F.sum("vm").cast("bigint").alias("y"))
    )


_SQL_DAILY = f"""
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS y
  FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Diebold-Mariano predictive accuracy (X7 [EXT])
# --------------------------------------------------------------------------


def q_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Diebold & Mariano (1995): does the naive forecast
    (yesterday's total) beat the seasonal-naive ({s} days ago) on the
    daily value spine, or is the loss difference within sampling noise?
    Squared-error losses in DECI-UNIT^2 (value units to keep the
    magnitudes sane), d_t snapped micro, and the DM statistic uses the
    lag-1 HAC (Newey-West) variance gamma0 + 2*gamma1. The moment
    outputs stay raw DOUBLE (deterministic: both engines divide the
    same exact integer sums; a milli-scaled bigint overflows at sf0.01
    because d_t is itself quadratic in the daily total). Output one
    row: n_days, mean_d, gamma0, gamma1, dm_milli, reject_05."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    # deci-unit series: y / 1e5 (micro -> deci-unit), exact integers
    ser = daily.select(
        "d", F.expr("cast(floor(cast(y as double) / 1e5 + 0.5) as bigint)").alias("yd")
    )
    lagged = ser.select(
        "d",
        "yd",
        F.lag("yd", 1).over(w).alias("f1"),
        F.lag("yd", _SEASON).over(w).alias("fs"),
    ).filter("f1 is not null and fs is not null")
    # d_t = (e_naive^2 - e_seasonal^2), exact integers in deci-unit^2
    dt = lagged.select(
        "d",
        F.expr(
            "(yd - f1) * (yd - f1) - (yd - fs) * (yd - fs)"
        ).cast("bigint").alias("dt"),
    )
    lag_d = dt.select(
        "dt", F.lag("dt", 1).over(Window.orderBy("d")).alias("dp")
    )
    m = lag_d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dt").cast("bigint").alias("sd"),
        F.sum(F.expr(f"{_DEC.format(x='dt')} * dt")).alias("qd"),
        F.sum(F.expr(f"if(dp is null, cast(0 as decimal(38,0)), {_DEC.format(x='dt')} * dp)")).alias("qdl"),
        F.count("dp").cast("bigint").alias("nl"),
    )
    nn = "cast(n as double)"
    mean = f"(cast(sd as double) / {nn})"
    g0 = f"(cast(qd as double) / {nn} - {mean} * {mean})"
    g1 = f"(cast(qdl as double) / cast(nl as double) - {mean} * {mean})"
    dm = f"({mean} / sqrt(({g0} + 2.0 * {g1}) / {nn}))"
    return m.selectExpr(
        "n AS n_days",
        f"{mean} AS mean_d",
        f"{g0} AS gamma0",
        f"{g1} AS gamma1",
        f"cast(floor(1e3 * {dm} + 0.5) as bigint) AS dm_milli",
        f"abs({dm}) > {_Z_95} AS reject_05",
    )


def _oracle_dm() -> str:
    nn = "cast(n AS DOUBLE)"
    mean = f"(cast(sd AS DOUBLE) / {nn})"
    g0 = f"(cast(qd AS DOUBLE) / {nn} - {mean} * {mean})"
    g1 = f"(cast(qdl AS DOUBLE) / cast(nl AS DOUBLE) - {mean} * {mean})"
    dm = f"({mean} / sqrt(({g0} + 2.0 * {g1}) / {nn}))"
    return f"""
WITH daily AS ({_SQL_DAILY}),
ser AS (
  SELECT d, cast(floor(cast(y AS DOUBLE) / 1e5 + 0.5) AS BIGINT) AS yd
  FROM daily
),
lagged AS (
  SELECT d, yd, lag(yd, 1) OVER (ORDER BY d) AS f1,
         lag(yd, {_SEASON}) OVER (ORDER BY d) AS fs
  FROM ser
),
dt AS (
  SELECT d, ((yd - f1) * (yd - f1) - (yd - fs) * (yd - fs))::BIGINT AS dt
  FROM lagged WHERE f1 IS NOT NULL AND fs IS NOT NULL
),
lag_d AS (SELECT dt, lag(dt, 1) OVER (ORDER BY d) AS dp FROM dt),
m AS (
  SELECT count(*)::BIGINT AS n, sum(dt)::BIGINT AS sd,
         sum(dt::HUGEINT * dt) AS qd,
         sum(CASE WHEN dp IS NULL THEN 0::HUGEINT
             ELSE dt::HUGEINT * dp END) AS qdl,
         count(dp)::BIGINT AS nl
  FROM lag_d
)
SELECT n AS n_days,
       {mean} AS mean_d,
       {g0} AS gamma0,
       {g1} AS gamma1,
       cast(floor(1e3 * {dm} + 0.5) AS BIGINT) AS dm_milli,
       abs({dm}) > {_Z_95} AS reject_05
FROM m
"""


# --------------------------------------------------------------------------
# Theil's U2 forecast-quality ratio (X7 [EXT])
# --------------------------------------------------------------------------


def q_theil_u2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Theil's U2: RMSE of the seasonal-naive ({s}-day)
    forecast over RMSE of the no-change naive on the daily value spine —
    U2 < 1 means seasonality beats persistence, U2 > 1 means the
    seasonal model is WORSE than doing nothing (the forecast-quality
    bar). Exact integer squared errors in deci-units. Output one row:
    n_days, sse_seasonal, sse_naive, u2_milli."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    ser = daily.select(
        "d",
        F.expr("cast(floor(cast(y as double) / 1e5 + 0.5) as bigint)").alias("yd"),
    )
    lagged = ser.select(
        "yd",
        F.lag("yd", 1).over(w).alias("f1"),
        F.lag("yd", _SEASON).over(w).alias("fs"),
    ).filter("f1 is not null and fs is not null")
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr(f"{_DEC.format(x='(yd - fs)')} * (yd - fs)")).alias("ss"),
        F.sum(F.expr(f"{_DEC.format(x='(yd - f1)')} * (yd - f1)")).alias("sn"),
    )
    u2 = "sqrt(cast(ss as double) / cast(sn as double))"
    return m.selectExpr(
        "n AS n_days",
        "cast(ss as double) AS sse_seasonal",
        "cast(sn as double) AS sse_naive",
        f"cast(floor(1e3 * {u2} + 0.5) as bigint) AS u2_milli",
    )


_ORACLE_U2 = f"""
WITH daily AS ({_SQL_DAILY}),
ser AS (
  SELECT d, cast(floor(cast(y AS DOUBLE) / 1e5 + 0.5) AS BIGINT) AS yd
  FROM daily
),
lagged AS (
  SELECT yd, lag(yd, 1) OVER (ORDER BY d) AS f1,
         lag(yd, {_SEASON}) OVER (ORDER BY d) AS fs
  FROM ser
),
m AS (
  SELECT count(*)::BIGINT AS n,
         sum((yd - fs)::HUGEINT * (yd - fs)) AS ss,
         sum((yd - f1)::HUGEINT * (yd - f1)) AS sn
  FROM lagged WHERE f1 IS NOT NULL AND fs IS NOT NULL
)
SELECT n AS n_days, cast(ss AS DOUBLE) AS sse_seasonal,
       cast(sn AS DOUBLE) AS sse_naive,
       cast(floor(1e3 * sqrt(cast(ss AS DOUBLE) / cast(sn AS DOUBLE)) + 0.5)
            AS BIGINT) AS u2_milli
FROM m
"""


# --------------------------------------------------------------------------
# Spectral entropy of the fixed-period periodogram (X7 [EXT])
# --------------------------------------------------------------------------


def q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 spectral entropy: Shannon entropy of the normalized
    periodogram power over the literal period grid _SE_PERIODS on the
    mean-centered daily value spine — low entropy = one period
    dominates (strong seasonality), entropy ~1 = white noise. Power at
    period p = C_p^2 + S_p^2 with C/S the cos/sin weighted day sums
    (trig micro-snapped per day cell, the ecf convention); entropy
    normalizes by ln(K). Output one row: n_days, dominant_period,
    peak_share_milli, entropy_milli."""
    daily = _daily(spark, sf_dir)
    mu = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    # centered deci-unit series, snapped: yc = round(y/1e5 - s/(n*1e5))
    cent = daily.crossJoin(F.broadcast(mu)).select(
        "d",
        "n",
        F.expr(
            "cast(floor(cast(y as double) / 1e5"
            " - cast(s as double) / (cast(n as double) * 1e5) + 0.5)"
            " as bigint)"
        ).alias("yc"),
    )
    periods = ",".join(str(p) for p in _SE_PERIODS)
    pi2 = 6.283185307179586
    grid = cent.select(
        "n", "yc", "d", F.explode(F.expr(f"array({periods})")).alias("p")
    )
    cosm = (
        f"cast(floor(1e6 * cos({pi2!r} * (cast(d % p as double))"
        " / cast(p as double)) + 0.5) as bigint)"
    )
    sinm = (
        f"cast(floor(1e6 * sin({pi2!r} * (cast(d % p as double))"
        " / cast(p as double)) + 0.5) as bigint)"
    )
    pw = grid.groupBy("p").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.expr(f"{_DEC.format(x='yc')} * {cosm}")).alias("cs"),
        F.sum(F.expr(f"{_DEC.format(x='yc')} * {sinm}")).alias("ss"),
    )
    # power per period in (deci-unit)^2: ((cs/1e6)^2 + (ss/1e6)^2) / n
    power = pw.select(
        "p",
        "n",
        F.expr(
            "cast(floor((cast(cs as double) / 1e6) * (cast(cs as double) / 1e6)"
            " / cast(n as double)"
            " + (cast(ss as double) / 1e6) * (cast(ss as double) / 1e6)"
            " / cast(n as double) + 0.5) as bigint)"
        ).alias("pw"),
    )
    tot = power.agg(F.sum("pw").cast("bigint").alias("tp"))
    k = len(_SE_PERIODS)
    ent = (
        power.crossJoin(F.broadcast(tot))
        .select(
            "p",
            "n",
            "pw",
            "tp",
            F.expr(
                "if(pw = 0, 0L, cast(floor(-1e6"
                " * (cast(pw as double) / cast(tp as double))"
                " * ln(cast(pw as double) / cast(tp as double)) + 0.5)"
                " as bigint))"
            ).alias("h_t"),
        )
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            # scalar composite key (pw*100 - p): integer powers differ by
            # >= 1 so *100 dominates and ties break to the SMALLEST
            # period — DuckDB's max_by takes no struct key
            F.expr("max_by(p, pw * 100 - p)").cast("bigint").alias(
                "dominant_period"
            ),
            F.expr(
                "cast(floor(1e3 * cast(max(pw) as double)"
                " / cast(max(tp) as double) + 0.5) as bigint)"
            ).alias("peak_share_milli"),
            F.expr(
                f"cast(floor(cast(sum(h_t) as double) / (1e3 * ln({k}.0))"
                " + 0.5) as bigint)"
            ).alias("entropy_milli"),
        )
    )
    return ent


def _oracle_spectral() -> str:
    pi2 = 6.283185307179586
    k = len(_SE_PERIODS)
    return f"""
WITH daily AS ({_SQL_DAILY}),
mu AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s FROM daily),
cent AS (
  SELECT d, n,
         cast(floor(cast(y AS DOUBLE) / 1e5
              - cast(s AS DOUBLE) / (cast(n AS DOUBLE) * 1e5) + 0.5)
              AS BIGINT) AS yc
  FROM daily, mu
),
grid AS (
  SELECT n, yc, d, p
  FROM cent, unnest([{", ".join(str(p) for p in _SE_PERIODS)}]) AS u(p)
),
pw AS (
  SELECT p, max(n)::BIGINT AS n,
         sum(yc::HUGEINT * cast(floor(1e6 * cos({pi2!r}
             * (cast(d % p AS DOUBLE)) / cast(p AS DOUBLE)) + 0.5)
             AS BIGINT)) AS cs,
         sum(yc::HUGEINT * cast(floor(1e6 * sin({pi2!r}
             * (cast(d % p AS DOUBLE)) / cast(p AS DOUBLE)) + 0.5)
             AS BIGINT)) AS ss
  FROM grid GROUP BY 1
),
power AS (
  SELECT p, n,
         cast(floor((cast(cs AS DOUBLE) / 1e6) * (cast(cs AS DOUBLE) / 1e6)
              / cast(n AS DOUBLE)
              + (cast(ss AS DOUBLE) / 1e6) * (cast(ss AS DOUBLE) / 1e6)
              / cast(n AS DOUBLE) + 0.5) AS BIGINT) AS pw
  FROM pw
),
tot AS (SELECT sum(pw)::BIGINT AS tp FROM power)
SELECT max(n)::BIGINT AS n_days,
       max_by(p, pw * 100 - p)::BIGINT AS dominant_period,
       cast(floor(1e3 * cast(max(pw) AS DOUBLE) / cast(max(tp) AS DOUBLE)
            + 0.5) AS BIGINT) AS peak_share_milli,
       cast(floor(cast(sum(CASE WHEN pw = 0 THEN 0
            ELSE cast(floor(-1e6 * (cast(pw AS DOUBLE) / cast(tp AS DOUBLE))
                 * ln(cast(pw AS DOUBLE) / cast(tp AS DOUBLE)) + 0.5)
                 AS BIGINT) END) AS DOUBLE) / (1e3 * ln({k}.0)) + 0.5)
            AS BIGINT) AS entropy_milli
FROM power, tot
"""


# --------------------------------------------------------------------------
# Sample entropy of the daily series (X7 [EXT])
# --------------------------------------------------------------------------


def q_sample_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 sample entropy SampEn(m=2, r=0.2*sd) (Richman &
    Moorman 2000) of the daily value spine: -ln(A/B) where B counts
    day pairs whose length-2 templates match within Chebyshev r and A
    counts length-3 matches — low SampEn = the series repeats itself.
    The template frame is one lead window over the calendar-bounded
    spine; matching is a bounded days^2 self-join (i < j, per the
    definition self-matches are excluded). r snaps to whole deci-units
    from the exact population sd. Output one row: n_days, r_deci, b_m,
    a_m1, sampen_milli."""
    daily = _daily(spark, sf_dir)
    ser = daily.select(
        "d",
        F.expr("cast(floor(cast(y as double) / 1e5 + 0.5) as bigint)").alias("yd"),
    )
    mom = ser.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yd").cast("bigint").alias("s"),
        F.sum(F.expr(f"{_DEC.format(x='yd')} * yd")).alias("q"),
    )
    # r = floor(0.2 * population sd + 0.5) in deci-units
    rr = (
        "cast(floor(0.2 * sqrt(cast(q as double) / cast(n as double)"
        " - (cast(s as double) / cast(n as double))"
        " * (cast(s as double) / cast(n as double))) + 0.5) as bigint)"
    )
    w = Window.orderBy("d")
    tmpl = (
        ser.select(
            "d",
            "yd",
            F.lead("yd", 1).over(w).alias("y1"),
            F.lead("yd", 2).over(w).alias("y2"),
        )
        .filter("y1 is not null and y2 is not null")
        .crossJoin(F.broadcast(mom.selectExpr("n", f"{rr} as r")))
    )
    tmpl = barrier(tmpl)  # both join sides reuse it
    a = tmpl.selectExpr(
        "d as da", "yd as a0", "y1 as a1", "y2 as a2", "n", "r"
    )
    b = tmpl.selectExpr("d as db", "yd as b0", "y1 as b1", "y2 as b2")
    pairs = a.join(b, F.expr("da < db")).selectExpr(
        "n",
        "r",
        "cast(greatest(abs(a0 - b0), abs(a1 - b1)) <= r as int) AS m2",
        "cast(greatest(abs(a0 - b0), abs(a1 - b1), abs(a2 - b2)) <= r as int)"
        " AS m3",
    )
    red = pairs.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.max("r").cast("bigint").alias("r_deci"),
        F.sum("m2").cast("bigint").alias("b_m"),
        F.sum("m3").cast("bigint").alias("a_m1"),
    )
    return red.selectExpr(
        "n_days",
        "r_deci",
        "b_m",
        "a_m1",
        "if(a_m1 = 0 or b_m = 0, cast(-1 as bigint),"
        " cast(floor(-1e3 * ln(cast(a_m1 as double) / cast(b_m as double))"
        " + 0.5) as bigint)) AS sampen_milli",
    )


_ORACLE_SAMPEN = f"""
WITH daily AS ({_SQL_DAILY}),
ser AS (
  SELECT d, cast(floor(cast(y AS DOUBLE) / 1e5 + 0.5) AS BIGINT) AS yd
  FROM daily
),
mom AS (
  SELECT count(*)::BIGINT AS n, sum(yd)::BIGINT AS s,
         sum(yd::HUGEINT * yd) AS q
  FROM ser
),
tmpl AS (
  SELECT d, yd, y1, y2, n,
         cast(floor(0.2 * sqrt(cast(q AS DOUBLE) / cast(n AS DOUBLE)
              - (cast(s AS DOUBLE) / cast(n AS DOUBLE))
              * (cast(s AS DOUBLE) / cast(n AS DOUBLE))) + 0.5) AS BIGINT)
           AS r
  FROM (
    SELECT d, yd, lead(yd, 1) OVER (ORDER BY d) AS y1,
           lead(yd, 2) OVER (ORDER BY d) AS y2
    FROM ser
  ), mom
  WHERE y1 IS NOT NULL AND y2 IS NOT NULL
),
pairs AS (
  SELECT a.n, a.r,
         CASE WHEN greatest(abs(a.yd - b.yd), abs(a.y1 - b.y1)) <= a.r
              THEN 1 ELSE 0 END AS m2,
         CASE WHEN greatest(abs(a.yd - b.yd), abs(a.y1 - b.y1),
                            abs(a.y2 - b.y2)) <= a.r
              THEN 1 ELSE 0 END AS m3
  FROM tmpl a JOIN tmpl b ON a.d < b.d
),
red AS (
  SELECT max(n)::BIGINT AS n_days, max(r)::BIGINT AS r_deci,
         sum(m2)::BIGINT AS b_m, sum(m3)::BIGINT AS a_m1
  FROM pairs
)
SELECT n_days, r_deci, b_m, a_m1,
       CASE WHEN a_m1 = 0 OR b_m = 0 THEN -1
            ELSE cast(floor(-1e3 * ln(cast(a_m1 AS DOUBLE)
                 / cast(b_m AS DOUBLE)) + 0.5) AS BIGINT) END AS sampen_milli
FROM red
"""


# --------------------------------------------------------------------------
# Taylor's power law across activity cells (X7 [EXT])
# --------------------------------------------------------------------------


def q_taylors_law_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Taylor's power law (Taylor 1961): across the
    (event_type x weekday) ENUM cells, ln(variance) regresses on
    ln(mean) of the event values; slope b ~ 1 is Poisson-like, b ~ 2 is
    multiplicative clustering. Cell moments are exact (micro sums,
    decimal squares); cell mean/variance snap micro before the ln; the
    OLS runs over <= 35 cells. Output one row: n_cells, slope_milli,
    intercept_milli, r2_milli."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            F.expr(f"(unix_micros(ts) div {_DAY_US} + 3) % 7").alias("w"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("event_type", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("vm").cast("bigint").alias("s"),
            F.sum(F.expr(f"{_DEC.format(x='vm')} * vm")).alias("q"),
        )
        .filter("c > 1")
    )
    # snapped micro mean and population variance per cell, then ln in
    # value units (mean/1e6, var/1e12)
    mv = cells.selectExpr(
        "cast(floor(cast(s as double) / cast(c as double) + 0.5) as bigint)"
        " AS mu",
        "cast(floor(cast(q as double) / cast(c as double)"
        " - (cast(s as double) / cast(c as double))"
        " * (cast(s as double) / cast(c as double)) + 0.5) as bigint) AS vv",
    ).selectExpr(
        "cast(floor(1e6 * ln(cast(mu as double) / 1e6) + 0.5) as bigint)"
        " AS lx",
        "cast(floor(1e6 * ln(cast(vv as double) / 1e12) + 0.5) as bigint)"
        " AS ly",
    )
    m = mv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='lx')} * lx")).alias("qx"),
        F.sum(F.expr(f"{_DEC.format(x='ly')} * ly")).alias("qy"),
        F.sum(F.expr(f"{_DEC.format(x='lx')} * ly")).alias("qxy"),
    )
    nn = "cast(n as double)"
    sxx = f"({nn} * cast(qx as double) - cast(sx as double) * cast(sx as double))"
    syy = f"({nn} * cast(qy as double) - cast(sy as double) * cast(sy as double))"
    sxy = f"({nn} * cast(qxy as double) - cast(sx as double) * cast(sy as double))"
    slope = f"({sxy} / {sxx})"
    icpt = (
        f"((cast(sy as double) - {slope} * cast(sx as double)) / ({nn} * 1e6))"
    )
    r2 = f"({sxy} * {sxy} / ({sxx} * {syy}))"
    return m.selectExpr(
        "n AS n_cells",
        f"cast(floor(1e3 * {slope} + 0.5) as bigint) AS slope_milli",
        f"cast(floor(1e3 * {icpt} + 0.5) as bigint) AS intercept_milli",
        f"cast(floor(1e3 * {r2} + 0.5) as bigint) AS r2_milli",
    )


def _oracle_taylor() -> str:
    nn = "cast(n AS DOUBLE)"
    sxx = f"({nn} * cast(qx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE))"
    syy = f"({nn} * cast(qy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))"
    sxy = f"({nn} * cast(qxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))"
    slope = f"({sxy} / {sxx})"
    icpt = (
        f"((cast(sy AS DOUBLE) - {slope} * cast(sx AS DOUBLE)) / ({nn} * 1e6))"
    )
    r2 = f"({sxy} * {sxy} / ({sxx} * {syy}))"
    return f"""
WITH cells AS (
  SELECT event_type, (epoch_us(ts) // {_DAY_US} + 3) % 7 AS w,
         count(*)::BIGINT AS c,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS s,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT)::HUGEINT
             * cast(floor(value * 1e6 + 0.5) AS BIGINT)) AS q
  FROM events GROUP BY 1, 2
),
mv AS (
  SELECT cast(floor(1e6 * ln(cast(cast(floor(cast(s AS DOUBLE)
           / cast(c AS DOUBLE) + 0.5) AS BIGINT) AS DOUBLE) / 1e6) + 0.5)
           AS BIGINT) AS lx,
         cast(floor(1e6 * ln(cast(cast(floor(cast(q AS DOUBLE)
           / cast(c AS DOUBLE)
           - (cast(s AS DOUBLE) / cast(c AS DOUBLE))
           * (cast(s AS DOUBLE) / cast(c AS DOUBLE)) + 0.5) AS BIGINT)
           AS DOUBLE) / 1e12) + 0.5) AS BIGINT) AS ly
  FROM cells WHERE c > 1
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(lx)::BIGINT AS sx, sum(ly)::BIGINT AS sy,
         sum(lx::HUGEINT * lx) AS qx, sum(ly::HUGEINT * ly) AS qy,
         sum(lx::HUGEINT * ly) AS qxy
  FROM mv
)
SELECT n AS n_cells,
       cast(floor(1e3 * {slope} + 0.5) AS BIGINT) AS slope_milli,
       cast(floor(1e3 * {icpt} + 0.5) AS BIGINT) AS intercept_milli,
       cast(floor(1e3 * {r2} + 0.5) AS BIGINT) AS r2_milli
FROM m
"""


# --------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified chi-square (X7 [EXT])
# --------------------------------------------------------------------------


def q_cmh_chi2_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Cochran-Mantel-Haenszel test (Cochran 1954; Mantel &
    Haenszel 1959, no continuity correction): is the exposure (odd
    user_id) / outcome ('{ev}') association nonzero given a COMMON odds
    ratio across the 7 weekday strata? chi2 = (sum a - sum E)^2 / sum V
    with E = r1*c1/n and V = r1*r0*c1*c0/(n^2*(n-1)) per stratum,
    micro-snapped before the sums. The test mantel_haenszel_or sizes
    and breslow_day_homogeneity validates. Output one row: n_strata,
    o_sum, e_micro, v_micro, cmh_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    strata = (
        e.select(
            F.expr(f"(unix_micros(ts) div {_DAY_US} + 3) % 7").alias("w"),
            F.expr("cast(user_id % 2 = 1 as int)").alias("x"),
            F.expr(f"cast(event_type = '{_CMH_EVENT}' as int)").alias("y"),
        )
        .groupBy("w")
        .agg(
            F.sum(F.expr("x * y")).cast("bigint").alias("a"),
            F.sum("x").cast("bigint").alias("r1"),
            F.sum("y").cast("bigint").alias("c1"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    ee = "(cast(r1 as double) * cast(c1 as double) / cast(n as double))"
    vv = (
        "(cast(r1 as double) * cast(n - r1 as double) * cast(c1 as double)"
        " * cast(n - c1 as double)"
        " / (cast(n as double) * cast(n as double) * cast(n - 1 as double)))"
    )
    red = strata.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("o_sum"),
        F.sum(F.expr(f"cast(floor(1e6 * {ee} + 0.5) as bigint)"))
        .cast("bigint")
        .alias("e_micro"),
        F.sum(F.expr(f"cast(floor(1e6 * {vv} + 0.5) as bigint)"))
        .cast("bigint")
        .alias("v_micro"),
    )
    chi2 = (
        "((cast(o_sum as double) - cast(e_micro as double) / 1e6)"
        " * (cast(o_sum as double) - cast(e_micro as double) / 1e6)"
        " / (cast(v_micro as double) / 1e6))"
    )
    return red.selectExpr(
        "n_strata",
        "o_sum",
        "e_micro",
        "v_micro",
        f"cast(floor(1e3 * {chi2} + 0.5) as bigint) AS cmh_milli",
        f"{chi2} > {_CHI1_95!r} AS reject_05",
    )


_ORACLE_CMH = f"""
WITH strata AS (
  SELECT (epoch_us(ts) // {_DAY_US} + 3) % 7 AS w,
         sum(CASE WHEN user_id % 2 = 1 AND event_type = '{_CMH_EVENT}'
             THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS r1,
         sum(CASE WHEN event_type = '{_CMH_EVENT}' THEN 1 ELSE 0 END)::BIGINT
           AS c1,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
),
red AS (
  SELECT count(*)::BIGINT AS n_strata, sum(a)::BIGINT AS o_sum,
         sum(cast(floor(1e6 * (cast(r1 AS DOUBLE) * cast(c1 AS DOUBLE)
             / cast(n AS DOUBLE)) + 0.5) AS BIGINT))::BIGINT AS e_micro,
         sum(cast(floor(1e6 * (cast(r1 AS DOUBLE) * cast(n - r1 AS DOUBLE)
             * cast(c1 AS DOUBLE) * cast(n - c1 AS DOUBLE)
             / (cast(n AS DOUBLE) * cast(n AS DOUBLE)
                * cast(n - 1 AS DOUBLE))) + 0.5) AS BIGINT))::BIGINT
           AS v_micro
  FROM strata
)
SELECT n_strata, o_sum, e_micro, v_micro,
       cast(floor(1e3 * ((cast(o_sum AS DOUBLE)
            - cast(e_micro AS DOUBLE) / 1e6)
            * (cast(o_sum AS DOUBLE) - cast(e_micro AS DOUBLE) / 1e6)
            / (cast(v_micro AS DOUBLE) / 1e6)) + 0.5) AS BIGINT)
         AS cmh_milli,
       ((cast(o_sum AS DOUBLE) - cast(e_micro AS DOUBLE) / 1e6)
        * (cast(o_sum AS DOUBLE) - cast(e_micro AS DOUBLE) / 1e6)
        / (cast(v_micro AS DOUBLE) / 1e6)) > {_CHI1_95!r} AS reject_05
FROM red
"""


REGISTRY_EXT133: dict[str, QuerySpec] = {
    "diebold_mariano": QuerySpec(
        q_diebold_mariano, _oracle_dm(), "X7 [EXT] Diebold-Mariano"
    ),
    "theil_u2_forecast": QuerySpec(
        q_theil_u2_forecast, _ORACLE_U2, "X7 [EXT] Theil U2"
    ),
    "spectral_entropy": QuerySpec(
        q_spectral_entropy, _oracle_spectral(), "X7 [EXT] spectral entropy"
    ),
    "sample_entropy_daily": QuerySpec(
        q_sample_entropy_daily, _ORACLE_SAMPEN, "X7 [EXT] SampEn"
    ),
    "taylors_law_slope": QuerySpec(
        q_taylors_law_slope, _oracle_taylor(), "X7 [EXT] Taylor's law"
    ),
    "cmh_chi2_strata": QuerySpec(
        q_cmh_chi2_strata, _ORACLE_CMH, "X7 [EXT] CMH chi2"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_diebold_mariano.__doc__ = q_diebold_mariano.__doc__.format(s=_SEASON)  # noqa: E501
q_theil_u2_forecast.__doc__ = q_theil_u2_forecast.__doc__.format(s=_SEASON)  # noqa: E501
q_spectral_entropy.__doc__ = q_spectral_entropy.__doc__.format(p=_SE_PERIODS)  # noqa: E501
q_cmh_chi2_strata.__doc__ = q_cmh_chi2_strata.__doc__.format(ev=_CMH_EVENT)  # noqa: E501
