"""Wave 142 [EXT]: OLS misspecification diagnostics — White's (1980)
general heteroskedasticity LM test (the aux regression on h AND h²,
generalizing the shipped breusch_pagan_test's h-only form), the
Goldfeld-Quandt (1965) subsample variance-ratio F, the Chow (1960)
structural-break F on the daily trend at the calendar midpoint, and
Ramsey's (1969) RESET with the squared fitted value. Companions of
breusch_pagan_test / trend_ols_newey_west / cluster_robust_se
(registry_ext140).

Scale notes (the 100x question, per query):
- white_lm_test: one exact-moment reduce for the coefficients, one
  residual pass (u = e² floored to VALUE-UNITS², the BP scaling that
  keeps u-weighted moments in decimal range), one aux-moment reduce —
  all map-side; the h/h² regressor moments are bounded by 24 hour
  values.
- goldfeld_quandt_variance: SSE per subsample comes straight from the
  (y, h) moment sums (SSE = Syy_c - Sxy_c²/Sxx_c, pure same-text
  double arithmetic on exact integer sums) — ONE conditional aggregate,
  no residual pass at all.
- chow_break_daily / ramsey_reset_daily: the corpus reduces to the
  calendar-bounded daily spine first; every downstream pass is
  constant-size at any corpus. RESET's added regressor z = ŷ² is
  computed as (milli-ŷ div 1000)² — integer div then integer square,
  exact in both engines, no transcendental.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000
#: chi-square upper-5% critical values (Abramowitz & Stegun table 26.8)
_CHI2_95 = 5.991464547107979  # 2 degrees of freedom


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily total value in MILLI units on the day spine (the
    trend_ols_newey_west frame, registry_ext140)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / 1e3 + 0.5) as bigint)"
            ).alias("y")
        )
    )


_SQL_DAILY = f"""
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e3 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# White's general heteroskedasticity test (X7 [EXT])
# --------------------------------------------------------------------------


def q_white_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 White (1980) LM test: regress the squared OLS residual
    (value on hour-of-day) on h AND h² — the no-functional-form
    heteroskedasticity check that catches variance patterns
    breusch_pagan_test's linear-in-h auxiliary misses. LM = n·R² of
    the 2-regressor auxiliary ~ chi²(2). u scales to VALUE-UNITS²
    (the BP convention) so every u-weighted moment stays in decimal
    range. Output one row: n, b_micro, white_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr(f"cast((unix_micros(ts) div {_HOUR_US}) % 24 as bigint)")
        .alias("h"),
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("y"),
    )
    base = barrier(base)  # coef pass + residual pass
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("h").cast("bigint").alias("sh"),
        F.sum(F.expr("h * h")).cast("bigint").alias("shh"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("h * y")).cast("bigint").alias("shy"),
    )
    nn = "cast(n as double)"
    sxx = f"({nn} * cast(shh as double) - cast(sh as double) * cast(sh as double))"
    sxy = f"({nn} * cast(shy as double) - cast(sh as double) * cast(sy as double))"
    b = f"({sxy} / {sxx})"
    a = f"((cast(sy as double) - {b} * cast(sh as double)) / {nn})"
    coef = m.selectExpr(
        "n",
        f"cast(floor({a} + 0.5) as bigint) AS am",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
    )
    red = (
        base.crossJoin(F.broadcast(coef))
        .selectExpr(
            "n",
            "h",
            "h * h AS h2",
            "cast(floor(cast((y - am - bm * h) as double)"
            " * (y - am - bm * h) / 1e12 + 0.5) as bigint) AS u",
        )
        .groupBy("n")
        .agg(
            F.sum("h").cast("bigint").alias("s1"),
            F.sum("h2").cast("bigint").alias("s2"),
            F.sum(F.expr("h * h2")).cast("bigint").alias("s12x"),
            F.sum(F.expr("h2 * h2")).cast("bigint").alias("s22x"),
            F.sum("u").cast("bigint").alias("su"),
            F.sum(F.expr(f"{_DEC.format(x='h')} * u")).alias("s1u"),
            F.sum(F.expr(f"{_DEC.format(x='h2')} * u")).alias("s2u"),
            F.sum(F.expr(f"{_DEC.format(x='u')} * u")).alias("suu"),
        )
    )
    # n-scaled centered moments (the n² factors cancel in b's and R²)
    c11 = f"({nn} * cast(s2 as double) - cast(s1 as double) * cast(s1 as double))"
    c22 = f"({nn} * cast(s22x as double) - cast(s2 as double) * cast(s2 as double))"
    c12 = f"({nn} * cast(s12x as double) - cast(s1 as double) * cast(s2 as double))"
    c1u = f"({nn} * cast(s1u as double) - cast(s1 as double) * cast(su as double))"
    c2u = f"({nn} * cast(s2u as double) - cast(s2 as double) * cast(su as double))"
    cuu = f"({nn} * cast(suu as double) - cast(su as double) * cast(su as double))"
    det = f"({c11} * {c22} - {c12} * {c12})"
    b1 = f"(({c22} * {c1u} - {c12} * {c2u}) / {det})"
    b2 = f"(({c11} * {c2u} - {c12} * {c1u}) / {det})"
    r2 = f"(({b1} * {c1u} + {b2} * {c2u}) / {cuu})"
    return (
        red.crossJoin(F.broadcast(coef.selectExpr("bm AS b_out")))
        .selectExpr(
            "n",
            "b_out AS b_micro",
            f"cast(floor(1e3 * {nn} * {r2} + 0.5) as bigint) AS white_milli",
            f"{nn} * {r2} > {_CHI2_95!r} AS reject_05",
        )
    )


def _oracle_white() -> str:
    nm = "cast(n AS DOUBLE)"
    sxx = f"({nm} * cast(shh AS DOUBLE) - cast(sh AS DOUBLE) * cast(sh AS DOUBLE))"
    sxy = f"({nm} * cast(shy AS DOUBLE) - cast(sh AS DOUBLE) * cast(sy AS DOUBLE))"
    b = f"({sxy} / {sxx})"
    a = f"((cast(sy AS DOUBLE) - {b} * cast(sh AS DOUBLE)) / {nm})"
    nn = "cast(r.n AS DOUBLE)"
    c11 = f"({nn} * cast(s2 AS DOUBLE) - cast(s1 AS DOUBLE) * cast(s1 AS DOUBLE))"
    c22 = f"({nn} * cast(s22x AS DOUBLE) - cast(s2 AS DOUBLE) * cast(s2 AS DOUBLE))"
    c12 = f"({nn} * cast(s12x AS DOUBLE) - cast(s1 AS DOUBLE) * cast(s2 AS DOUBLE))"
    c1u = f"({nn} * cast(s1u AS DOUBLE) - cast(s1 AS DOUBLE) * cast(su AS DOUBLE))"
    c2u = f"({nn} * cast(s2u AS DOUBLE) - cast(s2 AS DOUBLE) * cast(su AS DOUBLE))"
    cuu = f"({nn} * cast(suu AS DOUBLE) - cast(su AS DOUBLE) * cast(su AS DOUBLE))"
    det = f"({c11} * {c22} - {c12} * {c12})"
    b1 = f"(({c22} * {c1u} - {c12} * {c2u}) / {det})"
    b2 = f"(({c11} * {c2u} - {c12} * {c1u}) / {det})"
    r2 = f"(({b1} * {c1u} + {b2} * {c2u}) / {cuu})"
    return f"""
WITH base AS (
  SELECT cast((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS h,
         cast(floor(value * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(h)::BIGINT AS sh,
         sum(h * h)::BIGINT AS shh, sum(y)::BIGINT AS sy,
         sum(h * y)::BIGINT AS shy
  FROM base
),
coef AS (
  SELECT n, cast(floor({a} + 0.5) AS BIGINT) AS am,
         cast(floor({b} + 0.5) AS BIGINT) AS bm
  FROM m
),
red AS (
  SELECT c.n, sum(b.h)::BIGINT AS s1, sum(b.h * b.h)::BIGINT AS s2,
         sum(b.h * b.h * b.h)::BIGINT AS s12x,
         sum(b.h * b.h * b.h * b.h)::BIGINT AS s22x,
         sum(u)::BIGINT AS su,
         sum(b.h::HUGEINT * u) AS s1u,
         sum((b.h * b.h)::HUGEINT * u) AS s2u,
         sum(u::HUGEINT * u) AS suu
  FROM (SELECT h,
          cast(floor(cast((y - c2.am - c2.bm * h) AS DOUBLE)
               * (y - c2.am - c2.bm * h) / 1e12 + 0.5) AS BIGINT) AS u
        FROM base, coef c2) b, coef c
  GROUP BY 1
)
SELECT r.n, c.bm AS b_micro,
       cast(floor(1e3 * {nn} * {r2} + 0.5) AS BIGINT) AS white_milli,
       {nn} * {r2} > {_CHI2_95!r} AS reject_05
FROM red r JOIN coef c ON r.n = c.n
"""


# --------------------------------------------------------------------------
# Goldfeld-Quandt variance-ratio F (X7 [EXT])
# --------------------------------------------------------------------------

_GQ_LO_MAX = 7  # low subsample: hours 0..7
_GQ_HI_MIN = 16  # high subsample: hours 16..23 (middle third dropped)


def q_goldfeld_quandt_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Goldfeld & Quandt (1965): fit the value-on-hour OLS
    separately on the low (h ≤ 7) and high (h ≥ 16) thirds of the hour
    domain (middle third omitted, the classic design) and compare
    residual variances: GQ = (SSE_hi/df_hi) / (SSE_lo/df_lo) ~ F.
    SSE comes straight from the per-group moment sums — one
    conditional aggregate, no residual pass. Output one row: n_lo,
    n_hi, sse_ratio == gq_milli, df_lo, df_hi."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr(f"cast((unix_micros(ts) div {_HOUR_US}) % 24 as bigint)")
        .alias("h"),
        F.expr("cast(floor(value * 1e3 + 0.5) as bigint)").alias("y"),
    ).filter(f"h <= {_GQ_LO_MAX} OR h >= {_GQ_HI_MIN}")
    g = (
        base.withColumn("grp", F.expr(f"cast(h >= {_GQ_HI_MIN} as int)"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("h").cast("bigint").alias("sh"),
            F.sum(F.expr("h * h")).cast("bigint").alias("shh"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.expr(f"{_DEC.format(x='h')} * y")).alias("shy"),
            F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("syy"),
        )
    )
    nn = "cast(n as double)"
    cxx = f"({nn} * cast(shh as double) - cast(sh as double) * cast(sh as double))"
    cxy = f"({nn} * cast(shy as double) - cast(sh as double) * cast(sy as double))"
    cyy = f"({nn} * cast(syy as double) - cast(sy as double) * cast(sy as double))"
    # SSE in n-scaled centered form: divide by n to return to true SSE
    sse = f"(({cyy} - {cxy} * {cxy} / {cxx}) / {nn})"
    per = g.selectExpr("grp", "n", f"{sse} AS sse")
    wide = per.groupBy().pivot("grp", [0, 1]).agg(
        F.first("n").alias("n"), F.first("sse").alias("sse")
    )
    gq = (
        "(`1_sse` / cast(`1_n` - 2 as double))"
        " / (`0_sse` / cast(`0_n` - 2 as double))"
    )
    return wide.selectExpr(
        "`0_n` AS n_lo",
        "`1_n` AS n_hi",
        "`0_n` - 2 AS df_lo",
        "`1_n` - 2 AS df_hi",
        f"cast(floor(1e3 * ({gq}) + 0.5) as bigint) AS gq_milli",
    )


def _oracle_gq() -> str:
    nn = "cast(n AS DOUBLE)"
    cxx = f"({nn} * cast(shh AS DOUBLE) - cast(sh AS DOUBLE) * cast(sh AS DOUBLE))"
    cxy = f"({nn} * cast(shy AS DOUBLE) - cast(sh AS DOUBLE) * cast(sy AS DOUBLE))"
    cyy = f"({nn} * cast(syy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))"
    sse = f"(({cyy} - {cxy} * {cxy} / {cxx}) / {nn})"
    return f"""
WITH base AS (
  SELECT cast((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS h,
         cast(floor(value * 1e3 + 0.5) AS BIGINT) AS y
  FROM events
  WHERE cast((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) <= {_GQ_LO_MAX}
     OR cast((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) >= {_GQ_HI_MIN}
),
g AS (
  SELECT cast(h >= {_GQ_HI_MIN} AS INT) AS grp, count(*)::BIGINT AS n,
         sum(h)::BIGINT AS sh, sum(h * h)::BIGINT AS shh,
         sum(y)::BIGINT AS sy, sum(h::HUGEINT * y) AS shy,
         sum(y::HUGEINT * y) AS syy
  FROM base GROUP BY 1
),
per AS (SELECT grp, n, {sse} AS sse FROM g)
SELECT lo.n AS n_lo, hi.n AS n_hi,
       lo.n - 2 AS df_lo, hi.n - 2 AS df_hi,
       cast(floor(1e3 * ((hi.sse / cast(hi.n - 2 AS DOUBLE))
         / (lo.sse / cast(lo.n - 2 AS DOUBLE))) + 0.5) AS BIGINT)
         AS gq_milli
FROM (SELECT * FROM per WHERE grp = 0) lo,
     (SELECT * FROM per WHERE grp = 1) hi
"""


# --------------------------------------------------------------------------
# Chow structural-break F on the daily trend (X7 [EXT])
# --------------------------------------------------------------------------


def q_chow_break_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Chow (1960) test: does the daily-total trend line break
    at the calendar midpoint? F = ((SSE_pooled - SSE_1 - SSE_2)/k) /
    ((SSE_1 + SSE_2)/(n - 2k)), k = 2. The corpus reduces to the daily
    spine; one conditional aggregate carries all three segment moment
    sets (pooled = segment sums combined); SSEs are the same-text
    double closed form — no residual pass, no snapping needed. Output
    one row: n_days, t_break, chow_milli."""
    daily = _daily(spark, sf_dir)
    daily = barrier(daily)  # spine pass + moment pass
    sp = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d").cast("bigint").alias("d0"),
        F.max("d").cast("bigint").alias("d1"),
    )
    seg = (
        daily.crossJoin(F.broadcast(sp))
        .selectExpr(
            "n",
            "d - d0 AS t",
            "y",
            "(d1 - d0 + 1) div 2 AS tb",
            "cast(d - d0 >= (d1 - d0 + 1) div 2 as int) AS grp",
        )
        .groupBy("n", "tb", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum("t").cast("bigint").alias("st"),
            F.sum(F.expr("t * t")).cast("bigint").alias("stt"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.expr(f"{_DEC.format(x='t')} * y")).alias("sty"),
            F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("syy"),
        )
    )
    gg = "cast(ng as double)"
    cxx = f"({gg} * cast(stt as double) - cast(st as double) * cast(st as double))"
    cxy = f"({gg} * cast(sty as double) - cast(st as double) * cast(sy as double))"
    cyy = f"({gg} * cast(syy as double) - cast(sy as double) * cast(sy as double))"
    sse_g = f"(({cyy} - {cxy} * {cxy} / {cxx}) / {gg})"
    per = seg.selectExpr("n", "tb", "grp", "ng", f"{sse_g} AS sse",
                         "st", "stt", "sy", "sty", "syy")
    pooled = per.groupBy("n", "tb").agg(
        F.sum("ng").cast("bigint").alias("np"),
        F.sum("st").cast("bigint").alias("pst"),
        F.sum("stt").cast("bigint").alias("pstt"),
        F.sum("sy").cast("bigint").alias("psy"),
        F.sum("sty").alias("psty"),
        F.sum("syy").alias("psyy"),
        F.sum("sse").alias("sse_split"),
    )
    pp = "cast(np as double)"
    pxx = f"({pp} * cast(pstt as double) - cast(pst as double) * cast(pst as double))"
    pxy = f"({pp} * cast(psty as double) - cast(pst as double) * cast(psy as double))"
    pyy = f"({pp} * cast(psyy as double) - cast(psy as double) * cast(psy as double))"
    sse_p = f"(({pyy} - {pxy} * {pxy} / {pxx}) / {pp})"
    chow = (
        f"((({sse_p}) - sse_split) / 2.0D)"
        f" / (sse_split / cast(np - 4 as double))"
    )
    return pooled.selectExpr(
        "n AS n_days",
        "tb AS t_break",
        f"cast(floor(1e3 * ({chow}) + 0.5) as bigint) AS chow_milli",
    )


def _oracle_chow() -> str:
    gg = "cast(ng AS DOUBLE)"
    cxx = f"({gg} * cast(stt AS DOUBLE) - cast(st AS DOUBLE) * cast(st AS DOUBLE))"
    cxy = f"({gg} * cast(sty AS DOUBLE) - cast(st AS DOUBLE) * cast(sy AS DOUBLE))"
    cyy = f"({gg} * cast(syy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))"
    sse_g = f"(({cyy} - {cxy} * {cxy} / {cxx}) / {gg})"
    pp = "cast(np AS DOUBLE)"
    pxx = f"({pp} * cast(pstt AS DOUBLE) - cast(pst AS DOUBLE) * cast(pst AS DOUBLE))"
    pxy = f"({pp} * cast(psty AS DOUBLE) - cast(pst AS DOUBLE) * cast(psy AS DOUBLE))"
    pyy = f"({pp} * cast(psyy AS DOUBLE) - cast(psy AS DOUBLE) * cast(psy AS DOUBLE))"
    sse_p = f"(({pyy} - {pxy} * {pxy} / {pxx}) / {pp})"
    chow = (
        f"((({sse_p}) - sse_split) / 2.0)"
        f" / (sse_split / cast(np - 4 AS DOUBLE))"
    )
    return f"""
WITH daily AS ({_SQL_DAILY}),
sp AS (
  SELECT count(*)::BIGINT AS n, min(d)::BIGINT AS d0, max(d)::BIGINT AS d1
  FROM daily
),
seg AS (
  SELECT s.n, (s.d1 - s.d0 + 1) // 2 AS tb,
         cast(d.d - s.d0 >= (s.d1 - s.d0 + 1) // 2 AS INT) AS grp,
         count(*)::BIGINT AS ng,
         sum(d.d - s.d0)::BIGINT AS st,
         sum((d.d - s.d0) * (d.d - s.d0))::BIGINT AS stt,
         sum(d.y)::BIGINT AS sy,
         sum((d.d - s.d0)::HUGEINT * d.y) AS sty,
         sum(d.y::HUGEINT * d.y) AS syy
  FROM daily d, sp s GROUP BY 1, 2, 3
),
per AS (SELECT n, tb, grp, ng, {sse_g} AS sse, st, stt, sy, sty, syy FROM seg),
pooled AS (
  SELECT n, tb, sum(ng)::BIGINT AS np, sum(st)::BIGINT AS pst,
         sum(stt)::BIGINT AS pstt, sum(sy)::BIGINT AS psy,
         sum(sty) AS psty, sum(syy) AS psyy, sum(sse) AS sse_split
  FROM per GROUP BY 1, 2
)
SELECT n AS n_days, tb AS t_break,
       cast(floor(1e3 * ({chow}) + 0.5) AS BIGINT) AS chow_milli
FROM pooled
"""


# --------------------------------------------------------------------------
# Ramsey RESET on the daily trend (X7 [EXT])
# --------------------------------------------------------------------------


def q_ramsey_reset_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Ramsey (1969) RESET: after the daily-trend OLS, does
    adding the squared fitted value z = ŷ² explain residual variation
    (functional-form misspecification)? F = (SSE_r - SSE_u) /
    (SSE_u/(n-3)) with the unrestricted SSE from the 2-regressor
    (t, z) closed form. ŷ snaps milli, z = (ŷ_milli div 1000)² is an
    integer square — exact in both engines. Output one row: n_days,
    slope_milli, reset_milli."""
    daily = _daily(spark, sf_dir)
    daily = barrier(daily)  # 3 passes
    sp = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d").cast("bigint").alias("d0"),
    )
    base = daily.crossJoin(F.broadcast(sp)).selectExpr("n", "d - d0 AS t", "y")
    mom = base.groupBy("n").agg(
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.expr("t * t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='t')} * y")).alias("sty"),
    )
    nn = "cast(n as double)"
    cxx = f"({nn} * cast(stt as double) - cast(st as double) * cast(st as double))"
    cxy = f"({nn} * cast(sty as double) - cast(st as double) * cast(sy as double))"
    b = f"({cxy} / {cxx})"
    a = f"((cast(sy as double) - {b} * cast(st as double)) / {nn})"
    coef = mom.selectExpr(
        "n",
        f"cast(floor({a} + 0.5) as bigint) AS am",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
    )
    aug = (
        base.join(F.broadcast(coef), "n")
        .selectExpr("n", "bm", "t", "y", "((am + bm * t) div 1000) AS zr")
        .selectExpr("n", "bm", "t", "y", "zr * zr AS z")
    )
    red = aug.groupBy("n", "bm").agg(
        F.sum("t").cast("bigint").alias("s1"),
        F.sum(F.expr("t * t")).cast("bigint").alias("s11x"),
        F.sum(F.expr(f"{_DEC.format(x='z')}")).alias("s2"),
        F.sum(F.expr(f"{_DEC.format(x='t')} * z")).alias("s12x"),
        F.sum(F.expr(f"{_DEC.format(x='z')} * z")).alias("s22x"),
        F.sum("y").cast("bigint").alias("su"),
        F.sum(F.expr(f"{_DEC.format(x='t')} * y")).alias("s1u"),
        F.sum(F.expr(f"{_DEC.format(x='z')} * y")).alias("s2u"),
        F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("suu"),
    )
    c11 = f"({nn} * cast(s11x as double) - cast(s1 as double) * cast(s1 as double))"
    c22 = f"({nn} * cast(s22x as double) - cast(s2 as double) * cast(s2 as double))"
    c12 = f"({nn} * cast(s12x as double) - cast(s1 as double) * cast(s2 as double))"
    c1u = f"({nn} * cast(s1u as double) - cast(s1 as double) * cast(su as double))"
    c2u = f"({nn} * cast(s2u as double) - cast(s2 as double) * cast(su as double))"
    cuu = f"({nn} * cast(suu as double) - cast(su as double) * cast(su as double))"
    det = f"({c11} * {c22} - {c12} * {c12})"
    b1 = f"(({c22} * {c1u} - {c12} * {c2u}) / {det})"
    b2 = f"(({c11} * {c2u} - {c12} * {c1u}) / {det})"
    sse_u = f"(({cuu} - {b1} * {c1u} - {b2} * {c2u}) / {nn})"
    sse_r = f"(({cuu} - {c1u} * {c1u} / {c11}) / {nn})"
    reset = f"((({sse_r}) - ({sse_u})) / (({sse_u}) / cast(n - 3 as double)))"
    return red.selectExpr(
        "n AS n_days",
        "bm AS slope_milli",
        f"cast(floor(1e3 * ({reset}) + 0.5) as bigint) AS reset_milli",
    )


def _oracle_reset() -> str:
    nn = "cast(n AS DOUBLE)"
    cxx = f"({nn} * cast(stt AS DOUBLE) - cast(st AS DOUBLE) * cast(st AS DOUBLE))"
    cxy = f"({nn} * cast(sty AS DOUBLE) - cast(st AS DOUBLE) * cast(sy AS DOUBLE))"
    b = f"({cxy} / {cxx})"
    a = f"((cast(sy AS DOUBLE) - {b} * cast(st AS DOUBLE)) / {nn})"
    c11 = f"({nn} * cast(s11x AS DOUBLE) - cast(s1 AS DOUBLE) * cast(s1 AS DOUBLE))"
    c22 = f"({nn} * cast(s22x AS DOUBLE) - cast(s2 AS DOUBLE) * cast(s2 AS DOUBLE))"
    c12 = f"({nn} * cast(s12x AS DOUBLE) - cast(s1 AS DOUBLE) * cast(s2 AS DOUBLE))"
    c1u = f"({nn} * cast(s1u AS DOUBLE) - cast(s1 AS DOUBLE) * cast(su AS DOUBLE))"
    c2u = f"({nn} * cast(s2u AS DOUBLE) - cast(s2 AS DOUBLE) * cast(su AS DOUBLE))"
    cuu = f"({nn} * cast(suu AS DOUBLE) - cast(su AS DOUBLE) * cast(su AS DOUBLE))"
    det = f"({c11} * {c22} - {c12} * {c12})"
    b1 = f"(({c22} * {c1u} - {c12} * {c2u}) / {det})"
    b2 = f"(({c11} * {c2u} - {c12} * {c1u}) / {det})"
    sse_u = f"(({cuu} - {b1} * {c1u} - {b2} * {c2u}) / {nn})"
    sse_r = f"(({cuu} - {c1u} * {c1u} / {c11}) / {nn})"
    reset = f"((({sse_r}) - ({sse_u})) / (({sse_u}) / cast(n - 3 AS DOUBLE)))"
    return f"""
WITH daily AS ({_SQL_DAILY}),
sp AS (SELECT count(*)::BIGINT AS n, min(d)::BIGINT AS d0 FROM daily),
base AS (SELECT n, d - d0 AS t, y FROM daily, sp),
mom AS (
  SELECT n, sum(t)::BIGINT AS st, sum(t * t)::BIGINT AS stt,
         sum(y)::BIGINT AS sy, sum(t::HUGEINT * y) AS sty
  FROM base GROUP BY 1
),
coef AS (
  SELECT n, cast(floor({a} + 0.5) AS BIGINT) AS am,
         cast(floor({b} + 0.5) AS BIGINT) AS bm
  FROM mom
),
aug AS (
  SELECT b.n, c.bm, b.t, b.y,
         ((c.am + c.bm * b.t) // 1000) * ((c.am + c.bm * b.t) // 1000) AS z
  FROM base b JOIN coef c ON b.n = c.n
),
red AS (
  SELECT n, bm, sum(t)::BIGINT AS s1, sum(t * t)::BIGINT AS s11x,
         sum(z::HUGEINT) AS s2, sum(t::HUGEINT * z) AS s12x,
         sum(z::HUGEINT * z) AS s22x, sum(y)::BIGINT AS su,
         sum(t::HUGEINT * y) AS s1u, sum(z::HUGEINT * y) AS s2u,
         sum(y::HUGEINT * y) AS suu
  FROM aug GROUP BY 1, 2
)
SELECT n AS n_days, bm AS slope_milli,
       cast(floor(1e3 * ({reset}) + 0.5) AS BIGINT) AS reset_milli
FROM red
"""


REGISTRY_EXT142: dict[str, QuerySpec] = {
    "white_lm_test": QuerySpec(
        q_white_lm_test, _oracle_white(), "X7 [EXT] White LM"
    ),
    "goldfeld_quandt_variance": QuerySpec(
        q_goldfeld_quandt_variance, _oracle_gq(), "X7 [EXT] Goldfeld-Quandt"
    ),
    "chow_break_daily": QuerySpec(
        q_chow_break_daily, _oracle_chow(), "X7 [EXT] Chow break"
    ),
    "ramsey_reset_daily": QuerySpec(
        q_ramsey_reset_daily, _oracle_reset(), "X7 [EXT] Ramsey RESET"
    ),
}
