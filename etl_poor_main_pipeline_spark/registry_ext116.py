"""Wave 116 [EXT]: lead-lag structure between metric series — Granger
causality, the cross-correlation function, and two more two-sample tests
(Kuiper, Mood median) the drift suite lacked.

Scale notes (the 100x question, per query):
- granger_causality_hourly: both series reduce map-side to the
  calendar-bounded hourly spine; lag alignment is one window over that
  spine (sanctioned category); the restricted/unrestricted OLS moments
  stage through decimal(38,0)/HUGEINT and the 2x2 normal equations
  solve in closed form with micro-snapped betas, so the F statistic is
  engine-exact.
- cross_correlation_lags: CCF at lags 0..{L} via equi-joins of the
  hourly spine against itself shifted by a LITERAL lag grid (13 x
  spine rows, bounded); per-lag moments are exact ints.
- kuiper_two_sample: the rotation-invariant KS companion (sensitive to
  tail + median shifts equally): V = D+ + D- over the pooled centi
  value-cell CDF — integer numerators until one final divide; prefix
  walk over domain-bounded cells (sanctioned).
- mood_median_test: pooled median via the value-cell CDF order
  statistic (house pattern, no row sort), then an exact-integer 2x2
  chi-square of above/below-median counts per sample.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_HOUR_US = 3_600_000_000
_GC_A, _GC_B = "click", "purchase"  # does A Granger-cause B?
_CCF_MAX_LAG = 12
_F_CRIT_MILLI = 3_850  # F(1, inf) at alpha=.05
_KUIPER_A, _KUIPER_B = "view", "purchase"
_CHI2_CRIT_MILLI = 3_841  # chi2(1) at alpha=.05

_HOURLY_2SERIES = """
  SELECT {hr_expr} AS hr,
         cast(floor(1e6 * cast(sum(CASE WHEN event_type = '{a}'
                  THEN cast(value AS DECIMAL(18,6)) END) AS DOUBLE)
              / sum(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) + 0.5)
           AS BIGINT) AS ya,
         cast(floor(1e6 * cast(sum(CASE WHEN event_type = '{b}'
                  THEN cast(value AS DECIMAL(18,6)) END) AS DOUBLE)
              / sum(CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END) + 0.5)
           AS BIGINT) AS yb
  FROM events
  WHERE event_type IN ('{a}', '{b}')
  GROUP BY 1
  HAVING sum(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END) > 0
"""


def _hourly_two_series(
    spark: SparkSession, sf_dir: str, a: str, b: str
) -> DataFrame:
    """Hourly micro-mean spine for two event types; hours having both."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin(a, b))
    m = (
        "cast(floor(1e6 * cast(sum(case when event_type = '{t}'"
        " then cast(value as decimal(18,6)) end) as double)"
        " / sum(case when event_type = '{t}' then 1 else 0 end) + 0.5) as bigint)"
    )
    return (
        e.groupBy(F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"))
        .agg(
            F.expr(m.format(t=a)).alias("ya"),
            F.expr(m.format(t=b)).alias("yb"),
            F.expr(
                f"sum(case when event_type = '{a}' then 1 else 0 end)"
            ).alias("na_h"),
            F.expr(
                f"sum(case when event_type = '{b}' then 1 else 0 end)"
            ).alias("nb_h"),
        )
        .filter((F.col("na_h") > 0) & (F.col("nb_h") > 0))
        .select("hr", "ya", "yb")
    )


# --------------------------------------------------------------------------
# Granger causality on the hourly spine (X7 [EXT])
# --------------------------------------------------------------------------


def q_granger_causality_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Granger causality, lag 1: does the hourly mean of '{a}'
    values help predict the NEXT hour's '{b}' mean beyond '{b}'s own
    history? F-test of the restricted (b_t ~ c + b_lag) vs unrestricted
    (b_t ~ c + b_lag + a_lag) OLS — the lead-lag question behind every
    "is this metric a leading indicator?" dashboard. Moments stage
    through decimal(38,0); the 2-predictor normal equations solve in
    closed form with micro-snapped betas; F snaps milli. Output one row:
    n_obs, f_milli, granger_flag (F > {c})."""
    sp = _hourly_two_series(spark, sf_dir, _GC_A, _GC_B)
    w = Window.orderBy("hr")
    rows = (
        sp.select(
            "hr",
            F.col("yb").alias("y"),
            F.lag("yb", 1).over(w).alias("x1"),
            F.lag("ya", 1).over(w).alias("x2"),
        )
        .filter(F.col("x1").isNotNull() & F.col("x2").isNotNull())
    )
    dec = "cast({e} as decimal(38,0))"
    mom = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(f"sum({dec.format(e='y')})").alias("sy"),
        F.expr(f"sum({dec.format(e='x1')})").alias("s1"),
        F.expr(f"sum({dec.format(e='x2')})").alias("s2"),
        F.expr(f"sum({dec.format(e='y')} * {dec.format(e='y')})").alias("syy"),
        F.expr(f"sum({dec.format(e='x1')} * {dec.format(e='x1')})").alias("s11"),
        F.expr(f"sum({dec.format(e='x2')} * {dec.format(e='x2')})").alias("s22"),
        F.expr(f"sum({dec.format(e='x1')} * {dec.format(e='x2')})").alias("s12"),
        F.expr(f"sum({dec.format(e='x1')} * {dec.format(e='y')})").alias("s1y"),
        F.expr(f"sum({dec.format(e='x2')} * {dec.format(e='y')})").alias("s2y"),
    )
    # centered moments (double, exact ints), unrestricted via Cramer's rule
    c = (
        "(cast({ab} as double) - cast({a_} as double) * cast({b_} as double)"
        " / cast(n as double))"
    )
    c11 = c.format(ab="s11", a_="s1", b_="s1")
    c22 = c.format(ab="s22", a_="s2", b_="s2")
    c12 = c.format(ab="s12", a_="s1", b_="s2")
    c1y = c.format(ab="s1y", a_="s1", b_="sy")
    c2y = c.format(ab="s2y", a_="s2", b_="sy")
    cyy = c.format(ab="syy", a_="sy", b_="sy")
    b1u = (
        f"(cast(floor(1e6 * ({c1y} * {c22} - {c2y} * {c12})"
        f" / ({c11} * {c22} - {c12} * {c12}) + 0.5) as bigint) / 1e6)"
    )
    b2u = (
        f"(cast(floor(1e6 * ({c2y} * {c11} - {c1y} * {c12})"
        f" / ({c11} * {c22} - {c12} * {c12}) + 0.5) as bigint) / 1e6)"
    )
    b1r = f"(cast(floor(1e6 * {c1y} / {c11} + 0.5) as bigint) / 1e6)"
    sse_u = f"({cyy} - {b1u} * {c1y} - {b2u} * {c2y})"
    sse_r = f"({cyy} - {b1r} * {c1y})"
    return mom.select(
        F.col("n").alias("n_obs"),
        F.expr(
            f"cast(floor(1e3 * ({sse_r} - {sse_u})"
            f" / ({sse_u} / (cast(n as double) - 3.0)) + 0.5) as bigint)"
        ).alias("f_milli"),
    ).select(
        "n_obs",
        "f_milli",
        (F.col("f_milli") > F.lit(_F_CRIT_MILLI)).alias("granger_flag"),
    )


def _granger_oracle() -> str:
    hourly = _HOURLY_2SERIES.format(
        hr_expr=f"epoch_us(ts) // {_HOUR_US}", a=_GC_A, b=_GC_B
    )
    c = (
        "(cast({ab} AS DOUBLE) - cast({a_} AS DOUBLE) * cast({b_} AS DOUBLE)"
        " / cast(n AS DOUBLE))"
    )
    c11 = c.format(ab="s11", a_="s1", b_="s1")
    c22 = c.format(ab="s22", a_="s2", b_="s2")
    c12 = c.format(ab="s12", a_="s1", b_="s2")
    c1y = c.format(ab="s1y", a_="s1", b_="sy")
    c2y = c.format(ab="s2y", a_="s2", b_="sy")
    cyy = c.format(ab="syy", a_="sy", b_="sy")
    b1u = (
        f"(cast(floor(1e6 * ({c1y} * {c22} - {c2y} * {c12})"
        f" / ({c11} * {c22} - {c12} * {c12}) + 0.5) AS BIGINT) / 1e6)"
    )
    b2u = (
        f"(cast(floor(1e6 * ({c2y} * {c11} - {c1y} * {c12})"
        f" / ({c11} * {c22} - {c12} * {c12}) + 0.5) AS BIGINT) / 1e6)"
    )
    b1r = f"(cast(floor(1e6 * {c1y} / {c11} + 0.5) AS BIGINT) / 1e6)"
    sse_u = f"({cyy} - {b1u} * {c1y} - {b2u} * {c2y})"
    sse_r = f"({cyy} - {b1r} * {c1y})"
    return f"""
WITH sp AS ({hourly}),
rows_ AS (
  SELECT yb AS y,
         lag(yb, 1) OVER (ORDER BY hr) AS x1,
         lag(ya, 1) OVER (ORDER BY hr) AS x2
  FROM sp
),
mom AS (
  SELECT count(*)::BIGINT AS n,
         sum(y::HUGEINT) AS sy, sum(x1::HUGEINT) AS s1, sum(x2::HUGEINT) AS s2,
         sum(y::HUGEINT * y::HUGEINT) AS syy,
         sum(x1::HUGEINT * x1::HUGEINT) AS s11,
         sum(x2::HUGEINT * x2::HUGEINT) AS s22,
         sum(x1::HUGEINT * x2::HUGEINT) AS s12,
         sum(x1::HUGEINT * y::HUGEINT) AS s1y,
         sum(x2::HUGEINT * y::HUGEINT) AS s2y
  FROM rows_ WHERE x1 IS NOT NULL AND x2 IS NOT NULL
)
SELECT n AS n_obs,
       cast(floor(1e3 * ({sse_r} - {sse_u})
            / ({sse_u} / (cast(n AS DOUBLE) - 3.0)) + 0.5) AS BIGINT) AS f_milli,
       cast(floor(1e3 * ({sse_r} - {sse_u})
            / ({sse_u} / (cast(n AS DOUBLE) - 3.0)) + 0.5) AS BIGINT)
         > {_F_CRIT_MILLI} AS granger_flag
FROM mom
"""


# --------------------------------------------------------------------------
# Cross-correlation function at literal lags (X7 [EXT])
# --------------------------------------------------------------------------


def q_cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 cross-correlation function between the hourly '{a}' and
    '{b}' mean series at lags 0..{L} (a_t vs b_(t+lag)) — the "which
    metric LEADS?" diagnostic granger_causality summarizes into one F.
    The spine joins itself shifted by a LITERAL lag grid ({n} x spine,
    bounded); per-lag Pearson r from decimal-staged exact moments,
    milli-snapped. Output per lag: lag, n_pairs, r_milli."""
    sp = barrier(_hourly_two_series(spark, sf_dir, _GC_A, _GC_B), eager=True)
    lags = spark.range(0, _CCF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = sp.select(F.col("hr").alias("hra"), F.col("ya").alias("xa"))
    b = sp.select(F.col("hr").alias("hrb"), F.col("yb").alias("xb"))
    dec = "cast({e} as decimal(38,0))"
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hrb") == F.col("hra") + F.col("lag"))
        .select("lag", "xa", "xb")
    )
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr(f"sum({dec.format(e='xa')})").alias("sa"),
            F.expr(f"sum({dec.format(e='xb')})").alias("sb"),
            F.expr(f"sum({dec.format(e='xa')} * {dec.format(e='xa')})").alias("saa"),
            F.expr(f"sum({dec.format(e='xb')} * {dec.format(e='xb')})").alias("sbb"),
            F.expr(f"sum({dec.format(e='xa')} * {dec.format(e='xb')})").alias("sab"),
        )
        .select(
            "lag",
            "n_pairs",
            F.expr(
                "cast(floor(1e3 * (cast(n_pairs as double) * cast(sab as double)"
                " - cast(sa as double) * cast(sb as double))"
                " / sqrt((cast(n_pairs as double) * cast(saa as double)"
                "         - cast(sa as double) * cast(sa as double))"
                "      * (cast(n_pairs as double) * cast(sbb as double)"
                "         - cast(sb as double) * cast(sb as double))) + 0.5)"
                " as bigint)"
            ).alias("r_milli"),
        )
        .orderBy("lag")
    )


def _ccf_oracle() -> str:
    hourly = _HOURLY_2SERIES.format(
        hr_expr=f"epoch_us(ts) // {_HOUR_US}", a=_GC_A, b=_GC_B
    )
    return f"""
WITH sp AS ({hourly}),
lags AS (SELECT unnest(range(0, {_CCF_MAX_LAG + 1})) AS lag),
paired AS (
  SELECT lags.lag, a.ya AS xa, b.yb AS xb
  FROM sp a CROSS JOIN lags JOIN sp b ON b.hr = a.hr + lags.lag
),
mom AS (
  SELECT lag, count(*)::BIGINT AS n_pairs,
         sum(xa::HUGEINT) AS sa, sum(xb::HUGEINT) AS sb,
         sum(xa::HUGEINT * xa::HUGEINT) AS saa,
         sum(xb::HUGEINT * xb::HUGEINT) AS sbb,
         sum(xa::HUGEINT * xb::HUGEINT) AS sab
  FROM paired GROUP BY lag
)
SELECT lag, n_pairs,
       cast(floor(1e3 * (cast(n_pairs AS DOUBLE) * cast(sab AS DOUBLE)
            - cast(sa AS DOUBLE) * cast(sb AS DOUBLE))
            / sqrt((cast(n_pairs AS DOUBLE) * cast(saa AS DOUBLE)
                    - cast(sa AS DOUBLE) * cast(sa AS DOUBLE))
                 * (cast(n_pairs AS DOUBLE) * cast(sbb AS DOUBLE)
                    - cast(sb AS DOUBLE) * cast(sb AS DOUBLE))) + 0.5)
         AS BIGINT) AS r_milli
FROM mom
ORDER BY lag
"""


# --------------------------------------------------------------------------
# Kuiper two-sample test on centi value cells (X7 [EXT])
# --------------------------------------------------------------------------


def q_kuiper_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Kuiper two-sample statistic V = D+ + D- between the value
    distributions of '{a}' and '{b}' events — the rotation-invariant KS
    variant, equally sensitive to median AND tail shifts (KS under-
    weights tails; CvM integrates). Prefix walk over the pooled centi
    value-cell CDF; D+ and D- keep EXACT integer numerators
    (nb*cumA - na*cumB) until one final divide. Output one row: n_a,
    n_b, v_micro, signif_05 (V > c*sqrt((na+nb)/(na*nb)),
    c=1.747)."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KUIPER_A, _KUIPER_B)
    )
    cells = (
        e.select(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vc"),
            F.when(F.col("event_type") == _KUIPER_A, F.lit(1))
            .otherwise(F.lit(0))
            .alias("isa"),
        )
        .groupBy("vc")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.sum(F.lit(1) - F.col("isa")).cast("bigint").alias("cb"),
        )
    )
    w = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    pref = cells.select(
        F.sum("ca").over(w).cast("bigint").alias("cuma"),
        F.sum("cb").over(w).cast("bigint").alias("cumb"),
    )
    # D+ / D- integer numerators need na/nb; join totals back
    tot = pref.agg(
        F.max("cuma").cast("bigint").alias("na"),
        F.max("cumb").cast("bigint").alias("nb"),
    )
    # operands pre-cast to decimal(38,0) BEFORE the cross products so
    # nb*cuma / na*cumb never ride through int64 (overflow past ~3e9 sample
    # rows) — same staging as anderson_darling_2samp (round-7 advice).
    _dplus = (
        "cast(nb as decimal(38,0)) * cast(cuma as decimal(38,0))"
        " - cast(na as decimal(38,0)) * cast(cumb as decimal(38,0))"
    )
    dd = (
        pref.crossJoin(F.broadcast(tot))
        .agg(
            F.max(F.expr(_dplus)).alias("dplus_num"),
            F.max(F.expr(f"-({_dplus})")).alias("dminus_num"),
            F.max("na").cast("bigint").alias("na"),
            F.max("nb").cast("bigint").alias("nb"),
        )
    )
    return dd.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr(
            "cast(floor(1e6 * cast(greatest(dplus_num, 0)"
            " + greatest(dminus_num, 0) as double)"
            " / (cast(na as double) * cast(nb as double)) + 0.5) as bigint)"
        ).alias("v_micro"),
    ).select(
        "n_a",
        "n_b",
        "v_micro",
        F.expr(
            "v_micro > cast(floor(1e6 * 1.747"
            " * sqrt(cast(n_a + n_b as double)"
            " / (cast(n_a as double) * cast(n_b as double))) + 0.5) as bigint)"
        ).alias("signif_05"),
    )


_ORACLE_KUIPER = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_KUIPER_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN event_type = '{_KUIPER_B}' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM events WHERE event_type IN ('{_KUIPER_A}', '{_KUIPER_B}')
  GROUP BY 1
),
pref AS (
  SELECT sum(ca) OVER (ORDER BY vc)::BIGINT AS cuma,
         sum(cb) OVER (ORDER BY vc)::BIGINT AS cumb
  FROM cells
),
tot AS (SELECT max(cuma)::BIGINT AS na, max(cumb)::BIGINT AS nb FROM pref),
dd AS (
  SELECT max(nb::HUGEINT * cuma::HUGEINT - na::HUGEINT * cumb::HUGEINT)
           AS dplus_num,
         max(na::HUGEINT * cumb::HUGEINT - nb::HUGEINT * cuma::HUGEINT)
           AS dminus_num,
         max(na)::BIGINT AS na, max(nb)::BIGINT AS nb
  FROM pref, tot
)
SELECT na AS n_a, nb AS n_b,
       cast(floor(1e6 * cast(greatest(dplus_num, 0)
            + greatest(dminus_num, 0) AS DOUBLE)
            / (cast(na AS DOUBLE) * cast(nb AS DOUBLE)) + 0.5) AS BIGINT)
         AS v_micro,
       cast(floor(1e6 * cast(greatest(dplus_num, 0)
            + greatest(dminus_num, 0) AS DOUBLE)
            / (cast(na AS DOUBLE) * cast(nb AS DOUBLE)) + 0.5) AS BIGINT)
         > cast(floor(1e6 * 1.747
            * sqrt(cast(na + nb AS DOUBLE)
            / (cast(na AS DOUBLE) * cast(nb AS DOUBLE))) + 0.5) AS BIGINT)
         AS signif_05
FROM dd
"""


# --------------------------------------------------------------------------
# Mood's median test (X7 [EXT])
# --------------------------------------------------------------------------


def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Mood's median test between '{a}' and '{b}' event values:
    pooled median from the value-cell CDF (order statistic at rank
    ceil(n/2), the house no-row-sort pattern), then an exact-integer
    2x2 chi-square of above-vs-at/below-median counts per sample — the
    robust "did the MEDIAN move?" companion of the rank tests (valid
    under heavy tails where the t-test is not). Output one row: n_a,
    n_b, median_cell, chi2_milli, signif_05."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KUIPER_A, _KUIPER_B)
    )
    cells = (
        e.select(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vc"),
            F.when(F.col("event_type") == _KUIPER_A, F.lit(1))
            .otherwise(F.lit(0))
            .alias("isa"),
        )
        .groupBy("vc")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.sum(F.lit(1) - F.col("isa")).cast("bigint").alias("cb"),
        )
    )
    w = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    pref = cells.select(
        "vc",
        "ca",
        "cb",
        F.sum(F.col("ca") + F.col("cb")).over(w).cast("bigint").alias("cum"),
    )
    tot = pref.agg(
        F.max("cum").cast("bigint").alias("n"),
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    med = (
        pref.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("vc").cast("bigint").alias("median_cell"))
    )
    counts = (
        cells.crossJoin(F.broadcast(med))
        .agg(
            F.sum(F.when(F.col("vc") > F.col("median_cell"), F.col("ca")))
            .cast("bigint")
            .alias("a_above"),
            F.sum(F.when(F.col("vc") > F.col("median_cell"), F.col("cb")))
            .cast("bigint")
            .alias("b_above"),
            F.sum("ca").cast("bigint").alias("na"),
            F.sum("cb").cast("bigint").alias("nb"),
            F.max("median_cell").cast("bigint").alias("median_cell"),
        )
    )
    # chi2 with 1 df on the 2x2 (above vs not) x (a vs b) table
    chi2 = (
        "cast(floor(1e3 * cast(na + nb as double)"
        " * pow(cast(a_above as double) * cast(nb - b_above as double)"
        "   - cast(b_above as double) * cast(na - a_above as double), 2.0)"
        " / (cast(na as double) * cast(nb as double)"
        "    * cast(a_above + b_above as double)"
        "    * cast(na + nb - a_above - b_above as double)) + 0.5) as bigint)"
    )
    return counts.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "median_cell",
        F.expr(chi2).alias("chi2_milli"),
    ).select(
        "n_a",
        "n_b",
        "median_cell",
        "chi2_milli",
        (F.col("chi2_milli") > F.lit(_CHI2_CRIT_MILLI)).alias("signif_05"),
    )


_ORACLE_MOOD = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_KUIPER_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN event_type = '{_KUIPER_B}' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM events WHERE event_type IN ('{_KUIPER_A}', '{_KUIPER_B}')
  GROUP BY 1
),
pref AS (
  SELECT vc, ca, cb,
         sum(ca + cb) OVER (ORDER BY vc)::BIGINT AS cum
  FROM cells
),
tot AS (SELECT max(cum)::BIGINT AS n, sum(ca)::BIGINT AS na,
               sum(cb)::BIGINT AS nb FROM pref),
med AS (
  SELECT min(vc)::BIGINT AS median_cell
  FROM pref, tot WHERE cum >= (n + 1) // 2
),
counts AS (
  SELECT sum(CASE WHEN vc > median_cell THEN ca END)::BIGINT AS a_above,
         sum(CASE WHEN vc > median_cell THEN cb END)::BIGINT AS b_above,
         sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
         max(median_cell)::BIGINT AS median_cell
  FROM cells, med
)
SELECT na AS n_a, nb AS n_b, median_cell,
       cast(floor(1e3 * cast(na + nb AS DOUBLE)
            * pow(cast(a_above AS DOUBLE) * cast(nb - b_above AS DOUBLE)
              - cast(b_above AS DOUBLE) * cast(na - a_above AS DOUBLE), 2.0)
            / (cast(na AS DOUBLE) * cast(nb AS DOUBLE)
               * cast(a_above + b_above AS DOUBLE)
               * cast(na + nb - a_above - b_above AS DOUBLE)) + 0.5)
         AS BIGINT) AS chi2_milli,
       cast(floor(1e3 * cast(na + nb AS DOUBLE)
            * pow(cast(a_above AS DOUBLE) * cast(nb - b_above AS DOUBLE)
              - cast(b_above AS DOUBLE) * cast(na - a_above AS DOUBLE), 2.0)
            / (cast(na AS DOUBLE) * cast(nb AS DOUBLE)
               * cast(a_above + b_above AS DOUBLE)
               * cast(na + nb - a_above - b_above AS DOUBLE)) + 0.5)
         AS BIGINT) > {_CHI2_CRIT_MILLI} AS signif_05
FROM counts
"""


REGISTRY_EXT116: dict[str, QuerySpec] = {
    "granger_causality_hourly": QuerySpec(
        q_granger_causality_hourly, _granger_oracle(), "X7 [EXT] Granger causality"
    ),
    "cross_correlation_lags": QuerySpec(
        q_cross_correlation_lags, _ccf_oracle(), "X7 [EXT] cross-correlation function"
    ),
    "kuiper_two_sample": QuerySpec(
        q_kuiper_two_sample, _ORACLE_KUIPER, "X7 [EXT] Kuiper two-sample test"
    ),
    "mood_median_test": QuerySpec(
        q_mood_median_test, _ORACLE_MOOD, "X7 [EXT] Mood median test"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_granger_causality_hourly.__doc__ = q_granger_causality_hourly.__doc__.format(a=_GC_A, b=_GC_B, c=_F_CRIT_MILLI / 1e3)  # noqa: E501
q_cross_correlation_lags.__doc__ = q_cross_correlation_lags.__doc__.format(a=_GC_A, b=_GC_B, L=_CCF_MAX_LAG, n=_CCF_MAX_LAG + 1)  # noqa: E501
q_kuiper_two_sample.__doc__ = q_kuiper_two_sample.__doc__.format(a=_KUIPER_A, b=_KUIPER_B)  # noqa: E501
q_mood_median_test.__doc__ = q_mood_median_test.__doc__.format(a=_KUIPER_A, b=_KUIPER_B)  # noqa: E501
