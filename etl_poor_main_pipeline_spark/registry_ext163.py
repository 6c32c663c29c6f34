"""Wave 163 [EXT]: mediation, reliability, epidemiology, multi-sample
capture-recapture, and count-model-diagnostic completers — the Sobel
(1982) mediation test over the daily click→view→purchase volume chain
(the a·b product-of-paths z the shipped iv_wald / DiD family doesn't
cover), Kuder-Richardson KR-20 (1937; the BINARY-item reliability
coefficient — cronbach_alpha's dichotomous special case with its own
published form), relative risk + risk difference + NNT with Katz log
and Wald CIs (the 2x2 effect measures odds_ratio_woolf leaves out),
the Schnabel (1938) multi-occasion census (capture_recapture_chapman's
K-sample generalization over weekly occasions), and van den Broek's
(1995) score test for zero inflation in a Poisson count grid (the
pre-model diagnostic behind the shipped
negative_binomial_overdispersion).

Conventions (documented, since implementations differ):
- sobel_mediation_test: X = daily click count, M = daily view count,
  Y = daily purchase count (calendar-day volumes); a from M~X simple
  OLS, b from Y~X+M two-predictor OLS (closed-form via n-scaled exact
  integer moment determinants), SEs with the usual (n-2)/(n-3)
  denominators; Sobel z = a·b/sqrt(a²s_b² + b²s_a²) (the first-order
  delta method, NOT Aroian's +s_a²s_b² variant).
- kr20_reliability: items = the 5 event types as per-user binaries
  (user emitted the type at least once), score = item sum; SAMPLE
  variance (n-1) of scores; KR20 = k/(k-1)·(1 - Σp_j(1-p_j)/σ²).
- relative_risk_katz: unit = event; exposure = weekend (ISO dow 6/7),
  outcome = event_type 'purchase'; RR with the Katz log CI
  (sqrt(1/a - 1/(a+b) + 1/c - 1/(c+d))), RD with the Wald CI,
  NNT = 1/|RD|; ln snapped nano.
- schnabel_census: occasions = calendar ISO-like weeks
  (day div 7 of the epoch-day — fixed 7-day blocks, not ISO weeks);
  C_t = distinct users active in week t, M_t = users first seen
  before t, R_t = recaptures; N̂ = Σ C_t·M_t / (Σ R_t + 1) (the
  Chapman-adjusted Schnabel, the +1 small-sample form).
- zero_inflation_score: count unit = (day × hour) purchase counts on
  the DENSE 24·|days| grid (zeros included by construction);
  van den Broek S = (n0/p0 - n)²/(n(1-p0)/p0 - n·λ̂) ~ χ²(1) with
  p0 = e^{-λ̂} (exp nano-snapped).

Scale notes (the 100x question, per query): every query reduces
map-side to calendar-bounded (daily / weekly / day-hour) or per-user
aggregate frames before any join; the dense day-hour grid is
24·|days| rows at any corpus size; the weekly census frames are
|weeks| rows. Exact integer moments stage decimal(38,0)/HUGEINT.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000
#: z and chi2(1) 5% criticals (milli)
_Z_95_MILLI = 1_960
_CHI2_1_95_MILLI = 3_841


# --------------------------------------------------------------------------
# Sobel mediation test (X7 [EXT])
# --------------------------------------------------------------------------


def _sobel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.selectExpr(
            f"unix_micros(ts) div {_DAY_US} AS d",
            "cast(event_type = 'click' as bigint) AS isx",
            "cast(event_type = 'view' as bigint) AS ism",
            "cast(event_type = 'purchase' as bigint) AS isy",
        )
        .groupBy("d")
        .agg(
            F.sum("isx").cast("bigint").alias("x"),
            F.sum("ism").cast("bigint").alias("m"),
            F.sum("isy").cast("bigint").alias("y"),
        )
    )


_SOBEL_MOMS = """
  count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(m)::BIGINT AS sm,
  sum(y)::BIGINT AS sy,
  sum(x::HUGEINT * x) AS sxx, sum(m::HUGEINT * m) AS smm,
  sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * m) AS sxm,
  sum(x::HUGEINT * y) AS sxy, sum(m::HUGEINT * y) AS smy
"""


def _sobel_exprs() -> list[str]:
    """The closed-form a, b, SEs, and Sobel z from n-scaled centered
    moments as output expressions — identical text both engines.
    Centered sums: Cuv = n·Suv - Su·Sv (exact integers cast to double
    once)."""
    c = lambda uv, u, v: (  # noqa: E731
        f"(cast(s{uv} as double) * n - cast(s{u} as double) * s{v})"
    )
    cxx, cmm, cyy = c("xx", "x", "x"), c("mm", "m", "m"), c("yy", "y", "y")
    cxm, cxy, cmy = c("xm", "x", "m"), c("xy", "x", "y"), c("my", "m", "y")
    a = f"({cxm} / {cxx})"
    sse1 = f"(({cmm} - {cxm} * {cxm} / {cxx}) / n)"
    sa2 = f"({sse1} / (cast(n as double) - 2.0) * n / {cxx})"
    det = f"({cxx} * {cmm} - {cxm} * {cxm})"
    b = f"(({cxx} * {cmy} - {cxm} * {cxy}) / {det})"
    cp = f"(({cmm} * {cxy} - {cxm} * {cmy}) / {det})"
    sse2 = f"(({cyy} - {cp} * {cxy} - {b} * {cmy}) / n)"
    sb2 = f"({sse2} / (cast(n as double) - 3.0) * n * {cxx} / {det})"
    z = (
        f"(({a} * {b})"
        f" / sqrt({a} * {a} * {sb2} + {b} * {b} * {sa2}))"
    )
    return [
        "n AS n_days",
        f"cast(floor(1e6 * {a} + 0.5) AS BIGINT) AS a_micro",
        f"cast(floor(1e6 * {b} + 0.5) AS BIGINT) AS b_micro",
        f"cast(floor(1e3 * {z} + 0.5) AS BIGINT) AS sobel_z_milli",
        f"abs(cast(floor(1e3 * {z} + 0.5) AS BIGINT)) > {_Z_95_MILLI}"
        " AS reject_05",
    ]


def q_sobel_mediation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Sobel (1982) mediation: does daily click volume (X)
    move purchase volume (Y) THROUGH view volume (M)? a from M~X, b
    from Y~X+M (exact n-scaled integer moment determinants), Sobel
    z = a·b/sqrt(a²s_b² + b²s_a²) — the product-of-paths delta-method
    test. Output one row: n_days, a_micro, b_micro, sobel_z_milli,
    reject_05."""
    daily = _sobel_daily(spark, sf_dir)
    moms = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(m as decimal(38,0)) * m")).alias("smm"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * m")).alias("sxm"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(m as decimal(38,0)) * y")).alias("smy"),
    )
    return moms.selectExpr(*_sobel_exprs())


_ORACLE_SOBEL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS x,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS m,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
           AS y
  FROM events GROUP BY 1
),
moms AS (SELECT {_SOBEL_MOMS} FROM daily)
SELECT {", ".join(_sobel_exprs())}
FROM moms
"""


# --------------------------------------------------------------------------
# Kuder-Richardson KR-20 reliability (X7 [EXT])
# --------------------------------------------------------------------------


def q_kr20_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 KR-20 (Kuder & Richardson 1937): internal consistency
    of 5 binary items, item j = "user's type-j event count exceeds the
    corpus-wide mean count per user" (ceil'd integer threshold; a raw
    presence item is degenerate on this corpus — every user emits every
    type, score variance 0) — Cronbach's α specialized to dichotomous
    items, with Σp_j(1-p_j) in place of the item variances. SAMPLE
    variance (n-1) of the per-user item-sum scores; all moments exact
    integers. Output one row: k_items, n_users, sum_pq_micro,
    var_total_micro, kr20_micro."""
    e = _t(spark, sf_dir, "events")
    cnts = barrier(  # thresh pass + item pass
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    nusers = cnts.agg(
        F.countDistinct("user_id").cast("bigint").alias("n")
    )
    # integer threshold per type: ceil(total_j / n_users)
    thresh = (
        cnts.groupBy("event_type")
        .agg(F.sum("cnt").cast("bigint").alias("tot"))
        .crossJoin(F.broadcast(nusers))
        .selectExpr(
            "event_type",
            "n",
            "(tot + n - 1) div n AS thr",
        )
    )
    marks = (
        cnts.join(F.broadcast(thresh.select("event_type", "thr")),
                  "event_type")
        .selectExpr("user_id", "event_type",
                    "cast(cnt > thr as bigint) AS hit")
    )
    per = (
        marks.groupBy("user_id")
        .agg(F.sum("hit").cast("bigint").alias("score"))
        .groupBy("score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    items = marks.groupBy("event_type").agg(
        F.sum("hit").cast("bigint").alias("uj")
    )
    itot = items.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.expr("cast(uj as decimal(38,0)) * uj")).alias("suj2"),
        F.sum("uj").cast("bigint").alias("suj"),
    )
    stot = per.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("cast(score as decimal(38,0)) * c")).alias("ss"),
        F.sum(F.expr("cast(score as decimal(38,0)) * score * c")).alias(
            "sss"
        ),
    )
    # sum p_j q_j = (1/n)*suj - (1/n^2)*suj2 ; var = (sss - ss^2/n)/(n-1)
    return itot.crossJoin(F.broadcast(stot)).selectExpr(
        "k AS k_items",
        "n AS n_users",
        "cast(floor(1e6 * (cast(suj as double) / n"
        " - cast(suj2 as double) / (cast(n as double) * n)) + 0.5)"
        " as bigint) AS sum_pq_micro",
        "cast(floor(1e6 * (cast(sss as double)"
        " - cast(ss as double) * cast(ss as double) / n)"
        " / (cast(n as double) - 1.0) + 0.5) as bigint)"
        " AS var_total_micro",
        "cast(floor(1e6 * (cast(k as double) / (cast(k as double) - 1.0))"
        " * (1.0 - (cast(suj as double) / n"
        "    - cast(suj2 as double) / (cast(n as double) * n))"
        "   / ((cast(sss as double)"
        "       - cast(ss as double) * cast(ss as double) / n)"
        "      / (cast(n as double) - 1.0))) + 0.5) as bigint)"
        " AS kr20_micro",
    )


_ORACLE_KR20 = """
WITH cnts AS (
  SELECT user_id, event_type, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
nu AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM cnts),
thresh AS (
  SELECT event_type, (sum(cnt)::BIGINT + n - 1) // n AS thr
  FROM cnts, nu GROUP BY event_type, n
),
marks AS (
  SELECT user_id, c.event_type,
         CASE WHEN cnt > thr THEN 1 ELSE 0 END::BIGINT AS hit
  FROM cnts c JOIN thresh t ON c.event_type = t.event_type
),
per AS (
  SELECT sum(hit)::BIGINT AS score FROM marks GROUP BY user_id
),
items AS (
  SELECT event_type, sum(hit)::BIGINT AS uj FROM marks GROUP BY 1
),
itot AS (
  SELECT count(*)::BIGINT AS k, sum(uj::HUGEINT * uj) AS suj2,
         sum(uj)::BIGINT AS suj
  FROM items
),
stot AS (
  SELECT count(*)::BIGINT AS n, sum(score)::BIGINT AS ss,
         sum(score::HUGEINT * score) AS sss
  FROM per
)
SELECT k AS k_items, n AS n_users,
       cast(floor(1e6 * (cast(suj AS DOUBLE) / n
         - cast(suj2 AS DOUBLE) / (cast(n AS DOUBLE) * n)) + 0.5)
         AS BIGINT) AS sum_pq_micro,
       cast(floor(1e6 * (cast(sss AS DOUBLE)
         - cast(ss AS DOUBLE) * cast(ss AS DOUBLE) / n)
         / (cast(n AS DOUBLE) - 1.0) + 0.5) AS BIGINT)
         AS var_total_micro,
       cast(floor(1e6 * (cast(k AS DOUBLE) / (cast(k AS DOUBLE) - 1.0))
         * (1.0 - (cast(suj AS DOUBLE) / n
            - cast(suj2 AS DOUBLE) / (cast(n AS DOUBLE) * n))
           / ((cast(sss AS DOUBLE)
               - cast(ss AS DOUBLE) * cast(ss AS DOUBLE) / n)
              / (cast(n AS DOUBLE) - 1.0))) + 0.5) AS BIGINT)
         AS kr20_micro
FROM itot, stot
"""


# --------------------------------------------------------------------------
# Relative risk / risk difference / NNT with CIs (X7 [EXT])
# --------------------------------------------------------------------------

_SLN9 = "(cast(floor(1e9 * ln({u}) + 0.5) as double) / 1e9)"


def q_relative_risk_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the 2x2 effect measures odds_ratio_woolf leaves out:
    relative risk with the Katz (1978) log CI, risk difference with
    the Wald CI, and NNT = 1/|RD| — exposure = weekend event, outcome
    = purchase. All four cells exact integers; ln nano-snapped.
    Output one row: a, b, c, d, rr_micro, rr_lo_micro, rr_hi_micro,
    rd_micro, rd_lo_micro, rd_hi_micro, nnt_milli, significant_05."""
    e = _t(spark, sf_dir, "events")
    cells = e.selectExpr(
        f"cast(pmod(unix_micros(ts) div {_DAY_US} + 3, 7) >= 5 as int)"
        " AS wk",
        "cast(event_type = 'purchase' as int) AS pur",
    ).agg(
        F.sum(F.expr("wk * pur")).cast("bigint").alias("a"),
        F.sum(F.expr("wk * (1 - pur)")).cast("bigint").alias("b"),
        F.sum(F.expr("(1 - wk) * pur")).cast("bigint").alias("c"),
        F.sum(F.expr("(1 - wk) * (1 - pur)")).cast("bigint").alias("d"),
    )
    p1 = "(cast(a as double) / (cast(a as double) + b))"
    p0 = "(cast(c as double) / (cast(c as double) + d))"
    lrr = _SLN9.format(u=f"({p1} / {p0})")
    se = (
        "sqrt(1.0 / a - 1.0 / (cast(a as double) + b)"
        " + 1.0 / c - 1.0 / (cast(c as double) + d))"
    )
    rd = f"({p1} - {p0})"
    serd = (
        f"sqrt({p1} * (1.0 - {p1}) / (cast(a as double) + b)"
        f" + {p0} * (1.0 - {p0}) / (cast(c as double) + d))"
    )
    return cells.selectExpr(
        "a", "b", "c", "d",
        f"cast(floor(1e6 * {p1} / {p0} + 0.5) as bigint) AS rr_micro",
        f"cast(floor(1e6 * exp({lrr} - 1.96 * {se}) + 0.5) as bigint)"
        " AS rr_lo_micro",
        f"cast(floor(1e6 * exp({lrr} + 1.96 * {se}) + 0.5) as bigint)"
        " AS rr_hi_micro",
        f"cast(floor(1e6 * {rd} + 0.5) as bigint) AS rd_micro",
        f"cast(floor(1e6 * ({rd} - 1.96 * {serd}) + 0.5) as bigint)"
        " AS rd_lo_micro",
        f"cast(floor(1e6 * ({rd} + 1.96 * {serd}) + 0.5) as bigint)"
        " AS rd_hi_micro",
        f"cast(floor(1e3 / abs({rd}) + 0.5) as bigint) AS nnt_milli",
        f"cast(floor(1e6 * exp({lrr} - 1.96 * {se}) + 0.5) as bigint)"
        " > 1000000 OR "
        f"cast(floor(1e6 * exp({lrr} + 1.96 * {se}) + 0.5) as bigint)"
        " < 1000000 AS significant_05",
    )


def _oracle_rr() -> str:
    sln9 = "(cast(floor(1e9 * ln({u}) + 0.5) AS DOUBLE) / 1e9)"
    p1 = "(cast(a AS DOUBLE) / (cast(a AS DOUBLE) + b))"
    p0 = "(cast(c AS DOUBLE) / (cast(c AS DOUBLE) + d))"
    lrr = sln9.format(u=f"({p1} / {p0})")
    se = (
        "sqrt(1.0 / a - 1.0 / (cast(a AS DOUBLE) + b)"
        " + 1.0 / c - 1.0 / (cast(c AS DOUBLE) + d))"
    )
    rd = f"({p1} - {p0})"
    serd = (
        f"sqrt({p1} * (1.0 - {p1}) / (cast(a AS DOUBLE) + b)"
        f" + {p0} * (1.0 - {p0}) / (cast(c AS DOUBLE) + d))"
    )
    return f"""
WITH cells AS (
  SELECT sum(wk * pur)::BIGINT AS a, sum(wk * (1 - pur))::BIGINT AS b,
         sum((1 - wk) * pur)::BIGINT AS c,
         sum((1 - wk) * (1 - pur))::BIGINT AS d
  FROM (
    SELECT CASE WHEN mod(epoch_us(ts) // {_DAY_US} + 3, 7) >= 5
                THEN 1 ELSE 0 END AS wk,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
    FROM events
  )
)
SELECT a, b, c, d,
       cast(floor(1e6 * {p1} / {p0} + 0.5) AS BIGINT) AS rr_micro,
       cast(floor(1e6 * exp({lrr} - 1.96 * {se}) + 0.5) AS BIGINT)
         AS rr_lo_micro,
       cast(floor(1e6 * exp({lrr} + 1.96 * {se}) + 0.5) AS BIGINT)
         AS rr_hi_micro,
       cast(floor(1e6 * {rd} + 0.5) AS BIGINT) AS rd_micro,
       cast(floor(1e6 * ({rd} - 1.96 * {serd}) + 0.5) AS BIGINT)
         AS rd_lo_micro,
       cast(floor(1e6 * ({rd} + 1.96 * {serd}) + 0.5) AS BIGINT)
         AS rd_hi_micro,
       cast(floor(1e3 / abs({rd}) + 0.5) AS BIGINT) AS nnt_milli,
       (cast(floor(1e6 * exp({lrr} - 1.96 * {se}) + 0.5) AS BIGINT)
          > 1000000)
       OR (cast(floor(1e6 * exp({lrr} + 1.96 * {se}) + 0.5) AS BIGINT)
          < 1000000) AS significant_05
FROM cells
"""


_ORACLE_RR = _oracle_rr()


# --------------------------------------------------------------------------
# Schnabel multi-occasion census (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_schnabel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Schnabel (1938) multi-sample capture-recapture over
    fixed 7-day occasions: C_t = users active in week t, M_t = users
    first seen before week t, R_t = recaptures in week t; N̂ =
    Σ C_t·M_t / (Σ R_t + 1) — the Chapman-adjusted Schnabel population
    estimate (capture_recapture_chapman's K-occasion sibling). Output
    one row: n_weeks, n_marked_total, sum_cm, sum_r, n_hat_milli."""
    e = _t(spark, sf_dir, "events")
    uw = barrier(  # first-week pass + weekly pass
        e.selectExpr(
            "user_id",
            f"unix_micros(ts) div {_DAY_US} div 7 AS w",
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("w").alias("fw"))
    weekly = (
        uw.join(first, "user_id")
        .selectExpr("w", "cast(fw < w as bigint) AS rec")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ct"),
            F.sum("rec").cast("bigint").alias("rt"),
        )
    )
    # M_t = cumulative first-seen before t == prefix of (ct - rt):
    # every user's first week contributes exactly one new mark
    news = weekly.selectExpr("w", "ct - rt AS nw", "ct", "rt")
    mpre = exclusive_prefix_sum(news, "w", "nw", out="mt")
    red = mpre.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum("nw").cast("bigint").alias("n_marked_total"),
        F.sum(F.expr("cast(ct as decimal(38,0)) * mt")).alias("sum_cm"),
        F.sum("rt").cast("bigint").alias("sum_r"),
    )
    return red.selectExpr(
        "n_weeks",
        "n_marked_total",
        "cast(sum_cm as bigint) AS sum_cm",
        "sum_r",
        "cast(floor(1e3 * cast(sum_cm as double)"
        " / (cast(sum_r as double) + 1.0) + 0.5) as bigint)"
        " AS n_hat_milli",
    )


_ORACLE_SCHNABEL = f"""
WITH uw AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} // 7 AS w
  FROM events
),
first AS (SELECT user_id, min(w) AS fw FROM uw GROUP BY 1),
weekly AS (
  SELECT w, count(*)::BIGINT AS ct,
         sum(CASE WHEN fw < w THEN 1 ELSE 0 END)::BIGINT AS rt
  FROM uw JOIN first USING (user_id)
  GROUP BY 1
),
mpre AS (
  SELECT w, ct, rt,
         coalesce(sum(ct - rt) OVER (ORDER BY w
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS mt
  FROM weekly
)
SELECT count(*)::BIGINT AS n_weeks,
       sum(ct - rt)::BIGINT AS n_marked_total,
       sum(ct::HUGEINT * mt)::BIGINT AS sum_cm,
       sum(rt)::BIGINT AS sum_r,
       cast(floor(1e3 * cast(sum(ct::HUGEINT * mt) AS DOUBLE)
         / (cast(sum(rt) AS DOUBLE) + 1.0) + 0.5) AS BIGINT)
         AS n_hat_milli
FROM mpre
"""


# --------------------------------------------------------------------------
# van den Broek zero-inflation score test (X7 [EXT])
# --------------------------------------------------------------------------

_SEXP9 = "(cast(floor(1e9 * exp({u}) + 0.5) as double) / 1e9)"


def q_zero_inflation_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 van den Broek (1995) score test: are there too many
    zero cells for a Poisson? Counts = purchases per (day × hour) on
    the DENSE 24·|days| grid (zeros by construction);
    S = (n0/p0 - n)²/(n(1-p0)/p0 - n·λ̂) ~ χ²(1), p0 = e^{-λ̂}
    (exp nano-snapped). Output one row: n_cells, n_zero, lambda_micro,
    score_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.selectExpr(f"unix_micros(ts) div {_DAY_US} AS d")
        .distinct()
        .selectExpr("d", "explode(sequence(0, 23)) AS h")
    )
    counts = (
        e.filter("event_type = 'purchase'")
        .selectExpr(
            f"unix_micros(ts) div {_DAY_US} AS d",
            f"(unix_micros(ts) % {_DAY_US}) div {_HOUR_US} AS h",
        )
        .groupBy("d", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    grid = days.join(counts, ["d", "h"], "left").selectExpr(
        "coalesce(y, 0L) AS y"
    )
    red = grid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("cast(y = 0 as bigint)")).cast("bigint").alias("n0"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    lam = "(cast(sy as double) / n)"
    p0 = _SEXP9.format(u=f"(0.0 - {lam})")
    s = (
        f"((cast(n0 as double) / {p0} - n)"
        f" * (cast(n0 as double) / {p0} - n)"
        f" / (cast(n as double) * (1.0 - {p0}) / {p0}"
        f" - cast(n as double) * {lam}))"
    )
    return red.selectExpr(
        "n AS n_cells",
        "n0 AS n_zero",
        f"cast(floor(1e6 * {lam} + 0.5) as bigint) AS lambda_micro",
        f"cast(floor(1e3 * {s} + 0.5) as bigint) AS score_milli",
        f"cast(floor(1e3 * {s} + 0.5) as bigint) > {_CHI2_1_95_MILLI}"
        " AS reject_05",
    )


def _oracle_zis() -> str:
    sexp9 = "(cast(floor(1e9 * exp({u}) + 0.5) AS DOUBLE) / 1e9)"
    lam = "(cast(sy AS DOUBLE) / n)"
    p0 = sexp9.format(u=f"(0.0 - {lam})")
    s = (
        f"((cast(n0 AS DOUBLE) / {p0} - n)"
        f" * (cast(n0 AS DOUBLE) / {p0} - n)"
        f" / (cast(n AS DOUBLE) * (1.0 - {p0}) / {p0}"
        f" - cast(n AS DOUBLE) * {lam}))"
    )
    return f"""
WITH days AS (
  SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS d FROM events
),
grid AS (
  SELECT d, unnest(range(0, 24)) AS h FROM days
),
counts AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         (epoch_us(ts) % {_DAY_US}) // {_HOUR_US} AS h,
         count(*)::BIGINT AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
cells AS (
  SELECT coalesce(y, 0)::BIGINT AS y
  FROM grid LEFT JOIN counts USING (d, h)
),
red AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(y)::BIGINT AS sy
  FROM cells
)
SELECT n AS n_cells, n0 AS n_zero,
       cast(floor(1e6 * {lam} + 0.5) AS BIGINT) AS lambda_micro,
       cast(floor(1e3 * {s} + 0.5) AS BIGINT) AS score_milli,
       cast(floor(1e3 * {s} + 0.5) AS BIGINT) > {_CHI2_1_95_MILLI}
         AS reject_05
FROM red
"""


_ORACLE_ZIS = _oracle_zis()


REGISTRY_EXT163: dict[str, QuerySpec] = {
    "sobel_mediation_test": QuerySpec(
        q_sobel_mediation_test, _ORACLE_SOBEL, "X7 [EXT] Sobel mediation"
    ),
    "kr20_reliability": QuerySpec(
        q_kr20_reliability, _ORACLE_KR20, "X7 [EXT] KR-20"
    ),
    "relative_risk_katz": QuerySpec(
        q_relative_risk_katz, _ORACLE_RR, "X7 [EXT] RR/RD/NNT"
    ),
    "schnabel_census": QuerySpec(
        q_schnabel_census, _ORACLE_SCHNABEL, "X7/X9 [EXT] Schnabel"
    ),
    "zero_inflation_score": QuerySpec(
        q_zero_inflation_score, _ORACLE_ZIS, "X7 [EXT] zero-inflation"
    ),
}
