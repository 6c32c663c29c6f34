"""Operator registry, wave 109: series and distribution diagnostics —
Kruskal-Wallis rank ANOVA, Durbin-Watson residual autocorrelation,
Jarque-Bera normality, and the Hurst rescaled-range exponent.

Scale stances:
- kruskal_wallis_rank_test: NO global sort — average ranks come from
  the centi value-cell frame (bounded by the score domain at any
  corpus size): one grouped pass to (type, cell) counts, a prefix
  window over the cell frame, and integer double-rank algebra (the
  kendall_tau_exact_cells reduction). Per-type H contributions snap
  micro before one integer fold; the tie correction folds from exact
  cell counts.
- durbin_watson_autocorr: the OLS detrend and the lag-1 difference
  both live on the per-type HOURLY frame (time-bounded, ~720 rows per
  type regardless of corpus size); residuals snap to a 1e-4 value grid
  so both engines square identical integers.
- jarque_bera_normality: one grouped pass computes exact centi power
  sums S1..S4 per type — S4 staged through decimal(38,0) (Spark) /
  HUGEINT (DuckDB) because vc^4 overflows bigint per row; skewness /
  excess kurtosis / JB fold from those exact sums with only IEEE
  +-*/sqrt (no libm), then snap.
- hurst_rescaled_range: R/S per (scale, block) over the hourly frame
  via block-partitioned windows; per-block rescaled ranges snap micro
  and integer-average per scale; the log-log slope uses exact dyadic
  log2(w) in {3,4,5,6} so the only transcendental is one ln per scale,
  snapped micro immediately (the platt_calibration_newton rule).

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

# chi-square critical values (0.95; shared literals so both engines
# compare against the same milli grid)
_KW_CRIT_MILLI = 9_488  # chi2(df=4)
_JB_CRIT_MILLI = 5_991  # chi2(df=2)
_DW_POS_MICRO = 1_500_000  # conventional dw < 1.5 positive-autocorr flag
_LN2 = 0.6931471805599453  # repr(math.log(2)) — exact double literal

_HOUR_US = 3_600_000_000


# --------------------------------------------------------------------------
# Kruskal-Wallis rank one-way ANOVA (X7 [EXT])
# --------------------------------------------------------------------------

# shared Spark/DuckDB expression text: per-type H contribution
# 12/(N(N+1)) * R_i^2/n_i with R_i = r2/2 == 3*r2^2 / (n_i*N*(N+1))
_KW_TERM = (
    "cast(floor(1e6 * 3.0 * cast(r2 as double) * r2"
    " / (cast(n_i as double) * n * (n + 1.0)) + 0.5) as bigint)"
)
_KW_H = (
    "cast(floor(1000 * ((cast(hsum as double) / 1e6 - 3.0 * (n + 1.0))"
    " / (1.0 - cast(ties_t as double)"
    "    / (cast(n as double) * n * n - n))) + 0.5) as bigint)"
)


def q_kruskal_wallis_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Kruskal-Wallis rank one-way ANOVA across the five event
    types on value: H = 12/(N(N+1)) sum_i R_i^2/n_i - 3(N+1), tie-
    corrected by C = 1 - sum(t^3-t)/(N^3-N) — the nonparametric "do ANY
    of the groups differ?" gate that anova_f assumes normality for and
    mann_whitney_u only answers pairwise. Average ranks are EXACT via
    the centi value-cell reduction: double-rank dr(cell) = 2*n_before +
    t + 1 is an integer, so per-type rank sums are one bigint fold over
    the (type, cell) frame — no row-level sort at any corpus size.
    Output one row: n, k, ties_t, h_milli, reject_05."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
    )
    pc = ev.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    cells = pc.groupBy("vc").agg(F.sum("cnt").cast("bigint").alias("t"))
    wpre = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    dr = cells.select(
        "vc",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(wpre), F.lit(0)).cast("bigint")
            + F.col("t")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("drank"),
    )
    typ = (
        pc.join(dr, "vc")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_i"),
            F.sum(F.col("cnt") * F.col("drank")).cast("bigint").alias("r2"),
        )
    )
    tot = cells.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties_t"),
    )
    hs = (
        typ.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.expr(_KW_TERM)).cast("bigint").alias("hsum"),
            F.max("n").cast("bigint").alias("n"),
            F.max("ties_t").cast("bigint").alias("ties_t"),
        )
    )
    return hs.select(
        "n",
        "k",
        "ties_t",
        F.expr(_KW_H).alias("h_milli"),
    ).select("*", (F.col("h_milli") > _KW_CRIT_MILLI).alias("reject_05"))


_ORACLE_KW = f"""
WITH ev AS (
  SELECT event_type, cast(floor(value * 100.0 + 0.5) AS bigint) AS vc FROM events
),
pc AS (
  SELECT event_type, vc, cast(count(*) AS bigint) AS cnt FROM ev GROUP BY 1, 2
),
cells AS (SELECT vc, sum(cnt)::BIGINT AS t FROM pc GROUP BY 1),
dr AS (
  SELECT vc,
         (2 * coalesce(sum(t) OVER (ORDER BY vc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + t + 1)::BIGINT AS drank
  FROM cells
),
typ AS (
  SELECT event_type, sum(cnt)::BIGINT AS n_i,
         sum(cnt * drank)::BIGINT AS r2
  FROM pc JOIN dr USING (vc) GROUP BY 1
),
tot AS (
  SELECT sum(t)::BIGINT AS n, sum(t * t * t - t)::BIGINT AS ties_t FROM cells
),
hs AS (
  SELECT cast(count(*) AS bigint) AS k,
         sum({_KW_TERM})::BIGINT AS hsum,
         max(n)::BIGINT AS n, max(ties_t)::BIGINT AS ties_t
  FROM typ, tot
)
SELECT n, k, ties_t, {_KW_H} AS h_milli,
       {_KW_H} > {_KW_CRIT_MILLI} AS reject_05
FROM hs
"""


# --------------------------------------------------------------------------
# Durbin-Watson residual autocorrelation (X7 [EXT])
# --------------------------------------------------------------------------

# shared text: OLS slope/intercept from exact hourly moments, residual
# snapped to the 1e-4 value grid (centi x * 1e2)
_DW_B = (
    "case when n * sdd - sd * sd = 0 then 0.0 else"
    " (cast(n as double) * sdx - cast(sd as double) * sx)"
    " / (cast(n as double) * sdd - cast(sd as double) * sd) end"
)
_DW_RM = "cast(floor(100.0 * (x - (a + b * d)) + 0.5) as bigint)"


def q_durbin_watson_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Durbin-Watson statistic of each event type's hourly
    mean-value series after an OLS linear detrend: DW = sum(e_t -
    e_(t-1))^2 / sum(e_t^2) — the classic lag-1 residual-independence
    diagnostic (≈2 none, →0 positive, →4 negative autocorrelation)
    that complements the shipped Ljung-Box portmanteau with the
    regression-residual view. The trend fit folds from five exact
    bigint moments of the hourly frame; residuals snap to a 1e-4 value
    grid so both engines difference identical integers. Output per
    type: n_hours, dw_micro, positive_autocorr flag at 1.5."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vcv"),
        )
        .groupBy("event_type", "hr")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vcv) as double) / cast(count(1) as double)"
                " + 0.5) as bigint)"
            ).alias("x")
        )
    )
    widx = Window.partitionBy("event_type").orderBy("hr")
    idx = barrier(hourly.select(
        "event_type",
        "hr",
        "x",
        (F.row_number().over(widx) - F.lit(1)).cast("bigint").alias("d"),
    ))
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("d") * F.col("x")).cast("bigint").alias("sdx"),
    )
    fit = mom.select(
        "event_type",
        "n",
        F.expr(_DW_B).alias("b"),
    ).join(mom.select("event_type", "sd", "sx"), "event_type").select(
        "event_type",
        "n",
        "b",
        F.expr("(cast(sx as double) - b * sd) / n").alias("a"),
    )
    resid = (
        idx.join(F.broadcast(fit), "event_type")
        .select("event_type", "hr", F.expr(_DW_RM).alias("rm"))
    )
    wlag = Window.partitionBy("event_type").orderBy("hr")
    diffed = resid.select(
        "event_type",
        "rm",
        (F.col("rm") - F.lag("rm").over(wlag)).alias("dm"),
    )
    return (
        diffed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum(F.col("rm") * F.col("rm")).cast("bigint").alias("den"),
            F.sum(F.col("dm") * F.col("dm")).cast("bigint").alias("num"),
        )
        .select(
            "event_type",
            "n_hours",
            F.expr(
                "case when den = 0 then cast(null as bigint) else"
                " cast(floor(1e6 * cast(num as double) / den + 0.5) as bigint) end"
            ).alias("dw_micro"),
        )
        .select(
            "*",
            (F.col("dw_micro") < _DW_POS_MICRO).alias("positive_autocorr"),
        )
        .orderBy("event_type")
    )


_ORACLE_DW = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hr,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, hr, x,
         (row_number() OVER (PARTITION BY event_type ORDER BY hr) - 1)::BIGINT AS d
  FROM hourly
),
mom AS (
  SELECT event_type, cast(count(*) AS bigint) AS n,
         sum(d)::BIGINT AS sd, sum(d * d)::BIGINT AS sdd,
         sum(x)::BIGINT AS sx, sum(d * x)::BIGINT AS sdx
  FROM idx GROUP BY 1
),
fit AS (
  SELECT event_type, n, b, (cast(sx AS double) - b * sd) / n AS a
  FROM (SELECT *, {_DW_B} AS b FROM mom)
),
resid AS (
  SELECT i.event_type, i.hr, {_DW_RM} AS rm
  FROM idx i JOIN fit USING (event_type)
),
diffed AS (
  SELECT event_type, rm,
         rm - lag(rm) OVER (PARTITION BY event_type ORDER BY hr) AS dm
  FROM resid
)
SELECT event_type, cast(count(*) AS bigint) AS n_hours,
       CASE WHEN sum(rm * rm)::BIGINT = 0 THEN NULL ELSE
         cast(floor(1e6 * cast(sum(dm * dm)::BIGINT AS double)
              / sum(rm * rm)::BIGINT + 0.5) AS bigint) END AS dw_micro,
       CASE WHEN sum(rm * rm)::BIGINT = 0 THEN NULL ELSE
         cast(floor(1e6 * cast(sum(dm * dm)::BIGINT AS double)
              / sum(rm * rm)::BIGINT + 0.5) AS bigint) END
         < {_DW_POS_MICRO} AS positive_autocorr
FROM diffed GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Jarque-Bera normality test (X7 [EXT])
# --------------------------------------------------------------------------

# shared text: central-moment algebra from exact power sums (IEEE
# +-*/sqrt only — no libm), snapped outputs
_JB_BODY = (
    "cast(s2 as double) / n - pow(cast(s1 as double) / n, 2) as m2",
    "s3d / n - 3.0 * (cast(s1 as double) / n) * (cast(s2 as double) / n)"
    " + 2.0 * pow(cast(s1 as double) / n, 3) as m3",
    "s4d / n - 4.0 * (cast(s1 as double) / n) * (s3d / n)"
    " + 6.0 * pow(cast(s1 as double) / n, 2) * (cast(s2 as double) / n)"
    " - 3.0 * pow(cast(s1 as double) / n, 4) as m4",
)


def q_jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Jarque-Bera normality test of value per event type:
    JB = n/6 * (S^2 + K^2/4) with S the skewness and K the excess
    kurtosis, against chi2(2) — the moment-based "is this metric even
    Gaussian?" gate that decides whether z-score monitors
    (anomaly_zscore) are valid at all. One grouped pass computes exact
    centi power sums S1..S4 (S4 staged decimal/HUGEINT — vc^4 overflows
    bigint per row); S, K, JB fold from those sums with IEEE
    +-*/pow-int/sqrt only, so both engines agree bit-for-bit before the
    micro/milli snap. Output per type: n, skew_micro, exkurt_micro,
    jb_milli, reject_normal_05."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
    )
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).cast("bigint").alias("s2"),
        F.sum((F.col("vc") * F.col("vc") * F.col("vc")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s3d"),
        F.sum(
            (F.col("vc") * F.col("vc")).cast("decimal(19,0)")
            * (F.col("vc") * F.col("vc"))
        )
        .cast("double")
        .alias("s4d"),
    )
    cm = sums.selectExpr("event_type", "n", *_JB_BODY)
    return (
        cm.select(
            "event_type",
            "n",
            F.expr(
                "case when m2 <= 0 then cast(null as bigint) else"
                " cast(floor(1e6 * m3 / (m2 * sqrt(m2)) + 0.5) as bigint) end"
            ).alias("skew_micro"),
            F.expr(
                "case when m2 <= 0 then cast(null as bigint) else"
                " cast(floor(1e6 * (m4 / (m2 * m2) - 3.0) + 0.5) as bigint) end"
            ).alias("exkurt_micro"),
        )
        .select(
            "*",
            F.expr(
                "case when skew_micro is null then cast(null as bigint) else"
                " cast(floor(1000 * (cast(n as double) / 6.0"
                " * (pow(cast(skew_micro as double) / 1e6, 2)"
                "    + pow(cast(exkurt_micro as double) / 1e6, 2) / 4.0))"
                " + 0.5) as bigint) end"
            ).alias("jb_milli"),
        )
        .select("*", (F.col("jb_milli") > _JB_CRIT_MILLI).alias("reject_normal_05"))
        .orderBy("event_type")
    )


_ORACLE_JB = f"""
WITH ev AS (
  SELECT event_type, cast(floor(value * 100.0 + 0.5) AS bigint) AS vc FROM events
),
sums AS (
  SELECT event_type, cast(count(*) AS bigint) AS n,
         sum(vc)::BIGINT AS s1, sum(vc * vc)::BIGINT AS s2,
         cast(sum(vc * vc * vc) AS double) AS s3d,
         cast(sum((vc * vc)::HUGEINT * (vc * vc)) AS double) AS s4d
  FROM ev GROUP BY 1
),
cm AS (SELECT event_type, n, {", ".join(_JB_BODY)} FROM sums),
sk AS (
  SELECT event_type, n,
         CASE WHEN m2 <= 0 THEN NULL ELSE
           cast(floor(1e6 * m3 / (m2 * sqrt(m2)) + 0.5) AS bigint) END AS skew_micro,
         CASE WHEN m2 <= 0 THEN NULL ELSE
           cast(floor(1e6 * (m4 / (m2 * m2) - 3.0) + 0.5) AS bigint) END
           AS exkurt_micro
  FROM cm
),
jb AS (
  SELECT *,
         CASE WHEN skew_micro IS NULL THEN NULL ELSE
           cast(floor(1000 * (cast(n AS double) / 6.0
                * (pow(cast(skew_micro AS double) / 1e6, 2)
                   + pow(cast(exkurt_micro AS double) / 1e6, 2) / 4.0))
                + 0.5) AS bigint) END AS jb_milli
  FROM sk
)
SELECT event_type, n, skew_micro, exkurt_micro, jb_milli,
       jb_milli > {_JB_CRIT_MILLI} AS reject_normal_05
FROM jb ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Hurst exponent via rescaled range (X7 [EXT])
# --------------------------------------------------------------------------

_HURST_SCALES = ((8, 3), (16, 4), (32, 5), (64, 6))  # (w, log2 w)

# shared text: per-block rescaled range from block windows, snapped micro
_RS_MICRO = (
    "case when cast(sxx as double) / w - pow(cast(sx as double) / w, 2) <= 0"
    " then cast(null as bigint) else cast(floor(1e6 * (cdmax - cdmin)"
    " / sqrt(cast(sxx as double) / w - pow(cast(sx as double) / w, 2))"
    " + 0.5) as bigint) end"
)


def q_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Hurst exponent of the global hourly mean-value
    series by classic R/S analysis: for dyadic scales w in {8,16,32,
    64}, each complete block's rescaled range R/S (range of cumulative
    deviations over population std) snaps micro; per-scale means enter
    a least-squares log2(R/S)-vs-log2(w) fit whose x-coordinates are
    EXACT integers {3,4,5,6}, so the slope folds from one integer
    contrast sum — H≈0.5 random walk, >0.5 trending, <0.5 mean-
    reverting. The only transcendental is one ln per scale, snapped
    micro immediately. Blocks are windows over the time-bounded hourly
    frame — no corpus-proportional state. Output one row: n_hours,
    n_scales, rs_w8..rs_w64 micro means, hurst_milli."""
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
    idx = barrier(hourly.select(
        "hr",
        "x",
        (F.row_number().over(Window.orderBy("hr")) - F.lit(1))
        .cast("bigint")
        .alias("i"),
    ))
    scales = F.array(
        *[
            F.struct(
                F.lit(w).cast("bigint").alias("w"), F.lit(lw).cast("bigint").alias("lw")
            )
            for w, lw in _HURST_SCALES
        ]
    )
    blocks = idx.select(
        "hr", "x", "i", F.explode(scales).alias("s")
    ).select(
        "hr",
        "x",
        "i",
        F.col("s.w").alias("w"),
        F.col("s.lw").alias("lw"),
        (F.col("i") / F.col("s.w")).cast("bigint").alias("blk"),
    )
    wfull = (
        Window.partitionBy("w", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wcum = (
        Window.partitionBy("w", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = blocks.select(
        "w",
        "lw",
        "blk",
        F.count(F.lit(1)).over(wfull).cast("bigint").alias("nb"),
        F.sum("x").over(wfull).cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(wfull).cast("bigint").alias("sxx"),
        F.sum("x").over(wcum).cast("bigint").alias("cum"),
        F.row_number().over(Window.partitionBy("w", "blk").orderBy("i"))
        .cast("bigint")
        .alias("p"),
    )
    # cumulative deviation at position p: cum - p * mean
    cd = enriched.filter(F.col("nb") == F.col("w")).select(
        "w",
        "lw",
        "blk",
        "sx",
        "sxx",
        F.expr("cast(cum as double) - p * (cast(sx as double) / w)").alias("cdv"),
    )
    per_block = (
        cd.groupBy("w", "lw", "blk", "sx", "sxx")
        .agg(F.max("cdv").alias("cdmax"), F.min("cdv").alias("cdmin"))
        .select("w", "lw", F.expr(_RS_MICRO).alias("rs_micro"))
        .filter(F.col("rs_micro").isNotNull())
    )
    per_scale = per_block.groupBy("w", "lw").agg(
        F.expr(
            "cast(floor(cast(sum(rs_micro) as double) / cast(count(1) as double)"
            " + 0.5) as bigint)"
        ).alias("mrs_micro")
    ).select(
        "w",
        "lw",
        "mrs_micro",
        F.expr(
            "cast(floor(1e6 * ln(cast(mrs_micro as double) / 1e6) + 0.5) as bigint)"
        ).alias("y_micro"),
    )
    n_hours = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_hours"))
    return per_scale.crossJoin(F.broadcast(n_hours)).agg(
        F.max("n_hours").cast("bigint").alias("n_hours"),
        F.count(F.lit(1)).cast("bigint").alias("n_scales"),
        F.max(F.when(F.col("w") == 8, F.col("mrs_micro"))).cast("bigint").alias("rs_w8_micro"),
        F.max(F.when(F.col("w") == 16, F.col("mrs_micro"))).cast("bigint").alias("rs_w16_micro"),
        F.max(F.when(F.col("w") == 32, F.col("mrs_micro"))).cast("bigint").alias("rs_w32_micro"),
        F.max(F.when(F.col("w") == 64, F.col("mrs_micro"))).cast("bigint").alias("rs_w64_micro"),
        F.expr(
            "cast(floor(1000 * cast(sum((2 * lw - 9) * y_micro) as double)"
            f" / (1e7 * {_LN2!r}) + 0.5) as bigint)"
        ).alias("hurst_milli"),
    )


_ORACLE_HURST = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hr,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT hr, x, (row_number() OVER (ORDER BY hr) - 1)::BIGINT AS i FROM hourly
),
blocks AS (
  SELECT hr, x, i, s.w, s.lw, i // s.w AS blk
  FROM idx, (VALUES (8::BIGINT, 3::BIGINT), (16, 4), (32, 5), (64, 6)) s(w, lw)
),
enriched AS (
  SELECT w, lw, blk,
         count(*) OVER wf AS nb,
         sum(x) OVER wf::BIGINT AS sx,
         sum(x * x) OVER wf::BIGINT AS sxx,
         sum(x) OVER wc::BIGINT AS cum,
         row_number() OVER (PARTITION BY w, blk ORDER BY i)::BIGINT AS p
  FROM blocks
  WINDOW wf AS (PARTITION BY w, blk ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         wc AS (PARTITION BY w, blk ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cd AS (
  SELECT w, lw, blk, sx, sxx,
         cast(cum AS double) - p * (cast(sx AS double) / w) AS cdv
  FROM enriched WHERE nb = w
),
per_block AS (
  SELECT w, lw, rs_micro FROM (
    SELECT w, lw, blk, sx, sxx,
           max(cdv) AS cdmax, min(cdv) AS cdmin
    FROM cd GROUP BY 1, 2, 3, 4, 5
  ) b, LATERAL (SELECT {_RS_MICRO} AS rs_micro) r
  WHERE rs_micro IS NOT NULL
),
per_scale AS (
  SELECT w, lw, mrs_micro,
         cast(floor(1e6 * ln(cast(mrs_micro AS double) / 1e6) + 0.5) AS bigint)
           AS y_micro
  FROM (
    SELECT w, lw,
           cast(floor(cast(sum(rs_micro)::BIGINT AS double)
                / cast(count(*) AS double) + 0.5) AS bigint) AS mrs_micro
    FROM per_block GROUP BY 1, 2
  )
)
SELECT (SELECT cast(count(*) AS bigint) FROM idx) AS n_hours,
       cast(count(*) AS bigint) AS n_scales,
       max(CASE WHEN w = 8 THEN mrs_micro END)::BIGINT AS rs_w8_micro,
       max(CASE WHEN w = 16 THEN mrs_micro END)::BIGINT AS rs_w16_micro,
       max(CASE WHEN w = 32 THEN mrs_micro END)::BIGINT AS rs_w32_micro,
       max(CASE WHEN w = 64 THEN mrs_micro END)::BIGINT AS rs_w64_micro,
       cast(floor(1000 * cast(sum((2 * lw - 9) * y_micro)::BIGINT AS double)
            / (1e7 * {_LN2!r}) + 0.5) AS bigint) AS hurst_milli
FROM per_scale
"""


REGISTRY_EXT108: dict[str, QuerySpec] = {
    "kruskal_wallis_rank_test": QuerySpec(
        q_kruskal_wallis_rank_test, _ORACLE_KW, "X7 [EXT] Kruskal-Wallis rank ANOVA"
    ),
    "durbin_watson_autocorr": QuerySpec(
        q_durbin_watson_autocorr, _ORACLE_DW, "X7 [EXT] Durbin-Watson lag-1 diagnostic"
    ),
    "jarque_bera_normality": QuerySpec(
        q_jarque_bera_normality, _ORACLE_JB, "X7 [EXT] Jarque-Bera normality test"
    ),
    "hurst_rescaled_range": QuerySpec(
        q_hurst_rescaled_range, _ORACLE_HURST, "X7 [EXT] Hurst R/S exponent"
    ),
}
