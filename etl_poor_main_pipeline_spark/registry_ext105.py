"""Operator registry, wave 106: variance homogeneity, repeated-measures
ranking, confounder-adjusted correlation, and white-noise testing —
Brown-Forsythe Levene, the Friedman test, partial correlation, and the
Ljung-Box Q statistic.

Scale stances:
- levene_brown_forsythe: group medians are ORDER STATISTICS (value at
  rank ceil(n/2) in a per-type window — never percentile_cont, whose
  interpolation diverges between engines); absolute deviations are
  exact bigints and the one-way F on them folds from per-group
  micro-snapped scatter terms.
- friedman_rank_test: ranks live in DOUBLED half-units (2*rank + ties
  - 1 = twice the mid-rank, an exact integer), so tie-averaged rank
  sums and the tie-corrected chi2 stay integer until the final fold;
  blocks = users, one window + two grouped passes.
- partial_correlation_xy_z: the corpus reduces to the per-type daily
  frame; all three pairwise Pearson r's come from one grouped pass of
  exact moment bigints, each snaps micro, and the partial-correlation
  formula folds from the snapped values — bit-identical recursion on
  both engines.
- ljung_box_test: the PSD-safe biased autocorrelations (the
  pacf_yule_walker estimator) at lags 1..3 feed Q = n(n+2) sum
  r_k^2/(n-k); day-spine equi-joins only, chi2(3) decision against a
  Python-precomputed critical literal.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_CHI2_95_DF4_MICRO = 9_487_729
_CHI2_95_DF3_MICRO = 7_814_728


# --------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) test (X7 [EXT])
# --------------------------------------------------------------------------


def q_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Brown-Forsythe variant of Levene's test: are event
    value variances equal across the five event types (the homogeneity
    precondition ANOVA and pooled t-tests quietly assume)? Deviations
    are |x - group MEDIAN| — the median (not mean) centering is what
    makes the test robust — with the median taken as an exact ORDER
    STATISTIC at rank ceil(n/2) inside a per-type window; the one-way
    F over the deviations folds from per-group micro-snapped scatter
    terms against exact bigint sums. Output one row: k, n,
    ss_between/ss_within micro, f_micro."""
    e = _t(spark, sf_dir, "events")
    vals = barrier(e.select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
    ))
    wrk = Window.partitionBy("event_type").orderBy("vc")
    wn = Window.partitionBy("event_type")
    med = (
        vals.withColumn("rk", F.row_number().over(wrk))
        .withColumn("ng", F.count(F.lit(1)).over(wn))
        .filter(F.col("rk") == F.expr("cast(ceil(ng / 2.0) as bigint)"))
        .select("event_type", F.col("vc").alias("med"))
    )
    devs = vals.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("vc") - F.col("med")).cast("bigint").alias("d")
    )
    grp = devs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sd").cast("bigint").alias("sg"),
    )
    terms = grp.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "cast(floor(1e6 * ng * pow(cast(sd as double) / ng"
            " - cast(sg as double) / n, 2) + 0.5) as bigint)"
        ).alias("b_term"),
        F.expr(
            "cast(floor(1e6 * (cast(sdd as double) - ng * pow(cast(sd as double) / ng, 2))"
            " + 0.5) as bigint)"
        ).alias("w_term"),
    )
    folded = terms.agg(
        F.sum("b_term").cast("bigint").alias("ss_b_micro"),
        F.sum("w_term").cast("bigint").alias("ss_w_micro"),
    )
    return folded.crossJoin(F.broadcast(tot.select("k", "n"))).select(
        "k",
        "n",
        "ss_b_micro",
        "ss_w_micro",
        F.expr(
            "case when ss_w_micro <= 0 or k <= 1 or n <= k then cast(null as bigint)"
            " else cast(floor(1e6 * (cast(ss_b_micro as double) / (k - 1))"
            " / (cast(ss_w_micro as double) / (n - k)) + 0.5) as bigint) end"
        ).alias("f_micro"),
    )


_ORACLE_LEVENE = """
WITH vals AS (
  SELECT event_type, cast(floor(value * 100.0 + 0.5) AS bigint) AS vc FROM events
),
med AS (
  SELECT event_type, vc AS med
  FROM (
    SELECT event_type, vc,
           row_number() OVER (PARTITION BY event_type ORDER BY vc) AS rk,
           count(*) OVER (PARTITION BY event_type) AS ng
    FROM vals
  ) WHERE rk = cast(ceil(ng / 2.0) AS bigint)
),
devs AS (
  SELECT v.event_type, abs(v.vc - m.med)::BIGINT AS d
  FROM vals v JOIN med m USING (event_type)
),
grp AS (
  SELECT event_type, cast(count(*) AS bigint) AS ng,
         sum(d)::BIGINT AS sd, sum(d * d)::BIGINT AS sdd
  FROM devs GROUP BY 1
),
tot AS (
  SELECT cast(count(*) AS bigint) AS k, sum(ng)::BIGINT AS n,
         sum(sd)::BIGINT AS sg
  FROM grp
),
terms AS (
  SELECT cast(floor(1e6 * ng * pow(cast(sd AS double) / ng
             - cast(t.sg AS double) / t.n, 2) + 0.5) AS bigint) AS b_term,
         cast(floor(1e6 * (cast(sdd AS double)
             - ng * pow(cast(sd AS double) / ng, 2)) + 0.5) AS bigint) AS w_term
  FROM grp CROSS JOIN tot t
),
folded AS (
  SELECT sum(b_term)::BIGINT AS ss_b_micro, sum(w_term)::BIGINT AS ss_w_micro
  FROM terms
)
SELECT t.k, t.n, ss_b_micro, ss_w_micro,
       CASE WHEN ss_w_micro <= 0 OR t.k <= 1 OR t.n <= t.k THEN NULL ELSE
         cast(floor(1e6 * (cast(ss_b_micro AS double) / (t.k - 1))
              / (cast(ss_w_micro AS double) / (t.n - t.k)) + 0.5) AS bigint) END
         AS f_micro
FROM folded CROSS JOIN (SELECT k, n FROM tot) t
"""


# --------------------------------------------------------------------------
# Friedman repeated-measures rank test (X7 [EXT])
# --------------------------------------------------------------------------


def q_friedman_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Friedman test: do the five event types carry
    different typical values when judged WITHIN each user (blocks =
    users, the repeated-measures design where one-way ANOVA would let
    heavy users swamp the comparison)? Each user ranks their five
    per-type mean values; mid-ranks for ties live in DOUBLED half-units
    (2*rank + ties - 1, an exact integer), so rank sums and the
    tie-corrected chi2_F = n(k-1) * sum_j (Rbar_j - (k+1)/2)^2 /
    (sum r_ij^2 / n - k(k+1)^2/4) stay exact until one micro snap.
    Only complete blocks (all k items) enter. Output: n_blocks, k,
    chi2_micro, reject flag at the chi2(4) critical literal."""
    e = _t(spark, sf_dir, "events")
    ratings = e.groupBy("user_id", "event_type").agg(
        F.expr(
            "cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as double)"
            " / cast(count(1) as double) + 0.5) as bigint)"
        ).alias("rc")
    )
    complete = (
        ratings.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("kk"))
        .filter(F.col("kk") == 5)
        .select("user_id")
    )
    wr = Window.partitionBy("user_id").orderBy("rc")
    wt = Window.partitionBy("user_id", "rc")
    ranked = barrier(
        ratings.join(complete, "user_id", "leftsemi")
        .withColumn("rk", F.rank().over(wr))
        .withColumn("nt", F.count(F.lit(1)).over(wt))
        .select(
            "user_id",
            "event_type",
            (2 * F.col("rk") + F.col("nt") - 1).cast("bigint").alias("h"),  # 2*midrank
        )
    )
    per_j = ranked.groupBy("event_type").agg(
        F.sum("h").cast("bigint").alias("hsum"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    sq = ranked.agg(F.sum(F.col("h") * F.col("h")).cast("bigint").alias("hsq"))
    # chi2_F with ties: n(k-1) * num / den, where num = sum_j (Rbar_j -
    # (k+1)/2)^2 and den = sum_ij r_ij^2 / n - k(k+1)^2 / 4; in half
    # units r = h/2 so r^2 = h^2/4.
    folded = (
        per_j.crossJoin(F.broadcast(sq))
        .select(
            "nb",
            "hsq",
            F.expr(
                "cast(floor(1e6 * pow(cast(hsum as double) / (2.0 * nb) - 3.0, 2)"
                " + 0.5) as bigint)"
            ).alias("num_term"),
        )
        .groupBy("nb", "hsq")
        .agg(F.sum("num_term").cast("bigint").alias("num_micro"))
    )
    return folded.select(
        F.col("nb").alias("n_blocks"),
        F.lit(5).cast("bigint").alias("k"),
        F.expr(
            "case when cast(hsq as double) / (4.0 * nb) - 45.0 <= 0"
            " then cast(0 as bigint) else"
            " cast(floor(nb * 4.0 * (cast(num_micro as double) / 1e6)"
            " / (cast(hsq as double) / (4.0 * nb) - 45.0) * 1e6 + 0.5) as bigint) end"
        ).alias("chi2_micro"),
    ).select(
        "*", (F.col("chi2_micro") > _CHI2_95_DF4_MICRO).alias("reject_05")
    )


_ORACLE_FRIEDMAN = f"""
WITH ratings AS (
  SELECT user_id, event_type,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS rc
  FROM events GROUP BY 1, 2
),
complete AS (
  SELECT user_id FROM ratings GROUP BY 1 HAVING count(*) = 5
),
ranked AS (
  SELECT user_id, event_type,
         (2 * rank() OVER (PARTITION BY user_id ORDER BY rc)
          + count(*) OVER (PARTITION BY user_id, rc) - 1)::BIGINT AS h
  FROM ratings WHERE user_id IN (SELECT user_id FROM complete)
),
per_j AS (
  SELECT event_type, sum(h)::BIGINT AS hsum, cast(count(*) AS bigint) AS nb
  FROM ranked GROUP BY 1
),
sq AS (SELECT sum(h * h)::BIGINT AS hsq FROM ranked),
folded AS (
  SELECT nb, hsq,
         sum(cast(floor(1e6 * pow(cast(hsum AS double) / (2.0 * nb) - 3.0, 2)
             + 0.5) AS bigint))::BIGINT AS num_micro
  FROM per_j CROSS JOIN sq
  GROUP BY 1, 2
)
SELECT nb AS n_blocks, 5::BIGINT AS k,
       CASE WHEN cast(hsq AS double) / (4.0 * nb) - 45.0 <= 0 THEN 0::BIGINT
            ELSE cast(floor(nb * 4.0 * (cast(num_micro AS double) / 1e6)
              / (cast(hsq AS double) / (4.0 * nb) - 45.0) * 1e6 + 0.5) AS bigint)
       END AS chi2_micro,
       (CASE WHEN cast(hsq AS double) / (4.0 * nb) - 45.0 <= 0 THEN 0::BIGINT
            ELSE cast(floor(nb * 4.0 * (cast(num_micro AS double) / 1e6)
              / (cast(hsq AS double) / (4.0 * nb) - 45.0) * 1e6 + 0.5) AS bigint)
       END > {_CHI2_95_DF4_MICRO}) AS reject_05
FROM folded
"""


# --------------------------------------------------------------------------
# Partial correlation controlling for time (X7 [EXT])
# --------------------------------------------------------------------------


def q_partial_correlation_xy_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 partial correlation of daily mean value (x) and daily
    event count (y) CONTROLLING for the day index (z), per event type:
    r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)) — the
    deconfounded association screen (a shared time trend manufactures
    raw x-y correlation that vanishes once z is partialled out). One
    grouped pass emits all exact moment bigints; each pairwise r snaps
    micro, the partial folds from the snapped values, and degenerate
    controls (|r_xz| or |r_yz| = 1) map to NULL. Output per type:
    n_days, r_xy_micro, r_xy_z_micro."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vc) as double) / cast(count(1) as double) + 0.5)"
                " as bigint)"
            ).alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
        .select("event_type", F.col("day").alias("z"), "x", "y")
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )
    _R = (
        "case when (n * s{a}{a} - s{a} * s{a}) <= 0 or (n * s{b}{b} - s{b} * s{b}) <= 0"
        " then cast(0 as bigint) else cast(floor(1e6 *"
        " cast(n * s{a}{b} - s{a} * s{b} as double)"
        " / (sqrt(cast(n * s{a}{a} - s{a} * s{a} as double))"
        "    * sqrt(cast(n * s{b}{b} - s{b} * s{b} as double))) + 0.5) as bigint) end"
    )
    r = mom.select(
        "event_type",
        "n",
        F.expr(_R.format(a="x", b="y")).alias("rxy"),
        F.expr(_R.format(a="x", b="z")).alias("rxz"),
        F.expr(_R.format(a="y", b="z")).alias("ryz"),
    )
    return r.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("rxy").alias("r_xy_micro"),
        F.expr(
            "case when (1e12 - cast(rxz as double) * rxz) <= 0"
            " or (1e12 - cast(ryz as double) * ryz) <= 0 then cast(null as bigint)"
            " else cast(floor(1e6 * (cast(rxy as double) * 1e6"
            "   - cast(rxz as double) * ryz)"
            " / sqrt((1e12 - cast(rxz as double) * rxz)"
            "        * (1e12 - cast(ryz as double) * ryz)) + 0.5) as bigint) end"
        ).alias("r_xy_z_micro"),
    ).orderBy("event_type")


_ORACLE_PARTIAL = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS z,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type, cast(count(*) AS bigint) AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(z)::BIGINT AS sz,
         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
         sum(z * z)::BIGINT AS szz,
         sum(x * y)::BIGINT AS sxy, sum(x * z)::BIGINT AS sxz,
         sum(y * z)::BIGINT AS syz
  FROM daily GROUP BY 1
),
r AS (
  SELECT event_type, n,
         CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0
              THEN 0::BIGINT ELSE cast(floor(1e6 *
                cast(n * sxy - sx * sy AS double)
                / (sqrt(cast(n * sxx - sx * sx AS double))
                   * sqrt(cast(n * syy - sy * sy AS double))) + 0.5) AS bigint)
         END AS rxy,
         CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * szz - sz * sz) <= 0
              THEN 0::BIGINT ELSE cast(floor(1e6 *
                cast(n * sxz - sx * sz AS double)
                / (sqrt(cast(n * sxx - sx * sx AS double))
                   * sqrt(cast(n * szz - sz * sz AS double))) + 0.5) AS bigint)
         END AS rxz,
         CASE WHEN (n * syy - sy * sy) <= 0 OR (n * szz - sz * sz) <= 0
              THEN 0::BIGINT ELSE cast(floor(1e6 *
                cast(n * syz - sy * sz AS double)
                / (sqrt(cast(n * syy - sy * sy AS double))
                   * sqrt(cast(n * szz - sz * sz AS double))) + 0.5) AS bigint)
         END AS ryz
  FROM mom
)
SELECT event_type, n AS n_days, rxy AS r_xy_micro,
       CASE WHEN (1e12 - cast(rxz AS double) * rxz) <= 0
              OR (1e12 - cast(ryz AS double) * ryz) <= 0 THEN NULL
            ELSE cast(floor(1e6 * (cast(rxy AS double) * 1e6
                 - cast(rxz AS double) * ryz)
                 / sqrt((1e12 - cast(rxz AS double) * rxz)
                        * (1e12 - cast(ryz AS double) * ryz)) + 0.5) AS bigint)
       END AS r_xy_z_micro
FROM r ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Ljung-Box white-noise test (X7 [EXT])
# --------------------------------------------------------------------------

_LB_LAGS = 3


def q_ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Ljung-Box portmanteau test on the daily mean value
    per event type: Q = n(n+2) sum over lags 1..{m} of r_k^2 / (n-k),
    against chi2({m}) — "is this series white noise?", the residual
    diagnostic every forecasting pipeline gates on. The r_k are the
    same PSD-safe biased autocorrelations pacf_yule_walker uses (global
    demeaned pair sums, Cauchy-Schwarz-bounded, snapped micro), so Q
    folds from exact snapped values; day-spine equi-joins only. Output
    per type: n_days, q_micro, reject flag at the chi2({m}) critical
    literal."""
    e = _t(spark, sf_dir, "events")
    daily = barrier(
        e.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vc) as double) / cast(count(1) as double) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    lagged = (
        daily.select(
            "event_type",
            "day",
            "x",
            F.explode(
                F.array(*[F.lit(k).cast("bigint") for k in range(1, _LB_LAGS + 1)])
            ).alias("k"),
        )
        .alias("a")
        .join(
            daily.select(
                F.col("event_type").alias("et2"),
                F.col("day").alias("day2"),
                F.col("x").alias("y"),
            ),
            (F.col("a.event_type") == F.col("et2"))
            & (F.col("a.day") + F.col("a.k") == F.col("day2")),
        )
        .groupBy("a.event_type", "a.k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum(F.col("a.x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum("a.x").cast("bigint").alias("sxa"),
            F.sum("y").cast("bigint").alias("sxb"),
        )
    )
    _RM = (
        "case when cast(sxx as double) - n * pow(cast(sx as double) / n, 2) <= 0"
        " then cast(0 as bigint) else cast(floor(1e6 *"
        " (cast(sxy as double) - (cast(sx as double) / n) * (sxa + sxb)"
        "  + nk * pow(cast(sx as double) / n, 2))"
        " / (cast(sxx as double) - n * pow(cast(sx as double) / n, 2))"
        " + 0.5) as bigint) end"
    )
    terms = (
        lagged.join(mom, "event_type")
        .select(
            "event_type",
            "n",
            "k",
            F.expr(_RM).alias("rm"),
        )
        .select(
            "event_type",
            "n",
            F.expr(
                "cast(floor(1e6 * cast(rm as double) * rm / 1e12"
                " / cast(n - k as double) + 0.5) as bigint)"
            ).alias("t_micro"),
        )
        .groupBy("event_type", "n")
        .agg(F.sum("t_micro").cast("bigint").alias("tsum"))
    )
    return terms.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(
            "cast(floor(cast(n as double) * (n + 2) * cast(tsum as double) + 0.5)"
            " as bigint)"
        ).alias("q_micro"),
    ).select(
        "*", (F.col("q_micro") > _CHI2_95_DF3_MICRO).alias("reject_whitenoise_05")
    ).orderBy("event_type")


_ORACLE_LB = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type, cast(count(*) AS bigint) AS n,
         sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx
  FROM daily GROUP BY 1
),
lagged AS (
  SELECT a.event_type, b.day - a.day AS k,
         cast(count(*) AS bigint) AS nk,
         sum(a.x * b.x)::BIGINT AS sxy,
         sum(a.x)::BIGINT AS sxa, sum(b.x)::BIGINT AS sxb
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type
   AND b.day BETWEEN a.day + 1 AND a.day + {_LB_LAGS}
  GROUP BY 1, 2
),
terms AS (
  SELECT m.event_type, m.n,
         sum(cast(floor(1e6 * cast(rm AS double) * rm / 1e12
             / cast(m.n - l.k AS double) + 0.5) AS bigint))::BIGINT AS tsum
  FROM (
    SELECT event_type, k, nk, sxy, sxa, sxb FROM lagged
  ) l JOIN mom m USING (event_type),
  LATERAL (
    SELECT CASE WHEN cast(m.sxx AS double)
                - m.n * pow(cast(m.sx AS double) / m.n, 2) <= 0
           THEN 0::BIGINT ELSE cast(floor(1e6 *
             (cast(l.sxy AS double) - (cast(m.sx AS double) / m.n) * (l.sxa + l.sxb)
              + l.nk * pow(cast(m.sx AS double) / m.n, 2))
             / (cast(m.sxx AS double) - m.n * pow(cast(m.sx AS double) / m.n, 2))
             + 0.5) AS bigint) END AS rm
  ) rr
  GROUP BY 1, 2
)
SELECT event_type, n AS n_days,
       cast(floor(cast(n AS double) * (n + 2) * cast(tsum AS double) + 0.5)
            AS bigint) AS q_micro,
       (cast(floor(cast(n AS double) * (n + 2) * cast(tsum AS double) + 0.5)
            AS bigint) > {_CHI2_95_DF3_MICRO}) AS reject_whitenoise_05
FROM terms ORDER BY event_type
"""


REGISTRY_EXT105: dict[str, QuerySpec] = {
    "levene_brown_forsythe": QuerySpec(
        q_levene_brown_forsythe, _ORACLE_LEVENE, "X7 [EXT] Brown-Forsythe Levene"
    ),
    "friedman_rank_test": QuerySpec(
        q_friedman_rank_test, _ORACLE_FRIEDMAN, "X7 [EXT] Friedman rank test"
    ),
    "partial_correlation_xy_z": QuerySpec(
        q_partial_correlation_xy_z, _ORACLE_PARTIAL, "X7 [EXT] partial correlation"
    ),
    "ljung_box_test": QuerySpec(
        q_ljung_box_test, _ORACLE_LB, "X7 [EXT] Ljung-Box portmanteau"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_ljung_box_test.__doc__ = q_ljung_box_test.__doc__.format(m=_LB_LAGS)  # noqa: E501
