"""Wave 118 [EXT]: two-cohort survival comparison (log-rank), extreme-value
fitting of daily maxima (Gumbel), a queueing-theory pipeline audit
(Little's law), and the energy-distance two-sample test.

Scale notes (the 100x question, per query):
- log_rank_survival: the corpus reduces map-side to one row per USER
  (first event / first purchase / last event), then to one row per
  duration-day — a calendar-bounded frame. Risk sets are ONE suffix
  walk over that day spine (global window over domain-bounded cells,
  sanctioned in tests/test_plan_guards.py — same category as
  pettitt_changepoint); every per-cell term is micro-snapped to an
  integer before the final sum, so double summation order never
  differs between engines.
- gumbel_daily_maxima: one groupBy(day) max + one keyless moment
  aggregate over the calendar-bounded daily frame; maxima are
  micro-snapped so mean/variance stay exact integers (decimal-staged)
  until the closed-form method-of-moments divide.
- littles_law_audit: sessionization is the shipped gap-30m shape (window
  partitioned by user); sessions then reduce to keyless sums. Sampled
  concurrency avoids any range join: each session contributes
  (end_hour - start_hour + 1) occupied hour-slots ARITHMETICALLY, so
  L_sampled is a pure aggregate over sessions, not a spine join.
- energy_distance_2samp: both samples reduce to CENTI VALUE CELLS; the
  three pairwise-distance sums come from ONE prefix walk over pooled
  cells (the gap identity sum_k w_k * cum_k * (n - cum_k)), all exact
  integers in decimal(38,0)/HUGEINT — the same sanctioned
  domain-bounded global window as the KS/CvM/AD family.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000
_EVENT = "purchase"
_ED_A, _ED_B = "click", "purchase"
_EULER_GAMMA = 0.5772156649015329
_GUMBEL_T = 30  # return period (days) for the report level
# ln(-ln(1 - 1/T)) precomputed in Python: as a SQL literal expression Spark
# would parse 1.0/30.0 as DECIMAL division (6-digit truncation, 4e-4 off),
# while DuckDB uses doubles — inlining the exact double keeps both engines
# multiplying the same correctly-rounded constant.
import math as _math

_GUMBEL_LNLN = _math.log(-_math.log(1.0 - 1.0 / _GUMBEL_T))


# --------------------------------------------------------------------------
# Log-rank test between two user cohorts' time-to-purchase (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_log_rank_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 log-rank (Mantel-Cox) test: do even- and odd-keyed user
    cohorts differ in time-to-first-'{ev}'? The survival companion of the
    shipped kaplan_meier_curve/nelson_aalen_hazard: per user, duration =
    days from first event to first '{ev}' (event) or to last event
    (right-censored); at each distinct duration day t the risk sets n_gt
    are suffix sums of the per-(cohort, day) frame, and
    z = (O1 - E1)/sqrt(V) with E1 = sum_t d_t*n_1t/n_t and the standard
    hypergeometric variance. Every per-day term is micro-snapped before
    summation so both engines add identical integers. Output one row:
    n_users, o1, e1_micro, v_micro, z_milli."""
    e = _t(spark, sf_dir, "events")
    per_user = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.when(F.col("event_type") == _EVENT, F.expr(f"unix_micros(ts) div {_DAY_US}")).alias("pd"),
        )
        .groupBy("user_id")
        .agg(
            F.min("d").alias("d0"),
            F.min("pd").alias("dp"),
            F.max("d").alias("dl"),
        )
        .select(
            (F.col("user_id") % 2 == 0).cast("int").alias("g1"),
            F.when(F.col("dp").isNotNull(), F.col("dp") - F.col("d0"))
            .otherwise(F.col("dl") - F.col("d0"))
            .cast("bigint")
            .alias("t"),
            F.col("dp").isNotNull().cast("int").alias("ev"),
        )
    )
    cells = per_user.groupBy("t").agg(
        F.sum(F.expr("ev * g1")).cast("bigint").alias("d1"),
        F.sum("ev").cast("bigint").alias("dt"),
        F.sum("g1").cast("bigint").alias("a1"),  # arrivals (cohort 1) at t
        F.count(F.lit(1)).cast("bigint").alias("at"),  # arrivals (all) at t
    )
    # risk sets: users with duration >= t, via suffix sums over the day
    # spine (calendar-bounded frame; single ordered walk, no corpus scan).
    # The O/E/V moment terms are folded into this same projection, and the
    # dt>0 & nt>1 term filter becomes a conditional inside each term, so the
    # day-spine walk and the terms aggregate share one stage.  n_users is
    # recovered as max(nt): the suffix sum at the minimal duration day
    # counts every user — no second pass over per_user (the old broadcast
    # tot_users subtree re-executed the events scan and the user groupBy).
    w = Window.orderBy(F.col("t").desc()).rowsBetween(Window.unboundedPreceding, 0)
    live = "(dt > 0 and nt > 1)"
    terms = cells.select(
        "d1",
        "dt",
        F.sum("a1").over(w).cast("bigint").alias("n1"),
        F.sum("at").over(w).cast("bigint").alias("nt"),
    ).select(
        "nt",
        F.expr(f"if({live}, d1, 0L)").alias("d1"),
        F.expr(
            f"if({live},"
            " cast(floor(1e6 * cast(dt * n1 as double) / cast(nt as double)"
            " + 0.5) as bigint), 0L)"
        ).alias("e1_micro"),
        F.expr(
            f"if({live},"
            " cast(floor(1e6 * cast(dt * n1 as double) / cast(nt as double)"
            " * (1.0 - cast(n1 as double) / cast(nt as double))"
            " * cast(nt - dt as double) / cast(nt - 1 as double)"
            " + 0.5) as bigint), 0L)"
        ).alias("v_micro"),
    )
    return (
        terms.agg(
            F.max("nt").cast("bigint").alias("n_users"),
            F.sum("d1").cast("bigint").alias("o1"),
            F.sum("e1_micro").cast("bigint").alias("e1_micro"),
            F.sum("v_micro").cast("bigint").alias("v_micro"),
        )
        .select(
            "n_users",
            "o1",
            "e1_micro",
            "v_micro",
            F.expr(
                "cast(floor(1e3 * (cast(o1 as double) - cast(e1_micro as double) / 1e6)"
                " / sqrt(cast(v_micro as double) / 1e6) + 0.5) as bigint)"
            ).alias("z_milli"),
        )
    )


_ORACLE_LOGRANK = f"""
WITH per_user AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
         CASE WHEN min(CASE WHEN event_type = '{_EVENT}'
                            THEN epoch_us(ts) // {_DAY_US} END) IS NOT NULL
              THEN min(CASE WHEN event_type = '{_EVENT}'
                            THEN epoch_us(ts) // {_DAY_US} END)
                   - min(epoch_us(ts) // {_DAY_US})
              ELSE max(epoch_us(ts) // {_DAY_US})
                   - min(epoch_us(ts) // {_DAY_US}) END::BIGINT AS t,
         CASE WHEN min(CASE WHEN event_type = '{_EVENT}'
                            THEN epoch_us(ts) // {_DAY_US} END) IS NOT NULL
              THEN 1 ELSE 0 END AS ev
  FROM events GROUP BY user_id
),
cells AS (
  SELECT t, sum(ev * g1)::BIGINT AS d1, sum(ev)::BIGINT AS dt,
         sum(g1)::BIGINT AS a1, count(*)::BIGINT AS at
  FROM per_user GROUP BY t
),
risk AS (
  SELECT t, d1, dt,
         sum(a1) OVER (ORDER BY t DESC)::BIGINT AS n1,
         sum(at) OVER (ORDER BY t DESC)::BIGINT AS nt
  FROM cells
),
terms AS (
  SELECT d1,
         cast(floor(1e6 * cast(dt * n1 AS DOUBLE) / cast(nt AS DOUBLE)
              + 0.5) AS BIGINT) AS e1_micro,
         cast(floor(1e6 * cast(dt * n1 AS DOUBLE) / cast(nt AS DOUBLE)
              * (1.0 - cast(n1 AS DOUBLE) / cast(nt AS DOUBLE))
              * cast(nt - dt AS DOUBLE) / cast(nt - 1 AS DOUBLE)
              + 0.5) AS BIGINT) AS v_micro
  FROM risk WHERE dt > 0 AND nt > 1
),
tot AS (SELECT count(*)::BIGINT AS n_users FROM per_user)
SELECT n_users, o1, e1_micro, v_micro,
       cast(floor(1e3 * (cast(o1 AS DOUBLE) - cast(e1_micro AS DOUBLE) / 1e6)
            / sqrt(cast(v_micro AS DOUBLE) / 1e6) + 0.5) AS BIGINT) AS z_milli
FROM (SELECT sum(d1)::BIGINT AS o1, sum(e1_micro)::BIGINT AS e1_micro,
             sum(v_micro)::BIGINT AS v_micro FROM terms), tot
"""


# --------------------------------------------------------------------------
# Gumbel fit of daily block maxima, method of moments (X7 [EXT])
# --------------------------------------------------------------------------


def q_gumbel_daily_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 extreme-value analysis: fit a Gumbel distribution to the
    DAILY MAXIMA of event value (block-maxima method) and report the
    {t}-day return level — "how large a daily peak should this metric
    hit once a month?". Method of moments: beta = s*sqrt(6)/pi, mu =
    m - gamma*beta; return level x_T = mu - beta*ln(-ln(1 - 1/T)).
    Daily maxima are micro-snapped so mean and variance ride exact
    integers (decimal-staged) to the closed-form divide. Output one
    row: n_days, mu_micro, beta_micro, rl{t}_micro."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
            F.col("value"),
        )
        .groupBy("day")
        .agg(
            F.expr("cast(floor(1e6 * max(value) + 0.5) as bigint)").alias("mx")
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("mx").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("mx") * F.col("mx")).cast("decimal(38,0)")).alias("s2"),
    )
    # sample variance (n-1); all inputs exact integers at this point
    return mom.select(
        F.col("n").alias("n_days"),
        F.expr("cast(floor(cast(s1 as double) / cast(n as double) + 0.5) as bigint)").alias(
            "mu_hat_micro"
        ),
        F.expr(
            "cast(floor(sqrt((cast(s2 as double) - cast(s1 as double) * cast(s1 as double)"
            " / cast(n as double)) / cast(n - 1 as double))"
            " * sqrt(6.0) / pi() + 0.5) as bigint)"
        ).alias("beta_micro"),
    ).select(
        "n_days",
        (
            F.col("mu_hat_micro")
            - F.expr(
                f"cast(floor({_EULER_GAMMA!r} * cast(beta_micro as double) + 0.5) as bigint)"
            )
        ).alias("mu_micro"),
        "beta_micro",
    ).select(
        "n_days",
        "mu_micro",
        "beta_micro",
        (
            F.col("mu_micro")
            - F.expr(
                "cast(floor(cast(beta_micro as double)"
                f" * {_GUMBEL_LNLN!r} + 0.5) as bigint)"
            )
        ).alias(f"rl{_GUMBEL_T}_micro"),
    )


_ORACLE_GUMBEL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day,
         cast(floor(1e6 * max(value) + 0.5) AS BIGINT) AS mx
  FROM events GROUP BY 1
),
mom AS (
  SELECT count(*)::BIGINT AS n, sum(mx::HUGEINT) AS s1,
         sum((mx::HUGEINT) * (mx::HUGEINT)) AS s2
  FROM daily
),
fit AS (
  SELECT n AS n_days,
         cast(floor(cast(s1 AS DOUBLE) / cast(n AS DOUBLE) + 0.5) AS BIGINT)
           AS mu_hat_micro,
         cast(floor(sqrt((cast(s2 AS DOUBLE) - cast(s1 AS DOUBLE) * cast(s1 AS DOUBLE)
              / cast(n AS DOUBLE)) / cast(n - 1 AS DOUBLE))
              * sqrt(6.0) / pi() + 0.5) AS BIGINT) AS beta_micro
  FROM mom
),
loc AS (
  SELECT n_days,
         mu_hat_micro - cast(floor({_EULER_GAMMA!r} * cast(beta_micro AS DOUBLE)
             + 0.5) AS BIGINT) AS mu_micro,
         beta_micro
  FROM fit
)
SELECT n_days, mu_micro, beta_micro,
       mu_micro - cast(floor(cast(beta_micro AS DOUBLE)
           * {_GUMBEL_LNLN!r} + 0.5) AS BIGINT)
         AS rl{_GUMBEL_T}_micro
FROM loc
"""


# --------------------------------------------------------------------------
# Little's law audit over gap-30m sessions (X9 [EXT])
# --------------------------------------------------------------------------


def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 queueing audit: does L = lambda * W hold for the event
    stream's gap-30m sessions? lambda = sessions per hour over the
    observed span, W = mean session duration (hours), L_pred = lambda*W;
    L_sampled = mean number of sessions OCCUPYING each hour slot,
    computed arithmetically (each session spans end_hour - start_hour + 1
    slots — no spine join, no window beyond the shipped sessionization
    shape). The ratio flags instrumentation gaps (sessions leaking
    across the span edges). Output one row: n_sessions, lambda_micro,
    w_hours_micro, l_pred_micro, l_sampled_micro, ratio_milli."""
    e = _t(spark, sf_dir, "events")
    ts_us = F.expr("unix_micros(ts)")
    w = Window.partitionBy("user_id").orderBy("tus")
    marked = e.select("user_id", ts_us.alias("tus")).withColumn(
        "new_sess",
        (
            F.col("tus") - F.lag("tus", 1).over(w) > F.lit(30 * 60 * 1_000_000)
        ).cast("int"),
    )
    sess = (
        marked.withColumn(
            "sess_id",
            F.sum(F.coalesce(F.col("new_sess"), F.lit(1))).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("tus").alias("t0"), F.max("tus").alias("t1"))
    )
    span = sess.agg(
        F.min("t0").alias("smin"), F.max("t1").alias("smax")
    )
    return (
        sess.select(
            F.lit(1).alias("one"),
            (F.col("t1") - F.col("t0")).alias("dur_us"),
            (
                F.expr(f"t1 div {_HOUR_US}") - F.expr(f"t0 div {_HOUR_US}") + 1
            ).alias("slots"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("dur_us").cast("bigint").alias("sum_dur_us"),
            F.sum("slots").cast("bigint").alias("sum_slots"),
        )
        .crossJoin(F.broadcast(span))
        .select(
            "n_sessions",
            F.expr(
                f"cast(floor(1e6 * cast(n_sessions as double)"
                f" / (cast(smax - smin as double) / {_HOUR_US}.0) + 0.5) as bigint)"
            ).alias("lambda_micro"),
            F.expr(
                f"cast(floor(1e6 * cast(sum_dur_us as double) / {_HOUR_US}.0"
                " / cast(n_sessions as double) + 0.5) as bigint)"
            ).alias("w_hours_micro"),
            F.expr(
                f"cast(floor(1e6 * cast(sum_dur_us as double)"
                " / cast(smax - smin as double) + 0.5) as bigint)"
            ).alias("l_pred_micro"),
            F.expr(
                f"cast(floor(1e6 * cast(sum_slots as double)"
                f" / cast(smax div {_HOUR_US} - smin div {_HOUR_US} + 1 as double)"
                " + 0.5) as bigint)"
            ).alias("l_sampled_micro"),
        )
        .select(
            "n_sessions",
            "lambda_micro",
            "w_hours_micro",
            "l_pred_micro",
            "l_sampled_micro",
            F.expr(
                "cast(floor(1e3 * cast(l_pred_micro as double)"
                " / cast(l_sampled_micro as double) + 0.5) as bigint)"
            ).alias("ratio_milli"),
        )
    )


_ORACLE_LITTLE = f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY epoch_us(ts))
                   > 30 * 60 * 1000000 THEN 1
              WHEN lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, sess_id, min(tus) AS t0, max(tus) AS t1
  FROM (
    SELECT user_id, tus,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM marked
  ) GROUP BY user_id, sess_id
),
agg AS (
  SELECT count(*)::BIGINT AS n_sessions,
         sum(t1 - t0)::BIGINT AS sum_dur_us,
         sum(t1 // {_HOUR_US} - t0 // {_HOUR_US} + 1)::BIGINT AS sum_slots
  FROM sess
),
span AS (SELECT min(t0) AS smin, max(t1) AS smax FROM sess)
SELECT n_sessions,
       cast(floor(1e6 * cast(n_sessions AS DOUBLE)
            / (cast(smax - smin AS DOUBLE) / {_HOUR_US}.0) + 0.5) AS BIGINT)
         AS lambda_micro,
       cast(floor(1e6 * cast(sum_dur_us AS DOUBLE) / {_HOUR_US}.0
            / cast(n_sessions AS DOUBLE) + 0.5) AS BIGINT) AS w_hours_micro,
       cast(floor(1e6 * cast(sum_dur_us AS DOUBLE)
            / cast(smax - smin AS DOUBLE) + 0.5) AS BIGINT) AS l_pred_micro,
       cast(floor(1e6 * cast(sum_slots AS DOUBLE)
            / cast(smax // {_HOUR_US} - smin // {_HOUR_US} + 1 AS DOUBLE)
            + 0.5) AS BIGINT) AS l_sampled_micro,
       cast(floor(1e3 * (cast(floor(1e6 * cast(sum_dur_us AS DOUBLE)
            / cast(smax - smin AS DOUBLE) + 0.5) AS BIGINT))::DOUBLE
            / (cast(floor(1e6 * cast(sum_slots AS DOUBLE)
               / cast(smax // {_HOUR_US} - smin // {_HOUR_US} + 1 AS DOUBLE)
               + 0.5) AS BIGINT))::DOUBLE + 0.5) AS BIGINT) AS ratio_milli
FROM agg, span
"""


# --------------------------------------------------------------------------
# Energy-distance two-sample test on centi value cells (X7 [EXT])
# --------------------------------------------------------------------------


def q_energy_distance_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Szekely-Rizzo energy distance between the value
    distributions of '{a}' and '{b}' events: D2 = 2*E|X-Y| - E|X-X'| -
    E|Y-Y'| — a CHARACTERISTIC-function distance that, unlike the
    CDF-walk family (KS/CvM/AD/Kuiper), is metric in the distributions
    and detects any difference, not just location/shape along the CDF.
    Values reduce to centi cells; every pairwise-|difference| expectation
    comes from the gap identity sum_k w_k * cum_k * (n - cum_k) over
    POOLED sorted cells (one prefix walk, exact integers in
    decimal(38,0)/HUGEINT). T = na*nb/(na+nb) * D2 is the test
    statistic. Output one row: n_a, n_b, d2_micro, t_micro."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin(_ED_A, _ED_B))
    cells = (
        e.select(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vc"),
            F.when(F.col("event_type") == _ED_A, F.lit(1))
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
    # gap width to the NEXT cell: contribution of the open interval
    # [vc_k, vc_{k+1}) is gap * (pairs straddling it); last cell gap 0
    wl = Window.orderBy("vc")
    pref = cells.select(
        "vc",
        F.sum("ca").over(w).cast("bigint").alias("cuma"),
        F.sum("cb").over(w).cast("bigint").alias("cumb"),
        (F.coalesce(F.lead("vc", 1).over(wl), F.col("vc")) - F.col("vc"))
        .cast("bigint")
        .alias("gap"),
    )
    tot = pref.agg(
        F.max("cuma").cast("bigint").alias("na"),
        F.max("cumb").cast("bigint").alias("nb"),
    )
    # decimal-staged gap sums: sxy straddles cross pairs, sxx/syy within
    dec = "cast({x} as decimal(38,0))"
    g, ca_, cb_ = (dec.format(x=x) for x in ("gap", "cuma", "cumb"))
    na_, nb_ = dec.format(x="na"), dec.format(x="nb")
    sums = pref.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            f"sum({g} * ({ca_} * ({nb_} - {cb_}) + {cb_} * ({na_} - {ca_})))"
        ).alias("sxy"),
        F.expr(f"sum({g} * 2 * {ca_} * ({na_} - {ca_}))").alias("sxx"),
        F.expr(f"sum({g} * 2 * {cb_} * ({nb_} - {cb_}))").alias("syy"),
        F.max("na").cast("bigint").alias("na"),
        F.max("nb").cast("bigint").alias("nb"),
    )
    # cells are centi units: one gap unit = 0.01 of the value scale
    return sums.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr(
            "cast(floor(1e4 * ("
            "  2.0 * cast(sxy as double) / cast(na as double) / cast(nb as double)"
            "  - cast(sxx as double) / cast(na as double) / cast(na as double)"
            "  - cast(syy as double) / cast(nb as double) / cast(nb as double)"
            ") + 0.5) as bigint)"
        ).alias("d2_micro"),
    ).select(
        "n_a",
        "n_b",
        "d2_micro",
        F.expr(
            "cast(floor(cast(n_a as double) * cast(n_b as double)"
            " / (cast(n_a as double) + cast(n_b as double))"
            " * cast(d2_micro as double) + 0.5) as bigint)"
        ).alias("t_micro"),
    )


_ORACLE_ENERGY = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_ED_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN event_type = '{_ED_B}' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM events WHERE event_type IN ('{_ED_A}', '{_ED_B}')
  GROUP BY 1
),
pref AS (
  SELECT vc,
         sum(ca) OVER (ORDER BY vc)::BIGINT AS cuma,
         sum(cb) OVER (ORDER BY vc)::BIGINT AS cumb,
         (coalesce(lead(vc) OVER (ORDER BY vc), vc) - vc)::BIGINT AS gap
  FROM cells
),
tot AS (SELECT max(cuma)::BIGINT AS na, max(cumb)::BIGINT AS nb FROM pref),
sums AS (
  SELECT sum(gap::HUGEINT * (cuma::HUGEINT * (nb::HUGEINT - cumb::HUGEINT)
             + cumb::HUGEINT * (na::HUGEINT - cuma::HUGEINT))) AS sxy,
         sum(gap::HUGEINT * 2 * cuma::HUGEINT * (na::HUGEINT - cuma::HUGEINT)) AS sxx,
         sum(gap::HUGEINT * 2 * cumb::HUGEINT * (nb::HUGEINT - cumb::HUGEINT)) AS syy,
         max(na)::BIGINT AS na, max(nb)::BIGINT AS nb
  FROM pref, tot
)
SELECT na AS n_a, nb AS n_b,
       cast(floor(1e4 * (
         2.0 * cast(sxy AS DOUBLE) / cast(na AS DOUBLE) / cast(nb AS DOUBLE)
         - cast(sxx AS DOUBLE) / cast(na AS DOUBLE) / cast(na AS DOUBLE)
         - cast(syy AS DOUBLE) / cast(nb AS DOUBLE) / cast(nb AS DOUBLE)
       ) + 0.5) AS BIGINT) AS d2_micro,
       cast(floor(cast(na AS DOUBLE) * cast(nb AS DOUBLE)
            / (cast(na AS DOUBLE) + cast(nb AS DOUBLE))
            * cast(cast(floor(1e4 * (
              2.0 * cast(sxy AS DOUBLE) / cast(na AS DOUBLE) / cast(nb AS DOUBLE)
              - cast(sxx AS DOUBLE) / cast(na AS DOUBLE) / cast(na AS DOUBLE)
              - cast(syy AS DOUBLE) / cast(nb AS DOUBLE) / cast(nb AS DOUBLE)
            ) + 0.5) AS BIGINT) AS DOUBLE) + 0.5) AS BIGINT) AS t_micro
FROM sums
"""


REGISTRY_EXT118: dict[str, QuerySpec] = {
    "log_rank_survival": QuerySpec(
        q_log_rank_survival, _ORACLE_LOGRANK, "X7 [EXT] log-rank survival test"
    ),
    "gumbel_daily_maxima": QuerySpec(
        q_gumbel_daily_maxima, _ORACLE_GUMBEL, "X7 [EXT] Gumbel block-maxima fit"
    ),
    "littles_law_audit": QuerySpec(
        q_littles_law_audit, _ORACLE_LITTLE, "X9 [EXT] Little's law audit"
    ),
    "energy_distance_2samp": QuerySpec(
        q_energy_distance_2samp, _ORACLE_ENERGY, "X7 [EXT] energy distance 2-sample"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_log_rank_survival.__doc__ = q_log_rank_survival.__doc__.format(ev=_EVENT)  # noqa: E501
q_gumbel_daily_maxima.__doc__ = q_gumbel_daily_maxima.__doc__.format(t=_GUMBEL_T)  # noqa: E501
q_energy_distance_2samp.__doc__ = q_energy_distance_2samp.__doc__.format(a=_ED_A, b=_ED_B)  # noqa: E501
