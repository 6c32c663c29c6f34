"""Wave 145 [EXT]: survey-sampling design estimators — the Kish (1965)
effective sample size / design effect for unequal weights, the
Horvitz-Thompson (1952) total under deterministic stratified Bernoulli
sampling with EXACT integer expansion weights, the one-stage cluster
design effect 1 + (m̄-1)ρ with the ANOVA intracluster correlation, and
the 1-in-k systematic sample estimate vs its frame truth. Companions
of the shipped stratified_sample_md5 / neyman_allocation /
quota_sample_per_stratum / sample_deterministic_hash.

Scale notes (the 100x question, per query):
- kish / cluster: one map-side per-user reduce then a 1-row moment
  aggregate (per-user y² and m² stage through decimal(38,0));
- horvitz_thompson: the sampling filter is the md5 hex-prefix
  threshold (engine-identical, no RNG); inclusion probabilities are
  k/256 so the expansion weights 256/k are EXACT INTEGERS — the HT
  sum is pure bigint arithmetic, no FP division until the final
  relative-error report;
- systematic: the 1-in-k rule is id-residue selection (event_id % k),
  a pushed-down filter — no global rank materializes.

Reference parity: none; [EXT] X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
#: stratum -> (2-hex-char md5 threshold, exact integer expansion 256/k)
_HT_DESIGN = {
    "click": ("80", 2),  # pi = 128/256
    "view": ("40", 4),  # pi = 64/256
    "purchase": ("zz", 1),  # pi = 1 (keep all)
    "signup": ("80", 2),  # pi = 128/256
    "error": ("20", 8),  # pi = 32/256
}
_SYS_K = 7  # 1-in-7 systematic by id residue
_SYS_R = 3


# --------------------------------------------------------------------------
# Kish effective sample size / design effect (X7/X8 [EXT])
# --------------------------------------------------------------------------


def q_kish_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 Kish (1965): with per-user weights w_i = the user's
    event count (the frequency weight a user-level estimate from event
    rows implies), n_eff = (Σw)²/Σw² and deff = 1 + cv²(w) =
    n·Σw²/(Σw)² — how much variance the unequal weighting costs.
    Output one row: n_users, n_events, neff_milli, deff_milli."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * w")).alias("sww"),
    )
    neff = (
        "(cast(sw as double) * cast(sw as double) / cast(sww as double))"
    )
    deff = (
        "(cast(k as double) * cast(sww as double)"
        " / (cast(sw as double) * cast(sw as double)))"
    )
    return m.selectExpr(
        "k AS n_users",
        "sw AS n_events",
        f"cast(floor(1e3 * {neff} + 0.5) as bigint) AS neff_milli",
        f"cast(floor(1e3 * {deff} + 0.5) as bigint) AS deff_milli",
    )


_ORACLE_KISH = """
WITH per_user AS (
  SELECT user_id, count(*)::BIGINT AS w FROM events GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS k, sum(w)::BIGINT AS sw,
         sum(w::HUGEINT * w) AS sww
  FROM per_user
)
SELECT k AS n_users, sw AS n_events,
       cast(floor(1e3 * (cast(sw AS DOUBLE) * cast(sw AS DOUBLE)
         / cast(sww AS DOUBLE)) + 0.5) AS BIGINT) AS neff_milli,
       cast(floor(1e3 * (cast(k AS DOUBLE) * cast(sww AS DOUBLE)
         / (cast(sw AS DOUBLE) * cast(sw AS DOUBLE))) + 0.5) AS BIGINT)
         AS deff_milli
FROM m
"""


# --------------------------------------------------------------------------
# Horvitz-Thompson stratified total (X7/X8 [EXT])
# --------------------------------------------------------------------------


def q_horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 Horvitz-Thompson: estimate the grand value total
    from a deterministic stratified Bernoulli sample (md5 hex-prefix
    thresholds per event_type, the stratified_sample_md5 idiom) using
    T̂ = Σ y_i/π_i. π = k/256 by design, so 1/π = 256/k is an exact
    integer expansion weight and the HT sum is pure bigint arithmetic.
    Output one row: n_frame, n_sampled, true_total_micro,
    ht_total_micro, rel_err_micro."""
    e = _t(spark, sf_dir, "events")
    thr = " ".join(
        f"WHEN event_type = '{s}' THEN '{t}'" for s, (t, _) in _HT_DESIGN.items()
    )
    wexp = " ".join(
        f"WHEN event_type = '{s}' THEN {w}" for s, (t, w) in _HT_DESIGN.items()
    )
    base = e.selectExpr(
        "cast(floor(value * 1e6 + 0.5) as bigint) AS ym",
        f"CASE {thr} ELSE 'zz' END AS thr",
        f"CASE {wexp} ELSE 1 END AS wx",
        "substring(md5(cast(event_id as string)), 1, 2) AS b",
    )
    base = barrier(base)  # truth pass + sample pass
    truth = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frame"),
        F.sum("ym").cast("bigint").alias("true_total"),
    )
    samp = base.filter("b < thr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum(F.expr("ym * wx")).cast("bigint").alias("ht_total"),
    )
    return (
        truth.crossJoin(F.broadcast(samp))
        .selectExpr(
            "n_frame",
            "n_sampled",
            "true_total AS true_total_micro",
            "ht_total AS ht_total_micro",
            "cast(floor(1e6 * (cast(ht_total as double)"
            " - cast(true_total as double)) / cast(true_total as double)"
            " + 0.5) as bigint) AS rel_err_micro",
        )
    )


def _oracle_ht() -> str:
    thr = " ".join(
        f"WHEN event_type = '{s}' THEN '{t}'" for s, (t, _) in _HT_DESIGN.items()
    )
    wexp = " ".join(
        f"WHEN event_type = '{s}' THEN {w}" for s, (t, w) in _HT_DESIGN.items()
    )
    return f"""
WITH base AS (
  SELECT cast(floor(value * 1e6 + 0.5) AS BIGINT) AS ym,
         CASE {thr} ELSE 'zz' END AS thr,
         CASE {wexp} ELSE 1 END AS wx,
         substring(md5(cast(event_id AS VARCHAR)), 1, 2) AS b
  FROM events
),
truth AS (
  SELECT count(*)::BIGINT AS n_frame, sum(ym)::BIGINT AS true_total
  FROM base
),
samp AS (
  SELECT count(*)::BIGINT AS n_sampled, sum(ym * wx)::BIGINT AS ht_total
  FROM base WHERE b < thr
)
SELECT n_frame, n_sampled, true_total AS true_total_micro,
       ht_total AS ht_total_micro,
       cast(floor(1e6 * (cast(ht_total AS DOUBLE)
         - cast(true_total AS DOUBLE)) / cast(true_total AS DOUBLE)
         + 0.5) AS BIGINT) AS rel_err_micro
FROM truth, samp
"""


# --------------------------------------------------------------------------
# One-stage cluster design effect (X7/X8 [EXT])
# --------------------------------------------------------------------------


def q_cluster_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 cluster-sampling design effect with users as
    clusters: one-way ANOVA components MSB/MSW of value (centi) give
    the intracluster correlation ρ = (MSB - MSW)/(MSB + (m0-1)·MSW)
    with m0 = (n - Σm_i²/n)/(k-1) (the ANOVA mean cluster size), then
    deff = 1 + (m0 - 1)·ρ — the variance price of sampling whole
    users instead of events. y is in CENTI units and the per-cluster
    between-SS term sy²/m is a same-text double floor — deterministic
    in both engines even where the double rounds. Output one row:
    k_clusters, n, m0_milli, rho_micro, deff_milli."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select(
            "user_id",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("y"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("syy"),
        )
        .selectExpr(
            "m",
            "sy",
            "syy",
            "cast(floor(cast(sy as double) * cast(sy as double)"
            " / cast(m as double) + 0.5) as bigint) AS bss",
        )
    )
    m = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum(F.expr(f"{_DEC.format(x='m')} * m")).alias("smm"),
        F.sum("sy").cast("bigint").alias("ty"),
        F.sum("syy").alias("tyy"),
        F.sum(F.expr(f"{_DEC.format(x='bss')}")).alias("tbss"),
    )
    nn = "cast(n as double)"
    kk = "cast(k as double)"
    sst = f"(cast(tyy as double) - cast(ty as double) * cast(ty as double) / {nn})"
    ssb = f"(cast(tbss as double) - cast(ty as double) * cast(ty as double) / {nn})"
    ssw = f"({sst} - {ssb})"
    msb = f"({ssb} / ({kk} - 1.0D))"
    msw = f"({ssw} / ({nn} - {kk}))"
    m0 = f"(({nn} - cast(smm as double) / {nn}) / ({kk} - 1.0D))"
    rho = f"(({msb} - {msw}) / ({msb} + ({m0} - 1.0D) * {msw}))"
    deff = f"(1.0D + ({m0} - 1.0D) * {rho})"
    return m.selectExpr(
        "k AS k_clusters",
        "n",
        f"cast(floor(1e3 * {m0} + 0.5) as bigint) AS m0_milli",
        f"cast(floor(1e6 * {rho} + 0.5) as bigint) AS rho_micro",
        f"cast(floor(1e3 * {deff} + 0.5) as bigint) AS deff_milli",
    )


_ORACLE_CLUSTER = """
WITH per AS (
  SELECT user_id, count(*)::BIGINT AS m, sum(y)::BIGINT AS sy,
         sum(y::HUGEINT * y) AS syy,
         cast(floor(cast(sum(y) AS DOUBLE) * cast(sum(y) AS DOUBLE)
           / cast(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS bss
  FROM (SELECT user_id,
          cast(floor(value * 100.0 + 0.5) AS BIGINT) AS y FROM events)
  GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS k, sum(m)::BIGINT AS n,
         sum(m::HUGEINT * m) AS smm, sum(sy)::BIGINT AS ty,
         sum(syy) AS tyy, sum(bss::HUGEINT) AS tbss
  FROM per
),
d AS (
  SELECT k, n,
         (cast(tyy AS DOUBLE) - cast(ty AS DOUBLE) * cast(ty AS DOUBLE)
           / cast(n AS DOUBLE)) AS sst,
         (cast(tbss AS DOUBLE) - cast(ty AS DOUBLE) * cast(ty AS DOUBLE)
           / cast(n AS DOUBLE)) AS ssb,
         ((cast(n AS DOUBLE) - cast(smm AS DOUBLE) / cast(n AS DOUBLE))
           / (cast(k AS DOUBLE) - 1.0)) AS m0
  FROM m
),
d2 AS (
  SELECT k, n, m0,
         (ssb / (cast(k AS DOUBLE) - 1.0)) AS msb,
         ((sst - ssb) / (cast(n AS DOUBLE) - cast(k AS DOUBLE))) AS msw
  FROM d
),
d3 AS (
  SELECT k, n, m0, ((msb - msw) / (msb + (m0 - 1.0) * msw)) AS rho
  FROM d2
)
SELECT k AS k_clusters, n,
       cast(floor(1e3 * m0 + 0.5) AS BIGINT) AS m0_milli,
       cast(floor(1e6 * rho + 0.5) AS BIGINT) AS rho_micro,
       cast(floor(1e3 * (1.0 + (m0 - 1.0) * rho) + 0.5) AS BIGINT)
         AS deff_milli
FROM d3
"""


# --------------------------------------------------------------------------
# 1-in-k systematic sample estimate (X7/X8 [EXT])
# --------------------------------------------------------------------------


def q_systematic_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 systematic sampling by id residue (take every row
    with event_id ≡ r mod k — the filter pushes to the scan, no global
    rank): the sample mean vs the frame mean and the bias in micro
    units. The id-sequence version of the classic 1-in-k design.
    Output one row: k, r, n_frame, n_sampled, est_mean_micro,
    true_mean_micro, err_micro."""
    e = _t(spark, sf_dir, "events")
    base = e.selectExpr(
        "event_id",
        "cast(floor(value * 1e6 + 0.5) as bigint) AS ym",
    )
    base = barrier(base)  # truth pass + sample pass
    truth = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frame"),
        F.sum("ym").cast("bigint").alias("ty"),
    )
    samp = base.filter(f"event_id % {_SYS_K} = {_SYS_R}").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("ym").cast("bigint").alias("sy"),
    )
    est = "(cast(sy as double) / cast(n_sampled as double))"
    tru = "(cast(ty as double) / cast(n_frame as double))"
    return (
        truth.crossJoin(F.broadcast(samp))
        .selectExpr(
            f"cast({_SYS_K} as bigint) AS k",
            f"cast({_SYS_R} as bigint) AS r",
            "n_frame",
            "n_sampled",
            f"cast(floor({est} + 0.5) as bigint) AS est_mean_micro",
            f"cast(floor({tru} + 0.5) as bigint) AS true_mean_micro",
            f"cast(floor({est} - {tru} + 0.5) as bigint) AS err_micro",
        )
    )


_ORACLE_SYS = f"""
WITH base AS (
  SELECT event_id, cast(floor(value * 1e6 + 0.5) AS BIGINT) AS ym
  FROM events
),
truth AS (
  SELECT count(*)::BIGINT AS n_frame, sum(ym)::BIGINT AS ty FROM base
),
samp AS (
  SELECT count(*)::BIGINT AS n_sampled, sum(ym)::BIGINT AS sy
  FROM base WHERE event_id % {_SYS_K} = {_SYS_R}
)
SELECT {_SYS_K}::BIGINT AS k, {_SYS_R}::BIGINT AS r, n_frame, n_sampled,
       cast(floor((cast(sy AS DOUBLE) / cast(n_sampled AS DOUBLE)) + 0.5)
         AS BIGINT) AS est_mean_micro,
       cast(floor((cast(ty AS DOUBLE) / cast(n_frame AS DOUBLE)) + 0.5)
         AS BIGINT) AS true_mean_micro,
       cast(floor((cast(sy AS DOUBLE) / cast(n_sampled AS DOUBLE))
         - (cast(ty AS DOUBLE) / cast(n_frame AS DOUBLE)) + 0.5)
         AS BIGINT) AS err_micro
FROM truth, samp
"""


REGISTRY_EXT145: dict[str, QuerySpec] = {
    "kish_design_effect": QuerySpec(
        q_kish_design_effect, _ORACLE_KISH, "X7/X8 [EXT] Kish neff/deff"
    ),
    "horvitz_thompson_total": QuerySpec(
        q_horvitz_thompson_total, _oracle_ht(), "X7/X8 [EXT] HT total"
    ),
    "cluster_design_effect": QuerySpec(
        q_cluster_design_effect, _ORACLE_CLUSTER, "X7/X8 [EXT] cluster deff"
    ),
    "systematic_sample_estimate": QuerySpec(
        q_systematic_sample_estimate, _ORACLE_SYS, "X7/X8 [EXT] systematic"
    ),
}
