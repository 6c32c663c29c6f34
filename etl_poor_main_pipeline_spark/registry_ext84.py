"""Operator registry, wave 85: hash-seeded bootstrap CIs, rank-exact
robust means, and the conformed date dimension.

Scale stances:
- Bootstrap CI: the Poisson bootstrap (independent Poisson(1) resample
  weights — the classic distributed approximation to multinomial
  resampling, exact in the n->inf limit) with weights drawn by inverse
  CDF of a 52-bit md5 hash of (event, replicate): RNG-free, identical on
  any cluster. All {B} replicates evaluate in ONE exploded pass with
  exact micro-int weighted sums; the CI is an order statistic over the
  {B}-bounded replicate frame (sorted array pick, never a global window).
- Trimmed/winsorized mean: exact global order statistics WITHOUT a
  global window — ranks come from operators/scan_prefix.global_rank_zero
  (range partitions + Blelloch offsets); trimming is a rank filter,
  winsorizing clamps to the values AT the boundary ranks (two 1-row
  broadcasts). The oracle is the literal SQL global window, so parity
  PROVES the distributed rank construction (distributed_cume_dist's
  idiom, applied to robust statistics).
- Date dimension: a pure literal spine (explode over a 1-row relation),
  O(calendar) rows at any corpus size — the conformed dimension every
  warehouse joins instead of re-deriving calendar math per query.

Reference parity: the reference hardcodes date scalars per query
(analytics__us_weather.py's strftime calls); the date dimension is the
warehouse-native generalization. [EXT] X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import spread
from .operators.scan_prefix import global_rank_zero
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals (X7 [EXT])
# --------------------------------------------------------------------------

_BOOT_B = 19  # replicates; CI = (min, max) -> exact 1 - 2/(B+1) = 90%

# Poisson(1) CDF thresholds for the inverse-CDF weight draw (w capped at 5).
_POIS_CDF = [
    ("0.36787944117144233", 0),
    ("0.7357588823428847", 1),
    ("0.9196986029286058", 2),
    ("0.9810118431238463", 3),
    ("0.9963401531726563", 4),
]


def _boot_weight_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {w}" for t, w in _POIS_CDF
    )
    return f"CASE {branches} ELSE 5 END"


def q_bootstrap_ci_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Poisson-bootstrap CI for the per-type mean event value:
    {B} hash-seeded replicates in one exploded pass (weight = inverse
    Poisson(1) CDF of md5(event:replicate), capped at 5 — P(w>5) is
    6e-4); replicate means are exact micro-int ratios; the 90% CI is
    the (min, max) order-statistic pair over the {B} replicate means —
    with B={B} that interval's coverage is exactly 1 - 2/(B+1) = 90%
    (a {B}-bounded array pick, the engine-stable percentile idiom). The observed mean sits beside the CI; at 100 TB
    this is how you put error bars on any aggregate without a second
    scan per replicate."""
    # the replicate explode pays B md5 evaluations per event; a one-split
    # parquet scan would serialize that on one core (spread is a no-op at
    # scale, where the scan already fans out)
    e = spread(_t(spark, sf_dir, "events")).selectExpr(
        "event_id",
        "event_type",
        "cast(floor(1e6 * value + 0.5) as bigint) as vm",
    )
    reps = ", ".join(str(b) for b in range(1, _BOOT_B + 1))
    u = (
        "cast(conv(substring(md5(concat(cast(event_id as string), ':',"
        " cast(b as string))), 1, 13), 16, 10) as double) / 4503599627370496.0"
    )
    rep_means = (
        e.selectExpr("*", f"explode(array({reps})) as b")
        .selectExpr("event_type", "b", "vm", f"{_boot_weight_case(u)} as w")
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("vm")).cast("bigint").alias("swv"),
            F.sum("w").cast("bigint").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .selectExpr(
            "event_type",
            "cast(floor(cast(swv as double) / cast(sw as double) + 0.5)"
            " as bigint) as mean_micro",
        )
    )
    obs = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.floor(F.sum("vm") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("bigint")
        .alias("obs_mean_micro"),
    )
    ci = rep_means.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.expr("sort_array(collect_list(mean_micro))").alias("ms"),
    ).selectExpr(
        "event_type",
        "n_reps",
        "element_at(ms, 1) as ci_lo_micro",
        f"element_at(ms, {_BOOT_B}) as ci_hi_micro",
    )
    return (
        obs.join(ci, "event_type")
        .select("event_type", "n", "obs_mean_micro", "n_reps", "ci_lo_micro", "ci_hi_micro")
        .orderBy("event_type")
    )


def _oracle_bootstrap() -> str:
    u = (
        "('0x' || substr(md5(cast(event_id AS varchar) || ':'"
        " || cast(b.range AS varchar)), 1, 13))::BIGINT / 4503599627370496.0"
    )
    return f"""
WITH e AS (
  SELECT event_id, event_type,
         cast(floor(1e6 * value + 0.5) AS bigint) AS vm
  FROM events
),
rep AS (
  SELECT e.event_type, b.range AS b, e.vm,
         {_boot_weight_case(u)} AS w
  FROM e CROSS JOIN range(1, {_BOOT_B + 1}) b
),
rep_means AS (
  SELECT event_type, b,
         cast(floor(cast(sum(w * vm) AS double) / cast(sum(w) AS double) + 0.5)
              AS bigint) AS mean_micro
  FROM rep GROUP BY 1, 2 HAVING sum(w) > 0
),
obs AS (
  SELECT event_type, count(*)::BIGINT AS n,
         cast(floor(sum(vm) / count(*) + 0.5) AS bigint) AS obs_mean_micro
  FROM e GROUP BY 1
),
ci AS (
  SELECT event_type, count(*)::BIGINT AS n_reps,
         list_sort(list(mean_micro)) AS ms
  FROM rep_means GROUP BY 1
)
SELECT o.event_type, o.n, o.obs_mean_micro, ci.n_reps,
       ms[1] AS ci_lo_micro, ms[{_BOOT_B}] AS ci_hi_micro
FROM obs o JOIN ci USING (event_type)
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Rank-exact trimmed / winsorized mean (X7 [EXT])
# --------------------------------------------------------------------------

_TRIM_PCT = 5  # percent cut from EACH tail


def q_trimmed_mean_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 exact {p}%-trimmed and {p}%-winsorized mean of the
    event value, via the distributed Blelloch rank (no global window
    anywhere in the plan — the oracle IS the literal global-window SQL,
    so parity proves the construction, distributed_cume_dist's idiom).
    Trimmed: mean over ranks [cut, n-cut); winsorized: tails replaced
    by the values AT the boundary ranks (two 1-row broadcast lookups).
    All sums are exact micro-ints."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_id", "cast(floor(1e6 * value + 0.5) as bigint) as vm"
    )
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    ranked = global_rank_zero(e, ["vm", "event_id"], n_parts, out="r0")
    ranked = barrier(ranked)  # feeds totals + 3 reads
    tot = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = tot.selectExpr(
        "n",
        f"cast(floor(n * {_TRIM_PCT} / 100.0) as bigint) as cut",
    ).limit(1)
    lo_val = (
        ranked.crossJoin(F.broadcast(bounds))
        .where(F.col("r0") == F.col("cut"))
        .selectExpr("vm as lo_vm")
        .limit(1)
    )
    hi_val = (
        ranked.crossJoin(F.broadcast(bounds))
        .where(F.col("r0") == F.col("n") - F.col("cut") - 1)
        .selectExpr("vm as hi_vm")
        .limit(1)
    )
    return (
        ranked.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(lo_val))
        .crossJoin(F.broadcast(hi_val))
        .agg(
            F.max("n").alias("n"),
            F.max("cut").alias("cut_each_tail"),
            F.sum(
                F.when(
                    (F.col("r0") >= F.col("cut")) & (F.col("r0") < F.col("n") - F.col("cut")),
                    F.col("vm"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("s_trim"),
            F.sum(
                F.when(F.col("r0") < F.col("cut"), F.col("lo_vm"))
                .when(F.col("r0") >= F.col("n") - F.col("cut"), F.col("hi_vm"))
                .otherwise(F.col("vm"))
            )
            .cast("bigint")
            .alias("s_wins"),
        )
        .selectExpr(
            "n",
            "cut_each_tail",
            "cast(floor(cast(s_trim as double)"
            " / cast(n - 2 * cut_each_tail as double) + 0.5) as bigint)"
            " as trimmed_mean_micro",
            "cast(floor(cast(s_wins as double) / cast(n as double) + 0.5)"
            " as bigint) as winsorized_mean_micro",
        )
    )


_ORACLE_TRIMMED = f"""
WITH e AS (
  SELECT event_id, cast(floor(1e6 * value + 0.5) AS bigint) AS vm FROM events
),
r AS (
  SELECT vm,
         row_number() OVER (ORDER BY vm, event_id) - 1 AS r0,
         count(*) OVER () AS n
  FROM e
),
b AS (SELECT n, cast(floor(n * {_TRIM_PCT} / 100.0) AS bigint) AS cut
      FROM r LIMIT 1),
lo AS (SELECT vm AS lo_vm FROM r, b WHERE r.r0 = b.cut LIMIT 1),
hi AS (SELECT vm AS hi_vm FROM r, b WHERE r.r0 = b.n - b.cut - 1 LIMIT 1)
SELECT max(b.n)::BIGINT AS n, max(b.cut)::BIGINT AS cut_each_tail,
       cast(floor(cast(sum(CASE WHEN r.r0 >= b.cut AND r.r0 < b.n - b.cut
                                THEN r.vm ELSE 0 END) AS double)
                  / cast(max(b.n) - 2 * max(b.cut) AS double) + 0.5) AS bigint)
         AS trimmed_mean_micro,
       cast(floor(cast(sum(CASE WHEN r.r0 < b.cut THEN lo.lo_vm
                                WHEN r.r0 >= b.n - b.cut THEN hi.hi_vm
                                ELSE r.vm END) AS double)
                  / cast(max(b.n) AS double) + 0.5) AS bigint)
         AS winsorized_mean_micro
FROM r, b, lo, hi
"""


# --------------------------------------------------------------------------
# Conformed date dimension (X8 [EXT], §2.6 scalar-function family)
# --------------------------------------------------------------------------

_DD_START = "1995-01-01"
_DD_END = "1996-12-31"


def q_date_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 conformed date dimension for [{a} .. {b}]: the literal
    calendar spine every warehouse query joins instead of re-deriving
    calendar math (the reference hardcodes strftime scalars per query;
    this is the dimension-table generalization). ISO day-of-week uses
    the engine-portable (dayofweek+5)%7+1 mapping (Spark is Sun=1,
    DuckDB isodow is Mon=1 — both land on ISO). O(calendar) rows at
    any corpus size."""
    return (
        _t(spark, sf_dir, "region")
        .sparkSession.sql(
            f"""SELECT explode(sequence(to_date('{_DD_START}'),
                                        to_date('{_DD_END}'),
                                        interval 1 day)) AS d"""
        )
        .selectExpr(
            "cast(d as string) as date_id",
            "cast(year(d) as bigint) as yr",
            "cast(quarter(d) as bigint) as qtr",
            "cast(month(d) as bigint) as mo",
            "cast(day(d) as bigint) as dom",
            "cast(dayofyear(d) as bigint) as doy",
            "cast((dayofweek(d) + 5) % 7 + 1 as bigint) as iso_dow",
            "cast((dayofweek(d) + 5) % 7 + 1 >= 6 as boolean) as is_weekend",
            "cast(day(d) = 1 as boolean) as is_month_start",
            "cast(d = last_day(d) as boolean) as is_month_end",
            "cast(datediff(last_day(d), trunc(d, 'MM')) + 1 as bigint) as days_in_month",
        )
        .orderBy("date_id")
    )


_ORACLE_DATE_DIM = f"""
WITH s AS (
  SELECT unnest(generate_series(DATE '{_DD_START}', DATE '{_DD_END}',
                                INTERVAL 1 DAY))::DATE AS d
)
SELECT cast(d AS varchar) AS date_id,
       cast(year(d) AS bigint) AS yr,
       cast(quarter(d) AS bigint) AS qtr,
       cast(month(d) AS bigint) AS mo,
       cast(day(d) AS bigint) AS dom,
       cast(dayofyear(d) AS bigint) AS doy,
       cast(isodow(d) AS bigint) AS iso_dow,
       (isodow(d) >= 6) AS is_weekend,
       (day(d) = 1) AS is_month_start,
       (d = last_day(d)) AS is_month_end,
       cast(day(last_day(d)) AS bigint) AS days_in_month
FROM s ORDER BY date_id
"""


REGISTRY_EXT84: dict[str, QuerySpec] = {
    "bootstrap_ci_hashed": QuerySpec(
        q_bootstrap_ci_hashed, _oracle_bootstrap(), "X7 [EXT] Poisson bootstrap CI"
    ),
    "trimmed_mean_rank": QuerySpec(
        q_trimmed_mean_rank, _ORACLE_TRIMMED, "X7 [EXT] rank-exact robust means"
    ),
    "date_dimension_build": QuerySpec(
        q_date_dimension_build, _ORACLE_DATE_DIM, "X8 [EXT] conformed date dim"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_bootstrap_ci_hashed.__doc__ = q_bootstrap_ci_hashed.__doc__.format(B=_BOOT_B, B1=_BOOT_B - 1)  # noqa: E501
q_trimmed_mean_rank.__doc__ = q_trimmed_mean_rank.__doc__.format(p=_TRIM_PCT)  # noqa: E501
q_date_dimension_build.__doc__ = q_date_dimension_build.__doc__.format(a=_DD_START, b=_DD_END)  # noqa: E501
