"""Operator registry, wave 88: exact distribution moments, Gini
concentration via the distributed rank, and Herfindahl market
concentration.

Scale stances:
- Moments: skewness/kurtosis per group from raw power sums — the
  MERGEABLE formulation (each partition ships four exact decimal sums;
  any re-partitioning yields identical results). Values sit on the MILLI
  grid so the 4th-power sums stay inside decimal(38,0) (micro^4 would
  overflow at ~10^5 rows; milli^4 holds to ~10^9).
- Gini: the rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n needs the
  exact global value rank — operators/scan_prefix.global_rank_zero again
  (range partitions + Blelloch offsets, no global window); the oracle is
  the literal window SQL, so parity proves the construction. sum(i*x_i)
  runs in decimal(38,0) (rank*value reaches ~10^20 at corpus scale).
- HHI: shares within a bounded market frame (nation x year), squared and
  summed — two grouped aggregates, map-side combinable.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import global_rank_zero
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Exact skewness / kurtosis from mergeable power sums (X7 [EXT])
# --------------------------------------------------------------------------


def q_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 exact distribution moments per event_type: mean,
    variance, skewness and EXCESS kurtosis from raw power sums S1..S4
    of milli-gridded values — the mergeable-moments formulation (four
    decimal sums per partition; identical under any partitioning,
    unlike streaming 'online' variance updates whose result depends on
    merge order). Central moments expand from the raw sums with fixed
    expression text, so both engines execute the same correctly-
    rounded double folds. The drift-monitoring companion of
    ks_two_sample_drift for shape changes that K-S misses in the
    tails."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "cast(floor(1e3 * value + 0.5) as bigint) as vk",
    )
    # power staging: vk^2, vk^3 fit bigint (milli grid, |vk| < 2^20);
    # vk^4 (~6e22) does not — stage it through decimal(19,0) factors
    # (exact scale-0 products; Spark caps the result at decimal(38,0))
    m = e.withColumn("vk2", F.col("vk") * F.col("vk")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("vk").cast("decimal(19,0)")).alias("s1"),
        F.sum(F.col("vk2").cast("decimal(19,0)")).alias("s2"),
        F.sum((F.col("vk2") * F.col("vk")).cast("decimal(19,0)")).alias("s3"),
        F.sum(
            F.col("vk2").cast("decimal(19,0)") * F.col("vk2").cast("decimal(19,0)")
        ).alias("s4"),
    )
    # identical expression text in both engines: nd = n as double, and the
    # central moments from raw sums: m2 = s2/n - mu^2, etc.
    return m.selectExpr(
        "event_type",
        "n",
        "cast(n as double) as nd",
        "cast(s1 as double) as d1",
        "cast(s2 as double) as d2",
        "cast(s3 as double) as d3",
        "cast(s4 as double) as d4",
    ).selectExpr(
        "event_type",
        "n",
        "d1 / nd as mu",
        "d2 / nd - (d1 / nd) * (d1 / nd) as m2",
        "d3 / nd - 3.0 * (d1 / nd) * (d2 / nd) + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) as m3",
        "d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)"
        " + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)"
        " - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) as m4",
    ).selectExpr(
        "event_type",
        "n",
        "cast(floor(mu + 0.5) as bigint) as mean_milli",
        "cast(floor(m2 + 0.5) as bigint) as var_milli2",
        "cast(floor(1e6 * m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) + 0.5)"
        " as bigint) as skewness_micro",
        "cast(floor(1e6 * (m4 / (m2 * m2) - 3.0) + 0.5) as bigint)"
        " as excess_kurtosis_micro",
    ).orderBy("event_type")


_ORACLE_MOMENTS = """
WITH e AS (
  SELECT event_type, cast(floor(1e3 * value + 0.5) AS bigint) AS vk FROM events
),
m AS (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(vk::HUGEINT) AS s1,
         sum(vk::HUGEINT * vk) AS s2,
         sum(vk::HUGEINT * vk * vk) AS s3,
         sum(vk::HUGEINT * vk * vk * vk) AS s4
  FROM e GROUP BY 1
),
d AS (
  SELECT event_type, n, cast(n AS double) AS nd,
         cast(s1 AS double) AS d1, cast(s2 AS double) AS d2,
         cast(s3 AS double) AS d3, cast(s4 AS double) AS d4
  FROM m
),
c AS (
  SELECT event_type, n,
         d1 / nd AS mu,
         d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
         d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)
           + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
         d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
           + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
           - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4
  FROM d
)
SELECT event_type, n,
       cast(floor(mu + 0.5) AS bigint) AS mean_milli,
       cast(floor(m2 + 0.5) AS bigint) AS var_milli2,
       cast(floor(1e6 * m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) + 0.5) AS bigint)
         AS skewness_micro,
       cast(floor(1e6 * (m4 / (m2 * m2) - 3.0) + 0.5) AS bigint)
         AS excess_kurtosis_micro
FROM c ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Gini concentration via the distributed rank (X7 [EXT])
# --------------------------------------------------------------------------


def q_gini_concentration_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 exact Gini coefficient of per-user value concentration
    (how unequally total event value spreads over users), via the rank
    formula G = 2*sum(i*x_i) / (n*sum(x)) - (n+1)/n over users sorted
    ascending by total — the exact 1-indexed rank comes from the
    Blelloch global rank (no global window; the oracle is the literal
    window SQL, proving the construction). Also reports the top-decile
    value share. rank*value products sum in decimal(38,0)."""
    u = (
        _t(spark, sf_dir, "events")
        .selectExpr("user_id", "cast(floor(1e6 * value + 0.5) as bigint) as vm")
        .groupBy("user_id")
        .agg(F.sum("vm").cast("bigint").alias("x"))
    )
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    ranked = barrier(global_rank_zero(u, ["x", "user_id"], n_parts, out="r0"))
    dec = "decimal(38,0)"
    return (
        ranked.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(
                (F.col("r0") + 1).cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
            ).alias("srx"),
            # top decile = ranks >= ceil(0.9 * n); computed against the
            # per-row count via a second conditional pass below
        )
        .crossJoin(
            F.broadcast(
                ranked.crossJoin(
                    F.broadcast(ranked.agg(F.count(F.lit(1)).alias("nn")))
                )
                .where(F.col("r0") >= F.ceil(F.col("nn") * 0.9))
                .agg(F.sum(F.col("x").cast(dec)).alias("sx_top"))
            )
        )
        .selectExpr(
            "n",
            "cast(sx as double) as sxd",
            "cast(srx as double) as srxd",
            "cast(sx_top as double) as sxtopd",
        )
        .selectExpr(
            "n",
            "cast(floor(1e6 * (2.0 * srxd / (cast(n as double) * sxd)"
            " - (cast(n as double) + 1.0) / cast(n as double)) + 0.5)"
            " as bigint) as gini_micro",
            "cast(floor(1e6 * sxtopd / sxd + 0.5) as bigint)"
            " as top_decile_share_micro",
        )
    )


_ORACLE_GINI = """
WITH u AS (
  SELECT user_id, sum(cast(floor(1e6 * value + 0.5) AS bigint))::BIGINT AS x
  FROM events GROUP BY user_id
),
r AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) - 1 AS r0,
         count(*) OVER () AS nn
  FROM u
),
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(x::HUGEINT) AS sx,
         sum((r0 + 1)::HUGEINT * x) AS srx,
         (SELECT sum(x::HUGEINT) FROM r
           WHERE r0 >= ceil(nn * 0.9)) AS sx_top
  FROM r
),
d AS (
  SELECT n, cast(sx AS double) AS sxd, cast(srx AS double) AS srxd,
         cast(sx_top AS double) AS sxtopd
  FROM agg
)
SELECT n,
       cast(floor(1e6 * (2.0 * srxd / (cast(n AS double) * sxd)
                  - (cast(n AS double) + 1.0) / cast(n AS double)) + 0.5)
            AS bigint) AS gini_micro,
       cast(floor(1e6 * sxtopd / sxd + 0.5) AS bigint)
         AS top_decile_share_micro
FROM d
"""


# --------------------------------------------------------------------------
# Herfindahl-Hirschman market concentration (X7 [EXT])
# --------------------------------------------------------------------------


def q_hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Herfindahl-Hirschman index of customer concentration
    per market (nation x order year): HHI = sum of squared customer
    revenue shares within the market, on the canonical 0..10000 scale
    (10000 = monopoly; <1500 unconcentrated). Revenue stays exact
    decimal cents until the share division; per-customer share terms
    micro-round before the sum (order-independent). Two grouped
    aggregates + a broadcast join of market totals."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "cast(year(o_orderdate) as bigint) as yr",
        "cast(floor(100.0 * o_totalprice + 0.5) as bigint) as cents",
    )
    c = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey as o_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").selectExpr("n_nationkey as c_nationkey", "n_name")
    from .fastpath import broadcast_if_small

    # customer grows with the corpus: size-gated pin; nation is a true enum
    per_cust = (
        o.join(broadcast_if_small(c, sf_dir, ["customer"]), "o_custkey")
        .join(F.broadcast(n), "c_nationkey")
        .groupBy("n_name", "yr", "o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    tot = per_cust.groupBy("n_name", "yr").agg(
        F.sum("rev").cast("bigint").alias("rev_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    )
    return (
        per_cust.join(F.broadcast(tot), ["n_name", "yr"])
        .selectExpr(
            "n_name",
            "yr",
            "n_customers",
            # squared share on the 0..10000 HHI scale, micro-rounded per
            # customer before summation
            "cast(floor(1e4 * (cast(rev as double) / cast(rev_tot as double))"
            " * (cast(rev as double) / cast(rev_tot as double)) * 1e2 + 0.5)"
            " as bigint) as term_centi",
        )
        .groupBy("n_name", "yr", "n_customers")
        .agg(F.sum("term_centi").cast("bigint").alias("hhi_centi"))
        .orderBy("n_name", "yr")
    )


_ORACLE_HHI = """
WITH o AS (
  SELECT o_custkey, cast(year(o_orderdate) AS bigint) AS yr,
         cast(floor(100.0 * o_totalprice + 0.5) AS bigint) AS cents
  FROM orders
),
per_cust AS (
  SELECT n.n_name, o.yr, o.o_custkey, sum(o.cents)::BIGINT AS rev
  FROM o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2, 3
),
tot AS (
  SELECT n_name, yr, sum(rev)::BIGINT AS rev_tot,
         count(*)::BIGINT AS n_customers
  FROM per_cust GROUP BY 1, 2
)
SELECT p.n_name, p.yr, t.n_customers,
       sum(cast(floor(1e4 * (cast(p.rev AS double) / cast(t.rev_tot AS double))
                      * (cast(p.rev AS double) / cast(t.rev_tot AS double))
                      * 1e2 + 0.5) AS bigint))::BIGINT AS hhi_centi
FROM per_cust p JOIN tot t USING (n_name, yr)
GROUP BY 1, 2, 3
ORDER BY n_name, yr
"""


REGISTRY_EXT87: dict[str, QuerySpec] = {
    "moments_skew_kurtosis": QuerySpec(
        q_moments_skew_kurtosis, _ORACLE_MOMENTS, "X7 [EXT] mergeable exact moments"
    ),
    "gini_concentration_rank": QuerySpec(
        q_gini_concentration_rank, _ORACLE_GINI, "X7 [EXT] rank-exact Gini"
    ),
    "hhi_market_concentration": QuerySpec(
        q_hhi_market_concentration, _ORACLE_HHI, "X7 [EXT] HHI concentration"
    ),
}
