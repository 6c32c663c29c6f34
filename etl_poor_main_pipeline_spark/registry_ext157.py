"""Wave 157 [EXT]: circular-uniformity and spacings completers on the
minute-of-day circle — Kuiper's (1960) one-sample V against the
uniform CDF (the rotation-invariant KS, with Stephens' (1970)
small-sample modification for the 5% decision), the Hodges-Ajne (1955)
half-circle count test, Rao's (1976) spacing test U, and the Greenwood
(1946) spacings statistic G. Companions of the shipped
rayleigh_uniformity_test / watson_u2_uniformity (moment / CvM-type
circular tests) and kuiper_two_sample (the two-sample V).

Everything is EXACT rational arithmetic on the 1440-minute grid — no
transcendentals anywhere (Kuiper's reject multiplies by √n, which is
IEEE-exact):
- Kuiper: per tie run [a..b] at uniform CDF u = (2·mc+1)/2880,
  D+ = max(b/n - u) and D- = max(u - (a-1)/n) collapse to one
  cell-walk max each (the Lilliefors run forms with a rational CDF).
- Hodges-Ajne: the dense 0..1439 spine (a literal sequence explode)
  carries a circular prefix; the count in the half circle [t, t+720)
  is pref(t+720) - pref(t) on the doubled prefix, and m = min over
  all 1440 rotations — exact integers throughout.
- Rao / Greenwood: circular gaps between consecutive OCCUPIED cells
  come from the rank→rank+1 equi-join (the runs_test adjacency
  pattern) plus one wrap gap (last→first); a cell with f points
  contributes f-1 ZERO spacings. Staged as integers: Rao's
  2nU = Σ(f-1)·1440 + Σ|n·gap - 1440|, Greenwood's
  G·(1440n)²... = Σ (n·gap)² — both exact in decimal(38,0)/HUGEINT.

Scale notes (the 100x question): all four reduce the corpus map-side
to ≤ 1440 minute cells; every walk, join, and spine is bounded by the
grid, not the corpus.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
#: Stephens (1970) modified-Kuiper upper-5% point: V·(√n+0.155+0.24/√n)
_KUIPER_95_MICRO = 1_747_000  # 1.747


def _minute_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr(f"(unix_micros(ts) % {_DAY_US}) div 60000000").alias("mc")
        )
        .groupBy("mc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )


_SQL_MINUTE_CELLS = f"""
cells AS (
  SELECT (epoch_us(ts) % {_DAY_US}) // 60000000 AS mc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1
)
"""


# --------------------------------------------------------------------------
# Kuiper one-sample uniformity (X7 [EXT])
# --------------------------------------------------------------------------


def q_kuiper_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Kuiper (1960) one-sample V = D+ + D- against the uniform
    minute-of-day CDF F0 = (2·mc+1)/2880 (minute-midpoint convention,
    as watson_u2_uniformity): rotation-invariant KS, so a gap at
    midnight scores the same as one at noon. Per tie run [a..b]:
    D+ = max(b/n - u), D- = max(u - (a-1)/n). Reject at 5% via
    Stephens' (1970) modification V·(√n + 0.155 + 0.24/√n) > 1.747.
    Output one row: n, v_micro, v_mod_micro, reject_05."""
    cells = _minute_cells(spark, sf_dir)
    pref = exclusive_prefix_sum(cells, "mc", "f", out="nb")
    tot = pref.agg(F.max(F.expr("nb + f")).cast("bigint").alias("n"))
    u = "(cast(2 * mc + 1 as double) / 2880.0)"
    nn = "cast(n as double)"
    red = (
        pref.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.max(
                F.expr(f"cast(nb + f as double) / {nn} - {u}")
            ).alias("dp"),
            F.max(
                F.expr(f"{u} - cast(nb as double) / {nn}")
            ).alias("dm"),
        )
    )
    vmod = (
        "((dp + dm) * (sqrt(cast(n as double)) + 0.155"
        " + 0.24 / sqrt(cast(n as double))))"
    )
    return red.selectExpr(
        "n",
        "cast(floor(1e6 * (dp + dm) + 0.5) as bigint) AS v_micro",
        f"cast(floor(1e6 * {vmod} + 0.5) as bigint) AS v_mod_micro",
        f"cast(floor(1e6 * {vmod} + 0.5) as bigint) > {_KUIPER_95_MICRO}"
        " AS reject_05",
    )


_ORACLE_KUIPER = f"""
WITH {_SQL_MINUTE_CELLS.strip()},
pref AS (
  SELECT mc, f,
         coalesce(sum(f) OVER (ORDER BY mc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (SELECT max(nb + f)::BIGINT AS n FROM pref),
red AS (
  SELECT n,
         max(cast(nb + f AS DOUBLE) / cast(n AS DOUBLE)
           - cast(2 * mc + 1 AS DOUBLE) / 2880.0) AS dp,
         max(cast(2 * mc + 1 AS DOUBLE) / 2880.0
           - cast(nb AS DOUBLE) / cast(n AS DOUBLE)) AS dm
  FROM pref, tot
  GROUP BY 1
)
SELECT n,
       cast(floor(1e6 * (dp + dm) + 0.5) AS BIGINT) AS v_micro,
       cast(floor(1e6 * ((dp + dm) * (sqrt(cast(n AS DOUBLE)) + 0.155
         + 0.24 / sqrt(cast(n AS DOUBLE)))) + 0.5) AS BIGINT)
         AS v_mod_micro,
       cast(floor(1e6 * ((dp + dm) * (sqrt(cast(n AS DOUBLE)) + 0.155
         + 0.24 / sqrt(cast(n AS DOUBLE)))) + 0.5) AS BIGINT)
         > {_KUIPER_95_MICRO} AS reject_05
FROM red
"""


# --------------------------------------------------------------------------
# Hodges-Ajne half-circle count test (X7 [EXT])
# --------------------------------------------------------------------------


def q_hodges_ajne_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Hodges & Ajne (1955) half-circle test: m = the minimum,
    over every half-circle [t, t+720) on the 1440-minute grid, of the
    point count inside — small m means direction-clustered data (the
    complement half is rotation t+720, so sweeping all 1440 t covers
    both sides). Exact integers off a circular prefix on the DENSE
    literal spine. Output one row: n, m, m_over_n_micro."""
    cells = _minute_cells(spark, sf_dir)
    spine = spark.range(0, 1440).select(F.col("id").cast("bigint").alias("t"))
    dense = (
        spine.join(cells, spine.t == cells.mc, "left")
        .select("t", F.coalesce("f", F.lit(0).cast("bigint")).alias("f"))
    )
    pref = exclusive_prefix_sum(dense, "t", "f", out="pb")
    tot = pref.agg(F.max(F.expr("pb + f")).cast("bigint").alias("n"))
    # circular count in [t, t+720): pref(t+720) - pref(t), wrapping via
    # +n; the shifted side is the SAME bounded frame re-keyed
    rhs = pref.selectExpr("pmod(t - 720, 1440) AS t", "pb AS pb2")
    halves = (
        pref.join(rhs, "t")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "n",
            # t < 720: window [t, t+720) = pb2 - pb (pb2 = pref(t+720));
            # t >= 720: wraps -> (n - pb) + pb2 (pb2 = pref(t-720))
            "CASE WHEN t < 720 THEN pb2 - pb ELSE n - pb + pb2 END AS c",
        )
    )
    return halves.groupBy("n").agg(
        F.min("c").cast("bigint").alias("m")
    ).selectExpr(
        "n",
        "m",
        "cast(floor(1e6 * cast(m as double) / cast(n as double) + 0.5)"
        " as bigint) AS m_over_n_micro",
    )


_ORACLE_HODGES_AJNE = f"""
WITH {_SQL_MINUTE_CELLS.strip()},
spine AS (SELECT t FROM generate_series(0, 1439) s(t)),
dense AS (
  SELECT t, coalesce(f, 0)::BIGINT AS f
  FROM spine LEFT JOIN cells ON cells.mc = spine.t
),
pref AS (
  SELECT t, f,
         coalesce(sum(f) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS pb
  FROM dense
),
tot AS (SELECT max(pb + f)::BIGINT AS n FROM pref),
halves AS (
  SELECT n,
         CASE WHEN a.t < 720 THEN b.pb - a.pb
              ELSE n - a.pb + b.pb END AS c
  FROM pref a
  JOIN pref b ON b.t = (a.t + 720) % 1440, tot
)
SELECT n, min(c)::BIGINT AS m,
       cast(floor(1e6 * cast(min(c) AS DOUBLE) / cast(n AS DOUBLE) + 0.5)
         AS BIGINT) AS m_over_n_micro
FROM halves GROUP BY 1
"""


# --------------------------------------------------------------------------
# shared occupied-cell circular gaps (Rao / Greenwood)
# --------------------------------------------------------------------------


def _circular_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per spacing between consecutive OCCUPIED minute cells
    (mc order, plus the wrap gap last→first), carrying the gap in
    minutes and the cell count f of the gap's LEFT endpoint (whose
    f-1 duplicate points contribute zero spacings). Output columns:
    gap (minutes, bigint), fz (zero-spacing multiplicity), n."""
    cells = barrier(_minute_cells(spark, sf_dir))
    ranked = exclusive_prefix_sum(
        cells.withColumn("one", F.lit(1).cast("bigint")), "mc", "one", out="r0"
    ).select("mc", "f", "r0")
    tot = ranked.agg(
        F.max(F.expr("r0 + 1")).cast("bigint").alias("n_cells"),
        F.sum("f").cast("bigint").alias("n"),
        F.min("mc").cast("bigint").alias("mc_min"),
        F.max("mc").cast("bigint").alias("mc_max"),
    )
    nxt = ranked.selectExpr("r0 - 1 AS r0", "mc AS mc_next")
    inner = ranked.join(nxt, "r0").selectExpr(
        "f", "mc_next - mc AS gap"
    )
    wrap = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.expr("mc = mc_max"))
        .selectExpr("f", "1440 - mc_max + mc_min AS gap")
    )
    return (
        inner.unionByName(wrap)
        .crossJoin(F.broadcast(tot.select("n")))
        .selectExpr("gap", "f - 1 AS fz", "n")
    )


_SQL_GAPS = """
ranked AS (
  SELECT mc, f,
         row_number() OVER (ORDER BY mc)::BIGINT AS rk
  FROM cells
),
tot AS (
  SELECT max(rk)::BIGINT AS n_cells, sum(f)::BIGINT AS n,
         min(mc)::BIGINT AS mc_min, max(mc)::BIGINT AS mc_max
  FROM ranked
),
gaps AS (
  SELECT a.f, b.mc - a.mc AS gap, n
  FROM ranked a JOIN ranked b ON b.rk = a.rk + 1, tot
  UNION ALL
  SELECT f, 1440 - mc_max + mc_min AS gap, n
  FROM ranked, tot WHERE mc = mc_max
)
"""


def q_rao_spacing_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Rao (1976) spacing test of circular uniformity:
    U = ½ Σ_i |T_i - λ| over the n circular arc gaps T_i between
    consecutive points (λ = 1440/n minutes expected); a cell with f
    points contributes f-1 ZERO spacings (|0-λ| = λ each) plus its gap
    to the next occupied cell. Staged exact:
    2nU = Σ(f-1)·1440 + Σ|n·gap - 1440| (integers). Output one row:
    n, u_minutes_micro, u_degrees_micro (U/4)."""
    gaps = _circular_gaps(spark, sf_dir)
    red = gaps.groupBy("n").agg(
        F.sum(
            F.expr(f"{_DEC.format(x='fz')} * 1440 + abs({_DEC.format(x='n')}"
                   " * gap - 1440)")
        ).alias("u2n")
    )
    u = "(cast(u2n as double) / (2.0 * cast(n as double)))"
    return red.selectExpr(
        "n",
        f"cast(floor(1e6 * {u} + 0.5) as bigint) AS u_minutes_micro",
        f"cast(floor(1e6 * {u} / 4.0 + 0.5) as bigint) AS u_degrees_micro",
    )


_ORACLE_RAO = f"""
WITH {_SQL_MINUTE_CELLS.strip()},
{_SQL_GAPS.strip()},
red AS (
  SELECT n,
         sum((f - 1)::HUGEINT * 1440
             + abs(n::HUGEINT * gap - 1440)) AS u2n
  FROM gaps GROUP BY 1
)
SELECT n,
       cast(floor(1e6 * (cast(u2n AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))
         + 0.5) AS BIGINT) AS u_minutes_micro,
       cast(floor(1e6 * (cast(u2n AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))
         / 4.0 + 0.5) AS BIGINT) AS u_degrees_micro
FROM red
"""


def q_greenwood_spacing_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Greenwood (1946) spacings statistic on the circle:
    G = Σ_i D_i² with D_i = T_i/1440 the n normalized circular gaps
    (duplicate points in a cell are zero spacings and add nothing);
    under uniformity E[G] ≈ 2/(n+1), so n·G → 2 — clustering inflates
    it. Staged exact: G·1440² = Σ gap² (integers). Output one row:
    n, g_nano, n_g_micro (= n·G, the normalized form)."""
    gaps = _circular_gaps(spark, sf_dir)
    red = gaps.groupBy("n").agg(
        F.sum(F.expr(f"{_DEC.format(x='gap')} * gap")).alias("sg2")
    )
    g = "(cast(sg2 as double) / (1440.0 * 1440.0))"
    return red.selectExpr(
        "n",
        f"cast(floor(1e9 * {g} + 0.5) as bigint) AS g_nano",
        f"cast(floor(1e6 * cast(n as double) * {g} + 0.5) as bigint)"
        " AS n_g_micro",
    )


_ORACLE_GREENWOOD = f"""
WITH {_SQL_MINUTE_CELLS.strip()},
{_SQL_GAPS.strip()},
red AS (
  SELECT n, sum(gap::HUGEINT * gap) AS sg2
  FROM gaps GROUP BY 1
)
SELECT n,
       cast(floor(1e9 * (cast(sg2 AS DOUBLE) / (1440.0 * 1440.0)) + 0.5)
         AS BIGINT) AS g_nano,
       cast(floor(1e6 * cast(n AS DOUBLE)
         * (cast(sg2 AS DOUBLE) / (1440.0 * 1440.0)) + 0.5) AS BIGINT)
         AS n_g_micro
FROM red
"""


REGISTRY_EXT157: dict[str, QuerySpec] = {
    "kuiper_uniformity": QuerySpec(
        q_kuiper_uniformity, _ORACLE_KUIPER, "X7 [EXT] Kuiper one-sample V"
    ),
    "hodges_ajne_test": QuerySpec(
        q_hodges_ajne_test, _ORACLE_HODGES_AJNE, "X7 [EXT] Hodges-Ajne"
    ),
    "rao_spacing_test": QuerySpec(
        q_rao_spacing_test, _ORACLE_RAO, "X7 [EXT] Rao spacing"
    ),
    "greenwood_spacing_stat": QuerySpec(
        q_greenwood_spacing_stat, _ORACLE_GREENWOOD, "X7 [EXT] Greenwood"
    ),
}
